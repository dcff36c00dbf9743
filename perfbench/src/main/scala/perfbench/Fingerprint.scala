package perfbench

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.Row

/** An order-independent fingerprint of a query result: the row count and
  * the sum (mod 2^64) of a 64-bit hash of each row. A row is hashed as its
  * values in column-name order, each written in a canonical form that
  * `perfbench/fingerprint.py` reproduces for DuckDB results, so the two
  * engines' answers compare exactly. Floating-point values are compared by
  * their IEEE bits. */
object Fingerprint {
  final case class Print(rows: Long, hash: String)

  def canon(v: Any): String = v match {
    case null => "\\N"
    case b: Boolean => if (b) "t" else "f"
    case x: Byte => x.toString
    case x: Short => x.toString
    case x: Int => x.toString
    case x: Long => x.toString
    case x: java.math.BigInteger => x.toString
    case x: BigInt => x.toString
    case f: Float => canon(f.toDouble)
    case d: Double =>
      if (d.isNaN) "nan"
      else java.lang.Long.toHexString(java.lang.Double.doubleToLongBits(if (d == 0.0) 0.0 else d))
    case d: java.math.BigDecimal => d.stripTrailingZeros.toPlainString
    case d: BigDecimal => canon(d.bigDecimal)
    case s: String => s
    case r: Row => r.toSeq.map(canon).mkString("{", ",", "}")
    case xs: scala.collection.Seq[_] => xs.map(canon).mkString("[", ",", "]")
    case other => other.toString
  }

  def rowHash(values: Seq[Any]): Long = {
    val d = MessageDigest.getInstance("MD5")
      .digest(values.map(canon).mkString("\u001f").getBytes(StandardCharsets.UTF_8))
    d.take(8).foldLeft(0L)((acc, b) => (acc << 8) | (b & 0xffL))
  }

  def of(columns: Seq[String], rows: Seq[Row]): Print = {
    val order = columns.zipWithIndex.sortBy(_._1).map(_._2)
    val sum = rows.foldLeft(0L)((acc, r) => acc + rowHash(order.map(r.get)))
    Print(rows.length.toLong, java.lang.Long.toHexString(sum))
  }
}
