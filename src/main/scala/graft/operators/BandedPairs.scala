package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** The banded candidate-pair stage of MinHash-LSH, written once for
  * `t6_minhash_lsh`, `t19_neardup_components`, `t26_incremental_dedup`,
  * [[TextDedup.minhashPairs]] and [[TextDedup.incrementalDedup]]: two
  * signature rows are a candidate pair when they share a band key, and
  * a candidate is confirmed by how many signature columns agree.
  *
  * Steps: [[bandKeys]] explodes a signature frame into one row per
  * (id, band key); [[selfPairs]] pairs ids within one frame;
  * [[crossPairs]] pairs two frames (a batch against a corpus);
  * [[agreement]] counts agreeing signature columns per pair. Each
  * caller keeps its own key columns and output scoring.
  *
  * Self pairs take one of two routes, picked by one size check, and
  * both return the same pairs:
  *   - At or below [[Graph.broadcastMaxRows]] signature rows, or for
  *     non-Long ids, the classic bucket self-join. The planner
  *     broadcasts it from the signature frame's size estimate. On t6 at
  *     sf0.1 it measured 0.85 s against 1.37 s for the expansion.
  *   - Above the cap, one shuffle on the band key: a capped collect
  *     gathers each bucket's ids and the pairs expand in place. The
  *     banded table is exchanged once instead of twice and the
  *     sort-merge join's sorts disappear. This wins at scale because a
  *     minhash band key is built from 61-bit hash minima, so a bucket is
  *     a true near-duplicate cluster and stays small at any corpus size.
  *     Narrow band keys are the opposite case: `simhashPairs`' 15-bit
  *     band values and `SimilaritySearch.bandedLshNearDupPairs`' 6-bit
  *     hyperplane bands fill every bucket as the corpus grows, so they
  *     keep the plain join.
  *
  * The bucket cap (conf `spark.graft.lsh.bucketCap`, default 4096) only
  * bounds memory: a bucket past it collects to NULL, and exactly those
  * keys run the classic self-join instead. No candidate is dropped. The
  * collect output is materialized by one eager checkpoint because it
  * has two consumers, the expansion and the over-cap key probe, which
  * would otherwise each recompute the aggregation.
  */
private[graft] object BandedPairs {

  /** Per-bucket member cap of the expansion route (conf
    * `spark.graft.lsh.bucketCap`, default 4096). A bucket with ≤ cap
    * members holds ≤ 16·cap bytes of aggregation buffer; 4096 bounds
    * one bucket's in-place expansion at C(4096,2) ≈ 8.4M rows, the same
    * order one sort-merge task would stream for that bucket anyway. */
  def bucketCap(spark: SparkSession): Int = {
    val key = "spark.graft.lsh.bucketCap"
    spark.conf.getOption(key) match {
      case None => 4096
      case Some(v) =>
        val n = try v.toInt catch {
          case _: NumberFormatException => throw new IllegalArgumentException(
            s"$key must be a positive integer, got '$v'")
        }
        if (n <= 0) throw new IllegalArgumentException(
          s"$key must be a positive integer, got '$v'")
        n
    }
  }

  /** `(idCol, bandCol, key fields…)`: one row per signature row and
    * band. Each of `bands` is a struct; `bandCol` is its position and
    * its fields become the remaining key columns. */
  def bandKeys(sig: DataFrame, idCol: String, bandCol: String, bands: Seq[Column]): DataFrame =
    sig.select(col(idCol), posexplode(array(bands: _*)).as(Seq(bandCol, "__bv")))
      .select(col(idCol), col(bandCol), col("__bv.*"))

  /** Distinct `(aCol, bCol)` id pairs with `aCol < bCol` that share a
    * band key of `sig` (see [[bandKeys]]); the route is chosen as the
    * object doc describes. */
  def selfPairs(
      sig: DataFrame,
      idCol: String,
      bandCol: String,
      bands: Seq[Column],
      aCol: String,
      bCol: String): DataFrame = {
    val spark = sig.sparkSession
    val keys = bandKeys(sig, idCol, bandCol, bands)
    val kc = keyCols(keys, idCol)
    val expand = sig.schema(idCol).dataType == LongType &&
      sig.count() > Graph.broadcastMaxRows(spark)
    val pairs =
      if (!expand) bucketJoin(keys, keys, idCol, kc, aCol, bCol, ordered = true)
      else {
        val sets = Checkpoints.cut(
          keys.groupBy(kc.map(col): _*)
            .agg(graft.functions.CappedLongCollectList
              .cappedCollectList(col(idCol), bucketCap(spark))(spark).as("__m")),
          eager = true)
        val small = sets.filter(col("__m").isNotNull && size(col("__m")) >= 2)
          .select(explode(expr(
            """flatten(transform(sequence(0, size(__m) - 2),
              |  i -> transform(sequence(i + 1, size(__m) - 1),
              |    j -> struct(least(__m[i], __m[j]) AS a,
              |                greatest(__m[i], __m[j]) AS b))))""".stripMargin))
            .as("__p"))
          .select(col("__p.a").as(aCol), col("__p.b").as(bCol))
          // a repeated id in one bucket would pair with itself; the
          // join's strict `<` never emits (x, x)
          .filter(col(aCol) < col(bCol))
        val overKeys = sets.filter(col("__m").isNull).select(kc.map(col): _*)
        if (overKeys.isEmpty) small
        else {
          val over = keys.join(overKeys, kc, "left_semi")
          small.unionByName(bucketJoin(over, over, idCol, kc, aCol, bCol, ordered = true))
        }
      }
    pairs.distinct()
  }

  /** Distinct `(aCol, bCol)` pairs of a `left` id and a `right` id that
    * share a band key; both sides are [[bandKeys]] frames. */
  def crossPairs(
      left: DataFrame,
      right: DataFrame,
      idCol: String,
      aCol: String,
      bCol: String): DataFrame =
    bucketJoin(left, right, idCol, keyCols(left, idCol), aCol, bCol, ordered = false)
      .distinct()

  /** `(aCol, bCol, agree)`: each pair joined to its `left` and `right`
    * signatures, `agree` counting the `hashCols` on which they match. */
  def agreement(
      pairs: DataFrame,
      left: DataFrame,
      right: DataFrame,
      idCol: String,
      hashCols: Seq[String],
      aCol: String,
      bCol: String): DataFrame = {
    val sa = left.select(col(idCol).as(aCol) +:
      hashCols.zipWithIndex.map { case (h, i) => col(h).as(s"__x$i") }: _*)
    val sb = right.select(col(idCol).as(bCol) +:
      hashCols.zipWithIndex.map { case (h, i) => col(h).as(s"__y$i") }: _*)
    val agree = hashCols.indices.map(i =>
      when(col(s"__x$i") === col(s"__y$i"), 1).otherwise(0)).reduce(_ + _)
    pairs.join(sa, aCol).join(sb, bCol)
      .select(col(aCol), col(bCol), agree.as("agree"))
  }

  private def keyCols(keys: DataFrame, idCol: String): Seq[String] =
    keys.columns.toSeq.filterNot(_ == idCol)

  /** Equi-join of two band-key frames on `kc`; `ordered` keeps only
    * `aCol < bCol` (the self-pair orientation). */
  private def bucketJoin(
      left: DataFrame,
      right: DataFrame,
      idCol: String,
      kc: Seq[String],
      aCol: String,
      bCol: String,
      ordered: Boolean): DataFrame = {
    val l = left.select(kc.map(col) :+ col(idCol).as(aCol): _*)
    val r = right.select(kc.map(c => col(c).as(c + "2")) :+ col(idCol).as(bCol): _*)
    val on = kc.map(c => col(c) === col(c + "2")).reduce(_ && _)
    l.join(r, if (ordered) on && col(aCol) < col(bCol) else on).select(aCol, bCol)
  }
}
