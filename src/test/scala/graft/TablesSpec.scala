package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.Tables

/** The read contract of [[Tables]]: the first read of a file infers its
  * schema, a repeat read reuses it and launches no job, and a rewritten
  * file or a changed parquet setting infers again. */
class TablesSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** Spark jobs started by `body`. Listener events arrive in order, so
    * once a marked job that runs after `body` is seen, every job `body`
    * started has been counted. */
  private def jobsDuring(body: => Unit): Int = {
    val jobs = new AtomicInteger(0)
    @volatile var markerSeen = false
    val listener = new SparkListener {
      override def onJobStart(start: SparkListenerJobStart): Unit =
        if (Option(start.properties).exists(_.getProperty("spark.job.description") == "marker"))
          markerSeen = true
        else if (!markerSeen) jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      spark.sparkContext.setJobDescription("marker")
      try spark.sparkContext.parallelize(Seq(1), 1).count()
      finally spark.sparkContext.setJobDescription(null)
      val deadline = System.nanoTime + 10000000000L
      while (!markerSeen && System.nanoTime < deadline) Thread.sleep(10)
      assert(markerSeen, "listener never saw the marker job")
      jobs.get()
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  private def newDir(tag: String): Path = Files.createTempDirectory(s"graft_tables_$tag")

  /** Write `df` as one bare parquet file at `dir/<name>.parquet`, the
    * testdata layout, replacing any file already there. */
  private def writeFile(df: DataFrame, dir: Path, name: String): Unit = {
    val tmp = Files.createTempDirectory(dir, "write")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val part = Files.list(tmp).filter(_.getFileName.toString.endsWith(".parquet"))
      .findFirst().orElseThrow()
    Files.move(part, dir.resolve(s"$name.parquet"),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  private def rows(d: DataFrame): Seq[String] =
    d.collect().map(_.toSeq.mkString("|")).toSeq.sorted

  test("a repeat read of one file starts no Spark job and returns an equal schema") {
    import spark.implicits._
    val dir = newDir("repeat")
    writeFile(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), dir, "tbl")
    var first: StructType = null
    var second: StructType = null
    val firstJobs = jobsDuring { first = Tables.t(spark, dir.toString, "tbl").schema }
    assert(firstJobs >= 1, "the first read infers the schema with a Spark job")
    val secondJobs = jobsDuring { second = Tables.t(spark, dir.toString, "tbl").schema }
    assert(secondJobs == 0, s"a repeat read started $secondJobs job(s)")
    assert(first == second)
    assert(second == spark.read.parquet(s"$dir/tbl.parquet").schema)
    assert(rows(Tables.t(spark, dir.toString, "tbl")) == Seq("1|a", "2|b"))
  }

  test("a self-join of two reads of one table equals the uncached answer") {
    import spark.implicits._
    val dir = newDir("selfjoin")
    writeFile((1 to 50).map(i => (i.toLong, i % 7)).toDF("p_partkey", "p_size"), dir, "part")
    def selfJoin(a: DataFrame, b: DataFrame): DataFrame =
      a.join(b, a("p_partkey") === b("p_partkey") + 1)
        .select(a("p_partkey"), b("p_partkey").as("prev"), a("p_size"), b("p_size"))
    val cached = selfJoin(Tables.t(spark, dir.toString, "part"), Tables.t(spark, dir.toString, "part"))
    val plain = selfJoin(spark.read.parquet(s"$dir/part.parquet"),
      spark.read.parquet(s"$dir/part.parquet"))
    val got = rows(cached)
    assert(got.size == 49)
    assert(got == rows(plain))
  }

  test("a file rewritten at the same path with another schema is seen on the next read") {
    import spark.implicits._
    val dir = newDir("rewrite")
    writeFile(Seq((1L, "a")).toDF("k", "v"), dir, "tbl")
    assert(Tables.t(spark, dir.toString, "tbl").columns.toSeq == Seq("k", "v"))
    writeFile(Seq((1, 2.5, true)).toDF("x", "y", "z"), dir, "tbl")
    val after = Tables.t(spark, dir.toString, "tbl")
    assert(after.schema == spark.read.parquet(s"$dir/tbl.parquet").schema)
    assert(after.columns.toSeq == Seq("x", "y", "z"))
    assert(rows(after) == Seq("1|2.5|true"))
  }

  test("a changed parquet setting infers again: binary, then binaryAsString") {
    import spark.implicits._
    // written with parquet's own writer: a Spark-written file carries its
    // Spark schema in the footer, which inference prefers to the setting
    val dir = newDir("binary")
    val schema = MessageTypeParser.parseMessageType(
      "message tbl { required int64 k; required binary b; }")
    val writer = ExampleParquetWriter.builder(new HPath(s"$dir/tbl.parquet"))
      .withType(schema).withConf(spark.sparkContext.hadoopConfiguration).build()
    try writer.write(new SimpleGroupFactory(schema).newGroup().append("k", 1L).append("b", "abc"))
    finally writer.close()
    val key = "spark.sql.parquet.binaryAsString"
    val old = spark.conf.getOption(key)
    try {
      spark.conf.set(key, "false")
      assert(Tables.t(spark, dir.toString, "tbl").schema("b").dataType == BinaryType)
      spark.conf.set(key, "true")
      val asString = Tables.t(spark, dir.toString, "tbl")
      assert(asString.schema("b").dataType == StringType)
      assert(asString.select("b").as[String].collect().toSeq == Seq("abc"))
    } finally old.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }
}
