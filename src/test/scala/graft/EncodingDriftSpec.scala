package graft

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.Tables
import graft.queries.CoreQueries
import graft.streaming.EventsStreaming

/** Regression gate for the events.ts parquet-encoding drift (the class
  * of bug that broke the e* oracle queries in round 7 and the streaming
  * path in round 8): the testdata generator has emitted `ts` both as
  * TIMESTAMP(NANOS) (arrives as raw int64 epoch-nanos under
  * `nanosAsLong`) and as TIMESTAMP(MICROS) NTZ. The contract
  * ([[Tables.normalizeEventTs]]) is that EVERY entry point — batch
  * ([[Tables.t]]) and streaming ([[EventsStreaming.eventsStream]]) —
  * normalizes to epoch-nanos int64 before any query logic runs.
  *
  * This spec writes the SAME logical fixture in both encodings and
  * asserts the batch e1 aggregation and the streaming hourly
  * aggregation each return byte-identical results over the two files,
  * and that the hour buckets land in the fixture's real epoch decade
  * (the round-8 failure signature was 1970-era buckets, 1000x too
  * small). A future third encoding lands in normalizeEventTs's
  * exhaustive match, which throws on anything it doesn't know.
  */
class EncodingDriftSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  // 2024-01-15T00:00:00Z in epoch micros; rows span 3 hours, 2 types.
  private val baseUs = 1705276800000000L
  private val rows: Seq[(Long, Long, Long, String, Double)] = (0 until 240).map { i =>
    (i.toLong, baseUs + i * 45000000L, (i % 7).toLong,
      if (i % 3 == 0) "purchase" else "click", (i % 11) * 1.25)
  }

  /** Write the fixture as a single `events.parquet` FILE (the testdata
    * layout: one bare file per table, not a directory) with `ts` in the
    * given encoding. */
  private def writeFixture(encoding: String): String = {
    import spark.implicits._
    val dir = Files.createTempDirectory(s"graft_drift_$encoding")
    val df0 = rows.toDF("event_id", "us", "user_id", "event_type", "value")
      .withColumn("props", concat(lit("{\"i\":"), col("event_id"), lit("}")))
    val df = encoding match {
      // what a TIMESTAMP(NANOS) file looks like to the reader under
      // nanosAsLong: a raw int64 epoch-nanos column
      case "nanos_as_long" => df0.withColumn("ts", col("us") * lit(1000L))
      // a real TIMESTAMP(MICROS) NTZ column, as the current generator emits
      case "micros_ntz" =>
        df0.withColumn("ts", timestamp_micros(col("us")).cast(TimestampNTZType))
    }
    val out = df.select("event_id", "ts", "user_id", "event_type", "value", "props")
    val tmp = dir.resolve("tmp_write")
    out.coalesce(1).write.parquet(tmp.toString)
    val part = Files.list(tmp).filter(_.getFileName.toString.endsWith(".parquet"))
      .findFirst().orElseThrow()
    Files.move(part, dir.resolve("events.parquet"))
    dir.toString
  }

  private def canon(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map(String.valueOf).mkString("|")).toSeq.sorted

  test("batch e1 is identical across ts encodings and lands in the right decade") {
    val longDir = writeFixture("nanos_as_long")
    val usDir = writeFixture("micros_ntz")
    // the normalized contract itself: epoch-nanos longs either way
    Seq(longDir, usDir).foreach { d =>
      val ts = Tables.t(spark, d, "events")
      assert(ts.schema("ts").dataType == LongType, s"$d: ts not int64 after Tables.t")
    }
    val a = canon(CoreQueries.e1Hourly.fn(spark, longDir))
    val b = canon(CoreQueries.e1Hourly.fn(spark, usDir))
    assert(a == b, s"batch e1 differs across encodings:\n$a\nvs\n$b")
    val hours = CoreQueries.e1Hourly.fn(spark, longDir)
      .select("hour_ts").collect().map(_.getLong(0))
    assert(hours.forall(h => h >= baseUs / 1000000L - 3600 && h <= baseUs / 1000000L + 5 * 3600),
      s"hour buckets outside the fixture's epoch window (1970-drift signature): ${hours.toSeq}")
  }

  test("events stay normalized after a non-events read filled the schema cache") {
    // a non-events table and a plain schema read of each fixture file,
    // with nanosAsLong unset, fill the cache under other parquet
    // settings; the events reads after them must still normalize ts and
    // give the same e1 answer
    val longDir = writeFixture("nanos_as_long")
    val usDir = writeFixture("micros_ntz")
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val old = spark.conf.getOption(key)
    try {
      spark.conf.unset(key)
      spark.range(3).write.parquet(s"$longDir/other.parquet")
      Tables.t(spark, longDir, "other").schema
      Seq(longDir, usDir).foreach(d => Tables.parquetSchema(spark, s"$d/events.parquet"))
      Seq(longDir, usDir).foreach { d =>
        assert(Tables.t(spark, d, "events").schema("ts").dataType == LongType,
          s"$d: ts not int64 after Tables.t")
      }
      assert(canon(CoreQueries.e1Hourly.fn(spark, longDir)) ==
        canon(CoreQueries.e1Hourly.fn(spark, usDir)))
    } finally old.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("timestamp-encoded ts under a non-UTC session fails loudly, not silently skewed") {
    val usDir = writeFixture("micros_ntz")
    val prevTz = spark.conf.get("spark.sql.session.timeZone")
    try {
      spark.conf.set("spark.sql.session.timeZone", "America/New_York")
      val raw = spark.read.parquet(s"$usDir/events.parquet")
      val e = intercept[IllegalArgumentException](Tables.normalizeEventTs(raw))
      assert(e.getMessage.contains("UTC"))
    } finally spark.conf.set("spark.sql.session.timeZone", prevTz)
  }

  test("streaming hourly agg is identical across ts encodings and matches batch") {
    val longDir = writeFixture("nanos_as_long")
    val usDir = writeFixture("micros_ntz")
    val a = canon(EventsStreaming.runToCompletion(spark, longDir, "drift_stream_long"))
    val b = canon(EventsStreaming.runToCompletion(spark, usDir, "drift_stream_us"))
    assert(a == b, s"streaming hourly agg differs across encodings:\n$a\nvs\n$b")
    // and streaming agrees with batch on the shared columns
    val batch = canon(CoreQueries.e1Hourly.fn(spark, usDir)
      .select("hour_ts", "event_type", "n"))
    val stream = canon(EventsStreaming.runToCompletion(spark, usDir, "drift_stream_cmp")
      .select("hour_ts", "event_type", "n"))
    assert(batch == stream, s"streaming vs batch mismatch:\n$batch\nvs\n$stream")
  }
}
