package graft.engine

import java.io.FileNotFoundException
import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Table registration helpers, mirroring the reference's table providers
  * (`/root/reference/src/lib.rs:796-828` in-memory registration and
  * `/root/reference/tpc/src/main.rs:198-224` parquet auto-registration):
  * each `<name>.parquet` under a scale-factor directory becomes a view.
  *
  * Scale posture: `spark.read.parquet` is a distributed, splittable scan —
  * at 100 TB these would be multi-file partitioned datasets and the same
  * code holds (Spark plans one task per row-group/split; filters and
  * column pruning are pushed to the parquet reader).
  *
  * Read contract: every read goes through [[parquetSchema]]. The first
  * read of a path infers its schema (Spark runs a one-task job over the
  * footer); a repeat read reuses that schema and launches no job; a
  * rewritten file, or a changed parquet setting of the session, infers
  * again. Only the schema is kept, never a frame or a plan, so every
  * read still gets fresh attribute ids and a self-join resolves.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Read one table of the testdata star schema.
    *
    * `events.ts` has drifted between parquet encodings across testdata
    * generations (TIMESTAMP(NANOS) first, then TIMESTAMP(MICROS)); query
    * code must never care, so the contract is normalized HERE, at the
    * single read choke point: `ts` is ALWAYS epoch-nanos LongType after
    * this call. See [[normalizeEventTs]]. */
  def t(spark: SparkSession, dir: String, name: String): DataFrame = {
    if (name == "events") {
      // ns-encoded files: Spark 4 rejects TIMESTAMP(NANOS) unless read
      // as raw int64 via the legacy conf (then ts arrives as LongType).
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      // µs/ms-encoded files arrive as timestamps; their epoch conversion
      // must be wall-clock-naive like DuckDB's epoch_us, which needs a
      // UTC session. Fail loudly rather than silently overriding a
      // caller's deliberate non-UTC session for everything after us.
      requireUtcSession(spark)
      normalizeEventTs(readParquet(spark, s"$dir/$name.parquet"))
    } else readParquet(spark, s"$dir/$name.parquet")
  }

  private def readParquet(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(parquetSchema(spark, path)).parquet(path)

  /** A path's schema, the data files it was inferred from (name, length,
    * modification time) and the session's parquet settings at the time. */
  private final case class SchemaEntry(
      files: Seq[(String, Long, Long)], settings: Seq[(String, String)], schema: StructType)

  /** One entry per qualified path: a mismatch replaces it, so the map
    * holds one small schema per distinct path the JVM has read. */
  private val schemas = new ConcurrentHashMap[String, SchemaEntry]()

  /** The schema Spark infers for a parquet file or directory, inferred
    * once per (data files, parquet settings) and reused after that. Every
    * set session conf whose name contains `parquet` counts as a setting,
    * which covers `binaryAsString`, `inferTimestampNTZ` and the
    * `nanosAsLong` that [[t]] sets for events. A missing path is left to
    * Spark, which raises its usual error. */
  private[graft] def parquetSchema(spark: SparkSession, path: String): StructType = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val key = fs.makeQualified(p).toString
    val files = try Some(leafFiles(fs, p)) catch { case _: FileNotFoundException => None }
    val settings = spark.conf.getAll.filter(_._1.contains("parquet")).toSeq.sorted
    val hit = Option(schemas.get(key))
      .filter(e => files.contains(e.files) && e.settings == settings)
    hit.map(_.schema).getOrElse {
      val schema = spark.read.parquet(path).schema
      files.foreach(f => schemas.put(key, SchemaEntry(f, settings, schema)))
      schema
    }
  }

  /** A file's own status, or every file under a directory. */
  private def leafFiles(fs: FileSystem, p: Path): Seq[(String, Long, Long)] = {
    val it = fs.listFiles(p, true)
    val out = Seq.newBuilder[(String, Long, Long)]
    while (it.hasNext) {
      val f = it.next()
      out += ((f.getPath.toString, f.getLen, f.getModificationTime))
    }
    out.result().sorted
  }

  /** Normalize an events frame so `ts` is epoch-nanos LongType no matter
    * how the parquet file encoded it:
    *   - LongType          → already epoch-nanos (ns file + nanosAsLong)
    *   - Timestamp(_NTZ)   → µs since epoch × 1000 (under the UTC session
    *     timezone a naive timestamp's epoch µs equal DuckDB's epoch_us)
    * Downstream code can then treat `ts` as int64 nanoseconds forever;
    * a future resolution drift lands here, not in every query.
    *
    * The NTZ→Timestamp cast resolves the session timezone at EXECUTION
    * time, so the conversion is only correct under a UTC session — every
    * entry point ([[t]], `EventsStreaming.eventsStream`) pins it, and
    * this asserts it so a caller that later changes the session timezone
    * fails loudly instead of silently skewing every µs-encoded ts. */
  /** The events ts contract is only wall-clock-correct under a UTC
    * session; every entry point configures UTC in its session builder.
    * A non-UTC session fails HERE, loudly, instead of being silently
    * overridden (a `conf.set` would retroactively change timestamp
    * semantics for everything else the caller runs afterwards). */
  private[graft] def requireUtcSession(spark: SparkSession): Unit = {
    val tz = spark.conf.get("spark.sql.session.timeZone")
    require(tz == "UTC",
      s"events requires a UTC session timezone, found '$tz' — set " +
        "spark.sql.session.timeZone=UTC in the session builder (all graft " +
        "entry points do); refusing to mutate the caller's session")
  }

  def normalizeEventTs(df: DataFrame): DataFrame =
    df.schema.fields.find(_.name == "ts").map(_.dataType) match {
      case Some(LongType) | None => df
      case Some(TimestampType) | Some(TimestampNTZType) =>
        val tz = df.sparkSession.conf.get("spark.sql.session.timeZone")
        require(tz == "UTC",
          s"events.ts is timestamp-encoded and the session timezone is '$tz': " +
            "the epoch conversion is only wall-clock-correct under UTC — read " +
            "events through Tables.t / EventsStreaming.eventsStream, which pin it")
        df.withColumn("ts", unix_micros(col("ts").cast(TimestampType)) * lit(1000L))
      case Some(other) =>
        throw new IllegalStateException(s"events.ts has unsupported type $other")
    }

  /** Register every table as a temp view (idempotent), like the
    * reference's `register_parquet` loop. Returns the session. */
  def registerAll(spark: SparkSession, dir: String): SparkSession = {
    names.foreach(n => t(spark, dir, n).createOrReplaceTempView(n))
    spark
  }
}
