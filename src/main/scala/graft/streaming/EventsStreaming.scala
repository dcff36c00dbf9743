package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.Tables

/** Structured Streaming surface over the events table.
  *
  * The reference's "StreamingTable" is a pull-based static source
  * (`/root/reference/src/lib.rs:830-852`, ExecutionMode::Bounded) — it
  * never exercises real unbounded streams. We go further: the same
  * windowed aggregation runs as a genuine Structured Streaming query
  * (file source → watermark → windowed agg → sink), which at scale is
  * the kafka/files-in-object-store ingestion path with bounded state
  * (the watermark expires old windows).
  */
object EventsStreaming {

  /** Streaming source for the events table with the SAME ts contract as
    * batch ([[Tables.t]]): `ts` is ALWAYS epoch-nanos LongType after
    * this call, no matter how the parquet file encoded it
    * (TIMESTAMP(NANOS)-as-int64 vs TIMESTAMP(MICROS) — the testdata has
    * drifted between the two across generations). The file source needs
    * an explicit schema, so we take the file's schema from
    * [[Tables.parquetSchema]] (no data scanned) and then apply the identical
    * [[Tables.normalizeEventTs]] projection on the stream — one choke
    * point, two execution modes. */
  def eventsStream(spark: SparkSession, dir: String): DataFrame = {
    // ns-encoded files: Spark 4 rejects TIMESTAMP(NANOS) unless read as
    // raw int64; µs-encoded NTZ files need a UTC session for epoch math
    // — fail loudly (like Tables.t) instead of silently overriding a
    // caller's non-UTC session for everything that runs afterwards.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    Tables.requireUtcSession(spark)
    val fileSchema = Tables.parquetSchema(spark, s"$dir/events.parquet")
    Tables.normalizeEventTs(
      spark.readStream
        .schema(fileSchema)
        .option("pathGlobFilter", "events.parquet") // the file source wants a dir
        .parquet(dir))
  }

  /** Hourly windowed counts/sums per event type with a 1-hour watermark. */
  def hourlyAgg(spark: SparkSession, dir: String): DataFrame = {
    eventsStream(spark, dir)
      .withColumn("event_ts", timestamp_micros(expr("ts div 1000")))
      .withWatermark("event_ts", "1 hour")
      .groupBy(window(col("event_ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total_value"))
      .select(unix_timestamp(col("window.start")).as("hour_ts"),
        col("event_type"), col("n"), col("total_value"))
  }

  /** One emitted session (flatMapGroupsWithState output). */
  case class SessionOut(user_id: Long, session_start_us: Long, n_events: Int, duration_s: Long)

  case class Ev(user_id: Long, event_id: Long, tus: Long)

  /** Custom stateful streaming: gap-based sessionization per user via
    * flatMapGroupsWithState (the `KeyValueGroupedDataset` custom-state
    * surface). This demo variant deliberately flushes every session at
    * the batch boundary and keeps no GroupState — correct for the
    * static fixture arriving as one micro-batch (PipelineSpec asserts
    * equality with `e3_sessions`), but a session spanning micro-batches
    * would be split. A production variant must carry the open trailing
    * session in GroupState and flush it via a timeout. */
  def sessionizeStream(spark: SparkSession, dir: String, name: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode, GroupState}
    val gapUs = 1800000000L
    val q = eventsStream(spark, dir)
      .selectExpr("user_id", "event_id", "ts div 1000 AS tus")
      .as[Ev]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, events: Iterator[Ev], _: GroupState[Long]) =>
          val sorted = events.toIndexedSeq.sortBy(e => (e.tus, e.event_id))
          if (sorted.isEmpty) Iterator.empty
          else {
            val sessions = scala.collection.mutable.ArrayBuffer[SessionOut]()
            var start = sorted.head.tus
            var last = sorted.head.tus
            var n = 1
            sorted.tail.foreach { e =>
              if (e.tus - last > gapUs) {
                sessions += SessionOut(uid, start, n, (last - start) / 1000000L)
                start = e.tus; n = 0
              }
              last = e.tus; n += 1
            }
            sessions += SessionOut(uid, start, n, (last - start) / 1000000L)
            sessions.iterator
          }
      }
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName(name)
      .start()
    q.processAllAvailable()
    q.stop()
    spark.table(name)
  }

  /** Open-session state carried across micro-batches (epoch-µs). */
  case class SessionState(start: Long, last: Long, n: Int)

  /** Production stateful sessionization: unlike [[sessionizeStream]]
    * (which flushes every session at the batch boundary — correct only
    * for a one-batch static fixture), this variant carries the open
    * trailing session per user in `GroupState` and closes it either
    * when a later event arrives past the gap or when the EVENT-TIME
    * timeout fires (watermark passes `last + gap`) — so a session
    * spanning micro-batches is emitted ONCE, stitched, which is the
    * semantics an unbounded ingest pipeline needs. State is one
    * (start, last, n) triple per ACTIVE user — bounded by the timeout
    * eviction, the at-scale requirement. Sessions still open when the
    * watermark hasn't reached their timeout remain in state (they are
    * not yet decidable); callers draining a finite fixture see them
    * flushed by Spark's no-data micro-batch once the watermark
    * advances past them. */
  def sessionizeStreamStateful(
      spark: SparkSession, dir: String, name: String,
      gapUs: Long = 1800000000L, watermarkDelay: String = "1 hour",
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val src = maxFilesPerTrigger.fold(eventsStream(spark, dir)) { n =>
      // trigger-capped source over ALL parquet files in the dir (test
      // hook: forces a multi-file fixture through one-file-per-batch
      // micro-batches to exercise cross-batch session stitching)
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      Tables.requireUtcSession(spark)
      Tables.normalizeEventTs(
        spark.readStream
          .schema(Tables.parquetSchema(spark, dir))
          .option("maxFilesPerTrigger", n)
          .parquet(dir))
    }
    val q = statefulSessions(src, gapUs, watermarkDelay)
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName(name)
      .start()
    q.processAllAvailable()
    q.stop()
    spark.table(name)
  }

  /** The core stateful-sessionization transform of
    * [[sessionizeStreamStateful]], exposed so callers (and the
    * checkpoint-recovery test) can attach their own fault-tolerant sink
    * + durable `checkpointLocation` and control start/stop/restart —
    * the exactly-once resumption path a production deployment runs.
    * `src` must carry the normalized `ts` (epoch-nanos long) contract
    * of [[eventsStream]]. */
  def statefulSessions(
      src: DataFrame, gapUs: Long = 1800000000L,
      watermarkDelay: String = "1 hour"): org.apache.spark.sql.Dataset[SessionOut] = {
    val spark = src.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode, GroupState}
    src
      .selectExpr("user_id", "event_id", "ts div 1000 AS tus",
        "timestamp_micros(ts div 1000) AS event_ts")
      .withWatermark("event_ts", watermarkDelay)
      .as[EvT]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, events: Iterator[EvT], state: GroupState[SessionState]) =>
          if (!events.hasNext && state.hasTimedOut) {
            // watermark passed last+gap: the open session is final
            val s = state.get
            state.remove()
            Iterator.single(SessionOut(uid, s.start, s.n, (s.last - s.start) / 1000000L))
          } else {
            val sorted = events.toIndexedSeq.sortBy(e => (e.tus, e.event_id))
            val closed = scala.collection.mutable.ArrayBuffer[SessionOut]()
            var cur = state.getOption
            sorted.foreach { e =>
              cur = cur match {
                case Some(s) if e.tus - s.last > gapUs =>
                  closed += SessionOut(uid, s.start, s.n, (s.last - s.start) / 1000000L)
                  Some(SessionState(e.tus, e.tus, 1))
                case Some(s) =>
                  // a LATE event (admitted because it beat the watermark)
                  // may sort before the open session's bounds: fold it in
                  // without rewinding `last` (a rewind would spuriously
                  // split on the next in-order event and could produce
                  // negative durations). This is the standard stateful
                  // approximation — a late event always joins the OPEN
                  // session; re-splitting history would need the batch op.
                  Some(SessionState(math.min(s.start, e.tus), math.max(s.last, e.tus), s.n + 1))
                case None => Some(SessionState(e.tus, e.tus, 1))
              }
            }
            cur.foreach { s =>
              state.update(s)
              // event-time timeout at last+gap (ms); clamped above the
              // current watermark, which Spark requires
              val t = s.last / 1000L + gapUs / 1000L
              state.setTimeoutTimestamp(math.max(t, state.getCurrentWatermarkMs() + 1))
            }
            closed.iterator
          }
      }
  }

  case class EvT(user_id: Long, event_id: Long, tus: Long, event_ts: java.sql.Timestamp)

  /** Streaming deduplication — the ingest-side dedup a training
    * pipeline runs before anything else: dropDuplicates on the event
    * key over the stream. NB: with the event-time column absent from
    * the dedup keys, state for these keys is retained indefinitely
    * (fine for a bounded key domain like user×type); for unbounded
    * keys use dropDuplicatesWithinWatermark, which evicts by
    * watermark. */
  def dedupStream(spark: SparkSession, dir: String, name: String): DataFrame = {
    val q = eventsStream(spark, dir)
      .selectExpr("user_id", "event_type", "timestamp_micros(ts div 1000) AS event_ts")
      .withWatermark("event_ts", "1 hour")
      .dropDuplicates("user_id", "event_type")
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName(name)
      .start()
    q.processAllAvailable()
    q.stop()
    spark.table(name)
  }

  /** Bounded-state streaming dedup for UNBOUNDED key domains — the
    * variant [[dedupStream]]'s scaladoc points at: event-id dedup on an
    * infinite ingest stream cannot retain every key forever, so
    * `dropDuplicatesWithinWatermark` keeps a key's state only until the
    * watermark passes its event time + the delay, after which the key
    * is evicted — duplicates arriving within the watermark window are
    * dropped, state stays O(events-per-window), and a duplicate older
    * than the window is by definition outside the stream's lateness
    * contract. This is the 100 TB ingest-dedup posture (exact dedup of
    * the full corpus is the batch operator [[graft.operators.TextDedup]]). */
  def dedupStreamBounded(spark: SparkSession, dir: String, name: String): DataFrame = {
    val q = eventsStream(spark, dir)
      .selectExpr("event_id", "user_id", "event_type",
        "timestamp_micros(ts div 1000) AS event_ts")
      .withWatermark("event_ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName(name)
      .start()
    q.processAllAvailable()
    q.stop()
    spark.table(name)
  }

  /** Stream-stream inner join with an event-time range constraint: each
    * purchase joins the clicks of the same user from the preceding
    * 30 minutes (attribution). Both sides carry watermarks, and the
    * range predicate bounds the buffered state — Spark evicts a side's
    * rows once the other side's watermark passes the constraint, which
    * is exactly the posture an unbounded two-stream join needs at
    * scale. Returns the memory-sink table. */
  def clickAttributionStream(spark: SparkSession, dir: String, name: String): DataFrame = {
    def side(tpe: String, pre: String): DataFrame = eventsStream(spark, dir)
      .filter(col("event_type") === tpe)
      .select(col("user_id").as(s"${pre}_user"),
        col("event_id").as(s"${pre}_id"),
        timestamp_micros(expr("ts div 1000")).as(s"${pre}_ts"))
      .withWatermark(s"${pre}_ts", "1 hour")
    val clicks = side("click", "c")
    val purchases = side("purchase", "p")
    val q = purchases.join(clicks,
        col("p_user") === col("c_user") &&
          col("c_ts") <= col("p_ts") &&
          col("c_ts") >= col("p_ts") - expr("INTERVAL 30 MINUTES"))
      .select(col("p_user").as("user_id"), col("p_id").as("purchase_id"),
        col("c_id").as("click_id"),
        (unix_timestamp(col("p_ts")) - unix_timestamp(col("c_ts"))).as("lag_s"))
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName(name)
      .start()
    q.processAllAvailable()
    q.stop()
    spark.table(name)
  }

  /** The batch formulation of [[clickAttributionStream]] — the equality
    * baseline for the stream-stream join test. */
  def clickAttributionBatch(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.t(spark, dir, "events")
    def side(tpe: String, pre: String): DataFrame = ev
      .filter(col("event_type") === tpe)
      .select(col("user_id").as(s"${pre}_user"),
        col("event_id").as(s"${pre}_id"),
        timestamp_micros(expr("ts div 1000")).as(s"${pre}_ts"))
    side("purchase", "p").join(side("click", "c"),
        col("p_user") === col("c_user") &&
          col("c_ts") <= col("p_ts") &&
          col("c_ts") >= col("p_ts") - expr("INTERVAL 30 MINUTES"))
      .select(col("p_user").as("user_id"), col("p_id").as("purchase_id"),
        col("c_id").as("click_id"),
        (unix_timestamp(col("p_ts")) - unix_timestamp(col("c_ts"))).as("lag_s"))
  }

  /** Run the streaming query to completion against the static fixture
    * (memory sink, complete mode) and return the materialized result —
    * used by tests to prove batch/stream agreement. */
  def runToCompletion(spark: SparkSession, dir: String, name: String): DataFrame = {
    val q = hourlyAgg(spark, dir)
      .writeStream
      .outputMode("complete")
      .format("memory")
      .queryName(name)
      .start()
    q.processAllAvailable()
    q.stop()
    spark.table(name)
  }
}
