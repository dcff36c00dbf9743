package graft.engine

import org.apache.spark.sql.SparkSession

/** The one session factory: `graft.Bench`, `graft.Verify` and `perfbench`
  * build their sessions here, so the oracle gate runs the settings that
  * users and the benchmark get. It mirrors the reference's
  * `make_session_state_with_config` (its `src/parse_sql.rs:26-76`).
  * What it sets, and why:
  *
  *  - `spark.sql.shuffle.partitions` = `shufflePartitions`: DataFusion's
  *    `target_partitions`, the parallelism every stage starts from.
  *  - `spark.sql.session.timeZone` = UTC: deterministic dates and
  *    timestamps; `Tables` requires it for `events.ts`.
  *  - `spark.ui.enabled` = false: no web UI for a library session.
  *  - `spark.sql.adaptive.enabled`, `.coalescePartitions.enabled` and
  *    `.skewJoin.enabled` = true (Spark's defaults, stated so the gate
  *    cannot drift from them): AQE merges small shuffle partitions and
  *    splits skewed partitions of Spark's own sort-merge and
  *    shuffled-hash joins.
  *  - `spark.sql.optimizer.canChangeCachedPlanOutputPartitioning` = true
  *    (off by default in Spark 4.1): lets AQE coalesce the plan that fills
  *    a `persist()`. Off, every later scan of that cache runs all
  *    `shufflePartitions` tasks, however few rows it holds; a t26 run read
  *    its persisted signatures in four stages of 32 tasks that each did
  *    40–60 ms of work in 170–300 ms of wall time.
  *
  * The reference's `WorkStealingRepartitionExec`
  * (its `src/operator/work_stealing_repartition_exec.rs:129-296`)
  * rebalances work between probe partitions at task granularity. Spark's
  * execution model has no intra-stage work stealing, and AQE's skew split
  * (`OptimizeSkewedJoin`, Spark 4.1.2) matches only `SortMergeJoinExec`
  * and `ShuffledHashJoinExec`: it never splits a `ParallelHashJoinExec`.
  * For that exec the intent (no idle core behind a long tail) is not
  * covered: a shared build's probe runs one task per probe-side partition
  * (one for a file of one row group), and a co-partitioned build's skewed
  * partition stays whole. The text expansions cover it for their own
  * stage (`TextDedup.shingleRows`). ROADMAP item 1 holds the rest.
  */
object GraftSession {
  /** The session settings listed above, for `shufflePartitions`. */
  def settings(shufflePartitions: Int): Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> shufflePartitions.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false",
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
    "spark.sql.adaptive.skewJoin.enabled" -> "true",
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true")

  def build(
      master: String = "local[*]",
      shufflePartitions: Int = 32,
      appName: String = "graft"): SparkSession = {
    val spark = settings(shufflePartitions)
      .foldLeft(SparkSession.builder().master(master).appName(appName)) {
        case (b, (k, v)) => b.config(k, v)
      }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
