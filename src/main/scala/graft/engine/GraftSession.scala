package graft.engine

import org.apache.spark.sql.SparkSession

/** Session factory mirroring the reference's `make_session_state_with_config`
  * (`/root/reference/src/parse_sql.rs:26-76`): parallelism knob
  * (= DataFusion `target_partitions` → `spark.sql.shuffle.partitions`),
  * deterministic UTC timezone, and the balance/skew story.
  *
  * The reference's `WorkStealingRepartitionExec`
  * (`/root/reference/src/operator/work_stealing_repartition_exec.rs:129-296`)
  * rebalances work between probe partitions at task granularity. Spark's
  * execution model has no intra-stage work stealing. AQE, enabled here,
  * coalesces small shuffle partitions and splits skewed ones, but its
  * skew split (`OptimizeSkewedJoin`, Spark 4.1.2) matches only
  * `SortMergeJoinExec` and `ShuffledHashJoinExec`: it balances Spark's own
  * joins and never splits a `ParallelHashJoinExec`. For that exec the
  * intent (no idle core behind a long tail) is not covered today: a shared
  * build's probe runs one task per probe-side partition (one for a file
  * of one row group), and a co-partitioned build's skewed partition stays
  * whole. ROADMAP item 1 holds the work.
  */
object GraftSession {
  def build(
      master: String = "local[*]",
      shufflePartitions: Int = 32,
      appName: String = "graft"): SparkSession = {
    val spark = SparkSession.builder()
      .master(master)
      .appName(appName)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // adaptive execution: coalescing, and skew splits of Spark's own
      // sort-merge and shuffled-hash joins (not of ParallelHashJoinExec)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
