package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Skewed-join benchmark derived from the reference's exponential-
  * distribution bench (`/root/reference/benches/
  * exponential_distribution.rs:39-75`; id skew `y = (16^x - 1)/15`,
  * reference `src/api_utils.rs:15-23`), comparing two answers to a
  * hot key on Spark's own sort-merge join: AQE skew-join splitting and
  * explicit [[graft.operators.SaltedJoin]]. Neither stands in for the
  * reference's `WorkStealingRepartitionExec` (SURVEY O18) on the graft
  * join: AQE's skew split (`OptimizeSkewedJoin`) matches only
  * `SortMergeJoinExec` and `ShuffledHashJoinExec`, never
  * `ParallelHashJoinExec`; ROADMAP item 1 holds that gap.
  *
  * The fact keys are the reference curve PLUS a single mega-hot key
  * carrying 40% of all rows. The curve alone varies key DENSITY ~16×,
  * but hash partitioning mixes ~1.5k keys into every reducer, so
  * per-key density skew evens out at the partition level and no arm
  * has anything to fix (measured: all three arms within noise). One
  * key holding 40% of the table is the shape that actually serializes
  * a reducer — the production hot-key failure (null-ish defaults,
  * bot traffic, empty-string keys) — and the shape where runtime
  * splitting or salting pays.
  *
  * AQE's skew thresholds are production-sized (256 MB partitions); at
  * this bench's local scale the hot partition is ~25 MB, so the
  * thresholds are lowered to make AQE's splitting observable at all —
  * on a cluster the defaults fire at exactly the same relative skew.
  *
  *   runMain graft.tools.SkewBench [factRows] [reps]
  */
object SkewBench {
  def main(args: Array[String]): Unit = {
    val factRows = if (args.nonEmpty) args(0).toLong else 4L * 1024 * 1024
    val reps = if (args.length > 1) args(1).toInt else 3
    val saltFactor = if (args.length > 2) args(2).toInt else 16
    val spark = SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", "64")
      .config("spark.sql.autoBroadcastJoinThreshold", "-1")
      .config("spark.sql.adaptive.enabled", "true")
      // scale AQE's production-sized skew thresholds down to this
      // bench's data size (same relative skew as 256MB/64MB at scale)
      .config("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "4m")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1m")
      .config("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2.0")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val maxKey = 100000L
    // reference skew curve u∈[0,1) → (16^u − 1)/15 for 60% of rows,
    // plus key 0 as the mega-hot key owning the remaining 40%
    val fact = spark.range(0, factRows, 1, 64).select(
      when(pmod(col("id"), lit(5L)) < 2, lit(0L))
        .otherwise(floor(lit(maxKey) *
          (pow(lit(16.0), (col("id") % 100000L) / 100000.0) - 1) / 15.0))
        .as("k"),
      (col("id") % 1000).as("v")).cache()
    val dim = spark.range(0, maxKey, 1, 8).select(
      col("id").as("d_k"), (col("id") * 7 % 100).as("d_v")).cache()
    fact.count(); dim.count()

    def run(skewOn: Boolean): Double = {
      spark.conf.set("spark.sql.adaptive.skewJoin.enabled", skewOn.toString)
      // pin coalescing OFF in BOTH arms so the A/B isolates skew-join
      // splitting (coalescing would otherwise confound the delta)
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      val times = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        fact.join(dim.hint("MERGE"), col("k") === col("d_k"))
          .groupBy("d_v").agg(count(lit(1)).as("n"), sum("v").as("sv"))
          .write.mode("overwrite").format("noop").save()
        (System.nanoTime() - t0) / 1e9
      }
      times.min
    }

    /** Explicit salting via the [[graft.operators.SaltedJoin]] operator
      * (the library surface a pipeline would call): fact key gets a
      * deterministic salt, the dim is replicated across all salt
      * values, the join key becomes (k, salt) — the classic pre-AQE
      * skew remedy, A/B'd here against AQE's runtime splitting. */
    def runSalted(): Double = {
      spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      val times = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        graft.operators.SaltedJoin.join(
            fact, dim.hint("MERGE"), "k", "d_k",
            saltSource = col("v"), saltFactor = saltFactor)
          .groupBy("d_v").agg(count(lit(1)).as("n"), sum("v").as("sv"))
          .write.mode("overwrite").format("noop").save()
        (System.nanoTime() - t0) / 1e9
      }
      times.min
    }

    val off = run(skewOn = false)
    val on = run(skewOn = true)
    val salted = runSalted()
    println(f"""{"metric":"skew_join_aqe_off","value":$off%.3f,"unit":"sec","rows":$factRows}""")
    println(f"""{"metric":"skew_join_aqe_on","value":$on%.3f,"unit":"sec","rows":$factRows}""")
    println(f"""{"metric":"skew_join_salted","value":$salted%.3f,"unit":"sec","rows":$factRows}""")
    spark.stop()
  }
}
