package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.plans.ParallelHashJoinApi
import graft.queries.SyntheticQueries

/** Micro-benchmarks mirroring the reference's Criterion suites:
  * build/probe throughput per join strategy (`benches/build_speed.rs`,
  * `benches/lookup_speed.rs`, `benches/my_benchmark.rs`) and the
  * merge-sort strategy comparison (`benches/sort.rs` →
  * global `orderBy` vs `sortWithinPartitions`).
  *
  *   runMain graft.tools.MicroBench [factRows] [reps]
  *
  * Prints one JSON line per metric (best-of-reps seconds).
  */
object MicroBench {
  def main(args: Array[String]): Unit = {
    val factRows = if (args.nonEmpty) args(0).toLong else 2048 * 1024L
    val reps = if (args.length > 1) args(1).toInt else 3
    val spark = SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.autoBroadcastJoinThreshold", "-1") // force partitioned joins
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val base = SyntheticQueries.baseTable(spark, factRows).cache()
    val dim = SyntheticQueries.smallTable(spark, 1).cache()
    base.count(); dim.count() // materialize inputs so we time only the operator

    def time(body: => Unit): Double = {
      val runs = (1 to reps).map { _ =>
        val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
      }
      runs.min
    }
    def noop(d: DataFrame): Unit = d.write.mode("overwrite").format("noop").save()

    val dimR = dim.withColumnRenamed("id", "d_id").withColumnRenamed("value", "d_value")
    val results = Seq(
      "join_shuffle_hash" -> time(noop(
        base.join(dimR.hint("SHUFFLE_HASH"), col("id1") === col("d_id")))),
      "join_sort_merge" -> time(noop(
        base.join(dimR.hint("MERGE"), col("id1") === col("d_id")))),
      // build side = left = dim, matching what the hinted built-ins hash
      "join_parallel_hash" -> time(noop(
        ParallelHashJoinApi.parallelHashJoin(dimR, base, Seq("d_id"), Seq("id1")))),
      "sort_global" -> time(noop(base.orderBy(col("id1"), col("id2")))),
      "sort_within_partitions" -> time(noop(base.sortWithinPartitions(col("id1"), col("id2")))))

    results.foreach { case (name, sec) =>
      println(f"""{"metric":"$name","value":$sec%.3f,"unit":"sec","rows":$factRows}""")
    }
    spark.stop()
  }
}
