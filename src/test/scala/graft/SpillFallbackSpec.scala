package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.Tables.t
import graft.plans.{ParallelHashJoinApi, ParallelHashJoinExec}

/** The spill fallback gate: with the build-side byte budget forced to a
  * few KB, every join type must take the chunked grace path (buildChunks
  * metric > #partitions) and still produce exactly the built-in join's
  * results — proving the operator degrades instead of OOMing when a
  * partition's build side outgrows memory (the reference's map is
  * unbounded, `concurrent_self_hash_join_map.rs`; ours is the part that
  * survives 100 TB). */
class SpillFallbackSpec extends AnyFunSuite {

  private val dir = "/root/testdata/sf0.001"
  private val joinTypes =
    Seq("inner", "left_outer", "right_outer", "full_outer", "left_semi", "left_anti")

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def allParts = t(spark, dir, "part").select(col("p_partkey"), col("p_size"))
  // a third of the parts are left out of the build, so right and full
  // outer joins must pad unmatched lineitem (probe) rows, across chunks
  // under spill
  private def part = allParts.filter(col("p_partkey") % 3 =!= 0)
  private def li = t(spark, dir, "lineitem")
    .filter(col("l_quantity") >= 40.0)
    .select(col("l_partkey"), col("l_orderkey"))

  private def collected(d: DataFrame): Seq[Seq[Any]] =
    d.collect().toSeq.map(_.toSeq).sortBy(_.mkString("|"))

  private def withConf(pairs: (String, String)*)(body: => Unit): Unit = {
    val old = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def flatPlan(d: DataFrame): Seq[SparkPlan] = {
    val flat = new scala.collection.mutable.ArrayBuffer[SparkPlan]
    def walk(p: SparkPlan): Unit = {
      flat += p
      val inner = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => Seq(q.plan)
        case other => other.children
      }
      inner.foreach(walk)
    }
    walk(d.queryExecution.executedPlan)
    flat.toSeq
  }

  private def chunkMetric(d: DataFrame): Long =
    flatPlan(d).collectFirst { case p: ParallelHashJoinExec => p.metrics("buildChunks").value }
      .getOrElse(fail("no ParallelHashJoinExec in plan"))

  private lazy val golden: Map[String, Seq[Seq[Any]]] = joinTypes.map { jt =>
    jt -> collected(part.join(li, col("p_partkey") === col("l_partkey"), jt))
  }.toMap

  // right_semi/right_anti golden: Spark has no such join-type strings —
  // the equivalent is semi/anti from the probe side's perspective
  private lazy val goldenProbeSide: Map[String, Seq[Seq[Any]]] = Map(
    "right_semi" -> collected(
      li.join(part, col("l_partkey") === col("p_partkey"), "left_semi")),
    "right_anti" -> collected(
      li.join(part, col("l_partkey") === col("p_partkey"), "left_anti")))

  test("forced-low spill threshold matches built-in results for all join types") {
    // AQE off → deterministic 4 shuffle partitions, so the chunk metric
    // is comparable against the partition count; whole-stage codegen off
    // so the join runs from the interpreted doExecute
    withConf(ParallelHashJoinExec.spillThresholdKey -> "512",
      "spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.adaptive.enabled" -> "false") {
      for (jt <- joinTypes) {
        val d = ParallelHashJoinApi.parallelHashJoin(
          part, li, Seq("p_partkey"), Seq("l_partkey"), jt)
        assert(collected(d) == golden(jt), s"results for $jt under spill fallback")
        assert(chunkMetric(d) > 4,
          s"$jt expected chunked fallback (>1 chunk per partition)")
      }
      // probe-preserving kernels: probe-row match state must span chunks
      for (jt <- Seq("right_semi", "right_anti")) {
        val d = ParallelHashJoinApi.parallelHashJoin(
          part, li, Seq("p_partkey"), Seq("l_partkey"), jt)
        assert(collected(d) == goldenProbeSide(jt),
          s"results for $jt under spill fallback")
        assert(chunkMetric(d) > 4,
          s"$jt expected chunked fallback (>1 chunk per partition)")
      }
    }
  }

  /** Is the custom exec inside a codegen stage? Walks through AQE
    * wrappers and stops at InputAdapter (the codegen-stage boundary),
    * so an unfused exec below a stage never counts as fused. */
  private def fused(d: DataFrame): Boolean =
    flatPlan(d).exists {
      case w: org.apache.spark.sql.execution.WholeStageCodegenExec =>
        def inStage(p: SparkPlan): Boolean = p match {
          case _: ParallelHashJoinExec => true
          case _: org.apache.spark.sql.execution.InputAdapter => false
          case other => other.children.exists(inStage)
        }
        inStage(w.child)
      case _ => false
    }

  test("codegen runtime fallback: over-budget partitions chunk, results exact") {
    // codegen ON (the default path) + a forced-low budget: the plan must
    // still FUSE, and every partition must detect the overrun at runtime
    // and route itself through the interpreted chunked grace join —
    // bounded memory without forfeiting fusion for in-budget partitions
    withConf(ParallelHashJoinExec.spillThresholdKey -> "512",
      "spark.sql.adaptive.enabled" -> "false",
      "spark.sql.codegen.fallback" -> "false") { // janino errors must fail, not hide
      for (jt <- joinTypes) {
        val d = ParallelHashJoinApi.parallelHashJoin(
          part, li, Seq("p_partkey"), Seq("l_partkey"), jt)
        assert(fused(d), s"$jt must stay fused with the runtime fallback on")
        assert(collected(d) == golden(jt), s"results for $jt under codegen fallback")
        assert(chunkMetric(d) > 4,
          s"$jt expected runtime chunked fallback (>1 chunk per partition)")
      }
      for (jt <- Seq("right_semi", "right_anti")) {
        val d = ParallelHashJoinApi.parallelHashJoin(
          part, li, Seq("p_partkey"), Seq("l_partkey"), jt)
        assert(fused(d), s"$jt must stay fused with the runtime fallback on")
        assert(collected(d) == goldenProbeSide(jt),
          s"results for $jt under codegen fallback")
        assert(chunkMetric(d) > 4,
          s"$jt expected runtime chunked fallback (>1 chunk per partition)")
      }
    }
  }

  test("residual condition correct under spill fallback") {
    // every part: at this budget the whole table spills into several
    // chunks, whose last one pads the rows the condition rejected
    val expected = collected(allParts.join(li,
      col("p_partkey") === col("l_partkey") && col("p_size") > col("l_orderkey") % 50,
      "full_outer"))
    withConf(ParallelHashJoinExec.spillThresholdKey -> "4096") {
      // fusion survives an explicit budget (overruns downgrade
      // per-partition at runtime)
      val d = ParallelHashJoinApi.parallelHashJoin(
        allParts, li, Seq("p_partkey"), Seq("l_partkey"), "full_outer",
        Some(col("p_size") > col("l_orderkey") % 50))
      assert(collected(d) == expected)
      assert(fused(d), "runtime fallback keeps the exec fused")
    }
  }

  test("default threshold stays on the single-chunk fast path") {
    // pinned to the co-partitioned build (one chunk per shuffle
    // partition): a small build side would otherwise be shared, one chunk
    withConf("spark.sql.adaptive.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.codegen.wholeStage" -> "false") {
      val d = ParallelHashJoinApi.parallelHashJoin(
        part, li, Seq("p_partkey"), Seq("l_partkey"), "inner")
      assert(collected(d) == golden("inner"))
      assert(chunkMetric(d) == 4, "expected exactly one chunk per partition")
    }
  }
}
