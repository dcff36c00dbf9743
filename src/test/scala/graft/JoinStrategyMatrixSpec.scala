package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, ShuffledHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.Tables.t
import graft.plans.{ParallelHashJoinApi, ParallelHashJoinExec}

/** The reference's strategy-parameterized matrix (110 tests =
  * 10 scenarios × 11 engine configs, `/root/reference/src/lib.rs:36-60`):
  * here, every join type runs under four physical strategies —
  * sort-merge, shuffle-hash, broadcast, and our custom exec — with
  * identical results and plan-shape assertions per strategy (the
  * analog of the reference's `get_join_type` downcasts,
  * `/root/reference/src/lib.rs:728-753`). */
class JoinStrategyMatrixSpec extends AnyFunSuite {

  private val dir = "/root/testdata/sf0.001"
  private val joinTypes =
    Seq("inner", "left_outer", "right_outer", "full_outer", "left_semi", "left_anti")

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def part = t(spark, dir, "part").select(col("p_partkey"), col("p_size"))
  private def li = t(spark, dir, "lineitem")
    .filter(col("l_quantity") >= 40.0)
    .select(col("l_partkey"), col("l_orderkey"))

  private def builtinJoin(jt: String): DataFrame =
    part.join(li, col("p_partkey") === col("l_partkey"), jt)

  private def collected(d: DataFrame): Seq[Seq[Any]] =
    d.collect().toSeq.map(_.toSeq).sortBy(_.mkString("|"))

  /** All physical nodes, descending through AQE query stages. */
  private def flatten(p: SparkPlan): Seq[SparkPlan] = {
    val inner = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => Seq(q.plan)
      case r: ReusedExchangeExec => Seq(r.child)
      case other => other.children
    }
    p +: inner.flatMap(flatten)
  }

  private def finalPlan(d: DataFrame): Seq[SparkPlan] = {
    d.collect() // finalize AQE
    flatten(d.queryExecution.executedPlan)
  }

  private def withConf(pairs: (String, String)*)(body: => Unit): Unit = {
    val old = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private lazy val golden: Map[String, Seq[Seq[Any]]] =
    joinTypes.map(jt => jt -> collected(builtinJoin(jt))).toMap

  test("sort-merge strategy matches golden for all join types") {
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.join.preferSortMergeJoin" -> "true") {
      for (jt <- joinTypes) {
        val d = builtinJoin(jt)
        assert(collected(d) == golden(jt), s"results for $jt")
        assert(finalPlan(d).exists(_.isInstanceOf[SortMergeJoinExec]),
          s"expected SortMergeJoinExec for $jt")
      }
    }
  }

  test("shuffle-hash strategy matches golden for all join types") {
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      for (jt <- joinTypes) {
        val d = part.join(li.hint("SHUFFLE_HASH"),
          col("p_partkey") === col("l_partkey"), jt)
        assert(collected(d) == golden(jt), s"results for $jt")
        assert(finalPlan(d).exists(_.isInstanceOf[ShuffledHashJoinExec]),
          s"expected ShuffledHashJoinExec for $jt")
      }
    }
  }

  test("broadcast strategy matches golden where broadcastable") {
    // full outer cannot broadcast; semi/anti broadcast only the right side
    for (jt <- Seq("inner", "left_outer", "left_semi", "left_anti")) {
      val d = part.join(org.apache.spark.sql.functions.broadcast(li),
        col("p_partkey") === col("l_partkey"), jt)
      assert(collected(d) == golden(jt), s"results for $jt")
      assert(finalPlan(d).exists(_.isInstanceOf[BroadcastHashJoinExec]),
        s"expected BroadcastHashJoinExec for $jt")
    }
  }

  test("custom parallel-hash strategy matches golden for all join types") {
    for (jt <- joinTypes) {
      val d = ParallelHashJoinApi.parallelHashJoin(
        part, li, Seq("p_partkey"), Seq("l_partkey"), jt)
      assert(collected(d) == golden(jt), s"results for $jt")
      assert(finalPlan(d).exists(_.isInstanceOf[ParallelHashJoinExec]),
        s"expected ParallelHashJoinExec for $jt")
    }
  }

  /** The join's subtree in the final adaptive plan, through query stages. */
  private def below(p: ParallelHashJoinExec): Seq[SparkPlan] = p.children.flatMap(flatten)

  /** The node under `p` once codegen and query-stage wrappers are peeled. */
  private def unwrapped(p: SparkPlan): SparkPlan = p match {
    case i: org.apache.spark.sql.execution.InputAdapter => unwrapped(i.child)
    case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => unwrapped(q.plan)
    case r: ReusedExchangeExec => unwrapped(r.child)
    case other => other
  }

  test("plan shape: a star join shares every build; full outer and over-budget builds shuffle") {
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
    import org.apache.spark.sql.functions.{count, lit, sum}
    val fact = spark.range(0, 20000, 1, 4).select(col("id").as("v") +:
      (1 to 4).map(k => (col("id") * (k + 1) % 200).as(s"f$k")): _*)
    def dim(k: Int) = spark.range(0, 150, 1, 2).select(col("id").as(s"d$k"), (col("id") * k).as(s"w$k"))
    // the reference benchmark's right-deep four-dimension star, as in perfbench
    val star = (4 to 1 by -1).foldLeft(fact) { (probe, k) =>
      ParallelHashJoinApi.parallelHashJoin(dim(k), probe, Seq(s"d$k"), Seq(s"f$k"))
    }.agg(count(lit(1)).as("n"), sum(col("w1") + col("w2") + col("w3") + col("w4")).as("w"))
    val starBuiltin = (1 to 4).foldLeft(fact) { (probe, k) =>
      probe.join(dim(k), col(s"f$k") === col(s"d$k"))
    }.agg(count(lit(1)).as("n"), sum(col("w1") + col("w2") + col("w3") + col("w4")).as("w"))
    assert(collected(star) == collected(starBuiltin))
    val joins = finalPlan(star).collect { case p: ParallelHashJoinExec => p }
    assert(joins.size == 4, s"expected 4 ParallelHashJoinExec, got ${joins.size}")
    joins.foreach { j =>
      assert(j.sharedBuild, s"star join on ${j.leftKeys} should share its build")
      assert(unwrapped(j.left).isInstanceOf[BroadcastExchangeLike],
        s"shared build's build child should be a broadcast, got ${unwrapped(j.left).nodeName}")
      // built once, on the driver, for the 4 probe tasks (and the second
      // run), counted once; every dimension key is unique, so build rows
      // equal build keys and the probe loop takes the unique route
      val built = Seq("buildRows", "buildKeys", "buildChunks").map(j.metrics(_).value)
      assert(built == Seq(150L, 150L, 1L),
        s"shared build rows, keys and chunks on ${j.leftKeys}: $built")
      assert(!j.needCopyResult, s"a unique build adds no copy on ${j.leftKeys}")
      assert(j.metrics("buildTime").value > 0)
    }
    val top = joins.maxBy(below(_).size)
    assert(!below(top).exists(_.isInstanceOf[ShuffleExchangeLike]),
      "no exchange may move the fact table below the aggregate")

    val full = ParallelHashJoinApi.parallelHashJoin(dim(1), fact, Seq("d1"), Seq("f1"), "full_outer")
    assert(collected(full) == collected(dim(1).join(fact, col("d1") === col("f1"), "full_outer")))
    val fullJoin = finalPlan(full).collect { case p: ParallelHashJoinExec => p }.head
    assert(!fullJoin.sharedBuild)
    assert(below(fullJoin).count(_.isInstanceOf[ShuffleExchangeLike]) == 2,
      "full outer keeps one exchange per side")

    // a build budget below the build side's estimate keeps the
    // co-partitioned shape (whose chunked fallback bounds the build)
    withConf(ParallelHashJoinExec.spillThresholdKey -> "1024") {
      val inner = ParallelHashJoinApi.parallelHashJoin(dim(2), fact, Seq("d2"), Seq("f2"))
      assert(collected(inner) == collected(dim(2).join(fact, col("d2") === col("f2"))))
      val j = finalPlan(inner).collect { case p: ParallelHashJoinExec => p }.head
      assert(!j.sharedBuild, "a build over the spill budget must not be shared")
      assert(below(j).count(_.isInstanceOf[ShuffleExchangeLike]) == 2)
      assert(!below(j).exists(_.isInstanceOf[BroadcastExchangeLike]))
    }
  }

  test("inner joins run inside WholeStageCodegen with same results") {
    val d = ParallelHashJoinApi.parallelHashJoin(
      part, li, Seq("p_partkey"), Seq("l_partkey"), "inner")
    assert(collected(d) == golden("inner"))
    val plan = finalPlan(d)
    val wscg = plan.collect {
      case w: org.apache.spark.sql.execution.WholeStageCodegenExec => w
    }
    assert(wscg.exists(_.collectFirst {
      case p: ParallelHashJoinExec => p
    }.isDefined), "expected ParallelHashJoinExec fused into a codegen stage")
    // the residual-condition codegen path
    val dc = ParallelHashJoinApi.parallelHashJoin(
      part, li, Seq("p_partkey"), Seq("l_partkey"), "inner",
      Some(col("p_size") > 25))
    val expected = collected(part.join(li,
      col("p_partkey") === col("l_partkey") && col("p_size") > 25))
    assert(collected(dc) == expected)
    // whole-stage codegen off → interpreted path, same results, exec not fused
    withConf("spark.sql.codegen.wholeStage" -> "false") {
      val di = ParallelHashJoinApi.parallelHashJoin(
        part, li, Seq("p_partkey"), Seq("l_partkey"), "inner")
      assert(collected(di) == golden("inner"))
      val fused = finalPlan(di).collect {
        case w: org.apache.spark.sql.execution.WholeStageCodegenExec => w
      }.exists(_.collectFirst { case p: ParallelHashJoinExec => p }.isDefined)
      assert(!fused, "wholeStage=false must keep the exec out of codegen stages")
    }
  }

  test("build-finalizer types fuse into codegen with same results") {
    // fallback=false turns a generated-code compile failure into a hard
    // error instead of a silent interpreted fallback — this is the test
    // that proves the finalizer kernels actually compile and run
    withConf("spark.sql.codegen.fallback" -> "false") {
      for (jt <- Seq("left_outer", "right_outer", "full_outer", "left_semi", "left_anti")) {
        val d = ParallelHashJoinApi.parallelHashJoin(
          part, li, Seq("p_partkey"), Seq("l_partkey"), jt)
        assert(collected(d) == golden(jt), s"results for $jt")
        val fused = finalPlan(d).collect {
          case w: org.apache.spark.sql.execution.WholeStageCodegenExec => w
        }.exists(_.collectFirst { case p: ParallelHashJoinExec => p }.isDefined)
        assert(fused, s"expected $jt fused into a codegen stage")
      }
      // residual conditions through the marking/finalizer paths
      for (jt <- Seq("left_outer", "full_outer", "left_semi", "left_anti")) {
        val dc = ParallelHashJoinApi.parallelHashJoin(
          part, li, Seq("p_partkey"), Seq("l_partkey"), jt,
          Some(col("p_size") > 25))
        val expected = collected(part.join(li,
          col("p_partkey") === col("l_partkey") && col("p_size") > 25, jt))
        assert(collected(dc) == expected, s"residual results for $jt")
      }
    }
  }

  test("probe-preserving right_semi/right_anti stream through codegen") {
    // golden from the probe side's perspective (Spark lacks the types)
    val goldenSemi = collected(
      li.join(part, col("l_partkey") === col("p_partkey"), "left_semi"))
    val goldenAnti = collected(
      li.join(part, col("l_partkey") === col("p_partkey"), "left_anti"))
    for ((jt, expected) <- Seq("right_semi" -> goldenSemi, "right_anti" -> goldenAnti)) {
      val d = ParallelHashJoinApi.parallelHashJoin(
        part, li, Seq("p_partkey"), Seq("l_partkey"), jt)
      assert(collected(d) == expected, s"results for $jt")
      val fused = finalPlan(d).collect {
        case w: org.apache.spark.sql.execution.WholeStageCodegenExec => w
      }.exists(_.collectFirst {
        case p: ParallelHashJoinExec if p.probePreserving => p
      }.isDefined)
      assert(fused, s"expected probe-preserving $jt fused into a codegen stage")
    }
    // residual condition through the probe-preserving codegen path
    val dc = ParallelHashJoinApi.parallelHashJoin(
      part, li, Seq("p_partkey"), Seq("l_partkey"), "right_semi",
      Some(col("p_size") > 25))
    val expectedC = collected(li.join(
      part.filter(col("p_size") > 25),
      col("l_partkey") === col("p_partkey"), "left_semi"))
    assert(collected(dc) == expectedC, "right_semi with residual condition")
  }
}
