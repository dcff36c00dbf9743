package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.{AutoParallelJoin, ParallelHashJoinApi, ParallelHashJoinExec}

/** Pins the conditional build-side selection on the transparent path
  * (round-10 verdict #6): an auto-converted `LeftSemi`/`LeftAnti` whose
  * right side is ≥3× smaller by stats must plan as the probe-preserving
  * kernel with swapped children (build = small right side), an `Inner`
  * or `LeftOuter` one as inner / right outer with swapped children under
  * a column-restoring Project; all produce results identical to the
  * stock planner. Near-equal sides keep the faithful build-left shape,
  * and the EXPLICIT API keeps the reference's fixed build-left. */
class BuildSideSelectSpec extends AnyFunSuite {

  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    ParallelHashJoinApi.install(s)
    s
  }

  private def flatten(p: SparkPlan): Seq[SparkPlan] = {
    val inner = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => Seq(q.plan)
      case r: ReusedExchangeExec => Seq(r.child)
      case other => other.children
    }
    p +: inner.flatMap(flatten)
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

  private def fact = spark.range(0, 100000, 1, 4)
    .select((col("id") % 2000).as("k"), col("id").as("v"))
  private def dim = spark.range(0, 500, 1, 2).select(col("id").as("d_k"))

  private def phjOf(df: org.apache.spark.sql.DataFrame): ParallelHashJoinExec = {
    df.collect() // finalize any adaptive plan before inspecting it
    val execs = flatten(df.queryExecution.executedPlan)
      .collect { case p: ParallelHashJoinExec => p }
    assert(execs.size == 1, s"expected one ParallelHashJoinExec, got $execs")
    execs.head
  }

  test("auto semi/anti with a 3x-smaller right side builds the right side (probe-preserving swap)") {
    for (jt <- Seq("left_semi", "left_anti")) {
      val golden = fact.join(dim, col("k") === col("d_k"), jt)
        .collect().map(_.toSeq).sortBy(_.mkString("|")).toSeq
      withConf(AutoParallelJoin.autoConfKey -> "required") {
        val df = fact.join(dim, col("k") === col("d_k"), jt)
        val exec = phjOf(df)
        assert(exec.probePreserving,
          s"$jt with small right side should take the swapped probe-preserving shape")
        // swapped: the build (left) child subtree carries d_k, the
        // probe (right) child carries the preserved fact columns
        assert(exec.left.output.map(_.name).contains("d_k"))
        assert(exec.right.output.map(_.name) == Seq("k", "v"))
        val rows = df.collect().map(_.toSeq).sortBy(_.mkString("|")).toSeq
        assert(rows == golden, s"$jt diverged under side-selected swap")
      }
    }
  }

  private def sortedRows(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
    df.collect().map(_.toSeq).sortBy(_.mkString("|")).toSeq

  test("auto inner and left outer with a 3x-smaller right side build it, sharing the build") {
    import org.apache.spark.sql.catalyst.plans.{Inner, RightOuter}
    for ((jt, planned) <- Seq("inner" -> Inner, "left_outer" -> RightOuter)) {
      val golden = sortedRows(fact.join(dim, col("k") === col("d_k"), jt))
      withConf(AutoParallelJoin.autoConfKey -> "required") {
        val df = fact.join(dim, col("k") === col("d_k"), jt)
        val exec = phjOf(df)
        assert(exec.joinType == planned, s"$jt should plan as $planned with the sides swapped")
        assert(exec.left.output.map(_.name) == Seq("d_k"), s"$jt should build the small side")
        assert(exec.sharedBuild, s"$jt's small swapped build should be shared")
        assert(df.columns.toSeq == Seq("k", "v", "d_k"), "a Project restores the column order")
        assert(sortedRows(df) == golden, s"$jt diverged under side-selected swap")
      }
    }
  }

  test("parallelSql builds the smaller side as the transparent strategy does") {
    import org.apache.spark.sql.catalyst.plans.{Inner, RightOuter}
    fact.createOrReplaceTempView("bss_fact")
    dim.createOrReplaceTempView("bss_dim")
    val q = "SELECT f.k, f.v, d.d_k FROM bss_fact f JOIN bss_dim d ON f.k = d.d_k " +
      "LEFT JOIN bss_dim e ON f.v = e.d_k"
    val df = AutoParallelJoin.parallelSql(spark, q)
    assert(sortedRows(df) == sortedRows(spark.sql(q)))
    val execs = flatten(df.queryExecution.executedPlan).collect { case p: ParallelHashJoinExec => p }
    assert(execs.map(_.joinType).toSet == Set(Inner, RightOuter))
    execs.foreach { e =>
      assert(e.left.output.map(_.name) == Seq("d_k"), s"${e.joinType} should build a dimension")
      assert(e.sharedBuild, s"${e.joinType} over a dimension should share its build")
    }
  }

  test("near-equal sides never swap: the build stays left") {
    withConf(AutoParallelJoin.autoConfKey -> "required") {
      // same-size sides: under the 3x stats threshold — no swap
      val a = spark.range(0, 1000, 1, 2).select(col("id").as("k"))
      val b = spark.range(0, 1000, 1, 2).select(col("id").as("d_k"))
      val exec = phjOf(a.join(b, col("k") === col("d_k"), "left_semi"))
      assert(!exec.probePreserving, "near-equal sides must keep build-left")
    }
  }

  test("the explicit API stays reference-faithful (build-left)") {
    val df = ParallelHashJoinApi.parallelHashJoin(
      fact, dim, Seq("k"), Seq("d_k"), "left_semi")
    val exec = phjOf(df)
    assert(!exec.probePreserving)
    assert(exec.left.output.map(_.name) == Seq("k", "v"),
      "explicit left_semi must build its left input, as the reference's rule does")
  }
}
