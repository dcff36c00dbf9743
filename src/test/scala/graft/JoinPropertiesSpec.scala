package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.ParallelHashJoinApi

/** Property-based join semantics (beyond the reference's test strategy,
  * SURVEY.md §5 last row): for arbitrary small tables — with null keys,
  * duplicate keys, empty sides — the custom exec must agree with
  * Spark's built-in join for every supported type. ScalaCheck
  * generators are sampled under fixed seeds so failures replay. */
class JoinPropertiesSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "3")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val keyGen: Gen[Integer] = Gen.frequency(
    (8, Gen.chooseNum(0, 6).map(Integer.valueOf)),
    (1, Gen.const(null.asInstanceOf[Integer])))
  private val tableGen: Gen[List[(Integer, Int)]] =
    Gen.chooseNum(0, 12).flatMap(n =>
      Gen.listOfN(n, Gen.zip(keyGen, Gen.chooseNum(0, 99))))

  private def sample[A](g: Gen[A], seed: Long): A =
    g.pureApply(Gen.Parameters.default, Seed(seed))

  private def df(rows: Seq[(Integer, Int)], k: String, v: String): DataFrame = {
    val schema = StructType(Seq(
      StructField(k, IntegerType, nullable = true),
      StructField(v, IntegerType, nullable = false)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(r => Row(r._1, r._2)), 2), schema)
  }

  private def sorted(d: DataFrame): Seq[String] =
    d.collect().toSeq.map(_.toSeq.mkString("|")).sorted

  test("custom join equals built-in join on arbitrary tables, all types") {
    for (seed <- 1L to 12L) {
      val lRows = sample(tableGen, seed)
      val rRows = sample(tableGen, seed + 1000)
      val l = df(lRows, "lk", "lv")
      val r = df(rRows, "rk", "rv")
      for (jt <- Seq("inner", "left_outer", "right_outer", "full_outer", "left_semi", "left_anti")) {
        val got = ParallelHashJoinApi.parallelHashJoin(l, r, Seq("lk"), Seq("rk"), jt)
        val want = l.join(r, l("lk") === r("rk"), jt)
        assert(sorted(got) == sorted(want), s"seed=$seed join type $jt, l=$lRows, r=$rRows")
      }
    }
  }

  test("chunked spill path equals built-in join on arbitrary tables, all types") {
    // a few-byte budget forces the grace path (multiple chunks per
    // partition) even on these tiny tables; whole-stage codegen off so
    // the join runs from the interpreted doExecute
    val saved = Seq(graft.plans.ParallelHashJoinExec.spillThresholdKey,
      "spark.sql.codegen.wholeStage")
      .map(k => k -> spark.conf.getOption(k))
    spark.conf.set(graft.plans.ParallelHashJoinExec.spillThresholdKey, "64")
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    try {
      import org.apache.spark.sql.functions.col
      for (seed <- 200L to 208L) {
        val lRows = sample(tableGen, seed)
        val rRows = sample(tableGen, seed + 1000)
        val l = df(lRows, "lk", "lv")
        val r = df(rRows, "rk", "rv")
        for (jt <- Seq("inner", "left_outer", "right_outer", "full_outer", "left_semi", "left_anti")) {
          val got = ParallelHashJoinApi.parallelHashJoin(l, r, Seq("lk"), Seq("rk"), jt)
          val want = l.join(r, l("lk") === r("rk"), jt)
          assert(sorted(got) == sorted(want), s"spill seed=$seed $jt, l=$lRows, r=$rRows")
          val gotC = ParallelHashJoinApi.parallelHashJoin(l, r, Seq("lk"), Seq("rk"), jt,
            Some(col("lv") < col("rv")))
          val wantC = l.join(r, l("lk") === r("rk") && col("lv") < col("rv"), jt)
          assert(sorted(gotC) == sorted(wantC), s"spill+cond seed=$seed $jt")
        }
      }
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  // ---- generative spill matrix (round-10 verdict #7) ----------------
  // The chunked grace fallback (ParallelHashJoinExec doExecute's spill
  // branch) is the least-exercised path of the most important operator:
  // random key TYPES (int / long / string / double incl. NaN and ±0.0 —
  // the floating normalization branch), random NULL RATES, random row
  // counts incl. empty sides, ALL EIGHT join types, both map layouts,
  // with and without a residual condition, under a few-byte budget that
  // forces multiple chunks per partition — every cell asserted equal to
  // the equivalent native Spark join.

  private def typedKeyGen(t: DataType, nullTenths: Int): Gen[Any] = {
    val base: Gen[Any] = t match {
      case IntegerType => Gen.chooseNum(0, 5).map(Integer.valueOf(_))
      case LongType => Gen.chooseNum(-3L, 3L).map(java.lang.Long.valueOf(_))
      case StringType => Gen.oneOf("a", "b", "c", "dd", "")
      case DoubleType => Gen.oneOf[Any](
        java.lang.Double.valueOf(0.0), java.lang.Double.valueOf(-0.0),
        java.lang.Double.valueOf(1.5), java.lang.Double.valueOf(-2.25),
        java.lang.Double.valueOf(Double.NaN))
      case other => throw new IllegalArgumentException(other.toString)
    }
    Gen.frequency((10 - nullTenths, base), (nullTenths, Gen.const(null)))
  }

  private def typedTableGen(t: DataType, nullTenths: Int): Gen[List[(Any, Int)]] =
    Gen.chooseNum(0, 20).flatMap(n =>
      Gen.listOfN(n, Gen.zip(typedKeyGen(t, nullTenths), Gen.chooseNum(0, 99))))

  private def typedDf(rows: Seq[(Any, Int)], t: DataType, k: String, v: String): DataFrame = {
    val schema = StructType(Seq(
      StructField(k, t, nullable = true),
      StructField(v, IntegerType, nullable = false)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(r => Row(r._1, r._2)), 2), schema)
  }

  /** Native-Spark oracle for all 8 types: right_semi/right_anti (absent
    * from the public join API) are left_semi/left_anti with the sides
    * swapped — the semantic definition, independent of the exec's
    * probe-preserving kernel. */
  private def nativeJoin(l: DataFrame, r: DataFrame, jt: String,
      cond: Option[org.apache.spark.sql.Column]): DataFrame = {
    import org.apache.spark.sql.functions.col
    val eq = l("lk") === r("rk")
    val full = cond.map(eq && _).getOrElse(eq)
    jt match {
      case "right_semi" => r.join(l, full, "left_semi")
      case "right_anti" => r.join(l, full, "left_anti")
      case _ => l.join(r, full, jt)
    }
  }

  test("generative spill matrix: schemas x null rates x all 8 types x both map layouts") {
    val allTypes = Seq("inner", "left_outer", "right_outer", "full_outer",
      "left_semi", "left_anti", "right_semi", "right_anti")
    val saved = Seq(graft.plans.ParallelHashJoinExec.spillThresholdKey,
      "spark.sql.codegen.wholeStage")
      .map(k => k -> spark.conf.getOption(k))
    spark.conf.set(graft.plans.ParallelHashJoinExec.spillThresholdKey, "64")
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    try {
      import org.apache.spark.sql.functions.col
      // the key type picks the map layout: GraftLongMap for the integral
      // keys, GraftOpenMap for the string and double keys
      val cells = for {
        (keyType, seedBase) <- Seq(
          (IntegerType: DataType) -> 300L, (LongType: DataType) -> 320L,
          (StringType: DataType) -> 340L, (DoubleType: DataType) -> 360L)
        nullTenths <- Seq(0, 2, 5)
      } yield (keyType, seedBase + nullTenths, nullTenths)
      for (((keyType, seed, nullTenths), cellIdx) <- cells.zipWithIndex) {
        val lRows = sample(typedTableGen(keyType, nullTenths), seed)
        val rRows = sample(typedTableGen(keyType, nullTenths), seed + 1000)
        val l = typedDf(lRows, keyType, "lk", "lv")
        val r = typedDf(rRows, keyType, "rk", "rv")
        for (jt <- allTypes) {
          val cond = if (cellIdx % 3 == 0) Some(col("lv") < col("rv")) else None
          val got = ParallelHashJoinApi.parallelHashJoin(
            l, r, Seq("lk"), Seq("rk"), jt, cond)
          val want = nativeJoin(l, r, jt, cond)
          assert(sorted(got) == sorted(want),
            s"spill matrix: key=$keyType nulls=$nullTenths/10 " +
              s"jt=$jt cond=${cond.nonEmpty} seed=$seed l=$lRows r=$rRows")
        }
      }
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  // ---- build formulations (shared vs co-partitioned vs built-in) ----
  // The planner picks a shared (broadcast) build for inner, right outer
  // and the probe-preserving semi/anti when the build side's estimate is
  // small, and the co-partitioned build otherwise. Both must give the
  // built-in join's answer on dirty input. Inputs are local rows, whose
  // size Spark can estimate (a parallelized RDD reports
  // spark.sql.defaultSizeInBytes, which would never share).

  private def localDf(rows: Seq[(Integer, Int)], k: String, v: String): DataFrame = {
    import scala.jdk.CollectionConverters._
    val schema = StructType(Seq(
      StructField(k, IntegerType, nullable = true),
      StructField(v, IntegerType, nullable = false)))
    spark.createDataFrame(rows.map(r => Row(r._1, r._2)).asJava, schema)
  }

  /** The join execs of `d`'s final plan, each with whether it runs fused
    * inside a whole-stage-codegen stage. */
  private def joinExecs(d: DataFrame): Seq[(graft.plans.ParallelHashJoinExec, Boolean)] = {
    import org.apache.spark.sql.execution.{InputAdapter, SparkPlan, WholeStageCodegenExec}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def walk(p: SparkPlan, fused: Boolean): Seq[(SparkPlan, Boolean)] = (p, fused) +: (p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan -> false)
      case q: QueryStageExec => Seq(q.plan -> false)
      case w: WholeStageCodegenExec => Seq(w.child -> true)
      case i: InputAdapter => Seq(i.child -> false)
      case other => other.children.map(_ -> fused)
    }).flatMap { case (c, f) => walk(c, f) }
    walk(d.queryExecution.executedPlan, fused = false).collect {
      case (e: graft.plans.ParallelHashJoinExec, f) => (e, f)
    }
  }

  test("shared build, co-partitioned build and built-in join agree on dirty input, all 8 types") {
    import org.apache.spark.sql.functions.col
    val nul = null.asInstanceOf[Integer]
    val i: Int => Integer = Integer.valueOf
    val giantKey = Seq.tabulate(120)(n => (i(7), n)) ++ Seq((i(1), 500), (nul, 501))
    val fixtures: Seq[(String, Seq[(Integer, Int)], Seq[(Integer, Int)])] = Seq(
      ("null and duplicate keys",
        Seq((i(1), 10), (i(1), 11), (i(2), 20), (nul, 30), (nul, 31), (i(4), 40)),
        Seq((i(1), 5), (i(2), 25), (i(2), 26), (nul, 35), (i(3), 45), (i(1), 12))),
      ("empty build side", Nil, Seq((i(1), 1), (nul, 2), (i(2), 3))),
      ("empty probe side", Seq((i(1), 1), (nul, 2)), Nil),
      ("one giant key", giantKey, giantKey.map { case (k, v) => (k, v + 3) } ++ Seq((i(9), 0)))) ++
      (1L to 4L).map(seed => (s"generated seed $seed",
        sample(tableGen, seed + 500), sample(tableGen, seed + 1500)))
    val allTypes = Seq("inner", "left_outer", "right_outer", "full_outer",
      "left_semi", "left_anti", "right_semi", "right_anti")
    val sharable = Set("inner", "right_outer", "right_semi", "right_anti")
    val formulations = Seq(
      // codegen errors must fail here, not fall back to interpreted
      "shared, codegen" -> Seq("spark.sql.codegen.fallback" -> "false"),
      "shared, interpreted" -> Seq("spark.sql.codegen.wholeStage" -> "false"),
      "co-partitioned" -> Seq("spark.sql.autoBroadcastJoinThreshold" -> "-1"),
      // the one-chunk interpreted kernel of the co-partitioned build
      "co-partitioned, interpreted" -> Seq("spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.codegen.wholeStage" -> "false"))
    for ((name, lRows, rRows) <- fixtures) {
      val l = localDf(lRows, "lk", "lv")
      val r = localDf(rRows, "rk", "rv")
      for (jt <- allTypes; cond <- Seq(None, Some(col("lv") < col("rv")))) {
        val want = sorted(nativeJoin(l, r, jt, cond))
        for ((formulation, confs) <- formulations) {
          val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
          confs.foreach { case (k, v) => spark.conf.set(k, v) }
          try {
            val got = ParallelHashJoinApi.parallelHashJoin(l, r, Seq("lk"), Seq("rk"), jt, cond)
            assert(sorted(got) == want,
              s"$formulation: $name jt=$jt cond=${cond.nonEmpty} l=$lRows r=$rRows")
            val shared = formulation.startsWith("shared") && sharable(jt)
            val Seq((exec, fused)) = joinExecs(got)
            assert(exec.sharedBuild == shared,
              s"$formulation: $name jt=$jt should plan sharedBuild=$shared")
            assert(fused == !formulation.endsWith("interpreted"),
              s"$formulation: $name jt=$jt fused=$fused")
          } finally saved.foreach {
            case (k, Some(v)) => spark.conf.set(k, v)
            case (k, None) => spark.conf.unset(k)
          }
        }
      }
    }
  }

  test("custom join with residual condition equals built-in, property-based") {
    import org.apache.spark.sql.functions.col
    for (seed <- 100L to 107L) {
      val lRows = sample(tableGen, seed)
      val rRows = sample(tableGen, seed + 1000)
      val l = df(lRows, "lk", "lv")
      val r = df(rRows, "rk", "rv")
      for (jt <- Seq("inner", "full_outer", "left_semi", "left_anti")) {
        val got = ParallelHashJoinApi.parallelHashJoin(l, r, Seq("lk"), Seq("rk"), jt,
          Some(col("lv") < col("rv")))
        val want = l.join(r, l("lk") === r("rk") && col("lv") < col("rv"), jt)
        assert(sorted(got) == sorted(want), s"seed=$seed join type $jt, l=$lRows, r=$rRows")
      }
    }
  }
}
