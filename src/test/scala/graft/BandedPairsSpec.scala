package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec}
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.catalyst.plans.LeftSemi
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.CappedLongCollectList
import graft.operators.TextDedup

/** [[graft.operators.BandedPairs]] gives the same pairs on each of its
  * routes, and the size check — not a switch — picks the route. Route
  * assertions read the final adaptive plans of every execution a run
  * starts: the capped collect runs in its own eager checkpoint job, so
  * the query's own plan only shows the checkpoint's scan. */
class BandedPairsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.adaptive.enabled", "true")
    .getOrCreate()

  private val dir = "/root/testdata/sf0.01"

  private def flatten(p: SparkPlan): Seq[SparkPlan] = {
    val inner = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case r: ReusedExchangeExec => Seq(r.child)
      case c: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
        Seq(c.relation.cachedPlan)
      case other => other.children
    }
    p +: inner.flatMap(flatten)
  }

  /** Runs `body` under `conf`, returning its result and the final plans
    * of every execution it started. */
  private def traced[T](conf: (String, String)*)(body: => T): (T, Seq[SparkPlan]) = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(qe.executedPlan)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    conf.foreach { case (k, v) => spark.conf.set(k, v) }
    spark.catalog.clearCache()
    spark.listenerManager.register(listener)
    try {
      val out = body
      org.apache.spark.GraftListenerBus.drain(spark.sparkContext)
      import scala.jdk.CollectionConverters._
      (out, plans.asScala.toSeq)
    } finally {
      spark.listenerManager.unregister(listener)
      conf.foreach { case (k, _) => spark.conf.unset(k) }
    }
  }

  private def hasCappedCollect(plans: Seq[SparkPlan]): Boolean =
    plans.flatMap(flatten).exists(_.expressions.exists(
      _.exists(_.isInstanceOf[CappedLongCollectList])))

  test("t6 returns the same rows by the join, the expansion and the cap-1 fallback") {
    def t6(): Seq[(Long, Long, Double)] =
      SparkEntry.queries("t6_minhash_lsh")(spark, dir).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val (viaJoin, joinPlans) = traced()(t6())
    val (viaExpansion, expansionPlans) =
      traced("spark.graft.graph.broadcastMaxRows" -> "0")(t6())
    val (viaFallback, fallbackPlans) = traced(
      "spark.graft.graph.broadcastMaxRows" -> "0",
      "spark.graft.lsh.bucketCap" -> "1")(t6())
    assert(viaJoin.nonEmpty, "sf0.01 must produce near-dup pairs")
    assert(viaExpansion == viaJoin, "expansion must match the bucket join")
    assert(viaFallback == viaJoin, "cap-1 fallback must match the bucket join")
    assert(joinPlans.nonEmpty && expansionPlans.nonEmpty && fallbackPlans.nonEmpty)
    assert(!hasCappedCollect(joinPlans),
      "at or below broadcastMaxRows t6 must take the bucket join")
    assert(hasCappedCollect(expansionPlans) && hasCappedCollect(fallbackPlans),
      "above broadcastMaxRows t6 must take the capped-collect expansion")
  }

  test("the over-cap key probe is a plain semi-join the planner may shuffle") {
    import spark.implicits._
    // ten identical texts put all ten ids in every band bucket, so with
    // cap 1 every bucket is over the cap and runs the exact self-join
    val same = (0 until 40).map(w => s"w_$w").mkString(" ")
    val df = ((0 until 10).map(i => (i.toLong, same)) ++
      (10 until 14).map(i => (i.toLong, (0 until 40).map(w => s"u${i}_$w").mkString(" "))))
      .toDF("id", "text")
    def run(): (Set[(Long, Long, Double)], DataFrame) = {
      val out = TextDedup.minhashPairs(df, "id", "text")
      (out.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet, out)
    }
    val (viaJoin, _) = run()
    val ((overCap, out), _) = traced(
      "spark.graft.lsh.bucketCap" -> "1",
      "spark.graft.graph.broadcastMaxRows" -> "0",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")(run())
    assert(viaJoin.size == 45, s"all C(10,2) identical-text pairs expected: $viaJoin")
    assert(overCap == viaJoin, "over-cap self-join must match the bucket join")
    val plan = flatten(out.queryExecution.executedPlan)
    assert(plan.exists {
      case j: BaseJoinExec => j.joinType == LeftSemi
      case _ => false
    }, "the over-cap route must probe the over-cap keys")
    val broadcastOverSets = plan.collect { case b: BroadcastExchangeLike => b }
      .exists(b => flatten(b).exists(_.nodeName.contains("ExistingRDD")))
    assert(!broadcastOverSets,
      s"over-cap keys must not be broadcast by a hint:\n${out.queryExecution.executedPlan}")
  }
}
