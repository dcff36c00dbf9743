package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.storage.{BroadcastBlockId, RDDBlockId}

import graft.plans.ParallelHashJoinExec

/** One finished task. Times in seconds, sizes in bytes. */
final case class TaskSample(
    stage: (Int, Int),
    durationS: Double,
    runS: Double,
    cpuS: Double,
    gcS: Double,
    schedDelayS: Double,
    inputB: Long,
    shuffleWriteB: Long,
    shuffleReadB: Long,
    spillB: Long,
    resultB: Long)

/** Counts read off a query's final (adaptive) physical plan. */
final case class PlanCounts(
    pjoinNodes: Int = 0,
    exchanges: Int = 0,
    broadcasts: Int = 0,
    buildRows: Long = 0,
    outputRows: Long = 0,
    buildChunks: Long = 0)

/** What was seen while one query ran: wall times taken around the calls into
  * the engine, and the scheduler and block-manager events in between.
  * Job spans are epoch seconds. */
final case class Window(
    wallS: Double,
    buildS: Double,
    planS: Double,
    eagerJobs: Int,
    jobSpans: Seq[(Double, Double)],
    stages: Int,
    tasks: Seq[TaskSample],
    storedB: Long,
    blocksLeftB: Long,
    broadcastB: Long,
    plan: PlanCounts)

object Layers {
  private val MB = 1e6

  /** Per-layer metric names with their units, in report order. */
  val units: Seq[(String, String)] = Seq(
    "engine.session_s" -> "s", "engine.register_s" -> "s",
    "queries.build_s" -> "s", "queries.eager_jobs" -> "count",
    "plans.plan_s" -> "s", "plans.pjoin_nodes" -> "count",
    "plans.exchanges" -> "count", "plans.broadcasts" -> "count",
    "pjoin.build_rows" -> "count", "pjoin.output_rows" -> "count",
    "pjoin.build_chunks" -> "count",
    "exec.run_s" -> "s", "exec.jobs" -> "count", "exec.stages" -> "count",
    "exec.tasks" -> "count", "exec.sched_delay_s" -> "s",
    "exec.driver_gap_s" -> "s", "exec.task_run_s" -> "s",
    "exec.core_busy_frac" -> "ratio", "exec.stage_skew" -> "ratio",
    "exec.input_mb" -> "MB", "exec.shuffle_write_mb" -> "MB",
    "exec.shuffle_read_mb" -> "MB", "exec.spill_mb" -> "MB",
    "exec.broadcast_mb" -> "MB", "exec.result_mb" -> "MB",
    "exec.task_cpu_s" -> "s", "exec.gc_s" -> "s",
    "operators.stored_mb" -> "MB", "operators.blocks_left_mb" -> "MB",
    "trace.overhead" -> "ratio")

  /** The layer metrics of a set of windows taken together (one query
    * sample, or every query of one pass). `k` is the number of cores. */
  def of(ws: Seq[Window], k: Int): Map[String, Double] = {
    val tasks = ws.flatMap(_.tasks)
    val runS = Stats.covered(ws.flatMap(_.jobSpans))
    val taskRunS = tasks.map(_.runS).sum
    def mb(f: TaskSample => Long) = tasks.map(f).sum / MB
    Map(
      "queries.build_s" -> ws.map(_.buildS).sum,
      "queries.eager_jobs" -> ws.map(_.eagerJobs).sum.toDouble,
      "plans.plan_s" -> ws.map(_.planS).sum,
      "plans.pjoin_nodes" -> ws.map(_.plan.pjoinNodes).sum.toDouble,
      "plans.exchanges" -> ws.map(_.plan.exchanges).sum.toDouble,
      "plans.broadcasts" -> ws.map(_.plan.broadcasts).sum.toDouble,
      "pjoin.build_rows" -> ws.map(_.plan.buildRows).sum.toDouble,
      "pjoin.output_rows" -> ws.map(_.plan.outputRows).sum.toDouble,
      "pjoin.build_chunks" -> ws.map(_.plan.buildChunks).sum.toDouble,
      "exec.run_s" -> runS,
      "exec.jobs" -> ws.map(_.jobSpans.size).sum.toDouble,
      "exec.stages" -> ws.map(_.stages).sum.toDouble,
      "exec.tasks" -> tasks.size.toDouble,
      "exec.sched_delay_s" -> tasks.map(_.schedDelayS).sum,
      "exec.driver_gap_s" -> math.max(0.0, ws.map(_.wallS).sum - runS),
      "exec.task_run_s" -> taskRunS,
      "exec.core_busy_frac" -> (if (runS > 0) taskRunS / (runS * k) else 0.0),
      "exec.stage_skew" -> Stats.stageSkew(
        tasks.groupBy(_.stage).values.map(_.map(_.durationS)).toSeq),
      "exec.input_mb" -> mb(_.inputB),
      "exec.shuffle_write_mb" -> mb(_.shuffleWriteB),
      "exec.shuffle_read_mb" -> mb(_.shuffleReadB),
      "exec.spill_mb" -> mb(_.spillB),
      "exec.broadcast_mb" -> ws.map(_.broadcastB).sum / MB,
      "exec.result_mb" -> mb(_.resultB),
      "exec.task_cpu_s" -> tasks.map(_.cpuS).sum,
      "exec.gc_s" -> tasks.map(_.gcS).sum,
      "operators.stored_mb" -> ws.map(_.storedB).sum / MB,
      "operators.blocks_left_mb" -> ws.map(_.blocksLeftB).sum / MB)
  }

  /** Every node of a physical plan, descending into adaptive query stages
    * and subqueries; a reused exchange is not counted twice. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => nodes(s.plan)
    case _: ReusedExchangeExec => Nil
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  def planCounts(df: DataFrame): PlanCounts = {
    val ns = nodes(df.queryExecution.executedPlan)
    val pj = ns.collect { case j: ParallelHashJoinExec => j }
    def metric(name: String) = pj.map(_.metrics.get(name).map(_.value).getOrElse(0L)).sum
    PlanCounts(
      pjoinNodes = pj.size,
      exchanges = ns.count(_.isInstanceOf[ShuffleExchangeLike]),
      broadcasts = ns.count(_.isInstanceOf[BroadcastExchangeLike]),
      buildRows = metric("buildRows"),
      outputRows = metric("numOutputRows"),
      buildChunks = metric("buildChunks"))
  }
}

/** A listener that attributes scheduler and block-manager events to the
  * query that is running. The benchmark runs one query at a time and drains
  * the listener bus before it opens and after it closes a window. */
final class Tracer extends SparkListener {
  private final class Open {
    val jobStarts = mutable.Map.empty[Int, Double]
    val jobSpans = mutable.ArrayBuffer.empty[(Double, Double)]
    var stages = 0
    val tasks = mutable.ArrayBuffer.empty[TaskSample]
    var storedB = 0L
    var broadcastB = 0L
  }

  @volatile private var open: Open = null
  /** Last reported size of each RDD block, so a re-report is not counted as
    * a new store. */
  private val held = mutable.Map.empty[String, Long]
  private val seenBroadcast = mutable.Set.empty[String]

  def start(): Unit = open = new Open

  /** Close the window; `buildEndS` (epoch seconds) splits eager jobs,
    * started while the DataFrame was built, from the action's jobs.
    * `blocksLeftB` is what the block manager still holds at the close. */
  def stop(wallS: Double, buildS: Double, planS: Double, buildEndS: Double,
      plan: PlanCounts, blocksLeftB: Long): Window = synchronized {
    val o = open
    open = null
    Window(wallS, buildS, planS,
      eagerJobs = o.jobSpans.count(_._1 <= buildEndS),
      jobSpans = o.jobSpans.toSeq, stages = o.stages, tasks = o.tasks.toSeq,
      storedB = o.storedB, blocksLeftB = blocksLeftB,
      broadcastB = o.broadcastB, plan = plan)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    if (open != null) open.jobStarts(e.jobId) = e.time / 1000.0
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    if (open != null) open.jobStarts.remove(e.jobId).foreach { s =>
      open.jobSpans += ((s, e.time / 1000.0))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    if (open != null && e.stageInfo.failureReason.isEmpty) open.stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (open != null && m != null) {
      val i = e.taskInfo
      val durationMs = (i.finishTime - i.launchTime).toDouble
      val gettingResultMs =
        if (i.gettingResultTime > 0) (i.finishTime - i.gettingResultTime).toDouble else 0.0
      val delayMs = durationMs - m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime - gettingResultMs
      open.tasks += TaskSample(
        stage = (e.stageId, e.stageAttemptId),
        durationS = durationMs / 1e3,
        runS = m.executorRunTime / 1e3,
        cpuS = m.executorCpuTime / 1e9,
        gcS = m.jvmGCTime / 1e3,
        schedDelayS = math.max(0.0, delayMs) / 1e3,
        inputB = m.inputMetrics.bytesRead,
        shuffleWriteB = m.shuffleWriteMetrics.bytesWritten,
        shuffleReadB = m.shuffleReadMetrics.totalBytesRead,
        spillB = m.diskBytesSpilled,
        resultB = m.resultSize)
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    val size = info.memSize + info.diskSize
    val name = info.blockId.name
    info.blockId match {
      case _: RDDBlockId =>
        if (info.storageLevel.isValid) {
          if (open != null) open.storedB += math.max(0L, size - held.getOrElse(name, 0L))
          held(name) = size
        } else held.remove(name)
      case b: BroadcastBlockId if b.field.startsWith("piece") && info.storageLevel.isValid =>
        if (seenBroadcast.add(name) && open != null) open.broadcastB += size
      case _ =>
    }
  }
}
