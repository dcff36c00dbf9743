package perfbench

import org.scalatest.funsuite.AnyFunSuite

class LayersSpec extends AnyFunSuite {
  private def close(a: Double, b: Double) = math.abs(a - b) < 1e-9

  private def task(stage: Int, duration: Double, run: Double) = TaskSample(
    stage = (stage, 0), durationS = duration, runS = run, cpuS = run / 2, gcS = 0.1,
    schedDelayS = 0.01, inputB = 1000000, shuffleWriteB = 2000000, shuffleReadB = 500000,
    spillB = 0, resultB = 1000)

  private def window(wall: Double, spans: Seq[(Double, Double)], tasks: Seq[TaskSample],
      plan: PlanCounts = PlanCounts()) =
    Window(wallS = wall, buildS = 0.2, planS = 0.05, eagerJobs = 1, jobSpans = spans,
      stages = tasks.map(_.stage).distinct.size, tasks = tasks, storedB = 3000000,
      blocksLeftB = 1000000, broadcastB = 500000, plan = plan)

  test("one query: job time, driver gap, core use and skew") {
    val w = window(wall = 3.0, spans = Seq((100.0, 101.0), (100.5, 102.0)),
      tasks = Seq(task(1, 1.0, 0.9), task(1, 1.0, 0.9), task(1, 3.0, 2.8), task(2, 0.5, 0.4)))
    val m = Layers.of(Seq(w), k = 4)
    assert(close(m("exec.run_s"), 2.0))
    assert(close(m("exec.driver_gap_s"), 1.0))
    assert(m("exec.jobs") == 2 && m("exec.stages") == 2 && m("exec.tasks") == 4)
    assert(close(m("exec.task_run_s"), 5.0))
    assert(close(m("exec.core_busy_frac"), 5.0 / (2.0 * 4)))
    assert(close(m("exec.stage_skew"), 3.0))
    assert(close(m("exec.input_mb"), 4.0))
    assert(close(m("exec.shuffle_write_mb"), 8.0))
    assert(close(m("exec.task_cpu_s"), 2.5))
    assert(close(m("operators.stored_mb"), 3.0))
  }

  test("a pass sums its queries and pools their stages") {
    val pj = PlanCounts(pjoinNodes = 2, exchanges = 3, buildRows = 10, outputRows = 7, buildChunks = 2)
    val a = window(2.0, Seq((0.0, 1.0)), Seq(task(1, 1.0, 1.0), task(1, 2.0, 2.0)), pj)
    val b = window(2.0, Seq((5.0, 6.5)), Seq(task(7, 1.0, 1.0), task(7, 4.0, 4.0)), pj)
    val m = Layers.of(Seq(a, b), k = 2)
    assert(close(m("exec.run_s"), 2.5))
    assert(close(m("exec.driver_gap_s"), 1.5))
    assert(close(m("exec.stage_skew"), (2.0 / 1.5 + 4.0 / 2.5) / 2))
    assert(m("plans.pjoin_nodes") == 4 && m("pjoin.build_rows") == 20 && m("pjoin.output_rows") == 14)
    assert(m("queries.eager_jobs") == 2)
    assert(close(m("queries.build_s"), 0.4))
  }

  test("every aggregated metric is named in the unit table") {
    val m = Layers.of(Seq(window(1.0, Nil, Nil)), k = 1)
    val named = Layers.units.map(_._1).toSet
    assert(m.keySet.subsetOf(named))
    assert(named -- m.keySet == Set("engine.session_s", "engine.register_s", "trace.overhead"))
    assert(m("exec.core_busy_frac") == 0.0 && m("exec.stage_skew") == 1.0)
  }
}
