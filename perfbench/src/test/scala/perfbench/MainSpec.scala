package perfbench

import org.scalatest.funsuite.AnyFunSuite

class MainSpec extends AnyFunSuite {
  private def pass(ok: Boolean, traced: Boolean, wall: Double, times: (String, Double)*) = {
    val window =
      if (traced) Some(Window(wallS = wall, buildS = 0.1, planS = 0.01, eagerJobs = 0,
        jobSpans = Nil, stages = 0, tasks = Nil, storedB = 0, blocksLeftB = 0,
        broadcastB = 0, plan = PlanCounts()))
      else None
    Pass(times.map { case (q, s) => Sample(q, s, ok, window) }, wall, 2 * wall, traced)
  }

  private def names(ms: Seq[(String, Double, String)]) = ms.map(_._1)

  test("end-to-end metrics come from clean untraced passes") {
    val timed = Seq(
      pass(ok = true, traced = false, 3.0, "a" -> 1.0, "b" -> 2.0),
      pass(ok = true, traced = false, 5.0, "a" -> 1.0, "b" -> 4.0),
      pass(ok = false, traced = false, 100.0, "a" -> 50.0, "b" -> 50.0))
    val m = Main.endToEnd(setupS = 20.0, heapMb = 80.0, timed).map(x => x._1 -> x._2).toMap
    assert(m.keySet == Set("setup_s", "pass_s", "query_gmean_s", "pass_cpu_s", "retained_heap_mb"))
    assert(m("pass_s") == 4.0 && m("pass_cpu_s") == 8.0)
    assert(math.abs(m("query_gmean_s") - math.sqrt(1.0 * 3.0)) < 1e-9)
  }

  test("every pass failed: only set-up and heap are reported") {
    val timed = Seq.fill(4)(pass(ok = false, traced = false, 3.0, "a" -> 1.0, "b" -> 2.0))
    assert(names(Main.endToEnd(20.0, 80.0, timed)) == Seq("setup_s", "retained_heap_mb"))
  }

  test("per-layer metrics need clean traced passes, and the overhead both kinds") {
    val clean = Seq(
      pass(ok = true, traced = false, 2.0, "a" -> 1.0),
      pass(ok = true, traced = true, 3.0, "a" -> 1.5))
    val m = Main.perLayer(1.0, 2.0, clean, k = 4)
    assert(names(m) == Layers.units.map(_._1))
    assert(m.find(_._1 == "trace.overhead").get._2 == 1.5)

    val failed = clean.map(p => p.copy(samples = p.samples.map(_.copy(ok = false))))
    assert(names(Main.perLayer(1.0, 2.0, failed, k = 4)) ==
      Seq("engine.session_s", "engine.register_s"))
    assert(!names(Main.perLayer(1.0, 2.0, clean.filter(_.traced), k = 4))
      .contains("trace.overhead"))
  }
}
