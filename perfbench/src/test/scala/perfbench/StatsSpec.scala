package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {
  private def close(a: Double, b: Double) = math.abs(a - b) < 1e-9

  test("median of odd and even counts") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }

  test("geometric mean") {
    assert(close(Stats.gmean(Seq(1.0, 4.0)), 2.0))
    assert(close(Stats.gmean(Seq(2.0, 8.0, 4.0)), 4.0))
    assertThrows[IllegalArgumentException](Stats.gmean(Seq(1.0, 0.0)))
  }

  test("tail is the largest sample with at least ten beyond it") {
    val xs = (1 to 20).map(_.toDouble).reverse
    assert(Stats.tail(xs, 10).contains(Stats.Tail(10.0, 50.0, 20)))
    val hundred = (1 to 100).map(_.toDouble)
    assert(Stats.tail(hundred, 10).contains(Stats.Tail(90.0, 90.0, 100)))
    assert(Stats.tail((1 to 10).map(_.toDouble), 10).isEmpty)
  }

  test("no tail below the median") {
    // 19 samples: the 9th sits at p47, below the median.
    assert(Stats.tail((1 to 19).map(_.toDouble), 10).isEmpty)
    assert(Stats.tail((1 to 11).map(_.toDouble), 10).isEmpty)
  }

  test("samples relative to their own query's median") {
    val rel = Stats.relativeToOwnMedian(Seq("a" -> 1.0, "a" -> 2.0, "a" -> 3.0, "b" -> 10.0, "b" -> 30.0))
    assert(rel.zip(Seq(0.5, 1.0, 1.5, 0.5, 1.5)).forall { case (x, y) => close(x, y) })
  }

  test("stage skew averages slowest over median, skipping single-task stages") {
    assert(close(Stats.stageSkew(Seq(Seq(1.0, 1.0, 4.0))), 4.0))
    assert(close(Stats.stageSkew(Seq(Seq(1.0, 2.0), Seq(3.0), Seq(2.0, 2.0))), (2.0 / 1.5 + 1.0) / 2))
    assert(Stats.stageSkew(Seq(Seq(5.0))) == 1.0)
    assert(Stats.stageSkew(Nil) == 1.0)
  }

  test("covered time is the union of intervals") {
    assert(close(Stats.covered(Seq((0.0, 2.0), (5.0, 6.0), (1.0, 3.0))), 4.0))
    assert(close(Stats.covered(Seq((0.0, 10.0), (2.0, 3.0))), 10.0))
    assert(Stats.covered(Nil) == 0.0)
  }
}
