package perfbench

/** The metric arithmetic of the benchmark, kept free of Spark so that it
  * can be tested on plain numbers. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no values")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  def gmean(xs: Seq[Double]): Double = {
    require(xs.nonEmpty && xs.forall(_ > 0), s"geometric mean needs positive values: $xs")
    math.exp(xs.map(math.log).sum / xs.length)
  }

  /** A high percentile that still rests on data: the largest sample that
    * has at least `beyond` samples above it, with the percentile it sits at.
    * There is none when that sample would sit below the median: with so few
    * samples the value reads the spread of the fastest runs, not a tail. */
  final case class Tail(value: Double, percentile: Double, samples: Int)

  def tail(xs: Seq[Double], beyond: Int = 10): Option[Tail] = {
    val n = xs.length
    val i = n - 1 - beyond
    if (i < 0 || 2 * (i + 1) < n) None
    else Some(Tail(xs.sorted.apply(i), 100.0 * (i + 1) / n, n))
  }

  /** Each sample divided by the median of its own key: per-query latency
    * spread on a common scale, so that queries of unlike cost can be pooled. */
  def relativeToOwnMedian(samples: Seq[(String, Double)]): Seq[Double] = {
    val medians = samples.groupBy(_._1).map { case (k, v) => k -> median(v.map(_._2)) }
    samples.map { case (k, x) => x / medians(k) }
  }

  /** Mean over stages of (slowest task / median task). Stages with a single
    * task cannot straggle and are left out; with none left the skew is 1. */
  def stageSkew(taskTimesPerStage: Seq[Seq[Double]]): Double = {
    val ratios = taskTimesPerStage.filter(_.length >= 2).map { ts =>
      ts.max / math.max(median(ts), 1e-3)
    }
    if (ratios.isEmpty) 1.0 else ratios.sum / ratios.length
  }

  /** Length of the union of closed intervals [start, end]. */
  def covered(intervals: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curStart = Double.NaN
    var curEnd = Double.NaN
    intervals.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (curStart.isNaN || s > curEnd) {
        if (!curStart.isNaN) total += curEnd - curStart
        curStart = s; curEnd = e
      } else curEnd = math.max(curEnd, e)
    }
    if (!curStart.isNaN) total += curEnd - curStart
    total
  }
}
