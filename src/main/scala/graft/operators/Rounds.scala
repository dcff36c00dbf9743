package graft.operators

import org.apache.spark.SparkContext
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one round loop of the iterative operators (pageRank, connected
  * components, k-core).
  *
  * A round is a step from the previous round's checkpoint to the next
  * one, which the step materializes with ONE Spark job: an eager
  * [[Checkpoints.cut]], or a lazy cut whose single action also computes
  * the convergence scalar. The driver frees round N−1's checkpoint as
  * soon as round N has materialized (the Pregel discipline: without it a
  * 7-run sf1 soak of the components loop degraded 9.8 s → 105 s on pure
  * GC), so a long loop holds at most two rounds of storage.
  *
  * Per-round logging is Spark's own: every job of round i runs under the
  * job description `"<op> round i"`, and the operator's setup jobs under
  * `"<op> init"`, so any `SparkListener` (or the UI) reads per-round
  * time, tasks and shuffle bytes from `spark.job.description`. The
  * caller's description is restored afterwards, also on failure.
  */
private[graft] object Rounds {

  /** Run `body` (an operator's pre-loop jobs) as `"<op> init"`. */
  def init[T](spark: SparkSession, op: String)(body: => T): T =
    described(spark.sparkContext, s"$op init")(body)

  /** Run rounds 1, 2, … from `first` until `step` reports convergence
    * or `maxRounds` rounds have run, and return the last round's
    * checkpoint (the caller's result; `first` if no round ran).
    *
    * `step(prev, i)` builds and materializes round i from round i−1's
    * checkpoint and returns it with its convergence flag. A step that
    * never converges runs exactly `maxRounds` rounds. When
    * `notConverged` is given, reaching `maxRounds` without convergence
    * frees the last checkpoint and throws an `IllegalStateException`
    * with its message for the number of rounds run. */
  def iterate(
      op: String,
      first: DataFrame,
      maxRounds: Int,
      notConverged: Option[Int => String] = None)(
      step: (DataFrame, Int) => (DataFrame, Boolean)): DataFrame = {
    val sc = first.sparkSession.sparkContext
    var cur = first
    var round = 0
    var converged = false
    try {
      while (!converged && round < maxRounds) {
        round += 1
        val (next, done) = described(sc, s"$op round $round")(step(cur, round))
        Checkpoints.free(cur)
        cur = next
        converged = done
      }
      if (!converged)
        notConverged.foreach(message => throw new IllegalStateException(message(round)))
      cur
    } catch {
      case e: Exception =>
        Checkpoints.free(cur)
        throw e
    }
  }

  private def described[T](sc: SparkContext, desc: String)(body: => T): T = {
    val caller = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(desc)
    try body finally sc.setJobDescription(caller)
  }
}
