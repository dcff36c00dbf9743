package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{EqualNullSafe, Expression, PredicateHelper}
import org.apache.spark.sql.catalyst.planning.ExtractEquiJoinKeys
import org.apache.spark.sql.catalyst.plans._
import org.apache.spark.sql.catalyst.plans.logical.{BROADCAST, HintInfo, Join, LogicalPlan, Project}
import org.apache.spark.sql.classic
import org.apache.spark.sql.internal.SQLConf

/** Transparent rewrite of ordinary SQL equi-joins into the custom
  * [[ParallelHashJoin]] operator — the Spark analog of the reference's
  * `UseParallelHashJoinRule`
  * (`/root/reference/src/operator/use_parallel_hash_join_rule.rs:52-114`),
  * which walks the physical plan and converts every `HashJoinExec` whose
  * shape its operator supports, leaving the rest untouched.
  *
  * Guard conditions mirror `use_parallel_hash_join_rule.rs:78-92`
  * one-for-one:
  *  - supported join type (`join_type_is_supported`, rs:78) →
  *    [[ParallelHashJoin.supports]];
  *  - partitioned mode only, never broadcast/CollectLeft (rs:84-86) →
  *    skip joins Spark would broadcast (size under
  *    `autoBroadcastJoinThreshold` or an explicit BROADCAST hint);
  *  - no null-safe equality (`null_equals_null`, rs:87-89) → bail on a
  *    cross-side `<=>` conjunct (Spark folds it into coalesce'd keys,
  *    which would silently change our exec's null-never-matches rule).
  *
  * Two activation surfaces:
  *  - `spark.graft.parallelHashJoin.auto` conf = `true` | `required`:
  *    [[ParallelHashJoinStrategy]] then plans *plain logical Joins*
  *    (from `spark.sql` text or `df.join`) into the custom exec.
  *    `required` additionally ignores the broadcast-size guard —
  *    the reference's `new_required` mode (rs:48-50).
  *  - [[AutoParallelJoin.parallelSql]]: rewrite a SQL string's analyzed
  *    plan directly (required mode) — conf-independent, used by the
  *    `pjsql_*` correctness queries so the rewrite survives write-time
  *    re-planning.
  */
object AutoParallelJoin extends PredicateHelper {

  val autoConfKey = "spark.graft.parallelHashJoin.auto"

  sealed trait Mode
  case object Off extends Mode
  /** Convert joins Spark would shuffle; leave broadcast-eligible ones. */
  case object Guarded extends Mode
  /** Convert every supported equi-join (reference's `required`). */
  case object Required extends Mode

  def mode(conf: SQLConf): Mode =
    conf.getConfString(autoConfKey, "false").toLowerCase match {
      case "true" | "guarded" => Guarded
      case "required" => Required
      case _ => Off
    }

  /** Extract equi-keys and residual condition from a plain logical Join
    * iff every reference guard passes; `None` falls through to Spark's
    * built-in join selection (the rule's `Transformed::no`). */
  def extract(j: Join, ignoreBroadcast: Boolean, conf: SQLConf)
      : Option[(Seq[Expression], Seq[Expression], JoinType, Option[Expression])] =
    j match {
      case ExtractEquiJoinKeys(jt, leftKeys, rightKeys, nonEquiCond, _, _, _, _)
          if ParallelHashJoin.supports(jt) && !hasCrossSideNullSafe(j) &&
            (ignoreBroadcast || !wouldBroadcast(jt, j, conf)) =>
        Some((leftKeys, rightKeys, jt, nonEquiCond))
      case _ => None
    }

  /** `a <=> b` across the two sides: ExtractEquiJoinKeys would rewrite it
    * into `coalesce(key, default)`-style keys where NULLs *do* match —
    * exactly the `null_equals_null` case the reference rejects (rs:87-89).
    * A single-side `<=>` is just a residual predicate and stays fine. */
  private def hasCrossSideNullSafe(j: Join): Boolean =
    j.condition.exists(splitConjunctivePredicates(_).exists {
      case e: EqualNullSafe => !canEvaluate(e, j.left) && !canEvaluate(e, j.right)
      case _ => false
    })

  /** Would Spark's JoinSelection pick a broadcast join here? Mirrors the
    * reference's partitioned-mode-only guard (rs:84-86): guarded mode
    * leaves such joins to Spark's broadcast hash join. Converted, most of
    * them would take the exec's shared build, itself a broadcast, so
    * there is little to gain; but a left outer join whose right side is
    * not 3× smaller than its left keeps the co-partitioned build, with
    * two shuffles where Spark needs none. Required mode converts them
    * all. */
  private def wouldBroadcast(jt: JoinType, j: Join, conf: SQLConf): Boolean = {
    def small(p: LogicalPlan): Boolean = {
      val threshold = conf.autoBroadcastJoinThreshold
      threshold > 0 && p.stats.sizeInBytes >= 0 && p.stats.sizeInBytes <= threshold
    }
    def hinted(h: Option[HintInfo]): Boolean = h.exists(_.strategy.contains(BROADCAST))
    // sides Spark can broadcast per join type (JoinSelection.canBuildBroadcast*)
    val rightSide = jt match {
      case Inner | LeftOuter | LeftSemi | LeftAnti => true
      case _ => false
    }
    val leftSide = jt match {
      case Inner | RightOuter => true
      case _ => false
    }
    (rightSide && (hinted(j.hint.rightHint) || small(j.right))) ||
      (leftSide && (hinted(j.hint.leftHint) || small(j.left)))
  }

  /** Rewrite every eligible Join in an (analyzed) plan to the explicit
    * [[ParallelHashJoin]] node (required mode — broadcast guard off),
    * building the smaller side as the strategy's transparent path does
    * ([[ParallelHashJoinStrategy.transparentJoin]]). */
  def rewritePlan(plan: LogicalPlan, conf: SQLConf): LogicalPlan =
    plan.transformUp {
      case j: Join =>
        extract(j, ignoreBroadcast = true, conf)
          .map { case (lk, rk, jt, cond) =>
            val (node, reorder) =
              ParallelHashJoinStrategy.transparentJoin(j, lk, rk, jt, cond)
            if (reorder) Project(j.output, node) else node
          }
          .getOrElse(j)
    }

  /** Run a plain SQL string with every eligible equi-join planned through
    * [[ParallelHashJoinExec]]. The rewrite lands in the *logical* plan, so
    * it survives downstream re-planning (e.g. `df.write` building a fresh
    * physical plan). Fails loudly if nothing was rewritten — a `pjsql_*`
    * gate that silently ran on built-in joins would prove nothing. */
  def parallelSql(spark: SparkSession, sqlText: String): DataFrame = {
    ParallelHashJoinApi.install(spark)
    val cs = spark.asInstanceOf[classic.SparkSession]
    val analyzed = spark.sql(sqlText).queryExecution.analyzed
    val rewritten = rewritePlan(analyzed, cs.sessionState.conf)
    val converted = rewritten.collect { case p: ParallelHashJoin => p }
    require(converted.nonEmpty,
      s"parallelSql: no eligible equi-join to convert in: $sqlText")
    classic.GraftSqlBridge.ofRows(spark, rewritten)
  }
}
