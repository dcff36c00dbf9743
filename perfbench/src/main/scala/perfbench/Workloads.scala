package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.engine.Tables
import graft.plans.{AutoParallelJoin, ParallelHashJoinApi}

/** One query of a workload: how the engine runs it from a table directory,
  * and the DuckDB SQL whose answer it must match on the same tables. */
final case class BenchQuery(name: String, run: (SparkSession, String) => DataFrame, oracle: String)

/** `tables` are registered as views at set-up; `queries` is one pass. */
final case class Workload(name: String, tables: Seq[String], queries: Seq[BenchQuery])

object Workloads {
  private def inventory(names: String*): Seq[BenchQuery] =
    names.map(n => BenchQuery(n, SparkEntry.queries(n), SparkEntry.oracleSql(n)))

  /** Iterative and ML operators: many driver round trips, checkpointed and
    * persisted state, size gates, broadcasts and codegen kernels. */
  val opsPipeline: Workload = Workload("ops_pipeline", Seq("documents", "embeddings"), inventory(
    "t26_incremental_dedup", "t6_minhash_lsh", "v8_quantized_neardup"))

  val joinExec: Workload = Workload("join_exec", JoinExec.tables, JoinExec.queries)

  val all: Seq[Workload] = Seq(joinExec, opsPipeline)

  def apply(name: String): Workload = all.find(_.name == name).getOrElse(
    throw new IllegalArgumentException(
      s"unknown workload '$name' (have ${all.map(_.name).mkString(", ")})"))
}

/** The paper's operator on a seeded star schema (written by
  * `perfbench/gen.py`): fact keys u1..u4 are uniform, s1..s4 carry the
  * reference's exponential skew. Every join goes through
  * ParallelHashJoinExec, with the dimension as the build side. */
object JoinExec {
  val tables: Seq[String] = "jx_fact" +: (1 to 4).map(k => s"jx_dim$k")

  private def fact(s: SparkSession, dir: String) = Tables.t(s, dir, "jx_fact")

  private def dim(s: SparkSession, dir: String, k: Int) =
    Tables.t(s, dir, s"jx_dim$k").select(col("id").as(s"d${k}_id"), col("w").as(s"w$k"))

  private def pj(build: DataFrame, probe: DataFrame, buildKey: String, probeKey: String,
      how: String) =
    ParallelHashJoinApi.parallelHashJoin(build, probe, Seq(buildKey), Seq(probeKey), how)

  /** The reference benchmark's right-deep four-dimension star join. */
  private def star(keys: String): BenchQuery = BenchQuery(s"star4_$keys",
    (s, dir) => {
      val p = keys.take(1)
      (4 to 1 by -1).foldLeft(fact(s, dir)) { (probe, k) =>
        pj(dim(s, dir, k), probe, s"d${k}_id", s"$p$k", "inner")
      }.agg(count(lit(1)).as("n"), sum("v").as("sum_v"),
        sum(col("w1") + col("w2") + col("w3") + col("w4")).as("sum_w"))
    },
    s"""SELECT COUNT(*) AS n, SUM(v) AS sum_v, SUM(d1.w + d2.w + d3.w + d4.w) AS sum_w
       |FROM jx_fact f
       |JOIN jx_dim1 d1 ON f.${keys.take(1)}1 = d1.id
       |JOIN jx_dim2 d2 ON f.${keys.take(1)}2 = d2.id
       |JOIN jx_dim3 d3 ON f.${keys.take(1)}3 = d3.id
       |JOIN jx_dim4 d4 ON f.${keys.take(1)}4 = d4.id""".stripMargin)

  private val probeOuter = BenchQuery("right_outer_skewed",
    (s, dir) => pj(dim(s, dir, 1), fact(s, dir), "d1_id", "s1", "right_outer")
      .agg(count(lit(1)).as("n"), count("d1_id").as("matched"),
        sum("w1").as("sum_w"), sum("v").as("sum_v")),
    """SELECT COUNT(*) AS n, COUNT(d.id) AS matched, SUM(d.w) AS sum_w, SUM(f.v) AS sum_v
      |FROM jx_dim1 d RIGHT JOIN jx_fact f ON d.id = f.s1""".stripMargin)

  private val fullOuter = BenchQuery("full_outer_uniform",
    (s, dir) => pj(dim(s, dir, 2), fact(s, dir), "d2_id", "u2", "full_outer")
      .agg(count(lit(1)).as("n"), count("v").as("n_fact"), count("d2_id").as("n_dim"),
        sum("w2").as("sum_w")),
    """SELECT COUNT(*) AS n, COUNT(f.v) AS n_fact, COUNT(d.id) AS n_dim, SUM(d.w) AS sum_w
      |FROM jx_dim2 d FULL JOIN jx_fact f ON d.id = f.u2""".stripMargin)

  private val probeAnti = BenchQuery("right_anti_uniform",
    (s, dir) => pj(dim(s, dir, 4), fact(s, dir), "d4_id", "u4", "right_anti")
      .agg(count(lit(1)).as("n"), sum("v").as("sum_v")),
    """SELECT COUNT(*) AS n, SUM(v) AS sum_v FROM jx_fact f
      |WHERE NOT EXISTS (SELECT 1 FROM jx_dim4 d WHERE d.id = f.u4)""".stripMargin)

  /** Plain SQL whose joins AutoParallelJoin rewrites into the operator. */
  private val sqlText =
    """SELECT COUNT(*) AS n, SUM(f.v) AS sum_v, COUNT(e.id) AS n_e
      |FROM jx_fact f JOIN jx_dim1 d ON f.s1 = d.id
      |LEFT JOIN jx_dim2 e ON f.s2 = e.id""".stripMargin
  private val viaSql = BenchQuery("parallel_sql_skewed",
    (s, _) => AutoParallelJoin.parallelSql(s, sqlText), sqlText)

  val queries: Seq[BenchQuery] = Seq(star("uniform"), star("skewed"), probeOuter,
    fullOuter, probeAnti, viaSql)
}
