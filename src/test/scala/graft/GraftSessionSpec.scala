package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.GraftListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.physical.RoundRobinPartitioning
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.{GraftSession, Tables}
import graft.operators.TextDedup

/** Small inputs keep every core busy: a persisted frame is scanned in
  * the partitions AQE coalesced it to, not in all shuffle partitions, and
  * the shingle expansion spreads an input that would run in fewer tasks
  * than the session has cores. Stage task counts and job starts come
  * from a listener; exchanges from the final adaptive plan. */
class GraftSessionSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val sf = "/root/testdata/sf0.01"

  /** `documents` as its one-row-group file (`one`) and as the same rows
    * in eight files (`many`). */
  private lazy val dirs: (String, String) = {
    val root = Files.createTempDirectory("graft-spread")
    val one = Files.createDirectories(root.resolve("one"))
    Files.copy(Paths.get(s"$sf/documents.parquet"), one.resolve("documents.parquet"))
    val many = root.resolve("many")
    spark.read.parquet(s"$sf/documents.parquet").repartition(8)
      .write.parquet(many.resolve("documents.parquet").toString)
    (one.toString, many.toString)
  }
  private def one: String = dirs._1
  private def many: String = dirs._2

  /** Runs `body`; returns its result, the jobs it started and the task
    * count of every stage it ran. */
  private def observed[T](body: => T): (T, Int, Seq[Int]) = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    val stages = new ConcurrentLinkedQueue[Int]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        stages.add(e.stageInfo.numTasks)
    }
    GraftListenerBus.drain(sc)
    sc.addSparkListener(listener)
    try {
      val out = body
      GraftListenerBus.drain(sc)
      (out, jobs.get, stages.asScala.toSeq)
    } finally sc.removeSparkListener(listener)
  }

  private def flatten(p: SparkPlan): Seq[SparkPlan] = {
    val inner = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case other => other.children
    }
    p +: inner.flatMap(flatten)
  }

  /** Shuffle exchanges of `df`'s final plan, run by collecting it. */
  private def exchanges(df: DataFrame): Seq[ShuffleExchangeExec] = {
    df.collect()
    flatten(df.queryExecution.executedPlan).collect { case e: ShuffleExchangeExec => e }
  }

  private def shingles(df: DataFrame): DataFrame =
    TextDedup.shingleRows(df, "doc_id", "text", 3, 1000)

  private def sorted(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).sorted.toSeq

  test("GraftSession lets AQE coalesce a persisted aggregate; the rows are the same") {
    def session(canChange: Boolean): SparkSession = {
      val s = spark.newSession()
      GraftSession.settings(32).filter(_._1.startsWith("spark.sql.")).foreach {
        case (k, v) => s.conf.set(k, v)
      }
      s.conf.set("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", canChange.toString)
      s
    }
    assert(GraftSession.settings(32).contains(
      "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true"))
    def scan(s: SparkSession): (Seq[Row], Seq[Int]) = {
      val agg = s.range(0, 2000).groupBy((col("id") % 10).as("k"))
        .agg(count(lit(1)).as("n"), sum("id").as("s")).persist()
      try {
        agg.count() // fills the cache
        val (rows, _, stages) = observed(agg.collect().toSeq.sortBy(_.getLong(0)))
        (rows, stages)
      } finally agg.unpersist(blocking = true)
    }
    val (onRows, onStages) = scan(session(canChange = true))
    val (offRows, offStages) = scan(session(canChange = false))
    assert(offStages == Seq(32), s"with the setting off the cache keeps 32 partitions: $offStages")
    assert(onStages.nonEmpty && onStages.max < 32, s"coalesced cache scan: $onStages")
    assert(onRows == offRows && onRows.size == 10)
  }

  test("t6, t19 and t26 return the same rows spread from one row group as from several files") {
    val oneDocs = Tables.t(spark, one, "documents")
    val manyDocs = Tables.t(spark, many, "documents")
    // the one-row-group file reads in one task and is spread; the
    // eight files already give every core a task and are not
    def roundRobin(df: DataFrame) = exchanges(shingles(df))
      .filter(_.outputPartitioning.isInstanceOf[RoundRobinPartitioning])
    assert(roundRobin(oneDocs).map(_.outputPartitioning.numPartitions) ==
      Seq(spark.sparkContext.defaultParallelism))
    assert(roundRobin(manyDocs).isEmpty)
    for (q <- Seq("t6_minhash_lsh", "t19_neardup_components", "t26_incremental_dedup")) {
      val a = sorted(SparkEntry.queries(q)(spark, one))
      val b = sorted(SparkEntry.queries(q)(spark, many))
      assert(a.nonEmpty && a == b, s"$q differs with and without the spread")
      spark.catalog.clearCache()
    }
  }

  test("over one row group the shingle stage runs defaultParallelism tasks") {
    val cores = spark.sparkContext.defaultParallelism
    val df = shingles(Tables.t(spark, one, "documents"))
    val (n, _, stages) = observed(df.count())
    assert(n > 0)
    // the scan of the one row group, then the expansion on every core
    assert(stages.contains(1) && stages.contains(cores), s"stage tasks: $stages")
  }

  test("an input with enough partitions gets no extra exchange") {
    val docs = Tables.t(spark, many, "documents")
    assert(exchanges(shingles(docs)).isEmpty)
    val (_, _, stages) = observed(shingles(docs).count())
    // Spark packs the small files into at least one task per core
    assert(stages.head >= spark.sparkContext.defaultParallelism, s"stage tasks: $stages")
  }

  test("one row group split into several ranges is spread; many row groups are not") {
    val cores = spark.sparkContext.defaultParallelism
    val root = Files.createTempDirectory("graft-spread-big")
    // incompressible text, several MB per core, written as one row
    // group and as row groups of 1 MB
    val rows = spark.range(0, 12000).select(col("id").as("doc_id"),
      expr("concat_ws(' ', transform(sequence(1, 40), i -> sha2(cast(id * 100 + i AS STRING), 256)))")
        .as("text"))
    def write(name: String, blockBytes: Long): (String, Int) = {
      val dir = root.resolve(name).resolve("documents.parquet").toString
      rows.coalesce(1).write.option("parquet.block.size", blockBytes).parquet(dir)
      val file = Files.list(Paths.get(dir)).iterator.asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(file.toString), spark.sparkContext.hadoopConfiguration))
      val groups = try reader.getFooter.getBlocks.size finally reader.close()
      (root.resolve(name).toString, groups)
    }
    val (oneGroup, g1) = write("one", 256L << 20)
    val (manyGroups, gn) = write("many", 1L << 20)
    assert(g1 == 1 && gn >= cores, s"row groups: $g1, $gn")
    def planned(dir: String) = Tables.t(spark, dir, "documents")
    // both files are planned as at least one byte range per core
    for (dir <- Seq(oneGroup, manyGroups))
      assert(planned(dir).rdd.getNumPartitions >= cores)
    // the plan before it runs: its exchanges are all placed already
    def roundRobin(dir: String) = flatten(shingles(planned(dir)).queryExecution.executedPlan)
      .collect { case e: ShuffleExchangeExec => e }
      .filter(_.outputPartitioning.isInstanceOf[RoundRobinPartitioning])
    assert(roundRobin(oneGroup).map(_.outputPartitioning.numPartitions) == Seq(cores))
    assert(roundRobin(manyGroups).isEmpty)
  }

  test("building the expansion starts no job, whatever sits below it") {
    val docs = Tables.t(spark, one, "documents")
    val shuffled = docs.repartition(2, col("doc_id"))
    val aggregated = docs.groupBy("doc_id").agg(max("text").as("text"))
    val cached = docs.repartition(3).persist()
    try {
      for ((what, df) <- Seq("file scan" -> docs, "shuffle" -> shuffled,
          "aggregate" -> aggregated, "cache" -> cached)) {
        val (_, jobs, _) = observed(shingles(df))
        assert(jobs == 0, s"building over a $what started $jobs jobs")
      }
      // a shuffle below is left to AQE: no round-robin is added
      for (df <- Seq(shuffled, aggregated))
        assert(!exchanges(shingles(df)).exists(
          _.outputPartitioning.isInstanceOf[RoundRobinPartitioning]))
    } finally cached.unpersist(blocking = true)
  }
}
