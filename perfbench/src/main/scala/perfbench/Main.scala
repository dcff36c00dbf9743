package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.{Random, Try}

import org.apache.spark.ListenerBusDrain
import org.apache.spark.sql.SparkSession

import graft.engine.{GraftSession, Tables}

/** One query execution. `window` is set when the query ran traced. */
final case class Sample(query: String, seconds: Double, ok: Boolean, window: Option[Window])

/** `jitS` and `gcS`, the JVM's compile and collection time during the pass,
  * are recorded to explain pass times, not reported as metrics. */
final case class Pass(samples: Seq[Sample], wallS: Double, cpuS: Double, traced: Boolean,
    jitS: Double = 0, gcS: Double = 0) {
  def clean: Boolean = samples.forall(_.ok)
}

/** Runs one workload in one JVM and prints its result as one JSON line.
  *
  *   --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *   --data <table dir> --expected <fingerprint file> --out <artifact file>
  *
  * or `--oracles <file>` to write every workload's DuckDB SQL as JSON.
  *
  * Protocol: build the session, register the tables and run one cold pass
  * (together `setup_s`); run an untimed warm pass; then run timed passes
  * for `--seconds`, and at least MinTimedPasses. A pass runs the workload's queries
  * once each, in an order drawn from the seed. Every execution's result is
  * fingerprinted and checked; a failed one contributes no timing. With
  * `--trace 1` the timed passes go untraced, traced, traced, untraced, ...
  * so that the warm-up trend falls evenly on both kinds; the traced ones
  * give the per-layer numbers.
  */
object Main {
  /** Cores of the local master: at most 4, at most what the host has. */
  val MaxCores = 4
  /** Pass time keeps falling while the JIT compiles, on `ops_pipeline` for
    * longer than a run lasts; the run budget allows one untimed warm pass.
    * With four timed passes the median leaves out the slowest, usually the
    * first. */
  val WarmPasses = 1
  val MinTimedPasses = 4
  /** The per-query tail in the artifact has this many samples beyond it. */
  val TailBeyond = 10

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    opts.get("oracles") match {
      case Some(file) => writeOracles(file)
      case None => run(opts)
    }
  }

  private def writeOracles(file: String): Unit = {
    val json = Json.obj(Workloads.all.map { w =>
      w.name -> Json.obj(w.queries.map(q => q.name -> Json.str(q.oracle)))
    })
    Files.writeString(Paths.get(file), json)
  }

  private def readExpected(file: String): Map[String, Fingerprint.Print] =
    scala.io.Source.fromFile(file).getLines().filter(_.nonEmpty).map { line =>
      val Array(name, rows, hash) = line.split("\t")
      name -> Fingerprint.Print(rows.toLong, hash)
    }.toMap

  /** A fixed single-threaded loop, timed before and after the run: a record
    * of how fast the host was, not a metric. */
  private def canary(): Double = {
    val t0 = System.nanoTime
    var x = 1L
    var i = 0
    while (i < 100000000) { x = x * 6364136223846793005L + 1442695040888963407L; i += 1 }
    if (x == 42L) println("")
    (System.nanoTime - t0) / 1e9
  }

  private def run(opts: Map[String, String]): Unit = {
    val workload = Workloads(opts("workload"))
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val dir = opts("data")
    val expected = readExpected(opts("expected"))
    val k = math.min(MaxCores, Runtime.getRuntime.availableProcessors)
    val canaryBefore = canary()

    val t0 = System.nanoTime
    val spark = GraftSession.build(s"local[$k]")
    val tSession = System.nanoTime
    workload.tables.foreach(n => Tables.t(spark, dir, n).createOrReplaceTempView(n))
    val tRegister = System.nanoTime
    val runner = new Runner(spark, workload, dir, expected, new Random(seed))
    val cold = runner.pass(traced = false)
    val setupS = (System.nanoTime - t0) / 1e9

    val warm = Seq.fill(WarmPasses)(runner.pass(traced = false))

    val timed = mutable.ArrayBuffer.empty[Pass]
    val tTimed = System.nanoTime
    def enough(wantTraced: Boolean) = timed.count(_.traced == wantTraced) >= MinTimedPasses
    while ((System.nanoTime - tTimed) / 1e9 < seconds || !enough(false) ||
        (traced && !enough(true)))
      timed += runner.pass(traced = traced && Set(1, 2)(timed.length % 4))

    spark.catalog.clearCache()
    // Spark frees broadcasts and shuffles of collected plans on its cleaner
    // thread after a GC finds them; give it time, then collect again.
    val heapMb = (1 to 3).map { _ =>
      System.gc()
      Thread.sleep(200)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
    }.min
    val canaryAfter = canary()
    spark.stop()

    val plain = timed.filter(p => !p.traced && p.clean).toSeq
    val tail = Stats.tail(
      Stats.relativeToOwnMedian(plain.flatMap(_.samples).map(s => s.query -> s.seconds)), TailBeyond)
    val metrics =
      if (traced) perLayer((tSession - t0) / 1e9, (tRegister - tSession) / 1e9, timed.toSeq, k)
      else endToEnd(setupS, heapMb, timed.toSeq)

    val all = cold +: (warm ++ timed.toSeq)
    val perQuery = workload.queries.map { q =>
      val mine = timed.toSeq.flatMap(_.samples).filter(_.query == q.name)
      val ok = mine.filter(_.ok)
      val windows = ok.flatMap(_.window)
      val layerMedians =
        if (windows.isEmpty) Nil
        else {
          val each = windows.map(w => Layers.of(Seq(w), k))
          each.head.keys.toSeq.sorted.map(m => m -> Json.num(Stats.median(each.map(_(m)))))
        }
      q.name -> Json.obj(Seq(
        "samples_s" -> Json.arr(ok.filterNot(_.window.isDefined).map(s => Json.num(s.seconds))),
        "traced_samples_s" -> Json.arr(ok.filter(_.window.isDefined).map(s => Json.num(s.seconds))),
        "failed" -> all.flatMap(_.samples).count(s => s.query == q.name && !s.ok).toString,
        "error" -> runner.errors.get(q.name).map(Json.str).getOrElse("null"),
        "layers" -> Json.obj(layerMedians)))
    }
    def passes(ps: Seq[Pass]) = Json.arr(ps.map(p => Json.obj(Seq(
      "wall_s" -> Json.num(p.wallS), "cpu_s" -> Json.num(p.cpuS),
      "jit_s" -> Json.num(p.jitS), "gc_s" -> Json.num(p.gcS),
      "traced" -> p.traced.toString, "clean" -> p.clean.toString))))
    val rt = Runtime.getRuntime
    val artifact = Json.obj(Seq(
      "workload" -> Json.str(workload.name),
      "seed" -> seed.toString,
      "seconds" -> Json.num(seconds),
      "trace" -> traced.toString,
      "env" -> Json.obj(Seq(
        "k_requested" -> k.toString,
        "available_processors" -> rt.availableProcessors.toString,
        "max_heap_mb" -> Json.num(rt.maxMemory / 1e6),
        "java_version" -> Json.str(System.getProperty("java.version")),
        "spark_version" -> Json.str(spark.version))),
      "canary_s" -> Json.obj(Seq(
        "before" -> Json.num(canaryBefore), "after" -> Json.num(canaryAfter))),
      "setup" -> Json.obj(Seq(
        "setup_s" -> Json.num(setupS),
        "session_s" -> Json.num((tSession - t0) / 1e9),
        "register_s" -> Json.num((tRegister - tSession) / 1e9),
        "cold_pass_s" -> Json.num(cold.wallS))),
      "warm_passes" -> passes(warm),
      "timed_passes" -> passes(timed.toSeq),
      "query_tail_rel" -> tail.map(t => Json.obj(Seq(
        "value" -> Json.num(t.value), "percentile" -> Json.num(t.percentile),
        "samples" -> t.samples.toString))).getOrElse("null"),
      "attempted" -> runner.attempted.toString,
      "failed" -> runner.failed.toString,
      "queries" -> Json.obj(perQuery),
      "metrics" -> metricsJson(metrics)))
    Files.writeString(Paths.get(opts("out")), artifact)

    println(Json.obj(Seq(
      "correct" -> (runner.failed == 0).toString,
      "attempted" -> runner.attempted.toString,
      "failed" -> runner.failed.toString,
      "metrics" -> metricsJson(metrics))))
  }

  /** The end-to-end metrics that the run's timed passes allow. Pass and
    * query times come only from untraced passes in which every query gave
    * the right answer; with no such pass only `setup_s` and
    * `retained_heap_mb` are left. */
  def endToEnd(setupS: Double, heapMb: Double, timed: Seq[Pass]): Seq[(String, Double, String)] = {
    val plain = timed.filter(p => !p.traced && p.clean)
    val fromPasses = if (plain.isEmpty) Nil else {
      val perQuery = plain.flatMap(_.samples).groupBy(_.query).values
        .map(v => Stats.median(v.map(_.seconds))).toSeq
      Seq(
        ("pass_s", Stats.median(plain.map(_.wallS)), "s"),
        ("query_gmean_s", Stats.gmean(perQuery), "s"),
        ("pass_cpu_s", Stats.median(plain.map(_.cpuS)), "s"))
    }
    (("setup_s", setupS, "s") +: fromPasses) :+ (("retained_heap_mb", heapMb, "MB"))
  }

  /** The per-layer metrics, in `Layers.units` order: each the median over
    * the clean traced passes of its per-pass total. Without a clean traced
    * pass only the `engine` set-up times are left; `trace.overhead` needs a
    * clean pass of each kind. */
  def perLayer(sessionS: Double, registerS: Double, timed: Seq[Pass],
      k: Int): Seq[(String, Double, String)] = {
    val (tracedClean, plain) = timed.filter(_.clean).partition(_.traced)
    val perPass = tracedClean.map(p => Layers.of(p.samples.flatMap(_.window), k))
    val fromPasses = perPass.headOption.toSeq.flatMap(_.keys)
      .map(m => m -> Stats.median(perPass.map(_(m)))).toMap
    val overhead =
      if (tracedClean.isEmpty || plain.isEmpty) Map.empty
      else Map("trace.overhead" ->
        Stats.median(tracedClean.map(_.wallS)) / Stats.median(plain.map(_.wallS)))
    val layers = fromPasses ++ overhead ++
      Map("engine.session_s" -> sessionS, "engine.register_s" -> registerS)
    Layers.units.flatMap { case (m, u) => layers.get(m).map(v => (m, v, u)) }
  }

  private def metricsJson(ms: Seq[(String, Double, String)]): String =
    Json.obj(ms.map { case (name, v, unit) =>
      name -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(unit)))
    })
}

/** Runs passes and queries, checks every result and keeps the counts. */
final class Runner(spark: SparkSession, workload: Workload, dir: String,
    expected: Map[String, Fingerprint.Print], rng: Random) {
  var attempted = 0
  var failed = 0
  /** First failure of each query. */
  val errors = mutable.LinkedHashMap.empty[String, String]
  private val tracer = new Tracer

  def pass(traced: Boolean): Pass = {
    val order = rng.shuffle(workload.queries)
    if (traced) spark.sparkContext.addSparkListener(tracer)
    val (cpu0, jit0, gc0) = (cpuTime(), jitTime(), gcTime())
    val t0 = System.nanoTime
    val samples = order.map(q => query(q, traced))
    val wall = (System.nanoTime - t0) / 1e9
    val cpu = cpuTime() - cpu0
    if (traced) spark.sparkContext.removeSparkListener(tracer)
    Pass(samples, wall, cpu, traced, jitTime() - jit0, gcTime() - gc0)
  }

  private def cpuTime(): Double =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  private def jitTime(): Double =
    ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3

  private def gcTime(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

  private def query(q: BenchQuery, traced: Boolean): Sample = {
    attempted += 1
    if (traced) { ListenerBusDrain(spark.sparkContext); tracer.start() }
    val t0 = System.nanoTime
    val outcome = Try {
      val df = q.run(spark, dir)
      val t1 = System.nanoTime
      val buildEnd = System.currentTimeMillis / 1000.0
      if (traced) df.queryExecution.executedPlan
      val t2 = System.nanoTime
      val rows = df.collect()
      val t3 = System.nanoTime
      (df, rows, t1, buildEnd, t2, t3)
    }
    val sample = outcome.map { case (df, rows, t1, buildEnd, t2, t3) =>
      val seconds = (t3 - t0) / 1e9
      val window = if (!traced) None else {
        val plan = Layers.planCounts(df)
        ListenerBusDrain(spark.sparkContext)
        val blocksLeft = spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
        Some(tracer.stop(seconds, (t1 - t0) / 1e9, (t2 - t1) / 1e9, buildEnd, plan, blocksLeft))
      }
      val got = Fingerprint.of(df.columns.toSeq, rows.toSeq)
      val ok = expected.get(q.name).contains(got)
      if (!ok) errors.getOrElseUpdate(q.name,
        s"result $got, expected ${expected.get(q.name).getOrElse("no expected value")}")
      Sample(q.name, seconds, ok, window)
    }.recover { case e: Throwable =>
      if (traced) { ListenerBusDrain(spark.sparkContext); tracer.stop(0, 0, 0, 0, PlanCounts(), 0) }
      errors.getOrElseUpdate(q.name, s"${e.getClass.getSimpleName}: ${e.getMessage}")
      Sample(q.name, (System.nanoTime - t0) / 1e9, ok = false, window = None)
    }.get
    if (!sample.ok) failed += 1
    spark.catalog.clearCache()
    sample
  }
}
