package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Graph

/** Graph.pageRank must match an independent single-threaded
  * reimplementation of the same integer fixed-point recurrence
  * bit-for-bit (that exactness is what puts it on the hash-exact
  * oracle gate), rank structurally sensible graphs correctly, and
  * leave no cached blocks behind. */
class GraphOpsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** Reference model: same recurrence, plain Scala Maps, sequential. */
  private def model(
      edges: Seq[(Long, Long)], iters: Int,
      dampingPct: Long = 85L, scale: Long = 1000000000L): Map[Long, Long] = {
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct
    val deg = edges.groupBy(_._1).map { case (s, es) => s -> es.size.toLong }
    val base = (100L - dampingPct) * scale / 100L
    var r = nodes.map(_ -> scale).toMap
    for (_ <- 0 until iters) {
      val contrib = edges
        .filter { case (s, _) => deg.getOrElse(s, 0L) > 0 }
        .map { case (s, d) => d -> r(s) / deg(s) }
        .groupBy(_._1).map { case (d, cs) => d -> cs.map(_._2).sum }
      r = nodes.map(n => n -> (base + dampingPct * contrib.getOrElse(n, 0L) / 100L)).toMap
    }
    r
  }

  private def run(edges: Seq[(Long, Long)], iters: Int): Map[Long, Long] = {
    import spark.implicits._
    Graph.pageRank(edges.toDF("src", "dst"), "src", "dst", iters = iters)
      .collect().map(row => row.getLong(0) -> row.getLong(1)).toMap
  }

  test("pageRank matches the sequential integer model bit-for-bit") {
    // cycle + chord + dangling sink: exercises shares, damping floor
    // division, and mass decay through node 5 (no out-edges)
    val edges = Seq[(Long, Long)](
      (1L, 2L), (2L, 3L), (3L, 1L), (1L, 3L), (4L, 1L), (3L, 5L))
    for (iters <- Seq(1, 3, 7)) {
      assert(run(edges, iters) == model(edges, iters), s"iters=$iters")
    }
  }

  test("hub of a star graph gets the highest rank") {
    val spokes = (1L to 20L).map(i => (i, 100L)) // all point at the hub
    val back = (1L to 20L).map(i => (100L, i))   // hub points back
    val ranks = run(spokes ++ back, iters = 3)
    val hub = ranks(100L)
    assert((1L to 20L).forall(i => ranks(i) < hub))
    assert(ranks == model(spokes ++ back, 3))
  }

  test("parallel edges weight the destination (caller-owned dedup)") {
    val ranks = run(Seq((1L, 2L), (1L, 2L), (1L, 3L)), iters = 2)
    assert(ranks(2L) > ranks(3L))
  }

  test("pageRank leaves no cached plans behind") {
    import spark.implicits._
    spark.catalog.clearCache()
    val edges = (1L to 50L).map(i => (i, (i % 7) + 1L)).toDF("src", "dst")
    Graph.pageRank(edges, iters = 4).count()
    assert(org.apache.spark.sql.classic.GraftSqlBridge.cacheIsEmpty(spark))
  }

  test("iters and damping bounds are validated") {
    import spark.implicits._
    val e = Seq((1L, 2L)).toDF("src", "dst")
    intercept[IllegalArgumentException](Graph.pageRank(e, iters = 0))
    intercept[IllegalArgumentException](Graph.pageRank(e, dampingPct = 101))
  }

  /** Brute-force per-node triangle counts over a small undirected
    * graph (id ordering, no degree orientation) — the invariance the
    * oracle relies on. */
  private def triModel(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val und = edges.filter(e => e._1 != e._2)
      .map(e => (e._1 min e._2, e._1 max e._2)).distinct.toSet
    val nodes = und.flatMap(e => Seq(e._1, e._2))
    val tris = for {
      (a, b) <- und; (a2, c) <- und
      if a2 == a && b < c && und.contains((b, c))
    } yield (a, b, c)
    val counts = tris.toSeq.flatMap(t => Seq(t._1, t._2, t._3))
      .groupBy(identity).map { case (n, xs) => n -> xs.size.toLong }
    nodes.map(n => n -> counts.getOrElse(n, 0L)).toMap
  }

  private def runTri(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    import spark.implicits._
    Graph.triangleCounts(edges.toDF("src", "dst"), "src", "dst")
      .collect().map(row => row.getLong(0) -> row.getLong(1)).toMap
  }

  test("triangleCounts matches brute force on mixed structure") {
    // K4 on 1-4 (4 triangles, 3 each) + a pendant (5), a disconnected
    // path 6-7-8 (0 triangles), duplicate/reversed/self-loop noise
    val k4 = for { a <- 1L to 4L; b <- 1L to 4L if a < b } yield (a, b)
    val edges = k4 ++ Seq[(Long, Long)](
      (4L, 5L), (6L, 7L), (7L, 8L), (2L, 1L), (1L, 1L), (3L, 4L))
    val got = runTri(edges)
    assert(got == triModel(edges))
    assert(got(1L) == 3L && got(5L) == 0L && got(7L) == 0L)
  }

  test("triangleCounts multi-shard bloom path matches bloom-off (forced tiny shards)") {
    // shardBytes=16 forces S = ceil(edges·1.2/16) shards on this small
    // graph — the sf>10 build shape (many bounded shard filters, one
    // collect action each) exercised end-to-end through the operator
    val k4 = for { a <- 1L to 4L; b <- 1L to 4L if a < b } yield (a, b)
    val hub = (1L to 30L).map(i => (100L, i))
    val ring = (1L to 30L).map(i => (i, if (i == 30L) 1L else i + 1L))
    val edges = k4 ++ hub ++ ring
    spark.conf.set("spark.graft.triangles.bloom.shardBytes", "16")
    val sharded = try runTri(edges)
    finally spark.conf.unset("spark.graft.triangles.bloom.shardBytes")
    spark.conf.set("spark.graft.triangles.bloom", "false")
    val off = try runTri(edges)
    finally spark.conf.unset("spark.graft.triangles.bloom")
    assert(sharded == off)
    assert(sharded == triModel(edges))
  }

  test("triangleCounts handles skewed hub graphs (degree orientation)") {
    // hub 0 connected to 1..30, plus a ring 1-2, 2-3, ..., 30-1:
    // every ring edge closes a triangle with the hub
    val hub = (1L to 30L).map(i => (0L, i))
    val ring = (1L to 30L).map(i => (i, if (i == 30L) 1L else i + 1L))
    val got = runTri(hub ++ ring)
    assert(got == triModel(hub ++ ring))
    assert(got(0L) == 30L)
    assert((1L to 30L).forall(i => got(i) == 2L))
  }

  /** Count Spark jobs launched by `body` under at-scale planning: AQE
    * would split an action into per-stage jobs; tiny test frames would
    * broadcast through an extra async job — both disabled so the count
    * measures driver round trips of the at-scale shuffle shape. The
    * driver-round-trip pin for EVERY iterative loop lives here: a loop
    * that silently regresses to 2+ jobs per round (the pre-round-6
    * components shape) serializes on a busy driver at cluster scale. */
  private def countJobs(body: => Unit): Int = {
    val aqeWas = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val bcWas = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    // the r21 size-conditional round broadcasts each cost one extra
    // (tiny) broadcast-build job; zero the cap so these pins keep
    // measuring the AT-SCALE shuffle shape, where the cap never fires
    spark.conf.set("spark.graft.graph.broadcastMaxRows", "0")
    spark.catalog.clearCache()
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          start: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      // listener events post asynchronously — wait for the count to settle
      var last = -1
      var cur = jobs.get()
      var spins = 0
      while (cur != last && spins < 50) {
        Thread.sleep(100); last = cur; cur = jobs.get(); spins += 1
      }
      cur
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      spark.conf.set("spark.sql.adaptive.enabled", aqeWas)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", bcWas)
      spark.conf.unset("spark.graft.graph.broadcastMaxRows")
    }
  }

  test("graph ops are invariant under the r21 round-broadcast cap") {
    import spark.implicits._
    // a shape with real propagation: two chained components + a triangle
    val edges = Seq(
      (1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L),
      (10L, 11L), (11L, 12L),
      (20L, 21L)).toDF("src", "dst")
    def runAll(): (Seq[(Long, Long)], Seq[(Long, Long)], Seq[(Long, Long, Int)], Seq[(Long, Long)]) = (
      Graph.pageRank(edges, iters = 3).collect()
        .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq,
      Graph.triangleCounts(edges).collect()
        .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq,
      Graph.connectedComponents(edges).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sortBy(_._1).toSeq,
      Graph.kCore(edges, k = 2).collect()
        .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq)
    val broadcastShape = runAll() // default cap: tiny graph → broadcasts fire
    try {
      spark.conf.set("spark.graft.graph.broadcastMaxRows", "0")
      val shuffleShape = runAll() // cap 0: every round joins by shuffle
      assert(shuffleShape == broadcastShape)
    } finally {
      spark.conf.unset("spark.graft.graph.broadcastMaxRows")
    }
  }

  test("above the cap the rounds join by shuffle — no broadcast anywhere in the plans") {
    import spark.implicits._
    // r21 verdict #6 / r22: the invariance test above proves results
    // don't change across the cap; THIS one proves the shuffle path
    // actually engages — with the cap below the node count (and the
    // planner's own auto-broadcast off), no executed plan of the loop
    // may contain a BroadcastExchange, while the default cap must
    // produce at least one (the hint firing).
    val edges = Seq(
      (1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L),
      (10L, 11L), (11L, 12L)).toDF("src", "dst")
    def broadcastsDuring(body: => Unit): Int = {
      val n = new java.util.concurrent.atomic.AtomicInteger(0)
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onOtherEvent(
            e: org.apache.spark.scheduler.SparkListenerEvent): Unit = e match {
          case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
            if (s.physicalPlanDescription.contains("BroadcastExchange"))
              n.incrementAndGet()
          // the start event carries the pre-adaptive plan: a broadcast
          // that AQE adds at runtime shows only in its plan updates
          case u: org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate =>
            if (u.physicalPlanDescription.contains("BroadcastExchange"))
              n.incrementAndGet()
          case _ =>
        }
      }
      spark.sparkContext.addSparkListener(listener)
      try {
        body
        // listener events post asynchronously — wait for the count to
        // settle (same discipline as countJobs above)
        var last = -1; var cur = n.get(); var spins = 0
        while (cur != last && spins < 50) {
          Thread.sleep(100); last = cur; cur = n.get(); spins += 1
        }
      } finally spark.sparkContext.removeSparkListener(listener)
      n.get()
    }
    val bcWas = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      spark.conf.set("spark.graft.graph.broadcastMaxRows", "1") // < 6 nodes
      val above = broadcastsDuring {
        Graph.pageRank(edges, iters = 2).collect()
        Graph.connectedComponents(edges).collect()
        Graph.kCore(edges, k = 2).collect()
      }
      assert(above == 0,
        s"above the cap no loop plan may broadcast, saw $above plans with BroadcastExchange")
      spark.conf.unset("spark.graft.graph.broadcastMaxRows")
      val below = broadcastsDuring {
        Graph.pageRank(edges, iters = 2).collect()
      }
      assert(below > 0, "under the default cap the round hint must fire")
    } finally {
      spark.conf.unset("spark.graft.graph.broadcastMaxRows")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", bcWas)
    }
  }

  test("pageRank costs one Spark job per round (plus init and guard)") {
    import spark.implicits._
    val n = countJobs {
      Graph.pageRank(
        Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("src", "dst"), iters = 3)
    }
    assert(n <= 5, s"expected <=5 jobs (init + overflow guard + 3 one-job rounds), saw $n")
    assert(org.apache.spark.sql.classic.GraftSqlBridge.cacheIsEmpty(spark))
  }

  test("kCore costs one Spark job per round (plus init)") {
    import spark.implicits._
    // ring at k=2: round 1 establishes the count, round 2 confirms the
    // fixpoint → init + 2 one-job rounds
    val ring = (1L to 8L).map(i => (i, if (i == 8L) 1L else i + 1L))
    val n = countJobs {
      Graph.kCore(ring.toDF("src", "dst"), k = 2).count()
    }
    // +1 for the final degrees count action outside the loop
    assert(n <= 4, s"expected <=4 jobs (init + 2 one-job rounds + result action), saw $n")
    assert(org.apache.spark.sql.classic.GraftSqlBridge.cacheIsEmpty(spark))
  }

  test("connectedComponents costs one Spark job per round") {
    import spark.implicits._
    // single edge → exactly 2 rounds (one merge, one zero-change);
    // +1 for the r21 partition-sizing count over the persisted pair
    // list (it materializes the cache a job early — upstream still
    // runs exactly once)
    val n = countJobs {
      Graph.connectedComponents(Seq((1L, 2L)).toDF("src", "dst"))
    }
    assert(n <= 4, s"expected <=4 jobs (sizing count + init + 2 one-job rounds), saw $n")
    assert(org.apache.spark.sql.classic.GraftSqlBridge.cacheIsEmpty(spark))
  }

  test("connectedComponents labels are invariant under the r21 partition-sizing knob") {
    import spark.implicits._
    val edges = Seq(
      (13L, 14L), (10L, 11L), (12L, 13L), (11L, 12L),
      (21L, 20L), (20L, 22L), (31L, 30L)).toDF("src", "dst")
    val base = Graph.connectedComponents(edges).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sortBy(_._1).toSeq
    val was = spark.conf.getOption("spark.graft.components.targetPartitionRows")
    try {
      // 1 row per partition → the loop runs maximally sharded (capped
      // at 4× shuffle partitions); labels must not change
      spark.conf.set("spark.graft.components.targetPartitionRows", "1")
      val sharded = Graph.connectedComponents(edges).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sortBy(_._1).toSeq
      assert(sharded == base)
    } finally {
      was match {
        case Some(v) => spark.conf.set("spark.graft.components.targetPartitionRows", v)
        case None => spark.conf.unset("spark.graft.components.targetPartitionRows")
      }
    }
  }

  test("connectedComponents resolves planted clusters with canonical flags") {
    import spark.implicits._
    // chain, star, pair — plus direction noise (edges are undirected)
    val edges = Seq(
      (13L, 14L), (10L, 11L), (12L, 13L), (11L, 12L),
      (21L, 20L), (20L, 22L), (31L, 30L)).toDF("src", "dst")
    val out = Graph.connectedComponents(edges).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sortBy(_._1)
    val expected = Seq(
      (10L, 10L, 1), (11L, 10L, 0), (12L, 10L, 0), (13L, 10L, 0), (14L, 10L, 0),
      (20L, 20L, 1), (21L, 20L, 0), (22L, 20L, 0),
      (30L, 30L, 1), (31L, 30L, 0))
    assert(out.toSeq == expected)
    // diameter > maxIters fails loudly instead of emitting partial labels
    val longChain = (0 until 12).map(i => (i.toLong, i + 1L)).toDF("src", "dst")
    intercept[IllegalStateException] {
      Graph.connectedComponents(longChain, maxIters = 2).collect()
    }
  }

  test("connectedComponents: pointer jumping converges long chains in O(log d) rounds") {
    import spark.implicits._
    // a 201-node path: bare propagation needs ~200 rounds; the pointer
    // jump halves label distance per round, so 20 suffice (this is the
    // exact failure the r12 sf1 replay hit in v11's near-dup graph —
    // a chain of pairwise near-dups longer than maxIters)
    val chain = (0 until 200).map(i => (i.toLong, i + 1L)).toDF("src", "dst")
    val out = Graph.connectedComponents(chain, maxIters = 20).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(out.size == 201 && out.values.forall(_ == 0L))
    // bare propagation (the A/B baseline) cannot do it in 20
    spark.conf.set("spark.graft.components.jump", "false")
    try intercept[IllegalStateException] {
      Graph.connectedComponents(chain, maxIters = 20).collect()
    } finally spark.conf.unset("spark.graft.components.jump")
    // and both modes agree where both converge
    val edges = Seq((1L, 2L), (2L, 3L), (7L, 5L), (9L, 9L), (4L, 5L)).toDF("src", "dst")
    val jumped = Graph.connectedComponents(edges).collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sortBy(_._1)
    spark.conf.set("spark.graft.components.jump", "false")
    val bare = try Graph.connectedComponents(edges).collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sortBy(_._1)
    finally spark.conf.unset("spark.graft.components.jump")
    assert(jumped == bare)
  }

  /** Sequential reference peel. */
  private def kCoreModel(edges: Seq[(Long, Long)], k: Int): Map[Long, Long] = {
    var cur = edges.filter(e => e._1 != e._2)
      .map(e => (e._1 min e._2, e._1 max e._2)).distinct
      .flatMap(e => Seq(e, e.swap))
    var changed = true
    while (changed) {
      val deg = cur.groupBy(_._1).map { case (n, es) => n -> es.size }
      val next = cur.filter(e => deg(e._1) >= k && deg(e._2) >= k)
      changed = next.size != cur.size
      cur = next
    }
    cur.groupBy(_._1).map { case (n, es) => n -> es.size.toLong }
  }

  private def runKCore(edges: Seq[(Long, Long)], k: Int): Map[Long, Long] = {
    import spark.implicits._
    Graph.kCore(edges.toDF("src", "dst"), "src", "dst", k = k)
      .collect().map(row => row.getLong(0) -> row.getLong(1)).toMap
  }

  test("kCore matches the sequential peel on cascading structure") {
    // K4 core + a chain hanging off it: peeling the chain tip cascades
    // node by node (4 rounds), the K4 survives at k=3
    val k4 = for { a <- 1L to 4L; b <- 1L to 4L if a < b } yield (a, b)
    val chain = Seq[(Long, Long)]((4L, 5L), (5L, 6L), (6L, 7L), (7L, 8L))
    val edges = k4 ++ chain
    for (k <- 1 to 4) {
      val got = runKCore(edges, k)
      assert(got == kCoreModel(edges, k), s"k=$k")
    }
    assert(runKCore(edges, 3).keySet == Set(1L, 2L, 3L, 4L))
    assert(runKCore(edges, 4) == Map.empty[Long, Long])
  }

  test("kCore is idempotent at its fixpoint (already-a-core input)") {
    val ring = (1L to 10L).map(i => (i, if (i == 10L) 1L else i + 1L))
    val got = runKCore(ring, 2)
    assert(got == (1L to 10L).map(_ -> 2L).toMap)
  }

  test("kCore leaves no cached plans behind") {
    import spark.implicits._
    spark.catalog.clearCache()
    val edges = (1L to 40L).map(i => (i, (i % 6) + 1L)).toDF("src", "dst")
    Graph.kCore(edges, k = 2).count()
    assert(org.apache.spark.sql.classic.GraftSqlBridge.cacheIsEmpty(spark))
  }

  test("coOccurrence: canonical pairs, support threshold, mega-group cap") {
    import spark.implicits._
    // groups: g1={1,2,3}, g2={2,3}, g3={3,2} dup rows, g4 = 5-item
    // mega-group that must be dropped at maxGroupSize=4
    val rows = Seq(
      (10L, 1L), (10L, 2L), (10L, 3L),
      (20L, 2L), (20L, 3L), (20L, 3L),
      (30L, 3L), (30L, 2L)) ++ (1L to 5L).map(i => (40L, 100L + i))
    val got = Graph.coOccurrence(
      rows.toDF("g", "item"), "g", "item", minSupport = 1, maxGroupSize = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got == Map((1L, 2L) -> 1L, (1L, 3L) -> 1L, (2L, 3L) -> 3L))
    val sup2 = Graph.coOccurrence(
      rows.toDF("g", "item"), "g", "item", minSupport = 2, maxGroupSize = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(sup2 == Set((2L, 3L)))
  }

  test("triangleCounts leaves no cached plans behind") {
    import spark.implicits._
    spark.catalog.clearCache()
    val edges = (1L to 60L).map(i => (i, (i % 9) + 1L)).toDF("src", "dst")
    Graph.triangleCounts(edges).count()
    assert(org.apache.spark.sql.classic.GraftSqlBridge.cacheIsEmpty(spark))
  }

  test("reliable checkpoint mode: same components, rounds durable in the checkpoint dir") {
    import spark.implicits._
    val ckptDir = java.nio.file.Files.createTempDirectory("graft_ckpt")
    spark.sparkContext.setCheckpointDir(ckptDir.toString)
    spark.conf.set(graft.operators.Checkpoints.ReliableConf, "true")
    try {
      val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 20L)).toDF("src", "dst")
      val got = Graph.connectedComponents(edges)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L, 20L -> 20L))
      // the rounds really went through the reliable path: files exist
      val files = java.nio.file.Files.walk(ckptDir)
        .filter(java.nio.file.Files.isRegularFile(_)).count()
      assert(files > 0, "reliable mode left no files in the checkpoint dir")
    } finally spark.conf.set(graft.operators.Checkpoints.ReliableConf, "false")
  }

  test("reliable mode frees a superseded round's checkpoint FILES eagerly") {
    import spark.implicits._
    val ckptDir = java.nio.file.Files.createTempDirectory("graft_ckpt_free")
    spark.sparkContext.setCheckpointDir(ckptDir.toString)
    spark.conf.set(graft.operators.Checkpoints.ReliableConf, "true")
    try {
      val a = graft.operators.Checkpoints.cut(
        (1L to 100L).toDF("x"), eager = true)
      val file = org.apache.spark.sql.classic.GraftSqlBridge.checkpointFileOf(a)
      assert(file.isDefined, "reliable cut must be backed by a checkpoint file")
      val p = new org.apache.hadoop.fs.Path(file.get)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      assert(fs.exists(p), "checkpoint files must exist after the cut")
      graft.operators.Checkpoints.free(a)
      assert(!fs.exists(p),
        "free() must delete a superseded reliable checkpoint's files eagerly " +
          "(a long loop would otherwise accumulate one file tree per round)")
    } finally spark.conf.set(graft.operators.Checkpoints.ReliableConf, "false")
  }

  test("local mode free() leaves no checkpoint files to delete (no-op on files)") {
    import spark.implicits._
    val a = graft.operators.Checkpoints.cut((1L to 10L).toDF("x"), eager = true)
    assert(org.apache.spark.sql.classic.GraftSqlBridge.checkpointFileOf(a).isEmpty)
    graft.operators.Checkpoints.free(a) // must not throw
  }
}
