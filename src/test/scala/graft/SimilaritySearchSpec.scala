package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.SimilaritySearch

/** The reusable similarity APIs must behave like their fixed-query
  * counterparts on planted geometry: exact top-k ranks a planted
  * near-copy first, LSH candidates keep it when it shares the query's
  * bucket, and triangle-blocked pairwise finds exactly the planted
  * near-duplicate pairs regardless of block assignment. */
class SimilaritySearchSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val dim = 16

  /** deterministic pseudo-random unit-ish vector per id */
  private def vec(id: Long): Array[Float] = {
    val r = new scala.util.Random(id * 2654435761L)
    Array.fill(dim)((r.nextDouble() * 2 - 1).toFloat)
  }
  private def jitter(v: Array[Float], eps: Float): Array[Float] =
    v.zipWithIndex.map { case (x, i) => x + (if (i % 2 == 0) eps else -eps) }
  private def trained(i: SimilaritySearch.PqIndex): SimilaritySearch.PqRotation.Trained =
    i.rotation.asInstanceOf[SimilaritySearch.PqRotation.Trained]

  /** The brute-force exact cosine every near-dup op must reproduce:
    * ascending double dot over double norms, then r4's floor-based
    * half-up rounding. An empty or zero vector has no cosine: NaN,
    * which clears no threshold. */
  private def r4cos(a: Array[Float], b: Array[Float]): Double = {
    def dotd(x: Array[Float], y: Array[Float]): Double = {
      var d = 0.0; var k = 0
      while (k < math.min(x.length, y.length)) { d += x(k).toDouble * y(k).toDouble; k += 1 }
      d
    }
    math.floor(dotd(a, b) / (math.sqrt(dotd(a, a)) * math.sqrt(dotd(b, b))) * 10000 + 0.5) /
      10000.0
  }

  /** Brute-force all-pairs near-dups: (smaller id, larger id, r4 cosine)
    * for every pair whose cosine clears `threshold`. */
  private def bruteForcePairs(
      rows: Seq[(Long, Array[Float])], threshold: Double): Set[(Long, Long, Double)] =
    (for {
      i <- rows.indices; j <- (i + 1) until rows.size
      cos = r4cos(rows(i)._2, rows(j)._2)
      if cos >= threshold
      (a, b) = (rows(i)._1, rows(j)._1)
    } yield (math.min(a, b), math.max(a, b), cos)).toSet

  /** Brute-force incremental status: per batch id, (n_dups, best_sim,
    * status) against every corpus vector. */
  private def bruteForceStatus(
      corpus: Seq[(Long, Array[Float])], batch: Seq[(Long, Array[Float])],
      threshold: Double): Map[Long, (Long, Double, String)] =
    batch.map { case (bid, bv) =>
      val sims = corpus.map(c => r4cos(c._2, bv)).filter(_ >= threshold)
      bid -> ((sims.size.toLong, if (sims.isEmpty) -1.0 else sims.max,
        if (sims.isEmpty) "keep" else "dup"))
    }.toMap

  test("cosineTopK ranks the planted near-copy first, exact and ordered") {
    import spark.implicits._
    val q = vec(999L)
    // id 1 = near-copy of the query; ids 2..50 random
    val corpus = ((1L, jitter(q, 0.01f)) +:
      (2L to 50L).map(i => (i, vec(i)))).toDF("id", "v")
    val query = Seq(Tuple1(q)).toDF("qv")
    val top = SimilaritySearch.cosineTopK(corpus, "id", "v", query, "qv", k = 5)
      .collect()
    assert(top.head.getLong(0) == 1L, "planted near-copy must rank first")
    assert(top.head.getDouble(1) > 0.99)
    // scores descend, ties broken by id
    val scores = top.map(_.getDouble(1)).toSeq
    assert(scores == scores.sorted.reverse)
  }

  test("lshCandidates keeps the near-copy in the query bucket and scores exactly") {
    import spark.implicits._
    val q = vec(7L)
    val corpus = ((1L, jitter(q, 0.005f)) +:
      (2L to 200L).map(i => (i, vec(i * 31 + 5)))).toDF("id", "v")
    val query = Seq(Tuple1(q)).toDF("qv")
    val cand = SimilaritySearch.lshCandidates(corpus, "id", "v", query, "qv", bits = 8)
      .collect()
    // a 0.005-jitter copy projects to the same side of every hyperplane
    // with overwhelming margin — it must share the bucket
    assert(cand.exists(_.getLong(0) == 1L), "near-copy must share the query's bucket")
    // candidate set is the bucket, not the corpus
    assert(cand.length < 200, "bucketing must prune the corpus")
    // candidate scores agree with the exact scorer on the same rows
    val exact = SimilaritySearch.cosineScores(corpus, "id", "v", query, "qv")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    cand.foreach { r =>
      assert(r.getDouble(2) == exact(r.getLong(0)), "LSH re-rank must be exact")
    }
  }

  test("ivfBuild + ivfTopK retrieve the planted near-copy through the index") {
    import spark.implicits._
    val q = vec(42L)
    val corpus = ((0L, q) +: (1L, jitter(q, 0.01f)) +:
      (2L to 400L).map(i => (i, vec(i * 977 + 13)))).toDF("id", "v")
    val idx = SimilaritySearch.ivfBuild(corpus, "id", "v", k = 8, lloydIters = 2)
    assert(idx.centroids.length == 8)
    // every corpus row got assigned to a valid cluster
    val clusters = idx.assigned.select("cluster").distinct()
      .collect().map(_.getInt(0)).toSet
    assert(clusters.subsetOf((0 until 8).toSet) && clusters.nonEmpty)
    // the near-copy lands in the query's probed clusters and ranks first
    val top = SimilaritySearch.ivfTopK(idx, q, topK = 5, nprobe = 3,
        filter = col("id") =!= 0)
      .collect()
    assert(top.head.getLong(0) == 1L, "planted near-copy must rank first")
    assert(top.head.getDouble(2) > 0.99)
    // scores agree with the exact scorer (IVF re-rank is exact)
    val exact = SimilaritySearch.cosineScores(
        corpus.filter(col("id") =!= 0), "id", "v",
        Seq(Tuple1(q)).toDF("qv"), "qv")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    top.foreach(r => assert(r.getDouble(2) == exact(r.getLong(0))))
  }

  test("cosineNearDupPairs finds exactly the planted pairs, any block layout") {
    import spark.implicits._
    // 40 well-separated random vectors; ids 3 and 17 get near-copies at
    // +100 (different blocks mod 4 and mod 8 — exercises cross-block)
    val base = (1L to 40L).map(i => (i, vec(i * 131 + 7)))
    val planted = Seq((103L, jitter(base(2)._2, 0.01f)),
      (117L, jitter(base(16)._2, 0.01f)))
    val corpus = (base ++ planted).toDF("id", "v")
    // 0 = auto (resolved from the session's shuffle partitions)
    for (blocks <- Seq(1, 4, 8, 0)) {
      val pairs = SimilaritySearch
        .cosineNearDupPairs(corpus, "id", "v", threshold = 0.98, numBlocks = blocks)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(pairs == Set((3L, 103L), (17L, 117L)),
        s"blocks=$blocks found $pairs")
    }
  }

  test("balancedSlots: distinct keys, even weighted load, LPT determinism") {
    for ((b, p) <- Seq((8, 32), (11, 32), (8, 4), (3, 7), (1, 5), (16, 200))) {
      val slots = SimilaritySearch.balancedSlots(b, p)
      val groups = for { x <- 0 until b; y <- x until b } yield (x, y)
      assert(slots.keySet == groups.toSet)
      // injective: two groups sharing a key would merge their quadratic
      // kernels into one flatMapGroups call with mixed tags
      assert(slots.values.toSeq.distinct.size == slots.size)
      // weighted bin loads (cross 2, diagonal 1) even to within one
      // largest item — the LPT guarantee that motivates the scheme
      val load = new Array[Long](p)
      slots.foreach { case ((x, y), k) =>
        val bin = Math.floorMod(
          org.apache.spark.unsafe.hash.Murmur3_x86_32.hashInt(k, 42), p)
        load(bin) += (if (x == y) 1L else 2L)
      }
      val total = groups.map { case (x, y) => if (x == y) 1L else 2L }.sum
      if (total >= 2L * p) // enough work to occupy every bin
        assert(load.max - load.min <= 2,
          s"b=$b p=$p loads ${load.mkString(",")}")
      // deterministic: same inputs, same assignment
      assert(slots == SimilaritySearch.balancedSlots(b, p))
    }
  }

  test("balancedSlots placement prediction matches Spark's actual shuffle") {
    // the whole scheme rests on reproducing HashPartitioning's
    // pmod(murmur3(key, 42), P) driver-side; pin the prediction
    // against where Spark REALLY places each groupByKey key (AQE
    // coalescing off: it renumbers tiny partitions after the fact)
    import spark.implicits._
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val p = spark.conf.get("spark.sql.shuffle.partitions").toInt
      val keys = SimilaritySearch.balancedSlots(8, p).values.toSeq
      val actual = keys.toDS()
        .groupByKey(identity)
        .mapGroups((k, _) => (k, org.apache.spark.TaskContext.getPartitionId()))
        .collect().toMap
      keys.foreach { k =>
        val predicted = Math.floorMod(
          org.apache.spark.unsafe.hash.Murmur3_x86_32.hashInt(k, 42), p)
        assert(actual(k) == predicted, s"key $k: predicted $predicted, " +
          s"Spark placed ${actual(k)}")
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("balanced placement survives AQE coalescing (REPARTITION_BY_NUM pin)") {
    // The scoring partitions are byte-small but CPU-huge — exactly what
    // AQE's byte-based coalescing mis-judges. The balanced branch now
    // shuffles via repartition(parts, slot) (REPARTITION_BY_NUM origin,
    // never coalesced) instead of groupByKey (ENSURE_REQUIREMENTS,
    // coalescible), so the driver-side prediction must hold with AQE
    // AND coalescing ON over data small enough that an
    // ENSURE_REQUIREMENTS shuffle WOULD have been merged. This runs the
    // real groupBlocked path with a kernel that records its runtime
    // partition id per group.
    import spark.implicits._
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    val prevCoalesce =
      spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    try {
      val p = spark.conf.get("spark.sql.shuffle.partitions").toInt
      val b = 8
      val slots = SimilaritySearch.balancedSlots(b, p)
      // one tagged replica set over tiny payloads: bytes ≈ nothing, so
      // a coalescible exchange would collapse to a handful of partitions
      val tagged = spark.range(0, 64).as[Long].flatMap { id =>
        val blk = Math.floorMod(id, b)
        Iterator.single((blk.toInt, blk.toInt, 0.toByte, id, Array[Byte](1))) ++
          Iterator.range(blk.toInt + 1, b).map(q => (blk.toInt, q, 1.toByte, id, Array[Byte](1))) ++
          Iterator.range(0, blk.toInt).map(x => (x, blk.toInt, 2.toByte, id, Array[Byte](1)))
      }
      val observed = SimilaritySearch.groupBlocked(tagged, b) { rows =>
        val key = rows.next()._1 // balanced branch: _1 IS the slot key
        while (rows.hasNext) rows.next() // drain per the kernel contract
        Iterator.single((key, org.apache.spark.TaskContext.getPartitionId()))
      }.collect().toMap
      // every slot key must land in its PREDICTED partition at runtime
      // — with AQE on; coalescing would renumber and break this
      slots.values.foreach { k =>
        val predicted = Math.floorMod(
          org.apache.spark.unsafe.hash.Murmur3_x86_32.hashInt(k, 42), p)
        assert(observed(k) == predicted,
          s"slot $k: predicted partition $predicted, ran in ${observed(k)}")
      }
      // and the groups must spread over the full partition range, not a
      // coalesced handful (B=8 → 36 groups over p partitions)
      val busy = observed.values.toSet.size
      assert(busy == math.min(p, slots.size),
        s"expected ${math.min(p, slots.size)} busy partitions, got $busy")
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", prevCoalesce)
    }
  }

  test("SIMD int8 dot is bit-identical to the scalar kernel (all tail shapes)") {
    import graft.operators.{Int8Kernel, VectorDotKernel}
    // Integer addition is associative, so the Panama kernel's lane
    // order cannot change the result — pin it anyway, per length 0..70
    // (covers both widening chains' main loops AND their scalar tails)
    // over seeded random extremes including ±127 saturation values, at
    // non-zero offsets into flat buffers as the kernels call it.
    assert(Int8Kernel.SIMD,
      "test JVM must have --add-modules jdk.incubator.vector (build.sbt javaOptions)")
    val rnd = new scala.util.Random(20260815L)
    for (n <- 0 to 70; _ <- 1 to 3) {
      val xo = 1 + rnd.nextInt(9); val yo = 1 + rnd.nextInt(9)
      val x = Array.fill[Byte](xo + n + 3)((rnd.nextInt(255) - 127).toByte)
      val y = Array.fill[Byte](yo + n + 5)((rnd.nextInt(255) - 127).toByte)
      val ref = (0 until n).map(k => x(xo + k) * y(yo + k)).sum
      val simd = VectorDotKernel.dotRange(x, xo, y, yo, n)
      assert(Int8Kernel.scalarDotRange(x, xo, y, yo, n) == ref, s"n=$n: scalar loop is wrong")
      assert(simd == ref, s"n=$n: vector and scalar kernels diverged")
      assert(Int8Kernel.dotRange(x, xo, y, yo, n) == ref, s"n=$n: dispatch diverged")
    }
    // worst-case magnitude: ±127 everywhere, n=64 (the corpus dim)
    val all127 = Array.fill[Byte](64)(127)
    val allNeg = Array.fill[Byte](64)(-127)
    assert(VectorDotKernel.dotRange(all127, 0, allNeg, 0, 64) == 64 * 127 * -127)
    assert(Int8Kernel.scalarDotRange(all127, 0, allNeg, 0, 64) == 64 * 127 * -127)
  }

  test("cosineNearDupPairs handles negative ids (floorMod blocking)") {
    import spark.implicits._
    // the same planted geometry shifted to negative ids: with `%`
    // blocking, a negative id's block index went negative and its
    // cross-block pairs were silently dropped
    val base = (1L to 40L).map(i => (i - 60L, vec(i * 131 + 7)))
    val planted = Seq((43L, jitter(base(2)._2, 0.01f)),
      (57L, jitter(base(16)._2, 0.01f)))
    val corpus = (base ++ planted).toDF("id", "v")
    for (blocks <- Seq(4, 8)) {
      val pairs = SimilaritySearch
        .cosineNearDupPairs(corpus, "id", "v", threshold = 0.98, numBlocks = blocks)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(pairs == Set((-57L, 43L), (-43L, 57L)),
        s"blocks=$blocks found $pairs")
    }
  }

  test("cosineNearDupPairs rejects an over-size exact-arm input loudly") {
    import spark.implicits._
    val tiny = Seq((1L, vec(1))).toDF("id", "v")
    intercept[IllegalArgumentException] {
      SimilaritySearch.cosineNearDupPairs(tiny, "id", "v",
        threshold = 0.9, sizeHint = SimilaritySearch.maxExactRows + 1)
    }
  }

  test("QuantizeInt8 packs symmetric max-abs int8; Int8Dot is exact integer math") {
    import spark.implicits._
    implicit val sp: SparkSession = spark
    import graft.functions.VectorFunctions
    val vs = Seq(
      (1L, Array(0.5f, -1.0f, 0.25f, 0.0f)),
      (2L, Array(2.0f, 2.0f, -2.0f, 1.0f)),
      (3L, Array(0.0f, 0.0f, 0.0f, 0.0f)), // all-zero → all-zero bytes
      (4L, vec(99L).take(4)))
    val df = vs.toDF("id", "v")
      .select(col("id"), VectorFunctions.quantizeInt8(col("v")).as("q"))
    val got = df.collect().map(r => r.getLong(0) -> r.getAs[Array[Byte]]("q")).toMap
    def ref(v: Array[Float]): Array[Byte] = {
      val mx = v.map(x => math.abs(x.toDouble)).max
      if (mx == 0.0) Array.fill[Byte](v.length)(0)
      else v.map(x => math.floor(x.toDouble / mx * 127.0 + 0.5).toInt.toByte)
    }
    vs.foreach { case (id, v) =>
      assert(got(id).toSeq == ref(v).toSeq, s"id=$id")
    }
    // every quantized value is in [-127, 127]
    assert(got.values.flatten.forall(b => b >= -127 && b <= 127))
    // Int8Dot against a BigInt reference, negative bytes included
    val pairs = df.as("a").crossJoin(df.as("b"))
      .select(col("a.id").as("ia"), col("b.id").as("ib"),
        VectorFunctions.int8Dot(col("a.q"), col("b.q")).as("d"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    for ((ia, va) <- vs; (ib, vb) <- vs) {
      val expect = ref(va).zip(ref(vb)).map { case (x, y) => x.toLong * y.toLong }.sum
      assert(pairs((ia, ib)) == expect, s"dot($ia,$ib)")
    }
  }

  test("incrementalNearDup statuses batch vectors against the corpus (brute-force agreement)") {
    import spark.implicits._
    val corpus = (1L to 40L).map(i => (i, vec(i))).toDF("id", "v")
    val batch = Seq(
      (101L, jitter(vec(7L), 0.01f)), // planted near-copy of corpus id 7
      (102L, vec(1002L)),             // fresh
      (103L, jitter(vec(23L), 0.01f)) // planted near-copy of corpus id 23
    ).toDF("id", "v")
    val out = SimilaritySearch.incrementalNearDup(
        corpus, batch, "id", "v", threshold = 0.9, margin = 0.05)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getDouble(2), r.getString(3)))).toMap
    assert(out.size == 3, s"one row per batch vector: $out")
    // brute-force oracle: same r4 rounding as the operator
    def cos(a: Array[Float], b: Array[Float]): Double = {
      val d = a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
      val r = d / (math.sqrt(a.map(x => x.toDouble * x).sum) *
        math.sqrt(b.map(x => x.toDouble * x).sum))
      math.floor(r * 10000 + 0.5) / 10000.0
    }
    val cvecs = (1L to 40L).map(i => i -> vec(i)).toMap
    val bvecs = Map(101L -> jitter(vec(7L), 0.01f), 102L -> vec(1002L),
      103L -> jitter(vec(23L), 0.01f))
    for ((bid, bv) <- bvecs) {
      val sims = cvecs.values.map(cv => cos(cv, bv)).filter(_ >= 0.9)
      val (n, best, status) = out(bid)
      assert(n == sims.size, s"$bid: n_dups $n vs brute ${sims.size}")
      assert(best == (if (sims.isEmpty) -1.0 else sims.max), s"$bid best_sim")
      assert(status == (if (sims.isEmpty) "keep" else "dup"), s"$bid status")
    }
    assert(out(101L)._3 == "dup" && out(103L)._3 == "dup" && out(102L)._3 == "keep",
      s"planted copies must be dups, fresh must keep: $out")
    // the verify-stage corpus fetch is a join strategy, never a
    // semantics: a size hint at the cap (broadcast, no count) and one
    // above it (the shuffled join) emit the same rows as the count
    for (hint <- Seq(SimilaritySearch.maxExactRows, SimilaritySearch.maxExactRows + 1)) {
      val m = SimilaritySearch.incrementalNearDup(
          corpus, batch, "id", "v", threshold = 0.9, margin = 0.05, corpusSizeHint = hint)
        .collect().map(r => r.getLong(0) ->
          ((r.getLong(1), r.getDouble(2), r.getString(3)))).toMap
      assert(m == out, s"corpusSizeHint=$hint diverged: $m vs $out")
    }
  }

  test("ivfAssign/ivfAppend place new vectors on the existing centroids") {
    import spark.implicits._
    val corpus = (1L to 60L).map(i => (i, vec(i))).toDF("id", "v")
    val idx = SimilaritySearch.ivfBuild(corpus, "id", "v", k = 4, lloydIters = 2)
    val batch = Seq((200L, vec(200L)), (201L, vec(201L)),
      (202L, jitter(vec(999L), 0.01f))).toDF("id", "v")
    val placed = SimilaritySearch.ivfAssign(idx, batch)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(placed.size == 3)
    // brute-force agreement with the index's own (public) centroids:
    // argmax cosine, ties to the lower cluster — and the reported
    // cosine is the r4-rounded score against exactly that centroid
    def cos(c: Array[Double], n: Double, v: Array[Float]): Double = {
      val d = c.zip(v).map { case (x, y) => x * y.toDouble }.sum
      d / (n * math.sqrt(v.map(x => x.toDouble * x).sum))
    }
    for ((id, bv) <- Seq(200L -> vec(200L), 201L -> vec(201L),
        202L -> jitter(vec(999L), 0.01f))) {
      val sims = idx.centroids.map { case (c, n) => cos(c, n, bv) }
      val expect = sims.indexOf(sims.max).toLong
      assert(placed(id)._1 == expect, s"$id placed ${placed(id)._1}, brute $expect")
      assert(placed(id)._2 ==
        math.floor(sims.max * 10000 + 0.5) / 10000.0, s"$id cos_sim")
    }
    // consistency: re-assigning the CORPUS through ivfAssign reproduces
    // the build's own assignment exactly (same argmax, same tie-break)
    val own = idx.assigned.select("id", "cluster").collect()
      .map(r => r.getLong(0) -> r.getInt(1).toLong).toMap
    val re = SimilaritySearch.ivfAssign(idx, corpus).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(re == own, "ivfAssign must reproduce the build's own placement")
    // degenerate (zero/empty) vectors place in cluster -1, never crash
    val degen = Seq((300L, Array.fill(dim)(0f)), (301L, Array.empty[Float]))
      .toDF("id", "v")
    val dp = SimilaritySearch.ivfAssign(idx, degen).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(dp == Map(300L -> ((-1L, -1.0)), 301L -> ((-1L, -1.0))),
      s"degenerates must place in cluster -1: $dp")
    // a degenerate QUERY is refused loudly (NaN probe picks + ANSI
    // divide-by-zero rerank otherwise)
    intercept[IllegalArgumentException] {
      SimilaritySearch.ivfTopK(idx, Array.fill(dim)(0f), topK = 1)
    }
    // append: batch rows serve queries through the SAME index immediately
    val grown = SimilaritySearch.ivfAppend(idx, batch)
    assert(grown.assigned.count() == 63)
    val hit = SimilaritySearch.ivfTopK(grown, vec(999L), topK = 1, nprobe = 4)
      .collect().head
    assert(hit.getLong(0) == 202L,
      s"appended near-copy must be retrievable, got ${hit.getLong(0)}")
  }

  test("ivfIncrementalNearDup: pruned statuses are a subset of the full scan; recall on planted dups") {
    import spark.implicits._
    val corpus = (1L to 400L).map(i => (i, vec(i))).toDF("id", "v")
    // 20 planted near-copies of spread-out corpus vectors + 20 fresh
    val plantedSrc = (0 until 20).map(j => 1L + j * 19L)
    val batch = (plantedSrc.zipWithIndex.map { case (src, j) =>
        (1001L + j, jitter(vec(src), 0.01f)) } ++
      (0 until 20).map(j => (1101L + j, vec(5001L + j)))).toDF("id", "v")
    val idx = SimilaritySearch.ivfBuild(corpus, "id", "v", k = 8, lloydIters = 2)
    def run(df: org.apache.spark.sql.DataFrame): Map[Long, (Long, Double, String)] =
      df.collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getDouble(2), r.getString(3)))).toMap
    val full = run(SimilaritySearch.incrementalNearDup(
      corpus, batch, "id", "v", threshold = 0.9, margin = 0.05))
    val pruned = run(SimilaritySearch.ivfIncrementalNearDup(
      idx, batch, nprobe = 2, threshold = 0.9, margin = 0.05))
    assert(pruned.keySet == full.keySet, "one status row per batch vector in both arms")
    // the probe can only REMOVE matches — never invent one
    pruned.foreach { case (id, (n, best, st)) =>
      val (fN, fBest, fSt) = full(id)
      assert(n <= fN, s"id $id: pruned n_dups $n > full $fN")
      assert(best <= fBest, s"id $id: pruned best_sim $best > full $fBest")
      if (st == "dup") assert(fSt == "dup", s"id $id: pruned dup absent from full scan")
    }
    val fullDups = full.collect { case (id, (_, _, "dup")) => id }.toSet
    val prunedDups = pruned.collect { case (id, (_, _, "dup")) => id }.toSet
    assert(fullDups.size >= 18,
      s"planted copies must be full-scan detectable, got ${fullDups.size}/20")
    val recall = prunedDups.size.toDouble / fullDups.size
    info(f"IVF-pruned incremental dedup recall at nprobe=2/k=8: " +
      f"${prunedDups.size}/${fullDups.size} = $recall%.3f")
    assert(recall >= 0.8, s"probe recall $recall collapsed — a planted copy's " +
      "source should almost always live in the copy's nearest clusters")
    // when the probe saw everything the full scan saw, the scores agree
    // exactly (same kernel, same rounding)
    prunedDups.foreach { id =>
      if (pruned(id)._1 == full(id)._1)
        assert(pruned(id)._2 == full(id)._2, s"id $id: equal-coverage scores differ")
    }
  }

  test("ivfIncrementalNearDup guards: degenerates keep, mixed dims and oversize k loud") {
    import spark.implicits._
    val corpus = (1L to 30L).map(i => (i, vec(i))).toDF("id", "v")
    val idx = SimilaritySearch.ivfBuild(corpus, "id", "v", k = 4, lloydIters = 1)
    // degenerate batch vectors probe nothing and status keep — never crash
    val degen = Seq((500L, Array.fill(dim)(0f)), (501L, Array.empty[Float]))
      .toDF("id", "v")
    val out = SimilaritySearch.ivfIncrementalNearDup(
        idx, degen, nprobe = 2, threshold = 0.5, margin = 0.05)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getString(3)))).toMap
    assert(out == Map(500L -> ((0L, "keep")), 501L -> ((0L, "keep"))),
      s"degenerate batch vectors must keep with 0 dups: $out")
    // mixed-dimension batch fails loudly through the assign-path guard
    def messageChain(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messageChain(t.getCause)
    val bad = Seq((600L, Array.fill(dim + 3)(0.5f))).toDF("id", "v")
    val ex = intercept[Exception] {
      SimilaritySearch.ivfIncrementalNearDup(idx, bad, 2, 0.5, 0.05).collect()
    }
    assert(messageChain(ex).exists(_.contains("mixed-dimension")),
      s"expected a loud mixed-dimension failure, got: ${messageChain(ex)}")
    // a >64-cluster index is ACCEPTED since the round-16 mask sharding
    // (it was a loud refusal before — "cluster bitmask is a Long");
    // degenerates still keep through the sharded path
    val wide = SimilaritySearch.IvfIndex(
      Array.fill(65)((Array.fill(dim)(1.0), math.sqrt(dim.toDouble))),
      idx.assigned, "id", "v")
    val wideOut = SimilaritySearch.ivfIncrementalNearDup(
        wide, degen, 2, 0.5, 0.05)
      .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(wideOut == Map(500L -> "keep", 501L -> "keep"),
      s"k>64 must serve through mask shards, degenerates keep: $wideOut")
  }

  test("ivfIncrementalNearDup mask sharding: forced narrow shards are bit-identical; k>64 flags a planted dup") {
    import spark.implicits._
    val corpus = ((1L, jitter(vec(777L), 0.01f)) +:
      (2L to 80L).map(i => (i, vec(i)))).toDF("id", "v")
    val idx = SimilaritySearch.ivfBuild(corpus, "id", "v", k = 7, lloydIters = 2)
    val batch = Seq((900L, vec(777L)), (901L, vec(5555L))).toDF("id", "v")
    def run(width: Int) =
      SimilaritySearch.ivfIncrementalNearDupImpl(
          idx, batch, nprobe = 3, threshold = 0.9, margin = 0.05,
          corpusSizeHint = -1L, maskWidth = width)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getString(3)))
        .sortBy(_._1).toSeq
    val oneWord = run(64) // k=7 in one shard: the pre-sharding shape
    // forced 3-wide shards (⌈7/3⌉ = 3 scans) must be BIT-identical —
    // probe selection is global, shard outputs are disjoint, the union
    // feeds the same verify
    assert(run(3) == oneWord,
      "forced narrow shards diverged from the single-word scan")
    val st = oneWord.map(r => r._1 -> r._4).toMap
    assert(st == Map(900L -> "dup", 901L -> "keep"), s"fixture statuses: $st")
    // a genuinely wide index (k=70 > 64) serves end-to-end and still
    // flags the planted near-copy — the r15 serving milestone ("no
    // batch refused for size") now holds for ingest too
    val wideIdx = SimilaritySearch.ivfBuild(
      corpus, "id", "v", k = 70, lloydIters = 1)
    assert(wideIdx.centroids.length == 70)
    val wideSt = SimilaritySearch.ivfIncrementalNearDup(
        wideIdx, batch, nprobe = 8, threshold = 0.9, margin = 0.05)
      .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(wideSt(900L) == "dup" && wideSt(901L) == "keep",
      s"k=70 ingest must flag the planted near-copy: $wideSt")
  }

  test("property: IVF probe guard boundary — any nonzero magnitude passes, scale-invariant") {
    // round-13 stretch item: the degenerate-vector require refuses zero
    // query vectors; this pins that the guard's boundary is EXACTLY
    // zero — near-zero (down to subnormal floats) and huge-magnitude
    // queries pass and no NaN path survives just above the threshold.
    // Powers of two scale float components EXACTLY (and norms/dots by
    // the same exact power), so cosine — and therefore the ranking and
    // the r4 scores — must be bit-identical across ~50 orders of
    // magnitude.
    import spark.implicits._
    val corpus = (1L to 120L).map(i => (i, vec(i))).toDF("id", "v")
    val idx = SimilaritySearch.ivfBuild(corpus, "id", "v", k = 8, lloydIters = 2)
    val q0 = vec(4242L)
    val baseline = SimilaritySearch.ivfTopK(idx, q0, topK = 5, nprobe = 3)
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq
    assert(baseline.length == 5 && baseline.forall(!_._2.isNaN))
    for (exp <- Seq(-80, -40, -12, 12, 40, 80)) {
      val s = math.pow(2.0, exp).toFloat
      val out = SimilaritySearch.ivfTopK(idx, q0.map(_ * s), topK = 5, nprobe = 3)
        .collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq
      assert(out == baseline, s"scale 2^$exp changed the result: $out vs $baseline")
    }
    // subnormal-only query: nonzero, passes the guard, no NaN out
    val sub = Array.fill(dim)(java.lang.Float.MIN_VALUE)
    val subOut = SimilaritySearch.ivfTopK(idx, sub, topK = 5, nprobe = 3).collect()
    assert(subOut.length == 5 && subOut.forall(r => !r.getDouble(2).isNaN))
    // zero and empty stay refused loudly
    intercept[IllegalArgumentException] {
      SimilaritySearch.ivfTopK(idx, Array.fill(dim)(0f), topK = 1)
    }
    intercept[IllegalArgumentException] {
      SimilaritySearch.ivfTopK(idx, Array.empty[Float], topK = 1)
    }
  }

  test("ivfAssign rejects mixed-dimension batch vectors loudly (no silent truncation)") {
    import spark.implicits._
    val corpus = (1L to 30L).map(i => (i, vec(i))).toDF("id", "v")
    val idx = SimilaritySearch.ivfBuild(corpus, "id", "v", k = 4, lloydIters = 1)
    def messageChain(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messageChain(t.getCause)
    // SHORTER than the centroid dimension: previously a silent truncated
    // dot (plausible-but-wrong placement); now the shared loud policy
    val short = Seq((700L, Array.fill(dim - 4)(0.5f))).toDF("id", "v")
    val exShort = intercept[Exception] {
      SimilaritySearch.ivfAssign(idx, short).collect()
    }
    assert(messageChain(exShort).exists(_.contains("mixed-dimension")))
    // LONGER: previously a raw ArrayIndexOutOfBoundsException
    val long = Seq((701L, Array.fill(dim + 4)(0.5f))).toDF("id", "v")
    val exLong = intercept[Exception] {
      SimilaritySearch.ivfAppend(idx, long).assigned.collect()
    }
    assert(messageChain(exLong).exists(_.contains("mixed-dimension")))
    // empty vectors stay on the documented cluster -1 path (unchanged)
    val emptyOk = SimilaritySearch.ivfAssign(
        idx, Seq((702L, Array.empty[Float])).toDF("id", "v"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(emptyOk == Seq((702L, -1L)))
  }

  test("a NULL batch vector is the empty degenerate in every IVF batch path") {
    import spark.implicits._
    val corpus = (1L to 60L).map(i => (i, vec(i))).toDF("id", "v")
    val idx = SimilaritySearch.ivfBuild(corpus, "id", "v", k = 4, lloydIters = 2)
    // one NULL vector among live ones; the same batch with an EMPTY
    // vector in its place is the reference every answer must equal
    def batchWith(degenerate: Array[Float]) = Seq[(Long, Array[Float])](
      (200L, jitter(vec(7L), 0.01f)), (201L, degenerate), (202L, vec(202L)))
      .toDF("id", "v")
    val withNull = batchWith(null)
    val withEmpty = batchWith(Array.empty[Float])
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toSeq.mkString("|")).sorted.toSeq
    def same(what: String)(f: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)
        : Seq[String] = {
      val got = rows(f(withNull))
      assert(got == rows(f(withEmpty)), s"$what: NULL and empty vectors differ")
      got
    }
    assert(same("ivfAssign")(SimilaritySearch.ivfAssign(idx, _)).contains("201|-1|-1.0"))
    assert(same("ivfAppend")(b => SimilaritySearch.ivfAppend(idx, b).assigned
        .filter(col("id") >= 200L).select("id", "cluster"))
      .contains("201|-1"))
    def queries(b: org.apache.spark.sql.DataFrame) =
      b.select(col("id").as("q_id"), col("v").as("qv"))
    val exact = same("ivfTopKBatch")(b => SimilaritySearch.ivfTopKBatch(
      idx, queries(b), "q_id", "qv", topK = 3, nprobe = 2))
    val quant = same("ivfTopKBatchQuantized")(b => SimilaritySearch.ivfTopKBatchQuantized(
      idx, queries(b), "q_id", "qv", topK = 3, nprobe = 2))
    for (out <- Seq(exact, quant)) {
      assert(!out.exists(_.startsWith("201|")), s"a NULL query probes nothing: $out")
      assert(out.exists(_.startsWith("200|")) && out.exists(_.startsWith("202|")))
    }
    assert(same("ivfIncrementalNearDup")(SimilaritySearch.ivfIncrementalNearDup(
      idx, _, nprobe = 2, threshold = 0.9)).contains("201|0|-1.0|keep"))
    assert(same("incrementalNearDup")(SimilaritySearch.incrementalNearDup(
      corpus, _, "id", "v", threshold = 0.9)).contains("201|0|-1.0|keep"))
  }

  test("ivfTopKBatch agrees with per-query ivfTopK; degenerate queries yield no rows") {
    import spark.implicits._
    val corpus = (1L to 100L).map(i => (i, vec(i))).toDF("id", "v")
    val idx = SimilaritySearch.ivfBuild(corpus, "id", "v", k = 6, lloydIters = 2)
    val qvecs = Seq(501L -> jitter(vec(7L), 0.01f), 502L -> vec(902L),
      503L -> jitter(vec(55L), 0.01f))
    val queries = (qvecs :+ (504L -> Array.fill(dim)(0f))).toDF("qid", "qv")
    val batch = SimilaritySearch.ivfTopKBatch(
        idx, queries, "qid", "qv", topK = 4, nprobe = 2)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      .groupBy(_._1)
    // the batch join must return, per query, EXACTLY the single-query
    // probe's answers (same probe sets, same kernel, same rounding,
    // same tie order)
    for ((qid, qv) <- qvecs) {
      val single = SimilaritySearch.ivfTopK(idx, qv, topK = 4, nprobe = 2)
        .collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq
      val got = batch(qid).sortBy(_._4).map(t => (t._2, t._3)).toSeq
      assert(got == single, s"query $qid diverged: batch=$got single=$single")
      assert(batch(qid).map(_._4).toSeq.sorted == (1L to single.length),
        s"query $qid ranks must be 1..k")
    }
    // the zero query probes nothing: absent from the output, and the
    // valid queries are unaffected by its presence in the batch
    assert(!batch.contains(504L), "degenerate query must yield no rows")
    // planted near-copies rank first for their queries
    assert(batch(501L).minBy(_._4)._2 == 7L)
    assert(batch(503L).minBy(_._4)._2 == 55L)
  }

  test("ivfTopKBatchQuantized agrees with the exact batch arm when overFetch covers inversions") {
    import spark.implicits._
    val corpus = (1L to 100L).map(i => (i, vec(i))).toDF("id", "v")
    val idx = SimilaritySearch.ivfBuild(corpus, "id", "v", k = 6, lloydIters = 2)
    val queries = Seq(601L -> jitter(vec(11L), 0.01f), 602L -> vec(903L),
      603L -> jitter(vec(42L), 0.01f), 604L -> Array.fill(dim)(0f)).toDF("qid", "qv")
    def run(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      .sortBy(t => (t._1, t._4)).toSeq
    val exact = run(SimilaritySearch.ivfTopKBatch(
      idx, queries, "qid", "qv", topK = 4, nprobe = 2))
    val quant = run(SimilaritySearch.ivfTopKBatchQuantized(
      idx, queries, "qid", "qv", topK = 4, nprobe = 2, overFetch = 4))
    // same probe sets + overFetch headroom (the measured int8
    // quantization error is ~0.005 cosine vs a 12-candidate cut over
    // ~33 probed rows): identical output, including the exact scores —
    // the coarse tier is a scheduling/bandwidth lever, the rerank
    // restores exact ranking
    assert(quant == exact, s"quantized arm diverged:\n$quant\nvs\n$exact")
    // degenerate query absent from both
    assert(!exact.exists(_._1 == 604L) && !quant.exists(_._1 == 604L))
    // PARTITIONING must never change the answer (review finding: the
    // per-partition heap union without the global coarse cut kept up
    // to partitions x keep candidates per query — a
    // partitioning-dependent set the oracle's global rank-12 cut
    // doesn't match); re-running over a differently-partitioned corpus
    // must be identical
    for (parts <- Seq(1, 7)) {
      val repart = run(SimilaritySearch.ivfTopKBatchQuantized(
        idx.copy(assigned = idx.assigned.repartition(parts)),
        queries, "qid", "qv", topK = 4, nprobe = 2, overFetch = 4))
      assert(repart == quant, s"answers changed with $parts partitions")
    }
    // k > 64 no longer refuses (round-14 verdict #3): the wide index
    // serves through mask sharding and agrees with the exact arm (65
    // identical centroids tie-break every probe to clusters 0,1 — the
    // same probe sets both arms compute)
    val wide = SimilaritySearch.IvfIndex(
      Array.fill(65)((Array.fill(dim)(1.0), math.sqrt(dim.toDouble))),
      idx.assigned, "id", "v")
    val wq = run(SimilaritySearch.ivfTopKBatchQuantized(
      wide, queries, "qid", "qv", topK = 4, nprobe = 2, overFetch = 4))
    val we = run(SimilaritySearch.ivfTopKBatch(
      wide, queries, "qid", "qv", topK = 4, nprobe = 2))
    assert(wq == we, s"k=65 sharded arm diverged from exact:\n$wq\nvs\n$we")
  }

  test("bandedLshNearDupPairs: output is a verified subset of the exact arm; planted dups found") {
    import spark.implicits._
    // planted structure: 40 base vectors + 5 tight near-copies
    // (cos ~0.999 — the production dedup regime, where banding recall
    // is ~1 by construction: p^6 ~ 0.94 per band, 24 bands)
    val base = (1L to 40L).map(i => (i, vec(i)))
    val dups = Seq(101L -> jitter(vec(3L), 0.003f), 102L -> jitter(vec(7L), 0.003f),
      103L -> jitter(vec(11L), 0.003f), 104L -> jitter(vec(19L), 0.003f),
      105L -> jitter(vec(23L), 0.003f))
    val zero = Seq(200L -> Array.fill(dim)(0f), 201L -> Array.empty[Float])
    val corpus = (base ++ dups ++ zero).toDF("id", "v")
    val thr = 0.9
    def pairSet(df: org.apache.spark.sql.DataFrame) = df
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val exact = pairSet(SimilaritySearch.cosineNearDupPairs(
      corpus, "id", "v", threshold = thr))
    val banded = pairSet(SimilaritySearch.bandedLshNearDupPairs(
      corpus, "id", "v", threshold = thr, dim = dim))
    // every banded pair is an exact pair WITH the identical rounded
    // score (the verify stage is the same kernel + r4 + threshold)
    assert(banded.subsetOf(exact),
      s"banded pairs must be a subset of exact: ${banded -- exact}")
    // all 5 planted near-copies are found (cos ~0.999 -> candidate
    // probability ~1 at 24 bands); degenerate rows pair with nothing
    val plantedFound = dups.map(_._1).count(id =>
      banded.exists(t => t._1 == id || t._2 == id))
    assert(plantedFound == dups.size,
      s"only $plantedFound of ${dups.size} planted near-copies found: $banded")
    assert(!banded.exists(t => t._1 >= 200L || t._2 >= 200L),
      "degenerate vectors must not pair")
    // threshold -1 exposes the raw candidate volume (every candidate
    // has SOME cosine >= -1): candidates must prune vs all-pairs
    val nCand = SimilaritySearch.bandedLshNearDupPairs(
      corpus, "id", "v", threshold = -1.0, dim = dim).count()
    val n = base.size + dups.size
    assert(nCand < n.toLong * (n - 1) / 2,
      s"banding must prune the candidate space: $nCand candidates")
  }

  test("releaseServingBroadcasts drains the per-shard broadcasts after materialization") {
    import spark.implicits._
    val corpus = (1L to 80L).map(i => (i, vec(i))).toDF("id", "v")
    val idx = SimilaritySearch.ivfBuild(corpus, "id", "v", k = 6, lloydIters = 2)
    val queries = Seq(801L -> jitter(vec(9L), 0.01f),
      802L -> jitter(vec(33L), 0.01f)).toDF("qid", "qv")
    def serve() = SimilaritySearch.ivfTopKBatchQuantized(
        idx, queries, "qid", "qv", topK = 3, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sortBy(t => (t._1, -t._3)).toSeq
    SimilaritySearch.releaseServingBroadcasts() // start from an empty queue
    val first = serve()
    // the quantized scan built >= 1 PackedBatch broadcast; after the
    // result is MATERIALIZED (collected above) the release destroys
    // them instead of leaking them to the weak-reference GC
    assert(SimilaritySearch.releaseServingBroadcasts() >= 1,
      "the serve must have registered its per-shard broadcasts")
    // the queue is drained — a second release finds nothing
    assert(SimilaritySearch.releaseServingBroadcasts() == 0)
    // a later serve builds FRESH broadcasts and answers identically
    // (the micro-batch loop shape: serve, write, release, repeat)
    assert(serve() == first)
    assert(SimilaritySearch.releaseServingBroadcasts() >= 1)
  }

  test("withServingResources scopes a call's resources away from the global queue") {
    import spark.implicits._
    val corpus = (1L to 80L).map(i => (i, vec(i))).toDF("id", "v")
    val idx = SimilaritySearch.ivfBuild(corpus, "id", "v", k = 6, lloydIters = 2)
    val queries = Seq(811L -> jitter(vec(5L), 0.01f)).toDF("qid", "qv")
    SimilaritySearch.releaseServingBroadcasts() // start empty
    // resources created INSIDE the scope are captured for the scope's
    // release, NOT enqueued globally — so a concurrent job draining
    // the global queue cannot destroy them (round-17 self-review)
    val (rows, release) = SimilaritySearch.withServingResources {
      SimilaritySearch.ivfTopKBatchQuantized(
        idx, queries, "qid", "qv", topK = 3, nprobe = 2).collect()
    }
    assert(rows.nonEmpty)
    assert(SimilaritySearch.releaseServingBroadcasts() == 0,
      "scoped resources must not reach the process-wide queue")
    release() // frees the scope's broadcasts + persists; idempotent data
    // the op still answers identically after the scoped release
    val again = SimilaritySearch.ivfTopKBatchQuantized(
      idx, queries, "qid", "qv", topK = 3, nprobe = 2).collect()
    assert(again.map(_.toSeq).toSeq == rows.map(_.toSeq).toSeq)
    SimilaritySearch.releaseServingBroadcasts(): Unit
  }

  test("mask sharding: forced 5-wide shards are bit-identical to the one-word scan") {
    import spark.implicits._
    // k=16 through maskWidth=5 → 4 shards, probe sets split across
    // words — the multi-shard loop must reproduce the single-word
    // answer exactly (same heaps, same global coarse cut, same rerank)
    val corpus = (1L to 120L).map(i => (i, vec(i))).toDF("id", "v")
    val idx = SimilaritySearch.ivfBuild(corpus, "id", "v", k = 16, lloydIters = 2)
    val queries = Seq(701L -> jitter(vec(11L), 0.01f),
      702L -> jitter(vec(42L), 0.01f), 703L -> vec(905L),
      704L -> Array.fill(dim)(0f)).toDF("qid", "qv")
    def run(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      .sortBy(t => (t._1, t._4)).toSeq
    val oneWord = run(SimilaritySearch.ivfTopKBatchQuantized(
      idx, queries, "qid", "qv", topK = 4, nprobe = 3, overFetch = 4))
    val sharded = run(SimilaritySearch.ivfTopKBatchQuantizedImpl(
      idx, queries, "qid", "qv", 4, 3, 4, maskWidth = 5))
    assert(sharded == oneWord,
      s"5-wide sharding diverged:\n$sharded\nvs\n$oneWord")
    // degenerate maskWidth refused
    intercept[IllegalArgumentException] {
      SimilaritySearch.ivfTopKBatchQuantizedImpl(
        idx, queries, "qid", "qv", 4, 3, 4, maskWidth = 0)
    }
  }

  test("chunked serving drivers: multi-chunk union == one-shot on both arms") {
    import spark.implicits._
    val corpus = (1L to 100L).map(i => (i, vec(i))).toDF("id", "v")
    val idx = SimilaritySearch.ivfBuild(corpus, "id", "v", k = 6, lloydIters = 2)
    val queries = (Seq(801L -> jitter(vec(5L), 0.01f),
      802L -> jitter(vec(23L), 0.01f), 803L -> vec(907L),
      804L -> jitter(vec(71L), 0.01f), 805L -> vec(909L),
      806L -> jitter(vec(18L), 0.01f), 807L -> vec(911L),
      808L -> jitter(vec(64L), 0.01f)) :+
      (809L -> Array.fill(dim)(0f))).toDF("qid", "qv")
    def run(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      .sortBy(t => (t._1, t._4)).toSeq
    // chunkTarget 3 over 9 queries → 3 hash-disjoint chunks; the union
    // must equal the one-shot answer exactly (answers are per-query
    // independent — this is the exactness argument of the verdict-#3
    // chunking driver, spec'd rather than asserted in prose)
    val oneExact = run(SimilaritySearch.ivfTopKBatch(
      idx, queries, "qid", "qv", topK = 4, nprobe = 2))
    val chunkedExact = run(SimilaritySearch.ivfTopKBatchChunked(
      idx, queries, "qid", "qv", topK = 4, nprobe = 2, chunkTarget = 3))
    assert(chunkedExact == oneExact,
      s"chunked exact arm diverged:\n$chunkedExact\nvs\n$oneExact")
    val oneQuant = run(SimilaritySearch.ivfTopKBatchQuantized(
      idx, queries, "qid", "qv", topK = 4, nprobe = 2, overFetch = 4))
    val chunkedQuant = run(SimilaritySearch.ivfTopKBatchQuantizedChunked(
      idx, queries, "qid", "qv", topK = 4, nprobe = 2, overFetch = 4,
      chunkTarget = 3))
    assert(chunkedQuant == oneQuant,
      s"chunked quantized arm diverged:\n$chunkedQuant\nvs\n$oneQuant")
    // under-cap batches take the zero-overhead direct path (same answer)
    val direct = run(SimilaritySearch.ivfTopKBatchChunked(
      idx, queries, "qid", "qv", topK = 4, nprobe = 2))
    assert(direct == oneExact)
    // degenerate chunkTarget refused
    intercept[IllegalArgumentException] {
      SimilaritySearch.ivfTopKBatchChunked(
        idx, queries, "qid", "qv", topK = 4, nprobe = 2, chunkTarget = 0)
    }
  }

  test("batch serving refuses a query id column that collides with the index id column") {
    import spark.implicits._
    // round-14 advice: both ops rename __qid/__nid back to the callers'
    // names in the final select — equal names would emit two
    // identically-named columns and every downstream reference throws
    val corpus = (1L to 40L).map(i => (i, vec(i))).toDF("id", "v")
    val idx = SimilaritySearch.ivfBuild(corpus, "id", "v", k = 4, lloydIters = 1)
    val queries = Seq(901L -> jitter(vec(3L), 0.01f)).toDF("id", "qv")
    val e1 = intercept[IllegalArgumentException] {
      SimilaritySearch.ivfTopKBatch(idx, queries, "id", "qv", 3, 2)
    }
    assert(e1.getMessage.contains("identically-named"))
    val e2 = intercept[IllegalArgumentException] {
      SimilaritySearch.ivfTopKBatchQuantized(idx, queries, "id", "qv", 3, 2)
    }
    assert(e2.getMessage.contains("identically-named"))
  }

  test("ivfSave refreshes in place (load -> save same dir) and control-char column names round-trip") {
    import spark.implicits._
    val corpus = (1L to 60L).map(i => (i, vec(i))).toDF("id", "v")
    val idx = SimilaritySearch.ivfBuild(corpus, "id", "v", k = 4, lloydIters = 2)
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_refresh").toString
    SimilaritySearch.ivfSave(idx, dir)
    val loaded = SimilaritySearch.ivfLoad(spark, dir)
    // capture the pre-refresh assignments FIRST: after the swap the old
    // DataFrame handle's file listing is stale by design (the save
    // contract is that the LIVE path is consistent, not old handles)
    val a0 = loaded.assigned.select("id", "cluster").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    // the natural refresh flow reads the live version and rewrites the
    // same index dir — the versioned layout (round-14 advice, hardened
    // after self-review to a single-pointer commit) must make this
    // succeed instead of Spark's cannot-overwrite-read-path abort
    SimilaritySearch.ivfSave(loaded, dir)
    val again = SimilaritySearch.ivfLoad(spark, dir)
    val a1 = again.assigned.select("id", "cluster").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(a1 == a0, "assignments drifted through the in-place refresh")
    // the refresh committed a new version and kept the predecessor for
    // in-flight readers of the old handle
    assert(SimilaritySearch.ivfCurrentPath(spark, dir).endsWith("/v2"))
    assert(new java.io.File(s"$dir/v1").exists,
      "immediate predecessor version must be retained")
    // and the OLD handle still reads: its files were never touched
    assert(loaded.assigned.count() == a0.size)
    // crash-window fallback: with CURRENT gone, the newest COMPLETE
    // version still resolves (meta.json is the completeness marker)
    assert(new java.io.File(s"$dir/CURRENT").delete())
    assert(SimilaritySearch.ivfCurrentPath(spark, dir).endsWith("/v2"))
    // a partial version (no meta.json yet) must NOT win resolution
    assert(new java.io.File(s"$dir/v9").mkdir())
    assert(SimilaritySearch.ivfCurrentPath(spark, dir).endsWith("/v2"))
    // control characters in column names must survive meta.json
    // (round-14 advice: the old escaper left them raw — invalid JSON,
    // an unreadable index)
    val weird = SimilaritySearch.IvfIndex(idx.centroids,
      idx.assigned.withColumnRenamed("id", "id\nweird")
        .withColumnRenamed("v", "v\tcol"),
      "id\nweird", "v\tcol")
    val wdir = java.nio.file.Files.createTempDirectory("graft_ivf_weird").toString
    SimilaritySearch.ivfSave(weird, wdir)
    val wloaded = SimilaritySearch.ivfLoad(spark, wdir)
    assert(wloaded.idCol == "id\nweird" && wloaded.vecCol == "v\tcol",
      s"column names corrupted: '${wloaded.idCol}' / '${wloaded.vecCol}'")
  }

  test("persisted int8 projection: restored by ivfLoad, bit-identical serving, safe fallbacks") {
    import spark.implicits._
    val corpus = ((1L, jitter(vec(321L), 0.01f)) +:
      (2L to 80L).map(i => (i, vec(i)))).toDF("id", "v")
    val idx = SimilaritySearch.ivfBuild(corpus, "id", "v", k = 4, lloydIters = 2)
    assert(idx.quantized.isEmpty, "a freshly built index carries no projection")
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_q8").toString
    SimilaritySearch.ivfSave(idx, dir)
    val loaded = SimilaritySearch.ivfLoad(spark, dir)
    assert(loaded.quantized.isDefined, "ivfLoad must restore the materialized projection")
    // the projection tree is cluster-partitioned like assigned (the
    // probe-union filter must reach file-listing pruning on it too)
    val live = SimilaritySearch.ivfCurrentPath(spark, dir)
    val qparts = new java.io.File(s"$live/quantized").listFiles()
      .filter(_.isDirectory).map(_.getName)
    assert(qparts.nonEmpty && qparts.forall(_.startsWith("cluster=")))
    // serving from persisted bytes == serving with the projection
    // stripped (inline quantization) — quantization is deterministic
    val queries = Seq((900L, vec(321L)), (901L, vec(7L))).toDF("q_id", "qv")
    def serve(ix: SimilaritySearch.IvfIndex) =
      SimilaritySearch.ivfTopKBatchQuantized(ix, queries, "q_id", "qv",
          topK = 3, nprobe = 2)
        .orderBy("q_id", "rank")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSeq
    val fromBytes = serve(loaded)
    val inline = serve(loaded.copy(quantized = None))
    assert(fromBytes == inline,
      s"persisted-projection serving diverged from inline quantization:\n$fromBytes\nvs\n$inline")
    assert(fromBytes.nonEmpty && fromBytes.head._2 == 1L,
      "planted near-copy must rank first")
    // ivfAppend must DROP the projection: appended rows are not in the
    // persisted bytes, and serving from a stale projection would
    // silently hide them from the coarse pass
    val appended = SimilaritySearch.ivfAppend(
      loaded, Seq((950L, jitter(vec(55L), 0.01f))).toDF("id", "v"))
    assert(appended.quantized.isEmpty, "ivfAppend must invalidate the projection")
    // legacy layout (pre-r16 save: no quantized flag in meta, no
    // quantized dir) still loads and serves via the inline path
    val vdir = java.nio.file.Paths.get(live)
    val meta = new String(java.nio.file.Files.readAllBytes(vdir.resolve("meta.json")), "UTF-8")
    java.nio.file.Files.writeString(vdir.resolve("meta.json"),
      meta.replace(",\"quantized\":true", ""))
    // the raw rewrite above invalidates the Hadoop local FS checksum
    // sidecar — drop it (a real legacy tree was written without one
    // for this content in the first place)
    java.nio.file.Files.deleteIfExists(vdir.resolve(".meta.json.crc"))
    def rmTree(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rmTree)
      assert(f.delete())
    }
    rmTree(new java.io.File(s"$live/quantized"))
    val legacy = SimilaritySearch.ivfLoad(spark, dir)
    assert(legacy.quantized.isEmpty, "legacy layout must load projection-less")
    assert(serve(legacy) == inline, "legacy serving must answer via inline quantization")
  }

  test("ivfSave GC after a crashed commit retains the actually-live version (r15 advice)") {
    import spark.implicits._
    val corpus = (1L to 60L).map(i => (i, vec(i))).toDF("id", "v")
    val idx = SimilaritySearch.ivfBuild(corpus, "id", "v", k = 4, lloydIters = 2)
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_crashgc").toString
    SimilaritySearch.ivfSave(idx, dir) // v1, CURRENT -> v1
    // simulate a save that CRASHED in the commit blink: v2 is fully
    // written (meta.json present) but CURRENT never moved — readers are
    // still resolving and scanning v1
    def copyTree(src: java.nio.file.Path, dst: java.nio.file.Path): Unit = {
      java.nio.file.Files.walk(src).forEach { p =>
        val t = dst.resolve(src.relativize(p))
        if (java.nio.file.Files.isDirectory(p)) java.nio.file.Files.createDirectories(t)
        else java.nio.file.Files.copy(p, t)
      }
    }
    copyTree(java.nio.file.Paths.get(s"$dir/v1"), java.nio.file.Paths.get(s"$dir/v2"))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/CURRENT"), "v1")
    assert(SimilaritySearch.ivfCurrentPath(spark, dir).endsWith("/v1"))
    val live = SimilaritySearch.ivfLoad(spark, dir) // a reader on v1
    // the NEXT save writes v3 — its GC must key retention to the
    // previously-LIVE version (v1, what CURRENT pointed at), not to
    // next−1 (v2, a never-live crash leftover): the old rule deleted v1
    // out from under the in-flight reader
    SimilaritySearch.ivfSave(live, dir)
    assert(SimilaritySearch.ivfCurrentPath(spark, dir).endsWith("/v3"))
    assert(new java.io.File(s"$dir/v1").exists,
      "the version in-flight readers resolved before the save must survive its GC")
    assert(live.assigned.count() == 60L, "the in-flight reader's files are gone")
    // and the cycle after that may reap both old versions (the one-
    // refresh-cycle guarantee): prevLive is now v3
    SimilaritySearch.ivfSave(SimilaritySearch.ivfLoad(spark, dir), dir)
    assert(!new java.io.File(s"$dir/v1").exists && !new java.io.File(s"$dir/v2").exists,
      "versions older than the previously-live one must be collected")
    assert(new java.io.File(s"$dir/v3").exists && new java.io.File(s"$dir/v4").exists)
  }

  test("ivfSave/ivfLoad round-trip: bit-exact centroids, cluster-partitioned layout, same answers") {
    import spark.implicits._
    val corpus = ((1L, jitter(vec(777L), 0.01f)) +:
      (2L to 80L).map(i => (i, vec(i)))).toDF("id", "v")
    val idx = SimilaritySearch.ivfBuild(corpus, "id", "v", k = 4, lloydIters = 2)
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf").toString
    SimilaritySearch.ivfSave(idx, dir)
    val loaded = SimilaritySearch.ivfLoad(spark, dir)
    // centroids round-trip bit-exactly (doubles through parquet)
    assert(loaded.centroids.length == idx.centroids.length)
    idx.centroids.zip(loaded.centroids).foreach { case ((c0, n0), (c1, n1)) =>
      assert(c0.toSeq == c1.toSeq && n0 == n1, "centroid drifted through the round-trip")
    }
    // the inverted index is a hive partition tree — the on-disk form of
    // probe pruning: each cluster is its own subdirectory, so a
    // cluster IN (...) filter prunes at the file listing (under the
    // live VERSION dir — CURRENT resolves it)
    val live = SimilaritySearch.ivfCurrentPath(spark, dir)
    val parts = new java.io.File(s"$live/assigned").listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    assert(parts.forall(_.startsWith("cluster=")), s"unexpected layout: $parts")
    assert(parts.size >= 2, s"expected multiple cluster partitions, got $parts")
    // same assignment rows, same ANN answers through the loaded index
    val a0 = idx.assigned.select("id", "cluster").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val a1 = loaded.assigned.select("id", "cluster").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(a1 == a0, "assignment changed through the round-trip")
    val q = vec(777L)
    val t0 = SimilaritySearch.ivfTopK(idx, q, topK = 5, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val t1 = SimilaritySearch.ivfTopK(loaded, q, topK = 5, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(t1 == t0, s"loaded-index answers diverged: $t1 vs $t0")
    assert(t0.head._1 == 1L, "planted near-copy must rank first through both")
    // and the loaded index serves the incremental ops directly —
    // through its persisted int8 projection (round 16), which must
    // answer bit-identically to the inline-quantization path
    val batch = Seq((900L, jitter(vec(33L), 0.01f))).toDF("id", "v")
    def incr(ix: SimilaritySearch.IvfIndex) =
      SimilaritySearch.ivfIncrementalNearDup(
          ix, batch, nprobe = 2, threshold = 0.9, margin = 0.05)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getString(3)))
        .sortBy(_._1).toSeq
    assert(loaded.quantized.isDefined)
    val viaBytes = incr(loaded)
    assert(viaBytes == incr(loaded.copy(quantized = None)),
      "v14 through the persisted projection diverged from inline quantization")
    val st = viaBytes.map(r => r._1 -> r._4).toMap
    assert(st(900L) == "dup", s"near-copy must flag through the loaded index: $st")
  }

  test("quantizedTopK ranks the planted near-copy first and reranks exactly") {
    import spark.implicits._
    val q = vec(4242L)
    val corpus = ((1L, jitter(q, 0.01f)) +:
      (2L to 60L).map(i => (i, vec(i * 17 + 3)))).toDF("id", "v")
    val query = Seq(Tuple1(q)).toDF("qv")
    val quant = SimilaritySearch.quantizedTopK(
      corpus, "id", "v", query, "qv", k = 5, overFetch = 4).collect()
    val exact = SimilaritySearch.cosineTopK(
      corpus, "id", "v", query, "qv", k = 5).collect()
    assert(quant.head.getLong(0) == 1L, "planted near-copy must rank first")
    // the rerank is the SAME exact-cosine formula as the brute-force
    // baseline, so any id both paths return must carry an identical score
    val exactScores = exact.map(r => r.getLong(0) -> r.getDouble(1)).toMap
    quant.foreach { r =>
      exactScores.get(r.getLong(0)).foreach(s => assert(s == r.getDouble(1)))
    }
    // int8 coarse scoring over 64-dim-ish vectors with 4× over-fetch
    // should recover most of the exact top-5 (recall, not equality —
    // quantization noise may swap the tail)
    val overlap = quant.map(_.getLong(0)).toSet
      .intersect(exact.map(_.getLong(0)).toSet).size
    assert(overlap >= 3, s"recall too low: $overlap/5")
  }

  test("exact arm: the int8-certified pipeline equals the brute-force r4 cosine") {
    import spark.implicits._
    // 300 random vectors plus the hard cases: an exact duplicate (cos
    // 1.0), a tight near-copy, a zero vector (no cosine — dropped),
    // negative ids. Full-output equality (ids AND scores) at a low and
    // a high threshold is the certified-bound contract: no false
    // negative survives the coarse admission, no false positive
    // survives the verify.
    val base = (1L to 300L).map(i => (i - 150L, vec(i * 37 + 11)))
    val extra = Seq(
      (400L, base(5)._2.clone()),
      (401L, jitter(base(9)._2, 0.02f)),
      (402L, Array.fill(base.head._2.length)(0f)),
      // EMPTY vector: no cosine; the int8 packed projection must
      // coalesce its null array_max rather than NPE
      (403L, Array.empty[Float]))
    val corpus = (base ++ extra).toDF("id", "v")
    for (th <- Seq(0.45, 0.9)) {
      val i8 = SimilaritySearch
        .cosineNearDupPairs(corpus, "id", "v", threshold = th, numBlocks = 4)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val ref = bruteForcePairs(base ++ extra, th)
      assert(i8 == ref, s"threshold $th: int8 extra ${i8 -- ref}, missing ${ref -- i8}")
      assert(i8.nonEmpty, s"threshold $th produced no pairs — test is vacuous")
    }
  }

  test("quantizedNearDupPairs == exact pairs when the margin covers quantization error") {
    import spark.implicits._
    val base = (1L to 40L).map(i => (i, vec(i * 131 + 7)))
    val planted = Seq((103L, jitter(base(2)._2, 0.01f)),
      (117L, jitter(base(16)._2, 0.01f)))
    val corpus = (base ++ planted).toDF("id", "v")
    val exact = SimilaritySearch
      .cosineNearDupPairs(corpus, "id", "v", threshold = 0.9, numBlocks = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val quant = SimilaritySearch
      .quantizedNearDupPairs(corpus, "id", "v", threshold = 0.9,
        margin = 0.05, numBlocks = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // identical pairs AND identical exact scores: the verify stage is
    // the same kernel, the prefilter only prunes
    assert(quant == exact, s"quant=$quant exact=$exact")
    assert(quant.nonEmpty)
    // pin the PREFILTER itself (not through the verify stage, which
    // would mask a broken bound comparison): an impossible bound
    // yields zero candidates, a permissive one yields all pairs, and
    // the planted-pair bound yields a strict subset
    val n = corpus.count()
    def candAt(bound: Double): Long = SimilaritySearch
      .quantizedCandidatePairs(corpus, "id", "v", bound, numBlocks = 4).count()
    assert(candAt(1.0001) == 0L, "impossible bound must prune everything")
    assert(candAt(-1.0) == n * (n - 1) / 2, "bound -1 must keep every pair")
    val mid = candAt(0.85)
    assert(mid >= 2 && mid < n * (n - 1) / 2, s"0.85 bound kept $mid")
  }

  test("verify stage: broadcast, shuffle and auto fetch modes emit identical pairs") {
    import spark.implicits._
    val baseRows = (1L to 120L).map(i => (i, vec(i * 53 + 3)))
    val rows = baseRows ++ Seq((300L, jitter(baseRows(4)._2, 0.02f)),
      (301L, jitter(baseRows(40)._2, 0.02f)))
    val corpus = rows.toDF("id", "v")
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Double)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // auto: 122 rows, counted, is under the cap — the float fetch must
    // plan broadcast joins (no candidate-carrying exchange); a size
    // hint under the cap picks the same plan without the count
    val auto = SimilaritySearch
      .cosineNearDupPairs(corpus, "id", "v", threshold = 0.45, numBlocks = 4)
    val plan = auto.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"verify fetch not broadcast:\n$plan")
    val got = pairs(auto)
    assert(got.nonEmpty, "vacuous: no pairs produced")
    assert(got == pairs(SimilaritySearch.cosineNearDupPairs(
      corpus, "id", "v", threshold = 0.45, numBlocks = 4, sizeHint = 122L)))
    assert(got == bruteForcePairs(rows, 0.45))
    // the shuffled-join shape, reached through a corpus size hint above
    // the cap (the pairwise arm refuses such a corpus outright), emits
    // the same statuses as the broadcast fetch
    val batch = rows.take(12).map { case (id, v) => (id + 1000L, jitter(v, 0.01f)) }
      .toDF("id", "v")
    def status(hint: Long) = SimilaritySearch.incrementalNearDup(
        corpus, batch, "id", "v", threshold = 0.45, corpusSizeHint = hint)
    val shuffled = status(SimilaritySearch.maxExactRows + 1)
    val rowsOf = (df: org.apache.spark.sql.DataFrame) =>
      df.collect().map(_.toSeq.mkString("|")).sorted.toSeq
    assert(rowsOf(shuffled) == rowsOf(status(-1L)))
    assert(rowsOf(shuffled).exists(_.endsWith("|dup")), "vacuous: no dups")
    // over the cap the corpus float side is not broadcast: with the
    // planner's own size-based broadcasts off, the only broadcast left
    // is the small batch side of the verify join
    val prevAuto = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      def broadcasts(hint: Long) = "BroadcastExchange".r
        .findAllIn(status(hint).queryExecution.executedPlan.toString).size
      assert(broadcasts(SimilaritySearch.maxExactRows + 1) == 1)
      assert(broadcasts(-1L) == 2)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevAuto)
  }

  test("property: incrementalNearDup equals brute-force r4 cosine, random data") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    import spark.implicits._
    // the flat-kernel coarse scan has hand-written offsets/loops where
    // an off-by-one hides from structured fixtures; random corpora with
    // mixed magnitudes, zero vectors, and ODD dims (SIMD tail shapes)
    // pin it against the brute-force cosine generatively
    val compGen: Gen[Float] = Gen.frequency(
      (8, Gen.chooseNum(-1.0, 1.0).map(_.toFloat)),
      (1, Gen.chooseNum(-1.0, 1.0).map(x => (x * 1e6).toFloat)),
      (2, Gen.const(0f)))
    var nonVacuous = 0
    for (seed <- 1 to 8) {
      val dimP = 7 + seed * 3 // 10..31: crosses the 16/32-lane boundaries
      val vecGen: Gen[Array[Float]] = Gen.frequency(
        (10, Gen.listOfN(dimP, compGen).map(_.toArray)),
        (1, Gen.const(Array.fill(dimP)(0f))))
      val g = for {
        nc <- Gen.chooseNum(8, 20); nb <- Gen.chooseNum(3, 10)
        cs <- Gen.listOfN(nc, vecGen); bs <- Gen.listOfN(nb, vecGen)
        th <- Gen.chooseNum(0.2, 0.9)
      } yield (cs, bs, th)
      val (cs, bs0, th) = g.pureApply(Gen.Parameters.default, Seed(seed.toLong))
      val bs = bs0 :+ jitter(cs.head, 1e-4f) // plant one likely dup
      val crows = cs.indices.map(i => (i.toLong, cs(i)))
      val brows = bs.indices.map(i => (100L + i, bs(i)))
      val got = SimilaritySearch
        .incrementalNearDup(crows.toDF("id", "v"), brows.toDF("id", "v"), "id", "v", th, 0.05)
        .collect().map(r => r.getLong(0) ->
          ((r.getLong(1), r.getDouble(2), r.getString(3)))).toMap
      val ref = bruteForceStatus(crows, brows, th)
      if (ref.values.exists(_._3 == "dup")) nonVacuous += 1
      assert(got == ref, s"seed=$seed dim=$dimP th=$th: $got vs $ref")
    }
    assert(nonVacuous >= 6, s"only $nonVacuous/8 cases had a dup — weak corpus")
  }

  test("property: certified and margin admission are supersets of the exact pairs") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    import spark.implicits._
    // the no-false-negative proof lives in a comment
    // (certifiedCandidatePairs scaladoc); this pins it generatively on
    // the bound's edge cases — mixed magnitudes (1e10), denormals
    // (1e-40: s underflows toward 0), zeros, negatives — which the
    // structured fixtures above never exercise
    val compGen: Gen[Float] = Gen.frequency(
      (8, Gen.chooseNum(-1.0, 1.0).map(_.toFloat)),
      (1, Gen.chooseNum(-1.0, 1.0).map(x => (x * 1e10).toFloat)),
      (1, Gen.chooseNum(-1.0, 1.0).map(x => (x * 1e-40).toFloat)),
      (2, Gen.const(0f)))
    val dimP = 12
    val vecGen: Gen[Array[Float]] = Gen.frequency(
      (12, Gen.listOfN(dimP, compGen).map(_.toArray)),
      (1, Gen.const(Array.fill(dimP)(0f))))
    val corpusGen: Gen[(List[Array[Float]], Double)] = for {
      n <- Gen.chooseNum(12, 24)
      vs <- Gen.listOfN(n, vecGen)
      th <- Gen.chooseNum(0.1, 0.95)
    } yield (vs, th)
    def dotd(x: Array[Float], y: Array[Float]): Double = {
      var d = 0.0; var k = 0
      while (k < x.length) { d += x(k).toDouble * y(k).toDouble; k += 1 }
      d
    }
    var nonVacuous = 0
    for (seed <- 1 to 12) {
      val (raw, th) = corpusGen.pureApply(Gen.Parameters.default, Seed(seed.toLong))
      // plant a near-copy so most cases have at least one true pair
      val vs = raw :+ jitter(raw.head, 1e-4f)
      val ids = vs.indices.map(i => i.toLong - 5) // include negatives
      // exact pairs per the library's contract: r4-rounded double cosine
      val exact = (for {
        i <- vs.indices; j <- (i + 1) until vs.size
        den = math.sqrt(dotd(vs(i), vs(i))) * math.sqrt(dotd(vs(j), vs(j)))
        cos = math.floor(dotd(vs(i), vs(j)) / den * 10000 + 0.5) / 10000.0
        if cos >= th
        a = ids(i); b = ids(j)
      } yield if (a < b) (a, b) else (b, a)).toSet
      if (exact.nonEmpty) nonVacuous += 1
      val df = ids.zip(vs).toDF("id", "v")
      val cert = SimilaritySearch
        .certifiedCandidatePairs(df, "id", "v", th, numBlocks = 3)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(exact.subsetOf(cert),
        s"seed=$seed th=$th certified dropped true pairs: ${exact.diff(cert)}")
      val marg = SimilaritySearch
        .quantizedCandidatePairs(df, "id", "v", th - 0.05, numBlocks = 3)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(exact.subsetOf(marg),
        s"seed=$seed th=$th margin rule dropped true pairs: ${exact.diff(marg)}")
    }
    assert(nonVacuous >= 6, s"only $nonVacuous/12 cases had true pairs — weak corpus")
  }

  test("mixed-dimension corpora fail loudly in both exact kernels (no silent truncation)") {
    import spark.implicits._
    val corpus = ((1L to 20L).map(i => (i, vec(i * 97 + 1))) :+
      (99L, vec(3L).take(dim / 2))).toDF("id", "v")
    def rootMsg(t: Throwable): String = {
      var c: Throwable = t
      val sb = new StringBuilder
      while (c != null) { sb.append(c.getMessage).append('\n'); c = c.getCause }
      sb.toString
    }
    // the certified (cosineNearDupPairs) and the margin
    // (quantizedNearDupPairs) admission rules of the blocked kernel
    val arms = Seq[(String, org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)](
      "certified" -> (c => SimilaritySearch.cosineNearDupPairs(
        c, "id", "v", threshold = -1.0, numBlocks = 2)),
      "margin" -> (c => SimilaritySearch.quantizedNearDupPairs(
        c, "id", "v", threshold = -1.0, margin = 0.0, numBlocks = 2)))
    for ((arm, run) <- arms) {
      val e = intercept[Throwable](run(corpus).count())
      assert(rootMsg(e).contains("mixed-dimension"),
        s"$arm arm: expected loud mixed-dimension failure, got $e")
    }
    // empty vectors remain the allowed degenerate: dropped, not thrown
    val withEmpty = ((1L to 20L).map(i => (i, vec(i * 97 + 1))) :+
      (99L, Array.empty[Float])).toDF("id", "v")
    for ((arm, run) <- arms) {
      val got = run(withEmpty).collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(got.length == 20 * 19 / 2, s"$arm arm: ${got.length} pairs")
      assert(!got.exists(p => p._1 == 99L || p._2 == 99L), s"$arm arm paired the empty row")
    }
  }

  test("quantizedTopKIndexed over a materialized projection matches the one-shot form") {
    import spark.implicits._
    val q = vec(777L)
    val corpus = ((1L, jitter(q, 0.01f)) +:
      (2L to 60L).map(i => (i, vec(i * 29 + 11)))).toDF("id", "v")
    val query = Seq(Tuple1(q)).toDF("qv")
    val projection = SimilaritySearch.quantizeCorpus(corpus, "id", "v")
    assert(projection.columns.toSeq == Seq("id", "qvec", "qnorm2"))
    val indexed = SimilaritySearch.quantizedTopKIndexed(
      projection, corpus, "id", "v", query, "qv", k = 5, overFetch = 4)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val oneShot = SimilaritySearch.quantizedTopK(
      corpus, "id", "v", query, "qv", k = 5, overFetch = 4)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(indexed == oneShot,
      s"indexed=$indexed oneShot=$oneShot")
  }

  test("pqBuild + pqTopK retrieve the planted near-copy through the ADC scan") {
    import spark.implicits._
    val q = vec(314L)
    val corpus = ((1L, jitter(q, 0.01f)) +:
      (2L to 400L).map(i => (i, vec(i * 613 + 7)))).toDF("id", "v")
    val idx = SimilaritySearch.pqBuild(corpus, "id", "v", m = 4, ksub = 8,
      lloydIters = 2)
    assert(idx.m == 4 && idx.dsub == 4 && idx.bits == 3)
    assert(idx.codebook.length == 4 && idx.codebook.forall(_.length == idx.ksub))
    // every corpus row encodes to one packed code within the bit budget
    val enc = idx.encoded.collect()
    assert(enc.length == 400)
    enc.foreach { r =>
      val code = r.getLong(1)
      assert(code >= 0 && code < (1L << (idx.m * idx.bits)), s"packed code $code")
    }
    val top = SimilaritySearch.pqTopK(idx, q, topK = 5, overFetch = 4).collect()
    assert(top.head.getLong(0) == 1L, "planted near-copy must rank first")
    assert(top.head.getDouble(1) > 0.99)
    // the rerank is exact: every returned score equals the float scorer's
    val exact = SimilaritySearch.cosineScores(corpus, "id", "v",
        Seq(Tuple1(q)).toDF("qv"), "qv")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    top.foreach(r => assert(r.getDouble(1) == exact(r.getLong(0))))
  }

  test("pqTopK == exact cosineTopK when overFetch covers the corpus") {
    import spark.implicits._
    val q = vec(2718L)
    val corpus = (1L to 120L).map(i => (i, vec(i * 101 + 3))).toDF("id", "v")
    val idx = SimilaritySearch.pqBuild(corpus, "id", "v", m = 4, ksub = 8,
      lloydIters = 1)
    // overFetch large enough that the ADC coarse cut keeps every row:
    // the result must then be BIT-IDENTICAL to the exact scorer's top-k
    // (the approximation can only cost recall at the cut, never scores)
    val pq = SimilaritySearch.pqTopK(idx, q, topK = 10, overFetch = 12)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val exact = SimilaritySearch.cosineTopK(corpus, "id", "v",
        Seq(Tuple1(q)).toDF("qv"), "qv", k = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(pq == exact, s"pq=$pq exact=$exact")
  }

  test("rotated PQ (v29): exact under covering overFetch; deterministic; persistence + guards") {
    import spark.implicits._
    def rmTree(path: String): Unit = {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
        f.delete(): Unit
      }
      rm(new java.io.File(path))
    }
    val q = vec(2718L)
    val corpus = (1L to 120L).map(i => (i, vec(i * 101 + 3))).toDF("id", "v")
    val idx = SimilaritySearch.pqBuild(corpus, "id", "v", m = 4, ksub = 8,
      lloydIters = 1, rotation = "hadamard")
    // a covering coarse cut makes the rotated serve BIT-IDENTICAL to the
    // exact scorer — rotation changes which candidates survive the cut,
    // never the returned cosines (rerank on original floats)
    val rot = SimilaritySearch.pqTopK(idx, q, topK = 10, overFetch = 12)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val exact = SimilaritySearch.cosineTopK(corpus, "id", "v",
        Seq(Tuple1(q)).toDF("qv"), "qv", k = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(rot == exact, s"rot=$rot exact=$exact")
    // deterministic re-train, and stored norms are the ORIGINAL ones
    val idx2 = SimilaritySearch.pqBuild(corpus, "id", "v", m = 4, ksub = 8,
      lloydIters = 1, rotation = "hadamard")
    assert(idx.codebook.flatten.flatten.toSeq ==
      idx2.codebook.flatten.flatten.toSeq)
    val nrm42 = idx.encoded.filter(col("id") === 42L)
      .select("nrm").collect()(0).getDouble(0)
    val trueNrm = math.sqrt(vec(42L * 101 + 3).map(x => x.toDouble * x).sum)
    assert(math.abs(nrm42 - trueNrm) < 1e-9,
      "encoded nrm must be the original vector's norm, not the rotated fp-grid one")
    // degenerate query returns empty (zero LUT + zero qn NULLs every row)
    assert(SimilaritySearch.pqTopK(idx, new Array[Float](16), topK = 3)
      .collect().isEmpty)
    // persistence: round-trip serves identically; foreign loaders refuse
    val dir = java.nio.file.Files.createTempDirectory("rotpq").toString
    try {
      SimilaritySearch.pqSave(idx, dir)
      val loaded = SimilaritySearch.pqLoad(spark, dir, corpus)
      assert(loaded.kind == "rot-pq")
      val a = SimilaritySearch.pqTopK(idx, q, topK = 5).collect().toSeq
      val b = SimilaritySearch.pqTopK(loaded, q, topK = 5).collect().toSeq
      assert(a == b, "loaded rotated index must serve bit-identically")
      val e1 = intercept[IllegalArgumentException] {
        SimilaritySearch.pqLoad(spark, dir, corpus, kind = Some("pq"))
      }
      assert(e1.getMessage.contains("rot-pq"))
      val e2 = intercept[IllegalArgumentException] {
        SimilaritySearch.pqLoad(spark, dir, corpus, kind = Some("residual-pq"))
      }
      assert(e2.getMessage.contains("not the 'residual-pq'"))
    } finally rmTree(dir)
    // non-power-of-4 dimension is loud (√dim must be a power of two)
    val bad = (1L to 40L).map(i => (i, Array.fill(8)(i.toFloat))).toDF("id", "v")
    val e3 = intercept[IllegalArgumentException] {
      SimilaritySearch.pqBuild(bad, "id", "v", m = 4, ksub = 4, rotation = "hadamard")
    }
    assert(e3.getMessage.contains("power-of-4"))
  }

  test("rotated-residual PQ (v30): exact under full probe + covering overFetch; persistence + guards") {
    import spark.implicits._
    def rmTree(path: String): Unit = {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
        f.delete(): Unit
      }
      rm(new java.io.File(path))
    }
    val q = vec(3141L)
    val corpus = (1L to 120L).map(i => (i, vec(i * 577 + 11))).toDF("id", "v")
    val ivf = SimilaritySearch.ivfBuild(corpus, "id", "v", k = 6, lloydIters = 2)
    val rr = SimilaritySearch.residualPqBuild(ivf, m = 4, ksub = 8,
      lloydIters = 1, rotation = "hadamard")
    // full probe + covering cut ⇒ BIT-IDENTICAL to the exact scorer:
    // the ⟨q,c⟩ + ⟨Hq,Hr⟩ decomposition only decides who survives the
    // cut; returned cosines come from the original floats
    val got = SimilaritySearch.pqTopK(rr, q, topK = 10,
        nprobe = 6, overFetch = 12)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val exact = SimilaritySearch.cosineTopK(corpus, "id", "v",
        Seq(Tuple1(q)).toDF("qv"), "qv", k = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got == exact, s"got=$got exact=$exact")
    // persistence: round-trip identical; plain and rotated residual
    // trees are mutually refused (their codes are mutually garbage)
    val dir = java.nio.file.Files.createTempDirectory("rrpq").toString
    try {
      SimilaritySearch.pqSave(rr, dir)
      val loaded = SimilaritySearch.pqLoad(spark, dir, corpus)
      assert(loaded.kind == "rot-residual-pq")
      val a = SimilaritySearch.pqTopK(rr, q, topK = 5, nprobe = 3)
        .collect().toSeq
      val b = SimilaritySearch.pqTopK(loaded, q, topK = 5, nprobe = 3)
        .collect().toSeq
      assert(a == b, "loaded rotated-residual index must serve bit-identically")
      val e1 = intercept[IllegalArgumentException] {
        SimilaritySearch.pqLoad(spark, dir, corpus, kind = Some("residual-pq"))
      }
      assert(e1.getMessage.contains("rot-residual-pq"))
    } finally rmTree(dir)
    val plainDir = java.nio.file.Files.createTempDirectory("rrpq2").toString
    try {
      val plain = SimilaritySearch.residualPqBuild(ivf, m = 4, ksub = 8,
        lloydIters = 1)
      SimilaritySearch.pqSave(plain, plainDir)
      val e2 = intercept[IllegalArgumentException] {
        SimilaritySearch.pqLoad(spark, plainDir, corpus, kind = Some("rot-residual-pq"))
      }
      assert(e2.getMessage.contains("not the 'rot-residual-pq'"))
    } finally rmTree(plainDir)
  }

  test("trained OPQ (v35): R is orthogonal and deterministic; exact under covering overFetch") {
    import spark.implicits._
    val q = vec(1234L)
    val corpus = (1L to 150L).map(i => (i, vec(i * 389 + 7))).toDF("id", "v")
    val idx = SimilaritySearch.pqBuild(corpus, "id", "v", m = 4, ksub = 8,
      lloydIters = 1, opqIters = 2, rotation = "opq")
    // R orthogonal: ‖R Rᵀ − I‖∞ tiny (the Procrustes update returns
    // V Uᵀ of a converged Jacobi SVD)
    val r = trained(idx).r
    val n = r.length
    var worst = 0.0
    for (i <- 0 until n; j <- 0 until n) {
      var acc = 0.0
      var k = 0
      while (k < n) { acc += r(i)(k) * r(j)(k); k += 1 }
      val want = if (i == j) 1.0 else 0.0
      worst = math.max(worst, math.abs(acc - want))
    }
    assert(worst < 1e-9, s"R is not orthogonal: ‖RRᵀ−I‖∞ = $worst")
    // deterministic re-train: same R, same codebook
    val idx2 = SimilaritySearch.pqBuild(corpus, "id", "v", m = 4, ksub = 8,
      lloydIters = 1, opqIters = 2, rotation = "opq")
    assert(trained(idx).r.flatten.toSeq == trained(idx2).r.flatten.toSeq,
      "re-training must reproduce the rotation bit-for-bit")
    assert(idx.codebook.flatten.flatten.toSeq ==
      idx2.codebook.flatten.flatten.toSeq)
    // covering coarse cut ⇒ exact top-k (rerank on original floats)
    val got = SimilaritySearch.pqTopK(idx, q, topK = 10, overFetch = 15)
      .collect().map(r2 => (r2.getLong(0), r2.getDouble(1))).toSeq
    val exact = SimilaritySearch.cosineTopK(corpus, "id", "v",
        Seq(Tuple1(q)).toDF("qv"), "qv", k = 10)
      .collect().map(r2 => (r2.getLong(0), r2.getDouble(1))).toSeq
    assert(got == exact, s"got=$got exact=$exact")
    // degenerate query returns empty; bad geometry loud
    assert(SimilaritySearch.pqTopK(idx, new Array[Float](16), topK = 3)
      .collect().isEmpty)
    val bad = (1L to 40L).map(i => (i, Array.fill(8)(i.toFloat))).toDF("id", "v")
    val e = intercept[IllegalArgumentException] {
      SimilaritySearch.pqBuild(bad, "id", "v", m = 4, ksub = 4, rotation = "opq")
    }
    assert(e.getMessage.contains("power-of-4"))
  }

  test("trained OPQ on residuals (v36): orthogonal + deterministic R; covering probe == exact") {
    import spark.implicits._
    val q = vec(5678L)
    val corpus = ((1L, jitter(q, 0.01f)) +:
      (2L to 180L).map(i => (i, vec(i * 523 + 3)))).toDF("id", "v")
    val ivf = SimilaritySearch.ivfBuild(corpus, "id", "v", k = 6, lloydIters = 2)
    val idx = SimilaritySearch.residualPqBuild(ivf, m = 4, ksub = 8,
      lloydIters = 1, opqIters = 2, rotation = "opq")
    // R orthogonal (Procrustes of a converged Jacobi SVD) and the
    // quantized form is its exact 2^24 snap — the matrix the encode
    // applied and the oracle inlines
    val r = trained(idx).r
    val n = r.length
    var worst = 0.0
    for (i <- 0 until n; j <- 0 until n) {
      var acc = 0.0
      var k2 = 0
      while (k2 < n) { acc += r(i)(k2) * r(j)(k2); k2 += 1 }
      worst = math.max(worst, math.abs(acc - (if (i == j) 1.0 else 0.0)))
    }
    assert(worst < 1e-9, s"R is not orthogonal: ‖RRᵀ−I‖∞ = $worst")
    assert(trained(idx).rq.flatten.toSeq ==
      r.flatten.map(x => math.floor(x * (1L << 24) + 0.5).toLong).toSeq)
    // deterministic re-train: same R, same codebook, same codes
    val idx2 = SimilaritySearch.residualPqBuild(ivf, m = 4, ksub = 8,
      lloydIters = 1, opqIters = 2, rotation = "opq")
    assert(trained(idx).r.flatten.toSeq == trained(idx2).r.flatten.toSeq,
      "re-training must reproduce the rotation bit-for-bit")
    assert(idx.codebook.flatten.flatten.toSeq ==
      idx2.codebook.flatten.flatten.toSeq)
    // full probe + covering overFetch ⇒ exact top-k (original-float rerank)
    val got = SimilaritySearch.pqTopK(idx, q, topK = 10,
      nprobe = 6, overFetch = 18)
      .collect().map(r2 => (r2.getLong(0), r2.getDouble(1))).toSeq
    val exact = SimilaritySearch.cosineTopK(corpus, "id", "v",
        Seq(Tuple1(q)).toDF("qv"), "qv", k = 10)
      .collect().map(r2 => (r2.getLong(0), r2.getDouble(1))).toSeq
    assert(got == exact, s"got=$got exact=$exact")
    // a pruned probe still retrieves the planted near-copy, exactly scored
    val top = SimilaritySearch.pqTopK(idx, q, topK = 5,
      nprobe = 2, overFetch = 4).collect()
    assert(top.head.getLong(0) == 1L, "planted near-copy must rank first")
    assert(top.head.getDouble(1) > 0.99)
    // degenerate query probes nothing and returns empty
    assert(SimilaritySearch.pqTopK(idx, new Array[Float](16),
      topK = 3).collect().isEmpty)
    // bad geometry loud (power-of-4 init)
    val bad = (1L to 40L).map(i => (i, Array.fill(8)(vec(i).take(8)).flatten.take(8)))
      .toDF("id", "v")
    val badIvf = SimilaritySearch.ivfBuild(bad, "id", "v", k = 3, lloydIters = 1)
    val e = intercept[IllegalArgumentException] {
      SimilaritySearch.residualPqBuild(badIvf, m = 4, ksub = 4, rotation = "opq")
    }
    assert(e.getMessage.contains("power-of-4"))
  }

  test("ivfPqTopK: full probe == pure PQ; pruned probe finds the planted copy") {
    import spark.implicits._
    val q = vec(1618L)
    val corpus = ((1L, jitter(q, 0.01f)) +:
      (2L to 400L).map(i => (i, vec(i * 271 + 9)))).toDF("id", "v")
    val ivf = SimilaritySearch.ivfBuild(corpus, "id", "v", k = 8, lloydIters = 2)
    val pq = SimilaritySearch.pqBuild(corpus, "id", "v", m = 4, ksub = 8,
      lloydIters = 2)
    // probing ALL clusters disables the IVF restriction: the composed
    // serve must be BIT-IDENTICAL to the pure PQ scan
    val full = SimilaritySearch.ivfPqTopK(ivf, pq, q, topK = 5, nprobe = 8,
      overFetch = 4).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val pure = SimilaritySearch.pqTopK(pq, q, topK = 5, overFetch = 4)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(full == pure, s"full=$full pure=$pure")
    // a pruned probe still retrieves the planted near-copy, exactly scored
    val top = SimilaritySearch.ivfPqTopK(ivf, pq, q, topK = 5, nprobe = 3,
      overFetch = 4).collect()
    assert(top.head.getLong(0) == 1L, "planted near-copy must rank first")
    assert(top.head.getDouble(1) > 0.99)
    // id columns must agree across the two indexes
    val other = SimilaritySearch.pqBuild(
      corpus.withColumnRenamed("id", "key"), "key", "v", m = 4, ksub = 8)
    val e = intercept[IllegalArgumentException] {
      SimilaritySearch.ivfPqTopK(ivf, other, q, topK = 3)
    }
    assert(e.getMessage.contains("disagree"))
  }

  test("ivfResidualPqTopK: exact rerank; full probe + covering overFetch == exact top-k") {
    import spark.implicits._
    val q = vec(4242L)
    val corpus = ((1L, jitter(q, 0.01f)) +:
      (2L to 200L).map(i => (i, vec(i * 733 + 5)))).toDF("id", "v")
    val ivf = SimilaritySearch.ivfBuild(corpus, "id", "v", k = 8, lloydIters = 2)
    val rpq = SimilaritySearch.residualPqBuild(ivf, m = 4, ksub = 8,
      lloydIters = 2)
    // encoded carries the row's IVF cluster (the serve-time offset key)
    // and the TRUE float norm (the exact cosine denominator)
    assert(rpq.encoded.columns.toSeq == Seq("id", "pq_code", "nrm", "cluster"))
    assert(rpq.ksub == 8 && rpq.dsub == 4 && rpq.bits == 3)
    // full probe + corpus-covering overFetch: the residual-ADC
    // approximation can only cost recall at the cut, never returned
    // scores — the answer must be BIT-IDENTICAL to the exact scorer
    val res = SimilaritySearch.pqTopK(rpq, q, topK = 10,
      nprobe = 8, overFetch = 20)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val exact = SimilaritySearch.cosineTopK(corpus, "id", "v",
        Seq(Tuple1(q)).toDF("qv"), "qv", k = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(res == exact, s"res=$res exact=$exact")
    // a pruned probe still retrieves the planted near-copy, exactly scored
    val top = SimilaritySearch.pqTopK(rpq, q, topK = 5,
      nprobe = 3, overFetch = 4).collect()
    assert(top.head.getLong(0) == 1L, "planted near-copy must rank first")
    assert(top.head.getDouble(1) > 0.99)
    // degenerate query probes nothing — empty answer, ivfTopK's convention
    assert(SimilaritySearch.pqTopK(rpq, Array.fill(dim)(0f),
      topK = 5).count() == 0)
    // mixed-dimension query is loud
    val e = intercept[IllegalArgumentException] {
      SimilaritySearch.pqTopK(rpq, Array.fill(dim + 1)(0.5f), topK = 3)
    }
    assert(e.getMessage.contains("query dim"))
  }

  test("residual encoding beats raw PQ recall on a clustered corpus (why the tier exists)") {
    import spark.implicits._
    // 16 well-separated anchors with tightly jittered members: the
    // coarse structure alone saturates a ksub=8 raw codebook, while the
    // residuals live in the small within-cluster ball those 8 codewords
    // can actually describe — the Jégou §IV.A argument in miniature
    val anchors = (0 until 16).map(a => vec(9000L + a))
    val rows = (0L until 320L).map { i =>
      val a = anchors((i % 16).toInt)
      val r = new scala.util.Random(i * 104729 + 13)
      (i + 1, a.map(x => x + (r.nextDouble().toFloat - 0.5f) * 0.1f))
    }
    val corpus = rows.toDF("id", "v")
    val ivf = SimilaritySearch.ivfBuild(corpus, "id", "v", k = 16, lloydIters = 3)
    val rpq = SimilaritySearch.residualPqBuild(ivf, m = 4, ksub = 8,
      lloydIters = 2)
    val raw = SimilaritySearch.pqBuild(corpus, "id", "v", m = 4, ksub = 8,
      lloydIters = 2)
    val queries = (0 until 10).map(qi => rows(qi * 31)._2)
    def recallOf(serve: Array[Float] => org.apache.spark.sql.DataFrame): Double = {
      val per = queries.map { qv =>
        val truth = SimilaritySearch.cosineTopK(corpus, "id", "v",
            Seq(Tuple1(qv)).toDF("qv"), "qv", k = 10)
          .collect().map(_.getLong(0)).toSet
        val got = serve(qv).collect().map(_.getLong(0)).toSet
        got.intersect(truth).size.toDouble / truth.size
      }
      per.sum / per.size
    }
    // nprobe = k on the residual arm: both arms then scan every row and
    // the comparison isolates the ENCODING (not the probe)
    val residRecall = recallOf(qv =>
      SimilaritySearch.pqTopK(rpq, qv, topK = 10, nprobe = 16,
        overFetch = 2))
    val rawRecall = recallOf(qv =>
      SimilaritySearch.pqTopK(raw, qv, topK = 10, overFetch = 2))
    assert(residRecall >= rawRecall,
      s"residual recall $residRecall < raw recall $rawRecall on clustered corpus")
    assert(residRecall > 0.7, s"residual recall $residRecall unreasonably low")
  }

  test("pqTopKBatch agrees with per-query pqTopK; degenerate queries yield no rows") {
    import spark.implicits._
    val corpus = (1L to 300L).map(i => (i, vec(i * 811 + 23))).toDF("id", "v")
    val idx = SimilaritySearch.pqBuild(corpus, "id", "v", m = 4, ksub = 8,
      lloydIters = 2)
    val queryIds = Seq(901L, 902L, 903L)
    val queries = (queryIds.map(q => (q, vec(q))) :+
      (999L, new Array[Float](dim))).toDF("q_id", "qv") // one degenerate
    val batch = SimilaritySearch.pqTopKBatch(idx, queries, "q_id", "qv",
        topK = 5, overFetch = 4)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      .groupBy(_._1)
    assert(!batch.contains(999L), "a degenerate query must produce no rows")
    queryIds.foreach { q =>
      val solo = SimilaritySearch.pqTopK(idx, vec(q), topK = 5, overFetch = 4)
        .collect().zipWithIndex
        .map { case (r, i) => (q, r.getLong(0), r.getDouble(1), (i + 1).toLong) }
        .toSeq
      assert(batch(q).sortBy(_._4).toSeq == solo,
        s"batch and per-query serving disagree for query $q")
    }
    // a query-id column colliding with the index id column is refused
    val e = intercept[IllegalArgumentException] {
      SimilaritySearch.pqTopKBatch(idx,
        queries.withColumnRenamed("q_id", "id"), "id", "qv", topK = 3)
    }
    assert(e.getMessage.contains("both"), s"unexpected message: ${e.getMessage}")
  }

  test("ivfResidualPqTopKBatch agrees with per-query serving; degenerate queries yield no rows") {
    import spark.implicits._
    val corpus = (1L to 300L).map(i => (i, vec(i * 811 + 23))).toDF("id", "v")
    val ivf = SimilaritySearch.ivfBuild(corpus, "id", "v", k = 8, lloydIters = 2)
    val rpq = SimilaritySearch.residualPqBuild(ivf, m = 4, ksub = 8,
      lloydIters = 2)
    val queryIds = Seq(901L, 902L, 903L)
    val queries = (queryIds.map(q => (q, vec(q))) :+
      (999L, new Array[Float](dim))).toDF("q_id", "qv") // one degenerate
    val batch = SimilaritySearch.pqTopKBatch(rpq, queries, "q_id",
        "qv", topK = 5, nprobe = 3, overFetch = 4)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      .groupBy(_._1)
    assert(!batch.contains(999L), "a degenerate query must produce no rows")
    queryIds.foreach { q =>
      val solo = SimilaritySearch.pqTopK(rpq, vec(q), topK = 5,
          nprobe = 3, overFetch = 4)
        .collect().zipWithIndex
        .map { case (r, i) => (q, r.getLong(0), r.getDouble(1), (i + 1).toLong) }
        .toSeq
      assert(batch(q).sortBy(_._4).toSeq == solo,
        s"batch and per-query residual serving disagree for query $q")
    }
    // id-column collision refused, the shared batch-arm contract
    val e = intercept[IllegalArgumentException] {
      SimilaritySearch.pqTopKBatch(rpq,
        queries.withColumnRenamed("q_id", "id"), "id", "qv", topK = 3)
    }
    assert(e.getMessage.contains("both"))
  }

  test("rotated tiers: batch arms agree with per-query serving; incremental screens find the planted dup") {
    import spark.implicits._
    val corpus = (1L to 300L).map(i => (i, vec(i * 811 + 23))).toDF("id", "v")
    val queryIds = Seq(901L, 902L, 903L)
    val queries = (queryIds.map(q => (q, vec(q))) :+
      (999L, new Array[Float](dim))).toDF("q_id", "qv") // one degenerate
    // v29 batch == per-query
    val rp = SimilaritySearch.pqBuild(corpus, "id", "v", m = 4, ksub = 8,
      lloydIters = 2, rotation = "hadamard")
    val rBatch = SimilaritySearch.pqTopKBatch(rp, queries, "q_id", "qv",
        topK = 5, overFetch = 4)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      .groupBy(_._1)
    assert(!rBatch.contains(999L), "a degenerate query must produce no rows")
    queryIds.foreach { q =>
      val solo = SimilaritySearch.pqTopK(rp, vec(q), topK = 5, overFetch = 4)
        .collect().zipWithIndex
        .map { case (r, i) => (q, r.getLong(0), r.getDouble(1), (i + 1).toLong) }
        .toSeq
      assert(rBatch(q).sortBy(_._4).toSeq == solo,
        s"rotated batch and per-query serving disagree for query $q")
    }
    // v30 batch == per-query
    val ivf = SimilaritySearch.ivfBuild(corpus, "id", "v", k = 8, lloydIters = 2)
    val rr = SimilaritySearch.residualPqBuild(ivf, m = 4, ksub = 8,
      lloydIters = 2, rotation = "hadamard")
    val rrBatch = SimilaritySearch.pqTopKBatch(rr, queries, "q_id",
        "qv", topK = 5, nprobe = 3, overFetch = 4)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      .groupBy(_._1)
    assert(!rrBatch.contains(999L))
    queryIds.foreach { q =>
      val solo = SimilaritySearch.pqTopK(rr, vec(q), topK = 5,
          nprobe = 3, overFetch = 4)
        .collect().zipWithIndex
        .map { case (r, i) => (q, r.getLong(0), r.getDouble(1), (i + 1).toLong) }
        .toSeq
      assert(rrBatch(q).sortBy(_._4).toSeq == solo,
        s"rotated-residual batch and per-query serving disagree for query $q")
    }
    // incremental screens: a planted near-copy of corpus row 42 flags
    // as dup through BOTH rotated screens (wide margin covers the
    // reconstruction error; the exact verify decides)
    val seed = vec(42L * 811 + 23)
    val batch = Seq((5042L, jitter(seed, 0.001f)),
      (5043L, vec(777L))).toDF("id", "v")
    val st1 = SimilaritySearch.pqIncrementalNearDup(rp, batch,
        threshold = 0.9, margin = 0.6)
      .collect().map(r => (r.getLong(0), r.getString(3))).toMap
    assert(st1(5042L) == "dup", s"rotated screen missed the planted dup: $st1")
    val st2 = SimilaritySearch.pqIncrementalNearDup(rr, batch,
        threshold = 0.9, margin = 0.6, nprobe = 8)
      .collect().map(r => (r.getLong(0), r.getString(3))).toMap
    assert(st2(5042L) == "dup",
      s"rotated-residual screen missed the planted dup: $st2")
    // chunked drivers: a forced 2-query chunk target must union to the
    // one-shot batch answers on both rotated arms
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    assert(rows(SimilaritySearch.pqTopKBatchChunked(rp, queries, "q_id",
        "qv", topK = 5, overFetch = 4, chunkTarget = 2)) ==
      rows(SimilaritySearch.pqTopKBatch(rp, queries, "q_id", "qv",
        topK = 5, overFetch = 4)),
      "rotated chunked union != one-shot batch")
    assert(rows(SimilaritySearch.pqTopKBatchChunked(rr, queries,
        "q_id", "qv", topK = 5, nprobe = 3, overFetch = 4, chunkTarget = 2)) ==
      rows(SimilaritySearch.pqTopKBatch(rr, queries, "q_id", "qv",
        topK = 5, nprobe = 3, overFetch = 4)),
      "rotated-residual chunked union != one-shot batch")
  }

  test("trained-OPQ tiers: batch arms agree with per-query serving; incremental screens find the planted dup") {
    import spark.implicits._
    val corpus = (1L to 300L).map(i => (i, vec(i * 811 + 23))).toDF("id", "v")
    val queryIds = Seq(901L, 902L, 903L)
    val queries = (queryIds.map(q => (q, vec(q))) :+
      (999L, new Array[Float](dim))).toDF("q_id", "qv") // one degenerate
    // v37 batch == per-query (v35's serve, whole frame at once)
    val op = SimilaritySearch.pqBuild(corpus, "id", "v", m = 4, ksub = 8,
      lloydIters = 1, opqIters = 2, rotation = "opq")
    val oBatch = SimilaritySearch.pqTopKBatch(op, queries, "q_id", "qv",
        topK = 5, overFetch = 4)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      .groupBy(_._1)
    assert(!oBatch.contains(999L), "a degenerate query must produce no rows")
    queryIds.foreach { q =>
      val solo = SimilaritySearch.pqTopK(op, vec(q), topK = 5, overFetch = 4)
        .collect().zipWithIndex
        .map { case (r, i) => (q, r.getLong(0), r.getDouble(1), (i + 1).toLong) }
        .toSeq
      assert(oBatch(q).sortBy(_._4).toSeq == solo,
        s"trained-OPQ batch and per-query serving disagree for query $q")
    }
    // v39 batch == per-query (v36's serve)
    val ivf = SimilaritySearch.ivfBuild(corpus, "id", "v", k = 8, lloydIters = 2)
    val or = SimilaritySearch.residualPqBuild(ivf, m = 4, ksub = 8,
      lloydIters = 1, opqIters = 2, rotation = "opq")
    val orBatch = SimilaritySearch.pqTopKBatch(or, queries, "q_id",
        "qv", topK = 5, nprobe = 3, overFetch = 4)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      .groupBy(_._1)
    assert(!orBatch.contains(999L))
    queryIds.foreach { q =>
      val solo = SimilaritySearch.pqTopK(or, vec(q), topK = 5,
          nprobe = 3, overFetch = 4)
        .collect().zipWithIndex
        .map { case (r, i) => (q, r.getLong(0), r.getDouble(1), (i + 1).toLong) }
        .toSeq
      assert(orBatch(q).sortBy(_._4).toSeq == solo,
        s"trained-OPQ residual batch and per-query serving disagree for query $q")
    }
    // incremental screens (v38/v40): a planted near-copy of corpus row
    // 42 flags as dup through BOTH trained screens
    val seed = vec(42L * 811 + 23)
    val batch = Seq((5042L, jitter(seed, 0.001f)),
      (5043L, vec(777L))).toDF("id", "v")
    val st1 = SimilaritySearch.pqIncrementalNearDup(op, batch,
        threshold = 0.9, margin = 0.6)
      .collect().map(r => (r.getLong(0), r.getString(3))).toMap
    assert(st1(5042L) == "dup", s"trained screen missed the planted dup: $st1")
    val st2 = SimilaritySearch.pqIncrementalNearDup(or, batch,
        threshold = 0.9, margin = 0.6, nprobe = 8)
      .collect().map(r => (r.getLong(0), r.getString(3))).toMap
    assert(st2(5042L) == "dup",
      s"trained residual screen missed the planted dup: $st2")
  }

  test("trained-OPQ persistence: round-trip bit-identical; mutual kind guards; chunked drivers") {
    import spark.implicits._
    def rmTree(path: String): Unit = {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
        f.delete(): Unit
      }
      rm(new java.io.File(path))
    }
    val q = vec(2718L)
    val corpus = (1L to 150L).map(i => (i, vec(i * 433 + 9))).toDF("id", "v")
    val op = SimilaritySearch.pqBuild(corpus, "id", "v", m = 4, ksub = 8,
      lloydIters = 1, opqIters = 2, rotation = "opq")
    val dir = java.nio.file.Files.createTempDirectory("opqpq").toString
    try {
      SimilaritySearch.pqSave(op, dir)
      val loaded = SimilaritySearch.pqLoad(spark, dir, corpus)
      // the rotation round-trips bit-exactly, so the quantized serving
      // matrix is IDENTICAL — and serving is therefore bit-identical
      assert(trained(loaded).r.flatten.toSeq == trained(op).r.flatten.toSeq)
      assert(trained(loaded).rq.flatten.toSeq == trained(op).rq.flatten.toSeq)
      val a = SimilaritySearch.pqTopK(op, q, topK = 5).collect().toSeq
      val b = SimilaritySearch.pqTopK(loaded, q, topK = 5).collect().toSeq
      assert(a == b, "loaded trained-OPQ index must serve bit-identically")
      // every other loader refuses the tree loudly
      val e1 = intercept[IllegalArgumentException] {
        SimilaritySearch.pqLoad(spark, dir, corpus, kind = Some("pq"))
      }
      assert(e1.getMessage.contains("opq-pq"))
      val e2 = intercept[IllegalArgumentException] {
        SimilaritySearch.pqLoad(spark, dir, corpus, kind = Some("rot-pq"))
      }
      assert(e2.getMessage.contains("rot"))
    } finally rmTree(dir)
    // ...and the opq loader refuses a plain tree
    val plainDir = java.nio.file.Files.createTempDirectory("opqpq2").toString
    try {
      SimilaritySearch.pqSave(SimilaritySearch.pqBuild(corpus, "id", "v",
        m = 4, ksub = 8, lloydIters = 1), plainDir)
      val e3 = intercept[IllegalArgumentException] {
        SimilaritySearch.pqLoad(spark, plainDir, corpus, kind = Some("opq-pq"))
      }
      assert(e3.getMessage.contains("not the 'opq-pq'"))
    } finally rmTree(plainDir)
    // residual pair: round-trip + mutual guards
    val ivf = SimilaritySearch.ivfBuild(corpus, "id", "v", k = 6, lloydIters = 2)
    val or = SimilaritySearch.residualPqBuild(ivf, m = 4, ksub = 8,
      lloydIters = 1, opqIters = 2, rotation = "opq")
    val rdir = java.nio.file.Files.createTempDirectory("opqrpq").toString
    try {
      SimilaritySearch.pqSave(or, rdir)
      val loaded = SimilaritySearch.pqLoad(spark, rdir, corpus)
      assert(trained(loaded).rq.flatten.toSeq == trained(or).rq.flatten.toSeq)
      val a = SimilaritySearch.pqTopK(or, q, topK = 5, nprobe = 3)
        .collect().toSeq
      val b = SimilaritySearch.pqTopK(loaded, q, topK = 5, nprobe = 3)
        .collect().toSeq
      assert(a == b, "loaded trained residual index must serve bit-identically")
      val e4 = intercept[IllegalArgumentException] {
        SimilaritySearch.pqLoad(spark, rdir, corpus, kind = Some("residual-pq"))
      }
      assert(e4.getMessage.contains("opq-residual-pq"))
    } finally rmTree(rdir)
    // chunked drivers: a forced 2-query chunk target must union to the
    // one-shot batch answers on both trained arms
    val queries = Seq(901L, 902L, 903L).map(i => (i, vec(i))).toDF("q_id", "qv")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    assert(rows(SimilaritySearch.pqTopKBatchChunked(op, queries, "q_id",
        "qv", topK = 5, overFetch = 4, chunkTarget = 2)) ==
      rows(SimilaritySearch.pqTopKBatch(op, queries, "q_id", "qv",
        topK = 5, overFetch = 4)),
      "trained chunked union != one-shot batch")
    assert(rows(SimilaritySearch.pqTopKBatchChunked(or, queries,
        "q_id", "qv", topK = 5, nprobe = 3, overFetch = 4, chunkTarget = 2)) ==
      rows(SimilaritySearch.pqTopKBatch(or, queries, "q_id", "qv",
        topK = 5, nprobe = 3, overFetch = 4)),
      "trained residual chunked union != one-shot batch")
  }

  test("ingest encode/append across the code tiers: clones reproduce stored codes; appended rows serve immediately") {
    import spark.implicits._
    val corpus = (1L to 200L).map(i => (i, vec(i * 661 + 13))).toDF("id", "v")
    val probe = vec(9999L)
    // the probe's near-copy exists ONLY via append; one degenerate row
    // rides along (must place nowhere and never serve)
    val batch = Seq((9000L, jitter(probe, 0.001f)),
      (9001L, new Array[Float](dim))).toDF("id", "v")
    val clone7 = Seq((9100L, vec(7L * 661 + 13))).toDF("id", "v")

    // HD-rotated raw tier
    val rp = SimilaritySearch.pqBuild(corpus, "id", "v", m = 4, ksub = 8,
      lloydIters = 1, rotation = "hadamard")
    val rpTop = SimilaritySearch.pqTopK(SimilaritySearch.pqAppend(rp, batch),
      probe, topK = 3, overFetch = 8).collect()
    assert(rpTop.head.getLong(0) == 9000L && rpTop.head.getDouble(1) > 0.999,
      s"appended near-copy must serve immediately: ${rpTop.toSeq}")
    assert(!rpTop.map(_.getLong(0)).contains(9001L))
    // a batch row identical to a corpus row gets the IDENTICAL code
    assert(SimilaritySearch.pqEncode(rp, clone7)
        .select("pq_code").head().getLong(0) ==
      rp.encoded.filter(col("id") === 7L).select("pq_code").head().getLong(0),
      "rotated ingest encode must reproduce the build's own code")
    // mixed dimensions loud, from the rotation
    val e = intercept[org.apache.spark.SparkException] {
      SimilaritySearch.pqEncode(rp,
        Seq((1L, Array.fill(dim + 4)(0.1f))).toDF("id", "v")).collect()
    }
    assert(e.getMessage.contains("mixed-dimension"))

    // trained-OPQ raw tier
    val op = SimilaritySearch.pqBuild(corpus, "id", "v", m = 4, ksub = 8,
      lloydIters = 1, opqIters = 2, rotation = "opq")
    val opTop = SimilaritySearch.pqTopK(SimilaritySearch.pqAppend(op, batch),
      probe, topK = 3, overFetch = 8).collect()
    assert(opTop.head.getLong(0) == 9000L && opTop.head.getDouble(1) > 0.999)
    assert(SimilaritySearch.pqEncode(op, clone7)
        .select("pq_code").head().getLong(0) ==
      op.encoded.filter(col("id") === 7L).select("pq_code").head().getLong(0))

    // residual trio: assign → residual → encode; cluster rides along
    val ivf = SimilaritySearch.ivfBuild(corpus, "id", "v", k = 6, lloydIters = 2)
    val rr = SimilaritySearch.residualPqBuild(ivf, m = 4, ksub = 8,
      lloydIters = 1)
    val enc7 = SimilaritySearch.pqEncode(rr, clone7).head()
    val stored7 = rr.encoded.filter(col("id") === 7L).head()
    assert(enc7.getLong(1) == stored7.getLong(1) &&
      enc7.getInt(3) == stored7.getInt(3),
      "residual ingest encode must reproduce the build's code AND cluster")
    val rrTop = SimilaritySearch.pqTopK(
      SimilaritySearch.pqAppend(rr, batch), probe,
      topK = 3, nprobe = 6, overFetch = 8).collect()
    assert(rrTop.head.getLong(0) == 9000L && rrTop.head.getDouble(1) > 0.999)
    val hrr = SimilaritySearch.residualPqBuild(ivf, m = 4, ksub = 8,
      lloydIters = 1, rotation = "hadamard")
    val hrrTop = SimilaritySearch.pqTopK(
      SimilaritySearch.pqAppend(hrr, batch), probe,
      topK = 3, nprobe = 6, overFetch = 8).collect()
    assert(hrrTop.head.getLong(0) == 9000L && hrrTop.head.getDouble(1) > 0.999)
    val orr = SimilaritySearch.residualPqBuild(ivf, m = 4, ksub = 8,
      lloydIters = 1, opqIters = 2, rotation = "opq")
    val orrTop = SimilaritySearch.pqTopK(
      SimilaritySearch.pqAppend(orr, batch), probe,
      topK = 3, nprobe = 6, overFetch = 8).collect()
    assert(orrTop.head.getLong(0) == 9000L && orrTop.head.getDouble(1) > 0.999)
    // the degenerate appended row placed in cluster −1 with nrm 0
    val deg = SimilaritySearch.pqEncode(rr,
      Seq((9001L, new Array[Float](dim))).toDF("id", "v")).head()
    assert(deg.getInt(3) == -1 && deg.getDouble(2) == 0.0)
  }

  test("residualPqIncrementalNearDup: pruned statuses subset the full screen; planted dup found") {
    import spark.implicits._
    val corpus = (1L to 200L).map(i => (i, vec(i * 613 + 7))).toDF("id", "v")
    val ivf = SimilaritySearch.ivfBuild(corpus, "id", "v", k = 8, lloydIters = 2)
    val rpq = SimilaritySearch.residualPqBuild(ivf, m = 4, ksub = 8,
      lloydIters = 2)
    val batch = Seq(
      (501L, jitter(vec(17L * 613 + 7), 0.01f)), // near-copy of corpus row 17
      (502L, vec(987654L)),                      // fresh → keep
      (503L, new Array[Float](dim))              // degenerate → keep
    ).toDF("id", "v")
    // full probe + covering margin: the screen admits every probed
    // pair, so the status must agree with the EXACT incremental arm
    val wide = SimilaritySearch.pqIncrementalNearDup(rpq, batch,
        threshold = 0.95, margin = 2.0, nprobe = 8)
      .collect().map(r => (r.getLong(0),
        (r.getLong(1), r.getDouble(2), r.getString(3)))).toMap
    val exact = SimilaritySearch.incrementalNearDup(corpus, batch, "id", "v",
        threshold = 0.95, margin = 2.0)
      .collect().map(r => (r.getLong(0),
        (r.getLong(1), r.getDouble(2), r.getString(3)))).toMap
    assert(wide == exact, s"wide=$wide exact=$exact")
    assert(wide(501L)._3 == "dup" && wide(501L)._2 > 0.99)
    assert(wide(503L)._3 == "keep")
    // a pruned probe finds the planted dup (its near-copy shares the
    // cluster by construction) and its dups subset the full screen's
    val pruned = SimilaritySearch.pqIncrementalNearDup(rpq, batch,
        threshold = 0.95, margin = 2.0, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getString(3))).toMap
    assert(pruned(501L) == "dup", "planted dup must survive probe pruning")
    val prunedDups = pruned.filter(_._2 == "dup").keySet
    val wideDups = wide.filter(_._2._3 == "dup").keySet
    assert(prunedDups.subsetOf(wideDups))
    // loud guards
    intercept[IllegalArgumentException] {
      SimilaritySearch.pqIncrementalNearDup(rpq, batch, margin = -0.1)
    }
    intercept[IllegalArgumentException] {
      SimilaritySearch.pqIncrementalNearDup(rpq, batch, nprobe = 0)
    }
  }

  test("residualPqSave/Load: bit-exact round-trip, identical serving, kind guards both ways") {
    import spark.implicits._
    val corpus = (1L to 200L).map(i => (i, vec(i * 433 + 3))).toDF("id", "v")
    val ivf = SimilaritySearch.ivfBuild(corpus, "id", "v", k = 8, lloydIters = 2)
    val rpq = SimilaritySearch.residualPqBuild(ivf, m = 4, ksub = 8,
      lloydIters = 2)
    def rmTree(path: String): Unit = {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
        f.delete(): Unit
      }
      rm(new java.io.File(path))
    }
    val dir = java.nio.file.Files.createTempDirectory("graft_rpq").toString
    try {
      SimilaritySearch.pqSave(rpq, dir)
      val loaded = SimilaritySearch.pqLoad(spark, dir, corpus)
      // codebook + centroids round-trip bit-exactly
      assert(loaded.m == rpq.m && loaded.ksub == rpq.ksub && loaded.bits == rpq.bits)
      for (s <- 0 until rpq.m; c <- 0 until rpq.ksub)
        assert(loaded.codebook(s)(c).sameElements(rpq.codebook(s)(c)))
      loaded.coarse.get.zip(rpq.coarse.get).foreach { case ((lc, ln), (rc, rn)) =>
        assert(lc.sameElements(rc) && ln == rn)
      }
      // serving from the loaded tree is bit-identical
      val q = vec(777L)
      def ans(i: SimilaritySearch.PqIndex) =
        SimilaritySearch.pqTopK(i, q, topK = 5, nprobe = 3,
          overFetch = 4)
          .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(ans(loaded) == ans(rpq))
      // the raw loader refuses a residual tree loudly (it would
      // otherwise serve residual codes without their offsets)
      val e1 = intercept[IllegalArgumentException] {
        SimilaritySearch.pqLoad(spark, dir, corpus, kind = Some("pq"))
      }
      assert(e1.getMessage.contains("'residual-pq'"))
      // and the residual loader refuses a raw tree
      val raw = SimilaritySearch.pqBuild(corpus, "id", "v", m = 4, ksub = 8)
      val rawDir = java.nio.file.Files.createTempDirectory("graft_rawpq").toString
      try {
        SimilaritySearch.pqSave(raw, rawDir)
        // raw trees still load through the raw path (kind: "pq")
        assert(SimilaritySearch.pqLoad(spark, rawDir, corpus, kind = Some("pq")).kind == "pq")
        val e2 = intercept[IllegalArgumentException] {
          SimilaritySearch.pqLoad(spark, rawDir, corpus, kind = Some("residual-pq"))
        }
        assert(e2.getMessage.contains("not the 'residual-pq'"))
      } finally rmTree(rawDir)
    } finally rmTree(dir)
  }

  test("pqIncrementalNearDup statuses a batch against the standing codes (brute-force agreement)") {
    import spark.implicits._
    val corpus = (1L to 200L).map(i => (i, vec(i * 613 + 7))).toDF("id", "v")
    val idx = SimilaritySearch.pqBuild(corpus, "id", "v", m = 4, ksub = 8,
      lloydIters = 2)
    // batch: 501 = near-copy of corpus row 17 (a dup), 502 = fresh
    // vector (keep), 503 = degenerate (keep, matches nothing)
    val batch = Seq(
      (501L, jitter(vec(17L * 613 + 7), 0.01f)),
      (502L, vec(987654L)),
      (503L, new Array[Float](dim))).toDF("id", "v")
    // margin that covers the whole coarse range: the ADC screen then
    // admits every (batch, corpus) pair and the result must agree with
    // the EXACT brute-force status (same threshold, same rounding)
    val res = SimilaritySearch.pqIncrementalNearDup(idx, batch,
        threshold = 0.95, margin = 2.0)
      .collect().map(r => (r.getLong(0),
        (r.getLong(1), r.getDouble(2), r.getString(3)))).toMap
    assert(res(501L)._3 == "dup" && res(501L)._1 == 1L)
    assert(res(501L)._2 > 0.99)
    assert(res(502L)._3 == "keep" && res(502L)._2 == -1.0)
    assert(res(503L)._3 == "keep", "degenerate batch row must status keep")
    // the exact arm agrees when both screens are wide open
    val exact = SimilaritySearch.incrementalNearDup(corpus, batch, "id", "v",
        threshold = 0.95, margin = 2.0)
      .collect().map(r => (r.getLong(0),
        (r.getLong(1), r.getDouble(2), r.getString(3)))).toMap
    assert(res == exact, s"pq=$res exact=$exact")
    // a pruned margin is a RECALL dial, never a false-positive source:
    // every dup the tight screen reports is also in the wide screen
    val tight = SimilaritySearch.pqIncrementalNearDup(idx, batch,
        threshold = 0.95, margin = 0.2)
      .collect().filter(_.getString(3) == "dup").map(_.getLong(0)).toSet
    assert(tight.subsetOf(res.filter(_._2._3 == "dup").keySet))
    // negative margin is loud
    val e = intercept[IllegalArgumentException] {
      SimilaritySearch.pqIncrementalNearDup(idx, batch, margin = -0.1)
    }
    assert(e.getMessage.contains("margin"))
  }

  test("property: pqTopKBatch kernel == per-query pqServe on random geometry") {
    // the batch arm's flat LUT scan is hand-written bit-twiddling
    // (unpack, lookup, integer adds, fixed-point rounding); the
    // per-query path scores through Catalyst expressions. The two must
    // agree on EVERY (m, ksub, iters, corpus) draw — a divergence means
    // the kernel's arithmetic drifted from the expression form the
    // oracle replays
    import spark.implicits._
    for (seed <- Seq(11L, 23L, 37L)) {
      val rnd = new scala.util.Random(seed)
      val n = 80 + rnd.nextInt(120)
      val m = Seq(2, 4, 8)(rnd.nextInt(3)) // all divide dim = 16
      val ksub = Seq(4, 8, 16)(rnd.nextInt(3))
      val iters = 1 + rnd.nextInt(2)
      val corpus = (1L to n.toLong).map(i => (i, vec(i * (seed * 2 + 1) + 3)))
        .toDF("id", "v")
      val idx = SimilaritySearch.pqBuild(corpus, "id", "v", m = m,
        ksub = ksub, lloydIters = iters)
      val qids = Seq(500L, 501L)
      val queries = qids.map(qq => (qq, vec(qq * seed))).toDF("q_id", "qv")
      val batch = SimilaritySearch.pqTopKBatch(idx, queries, "q_id", "qv",
          topK = 7, overFetch = 3)
        .collect()
        .map(r => (r.getLong(0), (r.getLong(3), r.getLong(1), r.getDouble(2))))
        .groupBy(_._1).map { case (k2, v2) => k2 -> v2.map(_._2).sortBy(_._1).toSeq }
      qids.foreach { qq =>
        val solo = SimilaritySearch.pqTopK(idx, vec(qq * seed), topK = 7,
            overFetch = 3)
          .collect().zipWithIndex
          .map { case (r, i) => ((i + 1).toLong, r.getLong(0), r.getDouble(1)) }
          .toSeq
        assert(batch.getOrElse(qq, Seq.empty) == solo,
          s"seed=$seed m=$m ksub=$ksub iters=$iters query=$qq:\n" +
            s"batch=${batch.getOrElse(qq, Seq.empty)}\nsolo=$solo")
      }
    }
  }

  test("pqEncode/pqAppend place new vectors on the existing codebook") {
    import spark.implicits._
    val q = vec(5150L)
    val corpus = (1L to 200L).map(i => (i, vec(i * 131 + 7))).toDF("id", "v")
    val idx = SimilaritySearch.pqBuild(corpus, "id", "v", m = 4, ksub = 8,
      lloydIters = 2)
    // re-submitting corpus vectors under new ids must produce the
    // IDENTICAL codes and norms the build's own encode produced — the
    // ingest path and the build path share one metric
    val resub = (50L to 52L).map(i => (i + 1000L, vec(i * 131 + 7))).toDF("id", "v")
    val enc = SimilaritySearch.pqEncode(idx, resub)
      .collect().map(r => (r.getLong(0) - 1000L, r.getLong(1), r.getDouble(2))).toSet
    val built = idx.encoded.filter(col("id").between(50L, 52L))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(enc == built, s"ingest codes diverged from build codes:\n$enc\nvs\n$built")
    // appended rows serve immediately through every arm
    val appended = SimilaritySearch.pqAppend(idx,
      Seq((999L, jitter(q, 0.01f))).toDF("id", "v"))
    val top = SimilaritySearch.pqTopK(appended, q, topK = 3, overFetch = 4)
      .collect()
    assert(top.head.getLong(0) == 999L,
      s"the appended near-copy must rank first: ${top.toSeq}")
    // degenerate batch rows encode to nrm 0 (never score); mixed dims loud
    val deg = SimilaritySearch.pqEncode(idx,
      Seq((7777L, Array.empty[Float])).toDF("id", "v")).collect()
    assert(deg.head.getDouble(2) == 0.0)
    val e = intercept[org.apache.spark.SparkException] {
      SimilaritySearch.pqEncode(idx,
        Seq((7778L, new Array[Float](5))).toDF("id", "v")).collect()
    }
    assert(e.getMessage.contains("mixed-dimension") ||
      Option(e.getCause).exists(_.getMessage.contains("mixed-dimension")))
  }

  test("pqSave/pqLoad: bit-exact codebook, identical serving, versioned refresh") {
    import spark.implicits._
    def rmTree(p: String): Unit = {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
        f.delete(): Unit
      }
      rm(new java.io.File(p))
    }
    val q = vec(4242L)
    val corpus = ((1L, jitter(q, 0.01f)) +:
      (2L to 150L).map(i => (i, vec(i * 53 + 17)))).toDF("id", "v")
    val idx = SimilaritySearch.pqBuild(corpus, "id", "v", m = 4, ksub = 8,
      lloydIters = 2)
    val dir = java.nio.file.Files.createTempDirectory("graft_pq_save").toString
    try {
      SimilaritySearch.pqSave(idx, dir)
      val loaded = SimilaritySearch.pqLoad(spark, dir, corpus)
      assert(loaded.m == idx.m && loaded.ksub == idx.ksub &&
        loaded.dsub == idx.dsub && loaded.bits == idx.bits)
      assert(loaded.codebook.flatten.flatten.toSeq ==
        idx.codebook.flatten.flatten.toSeq,
        "codebook doubles must round-trip bit-exactly through parquet")
      val served = SimilaritySearch.pqTopK(idx, q, topK = 5, overFetch = 4)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val servedLoaded = SimilaritySearch.pqTopK(loaded, q, topK = 5, overFetch = 4)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(served == servedLoaded, "loaded index must serve bit-identically")
      // refresh in place: a second save commits v2, keeps v1 for
      // in-flight readers; a third save GCs v1 (one-refresh-cycle
      // guarantee — the ivfSave contract, shared machinery)
      val idx2 = SimilaritySearch.pqBuild(corpus.filter(col("id") <= 100L),
        "id", "v", m = 4, ksub = 8, lloydIters = 1)
      SimilaritySearch.pqSave(idx2, dir)
      val cur = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"$dir/CURRENT"))).trim
      assert(cur == "v2")
      assert(new java.io.File(s"$dir/v1").exists(),
        "previously-live version survives one refresh for in-flight readers")
      assert(SimilaritySearch.pqLoad(spark, dir, corpus).encoded.count() == 100)
      SimilaritySearch.pqSave(idx2, dir)
      assert(!new java.io.File(s"$dir/v1").exists(),
        "two refreshes past, v1 is garbage-collected")
      // an IVF tree is refused loudly, not misread
      val ivfDir = java.nio.file.Files.createTempDirectory("graft_pq_ivf").toString
      try {
        val ivf = SimilaritySearch.ivfBuild(corpus, "id", "v", k = 4, lloydIters = 1)
        SimilaritySearch.ivfSave(ivf, ivfDir)
        val e = intercept[IllegalArgumentException] {
          SimilaritySearch.pqLoad(spark, ivfDir, corpus)
        }
        assert(e.getMessage.contains("not a PQ index"))
      } finally rmTree(ivfDir)
    } finally rmTree(dir)
  }

  test("wide PQ (ksub=256, multi-word codes): all serve arms agree; persistence round-trips") {
    import spark.implicits._
    def rmTree(path: String): Unit = {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
        f.delete(): Unit
      }
      rm(new java.io.File(path))
    }
    // m=8 × 8 bits = 64 bits = 2 non-spanning words — the FAISS-default
    // operating point the one-long layout could not reach (verdict r18)
    val corpus = (1L to 300L).map(i => (i, vec(i * 811 + 23))).toDF("id", "v")
    val idx = SimilaritySearch.pqBuild(corpus, "id", "v", m = 8, ksub = 256,
      lloydIters = 2)
    assert(idx.bits == 8 && idx.encoded.schema("pq_code").dataType ==
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.LongType, false))
    // expression serve (pqTopK) == kernel serve (pqTopKBatch), per query
    val queryIds = Seq(901L, 902L, 903L)
    val queries = queryIds.map(q => (q, vec(q))).toDF("q_id", "qv")
    val batch = SimilaritySearch.pqTopKBatch(idx, queries, "q_id", "qv",
        topK = 5, overFetch = 4)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      .groupBy(_._1)
    queryIds.foreach { q =>
      val solo = SimilaritySearch.pqTopK(idx, vec(q), topK = 5, overFetch = 4)
        .collect().zipWithIndex
        .map { case (r, i) => (q, r.getLong(0), r.getDouble(1), (i + 1).toLong) }
        .toSeq
      assert(batch(q).sortBy(_._4).toSeq == solo,
        s"wide batch and per-query serving disagree for query $q")
    }
    // pqEncode re-codes a corpus row to its build-time words exactly
    val rowId = 42L
    val built = idx.encoded.filter(col("id") === rowId)
      .select(col("pq_code"), col("nrm")).collect()(0)
    val recoded = SimilaritySearch.pqEncode(idx,
        Seq((rowId, vec(rowId * 811 + 23))).toDF("id", "v"))
      .select(col("pq_code"), col("nrm")).collect()(0)
    assert(built.getSeq[Long](0) == recoded.getSeq[Long](0) &&
      built.getDouble(1) == recoded.getDouble(1),
      "pqEncode must reproduce the build-time words for an identical vector")
    // persistence: wide codes round-trip; loaded serving is identical
    val dir = java.nio.file.Files.createTempDirectory("pqwide").toString
    try {
      SimilaritySearch.pqSave(idx, dir)
      val loaded = SimilaritySearch.pqLoad(spark, dir, corpus)
      val a = SimilaritySearch.pqTopK(idx, vec(901L), topK = 5).collect().toSeq
      val b = SimilaritySearch.pqTopK(loaded, vec(901L), topK = 5).collect().toSeq
      assert(a == b, "loaded wide index must serve bit-identically")
    } finally rmTree(dir)
    // residual tier at the same wide dial: batch == one-shot, save/load
    val ivf = SimilaritySearch.ivfBuild(corpus, "id", "v", k = 8, lloydIters = 2)
    val rpq = SimilaritySearch.residualPqBuild(ivf, m = 8, ksub = 256,
      lloydIters = 2)
    assert(rpq.encoded.schema("pq_code").dataType ==
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.LongType, false))
    val rBatch = SimilaritySearch.pqTopKBatch(rpq, queries, "q_id",
        "qv", topK = 5, nprobe = 3, overFetch = 4)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      .groupBy(_._1)
    queryIds.foreach { q =>
      val solo = SimilaritySearch.pqTopK(rpq, vec(q), topK = 5,
          nprobe = 3, overFetch = 4)
        .collect().zipWithIndex
        .map { case (r, i) => (q, r.getLong(0), r.getDouble(1), (i + 1).toLong) }
        .toSeq
      assert(rBatch(q).sortBy(_._4).toSeq == solo,
        s"wide residual batch and per-query serving disagree for query $q")
    }
    val rdir = java.nio.file.Files.createTempDirectory("rpqwide").toString
    try {
      SimilaritySearch.pqSave(rpq, rdir)
      val rl = SimilaritySearch.pqLoad(spark, rdir, corpus)
      val a = SimilaritySearch.pqTopK(rpq, vec(902L), topK = 5,
        nprobe = 3).collect().toSeq
      val b = SimilaritySearch.pqTopK(rl, vec(902L), topK = 5,
        nprobe = 3).collect().toSeq
      assert(a == b, "loaded wide residual index must serve bit-identically")
    } finally rmTree(rdir)
  }

  test("pqBuild is deterministic and guards bad geometry loudly") {
    import spark.implicits._
    val corpus = (1L to 80L).map(i => (i, vec(i * 37 + 1))).toDF("id", "v")
    val a = SimilaritySearch.pqBuild(corpus, "id", "v", m = 4, ksub = 8,
      lloydIters = 2)
    val b = SimilaritySearch.pqBuild(corpus, "id", "v", m = 4, ksub = 8,
      lloydIters = 2)
    assert(a.codebook.flatten.flatten.toSeq == b.codebook.flatten.flatten.toSeq,
      "re-training on the same data must reproduce the codebook bit-for-bit")
    // m must divide the dimension
    val e1 = intercept[IllegalArgumentException] {
      SimilaritySearch.pqBuild(corpus, "id", "v", m = 5, ksub = 8)
    }
    assert(e1.getMessage.contains("must divide"))
    // wide configs (m × bits > 63) pack into ARRAY<BIGINT> words —
    // m=16 × 8 bits = 128 bits = 3 non-spanning words of 7 codes each
    val wide = SimilaritySearch.pqBuild(corpus, "id", "v", m = 16, ksub = 256)
    assert(wide.encoded.schema("pq_code").dataType ==
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.LongType, false))
    assert(wide.encoded.select(org.apache.spark.sql.functions.size(
      org.apache.spark.sql.functions.col("pq_code"))).distinct().collect()
      .map(_.getInt(0)).toSeq == Seq(3))
    // past 16-bit codes the sanity cap is loud
    val e2 = intercept[IllegalArgumentException] {
      SimilaritySearch.pqBuild(corpus, "id", "v", m = 16, ksub = 100000)
    }
    assert(e2.getMessage.contains("sanity cap"))
    // query dimension mismatch is loud
    val e3 = intercept[IllegalArgumentException] {
      SimilaritySearch.pqTopK(a, new Array[Float](7), topK = 3)
    }
    assert(e3.getMessage.contains("dim"))
    // a degenerate (all-zero) query returns EMPTY — NULL coarse scores
    // are dropped, never padded into the cut (ivfTopK's convention)
    assert(SimilaritySearch.pqTopK(a, new Array[Float](16), topK = 3)
      .collect().isEmpty)
  }
}
