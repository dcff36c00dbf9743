package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.{SimQueries, TextQueries}
import graft.streaming.EventsStreaming

/** Gates for the non-SQL-expressible pipeline ops: LSH recall vs the
  * exact baselines, streaming/batch agreement, stub determinism. */
class PipelineSpec extends AnyFunSuite {

  private val dir = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("minhash LSH recovers the exact high-jaccard pairs") {
    val exact = TextQueries.ngramJaccard.fn(spark, dir)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = TextQueries.minhashLsh.fn(spark, dir)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "fixture should contain planted near-dups")
    val recall = exact.count(lsh.contains).toDouble / exact.size
    assert(recall >= 0.9, s"LSH recall $recall too low; exact=$exact lsh=$lsh")
  }

  test("near-dup components are consistent with the LSH pair graph") {
    val pairs = TextQueries.minhashLsh.fn(spark, dir)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    val comp = TextQueries.neardupComponents.fn(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    val compOf = comp.map(c => c._1 -> c._2).toMap
    // every pair must land in one component
    pairs.foreach { case (a, b) =>
      assert(compOf(a) == compOf(b), s"pair ($a,$b) split across components")
    }
    // the component id is its minimum member, and exactly that member
    // is flagged canonical
    comp.groupBy(_._2).foreach { case (cid, members) =>
      assert(members.map(_._1).min == cid, s"component $cid labeled above its min")
      assert(members.count(_._3 == 1) == 1, s"component $cid canonical count")
      assert(members.find(_._1 == cid).get._3 == 1, s"component $cid min not canonical")
    }
    // clusters exist in the fixture and every doc is labeled
    assert(pairs.nonEmpty && comp.length == comp.map(_._1).distinct.length)
  }

  test("simhash is deterministic and near-dups collide") {
    val a = TextQueries.simhash.fn(spark, dir).collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val b = TextQueries.simhash.fn(spark, dir).collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(a == b)
    // planted near-dup pairs should have close signatures
    val pairs = TextQueries.ngramJaccard.fn(spark, dir)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    val hammingOk = pairs.count { case (x, y) =>
      java.lang.Long.bitCount(a(x) ^ a(y)) <= 6
    }
    assert(hammingOk >= pairs.length * 0.8,
      s"only $hammingOk/${pairs.length} near-dup pairs within hamming 6")
  }

  test("ANN LSH top hit agrees with brute-force top hit") {
    val exact = SimQueries.cosineTopK.fn(spark, dir).collect()
    val approx = SimQueries.annLsh.fn(spark, dir).collect()
    assert(exact.nonEmpty)
    // every ANN result must appear in the exact ranking with the same score
    val exactScores = exact.map(r => r.getLong(0) -> r.getDouble(1)).toMap
    approx.foreach { r =>
      val id = r.getLong(0)
      if (exactScores.contains(id))
        assert(math.abs(exactScores(id) - r.getDouble(2)) < 1e-9)
    }
  }

  test("streaming hourly agg matches the batch equivalent") {
    val streamed = EventsStreaming.runToCompletion(spark, dir, "stream_hourly")
      .select("hour_ts", "event_type", "n")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val batch = graft.queries.CoreQueries.e1Hourly.fn(spark, dir)
      .select("hour_ts", "event_type", "n")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(streamed == batch)
  }

  test("IVF ANN scores are exact for returned ids and recall is useful") {
    val exact = SimQueries.cosineTopK.fn(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val ivf = SimQueries.annIvf.fn(spark, dir).collect()
    assert(ivf.nonEmpty)
    ivf.foreach { r =>
      val id = r.getLong(0)
      exact.get(id).foreach(s => assert(math.abs(s - r.getDouble(2)) < 1e-9))
    }
    val recall = exact.keySet.count(id => ivf.exists(_.getLong(0) == id)).toDouble /
      exact.size
    assert(recall >= 0.3, s"IVF recall@10 too low: $recall")
  }

  test("IVF-SQ8 returns exact scores and loses little recall vs the float probe") {
    // v9 prunes the SAME probed clusters as v5 (shared probedAssigned),
    // then int8-coarse-cuts to 40 before the exact rerank — so every
    // returned score must be exactly the brute-force cosine, and the
    // int8 cut should rarely drop a float-probe top-10 member
    val exact = SimQueries.cosineTopK.fn(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val ivf = SimQueries.annIvf.fn(spark, dir).collect()
      .map(_.getLong(0)).toSet
    val sq8 = SimQueries.annIvfQuantized.fn(spark, dir).collect()
    assert(sq8.nonEmpty)
    sq8.foreach { r =>
      exact.get(r.getLong(0)).foreach(s => assert(s == r.getDouble(1),
        s"v9 rerank score for ${r.getLong(0)} differs from brute force"))
    }
    val overlap = sq8.map(_.getLong(0)).count(ivf.contains).toDouble / ivf.size
    assert(overlap >= 0.7, s"IVF-SQ8 lost too much of the float probe's top-10: $overlap")
  }

  test("cluster-balanced sample caps every cluster and is re-run deterministic") {
    val a = SimQueries.clusterSample.fn(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val b = SimQueries.clusterSample.fn(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(a.nonEmpty)
    assert(a.toSeq == b.toSeq, "sample must be identical across invocations")
    val perCluster = a.groupBy(_._2).view.mapValues(_.length)
    assert(perCluster.values.forall(_ <= 20), s"a cluster exceeded the cap")
    assert(perCluster.size > 1, "sample collapsed into one cluster")
    assert(a.map(_._1).distinct.length == a.length, "duplicate ids in sample")
  }

  test("stream-stream interval join matches the batch formulation") {
    val streamed = EventsStreaming.clickAttributionStream(spark, dir, "stream_attr")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val batch = EventsStreaming.clickAttributionBatch(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(streamed.nonEmpty, "attribution join produced no rows")
    assert(streamed == batch)
  }

  test("stateful streaming sessionization matches the batch formulation") {
    val streamed = EventsStreaming.sessionizeStream(spark, dir, "stream_sessions")
      .collect().map(r => (r.getLong(0), r.getInt(2), r.getLong(3))).toSeq
      .groupBy(_._1).view.mapValues(_.map(s => (s._2, s._3)).sorted).toMap
    val batch = graft.queries.SessionQueries.sessions.fn(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(2).toInt, r.getLong(3))).toSeq
      .groupBy(_._1).view.mapValues(_.map(s => (s._2, s._3)).sorted).toMap
    assert(streamed.nonEmpty)
    assert(streamed == batch)
  }

  test("streaming dedup matches batch distinct") {
    val streamed = EventsStreaming.dedupStream(spark, dir, "stream_dedup")
      .select("user_id", "event_type")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val batch = graft.engine.Tables.t(spark, dir, "events")
      .select("user_id", "event_type").distinct()
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(streamed == batch)
  }

  test("bounded-state streaming dedup keeps every distinct event id of the fixture") {
    // the fixture's event ids are already unique, so within-watermark
    // dedup must be the identity on ids — and the row count must match
    // the batch read exactly (nothing dropped, nothing duplicated)
    val streamed = EventsStreaming.dedupStreamBounded(spark, dir, "stream_dedup_bounded")
      .select("event_id").collect().map(_.getLong(0)).toSet
    val batch = graft.engine.Tables.t(spark, dir, "events")
      .select("event_id").collect().map(_.getLong(0)).toSet
    assert(streamed == batch)
  }

  test("streaming ingest dedup grows its index across micro-batches") {
    import spark.implicits._
    import graft.streaming.IngestStreaming
    def doc(seed: String): String = (0 until 60).map(w => s"${seed}_$w").mkString(" ")
    val corpus = Seq((1L, doc("c1")), (2L, doc("c2")), (3L, doc("c3")))
      .toDF("id", "text")
    val xNear = doc("x").split(" ").updated(7, "CHANGED").mkString(" ")
    // the plant must be batch-detectable BEFORE the streaming run, so a
    // failure below isolates to micro-batch/index-fold logic, not LSH luck
    val probe = graft.operators.TextDedup.incrementalDedup(
        Seq((100L, doc("x"))).toDF("id", "text"),
        Seq((200L, xNear)).toDF("id", "text"), "id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(probe(200L) == "near_dup", s"plant not batch-detectable: $probe")
    // two micro-batches as two source files, written in arrival order
    val root = java.nio.file.Files.createTempDirectory("graft_ingest").toString
    val srcDir = s"$root/src"
    // batch 1: fresh doc X (survivor-to-be) + exact copy of corpus doc 2
    Seq((100L, doc("x")), (101L, doc("c2"))).toDF("id", "text")
      .coalesce(1).write.mode("append").parquet(srcDir)
    // the file source orders batches by modification time: set the two
    // batches' mtimes EXPLICITLY 60 s apart instead of sleeping past the
    // filesystem's mtime granularity (round-13 advice — the sleep flaked
    // under coarse-granularity filesystems / CI clock skew)
    val batch1Stamp = System.currentTimeMillis() - 60000L
    val batch1Files = new java.io.File(srcDir).listFiles()
    batch1Files.foreach(_.setLastModified(batch1Stamp))
    val batch1Names = batch1Files.map(_.getName).toSet
    // batch 2: near-dup of batch-1 SURVIVOR X (not in the static corpus)
    // + a fresh doc
    Seq((200L, xNear), (201L, doc("z"))).toDF("id", "text")
      .coalesce(1).write.mode("append").parquet(srcDir)
    val batch2Stamp = System.currentTimeMillis()
    new java.io.File(srcDir).listFiles()
      .filter(f => !batch1Names.contains(f.getName))
      .foreach(_.setLastModified(batch2Stamp))
    val stream = spark.readStream
      .schema("id LONG, text STRING")
      .option("maxFilesPerTrigger", "1")
      .parquet(srcDir)
    val q = IngestStreaming.incrementalDedupStream(
      corpus, stream, "id", "text", s"$root/status", s"$root/survivors")
    try { q.processAllAvailable() } finally q.stop()
    val st = spark.read.parquet(s"$root/status").select("id", "status")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(st.size == 4, s"one status per streamed doc: $st")
    assert(st(100L) == "keep", s"fresh batch-1 doc must keep: $st")
    assert(st(101L) == "exact_dup", s"copy of corpus doc must be exact: $st")
    assert(st(200L) == "near_dup",
      s"near-copy of a batch-1 SURVIVOR must be flagged (growing index): $st")
    assert(st(201L) == "keep", s"fresh batch-2 doc must keep: $st")
    val surv = spark.read.parquet(s"$root/survivors")
      .select("id").collect().map(_.getLong(0)).toSet
    assert(surv == Set(100L, 201L), s"survivor fold must track keeps: $surv")
  }

  test("streaming EMBEDDING ingest dedup grows its index across micro-batches") {
    import spark.implicits._
    import graft.streaming.IngestStreaming
    def vec(seed: Long): Array[Float] = {
      val r = new scala.util.Random(seed * 2654435761L)
      Array.fill(16)((r.nextDouble() * 2 - 1).toFloat)
    }
    def jitter(v: Array[Float], eps: Float): Array[Float] =
      v.zipWithIndex.map { case (x, i) => x + (if (i % 2 == 0) eps else -eps) }
    val corpus = Seq((1L, vec(1L)), (2L, vec(2L)), (3L, vec(3L)))
      .toDF("id", "v")
    val x = vec(900L)
    // plant batch-detectability first, like the text twin: a failure
    // below then isolates to micro-batch/index-fold logic
    val probe = graft.operators.SimilaritySearch.incrementalNearDup(
        Seq((100L, x)).toDF("id", "v"),
        Seq((200L, jitter(x, 0.01f))).toDF("id", "v"), "id", "v", 0.9, 0.05)
      .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(probe(200L) == "dup", s"plant not batch-detectable: $probe")
    val root = java.nio.file.Files.createTempDirectory("graft_vingest").toString
    val srcDir = s"$root/src"
    // batch 1: fresh vector X (survivor-to-be) + near-copy of corpus 2
    Seq((100L, x), (101L, jitter(vec(2L), 0.01f))).toDF("id", "v")
      .coalesce(1).write.mode("append").parquet(srcDir)
    val b1Stamp = System.currentTimeMillis() - 60000L
    val b1Files = new java.io.File(srcDir).listFiles()
    b1Files.foreach(_.setLastModified(b1Stamp))
    val b1Names = b1Files.map(_.getName).toSet
    // batch 2: near-copy of batch-1 SURVIVOR X (not in the static
    // corpus) + a fresh vector
    Seq((200L, jitter(x, 0.01f)), (201L, vec(901L))).toDF("id", "v")
      .coalesce(1).write.mode("append").parquet(srcDir)
    val b2Stamp = System.currentTimeMillis()
    new java.io.File(srcDir).listFiles()
      .filter(f => !b1Names.contains(f.getName))
      .foreach(_.setLastModified(b2Stamp))
    val stream = spark.readStream
      .schema("id LONG, v ARRAY<FLOAT>")
      .option("maxFilesPerTrigger", "1")
      .parquet(srcDir)
    val q = IngestStreaming.incrementalEmbeddingDedupStream(
      corpus, stream, "id", "v", s"$root/status", s"$root/survivors",
      threshold = 0.9, margin = 0.05)
    try { q.processAllAvailable() } finally q.stop()
    val st = spark.read.parquet(s"$root/status").select("id", "status")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(st.size == 4, s"one status per streamed vector: $st")
    assert(st(100L) == "keep", s"fresh batch-1 vector must keep: $st")
    assert(st(101L) == "dup", s"near-copy of corpus vector must flag: $st")
    assert(st(200L) == "dup",
      s"near-copy of a batch-1 SURVIVOR must be flagged (growing index): $st")
    assert(st(201L) == "keep", s"fresh batch-2 vector must keep: $st")
    val surv = spark.read.parquet(s"$root/survivors")
      .select("id").collect().map(_.getLong(0)).toSet
    assert(surv == Set(100L, 201L), s"survivor fold must track keeps: $surv")
  }

  test("v14 IVF-pruned incremental dedup is consistent with the full-scan v12 on the fixture") {
    def run(q: graft.queries.Q): Map[Long, (Long, Double, String)] =
      q.fn(spark, dir).collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getDouble(2), r.getString(3)))).toMap
    val full = run(SimQueries.incrementalEmbeddingDedup)
    val pruned = run(SimQueries.ivfIncrementalDedup)
    assert(pruned.keySet == full.keySet, "one status row per batch vector in both arms")
    // pruning can only remove matches, never invent one
    pruned.foreach { case (id, (n, best, st)) =>
      val (fN, fBest, fSt) = full(id)
      assert(n <= fN, s"id $id: pruned n_dups $n > full $fN")
      assert(best <= fBest, s"id $id: pruned best_sim $best > full $fBest")
      if (st == "dup") assert(fSt == "dup", s"id $id: pruned dup absent from full scan")
    }
    val fullDups = full.collect { case (id, (_, _, "dup")) => id }.toSet
    val prunedDups = pruned.collect { case (id, (_, _, "dup")) => id }.toSet
    assert(fullDups.nonEmpty, "fixture should contain a planted cross-split near-dup")
    info(s"fixture recall at nprobe=6/k=16: ${prunedDups.size}/${fullDups.size} " +
      s"(dup ids full=$fullDups pruned=$prunedDups)")
    // deterministic fixture + deterministic build: at v14's nprobe=6
    // the planted pair's corpus side (cos 0.4532, the batch vector's
    // 6th-nearest cluster — measured, see SimQueries scaladoc) IS
    // probed, so the pruned arm finds exactly what the full scan finds
    // on THIS corpus; at nprobe=4 it is missed — the honest IVF trade
    assert(prunedDups == fullDups,
      s"probe missed a fixture dup: full=$fullDups pruned=$prunedDups")
  }

  test("embedding arrays round-trip through a parquet sink") {
    val out = java.nio.file.Files.createTempDirectory("graft_emb").toString
    val e = graft.engine.Tables.t(spark, dir, "embeddings")
    e.write.mode("overwrite").parquet(out)
    val back = spark.read.parquet(out)
    assert(back.count() == e.count())
    val a = e.orderBy("vec_id").collect().map(r => (r.getLong(0), r.getSeq[Float](1)))
    val b = back.orderBy("vec_id").collect().map(r => (r.getLong(0), r.getSeq[Float](1)))
    assert(a.zip(b).forall { case (x, y) => x._1 == y._1 && x._2 == y._2 })
  }

  test("decode stub is deterministic with full coverage") {
    val a = graft.queries.MultimodalQueries.decodeStub.fn(spark, dir).collect()
    val b = graft.queries.MultimodalQueries.decodeStub.fn(spark, dir).collect()
    assert(a.map(_.toSeq).toSeq == b.map(_.toSeq).toSeq)
    assert(a.length == graft.engine.Tables.t(spark, dir, "documents").count())
    assert(a.forall(r => r.getInt(2) >= 1 && r.getInt(3) >= 1))
  }

  test("resize stub fits the 256 box and preserves aspect ratio") {
    val rows = graft.queries.MultimodalQueries.resizeStub.fn(spark, dir).collect()
    assert(rows.length == graft.engine.Tables.t(spark, dir, "documents").count())
    rows.foreach { r =>
      val (w, h, ow, oh) = (r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4))
      assert(ow >= 1 && oh >= 1 && ow <= 256 && oh <= 256, s"out dims $ow x $oh")
      if (math.max(w, h) <= 256) assert(ow == w && oh == h)
      else {
        // floor scaling: out = in * 256 / max(in dims), so the scaled
        // aspect ratio is exact up to the floor
        val mx = math.max(w, h).toLong
        assert(ow == math.max(1L, w.toLong * 256 / mx).toInt)
        assert(oh == math.max(1L, h.toLong * 256 / mx).toInt)
      }
    }
  }

  test("streaming ANN serving answers per micro-batch and picks up a mid-stream index refresh") {
    import spark.implicits._
    import graft.streaming.ServeStreaming
    import graft.operators.SimilaritySearch
    def vec(seed: Long): Array[Float] = {
      val r = new scala.util.Random(seed * 2654435761L)
      Array.fill(16)((r.nextDouble() * 2 - 1).toFloat)
    }
    def jitter(v: Array[Float], eps: Float): Array[Float] =
      v.zipWithIndex.map { case (x, i) => x + (if (i % 2 == 0) eps else -eps) }
    val corpus = (1L to 60L).map(i => (i, vec(i))).toDF("id", "v")
    val idx = SimilaritySearch.ivfBuild(corpus, "id", "v", k = 4, lloydIters = 2)
    val root = java.nio.file.Files.createTempDirectory("graft_serve_stream").toString
    val idxDir = s"$root/index"
    SimilaritySearch.ivfSave(idx, idxDir)
    val srcDir = s"$root/queries"
    // micro-batch 1: a near-copy of corpus vector 5
    Seq((900L, jitter(vec(5L), 0.01f))).toDF("q_id", "qv")
      .coalesce(1).write.mode("append").parquet(srcDir)
    val stream = spark.readStream
      .schema("q_id LONG, qv ARRAY<FLOAT>")
      .option("maxFilesPerTrigger", "1")
      .parquet(srcDir)
    val q = ServeStreaming.ivfServeStream(
      stream, idxDir, "q_id", "qv", s"$root/answers", topK = 3, nprobe = 2)
    try {
      q.processAllAvailable()
      val b0 = spark.read.parquet(s"$root/answers/batch=0")
        .orderBy("rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      // the stream's answers ARE the batch op's answers on the loaded index
      val direct = SimilaritySearch.ivfTopKBatchQuantized(
          SimilaritySearch.ivfLoad(spark, idxDir),
          Seq((900L, jitter(vec(5L), 0.01f))).toDF("q_id", "qv"),
          "q_id", "qv", topK = 3, nprobe = 2)
        .orderBy("rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      assert(b0.toSeq == direct.toSeq,
        s"stream batch 0 diverged from the direct batch op:\n${b0.toSeq}\nvs\n${direct.toSeq}")
      assert(b0.head._2 == 5L, s"near-copy of 5 must rank first: ${b0.toSeq}")
      // MID-STREAM REFRESH: an ingest job rebuilds the index with a new
      // vector 777 and ivfSave-s the SAME dir (v2). No stream restart.
      val refreshed = SimilaritySearch.ivfBuild(
        corpus.union(Seq((777L, vec(777L))).toDF("id", "v")),
        "id", "v", k = 4, lloydIters = 2)
      SimilaritySearch.ivfSave(refreshed, idxDir)
      // micro-batch 2: a near-copy of the NEW vector — answerable only
      // from v2 (777 is not in v1's corpus at all)
      Seq((901L, jitter(vec(777L), 0.01f))).toDF("q_id", "qv")
        .coalesce(1).write.mode("append").parquet(srcDir)
      q.processAllAvailable()
      val b1 = spark.read.parquet(s"$root/answers/batch=1")
        .orderBy("rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(3)))
      assert(b1.nonEmpty && b1.head == ((901L, 777L, 1L)),
        s"the micro-batch after a refresh must serve from the NEW version " +
          s"(777 exists only in v2): ${b1.toSeq}")
    } finally q.stop()
  }

  test("streaming PQ serving answers per micro-batch and picks up a mid-stream pqSave refresh") {
    import spark.implicits._
    import graft.streaming.ServeStreaming
    import graft.operators.SimilaritySearch
    def vec(seed: Long): Array[Float] = {
      val r = new scala.util.Random(seed * 2654435761L)
      Array.fill(16)((r.nextDouble() * 2 - 1).toFloat)
    }
    def jitter(v: Array[Float], eps: Float): Array[Float] =
      v.zipWithIndex.map { case (x, i) => x + (if (i % 2 == 0) eps else -eps) }
    val corpus = (1L to 60L).map(i => (i, vec(i))).toDF("id", "v")
    val idx = SimilaritySearch.pqBuild(corpus, "id", "v", m = 4, ksub = 8,
      lloydIters = 2)
    val root = java.nio.file.Files.createTempDirectory("graft_pq_stream").toString
    val idxDir = s"$root/index"
    SimilaritySearch.pqSave(idx, idxDir)
    val corpus2 = corpus.union(Seq((777L, vec(777L))).toDF("id", "v"))
    val srcDir = s"$root/queries"
    Seq((900L, jitter(vec(5L), 0.01f))).toDF("q_id", "qv")
      .coalesce(1).write.mode("append").parquet(srcDir)
    val stream = spark.readStream
      .schema("q_id LONG, qv ARRAY<FLOAT>")
      .option("maxFilesPerTrigger", "1")
      .parquet(srcDir)
    // corpus2 is the rerank frame from the start: the rerank corpus may
    // legitimately be a superset of the ENCODED corpus (pqLoad's
    // contract — only encoded ids can surface, floats fetch by id)
    val q = ServeStreaming.pqServeStream(
      stream, idxDir, corpus2, "q_id", "qv", s"$root/answers",
      topK = 3, overFetch = 4)
    try {
      q.processAllAvailable()
      val b0 = spark.read.parquet(s"$root/answers/batch=0")
        .orderBy("rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      val direct = SimilaritySearch.pqTopKBatch(
          SimilaritySearch.pqLoad(spark, idxDir, corpus2),
          Seq((900L, jitter(vec(5L), 0.01f))).toDF("q_id", "qv"),
          "q_id", "qv", topK = 3, overFetch = 4)
        .orderBy("rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      assert(b0.toSeq == direct.toSeq,
        s"stream batch 0 diverged from the direct batch op:\n${b0.toSeq}\nvs\n${direct.toSeq}")
      assert(b0.head._2 == 5L, s"near-copy of 5 must rank first: ${b0.toSeq}")
      // MID-STREAM REFRESH: re-encode with vector 777 and pqSave the
      // SAME dir (v2). No stream restart; 777 is answerable only from v2.
      val refreshed = SimilaritySearch.pqBuild(corpus2, "id", "v",
        m = 4, ksub = 8, lloydIters = 2)
      SimilaritySearch.pqSave(refreshed, idxDir)
      Seq((901L, jitter(vec(777L), 0.01f))).toDF("q_id", "qv")
        .coalesce(1).write.mode("append").parquet(srcDir)
      q.processAllAvailable()
      val b1 = spark.read.parquet(s"$root/answers/batch=1")
        .orderBy("rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(3)))
      assert(b1.nonEmpty && b1.head == ((901L, 777L, 1L)),
        s"the micro-batch after a pqSave refresh must serve from the NEW " +
          s"version (777 is encoded only in v2): ${b1.toSeq}")
    } finally q.stop()
  }

  test("streaming RESIDUAL serving answers per micro-batch and picks up a residualPqSave refresh") {
    import spark.implicits._
    import graft.streaming.ServeStreaming
    import graft.operators.SimilaritySearch
    def vec(seed: Long): Array[Float] = {
      val r = new scala.util.Random(seed * 2654435761L)
      Array.fill(16)((r.nextDouble() * 2 - 1).toFloat)
    }
    def jitter(v: Array[Float], eps: Float): Array[Float] =
      v.zipWithIndex.map { case (x, i) => x + (if (i % 2 == 0) eps else -eps) }
    val corpus = (1L to 60L).map(i => (i, vec(i))).toDF("id", "v")
    val ivf = SimilaritySearch.ivfBuild(corpus, "id", "v", k = 4, lloydIters = 2)
    val idx = SimilaritySearch.residualPqBuild(ivf, m = 4, ksub = 8,
      lloydIters = 2)
    val root = java.nio.file.Files.createTempDirectory("graft_rpq_stream").toString
    val idxDir = s"$root/index"
    SimilaritySearch.pqSave(idx, idxDir)
    val corpus2 = corpus.union(Seq((777L, vec(777L))).toDF("id", "v"))
    val srcDir = s"$root/queries"
    Seq((900L, jitter(vec(5L), 0.01f))).toDF("q_id", "qv")
      .coalesce(1).write.mode("append").parquet(srcDir)
    val stream = spark.readStream
      .schema("q_id LONG, qv ARRAY<FLOAT>")
      .option("maxFilesPerTrigger", "1")
      .parquet(srcDir)
    val q = ServeStreaming.pqServeStream(
      stream, idxDir, corpus2, "q_id", "qv", s"$root/answers",
      topK = 3, nprobe = 4, overFetch = 4)
    try {
      q.processAllAvailable()
      val b0 = spark.read.parquet(s"$root/answers/batch=0")
        .orderBy("rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      val direct = SimilaritySearch.pqTopKBatch(
          SimilaritySearch.pqLoad(spark, idxDir, corpus2),
          Seq((900L, jitter(vec(5L), 0.01f))).toDF("q_id", "qv"),
          "q_id", "qv", topK = 3, nprobe = 4, overFetch = 4)
        .orderBy("rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      assert(b0.toSeq == direct.toSeq,
        s"stream batch 0 diverged from the direct batch op:\n${b0.toSeq}\nvs\n${direct.toSeq}")
      assert(b0.head._2 == 5L, s"near-copy of 5 must rank first: ${b0.toSeq}")
      // MID-STREAM REFRESH: coarse re-train + residual re-encode over
      // the grown corpus, pqSave to the SAME dir (v2). No
      // restart; 777 is encoded only in v2.
      val ivf2 = SimilaritySearch.ivfBuild(corpus2, "id", "v", k = 4,
        lloydIters = 2)
      val refreshed = SimilaritySearch.residualPqBuild(ivf2, m = 4,
        ksub = 8, lloydIters = 2)
      SimilaritySearch.pqSave(refreshed, idxDir)
      Seq((901L, jitter(vec(777L), 0.01f))).toDF("q_id", "qv")
        .coalesce(1).write.mode("append").parquet(srcDir)
      q.processAllAvailable()
      val b1 = spark.read.parquet(s"$root/answers/batch=1")
        .orderBy("rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(3)))
      assert(b1.nonEmpty && b1.head == ((901L, 777L, 1L)),
        s"the micro-batch after a pqSave refresh must serve from " +
          s"the NEW version (777 is encoded only in v2): ${b1.toSeq}")
    } finally q.stop()
  }

  test("streaming ROTATED-PQ serving answers per micro-batch == the direct batch op") {
    import spark.implicits._
    import graft.streaming.ServeStreaming
    import graft.operators.SimilaritySearch
    def vec(seed: Long): Array[Float] = {
      val r = new scala.util.Random(seed * 2654435761L)
      Array.fill(16)((r.nextDouble() * 2 - 1).toFloat)
    }
    def jitter(v: Array[Float], eps: Float): Array[Float] =
      v.zipWithIndex.map { case (x, i) => x + (if (i % 2 == 0) eps else -eps) }
    val corpus = (1L to 60L).map(i => (i, vec(i))).toDF("id", "v")
    val idx = SimilaritySearch.pqBuild(corpus, "id", "v", m = 4, ksub = 8,
      lloydIters = 2, rotation = "hadamard")
    val root = java.nio.file.Files.createTempDirectory("graft_rotpq_stream").toString
    val idxDir = s"$root/index"
    SimilaritySearch.pqSave(idx, idxDir)
    val srcDir = s"$root/queries"
    Seq((900L, jitter(vec(5L), 0.01f))).toDF("q_id", "qv")
      .coalesce(1).write.mode("append").parquet(srcDir)
    val stream = spark.readStream
      .schema("q_id LONG, qv ARRAY<FLOAT>")
      .option("maxFilesPerTrigger", "1")
      .parquet(srcDir)
    val q = ServeStreaming.pqServeStream(
      stream, idxDir, corpus, "q_id", "qv", s"$root/answers",
      topK = 3, overFetch = 4)
    try {
      q.processAllAvailable()
      val b0 = spark.read.parquet(s"$root/answers/batch=0")
        .orderBy("rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      val direct = SimilaritySearch.pqTopKBatch(
          SimilaritySearch.pqLoad(spark, idxDir, corpus),
          Seq((900L, jitter(vec(5L), 0.01f))).toDF("q_id", "qv"),
          "q_id", "qv", topK = 3, overFetch = 4)
        .orderBy("rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      assert(b0.toSeq == direct.toSeq,
        s"stream batch 0 diverged from the direct batch op:\n${b0.toSeq}\nvs\n${direct.toSeq}")
      assert(b0.head._2 == 5L, s"near-copy of 5 must rank first: ${b0.toSeq}")
    } finally q.stop()
  }

  test("a PQ serving stream refuses a refresh of another kind") {
    // the stream pins the kind of its first load: a plain-PQ stream
    // whose directory gets a Hadamard-rotated tree must fail loudly,
    // not silently switch what it serves
    import spark.implicits._
    import graft.streaming.ServeStreaming
    import graft.operators.SimilaritySearch
    def vec(seed: Long): Array[Float] = {
      val r = new scala.util.Random(seed * 2654435761L)
      Array.fill(16)((r.nextDouble() * 2 - 1).toFloat)
    }
    val corpus = (1L to 60L).map(i => (i, vec(i))).toDF("id", "v")
    val root = java.nio.file.Files.createTempDirectory("graft_pq_kind").toString
    val idxDir = s"$root/index"
    SimilaritySearch.pqSave(SimilaritySearch.pqBuild(corpus, "id", "v", m = 4,
      ksub = 8, lloydIters = 1), idxDir)
    val srcDir = s"$root/queries"
    Seq((900L, vec(5L))).toDF("q_id", "qv").coalesce(1).write.mode("append").parquet(srcDir)
    val stream = spark.readStream.schema("q_id LONG, qv ARRAY<FLOAT>")
      .option("maxFilesPerTrigger", "1").parquet(srcDir)
    val q = ServeStreaming.pqServeStream(
      stream, idxDir, corpus, "q_id", "qv", s"$root/answers", topK = 3)
    try {
      q.processAllAvailable()
      assert(spark.read.parquet(s"$root/answers/batch=0").count() == 3)
      SimilaritySearch.pqSave(SimilaritySearch.pqBuild(corpus, "id", "v", m = 4,
        ksub = 8, lloydIters = 1, rotation = "hadamard"), idxDir)
      Seq((901L, vec(6L))).toDF("q_id", "qv").coalesce(1).write.mode("append").parquet(srcDir)
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable()
      }
      def chain(t: Throwable): Seq[String] =
        if (t == null) Nil else String.valueOf(t.getMessage) +: chain(t.getCause)
      assert(chain(e).exists(_.contains("'rot-pq' index, not the 'pq'")),
        chain(e).mkString("\n"))
    } finally q.stop()
  }

  test("streaming ROTATED-RESIDUAL serving answers per micro-batch and picks up a refresh") {
    import spark.implicits._
    import graft.streaming.ServeStreaming
    import graft.operators.SimilaritySearch
    def vec(seed: Long): Array[Float] = {
      val r = new scala.util.Random(seed * 2654435761L)
      Array.fill(16)((r.nextDouble() * 2 - 1).toFloat)
    }
    def jitter(v: Array[Float], eps: Float): Array[Float] =
      v.zipWithIndex.map { case (x, i) => x + (if (i % 2 == 0) eps else -eps) }
    val corpus = (1L to 60L).map(i => (i, vec(i))).toDF("id", "v")
    val ivf = SimilaritySearch.ivfBuild(corpus, "id", "v", k = 4, lloydIters = 2)
    val idx = SimilaritySearch.residualPqBuild(ivf, m = 4, ksub = 8,
      lloydIters = 2, rotation = "hadamard")
    val root = java.nio.file.Files.createTempDirectory("graft_rrpq_stream").toString
    val idxDir = s"$root/index"
    SimilaritySearch.pqSave(idx, idxDir)
    val corpus2 = corpus.union(Seq((777L, vec(777L))).toDF("id", "v"))
    val srcDir = s"$root/queries"
    Seq((900L, jitter(vec(5L), 0.01f))).toDF("q_id", "qv")
      .coalesce(1).write.mode("append").parquet(srcDir)
    val stream = spark.readStream
      .schema("q_id LONG, qv ARRAY<FLOAT>")
      .option("maxFilesPerTrigger", "1")
      .parquet(srcDir)
    val q = ServeStreaming.pqServeStream(
      stream, idxDir, corpus2, "q_id", "qv", s"$root/answers",
      topK = 3, nprobe = 4, overFetch = 4)
    try {
      q.processAllAvailable()
      val b0 = spark.read.parquet(s"$root/answers/batch=0")
        .orderBy("rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      val direct = SimilaritySearch.pqTopKBatch(
          SimilaritySearch.pqLoad(spark, idxDir, corpus2),
          Seq((900L, jitter(vec(5L), 0.01f))).toDF("q_id", "qv"),
          "q_id", "qv", topK = 3, nprobe = 4, overFetch = 4)
        .orderBy("rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      assert(b0.toSeq == direct.toSeq,
        s"stream batch 0 diverged from the direct batch op:\n${b0.toSeq}\nvs\n${direct.toSeq}")
      assert(b0.head._2 == 5L, s"near-copy of 5 must rank first: ${b0.toSeq}")
      // mid-stream refresh: re-train over the grown corpus, save v2;
      // 777 is encoded only in v2
      val ivf2 = SimilaritySearch.ivfBuild(corpus2, "id", "v", k = 4,
        lloydIters = 2)
      val refreshed = SimilaritySearch.residualPqBuild(ivf2, m = 4,
        ksub = 8, lloydIters = 2, rotation = "hadamard")
      SimilaritySearch.pqSave(refreshed, idxDir)
      Seq((901L, jitter(vec(777L), 0.01f))).toDF("q_id", "qv")
        .coalesce(1).write.mode("append").parquet(srcDir)
      q.processAllAvailable()
      val b1 = spark.read.parquet(s"$root/answers/batch=1")
        .orderBy("rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(3)))
      assert(b1.nonEmpty && b1.head == ((901L, 777L, 1L)),
        s"the micro-batch after a pqSave refresh must serve from " +
          s"the NEW version (777 is encoded only in v2): ${b1.toSeq}")
    } finally q.stop()
  }

  test("streaming TRAINED-OPQ residual serving: stream == direct batch; refresh swaps R + codes atomically") {
    import spark.implicits._
    import graft.streaming.ServeStreaming
    import graft.operators.SimilaritySearch
    def vec(seed: Long): Array[Float] = {
      val r = new scala.util.Random(seed * 2654435761L)
      Array.fill(16)((r.nextDouble() * 2 - 1).toFloat)
    }
    def jitter(v: Array[Float], eps: Float): Array[Float] =
      v.zipWithIndex.map { case (x, i) => x + (if (i % 2 == 0) eps else -eps) }
    val corpus = (1L to 60L).map(i => (i, vec(i))).toDF("id", "v")
    val ivf = SimilaritySearch.ivfBuild(corpus, "id", "v", k = 4, lloydIters = 2)
    val idx = SimilaritySearch.residualPqBuild(ivf, m = 4, ksub = 8,
      lloydIters = 1, opqIters = 2, rotation = "opq")
    val root = java.nio.file.Files.createTempDirectory("graft_opqr_stream").toString
    val idxDir = s"$root/index"
    SimilaritySearch.pqSave(idx, idxDir)
    val corpus2 = corpus.union(Seq((777L, vec(777L))).toDF("id", "v"))
    val srcDir = s"$root/queries"
    Seq((900L, jitter(vec(5L), 0.01f))).toDF("q_id", "qv")
      .coalesce(1).write.mode("append").parquet(srcDir)
    val stream = spark.readStream
      .schema("q_id LONG, qv ARRAY<FLOAT>")
      .option("maxFilesPerTrigger", "1")
      .parquet(srcDir)
    val q = ServeStreaming.pqServeStream(
      stream, idxDir, corpus2, "q_id", "qv", s"$root/answers",
      topK = 3, nprobe = 4, overFetch = 4)
    try {
      q.processAllAvailable()
      val b0 = spark.read.parquet(s"$root/answers/batch=0")
        .orderBy("rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      val direct = SimilaritySearch.pqTopKBatch(
          SimilaritySearch.pqLoad(spark, idxDir, corpus2),
          Seq((900L, jitter(vec(5L), 0.01f))).toDF("q_id", "qv"),
          "q_id", "qv", topK = 3, nprobe = 4, overFetch = 4)
        .orderBy("rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      assert(b0.toSeq == direct.toSeq,
        s"stream batch 0 diverged from the direct batch op:\n${b0.toSeq}\nvs\n${direct.toSeq}")
      assert(b0.head._2 == 5L, s"near-copy of 5 must rank first: ${b0.toSeq}")
      // mid-stream refresh: a RE-TRAINED R + codes land in one
      // versioned tree — the next micro-batch serves the new pair
      // atomically (777 is encoded only in v2, under v2's R)
      val ivf2 = SimilaritySearch.ivfBuild(corpus2, "id", "v", k = 4,
        lloydIters = 2)
      val refreshed = SimilaritySearch.residualPqBuild(ivf2, m = 4,
        ksub = 8, lloydIters = 1, opqIters = 2, rotation = "opq")
      SimilaritySearch.pqSave(refreshed, idxDir)
      Seq((901L, jitter(vec(777L), 0.01f))).toDF("q_id", "qv")
        .coalesce(1).write.mode("append").parquet(srcDir)
      q.processAllAvailable()
      val b1 = spark.read.parquet(s"$root/answers/batch=1")
        .orderBy("rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(3)))
      assert(b1.nonEmpty && b1.head == ((901L, 777L, 1L)),
        s"the micro-batch after a pqSave refresh must serve from " +
          s"the NEW version (777 is encoded only in v2): ${b1.toSeq}")
    } finally q.stop()
  }

  test("pqServeStream fails fast when the index has no complete version") {
    import spark.implicits._
    import graft.streaming.ServeStreaming
    val root = java.nio.file.Files.createTempDirectory("graft_pq_nofail").toString
    val srcDir = s"$root/queries"
    Seq((1L, Array.fill(16)(0.1f))).toDF("q_id", "qv")
      .coalesce(1).write.mode("append").parquet(srcDir)
    val stream = spark.readStream
      .schema("q_id LONG, qv ARRAY<FLOAT>")
      .parquet(srcDir)
    val corpus = Seq((1L, Array.fill(16)(0.1f))).toDF("id", "v")
    val ex = intercept[IllegalArgumentException] {
      ServeStreaming.pqServeStream(
        stream, s"$root/never_saved_index", corpus, "q_id", "qv", s"$root/answers")
    }
    assert(ex.getMessage.contains("no complete index version"), ex.getMessage)
    assert(ex.getMessage.contains("pqSave"), ex.getMessage)
  }

  test("ivfServeStream fails fast with a clear message when the index has no complete version") {
    import spark.implicits._
    import graft.streaming.ServeStreaming
    val root = java.nio.file.Files.createTempDirectory("graft_serve_nofail").toString
    val srcDir = s"$root/queries"
    Seq((1L, Array.fill(16)(0.1f))).toDF("q_id", "qv")
      .coalesce(1).write.mode("append").parquet(srcDir)
    val stream = spark.readStream
      .schema("q_id LONG, qv ARRAY<FLOAT>")
      .parquet(srcDir)
    // an index dir with no ivfSave commit: the misuse must surface AT
    // .start() with the fix in the message, not kill the first
    // micro-batch with ivfLoad's opaque require (round-16 advice)
    val ex = intercept[IllegalArgumentException] {
      ServeStreaming.ivfServeStream(
        stream, s"$root/never_saved_index", "q_id", "qv", s"$root/answers")
    }
    assert(ex.getMessage.contains("no complete index version"), ex.getMessage)
    assert(ex.getMessage.contains("ivfSave"), ex.getMessage)
  }

  test("feature-extract stub is deterministic with 8 full-width lanes") {
    val a = graft.queries.MultimodalQueries.featureStub.fn(spark, dir).collect()
    val b = graft.queries.MultimodalQueries.featureStub.fn(spark, dir).collect()
    assert(a.map(_.toSeq).toSeq == b.map(_.toSeq).toSeq)
    assert(a.length == graft.engine.Tables.t(spark, dir, "documents").count())
    // lanes are independent 60-bit hashes: on any non-trivial corpus
    // every lane must take many distinct values
    val distinctPerLane = (1 to 8).map(i => a.map(_.getLong(i)).distinct.length)
    assert(distinctPerLane.forall(_ > a.length / 2), s"lanes $distinctPerLane")
  }
}
