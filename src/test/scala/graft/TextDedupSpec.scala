package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.TextDedup

/** The reusable dedup APIs must behave like their fixed-query
  * counterparts: exact() keeps one minimum-id row per distinct text,
  * and minhashPairs() finds the planted near-duplicates (high recall
  * against brute-force shingle Jaccard) without emitting unrelated
  * pairs or a cross product. */
class TextDedupSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val dir = "/root/testdata/sf0.001"
  private lazy val docs = graft.engine.Tables.t(spark, dir, "documents")

  test("exact() keeps one minimum-id row per distinct text") {
    val kept = TextDedup.exact(docs, "doc_id", "text")
    assert(kept.count() == docs.select("text").distinct().count())
    // winners are the minimum doc_id of their text group
    val expected = docs.groupBy("text").agg(min("doc_id").as("doc_id"))
    assert(kept.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq ==
      expected.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq)
    // idempotent
    assert(TextDedup.exact(kept, "doc_id", "text").count() == kept.count())
  }

  test("incrementalDedup() classifies batch docs against the corpus with exact precedence") {
    import spark.implicits._
    val corpus = (0 until 10).map { i =>
      (i.toLong, (0 until 30).map(w => s"c${i}_$w").mkString(" "))
    }
    val corpusDf = corpus.toDF("id", "text")
    val batch = Seq(
      (100L, corpus(3)._2), // exact copy (also signature-identical → precedence check)
      (101L, corpus(5)._2.split(" ").updated(7, "CHANGED").mkString(" ")), // near dup
      (102L, (0 until 30).map(w => s"n_$w").mkString(" ")) // fresh
    ).toDF("id", "text")
    val st = TextDedup.incrementalDedup(corpusDf, batch, "id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(st.size == 3, s"one status row per batch doc, got $st")
    assert(st(100L) == "exact_dup", s"exact copy must win over near: $st")
    assert(st(101L) == "near_dup", s"planted near-dup missed: $st")
    assert(st(102L) == "keep", s"fresh doc must survive: $st")
    // judged against the corpus only: an intra-batch duplicate pair is
    // NOT flagged (both fresh rows keep)
    val intra = Seq(
      (200L, (0 until 30).map(w => s"x_$w").mkString(" ")),
      (201L, (0 until 30).map(w => s"x_$w").mkString(" "))
    ).toDF("id", "text")
    val st2 = TextDedup.incrementalDedup(corpusDf, intra, "id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(st2 == Map(200L -> "keep", 201L -> "keep"), s"got $st2")
  }

  test("incrementalDedup() on an empty batch or an empty corpus") {
    import spark.implicits._
    val corpusDf = (0 until 5).map { i =>
      (i.toLong, (0 until 30).map(w => s"c${i}_$w").mkString(" "))
    }.toDF("id", "text")
    val empty = Seq.empty[(Long, String)].toDF("id", "text")
    val noBatch = TextDedup.incrementalDedup(corpusDf, empty, "id", "text").collect()
    assert(noBatch.isEmpty, s"an empty batch has no status rows: ${noBatch.toSeq}")
    // with nothing to match, every batch row survives — including an
    // exact copy of what would have been a corpus doc
    val batch = corpusDf.union(Seq((9L, "fresh words only here for this doc")).toDF("id", "text"))
    val noCorpus = TextDedup.incrementalDedup(empty, batch, "id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(noCorpus == Seq(0L, 1L, 2L, 3L, 4L, 9L).map(_ -> "keep").toMap, s"got $noCorpus")
  }

  test("substringSpanDedup strips cross-doc duplicated spans, keeps unique remainder") {
    import spark.implicits._
    val boiler = (0 until 8).map(i => s"B$i").mkString(" ") // 8 shared tokens
    val df = Seq(
      (1L, s"u1a u1b u1c $boiler u1d u1e"),      // boiler mid-doc (pos 4..11)
      (2L, s"$boiler u2a u2b u2c u2d u2e u2f"),  // boiler at front (pos 1..8)
      (3L, "solo tokens only here nothing shared at all"), // unique → untouched
      (4L, boiler),                               // all boiler → stripped empty
      (5L, "tiny doc"),                           // shorter than window → untouched
      (6L, "rep rep rep rep rep rep rep rep rep") // INTRA-doc repeats only
    ).toDF("id", "text")
    val out = graft.operators.TextDedup
      .substringSpanDedup(df, "id", "text", window = 6, minDocs = 2)
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2), r.getString(3)))).toMap
    assert(out.size == 6, "one row per input row")
    // the three 6-token windows inside the boiler are shared by docs 1/2/4;
    // their union covers exactly the 8 boiler positions in each doc
    assert(out(1L) == ((13, 8, "u1a u1b u1c u1d u1e")), s"got ${out(1L)}")
    assert(out(2L) == ((14, 8, "u2a u2b u2c u2d u2e u2f")), s"got ${out(2L)}")
    assert(out(3L) == ((8, 0, "solo tokens only here nothing shared at all")))
    assert(out(4L) == ((8, 8, "")), s"fully-duplicated doc strips to empty: ${out(4L)}")
    assert(out(5L) == ((2, 0, "tiny doc")), "sub-window doc passes through")
    assert(out(6L)._2 == 0 && out(6L)._3 == "rep rep rep rep rep rep rep rep rep",
      "single-doc repetition is not cross-doc duplication (minDocs=2 distinct docs)")
  }

  test("incrementalDedup near tier == minhashPairs cross-split pairs (shared machinery)") {
    import spark.implicits._
    // both paths now share affineSignatures + bandKeys, so the batch ids
    // the near tier flags must be EXACTLY the batch endpoints of
    // minhashPairs(corpus ∪ batch) pairs that cross the split (ignoring
    // exact dups, which take precedence) — a drift in either path's
    // signature/banding breaks this equality
    val corpus = (0 until 25).map { i =>
      (i.toLong, (0 until 40).map(w => s"c${i}_$w").mkString(" "))
    }
    val batch = (0 until 25).map { i =>
      // a mix: near-copies of corpus docs (1 word changed), fresh docs
      if (i % 3 == 0)
        (100L + i, corpus(i)._2.split(" ").updated(11, "EDIT").mkString(" "))
      else (100L + i, (0 until 40).map(w => s"b${i}_$w").mkString(" "))
    }
    val corpusDf = corpus.toDF("id", "text")
    val batchDf = batch.toDF("id", "text")
    val flagged = TextDedup.incrementalDedup(corpusDf, batchDf, "id", "text")
      .filter(col("status") === "near_dup")
      .select("id").collect().map(_.getLong(0)).toSet
    val crossPairs = TextDedup.minhashPairs(
        corpusDf.union(batchDf), "id", "text", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .filter { case (a, b) => (a < 100) != (b < 100) } // split-crossing only
      .map { case (a, b) => math.max(a, b) } // the batch endpoint
      .toSet
    assert(flagged == crossPairs,
      s"near tier diverged from the pairwise machinery: $flagged vs $crossPairs")
    assert(flagged.nonEmpty, "fixture must plant at least one cross-split near-dup")
  }

  test("minhashPairs() finds planted near-duplicates with high recall") {
    import spark.implicits._
    // plant: 20 base docs, each with a near-duplicate (one word changed
    // out of 30) and an unrelated doc of disjoint vocabulary
    val base = (0 until 20).map { i =>
      val words = (0 until 30).map(w => s"w${i}_$w")
      (i.toLong, words.mkString(" "))
    }
    val nearDup = base.map { case (i, text) =>
      (i + 100L, text.split(" ").updated(7, "CHANGED").mkString(" "))
    }
    val unrelated = (0 until 20).map { i =>
      (i + 200L, (0 until 30).map(w => s"z${i}_$w").mkString(" "))
    }
    val df = (base ++ nearDup ++ unrelated).toDF("id", "text")
    val pairs = TextDedup.minhashPairs(df, "id", "text", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val planted = (0 until 20).map(i => (i.toLong, i + 100L)).toSet
    val recall = planted.count(pairs.contains).toDouble / planted.size
    assert(recall >= 0.8, s"recall $recall too low; found ${pairs.size} pairs")
    // nothing pairs with the disjoint-vocabulary docs
    assert(!pairs.exists { case (a, b) => a >= 200 || b >= 200 },
      "unrelated docs must not pair")
  }

  test("contamination() measures planted train-test shingle overlap exactly") {
    import spark.implicits._
    val train = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "one two three four five")).toDF("id", "text")
    val test = Seq(
      (10L, "alpha beta gamma delta epsilon"), // fully contained → 1.0
      (11L, "zeta eta theta iota kappa"),      // disjoint → 0.0
      (12L, "alpha beta gamma nine ten"),      // 1 of 3 shingles hits
      (13L, "xy yz")                            // < 3 words → absent
    ).toDF("id", "text")
    val out = TextDedup.contamination(train, test, "id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toMap
    assert(out(10L) == ((3L, 3L, 1.0)))
    assert(out(11L) == ((3L, 0L, 0.0)))
    assert(out(12L) == ((3L, 1L, 0.3333)))
    assert(!out.contains(13L), "sub-shingle-size docs have no shingles")
  }

  test("simhashPairs() pairs planted near-identical docs within the Hamming bound") {
    import spark.implicits._
    // near-identical docs share almost all token votes → tiny Hamming
    // distance; disjoint-vocabulary docs land far apart. 200 tokens
    // with one changed ≈ 0.5% perturbation: the expected 60-bit
    // Hamming distance is ~B·P(vote sum at the flip boundary)/4 ≈ 1.7,
    // comfortably inside the bound (a 40-token fixture sat at ~4 —
    // outside maxHamming=3 — because 1-in-40 is not "near-identical"
    // at 60-bit precision)
    val base = (0 until 10).map { i =>
      val words = (0 until 200).map(w => s"w${i}_$w")
      (i.toLong, words.mkString(" "))
    }
    val nearDup = base.map { case (i, text) =>
      (i + 100L, text.split(" ").updated(3, "CHANGED").mkString(" "))
    }
    val unrelated = (0 until 10).map { i =>
      (i + 200L, (0 until 40).map(w => s"z${i}_$w").mkString(" "))
    }
    val df = (base ++ nearDup ++ unrelated).toDF("id", "text")
    val rows = TextDedup.simhashPairs(df, "id", "text", maxHamming = 3).collect()
    // every reported pair honors the bound and the id ordering
    rows.foreach { r =>
      assert(r.getInt(2) <= 3 && r.getLong(0) < r.getLong(1))
    }
    val pairs = rows.map(r => (r.getLong(0), r.getLong(1))).toSet
    val planted = (0 until 10).map(i => (i.toLong, i + 100L)).toSet
    val recall = planted.count(pairs.contains).toDouble / planted.size
    assert(recall >= 0.8, s"recall $recall too low; found ${pairs.size} pairs")
    assert(!pairs.exists { case (a, b) => a >= 200 || b >= 200 },
      "disjoint-vocabulary docs must not pair")
    // signatures agree with the standalone simhash() on the same input
    val sig = TextDedup.simhash(df, "id", "text")
    assert(sig.count() == 30 && sig.select("simhash").distinct().count() > 1)
    // eager + leak-free: the signature cache is dropped before return
    spark.catalog.clearCache()
    TextDedup.simhashPairs(df, "id", "text", maxHamming = 3)
    assert(org.apache.spark.sql.classic.GraftSqlBridge.cacheIsEmpty(spark),
      "simhashPairs() must leave no entries in the CacheManager")
  }

  /** Runs `body` with each `spark.graft.*` setting in `conf`, unsetting
    * them afterwards. */
  private def withConf[T](conf: (String, String)*)(body: => T): T = {
    conf.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally conf.foreach { case (k, _) => spark.conf.unset(k) }
  }

  private type Pairs = Set[(Long, Long, Double)]

  private def pairSet(df: org.apache.spark.sql.DataFrame): Pairs =
    TextDedup.minhashPairs(df, "id", "text", threshold = 0.3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  test("minhashPairs() is formulation-invariant: join == expansion == cap-1 fallback") {
    import spark.implicits._
    // the size check picks the route: at the default broadcastMaxRows
    // these corpora take the bucket join; broadcastMaxRows=0 sends them
    // down the capped-collect expansion, and cap=1 on top of that sends
    // EVERY multi-member bucket down the over-cap self-join, proving the
    // memory cap is never a semantic filter.
    def arms(df: org.apache.spark.sql.DataFrame, cap: String): (Pairs, Pairs, Pairs) = {
      val viaJoin = pairSet(df)
      val viaExpansion = withConf("spark.graft.graph.broadcastMaxRows" -> "0")(pairSet(df))
      val viaFallback = withConf("spark.graft.graph.broadcastMaxRows" -> "0",
        "spark.graft.lsh.bucketCap" -> cap)(pairSet(df))
      (viaJoin, viaExpansion, viaFallback)
    }
    val base = (0 until 24).map { i =>
      val words = (0 until 40).map(w => s"w${i % 6}_$w")
      (i.toLong, words.updated(i % 11, s"PERTURB${i / 6}").mkString(" "))
    }
    val df = base.toDF("id", "text")
    val (viaJoin, fast, viaFallback) = arms(df, "1")
    assert(fast.nonEmpty, "fixture must produce at least one candidate pair")
    assert(fast == viaJoin, "the classic join must match the expansion")
    assert(fast == viaFallback, "cap=1 (all-fallback) must match the default path")
    // a STRING-id frame keeps the join formulation and still works
    val sdf = base.map { case (i, t) => (s"d%02d".format(i), t) }.toDF("id", "text")
    val viaString = withConf("spark.graft.graph.broadcastMaxRows" -> "0") {
      TextDedup.minhashPairs(sdf, "id", "text", threshold = 0.3)
        .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2))).toSet
    }
    assert(viaString.map { case (a, b, j) =>
      (a.drop(1).toLong, b.drop(1).toLong, j) } ==
      fast, "string-id join path must find the same pairs")
    // an empty frame: no pairs on any arm
    val (e1, e2, e3) = arms(Seq.empty[(Long, String)].toDF("id", "text"), "1")
    assert(e1.isEmpty && e2.isEmpty && e3.isEmpty, s"empty input paired: $e1 $e2 $e3")
    // one giant bucket: twelve identical texts share every band key, so
    // with cap 2 every bucket is over the cap
    val same = (0 until 30).map(w => s"g_$w").mkString(" ")
    val (g1, g2, g3) = arms((0 until 12).map(i => (i.toLong, same)).toDF("id", "text"), "2")
    assert(g1.size == 66 && g1.forall(_._3 == 1.0), s"all C(12,2) pairs at 1.0 expected: $g1")
    assert(g2 == g1 && g3 == g1, "giant bucket: expansion and cap-2 fallback must match the join")
  }

  test("minhashPairs() on duplicate ids with identical text: expansion == join, no self-pairs") {
    import spark.implicits._
    // every id appears twice with the same text, so each bucket holds
    // the id twice; the expansion must not pair an id with itself
    val texts = (0 until 12).map { i =>
      (i.toLong, (0 until 30).map(w => s"c${i % 3}_$w").mkString(" "))
    }
    val df = (texts ++ texts).toDF("id", "text")
    val expanded = withConf("spark.graft.graph.broadcastMaxRows" -> "0")(pairSet(df))
    val viaJoin = pairSet(df)
    assert(expanded.nonEmpty, "fixture must produce candidate pairs")
    assert(expanded.forall { case (a, b, _) => a < b }, s"self or unordered pairs: $expanded")
    assert(expanded == viaJoin, "the classic join must match the expansion")
  }
}
