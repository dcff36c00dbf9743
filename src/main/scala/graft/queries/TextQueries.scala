package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.engine.Tables.t

/** Training-data text pipeline: deduplication (exact, MinHash+LSH,
  * SimHash, n-gram Jaccard), language ID, quality scoring, token
  * counting, fingerprinting — the large-scale-corpus operators layered
  * on top of the reference's OLAP surface (BASELINE.json north star).
  *
  * Scale posture: every op is a pure per-row transform plus hash-key
  * aggregations/joins — embarrassingly parallel at 100 TB. The pairwise
  * variants (t8) block on shared shingles, and the LSH variants (t6) are
  * the subquadratic path: candidate pairs only within equal band
  * buckets, so the shuffle carries band keys, never the cross product.
  */
object TextQueries {

  /** Raw (doc_id, g) 3-word shingles, duplicates INCLUDED, capped at
    * the first 1000 per doc — the SAME cap as the oracles'
    * generate_series bound, which must stay in lockstep. Shared by the
    * exact-Jaccard (t8) and MinHash (t6) pipelines so the cap and
    * shingle shape can never diverge between them; the expansion itself
    * is [[graft.operators.TextDedup.shingleRows]], which also spreads a
    * one-task scan over every core. Set semantics (the oracles'
    * DISTINCT) live downstream of the hash: the signature path's
    * `MIN(affine(h))` is duplicate-idempotent, and the t8 path dedupes on
    * the 8-byte hash instead of the ~40-byte string. */
  private def shingleStrings(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    graft.operators.TextDedup.shingleRows(docs, "doc_id", "text", 3, 1000)
      .select(col("__id").as("doc_id"), col("__g").as("g"))

  /** Distinct (doc_id, gh) 64-bit shingle hashes for the t8 inverted
    * index. Dedup is on the hash, not the string (the index, the
    * per-doc counts, and the pair intersections are already keyed by
    * this hash, so string-level dedup bought nothing the hash level
    * doesn't — collision odds ≈ 2e-9 stated at the call site). */
  private def shingles(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    shingleStrings(docs).select(col("doc_id"), xxhash64(col("g")).as("gh")).distinct()

  /** Engine-portable 60-bit hash: first 15 hex chars of md5, as BIGINT.
    * Spark `conv(substr(md5(x),1,15),16,10)` ≡ DuckDB
    * `('0x'||substr(md5(x),1,15))::BIGINT` — the key that lets the LSH
    * family (t6/t7/v2) be replayed by the SQL oracle instead of sitting
    * in the rows-only bucket. */
  private[queries] def mdHash(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    graft.operators.TextDedup.mdHash(c)

  /** Exact dedup: hash-groupBy on content (keep lowest doc_id). */
  val dedupExact: Q = Q(
    "t1_dedup_exact",
    """SELECT md5(text) AS fp, MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
      |FROM documents GROUP BY md5(text) ORDER BY fp""".stripMargin) { (s, dir) =>
    t(s, dir, "documents")
      .groupBy(md5(col("text")).as("fp"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      .orderBy("fp")
  }

  /** Token counting: whitespace tokens + distinct tokens + char stats. */
  val tokenStats: Q = Q(
    "t2_token_stats",
    """SELECT doc_id,
      |  CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
      |  CAST(len(list_distinct(string_split(text, ' '))) AS INT) AS n_distinct,
      |  CAST(length(text) AS INT) AS n_chars,
      |  FLOOR(CAST(length(replace(text, ' ', '')) AS DOUBLE)
      |    / len(string_split(text, ' ')) * 10000 + 0.5) / 10000 AS avg_token_len
      |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
    import graft.operators.TextAnalysis._
    t(s, dir, "documents")
      .select(col("doc_id"),
        tokenCount(col("text")).as("n_tokens"),
        distinctTokenCount(col("text")).as("n_distinct"),
        length(col("text")).as("n_chars"),
        avgTokenLength(col("text")).as("avg_token_len"))
      .orderBy("doc_id")
  }

  /** Language ID: marker-word n-gram heuristic (occurrence counting via
    * length-difference; argmax with deterministic tie order). */
  val langId: Q = Q(
    "t3_lang_id",
    """WITH p AS (SELECT doc_id, lang, ' ' || text || ' ' AS pt FROM documents),
      |scores AS (SELECT doc_id, lang,
      |  (length(pt) - length(replace(pt, ' the ', ''))) / 5 AS s_en,
      |  (length(pt) - length(replace(pt, ' el ', ''))) / 4
      |    + (length(pt) - length(replace(pt, ' la ', ''))) / 4 AS s_es,
      |  (length(pt) - length(replace(pt, ' der ', ''))) / 5
      |    + (length(pt) - length(replace(pt, ' und ', ''))) / 5 AS s_de,
      |  (length(pt) - length(replace(pt, ' le ', ''))) / 4
      |    + (length(pt) - length(replace(pt, ' et ', ''))) / 4 AS s_fr
      |  FROM p)
      |SELECT doc_id, lang,
      |  CASE WHEN s_es > s_en AND s_es >= s_de AND s_es >= s_fr THEN 'es'
      |       WHEN s_de > s_en AND s_de > s_es AND s_de >= s_fr THEN 'de'
      |       WHEN s_fr > s_en AND s_fr > s_es AND s_fr > s_de THEN 'fr'
      |       ELSE 'en' END AS pred_lang
      |FROM scores ORDER BY doc_id""".stripMargin) { (s, dir) =>
    t(s, dir, "documents")
      .select(col("doc_id"), col("lang"),
        graft.operators.TextAnalysis.langId(col("text")).as("pred_lang"))
      .orderBy("doc_id")
  }

  /** Quality scoring: length / punctuation / stopword / repetition ratios. */
  val quality: Q = Q(
    "t4_quality_score",
    """WITH f AS (SELECT doc_id,
      |    CAST(length(text) AS DOUBLE) AS n_chars,
      |    CAST(len(string_split(text, ' ')) AS DOUBLE) AS n_tokens,
      |    CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE) AS n_distinct,
      |    CAST(length(text) - length(regexp_replace(text, '[^a-z ]', '', 'g')) AS DOUBLE) AS n_nonalpha,
      |    CAST((length(' ' || text || ' ') - length(replace(' ' || text || ' ', ' the ', ''))) / 5 AS DOUBLE) AS n_stop
      |  FROM documents)
      |SELECT doc_id,
      |  FLOOR(n_distinct / n_tokens * 10000 + 0.5) / 10000 AS diversity,
      |  FLOOR(n_nonalpha / n_chars * 10000 + 0.5) / 10000 AS noise_ratio,
      |  FLOOR(n_stop / n_tokens * 10000 + 0.5) / 10000 AS stopword_ratio,
      |  FLOOR((0.5 * (n_distinct / n_tokens) + 0.3 * (1.0 - n_nonalpha / n_chars)
      |    + 0.2 * LEAST(n_tokens / 100.0, 1.0)) * 10000 + 0.5) / 10000 AS quality
      |FROM f ORDER BY doc_id""".stripMargin) { (s, dir) =>
    import graft.operators.TextAnalysis._
    t(s, dir, "documents")
      .select(col("doc_id"),
        diversity(col("text")).as("diversity"),
        noiseRatio(col("text")).as("noise_ratio"),
        stopwordRatio(col("text")).as("stopword_ratio"),
        qualityScore(col("text")).as("quality"))
      .orderBy("doc_id")
  }

  /** Document fingerprinting: md5 over whitespace-normalized lowercase
    * content (the rolling-hash canonical form). */
  val fingerprint: Q = Q(
    "t5_fingerprint",
    """SELECT doc_id,
      |  md5(lower(regexp_replace(trim(text), ' +', ' ', 'g'))) AS fp,
      |  substr(md5(lower(regexp_replace(trim(text), ' +', ' ', 'g'))), 1, 8) AS fp_short
      |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val fp = graft.operators.TextAnalysis.fingerprint(col("text"))
    t(s, dir, "documents")
      .select(col("doc_id"), fp.as("fp"),
        substring(fp, 1, 8).as("fp_short"))
      .orderBy("doc_id")
  }

  /** N-gram Jaccard near-dup pairs: distinct 3-word shingles, blocked
    * self-join on shared shingle, |A∩B| / |A∪B| ≥ 0.5. The shared-shingle
    * join IS the blocking — no cross product ever materializes — and a
    * document-frequency cap (shingles in > 100 docs are dropped before
    * the join) bounds the worst key: without it one stop-shingle in k
    * docs contributes k² candidate rows, the classic blocked-join skew
    * tail. Both engines apply the same 1000-shingles-per-doc and DF-100
    * caps (oracle CTEs in lockstep), and both round with the floor
    * half-up idiom — ROUND(x,4) diverges across engines on 5th-decimal
    * halves, which integer-ratio Jaccards land on. */
  val ngramJaccard: Q = Q(
    "t8_ngram_jaccard",
    s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |sh AS (SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS g
      |       FROM w, generate_series(1, 1000) t(i) WHERE i <= len(ws) - 2),
      |keep AS (SELECT g FROM sh GROUP BY g HAVING COUNT(*) <= 100),
      |shk AS (SELECT sh.doc_id, sh.g FROM sh JOIN keep ON sh.g = keep.g),
      |cnt AS (SELECT doc_id, COUNT(*) AS n FROM shk GROUP BY doc_id),
      |inter AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS nb
      |          FROM shk a JOIN shk b ON a.g = b.g AND a.doc_id < b.doc_id
      |          GROUP BY 1, 2)
      |SELECT a_id, b_id,
      |  ${Num.oraR4("CAST(nb AS DOUBLE) / (ca.n + cb.n - nb)")} AS jaccard
      |FROM inter
      |JOIN cnt ca ON ca.doc_id = a_id
      |JOIN cnt cb ON cb.doc_id = b_id
      |WHERE ${Num.oraR4("CAST(nb AS DOUBLE) / (ca.n + cb.n - nb)")} >= 0.5
      |ORDER BY a_id, b_id""".stripMargin) { (s, dir) =>
    // shuffle 64-bit shingle hashes, not strings (collision odds over
    // ~3e5 distinct shingles ≈ 2e-9 — far below the gate's noise floor)
    implicit val sp: org.apache.spark.sql.SparkSession = s
    val sh = shingles(t(s, dir, "documents"))
    // ONE shuffle by shingle hash builds the DF-capped inverted index
    // via the native capped aggregate: a key's buffer holds at most 100
    // doc ids and a saturating count, so a mega-hot stop-shingle in 10M
    // docs costs O(cap) state in one task instead of a 10M-element
    // collect_list array (the round-4 verdict's last headline
    // scale-killer), and over-cap keys surface as NULL and are dropped —
    // same semantics as the oracle's HAVING COUNT(*) <= 100 CTE. Pairs
    // are then expanded in-place per posting list (≤ C(100,2) per
    // shingle; the least/greatest normalization makes the expansion
    // insensitive to the list's arbitrary merge order).
    val kept = sh.groupBy("gh")
      .agg(graft.functions.CappedLongCollectList
        .cappedCollectList(col("doc_id"), 100).as("ds"))
      .filter(col("ds").isNotNull)
      .persist()
    // per-doc surviving-shingle count: singleton lists still count here,
    // they just produce no pairs below
    val cnt = kept.select(explode(col("ds")).as("doc_id"))
      .groupBy("doc_id").agg(count(lit(1)).as("n"))
    val pairs = kept.filter(size(col("ds")) >= 2).select(explode(expr(
      """flatten(transform(sequence(0, size(ds) - 2),
        |  i -> transform(sequence(i + 1, size(ds) - 1),
        |    j -> struct(least(ds[i], ds[j]) AS a, greatest(ds[i], ds[j]) AS b))))""".stripMargin))
      .as("p"))
      .select(col("p.a").as("a_id"), col("p.b").as("b_id"))
    val inter = pairs.groupBy("a_id", "b_id").agg(count(lit(1)).as("nb"))
    // r21 (guide §3.1): the two count arms are doc-bounded while `inter`
    // is pair-sized — without the hint the planner sort-merges (cnt's
    // cache-derived estimate is opaque) and the PAIR table pays two
    // exchanges+sorts. One parquet-footer count gates the broadcast; a
    // corpus beyond the cap keeps the shuffle joins. The cap is the
    // shared size-conditional-broadcast knob (r22, advice): one conf
    // governs every hint of this class.
    val docBcast = t(s, dir, "documents").count() <=
      graft.operators.Graph.broadcastMaxRows(s)
    def cntSide(df: org.apache.spark.sql.DataFrame) =
      if (docBcast) broadcast(df) else df
    val ca = cntSide(cnt.select(col("doc_id").as("ca_id"), col("n").as("na")))
    val cb = cntSide(cnt.select(col("doc_id").as("cb_id"), col("n").as("nbb")))
    val jac = Num.r4(col("nb").cast(DoubleType) / (col("na") + col("nbb") - col("nb")))
    inter.join(ca, col("a_id") === col("ca_id"))
      .join(cb, col("b_id") === col("cb_id"))
      .select(col("a_id"), col("b_id"), jac.as("jaccard"))
      .filter(col("jaccard") >= 0.5)
      .orderBy("a_id", "b_id")
  }

  /** MinHash + LSH near-dup candidates: k=8 signature over 3-word
    * shingles, 4 bands × 2 rows; pairs sharing any band bucket, scored
    * by signature agreement ≥ 0.5. The shuffle key is
    * (band, h_even, h_odd) — subquadratic at corpus scale — and the band
    * rows come from ONE posexplode pass over the cached signature table.
    *
    * Permutation family: ONE md5 per shingle (its first 60 bits split
    * into two 30-bit halves h1/h2), then k affine rehashes
    * `(a_i*h1 + b_i*h2 + c_i) mod (2^61-1)`. Products stay under 2^61 so
    * the arithmetic is overflow-free 64-bit in both engines, which keeps
    * the pipeline SQL-replayable — and it is 8× cheaper than the
    * round-3 version that ran a full md5 per (seed, shingle) pair
    * (t6 bench 5.7 s → back near its pre-oracle 1.1 s). */
  private val lshK = 8
  private val lshM61 = (1L << 61) - 1 // Mersenne prime 2^61-1
  // fixed per-permutation multipliers/offsets, all < 2^31
  private val lshSeeds: Seq[(Long, Long, Long)] = (0 until lshK).map { i =>
    ((i + 1) * 1000000007L % 2147483647L,
     (i + 1) * 998244353L % 2147483647L,
     (i + 1) * 777767777L % 2147483647L)
  }

  /** Oracle CTE block ending in `pairs(a_id, b_id, est_jaccard)` — the
    * exact SQL replay of [[lshPairs]], shared by the t6 and t19 oracles
    * so the edge set can never diverge between them. */
  /** Per-pair signature agreement / band-collision SQL fragments over
    * aliases `sa`/`sb` — shared by the t6/t19 pair CTE and the t26
    * incremental (batch-vs-corpus) near tier. */
  private val lshOracleAgree: String = (0 until lshK)
    .map(i => s"CASE WHEN sa.h$i = sb.h$i THEN 1 ELSE 0 END").mkString(" + ")
  private val lshOracleBands: String = (0 until 4)
    .map(b => s"(sa.h${2 * b} = sb.h${2 * b} AND sa.h${2 * b + 1} = sb.h${2 * b + 1})")
    .mkString(" OR ")

  /** Oracle CTE prefix ending in `sig(doc_id, h0..h{k-1})` — the exact
    * SQL replay of [[lshSignatures]], shared by every LSH-family oracle
    * so the signature construction can never diverge between them. */
  private val lshSigCtes: String = {
    val oracleSigCols = lshSeeds.zipWithIndex.map { case ((a, b, c), i) =>
      s"MIN((($a * h1) + ($b * h2) + $c) % $lshM61) AS h$i"
    }.mkString(",\n        ")
    s"""w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |sh AS (SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS g
      |       FROM w, generate_series(1, 1000) t(i) WHERE i <= len(ws) - 2),
      |hh AS (SELECT doc_id, (h >> 30) AS h1, (h & 1073741823) AS h2 FROM
      |         (SELECT doc_id, ('0x' || substr(md5(g), 1, 15))::BIGINT AS h FROM sh)),
      |sig AS (SELECT doc_id,
      |        $oracleSigCols
      |        FROM hh GROUP BY doc_id)""".stripMargin
  }

  private val lshOracleCtes: String =
    s"""$lshSigCtes,
      |pairs AS (SELECT sa.doc_id AS a_id, sb.doc_id AS b_id,
      |    ${Num.oraR4(s"($lshOracleAgree) / ${lshK}.0")} AS est_jaccard
      |  FROM sig sa JOIN sig sb ON sa.doc_id < sb.doc_id AND ($lshOracleBands)
      |  WHERE ${Num.oraR4(s"($lshOracleAgree) / ${lshK}.0")} >= 0.5)""".stripMargin

  /** (doc_id, h0..h{k-1}) affine-minhash signatures over the md5-derived
    * 60-bit shingle hashes — the Spark twin of the `sig` CTE in
    * [[lshSigCtes]]. */
  private[queries] def lshSignatures(
      s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    val hh = shingleStrings(t(s, dir, "documents"))
      .select(col("doc_id"), mdHash(col("g")).as("h"))
      .select(col("doc_id"), shiftright(col("h"), 30).as("h1"),
        col("h").bitwiseAND(lit((1L << 30) - 1)).as("h2"))
    val sigCols = lshSeeds.zipWithIndex.map { case ((a, b, c), i) =>
      min((lit(a) * col("h1") + lit(b) * col("h2") + lit(c)) % lit(lshM61)).as(s"h$i")
    }
    hh.groupBy("doc_id").agg(sigCols.head, sigCols.tail: _*)
  }

  /** t6's four band keys: (band, he, ho) = band index and its two
    * signature minima. */
  private def lshBands: Seq[org.apache.spark.sql.Column] = (0 until 4).map(b =>
    struct(col(s"h${2 * b}").as("he"), col(s"h${2 * b + 1}").as("ho")))

  private def lshHashCols: Seq[String] = (0 until lshK).map(i => s"h$i")

  /** MinHash+LSH near-dup pairs (unordered): signature build, then
    * [[graft.operators.BandedPairs]] candidates and full-signature
    * verification. Shared by t6 (pair listing) and t19 (connected
    * components over these pairs as edges). */
  private[graft] def lshPairs(
      s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    val sig = lshSignatures(s, dir).persist()
    val cand = graft.operators.BandedPairs.selfPairs(
      sig, "doc_id", "band", lshBands, "a_id", "b_id")
    graft.operators.BandedPairs.agreement(cand, sig, sig, "doc_id", lshHashCols, "a_id", "b_id")
      .select(col("a_id"), col("b_id"),
        Num.r4(col("agree").cast(DoubleType) / lshK).as("est_jaccard"))
      .filter(col("est_jaccard") >= 0.5)
  }

  val minhashLsh: Q = Q(
    "t6_minhash_lsh",
    s"""WITH $lshOracleCtes
      |SELECT a_id, b_id, est_jaccard FROM pairs
      |ORDER BY a_id, b_id""".stripMargin) { (s, dir) =>
    lshPairs(s, dir).orderBy("a_id", "b_id")
  }

  /** Near-dup CLUSTERS: connected components over the t6 LSH pair graph
    * by distributed min-label propagation — each iteration joins the
    * symmetric edge list to the current labels, takes the per-node
    * minimum neighbor label, and repeats to fixpoint (O(component
    * diameter) rounds, every round a pure shuffle join — the
    * small-star/large-star family's simplest member, scale-safe because
    * nothing ever leaves the cluster). The canonical keeper per cluster
    * is the minimum doc_id — the dedup decision a corpus pipeline
    * actually ships. Oracle replays the same edges (shared CTE block)
    * and closes them with a recursive CTE. */
  val neardupComponents: Q = Q(
    "t19_neardup_components",
    s"""WITH RECURSIVE $lshOracleCtes,
      |eb AS (SELECT a_id AS s, b_id AS d FROM pairs
      |       UNION ALL SELECT b_id, a_id FROM pairs),
      |r AS (
      |  SELECT doc_id, doc_id AS comp FROM documents
      |  UNION
      |  SELECT eb.d AS doc_id, r.comp FROM r JOIN eb ON eb.s = r.doc_id
      |)
      |SELECT doc_id, MIN(comp) AS comp_id,
      |  CASE WHEN MIN(comp) = doc_id THEN 1 ELSE 0 END AS is_canonical
      |FROM r GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
    // [[TextDedup.components]] persists the pair list internally (it
    // references it four times — symmetric + self-loop edges — and each
    // unpersisted reference would re-evaluate the whole LSH candidate
    // pipeline), runs eagerly, and unpersists before returning, so this
    // call site holds no cache of its own. The propagation (iterate
    // edge-touching nodes only, localCheckpoint lineage truncation,
    // one-job-per-round in-shuffle convergence, loud non-convergence
    // failure) lives in the reusable API; singletons rejoin via the
    // left join below.
    val e = lshPairs(s, dir).select(col("a_id"), col("b_id"))
    val comps = graft.operators.TextDedup.components(e, "a_id", "b_id", maxIters = 20)
    // r21 optimization (guide §3.1): the label table is bounded by docs
    // incident to a near-dup pair — normally a sliver of the corpus —
    // while the left side is every document; broadcasting it removes
    // both exchanges + sorts of the closing SortMergeJoin (the corpus
    // side then never shuffles). Size-conditional, not unconditional:
    // the count is one cheap job over the loop's final checkpoint, and
    // a pathological everything-is-a-dup corpus (labels ≈ corpus) keeps
    // the shuffle join rather than an 8-GB broadcast.
    val compsNarrow = comps.select(col("id").as("lid"), col("componentId").as("comp"))
    val compsJoinable =
      if (comps.count() <= graft.operators.Graph.broadcastMaxRows(s))
        broadcast(compsNarrow)
      else compsNarrow
    t(s, dir, "documents").select(col("doc_id"))
      .join(compsJoinable,
        col("doc_id") === col("lid"), "left")
      .select(col("doc_id"),
        coalesce(col("comp"), col("doc_id")).as("comp_id"),
        when(coalesce(col("comp"), col("doc_id")) === col("doc_id"), 1)
          .otherwise(0).as("is_canonical"))
      .orderBy("doc_id")
  }

  /** SimHash: 60-bit signature from token hashes (per-bit ±1 vote).
    * Token hash = first 60 bits of md5, which both engines compute
    * identically (`conv(substr(md5,1,15),16,10)` here,
    * `('0x'||substr(md5,1,15))::BIGINT` in DuckDB) — that makes the
    * whole signature SQL-replayable, so this moved from rows-only to the
    * hash-exact gate. 60 bits (the hash's full entropy) rather than 32:
    * the sf10 soak showed 8-bit band keys collapsing into ~2000-doc
    * buckets and going quadratic; 15-bit bands keep the blocking
    * subquadratic AND cut the false-positive mass (at sf0.01 the 32-bit
    * variant reported 1327 "near-dup" pairs against ~30 true planted
    * ones — at 9.4% relative Hamming, same-language docs collide). */
  /** Shared oracle CTE block ending in `sig(doc_id, simhash)` — the SQL
    * replay of [[simhashDf]], shared by the t7 and t21 oracles. */
  private val simhashOracleCtes: String =
    """tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
      |h AS (SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h
      |      FROM tok WHERE len(tok) > 0),
      |votes AS (SELECT doc_id, i,
      |            SUM(CASE WHEN (h >> i) & 1 = 1 THEN 1 ELSE -1 END) AS v
      |          FROM h, generate_series(0, 59) t(i) GROUP BY doc_id, i),
      |sig AS (SELECT doc_id,
      |    CAST(SUM(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << i) ELSE 0 END) AS BIGINT) AS simhash
      |  FROM votes GROUP BY doc_id)""".stripMargin

  /** 60-bit SimHash signature per doc (shared by t7 and t21) — the
    * library API pointed at the documents table. */
  private[queries] def simhashDf(
      s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    graft.operators.TextDedup.simhash(t(s, dir, "documents"), "doc_id", "text")

  val simhash: Q = Q(
    "t7_simhash",
    s"""WITH $simhashOracleCtes
      |SELECT doc_id, simhash FROM sig ORDER BY doc_id""".stripMargin) { (s, dir) =>
    simhashDf(s, dir).orderBy("doc_id")
  }

  /** SimHash near-dup pairing — the missing half of t7: band blocking
    * (split the 60-bit signature into 4 15-bit bands; by pigeonhole,
    * two signatures within Hamming distance 3 share at least one whole
    * band) generates candidates on an equi shuffle key, then the exact
    * Hamming distance (`bit_count(xor)`) verifies. Subquadratic like
    * t6, but with a constant-size signature instead of a k-MinHash
    * vector — the Google-crawl dedup design (Manku et al., WWW'07). */
  val simhashNearDup: Q = Q(
    "t21_simhash_neardup",
    s"""WITH $simhashOracleCtes,
      |bands AS (SELECT doc_id, simhash, b, (simhash >> (b * 15)) & 32767 AS bk
      |          FROM sig, generate_series(0, 3) t(b)),
      |cand AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
      |           a.simhash AS sa, b.simhash AS sb
      |         FROM bands a JOIN bands b
      |           ON a.b = b.b AND a.bk = b.bk AND a.doc_id < b.doc_id)
      |SELECT a_id, b_id, CAST(bit_count(xor(sa, sb)) AS INT) AS hamming
      |FROM cand WHERE bit_count(xor(sa, sb)) <= 3
      |ORDER BY a_id, b_id""".stripMargin) { (s, dir) =>
    graft.operators.TextDedup
      .simhashPairs(t(s, dir, "documents"), "doc_id", "text", maxHamming = 3)
      .select(col("idA").as("a_id"), col("idB").as("b_id"), col("hamming"))
      .orderBy("a_id", "b_id")
  }

  /** Content-hash train/test split: md5-derived bucket is stable across
    * engines, machines, and reshuffles — the property a training
    * pipeline needs so the split never leaks when data is re-ingested. */
  val trainTestSplit: Q = Q(
    "t9_train_test_split",
    """SELECT CASE WHEN substr(md5(text), 1, 1) IN ('0','1','2','3','4','5','6','7','8','9','a','b')
      |            THEN 'train' ELSE 'test' END AS split,
      |  lang, COUNT(*) AS n_docs,
      |  CAST(SUM(n_chars) AS BIGINT) AS total_chars
      |FROM documents GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, dir) =>
    t(s, dir, "documents")
      .select(
        graft.operators.Sampling.contentSplit(col("text")).as("split"),
        col("lang"), col("n_chars"))
      .groupBy("split", "lang")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"))
      .orderBy("split", "lang")
  }

  /** Vocabulary building: token frequencies, top 20 with deterministic
    * tiebreak — the explode→count→top-k shape that at corpus scale runs
    * as partial counts + a single small final top-k. */
  val vocab: Q = Q(
    "t10_vocab_topk",
    """SELECT word, COUNT(*) AS freq
      |FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents) w
      |WHERE length(word) > 0
      |GROUP BY word ORDER BY freq DESC, word LIMIT 20""".stripMargin) { (s, dir) =>
    t(s, dir, "documents")
      .select(explode(split(col("text"), " ")).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy("word")
      .agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("word"))
      .limit(20)
  }

  /** Sequence-packing stats: docs bucketed by token length, with the
    * per-bucket token mass that drives packing efficiency. */
  val lengthBuckets: Q = Q(
    "t11_length_buckets",
    """WITH tok AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      |             FROM documents)
      |SELECT CAST(n_tokens // 16 * 16 AS BIGINT) AS bucket_start,
      |  COUNT(*) AS n_docs,
      |  CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
      |  CAST(MAX(n_tokens) AS BIGINT) AS max_tokens
      |FROM tok GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
    t(s, dir, "documents")
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("n_tokens"))
      .select((expr("n_tokens div 16") * 16).as("bucket_start"), col("n_tokens"))
      .groupBy("bucket_start")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        max(col("n_tokens")).as("max_tokens"))
      .orderBy("bucket_start")
  }

  /** BPE-ish tokenization: alpha runs / digit runs / single punctuation
    * as separate tokens (the pre-tokenizer shape real BPE vocabularies
    * use), counted per doc next to the whitespace count. */
  val bpeTokens: Q = Q(
    "t12_bpe_tokens",
    """SELECT doc_id,
      |  CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS INT) AS n_bpe_tokens,
      |  CAST(len(string_split(text, ' ')) AS INT) AS n_ws_tokens,
      |  CAST(len(regexp_extract_all(text, '[0-9]+')) AS INT) AS n_number_runs
      |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
    t(s, dir, "documents")
      .select(col("doc_id"),
        size(expr("regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)")).as("n_bpe_tokens"),
        size(split(col("text"), " ")).as("n_ws_tokens"),
        size(expr("regexp_extract_all(text, '[0-9]+', 0)")).as("n_number_runs"))
      .orderBy("doc_id")
  }

  /** Sequence packing: documents concatenated in doc_id order into
    * fixed-capacity bins (4096 chars), per source shard — the standard
    * pre-training packing pass. Per-shard windows keep it distributed:
    * PARTITION BY source means each shard's running sum is one task,
    * never a global single-partition sort. Bin id is the integer
    * prefix-sum division, exact in both engines. */
  val seqPacking: Q = Q(
    "t13_seq_packing",
    s"""WITH o AS (SELECT source, doc_id, n_chars,
      |    SUM(n_chars) OVER (PARTITION BY source ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prefix
      |  FROM documents),
      |b AS (SELECT source, n_chars, CAST((prefix - n_chars) // 4096 AS BIGINT) AS bin FROM o)
      |SELECT source, bin, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
      |  ${Num.oraR4("CAST(SUM(n_chars) AS DOUBLE) / 4096")} AS fill_ratio
      |FROM b GROUP BY source, bin ORDER BY source, bin""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("source").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t(s, dir, "documents")
      .select(col("source"), col("doc_id"), col("n_chars"))
      .withColumn("prefix", sum(col("n_chars")).over(w))
      .withColumn("bin", expr("(prefix - n_chars) div 4096"))
      .groupBy("source", "bin")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        Num.r4(sum(col("n_chars")).cast(DoubleType) / 4096).as("fill_ratio"))
      .orderBy("source", "bin")
  }

  /** Train/test contamination: for each test document (t9's md5 content
    * split), the fraction of its 3-word shingles that appear anywhere in
    * the train split. The cross-set analog of t8's pairwise Jaccard —
    * the check a training pipeline runs before trusting held-out data.
    * Shuffles 60-bit shingle hashes; the train shingle set is a
    * distinct-deduped build side, never a cross product. */
  val contamination: Q = Q(
    "t14_contamination",
    s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |sh AS (SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS g
      |       FROM w, generate_series(1, 1000) t(i) WHERE i <= len(ws) - 2),
      |lbl AS (SELECT doc_id,
      |    CASE WHEN substr(md5(text), 1, 1) IN ('0','1','2','3','4','5','6','7','8','9','a','b')
      |         THEN 'train' ELSE 'test' END AS split
      |  FROM documents),
      |tr AS (SELECT DISTINCT g FROM sh JOIN lbl USING (doc_id) WHERE split = 'train'),
      |te AS (SELECT sh.doc_id, sh.g FROM sh JOIN lbl USING (doc_id) WHERE split = 'test'),
      |hit AS (SELECT te.doc_id, COUNT(*) AS n_sh,
      |          SUM(CASE WHEN tr.g IS NOT NULL THEN 1 ELSE 0 END) AS n_hit
      |        FROM te LEFT JOIN tr ON te.g = tr.g GROUP BY te.doc_id)
      |SELECT doc_id, CAST(n_sh AS BIGINT) AS n_shingles,
      |  CAST(n_hit AS BIGINT) AS n_in_train,
      |  ${Num.oraR4("CAST(n_hit AS DOUBLE) / n_sh")} AS contamination
      |FROM hit ORDER BY doc_id""".stripMargin) { (s, dir) =>
    // content-hash split (as t9), then the library check: 60-bit shingle
    // hashes on the shuffle, distinct-deduped train set, hit-tagging
    // left join — each disjoint half shingles exactly once
    val docs = t(s, dir, "documents")
      .withColumn("split", graft.operators.Sampling.contentSplit(col("text")))
    graft.operators.TextDedup.contamination(
        docs.filter(col("split") === "train"),
        docs.filter(col("split") === "test"),
        "doc_id", "text")
      .orderBy("doc_id")
  }

  /** Deterministic stratified downsampling: per-language keep rates
    * applied through a content-hash bucket (md5 mod 100), so the sample
    * is identical across engines, machines, and re-ingests — `rand()`
    * sampling is not reproducible and leaks across reshuffles, the same
    * reason t9's split hashes content. Pure per-row filter: scales as a
    * scan. */
  val stratifiedSample: Q = Q(
    "t15_stratified_sample",
    """WITH b AS (SELECT doc_id, lang, n_chars,
      |    ('0x' || substr(md5(text), 1, 15))::BIGINT % 100 AS bucket
      |  FROM documents),
      |kept AS (SELECT * FROM b
      |  WHERE bucket < CASE WHEN lang = 'en' THEN 100
      |                      WHEN lang = 'de' THEN 50 ELSE 25 END)
      |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_kept,
      |  CAST(SUM(n_chars) AS BIGINT) AS kept_chars,
      |  CAST(MIN(doc_id) AS BIGINT) AS first_doc
      |FROM kept GROUP BY lang ORDER BY lang""".stripMargin) { (s, dir) =>
    val rate = when(col("lang") === "en", 100)
      .when(col("lang") === "de", 50).otherwise(25)
    t(s, dir, "documents")
      .filter(graft.operators.Sampling.stratifiedKeep(col("text"), rate))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_kept"), sum(col("n_chars")).as("kept_chars"),
        min(col("doc_id")).as("first_doc"))
      .orderBy("lang")
  }

  /** CCNet-style sub-document dedup: split each doc into DISJOINT
    * 8-word blocks (the "paragraph" unit in this corpus — the text has
    * no newlines), count how many of a doc's blocks also occur in some
    * OTHER doc, and report the duplicate-block fraction. This is the
    * boilerplate-removal primitive large corpus pipelines run before
    * near-dup detection; unlike t8's overlapping shingles it is linear
    * in corpus size (one block per 8 words, one shuffle on the block
    * key). Block cap 125 (= the same 1000-word budget as the t6/t8
    * shingle cap), in lockstep with the oracle's generate_series bound. */
  val blockDedup: Q = {
    val blkConcat = (1 to 8).map(k => s"ws[i*8+$k]").mkString(" || ' ' || ")
    Q(
      "t16_block_dedup",
      s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |b AS (SELECT doc_id, $blkConcat AS blk
        |      FROM w, generate_series(0, 124) t(i) WHERE (i+1)*8 <= len(ws)),
        |df AS (SELECT blk, COUNT(DISTINCT doc_id) AS d FROM b GROUP BY blk),
        |pd AS (SELECT b.doc_id, COUNT(*) AS n_blocks,
        |         SUM(CASE WHEN df.d > 1 THEN 1 ELSE 0 END) AS dup_blocks
        |       FROM b JOIN df ON b.blk = df.blk GROUP BY b.doc_id)
        |SELECT doc_id, CAST(n_blocks AS BIGINT) AS n_blocks,
        |  CAST(dup_blocks AS BIGINT) AS dup_blocks,
        |  ${Num.oraR4("dup_blocks * 1.0 / n_blocks")} AS dup_frac
        |FROM pd ORDER BY doc_id""".stripMargin) { (s, dir) =>
      // persisted: the block table feeds both the DF branch and the join
      // probe side — one shingling pass, not two (same discipline as t8)
      val blk = t(s, dir, "documents")
        .select(col("doc_id"), split(col("text"), " ").as("ws"))
        .filter(size(col("ws")) >= 8)
        .select(col("doc_id"), explode(expr(
          """transform(sequence(0, least(size(ws) div 8 - 1, 124)),
            |  i -> concat_ws(' ', slice(ws, i*8+1, 8)))""".stripMargin)).as("blk"))
        .persist()
      val df = blk.groupBy("blk").agg(countDistinct(col("doc_id")).as("d"))
      blk.join(df, "blk")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_blocks"),
          sum(when(col("d") > 1, 1L).otherwise(0L)).as("dup_blocks"))
        .select(col("doc_id"), col("n_blocks"), col("dup_blocks"),
          Num.r4(col("dup_blocks").cast(DoubleType) / col("n_blocks")).as("dup_frac"))
        .orderBy("doc_id")
    }
  }

  /** Gopher-style repetition filter: per-doc top-token frequency ratio
    * and distinct-token ratio; docs whose single most frequent token
    * exceeds 15% of all tokens are flagged repetitive. Pure
    * groupBy(doc, token) → groupBy(doc): two partial-agg shuffles keyed
    * by doc, no joins — scales as a scan. */
  val repetitionScore: Q = Q(
    "t17_repetition_score",
    s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tk FROM documents),
      |c AS (SELECT doc_id, tk, COUNT(*) AS n FROM tok WHERE len(tk) > 0 GROUP BY 1, 2),
      |d AS (SELECT doc_id, CAST(SUM(n) AS BIGINT) AS n_tokens,
      |        CAST(COUNT(*) AS BIGINT) AS n_distinct, CAST(MAX(n) AS BIGINT) AS top_n
      |      FROM c GROUP BY doc_id)
      |SELECT doc_id, n_tokens, n_distinct, top_n,
      |  ${Num.oraR4("top_n * 1.0 / n_tokens")} AS top_ratio,
      |  ${Num.oraR4("n_distinct * 1.0 / n_tokens")} AS distinct_ratio,
      |  CASE WHEN ${Num.oraR4("top_n * 1.0 / n_tokens")} >= 0.15 THEN 1 ELSE 0 END AS repetitive
      |FROM d ORDER BY doc_id""".stripMargin) { (s, dir) =>
    graft.operators.TextAnalysis
      .repetitionProfile(t(s, dir, "documents"), "doc_id", "text", topRatioMax = 0.15)
      .orderBy("doc_id")
  }

  /** Unigram-LM quality score: corpus-level token frequencies give each
    * token a surprisal -ln(count/total); a doc's score is its mean token
    * surprisal (low = made of the corpus's most common tokens, i.e.
    * boilerplate — the importance-sampling signal LM pipelines filter
    * on). The surprisal is fixed-pointed to micro-nats PER VOCAB ENTRY
    * (~tens of values), so the per-doc aggregation is exact integer
    * math — double `ln` is evaluated once per distinct token, not once
    * per token instance, and the doc sums can never drift between
    * engines. Vocab is broadcast (tiny); tokens shuffle once by doc. */
  val unigramLogprob: Q = Q(
    "t18_unigram_logprob",
    """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tk FROM documents),
      |tk2 AS (SELECT doc_id, tk FROM tok WHERE len(tk) > 0),
      |v AS (SELECT tk, COUNT(*) AS cnt FROM tk2 GROUP BY tk),
      |tot AS (SELECT SUM(cnt) AS tot FROM v),
      |li AS (SELECT tk, CAST(FLOOR(LN(tot * 1.0 / cnt) * 1000000 + 0.5) AS BIGINT) AS l
      |       FROM v, tot),
      |d AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens, CAST(SUM(l) AS BIGINT) AS s
      |      FROM tk2 JOIN li ON tk2.tk = li.tk GROUP BY doc_id)
      |SELECT doc_id, n_tokens,
      |  FLOOR(s * 1.0 / n_tokens / 1000000 * 10000 + 0.5) / 10000 AS avg_surprisal
      |FROM d ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val tok = t(s, dir, "documents")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tk"))
      .filter(length(col("tk")) > 0)
    val vocab = tok.groupBy("tk").agg(count(lit(1)).as("cnt"))
    val total = vocab.agg(sum(col("cnt")).as("tot"))
    val li = vocab.crossJoin(broadcast(total))
      .select(col("tk"),
        floor(log(col("tot").cast(DoubleType) / col("cnt")) * 1000000 + 0.5)
          .cast(LongType).as("l"))
    tok.join(broadcast(li), "tk")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"), sum(col("l")).as("s"))
      .select(col("doc_id"), col("n_tokens"),
        Num.r4(col("s").cast(DoubleType) / col("n_tokens") / 1000000).as("avg_surprisal"))
      .orderBy("doc_id")
  }

  /** Count-Min sketch frequency estimation: d=4 md5-derived hash rows ×
    * w=256 counters, built as four tiny (256-row) groupBy tables — the
    * mergeable-sketch shape (counters add across partitions/shards,
    * which is what makes CMS the 100 TB way to track token/url/ngram
    * frequencies without a full vocabulary shuffle). The top-20 exact
    * tokens are then estimated from the sketch via four broadcast
    * joins; CMS guarantees est_n >= exact_n. Deterministic hashing
    * makes the whole sketch SQL-replayable — unlike a native HLL, the
    * oracle rebuilds bit-identical counters. */
  val countMin: Q = {
    val D = 4
    val W = 256
    def oraBucket(i: Int, tok: String) =
      s"((('0x' || substr(md5('$i:' || $tok), 1, 15))::BIGINT) % $W)"
    val counterCtes = (0 until D).map(i =>
      s"c$i AS (SELECT ${oraBucket(i, "tk")} AS b, COUNT(*) AS c FROM tk2 GROUP BY 1)")
      .mkString(",\n      ")
    val joins = (0 until D).map(i =>
      s"JOIN c$i ON ${oraBucket(i, "t.tk")} = c$i.b").mkString("\n      ")
    Q(
      "t20_count_min_sketch",
      s"""WITH tok AS (SELECT unnest(string_split(text, ' ')) AS tk FROM documents),
        |tk2 AS (SELECT tk FROM tok WHERE len(tk) > 0),
        |cnt AS (SELECT tk, COUNT(*) AS exact_n FROM tk2 GROUP BY tk),
        |top AS (SELECT tk, CAST(exact_n AS BIGINT) AS exact_n FROM cnt
        |        ORDER BY exact_n DESC, tk LIMIT 20),
        |$counterCtes
        |SELECT t.tk, t.exact_n,
        |  CAST(LEAST(${(0 until D).map(i => s"c$i.c").mkString(", ")}) AS BIGINT) AS est_n
        |FROM top t
        |$joins
        |ORDER BY exact_n DESC, tk""".stripMargin) { (s, dir) =>
      val tok = t(s, dir, "documents")
        .select(explode(split(col("text"), " ")).as("tk"))
        .filter(length(col("tk")) > 0)
        .persist()
      def bucket(i: Int, c: org.apache.spark.sql.Column) =
        pmod(mdHash(concat(lit(s"$i:"), c)), lit(W))
      val top = tok.groupBy("tk").agg(count(lit(1)).as("exact_n"))
        .orderBy(col("exact_n").desc, col("tk")).limit(20)
      var est = top
      for (i <- 0 until D) {
        val counters = tok.select(bucket(i, col("tk")).as(s"b$i"))
          .groupBy(s"b$i").agg(count(lit(1)).as(s"c$i"))
        est = est.join(broadcast(counters),
          bucket(i, col("tk")) === col(s"b$i")).drop(s"b$i")
      }
      est.select(col("tk"), col("exact_n"),
        least((0 until D).map(i => col(s"c$i")): _*).as("est_n"))
        .orderBy(col("exact_n").desc, col("tk"))
    }
  }

  /** PII redaction: scrub emails, IPv4 addresses, and long digit runs
    * with typed placeholders, counting each hit class per doc. The
    * corpus is synthetic and PII-free, so deterministic PII is first
    * injected from `doc_id` (email + IP + account number) — the op
    * under test is the redaction pass; the injection just simulates
    * dirty input, engine-replayably. Regexes stay in the Java∩RE2
    * common subset (character classes, bounded repeats) so Spark and
    * DuckDB match identically; order matters (email before IP before
    * digit runs) and is the same on both sides. Pure per-row transform
    * — embarrassingly parallel at 100 TB. */
  val piiRedact: Q = {
    val emailPat = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val ipPat = "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"
    val numPat = "[0-9]{4,}"
    // Spark SQL string literals eat single backslashes (`'\.'` → `.`),
    // so patterns embedded in expr() need them doubled; the DuckDB
    // oracle literal keeps them single (no escape processing).
    val emailSql = emailPat.replace("\\", "\\\\")
    val ipSql = ipPat.replace("\\", "\\\\")
    Q(
      "t22_pii_redact",
      s"""WITH dirty AS (
        |  SELECT doc_id,
        |    text || ' contact user' || doc_id::VARCHAR || '@example.com at 10.0.' ||
        |      (doc_id % 256)::VARCHAR || '.' || ((doc_id * 7) % 256)::VARCHAR ||
        |      ' acct ' || (400000 + doc_id)::VARCHAR AS dirty
        |  FROM documents),
        |red AS (
        |  SELECT doc_id,
        |    len(regexp_extract_all(dirty, '$emailPat')) AS n_email,
        |    len(regexp_extract_all(dirty, '$ipPat')) AS n_ip,
        |    regexp_replace(
        |      regexp_replace(
        |        regexp_replace(dirty, '$emailPat', '<EMAIL>', 'g'),
        |        '$ipPat', '<IP>', 'g'),
        |      '$numPat', '<NUM>', 'g') AS redacted
        |  FROM dirty)
        |SELECT doc_id, CAST(n_email AS INT) AS n_email, CAST(n_ip AS INT) AS n_ip,
        |  CAST(len(regexp_extract_all(redacted, '<NUM>')) AS INT) AS n_num,
        |  CAST(len(redacted) AS BIGINT) AS red_len,
        |  ('0x' || substr(md5(redacted), 1, 15))::BIGINT AS red_fp
        |FROM red ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val dirty = t(s, dir, "documents").select(col("doc_id"),
        concat(col("text"), lit(" contact user"), col("doc_id").cast(StringType),
          lit("@example.com at 10.0."), (col("doc_id") % 256).cast(StringType),
          lit("."), ((col("doc_id") * 7) % 256).cast(StringType),
          lit(" acct "), (lit(400000L) + col("doc_id")).cast(StringType)).as("dirty"))
      val red = dirty.select(col("doc_id"),
        size(expr(s"regexp_extract_all(dirty, '$emailSql', 0)")).as("n_email"),
        size(expr(s"regexp_extract_all(dirty, '$ipSql', 0)")).as("n_ip"),
        regexp_replace(
          regexp_replace(
            regexp_replace(col("dirty"), emailPat, "<EMAIL>"),
            ipPat, "<IP>"),
          numPat, "<NUM>").as("redacted"))
      red.select(col("doc_id"), col("n_email"), col("n_ip"),
          size(expr("regexp_extract_all(redacted, '<NUM>', 0)")).as("n_num"),
          length(col("redacted")).cast(LongType).as("red_len"),
          mdHash(col("redacted")).as("red_fp"))
        .orderBy("doc_id")
    }
  }

  /** Domain-mixture resampling: downsample to ~half the corpus while
    * reweighting sources toward integer target weights ((src#%4)+1) —
    * the "data mixing" step of a pretraining pipeline. Keep decisions
    * are content-hash buckets (stable across re-ingestion, like t9)
    * compared against the per-source rate by integer
    * cross-multiplication (`bucket·den·cnt_s·2 < w_s·total·4096`) —
    * no floating-point rate ever materializes, so both engines keep
    * exactly the same docs. Per-source counts are a broadcast join;
    * the scan stays one pass. */
  val domainMix: Q = Q(
    "t23_domain_mix",
    """WITH w AS (
      |  SELECT source, COUNT(*) AS cnt,
      |    (substr(source, 4)::BIGINT % 4) + 1 AS wgt
      |  FROM documents GROUP BY source),
      |tot AS (SELECT SUM(cnt) AS total, SUM(wgt) AS den FROM w),
      |kept AS (
      |  SELECT d.source,
      |    CASE WHEN ('0x' || substr(md5(d.text), 1, 3))::BIGINT * w.cnt *
      |           (SELECT den FROM tot) * 2
      |         < w.wgt * (SELECT total FROM tot) * 4096 THEN 1 ELSE 0 END AS keep
      |  FROM documents d JOIN w ON d.source = w.source)
      |SELECT source, COUNT(*) AS n_in,
      |  CAST(SUM(keep) AS BIGINT) AS n_kept,
      |  FLOOR((SUM(keep) * 1.0 / COUNT(*)) * 10000 + 0.5)/10000 AS kept_frac
      |FROM kept GROUP BY source ORDER BY source""".stripMargin) { (s, dir) =>
    val docs = t(s, dir, "documents")
    val w = docs.groupBy("source").agg(count(lit(1)).as("cnt"))
      .withColumn("wgt", substring(col("source"), 4, 10).cast(LongType) % 4 + 1)
    val tot = w.agg(sum(col("cnt")).as("total"), sum(col("wgt")).as("den"))
    val bucket = conv(substring(md5(col("text")), 1, 3), 16, 10).cast(LongType)
    docs.join(broadcast(w), "source").join(broadcast(tot))
      .select(col("source"),
        when(bucket * col("cnt") * col("den") * 2 <
          col("wgt") * col("total") * 4096, 1L).otherwise(0L).as("keep"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_in"), sum(col("keep")).as("n_kept"),
        Num.r4(sum(col("keep")) * 1.0 / count(lit(1))).as("kept_frac"))
      .orderBy("source")
  }

  /** Overlapping-window chunking for RAG/context packing: 16-token
    * chunks on a 12-token stride, one output row per chunk with a
    * replayable 60-bit fingerprint of the chunk text. Chunk starts
    * come from a per-row `sequence` explode (Spark) ≡ a static
    * `generate_series` bound + WHERE (DuckDB's no-lateral idiom; docs
    * cap at 100 tokens → ≤8 chunks, bound 15 is safe). One-to-many
    * row explosion, no shuffle at all until the final sort. */
  val chunkOverlap: Q = {
    val SIZE = 16; val STRIDE = 12
    Q(
      "t24_chunk_overlap",
      s"""WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS ws,
        |    len(string_split(text, ' ')) AS n_tok
        |  FROM documents),
        |chunks AS (
        |  SELECT doc_id, n_tok, ci,
        |    ci * $STRIDE AS start_tok,
        |    LEAST($SIZE, n_tok - ci * $STRIDE) AS chunk_len,
        |    array_to_string(ws[ci * $STRIDE + 1 : ci * $STRIDE + LEAST($SIZE, n_tok - ci * $STRIDE)], ' ') AS chunk_text
        |  FROM toks, generate_series(0, 15) t(ci)
        |  WHERE ci = 0 OR ci * $STRIDE + 1 <= n_tok - ($SIZE - $STRIDE))
        |SELECT doc_id, CAST(ci AS INT) AS chunk_id, CAST(start_tok AS INT) AS start_tok,
        |  CAST(chunk_len AS INT) AS chunk_len,
        |  ('0x' || substr(md5(chunk_text), 1, 15))::BIGINT AS chunk_fp
        |FROM chunks ORDER BY doc_id, chunk_id""".stripMargin) { (s, dir) =>
      graft.operators.TextAnalysis
        .slidingChunks(t(s, dir, "documents"), "doc_id", "text",
          size = SIZE, stride = STRIDE)
        .select(col("doc_id"), col("chunk_id"), col("start_tok"),
          col("chunk_len"), mdHash(col("chunk_text")).as("chunk_fp"))
        .orderBy("doc_id", "chunk_id")
    }
  }

  /** TF-IDF top-5 terms per document. IDF is fixed-pointed to
    * micro-nats (the t18 idiom: one `ln` per vocabulary entry, floored
    * to an integer) so every per-doc score is exact BIGINT
    * multiplication — cross-engine-stable despite the transcendental.
    * The vocabulary table is tiny relative to the corpus (it's a
    * distinct-term reduction), so the tf→idf join broadcasts; the
    * top-k is a per-doc window with a term tiebreak for determinism. */
  val tfidf: Q = Q(
    "t25_tfidf",
    """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
      |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok WHERE len(term) > 0 GROUP BY 1, 2),
      |df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
      |n AS (SELECT COUNT(*) AS n_docs FROM documents),
      |idf AS (SELECT term,
      |    CAST(FLOOR(LN((SELECT n_docs FROM n) * 1.0 / df) * 1000000 + 0.5) AS BIGINT) AS idf_micro
      |  FROM df),
      |scored AS (SELECT tf.doc_id, tf.term, tf.tf, tf.tf * idf.idf_micro AS score_micro,
      |    ROW_NUMBER() OVER (PARTITION BY tf.doc_id
      |      ORDER BY tf.tf * idf.idf_micro DESC, tf.term) AS rn
      |  FROM tf JOIN idf ON tf.term = idf.term)
      |SELECT doc_id, term, CAST(tf AS BIGINT) AS tf, score_micro
      |FROM scored WHERE rn <= 5 ORDER BY doc_id, term""".stripMargin) { (s, dir) =>
    val tok = t(s, dir, "documents")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .filter(length(col("term")) > 0)
    // r21 optimization (guide §2.4): DF is definitionally a reduction
    // OF the TF table, but expressed as two lazy branches the optimizer
    // planned them as two independent scan→explode→aggregate pipelines
    // over the full corpus (the DF side collapses count-over-groupBy
    // into a distinct, so the subtrees stop being equal and
    // ReuseExchange can't dedup them). One eager lineage cut
    // materializes the narrow (doc_id, term, tf) table once; both the
    // DF reduction and the scoring join read it — one corpus
    // scan+explode instead of two.
    //
    // LIFETIME (r21 advice, applies to every construction-time cut in
    // this file — here, t26's ch, BandedPairs' bucket sets): the returned
    // frame still references the truncated-lineage snapshot, so the
    // query fn cannot Checkpoints.free it; the blocks outlive the
    // runner's clearCache() and are reclaimed by RDD GC + the
    // ContextCleaner — a GC-BOUNDED leak of one narrow table per
    // invocation, accepted by design. Reliable-checkpoint deployments
    // should set spark.cleaner.referenceTracking.cleanCheckpoints=true
    // so the superseded FILES are reaped on the same GC.
    val tf = graft.operators.Checkpoints.cut(
      tok.groupBy("doc_id", "term").agg(count(lit(1)).as("tf")), eager = true)
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val n = t(s, dir, "documents").agg(count(lit(1)).as("n_docs"))
    val idf = df.join(broadcast(n))
      .select(col("term"),
        floor(log(col("n_docs") * 1.0 / col("df")) * 1000000 + 0.5)
          .cast(LongType).as("idf_micro"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("doc_id")
      .orderBy((col("tf") * col("idf_micro")).desc, col("term"))
    tf.join(broadcast(idf), "term")
      .withColumn("score_micro", col("tf") * col("idf_micro"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5)
      .select(col("doc_id"), col("term"), col("tf"), col("score_micro"))
      .orderBy("doc_id", "term")
  }

  /** The composed curation pipeline — the flow a training-data run
    * actually executes, as ONE DataFrame program: exact dedup
    * (winner-per-content, t1's recipe) → quality gate (t4's rounded
    * score ≥ 0.65) → language gate (t3's langId = 'en') → per-source
    * sequential context packing (t13's 4096-char bins) → per-bin
    * stats. Every stage reuses the operator/recipe its standalone
    * query gates, so this also proves the operators COMPOSE without
    * breaking oracle-exactness. Scale shape: one dedup shuffle, one
    * semi-join, per-row codegen'd scoring, one per-source window —
    * no stage materializes to the driver. */
  val curationPipeline: Q = Q(
    "t30_curation_pipeline",
    """WITH keep AS (SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
      |d AS (SELECT dd.doc_id, dd.source, dd.n_chars, dd.text
      |      FROM documents dd JOIN keep ON dd.doc_id = keep.doc_id),
      |f AS (SELECT doc_id,
      |    CAST(length(text) AS DOUBLE) AS nc,
      |    CAST(len(string_split(text, ' ')) AS DOUBLE) AS nt,
      |    CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE) AS nd,
      |    CAST(length(text) - length(regexp_replace(text, '[^a-z ]', '', 'g')) AS DOUBLE) AS na
      |  FROM d),
      |q AS (SELECT doc_id,
      |    FLOOR((0.5 * (nd / nt) + 0.3 * (1.0 - na / nc)
      |      + 0.2 * LEAST(nt / 100.0, 1.0)) * 10000 + 0.5) / 10000 AS quality
      |  FROM f),
      |p AS (SELECT doc_id, ' ' || text || ' ' AS pt FROM d),
      |sc AS (SELECT doc_id,
      |  (length(pt) - length(replace(pt, ' the ', ''))) / 5 AS s_en,
      |  (length(pt) - length(replace(pt, ' el ', ''))) / 4
      |    + (length(pt) - length(replace(pt, ' la ', ''))) / 4 AS s_es,
      |  (length(pt) - length(replace(pt, ' der ', ''))) / 5
      |    + (length(pt) - length(replace(pt, ' und ', ''))) / 5 AS s_de,
      |  (length(pt) - length(replace(pt, ' le ', ''))) / 4
      |    + (length(pt) - length(replace(pt, ' et ', ''))) / 4 AS s_fr
      |  FROM p),
      |lng AS (SELECT doc_id,
      |  CASE WHEN s_es > s_en AND s_es >= s_de AND s_es >= s_fr THEN 'es'
      |       WHEN s_de > s_en AND s_de > s_es AND s_de >= s_fr THEN 'de'
      |       WHEN s_fr > s_en AND s_fr > s_es AND s_fr > s_de THEN 'fr'
      |       ELSE 'en' END AS pred_lang
      |  FROM sc),
      |surv AS (SELECT d.source, d.doc_id, d.n_chars
      |  FROM d JOIN q ON d.doc_id = q.doc_id JOIN lng ON d.doc_id = lng.doc_id
      |  WHERE q.quality >= 0.65 AND lng.pred_lang = 'en'),
      |o AS (SELECT source, doc_id, n_chars,
      |    SUM(n_chars) OVER (PARTITION BY source ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prefix
      |  FROM surv),
      |b AS (SELECT source, doc_id, n_chars,
      |    CAST((prefix - n_chars) // 4096 AS BIGINT) AS bin FROM o)
      |SELECT source, bin, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
      |  MIN(doc_id) AS min_doc_id, MAX(doc_id) AS max_doc_id
      |FROM b GROUP BY source, bin ORDER BY source, bin""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    import graft.operators.TextAnalysis
    val d0 = t(s, dir, "documents")
    val winners = d0.groupBy(md5(col("text")).as("fp"))
      .agg(min(col("doc_id")).as("doc_id")).select("doc_id")
    val d = d0.join(winners, Seq("doc_id"), "left_semi")
    val surv = d
      .withColumn("quality", TextAnalysis.qualityScore(col("text")))
      .withColumn("pred_lang", TextAnalysis.langId(col("text")))
      .filter(col("quality") >= 0.65 && col("pred_lang") === "en")
      .select(col("source"), col("doc_id"), col("n_chars"))
    val w = Window.partitionBy("source").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    surv.withColumn("prefix", sum(col("n_chars")).over(w))
      .withColumn("bin", expr("(prefix - n_chars) div 4096"))
      .groupBy("source", "bin")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        min(col("doc_id")).as("min_doc_id"),
        max(col("doc_id")).as("max_doc_id"))
      .orderBy("source", "bin")
  }

  /** Incremental (delta-vs-corpus) dedup — the ingest-time shape a
    * 100 TB pipeline actually runs: you never re-dedup the corpus, you
    * check the newly-arrived batch against the corpus's fingerprint
    * index. Batch = `doc_id % 7 = 4` (a deterministic ~14% "new ingest"
    * slice — residue 4 is the one whose batch catches real cross-split
    * exact duplicates in the sf0.1 testdata; smaller SFs have no
    * duplicate texts at all, there the exact tier is spec-proven),
    * corpus = the rest. Each batch doc gets a status: exact_dup
    * (its content hash already exists in the corpus — a left-semi hash
    * join on the 60-bit md5 fingerprint), near_dup (shares an LSH band
    * bucket with a corpus doc AND ≥ half the full signature agrees —
    * the t6 machinery pointed across the split), else keep; exact
    * takes precedence. Reuses [[lshSignatures]]/[[lshSigCtes]] so the
    * near-dup semantics can never diverge from the standing LSH family.
    *
    * Scale posture: the corpus reduces to a distinct content-hash set
    * plus banded signatures — the index a deployment computes once,
    * stores, and reuses per batch; per-ingest cost is proportional to
    * the batch and its matched buckets, never corpus × batch. Library
    * twin over arbitrary (id, text) frames:
    * [[graft.operators.TextDedup.incrementalDedup]]. */
  val incrementalDedup: Q = Q(
    "t26_incremental_dedup",
    s"""WITH $lshSigCtes,
      |ch AS (SELECT doc_id, ('0x' || substr(md5(text), 1, 15))::BIGINT AS chash
      |       FROM documents),
      |ex AS (SELECT DISTINCT b.doc_id FROM ch b JOIN ch c ON b.chash = c.chash
      |       WHERE b.doc_id % 7 = 4 AND c.doc_id % 7 <> 4),
      |nd AS (SELECT DISTINCT sa.doc_id
      |       FROM sig sa JOIN sig sb
      |         ON sa.doc_id % 7 = 4 AND sb.doc_id % 7 <> 4 AND ($lshOracleBands)
      |       WHERE ($lshOracleAgree) >= ${lshK / 2})
      |SELECT d.doc_id,
      |  CASE WHEN ex.doc_id IS NOT NULL THEN 'exact_dup'
      |       WHEN nd.doc_id IS NOT NULL THEN 'near_dup'
      |       ELSE 'keep' END AS status
      |FROM documents d
      |LEFT JOIN ex ON ex.doc_id = d.doc_id
      |LEFT JOIN nd ON nd.doc_id = d.doc_id
      |WHERE d.doc_id % 7 = 4 ORDER BY d.doc_id""".stripMargin) { (s, dir) =>
    val docs = t(s, dir, "documents")
    val isBatch = col("doc_id") % 7 === 4
    // (doc_id, chash) is 16 bytes/row and read TWICE (batch probe +
    // corpus fingerprint side) — uncut, each reference re-scanned the
    // full documents TEXT column (r22, guide §2.4: the t25 recipe; plan
    // went 3 → 2 full-text scans). The remaining two text readers (this
    // and the shingle pipeline feeding `sig`) deliberately stay
    // separate parquet scans: checkpointing raw text to share one scan
    // would materialize the whole corpus into executor blocks — worse
    // at scale than a second pruned columnar read.
    val ch = graft.operators.Checkpoints.cut(
      docs.select(col("doc_id"), mdHash(col("text")).as("chash")),
      eager = true)
    val ex = ch.filter(isBatch)
      .join(ch.filter(col("doc_id") % 7 =!= 4).select("chash").distinct(),
        Seq("chash"), "left_semi")
      .select("doc_id")
    val sig = lshSignatures(s, dir).persist()
    val keys = graft.operators.BandedPairs.bandKeys(sig, "doc_id", "band", lshBands)
    val cand = graft.operators.BandedPairs.crossPairs(
      keys.filter(isBatch), keys.filter(col("doc_id") % 7 =!= 4), "doc_id", "a_id", "b_id")
    val nd = graft.operators.BandedPairs.agreement(cand, sig, sig, "doc_id", lshHashCols, "a_id", "b_id")
      .filter(col("agree") >= lshK / 2)
      .select(col("a_id").as("doc_id")).distinct()
    docs.filter(isBatch).select("doc_id")
      .join(ex.withColumn("__ex", lit(1)), Seq("doc_id"), "left")
      .join(nd.withColumn("__nd", lit(1)), Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("__ex") === 1, "exact_dup")
          .when(col("__nd") === 1, "near_dup")
          .otherwise("keep").as("status"))
      .orderBy("doc_id")
  }

  /** Exact-substring span dedup (Lee et al. 2022, windowed form):
    * 6-token overlapping spans fingerprinted corpus-wide; spans seen in
    * ≥2 distinct docs mark every covered token position; marked
    * positions are stripped and the survivors rejoined. The
    * sub-document dedup a curation pipeline runs between whole-doc
    * dedup (t1/t6) and quality filtering — it removes shared
    * boilerplate without dropping the unique remainder. Library twin:
    * [[graft.operators.TextDedup.substringSpanDedup]]. The oracle
    * replays spans, the distinct-doc threshold, position coverage, and
    * the token reassembly verbatim. The oracle's static position bound
    * is 1024 — 10× this corpus's 100-token max, headroom rather than a
    * cap (the Spark operator is unbounded; a corpus breaching 1024
    * tokens would silently diverge the ORACLE, so the Spark side
    * asserts the bound per row via `assert_true` — a breach fails
    * LOUDLY with the real cause instead of surfacing as a confusing
    * hash mismatch at verify time). */
  val substringDedup: Q = {
    val W = 6
    val OracleBound = 1024 // generate_series(1, 1024) in the SQL below
    val spanConcat = (0 until W).map(j => s"ws[i+$j]").mkString(" || ' ' || ")
    Q(
      "t31_substring_dedup",
      s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |win AS (SELECT doc_id, i,
        |    ('0x' || substr(md5($spanConcat), 1, 15))::BIGINT AS gh
        |  FROM w, generate_series(1, 1024) t(i) WHERE i + ${W - 1} <= len(ws)),
        |dup AS (SELECT gh FROM win GROUP BY gh HAVING COUNT(DISTINCT doc_id) >= 2),
        |cov AS (SELECT DISTINCT win.doc_id, win.i + o.o AS p
        |        FROM win JOIN dup USING (gh), generate_series(0, ${W - 1}) o(o)),
        |cvagg AS (SELECT doc_id, COUNT(*) AS dup_tokens FROM cov GROUP BY doc_id),
        |tok AS (SELECT doc_id, i, ws[i] AS tk
        |        FROM w, generate_series(1, 1024) t(i) WHERE i <= len(ws)),
        |cl AS (SELECT t.doc_id,
        |    COALESCE(string_agg(t.tk, ' ' ORDER BY t.i) FILTER (WHERE c.p IS NULL), '')
        |      AS clean_text
        |  FROM tok t LEFT JOIN cov c ON c.doc_id = t.doc_id AND c.p = t.i
        |  GROUP BY t.doc_id)
        |SELECT w.doc_id, CAST(len(w.ws) AS INT) AS n_tokens,
        |  CAST(COALESCE(cv.dup_tokens, 0) AS INT) AS dup_tokens, cl.clean_text
        |FROM w JOIN cl ON cl.doc_id = w.doc_id
        |LEFT JOIN cvagg cv ON cv.doc_id = w.doc_id
        |ORDER BY w.doc_id""".stripMargin) { (s, dir) =>
      // per-row loud guard on the ORACLE's static position bound: the
      // SQL above enumerates positions 1..1024, so a longer document
      // would silently truncate the oracle's span set while the Spark
      // operator (unbounded) keeps every span — assert_true turns that
      // silent divergence into a failure naming the breaching document
      val docs = t(s, dir, "documents").withColumn("text",
        when(assert_true(size(split(col("text"), " ")) <= OracleBound,
          concat(lit(s"t31 oracle bound breach (doc_id="), col("doc_id"),
            lit(s"): > $OracleBound tokens — raise the oracle's " +
              "generate_series bound to match"))).isNull, col("text")))
      graft.operators.TextDedup
        .substringSpanDedup(docs, "doc_id", "text",
          window = W, minDocs = 2)
        .orderBy("doc_id")
    }
  }

  val all: Seq[Q] = Seq(dedupExact, tokenStats, langId, quality,
    fingerprint, ngramJaccard, minhashLsh, simhash,
    trainTestSplit, vocab, lengthBuckets, bpeTokens,
    seqPacking, contamination, stratifiedSample,
    blockDedup, repetitionScore, unigramLogprob, neardupComponents, countMin,
    simhashNearDup, piiRedact, domainMix, chunkOverlap, tfidf,
    curationPipeline, incrementalDedup, substringDedup)
}
