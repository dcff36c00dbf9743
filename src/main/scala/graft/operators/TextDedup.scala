package graft.operators

import scala.jdk.CollectionConverters._

import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec, ProjectExec, SparkPlan}
import org.apache.spark.sql.execution.datasources.{FilePartition, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Reusable corpus-deduplication APIs over arbitrary (id, text)
  * columns — the library surface behind the fixed demo queries
  * (`t1_dedup_exact`, `t6_minhash_lsh`, `t19_neardup_components`,
  * `t26_incremental_dedup`): a pipeline user points these at their own
  * tables instead of the testdata schema.
  *
  * Scale posture matches the query implementations: exact dedup is a
  * hash shuffle on a 64-bit content fingerprint; MinHash-LSH generates
  * candidate pairs only inside equal band buckets (banded signatures →
  * subquadratic), then verifies on full-signature agreement. The
  * candidate stage is [[BandedPairs]], the same operator the demo
  * queries run, so [[minhashPairs]] picks its route by the same size
  * check (one count job over the signatures for Long ids) and
  * [[incrementalDedup]] uses its cross-pair join. Nothing ever
  * materializes on the driver.
  */
object TextDedup {

  /** Engine-portable 60-bit hash: first 15 hex chars of md5, as BIGINT —
    * the same construction TextQueries uses so API results are
    * bit-identical to the oracle-gated demo queries (Spark
    * `conv(substr(md5(x),1,15),16,10)` ≡ DuckDB
    * `('0x'||substr(md5(x),1,15))::BIGINT`). Computed by the codegen'd
    * [[graft.functions.Md5Prefix60]] kernel — bit-identical to the SQL
    * formulation (property-tested against it) but without the per-call
    * hex-string/`conv` allocations that made the per-token hash the top
    * GC source of the bench suite. */
  private[graft] def mdHash(c: Column): Column = {
    val spark = org.apache.spark.sql.SparkSession.active
    org.apache.spark.sql.classic.GraftSqlBridge.column(
      graft.functions.Md5Prefix60(
        org.apache.spark.sql.classic.GraftSqlBridge.expression(spark, c)))
  }

  /** Word shingles of every row, duplicates included: `(__id, __g)`, one
    * row per window of `shingleSize` space-separated words, the first
    * `maxShingles` windows of each row (the cap bounds a degenerate
    * mega-document). Rows with fewer words have no shingle. The one
    * shingle expansion behind every shingle-based operator here and in
    * the text queries.
    *
    * Each input row turns into up to `maxShingles` strings, each
    * concatenated and then hashed by the caller, so this is the costly
    * stage of its job. A file of one parquet row group reads in one
    * task, however many byte ranges the scan splits it into, and
    * everything fused with the scan runs there. So when the input would
    * read its rows in fewer tasks than `defaultParallelism`, its
    * `(id, text)` rows are round-robined over that many partitions first:
    * a small shuffle of narrow rows, against an expansion that then runs
    * on every core. An input that already reads in that many tasks, or
    * that has a shuffle below it (AQE sizes that one), is left alone. */
  private[graft] def shingleRows(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int,
      maxShingles: Int): DataFrame = {
    val rows = df.select(col(idCol).as("__id"), col(textCol).as("__t"))
    val cores = df.sparkSession.sparkContext.defaultParallelism
    val spread = if (fewScanTasks(rows, cores)) rows.repartition(cores) else rows
    spread.select(col("__id"), split(col("__t"), " ").as("__ws"))
      .filter(size(col("__ws")) >= shingleSize)
      .select(col("__id"), explode(expr(
        s"transform(sequence(0, least(size(__ws)-$shingleSize, ${maxShingles - 1})), " +
          s"i -> concat_ws(' ', ${(0 until shingleSize).map(j => s"__ws[i+$j]").mkString(", ")}))"))
        .as("__g"))
  }

  /** Whether `df` reads its rows in fewer than `cores` tasks: true only
    * when projections and filters alone sit between it and one file scan
    * with fewer than `cores` planned partitions that return rows. A
    * parquet byte range returns rows only if it holds the midpoint of a
    * row group, so a file of one row group that the scan splits into
    * several ranges still reads in one task. Each such file's footer is
    * read once on the driver, and only when the scan plans at least
    * `cores` partitions; a range that is a whole file counts without it.
    * Reads the physical plan before exchanges are placed, so no job
    * starts; a plan with a shuffle or a cache below is never executed. */
  private def fewScanTasks(df: DataFrame, cores: Int): Boolean = {
    val conf = df.sparkSession.sparkContext.hadoopConfiguration
    val midpoints = scala.collection.mutable.Map.empty[String, Seq[Long]]
    def returnsRows(f: PartitionedFile): Boolean =
      (f.start == 0 && f.length == f.fileSize) || {
        val mids = midpoints.getOrElseUpdate(f.filePath.toString, {
          val reader = ParquetFileReader.open(HadoopInputFile.fromPath(f.toPath, conf))
          try reader.getFooter.getBlocks.asScala.toSeq
            .map(b => b.getStartingPos + b.getCompressedSize / 2)
          finally reader.close()
        })
        mids.exists(m => m >= f.start && m < f.start + f.length)
      }
    def walk(p: SparkPlan): Boolean = p match {
      case s: FileSourceScanExec =>
        val parts = s.inputRDD.partitions
        if (parts.length < cores) true
        else if (!s.relation.fileFormat.isInstanceOf[ParquetFileFormat]) false
        else parts.iterator.collect { case fp: FilePartition => fp }
          .filter(_.files.exists(returnsRows)).take(cores).size < cores
      case _: ProjectExec | _: FilterExec => walk(p.children.head)
      case _ => false
    }
    walk(df.queryExecution.sparkPlan)
  }

  /** Keep exactly one row per distinct `textCol` value — the winner is
    * the minimum `idCol` (deterministic, re-runnable). Comparison is on
    * a 64-bit xxhash of the text plus the text itself, so hash
    * collisions cannot merge distinct documents. */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val w = Window.partitionBy(xxhash64(col(textCol)), col(textCol))
      .orderBy(col(idCol))
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** k affine-minhash signature columns `(__id, __h0..__h{k-1})` over
    * distinct capped word shingles — the shared signature builder behind
    * [[minhashPairs]] and [[incrementalDedup]].
    *
    * One xxhash per shingle re-mixed by k affine maps modulo 2^61−1.
    * The maps act on the hash's two integer bit-halves
    * (hi = h >> 30, lo = h & (2^30−1)) with multipliers < 2^31, so every
    * intermediate product stays below 2^62 and the whole pipeline runs
    * in exact long arithmetic — safe under Spark's ANSI overflow checks
    * (an earlier formulation divided by 2^30, which silently promoted
    * the family to floating point). */
  private def affineSignatures(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int,
      shingleSize: Int,
      maxShingles: Int): DataFrame = {
    val prime = (1L << 61) - 1

    // hashed shingles per doc (capped for degenerate docs), duplicates
    // INCLUDED: the only consumer is the per-doc MIN of each affine
    // rehash, which is duplicate-idempotent, so the former string-level
    // `.distinct()` was a full exchange of every shingle string bought
    // for nothing — without it the signature build's one shuffle is the
    // partial-min aggregate (r21 optimization, guide §2.3)
    val sh = shingleRows(df, idCol, textCol, shingleSize, maxShingles)
      .select(col("__id"), pmod(xxhash64(col("__g")), lit(prime)).as("__gh"))

    def affine(i: Int): Column = {
      val a = (2L * i + 1) * 1000000007L % 2147483647L
      val b = (2L * i + 1) * 998244353L % 2147483647L
      val c = (0x9E3779B97F4A7C15L % prime) * (i + 1) % prime
      val hi = shiftright(col("__gh"), 30)
      val lo = col("__gh").bitwiseAND(lit((1L << 30) - 1))
      pmod(pmod(lit(a) * hi + lit(b) * lo, lit(prime)) + lit(c % prime), lit(prime))
    }
    sh.groupBy(col("__id"))
      .agg(min(affine(0)).as("__h0"),
        (1 until k).map(i => min(affine(i)).as(s"__h$i")): _*)
  }

  /** One `__bk` band-hash struct per band of an [[affineSignatures]]
    * frame, for [[BandedPairs.bandKeys]] — shared by [[minhashPairs]]
    * and [[incrementalDedup]] so bucketing can never diverge between the
    * pairwise and incremental paths. */
  private def bandHashes(k: Int, bands: Int): Seq[Column] = {
    val r = k / bands
    (0 until bands).map(b => struct(xxhash64(lit(b),
      struct((b * r until (b + 1) * r).map(i => col(s"__h$i")): _*)).as("__bk")))
  }

  /** MinHash-LSH near-duplicate candidate pairs: (idA, idB, estJaccard)
    * with idA < idB and estimated Jaccard ≥ `threshold`.
    *
    * k minhashes from one xxhash per shingle re-mixed by k affine maps
    * modulo 2^61−1; signatures split into `bands` bands whose equality
    * keys the candidate join. With k=16, bands=4 (r=4 rows per band),
    * the S-curve crosses ~0.7 — pairs at Jaccard 0.5 are found with ~4
    * band probes while the shuffle never carries a cross product.
    * Candidates come from [[BandedPairs.selfPairs]]; every route it
    * takes returns the same pairs.
    *
    * The affine maps act on the hash's two integer bit-halves
    * (hi = h >> 30, lo = h & (2^30−1)) with multipliers < 2^31, so every
    * intermediate product stays below 2^62 and the whole pipeline runs
    * in exact long arithmetic — safe under Spark's ANSI overflow checks
    * (an earlier formulation divided by 2^30, which silently promoted
    * the family to floating point). */
  def minhashPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 16,
      bands: Int = 4,
      shingleSize: Int = 3,
      threshold: Double = 0.5,
      maxShingles: Int = 1000): DataFrame = {
    require(k % bands == 0, "bands must divide k")
    val sig = affineSignatures(df, idCol, textCol, k, shingleSize, maxShingles)
    // banded blocking: candidates share at least one full band
    val cand = BandedPairs.selfPairs(sig, "__id", "__b", bandHashes(k, bands), "__a", "__bId")
    BandedPairs.agreement(cand, sig, sig, "__id", (0 until k).map(i => s"__h$i"), "__a", "__bId")
      .select(col("__a").as("idA"), col("__bId").as("idB"),
        (col("agree").cast("double") / k).as("estJaccard"))
      .filter(col("estJaccard") >= threshold)
  }

  /** Incremental (delta-vs-corpus) dedup — the ingest-time decision a
    * 100 TB pipeline actually runs: new `batch` rows are checked against
    * the existing `corpus` WITHOUT re-deduplicating the corpus. Returns
    * one row per batch id: (idCol, status) with status ∈ 'exact_dup'
    * (content hash already present in the corpus), 'near_dup' (shares an
    * LSH band bucket with a corpus doc AND full-signature agreement ≥
    * `threshold`), 'keep'. Exact takes precedence over near. Batch rows
    * are judged against the corpus only — intra-batch duplicates are
    * [[exact]]/[[minhashPairs]]' job, run on the batch first if needed.
    *
    * Scale posture: the corpus side reduces to its fingerprint index — a
    * distinct 60-bit content-hash set plus banded minhash signatures,
    * both one-pass hash aggregations that a real deployment computes
    * ONCE, stores as tables, and reuses per ingest batch; nothing here
    * is proportional to corpus × batch. The exact tier is a left-semi
    * hash join on the content fingerprint; the near tier meets
    * candidates only inside equal band buckets (the [[minhashPairs]]
    * S-curve applies unchanged) and verifies on full-signature
    * agreement, so the shuffle carries band keys and the candidate set,
    * never a cross product. */
  def incrementalDedup(
      corpus: DataFrame,
      batch: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 16,
      bands: Int = 4,
      shingleSize: Int = 3,
      threshold: Double = 0.5,
      maxShingles: Int = 1000): DataFrame = {
    require(k % bands == 0, "bands must divide k")
    val exactDup = batch
      .select(col(idCol).as("__bid"), mdHash(col(textCol)).as("__ch"))
      .join(corpus.select(mdHash(col(textCol)).as("__ch")).distinct(),
        Seq("__ch"), "left_semi")
      .select(col("__bid")).distinct()

    val bSig = affineSignatures(batch, idCol, textCol, k, shingleSize, maxShingles)
    val cSig = affineSignatures(corpus, idCol, textCol, k, shingleSize, maxShingles)
    val cand = BandedPairs.crossPairs(
      BandedPairs.bandKeys(bSig, "__id", "__b", bandHashes(k, bands)),
      BandedPairs.bandKeys(cSig, "__id", "__b", bandHashes(k, bands)),
      "__id", "__bid", "__cid")
    val nearDup = BandedPairs.agreement(cand, bSig, cSig, "__id",
        (0 until k).map(i => s"__h$i"), "__bid", "__cid")
      .filter(col("agree").cast("double") / k >= threshold)
      .select(col("__bid")).distinct()

    batch.select(col(idCol).as("__bid"))
      .join(exactDup.withColumn("__ex", lit(1)), Seq("__bid"), "left")
      .join(nearDup.withColumn("__nd", lit(1)), Seq("__bid"), "left")
      .select(col("__bid").as(idCol),
        when(col("__ex") === 1, "exact_dup")
          .when(col("__nd") === 1, "near_dup")
          .otherwise("keep").as("status"))
  }

  /** Exact-substring span dedup — the repeated-passage removal pass of
    * Lee et al., "Deduplicating Training Data Makes Language Models
    * Better" (ACL 2022), in its windowed distributed form: every
    * overlapping `window`-token span is fingerprinted; a span whose
    * fingerprint occurs in at least `minDocs` DISTINCT documents is
    * duplicated; every token position covered by at least one
    * duplicated span is removed from the document. Unlike whole-doc
    * near-dup (MinHash/SimHash — which keeps or drops entire texts),
    * this surgically strips the shared boilerplate/quoted passages
    * while keeping each document's unique remainder — the
    * sub-document counterpart of [[exact]], and the overlapping-span
    * counterpart of the disjoint-block profile (`t16_block_dedup`).
    *
    * Returns one row per input row: (idCol, n_tokens, dup_tokens,
    * clean_text) where `dup_tokens` counts the removed positions and
    * `clean_text` is the surviving tokens rejoined in order (empty
    * string when everything was duplicated). Documents shorter than
    * `window` tokens have no spans and pass through untouched.
    *
    * Scale posture: one window per token position (linear, unlike the
    * suffix array the single-node original builds), shuffled as 60-bit
    * md5 fingerprints (8 bytes, never span strings); the duplicated
    * set is one hash aggregation; coverage flows back through one
    * fingerprint-keyed join; per-document state (the covered-position
    * set) is bounded by document length and assembled with
    * higher-order array functions — no driver state anywhere. A corpus
    * with degenerate mega-documents should be pre-chunked (the t24
    * chunker) so the per-doc position arrays stay bounded. Measured
    * (`results/t31_scale_r17.json`): 10× the documents (5k → 50k)
    * costs 1.56× wall at local[32] — fixed job overhead dominates at
    * these SFs, the data-dependent cost is the linear token scan. */
  def substringSpanDedup(
      df: DataFrame,
      idCol: String,
      textCol: String,
      window: Int = 6,
      minDocs: Int = 2): DataFrame = {
    require(window >= 1, s"window must be >= 1, got $window")
    require(minDocs >= 2, s"minDocs must be >= 2, got $minDocs")
    val ws = df.select(col(idCol).as("__id"), split(col(textCol), " ").as("__ws"))
    // one span per 1-based start position p, carried as its 60-bit hash
    val win = ws.filter(size(col("__ws")) >= window)
      .select(col("__id"), posexplode(expr(
        s"transform(sequence(1, size(__ws) - ${window - 1}), " +
          s"p -> concat_ws(' ', slice(__ws, p, $window)))"))
        .as(Seq("__p0", "__g")))
      .select(col("__id"), (col("__p0") + 1).as("__p"), mdHash(col("__g")).as("__gh"))
    val dup = win.groupBy("__gh")
      .agg(countDistinct(col("__id")).as("__d"))
      .filter(col("__d") >= minDocs)
      .select("__gh")
    // covered token positions per doc: union of all duplicated spans
    val cov = win.join(dup, "__gh")
      .select(col("__id"), explode(expr(s"sequence(__p, __p + ${window - 1})")).as("__cp"))
      .groupBy("__id")
      .agg(sort_array(collect_set(col("__cp"))).as("__cov"))
    ws.join(cov, Seq("__id"), "left")
      .withColumn("__cov2", expr("coalesce(__cov, CAST(array() AS ARRAY<INT>))"))
      .select(col("__id").as(idCol),
        size(col("__ws")).as("n_tokens"),
        size(col("__cov2")).as("dup_tokens"),
        expr("""array_join(transform(
          |  filter(sequence(1, size(__ws)), p -> NOT array_contains(__cov2, p)),
          |  p -> element_at(__ws, p)), ' ')""".stripMargin).as("clean_text"))
  }

  /** Train/test contamination check — the overlap scan a training
    * pipeline runs before trusting held-out data: for every `test` row,
    * the fraction of its word shingles that appear ANYWHERE in `train`.
    * Returns (idCol of test, n_shingles, n_in_train, contamination)
    * with contamination rounded half-up to 4 decimals; test rows with
    * fewer than `shingleSize` words have no shingles and are absent.
    *
    * Scale posture: shuffles 60-bit shingle hashes (never strings);
    * the train shingle set is distinct-deduped before the join (a
    * semi-join-shaped left join that tags hits, no cross product);
    * both sides shingle in one pass each. */
  def contamination(
      train: DataFrame,
      test: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int = 3,
      maxShingles: Int = 1000): DataFrame = {
    val trainSh = shingleRows(train, idCol, textCol, shingleSize, maxShingles)
      .select(mdHash(col("__g")).as("__tgh")).distinct()
    shingleRows(test, idCol, textCol, shingleSize, maxShingles).distinct()
      .select(col("__id"), mdHash(col("__g")).as("__gh"))
      .join(trainSh, col("__gh") === col("__tgh"), "left")
      .groupBy("__id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("__tgh").isNotNull, 1).otherwise(0)).as("n_in_train"))
      .select(col("__id").as(idCol), col("n_shingles"), col("n_in_train"),
        (floor(col("n_in_train").cast("double") / col("n_shingles") * 10000 + 0.5)
          / 10000.0).as("contamination"))
  }

  /** 60-bit SimHash signature per document: every whitespace token
    * votes ±1 on each signature bit (sign of its md5-derived hash bit),
    * positive vote sum sets the bit. Near-identical texts differ in a
    * few token votes, so their signatures sit within small Hamming
    * distance — a constant-size alternative to the k-long MinHash
    * vector (the web-crawl dedup design: Manku et al., WWW'07, uses
    * 64-bit signatures with Hamming ≤ 3). 60 bits = the full entropy
    * of the md5-prefix token hash both engines compute identically,
    * which keeps the signature SQL-replayable; a 32-bit variant
    * measured at sf10 (500k docs) collapsed into ~2000-doc band
    * buckets and went quadratic — signature width is what buys
    * precision AND blocking selectivity at corpus scale. One shuffle:
    * tokens group by document, 60 conditional sums per group, all
    * codegen'd. Returns (idCol, simhash). Lazy and cache-free. */
  def simhash(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val B = 60
    val tok = df
      .select(col(idCol).as("__id"), explode(split(col(textCol), " ")).as("__tok"))
      .filter(length(col("__tok")) > 0)
      .withColumn("__h", mdHash(col("__tok")))
    // PACKED vote counters (r21 optimization, guide §2.3 "narrower
    // types" / §1.2 per-task work): the former 60 per-bit aggregates
    // (`sum(CASE WHEN (h >> i) & 1 = 1 THEN 1 ELSE -1)`) evaluated 60
    // branchy CASE expressions per TOKEN row into a 60-slot (480-byte)
    // aggregation buffer. The ±1 vote sum is an affine function of the
    // plain bit count — votes_i = 2·ones_i − n, where ones_i counts
    // set bits at position i and n counts tokens — so the signature
    // bit test `votes_i > 0` is exactly `2·ones_i > n`, and ones_i is
    // branch-free. Two 32-bit counters pack per 64-bit buffer slot
    // (bit i in the low half, bit i+30 in the high half): 31 buffer
    // slots instead of 60, 30 shift/mask/or expressions per token row
    // instead of 60 CASEs, half the partial-aggregate shuffle bytes.
    // The low half carries into the high one only past 2^32 tokens in
    // ONE document (a ≥ 4-billion-word text cell — unreachable: Spark
    // strings cap at 2 GB), and the packed sum of n terms ≤ n·(2^32+1)
    // stays far below 2^63 for the same reason, so the arithmetic is
    // exact where the operator is usable at all. Bit-identical to the
    // oracle's ±1 formulation (strict `>` on both sides: votes_i > 0
    // ⟺ 2·ones_i > n, including the tie votes_i = 0 ⟸ 2·ones_i = n).
    val H = 30 // packed pair stride: slot m holds bits m and m+30
    val packCols = (0 until H).map(m =>
      sum(expr(
        s"((__h >> $m) & 1) | (((__h >> ${m + H}) & 1) << 32)")).as(s"__p$m"))
    val votes = tok.groupBy("__id")
      .agg(count(lit(1)).as("__n"), packCols: _*)
    def ones(i: Int) =
      if (i < H) expr(s"__p$i & 4294967295")
      else expr(s"__p${i - H} >> 32")
    val sig = (0 until B).map(i =>
      when(ones(i) * 2 > col("__n"), lit(1L << i)).otherwise(lit(0L)))
      .reduce(_ + _)
    votes.select(col("__id").as(idCol), sig.as("simhash"))
  }

  /** SimHash near-duplicate pairs: (idA, idB, hamming) with idA < idB
    * and Hamming distance ≤ `maxHamming` between 60-bit signatures.
    *
    * Candidates come from band blocking: the signature splits into
    * `maxHamming + 1` bands, and by pigeonhole two signatures within
    * `maxHamming` bit flips agree on at least one whole band — so the
    * candidate join keys on (band index, band value), an equi shuffle
    * key, and never builds a cross product. Exact `bit_count(xor)`
    * verifies each candidate. At the default `maxHamming = 3` the band
    * key is 15 bits (32768 values): the sf10 soak (500k docs) that sank
    * the 32-bit/8-bit-band variant (≈2000 docs per bucket → ~10⁹
    * candidates, 15× the sf1 time at 10× the data) runs at ~15 docs
    * per bucket here. Band width IS the subquadratic knob: past ~10⁷
    * docs per language, widen the signature (two 60-bit halves) before
    * widening buckets; a boilerplate-heavy corpus can additionally cap
    * degenerate buckets upstream like the n-gram index does.
    *
    * The API is eager and leak-free: the signature table is cached for
    * the self-join's two branches, the pair set is materialized (it IS
    * the operator's output — checkpoint-backed, freed by the
    * ContextCleaner once unreferenced), and the signature cache is
    * dropped before returning, so long-lived sessions accumulate no
    * cached blocks across calls. */
  def simhashPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int = 3): DataFrame = {
    val B = 60
    val bands = maxHamming + 1
    require(maxHamming >= 0 && B % bands == 0,
      s"maxHamming + 1 must divide $B, got $maxHamming")
    val w = B / bands
    val sig = simhash(df, idCol, textCol).persist()
    // band key bit-packed into ONE long — (band index << 32) | band
    // value — so the candidate shuffle keys on a single primitive
    // column instead of a two-column composite (half the key width,
    // no struct/array intermediates on the hot path)
    val banded = sig.select(col(idCol), col("simhash"),
        explode(expr(s"sequence(0, ${bands - 1})")).as("__b"))
      .select(col(idCol).as("__id"), col("simhash").as("__s"),
        expr(s"(__b << 32) | ((simhash >> (__b * $w)) & ${(1L << w) - 1})").as("__k"))
    // DELIBERATELY a bucket self-join, not the capped-collect expansion
    // of [[BandedPairs]] (r22, measured): a simhash band value is
    // only `w` = 15 bits wide, so the whole keyspace is bands·2^w ≈ 131k
    // buckets — average bucket size grows linearly with the corpus and
    // saturates ANY fixed collect cap once N ≳ cap·2^w, at which point
    // the aggregate pass is pure overhead and all work lands in the
    // fallback join anyway. The r22 session measured the collect
    // formulation at 2.26 s vs 1.15 s for this join locally (clean
    // canary window) and reverted it; the join also lets the planner
    // pick broadcast vs sort-merge from the cached signature's stats.
    val lhs = banded.select(col("__k"),
      col("__id").as("idA"), col("__s").as("__sa"))
    val rhs = banded.select(col("__k").as("__k2"),
      col("__id").as("idB"), col("__s").as("__sb"))
    val candidatePairs =
      lhs.join(rhs, col("__k") === col("__k2") && col("idA") < col("idB"))
        .select(col("idA"), col("idB"),
          expr("CAST(bit_count(__sa ^ __sb) AS INT)").as("hamming"))
    // the distinct dedups cross-band multiplicity exactly as before
    // (hamming is functionally determined by the pair, so carrying it
    // through the distinct is free)
    val pairs = Checkpoints.cut(
      candidatePairs.filter(col("hamming") <= maxHamming).distinct(), eager = true)
    sig.unpersist(blocking = false)
    pairs
  }
}
