package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.functions.VectorFunctions

/** Reusable similarity-search APIs over an embedding column
  * (`Array[Float]`) — the library surface behind the fixed demo
  * queries (`v1_cosine_topk`, `v2_ann_lsh`, `v4_embedding_neardup`):
  * a pipeline user points these at their own (id, vector) tables.
  *
  * Scale posture matches the query implementations. Query-vs-corpus
  * scoring broadcasts the single query row and streams the corpus in
  * one codegen'd pass (`DotProduct`/`VectorNorm` custom expressions —
  * no intermediate arrays, norms computed once per row). LSH bucketing
  * is the >1M-vector path: candidates come only from the query's
  * signature bucket (~N/2^bits of the corpus). Exact pairwise near-dup
  * is triangle-blocked so the inherent O(N²) flops spread over
  * O(B²) tasks with nothing on the driver; beyond ~1M vectors the
  * honest answer is LSH-bucketed pairing instead.
  *
  * Cosines are rounded half-up to 4 decimals (`floor(x·10⁴+0.5)/10⁴`,
  * raw double arithmetic) so scores, thresholds, and orderings are
  * bit-reproducible across engines and re-runs — the same contract the
  * oracle-gated queries verify against DuckDB.
  */
object SimilaritySearch {

  private def r4(c: Column): Column = floor(c * 10000 + 0.5) / 10000.0

  /** Cosine of every corpus row against the single-row `query`
    * DataFrame (broadcast). Returns (idCol, cos_sim), unordered —
    * compose with your own ranking or thresholding.
    * `query` must have exactly one row; its vector column is
    * `queryVecCol`. */
  def cosineScores(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      query: DataFrame,
      queryVecCol: String): DataFrame = {
    implicit val sp: SparkSession = corpus.sparkSession
    val q = query.select(col(queryVecCol).as("__qe"),
      VectorFunctions.norm(col(queryVecCol)).as("__qn"))
    // NULL on a zero denominator: ANSI double division raises
    // DIVIDE_BY_ZERO (see coarseCos); a degenerate row/query has no
    // cosine, and NULL drops/sorts-last everywhere downstream
    val den = VectorFunctions.norm(col(vecCol)) * col("__qn")
    corpus.crossJoin(broadcast(q))
      .select(col(idCol),
        when(den =!= 0.0,
          r4(VectorFunctions.dot(col(vecCol), col("__qe")) / den)).as("cos_sim"))
  }

  /** Exact brute-force cosine top-k: the correctness baseline for ANN.
    * Deterministic ordering (score desc, then id). */
  def cosineTopK(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      query: DataFrame,
      queryVecCol: String,
      k: Int): DataFrame =
    cosineScores(corpus, idCol, vecCol, query, queryVecCol)
      .orderBy(col("cos_sim").desc, col(idCol))
      .limit(k)

  /** Int8-quantized ANN top-k from a float corpus: coarse-score every
    * vector on packed int8, exact-rerank only the `k × overFetch` best
    * candidates on the floats.
    *
    * The quantization is symmetric max-abs ([[graft.functions.QuantizeInt8]]):
    * per-vector scales cancel inside cosine, so the coarse score is
    * `Σq_aq_b / (√Σq_a² · √Σq_b²)` — pure integer sums, bit-exact
    * across engines/partitionings by construction (no FP summation
    * order), computed by the codegen'd [[graft.functions.Int8Dot]]
    * kernel over BinaryType buffers.
    *
    * This one-shot form quantizes ON THE FLY, so it still reads the
    * float column once — its win is the integer arithmetic and that
    * only `k × overFetch` rows reach the exact kernel. The 4×
    * SCAN-BANDWIDTH win (1 byte/component instead of 4 — what a
    * brute-force coarse pass is bound by at 100 TB) needs the
    * quantized projection materialized at ingest and reused across
    * queries: build it once with [[quantizeCorpus]], persist/write it,
    * and serve queries with [[quantizedTopKIndexed]], whose coarse
    * pass touches ONLY the 64-byte rows. Compose with the IVF
    * partitioner when even a 1-byte full scan is too much.
    * Deterministic end to end: both top-k selections tie-break on
    * id. */
  def quantizedTopK(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      query: DataFrame,
      queryVecCol: String,
      k: Int,
      overFetch: Int = 4): DataFrame = {
    implicit val sp: SparkSession = corpus.sparkSession
    require(k >= 1 && overFetch >= 1, s"k and overFetch must be >= 1")
    val q = quantizedQuery(query, queryVecCol)
    val coarse = corpus
      .select(col(idCol), col(vecCol),
        VectorFunctions.quantizeInt8(col(vecCol)).as("__cq"))
      .crossJoin(broadcast(q))
      .select(col(idCol), col(vecCol), col("__qe"), col("__qn"),
        coarseCosSelf.as("approx_cos"))
      .orderBy(col("approx_cos").desc, col(idCol))
      .limit(k * overFetch)
    coarse
      .select(col(idCol),
        r4(VectorFunctions.dot(col(vecCol), col("__qe")) /
          (VectorFunctions.norm(col(vecCol)) * col("__qn"))).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col(idCol))
      .limit(k)
  }

  /** The reusable int8 projection of a float corpus — (idCol, `qvec`
    * binary, `qnorm2` = Σq² long), 65 bytes/64-dim vector vs 256.
    * Materialize this at ingest (write/persist) and serve repeated ANN
    * queries through [[quantizedTopKIndexed]] so the per-query full
    * scan touches int8 only. */
  def quantizeCorpus(corpus: DataFrame, idCol: String, vecCol: String): DataFrame = {
    implicit val sp: SparkSession = corpus.sparkSession
    corpus
      .select(col(idCol), VectorFunctions.quantizeInt8(col(vecCol)).as("qvec"))
      .select(col(idCol), col("qvec"),
        VectorFunctions.int8Dot(col("qvec"), col("qvec")).as("qnorm2"))
  }

  /** [[quantizedTopK]] over a pre-built [[quantizeCorpus]] projection:
    * the coarse pass scans `quantized` (1 byte/component — the 4×
    * bandwidth point), and only the `k × overFetch` survivors fetch
    * their float vectors from `corpus` by id for the exact rerank.
    * Returns the same result as the one-shot form on the same data. */
  def quantizedTopKIndexed(
      quantized: DataFrame,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      query: DataFrame,
      queryVecCol: String,
      k: Int,
      overFetch: Int = 4): DataFrame = {
    implicit val sp: SparkSession = corpus.sparkSession
    require(k >= 1 && overFetch >= 1, s"k and overFetch must be >= 1")
    val q = quantizedQuery(query, queryVecCol)
    val coarse = quantized
      .withColumnRenamed("qvec", "__cq")
      .crossJoin(broadcast(q))
      .select(col(idCol), coarseCos(col("qnorm2")).as("approx_cos"))
      .orderBy(col("approx_cos").desc, col(idCol))
      .limit(k * overFetch)
    coarse
      .join(corpus.select(col(idCol), col(vecCol)), Seq(idCol))
      .crossJoin(broadcast(q.select(col("__qe"), col("__qn"))))
      .select(col(idCol),
        r4(VectorFunctions.dot(col(vecCol), col("__qe")) /
          (VectorFunctions.norm(col(vecCol)) * col("__qn"))).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col(idCol))
      .limit(k)
  }

  /** Broadcastable single-row frame carrying the query's float vector,
    * float norm, int8 packing, and integer self-dot. */
  private def quantizedQuery(query: DataFrame, queryVecCol: String)(
      implicit sp: SparkSession): DataFrame =
    query.select(
      col(queryVecCol).as("__qe"),
      VectorFunctions.quantizeInt8(col(queryVecCol)).as("__qq"),
      VectorFunctions.norm(col(queryVecCol)).as("__qn"))
      .withColumn("__qs", VectorFunctions.int8Dot(col("__qq"), col("__qq")))

  /** Integer coarse cosine over (`__cq`, `__qq`, `__qs`) — ONE
    * definition shared by every quantized scoring site (one-shot,
    * indexed, IVF-SQ8) so the rounding/cast structure cannot
    * desynchronize. `selfDot` is the corpus row's Σq²: recomputed via
    * `Int8Dot(__cq, __cq)` by the on-the-fly forms, read from the
    * materialized `qnorm2` column by the indexed form — identical
    * longs, identical doubles. */
  private def coarseCos(selfDot: Column)(implicit sp: SparkSession): Column = {
    val den = sqrt(selfDot.cast("double")) * sqrt(col("__qs").cast("double"))
    // Spark 4's default ANSI mode raises DIVIDE_BY_ZERO even for DOUBLE
    // division, so a zero (degenerate) vector would crash the whole scan
    // (found by a generative property test). A zero
    // vector has no cosine: score it NULL — NULL drops through every
    // `>= threshold` admission filter and sorts LAST in every
    // descending rank, the same drop policy as the exact kernels' NaN.
    when(den =!= 0.0,
      r4(VectorFunctions.int8Dot(col("__cq"), col("__qq")).cast("double") / den))
  }

  /** The on-the-fly flavor of [[coarseCos]]. */
  private def coarseCosSelf(implicit sp: SparkSession): Column =
    coarseCos(VectorFunctions.int8Dot(col("__cq"), col("__cq")))

  // ================= Product quantization (PQ / ADC) =================

  /** The rotation a PQ index applies to every vector before the
    * subspace split (Ge et al., "Optimized Product Quantization",
    * CVPR'13). Each form has one exact `apply`; empty input stays
    * empty (the degenerate-row convention).
    *   - [[PqRotation.None]]: the identity. A float corpus widens to
    *     double exactly, with no fixed-point snap, so the raw tier's
    *     codes are those of the v20 oracle.
    *   - [[PqRotation.Hadamard]]: Walsh–Hadamard × an md5-parity ±1
    *     diagonal, in exact integer arithmetic ([[rotateFpD]]).
    *   - [[PqRotation.Trained]]: the OPQ-NP rotation `r` learned by
    *     Procrustes updates, applied in its 2^24-grid form `rq`
    *     ([[matVecFpQ]]), which the trained oracles inline as a
    *     literal CTE.
    * Rotations are orthogonal, so ⟨Rx, Rq⟩ = ⟨x, q⟩: norms, offsets
    * and the exact rerank stay in the original space. */
  sealed trait PqRotation extends Serializable {
    def apply(v: Array[Double]): Array[Double]
  }
  object PqRotation {
    case object None extends PqRotation {
      def apply(v: Array[Double]): Array[Double] = v
    }
    final case class Hadamard(signs: Array[Int]) extends PqRotation {
      def apply(v: Array[Double]): Array[Double] = rotateFpD(v, signs)
    }
    final case class Trained(r: Array[Array[Double]], rq: Array[Array[Long]])
        extends PqRotation {
      def apply(v: Array[Double]): Array[Double] = matVecFpQ(rq, v)
    }
  }

  /** A trained product-quantization index (Jégou et al., "Product
    * Quantization for Nearest Neighbor Search", TPAMI 2011): the
    * (rotated) vector space splits into `m` contiguous subspaces of
    * `dsub` components, each with its own codebook of `ksub` codewords
    * (`codebook(s)(c)`), and every corpus vector is stored as its m
    * nearest code ids bit-packed into `pq_code` plus its float norm.
    *
    * `coarse`, when present, is the IVF coarse quantizer (centroid,
    * norm) the index encodes RESIDUALS against (Jégou §IV.A): the
    * codebook then describes r = x − centroid(cluster(x)), `encoded`
    * carries each row's `cluster`, and serving adds the per-cluster
    * ⟨query, centroid⟩ term back. `rotation` applies to the vector
    * (direct) or to the residual (IVF) before the split.
    *
    * The packing is NON-SPANNING words of ⌊63/bits⌋ codes
    * ([[pqPerWord]]): a config with m × bits ≤ 63 packs into one word
    * and `pq_code` is a plain BIGINT (the v20–v26 oracle layout);
    * wider configs — ksub=256 ⇒ 8 bits × m=8 among them — carry
    * `pq_code` as ARRAY<BIGINT> ([[pqNumWords]] words). `ksub` is the
    * TRAINED codebook size (≤ the requested one when the corpus yields
    * fewer seeds); `bits` is fixed from the REQUESTED size, so layouts
    * are stable across retrains. `corpus` keeps (idCol, vecCol) for the
    * exact float rerank.
    *
    * Measured (`results/pq_sf1_r17.json`, sf1, 17k corpus): at rest the
    * 32-bit config is 293 KB vs SQ8's 1.33 MB vs 4.47 MB float. On the
    * near-isotropic synthetic corpus recall@10 climbs 0.19 → 0.45 at
    * overFetch=4 for ksub 16 → 128; on a planted-cluster corpus
    * (`results/pq_clustered_r19.json`) raw codes stay flat at ~0.17
    * while residual codes read 0.27 / 0.34 / 0.43 / 0.48 across ksub
    * 16/64/128/256 — use the residual form when an IVF exists. */
  final case class PqIndex(
      rotation: PqRotation,
      coarse: Option[Array[(Array[Double], Double)]],
      m: Int,
      ksub: Int,
      dsub: Int,
      bits: Int,
      codebook: Array[Array[Array[Double]]],
      encoded: DataFrame,
      corpus: DataFrame,
      idCol: String,
      vecCol: String) {
    /** The persisted tree's `kind`: `pq`, `rot-pq`, `opq-pq`,
      * `residual-pq`, `rot-residual-pq` or `opq-residual-pq`. */
    def kind: String = {
      val r = rotation match {
        case PqRotation.None => ""
        case _: PqRotation.Hadamard => "rot-"
        case _: PqRotation.Trained => "opq-"
      }
      r + (if (coarse.isDefined) "residual-pq" else "pq")
    }
  }

  private val pqKinds = Seq("pq", "rot-pq", "opq-pq",
    "residual-pq", "rot-residual-pq", "opq-residual-pq")

  /** Nearest codeword in subspace `s` by the FIXED-POINT squared-L2
    * distance — per-term `floor((x−c)²·2^24 + 0.5)` summed as longs, so
    * the metric is exact integer arithmetic (order-free, and replayed
    * verbatim by the oracles' SQL); ties break to the lower code id,
    * the convention of [[nearestCentroid]]. */
  private def pqNearestCode(
      cb: Array[Array[Array[Double]]], v: Array[Double], s: Int, dsub: Int): Int = {
    val sub = cb(s)
    var best = 0; var bestDist = Long.MaxValue
    var c = 0
    while (c < sub.length) {
      var dist = 0L
      var i = 0
      while (i < dsub) {
        val diff = v(s * dsub + i) - sub(c)(i)
        dist += math.floor(diff * diff * 16777216.0 + 0.5).toLong
        i += 1
      }
      if (dist < bestDist) { bestDist = dist; best = c }
      c += 1
    }
    best
  }

  /** One exact float→double widening per row. */
  private def toDoubles(v: Array[Float]): Array[Double] = {
    val d = new Array[Double](v.length)
    var i = 0
    while (i < v.length) { d(i) = v(i).toDouble; i += 1 }
    d
  }

  /** Codes-per-word of the NON-SPANNING `pq_code` packing: each 64-bit
    * word carries ⌊63/bits⌋ whole code fields (the sign bit stays
    * clear), and no code straddles a word boundary — so word 0 of any
    * config that fits one word is the historical single-long code. */
  private[graft] def pqPerWord(bits: Int): Int = math.max(1, 63 / bits)

  /** Words needed to pack `m` codes of `bits` bits each. */
  private[graft] def pqNumWords(m: Int, bits: Int): Int =
    (m + pqPerWord(bits) - 1) / pqPerWord(bits)

  /** Unpack a row's m code fields from its packed words into `codes`
    * (word = s / perWord, shift = (s mod perWord) × bits). */
  private def unpackPqCodes(
      words: Array[Long], codes: Array[Int],
      m: Int, bits: Int, perWord: Int): Unit = {
    val mask = (1L << bits) - 1
    var s = 0
    while (s < m) {
      codes(s) = ((words(s / perWord) >>> ((s % perWord) * bits)) & mask).toInt
      s += 1
    }
  }

  /** Encode one (rotated) vector's m nearest codes into packed words —
    * the inverse of [[unpackPqCodes]], shared by build and ingest. */
  private def encodePqWords(
      cb: Array[Array[Array[Double]]], vd: Array[Double],
      m: Int, dsub: Int, bits: Int, perWord: Int, nWords: Int): Array[Long] = {
    val w = new Array[Long](nWords)
    var s = 0
    while (s < m) {
      w(s / perWord) |= pqNearestCode(cb, vd, s, dsub).toLong << ((s % perWord) * bits)
      s += 1
    }
    w
  }

  /** Rank of probed cluster `cl` within query `q`'s probe set — the
    * popcount of mask bits BELOW `cl` in the query's ⌈k/64⌉-word probe
    * bitmask (base = q × words). [[probeClusters]] returns clusters in
    * ascending order, so this rank IS the cluster's slot in the
    * (q, probe-slot) offset layout. Caller guarantees cl's bit is set. */
  private def probeSlot(mk: Array[Long], base: Int, cl: Int): Int = {
    var rank = 0
    val word = cl / 64
    var w = 0
    while (w < word) { rank += java.lang.Long.bitCount(mk(base + w)); w += 1 }
    rank + java.lang.Long.bitCount(mk(base + word) & ((1L << (cl % 64)) - 1))
  }

  /** mapPartitions over an encoded (id, pq_code, nrm) scan with
    * layout-aware deserialization: a single-word index reads the plain
    * BIGINT column into ONE scratch word reused across the partition's
    * rows (no per-row array on the hot flat-kernel scans); a wide index
    * carries its words array natively. The kernel must not retain
    * `words` across rows. */
  private def scanEncoded3[O: org.apache.spark.sql.Encoder](
      encoded: DataFrame, idCol: String, nW: Int)(
      kernel: Iterator[(Long, Array[Long], Double)] => Iterator[O]): Dataset[O] = {
    val sp = encoded.sparkSession
    import sp.implicits._
    val cols = encoded.select(col(idCol).cast("long"), col("pq_code"), col("nrm"))
    if (nW == 1)
      cols.as[(Long, Long, Double)].mapPartitions { it =>
        val scratch = new Array[Long](1)
        kernel(it.map { r => scratch(0) = r._2; (r._1, scratch, r._3) })
      }
    else cols.as[(Long, Array[Long], Double)].mapPartitions(kernel)
  }

  /** [[scanEncoded3]] for the residual form's (id, pq_code, nrm,
    * cluster) scans. */
  private def scanEncoded4[O: org.apache.spark.sql.Encoder](
      encoded: DataFrame, idCol: String, nW: Int)(
      kernel: Iterator[(Long, Array[Long], Double, Int)] => Iterator[O]): Dataset[O] = {
    val sp = encoded.sparkSession
    import sp.implicits._
    val cols = encoded.select(col(idCol).cast("long"), col("pq_code"),
      col("nrm"), col("cluster").cast("int"))
    if (nW == 1)
      cols.as[(Long, Long, Double, Int)].mapPartitions { it =>
        val scratch = new Array[Long](1)
        kernel(it.map { r => scratch(0) = r._2; (r._1, scratch, r._3, r._4) })
      }
    else cols.as[(Long, Array[Long], Double, Int)].mapPartitions(kernel)
  }

  /** Loud layout guard for the loader: the encoded parquet's `pq_code`
    * type must agree with the meta's (m, bits) — a mixed or hand-edited
    * tree fails here, not as garbage scores. */
  private def requirePqCodeType(
      df: DataFrame, m: Int, bits: Int, where: String): Unit = {
    val nW = pqNumWords(m, bits)
    val dt = df.schema("pq_code").dataType
    val ok =
      if (nW == 1) dt == org.apache.spark.sql.types.LongType
      else dt == org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.LongType, false) ||
        dt == org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.LongType, true)
    require(ok,
      s"$where: encoded pq_code is $dt but meta (m=$m, bits=$bits) implies " +
        s"${if (nW == 1) "BIGINT (one word)" else s"ARRAY<BIGINT> ($nW words)"} " +
        "— the tree's encoded parquet does not match its meta.json")
  }

  /** The rotated forms need a power-of-4 dimension: the exact
    * 2^24·√dim rescale of [[rotateFpD]] (and the HD start of OPQ) needs
    * √dim a power of two. Loud at build, and at load, where a meta.json
    * implying another dimension is corrupt. */
  private def requirePowerOf4Dim(dim: Int, where: String): Unit = {
    val rt = math.sqrt(dim.toDouble).toLong
    require(rt * rt == dim && java.lang.Long.bitCount(rt) == 1,
      s"$where: dimension $dim is not a power-of-4 — the rotated forms " +
        "need √dim a power of two for the exact fixed-point rescale")
  }

  /** The deterministic ±1 diagonal D of the Hadamard rotation: the sign
    * of dimension i is the parity of the 60-bit md5 hash of "rot:i"
    * (TextDedup.mdHash's recipe), so the rotation is stable across
    * engines and re-runs, and SQL-replayable. */
  private[graft] def rotationSigns(dim: Int): Array[Int] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(dim) { i =>
      md.reset()
      val hex = md.digest(s"rot:$i".getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString.substring(0, 15)
      if (java.lang.Long.parseLong(hex, 16) % 2 == 0) 1 else -1
    }
  }

  /** Apply the HD rotation (Walsh–Hadamard × the [[rotationSigns]]
    * diagonal) in ORDER-FREE exact arithmetic: inputs snap to the 2^24
    * fixed-point grid, the transform is a signed integer sum, and the
    * result divides by 2^24·√dim (both powers of two for a power-of-4
    * dim), so every output double is exact and engine-portable.
    * Empty/NULL vectors rotate to empty; mixed dimensions are loud. */
  private[graft] def rotateFpD(v: Array[Double], signs: Array[Int]): Array[Double] = {
    if (v == null || v.isEmpty) return Array.empty[Double]
    if (v.length != signs.length)
      throw new IllegalArgumentException(
        s"mixed-dimension vector vs rotation: rotation dimension " +
          s"${signs.length} vs vector of ${v.length} components")
    val dim = signs.length
    val FP = 1L << 24
    val fp = new Array[Long](dim)
    var i = 0
    while (i < dim) {
      fp(i) = math.floor(v(i) * FP + 0.5).toLong * signs(i)
      i += 1
    }
    val root = math.sqrt(dim.toDouble)
    val out = new Array[Double](dim)
    var j = 0
    while (j < dim) {
      var acc = 0L
      var i2 = 0
      while (i2 < dim) {
        // Hadamard entry (−1)^popcount(i∧j) — the Sylvester construction
        acc += (if ((java.lang.Long.bitCount((i2 & j).toLong) & 1) == 0) fp(i2)
                else -fp(i2))
        i2 += 1
      }
      out(j) = acc.toDouble / FP / root
      j += 1
    }
    out
  }

  /** Snap a trained rotation to the 2^24 fixed-point grid: the
    * quantized matrix is pure integers, so applying it
    * ([[matVecFpQ]]) is an order-free exact sum on both engines, and
    * the oracle can inline it as a literal CTE. */
  private[graft] def quantizeRotation(r: Array[Array[Double]]): Array[Array[Long]] =
    r.map(_.map(x => math.floor(x * (1L << 24) + 0.5).toLong))

  /** y = (Rq · fp(x)) / 2^48 — [[rotateFpD]]'s exact-arithmetic recipe
    * for a quantized trained rotation: every output double is one IEEE
    * rounding of an exact int64, bit-identical in Spark and DuckDB.
    * Empty/NULL vectors rotate to empty; mixed dimensions are loud. */
  private[graft] def matVecFpQ(rq: Array[Array[Long]], v: Array[Double]): Array[Double] = {
    if (v == null || v.isEmpty) return Array.empty[Double]
    if (v.length != rq.length)
      throw new IllegalArgumentException(
        s"mixed-dimension vector vs rotation: rotation dimension " +
          s"${rq.length} vs vector of ${v.length} components")
    val dim = rq.length
    val FP = 1L << 24
    val fp = new Array[Long](dim)
    var i = 0
    while (i < dim) { fp(i) = math.floor(v(i) * FP + 0.5).toLong; i += 1 }
    val out = new Array[Double](dim)
    var j = 0
    while (j < dim) {
      val row = rq(j)
      var acc = 0L
      var i2 = 0
      while (i2 < dim) { acc += row(i2) * fp(i2); i2 += 1 }
      out(j) = acc.toDouble / FP / FP
      j += 1
    }
    out
  }

  /** y = R x, one fixed-order double dot per output component (OPQ's
    * training-time rotation of the direct form). */
  private def matVec(r: Array[Array[Double]], x: Array[Double]): Array[Double] = {
    val n = r.length
    val out = new Array[Double](n)
    var j = 0
    while (j < n) {
      val row = r(j)
      var acc = 0.0
      var i = 0
      while (i < n) { acc += row(i) * x(i); i += 1 }
      out(j) = acc
      j += 1
    }
    out
  }

  /** The Procrustes update of OPQ-NP (Ge et al., CVPR'13, Alg. 1):
    * given M = Σᵢ xᵢ ŷᵢᵀ, the orthogonal R maximizing tr(R M) is
    * V Uᵀ for M = U Σ Vᵀ. SVD by deterministic cyclic one-sided
    * Jacobi (fixed sweep order, relative threshold) — pure driver
    * arithmetic, bit-reproducible, no library dependency. Loud on rank
    * deficiency (a degenerate corpus has no defined rotation). */
  private[graft] def procrustesRotation(
      m0: Array[Array[Double]]): Array[Array[Double]] = {
    val n = m0.length
    val a = Array.tabulate(n, n)((i, j) => m0(i)(j))
    val v = Array.tabulate(n, n)((i, j) => if (i == j) 1.0 else 0.0)
    var sweep = 0
    var rotated = true
    while (sweep < 60 && rotated) {
      rotated = false
      var p = 0
      while (p < n - 1) {
        var q = p + 1
        while (q < n) {
          var app = 0.0; var aqq = 0.0; var apq = 0.0
          var i = 0
          while (i < n) {
            val x = a(i)(p); val y = a(i)(q)
            app += x * x; aqq += y * y; apq += x * y
            i += 1
          }
          if (math.abs(apq) > 1e-15 * math.sqrt(app * aqq)) {
            rotated = true
            val tau = (aqq - app) / (2 * apq)
            val t = math.signum(tau) / (math.abs(tau) + math.sqrt(1 + tau * tau))
            val c = 1 / math.sqrt(1 + t * t); val s = t * c
            var i2 = 0
            while (i2 < n) {
              val x = a(i2)(p); val y = a(i2)(q)
              a(i2)(p) = c * x - s * y; a(i2)(q) = s * x + c * y
              val vx = v(i2)(p); val vy = v(i2)(q)
              v(i2)(p) = c * vx - s * vy; v(i2)(q) = s * vx + c * vy
              i2 += 1
            }
          }
          q += 1
        }
        p += 1
      }
      sweep += 1
    }
    val u = Array.ofDim[Double](n, n)
    var j = 0
    while (j < n) {
      var nn = 0.0; var i = 0
      while (i < n) { nn += a(i)(j) * a(i)(j); i += 1 }
      val s = math.sqrt(nn)
      require(s > 1e-12,
        "procrustesRotation: rank-deficient x·ŷ correlation — the corpus is " +
          "degenerate along some direction; use the Hadamard rotation instead")
      i = 0
      while (i < n) { u(i)(j) = a(i)(j) / s; i += 1 }
      j += 1
    }
    Array.tabulate(n, n) { (i, jj) =>
      var acc = 0.0; var k = 0
      while (k < n) { acc += v(i)(k) * u(jj)(k); k += 1 }
      acc
    }
  }

  /** A build's working row: (id, x, norm of the ORIGINAL vector,
    * cluster), x the vector (direct) or its residual (IVF) as doubles —
    * empty for a degenerate row, which never seeds, trains or scores. */
  private type PqRow = (Long, Array[Double], Double, Int)

  /** Train a PQ index over (idCol, vecCol) and encode the corpus.
    *
    * `rotation` picks the [[PqRotation]]: "none" (v20), "hadamard"
    * (v29) or "opq" (v35; `opqIters` alternations of codebook training
    * and Procrustes update, started from the Hadamard rotation). The
    * rotated forms need a power-of-4 dimension. Build shape: hash-stride
    * seeding (one filter over ~2·ksub candidate rows, never a corpus
    * sort), `lloydIters` rounds of per-subspace Lloyd whose means are
    * ORDER-FREE exact fixed-point sums (bit-deterministic in any merge
    * order; all m subspaces train in the same corpus passes), empty
    * codes keeping their codeword, then one encode pass. `portableSeeds`
    * swaps the stride hash to the md5-derived hash both engines compute,
    * making build + encode + serve SQL-replayable — how v20 rides the
    * hash-exact oracle gate. NULL and empty vectors are skipped by
    * seeding and training and encode to zero codes with nrm 0; the
    * dimension comes from the first non-empty vector, and a vector of
    * another dimension is loud. */
  def pqBuild(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      m: Int = 8,
      ksub: Int = 16,
      lloydIters: Int = 2,
      portableSeeds: Boolean = false,
      rotation: String = "none",
      opqIters: Int = 3): PqIndex = {
    val sp = corpus.sparkSession
    import sp.implicits._
    val dim = corpus.select(col(vecCol)).filter(size(col(vecCol)) > 0)
      .as[Array[Float]].head(1).headOption.map(_.length)
      .getOrElse(throw new IllegalArgumentException(
        "pqBuild: empty corpus (no non-empty vectors)"))
    val src = corpus.select(col(idCol).cast("long"), col(vecCol))
      .as[(Long, Array[Float])]
      .map { case (id, v0) => directRow(id, v0, dim) }
    buildIndex(src, None, corpus.select(col(idCol), col(vecCol)), idCol, vecCol,
      dim, m, ksub, lloydIters, portableSeeds, rotation, opqIters)
  }

  /** [[pqBuild]] over an [[IvfIndex]]: the codebook trains on the
    * RESIDUALS r = x − centroid(cluster(x)) (Jégou §IV.A — the codewords
    * spend their precision on the within-cluster geometry instead of
    * re-describing the coarse structure), rotated by `rotation` before
    * the split (the FAISS `OPQ,IVF,PQ` chain for "hadamard"/"opq").
    * Every fixed-point decision is the expression the v23/v30/v36
    * oracles replay over `ve[i] − comp`. Rows in cluster −1 (degenerate
    * vectors) encode to zero codes with nrm 0. The coarse quantizer is
    * unchanged: re-training it means a new [[ivfBuild]] and a new
    * residual build. */
  def residualPqBuild(
      ivf: IvfIndex,
      m: Int = 8,
      ksub: Int = 16,
      lloydIters: Int = 2,
      portableSeeds: Boolean = false,
      rotation: String = "none",
      opqIters: Int = 3): PqIndex = {
    require(ivf.centroids.nonEmpty, "residualPqBuild: index has no centroids")
    val sp = ivf.assigned.sparkSession
    import sp.implicits._
    val dim = ivf.centroids(0)._1.length
    val bcC = sp.sparkContext.broadcast(ivf.centroids)
    val src = ivf.assigned
      .select(col(ivf.idCol).cast("long"), col(ivf.vecCol), col("cluster").cast("int"))
      .as[(Long, Array[Float], Int)]
      .map { case (id, v0, cl) => residualRow(id, v0, cl, bcC.value) }
    buildIndex(src, Some(ivf.centroids),
      ivf.assigned.select(col(ivf.idCol), col(ivf.vecCol)), ivf.idCol, ivf.vecCol,
      dim, m, ksub, lloydIters, portableSeeds, rotation, opqIters)
  }

  private def requireDim(n: Int, dim: Int): Unit =
    if (n != 0 && n != dim)
      throw new IllegalArgumentException(
        s"mixed-dimension vectors: index dimension $dim vs a vector of $n components")

  private def directRow(id: Long, v0: Array[Float], dim: Int): PqRow = {
    val v = if (v0 == null) Array.empty[Float] else v0
    requireDim(v.length, dim)
    (id, toDoubles(v), normF(v), 0)
  }

  private def residualRow(
      id: Long, v0: Array[Float], cl: Int,
      cents: Array[(Array[Double], Double)]): PqRow = {
    val v = if (v0 == null) Array.empty[Float] else v0
    if (cl < 0 || v.isEmpty) (id, Array.empty[Double], 0.0, cl)
    else {
      val cent = cents(cl)._1
      requireDim(v.length, cent.length)
      val r = new Array[Double](v.length)
      var j = 0
      while (j < v.length) { r(j) = v(j).toDouble - cent(j); j += 1 }
      (id, r, normF(v), cl)
    }
  }

  private def buildIndex(
      src: Dataset[PqRow],
      coarse: Option[Array[(Array[Double], Double)]],
      corpusSel: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      m: Int,
      ksub: Int,
      lloydIters: Int,
      portableSeeds: Boolean,
      rotation: String,
      opqIters: Int): PqIndex = {
    require(m >= 1 && ksub >= 2 && lloydIters >= 0,
      s"bad m=$m / ksub=$ksub / lloydIters=$lloydIters")
    val bits = math.max(1, 32 - Integer.numberOfLeadingZeros(ksub - 1))
    // 16 bits (ksub 65536) is where per-subspace codebooks stop being
    // "product" quantization in any meaningful sense
    require(bits <= 16, s"ksub=$ksub needs $bits-bit codes — beyond the " +
      "16-bit sanity cap (a codebook that large is not a PQ tier)")
    require(dim % m == 0, s"m=$m must divide dim=$dim")
    require(Seq("none", "hadamard", "opq").contains(rotation),
      s"rotation must be none, hadamard or opq, got '$rotation'")
    if (rotation != "none") requirePowerOf4Dim(dim, s"pqBuild($rotation)")
    val sp = src.sparkSession
    import sp.implicits._
    // OPQ reads the source once per alternation: cache it for the build
    val cached = if (rotation == "opq") src.persist() else src
    try {
      val rot: PqRotation = rotation match {
        case "none" => PqRotation.None
        case "hadamard" => PqRotation.Hadamard(rotationSigns(dim))
        case _ => trainOpq(cached, coarse.isDefined, idCol, dim, m, ksub,
          lloydIters, opqIters, portableSeeds)
      }
      // must stay alive: the returned index's lazy encoded frame reads it
      val bcRot = sp.sparkContext.broadcast(rot)
      val y = cached.map { case (id, x, nrm, cl) => (id, bcRot.value(x), nrm, cl) }
      val (cb, encoded) = trainAndEncode(y, idCol, dim, m, ksub, bits, lloydIters,
        portableSeeds, coarse.isDefined)
      PqIndex(rot, coarse, m, cb(0).length, dim / m, bits, cb, encoded, corpusSel,
        idCol, vecCol)
    } finally if (rotation == "opq") cached.unpersist(blocking = false)
  }

  /** Seeding + fixed-point Lloyd over a (rotated) build frame, then
    * the encoded frame: (idCol, pq_code, nrm[, cluster]). Owns `y0`'s
    * persist lifecycle. */
  private def trainAndEncode(
      y0: Dataset[PqRow],
      idCol: String,
      dim: Int,
      m: Int,
      ksub: Int,
      bits: Int,
      lloydIters: Int,
      portableSeeds: Boolean,
      withCluster: Boolean): (Array[Array[Array[Double]]], DataFrame) = {
    val sp = y0.sparkSession
    import sp.implicits._
    val y = y0.persist()
    val cb =
      try lloyd(y, idCol, dim, m, ksub, lloydIters, portableSeeds)
      catch { case t: Throwable => y.unpersist(blocking = false); throw t }
    val bcF = sp.sparkContext.broadcast(cb)
    val dsub = dim / m
    val perW = pqPerWord(bits); val nW = pqNumWords(m, bits)
    val enc = encodedFrame(y.map { case (id, yy, nrm, cl) =>
      if (yy.isEmpty) (id, new Array[Long](nW), 0.0, cl)
      else (id, encodePqWords(bcF.value, yy, m, dsub, bits, perW, nW), nrm, cl)
    }, idCol, nW, withCluster)
    y.unpersist(blocking = false)
    (cb, enc)
  }

  /** (id, words, nrm, cluster) rows as [[PqIndex.encoded]]: `pq_code`
    * is a plain BIGINT for a one-word layout, else the words array;
    * `cluster` only on the IVF form. */
  private def encodedFrame(
      rows: Dataset[(Long, Array[Long], Double, Int)],
      idCol: String, nW: Int, withCluster: Boolean): DataFrame =
    rows.select(Seq(col("_1").as(idCol),
      (if (nW == 1) col("_2")(0) else col("_2")).as("pq_code"),
      col("_3").as("nrm")) ++ (if (withCluster) Seq(col("_4").as("cluster")) else Nil): _*)

  /** The codebook of a persisted build frame: deterministic hash-stride
    * seeds, then `lloydIters` rounds of order-free fixed-point means. */
  private def lloyd(
      y: Dataset[PqRow],
      idCol: String,
      dim: Int,
      m: Int,
      ksub: Int,
      lloydIters: Int,
      portableSeeds: Boolean): Array[Array[Array[Double]]] = {
    val sp = y.sparkSession
    import sp.implicits._
    val n = y.count()
    require(n > 0, "pqBuild: empty corpus")
    val strideMod = math.max(1L, n / (2L * ksub))
    val seedHash =
      if (portableSeeds) TextDedup.mdHash(col(idCol).cast("string"))
      else xxhash64(col(idCol))
    val seeds = y.toDF(idCol, "__y", "nrm", "cluster")
      .filter(size(col("__y")) === dim)
      .filter(pmod(seedHash, lit(strideMod)) === 0)
      // the vector breaks ties between rows that share an id, so the
      // seeds do not depend on row order or partitioning
      .orderBy(seedHash, col(idCol), col("__y"))
      .limit(ksub)
      .select(col(idCol), col("__y"))
      .as[(Long, Array[Double])]
      .collect()
    require(seeds.nonEmpty, "pqBuild: stride seeding found no rows")
    val kEff = seeds.length
    val dsub = dim / m
    var cb: Array[Array[Array[Double]]] =
      Array.tabulate(m, kEff, dsub) { (s, c, i) => seeds(c)._2(s * dsub + i) }
    val FP = 1L << 24
    for (_ <- 0 until lloydIters) {
      val bc = sp.sparkContext.broadcast(cb)
      val means = y
        .flatMap { case (_, yy, _, _) =>
          if (yy.isEmpty) Iterator.empty
          else (0 until m).iterator.map { s =>
            val fp = new Array[Long](dsub)
            var i = 0
            while (i < dsub) { fp(i) = math.round(yy(s * dsub + i) * FP); i += 1 }
            (s * ksub + pqNearestCode(bc.value, yy, s, dsub), fp, 1L)
          }
        }
        .groupByKey(_._1)
        .reduceGroups { (a: (Int, Array[Long], Long), b: (Int, Array[Long], Long)) =>
          val acc = new Array[Long](a._2.length)
          var i = 0
          while (i < acc.length) { acc(i) = a._2(i) + b._2(i); i += 1 }
          (a._1, acc, a._3 + b._3)
        }
        .map { case (key, (_, fp, cnt)) => (key, fp.map(_.toDouble / FP / cnt)) }
        .collect()
        .toMap
      // dead once the means are collected — destroy eagerly, or a
      // tuning sweep building many indexes leaks broadcast blocks
      bc.destroy()
      cb = Array.tabulate(m, kEff, dsub) { (s, c, i) =>
        means.get(s * ksub + c) match {
          case Some(mean) => mean(i)
          case None => cb(s)(c)(i) // empty code keeps its codeword
        }
      }
    }
    cb
  }

  /** OPQ-NP (Ge et al., CVPR'13, Algorithm 1): alternate codebook
    * training over y = R x with the Procrustes update R ← V Uᵀ of
    * M = Σ xᵢ ŷᵢᵀ (ŷ the codeword reconstruction), from the Hadamard
    * rotation. M accumulates as ORDER-FREE fixed-point integer sums and
    * the SVD is the deterministic Jacobi above, so the rotation is
    * bit-reproducible. The direct form trains on float-rounded R x and
    * correlates against the unrounded product; the residual form
    * applies the quantized R throughout. Only the SVD stays off the
    * oracle: the final build applies the quantized R exactly, which the
    * trained oracles inline. `src` must be persisted by the caller. */
  private def trainOpq(
      src: Dataset[PqRow],
      residual: Boolean,
      idCol: String,
      dim: Int,
      m: Int,
      ksub: Int,
      lloydIters: Int,
      opqIters: Int,
      portableSeeds: Boolean): PqRotation.Trained = {
    require(opqIters >= 1, s"opqIters must be >= 1, got $opqIters")
    val sp = src.sparkSession
    import sp.implicits._
    val dsub = dim / m
    val signs = rotationSigns(dim)
    val root = math.sqrt(dim.toDouble)
    // HD start: R0(j)(i) = D(i)·(−1)^popcount(i∧j)/√dim
    var r: Array[Array[Double]] = Array.tabulate(dim, dim) { (j, i) =>
      val h = if ((java.lang.Long.bitCount((i & j).toLong) & 1) == 0) 1.0 else -1.0
      h * signs(i) / root
    }
    val FP = 1L << 24
    for (_ <- 0 until opqIters - 1) {
      val bcR = sp.sparkContext.broadcast((r, quantizeRotation(r)))
      def rotate(x: Array[Double], exact: Boolean): Array[Double] =
        if (x.isEmpty) x
        else if (residual) matVecFpQ(bcR.value._2, x)
        else if (exact) matVec(bcR.value._1, x)
        else matVec(bcR.value._1, x).map(_.toFloat.toDouble)
      val yIt = src.map { case (id, x, nrm, cl) => (id, rotate(x, false), nrm, cl) }
        .persist()
      val cb = try lloyd(yIt, idCol, dim, m, ksub, lloydIters, portableSeeds)
               finally yIt.unpersist(blocking = false)
      val bcCb = sp.sparkContext.broadcast(cb)
      val mFp = src.mapPartitions { rows =>
        val acc = new Array[Long](dim * dim)
        val cw = bcCb.value
        rows.foreach { case (_, x, _, _) =>
          if (x.nonEmpty) {
            val yv = rotate(x, true)
            val yhat = new Array[Double](dim)
            var s = 0
            while (s < m) {
              val c = cw(s)(pqNearestCode(cw, yv, s, dsub))
              var i = 0
              while (i < dsub) { yhat(s * dsub + i) = c(i); i += 1 }
              s += 1
            }
            var a = 0
            while (a < dim) {
              var b = 0
              while (b < dim) {
                acc(a * dim + b) += math.round(x(a) * yhat(b) * FP)
                b += 1
              }
              a += 1
            }
          }
        }
        Iterator.single(acc)
      }.reduce { (l, rgt) =>
        val out = new Array[Long](l.length)
        var i = 0
        while (i < l.length) { out(i) = l(i) + rgt(i); i += 1 }
        out
      }
      bcCb.destroy(); bcR.destroy()
      r = procrustesRotation(Array.tabulate(dim, dim)((a, b) => mFp(a * dim + b).toDouble / FP))
    }
    PqRotation.Trained(r, quantizeRotation(r))
  }

  /** Encode NEW vectors against an index's EXISTING codebook — the
    * between-retrains ingest path, mirroring [[ivfAssign]]: one
    * broadcast of the codebook, one map over the batch, codes by the
    * build's own rotation and integer metric, so a batch row identical
    * to a corpus row gets the identical code (and, on the IVF form, the
    * identical cluster: rows assign to their nearest centroid, ties to
    * the lower cluster). Returns [[PqIndex.encoded]]'s row shape.
    * Degenerate (empty/NULL) vectors encode to zero codes with nrm 0
    * (cluster −1 on the IVF form) and never score; mixed dimensions are
    * loud. */
  def pqEncode(index: PqIndex, batch: DataFrame): DataFrame = {
    val sp = batch.sparkSession
    import sp.implicits._
    val bc = sp.sparkContext.broadcast((index.codebook, index.rotation,
      index.coarse.getOrElse(Array.empty[(Array[Double], Double)])))
    val dim = index.m * index.dsub
    val m = index.m; val dsub = index.dsub; val bits = index.bits
    val perW = pqPerWord(bits); val nW = pqNumWords(m, bits)
    val src = batch.select(col(index.idCol).cast("long"), col(index.vecCol))
      .as[(Long, Array[Float])]
    encodedFrame(src.map { case (id, v) =>
      val (cb, rot, cents) = bc.value
      val (w, nrm, cl) = encodeBatchRow(cb, rot, cents, v, dim, m, dsub, bits, perW, nW)
      (id, w, nrm, cl)
    }, index.idCol, nW, index.coarse.isDefined)
  }

  /** [[pqEncode]]'s per-row body, at object level so the map closures
    * capture only the broadcast and primitives. */
  private def encodeBatchRow(
      cb: Array[Array[Array[Double]]], rot: PqRotation,
      cents: Array[(Array[Double], Double)], v0: Array[Float], dim: Int,
      m: Int, dsub: Int, bits: Int, perW: Int, nW: Int): (Array[Long], Double, Int) = {
    val v = if (v0 == null) Array.empty[Float] else v0
    if (cents.isEmpty) {
      requireDim(v.length, dim)
      val words = if (v.isEmpty) new Array[Long](nW)
                  else encodePqWords(cb, rot(toDoubles(v)), m, dsub, bits, perW, nW)
      (words, normF(v), 0)
    } else {
      checkAssignDim(cents, v)
      val cl = if (v.isEmpty) -1 else nearestCentroid(cents, v)
      if (cl < 0) (new Array[Long](nW), 0.0, -1)
      else {
        val (_, r, nrm, _) = residualRow(0L, v, cl, cents)
        (encodePqWords(cb, rot(r), m, dsub, bits, perW, nW), nrm, cl)
      }
    }
  }

  /** The growing-index fold, mirroring [[ivfAppend]]: `batch` encoded
    * by [[pqEncode]] joins `index.encoded` (and its floats the rerank
    * corpus), so the new rows serve immediately through every arm. The
    * codebook (and any coarse quantizer) is unchanged by design —
    * re-coding the world is [[pqBuild]]'s periodic job. */
  def pqAppend(index: PqIndex, batch: DataFrame): PqIndex =
    index.copy(
      encoded = index.encoded.unionByName(pqEncode(index, batch)),
      corpus = index.corpus.unionByName(
        batch.select(col(index.idCol), col(index.vecCol))))

  /** Per-query norm + integer ADC LUT: per-term
    * `floor(y·c·2^24 + 0.5)` over the ROTATED query y against every
    * codeword, while the norm stays the ORIGINAL vector's (NaN degrades
    * to 0, so a NaN-poisoned query answers nothing, matching
    * [[heapOffer]]'s NaN refusal). A short or empty y zero-fills its
    * LUT (qn = 0 then makes the content irrelevant). */
  private def lutRow(
      codebook: Array[Array[Array[Double]]], rot: PqRotation,
      v: Array[Float], m: Int, ksub: Int, dsub: Int): (Double, Array[Long]) = {
    val FP = 1L << 24
    val y = rot(toDoubles(v))
    val qn = { val n = normF(v); if (n.isNaN) 0.0 else n }
    val lut = new Array[Long](m * ksub)
    var s = 0
    while (s < m) {
      var c = 0
      while (c < ksub) {
        var acc = 0L
        var i = 0
        while (i < dsub && s * dsub + i < y.length) {
          acc += math.floor(y(s * dsub + i) * codebook(s)(c)(i) * FP + 0.5).toLong
          i += 1
        }
        lut(s * ksub + c) = acc
        c += 1
      }
      s += 1
    }
    (qn, lut)
  }

  /** Fixed-point ⟨v, centroid(c)⟩ — the term residual encoding drops,
    * added back at serve time (same per-term convention as the LUT). */
  private def centroidOffset(v: Array[Float], cent: Array[Double]): Long = {
    val FP = 1L << 24
    var acc = 0L
    var i = 0
    while (i < cent.length) {
      acc += math.floor(v(i).toDouble * cent(i) * FP + 0.5).toLong
      i += 1
    }
    acc
  }

  /** ANN top-k from a [[PqIndex]] by asymmetric distance computation
    * (ADC): the driver builds ONE integer LUT of fixed-point
    * ⟨rotated-query-subvector, codeword⟩ partial dots (m × ksub longs,
    * inlined into the scoring expression as an array literal), and the
    * coarse pass over the codes is m table lookups + integer adds per
    * row via a codegen'd `aggregate` HOF, reading only (id, pq_code,
    * nrm[, cluster]). On the IVF form the pass reads only the `nprobe`
    * nearest clusters (a DIRECT `cluster IN (…)` filter — partition
    * pruning on a [[pqSave]]d tree) and each row adds its cluster's
    * ⟨q, centroid⟩ offset. Integer LUT + integer sums make the coarse
    * ranking bit-exact across engines (the oracle gates ride this).
    * The `topK × overFetch` survivors fetch their floats by id for the
    * exact rerank (r4-rounded cosine, id tie-break), so quantization
    * costs recall only past the overFetch margin, never the precision
    * of returned scores. Degenerate (zero-norm) rows and queries score
    * NULL and are dropped — a degenerate query returns empty. */
  def pqTopK(
      index: PqIndex,
      query: Array[Float],
      topK: Int = 10,
      overFetch: Int = 4,
      filter: Column = lit(true),
      nprobe: Int = 4): DataFrame = index.coarse match {
    case Some(cents) =>
      require(nprobe >= 1, "nprobe must be >= 1")
      require(query.length == index.m * index.dsub,
        s"query dim ${query.length} != index dim ${index.m * index.dsub}")
      // offsets for the PROBED clusters only, inlined as an
      // nprobe-branch CASE on the row's cluster; a degenerate query
      // probes nothing, so the 0 literal only keeps the plan typed
      val probed = probeClusters(cents, query, nprobe)
      val offExpr =
        if (probed.isEmpty) lit(0L)
        else expr("CASE cluster " + probed.map { c =>
            s"WHEN $c THEN ${centroidOffset(query, cents(c)._1)}L"
          }.mkString(" ") + " ELSE CAST(0 AS BIGINT) END")
      adcServe(index, query, topK, overFetch,
        index.encoded.filter(filter).filter(col("cluster").isin(probed: _*)),
        Some(offExpr))
    case _ => adcServe(index, query, topK, overFetch, index.encoded.filter(filter), None)
  }

  /** IVF-PQ over a DIRECT index — the FAISS `IVF<k>,PQ<m>` composition
    * v21 replays: the IVF probe keeps ~nprobe/k of the corpus through a
    * left-semi join from the IVF assignment, and the kept rows go
    * through [[pqTopK]]'s ADC scan and exact rerank. Probe selection is
    * [[probeClusters]] (identical to [[ivfTopK]] and the oracle). */
  def ivfPqTopK(
      ivf: IvfIndex,
      index: PqIndex,
      query: Array[Float],
      topK: Int = 10,
      nprobe: Int = 4,
      overFetch: Int = 4,
      filter: Column = lit(true)): DataFrame = {
    require(ivf.idCol == index.idCol,
      s"indexes disagree on the id column: ${ivf.idCol} vs ${index.idCol}")
    require(index.coarse.isEmpty,
      "ivfPqTopK composes an IVF probe with a DIRECT index; a residual index probes itself")
    val probedIds = ivf.assigned
      .filter(col("cluster").isin(probeClusters(ivf.centroids, query, nprobe): _*))
      .select(col(ivf.idCol))
    adcServe(index, query, topK, overFetch,
      index.encoded.filter(filter).join(probedIds, Seq(index.idCol), "left_semi"), None)
  }

  /** The ADC scan of `scan` (a subset of `index.encoded`) + exact
    * rerank. `offset`, when present, is a BIGINT column added to every
    * row's LUT sum before the fixed-point rescale; without it the plan
    * is exactly the v20/v21 oracle-gated expression. */
  private def adcServe(
      index: PqIndex,
      query: Array[Float],
      topK: Int,
      overFetch: Int,
      scan: DataFrame,
      offset: Option[Column]): DataFrame = {
    implicit val sp: SparkSession = scan.sparkSession
    val m = index.m; val ksub = index.ksub; val bits = index.bits
    require(topK >= 1 && overFetch >= 1, "topK and overFetch must be >= 1")
    require(query.length == m * index.dsub,
      s"query dim ${query.length} != index dim ${m * index.dsub}")
    // the LUT is inlined as a SQL array literal: bound the expression
    // text; the batch arm broadcasts its LUTs instead
    require(m * ksub <= 65536,
      s"pqTopK inlines the LUT as a literal: m=$m × ksub=$ksub " +
        s"= ${m * ksub} entries exceeds the 65536 cap — use " +
        "pqTopKBatch (broadcast LUT) for codebooks this large")
    val FP = 1L << 24
    val lut = lutRow(index.codebook, index.rotation, query, m, ksub, index.dsub)._2
    val lutArr = lut.mkString("array(", "L, ", "L)")
    val mask = (1L << bits) - 1
    // the single-word layout keeps the historical expression verbatim;
    // the wide layout indexes the words array with the kernels' decode
    val codeField = {
      val perW = pqPerWord(bits)
      if (pqNumWords(m, bits) == 1) s"shiftright(pq_code, s * $bits)"
      else s"shiftright(element_at(pq_code, CAST(s div $perW AS INT) + 1), " +
        s"CAST((s % $perW) * $bits AS INT))"
    }
    val adcSum = expr(
      s"aggregate(sequence(0, ${m - 1}), CAST(0 AS BIGINT), " +
        s"(a, s) -> a + element_at($lutArr, " +
        s"CAST(s * $ksub + ($codeField & $mask) + 1 AS INT)))")
    val adc = offset.map(_ + adcSum).getOrElse(adcSum)
    // normF, not lutRow's NaN-degraded norm: a NaN query scores NaN on
    // every row, and the filter below drops them all
    val qNorm = normF(query)
    val coarse = scan
      .select(col(index.idCol),
        when(col("nrm") =!= 0.0 && lit(qNorm) =!= 0.0,
          r4(adc.cast("double") / lit(FP.toDouble) / (col("nrm") * lit(qNorm))))
          .as("approx_cos"))
      // NULL scores (zero-norm row or query) and NaN scores (a
      // NaN-poisoned vector — NaN sorts FIRST under desc) are dropped,
      // keeping this form result-identical to the batch kernel's
      .filter(col("approx_cos").isNotNull && !isnan(col("approx_cos")))
      .orderBy(col("approx_cos").desc, col(index.idCol))
      .limit(topK * overFetch)
    val q = sp.range(1).select(typedLit(query).as("__qe"))
      .select(col("__qe"), VectorFunctions.norm(col("__qe")).as("__qn"))
    coarse
      .join(index.corpus.select(col(index.idCol), col(index.vecCol)), Seq(index.idCol))
      .crossJoin(broadcast(q))
      .select(col(index.idCol),
        r4(VectorFunctions.dot(col(index.vecCol), col("__qe")) /
          (VectorFunctions.norm(col(index.vecCol)) * col("__qn"))).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col(index.idCol))
      .limit(topK)
  }

  /** A query/ingest batch as the batch kernels read it, broadcast once:
    * per query its id, original norm (0 = answers nothing), m × ksub
    * LUT entries at `luts(q × m·ksub)`, and on the IVF form its probed
    * clusters' ⟨q, centroid⟩ offsets in (q, probe-slot) layout plus a
    * ⌈k/64⌉-word probe bitmask (`words` per query). */
  private final case class PqBatch(
      ids: Array[Long], qns: Array[Double], luts: Array[Long],
      offs: Array[Long], masks: Array[Long], words: Int, nprobe: Int)

  /** Collect a query/ingest batch into a [[PqBatch]]. The LUTs are built
    * in a DISTRIBUTED map over the frame (one codebook broadcast; the
    * driver collects the packed longs, plus the floats when
    * `keepVectors` — the batch rerank and the IVF probe need them).
    * Degenerate (empty, zero, NaN, NULL) vectors keep qn = 0 and probe
    * nothing. Mixed dimensions are loud, from the executor (callers see
    * the IllegalArgumentException wrapped in a SparkException). Every
    * cap is checked against the COLLECTED length. */
  private def collectBatch(
      index: PqIndex,
      frame: DataFrame,
      idColName: String,
      vecColName: String,
      nprobe: Int,
      opName: String,
      keepVectors: Boolean): (Array[(Long, Array[Float])], PqBatch) = {
    val sp = frame.sparkSession
    import sp.implicits._
    val m = index.m; val ksub = index.ksub; val dsub = index.dsub
    val dim = m * dsub
    val stride = m * ksub
    val nPre = frame.select(col(idColName)).count()
    require(nPre <= maxExactRows,
      s"$opName got $nPre batch rows — the broadcast batch side is " +
        s"capped at $maxExactRows; chunk the batch")
    val keep = keepVectors || index.coarse.isDefined
    val rot = index.rotation
    val bcCb = sp.sparkContext.broadcast(index.codebook)
    val collected = frame.select(col(idColName).cast("long"), col(vecColName))
      .as[(Long, Array[Float])]
      .map { case (q, v0) =>
        // a NULL vector (nullable streaming source) degrades like the
        // empty one: one bad row must not kill a serving stream
        val v = if (v0 == null) Array.empty[Float] else v0
        if (v.nonEmpty && v.length != dim)
          throw new IllegalArgumentException(
            s"mixed-dimension batch vs index: index dimension $dim vs " +
              s"batch vector of ${v.length} components")
        val (qn, lut) = lutRow(bcCb.value, rot, v, m, ksub, dsub)
        (q, if (keep) v else Array.empty[Float], qn, lut)
      }.collect()
    bcCb.destroy()
    val nQ = collected.length
    require(nQ <= maxExactRows && nQ.toLong * stride <= Int.MaxValue,
      s"$opName collected $nQ batch rows × $stride LUT entries — over the " +
        s"broadcast cap ($maxExactRows rows, ${Int.MaxValue} LUT longs); " +
        "chunk the batch")
    val qns = collected.map(_._3)
    val luts = new Array[Long](nQ * stride)
    collected.indices.foreach { j =>
      System.arraycopy(collected(j)._4, 0, luts, j * stride, stride)
    }
    val cents = index.coarse.getOrElse(Array.empty[(Array[Double], Double)])
    val words = (cents.length + 63) / 64
    require(nQ.toLong * nprobe <= Int.MaxValue && nQ.toLong * words <= Int.MaxValue,
      s"$opName: $nQ queries × $nprobe offsets (or × $words mask words) " +
        "exceeds the broadcast layout; chunk the batch")
    val offs = new Array[Long](if (cents.isEmpty) 0 else nQ * nprobe)
    val masks = new Array[Long](nQ * words)
    if (cents.nonEmpty) collected.indices.foreach { j =>
      if (qns(j) != 0.0)
        probeClusters(cents, collected(j)._2, nprobe).zipWithIndex.foreach {
          case (cl, slot) =>
            masks(j * words + cl / 64) |= 1L << (cl % 64)
            offs(j * nprobe + slot) = centroidOffset(collected(j)._2, cents(cl)._1)
        }
    }
    (collected.map(t => (t._1, t._2)),
      PqBatch(collected.map(_._1), qns, luts, offs, masks, words, nprobe))
  }

  /** What a batch scan does with each scored (query, row) pair. */
  private abstract class AdcSink[O] {
    def offer(q: Int, nid: Long, score: Double): Unit
    /** Output due once a row's pairs are offered. */
    def afterRow(): Iterator[O]
    /** Output due at the end of the partition. */
    def finish(): Iterator[O]
  }

  /** Bounded per-query heaps of the `keep` best rows (the
    * [[partialTopK]] combiner fused into the scan). */
  private final class HeapSink(ids: Array[Long], keep: Int)
      extends AdcSink[(Long, Long, Double)] {
    private val heaps = Array.fill(ids.length)(
      scala.collection.mutable.PriorityQueue.empty[(Double, Long)](heapWorst))
    def offer(q: Int, nid: Long, score: Double): Unit =
      heapOffer(heaps(q), score, nid, keep)
    def afterRow(): Iterator[(Long, Long, Double)] = Iterator.empty
    def finish(): Iterator[(Long, Long, Double)] =
      heaps.iterator.zipWithIndex.flatMap { case (h, q) =>
        h.iterator.map { case (sc, nid) => (ids(q), nid, sc) }
      }
  }

  /** Threshold admission: every (batch row, corpus row) pair whose
    * approximate cosine reaches `bound`, emitted row by row. */
  private final class AdmitSink(ids: Array[Long], bound: Double)
      extends AdcSink[(Long, Long)] {
    private val hits = Array.newBuilder[(Long, Long)]
    private var n = 0
    def offer(q: Int, nid: Long, score: Double): Unit =
      if (!score.isNaN && score >= bound) { hits += ((ids(q), nid)); n += 1 }
    def afterRow(): Iterator[(Long, Long)] =
      if (n == 0) Iterator.empty
      else { n = 0; val out = hits.result(); hits.clear(); out.iterator }
    def finish(): Iterator[(Long, Long)] = Iterator.empty
  }

  /** The batch ADC kernel: ONE pass over `index.encoded` scoring every
    * live row against every batch query — unpack the row's m codes
    * once, then m LUT adds per (row, query), rounded exactly like the
    * expression form (so batch == per-query, pinned by the specs and
    * the v22/v25 oracles). The IVF form scores a row only against
    * queries whose probe mask holds its cluster (row pruning without a
    * join) and adds the (query, cluster) offset first. This is a FLAT
    * scan, not a join: the broadcast-crossJoin form measured 8.5 vs
    * 0.57 ms/query at sf1 (`results/pq_sf1_r17.json`). */
  private def adcScan[O: org.apache.spark.sql.Encoder](
      index: PqIndex, bc: org.apache.spark.broadcast.Broadcast[PqBatch])(
      sink: PqBatch => AdcSink[O]): Dataset[O] = {
    val m = index.m; val ksub = index.ksub; val bits = index.bits
    val perW = pqPerWord(bits); val nW = pqNumWords(m, bits)
    val stride = m * ksub
    if (index.coarse.isEmpty)
      scanEncoded3[O](index.encoded, index.idCol, nW) { it =>
        val b = bc.value
        val out = sink(b)
        val codes = new Array[Int](m)
        it.flatMap { case (nid, words, nrm) =>
          if (nrm != 0.0) {
            unpackPqCodes(words, codes, m, bits, perW)
            var q = 0
            while (q < b.ids.length) {
              val qn = b.qns(q)
              if (qn != 0.0)
                out.offer(q, nid, adcCos(lutSum(b.luts, q * stride, codes, m, ksub), nrm, qn))
              q += 1
            }
          }
          out.afterRow()
        } ++ out.finish()
      }
    else
      scanEncoded4[O](index.encoded, index.idCol, nW) { it =>
        val b = bc.value
        val out = sink(b)
        val codes = new Array[Int](m)
        it.flatMap { case (nid, words, nrm, cl) =>
          if (nrm != 0.0 && cl >= 0) {
            var unpacked = false
            var q = 0
            while (q < b.ids.length) {
              val qn = b.qns(q)
              if (qn != 0.0 &&
                  (b.masks(q * b.words + cl / 64) & (1L << (cl % 64))) != 0L) {
                if (!unpacked) { unpackPqCodes(words, codes, m, bits, perW); unpacked = true }
                val off = b.offs(q * b.nprobe + probeSlot(b.masks, q * b.words, cl))
                out.offer(q, nid, adcCos(off + lutSum(b.luts, q * stride, codes, m, ksub), nrm, qn))
              }
              q += 1
            }
          }
          out.afterRow()
        } ++ out.finish()
      }
  }

  private def lutSum(
      lt: Array[Long], base: Int, codes: Array[Int], m: Int, ksub: Int): Long = {
    var adc = 0L
    var s = 0
    while (s < m) { adc += lt(base + s * ksub + codes(s)); s += 1 }
    adc
  }

  /** The r4-rounded approximate cosine of an integer ADC dot. */
  private def adcCos(adc: Long, nrm: Double, qn: Double): Double =
    math.floor(adc.toDouble / (1L << 24) / (nrm * qn) * 10000 + 0.5) / 10000.0

  /** BATCHED ANN top-k — the serving-throughput form of [[pqTopK]]: a
    * whole frame of query vectors resolves in ONE pass over the codes
    * ([[adcScan]] with bounded per-query heaps), then the per-query cut
    * (topK × overFetch, approx order, id tie-break) fetches its floats
    * by id for the exact rerank. Returns (queryIdCol, idCol, cos_sim,
    * rank), rank 1..topK per query; a degenerate query produces no
    * rows. Batches beyond [[maxExactRows]] queries are refused (chunk
    * with [[pqTopKBatchChunked]]). At sf10 (`results/pq_sf10_r17.json`,
    * 171k corpus, 28,571 queries) the direct form read 2.11 ms/query
    * with no row pruning. */
  def pqTopKBatch(
      index: PqIndex,
      queries: DataFrame,
      queryIdCol: String,
      queryVecCol: String,
      topK: Int = 10,
      overFetch: Int = 4,
      nprobe: Int = 4): DataFrame = {
    implicit val sp: SparkSession = index.encoded.sparkSession
    import sp.implicits._
    require(topK >= 1 && overFetch >= 1 && nprobe >= 1,
      "topK, overFetch and nprobe must be >= 1")
    requireDistinctIdCols("pqTopKBatch", queryIdCol, index.idCol)
    val (qRows, b) = collectBatch(index, queries, queryIdCol, queryVecCol, nprobe,
      "pqTopKBatch", keepVectors = true)
    val bc = sp.sparkContext.broadcast(b)
    // freed by the caller's withServingResources release, else by the
    // process-wide queue — a long-running stream would otherwise keep
    // one LUT table per micro-batch
    registerServingCleanup(() => bc.destroy(), Some(bc))
    val keep = topK * overFetch
    val cand = adcScan(index, bc)(bb => new HeapSink(bb.ids, keep))
      .toDF("__qid", "__nid", "__score")
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__qid")).orderBy(col("__score").desc, col("__nid"))
    val cut = cand
      .withColumn("__crank", row_number().over(win))
      .filter(col("__crank") <= keep)
      .select("__qid", "__nid")
    val qf = sp.createDataset(qRows.toSeq.zip(b.qns).map { case ((qid, v), qn) =>
        (qid, v, qn)
      }).toDF("__qid", "__qv", "__qn")
    val rr = cut
      .join(index.corpus.select(col(index.idCol).cast("long").as("__nid"),
        col(index.vecCol).as("__cv")), Seq("__nid"))
      .join(broadcast(qf), Seq("__qid"))
      .select(col("__qid"), col("__nid"),
        r4(VectorFunctions.dot(col("__cv"), col("__qv")) /
          (VectorFunctions.norm(col("__cv")) * col("__qn"))).as("__score"))
      .as[(Long, Long, Double)]
    partialTopK(rr, topK)
      .withColumn("rank", row_number().over(win))
      .filter(col("rank") <= topK)
      .select(col("__qid").as(queryIdCol), col("__nid").as(index.idCol),
        col("__score").as("cos_sim"), col("rank").cast("long").as("rank"))
  }

  /** [[pqTopKBatch]] over hash-disjoint query chunks
    * ([[chunkedUnion]]), so no serving micro-batch is refused for size.
    * The chunk budget is derated by every per-query broadcast layout —
    * the LUT stride, the nprobe offsets and the ⌈k/64⌉ mask words — so
    * a chunk never trips the inner op's Int-capacity guard. */
  def pqTopKBatchChunked(
      index: PqIndex,
      queries: DataFrame,
      queryIdCol: String,
      queryVecCol: String,
      topK: Int = 10,
      overFetch: Int = 4,
      nprobe: Int = 4,
      chunkTarget: Long = maxExactRows / 2): DataFrame = {
    val k = index.coarse.map(_.length).getOrElse(0)
    val lutCap = Int.MaxValue.toLong / (index.m * index.ksub)
    val offCap = Int.MaxValue.toLong / math.max(1, nprobe)
    val maskCap = Int.MaxValue.toLong / math.max(1, (k + 63) / 64)
    chunkedUnion(queries, queryIdCol,
      math.max(1L, Seq(chunkTarget, lutCap, offCap, maskCap).min)) { chunk =>
      pqTopKBatch(index, chunk, queryIdCol, queryVecCol, topK, overFetch, nprobe)
    }
  }

  /** Incremental (delta-vs-corpus) dedup screened through the codes —
    * the [[incrementalNearDup]] (v12) analog when the standing corpus's
    * RAM-resident form is PQ: each ingest row is ADC-screened against
    * `index.encoded` ([[adcScan]] with threshold admission; on the IVF
    * form only against its `nprobe` nearest clusters), and only
    * admitted pairs touch floats for the exact verify. Same contract as
    * v12: (idCol, n_dups, best_sim, status). `margin` is a real RECALL
    * dial here (a true dup whose ADC estimate falls below threshold −
    * margin is not seen; so is, on the IVF form, a dup outside the
    * probe), but the verify never admits a false positive. */
  def pqIncrementalNearDup(
      index: PqIndex,
      batch: DataFrame,
      threshold: Double = 0.45,
      margin: Double = 0.2,
      nprobe: Int = 4,
      corpusSizeHint: Long = -1L): DataFrame = {
    implicit val sp: SparkSession = index.encoded.sparkSession
    import sp.implicits._
    require(margin >= 0.0,
      s"margin must be >= 0, got $margin — a negative margin would raise the " +
        "coarse bound ABOVE the threshold and silently drop true dups")
    require(nprobe >= 1, "nprobe must be >= 1")
    // the exact verify re-reads the batch frame, so only the IVF probe
    // keeps the floats
    val (_, b) = collectBatch(index, batch, index.idCol, index.vecCol, nprobe,
      "pqIncrementalNearDup", keepVectors = false)
    val bc = sp.sparkContext.broadcast(b)
    registerServingCleanup(() => bc.destroy(), Some(bc))
    val bound = threshold - margin
    val admitted = adcScan(index, bc)(bb => new AdmitSink(bb.ids, bound))
      .toDF("__bid", "__cid")
    statusAdmitted(admitted, index.corpus, batch, index.idCol, index.vecCol,
      threshold, corpusSizeHint)
  }

  /** Persist a [[PqIndex]] under the SAME crash-consistent versioned
    * layout as [[ivfSave]] (meta.json written last as the completeness
    * marker, single-tiny-file CURRENT commit, GC keyed to the
    * previously-LIVE version): `dir/v<N>/{codebook, [centroids],
    * [rotation], encoded, meta.json}`. `meta.kind` is [[PqIndex.kind]].
    * The IVF form's codes are partitioned by `cluster`, so a probe's
    * `cluster IN (…)` filter lists only nprobe directories. The
    * Hadamard diagonal is not stored (a pure function of the
    * dimension); a trained rotation is, as doubles. Doubles round-trip
    * bit-exactly, so a loaded index serves bit-identically. The float
    * corpus is NOT persisted — [[pqLoad]] re-binds the rerank to the
    * caller's table. One writer per dir; a reader is safe through one
    * refresh cycle. */
  def pqSave(index: PqIndex, dir: String): Unit = {
    val sp = index.encoded.sparkSession
    import sp.implicits._
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(sp.sparkContext.hadoopConfiguration)
    val versions = listVersions(fs, dir)
    val next = versions.map(_ + 1).maxOption.getOrElse(1)
    val prevLive: Option[Int] = liveVersion(fs, dir)
    val vdir = s"$dir/v$next"
    val cbRows = for {
      s <- 0 until index.m
      c <- 0 until index.ksub
    } yield (s, c, index.codebook(s)(c).toSeq)
    sp.createDataset(cbRows).toDF("s", "c", "codeword")
      .coalesce(1).write.mode("overwrite").parquet(s"$vdir/codebook")
    index.coarse.foreach { cents =>
      sp.createDataset(cents.zipWithIndex.map { case ((comp, nrm), c) =>
          (c, comp.toSeq, nrm)
        }.toSeq).toDF("c", "comp", "nrm")
        .coalesce(1).write.mode("overwrite").parquet(s"$vdir/centroids")
    }
    index.rotation match {
      case PqRotation.Trained(r, _) =>
        sp.createDataset(r.zipWithIndex.map { case (row, j) => (j, row.toSeq) }.toSeq)
          .toDF("j", "rw")
          .coalesce(1).write.mode("overwrite").parquet(s"$vdir/rotation")
      case _ =>
    }
    val codes = index.encoded.write.mode("overwrite")
    (if (index.coarse.isDefined) codes.partitionBy("cluster") else codes)
      .parquet(s"$vdir/encoded")
    val k = index.coarse.map(c => s""","k":${c.length}""").getOrElse("")
    val meta =
      s"""{"kind":"${index.kind}","idCol":"${jsonStr(index.idCol)}","vecCol":"${jsonStr(index.vecCol)}","m":${index.m},"ksub":${index.ksub},"dsub":${index.dsub},"bits":${index.bits}$k}"""
    writeSmallFile(fs, s"$vdir/meta.json", meta) // version-complete marker
    commitVersionAndGc(fs, dir, next, prevLive, versions, "pqSave")
  }

  /** Load an index [[pqSave]] wrote, re-binding the exact rerank to
    * `corpus` (the caller's float table, carrying the saved id and
    * vector columns). The tree's `kind` decides the rotation and coarse
    * layer; a legacy tree without one loads as `pq`. `kind`, when
    * given, is the only kind the caller accepts — a serving stream pins
    * the kind of its first load, so a refresh that swaps in codes under
    * another rotation or coarse layer is refused, not served. */
  def pqLoad(
      spark: SparkSession, rootDir: String, corpus: DataFrame,
      kind: Option[String] = None): PqIndex = {
    import spark.implicits._
    val dir = ivfCurrentPath(spark, rootDir)
    val p = new org.apache.hadoop.fs.Path(s"$dir/meta.json")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(p)
    val meta = try new com.fasterxml.jackson.databind.ObjectMapper().readTree(in)
    finally in.close()
    require(meta.has("m") && meta.has("ksub"),
      s"$dir/meta.json is not a PQ index (missing m/ksub — an IVF tree?)")
    val treeKind = if (meta.has("kind")) meta.get("kind").asText() else "pq"
    require(pqKinds.contains(treeKind), s"$dir is an unknown PQ kind '$treeKind'")
    kind.foreach { k =>
      require(k == treeKind,
        s"$dir is a '$treeKind' index, not the '$k' index this reader serves — " +
          "codes under another rotation or coarse layer are mutually garbage")
    }
    val idCol = meta.get("idCol").asText()
    val vecCol = meta.get("vecCol").asText()
    val m = meta.get("m").asInt()
    val ksub = meta.get("ksub").asInt()
    val dsub = meta.get("dsub").asInt()
    val bits = meta.get("bits").asInt()
    val dim = m * dsub
    val cb = Array.ofDim[Array[Double]](m, ksub)
    spark.read.parquet(s"$dir/codebook")
      .select(col("s").cast("int"), col("c").cast("int"), col("codeword"))
      .as[(Int, Int, Array[Double])]
      .collect()
      .foreach { case (s, c, w) =>
        require(s >= 0 && s < m && c >= 0 && c < ksub,
          s"codebook row ($s, $c) outside m=$m × ksub=$ksub")
        cb(s)(c) = w
      }
    require(cb.forall(_.forall(_ != null)),
      s"codebook parquet is missing codewords (m=$m × ksub=$ksub)")
    val coarse = if (!treeKind.endsWith("residual-pq")) Option.empty else {
      val k = meta.get("k").asInt()
      val cents = new Array[(Array[Double], Double)](k)
      spark.read.parquet(s"$dir/centroids")
        .select(col("c").cast("int"), col("comp"), col("nrm"))
        .as[(Int, Array[Double], Double)]
        .collect()
        .foreach { case (c, comp, nrm) =>
          require(c >= 0 && c < k, s"centroid row $c outside k=$k")
          cents(c) = (comp, nrm)
        }
      require(cents.forall(_ != null), s"centroids parquet is missing rows (k=$k)")
      Some(cents)
    }
    val rotation =
      if (treeKind.startsWith("rot-")) {
        requirePowerOf4Dim(dim, s"pqLoad: $dir/meta.json")
        PqRotation.Hadamard(rotationSigns(dim))
      } else if (treeKind.startsWith("opq-")) {
        val r = new Array[Array[Double]](dim)
        spark.read.parquet(s"$dir/rotation")
          .select(col("j").cast("int"), col("rw"))
          .as[(Int, Array[Double])]
          .collect()
          .foreach { case (j, row) =>
            require(j >= 0 && j < dim && row.length == dim,
              s"pqLoad: rotation row $j/${row.length} outside dim=$dim — the " +
                "tree's rotation parquet does not match its meta.json")
            r(j) = row
          }
        require(r.forall(_ != null), s"pqLoad: rotation parquet is missing rows (dim=$dim)")
        PqRotation.Trained(r, quantizeRotation(r))
      } else PqRotation.None
    val encoded = spark.read.parquet(s"$dir/encoded")
      .select((Seq(col(idCol), col("pq_code"), col("nrm")) ++
        coarse.map(_ => col("cluster"))): _*)
    requirePqCodeType(encoded, m, bits, "pqLoad")
    PqIndex(rotation, coarse, m, ksub, dsub, bits, cb.map(_.map(_.clone())), encoded,
      corpus.select(col(idCol), col(vecCol)), idCol, vecCol)
  }

  /** Random-hyperplane LSH signature: bit p of the result is the sign
    * of the vector's projection onto pseudo-hyperplane p, whose ±1
    * weights derive from md5 of (p, component index) — deterministic
    * across engines, machines, and re-runs, so bucketing is stable on
    * re-ingest (and SQL-replayable, which is how `v2_ann_lsh` stays on
    * the hash-exact oracle gate). */
  private def lshSignature(vecCol: String, bits: Int = 8): Column = {
    require(bits >= 1 && bits <= 62, s"bits must be in [1,62], got $bits")
    (0 until bits).map { p =>
      val proj = expr(
        s"""aggregate(zip_with($vecCol, sequence(0, size($vecCol) - 1),
           |  (x, i) -> CAST(x AS DOUBLE) *
           |    (CASE WHEN CAST(conv(substr(md5(concat('$p', '_', CAST(i AS STRING))), 1, 15), 16, 10) AS BIGINT) % 2 = 0
           |     THEN 1.0 ELSE -1.0 END)),
           |  CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)""".stripMargin)
      when(proj > 0, lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)
  }

  /** ANN candidates via LSH bucketing: corpus rows whose signature
    * equals the query's, scored by exact cosine. Returns
    * (idCol, sig, cos_sim) unordered; compose with ranking for top-k.
    * Expected candidate set is ~N/2^bits — the fraction of the corpus
    * a query touches at 100 TB. */
  def lshCandidates(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      query: DataFrame,
      queryVecCol: String,
      bits: Int = 8): DataFrame = {
    implicit val sp: SparkSession = corpus.sparkSession
    val sig = lshSignature(vecCol, bits)
    val qSig = lshSignature(queryVecCol, bits)
    val q = query.select(col(queryVecCol).as("__qe"),
      qSig.as("__qsig"),
      VectorFunctions.norm(col(queryVecCol)).as("__qn"))
    corpus
      .select(col(idCol), col(vecCol),
        sig.cast(LongType).as("sig"),
        VectorFunctions.norm(col(vecCol)).as("__nrm"))
      .join(broadcast(q), col("sig") === col("__qsig"))
      .select(col(idCol), col("sig"),
        r4(VectorFunctions.dot(col(vecCol), col("__qe")) /
          (col("__nrm") * col("__qn"))).as("cos_sim"))
  }

  /** Deterministic ±1 weights of pseudo-hyperplane `plane` — the SAME
    * md5 convention as [[lshSignature]] (parity of the first 15 hex
    * chars of md5("plane_i")), computed DRIVER-SIDE once per plane
    * instead of per row: the banded generator evaluates `bands ×
    * bitsPerBand` planes, and [[lshSignature]]'s in-SQL md5 would cost
    * dim × planes md5 calls per ROW. The weights ride into the plan as
    * array literals, so the projection is one codegen'd
    * [[graft.functions.DotProduct]] per plane — and the oracle replays
    * the identical weights from the md5 expression, as `v2_ann_lsh`'s
    * does. */
  private[graft] def hyperplaneWeights(plane: Int, dim: Int): Array[Float] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(dim) { i =>
      val hex = md.digest(s"${plane}_$i".getBytes("UTF-8"))
        .take(8).map(b => f"$b%02x").mkString.substring(0, 15)
      if (java.lang.Long.parseLong(hex, 16) % 2 == 0) 1.0f else -1.0f
    }
  }

  /** Banded random-hyperplane LSH near-duplicate PAIRS — the scale form
    * of [[cosineNearDupPairs]] (round-16 verdict #3): instead of the
    * exact arm's inherent O(N²) cosine evaluations, each vector
    * computes `bands` signatures of `bitsPerBand` sign bits each
    * (distinct hyperplane ranges per band, the banding trick of
    * MinHash-LSH applied to hyperplane LSH), candidate pairs MEET IN
    * BUCKETS — two vectors pair iff they agree on ALL bits of at least
    * one band — and only candidates pay an exact cosine, with the
    * threshold applied to the rounded score exactly as the exact arm
    * does. Returns (idA, idB, cos_sim), idA < idB, verified ≥
    * `threshold`; output ⊆ the exact arm's pairs by construction, with
    * recall the standard banding dial: P(candidate) = 1 − (1 − p^r)^b
    * for bit-agreement probability p = 1 − θ/π.
    *
    * Scale posture: the shuffle key is (band, signature) — bucket
    * sizes are data-bounded, nothing is ever all-pairs, and the
    * per-row cost is `bands × bitsPerBand` codegen'd dot products
    * against LITERAL weight arrays (see [[hyperplaneWeights]]). At a
    * production dedup threshold (cos ≥ 0.9, p ≈ 0.86) the defaults
    * give ~1.0 recall; this corpus's deliberately-low 0.45 demo
    * threshold sits near the hyperplane-LSH noise floor (p ≈ 0.65) —
    * the measured recall/candidate-volume curve is in
    * `results/v19_recall_sf0.1_r17.json`.
    *
    * Degenerate (zero/empty) vectors have no cosine and are dropped
    * before banding (they would otherwise meet EVERY all-zero
    * signature bucket and then fail the verify divide). `dim` must be
    * the corpus's vector width: the weight literals are built
    * driver-side at that width, and rows whose width DIFFERS from
    * `dim` are excluded from pairing rather than silently projected
    * over a truncated prefix. */
  def bandedLshNearDupPairs(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      bands: Int = 24,
      bitsPerBand: Int = 6,
      dim: Int = 64): DataFrame = {
    implicit val sp: SparkSession = corpus.sparkSession
    require(bands >= 1, s"bands must be >= 1, got $bands")
    require(bitsPerBand >= 1 && bitsPerBand <= 62,
      s"bitsPerBand must be in [1, 62], got $bitsPerBand")
    require(dim >= 1, s"dim must be >= 1, got $dim")
    val sigCols: Seq[Column] = (0 until bands).map { b =>
      (0 until bitsPerBand).map { p =>
        val plane = b * bitsPerBand + p
        when(VectorFunctions.dot(
            col(vecCol), typedLit(hyperplaneWeights(plane, dim))) > 0,
          lit(1L << p)).otherwise(lit(0L))
      }.reduce(_ + _)
    }
    // PERSISTED: the signature projection (bands × bitsPerBand dot
    // products per row — the generator's dominant cost) feeds BOTH
    // sides of the candidate self-join; without the persist it would
    // compute twice (round-17 self-review). Lifecycle per Q.scala's
    // contract: the runner's clearCache (or an enclosing
    // withServingResources scope) owns it.
    val sigs = corpus
      .filter(size(col(vecCol)) === dim &&
        VectorFunctions.norm(col(vecCol)) > 0)
      .select(col(idCol).as("__bid"),
        posexplode(array(sigCols: _*)).as(Seq("band", "sig")))
      .persist()
    registerServingCleanup(() => { sigs.unpersist(false); () }, None)
    // a WRONG `dim` must fail loudly, not return an empty dedup
    // (round-17 self-review: size(vecCol) === dim over a corpus of a
    // different width matched nothing, and "no pairs" downstream reads
    // as "no duplicates"): if the filter empties a non-empty corpus,
    // every row was excluded and the parameters don't fit the data
    require(!sigs.isEmpty || corpus.isEmpty,
      s"bandedLshNearDupPairs: every corpus row was excluded from " +
        s"banding — no row has $dim-wide non-degenerate vectors in " +
        s"'$vecCol'; pass the corpus's true vector width as `dim` " +
        "(degenerate all-zero corpora have no near-dup pairs by policy)")
    val cand = sigs.select(col("__bid").as("idA"), col("band"), col("sig"))
      .join(sigs.select(col("__bid").as("idB"), col("band"), col("sig")),
        Seq("band", "sig"))
      .filter(col("idA") < col("idB"))
      .select(col("idA"), col("idB"))
      .distinct()
    exactVerify(cand, corpus, idCol, vecCol, threshold)
  }

  // ---- IVF-flat: coarse quantizer + cluster-keyed inverted index ----

  private def dotDF(x: Array[Double], y: Array[Float]): Double = {
    var d = 0.0; var i = 0
    while (i < y.length) { d += x(i) * y(i).toDouble; i += 1 }
    d
  }
  private def normD(x: Array[Double]): Double = {
    var ss = 0.0; var i = 0
    while (i < x.length) { ss += x(i) * x(i); i += 1 }
    math.sqrt(ss)
  }
  private def normF(x: Array[Float]): Double = {
    var ss = 0.0; var i = 0
    while (i < x.length) { ss += x(i).toDouble * x(i).toDouble; i += 1 }
    math.sqrt(ss)
  }
  /** nearest centroid by cosine, ties to the lower cluster index */
  private def nearestCentroid(
      cents: Array[(Array[Double], Double)], v: Array[Float]): Int = {
    val vn = normF(v)
    var best = -1; var bestSim = Double.NegativeInfinity
    var c = 0
    while (c < cents.length) {
      val sim = dotDF(cents(c)._1, v) / (cents(c)._2 * vn)
      if (sim > bestSim) { bestSim = sim; best = c }
      c += 1
    }
    best
  }

  /** IVF-flat index: `centroids` is the k-row coarse quantizer (the
    * standard k-means driver state — the ONLY data that ever leaves
    * the cluster); `assigned` is the corpus with a `cluster` column,
    * i.e. the inverted index as a cluster-keyed partitioning. */
  /** An IVF index: the k coarse centroids (with norms) and the
    * cluster-keyed corpus. `quantized`, when present, is the corpus's
    * MATERIALIZED int8 projection — (idCol, cluster, __cq binary,
    * __cn2 long), the exact frame [[ivfTopKBatchQuantized]] otherwise
    * recomputes per serving run — persisted by [[ivfSave]] next to
    * `assigned` and restored by [[ivfLoad]]: at corpus scale the coarse
    * pass then reads 1 byte/component instead of 4 and skips the
    * quantize expression entirely (quantization is deterministic, so
    * answers are bit-identical either way — spec'd). None on a freshly
    * built index, after [[ivfAppend]] (which must NOT serve appended
    * rows from a stale projection), and on legacy saved layouts.
    *
    * Measured (`results/q8serve_sf10_r16.json`, sf10, 28.6k queries):
    * on a warm local page cache the runtime delta is WITHIN HOST NOISE
    * — three runs (sequential; interleaved A/B; interleaved with
    * driver-side construction timed) read speedups of 0.63–1.37× at
    * nprobe=4 and 0.88–1.26× at nprobe=16, while a scan+deserialize
    * diagnostic (Q8Diag) showed the two inputs cost identically
    * (0.2 s) — decode CPU is negligible either way when the bytes are
    * in memory, and medians-of-3 at this effect size are band-noise.
    * The projection's durable wins are measurement-independent:
    * at-rest size (16 MB vs 46 MB at sf10 — 3× less to store AND to
    * read cold) and skipping the quantize pass per serving run.
    * "Strictly better cold" is now a NUMBER, not a claim (r16 verdict
    * #7, `results/q8cold_scan_sf10_r17.jsonl` — fresh JVM per sample,
    * OS page cache dropped before each, arms interleaved across
    * JVMs): the cold coarse-input scan+deserialize reads 0.63–0.74 s
    * from bytes vs 0.94–1.02 s from floats+inline-quantize — 1.53× at
    * sf10, every interleaved pair agreeing. In a FULL cold serve the
    * sub-second delta is invisible under ~60 s of probe/kernel/rerank
    * compute on a bursting host (`results/q8cold_sf10_r17.jsonl`,
    * pair ratios 0.69–1.39) — the scan-level number is the honest
    * form of the claim, and it scales with corpus bytes while the
    * compute does not. */
  final case class IvfIndex(
      centroids: Array[(Array[Double], Double)],
      assigned: DataFrame,
      idCol: String,
      vecCol: String,
      quantized: Option[DataFrame] = None)

  /** Build an IVF-flat index over (idCol, vecCol): deterministic
    * hash-stride seeding (a filter over ~2k candidate rows, never a
    * global sort of the corpus), `lloydIters` rounds of Lloyd
    * refinement where each per-cluster mean is an ORDER-FREE exact
    * fixed-point component sum (scale 2^24; integer addition is
    * associative+commutative so partial aggregation is
    * bit-deterministic in any merge order, and no task ever holds a
    * whole cluster), then one pass assigning every vector to its
    * nearest centroid. Empty clusters keep their seed. NULL and empty
    * vectors are skipped by seeding and Lloyd, as the PQ builds skip
    * them, and are assigned cluster −1. */
  def ivfBuild(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int = 16,
      lloydIters: Int = 3,
      portableSeeds: Boolean = false): IvfIndex = {
    require(k > 0 && lloydIters >= 0, s"bad k=$k / lloydIters=$lloydIters")
    val sp = corpus.sparkSession
    import sp.implicits._
    // the corpus is scanned count+seeds+lloydIters+1 times during the
    // build — persisted for the duration, released before returning
    // (the caller's first action on `assigned` re-runs the projection
    // once; the alternative — staying cached — would leak the block
    // past the API boundary)
    val vecs = corpus.select(col(idCol), col(vecCol)).as[(Long, Array[Float])]
      .persist()

    val n = vecs.count()
    val strideMod = math.max(1L, n / (2L * k))
    // portableSeeds swaps the seed-stride hash from xxhash64 (fast,
    // Spark-specific) to the md5-derived 60-bit hash every engine
    // computes identically — with it, the whole index build is
    // SQL-replayable (the fixed-point Lloyd sums are already
    // order-free-exact), which is how `v5_ann_ivf` rides the
    // hash-exact oracle gate
    val seedHash =
      if (portableSeeds) TextDedup.mdHash(col(idCol).cast("string"))
      else xxhash64(col(idCol))
    val seeds = corpus.select(col(idCol), col(vecCol))
      .filter(size(col(vecCol)) > 0)
      .filter(pmod(seedHash, lit(strideMod)) === 0)
      // the vector breaks ties between rows that share an id (see lloyd)
      .orderBy(seedHash, col(idCol), col(vecCol))
      .limit(k)
      .as[(Long, Array[Float])]
      .collect()
    var cents: Array[(Array[Double], Double)] = seeds.map { case (_, v) =>
      val d = v.map(_.toDouble)
      (d, normD(d))
    }

    // overflow headroom: |component| <~ 2^3 at scale 2^24 over up to
    // ~2^35 cluster members stays under 2^62
    val FP = 1L << 24
    for (_ <- 0 until lloydIters) {
      val bc = sp.sparkContext.broadcast(cents)
      val means = vecs
        .flatMap { case (_, v) =>
          if (v == null || v.isEmpty) Iterator.empty
          else {
            val fp = new Array[Long](v.length)
            var i = 0
            while (i < v.length) { fp(i) = math.round(v(i).toDouble * FP); i += 1 }
            Iterator.single((nearestCentroid(bc.value, v), fp, 1L))
          }
        }
        .groupByKey(_._1)
        .reduceGroups { (x: (Int, Array[Long], Long), y: (Int, Array[Long], Long)) =>
          val acc = new Array[Long](x._2.length)
          var i = 0
          while (i < acc.length) { acc(i) = x._2(i) + y._2(i); i += 1 }
          (x._1, acc, x._3 + y._3)
        }
        .map { case (c, (_, fp, cnt)) => (c, fp.map(_.toDouble / FP / cnt)) }
        .collect()
        .toMap
      // dead once collected — destroy eagerly, same leak as pqBuild's
      // Lloyd broadcast (advice r17); the final assignment broadcast
      // below stays alive for the lazy `assigned` frame
      bc.destroy()
      cents = cents.indices.map { c =>
        means.get(c) match {
          case Some(m) => (m, normD(m)) // refined centroid
          case None => cents(c) // empty cluster keeps its seed
        }
      }.toArray
    }

    val bc = sp.sparkContext.broadcast(cents)
    vecs.unpersist(blocking = false)
    val assigned = corpus.select(col(idCol), col(vecCol))
      .as[(Long, Array[Float])]
      .map { case (id, v) =>
        (id, v, if (v == null || v.isEmpty) -1 else nearestCentroid(bc.value, v))
      }
      .toDF(idCol, vecCol, "cluster")
    IvfIndex(cents, assigned, idCol, vecCol)
  }

  /** Assign NEW vectors to an EXISTING index's centroids — the
    * between-rebuilds maintenance path of every production IVF
    * deployment: ingest batches join the inverted index immediately
    * (one broadcast of the k centroid rows, one map over the batch —
    * cost ∝ batch, the corpus is never touched), and the coarse
    * quantizer is re-trained by a periodic [[ivfBuild]] when drift
    * accumulates. Returns (idCol, cluster, cos_sim) — the assigned
    * cluster and the rounded cosine to its centroid. Ties break to the
    * lower cluster index, exactly like the build's own assignment.
    * Degenerate (zero, empty or NULL) vectors — whose cosine to every
    * centroid is NaN — place in cluster −1 with cos_sim −1.0, matching where
    * [[ivfBuild]]/[[ivfAppend]] put such rows (nearestCentroid −1) and
    * the exact kernels' drop policy; cluster −1 is never probed, so
    * they match nothing. */
  def ivfAssign(index: IvfIndex, batch: DataFrame): DataFrame = {
    val sp = batch.sparkSession
    import sp.implicits._
    val bc = sp.sparkContext.broadcast(index.centroids)
    batch.select(col(index.idCol).cast("long"), nullAsEmpty(col(index.vecCol)))
      .as[(Long, Array[Float])]
      .map { case (id, v) =>
        val cs = bc.value
        checkAssignDim(cs, v)
        val c = nearestCentroid(cs, v)
        if (c < 0) (id, -1L, -1.0)
        else {
          val sim = dotDF(cs(c)._1, v) / (cs(c)._2 * normF(v))
          (id, c.toLong, math.floor(sim * 10000 + 0.5) / 10000.0)
        }
      }
      .toDF(index.idCol, "cluster", "cos_sim")
  }

  /** The growing-index fold: [[ivfAssign]]-shaped placement of `batch`
    * into `index.assigned`, returning the index with the batch rows
    * serving queries ([[ivfTopK]]) immediately. Centroids are unchanged
    * by design — rebalancing is [[ivfBuild]]'s periodic job. A
    * degenerate (zero, empty or NULL) vector keeps its value and lands
    * in cluster −1. */
  def ivfAppend(index: IvfIndex, batch: DataFrame): IvfIndex = {
    val sp = batch.sparkSession
    import sp.implicits._
    val bc = sp.sparkContext.broadcast(index.centroids)
    val placed = batch.select(col(index.idCol).cast("long"), col(index.vecCol))
      .as[(Long, Array[Float])]
      .map { case (id, v) =>
        val pv = if (v == null) Array.emptyFloatArray else v
        checkAssignDim(bc.value, pv)
        (id, v, nearestCentroid(bc.value, pv))
      }
      .toDF(index.idCol, index.vecCol, "cluster")
    // the materialized int8 projection (if any) does NOT contain the
    // appended rows — serving from it would silently hide them from the
    // coarse pass, so the fold drops it (the quantized serving arm
    // falls back to inline quantization until the next ivfSave)
    index.copy(assigned = index.assigned.unionByName(placed), quantized = None)
  }

  /** A batch vector column with NULL read as the empty vector — the
    * degenerate every batch path documents (cluster −1, no probes,
    * status 'keep'), as [[encodeBatchRow]] reads it. */
  private def nullAsEmpty(v: Column): Column =
    coalesce(v, typedLit(Array.empty[Float]))

  /** Loud mixed-dimension policy of the assignment paths (round-13
    * advice): a batch vector SHORTER than the centroid dimension would
    * silently truncate the dot in [[nearestCentroid]] (a plausible-but-
    * wrong placement), a LONGER one would surface as a raw
    * ArrayIndexOutOfBoundsException — inconsistent with the int8 paths'
    * loud policy ([[blockedCandidatePairs]], [[incrementalNearDup]]). Empty
    * (degenerate) vectors stay on the documented cluster −1 path. */
  private def checkAssignDim(
      cents: Array[(Array[Double], Double)], v: Array[Float]): Unit =
    if (v.nonEmpty && cents.nonEmpty && v.length != cents(0)._1.length)
      throw new IllegalArgumentException(
        s"mixed-dimension batch vs index: centroid dimension " +
          s"${cents(0)._1.length} vs batch vector of ${v.length} components " +
          "would silently truncate the assignment dot")

  /** Persist an [[IvfIndex]] for reuse across jobs/sessions — the
    * "materialize at ingest" half of the deployment story the
    * incremental ops assume: build once ([[ivfBuild]]), save, and let
    * every ingest/serving job [[ivfLoad]] instead of re-running Lloyd.
    * Layout: `dir/centroids` is the k-row coarse quantizer
    * (cluster, centroid array<double>, cnorm); `dir/assigned` is the
    * corpus (idCol, vecCol) PARTITIONED BY cluster — the inverted
    * index as a hive partition tree, so a probe's
    * `cluster IN (…nprobe…)` filter becomes PARTITION PRUNING at the
    * file listing and a query physically reads ~nprobe/k of the data
    * (the on-disk form of the same pruning [[ivfTopK]] does
    * logically); `dir/meta.json` records the column names. All paths
    * through the Hadoop FS API — object-store/HDFS safe.
    *
    * ==Crash-consistent, refresh-in-place-safe versioned layout==
    * (round-14 advice, hardened after self-review: a multi-file
    * delete+rename swap has a window where a crash leaves NEW
    * centroids beside OLD assignments — a silently wrong index.)
    * Each save writes a COMPLETE new version directory
    * `dir/v<N>/{centroids, assigned, meta.json}` — meta.json written
    * last inside the version, so its presence marks the version
    * complete — and then commits by pointing the one-line `dir/CURRENT`
    * file at it. The commit is a single tiny-file replace; every
    * earlier state (no v<N>, partial v<N> without meta, CURRENT not
    * yet moved) still reads as the previous index, and [[ivfLoad]]
    * falls back to the newest COMPLETE version when CURRENT is absent
    * (the delete→rename blink, or a legacy/partial tree). The natural
    * refresh flow — `ivfLoad(dir)` → modify → `ivfSave(dir)` — never
    * overwrites the files it is reading (the new version is a fresh
    * directory), and every version from the PREVIOUSLY-LIVE one (what
    * CURRENT resolved to before this save — not merely the
    * highest-numbered directory, which after a crashed commit can be a
    * never-live version) up to the new one is retained; strictly older
    * versions are garbage-collected. One writer at a time per index
    * dir. Reader guarantee (round-15 advice — stated honestly, not as
    * "always safe"): a reader that resolved its version before a save
    * is safe through ONE refresh cycle; a job still scanning the same
    * resolved path across TWO refreshes can lose its files to the
    * second save's GC — long-lived readers should re-resolve via
    * [[ivfCurrentPath]] between jobs, or pause refreshes while such a
    * job runs. */
  def ivfSave(index: IvfIndex, dir: String): Unit = {
    val sp = index.assigned.sparkSession
    import sp.implicits._
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(sp.sparkContext.hadoopConfiguration)
    val versions = listVersions(fs, dir)
    val next = versions.map(_ + 1).maxOption.getOrElse(1)
    // the version in-flight readers may be scanning RIGHT NOW — resolved
    // exactly as ivfLoad would before this save. After a crashed commit
    // (v(next−1) complete but CURRENT still pointing older) this is NOT
    // next−1: GC keyed to next−1 would keep the never-live v(next−1)
    // and delete the actually-live version out from under readers
    // (round-15 advice)
    val prevLive: Option[Int] = liveVersion(fs, dir)
    val vdir = s"$dir/v$next"
    sp.createDataset(index.centroids.toSeq.zipWithIndex.map {
        case ((c, n), i) => (i, c.toSeq, n)
      })
      .toDF("cluster", "centroid", "cnorm")
      .coalesce(1).write.mode("overwrite").parquet(s"$vdir/centroids")
    index.assigned.write.mode("overwrite")
      .partitionBy("cluster").parquet(s"$vdir/assigned")
    // the int8 projection, materialized at save time (the deployment
    // story the quantized serving arm assumes — quantize once at
    // ingest, serve from bytes): reuse the index's own projection when
    // it carries one, else compute it here. Written BEFORE meta.json so
    // the completeness marker covers it.
    val quant = {
      implicit val isp: SparkSession = sp // the vector expressions bind here
      // computed from the $vdir/assigned parquet JUST WRITTEN, never from
      // index.assigned's lineage (self-review): ivfBuild returns an
      // unpersisted assignment, so the lineage path would execute the
      // full assignment DAG a second time — and a replay-unstable
      // upstream could make quantized/ silently disagree with assigned/,
      // serving coarse ids the rerank corpus doesn't contain. Reading
      // the committed files back is cheaper AND makes divergence
      // structurally impossible.
      index.quantized.getOrElse(
        sp.read.parquet(s"$vdir/assigned")
          .select(col(index.idCol), col("cluster"),
            VectorFunctions.quantizeInt8(col(index.vecCol)).as("__cq"))
          .withColumn("__cn2", VectorFunctions.int8Dot(col("__cq"), col("__cq"))))
    }
    quant.select(col(index.idCol), col("__cq"), col("__cn2"), col("cluster"))
      .write.mode("overwrite").partitionBy("cluster").parquet(s"$vdir/quantized")
    // column names land in meta.json verbatim — escape control chars
    // too (round-14 advice: a name with a newline/tab produced invalid
    // JSON that ivfLoad's Jackson parse rejects, an unreadable index)
    val meta =
      s"""{"idCol":"${jsonStr(index.idCol)}","vecCol":"${jsonStr(index.vecCol)}","k":${index.centroids.length},"quantized":true}"""
    writeSmallFile(fs, s"$vdir/meta.json", meta) // version-complete marker
    commitVersionAndGc(fs, dir, next, prevLive, versions, "ivfSave")
  }

  /** The version-commit + GC tail shared by [[ivfSave]] and [[pqSave]]
    * — the crash-consistency-critical piece, defined ONCE so a fix to
    * either half can never drift between index kinds. Commit: CURRENT
    * now names the new version via a single tiny-file delete+rename (a
    * crash in the blink leaves no CURRENT, and load-side resolution
    * falls back to the newest COMPLETE version — still v<next>). GC:
    * keep the new version and everything from the previously-LIVE
    * version up (in-flight readers resolved AT MOST as far back as
    * prevLive; higher-numbered non-live versions are crash leftovers
    * kept one extra cycle, harmless — round-15 advice). With no
    * complete previous version every older v-dir is partial garbage
    * and goes. */
  private def commitVersionAndGc(
      fs: org.apache.hadoop.fs.FileSystem,
      dir: String,
      next: Int,
      prevLive: Option[Int],
      versions: Seq[Int],
      what: String): Unit = {
    writeSmallFile(fs, s"$dir/CURRENT.tmp", s"v$next")
    val cur = new org.apache.hadoop.fs.Path(s"$dir/CURRENT")
    if (fs.exists(cur)) fs.delete(cur, false)
    if (!fs.rename(new org.apache.hadoop.fs.Path(s"$dir/CURRENT.tmp"), cur))
      throw new java.io.IOException(
        s"$what: committing $dir/CURRENT failed; v$next is fully written " +
          "and load-side resolution will pick it as the newest complete version")
    val keepFloor = prevLive.getOrElse(next)
    versions.filter(_ < keepFloor).foreach { v =>
      fs.delete(new org.apache.hadoop.fs.Path(s"$dir/v$v"), true)
    }
  }

  /** Version numbers present under an index dir (any `v<N>` child). */
  private def listVersions(
      fs: org.apache.hadoop.fs.FileSystem, dir: String): Seq[Int] = {
    val p = new org.apache.hadoop.fs.Path(dir)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq.collect {
      case st if st.isDirectory && st.getPath.getName.matches("v\\d+") =>
        st.getPath.getName.drop(1).toInt
    }
  }

  /** The live version NUMBER of a saved index — exactly the resolution
    * [[ivfLoad]] performs: the CURRENT pointer when it names a COMPLETE
    * version, else the newest complete version (meta.json is the
    * completeness marker). None when no complete `v<N>` exists (empty
    * dir, or the legacy flat layout). ONE definition shared by
    * [[ivfCurrentPath]] and [[ivfSave]]'s GC so "what readers see" and
    * "what GC protects" can never drift. */
  private def liveVersion(
      fs: org.apache.hadoop.fs.FileSystem, dir: String): Option[Int] = {
    val cur = new org.apache.hadoop.fs.Path(s"$dir/CURRENT")
    val fromPointer =
      if (fs.exists(cur)) {
        val in = fs.open(cur)
        val name = try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
        finally in.close()
        Some(name).filter(n =>
          n.matches("v\\d+") && fs.exists(new org.apache.hadoop.fs.Path(s"$dir/$n/meta.json")))
          .map(_.drop(1).toInt)
      } else None
    fromPointer.orElse {
      listVersions(fs, dir).sorted.reverse.find { v =>
        fs.exists(new org.apache.hadoop.fs.Path(s"$dir/v$v/meta.json"))
      }
    }
  }

  /** The live version directory of a saved index: CURRENT when present,
    * else the newest COMPLETE version (meta.json is the completeness
    * marker — written last by [[ivfSave]]). Public so specs and tools
    * can reach the on-disk tree without re-implementing resolution. */
  def ivfCurrentPath(spark: SparkSession, dir: String): String = {
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    liveVersion(fs, dir) match {
      case Some(v) => s"$dir/v$v"
      case None =>
        // legacy flat layout (pre-versioning saves): meta.json at root
        require(fs.exists(new org.apache.hadoop.fs.Path(s"$dir/meta.json")),
          s"no complete index version under $dir (no CURRENT, no v*/meta.json, no flat meta.json)")
        dir
    }
  }

  /** Minimal JSON string escaping for [[ivfSave]]'s meta.json — quotes,
    * backslashes, and control characters (the persistence format is
    * OWNED here; it must never drift with bench-tool helpers). */
  private def jsonStr(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  private def writeSmallFile(
      fs: org.apache.hadoop.fs.FileSystem, path: String, content: String): Unit = {
    val out = fs.create(new org.apache.hadoop.fs.Path(path), true)
    try out.write(content.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Load an index [[ivfSave]] wrote. The returned `assigned` frame
    * reads the cluster-partitioned tree, so downstream probe filters
    * prune partitions at the source. Centroids round-trip bit-exactly
    * (doubles through parquet). Resolves the live version through
    * [[ivfCurrentPath]] (CURRENT pointer → newest complete version →
    * legacy flat layout). */
  def ivfLoad(spark: SparkSession, rootDir: String): IvfIndex = {
    val dir = ivfCurrentPath(spark, rootDir)
    val p = new org.apache.hadoop.fs.Path(s"$dir/meta.json")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(p)
    val meta = try {
      val om = new com.fasterxml.jackson.databind.ObjectMapper()
      om.readTree(in)
    } finally in.close()
    // the mirror of pqLoad's guard: a PQ tree in the same shared
    // versioned format has m/ksub and no k — refuse it loudly instead
    // of dying on a bare NPE at meta.get("k")
    require(meta.has("k"),
      s"$dir/meta.json is not an IVF index (missing k — a PQ tree?)")
    val idCol = meta.get("idCol").asText()
    val vecCol = meta.get("vecCol").asText()
    val k = meta.get("k").asInt()
    import spark.implicits._
    val cents = new Array[(Array[Double], Double)](k)
    spark.read.parquet(s"$dir/centroids")
      .select(col("cluster").cast("int"), col("centroid"), col("cnorm"))
      .as[(Int, Array[Double], Double)]
      .collect()
      .foreach { case (c, v, n) =>
        require(c >= 0 && c < k, s"centroid row with cluster $c outside [0,$k)")
        cents(c) = (v, n)
      }
    require(!cents.contains(null), s"centroids parquet is missing clusters (k=$k)")
    val assigned = spark.read.parquet(s"$dir/assigned")
      .select(col(idCol), col(vecCol), col("cluster").cast("int").as("cluster"))
    // the materialized int8 projection, when this layout carries one
    // (post-r16 saves; legacy trees simply serve via inline
    // quantization). The meta flag — not a directory probe — decides:
    // a half-written tree without the flag never resolves here, and the
    // flag is only written after the projection (meta is last).
    val quantized =
      if (Option(meta.get("quantized")).exists(_.asBoolean()))
        Some(spark.read.parquet(s"$dir/quantized")
          .select(col(idCol), col("__cq"), col("__cn2"),
            col("cluster").cast("int").as("cluster")))
      else None
    IvfIndex(cents, assigned, idCol, vecCol, quantized)
  }

  /** ANN top-k against an IVF index: the query's `nprobe` closest
    * centroids are picked on the driver over k rows, candidates are
    * the vectors assigned to those clusters (~nprobe/k of the corpus),
    * and candidates re-rank by EXACT cosine. Returns
    * (idCol, cluster, cos_sim), score-descending, id tiebreak.
    * `filter` pre-drops rows (e.g. the query itself) before scoring. */
  def ivfTopK(
      index: IvfIndex,
      query: Array[Float],
      topK: Int = 10,
      nprobe: Int = 4,
      filter: Column = lit(true)): DataFrame = {
    implicit val sp: SparkSession = index.assigned.sparkSession
    val q = index.assigned.sparkSession.range(1).select(
      typedLit(query).as("__qe"))
      .select(col("__qe"), VectorFunctions.norm(col("__qe")).as("__qn"))
    probedAssigned(index, query, nprobe, filter)
      .crossJoin(broadcast(q))
      .select(col(index.idCol), col("cluster").cast("long").as("cluster"),
        r4(VectorFunctions.dot(col(index.vecCol), col("__qe")) /
          (VectorFunctions.norm(col(index.vecCol)) * col("__qn"))).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col(index.idCol))
      .limit(topK)
  }

  /** BATCHED ANN top-k through an IVF index — the serving-throughput
    * form of [[ivfTopK]]: a whole DataFrame of query vectors resolves
    * its neighbors in ONE distributed pass instead of one driver-side
    * probe per query. Each query expands to its `nprobe` nearest
    * clusters (the same argmax/tie convention as the build and
    * [[ivfAssign]]), the exploded (query, cluster) rows BROADCAST-join
    * the cluster-keyed corpus — so every corpus row meets exactly the
    * queries probing its cluster, Σ_q |probed(q)| ≈ nprobe/k of the
    * full cross product — and survivors rank by exact cosine (the
    * codegen'd float kernel, r4 rounding) per query. Returns
    * (queryIdCol, idCol, cos_sim, rank) with rank 1..topK per query.
    *
    * Degenerate (zero, empty or NULL) query vectors probe nothing and
    * simply produce no output rows — the batch form's counterpart of the
    * single-query loud refusal (one bad vector must not kill a
    * million-query serving job; its absence from the output is the
    * visible signal, mirroring [[ivfAssign]]'s cluster −1). Queries
    * larger than [[maxExactRows]] are refused loudly — beyond that,
    * chunk the batch.
    *
    * ==Probe-union partition pruning== (round-15 verdict #4, matching
    * the quantized arm): the union of every query's probe set is known
    * on the driver from the probe pass; when it is a strict subset of
    * the k clusters, a static `cluster IN (…)` filter restricts the
    * corpus before the probe join — on an [[ivfLoad]]-ed index (a
    * cluster-partitioned parquet tree) that is file-listing partition
    * pruning, so a narrow batch physically reads only the partitions it
    * probes (asserted on the executed plan in PlanQualitySpec). Output
    * is unchanged: unprobed clusters could never survive the join. */
  def ivfTopKBatch(
      index: IvfIndex,
      queries: DataFrame,
      queryIdCol: String,
      queryVecCol: String,
      topK: Int = 10,
      nprobe: Int = 4): DataFrame = {
    implicit val sp: SparkSession = index.assigned.sparkSession
    import sp.implicits._
    require(topK >= 1 && nprobe >= 1, s"topK and nprobe must be >= 1")
    requireDistinctIdCols("ivfTopKBatch", queryIdCol, index.idCol)
    val k = index.centroids.length
    require(k >= 1, "ivfTopKBatch needs a built index (no centroids)")
    val nQueries = queries.select(col(queryIdCol)).count()
    require(nQueries <= maxExactRows,
      s"ivfTopKBatch got $nQueries queries — the broadcast probe side is " +
        s"capped at $maxExactRows; use ivfTopKBatchChunked")
    val bc = sp.sparkContext.broadcast(index.centroids)
    val effNprobe = math.min(nprobe, k)
    // probe rows carry (qid, cluster) ONLY — the query vector would
    // otherwise be replicated nprobe× through the broadcast (found in
    // review: ~4× the broadcast bytes at default nprobe); vectors and
    // norms join back once per query from their own broadcast side.
    // The (qid, cluster) probe frame STAYS DISTRIBUTED (round-16
    // advice: a prior revision collected every probe pair to the
    // driver — ~600 MB of boxed tuples at the 2^20 cap × nprobe=16 —
    // although only the cluster UNION, at most k ints, is needed
    // driver-side): broadcast() materializes it at join time, and the
    // union comes from its own distinct() aggregate. The frame is
    // PERSISTED before either consumer runs (round-17 self-review):
    // the union collect below materializes it into the cache, and the
    // broadcast build then reads the SAME partitions — one probe
    // evaluation, and the pruning union provably covers every cluster
    // the join sees (two independent evaluations of a nondeterministic
    // `queries` source could otherwise disagree and silently drop a
    // query's neighbors — though note BOTH batch arms, like the
    // quantized one's collected brows vs its re-evaluated rerank
    // fetch, assume a deterministic `queries` frame, as Spark itself
    // does for retries). Cache lifecycle follows Q.scala's contract:
    // inside a withServingResources scope the unpersist is registered
    // for the caller's release; otherwise the RUNNER's clearCache owns
    // it.
    val probed = queries
      .select(col(queryIdCol).cast("long"), nullAsEmpty(col(queryVecCol)))
      .as[(Long, Array[Float])]
      .flatMap { case (qid, v) =>
        val cs = bc.value
        checkAssignDim(cs, v)
        probeClusters(cs, v, effNprobe).map(c => (qid, c))
      }
      .toDF("__qid", "cluster")
      .persist()
    registerServingCleanup(() => { probed.unpersist(false); () }, None)
    // Probe-union partition pruning (round-15 verdict #4), matching the
    // quantized arm at :995: rows in clusters no query probes can never
    // survive the probe join, so a static `cluster IN (…)` filter drops
    // them BEFORE the scan — against an ivfLoad-ed index (a
    // cluster-partitioned parquet tree) that is FILE-LISTING pruning,
    // so a narrow exact batch physically reads ~|union|/k of the corpus
    val allProbed: Set[Int] = probed.select(col("cluster").cast("int"))
      .distinct().as[Int].collect().toSet
    val corpus = pruneToProbed(index.assigned, allProbed, k)
    val qf = queries
      .select(col(queryIdCol).cast("long").as("__qid"),
        col(queryVecCol).as("__qv"))
      .withColumn("__qn", VectorFunctions.norm(col("__qv")))
    // corpus norms once per ROW (before the join fans each row out to
    // every query probing its cluster), never once per pair
    val scored = broadcast(probed)
      .join(corpus
          .withColumn("__cn", VectorFunctions.norm(col(index.vecCol))),
        Seq("cluster"))
      .join(broadcast(qf), Seq("__qid"))
      .select(col("__qid"),
        col(index.idCol).cast("long").as("__nid"),
        r4(VectorFunctions.dot(col(index.vecCol), col("__qv")) /
          (col("__cn") * col("__qn"))).as("__score"))
      .as[(Long, Long, Double)]
    partialTopK(scored, topK)
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("__qid"))
          .orderBy(col("__score").desc, col("__nid"))))
      .filter(col("rank") <= topK)
      .select(col("__qid").as(queryIdCol), col("__nid").as(index.idCol),
        col("__score").as("cos_sim"), col("rank").cast("long").as("rank"))
  }

  /** Probe-union pruning, shared by both serving arms (round-15
    * verdict #4): when the union of every query's probe set is a strict
    * subset of the k clusters, a static `cluster IN (…)` filter drops
    * the never-scoring clusters BEFORE the scan — file-listing
    * partition pruning on an [[ivfLoad]]-ed (cluster-partitioned)
    * frame. Identity when every cluster is probed. */
  private def pruneToProbed(df: DataFrame, probed: Set[Int], k: Int): DataFrame =
    if (probed.size < k)
      df.filter(col("cluster").isin(probed.toSeq.sorted.map(Int.box): _*))
    else df

  /** The probe-pruned int8 corpus projection every quantized scan
    * consumes — ONE definition of the "serve from the MATERIALIZED
    * projection when the index carries one, re-quantize inline
    * otherwise" policy (self-review: the serving and ingest arms had
    * verbatim copies that could drift independently). Returns
    * (`idAlias` long, __cc int, __cq binary, __cn2 long). Bit-identical
    * either way: quantization is deterministic (spec'd on both arms). */
  private def quantizedCorpusProjection(
      index: IvfIndex, probed: Set[Int], k: Int, idAlias: String): DataFrame = {
    implicit val sp: SparkSession = index.assigned.sparkSession
    index.quantized match {
      case Some(qf8) =>
        pruneToProbed(qf8, probed, k)
          .select(col(index.idCol).cast("long").as(idAlias),
            col("cluster").cast("int").as("__cc"), col("__cq"), col("__cn2"))
      case None =>
        pruneToProbed(index.assigned, probed, k)
          .select(col(index.idCol).cast("long").as(idAlias),
            col("cluster").cast("int").as("__cc"),
            VectorFunctions.quantizeInt8(col(index.vecCol)).as("__cq"))
          .withColumn("__cn2", VectorFunctions.int8Dot(col("__cq"), col("__cq")))
    }
  }

  /** "Worseness" ordering of the bounded top-k heaps: the queue's max
    * is the worst kept row — lowest score, ties to the HIGHER id — so
    * the kept set is exactly the top under (score desc, id asc), the
    * total order every downstream rank uses. */
  private val heapWorst: Ordering[(Double, Long)] =
    Ordering.by { case (s, id) => (-s, id) }

  /** Bounded-heap offer under [[heapWorst]]: keep `(s, id)` iff the
    * heap has room or the candidate beats the current worst. ONE
    * definition for every top-k heap site (the eviction rule and the
    * rank order must stay bit-identical). NaN scores are REFUSED — a
    * NaN has no rank, and worse, a NaN at the heap head would compare
    * false against every candidate and block all further eviction
    * (poisoning the heap) — matching the exact kernels' drop policy
    * for degenerate cosines. */
  private def heapOffer(
      h: scala.collection.mutable.PriorityQueue[(Double, Long)],
      s: Double, id: Long, limit: Int): Unit =
    if (!s.isNaN) {
      if (h.size < limit) h.enqueue((s, id))
      else {
        val w = h.head
        if (s > w._1 || (s == w._1 && id < w._2)) {
          h.dequeue(); h.enqueue((s, id))
        }
      }
    }

  /** EXACT per-partition pre-top-k, the classic distributed-top-k
    * combiner: under the deterministic total order (score desc, id
    * asc — the SAME order every downstream rank uses), any row in a
    * query's global top-`limit` is necessarily in the top-`limit` of
    * its own partition, so bounded per-partition heaps cut the
    * follow-up window's shuffle input from every scored pair
    * (Σ_q |probed(q)| — 1.2B at sf10, where the naive window measured
    * 167 s) to ≤ partitions × queries × limit rows. Output equals the
    * naive global window on NaN-free input; NaN-scored rows are
    * DROPPED (see [[heapOffer]]) — both batch serving ops are NaN-free
    * by construction (degenerate vectors never reach scoring), so this
    * only bites hand-built indexes, where dropping a row without a
    * cosine is the intended policy. The result is NOT yet a global
    * top-`limit` — callers MUST apply their global rank cut after (a
    * per-partition union is partitioning-dependent; the follow-up
    * window is what makes the final answer deterministic). Returns
    * (__qid, __nid, __score). */
  private def partialTopK(
      scored: org.apache.spark.sql.Dataset[(Long, Long, Double)],
      limit: Int): DataFrame = {
    val sp = scored.sparkSession
    import sp.implicits._
    scored.mapPartitions { it =>
      val heaps = scala.collection.mutable.HashMap
        .empty[Long, scala.collection.mutable.PriorityQueue[(Double, Long)]]
      it.foreach { case (q, id, s) =>
        heapOffer(heaps.getOrElseUpdate(
          q, scala.collection.mutable.PriorityQueue.empty(heapWorst)), s, id, limit)
      }
      heaps.iterator.flatMap { case (q, h) =>
        h.iterator.map { case (s, id) => (q, id, s) }
      }
    }.toDF("__qid", "__nid", "__score")
  }

  /** The flat row-major int8 packing of a query/ingest batch — ONE
    * definition for the three kernel-scan broadcasts
    * ([[incrementalNearDup]]'s kernel arm packs without masks;
    * [[ivfIncrementalNearDup]] and [[ivfTopKBatchQuantized]] with
    * them), so the dimension policy, the flat layout, and the
    * Int-capacity guard cannot drift between copies. `rows` is the
    * driver-collected batch: (id, probe mask, q-bytes, Σq²). */
  private[graft] final case class PackedBatch(
      ids: Array[Long], masks: Array[Long], dens: Array[Double],
      buf: Array[Byte], dim: Int)

  private def packQuantizedBatch(
      rows: Array[(Long, Long, Array[Byte], Long)]): PackedBatch = {
    var bdim = 0
    rows.foreach { case (_, _, q, _) =>
      if (q.nonEmpty) {
        if (bdim == 0) bdim = q.length
        else if (q.length != bdim) throw new IllegalArgumentException(
          s"mixed-dimension batch: int8 dot over $bdim- vs " +
            s"${q.length}-component vectors would silently truncate")
      }
    }
    val nb = rows.length
    // the flat buffer is one JVM array: nb × dim must fit in Int —
    // found in review: at the 1M-row cap a dim above 2048 silently
    // wrapped the size negative (NegativeArraySizeException) or worse
    require(nb.toLong * math.max(bdim, 1) <= Int.MaxValue,
      s"flat int8 batch buffer needs ${nb.toLong * math.max(bdim, 1)} bytes " +
        s"($nb rows × $bdim components) — exceeds one JVM array; chunk the batch")
    val ids = new Array[Long](nb)
    val masks = new Array[Long](nb)
    val dens = new Array[Double](nb)
    val buf = new Array[Byte](nb * math.max(bdim, 1))
    var j = 0
    rows.foreach { case (id, mask, q, qs) =>
      ids(j) = id
      masks(j) = mask
      dens(j) = if (q.isEmpty) 0.0 else math.sqrt(qs.toDouble)
      if (q.nonEmpty) System.arraycopy(q, 0, buf, j * bdim, bdim)
      j += 1
    }
    PackedBatch(ids, masks, dens, buf, bdim)
  }

  /** The shard-orchestration harness BOTH quantized kernel arms run
    * (self-review: the serving and ingest loops were verbatim copies):
    * for each 64-wide cluster shard that at least one batch row
    * probes, pack that shard's mask words (zero-mask rows dropped —
    * they can contribute nothing there), broadcast, slice the corpus
    * frame to the shard's cluster range, and hand (slice, broadcast,
    * base) to the arm's kernel. One iteration over the unsliced frame
    * when k ≤ maskWidth. Shard outputs are disjoint (each corpus row's
    * cluster lives in exactly one shard), so callers union them.
    *
    * Cost shape: ⌈k/64⌉ transient broadcasts of the int8 batch, and
    * the corpus frame is evaluated once per probed shard — on an
    * [[ivfLoad]]-ed index the `__cc` range filters prune to DISJOINT
    * file sets, so total I/O across shards ≈ one full pruned pass; an
    * in-memory multi-shard (k > 64) index with an expensive lineage
    * should be persisted by the caller before serving.
    *
    * ==Broadcast lifecycle== (round-16 advice): the ⌈k/64⌉ PackedBatch
    * broadcasts built here are registered in [[releaseServingBroadcasts]]'
    * queue instead of waiting for the JVM's weak-reference GC — a
    * long-lived serving loop (ServeStreaming's foreachBatch) otherwise
    * accumulates one batch-sized broadcast block per probed shard per
    * micro-batch. Callers that MATERIALIZE their result (write/collect)
    * should call [[releaseServingBroadcasts]] afterwards; callers that
    * return the lazy frame must leave the queue alone (the frame's
    * execution still needs the blocks) and inherit the GC fallback. */
  private def shardedKernelScans[T](
      brows: Array[(Long, Seq[Int], Array[Byte], Long)],
      cq: DataFrame,
      k: Int,
      maskWidth: Int)(
      scan: (DataFrame, org.apache.spark.broadcast.Broadcast[PackedBatch], Int) => T): Seq[T] = {
    val nShards = (k + maskWidth - 1) / maskWidth
    (0 until nShards).flatMap { sh =>
      val base = sh * maskWidth
      val rows = brows.map { case (id, cls, qq, qs) =>
        (id, maskWord(cls, base, maskWidth), qq, qs)
      }.filter(_._2 != 0L)
      if (rows.isEmpty) None
      else {
        val packed = packQuantizedBatch(rows)
        val bc = cq.sparkSession.sparkContext.broadcast(packed)
        registerServingCleanup(() => bc.destroy(), Some(bc))
        val slice =
          if (nShards == 1) cq
          else cq.filter(col("__cc") >= base && col("__cc") < base + maskWidth)
        Some(scan(slice, bc, base))
      }
    }
  }

  /** Process-wide queue of the PackedBatch broadcasts the quantized
    * kernel scans build (see [[shardedKernelScans]]'s lifecycle note)
    * when NO [[withServingResources]] scope is active.
    * ConcurrentLinkedQueue: adds race only with the release drain, and
    * a broadcast enqueued mid-drain simply survives to the next one. */
  private val servingBroadcasts =
    new java.util.concurrent.ConcurrentLinkedQueue[
      org.apache.spark.broadcast.Broadcast[_]]()

  /** The active per-thread resource scope (see
    * [[withServingResources]]): serving ops register their per-call
    * cleanups (PackedBatch broadcast destroys, internal persist
    * unpersists) here when a scope is open on the constructing
    * thread. */
  private val cleanupScope =
    new ThreadLocal[scala.collection.mutable.Buffer[() => Unit]]()

  /** Register a serving-resource cleanup: into the calling thread's
    * open [[withServingResources]] scope when there is one, else (for
    * broadcasts only) the process-wide queue that
    * [[releaseServingBroadcasts]] drains. `asBroadcast` carries the
    * queue fallback; persist-style cleanups without a scope are left
    * to the runner's cache lifecycle (see Q.scala's contract). */
  private def registerServingCleanup(
      cleanup: () => Unit,
      asBroadcast: Option[org.apache.spark.broadcast.Broadcast[_]]): Unit = {
    val scope = cleanupScope.get()
    if (scope != null) scope += cleanup
    else asBroadcast.foreach(servingBroadcasts.add)
  }

  /** SCOPED capture of the serving resources `body` creates on THIS
    * thread (round-17 self-review: the process-wide release could
    * destroy broadcasts belonging to a CONCURRENT job — e.g. an ingest
    * stream sharing the JVM with a serving stream, both riding
    * [[shardedKernelScans]]). The serving ops create their broadcasts
    * and internal persists EAGERLY at op-construction time (the probe
    * collect forces them), so constructing the result frame inside
    * `body` captures exactly this call's resources and nothing else.
    * Returns (result, release): call `release()` only after the result
    * frame is fully materialized (written/collected) — a destroyed
    * broadcast cannot be re-read. ServeStreaming wraps each
    * micro-batch's op construction and releases after the batch's
    * write. */
  def withServingResources[T](body: => T): (T, () => Unit) = {
    val buf = scala.collection.mutable.Buffer.empty[() => Unit]
    val prev = cleanupScope.get()
    cleanupScope.set(buf)
    val result = try body finally cleanupScope.set(prev)
    (result, () => buf.foreach { f =>
      try f() catch { case _: Exception => () } // best-effort frees
    })
  }

  /** Destroy every per-batch serving broadcast registered OUTSIDE a
    * [[withServingResources]] scope since the last call (round-16
    * advice: without this a k > 64 index leaks ⌈k/64⌉ batch-sized
    * broadcast blocks per serving call until a natural GC drains the
    * weak-reference queue). Call ONLY after every result frame built
    * from those broadcasts is fully materialized (written/collected) —
    * a released broadcast cannot be re-read. Single-shot batch callers
    * call it after their own write; anything running CONCURRENT
    * serving/ingest jobs in one JVM must use [[withServingResources]]
    * instead (this queue is process-wide and cannot tell jobs apart).
    * Returns the number of broadcasts destroyed. */
  def releaseServingBroadcasts(): Int = {
    var n = 0
    var b = servingBroadcasts.poll()
    while (b != null) {
      b.destroy()
      n += 1
      b = servingBroadcasts.poll()
    }
    n
  }

  /** [[probeClusters]] output packed into one mask-shard word: bit
    * `c − base` for each probed cluster in `[base, base+width)` —
    * the per-shard probe bitmask both the serving and ingest kernel
    * scans broadcast (base=0, width=64 is the single-word k ≤ 64
    * case). */
  private def maskWord(clusters: Seq[Int], base: Int, width: Int): Long =
    clusters.foldLeft(0L) { (m, c) =>
      if (c >= base && c < base + width) m | (1L << (c - base)) else m
    }

  /** Both batch serving ops rename their internal qid/nid back to the
    * caller's `queryIdCol` and the index's `idCol` in the final select —
    * equal names would produce a frame with two identically-named
    * columns that throws on any downstream reference (round-14 advice).
    * Refuse up front with the rename the caller needs. */
  private def requireDistinctIdCols(
      op: String, queryIdCol: String, idCol: String): Unit =
    require(queryIdCol != idCol,
      s"$op: queryIdCol and the index idCol are both '$idCol' — the output " +
        "would carry two identically-named columns; alias the query id " +
        "(e.g. .select(col(\"" + idCol + "\").as(\"q_id\"), ...)) first")

  /** The flat int8 kernel scan of ONE mask shard: every corpus row in
    * `[base, base+width)` streams through direct static kernel calls
    * against the whole broadcast batch, bounded per-query heaps keep
    * the `keep` best coarse scores per partition (the per-partition
    * top-k combiner — see [[partialTopK]] for why callers still need
    * the global cut). Factored out of [[ivfTopKBatchQuantized]] when k
    * outgrew one mask word so the kernel loop exists exactly once. */
  private def coarseKernelScan(
      cq: DataFrame,
      bc: org.apache.spark.broadcast.Broadcast[PackedBatch],
      base: Int,
      width: Int,
      keep: Int): org.apache.spark.sql.Dataset[(Long, Long, Double)] = {
    val sp = cq.sparkSession
    import sp.implicits._
    cq.as[(Long, Int, Array[Byte], Long)]
      .mapPartitions { it =>
        val p = bc.value
        val heaps = Array.fill(p.ids.length)(
          scala.collection.mutable.PriorityQueue.empty[(Double, Long)](heapWorst))
        it.foreach { case (nid, cc, cqv, cn2) =>
          val ccs = cc - base
          if (!(cqv.isEmpty || cn2 == 0L || p.dim == 0 || ccs < 0 || ccs >= width)) {
            if (cqv.length != p.dim) throw new IllegalArgumentException(
              s"mixed-dimension corpus vs query batch: int8 dot over " +
                s"${cqv.length}- vs ${p.dim}-component vectors would silently truncate")
            val cbit = 1L << ccs
            val cden = math.sqrt(cn2.toDouble)
            var jj = 0
            while (jj < p.ids.length) {
              val dj = p.dens(jj)
              if ((p.masks(jj) & cbit) != 0L && dj != 0.0) {
                val c = Int8Kernel.dotRange(cqv, 0, p.buf, jj * p.dim, p.dim)
                heapOffer(heaps(jj),
                  math.floor(c / (cden * dj) * 10000 + 0.5) / 10000.0, nid, keep)
              }
              jj += 1
            }
          }
        }
        heaps.iterator.zipWithIndex.flatMap { case (h, qj) =>
          h.iterator.map { case (s, nid) => (p.ids(qj), nid, s) }
        }
      }
  }

  /** The IVF-SQ8 form of [[ivfTopKBatch]] — v9's two-lever pruning at
    * serving-batch throughput: the probed pairs (already ~nprobe/k of
    * the cross product) are COARSE-scored by the FLAT int8 kernel scan
    * — the batch's quantized bytes and per-query cluster bitmasks ride
    * ONE broadcast, each corpus partition streams its rows through
    * direct static kernel calls ([[Int8Kernel]]) and keeps a
    * bounded per-query heap of the `topK × overFetch` best coarse
    * scores — and ONLY the heap survivors (≈ queries × topK ×
    * overFetch rows, independent of corpus size) touch float vectors
    * for the exact rerank. The flat-kernel shape matters more than the
    * byte width here: at sf10's 1.2B probed pairs the exact batch form
    * measures ~60–63 s, the same int8 scoring THROUGH a broadcast join
    * ~51 s (per-pair join-row overhead dominates, not arithmetic), and
    * this scan shape measures ~12.6 s end-to-end — the r13
    * KernelShapeBench lesson (direct static calls over flat buffers vs
    * per-row expression eval) applied to serving. `overFetch` is
    * the usual recall dial against coarse/exact rank inversions near
    * the boundary; the default 4 matches [[quantizedTopK]]. Output
    * contract and degenerate-vector policy identical to
    * [[ivfTopKBatch]].
    *
    * ==k above 64: mask sharding (round-14 verdict #3)==
    * The per-query probe bitmask is one Long, but k is NOT capped at
    * 64 any more: clusters shard into ⌈k/64⌉ contiguous 64-wide mask
    * words, the flat kernel scan runs once per shard over that shard's
    * slice of the corpus (each corpus row's cluster lives in exactly
    * one shard, so the shard outputs are disjoint), and their union
    * feeds the SAME global coarse cut + exact rerank — for k ≤ 64 the
    * loop has one iteration and the op is bit-identical to its
    * pre-sharding form (spec'd by forcing a k ≤ 64 index through
    * 5-wide shards and comparing). Probe selection stays GLOBAL (each
    * query's nprobe nearest among ALL k centroids, computed once on
    * the driver), so sharding changes the execution shape only, never
    * which pairs are scored. The packed batch is rebuilt per shard
    * (the mask word differs) — ⌈k/64⌉ transient broadcasts of the int8
    * buffer, acceptable because the buffer is already capped at one
    * JVM array and shards beyond the probed ones are skipped.
    *
    * ==Probe-union partition pruning==
    * The driver knows every cluster ANY query probes (the probe sets
    * are collected anyway); when that union is a strict subset of the
    * k clusters, a static `cluster IN (…)` filter restricts the corpus
    * scan BEFORE quantization — against an [[ivfLoad]]-ed index, whose
    * `assigned` frame is a cluster-partitioned parquet tree, that is
    * file-listing partition pruning: a narrow serving batch physically
    * reads only the partitions it probes (asserted on the v17 plan in
    * PlanQualitySpec). Rows in unprobed clusters could never score
    * anyway (no mask bit), so the filter changes I/O, not output.
    *
    * ==Measured recall (results/v16_recall_r16.json — sf10, 200k
    * corpus, 28,571 queries, k=16, top-10)==
    * Int8 coarse scoring + exact rerank costs essentially NOTHING in
    * recall at `overFetch` ≥ 2: recall@10 vs the exact batch arm at
    * the SAME nprobe is 1.0000 for every (nprobe ∈ {2,4,8}) ×
    * (overFetch ∈ {2,4,8}) cell, and 0.982–0.984 at overFetch=1 (the
    * coarse/exact boundary inversions the over-fetch exists to cover).
    * Recall vs the FULL exact scan is the IVF pruning dial itself,
    * independent of quantization: 0.424 / 0.620 / 0.848 at nprobe
    * 2 / 4 / 8 of 16 clusters. Wall time at the sweet spot (nprobe=8,
    * overFetch=2): 17.3 s vs 121.4 s for the same-nprobe exact arm
    * (7.0×) and 249.7 s for the full exact scan (14.4×); overFetch
    * beyond 2 only buys rerank cost (recall is already 1.0). */
  def ivfTopKBatchQuantized(
      index: IvfIndex,
      queries: DataFrame,
      queryIdCol: String,
      queryVecCol: String,
      topK: Int = 10,
      nprobe: Int = 4,
      overFetch: Int = 4): DataFrame =
    ivfTopKBatchQuantizedImpl(
      index, queries, queryIdCol, queryVecCol, topK, nprobe, overFetch,
      maskWidth = 64)

  /** [[ivfTopKBatchQuantized]] with the mask-shard width exposed so the
    * spec can exercise the multi-shard path on a small (k ≤ 64) index —
    * production always uses the full 64-bit word. */
  private[graft] def ivfTopKBatchQuantizedImpl(
      index: IvfIndex,
      queries: DataFrame,
      queryIdCol: String,
      queryVecCol: String,
      topK: Int,
      nprobe: Int,
      overFetch: Int,
      maskWidth: Int): DataFrame = {
    implicit val sp: SparkSession = index.assigned.sparkSession
    import sp.implicits._
    require(topK >= 1 && nprobe >= 1 && overFetch >= 1,
      "topK, nprobe and overFetch must be >= 1")
    require(maskWidth >= 1 && maskWidth <= 64,
      s"maskWidth $maskWidth outside [1, 64]")
    requireDistinctIdCols("ivfTopKBatchQuantized", queryIdCol, index.idCol)
    val k = index.centroids.length
    require(k >= 1, "ivfTopKBatchQuantized needs a built index (no centroids)")
    val nQueries = queries.select(col(queryIdCol)).count()
    require(nQueries <= maxExactRows,
      s"ivfTopKBatchQuantized got $nQueries queries — the broadcast probe " +
        s"side is capped at $maxExactRows; use ivfTopKBatchQuantizedChunked")
    val bcCents = sp.sparkContext.broadcast(index.centroids)
    val effNprobe = math.min(nprobe, k)
    val keep = topK * overFetch
    // one pass computes each query's GLOBAL probe set (nprobe nearest
    // among all k centroids) + int8 packing; O(batch) driver fetch
    val qv = nullAsEmpty(col(queryVecCol))
    val brows = queries
      .select(col(queryIdCol).cast("long"), qv,
        VectorFunctions.quantizeInt8(qv).as("__qq"))
      .withColumn("__qs", VectorFunctions.int8Dot(col("__qq"), col("__qq")))
      .as[(Long, Array[Float], Array[Byte], Long)]
      .map { case (id, v, qq, qs) =>
        val cs = bcCents.value
        checkAssignDim(cs, v)
        (id, probeClusters(cs, v, effNprobe), qq, qs)
      }
      .collect()
    val allProbed = brows.iterator.flatMap(_._2).toSet
    // Probe-union pruning first (see scaladoc): unprobed clusters can
    // never score, so drop them BEFORE the coarse pass — partition
    // pruning on a loaded (cluster-partitioned) index. `corpus` (float)
    // feeds the exact rerank either way.
    val corpus = pruneToProbed(index.assigned, allProbed, k)
    // the int8 projection of the cluster-keyed corpus: the shared
    // materialized-else-inline policy (see quantizedCorpusProjection) —
    // on a loaded index the coarse pass reads persisted bytes,
    // 1 byte/component, no quantize expression
    val cq = quantizedCorpusProjection(index, allProbed, k, "__nid")
    // one flat kernel scan per probed mask shard (one iteration total
    // when k <= maskWidth); shard outputs are disjoint by construction.
    // Heaps are positional in each shard's packed batch and results key
    // on p.ids, so the harness dropping zero-mask rows is
    // output-identical (see shardedKernelScans for the cost shape)
    val coarse = shardedKernelScans(brows, cq, k, maskWidth) {
      (slice, bc, base) => coarseKernelScan(slice, bc, base, maskWidth, keep)
    }.reduceOption(_ union _).getOrElse(
      sp.emptyDataset[(Long, Long, Double)])
    // GLOBAL coarse cut (found in review: the per-partition heap union
    // alone is partitioning-dependent — up to partitions × keep rows
    // per query — and the v16 oracle reranks exactly the GLOBAL coarse
    // top-keep, so without this window the output could flip with
    // spark.sql.shuffle.partitions or input splits): rank the small
    // heap union (≤ partitions × queries × keep rows) by the same
    // (coarse desc, id) order and keep exactly `keep` per query
    val cand = partialTopK(coarse, keep)
      .withColumn("__crn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("__qid"))
          .orderBy(col("__score").desc, col("__nid"))))
      .filter(col("__crn") <= keep)
      .select("__qid", "__nid")
    // exact rerank: only the coarse survivors touch floats — both
    // fetch sides are small (queries ≤ cap; candidates ≈ queries×k×oF)
    val qf = queries.select(col(queryIdCol).cast("long").as("__qid"),
        col(queryVecCol).as("__qvf"))
      .withColumn("__qnf", VectorFunctions.norm(col("__qvf")))
    // the rerank fetch reads the PRUNED corpus too: every candidate's
    // cluster is probed by construction, so the filtered frame yields
    // identical rows and a loaded index prunes this scan's partitions
    // as well
    val nf = corpus
      .select(col(index.idCol).cast("long").as("__nid"),
        col(index.vecCol).as("__nvf"))
      .withColumn("__nnf", VectorFunctions.norm(col("__nvf")))
    broadcast(cand)
      .join(nf, Seq("__nid"))
      .join(broadcast(qf), Seq("__qid"))
      .select(col("__qid"), col("__nid"),
        r4(VectorFunctions.dot(col("__nvf"), col("__qvf")) /
          (col("__nnf") * col("__qnf"))).as("cos_sim"))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("__qid"))
          .orderBy(col("cos_sim").desc, col("__nid"))))
      .filter(col("rank") <= topK)
      .select(col("__qid").as(queryIdCol), col("__nid").as(index.idCol),
        col("cos_sim"), col("rank").cast("long").as("rank"))
  }

  /** Serving driver above the batch cap (round-14 verdict #3): splits
    * an arbitrarily large query batch into deterministic chunks of
    * ~`chunkTarget` queries, runs [[ivfTopKBatch]] per chunk, and
    * unions the per-chunk outputs — answers are per-query independent
    * (every window in the base op partitions by qid), so the union IS
    * the one-shot answer (spec'd: 2-chunk == one-shot on the v15
    * fixture).
    *
    * Chunk assignment is `xxhash64(qid) mod nChunks` — deterministic,
    * RNG-free, and same-qid-same-chunk (duplicate qids never split
    * across chunks, which would corrupt their per-query rank). Hash
    * chunking bounds chunk size in expectation, not worst case, so
    * `nChunks` targets HALF the hard cap: at the sizes where chunking
    * engages (> 2²⁰ rows) a uniform hash landing 2× its expected mass
    * in one chunk has vanishing probability, and the base op's own cap
    * require stays armed as the loud backstop — the failure mode is a
    * refused chunk, never a silently wrong answer. Each chunk is one
    * full pass over `queries` (a filter + the base op's count); a
    * caller looping many chunks over an expensive query source should
    * cache it first. */
  def ivfTopKBatchChunked(
      index: IvfIndex,
      queries: DataFrame,
      queryIdCol: String,
      queryVecCol: String,
      topK: Int = 10,
      nprobe: Int = 4,
      chunkTarget: Long = maxExactRows / 2): DataFrame =
    chunkedUnion(queries, queryIdCol, chunkTarget) { chunk =>
      ivfTopKBatch(index, chunk, queryIdCol, queryVecCol, topK, nprobe)
    }

  /** [[ivfTopKBatchChunked]] for the IVF-SQ8 arm — same deterministic
    * hash chunking, same exact-union argument, wrapping
    * [[ivfTopKBatchQuantized]] (which itself shards k > 64 indexes
    * across mask words, so between the two levers no serving batch is
    * refused for size any more). */
  def ivfTopKBatchQuantizedChunked(
      index: IvfIndex,
      queries: DataFrame,
      queryIdCol: String,
      queryVecCol: String,
      topK: Int = 10,
      nprobe: Int = 4,
      overFetch: Int = 4,
      chunkTarget: Long = maxExactRows / 2): DataFrame =
    chunkedUnion(queries, queryIdCol, chunkTarget) { chunk =>
      ivfTopKBatchQuantized(
        index, chunk, queryIdCol, queryVecCol, topK, nprobe, overFetch)
    }

  /** The shared chunk loop of the two chunked serving drivers: count,
    * run the base op directly when the batch fits (the driver's only
    * added cost on that path is its own counting pass — the base op
    * re-counts for its cap require), otherwise union `run` over
    * hash-disjoint chunks.
    *
    * Measured overhead (round-15 verdict #8,
    * `results/chunked_overhead_sf1_r16.json` — sf1, 2,857 queries
    * forced through 3 chunks vs one-shot, queries persisted per the
    * cache-first guidance above): the EXACT arm is free (ratio 0.991 —
    * the per-chunk counting/filter passes vanish inside the probe
    * join), the QUANTIZED arm pays 1.34× (each chunk repeats the
    * driver-side collect + int8 pack + broadcast that the one-shot
    * form does once). Chunking engages only above ~2²⁰ queries, where
    * the one-shot quantized form is refused anyway — the 34% is the
    * price of serving at all on that path, not a regression available
    * to avoid; an UNCACHED expensive query source would instead pay
    * its full recompute per chunk, which is why the guidance says
    * cache first. */
  private def chunkedUnion(
      queries: DataFrame, queryIdCol: String, chunkTarget: Long)(
      run: DataFrame => DataFrame): DataFrame = {
    require(chunkTarget >= 1 && chunkTarget <= maxExactRows,
      s"chunkTarget $chunkTarget outside [1, $maxExactRows]")
    val n = queries.select(col(queryIdCol)).count()
    if (n <= chunkTarget) run(queries)
    else {
      val nChunks = ((n + chunkTarget - 1) / chunkTarget).toInt
      (0 until nChunks).map { i =>
        run(queries.filter(
          pmod(xxhash64(col(queryIdCol)), lit(nChunks.toLong)) === i.toLong))
      }.reduce(_ union _)
    }
  }

  /** The `nprobe` nearest clusters of `v`, ascending cluster index —
    * repeated strict-argmax over the unchosen centroids, so ties break
    * to the LOWER cluster index exactly like [[nearestCentroid]] and
    * the oracle's `ROW_NUMBER() OVER (ORDER BY sim DESC, c)`. The
    * primitive behind both probe forms (works for any k); degenerate
    * vectors (every cosine NaN) probe nothing: empty. */
  private def probeClusters(
      cents: Array[(Array[Double], Double)], v: Array[Float], nprobe: Int): Seq[Int] = {
    val vn = normF(v)
    val sims = new Array[Double](cents.length)
    var c = 0
    while (c < cents.length) {
      sims(c) = dotDF(cents(c)._1, v) / (cents(c)._2 * vn)
      c += 1
    }
    val chosen = new Array[Boolean](cents.length)
    val out = Seq.newBuilder[Int]
    var picked = 0
    var continue = true
    while (picked < nprobe && continue) {
      var best = -1
      var bestSim = Double.NegativeInfinity
      var i = 0
      while (i < sims.length) {
        if (!chosen(i) && sims(i) > bestSim) { bestSim = sims(i); best = i }
        i += 1
      }
      if (best < 0) continue = false // all remaining NaN/chosen: stop
      else { chosen(best) = true; out += best; picked += 1 }
    }
    out.result().sorted
  }

  /** Diversity-balanced subsample over the LEARNED embedding clusters:
    * at most `perCluster` rows per IVF cluster, chosen by ascending
    * md5-derived content hash of the id (ties to the lower id) — the
    * embedding-space counterpart of `Sampling.stratifiedKeep`, whose
    * strata must be given columns. Balancing across semantic clusters
    * is the standard counter to majority-topic domination when
    * downsampling a training corpus. Deterministic and re-ingest
    * stable: no RNG, the same corpus always yields the same sample;
    * one window shuffle on the cluster key at any corpus size.
    * Returns (idCol, cluster), cluster-then-id ordered. */
  def clusterBalancedSample(index: IvfIndex, perCluster: Int): DataFrame = {
    require(perCluster >= 1, s"perCluster must be >= 1, got $perCluster")
    import org.apache.spark.sql.expressions.Window
    index.assigned
      .select(col(index.idCol), col("cluster"),
        // built from column functions, not an interpolated SQL string, so
        // id column names needing backticks (dots, spaces) resolve like
        // every other col(idCol) path in this file
        conv(substring(md5(col(index.idCol).cast("string")), 1, 15), 16, 10)
          .cast("long").as("__h"))
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col("cluster")).orderBy(col("__h"), col(index.idCol))))
      .filter(col("__rn") <= perCluster)
      .select(col(index.idCol), col("cluster").cast("long").as("cluster"))
      .orderBy(col("cluster"), col(index.idCol))
  }

  /** The index rows inside the query's `nprobe` closest clusters
    * (driver-side argmax over the k centroid rows — the standard IVF
    * probe), with `filter` pre-applied. Shared by the float and the
    * quantized probe paths so cluster selection cannot diverge. */
  private def probedAssigned(
      index: IvfIndex,
      query: Array[Float],
      nprobe: Int,
      filter: Column): DataFrame = {
    val qn = normF(query)
    // a zero/empty query has no cosine to any centroid: the NaN sims
    // would pick arbitrary probes and the downstream rerank division
    // would raise ANSI DIVIDE_BY_ZERO — refuse loudly instead
    require(qn > 0,
      "IVF query vector must be non-degenerate (zero/empty has no cosine)")
    val probe = index.centroids.zipWithIndex
      .map { case ((cv, cn), ci) => (dotDF(cv, query) / (cn * qn), ci) }
      .sortBy { case (sim, ci) => (-sim, ci) }
      .take(nprobe)
      .map(_._2.toLong)
    index.assigned
      .filter(filter)
      .filter(col("cluster").isin(probe.toIndexedSeq: _*))
  }

  /** IVF-SQ8: both pruning levers composed — the IVF probe keeps only
    * `~nprobe/k` of the corpus, the int8 coarse score ranks those
    * probed rows with pure-integer arithmetic, and only `topK ×
    * overFetch` survivors touch the floats for the exact rerank. At
    * 100 TB this is the serving shape: a query reads `nprobe/k` of a
    * 1-byte-per-component index partition (with [[quantizeCorpus]]
    * materialized per cluster) and a few hundred float vectors, i.e.
    * ~1/256th of the bytes the brute-force float scan reads at k=16 /
    * nprobe=4. Returns (idCol, cos_sim), score-descending, id
    * tiebreak; recall vs [[ivfTopK]] is governed by `overFetch`
    * exactly as [[quantizedTopK]]'s is vs the brute-force baseline. */
  def ivfQuantizedTopK(
      index: IvfIndex,
      query: Array[Float],
      topK: Int = 10,
      nprobe: Int = 4,
      overFetch: Int = 4,
      filter: Column = lit(true)): DataFrame = {
    implicit val sp: SparkSession = index.assigned.sparkSession
    require(topK >= 1 && overFetch >= 1, s"topK and overFetch must be >= 1")
    val q = quantizedQuery(
      index.assigned.sparkSession.range(1).select(typedLit(query).as("__qv")),
      "__qv")
    val coarse = probedAssigned(index, query, nprobe, filter)
      .select(col(index.idCol), col(index.vecCol),
        VectorFunctions.quantizeInt8(col(index.vecCol)).as("__cq"))
      .crossJoin(broadcast(q))
      .select(col(index.idCol), col(index.vecCol), col("__qe"), col("__qn"),
        coarseCosSelf.as("approx_cos"))
      .orderBy(col("approx_cos").desc, col(index.idCol))
      .limit(topK * overFetch)
    coarse
      .select(col(index.idCol),
        r4(VectorFunctions.dot(col(index.vecCol), col("__qe")) /
          (VectorFunctions.norm(col(index.vecCol)) * col("__qn"))).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col(index.idCol))
      .limit(topK)
  }

  val maxExactRows: Long = 1L << 20

  /** Resolve `numBlocks = 0` (auto) for the blocked pairwise kernel:
    * the smallest B whose B·(B+1)/2 block-pair groups give at least
    * two groups per shuffle partition — so the balanced slot packing (below) always has
    * enough items to fill every partition evenly, and the kernel's
    * task granularity scales with the cluster instead of being pinned
    * to a constant written for one machine. Task memory shrinks as
    * 2·N/B while shuffle volume grows as N·B·payload: with the int8
    * payload at ~76 B/row and the arm capped at [[maxExactRows]],
    * even a 1000-partition resolution (B ≈ 63) ships ~5 GB — noise
    * next to the O(N²) compute the extra partitions divide. */
  private def resolveNumBlocks(sp: SparkSession, numBlocks: Int): Int = {
    require(numBlocks >= 0,
      s"numBlocks must be positive, or 0 for auto, got $numBlocks")
    if (numBlocks > 0) numBlocks
    else {
      val p = sp.conf.get("spark.sql.shuffle.partitions").toInt
      var b = 8 // floor: below 8 blocks the groups get too chunky to pack
      while (b.toLong * (b + 1) / 2 < 2L * p) b += 1
      b
    }
  }

  /** Assign every block-pair group a distinct Int shuffle key whose
    * murmur3 hash lands in a partition chosen by weighted LPT packing
    * — so the quadratic groups spread EVENLY over the shuffle's
    * partitions instead of wherever `hash((p, q)) % P` happens to
    * throw them.
    *
    * Why: the scoring stage is byte-small but CPU-huge (~30 s of
    * executor time per group at 200k vectors), and plain hash
    * placement of G keys into P partitions leaves ~P·(1−1/P)^G
    * partitions EMPTY while others stack 2–3 groups — measured 24
    * busy tasks for 36 groups on 32 partitions, wall 90.6 s against a
    * 31 s work/threads ideal (round-12 per-stage attribution). AQE cannot repair it: coalescing merges by BYTES
    * and never splits a partition.
    *
    * How: a cross group (p < q) scores n·n pairs from 2n rows, a
    * diagonal group n²/2 from n rows — weight 2 vs 1, and work tracks
    * rows², so balancing weights balances bytes too. Groups are
    * packed heaviest-first onto the least-loaded partition
    * (deterministic LPT), then each group gets a key that Spark's own
    * `HashPartitioning` — `pmod(murmur3(key, seed = 42), P)`,
    * reproduced driver-side via `Murmur3_x86_32.hashInt` — maps to
    * its chosen partition. The keys are found by scanning ints in
    * order, so the whole assignment is deterministic; a spec pins the
    * driver-side prediction against Spark's actual task placement. */
  private[graft] def balancedSlots(
      numBlocks: Int, numPartitions: Int): Map[(Int, Int), Int] = {
    import org.apache.spark.unsafe.hash.Murmur3_x86_32
    val groups = for { p <- 0 until numBlocks; q <- p until numBlocks }
      yield (p, q)
    // heaviest first; (p, q) tiebreak keeps the pack deterministic
    val lpt = groups.sortBy { case (p, q) => (if (p == q) 1 else 0, p, q) }
    val load = new Array[Long](numPartitions)
    val keysByBin =
      Array.fill(numPartitions)(scala.collection.mutable.Queue.empty[Int])
    var nextKey = 0
    def keyFor(bin: Int): Int = {
      while (keysByBin(bin).isEmpty) {
        val b = Math.floorMod(Murmur3_x86_32.hashInt(nextKey, 42), numPartitions)
        keysByBin(b).enqueue(nextKey)
        nextKey += 1
      }
      keysByBin(bin).dequeue()
    }
    lpt.map { case g @ (p, q) =>
      var bin = 0
      var i = 1
      while (i < numPartitions) {
        if (load(i) < load(bin)) bin = i
        i += 1
      }
      load(bin) += (if (p == q) 1L else 2L)
      g -> keyFor(bin)
    }.toMap
  }

  /** The shuffle of the blocked pairwise kernel: group the tagged
    * replicas into their B·(B+1)/2 block-pair tasks, each placed on
    * the partition [[balancedSlots]] chose for it. Placement is
    * scheduling, not semantics: every group runs the same kernel `f`.
    *
    * ==The balanced exchange is pinned, not assumed==
    * [[balancedSlots]] predicts the key→partition map driver-side, so
    * the placement is only real if the executed exchange has EXACTLY
    * the partition count the prediction used. A `groupByKey` exchange
    * (`ENSURE_REQUIREMENTS` origin) gives Spark two ways to break that
    * silently: AQE partition coalescing merges the byte-small scoring
    * partitions (they carry kilobytes but seconds of CPU — exactly
    * what byte-based coalescing mis-judges), and a
    * `spark.sql.shuffle.partitions` change between plan build and
    * action shifts P (round-12 advice). The shuffle therefore goes
    * through `repartition(parts, slot)` — a `REPARTITION_BY_NUM`
    * exchange, which AQE's `CoalesceShufflePartitions` rule never
    * touches and whose partition count is baked into the plan — then
    * sorts within partitions and splits slot runs in `mapPartitions`,
    * the same exchange+sort shape `flatMapGroups`' sort-based grouping
    * produces, with the partition count now a structural guarantee.
    *
    * Kernel contract (the kernel honors it, and the splitter enforces
    * it defensively): `f` drains its input iterator before emitting —
    * its lazy output may reference materialized state but never the
    * input iterator. */
  private[graft] def groupBlocked[P, R: org.apache.spark.sql.Encoder](
      tagged: org.apache.spark.sql.Dataset[(Int, Int, Byte, Long, P)],
      numBlocks: Int)(
      f: Iterator[(Int, Int, Byte, Long, P)] => Iterator[R])
      : org.apache.spark.sql.Dataset[R] = {
    val sp = tagged.sparkSession
    val parts = sp.conf.get("spark.sql.shuffle.partitions").toInt
    val slots = balancedSlots(numBlocks, parts)
    // the slot replaces (p, q) in the tuple — the kernel keys off
    // the tag alone (see blockTags), so the schema and encoder are
    // unchanged and the slot is a plain Int column to shuffle on
    val slotted = tagged.map(r => (slots((r._1, r._2)), 0, r._3, r._4, r._5))(
      tagged.encoder)
    slotted
      .repartition(parts, col("_1"))
      .sortWithinPartitions(col("_1"))
      .mapPartitions { it =>
        val buf = it.buffered
        new scala.collection.AbstractIterator[R] {
          private var run: Iterator[(Int, Int, Byte, Long, P)] = Iterator.empty
          private var out: Iterator[R] = Iterator.empty
          @annotation.tailrec
          override final def hasNext: Boolean =
            out.hasNext || {
              // drain the PREVIOUS run before testing buf (round-13
              // advice): the defensive drain consumes from buf, so a
              // kernel that violated the drain contract on the last
              // slot of a partition could otherwise empty buf between
              // the buf.hasNext test and buf.head
              while (run.hasNext) run.next() // enforce the drain contract
              buf.hasNext && {
                val key = buf.head._1
                run = new scala.collection.AbstractIterator[(Int, Int, Byte, Long, P)] {
                  def hasNext: Boolean = buf.hasNext && buf.head._1 == key
                  def next(): (Int, Int, Byte, Long, P) = buf.next()
                }
                out = f(run)
                hasNext
              }
            }
          override def next(): R =
            if (hasNext) out.next() else Iterator.empty.next()
        }
      }
  }

  /** Triangle-block replication of the blocked pairwise kernel, so
    * the blocking invariant lives in one place: a row in block
    * `b = floorMod(id, numBlocks)` (floorMod — a negative `%` block would silently drop its cross-block pairs)
    * lands once in its diagonal group `(b, b)` with tag 0, and once in
    * every cross group — tag 1 as the LEFT block of `(b, q>b)`, tag 2
    * as the RIGHT block of `(p<b, b)`. Every unordered pair therefore
    * meets in exactly one group: the diagonal if the ids share a
    * block, else the one cross group `(min, max)` of their two
    * blocks. */
  private def blockTags[P](
      id: Long, payload: P, numBlocks: Int): Iterator[(Int, Int, Byte, Long, P)] = {
    val b = Math.floorMod(id, numBlocks)
    Iterator.single((b, b, 0.toByte, id, payload)) ++
      Iterator.range(b + 1, numBlocks).map(q => (b, q, 1.toByte, id, payload)) ++
      Iterator.range(0, b).map(p => (p, b, 2.toByte, id, payload))
  }

  /** Exact cosine near-duplicate pairs: (idA, idB, cos_sim) with
    * idA < idB and rounded cosine ≥ `threshold`.
    *
    * Triangle-blocked distributed all-pairs: each vector lands in
    * block floorMod(id, numBlocks); each of the B·(B+1)/2 block pairs
    * (p ≤ q) is one shuffle group whose task sees exactly two blocks
    * and runs the tight pairwise kernel. Replication factor B, task
    * memory 2·N/B vectors, nothing on the driver.
    *
    * ==The blocking shuffle ships int8, not float32==
    * The quadratic stage runs on the packed int8 payload and admits a
    * pair only when its integer coarse cosine PLUS a per-pair
    * CERTIFIED error bound (computed from each vector's quantization
    * scale and exact float norm — see [[certifiedCandidatePairs]])
    * clears the threshold: a mathematical no-false-negative guarantee,
    * not a tuned margin. Only admitted pairs fetch their float vectors
    * in [[exactVerify]], where the exact r4 cosine applies the real
    * threshold — so the output is exactly the brute-force all-pairs
    * answer (pinned against one in the tests) while the O(N·B)
    * blocking shuffle moves ~3–4× fewer bytes than float rows and the
    * quadratic inner loop reads 1 byte per component. Empty and zero
    * vectors have no cosine and pair with nothing; non-empty vectors
    * of different dimensions fail loudly.
    *
    * ==This is the EXACT arm — it is quadratic by design==
    * O(N²) flops are inherent to exact pairwise: the builder's sf1
    * soak measured 60× wall time at 10× data, vs flat for the LSH
    * arm over the same growth. Use it as the exact reference for
    * [[lshCandidates]] (bucketed, subquadratic) or
    * [[ivfBuild]]/[[ivfTopK]] (cluster-pruned), and switch to those
    * beyond roughly 1M vectors (~10⁹ flops × dim per 1M² pairs). Pass
    * the corpus size as `sizeHint` when you know it — inputs past
    * `maxExactRows` are rejected loudly rather than left to burn a
    * cluster. */
  def cosineNearDupPairs(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      numBlocks: Int = 0,
      sizeHint: Long = -1L): DataFrame = {
    val cand = certifiedCandidatePairs(corpus, idCol, vecCol, threshold,
      numBlocks, sizeHint)
    exactVerify(cand, corpus, idCol, vecCol, threshold, sizeHint)
  }

  /** Exact near-dup pairs with an int8-quantized coarse prefilter —
    * the bandwidth-reduced variant of [[cosineNearDupPairs]].
    *
    * The quadratic stage (every pair inside a block pair) runs on
    * [[graft.functions.QuantizeInt8]]-packed vectors: 1 byte per
    * component instead of 4, and a pure-integer dot product — so the
    * pass that does O(N²/B²) work per task moves 4× fewer bytes
    * through shuffle and cache, and its scores are bit-exact in any
    * order by construction. Pairs whose QUANTIZED cosine clears
    * `threshold − margin` become candidates; only candidates touch the
    * full-precision floats, where the EXACT cosine (same codegen'd
    * kernel and rounding as [[cosineNearDupPairs]]) applies the real
    * `threshold`. With an adequate margin the output is identical to
    * the exact arm — 64-dim random-vector quantization error measures
    * ~0.005 cosine, so the 0.05 default is 10× headroom; the margin is
    * a recall knob, not a correctness knob, and the verify stage never
    * admits a false positive. Same triangle blocking, same loud
    * `maxExactRows` guard: quantization cuts the constant 4×, not the
    * O(N²). */
  def quantizedNearDupPairs(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      margin: Double = 0.05,
      numBlocks: Int = 0,
      sizeHint: Long = -1L): DataFrame = {
    require(margin >= 0.0,
      s"margin must be >= 0, got $margin — a negative margin would raise the " +
        "coarse bound ABOVE the threshold and silently drop true near-dup pairs")
    val bound = threshold - margin
    val cand = quantizedCandidatePairs(corpus, idCol, vecCol, bound,
      numBlocks, sizeHint)
    exactVerify(cand, corpus, idCol, vecCol, threshold, sizeHint)
  }

  /** Incremental (delta-vs-corpus) embedding dedup — the vector twin of
    * [[graft.operators.TextDedup.incrementalDedup]]: each `batch` row is
    * statused against the standing `corpus` WITHOUT re-deduplicating the
    * corpus. Returns one row per batch id:
    * (idCol, n_dups, best_sim, status) where n_dups counts corpus
    * vectors with exact rounded cosine ≥ `threshold`, best_sim is the
    * maximum such cosine (−1.0 when none), and status ∈ 'dup' | 'keep'.
    *
    * Shape: the corpus side is its [[quantizeCorpus]] int8 projection —
    * the index a deployment materializes at ingest (1 byte/component, 4×
    * scan bandwidth) and reuses per batch. The coarse pass scans that
    * index once against the BROADCAST quantized batch (a delta is small
    * by design) with the margin-admission rule shared with
    * [[quantizedNearDupPairs]] (`coarseCos ≥ threshold − margin`); only
    * admitted (batch, corpus) pairs touch float vectors for the exact
    * verify. Per-batch cost is one 1-byte corpus scan + the admitted
    * pairs — never a float corpus × batch product. A zero, empty or
    * NULL batch vector has no cosine and statuses 'keep'. When even a 1-byte
    * full scan is too much (the 100 TB regime), compose with the IVF
    * partitioner first ([[ivfBuild]]) and feed the probed subset in as
    * `corpus`. */
  def incrementalNearDup(
      corpus: DataFrame,
      batch: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double = 0.45,
      margin: Double = 0.05,
      corpusSizeHint: Long = -1L): DataFrame = {
    implicit val sp: SparkSession = corpus.sparkSession
    require(margin >= 0.0,
      s"margin must be >= 0, got $margin — a negative margin would raise the " +
        "coarse bound ABOVE the threshold and silently drop true dups")
    import sp.implicits._
    // the coarse scan is the N·M hot loop: one flat-buffer pass per
    // corpus partition — the batch's quantized bytes sit in ONE
    // row-major array (the QSide layout) and each corpus row calls the
    // int8 dot kernel as a direct static call, the shape
    // KernelShapeBench measured at ~13 ns/pair vs ~160 ns/pair for
    // per-row expression eval through a broadcast-nested-loop join. It
    // is the IVF arm's admission scan run as ONE shard: every corpus
    // row sits in cluster 0 and every batch mask is all ones
    val cq = quantizeCorpus(corpus, idCol, vecCol)
      .select(col(idCol).cast("long").as("__cid"), lit(0).as("__cc"),
        col("qvec").as("__cq"), col("qnorm2").as("__cn2"))
    // cap check BEFORE the collect — a cheap count must refuse an
    // over-size batch while the driver is still healthy, not after the
    // full quantized fetch has already OOM'd it
    val nBatch = batch.select(col(idCol)).count()
    require(nBatch <= maxExactRows,
      s"incrementalNearDup batch has $nBatch rows — the " +
        s"broadcast coarse scan is capped at $maxExactRows; split the " +
        "ingest batch or prune the corpus side with ivfBuild")
    // O(batch) driver fetch; a NULL vector is the empty degenerate
    val qq = VectorFunctions.quantizeInt8(nullAsEmpty(col(vecCol)))
    val brows = batch.select(col(idCol).cast("long"), qq.as("__qq"))
      .withColumn("__qs", VectorFunctions.int8Dot(col("__qq"), col("__qq")))
      .as[(Long, Array[Byte], Long)].collect()
    val packed = packQuantizedBatch(
      brows.map { case (id, q, qs) => (id, -1L, q, qs) })
    val bc = sp.sparkContext.broadcast(packed)
    val admitted = admittedShardScan(cq, bc, base = 0, width = 64,
      bound = threshold - margin)
    statusAdmitted(admitted, corpus, batch, idCol, vecCol, threshold,
      corpusSizeHint)
  }

  /** The shared status tail of the incremental arms
    * ([[incrementalNearDup]], [[ivfIncrementalNearDup]]): exact float
    * verify over the admitted (__bid, __cid) pairs — same codegen'd
    * kernel, rounding, and threshold as every other exact site — then
    * per-batch-id aggregation into (idCol, n_dups, best_sim, status).
    * The verify-stage fetch follows [[exactVerify]]'s rule
    * ([[broadcastFetch]]): broadcasting the corpus float side deletes
    * the admitted-pair exchanges — candidates stay where the coarse
    * scan produced them and resolve their float lookups locally. */
  private def statusAdmitted(
      admitted: DataFrame,
      corpus: DataFrame,
      batch: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      corpusSizeHint: Long): DataFrame = {
    implicit val sp: SparkSession = corpus.sparkSession
    val bf = batch.select(col(idCol).as("__bid"), col(vecCol).as("__bv"))
    val cf = corpus.select(col(idCol).as("__cid"), col(vecCol).as("__cv"))
    val cfj = if (broadcastFetch(corpus, idCol, corpusSizeHint)) broadcast(cf) else cf
    val sims = admitted.join(broadcast(bf), "__bid").join(cfj, "__cid")
      .select(col("__bid"),
        r4(VectorFunctions.dot(col("__cv"), col("__bv")) /
          (VectorFunctions.norm(col("__cv")) * VectorFunctions.norm(col("__bv"))))
          .as("__sim"))
      .filter(col("__sim") >= threshold)
    val agg = sims.groupBy("__bid")
      .agg(count(lit(1)).as("__n"), max(col("__sim")).as("__best"))
    batch.select(col(idCol).as("__bid"))
      .join(agg, Seq("__bid"), "left")
      .select(col("__bid").as(idCol),
        coalesce(col("__n"), lit(0L)).as("n_dups"),
        coalesce(col("__best"), lit(-1.0)).as("best_sim"),
        when(col("__n").isNotNull, "dup").otherwise("keep").as("status"))
  }

  /** IVF×incremental composition — the 100 TB shape
    * [[incrementalNearDup]]'s scaladoc promises: when even a 1-byte
    * full-corpus scan per batch is too much, the standing corpus lives
    * as an [[IvfIndex]] (cluster-keyed partitioning + k centroid rows)
    * and each batch vector scans ONLY the corpus rows assigned to its
    * `nprobe` nearest clusters — per-batch cost drops from one full
    * index scan to ~nprobe/k of it, the same pruning ratio the serving
    * path ([[ivfTopK]]) rides. Same margin-admission coarse rule, same
    * exact float verify, same (idCol, n_dups, best_sim, status) output
    * contract as [[incrementalNearDup]]; the only semantic delta is
    * RECALL — a corpus near-dup hiding outside the batch vector's
    * probed clusters is not seen, the standard IVF trade
    * (PipelineSpec measures it against the full-scan arm on planted
    * dups).
    *
    * Shape: one broadcast carries the batch's quantized bytes in the
    * flat row-major layout PLUS one cluster-bitmask word per batch
    * vector (its `nprobe` nearest centroids by exact float cosine, ties
    * to the lower cluster index — the same argmax convention as the
    * build); the coarse scan maps once over the quantized cluster-keyed
    * corpus and each corpus row calls the int8 dot kernel
    * ([[Int8Kernel]]) only against batch vectors whose mask contains
    * its cluster. k above 64
    * mask-shards exactly like the serving arm
    * ([[ivfTopKBatchQuantized]]'s round-15 sharding, ported round 16):
    * one admission scan per PROBED 64-wide shard over that shard's
    * corpus slice, disjoint outputs unioned — no ingest batch is
    * refused for k any more, and the k ≤ 64 path is bit-identical to
    * its pre-sharding form (spec'd via forced narrow shards).
    * Degenerate (zero, empty or NULL) batch vectors probe nothing and
    * status 'keep'; corpus rows in cluster −1 (degenerate at build time)
    * match nothing, mirroring [[ivfAssign]]. */
  def ivfIncrementalNearDup(
      index: IvfIndex,
      batch: DataFrame,
      nprobe: Int = 4,
      threshold: Double = 0.45,
      margin: Double = 0.05,
      corpusSizeHint: Long = -1L): DataFrame =
    ivfIncrementalNearDupImpl(
      index, batch, nprobe, threshold, margin, corpusSizeHint, maskWidth = 64)

  /** [[ivfIncrementalNearDup]] with the mask-shard width exposed so the
    * spec can exercise the multi-shard path on a small (k ≤ 64) index —
    * production always uses the full 64-bit word (same pattern as
    * [[ivfTopKBatchQuantizedImpl]]). */
  private[graft] def ivfIncrementalNearDupImpl(
      index: IvfIndex,
      batch: DataFrame,
      nprobe: Int,
      threshold: Double,
      margin: Double,
      corpusSizeHint: Long,
      maskWidth: Int): DataFrame = {
    implicit val sp: SparkSession = index.assigned.sparkSession
    import sp.implicits._
    require(margin >= 0.0,
      s"margin must be >= 0, got $margin — a negative margin would raise the " +
        "coarse bound ABOVE the threshold and silently drop true dups")
    require(nprobe >= 1, s"nprobe must be >= 1, got $nprobe")
    require(maskWidth >= 1 && maskWidth <= 64,
      s"maskWidth $maskWidth outside [1, 64]")
    val k = index.centroids.length
    require(k >= 1, "ivfIncrementalNearDup needs a built index (no centroids)")
    val bound = threshold - margin
    // cap check BEFORE the collect, like incrementalNearDup: refuse an
    // over-size batch while the driver is still healthy
    val nBatch = batch.select(col(index.idCol)).count()
    require(nBatch <= maxExactRows,
      s"ivfIncrementalNearDup batch has $nBatch rows — the broadcast " +
        s"coarse scan is capped at $maxExactRows; split the ingest batch")
    // one distributed pass computes each batch vector's probe set
    // (float-cosine argmax against the broadcast centroids — executors
    // do the k·dim flops, the driver only receives (id, probes, q-bytes))
    val bcCents = sp.sparkContext.broadcast(index.centroids)
    val effNprobe = math.min(nprobe, k)
    val bv = nullAsEmpty(col(index.vecCol))
    val brows = batch
      .select(col(index.idCol).cast("long"), bv,
        VectorFunctions.quantizeInt8(bv).as("__qq"))
      .withColumn("__qs", VectorFunctions.int8Dot(col("__qq"), col("__qq")))
      .as[(Long, Array[Float], Array[Byte], Long)]
      .map { case (id, v, qq, qs) =>
        val cs = bcCents.value
        checkAssignDim(cs, v)
        (id, probeClusters(cs, v, effNprobe), qq, qs)
      }
      .collect()
    // probe-union pruning, like the serving arms (round 16): a corpus
    // row whose cluster no batch vector probes can never pass the mask
    // check below, so drop those clusters BEFORE the scan — on an
    // ivfLoad-ed index that is file-listing partition pruning, and an
    // ingest batch reads ~|union|/k of the standing corpus
    val probedSet = brows.iterator.flatMap(_._2).toSet
    // the quantized CLUSTER-KEYED corpus projection — the shared
    // materialized-else-inline policy (see quantizedCorpusProjection)
    val cq = quantizedCorpusProjection(index, probedSet, k, "__cid")
    // k is NOT capped at 64 (round 16, mirroring the serving arm's r15
    // sharding): the shared harness (shardedKernelScans) runs the
    // admission scan once per PROBED 64-wide shard over that shard's
    // corpus slice; disjoint outputs union into the same exact verify.
    // One iteration and bit-identical to the pre-sharding form when
    // k ≤ 64; zero-mask batch rows are dropped per shard (they can
    // admit nothing there), so degenerate vectors ride no broadcast
    // and still status 'keep' through the left join.
    val admitted = shardedKernelScans(brows, cq, k, maskWidth) {
      (slice, bcp, base) => admittedShardScan(slice, bcp, base, maskWidth, bound)
    }.reduceOption(_ union _).getOrElse(
      sp.emptyDataset[(Long, Long)].toDF("__bid", "__cid"))
    // the exact-verify fetch side is pruned to the probe union too
    // (self-review): every admitted __cid lives in a probed cluster by
    // construction (cq above is pruned), so the filter is
    // result-identical — and on a loaded index it cuts the verify
    // stage's float read (and its auto-mode broadcast payload) by the
    // same ~|union|/k factor the coarse pass gained
    statusAdmitted(admitted,
      pruneToProbed(index.assigned, probedSet, k)
        .select(col(index.idCol), col(index.vecCol)),
      batch, index.idCol, index.vecCol, threshold, corpusSizeHint)
  }

  /** The margin-admission int8 kernel scan of ONE mask shard: every
    * corpus row in `[base, base+width)` streams through direct static
    * kernel calls against the broadcast batch and emits (batch id,
    * corpus id) for every pair whose COARSE cosine clears `bound` —
    * the admission counterpart of [[coarseKernelScan]]'s top-k heaps
    * (threshold admission keeps every clearing pair; top-k keeps the
    * best). The one int8 admission loop: [[ivfIncrementalNearDupImpl]]
    * runs it once per probed mask shard, and [[incrementalNearDup]]'s
    * full scan runs it as one shard (every corpus row in cluster 0,
    * every batch mask all ones). */
  private def admittedShardScan(
      cq: DataFrame,
      bc: org.apache.spark.broadcast.Broadcast[PackedBatch],
      base: Int,
      width: Int,
      bound: Double): DataFrame = {
    val sp = cq.sparkSession
    import sp.implicits._
    cq.as[(Long, Int, Array[Byte], Long)]
      .mapPartitions { it =>
        val p = bc.value
        it.flatMap { case (cid, cc, cqv, cn2) =>
          val ccs = cc - base
          if (cqv.isEmpty || cn2 == 0L || p.dim == 0 || ccs < 0 || ccs >= width)
            Iterator.empty
          else if (cqv.length != p.dim) throw new IllegalArgumentException(
            s"mixed-dimension corpus vs batch: int8 dot over " +
              s"${cqv.length}- vs ${p.dim}-component vectors would silently truncate")
          else {
            // raw while + direct static kernel call: Iterator
            // combinators here boxed every probe index and cost ~4× on
            // the N·M wall (the KernelShapeBench lesson)
            val cbit = 1L << ccs
            val cden = math.sqrt(cn2.toDouble)
            val hits = Array.newBuilder[(Long, Long)]
            var jj = 0
            while (jj < p.ids.length) {
              val dj = p.dens(jj)
              if ((p.masks(jj) & cbit) != 0L && dj != 0.0) {
                val c = Int8Kernel.dotRange(cqv, 0, p.buf, jj * p.dim, p.dim)
                if (math.floor(c / (cden * dj) * 10000 + 0.5) / 10000.0 >= bound)
                  hits += ((p.ids(jj), cid))
              }
              jj += 1
            }
            hits.result().iterator
          }
        }
      }.toDF("__bid", "__cid")
  }

  /** The exact verify stage's fetch decision, shared by [[exactVerify]]
    * and [[statusAdmitted]]: broadcast the corpus float side when the
    * corpus has at most [[maxExactRows]] rows, else keep the shuffled
    * join. The row count is `sizeHint` when the caller knows it (≥ 0 —
    * a per-batch ingest loop against one standing corpus passes it
    * once instead of paying a count per call), else one count job:
    * O(N) next to the pass it serves, and it closes the `sizeHint = -1`
    * blind spot of the static guards. */
  private def broadcastFetch(corpus: DataFrame, idCol: String, sizeHint: Long): Boolean = {
    val n = if (sizeHint >= 0) sizeHint else corpus.select(col(idCol)).count()
    n <= maxExactRows
  }

  /** The shared verify stage of both pairwise arms: only (idA, idB)
    * candidates touch the float vectors — fetched by id, never
    * replicated through the blocking shuffle — and the EXACT cosine
    * (same codegen'd kernel, rounding, and threshold everywhere)
    * makes the final call. A false positive entering here costs one
    * dot product; it can never reach the output.
    *
    * ==The fetch is BROADCAST, not shuffled, whenever the corpus fits==
    * The shuffle formulation (`cand ⋈ va ⋈ vb` as two shuffled hash
    * joins) re-keys the candidate table twice, and after the first join
    * every candidate CARRIES its idA float vector through the second
    * exchange — measured at 200k vectors / 3.2M candidates this single
    * term was 629 MB, the int8 arm's dominant remaining shuffle
    * (round-11 per-stage attribution). The corpus float side itself
    * is small — this arm is loudly capped at [[maxExactRows]] (1M)
    * vectors, ≈270 MB of 64-dim floats worst
    * case, ~50 MB at the bench's 200k — so broadcasting the (id, vec)
    * fetch side to both joins deletes every candidate-side exchange:
    * candidates stay where the blocked kernel produced them and each
    * task resolves its own float lookups locally. Zero verify-stage
    * shuffle, same rows out (a join strategy is not a semantics). A
    * corpus above the cap keeps the shuffled-join shape (see
    * [[broadcastFetch]]). */
  private def exactVerify(
      cand: DataFrame,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      sizeHint: Long = -1L): DataFrame = {
    implicit val sp: SparkSession = corpus.sparkSession
    val va = corpus.select(col(idCol).as("idA"), col(vecCol).as("__va"))
    val vb = corpus.select(col(idCol).as("idB"), col(vecCol).as("__vb"))
    val (fa, fb) =
      if (broadcastFetch(corpus, idCol, sizeHint)) (broadcast(va), broadcast(vb))
      else (va, vb)
    cand.join(fa, "idA").join(fb, "idB")
      .select(col("idA"), col("idB"),
        r4(VectorFunctions.dot(col("__va"), col("__vb")) /
          (VectorFunctions.norm(col("__va")) * VectorFunctions.norm(col("__vb"))))
          .as("cos_sim"))
      .filter(col("cos_sim") >= threshold)
  }

  /** The coarse stage of [[quantizedNearDupPairs]]: (idA, idB) pairs
    * whose QUANTIZED cosine clears `bound`, idA < idB. Exposed so
    * callers can compose their own verify (or measure the candidate
    * volume — the margin is a recall/volume dial and this is its
    * gauge). */
  def quantizedCandidatePairs(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      bound: Double,
      numBlocks: Int = 0,
      sizeHint: Long = -1L): DataFrame =
    blockedCandidatePairs(corpus, idCol, vecCol,
      resolveNumBlocks(corpus.sparkSession, numBlocks), sizeHint,
      // same floor-based half-up rounding as r4 — integer dot and
      // integer-derived norms, so the double division sees identical
      // inputs on every engine (this is the v8 oracle's replayed rule)
      new QuantRule(bound))

  /** CERTIFIED candidate pairs — the admission rule behind the exact
    * arm's int8 shuffle: admit (a, b) iff
    *
    *   coarse + bound + ε ≥ threshold,   where
    *   coarse = s_a·s_b·Σq_aq_b / (‖v_a‖·‖v_b‖)        (reconstructed dot)
    *   bound  = (s_b/2·A1_a + s_a/2·A1_b + s_a·s_b·d/4) / (‖v_a‖·‖v_b‖)
    *
    * with s the per-vector quantization scale (max|v|/127 — EXACTLY a
    * float, since the components are floats), A1 = s·Σ|q| the L1 norm
    * of the reconstructed vector, and ‖v‖ the exact float norm carried
    * through the shuffle. `bound` is a hard bound on
    * |cos_exact − coarse|: writing v = s·q + e with |e_i| ≤ s/2
    * (half-up rounding), the dot error expands to
    * s_a·⟨q_a,e_b⟩ + s_b·⟨q_b,e_a⟩ + ⟨e_a,e_b⟩, whose three terms are
    * bounded by the three summands above. ε = 2·10⁻⁴ swallows the r4
    * rounding half-step (5·10⁻⁵) and every float32/double evaluation
    * wobble with two orders of magnitude to spare (and costs nothing:
    * scores are 4-decimal quantities). Hence NO FALSE NEGATIVES —
    * every pair the exact kernel would emit is admitted — while false
    * positives die in [[exactVerify]]. Measured 64-dim bound ≈ 0.02
    * cosine vs ~0.005 actual error. */
  def certifiedCandidatePairs(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      numBlocks: Int = 0,
      sizeHint: Long = -1L): DataFrame =
    blockedCandidatePairs(corpus, idCol, vecCol,
      resolveNumBlocks(corpus.sparkSession, numBlocks), sizeHint,
      new CertRule(threshold))

  /** Parallel-primitive-array side storage for the blocked kernel: the
    * O(N²/B²) hot loop must touch no tuples, no iterators-per-pair, no
    * boxed fields (the probe that motivated this measured the
    * generic-collection formulation 25× off raw dot throughput).
    * Per-row derived stats (Σq², Σ|q|, scale) are recomputed here from
    * the packed payload — O(d) per ROW against O(d) per PAIR in the
    * loop — which keeps them out of the shuffle entirely; integer
    * recomputation is bit-identical to shipping them. */
  private[graft] final class QSide {
    var n = 0
    /** q-length of the corpus (0 until the first NON-empty row lands —
      * empty rows are legal degenerates). All non-empty rows must share
      * it; the per-group check in [[blockedCandidatePairs]] enforces
      * cross-side equality once, keeping the quadratic loop check-free. */
    var dim = 0
    var ids = new Array[Long](64)
    /** FLAT row-major q bytes, stride [[dim]] (row i at i·dim). One
      * contiguous buffer instead of an Array[Array[Byte]]: the inner
      * pair loop streams the j side sequentially (hardware prefetch,
      * no per-row pointer chase) and hands the SIMD kernel plain
      * (buffer, offset) ranges — KernelShapeBench measured the flat +
      * direct-call SIMD shape at 13.1 ns/pair vs 42.7 for the nested
      * layout, at the real ~18k-rows-per-side working set. Empty rows
      * occupy an all-zero slot: their dot is 0 and their norms are 0,
      * exactly the semantics the per-row arrays had. */
    var qbuf = new Array[Byte](0)
    var ns = new Array[Double](64) // sqrt(Σq²) — quantized norm (margin rule)
    var ss = new Array[Double](64) // quantization scale s = max|v|/127
    var a1s = new Array[Double](64) // s·Σ|q| — reconstructed L1 norm
    var nfs = new Array[Double](64) // exact float L2 norm (certified rule)
    def add(id: Long, payload: Array[Byte]): Unit = {
      if (n == ids.length) {
        ids = java.util.Arrays.copyOf(ids, n * 2)
        ns = java.util.Arrays.copyOf(ns, n * 2)
        ss = java.util.Arrays.copyOf(ss, n * 2)
        a1s = java.util.Arrays.copyOf(a1s, n * 2)
        nfs = java.util.Arrays.copyOf(nfs, n * 2)
        if (dim > 0) qbuf = java.util.Arrays.copyOf(qbuf, ids.length * dim)
      }
      val qLen = payload.length - QSide.HeaderBytes
      if (qLen > 0) {
        if (dim == 0) {
          // first non-empty row fixes the stride; rows already added
          // were all empty and their all-zero slots are already correct
          dim = qLen
          qbuf = new Array[Byte](ids.length * dim)
        } else if (qLen != dim)
          throw new IllegalArgumentException(
            s"mixed-dimension corpus: int8 dot over $dim- vs " +
              s"$qLen-component vectors would silently truncate")
        System.arraycopy(payload, QSide.HeaderBytes, qbuf, n * dim, dim)
      }
      var sq = 0L; var l1 = 0L; var k = QSide.HeaderBytes
      while (k < payload.length) {
        sq += payload(k) * payload(k); l1 += math.abs(payload(k)); k += 1
      }
      val s = QSide.readFloat(payload, 0) / 127.0
      ids(n) = id
      ns(n) = math.sqrt(sq.toDouble)
      ss(n) = s
      a1s(n) = s * l1
      nfs(n) = QSide.readFloat(payload, 4)
      n += 1
    }
    /** permute all parallel arrays (and the flat buffer's row slots)
      * into ascending-id order */
    def sortById(): Unit = {
      val perm = Array.range(0, n).sortBy(ids(_))
      ids = perm.map(ids); ns = perm.map(ns)
      ss = perm.map(ss); a1s = perm.map(a1s); nfs = perm.map(nfs)
      if (dim > 0) {
        val nb = new Array[Byte](qbuf.length)
        var r = 0
        while (r < n) {
          System.arraycopy(qbuf, perm(r) * dim, nb, r * dim, dim); r += 1
        }
        qbuf = nb
      }
    }
  }

  /** Primitive-signature admission rule for the blocked pairwise
    * kernel. A SAM with Int parameters instead of a `Function4`:
    * Scala's FunctionN beyond arity 2 box every Int argument, and the
    * quadratic loop calls this once per PAIR — 2×10¹⁰ admissions at
    * 200k vectors. Each rule calls the int8 dot as a DIRECT static
    * call to [[Int8Kernel.dotRange]] (never a function-value hop): the
    * Panama Vector API only reaches its measured throughput when the
    * kernel inlines into the loop (a megamorphic callsite de-optimizes
    * it to per-op vector-object allocation — the r13 kernel comparison
    * measured exactly that: 3.7× in isolation, ~0% end-to-end through
    * a Function2 indirection). `Int8Kernel.SIMD` is a static final, so
    * the scalar/SIMD choice folds away and adds no per-pair branch. */
  private[graft] trait PairRule extends Serializable {
    def admit(a: QSide, i: Int, b: QSide, j: Int): Boolean
  }

  /** The quantized-margin admission ([[quantizedCandidatePairs]]).
    * The zero-denominator short-circuit replaces the old
    * NaN-compares-false path: same outcome (an all-zero q row admits
    * nothing), one branch instead of a NaN-propagating divide. */
  private final class QuantRule(bound: Double) extends PairRule {
    def admit(a: QSide, i: Int, b: QSide, j: Int): Boolean = {
      val den = a.ns(i) * b.ns(j)
      if (den == 0.0) false
      else {
        val c = Int8Kernel.dotRange(a.qbuf, i * a.dim, b.qbuf, j * b.dim, a.dim)
        math.floor(c / den * 10000 + 0.5) / 10000.0 >= bound
      }
    }
  }

  /** The certified-bound admission ([[certifiedCandidatePairs]]). When
    * `den != 0` both rows are non-empty, so `a.dim` is the shared
    * stride (per-group check) and the old `qs(i).length` bound term. */
  private final class CertRule(threshold: Double) extends PairRule {
    def admit(a: QSide, i: Int, b: QSide, j: Int): Boolean = {
      val den = a.nfs(i) * b.nfs(j)
      if (den == 0.0) false // zero vector: exact arm scores NaN, drops
      else {
        val sa = a.ss(i); val sb = b.ss(j)
        val coarse = sa * sb *
          Int8Kernel.dotRange(a.qbuf, i * a.dim, b.qbuf, j * b.dim, a.dim)
        val eb = 0.5 * (sb * a.a1s(i) + sa * b.a1s(j)) + 0.25 * sa * sb * a.dim
        (coarse + eb) / den + 2e-4 >= threshold
      }
    }
  }

  private[graft] object QSide {
    /** packed payload header: [max|v| float][‖v‖ float], then q bytes */
    val HeaderBytes = 8
    def readFloat(b: Array[Byte], off: Int): Double =
      java.lang.Float.intBitsToFloat(
        ((b(off) & 0xff) << 24) | ((b(off + 1) & 0xff) << 16) |
          ((b(off + 2) & 0xff) << 8) | (b(off + 3) & 0xff)).toDouble
    def writeFloat(b: Array[Byte], off: Int, v: Float): Unit = {
      val bits = java.lang.Float.floatToIntBits(v)
      b(off) = (bits >>> 24).toByte; b(off + 1) = (bits >>> 16).toByte
      b(off + 2) = (bits >>> 8).toByte; b(off + 3) = bits.toByte
    }
  }

  /** The shared triangle-blocked quadratic stage of BOTH pairwise arms.
    *
    * What moves through the O(N·B) blocking shuffle is ONE packed
    * binary payload per replica — 8 header bytes (quantization max and
    * float norm, both exactly representable floats) plus d int8
    * components — instead of the d·4-byte float vector: at d = 64 that
    * is ~3–4× fewer shuffle bytes for the stage that replicates every
    * row B times, and the quadratic inner loop reads 1 byte per
    * component (the cache-bandwidth term that dominates an exact
    * pairwise pass at scale). `admit` is the per-pair coarse rule —
    * margin-based ([[quantizedCandidatePairs]]) or error-certified
    * ([[certifiedCandidatePairs]]); floats are NEVER seen here, only
    * in the per-candidate [[exactVerify]]. */
  private def blockedCandidatePairs(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      numBlocks: Int,
      sizeHint: Long,
      admit: PairRule): DataFrame = {
    require(numBlocks >= 1, s"numBlocks must be positive, got $numBlocks")
    require(sizeHint <= maxExactRows,
      s"the blocked pairwise kernel is still the exact quadratic arm ($sizeHint " +
        s"rows): use lshCandidates or ivfBuild/ivfTopK beyond $maxExactRows vectors")
    implicit val sp: SparkSession = corpus.sparkSession
    import sp.implicits._
    // pre-shuffle projection: quantize (codegen'd — the same expression
    // the materialized-index path uses, so conventions cannot drift),
    // plus the two header floats. max|v| over float components IS a
    // float, so packing it as one loses nothing; the float norm is a
    // coarse-denominator/bound input whose float32 rounding is
    // swallowed by the certified ε.
    val packed = corpus
      .select(col(idCol).cast("long").as("__id"),
        VectorFunctions.quantizeInt8(col(vecCol)).as("__q"),
        // coalesce: array_max of an EMPTY vector is null, which would
        // NPE the non-nullable tuple decode below — 0.0 gives that row
        // s = 0, nf = 0, so both admission rules drop it, as the exact
        // cosine drops its NaN score
        coalesce(
          array_max(transform(col(vecCol), x => abs(x.cast("double")))),
          lit(0.0)).as("__mx"),
        VectorFunctions.norm(col(vecCol)).as("__nf"))
      .as[(Long, Array[Byte], Double, Double)]
      .map { case (id, q, mx, nf) =>
        val payload = new Array[Byte](QSide.HeaderBytes + q.length)
        QSide.writeFloat(payload, 0, mx.toFloat)
        QSide.writeFloat(payload, 4, nf.toFloat)
        System.arraycopy(q, 0, payload, QSide.HeaderBytes, q.length)
        (id, payload)
      }
    val tagged = packed.flatMap { case (id, p) => blockTags(id, p, numBlocks) }
    // pairs are EMITTED LAZILY: a buffered result
    // would hold every passing pair of a (N/B)² group in task memory —
    // under adversarial selectivity (the pre-rotation degenerate
    // corpus passed 54% of ALL pairs) that is an OOM, not a slowdown
    val cand = groupBlocked(tagged, numBlocks) { rows =>
        val aSide = new QSide
        val bSide = new QSide
        // a group holds tag-0 rows (diagonal) XOR tag-1/2 rows (cross)
        // — blockTags gives every replica of a group the same shape,
        // so the tag identifies the group kind without carrying (p, q)
        // through the key
        var diagonal = false
        rows.foreach { case (_, _, tag, id, payload) =>
          if (tag == 0.toByte) { diagonal = true; aSide.add(id, payload) }
          else if (tag == 1.toByte) aSide.add(id, payload)
          else bSide.add(id, payload)
        }
        // cross-SIDE stride equality, checked once per group so the
        // quadratic loop carries no per-pair dimension checks (within-
        // side mismatches already failed loudly in QSide.add)
        if (aSide.dim > 0 && bSide.dim > 0 && aSide.dim != bSide.dim)
          throw new IllegalArgumentException(
            s"mixed-dimension corpus: int8 dot over ${aSide.dim}- vs " +
              s"${bSide.dim}-component vectors would silently truncate")
        if (diagonal) {
          aSide.sortById()
          new scala.collection.AbstractIterator[(Long, Long)] {
            private var i = 0
            private var j = 1
            private var pair: (Long, Long) = _
            advance()
            private def advance(): Unit = {
              pair = null
              while (pair == null && i < aSide.n - 1) {
                if (j >= aSide.n) { i += 1; j = i + 1 }
                else {
                  if (admit.admit(aSide, i, aSide, j))
                    pair = (aSide.ids(i), aSide.ids(j))
                  j += 1
                }
              }
            }
            def hasNext: Boolean = pair != null
            def next(): (Long, Long) = { val r = pair; advance(); r }
          }
        } else {
          new scala.collection.AbstractIterator[(Long, Long)] {
            private var i = 0
            private var j = 0
            private var pair: (Long, Long) = _
            advance()
            private def advance(): Unit = {
              pair = null
              while (pair == null && i < aSide.n) {
                if (j >= bSide.n) { i += 1; j = 0 }
                else {
                  if (admit.admit(aSide, i, bSide, j)) {
                    val idi = aSide.ids(i); val idj = bSide.ids(j)
                    pair = if (idi < idj) (idi, idj) else (idj, idi)
                  }
                  j += 1
                }
              }
            }
            def hasNext: Boolean = pair != null
            def next(): (Long, Long) = { val r = pair; advance(); r }
          }
        }
      }
    cand.toDF("idA", "idB")
  }

}
