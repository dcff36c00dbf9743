package graft.queries

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.engine.Tables.t
import graft.functions.VectorFunctions
import graft.operators.SimilaritySearch

/** Similarity search over the embedding column (`Array[Float]`):
  * brute-force cosine top-k as the exactness baseline, random-hyperplane
  * LSH bucketing as the 100 TB path (candidates only within a bucket —
  * the shuffle carries 8-bit signatures, never the cross product), plus
  * embedding statistics and cosine near-dup pairs.
  *
  * The inner loops ride the codegen'd custom expressions in
  * `graft.functions` (DotProduct / VectorNorm): one primitive pass per
  * row-pair, no intermediate arrays — measured ~100× over Spark's
  * interpreted `zip_with`+`aggregate` on the pairwise workload. Norms
  * are computed once per row, not once per pair.
  */
object SimQueries {

  private def dot(a: Column, b: Column)(implicit s: SparkSession): Column =
    VectorFunctions.dot(a, b)
  private def norm(a: Column)(implicit s: SparkSession): Column =
    VectorFunctions.norm(a)

  /** Brute-force cosine top-k against a query vector (vec_id 0) —
    * the correctness baseline for ANN. */
  val cosineTopK: Q = Q(
    "v1_cosine_topk",
    """WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qe FROM embeddings WHERE vec_id = 0),
      |d AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve FROM embeddings WHERE vec_id <> 0),
      |s AS (SELECT vec_id,
      |        SUM(ve[i] * qe[i]) AS dot,
      |        SUM(ve[i] * ve[i]) AS n1,
      |        SUM(qe[i] * qe[i]) AS n2
      |      FROM d, q, generate_series(1, 64) t(i) GROUP BY vec_id)
      |SELECT vec_id, FLOOR(dot / (SQRT(n1) * SQRT(n2)) * 10000 + 0.5)/10000 AS cos_sim
      |FROM s ORDER BY cos_sim DESC, vec_id LIMIT 10""".stripMargin) { (s, dir) =>
    val e = t(s, dir, "embeddings")
    SimilaritySearch.cosineTopK(
      e.filter(col("vec_id") =!= 0), "vec_id", "embedding",
      e.filter(col("vec_id") === 0), "embedding", k = 10)
  }

  /** ANN via random-hyperplane LSH: 8 deterministic pseudo-hyperplanes
    * (md5-derived ±1 weights), 8-bit signature, candidates = same
    * bucket as the query, re-ranked by exact cosine. The scale path:
    * bucket cardinality ~ N/256, and the signature is computed in one
    * pass per row. md5 weights make the pipeline SQL-replayable — the
    * oracle recomputes signatures, bucket-filters, and re-ranks exactly,
    * moving v2 from rows-only to the hash-exact gate (plus the ScalaTest
    * consistency checks against v1). */
  val annLsh: Q = Q(
    "v2_ann_lsh",
    """WITH d AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve FROM embeddings),
      |proj AS (SELECT vec_id, p,
      |    SUM(ve[j] * (CASE WHEN ('0x' || substr(md5(CAST(p AS VARCHAR) || '_' || CAST(j-1 AS VARCHAR)), 1, 15))::BIGINT % 2 = 0
      |                 THEN 1.0 ELSE -1.0 END)) AS s
      |  FROM d, generate_series(0, 7) pp(p), generate_series(1, 64) jj(j)
      |  GROUP BY vec_id, p),
      |sig AS (SELECT vec_id,
      |    CAST(SUM(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << p) ELSE 0 END) AS BIGINT) AS sig
      |  FROM proj GROUP BY vec_id),
      |q AS (SELECT d.ve AS qe, sig.sig AS qsig FROM d JOIN sig USING (vec_id) WHERE vec_id = 0),
      |c AS (SELECT d.vec_id, d.ve, sig.sig FROM d JOIN sig USING (vec_id) WHERE vec_id <> 0),
      |sc AS (SELECT c.vec_id, c.sig, SUM(c.ve[j] * q.qe[j]) AS dot,
      |         SUM(c.ve[j] * c.ve[j]) AS n1, SUM(q.qe[j] * q.qe[j]) AS n2
      |       FROM c, q, generate_series(1, 64) t(j)
      |       WHERE c.sig = q.qsig
      |       GROUP BY c.vec_id, c.sig)
      |SELECT vec_id, sig, FLOOR(dot / (SQRT(n1) * SQRT(n2)) * 10000 + 0.5)/10000 AS cos_sim
      |FROM sc ORDER BY cos_sim DESC, vec_id LIMIT 10""".stripMargin) { (s, dir) =>
    val e = t(s, dir, "embeddings")
    SimilaritySearch.lshCandidates(
        e.filter(col("vec_id") =!= 0), "vec_id", "embedding",
        e.filter(col("vec_id") === 0), "embedding", bits = 8)
      .orderBy(col("cos_sim").desc, col("vec_id"))
      .limit(10)
  }

  /** Embedding statistics per label: counts and norm profile. */
  val stats: Q = Q(
    "v3_embedding_stats",
    """WITH n AS (SELECT vec_id, label, SQRT(SUM(ve[i] * ve[i])) AS nrm
      |           FROM (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS ve
      |                 FROM embeddings) d,
      |                generate_series(1, 64) t(i)
      |           GROUP BY vec_id, label)
      |SELECT label, COUNT(*) AS n,
      |  FLOOR(AVG(nrm)*10000 + 0.5)/10000 AS avg_norm,
      |  FLOOR(MIN(nrm)*10000 + 0.5)/10000 AS min_norm,
      |  FLOOR(MAX(nrm)*10000 + 0.5)/10000 AS max_norm
      |FROM n GROUP BY label ORDER BY label""".stripMargin) { (s, dir) =>
    implicit val sp: SparkSession = s
    t(s, dir, "embeddings")
      .select(col("label"), norm(col("embedding")).as("nrm"))
      .groupBy("label")
      .agg(count(lit(1)).as("n"),
        Num.r4(avg(col("nrm"))).as("avg_norm"),
        Num.r4(min(col("nrm"))).as("min_norm"),
        Num.r4(max(col("nrm"))).as("max_norm"))
      .orderBy("label")
  }

  /** Embedding-cosine near-duplicate pairs (threshold on the rounded
    * score so both engines agree at the boundary).
    *
    * Exact all-pairs, distributed: triangle-blocked self-pairing. Each
    * vector lands in block `vec_id % B`; each of the B·(B+1)/2 block
    * pairs (p ≤ q) is one shuffle group whose task sees exactly two
    * blocks and runs the tight pairwise kernel (double-accumulated dot,
    * identical loop order to the oracle, so scores are bit-exact).
    * Replication factor is B, task memory is 2·N/B vectors, and nothing
    * ever touches the driver — the O(N²) flops inherent to *exact*
    * quadratic dedup spread over O(B²) tasks. At 100 TB, B grows with
    * the corpus (B ≈ N·vecBytes / targetBlockBytes); beyond ~1M vectors
    * the honest answer is v2's LSH bucketing, which applies the same
    * threshold to candidate pairs only. */
  val nearDup: Q = Q(
    "v4_embedding_neardup",
    """WITH p AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id,
      |             CAST(a.embedding AS DOUBLE[]) AS va, CAST(b.embedding AS DOUBLE[]) AS vb
      |           FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id),
      |s AS (SELECT a_id, b_id, SUM(va[i] * vb[i]) AS dot,
      |        SUM(va[i] * va[i]) AS n1, SUM(vb[i] * vb[i]) AS n2
      |      FROM p, generate_series(1, 64) t(i) GROUP BY a_id, b_id),
      |sel AS (SELECT a_id, b_id, FLOOR(dot / (SQRT(n1) * SQRT(n2)) * 10000 + 0.5)/10000 AS cos_sim
      |        FROM s)
      |SELECT a_id, b_id, cos_sim FROM sel WHERE cos_sim >= 0.45
      |ORDER BY a_id, b_id""".stripMargin) { (s, dir) =>
    SimilaritySearch.cosineNearDupPairs(
        t(s, dir, "embeddings"), "vec_id", "embedding",
        threshold = 0.45, numBlocks = 0)
      .select(col("idA").as("a_id"), col("idB").as("b_id"), col("cos_sim"))
      .orderBy("a_id", "b_id")
  }

  /** Embedding-space near-dup CONNECTED COMPONENTS — the semantic-dedup
    * composition a curation pipeline actually ships (t19's shape with
    * cosine pairs instead of Jaccard pairs): near-dup pairs at the v4
    * threshold become undirected edges, components close over them
    * (pointer-jumped O(log diameter) label propagation —
    * [[graft.operators.Graph.connectedComponents]], the SAME machinery t19
    * rides), and each vector reports its component and whether it is
    * the canonical (minimum-id) representative — the row a dedup keeps.
    * Pairs here are the exact all-pairs generator (v4's, oracle-
    * replayable); at corpus scale a deployment substitutes the banded
    * LSH pair generator (v2) — the CC half is unchanged. Oracle replays
    * the pairs and closes them with a recursive CTE, like t19's. */
  val embeddingComponents: Q = Q(
    "v18_embedding_components",
    """WITH RECURSIVE p AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id,
      |             CAST(a.embedding AS DOUBLE[]) AS va, CAST(b.embedding AS DOUBLE[]) AS vb
      |           FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id),
      |sc AS (SELECT a_id, b_id, SUM(va[i] * vb[i]) AS dot,
      |         SUM(va[i] * va[i]) AS n1, SUM(vb[i] * vb[i]) AS n2
      |       FROM p, generate_series(1, 64) t(i) GROUP BY a_id, b_id),
      |pairs AS (SELECT a_id, b_id FROM sc
      |          WHERE FLOOR(dot / (SQRT(n1) * SQRT(n2)) * 10000 + 0.5)/10000 >= 0.45),
      |eb AS (SELECT a_id AS src, b_id AS dst FROM pairs
      |       UNION ALL SELECT b_id, a_id FROM pairs),
      |r AS (
      |  SELECT vec_id, vec_id AS comp FROM embeddings
      |  UNION
      |  SELECT eb.dst AS vec_id, r.comp FROM r JOIN eb ON eb.src = r.vec_id
      |)
      |SELECT vec_id, MIN(comp) AS comp_id,
      |  CASE WHEN MIN(comp) = vec_id THEN 1 ELSE 0 END AS is_canonical
      |FROM r GROUP BY vec_id ORDER BY vec_id""".stripMargin) { (s, dir) =>
    val pairs = SimilaritySearch.cosineNearDupPairs(
        t(s, dir, "embeddings"), "vec_id", "embedding",
        threshold = 0.45, numBlocks = 0)
      .select(col("idA").as("a_id"), col("idB").as("b_id"))
    val comps = graft.operators.Graph.connectedComponents(pairs, "a_id", "b_id", maxIters = 20)
    t(s, dir, "embeddings").select(col("vec_id"))
      .join(comps.select(col("id").as("lid"), col("componentId").as("comp")),
        col("vec_id") === col("lid"), "left")
      .select(col("vec_id"),
        coalesce(col("comp"), col("vec_id")).as("comp_id"),
        when(coalesce(col("comp"), col("vec_id")) === col("vec_id"), 1)
          .otherwise(0).as("is_canonical"))
      .orderBy("vec_id")
  }

  /** The SCALE form of v18 — the semantic-dedup composition a 100 TB
    * curation pipeline actually ships (round-16 verdict #3): banded
    * random-hyperplane LSH pair generation (candidates meet in
    * (band, signature) buckets — NEVER all-pairs; 24 bands × 6 bits,
    * exact-verified at the v4 threshold on the rounded score) feeding
    * the SAME pointer-jumped connected-components machinery t19/v18
    * ride, each vector reporting (component, is_canonical). Differs
    * from v18 only in the pair GENERATOR: v18's exact all-pairs is the
    * ground truth this one's recall is measured against
    * (`results/v19_recall_sf0.1_r17.json` — the two entries share the
    * corpus). The oracle replays the banding deterministically (the
    * same md5-derived hyperplanes as v2, grouped into bands), verifies
    * candidates exactly, and closes components with the recursive CTE
    * t19/v18 use. */
  val bandedComponents: Q = Q(
    "v19_banded_lsh_components",
    """WITH RECURSIVE d0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve
      |           FROM embeddings WHERE len(embedding) = 64),
      |dn AS (SELECT vec_id, SUM(ve[i] * ve[i]) AS n2
      |       FROM d0, generate_series(1, 64) t(i) GROUP BY vec_id),
      |d AS (SELECT d0.vec_id, d0.ve FROM d0 JOIN dn USING (vec_id) WHERE dn.n2 > 0),
      |proj AS (SELECT vec_id, p,
      |    SUM(ve[j] * (CASE WHEN ('0x' || substr(md5(CAST(p AS VARCHAR) || '_' || CAST(j-1 AS VARCHAR)), 1, 15))::BIGINT % 2 = 0
      |                 THEN 1.0 ELSE -1.0 END)) AS s
      |  FROM d, generate_series(0, 143) pp(p), generate_series(1, 64) jj(j)
      |  GROUP BY vec_id, p),
      |sig AS (SELECT vec_id, p // 6 AS band,
      |    CAST(SUM(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << (p % 6)) ELSE 0 END) AS BIGINT) AS sg
      |  FROM proj GROUP BY vec_id, p // 6),
      |cand AS (SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id
      |         FROM sig a JOIN sig b ON a.band = b.band AND a.sg = b.sg
      |              AND a.vec_id < b.vec_id),
      |pv AS (SELECT c.a_id, c.b_id, SUM(da.ve[i] * db.ve[i]) AS dot,
      |         SUM(da.ve[i] * da.ve[i]) AS n1, SUM(db.ve[i] * db.ve[i]) AS n2
      |       FROM cand c JOIN d da ON da.vec_id = c.a_id
      |            JOIN d db ON db.vec_id = c.b_id,
      |            generate_series(1, 64) t(i)
      |       GROUP BY c.a_id, c.b_id),
      |pairs AS (SELECT a_id, b_id FROM pv
      |          WHERE n1 > 0 AND n2 > 0
      |            AND FLOOR(dot / (SQRT(n1) * SQRT(n2)) * 10000 + 0.5)/10000 >= 0.45),
      |eb AS (SELECT a_id AS src, b_id AS dst FROM pairs
      |       UNION ALL SELECT b_id, a_id FROM pairs),
      |r AS (
      |  SELECT vec_id, vec_id AS comp FROM embeddings
      |  UNION
      |  SELECT eb.dst AS vec_id, r.comp FROM r JOIN eb ON eb.src = r.vec_id
      |)
      |SELECT vec_id, MIN(comp) AS comp_id,
      |  CASE WHEN MIN(comp) = vec_id THEN 1 ELSE 0 END AS is_canonical
      |FROM r GROUP BY vec_id ORDER BY vec_id""".stripMargin) { (s, dir) =>
    val pairs = SimilaritySearch.bandedLshNearDupPairs(
        t(s, dir, "embeddings"), "vec_id", "embedding",
        threshold = 0.45, bands = 24, bitsPerBand = 6, dim = 64)
      .select(col("idA").as("a_id"), col("idB").as("b_id"))
    val comps = graft.operators.Graph.connectedComponents(pairs, "a_id", "b_id", maxIters = 20)
    t(s, dir, "embeddings").select(col("vec_id"))
      .join(comps.select(col("id").as("lid"), col("componentId").as("comp")),
        col("vec_id") === col("lid"), "left")
      .select(col("vec_id"),
        coalesce(col("comp"), col("vec_id")).as("comp_id"),
        when(coalesce(col("comp"), col("vec_id")) === col("vec_id"), 1)
          .otherwise(0).as("is_canonical"))
      .orderBy("vec_id")
  }

  /** DuckDB replay of the ENTIRE IVF-flat pipeline for the `v5` oracle:
    * md5-strided seeding, `iters` unrolled Lloyd rounds (assignment =
    * cosine argmax with ties to the lower cluster index; centroid
    * update = the same fixed-point component sums the Spark build uses
    * — scale 2^24, `FLOOR(x+0.5)` matching Java's `Math.round`, so the
    * integer sums are bit-identical in ANY aggregation order), final
    * assignment, driver-style probe selection, exact-cosine re-rank.
    * Centroids live as (cluster, component-index, value) rows; empty
    * clusters COALESCE back to their previous centroid, exactly like
    * the Scala `means.get(c).getOrElse(cents(c))`.
    *
    * RESIDUAL FLOAT-ORDER ASSUMPTION: only the centroid-update sums are
    * fixed-point (order-free). The cluster-ASSIGNMENT argmax compares
    * double cosine similarities, so it relies on DuckDB's
    * `SUM(v[i]*c[i])` over `generate_series` agreeing bit-for-bit with
    * Spark's sequential-order dot product. Both engines do evaluate the
    * 64-term sum in ascending index order today (neither parallelizes
    * inside one 64-element vector), and IEEE addition in the same order
    * is deterministic — but a near-tie in cosine similarity between two
    * clusters could in principle flip an assignment if either engine
    * ever reorders the sum. Ties at EQUAL doubles are already broken
    * deterministically (ORDER BY sim DESC, cluster index). If this ever
    * bites, the portable fix is rounding the dot products to fixed
    * point before the argmax on both sides — deliberately not done
    * while the gate holds, to keep the assignment identical to what the
    * production (float) path computes. */
  /** Shared int8-quantization CTE block over a prior `src(vec_id, ve)`
    * CTE (default `d`) — symmetric max-abs `floor(ve[i]/max|ve|*127 +
    * 0.5)`, ending in `qv(vec_id, i, q)` and `sq(vec_id, s = Σq²)`. ONE
    * definition for the v7/v8/v9/v12/v14 oracles so the quantization
    * convention (the zero-vector guard, the rounding) cannot drift
    * between gates. The `src` parameter exists for v14, whose `d` CTE
    * is the IVF build's FILTERED corpus while quantization must cover
    * both splits. */
  private def int8QuantCtes(dim: Int, src: String = "d"): String =
    s"""qmx AS (SELECT vec_id, MAX(ABS(ve[i])) AS mx
       |        FROM $src, generate_series(1, $dim) t(i) GROUP BY vec_id),
       |qv AS (SELECT $src.vec_id, t.i,
       |         CASE WHEN qmx.mx = 0 THEN CAST(0 AS BIGINT)
       |              ELSE CAST(FLOOR(ve[i] / qmx.mx * 127 + 0.5) AS BIGINT) END AS q
       |       FROM $src JOIN qmx USING (vec_id), generate_series(1, $dim) t(i)),
       |sq AS (SELECT vec_id, SUM(q * q) AS s FROM qv GROUP BY vec_id)""".stripMargin

  private def ivfOracleSql(
      k: Int, iters: Int, nprobe: Int, topK: Int, dim: Int): String =
    s"""${ivfBuildSql(k, iters, nprobe, dim)},
       |score AS (SELECT cd.vec_id, cd.cluster,
       |            SUM(v.ve[t.i] * q.ve[t.i]) AS dot, vn.nrm AS n1, qn.nrm AS n2
       |          FROM cand cd, d v, d q, vnorm vn, vnorm qn, generate_series(1, $dim) t(i)
       |          WHERE v.vec_id = cd.vec_id AND q.vec_id = 0
       |            AND vn.vec_id = cd.vec_id AND qn.vec_id = 0
       |          GROUP BY cd.vec_id, cd.cluster, vn.nrm, qn.nrm)
       |SELECT vec_id, CAST(cluster AS BIGINT) AS cluster,
       |  FLOOR(dot / (n1 * n2) * 10000 + 0.5) / 10000 AS cos_sim
       |FROM score ORDER BY cos_sim DESC, vec_id LIMIT $topK""".stripMargin

  /** IVF-SQ8: the [[ivfBuildSql]] probe pruned corpus, coarse-ranked by
    * the INTEGER int8 score (same quantization CTEs as v7/v8), cut to
    * `topK × overFetch`, exact-reranked on the floats. */
  private def ivfQuantizedOracleSql(
      k: Int, iters: Int, nprobe: Int, topK: Int, overFetch: Int, dim: Int): String =
    s"""${ivfBuildSql(k, iters, nprobe, dim)},
       |${int8QuantCtes(dim)},
       |qq AS (SELECT i, q FROM qv WHERE vec_id = 0),
       |coarse AS (SELECT cd.vec_id, SUM(qv.q * qq.q) AS idot
       |           FROM cand cd JOIN qv ON qv.vec_id = cd.vec_id
       |                JOIN qq ON qq.i = qv.i
       |           GROUP BY cd.vec_id),
       |ctop AS (SELECT c.vec_id FROM coarse c
       |           JOIN sq sa ON sa.vec_id = c.vec_id,
       |           (SELECT s FROM sq WHERE vec_id = 0) qs
       |         ORDER BY FLOOR(idot / (SQRT(sa.s) * SQRT(qs.s)) * 10000 + 0.5)/10000 DESC,
       |           c.vec_id
       |         LIMIT ${topK * overFetch}),
       |rr AS (SELECT d.vec_id, SUM(d.ve[t.i] * q.ve[t.i]) AS dot,
       |         vn.nrm AS n1, qn.nrm AS n2
       |       FROM ctop ct, d, d q, vnorm vn, vnorm qn, generate_series(1, $dim) t(i)
       |       WHERE d.vec_id = ct.vec_id AND q.vec_id = 0
       |         AND vn.vec_id = ct.vec_id AND qn.vec_id = 0
       |       GROUP BY d.vec_id, vn.nrm, qn.nrm)
       |SELECT vec_id, FLOOR(dot / (n1 * n2) * 10000 + 0.5) / 10000 AS cos_sim
       |FROM rr ORDER BY cos_sim DESC, vec_id LIMIT $topK""".stripMargin

  /** Full product-quantization replay for the v20 oracle: md5-strided
    * seed selection (each seed's s-th subvector initializes subspace
    * s's codebook), `iters` unrolled per-subspace Lloyd rounds on the
    * FIXED-POINT integer L2 metric (per-term floor((x−c)²·2^24+0.5)
    * summed as BIGINT — exact in any order), fixed-point per-code
    * means with empty codes keeping their codeword, final encode,
    * integer ADC LUT from the query subvectors (per-term
    * floor(q·c·2^24+0.5)), candidate cut at topK×overFetch on the
    * rounded approx cosine, exact float rerank — every decision
    * [[graft.operators.SimilaritySearch.pqBuild]]/`pqTopK` make,
    * verbatim. The subspace id is a GROUP BY key throughout, so all m
    * codebooks train in ONE CTE chain (not m copies). */
  /** The PQ-specific CTE chain — `pseeds` (md5-stride), `sub`
    * (subvector explode), `cb0..cb$iters` (fixed-point Lloyd per
    * subspace), `penc` (final encode), `qsub`, `lut` (integer ADC
    * table) — expressed against pre-existing `d`/`cnt`/`hashed` CTEs,
    * so the standalone v20 oracle and the v21 IVF-composed oracle
    * share ONE definition of every PQ decision. */
  private def pqChainSql(m: Int, ksub: Int, iters: Int, dim: Int): String =
    s"""${pqCodebookSql(m, ksub, iters, dim)},
       |qsub AS (SELECT s, i, x FROM sub WHERE vec_id = 0),
       |lut AS (SELECT cb.s, cb.c,
       |          SUM(CAST(FLOOR(q.x * cb.comp * 16777216.0 + 0.5) AS BIGINT)) AS l
       |        FROM cb$iters cb JOIN qsub q ON q.s = cb.s AND q.i = cb.i
       |        GROUP BY cb.s, cb.c)""".stripMargin

  /** The codebook-train + corpus-encode prefix of [[pqChainSql]] —
    * everything that depends only on `d` (the corpus CTE): `pseeds`,
    * `sub`, `cb0..cb$iters`, `penc`. The single-query oracles
    * (v20/v21) add the vec-0 LUT on top; the BATCH oracle (v22) adds a
    * per-query LUT over its own query CTE instead. */
  private def pqCodebookSql(
      m: Int, ksub: Int, iters: Int, dim: Int, subCte: String = ""): String = {
    val dsub = dim / m
    // `sub` is the training frame — (vec_id, s, i, x) with x the i-th
    // component of vector vec_id's subspace-s subvector. The default is
    // the RAW corpus (v20/v21/v22); the residual oracle (v23) passes a
    // `sub` whose x is ve[·] − centroid component, and every downstream
    // decision (seed init, Lloyd, encode) trains on residuals unchanged.
    val subBody =
      if (subCte.nonEmpty) subCte
      else
        s"""sub AS (SELECT vec_id, s, i, ve[s * $dsub + i] AS x
           |        FROM d, generate_series(0, ${m - 1}) ss(s), generate_series(1, $dsub) ti(i))""".stripMargin
    def asgCte(name: String, cbIdx: Int): String =
      s"""$name AS (SELECT vec_id, s, c AS code FROM (
         |    SELECT t.vec_id, t.s, t.c,
         |      ROW_NUMBER() OVER (PARTITION BY t.vec_id, t.s ORDER BY t.dist, t.c) AS rn
         |    FROM (SELECT b.vec_id, b.s, cb.c,
         |            SUM(CAST(FLOOR((b.x - cb.comp) * (b.x - cb.comp) * 16777216.0 + 0.5)
         |              AS BIGINT)) AS dist
         |          FROM sub b JOIN cb$cbIdx cb ON cb.s = b.s AND cb.i = b.i
         |          GROUP BY b.vec_id, b.s, cb.c) t) r WHERE rn = 1)""".stripMargin
    def iterCtes(j: Int): String =
      s"""${asgCte(s"pasg$j", j - 1)},
         |psums$j AS (SELECT a.s, a.code AS c, b.i,
         |    (CAST(SUM(CAST(FLOOR(b.x * 16777216.0 + 0.5) AS BIGINT)) AS DOUBLE)
         |      / 16777216.0) / CAST(COUNT(*) AS DOUBLE) AS mcomp
         |  FROM pasg$j a JOIN sub b ON b.vec_id = a.vec_id AND b.s = a.s
         |  GROUP BY a.s, a.code, b.i),
         |cb$j AS (SELECT p.s, p.c, p.i, COALESCE(sm.mcomp, p.comp) AS comp
         |  FROM cb${j - 1} p LEFT JOIN psums$j sm
         |    ON sm.s = p.s AND sm.c = p.c AND sm.i = p.i)""".stripMargin
    s"""pseeds AS (SELECT vec_id, h FROM hashed, cnt
       |           WHERE h % GREATEST(1, cnt.n // ${2 * ksub}) = 0
       |           ORDER BY h, vec_id LIMIT $ksub),
       |$subBody,
       |cb0 AS (SELECT sd.c, b.s, b.i, b.x AS comp
       |  FROM (SELECT ROW_NUMBER() OVER (ORDER BY h, vec_id) - 1 AS c, vec_id FROM pseeds) sd
       |  JOIN sub b ON b.vec_id = sd.vec_id),
       |${(1 to iters).map(iterCtes).mkString(",\n")},
       |${asgCte("penc", iters)}""".stripMargin
  }

  /** ADC candidate cut + exact rerank tail shared by v20/v21: `adcSrc`
    * is the encoded-row source the ADC sum runs over (the full corpus
    * for v20, the IVF-probed subset for v21). */
  private def pqServeTailSql(topK: Int, overFetch: Int, dim: Int, adcSrc: String): String =
    s"""adc AS (SELECT e.vec_id, SUM(l.l) AS adot
       |        FROM $adcSrc JOIN lut l ON l.s = e.s AND l.c = e.code
       |        WHERE e.vec_id <> 0 GROUP BY e.vec_id),
       |${pqRerankTailSql(topK, overFetch, dim)}""".stripMargin

  /** The candidate cut + exact rerank AFTER the `adc` CTE — factored so
    * the residual oracle (v23), whose `adc` adds the per-cluster
    * ⟨query, centroid⟩ offset, shares the tail verbatim with v20/v21. */
  private def pqRerankTailSql(topK: Int, overFetch: Int, dim: Int): String =
    s"""pcand AS (SELECT a.vec_id FROM adc a JOIN vnorm vn ON vn.vec_id = a.vec_id,
       |            (SELECT nrm FROM vnorm WHERE vec_id = 0) qn
       |          ORDER BY FLOOR(a.adot / 16777216.0 / (vn.nrm * qn.nrm) * 10000 + 0.5)
       |            / 10000 DESC, a.vec_id
       |          LIMIT ${topK * overFetch}),
       |prr AS (SELECT d.vec_id, SUM(d.ve[t.i] * q.ve[t.i]) AS dot, vn.nrm AS n1, qn.nrm AS n2
       |        FROM pcand ct, d, d q, vnorm vn, vnorm qn, generate_series(1, $dim) t(i)
       |        WHERE d.vec_id = ct.vec_id AND q.vec_id = 0
       |          AND vn.vec_id = d.vec_id AND qn.vec_id = 0
       |        GROUP BY d.vec_id, vn.nrm, qn.nrm)
       |SELECT vec_id, FLOOR(dot / (n1 * n2) * 10000 + 0.5) / 10000 AS cos_sim
       |FROM prr ORDER BY cos_sim DESC, vec_id LIMIT $topK""".stripMargin

  private def pqOracleSql(
      m: Int, ksub: Int, iters: Int, topK: Int, overFetch: Int, dim: Int): String =
    s"""WITH d AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve FROM embeddings),
       |vnorm AS (SELECT vec_id, SQRT(SUM(ve[i]*ve[i])) AS nrm
       |          FROM d, generate_series(1, $dim) t(i) GROUP BY vec_id),
       |cnt AS (SELECT COUNT(*) AS n FROM d),
       |hashed AS (SELECT vec_id,
       |    ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT AS h FROM d),
       |${pqChainSql(m, ksub, iters, dim)},
       |${pqServeTailSql(topK, overFetch, dim, "penc e")}""".stripMargin

  /** Batched PQ-ADC oracle (v22): the corpus CTE `d` is the % 7 ≠ 4
    * split (codebook trains and encodes on it alone, via
    * [[pqCodebookSql]] unchanged), queries are the other split, the
    * LUT is keyed per query, the coarse cut and the exact rerank are
    * per-query ROW_NUMBER windows — the same decisions
    * [[graft.operators.SimilaritySearch.pqTopKBatch]] makes, verbatim. */
  private def pqBatchOracleSql(
      m: Int, ksub: Int, iters: Int, topK: Int, overFetch: Int, dim: Int,
      rotated: Boolean = false,
      rqLit: Option[Array[Array[Long]]] = None): String = {
    require(!(rotated && rqLit.nonEmpty),
      "pqBatchOracleSql: HD and literal-R rotation are exclusive")
    val anyRot = rotated || rqLit.nonEmpty
    val dsub = dim / m
    val root = math.sqrt(dim.toDouble).toInt
    // `rotated` (v31): the corpus trains over the HD-rotated `sub`, the
    // batch split's LUTs read rotated per-query subvectors; norms and
    // the rerank stay original-space — the oracle of
    // [[graft.operators.SimilaritySearch.pqTopKBatch]] on a Hadamard index.
    // `rqLit` (v37): the SAME chain with the TRAINED rotation inlined
    // as the literal `rfp` CTE — the oracle of an OPQ index's batch.
    val rotHead =
      if (rqLit.nonEmpty) s"${rfpLitCte(rqLit.get, dim)},\n$rotCorpusLitCte,\n"
      else if (rotated) s"${dsignSql(dim)},\n${rotCorpusCte(dim, root)},\n"
      else ""
    val trainSub =
      if (!anyRot) ""
      else s"""sub AS (SELECT vec_id, (j - 1) // $dsub AS s, (j - 1) % $dsub + 1 AS i, y AS x
              |        FROM rot)""".stripMargin
    val qsubCtes =
      if (rqLit.nonEmpty) rotQueryBatchLitCtes(dsub)
      else if (rotated) rotQueryBatchCtes(dim, dsub, root)
      else
        s"""qsubB AS (SELECT q_id, s, i, ve[s * $dsub + i] AS x
           |          FROM qd, generate_series(0, ${m - 1}) ss(s), generate_series(1, $dsub) ti(i))""".stripMargin
    val composed =
      s"""WITH d AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve FROM embeddings
       |           WHERE vec_id % 7 <> 4),
       |vnorm AS (SELECT vec_id, SQRT(SUM(ve[i]*ve[i])) AS nrm
       |          FROM d, generate_series(1, $dim) t(i) GROUP BY vec_id),
       |qd AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS ve FROM embeddings
       |       WHERE vec_id % 7 = 4),
       |qnorm AS (SELECT q_id, SQRT(SUM(ve[i]*ve[i])) AS nrm
       |          FROM qd, generate_series(1, $dim) t(i) GROUP BY q_id),
       |cnt AS (SELECT COUNT(*) AS n FROM d),
       |hashed AS (SELECT vec_id,
       |    ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT AS h FROM d),
       |$rotHead${pqCodebookSql(m, ksub, iters, dim, trainSub)},
       |$qsubCtes,
       |lutB AS (SELECT q.q_id, cb.s, cb.c,
       |           SUM(CAST(FLOOR(q.x * cb.comp * 16777216.0 + 0.5) AS BIGINT)) AS l
       |         FROM cb$iters cb JOIN qsubB q ON q.s = cb.s AND q.i = cb.i
       |         GROUP BY q.q_id, cb.s, cb.c),
       |adcB AS (SELECT l.q_id, e.vec_id, SUM(l.l) AS adot
       |         FROM penc e JOIN lutB l ON l.s = e.s AND l.c = e.code
       |         GROUP BY l.q_id, e.vec_id),
       |${pqBatchRankTailSql(topK, overFetch, dim)}""".stripMargin
    if (rotated || rqLit.nonEmpty)
      materializeCtes(composed, Seq("rot", "sub", "penc"))
    else composed
  }

  /** Per-query candidate cut + exact rerank over `adcB` — the batch
    * oracles' shared tail (v22/v25 and the rotated v31/v32): rounded
    * coarse ROW_NUMBER windows to topK × overFetch, float rerank on
    * the ORIGINAL vectors, per-query rank windows, the batch output
    * contract (q_id, vec_id, cos_sim, rank). */
  private def pqBatchRankTailSql(topK: Int, overFetch: Int, dim: Int): String =
    s"""candB AS (SELECT q_id, vec_id FROM (
       |    SELECT a.q_id, a.vec_id, ROW_NUMBER() OVER (PARTITION BY a.q_id
       |        ORDER BY FLOOR(a.adot / 16777216.0 / (vn.nrm * qn.nrm) * 10000 + 0.5)
       |          / 10000 DESC, a.vec_id) AS rn
       |    FROM adcB a JOIN vnorm vn ON vn.vec_id = a.vec_id
       |      JOIN qnorm qn ON qn.q_id = a.q_id) t
       |  WHERE rn <= ${topK * overFetch}),
       |rrB AS (SELECT c.q_id, d.vec_id, SUM(d.ve[t.i] * q.ve[t.i]) AS dot,
       |          vn.nrm AS n1, qn.nrm AS n2
       |        FROM candB c JOIN d ON d.vec_id = c.vec_id
       |          JOIN qd q ON q.q_id = c.q_id
       |          JOIN vnorm vn ON vn.vec_id = c.vec_id
       |          JOIN qnorm qn ON qn.q_id = c.q_id,
       |          generate_series(1, $dim) t(i)
       |        GROUP BY c.q_id, d.vec_id, vn.nrm, qn.nrm),
       |rankedB AS (SELECT q_id, vec_id,
       |    FLOOR(dot / (n1 * n2) * 10000 + 0.5) / 10000 AS cos_sim,
       |    ROW_NUMBER() OVER (PARTITION BY q_id
       |      ORDER BY FLOOR(dot / (n1 * n2) * 10000 + 0.5) / 10000 DESC, vec_id) AS rn
       |  FROM rrB)
       |SELECT q_id, vec_id, cos_sim, CAST(rn AS BIGINT) AS rank
       |FROM rankedB WHERE rn <= $topK ORDER BY q_id, rank""".stripMargin

  /** Batched PQ-ADC serving (v22) — the PQ tier's serving-matrix
    * counterpart of v15/v16: a whole query frame answers in one
    * distributed pass, each query's integer LUT computed in a
    * distributed map and riding the broadcast row, the coarse pass m
    * integer lookups per (row, query) over the ~24 B/row codes, the
    * per-query cut through the shared [[graft.operators
    * .SimilaritySearch.partialTopK]] heap combiner, exact rerank on
    * the survivors. The oracle replays codebook, encode, per-query
    * LUTs, the rounded coarse windows, and the rerank windows verbatim
    * ([[pqBatchOracleSql]]). */
  val pqBatchTopK: Q = Q(
    "v22_pq_batch_topk",
    pqBatchOracleSql(m = 8, ksub = 16, iters = 2, topK = 3, overFetch = 4,
      dim = 64)) { (s, dir) =>
    val e = t(s, dir, "embeddings")
    val idx = SimilaritySearch.pqBuild(
      e.filter(col("vec_id") % 7 =!= 4), "vec_id", "embedding",
      m = 8, ksub = 16, lloydIters = 2, portableSeeds = true)
    SimilaritySearch.pqTopKBatch(
        idx,
        e.filter(col("vec_id") % 7 === 4)
          .select(col("vec_id").as("q_id"), col("embedding")),
        "q_id", "embedding", topK = 3, overFetch = 4)
      .orderBy("q_id", "rank")
  }

  /** PQ incremental-dedup oracle (v24): the corpus split trains and
    * encodes through [[pqCodebookSql]] unchanged (v22's replay), the
    * batch split gets per-row LUTs (`lutB`), every (batch, corpus) pair
    * is ADC-scored and margin-admitted at `threshold − margin` on the
    * ROUNDED approx cosine, admitted pairs exact-verify on floats at
    * `threshold`, and the status tail is v12's verbatim — the same
    * decisions [[graft.operators.SimilaritySearch.pqIncrementalNearDup]]
    * makes. */
  private def pqIncrementalOracleSql(
      m: Int, ksub: Int, iters: Int,
      threshold: Double, margin: Double, dim: Int,
      rotated: Boolean = false,
      rqLit: Option[Array[Array[Long]]] = None): String = {
    require(!(rotated && rqLit.nonEmpty),
      "pqIncrementalOracleSql: HD and literal-R rotation are exclusive")
    val anyRot = rotated || rqLit.nonEmpty
    val dsub = dim / m
    val bound = threshold - margin
    val root = math.sqrt(dim.toDouble).toInt
    // `rotated` (v33): codes and per-row LUTs in the HD-rotated space,
    // admission norms + exact verify original — the oracle of
    // [[graft.operators.SimilaritySearch.pqIncrementalNearDup]] on a
    // Hadamard index. `rqLit` (v38): the trained rotation via the
    // literal `rfp` CTE — the oracle of the same op on an OPQ index.
    val rotHead =
      if (rqLit.nonEmpty) s"${rfpLitCte(rqLit.get, dim)},\n$rotCorpusLitCte,\n"
      else if (rotated) s"${dsignSql(dim)},\n${rotCorpusCte(dim, root)},\n"
      else ""
    val trainSub =
      if (!anyRot) ""
      else s"""sub AS (SELECT vec_id, (j - 1) // $dsub AS s, (j - 1) % $dsub + 1 AS i, y AS x
              |        FROM rot)""".stripMargin
    val qsubCtes =
      if (rqLit.nonEmpty) rotQueryBatchLitCtes(dsub)
      else if (rotated) rotQueryBatchCtes(dim, dsub, root)
      else
        s"""qsubB AS (SELECT q_id, s, i, ve[s * $dsub + i] AS x
           |          FROM qd, generate_series(0, ${m - 1}) ss(s), generate_series(1, $dsub) ti(i))""".stripMargin
    val composed =
      s"""WITH d AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve FROM embeddings
       |           WHERE vec_id % 7 <> 4),
       |vnorm AS (SELECT vec_id, SQRT(SUM(ve[i]*ve[i])) AS nrm
       |          FROM d, generate_series(1, $dim) t(i) GROUP BY vec_id),
       |qd AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS ve FROM embeddings
       |       WHERE vec_id % 7 = 4),
       |qnorm AS (SELECT q_id, SQRT(SUM(ve[i]*ve[i])) AS nrm
       |          FROM qd, generate_series(1, $dim) t(i) GROUP BY q_id),
       |cnt AS (SELECT COUNT(*) AS n FROM d),
       |hashed AS (SELECT vec_id,
       |    ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT AS h FROM d),
       |$rotHead${pqCodebookSql(m, ksub, iters, dim, trainSub)},
       |$qsubCtes,
       |lutB AS (SELECT q.q_id, cb.s, cb.c,
       |           SUM(CAST(FLOOR(q.x * cb.comp * 16777216.0 + 0.5) AS BIGINT)) AS l
       |         FROM cb$iters cb JOIN qsubB q ON q.s = cb.s AND q.i = cb.i
       |         GROUP BY q.q_id, cb.s, cb.c),
       |adcB AS (SELECT l.q_id, e.vec_id, SUM(l.l) AS adot
       |         FROM penc e JOIN lutB l ON l.s = e.s AND l.c = e.code
       |         GROUP BY l.q_id, e.vec_id),
       |${incrementalAdmissionSql(bound)},
       |${incrementalStatusTailSql(threshold, dim)}""".stripMargin
    if (anyRot) materializeCtes(composed, Seq("rot", "sub", "penc"))
    else composed
  }

  /** The margin-admission cut over `adcB` — rounded approx cosine ≥
    * `bound` (= threshold − margin), shared by the raw (v24) and
    * residual (v26) incremental oracles. */
  private def incrementalAdmissionSql(bound: Double): String =
    s"""candB AS (SELECT a.q_id, a.vec_id
       |          FROM adcB a JOIN vnorm vn ON vn.vec_id = a.vec_id
       |            JOIN qnorm qn ON qn.q_id = a.q_id
       |          WHERE FLOOR(a.adot / 16777216.0 / (vn.nrm * qn.nrm) * 10000 + 0.5)
       |                / 10000 >= CAST($bound AS DOUBLE))""".stripMargin

  /** The exact-verify + status tail over `candB` — v12's contract,
    * shared by every incremental-dedup oracle on the batch split. */
  private def incrementalStatusTailSql(threshold: Double, dim: Int): String =
    s"""ex AS (SELECT c.q_id, c.vec_id, SUM(dc.ve[t.i] * qb.ve[t.i]) AS dot,
       |         vn.nrm AS n1, qn.nrm AS n2
       |       FROM candB c JOIN d dc ON dc.vec_id = c.vec_id
       |         JOIN qd qb ON qb.q_id = c.q_id
       |         JOIN vnorm vn ON vn.vec_id = c.vec_id
       |         JOIN qnorm qn ON qn.q_id = c.q_id,
       |         generate_series(1, $dim) t(i)
       |       GROUP BY c.q_id, c.vec_id, vn.nrm, qn.nrm),
       |sims AS (SELECT q_id,
       |           FLOOR(dot / (n1 * n2) * 10000 + 0.5) / 10000 AS sim
       |         FROM ex),
       |agg AS (SELECT q_id, CAST(COUNT(*) AS BIGINT) AS n_dups, MAX(sim) AS best_sim
       |        FROM sims WHERE sim >= CAST($threshold AS DOUBLE) GROUP BY q_id)
       |SELECT e.vec_id, CAST(COALESCE(a.n_dups, 0) AS BIGINT) AS n_dups,
       |  CAST(COALESCE(a.best_sim, -1.0) AS DOUBLE) AS best_sim,
       |  CASE WHEN a.q_id IS NOT NULL THEN 'dup' ELSE 'keep' END AS status
       |FROM embeddings e LEFT JOIN agg a ON a.q_id = e.vec_id
       |WHERE e.vec_id % 7 = 4 ORDER BY e.vec_id""".stripMargin

  /** PQ incremental dedup (v24) — the ingest-screening composition the
    * PQ tier was missing (r17 verdict #6, the v12/v14 analog): newly
    * ingested vectors (vec_id % 7 = 4) are ADC-screened against the
    * STANDING corpus's PQ codes (~24 B/row — the representation a
    * billion-vector deployment actually keeps in RAM) before admission;
    * only margin-admitted pairs touch floats for the exact verify. Same
    * (vec_id, n_dups, best_sim, status) contract as v12; margin 0.2
    * reflects PQ's real reconstruction error (a recall dial, not v12's
    * formality — the scaladoc documents the honest difference). Oracle
    * replays codebook training on the corpus split, the batch LUTs, the
    * rounded margin admission, and the exact verify verbatim
    * ([[pqIncrementalOracleSql]]). */
  val pqIncrementalDedup: Q = Q(
    "v24_pq_incremental_dedup",
    pqIncrementalOracleSql(m = 8, ksub = 16, iters = 2,
      threshold = 0.45, margin = 0.2, dim = 64)) { (s, dir) =>
    val e = t(s, dir, "embeddings")
    val idx = SimilaritySearch.pqBuild(
      e.filter(col("vec_id") % 7 =!= 4), "vec_id", "embedding",
      m = 8, ksub = 16, lloydIters = 2, portableSeeds = true)
    SimilaritySearch.pqIncrementalNearDup(
        idx, e.filter(col("vec_id") % 7 === 4),
        threshold = 0.45, margin = 0.2)
      .orderBy("vec_id")
  }

  /** IVF-PQ oracle: [[ivfBuildSql]]'s full IVF replay (build, probe
    * selection, `cand` = the probed corpus) composed with
    * [[pqChainSql]]'s full PQ replay; the ADC sum runs over encoded
    * rows RESTRICTED to `cand` — both pruning axes, exactly as
    * [[graft.operators.SimilaritySearch.ivfPqTopK]] executes them. */
  private def ivfPqOracleSql(
      k: Int, kIters: Int, nprobe: Int,
      m: Int, ksub: Int, pqIters: Int,
      topK: Int, overFetch: Int, dim: Int): String =
    s"""${ivfBuildSql(k, kIters, nprobe, dim)},
       |${pqChainSql(m, ksub, pqIters, dim)},
       |${pqServeTailSql(topK, overFetch, dim,
          "(SELECT p.* FROM penc p JOIN cand cd ON cd.vec_id = p.vec_id) e")}""".stripMargin

  /** PQ-ADC ANN — the compression tier BELOW SQ8, the regime
    * billion-vector serving fleets keep resident in RAM: the corpus is
    * product-quantized to one 32-bit code + norm per vector (~24 B/row
    * vs 256 B float32 / ~65 B SQ8), the coarse pass is m integer
    * table-lookups per row against the query's ADC LUT (codegen'd
    * `aggregate` HOF over the packed code — bit-exact in any order),
    * and the topK×overFetch survivors rerank on the floats. The oracle
    * replays the ENTIRE stack — seeding, 2 fixed-point per-subspace
    * Lloyd rounds, encode, integer LUT, candidate cut, exact rerank —
    * verbatim ([[pqOracleSql]]). */
  val pqAdcTopK: Q = Q(
    "v20_pq_adc_topk",
    pqOracleSql(m = 8, ksub = 16, iters = 2, topK = 10, overFetch = 4, dim = 64)) { (s, dir) =>
    val sp = s
    import sp.implicits._
    val e = t(s, dir, "embeddings")
    val idx = SimilaritySearch.pqBuild(
      e, "vec_id", "embedding", m = 8, ksub = 16, lloydIters = 2,
      portableSeeds = true)
    val qVec = e.filter(col("vec_id") === 0)
      .select(col("embedding")).as[Array[Float]].head()
    SimilaritySearch.pqTopK(idx, qVec, topK = 10,
      overFetch = 4, filter = col("vec_id") =!= 0)
  }

  /** IVF-PQ ANN — both pruning axes composed, the FAISS `IVF,PQ`
    * default every billion-vector RAM-resident deployment runs: the
    * IVF probe keeps ~nprobe/k of the corpus, the PQ integer ADC scan
    * ranks the kept rows at ~24 B/row, and only topK×overFetch
    * survivors touch the floats. Against brute force that multiplies
    * both reductions — 1/4 of the rows × ~1/10 of the bytes at these
    * dials. The oracle replays BOTH stacks verbatim ([[ivfPqOracleSql]]
    * = [[ivfBuildSql]] ∘ [[pqChainSql]]): IVF seeding + 3 Lloyd rounds
    * + probe selection, PQ seeding + 2 per-subspace Lloyd rounds +
    * encode + integer LUT, the composed candidate cut, the exact
    * rerank. */
  val ivfPqAdcTopK: Q = Q(
    "v21_ivf_pq_topk",
    ivfPqOracleSql(k = 16, kIters = 3, nprobe = 4, m = 8, ksub = 16,
      pqIters = 2, topK = 10, overFetch = 4, dim = 64)) { (s, dir) =>
    val sp = s
    import sp.implicits._
    val e = t(s, dir, "embeddings")
    val ivf = SimilaritySearch.ivfBuild(
      e, "vec_id", "embedding", k = 16, lloydIters = 3, portableSeeds = true)
    val pq = SimilaritySearch.pqBuild(
      e, "vec_id", "embedding", m = 8, ksub = 16, lloydIters = 2,
      portableSeeds = true)
    val qVec = e.filter(col("vec_id") === 0)
      .select(col("embedding")).as[Array[Float]].head()
    SimilaritySearch.ivfPqTopK(ivf, pq, qVec, topK = 10,
      nprobe = 4, overFetch = 4, filter = col("vec_id") =!= 0)
  }

  /** Wide-layout PQ ANN (v27) — v20 at the LITERATURE-DEFAULT operating
    * point the one-long packing could not reach (verdict r18 #1): 8-bit
    * subquantizers (ksub=256) at m=8 = 64 bits of code, packed as TWO
    * non-spanning BIGINT words (`pq_code` becomes ARRAY<BIGINT>; see
    * [[graft.operators.SimilaritySearch.pqPerWord]]). Same seeding,
    * Lloyd, encode, LUT, cut, and rerank decisions as v20 — the oracle
    * is [[pqOracleSql]] re-dialed, UNCHANGED structurally, because it
    * replays codes at the (vec_id, subspace, code) level and never
    * packs: the hash gate therefore pins that the wide word layout is
    * pure representation, invisible to every scoring decision. */
  val pqWideAdcTopK: Q = Q(
    "v27_pq_wide_topk",
    pqOracleSql(m = 8, ksub = 256, iters = 2, topK = 10, overFetch = 4, dim = 64)) { (s, dir) =>
    val sp = s
    import sp.implicits._
    val e = t(s, dir, "embeddings")
    val idx = SimilaritySearch.pqBuild(
      e, "vec_id", "embedding", m = 8, ksub = 256, lloydIters = 2,
      portableSeeds = true)
    val qVec = e.filter(col("vec_id") === 0)
      .select(col("embedding")).as[Array[Float]].head()
    SimilaritySearch.pqTopK(idx, qVec, topK = 10,
      overFetch = 4, filter = col("vec_id") =!= 0)
  }

  /** THREE-word wide-layout PQ ANN (v27b) — the m=16 / ksub=256 dial
    * that produced the r19 recall capstone (128-bit codes: residual
    * 0.783 iso / rot-residual 0.840 aniso on the clustered fixture),
    * now pinned on the hash gate (r19 verdict #5): at 8-bit codes a
    * 63-bit word carries 7 fields, so m=16 packs as THREE non-spanning
    * BIGINT words — the first ≥3-word layout with an oracle entry
    * (v27/v28 gate 2 words). The oracle is [[pqOracleSql]] re-dialed,
    * structurally unchanged: it replays codes at the (vec_id, subspace,
    * code) level and never packs, so the hash match pins the 3-word
    * layout as pure representation. */
  val pqWide3AdcTopK: Q = Q(
    "v27b_pq_wide3_topk",
    pqOracleSql(m = 16, ksub = 256, iters = 2, topK = 10, overFetch = 4, dim = 64)) { (s, dir) =>
    val sp = s
    import sp.implicits._
    val e = t(s, dir, "embeddings")
    val idx = SimilaritySearch.pqBuild(
      e, "vec_id", "embedding", m = 16, ksub = 256, lloydIters = 2,
      portableSeeds = true)
    val qVec = e.filter(col("vec_id") === 0)
      .select(col("embedding")).as[Array[Float]].head()
    SimilaritySearch.pqTopK(idx, qVec, topK = 10,
      overFetch = 4, filter = col("vec_id") =!= 0)
  }

  /** Wide-layout residual IVF-PQ ANN (v28) — v23 at ksub=256, the dial
    * the r18 clustered fixture proved is the one that matters (residual
    * recall climbs 0.27 → 0.43 across ksub 16 → 128 and was CAPPED by
    * the one-long packing at 128; raw PQ stays flat). This entry is the
    * FAISS-default `IVF,PQ8x8` shape end-to-end: residual training,
    * 2-word codes, probe-direct cluster filter, per-cluster integer
    * offset. Oracle: [[residualPqOracleSql]] re-dialed, structurally
    * unchanged (packing-agnostic replay). */
  val residualPqWideTopK: Q = Q(
    "v28_residual_pq_wide_topk",
    residualPqOracleSql(k = 16, kIters = 3, nprobe = 4, m = 8, ksub = 256,
      pqIters = 2, topK = 10, overFetch = 4, dim = 64)) { (s, dir) =>
    val sp = s
    import sp.implicits._
    val e = t(s, dir, "embeddings")
    val ivf = SimilaritySearch.ivfBuild(
      e, "vec_id", "embedding", k = 16, lloydIters = 3, portableSeeds = true)
    val rpq = SimilaritySearch.residualPqBuild(
      ivf, m = 8, ksub = 256, lloydIters = 2, portableSeeds = true)
    val qVec = e.filter(col("vec_id") === 0)
      .select(col("embedding")).as[Array[Float]].head()
    SimilaritySearch.pqTopK(rpq, qVec, topK = 10,
      nprobe = 4, overFetch = 4, filter = col("vec_id") =!= 0)
  }

  /** The ±1 diagonal CTE of the HD rotation — md5-parity per dimension,
    * the hash both engines compute identically. Shared by the rotated
    * oracles (v29/v30). */
  private def dsignSql(dim: Int): String =
    s"""dsign AS (SELECT i,
       |    CASE WHEN ('0x' || substr(md5('rot:' || CAST(i - 1 AS VARCHAR)), 1, 15))::BIGINT % 2 = 0
       |      THEN 1 ELSE -1 END AS sgn
       |  FROM generate_series(1, $dim) t(i))""".stripMargin

  /** Sylvester-Hadamard sign (−1)^popcount((i−1)∧(j−1)) as a SQL CASE —
    * 1-based `iExpr`/`jExpr`. */
  private def hadSgnSql(iExpr: String, jExpr: String): String =
    s"(CASE WHEN bit_count(CAST($iExpr - 1 AS BIGINT) & CAST($jExpr - 1 AS BIGINT)) % 2 = 0 " +
      "THEN 1 ELSE -1 END)"

  /** The corpus-side HD rotation CTE: rotated component j of every
    * `d` row, as an order-free signed integer sum on the 2^24 grid
    * with the exact 2^24·√dim rescale. Shared by v29/v30/v31/v32. */
  private def rotCorpusCte(dim: Int, root: Int): String =
    s"""rot AS (SELECT v.vec_id, tj.j,
       |    CAST(SUM(${hadSgnSql("ti.i", "tj.j")}
       |      * ds.sgn * CAST(FLOOR(v.ve[ti.i] * 16777216.0 + 0.5) AS BIGINT)) AS DOUBLE)
       |      / 16777216.0 / $root.0 AS y
       |  FROM d v, generate_series(1, $dim) tj(j), generate_series(1, $dim) ti(i), dsign ds
       |  WHERE ds.i = ti.i
       |  GROUP BY v.vec_id, tj.j)""".stripMargin

  /** The batch-split rotation: per-query rotated subvectors replacing
    * the plain `qsubB` in the batch oracles' LUT chains (offsets and
    * norms stay original-space). */
  private def rotQueryBatchCtes(dim: Int, dsub: Int, root: Int): String =
    s"""qrotB AS (SELECT q.q_id, tj.j,
       |    CAST(SUM(${hadSgnSql("ti.i", "tj.j")}
       |      * ds.sgn * CAST(FLOOR(q.ve[ti.i] * 16777216.0 + 0.5) AS BIGINT)) AS DOUBLE)
       |      / 16777216.0 / $root.0 AS y
       |  FROM qd q, generate_series(1, $dim) tj(j), generate_series(1, $dim) ti(i), dsign ds
       |  WHERE ds.i = ti.i
       |  GROUP BY q.q_id, tj.j),
       |qsubB AS (SELECT q_id, (j - 1) // $dsub AS s, (j - 1) % $dsub + 1 AS i, y AS x
       |          FROM qrotB)""".stripMargin

  /** The LITERAL trained-rotation CTE (`rfp`) — the quantized R the
    * Spark build applied, unrolled from a dim-row VALUES list to
    * (j, i, rv) BIGINT entries. Shared by every trained-OPQ oracle
    * (v35–v40): the SVD trains in Spark, the serve chain replays. */
  private def rfpLitCte(rq: Array[Array[Long]], dim: Int): String = {
    require(rq.length == dim && rq.forall(_.length == dim),
      s"rfpLitCte: rotation is ${rq.length}×? but dim=$dim")
    val rows = rq.zipWithIndex
      .map { case (row, j) => s"(${j + 1},[${row.mkString(",")}])" }
      .mkString(",")
    s"""rfp AS (SELECT rm.j, ti.i, CAST(rm.rw[ti.i] AS BIGINT) AS rv
       |        FROM (VALUES $rows) rm(j, rw), generate_series(1, $dim) ti(i))""".stripMargin
  }

  /** The corpus-side TRAINED rotation CTE: rotated component j of
    * every `d` row via the literal `rfp` matrix — an order-free signed
    * integer sum with the exact /2^24/2^24 rescale ([[graft.operators
    * .SimilaritySearch.matVecFpQ]]'s arithmetic verbatim). */
  private def rotCorpusLitCte: String =
    s"""rot AS (SELECT v.vec_id, rm.j,
       |    CAST(SUM(rm.rv * CAST(FLOOR(v.ve[rm.i] * 16777216.0 + 0.5) AS BIGINT)) AS DOUBLE)
       |      / 16777216.0 / 16777216.0 AS y
       |  FROM d v, rfp rm
       |  GROUP BY v.vec_id, rm.j)""".stripMargin

  /** The batch-split TRAINED rotation: per-query rotated subvectors
    * via the literal `rfp`, replacing the plain `qsubB` (offsets and
    * norms stay original-space) — [[rotQueryBatchCtes]]'s literal-R
    * form. */
  private def rotQueryBatchLitCtes(dsub: Int): String =
    s"""qrotB AS (SELECT q.q_id, rm.j,
       |    CAST(SUM(rm.rv * CAST(FLOOR(q.ve[rm.i] * 16777216.0 + 0.5) AS BIGINT)) AS DOUBLE)
       |      / 16777216.0 / 16777216.0 AS y
       |  FROM qd q, rfp rm
       |  GROUP BY q.q_id, rm.j),
       |qsubB AS (SELECT q_id, (j - 1) // $dsub AS s, (j - 1) % $dsub + 1 AS i, y AS x
       |          FROM qrotB)""".stripMargin

  /** Rotated-PQ oracle (v29): the v20 replay over the HD-ROTATED
    * corpus. `dsign` derives the ±1 diagonal from the md5-parity both
    * engines compute identically; `rot` applies the Walsh–Hadamard
    * transform as an ORDER-FREE signed integer sum over the 2^24
    * fixed-point grid (exact rescale by 2^24·√dim — both powers of two
    * at the power-of-4 dims the op requires), so every rotated
    * component is an exact, engine-portable double; the rotated `sub`
    * feeds [[pqCodebookSql]] unchanged (the residual oracle's subCte
    * pattern), the query's LUT reads the rotated vec-0 subvectors, and
    * the candidate cut + exact rerank stay on the ORIGINAL vectors and
    * norms ([[pqServeTailSql]] verbatim — rotation is orthogonal, so
    * true cosines are unchanged). */
  private def rotPqOracleSql(
      m: Int, ksub: Int, iters: Int, topK: Int, overFetch: Int, dim: Int): String = {
    val dsub = dim / m
    val root = math.sqrt(dim.toDouble).toInt
    require(root * root == dim && java.lang.Integer.bitCount(root) == 1,
      s"rotPqOracleSql needs a power-of-4 dim, got $dim")
    val rotSub =
      s"""sub AS (SELECT vec_id, (j - 1) // $dsub AS s, (j - 1) % $dsub + 1 AS i, y AS x
         |        FROM rot)""".stripMargin
    val composed =
      s"""WITH d AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve FROM embeddings),
         |vnorm AS (SELECT vec_id, SQRT(SUM(ve[i]*ve[i])) AS nrm
         |          FROM d, generate_series(1, $dim) t(i) GROUP BY vec_id),
         |cnt AS (SELECT COUNT(*) AS n FROM d),
         |hashed AS (SELECT vec_id,
         |    ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT AS h FROM d),
         |${dsignSql(dim)},
         |${rotCorpusCte(dim, root)},
         |${pqCodebookSql(m, ksub, iters, dim, rotSub)},
         |qsub AS (SELECT s, i, x FROM sub WHERE vec_id = 0),
         |lut AS (SELECT cb.s, cb.c,
         |          SUM(CAST(FLOOR(q.x * cb.comp * 16777216.0 + 0.5) AS BIGINT)) AS l
         |        FROM cb$iters cb JOIN qsub q ON q.s = cb.s AND q.i = cb.i
         |        GROUP BY cb.s, cb.c),
         |${pqServeTailSql(topK, overFetch, dim, "penc e")}""".stripMargin
    // `sub` now hides an O(dim²)-per-row transform behind it and has
    // five consumers — without MATERIALIZED, DuckDB re-evaluates the
    // whole rotation per consumer (the v23 CTE-inlining lesson)
    materializeCtes(composed, Seq("rot", "sub"))
  }

  /** Rotated PQ ANN (v29) — the OPQ family's decorrelation step at its
    * SQL-replayable rung (Ge et al., CVPR'13 §4's random-rotation
    * baseline; FAISS's RandomRotationMatrix): the corpus and query pass
    * through a deterministic HD rotation (md5-parity ±1 diagonal ×
    * Walsh–Hadamard, exact integer arithmetic) before the v20 PQ stack,
    * spreading correlated structure evenly across the m subspaces. Same
    * dials as v20 (m=8/ksub=16/2 Lloyd/oF=4), so v20-vs-v29 is the
    * controlled rotation pair; recall deltas are measured on the
    * clustered fixture (`results/pq_clustered_r19.json`). Scores and
    * rerank are on ORIGINAL vectors — rotation never changes returned
    * cosines, only which candidates survive the coarse cut. */
  val rotPqTopK: Q = Q(
    "v29_rot_pq_topk",
    rotPqOracleSql(m = 8, ksub = 16, iters = 2, topK = 10, overFetch = 4, dim = 64)) { (s, dir) =>
    val sp = s
    import sp.implicits._
    val e = t(s, dir, "embeddings")
    val idx = SimilaritySearch.pqBuild(
      e, "vec_id", "embedding", m = 8, ksub = 16, lloydIters = 2,
      portableSeeds = true, rotation = "hadamard")
    val qVec = e.filter(col("vec_id") === 0)
      .select(col("embedding")).as[Array[Float]].head()
    SimilaritySearch.pqTopK(idx, qVec, topK = 10,
      overFetch = 4, filter = col("vec_id") =!= 0)
  }

  /** Batched rotated-PQ serving (v31) — v29's throughput form, closing
    * the rotated tier's serving matrix the way v22 closed the raw
    * tier's: the whole query split answers in one flat-kernel pass,
    * each query's LUT built over ITS HD-rotated vector in the
    * distributed LUT map, norms and rerank original-space. Oracle:
    * [[pqBatchOracleSql]] with `rotated = true` — the v22 chain with
    * the corpus `sub` and the per-query `qsubB` both rotated. */
  val rotPqBatchTopK: Q = Q(
    "v31_rot_pq_batch_topk",
    pqBatchOracleSql(m = 8, ksub = 16, iters = 2, topK = 3, overFetch = 4,
      dim = 64, rotated = true)) { (s, dir) =>
    val e = t(s, dir, "embeddings")
    val idx = SimilaritySearch.pqBuild(
      e.filter(col("vec_id") % 7 =!= 4), "vec_id", "embedding",
      m = 8, ksub = 16, lloydIters = 2, portableSeeds = true, rotation = "hadamard")
    SimilaritySearch.pqTopKBatch(
        idx,
        e.filter(col("vec_id") % 7 === 4)
          .select(col("vec_id").as("q_id"), col("embedding")),
        "q_id", "embedding", topK = 3, overFetch = 4)
      .orderBy("q_id", "rank")
  }

  /** Batched rotated-residual serving (v32) — v30's throughput form:
    * per-query probe bitmask row pruning + original-space offsets +
    * rotated per-query LUTs in one broadcast, the v25 kernel verbatim.
    * Oracle: [[residualPqBatchOracleSql]] with `rotated = true`. */
  val rotResidualPqBatchTopK: Q = Q(
    "v32_rot_residual_pq_batch_topk",
    residualPqBatchOracleSql(k = 16, kIters = 3, nprobe = 4, m = 8, ksub = 16,
      pqIters = 2, topK = 3, overFetch = 4, dim = 64, rotated = true)) { (s, dir) =>
    val e = t(s, dir, "embeddings")
    val ivf = SimilaritySearch.ivfBuild(
      e.filter(col("vec_id") % 7 =!= 4), "vec_id", "embedding",
      k = 16, lloydIters = 3, portableSeeds = true)
    val rrpq = SimilaritySearch.residualPqBuild(
      ivf, m = 8, ksub = 16, lloydIters = 2, portableSeeds = true, rotation = "hadamard")
    SimilaritySearch.pqTopKBatch(
        rrpq,
        e.filter(col("vec_id") % 7 === 4)
          .select(col("vec_id").as("q_id"), col("embedding")),
        "q_id", "embedding", topK = 3, nprobe = 4, overFetch = 4)
      .orderBy("q_id", "rank")
  }

  /** Rotated-PQ incremental dedup (v33) — v24's ingest screen with the
    * standing codes in the HD-rotated space: each ingest row's LUT is
    * built over its rotated vector, margin admission and the exact
    * float verify keep v24's contract exactly (orthogonality preserves
    * the ADC-vs-true-cosine relationship the margin prices). Oracle:
    * [[pqIncrementalOracleSql]] with `rotated = true`. */
  val rotPqIncrementalDedup: Q = Q(
    "v33_rot_pq_incremental_dedup",
    pqIncrementalOracleSql(m = 8, ksub = 16, iters = 2,
      threshold = 0.45, margin = 0.2, dim = 64, rotated = true)) { (s, dir) =>
    val e = t(s, dir, "embeddings")
    val idx = SimilaritySearch.pqBuild(
      e.filter(col("vec_id") % 7 =!= 4), "vec_id", "embedding",
      m = 8, ksub = 16, lloydIters = 2, portableSeeds = true, rotation = "hadamard")
    SimilaritySearch.pqIncrementalNearDup(
        idx, e.filter(col("vec_id") % 7 === 4),
        threshold = 0.45, margin = 0.2)
      .orderBy("vec_id")
  }

  /** Rotated-residual incremental dedup (v34) — v26's probe-pruned
    * ingest screen at the rotated-residual tier (the full `OPQ,IVF,PQ`
    * ingest shape): probes + offsets original-space, LUTs rotated,
    * exact verify never admits a false positive. Oracle:
    * [[residualPqIncrementalOracleSql]] with `rotated = true`. */
  val rotResidualPqIncrementalDedup: Q = Q(
    "v34_rot_residual_pq_incremental_dedup",
    residualPqIncrementalOracleSql(k = 16, kIters = 3, nprobe = 4,
      m = 8, ksub = 16, pqIters = 2,
      threshold = 0.45, margin = 0.2, dim = 64, rotated = true)) { (s, dir) =>
    val e = t(s, dir, "embeddings")
    val ivf = SimilaritySearch.ivfBuild(
      e.filter(col("vec_id") % 7 =!= 4), "vec_id", "embedding",
      k = 16, lloydIters = 3, portableSeeds = true)
    val rrpq = SimilaritySearch.residualPqBuild(
      ivf, m = 8, ksub = 16, lloydIters = 2, portableSeeds = true, rotation = "hadamard")
    SimilaritySearch.pqIncrementalNearDup(
        rrpq, e.filter(col("vec_id") % 7 === 4),
        threshold = 0.45, margin = 0.2, nprobe = 4)
      .orderBy("vec_id")
  }

  /** Trained rotations captured when a TRAINED-OPQ entry's build runs,
    * keyed by entry name — the bridge that lets a DATA-DEPENDENT
    * rotation ride the hash-exact oracle gate (r19 verdict #1): Verify
    * runs every query BEFORE dumping oracle_sql.json, so by dump time
    * the holder carries the exact 2^24-grid R the Spark build encoded
    * with, and the composed oracle inlines it as a literal CTE. A dump
    * without the run (a focused Verify that skipped the entry) falls
    * back to the rows-only registration — never a stale or wrong R. */
  private object TrainedRotations {
    private val held =
      new java.util.concurrent.ConcurrentHashMap[String, Array[Array[Long]]]()
    def put(name: String, idx: SimilaritySearch.PqIndex): Unit = idx.rotation match {
      case SimilaritySearch.PqRotation.Trained(_, rq) => held.put(name, rq)
      case other => throw new IllegalStateException(s"$name: not a trained rotation: $other")
    }
    def get(name: String): Option[Array[Array[Long]]] = Option(held.get(name))
  }

  /** A trained-OPQ entry: rows-only until a run of `fn` has put its
    * quantized R in [[TrainedRotations]], then gated by `oracle(R)`. */
  private def trainedEntry(name: String, oracle: Array[Array[Long]] => String)(
      fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Q =
    TrainedRotations.get(name) match {
      case Some(rq) => Q(name, oracle(rq))(fn)
      case None => Q.noOracle(name)(fn)
    }

  /** Trained-OPQ oracle (v35): [[rotPqOracleSql]]'s replay chain with
    * the TRAINED rotation inlined as a fixed-point literal CTE in
    * place of the derived HD transform — `rfp` unrolls the quantized
    * R (round(r·2^24), the exact matrix the Spark build applied) from
    * a dim-row VALUES list, `rot` applies it as an order-free signed
    * integer sum with the exact /2^24/2^24 rescale (matVecFpQ's
    * arithmetic verbatim), and everything downstream — codebook
    * training over the rotated `sub`, the rotated-query LUT, the
    * candidate cut, the original-float rerank — is the v29 chain
    * unchanged. The SVD that PRODUCED R is the one step that cannot
    * replay in SQL; it stays on its spec pins (orthogonality,
    * bit-determinism), while this oracle independently verifies every
    * serving decision downstream of it. */
  private def opqPqOracleSql(
      rq: Array[Array[Long]],
      m: Int, ksub: Int, iters: Int, topK: Int, overFetch: Int, dim: Int): String = {
    val dsub = dim / m
    val rotSub =
      s"""sub AS (SELECT vec_id, (j - 1) // $dsub AS s, (j - 1) % $dsub + 1 AS i, y AS x
         |        FROM rot)""".stripMargin
    val composed =
      s"""WITH d AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve FROM embeddings),
         |vnorm AS (SELECT vec_id, SQRT(SUM(ve[i]*ve[i])) AS nrm
         |          FROM d, generate_series(1, $dim) t(i) GROUP BY vec_id),
         |cnt AS (SELECT COUNT(*) AS n FROM d),
         |hashed AS (SELECT vec_id,
         |    ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT AS h FROM d),
         |${rfpLitCte(rq, dim)},
         |$rotCorpusLitCte,
         |${pqCodebookSql(m, ksub, iters, dim, rotSub)},
         |qsub AS (SELECT s, i, x FROM sub WHERE vec_id = 0),
         |lut AS (SELECT cb.s, cb.c,
         |          SUM(CAST(FLOOR(q.x * cb.comp * 16777216.0 + 0.5) AS BIGINT)) AS l
         |        FROM cb$iters cb JOIN qsub q ON q.s = cb.s AND q.i = cb.i
         |        GROUP BY cb.s, cb.c),
         |${pqServeTailSql(topK, overFetch, dim, "penc e")}""".stripMargin
    materializeCtes(composed, Seq("rot", "sub"))
  }

  /** Trained-OPQ ANN (v35) — the recall rung ABOVE the deterministic HD
    * rotation: OPQ-NP (Ge et al., CVPR'13, Alg. 1) alternates codebook
    * training with a Procrustes rotation update (deterministic Jacobi
    * SVD of the fixed-point x·ŷ correlation). The final build snaps R
    * to the 2^24 grid and rotates in exact integer arithmetic, so the
    * WHOLE post-SVD chain rides the hash-exact gate: the build stores
    * the trained R in [[TrainedRotations]] as it runs, and this entry
    * (a def — re-registered at oracle-dump time) composes it into
    * [[opqPqOracleSql]]'s literal-R replay. Only the SVD itself stays
    * on spec pins (orthogonality, bit-determinism, covering-overFetch
    * == exact); recall is the clustered fixture's measured arm. */
  def opqTopKEntry: Q = trainedEntry("v35_opq_pq_topk", rq =>
      opqPqOracleSql(rq, m = 8, ksub = 16, iters = 2,
        topK = 10, overFetch = 4, dim = 64)) { (s, dir) =>
    val sp = s
    import sp.implicits._
    val e = t(s, dir, "embeddings")
    val idx = SimilaritySearch.pqBuild(
      e, "vec_id", "embedding", m = 8, ksub = 16, lloydIters = 2,
      opqIters = 2, portableSeeds = true, rotation = "opq")
    TrainedRotations.put("v35_opq_pq_topk", idx)
    val qVec = e.filter(col("vec_id") === 0)
      .select(col("embedding")).as[Array[Float]].head()
    SimilaritySearch.pqTopK(idx, qVec, topK = 10,
      overFetch = 4, filter = col("vec_id") =!= 0)
  }

  /** Trained-OPQ RESIDUAL oracle (v36): [[rotResidualPqOracleSql]]'s
    * replay chain (the v23 residual replay + rotation) with the
    * TRAINED rotation inlined as the `rfp` literal CTE in place of the
    * derived HD transform: `res` materializes the per-(vec, dim)
    * residual against the replayed IVF assignment, `rres` rotates it
    * by the quantized R (order-free signed integer sum, exact
    * /2^24/2^24 rescale — matVecFpQ verbatim), the rotated `sub` feeds
    * [[pqCodebookSql]] unchanged, the QUERY side rotates vec 0 through
    * the same literal R for the LUT while `qoff` keeps ORIGINAL-space
    * ⟨q, centroid⟩ offsets, and the probed radc + offset + cut +
    * rerank tail is v23's verbatim — exactly the decomposition
    * ⟨q, x⟩ = ⟨q, c⟩ + ⟨Rq, Rr⟩ the Spark serve computes. */
  private def opqResidualPqOracleSql(
      rq: Array[Array[Long]],
      k: Int, kIters: Int, nprobe: Int,
      m: Int, ksub: Int, pqIters: Int,
      topK: Int, overFetch: Int, dim: Int): String = {
    val dsub = dim / m
    val rotSub =
      s"""sub AS (SELECT vec_id, (j - 1) // $dsub AS s, (j - 1) % $dsub + 1 AS i, y AS x
         |        FROM rres)""".stripMargin
    val composed =
      s"""${ivfBuildSql(k, kIters, nprobe, dim)},
         |${rfpLitCte(rq, dim)},
         |res AS (SELECT v.vec_id, ti.i, v.ve[ti.i] - cc.comp AS x
         |        FROM d v, generate_series(1, $dim) ti(i), finalassign a, cents$kIters cc
         |        WHERE a.vec_id = v.vec_id AND cc.c = a.cluster AND cc.i = ti.i),
         |rres AS (SELECT r.vec_id, rm.j,
         |    CAST(SUM(rm.rv * CAST(FLOOR(r.x * 16777216.0 + 0.5) AS BIGINT)) AS DOUBLE)
         |      / 16777216.0 / 16777216.0 AS y
         |  FROM res r JOIN rfp rm ON rm.i = r.i
         |  GROUP BY r.vec_id, rm.j),
         |${pqCodebookSql(m, ksub, pqIters, dim, rotSub)},
         |qrot AS (SELECT rm.j,
         |    CAST(SUM(rm.rv * CAST(FLOOR(q.ve[rm.i] * 16777216.0 + 0.5) AS BIGINT)) AS DOUBLE)
         |      / 16777216.0 / 16777216.0 AS y
         |  FROM d q, rfp rm
         |  WHERE q.vec_id = 0
         |  GROUP BY rm.j),
         |qsubr AS (SELECT (j - 1) // $dsub AS s, (j - 1) % $dsub + 1 AS i, y AS x FROM qrot),
         |lut AS (SELECT cb.s, cb.c,
         |          SUM(CAST(FLOOR(q.x * cb.comp * 16777216.0 + 0.5) AS BIGINT)) AS l
         |        FROM cb$pqIters cb JOIN qsubr q ON q.s = cb.s AND q.i = cb.i
         |        GROUP BY cb.s, cb.c),
         |qoff AS (SELECT cc.c,
         |           SUM(CAST(FLOOR(q.ve[cc.i] * cc.comp * 16777216.0 + 0.5) AS BIGINT)) AS off
         |         FROM cents$kIters cc, d q WHERE q.vec_id = 0 GROUP BY cc.c),
         |radc AS (SELECT cd.vec_id, cd.cluster, SUM(l.l) AS rdot
         |         FROM cand cd JOIN penc e ON e.vec_id = cd.vec_id
         |           JOIN lut l ON l.s = e.s AND l.c = e.code
         |         GROUP BY cd.vec_id, cd.cluster),
         |adc AS (SELECT r.vec_id, r.rdot + o.off AS adot
         |        FROM radc r JOIN qoff o ON o.c = r.cluster),
         |${pqRerankTailSql(topK, overFetch, dim)}""".stripMargin
    // the v23/v30 inlining lesson: `sub` hides residual + rotation with
    // five consumers — every expensive ancestor pins to one evaluation
    materializeCtes(composed,
      Seq("finalassign", s"cents$kIters", "res", "rres", "sub", "penc", "cand"))
  }

  /** Trained-OPQ residual ANN (v36) — the FAISS `OPQ,IVF,PQ` production
    * chain with the LEARNED rotation (r19 verdict #2): v30's
    * decomposition (probes + offsets original-space, LUT rotated) with
    * the Procrustes-trained R in place of HD, trained ON the residuals
    * — the regime the clustered fixture showed rotation actually pays
    * in. Same dials as v23/v30 so the three entries are the controlled
    * raw / HD-rotated / trained triple; recall per regime is the
    * fixture's measured arm. Gated exactly as v35: the build stores
    * its trained R in [[TrainedRotations]], and this def re-registers
    * with [[opqResidualPqOracleSql]]'s literal-R replay at dump time. */
  def opqResidualTopKEntry: Q = trainedEntry("v36_opq_residual_topk", rq =>
      opqResidualPqOracleSql(rq,
        k = 16, kIters = 3, nprobe = 4, m = 8, ksub = 16, pqIters = 2,
        topK = 10, overFetch = 4, dim = 64)) { (s, dir) =>
    val sp = s
    import sp.implicits._
    val e = t(s, dir, "embeddings")
    val ivf = SimilaritySearch.ivfBuild(
      e, "vec_id", "embedding", k = 16, lloydIters = 3, portableSeeds = true)
    val idx = SimilaritySearch.residualPqBuild(
      ivf, m = 8, ksub = 16, lloydIters = 2, opqIters = 2,
      portableSeeds = true, rotation = "opq")
    TrainedRotations.put("v36_opq_residual_topk", idx)
    val qVec = e.filter(col("vec_id") === 0)
      .select(col("embedding")).as[Array[Float]].head()
    SimilaritySearch.pqTopK(idx, qVec,
      topK = 10, nprobe = 4, overFetch = 4, filter = col("vec_id") =!= 0)
  }

  /** Batched trained-OPQ serving (v37) — the trained tier's
    * throughput form, closing its serving matrix the way v31 closed
    * the HD tier's: the whole query split answers in one flat-kernel
    * pass, each query's LUT built over ITS [[matVecFpQ]]-rotated
    * vector in the distributed LUT map, norms and rerank
    * original-space. The index trains on the CORPUS split, so its R
    * differs from v35's full-corpus R — each entry's holder carries
    * its own. Oracle: [[pqBatchOracleSql]] with the literal `rfp`
    * rotation — the v22/v31 chain with the trained R. */
  def opqBatchTopKEntry: Q = trainedEntry("v37_opq_batch_topk", rq =>
      pqBatchOracleSql(m = 8, ksub = 16, iters = 2,
        topK = 3, overFetch = 4, dim = 64, rqLit = Some(rq))) { (s, dir) =>
    val e = t(s, dir, "embeddings")
    val idx = SimilaritySearch.pqBuild(
      e.filter(col("vec_id") % 7 =!= 4), "vec_id", "embedding",
      m = 8, ksub = 16, lloydIters = 2, opqIters = 2,
      portableSeeds = true, rotation = "opq")
    TrainedRotations.put("v37_opq_batch_topk", idx)
    SimilaritySearch.pqTopKBatch(
        idx,
        e.filter(col("vec_id") % 7 === 4)
          .select(col("vec_id").as("q_id"), col("embedding")),
        "q_id", "embedding", topK = 3, overFetch = 4)
      .orderBy("q_id", "rank")
  }

  /** Trained-OPQ incremental dedup (v38) — v33's ingest screen with
    * the standing codes in the TRAINED rotated space: each ingest
    * row's LUT is built over its [[matVecFpQ]]-rotated vector, margin
    * admission and the exact float verify keep the v24 contract.
    * Oracle: [[pqIncrementalOracleSql]] with the literal `rfp`. */
  def opqIncrementalDedupEntry: Q = trainedEntry("v38_opq_incremental_dedup", rq =>
      pqIncrementalOracleSql(
        m = 8, ksub = 16, iters = 2, threshold = 0.45, margin = 0.2,
        dim = 64, rqLit = Some(rq))) { (s, dir) =>
    val e = t(s, dir, "embeddings")
    val idx = SimilaritySearch.pqBuild(
      e.filter(col("vec_id") % 7 =!= 4), "vec_id", "embedding",
      m = 8, ksub = 16, lloydIters = 2, opqIters = 2,
      portableSeeds = true, rotation = "opq")
    TrainedRotations.put("v38_opq_incremental_dedup", idx)
    SimilaritySearch.pqIncrementalNearDup(
        idx, e.filter(col("vec_id") % 7 === 4),
        threshold = 0.45, margin = 0.2)
      .orderBy("vec_id")
  }

  /** Batched trained-OPQ RESIDUAL serving (v39) — v32 one rotation
    * rung up: per-query probe bitmask row pruning + original-space
    * offsets + trained-R per-query LUTs in one broadcast, the v25
    * kernel verbatim. Oracle: [[residualPqBatchOracleSql]] with the
    * literal `rfp` rotating the residuals and the batch queries. */
  def opqResidualBatchTopKEntry: Q = trainedEntry("v39_opq_residual_batch_topk", rq =>
      residualPqBatchOracleSql(
        k = 16, kIters = 3, nprobe = 4, m = 8, ksub = 16, pqIters = 2,
        topK = 3, overFetch = 4, dim = 64, rqLit = Some(rq))) { (s, dir) =>
    val e = t(s, dir, "embeddings")
    val ivf = SimilaritySearch.ivfBuild(
      e.filter(col("vec_id") % 7 =!= 4), "vec_id", "embedding",
      k = 16, lloydIters = 3, portableSeeds = true)
    val idx = SimilaritySearch.residualPqBuild(
      ivf, m = 8, ksub = 16, lloydIters = 2, opqIters = 2,
      portableSeeds = true, rotation = "opq")
    TrainedRotations.put("v39_opq_residual_batch_topk", idx)
    SimilaritySearch.pqTopKBatch(
        idx,
        e.filter(col("vec_id") % 7 === 4)
          .select(col("vec_id").as("q_id"), col("embedding")),
        "q_id", "embedding", topK = 3, nprobe = 4, overFetch = 4)
      .orderBy("q_id", "rank")
  }

  /** Trained-OPQ residual incremental dedup (v40) — v34 with the
    * LEARNED R: the full `OPQ,IVF,PQ` ingest shape (probes + offsets
    * original-space, LUTs trained-rotated, exact verify never admits
    * a false positive). Oracle: [[residualPqIncrementalOracleSql]]
    * with the literal `rfp`. Completes the trained tier's serving
    * matrix at parity with the HD tier (v31–v34). */
  def opqResidualIncrementalDedupEntry: Q = trainedEntry("v40_opq_residual_incremental_dedup", rq =>
      residualPqIncrementalOracleSql(
        k = 16, kIters = 3, nprobe = 4, m = 8, ksub = 16, pqIters = 2,
        threshold = 0.45, margin = 0.2, dim = 64, rqLit = Some(rq))) { (s, dir) =>
    val e = t(s, dir, "embeddings")
    val ivf = SimilaritySearch.ivfBuild(
      e.filter(col("vec_id") % 7 =!= 4), "vec_id", "embedding",
      k = 16, lloydIters = 3, portableSeeds = true)
    val idx = SimilaritySearch.residualPqBuild(
      ivf, m = 8, ksub = 16, lloydIters = 2, opqIters = 2,
      portableSeeds = true, rotation = "opq")
    TrainedRotations.put("v40_opq_residual_incremental_dedup", idx)
    SimilaritySearch.pqIncrementalNearDup(
        idx, e.filter(col("vec_id") % 7 === 4),
        threshold = 0.45, margin = 0.2, nprobe = 4)
      .orderBy("vec_id")
  }

  /** Persisted trained-OPQ serving (v41) — v35 routed through the
    * save → load → serve cycle: the oracle is IDENTICAL to v35's
    * (same dials, the literal R from the build), so the hash gate pins
    * the round-trip claim the spec makes — the rotation doubles, the
    * codebook and the codes all survive the tree bit-exactly, and a
    * loaded index's serving decisions are indistinguishable from the
    * in-memory ones. */
  def opqPersistedServingEntry: Q = trainedEntry("v41_opq_persisted_serving", rq =>
      opqPqOracleSql(rq, m = 8, ksub = 16,
        iters = 2, topK = 10, overFetch = 4, dim = 64)) { (s, dir) =>
    val sp = s
    import sp.implicits._
    val e = t(s, dir, "embeddings")
    val idx = SimilaritySearch.pqBuild(
      e, "vec_id", "embedding", m = 8, ksub = 16, lloydIters = 2,
      opqIters = 2, portableSeeds = true, rotation = "opq")
    TrainedRotations.put("v41_opq_persisted_serving", idx)
    val path = s"/tmp/graft_v41_index_${Integer.toHexString(dir.hashCode)}" +
      s"_p${ProcessHandle.current().pid()}"
    reapAtExit(path)
    SimilaritySearch.pqSave(idx, path)
    val loaded = SimilaritySearch.pqLoad(s, path, e)
    val qVec = e.filter(col("vec_id") === 0)
      .select(col("embedding")).as[Array[Float]].head()
    SimilaritySearch.pqTopK(loaded, qVec, topK = 10,
      overFetch = 4, filter = col("vec_id") =!= 0)
  }

  /** Persisted trained-OPQ RESIDUAL serving (v42) — v36 through the
    * save → load → serve cycle; oracle identical to v36's, pinning the
    * residual tree's round-trip (rotation + codebook + centroids +
    * cluster-partitioned codes) on the hash gate. */
  def opqResidualPersistedServingEntry: Q = trainedEntry("v42_opq_residual_persisted_serving", rq =>
      opqResidualPqOracleSql(rq,
        k = 16, kIters = 3, nprobe = 4, m = 8, ksub = 16, pqIters = 2,
        topK = 10, overFetch = 4, dim = 64)) { (s, dir) =>
    val sp = s
    import sp.implicits._
    val e = t(s, dir, "embeddings")
    val ivf = SimilaritySearch.ivfBuild(
      e, "vec_id", "embedding", k = 16, lloydIters = 3, portableSeeds = true)
    val idx = SimilaritySearch.residualPqBuild(
      ivf, m = 8, ksub = 16, lloydIters = 2, opqIters = 2,
      portableSeeds = true, rotation = "opq")
    TrainedRotations.put("v42_opq_residual_persisted_serving", idx)
    val path = s"/tmp/graft_v42_index_${Integer.toHexString(dir.hashCode)}" +
      s"_p${ProcessHandle.current().pid()}"
    reapAtExit(path)
    SimilaritySearch.pqSave(idx, path)
    val loaded = SimilaritySearch.pqLoad(s, path, e)
    val qVec = e.filter(col("vec_id") === 0)
      .select(col("embedding")).as[Array[Float]].head()
    SimilaritySearch.pqTopK(loaded, qVec,
      topK = 10, nprobe = 4, overFetch = 4, filter = col("vec_id") =!= 0)
  }

  /** Rotated-RESIDUAL IVF-PQ oracle (v30): the v23 replay with the HD
    * rotation applied to every residual before the subspace split —
    * `res` materializes the per-(vec, dim) residual, `rres` rotates it
    * (order-free signed integer sum on the 2^24 grid, exact rescale),
    * the rotated `sub` feeds [[pqCodebookSql]] unchanged; the QUERY
    * side rotates vec 0 (`qrot` → `qsubr`) for the LUT while `qoff`
    * keeps the ORIGINAL-space ⟨q, centroid⟩ offsets — the exact
    * decomposition ⟨q, x⟩ = ⟨q, c⟩ + ⟨Hq, Hr⟩ the Spark serve computes.
    * Tail (probed radc + offset add + cut + rerank) is v23's verbatim. */
  private def rotResidualPqOracleSql(
      k: Int, kIters: Int, nprobe: Int,
      m: Int, ksub: Int, pqIters: Int,
      topK: Int, overFetch: Int, dim: Int): String = {
    val dsub = dim / m
    val root = math.sqrt(dim.toDouble).toInt
    require(root * root == dim && java.lang.Integer.bitCount(root) == 1,
      s"rotResidualPqOracleSql needs a power-of-4 dim, got $dim")
    val rotSub =
      s"""sub AS (SELECT vec_id, (j - 1) // $dsub AS s, (j - 1) % $dsub + 1 AS i, y AS x
         |        FROM rres)""".stripMargin
    val composed =
      s"""${ivfBuildSql(k, kIters, nprobe, dim)},
         |${dsignSql(dim)},
         |res AS (SELECT v.vec_id, ti.i, v.ve[ti.i] - cc.comp AS x
         |        FROM d v, generate_series(1, $dim) ti(i), finalassign a, cents$kIters cc
         |        WHERE a.vec_id = v.vec_id AND cc.c = a.cluster AND cc.i = ti.i),
         |rres AS (SELECT r.vec_id, tj.j,
         |    CAST(SUM(${hadSgnSql("r.i", "tj.j")}
         |      * ds.sgn * CAST(FLOOR(r.x * 16777216.0 + 0.5) AS BIGINT)) AS DOUBLE)
         |      / 16777216.0 / $root.0 AS y
         |  FROM res r, generate_series(1, $dim) tj(j), dsign ds
         |  WHERE ds.i = r.i
         |  GROUP BY r.vec_id, tj.j),
         |${pqCodebookSql(m, ksub, pqIters, dim, rotSub)},
         |qrot AS (SELECT tj.j,
         |    CAST(SUM(${hadSgnSql("ti.i", "tj.j")}
         |      * ds.sgn * CAST(FLOOR(q.ve[ti.i] * 16777216.0 + 0.5) AS BIGINT)) AS DOUBLE)
         |      / 16777216.0 / $root.0 AS y
         |  FROM d q, generate_series(1, $dim) tj(j), generate_series(1, $dim) ti(i), dsign ds
         |  WHERE q.vec_id = 0 AND ds.i = ti.i
         |  GROUP BY tj.j),
         |qsubr AS (SELECT (j - 1) // $dsub AS s, (j - 1) % $dsub + 1 AS i, y AS x FROM qrot),
         |lut AS (SELECT cb.s, cb.c,
         |          SUM(CAST(FLOOR(q.x * cb.comp * 16777216.0 + 0.5) AS BIGINT)) AS l
         |        FROM cb$pqIters cb JOIN qsubr q ON q.s = cb.s AND q.i = cb.i
         |        GROUP BY cb.s, cb.c),
         |qoff AS (SELECT cc.c,
         |           SUM(CAST(FLOOR(q.ve[cc.i] * cc.comp * 16777216.0 + 0.5) AS BIGINT)) AS off
         |         FROM cents$kIters cc, d q WHERE q.vec_id = 0 GROUP BY cc.c),
         |radc AS (SELECT cd.vec_id, cd.cluster, SUM(l.l) AS rdot
         |         FROM cand cd JOIN penc e ON e.vec_id = cd.vec_id
         |           JOIN lut l ON l.s = e.s AND l.c = e.code
         |         GROUP BY cd.vec_id, cd.cluster),
         |adc AS (SELECT r.vec_id, r.rdot + o.off AS adot
         |        FROM radc r JOIN qoff o ON o.c = r.cluster),
         |${pqRerankTailSql(topK, overFetch, dim)}""".stripMargin
    // the v23 inlining lesson, one node deeper: `sub` hides residual +
    // rotation; every expensive ancestor pins to one evaluation
    materializeCtes(composed,
      Seq("finalassign", s"cents$kIters", "res", "rres", "sub", "penc", "cand"))
  }

  /** Rotated-residual IVF-PQ ANN (v30) — the FAISS `OPQ,IVF,PQ`
    * production chain at the deterministic-rotation rung: the OPQ
    * decorrelation (v29's HD rotation) composed ONTO the residual
    * encoding (v23), i.e. the codebook trains on H(x − centroid) and
    * serving decomposes ⟨q, x⟩ = ⟨q, c⟩ + ⟨Hq, Hr⟩ exactly. Same dials
    * as v23 (k=16/3 Lloyd, m=8/ksub=16/2 Lloyd, nprobe=4, oF=4) so
    * v23-vs-v30 is the controlled pair; recall is measured per-ksub on
    * the clustered fixture (`results/pq_clustered_r19.json`). */
  val rotResidualPqTopK: Q = Q(
    "v30_rot_residual_pq_topk",
    rotResidualPqOracleSql(k = 16, kIters = 3, nprobe = 4, m = 8, ksub = 16,
      pqIters = 2, topK = 10, overFetch = 4, dim = 64)) { (s, dir) =>
    val sp = s
    import sp.implicits._
    val e = t(s, dir, "embeddings")
    val ivf = SimilaritySearch.ivfBuild(
      e, "vec_id", "embedding", k = 16, lloydIters = 3, portableSeeds = true)
    val rrpq = SimilaritySearch.residualPqBuild(
      ivf, m = 8, ksub = 16, lloydIters = 2, portableSeeds = true, rotation = "hadamard")
    val qVec = e.filter(col("vec_id") === 0)
      .select(col("embedding")).as[Array[Float]].head()
    SimilaritySearch.pqTopK(rrpq, qVec, topK = 10,
      nprobe = 4, overFetch = 4, filter = col("vec_id") =!= 0)
  }

  /** Residual IVF-PQ oracle (v23): the FULL IVF replay
    * ([[ivfBuildSql]] — build, probe, `cand`) feeding a PQ codebook
    * trained on RESIDUALS — the `sub` CTE handed to [[pqCodebookSql]]
    * is `ve[·] − comp` of the row's assigned final centroid, so
    * seeding, both fixed-point Lloyd rounds, and the encode all train
    * on within-cluster geometry. Serving replays as: the query's LUT
    * over its RAW subvectors (`qsubr` — the query is never
    * residualized), a per-cluster integer offset `qoff` =
    * Σ floor(q·centroid·2^24 + 0.5), and each probed row's adot =
    * offset(cluster) + Σ LUT — exactly the integer sum
    * [[graft.operators.SimilaritySearch.pqTopK]] computes —
    * then the shared [[pqRerankTailSql]]. */
  private def residualPqOracleSql(
      k: Int, kIters: Int, nprobe: Int,
      m: Int, ksub: Int, pqIters: Int,
      topK: Int, overFetch: Int, dim: Int): String = {
    val dsub = dim / m
    val residualSub =
      s"""sub AS (SELECT v.vec_id, ss.s, ti.i, v.ve[ss.s * $dsub + ti.i] - cc.comp AS x
         |        FROM d v, generate_series(0, ${m - 1}) ss(s), generate_series(1, $dsub) ti(i),
         |          finalassign a, cents$kIters cc
         |        WHERE a.vec_id = v.vec_id AND cc.c = a.cluster
         |          AND cc.i = ss.s * $dsub + ti.i)""".stripMargin
    val composed =
      s"""${ivfBuildSql(k, kIters, nprobe, dim)},
         |${pqCodebookSql(m, ksub, pqIters, dim, residualSub)},
         |qsubr AS (SELECT ss.s, ti.i, q.ve[ss.s * $dsub + ti.i] AS x
         |          FROM d q, generate_series(0, ${m - 1}) ss(s), generate_series(1, $dsub) ti(i)
         |          WHERE q.vec_id = 0),
         |lut AS (SELECT cb.s, cb.c,
         |          SUM(CAST(FLOOR(q.x * cb.comp * 16777216.0 + 0.5) AS BIGINT)) AS l
         |        FROM cb$pqIters cb JOIN qsubr q ON q.s = cb.s AND q.i = cb.i
         |        GROUP BY cb.s, cb.c),
         |qoff AS (SELECT cc.c,
         |           SUM(CAST(FLOOR(q.ve[cc.i] * cc.comp * 16777216.0 + 0.5) AS BIGINT)) AS off
         |         FROM cents$kIters cc, d q WHERE q.vec_id = 0 GROUP BY cc.c),
         |radc AS (SELECT cd.vec_id, cd.cluster, SUM(l.l) AS rdot
         |         FROM cand cd JOIN penc e ON e.vec_id = cd.vec_id
         |           JOIN lut l ON l.s = e.s AND l.c = e.code
         |         GROUP BY cd.vec_id, cd.cluster),
         |adc AS (SELECT r.vec_id, r.rdot + o.off AS adot
         |        FROM radc r JOIN qoff o ON o.c = r.cluster),
         |${pqRerankTailSql(topK, overFetch, dim)}""".stripMargin
    // Unlike every other chain in this file, the residual `sub` CTE
    // references the IVF tail (finalassign + cents) — and DuckDB
    // INLINES CTEs by default, so each of `sub`'s many consumers
    // (cb0, two Lloyd rounds, penc) would re-evaluate the ENTIRE IVF
    // build: measured 6.7 s materialized vs >8 MINUTES inlined at
    // sf0.01. MATERIALIZED pins each expensive node to one evaluation;
    // results are identical (it is a pure evaluation-strategy hint).
    materializeCtes(composed,
      Seq("finalassign", "sub", s"cents$kIters", "penc", "cand"))
  }

  /** Rewrite the named CTEs' DEFINITION sites to `AS MATERIALIZED` —
    * anchored at the line boundary (every CTE definition in the
    * composed chains starts its own line) so a name that is a suffix
    * of another (`cand` vs `pcand`, `sub` vs `qsub`) can never
    * materialize the wrong node, and ASSERTED unique — a composed
    * chain that gains a second definition site fails loudly here, not
    * as a silent wrong-node performance cliff (review r18). */
  private def materializeCtes(sql: String, names: Seq[String]): String =
    names.foldLeft(sql) { (s, name) =>
      val defSite = s"\n$name AS ("
      val n = s.sliding(defSite.length).count(_ == defSite)
      require(n == 1,
        s"materializeCtes: expected exactly one definition of '$name', found $n")
      s.replace(defSite, s"\n$name AS MATERIALIZED (")
    }

  /** Residual-encoded IVF-PQ ANN (v23) — the recall-recovering form of
    * v21 (Jégou et al. §IV.A, the FAISS `IVF,PQ` TRAINING default): the
    * PQ codebook trains on r = x − centroid(cluster(x)), spending its
    * ksub codewords per subspace on within-cluster geometry instead of
    * re-describing the coarse structure; serving adds the
    * ⟨query, centroid⟩ term back as a per-cluster integer offset. Same
    * dials as v21 (k=16/3 Lloyd, m=8/ksub=16/2 Lloyd, nprobe=4,
    * overFetch=4) so the two entries are the controlled residual-vs-raw
    * pair; the recall delta at sf1 is the `results/pq_sf1_r18.json`
    * artifact. The probe restriction is a DIRECT cluster filter on the
    * encoded frame (it carries `cluster`), not v21's left-semi join —
    * at scale that is partition pruning. Oracle: [[residualPqOracleSql]]
    * replays both builds, the residual encode, the raw-query LUT, the
    * per-cluster offset, and the composed integer ADC verbatim. */
  val ivfResidualPqAdcTopK: Q = Q(
    "v23_ivf_residual_pq_topk",
    residualPqOracleSql(k = 16, kIters = 3, nprobe = 4, m = 8, ksub = 16,
      pqIters = 2, topK = 10, overFetch = 4, dim = 64)) { (s, dir) =>
    val sp = s
    import sp.implicits._
    val e = t(s, dir, "embeddings")
    val ivf = SimilaritySearch.ivfBuild(
      e, "vec_id", "embedding", k = 16, lloydIters = 3, portableSeeds = true)
    val rpq = SimilaritySearch.residualPqBuild(
      ivf, m = 8, ksub = 16, lloydIters = 2, portableSeeds = true)
    val qVec = e.filter(col("vec_id") === 0)
      .select(col("embedding")).as[Array[Float]].head()
    SimilaritySearch.pqTopK(rpq, qVec, topK = 10,
      nprobe = 4, overFetch = 4, filter = col("vec_id") =!= 0)
  }

  /** Batched residual IVF-PQ oracle (v25): the corpus split
    * (vec_id % 7 ≠ 4) builds the IVF ([[ivfCentroidSql]] with the
    * split predicate) and the residual PQ codebook ([[pqCodebookSql]]
    * over the residual `sub`); the batch split supplies per-query
    * LUTs (`lutB`), per-(query, cluster) integer offsets (`qoffB`),
    * and per-query probe sets (`bprobed`, the qsim argmax windows);
    * each probed (query, corpus-row) pair's adot = offset + LUT sum;
    * the cut and the exact rerank are v22's per-query ROW_NUMBER
    * windows — exactly [[graft.operators.SimilaritySearch
    * .pqTopKBatch]]'s decisions. MATERIALIZED hints pin
    * the IVF tail + residual-sub + penc nodes (the v23 lesson:
    * DuckDB inlines CTEs, and `sub` here re-evaluates the whole IVF
    * build at every consumer without them). */
  /** Everything through `adcB` for the BATCH residual oracles: the
    * corpus-split IVF build + residual codebook, the batch split's
    * per-query probes (`bprobed`), LUTs (`lutB`) and centroid offsets
    * (`qoffB`), and the probe-restricted composed integer ADC (`adcB`
    * = offset + LUT sum per (query, probed corpus row)). v25 tops this
    * with the per-query top-k windows; v26 with the margin admission +
    * status tail. MATERIALIZED hints applied here (the v23 lesson). */
  private def residualBatchAdcSql(
      k: Int, kIters: Int, nprobe: Int,
      m: Int, ksub: Int, pqIters: Int, dim: Int,
      rotated: Boolean = false,
      rqLit: Option[Array[Array[Long]]] = None): String = {
    require(!(rotated && rqLit.nonEmpty),
      "residualBatchAdcSql: HD and literal-R rotation are exclusive")
    val anyRot = rotated || rqLit.nonEmpty
    val dsub = dim / m
    val root = math.sqrt(dim.toDouble).toInt
    // `rotated` (v32): residuals pass through the HD rotation before
    // the subspace split (`res` → `rres`), the batch LUTs read rotated
    // per-query subvectors; probes, offsets, norms, rerank all stay
    // original-space — [[graft.operators.SimilaritySearch
    // .pqTopKBatch]]'s exact decomposition on a rotated residual index.
    // `rqLit` (v39/v40): the SAME chain with the TRAINED rotation via
    // the literal `rfp` CTE — the opqResidual batch/incremental oracle.
    val residualSub =
      if (!anyRot)
        s"""sub AS (SELECT v.vec_id, ss.s, ti.i, v.ve[ss.s * $dsub + ti.i] - cc.comp AS x
           |        FROM d v, generate_series(0, ${m - 1}) ss(s), generate_series(1, $dsub) ti(i),
           |          finalassign a, cents$kIters cc
           |        WHERE a.vec_id = v.vec_id AND cc.c = a.cluster
           |          AND cc.i = ss.s * $dsub + ti.i)""".stripMargin
      else
        s"""sub AS (SELECT vec_id, (j - 1) // $dsub AS s, (j - 1) % $dsub + 1 AS i, y AS x
           |        FROM rres)""".stripMargin
    val resCte =
      s"""res AS (SELECT v.vec_id, ti.i, v.ve[ti.i] - cc.comp AS x
         |        FROM d v, generate_series(1, $dim) ti(i), finalassign a, cents$kIters cc
         |        WHERE a.vec_id = v.vec_id AND cc.c = a.cluster AND cc.i = ti.i)""".stripMargin
    val rotHead =
      if (rqLit.nonEmpty)
        s"""${rfpLitCte(rqLit.get, dim)},
           |$resCte,
           |rres AS (SELECT r.vec_id, rm.j,
           |    CAST(SUM(rm.rv * CAST(FLOOR(r.x * 16777216.0 + 0.5) AS BIGINT)) AS DOUBLE)
           |      / 16777216.0 / 16777216.0 AS y
           |  FROM res r JOIN rfp rm ON rm.i = r.i
           |  GROUP BY r.vec_id, rm.j),
           |""".stripMargin
      else if (rotated)
        s"""${dsignSql(dim)},
           |$resCte,
           |rres AS (SELECT r.vec_id, tj.j,
           |    CAST(SUM(${hadSgnSql("r.i", "tj.j")}
           |      * ds.sgn * CAST(FLOOR(r.x * 16777216.0 + 0.5) AS BIGINT)) AS DOUBLE)
           |      / 16777216.0 / $root.0 AS y
           |  FROM res r, generate_series(1, $dim) tj(j), dsign ds
           |  WHERE ds.i = r.i
           |  GROUP BY r.vec_id, tj.j),
           |""".stripMargin
      else ""
    val qsubCtes =
      if (rqLit.nonEmpty) rotQueryBatchLitCtes(dsub)
      else if (rotated) rotQueryBatchCtes(dim, dsub, root)
      else
        s"""qsubB AS (SELECT q_id, s, i, ve[s * $dsub + i] AS x
           |          FROM qd, generate_series(0, ${m - 1}) ss(s), generate_series(1, $dsub) ti(i))""".stripMargin
    val composed =
      s"""${ivfCentroidSql(k, kIters, dim, " WHERE vec_id % 7 <> 4")},
         |$rotHead${pqCodebookSql(m, ksub, pqIters, dim, residualSub)},
         |qd AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS ve FROM embeddings
         |       WHERE vec_id % 7 = 4),
         |qnorm AS (SELECT q_id, SQRT(SUM(ve[i]*ve[i])) AS nrm
         |          FROM qd, generate_series(1, $dim) t(i) GROUP BY q_id),
         |bqsim AS (SELECT q.q_id, cc.c,
         |            SUM(q.ve[cc.i] * cc.comp) / (cn.nrm * qn.nrm) AS sim
         |          FROM qd q, cents$kIters cc, cnorm$kIters cn, qnorm qn
         |          WHERE cn.c = cc.c AND qn.q_id = q.q_id
         |          GROUP BY q.q_id, cc.c, cn.nrm, qn.nrm),
         |bprobed AS (SELECT q_id, c FROM (
         |    SELECT q_id, c, ROW_NUMBER() OVER (PARTITION BY q_id
         |      ORDER BY sim DESC, c) AS rn FROM bqsim) p
         |  WHERE rn <= $nprobe),
         |$qsubCtes,
         |lutB AS (SELECT q.q_id, cb.s, cb.c,
         |           SUM(CAST(FLOOR(q.x * cb.comp * 16777216.0 + 0.5) AS BIGINT)) AS l
         |         FROM cb$pqIters cb JOIN qsubB q ON q.s = cb.s AND q.i = cb.i
         |         GROUP BY q.q_id, cb.s, cb.c),
         |qoffB AS (SELECT q.q_id, cc.c,
         |            SUM(CAST(FLOOR(q.ve[cc.i] * cc.comp * 16777216.0 + 0.5) AS BIGINT)) AS off
         |          FROM qd q, cents$kIters cc GROUP BY q.q_id, cc.c),
         |radcB AS (SELECT l.q_id, fa.cluster, e.vec_id, SUM(l.l) AS rdot
         |          FROM penc e JOIN finalassign fa ON fa.vec_id = e.vec_id
         |            JOIN bprobed p ON p.c = fa.cluster
         |            JOIN lutB l ON l.q_id = p.q_id AND l.s = e.s AND l.c = e.code
         |          GROUP BY l.q_id, fa.cluster, e.vec_id),
         |adcB AS (SELECT r.q_id, r.vec_id, r.rdot + o.off AS adot
         |         FROM radcB r JOIN qoffB o ON o.q_id = r.q_id AND o.c = r.cluster)""".stripMargin
    materializeCtes(composed,
      Seq("finalassign", "sub", s"cents$kIters", "penc") ++
        (if (anyRot) Seq("res", "rres") else Nil))
  }

  private def residualPqBatchOracleSql(
      k: Int, kIters: Int, nprobe: Int,
      m: Int, ksub: Int, pqIters: Int,
      topK: Int, overFetch: Int, dim: Int,
      rotated: Boolean = false,
      rqLit: Option[Array[Array[Long]]] = None): String =
    s"""${residualBatchAdcSql(k, kIters, nprobe, m, ksub, pqIters, dim, rotated, rqLit)},
         |${pqBatchRankTailSql(topK, overFetch, dim)}""".stripMargin

  /** Residual-tier incremental dedup oracle (v26): the SAME
    * probe-restricted composed ADC prefix as v25
    * ([[residualBatchAdcSql]] — every (batch vector, corpus row) pair
    * whose row sits in the vector's nprobe probed clusters gets
    * adot = ⟨q, centroid⟩ offset + residual LUT sum), cut by the
    * shared margin admission and verified/statused by v24's exact
    * tail — exactly [[graft.operators.SimilaritySearch
    * .pqIncrementalNearDup]]'s decisions on a residual index. */
  private def residualPqIncrementalOracleSql(
      k: Int, kIters: Int, nprobe: Int,
      m: Int, ksub: Int, pqIters: Int,
      threshold: Double, margin: Double, dim: Int,
      rotated: Boolean = false,
      rqLit: Option[Array[Array[Long]]] = None): String =
    s"""${residualBatchAdcSql(k, kIters, nprobe, m, ksub, pqIters, dim, rotated, rqLit)},
       |${incrementalAdmissionSql(threshold - margin)},
       |${incrementalStatusTailSql(threshold, dim)}""".stripMargin

  /** Residual-PQ incremental dedup (v26) — the v14 analog at the
    * residual tier, the 100 TB ingest shape when the standing corpus
    * lives as residual codes: each ingest vector ADC-screens ONLY the
    * codes in its nprobe nearest clusters (~nprobe/k of one ~24 B/row
    * scan; partition pruning against a saved cluster layout), two
    * documented recall dials (probe + PQ margin), exact verify on
    * admitted pairs, v12's status contract. */
  val residualPqIncrementalDedup: Q = Q(
    "v26_residual_pq_incremental_dedup",
    residualPqIncrementalOracleSql(k = 16, kIters = 3, nprobe = 4,
      m = 8, ksub = 16, pqIters = 2,
      threshold = 0.45, margin = 0.2, dim = 64)) { (s, dir) =>
    val e = t(s, dir, "embeddings")
    val ivf = SimilaritySearch.ivfBuild(
      e.filter(col("vec_id") % 7 =!= 4), "vec_id", "embedding",
      k = 16, lloydIters = 3, portableSeeds = true)
    val rpq = SimilaritySearch.residualPqBuild(
      ivf, m = 8, ksub = 16, lloydIters = 2, portableSeeds = true)
    SimilaritySearch.pqIncrementalNearDup(
        rpq, e.filter(col("vec_id") % 7 === 4),
        threshold = 0.45, margin = 0.2, nprobe = 4)
      .orderBy("vec_id")
  }

  /** Batched residual IVF-PQ serving (v25) — the residual tier's
    * serving-matrix closer, as v22 was the raw tier's: the whole query
    * split answers in one distributed pass over the residual codes,
    * each query pruned to its own nprobe probe set by a broadcast
    * bitmask (no join), each probed row's integer adot = per-(query,
    * cluster) ⟨q, centroid⟩ offset + LUT sum. The oracle replays the
    * corpus-split IVF build, the residual codebook + encode, per-query
    * probes/LUTs/offsets, the composed ADC windows, and the exact
    * rerank verbatim ([[residualPqBatchOracleSql]]). */
  val residualPqBatchTopK: Q = Q(
    "v25_residual_pq_batch_topk",
    residualPqBatchOracleSql(k = 16, kIters = 3, nprobe = 4, m = 8, ksub = 16,
      pqIters = 2, topK = 3, overFetch = 4, dim = 64)) { (s, dir) =>
    val e = t(s, dir, "embeddings")
    val ivf = SimilaritySearch.ivfBuild(
      e.filter(col("vec_id") % 7 =!= 4), "vec_id", "embedding",
      k = 16, lloydIters = 3, portableSeeds = true)
    val rpq = SimilaritySearch.residualPqBuild(
      ivf, m = 8, ksub = 16, lloydIters = 2, portableSeeds = true)
    SimilaritySearch.pqTopKBatch(
        rpq,
        e.filter(col("vec_id") % 7 === 4)
          .select(col("vec_id").as("q_id"), col("embedding")),
        "q_id", "embedding", topK = 3, nprobe = 4, overFetch = 4)
      .orderBy("q_id", "rank")
  }

  /** The centroid-build prefix of [[ivfBuildSql]]: `d` (optionally
    * filtered — how v13 builds the index over the CORPUS split only),
    * seeding, `iters` unrolled fixed-point Lloyd rounds, ending in
    * `cents$iters`/`cnorm$iters` + `finalassign`. */
  private def ivfCentroidSql(
      k: Int, iters: Int, dim: Int, dWhere: String = ""): String = {
    // cosine argmax of every vector against centroid set `cents$idx`
    def assignCte(name: String, idx: Int): String =
      s"""$name AS (SELECT vec_id, c AS cluster FROM (
         |    SELECT s.vec_id, s.c,
         |      ROW_NUMBER() OVER (PARTITION BY s.vec_id ORDER BY s.sim DESC, s.c) AS rn
         |    FROM (SELECT v.vec_id, cc.c, SUM(v.ve[cc.i] * cc.comp) / (cn.nrm * vn.nrm) AS sim
         |          FROM d v, cents$idx cc, cnorm$idx cn, vnorm vn
         |          WHERE cn.c = cc.c AND vn.vec_id = v.vec_id
         |          GROUP BY v.vec_id, cc.c, cn.nrm, vn.nrm) s) r WHERE rn = 1)""".stripMargin
    def iterCtes(j: Int): String =
      s"""${assignCte(s"assign$j", j - 1)},
         |sums$j AS (SELECT a.cluster AS c, t.i,
         |    (CAST(SUM(CAST(FLOOR(v.ve[t.i] * 16777216.0 + 0.5) AS BIGINT)) AS DOUBLE)
         |      / 16777216.0) / CAST(COUNT(*) AS DOUBLE) AS m
         |  FROM assign$j a, d v, generate_series(1, $dim) t(i)
         |  WHERE v.vec_id = a.vec_id
         |  GROUP BY a.cluster, t.i),
         |cents$j AS (SELECT p.c, p.i, COALESCE(s.m, p.comp) AS comp
         |  FROM cents${j - 1} p LEFT JOIN sums$j s ON s.c = p.c AND s.i = p.i),
         |cnorm$j AS (SELECT c, SQRT(SUM(comp*comp)) AS nrm FROM cents$j GROUP BY c)""".stripMargin
    s"""WITH d AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve FROM embeddings$dWhere),
       |vnorm AS (SELECT vec_id, SQRT(SUM(ve[i]*ve[i])) AS nrm
       |          FROM d, generate_series(1, $dim) t(i) GROUP BY vec_id),
       |cnt AS (SELECT COUNT(*) AS n FROM d),
       |hashed AS (SELECT vec_id, ve,
       |    ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT AS h FROM d),
       |seeds AS (SELECT vec_id, ve, h FROM hashed, cnt
       |          WHERE h % GREATEST(1, cnt.n // ${2 * k}) = 0
       |          ORDER BY h, vec_id LIMIT $k),
       |cents0 AS (SELECT sc.c, t.i, sc.cv[t.i] AS comp FROM
       |    (SELECT ROW_NUMBER() OVER (ORDER BY h, vec_id) - 1 AS c, ve AS cv FROM seeds) sc,
       |    generate_series(1, $dim) t(i)),
       |cnorm0 AS (SELECT c, SQRT(SUM(comp*comp)) AS nrm FROM cents0 GROUP BY c),
       |${(1 to iters).map(iterCtes).mkString(",\n")},
       |${assignCte("finalassign", iters)}""".stripMargin
  }

  private def ivfBuildSql(
      k: Int, iters: Int, nprobe: Int, dim: Int): String =
    s"""${ivfCentroidSql(k, iters, dim)},
       |qsim AS (SELECT cc.c, SUM(q.ve[cc.i] * cc.comp) / (cn.nrm * qn.nrm) AS sim
       |         FROM d q, cents$iters cc, cnorm$iters cn, vnorm qn
       |         WHERE q.vec_id = 0 AND qn.vec_id = 0 AND cn.c = cc.c
       |         GROUP BY cc.c, cn.nrm, qn.nrm),
       |probed AS (SELECT c FROM (
       |    SELECT c, ROW_NUMBER() OVER (ORDER BY sim DESC, c) AS rn FROM qsim) p
       |  WHERE rn <= $nprobe),
       |cand AS (SELECT a.vec_id, a.cluster FROM finalassign a
       |         WHERE a.vec_id <> 0 AND a.cluster IN (SELECT c FROM probed))""".stripMargin

  /** ANN via IVF-flat: a coarse quantizer (k=16 centroids, Lloyd-refined)
    * maps every vector to its nearest-centroid cluster; a query probes
    * the 4 closest clusters and re-ranks exactly. The 100 TB shape:
    * seeding is a hash-strided distributed filter (~2k candidate rows,
    * never the corpus), each Lloyd iteration is one map + an order-free
    * fixed-point component sum (partial-aggregated, so no task ever
    * holds a whole cluster) with only the k centroid rows collected to
    * the driver (the standard k-means driver state), the inverted index
    * is just a cluster-keyed partitioning of the corpus, and the probe
    * touches nprobe/k of the data.
    *
    * The oracle replays the full build (portable md5 seeding + unrolled
    * fixed-point Lloyd rounds, [[ivfOracleSql]]) so v5 sits on the
    * hash-exact gate; PipelineSpec additionally checks score
    * consistency and recall against the exact baseline. */
  val annIvf: Q = Q(
    "v5_ann_ivf",
    ivfOracleSql(k = 16, iters = 3, nprobe = 4, topK = 10, dim = 64)) { (s, dir) =>
    val sp = s
    import sp.implicits._
    val e = t(s, dir, "embeddings")
    val idx = graft.operators.SimilaritySearch
      .ivfBuild(e, "vec_id", "embedding", k = 16, lloydIters = 3,
        portableSeeds = true)
    val qVec = e.filter(col("vec_id") === 0)
      .select(col("embedding")).as[Array[Float]].head()
    SimilaritySearch.ivfTopK(idx, qVec, topK = 10,
      nprobe = 4, filter = col("vec_id") =!= 0)
  }

  /** Int8 embedding quantization (the 4× storage/bandwidth cut an ANN
    * index wants at 100 TB): per-vector min/max affine scale to [0,255],
    * validated by two exact integer checksums (plain sum and
    * position-weighted sum of the quantized codes). Pure per-row HOF
    * pass — no shuffle, no UDF; the cast float→double and the affine
    * arithmetic are IEEE-identical in both engines so the BIGINT
    * checksums are bit-exact. Constant vectors (mx = mn) quantize to
    * all-zero codes by convention, guarded in both engines. */
  val quantize: Q = Q(
    "v6_embedding_quant",
    """WITH d AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |m AS (SELECT vec_id, v, list_min(v) AS mn, list_max(v) AS mx FROM d),
      |q AS (SELECT vec_id, mn, mx,
      |        CASE WHEN mx = mn THEN CAST(0 AS BIGINT)
      |             ELSE CAST(FLOOR((v[i] - mn) / ((mx - mn) / 255.0) + 0.5) AS BIGINT)
      |        END AS qi, i
      |      FROM m, generate_series(1, 64) t(i)),
      |agg AS (SELECT vec_id, mn, mx, CAST(SUM(qi) AS BIGINT) AS q_sum,
      |          CAST(SUM(qi * i) AS BIGINT) AS q_cksum
      |        FROM q GROUP BY 1, 2, 3)
      |SELECT vec_id, mn, mx, q_sum, q_cksum FROM agg ORDER BY vec_id""".stripMargin) { (s, dir) =>
    t(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("mn", array_min(col("v")))
      .withColumn("mx", array_max(col("v")))
      .withColumn("qarr", expr(
        """transform(v, x -> IF(mx = mn, CAST(0 AS BIGINT),
          |  CAST(floor((x - mn) / ((mx - mn) / 255.0) + 0.5) AS BIGINT)))""".stripMargin))
      .select(col("vec_id"), col("mn"), col("mx"),
        expr("aggregate(qarr, CAST(0 AS BIGINT), (a, x) -> a + x)").as("q_sum"),
        expr("""aggregate(transform(qarr, (x, i) -> x * CAST(i + 1 AS BIGINT)),
          |  CAST(0 AS BIGINT), (a, x) -> a + x)""".stripMargin).as("q_cksum"))
      .orderBy("vec_id")
  }

  /** Int8-quantized ANN with exact rerank — the memory-bandwidth scale
    * path: the pass that touches EVERY vector reads packed int8 (1
    * byte/component, 4× less than float32) and scores with pure
    * integer arithmetic (codegen'd `Int8Dot` — bit-exact across
    * engines and aggregation orders by construction, the determinism
    * FP dot products only approximate); only the 4k over-fetched
    * candidates are reranked on the original floats. Symmetric max-abs
    * quantization (`floor(x/max|x|·127 + 0.5)`): per-vector scales
    * cancel in cosine, so no scale column travels with the vector.
    * The oracle replays quantization, integer coarse scoring, top-40
    * candidate cut, and exact rerank verbatim. */
  val quantizedAnn: Q = Q(
    "v7_quantized_ann",
    s"""WITH d AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve FROM embeddings),
      |${int8QuantCtes(64)},
      |qq AS (SELECT i, q FROM qv WHERE vec_id = 0),
      |coarse AS (SELECT cq.vec_id, SUM(cq.q * qq.q) AS idot
      |           FROM qv cq JOIN qq USING (i) WHERE cq.vec_id <> 0
      |           GROUP BY cq.vec_id),
      |cand AS (SELECT c.vec_id,
      |           FLOOR(idot / (SQRT(sa.s) * SQRT(qs.s)) * 10000 + 0.5)/10000 AS approx_cos
      |         FROM coarse c JOIN sq sa ON sa.vec_id = c.vec_id,
      |           (SELECT s FROM sq WHERE vec_id = 0) qs
      |         ORDER BY approx_cos DESC, c.vec_id LIMIT 40),
      |rr AS (SELECT d.vec_id, SUM(d.ve[i] * q.ve[i]) AS dot,
      |         SUM(d.ve[i] * d.ve[i]) AS n1, SUM(q.ve[i] * q.ve[i]) AS n2
      |       FROM d JOIN cand USING (vec_id),
      |            (SELECT ve FROM d WHERE vec_id = 0) q,
      |            generate_series(1, 64) t(i)
      |       GROUP BY d.vec_id)
      |SELECT vec_id, FLOOR(dot / (SQRT(n1) * SQRT(n2)) * 10000 + 0.5)/10000 AS cos_sim
      |FROM rr ORDER BY cos_sim DESC, vec_id LIMIT 10""".stripMargin) { (s, dir) =>
    val e = t(s, dir, "embeddings")
    SimilaritySearch.quantizedTopK(
      e.filter(col("vec_id") =!= 0), "vec_id", "embedding",
      e.filter(col("vec_id") === 0), "embedding", k = 10, overFetch = 4)
  }

  /** Quantized-prefilter near-dup pairs — [[nearDup]]'s output through
    * the bandwidth-reduced pipeline: the quadratic stage scores packed
    * int8 vectors with integer arithmetic (1 byte/component, bit-exact
    * in any order) against `threshold − margin`, and only surviving
    * candidate pairs touch the floats for the exact-cosine verify at
    * `threshold`. The oracle replays quantization, integer coarse
    * scoring at 0.40, and exact verify at 0.45 verbatim; on this
    * corpus the margin (10× the measured quantization error) makes the
    * output identical to v4's — pinned by the ScalaTest, while the
    * hash gate pins the pipeline itself. */
  val quantizedNearDup: Q = Q(
    "v8_quantized_neardup",
    s"""WITH d AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve FROM embeddings),
      |${int8QuantCtes(64)},
      |ap AS (SELECT qa.vec_id AS a_id, qb.vec_id AS b_id, SUM(qa.q * qb.q) AS idot
      |       FROM qv qa JOIN qv qb ON qa.i = qb.i AND qa.vec_id < qb.vec_id
      |       GROUP BY qa.vec_id, qb.vec_id),
      |cand AS (SELECT a_id, b_id FROM ap
      |           JOIN sq sa ON sa.vec_id = a_id JOIN sq sb ON sb.vec_id = b_id
      |         WHERE FLOOR(idot / (SQRT(sa.s) * SQRT(sb.s)) * 10000 + 0.5)/10000
      |               >= CAST(0.40 AS DOUBLE)),
      |ex AS (SELECT c.a_id, c.b_id, SUM(da.ve[i] * db.ve[i]) AS dot,
      |         SUM(da.ve[i] * da.ve[i]) AS n1, SUM(db.ve[i] * db.ve[i]) AS n2
      |       FROM cand c JOIN d da ON da.vec_id = c.a_id
      |            JOIN d db ON db.vec_id = c.b_id, generate_series(1, 64) t(i)
      |       GROUP BY c.a_id, c.b_id),
      |sel AS (SELECT a_id, b_id,
      |          FLOOR(dot / (SQRT(n1) * SQRT(n2)) * 10000 + 0.5)/10000 AS cos_sim
      |        FROM ex)
      |SELECT a_id, b_id, cos_sim FROM sel WHERE cos_sim >= CAST(0.45 AS DOUBLE)
      |ORDER BY a_id, b_id""".stripMargin) { (s, dir) =>
    SimilaritySearch.quantizedNearDupPairs(
        t(s, dir, "embeddings"), "vec_id", "embedding",
        threshold = 0.45, margin = 0.05, numBlocks = 0)
      .select(col("idA").as("a_id"), col("idB").as("b_id"), col("cos_sim"))
      .orderBy("a_id", "b_id")
  }

  /** IVF-SQ8 ANN — both pruning levers composed, the 100 TB serving
    * shape: the IVF probe keeps ~nprobe/k of the corpus, the int8
    * coarse score ranks the probed rows with pure-integer arithmetic,
    * and only `topK × overFetch` survivors touch the floats for the
    * exact rerank (~1/256th of the brute-force float-scan bytes at
    * k=16 / nprobe=4 with a materialized quantized index). The oracle
    * replays the ENTIRE stack — portable md5 seeding, 3 fixed-point
    * Lloyd rounds, final assignment, driver-style probe selection,
    * int8 quantization, integer coarse cut at 40, exact rerank —
    * verbatim. */
  val annIvfQuantized: Q = Q(
    "v9_ivf_quantized_ann",
    ivfQuantizedOracleSql(k = 16, iters = 3, nprobe = 4, topK = 10,
      overFetch = 4, dim = 64)) { (s, dir) =>
    val sp = s
    import sp.implicits._
    val e = t(s, dir, "embeddings")
    val idx = graft.operators.SimilaritySearch
      .ivfBuild(e, "vec_id", "embedding", k = 16, lloydIters = 3,
        portableSeeds = true)
    val qVec = e.filter(col("vec_id") === 0)
      .select(col("embedding")).as[Array[Float]].head()
    SimilaritySearch.ivfQuantizedTopK(idx, qVec, topK = 10,
      nprobe = 4, overFetch = 4, filter = col("vec_id") =!= 0)
  }

  /** Cluster-balanced diversity sample — ≤20 rows per LEARNED IVF
    * cluster, chosen by ascending content hash (the embedding-space
    * counterpart of t15's given-strata sampling; balancing across
    * semantic clusters is the standard counter to majority-topic
    * domination when downsampling a corpus). Deterministic end to end:
    * the oracle replays the full IVF build (shared [[ivfBuildSql]]
    * CTEs) plus the md5-ordered per-cluster window. */
  val clusterSample: Q = Q(
    "v10_cluster_balanced_sample",
    s"""${ivfBuildSql(k = 16, iters = 3, nprobe = 4, dim = 64)},
      |samp AS (SELECT vec_id, cluster,
      |    ROW_NUMBER() OVER (PARTITION BY cluster
      |      ORDER BY ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT,
      |        vec_id) AS rn
      |  FROM finalassign)
      |SELECT vec_id, CAST(cluster AS BIGINT) AS cluster FROM samp
      |WHERE rn <= 20 ORDER BY cluster, vec_id""".stripMargin) { (s, dir) =>
    val idx = graft.operators.SimilaritySearch
      .ivfBuild(t(s, dir, "embeddings"), "vec_id", "embedding", k = 16,
        lloydIters = 3, portableSeeds = true)
    SimilaritySearch.clusterBalancedSample(idx, perCluster = 20)
  }

  /** Embedding-based corpus DEDUP, end to end — the semantic-dedup
    * pipeline a training-data curator actually runs: exact-threshold
    * near-dup pairs over the embedding column (via the int8-shuffled
    * certified kernel — the default [[graft.operators.SimilaritySearch
    * .cosineNearDupPairs]] path), transitive closure into duplicate
    * clusters (same min-label propagation as t19's shingle-LSH dedup),
    * lowest-id survivor per cluster marked canonical. The embedding-
    * space counterpart of t19: same output contract, different
    * candidate generator — a user picks lexical (shingle) or semantic
    * (embedding) dedup per corpus, or runs both.
    *
    * Scale posture: the pairwise stage is the certified int8 kernel
    * (blocked, ~76 B/row through the one replicated shuffle); the
    * closure is 1-job-per-round propagation over pair-touching nodes
    * only; singletons rejoin via the final left join without ever
    * entering the loop. The oracle replays the exact float pairwise
    * (the certified arm's output is bit-identical to it) and closes
    * components with a recursive CTE. */
  val embeddingDedup: Q = Q(
    "v11_embedding_dedup",
    """WITH RECURSIVE p AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id,
      |             CAST(a.embedding AS DOUBLE[]) AS va, CAST(b.embedding AS DOUBLE[]) AS vb
      |           FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id),
      |s AS (SELECT a_id, b_id, SUM(va[i] * vb[i]) AS dot,
      |        SUM(va[i] * va[i]) AS n1, SUM(vb[i] * vb[i]) AS n2
      |      FROM p, generate_series(1, 64) t(i) GROUP BY a_id, b_id),
      |pairs AS (SELECT a_id, b_id FROM s
      |          WHERE FLOOR(dot / (SQRT(n1) * SQRT(n2)) * 10000 + 0.5)/10000 >= 0.45),
      |eb AS (SELECT a_id AS es, b_id AS ed FROM pairs
      |       UNION ALL SELECT b_id, a_id FROM pairs),
      |r AS (
      |  SELECT vec_id, vec_id AS comp FROM embeddings
      |  UNION
      |  SELECT eb.ed AS vec_id, r.comp FROM r JOIN eb ON eb.es = r.vec_id
      |)
      |SELECT vec_id, MIN(comp) AS comp_id,
      |  CASE WHEN MIN(comp) = vec_id THEN 1 ELSE 0 END AS is_canonical
      |FROM r GROUP BY vec_id ORDER BY vec_id""".stripMargin) { (s, dir) =>
    val pairs = SimilaritySearch.cosineNearDupPairs(
        t(s, dir, "embeddings"), "vec_id", "embedding",
        threshold = 0.45, numBlocks = 0)
      .select(col("idA"), col("idB"))
    val comps = graft.operators.Graph.connectedComponents(pairs, "idA", "idB", maxIters = 20)
    t(s, dir, "embeddings").select(col("vec_id"))
      .join(comps.select(col("id").as("lid"), col("componentId").as("comp")),
        col("vec_id") === col("lid"), "left")
      .select(col("vec_id"),
        coalesce(col("comp"), col("vec_id")).as("comp_id"),
        when(coalesce(col("comp"), col("vec_id")) === col("vec_id"), 1)
          .otherwise(0).as("is_canonical"))
      .orderBy("vec_id")
  }

  /** Incremental (delta-vs-corpus) EMBEDDING dedup — the vector twin of
    * t26: newly-ingested vectors (batch = `vec_id % 7 = 4`) are statused
    * against the standing corpus (the rest) via the materialized int8
    * index: one 1-byte-per-component coarse scan against the broadcast
    * quantized batch (margin admission, v8's rule), exact float verify
    * on admitted pairs only. Output per batch vector: how many corpus
    * near-dups (rounded cosine ≥ 0.45), the best similarity, and the
    * keep/dup decision. Oracle replays quantization, coarse cut at
    * 0.40, and the exact verify over the cross split. Library surface:
    * [[graft.operators.SimilaritySearch.incrementalNearDup]]. */
  val incrementalEmbeddingDedup: Q = Q(
    "v12_incremental_embedding_dedup",
    s"""WITH d AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve FROM embeddings),
      |${int8QuantCtes(64)},
      |ap AS (SELECT qb.vec_id AS b_id, qc.vec_id AS c_id, SUM(qb.q * qc.q) AS idot
      |       FROM qv qb JOIN qv qc ON qb.i = qc.i
      |       WHERE qb.vec_id % 7 = 4 AND qc.vec_id % 7 <> 4
      |       GROUP BY qb.vec_id, qc.vec_id),
      |cand AS (SELECT a.b_id, a.c_id FROM ap a
      |           JOIN sq s1 ON s1.vec_id = a.b_id JOIN sq s2 ON s2.vec_id = a.c_id
      |         WHERE FLOOR(idot / (SQRT(s1.s) * SQRT(s2.s)) * 10000 + 0.5)/10000
      |               >= CAST(0.40 AS DOUBLE)),
      |ex AS (SELECT c.b_id, c.c_id, SUM(db.ve[i] * dc.ve[i]) AS dot,
      |         SUM(db.ve[i] * db.ve[i]) AS n1, SUM(dc.ve[i] * dc.ve[i]) AS n2
      |       FROM cand c JOIN d db ON db.vec_id = c.b_id
      |            JOIN d dc ON dc.vec_id = c.c_id, generate_series(1, 64) t(i)
      |       GROUP BY c.b_id, c.c_id),
      |sims AS (SELECT b_id,
      |           FLOOR(dot / (SQRT(n1) * SQRT(n2)) * 10000 + 0.5)/10000 AS sim
      |         FROM ex),
      |agg AS (SELECT b_id, CAST(COUNT(*) AS BIGINT) AS n_dups, MAX(sim) AS best_sim
      |        FROM sims WHERE sim >= CAST(0.45 AS DOUBLE) GROUP BY b_id)
      |SELECT e.vec_id, CAST(COALESCE(a.n_dups, 0) AS BIGINT) AS n_dups,
      |  CAST(COALESCE(a.best_sim, -1.0) AS DOUBLE) AS best_sim,
      |  CASE WHEN a.b_id IS NOT NULL THEN 'dup' ELSE 'keep' END AS status
      |FROM embeddings e LEFT JOIN agg a ON a.b_id = e.vec_id
      |WHERE e.vec_id % 7 = 4 ORDER BY e.vec_id""".stripMargin) { (s, dir) =>
    val e = t(s, dir, "embeddings")
    SimilaritySearch.incrementalNearDup(
        e.filter(col("vec_id") % 7 =!= 4),
        e.filter(col("vec_id") % 7 === 4),
        "vec_id", "embedding", threshold = 0.45, margin = 0.05)
      .orderBy("vec_id")
  }

  /** Incremental IVF index maintenance — the third leg of the
    * incremental trilogy (t26 text, v12 embedding dedup, v13 index):
    * newly-ingested vectors (vec_id % 7 = 4) are assigned to the
    * centroids of an index built over the CORPUS split only — the
    * between-rebuilds path every production IVF deployment runs (one
    * broadcast of k centroid rows, one map over the batch; the corpus
    * is never touched, re-training is [[ivfBuild]]'s periodic job).
    * Output per batch vector: assigned cluster + rounded cosine to its
    * centroid. Oracle replays the corpus-only build (portable md5
    * seeding, 3 fixed-point Lloyd rounds) and the batch assignment
    * argmax verbatim. Library surface:
    * [[graft.operators.SimilaritySearch.ivfAssign]] /
    * [[graft.operators.SimilaritySearch.ivfAppend]]. */
  val incrementalIvfAssign: Q = Q(
    "v13_incremental_ivf_assign",
    s"""${ivfCentroidSql(16, 3, 64, " WHERE vec_id % 7 <> 4")},
      |db AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve
      |       FROM embeddings WHERE vec_id % 7 = 4),
      |bnorm AS (SELECT vec_id, SQRT(SUM(ve[i]*ve[i])) AS nrm
      |          FROM db, generate_series(1, 64) t(i) GROUP BY vec_id),
      |bsim AS (SELECT b.vec_id, cc.c, SUM(b.ve[cc.i] * cc.comp) / (cn.nrm * bn.nrm) AS sim
      |         FROM db b, cents3 cc, cnorm3 cn, bnorm bn
      |         WHERE cn.c = cc.c AND bn.vec_id = b.vec_id
      |         GROUP BY b.vec_id, cc.c, cn.nrm, bn.nrm),
      |ba AS (SELECT vec_id, c AS cluster, sim FROM (
      |    SELECT vec_id, c, sim,
      |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sim DESC, c) AS rn
      |    FROM bsim) r WHERE rn = 1)
      |SELECT vec_id, CAST(cluster AS BIGINT) AS cluster,
      |  FLOOR(sim * 10000 + 0.5) / 10000 AS cos_sim
      |FROM ba ORDER BY vec_id""".stripMargin) { (s, dir) =>
    val e = t(s, dir, "embeddings")
    val idx = SimilaritySearch.ivfBuild(
      e.filter(col("vec_id") % 7 =!= 4), "vec_id", "embedding",
      k = 16, lloydIters = 3, portableSeeds = true)
    graft.operators.SimilaritySearch
      .ivfAssign(idx, e.filter(col("vec_id") % 7 === 4))
      .orderBy("vec_id")
  }

  /** IVF×incremental composition, end to end — the 100 TB shape
    * [[graft.operators.SimilaritySearch.incrementalNearDup]]'s scaladoc
    * promises (round-13 verdict #3): the standing corpus lives as an
    * IVF index (built over the corpus split only, like v13) and each
    * newly-ingested vector (vec_id % 7 = 4) is statused against ONLY
    * the corpus rows assigned to its nprobe=6 nearest clusters — the
    * coarse int8 scan touches ~nprobe/k of the index instead of all of
    * it, the same pruning ratio the serving path (v5/v9) rides.
    * nprobe=6 (not the serving path's 4) because the 0.45 dedup
    * threshold admits WEAKLY similar pairs, which live farther out in
    * cluster space than a top-k query's neighbors: the fixture's one
    * planted cross-split pair scores 0.4532 and its corpus side sits in
    * the batch vector's 6th-nearest cluster — nprobe is the recall dial
    * and a dedup deployment buys more probes the lower its threshold.
    * Margin admission at 0.40, exact float verify at 0.45, v12's output
    * contract. The oracle replays the corpus-only build (portable md5
    * seeding, 3 fixed-point Lloyd rounds), each batch vector's
    * top-nprobe probe set (float-cosine argmax, ties to the lower
    * cluster), the probe-pruned quantized coarse cut, and the exact
    * verify verbatim. Recall vs the full-scan v12 on planted dups is
    * measured in PipelineSpec — pruning is the one semantic delta.
    * Library surface:
    * [[graft.operators.SimilaritySearch.ivfIncrementalNearDup]]. */
  val ivfIncrementalDedup: Q = Q(
    "v14_ivf_incremental_dedup",
    s"""${ivfCentroidSql(16, 3, 64, " WHERE vec_id % 7 <> 4")},
      |dall AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve FROM embeddings),
      |${int8QuantCtes(64, "dall")},
      |db AS (SELECT vec_id, ve FROM dall WHERE vec_id % 7 = 4),
      |bnorm AS (SELECT vec_id, SQRT(SUM(ve[i]*ve[i])) AS nrm
      |          FROM db, generate_series(1, 64) t(i) GROUP BY vec_id),
      |bsim AS (SELECT b.vec_id, cc.c, SUM(b.ve[cc.i] * cc.comp) / (cn.nrm * bn.nrm) AS sim
      |         FROM db b, cents3 cc, cnorm3 cn, bnorm bn
      |         WHERE cn.c = cc.c AND bn.vec_id = b.vec_id
      |         GROUP BY b.vec_id, cc.c, cn.nrm, bn.nrm),
      |probe AS (SELECT vec_id, c FROM (
      |    SELECT vec_id, c, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sim DESC, c) AS rn
      |    FROM bsim) r WHERE rn <= 6),
      |ap AS (SELECT qb.vec_id AS b_id, qc.vec_id AS c_id, SUM(qb.q * qc.q) AS idot
      |       FROM qv qb JOIN qv qc ON qb.i = qc.i
      |            JOIN finalassign fa ON fa.vec_id = qc.vec_id
      |            JOIN probe pr ON pr.vec_id = qb.vec_id AND pr.c = fa.cluster
      |       WHERE qb.vec_id % 7 = 4 AND qc.vec_id % 7 <> 4
      |       GROUP BY qb.vec_id, qc.vec_id),
      |cand AS (SELECT a.b_id, a.c_id FROM ap a
      |           JOIN sq s1 ON s1.vec_id = a.b_id JOIN sq s2 ON s2.vec_id = a.c_id
      |         WHERE FLOOR(idot / (SQRT(s1.s) * SQRT(s2.s)) * 10000 + 0.5)/10000
      |               >= CAST(0.40 AS DOUBLE)),
      |ex AS (SELECT c.b_id, c.c_id, SUM(dbv.ve[i] * dcv.ve[i]) AS dot,
      |         SUM(dbv.ve[i] * dbv.ve[i]) AS n1, SUM(dcv.ve[i] * dcv.ve[i]) AS n2
      |       FROM cand c JOIN dall dbv ON dbv.vec_id = c.b_id
      |            JOIN dall dcv ON dcv.vec_id = c.c_id, generate_series(1, 64) t(i)
      |       GROUP BY c.b_id, c.c_id),
      |sims AS (SELECT b_id,
      |           FLOOR(dot / (SQRT(n1) * SQRT(n2)) * 10000 + 0.5)/10000 AS sim
      |         FROM ex),
      |agg AS (SELECT b_id, CAST(COUNT(*) AS BIGINT) AS n_dups, MAX(sim) AS best_sim
      |        FROM sims WHERE sim >= CAST(0.45 AS DOUBLE) GROUP BY b_id)
      |SELECT e.vec_id, CAST(COALESCE(a.n_dups, 0) AS BIGINT) AS n_dups,
      |  CAST(COALESCE(a.best_sim, -1.0) AS DOUBLE) AS best_sim,
      |  CASE WHEN a.b_id IS NOT NULL THEN 'dup' ELSE 'keep' END AS status
      |FROM embeddings e LEFT JOIN agg a ON a.b_id = e.vec_id
      |WHERE e.vec_id % 7 = 4 ORDER BY e.vec_id""".stripMargin) { (s, dir) =>
    val e = t(s, dir, "embeddings")
    val idx = SimilaritySearch.ivfBuild(
      e.filter(col("vec_id") % 7 =!= 4), "vec_id", "embedding",
      k = 16, lloydIters = 3, portableSeeds = true)
    SimilaritySearch.ivfIncrementalNearDup(
        idx, e.filter(col("vec_id") % 7 === 4), nprobe = 6,
        threshold = 0.45, margin = 0.05)
      .orderBy("vec_id")
  }

  /** BATCHED ANN serving through the IVF index — every ingested vector
    * (vec_id % 7 = 4) resolves its top-3 corpus neighbors in ONE
    * distributed pass: per-query probe sets (top-4 clusters by float
    * cosine, ties to the lower index), exploded (query, cluster) rows
    * broadcast-joined to the cluster-keyed corpus, exact-cosine window
    * rank per query. The throughput form of v5's one-vector probe —
    * a retrieval/dedup pipeline looks up millions of vectors per job,
    * not one per driver round-trip. The oracle replays the corpus-only
    * build, each query's probe set, and the per-query rank verbatim.
    * Library surface: [[graft.operators.SimilaritySearch.ivfTopKBatch]]. */
  val ivfBatchTopK: Q = Q(
    "v15_ivf_batch_topk",
    s"""${ivfCentroidSql(16, 3, 64, " WHERE vec_id % 7 <> 4")},
      |db AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve
      |       FROM embeddings WHERE vec_id % 7 = 4),
      |bnorm AS (SELECT vec_id, SQRT(SUM(ve[i]*ve[i])) AS nrm
      |          FROM db, generate_series(1, 64) t(i) GROUP BY vec_id),
      |bsim AS (SELECT b.vec_id, cc.c, SUM(b.ve[cc.i] * cc.comp) / (cn.nrm * bn.nrm) AS sim
      |         FROM db b, cents3 cc, cnorm3 cn, bnorm bn
      |         WHERE cn.c = cc.c AND bn.vec_id = b.vec_id AND bn.nrm > 0
      |         GROUP BY b.vec_id, cc.c, cn.nrm, bn.nrm),
      |probe AS (SELECT vec_id, c FROM (
      |    SELECT vec_id, c, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sim DESC, c) AS rn
      |    FROM bsim) r WHERE rn <= 4),
      |score AS (SELECT q.vec_id AS q_id, v.vec_id AS n_id,
      |            SUM(v.ve[t.i] * q.ve[t.i]) AS dot, vn.nrm AS n1, qn.nrm AS n2
      |          FROM db q
      |            JOIN probe pr ON pr.vec_id = q.vec_id
      |            JOIN finalassign fa ON fa.cluster = pr.c
      |            JOIN d v ON v.vec_id = fa.vec_id
      |            JOIN vnorm vn ON vn.vec_id = v.vec_id
      |            JOIN bnorm qn ON qn.vec_id = q.vec_id,
      |            generate_series(1, 64) t(i)
      |          GROUP BY q.vec_id, v.vec_id, vn.nrm, qn.nrm),
      |ranked AS (SELECT q_id, n_id,
      |             FLOOR(dot / (n1 * n2) * 10000 + 0.5) / 10000 AS cos_sim
      |           FROM score),
      |topk AS (SELECT q_id, n_id, cos_sim,
      |           CAST(ROW_NUMBER() OVER (PARTITION BY q_id
      |             ORDER BY cos_sim DESC, n_id) AS BIGINT) AS rank
      |         FROM ranked)
      |SELECT q_id, n_id AS vec_id, cos_sim, rank FROM topk
      |WHERE rank <= 3 ORDER BY q_id, rank""".stripMargin) { (s, dir) =>
    val e = t(s, dir, "embeddings")
    val idx = SimilaritySearch.ivfBuild(
      e.filter(col("vec_id") % 7 =!= 4), "vec_id", "embedding",
      k = 16, lloydIters = 3, portableSeeds = true)
    SimilaritySearch.ivfTopKBatch(
        idx,
        e.filter(col("vec_id") % 7 === 4)
          .select(col("vec_id").as("q_id"), col("embedding")),
        "q_id", "embedding", topK = 3, nprobe = 4)
      .orderBy("q_id", "rank")
  }

  /** v15's IVF-SQ8 form — the batched serving path at scale: probed
    * pairs coarse-score on the int8 projection through the FLAT kernel
    * scan (per-query bounded heaps keep topK×overFetch=12 coarse
    * survivors), only survivors touch floats for the exact rerank.
    * Measured at sf10's 1.2B probed pairs: ~12.6 s vs v15's ~61 s —
    * the per-pair cost is join-row overhead, not arithmetic, and the
    * flat direct-call scan deletes it (the KernelShapeBench lesson at
    * serving). The oracle replays the corpus-only build, probe sets,
    * the int8 coarse cut (integer dots — bit-exact in any order — with
    * v7/v9's shared quantization CTEs) and the exact rerank verbatim.
    * Library surface:
    * [[graft.operators.SimilaritySearch.ivfTopKBatchQuantized]]. */
  /** ONE oracle for the batch IVF-SQ8 serving ops — v16 and its
    * persisted-index twin v17: the [[graft.operators.SimilaritySearch
    * .ivfSave]]/[[graft.operators.SimilaritySearch.ivfLoad]] round-trip
    * is bit-exact (centroids as doubles through parquet, the corpus
    * re-read from the cluster-partitioned tree), so the same SQL gates
    * both and any divergence indicts the persistence layer itself. */
  private val batchSq8Sql: String =
    s"""${ivfCentroidSql(16, 3, 64, " WHERE vec_id % 7 <> 4")},
      |dall AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve FROM embeddings),
      |${int8QuantCtes(64, "dall")},
      |db AS (SELECT vec_id, ve FROM dall WHERE vec_id % 7 = 4),
      |bnorm AS (SELECT vec_id, SQRT(SUM(ve[i]*ve[i])) AS nrm
      |          FROM db, generate_series(1, 64) t(i) GROUP BY vec_id),
      |bsim AS (SELECT b.vec_id, cc.c, SUM(b.ve[cc.i] * cc.comp) / (cn.nrm * bn.nrm) AS sim
      |         FROM db b, cents3 cc, cnorm3 cn, bnorm bn
      |         WHERE cn.c = cc.c AND bn.vec_id = b.vec_id AND bn.nrm > 0
      |         GROUP BY b.vec_id, cc.c, cn.nrm, bn.nrm),
      |probe AS (SELECT vec_id, c FROM (
      |    SELECT vec_id, c, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sim DESC, c) AS rn
      |    FROM bsim) r WHERE rn <= 4),
      |coarse AS (SELECT qb.vec_id AS q_id, qc.vec_id AS n_id, SUM(qb.q * qc.q) AS idot
      |           FROM qv qb JOIN qv qc ON qb.i = qc.i
      |                JOIN finalassign fa ON fa.vec_id = qc.vec_id
      |                JOIN probe pr ON pr.vec_id = qb.vec_id AND pr.c = fa.cluster
      |           WHERE qb.vec_id % 7 = 4 AND qc.vec_id % 7 <> 4
      |           GROUP BY qb.vec_id, qc.vec_id),
      |ctop AS (SELECT q_id, n_id FROM (
      |    SELECT c.q_id, c.n_id,
      |      ROW_NUMBER() OVER (PARTITION BY c.q_id
      |        ORDER BY FLOOR(idot / (SQRT(s1.s) * SQRT(s2.s)) * 10000 + 0.5)/10000 DESC,
      |          c.n_id) AS crn
      |    FROM coarse c JOIN sq s1 ON s1.vec_id = c.q_id
      |         JOIN sq s2 ON s2.vec_id = c.n_id) r
      |  WHERE crn <= 12),
      |rr AS (SELECT ct.q_id, ct.n_id,
      |         SUM(v.ve[t.i] * q.ve[t.i]) AS dot, vn.nrm AS n1, qn.nrm AS n2
      |       FROM ctop ct
      |         JOIN d v ON v.vec_id = ct.n_id
      |         JOIN db q ON q.vec_id = ct.q_id
      |         JOIN vnorm vn ON vn.vec_id = ct.n_id
      |         JOIN bnorm qn ON qn.vec_id = ct.q_id,
      |         generate_series(1, 64) t(i)
      |       GROUP BY ct.q_id, ct.n_id, vn.nrm, qn.nrm),
      |ranked AS (SELECT q_id, n_id,
      |             FLOOR(dot / (n1 * n2) * 10000 + 0.5) / 10000 AS cos_sim
      |           FROM rr),
      |topk AS (SELECT q_id, n_id, cos_sim,
      |           CAST(ROW_NUMBER() OVER (PARTITION BY q_id
      |             ORDER BY cos_sim DESC, n_id) AS BIGINT) AS rank
      |         FROM ranked)
      |SELECT q_id, n_id AS vec_id, cos_sim, rank FROM topk
      |WHERE rank <= 3 ORDER BY q_id, rank""".stripMargin

  val ivfBatchTopKQuantized: Q = Q(
    "v16_ivf_batch_topk_sq8", batchSq8Sql) { (s, dir) =>
    val e = t(s, dir, "embeddings")
    val idx = SimilaritySearch.ivfBuild(
      e.filter(col("vec_id") % 7 =!= 4), "vec_id", "embedding",
      k = 16, lloydIters = 3, portableSeeds = true)
    SimilaritySearch.ivfTopKBatchQuantized(
        idx,
        e.filter(col("vec_id") % 7 === 4)
          .select(col("vec_id").as("q_id"), col("embedding")),
        "q_id", "embedding", topK = 3, nprobe = 4, overFetch = 4)
      .orderBy("q_id", "rank")
  }

  /** v16 served from a PERSISTED index — the last unproven link of the
    * 100 TB serving story (round-14 verdict #5): build once,
    * [[graft.operators.SimilaritySearch.ivfSave]] the
    * cluster-partitioned layout, [[graft.operators.SimilaritySearch
    * .ivfLoad]] in the serving job, answer the same batch through the
    * LOADED index. The oracle is v16's verbatim ([[batchSq8Sql]]) —
    * a hash mismatch here indicts persistence, nothing else. Since
    * round 16 the saved layout also materializes the corpus's int8
    * projection (`quantized/` next to `assigned/`), so this query's
    * coarse pass reads PERSISTED BYTES — 1 byte/component off disk, no
    * quantize expression — while v16 gates the inline-quantization arm
    * on the same oracle; between them both serving data paths are
    * hash-gated. The load-side partition pruning (the probe-union
    * `cluster IN` filter becoming file-listing pruning on the hive
    * tree) is asserted on the physical plan in PlanQualitySpec. The index round-trips via
    * /tmp, keyed by the data dir so sf0.01/sf0.1 runs never collide;
    * each invocation re-saves (overwrite-safe via the staged swap), and
    * the dir is reaped at JVM exit (round-15 advice: the pid suffix
    * made every process leak its own tree; within one process the
    * deterministic path + versioned GC already bound the churn). */
  val ivfServePersisted: Q = Q(
    "v17_ivf_persisted_serving", batchSq8Sql) { (s, dir) =>
    val e = t(s, dir, "embeddings")
    val idx = SimilaritySearch.ivfBuild(
      e.filter(col("vec_id") % 7 =!= 4), "vec_id", "embedding",
      k = 16, lloydIters = 3, portableSeeds = true)
    // per-process path: a Bench and a Verify running concurrently on
    // the same sfDir must not swap each other's live index mid-read
    // (self-review); deterministic WITHIN a process, disjoint across
    val path = s"/tmp/graft_v17_index_${Integer.toHexString(dir.hashCode)}" +
      s"_p${ProcessHandle.current().pid()}"
    reapAtExit(path)
    SimilaritySearch.ivfSave(idx, path)
    val loaded = SimilaritySearch.ivfLoad(s, path)
    SimilaritySearch.ivfTopKBatchQuantized(
        loaded,
        e.filter(col("vec_id") % 7 === 4)
          .select(col("vec_id").as("q_id"), col("embedding")),
        "q_id", "embedding", topK = 3, nprobe = 4, overFetch = 4)
      .orderBy("q_id", "rank")
  }

  /** Recursive-delete shutdown hook, ONE per distinct path (the query
    * runs warm + 5 bench samples per process against the same
    * deterministic dir): queries are evaluated lazily, so deletion
    * cannot happen inline after the answer — the returned frame still
    * reads the tree — and File.deleteOnExit cannot remove non-empty
    * directories. Local-filesystem only, like the /tmp path it reaps. */
  private val reapRegistered =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private def reapAtExit(path: String): Unit =
    if (reapRegistered.add(path))
      Runtime.getRuntime.addShutdownHook(new Thread(() => {
        def rm(f: java.io.File): Unit = {
          if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
          f.delete(): Unit
        }
        rm(new java.io.File(path))
      }))

  // a def, not a val: the trained-OPQ entries re-register at each
  // access so the oracle dump (which runs AFTER the queries in Verify)
  // can inline the rotation their builds just trained
  def all: Seq[Q] = Seq(cosineTopK, annLsh, stats, nearDup, annIvf, quantize,
    quantizedAnn, quantizedNearDup, annIvfQuantized, clusterSample,
    embeddingDedup, incrementalEmbeddingDedup, incrementalIvfAssign,
    ivfIncrementalDedup, ivfBatchTopK, ivfBatchTopKQuantized,
    ivfServePersisted, embeddingComponents, bandedComponents, pqAdcTopK,
    ivfPqAdcTopK, pqBatchTopK, ivfResidualPqAdcTopK, pqIncrementalDedup,
    residualPqBatchTopK, residualPqIncrementalDedup, pqWideAdcTopK,
    residualPqWideTopK, pqWide3AdcTopK, rotPqTopK, rotResidualPqTopK, rotPqBatchTopK,
    rotResidualPqBatchTopK, rotPqIncrementalDedup, rotResidualPqIncrementalDedup,
    opqTopKEntry, opqResidualTopKEntry, opqBatchTopKEntry,
    opqIncrementalDedupEntry, opqResidualBatchTopKEntry,
    opqResidualIncrementalDedupEntry, opqPersistedServingEntry,
    opqResidualPersistedServingEntry)
}
