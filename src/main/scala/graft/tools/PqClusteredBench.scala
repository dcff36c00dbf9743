package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.operators.SimilaritySearch

/** Dev tool: the CLUSTERED-corpus recall fixture (r17 verdict #2).
  *
  * Every PQ recall number through r17 was measured on the synthetic
  * testdata corpus, which is near-isotropic — top-10 neighbors sit in
  * a ~0.04-cosine sliver, the adversarial case for sub-byte codes —
  * and the defense "production embedding corpora are clustered, which
  * is what makes IVF-PQ the billion-vector default" was stated, not
  * measured. This fixture either substantiates or falsifies it: a
  * planted-cluster corpus (64 anchors, members = anchor + Gaussian
  * noise at production-like separation — mean cosine to the anchor
  * ≈ 1/√(1+σ²) ≈ 0.89 at the σ = 0.5 default, the regime of real
  * embedding neighborhoods) at the pq_sf1 fixture's scale (17k corpus,
  * 30 held-out queries), with recall curves for every compression
  * tier at the v20-matched dials:
  *   - sq8:    the int8 projection scan (v16's representation)
  *   - pq:     raw-vector PQ ADC (v20), m=8, ksub ∈ {16, 64}
  *   - ivfpq:  the v21 composition (raw PQ + IVF probe, nprobe 8/64)
  *   - resid:  residual-encoded IVF-PQ (v23), same dials, nprobe = k
  *             (encoding-only comparison) and nprobe = 8 (the serving
  *             shape with 8/64 row pruning)
  * Ground truth is the exact float scan. Queries are FRESH members of
  * planted clusters (not corpus rows), the production serve shape.
  *
  *   runMain graft.tools.PqClusteredBench [outPath] [nCorpus] [nQueries] [sigma] [aniso] [m]
  *
  * `aniso` (r19): per-dimension scale ramp from 1/aniso to aniso
  * (componentwise, corpus AND queries — a model property). Any value
  * ≤ 1 is the identity ramp, i.e. off (the isotropic fixture); the
  * ramp only stretches, never shrinks, so pass aniso > 1 to turn it
  * on. `m` (r19): the subspace-count dial — m=16 at ksub=256 is a
  * 128-bit / 3-word code, reachable only since the wide packing.
  * The planted clusters' residuals are i.i.d.
  * isotropic by construction — the case where a rotation has NOTHING
  * to decorrelate (measured: rot_residual ≈ residual there); the
  * anisotropic variant is the regime the OPQ literature's rotation
  * gains live in, so the v29/v30 tiers' value claim is measured on it
  * rather than cited.
  */
object PqClusteredBench {
  def main(args: Array[String]): Unit = {
    val outPath = args.headOption.getOrElse("pq_clustered.json")
    val nCorpus = if (args.length > 1) args(1).toInt else 17000
    val nQueries = if (args.length > 2) args(2).toInt else 30
    val sigma = if (args.length > 3) args(3).toDouble else 0.5
    val aniso = if (args.length > 4) args(4).toDouble else 0.0
    // r19: the m dial — 16 subspaces at ksub=256 is a 128-bit code
    // (3 non-spanning words), reachable only since the wide packing
    val mDial = if (args.length > 5) args(5).toInt else 8
    val dim = 64
    val kClusters = 64
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    // deterministic planted-cluster generator: unit-norm anchors, each
    // member anchor + N(0, sigma²/dim) per component → E[cos(member,
    // anchor)] ≈ 1/sqrt(1+sigma²)
    def unit(v: Array[Double]): Array[Double] = {
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / n)
    }
    val anchors: Array[Array[Double]] = Array.tabulate(kClusters) { a =>
      val r = new scala.util.Random(7700 + a)
      unit(Array.fill(dim)(r.nextGaussian()))
    }
    // per-dim scale ramp 1/aniso → aniso (identity when aniso ≤ 1)
    val dimScale: Array[Double] =
      if (aniso <= 1.0) Array.fill(dim)(1.0)
      else Array.tabulate(dim) { i =>
        val lo = 1.0 / aniso
        lo + (aniso - lo) * i / (dim - 1).toDouble
      }
    def member(cluster: Int, seed: Long): Array[Float] = {
      val r = new scala.util.Random(seed * 2654435761L + 17)
      val a = anchors(cluster)
      Array.tabulate(dim)(i =>
        ((a(i) + r.nextGaussian() * sigma / math.sqrt(dim.toDouble)) *
          dimScale(i)).toFloat)
    }
    val corpusRows = (0 until nCorpus).map { i =>
      (i.toLong + 1, member(i % kClusters, i.toLong))
    }
    val corpus = corpusRows.toDF("vec_id", "embedding").repartition(32).cache()
    corpus.count()
    // held-out queries: fresh members of clusters 0..nQueries-1
    val queryRows = (0 until nQueries).map { q =>
      (1000000L + q, member(q % kClusters, 900000L + q))
    }

    // measured geometry: how clustered is this corpus, on the record
    val exactAll = queryRows.map { case (qid, qv) =>
      val rows = SimilaritySearch.cosineTopK(corpus, "vec_id", "embedding",
          Seq(Tuple1(qv)).toDF("qv"), "qv", k = 10)
        .collect().map(r => (r.getLong(0), r.getDouble(1)))
      qid -> rows
    }.toMap
    val meanTop1 = exactAll.values.map(_.head._2).sum / nQueries
    val meanTop10 = exactAll.values.map(_.last._2).sum / nQueries
    System.err.println(
      f"[pqc] corpus=$nCorpus clusters=$kClusters sigma=$sigma: " +
        f"mean top-1 cos $meanTop1%.3f, mean top-10 cos $meanTop10%.3f")
    val truth: Map[Long, Set[Long]] = exactAll.map { case (q, rows) =>
      q -> rows.map(_._1).toSet
    }

    def recall(serve: Array[Float] => org.apache.spark.sql.DataFrame): Double = {
      serve(queryRows.head._2).collect() // warm
      val per = queryRows.map { case (qid, qv) =>
        val got = serve(qv).collect().map(_.getLong(0)).toSet
        got.intersect(truth(qid)).size.toDouble / truth(qid).size
      }
      per.sum / per.size
    }

    val sq8 = SimilaritySearch.quantizeCorpus(corpus, "vec_id", "embedding")
    sq8.cache().count()
    val sq8Recall = recall(qv =>
      SimilaritySearch.quantizedTopKIndexed(sq8, corpus, "vec_id", "embedding",
        Seq(Tuple1(qv)).toDF("qv"), "qv", k = 10, overFetch = 4))
    System.err.println(f"[pqc] sq8 oF=4: recall $sq8Recall%.4f")

    val ivf = SimilaritySearch.ivfBuild(corpus, "vec_id", "embedding",
      k = kClusters, lloydIters = 3)

    val arms = scala.collection.mutable.ArrayBuffer.empty[String]
    // 16..128 = the isotropic artifact's historical dial; 256 = the
    // FAISS-default 8-bit point the wide (two-word) packing unlocked
    // (r18 verdict #1) — the dial the r18 fixture showed still climbing
    for (ksub <- Seq(16, 64, 128, 256)) {
      val raw = SimilaritySearch.pqBuild(corpus, "vec_id", "embedding",
        m = mDial, ksub = ksub, lloydIters = 2)
      raw.encoded.cache().count()
      val rawR = recall(qv =>
        SimilaritySearch.pqTopK(raw, qv, topK = 10, overFetch = 4))
      val ivfpqR = recall(qv =>
        SimilaritySearch.ivfPqTopK(ivf, raw, qv, topK = 10, nprobe = 8,
          overFetch = 4))
      raw.encoded.unpersist(blocking = false)
      // v29: the HD-rotated form — the OPQ family's decorrelation step
      val rot = SimilaritySearch.pqBuild(corpus, "vec_id", "embedding",
        m = mDial, ksub = ksub, lloydIters = 2, rotation = "hadamard")
      rot.encoded.cache().count()
      val rotR = recall(qv =>
        SimilaritySearch.pqTopK(rot, qv, topK = 10, overFetch = 4))
      rot.encoded.unpersist(blocking = false)
      // v35: the TRAINED rotation (OPQ-NP) — the rung above HD
      val opq = SimilaritySearch.pqBuild(corpus, "vec_id", "embedding",
        m = mDial, ksub = ksub, lloydIters = 2, rotation = "opq", opqIters = 3)
      opq.encoded.cache().count()
      val opqR = recall(qv =>
        SimilaritySearch.pqTopK(opq, qv, topK = 10, overFetch = 4))
      opq.encoded.unpersist(blocking = false)
      val resid = SimilaritySearch.residualPqBuild(ivf, m = mDial,
        ksub = ksub, lloydIters = 2)
      resid.encoded.cache().count()
      val residFullR = recall(qv =>
        SimilaritySearch.pqTopK(resid, qv, topK = 10,
          nprobe = kClusters, overFetch = 4))
      val residPrunedR = recall(qv =>
        SimilaritySearch.pqTopK(resid, qv, topK = 10, nprobe = 8,
          overFetch = 4))
      resid.encoded.unpersist(blocking = false)
      // v30: rotation composed ONTO residual — the OPQ,IVF,PQ chain
      val rres = SimilaritySearch.residualPqBuild(ivf, m = mDial,
        ksub = ksub, lloydIters = 2, rotation = "hadamard")
      rres.encoded.cache().count()
      val rresR = recall(qv =>
        SimilaritySearch.pqTopK(rres, qv, topK = 10, nprobe = 8,
          overFetch = 4))
      rres.encoded.unpersist(blocking = false)
      // v36: the TRAINED rotation composed ONTO residual — the full
      // OPQ,IVF,PQ chain with the Procrustes R, at the dial where the
      // r19 fixture showed rotation actually pays (residuals)
      val ores = SimilaritySearch.residualPqBuild(ivf, m = mDial,
        ksub = ksub, lloydIters = 2, rotation = "opq", opqIters = 3)
      ores.encoded.cache().count()
      val oresR = recall(qv =>
        SimilaritySearch.pqTopK(ores, qv, topK = 10, nprobe = 8,
          overFetch = 4))
      ores.encoded.unpersist(blocking = false)
      System.err.println(
        f"[pqc] ksub=$ksub oF=4: raw $rawR%.4f, rot $rotR%.4f, " +
          f"opq $opqR%.4f, ivfpq(np=8) $ivfpqR%.4f, " +
          f"resid(np=64) $residFullR%.4f, resid(np=8) $residPrunedR%.4f, " +
          f"rot_resid(np=8) $rresR%.4f, opq_resid(np=8) $oresR%.4f")
      arms += f"""{"m":$mDial,"ksub":$ksub,"over_fetch":4,"raw_pq":$rawR%.4f,
        |"rot_pq":$rotR%.4f,"opq_pq":$opqR%.4f,
        |"ivf_pq_nprobe8":$ivfpqR%.4f,"residual_nprobe64":$residFullR%.4f,
        |"residual_nprobe8":$residPrunedR%.4f,
        |"rot_residual_nprobe8":$rresR%.4f,
        |"opq_residual_nprobe8":$oresR%.4f}""".stripMargin.replace("\n", "")
    }

    // r20 (r19 verdict #6): the rotated tier's THROUGHPUT (v32 batched)
    // and INGEST (v34 margin-dial screen) arms on the planted corpus at
    // one dial (ksub=64), so the serving-matrix paths carry the same
    // recall evidence as the one-shot arm. The batched arm is spec-
    // pinned bit-identical to per-query serving, so its recall SHOULD
    // match rot_residual_nprobe8@64 exactly — this row proves it on
    // the fixture rather than citing the spec.
    val rres64 = SimilaritySearch.residualPqBuild(ivf, m = mDial,
      ksub = 64, lloydIters = 2, rotation = "hadamard")
    rres64.encoded.cache().count()
    val queriesDf = queryRows.toDF("vec_id", "embedding")
    val batchedRows = SimilaritySearch.pqTopKBatch(rres64,
        queriesDf.withColumnRenamed("vec_id", "q_id"), "q_id", "embedding",
        topK = 10, nprobe = 8, overFetch = 4)
      .collect().groupBy(_.getLong(0))
    val v32Recall = queryRows.map { case (qid, _) =>
      val got = batchedRows.getOrElse(qid, Array.empty).map(_.getLong(1)).toSet
      got.intersect(truth(qid)).size.toDouble / truth(qid).size
    }.sum / nQueries
    // ingest screen: threshold under the planted top-1 cosine; truth =
    // the exact scan found a corpus row at/above it. The exact verify
    // admits no false positives by construction, so detection rate IS
    // the screen's recall dial (margin prices the ADC error).
    val thr = 0.85
    val screen = SimilaritySearch.pqIncrementalNearDup(rres64,
        queriesDf, threshold = thr, margin = 0.1, nprobe = 8)
      .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    rres64.encoded.unpersist(blocking = false)
    val dupTruth = queryRows.map { case (qid, _) =>
      qid -> (exactAll(qid).head._2 >= thr)
    }.toMap
    val nTrueDup = dupTruth.values.count(identity)
    val v34Detect =
      if (nTrueDup == 0) -1.0
      else queryRows.count { case (qid, _) =>
        dupTruth(qid) && screen.get(qid).contains("dup")
      }.toDouble / nTrueDup
    val v34FalsePos = queryRows.count { case (qid, _) =>
      !dupTruth(qid) && screen.get(qid).contains("dup")
    }
    System.err.println(
      f"[pqc] serving arms ksub=64: v32 batched rot-resid recall $v32Recall%.4f, " +
        f"v34 screen detect $v34Detect%.4f ($nTrueDup true dups, " +
        f"$v34FalsePos false positives)")

    val json =
      f"""{"n_corpus":$nCorpus,"n_queries":$nQueries,"clusters":$kClusters,
         |"sigma":$sigma%.2f,"aniso":$aniso%.2f,"mean_top1_cos":$meanTop1%.4f,
         |"mean_top10_cos":$meanTop10%.4f,
         |"sq8_recall_of4":$sq8Recall%.4f,
         |"v32_batched_rot_residual_ksub64":$v32Recall%.4f,
         |"v34_screen_detect_ksub64":$v34Detect%.4f,
         |"v34_screen_true_dups":$nTrueDup,"v34_screen_false_pos":$v34FalsePos,
         |"arms":${arms.mkString("[", ",", "]")}}"""
        .stripMargin.replace("\n", "")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outPath), json + "\n")
    println(json)
    spark.stop()
  }
}
