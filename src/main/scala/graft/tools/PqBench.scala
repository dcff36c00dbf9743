package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.operators.SimilaritySearch

/** Dev tool: the v20 product-quantization evidence — recall and
  * serving cost of [[SimilaritySearch.pqTopK]] against the two tiers
  * it sits between (the SQ8 projection scan and the exact float
  * scan), plus the at-rest bytes of all three corpus representations.
  *
  * Shape: one PQ index (m=8, ksub=16, 2 Lloyd rounds — the v20 oracle
  * config) over the corpus split (vec_id % 7 ≠ 4), a deterministic
  * query sample from the other split served one query at a time (the
  * pqTopK contract), recall@topK scored against the exact scorer's
  * answer set for overFetch ∈ {1, 2, 4, 8}. Per-query wall seconds are
  * medians over the sample, after one warm pass per arm. At-rest
  * sizes come from writing each representation as parquet and
  * summing file bytes.
  *
  *   runMain graft.tools.PqBench [sfDir] [outPath] [nQueries] [topK]
  */
object PqBench {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/tmp/graft_sf1")
    val outPath = if (args.length > 1) args(1) else "pq_bench.json"
    val nQueries = if (args.length > 2) args(2).toInt else 30
    val topK = if (args.length > 3) args(3).toInt else 10
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val e = graft.engine.Tables.t(spark, sfDir, "embeddings")
    val corpus = e.filter(col("vec_id") % 7 =!= 4)
      .select(col("vec_id"), col("embedding")).cache()
    val nCorpus = corpus.count()

    // the SQ8 tier this is compared against, materialized the same way
    val sq8 = SimilaritySearch.quantizeCorpus(corpus, "vec_id", "embedding")
    sq8.cache().count()

    val queryRows = e.filter(col("vec_id") % 7 === 4)
      .select(col("vec_id"), col("embedding"))
      .orderBy("vec_id").limit(nQueries)
      .as[(Long, Array[Float])].collect()
    System.err.println(s"[pq] corpus=$nCorpus queries=${queryRows.length}")

    def timedAnswers(f: Array[Float] => org.apache.spark.sql.DataFrame)
        : (Map[Long, Set[Long]], Double) = {
      // warm once on the first query, then time each query solo
      f(queryRows.head._2).collect()
      val walls = new Array[Double](queryRows.length)
      val answers = queryRows.zipWithIndex.map { case ((qid, qv), i) =>
        val t0 = System.nanoTime()
        val rows = f(qv).collect()
        walls(i) = (System.nanoTime() - t0) / 1e9
        qid -> rows.map(_.getLong(0)).toSet
      }.toMap
      val sorted = walls.sorted
      (answers, sorted(sorted.length / 2))
    }

    val (exactAns, exactSec) = timedAnswers(qv =>
      SimilaritySearch.cosineTopK(corpus, "vec_id", "embedding",
        spark.range(1).select(typedLit(qv).as("qv")), "qv", k = topK))
    System.err.println(f"[pq] exact float scan: $exactSec%.3f s/query")

    val (sq8Ans, sq8Sec) = timedAnswers(qv =>
      SimilaritySearch.quantizedTopKIndexed(sq8, corpus, "vec_id", "embedding",
        spark.range(1).select(typedLit(qv).as("qv")), "qv",
        k = topK, overFetch = 4))
    System.err.println(f"[pq] sq8 projection scan (oF=4): $sq8Sec%.3f s/query")

    def recall(got: Map[Long, Set[Long]]): Double = {
      val per = exactAns.toSeq.map { case (q, t) =>
        got.getOrElse(q, Set.empty).intersect(t).size.toDouble / t.size
      }
      per.sum / per.size
    }

    val sq8Recall = recall(sq8Ans)

    // at-rest bytes of a corpus representation
    def bytesOf(df: org.apache.spark.sql.DataFrame, path: String): Long = {
      df.write.mode("overwrite").parquet(path)
      val dir = new java.io.File(path)
      Option(dir.listFiles()).map(_.filter(_.getName.endsWith(".parquet"))
        .map(_.length()).sum).getOrElse(0L)
    }
    val base = "/tmp/graft_pq_bench_atrest"
    val sq8Bytes = bytesOf(sq8, s"$base/sq8")
    val floatBytes = bytesOf(corpus, s"$base/float")

    // the ship config's index is built ONCE and shared by its sweep row
    // and the batch arm below (review: a second identical build wasted
    // two Lloyd passes + an encode per run)
    val shipIdx = SimilaritySearch.pqBuild(corpus, "vec_id", "embedding",
      m = 8, ksub = 16, lloydIters = 2, portableSeeds = true)
    // the codebook-size dial: ksub is PQ's recall lever (code bits per
    // subspace); the oracle-gated v20 config is the first row
    val configs = Seq((16, 2), (64, 2), (128, 2))
    val cfgJson = configs.map { case (ksub, iters) =>
      val idx =
        if (ksub == 16 && iters == 2) shipIdx
        else SimilaritySearch.pqBuild(corpus, "vec_id", "embedding",
          m = 8, ksub = ksub, lloydIters = iters, portableSeeds = true)
      idx.encoded.cache().count()
      val pqBytes = bytesOf(idx.encoded, s"$base/pq_$ksub")
      val arms = Seq(1, 2, 4, 8).map { oF =>
        val (ans, sec) = timedAnswers(qv =>
          SimilaritySearch.pqTopK(idx, qv, topK = topK, overFetch = oF))
        val r = recall(ans)
        System.err.println(
          f"[pq] ksub=$ksub iters=$iters oF=$oF: $sec%.3f s/query, recall@$topK=$r%.4f")
        f"""{"over_fetch":$oF,"sec_per_query":$sec%.4f,"recall":$r%.4f}"""
      }
      idx.encoded.unpersist(blocking = false)
      f"""{"m":8,"ksub":$ksub,"lloyd_iters":$iters,"bits_per_vec":${8 * idx.bits},
         |"bytes_at_rest":$pqBytes,"arms":${arms.mkString("[", ",", "]")}}"""
        .stripMargin.replace("\n", "")
    }
    // RESIDUAL arm (r18, the v23 evidence): same fixture, same recall
    // scorer, matched m/ksub/overFetch — the PQ codebook trained on
    // r = x − centroid(cluster(x)) over a k=16 IVF, served with
    // nprobe = k (no row pruning) so the comparison isolates the
    // ENCODING delta, exactly like the raw sweep above
    val ivf = SimilaritySearch.ivfBuild(corpus, "vec_id", "embedding",
      k = 16, lloydIters = 3, portableSeeds = true)
    val residJson = configs.map { case (ksub, iters) =>
      val ridx = SimilaritySearch.residualPqBuild(ivf, m = 8, ksub = ksub,
        lloydIters = iters, portableSeeds = true)
      ridx.encoded.cache().count()
      val arms = Seq(1, 2, 4, 8).map { oF =>
        val (ans, sec) = timedAnswers(qv =>
          SimilaritySearch.pqTopK(ridx, qv, topK = topK,
            nprobe = 16, overFetch = oF))
        val r = recall(ans)
        System.err.println(
          f"[pq] RESIDUAL ksub=$ksub oF=$oF: $sec%.3f s/query, recall@$topK=$r%.4f")
        f"""{"over_fetch":$oF,"sec_per_query":$sec%.4f,"recall":$r%.4f}"""
      }
      ridx.encoded.unpersist(blocking = false)
      f"""{"m":8,"ksub":$ksub,"lloyd_iters":$iters,"nprobe":16,
         |"arms":${arms.mkString("[", ",", "]")}}"""
        .stripMargin.replace("\n", "")
    }

    // the batch arm's throughput: the WHOLE query split in one
    // distributed pass at the ship config (vs the per-query driver
    // round-trips timed above)
    val allQueries = e.filter(col("vec_id") % 7 === 4)
      .select(col("vec_id").as("q_id"), col("embedding")).cache()
    val nBatch = allQueries.count()
    shipIdx.encoded.cache().count() // re-pin (the sweep loop unpersisted it)
    def batchOnce(): Double = {
      val t0 = System.nanoTime()
      SimilaritySearch.pqTopKBatch(shipIdx, allQueries, "q_id", "embedding",
        topK = topK, overFetch = 4)
        .write.mode("overwrite").format("noop").save()
      (System.nanoTime() - t0) / 1e9
    }
    def batchMedian3(run: () => Double): Double = {
      run() // warm
      (1 to 3).map(_ => run()).sorted.apply(1)
    }
    val batchSec = batchMedian3(batchOnce _)
    System.err.println(
      f"[pq] batch arm: $nBatch queries in $batchSec%.2f s = ${batchSec / nBatch * 1000}%.2f ms/query")
    val json =
      f"""{"sf_dir":"$sfDir","n_corpus":$nCorpus,"n_queries":${queryRows.length},
         |"top_k":$topK,
         |"exact_sec_per_query":$exactSec%.4f,
         |"sq8_sec_per_query":$sq8Sec%.4f,"sq8_recall":$sq8Recall%.4f,
         |"pq_configs":${cfgJson.mkString("[", ",", "]")},
         |"residual_configs":${residJson.mkString("[", ",", "]")},
         |"batch":{"n_queries":$nBatch,"sec":$batchSec%.3f,
         |"sec_per_query":${batchSec / nBatch}%.5f},
         |"bytes_at_rest":{"sq8":$sq8Bytes,"float":$floatBytes}}"""
        .stripMargin.replace("\n", "")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outPath), json + "\n")
    println(json)
    spark.stop()
  }
}
