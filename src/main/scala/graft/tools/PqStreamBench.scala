package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Dev tool: the PQ streaming-serving surface's perf artifact — the
  * [[ServeStreamBench]] recipe pointed at
  * [[graft.streaming.ServeStreaming.pqServeStream]]: a real
  * file-source stream (one parquet file per micro-batch,
  * `maxFilesPerTrigger=1`, wall around `processAllAvailable`) against
  * a [[graft.operators.SimilaritySearch.pqSave]]-persisted sf1 index,
  * batch sizes ~1k / ~10k with the resolved-version cache on, plus a
  * cache-off arm at 1k, plus the solo per-batch `pqLoad` re-resolution
  * cost the cache exists to remove.
  *
  * runMain graft.tools.PqStreamBench [sfDir] [outJson]
  */
object PqStreamBench {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/tmp/graft_sf1")
    val out = args.lift(1).getOrElse("/root/repo/results/pq_stream.json")
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import graft.operators.SimilaritySearch
    val root = java.nio.file.Files.createTempDirectory("graft_pqstream").toString
    val idxDir = s"$root/index"
    val e = graft.engine.Tables.t(spark, sfDir, "embeddings").persist()
    val nCorpus = e.count()
    val corpus = e.select(col("vec_id"), col("embedding"))
    val idx = SimilaritySearch.pqBuild(
      corpus, "vec_id", "embedding", m = 8, ksub = 16, lloydIters = 2,
      portableSeeds = true)
    SimilaritySearch.pqSave(idx, idxDir)
    def loadOnce(): Double = {
      val t0 = System.nanoTime()
      SimilaritySearch.pqLoad(spark, idxDir, corpus)
      (System.nanoTime() - t0) / 1e9
    }
    loadOnce() // warm
    val loadSecs = Seq.fill(5)(loadOnce())
    val nBatches = 5
    // r20: the TRAINED-OPQ stream arm rides the same recipe — its only
    // delta vs the pq arm is the per-query LUT rotation and the
    // rotation parquet in the per-batch load
    val opqIdxDir = s"$root/opq_index"
    SimilaritySearch.pqSave(SimilaritySearch.pqBuild(
      corpus, "vec_id", "embedding", m = 8, ksub = 16, lloydIters = 2,
      opqIters = 2, portableSeeds = true, rotation = "opq"), opqIdxDir)
    def runArm(arm: String, batchSize: Int, cacheIdx: Boolean,
        start: (org.apache.spark.sql.DataFrame, String) =>
          org.apache.spark.sql.streaming.StreamingQuery): String = {
      val srcDir = s"$root/queries_${arm}_$batchSize"
      val outDir = s"$root/answers_${arm}_$batchSize"
      def writeBatch(b: Int): Unit = e
        .select((col("vec_id") + lit(1000000L * (b + 1))).as("q_id"),
          col("embedding"))
        .limit(batchSize)
        .coalesce(1).write.mode("append").parquet(srcDir)
      writeBatch(0)
      val stream = spark.readStream
        .schema("q_id LONG, embedding ARRAY<FLOAT>")
        .option("maxFilesPerTrigger", "1")
        .parquet(srcDir)
      val q = start(stream, outDir)
      val batchSecs = try {
        (0 until nBatches).map { b =>
          if (b > 0) writeBatch(b)
          val t0 = System.nanoTime()
          q.processAllAvailable()
          (System.nanoTime() - t0) / 1e9
        }
      } finally q.stop()
      val med = BenchProtocol.median(batchSecs.drop(1))
      f"""{"arm":"$arm","batch_rows":$batchSize,"cache_index":$cacheIdx,"batch_secs":[${batchSecs.map(s => f"$s%.3f").mkString(",")}],"median_warm_sec":$med%.3f}"""
    }
    val grid = Seq((1000, true), (10000, true), (1000, false))
    val configs = grid.map { case (batchSize, cacheIdx) =>
      runArm("pq" + (if (cacheIdx) "" else "_nocache"), batchSize, cacheIdx,
        (stream, outDir) => graft.streaming.ServeStreaming.pqServeStream(
          stream, idxDir, corpus, "q_id", "embedding", outDir,
          topK = 10, overFetch = 4, cacheIndex = cacheIdx))
    } :+ runArm("opq", 1000, cacheIdx = true,
      (stream, outDir) => graft.streaming.ServeStreaming.pqServeStream(
        stream, opqIdxDir, corpus, "q_id", "embedding", outDir,
        topK = 10, overFetch = 4))
    val loadMed = BenchProtocol.median(loadSecs)
    val line =
      f"""{"metric":"pq_serve_stream","sf":"$sfDir","corpus_rows":$nCorpus,"pq_load_secs":[${loadSecs.map(s => f"$s%.3f").mkString(",")}],"pq_load_median_sec":$loadMed%.3f,"configs":[${configs.mkString(",")}]}"""
    println(line)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), line + "\n")
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete(): Unit
    }
    rm(new java.io.File(root))
    spark.stop()
  }
}
