package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.{SimilaritySearch, TextDedup}

/** Streaming ingest deduplication — the unbounded form of
  * [[graft.operators.TextDedup.incrementalDedup]]: documents arrive as
  * a Structured Streaming source, and every micro-batch is statused
  * (exact_dup / near_dup / keep) against a GROWING index — the standing
  * corpus plus every previously-accepted survivor — before its own
  * survivors are folded in. This is the shape a 100 TB corpus actually
  * ingests with: the corpus index is computed once, each arriving batch
  * pays only for itself, and accepted documents immediately participate
  * in deduplicating everything that arrives after them.
  *
  * Built on `foreachBatch`, the canonical Structured Streaming pattern
  * for stream-vs-static work that needs full batch semantics (the LSH
  * band join + full-signature verify inside [[TextDedup.incrementalDedup]]
  * are not expressible as a stateless stream-static join, and carrying
  * the growing survivor set is exactly the cross-batch state foreachBatch
  * owns). Micro-batches are processed strictly in order, so the survivor
  * fold is deterministic for a deterministic source.
  *
  * Semantics within ONE micro-batch match the batch operator: rows are
  * judged against the index only, not against each other — two identical
  * fresh documents in the same micro-batch both keep (run
  * [[TextDedup.exact]] inside a custom foreachBatch if intra-batch
  * winners are needed). A duplicate of a batch-N survivor arriving in
  * batch N+1 IS flagged.
  */
object IngestStreaming {

  /** Start the ingest-dedup query. `stream` is a streaming (idCol,
    * textCol, …) frame; statuses (idCol, status) land under
    * `statusDir/batch=<id>`, accepted (idCol, textCol) rows under
    * `survivorsDir/__ingest_batch=<id>` (both hive-style partition
    * trees — read either ROOT to get everything), and the stream
    * checkpoints under `statusDir/_checkpoint`. Returns the started
    * query — callers drive it (`processAllAvailable()` in tests,
    * awaitTermination in a real ingest).
    *
    * ==Restart semantics: per-batch idempotent writes==
    * foreachBatch may REPLAY a micro-batch whose sink writes completed
    * but whose checkpoint commit did not. Both writes here are
    * `overwrite` into a subdirectory keyed by the batchId (the
    * documented idempotence recipe), so a replay rewrites its own
    * output instead of appending duplicates — and the index read
    * EXCLUDES the current batchId's survivors, so a replayed batch is
    * judged against exactly the index its first attempt saw (its own
    * half-committed keeps can never flag it as a duplicate of itself).
    * Paths go through the Hadoop FileSystem API, never `java.io.File`,
    * so object-store/HDFS survivor dirs grow the index too.
    *
    * The micro-batch is deliberately NOT persisted even though the body
    * scans it ~4× (dedup's exact tier, near tier, status join, survivor
    * semi join — IngestBench's listener counts the scans): the A/B at
    * sf10 (`results/ingest_sf10_cached_null_r14.json` vs
    * `ingest_sf10_r14.json`, identical outputs) measured the cached arm
    * 2.3× SLOWER end-to-end (67 → 153 s) — a 25k-row columnar batch
    * re-reads from the OS page cache with column pruning for less than
    * one Spark cache materialization barrier plus its block-manager
    * memory pressure costs. */
  def incrementalDedupStream(
      corpus: DataFrame,
      stream: DataFrame,
      idCol: String,
      textCol: String,
      statusDir: String,
      survivorsDir: String): StreamingQuery = {
    val spark = corpus.sparkSession
    val base = corpus.select(col(idCol), col(textCol))
    stream.writeStream
      .outputMode("append")
      .option("checkpointLocation", s"$statusDir/_checkpoint")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val survPath = new org.apache.hadoop.fs.Path(survivorsDir)
        val fs = survPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
        val index =
          if (fs.exists(survPath))
            try base.union(
              spark.read.parquet(survivorsDir)
                .filter(col("__ingest_batch") =!= batchId)
                .select(col(idCol), col(textCol)))
            catch {
              // a crash between mkdir and the first commit leaves only
              // _temporary files (all underscore-ignored) → schema
              // inference fails; no batch ever COMMITTED survivors, so
              // base-only is exactly the index the first attempt saw
              case _: org.apache.spark.sql.AnalysisException => base
            }
          else base
        val statuses = TextDedup
          .incrementalDedup(index, batch, idCol, textCol)
          .persist() // two consumers below; freed before the batch commits
        statuses.write.mode("overwrite").parquet(s"$statusDir/batch=$batchId")
        batch
          .join(statuses.filter(col("status") === "keep").select(col(idCol)),
            Seq(idCol), "left_semi")
          .select(col(idCol), col(textCol))
          .write.mode("overwrite")
          .parquet(s"$survivorsDir/__ingest_batch=$batchId")
        statuses.unpersist(blocking = false)
        ()
      }
      .start()
  }

  /** The EMBEDDING twin of [[incrementalDedupStream]] — streaming
    * semantic ingest dedup over an `Array[Float]` vector column,
    * completing the ingest matrix (batch / incremental / streaming ×
    * text / embedding): every arriving micro-batch is statused
    * (dup / keep, with `n_dups` and `best_sim`) against the standing
    * corpus PLUS all previously-accepted survivors via
    * [[SimilaritySearch.incrementalNearDup]] — the
    * int8-quantized coarse scan against the broadcast batch, margin
    * admission, exact float verify — before its own keeps join the
    * index. Identical restart semantics to the text form: per-batch
    * idempotent `overwrite` into batchId-keyed subdirectories, the
    * index read excludes the current batchId, Hadoop FS API paths.
    * Each batch's broadcast of its quantized vectors is built inside
    * [[SimilaritySearch.withServingResources]] and destroyed after the
    * batch's two writes, so a long ingest holds no broadcast per past
    * batch.
    * Statuses land under `statusDir/batch=<id>` as
    * (idCol, n_dups, best_sim, status); accepted (idCol, vecCol) rows
    * under `survivorsDir/__ingest_batch=<id>`.
    *
    * Cost curve vs a growing index (round-15 verdict #6, measured —
    * `results/ingest_embed_sf1_r16.json`, IngestBench embedding mode,
    * 10 × ~1k-row batches over the sf1 20k-embedding corpus): batch
    * wall time is FLAT at ~1.1–1.3 s/batch from batch 2 on (batch 0
    * reads 3.0 s, pure JVM/codegen warm-up) while the index grows
    * 10,000 → 13,800 rows — the per-batch cost is the batch's own
    * int8 kernel scan against the broadcast batch, not the index
    * rebuild, matching the text form's flat sf1/sf10 curves
    * (`ingest_sf1_r14.json`, `ingest_sf10_r14.json`). */
  def incrementalEmbeddingDedupStream(
      corpus: DataFrame,
      stream: DataFrame,
      idCol: String,
      vecCol: String,
      statusDir: String,
      survivorsDir: String,
      threshold: Double = 0.45,
      margin: Double = 0.05): StreamingQuery = {
    val spark = corpus.sparkSession
    val base = corpus.select(col(idCol), col(vecCol))
    stream.writeStream
      .outputMode("append")
      .option("checkpointLocation", s"$statusDir/_checkpoint")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val survPath = new org.apache.hadoop.fs.Path(survivorsDir)
        val fs = survPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
        val index =
          if (fs.exists(survPath))
            try base.union(
              spark.read.parquet(survivorsDir)
                .filter(col("__ingest_batch") =!= batchId)
                .select(col(idCol), col(vecCol)))
            catch {
              // same crash window as the text form: only _temporary
              // files → schema inference fails → no batch ever
              // committed, base-only IS the first attempt's index
              case _: org.apache.spark.sql.AnalysisException => base
            }
          else base
        // the scope captures this batch's broadcast of its quantized
        // vectors, destroyed once both writes below have read it
        val (statuses, release) = SimilaritySearch.withServingResources(
          SimilaritySearch
            .incrementalNearDup(index, batch, idCol, vecCol, threshold, margin)
            .persist()) // two consumers below; freed before the batch commits
        statuses.write.mode("overwrite").parquet(s"$statusDir/batch=$batchId")
        batch
          .join(statuses.filter(col("status") === "keep").select(col(idCol)),
            Seq(idCol), "left_semi")
          .select(col(idCol), col(vecCol))
          .write.mode("overwrite")
          .parquet(s"$survivorsDir/__ingest_batch=$batchId")
        statuses.unpersist(blocking = false)
        release()
        ()
      }
      .start()
  }
}
