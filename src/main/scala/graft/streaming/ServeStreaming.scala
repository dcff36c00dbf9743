package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.SimilaritySearch

/** Streaming ANN serving — the unbounded form of the batch serving
  * drivers, completing the serving matrix (one-shot batch / chunked
  * batch / STREAM × exact / IVF-SQ8 / PQ-ADC): queries arrive as a
  * Structured Streaming source and every micro-batch resolves its
  * top-k neighbors against a PERSISTED index ([[SimilaritySearch
  * .ivfSave]]/[[SimilaritySearch.pqSave]]'s shared versioned layout),
  * with answers landing as a batchId-keyed hive tree.
  *
  * Built on `foreachBatch` like the ingest streams: the batch serving
  * ops need full batch semantics (a driver-side probe/LUT pass,
  * broadcast joins, per-query rank windows — none expressible as a
  * stateless stream-static join).
  *
  * ==The index is re-resolved EVERY micro-batch== — the load inside
  * the batch body re-reads the one-line CURRENT pointer (plus the
  * driver-state rows and file listings; the corpus data itself is only
  * read by the serving scan). This is the point of the versioned
  * layout: an ingest job can save a refreshed index MID-STREAM and the
  * very next micro-batch serves from the new version — no stream
  * restart — while the save's GC retention (one refresh cycle)
  * protects the batch in flight.
  *
  * ==Restart semantics: per-batch idempotent writes== — same recipe as
  * [[IngestStreaming]]: answers overwrite `outDir/batch=<id>`, so a
  * replayed micro-batch (sink write completed, checkpoint commit did
  * not) rewrites its own output instead of appending duplicates. The
  * one asymmetry vs ingest: a replay AFTER an index refresh re-answers
  * from the NEW version (serving is a read-only lookup; "answers
  * reflect the index at processing time" is the contract — there is no
  * cross-batch fold for the replay to corrupt).
  *
  * Chunked drivers underneath, so an arbitrarily large micro-batch is
  * served (hash-chunked at [[SimilaritySearch.maxExactRows]]/2, with
  * the PQ arm's chunk budget additionally derated by its LUT stride)
  * rather than refused. Output schema per batch: (queryIdCol, index
  * idCol, cos_sim, rank 1..topK).
  *
  * ONE serving loop serves every index kind ([[serveStreamLoop]]) —
  * the two persistence layouts share their version machinery, so the
  * streaming recipes share theirs: fail-fast start precondition,
  * per-batch CURRENT re-resolution with the resolved-version cache,
  * scoped resource release, idempotent per-batch overwrite. */
object ServeStreaming {

  /** The parameterized serving loop behind [[ivfServeStream]] and
    * [[pqServeStream]] — the crash-/refresh-critical recipe defined
    * ONCE (review: a fix to the cache keying, checkpoint layout, or
    * release ordering must not have two drifting copies).
    *
    * Precondition, checked loudly at start (round-16 advice): the
    * index root must already hold one COMPLETE version (a save that
    * ran to its CURRENT-pointer commit) — without this, a stream
    * started before the first save finishes would die inside its first
    * micro-batch on an opaque `require`. The check is the CHEAP
    * version resolution (one CURRENT read / listing), not a full load,
    * and only the resolution's own IllegalArgumentException is
    * rebranded — a transient filesystem error propagates as itself.
    *
    * The resolved-version cache is driver-side state of this stream's
    * foreachBatch closure; micro-batches run sequentially on the
    * driver, so no synchronization. Cache key = the RESOLVED version
    * path, and the load goes through that same path (a version dir is
    * a valid flat layout), so a refresh landing between resolution and
    * load cannot mis-key the cache. Seeded from the precondition's
    * resolution so batch 0 pays no second resolution. Measured at sf1
    * (`results/serve_stream_sf1_r17.json`): the unconditional re-load
    * costs ~0.4 s of EVERY batch — 25–32% of a 1k-row micro-batch —
    * and the cache removes exactly it (1k-row steady-state medians
    * 1.53 → 1.05 s exact / 1.95 → 1.47 s SQ8). `cacheIndex = false`
    * restores the unconditional per-batch load.
    *
    * Each batch's op construction runs inside
    * [[SimilaritySearch.withServingResources]] (round-17 self-review:
    * a process-wide release could destroy a CONCURRENT job's in-flight
    * broadcasts) — only the resources THIS batch creates (per-shard
    * PackedBatch broadcasts, LUT-table broadcasts, the exact arm's
    * probe-frame persist) are freed, after the batch's answers are on
    * disk. */
  private def serveStreamLoop[I](
      stream: DataFrame,
      indexDir: String,
      outDir: String,
      what: String,
      saveName: String,
      cacheIndex: Boolean,
      load: String => I,
      serve: (I, DataFrame) => DataFrame): StreamingQuery = {
    val spark = stream.sparkSession
    val initialVersion =
      try SimilaritySearch.ivfCurrentPath(spark, indexDir) catch {
        case e: IllegalArgumentException => throw new IllegalArgumentException(
          s"$what: no complete index version under '$indexDir' — " +
            s"run $saveName to completion (its CURRENT commit) before starting " +
            "the serving stream; mid-stream refreshes then land via further " +
            s"$saveName calls with no restart", e)
      }
    var cachedIndex: Option[(String, I)] =
      if (cacheIndex) Some((initialVersion, load(initialVersion)))
      else None
    stream.writeStream
      .outputMode("append")
      .option("checkpointLocation", s"$outDir/_checkpoint")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val index =
          if (!cacheIndex) load(indexDir)
          else {
            val versionPath = SimilaritySearch.ivfCurrentPath(spark, indexDir)
            cachedIndex match {
              case Some((p, idx)) if p == versionPath => idx
              case _ =>
                val idx = load(versionPath)
                cachedIndex = Some((versionPath, idx))
                idx
            }
          }
        val (answers, release) =
          SimilaritySearch.withServingResources(serve(index, batch))
        answers.write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
        release()
        ()
      }
      .start()
  }

  /** Start the IVF serving query. `stream` is a streaming (queryIdCol,
    * queryVecCol, …) frame; `indexDir` is an [[SimilaritySearch.ivfSave]]
    * root (version resolution through CURRENT per micro-batch); answers
    * land under `outDir/batch=<id>`, the stream checkpoints under
    * `outDir/_checkpoint`. `quantized = true` serves through the
    * IVF-SQ8 arm (int8 coarse + exact rerank — from the index's
    * persisted byte projection when the layout carries one),
    * `false` through the exact arm. Returns the started query —
    * callers drive it (`processAllAvailable()` in tests,
    * awaitTermination in a real server). `cacheIndex` is the
    * resolved-version cache (see [[serveStreamLoop]]). */
  def ivfServeStream(
      stream: DataFrame,
      indexDir: String,
      queryIdCol: String,
      queryVecCol: String,
      outDir: String,
      topK: Int = 10,
      nprobe: Int = 4,
      overFetch: Int = 4,
      quantized: Boolean = true,
      cacheIndex: Boolean = true): StreamingQuery = {
    val spark = stream.sparkSession
    serveStreamLoop[SimilaritySearch.IvfIndex](
      stream, indexDir, outDir, "ivfServeStream", "ivfSave", cacheIndex,
      load = path => SimilaritySearch.ivfLoad(spark, path),
      serve = (index, batch) =>
        if (quantized)
          SimilaritySearch.ivfTopKBatchQuantizedChunked(
            index, batch, queryIdCol, queryVecCol, topK, nprobe, overFetch)
        else
          SimilaritySearch.ivfTopKBatchChunked(
            index, batch, queryIdCol, queryVecCol, topK, nprobe))
  }

  /** Streaming PQ-ADC serving — the codec's streaming arm, closing its
    * serving matrix (one-shot [[SimilaritySearch.pqTopK]] / batched
    * [[SimilaritySearch.pqTopKBatch]] / persisted
    * [[SimilaritySearch.pqLoad]] / STREAM) on the same
    * [[serveStreamLoop]] recipe as [[ivfServeStream]], for every
    * rotation and coarse layer. A mid-stream [[SimilaritySearch.pqSave]]
    * refresh lands on the very next micro-batch, no restart — a trained
    * rotation and its codes live in one versioned tree, so a batch never
    * scores new codes under an old rotation. The stream pins the `kind`
    * of its first load: a refresh that saves another kind (say a
    * Hadamard-rotated tree over a plain one) fails the stream loudly
    * instead of silently changing what it serves. `corpus` is the
    * caller's float table for the exact rerank (codes index a corpus
    * the caller already stores); `nprobe` applies to IVF-residual
    * indexes. Output schema per batch: (queryIdCol, index idCol,
    * cos_sim, rank 1..topK). */
  def pqServeStream(
      stream: DataFrame,
      indexDir: String,
      corpus: DataFrame,
      queryIdCol: String,
      queryVecCol: String,
      outDir: String,
      topK: Int = 10,
      overFetch: Int = 4,
      nprobe: Int = 4,
      cacheIndex: Boolean = true): StreamingQuery = {
    val spark = stream.sparkSession
    var kind: Option[String] = None
    serveStreamLoop[SimilaritySearch.PqIndex](
      stream, indexDir, outDir, "pqServeStream", "pqSave", cacheIndex,
      load = { path =>
        val index = SimilaritySearch.pqLoad(spark, path, corpus, kind)
        kind = Some(index.kind)
        index
      },
      serve = (index, batch) =>
        SimilaritySearch.pqTopKBatchChunked(
          index, batch, queryIdCol, queryVecCol, topK, overFetch, nprobe))
  }
}
