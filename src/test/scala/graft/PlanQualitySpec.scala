package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, CartesianProductExec, BroadcastNestedLoopJoinExec}
import org.apache.spark.sql.execution.aggregate.{HashAggregateExec, ObjectHashAggregateExec}
import org.scalatest.funsuite.AnyFunSuite

/** "The plan you'd want" encoded as assertions — the properties that
  * decide whether a query survives a 100× scale-up: filters reach the
  * parquet scan, small dimensions broadcast, aggregation is partial
  * before the shuffle, and nothing silently degrades to a cartesian /
  * nested-loop product. These run on the final (AQE) plans of the
  * flagship queries, so a regression in plan shape fails CI even while
  * results stay correct. */
class PlanQualitySpec extends AnyFunSuite {

  private val dir = "/root/testdata/sf0.01"

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.adaptive.enabled", "true")
    .getOrCreate()

  private def flatten(p: SparkPlan): Seq[SparkPlan] = {
    val inner = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case r: ReusedExchangeExec => Seq(r.child)
      case c: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
        // descend into persisted intermediates — the plan that BUILT the
        // cache is exactly what these asserts are about
        Seq(c.relation.cachedPlan)
      case other => other.children
    }
    p +: inner.flatMap(flatten)
  }

  private def finalPlan(name: String): Seq[SparkPlan] = {
    val d: DataFrame = SparkEntry.queries(name)(spark, dir)
    d.write.mode("overwrite").format("noop").save() // finalize AQE
    flatten(d.queryExecution.executedPlan)
  }

  private def planString(name: String): String = {
    val d = SparkEntry.queries(name)(spark, dir)
    d.write.mode("overwrite").format("noop").save()
    d.queryExecution.executedPlan.toString
  }

  test("q6 pushes its range filters into the parquet scan") {
    val s = planString("q6_forecast_revenue")
    assert(s.contains("PushedFilters: ["), "expected pushed filters in scan")
    // NB: toString truncates long filter lists mid-name, so match loosely
    assert(s.contains("GreaterThanOrEqual(") || s.contains("LessThan("),
      s"expected q6 range predicates pushed to the scan:\n$s")
  }

  test("star join broadcasts every dimension (fact never reshuffles)") {
    val nodes = finalPlan("star_join4")
    val bhj = nodes.collect { case b: BroadcastHashJoinExec => b }
    assert(bhj.size >= 3, s"expected >=3 broadcast joins, got ${bhj.size}")
    assert(!nodes.exists(_.isInstanceOf[CartesianProductExec]))
  }

  test("q1 aggregates partially before the shuffle") {
    val nodes = finalPlan("q1_pricing_summary")
    val aggs = nodes.count {
      case _: HashAggregateExec | _: ObjectHashAggregateExec => true
      case _ => false
    }
    assert(aggs >= 2, "expected partial+final aggregation pair")
  }

  test("no flagship query degrades to a cartesian or nested-loop join") {
    // v1 has a deliberate 1-row broadcast crossJoin (query vector) —
    // BroadcastNestedLoopJoin over one row is the intended plan there,
    // so it asserts broadcast-ness instead of absence.
    for (name <- Seq("q3_shipping_priority", "q5_local_supplier", "q9_profit",
        "t6_minhash_lsh", "t8_ngram_jaccard", "t16_block_dedup",
        "pjsql_three_way")) {
      val nodes = finalPlan(name)
      assert(!nodes.exists(_.isInstanceOf[CartesianProductExec]),
        s"$name contains a cartesian product")
      assert(!nodes.exists {
        case _: BroadcastNestedLoopJoinExec => true
        case _ => false
      }, s"$name contains a nested-loop join")
    }
    val v1 = finalPlan("v1_cosine_topk")
    assert(!v1.exists(_.isInstanceOf[CartesianProductExec]),
      "v1 query-vector join must broadcast, not cartesian")
  }

  test("q2 broadcasts every dimension of the min-cost-supplier lookup") {
    val nodes = finalPlan("q2_min_cost_supplier")
    val bhj = nodes.collect { case b: BroadcastHashJoinExec => b }
    assert(bhj.size >= 3, s"expected >=3 broadcast joins (supplier/nation/region/part), got ${bhj.size}")
    assert(!nodes.exists(_.isInstanceOf[CartesianProductExec]))
  }

  test("q11 aggregates partially and broadcasts the 1-row global total") {
    val nodes = finalPlan("q11_important_stock")
    val aggs = nodes.count {
      case _: HashAggregateExec | _: ObjectHashAggregateExec => true
      case _ => false
    }
    assert(aggs >= 2, "expected partial+final aggregation pair")
    // the scalar-total join must be a broadcast (1 row), never cartesian
    assert(!nodes.exists(_.isInstanceOf[CartesianProductExec]))
  }

  test("new pipeline ops stay free of cartesian products") {
    for (name <- Seq("t21_simhash_neardup", "t22_pii_redact",
        "t23_domain_mix", "t24_chunk_overlap",
        // round 17: span dedup (fingerprint-keyed joins only) and the
        // PQ tier (ADC scans + id-keyed rerank fetches; the only
        // intended product is the broadcast of the 1-row query/LUT)
        "t31_substring_dedup", "v20_pq_adc_topk", "v21_ivf_pq_topk",
        "v22_pq_batch_topk",
        // round 18: the residual tier — flat kernels + id-keyed rerank
        // fetches, nothing here may plan a product (r18 verdict #3)
        "v23_ivf_residual_pq_topk", "v24_pq_incremental_dedup",
        "v25_residual_pq_batch_topk", "v26_residual_pq_incremental_dedup",
        // round 19: the wide (two-word) code layout at ksub=256 and
        // the HD-rotated tiers (OPQ decorrelation, raw + residual)
        "v27_pq_wide_topk", "v28_residual_pq_wide_topk",
        "v29_rot_pq_topk", "v30_rot_residual_pq_topk",
        "v31_rot_pq_batch_topk", "v32_rot_residual_pq_batch_topk",
        "v33_rot_pq_incremental_dedup",
        "v34_rot_residual_pq_incremental_dedup",
        // round 20: the TRAINED-OPQ tiers (literal-R oracle chains),
        // their full serving matrix, and the 3-word packing arm
        "v35_opq_pq_topk", "v36_opq_residual_topk",
        "v37_opq_batch_topk", "v38_opq_incremental_dedup",
        "v39_opq_residual_batch_topk", "v40_opq_residual_incremental_dedup",
        "v41_opq_persisted_serving", "v42_opq_residual_persisted_serving",
        "v27b_pq_wide3_topk")) {
      val nodes = finalPlan(name)
      assert(!nodes.exists(_.isInstanceOf[CartesianProductExec]),
        s"$name contains a cartesian product")
    }
  }

  test("incremental trilogy plan shapes: no cartesian; v12 coarse is the flat kernel") {
    // t26's band join and exact-hash semi join are equi-joins; v13's
    // assignment is a broadcast-of-centroids map — none of the trilogy
    // may degrade to a cartesian. v12's DEFAULT coarse scan must be the
    // mapPartitions flat kernel, NOT the BNLJ expression arm (the 4x
    // wall measured in results/v12_sf10_*_r13.json) — a BNLJ in the
    // default plan means the knob default regressed.
    for (name <- Seq("t26_incremental_dedup", "v13_incremental_ivf_assign")) {
      val nodes = finalPlan(name)
      assert(!nodes.exists(_.isInstanceOf[CartesianProductExec]),
        s"$name contains a cartesian product")
    }
    val v12 = finalPlan("v12_incremental_embedding_dedup")
    assert(!v12.exists(_.isInstanceOf[CartesianProductExec]),
      "v12 contains a cartesian product")
    assert(!v12.exists(_.isInstanceOf[BroadcastNestedLoopJoinExec]),
      "v12's default coarse scan must be the flat kernel, not the BNLJ expr arm")
    // v14 composes the IVF probe with v12's shape: the probe-pruned
    // coarse scan is the same flat kernel (mapPartitions, never a BNLJ)
    // and nothing in the build/assign/verify stack may go cartesian
    val v14 = finalPlan("v14_ivf_incremental_dedup")
    assert(!v14.exists(_.isInstanceOf[CartesianProductExec]),
      "v14 contains a cartesian product")
    assert(!v14.exists(_.isInstanceOf[BroadcastNestedLoopJoinExec]),
      "v14's probe-pruned coarse scan must be the flat kernel, not a BNLJ")
    // v15's query×corpus meeting is an equi-join on the cluster key
    // with the exploded probe side broadcast — a BNLJ/cartesian here
    // means the whole nprobe/k pruning collapsed to all-pairs
    val v15 = finalPlan("v15_ivf_batch_topk")
    assert(v15.exists(_.isInstanceOf[BroadcastHashJoinExec]),
      "v15 must broadcast the exploded probe side into a hash join on cluster")
    assert(!v15.exists(_.isInstanceOf[CartesianProductExec]),
      "v15 contains a cartesian product")
    assert(!v15.exists(_.isInstanceOf[BroadcastNestedLoopJoinExec]),
      "v15 must never degrade to a nested loop")
    // v16's coarse tier is the flat kernel scan (mapPartitions) and its
    // rerank joins are broadcast fetches of small sides — a
    // BNLJ/cartesian anywhere means the serving path collapsed
    val v16 = finalPlan("v16_ivf_batch_topk_sq8")
    assert(!v16.exists(_.isInstanceOf[CartesianProductExec]),
      "v16 contains a cartesian product")
    assert(!v16.exists(_.isInstanceOf[BroadcastNestedLoopJoinExec]),
      "v16 must never degrade to a nested loop")
  }

  test("t8 builds posting lists with the capped aggregate, never raw collect_list") {
    // the hot-shingle guard: the inverted index must aggregate through
    // CappedLongCollectList (O(cap) buffer per key, over-cap keys
    // nulled), so an uncapped mega-hot shingle can never accumulate an
    // unbounded array in one task
    val nodes = finalPlan("t8_ngram_jaccard")
    val aggFns = nodes.flatMap {
      case a: ObjectHashAggregateExec => a.aggregateExpressions.map(_.aggregateFunction)
      case a: HashAggregateExec => a.aggregateExpressions.map(_.aggregateFunction)
      case _ => Nil
    }
    assert(aggFns.exists(_.isInstanceOf[graft.functions.CappedLongCollectList]),
      "expected the capped collect_list aggregate in t8's plan")
    assert(!aggFns.exists(_.isInstanceOf[
        org.apache.spark.sql.catalyst.expressions.aggregate.CollectList]),
      "t8 must never aggregate through an uncapped collect_list")
  }

  test("exchange budget: e1/e3 one data shuffle + output sort, q2 bounded") {
    // the round-5 bench flagged these as possible regressions; pinning
    // the exchange count makes a plan regression fail here instead of
    // waiting a full bench round-trip. Counts are upper bounds over the
    // flattened AQE plan (reused exchanges descend into their child, so
    // reuse never reads as a new shuffle budget).
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    def shuffles(name: String): Int =
      finalPlan(name).count(_.isInstanceOf[ShuffleExchangeExec])
    // events hourly agg: partial→final exchange + the ordered output's
    // range exchange — any third shuffle is a formulation regression
    assert(shuffles("e1_events_hourly") <= 2, "e1 grew a shuffle")
    // sessionize: ONE window key shuffle + ordered output
    assert(shuffles("e3_sessions") <= 2, "e3 grew a shuffle")
    // q2: partsupp derivation + min-re-join + output sort; dimensions
    // all broadcast (see the broadcast pin above)
    assert(shuffles("q2_min_cost_supplier") <= 5, "q2 grew a shuffle")
  }

  test("v7's coarse pass broadcasts the query and takes top-k without a global sort") {
    // the int8 ANN scan must stream the corpus once against a broadcast
    // query (no shuffle of corpus vectors for scoring) and select
    // candidates via TakeOrderedAndProject — a full Sort before the
    // limit would be a scale regression (sort O(N log N) over the
    // corpus vs top-k's O(N))
    import org.apache.spark.sql.execution.TakeOrderedAndProjectExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val nodes = finalPlan("v7_quantized_ann")
    assert(nodes.exists(_.isInstanceOf[TakeOrderedAndProjectExec]),
      "expected TakeOrderedAndProject for the candidate/output top-k")
    assert(!nodes.exists(_.isInstanceOf[org.apache.spark.sql.execution.SortExec]),
      "v7 must never globally sort the corpus")
    assert(nodes.count(_.isInstanceOf[ShuffleExchangeExec]) == 0,
      "v7's scoring passes must not shuffle corpus rows")
    assert(!nodes.exists(_.isInstanceOf[CartesianProductExec]))
  }

  test("v10's balanced sample pays one window shuffle over the assignment") {
    // the sampling stage itself must stay one cluster-keyed exchange +
    // the rank filter — if the window formulation ever degrades into a
    // per-cluster self-join or a global sort-and-collect shape, this
    // trips before a bench round does. (The IVF build upstream owns its
    // own exchanges; they are bounded by the k-means loop, not the
    // sampling logic, so the assert is an upper bound over the whole
    // final plan.)
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.window.WindowExec
    val nodes = finalPlan("v10_cluster_balanced_sample")
    assert(nodes.exists(_.isInstanceOf[WindowExec]),
      "expected the row_number window in v10's plan")
    assert(!nodes.exists(_.isInstanceOf[CartesianProductExec]))
    assert(nodes.count(_.isInstanceOf[ShuffleExchangeExec]) <= 4,
      "v10 grew a shuffle beyond the assignment + window + output budget")
  }

  test("v17: probe-union pruning survives the persisted index layout") {
    // the 100 TB serving story's last link (round-14 verdict #5): a
    // NARROW batch served from an ivfLoad-ed index must physically read
    // only the cluster partitions it probes — the probe-union
    // `cluster IN (…)` filter has to reach the hive tree's file listing,
    // not just drop rows post-scan
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.execution.FileSourceScanExec
    import graft.operators.SimilaritySearch
    val e = graft.engine.Tables.t(spark, dir, "embeddings")
    val idx = SimilaritySearch.ivfBuild(
      e.filter(col("vec_id") % 7 =!= 4), "vec_id", "embedding",
      k = 16, lloydIters = 3, portableSeeds = true)
    val path = "/tmp/graft_v17_planspec"
    SimilaritySearch.ivfSave(idx, path)
    val loaded = SimilaritySearch.ivfLoad(spark, path)
    // one query, nprobe=2 → the probe union is 2 of 16 clusters
    val one = e.filter(col("vec_id") === 4)
      .select(col("vec_id").as("q_id"), col("embedding"))
    val served = SimilaritySearch.ivfTopKBatchQuantized(
      loaded, one, "q_id", "embedding", topK = 3, nprobe = 2)
    // collect() drives execution through the Dataset's OWN
    // QueryExecution, so the scan nodes inspected below carry real
    // metrics (self-review: a noop .write executes a separate
    // QueryExecution and leaves these metrics at 0 — the pruning
    // assert was vacuous)
    assert(served.collect().nonEmpty, "the narrow batch must produce answers")
    val scans = flatten(served.queryExecution.executedPlan).collect {
      case f: FileSourceScanExec
        if f.relation.location.rootPaths.exists(_.toString.contains("graft_v17_planspec")) => f
    }
    assert(scans.nonEmpty, "expected scans over the persisted assigned tree")
    assert(scans.forall(_.partitionFilters.exists(_.references.exists(_.name == "cluster"))),
      "every persisted-corpus scan must carry a cluster partition filter " +
        s"(got: ${scans.map(_.partitionFilters.mkString(","))})")
    // and the filter actually pruned the listing: far fewer files than
    // the 16-cluster tree of the LIVE version holds. One counter for
    // both subtree asserts so their denominators can't drift.
    def countParquet(subtree: String): Int = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(
          s"${SimilaritySearch.ivfCurrentPath(spark, path)}/$subtree"))
        .count(_.getName.endsWith(".parquet"))
    }
    val totalFiles = countParquet("assigned")
    val readFiles = scans.map(_.metrics("numFiles").value).max
    assert(readFiles > 0, "executed scan metrics must be populated")
    assert(readFiles < totalFiles,
      s"no pruning: read $readFiles of $totalFiles files for a 2-of-16 probe")
    // round 16: the saved layout materializes the int8 projection, and
    // a loaded index must serve its COARSE pass from those persisted
    // bytes (1 byte/component off disk), not re-quantize the float tree
    assert(scans.exists(_.relation.location.rootPaths.exists(
        _.toString.contains("/quantized"))),
      "the quantized coarse pass must scan the persisted int8 projection " +
        s"(scanned roots: ${scans.flatMap(_.relation.location.rootPaths).mkString(", ")})")
    // the EXACT batch arm (round-15 verdict #4): the same narrow batch
    // through ivfTopKBatch over the same loaded index must also reach
    // file-listing pruning — before this round it joined the exploded
    // probe rows against the FULL corpus and read all 16 partitions
    val servedExact = SimilaritySearch.ivfTopKBatch(
      loaded, one, "q_id", "embedding", topK = 3, nprobe = 2)
    assert(servedExact.collect().nonEmpty, "the exact arm must produce answers")
    val exactScans = flatten(servedExact.queryExecution.executedPlan).collect {
      case f: FileSourceScanExec
        if f.relation.location.rootPaths.exists(_.toString.contains("graft_v17_planspec")) => f
    }
    assert(exactScans.nonEmpty, "expected exact-arm scans over the persisted tree")
    assert(exactScans.forall(_.partitionFilters.exists(_.references.exists(_.name == "cluster"))),
      "every exact-arm persisted-corpus scan must carry a cluster partition filter " +
        s"(got: ${exactScans.map(_.partitionFilters.mkString(","))})")
    val exactRead = exactScans.map(_.metrics("numFiles").value).max
    assert(exactRead > 0, "executed exact-arm scan metrics must be populated")
    assert(exactRead < totalFiles,
      s"no exact-arm pruning: read $exactRead of $totalFiles files for a 2-of-16 probe")
    // the INGEST arm (v14, round 16): a narrow ingest batch through
    // ivfIncrementalNearDup over the same loaded index must prune the
    // persisted QUANTIZED tree to its probe union too (the float tree
    // is also read by the exact verify stage via an id join, which is
    // not cluster-pruned — so the assert targets the quantized scans).
    // The batch is a PLANTED near-copy of a corpus vector: a batch with
    // no dup leaves the status join's agg side empty and AQE's
    // empty-relation propagation deletes the whole coarse subtree from
    // the final plan (found debugging this assert — the scan ran in an
    // earlier query stage but was unreachable from executedPlan)
    import spark.implicits._
    val seedVec = e.filter(col("vec_id") === 8)
      .select("embedding").collect()(0).getSeq[Float](0).toArray
    val planted = Seq((999999L, seedVec.map(x => x + 0.001f)))
      .toDF("vec_id", "embedding")
    val ingested = SimilaritySearch.ivfIncrementalNearDup(
      loaded, planted, nprobe = 2, threshold = 0.9, margin = 0.05)
    assert(ingested.collect().exists(_.getString(3) == "dup"),
      "the planted near-copy must flag (keeps the status join non-degenerate)")
    val qScans = flatten(ingested.queryExecution.executedPlan).collect {
      case f: FileSourceScanExec
        if f.relation.location.rootPaths.exists(p =>
          p.toString.contains("graft_v17_planspec") &&
            p.toString.contains("/quantized")) => f
    }
    assert(qScans.nonEmpty, "expected ingest-arm scans over the persisted quantized tree")
    assert(qScans.forall(_.partitionFilters.exists(_.references.exists(_.name == "cluster"))),
      "the ingest arm's quantized-tree scan must carry a cluster partition filter")
    val qTotalFiles = countParquet("quantized")
    val qRead = qScans.map(_.metrics("numFiles").value).max
    assert(qRead > 0 && qRead < qTotalFiles,
      s"no ingest-arm pruning: read $qRead of $qTotalFiles quantized files for a 2-of-16 probe")
  }

  test("v20: the persisted ADC coarse pass reads codes only, never floats") {
    // the PQ tier's whole point is that the pass touching EVERY corpus
    // row reads ~24 B/row: served from a pqLoad-ed index, the coarse
    // scan over the persisted encoded tree must read (id, pq_code, nrm)
    // ONLY — the float corpus is fetched AFTER the topK×overFetch cut,
    // by id join, and must never appear in the coarse scan's schema
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.execution.FileSourceScanExec
    import graft.operators.SimilaritySearch
    val e = graft.engine.Tables.t(spark, dir, "embeddings")
    val corpus = e.filter(col("vec_id") % 7 =!= 4)
      .select(col("vec_id"), col("embedding"))
    val idx = SimilaritySearch.pqBuild(corpus, "vec_id", "embedding",
      m = 8, ksub = 16, lloydIters = 1, portableSeeds = true)
    val path = "/tmp/graft_v20_planspec"
    SimilaritySearch.pqSave(idx, path)
    val loaded = SimilaritySearch.pqLoad(spark, path, corpus)
    val qv = e.filter(col("vec_id") === 4)
      .select("embedding").collect()(0).getSeq[Float](0).toArray
    val served = SimilaritySearch.pqTopK(loaded, qv, topK = 5, overFetch = 4)
    assert(served.collect().nonEmpty, "the served query must produce answers")
    val scans = flatten(served.queryExecution.executedPlan).collect {
      case f: FileSourceScanExec
        if f.relation.location.rootPaths.exists(_.toString.contains("graft_v20_planspec")) => f
    }
    assert(scans.nonEmpty, "expected a scan over the persisted encoded tree")
    scans.foreach { f =>
      val schema = f.requiredSchema.fieldNames.toSet
      assert(schema.subsetOf(Set("vec_id", "pq_code", "nrm")),
        s"the coarse scan must read codes only, got $schema")
    }
    // the serve never degrades to a cartesian/nested-loop over the
    // corpus (the only broadcast-nested-loop allowed is the 1-row query)
    val plans = flatten(served.queryExecution.executedPlan)
    assert(!plans.exists(_.isInstanceOf[CartesianProductExec]),
      "pq serve must not plan a cartesian product")
  }

  test("v23 persisted: the probe filter prunes the cluster-partitioned residual tree") {
    // v23's scaladoc sells the direct `cluster IN (…)` probe as
    // partition pruning at scale — this pins it on the PERSISTED
    // layout (r18 verdict #3): a pqSave'd residual tree is
    // cluster-partitioned, and a loaded one-shot serve at nprobe=2
    // must list only the probed directories, never the full tree
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.execution.FileSourceScanExec
    import graft.operators.SimilaritySearch
    val e = graft.engine.Tables.t(spark, dir, "embeddings")
    val corpus = e.filter(col("vec_id") % 7 =!= 4)
      .select(col("vec_id"), col("embedding"))
    val ivf = SimilaritySearch.ivfBuild(corpus, "vec_id", "embedding",
      k = 16, lloydIters = 2, portableSeeds = true)
    val rpq = SimilaritySearch.residualPqBuild(ivf, m = 8, ksub = 16,
      lloydIters = 1, portableSeeds = true)
    val path = "/tmp/graft_v23_planspec"
    SimilaritySearch.pqSave(rpq, path)
    val loaded = SimilaritySearch.pqLoad(spark, path, corpus)
    val qv = e.filter(col("vec_id") === 4)
      .select("embedding").collect()(0).getSeq[Float](0).toArray
    val served = SimilaritySearch.pqTopK(loaded, qv, topK = 5,
      nprobe = 2, overFetch = 4)
    assert(served.collect().nonEmpty, "the loaded serve must produce answers")
    val scans = flatten(served.queryExecution.executedPlan).collect {
      case f: FileSourceScanExec
        if f.relation.location.rootPaths.exists(_.toString.contains("graft_v23_planspec")) => f
    }
    assert(scans.nonEmpty, "expected scans over the persisted encoded tree")
    assert(scans.forall(_.partitionFilters.exists(_.references.exists(_.name == "cluster"))),
      "every persisted residual-code scan must carry a cluster partition filter " +
        s"(got: ${scans.map(_.partitionFilters.mkString(","))})")
    def countParquet(subtree: String): Int = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(
          s"${SimilaritySearch.ivfCurrentPath(spark, path)}/$subtree"))
        .count(_.getName.endsWith(".parquet"))
    }
    val totalFiles = countParquet("encoded")
    val readFiles = scans.map(_.metrics("numFiles").value).max
    assert(readFiles > 0, "executed scan metrics must be populated")
    assert(readFiles < totalFiles,
      s"no pruning: read $readFiles of $totalFiles files for a 2-of-16 probe")
    // and the coarse scan stays codes-only: the floats are fetched
    // after the cut by id join, never in the probed partition scan
    scans.foreach { f =>
      val schema = f.requiredSchema.fieldNames.toSet
      assert(schema.subsetOf(Set("vec_id", "pq_code", "nrm", "cluster")),
        s"the residual coarse scan must read codes only, got $schema")
    }
  }

  test("column pruning reaches the scan on a wide-table projection") {
    val s = planString("q13_customer_distribution")
    // orders is read for (o_orderkey, o_custkey, o_comment)-ish subsets,
    // never the full 9-column schema
    val reads = "ReadSchema: struct<([^>]*)>".r.findAllMatchIn(s).map(_.group(1)).toSeq
    assert(reads.nonEmpty)
    reads.foreach { r =>
      assert(r.split(",").length <= 4, s"scan reads too many columns: $r")
    }
  }
}
