package graft

/** Benchmark main (driver contract): runs the headline queries on
  * `SPARK_GRAFT_SF_DIR` and prints ONE JSON line with per-query seconds.
  *
  * Mirrors the reference's TPC-H runner timing loop
  * (`/root/reference/tpc/src/main.rs:313-341`: plan+collect timed
  * together per query). Results are forced through the `noop` sink so
  * the full plan executes without driver-side collection. A short
  * warm-up query absorbs one-time JVM/codegen cost, as the reference's
  * Criterion benches do with their warm-up phase
  * (`/root/reference/benches/my_benchmark.rs:32-37`).
  */
object Bench {

  /** Representative slice of the inventory: scan-agg, multi-join,
    * window, custom join exec, dedup/LSH, ANN, events. */
  private val headline = Seq(
    "q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier",
    "q6_forecast_revenue", "q9_profit", "q13_customer_distribution",
    "q18_large_orders", "w1_window_rank", "star_join4",
    "x1_star_synthetic", // the reference's own Size256-shape workload
    "j_left_outer", "j_residual_filter", "pj_inner", "pj_right_outer",
    "pjsql_three_way", // transparent SQL→custom-exec path
    "t1_dedup_exact", "t6_minhash_lsh", "t8_ngram_jaccard",
    "t16_block_dedup", "t19_neardup_components",
    "v1_cosine_topk", "v4_embedding_neardup",
    "e1_events_hourly", "e3_sessions",
    // round-4 additions: correlated-min TPC-H shape, SimHash pairing,
    // chunking explosion, TF-IDF window top-k
    "q2_min_cost_supplier", "t21_simhash_neardup", "t24_chunk_overlap",
    "t25_tfidf",
    // round-6 addition: iterative integer-fixed-point PageRank.
    "gr1_pagerank_copurchase",
    // round-9 addition: the composed dedup→quality→language→packing
    // curation pipeline (NB: totals before r9 cover 29 queries, after
    // 30 — compare per-query across rounds, not totals)
    "t30_curation_pipeline",
    // round-10 additions (totals after r10 cover 33 queries):
    // gr2 joins the headline now that the deg-persist + pre-partitioned
    // wedge join + one-pass corner credit cut it 32.9 s → ~7 s — it was
    // excluded only for dominating the total, and the heaviest op
    // deserves drift detection; v7/v8 are the int8-quantized ANN and
    // pairwise-near-dup paths (integer coarse scoring + exact
    // rerank/verify). v9 (IVF-SQ8) stays off-headline like v5: the
    // per-invocation Lloyd build would dominate its reading.
    "gr2_triangle_count", "v7_quantized_ann", "v8_quantized_neardup",
    // round-13 additions (totals after r13 cover 36 queries): the
    // incremental-ingest trilogy — delta-vs-corpus text dedup, the
    // flat-kernel embedding twin, and IVF assignment without rebuild.
    // v14 (IVF×incremental) stays off-headline like v5/v9: its
    // per-invocation ivfBuild would dominate the reading (solo
    // artifacts: results/v14_sf{1,10}_r14.json)
    "t26_incremental_dedup", "v12_incremental_embedding_dedup",
    "v13_incremental_ivf_assign")

  /** The full headline slice, exposed for tooling (ExplainDump). */
  def headlineNames: Seq[String] = headline

  def main(args: Array[String]): Unit = {
    // optional arg: comma-separated query names for a focused local
    // measurement (the driver always calls with no args → full slice)
    val slice: Seq[String] =
      if (args.nonEmpty) args(0).split(",").toSeq.filter(_.nonEmpty) else headline
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.engine.GraftSession.build(s"local[$cpus]", cpus.toInt)
    // same hook as Verify: A/B a config (e.g. the build-map layout or
    // required-mode conversion) over any bench slice
    val extraConf = sys.env.getOrElse("SPARK_GRAFT_EXTRA_CONF", "")
    extraConf.split(";").foreach { kv =>
      kv.split("=", 2) match {
        case Array(k, v) if k.nonEmpty => spark.conf.set(k.trim, v.trim)
        case _ =>
      }
    }

    // Warm-up and canary are NOT allowed to be single points of failure
    // (round-12 verdict #2: the canary's ANSI overflow killed the whole
    // artifact before the first measurement). A throw here degrades the
    // run — canary_sec:-1, a stderr note — but the per-query loop still
    // produces an adjudicable-degraded JSON the driver can parse.
    def guarded(label: String)(body: => Double): Double =
      try body catch {
        case e: Throwable =>
          System.err.println(s"[bench] $label failed (degraded, continuing): ${e.getMessage}")
          -1.0
      }

    // warm-up: JVM + parquet footer + codegen paths
    guarded("warm-up q6") {
      SparkEntry.queries("q6_forecast_revenue")(spark, sfDir)
        .write.mode("overwrite").format("noop").save()
      0.0
    }

    // host-band canary, sampled at both ends of the run (see
    // BenchProtocol.canarySeconds): canary_sec calibrates cross-round
    // ratios, canary_drift exposes intra-run band movement
    val canaryStart = guarded("canary(start)")(graft.tools.BenchProtocol.canarySeconds(spark))
    // second canary AXIS: a fixed synthetic shuffle (bandwidth/IO probe,
    // BenchProtocol.canaryShuffleSeconds) — attribution only, the CPU
    // canary above stays the normalizer
    val canaryShStart =
      guarded("canary_shuffle(start)")(graft.tools.BenchProtocol.canaryShuffleSeconds(spark))

    // One warm-up + median-of-5 per query: the warm-up run materializes
    // the query's plan-keyed caches and codegen so the 5 measured
    // samples are statistically homogeneous (warm); the MEDIAN is the
    // headline — unlike best-of-N it is robust to a host steal phase
    // hitting one sample, and unlike the mean it ignores a single
    // outlier entirely. All per-sample wall times and per-query GC time
    // are emitted so a contended run is adjudicable from the artifact
    // alone (round 5's 2.8x paper regression was unattributable without
    // them). Queries whose relative spread still exceeds
    // BenchProtocol.EscalationTrigger after 5 samples get 2 escalation
    // samples.
    def gcMillis(): Long = {
      val beans = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      var total = 0L
      beans.forEach(b => if (b.getCollectionTime > 0) total += b.getCollectionTime)
      total
    }
    import graft.tools.BenchProtocol.median
    // Per-SAMPLE wall-clock start timestamp (epoch seconds) and GC time
    // (seconds spent in collections DURING that sample) ride along with
    // every measured duration (round-15 verdict #2): the r15 refusal had
    // CLEAN canaries yet 10–19x outlier samples, so the artifact now
    // carries the data to discriminate a host burst shorter than the
    // canary sampling interval (outlier sample, flat gc, and — across
    // runs — outliers clustering at the same wall-clock moment) from a
    // JVM-internal stall (gc seconds concentrated in the outlier sample).
    case class Sample(sec: Double, tsEpoch: Double, gcSec: Double)
    val sampled: Seq[(String, Seq[Sample], Double, Double)] = slice.flatMap { name =>
      SparkEntry.queries.get(name).map { fn =>
        // ~0.1 s host-band probe BEFORE each query (round-16 bimodality
        // adjudication — see BenchProtocol.MicroCanaryRows): the two
        // full-size canaries bracket the whole run and cannot see a
        // sub-minute mid-run burst; this one time-resolves the band to
        // query granularity. Never counted into the query's timing.
        val cpre = guarded(s"canary_pre($name)")(
          graft.tools.BenchProtocol.microCanarySeconds(spark))
        def once(): Sample = {
          val ts0 = System.currentTimeMillis() / 1000.0
          val g0 = gcMillis()
          val t0 = System.nanoTime()
          try {
            fn(spark, sfDir).write.mode("overwrite").format("noop").save()
            Sample((System.nanoTime() - t0) / 1e9, ts0, (gcMillis() - g0) / 1000.0)
          } catch {
            case e: Throwable =>
              System.err.println(s"[bench] $name failed: ${e.getMessage}")
              // failures surface as -1, never as a fast timing
              Sample(-1.0, ts0, (gcMillis() - g0) / 1000.0)
          }
        }
        val gc0 = gcMillis()
        val warm = once() // not recorded: builds caches + codegen
        // wide-row protocol (r21 verdict #5, twice-carried): the
        // historically widest rows take 9 designed samples — median-of-9
        // absorbs up to 4 host-burst samples where median-of-5 absorbs 2
        // (the r21 adjudicated run spliced gr2/t21/t8 for exactly this).
        // Membership is BenchProtocol.WideRows, stamped on the artifact.
        val designed = graft.tools.BenchProtocol.designedSamples(name)
        val base =
          if (warm.sec < 0.0) Seq(warm) // fail fast, skip the sample loop
          else Seq.fill(designed)(once())
        val ok = base.forall(_.sec >= 0.0)
        val baseSecs = base.map(_.sec)
        val times =
          if (ok && baseSecs.min > 0 && (baseSecs.max - baseSecs.min) / median(baseSecs) >
              graft.tools.BenchProtocol.EscalationTrigger)
            base ++ Seq(once(), once())
          else base
        val gcSec = (gcMillis() - gc0) / 1000.0
        // Drop this query's persisted tables before the next query runs:
        // the dedup/LSH pipelines persist multi-million-row intermediates
        // and CacheManager keeps every invocation's cache alive, so a
        // 28-query run otherwise accumulates gigabytes of cached blocks
        // and the tail of the run measures GC pressure, not the query
        // (samples WITHIN a query still share cache, as before).
        // The explicit gc() lets the ContextCleaner reap checkpoint and
        // shuffle blocks whose references just died — without it the
        // weak-reference queue only drains on a natural collection, and
        // the NEXT query starts against an inflated old gen.
        spark.catalog.clearCache()
        System.gc()
        (name, times, gcSec, cpre)
      }
    }
    val results = sampled.map { case (name, times, _, _) =>
      val secs = times.map(_.sec)
      name -> (if (secs.contains(-1.0)) -1.0 else median(secs))
    }
    val samplesJson = sampled.map { case (k, ts, _, _) =>
      "\"" + k + "\":" + ts.map(t => f"${t.sec}%.3f").mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    // aligned index-for-index with `samples`: epoch-seconds start of each
    // measured sample, and GC seconds attributed to that sample alone
    val samplesTsJson = sampled.map { case (k, ts, _, _) =>
      "\"" + k + "\":" + ts.map(t => f"${t.tsEpoch}%.3f").mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    val samplesGcJson = sampled.map { case (k, ts, _, _) =>
      "\"" + k + "\":" + ts.map(t => f"${t.gcSec}%.3f").mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    val gcJson = sampled.map { case (k, _, g, _) =>
      "\"" + k + "\":" + f"$g%.3f"
    }.mkString("{", ",", "}")
    // the per-query micro-canary readings, in run order (see above)
    val canaryPreJson = sampled.map { case (k, _, _, c) =>
      "\"" + k + "\":" + f"$c%.3f"
    }.mkString("{", ",", "}")
    // Mechanical burst classification (round-16 verdict #2): every query
    // whose own window carries an outlier is classified host-burst vs
    // jvm-internal from the instrumentation this artifact already emits
    // (per-sample GC, canary_pre vs the run's median probe) — the
    // signature table of results/gr2_diag_r16/README.md, consumed by
    // code instead of humans. Queries without an outlier are absent.
    val cpreNominal = {
      val pos = sampled.map(_._4).filter(_ > 0)
      if (pos.nonEmpty) Some(median(pos)) else None
    }
    val suspectKinds: Seq[(String, String)] = sampled.flatMap {
      case (k, ts, gcTot, cpre) =>
        val kind = graft.tools.BenchProtocol.suspectKind(
          ts.map(_.sec), Some(ts.map(_.gcSec)), Some(gcTot),
          if (cpre > 0) Some(cpre) else None, cpreNominal)
        if (kind == "none") None else Some(k -> kind)
    }
    val suspectKindJson = suspectKinds.map { case (k, v) =>
      "\"" + k + "\":\"" + v + "\""
    }.mkString("{", ",", "}")
    val spread = sampled.map { case (k, ts, _, _) =>
      val secs = ts.map(_.sec)
      "\"" + k + "\":" + f"[${secs.min}%.3f,${secs.max}%.3f]"
    }.mkString("{", ",", "}")
    // a failed query must invalidate the run visibly, not shrink the
    // total: sentinels are excluded from the sum and listed in `failed`
    val (ok, bad) = results.partition(_._2 >= 0.0)
    val total = ok.map(_._2).sum
    val failed = bad.map("\"" + _._1 + "\"").mkString("[", ",", "]")
    // mean relative in-run spread ((max-min)/median) over succeeding
    // queries: the noise floor a cross-run comparison must clear. Warm
    // samples only (the cold run is excluded), so this measures host
    // noise, not cache warm-up.
    val okNames = ok.map(_._1).toSet
    val okSamples = sampled.collect { case (k, ts, _, _) if okNames(k) => ts.map(_.sec) }
    // designed counts ride along so the trimmed statistic knows which
    // queries actually escalated (size > designed) vs which are wide
    // rows that legitimately carry 9 samples
    val okSamplesDesigned = sampled.collect {
      case (k, ts, _, _) if okNames(k) =>
        (ts.map(_.sec), graft.tools.BenchProtocol.designedSamples(k))
    }
    val variance = graft.tools.BenchProtocol.meanRelSpread(okSamples)
    // the gating statistic: same mean relSpread, but each ESCALATED
    // query (the sampler flagged its own window and bought replacement
    // samples) drops its single attributed host-steal sample first —
    // see BenchProtocol.meanRelSpreadTrimmed's scaladoc. Both numbers
    // are emitted; `variance` keeps its historic raw semantics for
    // cross-round reading.
    val varianceTrimmed =
      graft.tools.BenchProtocol.meanRelSpreadTrimmed(okSamplesDesigned)
    // Adjudicability gate (shared with TpcRunner via BenchProtocol): a
    // run with any failed query, or with mean relative spread above the
    // floor (host contention — rounds 7 and 8 both shipped variance
    // > 1.3 artifacts that could not be compared to anything), is NOT a
    // usable performance artifact. Stamp it in the JSON and exit
    // non-zero so automation gating on rc cannot mistake a polluted run
    // for a green one.
    val adjudicable =
      graft.tools.BenchProtocol.adjudicable(bad.nonEmpty, varianceTrimmed)
    // mechanical drift adjudication (round-9 verdict #8): per-query
    // ratio vs the standing last-good artifact, computed BEFORE this run
    // may overwrite the slot. Only queries present and >0 in both runs.
    val (lastGood: Map[String, Double], lastGoodVariance: Option[Double],
        lastGoodCanary: Option[Double], lastGoodSf: Option[String],
        lastGoodCpus: Option[String]) = try {
      val p = java.nio.file.Paths.get("bench_last_good.json")
      if (java.nio.file.Files.exists(p)) {
        val om = new com.fasterxml.jackson.databind.ObjectMapper()
        val root = om.readTree(java.nio.file.Files.readString(p))
        val q = root.get("queries")
        val qs =
          if (q == null) Map.empty[String, Double]
          else {
            val b = Map.newBuilder[String, Double]
            q.fields().forEachRemaining(e => b += e.getKey -> e.getValue.asDouble())
            b.result()
          }
        // gate against the standing artifact's TRIMMED variance when it
        // has one (post-r13 artifacts); older artifacts fall back to raw
        val v = Option(root.get("variance_trimmed"))
          .orElse(Option(root.get("variance"))).map(_.asDouble())
        val c = Option(root.get("canary_sec")).map(_.asDouble()).filter(_ > 0)
        val sf = Option(root.get("sf")).map(_.asText())
        val cp = Option(root.get("cpus")).map(_.asText())
        (qs, v, c, sf, cp)
      } else (Map.empty[String, Double], None, None, None, None)
    } catch { case _: Exception =>
      (Map.empty[String, Double], None, None, None, None) }
    // canary at the run's tail: the band can shift DURING a 30 s run.
    // Either sample failing yields canary_sec:-1 / canary_drift:0 —
    // normalization is then unavailable but the artifact stays whole.
    val canaryEnd = guarded("canary(end)")(graft.tools.BenchProtocol.canarySeconds(spark))
    val canary =
      if (canaryStart > 0 && canaryEnd > 0) (canaryStart + canaryEnd) / 2.0 else -1.0
    val canaryDrift =
      if (canaryStart > 0 && canaryEnd > 0) (canaryEnd - canaryStart) / canaryStart else 0.0
    val canaryShEnd =
      guarded("canary_shuffle(end)")(graft.tools.BenchProtocol.canaryShuffleSeconds(spark))
    val canaryShuffle =
      if (canaryShStart > 0 && canaryShEnd > 0) (canaryShStart + canaryShEnd) / 2.0 else -1.0
    val canaryShuffleDrift =
      if (canaryShStart > 0 && canaryShEnd > 0) (canaryShEnd - canaryShStart) / canaryShStart
      else 0.0
    val extraConfJson = graft.tools.BenchProtocol.jsonEscape(extraConf)
    // cross-scale readings are never comparable: both ratio maps (and
    // the slot overwrite below) are suppressed when this run's sf
    // differs from the standing artifact's (found in review: the first
    // sf-pin protected only the SLOT, while the emitted artifact still
    // printed meaningless 0.01-style cross-scale ratios)
    val sfMatches = lastGoodSf.forall(_ == sfDir)
    // CORE-COUNT PIN (found live in round 22: the r21 DRIVER'S own
    // 8-core scaling run — a full-headline, standard-config, same-sf
    // run — silently took the standing slot, so the next 32-core run
    // compared against 8-core medians and read phantom 1.3–6× ratios;
    // its canary 6.468 s vs ~2.1 was the tell). Same contract as the sf
    // pin: cross-core readings are never comparable — ratios are
    // suppressed and the slot is never overwritten across a core-count
    // change. A standing artifact predating the `cpus` field never
    // blocks (first write wins), exactly like the sf pin.
    val cpusMatches = lastGoodCpus.forall(_ == cpus)
    // ONE artifact-line builder for both the run output and the standing
    // slot, so a spliced slot (see below) carries exactly the same field
    // set plus the `spliced` stamp. `res` is the per-query medians the
    // line reports; samples/spread/gc/variance/canary always describe
    // THIS run (a splice swaps medians only, and says so).
    def artifactLine(res: Seq[(String, Double)], spliced: Seq[String]): String = {
      val qs = res.map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }
        .mkString("{", ",", "}")
      val total = res.collect { case (_, v) if v >= 0.0 => v }.sum
      val failed = res.collect { case (k, v) if v < 0.0 => "\"" + k + "\"" }
        .mkString("[", ",", "]")
      val ratios =
        if (!sfMatches || !cpusMatches) "{}"
        else res.collect {
          case (k, v) if v > 0 && lastGood.get(k).exists(_ > 0) =>
            "\"" + k + "\":" + f"${v / lastGood(k)}%.3f"
        }.mkString("{", ",", "}")
      // canary-normalized cross-round ratios: raw ratio ÷ (this run's
      // canary / standing run's canary). A host-band shift inflates raw
      // ratios AND the canary ratio by the same factor; a real code
      // regression inflates only the former. Present only when the
      // standing artifact carries a canary (post-r12 artifacts).
      val ratiosNorm = lastGoodCanary
        .filter(_ => canary > 0 && sfMatches && cpusMatches).map { lgc =>
          val factor = canary / lgc
          res.collect {
            case (k, v) if v > 0 && lastGood.get(k).exists(_ > 0) =>
              "\"" + k + "\":" + f"${v / lastGood(k) / factor}%.3f"
          }.mkString("{", ",", "}")
        }.getOrElse("{}")
      val splicedJson = spliced.map("\"" + _ + "\"").mkString("[", ",", "]")
      // norm_parity_band: the empirically derived same-code band for the
      // canary-norm ratios (round-13 verdict #3) — readings inside it
      // are parity BY THE ARTIFACT'S OWN DECLARATION, not by prose
      val (pLo, pHi) = graft.tools.BenchProtocol.NormParityBand
      // method records the measurement protocol INCLUDING the per-query
      // ~0.1 s micro-canary that runs before every headline query since
      // r16 (round-16 advice: the changed inter-query environment must be
      // flagged on the artifact, not only inferable from the canary_pre
      // field's presence) — artifacts reading "median5_warm1" alone
      // predate the probe
      // method "median5w9_warm1_cpre" since r22: the wide rows (listed
      // in `wide_rows`) carry 9 designed samples, everything else 5 —
      // artifacts reading "median5_warm1_cpre" predate the protocol
      // host_cpus: the cores the JVM sees, next to the requested `cpus`
      // the standing-slot pin keys on — a run asking for more cores than
      // the host has shows it here
      val hostCpus = Runtime.getRuntime.availableProcessors
      val wideJson = slice.filter(graft.tools.BenchProtocol.WideRows)
        .map("\"" + _ + "\"").mkString("[", ",", "]")
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","method":"median5w9_warm1_cpre","provenance":"live","cpus":"$cpus","host_cpus":$hostCpus,"wide_rows":$wideJson,"adjudicable":$adjudicable,"adjudicable_live":$adjudicable,"extra_conf":"$extraConfJson","canary_sec":$canary%.3f,"canary_drift":$canaryDrift%.3f,"canary_shuffle_sec":$canaryShuffle%.3f,"canary_shuffle_drift":$canaryShuffleDrift%.3f,"norm_parity_band":[$pLo%.2f,$pHi%.2f],"spliced":$splicedJson,"queries":$qs,"ratio_vs_last_good":$ratios,"ratio_vs_last_good_canary_norm":$ratiosNorm,"samples":$samplesJson,"samples_ts":$samplesTsJson,"samples_gc":$samplesGcJson,"canary_pre":$canaryPreJson,"gc_sec":$gcJson,"suspect_kind":$suspectKindJson,"spread":$spread,"variance":$variance%.3f,"variance_trimmed":$varianceTrimmed%.3f,"failed":$failed,"sf":"$sfDir"}"""
    }
    val line = artifactLine(results, Nil)
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_output.json")
    // SELF-CONTAINED REFUSAL (round-17 verdict #3): when this window is
    // not adjudicable and a standing same-sf slot exists, the archived
    // artifact is the STANDING numbers stamped provenance:"standing-slot"
    // + the refusal reason + this window's canaries — the per-round
    // BENCH_r<N>.json series then always carries an adjudicable number
    // whatever the host weather. The refused window's own full line is
    // preserved next to it (bench_refused.json), and rc stays non-zero:
    // automation still learns the live window failed.
    val emitted: String =
      if (adjudicable) line
      else {
        val suspectNote =
          if (suspectKinds.isEmpty) ""
          else suspectKinds.map { case (k, v) => s"$k=$v" }
            .mkString(" [suspect windows: ", ", ", "]")
        val reason =
          f"not adjudicable: variance_trimmed=$varianceTrimmed%.3f (raw $variance%.3f, " +
            f"floor ${graft.tools.BenchProtocol.VarianceFloor}), failed=$failed$suspectNote"
        val standingRaw = try {
          val p = java.nio.file.Paths.get("bench_last_good.json")
          if (java.nio.file.Files.exists(p)) Some(java.nio.file.Files.readString(p))
          else None
        } catch { case _: Exception => None }
        // the fallback applies ONLY to what the standing slot can stand
        // in for: a full-headline run under the standard config at the
        // standing sf (review: without the args/extraConf gate, a
        // refused FOCUSED slice or A/B run would archive the whole-
        // suite standing line — a grossly wrong artifact for that
        // slice — exactly the slot-overwrite conditions below)
        // stricter than the ratio paths' lenient forall: a standing
        // artifact that PREDATES the sf field must not stand in for a
        // refused run (it could be a cross-scale line — advice r18);
        // the fallback requires the field present AND equal
        val fallback = standingRaw
          .filter(_ => lastGoodSf.contains(sfDir) && lastGoodCpus.contains(cpus) &&
            args.isEmpty && extraConf.isEmpty)
          .flatMap(raw => graft.tools.BenchProtocol.standingFallbackLine(
            raw, reason, canary, canaryShuffle, varianceTrimmed,
            bad.map(_._1)))
        fallback match {
          case Some(fb) =>
            System.err.println(
              "[bench] window refused — archiving the standing slot with " +
                "provenance:standing-slot (refused window preserved in bench_refused.json)")
            java.nio.file.Files.writeString(
              java.nio.file.Paths.get("bench_refused.json"), line + "\n")
            fb
          case None => line // nothing to fall back to: the refused line stands alone
        }
      }
    // the artifact line to a stable file so the driver's parser never has
    // to fish it out of sbt log decorations; the STDOUT copy prints as
    // the LAST line of main (after spark.stop() and every notice) so a
    // tail-capture that only keeps the final lines still finds it —
    // BENCH_r18.json parsed null because the line printed BEFORE the
    // slot-keep notice and the Spark shutdown chatter (r18 verdict #5)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outPath), emitted + "\n")
    // the standing "last known good" slot is only ever overwritten by an
    // adjudicable run of the FULL headline slice under the STANDARD
    // config — focused slices, A/B runs (non-empty extra conf, echoed in
    // the line above so an artifact's config is never ambiguous), and
    // polluted runs live solely in their own out files / per-round archive.
    // MONOTONE-NOISE GUARD (round-10 verdict #5): an adjudicable-but-
    // noisier run must not shadow a cleaner standing artifact — round 10
    // ended with a 0.472-variance run silently replacing the committed
    // 0.253 one. Refuse the overwrite when this run's variance exceeds
    // the standing artifact's by more than 0.1 (bench_output.json above
    // is still always written).
    // SCALE-FACTOR PIN (found live in round 14: a full-slice smoke run
    // at sf0.001 silently replaced the sf0.1 standing artifact — the
    // overwrite conditions never looked at the data scale): the slot
    // only ever compares LIKE WITH LIKE, so a run at any other sfDir
    // than the standing artifact's is archived in its own out file but
    // can never become the baseline. A missing/old-format standing sf
    // never blocks (first write wins).
    if (adjudicable && args.isEmpty && extraConf.isEmpty && !sfMatches)
      System.err.println(
        s"[bench] keeping standing bench_last_good.json: this run's sf '$sfDir' " +
          s"differs from the standing artifact's '${lastGoodSf.get}' — cross-scale " +
          "readings are never comparable")
    if (adjudicable && args.isEmpty && extraConf.isEmpty && sfMatches && !cpusMatches)
      System.err.println(
        s"[bench] keeping standing bench_last_good.json: this run's core count " +
          s"'$cpus' differs from the standing artifact's '${lastGoodCpus.get}' — " +
          "cross-core readings are never comparable (the r21 c8 scaling run took " +
          "the 32-core slot exactly this way)")
    if (adjudicable && args.isEmpty && extraConf.isEmpty && sfMatches && cpusMatches) {
      val noisier = graft.tools.BenchProtocol.noisierThanStanding(
        varianceTrimmed, lastGoodVariance)
      // escape hatch (round-11 advice): if the host band durably
      // degrades, every future run would be refused and the slot could
      // never move again — the explicit override force-accepts this
      // run as the new baseline
      val forceAccept = sys.env.get("SPARK_GRAFT_BENCH_ACCEPT_BASELINE")
        .exists(v => v == "1" || v.equalsIgnoreCase("true"))
      // BANDWIDTH-BURST PIN (round-14 verdict #1c): the r14 pollution
      // incident's artifact carried canary_shuffle_drift 1.241 — the
      // shuffle canary more than doubled during the run — while every
      // committed standing artifact reads |drift| ≤ 0.29. A run whose
      // bandwidth axis was visibly bursting must not become the
      // baseline, whatever its per-query medians say: shuffle-heavy
      // queries are exactly the ones the burst distorts and the CPU
      // canary cannot see it. bench_output.json is still written above.
      // an UNAVAILABLE shuffle canary (either sample failed → sec -1,
      // drift 0.0) must also refuse: a host busy enough to kill the
      // canary is exactly the burst condition, and letting drift
      // default to 0.0 would silently bypass the pin (self-review)
      // FIRST-WRITE EXEMPTION (round-15 advice): with no standing
      // artifact at all, refusing on the shuffle axis would make the very
      // first baseline write impossible on a host whose guarded shuffle
      // canary fails — unlike the sf pin, which deliberately lets first
      // write win. The first-ever write goes through with a warning; once
      // a slot exists, the full pin applies. Keyed on FILE EXISTENCE, not
      // on the parsed map (self-review: the parser catches all exceptions
      // into an empty map, so a corrupt standing file would otherwise
      // read as "no artifact" and let a bursting run overwrite the real
      // baseline the pin exists to protect).
      val firstWrite =
        !java.nio.file.Files.exists(java.nio.file.Paths.get("bench_last_good.json"))
      val shuffleBurst = canaryShuffle < 0 ||
        math.abs(canaryShuffleDrift) > graft.tools.BenchProtocol.ShuffleDriftBand
      // ONE decision expression for the slot write (round-16 advice: the
      // first-write exemption was a dangling warning-only `if` beside the
      // if/else-if chain that actually gated the write — it held only
      // because `noisier` cannot fire with no standing artifact, and a
      // future edit to the chain could have silently inverted it).
      // None = this run may take the slot; Some(msg) = refuse, saying why.
      // The burst-window refusal messages carry the suspect classification
      // (round-16 verdict #2) so the artifact's reader learns the
      // mechanism, not just the refusal.
      val suspectNote =
        if (suspectKinds.isEmpty) ""
        else suspectKinds.map { case (k, v) => s"$k=$v" }
          .mkString(" [suspect windows: ", ", ", "]")
      val refuseReason: Option[String] =
        if (forceAccept) None
        else if (shuffleBurst && firstWrite) {
          // first-write exemption (round-15 advice): with no standing
          // artifact, refusing on the shuffle axis would make the very
          // first baseline write impossible — warn, but write
          System.err.println(
            "[bench] WARNING: shuffle canary unavailable/bursting but no standing " +
              "bench_last_good.json exists — allowing the first-ever slot write " +
              "(first-write-wins, matching the sf pin)")
          None
        } else if (shuffleBurst && canaryShuffle < 0)
          Some(
            "[bench] keeping standing bench_last_good.json: the shuffle canary " +
              "failed, so the bandwidth-burst signal is unavailable " +
              "(set SPARK_GRAFT_BENCH_ACCEPT_BASELINE=1 to force-accept)" + suspectNote)
        else if (shuffleBurst)
          Some(
            f"[bench] keeping standing bench_last_good.json: |canary_shuffle_drift| $canaryShuffleDrift%.3f " +
              f"exceeds ${graft.tools.BenchProtocol.ShuffleDriftBand}%.2f — the bandwidth axis was bursting " +
              "during this run (set SPARK_GRAFT_BENCH_ACCEPT_BASELINE=1 to force-accept)" + suspectNote)
        else if (noisier)
          Some(
            f"[bench] keeping standing bench_last_good.json: this run's trimmed variance $varianceTrimmed%.3f " +
              f"exceeds the standing ${lastGoodVariance.get}%.3f by more than ${graft.tools.BenchProtocol.NoiseDegradeTolerance}%.2f " +
              "(set SPARK_GRAFT_BENCH_ACCEPT_BASELINE=1 to force-accept if the host band has durably degraded)" + suspectNote)
        else None
      refuseReason match {
        case Some(msg) => System.err.println(msg)
        case None =>
        {
        // PER-QUERY pollution guard (round-13 verdict #1): the r13
        // driver run wrote a bimodal 3.0 s t26 reading over the
        // committed 0.699 s past BOTH suite-level gates. A query whose
        // median moved >2x vs standing while its own sample window
        // reaches back into the standing regime keeps the STANDING
        // value in the slot (spliced, and stamped as such on the
        // artifact); the force-accept hatch bypasses this too — it is
        // how a deliberate, supervised regeneration replaces a standing
        // value the guard would otherwise defend.
        val suspects =
          if (forceAccept) Seq.empty[String]
          else graft.tools.BenchProtocol.bimodalSuspects(
            results.toMap,
            sampled.map { case (k, ts, _, _) => k -> ts.map(_.sec) }.toMap,
            lastGood)
        val slotLine =
          if (suspects.isEmpty) line
          else {
            // name the mechanism for each spliced query when the
            // classifier has one (round-16 verdict #2)
            val kinds = suspectKinds.toMap
            System.err.println(
              s"[bench] bimodal-suspect queries vs standing — splicing standing " +
                s"medians into bench_last_good.json: " +
                suspects.map(q => s"$q(${kinds.getOrElse(q, "unclassified")})")
                  .mkString(", "))
            artifactLine(
              results.map { case (k, v) =>
                k -> (if (suspects.contains(k)) lastGood(k) else v)
              }, suspects)
          }
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get("bench_last_good.json"), slotLine + "\n")
        }
      }
    }
    spark.stop()
    // the full line first, then its ≤~250-byte compact distillation as
    // the TRUE last line (r19 verdict #2): the full line is ~20 KB and
    // a bounded tail-capture truncates its head beyond recovery — two
    // rounds of `parsed: null` even with the line printing last; a
    // tail parser now always finds a complete JSON object in its window
    def printArtifact(): Unit = {
      println(emitted)
      graft.tools.BenchProtocol.compactArtifactLine(emitted).foreach(println)
    }
    if (!adjudicable) {
      System.err.println(
        f"[bench] NOT ADJUDICABLE: variance_trimmed=$varianceTrimmed%.3f (raw $variance%.3f, floor ${graft.tools.BenchProtocol.VarianceFloor}), failed=$failed" +
          (if (suspectKinds.isEmpty) ""
           else suspectKinds.map { case (k, v) => s"$k=$v" }
             .mkString(" [suspect windows: ", ", ", "]")))
      printArtifact()
      sys.exit(1)
    }
    printArtifact()
  }
}
