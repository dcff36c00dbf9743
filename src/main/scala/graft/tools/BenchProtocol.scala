package graft.tools

/** The adjudicability protocol shared by the two benchmark drivers
  * (`graft.Bench` at sf0.1 and [[TpcRunner]] at sf1) — one definition of
  * the statistics and the gate so the drivers cannot drift (round-9
  * advice: the two gates shared a comment but not code).
  *
  * Two dispersion statistics, two exposure regimes:
  *   - [[meanRelSpread]] — mean per-query (max−min)/median. The honest
  *     noise floor for SHORT runs (sf0.1, ~30 s exposure), where a quiet
  *     window is realistic.
  *   - [[trimmedSpread]] — mean per-query (second-min−min)/min. The
  *     pollution-robust floor for LONG runs (sf1, minutes of exposure on
  *     a bursty host): contention on this host is strictly additive
  *     (5–20× spikes on isolated samples — results/tpc_sf1_r9/README),
  *     so the MINIMUM is the reproducible statistic and its stability is
  *     evidenced by the two smallest samples agreeing. A run where every
  *     query's two best samples agree is adjudicable on its best-of-N
  *     headline even when isolated spikes blow the full spread past any
  *     floor.
  */
object BenchProtocol {

  /** Dispersion above this means the chosen statistic is noise-dominated
    * and the run must not stand as a performance artifact. */
  val VarianceFloor = 0.5

  def median(ts: Seq[Double]): Double = {
    val s = ts.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** Relative spread of one query's samples: (max−min)/median. */
  def relSpread(ts: Seq[Double]): Double =
    if (ts.size < 2 || median(ts) <= 0) 0.0 else (ts.max - ts.min) / median(ts)

  /** Agreement of one query's two smallest samples: (s2−s1)/s1 — the
    * dispersion of the best-of-N statistic itself. 0 for n<2. */
  def pairSpread(ts: Seq[Double]): Double =
    if (ts.size < 2) 0.0
    else {
      val s = ts.sorted
      if (s.head <= 0) 0.0 else (s(1) - s.head) / s.head
    }

  /** Mean per-query relative spread — the full-spread noise floor. */
  def meanRelSpread(samples: Seq[Seq[Double]]): Double = {
    val rels = samples.collect { case ts if ts.nonEmpty && ts.min > 0 => relSpread(ts) }
    if (rels.nonEmpty) rels.sum / rels.size else 0.0
  }

  /** [[meanRelSpread]] with the escalation made meaningful: a query
    * that carries MORE than the designed 5 warm samples was flagged by
    * the sampler itself (relSpread > [[EscalationTrigger]] after 5) and bought 2
    * replacement samples — for those queries alone, the single worst
    * sample is dropped before the spread is taken. Rationale: this
    * host's contention is additive spikes on isolated samples
    * (results/tpc_sf1_r9/README); escalation exists to attribute one
    * such steal, and counting the attributed steal in max−min anyway
    * made escalation pure theater — a 7-sample query with one 4× spike
    * and six tight samples read the same spread as a genuinely unstable
    * one. Conservative by construction: non-escalated queries are
    * untouched, only ONE sample may be dropped, so a second spike (or
    * true bimodality, which gc_sec would also show) still blows the
    * floor. Both statistics are emitted on the artifact; this one
    * gates. */
  def meanRelSpreadTrimmed(samples: Seq[Seq[Double]]): Double =
    meanRelSpreadTrimmed(samples.map(ts => (ts, 5)))

  /** [[meanRelSpreadTrimmed]] with per-query designed sample counts —
    * the wide-row protocol (see [[WideRows]]) designs 9 samples for the
    * historically widest rows, so "escalated" is `size > designed`, not
    * the legacy `size > 5` (which would have silently treated every
    * wide row as escalated and dropped its worst sample by default). */
  def meanRelSpreadTrimmed(samples: Seq[(Seq[Double], Int)])(
      implicit d: DummyImplicit): Double = {
    val rels = samples.collect {
      case (ts, designed) if ts.nonEmpty && ts.min > 0 =>
        relSpread(if (ts.size > designed) ts.sorted.dropRight(1) else ts)
    }
    if (rels.nonEmpty) rels.sum / rels.size else 0.0
  }

  /** Mean per-query best-pair spread — the trimmed-min noise floor. */
  def trimmedSpread(samples: Seq[Seq[Double]]): Double = {
    val rels = samples.collect { case ts if ts.nonEmpty && ts.min > 0 => pairSpread(ts) }
    if (rels.nonEmpty) rels.sum / rels.size else 0.0
  }

  /** THE gate: any failed query, or dispersion past the floor, and the
    * run is not a usable comparable. Which dispersion statistic to pass
    * is the driver's exposure-regime choice (see class doc). */
  def adjudicable(anyFailed: Boolean, dispersion: Double): Boolean =
    !anyFailed && dispersion <= VarianceFloor

  /** How much noisier than the standing last-good artifact a new run may
    * be and still replace it. Keeps the slot monotone-ish in cleanliness:
    * small drift is fine (hosts vary), but an adjudicable-yet-clearly-
    * noisier run must not shadow a cleaner committed baseline. */
  val NoiseDegradeTolerance = 0.1

  /** True when the candidate run is too noisy to replace the standing
    * last-good artifact (see [[NoiseDegradeTolerance]]). A missing
    * standing variance (no artifact yet / old format) never blocks. */
  def noisierThanStanding(candidate: Double, standing: Option[Double]): Boolean =
    standing.exists(s => candidate > s + NoiseDegradeTolerance)

  /** Per-query relSpread above which the sampler buys 2 replacement
    * samples after the designed count. Lowered 1.0 → 0.5 (round-13
    * verdict #1): the r13 pollution incident's t26 window read 0.74 and
    * so never bought the extra samples that would have exposed its
    * bimodality. */
  val EscalationTrigger = 0.5

  /** WIDE-ROW sampling protocol (r20 verdict #4, carried to r21 #6 —
    * twice-burned): queries whose historical trimmed spread repeatedly
    * exceeds [[EscalationTrigger]] on this host (gr2/t21/t8 were spliced
    * in the r21 adjudicated run; gr1 is the suite's widest stable row).
    * These rows take NINE designed samples instead of five: the median
    * of 9 absorbs up to 4 host-burst samples where median-of-5 absorbs
    * 2, which is what the r21 window needed (gr2's first sample read
    * 34.6 s against 4.3–4.6 s thereafter). Membership is static and
    * versioned here — the artifact stamps it (`wide_rows`) so a reader
    * never has to infer the per-query design from sample counts. */
  val WideRows: Set[String] = Set(
    "gr1_pagerank_copurchase", "gr2_triangle_count",
    "t8_ngram_jaccard", "t21_simhash_neardup")

  /** Designed (pre-escalation) warm sample count for one query. */
  def designedSamples(query: String): Int = if (WideRows(query)) 9 else 5

  /** Bimodal-suspect ratio for the standing-slot overwrite guard: a
    * query whose new median moved more than this factor (either
    * direction) vs the standing value is a pollution suspect when its
    * own sample window reaches back into the standing regime (see
    * [[bimodalSuspects]]). */
  val SpliceRatioLimit = 2.0

  /** Straddle trigger threshold (round-14 verdict #1): a query whose
    * sample window STRADDLES the standing value with per-query relSpread
    * above this is a pollution suspect even when its median ratio sits
    * under the [[SpliceRatioLimit]] cliff. The r14 incident slid exactly
    * through that gap: gr2 median 9.952 s vs standing 5.488 (ratio
    * 1.813 < 2.0) from samples 3.923–15.465 straddling the standing
    * value with relSpread 1.16 — all the straddle evidence was present
    * but only counted after the 2× cliff was crossed. Set above the
    * spec'd benign-drift case (spread 0.67 straddling) and below the
    * incident's 1.16; a genuinely shifted query has a tight one-sided
    * window and never straddles at this dispersion. */
  val StraddleSpreadLimit = 1.0

  /** Absolute-magnitude floor for the straddle arm (round-15 advice):
    * sub-second queries routinely show relSpread > 1.0 from scheduler
    * jitter and their windows straddle a near-unchanged standing value,
    * so without a floor their slots would be spliced to stale standing
    * medians round after round even when the median barely moved. The
    * straddle arm only fires when |median − standing| is at least this
    * many seconds — mirroring how the cliff arms require a ratio move.
    * 50 ms is an order of magnitude under every real incident's delta
    * (r13 t26: 2.3 s; r14 gr2: 4.5 s) and above local[32] jitter. */
  val StraddleMinDeltaSec = 0.05

  /** Fraction of the standing value a downward-arm window max must
    * exceed to count as "reaches back into the standing regime"
    * (round-14 advice): the old test `max > standing/ratioLimit` spliced
    * away any genuine >2× improvement with mild noise (standing 1.0 s,
    * samples 0.44–0.52 → max 0.52 > 0.5 → stale standing kept forever).
    * Requiring the max NEAR the standing value itself keeps the bimodal
    * catch (a window containing standing-regime samples) without
    * punishing real optimizations. */
  val NearStandingFraction = 0.8

  /** PER-QUERY pollution guard on the standing-slot overwrite (round-13
    * verdict #1, widened round 15). The r13 incident shape: the driver's
    * run measured t26 at median 3.013 s — samples [3.074, 1.836, 3.013,
    * 0.923, 3.154] — while the committed same-code run an hour earlier
    * read 0.699 s from seven tight samples. Both SUITE-level gates
    * passed, so a phantom 4.3× reading entered the slot. The r14
    * incident repeated the shape UNDER the cliff: gr2 at median 9.952 s
    * (ratio 1.813×) from a bandwidth burst, samples straddling the
    * standing 5.488 s.
    *
    * Three per-query triggers, any one marks a suspect:
    *   1. upward cliff — median ratio > `ratioLimit` AND
    *      `min < standing·ratioLimit` (the window floor is consistent
    *      with the standing reading: bimodal noise, not code — the r13
    *      incident's min 0.923 < 2·0.699);
    *   2. downward cliff — ratio < 1/`ratioLimit` AND
    *      `max > [[NearStandingFraction]]·standing` (the claimed
    *      improvement's own window contains standing-regime samples);
    *   3. straddle — the window brackets the standing value
    *      (`min < standing < max`) with per-query relSpread >
    *      [[StraddleSpreadLimit]], regardless of the median ratio (the
    *      r14 gr2 incident verbatim).
    * A genuine code change produces a TIGHT window entirely on one side
    * and passes all three. Returns suspect names sorted; the caller
    * splices the standing values for exactly those queries (and stamps
    * the splice on the artifact). */
  def bimodalSuspects(
      medians: Map[String, Double],
      samples: Map[String, Seq[Double]],
      standing: Map[String, Double],
      ratioLimit: Double = SpliceRatioLimit): Seq[String] =
    medians.iterator.collect {
      case (k, m) if m > 0 && standing.get(k).exists(_ > 0) &&
          samples.get(k).exists(ts => ts.nonEmpty && ts.min > 0) &&
          {
            val s = standing(k)
            val ts = samples(k)
            val r = m / s
            (r > ratioLimit && ts.min < s * ratioLimit) ||
              (r < 1.0 / ratioLimit && ts.max > NearStandingFraction * s) ||
              (ts.min < s && ts.max > s && relSpread(ts) > StraddleSpreadLimit &&
                math.abs(m - s) >= StraddleMinDeltaSec)
          } => k
    }.toSeq.sorted

  /** Fraction of an outlier sample's EXCESS wall time (worst − median)
    * that per-sample GC must cover before the outlier is attributed to
    * the JVM rather than the host. The r16 adjudication's host bursts
    * read < 2% GC against 10–19× outliers (gr2_diag_r16/README: 0.146 s
    * of query-total GC vs ~23 s of excess wall); a genuine GC stall
    * concentrates its pause INSIDE the slow sample. 0.5 splits the two
    * regimes with an order of magnitude of margin on each side. */
  val GcShareThreshold = 0.5

  /** canary_pre inflation factor (vs the run's own median canary_pre)
    * above which the ~0.1 s pre-query band probe is "inflated" — the
    * secondary host-burst signature when per-sample GC is unavailable
    * (pre-r16 artifacts). The r16 elevated-band readings ran 2.5–5×
    * the nominal probe. */
  val CanaryPreInflation = 2.0

  /** Mechanical burst classification of ONE query's sample window
    * (round-16 verdict #2): consumes the instrumentation the artifact
    * already carries — per-sample wall times, per-sample GC seconds
    * (`samples_gc`), and the pre-query micro-canary (`canary_pre`) —
    * and names the mechanism instead of leaving the signature table in
    * `results/gr2_diag_r16/README.md` to be read by humans.
    *
    * Returns one of:
    *   - `"none"` — no outlier to classify (relSpread ≤
    *     [[EscalationTrigger]], or fewer than 2 positive samples);
    *   - `"jvm-internal"` — GC attributed to the outlier covers ≥
    *     [[GcShareThreshold]] of its excess over the window median: the
    *     stall is the JVM's own;
    *   - `"host-burst"` — GC is mechanically excluded (attributed GC
    *     under the threshold share of the excess): the excess wall went
    *     to the host, the r13/r14/r15 incident mechanism;
    *   - `"indeterminate"` — an outlier exists but neither GC data nor
    *     an inflated canary_pre is available to discriminate.
    *
    * GC attribution prefers per-sample data (GC seconds inside the
    * worst sample itself); legacy artifacts without `samples_gc` fall
    * back to the query-TOTAL GC, a conservative upper bound on what GC
    * could explain (this is what lets the r15 refused window — which
    * predates the per-sample fields — be classified from its artifact
    * alone, as its README promised). A failed sample (−1) excludes the
    * window from classification. */
  def suspectKind(
      samples: Seq[Double],
      samplesGc: Option[Seq[Double]] = None,
      totalGcSec: Option[Double] = None,
      canaryPre: Option[Double] = None,
      canaryPreNominal: Option[Double] = None): String = {
    if (samples.size < 2 || samples.exists(_ <= 0)) return "none"
    if (relSpread(samples) <= EscalationTrigger) return "none"
    val med = median(samples)
    val worstIdx = samples.indexOf(samples.max)
    val excess = samples(worstIdx) - med
    if (excess <= 0) return "none"
    // GC that could explain the outlier: the worst sample's own GC when
    // per-sample data exists, else the query-total upper bound
    val gcAttr: Option[Double] = samplesGc match {
      case Some(gs) if gs.size == samples.size => Some(gs(worstIdx))
      case _ => totalGcSec
    }
    val preInflated = for {
      c <- canaryPre; n <- canaryPreNominal if n > 0
    } yield c / n >= CanaryPreInflation
    gcAttr match {
      case Some(g) if g >= GcShareThreshold * excess => "jvm-internal"
      case Some(_) => "host-burst"
      case None if preInflated.contains(true) => "host-burst"
      case None => "indeterminate"
    }
  }

  /** Absolute |canary_shuffle_drift| above which a run's bandwidth axis
    * was visibly bursting DURING the run and the standing slot must not
    * be overwritten (round-14 verdict #1c). The five committed standing
    * artifacts r13–r14 read drift −0.289…+0.073; the r14 polluted driver
    * run read 1.241 — the signal that adjudicated the incident was on
    * the artifact all along, but the overwrite path never consulted it.
    * Shuffle-heavy queries (gr2, t19, t30) are exactly the ones a
    * bandwidth burst distorts, and the CPU canary cannot see that axis. */
  val ShuffleDriftBand = 0.5

  /** Empirically derived same-code parity band for CANARY-NORMALIZED
    * cross-round ratios (round-13 verdict #3 / BUILD_NOTES r13 #12: the
    * CPU canary consistently over-corrects slightly — same-code
    * normalized readings land ≈0.89–0.9 on this host), emitted on every
    * artifact as `norm_parity_band` so cross-round tables mark in-band
    * readings as parity MECHANICALLY instead of by prose convention. */
  val NormParityBand: (Double, Double) = (0.9, 1.1)

  /** Host-band CANARY (round-11 verdict #4): a fixed synthetic
    * CPU-bound calibration query — chained xxhash64 over a codegen'd
    * range scan, no input data, no shuffle, no disk — whose wall time
    * moves with host allocation (steal, thermal, cold-window) and with
    * NOTHING in this repository. Two consecutive verdicts had to
    * adjudicate "uniform inflation on untouched queries" narratively;
    * the canary makes it mechanical: cross-round per-query ratios are
    * reported raw AND divided by the canary ratio, so a band shift
    * shows up as canary drift instead of 30 phantom regressions. */
  val CanaryRows: Long = 2000000000L

  /** Median-of-`samples` canary wall time (one unrecorded warm run
    * first). ~1 s per sample on an uncontended 32-thread host.
    *
    * The summand is the chained hash mod 2^20, NOT the raw hash: xxhash64
    * output is uniform over the full i64 range, so `sum(raw)` overflows
    * Long within a handful of adds and Spark 4's default ANSI mode turns
    * that into a fatal `ARITHMETIC_OVERFLOW` (this killed the entire
    * round-12 driver bench — BENCH_r12.json is that crash report). The
    * mod bounds the total at rows·2^20 ≈ 2^51 < Long.MaxValue while the
    * CPU profile is unchanged (the three chained hashes dominate; pmod is
    * one extra codegen'd op per row). `rows` is a parameter so the spec
    * can exercise this exact code path at a size a unit test can afford.
    */
  def canarySeconds(spark: org.apache.spark.sql.SparkSession, samples: Int = 3,
                    rows: Long = CanaryRows): Double = {
    import org.apache.spark.sql.functions.{col, lit, pmod, sum, xxhash64}
    def once(): Double = {
      val t0 = System.nanoTime()
      spark.range(0L, rows, 1L, 32)
        .select(sum(pmod(xxhash64(xxhash64(xxhash64(col("id")))), lit(1L << 20))))
        .collect()
      (System.nanoTime() - t0) / 1e9
    }
    once() // warm: codegen + JIT
    BenchProtocol.median(Seq.fill(samples)(once()))
  }

  /** Rows of the MICRO canary — [[CanaryRows]]/20, ~0.1 s on an
    * uncontended 32-thread host: cheap enough to run before EVERY
    * headline query. Round-16 adjudication of the r13/r14/r15
    * bimodality found the mechanism the end-of-run canaries cannot
    * see: host bursts of ~10–60 s striking mid-run (r15's t8 outliers
    * were two ADJACENT ~12 s samples — one contiguous slow window —
    * with 0.146 s of query-total GC against ~23 s of excess wall,
    * excluding GC; solo and shuffled-order re-runs on a quiet host
    * were spotless). The two full-size canaries bracket a ~6-minute
    * run, so a sub-minute burst lands between them and the artifact
    * reads "clean canaries + 10–19× outliers". A ~0.1 s probe before
    * each query time-resolves the band to query granularity: an
    * outlier sample bracketed by inflated micro-canaries is a HOST
    * burst, mechanically. */
  val MicroCanaryRows: Long = CanaryRows / 20

  /** One UNWARMED sample of the CPU canary shape at micro size — the
    * per-query band probe (see [[MicroCanaryRows]]). No warm-up run:
    * the full-size start canary has already JIT-compiled the identical
    * plan shape, and a warm-up would double the per-query overhead. */
  def microCanarySeconds(
      spark: org.apache.spark.sql.SparkSession,
      rows: Long = MicroCanaryRows): Double = {
    import org.apache.spark.sql.functions.{col, lit, pmod, sum, xxhash64}
    val t0 = System.nanoTime()
    spark.range(0L, rows, 1L, 32)
      .select(sum(pmod(xxhash64(xxhash64(xxhash64(col("id")))), lit(1L << 20))))
      .collect()
    (System.nanoTime() - t0) / 1e9
  }

  /** Rows of the BANDWIDTH canary's fixed shuffle — sized so one sample
    * is ~1 s on an uncontended 32-thread host (like [[CanaryRows]]). */
  val CanaryShuffleRows: Long = 25000000L

  /** Second canary AXIS (round-13, from the r13 canary-table honest
    * reading): the CPU canary is a pure compute probe — chained hashes,
    * no shuffle, no disk — so it cannot see this host's OTHER contention
    * axis, memory-bandwidth/IO (the additive-spike model of
    * `results/tpc_sf1_r9/README`; shuffle-heavy queries like gr2/t19 are
    * its usual victims while the CPU canary reads flat). This probe is a
    * fixed synthetic SHUFFLE — a hash exchange of `rows` longs and the
    * sum on the far side, no input data, nothing from this repository —
    * so its wall time moves with shuffle write/read bandwidth and spill-
    * path contention. `repartition(n, col)` is a REPARTITION_BY_NUM
    * exchange, which AQE's partition coalescing never touches, so the
    * probed shuffle shape is identical run to run.
    *
    * Role: attribution, not normalization. Cross-round ratios stay
    * normalized by the CPU canary ([[canarySeconds]]); when a reading
    * disagrees with its norm column, this canary's drift says whether
    * the bandwidth axis was active (r13's standing-vs-prepanama reading
    * needed exactly this and had to fall back to narrative). */
  def canaryShuffleSeconds(spark: org.apache.spark.sql.SparkSession, samples: Int = 3,
                           rows: Long = CanaryShuffleRows): Double = {
    import org.apache.spark.sql.functions.{col, sum}
    def once(): Double = {
      val t0 = System.nanoTime()
      // sum(0..rows-1) = rows·(rows−1)/2 ≈ 2^49 at the default size —
      // exact in Long, safe under ANSI (the lesson of canarySeconds)
      spark.range(0L, rows, 1L, 32)
        .repartition(64, col("id"))
        .select(sum(col("id")))
        .collect()
      (System.nanoTime() - t0) / 1e9
    }
    once() // warm: codegen + shuffle-path JIT
    BenchProtocol.median(Seq.fill(samples)(once()))
  }

  /** Minimal JSON string escaping (quotes, backslashes, control chars) —
    * config values are interpolated into the one-line artifacts and must
    * never be able to break the driver-side parser. */
  def jsonEscape(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  /** The self-contained REFUSAL artifact (round-17 verdict #3): when a
    * bench run is not adjudicable (host weather), the per-round
    * `BENCH_r<N>.json` used to carry only the refused run — the round
    * series then had holes a reader must fill by hand from
    * `bench_last_good.json`. This builds the fallback line the driver
    * archives instead: the STANDING slot's numbers verbatim, stamped
    *   - `provenance: "standing-slot"` (a live accepted run would carry
    *     `"live"`; pre-r18 artifacts carry neither and are live),
    *   - `refusal_reason`: why THIS window was refused,
    *   - `refused_run`: the refused window's own canaries + dispersion,
    *     so the band that caused the refusal stays adjudicable too.
    * Returns None when there is no standing artifact to fall back to,
    * or the standing line does not parse — the refused line then stands
    * alone, as before. Implemented by JSON-tree edit (not string
    * concatenation) so the standing artifact's field set rides through
    * unmodified whatever vintage it is. */
  def standingFallbackLine(
      standingLine: String,
      refusalReason: String,
      refusedCanary: Double,
      refusedCanaryShuffle: Double,
      refusedVarianceTrimmed: Double,
      refusedFailed: Seq[String]): Option[String] =
    try {
      val om = new com.fasterxml.jackson.databind.ObjectMapper()
      val root = om.readTree(standingLine)
      if (root == null || !root.isObject) None
      else {
        val obj = root.asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
        obj.put("provenance", "standing-slot")
        // the standing line's adjudicable:true survives the copy by
        // design (the NUMBERS are adjudicable) — but a pre-r18 reader
        // filtering on adjudicable alone would misread the refused
        // round as a live measurement, so stamp a field old parsers
        // cannot have seen: adjudicable_live is false exactly when the
        // archived numbers did not come from this round's window
        // (advice r18; live lines carry adjudicable_live == adjudicable)
        obj.put("adjudicable_live", false)
        obj.put("refusal_reason", refusalReason)
        val refused = om.createObjectNode()
        refused.put("canary_sec", refusedCanary)
        refused.put("canary_shuffle_sec", refusedCanaryShuffle)
        refused.put("variance_trimmed", refusedVarianceTrimmed)
        val fa = om.createArrayNode()
        refusedFailed.foreach(fa.add)
        refused.set("failed", fa)
        obj.set[com.fasterxml.jackson.databind.JsonNode]("refused_run", refused)
        Some(om.writeValueAsString(obj))
      }
    } catch { case _: Exception => None }

  /** The fields the COMPACT artifact line carries — everything a
    * bounded tail-capture needs to adjudicate a round, nothing that
    * can grow with the query count. */
  private val CompactFields = Seq(
    "metric", "value", "unit", "provenance", "cpus", "host_cpus", "adjudicable",
    "adjudicable_live", "canary_sec", "canary_shuffle_sec",
    "variance_trimmed", "refusal_reason", "sf")

  /** Distill a full artifact line to its adjudication core (r19 verdict
    * #2): the FULL line is ~20 KB (per-query maps, samples, timestamps,
    * gc), so a driver that tail-captures a bounded byte window can
    * truncate its HEAD and no parser recovers it — two rounds of
    * `parsed: null` despite the line printing last. The fix is one
    * MORE line, ≤ ~250 bytes, printed after the full one as the true
    * last line: a whitelist copy of the scalar adjudication fields
    * (value, provenance, adjudicable_live, canaries, trimmed variance,
    * refusal reason when present) plus `compact: true` so a reader can
    * tell the two shapes apart. The full line still lands in
    * bench_output.json / bench_last_good.json unchanged. Returns None
    * on unparseable input — the caller then just skips the extra line
    * rather than printing garbage. */
  def compactArtifactLine(fullLine: String): Option[String] =
    try {
      val om = new com.fasterxml.jackson.databind.ObjectMapper()
      val root = om.readTree(fullLine)
      if (root == null || !root.isObject) None
      else {
        val out = om.createObjectNode()
        out.put("compact", true)
        CompactFields.foreach { f =>
          val v = root.get(f)
          if (v != null) out.set[com.fasterxml.jackson.databind.JsonNode](f, v)
        }
        Some(om.writeValueAsString(out))
      }
    } catch { case _: Exception => None }
}
