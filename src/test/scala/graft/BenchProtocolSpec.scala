package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.tools.BenchProtocol

/** The shared adjudicability protocol (statistics + gate) used by both
  * benchmark drivers — pinned here so the two drivers cannot drift
  * (round-9 advice) and so the pollution-robustness claim behind the
  * sf1 trimmed-min headline is itself tested: additive contention
  * spikes must NOT break trimmed adjudicability, while a genuinely
  * unstable floor must. */
class BenchProtocolSpec extends AnyFunSuite {

  test("median: odd, even, single") {
    assert(BenchProtocol.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(BenchProtocol.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
    assert(BenchProtocol.median(Seq(7.0)) == 7.0)
  }

  test("pairSpread is the agreement of the two smallest samples") {
    assert(math.abs(BenchProtocol.pairSpread(Seq(1.0, 1.1, 50.0)) - 0.1) < 1e-9)
    assert(BenchProtocol.pairSpread(Seq(9.0)) == 0.0)
    assert(BenchProtocol.pairSpread(Seq(2.0, 2.0)) == 0.0)
  }

  test("additive contention spikes blow the full spread but not the trimmed one") {
    // three queries, each with a stable floor and one 10x spike — the
    // documented shape of this host's contention (results/tpc_sf1_r9)
    val samples = Seq(
      Seq(1.00, 1.05, 10.0),
      Seq(2.00, 2.02, 21.0),
      Seq(0.50, 0.52, 5.1))
    assert(BenchProtocol.meanRelSpread(samples) > BenchProtocol.VarianceFloor,
      "full spread must flag the spikes")
    val trimmed = BenchProtocol.trimmedSpread(samples)
    assert(trimmed < 0.06, s"trimmed spread must ignore isolated spikes, got $trimmed")
    assert(BenchProtocol.adjudicable(anyFailed = false, trimmed))
    assert(!BenchProtocol.adjudicable(anyFailed = false, BenchProtocol.meanRelSpread(samples)))
  }

  test("an unstable floor fails the trimmed gate too") {
    val samples = Seq(Seq(1.0, 1.9, 2.0), Seq(1.0, 1.8, 9.0))
    assert(BenchProtocol.trimmedSpread(samples) > BenchProtocol.VarianceFloor)
    assert(!BenchProtocol.adjudicable(anyFailed = false, BenchProtocol.trimmedSpread(samples)))
  }

  test("escalation-trimmed spread drops exactly one sample, only for escalated queries") {
    // the r13 postpanama shape: a 7-sample (escalated) query whose six
    // tight samples bracket one 4x host steal — raw spread reads it as
    // unstable, trimmed attributes the one steal the escalation bought
    // samples to re-measure
    val escalatedOneSpike = Seq(4.28, 4.56, 4.88, 5.17, 7.96, 8.06, 19.92)
    val raw = BenchProtocol.meanRelSpread(Seq(escalatedOneSpike))
    val trimmed = BenchProtocol.meanRelSpreadTrimmed(Seq(escalatedOneSpike))
    assert(raw > 3.0, s"raw must keep the spike, got $raw")
    assert(trimmed < 0.8 && trimmed > 0.5,
      s"trimmed must drop ONLY the single worst sample, got $trimmed")
    // a NON-escalated query (designed 5 samples) is never trimmed, even
    // when its worst sample is an outlier
    val fiveWithSpike = Seq(1.0, 1.0, 1.1, 1.1, 5.0)
    assert(BenchProtocol.meanRelSpreadTrimmed(Seq(fiveWithSpike)) ==
      BenchProtocol.meanRelSpread(Seq(fiveWithSpike)))
    // two spikes in an escalated window still blow the floor: one drop
    // cannot launder genuine instability
    val escalatedTwoSpikes = Seq(1.0, 1.0, 1.05, 1.1, 1.1, 9.0, 10.0)
    assert(BenchProtocol.meanRelSpreadTrimmed(Seq(escalatedTwoSpikes)) >
      BenchProtocol.VarianceFloor)
    // failed-query sentinels are excluded, as in the raw statistic
    assert(BenchProtocol.meanRelSpreadTrimmed(
      Seq(Seq(-1.0), Seq(1.0, 1.0, 1.0, 1.0, 1.0))) == 0.0)
  }

  test("wide-row protocol: 9 designed samples for the widest rows, 5 otherwise") {
    // membership is versioned in BenchProtocol.WideRows (r21 verdict #5:
    // gr2/t21/t8 were spliced in the adjudicated run; gr1 is the widest
    // stable row) — the artifact stamps it so readers never infer it
    for (q <- BenchProtocol.WideRows)
      assert(BenchProtocol.designedSamples(q) == 9, q)
    assert(BenchProtocol.designedSamples("q1_pricing_summary") == 5)
    assert(BenchProtocol.WideRows == Set(
      "gr1_pagerank_copurchase", "gr2_triangle_count",
      "t8_ngram_jaccard", "t21_simhash_neardup"))
  }

  test("wide-row trimming: a 9-sample designed window is NOT escalated-trimmed at 9") {
    // nine designed samples with one spike: under the legacy `size > 5`
    // rule this row would silently drop its worst sample every run; with
    // the designed count threaded through, trimming happens only past
    // the DESIGN (a genuine escalation)
    val nine = Seq(1.0, 1.0, 1.05, 1.1, 1.1, 1.0, 1.05, 1.0, 9.0)
    val asWide = BenchProtocol.meanRelSpreadTrimmed(Seq((nine, 9)))
    val asLegacy = BenchProtocol.meanRelSpreadTrimmed(Seq(nine))
    assert(asWide == BenchProtocol.meanRelSpread(Seq(nine)),
      "designed-9 window must keep all nine samples")
    assert(asLegacy < asWide, "legacy 5-designed path would have trimmed")
    // an ESCALATED wide row (>9 samples) trims exactly one, as before
    val eleven = nine ++ Seq(1.0, 1.0)
    assert(BenchProtocol.meanRelSpreadTrimmed(Seq((eleven, 9))) <
      BenchProtocol.meanRelSpread(Seq(eleven)))
  }

  test("any failed query fails the gate regardless of dispersion") {
    assert(!BenchProtocol.adjudicable(anyFailed = true, 0.0))
  }

  test("failed-query sentinels (-1.0) are excluded from both dispersion statistics") {
    val withFail = Seq(Seq(-1.0), Seq(1.0, 1.1, 1.2))
    assert(BenchProtocol.meanRelSpread(withFail) < 0.5)
    assert(BenchProtocol.trimmedSpread(withFail) < 0.5)
  }

  test("monotone-noise guard: a clearly noisier run must not replace the standing artifact") {
    // the round-10 incident shape: standing 0.253, candidate 0.472
    assert(BenchProtocol.noisierThanStanding(0.472, Some(0.253)))
    // drift within tolerance is allowed
    assert(!BenchProtocol.noisierThanStanding(0.30, Some(0.253)))
    assert(!BenchProtocol.noisierThanStanding(0.353, Some(0.253)))
    // a cleaner run always replaces
    assert(!BenchProtocol.noisierThanStanding(0.10, Some(0.253)))
    // no standing artifact (or pre-guard format) never blocks
    assert(!BenchProtocol.noisierThanStanding(0.49, None))
  }

  test("bimodalSuspects flags the r13 t26 incident verbatim") {
    // the EXACT numbers the round-13 driver run wrote past both
    // suite-level gates: standing t26 = 0.699 s (seven tight committed
    // samples), driver median 3.013 s from a bimodal window whose floor
    // (0.923) is still in the standing regime
    val suspects = BenchProtocol.bimodalSuspects(
      medians = Map("t26" -> 3.013, "q1" -> 0.51),
      samples = Map(
        "t26" -> Seq(3.074, 1.836, 3.013, 0.923, 3.154),
        "q1" -> Seq(0.50, 0.51, 0.52, 0.51, 0.50)),
      standing = Map("t26" -> 0.699, "q1" -> 0.50))
    assert(suspects == Seq("t26"))
  }

  test("bimodalSuspects passes genuine tight regressions and improvements") {
    // a real 3x regression: every sample on the new side, window tight —
    // the slot must accept it (it IS the new reading)
    assert(BenchProtocol.bimodalSuspects(
      Map("q" -> 2.1), Map("q" -> Seq(2.05, 2.1, 2.15, 2.1, 2.2)),
      Map("q" -> 0.7)).isEmpty)
    // a real 10x improvement (code optimization), tight window
    assert(BenchProtocol.bimodalSuspects(
      Map("q" -> 0.30), Map("q" -> Seq(0.29, 0.30, 0.30, 0.31, 0.30)),
      Map("q" -> 3.0)).isEmpty)
    // small drift inside the ratio limit never flags, even straddling
    assert(BenchProtocol.bimodalSuspects(
      Map("q" -> 0.9), Map("q" -> Seq(0.6, 0.8, 0.9, 1.0, 1.2)),
      Map("q" -> 0.7)).isEmpty)
  }

  test("bimodalSuspects flags the r14 gr2 incident verbatim (straddle under the cliff)") {
    // the EXACT numbers the round-14 driver run wrote past the 2.0x
    // cliff: standing gr2 = 5.488 s (committed same-HEAD run), driver
    // median 9.952 s — ratio 1.813, UNDER SpliceRatioLimit — from a
    // bandwidth-burst window [3.923, 15.465] that straddles the
    // standing value with relSpread 1.16. The straddle itself must be
    // the trigger.
    val suspects = BenchProtocol.bimodalSuspects(
      medians = Map("gr2" -> 9.952, "q1" -> 0.51),
      samples = Map(
        "gr2" -> Seq(12.354, 9.952, 10.747, 15.465, 3.923, 7.024, 6.284),
        "q1" -> Seq(0.50, 0.51, 0.52, 0.51, 0.50)),
      standing = Map("gr2" -> 5.488, "q1" -> 0.50))
    assert(suspects == Seq("gr2"))
  }

  test("straddle trigger does not fire on benign drift or tight one-sided windows") {
    // straddling but calm (relSpread 0.67 < 1.0) — the pre-existing
    // benign-drift case, must stay unflagged
    assert(BenchProtocol.bimodalSuspects(
      Map("q" -> 0.9), Map("q" -> Seq(0.6, 0.8, 0.9, 1.0, 1.2)),
      Map("q" -> 0.7)).isEmpty)
    // dispersed but entirely above the standing REGIME (min 11.0 >
    // standing*ratioLimit): no sample is consistent with the standing
    // reading, so this is a real regression and the slot must accept it
    assert(BenchProtocol.bimodalSuspects(
      Map("q" -> 11.5), Map("q" -> Seq(11.0, 11.5, 12.0, 16.0, 11.2)),
      Map("q" -> 5.0)).isEmpty)
  }

  test("straddle trigger has an absolute floor: sub-50ms median moves never splice (r15 advice)") {
    // a 40 ms query with scheduler jitter: relSpread 1.5 > 1.0 and the
    // window straddles the standing 0.041 — but the median moved 1 ms.
    // Without the StraddleMinDeltaSec floor this slot would be spliced
    // to the stale standing median round after round.
    assert(BenchProtocol.bimodalSuspects(
      Map("q" -> 0.040), Map("q" -> Seq(0.020, 0.038, 0.040, 0.044, 0.080)),
      Map("q" -> 0.041)).isEmpty)
    // the same shape at real magnitude (median delta 0.9 s >> floor)
    // still fires — the floor must not weaken the incident catch
    assert(BenchProtocol.bimodalSuspects(
      Map("q" -> 2.0), Map("q" -> Seq(0.5, 1.8, 2.0, 2.2, 4.0)),
      Map("q" -> 1.1)) == Seq("q"))
  }

  test("downward arm passes a genuine >2x improvement with mild noise (r14 advice)") {
    // standing 1.0 s, a real ~2.1x optimization measuring 0.44-0.52 s:
    // the old `max > standing/ratioLimit` test spliced this away every
    // round (0.52 > 0.5); the near-standing test (max > 0.8*standing)
    // accepts it
    assert(BenchProtocol.bimodalSuspects(
      Map("q" -> 0.48), Map("q" -> Seq(0.44, 0.47, 0.48, 0.50, 0.52)),
      Map("q" -> 1.0)).isEmpty)
  }

  test("bimodalSuspects flags a downward claim whose window contains standing-regime samples") {
    // the symmetric case: a run claims 4x faster but one of its own
    // samples sits at the standing reading — bimodal evidence, keep the
    // standing value (a deliberate regeneration uses the force-accept
    // hatch, which bypasses the guard in Bench)
    assert(BenchProtocol.bimodalSuspects(
      Map("q" -> 0.7), Map("q" -> Seq(0.65, 0.7, 0.75, 3.1, 0.68, 0.7, 0.7)),
      Map("q" -> 3.0)) == Seq("q"))
  }

  test("bimodalSuspects ignores failed queries and queries absent from the standing slot") {
    assert(BenchProtocol.bimodalSuspects(
      Map("fail" -> -1.0, "new" -> 5.0),
      Map("fail" -> Seq(-1.0), "new" -> Seq(4.9, 5.0, 5.1, 5.0, 5.0)),
      Map("other" -> 1.0)).isEmpty)
  }

  test("canarySeconds runs end-to-end under default ANSI mode (round-12 overflow regression)") {
    // The round-12 canary summed RAW chained xxhash64 values — uniform
    // over the full i64 range, so the sum overflowed within a handful of
    // adds and ANSI mode killed every full Bench run before the first
    // measurement (BENCH_r12.json is that crash report). This CALLS the
    // real code path at a size a unit test can afford: 200k uniform
    // 64-bit hashes would overflow a raw sum with near-certainty, so a
    // green run here proves the summand is bounded. ANSI stays at the
    // Spark 4 default (on) — same mode as the driver's session.
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    assert(spark.conf.get("spark.sql.ansi.enabled") == "true",
      "the regression only bites under ANSI; the session must run the default")
    val sec = BenchProtocol.canarySeconds(spark, samples = 1, rows = 200000L)
    assert(sec > 0.0, s"canarySeconds must return a positive wall time, got $sec")
  }

  test("canaryShuffleSeconds runs end-to-end under default ANSI mode") {
    // the bandwidth-axis probe: CALLS the real code path (fixed hash
    // exchange + far-side sum) at a unit-test size; the sum of a range
    // is exact in Long by construction, but this pins the whole shuffle
    // pipeline green under the driver session's default ANSI
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    assert(spark.conf.get("spark.sql.ansi.enabled") == "true")
    val sec = BenchProtocol.canaryShuffleSeconds(spark, samples = 1, rows = 200000L)
    assert(sec > 0.0, s"canaryShuffleSeconds must return a positive wall time, got $sec")
  }

  test("suspectKind classifies the r15 refused window as host-burst from its artifact alone") {
    // REPLAY of the round-15 refused window (round-16 verdict #2): the
    // exact sample arrays and query-total GC seconds preserved in
    // bench_output.json at the r15 snapshot (commit 2842784). That
    // artifact PREDATES the per-sample samples_gc and canary_pre fields,
    // so classification must work from the legacy query-total GC upper
    // bound — which is the point: 0.146–0.626 s of query-total GC cannot
    // explain 6–11 s of excess wall, so GC is mechanically excluded and
    // the mechanism is the host's (the r16 adjudication's conclusion,
    // results/gr2_diag_r16/README.md, now reproduced by code).
    val t8 = Seq(1.685, 12.949, 11.816, 1.344, 1.623, 1.39, 1.474)
    val t26 = Seq(1.0, 1.886, 14.066, 1.94, 1.231, 0.752, 0.813)
    val gr2 = Seq(10.712, 6.926, 8.501, 4.451, 4.265, 3.897, 4.591)
    assert(BenchProtocol.suspectKind(t8, None, Some(0.146)) == "host-burst")
    assert(BenchProtocol.suspectKind(t26, None, Some(0.618)) == "host-burst")
    assert(BenchProtocol.suspectKind(gr2, None, Some(0.626)) == "host-burst")
  }

  test("suspectKind attributes a GC-concentrated outlier to the JVM") {
    // per-sample GC concentrated inside the slow sample: the stall is
    // the JVM's own, not the host's
    val samples = Seq(1.0, 1.0, 9.0, 1.0, 1.0)
    val gcInOutlier = Seq(0.05, 0.02, 7.5, 0.03, 0.04)
    assert(BenchProtocol.suspectKind(samples, Some(gcInOutlier)) == "jvm-internal")
    // same wall shape with flat per-sample GC → host-burst
    val gcFlat = Seq(0.05, 0.02, 0.06, 0.03, 0.04)
    assert(BenchProtocol.suspectKind(samples, Some(gcFlat)) == "host-burst")
  }

  test("suspectKind falls back to canary_pre and degrades honestly") {
    val samples = Seq(1.0, 1.0, 9.0, 1.0, 1.0)
    // no GC data at all: an inflated pre-query band probe (vs the run's
    // nominal) is the secondary host-burst signature
    assert(BenchProtocol.suspectKind(
      samples, None, None, canaryPre = Some(0.5),
      canaryPreNominal = Some(0.1)) == "host-burst")
    // no GC data, nominal probe: nothing discriminates
    assert(BenchProtocol.suspectKind(
      samples, None, None, canaryPre = Some(0.11),
      canaryPreNominal = Some(0.1)) == "indeterminate")
    // tight window: nothing to classify
    assert(BenchProtocol.suspectKind(
      Seq(1.0, 1.05, 1.1, 0.98, 1.02), Some(Seq(0, 0, 0, 0, 0.0))) == "none")
    // failed sample: the window is not classifiable
    assert(BenchProtocol.suspectKind(Seq(-1.0, 1.0, 9.0), None, Some(0.1)) == "none")
  }

  test("standingFallbackLine: refused-window artifact carries the standing numbers + provenance") {
    // a miniature standing slot of the real shape (r17 vintage fields)
    val standing =
      """{"metric":"total","value":34.132,"unit":"sec","adjudicable":true,""" +
        """"canary_sec":2.156,"queries":{"q1_pricing_summary":1.234,"gr2_triangle_count":4.800},""" +
        """"variance_trimmed":0.252,"sf":"/root/testdata/sf0.1"}"""
    val out = BenchProtocol.standingFallbackLine(
      standing, "not adjudicable: variance_trimmed=0.608 (floor 0.5), failed=[]",
      refusedCanary = 2.31, refusedCanaryShuffle = 1.88,
      refusedVarianceTrimmed = 0.608, refusedFailed = Seq("e1_events_hourly"))
    assert(out.isDefined)
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = om.readTree(out.get)
    // the standing numbers ride through verbatim — the round series
    // always carries an adjudicable number (r17 verdict #3)
    assert(node.get("value").asDouble() == 34.132)
    assert(node.get("adjudicable").asBoolean())
    assert(node.get("canary_sec").asDouble() == 2.156)
    assert(node.get("queries").get("gr2_triangle_count").asDouble() == 4.8)
    // stamped as a fallback, with the mechanism; adjudicable_live is
    // the field pre-r18 parsers cannot misread — false exactly when
    // the numbers did not come from this round's window (advice r18)
    assert(node.get("provenance").asText() == "standing-slot")
    assert(!node.get("adjudicable_live").asBoolean())
    assert(node.get("refusal_reason").asText().contains("variance_trimmed=0.608"))
    // the refused window's own band stays adjudicable
    val refused = node.get("refused_run")
    assert(refused.get("canary_sec").asDouble() == 2.31)
    assert(refused.get("canary_shuffle_sec").asDouble() == 1.88)
    assert(refused.get("variance_trimmed").asDouble() == 0.608)
    assert(refused.get("failed").get(0).asText() == "e1_events_hourly")
  }

  test("standingFallbackLine degrades to None on a missing or corrupt standing line") {
    assert(BenchProtocol.standingFallbackLine(
      "not json at all {", "r", 1.0, 1.0, 0.6, Nil).isEmpty)
    assert(BenchProtocol.standingFallbackLine(
      "[1,2,3]", "r", 1.0, 1.0, 0.6, Nil).isEmpty) // array, not an object
  }

  test("compactArtifactLine: scalar adjudication core only, bounded size (r19 verdict #2)") {
    // a full line of the real shape, padded with the per-query payloads
    // that made BENCH_r18/r19 unparseable under a bounded tail-capture
    val queries = (1 to 200).map(i => s""""q$i":1.234""").mkString(",")
    val samples = (1 to 200).map(i => s""""q$i":[1.1,1.2,1.3,1.2,1.25]""").mkString(",")
    val full =
      s"""{"metric":"total","value":33.103,"unit":"sec","provenance":"live",""" +
        s""""cpus":"32","host_cpus":8,""" +
        s""""adjudicable":true,"adjudicable_live":true,"canary_sec":2.150,""" +
        s""""canary_shuffle_sec":1.820,"variance_trimmed":0.234,""" +
        s""""queries":{$queries},"samples":{$samples},"sf":"/root/testdata/sf0.1"}"""
    assert(full.length > 5000, "fixture must model the oversized line")
    val out = BenchProtocol.compactArtifactLine(full)
    assert(out.isDefined)
    assert(out.get.length <= 300,
      s"compact line must survive a bounded tail-capture, got ${out.get.length}B")
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = om.readTree(out.get)
    assert(node.get("compact").asBoolean())
    assert(node.get("value").asDouble() == 33.103)
    assert(node.get("provenance").asText() == "live")
    // the requested core count the standing slot keys on, and the host's
    assert(node.get("cpus").asText() == "32")
    assert(node.get("host_cpus").asInt() == 8)
    assert(node.get("adjudicable_live").asBoolean())
    assert(node.get("canary_sec").asDouble() == 2.150)
    assert(node.get("variance_trimmed").asDouble() == 0.234)
    assert(node.get("sf").asText() == "/root/testdata/sf0.1")
    assert(node.get("queries") == null && node.get("samples") == null,
      "no per-query maps may ride the compact line")
    // a refused round's standing-fallback line keeps its refusal fields
    val fb = BenchProtocol.standingFallbackLine(
      full, "not adjudicable: variance_trimmed=0.685 (floor 0.5)",
      refusedCanary = 2.31, refusedCanaryShuffle = 1.88,
      refusedVarianceTrimmed = 0.685, refusedFailed = Nil).get
    val cfb = om.readTree(BenchProtocol.compactArtifactLine(fb).get)
    assert(cfb.get("provenance").asText() == "standing-slot")
    assert(!cfb.get("adjudicable_live").asBoolean())
    assert(cfb.get("refusal_reason").asText().contains("0.685"))
    // garbage in → no extra line, never a crash
    assert(BenchProtocol.compactArtifactLine("not json {").isEmpty)
    assert(BenchProtocol.compactArtifactLine("[1,2]").isEmpty)
  }

  test("jsonEscape neutralizes quotes, backslashes and control chars") {
    assert(BenchProtocol.jsonEscape("""a"b\c""") == """a\"b\\c""")
    assert(BenchProtocol.jsonEscape("x\ny") == "x\\u000ay")
    // an escaped extra-conf value embedded in a JSON line must parse
    val v = BenchProtocol.jsonEscape("""spark.x="quoted;value"""")
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = om.readTree(s"""{"extra_conf":"$v"}""")
    assert(node.get("extra_conf").asText() == """spark.x="quoted;value"""")
  }
}
