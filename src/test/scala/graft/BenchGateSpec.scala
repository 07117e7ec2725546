package graft

import org.scalatest.funsuite.AnyFunSuite

/** The registry noise gate's decision logic, replaying the round-9 failure
  * shape: a multi-minute host slow-phase covered the sketch-family stretch of
  * the registry — every query in it timed 2.3-4.9x inflated with TIGHT
  * per-run spreads (three back-to-back runs inside one phase are consistent),
  * so the in-band spread fields could not flag it. The sentinel boundaries
  * CAN: identical CPU-bound work timed between segments drifts with the host.
  */
class BenchGateSpec extends AnyFunSuite {

  test("replayed r9-shaped slow phase: exactly the covered segments flagged") {
    // 5 segments => 6 boundaries. Quiet sentinel ~0.20 s; a slow phase spans
    // segments 2 and 3 (the "sketch family"), inflating the sentinels it
    // brackets ~4x — the same factor the r9 driver window recorded.
    val boundaries = Seq(0.21, 0.20, 0.82, 0.85, 0.79, 0.22)
    val dirty = BenchGate.dirtySegments(boundaries, s0 = 0.20, factor = 1.5)
    // segment i is bracketed by boundaries (i, i+1): the inflated boundaries
    // 2,3,4 mark segments 1,2,3,4 (1 and 4 each touch one disturbed edge —
    // conservative: a phase starting/ending mid-segment still gets caught)
    assert(dirty === Set(1, 2, 3, 4))
  }

  test("quiet window: no segment flagged") {
    val boundaries = Seq(0.21, 0.20, 0.22, 0.19, 0.21, 0.20)
    assert(BenchGate.dirtySegments(boundaries, s0 = 0.19, factor = 1.5).isEmpty)
  }

  test("drift exactly at the factor is clean; just above is dirty") {
    assert(BenchGate.dirtySegments(Seq(0.30, 0.20), s0 = 0.20, factor = 1.5).isEmpty)
    assert(BenchGate.dirtySegments(Seq(0.31, 0.20), s0 = 0.20, factor = 1.5) === Set(0))
  }

  test("inflated baseline does not blind the gate when s0 uses the quietest boundary") {
    // baseline measured inside a slow phase (0.80) but the registry later ran
    // quiet (0.20): Bench takes s0 = min(raw, boundaries.min), so the dirty
    // computation sees the phase-era boundary as disturbed, not the quiet ones
    val boundaries = Seq(0.80, 0.20, 0.21, 0.20)
    val s0eff = math.min(0.80, boundaries.min)
    assert(BenchGate.dirtySegments(boundaries, s0eff, factor = 1.5) === Set(0))
  }

  test("replayed r10 IO-throttle window: CPU sentinel blind, IO sentinel flags it") {
    // The round-10 driver window, to shape: scan_64k_batches ran at 33 MB/s
    // (58.7 s vs 0.5-0.7 s re-measured — a sustained host IO-throttle phase
    // over the read-path segment), while the segment's bounding CPU
    // sentinels read CLEAN (0.103/0.114 vs s0 0.097 — the probe is pure
    // compute, the phase was IO-only) and CPU-bound neighbors in the same
    // segment were fast. These are the r10 BENCH_DETAIL numbers verbatim.
    val cpuBoundaries = Seq(0.103, 0.114, 0.105, 0.100, 0.098, 0.101)
    val cpuS0 = 0.097
    assert(BenchGate.dirtySegments(cpuBoundaries, cpuS0, factor = 1.5).isEmpty,
      "the CPU gate alone must (wrongly) certify the window quiet — " +
        "that is the r10 blind spot this test pins")
    // the IO probe re-reads a pinned 131 MB slice through the same fetch
    // path: in the quiet baseline it runs ~0.35 s; inside the 33 MB/s
    // phase the identical read takes ~4 s. Only segment 0 (the read-path
    // heads) is IO-bracketed; the CPU-bound segments carry None.
    val ioBoundaries = Seq(Some(3.9), Some(4.2), None, None, None, None)
    val ioDirty = BenchGate.dirtySegmentsSparse(ioBoundaries, s0 = 0.35, factor = 2.0)
    // segment 0 is the target; segment 1 rides along because its upper
    // edge (boundary 1) was disturbed — the same conservative edge rule as
    // the CPU gate (a phase ending mid-segment still gets caught)
    assert(ioDirty === Set(0, 1), "the IO sentinel must flag the read-path segment")
    // the union — what Bench gates on — would have re-measured segment 0
    // instead of publishing the 58.7 s figure in a 'clean' window
    val union = BenchGate.dirtySegments(cpuBoundaries, cpuS0, factor = 1.5) ++ ioDirty
    assert(union.contains(0))
  }

  test("replayed r12 within-segment phase: CPU+IO blind, prior envelope flags the heads") {
    // The round-12 driver window, to shape: sketch_hll timed 17.3 s
    // (best-of-3 10.4 s) vs 0.87 s in r11, sketch_bloom 6.91 s with spread
    // 0.086 (three CONSISTENT slow runs), sketch_cms 5.50 s — all on
    // untouched code — while the segment's bounding CPU sentinels read
    // 0.067-0.096 s against a 0.077 s baseline (CLEAN) and the IO probe
    // does not bracket the registry segments at all. The phase sat INSIDE
    // one segment and was invisible to both existing probes.
    val cpuBoundaries = Seq(0.077, 0.082, 0.067, 0.096, 0.071)
    assert(BenchGate.dirtySegments(cpuBoundaries, s0 = 0.067, factor = 1.5).isEmpty,
      "the CPU gate alone must (wrongly) certify the r12 window quiet — " +
        "that is the r12 blind spot this test pins")
    // Layer 1 (probabilistic): the MEMORY-BANDWIDTH sentinel now measured at
    // every boundary — a bandwidth/page-cache phase that inflates a cached
    // 256 MiB sweep 6x at the sketch segment's edges gets the segment
    // re-measured like any other dirty segment
    val memBoundaries = Seq(0.11, 0.12, 0.68, 0.71, 0.10)
    val memDirty = BenchGate.dirtySegments(memBoundaries, s0 = 0.10, factor = 2.0)
    assert(memDirty === Set(1, 2, 3),
      "the mem sentinel must flag the segments the bandwidth phase covers")
    // Layer 2 (deterministic backstop): even a phase contained STRICTLY
    // within a segment — every sentinel quiet — trips the prior envelope:
    // best-of-3 vs the last gated run's best-of-3, factor 3
    val prior = Map("sketch_hll" -> 0.80, "sketch_bloom" -> 0.95,
      "sketch_cms" -> 0.72, "sketch_kmv" -> 0.35)
    val best = Map("sketch_hll" -> 10.4, "sketch_bloom" -> 6.38,
      "sketch_cms" -> 5.1, "sketch_kmv" -> 0.37)
    val flagged = prior.keys.filter(n => best(n) > 3.0 * prior(n)).toSet
    assert(flagged === Set("sketch_hll", "sketch_bloom", "sketch_cms"),
      "the r12 sketch regressions must all land in the end-of-suite re-measure")
  }

  test("sparse IO boundaries: unmeasured edges contribute nothing, one-sided drift flags") {
    // a None next to a disturbed Some still flags the segment between them
    assert(BenchGate.dirtySegmentsSparse(Seq(None, Some(1.0), None), s0 = 0.3,
      factor = 2.0) === Set(0, 1))
    // all-None = no IO-gated segments = nothing flagged
    assert(BenchGate.dirtySegmentsSparse(Seq(None, None, None), s0 = 0.3,
      factor = 2.0).isEmpty)
    // at the factor is clean, just above is dirty (same edge rule as CPU)
    assert(BenchGate.dirtySegmentsSparse(Seq(Some(0.60), None), s0 = 0.3,
      factor = 2.0).isEmpty)
    assert(BenchGate.dirtySegmentsSparse(Seq(Some(0.61), None), s0 = 0.3,
      factor = 2.0) === Set(0))
  }

  test("replayed r14 degraded host: within-run gates blind, cross-run sentinel drift flags it") {
    // The round-14 driver run, to shape: the host's small-IO latency was
    // ~17x degraded for the WHOLE run (io_sentinel_s0 1.596 s vs the r13
    // gated run's 0.090 s), so every within-run gate — whose baselines are
    // measured on the same degraded host — read green while the IO-latency
    // heads ran 2.3-3.6x inflated. The cross-run check compares the run's
    // FINAL baselines against the last gated run's persisted ones.
    val r13 = Map("registry_sentinel_s0" -> 0.059,
      "io_sentinel_s0" -> 0.090, "mem_sentinel_s0" -> 0.074)
    val r14 = Map("registry_sentinel_s0" -> 0.065,
      "io_sentinel_s0" -> 1.596, "mem_sentinel_s0" -> 0.086)
    assert(BenchGate.sentinelDrift(r13, r14, factor = 2.0) === Seq("io_sentinel_s0"),
      "exactly the degraded sentinel must flag (CPU/mem were healthy)")
  }

  test("sentinel drift: missing priors and faster-than-prior sentinels never flag") {
    // first gated run (no priors) — nothing to compare against
    assert(BenchGate.sentinelDrift(Map.empty,
      Map("io_sentinel_s0" -> 1.596)).isEmpty)
    // a probe added after the prior was written contributes nothing
    assert(BenchGate.sentinelDrift(Map("io_sentinel_s0" -> 0.09),
      Map("io_sentinel_s0" -> 0.10, "new_probe_s0" -> 9.9)).isEmpty)
    // host got QUIETER — never drift (the next publish records the new floor)
    assert(BenchGate.sentinelDrift(Map("io_sentinel_s0" -> 0.09),
      Map("io_sentinel_s0" -> 0.03)).isEmpty)
    // at the factor is clean; just above is dirty (same edge rule as the
    // within-run gates)
    assert(BenchGate.sentinelDrift(Map("s" -> 0.10), Map("s" -> 0.20),
      factor = 2.0).isEmpty)
    assert(BenchGate.sentinelDrift(Map("s" -> 0.10), Map("s" -> 0.201),
      factor = 2.0) === Seq("s"))
  }

  test("segments preserves order and covers every head") {
    val heads = (1 to 47).map(i => s"q$i")
    val segs = BenchGate.segments(heads, 10)
    assert(segs.map(_.size) === Seq(10, 10, 10, 10, 7))
    assert(segs.flatten === heads)
  }

  test("replayed r15 ratchet: the kmv_overlap slide flags against the rolling envelope") {
    // The round-15 failure, to shape: sketch_kmv_overlap slid 0.825 ->
    // 0.937 -> 1.126 -> 3.099 s across four consecutive gated runs. Against
    // a last-run-only prior at factor 3.0, every step was under the bar
    // (1.14x, 1.20x, 2.75x) and each run overwrote the prior — a 3.8x
    // cumulative regression enshrined with no flag. Against the rolling
    // min, the third step flags.
    val slide = Seq(0.825, 0.937, 1.126, 3.099)
    // last-run-only at 3.0 (the r15 instrument): silent at every step
    slide.sliding(2).foreach { case Seq(p, c) =>
      assert(BenchGate.regressedHeads(Map("kmv" -> c), Map("kmv" -> p), 3.0).isEmpty,
        s"the ratchet: $c vs last-run $p never flagged")
    }
    // rolling min at 2.0 (the r16 instrument): the 3.099 run flags at 3.76x
    val hist = slide.init.map(v => Map("kmv" -> v))
    val env = BenchGate.rollingEnvelope(hist)
    assert(env("kmv") === 0.825)
    val reg = BenchGate.regressedHeads(Map("kmv" -> 3.099), env, 2.0)
    assert(reg.map(_._1) === Seq("kmv"))
    assert(math.abs(reg.head._2 - 3.099 / 0.825) < 1e-9)
    // earlier steps stay quiet (1.36x at worst) — no false flag
    assert(BenchGate.regressedHeads(Map("kmv" -> 1.126),
      BenchGate.rollingEnvelope(hist.init), 2.0).isEmpty)
  }

  test("rolling envelope: per-head min, failed runs and absent heads contribute nothing") {
    val env = BenchGate.rollingEnvelope(Seq(
      Map("a" -> 1.0, "b" -> -1.0), // b failed that run
      Map("a" -> 0.4, "c" -> 2.0),
      Map("a" -> 0.9, "b" -> 0.7)))
    assert(env === Map("a" -> 0.4, "b" -> 0.7, "c" -> 2.0))
    assert(BenchGate.rollingEnvelope(Seq.empty).isEmpty)
  }

  test("prior store value: the ratchet guard caps un-reproduced raises at the factor") {
    // regressed + NOT reproduced clean: stored at factor x envelope, so the
    // old envelope survives (at 2x) and the flag persists next run
    assert(BenchGate.priorStoreValue(3.099, Some(0.825), 2.0,
      remeasuredClean = false) === 1.65)
    // regressed + reproduced in a clean re-measure segment: the honest new
    // figure publishes (the only sanctioned way the envelope rises >factor)
    assert(BenchGate.priorStoreValue(3.099, Some(0.825), 2.0,
      remeasuredClean = true) === 3.099)
    // within the factor: stored as measured (faster runs lower the envelope)
    assert(BenchGate.priorStoreValue(0.9, Some(0.825), 2.0,
      remeasuredClean = false) === 0.9)
    assert(BenchGate.priorStoreValue(0.5, Some(0.825), 2.0,
      remeasuredClean = false) === 0.5)
    // new head (no envelope) or failed prior: measured value seeds it
    assert(BenchGate.priorStoreValue(4.2, None, 2.0,
      remeasuredClean = false) === 4.2)
    assert(BenchGate.priorStoreValue(4.2, Some(-1.0), 2.0,
      remeasuredClean = false) === 4.2)
    // a failed CURRENT run stores its -1 sentinel untouched (loud, not capped)
    assert(BenchGate.priorStoreValue(-1.0, Some(0.825), 2.0,
      remeasuredClean = false) === -1.0)
  }

  test("replayed r16 append slide: the throughput envelope flags it at the third slide step") {
    // The round-16 failure, to shape: append_mbps slid 632 -> 552 -> 525 ->
    // 271 -> 143 MB/s across five consecutive gated runs with ZERO flags —
    // the throughput headlines were stored in history but never compared
    // (the rolling envelope covered only per-head seconds, and the append
    // headline is not a timedMedian head). Against the rolling MAX at
    // factor 2.0, the 271 run (third slide step) flags at 2.33x.
    val slide = Seq(632.0, 552.0, 525.0, 271.0, 143.0)
    var hist = Seq.empty[Map[String, Double]]
    val flaggedAt = scala.collection.mutable.ArrayBuffer[Int]()
    slide.zipWithIndex.foreach { case (v, i) =>
      val env = BenchGate.rollingEnvelopeMax(hist)
      if (BenchGate.regressedThroughput(Map("append_mbps" -> v), env, 2.0).nonEmpty)
        flaggedAt += i
      // un-reproduced regressions store at the envelope/factor FLOOR, so a
      // degraded run cannot drag the envelope down for the next one
      val stored = BenchGate.priorStoreValueThroughput(v, env.get("append_mbps"),
        2.0, remeasuredClean = false)
      hist = (hist :+ Map("append_mbps" -> stored)).takeRight(5)
    }
    assert(flaggedAt.toSeq === Seq(3, 4), s"271 and 143 must flag, got $flaggedAt")
    // the floor guard held the envelope at 316 (632/2) through both
    // regressed runs — the 143 run was judged against the healthy best
    assert(BenchGate.rollingEnvelopeMax(hist)("append_mbps") === 632.0)
    // ratios name the magnitude: 632/143 = 4.4x for the artifact-of-record run
    val reg = BenchGate.regressedThroughput(Map("append_mbps" -> 143.0),
      BenchGate.rollingEnvelopeMax(hist), 2.0)
    assert(math.abs(reg.head._2 - 632.0 / 143.0) < 1e-9)
  }

  test("throughput store value: regressions floor at envelope/factor unless reproduced clean") {
    // regressed + NOT reproduced: stored at the floor, envelope protected
    assert(BenchGate.priorStoreValueThroughput(143.0, Some(632.0), 2.0,
      remeasuredClean = false) === 316.0)
    // regressed + reproduced in a clean write-sentinel bracket: honest store
    assert(BenchGate.priorStoreValueThroughput(143.0, Some(632.0), 2.0,
      remeasuredClean = true) === 143.0)
    // within the factor / faster: stored as measured (envelope may rise)
    assert(BenchGate.priorStoreValueThroughput(525.0, Some(632.0), 2.0,
      remeasuredClean = false) === 525.0)
    assert(BenchGate.priorStoreValueThroughput(700.0, Some(632.0), 2.0,
      remeasuredClean = false) === 700.0)
    // new headline (no envelope) or failed figures: measured seeds / loud -1
    assert(BenchGate.priorStoreValueThroughput(500.0, None, 2.0,
      remeasuredClean = false) === 500.0)
    assert(BenchGate.priorStoreValueThroughput(-1.0, Some(632.0), 2.0,
      remeasuredClean = false) === -1.0)
    // rolling max ignores failed entries and keeps the best demonstrated
    assert(BenchGate.rollingEnvelopeMax(Seq(
      Map("a" -> 100.0, "b" -> -1.0),
      Map("a" -> 250.0, "b" -> 80.0))) === Map("a" -> 250.0, "b" -> 80.0))
    // faster-than-envelope figures never flag; exactly at the bar is clean
    assert(BenchGate.regressedThroughput(Map("a" -> 316.0),
      Map("a" -> 632.0), 2.0).isEmpty)
    assert(BenchGate.regressedThroughput(Map("a" -> 315.9),
      Map("a" -> 632.0), 2.0).map(_._1) === Seq("a"))
  }

  test("creeping regression under the factor: the cap bounds envelope growth per gated run") {
    // a head degrading 1.9x per run never flags the per-run check, but with
    // min-of-N history the envelope lags N runs behind; verify the window
    // actually keeps the old min alive for N entries
    val runs = Seq(1.0, 1.9, 3.6, 6.9, 13.1)
    val hist = scala.collection.mutable.ArrayBuffer[Map[String, Double]]()
    runs.foreach { v =>
      val env = BenchGate.rollingEnvelope(hist.toSeq)
      val flagged = BenchGate.regressedHeads(Map("h" -> v), env, 2.0).nonEmpty
      val stored = BenchGate.priorStoreValue(v, env.get("h"), 2.0,
        remeasuredClean = false)
      hist += Map("h" -> stored)
      if (hist.size > 5) hist.remove(0)
      // every step past the first two IS flagged against the rolling min
      if (v >= 3.6) assert(flagged, s"$v must flag against rolling min")
    }
    // stored values: 1.0, 1.9, then capped at 2x the rolling min each run —
    // growth is bounded by the factor per gated run AND every step was loud
    assert(hist.map(_("h")) === Seq(1.0, 1.9, 2.0, 2.0, 2.0))
  }

  test("headline line fits the harness tail capture with every timed head") {
    // The harness keeps only the LAST ~2000 chars of run output; sbt appends
    // a ~75-char "[success] Total time..." line after the headline. Every
    // round r13-r17 published with the line's head sliced off (parsed: null
    // in BENCH_r*.json) because the headline had grown past that window.
    // Render the real final line with every timed head at worst-case field
    // widths and pin the budget. AllTimedHeads is require()d in sync with
    // the suite at bench runtime, so a new head lands in this population.
    // The fixture path must not move the budget or break the JSON: a
    // 200-char path with quotes and backslashes in every element.
    val qs = scala.collection.immutable.ListMap(
      Bench.AllTimedHeads.map(_ -> 8888.888): _*)
    val lastElem = "sf\"0.1\\" + "\"\\" * 20
    val hostile = ("/mnt/\"fixtures\"/back\\slash/" + "d" * 200)
      .take(200 - lastElem.length - 1) + "/" + lastElem
    assert(hostile.length == 200)
    def render(sfDir: String) = Bench.headlineFor(88888.888, qs, sfDir,
      appendMbps = 8888.888, scanMbps = 8888.888, exportMbps = 8888.888,
      backfillMbps = 8888.888, appendGatePassed = false,
      registryGatePassed = false) +
      s""","host_suspect":false,"rerun_of":0}""" // main's worst-case suffix
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    for ((sfDir, tag) <- Seq("/data/fixtures/sf0.1" -> "sf0.1",
                             hostile -> Bench.sfTag(hostile))) {
      val line = render(sfDir)
      assert(line.length <= 1900,
        s"headline is ${line.length} chars — would overflow the harness's " +
          "2000-char tail capture (with sbt's trailing success line); move " +
          "fields to the detail record instead")
      val parsed = mapper.readTree(line)
      assert(parsed.get("sf").asText() == tag, line)
      assert(parsed.get("queries").size() == Bench.AllTimedHeads.distinct.size)
    }
    assert(Bench.sfTag(hostile).startsWith("sf\"0.1\\"), Bench.sfTag(hostile))
    assert(Bench.jstr(Bench.sfTag(hostile)).length <= Bench.SfTagMax + 2)
  }
}
