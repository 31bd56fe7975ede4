package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench regression gate, driven with planted inputs — the spec
  * VERDICT r7-r9 asked for after the gate printed `"regressed": {}`
  * three rounds running while parsing zero prior queries from the
  * truncated driver artifact. */
class BenchGateSpec extends AnyFunSuite {

  private val sf = "/root/testdata/sf0.1"
  private def summary(qs: String, sfDir: String = sf): String =
    s"""{"metric":"total","value":9.9,"unit":"sec","queries":{$qs},"failed":0,"errors":{},"sf":"$sfDir","medians":{}}"""

  test("a planted 2x slowdown over the floor is flagged with both numbers") {
    val prior = BenchGate.parsePrior(
      summary(""""q_fast":0.050,"q_slow":0.400,"q_same":1.000"""), sf)
    assert(prior === Map("q_fast" -> 0.05, "q_slow" -> 0.4, "q_same" -> 1.0))
    val current = Map("q_fast" -> 0.10, "q_slow" -> 0.80, "q_same" -> 1.05)
    val reg = BenchGate.regressions(current, prior)
    // q_slow doubled above the 0.2 s floor -> flagged with (prior, new);
    // q_fast also doubled but sits under the floor -> jitter, not flagged.
    assert(reg === Map("q_slow" -> (0.4, 0.8)))
  }

  test("the exact r9 failure shape: events_ewma-class sustained slowdowns fire") {
    // The r8->r9 deltas the old gate missed, verbatim from the artifacts.
    val prior = Map("events_ewma" -> 0.348, "kv_counter_merge" -> 0.223,
      "curation_report" -> 0.597, "noise" -> 1.0)
    val current = Map("events_ewma" -> 1.730, "kv_counter_merge" -> 1.014,
      "curation_report" -> 2.391, "noise" -> 1.08)
    assert(BenchGate.regressions(current, prior).keySet ===
      Set("events_ewma", "kv_counter_merge", "curation_report"))
  }

  test("a prior artifact from a different scale factor parses to empty") {
    val text = summary(""""q1":0.5""", "/root/testdata/sf0.01")
    assert(BenchGate.parsePrior(text, sf).isEmpty)
  }

  test("a tail-truncated driver artifact parses to empty, not garbage") {
    // The r9 regime: BENCH_r09.json held only the LAST ~2000 chars of
    // the line — no "queries":{ prefix, no "sf" field.
    val truncated = summary(""""q1":0.5,"q2":1.25""").takeRight(15)
    assert(BenchGate.parsePrior(truncated, sf).isEmpty)
    // And a head-truncation that keeps queries but loses sf also
    // refuses to compare (sf unverifiable).
    val headOnly = summary(""""q1":0.5""").take(60)
    assert(BenchGate.parsePrior(headOnly, sf).isEmpty)
  }

  test("regressed_vs is null exactly when zero prior queries parsed") {
    assert(BenchGate.priorLabel(Some("BENCH_r09.json"), 0) === "null")
    assert(BenchGate.priorLabel(None, 0) === "null")
    assert(BenchGate.priorLabel(Some("bench_prev.json"), 147) === "\"bench_prev.json\"")
  }

  test("filtered and cross-sf runs never clobber the committed baseline") {
    val prev = Some(summary(""""q1":0.5"""))  // sf0.1 baseline on disk
    // The round-10 incident, both halves: a SPARK_GRAFT_ONLY debug run
    // (fullRun=false) and a full local sf1 scale pass must leave the
    // sf0.1 baseline alone...
    assert(!BenchGate.shouldPersistBaseline(fullRun = false, prev, sf))
    assert(!BenchGate.shouldPersistBaseline(fullRun = true, prev, "/root/repo/testdata/sf1"))
    // ...while the driver's same-sf full run keeps updating it, and a
    // missing or sf-less prior yields to the current run.
    assert(BenchGate.shouldPersistBaseline(fullRun = true, prev, sf))
    assert(BenchGate.shouldPersistBaseline(fullRun = true, None, sf))
    assert(BenchGate.shouldPersistBaseline(fullRun = true, Some("{}"), sf))
  }

  test("a slow session never inflates the merged baseline (the r10 clobber)") {
    // Round 10's incident: a degraded 66 s session overwrote the
    // committed baseline wholesale, raising every query's bar. Under
    // per-query-min merging the slow values simply never enter.
    val prior = Map("q_a" -> 0.157, "q_b" -> 0.259, "q_c" -> 1.0)
    val slowSession = Map("q_a" -> 2.955, "q_b" -> 3.234, "q_c" -> 1.2)
    assert(BenchGate.mergedBaseline(slowSession, prior) === prior)
  }

  test("merged baseline: improvements lower the bar, new queries enter, stale drop") {
    val prior = Map("q_improved" -> 1.0, "q_removed" -> 0.4, "q_err" -> 0.3)
    val current = Map("q_improved" -> 0.6, "q_new" -> 0.2, "q_err" -> -1.0)
    assert(BenchGate.mergedBaseline(current, prior) ===
      Map("q_improved" -> 0.6, "q_new" -> 0.2, "q_err" -> 0.3))
    // An errored query with no prior history contributes nothing.
    assert(BenchGate.mergedBaseline(Map("q_err" -> -1.0), Map.empty) === Map.empty)
  }

  test("rebase resets deliberate slowdowns to the current run") {
    val prior = Map("q_more_work" -> 0.2, "q_gone" -> 0.1)
    val current = Map("q_more_work" -> 0.9)
    assert(BenchGate.mergedBaseline(current, prior, rebase = _ => true) ===
      Map("q_more_work" -> 0.9))
  }

  test("targeted rebase resets only the named queries; the rest keep their min") {
    // The ADVICE r11 incident shape: a rebase during a degraded
    // session must not reset queries it was never aimed at.
    val prior = Map("q_slowed_on_purpose" -> 0.2, "q_innocent" -> 0.3)
    val current = Map("q_slowed_on_purpose" -> 0.9, "q_innocent" -> 1.5) // degraded box
    val (rebase, any) = BenchGate.parseRebase(Some("q_slowed_on_purpose"))
    assert(any)
    assert(BenchGate.mergedBaseline(current, prior, rebase) ===
      Map("q_slowed_on_purpose" -> 0.9, "q_innocent" -> 0.3))
    // And the one-way min ratchet: a falsely pinned min is released by
    // naming just that query, without a global reset.
    val pinned = Map("q_pinned" -> 0.01, "q_other" -> 0.5)
    val honest = Map("q_pinned" -> 0.25, "q_other" -> 0.48)
    val (unpin, _) = BenchGate.parseRebase(Some("q_pinned"))
    assert(BenchGate.mergedBaseline(honest, pinned, unpin) ===
      Map("q_pinned" -> 0.25, "q_other" -> 0.48))
  }

  test("parseRebase: unset rebases nothing, 1/all everything, lists exactly themselves") {
    val (none, anyNone) = BenchGate.parseRebase(None)
    assert(!anyNone && !none("q"))
    val (blank, anyBlank) = BenchGate.parseRebase(Some("  "))
    assert(!anyBlank && !blank("q"))
    val (all, anyAll) = BenchGate.parseRebase(Some("1"))
    assert(anyAll && all("anything"))
    val (all2, _) = BenchGate.parseRebase(Some("all"))
    assert(all2("anything"))
    val (some, anySome) = BenchGate.parseRebase(Some("q_a, q_b"))
    assert(anySome && some("q_a") && some("q_b") && !some("q_c"))
  }

  test("a compact (slowest-N) summary never anchors a diff; a complete one does") {
    // The tail-window line declares its full size; a 2-of-3 listing is
    // partial and must parse to empty, not masquerade as a baseline.
    val compact =
      s"""{"metric":"total","value":9.9,"unit":"sec","queries":{"q_a":1.5,"q_b":1.0},"queries_shown":"slowest 2 of 3 by min","queries_total":3,"failed":0,"sf":"$sf"}"""
    assert(BenchGate.parsePrior(compact, sf).isEmpty)
    // A filtered debug run's compact line IS complete (2 of 2) — usable.
    val complete = compact.replace("\"queries_total\":3", "\"queries_total\":2")
    assert(BenchGate.parsePrior(complete, sf) === Map("q_a" -> 1.5, "q_b" -> 1.0))
  }

  test("spike detection: 4x-over-median above the floor, warmup jitter exempt") {
    assert(BenchGate.isSpike(firstSec = 8.14, medianSec = 0.42))   // the r10 shape
    assert(!BenchGate.isSpike(firstSec = 0.2, medianSec = 0.04))   // under the floor
    assert(!BenchGate.isSpike(firstSec = 1.2, medianSec = 0.4))    // 3x: not a spike
  }

  test("spike causes: memo build wins over gc, gc needs 30% of wall, else unattributed") {
    // A memoized pipeline's first touch explains the spike even when
    // GC was also busy — entry count, not bytes, is the signal.
    assert(BenchGate.spikeCause(memoEntriesDelta = 2, memoBuildsDelta = 2,
      gcMs = 900, firstSec = 2.0) === "memo-build")
    assert(BenchGate.spikeCause(memoEntriesDelta = 0, memoBuildsDelta = 0,
      gcMs = 700, firstSec = 2.0) === "gc")
    assert(BenchGate.spikeCause(memoEntriesDelta = 0, memoBuildsDelta = 0,
      gcMs = 100, firstSec = 2.0) === "unattributed")
  }

  test("spike causes: a loaded start kernel attributes within its compounded bound") {
    // The r12 shape: events_hopping_agg 1.43 s first vs 0.35 s median
    // (4.1x) with gc=0 and no memo, on a box whose start kernel read
    // 2.72x its baseline — within 2.72^2, so ambient-load.
    assert(BenchGate.spikeCause(memoEntriesDelta = 0, memoBuildsDelta = 0,
      gcMs = 0, firstSec = 1.43, medianSec = 0.35,
      ambientStart = Some(2.72)) === "ambient-load")
    // A quiet box (kernel ~1x) never claims ambient for a 4x spike.
    assert(BenchGate.spikeCause(memoEntriesDelta = 0, memoBuildsDelta = 0,
      gcMs = 0, firstSec = 1.43, medianSec = 0.35,
      ambientStart = Some(1.1)) === "unattributed")
    // A loaded box still cannot explain a spike past its squared
    // bound: 10x on a 2x-loaded box stays unattributed.
    assert(BenchGate.spikeCause(memoEntriesDelta = 0, memoBuildsDelta = 0,
      gcMs = 0, firstSec = 3.5, medianSec = 0.35,
      ambientStart = Some(2.0)) === "unattributed")
    // Memo evidence still wins over ambient.
    assert(BenchGate.spikeCause(memoEntriesDelta = 1, memoBuildsDelta = 1,
      gcMs = 0, firstSec = 1.43, medianSec = 0.35,
      ambientStart = Some(2.72)) === "memo-build")
  }

  test("the r11 blind spot: a driver-memo build outside SessionScopedCache attributes") {
    // text_bpe_encode's 15x first attempt paid Bpe's WeakHashMap
    // training memo: zero SessionScopedCache entries, but the
    // process-wide DriverMemo counter ticked — that must read
    // memo-build, not unattributed.
    assert(BenchGate.spikeCause(memoEntriesDelta = 0, memoBuildsDelta = 1,
      gcMs = 0, firstSec = 3.75) === "memo-build")
  }

  test("DriverMemo counter ticks once per build across both cache shapes") {
    // The cache ticks the counter itself, once per real miss: a frame
    // entry and a driver-value entry each tick when built — the value
    // entry raced by 8 concurrent callers — and never on a hit.
    import java.util.concurrent.{Callable, CountDownLatch, Executors}
    import graft.functions.{DriverMemo, SessionScopedCache}
    val spark = SparkTestSession.spark
    val dir = java.nio.file.Files.createTempDirectory("graft-memo-count").toString
    val frames = new SessionScopedCache[org.apache.spark.sql.DataFrame]("spec.count_frames")
    val values = new SessionScopedCache[Long]("spec.count_values")

    val b0 = DriverMemo.buildCount()
    val df = frames.getOrCompute(spark, dir)(spark.range(100).toDF().localCheckpoint())
    assert(DriverMemo.buildCount() === b0 + 1)
    assert(frames.getOrCompute(spark, dir)(fail("a frame hit must not build")) eq df)
    assert(DriverMemo.buildCount() === b0 + 1)

    val builds = new java.util.concurrent.atomic.AtomicInteger
    val go = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(8)
    val got = try {
      val futures = (1 to 8).map(_ => pool.submit(new Callable[Long] {
        def call(): Long = {
          go.await()
          values.getOrCompute(spark, dir) { builds.incrementAndGet(); Thread.sleep(200); 42L }
        }
      }))
      go.countDown()
      futures.map(_.get())
    } finally pool.shutdown()
    assert(got.forall(_ == 42L))
    assert(builds.get === 1, "8 concurrent callers must share one build")
    assert(DriverMemo.buildCount() === b0 + 2)
    assert(values.getOrCompute(spark, dir)(fail("a value hit must not build")) === 42L)
    assert(DriverMemo.buildCount() === b0 + 2)
    SessionScopedCache.unpersist(spark, s"spec.count_frames#$dir")
  }

  test("instrument keys (_ambient_kernel) never flag as regressions") {
    val prior = Map(BenchGate.AmbientKey -> 0.1, "q" -> 0.3)
    val current = Map(BenchGate.AmbientKey -> 0.4, "q" -> 0.31)
    assert(BenchGate.regressions(current, prior).isEmpty)
  }

  test("regression causes: retry clears, kernel-proven load names ambient, else unexplained") {
    // The r11 7-entry cluster shape: a 0.15 s query at 2.5x its
    // baseline, gc=0, memo=0. With the calibration kernel ALSO at
    // ~2.4x its quietest baseline the cause is ambient load...
    assert(BenchGate.regressionCause(prior = 0.15, minSec = 0.375,
      retry = Some(0.36), ambientFactor = Some(2.4)) === "ambient-load")
    // ...an end-of-run retry landing back inside the 1.5x gate names
    // a transient regardless of the kernel...
    assert(BenchGate.regressionCause(prior = 0.15, minSec = 0.375,
      retry = Some(0.18), ambientFactor = None) === "transient-retry-ok")
    // ...and a sustained slowdown on a demonstrably QUIET box is a
    // real finding: unexplained.
    assert(BenchGate.regressionCause(prior = 0.15, minSec = 0.375,
      retry = Some(0.37), ambientFactor = Some(1.02)) === "unexplained")
    // A loaded box does not excuse a regression far beyond the load:
    // kernel at 1.3x cannot cover a 4x query slowdown.
    assert(BenchGate.regressionCause(prior = 0.15, minSec = 0.6,
      retry = None, ambientFactor = Some(1.3)) === "unexplained")
  }

  test("a noisy box refuses to anchor committed evidence; a quiet or unbaselined one does not") {
    // The r13 incident shape: kernel at 1.56x its quietest baseline.
    assert(!BenchGate.quietBox(Some(1.56)))
    // The builder's own "committed" r13 run started at 2.03x.
    assert(!BenchGate.quietBox(Some(2.03)))
    // Quiet runs measure 1.0-1.15; both sides of the pinned ceiling.
    assert(BenchGate.quietBox(Some(1.05)))
    assert(BenchGate.quietBox(Some(BenchGate.QuietBoxMaxFactor)))
    assert(!BenchGate.quietBox(Some(BenchGate.QuietBoxMaxFactor + 0.01)))
    // Bootstrap: no kernel baseline yet -> the first run may define it.
    assert(BenchGate.quietBox(None))
  }

  test("ONE shared headline predicate excludes every non-query row class") {
    // The two hand-kept prefix lists (total vs mergedTotal) drifted
    // risk (ADVICE r13); the single predicate is the fix.
    assert(BenchGate.isHeadlineQuery("q1_pricing_summary"))
    assert(BenchGate.isHeadlineQuery("dedup_minhash_lsh"))
    assert(!BenchGate.isHeadlineQuery("sstable_migrate"))
    assert(!BenchGate.isHeadlineQuery("streaming_throughput"))
    assert(!BenchGate.isHeadlineQuery("keyed_export"))
    assert(!BenchGate.isHeadlineQuery(BenchGate.AmbientKey))
  }

  test("queries that error (-1) in the prior never flag as improvements or anchors") {
    val prior = BenchGate.parsePrior(summary(""""q_err":-1,"q_ok":0.300"""), sf)
    assert(prior("q_err") === -1.0)
    // p > 0 guard: a prior error row cannot anchor a regression.
    assert(BenchGate.regressions(Map("q_err" -> 0.5, "q_ok" -> 0.31), prior).isEmpty)
  }

  test("steady host: close brackets AND low steal; co-tenants and unmeasured steal never") {
    assert(BenchGate.steadyHost(0.105, 0.105, Some(1.1)))
    assert(BenchGate.steadyHost(0.115, 0.101, Some(2.0))) // the r14 driver session
    assert(!BenchGate.steadyHost(0.279, 0.105, Some(0.5))) // sbt-polluted start
    assert(!BenchGate.steadyHost(0.0, 0.105, Some(0.0)))
    assert(!BenchGate.steadyHost(0.105, -1.0, Some(0.0)))
    // A sustained co-tenant pegs the host STEADILY — the bracket
    // alone cannot tell it from drift; the steal counter can (review
    // r15: steadiness must not unlock drift treatment under real
    // contention).
    assert(!BenchGate.steadyHost(0.105, 0.105, Some(35.0)))
    // No /proc/stat -> fail closed: unmeasurable contention is not
    // evidence of drift.
    assert(!BenchGate.steadyHost(0.105, 0.105, None))
  }

  test("drift factor: min of the bracket over baseline, floored at 1, None unbaselined") {
    // A steady 2x-slower host day (the measured r15 shape).
    assert(math.abs(BenchGate.driftFactor(0.110, 0.104, Some(0.052)).get - 2.0) < 1e-9)
    // A faster-than-baseline box normalizes by exactly 1.
    assert(BenchGate.driftFactor(0.04, 0.045, Some(0.052)).get === 1.0)
    assert(BenchGate.driftFactor(0.1, 0.1, None).isEmpty)
    assert(BenchGate.driftFactor(0.1, 0.1, Some(0.0)).isEmpty)
  }

  test("drift-normalized gate: uniform host slowdown passes, a real regression still flags") {
    val prior = Map("uniform" -> 0.300, "real" -> 0.300)
    // Host 2x slower: every row ~2x its prior. The raw 1.5x gate flags
    // both; the drift-normalized gate (1.5 * 2.0) flags neither...
    val drifted = Map("uniform" -> 0.620, "real" -> 0.640)
    assert(BenchGate.regressions(drifted, prior).size === 2)
    assert(BenchGate.regressions(drifted, prior, factor = 1.5 * 2.0).isEmpty)
    // ...while a row that slowed MORE than the control kernel (4x on a
    // 2x-slow host) still flags — code regressions cannot hide behind
    // drift.
    val withReal = Map("uniform" -> 0.620, "real" -> 1.250)
    assert(BenchGate.regressions(withReal, prior, factor = 1.5 * 2.0)
      .keySet === Set("real"))
  }
}
