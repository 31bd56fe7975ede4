package graft

/** The bench regression gate, factored out of [[Bench]] so a spec can
  * drive it with planted inputs.
  *
  * History that shaped this design: through round 9 the gate diffed
  * against the newest driver artifact `BENCH_r{N}.json`, whose tail
  * capture truncates the summary line to ~2000 chars — `"queries":{`
  * and the string `"sf"` never survive, so zero prior queries parsed
  * and the artifact printed `"regressed": {}` while its own attempts
  * array held sustained 5x slowdowns. Two fixes, both here:
  *
  *  - the diff baseline is a COMMITTED full summary (`bench_prev.json`,
  *    rewritten by every bench run and committed at round close), with
  *    the driver artifact only as a fallback;
  *  - when zero prior queries parse the artifact now says so
  *    (`"regressed_vs": null`) instead of naming a file it never read.
  */
object BenchGate {

  /** Reserved baseline key for the ambient-load calibration kernel's
    * min-merged time. Underscore prefix = instrument row: carried in
    * bench_prev.json's queries map (so it min-merges like everything
    * else and remembers the quietest box ever seen) but excluded from
    * totals and never itself flagged by [[regressions]]. */
  val AmbientKey = "_ambient_kernel"

  /** The ONE exclusion list for headline totals (ADVICE r13: the
    * query-only `total` and the baseline's `mergedTotal` each carried
    * their own prefix list, which can drift as non-query rows are
    * added). Prefixes name the non-query instrument/throughput rows:
    * the sstable fixture benches, the streaming drain, the keyed
    * export, and `_`-prefixed instrument keys (the ambient kernel). */
  private val NonQueryPrefixes =
    Seq("sstable_", "streaming_", "keyed_", "_")

  /** Whether a bench row participates in headline totals. */
  def isHeadlineQuery(name: String): Boolean =
    !NonQueryPrefixes.exists(name.startsWith)

  /** Pinned ambient ceiling for committing bench evidence: a run whose
    * calibration kernel (max of start/end, vs the quietest box this
    * repo has seen) exceeds this factor must not rewrite the committed
    * artifact or baseline — VERDICT r13 #1: the official r13 artifact
    * carried 13 regressions that were plausibly-but-unprovably ambient
    * load, because the gate had no notion of a box too noisy to
    * measure on. 1.25 sits above same-session jitter (quiet runs
    * measure 1.0–1.15) and below the 1.5× regression gate, so a box
    * loaded enough to fake a regression can never anchor evidence. */
  val QuietBoxMaxFactor = 1.25

  /** Whether the box is quiet enough for this run to persist committed
    * bench evidence. No kernel baseline (first ever run) counts as
    * quiet — the bootstrap run defines the baseline. */
  def quietBox(
      ambientFactor: Option[Double],
      maxFactor: Double = QuietBoxMaxFactor): Boolean =
    ambientFactor.forall(_ <= maxFactor)

  /** HOST-SPEED DRIFT (r15). The quiet gate above compares the
    * session's kernel to the quietest reading the repo has EVER seen
    * (min-merged `_ambient_kernel`). That bar silently assumes the
    * box's hardware speed is constant across sessions. Measured, it
    * is not: this is a multi-tenant VM, and the fixed calibration
    * kernel reads 0.052 s once (r13), then 0.10–0.16 s across every
    * later session — including sessions where /proc/loadavg sat at
    * 0.09, a 12-sample spark-shell probe of the same kernel measured
    * min 0.124 / median 0.159, and /proc/stat steal was ~0 — i.e. the
    * box was IDLE and still ran the kernel ~2× slower than the r13
    * moment. A gate that demands 1.25× of an all-time-best host speed
    * refuses every honest measurement on a slower-host day (r14 and
    * the first r15 run were both refused), while the per-query
    * baselines — recorded on the fast day — make every row look
    * regressed by the same uniform ~2×.
    *
    * The discriminator between drift and load is BRACKETING
    * STEADINESS: co-tenant load comes and goes (start/end kernel
    * readings disagree; attempt variance is high), while a slower
    * host is a stable property of the whole session (start ≈ end).
    * On a steady session the kernel is a same-session CONTROL
    * workload, and the honest regression question becomes: did any
    * query slow down MORE than the fixed control did? That is the
    * 1.5× gate applied in drift-normalized time — raw numbers stay
    * published; only the flagging threshold scales. A steady session
    * may persist evidence (the min-merged baseline is unharmed by
    * construction: a slower session's numbers never lower any bar),
    * but a REBASE stays quiet-box-only — rebasing writes current
    * numbers as the bar, which must never happen at degraded speed. */
  val SteadyMaxRatio = 1.2

  /** A sustained co-tenant CAN present a steady bracket (it pegs the
    * host for the whole run), which is why steadiness alone must not
    * unlock drift treatment: /proc/stat steal is the direct
    * kernel-level counter of cycles the hypervisor gave away, and a
    * slowdown that is really contention shows steal of the same order
    * as the slowdown (a 2× drag needs ~half our cycles stolen),
    * while true host drift reads steal ≈ 0. 10% is an order of
    * magnitude below what could explain a gate-relevant 1.5×, and
    * well above the 1–3% the committed steady runs measured. */
  val SteadyMaxStealPct = 10.0

  /** Whether the session's speed is a stable HOST property (drift):
    * bracketing kernel readings agree closely AND the hypervisor's
    * steal counter rules out a sustained co-tenant. An unmeasurable
    * steal (no /proc/stat) fails closed — without the counter a
    * steady co-tenant is indistinguishable from drift. */
  def steadyHost(kernelStart: Double, kernelEnd: Double,
      stealPct: Option[Double],
      maxRatio: Double = SteadyMaxRatio,
      maxStealPct: Double = SteadyMaxStealPct): Boolean =
    kernelStart > 0 && kernelEnd > 0 &&
      math.max(kernelStart, kernelEnd) /
        math.min(kernelStart, kernelEnd) <= maxRatio &&
      stealPct.exists(_ <= maxStealPct)

  /** Conservative drift factor of a steady session: the SMALLER of
    * the two bracketing readings over the quietest-ever baseline
    * (min → the least host slowdown the session can claim, so the
    * normalized gate stays as tight as the evidence allows), floored
    * at 1 — a faster-than-baseline box needs no normalization. */
  def driftFactor(kernelStart: Double, kernelEnd: Double,
      baseline: Option[Double]): Option[Double] =
    baseline.filter(_ > 0).map(b =>
      math.max(1.0, math.min(kernelStart, kernelEnd) / b))

  /** Parse the `"queries":{...}` map out of a bench summary line,
    * returning empty unless the artifact's `"sf"` matches `sfDir`
    * (a prior run at a different scale factor would flag every query).
    * Tolerates truncated text — a tail-captured artifact that lost its
    * queries map or sf field parses to empty rather than garbage.
    *
    * A COMPACT summary (the tail-window line Bench prints last, whose
    * queries map is only the slowest subset) declares its full size in
    * `"queries_total"`; when that field is present and disagrees with
    * the parsed count, the text is a partial listing and must not
    * anchor a regression diff — 25 slowest-of-149 as a baseline would
    * silently un-gate the other 124 queries. */
  def parsePrior(text: String, sfDir: String): Map[String, Double] = {
    val start = text.indexOf("\"queries\":{")
    val priorSf = "\"sf\":\"([^\"]+)\"".r.findFirstMatchIn(text).map(_.group(1))
    if (start < 0 || !priorSf.contains(sfDir)) Map.empty
    else {
      val body = text.substring(start + 11, text.indexOf('}', start))
      val parsed = "\"([^\"]+)\":(-?[0-9.]+)".r.findAllMatchIn(body)
        .map(m => m.group(1) -> m.group(2).toDouble).toMap
      val declaredTotal = "\"queries_total\":(\\d+)".r
        .findFirstMatchIn(text).map(_.group(1).toInt)
      if (declaredTotal.exists(_ != parsed.size)) Map.empty else parsed
    }
  }

  /** Queries whose new time exceeds `factor` x their prior time, with
    * an absolute floor so a 30 ms -> 50 ms jitter never fires. Returns
    * (prior, current) pairs keyed by query. Keys starting with `_` are
    * instrument rows (the ambient calibration kernel), carried in the
    * baseline for the load factor but never flagged as regressions
    * themselves. */
  def regressions(
      current: Map[String, Double],
      prior: Map[String, Double],
      factor: Double = 1.5,
      floorSec: Double = 0.2): Map[String, (Double, Double)] =
    current.collect {
      case (k, s) if !k.startsWith("_") &&
          prior.get(k).exists(p => p > 0 && s > factor * p && s > floorSec) =>
        k -> (prior(k), s)
    }

  /** The `"regressed_vs"` value: the prior file's name ONLY when it
    * actually contributed queries to the comparison — a gate that
    * parsed nothing must say null, not claim a diff it never made. */
  def priorLabel(fileName: Option[String], parsedQueries: Int): String =
    fileName match {
      case Some(n) if parsedQueries > 0 => s""""$n""""
      case _ => "null"
    }

  /** Whether this run may rewrite the committed baseline
    * (`bench_prev.json`). Two clobber paths are closed, both hit in
    * round 10: a SPARK_GRAFT_ONLY-filtered debug run would shrink the
    * 147-query baseline to the handful under iteration, and a full run
    * at a DIFFERENT scale factor (the local sf1 scale-evidence pass)
    * would leave a baseline the next sf0.1 gate rejects on its sf
    * field — both silently reproduce the vacuous `"regressed": {}`
    * this file exists to prevent. A missing or sf-less prior always
    * yields to the current run. */
  def shouldPersistBaseline(
      fullRun: Boolean,
      prevText: Option[String],
      sfDir: String): Boolean =
    fullRun && prevText.forall { text =>
      "\"sf\":\"([^\"]+)\"".r.findFirstMatchIn(text)
        .map(_.group(1)).forall(_ == sfDir)
    }

  /** The baseline to PERSIST: per-query minimum of this run and the
    * committed prior — the third clobber path (VERDICT r10 #2). A
    * last-write baseline lets one degraded session (round 10's
    * committed 66 s run, 55 self-reported regressions) inflate every
    * query's bar at once, under-reporting real regressions for a full
    * round. Taking the per-query min means a slow session's numbers
    * simply never enter the baseline — min(prior_fast, current_slow)
    * keeps the prior — while genuine improvements still lower the bar
    * immediately. Two costs, both answered by TARGETED rebase
    * (ADVICE r11): a DELIBERATE slowdown (a query made to do more
    * work) flags until rebased, and the min is a one-way ratchet — a
    * single anomalously fast measurement (a memo-cached read under
    * unusual eviction ordering) pins that query's bar until rebased.
    * `rebase` is therefore a per-query predicate parsed from
    * SPARK_GRAFT_BENCH_REBASE by [[parseRebase]]: a comma-separated
    * query list resets ONLY those queries to the current run while
    * every other query keeps its min-merge; the literal `1`/`all`
    * resets the whole baseline (the documented global form — only for
    * a quiet box, since a global rebase during a degraded session
    * recreates the r10 baseline-inflation incident). Bookkeeping
    * rules:
    *  - a query only in the current run (new operator) enters at its
    *    current time;
    *  - a query only in the prior (renamed/removed) is dropped, so
    *    stale entries don't linger;
    *  - a current error (-1) keeps the prior time — an errored attempt
    *    must not erase the query's known cost. */
  def mergedBaseline(
      current: Map[String, Double],
      prior: Map[String, Double],
      rebase: String => Boolean = _ => false): Map[String, Double] =
    current.flatMap { case (k, s) =>
      val p = prior.get(k).filter(_ > 0)
      if (s <= 0) p.map(k -> _)                    // current errored
      else if (rebase(k)) Some(k -> s)
      else Some(k -> p.fold(s)(math.min(s, _)))
    }

  /** Parse SPARK_GRAFT_BENCH_REBASE into a per-query predicate:
    * unset/empty → rebase nothing; `1` or `all` → rebase everything
    * (global reset, quiet-box only); otherwise a comma-separated list
    * of query names → rebase exactly those (min-merge for the rest).
    * Also returns whether ANY rebase was requested, for the artifact's
    * `rebased` field. */
  def parseRebase(env: Option[String]): (String => Boolean, Boolean) =
    env.map(_.trim).filter(_.nonEmpty) match {
      case None => (_ => false, false)
      case Some("1") | Some("all") => (_ => true, true)
      case Some(list) =>
        val names = list.split(",").map(_.trim).filter(_.nonEmpty).toSet
        (names.contains _, names.nonEmpty)
    }

  /** Name the best available cause for a sustained regression
    * (VERDICT r11 #1 — the 7-entry sub-second cluster with gc=0 and
    * memo=0 that the artifact could see but not explain). Inputs per
    * regressed query: its baseline `prior` and this run's `minSec`
    * (both from [[regressions]]), an optional end-of-run `retry`
    * (one more attempt after the full sweep), and the session's
    * `ambientFactor` — the calibration kernel's min-of-3 wall time
    * this session divided by the kernel's own min-merged baseline
    * (the quietest box this repo has seen), bracketing the run
    * (measured at start AND end; the max of the two is passed here).
    * Priority:
    *  - the retry landing back inside the gate (≤ `factor` × prior)
    *    names a transient: the slowdown did not survive the session;
    *  - a demonstrably loaded box (kernel ≥ `ambientMin`× its
    *    baseline) whose load covers the regression ratio (within
    *    `ambientSlack`) names ambient load — same-session evidence,
    *    not a guess;
    *  - otherwise "unexplained": a real finding the next round must
    *    treat as a potential plan regression. */
  def regressionCause(
      prior: Double,
      minSec: Double,
      retry: Option[Double],
      ambientFactor: Option[Double],
      factor: Double = 1.5,
      ambientMin: Double = 1.2,
      ambientSlack: Double = 1.3): String =
    if (retry.exists(r => r > 0 && r <= factor * prior)) "transient-retry-ok"
    else if (ambientFactor.exists(a =>
        a >= ambientMin && minSec / prior <= a * ambientSlack)) "ambient-load"
    else "unexplained"

  /** Whether a query's first attempt is a SPIKE worth explaining:
    * over `factor`× its own median AND over an absolute floor (a
    * 40 ms → 200 ms first attempt is codegen warmup, not a finding). */
  def isSpike(
      firstSec: Double,
      medianSec: Double,
      factor: Double = 4.0,
      floorSec: Double = 0.5): Boolean =
    firstSec > factor * medianSec && firstSec > floorSec

  /** Attribute a first-attempt spike (VERDICT r10 #1/#5). Priority:
    * a driver memo materialized during the attempt explains it
    * outright — EITHER a [[graft.functions.SessionScopedCache]] entry
    * (entry count, not bytes, because a tiny memoized frame can have
    * an expensive pipeline) OR any build recorded by the process-wide
    * [[graft.functions.DriverMemo]] counter, which still reads a build
    * whose entry was evicted within the attempt; else GC
    * dominating ≥30% of the wall clock names memory pressure; else a
    * demonstrably loaded box names ambient load, bounded: the
    * session-start calibration kernel must read ≥ `ambientMin`× its
    * committed baseline AND the spike ratio must sit within
    * ambientStart² — first attempts do strictly MORE work (codegen,
    * classloading, scan-cache misses), every microsecond of it slowed
    * by the same load factor, so cold-path inflation compounds to
    * roughly load × cold-work ≤ ambient² on a box whose point-sampled
    * kernel already reads `ambient`; else the artifact says
    * "unattributed" — which a reader must NOT mistake for a plan
    * regression. */
  def spikeCause(
      memoEntriesDelta: Int,
      memoBuildsDelta: Long,
      gcMs: Long,
      firstSec: Double,
      medianSec: Double = 0.0,
      ambientStart: Option[Double] = None,
      ambientMin: Double = 1.5): String =
    if (memoEntriesDelta > 0 || memoBuildsDelta > 0) "memo-build"
    else if (gcMs > 0.3 * firstSec * 1000) "gc"
    else if (medianSec > 0 && ambientStart.exists(a =>
        a >= ambientMin && firstSec / medianSec <= a * a)) "ambient-load"
    else "unattributed"
}
