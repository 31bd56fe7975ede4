package graft
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
/** Driver-run benchmark main: times every SparkEntry query at the
  * SPARK_GRAFT_SF_DIR scale factor and prints the artifact JSON.
  *
  * Harness rules: each query is run three times and the minimum kept
  * (steady-state cost — codegen compiled, footers cached — with load
  * noise damped); a query that throws reports -1 with its error in the
  * `errors` field rather than benching the elapsed time of the failed
  * attempt as a fast success.
  *
  * ATTRIBUTION (VERDICT r10 #1): every attempt also records its JVM
  * GC-time delta and its session-memo growth
  * ([[graft.functions.SessionScopedCache.retainedBytes]] delta), and
  * queries run in published name-ascending order — so a reader of a
  * skewed attempt can tell a memo first-materialization (memo_bytes
  * spike on attempt 1) from GC pressure (gc_ms ≈ wall) from co-tenant
  * noise (neither). Queries whose first attempt exceeds 4× their
  * median are summarized in `spikes` with the inferred cause named.
  *
  * STDOUT CONTRACT: the full summary (attempts, attribution, spikes)
  * is one ~15 KB JSON line, which no tail-bounded log capture survives
  * — ten rounds of driver artifacts carried `parsed: null` because the
  * line's head never fit the 2000-char tail window. The full line
  * therefore goes to bench_full.json / first on stdout, and the LAST
  * stdout line is a compact (<1.8 KB) summary — total, failures, the
  * slowest queries, regression count — small enough to survive the
  * tail window and parse.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
    graft.sources.Tables.sessionConfs.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Verify.quietUnpartitionedWindows()
    // Warm the JVM (codegen, shuffle machinery) and parquet footers so
    // per-query timings measure the query, not session initialization.
    // The representative-kernel jobs below exist because queries now
    // run in FIXED name-ascending order: whoever runs first would
    // otherwise absorb the session's C2-compilation of the shared
    // runtime paths (sorters, UnsafeRow, aggregation buffers) — the
    // r11 artifact showed the alphabetically-first ann_* block
    // sustained ~2x over its ran-late historical best for exactly this
    // reason. Each query still pays JIT for its OWN generated class.
    spark.range(1000000).selectExpr("sum(id)").collect()
    graft.sources.Tables.names.foreach { t =>
      try {
        if (t == "events") graft.sources.Tables.events(spark, sfDir).count()
        else graft.sources.Tables(spark, sfDir, t).count()
      } catch { case _: Throwable => () }
    }
    scala.util.Try {
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.expressions.Window
      val e = graft.sources.Tables.embeddings(spark, sfDir)
        .select(col("vec_id"), col("embedding")).limit(256)
      // cosine + bounded-heap top-k (the ANN kernel family)
      e.crossJoin(e.select(col("vec_id").as("q"), col("embedding").as("qe")).limit(8))
        .select(col("q"), graft.functions.Sketches.cosineSim(col("qe"), col("embedding")).as("cos"),
          col("vec_id"))
        .groupBy(col("q"))
        .agg(graft.functions.TopKByScore.topkByScore(col("cos"), col("vec_id"), 5))
        .collect()
      // window + struct-max + shuffle aggregation (the analytics family)
      e.withColumn("r", row_number().over(Window.orderBy(col("vec_id"))))
        .groupBy(pmod(col("vec_id"), lit(7)))
        .agg(max(struct(col("r"), col("vec_id"))), count(lit(1)))
        .collect()
    }.failed.foreach { t =>
      // Best-effort, but never silently: a broken warmup re-introduces
      // the first-slot C2 spike this block exists to prevent.
      System.err.println(s"[bench] warmup kernels failed: ${t.getMessage}")
    }
    // Ambient-load calibration (VERDICT r11 #1): a FIXED deterministic
    // Spark job — same row count, same expression, every session —
    // timed min-of-3 right after warmup and again after the sweep, so
    // the two measurements bracket the run. Its min-merged baseline
    // rides bench_prev.json under the reserved "_ambient_kernel" key
    // (underscore keys are instrument rows: excluded from totals and
    // from the regression gate by BenchGate.regressions), which makes
    // the session's load factor = kernel-now / quietest-kernel-ever a
    // number the artifact can print next to each regressed entry —
    // r11's 7-entry sub-second cluster (gc=0, memo=0, sustained) was
    // almost certainly box load, and the artifact could not prove it.
    def calibKernelOnce(): Double = {
      val t0 = System.nanoTime()
      // pmod bounds the terms: a raw sum of 2^25 full-range hashes
      // overflows Long under the session's ANSI mode.
      spark.range(1L << 25).selectExpr("sum(pmod(xxhash64(id), 1048576)) AS s").collect()
      (System.nanoTime() - t0) / 1e9
    }
    // /proc/stat steal ticks bracket the run: steal > 0 is DIRECT
    // kernel-level evidence of co-tenant CPU contention (the
    // hypervisor ran someone else while we were runnable); steal ≈ 0
    // on a slow session means the host itself is slower (drift), not
    // contended — the distinction BenchGate.steadyHost acts on.
    def stealSample(): Option[(Long, Long)] = scala.util.Try {
      val line = {
        val src = scala.io.Source.fromFile("/proc/stat")
        try src.getLines().next() finally src.close()
      }
      val v = line.trim.split("\\s+").drop(1).map(_.toLong)
      // Denominator: user..steal ONLY (first 8 fields). The trailing
      // guest/guest_nice fields are already accounted inside
      // user/nice, so summing them double-counts guest ticks and
      // underestimates steal_pct on guest-heavy hosts (ADVICE r15).
      (v(7), v.take(8).sum)
    }.toOption
    val steal0 = stealSample()
    // 1-minute loadavg BEFORE any bench work starts (ADVICE r15: the
    // steal check only sees hypervisor-level co-tenancy; a same-VM
    // co-tenant process shows steal ≈ 0 — the pre-run loadavg is the
    // reading that exposes it, recorded so the artifact's steady
    // verdict is auditable; mid/post-run loadavg would measure our own
    // local[32] burn). The repo's bench-hygiene convention is to start
    // only under 0.5.
    val loadavgStart: Option[Double] = scala.util.Try {
      val src = scala.io.Source.fromFile("/proc/loadavg")
      try src.getLines().next().trim.split("\\s+")(0).toDouble
      finally src.close()
    }.toOption
    // SETTLED start bracket (r15): the start reading was systematically
    // ~1.6x the end reading across three rounds of artifacts (0.279 vs
    // 0.105, 0.234 vs 0.160, 0.190 vs 0.118) — C2 compilation of the
    // kernel's own codegen and the session's shared runtime paths is
    // still draining when a fixed min-of-3 runs, which fails the
    // steadiness test even on an otherwise-quiet box. Warm until three
    // consecutive readings agree within 10% of their min (cap 12 —
    // under real co-tenant contention they never stabilize and the
    // quiet/steady gates correctly fail), then record min-of-3 fresh.
    val kernelStart = {
      val window = scala.collection.mutable.Queue.empty[Double]
      var i = 0
      while (i < 12 && (window.size < 3 || window.max > window.min * 1.1)) {
        if (window.size >= 3) window.dequeue()
        window.enqueue(calibKernelOnce())
        i += 1
      }
      (1 to 3).map(_ => calibKernelOnce()).min
    }
    def jsonSafe(s: String): String = s.flatMap {
      case '"' => "'"; case '\\' => "/"
      case c if c < ' ' => " "
      case c => c.toString
    }.take(160)
    val gcBeans = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
    def gcNowMs(): Long = gcBeans.asScala.map(_.getCollectionTime).filter(_ > 0).sum
    def retainedNow(): Long =
      scala.util.Try(graft.functions.SessionScopedCache.retainedBytes(spark)).getOrElse(0L)
    def entriesNow(): Int =
      scala.util.Try(graft.functions.SessionScopedCache.retainedEntries(spark)).getOrElse(0)
    /** Classes Spark's code generator has compiled in this JVM: a
      * codegen-cache miss counts one, a hit none. */
    def compilesNow(): Long =
      org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    /** One timed attempt with its GC-time and session-memo deltas
      * (bytes AND entry count — a small memo with an expensive
      * pipeline shows up in entries, not bytes — AND the process-wide
      * [[graft.functions.DriverMemo]] build delta), and the number of
      * generated classes it compiled: a warm attempt compiles none, so
      * a recompile regression shows in the artifact. */
    case class Attempt(
        res: Either[String, Double], gcMs: Long, memoBytes: Long, memoEntries: Int,
        memoBuilds: Long, compiles: Long = 0L)
    def once(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Attempt = {
      val gc0 = gcNowMs(); val mem0 = retainedNow(); val ent0 = entriesNow()
      val bld0 = graft.functions.DriverMemo.buildCount(); val cmp0 = compilesNow()
      val t0 = System.nanoTime()
      val res = try {
        fn(spark, sfDir).count()
        Right((System.nanoTime() - t0) / 1e9)
      } catch { case t: Throwable =>
        Left(jsonSafe(s"${t.getClass.getSimpleName}: ${Option(t.getMessage).getOrElse("")}"))
      }
      Attempt(res, gcNowMs() - gc0, retainedNow() - mem0, entriesNow() - ent0,
        graft.functions.DriverMemo.buildCount() - bld0, compilesNow() - cmp0)
    }
    // Session-memo footprint policy (VERDICT r10 #8): the memoized
    // checkpoint frames are accounted per query boundary; past the cap
    // they are dropped (the next consumer rebuilds). The default cap is
    // high — eviction mid-bench makes the NEXT sharer's time a rebuild,
    // so it only fires when the footprint is a real problem.
    val memoCap = sys.env.getOrElse("SPARK_GRAFT_MEMO_CAP_BYTES", s"${8L << 30}").toLong
    var retainedHw = 0L; var retainedHwQuery = ""; var memoEvictions = 0
    // Queries execute in name-ascending order (published below):
    // deterministic order is what makes the per-attempt memo deltas
    // attributable — the alphabetically-first sharer of a memoized
    // subtree is always the one that pays (and logs) its build.
    val rawQueries: Seq[(String, Seq[Attempt])] =
      SparkEntry.selectedQueries.toSeq.sortBy(_._1).map { case (name, fn) =>
        val atts = (1 to 3).map(_ => once(fn))
        val retained = retainedNow()
        if (retained > retainedHw) { retainedHw = retained; retainedHwQuery = name }
        if (retained > memoCap) {
          // Largest-first down to the cap (ADVICE r11): a full drop
          // would force every later sharer to rebuild pipelines the
          // cap never required them to lose.
          memoEvictions += graft.functions.SessionScopedCache.evictToCap(spark, memoCap)
        }
        name -> atts
      }
    // Reference-workload throughput (VERDICT r8/r9 #6): the SSTable
    // decode + full-migrate timings ride the same min-of-3 / regression
    // machinery as the queries (fixed cell count, so a time regression
    // IS a throughput regression), and the artifact publishes cells/s
    // so every round carries the matches-the-reference number instead
    // of a one-off SCALE.md table. SPARK_GRAFT_SSTABLE_PARTS=0 skips.
    val ssParts = sys.env.getOrElse("SPARK_GRAFT_SSTABLE_PARTS", "250000").toInt
    val ssGens = 4
    val ssCells = ssParts.toLong * 2 * ssGens
    val ssAttempts: Seq[graft.tools.SSTableThroughput.Measurement] =
      if (ssParts <= 0) Seq.empty
      else scala.util.Try {
        val dir = graft.tools.SSTableThroughput.synthesize(ssParts, ssGens).toString
        graft.tools.SSTableThroughput.warm(spark, dir)
        (1 to 3).map(_ => graft.tools.SSTableThroughput.measureOnce(spark, dir))
      }.getOrElse(Seq.empty)
    // Streaming-pipeline throughput (VERDICT r11 #5): a fixed synthetic
    // event set drained through the chained dedup → session_window
    // ingest pipeline AND the causal z-score monitor (details in
    // graft.tools.StreamingThroughput). Same contract as the sstable
    // rows: fixed work, min-of-3, so a time regression IS a state-store
    // throughput regression (first-attempt streaming-runtime JIT is
    // absorbed by the min like every query's codegen warmup).
    // SPARK_GRAFT_STREAM_EVENTS=0 skips.
    val stEvents = sys.env.getOrElse("SPARK_GRAFT_STREAM_EVENTS", "400000").toInt
    val stAttempts: Seq[Double] =
      if (stEvents <= 0) Seq.empty
      else scala.util.Try {
        val evs = graft.tools.StreamingThroughput.synthEvents(stEvents)
        (1 to 3).map(_ => graft.tools.StreamingThroughput.measureOnce(spark, evs))
      }.getOrElse(Seq.empty)
    // Attribution pass (VERDICT r12 #1): one per-stage drain each
    // (machinery / dedup / ingest / monitor) plus a second chunk-count
    // point so the per-micro-batch fixed cost is a measured slope.
    // Published in bench_full.json's streaming object, not a gated row.
    val stStages: Seq[(String, graft.tools.StreamingThroughput.DrainStats)] =
      if (stAttempts.isEmpty) Seq.empty
      else scala.util.Try {
        val evs = graft.tools.StreamingThroughput.synthEvents(stEvents)
        graft.tools.StreamingThroughput.measureStages(spark, evs)
      }.getOrElse(Seq.empty)
    val stSweep2: Option[Double] =
      if (stAttempts.isEmpty) None
      else scala.util.Try(graft.tools.StreamingThroughput.sweepPoint(
        spark, graft.tools.StreamingThroughput.synthEvents(stEvents), chunks = 2)).toOption
    // Write-side export throughput (VERDICT r12 stretch #8): the
    // create-only KeyedWriter loop (the reference's AerospikeWriter
    // seam) measured end-to-end — TTL policy + exists anti-join + the
    // per-partition writer/retry loop. SPARK_GRAFT_EXPORT_ROWS=0 skips.
    val keRows = sys.env.getOrElse("SPARK_GRAFT_EXPORT_ROWS", "2000000").toInt
    val keAttempts: Seq[(Double, graft.sinks.KeyedSink.WriteStats)] =
      if (keRows <= 0) Seq.empty
      else scala.util.Try {
        val recs = graft.tools.KeyedExportThroughput.synthRecords(spark, keRows)
        val ex = graft.tools.KeyedExportThroughput.existingKeys(spark, keRows)
        // Warm the plan (codegen + join build) outside the attempts.
        graft.tools.KeyedExportThroughput.measureOnce(
          spark, recs.limit(10000), ex.limit(1000))
        (1 to 3).map(_ =>
          graft.tools.KeyedExportThroughput.measureOnce(spark, recs, ex))
      }.getOrElse(Seq.empty)
    val raw: Seq[(String, Seq[Attempt])] = rawQueries ++ (
      if (ssAttempts.isEmpty) Seq.empty
      else Seq(
        "sstable_decode" -> ssAttempts.map(a => Attempt(Right(a.decodeSec), 0L, 0L, 0, 0L)),
        "sstable_migrate" -> ssAttempts.map(a => Attempt(Right(a.migrateSec), 0L, 0L, 0, 0L)))) ++ (
      if (stAttempts.isEmpty) Seq.empty
      else Seq(
        "streaming_throughput" -> stAttempts.map(s => Attempt(Right(s), 0L, 0L, 0, 0L)))) ++ (
      if (keAttempts.isEmpty) Seq.empty
      else Seq(
        "keyed_export" -> keAttempts.map(a => Attempt(Right(a._1), 0L, 0L, 0, 0L))))
    val results: Seq[(String, Either[String, Double])] = raw.map {
      case (name, attempts) =>
        val times = attempts.collect { case Attempt(Right(s), _, _, _, _, _) => s }
        name -> (if (times.size == attempts.size) Right(times.min)
                 else Left(attempts.collectFirst { case Attempt(Left(e), _, _, _, _, _) => e }.get))
    }
    // Compact per-query times (ms precision) keep the summary line
    // small enough to survive a tail-bounded log capture.
    // Locale-pinned number rendering: the f interpolator uses the JVM
    // default locale, which on comma-decimal locales would print
    // "1,234" inside the JSON and corrupt the artifact.
    def num(s: Double, digits: Int): String =
      String.format(java.util.Locale.ROOT, s"%.${digits}f", Double.box(s))
    val qs = results.map {
      case (k, Right(s)) => s""""$k":${num(s, 3)}"""
      case (k, Left(_))  => s""""$k":-1"""
    }.mkString("{", ",", "}")
    // Raw per-attempt wall times: min-of-3 damps load noise only when
    // at least one attempt ran unloaded — publishing the attempts lets
    // a reader see the variance instead of inferring a regression from
    // a single loaded snapshot.
    val attemptsJson = raw.map { case (k, atts) =>
      s"\"$k\":" + atts.map {
        case Attempt(Right(s), _, _, _, _, _) => num(s, 6)
        case Attempt(Left(_), _, _, _, _, _) => "-1"
      }.mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    // Build-inclusive first attempt as its own column (VERDICT r16 #7):
    // session-memoized pipelines pay their build on attempt 1 and hit
    // the memo on 2–3, so min-of-3 measures everything EXCEPT the
    // dominant cost on memo-bearing rows. The first attempt is the
    // number that can't be flattered that way; publishing it per query
    // lets round-over-round comparisons use either basis.
    val firstAttemptsJson = raw.map { case (k, atts) =>
      s""""$k":""" + (atts.headOption match {
        case Some(Attempt(Right(s), _, _, _, _, _)) => num(s, 3)
        case _ => "-1"
      })
    }.mkString("{", ",", "}")
    // Per-attempt attribution (queries only — the sstable rows measure
    // a synthesized fixture, not session state): GC-time deltas in ms,
    // session-memo growth in bytes and generated classes compiled. A
    // skewed attempt now carries its own explanation in the artifact.
    val gcJson = rawQueries.map { case (k, atts) =>
      s"\"$k\":" + atts.map(_.gcMs.toString).mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    val memoJson = rawQueries.map { case (k, atts) =>
      s"\"$k\":" + atts.map(_.memoBytes.toString).mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    val compilesJson = rawQueries.map { case (k, atts) =>
      s"\"$k\":" + atts.map(_.compiles.toString).mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    val errors = results.collect { case (k, Left(e)) => s"\"$k\":\"$e\"" }
      .mkString("{", ",", "}")
    val nFailed = results.count(_._2.isLeft)
    // Headline total stays query-only (comparable across rounds that
    // predate the sstable/streaming/export rows) — the SAME shared
    // predicate the baseline's mergedTotal applies
    // (BenchGate.isHeadlineQuery), or the two exclusion lists drift
    // as non-query rows are added (ADVICE r13).
    val total = results.collect {
      case (k, Right(s)) if BenchGate.isHeadlineQuery(k) => s
    }.sum
    // Median-of-attempts next to the min: min-of-3 with no warmup
    // separation lets a co-tenant spike through unnoticed on the OTHER
    // attempts; the median makes sustained slowness visible where the
    // min hides it.
    val medians: Seq[(String, Double)] = raw.collect {
      case (name, atts) if atts.forall(_.res.isRight) =>
        val ts = atts.collect { case Attempt(Right(s), _, _, _, _, _) => s }.sorted
        name -> ts(ts.size / 2)
    }
    val mediansJson = medians.map { case (k, m) => s""""$k":${num(m, 3)}""" }
      .mkString("{", ",", "}")
    val medianOf = medians.toMap
    // Machine-visible regression check (logic in graft.BenchGate, spec'd
    // on a planted slowdown): a query whose new min exceeds 1.5x its
    // prior min is listed with both numbers. The baseline is the
    // COMMITTED per-query-min file (bench_prev.json — merged and
    // rewritten below, the round-close commit keeps it); the driver's
    // BENCH_r{N}.json is only a fallback, because its tail capture
    // truncates the summary line and through round 9 the gate silently
    // parsed zero prior queries from it while sustained 5x skews sat
    // in its own attempts array. When NO source parses, the artifact
    // says "regressed_vs": null instead of naming a file it never read.
    def readText(f: java.io.File): String =
      scala.util.Try(scala.io.Source.fromFile(f, "UTF-8").mkString).getOrElse("")
    val prevFile = new java.io.File("bench_prev.json")
    val driverFile = Option(new java.io.File(".").listFiles()).toSeq.flatten
      .filter(f => f.getName.matches("BENCH_r\\d+\\.json"))
      .sortBy(f => f.getName.replaceAll("\\D", "").toInt)
      .lastOption
    val prevText = if (prevFile.isFile) Some(readText(prevFile)) else None
    val candidates: Seq[(String, Map[String, Double])] =
      prevText.map(t => prevFile.getName -> BenchGate.parsePrior(t, sfDir)).toSeq ++
        driverFile.map(f => f.getName -> BenchGate.parsePrior(readText(f), sfDir))
    val (priorName, priorQueries) = candidates.find(_._2.nonEmpty) match {
      case Some((name, pq)) => (BenchGate.priorLabel(Some(name), pq.size), pq)
      case None => ("null", Map.empty[String, Double])
    }
    val currentMins = results.collect { case (k, Right(s)) => k -> s }.toMap
    // ALL queries including errors as -1: mergedBaseline's keep-prior
    // rule for an errored query only fires if the error is visible to
    // it — a Right-only map would silently DROP a transiently-failing
    // query from the baseline and unmoor the next round's gate.
    val currentAll = results.map {
      case (k, Right(s)) => k -> s
      case (k, Left(_))  => k -> -1.0
    }.toMap
    // The closing calibration measurement, then one end-of-run RETRY
    // per regressed query (name-asc, capped — a degraded session can
    // flag dozens and must not double its own runtime chasing them).
    // Each regressed entry is published as an object carrying its
    // prior, this run's min, the retry, and a named cause from
    // BenchGate.regressionCause: "transient-retry-ok" (the retry
    // landed back inside the gate), "ambient-load" (the calibration
    // kernel proves the box was loaded and the load covers the
    // ratio), or "unexplained" (treat as a potential plan
    // regression). Retries that beat the min also feed the persisted
    // baseline below — an end-of-run recovery is a real measurement.
    val kernelEnd = (1 to 3).map(_ => calibKernelOnce()).min
    val kernelBaseline = priorQueries.get(BenchGate.AmbientKey).filter(_ > 0)
    val ambientFactor = kernelBaseline.map(b => math.max(kernelStart, kernelEnd) / b)
    // Host-speed drift handling (BenchGate.SteadyMaxRatio doc): on a
    // STEADY session (bracketing kernels agree AND /proc/stat steal
    // rules out a sustained co-tenant) the kernel is a same-session
    // control workload and the 1.5x regression gate is applied in
    // drift-normalized time — a row is flagged only if it slowed down
    // more than the fixed control did, with the raw numbers
    // (attempts, medians, mins) all still published. On a QUIET box
    // the normalization is OFF: the strict r14 gate keeps its raw
    // 1.5x semantics whenever the box passes the strict bar (review
    // r15: drift at factor 1.2 on a quiet box would otherwise
    // silently unflag a 1.7x row).
    val stealVal: Option[Double] = (steal0, stealSample()) match {
      case (Some((s0, t0)), Some((s1, t1))) if t1 > t0 =>
        Some(100.0 * (s1 - s0) / (t1 - t0))
      case _ => None
    }
    val quiet = BenchGate.quietBox(ambientFactor)
    val steady = BenchGate.steadyHost(kernelStart, kernelEnd, stealVal)
    val driftN: Option[Double] =
      if (steady && !quiet)
        BenchGate.driftFactor(kernelStart, kernelEnd, kernelBaseline)
      else None
    val regressions = BenchGate.regressions(
      currentMins, priorQueries, factor = 1.5 * driftN.getOrElse(1.0))
    val queryFns = SparkEntry.selectedQueries
    val retryOf: Map[String, Double] = regressions.keys.toSeq.sorted.take(32)
      .flatMap { k =>
        queryFns.get(k).flatMap(fn => once(fn).res.toOption).map(k -> _)
      }.toMap
    val regressed = regressions.toSeq.sortBy(_._1).map { case (k, (p, s)) =>
      // The retry is judged by the SAME effective gate that flagged
      // the row (1.5 x drift on a steady session) — judging it by the
      // raw 1.5x while flagging drift-normalized left rows
      // "unexplained" whose retry had landed back inside the very
      // gate they were flagged by (first steady r15 run).
      val cause = BenchGate.regressionCause(p, s, retryOf.get(k), ambientFactor,
        factor = 1.5 * driftN.getOrElse(1.0))
      val retryStr = retryOf.get(k).map(num(_, 3)).getOrElse("null")
      val ratioVsKernel = ambientFactor
        .map(a => s""","ratio_vs_kernel":${num(s / p / a, 2)}""").getOrElse("")
      s""""$k":{"prior":${num(p, 3)},"min":${num(s, 3)},"retry":$retryStr$ratioVsKernel,""" +
        s""""cause":"$cause"}"""
    }.mkString("{", ",", "}")
    val nRegressed = regressions.size
    val ratiosVsKernel: Seq[Double] = ambientFactor.toSeq.flatMap(a =>
      regressions.values.map { case (p, s) => s / p / a })
    // null, not 0, when there is NO kernel baseline: an unmeasured
    // verdict must not read as a clean one (review r15).
    val rowsBeyondKernel =
      if (ambientFactor.isEmpty) "null"
      else ratiosVsKernel.count(_ > 1.0).toString
    val maxRatioVsKernel =
      if (ratiosVsKernel.isEmpty) "null" else num(ratiosVsKernel.max, 2)
    // First-materialization spikes (VERDICT r10 #5): a first attempt
    // over 4x the query's own median AND over an absolute floor gets a
    // named cause — memo-build when the memo grew, gc when GC dominated
    // the wall time, ambient-load when the session-START kernel read a
    // demonstrably loaded box and the spike sits within its compounded
    // bound (first attempts pay codegen/classloading, every cycle of
    // it slowed by the same load — BenchGate.spikeCause), otherwise
    // explicitly unattributed (co-tenant / warmup). mm_phash_survivors'
    // 8 s first attempt in the r10 driver session is exactly the shape
    // this row exists to explain.
    val ambientStartFactor = kernelBaseline.map(kernelStart / _)
    val spikesJson = rawQueries.collect {
      case (k, atts) if atts.forall(_.res.isRight) =>
        val first = atts.head
        val firstSec = first.res.toOption.get
        val med = medianOf.getOrElse(k, firstSec)
        (k, atts, first, firstSec, med)
    }.collect {
      case (k, _, first, firstSec, med) if BenchGate.isSpike(firstSec, med) =>
        val cause = BenchGate.spikeCause(
          first.memoEntries, first.memoBuilds, first.gcMs, firstSec,
          med, ambientStartFactor)
        s""""$k":{"first":${num(firstSec, 3)},"median":${num(med, 3)},""" +
          s""""gc_ms":${first.gcMs},"memo_entries":${first.memoEntries},""" +
          s""""memo_bytes":${first.memoBytes},"memo_builds":${first.memoBuilds},""" +
          s""""codegen_compiles":${first.compiles},""" +
          s""""cause":"$cause"}"""
    }.mkString("{", ",", "}")
    // The quiet-box gate (VERDICT r13 #1): committed evidence — the
    // bench_full.json artifact, the min-merged baseline, and any
    // requested rebase — requires the calibration kernel (max of
    // start/end vs the quietest box ever seen) at or under the pinned
    // factor. A noisy run still prints its full summary (and the
    // driver still captures it), but it lands in bench_scratch.json
    // with the refusal recorded in the artifact itself, so a loaded
    // box can never fake 13 regressions into the committed record
    // (the r13 incident) OR hide a real one behind a rebase.
    val fullRun = sys.env.get("SPARK_GRAFT_ONLY").isEmpty
    val (rebaseRequested, rebaseAny) =
      BenchGate.parseRebase(sys.env.get("SPARK_GRAFT_BENCH_REBASE"))
    // Rebase stays QUIET-box-only (strict): it writes current numbers
    // as the bar. Persisting evidence is allowed on a steady session
    // too — the min-merged baseline is unharmed by construction (a
    // slower session's numbers never lower any bar) and the artifact
    // labels its own drift state.
    val rebaseFn: String => Boolean =
      if (quiet) rebaseRequested else (_ => false)
    val rebaseRefused = rebaseAny && !quiet
    val persistSfOk = BenchGate.shouldPersistBaseline(fullRun, prevText, sfDir)
    val persistOk = persistSfOk && (quiet || steady)
    val persistRefusal =
      if (persistSfOk && !quiet && !steady)
        s""""ambient-factor ${ambientFactor.map(num(_, 2)).getOrElse("?")}""" +
          s""" > ${BenchGate.QuietBoxMaxFactor} and kernel bracketing unsteady""" +
          s""" (${num(kernelStart, 3)} vs ${num(kernelEnd, 3)})""""
      else "null"
    // VERDICT r15 #6: a REFUSED full run must not leave flagged rows
    // as the round's only timing story — if the committed steady
    // artifact exists, the refused artifact carries an explicit
    // pointer to it, so a reader of driver artifacts alone knows
    // where the authoritative (steady-gated) numbers live.
    val steadyPointer =
      if (persistOk || !persistSfOk) "null"
      else scala.util.Try {
        val txt = new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get("bench_full.json")),
          java.nio.charset.StandardCharsets.UTF_8)
        if (txt.contains(""""steady_host":true""") ||
            txt.contains(""""quiet_box":true"""))
          """"bench_full.json (committed steady-gated run; this run's flagged rows are ambient)""""
        else "null"
      }.getOrElse("null")
    val stealPct = stealVal.map(num(_, 2)).getOrElse("null")
    val ambientJson =
      s"""{"kernel_start":${num(kernelStart, 3)},"kernel_end":${num(kernelEnd, 3)},""" +
        s""""kernel_baseline":${kernelBaseline.map(num(_, 3)).getOrElse("null")},""" +
        s""""factor":${ambientFactor.map(num(_, 2)).getOrElse("null")},""" +
        s""""quiet":$quiet,"max_factor":${BenchGate.QuietBoxMaxFactor},""" +
        s""""steady":$steady,""" +
        s""""drift_factor":${driftN.map(num(_, 2)).getOrElse("null")},""" +
        s""""steal_pct":$stealPct,""" +
        // The one-number code-regression verdict that survives even a
        // REFUSED run (the VERDICT r14 fallback): of the flagged rows,
        // how many slowed MORE than the control kernel did (ratio >
        // kernel factor), and the worst ratio_vs_kernel observed. A
        // contended box inflates everything UP TO the kernel's own
        // factor; only a row beyond it is code-suspect.
        s""""rows_beyond_kernel":$rowsBeyondKernel,""" +
        s""""loadavg_start":${loadavgStart.map(num(_, 2)).getOrElse("null")},""" +
        s""""max_ratio_vs_kernel":$maxRatioVsKernel}"""
    // Published throughput rows (min-of-3): cells/s for decode and the
    // full migrate pipeline, decode per ACTIVE task (min(cores, decode
    // tasks) run at once) and migrate per core — the numbers SCALE.md's
    // reference comparison (447k / 120k per core on local[1]) is
    // tracked against, now re-measured every round.
    val sstableJson =
      if (ssAttempts.isEmpty) "null"
      else {
        val fastest = ssAttempts.minBy(_.decodeSec)
        val dMin = fastest.decodeSec
        val mMin = ssAttempts.map(_.migrateSec).min
        val decoded = fastest.decoded
        s"""{"cells":$ssCells,"gens":$ssGens,"threads":$cpus,"decoded":$decoded,""" +
        s""""decode_tasks":${fastest.decodeTasks},""" +
        s""""decode_cells_per_sec":${num(decoded / dMin, 0)},""" +
        s""""decode_cells_per_sec_per_task":${num(
          graft.tools.SSTableThroughput.decodeRatePerTask(fastest, cpus.toInt), 0)},""" +
        s""""migrate_cells_per_sec":${num(ssCells / mMin, 0)},""" +
        s""""migrate_cells_per_sec_per_core":${num(ssCells / mMin / cpus.toDouble, 0)}}"""
      }
    // Published streaming throughput (min-of-3): events/s through the
    // dedup + session_window + causal-monitor drain at the fixed event
    // count — the causal monitors' regression surface.
    val streamingJson =
      if (stAttempts.isEmpty) "null"
      else {
        val sMin = stAttempts.min
        // Per-stage attribution: secs, batches, events/s, and the
        // progress-metric split (addBatch ≈ planning+job launch; state
        // commit/update summed over operators×partitions). The slope
        // fit against the chunks=2 point makes the fixed-vs-per-event
        // split a measured number: secs ≈ event_work + per_batch_fixed
        // × chunks (chunks=8 headline).
        val stagesJson = stStages.map { case (name, d) =>
          s""""$name":{"secs":${num(d.secs, 3)},"batches":${d.batches},""" +
          s""""events_per_sec":${num(stEvents / d.secs, 0)},""" +
          s""""add_batch_ms":${d.addBatchMs},"wal_commit_ms":${d.walCommitMs},""" +
          s""""state_commit_ms":${d.stateCommitMs},"state_update_ms":${d.stateUpdateMs}}"""
        }.mkString("{", ",", "}")
        val sweepJson = stSweep2.map { t2 =>
          val perChunk = (sMin - t2) / 6.0 // (t8 - t2) / (8 - 2)
          val eventWork = t2 - 2.0 * perChunk
          s"""{"secs_chunks2":${num(t2, 3)},"secs_chunks8":${num(sMin, 3)},""" +
          s""""per_batch_fixed_s":${num(perChunk, 3)},"event_work_s":${num(eventWork, 3)}}"""
        }.getOrElse("null")
        s"""{"events":$stEvents,"threads":$cpus,"events_per_sec":${num(stEvents / sMin, 0)},""" +
        s""""chunks":8,"config":{"checkpoint":"tmpfs","no_data_batches":false,"partitions":8},""" +
        s""""stages":$stagesJson,"sweep":$sweepJson}"""
      }
    // Published write-side export throughput (min-of-3): rows/s
    // through the TTL + exists-annotation + writer/retry loop, with
    // the planted accounting so the number is checkable against the
    // fixture's construction (5% expired + eternal drops, 10%-of-live
    // existing keys, 1-in-5000 transient retries).
    val keyedJson =
      if (keAttempts.isEmpty) "null"
      else {
        val kMin = keAttempts.map(_._1).min
        val st = keAttempts.head._2
        s"""{"rows":$keRows,"threads":$cpus,""" +
        s""""rows_per_sec":${num(keRows / kMin, 0)},""" +
        s""""rows_per_sec_per_core":${num(keRows / kMin / cpus.toDouble, 0)},""" +
        s""""written":${st.written},"skipped_existing":${st.skippedExisting},""" +
        s""""expired":${st.expired},"failed":${st.failed},"retried":${st.retried}}"""
      }
    val summaryLine =
      s"""{"metric":"total","value":${num(total, 3)},"unit":"sec","queries":$qs,"failed":$nFailed,"errors":$errors,"sf":"$sfDir","order":"name-asc","medians":$mediansJson,"ambient":$ambientJson,"quiet_box":$quiet,"steady_host":$steady,"baseline_persisted":$persistOk,"persist_refusal":$persistRefusal,"steady_pointer":$steadyPointer,"rebase_refused":$rebaseRefused,"regressed":$regressed,"regressed_vs":$priorName,"sstable":$sstableJson,"streaming":$streamingJson,"keyed_export":$keyedJson,"retained_hw_bytes":$retainedHw,"retained_hw_query":"$retainedHwQuery","memo_cap_bytes":$memoCap,"memo_evictions":$memoEvictions,"spikes":$spikesJson,"gc_ms":$gcJson,"memo_bytes":$memoJson,"codegen_compiles":$compilesJson,"first_attempts":$firstAttemptsJson,"attempts":$attemptsJson}"""
    // Belt and braces: the artifact also lands in files next to the
    // build, immune to any stdout truncation. bench_full.json is the
    // committed full artifact (attempts + attribution); bench_prev.json
    // is the committed BASELINE the next run's regression gate diffs
    // against — per-query MIN over this run and the prior baseline
    // (BenchGate.mergedBaseline), so one degraded session can never
    // inflate the bar (the r10 failure: a 66 s session's totals became
    // the baseline and under-reported r11's regressions before it
    // ran). SPARK_GRAFT_BENCH_REBASE names the queries to reset to
    // this run (comma list for deliberate slowdowns or a falsely
    // pinned min; `1`/`all` for a global quiet-box reset — see
    // BenchGate.parseRebase). A SPARK_GRAFT_ONLY-filtered debug run
    // or a full run at a different scale factor must NOT rewrite
    // EITHER committed artifact (decision + rationale in
    // BenchGate.shouldPersistBaseline, spec'd on both clobber paths) —
    // such runs land the full line in bench_scratch.json
    // (git-ignored) instead of clobbering the committed bench_full.
    // Since r14 a NOISY box (quiet_box=false above) is routed the
    // same way: full summary to scratch, committed artifact and
    // baseline untouched, refusal recorded in the artifact.
    def writeFile(name: String, content: String): Unit =
      scala.util.Try {
        val w = new java.io.PrintWriter(name, "UTF-8")
        try w.println(content) finally w.close()
      }
    writeFile(if (persistOk) "bench_full.json" else "bench_scratch.json", summaryLine)
    if (persistOk) {
      // End-of-run retries that beat the sweep's min are real
      // measurements and may lower the bar; the calibration kernel
      // min-merges under its reserved instrument key so the load
      // factor always compares against the quietest box ever seen.
      val currentWithRetry = currentAll.map { case (k, s) =>
        k -> retryOf.get(k).filter(_ > 0)
          .fold(s)(r => if (s > 0) math.min(s, r) else s)
      }
      val baselineCurrent =
        currentWithRetry + (BenchGate.AmbientKey -> math.min(kernelStart, kernelEnd))
      val merged = BenchGate.mergedBaseline(
        baselineCurrent,
        prevText.map(BenchGate.parsePrior(_, sfDir)).getOrElse(Map.empty),
        rebaseFn)
      val mergedQs = merged.toSeq.sortBy(_._1)
        .map { case (k, s) => s""""$k":${num(s, 3)}""" }.mkString("{", ",", "}")
      val mergedTotal = merged.collect {
        case (k, s) if BenchGate.isHeadlineQuery(k) => s
      }.sum
      writeFile("bench_prev.json",
        s"""{"metric":"baseline","value":${num(mergedTotal, 3)},"unit":"sec","queries":$mergedQs,"sf":"$sfDir","baseline_kind":"per_query_min","n":${merged.size},"rebased":$rebaseAny}""")
    }
    println(summaryLine)
    // The LAST stdout line: compact enough (<1.8 KB) for a tail-bounded
    // capture to keep its head, so it parses where the full line above
    // cannot. Carries the totals plus the slowest queries by min —
    // the full per-query detail is in bench_full.json (committed).
    val slowest = results.collect { case (k, Right(s)) => k -> s }
      .sortBy(-_._2).take(25)
      .map { case (k, s) => s""""$k":${num(s, 3)}""" }.mkString("{", ",", "}")
    println(
      s"""{"metric":"total","value":${num(total, 3)},"unit":"sec","queries":$slowest,"queries_shown":"slowest 25 of ${results.size} by min; full set in bench_full.json","queries_total":${results.size},"failed":$nFailed,"sf":"$sfDir","quiet_box":$quiet,"steady_host":$steady,"baseline_persisted":$persistOk,"regressed_n":$nRegressed,"regressed_vs":$priorName,"retained_hw_bytes":$retainedHw,"sstable":$sstableJson}""")
    spark.stop()
  }
}
