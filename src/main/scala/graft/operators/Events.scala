package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Exact.{d4, d4w, dsum, pres, ratio4}
import graft.sources.Tables

/** Event-stream analytics (SURVEY.md §2.3) over the `events` table.
  *
  * All three operators shuffle exactly once, on `user_id` (or on the
  * group keys for the windowed agg): sessionization and as-of are
  * window-function plans over the per-user partition, so the sort that
  * the window needs is per-partition and never global. At 100 TB the
  * same plans hold — the per-user event sequence is the unit of
  * locality, and AQE handles user-skew by splitting oversized
  * partitions before the sort.
  */
object Events {

  /** One hour in epoch microseconds. */
  private[graft] val HourUs: Long = 3600L * 1000000L

  /** #30 events_windowed_agg: tumbling 1-hour windows per event type.
    * Uses Spark's `window()` (the same construct the streaming variant
    * uses, so batch and stream share plan shape); epoch-aligned, so the
    * SQL oracle is `date_trunc('hour', ts)`. */
  def windowedAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        pres(dsum(col("value"), 2)).as("sum_value"),
        countDistinct(col("user_id")).as("n_users"))
      .select(
        col("w.start").as("window_start"),
        col("event_type"), col("n_events"), col("sum_value"), col("n_users"))
      .orderBy(col("window_start"), col("event_type"))

  /** Sessionized events: a session breaks after a gap > `gapMinutes`
    * between a user's consecutive events. Two stacked windows over the
    * same (user_id × ts) partitioning — one shuffle, one sort. */
  def sessionized(events: DataFrame, gapMinutes: Int): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    events
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_ts").isNull ||
             unix_micros(col("ts")) - unix_micros(col("prev_ts")) > gapMinutes * 60L * 1000000L,
          1L).otherwise(0L))
      .withColumn("session_seq", sum(col("new_session")).over(byUser))
  }

  /** #31 events_sessionize: gap-based sessions (30-min gap), one row per
    * session with span and activity stats. */
  def sessionize(spark: SparkSession, dir: String): DataFrame =
    sessionized(Tables.events(spark, dir), gapMinutes = 30)
      .groupBy(col("user_id"), col("session_seq"))
      .agg(
        min(col("ts")).as("session_start"),
        max(col("ts")).as("session_end"),
        count(lit(1)).as("n_events"),
        pres(dsum(col("value"), 2)).as("sum_value"))
      .orderBy(col("user_id"), col("session_seq"))

  /** #32c events_funnel: strict-order, first-touch funnel — the
    * conversion question every event pipeline answers: of the users
    * who VIEWed, how many went on to CLICK within the tolerance, and
    * of those, how many PURCHASEd within it again. First-touch
    * semantics: step 1 anchors at the user's first view; each later
    * step takes the EARLIEST qualifying event after the previous
    * step's timestamp. Emits one row per funnel stage with the user
    * count and conversion from stage 1.
    *
    * Scale shape: one shuffle on user_id — per-user step times come
    * from three stacked whole-partition window MINs over the same
    * user partitioning (t2's predicate reads t1, t3's reads t2), so
    * every buffer is a single running minimum: NO operator collects a
    * user's event list, and a bot/power user with millions of events
    * costs rows, never aggregation-buffer memory. The per-user rollup
    * after the windows rides the exchange the windows already made,
    * and the 3-row summary is a global aggregate of counts. */
  /** Per-step conversion tolerance shared by [[funnel]] and
    * [[conversionLag]] — one constant so the two can never drift. */
  private val FunnelTolUs = 72L * HourUs // 72h per step

  /** The funnel's per-user step times (t1 = first view, t2 = earliest
    * qualifying click after t1, t3 = earliest qualifying purchase
    * after t2) — ONE definition consumed by both the count rollup
    * ([[funnel]]) and the latency histogram ([[conversionLag]]), so
    * the step predicates stay in lock-step by construction. */
  private def funnelStepTimes(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .filter(col("event_type").isin("view", "click", "purchase"))
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("tus"))
    val byUser = Window.partitionBy(col("user_id"))
    ev
      .withColumn("t1",
        min(when(col("event_type") === "view", col("tus"))).over(byUser))
      .withColumn("t2",
        min(when(col("event_type") === "click" &&
          col("tus") > col("t1") && col("tus") <= col("t1") + FunnelTolUs,
          col("tus"))).over(byUser))
      .withColumn("t3",
        min(when(col("event_type") === "purchase" &&
          col("tus") > col("t2") && col("tus") <= col("t2") + FunnelTolUs,
          col("tus"))).over(byUser))
      .groupBy(col("user_id"))
      .agg(max(col("t1")).as("t1"), max(col("t2")).as("t2"),
        max(col("t3")).as("t3"))
  }

  def funnel(spark: SparkSession, dir: String): DataFrame = {
    val perUser = funnelStepTimes(spark, dir)
    val counts = perUser.agg(
      count(col("t1")).as("n1"),
      count(col("t2")).as("n2"),
      count(col("t3")).as("n3"))
    counts
      .select(col("n1"), explode(array(
        struct(lit(1).as("step"), lit("view").as("step_name"),
          col("n1").as("n_users")),
        struct(lit(2).as("step"), lit("view>click").as("step_name"),
          col("n2").as("n_users")),
        struct(lit(3).as("step"), lit("view>click>purchase").as("step_name"),
          col("n3").as("n_users")))).as("s"))
      .select(col("s.step").as("step"), col("s.step_name").as("step_name"),
        col("s.n_users").as("n_users"),
        ratio4(col("s.n_users"), greatest(col("n1"), lit(1L))).as("conversion"))
      .orderBy(col("step"))
  }

  /** #32d events_retention: weekly cohort retention — users cohorted by
    * the week of their FIRST event; each (cohort, week-offset) cell
    * counts how many of them were active that week, as the classic
    * retention matrix (offset 0 is 1.0 by construction: a user's first
    * event is in their cohort week).
    *
    * Scale shape: ONE corpus scan and ONE corpus shuffle — the
    * per-user week SET aggregates in one map-side-combinable pass
    * (collect_set dedups in the partial buffer; a user's set is
    * bounded by the corpus SPAN in weeks — a year is ≤ 53 entries —
    * never by their event count), the cohort week is array_min of
    * that set (a user's first event week, by definition), and the
    * (cohort, offset) rollup is dimension-sized (weeks²). The cohort
    * size needs no second user aggregation at all: offset 0 contains
    * every cohort member by construction (your first week is an
    * active week), so retention divides by the offset-0 cell via a
    * window over the weeks²-row frame. The r6 formulation paid three
    * corpus-derived shuffles (first-week agg, distinct, cohort join)
    * and three parquet scans for the same matrix. */
  def retention(spark: SparkSession, dir: String): DataFrame = {
    val weekUs = 7L * 24 * HourUs
    val perUser = Tables.events(spark, dir)
      .select(col("user_id"),
        unix_micros(date_trunc("week", col("ts"))).as("week_us"))
      .groupBy(col("user_id"))
      .agg(collect_set(col("week_us")).as("weeks"))
    val cells = perUser
      .select(array_min(col("weeks")).as("cohort_us"),
        explode(col("weeks")).as("week_us"))
      .groupBy(col("cohort_us"),
        ((col("week_us") - col("cohort_us")) / weekUs)
          .cast("int").as("week_offset"))
      // Plain count: the week set is distinct per user, so a user
      // appears at most once per cell.
      .agg(count(lit(1)).as("n_active"))
    val byCohort = Window.partitionBy(col("cohort_us"))
    cells
      .withColumn("cohort_size",
        max(when(col("week_offset") === 0, col("n_active"))).over(byCohort))
      // DATE presentation: a cohort week is a calendar date (and the
      // DuckDB oracle's date_trunc yields DATE, so the schemas align).
      .select(timestamp_micros(col("cohort_us")).cast("date").as("cohort_week"),
        col("week_offset"), col("n_active"),
        ratio4(col("n_active"), col("cohort_size")).as("retention_pct"))
      .orderBy(col("cohort_week"), col("week_offset"))
  }

  /** #32e events_transitions: the event-type transition matrix — for
    * every (from → to) pair of consecutive events within a user's
    * stream, the transition count and the conditional probability
    * P(to | from) — the Markov-chain summary behind next-event
    * prediction features and funnel discovery (which funnels exist,
    * before [[funnel]] measures a chosen one).
    *
    * Scale shape: one shuffle on user_id for the lag window (the same
    * per-user locality as the rest of the module), then a
    * map-side-combinable (from, to) count; the probability window
    * rides the |types|² transition matrix — dimension-sized, not
    * corpus-sized. The probability is an exact integer ratio under one
    * IEEE division, so the result is hash-exact cross-engine. */
  def transitions(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val counts = Tables.events(spark, dir)
      .withColumn("from_type", lag(col("event_type"), 1).over(byUser))
      .filter(col("from_type").isNotNull)
      .groupBy(col("from_type"), col("event_type").as("to_type"))
      .agg(count(lit(1)).as("n_transitions"))
    val byFrom = Window.partitionBy(col("from_type"))
    counts
      .withColumn("prob",
        ratio4(col("n_transitions"), sum(col("n_transitions")).over(byFrom)))
      .orderBy(col("from_type"), col("to_type"))
  }

  /** #32k events_sequences: the top-20 most frequent consecutive
    * 3-step event-type sequences across all user streams — the
    * PrefixSpan-lite mining summary behind funnel discovery (the
    * 3-gram extension of [[transitions]]' 2-gram matrix: which
    * view→click→purchase-shaped paths actually occur, before
    * [[funnel]] measures a chosen one).
    *
    * Scale shape: two leads over the SAME one user_id exchange (one
    * window spec, so Catalyst plans a single sort + window), then a
    * map-side-combinable count on the ≤|types|³ dimension-sized key.
    * The top-20 cut is a bounded TakeOrderedAndProject over that
    * dimension-sized aggregate — never a global sort of the corpus —
    * and the share denominator is a global window over the SAME
    * dimension-sized aggregate (the class of window [[transitions]]
    * already rides: its single task holds ≤|types|³ rows, never the
    * corpus), chosen over a 1-row aggregate cross-join because the
    * join's second lineage would re-scan and re-window the whole
    * corpus. Integer counts + one rounded IEEE divide keep the output
    * hash-exact under the DuckDB oracle; the (n_seq desc, e1, e2, e3)
    * sort is a total order, so the 20-row cut is deterministic. */
  def sequences(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_type").as("e1"),
        col("ts"), col("event_id"))
      .withColumn("e2", lead(col("e1"), 1).over(byUser))
      .withColumn("e3", lead(col("e1"), 2).over(byUser))
      .filter(col("e3").isNotNull)
      .groupBy(col("e1"), col("e2"), col("e3"))
      .agg(count(lit(1)).as("n_seq"))
      .withColumn("share",
        ratio4(col("n_seq"), sum(col("n_seq")).over(Window.partitionBy())))
      .orderBy(col("n_seq").desc, col("e1"), col("e2"), col("e3"))
      .limit(20)
  }

  /** #32f events_json_props: semi-structured property extraction — the
    * `props` column carries a JSON object per event; parse the typed
    * field out with `get_json_object` (codegen'd, no UDF) and roll it
    * up per event type. The canonical "events carry a JSON payload"
    * shape every analytics engine must handle.
    *
    * Scale shape: the parse is a pure map fused into the parquet scan
    * (only `event_type` and `props` are read), followed by one
    * map-side-combinable aggregation on the |types|-sized key — the
    * same single-shuffle shape as the other event rollups. Integer
    * sum/min/max/count keep the output hash-exact cross-engine. */
  def jsonProps(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .groupBy(col("event_type"))
      .agg(
        count(col("k")).as("n_with_k"),
        sum(col("k")).as("sum_k"),
        min(col("k")).as("min_k"),
        max(col("k")).as("max_k"))
      .orderBy(col("event_type"))

  /** #32g events_value_hist: fixed-width histogram of `value` per event
    * type — the counts-per-bucket primitive behind distribution
    * dashboards and drift monitors. Bucket id is `floor(value / w)`
    * (one IEEE divide, bit-identical cross-engine), so the whole
    * operator is a scan-fused map + one map-side-combinable aggregation
    * on the (|types| × |buckets|)-sized key — dimension-sized output,
    * corpus-sized input, single shuffle. */
  def valueHist(spark: SparkSession, dir: String, width: Double = 25.0): DataFrame =
    Tables.events(spark, dir)
      .select(col("event_type"),
        floor(col("value") / lit(width)).cast("long").as("bucket"))
      .groupBy(col("event_type"), col("bucket"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("event_type"),
        (col("bucket").cast("double") * lit(width)).as("bucket_start"),
        col("n_events"))
      .orderBy(col("event_type"), col("bucket_start"))

  /** #32h events_moving_avg: per-user trailing-1-hour moving average of
    * `value` — a RANGE-framed window (time interval, not row count), the
    * frame class none of the other window operators exercise. Rides the
    * same single user_id shuffle as the rest of the module; the frame
    * sort is per-partition. The average is an exact integer-scaled sum
    * over a deterministic row set, rounded to 4 decimals under one IEEE
    * divide, so the result is hash-exact cross-engine. */
  def movingAvg(spark: SparkSession, dir: String): DataFrame = {
    val byUserRange = Window.partitionBy(col("user_id"))
      .orderBy(col("tus"))
      .rangeBetween(-HourUs, 0)
    Tables.events(spark, dir)
      // value has 2-decimal precision: aggregate as integer cents so the
      // trailing sum is exact, divide once at the end.
      .select(col("user_id"), col("event_id"), col("ts"),
        unix_micros(col("ts")).as("tus"),
        round(col("value") * 100).cast("long").as("cents"))
      .withColumn("n_1h", count(lit(1)).over(byUserRange))
      .withColumn("avg_1h",
        ratio4(sum(col("cents")).over(byUserRange), col("n_1h") * lit(100L)))
      .select(col("user_id"), col("event_id"), col("ts"), col("n_1h"), col("avg_1h"))
      .orderBy(col("user_id"), col("event_id"))
  }

  /** #32j events_zscore_outliers: exact-aggregate anomaly detection —
    * per-event-type mean and standard deviation of `value`, then every
    * event whose z-score exceeds |2.5|, with the score. The classic
    * metric-outlier sweep a pipeline runs before trusting a column.
    *
    * Exactness: values have 2-decimal precision, so the first and
    * second moments aggregate as integer cents in DECIMAL(38,0) —
    * exact, spill-safe, and overflow-proof at any corpus size (a
    * 64-bit sum of squared cents would wrap around ~10^12 rows) — and
    * the mean/variance/z arithmetic is a fixed IEEE-754 sequence over
    * those exact integers, so scores (and the |z| > 2.5 boundary) are
    * bit-identical cross-engine and the result sits under the hash
    * gate.
    *
    * Scale shape: one map-side-combinable aggregation to the
    * |types|-sized stats frame, joined back as a dimension join AQE
    * broadcasts unhinted — the corpus itself never shuffles, and the
    * outlier filter fuses into the scan-side map. Two pruned scans (a
    * stats pass + a filter pass) are deliberate: the single-scan
    * alternative is a partitionBy(event_type) window, which funnels
    * the whole corpus through |types| tasks. */
  def zscoreOutliers(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("event_id"), col("event_type"), col("value"),
        round(col("value") * 100).cast("long").as("cents"))
    val stats = ev.groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("cents").cast("decimal(38,0)")).as("s"),
        sum((col("cents") * col("cents")).cast("decimal(38,0)")).as("ss"))
    val mean = col("s").cast("double") / col("n").cast("double")
    val variance = col("ss").cast("double") / col("n").cast("double") - mean * mean
    // Guard σ = 0: a constant-valued (or single-event) type has no
    // outliers — without it z = 0/0 = NaN and Spark's NaN ordering
    // makes abs(z) > 2.5 TRUE for the whole type. variance > 0 also
    // absorbs a catastrophic-cancellation tiny negative.
    val z = when(variance > 0,
      (col("cents").cast("double") - mean) / sqrt(variance))
    ev.join(stats, "event_type")
      .withColumn("zv", z)
      .filter(abs(col("zv")) > 2.5)
      .select(col("event_id"), col("event_type"), col("value"),
        d4(col("zv")).as("zscore"))
      .orderBy(col("event_id"))
  }

  /** #32l events_interval_join: pure time-INTERVAL join with no equi
    * key — "what happened around each incident?": every high-value
    * purchase (value ≥ 250) anchors a ±30-minute window, and the query
    * reports the corpus-wide activity inside each window (all users,
    * all types). The class as-of joins can't express: as-of matches one
    * row per probe; an interval join matches a bounded time RANGE.
    *
    * Scale shape: a naive `a.ts BETWEEN w.lo AND w.hi` theta-join plans
    * as BroadcastNestedLoopJoin — every executor scans every event per
    * window, quadratic at 100 TB. Instead the time axis is bucketed at
    * the window LENGTH (1 h): each event lands in exactly one epoch
    * bucket, each window covers at most two consecutive buckets
    * (`sequence` explode on the dimension-sized window frame), and the
    * join becomes a plain shuffled EQUI-join on the bucket id with the
    * exact [lo, hi) containment as a post-filter — linear scan work,
    * partitioned by time. No duplicate pairs by construction (an
    * event's single bucket appears once in a window's covered-bucket
    * list), so no dedup pass. A flash-crowd bucket is ordinary AQE
    * skew-split territory; bucket cardinality grows with the time span,
    * so the shuffle parallelizes at any scale. PlanSpec pins the
    * no-nested-loop shape. */
  def intervalJoin(spark: SparkSession, dir: String): DataFrame = {
    val halfUs = 30L * 60L * 1000000L       // ±30 min
    val bucketUs = 2 * halfUs               // bucket = window length
    val ev = Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("value"), unix_micros(col("ts")).as("tus"))
    val windows = ev
      // anchors: rare high-value purchases (dimension-sized side)
      .filter(col("event_type") === "purchase" && col("value") >= 250)
      .select(
        col("event_id").as("window_id"),
        (col("tus") - halfUs).as("lo"),
        (col("tus") + halfUs).as("hi"))
      .withColumn("bucket",
        explode(sequence(floor(col("lo") / bucketUs),
          floor((col("hi") - 1) / bucketUs))))
    ev.withColumn("bucket", floor(col("tus") / bucketUs))
      .join(windows, Seq("bucket"))
      .filter(col("tus") >= col("lo") && col("tus") < col("hi"))
      .groupBy(col("window_id"))
      .agg(
        count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        pres(dsum(col("value"), 2)).as("sum_value"))
      .orderBy(col("window_id"))
  }

  /** Each event's type and epoch hour `hr`. */
  private def eventHours(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("event_type"), expr(s"unix_micros(ts) div $HourUs").as("hr"))

  /** The (type × hour) event count `(event_type, hr, c)` of
    * [[eventHours]]: one map-side-combinable shuffle to a frame whose
    * cardinality grows with span × types, never rows. Silent hours
    * have no row. */
  private def hourlyCounts(hours: DataFrame): DataFrame =
    hours.groupBy(col("event_type"), col("hr")).agg(count(lit(1)).as("c"))

  /** The dense hourly rate grid `(event_type, hr, c)`: [[hourlyCounts]]
    * over every hour between the corpus's first and last event hour (a
    * `sequence` explode off a 1-row min/max scalar), so a silent hour is
    * a zero-rate hour, not a missing step. */
  private def hourlyGrid(spark: SparkSession, dir: String): DataFrame = {
    val ev = eventHours(spark, dir)
    val cnt = hourlyCounts(ev)
    val bounds = ev.agg(min(col("hr")).as("hmin"), max(col("hr")).as("hmax"))
    cnt.select(col("event_type")).distinct()
      .crossJoin(broadcast(bounds)) // 1-row scalar
      .select(col("event_type"),
        explode(sequence(col("hmin"), col("hmax"))).as("hr"))
      .join(cnt, Seq("event_type", "hr"), "left_outer")
      .withColumn("c", coalesce(col("c"), lit(0L)))
  }

  /** Each type's [[hourlyGrid]] as ONE sorted array `hs` of (hr, c)
    * (bounded by |hours|, not |events|) and its rates as doubles in
    * `xs`, the input of the `*_seq` recurrences. */
  private def hourlySeries(grid: DataFrame): DataFrame =
    grid.groupBy(col("event_type"))
      // struct sorts by its first field, so this is the hour order.
      .agg(sort_array(collect_list(struct(col("hr"), col("c")))).as("hs"))
      .withColumn("xs", transform(col("hs"), e => e.getField("c").cast("double")))

  /** #32m events_cusum: CUSUM changepoint detection (Page 1954) on the
    * hourly event-rate series per type — the sequential drift detector
    * behind "did this event stream's rate shift?", the class of
    * question z-score outliers (pointwise, memoryless) can't answer: a
    * sustained small shift never trips a pointwise threshold but
    * accumulates in the CUSUM path.
    *
    * Scale shape: the corpus collapses FIRST — one map-side-combinable
    * aggregation to the (type × hour) frame, whose cardinality grows
    * with the time span and type count, never the row count — and the
    * recurrence runs on that dimension-sized frame: the gap-densified
    * hour series per type (a `sequence` explode between the corpus
    * min/max hour, a 1-row scalar broadcast) is collected into ONE
    * sorted array per type (bounded: |hours|, not |events|) and the
    * two-sided path is a single [[graft.functions.CusumSeq]] pass.
    * Exact integer moments feed mean/σ, the recurrence is a pinned
    * IEEE sequence, and the DuckDB oracle replays it token-for-token
    * as a recursive CTE — hash-exact including the 4σ alarm boundary.
    * Slack 0.5σ, alarm at 4σ (the standard CUSUM tuning). */
  def cusum(spark: SparkSession, dir: String): DataFrame = {
    val d = hourlyGrid(spark, dir)
    // DECIMAL(38,0) moments (the zscore convention, Exact.scala): a
    // LONG x*x wraps past ~3e9 events/hour and a LONG Σx² past ~10^12
    // busy hours — under ANSI either aborts; the decimal sums stay
    // exact at any corpus size, like DuckDB's HUGEINT promotion.
    val stats = d.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("c").cast("decimal(38,0)")).as("sx"),
        sum(col("c").cast("decimal(38,0)") * col("c").cast("decimal(38,0)"))
          .as("ss"))
      .withColumn("mean", col("sx").cast("double") / col("n").cast("double"))
      .withColumn("std", sqrt(greatest(
        col("ss").cast("double") / col("n").cast("double") -
          (col("sx").cast("double") / col("n").cast("double")) *
          (col("sx").cast("double") / col("n").cast("double")),
        lit(0.0))))
    val series = hourlySeries(d)
      .join(stats.select(col("event_type"), col("mean"), col("std")),
        Seq("event_type"))
      .withColumn("cs", graft.functions.CusumSeq.cusumSeq(
        col("xs"), col("mean"), col("std")))
    series
      .select(col("event_type"), col("mean"), col("std"),
        posexplode(arrays_zip(col("hs"), col("cs"))))
      .select(
        col("event_type"),
        col("col.hs.hr").as("hour"),
        col("col.hs.c").as("n_events"),
        d4w(col("col.cs.sp")).as("cusum_pos"),
        d4w(col("col.cs.sn")).as("cusum_neg"),
        (col("col.cs.sp") > lit(4.0) * col("std") ||
         col("col.cs.sn") > lit(4.0) * col("std")).as("alarm"))
      .orderBy(col("event_type"), col("hour"))
  }

  /** #32q events_ewma: exponentially-weighted moving average (α=0.25)
    * of the per-type hourly event rate, with the one-step-ahead
    * forecast error — the memoryless smoother every ops dashboard
    * overlays on a rate series, and the residual its alerting rule
    * thresholds. A feedback recurrence (s_t reads s_{t−1}) is the
    * frame class neither windows nor `aggregate` HOF emit per-step —
    * the same class as 32m's CUSUM — so it runs as ONE codegen'd
    * `holt_seq` pass with β = 0 (the EWMA recurrence, bit for bit) over
    * each type's gap-densified sorted hour array.
    * Scale shape is 32m's: the corpus collapses FIRST to the
    * (type × hour) frame (one map-side-combinable shuffle; cardinality
    * grows with span × types, never rows), hours densify via a
    * `sequence` explode off a 1-row min/max scalar (a silent gap is a
    * zero-rate hour, not a missing step), and the recurrence loop is
    * bounded by the span. Fixed IEEE sequence (err and the α-step
    * share one subtraction), replayed token-for-token by the DuckDB
    * recursive-CTE oracle — hash-exact. */
  def ewma(spark: SparkSession, dir: String, alpha: Double = 0.25): DataFrame =
    hourlySeries(hourlyGrid(spark, dir))
      // EWMA is Holt with β = 0: level l is the smoothed rate s.
      .withColumn("es",
        graft.functions.HoltSeq.holtSeq(col("xs"), lit(alpha), lit(0.0)))
      .select(col("event_type"), posexplode(arrays_zip(col("hs"), col("es"))))
      .select(
        col("event_type"),
        col("col.hs.hr").as("hour"),
        col("col.hs.c").as("n_events"),
        d4w(col("col.es.l")).as("ewma"),
        d4w(col("col.es.err")).as("forecast_err"))
      .orderBy(col("event_type"), col("hour"))

  /** #32ee events_holt: Holt's double-exponential (linear-trend)
    * smoothing of the per-type hourly rate — level, trend, and the
    * one-step-ahead forecast error, per hour. The trend-aware member
    * of the smoother family: [[ewma]] lags a steady ramp forever
    * (constant nonzero residual — exactly the regime [[cusum]] then
    * alarms on), while Holt's trend state converges to the slope and
    * the residual to zero, so its alerts fire on trend CHANGES, not
    * on trends.
    *
    * Same scale shape as [[ewma]]: the corpus collapses FIRST to the
    * dimension-sized (type × hour) frame (one map-side-combinable
    * shuffle), gap-densified via a `sequence` explode off the 1-row
    * min/max scalar, and the coupled recurrence runs as ONE codegen'd
    * `holt_seq` pass over each type's sorted hour array — the
    * feedback-recurrence frame class neither windows nor `aggregate`
    * HOFs emit per-step. Fixed IEEE sequence (every update reads one
    * shared err term), replayed token-for-token by the DuckDB
    * recursive-CTE oracle; driver-replay spec. */
  def holt(spark: SparkSession, dir: String,
      alpha: Double = 0.25, beta: Double = 0.3): DataFrame =
    hourlySeries(hourlyGrid(spark, dir))
      .withColumn("es",
        graft.functions.HoltSeq.holtSeq(col("xs"), lit(alpha), lit(beta)))
      .select(col("event_type"), posexplode(arrays_zip(col("hs"), col("es"))))
      .select(
        col("event_type"),
        col("col.hs.hr").as("hour"),
        col("col.hs.c").as("n_events"),
        d4w(col("col.es.l")).as("level"),
        d4w(col("col.es.b")).as("trend"),
        d4w(col("col.es.err")).as("forecast_err"))
      .orderBy(col("event_type"), col("hour"))

  /** #32ff events_forecast_backtest: the model-selection report the
    * smoother family feeds — per event type, the one-step-ahead
    * forecast quality of [[ewma]] vs [[holt]] over the SAME densified
    * hourly series: mean absolute error, mean (signed) bias, and the
    * winner. This is the rolling-origin backtest a monitoring rollout
    * reads before choosing which residual stream to alert on (a
    * trending type wants Holt — EWMA's bias column shows exactly the
    * lag a trend inflicts; a mean-reverting one wants EWMA's fewer
    * states).
    *
    * Exactness: each path's per-hour err is a pinned IEEE double;
    * summing them as doubles would be order-dependent, so each |err|
    * (and err) is first rounded to 4 decimals — an exact DECIMAL(28,4)
    * value — and summed as x10000 INTEGERS: the totals are exact under
    * any partitioning, the means present as floor-x10000 divides (the
    * small-integer-denominator convention), and the winner is an
    * integer comparison. Scale shape: rides the same ONE corpus
    * shuffle + dimension-sized recurrence passes as [[ewma]]/[[holt]],
    * then collapses to the |types| frame. */
  def forecastBacktest(spark: SparkSession, dir: String,
      alpha: Double = 0.25, beta: Double = 0.3): DataFrame = {
    // x10000 integer of a 4-rounded double err — exact because the
    // rounded value is an exact DECIMAL(28,4).
    def e4(c: org.apache.spark.sql.Column) = round(c, 4).cast("decimal(28,4)")
    hourlySeries(hourlyGrid(spark, dir))
      .withColumn("ew",
        graft.functions.HoltSeq.holtSeq(col("xs"), lit(alpha), lit(0.0)))
      .withColumn("ho",
        graft.functions.HoltSeq.holtSeq(col("xs"), lit(alpha), lit(beta)))
      .select(col("event_type"),
        size(col("hs")).as("n_hours"),
        // Hour 1 has no forecast on either path (err fixed at 0) —
        // slice it off so the census covers real forecasts only.
        aggregate(slice(col("ew"), lit(2), size(col("ew"))), lit(0L),
          (acc, e) => acc + (e4(abs(e.getField("err"))) * 10000).cast("long"))
          .as("abs_ew"),
        aggregate(slice(col("ho"), lit(2), size(col("ho"))), lit(0L),
          (acc, e) => acc + (e4(abs(e.getField("err"))) * 10000).cast("long"))
          .as("abs_ho"),
        aggregate(slice(col("ew"), lit(2), size(col("ew"))), lit(0L),
          (acc, e) => acc + (e4(e.getField("err")) * 10000).cast("long"))
          .as("bias_ew"),
        aggregate(slice(col("ho"), lit(2), size(col("ho"))), lit(0L),
          (acc, e) => acc + (e4(e.getField("err")) * 10000).cast("long"))
          .as("bias_ho"))
      .select(col("event_type"), col("n_hours"),
        (expr("abs_ew div greatest(n_hours - 1, 1)").cast("double") / 10000.0)
          .as("mae_ewma"),
        (expr("abs_ho div greatest(n_hours - 1, 1)").cast("double") / 10000.0)
          .as("mae_holt"),
        // Plain integer division on the (possibly NEGATIVE) bias sums:
        // Spark's `div` and DuckDB's `//` both truncate toward zero
        // (verified: -7//2 = -3 in DuckDB), so the two engines agree
        // without a floor identity.
        (expr("bias_ew div greatest(n_hours - 1, 1)")
          .cast("double") / 10000.0).as("bias_ewma"),
        (expr("bias_ho div greatest(n_hours - 1, 1)")
          .cast("double") / 10000.0).as("bias_holt"),
        when(col("abs_ho") < col("abs_ew"), "holt")
          .when(col("abs_ew") < col("abs_ho"), "ewma")
          .otherwise("tie").as("winner"))
      .orderBy(col("event_type"))
  }

  /** #32n events_hopping_agg: SLIDING (hopping) 1-hour windows every
    * 15 minutes per event type — the overlapping-window class #30's
    * tumbling windows can't express (a tumbling hour reports each
    * event once; a dashboard's "last hour, refreshed every 15 min"
    * needs each event in all 4 windows that cover it). Spark's own
    * `window(ts, "1 hour", "15 minutes")` plans this as a 4-way
    * generator (Expand) fused into the scan — each event emits its 4
    * covering window starts BEFORE the one map-side-combinable shuffle
    * on the (window × type) key, so the exchange carries the
    * dimension-sized aggregate frame, never 4× the corpus. Epoch
    * alignment makes the covering-set closed-form (starts
    * {⌊ts⌋₁₅ − k·15min, k=0..3}), which the oracle replays with an
    * explicit 4-row unnest. Same exact-decimal value sum as #30. */
  def hoppingAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(window(col("ts"), "1 hour", "15 minutes").as("w"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        pres(dsum(col("value"), 2)).as("sum_value"),
        countDistinct(col("user_id")).as("n_users"))
      .select(
        col("w.start").as("window_start"),
        col("event_type"), col("n_events"), col("sum_value"), col("n_users"))
      .orderBy(col("window_start"), col("event_type"))

  /** #32o events_user_overlap: pairwise audience overlap between event
    * types — |A∩B| distinct users, each side's audience size, and the
    * Jaccard of the two audiences, for every unordered type pair. The
    * audience-algebra report behind "do purchasers also click?" and
    * the exact baseline the KMV sketch variant (#32p) audits against.
    *
    * Scale shape: the corpus collapses FIRST to the distinct
    * (event_type, user_id) frame — one map-side-combinable shuffle,
    * output ∝ distinct pairs, never events. The pair generation is a
    * self EQUI-join on user_id (both sides carry the same
    * partitioning, so the join reuses one exchange; per-user work is
    * |types-this-user|² with |types| a small dimension, never a
    * cross-join), and the rollup lands on the ≤|types|² key. Audience
    * sizes ride in on a broadcast of the |types|-sized count frame.
    * Exact integer counts; one 4-place-rounded IEEE divide for the
    * Jaccard presentation (the d4 convention). */
  def userOverlap(spark: SparkSession, dir: String): DataFrame = {
    val ut = Tables.events(spark, dir)
      .select(col("event_type"), col("user_id")).distinct()
    val sizes = ut.groupBy(col("event_type")).agg(count(lit(1)).as("n"))
    val pairs = ut
      .join(ut.select(col("event_type").as("type_b"), col("user_id")), Seq("user_id"))
      .filter(col("event_type") < col("type_b"))
      .groupBy(col("event_type").as("type_a"), col("type_b"))
      .agg(count(lit(1)).as("n_both"))
    pairs
      .join(broadcast(sizes.select(col("event_type").as("type_a"), col("n").as("n_a"))), Seq("type_a"))
      .join(broadcast(sizes.select(col("event_type").as("type_b"), col("n").as("n_b"))), Seq("type_b"))
      .select(col("type_a"), col("type_b"), col("n_a"), col("n_b"), col("n_both"),
        ratio4(col("n_both"), col("n_a") + col("n_b") - col("n_both"))
          .as("jaccard"))
      .orderBy(col("type_a"), col("type_b"))
  }

  /** #32p events_user_overlap_sketch: #32o's audience-overlap matrix
    * from MERGEABLE KMV (k-minimum-values) distinct sketches — the
    * set-algebra sketch (Beyer et al. 2007): keep each audience's k
    * smallest distinct `xxhash64(user_id)` values and every pairwise
    * union / intersection / Jaccard estimate is pure array arithmetic
    * on two k-long arrays, long after the corpus is gone. This is what
    * replaces #32o at 100 TB when |types| is large or the matrix is
    * recomputed often: ONE corpus pass builds the |types|-row sketch
    * frame (O(k) buffer on update and merge, map-side combinable), and
    * the O(|types|²) pair algebra never touches the corpus again —
    * versus the exact form's per-pair distinct-user join. The pair
    * frame is an explicitly dimension×dimension broadcast cross join
    * (|types| rows a side — the sketch's point is that this is the
    * ONLY quadratic step and it runs on sketches, not users).
    *
    * Estimators: per-set D̂ = (k−1)/(m_k/2^63) with m_k the k-th
    * smallest (sign bit masked → uniform on [0, 2^63)); union from the
    * k smallest of the merged arrays; ρ = |shared hashes among those
    * k| gives Ĵ = ρ/k and ∩̂ = Ĵ·∪̂ (the theta-sketch composition).
    * Below capacity the sketch IS the distinct hash set and every
    * estimate degrades to exact. KMV retention is an order-independent
    * fold, so the whole output is repartition-proof (spec-pinned) —
    * and fully DETERMINISTIC given xxhash64, so unlike HLL this sketch
    * sits under the HARD hash gate: the DuckDB oracle replays Spark's
    * xxhash64-of-long in staged HUGEINT wrap arithmetic (the murmur3
    * chain precedent) and the k-smallest retention as a row_number
    * window, matching every estimate bit-for-bit. The output still
    * self-audits with exact counts + relative errors.
    *
    * `audit = false` is the 100 TB default: the driver entry keeps the
    * always-on exact self-audit (exact countDistinct + the #32o exact
    * self-join every run — fine at verification scale, wrong as a
    * production default where the sketch exists precisely to avoid
    * those passes), the off-switch drops every exact column and the
    * plan touches the corpus exactly ONCE (PlanSpec-pinned). */
  def userOverlapSketch(spark: SparkSession, dir: String, k: Int = 256,
      audit: Boolean = true): DataFrame = {
    val pow63 = 9.223372036854775807e18
    val hashed = Tables.events(spark, dir)
      .select(col("event_type"),
        shiftrightunsigned(xxhash64(col("user_id")), 1).as("h"))
    val aggs =
      graft.functions.KmvSketch.kmvSketch(col("h"), k).as("kh") +:
      // Exact distinct audiences ride along only under the audit; at
      // real scale this column is the one you drop (or HLL).
      (if (audit) Seq(countDistinct(col("h")).as("n_exact")) else Seq.empty)
    val sk = hashed.groupBy(col("event_type"))
      .agg(aggs.head, aggs.tail: _*)
      .withColumn("est_n",
        when(size(col("kh")) < k, size(col("kh")).cast("double"))
          .otherwise(lit((k - 1).toDouble) /
            (element_at(col("kh"), k).cast("double") / pow63)))
    val a = if (audit)
      sk.select(col("event_type").as("type_a"), col("kh").as("kh_a"),
        col("n_exact").as("n_a"), col("est_n").as("est_a"))
    else
      sk.select(col("event_type").as("type_a"), col("kh").as("kh_a"),
        col("est_n").as("est_a"))
    val b = if (audit)
      sk.select(col("event_type").as("type_b"), col("kh").as("kh_b"),
        col("n_exact").as("n_b"), col("est_n").as("est_b"))
    else
      sk.select(col("event_type").as("type_b"), col("kh").as("kh_b"),
        col("est_n").as("est_b"))
    val merged = a.crossJoin(broadcast(b))
      .filter(col("type_a") < col("type_b"))
      .withColumn("comb", slice(array_sort(array_union(col("kh_a"), col("kh_b"))), 1, k))
      .withColumn("size_u", size(col("comb")))
      .withColumn("est_union",
        when(col("size_u") < k, col("size_u").cast("double"))
          .otherwise(lit((k - 1).toDouble) /
            (element_at(col("comb"), col("size_u")).cast("double") / pow63)))
      .withColumn("rho",
        size(array_intersect(array_intersect(col("comb"), col("kh_a")), col("kh_b"))))
      // Pinned IEEE sequence (rho·û)/|comb|: below capacity û = |comb|
      // so the divide cancels exactly and est_both degrades to the
      // exact integer intersection.
      .withColumn("est_both",
        (col("rho").cast("double") * col("est_union")) / col("size_u").cast("double"))
    if (!audit) {
      // Production shape: estimates only, corpus touched exactly once.
      // d4w, not d4: the est_* columns are distinct-USER-count
      // estimates bounded only by user cardinality — at target scale an
      // ANSI cast to DECIMAL(10,4) aborts past 10^6, exactly where the
      // production path runs (the effective_users/lift lesson).
      return merged.select(col("type_a"), col("type_b"),
        d4w(col("est_a")).as("est_a"), d4w(col("est_b")).as("est_b"),
        d4w(col("est_union")).as("est_union"), d4w(col("est_both")).as("est_both"),
        (expr("(10000 * rho) div size_u").cast("double") /
          lit(10000.0)).as("jaccard_est"))
        .orderBy(col("type_a"), col("type_b"))
    }
    // Exact intersections for the self-audit (the #32o relation).
    val exact = {
      val ut = Tables.events(spark, dir)
        .select(col("event_type"), col("user_id")).distinct()
      ut.join(ut.select(col("event_type").as("type_b"), col("user_id")), Seq("user_id"))
        .filter(col("event_type") < col("type_b"))
        .groupBy(col("event_type").as("type_a"), col("type_b"))
        .agg(count(lit(1)).as("n_both"))
    }
    merged.join(exact, Seq("type_a", "type_b"), "left_outer")
      .withColumn("n_both", coalesce(col("n_both"), lit(0L)))
      .select(col("type_a"), col("type_b"), col("n_a"), col("n_b"), col("n_both"),
        // d4w (see the production branch): unbounded-magnitude counts.
        d4w(col("est_a")).as("est_a"), d4w(col("est_b")).as("est_b"),
        d4w(col("est_union")).as("est_union"), d4w(col("est_both")).as("est_both"),
        // FLOOR-x10000 divides, not d4: both ratios have SMALL-INTEGER
        // denominators (|union| for jaccard, |comb| ≤ k for
        // jaccard_est), where an exact ratio can land ON the 4-decimal
        // rounding boundary (x/256 does for x ≡ 8 mod 16) and the
        // engines legitimately round apart — the cohort_ltv lesson.
        (expr("(10000 * n_both) div (n_a + n_b - n_both)").cast("double") /
          lit(10000.0)).as("jaccard"),
        (expr("(10000 * rho) div size_u").cast("double") /
          lit(10000.0)).as("jaccard_est"),
        // d4w: with a tiny exact intersection under a large estimate the
        // relative error itself is unbounded — same abort class.
        d4w(abs(col("est_both") - col("n_both").cast("double")) /
          greatest(col("n_both").cast("double"), lit(1.0))).as("rel_err"))
      .orderBy(col("type_a"), col("type_b"))
  }

  /** #31c events_sessionize_native: the SAME 30-min-gap sessions as
    * #31, via Spark's built-in `session_window` aggregation instead of
    * the stacked lag/cumsum windows — the compose-existing-ops
    * formulation (one groupBy, merging session state in the
    * aggregation buffer; no sort-based window at all), and the exact
    * construct the STREAMING form uses with a watermark, so batch and
    * stream share plan shape natively (ONE aggregation body, defined
    * in [[graft.streaming.Streaming.sessionizeNativeStream]] — batch
    * delegates to it). The gap contract is IDENTICAL to #31's
    * strict-greater split (an exact 30:00 gap merges — session_window
    * splits only on strictly-greater gaps; empirically pinned by the
    * reconciliation spec), so the two formulations are row-identical
    * modulo #31's session_seq ordinal, which needs the per-user sort
    * the lag form pays. */
  def sessionizeNative(spark: SparkSession, dir: String): DataFrame =
    graft.streaming.Streaming.sessionizeNativeStream(Tables.events(spark, dir))
      .orderBy(col("user_id"), col("session_start"))

  /** #32dd events_weekend_contrast: weekday vs weekend load per type —
    * event counts, ACTIVE-day counts of each kind, per-active-day
    * rates (floor-x100), and the weekend/weekday rate ratio. The
    * simplest seasonality split a capacity plan reads before the full
    * [[heatmap]]. Monday-based integer dow ((day+3) mod 7, weekend =
    * 5..6); one map-side-combinable shuffle with conditional distincts
    * sharing it. */
  def weekendContrast(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .withColumn("day", expr("unix_micros(ts) div 86400000000"))
      .withColumn("dow", expr("(day + 3) % 7"))
    e.groupBy(col("event_type"))
      .agg(
        sum(when(col("dow") < 5, 1L).otherwise(0L)).as("n_weekday_events"),
        sum(when(col("dow") >= 5, 1L).otherwise(0L)).as("n_weekend_events"),
        countDistinct(when(col("dow") < 5, col("day"))).as("n_weekday_days"),
        countDistinct(when(col("dow") >= 5, col("day"))).as("n_weekend_days"))
      .withColumn("weekday_rate_x100",
        expr("(100 * n_weekday_events) div greatest(n_weekday_days, 1)"))
      .withColumn("weekend_rate_x100",
        expr("(100 * n_weekend_events) div greatest(n_weekend_days, 1)"))
      .select(
        col("event_type"),
        col("n_weekday_events"), col("n_weekend_events"),
        col("n_weekday_days"), col("n_weekend_days"),
        (col("weekday_rate_x100").cast("double") / lit(100.0))
          .as("weekday_rate"),
        (col("weekend_rate_x100").cast("double") / lit(100.0))
          .as("weekend_rate"),
        // ratio4 + NULLIF: the ratio is unbounded (one stray weekday
        // event under heavy weekend load) and a weekday-silent type
        // divides by zero — NULL, not a report class.
        ratio4(col("weekend_rate_x100"),
          nullif(col("weekday_rate_x100"), lit(0L))).as("weekend_ratio"))
      .orderBy(col("event_type"))
  }

  /** #32r events_heatmap: day-of-week × hour-of-day activity matrix per
    * event type — the load-shape report behind capacity planning and
    * anomaly baselining. Day/hour are derived by INTEGER arithmetic on
    * epoch microseconds (`us div 86400e6`, epoch day 0 = Thursday, so
    * Monday-based dow = (day + 3) mod 7) rather than calendar
    * functions, so the bucketing is timezone-free and bit-identical in
    * any engine. Output is bounded at |types| × 7 × 24 whatever the
    * corpus size; one map-side-combinable shuffle on the bucket key. */
  def heatmap(spark: SparkSession, dir: String): DataFrame = {
    Tables.events(spark, dir)
      .withColumn("us", unix_micros(col("ts")))
      .withColumn("dow", expr("(us div 86400000000 + 3) % 7").cast("int"))
      .withColumn("hour", expr(s"(us div $HourUs) % 24").cast("int"))
      .groupBy(col("event_type"), col("dow"), col("hour"))
      .agg(
        count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        pres(dsum(col("value"), 2)).as("sum_value"))
      .orderBy(col("event_type"), col("dow"), col("hour"))
  }

  /** #32s events_interarrival: per-type inter-arrival time profile —
    * for each event type, statistics over the gaps between a user's
    * consecutive events OF THAT TYPE (lag over the (user, type)
    * series). The cadence fingerprint behind rate limiting and bot
    * detection ("how often does a given user fire this event?").
    *
    * Scale shape: one shuffle on (user_id, event_type) for the lag
    * window — per-user-per-type partitions, never global — then a
    * map-side-combinable rollup to the |types|-sized output. Gaps are
    * integer MICROSECONDS end to end; the only floating point is the
    * final seconds presentation (sum/n/1e6 in a pinned operation
    * order) and the p50 lerp, whose operands are integer-valued
    * doubles < 2^53 — exact under any lerp arrangement, so Spark's
    * percentile and DuckDB's quantile_cont agree bit for bit here
    * (unlike over arbitrary doubles, see quantile_agg). */
  def interarrival(spark: SparkSession, dir: String): DataFrame = {
    val byUserType = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("ts"), col("event_id"))
    Tables.events(spark, dir)
      .withColumn("gap_us",
        unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(byUserType))
      .filter(col("gap_us").isNotNull)
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_gaps"),
        sum(col("gap_us")).as("sum_us"),
        min(col("gap_us")).as("min_us"),
        max(col("gap_us")).as("max_us"),
        percentile(col("gap_us"), lit(0.5)).as("p50_us"))
      // No ROUND anywhere in the presentation: every column is ONE
      // exactly-rounded IEEE division of exact operands (the average
      // floors to whole microseconds first), so there is no rounding
      // boundary for the engines to disagree on — a d4 of sum/n CAN
      // land on an exact .xxxx5 when n is 2^a·5^b (the cohort_ltv
      // lesson).
      .select(
        col("event_type"), col("n_gaps"),
        (expr("sum_us div n_gaps").cast("double") / lit(1e6)).as("avg_gap_s"),
        (col("min_us").cast("double") / lit(1e6)).as("min_gap_s"),
        (col("max_us").cast("double") / lit(1e6)).as("max_gap_s"),
        (col("p50_us") / lit(1e6)).as("p50_gap_s"))
      .orderBy(col("event_type"))
  }

  /** #32t events_mad_outliers: robust per-type outlier census via the
    * median/MAD rule (Iglewicz-Hoaglin modified z-score,
    * 0.6745·(x−med)/MAD, |z| > 3.5) — the detector that, unlike
    * [[zscoreOutliers]]' mean/σ, does not let the outliers it hunts
    * inflate its own threshold (breakdown point 50% vs 0%).
    *
    * Exactness: values are lifted to integer CENTS first, so both
    * median lerps run over integer-or-half-integer doubles < 2^53 —
    * exact under any lerp operand arrangement, hence bit-identical
    * between Spark's percentile and DuckDB's quantile_cont (arbitrary
    * doubles only match to an ulp — the quantile_agg lesson). The
    * modified z itself is a pinned sequence of exactly-rounded IEEE
    * ops, so the >3.5 census is engine-exact too.
    *
    * Scale shape: two aggregation passes over the corpus (median, then
    * MAD of deviations) plus a broadcast-back census pass; every
    * per-type frame is |types|-sized. percentile() buffers per GROUP —
    * acceptable while |corpus|/|types| fits an executor; the two-level
    * bucket decomposition (quantile_agg) is the swap-in at 100 TB. */
  def madOutliers(spark: SparkSession, dir: String): DataFrame =
    madOutliersOf(Tables.events(spark, dir)
      .select(col("event_type"), round(col("value") * 100, 0).cast("long").as("cents")))

  /** [[madOutliers]]' body over an explicit (event_type, cents) frame, so
    * the degenerate-input contract (a type where ≥50% of values equal the
    * median ⇒ MAD = 0) is spec-testable with a planted constant type. */
  private[graft] def madOutliersOf(ev: DataFrame): DataFrame = {
    val med = ev.groupBy(col("event_type"))
      .agg(percentile(col("cents"), lit(0.5)).as("med_cents"))
    val dev = ev.join(broadcast(med), Seq("event_type"))
      .withColumn("adev", abs(col("cents").cast("double") - col("med_cents")))
    val mad = dev.groupBy(col("event_type"))
      .agg(percentile(col("adev"), lit(0.5)).as("mad_cents"))
    // NULLIF on the MAD: a type where ≥50% of values equal the median has
    // MAD = 0, where the modified z is undefined — under ANSI a zero
    // denominator ABORTS the whole query, while the DuckDB oracle NULLs
    // it. NULL z ⇒ the >3.5 census counts 0 and max_abs_z is NULL on
    // both engines (the house 'NULLIF every denominator' convention).
    val z = lit(0.6745) * (col("cents").cast("double") - col("med_cents")) /
      nullif(col("mad_cents"), lit(0.0))
    dev.join(broadcast(mad), Seq("event_type"))
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        first(col("med_cents")).as("medc"),
        first(col("mad_cents")).as("madc"),
        sum(when(abs(z) > 3.5, 1L).otherwise(0L)).as("n_outliers"),
        max(abs(z)).as("max_z"))
      .select(
        col("event_type"), col("n_events"),
        d4(col("medc") / lit(100.0)).as("median_value"),
        d4(col("madc") / lit(100.0)).as("mad_value"),
        col("n_outliers"),
        d4(col("max_z")).as("max_abs_z"))
      .orderBy(col("event_type"))
  }

  /** #31b events_session_stats: session-size distribution — sessions
    * from the same 30-min-gap sessionizer as #31, rolled up by event
    * count: how many sessions have n events, their share, and
    * duration totals/averages. The engagement-depth histogram read
    * next to the raw session list.
    *
    * Scale shape: rides #31's single user-keyed shuffle (windows +
    * per-session rollup share the partitioning), then collapses to
    * the |distinct session sizes| frame — map-side combinable.
    * Durations are integer micros with floor-average (exact micros
    * div n, then one exact divide to seconds — no rounding boundary). */
  def sessionStats(spark: SparkSession, dir: String): DataFrame = {
    val sess = sessionized(Tables.events(spark, dir), gapMinutes = 30)
      .groupBy(col("user_id"), col("session_seq"))
      .agg(count(lit(1)).as("n_events"),
        (unix_micros(max(col("ts"))) - unix_micros(min(col("ts")))).as("dur_us"))
    val byN = sess.groupBy(col("n_events"))
      .agg(count(lit(1)).as("n_sessions"), sum(col("dur_us")).as("sum_us"))
    val tot = byN.agg(sum(col("n_sessions")).as("total_sessions"))
    byN.crossJoin(broadcast(tot))
      .select(
        col("n_events"), col("n_sessions"),
        ratio4(col("n_sessions"), col("total_sessions")).as("session_share"),
        expr("sum_us div 1000000").as("total_duration_s"),
        (expr("sum_us div n_sessions").cast("double") / lit(1e6))
          .as("avg_duration_s"))
      .orderBy(col("n_events"))
  }

  /** #32x events_winsorized: per-type winsorized mean — values clamped
    * to the [p5, p95] value-cut boundaries before averaging, with clamp
    * censuses and the plain mean alongside (how much do the tails move
    * the needle?). The robust location estimate between [[madOutliers]]
    * (detection) and plain averages.
    *
    * The p5/p95 boundaries are VALUE CUTS by inclusive cumulative
    * fraction (ceil(20·F(v)) vigintiles over integer cents, the
    * rfm_scores scheme): two-level prefix sums over the per-type value
    * histogram — one map-side-combinable shuffle, windows only over
    * bucket frames — then the |types|-row cut frame broadcasts back
    * and the clamp+mean pass is map-side before its rollup. All-integer
    * cuts and sums; floor-x10000 mean presentation (no rounding
    * boundary). An empty tail vigintile (heavy ties) yields a NULL cut
    * = no clamping on that side. */
  def winsorized(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("event_type"), round(col("value") * 100, 0).cast("long").as("cents"))
    val hist = ev
      .withColumn("gb", expr("cents div 1000"))
      .groupBy(col("event_type"), col("gb"), col("cents"))
      .agg(count(lit(1)).as("cnt"))
    val wB = Window.partitionBy(col("event_type")).orderBy(col("gb"))
    val off = hist.groupBy(col("event_type"), col("gb"))
      .agg(sum(col("cnt")).as("bc"))
      .withColumn("boff", sum(col("bc")).over(wB) - col("bc"))
      .withColumn("n", sum(col("bc")).over(Window.partitionBy(col("event_type"))))
    val wIn = Window.partitionBy(col("event_type"), col("gb")).orderBy(col("cents"))
    val cuts = hist
      .join(broadcast(off.select(col("event_type"), col("gb"), col("boff"), col("n"))),
        Seq("event_type", "gb"))
      .withColumn("cum", col("boff") + sum(col("cnt")).over(wIn))
      .withColumn("vig", expr("(20 * cum + n - 1) div n"))
      .groupBy(col("event_type"))
      .agg(
        max(when(col("vig") <= 1, col("cents"))).as("c_lo"),
        max(when(col("vig") <= 19, col("cents"))).as("c_hi"))
    val clamped = ev.join(broadcast(cuts), Seq("event_type"))
      .withColumn("w", greatest(
        least(col("cents"), coalesce(col("c_hi"), lit(Long.MaxValue))),
        coalesce(col("c_lo"), lit(Long.MinValue))))
    clamped.groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("cents")).as("sum_c"),
        sum(col("w")).as("sum_w"),
        sum(when(col("w") > col("cents"), 1L).otherwise(0L)).as("n_clamped_low"),
        sum(when(col("w") < col("cents"), 1L).otherwise(0L)).as("n_clamped_high"),
        first(col("c_lo")).as("c_lo"), first(col("c_hi")).as("c_hi"))
      .select(
        col("event_type"), col("n_events"),
        // 100x scale (4-dec dollars), not 10000x: sum_c is corpus-sized
        // cents and the larger multiplier overflows Long near 10^12
        // events per type — exactly the scale the module targets.
        (expr("(100 * sum_c) div n_events").cast("double") / lit(1e4))
          .as("mean_value"),
        (expr("(100 * sum_w) div n_events").cast("double") / lit(1e4))
          .as("winsorized_mean"),
        (col("c_lo").cast("double") / lit(100.0)).as("p5_cut"),
        (col("c_hi").cast("double") / lit(100.0)).as("p95_cut"),
        col("n_clamped_low"), col("n_clamped_high"))
      .orderBy(col("event_type"))
  }

  /** #32v events_hhi: per-type audience concentration via the
    * Herfindahl-Hirschman index — Σ share², share = a user's fraction
    * of the type's events — plus its inverse (the "effective user
    * count"). The concentration report behind "is this event five
    * whales or a real audience?"; HHI is a pure rational (no log), so
    * unlike entropy it is engine-exact.
    *
    * Scale shape: one (type, user) count shuffle, then a
    * map-side-combinable rollup to the |types| frame. The share
    * squares sum as exact DECIMALS: share² = c²/n² with c² summed as
    * long and ONE final divide per type — bit-stable under any
    * partitioning (a per-row double share² sum would be
    * order-dependent). */
  def hhi(spark: SparkSession, dir: String): DataFrame = {
    val perUser = Tables.events(spark, dir)
      .groupBy(col("event_type"), col("user_id"))
      .agg(count(lit(1)).as("c"))
    perUser.groupBy(col("event_type"))
      .agg(
        sum(col("c")).as("n_events"),
        count(lit(1)).as("n_users"),
        sum(col("c") * col("c")).as("sum_c2"))
      .select(
        col("event_type"), col("n_events"), col("n_users"),
        ratio4(col("sum_c2"), col("n_events") * col("n_events")).as("hhi"),
        // ratio4 (not d4w): effective_users is an integer ratio whose
        // NUMERATOR is quadratic — n_events² itself is the binding
        // term. The LONG product n_events*n_events ANSI-aborts at
        // n_events ≈ 3.0e9 per type; ratio4's internal x10^4 scaling
        // runs through DECIMAL(38,0) and is not the binding bound.
        // At 3e9 single-type events, pre-aggregate or widen the
        // product to decimal here — the ratio kernel already carries.
        ratio4(col("n_events") * col("n_events"), col("sum_c2"))
          .as("effective_users"))
      .orderBy(col("event_type"))
  }

  /** #32bb events_conversion_lag: time-to-convert distribution for the
    * [[funnel]]'s first hop — for every user who converted view→click
    * within tolerance, the lag in whole hours, histogrammed. The
    * latency companion to the funnel's counts ("converters convert,
    * but how fast?"). Same windowed per-user step times and the same
    * single user shuffle; the histogram key is integer hours. */
  def conversionLag(spark: SparkSession, dir: String): DataFrame = {
    val lags = funnelStepTimes(spark, dir)
      .filter(col("t2").isNotNull)
      .select(expr(s"(t2 - t1) div $HourUs").as("lag_hours"))
    val total = lags.agg(count(lit(1)).as("n_converters"))
    lags.groupBy(col("lag_hours"))
      .agg(count(lit(1)).as("n_users"))
      .crossJoin(broadcast(total))
      .select(col("lag_hours"), col("n_users"),
        ratio4(col("n_users"), col("n_converters")).as("share"))
      .orderBy(col("lag_hours"))
  }

  /** #32cc events_session_mix: which event-type COMBINATIONS make a
    * session — each session's distinct-type set rendered as a sorted
    * label ("click+purchase+view"), counted across sessions with
    * per-mix average size. The engagement-shape census beside
    * [[sessionStats]]' size distribution. Rides the same single
    * user-keyed shuffle as #31; the label is a bounded sorted set
    * (≤ |types|), and the rollup lands on ≤ 2^|types| keys. */
  def sessionMix(spark: SparkSession, dir: String): DataFrame = {
    val sess = sessionized(Tables.events(spark, dir), gapMinutes = 30)
      .groupBy(col("user_id"), col("session_seq"))
      .agg(
        array_join(sort_array(collect_set(col("event_type"))), "+").as("mix"),
        count(lit(1)).as("n_events"))
    val total = sess.agg(count(lit(1)).as("total_sessions"))
    sess.groupBy(col("mix"))
      .agg(count(lit(1)).as("n_sessions"), sum(col("n_events")).as("sum_events"))
      .crossJoin(broadcast(total))
      .select(col("mix"), col("n_sessions"),
        ratio4(col("n_sessions"), col("total_sessions")).as("session_share"),
        (expr("(100 * sum_events) div n_sessions").cast("double") / lit(100.0))
          .as("avg_events"))
      .orderBy(col("mix"))
  }

  /** #32aa events_growth_curve: daily adoption — new users (first-ever
    * event today), returning actives, and the cumulative user base per
    * day. The growth dashboard beside [[dauMau]]'s stickiness.
    *
    * Cumulative distinct WITHOUT a running distinct: a user is new on
    * exactly one day (their min-day), so cum_users is a prefix sum of
    * new-user counts over the ≤ days dimension frame — one user-keyed
    * shuffle (first day), one day-keyed DAU shuffle, and a window over
    * days. Integer epoch-day keys. */
  def growthCurve(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .select(expr("unix_micros(ts) div 86400000000").as("day"), col("user_id"))
    val firstDay = e.groupBy(col("user_id")).agg(min(col("day")).as("day"))
    val newByDay = firstDay.groupBy(col("day")).agg(count(lit(1)).as("new_users"))
    val dau = e.distinct().groupBy(col("day")).agg(count(lit(1)).as("dau"))
    dau.join(broadcast(newByDay), Seq("day"), "left_outer")
      .withColumn("new_users", coalesce(col("new_users"), lit(0L)))
      .withColumn("cum_users",
        sum(col("new_users")).over(Window.orderBy(col("day"))))
      .select(
        date_add(lit("1970-01-01").cast("date"), col("day").cast("int")).as("day"),
        col("new_users"),
        (col("dau") - col("new_users")).as("returning_users"),
        col("dau"), col("cum_users"),
        ratio4(col("dau"), col("cum_users")).as("active_share"))
      .orderBy(col("day"))
  }

  /** #32z events_activity_islands: gaps-and-islands over the hourly
    * count series — maximal runs of consecutive ABOVE-AVERAGE hours
    * per type (count > overall hourly mean, zero-padded: a silent hour
    * always breaks a run), one row per island with span and volume.
    * The classic islands pattern (hr − row_number() run key) plus the
    * burst report [[cusum]] alarms point into.
    *
    * Scale shape: everything past the one hourly-count shuffle rides
    * the dimension-sized (type × hour) frame — the islands window
    * partitions by type over that frame, never the corpus. The
    * above-average gate is integer cross-multiplication
    * (c·H > N ⇔ c > N/H, no IEEE). */
  def activityIslands(spark: SparkSession, dir: String): DataFrame = {
    val hourly = hourlyCounts(eventHours(spark, dir))
    val m = hourly.groupBy(col("event_type"))
      .agg(sum(col("c")).as("n_ev"),
        (max(col("hr")) - min(col("hr")) + 1).as("h"))
    val hot = hourly.join(broadcast(m), Seq("event_type"))
      .filter(col("c") * col("h") > col("n_ev"))
    val wRun = Window.partitionBy(col("event_type")).orderBy(col("hr"))
    hot
      .withColumn("run_key", col("hr") - row_number().over(wRun))
      .groupBy(col("event_type"), col("run_key"))
      .agg(
        min(col("hr")).as("start_hr"),
        max(col("hr")).as("end_hr"),
        count(lit(1)).as("n_hours"),
        sum(col("c")).as("n_events"))
      .select(
        col("event_type"),
        timestamp_micros(col("start_hr") * HourUs).as("island_start"),
        timestamp_micros((col("end_hr") + 1) * HourUs).as("island_end"),
        col("n_hours"), col("n_events"))
      .orderBy(col("event_type"), col("island_start"))
  }

  /** #32y events_autocorr: lag-1 autocorrelation of each type's hourly
    * count series (silent hours as zeros) — is load momentum real
    * (r→1), absent (r→0), or alternating (r→−1)? The temporal-
    * structure diagnostic beside [[burstiness]]' dispersion.
    *
    * Zero-padding stays CLOSED-FORM: over the span H, the x-side is
    * every hour but the last and the y-side every hour but the first,
    * so Σx = N − c_last, Σx² = Σc² − c_last², Σxy = Σ over adjacent
    * PRESENT hour pairs (zeros kill every other product) — that one
    * term comes from a self-join of the hourly frame on hr+1
    * (dimension-sized). All moments exact integers; the only floats
    * are the final Pearson assembly — and IEEE sqrt is a
    * correctly-rounded operation (not a libm approximation), so the
    * pinned expression is engine-exact like any divide. */
  def autocorr(spark: SparkSession, dir: String): DataFrame = {
    val hourly = hourlyCounts(eventHours(spark, dir))
    val adj = hourly.as("a")
      .join(hourly.select(col("event_type"), (col("hr") - 1).as("hr"),
        col("c").as("c_next")).as("b"), Seq("event_type", "hr"))
      .groupBy(col("event_type"))
      .agg(sum(col("c") * col("c_next")).as("sxy"))
    val m = hourly.groupBy(col("event_type"))
      .agg(
        sum(col("c")).as("n_ev"),
        (max(col("hr")) - min(col("hr")) + 1).as("h"),
        sum(col("c") * col("c")).as("sc2"),
        min(col("hr")).as("hr0"), max(col("hr")).as("hr1"))
    val ends = hourly
      .join(m.select(col("event_type"), col("hr0"), col("hr1")), Seq("event_type"))
      .groupBy(col("event_type"))
      .agg(
        sum(when(col("hr") === col("hr0"), col("c")).otherwise(0L)).as("c_first"),
        sum(when(col("hr") === col("hr1"), col("c")).otherwise(0L)).as("c_last"))
    m.join(broadcast(adj), Seq("event_type"), "left_outer")
      .join(broadcast(ends), Seq("event_type"))
      .filter(col("h") > 2)
      .withColumn("sxy", coalesce(col("sxy"), lit(0L)))
      // Pearson over the H−1 aligned pairs, exact integer moments:
      //   n = H−1; Σx = N−c_last; Σy = N−c_first;
      //   Σx² = Σc²−c_last²; Σy² = Σc²−c_first².
      .select(
        col("event_type"), col("n_ev").as("n_events"), col("h").as("n_hours"),
        // NULLIF on the variance product: a constant-side series has
        // zero variance, where autocorrelation is undefined — under
        // ANSI a bare divide would ABORT the query; NULL mirrors the
        // oracle's double/0 semantics exactly.
        d4(((col("h") - 1) * col("sxy") -
            (col("n_ev") - col("c_last")) * (col("n_ev") - col("c_first")))
          .cast("double") /
          nullif(
            sqrt(((col("h") - 1) * (col("sc2") - col("c_last") * col("c_last")) -
              (col("n_ev") - col("c_last")) * (col("n_ev") - col("c_last")))
              .cast("double")) *
            sqrt(((col("h") - 1) * (col("sc2") - col("c_first") * col("c_first")) -
              (col("n_ev") - col("c_first")) * (col("n_ev") - col("c_first")))
              .cast("double")),
            lit(0.0)))
          .as("lag1_autocorr"))
      .orderBy(col("event_type"))
  }

  /** #32w events_burstiness: per-type Fano factor of the hourly count
    * series (variance-to-mean of events per hour over the type's
    * active span, empty hours included as zeros) — >1 = bursty,
    * ~1 = Poisson-like, <1 = regular. The dispersion diagnostic read
    * next to [[cusum]]/[[ewma]]'s level detectors.
    *
    * Exactness: with H total hours and hourly counts c_i (zeros for
    * silent hours), mean = N/H and the unbiased variance numerator is
    * H·Σc² − N² — all exact integer moments (silent hours add nothing
    * to either), so Fano = (H·Σc² − N²)/(H−1)/N needs only pinned
    * final divides. Scale shape: one (type, hour) count shuffle to the
    * dimension-sized hourly frame; the span rides min/max hour —
    * silent hours are arithmetic, never generated rows. */
  def burstiness(spark: SparkSession, dir: String): DataFrame = {
    val hourly = hourlyCounts(eventHours(spark, dir))
    hourly.groupBy(col("event_type"))
      .agg(
        sum(col("c")).as("n_events"),
        (max(col("hr")) - min(col("hr")) + 1).as("n_hours"),
        count(lit(1)).as("n_active_hours"),
        sum(col("c") * col("c")).as("sum_c2"))
      .filter(col("n_hours") > 1)
      .select(
        col("event_type"), col("n_events"), col("n_hours"), col("n_active_hours"),
        ratio4(col("n_hours") * col("sum_c2") - col("n_events") * col("n_events"),
          (col("n_hours") - 1) * col("n_events")).as("fano"),
        // Floor-x10000 (N/H with a small H can land on an exact
        // .xxxx5 where engine rounding differs; floor has no boundary).
        (expr("(10000 * n_events) div n_hours") / lit(10000.0))
          .as("mean_per_hour"))
      .orderBy(col("event_type"))
  }

  /** #32u events_dau_mau: daily active users with the containing
    * week's WAU and month's MAU plus the DAU/WAU and DAU/MAU
    * stickiness ratios — the engagement dashboard staple. Day and week
    * keys are INTEGER epoch arithmetic (day = us div 86400e6; Monday
    * weeks = (day+3) div 7), months the calendar index year·12+month
    * under the pinned-UTC session — all engine-exact.
    *
    * Scale shape: three distinct-user aggregations (day/week/month
    * keys), each one map-side-partial-combinable shuffle; the
    * week/month frames are dimension-sized and broadcast back onto the
    * day frame. No trailing-window distinct (an exact rolling 30-day
    * MAU would need a 30× event fan-out or per-user state; calendar
    * MAU is the standard dashboard contract). */
  def dauMau(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .withColumn("us", unix_micros(col("ts")))
      .withColumn("day", expr("us div 86400000000"))
      .withColumn("wk", expr("(us div 86400000000 + 3) div 7"))
      .withColumn("mon", expr("year(ts) * 12 + month(ts)"))
      .select(col("day"), col("wk"), col("mon"), col("user_id"))
    val d = e.groupBy(col("day"))
      .agg(max(col("wk")).as("wk"), max(col("mon")).as("mon"),
        countDistinct(col("user_id")).as("dau"))
    val w = e.groupBy(col("wk")).agg(countDistinct(col("user_id")).as("wau"))
    val m = e.groupBy(col("mon")).agg(countDistinct(col("user_id")).as("mau"))
    d.join(broadcast(w), Seq("wk")).join(broadcast(m), Seq("mon"))
      .select(
        date_add(lit("1970-01-01").cast("date"), col("day").cast("int")).as("day"),
        col("dau"), col("wau"), col("mau"),
        ratio4(col("dau"), col("wau")).as("dau_wau"),
        ratio4(col("dau"), col("mau")).as("dau_mau"))
      .orderBy(col("day"))
  }

  /** #32 events_asof_prev: each event joined to the user's previous
    * event (the as-of-prior row in the same series) — previous type,
    * previous value, and the inter-event gap in microseconds. */
  def asofPrev(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables.events(spark, dir)
      .withColumn("prev_type", lag(col("event_type"), 1).over(byUser))
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("gap_us",
        unix_micros(col("ts")) - unix_micros(col("prev_ts")))
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"),
        col("prev_type"), col("prev_ts"), col("gap_us"))
      .orderBy(col("user_id"), col("event_id"))
  }

  /** #32gg events_attribution: last-touch conversion attribution — for
    * every `purchase`, the most recent PRIOR non-purchase event by the
    * same user within a 7-day lookback is the credited channel
    * (`direct` when none exists or the touch is stale); emits the
    * per-channel conversion count, attributed revenue, and conversion
    * share — the marketing-analytics staple sitting between
    * [[asofPrev]] (which pairs adjacent events regardless of type) and
    * [[funnel]] (which measures one chosen path). The (touch ts, touch
    * type) pair rides ONE ignore-nulls `last` over a struct, so both
    * fields provably come from the same touching row.
    *
    * Scale shape: one shuffle on user_id for the window (the module's
    * locality unit), then a map-side-combinable |types|-key rollup;
    * the share window rides the ≤|types|+1-row channel dimension,
    * never the corpus. Revenue sums ride DECIMAL(30,2)
    * ([[graft.functions.Exact.dsum]]) and the share is [[ratio4]], so
    * the result is hash-exact cross-engine at any partitioning. */
  def attribution(spark: SparkSession, dir: String): DataFrame = {
    val byUserPrior = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val touched = Tables.events(spark, dir)
      .withColumn("touch",
        last(when(col("event_type") =!= "purchase",
          struct(col("ts").as("t_ts"), col("event_type").as("t_type"))),
          ignoreNulls = true).over(byUserPrior))
      .filter(col("event_type") === "purchase")
      .withColumn("channel",
        when(col("touch").isNull ||
          col("touch.t_ts") < col("ts") - expr("INTERVAL 7 DAY"), lit("direct"))
          .otherwise(col("touch.t_type")))
    touched.groupBy(col("channel"))
      .agg(count(lit(1)).as("n_conversions"),
        pres(dsum(col("value"), 2)).as("attributed_revenue"))
      .withColumn("conversion_share",
        ratio4(col("n_conversions"),
          sum(col("n_conversions")).over(Window.partitionBy())))
      .orderBy(col("channel"))
  }

  /** #32hh events_pagerank: PageRank over the event-type transition
    * graph (Page et al. 1999; damping 0.85, 5 unrolled power
    * iterations) — which event types are central to user journeys,
    * the global-importance view on top of [[transitions]]' local
    * conditional matrix. All rank arithmetic is INTEGER in parts-per-
    * billion units: init 10⁹ div N; each edge forwards
    * (rank·n div out_n) of its source's mass; the damped update is
    * 0.15·10⁹ div N + (85·in_mass) div 100. Floor-division everywhere
    * makes every
    * iteration a pure integer function of the transition counts —
    * hash-exact cross-engine with no float accumulation anywhere.
    * Dangling mass (a type with no outgoing transitions) is dropped,
    * not redistributed, so ranks need not sum to 10⁹ — documented
    * convention, mirrored in the oracle.
    *
    * Scale shape: ONE corpus pass (the lag window on the user_id
    * exchange [[transitions]] already rides) down to the ≤|types|²
    * edge matrix, which is COLLECTED and iterated on the driver — the
    * emb_kmeans Lloyd discipline (only the dimension-sized moment
    * frame ever comes back; an in-plan formulation was measured at 46
    * nested exchanges because each iteration's lineage embeds every
    * previous one). Driver products ride BigInt, so an edge count at
    * any corpus size times a ppb rank cannot overflow. */
  def pagerank(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val edges = Tables.events(spark, dir)
      .withColumn("from_type", lag(col("event_type"), 1).over(byUser))
      .filter(col("from_type").isNotNull)
      .groupBy(col("from_type"), col("event_type").as("to_type"))
      .agg(count(lit(1)).as("n"))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val out = edges.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct.sorted
    val nN = nodes.length.toLong
    var rank = nodes.map(_ -> 1000000000L / nN).toMap
    for (_ <- 1 to 5) {
      // Per-edge floor BEFORE the sum — the exact shape the oracle's
      // SUM(rank * n // out) states.
      val inMass = edges.groupBy(_._2).view.mapValues(_.map { case (f, _, n) =>
        BigInt(rank(f)) * n / out(f)
      }.sum).toMap
      rank = nodes.map { v =>
        v -> (150000000L / nN +
          ((BigInt(85) * inMass.getOrElse(v, BigInt(0))) / 100).toLong)
      }.toMap
    }
    val sparkS = spark
    import sparkS.implicits._
    nodes.map(v => (v, rank(v))).toSeq.toDF("event_type", "rank_ppb")
      .orderBy(col("event_type"))
  }

  /** #32ii events_user_features: the per-user FEATURE-STORE row — the
    * aggregation every churn/LTV/propensity model starts from: event
    * volume, type diversity, active-day count, first/last timestamps,
    * integer lifespan, exact total value, purchase count, and
    * events-per-active-day intensity. One row per user (corpus-keyed
    * output — this IS the feature table a training pipeline joins).
    *
    * Scale shape: ONE user_id aggregation; the two distinct counts
    * (types, days) ride Spark's Expand-based multi-distinct within the
    * same exchange, day keys are integer epoch arithmetic
    * (us div 86400e6, the dau_mau convention), value sums DECIMAL(30,2)
    * ([[graft.functions.Exact.dsum]]), intensity the tie-free
    * [[ratio4]] — hash-exact at any partitioning. */
  def userFeatures(spark: SparkSession, dir: String): DataFrame = {
    Tables.events(spark, dir)
      .withColumn("day", expr("unix_micros(ts) div 86400000000"))
      .groupBy(col("user_id"))
      .agg(
        count(lit(1)).as("n_events"),
        countDistinct(col("event_type")).as("n_types"),
        countDistinct(col("day")).as("n_active_days"),
        min(col("ts")).as("first_ts"),
        max(col("ts")).as("last_ts"),
        pres(dsum(col("value"), 2)).as("total_value"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("n_purchases"))
      .withColumn("lifespan_days",
        expr("(unix_micros(last_ts) - unix_micros(first_ts)) div 86400000000"))
      .withColumn("events_per_active_day",
        ratio4(col("n_events"), greatest(col("n_active_days"), lit(1L))))
      .orderBy(col("user_id"))
  }

  /** #32am events_streaks: the consecutive-active-day STREAK census —
    * per user, maximal runs of consecutive active days (the classic
    * gaps-and-islands `day − row_number` key, [[activityIslands]]'
    * engine applied to per-user engagement instead of per-type load),
    * rolled up into the max-streak histogram every habit/engagement
    * dashboard reports ("N users have a 7-day best streak"): one row
    * per best-streak length with the user count, the user share
    * (tie-free integer ratio4), and the mean active-day count of
    * those users (exact cross-engine as a ratio4 of integer sums).
    *
    * Scale shape: one distinct (user, day) shuffle, the per-user
    * run-key window (the module's user_id locality unit), a
    * user-keyed rollup, then the histogram is a map-side-combinable
    * count on the ≤|days|-sized streak-length key with the user total
    * as a 1-row broadcast. Nothing corpus-sized past the first
    * shuffle. */
  def streaks(spark: SparkSession, dir: String): DataFrame = {
    val ud = Tables.events(spark, dir)
      .select(col("user_id"),
        expr("unix_micros(ts) div 86400000000").as("day"))
      .distinct()
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("day"))
    val perUser = ud
      .withColumn("run_key", col("day") - row_number().over(byUser))
      .groupBy(col("user_id"), col("run_key"))
      .agg(count(lit(1)).as("len"))
      .groupBy(col("user_id"))
      .agg(max(col("len")).as("max_streak"),
        sum(col("len")).as("active_days"))
    val tot = perUser.agg(count(lit(1)).as("n_users_total"))
    perUser.groupBy(col("max_streak"))
      .agg(count(lit(1)).as("n_users"),
        sum(col("active_days")).as("sum_active"))
      .crossJoin(broadcast(tot)) // 1-row scalar
      .select(col("max_streak"), col("n_users"),
        ratio4(col("n_users"), col("n_users_total")).as("user_share"),
        ratio4(col("sum_active"), col("n_users")).as("mean_active_days"))
      .orderBy(col("max_streak"))
  }

  /** #32al events_user_lifecycle: weekly growth accounting — every
    * active (user, week) classified into the standard lifecycle
    * states (NEW: first week ever; RETAINED: also active the prior
    * week; RESURRECTED: returning after a gap) plus the forward-churn
    * count (active this week, not active next — "will not return"),
    * and the week-over-week retention rate. The state machine behind
    * every growth dashboard; [[dauMau]] reports the stock,
    * [[growthCurve]] the inflow — THIS decomposes the flow, the
    * decomposition that explains WHY actives moved (n_active = new +
    * retained + resurrected by construction, spec-pinned).
    *
    * Weeks are the [[dauMau]] integer epoch-week rule ((day+3) div 7,
    * Monday-based, timezone-free); forward churn avoids the
    * empty-week attribution hole entirely (a churn INTO a silent week
    * needs a row for a week with no actives — attributing it to the
    * last active week keeps the report's key set = the active weeks).
    *
    * Scale shape: one distinct (user, week) shuffle, one user_id
    * window for the lag/lead states (the module's locality unit),
    * then everything — weekly rollup, the retention lag — rides the
    * |weeks|-sized dimension frame. The wow denominator is guarded:
    * retained/prior-actives only when the prior REPORT row is the
    * prior CALENDAR week (a gap week yields NULL, not a rate against
    * the wrong base). */
  def userLifecycle(spark: SparkSession, dir: String): DataFrame = {
    val uw = Tables.events(spark, dir)
      .select(col("user_id"),
        expr("(unix_micros(ts) div 86400000000 + 3) div 7").as("wk"))
      .distinct()
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("wk"))
    val states = uw
      .withColumn("prev_wk", lag(col("wk"), 1).over(byUser))
      .withColumn("next_wk", lead(col("wk"), 1).over(byUser))
      .withColumn("state",
        when(col("prev_wk").isNull, "new")
          .when(col("prev_wk") === col("wk") - 1, "retained")
          .otherwise("resurrected"))
      .withColumn("churning",
        col("next_wk").isNull || col("next_wk") =!= col("wk") + 1)
    val weekly = states.groupBy(col("wk"))
      .agg(count(lit(1)).as("n_active"),
        sum(when(col("state") === "new", 1L).otherwise(0L)).as("n_new"),
        sum(when(col("state") === "retained", 1L).otherwise(0L)).as("n_retained"),
        sum(when(col("state") === "resurrected", 1L).otherwise(0L))
          .as("n_resurrected"),
        sum(when(col("churning"), 1L).otherwise(0L)).as("n_churning"))
    val byWk = Window.orderBy(col("wk")) // |weeks|-sized frame
    weekly
      .withColumn("pwk", lag(col("wk"), 1).over(byWk))
      .withColumn("pact", lag(col("n_active"), 1).over(byWk))
      .select(
        date_add(lit("1970-01-01").cast("date"),
          (col("wk") * 7 - 3).cast("int")).as("week"),
        col("n_active"), col("n_new"), col("n_retained"),
        col("n_resurrected"), col("n_churning"),
        ratio4(col("n_retained"),
          nullif(when(col("pwk") === col("wk") - 1, col("pact")), lit(0L)))
          .as("wow_retention"))
      .orderBy(col("week"))
  }

  /** #32ak events_dist_drift: window-over-window distribution drift of
    * `value` per event type — the feature-monitoring report a training
    * pipeline alarms on before a bad day of upstream data poisons a
    * model (the PSI/KS dashboard staple, here in its exactly-computable
    * form). The time range splits at its midpoint epoch day (integer
    * arithmetic, timezone-free); each type's value histogram (the
    * [[valueHist]] bucket rule — `floor(value/25)`, one IEEE divide,
    * bit-identical cross-engine) is compared across the halves by
    * TOTAL-VARIATION distance. PSI and KL need `log`, which is not
    * correctly rounded and diverges cross-engine in the last ulp; TVD
    * is the same alarm signal as a pure integer cross-multiple —
    * tvd = Σ_b |c1_b·n2 − c2_b·n1| / (2·n1·n2) — so the drift score,
    * the pinned 0.1 alarm threshold, and the worst-moved bucket are
    * all under the hash gate. Cross-multiples ride DECIMAL(38,0)
    * (HUGEINT on the oracle side): c·n products overflow BIGINT once
    * a type's half-count passes ~3×10⁹ events — exactly the 100 TB
    * regime this report exists for.
    *
    * Scale shape: the min/max-day scalar is a 1-row broadcast; the ONE
    * corpus-sized shuffle is the map-side-combinable (type, bucket)
    * count with the half split folded in as two conditional sums;
    * everything after — half totals, TVD, the worst-bucket argmax
    * (ties bucket ASC) — rides the dimension-sized (|types| ×
    * |buckets|) frame, windows partitioned by type on that frame,
    * never the corpus. A type silent in either half reports NULL (no
    * distribution to compare), not a crash or a fake zero. */
  def distDrift(spark: SparkSession, dir: String, width: Double = 25.0): DataFrame = {
    val e = Tables.events(spark, dir)
      .select(col("event_type"),
        expr("unix_micros(ts) div 86400000000").as("day"),
        floor(col("value") / lit(width)).cast("long").as("bucket"))
    val bounds = e.agg(min(col("day")).as("lo"), max(col("day")).as("hi"))
    val cells = e.crossJoin(broadcast(bounds)) // 1-row scalar
      .withColumn("late", col("day") > expr("(lo + hi) div 2"))
      .groupBy(col("event_type"), col("bucket"))
      .agg(
        sum(when(col("late"), 0L).otherwise(1L)).as("c1"),
        sum(when(col("late"), 1L).otherwise(0L)).as("c2"))
    val byType = Window.partitionBy(col("event_type"))
    val scored = cells
      .withColumn("n1", sum(col("c1")).over(byType))
      .withColumn("n2", sum(col("c2")).over(byType))
      .withColumn("m", abs(col("c1").cast("decimal(38,0)") * col("n2")
        - col("c2").cast("decimal(38,0)") * col("n1")))
    val agg = scored.groupBy(col("event_type"))
      .agg(max(col("n1")).as("n1"), max(col("n2")).as("n2"),
        count(lit(1)).as("n_buckets"), sum(col("m")).as("mm"))
    val top = scored
      .withColumn("rn", row_number().over(
        byType.orderBy(col("m").desc, col("bucket"))))
      .filter(col("rn") === 1)
      .select(col("event_type"), col("bucket").as("top_id"), col("m").as("top_m"))
    val tvd = ratio4(col("mm"),
      nullif(lit(2L).cast("decimal(38,0)") * col("n1") * col("n2"), lit(0L)))
    agg.join(broadcast(top), Seq("event_type"))
      .select(col("event_type"), col("n1"), col("n2"), col("n_buckets"),
        tvd.as("tvd"),
        (tvd >= lit(0.1)).as("drifted"),
        (col("top_id").cast("double") * lit(width)).as("top_bucket"),
        ratio4(col("top_m"),
          nullif(col("n1").cast("decimal(38,0)") * col("n2"), lit(0L)))
          .as("top_shift"))
      .orderBy(col("event_type"))
  }
}
