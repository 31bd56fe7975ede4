package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.functions.Exact.dsum

/** Structured Streaming pipelines over the same event semantics as the
  * batch operators (SURVEY.md §2.3 #33).
  *
  * Both entry points take a DataFrame/Dataset that can be either a
  * stream (`readStream`) or a static frame, so batch/stream parity is a
  * property of the code, not a convention: the ScalaTest spec runs the
  * identical plan both ways and diffs the results.
  *
  * Scale: the windowed agg is a standard watermark + tumbling-window
  * state-store aggregation (partial aggregation before the shuffle, one
  * state-store partition per shuffle partition). The sessionizer keys
  * state by user_id — the same unit of locality as the batch window
  * plan — so state is sharded across executors and each micro-batch
  * touches only the keys present in it.
  */
object Streaming {

  /** One event, as the typed stream element. */
  case class Ev(user_id: Long, event_id: Long, ts: java.sql.Timestamp,
      event_type: String, value: Double)

  /** Open-session state carried between micro-batches (µs epoch times). */
  case class SessionState(startUs: Long, lastUs: Long, n: Long, sum: Double)

  /** A closed session. */
  case class Session(
      user_id: Long, session_start: java.sql.Timestamp,
      session_end: java.sql.Timestamp, n_events: Long, sum_value: Double)

  /** Exactly-once ingest dedup: drop event_id replays arriving within
    * the watermark delay — the at-least-once → exactly-once repair
    * every ingest edge needs (producer retries, replayed partitions).
    * `dropDuplicatesWithinWatermark` keys the state store by event_id
    * and EVICTS each key once the watermark passes it, so state is
    * bounded by the delay window × arrival rate, never by stream
    * lifetime (plain dropDuplicates on a stream never evicts — the
    * unbounded-state trap). Caller supplies the watermark (same
    * convention as [[windowedAgg]]). */
  def dedupStream(events: DataFrame): DataFrame =
    events.dropDuplicatesWithinWatermark(Seq("event_id"))

  /** Tumbling 1-hour windowed aggregation; on a stream add a watermark
    * first (`df.withWatermark("ts", "2 hours")`). Mirrors
    * [[graft.operators.Events.windowedAgg]] minus the distinct count
    * (exact distinct is not incrementally computable in append mode —
    * the batch engine owns that column). */
  def windowedAgg(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
           dsum(col("value"), 2).cast("double").as("sum_value"))
      .select(col("w.start").as("window_start"),
        col("event_type"), col("n_events"), col("sum_value"))

  /** Per-window heavy-hitter event types — the STREAMING member of the
    * freq_sketch family: a windowed aggregation whose buffer is the
    * mergeable ≤k-counter Misra-Gries summary
    * ([[graft.functions.FreqSketch]]), so the state store holds O(k)
    * per window REGARDLESS of stream volume — the property that lets a
    * top-k monitor run forever. The MG invariants hold under any
    * micro-batch split or merge order: counts never overcount, every
    * type whose true share of the window exceeds 1/(k+1) is present,
    * and when a window's distinct universe fits in k the summary is
    * its exact multiset — the regime the parity spec pins against the
    * batch aggregate. */
  def topTypesStream(events: DataFrame, k: Int = 8): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour").as("w"))
      .agg(graft.functions.FreqSketch.freqSketch(col("event_type"), k).as("top"))
      .select(col("w.start").as("window_start"), col("top"))

  /** The reference's whole job as a streaming pipeline: a cell stream
    * continuously exported into a keyed target with create-only
    * semantics and TTL policies, via foreachBatch over
    * [[graft.sinks.KeyedSink]]. Each micro-batch is one Spark action:
    * one anti-join against the target's key column, with the batch's
    * statistics observed in the same write and accumulated in the
    * returned buffer. */
  def exportStream(
      cells: DataFrame,
      targetPath: String,
      policy: Option[graft.sinks.KeyedSink.TtlPolicy] = None)
      : (org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row],
         scala.collection.mutable.Buffer[graft.sinks.KeyedSink.WriteStats]) = {
    val stats = scala.collection.mutable.Buffer.empty[graft.sinks.KeyedSink.WriteStats]
    val writer = cells.writeStream.foreachBatch {
      (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        stats += graft.sinks.KeyedSink.createOnlyAppend(
          batch.sparkSession, batch, targetPath, policy)
        ()
    }
    (writer, stats)
  }

  /** Streaming create-only semantics (the stream form of the sink's
    * AS_POLICY_EXISTS_CREATE): on a STREAM, the first-arriving cell per
    * (user, event type) wins permanently; later writes for the same
    * key are dropped. State is sharded by key across the state store;
    * on an unbounded ingest you bound it with `withWatermark` +
    * `dropDuplicatesWithinWatermark`. On a static frame,
    * `dropDuplicates` keeps an ARBITRARY row (there is no arrival
    * order) — batch jobs that need a deterministic winner should use
    * [[graft.kv.Kv.lww]]'s min/max-by formulation instead. */
  def createOnly(events: DataFrame): DataFrame =
    events.dropDuplicates("user_id", "event_type")

  /** Stream-stream attribution join: every purchase joined to the
    * user's clicks in the preceding `windowHours` — the streaming form
    * of the batch as-of join's candidate set (events_asof_join picks
    * the single latest candidate; an append-mode stream-stream join
    * emits candidates as soon as both rows exist, and the "latest"
    * reduction belongs to the consumer or a downstream stateful agg).
    *
    * Both sides must carry watermarks when streaming; the event-time
    * range condition is what lets Spark BOUND the join state — clicks
    * older than the window beyond the watermark are evicted, so state
    * is O(window × rate), not O(stream). This is the one join shape
    * that works unbounded at 100 TB/day.
    */
  def attributionJoin(purchases: DataFrame, clicks: DataFrame): DataFrame =
    purchases.join(
      clicks,
      purchases("user_id") === clicks("c_user_id") &&
        clicks("click_ts") <= purchases("ts") &&
        clicks("click_ts") >= purchases("ts") - expr("INTERVAL 7 DAYS"))
      .select(purchases("user_id"), col("event_id"), col("ts"),
        col("click_id"), col("click_ts"))

  /** Running per-type moments carried between micro-batches: count,
    * sum of integer cents, and sum of squared cents. The square sum
    * rides a BigDecimal so the state stays EXACT at any stream length
    * (a 64-bit squared-cents sum wraps near 10^12 events), mirroring
    * the batch operator's DECIMAL(38,0) moments. */
  case class MomentState(n: Long, sCents: Long, ssCents: BigDecimal)

  /** One flagged event. */
  case class Anomaly(event_id: Long, event_type: String, value: Double,
      zscore: Double)

  /** #32j's streaming form: per-event-type running z-score anomaly
    * detection. Each event is scored CAUSALLY against the moments of
    * all earlier events of its type (warmup: ≥ 30 prior events and
    * positive variance), then folded into the state — so an anomaly is
    * flagged the moment it arrives, with O(1) state per event type, no
    * watermark needed (the state never grows with the stream). The
    * batch operator scores against the corpus-global moments instead;
    * the streaming semantics are the deployable monitor (you cannot
    * know the future mean), and the spec pins them against a
    * driver-side fold of the same arithmetic. */
  def zscoreAnomalies(events: Dataset[Ev]): Dataset[Anomaly] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.event_type)
      .flatMapGroupsWithState[MomentState, Anomaly](
        OutputMode.Append(), GroupStateTimeout.NoTimeout())(zscoreGroup)
  }

  /** Per-type state transition: score this batch's (sorted) events
    * against the running moments, folding each in after scoring. */
  def zscoreGroup(
      eventType: String, batch: Iterator[Ev],
      state: GroupState[MomentState]): Iterator[Anomaly] = {
    val sorted = batch.toSeq.sortBy(e => (tsUs(e.ts), e.event_id))
    var st = state.getOption.getOrElse(MomentState(0L, 0L, BigDecimal(0)))
    val out = Seq.newBuilder[Anomaly]
    sorted.foreach { e =>
      val c = math.round(e.value * 100)
      if (st.n >= 30) {
        val n = st.n.toDouble
        val mean = st.sCents.toDouble / n
        val variance = st.ssCents.toDouble / n - mean * mean
        if (variance > 0) {
          val z = (c.toDouble - mean) / math.sqrt(variance)
          if (math.abs(z) > 2.5)
            out += Anomaly(e.event_id, eventType, e.value,
              BigDecimal(z).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
        }
      }
      st = MomentState(st.n + 1, st.sCents + c, st.ssCents + BigDecimal(c) * c)
    }
    state.update(st)
    out.result().iterator
  }

  /** Running CUSUM state per event type: hour-count moments (exact —
    * the squared sum rides BigDecimal like [[MomentState]]), the
    * two-sided path, and the currently-open hour's partial count.
    * O(1) per type at any stream length. */
  case class CusumState(
      n: Long, sx: Long, ss: BigDecimal,
      sp: Double, sn: Double, curHour: Long, curCount: Long)

  /** One closed hour whose CUSUM path crossed the 4σ alarm line. */
  case class RateAlarm(event_type: String, hour: Long, n_events: Long,
      cusum_pos: Double, cusum_neg: Double)

  /** #32m's streaming form: CAUSAL per-type rate-shift detection. The
    * stream buckets each type's events into epoch hours inside the
    * keyed state (only the OPEN hour's partial count is ever held); a
    * closed hour — including the zero-count gap hours between two
    * observed ones, which the batch operator densifies explicitly —
    * is scored against the running mean/σ of all PRIOR closed hours
    * (warmup ≥ 24 hours, the first day calibrates) and folded into the
    * CUSUM recurrence, emitting an alarm row the hour it crosses 4σ.
    * The batch [[graft.operators.Events.cusum]] scores against the
    * whole-corpus moments instead: the stream is the deployable
    * monitor (the future mean is unknowable at detection time), the
    * batch is the offline audit — the same contract as the z-score
    * pair, with O(1) state per type and no watermark.
    *
    * Caveat shared with every causal detector: hours close only when
    * a LATER event of the same type arrives; a type that falls silent
    * holds its last partial hour open (a production deployment closes
    * it with a processing-time timeout — the spec drives closure with
    * a sentinel event, the sessionizer's trick). */
  def cusumAlarms(events: Dataset[Ev]): Dataset[RateAlarm] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.event_type)
      .flatMapGroupsWithState[CusumState, RateAlarm](
        OutputMode.Append(), GroupStateTimeout.NoTimeout())(cusumGroup)
  }

  /** Per-type transition: close every hour the batch's events step
    * past (gap hours close at zero), scoring each against the moments
    * of the hours before it. */
  def cusumGroup(
      eventType: String, batch: Iterator[Ev],
      state: GroupState[CusumState]): Iterator[RateAlarm] = {
    var st = state.getOption.getOrElse(
      CusumState(0L, 0L, BigDecimal(0), 0.0, 0.0, Long.MinValue, 0L))
    val out = Seq.newBuilder[RateAlarm]
    def closeHour(h: Long, x: Long): Unit = {
      if (st.n >= 24) {
        val n = st.n.toDouble
        val mean = st.sx.toDouble / n
        val variance = st.ss.toDouble / n - mean * mean
        val std = math.sqrt(math.max(variance, 0.0))
        val slack = 0.5 * std
        val sp = math.max(0.0, st.sp + ((x.toDouble - mean) - slack))
        val sn = math.max(0.0, st.sn + ((mean - x.toDouble) - slack))
        if (std > 0 && (sp > 4.0 * std || sn > 4.0 * std))
          out += RateAlarm(eventType, h, x,
            BigDecimal(sp).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble,
            BigDecimal(sn).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
        st = st.copy(sp = sp, sn = sn)
      }
      st = st.copy(n = st.n + 1, sx = st.sx + x,
        ss = st.ss + BigDecimal(x) * x)
    }
    val (h, c) = closeHours(batch, st.curHour, st.curCount)(closeHour)
    state.update(st.copy(curHour = h, curCount = c))
    out.result().iterator
  }

  /** Running Holt state per event type: the (level, trend) pair, the
    * open hour's partial count, and whether the series has started.
    * O(1) per type at any stream length — the deployable form of
    * [[graft.operators.Events.holt]]. */
  case class HoltState(
      started: Boolean, l: Double, b: Double, curHour: Long, curCount: Long)

  /** One closed hour of the causal Holt path. */
  case class HoltPoint(event_type: String, hour: Long, n_events: Long,
      level: Double, trend: Double, forecast_err: Double)

  /** #32ee's streaming form: the CAUSAL trend-aware smoother. Each
    * closed hour (gap hours AFTER a type's first observed activity
    * close at zero; unlike the batch operator, which densifies every
    * type from the GLOBAL corpus-min hour, each type's series here
    * starts at its own first event — so batch-vs-stream row parity
    * holds only from a type's first activity on, not before it)
    * folds into the error-correction recurrence
    * the moment it closes — level, trend, and the one-step forecast
    * residual are known per hour AS THE STREAM RUNS, which is what a
    * residual-thresholding alert consumes. Exactly [[cusumAlarms]]'
    * state discipline (O(1) per type, open-hour partial count only,
    * late data dropped as the documented watermark-free trade) with
    * Holt's two-state recurrence in place of the CUSUM path; the spec
    * pins a driver-side causal fold row-for-row across micro-batch
    * splits. */
  def holtPoints(events: Dataset[Ev],
      alpha: Double = 0.25, beta: Double = 0.3): Dataset[HoltPoint] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.event_type)
      .flatMapGroupsWithState[HoltState, HoltPoint](
        OutputMode.Append(), GroupStateTimeout.NoTimeout())(
        holtGroup(alpha, beta))
  }

  /** Per-type transition: close every hour the batch's events step
    * past, folding each into the (level, trend) recurrence. */
  def holtGroup(alpha: Double, beta: Double)(
      eventType: String, batch: Iterator[Ev],
      state: GroupState[HoltState]): Iterator[HoltPoint] = {
    var st = state.getOption.getOrElse(
      HoltState(started = false, 0.0, 0.0, Long.MinValue, 0L))
    val out = Seq.newBuilder[HoltPoint]
    def r4(v: Double) =
      BigDecimal(v).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    def closeHour(h: Long, x: Long): Unit = {
      if (!st.started) {
        st = st.copy(started = true, l = x.toDouble, b = 0.0)
        out += HoltPoint(eventType, h, x, r4(st.l), r4(st.b), 0.0)
      } else {
        val f = st.l + st.b
        val e = x.toDouble - f
        st = st.copy(l = f + alpha * e, b = st.b + alpha * beta * e)
        out += HoltPoint(eventType, h, x, r4(st.l), r4(st.b), r4(e))
      }
    }
    val (h, c) = closeHours(batch, st.curHour, st.curCount)(closeHour)
    state.update(st.copy(curHour = h, curCount = c))
    out.result().iterator
  }

  /** The hour-closing loop of [[cusumGroup]] and [[holtGroup]]: walk a
    * type's batch in time order from the open hour `curHour` (partial
    * count `curCount`; `Long.MinValue` = none yet) and hand each hour
    * an event steps past to `closeHour(hour, count)` — the gap hours
    * in between close at zero. Returns the new open hour and its
    * partial count. */
  private def closeHours(batch: Iterator[Ev], curHour: Long, curCount: Long)(
      closeHour: (Long, Long) => Unit): (Long, Long) = {
    var hour = curHour
    var count = curCount
    batch.toSeq.sortBy(e => (tsUs(e.ts), e.event_id)).foreach { e =>
      val h = tsUs(e.ts) / graft.operators.Events.HourUs
      if (hour == Long.MinValue) { hour = h; count = 1L }
      else if (h == hour) count += 1L
      else if (h > hour) {
        closeHour(hour, count)
        var g = hour + 1
        while (g < h) { closeHour(g, 0L); g += 1 }
        hour = h; count = 1L
      }
      // h < hour (late data): a causal monitor cannot rewrite a closed
      // hour — dropped, the documented watermark-free trade.
    }
    (hour, count)
  }

  private val GapUs: Long = 30L * 60L * 1000000L

  private def tsUs(t: java.sql.Timestamp): Long =
    t.getTime * 1000L + (t.getNanos / 1000) % 1000

  private def toTs(us: Long): java.sql.Timestamp = {
    val t = new java.sql.Timestamp(us / 1000L)
    t.setNanos((us % 1000000L).toInt * 1000)
    t
  }

  /** Gap-based sessionizer over a typed event stream: emits a session
    * whenever a user's gap exceeds 30 minutes; the open tail session
    * stays in state until a later event (or batch-end flush in tests)
    * closes it. flatMapGroupsWithState = the Spark-native form of a
    * keyed state machine. */
  def sessionize(events: Dataset[Ev]): Dataset[Session] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append(), GroupStateTimeout.NoTimeout())(sessionizeGroup)
  }

  /** The NATIVE session aggregation: `session_window` + watermark —
    * the same construct (and therefore the same plan family) as the
    * batch [[graft.operators.Events.sessionizeNative]], which
    * delegates here so the two can never drift. Sessions close and
    * emit once the watermark passes; state is the merging per-session
    * aggregate, no custom state function. The SAME gap contract as
    * [[sessionize]] (an exact 30:00 gap MERGES — session_window splits
    * only on strictly-greater gaps, empirically pinned by the
    * reconciliation spec); the custom form stays for what the builtin
    * can't express (ordinal session numbering, emit-on-gap without a
    * watermark). Exact-decimal sum presentation via the shared
    * [[graft.functions.Exact]] helpers — one definition on purpose. */
  def sessionizeNativeStream(events: DataFrame): DataFrame =
    events
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("w"))
      .agg(
        min(col("ts")).as("session_start"),
        max(col("ts")).as("session_end"),
        count(lit(1)).as("n_events"),
        graft.functions.Exact.pres(dsum(col("value"), 2)).as("sum_value"))
      .select(col("user_id"), col("session_start"), col("session_end"),
        col("n_events"), col("sum_value"))

  /** Per-key state transition: fold this batch's (sorted) events into
    * the open session, emitting every session that closes. */
  def sessionizeGroup(
      userId: Long, batch: Iterator[Ev],
      state: GroupState[SessionState]): Iterator[Session] = {
    val sorted = batch.toSeq.sortBy(e => (tsUs(e.ts), e.event_id))
    var open = state.getOption
    val closed = Seq.newBuilder[Session]
    sorted.foreach { e =>
      val us = tsUs(e.ts)
      open match {
        case Some(s) if us - s.lastUs <= GapUs =>
          open = Some(SessionState(s.startUs, us, s.n + 1, s.sum + e.value))
        case Some(s) =>
          closed += Session(userId, toTs(s.startUs), toTs(s.lastUs), s.n, s.sum)
          open = Some(SessionState(us, us, 1L, e.value))
        case None =>
          open = Some(SessionState(us, us, 1L, e.value))
      }
    }
    open.foreach(state.update)
    closed.result().iterator
  }
}
