package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Events
import graft.sources.Tables
import graft.streaming.Streaming
import graft.streaming.Streaming.{Ev, Session}

/** Batch/stream parity (SURVEY.md §2.3 #33): the streaming pipelines run
  * over the sf0.001 events fed through a MemoryStream and must produce
  * exactly the batch answers.
  */
class StreamingSpec extends AnyFunSuite with StreamCheckpoints {
  import SparkTestSession._

  private def loadEvents(): Seq[Ev] = {
    Tables.events(spark, sf)
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"), col("value"))
      .collect()
      .map(r => Ev(r.getLong(0), r.getLong(1), r.getTimestamp(2), r.getString(3), r.getDouble(4)))
      .toSeq
  }

  test("streaming windowed agg (watermark + tumbling window) matches batch") {
    val sparkS = spark
    import sparkS.implicits._
    implicit val sqlCtx = spark.sqlContext

    val input = MemoryStream[Ev]
    val evs = loadEvents()
    input.addData(evs)

    val streamDf = Streaming.windowedAgg(input.toDF().withWatermark("ts", "2 hours"))

    val q = streamDf.writeStream
      .format("memory").queryName("win_agg")
      .outputMode("complete")
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpoint())
      .start()
    q.awaitTermination(120000)

    val got = spark.table("win_agg")
      .orderBy(col("window_start"), col("event_type"))
      .collect().map(_.toString)
    val want = Events.windowedAgg(spark, sf)
      .select(col("window_start"), col("event_type"), col("n_events"), col("sum_value"))
      .collect().map(_.toString)
    assert(got.sameElements(want),
      s"stream/batch mismatch: ${got.take(3).mkString} vs ${want.take(3).mkString}")
  }

  test("streaming create-only keeps the first cell per key across batches") {
    val sparkS = spark
    import sparkS.implicits._
    implicit val sqlCtx = spark.sqlContext

    val input = MemoryStream[Ev]
    input.addData(Seq(
      Ev(1L, 10L, new Timestamp(1000), "click", 1.0),
      Ev(2L, 11L, new Timestamp(2000), "click", 2.0)))
    input.addData(Seq(
      Ev(1L, 12L, new Timestamp(3000), "click", 99.0), // dup key, dropped
      Ev(1L, 13L, new Timestamp(4000), "buy", 3.0)))   // new column, kept

    val q = Streaming.createOnly(input.toDF()).writeStream
      .format("memory").queryName("create_only")
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpoint())
      .start()
    q.awaitTermination(120000)

    val got = spark.table("create_only").as[Ev].collect()
      .map(e => (e.user_id, e.event_type) -> e.value).toMap
    assert(got === Map((1L, "click") -> 1.0, (2L, "click") -> 2.0, (1L, "buy") -> 3.0))
  }

  test("streaming export: continuous create-only migration into a keyed target") {
    val sparkS = spark
    import sparkS.implicits._
    implicit val sqlCtx = spark.sqlContext

    val target = java.nio.file.Files.createTempDirectory("stream_export")
      .resolve("target").toString
    val input = MemoryStream[Ev]
    val cellStream = input.toDF()
      .selectExpr("CAST(user_id AS STRING) AS key", "value",
        "CAST(NULL AS BIGINT) AS expiry_us", "CAST(0 AS BIGINT) AS ttl_us")
    val (writer, stats) = Streaming.exportStream(cellStream, target)
    val q = writer.option("checkpointLocation", checkpoint()).start()
    // Two distinct micro-batches: the second re-offers an existing key.
    input.addData(Seq(
      Ev(1L, 10L, new Timestamp(1000), "click", 1.0),
      Ev(2L, 11L, new Timestamp(2000), "click", 2.0)))
    q.processAllAvailable()
    input.addData(Seq(
      Ev(1L, 12L, new Timestamp(3000), "click", 99.0), // key exists: skipped
      Ev(3L, 13L, new Timestamp(4000), "click", 3.0)))
    q.processAllAvailable()
    q.stop()

    val rows = spark.read.parquet(target)
      .collect().map(r => r.getAs[String]("key") -> r.getAs[Double]("value")).toMap
    assert(rows === Map("1" -> 1.0, "2" -> 2.0, "3" -> 3.0),
      s"create-only stream export wrote $rows")
    assert(stats.map(_.written).sum === 3)
    assert(stats.map(_.skippedExisting).sum === 1)
  }

  test("watermark-bounded stream dedup keeps first-arrival within the horizon") {
    val sparkS = spark
    import sparkS.implicits._
    implicit val sqlCtx = spark.sqlContext

    // The unbounded-ingest form of create-only: state for a key is
    // dropped once the watermark passes, so duplicates INSIDE the
    // horizon dedup while state stays O(watermark x rate).
    val input = MemoryStream[Ev]
    input.addData(Seq(
      Ev(1L, 10L, new Timestamp(1000), "click", 1.0),
      Ev(1L, 11L, new Timestamp(2000), "click", 99.0))) // dup within horizon
    val deduped = input.toDF()
      .withWatermark("ts", "10 seconds")
      .dropDuplicatesWithinWatermark("user_id", "event_type")
    val q = deduped.writeStream
      .format("memory").queryName("wm_dedup")
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpoint())
      .start()
    q.awaitTermination(120000)
    val got = spark.table("wm_dedup").as[Ev].collect()
    assert(got.length === 1 && got.head.value === 1.0,
      s"expected the first arrival to win within the watermark horizon: ${got.toSeq}")
  }

  test("watermarked stream-stream attribution join matches the batch interval join") {
    val sparkS = spark
    import sparkS.implicits._
    implicit val sqlCtx = spark.sqlContext

    val evs = loadEvents()
    val pIn = MemoryStream[Ev]
    val cIn = MemoryStream[Ev]
    pIn.addData(evs.filter(_.event_type == "purchase"))
    cIn.addData(evs.filter(_.event_type == "click"))

    def purchases(df: org.apache.spark.sql.DataFrame) =
      df.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id"), col("ts"))
    def clicks(df: org.apache.spark.sql.DataFrame) =
      df.filter(col("event_type") === "click")
        .select(col("user_id").as("c_user_id"), col("event_id").as("click_id"),
          col("ts").as("click_ts"))

    val joined = Streaming.attributionJoin(
      purchases(pIn.toDF().withWatermark("ts", "1 hour")),
      clicks(cIn.toDF()).withWatermark("click_ts", "1 hour"))
    val q = joined.writeStream
      .format("memory").queryName("attr_join")
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpoint())
      .start()
    q.awaitTermination(120000)

    val key = (r: org.apache.spark.sql.Row) =>
      (r.getLong(0), r.getLong(1), r.getLong(3))
    val got = spark.table("attr_join").collect().map(key).toSet
    val ev = Tables.events(spark, sf)
    val want = Streaming.attributionJoin(purchases(ev), clicks(ev))
      .collect().map(key).toSet
    assert(want.nonEmpty, "batch interval join should match some pairs")
    assert(got === want, s"stream/batch attribution mismatch: " +
      s"${(got -- want).take(3)} extra, ${(want -- got).take(3)} missing")
  }

  test("flatMapGroupsWithState sessionizer matches batch sessionize") {
    val sparkS = spark
    import sparkS.implicits._
    implicit val sqlCtx = spark.sqlContext

    val evs = loadEvents()
    val input = MemoryStream[Ev]
    input.addData(evs)
    // A far-future closer per user forces the open tail session of every
    // user to close, so the emitted set equals the batch session set.
    val maxUs = evs.map(e => e.ts.getTime).max
    val closers = evs.map(_.user_id).distinct.map(u =>
      Ev(u, Long.MaxValue, new Timestamp(maxUs + 24L * 3600 * 1000), "closer", 0.0))
    input.addData(closers)

    val q = Streaming.sessionize(input.toDS()).writeStream
      .format("memory").queryName("sessions")
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpoint())
      .start()
    q.awaitTermination(120000)

    val got = spark.table("sessions").as[Session].collect()
      .map(s => (s.user_id, s.session_start.getTime, s.session_end.getTime, s.n_events,
        BigDecimal(s.sum_value).setScale(2, BigDecimal.RoundingMode.HALF_UP)))
      .sortBy(t => (t._1, t._2))
    val want = Events.sessionize(spark, sf).collect()
      .map(r => (r.getLong(0), r.getTimestamp(2).getTime, r.getTimestamp(3).getTime,
        r.getLong(4), BigDecimal(r.getDouble(5)).setScale(2, BigDecimal.RoundingMode.HALF_UP)))
      .sortBy(t => (t._1, t._2))
    assert(got.length === want.length,
      s"session count mismatch: ${got.length} vs ${want.length}")
    got.zip(want).foreach { case (g, w) => assert(g === w) }
  }

  test("streaming windowed heavy hitters match batch counts when the universe fits") {
    val sparkS = spark
    import sparkS.implicits._
    implicit val sqlCtx = spark.sqlContext

    // Split the feed into three micro-batches: MG summaries merge
    // across state-store boundaries; with capacity >= the distinct
    // event-type universe no decrement ever fires, so the result is
    // the EXACT per-window multiset regardless of split or merge
    // order — byte-for-byte comparable to the batch counts.
    val evs = loadEvents()
    val chunks = evs.grouped(math.max(1, evs.length / 3 + 1)).toSeq

    val input = MemoryStream[Ev]
    val q = Streaming.topTypesStream(
      input.toDF().withWatermark("ts", "2 hours"), k = 32).writeStream
      .format("memory").queryName("top_types")
      .outputMode("complete")
      .option("checkpointLocation", checkpoint())
      .start()
    chunks.foreach { c => input.addData(c); q.processAllAvailable() }
    q.stop()

    val got = spark.table("top_types")
      .selectExpr("window_start", "inline(top)")
      .collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
    val want = Events.windowedAgg(spark, sf)
      .select(col("window_start"), col("event_type"), col("n_events"))
      .collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
    assert(got === want,
      s"per-window sketch counts must equal batch counts below capacity; " +
        s"missing=${(want -- got).take(3)} extra=${(got -- want).take(3)}")
    // Within each window the entries arrive sorted (count desc, item).
    spark.table("top_types").collect().foreach { r =>
      val entries = r.getSeq[org.apache.spark.sql.Row](1)
        .map(e => (e.getLong(1), e.getString(0)))
      assert(entries.sortBy { case (c, i) => (-c, i) } === entries)
    }
  }

  test("streaming zscore anomalies match a driver-side causal fold across batch splits") {
    val sparkS = spark
    import sparkS.implicits._
    implicit val sqlCtx = spark.sqlContext

    // Time-ordered feed, split mid-stream: the running moments must
    // carry across the micro-batch boundary.
    val evs = loadEvents().sortBy(e => (e.ts.getTime, e.event_id))
    val (a, b) = evs.splitAt(evs.length / 2)

    val input = MemoryStream[Ev]
    val q = Streaming.zscoreAnomalies(input.toDS()).writeStream
      .format("memory").queryName("zscore_anoms")
      .outputMode("append")
      .option("checkpointLocation", checkpoint())
      .start()
    input.addData(a); q.processAllAvailable()
    input.addData(b); q.processAllAvailable()
    q.stop()

    // Driver-side oracle: the same causal fold, same arithmetic.
    val want = evs.groupBy(_.event_type).toSeq.flatMap { case (t, es) =>
      var n = 0L; var s = 0L; var ss = BigInt(0)
      es.sortBy(e => (e.ts.getTime * 1000 + (e.ts.getNanos / 1000) % 1000,
        e.event_id)).flatMap { e =>
        val c = math.round(e.value * 100)
        val hit = if (n >= 30) {
          val mean = s.toDouble / n.toDouble
          val variance = ss.toDouble / n.toDouble - mean * mean
          if (variance > 0) {
            val z = (c.toDouble - mean) / math.sqrt(variance)
            if (math.abs(z) > 2.5)
              Some((e.event_id, t,
                BigDecimal(z).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble))
            else None
          } else None
        } else None
        n += 1; s += c; ss += BigInt(c) * BigInt(c)
        hit
      }
    }.sortBy(_._1)
    val got = spark.table("zscore_anoms")
      .select(col("event_id"), col("event_type"), col("zscore"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
      .sortBy(_._1).toSeq
    assert(got.nonEmpty, "the corpus should contain running-stat outliers")
    assert(got === want)
  }

  test("causal CUSUM stream matches a driver fold and catches a planted burst") {
    val sparkS = spark
    import sparkS.implicits._
    implicit val sqlCtx = spark.sqlContext

    // Time-ordered feed + a planted 60-event burst hour per the
    // 'click' type well past the corpus, then a closer per type so
    // every hour (including the burst) closes.
    val base = loadEvents().sortBy(e => (e.ts.getTime, e.event_id))
    val maxTs = base.map(_.ts.getTime).max
    val burstStart = (maxTs / 3600000L + 3) * 3600000L
    val burst = (0 until 60).map(i =>
      Ev(999000L + i, 9990000L + i, new Timestamp(burstStart + i * 1000L),
        "click", 1.0))
    val closers = (base.map(_.event_type).distinct :+ "click").distinct.map(t =>
      Ev(999999L, 9999999L, new Timestamp(burstStart + 48L * 3600 * 1000), t, 0.0))
    val all = (base ++ burst) ++ closers
    def us(t: Timestamp): Long = t.getTime * 1000L + (t.getNanos / 1000) % 1000

    val input = MemoryStream[Ev]
    val q = Streaming.cusumAlarms(input.toDS()).writeStream
      .format("memory").queryName("rate_alarms")
      .outputMode("append")
      .option("checkpointLocation", checkpoint())
      .start()
    // Three time-contiguous micro-batches + the closers: the state
    // machine's output must not depend on where the splits fall.
    all.grouped(math.max(1, all.length / 3 + 1)).foreach { c =>
      input.addData(c); q.processAllAvailable()
    }
    q.stop()

    // Driver fold of the same causal semantics over the same feed.
    val want = all.groupBy(_.event_type).toSeq.flatMap { case (tpe, evs) =>
      val sorted = evs.sortBy(e => (us(e.ts), e.event_id))
      var n = 0L; var sx = 0L; var ss = BigDecimal(0)
      var sp = 0.0; var sn = 0.0
      var curHour = Long.MinValue; var curCount = 0L
      val alarms = Seq.newBuilder[(String, Long, Long, Double, Double)]
      def close(h: Long, x: Long): Unit = {
        if (n >= 24) {
          val mean = sx.toDouble / n
          val std = math.sqrt(math.max(ss.toDouble / n - mean * mean, 0.0))
          val slack = 0.5 * std
          sp = math.max(0.0, sp + ((x.toDouble - mean) - slack))
          sn = math.max(0.0, sn + ((mean - x.toDouble) - slack))
          if (std > 0 && (sp > 4.0 * std || sn > 4.0 * std))
            alarms += ((tpe, h, x,
              BigDecimal(sp).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble,
              BigDecimal(sn).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble))
        }
        n += 1; sx += x; ss += BigDecimal(x) * x
      }
      sorted.foreach { e =>
        val h = us(e.ts) / (3600L * 1000000L)
        if (curHour == Long.MinValue) { curHour = h; curCount = 1L }
        else if (h == curHour) curCount += 1L
        else if (h > curHour) {
          close(curHour, curCount)
          var g = curHour + 1
          while (g < h) { close(g, 0L); g += 1 }
          curHour = h; curCount = 1L
        }
      }
      alarms.result()
    }.sortBy(t => (t._1, t._2))

    val got = spark.table("rate_alarms")
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4)))
      .sortBy(t => (t._1, t._2)).toSeq
    assert(got === want)
    assert(got.exists { case (t, h, x, _, _) =>
      t == "click" && x >= 60L }, s"planted burst hour must alarm: $got")
  }

  test("native session_window stream matches the batch native sessionizer") {
    val sparkS = spark
    import sparkS.implicits._
    implicit val sqlCtx = spark.sqlContext

    val input = MemoryStream[Ev]
    val evs = loadEvents()
    input.addData(evs)
    // A far-future flush event advances the watermark past every real
    // session so append mode emits them all; its own session is the
    // one row we exclude from the comparison.
    val maxTs = evs.map(_.ts.getTime).max
    val flush = Ev(-1L, -1L, new Timestamp(maxTs + 7L * 24 * 3600 * 1000),
      "flush", 0.0)

    val streamDf = Streaming.sessionizeNativeStream(
      input.toDF().withWatermark("ts", "1 hour"))
    val q = streamDf.writeStream
      .format("memory").queryName("native_sessions")
      .outputMode("append")
      .option("checkpointLocation", checkpoint())
      .start()
    q.processAllAvailable()
    input.addData(Seq(flush))
    q.processAllAvailable()
    q.stop()

    val got = spark.table("native_sessions")
      .where("user_id >= 0")
      .orderBy(col("user_id"), col("session_start"))
      .collect().map(_.toString).toSeq
    val want = Events.sessionizeNative(spark, sf)
      .collect().map(_.toString).toSeq
    assert(got === want,
      s"stream emitted ${got.size} sessions, batch ${want.size}")
  }

  test("stream dedup drops watermark-window replays exactly") {
    val sparkS = spark
    import sparkS.implicits._
    implicit val sqlCtx = spark.sqlContext

    val input = MemoryStream[Ev]
    val evs = loadEvents().take(500)
    // At-least-once ingest: every third event delivered twice, some
    // in the same batch, some replayed a batch later.
    val (replayNow, replayLater) =
      evs.zipWithIndex.filter(_._2 % 3 == 0).map(_._1).splitAt(80)
    input.addData(evs ++ replayNow)
    val streamDf = Streaming.dedupStream(
      input.toDF().withWatermark("ts", "2 hours"))
    val q = streamDf.writeStream
      .format("memory").queryName("dedup_stream")
      .outputMode("append")
      .option("checkpointLocation", checkpoint())
      .start()
    q.processAllAvailable()
    input.addData(replayLater)
    q.processAllAvailable()
    q.stop()

    val got = spark.table("dedup_stream").collect()
    assert(got.length === evs.length,
      s"each event_id must survive exactly once: ${got.length} vs ${evs.length}")
    val gotIds = got.map(_.getAs[Long]("event_id")).sorted.toSeq
    assert(gotIds === evs.map(_.event_id).sorted,
      "the surviving set must be exactly the distinct ingest set")
  }

  test("causal Holt stream matches a driver fold across micro-batch splits; ramp residual vanishes") {
    val sparkS = spark
    import sparkS.implicits._
    implicit val sqlCtx = spark.sqlContext

    // Time-ordered feed + a planted 48-hour RAMP (5·k events in hour k)
    // for the 'click' type past the corpus, then closers so every hour
    // closes. A trend-aware smoother must ride the ramp: its residual
    // on the LAST ramp hours must be far below the per-hour increment.
    val base = loadEvents().sortBy(e => (e.ts.getTime, e.event_id))
    val maxTs = base.map(_.ts.getTime).max
    val rampStart = (maxTs / 3600000L + 3) * 3600000L
    val ramp = (1 to 48).flatMap { k =>
      (0 until 5 * k).map(i =>
        Ev(990000L + k * 1000L + i, 9900000L + k * 1000L + i,
          new Timestamp(rampStart + (k - 1) * 3600000L + i * 10L), "click", 1.0))
    }
    val closers = (base.map(_.event_type).distinct :+ "click").distinct.map(t =>
      Ev(999999L, 9999999L, new Timestamp(rampStart + 96L * 3600 * 1000), t, 0.0))
    val all = (base ++ ramp) ++ closers
    def us(t: Timestamp): Long = t.getTime * 1000L + (t.getNanos / 1000) % 1000

    val input = MemoryStream[Ev]
    val q = Streaming.holtPoints(input.toDS()).writeStream
      .format("memory").queryName("holt_points")
      .outputMode("append")
      .option("checkpointLocation", checkpoint())
      .start()
    all.grouped(math.max(1, all.length / 3 + 1)).foreach { c =>
      input.addData(c); q.processAllAvailable()
    }
    q.stop()

    // Driver fold of the same causal semantics over the same feed.
    val (alpha, beta) = (0.25, 0.3)
    def r4(v: Double) =
      BigDecimal(v).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val want = all.groupBy(_.event_type).toSeq.flatMap { case (tpe, evs) =>
      val sorted = evs.sortBy(e => (us(e.ts), e.event_id))
      var started = false; var l = 0.0; var b = 0.0
      var curHour = Long.MinValue; var curCount = 0L
      val pts = Seq.newBuilder[(String, Long, Long, Double, Double, Double)]
      def close(h: Long, x: Long): Unit = {
        if (!started) { started = true; l = x.toDouble; b = 0.0
          pts += ((tpe, h, x, r4(l), r4(b), 0.0))
        } else {
          val f = l + b; val e = x.toDouble - f
          l = f + alpha * e; b = b + alpha * beta * e
          pts += ((tpe, h, x, r4(l), r4(b), r4(e)))
        }
      }
      sorted.foreach { e =>
        val h = us(e.ts) / (3600L * 1000000L)
        if (curHour == Long.MinValue) { curHour = h; curCount = 1L }
        else if (h == curHour) curCount += 1L
        else if (h > curHour) {
          close(curHour, curCount)
          var g = curHour + 1
          while (g < h) { close(g, 0L); g += 1 }
          curHour = h; curCount = 1L
        }
      }
      pts.result()
    }.sortBy(t => (t._1, t._2))

    val got = spark.table("holt_points")
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5)))
      .sortBy(t => (t._1, t._2)).toSeq
    assert(got === want, s"stream must equal the causal fold row-for-row")
    // Trend-awareness on the planted ramp: by its tail the trend has
    // converged near the +5/hour slope and the residual is small
    // relative to the increment (EWMA's residual would sit near +5·lag).
    val tail = got.filter { case (t, h, _, _, _, _) =>
      t == "click" && h >= rampStart / 3600000L + 40 &&
        h < rampStart / 3600000L + 48 }
    assert(tail.nonEmpty)
    tail.foreach { case (_, h, _, _, trend, err) =>
      assert(math.abs(trend - 5.0) < 1.0, s"trend off the ramp slope at $h: $trend")
      assert(math.abs(err) < 2.0, s"ramp residual must be small at $h: $err")
    }
  }

  test("exact 30:00 gap merges, 30:00.000001 splits — in all three sessionizer forms") {
    // The gap contract all parity specs rest on, pinned with PLANTED
    // boundary gaps (the real corpus has microsecond-resolution
    // timestamps that essentially never land exactly on 1800.000000 s,
    // so the row-for-row parity tests alone would keep passing if a
    // Spark upgrade flipped session_window's inclusive-merge rule):
    //  user 1: gap EXACTLY 1800.000000 s  -> one session everywhere
    //  user 2: gap 1800.000001 s          -> two sessions everywhere
    val sparkS = spark
    import sparkS.implicits._
    implicit val sqlCtx = spark.sqlContext

    val t0 = Timestamp.valueOf("2026-01-05 00:00:00")
    val exactEnd = new Timestamp(t0.getTime + 1800L * 1000)
    val overEnd = new Timestamp(t0.getTime + 1800L * 1000)
    overEnd.setNanos(1000) // +1 microsecond past the exact gap
    val evs = Seq(
      Ev(1L, 10L, t0, "view", 1.0), Ev(1L, 11L, exactEnd, "view", 1.0),
      Ev(2L, 20L, t0, "view", 1.0), Ev(2L, 21L, overEnd, "view", 1.0))
    val df = evs.toDF()

    def sessionsPerUser(rows: Array[org.apache.spark.sql.Row]): Map[Long, Int] =
      rows.groupBy(_.getAs[Long]("user_id")).map { case (u, rs) => u -> rs.length }

    // (1) lag sessionizer
    val lagged = Events.sessionized(df, gapMinutes = 30)
      .groupBy(col("user_id"), col("session_seq"))
      .agg(count(lit(1)).as("n")).collect()
    assert(sessionsPerUser(lagged) === Map(1L -> 1, 2L -> 2),
      s"lag sessionizer gap boundary: ${lagged.toSeq}")

    // (2) batch session_window
    val native = Streaming.sessionizeNativeStream(df).collect()
    assert(sessionsPerUser(native) === Map(1L -> 1, 2L -> 2),
      s"batch session_window gap boundary: ${native.toSeq}")
    // The merged session must span both events; the split ones one each.
    val merged = native.filter(_.getAs[Long]("user_id") == 1L)
    assert(merged.head.getAs[Long]("n_events") === 2L)

    // (3) streaming session_window
    val input = MemoryStream[Ev]
    input.addData(evs)
    val flush = Ev(-1L, -1L,
      new Timestamp(t0.getTime + 30L * 24 * 3600 * 1000), "flush", 0.0)
    val q = Streaming.sessionizeNativeStream(
        input.toDF().withWatermark("ts", "1 hour"))
      .writeStream.format("memory").queryName("gap_boundary_sessions")
      .outputMode("append").option("checkpointLocation", checkpoint()).start()
    q.processAllAvailable()
    input.addData(Seq(flush))
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("gap_boundary_sessions")
      .where("user_id >= 0").collect()
    assert(sessionsPerUser(streamed) === Map(1L -> 1, 2L -> 2),
      s"streaming session_window gap boundary: ${streamed.toSeq}")
  }
}
