package graft.tools

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.streaming.Streaming
import graft.streaming.Streaming.Ev

/** Streaming-pipeline throughput measurement for the per-round
  * [[graft.Bench]] artifact (VERDICT r11 #5): §2.3 #33 was the one
  * component family with parity specs but no tracked perf number —
  * a state-store regression (a sessionizer that stopped evicting, a
  * monitor whose state went super-constant) would have shipped
  * silently. One `streaming_throughput` row rides the same min-of-3 /
  * regression machinery as every query, and (r13, VERDICT r12 #1) a
  * per-stage decomposition beside it attributes where the time goes.
  *
  * What is measured: a fixed synthetic event set drained through the
  * two stateful shapes the engine deploys —
  *  - the INGEST pipeline: watermark → exactly-once dedup
  *    (`dropDuplicatesWithinWatermark`) → native `session_window`
  *    aggregation (two chained state stores, the append-mode
  *    multi-stateful plan), and
  *  - the CAUSAL MONITOR: the per-type z-score
  *    `flatMapGroupsWithState` detector (O(1) state per key) —
  * both fed from ONE MemoryStream in `chunks` micro-batches and
  * drained to the no-op sink, so the number is state-machinery
  * events/s, not sink cost. Event time advances monotonically with a
  * 3-hour jump every 20 rounds, so watermarks move, sessions
  * genuinely close, and dedup state is evicted — a drain that never
  * evicts would measure a pipeline no deployment runs.
  *
  * Measurement configuration (r13 — each choice isolates the state
  * machinery from environment overheads a deployment would not pay):
  *  - CHECKPOINTS ON TMPFS (`/dev/shm` when present): the default
  *    temp checkpoint landed on `/tmp`'s block device, so every
  *    micro-batch paid per-partition delta-file fsyncs to disk —
  *    ~35% of the r12 drain was local-disk I/O a production
  *    DFS-backed checkpoint does asynchronously.
  *  - NO-DATA MICRO-BATCHES OFF during the drain: the
  *    watermark-advance triggers doubled the commit count at zero
  *    event work (17 vs 8 batches for the dedup stage alone). A
  *    THROUGHPUT number models sustained load, where idle triggers
  *    do not occur; eviction is still exercised because each later
  *    DATA batch advances the watermark (the fixture's time jumps).
  *  - 8 shuffle partitions (restored after): every state store
  *    commits a checkpoint delta per micro-batch, so at the bench
  *    session's 32 partitions the drain measured 32 × chunks ×
  *    stores commit writes, not event processing.
  *
  * Determinism: the event set is a pure function of `n` (fixed base
  * timestamp, arithmetic values, ~2% planted event_id replays for the
  * dedup stage to drop), so a time regression IS a throughput
  * regression, exactly the sstable rows' contract.
  */
object StreamingThroughput {

  private val BaseMs = Timestamp.valueOf("2024-01-01 00:00:00").getTime
  private val Types = Array("view", "click", "purchase", "refund")
  private val Users = 2000

  /** The stateful-shuffle partition count of every drain. */
  private val Partitions = 8

  /** The fixed event set: `n` events over 2,000 users in event-time
    * order; every 50th event replays the previous event_id (the
    * at-least-once duplicate the dedup stage exists to drop). */
  def synthEvents(n: Int): Seq[Ev] = {
    (0 until n).map { i =>
      val round = i / Users
      val user = i % Users
      // 5-minute cadence inside a block of 20 rounds, then a 3-hour
      // jump: closes every open session (30-min gap) and advances the
      // watermark past the dedup horizon.
      val tsMs = BaseMs + (round % 20).toLong * 300000L +
        (round / 20).toLong * 10800000L
      val eventId = if (i % 50 == 0 && i > 0) (i - 1).toLong else i.toLong
      Ev(user.toLong, eventId, new Timestamp(tsMs),
        Types(i % Types.length), ((i * 31) % 1000) / 10.0)
    }
  }

  /** Per-drain measurement: wall seconds plus the attribution pulled
    * from [[org.apache.spark.sql.streaming.StreamingQueryProgress]] —
    * micro-batch count and the summed per-batch durations that tell
    * fixed machinery (addBatch includes planning + job launch; WAL
    * commits) apart from state-store work (commit/update times summed
    * across operators and partitions, so they can exceed wall time). */
  case class DrainStats(
      secs: Double, batches: Int, addBatchMs: Long, walCommitMs: Long,
      stateCommitMs: Long, stateUpdateMs: Long)

  /** The ingest pipeline under measurement (dedup → session_window). */
  private def ingestPipeline(input: MemoryStream[Ev]): DataFrame =
    Streaming.sessionizeNativeStream(
      Streaming.dedupStream(input.toDF().withWatermark("ts", "1 hour")))

  /** The causal-monitor pipeline under measurement. */
  private def monitorPipeline(
      spark: SparkSession, input: MemoryStream[Ev]): DataFrame = {
    import spark.implicits._
    Streaming.zscoreAnomalies(input.toDS()).toDF()
  }

  /** Stateless control: watermark + projection through the identical
    * MemoryStream → micro-batch → noop machinery, with NO state store
    * — the drain's fixed-cost floor. */
  private def machineryPipeline(input: MemoryStream[Ev]): DataFrame =
    input.toDF().withWatermark("ts", "1 hour")
      .select(org.apache.spark.sql.functions.col("user_id"))

  /** tmpfs checkpoint root when the platform has one (falls back to
    * the JVM temp dir — same behavior as the default temp checkpoint,
    * minus the fsync-heavy device only when shm exists). */
  private def ckptRoot(): java.nio.file.Path = {
    val shm = java.nio.file.Paths.get("/dev/shm")
    val base =
      if (java.nio.file.Files.isDirectory(shm) &&
          java.nio.file.Files.isWritable(shm)) shm
      else java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))
    java.nio.file.Files.createTempDirectory(base, "graft-stream-ck-")
  }

  private def deleteRecursively(p: java.nio.file.Path): Unit = {
    import scala.jdk.CollectionConverters._
    if (java.nio.file.Files.exists(p)) {
      java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverseIterator
        .foreach(f => scala.util.Try(java.nio.file.Files.deleteIfExists(f)))
    }
  }

  /** One timed drain of `evs` through the given pipelines (all fed
    * from one MemoryStream, each to its own noop sink); returns the
    * per-query [[DrainStats]] in pipeline order. Fresh streams and
    * state stores per call so min-of-N attempts are independent
    * measurements, not cache reads. All queries start inside the try
    * that stops them: if a later start throws, earlier queries (and
    * their state stores) must not leak into the bench session
    * (ADVICE r12). */
  private def drain(
      spark: SparkSession, evs: Seq[Ev], chunks: Int,
      pipelines: Seq[MemoryStream[Ev] => DataFrame]): Seq[DrainStats] = {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val shuffleKey = "spark.sql.shuffle.partitions"
    val noDataKey = "spark.sql.streaming.noDataMicroBatches.enabled"
    val priorParts = spark.conf.get(shuffleKey)
    val priorNoData = spark.conf.get(noDataKey)
    spark.conf.set(shuffleKey, Partitions.toString)
    spark.conf.set(noDataKey, "false")
    val ck = ckptRoot()
    try {
      val input = MemoryStream[Ev]
      val queries = scala.collection.mutable.ArrayBuffer
        .empty[org.apache.spark.sql.streaming.StreamingQuery]
      try {
        pipelines.zipWithIndex.foreach { case (mk, i) =>
          queries += mk(input).writeStream.format("noop")
            .outputMode("append")
            .option("checkpointLocation", ck.resolve(s"q$i").toString)
            .start()
        }
        val per = math.max(1, (evs.size + chunks - 1) / chunks)
        val t0 = System.nanoTime()
        evs.grouped(per).foreach { c =>
          input.addData(c)
          queries.foreach(_.processAllAvailable())
        }
        // The timed window includes the stops (stop cost is part of a
        // drain); the outer finally's re-stop is then a no-op.
        queries.foreach(_.stop())
        val secs = (System.nanoTime() - t0) / 1e9
        queries.toSeq.map { q =>
          val prog = q.recentProgress
          def dur(k: String): Long = prog.map(p =>
            Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)).sum
          DrainStats(secs, prog.length, dur("addBatch"), dur("walCommit"),
            prog.flatMap(_.stateOperators).map(_.commitTimeMs).sum,
            prog.flatMap(_.stateOperators).map(_.allUpdatesTimeMs).sum)
        }
      } finally queries.foreach(q => scala.util.Try(q.stop()))
    } finally {
      spark.conf.set(shuffleKey, priorParts)
      spark.conf.set(noDataKey, priorNoData)
      // Unload every state-store provider this drain loaded: a
      // provider left in StateStore's cache keeps its background
      // maintenance work alive against the checkpoint deleted below.
      // The next drain's first store access restarts the maintenance
      // task.
      scala.util.Try(
        org.apache.spark.sql.execution.streaming.state.StateStore.stop())
      deleteRecursively(ck)
    }
  }

  /** The headline drain: both deployed pipelines together; returns
    * wall seconds (the `streaming_throughput` bench row). */
  def measureOnce(spark: SparkSession, evs: Seq[Ev], chunks: Int = 8): Double =
    drain(spark, evs, chunks,
      Seq(ingestPipeline, in => monitorPipeline(spark, in))).head.secs

  /** The attribution pass (VERDICT r12 #1): each stage drained alone
    * over the same event set, so the artifact splits micro-batch
    * fixed cost (`machinery` — stateless control) from each stateful
    * increment (dedup; dedup+session_window; the z-score monitor),
    * with per-batch progress metrics per stage. One drain per stage
    * (attribution, not a regression row — the headline row keeps
    * min-of-3). */
  def measureStages(
      spark: SparkSession, evs: Seq[Ev], chunks: Int = 8): Seq[(String, DrainStats)] = {
    def one(name: String, mk: MemoryStream[Ev] => DataFrame) =
      name -> drain(spark, evs, chunks, Seq(mk)).head
    Seq(
      one("machinery", machineryPipeline),
      one("dedup", in =>
        Streaming.dedupStream(in.toDF().withWatermark("ts", "1 hour"))),
      one("ingest", ingestPipeline),
      one("monitor", in => monitorPipeline(spark, in)))
  }

  /** Fixed-cost slope: the combined drain at a second chunk count.
    * With total events fixed, wall time is ≈ a + b·chunks (b = the
    * per-micro-batch fixed cost, a = the event-proportional work);
    * two points pin both. Published so "the ceiling is micro-batch
    * fixed cost" is a measured claim, not prose. */
  def sweepPoint(spark: SparkSession, evs: Seq[Ev], chunks: Int): Double =
    drain(spark, evs, chunks,
      Seq(ingestPipeline, in => monitorPipeline(spark, in))).head.secs
}
