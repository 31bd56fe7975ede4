package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sinks.KeyedSink
import graft.sinks.KeyedSink.{TtlPolicy, WriteStats}

/** The create-only keyed sink contract (reference: AerospikeWriter's
  * AS_POLICY_EXISTS_CREATE + TTL flags + end-of-run stats).
  */
class KeyedSinkSpec extends AnyFunSuite with StreamCheckpoints {
  import SparkTestSession._

  private def freshDir(): String =
    Files.createTempDirectory("keyed_sink").resolve("target").toString

  private def mkDf(rows: (String, Long, java.lang.Long, Long)*) = {
    val sparkS = spark
    import sparkS.implicits._
    rows.toSeq.toDF("key", "value", "expiry_us", "ttl_us")
  }

  test("first write creates, second write skips existing keys") {
    val target = freshDir()
    val s1 = KeyedSink.createOnlyAppend(spark, mkDf(
      ("a", 1L, null, 0L), ("b", 2L, null, 0L)), target)
    assert(s1 === WriteStats(2, 2, 0, 0))

    val s2 = KeyedSink.createOnlyAppend(spark, mkDf(
      ("b", 99L, null, 0L), ("c", 3L, null, 0L)), target)
    assert(s2 === WriteStats(2, 1, 1, 0))

    // b kept its ORIGINAL value (create-only, never update).
    val b = spark.read.parquet(target).filter(col("key") === "b")
      .select("value").collect().map(_.getLong(0)).toSeq
    assert(b === Seq(2L))
    assert(spark.read.parquet(target).count() === 3)
  }

  test("TTL policy: expired and below-min-TTL rows are dropped and counted") {
    val target = freshDir()
    val now = 1000000L
    val policy = TtlPolicy(minTtlUs = 50L, nowUs = now)
    val s = KeyedSink.createOnlyAppend(spark, mkDf(
      ("a", 1L, now + 100L, 100L),   // live
      ("b", 2L, now - 1L, 100L),     // expired
      ("c", 3L, now + 100L, 10L),    // ttl below minimum
      ("d", 4L, null, 0L)),          // eternal, allowed
      target, Some(policy))
    assert(s === WriteStats(4, 2, 0, 2))
    val keys = spark.read.parquet(target).select("key")
      .collect().map(_.getString(0)).sorted.toSeq
    assert(keys === Seq("a", "d"))
  }

  test("prohibit-eternal drops null-expiry rows") {
    val target = freshDir()
    val policy = TtlPolicy(prohibitEternal = true, nowUs = 0L)
    val s = KeyedSink.createOnlyAppend(spark, mkDf(
      ("a", 1L, 100L, 100L), ("b", 2L, null, 0L)), target, Some(policy))
    assert(s === WriteStats(2, 1, 0, 1))
  }

  test("record TTL from first expiring cell kills the whole key group") {
    val target = freshDir()
    val now = 1000L
    val policy = TtlPolicy(recordTtlFromFirst = true, nowUs = now)
    val s = KeyedSink.createOnlyAppend(spark, mkDf(
      ("a", 1L, now + 10L, 10L), ("a", 2L, now - 1L, 10L), // one dead cell kills 'a'
      ("b", 3L, now + 10L, 10L), ("b", 4L, now + 20L, 10L)), // all live
      target, Some(policy))
    assert(s.written === 2 && s.expired === 2)
    val keys = spark.read.parquet(target).select("key")
      .collect().map(_.getString(0)).distinct.toSeq
    assert(keys === Seq("b"))
  }

  test("rerunning the same export is idempotent") {
    val target = freshDir()
    val df = mkDf(("a", 1L, null, 0L), ("b", 2L, null, 0L))
    KeyedSink.createOnlyAppend(spark, df, target)
    val s2 = KeyedSink.createOnlyAppend(spark, df, target)
    assert(s2 === WriteStats(2, 0, 2, 0))
    assert(spark.read.parquet(target).count() === 2)
  }

  test("pluggable writer: store-enforced create-only and per-partition accounting") {
    KeyedSinkSpec.store.clear()
    KeyedSinkSpec.attempts.clear()
    KeyedSinkSpec.store.put("b", 99L) // pre-existing key in the live store
    val s = KeyedSink.createOnlyForeach(spark,
      mkDf(("a", 1L, null, 0L), ("b", 2L, null, 0L), ("c", 3L, null, 0L)),
      new KeyedSinkSpec.MemoryStoreWriter(failKeysFirstN = Map.empty))
    assert(s === WriteStats(3, 2, 1, 0))
    assert(KeyedSinkSpec.store.get("b").contains(99L), "create-only: b never updated")
    assert(KeyedSinkSpec.store.get("a").contains(1L))
    assert(KeyedSinkSpec.store.get("c").contains(3L))
  }

  test("fault-injecting writer: transient failures are retried, exhausted ones counted failed") {
    KeyedSinkSpec.store.clear()
    KeyedSinkSpec.attempts.clear()
    // "a" fails once then succeeds (1 retry, then written); "b" fails
    // forever (maxRetries=2 → 2 retries, then failed); "c" is clean.
    val s = KeyedSink.createOnlyForeach(spark,
      mkDf(("a", 1L, null, 0L), ("b", 2L, null, 0L), ("c", 3L, null, 0L)),
      new KeyedSinkSpec.MemoryStoreWriter(
        failKeysFirstN = Map("a" -> 1, "b" -> Int.MaxValue)))
    assert(s === WriteStats(3, 2, 0, 0, failed = 1, retried = 3))
    assert(KeyedSinkSpec.store.contains("a") && KeyedSinkSpec.store.contains("c"))
    assert(!KeyedSinkSpec.store.contains("b"), "an exhausted record must not land")
  }

  test("a malformed row (expiry set, ttl null) counts as policy-dropped in both sinks, never NPEs") {
    val sparkS = spark
    import sparkS.implicits._
    val now = 1000000L
    // (key, value, expiry_us, ttl_us) with ttl_us NULL on 'b' — the
    // cellLive predicate evaluates to SQL NULL there.
    val df = Seq(
      ("a", 1L, java.lang.Long.valueOf(now + 100L), java.lang.Long.valueOf(100L)),
      ("b", 2L, java.lang.Long.valueOf(now + 100L), null.asInstanceOf[java.lang.Long]))
      .toDF("key", "value", "expiry_us", "ttl_us")
    val policy = Some(TtlPolicy(minTtlUs = 50L, nowUs = now))
    val target = freshDir()
    val sParquet = KeyedSink.createOnlyAppend(spark, df, target, policy)
    assert(sParquet === WriteStats(2, 1, 0, 1), s"parquet path: $sParquet")
    KeyedSinkSpec.store.clear(); KeyedSinkSpec.attempts.clear()
    val sForeach = KeyedSink.createOnlyForeach(spark, df,
      new KeyedSinkSpec.MemoryStoreWriter(failKeysFirstN = Map.empty), policy)
    assert(sForeach === WriteStats(2, 1, 0, 1), s"foreach path: $sForeach")
    assert(KeyedSinkSpec.store.keySet === Set("a"))
  }

  test("pluggable writer honors the TTL policy and pre-flight key set") {
    KeyedSinkSpec.store.clear()
    KeyedSinkSpec.attempts.clear()
    val now = 1000000L
    val existing = mkDf(("c", 0L, null, 0L)).select(col("key"))
    val s = KeyedSink.createOnlyForeach(spark,
      mkDf(("a", 1L, now + 100L, 100L), ("b", 2L, now - 1L, 100L), ("c", 3L, now + 100L, 100L)),
      new KeyedSinkSpec.MemoryStoreWriter(failKeysFirstN = Map.empty),
      policy = Some(TtlPolicy(nowUs = now)),
      existingKeys = Some(existing))
    assert(s === WriteStats(3, 1, 1, 1))
    assert(KeyedSinkSpec.store.keySet === Set("a"),
      "expired and pre-flight-existing rows never reach the writer")
  }

  test("keyed_export bench fixture: planted accounting lands exactly where constructed") {
    // The bench row's synthetic export (tools/KeyedExportThroughput)
    // must route every planted class to the right counter, or the
    // published rows/s measures a different pipeline than claimed.
    val n = 100000
    val recs = graft.tools.KeyedExportThroughput.synthRecords(spark, n)
    val ex = graft.tools.KeyedExportThroughput.existingKeys(spark, n)
    val (secs, stats) = graft.tools.KeyedExportThroughput.measureOnce(spark, recs, ex)
    assert(secs > 0.0)
    assert(stats.incoming === n.toLong)
    // Expired: ids %20==0 (already past now) plus %50==0-not-%20
    // (eternal under prohibitEternal): n/20 + (n/50 - n/100).
    assert(stats.expired === (n / 20 + n / 50 - n / 100).toLong)
    // Existing: every 10th key, minus those already dropped by policy
    // (%20 and %50 are both subsets of %10 here).
    assert(stats.skippedExisting ===
      (n / 10 - (n / 20 + n / 50 - n / 100)).toLong)
    assert(stats.written ===
      n.toLong - stats.expired - stats.skippedExisting)
    // Planted transient failures: ids ≡ 1 (mod 5000), each retried
    // exactly once, none exhausted.
    assert(stats.retried === (n / 5000).toLong)
    assert(stats.failed === 0L)
  }

  test("streaming export accumulates across micro-batches and matches the batch path") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val sparkS = spark
    import sparkS.implicits._
    implicit val sqlCtx = spark.sqlContext
    val now = 1000000L
    val batch1 = Seq(
      KeyedSinkSpec.Rec("a", 1L, None, 0L),               // clean
      KeyedSinkSpec.Rec("b", 2L, None, 0L),               // fails once, retried, lands
      KeyedSinkSpec.Rec("e", 5L, Some(now - 1L), 100L))   // expired
    val batch2 = Seq(
      KeyedSinkSpec.Rec("a", 9L, None, 0L),               // cross-batch re-offer -> exists
      KeyedSinkSpec.Rec("c", 3L, None, 0L),               // clean
      KeyedSinkSpec.Rec("f", 6L, None, 0L),               // fails forever -> failed
      KeyedSinkSpec.Rec("g", 7L, Some(now - 5L), 100L))   // expired
    val inject = Map("b" -> 1, "f" -> Int.MaxValue)
    val policy = Some(TtlPolicy(nowUs = now))
    val want = WriteStats(7, 3, 1, 2, failed = 1, retried = 3)

    // Stream: two real micro-batches through foreachBatch.
    KeyedSinkSpec.store.clear(); KeyedSinkSpec.attempts.clear()
    val input = MemoryStream[KeyedSinkSpec.Rec]
    val streamingExport = new KeyedSink.StreamingExport(
      new KeyedSinkSpec.MemoryStoreWriter(failKeysFirstN = inject), policy)
    val q = input.toDF().writeStream.foreachBatch(streamingExport.writeBatch _)
      .option("checkpointLocation", checkpoint()).start()
    input.addData(batch1); q.processAllAvailable()
    input.addData(batch2); q.processAllAvailable()
    q.stop()
    assert(streamingExport.stats === want, s"streamed totals: ${streamingExport.stats}")
    assert(KeyedSinkSpec.store.get("a").contains(1L),
      "cross-batch create-only: the batch-1 value survives the batch-2 re-offer")
    assert(KeyedSinkSpec.store.keySet === Set("a", "b", "c"))

    // Batch path over the SAME data against a fresh store: identical totals.
    KeyedSinkSpec.store.clear(); KeyedSinkSpec.attempts.clear()
    val s = KeyedSink.createOnlyForeach(spark, (batch1 ++ batch2).toDF(),
      new KeyedSinkSpec.MemoryStoreWriter(failKeysFirstN = inject), policy)
    assert(s === want, s"batch totals: $s")
    assert(KeyedSinkSpec.store.keySet === Set("a", "b", "c"))
  }
}

/** Executor-side state for the pluggable-writer tests. Static (per-JVM)
  * maps stand in for the external store — valid in local mode, where
  * every partition shares the JVM. */
object KeyedSinkSpec {
  import scala.collection.concurrent.TrieMap

  /** Typed record for the MemoryStream in the streaming-export spec. */
  case class Rec(key: String, value: Long, expiry_us: Option[Long], ttl_us: Long)
  val store: TrieMap[String, Long] = TrieMap.empty
  val attempts: TrieMap[String, Int] = TrieMap.empty

  /** In-memory KV store writer with native create-only semantics and
    * injectable transient failures (fail the first N attempts per key). */
  class MemoryStoreWriter(failKeysFirstN: Map[String, Int])
      extends graft.sinks.KeyedWriter {
    override def write(row: org.apache.spark.sql.Row)
        : graft.sinks.KeyedWriter.Outcome = {
      val key = row.getString(row.fieldIndex("key"))
      val n = attempts.updateWith(key) { c => Some(c.getOrElse(0) + 1) }.get
      if (n <= failKeysFirstN.getOrElse(key, 0)) graft.sinks.KeyedWriter.Failed
      else if (store.putIfAbsent(key, row.getLong(row.fieldIndex("value"))).isDefined)
        graft.sinks.KeyedWriter.AlreadyExists
      else graft.sinks.KeyedWriter.Written
    }
  }
}
