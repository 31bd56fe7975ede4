package graft.functions

import java.util.concurrent.{ConcurrentHashMap, ExecutionException, FutureTask}

import scala.annotation.tailrec
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.classic.ClassicConversions.castToImpl
import org.apache.spark.sql.execution.LogicalRDD

/** The session memo: the one place graft reuses work across queries of
  * a driver session. A value is anything an operator derives from a
  * corpus directory — a `localCheckpoint()`ed frame (the exact dedup
  * pair set, the token-count table), a driver-side model (the PCA fit,
  * the BPE merge table), or the handle of a persisted index.
  *
  * REUSE CONTRACT:
  *  - What is reused: the value `build` returned for the same
  *    (instance, dir, variant) in the same session. `build` must be a
  *    function of the data files under `dir` and of `variant` alone;
  *    `variant` names every other input (k, nMerges, a derived frame).
  *  - The key is content: (instance, dir, variant, fingerprint), where
  *    the fingerprint is the (path, length, mtime) list of the data
  *    files under `dir` ([[graft.sources.Tables.dataFiles]] — a
  *    driver-side metadata listing, no Spark job), taken on EVERY
  *    lookup. A session whose corpus files are rewritten rebuilds
  *    instead of returning the old answer.
  *  - An entry is dropped, and a frame's checkpoint blocks unpersisted,
  *    when a lookup sees a different fingerprint, when the session's
  *    application ends, or on explicit request ([[SessionScopedCache.unpersist]],
  *    [[SessionScopedCache.evictToCap]], [[SessionScopedCache.unpersistAll]]).
  *    A build that throws leaves no entry.
  *
  * BUILDS: one per key, also under concurrent callers, and counted in
  * [[DriverMemo]] at the real miss. The build runs on the first
  * caller's thread behind a per-key FutureTask — never inside the map's
  * own compute — so a build may look up other keys of the same
  * instance (the phash clusters build reads the phash pairs entry).
  *
  * METADATA LOOKUPS: an instance made with `countsAsBuild = false`
  * memoizes a metadata read, not a pipeline. The one such instance is
  * [[graft.sources.Tables]]' `tables.schema`: one Parquet schema per
  * table path, keyed by that table's own files, so rewriting one table
  * re-infers only that table's schema. Its misses are not builds: they
  * add nothing to [[DriverMemo]] or to [[SessionScopedCache.retainedEntries]],
  * so a bench attempt's memo counters name pipeline builds only.
  *
  * LIFETIME: a weak-keyed map alone cannot free entries — a Dataset
  * strongly references its SparkSession, so a cached frame resurrects
  * its own key (the value→key caveat in the WeakHashMap javadoc).
  * Entries are therefore also evicted when the session's SparkContext
  * ends (application-end listener, registered once per session), while
  * the weak keying still covers sessions dropped without a stop().
  *
  * FOOTPRINT: every instance registers in a process-wide registry;
  * [[SessionScopedCache.retainedInfo]] reports per-entry block bytes
  * from the SparkContext's own RDD storage listing (a non-frame value
  * retains 0). Reclamation beyond a fingerprint change is EXPLICIT: a
  * localCheckpoint truncates lineage, so an evictor that unpersisted a
  * block while a caller still held the frame would leave it
  * unrecomputable — the entry leaves the map in the same call that
  * frees its blocks, so the next consumer rebuilds instead of reading
  * a gutted checkpoint.
  */
private[graft] final class SessionScopedCache[V](val name: String,
    val countsAsBuild: Boolean = true) {
  import SessionScopedCache._

  register(this)

  private val sessions =
    new java.util.WeakHashMap[SparkSession, ConcurrentHashMap[Key, Entry[V]]]()

  private def perSession(spark: SparkSession): ConcurrentHashMap[Key, Entry[V]] =
    sessions.synchronized {
      var m = sessions.get(spark)
      if (m == null) {
        m = new ConcurrentHashMap[Key, Entry[V]]()
        sessions.put(spark, m)
        spark.sparkContext.addSparkListener(new SparkListener {
          override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit =
            sessions.synchronized { sessions.remove(spark) }
        })
      }
      m
    }

  def getOrCompute(spark: SparkSession, dir: String, variant: String = "")(
      build: => V): V = {
    val key = Key(dir, variant)
    val fp = fingerprint(spark, dir)
    val entries = perSession(spark)
    @tailrec def slot(): Entry[V] = {
      val mine = new Entry[V](fp, new FutureTask[V](() => {
        if (countsAsBuild) DriverMemo.recordBuild()
        build
      }))
      entries.putIfAbsent(key, mine) match {
        case null => mine.task.run(); mine
        case e if e.fingerprint == fp =>
          if (!e.task.isDone && (e.builder eq Thread.currentThread()))
            throw new IllegalStateException(s"$name: ${key.label} is built from its own build")
          e
        case stale =>
          if (entries.remove(key, stale)) release(stale)
          slot()
      }
    }
    val e = slot()
    try e.task.get()
    catch {
      case x: ExecutionException =>
        entries.remove(key, e)
        throw x.getCause
    }
  }

  /** This instance's built entries for `spark`, as `name#key` → value. */
  private[graft] def entries(spark: SparkSession): Map[String, V] =
    Option(sessions.synchronized(sessions.get(spark))).fold(Map.empty[String, V]) {
      _.asScala.flatMap { case (k, e) => e.value.map(s"$name#${k.label}" -> _) }.toMap
    }

  /** Drop the entry printed as `label` (without the instance prefix)
    * and unpersist its checkpoint blocks. True when one was removed. */
  private[graft] def drop(spark: SparkSession, label: String): Boolean = {
    val removed = Option(sessions.synchronized(sessions.get(spark))).flatMap { m =>
      m.keySet.asScala.find(_.label == label).flatMap(k => Option(m.remove(k)))
    }
    removed.foreach(release)
    removed.isDefined
  }
}

private[graft] object SessionScopedCache {

  private final case class Key(dir: String, variant: String) {
    def label: String = if (variant.isEmpty) dir else s"$dir#$variant"
  }

  /** One key's value: `task` is run once, by `builder`, the thread
    * whose lookup installed the entry. */
  private final class Entry[V](val fingerprint: Seq[(String, Long, Long)],
      val task: FutureTask[V]) {
    val builder: Thread = Thread.currentThread()
    def value: Option[V] =
      if (task.isDone) scala.util.Try(task.get()).toOption else None
  }

  /** (path, length, mtime) of every data file under `dir`, path-sorted;
    * empty when `dir` does not exist. */
  private def fingerprint(spark: SparkSession, dir: String): Seq[(String, Long, Long)] =
    try graft.sources.Tables.dataFiles(spark, dir)
      .map(f => (f.getPath.toString, f.getLen, f.getModificationTime)).sortBy(_._1)
    catch { case _: java.io.FileNotFoundException => Seq.empty }

  // Instances are static module singletons; a strong list is their
  // natural lifetime.
  private val instances =
    new java.util.concurrent.CopyOnWriteArrayList[SessionScopedCache[_]]()

  private def register(c: SessionScopedCache[_]): Unit = instances.add(c)

  /** The checkpoint RDDs a memoized frame pins in block storage:
    * every LogicalRDD leaf of its analyzed plan (a localCheckpoint'd
    * frame is exactly one). Other values pin none. */
  private def rddsOf(value: Any): Seq[org.apache.spark.rdd.RDD[_]] = value match {
    case df: Dataset[_] => df.queryExecution.analyzed.collect { case l: LogicalRDD => l.rdd }
    case _ => Seq.empty
  }

  private def release(e: Entry[_]): Unit =
    e.value.foreach(rddsOf(_).foreach(_.unpersist(blocking = true)))

  /** Per-entry retained block bytes (memory + disk) for `spark`,
    * across every instance, keyed `instance#key`. The bytes come from
    * the SparkContext's own storage listing, so the number is the
    * session's real footprint, not an estimate. */
  def retainedInfo(spark: SparkSession): Map[String, Long] = {
    val storage = spark.sparkContext.getRDDStorageInfo
      .map(i => i.id -> (i.memSize + i.diskSize)).toMap
    instances.asScala.flatMap(_.entries(spark)).map { case (k, v) =>
      k -> rddsOf(v).map(r => storage.getOrElse(r.id, 0L)).sum
    }.toMap
  }

  /** Total retained checkpoint bytes for `spark` across all caches. */
  def retainedBytes(spark: SparkSession): Long =
    retainedInfo(spark).values.sum

  /** Live memo entry count for `spark` across all caches — the signal
    * a bench attempt uses to attribute a first-materialization spike:
    * bytes can be tiny (or zero, for a driver model) when the PIPELINE
    * was expensive, but the entry-count delta is 1 the attempt that
    * built it and 0 every attempt after. */
  def retainedEntries(spark: SparkSession): Int =
    instances.asScala.filter(_.countsAsBuild).map(_.entries(spark).size).sum

  /** Drop one entry by its `instance#key` name (as printed by
    * [[retainedInfo]]), unpersisting its blocks. */
  def unpersist(spark: SparkSession, qualifiedKey: String): Boolean =
    qualifiedKey.split("#", 2) match {
      case Array(inst, key) =>
        instances.asScala.filter(_.name == inst).exists(_.drop(spark, key))
      case _ => false
    }

  /** Evict LARGEST-first until the session's retained checkpoint
    * bytes fit under `cap`; returns how many entries were dropped.
    * The cap-breach policy (ADVICE r11): dropping the WHOLE memo on a
    * breach forces every later sharer — the remaining bench queries,
    * or Verify's remaining dumps — to rebuild pipelines the cap never
    * required them to lose; shrinking below the cap evicts only what
    * the accounting says is oversized, and [[retainedInfo]]'s
    * per-entry bytes make largest-first the minimal-eviction order.
    * Entries whose accounted bytes are zero (driver values, blocks
    * already gone, or a frame checkpointed to nothing) cannot reduce
    * the footprint and are left alone — if the remaining nonzero
    * entries cannot reach the cap the method evicts them all and
    * returns; it never spins. */
  def evictToCap(spark: SparkSession, cap: Long): Int = {
    val info = retainedInfo(spark).toSeq.filter(_._2 > 0).sortBy(-_._2)
    var retained = retainedBytes(spark)
    var dropped = 0
    val it = info.iterator
    while (retained > cap && it.hasNext) {
      val (key, bytes) = it.next()
      if (unpersist(spark, key)) { dropped += 1; retained -= bytes }
    }
    dropped
  }

  /** Drop every memoized entry for `spark`; returns how many. */
  def unpersistAll(spark: SparkSession): Int =
    instances.asScala.map { c =>
      c.entries(spark).keys.count(k => c.drop(spark, k.split("#", 2)(1)))
    }.sum
}
