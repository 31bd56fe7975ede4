package org.apache.spark.sql
package graftbridge

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, AttributeReference, AttributeSet, GenericInternalRow, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, UnspecifiedDistribution}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.CounterCodec

/** Generation merge: the decoded cells of every SSTable generation
  * (the SSTable source's rows, [[GenerationMergeApi.InputColumns]])
  * merged into the logical table, one row per surviving (key, col) —
  * exactly the rows of `Kv.lww(Kv.applyMarkerTombstones(bag))`, or of
  * `Kv.mergeWithCounterSum(..)` with `counterSum`, over the cell bag
  * `Kv.cellsFromSSTables` builds from the same rows.
  *
  * The kernel holds ONE key at a time: per column the newest version
  * (by timestamp; the first one seen among exact ties), the key's
  * deletion markers (whole-key, or `[start, end]` column ranges), and
  * with `counterSum` the counter shards. When the key ends it emits the
  * winners no marker at or after their timestamp covers. LWW first and
  * tombstones second equals the declarative order (tombstones, then
  * LWW): a marker's reach over a column is a timestamp threshold, so a
  * marker that suppresses a column's newest version suppresses every
  * older one too.
  *
  * `inputGrouped`: the child already delivers every cell of a key
  * adjacent in one partition (the SSTable source's merge slices) — the
  * exec requires nothing and the plan has no exchange. Otherwise it
  * declares `ClusteredDistribution(key)` plus key ordering, and Spark
  * inserts one hash exchange and a sort in front of the same kernel.
  *
  * A unary logical node that keeps its child (the planner's statistics
  * flow through it), planned by [[GenerationMergeStrategy]] — the
  * pattern of [[AsOfJoinPlan]].
  */
case class GenerationMerge(
    child: LogicalPlan,
    counterSum: Boolean,
    inputGrouped: Boolean,
    output: Seq[Attribute])
    extends UnaryNode {
  // The kernel reads every input column; the output is new.
  override def references: AttributeSet = child.outputSet
  override def producedAttributes: AttributeSet = AttributeSet(output)
  override protected def withNewChildInternal(newChild: LogicalPlan): GenerationMerge =
    copy(child = newChild)
}

object GenerationMergeStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case GenerationMerge(child, counterSum, grouped, output) =>
      GenerationMergeExec(planLater(child), counterSum, grouped, output) :: Nil
    case _ => Nil
  }
}

case class GenerationMergeExec(
    child: SparkPlan,
    counterSum: Boolean,
    inputGrouped: Boolean,
    output: Seq[Attribute])
    extends UnaryExecNode {

  override def references: AttributeSet = child.outputSet
  override def producedAttributes: AttributeSet = AttributeSet(output)

  private def key: Attribute = child.output.head

  override def requiredChildDistribution: Seq[Distribution] =
    if (inputGrouped) UnspecifiedDistribution :: Nil
    else ClusteredDistribution(Seq(key)) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    if (inputGrouped) Seq(Nil) else Seq(Seq(SortOrder(key, Ascending)))

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "inputCells" -> SQLMetrics.createMetric(sparkContext, "input cells"),
    "keys" -> SQLMetrics.createMetric(sparkContext, "keys"),
    "markers" -> SQLMetrics.createMetric(sparkContext, "markers"),
    "suppressedCells" -> SQLMetrics.createMetric(sparkContext, "cells suppressed by a marker"),
    "winners" -> SQLMetrics.createMetric(sparkContext, "winners"),
    "deletedWinners" -> SQLMetrics.createMetric(sparkContext, "deleted winners"))

  override protected def doExecute(): RDD[InternalRow] = {
    val m = metrics
    val sum = counterSum
    val types = output.map(_.dataType)
    child.execute().mapPartitionsInternal(rows =>
      new GenerationMergeIterator(rows, sum, types, m))
  }

  override protected def withNewChildInternal(newChild: SparkPlan): GenerationMergeExec =
    copy(child = newChild)
}

/** The per-partition kernel: consumes key-grouped input rows, emits
  * each key's surviving winners when the key ends. */
private final class GenerationMergeIterator(
    rows: Iterator[InternalRow], counterSum: Boolean, outputTypes: Seq[DataType],
    metrics: Map[String, SQLMetric]) extends Iterator[InternalRow] {
  import GenerationMergeIterator._

  private val project = UnsafeProjection.create(outputTypes.toArray)
  private val pending = new java.util.ArrayDeque[InternalRow]

  // Per-key state.
  private var key: UTF8String = _
  private val cols = new java.util.LinkedHashMap[UTF8String, ColumnState]
  private var wholeKeyTs = Long.MinValue
  private val ranges = ArrayBuffer.empty[RangeMarker]

  private var inputCells, markers, keys, suppressed, winners, deletedWinners = 0L

  override def hasNext: Boolean = {
    while (pending.isEmpty && rows.hasNext) consume(rows.next())
    if (pending.isEmpty && key != null) {
      flush()
      key = null
      publish()
    }
    !pending.isEmpty
  }

  override def next(): InternalRow = {
    if (!hasNext) throw new NoSuchElementException
    project(pending.poll())
  }

  private def consume(r: InternalRow): Unit = {
    val k = r.getUTF8String(Key)
    if (key == null || k != key) {
      if (key != null) flush()
      key = k.clone()
      keys += 1
    }
    val marker = r.getBoolean(Marker)
    // Deletion facts: marker rows, and cells that carry their
    // partition's (or row's) deletion. A marker with a column is a
    // column range (start in col, end in value); the rest cover the key.
    if (!r.isNullAt(DeletionTs)) {
      markers += 1
      val ts = r.getLong(DeletionTs)
      if (marker && !r.isNullAt(Col)) {
        // A range without an end covers nothing (`between` is null).
        if (!r.isNullAt(Value))
          ranges += RangeMarker(r.getUTF8String(Col).clone(),
            UTF8String.fromBytes(r.getBinary(Value)), ts)
      } else wholeKeyTs = math.max(wholeKeyTs, ts)
    }
    if (!marker && !r.isNullAt(Col)) {
      inputCells += 1
      val c = r.getUTF8String(Col)
      val ts = r.getLong(Ts)
      // In the cell-bag model a cell of the tombstone column IS a
      // whole-key marker.
      if (c == TombstoneCol) wholeKeyTs = math.max(wholeKeyTs, ts)
      else {
        var st = cols.get(c)
        if (st == null) { st = new ColumnState; cols.put(c.clone(), st) }
        if (counterSum && r.getBoolean(Counter))
          st.shards += Shard(ts, r.getBoolean(Deleted),
            if (r.isNullAt(Value)) null else r.getBinary(Value))
        else st.offer(r, ts)
      }
    }
  }

  /** The newest marker timestamp covering column `c`; a version at or
    * before it is deleted. */
  private def threshold(c: UTF8String): Long = {
    var t = wholeKeyTs
    var i = 0
    while (i < ranges.length) {
      val m = ranges(i)
      if (m.ts > t && m.start.compareTo(c) <= 0 && c.compareTo(m.end) <= 0) t = m.ts
      i += 1
    }
    t
  }

  private def emit(c: UTF8String, ts: Long, value: Array[Byte], ttl: Any,
      counter: Boolean, deleted: Boolean): Unit = {
    pending.add(new GenericInternalRow(Array[Any](key, c, ts, ts, value, ttl, counter, deleted)))
    winners += 1
    if (deleted) deletedWinners += 1
  }

  private def flush(): Unit = {
    val it = cols.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val c = e.getKey
      val st = e.getValue
      val t = threshold(c)
      if (st.versions > 0) {
        suppressed += st.countAtOrBefore(t)
        if (st.ts > t) emit(c, st.ts, st.value, st.ttl, st.counter, st.deleted)
      }
      if (st.shards.nonEmpty) {
        // Counter SUM-merge over the shards the markers left: a counter
        // tombstone kills every shard at or before it; without a newer
        // shard it surfaces as a deleted winner.
        suppressed += st.shards.count(_.ts <= t)
        val surviving = st.shards.filter(_.ts > t)
        val deletedTs = surviving.filter(_.deleted).map(_.ts).maxOption
        val live = surviving.filter(s => !s.deleted && deletedTs.forall(s.ts > _))
        if (live.nonEmpty) {
          val values = live.flatMap(s => Option(s.value)).map(CounterCodec.beLong)
          emit(c, live.map(_.ts).max,
            if (values.isEmpty) null else CounterCodec.longBe(values.reduce(Math.addExact(_, _))),
            null, counter = true, deleted = false)
        } else deletedTs.foreach(ts =>
          emit(c, ts, null, null, counter = true, deleted = true))
      }
    }
    cols.clear()
    ranges.clear()
    wholeKeyTs = Long.MinValue
  }

  private def publish(): Unit = {
    metrics("inputCells") += inputCells
    metrics("markers") += markers
    metrics("keys") += keys
    metrics("suppressedCells") += suppressed
    metrics("winners") += winners
    metrics("deletedWinners") += deletedWinners
  }
}

private object GenerationMergeIterator {
  // Input ordinals (GenerationMergeApi.InputColumns).
  val Key = 0
  val Col = 1
  val Ts = 2
  val Value = 3
  val TtlS = 4
  val Counter = 5
  val Deleted = 6
  val DeletionTs = 7
  val Marker = 8

  val TombstoneCol: UTF8String = UTF8String.fromString(graft.kv.Kv.TombstoneCol)

  final case class RangeMarker(start: UTF8String, end: UTF8String, ts: Long)
  final case class Shard(ts: Long, deleted: Boolean, value: Array[Byte])

  /** One column of the current key: its newest version, every
    * version's timestamp (for the suppression count), and its counter
    * shards under `counterSum`. */
  final class ColumnState {
    var ts = 0L
    var value: Array[Byte] = _
    var ttl: Any = _
    var counter = false
    var deleted = false
    private var tss = new Array[Long](4)
    var versions = 0
    val shards = ArrayBuffer.empty[Shard]

    def offer(r: InternalRow, t: Long): Unit = {
      if (versions == tss.length) tss = java.util.Arrays.copyOf(tss, versions * 2)
      tss(versions) = t
      if (versions == 0 || t > ts) {
        ts = t
        value = if (r.isNullAt(Value)) null else r.getBinary(Value)
        ttl = if (r.isNullAt(TtlS)) null else r.getLong(TtlS)
        counter = r.getBoolean(Counter)
        deleted = r.getBoolean(Deleted)
      }
      versions += 1
    }

    def countAtOrBefore(t: Long): Int = {
      var n = 0
      var i = 0
      while (i < versions) { if (tss(i) <= t) n += 1; i += 1 }
      n
    }
  }
}

object GenerationMergeApi {
  /** The input the merge reads, by name and position: the SSTable
    * source's columns it needs. */
  val InputColumns: Seq[String] =
    Seq("key", "col", "ts", "value", "ttl_s", "counter", "deleted", "deletion_ts", "marker")

  /** Merge `cells` (columns [[InputColumns]]) into one row per
    * surviving (key, col): key, col, ts (TimestampType, µs), seq (= ts),
    * value, ttl_s, counter, deleted. `inputGrouped` promises that every
    * cell of a key is adjacent in one partition. */
  def merge(cells: DataFrame, counterSum: Boolean, inputGrouped: Boolean): DataFrame = {
    require(cells.columns.toSeq == InputColumns,
      s"generation merge input must be $InputColumns, got ${cells.columns.toSeq}")
    val spark = cells.sparkSession.asInstanceOf[classic.SparkSession]
    if (!spark.experimental.extraStrategies.contains(GenerationMergeStrategy)) {
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ GenerationMergeStrategy
    }
    val output = Seq(
      AttributeReference("key", StringType, nullable = false)(),
      AttributeReference("col", StringType)(),
      AttributeReference("ts", TimestampType, nullable = false)(),
      AttributeReference("seq", LongType, nullable = false)(),
      AttributeReference("value", BinaryType)(),
      AttributeReference("ttl_s", LongType)(),
      AttributeReference("counter", BooleanType, nullable = false)(),
      AttributeReference("deleted", BooleanType, nullable = false)())
    classic.Dataset.ofRows(spark, GenerationMerge(
      cells.queryExecution.analyzed, counterSum, inputGrouped, output))
  }
}
