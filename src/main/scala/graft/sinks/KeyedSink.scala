package graft.sinks

import org.apache.spark.sql.{Column, DataFrame, Observation, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** The write-side connector seam — the reference's AerospikeWriter
  * boundary (AerospikeWriter.cpp:1-200: bounded in-flight async puts,
  * a retry queue for transient failures, and per-run
  * exported/failed/expired/existing accounting). A user targeting a
  * real KV store implements this trait; Spark owns partitioning and
  * concurrency (one open writer per input partition replaces the
  * reference's hand-managed event loops), and the runner
  * [[KeyedSink.createOnlyForeach]] owns the retry budget and the
  * statistics so every implementation inherits the same operational
  * contract.
  *
  * The parquet lake target deliberately does NOT go through this
  * trait: Spark's own committer (KeyedSink.createOnlyAppend) is the
  * correct "writer" for files — transactional, partition-parallel,
  * zero per-record failure surface.
  */
trait KeyedWriter extends Serializable {
  /** Per-record retry budget for transient failures — the reference's
    * retry queue drains each failed put back through the pipeline a
    * bounded number of times before counting it failed. */
  def maxRetries: Int = 2
  /** Called once per input partition before any write (connect). */
  def open(partitionId: Int): Unit = ()
  /** Attempt one record. The store enforces its own create-only
    * semantics (AS_POLICY_EXISTS_CREATE): an existing key reports
    * [[KeyedWriter.AlreadyExists]], never an overwrite. */
  def write(row: Row): KeyedWriter.Outcome
  /** Called once per partition after the last write (flush + close). */
  def close(partitionId: Int): Unit = ()
}

object KeyedWriter {
  sealed trait Outcome extends Serializable
  /** Record landed. */
  case object Written extends Outcome
  /** Store already holds the key — skipped, never updated. */
  case object AlreadyExists extends Outcome
  /** Transient failure: retried up to [[KeyedWriter.maxRetries]],
    * then counted in `WriteStats.failed`. */
  case object Failed extends Outcome
}

/** Create-only keyed sink: the Spark-native form of the reference's
  * export path (AerospikeWriter.cpp — async pipelined writes with
  * AS_POLICY_EXISTS_CREATE, TTL policies, per-run statistics).
  *
  * The reference enforces create-only per record against a live store;
  * in a lake-house target the same contract is an anti-join against the
  * target's current keys followed by an append — idempotent, and at
  * 100 TB the join is a shuffle (or broadcast, when the target key set
  * is small) rather than a per-record network round-trip, with the
  * target scan pruned to the key column only.
  *
  * The parquet export is ONE Spark action, as the reference counts
  * while it puts: the incoming rows are annotated with the policy and
  * existence flags, one `CollectMetrics` node (`Dataset.observe`)
  * counts every [[WriteStats]] field as the rows stream past, and the
  * filter and the parquet write consume the same pass — nothing is
  * persisted, nothing is aggregated in a second job. The counts are
  * exact under task retry: the observe node sits above every exchange,
  * in the write's result stage, and the DAGScheduler merges a result
  * task's accumulator updates once per committed partition, so a
  * retried or speculative attempt never counts twice.
  *
  * TTL policies mirror the reference flags:
  *  - `minTtlUs` (`-L`): records expiring sooner than this are dropped;
  *  - `prohibitEternal` (`-x`): records with no expiry are dropped;
  *  - `recordTtlFromFirst` (`-f`): a record (key group) expires at its
  *    first-expiring cell rather than its last.
  */
object KeyedSink {

  /** Per-run statistics, matching the reference's end-of-run printf
    * (Cassandra2Aerospike.cpp do_transfer). Componentwise [[WriteStats.add]]
    * accumulates per-micro-batch stats in the streaming export. */
  case class WriteStats(
      incoming: Long, written: Long, skippedExisting: Long, expired: Long,
      // Cells whose winning version was a cell-tombstone, dropped before
      // export (the reference's skipped-deleted counter,
      // CassandraParser.cpp:524). Counted by Kv.migrate's export; always
      // 0 from createOnlyAppend.
      deletedDropped: Long = 0L,
      // Surviving records at or below an incremental run's `-W`
      // watermark, skipped before export (already shipped by the
      // previous run). Counted by Kv.migrate's export; always 0 from
      // createOnlyAppend.
      skippedUnchanged: Long = 0L,
      // Per-record writer accounting (the reference's failed counter +
      // retry queue depth). Structurally zero on the parquet path —
      // Spark's committer is transactional — and populated by
      // [[createOnlyForeach]] from the KeyedWriter outcomes.
      failed: Long = 0L,
      retried: Long = 0L) {
    def add(o: WriteStats): WriteStats = WriteStats(
      incoming + o.incoming, written + o.written,
      skippedExisting + o.skippedExisting, expired + o.expired,
      deletedDropped + o.deletedDropped,
      skippedUnchanged + o.skippedUnchanged,
      failed + o.failed, retried + o.retried)
  }

  case class TtlPolicy(
      minTtlUs: Long = 0L,
      prohibitEternal: Boolean = false,
      recordTtlFromFirst: Boolean = false,
      nowUs: Long)

  /** Expiry predicate for one cell row; null expiry_us = eternal. */
  private def cellLive(policy: TtlPolicy) = {
    val base = col("expiry_us").isNull ||
      (col("expiry_us") > policy.nowUs && col("ttl_us") >= policy.minTtlUs)
    if (policy.prohibitEternal) base && col("expiry_us").isNotNull else base
  }

  /** Annotate incoming rows with a `_live` flag under the policy.
    * The predicate is null-proof: a malformed row (non-null expiry with
    * a null ttl_us) evaluates to SQL NULL under `cellLive`, which must
    * count as dropped-by-policy in BOTH sinks' accounting rather than
    * vanish from the stats (parquet path) or NPE the partition loop
    * (foreach path). Under `-f` the key group's first expiry is taken
    * over the rows where `kept` holds only: a winner the caller drops
    * before export (deleted, or below a `-W` watermark) is not one of
    * the record's cells. */
  def withLiveFlag(incoming: DataFrame, policy: TtlPolicy,
      kept: Column = lit(true)): DataFrame = {
    val flagged = incoming.withColumn("_live",
      coalesce(cellLive(policy), lit(false)))
    if (!policy.recordTtlFromFirst) flagged
    else {
      // Record expires with its FIRST expiring cell: a key group whose
      // earliest expiry has passed is dead wholesale. Windowed min over
      // the key partition — rides one hash shuffle.
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("key"))
      flagged.withColumn("_first_expiry", min(when(kept, col("expiry_us"))).over(w))
        .withColumn("_live",
          col("_live") &&
            (col("_first_expiry").isNull || col("_first_expiry") > policy.nowUs))
        .drop("_first_expiry")
    }
  }

  /** `incoming` with the policy's `_live` flag (true without a policy)
    * and the create-only `_exists` flag: true where the key is one of
    * `existingKeys` (a key-only distinct, left-outer joined), false
    * everywhere without them. Both sinks drop a row unless it is live
    * and not existing. */
  private def annotate(incoming: DataFrame, policy: Option[TtlPolicy],
      existingKeys: Option[DataFrame], kept: Column = lit(true)): DataFrame = {
    val flagged = policy.map(withLiveFlag(incoming, _, kept))
      .getOrElse(incoming.withColumn("_live", lit(true)))
    existingKeys match {
      case None => flagged.withColumn("_exists", lit(false))
      case Some(keys) =>
        flagged.join(
            keys.select(col("key")).distinct().withColumn("_exists", lit(true)),
            Seq("key"), "left_outer")
          .withColumn("_exists", coalesce(col("_exists"), lit(false)))
    }
  }

  /** Create-only append of `incoming` into the parquet table at
    * `targetPath`, keyed by the `key` column: rows whose key already
    * exists in the target are skipped (never updated), exactly
    * AS_POLICY_EXISTS_CREATE. Returns the run's statistics.
    *
    * Create-only applies at RECORD (= key) granularity: multiple rows
    * of one key within a batch are the record's cells and land
    * together; a key already in the target skips wholesale. Rows of
    * the same key arriving in LATER batches are skipped by the
    * anti-join — exactly the reference's RECORD_EXISTS behavior. */
  def createOnlyAppend(
      spark: SparkSession,
      incoming: DataFrame,
      targetPath: String,
      policy: Option[TtlPolicy] = None): WriteStats =
    appendWinners(spark,
      incoming.withColumn("_deleted", lit(false)).withColumn("_unchanged", lit(false)),
      targetPath, policy)

  /** The one export plan behind [[createOnlyAppend]] and
    * [[graft.kv.Kv.migrate]]: scan → policy and existence flags →
    * observe → filter → parquet append, as a single Spark action.
    * Besides its record columns, `winners` carries two boolean flags
    * for rows the caller drops before the sink: `_deleted` (a
    * cell-tombstone winner) and `_unchanged` (a winner at or below a
    * `-W` watermark). Flagged rows ride the plan to the observe node,
    * are counted in `deletedDropped` / `skippedUnchanged` there, and
    * are never written; every other counter covers the unflagged rows
    * only. */
  private[graft] def appendWinners(
      spark: SparkSession,
      winners: DataFrame,
      targetPath: String,
      policy: Option[TtlPolicy]): WriteStats = {
    val targetExists = {
      val p = new org.apache.hadoop.fs.Path(targetPath)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
    }
    // Key-only (column-pruned) scan of the target, when there is one.
    val existingKeys = if (targetExists) Some(spark.read.parquet(targetPath)) else None
    val kept = !col("_deleted") && !col("_unchanged")
    val live = kept && col("_live")
    val observed = Observation()
    annotate(winners, policy, existingKeys, kept)
      .observe(observed,
        count_if(col("_deleted")).as("deletedDropped"),
        count_if(col("_unchanged")).as("skippedUnchanged"),
        count_if(kept).as("incoming"),
        count_if(kept && !col("_live")).as("expired"),
        count_if(live && col("_exists")).as("skippedExisting"),
        count_if(live && !col("_exists")).as("written"))
      .filter(live && !col("_exists"))
      .drop("_deleted", "_unchanged", "_live", "_exists")
      .write.mode(SaveMode.Append).parquet(targetPath)
    val m = observed.get
    def n(name: String): Long = m(name).asInstanceOf[Long]
    WriteStats(
      incoming = n("incoming"), written = n("written"),
      skippedExisting = n("skippedExisting"), expired = n("expired"),
      deletedDropped = n("deletedDropped"), skippedUnchanged = n("skippedUnchanged"))
  }

  /** Create-only export of `incoming` through a pluggable
    * [[KeyedWriter]] — the live-store path (the reference's
    * do_live_run, Cassandra2Aerospike.cpp:269+). TTL policy drops ride
    * the same Spark-side predicate as the parquet path; the writes,
    * retries, and failure accounting happen per partition on the
    * executors, and the per-partition counter rows (a handful of longs
    * each) are the ONLY thing that returns to the driver — the record
    * stream itself never leaves the executors, so the shape holds at
    * any scale Spark can partition.
    *
    * `existingKeys`: optional pre-flight key set for targets that
    * cannot enforce create-only themselves — rows whose key is present
    * are counted `skippedExisting` without a write attempt. A store
    * with native create-only (the normal case) leaves this None and
    * reports [[KeyedWriter.AlreadyExists]] per record instead; both
    * routes land in the same counter.
    *
    * Accounting caveat under Spark task RETRY/speculation: the export
    * itself stays correct (create-only makes re-offered records
    * no-ops), but records written by a task attempt that later retries
    * re-report AlreadyExists on the re-run, shifting counts from
    * `written` to `skippedExisting` — the same drift the reference's
    * at-least-once async pipeline has on reconnect. Exact-once
    * *accounting* would need a transactional target.
    */
  def createOnlyForeach(
      spark: SparkSession,
      incoming: DataFrame,
      writer: KeyedWriter,
      policy: Option[TtlPolicy] = None,
      existingKeys: Option[DataFrame] = None): WriteStats = {
    val annotated = annotate(incoming, policy, existingKeys)
    val fields = annotated.schema.fieldNames
    val liveIdx = fields.indexOf("_live")
    val existsIdx = fields.indexOf("_exists")
    val dataIdx = fields.indices.filter(i => i != liveIdx && i != existsIdx).toArray
    // Records handed to the writer carry their schema (writers address
    // columns by name, as a store mapping needs to).
    val recordSchema = org.apache.spark.sql.types.StructType(
      dataIdx.toSeq.map(annotated.schema.fields))
    val dataTypes = dataIdx.map(i => annotated.schema.fields(i).dataType)
    // Per-partition imperative sink loop — the one place an RDD is the
    // right tool: open/write/retry/close against an external system.
    // The loop consumes the PLANNED InternalRows directly
    // (queryExecution.toRdd) rather than `.rdd` (r17, guide §4.2/§4.5):
    // the `.rdd` route deserialized every incoming row into an external
    // Row (per-row array + Row + string conversions) and the loop then
    // built a SECOND Row for the writer — two allocations per record
    // plus full conversion even for the expired/existing rows the loop
    // drops. Now the policy/exists flags are read as primitives off the
    // InternalRow, dropped rows are never converted at all, and
    // writer-bound rows convert once, field by field, through
    // converters constructed once per task. The writer-facing contract
    // (schema-carrying Row, by-name access) is unchanged.
    val perPartition = annotated.queryExecution.toRdd.mapPartitionsWithIndex { (pid, rows) =>
      val convs = dataTypes.map(
        org.apache.spark.sql.graftbridge.ColumnBridge.toScalaConverter)
      val nData = dataIdx.length
      var incomingN = 0L; var written = 0L; var skipped = 0L
      var expired = 0L; var failed = 0L; var retried = 0L
      var opened = false
      try {
        rows.foreach { r =>
          incomingN += 1
          if (!r.getBoolean(liveIdx)) expired += 1
          else if (r.getBoolean(existsIdx)) skipped += 1
          else {
            if (!opened) { writer.open(pid); opened = true }
            val values = new Array[Any](nData)
            var i = 0
            while (i < nData) {
              values(i) =
                if (r.isNullAt(dataIdx(i))) null
                else convs(i)(r.get(dataIdx(i), dataTypes(i)))
              i += 1
            }
            val record: Row =
              new org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema(
                values, recordSchema)
            var attempt = 0
            var outcome: KeyedWriter.Outcome = KeyedWriter.Failed
            while (attempt <= writer.maxRetries &&
                   { outcome = writer.write(record); outcome == KeyedWriter.Failed }) {
              attempt += 1
              if (attempt <= writer.maxRetries) retried += 1
            }
            outcome match {
              case KeyedWriter.Written => written += 1
              case KeyedWriter.AlreadyExists => skipped += 1
              case KeyedWriter.Failed => failed += 1
            }
          }
        }
      } finally if (opened) writer.close(pid)
      Iterator.single((incomingN, written, skipped, expired, failed, retried))
    }
    val totals = perPartition.collect()
    WriteStats(
      incoming = totals.map(_._1).sum, written = totals.map(_._2).sum,
      skippedExisting = totals.map(_._3).sum, expired = totals.map(_._4).sum,
      failed = totals.map(_._5).sum, retried = totals.map(_._6).sum)
  }

  /** The STREAMING create-only export — the reference's continuous
    * catch-up analog beside `-W`: attach [[StreamingExport.writeBatch]]
    * as a `writeStream.foreachBatch` sink and every micro-batch runs
    * the same [[createOnlyForeach]] pipeline (TTL policy, store-enforced
    * create-only, bounded retries, per-partition accounting), with the
    * exported/existing/expired/failed/retried totals ACCUMULATED across
    * micro-batches. A key that landed in an earlier batch re-offered in
    * a later one reports AlreadyExists from the store — cross-batch
    * create-only needs no Spark state, the target IS the state, which
    * is exactly why the whole-run totals match a one-shot batch export
    * of the same data (spec-pinned). Driver-side accumulation: the
    * per-batch stats are a handful of longs and foreachBatch runs on
    * the driver, so a plain atomic fold is the correct scale shape. */
  final class StreamingExport(
      writer: KeyedWriter,
      policy: Option[TtlPolicy] = None) extends Serializable {
    private val acc = new java.util.concurrent.atomic.AtomicReference(
      WriteStats(0L, 0L, 0L, 0L))
    /** Totals over every micro-batch processed so far. */
    def stats: WriteStats = acc.get()
    /** The foreachBatch sink function. */
    def writeBatch(batch: org.apache.spark.sql.Dataset[Row], batchId: Long): Unit = {
      val s = createOnlyForeach(batch.sparkSession, batch.toDF(), writer, policy)
      acc.getAndUpdate(t => t.add(s))
      ()
    }
  }
}
