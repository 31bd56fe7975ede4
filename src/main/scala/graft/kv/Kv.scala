package graft.kv

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.GenerationMergeApi

import graft.functions.CassandraMurmur3.cassandraToken
import graft.functions.CassandraRandomMd5
import graft.functions.CassandraRandomMd5.randomToken
import graft.functions.Exact.{dec, pres}
import graft.sources.Tables

/** The reference's KV-store semantics, re-expressed as Spark plans.
  *
  * A Cassandra table read from SSTables is a bag of cells
  * `(key, col, ts, seq, value)` spread over multiple generations; the
  * reference reconstructs the logical table with a serial k-way merge
  * (CassandraParser.cpp:375-532). [[migrate]] does the same merge in
  * parallel: [[mergeSSTables]] reads merge slices — ring ranges that
  * span every generation, each heap-merged by key in its task — into
  * one per-key kernel (LWW, tombstones, counter sums), with no shuffle
  * at all when the SSTables carry Index.db and Statistics.db, and one
  * hash exchange on key when they do not. Each semantic also stands as
  * a declarative plan over the cell bag (the kernel's specification,
  * and what the `events`-table queries below run):
  *
  *  - generations are DataFrames; merging k of them is `union`
  *    followed by one shuffle on the merge key;
  *  - last-write-wins (choose_latest_match, CassandraParser.cpp:316) is
  *    one ranking window over (key, col), ordered by (ts, seq) desc —
  *    a single hash shuffle, AQE-coalesced;
  *  - row/range tombstones (update_tombstones, CassandraParser.cpp:337)
  *    are one marker anti-join, [[applyMarkerTombstones]];
  *  - TTL/expiry (AerospikeWriter.cpp TTL policies) is pure column
  *    arithmetic in exact integer µs space — fully codegen'd, no state.
  *
  * The `events` table plays the role of the cell bag: key=user_id,
  * column=event_type, timestamp=ts, write-sequence=event_id.
  */
object Kv {

  /** The tombstone column marker: cells of this column act as row/range
    * deletion markers for their key (DELETION_MASK / RANGE_TOMBSTONE_MASK
    * in the reference, SSTable.hpp:88-93). */
  val TombstoneCol = "error"

  /** Normalize the events table into the cell model. */
  def cells(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir).select(
      col("user_id").cast("string").as("key"),
      col("event_type").as("col"),
      col("ts"),
      col("event_id").as("seq"),
      col("value"))

  /** The reference's ingest, end to end: read a directory of SSTable
    * Data.db files ("ma"+ or legacy "ja"/"ka", compressed or not — see
    * [[graft.sources.sstable.MaSSTableSource]]) and normalize into the
    * same cell-bag model the operators above consume. Partition/row
    * deletions and range-tombstone markers become [[TombstoneCol]]
    * marker cells so [[applyMarkerTombstones]] + [[lww]] reproduce
    * CassandraParser's merge (each Data.db is scanned once: a decoded
    * row yields its data cell, its marker, or both); counter cells
    * keep their flag so callers route them to SUM-merge
    * ([[counterMerge]] semantics) instead of LWW. Cell timestamps are treated as µs epoch (the Cassandra
    * convention). Cells with EQUAL timestamps across generations have
    * no defined winner — the reference keeps whichever generation it
    * scans first (choose_latest_match's strict `>`,
    * CassandraParser.cpp:316-333) — so seq mirrors ts and the max_by
    * pick among exact ties is likewise arbitrary-but-single.
    */
  def cellsFromSSTables(
      spark: SparkSession, path: String, columnsSpec: String,
      resumeKey: Option[String] = None,
      verifyChecksums: Boolean = true,
      tokenRange: Option[(String, String)] = None,
      clusteringIdentity: Boolean = false): DataFrame = {
    val raw = readSSTables(spark, Seq(path), columnsSpec, resumeKey, verifyChecksums,
      tokenRange, clusteringIdentity, mergeSlices = false)
    // One scan: a decoded row yields its data cell (kind 0) unless it
    // is a marker row, and its marker (kind 1) when it carries a
    // deletion.
    val marker = col("_kind") === 1
    // Legacy ka range tombstones carry their column bounds (start name
    // in col, end name in value — MaFormat.KaReader preserves the
    // pair); they suppress only columns INSIDE [start, end]
    // (update_tombstones, CassandraParser.cpp:337-372). Whole-key
    // markers (ma markers, partition/row deletions) carry nulls.
    val range = marker && col("marker") && col("col").isNotNull
    raw.withColumn("_kind", explode(array(lit(0), lit(1))))
      .filter(when(marker, col("deletion_ts").isNotNull).otherwise(!col("marker")))
      .select(
        col("key"),
        when(marker, lit(TombstoneCol)).otherwise(col("col")).as("col"),
        timestamp_micros(when(marker, col("deletion_ts")).otherwise(col("ts"))).as("ts"),
        when(marker, col("deletion_ts")).otherwise(col("ts")).as("seq"),
        when(!marker, col("value")).as("value"),
        when(!marker, col("ttl_s")).as("ttl_s"),
        (!marker && col("counter")).as("counter"),
        // Cell-level tombstones (IS_DELETED_MASK) ride the bag so LWW
        // can pick them as the winning version; the consumer then DROPS
        // deleted winners (the reference skips deleted cells at export,
        // CassandraParser.cpp:481 `!nextColumn.deleted`) — keeping them
        // in the merge is what makes them suppress older live values.
        (marker || col("deleted")).as("deleted"),
        when(range, col("col")).as("range_start"),
        when(range, col("value").cast("string")).as("range_end"))
  }

  /** The SSTable source over `paths`, with the scan options every
    * reader here shares. A token slice ([min, max] in the
    * partitioner's own token notation, either side empty for open)
    * reaches the source's Index.db seek: each shard of a DISTRIBUTED
    * migration reads only its ring slice of every SSTable (the source
    * applies the exact per-cell residual as well, so indexless files
    * return the same rows). */
  private def readSSTables(
      spark: SparkSession, paths: Seq[String], columnsSpec: String,
      resumeKey: Option[String], verifyChecksums: Boolean,
      tokenRange: Option[(String, String)], clusteringIdentity: Boolean,
      mergeSlices: Boolean): DataFrame = {
    val base = spark.read
      .format("graft.sources.sstable.MaSSTableSource")
      .option("verifyChecksums", verifyChecksums.toString)
      // Clustered-table mode: clustering values become part of each
      // cell's column identity (see MaSSTableSource docs) so distinct
      // rows survive the LWW merge as distinct records.
      .option("clusteringIdentity", clusteringIdentity.toString)
      .option("mergeSlices", mergeSlices.toString)
    // An empty spec self-describes from each file's Statistics.db
    // (the reference reads the schema there — SSTable.cpp:275).
    val withSpec =
      if (columnsSpec.trim.isEmpty) base
      else base.option("columns", columnsSpec)
    val withSlice = tokenRange.foldLeft(withSpec) { case (r, (lo, hi)) =>
      val r2 = if (lo.nonEmpty) r.option("tokenMin", lo) else r
      if (hi.nonEmpty) r2.option("tokenMax", hi) else r2
    }
    resumeKey.foldLeft(withSlice)((r, k) => r.option("resumeKey", k)).load(paths: _*)
  }

  /** Tombstone application for cell bags of the [[cellsFromSSTables]]
    * shape (any bag with `range_start`/`range_end` columns): every
    * marker suppresses the cells of its key that are at or before its
    * timestamp (CassandraParser.cpp:481 keeps a cell only when
    * `minTime < column.ts`) — bounded to the [range_start, range_end]
    * column range when the marker is a range tombstone
    * (update_tombstones, CassandraParser.cpp:337-372), the whole key
    * otherwise. An anti-join (key equality + residual
    * condition), so several differently-bounded markers per key each
    * apply; the marker side is tiny and AQE broadcasts it. */
  def applyMarkerTombstones(cellBag: DataFrame): DataFrame = {
    val markers = cellBag.filter(col("col") === TombstoneCol)
      .select(col("key").as("_mk"), col("ts").as("_mts"),
        col("range_start").as("_rs"), col("range_end").as("_re"))
    cellBag
      .filter(col("col") =!= TombstoneCol)
      .join(markers,
        col("key") === col("_mk") && col("ts") <= col("_mts") &&
          (col("_rs").isNull || col("col").between(col("_rs"), col("_re"))),
        "left_anti")
      .drop("range_start", "range_end")
  }

  /** Split into k "SSTable generations" (deterministic, by sequence). */
  def generations(spark: SparkSession, dir: String, k: Int): Seq[DataFrame] = {
    val c = cells(spark, dir)
    (0 until k).map(i => c.filter(pmod(col("seq"), lit(k)) === i))
  }

  /** Last-write-wins compaction: newest cell per (key, col) by (ts, seq).
    *
    * Expressed as `max_by` AGGREGATION, not a ranking window: LWW is an
    * associative reduction, so this form gets map-side partial
    * aggregation (a hot key reduces to one row per input partition
    * BEFORE the shuffle — the window form funnels every cell of the
    * key through one task's sort) and needs no sort at all. One hash
    * shuffle on (key, col); generations union in for free; zero-shuffle
    * over a key-bucketed layout. Deterministic because (ts, seq) is
    * unique per cell. Preserves whatever extra columns ride the bag. */
  def lww(cellBag: DataFrame): DataFrame = {
    val others = cellBag.columns.filterNot(c => c == "key" || c == "col").toSeq
    cellBag
      .groupBy(col("key"), col("col"))
      .agg(max_by(
        struct(others.map(col): _*),
        struct(col("ts"), col("seq"))).as("_win"))
      .select(col("key") +: col("col") +: others.map(c => col(s"_win.$c").as(c)): _*)
  }

  /** k-way generation merge = union + LWW (one shuffle total). */
  def mergeGenerations(gens: Seq[DataFrame]): DataFrame =
    lww(gens.reduce(_ unionAll _))

  /** Counter-aware merge of an SSTable cell bag ([[cellsFromSSTables]]
    * shape, markers already applied): non-counter cells take the
    * standard LWW, counter-flagged cells SUM their shards across
    * generations instead — LWW on a counter table keeps one shard and
    * silently loses the rest of the count. BEYOND the reference, whose
    * transfer LWWs counter columns like any other
    * (choose_latest_match, CassandraParser.cpp:316 — it only parses
    * the counter header, SSTable.cpp:434-436); the summed form is what
    * the logical table actually holds.
    *
    * Deletion semantics: a cell-tombstone on a counter kills every
    * shard at-or-before its timestamp; if no shard survives, the cell
    * surfaces as a deleted winner so the export path drops AND counts
    * it exactly like an LWW'd tombstone. Shapes: two aggregations and
    * one broadcast-back join on (key, col) — the delete-ts frame is
    * one row per deleted counter cell, tiny; shard sums are map-side
    * combinable; nothing buffers a cell's shard list. */
  def mergeWithCounterSum(cellBag: DataFrame): DataFrame = {
    import graft.functions.CounterCodec.{counterLong, longBinary}
    val counters = cellBag.filter(col("counter"))
    val delTs = counters.filter(col("deleted"))
      .groupBy(col("key"), col("col"))
      .agg(max(col("ts")).as("_dts"), max(col("seq")).as("_dseq"))
    val liveShards = counters.filter(!col("deleted"))
      .join(delTs, Seq("key", "col"), "left_outer")
      .filter(col("_dts").isNull || col("ts") > col("_dts"))
    val summed = liveShards
      .groupBy(col("key"), col("col"))
      .agg(
        max(col("ts")).as("ts"),
        max(col("seq")).as("seq"),
        longBinary(sum(counterLong(col("value")))).as("value"))
      .select(col("key"), col("col"), col("ts"), col("seq"), col("value"),
        lit(null).cast("long").as("ttl_s"), lit(true).as("counter"),
        lit(false).as("deleted"))
    // Fully-deleted counter cells (no shard newer than the tombstone)
    // surface as deleted winners — dropped and counted at export.
    val dead = delTs
      .join(summed.select(col("key"), col("col")), Seq("key", "col"), "left_anti")
      .select(col("key"), col("col"), col("_dts").as("ts"), col("_dseq").as("seq"),
        lit(null).cast("binary").as("value"), lit(null).cast("long").as("ttl_s"),
        lit(true).as("counter"), lit(true).as("deleted"))
    lww(cellBag.filter(!col("counter")))
      .unionByName(summed).unionByName(dead)
  }

  /** Cell expiration in exact integer µs space: ttl_us derived from the
    * cell value (deterministic synthetic TTL: value*10 seconds), expiry =
    * write-ts + ttl. Mirrors the reference's expiring-column handling
    * (SSTable.cpp:438-443) and the `-L` minimum-TTL discard
    * (AerospikeWriter set_minimum_ttl). */
  def withExpiry(cellBag: DataFrame): DataFrame =
    cellBag
      .withColumn("ttl_us", floor(col("value") * 10 * 1e6))
      .withColumn("expiry_us", unix_micros(col("ts")) + col("ttl_us"))

  /** Live cells at `cutoffUs`, with minimum-TTL discard (`-L`). */
  def liveAt(cellBag: DataFrame, cutoffUs: Long, minTtlUs: Long): DataFrame =
    withExpiry(cellBag)
      .filter(col("expiry_us") >= cutoffUs && col("ttl_us") >= minTtlUs)

  // ---------------------------------------------------------------------
  // SURVEY §2.1 query entries
  // ---------------------------------------------------------------------

  private val cutoffUs: Long = 1706140800000000L // 2024-01-25T00:00:00Z
  private val minTtlUs: Long = 600L * 1000000L   // -L 600 seconds
  private val splitUs: Long  = 1705276800000000L // 2024-01-15T00:00:00Z

  /** The `-T` arguments for an N-worker fan-out: N contiguous,
    * disjoint, exhaustive murmur3 ring slices. Both slice ends are
    * INCLUSIVE (the `-T`/tokenMin/tokenMax contract), so consecutive
    * slices meet at `cut` / `cut + 1` — a token is in exactly one
    * slice and the N sharded migrations reconstruct the unsharded run
    * with no overlap (spec-pinned, including the Long.Min/Max ring
    * ends). Even spacing over the token RANGE is the reference ring's
    * uniformity assumption (murmur3 output is uniform in the 64-bit
    * space); for a skewed directory, size workers from
    * [[describeSSTables]]' slice-local partition counts instead. */
  def planTokenSlices(n: Int): Seq[(String, String)] = {
    require(n >= 1, s"slice count must be >= 1, got $n")
    // Exact cut points on the 2^64-wide ring, computed in BigInt (a
    // driver-side one-off; 64-bit modular tricks save nothing here):
    // slice i covers unsigned offsets [floor(i·2^64/n),
    // floor((i+1)·2^64/n) - 1], mapped back to signed tokens.
    val two64 = BigInt(1) << 64
    def cut(i: Int): BigInt = two64 * i / n
    def tok(offset: BigInt): Long = (BigInt(Long.MinValue) + offset).toLong
    (0 until n).map { i =>
      (tok(cut(i)).toString, tok(cut(i + 1) - 1).toString)
    }
  }

  /** Pre-migration inventory of the input dirs — one row per SSTable
    * with version, generation, partitioner, discovered schema widths,
    * sizes, and Index.db partition counts (see
    * [[graft.sources.sstable.MaSSTableSource.describe]]); the numbers
    * that size a `-T` shard fan-out before any Data.db byte is read. */
  def describeSSTables(spark: SparkSession, sstableDirs: Seq[String],
      tokenRange: Option[(String, String)] = None): DataFrame =
    sstableDirs.map(d => graft.sources.sstable.MaSSTableSource
        .describe(spark, d, tokenRange).withColumn("dir", lit(d)))
      .reduce(_ unionAll _)
      .orderBy("dir", "file")

  /** The logical table of SSTable directories (multi-directory =
    * multi-generation): one row per surviving (key, col) with the
    * columns of [[lww]] over the [[cellsFromSSTables]] bag — key, col,
    * ts, seq, value, ttl_s, counter, deleted — and exactly its rows:
    * `lww(applyMarkerTombstones(bag))`, or [[mergeWithCounterSum]]'s
    * with `counterSum` (default = reference parity: LWW even for
    * counters; counterSum opts into the shard-summing merge a counter
    * table actually needs). Deleted winners stay in, for the caller to
    * drop and count.
    *
    * One scan over every generation feeds one per-key merge kernel
    * (`GenerationMergeExec`). When every Data.db has an Index.db and a
    * Statistics.db naming one partitioner, the scan plans merge slices
    * — ring ranges that span all generations, heap-merged by key — so
    * the plan has no exchange at all. Otherwise one hash exchange on
    * key (plus a sort) groups the cells for the same kernel.
    *
    * The resume key reaches the SOURCE (Index.db seek skips whole
    * partitions at plan time — the reference's `-s` Summary seek), as
    * does the token slice of a sharded run (`-T`, each worker's ring
    * range); the relational filter stays as the declarative form of
    * the resume bound so the rows are right over any source. */
  def mergeSSTables(
      spark: SparkSession,
      sstableDirs: Seq[String],
      columnsSpec: String,
      resumeKey: Option[String] = None,
      verifyChecksums: Boolean = true,
      tokenRange: Option[(String, String)] = None,
      clusteringIdentity: Boolean = false,
      counterSum: Boolean = false): DataFrame = {
    val grouped = graft.sources.sstable.MaSSTableSource.mergeSlicesApply(spark, sstableDirs)
    val cells = readSSTables(spark, sstableDirs, columnsSpec, resumeKey, verifyChecksums,
        tokenRange, clusteringIdentity, mergeSlices = grouped)
      .select(GenerationMergeApi.InputColumns.map(col): _*)
      .transform(df => resumeKey.fold(df)(k => df.filter(col("key") >= k)))
    GenerationMergeApi.merge(cells, counterSum, grouped)
  }

  /** The reference's whole job as one call (Cassandra2Aerospike.cpp
    * do_transfer): read SSTable directories (any supported format /
    * compression, multi-directory = multi-generation), reconstruct the
    * logical table (tombstones + LWW), apply the TTL policy flags, and
    * create-only-append the survivors into the keyed target, returning
    * the end-of-run statistics. `resumeKey` reproduces `-s` (scan only
    * keys at-or-after the resume point in raw-key ring order);
    * `dryRun` reproduces `-D` (render what WOULD be written, no write).
    *
    * At scale: the merge is [[mergeSSTables]] — merge slices (one ring
    * range of every generation per task) into the per-key kernel, no
    * exchange; SSTables without Index.db/Statistics.db take one hash
    * exchange on key into the same kernel. Policies are column
    * arithmetic, and the create-only check is one key anti-join. The
    * whole run is one Spark action
    * ([[graft.sinks.KeyedSink.appendWinners]]): every statistic is an
    * observed metric of the write itself.
    */
  def migrate(
      spark: SparkSession,
      sstableDirs: Seq[String],
      columnsSpec: String,
      targetPath: String,
      policy: Option[graft.sinks.KeyedSink.TtlPolicy] = None,
      resumeKey: Option[String] = None,
      dryRun: Boolean = false,
      verifyChecksums: Boolean = true,
      tokenRange: Option[(String, String)] = None,
      clusteringIdentity: Boolean = false,
      counterSum: Boolean = false,
      sinceTsUs: Option[Long] = None): Either[DataFrame, graft.sinks.KeyedSink.WriteStats] = {
    val merged = mergeSSTables(spark, sstableDirs, columnsSpec, resumeKey,
      verifyChecksums, tokenRange, clusteringIdentity, counterSum)
    // The export columns of a winner. A cell whose WINNING version is
    // a cell-tombstone is dead — the reference drops it at export and
    // counts it skipped (CassandraParser.cpp:481,524); exporting the
    // null-valued winner would resurrect deleted data in the target.
    def records(df: DataFrame): DataFrame = df
      .withColumn("expiry_us",
        when(col("ttl_s").isNotNull,
          unix_micros(col("ts")) + col("ttl_s") * 1000000L))
      .withColumn("ttl_us", coalesce(col("ttl_s") * 1000000L, lit(0L)))
      .drop("ttl_s", "counter", "deleted")
    // Incremental catch-up (`-W` watermark, beyond the reference —
    // which re-reads and re-offers everything and leans on create-only
    // to dedupe): a record whose WINNING cell is at or below the
    // previous run's high-water timestamp was already shipped, so it
    // is dropped before export and counted. The watermark applies to the
    // MERGED winners, not the raw cells: an old cell must still lose
    // the LWW to a newer one (and a newer tombstone must still kill
    // it), so merge correctness is unchanged — only the export set
    // shrinks.
    val unchanged: Column = sinceTsUs.fold(lit(false))(w =>
      !col("deleted") && unix_micros(col("ts")) <= w)
    if (dryRun)
      Left(records(merged.filter(!col("deleted") && !unchanged))
        .withColumn("cell_text",
          concat(col("col"), lit("="), coalesce(col("value").cast("string"), lit(""))))
        .withColumn("cell_hex", lower(hex(col("cell_text"))))
        .select(col("key"), col("col"), col("cell_text"), col("cell_hex"), col("expiry_us"))
        .orderBy(col("key"), col("col")))
    else
      // One action: deleted and unchanged winners are flagged, not
      // filtered, so the sink's observe node counts them in the same
      // pass that writes the survivors.
      Right(graft.sinks.KeyedSink.appendWinners(spark,
        records(merged.withColumn("_deleted", col("deleted")).withColumn("_unchanged", unchanged)),
        targetPath, policy))
  }

  /** #1 kv_lww_latest */
  def lwwLatest(spark: SparkSession, dir: String): DataFrame =
    lww(cells(spark, dir))
      .select(col("key"), col("col"), col("ts"), col("value"))
      .orderBy(col("key"), col("col"))

  /** #2 kv_generations_merge: 3-generation merge, per-key summary. */
  def generationsMerge(spark: SparkSession, dir: String): DataFrame =
    mergeGenerations(generations(spark, dir, 3))
      .groupBy(col("key"))
      .agg(count(lit(1)).as("n_cols"), max(col("ts")).as("last_write"))
      .orderBy(col("key"))

  /** #3 kv_tombstone_merge: row tombstones (whole-key markers) then LWW. */
  def tombstoneMerge(spark: SparkSession, dir: String): DataFrame =
    lww(applyMarkerTombstones(cells(spark, dir)
        .withColumn("range_start", lit(null).cast("string"))
        .withColumn("range_end", lit(null).cast("string"))))
      .select(col("key"), col("col"), col("ts"), col("value"))
      .orderBy(col("key"), col("col"))

  /** #4 kv_range_tombstone: range ['click','purchase'] tombstones then LWW. */
  def rangeTombstone(spark: SparkSession, dir: String): DataFrame =
    lww(applyMarkerTombstones(cells(spark, dir)
        .withColumn("range_start", lit("click"))
        .withColumn("range_end", lit("purchase"))))
      .select(col("key"), col("col"), col("ts"), col("value"))
      .orderBy(col("key"), col("col"))

  /** #5 kv_ttl_expiry: surviving cells at the cutoff with min-TTL discard. */
  def ttlExpiry(spark: SparkSession, dir: String): DataFrame =
    liveAt(cells(spark, dir), cutoffUs, minTtlUs)
      .select(col("key"), col("col"), col("seq"), col("ttl_us"), col("expiry_us"))
      .orderBy(col("key"), col("col"), col("seq"))

  /** #5b kv_prohibit_eternal: the `-x` flag (AerospikeWriter's
    * prohibit-eternal policy, mirrored in
    * [[graft.sinks.KeyedSink.TtlPolicy.prohibitEternal]]): cells
    * written WITHOUT a TTL — here deterministically every 5th write
    * sequence — are eternal (null expiry) and `-x` drops them even
    * though they would otherwise never expire; TTL'd cells keep the
    * kv_ttl_expiry live frame. Pure codegen'd column arithmetic. */
  def prohibitEternal(spark: SparkSession, dir: String): DataFrame =
    cells(spark, dir)
      .withColumn("ttl_us",
        when(pmod(col("seq"), lit(5)) =!= 0, floor(col("value") * 10 * 1e6)))
      .withColumn("expiry_us", unix_micros(col("ts")) + col("ttl_us"))
      .filter(col("expiry_us").isNotNull &&
              col("expiry_us") >= cutoffUs && col("ttl_us") >= minTtlUs)
      .select(col("key"), col("col"), col("seq"), col("ttl_us"), col("expiry_us"))
      .orderBy(col("key"), col("col"), col("seq"))

  /** #6 kv_record_ttl: record TTL from first- vs last-expiring live cell
    * (the `-f` flag chooses between these; both reported). */
  def recordTtl(spark: SparkSession, dir: String): DataFrame =
    liveAt(cells(spark, dir), cutoffUs, minTtlUs)
      .groupBy(col("key"))
      .agg(
        min(col("expiry_us")).as("first_expiry_us"),
        max(col("expiry_us")).as("last_expiry_us"),
        count(lit(1)).as("n_cells"))
      .orderBy(col("key"))

  /** #7 kv_create_only: create-only write of the post-split generation
    * against the pre-split target (AS_POLICY_EXISTS_CREATE) — written vs
    * skipped-existing counts, exactly the reference's end-of-run stats. */
  def createOnly(spark: SparkSession, dir: String): DataFrame = {
    val c = cells(spark, dir)
    val existing = c.filter(unix_micros(col("ts")) < splitUs)
      .select(col("key"), col("col")).distinct()
    val incoming = c.filter(unix_micros(col("ts")) >= splitUs)
    incoming.join(existing.withColumn("already", lit(1)),
        Seq("key", "col"), "left_outer")
      .agg(
        sum(when(col("already").isNull, 1L).otherwise(0L)).as("written"),
        sum(when(col("already").isNotNull, 1L).otherwise(0L)).as("skipped_existing"))
  }

  /** #8 kv_resume_scan: token-ordered scan resumed from a start key —
    * the Spark form of `-s <key>` + Summary/Index seek: a token-range
    * filter that prunes at the scan, then token order. DuckDB-oracled:
    * the sign-bug Murmur3 token is reproduced in closed-form SQL
    * (64-bit wrap arithmetic via MATERIALIZED CTEs, SparkEntry). */
  def resumeScan(spark: SparkSession, dir: String): DataFrame = {
    val startKey = "42"
    val startToken = graft.functions.CassandraMurmur3.token(
      org.apache.spark.unsafe.types.UTF8String.fromString(startKey))
    // The token filter is a pure key predicate, so it commutes with the
    // per-(key, col) LWW window — applying it BELOW the shuffle is the
    // Spark form of the reference's Summary/Index seek: skipped keys
    // never enter the exchange. (With a token-bucketed layout this
    // becomes genuine partition pruning.)
    lww(
      cells(spark, dir)
        .withColumn("token", cassandraToken(col("key")))
        .filter(col("token") >= startToken &&
                (col("token") > startToken || col("key") >= startKey)))
      .orderBy(col("token"), col("key"), col("col"))
  }

  /** #8d kv_token_range_scan: one shard's ring slice — the predicate a
    * DISTRIBUTED migration uses to split the reference's single-node
    * scan across executors: worker i of N owns tokens in
    * [ring·i/N, ring·(i+1)/N) and scans exactly that slice (the
    * reference's Summary/Index seek generalized from "resume at key" to
    * "read my token range"; [[graft.sources.sstable.MaSSTableSource]]
    * pushes the same bounds into the Index.db seek at plan time). Here:
    * LWW over the keys whose sign-bug-Murmur3 token lands between the
    * tokens of two sentinel keys, token-ring output order. The token
    * filter is a pure key predicate, so it commutes below the LWW
    * shuffle — skipped keys never enter the exchange. */
  def tokenRangeScan(spark: SparkSession, dir: String): DataFrame = {
    val t1 = graft.functions.CassandraMurmur3.token(
      org.apache.spark.unsafe.types.UTF8String.fromString("25"))
    val t2 = graft.functions.CassandraMurmur3.token(
      org.apache.spark.unsafe.types.UTF8String.fromString("75"))
    val (tMin, tMax) = (math.min(t1, t2), math.max(t1, t2))
    lww(cells(spark, dir)
        .withColumn("token", cassandraToken(col("key")))
        .filter(col("token") >= tMin && col("token") <= tMax))
      .orderBy(col("token"), col("key"), col("col"))
  }

  /** #8b kv_byte_ordered_scan: resume-from-key scan under the
    * ByteOrdered / OrderPreserving partitioners (Partitioners.cpp:
    * 212-240): both order the ring by the raw key bytes (memcmp /
    * string compare — identical total orders for these keys), so the
    * resume seek is a plain key-range predicate applied at the scan,
    * below the LWW shuffle (on a key-native layout it reaches parquet
    * row-group stats too; here the key is derived by a cast, which
    * stays in the scan's DataFilters), and ring order is ORDER BY key.
    * Spark's string comparison is a bytewise UTF-8 compare, i.e.
    * exactly memcmp-then-length — no token expression needed. */
  def byteOrderedScan(spark: SparkSession, dir: String): DataFrame = {
    val startKey = "42"
    lww(cells(spark, dir).filter(col("key") >= startKey))
      .select(col("key"), col("col"), col("ts"), col("value"))
      .orderBy(col("key"), col("col"))
  }

  /** #8c kv_random_resume_scan: resume under the RandomPartitioner ring
    * (Partitioners.cpp:28-74): total order is (token, key) with
    * token = |MD5(key)| read as a 128-bit two's-complement integer and
    * key memcmp as the tie-break. The fixed-width lowercase-hex token
    * string preserves the 16-byte memcmp order, so the seek is again a
    * pure key-derived predicate below the LWW shuffle. */
  def randomResumeScan(spark: SparkSession, dir: String): DataFrame = {
    val startKey = "42"
    val startToken = CassandraRandomMd5.tokenHex(startKey)
    lww(cells(spark, dir)
        .withColumn("token", randomToken(col("key")))
        .filter(col("token") > startToken ||
                (col("token") === startToken && col("key") >= startKey)))
      .select(col("token"), col("key"), col("col"), col("ts"), col("value"))
      .orderBy(col("token"), col("key"), col("col"))
  }

  /** #9c kv_long_key_tokens: the Murmur3 kernel over MULTI-BLOCK keys —
    * each distinct key padded to 20 / 37 / 52 bytes so the hash runs
    * its 1-, 2- and 3-block body rounds plus a tail (real Cassandra
    * keys are routinely longer than 15 bytes; the short-key queries
    * never leave the tail path). DuckDB-oracled against the full
    * block-loop closed form, so the body rounds sit under the hard
    * gate too. */
  def longKeyTokens(spark: SparkSession, dir: String): DataFrame =
    cells(spark, dir).select(col("key")).distinct()
      .select(
        col("key"),
        cassandraToken(rpad(col("key"), 20, "x")).as("token_1block"),
        cassandraToken(rpad(col("key"), 37, "y")).as("token_2block"),
        cassandraToken(rpad(col("key"), 52, "z")).as("token_3block"))
      .orderBy(col("key"))

  /** #9b kv_random_token_distribution: ring balance under the
    * RandomPartitioner — cells per top-byte bucket of the 128-bit
    * |MD5| token (buckets 0x00..0x80; the abs keeps the sign bit
    * clear except for the single extreme value). */
  def randomTokenDistribution(spark: SparkSession, dir: String): DataFrame =
    cells(spark, dir)
      .withColumn("token", randomToken(col("key")))
      .withColumn("bucket", conv(substring(col("token"), 1, 2), 16, 10).cast("int"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_cells"), countDistinct(col("key")).as("n_keys"))
      .orderBy(col("bucket"))

  /** #9 kv_token_distribution: ring balance — cells per 1/64th of the
    * token ring (what you'd use to pick split points at 100 TB). */
  def tokenDistribution(spark: SparkSession, dir: String): DataFrame =
    cells(spark, dir)
      .withColumn("token", cassandraToken(col("key")))
      // Arithmetic shift = floor division by 2^58: uniform 1/64th ring
      // buckets 0..63. (long/long division in Spark is double division
      // truncating toward zero — that gave a double-width middle
      // bucket and a stray 65th.)
      .withColumn("bucket", shiftright(col("token"), 58) + 32L)
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_cells"), countDistinct(col("key")).as("n_keys"))
      .orderBy(col("bucket"))

  /** #10 kv_export_stats: the reference's end-of-run accounting in one
    * pass (do_transfer's printf, Cassandra2Aerospike.cpp:386). */
  def exportStats(spark: SparkSession, dir: String): DataFrame = {
    val c = cells(spark, dir)
    val wKey = Window.partitionBy(col("key"))
    val wCell = Window.partitionBy(col("key"), col("col"))
      .orderBy(col("ts").desc, col("seq").desc)
    val annotated = c
      .withColumn("del_ts", max(when(col("col") === TombstoneCol, col("ts"))).over(wKey))
      .withColumn("rn", row_number().over(wCell))
      .withColumn("ttl_us", floor(col("value") * 10 * 1e6))
      .withColumn("expiry_us", unix_micros(col("ts")) + col("ttl_us"))
    annotated.agg(
      count(lit(1)).as("cells_read"),
      countDistinct(col("key")).as("rows_read"),
      sum(when(col("col") === TombstoneCol, 1L).otherwise(0L)).as("tombstone_cells"),
      sum(when(col("col") =!= TombstoneCol && col("rn") === 1 &&
               (col("del_ts").isNull || col("ts") > col("del_ts")), 1L)
        .otherwise(0L)).as("live_latest_cells"),
      sum(when(col("col") =!= TombstoneCol && col("del_ts").isNotNull &&
               col("ts") <= col("del_ts"), 1L).otherwise(0L)).as("tombstoned_cells"),
      sum(when(col("expiry_us") < cutoffUs, 1L).otherwise(0L)).as("expired_cells"))
  }

  /** #11b kv_counter_merge: counter-column semantics (COUNTER_MASK,
    * SSTable.hpp / SSTableSchema.cpp's counter type): counter cells
    * merge by SUM across generations instead of last-write-wins; the
    * read timestamp reported is the newest contributing write. One
    * hash aggregation on (key, col) — cheaper than LWW (no window
    * sort), and the partial aggregation is map-side combinable. */
  def counterMerge(spark: SparkSession, dir: String): DataFrame =
    cells(spark, dir)
      .groupBy(col("key"), col("col"))
      .agg(
        pres(sum(dec(col("value"), 2))).as("counter_value"),
        count(lit(1)).as("n_contributions"),
        max(col("ts")).as("last_write"))
      .orderBy(col("key"), col("col"))

  /** #11 kv_dry_run_format: DryRun.cpp record rendering — printable
    * detection + lowercase hex (binaryToHex/isPrintable, Utilities.cpp). */
  def dryRunFormat(spark: SparkSession, dir: String): DataFrame = {
    val rendered = concat(col("col"), lit("="), col("value").cast("decimal(12,2)").cast("string"))
    lww(cells(spark, dir))
      .withColumn("cell_text", rendered)
      .withColumn("cell_hex", lower(hex(rendered)))
      .withColumn("printable",
        length(regexp_replace(col("cell_text"), "[ -~]", "")) === 0)
      .select(col("key"), col("col"), col("cell_text"), col("cell_hex"), col("printable"))
      .orderBy(col("key"), col("col"))
  }
}
