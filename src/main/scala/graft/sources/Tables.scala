package graft.sources

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType, TimestampType}

/** Table registry for the graft engine.
  *
  * Contract: every table is a columnar scan that supports filter and
  * projection pushdown (parquet today; any DataSource V2 source later).
  * Callers never hand-roll paths, so swapping the storage layer (or
  * pointing at a 100 TB bucketed layout) is a one-line change here.
  *
  * A warm query compiles nothing and infers no schema:
  *  - Schema memo. [[apply]] infers a table's Parquet schema once per
  *    content version and reads with it afterwards. The schema is
  *    Spark's own inference, run once on a miss, so it is exact. The
  *    memo is a [[graft.functions.SessionScopedCache]] keyed by the
  *    table path, so its fingerprint covers only that table's files:
  *    rewriting one table re-infers that table alone. An inference is
  *    a Spark job: on 4 vCPU at sf0.01 a read costs 85–117 ms with it
  *    and 10–17 ms with the schema given. A lookup is a metadata read,
  *    not a pipeline build, so it does not count in
  *    [[graft.functions.DriverMemo]].
  *  - Codegen cache. [[sessionConfs]] sizes Spark's JVM-wide cache of
  *    generated classes to hold a whole registry pass (see there).
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  private val schemas =
    new graft.functions.SessionScopedCache[StructType]("tables.schema", countsAsBuild = false)

  /** Table `name` under `dir`, read with its memoized schema. A missing
    * table throws Spark's own path-not-found error from the inference. */
  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val schema = schemas.getOrCompute(spark, path)(spark.read.parquet(path).schema)
    spark.read.schema(schema).parquet(path)
  }

  /** `df` repartitioned ROUND-ROBIN to the session's shuffle
    * parallelism when its scan plans FEWER partitions — the
    * parallelism floor for EXPRESSION-HEAVY corpus passes (r16): a
    * single-row-group parquet source (every gen_scale fixture ≤ sf3;
    * parquet splits at row-group boundaries, so maxPartitionBytes
    * cannot help) plans exactly ONE task, which single-threads a
    * k×d-per-row assignment scan — measured 27 s for the sf1 kNN
    * trainer's five rounds, all on one core of 32. At production
    * layouts the source has more splits than cores and this is the
    * identity (no exchange added). RoundRobin, not hash: these passes
    * need cores, not co-location, and a keyless exchange cannot skew.
    * Reserved for scans feeding per-row O(k·d) work — a plain
    * columnar aggregate is cheaper than the exchange it would add. */
  def withMinParallelism(df: DataFrame): DataFrame = {
    // Idempotency guard (r16 review): the partition probe below goes
    // through df.rdd, and under AQE that MATERIALIZES any exchange
    // already in the frame — re-flooring an already-repartitioned
    // frame would run (and discard) the whole upstream shuffle job
    // just to read a partition count. Callers pass scan-shaped
    // frames; anything already repartitioned passes through.
    val repartitioned = df.queryExecution.logical.collectFirst {
      case r: org.apache.spark.sql.catalyst.plans.logical.Repartition => r
      case r: org.apache.spark.sql.catalyst.plans.logical.RepartitionByExpression => r
    }.nonEmpty
    if (repartitioned) df
    else {
      val target = df.sparkSession.sessionState.conf.numShufflePartitions
      if (df.rdd.getNumPartitions < target) df.repartition(target) else df
    }
  }

  /** Exact row count of a table from parquet FOOTER metadata — a
    * driver-side O(#files) metadata read, NO Spark job (VERDICT r13
    * #7 / r14 residue #5): a planner that needs |table| before
    * building its plan (the ANN adaptive-nLists rule) was paying a
    * full count() scan job ahead of the real job at corpus scale,
    * while parquet footers already carry the exact per-row-group
    * counts. At a 100 TB layout this is the catalog-statistics read —
    * a real deployment keeps the same number in the metastore; here
    * the footer IS the catalog. */
  def parquetRowCount(spark: SparkSession, dir: String, name: String): Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    dataFiles(spark, s"$dir/$name.parquet").map { f =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(f, conf)
      val rd = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try rd.getRecordCount finally rd.close()
    }.sum
  }

  /** Every data file under `path` — the path itself when it is a file,
    * else its directory tree — listed on the driver by filesystem
    * metadata calls, no Spark job. Names starting with `_` or `.`
    * (`_SUCCESS`, checksum sidecars, `_temporary`) are skipped. Throws
    * FileNotFoundException when `path` does not exist. Feeds the
    * footer row counts above and the session memo's content
    * fingerprint ([[graft.functions.SessionScopedCache]]). */
  def dataFiles(spark: SparkSession, path: String): Seq[FileStatus] = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def walk(st: FileStatus): Seq[FileStatus] =
      if (st.isFile) Seq(st)
      else fs.listStatus(st.getPath).toSeq.flatMap { c =>
        val n = c.getPath.getName
        if (n.startsWith("_") || n.startsWith(".")) Seq.empty else walk(c)
      }
    walk(fs.getFileStatus(root))
  }

  def region(spark: SparkSession, dir: String): DataFrame     = apply(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame     = apply(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame   = apply(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame   = apply(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame       = apply(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame     = apply(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame   = apply(spark, dir, "lineitem")
  /** Session configs every graft session needs; apply at session BUILD
    * (a table accessor must not mutate shared session state).
    *  - nanosAsLong: some vintages of `events.parquet` store INT64
    *    TIMESTAMP(NANOS), which the Spark parquet reader rejects unless
    *    nanos are read as long; harmless when the data is already micros.
    *  - session.timeZone=UTC: [[events]]' TIMESTAMP_NTZ→TIMESTAMP cast
    *    interprets the wall clock in the SESSION zone — pinning UTC here
    *    (not just in the mains that happened to set it) keeps every
    *    entry point's ts identical across machines and data vintages. */
  val sessionConfs: Map[String, String] = Map(
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.session.timeZone" -> "UTC",
    // Collect-style aggregations (CollectSetLimit postings/buckets,
    // collect_set week sets, TopKByScore heaps) plan as
    // ObjectHashAggregate, whose in-memory map falls back to
    // SORT-BASED aggregation past this many keys per task — and the
    // Spark default is 128, so every posting-list build was
    // effectively sorting its whole exchange (map side AND reduce
    // side). Measured at sf1 (r17 session 3): substring postings
    // 3.9–5.2 s sorted → 2.0 s hashed; shingle postings 5.7 → 4.3 s.
    // 1 M keys per task bounds the map at tens of MB for the engine's
    // cap-bounded buffers (≤ 200 longs each) while covering per-task
    // group counts at any corpus size where shuffle partitions scale
    // with the data; the sort fallback remains for degenerate tasks.
    "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" -> "1000000",
    // Spark's JVM-wide cache of generated classes (a static conf, read
    // once, when the code generator first runs). The default keeps 100
    // classes, but one pass over the registry at sf0.01, in Verify's
    // order, compiles 2,475–2,477 distinct ones (CodegenMetrics, two
    // runs), and the 12-query benchmark mix alone compiles 335–350:
    // the LRU evicted every class before the next pass asked for it
    // again, so each warm pass of the mix recompiled 171–197 of them.
    // 4,096 holds a whole registry pass with headroom. Holding that
    // pass costs ~19 MB of metaspace and ~76 MB of heap against the
    // default (measured after a full GC); a class is held only once
    // compiled, so a session that runs fewer queries holds fewer.
    "spark.sql.codegen.cache.maxEntries" -> "4096")

  /** Events with `ts` normalized to a microsecond TimestampType column,
    * whatever encoding the parquet writer chose. Known vintages:
    *  - INT64 TIMESTAMP(NANOS): arrives as LongType under
    *    [[sessionConfs]]' nanosAsLong — integer-divide to micros (`div`
    *    keeps exact integer space; double division loses precision at
    *    1.7e18-scale values).
    *  - timestamp[us] (TIMESTAMP_NTZ or TIMESTAMP): cast pass-through.
    *    Sessions pin `spark.sql.session.timeZone=UTC`, so the NTZ cast
    *    is wall-clock identity.
    * Branching on the scanned type (not a pinned vintage) keeps the
    * loader decoupled from whichever writer produced the directory.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    val raw = apply(spark, dir, "events")
    raw.schema("ts").dataType match {
      case LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampType =>
        raw
      case TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast(TimestampType))
      case other =>
        throw new IllegalArgumentException(
          s"events.ts: unsupported parquet type $other (expected INT64 nanos, timestamp, or timestamp_ntz)")
    }
  }
  def documents(spark: SparkSession, dir: String): DataFrame  = apply(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "embeddings")
}
