package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col, concat, conv, expr, floor,
  least, lit, md5, sqrt, substring, sum}

/** Shared machinery for SESSION-BUILT persisted bucketed indexes —
  * the dedup signature index pair (graft.dedup.Dedup) and the ANN IVF
  * postings table (graft.similarity.Similarity) both follow the same
  * lifecycle, and before r15's review each carried its own copy of
  * every piece (review r15: near-copies kept in sync by hand):
  *
  *   1. a collision-proof table-name key,
  *   2. warehouse drop-and-recreate hygiene, and
  *   3. the append high-water manifest below.
  *
  * The built handle is memoized per session like every other derived
  * value, in a [[graft.functions.SessionScopedCache]].
  */
object PersistedIndex {

  /** The md5-ppm bucket of a key column — ONE definition of the
    * house deterministic-split convention (review r15 stretch: the
    * same five lines lived in Dedup.incBucket, Similarity.ivfIncBucket
    * and the Text/Multimodal/Curation sampling variants, hand-synced):
    * uniform-pseudorandom in [0, 1 000 000), KEY-derived — stable
    * under re-runs, repartitioning and data relocation — and
    * replayable in DuckDB as
    * `CAST(concat('0x', substring(md5(key || salt), 1, 12)) AS
    * UBIGINT) % 1000000`. `salt` is a Column so both literal salts
    * (`lit("#inc")`) and per-row salts (`concat(lit("#"),
    * col("source"))` — the stratified-sampling form) share it. */
  def ppmBucket(key: Column, salt: Column): Column =
    conv(substring(md5(concat(key.cast("string"), salt)
      .cast("binary")), 1, 12), 16, 10).cast("long") % 1000000L

  /** The rate half of the √n (temperature α = 0.5) samplers whose
    * per-row half is [[ppmBucket]] (a row is kept while its bucket <
    * `rate_ppm`). Adds to the per-group frame `groups`, sized by its
    * column `size` (documents or bytes): `w_q` = √size quantized to a
    * 2⁻²⁰ BIGINT, the column `target` = the group's √-share of half
    * the corpus (Σsize, in the column `total`), and `rate_ppm` =
    * min(10⁶, target · 10⁶ div size). After the correctly-rounded √
    * and floor everything is integer arithmetic (DECIMAL(38,0)
    * products, `div` floors), so every rate is bit-identical in the
    * DuckDB oracle. */
  def sqrtRates(groups: DataFrame, size: String, total: String,
      target: String): DataFrame = {
    val counts = groups.withColumn("w_q",
      floor(sqrt(col(size).cast("double")) * 1048576.0).cast("long"))
    val totals = counts.agg(sum(col("w_q")).as("w_total"), sum(col(size)).as(total))
    counts.crossJoin(broadcast(totals)) // 1-row scalar
      .withColumn(target,
        expr(s"""cast(cast($total div 2 as decimal(38,0)) * cast(w_q as decimal(38,0))
                |  div cast(w_total as decimal(38,0)) as bigint)""".stripMargin))
      .withColumn("rate_ppm",
        least(lit(1000000L),
          expr(s"""cast(cast($target as decimal(38,0)) * 1000000
                  |  div cast($size as decimal(38,0)) as bigint)""".stripMargin)))
  }

  /** Collision-proof table-name key (ADVICE r14: dir.hashCode could
    * collide across two dirs in one session, silently cross-serving
    * indexes): full MD5 hex of `dir` + NUL + `salt` — NUL can appear
    * in neither, so the pair is unambiguous (a separator that can
    * occur in a dir, like ' ', would make ("a ", "b") and
    * ("a", " b") collide). */
  def tableKey(dir: String, salt: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest((dir + "\u0000" + salt)
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map(b => f"$b%02x").mkString

  /** Drop a managed table AND its possibly-orphaned warehouse
    * directory: a PREVIOUS JVM may have left the directory in the
    * (filesystem-persistent) warehouse while the in-memory catalog
    * starts empty — saveAsTable would then refuse with
    * LOCATION_ALREADY_EXISTS. Also clears the table's append
    * manifest, so a rebuild resets the ingest high-water. */
  def dropAndClean(spark: SparkSession, table: String): Unit = {
    Seq(table, manifestOf(table)).foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val loc = new org.apache.hadoop.fs.Path(
        spark.conf.get("spark.sql.warehouse.dir"), t)
      val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(loc)) fs.delete(loc, true)
    }
  }

  private def manifestOf(table: String): String = table + "_hw"

  /** Per-index append locks (ADVICE r15): the manifest's overlap
    * check is check-then-write, so two concurrent appenders of the
    * SAME index could each see no overlap and both append — exactly
    * the silent double-insert the manifest exists to prevent. A JVM
    * lock keyed on the manifest name serializes them; a multi-DRIVER
    * deployment needs the same single-writer contract at the catalog
    * layer, which every production ingest pipeline already runs. */
  private val appendLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** Throw if [loIncl, hiExcl) overlaps an already-recorded append of
    * `table` — the loud half of exactly-once (the Kv.migrate -W
    * discipline applied to batch ingest). Why loud and not silent: a
    * repeated or overlapping append double-inserts rows, and under a
    * READ-time bucket cap a doubled bucket crosses the cap and is
    * dropped wholesale — real duplicates would then be reported as
    * clean (review r15). */
  private def checkAppendRange(
      spark: SparkSession, table: String, loIncl: Long, hiExcl: Long): Unit = {
    require(loIncl < hiExcl, s"empty append range [$loIncl, $hiExcl)")
    val manifest = manifestOf(table)
    if (spark.catalog.tableExists(manifest)) {
      val overlapping = spark.table(manifest)
        .filter(org.apache.spark.sql.functions.col("lo") < hiExcl &&
          org.apache.spark.sql.functions.col("hi") > loIncl)
        .count()
      if (overlapping > 0)
        throw new IllegalStateException(
          s"append range [$loIncl, $hiExcl) overlaps $overlapping already-" +
            s"ingested range(s) of $table — a repeated append would " +
            "double-insert postings; rebuild the index or pick a " +
            "disjoint range")
    }
  }

  /** Run `appends` (every table write of one ingest batch) under the
    * index's exactly-once bracket: the [loIncl, hiExcl) range is
    * overlap-CHECKED before, and RECORDED in the high-water manifest
    * only AFTER every append succeeds, the whole bracket serialized
    * per index by [[appendLocks]]. Recording last closes the ADVICE
    * r15 ordering hole: the old record-first form left a FAILED
    * append's range claimed, so a retry threw 'overlaps' while reads
    * silently missed the range's rows (dropped candidate pairs — real
    * duplicates reported clean). The remaining window is a failure
    * BETWEEN two appends of one batch: those rows sit un-manifested
    * and a retry double-appends the tables that did land. That is
    * detectable but only PARTIALLY loud — buckets past half the
    * read-time cap double across it (dropping candidates wholesale)
    * and the saturation audit's masked share jumps, while small
    * doubled buckets merely inflate candidate counts — so the safe
    * recovery after a mid-batch failure is REBUILD, not retry; the
    * bracket's job is to make the common failure (full-batch retry
    * after a recorded success, or after a failure before any append)
    * exactly-once, and to make the rare mid-batch case diagnosable. */
  def appendExactlyOnce(spark: SparkSession, table: String,
      loIncl: Long, hiExcl: Long)(appends: => Unit): Unit = {
    val lock = appendLocks.computeIfAbsent(manifestOf(table), _ => new Object)
    lock.synchronized {
      checkAppendRange(spark, table, loIncl, hiExcl)
      appends
      val session = spark
      import session.implicits._
      Seq((loIncl, hiExcl)).toDF("lo", "hi")
        .write.mode(org.apache.spark.sql.SaveMode.Append)
        .format("parquet").saveAsTable(manifestOf(table))
    }
  }
}
