package graft.sources.sstable

import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets.UTF_8
import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSource V2 reader for the minimal "ma" SSTable subset decoded by
  * [[MaFormat]] — `spark.read.format("graft.sources.sstable.MaSSTableSource")`.
  *
  * A Data.db with a sibling Statistics.db is SELF-DESCRIBING: the
  * schema (columns / clustering / staticColumns), the per-file
  * minTimestamp / minTtl delta bases, and the partitioner are read
  * from its serialization header and validation metadata (the
  * reference's read_metadata, SSTable.cpp:275; SSTableSchema.cpp:121),
  * so none of those options are needed — exactly like the reference
  * CLI, which takes only paths. Explicit schema and partitioner
  * options override the discovered values; the delta bases are per
  * file and come only from Statistics.db (0 without one).
  *
  * One ring order: every SSTable and its Index.db are written in the
  * partitioner's (token, key) order, and everything that asks "where is
  * this key on the ring, and is it inside the scan?" asks one
  * [[RingOrder]] (one byte encoding of keys and token bounds) and one
  * [[RingBounds]] (the resume/slice predicate): the plan-time file skip,
  * summary floor and Index.db pass, the merge-slice cuts, the reader's
  * residual filter and `describe`'s `in_slice`. Each file's order comes
  * from one rule, [[MaSSTableSource.partitionerOf]].
  *
  * Options:
  *  - `path`: file or directory of `*-Data.db` files; several via
  *    `load(paths: _*)` (the `paths` option Spark sets for them)
  *  - `columns`: the regular-column schema, e.g. `"click:text,count:long"`
  *    (read from Statistics.db when present, SSTableSchema.cpp);
  *    complex collections spell as `tags:set<text>`, `log:list<long>`,
  *    `attrs:map<text,text>` — their sub-cells surface as
  *    `column[path]` rows and complex deletions as column-scoped range
  *    markers (the spec splits on top-level commas only, so map types
  *    nest fine)
  *  - `clustering`: clustering-key column TYPES in schema order, e.g.
  *    `"text,int32"` — values are parsed and skipped per row exactly as
  *    the reference does (SSTable.cpp:487 read_clustering_columns);
  *    required for any table with clustering keys
  *  - `clusteringIdentity` (default false = reference parity): render
  *    each row's clustering values into its cells' column identity
  *    (`ck1␟ck2␟col`, [[MaFormat.ClusteringSep]]-terminated values) so
  *    rows of a CLUSTERED table that differ only in clustering key
  *    survive the KV LWW merge as distinct records instead of
  *    silently collapsing; row deletions and paired open/close
  *    clustering-bound markers become column-RANGE tombstones over
  *    exactly their rows' name range. Parity mode discards the values
  *    (the reference targets unclustered tables) and treats every
  *    marker/row deletion as whole-partition
  *  - `staticColumns`: the static-row column schema (same shape as
  *    `columns`); required if the table has static columns
  *  - `resumeKey`: resume the scan from this key (the reference's `-s`
  *    flag): with an Index.db the seek skips every earlier partition at
  *    plan time (partitions read in index/ring order); without one the
  *    reader filters per partition — same rows either way
  *  - `tokenMin`, `tokenMax`: inclusive TOKEN bounds on the partitioner
  *    ring — the shard predicate a distributed migration uses (worker i
  *    of N reads ring·i/N ≤ token ≤ ring·(i+1)/N), generalizing the
  *    reference's resume seek from "start at key" to "read my slice".
  *    Format follows the partitioner ([[RingOrder.bound]]): a signed
  *    decimal long for `murmur3`, 32 lowercase hex chars (the |MD5|
  *    token) for `random`, raw key text for `byteOrdered`. With an
  *    Index.db BOTH bounds prune at plan time (the scan starts at the
  *    first in-range partition and STOPS at the first past-range one —
  *    partitions outside the slice are never read); the reader always
  *    applies the exact [[RingBounds]] residual, once per partition
  *  - `partitioner`: the [[RingOrder]] the resume seek and the slice
  *    walk, matching the reference's assign_token + init_at_key
  *    (CassandraParser.cpp:198): `byteOrdered` (raw-key memcmp),
  *    `murmur3` ((sign-bug Murmur3 token, key) order), `random`
  *    ((abs-MD5 token, key) order). Unset, each file's Statistics.db
  *    names it, else byteOrdered ([[MaSSTableSource.partitionerOf]])
  *  - `splitBytes`: target UNCOMPRESSED bytes per input split (default
  *    128 MiB). A Data.db with a sibling Index.db splits into multiple
  *    InputPartitions at partition-start offsets taken from the index
  *    (the reference's Summary/Index seek, Cassandra2Aerospike.cpp
  *    `-s`/`-S`, reused as the split planner); compressed files seek
  *    chunk-granularly via the CompressionInfo offsets. A file with no
  *    Index.db stays one split — the format is a stream and has no
  *    other safe cut points.
  *  - `mergeSlices` (set by [[graft.kv.Kv.migrate]] when
  *    [[MaSSTableSource.mergeSlicesApply]] holds): plan merge slices —
  *    each input partition one range of the token ring across every
  *    file, its files' ranges heap-merged by partition key, so all
  *    cells of a key arrive adjacent in one task (see
  *    `MaScan.planMergeSlices`). A key out of ring order fails the read
  *    with a [[RingOrderException]]
  *
  * Scale shape: without splitting, a multi-hundred-GB SSTable is one
  * task; with Index.db present the parallelism ceiling is
  * uncompressed-bytes / splitBytes, and the scan's [[RingBounds]] prune
  * at plan time — a resume key the ring prefix under any of the three
  * [[RingOrder]]s, a token slice BOTH ends (each of N workers reads only
  * its 1/N of every SSTable). Both planners make one pass per Index.db
  * that STREAMS the index (one entry in memory at a time, O(#ranges)
  * retained — a 100 GB Data.db's index runs to millions of entries),
  * and a sibling Summary.db seeds the seek exactly as the reference's
  * find_partition_in_summary (SSTable.cpp:121): binary-search the
  * in-memory sampled keys, then read the index only from the floor
  * entry on — the bytes before it are never touched.
  * Column pruning IS pushed down
  * (SupportsPushDownRequiredColumns): a pruned-away value column still
  * has to be skipped byte-wise (the format is a stream), but pruned
  * rows never materialize into InternalRow fields.
  */
class MaSSTableSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    MaSSTableSource.OutputSchema

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new MaTable(properties.asScala.toMap)
}

object MaSSTableSource {
  /** The cell-bag schema every Data.db decodes to — the engine's KV
    * operators (graft.kv.Kv) consume exactly this shape. */
  val OutputSchema: StructType = StructType(Seq(
    StructField("key", StringType, nullable = false),
    StructField("col", StringType, nullable = true), // null for markers
    StructField("ts", LongType, nullable = false),
    StructField("value", BinaryType, nullable = true),
    StructField("deleted", BooleanType, nullable = false),
    StructField("expiring", BooleanType, nullable = false),
    StructField("ttl_s", LongType, nullable = true),
    StructField("deletion_ts", LongType, nullable = true),
    StructField("marker", BooleanType, nullable = false),
    StructField("counter", BooleanType, nullable = false)))

  /** SSTable format version from the file name (the reference's
    * getVersionFromFilename, SSTable.cpp:191): "la"-and-later versions
    * lead the name ("ma-1-big-Data.db"); older names carry the version
    * in the third hyphen token ("ks-tbl-ka-1-Data.db"); ancient
    * single-letter versions ("ks-tbl-c-1-...") normalize to
    * letter+"a" exactly as the reference maps them, so version-string
    * comparisons stay total. Versions before "ma" use the legacy cell
    * framing; before "ja", the old count-framed row layout. */
  /** "la"-and-later file names LEAD with the version
    * ("nb-1-big-Data.db"); shared by [[versionOf]] and
    * [[generationOf]] so the two can never disagree on a name's
    * shape. */
  private def isVersionLedName(fileName: String): Boolean =
    fileName.length >= 3 && fileName(0) >= 'l' && fileName(0) <= 'z' &&
      fileName(1).isLetter && fileName(2) == '-'

  def versionOf(fileName: String): String = {
    if (isVersionLedName(fileName))
      fileName.substring(0, 2)
    else {
      val parts = fileName.split("-")
      if (parts.length >= 3 && parts(2).length == 2 && parts(2).forall(_.isLetter))
        parts(2)
      else if (parts.length >= 3 && parts(2).length == 1 &&
               parts(2)(0) >= 'a' && parts(2)(0) <= 'g')
        // Every ancient single-letter version ("a".."g" — "h"+ went
        // two-letter) normalizes to letter+"a"; e/f/g sort < "ja" and
        // carry the 8-byte row size, so they take the preJa path
        // instead of silently defaulting to the modern "ma" framing.
        parts(2) + "a"
      else "ma"
    }
  }

  /** The effective reader options of a planned scan — how tests and
    * EXPLAIN readers observe pushed seeks/slices; None for scans of
    * other sources. */
  def scanOptions(scan: org.apache.spark.sql.connector.read.Scan)
      : Option[Map[String, String]] = scan match {
    case m: MaScan => Some(m.options)
    case _ => None
  }

  /** The Data.db files a planned scan will actually open (one entry
    * per file range; a merge slice contributes one per file it reads)
    * — how tests observe file-level ring pruning. */
  def scanPartitionFiles(scan: org.apache.spark.sql.connector.read.Scan)
      : Option[Seq[String]] = scan match {
    case m: MaScan =>
      Some(m.planInputPartitions().toSeq.flatMap {
        case p: MaInputPartition => Seq(p.file)
        case s: MaMergeSlice => s.ranges.toSeq.map(_.file)
      })
    case _ => None
  }

  /** Unsigned bytewise compare, shorter-is-smaller on a shared prefix —
    * the memcmp order Cassandra keys and UTF8String both use. */
  def compareBytes(a: Array[Byte], b: Array[Byte]): Int =
    compareBytes(a, a.length, b, b.length)

  /** [[compareBytes]] of the first `aLen` bytes of `a` and `bLen` of `b`. */
  private[sstable] def compareBytes(a: Array[Byte], aLen: Int, b: Array[Byte], bLen: Int): Int = {
    var i = 0
    val n = math.min(aLen, bLen)
    while (i < n) {
      val d = (a(i) & 0xff) - (b(i) & 0xff)
      if (d != 0) return d
      i += 1
    }
    aLen - bLen
  }

  /** The partitioner a scan of one file walks: the `partitioner` option
    * when set, else the one its Statistics.db names (the reference's
    * read_metadata VALIDATION component), else byteOrdered. `stats` is
    * read only when the option is unset. */
  private[sstable] def partitionerOf(options: Map[String, String],
      stats: => Option[StatsFile.TableMeta]): RingOrder =
    RingOrder(options.get("partitioner").filter(_.trim.nonEmpty)
      .orElse(stats.flatMap(_.partitioner)).getOrElse("byteOrdered"))

  /** Can [[graft.kv.Kv.migrate]] read `paths` as merge slices? True when
    * every Data.db under them has an Index.db and a Statistics.db, and
    * those Statistics.db files all name the same partitioner. Only
    * sibling metadata is opened; a file whose Statistics.db does not
    * parse answers false, so the ordinary scan reports it. */
  def mergeSlicesApply(spark: org.apache.spark.sql.SparkSession, paths: Seq[String]): Boolean =
    mergePartitioner(Map.empty, paths.flatMap(listDataFiles(spark.sparkContext, _)),
      spark.sparkContext.hadoopConfiguration).isDefined

  /** The ring order of a merge-slice read of `files`: the one
    * [[partitionerOf]] gives every file, when each also has an Index.db
    * and a Statistics.db naming a partitioner, and all agree. */
  private[sstable] def mergePartitioner(options: Map[String, String],
      files: Seq[String], conf: org.apache.hadoop.conf.Configuration): Option[RingOrder] = {
    val declared = files.map { f =>
      val fs = new Path(f).getFileSystem(conf)
      if (!fs.exists(new Path(f.stripSuffix("Data.db") + "Index.db"))) None
      else scala.util.Try(statsFor(f, fs)).toOption.flatten.filter(_.partitioner.isDefined)
        .map(s => partitionerOf(options, Some(s)))
    }.distinct
    if (declared.size == 1) declared.head else None
  }

  /** The input paths of a scan: `paths` (the JSON array
    * `DataFrameReader.load(paths: _*)` sets for several) or `path`. */
  private[sstable] def inputPaths(options: Map[String, String]): Seq[String] =
    options.get("paths") match {
      case Some(json) =>
        new com.fasterxml.jackson.databind.ObjectMapper()
          .readValue(json, classOf[Array[String]]).toSeq
      case None => Seq(options.getOrElse("path",
        throw new IllegalArgumentException("path option required")))
    }

  def listDataFiles(spark: org.apache.spark.SparkContext, path: String): Seq[String] = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.hadoopConfiguration)
    val st = fs.getFileStatus(p)
    if (st.isDirectory)
      fs.listStatus(p).toSeq.filter(_.getPath.getName.endsWith("Data.db"))
        .map(_.getPath.toString).sorted
    else Seq(path)
  }

  /** SSTable generation number from the file name: modern names lead
    * with the version ("nb-42-big-Data.db" → 42), legacy names carry
    * it after the version token ("ks-tbl-ka-3-Data.db" → 3); -1 when
    * the name doesn't parse. */
  def generationOf(fileName: String): Long = {
    val parts = fileName.split("-")
    val tok =
      if (isVersionLedName(fileName)) parts.lift(1)
      else parts.lift(3) // ks-tbl-<version>-<generation>-...
    tok.filter(t => t.nonEmpty && t.forall(_.isDigit)).map(_.toLong).getOrElse(-1L)
  }

  private val DescribeSchema = StructType(Seq(
    StructField("file", StringType, nullable = false),
    StructField("version", StringType, nullable = false),
    StructField("generation", LongType, nullable = false),
    StructField("data_bytes", LongType, nullable = false),
    StructField("compressed", BooleanType, nullable = false),
    StructField("codec", StringType, nullable = true),
    StructField("chunk_len", IntegerType, nullable = true),
    StructField("uncompressed_bytes", LongType, nullable = true),
    StructField("partitioner", StringType, nullable = true),
    StructField("min_timestamp", LongType, nullable = true),
    StructField("min_ttl", LongType, nullable = true),
    StructField("clustering_cols", IntegerType, nullable = true),
    StructField("static_cols", IntegerType, nullable = true),
    StructField("regular_cols", IntegerType, nullable = true),
    StructField("index_partitions", LongType, nullable = true),
    StructField("summary_entries", IntegerType, nullable = true),
    // Summary.db trailing (first, last) partition keys — the file's
    // whole-ring footprint, known without opening Index/Data.
    StructField("first_key", StringType, nullable = true),
    StructField("last_key", StringType, nullable = true),
    // With a token slice: does this file's [first, last] ring range
    // overlap the slice? (null without Summary.db bounds.)
    StructField("in_slice", BooleanType, nullable = true),
    StructField("meta_error", StringType, nullable = true),
    // Keyspace/table deduced from the on-disk layout — the reference's
    // -t/-n defaulting (Cassandra2Aerospike.cpp:87-95): the modern
    // .../<keyspace>/<table>-<32hexuuid>/ directory shape, or the
    // legacy <ks>-<table>-<version>-<gen>- filename prefix.
    StructField("keyspace", StringType, nullable = true),
    StructField("table", StringType, nullable = true)))

  private val TableDirPattern = "^(.+)-[0-9a-f]{32}$".r

  /** Deduce (keyspace, table) for a Data.db path from the directory
    * layout (modern) or the filename prefix (legacy ka-era names). */
  def deduceKeyspaceTable(dataFile: String): (Option[String], Option[String]) = {
    val p = new Path(dataFile)
    val parentName = Option(p.getParent).map(_.getName)
    val grandName = Option(p.getParent).flatMap(pp => Option(pp.getParent)).map(_.getName)
    parentName.collect { case TableDirPattern(tbl) => tbl } match {
      case Some(tbl) => (grandName.filter(_.nonEmpty), Some(tbl))
      case None =>
        // Legacy: ks-tbl-<version>-<gen>-... filename carries the names.
        val parts = p.getName.split("-")
        if (parts.length >= 5 && parts(2).length == 2 &&
            parts(2).forall(_.isLetter) && parts(3).forall(_.isDigit))
          (Some(parts(0)), Some(parts(1)))
        else (None, None)
    }
  }

  /** Directory-level metadata report — the operational "what's here" a
    * real migration plans from: versions present, ring/partitioner,
    * discovered schema widths, per-file and uncompressed sizes, and
    * Index.db partition counts (the numbers that size a `-T` shard
    * fan-out). One row per Data.db. Only sibling METADATA files are
    * opened (Statistics / CompressionInfo / Index / Summary — never
    * Data.db itself), and the per-file parse runs on the executors, so
    * a directory of thousands of SSTables describes in one small job.
    * Beyond the reference CLI, which reports nothing until it scans.
    *
    * `tokenRange`: a worker's prospective `-T` slice (either side empty
    * for an open end). When given, each row carries `in_slice` — does
    * the file's Summary-bound ring range overlap the slice? — so a
    * sharded fan-out sizes each worker from slice-local file and
    * partition counts BEFORE launching anything (the same
    * [[RingBounds.overlaps]] test, under the same [[partitionerOf]] rule,
    * the planner uses to skip whole files at plan time). */
  def describe(spark: org.apache.spark.sql.SparkSession, path: String,
      tokenRange: Option[(String, String)] = None)
      : org.apache.spark.sql.DataFrame = {
    val files = listDataFiles(spark.sparkContext, path)
    val hconf = new org.apache.spark.util.SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)
    val rows = spark.sparkContext
      .parallelize(files, math.max(1, math.min(files.size,
        spark.sparkContext.defaultParallelism)))
      .map { f =>
        val dataPath = new Path(f)
        val fs = dataPath.getFileSystem(hconf.value)
        val name = dataPath.getName
        val version = versionOf(name)
        val stem = f.stripSuffix("Data.db")
        // An inventory must REPORT a corrupt sibling (nulls + the
        // error), not abort the whole job over one bad file — a
        // broken Statistics.db is exactly what a pre-migration triage
        // is looking for.
        val errors = Seq.newBuilder[String]
        def withSibling[A](component: String)(read: java.io.InputStream => A)
            : Option[A] = {
          val p = new Path(stem + component)
          if (!fs.exists(p)) None
          else scala.util.Try {
            val in = fs.open(p)
            try read(in) finally in.close()
          } match {
            case scala.util.Success(a) => Some(a)
            case scala.util.Failure(ex) =>
              errors += s"$component: ${ex.getMessage}"
              None
          }
        }
        val stats = withSibling("Statistics.db")(
          StatsFile.read(_, version, stem + "Statistics.db"))
        val ci = withSibling("CompressionInfo.db")(
          CompressedBlocks.readCompressionInfo)
        val indexPartitions = withSibling("Index.db") { in =>
          var n = 0L
          val it = MaFormat.indexEntries(in, version)
          while (it.hasNext) { it.next(); n += 1 }
          n
        }
        // One open + one parse per Summary.db for BOTH the entry count
        // and the bound keys (a directory of thousands of files on a
        // high-latency filesystem pays per open).
        val summaryAll = withSibling("Summary.db")(
          MaFormat.readSummaryWithBounds(_, version))
        val summaryEntries = summaryAll.map(_._1.length)
        val bounds = summaryAll.flatMap(_._2)
        def keyText(b: Array[Byte]): String = new String(b, UTF_8)
        // Slice overlap on the Summary bounds — the planner's
        // whole-file skip, surfaced as data.
        val inSlice: Option[Boolean] = for {
          (tMin, tMax) <- tokenRange
          (firstKey, lastKey) <- bounds
        } yield new RingBounds(partitionerOf(Map.empty, stats), None, Some(tMin), Some(tMax))
          .overlaps(firstKey, lastKey)
        val metaError = {
          val es = errors.result()
          if (es.isEmpty) null else es.mkString("; ")
        }
        val ksTbl = deduceKeyspaceTable(f)
        org.apache.spark.sql.Row(
          name, version, generationOf(name),
          fs.getFileStatus(dataPath).getLen,
          ci.isDefined,
          ci.map(_.codec.toString).orNull,
          ci.map(i => Integer.valueOf(i.chunkLen)).orNull,
          ci.map(i => java.lang.Long.valueOf(i.uncompressedLen)).orNull,
          stats.flatMap(_.partitioner).orNull,
          stats.map(s => java.lang.Long.valueOf(s.minTimestamp)).orNull,
          stats.map(s => java.lang.Long.valueOf(s.minTtl)).orNull,
          stats.map(s => Integer.valueOf(s.clustering.size)).orNull,
          stats.map(s => Integer.valueOf(s.staticColumns.size)).orNull,
          stats.flatMap(_.columns).map(c => Integer.valueOf(c.size)).orNull,
          indexPartitions.map(java.lang.Long.valueOf).orNull,
          summaryEntries.map(Integer.valueOf).orNull,
          bounds.map(b => keyText(b._1)).orNull,
          bounds.map(b => keyText(b._2)).orNull,
          inSlice.map(java.lang.Boolean.valueOf).orNull,
          metaError,
          ksTbl._1.orNull,
          ksTbl._2.orNull)
      }
    spark.createDataFrame(rows, DescribeSchema).orderBy("file")
  }

  /** Sibling Statistics.db metadata for a Data.db, if present — the
    * reference's read_metadata (SSTable.cpp:275) makes the table
    * self-describing; explicit options still win where given. */
  def statsFor(
      dataFile: String,
      fs: org.apache.hadoop.fs.FileSystem): Option[StatsFile.TableMeta] = {
    val sp = new Path(dataFile.stripSuffix("Data.db") + "Statistics.db")
    if (!fs.exists(sp)) None
    else {
      val in = fs.open(sp)
      try Some(StatsFile.read(in, versionOf(new Path(dataFile).getName), sp.toString))
      finally in.close()
    }
  }
}

/** One partitioner's ring order — the order every SSTable and its
  * Index.db are written in (the reference's assign_token + init_at_key,
  * CassandraParser.cpp:198): (token, key) for the hashing partitioners,
  * the raw key for byteOrdered. Keys and bounds share one byte encoding
  * under [[MaSSTableSource.compareBytes]]: `sortKey(k)` is the token in
  * a fixed-width, order-preserving form followed by the raw key;
  * `bound(s)` is a `tokenMin`/`tokenMax` string as that token prefix,
  * and [[compareToken]] compares only the prefix, so a bound equals
  * every key of its token. */
sealed abstract class RingOrder(val name: String, tokenWidth: Int) extends Serializable {
  def sortKey(k: Array[Byte]): Array[Byte]
  def bound(s: String): Array[Byte]
  final def compareToken(sk: Array[Byte], bound: Array[Byte]): Int =
    MaSSTableSource.compareBytes(sk, math.min(sk.length, tokenWidth), bound, bound.length)
}

object RingOrder {
  /** Raw-key memcmp: a key is its own token; a bound is key text. */
  case object ByteOrdered extends RingOrder("byteOrdered", Int.MaxValue) {
    def sortKey(k: Array[Byte]): Array[Byte] = k
    def bound(s: String): Array[Byte] = s.getBytes(UTF_8)
  }
  /** The signed Murmur3 token as 8 big-endian bytes with the sign bit
    * flipped (so it sorts unsigned); a bound is a signed decimal long. */
  case object Murmur3 extends RingOrder("murmur3", 8) {
    def sortKey(k: Array[Byte]): Array[Byte] = ByteBuffer.allocate(8 + k.length)
      .putLong(graft.functions.CassandraMurmur3.token(k) ^ Long.MinValue).put(k).array()
    def bound(s: String): Array[Byte] =
      ByteBuffer.allocate(8).putLong(s.trim.toLong ^ Long.MinValue).array()
  }
  /** The 16 |MD5| token bytes; a bound is 32 lowercase hex chars. */
  case object Random extends RingOrder("random", 16) {
    def sortKey(k: Array[Byte]): Array[Byte] = ByteBuffer.allocate(16 + k.length)
      .put(graft.functions.CassandraRandomMd5.tokenBytes(k)).put(k).array()
    def bound(s: String): Array[Byte] = {
      require(s.matches("[0-9a-f]{32}"),
        s"random-partitioner token bound must be 32 lowercase hex chars: $s")
      java.util.HexFormat.of().parseHex(s)
    }
  }

  def apply(partitioner: String): RingOrder = partitioner match {
    case "byteOrdered" => ByteOrdered
    case "murmur3" => Murmur3
    case "random" => Random
    case other => throw new IllegalArgumentException(
      s"unknown partitioner: $other (byteOrdered | murmur3 | random)")
  }
}

/** The part of the ring a scan reads, in one [[RingOrder]]: keys from
  * `resumeKey` on (by (token, key)) whose tokens lie in [`tokenMin`,
  * `tokenMax`]; an absent or empty bound is open. Every test takes sort
  * keys. The planner, the reader's residual filter and `describe`'s
  * `in_slice` all ask this one predicate. */
final class RingBounds(val order: RingOrder, resumeKey: Option[String],
    tokenMin: Option[String], tokenMax: Option[String]) {
  private val start = resumeKey.filter(_.nonEmpty).map(k => order.sortKey(k.getBytes(UTF_8))).orNull
  private val lo = tokenMin.filter(_.nonEmpty).map(order.bound).orNull
  private val hi = tokenMax.filter(_.nonEmpty).map(order.bound).orNull
  /** The scan starts past the ring's first key. */
  val seeks: Boolean = start != null || lo != null
  /** Some bound narrows the scan. */
  val narrowed: Boolean = seeks || hi != null

  def inStart(sk: Array[Byte]): Boolean =
    (start == null || MaSSTableSource.compareBytes(sk, start) >= 0) &&
      (lo == null || order.compareToken(sk, lo) >= 0)
  def pastEnd(sk: Array[Byte]): Boolean = hi != null && order.compareToken(sk, hi) > 0
  def contains(sk: Array[Byte]): Boolean = inStart(sk) && !pastEnd(sk)
  /** Can a file whose raw keys run from `first` to `last` hold one inside? */
  def overlaps(first: Array[Byte], last: Array[Byte]): Boolean =
    inStart(order.sortKey(last)) && !pastEnd(order.sortKey(first))
}

object RingBounds {
  /** Does a scan with these options set a bound? */
  def set(options: Map[String, String]): Boolean =
    Seq("resumeKey", "tokenMin", "tokenMax").exists(options.get(_).exists(_.nonEmpty))
  def apply(order: RingOrder, options: Map[String, String]): RingBounds =
    new RingBounds(order, options.get("resumeKey"), options.get("tokenMin"), options.get("tokenMax"))
}

private[sstable] class MaTable(private[sstable] val props: Map[String, String])
    extends Table with SupportsRead {
  override def name(): String =
    s"ma-sstable(${scala.util.Try(MaSSTableSource.inputPaths(props).mkString(", ")).getOrElse("?")})"
  // Standard DSv2 surface for the effective options — also how tests
  // (and EXPLAIN readers) observe a pushed ring slice.
  override def properties(): util.Map[String, String] = props.asJava
  override def schema(): StructType = MaSSTableSource.OutputSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new MaScanBuilder(options.asScala.toMap ++ props)
}

private[sstable] class MaScanBuilder(options: Map[String, String])
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with org.apache.spark.sql.connector.read.SupportsPushDownFilters {
  private var required: StructType = MaSSTableSource.OutputSchema
  private var opts = options
  private var pushed: Array[org.apache.spark.sql.sources.Filter] = Array.empty
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** Standard DSv2 filter pushdown: a lower bound on `key` becomes the
    * source's `resumeKey` — the reference's `-s` Summary/Index seek —
    * when the ring order is EXPLICITLY byteOrdered (raw-key order; the
    * only ring where key order and seek order coincide — under
    * murmur3/random a key bound says nothing about ring position, and
    * an absent option defers to each file's own Statistics.db, which
    * the builder cannot see). The tightest bound wins; a strict `>`
    * seeks to the bound too (the residual filter drops the boundary
    * row). EVERY filter stays residual: the seek is purely plan-time
    * and reader-side pruning, so correctness never depends on it. */
  override def pushFilters(filters: Array[org.apache.spark.sql.sources.Filter])
      : Array[org.apache.spark.sql.sources.Filter] = {
    if (opts.get("partitioner").contains("byteOrdered") &&
        !opts.contains("resumeKey")) {
      import org.apache.spark.sql.sources.{EqualTo, GreaterThan, GreaterThanOrEqual}
      val contributing = filters.collect {
        case f @ GreaterThanOrEqual("key", v: String) => (f, v)
        case f @ GreaterThan("key", v: String) => (f, v)
        case f @ EqualTo("key", v: String) => (f, v)
      }
      if (contributing.nonEmpty) {
        // Tightest = ring-greatest, i.e. UTF-8 BYTE order (the memcmp
        // order the seek walks) — Scala String max would compare
        // UTF-16 code units, which diverges for supplementary-plane
        // keys.
        val tightest = contributing.map(_._2).reduce((a, b) =>
          if (MaSSTableSource.compareBytes(a.getBytes(UTF_8), b.getBytes(UTF_8)) >= 0) a else b)
        opts = opts + ("resumeKey" -> tightest)
        pushed = contributing.map(_._1)
      }
    }
    filters
  }
  override def pushedFilters(): Array[org.apache.spark.sql.sources.Filter] = pushed

  override def build(): Scan = new MaScan(opts, required)
}

private[sstable] class MaScan(
    private[sstable] val options: Map[String, String],
    private[sstable] val required: StructType)
    extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this

  override def planInputPartitions(): Array[InputPartition] = {
    val splitBytes = options.getOrElse("splitBytes", (128L * 1024 * 1024).toString).toLong
    val spark = org.apache.spark.sql.SparkSession.active
    val conf = spark.sparkContext.hadoopConfiguration
    val files = MaSSTableSource.inputPaths(options)
      .flatMap(MaSSTableSource.listDataFiles(spark.sparkContext, _))
    if (options.get("mergeSlices").contains("true"))
      planMergeSlices(files, splitBytes, spark.sparkContext.defaultParallelism, conf)
    else files.flatMap(planSplits(_, splitBytes, conf)).toArray
  }

  private def sibling(file: String, component: String): Path =
    new Path(file.stripSuffix("Data.db") + component)

  private def uncompressedLen(file: String, fs: org.apache.hadoop.fs.FileSystem): Long = {
    val ciPath = sibling(file, "CompressionInfo.db")
    if (fs.exists(ciPath)) {
      val in = fs.open(ciPath)
      try CompressedBlocks.readCompressionInfo(in).uncompressedLen finally in.close()
    } else fs.getFileStatus(new Path(file)).getLen
  }

  /** FILE-level ring pruning: the Summary's trailing (first, last)
    * keys bound the whole file's ring range (SSTables are written in
    * ring order), so a sharded worker (-T) or resumed scan skips a
    * non-overlapping SSTable without opening its Index.db at all —
    * at 1000 executors × 1/N slices this is the difference between
    * "every worker touches every file's index" and "each worker plans
    * only its own files". Even an index-less file is skipped on its
    * bounds. Purely an optimization: the index seek (and the caller's
    * residual filter) excludes the same partitions anyway, and files
    * without readable bounds are never skipped. */
  private def outsideBounds(
      file: String, version: String, fs: org.apache.hadoop.fs.FileSystem,
      b: RingBounds): Boolean = {
    val sumPath = sibling(file, "Summary.db")
    b.narrowed && fs.exists(sumPath) && {
      val sin = fs.open(sumPath)
      val bounds = try MaFormat.readSummaryBounds(sin, version) finally sin.close()
      bounds.exists { case (firstKey, lastKey) => !b.overlaps(firstKey, lastKey) }
    }
  }

  /** Where the index pass of a seeking scan may start reading Index.db.
    * Summary.db floor (the reference's find_partition_in_summary,
    * SSTable.cpp:121-180): the last SAMPLED entry strictly before the
    * seek target is a safe place to start reading the index — every
    * skipped index byte belongs to partitions the slice excludes
    * anyway. Without a summary the index is read from byte 0 (still
    * streamed, never materialized).
    *
    * The summary is PURELY an optimization (the index pass re-checks
    * every entry), so a truncated/corrupt Summary.db degrades to the
    * always-safe scan-from-0, never aborts the query a plain Index.db
    * could have planned. Parsing alone is not enough of a guard: a
    * summary that PARSES but carries a stale position would land the
    * seek mid-entry and the index stream would misparse silently — so
    * the candidate position is verified by actually reading the index
    * entry there and checking it is the very key the summary
    * sampled. */
  private def indexSeekFloor(
      file: String, version: String, fs: org.apache.hadoop.fs.FileSystem,
      b: RingBounds): Long = {
    val sumPath = sibling(file, "Summary.db")
    val idxPath = sibling(file, "Index.db")
    if (!b.seeks || !fs.exists(sumPath)) 0L
    else scala.util.Try {
      val sin = fs.open(sumPath)
      val summary =
        try MaFormat.readSummary(sin, version)
        finally sin.close()
      // inStart is monotone along the summary's ring order
      // (false* true*) — binary-search the last false.
      var lo = 0
      var hi = summary.length - 1
      var floor = -1
      while (lo <= hi) {
        val mid = (lo + hi) >>> 1
        if (!b.inStart(b.order.sortKey(summary(mid)._1))) { floor = mid; lo = mid + 1 }
        else hi = mid - 1
      }
      if (floor < 0) 0L
      else {
        val pos = summary(floor)._2
        require(pos >= 0 && pos < fs.getFileStatus(idxPath).getLen,
          s"summary position $pos outside Index.db")
        val vin = fs.open(idxPath)
        val firstKey =
          try { vin.seek(pos); MaFormat.indexEntries(vin, version).next()._1 }
          finally vin.close()
        require(java.util.Arrays.equals(firstKey, summary(floor)._1),
          "summary position does not point at its sampled key")
        pos
      }
    }.getOrElse(0L)
  }

  /** One streaming pass over a file's Index.db — the only one both
    * planners make; O(#ranges) retained. It starts at the summary floor
    * when the scan seeks. The first entry inside `b` opens a range,
    * `opens(sortKey, position)` — asked of every later entry inside `b`
    * — says where the next one starts, and the first entry past the end
    * caps the last, so partitions outside the bounds are never read.
    * Each range comes with the sort key of its first partition. An
    * empty Index.db yields the whole file, with a null key.
    *
    * With `checkOrder`, consecutive keys must ascend in the ring order,
    * and their positions too: anything else is a [[RingOrderException]],
    * never a silent mis-merge. Plain scans leave it off — without a
    * bound they walk byteOrdered whatever the files' partitioner. */
  private def indexRanges(file: String, fs: org.apache.hadoop.fs.FileSystem, b: RingBounds,
      checkOrder: Boolean)(opens: (Array[Byte], Long) => Boolean)
      : Seq[(Array[Byte], MaInputPartition)] = {
    val version = MaSSTableSource.versionOf(new Path(file).getName)
    val idxPath = sibling(file, "Index.db")
    val seek = indexSeekFloor(file, version, fs, b)
    val fin = fs.open(idxPath)
    try {
      if (seek > 0) fin.seek(seek)
      val it = MaFormat.indexEntries(fin, version)
      if (!it.hasNext && seek == 0) return Seq((null, MaInputPartition(file)))
      val out = Seq.newBuilder[(Array[Byte], MaInputPartition)]
      var prevKey: Array[Byte] = null
      var prevSort: Array[Byte] = null
      var prevPos = -1L
      var first: Array[Byte] = null
      var start = -1L
      var endCap = Long.MaxValue
      var done = false
      while (!done && it.hasNext) {
        val (k, p) = it.next()
        val sk = b.order.sortKey(k)
        if (checkOrder) {
          if (prevSort != null &&
              (MaSSTableSource.compareBytes(prevSort, sk) >= 0 || p <= prevPos))
            throw RingOrderException.outOfOrder(idxPath.toString, p, prevKey, k, b.order.name)
          prevKey = k; prevSort = sk; prevPos = p
        }
        if (b.pastEnd(sk)) { endCap = p; done = true }
        else if (b.inStart(sk) && (opens(sk, p) || start < 0)) {
          if (start >= 0) out += first -> MaInputPartition(file, start, p)
          first = sk
          start = p
        }
      }
      if (start >= 0) out += first -> MaInputPartition(file, start, endCap)
      out.result()
    } finally fin.close()
  }

  /** Split one Data.db at Index.db partition boundaries: a new split
    * starts at the first partition-start offset at or past each
    * `splitBytes` of the previous split's start (offsets are positions
    * in the UNCOMPRESSED stream — the only safe cut points the format
    * has). The scan's [[RingBounds]] skip whole files on their Summary.db
    * bounds and every partition outside them at plan time — the
    * reference's `-s` Summary/Index seek, generalized to token slices;
    * the reader still filters residually, so indexless files return the
    * same rows. The ring order is consulted only when a bound is set, so
    * a plain scan opens no Statistics.db here. The index is tiny
    * relative to its Data.db, so the driver-side read is the same cost
    * class as parquet footer planning. */
  private def planSplits(
      file: String, splitBytes: Long,
      conf: org.apache.hadoop.conf.Configuration): Seq[InputPartition] = {
    val dataPath = new Path(file)
    val fs = dataPath.getFileSystem(conf)
    val b = RingBounds(
      if (RingBounds.set(options))
        MaSSTableSource.partitionerOf(options, MaSSTableSource.statsFor(file, fs))
      else RingOrder.ByteOrdered,
      options)
    if (outsideBounds(file, MaSSTableSource.versionOf(dataPath.getName), fs, b)) Nil
    else if (!fs.exists(sibling(file, "Index.db"))) Seq(MaInputPartition(file))
    else {
      var next = Long.MinValue
      indexRanges(file, fs, b, checkOrder = false) { (_, p) =>
        p >= next && { next = p + splitBytes; true }
      }.map(_._2)
    }
  }

  /** Merge slices: input partitions that each cover one contiguous
    * range of the token ring across EVERY file, so all cells of a key,
    * from every generation, land in one task (the reference's k-way
    * merge over token-sorted SSTables, CassandraParser.cpp:375-532,
    * cut into ring ranges). Every file needs an Index.db and a
    * Statistics.db, all naming one partitioner.
    *
    *  - Cut keys are ring-order quantiles of the files' Summary.db
    *    samples (of their Index.db entries when a file has none);
    *    `max(defaultParallelism, uncompressed bytes / splitBytes)`
    *    slices.
    *  - The files' [[indexRanges]] passes assign each file's partitions
    *    to slices as byte ranges, inside the scan's [[RingBounds]], and
    *    check that the index keys ascend in ring order.
    *  - The reader ([[MergedCells]]) heap-merges the ranges of a slice
    *    by partition key and fails with a [[RingOrderException]] on a
    *    Data.db key out of ring order or outside its slice. */
  private def planMergeSlices(
      files: Seq[String], splitBytes: Long,
      parallelism: Int, conf: org.apache.hadoop.conf.Configuration): Array[InputPartition] = {
    val fs = (f: String) => new Path(f).getFileSystem(conf)
    val order = MaSSTableSource.mergePartitioner(options, files, conf).getOrElse(
      throw new IllegalStateException("merge slices need an Index.db and a " +
        "Statistics.db naming one partitioner beside every Data.db under " +
        MaSSTableSource.inputPaths(options).mkString(", ")))
    val b = RingBounds(order, options)
    val live = files.filterNot(f =>
      outsideBounds(f, MaSSTableSource.versionOf(new Path(f).getName), fs(f), b))
    val samples = live.flatMap(f => sampleKeys(f, fs(f)))
      .map(order.sortKey)
      .filter(b.contains)
      .sortWith(MaSSTableSource.compareBytes(_, _) < 0)
    val bytes = live.map(f => uncompressedLen(f, fs(f))).sum
    val nSlices = math.min(math.max(parallelism.toLong, bytes / splitBytes), samples.size.toLong)
    val cuts = {
      val picked = (1L until nSlices).map(i => samples((i * samples.size / nSlices).toInt))
      picked.headOption.toSeq ++ picked.sliding(2).collect {
        case Seq(a, c) if MaSSTableSource.compareBytes(a, c) < 0 => c
      }
    }.toArray
    // The slice of a sort key: the number of cut keys at or before it
    // (slice 0 for the whole-file range of an empty Index.db).
    def sliceOf(sk: Array[Byte]): Int = {
      var lo = 0
      var hi = if (sk == null) 0 else cuts.length
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (MaSSTableSource.compareBytes(cuts(mid), sk) <= 0) lo = mid + 1 else hi = mid
      }
      lo
    }
    val perSlice = Array.fill(cuts.length + 1)(Seq.newBuilder[MaInputPartition])
    live.foreach { f =>
      var slice = -1
      val ranges = indexRanges(f, fs(f), b, checkOrder = true) { (sk, _) =>
        val s = sliceOf(sk)
        s != slice && { slice = s; true }
      }
      ranges.foreach {
        // An empty index over an empty Data.db holds nothing; over a
        // non-empty one it is one whole-file range, and the reader's
        // slice check fails loudly on any key it does not own.
        case (null, _) if fs(f).getFileStatus(new Path(f)).getLen == 0 =>
        case (sk, range) => perSlice(sliceOf(sk)) += range
      }
    }
    perSlice.indices.flatMap { i =>
      val ranges = perSlice(i).result()
      if (ranges.isEmpty) None
      else Some(MaMergeSlice(ranges.toArray,
        if (i == 0) null else cuts(i - 1),
        if (i == cuts.length) null else cuts(i)))
    }.toArray
  }

  /** Ring-order samples of one file's keys: its Summary.db entries, or
    * — without a readable summary — every n-th Index.db entry, n
    * doubling whenever more than 4096 are kept (bounded memory over a
    * multi-million-entry index). */
  private def sampleKeys(file: String, fs: org.apache.hadoop.fs.FileSystem): Seq[Array[Byte]] = {
    val version = MaSSTableSource.versionOf(new Path(file).getName)
    val sumPath = sibling(file, "Summary.db")
    val fromSummary =
      if (!fs.exists(sumPath)) None
      else scala.util.Try {
        val in = fs.open(sumPath)
        try MaFormat.readSummary(in, version).map(_._1).toSeq finally in.close()
      }.toOption
    fromSummary.getOrElse {
      val in = fs.open(sibling(file, "Index.db"))
      try {
        var kept = Vector.empty[Array[Byte]]
        var step = 1L
        var n = 0L
        MaFormat.indexEntries(in, version).foreach { case (k, _) =>
          if (n % step == 0) kept :+= k
          n += 1
          if (kept.size > 4096) {
            kept = kept.zipWithIndex.collect { case (s, i) if i % 2 == 0 => s }
            step *= 2
          }
        }
        kept
      } finally in.close()
    }
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new MaReaderFactory(
      options,
      required.fieldNames,
      // Ship the SESSION's hadoop conf to executors (a fresh
      // Configuration() would drop filesystem credentials/settings
      // for anything beyond local paths).
      new org.apache.spark.util.SerializableConfiguration(
        org.apache.spark.sql.SparkSession.active.sessionState.newHadoopConf()))
}

/** One planned read: the UNCOMPRESSED byte range [start, end) of a
  * Data.db, both bounds at partition-start offsets (end = Long.MaxValue
  * reads to EOF). */
private[sstable] case class MaInputPartition(
    file: String, start: Long = 0L, end: Long = Long.MaxValue) extends InputPartition

/** One merge slice: a byte range of every file that holds keys of the
  * ring range [lo, hi) (bounds as [[RingOrder.sortKey]] bytes, null for
  * an open end). */
private[sstable] case class MaMergeSlice(
    ranges: Array[MaInputPartition], lo: Array[Byte], hi: Array[Byte]) extends InputPartition

/** A partition key out of its partitioner's ring order — in an Index.db
  * or a Data.db read as merge slices. Merging such a file would
  * silently split or duplicate keys, so the read stops instead. */
final class RingOrderException(message: String) extends IllegalStateException(message)

object RingOrderException {
  private def show(k: Array[Byte]): String = new String(k, UTF_8)

  def outOfOrder(file: String, offset: Long, previous: Array[Byte], key: Array[Byte],
      partitioner: String): RingOrderException =
    new RingOrderException(s"$file: partition key '${show(key)}' at offset $offset " +
      s"is not after the preceding key '${show(previous)}' in $partitioner ring order")

  def outsideSlice(file: String, offset: Long, key: Array[Byte], bound: Array[Byte],
      before: Boolean, partitioner: String): RingOrderException =
    new RingOrderException(s"$file: partition key '${show(key)}' at offset $offset " +
      (if (before) s"precedes its merge slice's first key '${show(bound)}'"
       else s"is at or past its merge slice's end key '${show(bound)}'") +
      s" in $partitioner ring order")
}

/** Counts consumed bytes so the row reader can stop at its split's end
  * offset; `count` starts at the split's absolute start position. */
private[sstable] final class CountingInputStream(
    in: java.io.InputStream, var count: Long) extends java.io.InputStream {
  override def read(): Int = {
    val b = in.read(); if (b >= 0) count += 1; b
  }
  override def read(b: Array[Byte], off: Int, len: Int): Int = {
    val n = in.read(b, off, len); if (n > 0) count += n; n
  }
  override def close(): Unit = in.close()
}

private[sstable] class MaReaderFactory(
    options: Map[String, String],
    requiredFields: Array[String],
    hadoopConf: org.apache.spark.util.SerializableConfiguration)
    extends PartitionReaderFactory {

  /** Split a column spec on TOP-LEVEL commas only, so collection types
    * (`attrs:map<text,long>`) keep their inner comma. */
  private def splitTopLevel(spec: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    val sb = new StringBuilder
    var depth = 0
    spec.foreach {
      case '<' => depth += 1; sb += '<'
      case '>' => depth -= 1; sb += '>'
      case ',' if depth == 0 => out += sb.toString; sb.clear()
      case c => sb += c
    }
    if (sb.nonEmpty) out += sb.toString
    out.result()
  }

  private def parseColumns(spec: String): Seq[(String, MaFormat.ColType)] =
    if (spec.trim.isEmpty) Nil
    else splitTopLevel(spec).map { s =>
      val Array(n, t) = s.trim.split(":", 2)
      (n, MaFormat.colType(t))
    }

  private def opt(name: String): Option[String] =
    options.get(name).filter(_.trim.nonEmpty)

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    partition match {
      case MaInputPartition(file, start, end) =>
        new CellRowReader(new FileCells(file, start, end, slice = null))
      case slice: MaMergeSlice =>
        new CellRowReader(new MergedCells(slice.ranges.map(r =>
          new FileCells(r.file, r.start, r.end, slice))))
    }

  /** A stream of decoded cells, each with its partition key as text. */
  private trait CellStream extends java.io.Closeable {
    /** Move to the next cell; false at the end. */
    def next(): Boolean
    def cell: MaFormat.MaCell
    def key: UTF8String
  }

  /** The cells of one Data.db byte range, after the residual
    * [[RingBounds]] filter; `advance()` moves `head` to the next one
    * (null at the end). Nothing is read before the first `advance()`:
    * Spark's input metrics count only bytes read after the reader is
    * created. In a merge `slice` every new partition key is checked
    * against the previous one and the slice bounds, and carries its ring
    * sort key (`headSort`). */
  private final class FileCells(file: String, splitStart: Long, splitEnd: Long,
      slice: MaMergeSlice) extends CellStream {
    private val path = new Path(file)
    private val fs = path.getFileSystem(hadoopConf.value)
    // Per-file metadata: explicit options win; a sibling
    // Statistics.db supplies the rest (reference read_metadata,
    // SSTable.cpp:275). The delta bases in particular are PER FILE —
    // generations of one table each carry their own — so the
    // stats-discovered values are the only correct ones for a
    // multi-generation directory read.
    private val stats: Option[StatsFile.TableMeta] =
      MaSSTableSource.statsFor(file, fs)
    private val version = MaSSTableSource.versionOf(path.getName)
    private val columns: Seq[(String, MaFormat.ColType)] =
      opt("columns").map(parseColumns)
        .orElse(stats.flatMap(_.columns))
        .getOrElse {
          // Legacy ja/ka framing is self-describing; only the "ma"
          // row format needs the column list to frame values.
          if (version >= "ma") throw new IllegalArgumentException(
            s"no `columns` option and no readable sibling Statistics.db for $file")
          Nil
        }
    private val clustering: Seq[MaFormat.ColType] =
      opt("clustering")
        .map(_.split(",").toSeq.map(t => MaFormat.colType(t.trim)))
        .orElse(stats.map(_.clustering)).getOrElse(Nil)
    private val staticColumns: Seq[(String, MaFormat.ColType)] =
      opt("staticColumns").map(parseColumns)
        .orElse(stats.map(_.staticColumns)).getOrElse(Nil)
    private val minTimestamp: Long = stats.map(_.minTimestamp).getOrElse(0L)
    private val minTtl: Long = stats.map(_.minTtl).getOrElse(0L)
    private val verifyChecksums = options.getOrElse("verifyChecksums", "true").toBoolean
    private val raw = fs.open(path)
    // A sibling CompressionInfo.db means the Data.db is
    // chunk-compressed (the Cassandra default) — layer the block
    // decoder under the format reader transparently.
    private val ciPath = new Path(
      file.stripSuffix("Data.db") + "CompressionInfo.db")
    private val in: CountingInputStream = {
      val (base, basePos): (java.io.InputStream, Long) =
        if (fs.exists(ciPath)) {
          val ciIn = fs.open(ciPath)
          val info = try CompressedBlocks.readCompressionInfo(ciIn) finally ciIn.close()
          // Mid-file start: jump the RAW stream to the chunk holding
          // the split's start offset (the chunk-granular seek the
          // CompressionInfo offsets enable), then decompress forward.
          val startChunk = (splitStart / info.chunkLen).toInt
          if (startChunk > 0) raw.seek(info.offsets(startChunk))
          // Checksum regime per format version (SSTable.cpp:102-104):
          // Adler32 over compressed bytes for jb..la, CRC32 over
          // compressed bytes for ma+, CRC32 over UNCOMPRESSED bytes
          // before jb.
          (new CompressedBlocks.ChunkedInputStream(
            raw, info, fs.getFileStatus(path).getLen,
            useCrc32 = version >= "ma" || version < "jb",
            checksumCompressed = version >= "jb",
            startChunk = startChunk,
            verify = verifyChecksums),
            startChunk.toLong * info.chunkLen)
        } else {
          if (splitStart > 0) raw.seek(splitStart)
          (raw, splitStart)
        }
      val cis = new CountingInputStream(base, basePos)
      // Discard the in-chunk remainder between the chunk boundary and
      // the split's partition-start offset.
      val garbage = new Array[Byte](65536)
      try while (cis.count < splitStart) {
        val n = cis.read(garbage, 0,
          math.min(splitStart - cis.count, garbage.length.toLong).toInt)
        require(n > 0, s"EOF before split start $splitStart in $file")
      } catch {
        case e: MaFormat.CorruptLengthException => throw e.at(file, splitStart)
      }
      cis
    }
    // Consulted before every partition header: remember where the
    // partition starts, and stop at the first boundary at or past the
    // split end.
    private var partitionOffset = splitStart
    private val stop = () => { partitionOffset = in.count; in.count >= splitEnd }
    private val clusteringIdentity =
      options.getOrElse("clusteringIdentity", "false").toBoolean
    private val cells: Iterator[MaFormat.MaCell] =
      if (version >= "ma")
        new MaFormat.Reader(in, columns, minTimestamp, minTtl,
          clustering, staticColumns, stop, clusteringIdentity)
      else new MaFormat.KaReader(in, stop, clusteringIdentity, version)

    // Residual resume/slice filter: the Index.db seek skips whole
    // partitions at plan time, but an indexless file (or the boundary
    // partitions of an indexed one) still needs the exact bounds, once
    // per partition.
    private val bounds = RingBounds(MaSSTableSource.partitionerOf(options, stats), options)
    private val order = bounds.order

    /** The next cell, null at the end; its key as text and, in a merge
      * slice, its ring sort key. */
    var head: MaFormat.MaCell = _
    var headKey: UTF8String = _
    var headSort: Array[Byte] = _
    // The decoders hand out ONE key array per partition, so a new array
    // is a new partition.
    private var lastKeyBytes: Array[Byte] = _
    private var inBounds = false

    /** Keys surface as StringType (the KV operators compare and
      * resume on them as text); Cassandra keys are arbitrary bytes,
      * so REJECT non-UTF8 keys loudly — silently mangling them via
      * replacement chars could merge distinct keys. ASCII fast path;
      * non-ASCII keys pay one round-trip validation. */
    private def keyString(b: Array[Byte]): UTF8String = {
      var i = 0
      var ascii = true
      while (i < b.length && ascii) { if (b(i) < 0) ascii = false; i += 1 }
      if (!ascii &&
          !java.util.Arrays.equals(
            UTF8String.fromBytes(b).toString.getBytes("UTF-8"), b))
        throw new IllegalArgumentException(
          s"non-UTF8 partition key in $file (${b.length} bytes): this source " +
            "exposes keys as text; binary-keyed tables are not supported")
      UTF8String.fromBytes(b)
    }

    def advance(): Unit = {
      head = null
      try {
        while (head == null && cells.hasNext) {
          val c = cells.next()
          if (c.key ne lastKeyBytes) {
            val sk = if (slice != null || bounds.narrowed) order.sortKey(c.key) else null
            if (slice != null) {
              checkSlice(c.key, sk)
              headSort = sk
            }
            inBounds = sk == null || bounds.contains(sk)
            lastKeyBytes = c.key
            headKey = keyString(c.key)
          }
          if (inBounds) head = c
        }
      } catch {
        case e: MaFormat.CorruptLengthException => throw e.at(file, partitionOffset)
      }
    }

    /** Fail unless partition key `key` (sort key `sk`) follows the
      * previous one and lies inside the merge slice. */
    private def checkSlice(key: Array[Byte], sk: Array[Byte]): Unit = {
      if (headSort != null && MaSSTableSource.compareBytes(headSort, sk) >= 0)
        throw RingOrderException.outOfOrder(file, partitionOffset, lastKeyBytes, key, order.name)
      if (slice.lo != null && MaSSTableSource.compareBytes(sk, slice.lo) < 0)
        throw RingOrderException.outsideSlice(file, partitionOffset, key, slice.lo,
          before = true, order.name)
      if (slice.hi != null && MaSSTableSource.compareBytes(sk, slice.hi) >= 0)
        throw RingOrderException.outsideSlice(file, partitionOffset, key, slice.hi,
          before = false, order.name)
    }
    override def next(): Boolean = { advance(); head != null }
    override def cell: MaFormat.MaCell = head
    override def key: UTF8String = headKey

    override def close(): Unit = in.close()
  }

  /** The cells of a merge slice: the files' streams heap-merged by
    * partition key in ring order, a whole partition at a time, so every
    * cell of a key — from every generation — arrives adjacent. O(files)
    * state: one look-ahead cell per stream, read on the first `next()`. */
  private final class MergedCells(sources: Array[FileCells]) extends CellStream {
    private val heap = new java.util.PriorityQueue[Integer](math.max(1, sources.length),
      (a: Integer, b: Integer) => {
        val d = MaSSTableSource.compareBytes(sources(a).headSort, sources(b).headSort)
        if (d != 0) d else Integer.compare(a, b)
      })
    private var seeded = false
    private var cur = -1
    private var curPartition: Array[Byte] = _

    override def next(): Boolean = {
      if (!seeded) {
        seeded = true
        sources.indices.foreach { i =>
          sources(i).advance()
          if (sources(i).head != null) heap.add(i)
        }
      } else if (cur >= 0) {
        val f = sources(cur)
        f.advance()
        if (f.head != null) {
          if (f.head.key eq curPartition) return true
          heap.add(cur)
        }
      }
      if (heap.isEmpty) false
      else {
        cur = heap.poll()
        curPartition = sources(cur).head.key
        true
      }
    }
    override def cell: MaFormat.MaCell = sources(cur).head
    override def key: UTF8String = sources(cur).headKey

    override def close(): Unit = sources.foreach(_.close())
  }

  /** Cells as rows of the pruned output schema, from one file range or
    * a merge slice. */
  private final class CellRowReader(source: CellStream)
      extends PartitionReader[InternalRow] {
    // Project only the pruned columns into the output row.
    private val fieldIdx = requiredFields.map(
      MaSSTableSource.OutputSchema.fieldNames.indexOf(_))

    override def next(): Boolean = source.next()

    override def get(): InternalRow = {
      val c = source.cell
      val full: Array[Any] = Array(
        source.key,
        if (c.col == null) null else UTF8String.fromString(c.col),
        c.ts,
        c.value,
        c.deleted,
        c.expiring,
        if (c.ttlSec < 0) null else c.ttlSec,
        if (c.deletionTs == MaFormat.NoDeletion) null else c.deletionTs,
        c.marker,
        c.counter)
      InternalRow.fromSeq(fieldIdx.map(full(_)).toIndexedSeq)
    }

    override def close(): Unit = source.close()
  }
}
