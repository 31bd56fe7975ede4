package graft.tools

import org.apache.spark.sql.SparkSession

/** CLI main mirroring the reference's flag surface
  * (Cassandra2Aerospike.cpp parse_arguments) on the Spark pipeline:
  *
  * {{{
  * runMain graft.tools.Migrate \
  *   -i <sstableDir> [-i <sstableDir> ...]   input generations
  *   [-c <name:type,...>]                    regular-column schema
  *                                           (discovered from each
  *                                           file's Statistics.db
  *                                           when omitted)
  *   -o <targetPath>                         keyed parquet target
  *   [-s <resumeKey>]                        resume scan from key
  *   [-S <hexKey>]                           resume key given in hex
  *   [-T <tokenMin>,<tokenMax>]              this worker's ring slice
  *                                           (either side empty for an
  *                                           open end; token notation
  *                                           follows the partitioner —
  *                                           beyond the reference: how
  *                                           a DISTRIBUTED run shards)
  *   [-C]                                    disable chunk-checksum verify
  *   [-k]                                    clustered-table mode: render
  *                                           clustering values into each
  *                                           cell's column identity so
  *                                           distinct rows survive the
  *                                           merge (beyond the reference,
  *                                           which discards them)
  *   [-m]                                    counter-table mode: SUM
  *                                           counter shards across
  *                                           generations instead of LWW
  *                                           (beyond the reference,
  *                                           which keeps one shard)
  *   [-L <seconds>]                          minimum-TTL discard
  *   [-x]                                    prohibit eternal records
  *   [-f]                                    record TTL from first-expiring cell
  *   [-W <microseconds>]                     incremental catch-up: skip
  *                                           records whose winning cell
  *                                           timestamp is at or below
  *                                           this watermark (already
  *                                           shipped by a previous run;
  *                                           merge semantics unchanged)
  *   [-D]                                    dry run: print, write nothing
  *   [--describe]                            print the per-SSTable
  *                                           inventory (version,
  *                                           generation, partitioner,
  *                                           schema widths, sizes,
  *                                           Index.db partition counts,
  *                                           Summary first/last keys)
  *                                           and exit — the numbers a
  *                                           -T fan-out is sized from.
  *                                           With -T, each row also
  *                                           reports in_slice (ring
  *                                           overlap with the slice)
  *                                           plus slice-local file and
  *                                           partition totals
  *   [--plan-slices <n>]                     print the -T argument for
  *                                           each of n workers (even
  *                                           murmur3 ring cuts,
  *                                           disjoint and exhaustive)
  *                                           and exit
  * }}}
  *
  * The Aerospike connection/threading flags of the reference
  * (-h/-n/-t/-u/-p/-a/-e) have no analog: the target is a keyed
  * lake-house table and Spark owns parallelism.
  */
object Migrate {
  def main(args: Array[String]): Unit = {
    var inputs = Vector.empty[String]
    var columns = ""
    var target = ""
    var resume: Option[String] = None
    var tokenRange: Option[(String, String)] = None
    var minTtlS = 0L
    var prohibitEternal = false
    var ttlFromFirst = false
    var dryRun = false
    var verifyChecksums = true
    var clusteringIdentity = false
    var counterSum = false
    var describe = false
    var planSlices: Option[Int] = None
    var sinceTsUs: Option[Long] = None
    var i = 0
    while (i < args.length) {
      args(i) match {
        case "-i" => inputs :+= args(i + 1); i += 2
        case "-c" => columns = args(i + 1); i += 2
        case "-o" => target = args(i + 1); i += 2
        case "-s" => resume = Some(args(i + 1)); i += 2
        case "-S" =>
          // Hex-encoded resume key (the reference's -S,
          // Cassandra2Aerospike.cpp hex_nibble_to_nibble loop). Keys
          // are text in this engine, so the decoded bytes must be
          // valid UTF-8 — the source rejects binary keys anyway.
          val hex = args(i + 1)
          require(hex.length % 2 == 0, "-S argument must be an even length")
          val bytes = hex.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
          resume = Some(new String(bytes, java.nio.charset.StandardCharsets.UTF_8))
          i += 2
        case "-T" =>
          val spec = args(i + 1)
          val cut = spec.indexOf(',')
          require(cut >= 0, "-T argument must be <tokenMin>,<tokenMax>")
          tokenRange = Some((spec.substring(0, cut), spec.substring(cut + 1)))
          i += 2
        case "-C" => verifyChecksums = false; i += 1
        case "-k" => clusteringIdentity = true; i += 1
        case "-m" => counterSum = true; i += 1
        case "-W" => sinceTsUs = Some(args(i + 1).toLong); i += 2
        case "-L" => minTtlS = args(i + 1).toLong; i += 2
        case "-x" => prohibitEternal = true; i += 1
        case "-f" => ttlFromFirst = true; i += 1
        case "-D" => dryRun = true; i += 1
        case "--describe" => describe = true; i += 1
        case "--plan-slices" => planSlices = Some(args(i + 1).toInt); i += 2
        case other => sys.error(s"unrecognised option $other")
      }
    }
    // A pure planning ask needs no inputs or Spark at all: print the
    // -T argument per worker and exit.
    planSlices.foreach { n =>
      graft.kv.Kv.planTokenSlices(n).zipWithIndex.foreach { case ((lo, hi), i) =>
        println(s"[plan-slices] worker $i: -T $lo,$hi")
      }
      return
    }
    // -c is optional when every input carries a Statistics.db — the
    // source then self-describes, like the reference CLI (which takes
    // only paths and reads the schema from the table's metadata).
    require(inputs.nonEmpty && (describe || dryRun || target.nonEmpty),
      "need -i <dir> and -o <target> (or -D / --describe)")

    val spark = graft.sources.Tables.sessionConfs
      .foldLeft(SparkSession.builder()
        .master(sys.env.getOrElse("SPARK_GRAFT_MASTER", "local[8]"))
        .config("spark.sql.shuffle.partitions",
          sys.env.getOrElse("SPARK_GRAFT_CPUS", "8"))
        .config("spark.ui.enabled", "false")) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    if (describe) {
      // With -T, each row also reports whether the file's Summary-bound
      // ring range overlaps the slice, plus a slice-local footing — the
      // numbers a fan-out controller sizes each worker from.
      val inv = graft.kv.Kv.describeSSTables(spark, inputs, tokenRange)
      inv.show(1000, truncate = false)
      tokenRange.foreach { case (tMin, tMax) =>
        import org.apache.spark.sql.functions.{coalesce, col, lit, sum, when}
        // coalesce: sums over an EMPTY inventory are SQL NULL.
        val r = inv.agg(
          coalesce(sum(when(col("in_slice") === true, 1L).otherwise(0L)), lit(0L)).as("files_in"),
          coalesce(sum(when(col("in_slice") === false, 1L).otherwise(0L)), lit(0L)).as("files_out"),
          coalesce(sum(when(col("in_slice").isNull, 1L).otherwise(0L)), lit(0L)).as("files_unknown"),
          coalesce(sum(when(coalesce(col("in_slice"), lit(true)),
            coalesce(col("index_partitions"), lit(0L))).otherwise(0L)), lit(0L))
            .as("slice_index_partitions")).collect().head
        println(s"[describe] slice [$tMin,$tMax]: files_in=${r.getLong(0)} " +
          s"files_out=${r.getLong(1)} files_unknown=${r.getLong(2)} " +
          s"max_slice_index_partitions=${r.getLong(3)}")
      }
      spark.stop()
      return
    }

    val policy =
      if (minTtlS > 0 || prohibitEternal || ttlFromFirst)
        Some(graft.sinks.KeyedSink.TtlPolicy(
          minTtlUs = minTtlS * 1000000L,
          prohibitEternal = prohibitEternal,
          recordTtlFromFirst = ttlFromFirst,
          nowUs = System.currentTimeMillis() * 1000L))
      else None

    graft.kv.Kv.migrate(spark, inputs, columns, target, policy, resume, dryRun,
      verifyChecksums, tokenRange, clusteringIdentity, counterSum,
      sinceTsUs) match {
      case Left(rendered) =>
        rendered.show(100, truncate = false)
        println(s"[migrate] DRY RUN: ${rendered.count()} records would be written")
      case Right(stats) =>
        // The counters are the observed metrics of the export's one
        // write job (KeyedSink.appendWinners), not recounted here.
        println(s"[migrate] incoming=${stats.incoming} written=${stats.written} " +
          s"skipped_existing=${stats.skippedExisting} expired=${stats.expired} " +
          s"deleted_dropped=${stats.deletedDropped} " +
          s"skipped_unchanged=${stats.skippedUnchanged}")
    }
    spark.stop()
  }
}
