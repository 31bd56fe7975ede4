package graft.perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.kv.Kv
import graft.sinks.KeyedSink

/** The migration operator's workload, `migrate_bulk`: one `Kv.migrate`
  * of every bulk generation into an empty parquet target under the
  * `-L` policy. The target is removed, untimed, after its check. */
final class Migration(
    spark: SparkSession, work: Path, seed: Long, nKeys: Int, gens: Int) extends Workload {
  private var bulkDir: Path = _
  private var expected: Expected = _
  private var cells = 0L

  override def describe: String =
    s"$nKeys keys, $gens generations, $cells cells, $dataBytes Data.db bytes"
  private def dataBytes: Long =
    FileTree.listFiles(bulkDir).toSeq
      .filter(_.getFileName.toString.endsWith("-Data.db")).map(Files.size).sum

  override def setupRound(round: Int): Unit = {
    FileTree.deleteTree(work)
    bulkDir = Files.createDirectories(work.resolve("bulk"))
    val bulk = Fixture.bulk(seed, nKeys, gens)
    bulk.zipWithIndex.foreach { case (g, i) => SSTableWriter.write(bulkDir, i + 1, g) }
    expected = Model.migrate(bulk, Fixture.policy)
    cells = Fixture.cellCount(bulk)
  }

  private def migrate(out: Path): KeyedSink.WriteStats =
    Kv.migrate(spark, Seq(bulkDir.toString), "", out.toString, Some(Fixture.sinkPolicy))
      .toOption.get

  def digestOf(p: Path): Digest = {
    val r = spark.read.parquet(p.toString).agg(
      count(lit(1)),
      sum(xxhash64(col("key"), col("col"), unix_micros(col("ts")), col("value"),
        col("expiry_us"), col("ttl_us")).cast("decimal(38,0)"))).head()
    Digest(r.getLong(0),
      Option(r.getDecimal(1)).map(d => BigInt(d.toBigInteger)).getOrElse(BigInt(0)))
  }

  private def outPath(i: Int): Path = work.resolve(s"out-$i")

  /** Compare a migration's stats and its target with the model, then
    * remove the target. */
  private def check(i: Int, stats: KeyedSink.WriteStats): OpResult = {
    val got = MigrateStats.of(stats)
    val out = outPath(i)
    try {
      if (got != expected.stats) OpResult(0, ok = false, s"stats $got != ${expected.stats}")
      else {
        val d = if (Files.exists(out)) digestOf(out) else Digest.Zero
        if (d != expected.written) OpResult(0, ok = false, s"target digest $d != ${expected.written}")
        else OpResult(0, ok = true)
      }
    } finally FileTree.deleteTree(out)
  }

  /** Corrupt the expected digest, so the next check must fail. */
  private[perfbench] def plantWrongDigest(): Unit =
    expected = expected.copy(written = expected.written + Digest(0L, BigInt(1)))

  override def run(i: Int): OpResult = {
    val t0 = System.nanoTime()
    val stats = try Right(migrate(outPath(i))) catch { case e: Exception => Left(e) }
    val secs = (System.nanoTime() - t0) / 1e9
    stats match {
      case Left(e) => FileTree.deleteTree(outPath(i)); OpResult(secs, ok = false, e.toString)
      case Right(s) => check(i, s).copy(seconds = secs)
    }
  }

  private def decode(): DataFrame = Kv.cellsFromSSTables(spark, bulkDir.toString, "")

  override def traced(i: Int, t: Tracer): (OpResult, Map[String, Double]) = {
    // The three layer calls, each its own span under one "layers" span.
    val ((dec, mrg, exp, winners, sinkStats), _) = t.span("layers", i) {
      val (_, dec) = t.span("sstable", i, "layers") {
        decode().write.format("noop").mode("overwrite").save()
      }
      val (merged, mrg) = t.span("kv", i, "layers") {
        val m = Kv.lww(Kv.applyMarkerTombstones(decode())).persist()
        m.count()
        m
      }
      val winners = merged.count()
      // The export input, as Kv.migrate builds it from the merged winners.
      val records = merged.filter(!col("deleted"))
        .withColumn("expiry_us",
          when(col("ttl_s").isNotNull, unix_micros(col("ts")) + col("ttl_s") * 1000000L))
        .withColumn("ttl_us", coalesce(col("ttl_s") * 1000000L, lit(0L)))
        .drop("ttl_s", "counter", "deleted")
      val exportOut = work.resolve(s"export-$i")
      val (sinkStats, exp) = t.span("sinks", i, "layers") {
        KeyedSink.createOnlyAppend(spark, records, exportOut.toString, Some(Fixture.sinkPolicy))
      }
      FileTree.deleteTree(exportOut)
      merged.unpersist()
      (dec, mrg, exp, winners, sinkStats)
    }
    val (stats, mig) = t.span("migrate", i) {
      scala.util.Try(migrate(outPath(i)))
    }
    val result = stats match {
      case scala.util.Success(s) => check(i, s).copy(seconds = mig.seconds)
      case scala.util.Failure(e) =>
        FileTree.deleteTree(outPath(i))
        OpResult(mig.seconds, ok = false, e.toString)
    }

    val cd = t.counters("sstable", i)
    val ck = t.counters("kv", i)
    val cs = t.counters("sinks", i)
    val decodeS = dec.seconds
    val mergeS = mrg.seconds - dec.seconds
    val exportS = exp.seconds
    val onDisk = dataBytes
    val layers = decodeS + mergeS + exportS
    val incoming = sinkStats.incoming.toDouble
    (result, Map(
      "sstable.decode_s" -> decodeS,
      "sstable.task_s" -> cd.runMs / 1000.0,
      "sstable.wait_s" -> (cd.durationMs - cd.runMs) / 1000.0,
      "sstable.tasks" -> cd.tasks.toDouble,
      "sstable.jobs" -> cd.jobs.toDouble,
      "sstable.cells" -> cells.toDouble,
      "sstable.cells_per_task_s" -> (if (cd.runMs > 0) cells / (cd.runMs / 1000.0) else 0.0),
      "sstable.rows_read" -> cd.recordsRead.toDouble,
      "sstable.bytes_read" -> cd.bytesRead.toDouble,
      "sstable.read_amplification" -> (if (onDisk > 0) cd.bytesRead.toDouble / onDisk else 0.0),
      "kv.merge_s" -> mergeS,
      "kv.task_s" -> (ck.runMs - cd.runMs) / 1000.0,
      "kv.jobs" -> ck.jobs.toDouble,
      "kv.shuffle_write_bytes" -> ck.shuffleWrite.toDouble,
      "kv.shuffle_read_bytes" -> ck.shuffleRead.toDouble,
      "kv.spill_bytes" -> ck.spill.toDouble,
      "kv.peak_exec_mem_mb" -> ck.peakExecMem / 1048576.0,
      "kv.records_per_cell" -> (if (cells > 0) winners.toDouble / cells else 0.0),
      "kv.deleted_dropped" -> stats.map(_.deletedDropped.toDouble).getOrElse(0.0),
      "sinks.export_s" -> exportS,
      "sinks.task_s" -> cs.runMs / 1000.0,
      "sinks.jobs" -> cs.jobs.toDouble,
      "sinks.rows_per_s" -> (if (exportS > 0) incoming / exportS else 0.0),
      "sinks.written" -> sinkStats.written.toDouble,
      "sinks.skipped_existing" -> sinkStats.skippedExisting.toDouble,
      "sinks.expired" -> sinkStats.expired.toDouble,
      "sinks.write_ratio" -> (if (incoming > 0) sinkStats.written / incoming else 0.0),
      "sinks.target_read_bytes" -> cs.bytesRead.toDouble,
      "sinks.bytes_written" -> cs.bytesWritten.toDouble,
      "sinks.bytes_per_record" ->
        (if (sinkStats.written > 0) cs.bytesWritten.toDouble / sinkStats.written else 0.0),
      "trace.layers_sum_s" -> layers,
      "trace.migrate_wall_s" -> mig.seconds,
      "trace.unattributed_s" -> (mig.seconds - layers)))
  }
}
