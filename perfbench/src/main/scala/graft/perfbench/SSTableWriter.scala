package graft.perfbench

import java.io.{ByteArrayOutputStream, DataOutputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

/** One cell as written: `value` is null for a cell tombstone, `ttlS`
  * is -1 for a non-expiring cell. Timestamps are µs since the epoch. */
final case class Cell(col: String, ts: Long, value: Array[Byte], ttlS: Int, deleted: Boolean)

/** One partition of one generation. `deletionTs` is the partition
  * tombstone's timestamp (µs), or [[SSTableWriter.NoDeletion]]. */
final case class Partition(key: String, deletionTs: Long, cells: Seq[Cell])

/** Cassandra's Murmur3Partitioner token: the first 64-bit half of
  * MurmurHash3_x64_128 with seed 0, including Cassandra's sign-extended
  * tail bytes, and Long.MinValue mapped to Long.MaxValue. Written here
  * from the algorithm, not taken from the engine; `PerfbenchSpec`
  * checks that the two agree. */
object Murmur3 {
  private def rotl(x: Long, r: Int): Long = (x << r) | (x >>> (64 - r))
  private def fmix(k0: Long): Long = {
    var k = k0
    k ^= k >>> 33; k *= 0xff51afd7ed558ccdL
    k ^= k >>> 33; k *= 0xc4ceb9fe1a85ec53L
    k ^ (k >>> 33)
  }
  private def block(b: Array[Byte], off: Int): Long = {
    var v = 0L
    var i = 7
    while (i >= 0) { v = (v << 8) | (b(off + i) & 0xffL); i -= 1 }
    v
  }

  def token(key: Array[Byte]): Long = {
    val c1 = 0x87c37b91114253d5L
    val c2 = 0x4cf5ad432745937fL
    val n = key.length
    var h1 = 0L
    var h2 = 0L
    val blocks = n / 16
    var i = 0
    while (i < blocks) {
      var k1 = block(key, i * 16)
      var k2 = block(key, i * 16 + 8)
      k1 *= c1; k1 = rotl(k1, 31); k1 *= c2; h1 ^= k1
      h1 = rotl(h1, 27); h1 += h2; h1 = h1 * 5 + 0x52dce729
      k2 *= c2; k2 = rotl(k2, 33); k2 *= c1; h2 ^= k2
      h2 = rotl(h2, 31); h2 += h1; h2 = h2 * 5 + 0x38495ab5
      i += 1
    }
    val tail = blocks * 16
    var k1 = 0L
    var k2 = 0L
    // Cassandra reads tail bytes as signed (sign-extended) longs.
    def t(j: Int): Long = key(tail + j).toLong
    val rem = n & 15
    if (rem >= 15) k2 ^= t(14) << 48
    if (rem >= 14) k2 ^= t(13) << 40
    if (rem >= 13) k2 ^= t(12) << 32
    if (rem >= 12) k2 ^= t(11) << 24
    if (rem >= 11) k2 ^= t(10) << 16
    if (rem >= 10) k2 ^= t(9) << 8
    if (rem >= 9) { k2 ^= t(8); k2 *= c2; k2 = rotl(k2, 33); k2 *= c1; h2 ^= k2 }
    if (rem >= 8) k1 ^= t(7) << 56
    if (rem >= 7) k1 ^= t(6) << 48
    if (rem >= 6) k1 ^= t(5) << 40
    if (rem >= 5) k1 ^= t(4) << 32
    if (rem >= 4) k1 ^= t(3) << 24
    if (rem >= 3) k1 ^= t(2) << 16
    if (rem >= 2) k1 ^= t(1) << 8
    if (rem >= 1) { k1 ^= t(0); k1 *= c1; k1 = rotl(k1, 31); k1 *= c2; h1 ^= k1 }
    h1 ^= n; h2 ^= n
    h1 += h2; h2 += h1
    h1 = fmix(h1); h2 = fmix(h2)
    h1 += h2
    if (h1 == Long.MinValue) Long.MaxValue else h1
  }

  def token(key: String): Long = token(key.getBytes(UTF_8))
}

/** Writes one SSTable generation in the Cassandra 3.x "ma" layout:
  * LZ4-compressed Data.db in 64 KiB chunks with a CRC32 per chunk and a
  * CompressionInfo.db, an Index.db entry per partition, a Summary.db
  * sampling every 128th index entry plus the first/last keys, and a
  * Statistics.db whose validation component names Murmur3Partitioner
  * and whose serialization header carries the schema. Partitions are
  * written in (token, key) order, so token slices seek.
  *
  * Every regular column of a row is written (HAS_ALL_COLUMNS), each cell
  * with its own timestamp. Partition tombstones are written as
  * partitions with a deletion time and no rows. */
object SSTableWriter {
  val NoDeletion: Long = Long.MinValue
  val ChunkLen: Int = 64 * 1024
  val IndexInterval: Int = 128
  val Partitioner = "org.apache.cassandra.dht.Murmur3Partitioner"

  /** The table's regular columns, in serialization-header order
    * (Cassandra sorts them by name). `n` is a bigint, the rest text. */
  val Columns: Seq[(String, String)] = Seq(
    "a" -> "org.apache.cassandra.db.marshal.UTF8Type",
    "b" -> "org.apache.cassandra.db.marshal.UTF8Type",
    "n" -> "org.apache.cassandra.db.marshal.LongType",
    "t" -> "org.apache.cassandra.db.marshal.UTF8Type")
  val ColumnNames: Seq[String] = Columns.map(_._1)
  def isLong(col: String): Boolean = col == "n"

  private final class Out {
    val bos = new ByteArrayOutputStream(1 << 16)
    val out = new DataOutputStream(bos)
    def size: Int = bos.size()
    def vint(v: Long): Out = {
      require(v >= 0, s"negative vint $v")
      if (v < 0x7f) { out.writeByte(v.toInt); return this }
      var extra = 1
      while (extra < 8 && (v >>> (7 - extra + 8 * extra)) != 0) extra += 1
      out.writeByte(((0xff << (8 - extra)) & 0xff) | (v >>> (8 * extra)).toInt)
      var i = extra - 1
      while (i >= 0) { out.writeByte(((v >>> (8 * i)) & 0xff).toInt); i -= 1 }
      this
    }
    def vbytes(b: Array[Byte]): Out = { vint(b.length.toLong); out.write(b); this }
    def bytes: Array[Byte] = { out.flush(); bos.toByteArray }
  }

  private def le32(o: DataOutputStream, v: Int): Unit = {
    var i = 0
    while (i < 4) { o.writeByte((v >>> (8 * i)) & 0xff); i += 1 }
  }
  private def le64(o: DataOutputStream, v: Long): Unit = {
    var i = 0
    while (i < 8) { o.writeByte(((v >>> (8 * i)) & 0xff).toInt); i += 1 }
  }

  /** Write generation `gen` into `dir`; returns the Data.db path. */
  def write(dir: Path, gen: Int, partitions: Seq[Partition]): Path = {
    val sorted = partitions
      .map(p => (Murmur3.token(p.key), p.key.getBytes(UTF_8), p))
      .sortWith { case ((ta, ka, _), (tb, kb, _)) =>
        if (ta != tb) ta < tb else compareBytes(ka, kb) < 0 }
    val allCells = partitions.flatMap(_.cells)
    val minTs = if (allCells.isEmpty) 0L else allCells.map(_.ts).min
    val ttls = allCells.filter(_.ttlS >= 0).map(_.ttlS.toLong)
    val minTtl = if (ttls.isEmpty) 0L else ttls.min

    val data = new Out
    val index = new Out
    val indexPositions = Array.newBuilder[(Array[Byte], Long)]
    sorted.foreach { case (_, key, p) =>
      val pos = data.size.toLong
      indexPositions += (key -> index.size.toLong)
      index.out.writeShort(key.length); index.out.write(key)
      index.vint(pos).vint(0)

      data.out.writeShort(key.length); data.out.write(key)
      if (p.deletionTs == NoDeletion) {
        data.out.writeInt(Int.MaxValue); data.out.writeLong(NoDeletion)
      } else {
        data.out.writeInt((p.deletionTs / 1000000L).toInt); data.out.writeLong(p.deletionTs)
      }
      if (p.cells.nonEmpty) {
        val byCol = p.cells.map(c => c.col -> c).toMap
        require(byCol.keySet == ColumnNames.toSet,
          s"partition ${p.key} must carry every column once")
        val body = new Out
        ColumnNames.foreach(c => writeCell(body, byCol(c), minTs, minTtl))
        val b = body.bytes
        data.out.writeByte(0x20) // HAS_ALL_COLUMNS
        data.vint(b.length.toLong).vint(0L) // row size, previous unfiltered size
        data.out.write(b)
      }
      data.out.writeByte(0x01) // END_OF_PARTITION
    }
    val payload = data.bytes
    val prefix = s"ma-$gen-big"
    writeCompressed(dir, prefix, payload)
    Files.write(dir.resolve(s"$prefix-Index.db"), index.bytes)
    val entries = indexPositions.result()
    writeSummary(dir, prefix, entries)
    writeStatistics(dir, prefix, minTs, minTtl)
    dir.resolve(s"$prefix-Data.db")
  }

  private def writeCell(o: Out, c: Cell, minTs: Long, minTtl: Long): Unit = {
    val expiring = c.ttlS >= 0
    val flags =
      (if (c.deleted) 0x01 else 0) | (if (expiring) 0x02 else 0) |
        (if (c.value == null) 0x04 else 0)
    o.out.writeByte(flags)
    o.vint(c.ts - minTs)
    val tsSec = c.ts / 1000000L
    if (expiring || c.deleted) o.vint(if (expiring) tsSec + c.ttlS else tsSec)
    if (expiring) o.vint(c.ttlS - minTtl)
    if (c.value != null) {
      if (isLong(c.col)) { require(c.value.length == 8); o.out.write(c.value) }
      else o.vbytes(c.value)
    }
  }

  private def writeCompressed(dir: Path, prefix: String, payload: Array[Byte]): Unit = {
    val lz4 = net.jpountz.lz4.LZ4Factory.fastestInstance().fastCompressor()
    val dataOut = new DataOutputStream(new java.io.BufferedOutputStream(
      Files.newOutputStream(dir.resolve(s"$prefix-Data.db")), 1 << 16))
    val offsets = Array.newBuilder[Long]
    var pos = 0L
    var off = 0
    while (off < payload.length) {
      val len = math.min(ChunkLen, payload.length - off)
      val c = lz4.compress(payload, off, len)
      val chunk = new Array[Byte](4 + c.length)
      chunk(0) = (len & 0xff).toByte
      chunk(1) = ((len >> 8) & 0xff).toByte
      chunk(2) = ((len >> 16) & 0xff).toByte
      chunk(3) = ((len >> 24) & 0xff).toByte
      System.arraycopy(c, 0, chunk, 4, c.length)
      val crc = new java.util.zip.CRC32
      crc.update(chunk)
      offsets += pos
      dataOut.write(chunk)
      dataOut.writeInt(crc.getValue.toInt)
      pos += chunk.length + 4
      off += len
    }
    dataOut.close()
    val ci = new Out
    val codec = "LZ4Compressor".getBytes(UTF_8)
    ci.out.writeShort(codec.length); ci.out.write(codec)
    ci.out.writeInt(1)
    Seq("chunk_length_in_kb", (ChunkLen / 1024).toString).foreach { s =>
      val b = s.getBytes(UTF_8); ci.out.writeShort(b.length); ci.out.write(b)
    }
    ci.out.writeInt(ChunkLen)
    ci.out.writeLong(payload.length.toLong)
    val offs = offsets.result()
    ci.out.writeInt(offs.length)
    offs.foreach(ci.out.writeLong)
    Files.write(dir.resolve(s"$prefix-CompressionInfo.db"), ci.bytes)
  }

  private def writeSummary(dir: Path, prefix: String, entries: Array[(Array[Byte], Long)]): Unit = {
    val sampled = entries.indices.filter(_ % IndexInterval == 0).map(entries)
    var off = 4 * sampled.length
    val offsets = sampled.map { case (k, _) => val o = off; off += k.length + 8; o }
    val o = new Out
    o.out.writeInt(IndexInterval)
    o.out.writeInt(sampled.length)
    o.out.writeLong(off.toLong)
    o.out.writeInt(IndexInterval) // sampling level: full sampling
    o.out.writeInt(sampled.length)
    offsets.foreach(le32(o.out, _))
    sampled.foreach { case (k, p) => o.out.write(k); le64(o.out, p) }
    if (entries.nonEmpty) Seq(entries.head._1, entries.last._1).foreach { k =>
      o.out.writeInt(k.length); o.out.write(k)
    }
    Files.write(dir.resolve(s"$prefix-Summary.db"), o.bytes)
  }

  /** Statistics.db with two components: VALIDATION (partitioner class
    * and bloom-filter false-positive chance) and the serialization
    * HEADER (encoding bases, key type, clustering, static and regular
    * columns). The header's minimum timestamp is the raw minimum, the
    * base the engine's decoder adds back to every cell delta. */
  private def writeStatistics(dir: Path, prefix: String, minTs: Long, minTtl: Long): Unit = {
    val validation = new Out
    val p = Partitioner.getBytes(UTF_8)
    validation.out.writeShort(p.length); validation.out.write(p)
    validation.out.writeDouble(0.01)
    val header = new Out
    header.vint(minTs).vint(0L).vint(minTtl)
    header.vbytes("org.apache.cassandra.db.marshal.UTF8Type".getBytes(UTF_8))
    header.vint(0L) // clustering columns
    header.vint(0L) // static columns
    header.vint(Columns.length.toLong)
    Columns.foreach { case (n, t) => header.vbytes(n.getBytes(UTF_8)).vbytes(t.getBytes(UTF_8)) }
    val v = validation.bytes
    val h = header.bytes
    val tocLen = 4 + 2 * 8
    val o = new Out
    o.out.writeInt(2)
    o.out.writeInt(0); o.out.writeInt(tocLen)
    o.out.writeInt(3); o.out.writeInt(tocLen + v.length)
    o.out.write(v); o.out.write(h)
    Files.write(dir.resolve(s"$prefix-Statistics.db"), o.bytes)
  }

  def compareBytes(a: Array[Byte], b: Array[Byte]): Int = {
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) {
      val d = (a(i) & 0xff) - (b(i) & 0xff)
      if (d != 0) return d
      i += 1
    }
    a.length - b.length
  }
}
