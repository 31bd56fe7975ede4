package graft

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataOutputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.sstable.{ByteCursor, MaFormat, MaSSTableSource, StatsFile}
import graft.sources.sstable.MaFormat._

/** Round-trip spec for the minimal "ma" SSTable reader: an independent
  * ENCODER implemented here from the format description (vint, flags,
  * subsets, delta bases — SSTable.cpp / Buffer.cpp), and the decoder
  * under test reading its output, standalone and through the DataSource
  * V2 + the KV LWW pipeline.
  */
class MaSSTableSpec extends AnyFunSuite {
  import SparkTestSession._

  // ---- independent encoder ------------------------------------------

  private class Enc {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)

    def byte(b: Int): this.type = { out.writeByte(b); this }
    def short(s: Int): this.type = { out.writeShort(s); this }
    def longlong(l: Long): this.type = { out.writeLong(l); this }
    def bytes(b: Array[Byte]): this.type = { out.write(b); this }

    /** Cassandra unsigned vint: n leading ones in the first byte = n
      * continuation bytes; value big-endian across the remainder. */
    def vint(v: Long): this.type = {
      require(v >= 0)
      if (v < 0x7f) { out.writeByte(v.toInt); return this }
      var extra = 1
      // Find the least n with v < 2^(7-n + 8n) = 2^(7n+7)... iterate.
      while (extra < 8 && (v >>> (7 - extra + 8 * extra)) != 0) extra += 1
      val mask = (0xff << (8 - extra)) & 0xff
      out.writeByte(mask | (v >>> (8 * extra)).toInt)
      var i = extra - 1
      while (i >= 0) { out.writeByte(((v >>> (8 * i)) & 0xff).toInt); i -= 1 }
      this
    }

    def string(s: String): this.type = {
      val b = s.getBytes(UTF_8); short(b.length); bytes(b)
    }

    /** A row's column subset as Cassandra's Columns.Serializer writes
      * it: 0 when every column is present; under 64 columns a bitmap of
      * the MISSING columns; from 64 on the missing count, then the
      * present indices when fewer than half are present, else the
      * missing ones. */
    def subset(present: Seq[Boolean]): this.type = {
      val n = present.size
      val (presentIdx, missingIdx) = present.indices.partition(present)
      if (missingIdx.isEmpty) vint(0)
      else if (n < 64) vint(missingIdx.foldLeft(0L)((b, i) => b | (1L << i)))
      else {
        vint(missingIdx.size.toLong)
        (if (presentIdx.size < n / 2) presentIdx else missingIdx).foreach(i => vint(i.toLong))
        this
      }
    }

    /** Full-width unsigned vint: negative longs (e.g. the LIVE deletion
      * sentinel delta) take the 9-byte form — 0xff then 8 BE bytes. */
    def vintRaw(v: Long): this.type =
      if (v >= 0) vint(v) else { out.writeByte(0xff); out.writeLong(v); this }

    def partitionHeader(key: String, deletionTs: Long = MaFormat.NoDeletion): this.type = {
      string(key); out.writeInt(Int.MaxValue); longlong(deletionTs); this
    }

    def endOfPartition(): this.type = byte(0x01)

    def result: Array[Byte] = { out.flush(); bos.toByteArray }
  }

  private val Cols = Seq("click" -> CText, "nclicks" -> CLong)
  private val ColsSpec = "click:text,nclicks:long"

  private def decode(bytes: Array[Byte], minTs: Long = 0, minTtl: Long = 0,
      cols: Seq[(String, ColType)] = Cols): List[MaCell] =
    new MaFormat.Reader(new ByteArrayInputStream(bytes), cols, minTs, minTtl).toList

  private def longBytes(v: Long): Array[Byte] = {
    val b = java.nio.ByteBuffer.allocate(8); b.putLong(v); b.array()
  }

  test("vint encoder/decoder agree across the full width range") {
    val values = Seq(0L, 1L, 0x7eL, 0x7fL, 0x80L, 0xffL, 0x1234L, 0xffffL,
      0x123456L, 0x12345678L, 0x123456789aL, 0x123456789abcL,
      0x123456789abcdeL, 0x7fffffffffffffffL)
    val e = new Enc
    values.foreach(e.vint)
    val in = new ByteArrayInputStream(e.result)
    // Use a single-column reader's private vint via a 1-partition probe:
    // simplest is to decode through a crafted row — instead re-implement
    // the reference decode inline and compare both directions.
    def readUnsignedVint(read: () => Int): Long = {
      val first = read()
      if (first < 0x7f) return first.toLong
      var extraBytes = 0
      while (extraBytes < 8 && (first & (0x80 >> extraBytes)) != 0) extraBytes += 1
      var v: Long = (first & (0xff >> extraBytes)).toLong
      var i = 0
      while (i < extraBytes) { v = (v << 8) | read(); i += 1 }
      v
    }
    val got = values.map(_ => readUnsignedVint(() => in.read()))
    assert(got === values)
  }

  test("normal rows round-trip: per-cell and row-shared timestamps, subsets") {
    val e = new Enc
    e.partitionHeader("user-1")
    // Row 1: HAS_TIMESTAMP + HAS_ALL_COLUMNS; both cells use row ts.
    e.byte(0x04 | 0x20)
      .vint(0).vint(0)                 // row size, prev size (unused)
      .vint(1000)                      // row timestamp delta
    e.byte(0x08).vint(5).bytes("way-1".getBytes(UTF_8)) // click: row ts, text len 5
    e.byte(0x08).bytes(longBytes(7L))                   // nclicks: row ts, fixed 8
    // Row 2: no row timestamp; subset = only column 1 (nclicks).
    e.byte(0x00)
      .vint(0).vint(0)
      .subset(Seq(false, true))        // subset: nclicks only
    e.byte(0x00).vint(2500).bytes(longBytes(9L)) // per-cell ts delta 2500
    e.endOfPartition()

    val cells = decode(e.result, minTs = 100)
    assert(cells.map(c => (new String(c.key, UTF_8), c.col, c.ts)) ===
      List(("user-1", "click", 1100L), ("user-1", "nclicks", 1100L),
           ("user-1", "nclicks", 2600L)))
    assert(new String(cells.head.value, UTF_8) === "way-1")
    assert(java.nio.ByteBuffer.wrap(cells(1).value).getLong === 7L)
    assert(cells.forall(c => !c.deleted && !c.expiring && !c.marker))
    assert(cells.forall(_.deletionTs == MaFormat.NoDeletion))
  }

  test("column subsets of 64+ columns decode both large-subset arms") {
    // 70 regular columns: Cassandra lists the PRESENT indices when fewer
    // than half are present, the MISSING ones otherwise, and writes 0
    // for a full row that does not set HAS_ALL_COLUMNS.
    val wide = (0 until 70).map(i => f"c$i%02d" -> CLong)
    val rows = Seq(
      Set(3, 40, 65),                        // present-list arm
      (0 until 70).toSet -- Set(0, 50, 69),  // missing-list arm
      (0 until 70).toSet)                    // all present, encoded 0
    val e = new Enc
    e.partitionHeader("wide")
    rows.zipWithIndex.foreach { case (present, r) =>
      e.byte(0x00).vint(0).vint(0).subset((0 until 70).map(present))
      present.toSeq.sorted.foreach(i => e.byte(0x00).vint(r.toLong).bytes(longBytes(i * 100L + r)))
    }
    e.endOfPartition()
    val got = decode(e.result, cols = wide)
      .map(c => (c.ts, c.col, java.nio.ByteBuffer.wrap(c.value).getLong))
    val want = rows.zipWithIndex.flatMap { case (present, r) =>
      present.toSeq.sorted.map(i => (r.toLong, f"c$i%02d", i * 100L + r))
    }
    assert(got === want)
  }

  test("deletions round-trip: partition, row, cell tombstones, and markers") {
    val e = new Enc
    e.partitionHeader("k1", deletionTs = 5000L)
    // Row with HAS_DELETION: row deletion overrides partition's.
    e.byte(0x10 | 0x20)
      .vint(0).vint(0)
      .vint(7000).vint(0)              // row deletion delta + localDeletion
    e.byte(0x00).vint(7500).vint(6).bytes("gone-1".getBytes(UTF_8))
    e.byte(0x01).vint(7600).vint(0)    // nclicks: IS_DELETED cell (ldt vint), empty? no -> value
      .bytes(longBytes(1L))
    // Range tombstone marker (clustering-less: size 0).
    e.byte(0x02)                       // IS_MARKER
      .byte(0)                         // marker type (INCL_START)
      .short(0)                        // clustering size 0
      .vint(0).vint(0)
      .longlong(8000L)
    e.out.writeInt(0)                  // marker local deletion (4B skip)
    // Row without HAS_DELETION: inherits the partition deletion.
    e.byte(0x20).vint(0).vint(0)
    e.byte(0x00).vint(100).vint(2).bytes("ok".getBytes(UTF_8))
    e.byte(0x04).vint(200)             // nclicks: HAS_EMPTY_VALUE
    e.endOfPartition()

    val cells = decode(e.result)
    assert(cells.length === 6)
    val Seq(pd, c1, c2, m, c3, c4) = cells.toSeq
    assert(pd.marker && pd.col == null && pd.deletionTs === 5000L,
      "partition deletion must surface as its own marker row")
    assert(c1.deletionTs === 7000L && c2.deletionTs === 7000L)
    assert(c2.deleted && !c1.deleted)
    assert(m.marker && m.col == null && m.ts === 8000L && m.deletionTs === 8000L)
    assert(c3.deletionTs === 5000L, "row without HAS_DELETION inherits partition deletion")
    assert(c4.value == null, "HAS_EMPTY_VALUE cell carries no value")
  }

  test("TTL round-trip: row-shared and per-cell expiring cells") {
    val e = new Enc
    e.partitionHeader("k2")
    // HAS_TIMESTAMP + HAS_TTL row; cell 0 uses row ttl, cell 1 per-cell.
    e.byte(0x04 | 0x08 | 0x20)
      .vint(0).vint(0)
      .vint(50)                        // row ts delta
      .vint(30)                        // row ttl delta
      .vint(0)                         // row local deletion time
    e.byte(0x08 | 0x10).vint(1).bytes("x".getBytes(UTF_8)) // row ts + row ttl
    e.byte(0x02).vint(60).vint(0).vint(45).bytes(longBytes(3L)) // per-cell expiring
    e.endOfPartition()

    val cells = decode(e.result, minTs = 1000, minTtl = 10)
    val Seq(c1, c2) = cells.toSeq
    assert(c1.expiring && c1.ttlSec === 40L && c1.ts === 1050L)
    assert(c2.expiring && c2.ttlSec === 55L && c2.ts === 1060L)
  }

  test("multiple partitions stream in sequence") {
    val e = new Enc
    (1 to 3).foreach { i =>
      e.partitionHeader(s"key-$i")
      e.byte(0x20).vint(0).vint(0)
      e.byte(0x00).vint(i.toLong * 10).vint(1).bytes("v".getBytes(UTF_8))
      e.byte(0x04).vint(i.toLong * 10)
      e.endOfPartition()
    }
    val cells = decode(e.result)
    assert(cells.map(c => new String(c.key, UTF_8)).distinct ===
      List("key-1", "key-2", "key-3"))
    assert(cells.length === 6)
  }

  test("randomized ma cell streams round-trip against the in-memory model") {
    val rng = new scala.util.Random(20260812L)
    (1 to 30).foreach { trial =>
      val minTs = rng.nextInt(100000).toLong
      val minTtl = rng.nextInt(100).toLong
      val e = new Enc
      // model rows: (key, col, ts, valueOrNull, deleted, expiring, ttl)
      val model = Seq.newBuilder[(String, String, Long, Option[String], Boolean, Boolean, Long)]
      (1 to 1 + rng.nextInt(6)).foreach { p =>
        val key = s"key-$trial-$p"
        e.partitionHeader(key)
        (1 to 1 + rng.nextInt(4)).foreach { _ =>
          // Random subset over the two columns (never empty).
          val mask = 1 + rng.nextInt(3)
          val hasAll = mask == 3 && rng.nextBoolean()
          val rowTs = rng.nextInt(1000000).toLong
          val hasRowTs = rng.nextBoolean()
          var flags = 0
          if (hasRowTs) flags |= 0x04
          if (hasAll) flags |= 0x20
          e.byte(flags).vint(0).vint(0)
          if (hasRowTs) e.vint(rowTs)
          if (!hasAll) e.subset(Seq(mask & 1, mask & 2).map(_ != 0))
          Seq(("click", 0), ("nclicks", 1)).foreach { case (name, bit) =>
            if (hasAll || (mask & (1 << bit)) != 0) {
              val useRowTs = hasRowTs && rng.nextBoolean()
              val deleted = rng.nextInt(4) == 0
              val expiring = !deleted && rng.nextInt(4) == 0
              val cellTs = rng.nextInt(1000000).toLong
              val ttl = rng.nextInt(5000).toLong
              val emptyVal = deleted || rng.nextInt(5) == 0
              var cf = 0
              if (deleted) cf |= 0x01
              if (expiring) cf |= 0x02
              if (emptyVal) cf |= 0x04
              if (useRowTs) cf |= 0x08
              e.byte(cf)
              if (!useRowTs) e.vint(cellTs)
              if (expiring || deleted) e.vint(0) // local deletion time
              if (expiring) e.vint(ttl)
              val value =
                if (emptyVal) None
                else if (name == "click") {
                  val v = s"v${rng.nextInt(1000)}"
                  e.vint(v.length.toLong).bytes(v.getBytes(UTF_8)); Some(v)
                } else {
                  val n = rng.nextLong()
                  e.bytes(longBytes(n)); Some(n.toString)
                }
              val ts = (if (useRowTs) rowTs else cellTs) + minTs
              model += ((key, name, ts, value, deleted, expiring,
                if (expiring) ttl + minTtl else -1L))
            }
          }
        }
        e.endOfPartition()
      }
      val got = decode(e.result, minTs, minTtl).map { c =>
        val v = Option(c.value).map { b =>
          if (c.col == "click") new String(b, UTF_8)
          else java.nio.ByteBuffer.wrap(b).getLong.toString
        }
        (new String(c.key, UTF_8), c.col, c.ts, v, c.deleted, c.expiring, c.ttlSec)
      }
      assert(got === model.result(), s"trial $trial mismatch")
    }
  }

  // ---- legacy "ka" format -------------------------------------------

  /** ka-format encoder bits (OldSStable layout, SSTable.cpp:337-457):
    * cells are (short-len name, flags, [extras], 8B ts, int-len value),
    * terminated per row by an EMPTY name. */
  private class KaEnc extends Enc {
    def partition(key: String, deletionTs: Long = MaFormat.NoDeletion): this.type = {
      string(key); out.writeInt(Int.MaxValue); longlong(deletionTs); this
    }
    def cell(name: String, ts: Long, value: Array[Byte], flags: Int = 0): this.type = {
      string(name); byte(flags); longlong(ts)
      out.writeInt(value.length); bytes(value); this
    }
    def expiringCell(name: String, ts: Long, value: Array[Byte],
        ttlS: Int, expirationS: Int): this.type = {
      string(name); byte(0x02)
      out.writeInt(ttlS); out.writeInt(expirationS)
      longlong(ts); out.writeInt(value.length); bytes(value); this
    }
    def counterCell(name: String, ts: Long, value: Array[Byte]): this.type = {
      string(name); byte(0x04); longlong(0L) // timestamp-of-last-delete
      longlong(ts); out.writeInt(value.length); bytes(value); this
    }
    def rangeTombstone(startName: String, endName: String, ts: Long): this.type = {
      string(startName); byte(0x10); string(endName)
      out.writeInt(Int.MaxValue); longlong(ts); this
    }
    /** Range tombstone with raw composite bounds (caller controls the
      * EOC bytes). */
    def rangeTombstoneRaw(start: Array[Byte], end: Array[Byte], ts: Long): this.type = {
      short(start.length); bytes(start); byte(0x10)
      short(end.length); bytes(end)
      out.writeInt(Int.MaxValue); longlong(ts); this
    }
    /** Composite name bytes: length-prefixed elements, each followed
      * by an EOC byte (0 for all but the last, `lastEoc` for the
      * last — the legacy inclusivity encoding). */
    def composite(els: Seq[String], lastEoc: Int = 0): Array[Byte] = {
      val b = new ByteArrayOutputStream(); val d = new DataOutputStream(b)
      els.zipWithIndex.foreach { case (el, i) =>
        val e2 = el.getBytes(UTF_8); d.writeShort(e2.length); d.write(e2)
        d.writeByte(if (i == els.size - 1) lastEoc else 0)
      }
      d.flush(); b.toByteArray
    }
    /** Composite name: length-prefixed path elements, each followed by
      * an end-of-component byte; the decoder keeps the LAST element. */
    def compositeCell(path: Seq[String], ts: Long, value: Array[Byte]): this.type = {
      val name = new ByteArrayOutputStream()
      val d = new DataOutputStream(name)
      path.foreach { el =>
        val b = el.getBytes(UTF_8); d.writeShort(b.length); d.write(b); d.writeByte(0)
      }
      d.flush()
      short(name.size()); bytes(name.toByteArray)
      byte(0); longlong(ts); out.writeInt(value.length); bytes(value); this
    }
    def endRow(): this.type = short(0) // empty name terminates the row
  }

  test("legacy ka cells round-trip: live, deleted, expiring, counter, composite") {
    val e = new KaEnc
    e.partition("user-9", deletionTs = 111L)
    e.cell("click", 1000L, "v1".getBytes(UTF_8))
    e.cell("gone", 1100L, Array.emptyByteArray, flags = 0x01)
    e.expiringCell("temp", 1200L, "t".getBytes(UTF_8), ttlS = 600, expirationS = 99)
    e.counterCell("hits", 1300L, longBytes(42L))
    e.compositeCell(Seq("2024-01", "click"), 1400L, "c".getBytes(UTF_8))
    e.rangeTombstone("a", "m", 1500L)
    e.endRow()
    e.partition("user-10")
    e.cell("solo", 2000L, "s".getBytes(UTF_8))
    e.endRow()

    val cells = new MaFormat.KaReader(
      new ByteArrayInputStream(e.result)).toList
    assert(cells.map(_.col) === List(null, "click", "gone", "temp", "hits", "click", "a", "solo"))
    val Seq(pd, live, gone, temp, hits, comp, rt, solo) = cells.toSeq
    assert(pd.marker && pd.deletionTs === 111L)
    assert(!live.deleted && live.ts === 1000L && live.deletionTs === 111L)
    assert(gone.deleted)
    assert(temp.expiring && temp.ttlSec === 600L)
    assert(hits.counter && java.nio.ByteBuffer.wrap(hits.value).getLong === 42L)
    assert(comp.col === "click", "composite path must unwrap to its last element")
    assert(rt.marker && new String(rt.value, UTF_8) === "m" && rt.ts === 1500L)
    assert(solo.deletionTs === MaFormat.NoDeletion)
  }

  test("ka files are detected by filename and read through the DataSource") {
    val dir = Files.createTempDirectory("ka-sstable")
    val e = new KaEnc
    (1 to 4).foreach { i =>
      e.partition(s"u$i")
      e.cell("click", i.toLong * 10, s"k$i".getBytes(UTF_8))
      e.endRow()
    }
    Files.write(dir.resolve("ks-tbl-ka-1-Data.db"), e.result)
    assert(graft.sources.sstable.MaSSTableSource.versionOf("ks-tbl-ka-1-Data.db") === "ka")
    assert(graft.sources.sstable.MaSSTableSource.versionOf("mc-1-big-Data.db") === "mc")
    val df = spark.read.format("graft.sources.sstable.MaSSTableSource")
      .option("path", dir.toString).option("columns", ColsSpec).load()
    val rows = df.collect()
    assert(rows.length === 4)
    assert(rows.map(_.getAs[String]("key")).sorted === Array("u1", "u2", "u3", "u4"))
    assert(rows.forall(!_.getAs[Boolean]("counter")))
  }

  test("token-range filters fold into the scan's ring-slice options (optimizer rule)") {
    val dir = Files.createTempDirectory("tok-push")
    val e = new KaEnc
    val keys = (1 to 16).map(i => s"u$i")
    keys.foreach { k =>
      e.partition(k); e.cell("click", 10L, k.getBytes(UTF_8)); e.endRow()
    }
    Files.write(dir.resolve("ks-tbl-ka-1-Data.db"), e.result)
    def read(withPartitioner: Boolean) = {
      val r = spark.read.format("graft.sources.sstable.MaSSTableSource")
        .option("path", dir.toString).option("columns", ColsSpec)
      (if (withPartitioner) r.option("partitioner", "murmur3") else r).load()
    }
    val toks = keys.map(k => k -> graft.functions.CassandraMurmur3.token(
      org.apache.spark.unsafe.types.UTF8String.fromString(k))).toMap
    val sorted = toks.values.toSeq.sorted
    val (lo, hi) = (sorted(3), sorted(11))
    def tokOf(df: org.apache.spark.sql.DataFrame) =
      org.apache.spark.sql.graftbridge.ColumnBridge.column(
        graft.functions.CassandraMurmur3Token(
          org.apache.spark.sql.graftbridge.ColumnBridge.expression(df("key"))))
    def sliceOf(df: org.apache.spark.sql.DataFrame): Map[String, String] =
      df.queryExecution.optimizedPlan.collect {
        case sr: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
          import scala.jdk.CollectionConverters._
          sr.relation.table.properties().asScala.toMap
      }.head.filter { case (k, _) => k == "tokenMin" || k == "tokenMax" }
    val prev = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations =
      prev :+ graft.sources.sstable.TokenRangePushdown
    try {
      val df = read(withPartitioner = true)
      val q = df.filter(tokOf(df) >= lo && tokOf(df) <= hi)
      val want = keys.filter(k => toks(k) >= lo && toks(k) <= hi).sorted
      assert(want.nonEmpty && want.size < keys.size, "bounds must select a strict subset")
      assert(q.collect().map(_.getAs[String]("key")).sorted === want.toArray)
      assert(sliceOf(q) === Map("tokenMin" -> lo.toString, "tokenMax" -> hi.toString),
        "the murmur3 token range must reach the reader options")
      // Guard: no explicit partitioner option → the rule must NOT fire
      // (the file's own ring order is unknown at optimize time).
      val dfNo = read(withPartitioner = false)
      val qNo = dfNo.filter(tokOf(dfNo) >= lo && tokOf(dfNo) <= hi)
      assert(qNo.collect().map(_.getAs[String]("key")).sorted === want.toArray)
      assert(sliceOf(qNo) === Map.empty, "no pushdown without an explicit partitioner")
    } finally spark.experimental.extraOptimizations = prev
  }

  test("pre-ja old-row framing: size field + column-count rows decode through the version dispatch") {
    // Reference read_row (SSTable.cpp:344-360): before "ja" a row is
    // key, on-disk row size (4 bytes before VERSION_D = "da", 8 bytes
    // after), deletion info, then an explicit COLUMN COUNT — rows have
    // no empty-name terminator. Cell framing is the ka form.
    def encode(rowSizeBytes: Int): Array[Byte] = {
      val e = new KaEnc
      def preJaPartition(key: String, nCols: Int,
          deletionTs: Long = MaFormat.NoDeletion): Unit = {
        e.string(key)
        if (rowSizeBytes == 4) e.out.writeInt(77) else e.longlong(77L)
        e.out.writeInt(Int.MaxValue) // local_deletion
        e.longlong(deletionTs)
        e.out.writeInt(nCols)
      }
      preJaPartition("u1", 3)
      e.cell("click", 1000L, "v1".getBytes(UTF_8))
      e.expiringCell("temp", 1100L, "t".getBytes(UTF_8), ttlS = 600, expirationS = 99)
      e.counterCell("hits", 1200L, longBytes(9L))
      preJaPartition("u2", 1, deletionTs = 500L)
      e.cell("click", 2000L, "v2".getBytes(UTF_8))
      e.result
    }
    // Version detection: two-letter legacy tokens pass through; the
    // ancient single-letter versions normalize to letter+"a" (the
    // reference's VERSION_STRING_TO_VERSION(c, 'a')).
    assert(MaSSTableSource.versionOf("ks-t-hc-1-Data.db") === "hc")
    assert(MaSSTableSource.versionOf("ks-t-c-1-Data.db") === "ca")
    Seq(("hc", 8), ("ca", 4)).foreach { case (v, szBytes) =>
      val cells = new MaFormat.KaReader(
        new ByteArrayInputStream(encode(szBytes)), version = v).toList
      assert(cells.map(_.col) === List("click", "temp", "hits", null, "click"),
        s"version $v")
      assert(cells(1).expiring && cells(1).ttlSec === 600L)
      assert(cells(2).counter &&
        java.nio.ByteBuffer.wrap(cells(2).value).getLong === 9L)
      assert(cells(3).marker && cells(3).deletionTs === 500L,
        "partition deletion surfaces as a marker")
      assert(cells(4).ts === 2000L)
    }
    // Through the DataSource: the FILENAME picks the framing.
    def readDir(name: String, szBytes: Int): Set[(String, String, Long)] = {
      val dir = Files.createTempDirectory("preja")
      Files.write(dir.resolve(name), encode(szBytes))
      spark.read.format("graft.sources.sstable.MaSSTableSource")
        .option("path", dir.toString).option("columns", ColsSpec).load()
        .filter(!col("marker"))
        .select(col("key"), col("col"), col("ts")).collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    }
    val want = Set(("u1", "click", 1000L), ("u1", "temp", 1100L),
      ("u1", "hits", 1200L), ("u2", "click", 2000L))
    assert(readDir("ks-t-hc-1-Data.db", 8) === want)
    assert(readDir("ks-t-c-1-Data.db", 4) === want)
  }

  test("randomized legacy streams round-trip across ka, hc, and ca framings") {
    // One random cell model per trial, encoded THREE ways — "ka"
    // (empty-name terminated), "hc" (8-byte row size + column count),
    // "ca" (4-byte row size + column count) — each decoded with its
    // version; all three must reproduce the model exactly. Covers
    // live/deleted/expiring/counter cells, empty values, and partition
    // deletions across the whole legacy version ladder.
    val rng = new scala.util.Random(20260813L)
    (1 to 30).foreach { trial =>
      // model: (key, partDeletion, cells=(name, ts, value, kind))
      case class MCell(name: String, ts: Long, value: Array[Byte],
        deleted: Boolean, expiring: Boolean, ttl: Long, counter: Boolean)
      val parts = (1 to 1 + rng.nextInt(5)).map { p =>
        val delTs =
          if (rng.nextInt(4) == 0) rng.nextInt(1000000).toLong
          else MaFormat.NoDeletion
        val cells = (1 to rng.nextInt(5)).map { c =>
          val kind = rng.nextInt(4)
          val ts = rng.nextInt(1000000).toLong
          val value =
            if (kind == 3) longBytes(rng.nextLong())
            else if (rng.nextInt(5) == 0) Array.emptyByteArray
            else s"v${rng.nextInt(1000)}".getBytes(UTF_8)
          MCell(s"col$c", ts, value,
            deleted = kind == 1, expiring = kind == 2,
            ttl = if (kind == 2) 1 + rng.nextInt(5000).toLong else -1L,
            counter = kind == 3)
        }
        (s"k-$trial-$p", delTs, cells)
      }
      def encCell(e: KaEnc, c: MCell): Unit =
        if (c.counter) e.counterCell(c.name, c.ts, c.value)
        else if (c.expiring)
          e.expiringCell(c.name, c.ts, c.value, c.ttl.toInt, 99)
        else e.cell(c.name, c.ts, c.value, if (c.deleted) 0x01 else 0)
      def encode(version: String): Array[Byte] = {
        val e = new KaEnc
        parts.foreach { case (key, delTs, cells) =>
          if (version >= "ja") {
            e.partition(key, delTs)
            cells.foreach(encCell(e, _))
            e.endRow()
          } else {
            e.string(key)
            if (version < "da") e.out.writeInt(rng.nextInt()) // skipped size
            else e.longlong(rng.nextLong())
            e.out.writeInt(Int.MaxValue)
            e.longlong(delTs)
            e.out.writeInt(cells.size)
            cells.foreach(encCell(e, _))
          }
        }
        e.result
      }
      val want = parts.flatMap { case (key, delTs, cells) =>
        val marker =
          if (delTs != MaFormat.NoDeletion)
            Seq((key, null: String, delTs, "", true, false, -1L, false))
          else Nil
        marker ++ cells.map(c => (key, c.name, c.ts,
          c.value.map(b => f"$b%02x").mkString, c.deleted, c.expiring,
          c.ttl, c.counter))
      }
      Seq("ka", "hc", "ca").foreach { v =>
        val got = new MaFormat.KaReader(
          new ByteArrayInputStream(encode(v)), version = v).toList.map { c =>
          (new String(c.key, UTF_8), c.col, c.ts,
            Option(c.value).map(_.map(b => f"$b%02x").mkString).getOrElse(""),
            c.deleted, c.expiring, c.ttlSec, c.counter)
        }
        assert(got === want, s"trial $trial version $v mismatch")
      }
    }
  }

  // ---- compressed-chunk fixture writer ------------------------------

  /** Chunk-compress a Data.db payload + matching CompressionInfo.db
    * (independent of the reader: big-endian metadata, per-chunk 4-byte
    * checksum, LZ4 chunks led by a 4-byte little-endian uncompressed
    * length). `checksum` selects the version-dependent regime the
    * reader must match (SSTable.cpp:102-104): "crc32-compressed"
    * ("ma"+), "adler32-compressed" (jb..la), "crc32-uncompressed"
    * (pre-jb). */
  private def writeCompressed(
      dir: java.nio.file.Path, prefix: String, payload: Array[Byte],
      codecName: String, chunkLen: Int,
      checksum: String = "crc32-compressed"): Unit = {
    val chunks = payload.grouped(chunkLen).toSeq
    val dataOut = new ByteArrayOutputStream()
    val offsets = Seq.newBuilder[Long]
    var pos = 0L
    chunks.foreach { chunk =>
      val compressed = codecName match {
        case "LZ4Compressor" =>
          val c = net.jpountz.lz4.LZ4Factory.fastestInstance().fastCompressor()
            .compress(chunk)
          val out = new Array[Byte](4 + c.length)
          out(0) = (chunk.length & 0xff).toByte
          out(1) = ((chunk.length >> 8) & 0xff).toByte
          out(2) = ((chunk.length >> 16) & 0xff).toByte
          out(3) = ((chunk.length >> 24) & 0xff).toByte
          System.arraycopy(c, 0, out, 4, c.length)
          out
        case "DeflateCompressor" =>
          val d = new java.util.zip.Deflater()
          d.setInput(chunk); d.finish()
          val buf = new Array[Byte](chunk.length * 2 + 64)
          val n = d.deflate(buf); d.end()
          buf.take(n)
        case "SnappyCompressor" =>
          org.xerial.snappy.Snappy.compress(chunk)
      }
      val crc: java.util.zip.Checksum = checksum match {
        case "adler32-compressed" => new java.util.zip.Adler32()
        case _ => new java.util.zip.CRC32()
      }
      if (checksum == "crc32-uncompressed") crc.update(chunk)
      else crc.update(compressed)
      offsets += pos
      dataOut.write(compressed)
      val c = crc.getValue.toInt
      dataOut.write(Array[Byte](
        ((c >> 24) & 0xff).toByte, ((c >> 16) & 0xff).toByte,
        ((c >> 8) & 0xff).toByte, (c & 0xff).toByte))
      pos += compressed.length + 4
    }
    val ci = new ByteArrayOutputStream()
    val cid = new java.io.DataOutputStream(ci)
    val nameBytes = codecName.getBytes(UTF_8)
    cid.writeShort(nameBytes.length); cid.write(nameBytes)
    cid.writeInt(1) // one param, exercises the skip path
    val (pn, pv) = ("chunk_length_in_kb".getBytes(UTF_8), "64".getBytes(UTF_8))
    cid.writeShort(pn.length); cid.write(pn)
    cid.writeShort(pv.length); cid.write(pv)
    cid.writeInt(chunkLen)
    cid.writeLong(payload.length.toLong)
    val offs = offsets.result()
    cid.writeInt(offs.length)
    offs.foreach(cid.writeLong)
    cid.flush()
    Files.write(dir.resolve(s"$prefix-Data.db"), dataOut.toByteArray)
    Files.write(dir.resolve(s"$prefix-CompressionInfo.db"), ci.toByteArray)
  }

  test("compressed Data.db round-trips through every codec (chunked, CRC32)") {
    // Payload bigger than one chunk so the chunk walk is exercised.
    val e = new Enc
    (1 to 40).foreach { i =>
      val v = (s"value-$i-" + "x" * 50).getBytes(UTF_8)
      e.partitionHeader(s"user-$i")
      e.byte(0x20).vint(0).vint(0)
      e.byte(0x00).vint(i.toLong).vint(v.length).bytes(v)
      e.byte(0x00).vint(i.toLong).bytes(longBytes(i.toLong))
      e.endOfPartition()
    }
    val payload = e.result
    assert(payload.length > 1024, "fixture must span multiple 1 KiB chunks")
    Seq("LZ4Compressor", "DeflateCompressor", "SnappyCompressor").foreach { codec =>
      val dir = Files.createTempDirectory(s"ma-compressed")
      writeCompressed(dir, "mc-1-big", payload, codec, chunkLen = 1024)
      val df = spark.read
        .format("graft.sources.sstable.MaSSTableSource")
        .option("path", dir.toString)
        .option("columns", ColsSpec)
        .load()
      assert(df.count() === 80, s"$codec: wrong row count")
      val r = df.filter(col("key") === "user-7" && col("col") === "click").collect()
      assert(r.length === 1 &&
        new String(r.head.getAs[Array[Byte]]("value"), UTF_8).startsWith("value-7-"),
        s"$codec: wrong decoded value")
    }
  }

  test("randomized payloads round-trip through the chunk layer at odd sizes") {
    val rng = new scala.util.Random(424242L)
    (1 to 20).foreach { trial =>
      // Sizes chosen to hit: sub-chunk, exact-multiple, and ragged-tail
      // payloads; bytes include full 0-255 range (not just ASCII).
      val size = Seq(1, 512, 1024, 1025, 4096, 10000)(trial % 6) + rng.nextInt(64)
      val payload = Array.fill(size)(rng.nextInt(256).toByte)
      val codec = Seq("LZ4Compressor", "DeflateCompressor", "SnappyCompressor")(trial % 3)
      val chunkLen = Seq(512, 1024, 1 << 16)(trial % 3)
      val dir = Files.createTempDirectory("chunk-prop")
      writeCompressed(dir, "mc-1-big", payload, codec, chunkLen)
      val fs = org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
      val buf = new Array[Byte](1 + rng.nextInt(700)) // odd read sizes
      // From the start, and from a random mid-stream position (the
      // chunk-granular start a sub-file split takes).
      Seq(0, rng.nextInt(size)).foreach { start =>
        val in = graft.sources.sstable.ByteCursor.data(
          fs, dir.resolve("mc-1-big-Data.db").toString, start, verify = true)
        val out = new ByteArrayOutputStream()
        try while (in.remaining > 0) {
          val n = math.min(buf.length.toLong, in.remaining).toInt
          in.readFully(buf, 0, n)
          out.write(buf, 0, n)
        } finally in.close()
        assert(java.util.Arrays.equals(out.toByteArray, payload.drop(start)),
          s"trial $trial ($codec, chunk $chunkLen, size $size, start $start) corrupted")
      }
    }
  }

  test("corrupted compressed chunk fails its checksum loudly") {
    val e = new Enc
    e.partitionHeader("k")
    e.byte(0x20).vint(0).vint(0)
    e.byte(0x00).vint(1).vint(1).bytes("v".getBytes(UTF_8))
    e.byte(0x04).vint(1)
    e.endOfPartition()
    val dir = Files.createTempDirectory("ma-corrupt")
    writeCompressed(dir, "mc-1-big", e.result, "LZ4Compressor", chunkLen = 1024)
    val dataFile = dir.resolve("mc-1-big-Data.db")
    val bytes = Files.readAllBytes(dataFile)
    bytes(5) = (bytes(5) ^ 0x5a).toByte // flip bits inside the compressed chunk
    Files.write(dataFile, bytes)
    val ex = intercept[Exception] {
      spark.read.format("graft.sources.sstable.MaSSTableSource")
        .option("path", dir.toString).option("columns", ColsSpec)
        .load().count()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(ex).exists(_.contains("checksum mismatch")),
      s"expected checksum failure, got: ${messages(ex).mkString(" | ")}")
    // The -C escape hatch (reference CompressedBuffer::enableChecksum
    // (false)): verification off, the chunk decodes without the check.
    // The flipped byte sits in LZ4 payload, so decode itself may or may
    // not survive — only the CHECKSUM must no longer be what throws.
    val relaxed = scala.util.Try {
      spark.read.format("graft.sources.sstable.MaSSTableSource")
        .option("path", dir.toString).option("columns", ColsSpec)
        .option("verifyChecksums", "false")
        .load().count()
    }
    relaxed.failed.foreach { t =>
      assert(!messages(t).exists(_.contains("checksum mismatch")),
        "with verifyChecksums=false the checksum must not be checked")
    }
  }

  // ---- sub-file input splits (Index.db) ------------------------------

  /** Write an Index.db for `positions` (uncompressed partition-start
    * offsets): (short key, vint position, vint promoted-size 0).
    * Returns each entry's own byte offset WITHIN the index file — what
    * a Summary.db samples. */
  /** Index.db fixture in the version's own wire form: vint position +
    * vint promoted length for "ma"+, 8-byte longlong position + 4-byte
    * int promoted length before (SSTable.cpp:76,83). */
  private def writeIndex(
      dir: java.nio.file.Path, prefix: String,
      entries: Seq[(String, Long)], version: String = "ma"): Seq[Long] = {
    val e = new Enc
    val offsets = entries.map { case (k, pos) =>
      val off = e.bos.size().toLong
      if (version >= "ma") e.string(k).vint(pos).vint(0)
      else { e.string(k).longlong(pos); e.out.writeInt(0) }
      off
    }
    Files.write(dir.resolve(s"$prefix-Index.db"), e.result)
    offsets
  }

  /** Write a Summary.db (the reference's find_partition_in_summary
    * layout, SSTable.cpp:121-180): BIG-endian header — minIndexInterval,
    * entry count, toc byte size, plus samplingLevel/sizeAtFullSampling
    * for "ka"+ — then the NATIVE(little)-endian toc: int32 entry
    * offsets, then each sampled key's bytes + its int64 Index.db
    * position. */
  private def writeSummary(
      dir: java.nio.file.Path, prefix: String,
      sampled: Seq[(String, Long)], version: String = "mc",
      bounds: Option[(String, String)] = None): Unit = {
    val keys = sampled.map(_._1.getBytes(UTF_8))
    var off = 4 * sampled.size
    val offsets = keys.map { kb => val o = off; off += kb.length + 8; o }
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(128)          // minIndexInterval
    out.writeInt(sampled.size) // entry count
    out.writeLong(off.toLong)  // toc byte size
    if (version >= "ka") { out.writeInt(128); out.writeInt(sampled.size) }
    def le32(v: Int): Unit = { var i = 0; while (i < 4) { out.write((v >>> (8 * i)) & 0xff); i += 1 } }
    def le64(v: Long): Unit = { var i = 0; while (i < 8) { out.write(((v >>> (8 * i)) & 0xff).toInt); i += 1 } }
    offsets.foreach(le32)
    keys.zip(sampled.map(_._2)).foreach { case (kb, pos) => out.write(kb); le64(pos) }
    // Trailing first/last partition keys (saveSummary's
    // writeWithLength pair): BIG-endian length + raw bytes each.
    bounds.foreach { case (first, last) =>
      Seq(first, last).foreach { k =>
        val kb = k.getBytes(UTF_8)
        out.writeInt(kb.length); out.write(kb)
      }
    }
    out.flush()
    Files.write(dir.resolve(s"$prefix-Summary.db"), bos.toByteArray)
  }

  /** A multi-partition ma payload plus its (key, offset) index. */
  private def indexedPayload(n: Int): (Array[Byte], Seq[(String, Long)]) = {
    val e = new Enc
    val entries = Seq.newBuilder[(String, Long)]
    (1 to n).foreach { i =>
      entries += (f"user-$i%03d" -> e.bos.size().toLong)
      e.partitionHeader(f"user-$i%03d")
      e.byte(0x20).vint(0).vint(0)
      val v = (s"value-$i-" + "x" * 40).getBytes(UTF_8)
      e.byte(0x00).vint(i.toLong).vint(v.length).bytes(v)
      e.byte(0x00).vint(i.toLong).bytes(longBytes(i.toLong))
      e.endOfPartition()
    }
    (e.result, entries.result())
  }

  private def readKeyTs(dir: String, splitBytes: Option[Long]): (Int, Set[(String, String, Long)]) = {
    val base = spark.read.format("graft.sources.sstable.MaSSTableSource")
      .option("path", dir).option("columns", ColsSpec)
    val df = splitBytes.fold(base)(b => base.option("splitBytes", b.toString)).load()
    (df.rdd.getNumPartitions,
      df.select(col("key"), col("col"), col("ts")).collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet)
  }

  test("Index.db splits a Data.db into multiple input partitions with identical output") {
    val (payload, entries) = indexedPayload(40)
    val dir = Files.createTempDirectory("ma-split")
    Files.write(dir.resolve("mc-1-big-Data.db"), payload)
    writeIndex(dir, "mc-1-big", entries)
    val (nWhole, whole) = readKeyTs(dir.toString, splitBytes = None) // default 128 MiB: 1 split
    val (nSplit, split) = readKeyTs(dir.toString, splitBytes = Some(500L))
    assert(nWhole === 1)
    assert(nSplit >= 3, s"expected multiple splits, got $nSplit")
    assert(split === whole, "split read must produce exactly the single-split rows")
    assert(whole.size === 80)
  }

  test("compressed Data.db splits seek chunk-granularly and agree with the whole read") {
    val (payload, entries) = indexedPayload(60)
    Seq("LZ4Compressor", "SnappyCompressor", "DeflateCompressor").foreach { codec =>
      val dir = Files.createTempDirectory("ma-split-comp")
      // Small chunks so split starts land mid-chunk and cross chunks.
      writeCompressed(dir, "mc-1-big", payload, codec, chunkLen = 256)
      writeIndex(dir, "mc-1-big", entries)
      val (nWhole, whole) = readKeyTs(dir.toString, splitBytes = None)
      val (nSplit, split) = readKeyTs(dir.toString, splitBytes = Some(700L))
      assert(nWhole === 1)
      assert(nSplit >= 3, s"$codec: expected multiple splits, got $nSplit")
      assert(split === whole, s"$codec: split read diverged")
      assert(whole.size === 120)
    }
  }

  test("resumeKey seeks past earlier partitions at plan time (Index.db) and filters without one") {
    val (payload, entries) = indexedPayload(40)
    // Indexed file: partitions before the key are PRUNED from planning.
    val dir = Files.createTempDirectory("ma-resume")
    Files.write(dir.resolve("mc-1-big-Data.db"), payload)
    writeIndex(dir, "mc-1-big", entries)
    def read(d: String, resume: Option[String]) = {
      val b = spark.read.format("graft.sources.sstable.MaSSTableSource")
        .option("path", d).option("columns", ColsSpec)
        .option("splitBytes", "500")
      resume.fold(b)(k => b.option("resumeKey", k)).load()
    }
    val all = read(dir.toString, None)
    val resumed = read(dir.toString, Some("user-030"))
    assert(resumed.rdd.getNumPartitions < all.rdd.getNumPartitions,
      "plan must drop input splits that end before the resume key")
    val keys = resumed.select(col("key")).collect().map(_.getString(0)).toSet
    assert(keys === (30 to 40).map(i => f"user-$i%03d").toSet,
      s"resume from user-030 must return exactly keys >= user-030: $keys")
    // Resume key past the whole file: nothing planned, nothing read.
    assert(read(dir.toString, Some("zzz")).collect().isEmpty)
    // Indexless file: same rows via the reader-side residual filter.
    val dir2 = Files.createTempDirectory("ma-resume-noidx")
    Files.write(dir2.resolve("mc-1-big-Data.db"), payload)
    val filtered = read(dir2.toString, Some("user-030"))
      .select(col("key")).collect().map(_.getString(0)).toSet
    assert(filtered === keys, "indexless resume must return the same rows")
  }

  test("resume under the murmur3 partitioner walks token order, not key order") {
    // Build the file and its index in RING order (token, key) — where
    // key order and token order genuinely differ — exactly how a
    // Murmur3 table's Summary/Index is laid out.
    val keys = (1 to 30).map(i => f"user-$i%03d")
    val ringOrder = keys.sortBy(k => (
      graft.functions.CassandraMurmur3.token(k.getBytes(UTF_8)), k))
    assert(ringOrder !== keys.sorted, "fixture must distinguish the orders")
    val e = new Enc
    val entries = Seq.newBuilder[(String, Long)]
    ringOrder.foreach { k =>
      entries += (k -> e.bos.size().toLong)
      e.partitionHeader(k)
      e.byte(0x20).vint(0).vint(0)
      e.byte(0x00).vint(1L).vint(1).bytes("v".getBytes(UTF_8))
      e.byte(0x04).vint(1L)
      e.endOfPartition()
    }
    val dir = Files.createTempDirectory("ma-ring")
    Files.write(dir.resolve("mc-1-big-Data.db"), e.result)
    writeIndex(dir, "mc-1-big", entries.result())

    // Resume from the ring's midpoint key: expect exactly the ring
    // SUFFIX (which is NOT a key-order suffix).
    val resume = ringOrder(15)
    val expect = ringOrder.drop(15).toSet
    val got = spark.read.format("graft.sources.sstable.MaSSTableSource")
      .option("path", dir.toString).option("columns", ColsSpec)
      .option("resumeKey", resume).option("partitioner", "murmur3")
      .option("splitBytes", "300")
      .load().select(col("key")).collect().map(_.getString(0)).toSet
    assert(got === expect,
      s"murmur3 resume must keep the ring suffix; missing=${expect -- got} extra=${got -- expect}")
  }

  test("token range bounds prune the plan at both ends and slice exactly") {
    // Murmur3 ring-ordered fixture: the shard-slice read a distributed
    // migration issues (worker i of N owns one token range).
    val keys = (1 to 30).map(i => f"user-$i%03d")
    val ringOrder = keys.sortBy(k => (
      graft.functions.CassandraMurmur3.token(k.getBytes(UTF_8)), k))
    val e = new Enc
    val entries = Seq.newBuilder[(String, Long)]
    ringOrder.foreach { k =>
      entries += (k -> e.bos.size().toLong)
      e.partitionHeader(k)
      e.byte(0x20).vint(0).vint(0)
      e.byte(0x00).vint(1L).vint(1).bytes("v".getBytes(UTF_8))
      e.byte(0x04).vint(1L)
      e.endOfPartition()
    }
    val dir = Files.createTempDirectory("ma-slice")
    Files.write(dir.resolve("mc-1-big-Data.db"), e.result)
    writeIndex(dir, "mc-1-big", entries.result())
    val dirNoIdx = Files.createTempDirectory("ma-slice-noidx")
    Files.write(dirNoIdx.resolve("mc-1-big-Data.db"), e.result)

    def read(d: String, tMin: Option[String], tMax: Option[String]) = {
      val b = spark.read.format("graft.sources.sstable.MaSSTableSource")
        .option("path", d).option("columns", ColsSpec)
        .option("partitioner", "murmur3").option("splitBytes", "300")
      val b2 = tMin.fold(b)(v => b.option("tokenMin", v))
      tMax.fold(b2)(v => b2.option("tokenMax", v)).load()
    }
    def tok(k: String): String =
      graft.functions.CassandraMurmur3.token(k.getBytes(UTF_8)).toString

    val full = read(dir.toString, None, None)
    val sliced = read(dir.toString, Some(tok(ringOrder(8))), Some(tok(ringOrder(21))))
    val expect = ringOrder.slice(8, 22).toSet // inclusive bounds
    val got = sliced.select(col("key")).collect().map(_.getString(0)).toSet
    assert(got === expect,
      s"slice must return exactly the ring segment; missing=${expect -- got} extra=${got -- expect}")
    assert(sliced.rdd.getNumPartitions < full.rdd.getNumPartitions,
      "plan must drop input splits wholly outside the token slice")
    // Open-ended bounds behave as prefix/suffix slices.
    assert(read(dir.toString, Some(tok(ringOrder(25))), None)
      .select(col("key")).collect().map(_.getString(0)).toSet === ringOrder.drop(25).toSet)
    assert(read(dir.toString, None, Some(tok(ringOrder(4))))
      .select(col("key")).collect().map(_.getString(0)).toSet === ringOrder.take(5).toSet)
    // A slice past the whole file plans nothing at all.
    assert(read(dir.toString, Some(Long.MaxValue.toString), None).collect().isEmpty)
    // Indexless file: identical rows via the reader-side residual.
    val gotNoIdx = read(dirNoIdx.toString, Some(tok(ringOrder(8))), Some(tok(ringOrder(21))))
      .select(col("key")).collect().map(_.getString(0)).toSet
    assert(gotNoIdx === expect, "indexless slice must return the same rows")
    // byteOrdered slices take raw keys as bounds (token == key).
    val byteSlice = spark.read.format("graft.sources.sstable.MaSSTableSource")
      .option("path", dirNoIdx.toString).option("columns", ColsSpec)
      .option("partitioner", "byteOrdered")
      .option("tokenMin", "user-010").option("tokenMax", "user-020")
      .load().select(col("key")).collect().map(_.getString(0)).toSet
    assert(byteSlice === (10 to 20).map(i => f"user-$i%03d").toSet)
  }

  test("legacy ka files split at Index.db boundaries too") {
    val e = new KaEnc
    val entries = Seq.newBuilder[(String, Long)]
    (1 to 30).foreach { i =>
      entries += (f"u$i%02d" -> e.bos.size().toLong)
      e.partition(f"u$i%02d")
      e.cell("click", i.toLong * 10, (s"k$i" + "y" * 30).getBytes(UTF_8))
      e.endRow()
    }
    val dir = Files.createTempDirectory("ka-split")
    Files.write(dir.resolve("ks-tbl-ka-1-Data.db"), e.result)
    // Legacy index form: longlong position + int promoted length — the
    // round-trip that catches a reader assuming "ma" vints everywhere.
    writeIndex(dir, "ks-tbl-ka-1", entries.result(), version = "ka")
    val (nWhole, whole) = readKeyTs(dir.toString, splitBytes = None)
    val (nSplit, split) = readKeyTs(dir.toString, splitBytes = Some(400L))
    assert(nWhole === 1)
    assert(nSplit >= 2, s"expected multiple splits, got $nSplit")
    assert(split === whole)
    assert(whole.size === 30)
  }

  // ---- Summary.db-seeded index seeks ---------------------------------

  test("Summary.db round-trips through readSummary, both header widths") {
    val sampled = (1 to 10).map(i => f"user-$i%03d" -> i * 1000L)
    Seq("mc", "ja").foreach { version =>
      val dir = Files.createTempDirectory("ma-summary-rt")
      writeSummary(dir, "t", sampled, version)
      val got = MaFormat.readSummary(
        ByteCursor(Files.readAllBytes(dir.resolve("t-Summary.db")), "Summary.db"), version)
      assert(got.map { case (k, p) => (new String(k, UTF_8), p) }.toSeq === sampled,
        s"version $version")
    }
  }

  test("summary floor seeds the index seek without changing the plan") {
    val (payload, entries) = indexedPayload(40)
    def mkDir(withSummary: Boolean): String = {
      val dir = Files.createTempDirectory("ma-sum-parity")
      Files.write(dir.resolve("mc-1-big-Data.db"), payload)
      val idxOffsets = writeIndex(dir, "mc-1-big", entries)
      if (withSummary)
        writeSummary(dir, "mc-1-big",
          entries.zip(idxOffsets).zipWithIndex
            .collect { case (((k, _), io), i) if i % 8 == 0 => (k, io) })
      dir.toString
    }
    def read(d: String) = spark.read.format("graft.sources.sstable.MaSSTableSource")
      .option("path", d).option("columns", ColsSpec)
      .option("splitBytes", "500").option("resumeKey", "user-030").load()
    val plain = read(mkDir(withSummary = false))
    val seeded = read(mkDir(withSummary = true))
    assert(seeded.rdd.getNumPartitions === plain.rdd.getNumPartitions,
      "summary must only seed the seek, not change the planned splits")
    val want = plain.select(col("key"), col("col"), col("ts")).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    val got = seeded.select(col("key"), col("col"), col("ts")).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(got === want)
    assert(got.map(_._1) === (30 to 40).map(i => f"user-$i%03d").toSet)
  }

  test("a corrupt Summary.db degrades to the scan-from-0 seek, never aborts the plan") {
    // The summary is purely an optimization: a truncated/garbage one
    // must not fail a query that a plain Index.db could plan.
    val (payload, entries) = indexedPayload(40)
    val dir = Files.createTempDirectory("ma-sum-corrupt")
    Files.write(dir.resolve("mc-1-big-Data.db"), payload)
    writeIndex(dir, "mc-1-big", entries)
    Files.write(dir.resolve("mc-1-big-Summary.db"),
      Array.fill[Byte](37)(0x5a)) // garbage: implausible header/toc
    val got = spark.read.format("graft.sources.sstable.MaSSTableSource")
      .option("path", dir.toString).option("columns", ColsSpec)
      .option("splitBytes", "500").option("resumeKey", "user-030")
      .load().select(col("key")).collect().map(_.getString(0)).toSet
    assert(got === (30 to 40).map(i => f"user-$i%03d").toSet,
      "corrupt summary must fall back to the full index walk")
  }

  test("a STALE-but-parsable Summary.db never skips partitions: positions are verified against the index") {
    // The data-loss class worse than a crash: a summary that parses
    // cleanly but carries positions from another generation of the
    // index would land the seek mid-entry (or at the wrong entry) and
    // silently drop every partition between the true floor and the
    // bogus one. The planner verifies the candidate position by reading
    // the index entry there and comparing keys (the reference treats
    // the summary as advisory and the index as truth,
    // find_partition_in_summary SSTable.cpp:121-138).
    val (payload, entries) = indexedPayload(40)
    def mkDir(tag: String, stale: Seq[(String, Long)] => Seq[(String, Long)]): String = {
      val dir = Files.createTempDirectory(s"ma-sum-stale-$tag")
      Files.write(dir.resolve("mc-1-big-Data.db"), payload)
      val idxOffsets = writeIndex(dir, "mc-1-big", entries)
      val sampled = entries.zip(idxOffsets).zipWithIndex
        .collect { case (((k, _), io), i) if i % 8 == 0 => (k, io) }
      writeSummary(dir, "mc-1-big", stale(sampled))
      dir.toString
    }
    def read(d: String) = spark.read.format("graft.sources.sstable.MaSSTableSource")
      .option("path", d).option("columns", ColsSpec)
      .option("splitBytes", "500").option("resumeKey", "user-030")
      .load().select(col("key")).collect().map(_.getString(0)).toSet
    val want = (30 to 40).map(i => f"user-$i%03d").toSet
    // Variant 1: every position shifted a few bytes — the seek target
    // is mid-entry, the index misparses or yields a foreign key.
    assert(read(mkDir("shift", _.map { case (k, p) => (k, p + 3) })) === want,
      "byte-shifted stale positions must fall back, not skip partitions")
    // Variant 2: right keys paired with the NEXT sample's (valid,
    // parsable) position — the entry there reads cleanly but is a
    // different key, so only the key comparison catches it.
    assert(read(mkDir("rotate", s => s.map(_._1).zip(s.map(_._2).drop(1) :+ s.head._2))) === want,
      "rotated stale positions must fall back, not skip partitions")
  }

  test("the planner genuinely SEEKS: index bytes before the summary floor are never read") {
    // Corrupt every index byte before the floor entry's offset. Only a
    // planner that jumps straight to the summary's floor position can
    // plan this file; scanning the index from byte 0 would misparse.
    val (payload, entries) = indexedPayload(40)
    val dir = Files.createTempDirectory("ma-sum-seek")
    Files.write(dir.resolve("mc-1-big-Data.db"), payload)
    val idxOffsets = writeIndex(dir, "mc-1-big", entries)
    val sampled = entries.zip(idxOffsets).zipWithIndex
      .collect { case (((k, _), io), i) if i % 8 == 0 => (k, io) }
    writeSummary(dir, "mc-1-big", sampled)
    // Resume user-030: sampled floor is user-025 (sample #3, entry 24).
    val floorOffset = idxOffsets(24)
    val idxPath = dir.resolve("mc-1-big-Index.db")
    val idxBytes = Files.readAllBytes(idxPath)
    java.util.Arrays.fill(idxBytes, 0, floorOffset.toInt, 0xff.toByte)
    Files.write(idxPath, idxBytes)
    val got = spark.read.format("graft.sources.sstable.MaSSTableSource")
      .option("path", dir.toString).option("columns", ColsSpec)
      .option("splitBytes", "500").option("resumeKey", "user-030")
      .load().select(col("key")).collect().map(_.getString(0)).toSet
    assert(got === (30 to 40).map(i => f"user-$i%03d").toSet,
      "seek must start at the summary floor, skipping the corrupted prefix")
  }

  // ---- clustering columns, static rows, counter columns -------------

  /** Encode a clustering-value block (SSTable.cpp:487-503's wire shape):
    * per run of up to 32 values one vint header with a 2-bit lane per
    * value (0 = bytes follow, 1 = null, 2 = empty), then the present
    * values — vint-length-prefixed for text-like types, fixed width
    * otherwise. `values`: None = absent (lane 1), Some(bytes, fixed). */
  private def clusteringBlock(e: Enc, values: Seq[Option[(Array[Byte], Boolean)]]): Unit =
    values.grouped(32).foreach { group =>
      var header = 0L
      group.zipWithIndex.foreach { case (v, i) =>
        if (v.isEmpty) header |= 1L << (2 * i)
      }
      e.vint(header)
      group.foreach {
        case Some((bytes, fixed)) =>
          if (!fixed) e.vint(bytes.length.toLong)
          e.bytes(bytes)
        case None => ()
      }
    }

  test("clustering values are parsed and skipped; cells decode unchanged") {
    val e = new Enc
    e.partitionHeader("ck-1")
    // Row 1: clustering (text "2024-01", int32 7), then both columns.
    e.byte(0x04 | 0x20)
    clusteringBlock(e, Seq(
      Some(("2024-01".getBytes(UTF_8), false)),
      Some((Array[Byte](0, 0, 0, 7), true))))
    e.vint(0).vint(0).vint(1000)
    e.byte(0x08).vint(5).bytes("way-1".getBytes(UTF_8))
    e.byte(0x08).bytes(longBytes(7L))
    // Row 2: one clustering value null, the other present.
    e.byte(0x04 | 0x20)
    clusteringBlock(e, Seq(None, Some((Array[Byte](0, 0, 0, 9), true))))
    e.vint(0).vint(0).vint(2000)
    e.byte(0x08).vint(2).bytes("v2".getBytes(UTF_8))
    e.byte(0x08).bytes(longBytes(9L))
    e.endOfPartition()

    val cells = new MaFormat.Reader(new ByteArrayInputStream(e.result),
      Cols, 0, 0, clustering = Seq(CText, CInt32)).toList
    assert(cells.map(c => (c.col, c.ts)) ===
      List(("click", 1000L), ("nclicks", 1000L), ("click", 2000L), ("nclicks", 2000L)))
    assert(new String(cells.head.value, UTF_8) === "way-1")
    assert(new String(cells(2).value, UTF_8) === "v2")
  }

  test("clustering blocks beyond 32 values use one header per 32-lane run") {
    val n = 40 // 2 header blocks: 32 + 8 lanes
    val types = Seq.fill(n)(CInt32)
    val rng = new scala.util.Random(7L)
    val values = (0 until n).map { i =>
      if (rng.nextBoolean()) Some((Array[Byte](0, 0, 0, i.toByte), true)) else None
    }
    val e = new Enc
    e.partitionHeader("wide")
    e.byte(0x04 | 0x20)
    clusteringBlock(e, values)
    e.vint(0).vint(0).vint(500)
    e.byte(0x08).vint(1).bytes("x".getBytes(UTF_8))
    e.byte(0x08).bytes(longBytes(1L))
    e.endOfPartition()
    val cells = new MaFormat.Reader(new ByteArrayInputStream(e.result),
      Cols, 0, 0, clustering = types).toList
    assert(cells.map(_.col) === List("click", "nclicks"))
    assert(cells.forall(_.ts === 500L), "stream desynced across the 2-block header")
  }

  test("clustering-bound range-tombstone markers decode their bound prefix") {
    val e = new Enc
    e.partitionHeader("ck-2")
    // INCL_START marker bound on a 1-value prefix of the 2-column key.
    e.byte(0x02)
      .byte(0)   // marker type
      .short(1)  // bound prefix length
    clusteringBlock(e, Seq(Some(("2024-02".getBytes(UTF_8), false))))
    e.vint(0).vint(0)
    e.longlong(9000L)
    e.out.writeInt(0) // local deletion time
    // A following normal row must still decode (stream stayed in sync).
    e.byte(0x04 | 0x20)
    clusteringBlock(e, Seq(
      Some(("2024-03".getBytes(UTF_8), false)),
      Some((Array[Byte](0, 0, 0, 1), true))))
    e.vint(0).vint(0).vint(9500)
    e.byte(0x08).vint(1).bytes("a".getBytes(UTF_8))
    e.byte(0x08).bytes(longBytes(2L))
    e.endOfPartition()

    val cells = new MaFormat.Reader(new ByteArrayInputStream(e.result),
      Cols, 0, 0, clustering = Seq(CText, CInt32)).toList
    val Seq(m, c1, c2) = cells.toSeq
    assert(m.marker && m.deletionTs === 9000L)
    assert(c1.ts === 9500L && c2.ts === 9500L)
  }

  test("static rows read the static-column schema, no clustering block") {
    val e = new Enc
    e.partitionHeader("st-1")
    // Static row: EXTENSION_FLAG + extended IS_STATIC; static schema is
    // a single long column.
    e.byte(0x80 | 0x04 | 0x20)
      .byte(0x01) // extended flags: IS_STATIC
      .vint(0).vint(0).vint(100)
    e.byte(0x08).bytes(longBytes(77L))
    // Regular row WITH a clustering value follows.
    e.byte(0x04 | 0x20)
    clusteringBlock(e, Seq(Some(("c1".getBytes(UTF_8), false))))
    e.vint(0).vint(0).vint(200)
    e.byte(0x08).vint(1).bytes("v".getBytes(UTF_8))
    e.byte(0x08).bytes(longBytes(5L))
    e.endOfPartition()

    val cells = new MaFormat.Reader(new ByteArrayInputStream(e.result),
      Cols, 0, 0, clustering = Seq(CText),
      staticColumns = Seq("total" -> CLong)).toList
    val Seq(st, c1, c2) = cells.toSeq
    assert(st.col === "total" && st.ts === 100L &&
      java.nio.ByteBuffer.wrap(st.value).getLong === 77L)
    assert(c1.col === "click" && c1.ts === 200L)
    assert(c2.col === "nclicks" && c2.ts === 200L)
  }

  test("randomized clustering/static/marker streams round-trip against the model") {
    val rng = new scala.util.Random(99887766L)
    def randClustValue(t: ColType): Option[(Array[Byte], Boolean)] =
      if (rng.nextInt(3) == 0) None // null lane
      else t match {
        case CText =>
          val s = (1 to 1 + rng.nextInt(6)).map(_ => ('a' + rng.nextInt(26)).toChar).mkString
          Some((s.getBytes(UTF_8), false))
        case CLong => Some((Array.fill(8)(rng.nextInt(256).toByte), true))
        case _ => Some((Array.fill(4)(rng.nextInt(256).toByte), true))
      }
    (1 to 30).foreach { trial =>
      val clustTypes = Seq.fill(rng.nextInt(4))(
        Seq(CText, CInt32, CLong)(rng.nextInt(3)))
      val e = new Enc
      // model: (key, col, ts, deleted, marker, deletionTs)
      val model = Seq.newBuilder[(String, String, Long, Boolean, Boolean, Long)]
      (1 to 1 + rng.nextInt(4)).foreach { p =>
        val key = s"k-$trial-$p"
        val partDel =
          if (rng.nextInt(6) == 0) rng.nextInt(100000).toLong else MaFormat.NoDeletion
        e.partitionHeader(key, partDel)
        if (partDel != MaFormat.NoDeletion)
          model += ((key, null, partDel, true, true, partDel))
        (1 to 1 + rng.nextInt(5)).foreach { _ =>
          val ts = rng.nextInt(1000000).toLong
          rng.nextInt(5) match {
            case 0 if clustTypes.nonEmpty =>
              // Range-tombstone marker with a random clustering-bound
              // prefix; type 2 is a boundary (second deletion block).
              val bound = rng.nextInt(clustTypes.size + 1)
              val markerType = if (rng.nextBoolean()) 2 else 0
              e.byte(0x02).byte(markerType).short(bound)
              clusteringBlock(e, (0 until bound).map(i => randClustValue(clustTypes(i))))
              e.vint(0).vint(0)
              e.longlong(ts)
              e.out.writeInt(0)
              if (markerType == 2) { e.longlong(0L); e.out.writeInt(0) }
              model += ((key, null, ts, true, true, ts))
            case 1 =>
              // Static row: no clustering block, static schema.
              e.byte(0x80 | 0x04 | 0x20).byte(0x01).vint(0).vint(0).vint(ts)
              val n = rng.nextLong()
              e.byte(0x08).bytes(longBytes(n))
              model += ((key, "stot", ts, false, false, partDel))
            case _ =>
              // Normal row: random clustering values, both columns.
              e.byte(0x04 | 0x20)
              clusteringBlock(e, clustTypes.map(randClustValue))
              e.vint(0).vint(0).vint(ts)
              val v = s"v${rng.nextInt(1000)}"
              e.byte(0x08).vint(v.length.toLong).bytes(v.getBytes(UTF_8))
              e.byte(0x08).bytes(longBytes(rng.nextLong()))
              model += ((key, "click", ts, false, false, partDel))
              model += ((key, "nclicks", ts, false, false, partDel))
          }
        }
        e.endOfPartition()
      }
      val got = new MaFormat.Reader(new ByteArrayInputStream(e.result),
        Cols, 0, 0, clustering = clustTypes,
        staticColumns = Seq("stot" -> CLong)).toList
        .map(c => (new String(c.key, UTF_8), c.col, c.ts, c.deleted, c.marker, c.deletionTs))
      assert(got === model.result(), s"trial $trial (clustering=$clustTypes)")
    }
  }

  // ---- clusteringIdentity: clustered-table cell identity -------------

  private val Sep = MaFormat.ClusteringSep

  /** Sibling Statistics.db declaring one text clustering column — how a
    * real clustered table self-describes its clustering schema to the
    * Kv entry points (which take no clustering option). */
  private def writeClusteredTextStats(dir: java.nio.file.Path): Unit =
    Files.write(dir.resolve("mc-1-big-Statistics.db"),
      statsBytes(Marshal + "Murmur3Partitioner", Some(StatsHeader(
        0L, 0L, Marshal + "UTF8Type",
        clustering = Seq(Marshal + "UTF8Type"), statics = Nil,
        regulars = Seq(
          "click" -> (Marshal + "UTF8Type"),
          "nclicks" -> (Marshal + "LongType"))))))

  test("clusteringIdentity renders clustering values into cell identity; parity mode collapses") {
    val e = new Enc
    e.partitionHeader("u1")
    Seq(("alpha", 100L, "row-a"), ("beta", 200L, "row-b")).foreach {
      case (ck, ts, v) =>
        e.byte(0x04 | 0x20)
        clusteringBlock(e, Seq(Some((ck.getBytes(UTF_8), false))))
        e.vint(0).vint(0).vint(ts)
        e.byte(0x08).vint(v.length.toLong).bytes(v.getBytes(UTF_8))
        e.byte(0x08).bytes(longBytes(ts))
    }
    e.endOfPartition()
    def cells(identity: Boolean) = new MaFormat.Reader(
      new ByteArrayInputStream(e.result), Cols, 0, 0,
      clustering = Seq(CText), clusteringIdentity = identity).toList
    // Parity: both rows produce the SAME (key, col) identities.
    assert(cells(identity = false).map(_.col) ===
      List("click", "nclicks", "click", "nclicks"))
    // Identity mode: the clustering value prefixes the column name.
    assert(cells(identity = true).map(_.col) ===
      List(s"alpha${Sep}click", s"alpha${Sep}nclicks",
        s"beta${Sep}click", s"beta${Sep}nclicks"))
    // Null and empty clustering values render distinctly.
    val e2 = new Enc
    e2.partitionHeader("u2")
    Seq(None, Some((Array.emptyByteArray, false))).foreach { v =>
      e2.byte(0x04 | 0x20)
      clusteringBlock(e2, Seq(v))
      e2.vint(0).vint(0).vint(10L)
      e2.byte(0x08).vint(1).bytes("x".getBytes(UTF_8))
      e2.byte(0x08).bytes(longBytes(1L))
    }
    e2.endOfPartition()
    val got2 = new MaFormat.Reader(new ByteArrayInputStream(e2.result),
      Cols, 0, 0, clustering = Seq(CText), clusteringIdentity = true)
      .toList.map(_.col).distinct
    assert(got2 === List(s"${MaFormat.NullValue}${Sep}click",
      s"${MaFormat.NullValue}${Sep}nclicks", s"${Sep}click", s"${Sep}nclicks"))
  }

  test("clusteringIdentity scopes a ROW deletion to exactly its row") {
    val e = new Enc
    e.partitionHeader("u1")
    // Row a and row b, both ts 100, both columns.
    Seq("a", "b").foreach { ck =>
      e.byte(0x04 | 0x20)
      clusteringBlock(e, Seq(Some((ck.getBytes(UTF_8), false))))
      e.vint(0).vint(0).vint(100L)
      e.byte(0x08).vint(3).bytes(s"v-$ck".getBytes(UTF_8))
      e.byte(0x08).bytes(longBytes(1L))
    }
    // Row a again with a ROW deletion at ts 200 and a newer click@300
    // (subset = click only).
    e.byte(0x10)
    clusteringBlock(e, Seq(Some(("a".getBytes(UTF_8), false))))
    e.vint(0).vint(0)
    e.vint(200L).vint(0) // row deletion + local deletion time
    e.subset(Seq(true, false)) // subset: click only
    e.byte(0x00).vint(300L).vint(5).bytes("new-a".getBytes(UTF_8))
    e.endOfPartition()
    val dir = Files.createTempDirectory("ma-rowdel")
    Files.write(dir.resolve("mc-1-big-Data.db"), e.result)
    writeClusteredTextStats(dir)

    val bag = graft.kv.Kv.cellsFromSSTables(spark, dir.toString,
      "click:text,nclicks:long", clusteringIdentity = true)
    val live = graft.kv.Kv.lww(graft.kv.Kv.applyMarkerTombstones(bag))
      .filter(!col("deleted"))
      .select(col("col")).collect().map(_.getString(0)).toSet
    // Row a's ts-100 cells die (100 <= 200, inside a's name range);
    // a's newer click survives; row b is untouched.
    assert(live === Set(s"a${Sep}click", s"b${Sep}click", s"b${Sep}nclicks"),
      s"row deletion must kill only row a's older cells: $live")
  }

  test("clusteringIdentity pairs open/close markers into a bounded range tombstone") {
    val e = new Enc
    e.partitionHeader("u1")
    Seq("a", "b", "c").foreach { ck =>
      e.byte(0x04 | 0x20)
      clusteringBlock(e, Seq(Some((ck.getBytes(UTF_8), false))))
      e.vint(0).vint(0).vint(100L)
      e.byte(0x08).vint(3).bytes(s"v-$ck".getBytes(UTF_8))
      e.byte(0x08).bytes(longBytes(1L))
    }
    // DELETE ... WHERE ck >= 'b' AND ck <= 'b' — INCL_START("b")@200,
    // INCL_END("b")@200 (Kind ordinals 1 and 6).
    def marker(kind: Int, ck: String, d: Long): Unit = {
      e.byte(0x02).byte(kind).short(1)
      clusteringBlock(e, Seq(Some((ck.getBytes(UTF_8), false))))
      e.vint(0).vint(0)
      e.longlong(d)
      e.out.writeInt(0)
    }
    marker(1, "b", 200L)
    marker(6, "b", 200L)
    e.endOfPartition()
    val dir = Files.createTempDirectory("ma-rangedel")
    Files.write(dir.resolve("mc-1-big-Data.db"), e.result)
    writeClusteredTextStats(dir)

    val bag = graft.kv.Kv.cellsFromSSTables(spark, dir.toString,
      "click:text,nclicks:long", clusteringIdentity = true)
    val live = graft.kv.Kv.lww(graft.kv.Kv.applyMarkerTombstones(bag))
      .filter(!col("deleted"))
      .select(col("col")).collect().map(_.getString(0)).toSet
    assert(live === Set(s"a${Sep}click", s"a${Sep}nclicks",
      s"c${Sep}click", s"c${Sep}nclicks"),
      s"range [b, b]@200 must kill exactly row b: $live")
    // Parity mode still treats the same markers as whole-key deletions.
    val parityLive = graft.kv.Kv.lww(graft.kv.Kv.applyMarkerTombstones(
      graft.kv.Kv.cellsFromSSTables(spark, dir.toString, "click:text,nclicks:long")))
      .filter(!col("deleted")).collect()
    assert(parityLive.isEmpty, "reference parity: markers are whole-key")
  }

  test("clusteringIdentity: boundary markers close one range and open the next") {
    val e = new Enc
    e.partitionHeader("u1")
    Seq("a", "b", "c").foreach { ck =>
      e.byte(0x04 | 0x20)
      clusteringBlock(e, Seq(Some((ck.getBytes(UTF_8), false))))
      e.vint(0).vint(0).vint(100L)
      e.byte(0x08).vint(3).bytes(s"v-$ck".getBytes(UTF_8))
      e.byte(0x08).bytes(longBytes(1L))
    }
    // INCL_START("a")@200 ... EXCL_END_INCL_START boundary at "b"
    // (closes [a, b) @200, opens [b, ... @300) ... INCL_END("c")@300:
    // row a dies at 200, rows b and c die at 300.
    e.byte(0x02).byte(1).short(1)
    clusteringBlock(e, Seq(Some(("a".getBytes(UTF_8), false))))
    e.vint(0).vint(0); e.longlong(200L); e.out.writeInt(0)
    e.byte(0x02).byte(2).short(1) // EXCL_END_INCL_START boundary
    clusteringBlock(e, Seq(Some(("b".getBytes(UTF_8), false))))
    e.vint(0).vint(0); e.longlong(200L); e.out.writeInt(0) // close deletion
    e.longlong(300L); e.out.writeInt(0)                    // open deletion
    e.byte(0x02).byte(6).short(1)
    clusteringBlock(e, Seq(Some(("c".getBytes(UTF_8), false))))
    e.vint(0).vint(0); e.longlong(300L); e.out.writeInt(0)
    e.endOfPartition()

    val markers = new MaFormat.Reader(new ByteArrayInputStream(e.result),
      Cols, 0, 0, clustering = Seq(CText), clusteringIdentity = true)
      .toList.filter(_.marker)
    assert(markers.map(m =>
      (m.col, new String(m.value, UTF_8), m.deletionTs)) === List(
      (s"a$Sep", s"b$Sep", 200L),              // [a, b) — excl end
      (s"b$Sep", s"c$Sep\uffff", 300L)))       // [b, c] — incl end
  }

  test("ka composite names keep full clustering identity under clusteringIdentity") {
    val e = new KaEnc
    e.partition("u1")
    e.compositeCell(Seq("2024-01", "click"), 100L, "jan".getBytes(UTF_8))
    e.compositeCell(Seq("2024-02", "click"), 200L, "feb".getBytes(UTF_8))
    e.endRow()
    def cols(identity: Boolean) = new MaFormat.KaReader(
      new ByteArrayInputStream(e.result), clusteringIdentity = identity)
      .toList.map(_.col)
    // Parity: both collapse onto "click" (LWW would drop January).
    assert(cols(identity = false) === List("click", "click"))
    assert(cols(identity = true) ===
      List(s"2024-01${Sep}click", s"2024-02${Sep}click"))
  }

  test("key lower bounds push down as the resume seek under byteOrdered (DSv2 filters)") {
    val dir = Files.createTempDirectory("key-push")
    val e = new KaEnc
    (1 to 9).foreach { i =>
      e.partition(s"u$i"); e.cell("click", 10L, s"k$i".getBytes(UTF_8)); e.endRow()
    }
    Files.write(dir.resolve("ks-tbl-ka-1-Data.db"), e.result)
    def read(partitioner: Option[String]) = {
      val r = spark.read.format("graft.sources.sstable.MaSSTableSource")
        .option("path", dir.toString).option("columns", ColsSpec)
      partitioner.fold(r)(p => r.option("partitioner", p)).load()
    }
    def resumeOf(df: org.apache.spark.sql.DataFrame): Option[String] =
      df.queryExecution.optimizedPlan.collect {
        case sr: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
          MaSSTableSource.scanOptions(sr.scan).get.get("resumeKey")
      }.head
    // byteOrdered: both bounds contribute; the tighter one seeds the seek.
    val q = read(Some("byteOrdered"))
      .filter(col("key") >= "u3" && col("key") >= "u5" && col("key") =!= "u7")
    assert(q.collect().map(_.getAs[String]("key")).sorted ===
      Array("u5", "u6", "u8", "u9"))
    assert(resumeOf(q) === Some("u5"), "the tightest lower bound must seed the seek")
    // murmur3 ring order: a KEY bound says nothing about ring position —
    // no seek may be pushed.
    val qM = read(Some("murmur3")).filter(col("key") >= "u5")
    assert(qM.collect().map(_.getAs[String]("key")).sorted ===
      Array("u5", "u6", "u7", "u8", "u9"))
    assert(resumeOf(qM) === None, "no key-seek under a hashed ring order")
  }

  test("ka range-tombstone bounds honor the EOC byte (ck > 5 vs ck >= 5)") {
    // Legacy composite bounds carry inclusivity in the LAST element's
    // end-of-component byte: +1 = the bound sorts after all names with
    // this prefix (exclusive start / inclusive end), -1 = before
    // (inclusive start / exclusive end). Applying exclusive bounds
    // inclusively silently deletes the boundary row.
    def boundsOf(startEoc: Int, endEoc: Int): (String, String) = {
      val e = new KaEnc
      e.partition("u1")
      e.rangeTombstoneRaw(
        e.composite(Seq("5"), lastEoc = startEoc),
        e.composite(Seq("9"), lastEoc = endEoc), 500L)
      e.endRow()
      val m = new MaFormat.KaReader(
        new ByteArrayInputStream(e.result), clusteringIdentity = true)
        .toList.filter(_.marker).head
      (m.col, new String(m.value, UTF_8))
    }
    // ck >= 5 AND ck <= 9 (inclusive both: EOC -1 start, +1 end)
    assert(boundsOf(-1, 1) === (s"5$Sep", s"9$Sep￿"))
    // ck > 5 AND ck < 9 (exclusive both: EOC +1 start, -1 end) — the
    // start jumps past every prefix-5 name; the end stops before the
    // first prefix-9 name WITHOUT swallowing the bare-prefix row
    // marker "9<sep>".
    assert(boundsOf(1, -1) === (s"5$Sep￿", "9￿"))
    // Neutral EOC 0 keeps the old prefix-inclusive approximation.
    assert(boundsOf(0, 0) === (s"5$Sep", s"9$Sep￿"))
    // End-to-end: [ck > 5, ck <= 9] keeps row 5, kills row 7; and the
    // rendered bound strings bracket exactly that.
    val (s1, e1) = boundsOf(1, 1)
    def name(ck: String) = s"$ck${Sep}click"
    assert(!(name("5") >= s1 && name("5") <= e1), "ck=5 must survive ck > 5")
    assert(name("7") >= s1 && name("7") <= e1, "ck=7 must die inside (5, 9]")
    val (s2, e2) = boundsOf(-1, -1)
    assert(name("5") >= s2 && name("5") <= e2, "ck=5 must die inside [5, 9)")
    assert(!(s"9$Sep" >= s2 && s"9$Sep" <= e2),
      "the ck=9 row marker must survive ck < 9")
    assert(!(name("9") >= s2 && name("9") <= e2), "ck=9 must survive ck < 9")
  }

  test("fuzz: typed clustering identities render per the documented convention, in order") {
    val rng = new scala.util.Random(4242)
    // Mirror of the documented rendering convention (MaFormat
    // .renderClusteringValue): offset-binary fixed-width hex for the
    // signed fixed types, IEEE total order for float, byte for bool,
    // printable-or-hex for everything else.
    def mirror(t: MaFormat.ColType, b: Array[Byte]): String = {
      def be32 = ((b(0) & 0xff) << 24) | ((b(1) & 0xff) << 16) |
        ((b(2) & 0xff) << 8) | (b(3) & 0xff)
      t match {
        case CInt32 => "x" + f"${(be32 ^ 0x80000000).toLong & 0xffffffffL}%08x"
        case CLong | CTimestamp =>
          var v = 0L; b.foreach(x => v = (v << 8) | (x & 0xff).toLong)
          "x" + f"${v ^ Long.MinValue}%016x"
        case CFloat =>
          val key = if (be32 < 0) ~be32 else be32 ^ 0x80000000
          "x" + f"${key.toLong & 0xffffffffL}%08x"
        case CBool => "x" + f"${b(0) & 0xff}%02x"
        case _ =>
          if (b.isEmpty) ""
          else if (b.forall(x => x >= 0x20 && x <= 0x7e) &&
                   !(b.length >= 2 && b(0) == '0' && b(1) == 'x'))
            new String(b, UTF_8)
          else "0x" + b.map(x => f"$x%02x").mkString
      }
    }
    def signedOrderKey(t: MaFormat.ColType, b: Array[Byte]): Option[Long] = {
      def be32 = ((b(0) & 0xff) << 24) | ((b(1) & 0xff) << 16) |
        ((b(2) & 0xff) << 8) | (b(3) & 0xff)
      t match {
        case CInt32 => Some(be32.toLong)
        case CLong | CTimestamp =>
          var v = 0L; b.foreach(x => v = (v << 8) | (x & 0xff).toLong); Some(v)
        case _ => None
      }
    }
    val allTypes = Seq(CText, CInt32, CLong, CTimestamp, CFloat, CBool)
    (1 to 25).foreach { trial =>
      val types = Seq.fill(1 + rng.nextInt(3))(allTypes(rng.nextInt(allTypes.size)))
      def value(t: MaFormat.ColType): Array[Byte] = t match {
        case CText =>
          val s = Seq.fill(rng.nextInt(6))(
            (0x20 + rng.nextInt(0x5f)).toChar).mkString
          s.getBytes(UTF_8)
        case t => Array.fill(t.fixedSize)(rng.nextInt(256).toByte)
      }
      val e = new Enc
      e.partitionHeader(s"fz-$trial")
      val rows = (1 to 3 + rng.nextInt(4)).map { i =>
        val vals = types.map(value)
        e.byte(0x04 | 0x20)
        clusteringBlock(e, vals.zip(types).map { case (v, t) =>
          Some((v, t.fixedSize >= 0))
        })
        e.vint(0).vint(0).vint(i.toLong)
        e.byte(0x08).vint(1).bytes("v".getBytes(UTF_8))
        e.byte(0x08).bytes(longBytes(i.toLong))
        vals
      }
      e.endOfPartition()
      val got = new MaFormat.Reader(new ByteArrayInputStream(e.result),
        Cols, 0, 0, clustering = types, clusteringIdentity = true).toList
        .filter(_.col.endsWith("click")).map(_.col)
      val want = rows.map(vals =>
        vals.zip(types).map { case (v, t) => mirror(t, v) + Sep }.mkString + "click")
      assert(got === want, s"trial $trial types $types")
      // Single-column signed types: rendered order == signed order.
      if (types.size == 1 && signedOrderKey(types.head, rows.head.head).isDefined) {
        val keyed = rows.map(v => (signedOrderKey(types.head, v.head).get,
          mirror(types.head, v.head)))
        assert(keyed.sortBy(_._1).map(_._2) === keyed.map(_._2).sorted,
          s"trial $trial: rendered order must equal signed order")
      }
    }
  }

  test("typed clustering render is order-preserving: int32 range delete covers the signed range") {
    def i32(v: Int) = Array[Byte](
      ((v >> 24) & 0xff).toByte, ((v >> 16) & 0xff).toByte,
      ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
    val e = new Enc
    e.partitionHeader("u1")
    Seq(-100, -5, 0, 7, 100).foreach { ck =>
      e.byte(0x04 | 0x20)
      clusteringBlock(e, Seq(Some((i32(ck), true))))
      e.vint(0).vint(0).vint(100L)
      e.byte(0x08).vint(1).bytes("v".getBytes(UTF_8))
      e.byte(0x08).bytes(longBytes(1L))
    }
    // DELETE ... WHERE ck >= -5 AND ck <= 7 @200: under a raw-byte
    // render the start bound (0xfffffffb…) sorts ABOVE the end bound
    // (0x00000007…) and the tombstone covers nothing — the signed
    // offset-binary render makes the string range equal the signed
    // range.
    def marker(kind: Int, ck: Int, d: Long): Unit = {
      e.byte(0x02).byte(kind).short(1)
      clusteringBlock(e, Seq(Some((i32(ck), true))))
      e.vint(0).vint(0)
      e.longlong(d)
      e.out.writeInt(0)
    }
    marker(1, -5, 200L)
    marker(6, 7, 200L)
    e.endOfPartition()
    val dir = Files.createTempDirectory("ma-int32-range")
    Files.write(dir.resolve("mc-1-big-Data.db"), e.result)
    Files.write(dir.resolve("mc-1-big-Statistics.db"),
      statsBytes(Marshal + "Murmur3Partitioner", Some(StatsHeader(
        0L, 0L, Marshal + "UTF8Type",
        clustering = Seq(Marshal + "Int32Type"), statics = Nil,
        regulars = Seq(
          "click" -> (Marshal + "UTF8Type"),
          "nclicks" -> (Marshal + "LongType"))))))
    val bag = graft.kv.Kv.cellsFromSSTables(spark, dir.toString, "",
      clusteringIdentity = true)
    val live = graft.kv.Kv.lww(graft.kv.Kv.applyMarkerTombstones(bag))
      .filter(!col("deleted"))
      .select(col("col")).collect().map(_.getString(0)).toSet
    def renderInt(v: Int) = "x" + f"${(v ^ 0x80000000).toLong & 0xffffffffL}%08x"
    assert(live === Set(-100, 100).flatMap(v => Set(
      s"${renderInt(v)}${Sep}click", s"${renderInt(v)}${Sep}nclicks")),
      s"range [-5, 7]@200 must kill exactly the in-range rows: $live")

    // Long/timestamp order preservation, behaviorally: rendered
    // identities sort exactly as the signed values.
    val vals = Seq(Long.MinValue, -1L, 0L, 1L, Long.MaxValue)
    val e2 = new Enc
    e2.partitionHeader("u2")
    vals.zipWithIndex.foreach { case (v, i) =>
      e2.byte(0x04 | 0x20)
      clusteringBlock(e2, Seq(Some((longBytes(v), true))))
      e2.vint(0).vint(0).vint(10L + i)
      e2.byte(0x08).vint(1).bytes("v".getBytes(UTF_8))
      e2.byte(0x08).bytes(longBytes(i.toLong))
    }
    e2.endOfPartition()
    val cols2 = new MaFormat.Reader(new ByteArrayInputStream(e2.result),
      Cols, 0, 0, clustering = Seq(CLong), clusteringIdentity = true)
      .toList.map(_.col).filter(_.endsWith("click"))
    assert(cols2.size === vals.size && cols2.sorted === cols2,
      s"signed long clustering renders must sort in signed order: $cols2")
  }

  test("clustering-value rendering is injective (printable '0x...' never collides with hex)") {
    val e = new KaEnc
    e.partition("u1")
    // 'é' = bytes C3 A9 (non-printable → hex "0xc3a9") vs the literal
    // printable string "0xc3a9": identical under the old rendering —
    // two distinct rows LWW-collapsing is exactly the data loss
    // clusteringIdentity exists to prevent.
    e.compositeCell(Seq("é", "c"), 100L, "a".getBytes(UTF_8))
    e.compositeCell(Seq("0xc3a9", "c"), 200L, "b".getBytes(UTF_8))
    e.endRow()
    val cols = new MaFormat.KaReader(
      new ByteArrayInputStream(e.result), clusteringIdentity = true)
      .toList.map(_.col)
    assert(cols.distinct.length === 2,
      s"distinct clustering values must keep distinct identities: $cols")
  }

  test("ancient single-letter versions e/f/g normalize to the preJa path") {
    Seq("e", "f", "g").foreach { v =>
      assert(MaSSTableSource.versionOf(s"ks-tbl-$v-1-Data.db") === s"${v}a")
    }
    assert(MaSSTableSource.versionOf("ks-tbl-d-1-Data.db") === "da")
    // "h"+ never existed single-letter; unknown names keep the modern
    // default.
    assert(MaSSTableSource.versionOf("ks-tbl-h-1-Data.db") === "ma")
  }

  test("migrate keeps clustered rows distinct with clusteringIdentity (VERDICT r4 #1)") {
    // Two clustering rows per partition key: reference parity silently
    // LWW-collapses them; identity mode must export BOTH.
    val e = new Enc
    Seq("u1", "u2").foreach { key =>
      e.partitionHeader(key)
      Seq(("ck-a", 100L), ("ck-b", 200L)).foreach { case (ck, ts) =>
        e.byte(0x04 | 0x20)
        clusteringBlock(e, Seq(Some((ck.getBytes(UTF_8), false))))
        e.vint(0).vint(0).vint(ts)
        e.byte(0x08).vint(4).bytes(s"v-$ts".take(4).getBytes(UTF_8))
        e.byte(0x08).bytes(longBytes(ts))
      }
      e.endOfPartition()
    }
    val dir = Files.createTempDirectory("mig-clustered")
    Files.write(dir.resolve("mc-1-big-Data.db"), e.result)
    writeClusteredTextStats(dir)

    val lossy = Files.createTempDirectory("mig-clustered-out").resolve("lossy").toString
    val statsLossy = graft.kv.Kv.migrate(spark, Seq(dir.toString),
      "click:text,nclicks:long", lossy).toOption.get
    assert(statsLossy.written === 4, "parity mode collapses to one row per key")

    val full = Files.createTempDirectory("mig-clustered-out").resolve("full").toString
    val statsFull = graft.kv.Kv.migrate(spark, Seq(dir.toString),
      "click:text,nclicks:long", full, clusteringIdentity = true).toOption.get
    assert(statsFull.written === 8,
      s"identity mode must export both clustering rows per key: $statsFull")
    val cols = spark.read.parquet(full)
      .select(col("key"), col("col")).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(cols === (for {
      k <- Set("u1", "u2"); ck <- Set("ck-a", "ck-b"); c <- Set("click", "nclicks")
    } yield (k, s"$ck$Sep$c")))
  }

  test("incremental migrate (-W): only records newer than the watermark export") {
    // gen1: k1/k2 cells at ts 80-90. gen2: k1 re-written at ts 95
    // (wins LWW but sits AT/BELOW the watermark 100 — already shipped
    // by the previous run), k2 cell-tombstoned at 150 (deleted winner
    // — dropped and counted, as always), k3 born at ts 300 (the only
    // export). The watermark filters WINNERS, never merge inputs.
    def row(e: Enc, ts: Long, v: String): Unit = {
      e.byte(0x20).vint(0).vint(0)
      e.byte(0x00).vint(ts).vint(v.length.toLong).bytes(v.getBytes(UTF_8))
      e.byte(0x00).vint(ts).bytes(longBytes(ts))
    }
    val g1 = new Enc
    g1.partitionHeader("k1"); row(g1, 90L, "old1"); g1.endOfPartition()
    g1.partitionHeader("k2"); row(g1, 80L, "old2"); g1.endOfPartition()
    val g2 = new Enc
    g2.partitionHeader("k1"); row(g2, 95L, "newer"); g2.endOfPartition()
    g2.partitionHeader("k2")
    g2.byte(0x20).vint(0).vint(0)
    g2.byte(0x01).vint(150L).vint(0).vint(0) // click tombstone, empty value
    g2.byte(0x01).vint(150L).vint(0).bytes(longBytes(0L)) // nclicks tombstone
    g2.endOfPartition()
    g2.partitionHeader("k3"); row(g2, 300L, "fresh"); g2.endOfPartition()

    def dirOf(e: Enc, gen: Int): String = {
      val d = Files.createTempDirectory(s"mig-inc-$gen")
      Files.write(d.resolve(s"mc-$gen-big-Data.db"), e.result)
      d.toString
    }
    val out = Files.createTempDirectory("mig-inc-out").resolve("t").toString
    val stats = graft.kv.Kv.migrate(spark,
      Seq(dirOf(g1, 1), dirOf(g2, 2)), ColsSpec, out,
      sinceTsUs = Some(100L)).toOption.get
    assert(stats.written === 2L, s"only k3's two cells are fresh: $stats")
    assert(stats.skippedUnchanged === 2L,
      s"k1's winners (95 <= 100) were already shipped: $stats")
    assert(stats.deletedDropped === 2L, s"k2's tombstoned winners: $stats")
    val keys = spark.read.parquet(out).select(col("key"))
      .collect().map(_.getString(0)).toSet
    assert(keys === Set("k3"), s"the target must hold only fresh records: $keys")
  }

  test("migrate end-to-end: clustered + counter + legacy ka generations in one run") {
    // The hardest real table shape in one multi-directory job: a
    // CLUSTERED table with a COUNTER column whose generations span the
    // modern "ma" format, a 4.x "nb" file (same row framing,
    // checksummed Statistics.db), and the legacy "ka" format, merged
    // with clusteringIdentity (distinct rows survive) and counterSum
    // (shards add up instead of LWW), checked record by record against
    // the in-memory model of the logical table.
    def ck(v: String) = Seq(Some((v.getBytes(UTF_8), false)))

    // Generation 1 (ma): u1/a click g1-a@100 + shard 5@100; u1/b click
    // g1-b@110 + shard 7@110; u2/a click g1-2a@120 (subset: click only).
    val g1 = new Enc
    g1.partitionHeader("u1")
    Seq(("a", 100L, "g1-a", 5L), ("b", 110L, "g1-b", 7L)).foreach {
      case (c, ts, v, shard) =>
        g1.byte(0x04 | 0x20)
        clusteringBlock(g1, ck(c))
        g1.vint(0).vint(0).vint(ts)
        g1.byte(0x08).vint(v.length.toLong).bytes(v.getBytes(UTF_8))
        g1.byte(0x08).vint(8).bytes(longBytes(shard))
    }
    g1.endOfPartition()
    g1.partitionHeader("u2")
    g1.byte(0x04)
    clusteringBlock(g1, ck("a"))
    g1.vint(0).vint(0).vint(120L)
    g1.subset(Seq(true, false)) // subset: click only
    g1.byte(0x08).vint(5).bytes("g1-2a".getBytes(UTF_8))
    g1.endOfPartition()

    // Generation 2 (ma): u1/a click g2-a@200 (wins LWW) + shard 3@150
    // (sums with gen 1's 5); u1/b click cell-TOMBSTONE@300 (kills
    // g1-b and must be dropped-and-counted at export).
    val g2 = new Enc
    g2.partitionHeader("u1")
    g2.byte(0x20)
    clusteringBlock(g2, ck("a"))
    g2.vint(0).vint(0)
    g2.byte(0x00).vint(200L).vint(4).bytes("g2-a".getBytes(UTF_8))
    g2.byte(0x00).vint(150L).vint(8).bytes(longBytes(3L))
    g2.byte(0x00)
    clusteringBlock(g2, ck("b"))
    g2.vint(0).vint(0)
    g2.subset(Seq(true, false)) // subset: click only
    g2.byte(0x01 | 0x04).vint(300L).vint(0) // deleted cell, empty value
    g2.endOfPartition()

    // Generation 3 (legacy ka): composite (a, click) — an OLDER u1
    // value that must lose the LWW, and a new partition u3 whose cell
    // survives untouched.
    val g3 = new KaEnc
    g3.partition("u1")
    g3.compositeCell(Seq("a", "click"), 50L, "ka-old".getBytes(UTF_8))
    g3.endRow()
    g3.partition("u3")
    g3.compositeCell(Seq("a", "click"), 60L, "ka-3a".getBytes(UTF_8))
    g3.endRow()

    def maDir(e: Enc, gen: Int, version: String = "mc"): String = {
      val d = Files.createTempDirectory(s"mig-full-$gen")
      Files.write(d.resolve(s"$version-$gen-big-Data.db"), e.result)
      Files.write(d.resolve(s"$version-$gen-big-Statistics.db"),
        statsBytes(Marshal + "Murmur3Partitioner", Some(StatsHeader(
          0L, 0L, Marshal + "UTF8Type",
          clustering = Seq(Marshal + "UTF8Type"), statics = Nil,
          regulars = Seq(
            "click" -> (Marshal + "UTF8Type"),
            "hits" -> (Marshal + "CounterColumnType")))),
          version = version))
      d.toString
    }
    val kaDir = Files.createTempDirectory("mig-full-ka")
    Files.write(kaDir.resolve("ks-t-ka-3-Data.db"), g3.result)

    val out = Files.createTempDirectory("mig-full-out").resolve("t").toString
    val stats = graft.kv.Kv.migrate(spark,
      Seq(maDir(g1, 1), maDir(g2, 2, version = "nb"), kaDir.toString),
      "click:text,hits:counter", out,
      clusteringIdentity = true, counterSum = true).toOption.get

    // In-memory model: (key, rendered col) -> (decoded value, ts µs).
    val model = Map(
      ("u1", s"a${Sep}click") -> ("g2-a": Any, 200L),
      ("u1", s"a${Sep}hits")  -> (8L: Any, 150L),
      ("u1", s"b${Sep}hits")  -> (7L: Any, 110L),
      ("u2", s"a${Sep}click") -> ("g1-2a": Any, 120L),
      ("u3", s"a${Sep}click") -> ("ka-3a": Any, 60L))
    assert(stats.written === model.size, s"stats: $stats")
    assert(stats.deletedDropped === 1L,
      "the tombstoned click cell must be dropped AND counted")
    val got = spark.read.parquet(out)
      .selectExpr("key", "col", "value", "unix_micros(ts) AS tus")
      .collect().map { r =>
        val c = r.getAs[String]("col")
        val v = r.getAs[Array[Byte]]("value")
        val decoded: Any =
          if (c.endsWith("hits")) java.nio.ByteBuffer.wrap(v).getLong
          else new String(v, UTF_8)
        (r.getAs[String]("key"), c) -> ((decoded, r.getAs[Long]("tus")))
      }.toMap
    assert(got === model, s"migrated records differ from the model: $got")

    // Parity default (counterSum = false) LWWs the counter instead:
    // same record set, but u1/a's count collapses to the newest shard.
    val outLww = Files.createTempDirectory("mig-full-out").resolve("lww").toString
    assert(graft.kv.Kv.migrate(spark,
      Seq(maDir(g1, 1), maDir(g2, 2, version = "nb"), kaDir.toString),
      "click:text,hits:counter", outLww,
      clusteringIdentity = true).toOption.get.written === model.size)
    val lwwHits = spark.read.parquet(outLww)
      .filter(col("key") === "u1" && col("col") === s"a${Sep}hits")
      .collect().map(r => java.nio.ByteBuffer.wrap(r.getAs[Array[Byte]]("value")).getLong)
    assert(lwwHits.toSeq === Seq(3L),
      "reference-parity LWW keeps only the newest shard (the data-loss counterSum fixes)")
  }

  test("static row without a staticColumns schema fails loudly") {
    val e = new Enc
    e.partitionHeader("st-2")
    e.byte(0x80).byte(0x01).vint(0).vint(0).vint(0)
    e.endOfPartition()
    val ex = intercept[IllegalArgumentException] {
      new MaFormat.Reader(new ByteArrayInputStream(e.result), Cols, 0, 0).toList
    }
    assert(ex.getMessage.contains("staticColumns"))
  }

  test("clustering tables read through the DataSource with the clustering option") {
    val dir = Files.createTempDirectory("ma-clustering")
    val e = new Enc
    (1 to 5).foreach { i =>
      e.partitionHeader(s"u$i")
      e.byte(0x04 | 0x20)
      clusteringBlock(e, Seq(Some((s"ck-$i".getBytes(UTF_8), false))))
      e.vint(0).vint(0).vint(i.toLong * 10)
      e.byte(0x08).vint(2).bytes(s"v$i".getBytes(UTF_8))
      e.byte(0x08).bytes(longBytes(i.toLong))
      e.endOfPartition()
    }
    Files.write(dir.resolve("mc-1-big-Data.db"), e.result)
    val df = spark.read.format("graft.sources.sstable.MaSSTableSource")
      .option("path", dir.toString)
      .option("columns", ColsSpec)
      .option("clustering", "text")
      .load()
    assert(df.count() === 10)
    val good = df.select(col("key"), col("col"), col("ts")).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(good === (1 to 5).flatMap(i =>
      Seq(("u" + i, "click", i * 10L), ("u" + i, "nclicks", i * 10L))).toSet)
    // Without the option the same file must NOT silently decode to the
    // correct cells — the clustering block desyncs the stream (throws,
    // or decodes garbage that cannot equal the true result).
    val bad = scala.util.Try {
      spark.read.format("graft.sources.sstable.MaSSTableSource")
        .option("path", dir.toString).option("columns", ColsSpec)
        .load().select(col("key"), col("col"), col("ts")).collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    }
    assert(bad.isFailure || bad.get != good)
  }

  test("ma counter columns carry the counter flag and SUM-merge, not LWW") {
    val dir = Files.createTempDirectory("ma-counter")
    // Two generations, each contributing a counter shard to key c1
    // (counter values are vint-length-prefixed per the counter type).
    (1 to 2).foreach { gen =>
      val e = new Enc
      e.partitionHeader("c1")
      e.byte(0x04 | 0x20).vint(0).vint(0).vint(gen.toLong * 100)
      e.byte(0x08).vint(8).bytes(longBytes(gen.toLong * 10))
      e.endOfPartition()
      Files.write(dir.resolve(s"mc-$gen-big-Data.db"), e.result)
    }
    val raw = spark.read.format("graft.sources.sstable.MaSSTableSource")
      .option("path", dir.toString)
      .option("columns", "hits:counter")
      .load()
    assert(raw.collect().forall(_.getAs[Boolean]("counter")),
      "counter-typed ma cells must carry counter = true")
    // Kv routing: counter cells aggregate by SUM across generations
    // (Kv.counterMerge semantics), not last-write-wins.
    val summed = graft.kv.Kv.cellsFromSSTables(spark, dir.toString, "hits:counter")
      .filter(col("counter"))
      .withColumn("shard",
        expr("cast(conv(hex(value), 16, 10) as long)"))
      .groupBy(col("key"), col("col"))
      .agg(sum(col("shard")).as("counter_value"), max(col("ts")).as("last_write"))
      .collect()
    assert(summed.length === 1)
    assert(summed.head.getAs[Long]("counter_value") === 30L,
      "counter shards must SUM (10 + 20), not LWW")
  }

  test("legacy compressed SSTables use their version's checksum regime") {
    def payloadFor(key: String): Array[Byte] = {
      val e = new KaEnc
      e.partition(key)
      e.cell("click", 1000L, "v".getBytes(UTF_8))
      e.endRow()
      e.result
    }
    // ka (jb <= v < ma): Adler32 over the COMPRESSED bytes.
    val kaDir = Files.createTempDirectory("ka-compressed")
    writeCompressed(kaDir, "ks-tbl-ka-1", payloadFor("ak"), "LZ4Compressor",
      chunkLen = 1024, checksum = "adler32-compressed")
    val kaDf = spark.read.format("graft.sources.sstable.MaSSTableSource")
      .option("path", kaDir.toString).option("columns", ColsSpec).load()
    assert(kaDf.collect().map(_.getAs[String]("key")).toSeq === Seq("ak"))
    // ja (< jb): CRC32 over the UNCOMPRESSED chunk bytes.
    val jaDir = Files.createTempDirectory("ja-compressed")
    writeCompressed(jaDir, "ks-tbl-ja-1", payloadFor("aj"), "LZ4Compressor",
      chunkLen = 1024, checksum = "crc32-uncompressed")
    val jaDf = spark.read.format("graft.sources.sstable.MaSSTableSource")
      .option("path", jaDir.toString).option("columns", ColsSpec).load()
    assert(jaDf.collect().map(_.getAs[String]("key")).toSeq === Seq("aj"))
    // Cross-check: the ka file under the ma regime (CRC32/compressed)
    // must FAIL its checksum — the regimes are genuinely different.
    val wrongDir = Files.createTempDirectory("wrong-regime")
    writeCompressed(wrongDir, "mc-1-big", payloadFor("x"), "LZ4Compressor",
      chunkLen = 1024, checksum = "adler32-compressed")
    val ex = intercept[Exception] {
      spark.read.format("graft.sources.sstable.MaSSTableSource")
        .option("path", wrongDir.toString).option("columns", ColsSpec)
        .load().count()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(ex).exists(_.contains("checksum mismatch")))
  }

  test("legacy range tombstones suppress only columns inside their bounds") {
    val dir = Files.createTempDirectory("ka-range")
    val ka = new KaEnc
    ka.partition("rk")
    ka.cell("apple", 100L, "a".getBytes(UTF_8))  // in [a,m], older -> killed
    ka.cell("banana", 300L, "b".getBytes(UTF_8)) // in range but NEWER -> lives
    ka.cell("pear", 100L, "p".getBytes(UTF_8))   // outside the range -> lives
    ka.rangeTombstone("a", "m", 200L)
    ka.endRow()
    // A second key proves the marker stays key-scoped.
    ka.partition("other")
    ka.cell("apple", 100L, "o".getBytes(UTF_8))
    ka.endRow()
    Files.write(dir.resolve("ks-tbl-ka-1-Data.db"), ka.result)

    val bag = graft.kv.Kv.cellsFromSSTables(spark, dir.toString, ColsSpec)
    val out = graft.kv.Kv.applyMarkerTombstones(bag)
      .select(col("key"), col("col")).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(out === Set(("rk", "banana"), ("rk", "pear"), ("other", "apple")),
      s"range [a,m]@200 must kill only rk.apple@100, got $out")
    // Whole-key markers (ma row/partition deletions) still suppress
    // every older column of the key.
    val dir2 = Files.createTempDirectory("ma-wholekey")
    val ma = new Enc
    ma.partitionHeader("rk", deletionTs = 200L)
    ma.byte(0x20).vint(0).vint(0)
    ma.byte(0x00).vint(100L).vint(1).bytes("x".getBytes(UTF_8)) // older -> killed
    ma.byte(0x00).vint(300L).bytes(longBytes(1L))               // newer -> lives
    ma.endOfPartition()
    Files.write(dir2.resolve("mc-1-big-Data.db"), ma.result)
    val out2 = graft.kv.Kv.applyMarkerTombstones(
      graft.kv.Kv.cellsFromSSTables(spark, dir2.toString, ColsSpec))
      .select(col("col")).collect().map(_.getString(0)).toSet
    assert(out2 === Set("nclicks"), s"whole-key deletion@200: got $out2")
  }

  test("non-UTF8 partition keys are rejected loudly, not mangled") {
    val dir = Files.createTempDirectory("bad-key")
    val e = new KaEnc
    // Raw partition header with an invalid UTF-8 key (lone 0xFF bytes).
    e.short(3).bytes(Array[Byte](0x41, 0xff.toByte, 0xfe.toByte))
    e.out.writeInt(Int.MaxValue); e.longlong(MaFormat.NoDeletion)
    e.cell("click", 100L, "v".getBytes(UTF_8))
    e.endRow()
    Files.write(dir.resolve("ks-tbl-ka-1-Data.db"), e.result)
    val ex = intercept[Exception] {
      spark.read.format("graft.sources.sstable.MaSSTableSource")
        .option("path", dir.toString).option("columns", ColsSpec)
        .load().collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(ex).exists(_.contains("non-UTF8 partition key")),
      s"got: ${messages(ex).mkString(" | ")}")
  }

  test("migrate drops cells whose winning version is a cell tombstone") {
    val dir1 = Files.createTempDirectory("del-gen1")
    val ka = new KaEnc
    ka.partition("a1"); ka.cell("click", 100L, "old-a".getBytes(UTF_8)); ka.endRow()
    ka.partition("b1"); ka.cell("click", 100L, "keep-b".getBytes(UTF_8)); ka.endRow()
    Files.write(dir1.resolve("ks-tbl-ka-1-Data.db"), ka.result)
    // Generation 2: a1's click is cell-DELETED at ts 200 (newer).
    val dir2 = Files.createTempDirectory("del-gen2")
    val ma = new Enc
    ma.partitionHeader("a1")
    ma.byte(0x20).vint(0).vint(0)
    ma.byte(0x01 | 0x04).vint(200L).vint(0) // click: IS_DELETED, empty value
    ma.byte(0x04).vint(200L)                // nclicks: empty value
    ma.endOfPartition()
    Files.write(dir2.resolve("mc-2-big-Data.db"), ma.result)

    val target = Files.createTempDirectory("del-out").resolve("t").toString
    val stats = graft.kv.Kv.migrate(spark, Seq(dir1.toString, dir2.toString),
      ColsSpec, target).toOption.get
    val out = spark.read.parquet(target).collect()
      .map(r => (r.getAs[String]("key"), r.getAs[String]("col"))).toSet
    assert(!out.contains(("a1", "click")),
      "a deleted winner must NOT be exported (it would resurrect deleted data)")
    assert(out.contains(("b1", "click")))
    assert(stats.deletedDropped === 1L,
      s"the dropped deleted winner must be counted: $stats")
    // Dry-run renders the same survivor set.
    val rendered = graft.kv.Kv.migrate(spark, Seq(dir1.toString, dir2.toString),
      ColsSpec, targetPath = "", dryRun = true).swap.toOption.get
    assert(!rendered.collect().exists(r =>
      r.getString(0) == "a1" && r.getString(1) == "click"))
  }

  test("grand combined read: compressed + clustering + complex + Index/Summary + token shards") {
    // Every byte-reader feature on ONE file, the way a real table uses
    // them together: LZ4 chunking, a clustering column (values skipped),
    // a complex set<text> column (sub-cells), sibling Index.db and
    // Summary.db, murmur3 ring order, and a 2-way disjoint token-slice
    // shard plan over it all.
    val keys = (1 to 30).map(i => f"gu-$i%03d")
    val ringOrder = keys.sortBy(k => (
      graft.functions.CassandraMurmur3.token(k.getBytes(UTF_8)), k))
    val e = new Enc
    val entries = Seq.newBuilder[(String, Long)]
    ringOrder.zipWithIndex.foreach { case (k, i) =>
      entries += (k -> e.bos.size().toLong)
      e.partitionHeader(k)
      e.byte(0x04 | 0x20) // HAS_TIMESTAMP | HAS_ALL_COLUMNS
      clusteringBlock(e, Seq(Some((s"ck-$k".getBytes(UTF_8), false))))
      e.vint(0).vint(0).vint(1000L + i)
      e.byte(0x08).vint(2).bytes("ab".getBytes(UTF_8)) // click @ row ts
      e.vint(2) // tags: two set sub-cells, empty values, element in path
      e.byte(0x04).vint(10L).vint(4).bytes(f"t$i%03d".getBytes(UTF_8))
      e.byte(0x04).vint(20L).vint(4).bytes("blue".getBytes(UTF_8))
      e.endOfPartition()
    }
    val dir = Files.createTempDirectory("ma-grand")
    writeCompressed(dir, "mc-1-big", e.result, "LZ4Compressor", chunkLen = 512)
    val idxOffsets = writeIndex(dir, "mc-1-big", entries.result())
    writeSummary(dir, "mc-1-big",
      entries.result().zip(idxOffsets).zipWithIndex
        .collect { case (((k, _), io), i) if i % 8 == 0 => (k, io) })

    def read(tMin: Option[String], tMax: Option[String]) = {
      val b = spark.read.format("graft.sources.sstable.MaSSTableSource")
        .option("path", dir.toString)
        .option("columns", "click:text,tags:set<text>")
        .option("clustering", "text")
        .option("partitioner", "murmur3").option("splitBytes", "600")
      val b2 = tMin.fold(b)(v => b.option("tokenMin", v))
      tMax.fold(b2)(v => b2.option("tokenMax", v)).load()
    }
    def keyCols(df: org.apache.spark.sql.DataFrame) =
      df.select(col("key"), col("col"), col("ts")).collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    def tok(k: String): String =
      graft.functions.CassandraMurmur3.token(k.getBytes(UTF_8)).toString

    val whole = read(None, None)
    val all = keyCols(whole)
    assert(all.size === 30 * 3, s"click + 2 tag sub-cells per key: ${all.size}")
    assert(all.count(_._2.startsWith("tags[")) === 60)
    assert(whole.rdd.getNumPartitions >= 3, "splitBytes must split the file")

    val a = read(None, Some(tok(ringOrder(14))))
    val b = read(Some(tok(ringOrder(15))), None)
    val setA = keyCols(a)
    val setB = keyCols(b)
    assert((setA & setB).isEmpty, "shards must be disjoint")
    assert((setA ++ setB) === all, "shard union must be exactly the whole read")
    assert(setA.map(_._1) === ringOrder.take(15).toSet)
    assert(a.rdd.getNumPartitions < whole.rdd.getNumPartitions,
      "a token slice must prune planned splits")
  }

  test("the reference's whole job end-to-end: mixed-format SSTables -> merge -> tombstones -> TTL -> create-only export") {
    val dir = Files.createTempDirectory("e2e-sstables")
    // Generation 1: legacy ka file. u1 has an old click; u2 a value
    // that will be tombstoned; u3 an expiring cell already dead at the
    // export cutoff.
    val ka = new KaEnc
    ka.partition("u1"); ka.cell("click", 100L, "old".getBytes(UTF_8)); ka.endRow()
    ka.partition("u2"); ka.cell("click", 150L, "doomed".getBytes(UTF_8)); ka.endRow()
    ka.partition("u3")
    ka.expiringCell("click", 100L, "expired".getBytes(UTF_8), ttlS = 10, expirationS = 110)
    ka.endRow()
    Files.write(dir.resolve("ks-tbl-ka-1-Data.db"), ka.result)
    // Generation 2: modern ma file (compressed). u1 overwrites its
    // click; u2 is row-deleted at ts 300; u4 is new.
    val ma = new Enc
    ma.partitionHeader("u1")
    ma.byte(0x20).vint(0).vint(0)
    ma.byte(0x00).vint(200L).vint(3).bytes("new".getBytes(UTF_8))
    ma.byte(0x04).vint(200L)
    ma.endOfPartition()
    ma.partitionHeader("u2", deletionTs = 300L)
    ma.endOfPartition()
    ma.partitionHeader("u4")
    ma.byte(0x20).vint(0).vint(0)
    ma.byte(0x00).vint(250L).vint(5).bytes("fresh".getBytes(UTF_8))
    ma.byte(0x04).vint(250L)
    ma.endOfPartition()
    writeCompressed(dir, "mc-2-big", ma.result, "LZ4Compressor", chunkLen = 1024)

    // Keep only the value-bearing click column (the nclicks cells in
    // this fixture are empty-value placeholders).
    val cells = graft.kv.Kv.cellsFromSSTables(spark, dir.toString, ColsSpec)
      .filter(col("col") === graft.kv.Kv.TombstoneCol || col("col") === "click")
      .drop("counter")

    val merged = graft.kv.Kv.lww(graft.kv.Kv.applyMarkerTombstones(cells))
      // TTL filter at an export cutoff past u3's expiry (ts 100us +
      // 10s TTL): expiry = write ts + ttl.
      .withColumn("expiry_us",
        org.apache.spark.sql.functions.unix_micros(col("ts")) + col("ttl_s") * 1000000L)
      .filter(col("expiry_us").isNull || col("expiry_us") >= 20000000L)
      .select(col("key"), col("value"),
        col("expiry_us"), org.apache.spark.sql.functions.coalesce(
          col("ttl_s") * 1000000L, lit(0L)).as("ttl_us"))

    val target = Files.createTempDirectory("e2e-target").resolve("t").toString
    val stats = graft.sinks.KeyedSink.createOnlyAppend(spark, merged, target)

    val out = spark.read.parquet(target).collect()
      .map(r => r.getAs[String]("key") ->
        new String(r.getAs[Array[Byte]]("value"), UTF_8)).toMap
    // u1: generation 2 wins LWW. u2: row tombstone kills the older
    // cell. u3: expired at cutoff. u4: fresh write survives.
    assert(out === Map("u1" -> "new", "u4" -> "fresh"),
      s"end-to-end export produced $out")
    assert(stats.written === 2 && stats.incoming === 2)
  }

  test("Kv.migrate runs the whole reference job in one call (resume + dry-run included)") {
    val dir1 = Files.createTempDirectory("mig-gen1")
    val ka = new KaEnc
    Seq(("a1", 100L, "old-a"), ("b1", 100L, "keep-b")).foreach { case (k, ts, v) =>
      ka.partition(k); ka.cell("click", ts, v.getBytes(UTF_8)); ka.endRow()
    }
    Files.write(dir1.resolve("ks-tbl-ka-1-Data.db"), ka.result)
    val dir2 = Files.createTempDirectory("mig-gen2")
    val ma = new Enc
    ma.partitionHeader("a1")
    ma.byte(0x20).vint(0).vint(0)
    ma.byte(0x00).vint(200L).vint(5).bytes("new-a".getBytes(UTF_8))
    ma.byte(0x04).vint(200L)
    ma.endOfPartition()
    Files.write(dir2.resolve("mc-2-big-Data.db"), ma.result)

    // Dry run renders without writing.
    val rendered = graft.kv.Kv.migrate(spark, Seq(dir1.toString, dir2.toString),
      ColsSpec, targetPath = "", dryRun = true).swap.toOption.get
    val byKeyCol = rendered.collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getString(2)).toMap
    assert(byKeyCol(("a1", "click")) === "click=new-a", "LWW picks generation 2")
    assert(byKeyCol(("b1", "click")) === "click=keep-b")

    // Real run writes survivors create-only; resume skips keys < "b".
    val target = Files.createTempDirectory("mig-out").resolve("t").toString
    val stats = graft.kv.Kv.migrate(spark, Seq(dir1.toString, dir2.toString),
      ColsSpec, target, resumeKey = Some("b")).toOption.get
    assert(stats.written === 1 && stats.incoming === 1,
      s"resume from 'b' must export only b1: $stats")
    val keys = spark.read.parquet(target).collect().map(_.getAs[String]("key")).toSet
    assert(keys === Set("b1"))
  }

  test("Kv.migrate deduces its schema from Statistics.db when -c is omitted") {
    // The reference CLI takes only paths and reads the table schema
    // from the sstable's own metadata (Cassandra2Aerospike.cpp:87-95
    // deduces names; read_metadata supplies the column layout). An
    // empty columns spec must ride the same self-describing path
    // end-to-end through migrate — per-generation, with DIFFERENT
    // timestamp bases so a global option could not have decoded both.
    val dir = Files.createTempDirectory("mig-selfdesc")
    val gens = Seq((1, 1000L), (2, 2000L))
    gens.foreach { case (gen, base) =>
      val e = new Enc
      e.partitionHeader(s"k$gen")
      e.byte(0x20).vint(0).vint(0)
      val v = s"v$gen".getBytes(UTF_8)
      e.byte(0x00).vint(gen.toLong).vint(v.length.toLong).bytes(v)
      e.byte(0x00).vint(gen.toLong).bytes(longBytes(gen.toLong))
      e.endOfPartition()
      Files.write(dir.resolve(s"mc-$gen-big-Data.db"), e.result)
      Files.write(dir.resolve(s"mc-$gen-big-Statistics.db"),
        statsBytes(Marshal + "Murmur3Partitioner", Some(StatsHeader(
          base, 0L, Marshal + "UTF8Type", Nil, Nil,
          regulars = Seq(
            "click" -> (Marshal + "UTF8Type"),
            "nclicks" -> (Marshal + "LongType"))))))
    }
    val target = Files.createTempDirectory("mig-selfdesc-out").resolve("t").toString
    val stats = graft.kv.Kv.migrate(spark, Seq(dir.toString),
      columnsSpec = "", targetPath = target).toOption.get
    assert(stats.written === 4 && stats.failed === 0, s"unexpected stats: $stats")
    val got = spark.read.parquet(target)
      .select(col("key"), col("col"), unix_micros(col("ts")).as("us"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(got === gens.flatMap { case (gen, base) =>
      Seq((s"k$gen", "click", base + gen), (s"k$gen", "nclicks", base + gen))
    }.toSet, "per-file Statistics.db bases must decode each generation")
  }

  test("sharded migration: disjoint token slices partition the export exactly") {
    // One 12-key generation; shard the ring in half by murmur3 token
    // and check the two -T slices reconstruct the unsharded run with
    // no overlap — the distributed-run contract.
    val dir = Files.createTempDirectory("mig-shard")
    val ma = new Enc
    val keys = (1 to 12).map(i => f"k$i%02d")
    keys.foreach { k =>
      ma.partitionHeader(k)
      ma.byte(0x20).vint(0).vint(0)
      ma.byte(0x00).vint(100L).vint(1).bytes("v".getBytes(UTF_8))
      ma.byte(0x04).vint(100L)
      ma.endOfPartition()
    }
    Files.write(dir.resolve("mc-1-big-Data.db"), ma.result)
    // The table's own Statistics.db declares the murmur3 ring, so the
    // -T bounds are interpreted in the right token notation without
    // any explicit partitioner plumbing — as with a real table.
    Files.write(dir.resolve("mc-1-big-Statistics.db"),
      statsBytes(Marshal + "Murmur3Partitioner", Some(StatsHeader(
        0L, 0L, Marshal + "UTF8Type", Nil, Nil,
        regulars = Seq(
          "click" -> (Marshal + "UTF8Type"),
          "nclicks" -> (Marshal + "LongType"))))))
    val tokens = keys.map(k =>
      graft.functions.CassandraMurmur3.token(k.getBytes(UTF_8))).sorted
    val mid = tokens(5)
    def shard(range: (String, String)): Set[String] =
      graft.kv.Kv.migrate(spark, Seq(dir.toString), ColsSpec,
          targetPath = "", dryRun = true,
          tokenRange = Some(range)).swap.toOption.get
        .collect().map(_.getString(0)).toSet
    val full = graft.kv.Kv.migrate(spark, Seq(dir.toString), ColsSpec,
      targetPath = "", dryRun = true).swap.toOption.get
      .collect().map(_.getString(0)).toSet
    val lo = shard(("", mid.toString))
    val hi = shard(((mid + 1).toString, ""))
    assert(lo.nonEmpty && hi.nonEmpty, s"both shards must own keys: $lo / $hi")
    assert((lo & hi) === Set.empty, "slices must not overlap")
    assert((lo | hi) === full, "slices must cover the full export")
    assert(lo.size === 6, "half the ring = half the keys")

    // The slice PLANNER's -T arguments do the same for any N: every
    // worker's shard is disjoint, their union is the unsharded run.
    Seq(1, 2, 3, 7).foreach { n =>
      val shards = graft.kv.Kv.planTokenSlices(n).map(shard)
      assert(shards.map(_.size).sum === full.size,
        s"n=$n: slices must partition (no overlap, no loss)")
      assert(shards.reduce(_ | _) === full, s"n=$n: union must cover")
    }
    // Cut-point exactness at the ring ends and between slices.
    val cuts = graft.kv.Kv.planTokenSlices(3)
    assert(cuts.head._1 === Long.MinValue.toString)
    assert(cuts.last._2 === Long.MaxValue.toString)
    cuts.sliding(2).foreach { case Seq((_, hi1), (lo2, _)) =>
      assert(BigInt(lo2) === BigInt(hi1) + 1, s"adjacent slices must meet: $hi1 / $lo2")
    }
  }

  test("DataSource V2 reads Data.db files and prunes columns") {
    val dir = Files.createTempDirectory("ma-sstable").toString
    // Two generations, overlapping keys — exactly the reference's
    // multi-SSTable layout.
    (1 to 2).foreach { gen =>
      val e = new Enc
      (1 to 5).foreach { i =>
        val v = s"g$gen-$i".getBytes(UTF_8)
        e.partitionHeader(s"u$i")
        e.byte(0x20).vint(0).vint(0)
        e.byte(0x00).vint(gen.toLong * 1000 + i).vint(v.length).bytes(v)
        e.byte(0x00).vint(gen.toLong * 1000 + i).bytes(longBytes(gen.toLong))
        e.endOfPartition()
      }
      Files.write(Paths.get(dir, s"mc-$gen-big-Data.db"), e.result)
    }
    val df = spark.read
      .format("graft.sources.sstable.MaSSTableSource")
      .option("path", dir)
      .option("columns", ColsSpec)
      .load()
    assert(df.count() === 20)
    assert(df.rdd.getNumPartitions === 2, "one input partition per Data.db file")
    // Column pruning reaches the scan's read schema.
    val pruned = df.select(col("key"), col("ts"))
    assert(pruned.collect().length === 20)
    assert(pruned.schema.fieldNames.toSeq === Seq("key", "ts"))

    // LWW over the decoded cell bag: generation 2 must win every key.
    val bag = df.filter(!col("marker"))
      .select(col("key"), col("col"), col("ts"),
        col("ts").as("seq"), col("value"))
    val winners = graft.kv.Kv.lww(bag).collect()
    assert(winners.length === 10)
    winners.filter(_.getString(1) == "click").foreach { r =>
      assert(new String(r.getAs[Array[Byte]]("value"), UTF_8).startsWith("g2-"),
        s"LWW must pick generation 2 for ${r.getString(0)}")
    }
  }

  // ---- complex (collection) columns ----------------------------------

  test("complex collection cells decode as column[path] sub-cells") {
    val cols = Seq("click" -> CText, "tags" -> CComplex(CText),
      "attrs" -> CComplex(CLong), "log" -> CComplex(CLong))
    val e = new Enc
    e.partitionHeader("u1")
    e.byte(0x20).vint(0).vint(0) // HAS_ALL_COLUMNS, per-cell timestamps
    // click: plain simple cell.
    e.byte(0x00).vint(100L).vint(3).bytes("abc".getBytes(UTF_8))
    // tags (set<text>): two sub-cells, EMPTY values, element in the path.
    e.vint(2)
    e.byte(0x04).vint(110L).vint(3).bytes("red".getBytes(UTF_8))
    e.byte(0x04).vint(120L).vint(4).bytes("blue".getBytes(UTF_8))
    // attrs (map<text,long>): key in the path, fixed-8 value.
    e.vint(1)
    e.byte(0x00).vint(130L).vint(2).bytes("k1".getBytes(UTF_8)).bytes(longBytes(42L))
    // log (list<long>): binary (timeuuid-style) path renders as hex.
    e.vint(1)
    e.byte(0x00).vint(140L).vint(2).bytes(Array[Byte](0x00, 0xab.toByte))
      .bytes(longBytes(7L))
    e.endOfPartition()
    val cells = decode(e.result, cols = cols)
    assert(cells.map(_.col) ===
      List("click", "tags[red]", "tags[blue]", "attrs[k1]", "log[0x00ab]"))
    assert(cells(1).value === null && cells(2).value === null)
    assert(java.nio.ByteBuffer.wrap(cells(3).value).getLong === 42L)
    assert(java.nio.ByteBuffer.wrap(cells(4).value).getLong === 7L)
    assert(cells.map(_.ts) === List(100L, 110L, 120L, 130L, 140L))
    assert(cells.forall(c => !c.marker && !c.deleted))
  }

  test("complex deletion emits a column-scoped range marker; LIVE emits none") {
    val cols = Seq("click" -> CText, "tags" -> CComplex(CText),
      "attrs" -> CComplex(CLong))
    val e = new Enc
    e.partitionHeader("u1")
    e.byte(0x20 | 0x40).vint(0).vint(0) // HAS_ALL_COLUMNS | HAS_COMPLEX_DELETION
    e.byte(0x00).vint(50L).vint(1).bytes("x".getBytes(UTF_8))
    // tags: real complex deletion at ts 200, then a newer sub-cell.
    e.vint(200L).vint(0)
    e.vint(1)
    e.byte(0x04).vint(300L).vint(3).bytes("red".getBytes(UTF_8))
    // attrs: LIVE deletion (sentinel delta), no sub-cells.
    e.vintRaw(MaFormat.NoDeletion - 0L).vint(0)
    e.vint(0)
    e.endOfPartition()
    val cells = decode(e.result, cols = cols)
    val markers = cells.filter(_.marker)
    assert(markers.size === 1, "LIVE complex deletion must not emit a marker")
    val m = markers.head
    assert(m.col === "tags[")
    assert(new String(m.value, UTF_8) === "tags[" + "\uffff")
    assert(m.ts === 200L && m.deleted)
    assert(cells.filterNot(_.marker).map(_.col) === List("click", "tags[red]"))
  }

  test("complex deletions suppress only their column's older sub-cells in the merge") {
    val dir = Files.createTempDirectory("ma-complex")
    val e = new Enc
    e.partitionHeader("u1")
    e.byte(0x20 | 0x40).vint(0).vint(0)
    e.byte(0x00).vint(50L).vint(1).bytes("x".getBytes(UTF_8)) // click @50: outside range
    e.vint(200L).vint(0)                                      // tags deletion @200
    e.vint(2)
    e.byte(0x04).vint(100L).vint(3).bytes("old".getBytes(UTF_8)) // @100 <= 200: dropped
    e.byte(0x04).vint(300L).vint(3).bytes("new".getBytes(UTF_8)) // @300 >  200: kept
    e.endOfPartition()
    Files.write(dir.resolve("mc-1-big-Data.db"), e.result)
    val bag = graft.kv.Kv.cellsFromSSTables(
      spark, dir.toString, "click:text,tags:set<text>")
    val live = graft.kv.Kv.lww(graft.kv.Kv.applyMarkerTombstones(bag))
      .select(col("key"), col("col")).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(live === Set(("u1", "click"), ("u1", "tags[new]")))
  }

  test("column spec parses collection types (top-level comma split)") {
    val dir = Files.createTempDirectory("ma-complex-spec")
    val e = new Enc
    e.partitionHeader("u1")
    e.byte(0x20).vint(0).vint(0)
    e.vint(1)
    e.byte(0x00).vint(10L).vint(2).bytes("k1".getBytes(UTF_8)).bytes(longBytes(5L))
    e.byte(0x00).vint(20L).vint(1).bytes("v".getBytes(UTF_8))
    e.endOfPartition()
    Files.write(dir.resolve("mc-1-big-Data.db"), e.result)
    val rows = spark.read.format("graft.sources.sstable.MaSSTableSource")
      .option("path", dir.toString)
      .option("columns", "attrs:map<text,long>,click:text")
      .load().select(col("col")).collect().map(_.getString(0)).toSet
    assert(rows === Set("attrs[k1]", "click"))
  }

  test("Statistics.db maps collection marshal types to complex columns") {
    val bytes = statsBytes(Marshal + "Murmur3Partitioner", Some(StatsHeader(
      0L, 0L, Marshal + "UTF8Type", Nil, Nil,
      regulars = Seq(
        "tags" -> (Marshal + "SetType(" + Marshal + "UTF8Type)"),
        "attrs" -> (Marshal + "MapType(" + Marshal + "UTF8Type," + Marshal + "LongType)"),
        "log" -> (Marshal + "ListType(" + Marshal + "LongType)")))))
    val m = StatsFile.read(ByteCursor(bytes, "Statistics.db"), "mc")
    assert(m.columns === Some(Seq(
      "tags" -> CComplex(CText),
      "attrs" -> CComplex(CLong),
      "log" -> CComplex(CLong))))
  }

  // ---- Statistics.db: independent encoder + discovery tests ---------

  private val Marshal = "org.apache.cassandra.db.marshal."

  private case class StatsHeader(
      minTimestamp: Long, minTtl: Long, keyClass: String,
      clustering: Seq[String], statics: Seq[(String, String)],
      regulars: Seq[(String, String)])

  /** Independent Statistics.db encoder per the reference layout
    * (SSTable.cpp:275 read_metadata; SSTableSchema.cpp:121 parse):
    * int32 count then (type, offset) int32 pairs; VALIDATION(0) a
    * 16-bit-length partitioner class name; HEADER(3) the vint
    * serialization header with vint-length marshal class names.
    * `version >= "na"` emits Cassandra 4.0's checksummed form
    * (MetadataSerializer): one CRC32 over count + TOC ints, written
    * after the count and again after the TOC, then a per-component
    * CRC32 behind each component's bytes. */
  private def statsBytes(
      partitionerClass: String, header: Option[StatsHeader],
      version: String = "mc"): Array[Byte] = {
    def vlenStr(e: Enc, s: String): Unit = {
      val b = s.getBytes(UTF_8); e.vint(b.length.toLong); e.bytes(b)
    }
    val validation = { val e = new Enc; e.string(partitionerClass); e.result }
    val headerBytes = header.map { h =>
      val e = new Enc
      e.vint(h.minTimestamp).vint(0L).vint(h.minTtl)
      vlenStr(e, h.keyClass)
      e.vint(h.clustering.length.toLong)
      h.clustering.foreach(vlenStr(e, _))
      Seq(h.statics, h.regulars).foreach { cols =>
        e.vint(cols.length.toLong)
        cols.foreach { case (n, c) => vlenStr(e, n); vlenStr(e, c) }
      }
      e.result
    }
    val checked = version >= "na"
    val n = 1 + headerBytes.size
    val tocLen = 4 + n * 8 + (if (checked) 8 else 0)
    val out = new ByteArrayOutputStream()
    val d = new DataOutputStream(out)
    val crc = new java.util.zip.CRC32
    def putInt(v: Int): Unit = {
      d.writeInt(v)
      if (checked) {
        crc.update((v >>> 24) & 0xff); crc.update((v >>> 16) & 0xff)
        crc.update((v >>> 8) & 0xff); crc.update(v & 0xff)
      }
    }
    def putComponent(b: Array[Byte]): Unit = {
      d.write(b)
      if (checked) {
        crc.reset(); crc.update(b); d.writeInt(crc.getValue.toInt)
      }
    }
    putInt(n)
    if (checked) d.writeInt(crc.getValue.toInt)
    val componentCrc = if (checked) 4 else 0
    putInt(0); putInt(tocLen) // VALIDATION
    headerBytes.foreach { _ =>
      putInt(3); putInt(tocLen + validation.length + componentCrc) // HEADER
    }
    if (checked) d.writeInt(crc.getValue.toInt)
    putComponent(validation)
    headerBytes.foreach(putComponent)
    d.flush()
    out.toByteArray
  }

  test("Statistics.db decodes the schema, delta bases, and partitioner") {
    val bytes = statsBytes(Marshal + "Murmur3Partitioner", Some(StatsHeader(
      5000L, 77L, Marshal + "UTF8Type",
      clustering = Seq(Marshal + "UTF8Type", Marshal + "Int32Type"),
      statics = Seq("s1" -> (Marshal + "LongType")),
      regulars = Seq(
        "click" -> (Marshal + "UTF8Type"),
        "nclicks" -> (Marshal + "LongType"),
        "weird" -> "com.example.CustomType")))) // no marshal prefix -> vint-framed
    val m = StatsFile.read(ByteCursor(bytes, "Statistics.db"), "mc")
    assert(m.minTimestamp === 5000L)
    assert(m.minTtl === 77L)
    assert(m.clustering === Seq(CText, CInt32))
    assert(m.staticColumns === Seq("s1" -> CLong))
    assert(m.columns === Some(Seq(
      "click" -> CText, "nclicks" -> CLong, "weird" -> CText)))
    assert(m.partitioner === Some("murmur3"))
  }

  test("ka Statistics.db yields the partitioner; no header component") {
    val bytes = statsBytes(Marshal + "RandomPartitioner", None)
    val m = StatsFile.read(ByteCursor(bytes, "Statistics.db"), "ka")
    assert(m.columns === None)
    assert(m.partitioner === Some("random"))
  }

  test("ja Statistics.db skips histograms to reach the partitioner") {
    val e = new Enc
    e.out.writeInt(3); (1 to 6).foreach(i => e.longlong(i.toLong))
    e.out.writeInt(2); (1 to 4).foreach(i => e.longlong(i.toLong))
    (1 to 5).foreach(i => e.longlong(i.toLong)) // 5 fixed longs
    e.out.writeInt(0); e.out.writeInt(0) // 2 fixed ints
    e.string(Marshal + "ByteOrderedPartitioner")
    val m = StatsFile.read(ByteCursor(e.result, "Statistics.db"), "ja")
    assert(m.columns === None)
    assert(m.partitioner === Some("byteOrdered"))
  }

  test("nb Statistics.db: checksummed TOC decodes schema and partitioner") {
    // Cassandra 4.x ("na"/"nb") checksums the metadata file; layout is
    // otherwise the mc TOC. The m-family successors stay unchecksummed.
    val header = Some(StatsHeader(
      9000L, 33L, Marshal + "UTF8Type",
      clustering = Seq(Marshal + "Int32Type"),
      statics = Nil,
      regulars = Seq("click" -> (Marshal + "UTF8Type"))))
    val nb = statsBytes(Marshal + "Murmur3Partitioner", header, version = "nb")
    val mc = statsBytes(Marshal + "Murmur3Partitioner", header, version = "mc")
    assert(nb.length === mc.length + 4 * (2 + 2),
      "nb adds two TOC CRCs and one CRC per component")
    val m = StatsFile.read(ByteCursor(nb, "Statistics.db"), "nb")
    assert(m.minTimestamp === 9000L)
    assert(m.minTtl === 33L)
    assert(m.clustering === Seq(CInt32))
    assert(m.columns === Some(Seq("click" -> CText)))
    assert(m.partitioner === Some("murmur3"))
    // md/me: same unchecksummed TOC as mc (their deltas live in the
    // skipped StatsMetadata component).
    for (v <- Seq("md", "me"))
      assert(StatsFile.read(ByteCursor(mc, "Statistics.db"), v).minTimestamp === 9000L)
  }

  test("nb Statistics.db: corrupted TOC fails loudly, not a misparse") {
    val nb = statsBytes(Marshal + "Murmur3Partitioner", Some(StatsHeader(
      9000L, 33L, Marshal + "UTF8Type", Nil, Nil,
      regulars = Seq("click" -> (Marshal + "UTF8Type")))), version = "nb")
    // Flip a byte inside the second TOC entry's offset int (count:4,
    // crc:4, entry1:8 — byte 17 sits in entry2's type/offset region).
    val bad = nb.clone(); bad(17) = (bad(17) ^ 0x40).toByte
    val ex = intercept[IllegalArgumentException] {
      StatsFile.read(ByteCursor(bad, "Statistics.db"), "nb")
    }
    assert(ex.getMessage.contains("checksum mismatch"))
  }

  test("4.x nb SSTable end-to-end: checksummed stats make the read self-describing") {
    // The Data.db row format is unchanged from 3.0 ("ma") through 4.x
    // ("nb"), so an nb file is the ma framing under an nb name; the nb
    // difference a reader must handle is the checksummed Statistics.db.
    assert(MaSSTableSource.versionOf("nb-1-big-Data.db") === "nb")
    val dir = Files.createTempDirectory("nb-stats")
    val e = new Enc
    (1 to 5).foreach { i =>
      e.partitionHeader(s"u$i")
      e.byte(0x20).vint(0).vint(0)
      val v = s"v$i".getBytes(UTF_8)
      e.byte(0x00).vint(i.toLong).vint(v.length.toLong).bytes(v)
      e.byte(0x00).vint(i.toLong).bytes(longBytes(i.toLong))
      e.endOfPartition()
    }
    Files.write(dir.resolve("nb-1-big-Data.db"), e.result)
    Files.write(dir.resolve("nb-1-big-Statistics.db"),
      statsBytes(Marshal + "Murmur3Partitioner", Some(StatsHeader(
        4000L, 0L, Marshal + "UTF8Type", Nil, Nil,
        regulars = Seq(
          "click" -> (Marshal + "UTF8Type"),
          "nclicks" -> (Marshal + "LongType")))), version = "nb"))
    val df = spark.read.format("graft.sources.sstable.MaSSTableSource")
      .option("path", dir.toString).load()
    val got = df.select(col("key"), col("col"), col("ts")).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    val expect = (1 to 5).flatMap(i => Seq(
      (s"u$i", "click", 4000L + i), (s"u$i", "nclicks", 4000L + i))).toSet
    assert(got === expect)
  }

  test("describe: the per-SSTable inventory a migration plans from") {
    assert(MaSSTableSource.generationOf("nb-12-big-Data.db") === 12L)
    assert(MaSSTableSource.generationOf("ks-tbl-ka-3-Data.db") === 3L)
    assert(MaSSTableSource.generationOf("weird.db") === -1L)

    val dir = Files.createTempDirectory("describe")
    // (1) compressed mc generation 7 with stats + index + summary
    val e1 = new Enc
    val entries = Seq.newBuilder[(String, Long)]
    (1 to 4).foreach { i =>
      entries += (s"k$i" -> e1.bos.size().toLong)
      e1.partitionHeader(s"k$i")
      e1.byte(0x20).vint(0).vint(0)
      e1.byte(0x00).vint(1L).vint(1).bytes("v".getBytes(UTF_8))
      e1.endOfPartition()
    }
    writeCompressed(dir, "mc-7-big", e1.result, "LZ4Compressor", 64)
    writeIndex(dir, "mc-7-big", entries.result())
    writeSummary(dir, "mc-7-big", Seq("k1" -> 0L))
    Files.write(dir.resolve("mc-7-big-Statistics.db"),
      statsBytes(Marshal + "Murmur3Partitioner", Some(StatsHeader(
        0L, 0L, Marshal + "UTF8Type", Nil, Nil,
        regulars = Seq("click" -> (Marshal + "UTF8Type"))))))
    // (2) plain nb generation 2 with checksummed stats, no index/summary
    val e2 = new Enc
    e2.partitionHeader("z1")
    e2.byte(0x20).vint(0).vint(0)
    e2.byte(0x00).vint(1L).vint(1).bytes("w".getBytes(UTF_8))
    e2.endOfPartition()
    Files.write(dir.resolve("nb-2-big-Data.db"), e2.result)
    Files.write(dir.resolve("nb-2-big-Statistics.db"),
      statsBytes(Marshal + "Murmur3Partitioner", Some(StatsHeader(
        0L, 0L, Marshal + "UTF8Type", Nil, Nil,
        regulars = Seq(
          "click" -> (Marshal + "UTF8Type"),
          "n" -> (Marshal + "LongType")))), version = "nb"))
    // (3) bare legacy ka generation 3 — no sibling metadata at all
    //     (describe never opens Data.db, so content is irrelevant)
    Files.write(dir.resolve("ks-tbl-ka-3-Data.db"), Array[Byte](1, 2, 3))
    // (4) nb generation 9 with a CORRUPT Statistics.db: the inventory
    //     must report it (nulls + meta_error), never abort the job.
    Files.write(dir.resolve("nb-9-big-Data.db"), Array[Byte](0))
    Files.write(dir.resolve("nb-9-big-Statistics.db"),
      Array[Byte](0, 0, 0, 1, 9, 9, 9, 9))

    val rows = MaSSTableSource.describe(spark, dir.toString).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(rows.keySet === Set(
      "mc-7-big-Data.db", "nb-2-big-Data.db", "ks-tbl-ka-3-Data.db",
      "nb-9-big-Data.db"))
    val bad = rows("nb-9-big-Data.db")
    assert(bad.isNullAt(8), "corrupt stats yield null fields")
    assert(bad.getString(19) != null &&
      bad.getString(19).startsWith("Statistics.db:"),
      s"the corruption must be reported in meta_error: $bad")

    val mc = rows("mc-7-big-Data.db")
    assert(mc.getString(1) === "mc")
    assert(mc.getLong(2) === 7L)
    assert(mc.getBoolean(4) === true)
    assert(mc.getString(5) === "Lz4")
    assert(mc.getInt(6) === 64)
    assert(mc.getLong(7) === e1.result.length.toLong)
    assert(mc.getString(8) === "murmur3")
    assert(mc.getInt(13) === 1) // regular_cols
    assert(mc.getLong(14) === 4L) // index_partitions
    assert(mc.getInt(15) === 1) // summary_entries

    val nb = rows("nb-2-big-Data.db")
    assert(nb.getString(1) === "nb")
    assert(nb.getLong(2) === 2L)
    assert(nb.getBoolean(4) === false)
    assert(nb.isNullAt(5) && nb.isNullAt(6) && nb.isNullAt(7))
    assert(nb.getString(8) === "murmur3")
    assert(nb.getInt(13) === 2)
    assert(nb.isNullAt(14) && nb.isNullAt(15))

    val ka = rows("ks-tbl-ka-3-Data.db")
    assert(ka.getString(1) === "ka")
    assert(ka.getLong(2) === 3L)
    assert(ka.getLong(3) === 3L) // data_bytes
    assert((8 to 18).forall(ka.isNullAt))

    // Legacy filenames carry ks/table; bare mc/nb names deduce nothing.
    assert(ka.getAs[String]("keyspace") === "ks")
    assert(ka.getAs[String]("table") === "tbl")
    assert(mc.isNullAt(mc.fieldIndex("keyspace")) && mc.isNullAt(mc.fieldIndex("table")))

    // The Kv/Migrate wrapper unions dirs and tags each row with its dir.
    val multi = graft.kv.Kv.describeSSTables(spark, Seq(dir.toString))
    assert(multi.columns.last === "dir")
    assert(multi.count() === 4L)
  }

  test("keyspace/table deduce from the modern directory layout and the legacy filename") {
    import MaSSTableSource.deduceKeyspaceTable
    // Modern: .../<keyspace>/<table>-<32hexuuid>/<file>
    val uuid = "0123456789abcdef0123456789abcdef"
    assert(deduceKeyspaceTable(s"/data/ks1/users-$uuid/nb-1-big-Data.db")
      === (Some("ks1"), Some("users")))
    // Hyphenated table names keep every segment before the uuid.
    assert(deduceKeyspaceTable(s"/d/my_ks/event-log-$uuid/mc-3-big-Data.db")
      === (Some("my_ks"), Some("event-log")))
    // Legacy ka-era filename: <ks>-<table>-<version>-<gen>-Data.db
    assert(deduceKeyspaceTable("/tmp/x/ks-tbl-ka-3-Data.db")
      === (Some("ks"), Some("tbl")))
    // Bare modern filename in an unstructured dir: unknown, never a guess.
    assert(deduceKeyspaceTable("/tmp/scratch/mc-7-big-Data.db") === ((None, None)))
  }

  test("summary first/last bounds prune whole files from a token-sliced plan") {
    // Nine keys in murmur3 ring order, split into three files of three
    // — each file with Index.db and a Summary.db carrying the trailing
    // (first, last) bound keys. A slice covering only the middle
    // file's token range must plan ONLY that file.
    val keys = (1 to 9).map(i => s"user-$i").sortBy(k =>
      graft.functions.CassandraMurmur3.token(k.getBytes(UTF_8)))
    val dir = Files.createTempDirectory("bounds-prune")
    keys.grouped(3).zipWithIndex.foreach { case (ks, gi) =>
      val e = new Enc
      val entries = Seq.newBuilder[(String, Long)]
      ks.foreach { k =>
        entries += (k -> e.bos.size().toLong)
        e.partitionHeader(k)
        e.byte(0x20).vint(0).vint(0)
        e.byte(0x00).vint(1L).vint(1).bytes("v".getBytes(UTF_8))
        e.byte(0x04).vint(1L)
        e.endOfPartition()
      }
      val prefix = s"mc-${gi + 1}-big"
      Files.write(dir.resolve(s"$prefix-Data.db"), e.result)
      // Only the middle file gets an Index.db: the outer files can be
      // excluded ONLY by the new summary-bounds file skip — without
      // it they would plan as whole-file partitions and this test
      // fails, so it pins the file-level path specifically.
      if (gi == 1) writeIndex(dir, prefix, entries.result())
      writeSummary(dir, prefix, Seq(ks.head -> 0L),
        bounds = Some((ks.head, ks.last)))
      Files.write(dir.resolve(s"$prefix-Statistics.db"),
        statsBytes(Marshal + "Murmur3Partitioner", Some(StatsHeader(
          0L, 0L, Marshal + "UTF8Type", Nil, Nil,
          regulars = Seq(
            "click" -> (Marshal + "UTF8Type"),
            "nclicks" -> (Marshal + "LongType"))))))
    }
    val mid = keys.slice(3, 6)
    def tok(k: String) =
      graft.functions.CassandraMurmur3.token(k.getBytes(UTF_8)).toString
    val df = spark.read.format("graft.sources.sstable.MaSSTableSource")
      .option("path", dir.toString)
      .option("tokenMin", tok(mid.head)).option("tokenMax", tok(mid.last))
      .load()
    assert(df.select(col("key")).collect().map(_.getString(0)).toSet
      === mid.toSet)
    val planned = df.queryExecution.optimizedPlan.collect {
      case sr: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
        MaSSTableSource.scanPartitionFiles(sr.scan).get
    }.head
    assert(planned.map(f => new java.io.File(f).getName).distinct
      === Seq("mc-2-big-Data.db"),
      s"only the slice-overlapping file may be planned, got $planned")

    // describe surfaces the same overlap as data: first/last bounds
    // per file and, with a prospective -T slice, the in_slice flag a
    // fan-out controller sizes workers from.
    val inv = MaSSTableSource
      .describe(spark, dir.toString, Some((tok(mid.head), tok(mid.last))))
      .collect().map(r => r.getString(0) -> r).toMap
    keys.grouped(3).zipWithIndex.foreach { case (ks, gi) =>
      val row = inv(s"mc-${gi + 1}-big-Data.db")
      assert(row.getAs[String]("first_key") === ks.head)
      assert(row.getAs[String]("last_key") === ks.last)
      assert(row.getAs[Boolean]("in_slice") === (gi == 1),
        s"file ${gi + 1} slice overlap wrong: $row")
    }
    // Open-ended slice: everything from the middle file's start on.
    val invOpen = MaSSTableSource
      .describe(spark, dir.toString, Some((tok(mid.head), "")))
      .collect().map(r => r.getString(0) -> r.getAs[Boolean]("in_slice")).toMap
    assert(invOpen === Map(
      "mc-1-big-Data.db" -> false, "mc-2-big-Data.db" -> true,
      "mc-3-big-Data.db" -> true))

    // Bounds round-trip; a summary WITHOUT trailing bounds yields None
    // (older fixtures) and keeps the un-pruned path.
    val b = MaFormat.readSummaryBounds(
      ByteCursor(Files.readAllBytes(dir.resolve("mc-1-big-Summary.db")), "Summary.db"), "mc")
    assert(b.map { case (f, l) => (new String(f, UTF_8), new String(l, UTF_8)) }
      === Some((keys(0), keys(2))))
    writeSummary(dir, "unbounded", Seq("a" -> 0L))
    val b2 = MaFormat.readSummaryBounds(
      ByteCursor(Files.readAllBytes(dir.resolve("unbounded-Summary.db")), "Summary.db"), "mc")
    assert(b2 === None)
  }

  test("a sibling Statistics.db makes the source self-describing, with per-file bases") {
    val dir = Files.createTempDirectory("ma-stats")
    // Two generations with DIFFERENT timestamp delta bases — a global
    // minTimestamp option cannot decode both; per-file discovery can.
    val gens = Seq((1, 1000L), (2, 2000L))
    gens.foreach { case (gen, base) =>
      val e = new Enc
      (1 to 5).foreach { i =>
        e.partitionHeader(s"u$i")
        e.byte(0x20).vint(0).vint(0)
        val v = s"g$gen-$i".getBytes(UTF_8)
        e.byte(0x00).vint(i.toLong).vint(v.length.toLong).bytes(v)
        e.byte(0x00).vint(i.toLong).bytes(longBytes(gen.toLong))
        e.endOfPartition()
      }
      Files.write(dir.resolve(s"mc-$gen-big-Data.db"), e.result)
      Files.write(dir.resolve(s"mc-$gen-big-Statistics.db"),
        statsBytes(Marshal + "Murmur3Partitioner", Some(StatsHeader(
          base, 0L, Marshal + "UTF8Type", Nil, Nil,
          regulars = Seq(
            "click" -> (Marshal + "UTF8Type"),
            "nclicks" -> (Marshal + "LongType"))))))
    }
    // No columns / minTimestamp / partitioner options at all.
    val df = spark.read.format("graft.sources.sstable.MaSSTableSource")
      .option("path", dir.toString).load()
    val got = df.select(col("key"), col("col"), col("ts")).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    val expect = (for { (_, base) <- gens; i <- 1 to 5 } yield Seq(
      (s"u$i", "click", base + i), (s"u$i", "nclicks", base + i))).flatten.toSet
    assert(got === expect)
    // The KV entry point takes the same path with an empty spec.
    assert(graft.kv.Kv.cellsFromSSTables(spark, dir.toString, "").count() === 20)
  }

  test("resume discovers the ring order from Statistics.db when unconfigured") {
    val keys = (1 to 30).map(i => f"user-$i%03d")
    val ringOrder = keys.sortBy(k => (
      graft.functions.CassandraMurmur3.token(k.getBytes(UTF_8)), k))
    assert(ringOrder !== keys.sorted, "fixture must distinguish the orders")
    val e = new Enc
    val entries = Seq.newBuilder[(String, Long)]
    ringOrder.foreach { k =>
      entries += (k -> e.bos.size().toLong)
      e.partitionHeader(k)
      e.byte(0x20).vint(0).vint(0)
      e.byte(0x00).vint(1L).vint(1).bytes("v".getBytes(UTF_8))
      e.byte(0x04).vint(1L)
      e.endOfPartition()
    }
    val dir = Files.createTempDirectory("ma-stats-ring")
    Files.write(dir.resolve("mc-1-big-Data.db"), e.result)
    writeIndex(dir, "mc-1-big", entries.result())
    Files.write(dir.resolve("mc-1-big-Statistics.db"),
      statsBytes(Marshal + "Murmur3Partitioner", Some(StatsHeader(
        0L, 0L, Marshal + "UTF8Type", Nil, Nil,
        regulars = Seq(
          "click" -> (Marshal + "UTF8Type"),
          "nclicks" -> (Marshal + "LongType"))))))

    // Neither partitioner nor columns configured: both come from the
    // stats; the plan-time seek and the residual filter must walk the
    // discovered murmur3 ring order.
    val resume = ringOrder(15)
    val expect = ringOrder.drop(15).toSet
    val got = spark.read.format("graft.sources.sstable.MaSSTableSource")
      .option("path", dir.toString)
      .option("resumeKey", resume)
      .option("splitBytes", "300")
      .load().select(col("key")).collect().map(_.getString(0)).toSet
    assert(got === expect,
      s"stats-discovered resume must keep the ring suffix; " +
        s"missing=${expect -- got} extra=${got -- expect}")
  }

  // ---- generation merge (Kv.migrate's per-key merge kernel) ----------

  /** Ring-order compare under the table's partitioner — the order the
    * reference's resume seek walks (CassandraParser.cpp:198-207
    * assign_token + init_at_key): (token, key) for the hashing
    * partitioners, raw key memcmp for ByteOrdered/OrderPreserving.
    * The spec's own reference for the order, independent of the
    * source's [[graft.sources.sstable.RingOrder]] encoding. */
  private def ringCompare(partitioner: String)(a: Array[Byte], b: Array[Byte]): Int =
    partitioner match {
      case "byteOrdered" => MaSSTableSource.compareBytes(a, b)
      case "murmur3" =>
        val d = java.lang.Long.compare(
          graft.functions.CassandraMurmur3.token(a),
          graft.functions.CassandraMurmur3.token(b))
        if (d != 0) d else MaSSTableSource.compareBytes(a, b)
      case "random" =>
        val d = MaSSTableSource.compareBytes(
          graft.functions.CassandraRandomMd5.tokenBytes(a),
          graft.functions.CassandraRandomMd5.tokenBytes(b))
        if (d != 0) d else MaSSTableSource.compareBytes(a, b)
      case other => throw new IllegalArgumentException(
        s"unknown partitioner: $other (byteOrdered | murmur3 | random)")
    }

  private val PartitionerClass = Map(
    "murmur3" -> "Murmur3Partitioner", "random" -> "RandomPartitioner",
    "byteOrdered" -> "ByteOrderedPartitioner")

  private val MergeCols = Seq("click", "nclicks", "hits")

  /** Seeded multi-generation fixture over two dirs: "mc" and legacy
    * "ka" files, partitions in the partitioner's ring order, each with
    * Index.db and Statistics.db, most with Summary.db (the rest make
    * the planner sample Index.db), half LZ4-compressed. Partition
    * tombstones, whole-key ma markers, row deletions, ka range markers,
    * cell tombstones, TTLs, counter shards (column `hits`), and in
    * `clustered` mode clustering-identity rows; every timestamp is
    * distinct. Returns the dirs and the key pool. */
  private def mergeFixture(rng: scala.util.Random, partitioner: String,
      clustered: Boolean): (Seq[String], Seq[String]) = {
    val base = 1000L
    val used = scala.collection.mutable.HashSet.empty[Long]
    def nextTs(): Long = {
      var t = 0L
      while ({ t = base + 1 + rng.nextInt(1000000); !used.add(t) }) ()
      t
    }
    def value(c: String): Array[Byte] =
      if (c == "click") s"v${rng.nextInt(1000)}".getBytes(UTF_8)
      else longBytes(rng.nextInt(1000).toLong)
    val keys = (1 to 40).map(i => f"pk-$i%02d")
    val ring = ringCompare(partitioner) _
    val dirs = Seq(Files.createTempDirectory("merge-a"), Files.createTempDirectory("merge-b"))
    val nGens = 2 + rng.nextInt(3)
    (1 to nGens).foreach { gen =>
      val dir = dirs(if (gen == nGens) 1 else 0)
      val legacy = rng.nextInt(3) == 0
      val (prefix, version) = if (legacy) (s"ks-tbl-ka-$gen", "ka") else (s"mc-$gen-big", "mc")
      val picked = keys.filter(_ => rng.nextInt(10) < 6)
      val fileKeys = (if (picked.isEmpty) keys.take(1) else picked)
        .sortWith((a, b) => ring(a.getBytes(UTF_8), b.getBytes(UTF_8)) < 0)
      val ka = new KaEnc
      val e: Enc = if (legacy) ka else new Enc
      val index = fileKeys.map { k =>
        val offset = e.bos.size().toLong
        val partDel = if (rng.nextInt(10) == 0) nextTs() else MaFormat.NoDeletion
        val rowCks = if (clustered) Seq("a", "b").filter(_ => rng.nextBoolean()) else Seq("")
        if (legacy) {
          ka.partition(k, partDel)
          rowCks.foreach { ck =>
            def name(c: String): Array[Byte] =
              if (clustered) ka.composite(Seq(ck, c)) else c.getBytes(UTF_8)
            if (rng.nextInt(8) == 0) {
              if (clustered)
                ka.rangeTombstoneRaw(ka.composite(Seq(ck)), ka.composite(Seq(ck)), nextTs())
              else {
                val (lo, hi) = Seq(("a", "m"), ("h", "o"), ("c", "d"))(rng.nextInt(3))
                ka.rangeTombstone(lo, hi, nextTs())
              }
            }
            MergeCols.foreach { c =>
              val n = name(c)
              val counter = c == "hits"
              ka.short(n.length).bytes(n)
              rng.nextInt(10) match {
                case 0 => // cell tombstone (value: local deletion time)
                  ka.byte(0x01 | (if (counter) 0x04 else 0))
                  if (counter) ka.longlong(0L)
                  ka.longlong(nextTs()); ka.out.writeInt(4); ka.out.writeInt(0)
                case 1 if !counter => // expiring
                  val v = value(c)
                  ka.byte(0x02); ka.out.writeInt(10 + rng.nextInt(1000)); ka.out.writeInt(0)
                  ka.longlong(nextTs()); ka.out.writeInt(v.length); ka.bytes(v)
                case _ =>
                  val v = value(c)
                  ka.byte(if (counter) 0x04 else 0)
                  if (counter) ka.longlong(0L)
                  ka.longlong(nextTs()); ka.out.writeInt(v.length); ka.bytes(v)
              }
            }
          }
          ka.endRow()
        } else {
          e.partitionHeader(k, partDel)
          // Whole-key marker row (parity mode: a lone bound).
          if (!clustered && rng.nextInt(10) == 0) {
            e.byte(0x02).byte(1).short(0).vint(0).vint(0).longlong(nextTs())
            e.out.writeInt(0)
          }
          rowCks.foreach { ck =>
            val rowDel = rng.nextInt(10) == 0
            e.byte(0x20 | (if (rowDel) 0x10 else 0))
            if (clustered) clusteringBlock(e, Seq(Some((ck.getBytes(UTF_8), false))))
            e.vint(0).vint(0)
            if (rowDel) e.vint(nextTs() - base).vint(0)
            MergeCols.foreach { c =>
              val ts = nextTs() - base
              def v(): Unit = {
                val b = value(c)
                if (c == "nclicks") e.bytes(b) else e.vint(b.length.toLong).bytes(b)
              }
              rng.nextInt(10) match {
                case 0 => e.byte(0x01 | 0x04).vint(ts).vint(0)
                case 1 => e.byte(0x02).vint(ts).vint(0).vint(10L + rng.nextInt(1000)); v()
                case _ => e.byte(0x00).vint(ts); v()
              }
            }
          }
          e.endOfPartition()
        }
        k -> offset
      }
      if (rng.nextBoolean())
        writeCompressed(dir, prefix, e.result, "LZ4Compressor", chunkLen = 512,
          checksum = if (legacy) "adler32-compressed" else "crc32-compressed")
      else Files.write(dir.resolve(s"$prefix-Data.db"), e.result)
      val positions = writeIndex(dir, prefix, index, version)
      if (rng.nextInt(4) != 0)
        writeSummary(dir, prefix,
          index.map(_._1).zip(positions).zipWithIndex.collect { case (s, i) if i % 2 == 0 => s },
          version, Some((index.head._1, index.last._1)))
      Files.write(dir.resolve(s"$prefix-Statistics.db"),
        statsBytes(Marshal + PartitionerClass(partitioner),
          if (legacy) None
          else Some(StatsHeader(base, 0L, Marshal + "UTF8Type",
            clustering = if (clustered) Seq(Marshal + "UTF8Type") else Nil, statics = Nil,
            regulars = Seq(
              "click" -> (Marshal + "UTF8Type"),
              "nclicks" -> (Marshal + "LongType"),
              "hits" -> (Marshal + "CounterColumnType"))))))
    }
    (dirs.map(_.toString), keys)
  }

  private def canonMerged(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.select(col("key"), col("col"), unix_micros(col("ts")), col("seq"), hex(col("value")),
        col("ttl_s"), col("counter"), col("deleted"))
      .collect().map(_.toString).sorted.toSeq

  test("generation merge equals lww(applyMarkerTombstones(bag)) on seeded generations, both routes") {
    val rng = new scala.util.Random(20261017L)
    (1 to 12).foreach { trial =>
      val partitioner = Seq("murmur3", "random", "byteOrdered")(trial % 3)
      val clustered = trial % 4 == 0
      val counterSum = trial % 2 == 1
      val (dirs, keys) = mergeFixture(rng, partitioner, clustered)
      def token(k: String): String = partitioner match {
        case "murmur3" => graft.functions.CassandraMurmur3.token(k.getBytes(UTF_8)).toString
        case "random" => graft.functions.CassandraRandomMd5.tokenHex(k)
        case _ => k
      }
      val (k1, k2) = (keys(rng.nextInt(keys.size)), keys(rng.nextInt(keys.size)))
      val (resumeKey, tokenRange) = (trial / 3) % 3 match {
        case 0 => (None, None)
        case 1 => (Some(k1), None)
        case _ =>
          val ring = ringCompare(partitioner) _
          val Seq(lo, hi) = Seq(k1, k2).sortWith((a, b) => ring(a.getBytes(UTF_8), b.getBytes(UTF_8)) < 0)
          (None, Some((token(lo), token(hi))))
      }
      val what = s"trial $trial ($partitioner, clustered=$clustered, counterSum=$counterSum, " +
        s"resume=$resumeKey, tokens=$tokenRange)"

      // The declarative merge over the single-scan cell bag.
      val bag = dirs.map(graft.kv.Kv.cellsFromSSTables(spark, _, "", resumeKey,
          tokenRange = tokenRange, clusteringIdentity = clustered))
        .reduce(_ unionAll _)
        .transform(df => resumeKey.fold(df)(k => df.filter(col("key") >= k)))
      val marked = graft.kv.Kv.applyMarkerTombstones(bag)
      val expected = canonMerged(
        if (counterSum) graft.kv.Kv.mergeWithCounterSum(marked) else graft.kv.Kv.lww(marked))
      assert(expected.nonEmpty || tokenRange.isDefined, s"$what: empty fixture")

      // Merge slices: no exchange, same rows.
      assert(MaSSTableSource.mergeSlicesApply(spark, dirs), what)
      val merged = graft.kv.Kv.mergeSSTables(spark, dirs, "", resumeKey,
        tokenRange = tokenRange, clusteringIdentity = clustered, counterSum = counterSum)
      assert(canonMerged(merged) === expected, s"$what: merge slices")
      val plan = merged.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"$what: merge slices must not shuffle:\n$plan")
      if (resumeKey.isEmpty && tokenRange.isEmpty)
        assert(merged.rdd.getNumPartitions > 1, s"$what: expected several merge slices")

      // The fallback route: the same kernel behind Spark's own exchange.
      val raw = {
        val r = spark.read.format("graft.sources.sstable.MaSSTableSource")
          .option("clusteringIdentity", clustered.toString)
        val r2 = resumeKey.fold(r)(k => r.option("resumeKey", k))
        tokenRange.fold(r2) { case (lo, hi) => r2.option("tokenMin", lo).option("tokenMax", hi) }
          .load(dirs: _*)
          .select(org.apache.spark.sql.graftbridge.GenerationMergeApi.InputColumns.map(col): _*)
          .transform(df => resumeKey.fold(df)(k => df.filter(col("key") >= k)))
      }
      val fallback = org.apache.spark.sql.graftbridge.GenerationMergeApi
        .merge(raw, counterSum, inputGrouped = false)
      assert(canonMerged(fallback) === expected, s"$what: fallback route")
    }
  }

  test("a Data.db key out of ring order fails the merge with a named error") {
    // byteOrdered ring: the index lists a, b, c in order, but the
    // Data.db holds c before b (two partitions swapped). The summary
    // samples only "a", so one slice reads the whole file.
    def part(e: Enc, k: String): Unit = {
      e.partitionHeader(k)
      e.byte(0x20).vint(0).vint(0)
      e.byte(0x00).vint(1L).vint(1).bytes("v".getBytes(UTF_8))
      e.byte(0x00).vint(1L).bytes(longBytes(1L))
      e.endOfPartition()
    }
    val e = new Enc
    val offsets = Seq("a", "c", "b").map { k => val o = e.bos.size().toLong; part(e, k); o }
    val dir = Files.createTempDirectory("merge-swapped")
    Files.write(dir.resolve("mc-1-big-Data.db"), e.result)
    val idx = writeIndex(dir, "mc-1-big", Seq("a" -> offsets(0), "b" -> offsets(1), "c" -> offsets(2)))
    writeSummary(dir, "mc-1-big", Seq("a" -> idx.head))
    Files.write(dir.resolve("mc-1-big-Statistics.db"),
      statsBytes(Marshal + "ByteOrderedPartitioner", Some(StatsHeader(
        0L, 0L, Marshal + "UTF8Type", Nil, Nil,
        regulars = Seq("click" -> (Marshal + "UTF8Type"), "nclicks" -> (Marshal + "LongType"))))))
    assert(MaSSTableSource.mergeSlicesApply(spark, Seq(dir.toString)))
    def chain(t: Throwable): Seq[Throwable] = if (t == null) Nil else t +: chain(t.getCause)
    val ex = intercept[Exception] {
      graft.kv.Kv.mergeSSTables(spark, Seq(dir.toString), ColsSpec).collect()
    }
    val named = chain(ex).collectFirst {
      case r: graft.sources.sstable.RingOrderException => r.getMessage
    }.getOrElse(fail(s"expected a RingOrderException, got: ${chain(ex).map(_.toString)}"))
    assert(named.contains("mc-1-big-Data.db") && named.contains(s"offset ${offsets(2)}") &&
      named.contains("'b'") && named.contains("'c'"), named)

    // The planner's index pass checks the index itself the same way.
    writeIndex(dir, "mc-1-big", Seq("a" -> offsets(0), "c" -> offsets(1), "b" -> offsets(2)))
    val planEx = intercept[graft.sources.sstable.RingOrderException] {
      graft.kv.Kv.mergeSSTables(spark, Seq(dir.toString), ColsSpec).collect()
    }
    assert(planEx.getMessage.contains("mc-1-big-Index.db") &&
      planEx.getMessage.contains("'b'") && planEx.getMessage.contains("'c'"), planEx.getMessage)
  }

  test("the generation merge publishes its counters as SQL metrics during a migrate") {
    val (dirs, _) = mergeFixture(new scala.util.Random(7L), "murmur3", clustered = false)
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[
      org.apache.spark.sql.execution.SparkPlan]
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          ns: Long): Unit = plans.add(qe.executedPlan)
      override def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    val target = Files.createTempDirectory("merge-metrics").resolve("t").toString
    spark.listenerManager.register(listener)
    val stats = try graft.kv.Kv.migrate(spark, dirs, "", target).toOption.get
      finally spark.listenerManager.unregister(listener)
    // Listener events arrive asynchronously; the merge runs under the
    // migrate's one action, the write.
    object Plans extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {
      def merges: Seq[org.apache.spark.sql.graftbridge.GenerationMergeExec] =
        plans.toArray(Array.empty[org.apache.spark.sql.execution.SparkPlan]).toSeq
          .flatMap(p => collect(p) {
          case m: org.apache.spark.sql.graftbridge.GenerationMergeExec => m
        })
    }
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (Plans.merges.isEmpty && System.nanoTime() < deadline) Thread.sleep(50)
    val m = Plans.merges.headOption.getOrElse(fail("no GenerationMergeExec in the migrate's plans"))
      .metrics.map { case (k, v) => k -> v.value }
    val raw = spark.read.format("graft.sources.sstable.MaSSTableSource").load(dirs: _*)
    val winners = graft.kv.Kv.mergeSSTables(spark, dirs, "")
    assert(m("inputCells") === raw.filter(!col("marker")).count())
    assert(m("markers") === raw.filter(col("deletion_ts").isNotNull).count())
    assert(m("keys") === raw.select("key").distinct().count())
    assert(m("winners") === winners.count())
    assert(m("deletedWinners") === stats.deletedDropped)
    assert(m("suppressedCells") > 0, s"the fixture's tombstones suppress cells: $m")
    assert(stats.written + stats.expired + stats.skippedExisting + stats.deletedDropped ===
      m("winners"), s"$stats vs $m")
  }

  test("Kv.migrate's observed stats and target rows equal the declarative counts: every policy, target and route") {
    import graft.sinks.KeyedSink.{TtlPolicy, WriteStats}
    val (indexed, _) = mergeFixture(new scala.util.Random(20261018L), "murmur3", clustered = false)
    // The same files without Index.db/Summary.db: the hash-exchange route.
    val indexless = indexed.map { d =>
      val out = Files.createTempDirectory("parity-indexless")
      Files.list(Paths.get(d)).toArray.map(_.asInstanceOf[java.nio.file.Path])
        .filterNot(p => Seq("-Index.db", "-Summary.db").exists(p.getFileName.toString.endsWith))
        .foreach(p => Files.copy(p, out.resolve(p.getFileName)))
      out.toString
    }
    assert(MaSSTableSource.mergeSlicesApply(spark, indexed))
    assert(!MaSSTableSource.mergeSlicesApply(spark, indexless))

    // The declarative answer, computed from the merged winners alone.
    case class Winner(key: String, col: String, ts: Long, hex: String, ttlS: Option[Long],
        deleted: Boolean) {
      def expiry: Option[Long] = ttlS.map(ts + _ * 1000000L)
      def ttlUs: Long = ttlS.fold(0L)(_ * 1000000L)
      def row: String =
        org.apache.spark.sql.Row(key, col, ts, hex, expiry.map(Long.box).orNull, ttlUs).toString
    }
    val winners = graft.kv.Kv.mergeSSTables(spark, indexed, "")
      .select(col("key"), col("col"), unix_micros(col("ts")), hex(col("value")), col("ttl_s"),
        col("deleted"))
      .collect().toSeq.map(r => Winner(r.getString(0), r.getString(1), r.getLong(2),
        r.getString(3), Option(r.get(4)).map(_.asInstanceOf[Long]), r.getBoolean(5)))
    val nowUs = 400L * 1000000L
    val watermark = 500000L
    assert(winners.exists(_.deleted) && winners.exists(w => w.expiry.exists(_ <= nowUs)) &&
      winners.exists(_.ttlS.isEmpty) && winners.exists(_.ts <= watermark),
      "the fixture must exercise every counter")
    def expect(policy: Option[TtlPolicy], since: Option[Long],
        existing: Set[String]): (WriteStats, Seq[String]) = {
      val recs = winners.filter(w => !w.deleted && since.forall(w.ts > _))
      val firstExpiry = recs.groupBy(_.key).map { case (k, ws) => k -> ws.flatMap(_.expiry).minOption }
      def live(w: Winner): Boolean = policy.forall { p =>
        w.expiry.forall(e => e > p.nowUs && w.ttlUs >= p.minTtlUs) &&
          !(p.prohibitEternal && w.expiry.isEmpty) &&
          !(p.recordTtlFromFirst && firstExpiry(w.key).exists(_ <= p.nowUs))
      }
      val (liveRecs, expired) = recs.partition(live)
      val (skipped, written) = liveRecs.partition(w => existing(w.key))
      (WriteStats(incoming = recs.size, written = written.size,
        skippedExisting = skipped.size, expired = expired.size,
        deletedDropped = winners.count(_.deleted),
        skippedUnchanged = winners.count(w => !w.deleted && since.exists(w.ts <= _))),
        written.map(_.row))
    }

    // A filled target holds every third key, under rows of its own.
    val preKeys = winners.map(_.key).distinct.sorted.zipWithIndex
      .collect { case (k, i) if i % 3 == 0 => k }.toSet
    def preload(target: String): Unit =
      spark.createDataFrame(preKeys.toSeq.map(k => (k, "pre", 1L, 7L))).toDF("key", "col", "seq", "ttl_us")
        .select(col("key"), col("col"), timestamp_micros(col("seq")).as("ts"), col("seq"),
          lit(null).cast("binary").as("value"), lit(null).cast("long").as("expiry_us"), col("ttl_us"))
        .write.parquet(target)
    def rowsOf(target: String): Seq[String] =
      if (!Files.exists(Paths.get(target))) Nil
      else spark.read.parquet(target)
        .select(col("key"), col("col"), unix_micros(col("ts")), hex(col("value")),
          col("expiry_us"), col("ttl_us"))
        .collect().map(_.toString).sorted.toSeq

    val policies = Seq[(String, Option[TtlPolicy], Option[Long])](
      ("no policy", None, None),
      ("-L", Some(TtlPolicy(minTtlUs = 500L * 1000000L, nowUs = nowUs)), None),
      ("-x", Some(TtlPolicy(prohibitEternal = true, nowUs = nowUs)), None),
      ("-f", Some(TtlPolicy(recordTtlFromFirst = true, nowUs = nowUs)), None),
      // -W under -f: a key group's first expiry must skip its unchanged winners.
      ("-W -f", Some(TtlPolicy(recordTtlFromFirst = true, nowUs = nowUs)), Some(watermark)))
    for ((route, dirs) <- Seq("merge slices" -> indexed, "hash exchange" -> indexless);
         (name, policy, since) <- policies;
         filled <- Seq(false, true)) {
      val what = s"$route, $name, ${if (filled) "filled" else "empty"} target"
      val target = Files.createTempDirectory("parity").resolve("t").toString
      if (filled) preload(target)
      val before = rowsOf(target)
      val stats = graft.kv.Kv.migrate(spark, dirs, "", target, policy, sinceTsUs = since)
        .toOption.get
      val (want, written) = expect(policy, since, if (filled) preKeys else Set.empty)
      assert(stats === want, what)
      assert(rowsOf(target) === (before ++ written).sorted, what)
    }

    // Zero rows in (the resume key lies past every key): every observed
    // counter reads 0, not null.
    for (dirs <- Seq(indexed, indexless); filled <- Seq(false, true)) {
      val target = Files.createTempDirectory("parity-empty").resolve("t").toString
      if (filled) preload(target)
      val stats = graft.kv.Kv.migrate(spark, dirs, "", target,
        Some(TtlPolicy(recordTtlFromFirst = true, nowUs = nowUs)), resumeKey = Some("zz"),
        sinceTsUs = Some(watermark)).toOption.get
      assert(stats === WriteStats(0L, 0L, 0L, 0L), s"zero rows into a ${if (filled) "filled" else "new"} target")
    }
  }

  // ---- the shared ring order ----------------------------------------

  test("RingOrder sort keys and token bounds agree with the reference ring order, every partitioner") {
    import graft.sources.sstable.{RingBounds, RingOrder}
    val rng = new scala.util.Random(20261019L)
    // Short keys over a small alphabet: prefixes of each other and
    // duplicates are common.
    val base = Seq.fill(60)(Seq.fill(rng.nextInt(5))("ab-z"(rng.nextInt(4))).mkString)
    val keys = (base ++ base.take(10) ++ base.filter(_.nonEmpty).map(k => k.take(k.length - 1)))
      .map(_.getBytes(UTF_8))
    def hex(b: Array[Byte]): String = b.map(x => f"${x & 0xff}%02x").mkString
    for (partitioner <- Seq("murmur3", "random", "byteOrdered")) {
      val order = RingOrder(partitioner)
      assert(order.name === partitioner)
      val ring = ringCompare(partitioner) _
      for (a <- keys; b <- keys)
        assert(Integer.signum(MaSSTableSource.compareBytes(order.sortKey(a), order.sortKey(b))) ===
          Integer.signum(ring(a, b)), s"$partitioner: '${new String(a, UTF_8)}' vs '${new String(b, UTF_8)}'")
      // Each bound in the partitioner's notation, with the old token
      // comparison of a key against it.
      val bounds: Seq[(String, Array[Byte] => Int)] = partitioner match {
        case "murmur3" =>
          (Seq(Long.MinValue, Long.MaxValue, rng.nextLong()) ++
            keys.take(8).map(graft.functions.CassandraMurmur3.token)).map { t =>
            (if (rng.nextBoolean()) t.toString else s" $t ") ->
              ((k: Array[Byte]) => java.lang.Long.compare(graft.functions.CassandraMurmur3.token(k), t))
          }
        case "random" =>
          (Seq("0" * 32, "7" + "f" * 31, hex(Array.fill(16)(rng.nextInt(256).toByte))) ++
            keys.take(8).map(k => graft.functions.CassandraRandomMd5.tokenHex(new String(k, UTF_8))))
            .map(t => t -> ((k: Array[Byte]) =>
              hex(graft.functions.CassandraRandomMd5.tokenBytes(k)).compareTo(t)))
        case _ =>
          (keys.take(8).map(new String(_, UTF_8)) :+ "b").map(t => t -> ((k: Array[Byte]) =>
            MaSSTableSource.compareBytes(k, t.getBytes(UTF_8))))
      }
      for ((t, old) <- bounds; k <- keys) {
        val sk = order.sortKey(k)
        val what = s"$partitioner: key '${new String(k, UTF_8)}' vs bound '$t'"
        assert(Integer.signum(order.compareToken(sk, order.bound(t))) === Integer.signum(old(k)), what)
        if (t.nonEmpty) {
          assert(new RingBounds(order, None, Some(t), None).inStart(sk) === (old(k) >= 0), what)
          assert(new RingBounds(order, None, None, Some(t)).pastEnd(sk) === (old(k) > 0), what)
        }
      }
      // A resume key bounds by (token, key).
      for (r <- keys.filter(_.nonEmpty).take(10); k <- keys)
        assert(new RingBounds(order, Some(new String(r, UTF_8)), None, None)
          .inStart(order.sortKey(k)) === (ring(k, r) >= 0), partitioner)
    }
    val bad = intercept[IllegalArgumentException](RingOrder("random").bound("ABC"))
    assert(bad.getMessage.contains("32 lowercase hex chars"))
    assert(intercept[IllegalArgumentException](RingOrder("murmur4")).getMessage
      .contains("unknown partitioner: murmur4"))
  }

  test("describe's in_slice is true exactly for the files a token-sliced scan plans") {
    val rng = new scala.util.Random(20261020L)
    for (partitioner <- Seq("murmur3", "random", "byteOrdered")) {
      val ring = ringCompare(partitioner) _
      val keys = (1 to 40).map(i => f"pk-$i%02d")
        .sortWith((a, b) => ring(a.getBytes(UTF_8), b.getBytes(UTF_8)) < 0)
      def token(k: String): String = partitioner match {
        case "murmur3" => graft.functions.CassandraMurmur3.token(k.getBytes(UTF_8)).toString
        case "random" => graft.functions.CassandraRandomMd5.tokenHex(k)
        case _ => k
      }
      // Five files, each a contiguous ring run of the keys, so a file's
      // summary bounds overlap a slice exactly when it holds a key of it.
      val dir = Files.createTempDirectory(s"in-slice-$partitioner")
      val runs = (1 to 5).map { gen =>
        val from = rng.nextInt(keys.size)
        val run = keys.slice(from, from + 1 + rng.nextInt(10))
        val e = new Enc
        val entries = run.map { k =>
          val off = e.bos.size().toLong
          e.partitionHeader(k)
          e.byte(0x20).vint(0).vint(0)
          e.byte(0x00).vint(1L).vint(1).bytes("v".getBytes(UTF_8))
          e.byte(0x04).vint(1L)
          e.endOfPartition()
          k -> off
        }
        val prefix = s"mc-$gen-big"
        Files.write(dir.resolve(s"$prefix-Data.db"), e.result)
        writeIndex(dir, prefix, entries)
        writeSummary(dir, prefix, entries.take(1), bounds = Some((run.head, run.last)))
        Files.write(dir.resolve(s"$prefix-Statistics.db"),
          statsBytes(Marshal + PartitionerClass(partitioner), Some(StatsHeader(
            0L, 0L, Marshal + "UTF8Type", Nil, Nil,
            regulars = Seq("click" -> (Marshal + "UTF8Type"), "nclicks" -> (Marshal + "LongType"))))))
        s"$prefix-Data.db" -> run
      }.toMap
      (1 to 8).foreach { trial =>
        val Seq(a, b) = Seq(rng.nextInt(keys.size), rng.nextInt(keys.size)).sorted
        val lo = if (trial % 4 == 1) "" else token(keys(a))
        val hi = if (trial % 4 == 2) "" else token(keys(b))
        val inSlice = MaSSTableSource.describe(spark, dir.toString, Some((lo, hi)))
          .collect().map(r => r.getString(0) -> r.getAs[Boolean]("in_slice")).toMap
        val r = spark.read.format("graft.sources.sstable.MaSSTableSource")
          .option("path", dir.toString)
        val df = Seq("tokenMin" -> lo, "tokenMax" -> hi).filter(_._2.nonEmpty)
          .foldLeft(r) { case (rr, (k, v)) => rr.option(k, v) }.load()
        val planned = df.queryExecution.optimizedPlan.collect {
          case sr: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
            MaSSTableSource.scanPartitionFiles(sr.scan).get
        }.head.map(f => new java.io.File(f).getName).toSet
        val what = s"$partitioner trial $trial [$lo, $hi]"
        assert(inSlice.collect { case (f, true) => f }.toSet === planned, what)
        val inRange = keys.slice(if (lo.isEmpty) 0 else a, if (hi.isEmpty) keys.size else b + 1).toSet
        assert(planned === runs.collect { case (f, run) if run.exists(inRange) => f }.toSet, what)
        assert(df.select(col("key")).collect().map(_.getString(0)).toSet ===
          runs.values.flatten.toSet.intersect(inRange), what)
      }
    }
  }

  // ---- corrupt length prefixes ----------------------------------------

  private def failureMessages(read: => Any): Seq[String] = {
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    messages(intercept[Exception](read))
  }

  test("a negative value length in an ma Data.db is a named error with the file and partition offset") {
    val e = new Enc
    def partition(k: String, valueLength: Long): Unit = {
      e.partitionHeader(k)
      e.byte(0x20).vint(0).vint(0)
      e.byte(0x00).vint(1L).vint(valueLength).bytes("v".getBytes(UTF_8))
      e.byte(0x04).vint(1L)
      e.endOfPartition()
    }
    partition("a", 1)
    val offset = e.bos.size()
    // The value length of partition "b" with its 32-bit sign bit flipped.
    partition("b", 1L | 0x80000000L)
    val dir = Files.createTempDirectory("ma-bad-length")
    Files.write(dir.resolve("mc-1-big-Data.db"), e.result)
    val msgs = failureMessages(spark.read.format("graft.sources.sstable.MaSSTableSource")
      .option("path", dir.toString).option("columns", ColsSpec).load().collect())
    assert(msgs.exists(m => m.contains("mc-1-big-Data.db: corrupt length prefix 2147483649") &&
      m.contains(s"in the partition at offset $offset")), msgs.mkString(" | "))
    assert(!msgs.exists(_.contains("NegativeArraySize")), msgs.mkString(" | "))
  }

  test("a negative value length in a ka Data.db is a named error with the file and partition offset") {
    val e = new KaEnc
    e.partition("a")
    e.cell("click", 10L, "v".getBytes(UTF_8))
    e.endRow()
    val offset = e.bos.size()
    e.partition("b")
    // The cell's 32-bit value length with its sign bit flipped.
    e.string("click"); e.byte(0); e.longlong(20L)
    e.out.writeInt(1 | Int.MinValue); e.bytes("w".getBytes(UTF_8))
    e.endRow()
    val dir = Files.createTempDirectory("ka-bad-length")
    Files.write(dir.resolve("ks-tbl-ka-1-Data.db"), e.result)
    val msgs = failureMessages(spark.read.format("graft.sources.sstable.MaSSTableSource")
      .option("path", dir.toString).option("columns", ColsSpec).load().collect())
    assert(msgs.exists(m => m.contains("ks-tbl-ka-1-Data.db: corrupt length prefix -2147483647") &&
      m.contains(s"in the partition at offset $offset")), msgs.mkString(" | "))
    assert(!msgs.exists(_.contains("NegativeArraySize")), msgs.mkString(" | "))
  }

  /** Read `dir` through the source: the length prefix `n` of Data.db
    * `file`'s partition at `offset` is a named error, raised before the
    * read allocates or runs off the end of the stream. */
  private def assertPastEndLength(dir: java.nio.file.Path, file: String, n: Long,
      offset: Int, columns: String = ColsSpec): Unit = {
    val msgs = failureMessages(spark.read.format("graft.sources.sstable.MaSSTableSource")
      .option("path", dir.toString).option("columns", columns).load().collect())
    assert(msgs.exists(m => m.contains(s"$file: corrupt length prefix $n") &&
      m.contains(s"in the partition at offset $offset")), msgs.mkString(" | "))
    assert(!msgs.exists(m => m.contains("EOFException") || m.contains("OutOfMemory")),
      msgs.mkString(" | "))
  }

  test("an ma value length past the bytes left is a named error, not an allocation") {
    val e = new Enc
    def partition(k: String, valueLength: Long): Unit = {
      e.partitionHeader(k)
      e.byte(0x20).vint(0).vint(0)
      e.byte(0x00).vint(1L).vint(valueLength).bytes("v".getBytes(UTF_8))
      e.byte(0x04).vint(1L)
      e.endOfPartition()
    }
    partition("a", 1)
    val offset = e.bos.size()
    partition("b", 1L << 30)
    val dir = Files.createTempDirectory("ma-long-length")
    Files.write(dir.resolve("mc-1-big-Data.db"), e.result)
    assertPastEndLength(dir, "mc-1-big-Data.db", 1L << 30, offset)
  }

  test("an ma complex cell-path length past the bytes left is a named error, not an allocation") {
    val e = new Enc
    def partition(k: String, pathLength: Long): Unit = {
      e.partitionHeader(k)
      e.byte(0x20).vint(0).vint(0)
      e.byte(0x00).vint(1L).vint(1).bytes("v".getBytes(UTF_8))
      e.vint(1) // one tags sub-cell, its element in the path
      e.byte(0x04).vint(2L).vint(pathLength).bytes("red".getBytes(UTF_8))
      e.endOfPartition()
    }
    partition("a", 3)
    val offset = e.bos.size()
    partition("b", 1L << 30)
    val dir = Files.createTempDirectory("ma-long-path")
    Files.write(dir.resolve("mc-1-big-Data.db"), e.result)
    assertPastEndLength(dir, "mc-1-big-Data.db", 1L << 30, offset,
      columns = "click:text,tags:set<text>")
  }

  test("a ka value length past the bytes left is a named error, not an allocation") {
    val e = new KaEnc
    e.partition("a")
    e.cell("click", 10L, "v".getBytes(UTF_8))
    e.endRow()
    val offset = e.bos.size()
    e.partition("b")
    e.string("click"); e.byte(0); e.longlong(20L)
    e.out.writeInt(1 << 30); e.bytes("w".getBytes(UTF_8))
    e.endRow()
    val dir = Files.createTempDirectory("ka-long-length")
    Files.write(dir.resolve("ks-tbl-ka-1-Data.db"), e.result)
    assertPastEndLength(dir, "ks-tbl-ka-1-Data.db", 1L << 30, offset)
  }

  test("a corrupt LZ4 length prefix is a named error with the file, not a huge allocation") {
    val e = new Enc
    e.partitionHeader("k")
    e.byte(0x20).vint(0).vint(0)
    e.byte(0x00).vint(1).vint(1).bytes("v".getBytes(UTF_8))
    e.byte(0x04).vint(1)
    e.endOfPartition()
    val dir = Files.createTempDirectory("lz4-bad-length")
    writeCompressed(dir, "mc-1-big", e.result, "LZ4Compressor", chunkLen = 1024)
    val dataFile = dir.resolve("mc-1-big-Data.db")
    val bytes = Files.readAllBytes(dataFile)
    // One chunk: [4-byte LE length][LZ4 block][CRC32 of both]. Flip bit
    // 30 of the length, then re-sign the chunk so only the length check
    // can catch it.
    bytes(3) = (bytes(3) ^ 0x40).toByte
    val crc = new java.util.zip.CRC32
    crc.update(bytes, 0, bytes.length - 4)
    java.nio.ByteBuffer.wrap(bytes, bytes.length - 4, 4).putInt(crc.getValue.toInt)
    Files.write(dataFile, bytes)
    val flipped = e.result.length | (1 << 30)
    val msgs = failureMessages(spark.read.format("graft.sources.sstable.MaSSTableSource")
      .option("path", dir.toString).option("columns", ColsSpec).load().collect())
    assert(msgs.exists(_.contains(
      s"mc-1-big-Data.db: corrupt LZ4 length prefix $flipped in chunk 0 (chunk length 1024)")),
      msgs.mkString(" | "))
    assert(!msgs.exists(m => m.contains("OutOfMemory") || m.contains("checksum mismatch")),
      msgs.mkString(" | "))
  }

  test("a corrupt Statistics.db length prefix is a named error with the file and offset") {
    val bytes = statsBytes(Marshal + "Murmur3Partitioner", Some(StatsHeader(
      0L, 0L, Marshal + "UTF8Type", clustering = Nil, statics = Nil,
      regulars = Seq("click" -> (Marshal + "UTF8Type")))))
    // The key class's one-byte vint length, flipped into a 4-byte vint
    // far past the bytes left.
    val at = bytes.indexOfSlice((Marshal + "UTF8Type").getBytes(UTF_8)) - 1
    bytes(at) = (bytes(at) ^ 0xc0).toByte
    val dir = Files.createTempDirectory("stats-bad-length")
    Files.write(dir.resolve("mc-1-big-Statistics.db"), bytes)
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    val err = intercept[MaFormat.CorruptLengthException](
      MaSSTableSource.statsFor(dir.resolve("mc-1-big-Data.db").toString, fs))
    assert(err.getMessage.contains("mc-1-big-Statistics.db: corrupt length prefix") &&
      err.getMessage.contains(s"at offset $at"), err.getMessage)
  }
}
