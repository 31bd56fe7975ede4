package graft.sources.sstable

import java.nio.charset.StandardCharsets.UTF_8

/** Statistics.db reader — the reference's metadata discovery
  * (SSTable.cpp:275 read_metadata; SSTableSchema.cpp:121 parse): the
  * "ka"+ table of contents maps component type → offset;
  * VALIDATION(0) carries the partitioner class name (16-bit-length
  * string) and HEADER(3) the "ma" serialization header — vint
  * minTimestamp / minLocalDeletionTime / minTTL delta bases, then the
  * key type, clustering types, static columns, and regular columns as
  * vint-length marshal class names. "ja" files predate the TOC: two
  * histograms, fixed stats, then the partitioner string
  * (SSTable.cpp:313-318). With a sibling Statistics.db the Data.db
  * source is fully self-describing: no columns / clustering /
  * staticColumns / partitioner options needed,
  * exactly like the reference CLI. Beyond the reference's "ma"
  * ceiling, the 3.x m-family successors (mb..me — TOC layout
  * unchanged; their deltas live in the skipped StatsMetadata
  * component) and the 4.x n-family ("na"/"nb", checksummed TOC — see
  * [[readToc]]) parse too, because the Data.db row format itself is
  * stable from 3.0 through 4.x.
  */
object StatsFile {

  /** `columns` is None when the file carries no serialization header
    * (ka/ja: the legacy cell framing is self-describing, only the
    * partitioner matters); Some(Nil) is a real zero-regular-column
    * header. */
  final case class TableMeta(
      minTimestamp: Long,
      minTtl: Long,
      clustering: Seq[MaFormat.ColType],
      staticColumns: Seq[(String, MaFormat.ColType)],
      columns: Option[Seq[(String, MaFormat.ColType)]],
      partitioner: Option[String])

  private val ClassPrefix = "org.apache.cassandra.db.marshal."

  /** Marshal class → value format (SSTableSchema.cpp:23
    * read_column_format + :78 get_column_size). Unknown classes —
    * including any name without the marshal prefix, as in the
    * reference — read vint-length-prefixed (COLUMN_UNKNOWN ≡ CText
    * framing). */
  private def colTypeOf(className: String): MaFormat.ColType =
    if (!className.startsWith(ClassPrefix)) MaFormat.CText
    else className.stripPrefix(ClassPrefix) match {
      case "UTF8Type" | "AsciiType" => MaFormat.CText
      case "CounterColumnType" => MaFormat.CCounter
      case "LongType" => MaFormat.CLong
      case "Int32Type" => MaFormat.CInt32
      case "BoolType" | "BooleanType" => MaFormat.CBool
      case "FloatType" => MaFormat.CFloat
      case "TimestampType" => MaFormat.CTimestamp
      case "UUIDType" | "TimeUUIDType" | "LexicalUUIDType" => MaFormat.CUuid
      // Multi-cell collections: the cell VALUE framing is the element
      // type for lists, the value type for maps, empty for sets.
      // (FrozenType(...) deliberately falls through to CText — frozen
      // collections serialize as one vint-length blob cell.)
      case s if s.startsWith("ListType(") && s.endsWith(")") =>
        MaFormat.CComplex(colTypeOf(s.substring("ListType(".length, s.length - 1)))
      case s if s.startsWith("SetType(") && s.endsWith(")") =>
        MaFormat.CComplex(colTypeOf(s.substring("SetType(".length, s.length - 1)))
      case s if s.startsWith("MapType(") && s.endsWith(")") =>
        val parts = s.substring("MapType(".length, s.length - 1).split(",")
        MaFormat.CComplex(colTypeOf(parts.last.trim))
      case _ => MaFormat.CText
    }

  /** Partitioner class → the source's `partitioner` option value
    * (Partitioners.cpp partitioner_from_name). */
  private def partitionerName(className: String): Option[String] =
    if (className.endsWith("Murmur3Partitioner")) Some("murmur3")
    else if (className.endsWith("RandomPartitioner")) Some("random")
    else if (className.endsWith("ByteOrderedPartitioner") ||
             className.endsWith("OrderPreservingPartitioner")) Some("byteOrdered")
    else None

  /** Parse per the file's format version ([[MaSSTableSource.versionOf]]
    * of the sibling Data.db): "ka"+ is the component TOC; "ja" is the
    * fixed pre-TOC layout. Anything older is RandomPartitioner with no
    * readable schema (reference read_metadata's final arm). */
  def read(in: ByteCursor, version: String): TableMeta =
    if (version >= "ka") readToc(in, version)
    else if (version >= "ja") readJa(in)
    else TableMeta(0L, 0L, Nil, Nil, None, Some("random"))

  /** Beyond the reference's "ma" ceiling: 4.x "na"/"nb" files checksum
    * this component (Cassandra 4.0 MetadataSerializer, FBUtilities
    * .updateChecksumInt big-endian int bytes). ONE CRC32 accumulates
    * over the count int and every (type, offset) int of the TOC, and
    * its running value is written twice — after the count and after the
    * last TOC pair; each component's bytes then carry their own CRC32
    * right behind them. Offsets stay absolute, so component parsing is
    * version-identical; we validate both TOC checksums and fail loudly
    * on mismatch rather than misparse a shifted table. */
  private def readToc(in: ByteCursor, version: String): TableMeta = {
    val checked = version >= "na"
    val crc = new java.util.zip.CRC32
    def readIntChecked(): Int = {
      val v = in.i32()
      if (checked) {
        crc.update((v >>> 24) & 0xff); crc.update((v >>> 16) & 0xff)
        crc.update((v >>> 8) & 0xff); crc.update(v & 0xff)
      }
      v
    }
    def validateCrc(what: String): Unit = if (checked) {
      val stored = in.i32()
      if (stored != crc.getValue.toInt) throw new IllegalArgumentException(
        s"Statistics.db $what checksum mismatch: " +
          f"stored 0x$stored%08x != computed 0x${crc.getValue.toInt}%08x")
    }
    val nComponents = readIntChecked()
    validateCrc("component-count")
    var validationOff = -1
    var headerOff = -1
    (0 until nComponents).foreach { _ =>
      val tpe = readIntChecked()
      val off = readIntChecked()
      if (tpe == 0) validationOff = off // META_DATA_VALIDATION
      else if (tpe == 3) headerOff = off // META_DATA_HEADER
    }
    validateCrc("toc")

    val partitioner =
      if (validationOff < 0) None
      else {
        in.seek(validationOff)
        partitionerName(new String(in.bytes(in.u16Length()), UTF_8))
      }

    // ka files have no serialization header (the legacy framing is
    // self-describing); only ma+ carries one.
    if (headerOff < 0 || headerOff >= in.length)
      return TableMeta(0L, 0L, Nil, Nil, None, partitioner)

    in.seek(headerOff)
    // String lengths and entry counts both take the cursor's length
    // rule: every string and entry takes at least one byte.
    def vstr(): String = new String(in.bytes(in.vintLength()), UTF_8)
    def readColumns(): Seq[(String, MaFormat.ColType)] =
      Seq.fill(in.vintLength())((vstr(), colTypeOf(vstr())))

    val minTimestamp = in.vint()
    in.vint() // minLocalDeletionTime (unused, as in the reference)
    val minTtl = in.vint()
    vstr() // key type — keys are raw bytes here, the class is not needed
    val clustering = Seq.fill(in.vintLength())(colTypeOf(vstr()))
    val staticColumns = readColumns()
    val columns = readColumns()
    TableMeta(minTimestamp, minTtl, clustering, staticColumns, Some(columns),
      partitioner)
  }

  /** "ja" layout (SSTable.cpp:313-318): two histograms (int32 count,
    * count × 2 × int64 each), 5 int64 + 2 int32 of fixed stats, then
    * the partitioner class name. */
  private def readJa(in: ByteCursor): TableMeta = {
    in.skip(16L * in.i32Length())
    in.skip(16L * in.i32Length())
    in.skip(5 * 8 + 2 * 4)
    TableMeta(0L, 0L, Nil, Nil, None, partitionerName(new String(in.bytes(in.u16Length()), UTF_8)))
  }
}
