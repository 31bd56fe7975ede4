package graft.sources.sstable

import java.io.{EOFException, InputStream}
import java.nio.{ByteBuffer, ByteOrder}

/** Byte-level decoder for the Cassandra "ma"+ SSTable Data.db payload —
  * the reference's actual ingest entry point (SSTable.cpp, NewSStable:
  * read_row :505, read_normal_row :572, read_column :622,
  * read_column_data :688; vint decode Buffer.cpp read_unsigned_vint).
  *
  * Scope (the engine's owned subset, see SURVEY §3): "ma"+ Data.db
  * streams, plain or chunk-compressed, plus the legacy
  * "ja"/"ka" cell framing ([[KaReader]]). Clustering columns and
  * static rows are handled as in the reference by default: clustering
  * VALUES are parsed and skipped (SSTable.cpp:489 — "not currently in
  * use"), clustering-bound range-tombstone markers are decoded, and
  * static rows read the static-column schema. The `clusteringIdentity`
  * reader option goes BEYOND the reference for real clustered tables:
  * clustering values become part of each cell's column identity and
  * row/range deletions bound to exactly their rows (see [[Reader]]).
  *
  * Complex (collection) columns — `list<t>` / `set<t>` / `map<k,v>` —
  * decode BEYOND the reference (which has no complex arm at all and
  * would desync on any table using them): each sub-cell surfaces as
  * its own cell named `column[path]` (the path printable-or-hex), and
  * a complex deletion becomes a column-scoped range-tombstone marker
  * over exactly that `column[...]` name range, so the KV merge
  * machinery applies it with the same bounded semantics as legacy ka
  * range tombstones.
  *
  * Everything the KV semantics need is decoded: partition deletion,
  * row deletion, cell tombstones, counter cells, expiring cells with
  * row-shared or per-cell TTL, row-shared or per-cell timestamps,
  * min-timestamp/min-TTL delta encoding, and the column-subset
  * bitmask.
  *
  * Every reader here decodes from one [[ByteCursor]]: the primitive
  * reads, the vints and the one length rule live there, and so does the
  * choice between raw and chunk-compressed bytes ([[CompressedBlocks]]
  * refills the cursor with decompressed, checksum-verified chunks). The
  * `InputStream` forms read a whole in-memory stream.
  */
object MaFormat {

  /** Column value formats (SSTableSchema.cpp get_column_size): text /
    * counter are vint-length-prefixed; the rest are fixed width. */
  sealed abstract class ColType(val fixedSize: Int) // -1 = vint-prefixed
  case object CText extends ColType(-1)
  case object CCounter extends ColType(-1)
  case object CInt32 extends ColType(4)
  case object CFloat extends ColType(4)
  case object CLong extends ColType(8)
  case object CTimestamp extends ColType(8)
  case object CBool extends ColType(1)
  case object CUuid extends ColType(16)
  /** A complex (multi-cell collection) column: every cell carries a
    * vint-length-prefixed CELL PATH before its value, values frame per
    * `valueType` (the collection's value type; sets write empty
    * values). `fixedSize` is never consulted — complex columns take a
    * dedicated decode arm. */
  final case class CComplex(valueType: ColType) extends ColType(-2)

  def colType(name: String): ColType = name.trim match {
    case "text" => CText
    case "counter" => CCounter
    case "int32" => CInt32
    case "float" => CFloat
    case "long" => CLong
    case "timestamp" => CTimestamp
    case "bool" => CBool
    case "uuid" => CUuid
    // Collections (flat element types only): the cell VALUE framing is
    // the element type for lists, the value type for maps, and empty
    // for sets (the element lives in the path) — SetType keeps its
    // element type as the (unused) value fallback.
    case s if s.startsWith("list<") && s.endsWith(">") =>
      CComplex(colType(s.substring(5, s.length - 1)))
    case s if s.startsWith("set<") && s.endsWith(">") =>
      CComplex(colType(s.substring(4, s.length - 1)))
    case s if s.startsWith("map<") && s.endsWith(">") =>
      val parts = s.substring(4, s.length - 1).split(",")
      require(parts.length == 2, s"map type needs <key,value>: $s")
      CComplex(colType(parts(1)))
    case other => throw new IllegalArgumentException(s"unknown column type: $other")
  }

  // Row flags (SSTable.hpp NewSStable::Flags)
  private val END_OF_PARTITION = 0x01
  private val IS_MARKER = 0x02
  private val HAS_TIMESTAMP = 0x04
  private val HAS_TTL = 0x08
  private val HAS_DELETION = 0x10
  private val HAS_ALL_COLUMNS = 0x20
  private val HAS_COMPLEX_DELETION = 0x40
  private val EXTENSION_FLAG = 0x80
  private val IS_STATIC = 0x01 // extended flags

  // Cell flags (SSTable.cpp NewSStable::read_column)
  private val IS_DELETED_MASK = 0x01
  private val IS_EXPIRING_MASK = 0x02
  private val HAS_EMPTY_VALUE_MASK = 0x04
  private val USE_ROW_TIMESTAMP_MASK = 0x08
  private val USE_ROW_TTL_MASK = 0x10

  /** The no-deletion sentinel (Cassandra DeletionTime.LIVE). */
  val NoDeletion: Long = Long.MinValue

  /** A length prefix no well-formed component holds (negative, or past
    * the bytes left in it — [[ByteCursor]]'s one length rule — or an LZ4
    * block length past its chunk), thrown before anything is allocated;
    * the source's reader rethrows a Data.db one [[inPartition]]. */
  final class CorruptLengthException(message: String, cause: Throwable = null)
      extends IllegalStateException(message, cause) {
    def inPartition(offset: Long): CorruptLengthException =
      new CorruptLengthException(s"$message in the partition at offset $offset", this)
  }

  /** The no-TTL sentinel inside the decoder (reference uses u64 max). */
  private val NoTtl: Long = -1L

  /** Separator terminating each rendered clustering value inside a
    * cell's column identity (`clusteringIdentity` mode). 0x1F (ASCII
    * unit separator) sorts BELOW every printable char and below '[',
    * so a rendered prefix is a contiguous STRING RANGE: exactly the
    * names `P <= name <= P + "\uffff"` carry clustering prefix P —
    * which is what lets row deletions and clustering-bound range
    * tombstones reuse the ka-range-tombstone merge machinery
    * ([[graft.kv.Kv.applyMarkerTombstones]]) unchanged. */
  val ClusteringSep: Char = '\u001f'
  /** Rendered stand-in for a NULL clustering value (0x00 cannot come
    * out of [[renderClusteringValue]], so it never collides). */
  val NullValue: String = "\u0000"

  /** Clustering-value rendering for cell identity: printable ASCII
    * reads as text, anything else as 0x-hex — the same deterministic
    * convention complex cell paths use (renderPath). INJECTIVE: a
    * printable value that itself starts with "0x" is hex-rendered
    * too, so a text rendering can never collide with the hex
    * rendering of different bytes (two distinct clustering values
    * must never merge to one cell identity — that is the data loss
    * this mode exists to prevent). */
  private[sstable] def renderClusteringValue(b: Array[Byte]): String =
    if (b.isEmpty) ""
    else if (b.forall(x => x >= 0x20 && x <= 0x7e) &&
             !(b.length >= 2 && b(0) == '0' && b(1) == 'x'))
      new String(b, "UTF-8")
    else "0x" + b.map(x => f"$x%02x").mkString

  /** Type-aware clustering-value rendering: injective like the
    * untyped form, and for the FIXED-WIDTH comparator types also
    * ORDER-PRESERVING — the rendered strings sort exactly as the
    * type's own comparator, so the open/close bound pair a multi-row
    * range deletion turns into ([[graft.kv.Kv.applyMarkerTombstones]]
    * applies it as a string `between`) covers precisely the
    * comparator range. Signed ints and timestamps render as
    * offset-binary fixed-width hex (sign bit flipped: memcmp order ==
    * signed order), floats via the IEEE total-order transform, bools
    * as their byte. Variable-width types (text, uuid, blobs) keep the
    * printable-or-hex scheme: order-correct across printable text
    * (the overwhelmingly common text-clustering regime); a
    * non-printable or literal-"0x" text value still renders
    * injectively, but its hex form can order differently from raw
    * printable neighbors — a residual only reachable by a range
    * delete whose bounds straddle such values, documented here and at
    * the ClusteringSep contract. */
  private[sstable] def renderClusteringValue(tpe: ColType, b: Array[Byte]): String =
    tpe match {
      case CInt32 if b.length == 4 =>
        "x" + f"${(ByteBuffer.wrap(b).getInt ^ 0x80000000).toLong & 0xffffffffL}%08x"
      case CLong | CTimestamp if b.length == 8 =>
        "x" + f"${ByteBuffer.wrap(b).getLong ^ Long.MinValue}%016x"
      case CFloat if b.length == 4 =>
        val bits = ByteBuffer.wrap(b).getInt
        val key = if (bits < 0) ~bits else bits ^ 0x80000000
        "x" + f"${key.toLong & 0xffffffffL}%08x"
      case CBool if b.length == 1 =>
        "x" + f"${b(0) & 0xff}%02x"
      case _ => renderClusteringValue(b)
    }

  /** Index.db entries (the seek source behind the reference's
    * `-s`/`-S` Summary/Index resume, Cassandra2Aerospike.cpp): a
    * sequence of (16-bit-length key, data position, promoted-index
    * length, promoted bytes) entries. The position/length FRAMING is
    * version-dependent (SSTable.cpp:76,83): unsigned vints for "ma"+,
    * an 8-byte longlong position and 4-byte int length before it.
    * Each position is a partition-start offset in the UNCOMPRESSED
    * Data.db stream — exactly the valid sub-file split points — and
    * the key lets a resume seek skip whole partitions at plan time.
    *
    * STREAMING: the iterator holds one entry at a time, so a planner
    * walking a multi-hundred-MB index (one entry per partition — a
    * 100 GB Data.db of 10 KB partitions carries ~10M entries) retains
    * only what it keeps, not the whole file. Combine with
    * [[readSummary]] to skip the index prefix without reading it. */
  def indexEntries(in: ByteCursor, version: String = "ma"): Iterator[(Array[Byte], Long)] = {
    val vintFramed = version >= "ma"
    new Iterator[(Array[Byte], Long)] {
      private var nextEntry: (Array[Byte], Long) = _
      private var eof = false
      private def advance(): Unit = {
        try {
          val key = in.bytes(in.u16Length())
          val pos = if (vintFramed) in.vint() else in.i64()
          in.skip(if (vintFramed) in.vintLength() else in.i32Length()) // promoted index
          nextEntry = (key, pos)
        } catch { case _: EOFException => eof = true; nextEntry = null }
      }
      override def hasNext: Boolean = {
        if (nextEntry == null && !eof) advance()
        nextEntry != null
      }
      override def next(): (Array[Byte], Long) = {
        if (!hasNext) throw new NoSuchElementException
        val e = nextEntry; nextEntry = null; e
      }
    }
  }

  /** Summary.db — the downsampled index the reference loads whole
    * ("Summary is designed to keep in memory", SSTable.cpp:121-180
    * find_partition_in_summary): header of BIG-endian minIndexInterval
    * (skipped), entry count, and toc byte size ("ka"+ adds 8 more
    * header bytes: samplingLevel + sizeAtFullSampling), then a toc
    * block whose offsets and index positions are NATIVE-endian
    * (little-endian on every machine Cassandra writes these on): the
    * first `size` int32s are entry offsets into the block; each entry
    * is the sampled key's bytes followed by its int64 Index.db
    * position. Every ~minIndexInterval-th partition is sampled, so the
    * summary is O(partitions/128) — the in-memory seek structure that
    * lets a planner jump into a huge Index.db instead of scanning it
    * from byte 0. */
  def readSummary(in: ByteCursor, version: String): Array[(Array[Byte], Long)] = {
    in.skip(4) // minIndexInterval
    val size = in.i32Length()
    val memSize = in.i64Length()
    if (version >= "ka") in.skip(8)
    require(memSize >= (4L * size), s"implausible Summary.db header: size=$size memSize=$memSize")
    val toc = in.bytes(memSize)
    val le = ByteBuffer.wrap(toc).order(ByteOrder.LITTLE_ENDIAN)
    Array.tabulate(size) { i =>
      val off = le.getInt(4 * i)
      val end = if (i + 1 < size) le.getInt(4 * (i + 1)) else memSize
      require(off >= 4 * size && end - off >= 8 && end <= memSize,
        s"corrupt Summary.db toc entry $i: [$off,$end)")
      (java.util.Arrays.copyOfRange(toc, off, end - 8), le.getLong(end - 8))
    }
  }

  /** One pass over a whole Summary.db: the sampled entries AND the
    * trailing (first, last) bound keys (each None-safe independently) —
    * for callers that want both without opening the file twice
    * (describe over thousands of SSTables on a high-latency
    * filesystem). The cursor is positioned right after the entry block
    * once [[readSummary]] returns, which is exactly where the bound
    * pair starts. */
  def readSummaryWithBounds(in: ByteCursor, version: String)
      : (Array[(Array[Byte], Long)], Option[(Array[Byte], Array[Byte])]) = {
    val entries = readSummary(in, version)
    val bounds = scala.util.Try((in.bytes(in.i32Length()), in.bytes(in.i32Length()))).toOption
    (entries, bounds)
  }

  /** Trailing (first, last) partition keys of a Summary.db — Cassandra
    * writes them right after the sampled-entry block (saveSummary:
    * `writeWithLength(first)`, `writeWithLength(last)` — 4-byte
    * big-endian length + raw key bytes each). They bound the FILE's
    * whole ring range, so a token-sliced scan can skip a
    * non-overlapping SSTable entirely at plan time, before its
    * Index.db is even opened. Minimal/truncated summaries (or our own
    * older fixtures) simply end after the entries — parsed by
    * [[readSummaryWithBounds]], and any failure there (EOF, implausible
    * header or key length, corrupt entry block) yields None: the caller
    * falls back to the per-partition index pass, which is always
    * safe. */
  def readSummaryBounds(in: ByteCursor, version: String)
      : Option[(Array[Byte], Array[Byte])] =
    scala.util.Try(readSummaryWithBounds(in, version)._2).toOption.flatten

  /** One decoded unfiltered: a cell, or a range-tombstone marker.
    * "ma" markers carry col = null; "ka" range tombstones carry the
    * range START column name in col and the range END name bytes in
    * value (the legacy format encodes the bound pair inline,
    * SSTable.cpp:427-433). Counter cells (COUNTER_MASK, legacy path)
    * set counter = true — they merge by SUM, not LWW
    * (graft.kv.Kv.counterMerge). */
  final case class MaCell(
      key: Array[Byte],
      col: String,          // null for ma markers
      ts: Long,
      value: Array[Byte],   // null when absent/empty
      deleted: Boolean,
      expiring: Boolean,
      ttlSec: Long,         // -1 when none
      deletionTs: Long,     // effective row/partition deletion; NoDeletion when live
      marker: Boolean,
      counter: Boolean = false)

  /** Streaming reader state over a Data.db [[ByteCursor]].
    *
    * `clustering` lists the clustering-key column TYPES in schema order
    * (names are never needed — SSTableSchema.cpp:131 parses only the
    * formats); `staticColumns` is the static-row column schema
    * (SSTableSchema.cpp:134), read in place of the regular columns when
    * a row carries the IS_STATIC extended flag.
    *
    * `clusteringIdentity` — reference PARITY is false: clustering
    * values are parsed and DISCARDED (SSTable.cpp:489 — "not currently
    * in use"), which collapses every row of a partition onto one
    * (key, col) identity; fine for the unclustered KV tables the
    * reference targets, silent data loss for real clustered tables.
    * With true, each cell's column identity is PREFIXED with its row's
    * rendered clustering values (`ck1␟ck2␟col`, [[ClusteringSep]]
    * terminating every value) so distinct rows survive LWW; row
    * deletions become markers bounded to exactly their row's name
    * range, and open/close clustering-bound range-tombstone markers
    * are PAIRED into one bounded marker per range — both ride the
    * existing [start, end] column-range tombstone semantics
    * (graft.kv.Kv.applyMarkerTombstones) because the prefix sorts
    * first in the rendered name.
    *
    * `stopAfter` is consulted at every PARTITION boundary (before the
    * next partition header is read): when it returns true the reader
    * ends the stream — the hook sub-file input splits use to stop at
    * their planned end offset without reading into the next split's
    * partitions. */
  final class Reader(
      in: ByteCursor,
      columns: Seq[(String, ColType)],
      minTimestamp: Long,
      minTtl: Long,
      clustering: Seq[ColType],
      staticColumns: Seq[(String, ColType)],
      stopAfter: () => Boolean,
      clusteringIdentity: Boolean) extends Iterator[MaCell] {

    /** Over a whole in-memory Data.db stream. */
    def this(in: InputStream, columns: Seq[(String, ColType)], minTimestamp: Long, minTtl: Long,
        clustering: Seq[ColType] = Nil, staticColumns: Seq[(String, ColType)] = Nil,
        stopAfter: () => Boolean = () => false, clusteringIdentity: Boolean = false) =
      this(ByteCursor(in.readAllBytes(), "Data.db"), columns, minTimestamp, minTtl,
        clustering, staticColumns, stopAfter, clusteringIdentity)

    private var atEndOfPartition = true
    private var eof = false
    private var key: Array[Byte] = _
    private var partitionDeletion: Long = NoDeletion
    private var pending: List[MaCell] = Nil
    /** The currently-open range-tombstone bound (rendered start name,
      * deletion ts) awaiting its close marker — clusteringIdentity
      * pairing state, always null in parity mode. */
    private var openMarker: (String, Long) = _

    // --- unfiltered decode (SSTable.cpp) -------------------------------

    /** decode_column_subset (SSTable.cpp:459), in Cassandra's
      * `Columns.Serializer` encoding: 0 means every column is present;
      * under 64 columns the value is a bitmap of the MISSING columns;
      * from 64 on it is the missing count, followed by the indices of
      * the present columns when fewer than half are present, else by
      * the indices of the missing ones. */
    private def readColumnSubset(n: Int): Array[Boolean] = {
      val encoded = in.vint()
      if (encoded == 0) Array.fill(n)(true)
      else if (n >= 64) {
        val missing = encoded.toInt
        val listsPresent = n - missing < n / 2
        val subset = Array.fill(n)(!listsPresent)
        val listed = if (listsPresent) n - missing else missing
        var i = 0
        while (i < listed) { subset(in.vint().toInt) = listsPresent; i += 1 }
        subset
      } else {
        val subset = new Array[Boolean](n)
        var e = encoded
        var i = 0
        while (i < n) { subset(i) = (e & 1L) == 0; e >>= 1; i += 1 }
        subset
      }
    }

    /** read_clustering_columns (SSTable.cpp:487-503): one vint header
      * per block of up to 32 clustering values, two bits per value
      * (0 = bytes follow, 1 = null, 2 = empty) — present values frame
      * per the clustering column's size rule (vint-prefixed for
      * text-like types, fixed otherwise). `n` is the value count: the
      * full clustering size for rows, the bound's prefix length for
      * markers. In parity mode values are parsed and DISCARDED, as in
      * the reference, and "" is returned; with `clusteringIdentity`
      * the rendered prefix (each value [[ClusteringSep]]-terminated)
      * is returned for the caller to prepend to cell names.
      * (Two deliberate deviations from the reference, both toward the
      * actual wire format: the reference masks with an int-typed
      * `3 << shift`, undefined past 16 columns per block — `3L` keeps
      * the intended 2-bit lanes for all 32; and its inner-loop limit is
      * the FULL schema clustering size even for a shorter marker bound,
      * which would mis-read bit-lanes the bound's header never encodes —
      * the writer emits header bits only for the bound's own `n`
      * values, so the limit here is `min(n, c + 32)`.) */
    private def readClusteringValues(n: Int): String = {
      require(n <= clustering.size,
        s"row carries $n clustering values but schema declares ${clustering.size} " +
          "(pass the clustering option)")
      val sb = if (clusteringIdentity && n > 0) new StringBuilder else null
      var c = 0
      while (c < n) {
        val header = in.vint()
        val limit = math.min(n, c + 32)
        var shift = 0
        while (c < limit) {
          val lane = (header >> shift) & 3L
          if (lane == 0L) {
            val size = clustering(c).fixedSize match {
              case -1 => in.vintLength()
              case s => s
            }
            if (sb != null)
              sb.append(renderClusteringValue(clustering(c), in.bytes(size)))
            else in.skip(size)
          } else if (lane == 1L && sb != null) sb.append(NullValue)
          // lane 2 (empty value) renders as the empty string.
          if (sb != null) sb.append(ClusteringSep)
          c += 1
          shift += 2
        }
      }
      if (sb == null) "" else sb.toString
    }

    /** read_marker (SSTable.cpp:540): clustering-bound markers. Parity
      * mode parses (and discards) the bound prefix and emits each
      * marker as a whole-key tombstone, exactly the reference. With
      * `clusteringIdentity`, open and close bounds are PAIRED into one
      * column-range tombstone per range: the marker kind byte is
      * Cassandra's ClusteringPrefix.Kind ordinal — 0 EXCL_END_BOUND,
      * 1 INCL_START_BOUND, 2 EXCL_END_INCL_START_BOUNDARY,
      * 5 INCL_END_EXCL_START_BOUNDARY, 6 INCL_END_BOUND,
      * 7 EXCL_START_BOUND (boundaries carry the close deletion first,
      * then the open deletion — the reference's skip(12) arm). A
      * bound's name range follows the prefix-order rule: inclusive-of-
      * the-prefix renders P, exclusive renders P + "\uffff" on the
      * start side / P alone on the end side, so `between(start, end)`
      * covers exactly the deleted rows' cell names. */
    private def readMarker(isStatic: Boolean): List[MaCell] = {
      val tpe = in.u8()
      val size = in.u16()
      val prefix = if (!isStatic) readClusteringValues(size) else ""
      in.vint() // row size
      in.vint() // previous unfiltered size
      val markedForDeletion = in.i64()
      in.skip(4) // local deletion time
      if (!clusteringIdentity) {
        // Boundary markers carry a second deletion time (unused).
        if (tpe == 2 || tpe == 5) in.skip(12)
        List(MaCell(key, null, markedForDeletion, null,
          deleted = true, expiring = false, ttlSec = NoTtl,
          deletionTs = markedForDeletion, marker = true))
      } else {
        val openDeletion =
          if (tpe == 2 || tpe == 5) { val d = in.i64(); in.skip(4); d }
          else markedForDeletion
        def open(startName: String, d: Long): Unit = {
          require(openMarker == null,
            s"unmatched open range-tombstone marker (kind $tpe follows an open bound)")
          openMarker = (startName, d)
        }
        def close(endName: String): List[MaCell] = {
          require(openMarker != null,
            s"range-tombstone close marker (kind $tpe) without an open bound")
          val (start, d) = openMarker
          openMarker = null
          List(MaCell(key, start, d, endName.getBytes("UTF-8"),
            deleted = true, expiring = false, ttlSec = NoTtl,
            deletionTs = d, marker = true))
        }
        tpe match {
          case 1 => open(prefix, markedForDeletion); Nil
          case 7 => open(prefix + "\uffff", markedForDeletion); Nil
          case 0 => close(prefix)
          case 6 => close(prefix + "\uffff")
          case 2 => val out = close(prefix); open(prefix, openDeletion); out
          case 5 =>
            val out = close(prefix + "\uffff")
            open(prefix + "\uffff", openDeletion); out
          case other =>
            throw new IllegalArgumentException(s"unexpected marker kind $other")
        }
      }
    }

    /** read_normal_row + the full cell loop (SSTable.cpp:572-705).
      * Static rows (IS_STATIC extended flag) carry no clustering block
      * and read the static-column schema (SSTable.cpp:575-577,605). */
    private def readNormalRow(flags: Int, isStatic: Boolean): List[MaCell] = {
      val prefix = if (!isStatic) readClusteringValues(clustering.size) else ""
      val cols = if (isStatic) staticColumns else columns
      in.vint() // row size
      in.vint() // previous unfiltered size

      var rowTs = 0L
      var rowTtl = NoTtl
      if ((flags & HAS_TIMESTAMP) != 0) {
        rowTs = in.vint() + minTimestamp
        if ((flags & HAS_TTL) != 0) {
          rowTtl = in.vint() + minTtl
          in.vint() // local deletion time
        }
      }
      var rowDeletion =
        if ((flags & HAS_DELETION) != 0) {
          val d = in.vint() + minTimestamp
          in.vint() // local deletion time
          d
        } else partitionDeletion

      val out = List.newBuilder[MaCell]
      // clusteringIdentity: a ROW deletion scopes to its row, not the
      // partition — emit it as a marker bounded to exactly this row's
      // rendered name range (every cell name of the row starts with
      // `prefix`; no other row's does), and let the row's own cells
      // carry only the partition-level deletion. In parity mode the
      // row deletion stays on the cells (whole-key semantics), as in
      // the reference.
      if (prefix.nonEmpty && (flags & HAS_DELETION) != 0) {
        if (rowDeletion != NoDeletion)
          out += MaCell(key, prefix, rowDeletion,
            (prefix + "\uffff").getBytes("UTF-8"),
            deleted = true, expiring = false, ttlSec = NoTtl,
            deletionTs = rowDeletion, marker = true)
        rowDeletion = partitionDeletion
      }

      val present =
        if ((flags & HAS_ALL_COLUMNS) != 0) Array.fill(cols.size)(true)
        else readColumnSubset(cols.size)

      var i = 0
      while (i < cols.size) {
        if (present(i)) {
          cols(i) match {
            case (name0, CComplex(valueTpe)) =>
              val name = named(prefix, name0)
              // Complex column (Cassandra UnfilteredSerializer
              // writeComplexColumn): optional complex deletion — a
              // column-scoped tombstone over every sub-cell of this
              // column, emitted as a range marker bounded to exactly
              // the `name[...]` rendered-name range so the merge
              // applies it with ka-range-tombstone semantics — then a
              // vint cell count, each cell carrying its path.
              if ((flags & HAS_COMPLEX_DELETION) != 0) {
                val d = in.vint() + minTimestamp
                in.vint() // local deletion time
                if (d != NoDeletion)
                  // Range [name + "[", name + "[\uffff"]: every rendered
                  // sub-cell name sorts inside it, every other column
                  // outside (string order diverges at the '[').
                  out += MaCell(key, name + "[", d,
                    (name + "[\uffff").getBytes("UTF-8"),
                    deleted = true, expiring = false, ttlSec = NoTtl,
                    deletionTs = d, marker = true)
              }
              val n = in.vintLength() // each cell takes at least a byte
              var j = 0
              while (j < n) {
                out += readCell(name, valueTpe, complexPath = true,
                  rowTs, rowTtl, rowDeletion)
                j += 1
              }
            case (name, tpe) =>
              out += readCell(named(prefix, name), tpe, complexPath = false,
                rowTs, rowTtl, rowDeletion)
          }
        }
        i += 1
      }
      out.result()
    }

    /** A cell's name under its row's clustering `prefix`. Without one
      * (every row in parity mode, static rows) it is the schema's own
      * String, which the SSTable source maps to its cached UTF-8 name. */
    private def named(prefix: String, name: String): String =
      if (prefix.isEmpty) name else prefix + name

    /** Cell-path rendering for complex sub-cell names: printable ASCII
      * paths read as text, anything else (or a `]` that would break
      * the `name[path]` shape) as 0x-hex — deterministic either way,
      * and INJECTIVE (a printable path starting with "0x" hex-renders,
      * see renderClusteringValue's rationale). */
    private def renderPath(p: Array[Byte]): String =
      if (p.nonEmpty && p.forall(b => b >= 0x20 && b <= 0x7e && b != ']') &&
          !(p.length >= 2 && p(0) == '0' && p(1) == 'x'))
        new String(p, "UTF-8")
      else "0x" + p.map(b => f"$b%02x").mkString

    /** One cell (read_column/read_column_data, SSTable.cpp:622-705;
      * Cassandra Cell.Serializer order): flags, timestamp, deletion/TTL
      * block, then — for complex columns only — the vint-length cell
      * path, then the value framed per the (value) type. */
    private def readCell(
        name: String, tpe: ColType, complexPath: Boolean,
        rowTs: Long, rowTtl: Long, rowDeletion: Long): MaCell = {
      val cellFlags = in.u8()
      val ts =
        if ((cellFlags & USE_ROW_TIMESTAMP_MASK) != 0) rowTs
        else in.vint() + minTimestamp
      val deleted = (cellFlags & IS_DELETED_MASK) != 0
      var expiring = (cellFlags & IS_EXPIRING_MASK) != 0
      var ttl = NoTtl
      if ((cellFlags & USE_ROW_TTL_MASK) != 0) {
        expiring = rowTtl != NoTtl
        ttl = rowTtl
      } else {
        if (expiring || deleted) in.vint() // local deletion time
        if (expiring) ttl = in.vint() + minTtl
      }
      val colName =
        if (complexPath) s"$name[${renderPath(in.bytes(in.vintLength()))}]"
        else name
      val value =
        if ((cellFlags & HAS_EMPTY_VALUE_MASK) == 0) {
          in.bytes(if (tpe.fixedSize >= 0) tpe.fixedSize else in.vintLength())
        } else null
      // Counter columns keep their flag so Kv routes them to
      // SUM-merge instead of LWW (SSTableSchema.cpp counter type;
      // the legacy path derives the same flag from COUNTER_MASK).
      MaCell(key, colName, ts, value, deleted, expiring, ttl,
        rowDeletion, marker = false, counter = tpe == CCounter)
    }

    /** read_row (SSTable.cpp:505): partition header / flags dispatch. */
    private def advance(): Unit = {
      while (pending.isEmpty && !eof) {
        if (atEndOfPartition) {
          if (stopAfter()) { eof = true; return }
          // Partition header: key, local deletion (skipped), deletion ts.
          // Partition key: 16-bit-length-prefixed (Buffer.cpp:read_string).
          val k = try in.bytes(in.u16Length()) catch { case _: EOFException => eof = true; return }
          key = k
          in.skip(4) // local_deletion
          partitionDeletion = in.i64()
          atEndOfPartition = false
          // A partition-level deletion is itself an unfiltered fact —
          // emit it as a marker row so it survives even when the
          // partition carries no cells (it must still suppress older
          // generations' cells in the merge).
          if (partitionDeletion != NoDeletion) {
            pending = List(MaCell(key, null, partitionDeletion, null,
              deleted = true, expiring = false, ttlSec = NoTtl,
              deletionTs = partitionDeletion, marker = true))
            return
          }
        }
        val flags = try in.u8() catch { case _: EOFException => eof = true; return }
        if ((flags & END_OF_PARTITION) != 0) {
          require(openMarker == null,
            "partition ended with an unclosed range-tombstone bound")
          atEndOfPartition = true
        } else {
          val extended = if ((flags & EXTENSION_FLAG) != 0) in.u8() else 0
          val isStatic = (extended & IS_STATIC) != 0
          if (isStatic) require(staticColumns.nonEmpty,
            "static row but no staticColumns schema (pass the staticColumns option)")
          pending =
            if ((flags & IS_MARKER) != 0) readMarker(isStatic)
            else readNormalRow(flags, isStatic)
        }
      }
    }

    override def hasNext: Boolean = {
      if (pending.isEmpty && !eof) advance()
      pending.nonEmpty
    }

    override def next(): MaCell = {
      if (!hasNext) throw new NoSuchElementException
      val c = pending.head
      pending = pending.tail
      c
    }
  }

  /** Legacy "ja"/"ka" format reader (OldSStable, SSTable.cpp:337-457):
    * partitions are key + deletion header followed by named cells until
    * an EMPTY column name; cell values are 4-byte-length-prefixed; cell
    * flags distinguish live / deleted / expiring (4-byte TTL +
    * expiration) / counter / range-tombstone cells; composite column
    * names carry length-prefixed path elements that unwrap to their
    * final element. Pre-"ja" column-count framing (ancient) is not
    * supported. Emits the same MaCell shape as the "ma" reader.
    * `stopAfter` — see [[Reader]].
    * `clusteringIdentity` mirrors [[Reader]]'s option for legacy
    * composite names: a composite cell name renders ALL its path
    * elements ([[ClusteringSep]]-terminated) before the final column
    * name instead of unwrapping to the last element alone, so
    * clustered legacy rows keep distinct (key, col) identities; a
    * composite range-tombstone bound renders as the same prefix with
    * the end extended to cover every prefixed name (bound
    * end-of-component inclusivity is approximated as
    * prefix-inclusive). */
  final class KaReader(
      in: ByteCursor,
      stopAfter: () => Boolean,
      clusteringIdentity: Boolean,
      version: String) extends Iterator[MaCell] {

    /** Over a whole in-memory Data.db stream. */
    def this(in: InputStream, stopAfter: () => Boolean = () => false,
        clusteringIdentity: Boolean = false, version: String = "ja") =
      this(ByteCursor(in.readAllBytes(), "Data.db"), stopAfter, clusteringIdentity, version)

    private val DELETION_MASK = 0x01
    private val EXPIRATION_MASK = 0x02
    private val COUNTER_MASK = 0x04
    private val RANGE_TOMBSTONE_MASK = 0x10

    // Pre-"ja" row layout (read_row, SSTable.cpp:344-360): the key is
    // followed by an on-disk row SIZE (4 bytes before version "d"
    // — the reference's VERSION_D is the normalized "da" — 8 after),
    // and rows carry an explicit COLUMN COUNT after the deletion info
    // instead of "ja"+'s empty-name terminator. Cell framing itself is
    // identical, so everything below the row header is shared.
    private val preJa = version < "ja"
    private val rowSizeBytes = if (!preJa) 0 else if (version < "da") 4 else 8
    private var remainingColumns = 0

    private var eof = false
    private var inPartition = false
    private var key: Array[Byte] = _
    private var partitionDeletion: Long = NoDeletion
    private var nextCell: MaCell = _

    private def readString(): Array[Byte] = in.bytes(in.u16Length())

    /** All elements of a well-formed composite name (the same exact-
      * termination rule [[unwrapName]] applies), or null when the
      * bytes do not parse as a composite. */
    private def compositeElements(name: Array[Byte]): List[Array[Byte]] = {
      var off = 0
      val out = List.newBuilder[Array[Byte]]
      var n = 0
      while (off < name.length) {
        if (name.length - off < 3) return null
        val len = ((name(off) & 0xff) << 8) | (name(off + 1) & 0xff)
        if (name.length - off < len + 3) return null
        out += java.util.Arrays.copyOfRange(name, off + 2, off + 2 + len)
        off += len + 3
        n += 1
      }
      if (n == 0) null else out.result()
    }

    /** clusteringIdentity cell-name rendering: composite names keep
      * every path element ([[ClusteringSep]]-terminated clustering
      * values, then the final element as the column name); plain
      * names pass through. */
    private def renderName(name: Array[Byte]): String =
      compositeElements(name) match {
        case null => new String(unwrapName(name), "UTF-8")
        case els =>
          val sb = new StringBuilder
          els.init.foreach { e =>
            sb.append(renderClusteringValue(e)); sb.append(ClusteringSep)
          }
          sb.append(new String(els.last, "UTF-8"))
          sb.toString
      }

    /** The end-of-component byte of a composite's LAST element: the
      * legacy inclusivity encoding (+1 = the bound sorts AFTER all
      * names carrying this prefix, -1 = BEFORE, 0 = middle/neutral). */
    private def lastEoc(name: Array[Byte]): Int = {
      var off = 0
      var eoc = 0
      while (off < name.length) {
        val len = ((name(off) & 0xff) << 8) | (name(off + 1) & 0xff)
        eoc = name(off + 2 + len).toInt
        off += len + 3
      }
      eoc
    }

    /** clusteringIdentity range-tombstone bound rendering: a composite
      * bound is a clustering prefix whose last element's EOC byte
      * carries INCLUSIVITY (the legacy encoding of `ck > 5` vs
      * `ck >= 5`). Inclusive bounds cover every prefixed name (start =
      * P, end = P + "\uffff"); exclusive bounds flip to the other side
      * of the prefix's name range — an exclusive start (EOC +1) sorts
      * after every prefixed name (P + "\uffff"), an exclusive end
      * (EOC -1) sorts before every prefixed name, rendered as
      * P-minus-separator + "\u001e\uffff" rather than bare P so the
      * legacy CQL row-marker cell (clustering values + EMPTY column
      * name, which renders as exactly P) is not swallowed by the
      * inclusive [start, end] merge compare; rendered values never
      * contain chars below 0x20, so no real name sorts inside the
      * gap this leaves. A plain bound names an exact column, kept
      * exact. */
    private def renderBound(bound: Array[Byte], isEnd: Boolean): String =
      compositeElements(bound) match {
        case null => new String(bound, "UTF-8")
        case els =>
          val p = els.map(e => renderClusteringValue(e) + ClusteringSep).mkString
          val eoc = lastEoc(bound)
          if (isEnd) {
            if (eoc < 0) p.dropRight(1) + "\u001e\uffff"
            else p + "\uffff"
          } else {
            if (eoc > 0) p + "\uffff" else p
          }
      }

    /** Composite-path unwrap (SSTable.cpp:401-422): take the final
      * length-prefixed element of a compound/clustering name. */
    private def unwrapName(name: Array[Byte]): Array[Byte] = {
      var advanced = 0
      var bufferLen = name.length
      while (bufferLen >= 2) {
        val len = ((name(advanced) & 0xff) << 8) | (name(advanced + 1) & 0xff)
        if (bufferLen > len + 3) {
          advanced += len + 3
          bufferLen -= len + 3
        } else {
          if (bufferLen == len + 3)
            return java.util.Arrays.copyOfRange(name, advanced + 2, advanced + 2 + len)
          return name
        }
      }
      name
    }

    private def advance(): Unit = {
      nextCell = null
      while (nextCell == null && !eof) {
        if (!inPartition) {
          if (stopAfter()) { eof = true; return }
          val k = try readString() catch { case _: EOFException => eof = true; return }
          key = k
          try {
            in.skip(rowSizeBytes + 4) // row size, local_deletion
            partitionDeletion = in.i64()
            if (preJa) remainingColumns = in.i32()
          } catch { case _: EOFException => eof = true; return }
          inPartition = true
          // Emit the partition deletion as a marker row (see Reader).
          if (partitionDeletion != NoDeletion) {
            nextCell = MaCell(key, null, partitionDeletion, null,
              deleted = true, expiring = false, ttlSec = NoTtl,
              deletionTs = partitionDeletion, marker = true)
            return
          }
        } else if (preJa && remainingColumns <= 0) {
          inPartition = false // count exhausted: next partition header
        } else {
          val name = try readString() catch { case _: EOFException => eof = true; return }
          if (preJa) remainingColumns -= 1
          if (!preJa && name.isEmpty) {
            inPartition = false // empty name terminates the row
          } else {
            val colName =
              if (clusteringIdentity) renderName(name)
              else new String(unwrapName(name), "UTF-8")
            val flags = in.u8()
            if ((flags & RANGE_TOMBSTONE_MASK) != 0) {
              val rangeEnd = readString()
              in.skip(4) // local_deletion
              val ts = in.i64()
              val (start, end) =
                if (clusteringIdentity)
                  (renderBound(name, isEnd = false),
                    renderBound(rangeEnd, isEnd = true).getBytes("UTF-8"))
                else (colName, rangeEnd)
              nextCell = MaCell(key, start, ts, end,
                deleted = true, expiring = false, ttlSec = NoTtl,
                deletionTs = ts, marker = true)
            } else {
              var counter = false
              var expiring = false
              var ttl = NoTtl
              if ((flags & COUNTER_MASK) != 0) {
                in.skip(8) // counter timestamp-of-last-delete (unused)
                counter = true
              } else if ((flags & EXPIRATION_MASK) != 0) {
                ttl = in.i32().toLong
                in.skip(4) // expiration time (derivable from ts + ttl)
                expiring = true
              }
              val ts = in.i64()
              val value = in.bytes(in.i32Length())
              nextCell = MaCell(key, colName, ts, value,
                deleted = (flags & DELETION_MASK) != 0, expiring = expiring,
                ttlSec = ttl, deletionTs = partitionDeletion, marker = false,
                counter = counter)
            }
          }
        }
      }
    }

    override def hasNext: Boolean = {
      if (nextCell == null && !eof) advance()
      nextCell != null
    }

    override def next(): MaCell = {
      if (!hasNext) throw new NoSuchElementException
      val c = nextCell
      nextCell = null
      c
    }
  }
}
