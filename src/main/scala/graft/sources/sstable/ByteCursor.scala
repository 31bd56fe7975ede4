package graft.sources.sstable

import java.io.{Closeable, EOFException}

import org.apache.hadoop.fs.{FileSystem, Path}

/** The one byte reader under every SSTable component — the reference's
  * Buffer (Buffer.cpp: buffered reads, read_unsigned_vint, and
  * CompressedBuffer's refill). A cursor owns a window of a component's
  * bytes and its absolute position in the component. Reads decode
  * big-endian straight out of the window, which refills from its
  * [[ByteCursor.Source]] only when it runs dry: raw reads of an
  * uncompressed file, or the CompressionInfo.db chunks of a compressed
  * Data.db ([[CompressedBlocks.Chunks]]). A Data.db cursor's positions are
  * those of the UNCOMPRESSED stream, so partition offsets and split ends
  * read the same whatever the file's compression.
  *
  * One length rule: every length prefix a component reader decodes goes
  * through [[checked]]. A prefix that is negative, or larger than the
  * bytes left in the component (for Data.db, in the uncompressed stream),
  * is a [[MaFormat.CorruptLengthException]] naming the component and the
  * prefix's offset, thrown before anything is allocated.
  */
final class ByteCursor private (val name: String, val length: Long, source: ByteCursor.Source)
    extends Closeable {
  private var window: Array[Byte] = Array.emptyByteArray
  private var base = 0L // absolute position of window(0)
  private var pos = 0 // next byte to read in the window
  private var limit = 0 // end of the window's valid bytes

  def position: Long = base + pos
  def remaining: Long = length - position

  /** Move to absolute position `at`: inside the window this only moves
    * the index, elsewhere the next read refills there — so a chunked
    * source decodes no chunk a skip jumps over whole. */
  def seek(at: Long): Unit =
    if (at >= base && at - base <= limit) pos = (at - base).toInt
    else { base = at; pos = 0; limit = 0 }

  private def refill(): Unit = {
    val at = position
    if (at >= length) throw new EOFException(s"$name: end of data at offset $at")
    base = source.load(at)
    window = source.window
    limit = source.limit
    pos = (at - base).toInt
  }

  def u8(): Int = {
    if (pos >= limit) refill()
    pos += 1
    window(pos - 1) & 0xff
  }
  def u16(): Int = (u8() << 8) | u8()
  def i32(): Int = (u16() << 16) | u16()
  def i64(): Long = (i32().toLong << 32) | (i32() & 0xffffffffL)

  /** Cassandra unsigned vint (Buffer.cpp read_unsigned_vint): the count
    * of leading one bits in the first byte is the count of continuation
    * bytes; remaining first-byte bits are the high bits of the
    * big-endian value. */
  def vint(): Long = {
    val first = u8()
    if (first < 0x80) return first.toLong
    var extraBytes = 0
    while (extraBytes < 8 && (first & (0x80 >> extraBytes)) != 0) extraBytes += 1
    var v: Long = (first & (0xff >> extraBytes)).toLong
    var i = 0
    while (i < extraBytes) { v = (v << 8) | u8(); i += 1 }
    v
  }

  /** The length rule: the prefix `n` read at `at` must be non-negative
    * and fit in the bytes left (and in one array). */
  private def checked(at: Long, n: Long): Int = {
    if (n < 0 || n > math.min(remaining, Int.MaxValue.toLong))
      throw new MaFormat.CorruptLengthException(
        s"$name: corrupt length prefix $n at offset $at, $remaining bytes left")
    n.toInt
  }
  def vintLength(): Int = checked(position, vint())
  def u16Length(): Int = checked(position, u16())
  def i32Length(): Int = checked(position, i32())
  def i64Length(): Int = checked(position, i64())

  def readFully(dst: Array[Byte], off: Int, n: Int): Unit = {
    var done = 0
    while (done < n) {
      if (pos >= limit) refill()
      val k = math.min(n - done, limit - pos)
      System.arraycopy(window, pos, dst, off + done, k)
      pos += k
      done += k
    }
  }

  def bytes(n: Int): Array[Byte] = { val b = new Array[Byte](n); readFully(b, 0, n); b }

  def skip(n: Long): Unit =
    if (n > remaining) throw new EOFException(s"$name: skip of $n bytes past the end at offset $position")
    else seek(position + n)

  override def close(): Unit = source.close()
}

object ByteCursor {
  /** Where a cursor's window comes from: `load(at)` fills `window` up to
    * `limit` with bytes that hold absolute position `at` (inside the
    * component) and returns the position of `window(0)`. */
  private[sstable] abstract class Source extends Closeable {
    var window: Array[Byte] = Array.emptyByteArray
    var limit = 0
    def load(at: Long): Long
    override def close(): Unit = ()
  }

  /** Raw reads of an uncompressed file, up to 64 KiB at a time. */
  private final class FileSource(fs: FileSystem, path: Path, length: Long) extends Source {
    private val in = fs.open(path)
    private var streamAt = 0L
    window = new Array[Byte](math.max(1L, math.min(length, 1L << 16)).toInt)
    def load(at: Long): Long = {
      if (at != streamAt) in.seek(at)
      limit = math.min(window.length.toLong, length - at).toInt
      in.readFully(window, 0, limit)
      streamAt = at + limit
      at
    }
    override def close(): Unit = in.close()
  }

  /** The whole of an in-memory component; `name` labels its errors. */
  def apply(bytes: Array[Byte], name: String): ByteCursor =
    new ByteCursor(name, bytes.length,
      new Source { window = bytes; limit = bytes.length; def load(at: Long) = 0L })

  /** `read` over the uncompressed component file at `path`, closed after. */
  def read[A](fs: FileSystem, path: Path)(read: ByteCursor => A): A = {
    val length = fs.getFileStatus(path).getLen
    val c = new ByteCursor(path.toString, length, new FileSource(fs, path, length))
    try read(c) finally c.close()
  }

  /** A Data.db from uncompressed position `start`. With a sibling
    * CompressionInfo.db (the Cassandra default) the window refills from
    * its chunks, starting at the chunk that holds `start` (the
    * chunk-granular seek the CompressionInfo offsets exist for), and
    * `verify` checks each chunk's checksum; without one it refills by
    * raw reads. */
  def data(fs: FileSystem, file: String, start: Long, verify: Boolean): ByteCursor = {
    val path = new Path(file)
    val fileLen = fs.getFileStatus(path).getLen
    val c = CompressedBlocks.infoFor(fs, file) match {
      case Some(info) =>
        new ByteCursor(file, info.uncompressedLen, new CompressedBlocks.Chunks(fs, path,
          info, fileLen, MaSSTableSource.versionOf(path.getName), verify, file))
      case None => new ByteCursor(file, fileLen, new FileSource(fs, path, fileLen))
    }
    c.seek(start)
    c
  }
}
