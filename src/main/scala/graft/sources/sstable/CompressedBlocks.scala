package graft.sources.sstable

import java.io.EOFException
import java.nio.charset.StandardCharsets.UTF_8
import java.util.zip.{Adler32, CRC32, Checksum, Inflater}

import org.apache.hadoop.fs.{FileSystem, Path}

/** Compressed-block layer under the Data.db [[ByteCursor]] — the
  * reference's CompressedBuffer (Buffer.cpp:378 CompressionInfo.db
  * parse, :296 chunked read, :243 per-codec block decode, :274
  * checksum verify) as the cursor's chunk refill, so [[MaFormat.Reader]]
  * runs unchanged on compressed SSTables and every position it sees is
  * one of the uncompressed stream.
  *
  * CompressionInfo.db layout: short-length compressor classname,
  * int param count + (string, string) params, int chunk length,
  * long uncompressed length, int chunk count, long chunk offsets into
  * Data.db. Each Data.db chunk is the compressed payload followed by a
  * 4-byte big-endian checksum; LZ4 chunks additionally lead with a
  * 4-byte LITTLE-endian uncompressed block length (the reference reads
  * it through a native uint32_t pointer).
  */
object CompressedBlocks {

  sealed trait Codec
  case object Lz4 extends Codec
  case object Snappy extends Codec
  case object Deflate extends Codec

  final case class CompressionInfo(
      codec: Codec,
      chunkLen: Int,
      uncompressedLen: Long,
      offsets: Array[Long])

  /** Parse a CompressionInfo.db (Buffer.cpp:391-420). */
  def readCompressionInfo(in: ByteCursor): CompressionInfo = {
    val codec = new String(in.bytes(in.u16Length()), UTF_8) match {
      case "LZ4Compressor" => Lz4
      case "SnappyCompressor" => Snappy
      case "DeflateCompressor" => Deflate
      case other => throw new IllegalArgumentException(s"unknown compressor: $other")
    }
    val paramCount = in.i32Length()
    (0 until paramCount).foreach { _ =>
      in.skip(in.u16Length()) // param name
      in.skip(in.u16Length()) // param value
    }
    val chunkLen = in.i32()
    require(chunkLen > 0, s"${in.name}: chunk length $chunkLen")
    val uncompressedLen = in.i64()
    val offsets = Array.fill(in.i32Length())(in.i64())
    CompressionInfo(codec, chunkLen, uncompressedLen, offsets)
  }

  /** The CompressionInfo.db beside Data.db `file`, when it is compressed. */
  def infoFor(fs: FileSystem, file: String): Option[CompressionInfo] = {
    val p = new Path(file.stripSuffix("Data.db") + "CompressionInfo.db")
    if (fs.exists(p)) Some(ByteCursor.read(fs, p)(readCompressionInfo)) else None
  }

  /** The chunk refill of a compressed Data.db cursor: `load(at)`
    * decompresses the chunk holding uncompressed position `at`, seeking
    * the file to that chunk's offset unless it is the next one, and
    * verifies its 4-byte checksum. The checksum REGIME is
    * version-dependent (SSTable.cpp:102-104, Buffer.cpp:346-364):
    * "jb"-and-later checksum the COMPRESSED bytes (before
    * decompression) — Adler32 for jb..la, CRC32 for "ma"+ — while
    * pre-"jb" tables checksum the UNCOMPRESSED bytes with CRC32.
    * `fileLen` is the compressed file's total length (read_bytes'
    * end_of_read for the last chunk); `name` labels errors. */
  private[sstable] final class Chunks(fs: FileSystem, path: Path, info: CompressionInfo,
      fileLen: Long, version: String, verify: Boolean, name: String) extends ByteCursor.Source {
    private val data = fs.open(path)
    private val checksumCompressed = version >= "jb"
    private val sum: Checksum = if (version >= "ma" || version < "jb") new CRC32 else new Adler32
    private var compressed = Array.emptyByteArray
    private var next = -1 // the chunk the file is positioned at
    private lazy val lz4 = net.jpountz.lz4.LZ4Factory.fastestInstance().fastDecompressor()
    private lazy val inflater = new Inflater()
    window = new Array[Byte](info.chunkLen)

    private def verifyChecksum(idx: Int, bytes: Array[Byte], n: Int, stored: Int): Unit = {
      sum.reset()
      sum.update(bytes, 0, n)
      val got = sum.getValue.toInt
      require(got == stored,
        f"chunk $idx checksum mismatch: stored 0x$stored%08x computed 0x$got%08x")
    }

    /** Decompress `size` bytes of chunk `idx` into the window; returns
      * how many bytes it holds (at least `expected` when intact). */
    private def decompress(idx: Int, size: Int, expected: Int): Int =
      info.codec match {
        case Lz4 =>
          // Leading 4-byte little-endian uncompressed length, at most
          // one chunk: a corrupt prefix fails here, before allocating.
          val c = compressed
          val n = (c(0) & 0xff) | ((c(1) & 0xff) << 8) | ((c(2) & 0xff) << 16) | ((c(3) & 0xff) << 24)
          if (n < 0 || n > info.chunkLen)
            throw new MaFormat.CorruptLengthException(
              s"$name: corrupt LZ4 length prefix $n in chunk $idx (chunk length ${info.chunkLen})")
          lz4.decompress(c, 4, window, 0, n)
          n
        case Snappy =>
          val n = org.xerial.snappy.Snappy.uncompressedLength(compressed, 0, size)
          if (n > window.length) window = new Array[Byte](n)
          org.xerial.snappy.Snappy.uncompress(compressed, 0, size, window, 0)
        case Deflate =>
          inflater.reset()
          inflater.setInput(compressed, 0, size)
          var off = 0
          while (off < expected && !inflater.finished() && !inflater.needsInput())
            off += inflater.inflate(window, off, expected - off)
          off
      }

    def load(at: Long): Long = {
      val idx = (at / info.chunkLen).toInt
      if (idx >= info.offsets.length) throw new EOFException(s"$name: no chunk $idx")
      val start = info.offsets(idx)
      if (idx != next) data.seek(start)
      val end = if (idx + 1 < info.offsets.length) info.offsets(idx + 1) else fileLen
      val size = (end - start - 4).toInt // trailing checksum
      if (compressed.length < size) compressed = new Array[Byte](size)
      data.readFully(compressed, 0, size)
      val stored = data.readInt()
      next = idx + 1
      if (verify && checksumCompressed) verifyChecksum(idx, compressed, size, stored)
      val chunkStart = idx.toLong * info.chunkLen
      val expected = math.min(info.chunkLen.toLong, info.uncompressedLen - chunkStart).toInt
      val n = decompress(idx, size, expected)
      require(n >= expected, s"chunk $idx decompressed to $n, expected >= $expected")
      // The final chunk may be padded to chunkLen by some writers; only
      // the bytes inside uncompressed_len are real.
      limit = expected
      // Pre-"jb" regime: the stored checksum covers the UNCOMPRESSED
      // (real-length) chunk bytes (Buffer.cpp:356-364).
      if (verify && !checksumCompressed) verifyChecksum(idx, window, expected, stored)
      chunkStart
    }

    override def close(): Unit = {
      if (info.codec == Deflate) inflater.end()
      data.close()
    }
  }
}
