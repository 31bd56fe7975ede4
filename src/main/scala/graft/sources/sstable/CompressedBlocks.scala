package graft.sources.sstable

import java.io.{DataInputStream, EOFException, InputStream}
import java.util.zip.{Adler32, CRC32, Inflater}

/** Compressed-block layer under the "ma" Data.db decoder — the
  * reference's CompressedBuffer (Buffer.cpp:378 CompressionInfo.db
  * parse, :296 chunked read, :243 per-codec block decode, :274
  * checksum verify) as a plain sequential InputStream, so
  * [[MaFormat.Reader]] runs unchanged on compressed SSTables.
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

  /** Parse a CompressionInfo.db stream (Buffer.cpp:391-420). */
  def readCompressionInfo(in: InputStream): CompressionInfo = {
    val din = new DataInputStream(in)
    val classBytes = new Array[Byte](din.readUnsignedShort())
    din.readFully(classBytes)
    val codec = new String(classBytes, "UTF-8") match {
      case "LZ4Compressor" => Lz4
      case "SnappyCompressor" => Snappy
      case "DeflateCompressor" => Deflate
      case other => throw new IllegalArgumentException(s"unknown compressor: $other")
    }
    val paramCount = din.readInt()
    (0 until paramCount).foreach { _ =>
      din.skipBytes(din.readUnsignedShort()) // param name
      din.skipBytes(din.readUnsignedShort()) // param value
    }
    val chunkLen = din.readInt()
    val uncompressedLen = din.readLong()
    val offsets = Array.fill(din.readInt())(din.readLong())
    CompressionInfo(codec, chunkLen, uncompressedLen, offsets)
  }

  /** Sequential read of a chunked-compressed Data.db: decompress chunk
    * by chunk, verifying the 4-byte checksum. The checksum REGIME is
    * version-dependent (SSTable.cpp:102-104, Buffer.cpp:346-364):
    * "jb"-and-later checksum the COMPRESSED bytes (before
    * decompression) — Adler32 for jb..la, CRC32 for "ma"+ — while
    * pre-"jb" tables checksum the UNCOMPRESSED bytes with CRC32.
    * `dataLen` is the compressed file's total length (read_bytes'
    * end_of_read for the last chunk).
    *
    * `startChunk` supports mid-file starts for sub-file input splits:
    * the CALLER seeks the underlying data stream to
    * `info.offsets(startChunk)` first, and this stream then produces
    * uncompressed bytes from offset `startChunk * chunkLen` — the
    * chunk-granular seek the CompressionInfo offsets exist for.
    */
  final class ChunkedInputStream(
      data: InputStream,
      info: CompressionInfo,
      dataLen: Long,
      useCrc32: Boolean = true,
      checksumCompressed: Boolean = true,
      startChunk: Int = 0,
      verify: Boolean = true) extends InputStream {

    private val din = new DataInputStream(data)
    private var chunkIdx = startChunk
    private var produced = startChunk.toLong * info.chunkLen
    private var buf: Array[Byte] = Array.emptyByteArray
    private var bufPos = 0

    private val lz4 = net.jpountz.lz4.LZ4Factory.fastestInstance().fastDecompressor()

    private def verifyChecksum(bytes: Array[Byte], stored: Int): Unit = {
      val sum = if (useCrc32) new CRC32() else new Adler32()
      sum.update(bytes, 0, bytes.length)
      val got = sum.getValue.toInt
      require(got == stored,
        f"chunk $chunkIdx checksum mismatch: stored 0x$stored%08x computed 0x$got%08x")
    }

    private def decompress(compressed: Array[Byte], outLen: Int): Array[Byte] =
      info.codec match {
        case Lz4 =>
          // Leading 4-byte little-endian uncompressed length, at most
          // one chunk: a corrupt prefix fails here, before allocating.
          val n = (compressed(0) & 0xff) | ((compressed(1) & 0xff) << 8) |
            ((compressed(2) & 0xff) << 16) | ((compressed(3) & 0xff) << 24)
          if (n < 0 || n > info.chunkLen)
            throw new MaFormat.CorruptLengthException(
              s"corrupt LZ4 length prefix $n in chunk $chunkIdx (chunk length ${info.chunkLen})")
          val out = new Array[Byte](n)
          lz4.decompress(compressed, 4, out, 0, n)
          out
        case Snappy =>
          org.xerial.snappy.Snappy.uncompress(compressed)
        case Deflate =>
          val inf = new Inflater()
          inf.setInput(compressed)
          val out = new Array[Byte](outLen)
          var off = 0
          while (off < outLen && !inf.finished()) off += inf.inflate(out, off, outLen - off)
          inf.end()
          out
      }

    private def loadNextChunk(): Boolean = {
      if (chunkIdx >= info.offsets.length || produced >= info.uncompressedLen) return false
      val start = info.offsets(chunkIdx)
      val end = if (chunkIdx + 1 < info.offsets.length) info.offsets(chunkIdx + 1) else dataLen
      val compressedSize = (end - start - 4).toInt // trailing checksum
      val compressed = new Array[Byte](compressedSize)
      din.readFully(compressed)
      val storedChecksum = din.readInt()
      if (verify && checksumCompressed) verifyChecksum(compressed, storedChecksum)
      val expectedOut = math.min(info.chunkLen.toLong,
        info.uncompressedLen - produced).toInt
      buf = decompress(compressed, expectedOut)
      require(buf.length >= expectedOut,
        s"chunk $chunkIdx decompressed to ${buf.length}, expected >= $expectedOut")
      // The final chunk may be padded to chunkLen by some writers; only
      // the bytes inside uncompressed_len are real.
      if (buf.length > expectedOut) buf = buf.take(expectedOut)
      // Pre-"jb" regime: the stored checksum covers the UNCOMPRESSED
      // (real-length) chunk bytes (Buffer.cpp:356-364).
      if (verify && !checksumCompressed) verifyChecksum(buf, storedChecksum)
      bufPos = 0
      chunkIdx += 1
      true
    }

    override def read(): Int = {
      if (produced >= info.uncompressedLen) return -1
      if (bufPos >= buf.length && !loadNextChunk()) return -1
      val b = buf(bufPos) & 0xff
      bufPos += 1
      produced += 1
      b
    }

    override def read(out: Array[Byte], off: Int, len: Int): Int = {
      if (produced >= info.uncompressedLen) return -1
      if (bufPos >= buf.length && !loadNextChunk()) return -1
      val n = math.min(len, buf.length - bufPos)
      System.arraycopy(buf, bufPos, out, off, n)
      bufPos += n
      produced += n
      n
    }
  }
}
