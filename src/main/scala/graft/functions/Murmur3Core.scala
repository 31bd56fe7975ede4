package graft.functions

/** The one MurmurHash3 x64_128 body. Two variants call it:
  * [[CassandraMurmur3]] (Cassandra's sign-extended tail + MIN_VALUE pin)
  * and [[Sketches.murmur128]] (standard zero-extended tail). The
  * deliberate difference between them is only how [[hash128]] extends
  * the tail bytes (`tailMask`) and what the caller does with h1.
  */
private[functions] object Murmur3Core {
  final val C1 = 0x87c37b91114253d5L
  final val C2 = 0x4cf5ad432745937fL

  @inline def rotl64(v: Long, n: Int): Long = (v << n) | (v >>> (64 - n))

  @inline def fmix(kIn: Long): Long = {
    var k = kIn
    k ^= k >>> 33; k *= 0xff51afd7ed558ccdL
    k ^= k >>> 33; k *= 0xc4ceb9fe1a85ec53L
    k ^= k >>> 33
    k
  }

  /** Little-endian 64-bit block at byte offset `bo`. */
  @inline def getblock(key: Array[Byte], bo: Int): Long =
    ((key(bo + 0) & 0xffL)) |
      ((key(bo + 1) & 0xffL) << 8) |
      ((key(bo + 2) & 0xffL) << 16) |
      ((key(bo + 3) & 0xffL) << 24) |
      ((key(bo + 4) & 0xffL) << 32) |
      ((key(bo + 5) & 0xffL) << 40) |
      ((key(bo + 6) & 0xffL) << 48) |
      ((key(bo + 7) & 0xffL) << 56)

  /** MurmurHash3 x64_128 of `key`: returns h1 and, when `out` is not
    * null, writes (h1, h2) into it — so neither caller allocates. Each
    * tail byte enters as `byte & tailMask`: 0xff zero-extends (the
    * standard hash), -1 keeps Java's sign extension (Cassandra's). */
  def hash128(key: Array[Byte], tailMask: Long, out: Array[Long]): Long = {
    val length = key.length
    val nblocks = length / 16
    var h1 = 0L
    var h2 = 0L
    var i = 0
    while (i < nblocks) {
      var k1 = getblock(key, i * 16)
      var k2 = getblock(key, i * 16 + 8)
      k1 *= C1; k1 = rotl64(k1, 31); k1 *= C2; h1 ^= k1
      h1 = rotl64(h1, 27); h1 += h2; h1 = h1 * 5 + 0x52dce729L
      k2 *= C2; k2 = rotl64(k2, 33); k2 *= C1; h2 ^= k2
      h2 = rotl64(h2, 31); h2 += h1; h2 = h2 * 5 + 0x38495ab5L
      i += 1
    }
    // Tail: bytes 8..14 feed k2, bytes 0..7 feed k1, each shifted to its
    // little-endian lane.
    val o = nblocks * 16
    val tail = length & 15
    var k1 = 0L
    var k2 = 0L
    var j = tail
    while (j > 8) { j -= 1; k2 ^= (key(o + j) & tailMask) << (8 * (j - 8)) }
    if (tail > 8) { k2 *= C2; k2 = rotl64(k2, 33); k2 *= C1; h2 ^= k2 }
    while (j > 0) { j -= 1; k1 ^= (key(o + j) & tailMask) << (8 * j) }
    if (tail > 0) { k1 *= C1; k1 = rotl64(k1, 31); k1 *= C2; h1 ^= k1 }

    h1 ^= length.toLong; h2 ^= length.toLong
    h1 += h2; h2 += h1
    h1 = fmix(h1); h2 = fmix(h2)
    h1 += h2; h2 += h1
    if (out != null) { out(0) = h1; out(1) = h2 }
    h1
  }
}
