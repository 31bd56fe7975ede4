package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Sketch primitives for the dedup / similarity operators (SURVEY §2.4,
  * §2.5), as codegen'd Catalyst expressions.
  *
  * These are the per-row hot loops of the 100 TB path (every document /
  * vector passes through them exactly once before the band-key shuffle),
  * so each is a native expression whose generated code is a single
  * static call on unboxed Spark internal types (UTF8String, ArrayData) —
  * no UDF boxing, no Row conversion, stays inside whole-stage codegen.
  */
object Sketches {

  // -- static kernels (called from generated code) ------------------------

  import Murmur3Core.fmix

  /** Standard MurmurHash3 x64_128 (zero-extended tail — these sketches
    * don't need Cassandra's quirks; see [[CassandraMurmur3]] for those).
    * Writes (h1, h2) into `out` to keep per-shingle loops allocation-free.
    * Used as the base for Kirsch-Mitzenmacher double hashing:
    * hash_i = h1 + i*h2, so each shingle is hashed once regardless of k. */
  def murmur128(key: Array[Byte], out: Array[Long]): Unit =
    Murmur3Core.hash128(key, 0xffL, out)

  /** MinHash signature: k minima over the shingle set. */
  def minhash(shingles: ArrayData, k: Int): ArrayData = {
    val mins = Array.fill(k)(Long.MaxValue)
    val tmp = new Array[Long](2)
    val n = shingles.numElements()
    var i = 0
    while (i < n) {
      if (!shingles.isNullAt(i)) {
        murmur128(shingles.getUTF8String(i).getBytes, tmp)
        val h1 = tmp(0); val h2 = tmp(1)
        var j = 0
        while (j < k) {
          val h = h1 + j.toLong * h2
          if (h < mins(j)) mins(j) = h
          j += 1
        }
      }
      i += 1
    }
    new GenericArrayData(mins)
  }

  /** 64-bit SimHash over a token bag (unit weights). */
  def simhash(tokens: ArrayData): Long = {
    val acc = new Array[Int](64)
    val tmp = new Array[Long](2)
    val n = tokens.numElements()
    var i = 0
    while (i < n) {
      if (!tokens.isNullAt(i)) {
        murmur128(tokens.getUTF8String(i).getBytes, tmp)
        val h = tmp(0)
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) acc(b) += 1 else acc(b) -= 1
          b += 1
        }
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) {
      if (acc(b) > 0) out |= (1L << b)
      b += 1
    }
    out
  }

  def hamming64(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)

  /** Cosine similarity of two float vectors (0.0 when either is zero). */
  def cosineF(a: ArrayData, b: ArrayData): Double = {
    val af = a.toFloatArray()
    val bf = b.toFloatArray()
    val n = math.min(af.length, bf.length)
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      dot += af(i).toDouble * bf(i)
      na += af(i).toDouble * af(i)
      nb += bf(i).toDouble * bf(i)
      i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / math.sqrt(na * nb)
  }

  /** Dot of a float vector against a fixed double hyperplane, for the
    * random-hyperplane LSH bit. */
  def hyperplaneBits(v: ArrayData, planes: Array[Array[Double]]): Long = {
    val vf = v.toFloatArray()
    var bits = 0L
    var p = 0
    while (p < planes.length) {
      val pl = planes(p)
      var dot = 0.0
      val n = math.min(vf.length, pl.length)
      var i = 0
      while (i < n) { dot += vf(i) * pl(i); i += 1 }
      if (dot >= 0) bits |= (1L << p)
      p += 1
    }
    bits
  }

  /** Lowercased k-word shingles of a string in one pass: whitespace
    * split, join runs of k tokens with single spaces, first-occurrence
    * dedup. Equivalent to the declarative
    * `array_distinct(transform(sequence…, slice…))` stack but ~10×
    * faster: the higher-order-function route re-evaluates its lambda
    * per element in interpreted mode, which dominated the dedup
    * pipeline's profile. */
  def wordShingles(s: UTF8String, k: Int): ArrayData = {
    val b = s.toLowerCase.getBytes
    val n = b.length
    // token boundaries — two passes into primitive int arrays (r17,
    // guide §4.2: the former ArrayBuffer[Int] boxed every boundary).
    var nt = 0
    var i = 0
    while (i < n) {
      while (i < n && isWs(b(i))) i += 1
      if (i < n) {
        nt += 1
        while (i < n && !isWs(b(i))) i += 1
      }
    }
    if (nt == 0) return new GenericArrayData(Array.empty[Any])
    val starts = new Array[Int](nt)
    val ends = new Array[Int](nt)
    var t0 = 0
    i = 0
    while (i < n) {
      while (i < n && isWs(b(i))) i += 1
      if (i < n) {
        starts(t0) = i
        while (i < n && !isWs(b(i))) i += 1
        ends(t0) = i
        t0 += 1
      }
    }
    val kk = math.min(k, nt)
    val seen = new java.util.HashSet[UTF8String]()
    val out = new Array[Any](nt - kk + 1)
    var outN = 0
    var t = 0
    while (t + kk <= nt) {
      // shingle = the k tokens' bytes with inner whitespace runs
      // collapsed to single spaces — assembled into one exact-sized
      // byte array (the former per-shingle ByteArrayOutputStream paid
      // synchronized writes plus a defensive copy per shingle).
      var len = kk - 1
      var w = 0
      while (w < kk) { len += ends(t + w) - starts(t + w); w += 1 }
      val arr = new Array[Byte](len)
      var p = 0
      w = 0
      while (w < kk) {
        if (w > 0) { arr(p) = ' '; p += 1 }
        val l = ends(t + w) - starts(t + w)
        System.arraycopy(b, starts(t + w), arr, p, l)
        p += l
        w += 1
      }
      val sh = UTF8String.fromBytes(arr)
      if (seen.add(sh)) { out(outN) = sh; outN += 1 }
      t += 1
    }
    new GenericArrayData(
      if (outN == out.length) out
      else java.util.Arrays.copyOf(out.asInstanceOf[Array[AnyRef]], outN))
  }

  private def isWs(c: Byte): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\r' || c == '\f' || c == 0x0b

  /** All ordered pairs (a, b) with a before b of a (sorted) id array,
    * as one flat struct array. Replaces the declarative
    * `flatten(transform(ids, (a, i) => transform(slice(ids, i+2, …)`
    * stack: higher-order-function lambdas evaluate interpreted per
    * element and the inner `slice` allocates per element, which made
    * pair emission the dedup suite's hotspot — this is a single
    * allocation-light pass. */
  def sortedPairs(ids: ArrayData): ArrayData = {
    val v = ids.toLongArray()
    val n = v.length
    val out = new Array[Any](n * (n - 1) / 2)
    var w = 0
    var i = 0
    while (i < n) {
      var j = i + 1
      while (j < n) {
        out(w) = InternalRow(v(i), v(j))
        w += 1
        j += 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  /** [[sortedPairs]] with each (a, b) pair PACKED into one long
    * (a << 32 | b) — the in-bucket pair stream as primitive longs, so
    * the downstream explode + count aggregation runs allocation-free
    * through codegen's single-long-key fast hash map instead of
    * allocating an InternalRow per pair (guide §4.2; the pair stream
    * is Σ df·(df−1)/2 rows — 125 M at sf1 — so per-pair constants ARE
    * the pipeline). Loud precondition, never silent corruption: ids
    * must fit 31 bits (the supplier_dominance convention); a corpus
    * whose ids outgrow the packing fails with a named error and the
    * unpacked formulation is one revert away. */
  def sortedPairsPacked(ids: ArrayData): ArrayData = {
    val v = ids.toLongArray()
    val n = v.length
    var i = 0
    while (i < n) {
      if (v(i) < 0L || v(i) > 0x7fffffffL)
        throw new IllegalArgumentException(
          s"sorted_pairs_packed: doc id ${v(i)} exceeds the 31-bit packing " +
            "range; use the unpacked pair stream at this id scale")
      i += 1
    }
    val out = new Array[Long](n * (n - 1) / 2)
    var w = 0
    i = 0
    while (i < n) {
      val hi = v(i) << 32
      var j = i + 1
      while (j < n) {
        out(w) = hi | v(j)
        w += 1
        j += 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  /** One mixed 64-bit key per signature band (bands of len/nBands
    * consecutive values), replacing per-band `hash(slice(sig, …))`
    * lambdas with a single native pass. */
  def bandHashes(sig: ArrayData, nBands: Int): ArrayData = {
    val vals = sig.toLongArray()
    val r = vals.length / nBands
    val out = new Array[Long](nBands)
    var bIdx = 0
    while (bIdx < nBands) {
      var h = r.toLong
      var j = bIdx * r
      val end = j + r
      while (j < end) { h = fmix(h + vals(j)); j += 1 }
      out(bIdx) = h
      bIdx += 1
    }
    new GenericArrayData(out)
  }

  /** Winnowing document fingerprint (Rabin-Karp rolling k-gram hashes,
    * minimum per sliding window of w, rightmost-min rule), as in the
    * MOSS winnowing scheme: any shared substring of length ≥ k+w-1
    * guarantees a shared fingerprint. Returns the distinct selected
    * hashes, sorted. */
  def winnow(s: UTF8String, k: Int, w: Int): ArrayData = {
    val b = s.getBytes
    val n = b.length
    if (n < k) return new GenericArrayData(Array.empty[Long])
    val B = 1000003L
    var bk = 1L
    var i = 0
    while (i < k) { bk *= B; i += 1 }
    val m = n - k + 1
    val hs = new Array[Long](m)
    var h = 0L
    i = 0
    while (i < n) {
      h = h * B + (b(i) & 0xffL)
      if (i >= k) h -= bk * (b(i - k) & 0xffL)
      if (i >= k - 1) hs(i - k + 1) = h
      i += 1
    }
    // Distinct selected hashes, sorted — collected into a primitive
    // buffer and sorted/deduped once at the end (r17, guide §4.2: the
    // former mutable.SortedSet boxed every hash into a red-black tree
    // insert per WINDOW, and consecutive windows mostly re-select the
    // same minimum, so the skip-unchanged-index guard drops most
    // inserts before they happen). Same rightmost-min rule (<=), same
    // selected value set, same sorted-distinct output.
    var selN = 0
    if (m <= w) {
      var min = hs(0); i = 1
      while (i < m) { if (hs(i) <= min) min = hs(i); i += 1 }
      hs(0) = min
      selN = 1
    } else {
      val sel = new Array[Long](m - w + 1)
      var lastIdx = -1
      var win = 0
      while (win + w <= m) {
        var minIdx = win
        var j = win + 1
        while (j < win + w) { if (hs(j) <= hs(minIdx)) minIdx = j; j += 1 }
        if (minIdx != lastIdx) { sel(selN) = hs(minIdx); selN += 1; lastIdx = minIdx }
        win += 1
      }
      java.util.Arrays.sort(sel, 0, selN)
      var wIdx = 0
      i = 0
      while (i < selN) {
        if (wIdx == 0 || sel(wIdx - 1) != sel(i)) { sel(wIdx) = sel(i); wIdx += 1 }
        i += 1
      }
      return new GenericArrayData(java.util.Arrays.copyOf(sel, wIdx))
    }
    new GenericArrayData(java.util.Arrays.copyOf(hs, selN))
  }

  // -- Column API ---------------------------------------------------------

  def minhashSigs(c: Column, k: Int): Column =
    ColumnBridge.column(MinHashSignature(ColumnBridge.expression(c), k))
  def hyperplaneBits(c: Column, seed: Long, nbits: Int, dim: Int): Column =
    ColumnBridge.column(HyperplaneBits(ColumnBridge.expression(c), seed, nbits, dim))
  def simhash64(c: Column): Column =
    ColumnBridge.column(SimHash64(ColumnBridge.expression(c)))
  def hamming64(l: Column, r: Column): Column =
    ColumnBridge.column(Hamming64(ColumnBridge.expression(l), ColumnBridge.expression(r)))
  def cosineSim(l: Column, r: Column): Column =
    ColumnBridge.column(CosineSim(ColumnBridge.expression(l), ColumnBridge.expression(r)))
  def winnowFingerprint(c: Column, k: Int, w: Int): Column =
    ColumnBridge.column(WinnowFingerprint(ColumnBridge.expression(c), k, w))
  def wordShingles(c: Column, k: Int): Column =
    ColumnBridge.column(WordShingles(ColumnBridge.expression(c), k))
  def bandHashes(c: Column, nBands: Int): Column =
    ColumnBridge.column(BandHashes(ColumnBridge.expression(c), nBands))
  def sortedPairs(c: Column): Column =
    ColumnBridge.column(SortedPairs(ColumnBridge.expression(c)))
  def sortedPairsPacked(c: Column): Column =
    ColumnBridge.column(SortedPairsPacked(ColumnBridge.expression(c)))

  /** Fit a Bloom filter over `xxhash64(colName)` of `df` with Spark's
    * own distributed `BloomFilterAggregate` (the expression behind
    * runtime bloom-filter joins) and return its serialized bytes — ONE
    * driver-bounded artifact (numBits/8 bytes), the fitted-codebook
    * pattern. The caller embeds it as a literal via
    * [[bloomMightContain]], which keeps the membership probe inside
    * whole-stage codegen on the scan side — Spark's own runtime-filter
    * machinery, driven explicitly where the optimizer's
    * injection heuristics wouldn't reach. */
  def bloomFit(
      df: org.apache.spark.sql.DataFrame, colName: String,
      expectedItems: Long, numBits: Long): Array[Byte] = {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.functions.xxhash64
    val agg = new BloomFilterAggregate(
      ColumnBridge.expression(xxhash64(df(colName))),
      Literal(expectedItems), Literal(numBits))
    df.select(ColumnBridge.column(agg.toAggregateExpression()).as("bf"))
      .head().getAs[Array[Byte]](0)
  }

  /** `might_contain(serializedBloom, hash)` as a codegen'd scan-side
    * predicate; false positives at the configured rate, zero false
    * negatives — callers keep an exact verify join downstream. */
  def bloomMightContain(bloom: Array[Byte], hash: Column): Column =
    ColumnBridge.column(org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
      org.apache.spark.sql.catalyst.expressions.Literal(bloom, BinaryType),
      ColumnBridge.expression(hash)))
}

/** `sorted_pairs(ids)`: all (a, b) pairs with a before b of an id
  * array, flat — the in-bucket candidate-pair generator. */
case class SortedPairs(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("a", LongType, nullable = false),
      StructField("b", LongType, nullable = false))),
    containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    // The kernel reads via toLongArray, which cannot represent null
    // slots — reject nullable-element arrays at analysis instead of
    // failing (or worse, miscounting) at runtime.
    case ArrayType(LongType, false) => TypeCheckResult.TypeCheckSuccess
    case ArrayType(LongType, true) => TypeCheckResult.TypeCheckFailure(
      "sorted_pairs requires array<bigint> with non-nullable elements")
    case other => TypeCheckResult.TypeCheckFailure(
      s"sorted_pairs requires array<bigint>, got $other")
  }

  override def nullSafeEval(input: Any): Any =
    Sketches.sortedPairs(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Sketches.sortedPairs($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `sorted_pairs_packed(ids)`: all (a, b) pairs with a before b of an
  * id array, each packed as (a << 32 | b) — primitive pair stream for
  * the count aggregation's fast hash map. 31-bit id precondition
  * enforced loudly in the kernel. */
case class SortedPairsPacked(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, false) => TypeCheckResult.TypeCheckSuccess
    case ArrayType(LongType, true) => TypeCheckResult.TypeCheckFailure(
      "sorted_pairs_packed requires array<bigint> with non-nullable elements")
    case other => TypeCheckResult.TypeCheckFailure(
      s"sorted_pairs_packed requires array<bigint>, got $other")
  }

  override def nullSafeEval(input: Any): Any =
    Sketches.sortedPairsPacked(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Sketches.sortedPairsPacked($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `word_shingles(text, k)`: distinct lowercase k-word shingles. */
case class WordShingles(child: Expression, k: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"word_shingles requires string, got $other")
  }

  override def nullSafeEval(input: Any): Any =
    Sketches.wordShingles(input.asInstanceOf[UTF8String], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Sketches.wordShingles($c, $k)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `band_hashes(sig, n)`: one mixed key per band of a signature array. */
case class BandHashes(child: Expression, nBands: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"band_hashes requires array<bigint>, got $other")
  }

  override def nullSafeEval(input: Any): Any =
    Sketches.bandHashes(input.asInstanceOf[ArrayData], nBands)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Sketches.bandHashes($c, $nBands)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `winnow_fingerprint(text, k, w)`: winnowed rolling-hash fingerprint
  * set of a string (see [[Sketches.winnow]]). */
case class WinnowFingerprint(child: Expression, k: Int, w: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"winnow_fingerprint requires string, got $other")
  }

  override def nullSafeEval(input: Any): Any =
    Sketches.winnow(input.asInstanceOf[UTF8String], k, w)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Sketches.winnow($c, $k, $w)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `minhash_sigs(shingles, k)`: array<string> → array<long> of k minima. */
case class MinHashSignature(child: Expression, k: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"minhash_sigs requires array<string>, got $other")
  }

  override def nullSafeEval(input: Any): Any =
    Sketches.minhash(input.asInstanceOf[ArrayData], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Sketches.minhash($c, $k)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `simhash64(tokens)`: array<string> → long fingerprint. */
case class SimHash64(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"simhash64 requires array<string>, got $other")
  }

  override def nullSafeEval(input: Any): Any =
    Sketches.simhash(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Sketches.simhash($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `hamming64(a, b)`: popcount of the xor of two 64-bit fingerprints. */
case class Hamming64(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = IntegerType

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (LongType, LongType) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"hamming64 requires (bigint, bigint), got $other")
    }

  override def nullSafeEval(l: Any, r: Any): Any =
    Sketches.hamming64(l.asInstanceOf[Long], r.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"java.lang.Long.bitCount($a ^ $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** `hyperplane_bits(v, seed, nbits, dim)`: random-hyperplane LSH bucket
  * of a float vector — the sign bit of the dot against `nbits` fixed
  * Gaussian hyperplanes drawn from `seed`. Deterministic across the
  * cluster (every task regenerates the same planes from the seed; no
  * broadcast needed). */
case class HyperplaneBits(child: Expression, seed: Long, nbits: Int, dim: Int)
    extends UnaryExpression {

  @transient private lazy val planeArr: Array[Array[Double]] = HyperplaneBits.planesFor(seed, nbits, dim)

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"hyperplane_bits requires array<float>, got $other")
  }

  override def nullSafeEval(input: Any): Any =
    Sketches.hyperplaneBits(input.asInstanceOf[ArrayData], planeArr)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // Bind the plane matrix once as a plan reference — calling
    // planesFor() per row would pay a boxed-tuple cache lookup inside
    // the hot loop.
    val ref = ctx.addReferenceObj("planes", planeArr, "double[][]")
    defineCodeGen(ctx, ev, c => s"graft.functions.Sketches.hyperplaneBits($c, $ref)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object HyperplaneBits {
  private val cache = new java.util.concurrent.ConcurrentHashMap[(Long, Int, Int), Array[Array[Double]]]()

  /** Deterministic Gaussian hyperplanes; cached per (seed, nbits, dim) so
    * generated code pays the RNG cost once per executor, not per row. */
  def planesFor(seed: Long, nbits: Int, dim: Int): Array[Array[Double]] =
    cache.computeIfAbsent((seed, nbits, dim), { key =>
      val rng = new java.util.Random(key._1)
      Array.fill(key._2)(Array.fill(key._3)(rng.nextGaussian()))
    })
}

/** `cosine_sim(a, b)`: cosine similarity of two array<float> vectors. */
case class CosineSim(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(FloatType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"cosine_sim requires (array<float>, array<float>), got $other")
    }

  override def nullSafeEval(l: Any, r: Any): Any =
    Sketches.cosineF(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.Sketches.cosineF($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
