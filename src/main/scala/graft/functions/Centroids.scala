package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.{element_at, explode}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._

/** Coarse-quantizer primitives for IVF-style ANN (SURVEY §2.5): assign
  * vectors to their nearest centroid(s) by cosine. The centroid table
  * is tiny (fit on a sample, driver-side) and ships inside the
  * expression via a codegen object reference — every row's assignment
  * is a plain static call over unboxed arrays, no joins, no UDFs.
  */
object Centroids {

  /** Spark's `round(double)` exactly (Round for DoubleType goes through
    * BigDecimal.valueOf, i.e. the shortest-round-trip DECIMAL view,
    * HALF_UP) — the same function DuckDB's ROUND computes on these
    * inputs (hash-proven by emb_quantize at sf0.01 and sf1), so a
    * driver-side fold that quantizes through this is replayable.
    * Non-finite input fails loudly with the offending value
    * (BigDecimal.valueOf would throw a bare NumberFormatException and
    * abort the whole fit without naming the component), and overflow
    * past Long range is an error, never a silent truncation. */
  def sparkRound(d: Double): Long = {
    require(java.lang.Double.isFinite(d),
      s"sparkRound: non-finite input $d (a NaN/Inf embedding component reached the fit)")
    java.math.BigDecimal.valueOf(d).setScale(0, java.math.RoundingMode.HALF_UP)
      .longValueExact()
  }

  /** Driver-side spherical k-means on a (small) sample: deterministic
    * BY CONSTRUCTION — seeds are the k evenly-spaced sample ranks
    * (floor(j·n/k), j = 0..k−1; the sample arrives vec_id-ordered), and
    * per-round component sums are 2^-20-quantized integers (the corpus
    * rounds' DECIMAL convention), so the fit is independent of both RNG
    * implementation and accumulation order — at 100 TB you fit on a 1e5
    * sample and assign the corpus with the fitted centroids, and an
    * external oracle can replay every round from the sample alone. */
  def fit(sample: Array[Array[Float]], k: Int, iters: Int): Array[Array[Double]] = {
    require(sample.nonEmpty)
    // k > n would seed duplicate centroids from repeated ranks; with
    // ties breaking to the lower index the duplicates never receive
    // members and silently shrink effective k — fail loudly instead.
    require(k <= sample.length, s"fit: k=$k exceeds sample size ${sample.length}")
    val dim = sample.head.length
    val q20 = (1L << 20).toDouble
    def normalize(v: Array[Double]): Array[Double] = {
      val n = math.sqrt(v.map(x => x * x).sum)
      if (n == 0) v else v.map(_ / n)
    }
    // The quantization is iteration-invariant: pre-quantize the sample
    // once instead of one BigDecimal per component per Lloyd round
    // (tens of millions of driver allocations at the 1e5-sample scale).
    val quant = sample.map(v => v.map(x => sparkRound(x.toDouble * q20)))
    var cents = Array.tabulate(k)(j =>
      normalize(sample(((j.toLong * sample.length) / k).toInt).map(_.toDouble)))
    (1 to iters).foreach { _ =>
      val sums = Array.fill(k)(new Array[Long](dim))
      val counts = new Array[Int](k)
      sample.indices.foreach { s =>
        val c = nearestOf(sample(s), cents)
        counts(c) += 1
        var i = 0
        while (i < dim) { sums(c)(i) += quant(s)(i); i += 1 }
      }
      cents = sums.zipWithIndex.map { case (s, c) =>
        if (counts(c) == 0) cents(c) else normalize(s.map(_.toDouble / q20))
      }
    }
    cents
  }

  private def nearestOf(v: Array[Float], cents: Array[Array[Double]]): Int = {
    var best = 0; var bestDot = Double.MinValue
    var c = 0
    while (c < cents.length) {
      var dot = 0.0; var i = 0
      val cent = cents(c)
      while (i < v.length) { dot += v(i) * cent(i); i += 1 }
      if (dot > bestDot) { bestDot = dot; best = c }
      c += 1
    }
    best
  }

  /** The `nProbe` nearest centroid ids for a vector, best first.
    * (Cosine order == dot order because centroids are unit-norm.)
    *
    * Selection is an allocation-free repeated argmax over a primitive
    * score array (r16): the old per-row `sortBy` built k boxed
    * (Double, Int) tuples and TimSorted them for EVERY corpus row,
    * which at the adaptive k = √n list counts (256 at sf1) dominated
    * the assignment scan. Semantics are unchanged bit for bit: the
    * same dot/norm score, strict-greater comparison with lower ids
    * winning ties — exactly the stable (-score, c) sort order —
    * including the zero-norm (all scores 0 → ids 0..nProbe-1) and
    * NaN (never beats a real score, ordered by id among themselves)
    * regimes. */
  def nearestCentroids(v: ArrayData, cents: Array[Array[Double]], nProbe: Int): ArrayData = {
    val vf = v.toFloatArray()
    var ns = 0.0
    var i = 0
    while (i < vf.length) { ns += vf(i).toDouble * vf(i); i += 1 }
    val norm = math.sqrt(ns)
    val k = cents.length
    val scores = new Array[Double](k)
    var c = 0
    while (c < k) {
      val cent = cents(c)
      var dot = 0.0; var j = 0
      val n = math.min(vf.length, cent.length)
      while (j < n) { dot += vf(j) * cent(j); j += 1 }
      scores(c) = if (norm == 0) 0.0 else dot / norm
      c += 1
    }
    val m = math.min(nProbe, k)
    val out = new Array[Int](m)
    val taken = new Array[Boolean](k)
    var p = 0
    while (p < m) {
      var best = -1
      var bestS = Double.NegativeInfinity
      var c2 = 0
      while (c2 < k) {
        if (!taken(c2) && scores(c2) > bestS) { bestS = scores(c2); best = c2 }
        c2 += 1
      }
      if (best < 0) { // remaining scores all NaN: lowest id first
        var c3 = 0
        while (best < 0 && c3 < k) { if (!taken(c3)) best = c3; c3 += 1 }
      }
      taken(best) = true
      out(p) = best
      p += 1
    }
    new GenericArrayData(out)
  }

  def nearestCentroids(c: Column, cents: Array[Array[Double]], nProbe: Int): Column =
    ColumnBridge.column(NearestCentroids(ColumnBridge.expression(c), cents, nProbe))

  /** IVF list routing of a vector column. With `nProbe = 1` it is the
    * vector's list assignment: the id of its nearest centroid, one
    * scalar per row. With `nProbe > 1` it is a generator of the
    * `nProbe` lists a query probes, best first, one row each. */
  def lists(c: Column, cents: Array[Array[Double]], nProbe: Int = 1): Column =
    if (nProbe == 1) element_at(nearestCentroids(c, cents, 1), 1)
    else explode(nearestCentroids(c, cents, nProbe))

  // ---- product quantization (PQ) --------------------------------------

  /** Plain (L2, UN-normalized) k-means for PQ sub-block codebooks.
    * PQ reconstructs each block's magnitude from its codeword, so
    * unlike the spherical [[fit]] the centroids must keep their norms —
    * normalizing would collapse every block onto the unit sphere and
    * lose the length information ADC scoring depends on. Same
    * deterministic-by-construction discipline as [[fit]]: evenly-spaced
    * seed ranks, quantized-integer round sums. */
  def fitL2(sample: Array[Array[Float]], k: Int, iters: Int): Array[Array[Double]] = {
    require(sample.nonEmpty)
    require(k <= sample.length, s"fitL2: k=$k exceeds sample size ${sample.length}")
    val dim = sample.head.length
    val q20 = (1L << 20).toDouble
    // Pre-quantized once — see [[fit]].
    val quant = sample.map(v => v.map(x => sparkRound(x.toDouble * q20)))
    var cents = Array.tabulate(k)(j =>
      sample(((j.toLong * sample.length) / k).toInt).map(_.toDouble))
    (1 to iters).foreach { _ =>
      val sums = Array.fill(k)(new Array[Long](dim))
      val counts = new Array[Int](k)
      sample.indices.foreach { s =>
        val c = nearestL2(sample(s), 0, dim, cents)
        counts(c) += 1
        var i = 0
        while (i < dim) { sums(c)(i) += quant(s)(i); i += 1 }
      }
      cents = sums.zipWithIndex.map { case (s, c) =>
        if (counts(c) == 0) cents(c)
        else s.map(_.toDouble / q20 / counts(c))
      }
    }
    cents
  }

  /** Nearest centroid of `v[off, off+len)` by squared L2 distance. */
  private def nearestL2(
      v: Array[Float], off: Int, len: Int, cents: Array[Array[Double]]): Int = {
    var best = 0
    var bestD = Double.MaxValue
    var c = 0
    while (c < cents.length) {
      val cent = cents(c)
      var d = 0.0
      var i = 0
      while (i < len) { val t = v(off + i) - cent(i); d += t * t; i += 1 }
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }

  /** PQ encode: per sub-block j, the index of the L2-nearest codeword
    * in `books(j)` — an m-entry int code array per vector. */
  def pqEncode(v: ArrayData, books: Array[Array[Array[Double]]]): ArrayData = {
    val vf = v.toFloatArray()
    val m = books.length
    val sub = books(0)(0).length
    val codes = new Array[Int](m)
    var j = 0
    while (j < m) {
      codes(j) = nearestL2(vf, j * sub, sub, books(j))
      j += 1
    }
    new GenericArrayData(codes)
  }

  /** ADC (asymmetric distance computation) cosine estimate: the exact
    * query against the RECONSTRUCTED candidate x̂ = concat of codewords —
    * cos(q, x̂) = Σ_j <q_j, c_(j,code_j)> / (‖q‖·‖x̂‖). The candidate's
    * raw vector is never touched: scoring reads m ints. */
  def pqAdcScore(q: ArrayData, codes: ArrayData, books: Array[Array[Array[Double]]]): Double = {
    val qf = q.toFloatArray()
    val cs = codes.toIntArray()
    val m = books.length
    val sub = books(0)(0).length
    var dot = 0.0
    var cNorm2 = 0.0
    var qNorm2 = 0.0
    var j = 0
    while (j < m) {
      val cent = books(j)(cs(j))
      var i = 0
      while (i < sub) {
        val qv = qf(j * sub + i).toDouble
        dot += qv * cent(i)
        cNorm2 += cent(i) * cent(i)
        qNorm2 += qv * qv
        i += 1
      }
      j += 1
    }
    val denom = math.sqrt(qNorm2 * cNorm2)
    if (denom == 0) 0.0 else dot / denom
  }

  def pqEncode(c: Column, books: Array[Array[Array[Double]]]): Column =
    ColumnBridge.column(PqEncode(ColumnBridge.expression(c), books))
  def pqAdcScore(q: Column, codes: Column, books: Array[Array[Array[Double]]]): Column =
    ColumnBridge.column(
      PqAdcScore(ColumnBridge.expression(q), ColumnBridge.expression(codes), books))
}

/** `nearest_centroids(vec)`: the nProbe nearest centroid ids, best
  * first. The centroid matrix rides along as a codegen reference
  * object (broadcast-free: it is part of the plan). */
case class NearestCentroids(
    child: Expression, cents: Array[Array[Double]], nProbe: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"nearest_centroids requires array<float>, got $other")
  }

  override def nullSafeEval(input: Any): Any =
    Centroids.nearestCentroids(input.asInstanceOf[ArrayData], cents, nProbe)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("cents", cents, "double[][]")
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.Centroids.nearestCentroids($c, $ref, $nProbe)")
  }

  // Case-class equality on Array fields is reference equality, which
  // would make structurally identical plans never compare equal
  // (missed subexpression elimination); compare the matrix by value.
  override def equals(other: Any): Boolean = other match {
    case that: NearestCentroids =>
      child == that.child && nProbe == that.nProbe &&
        java.util.Arrays.deepEquals(
          cents.asInstanceOf[Array[AnyRef]], that.cents.asInstanceOf[Array[AnyRef]])
    case _ => false
  }
  override def hashCode(): Int = java.util.Objects.hash(
    child, Integer.valueOf(nProbe),
    Integer.valueOf(java.util.Arrays.deepHashCode(cents.asInstanceOf[Array[AnyRef]])))

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `pq_encode(vec)`: m-entry PQ code array (per-block nearest-codeword
  * indices); the codebooks ride as a codegen reference object. */
case class PqEncode(child: Expression, books: Array[Array[Array[Double]]])
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"pq_encode requires array<float>, got $other")
  }

  override def nullSafeEval(input: Any): Any =
    Centroids.pqEncode(input.asInstanceOf[ArrayData], books)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("books", books, "double[][][]")
    defineCodeGen(ctx, ev, c => s"graft.functions.Centroids.pqEncode($c, $ref)")
  }

  // Value-based codebook equality — see NearestCentroids.equals.
  override def equals(other: Any): Boolean = other match {
    case that: PqEncode =>
      child == that.child && java.util.Arrays.deepEquals(
        books.asInstanceOf[Array[AnyRef]], that.books.asInstanceOf[Array[AnyRef]])
    case _ => false
  }
  override def hashCode(): Int = java.util.Objects.hash(
    child,
    Integer.valueOf(java.util.Arrays.deepHashCode(books.asInstanceOf[Array[AnyRef]])))

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `pq_adc_score(q, codes)`: ADC cosine of an exact query against a
  * PQ-reconstructed candidate — compression-domain scoring, the
  * candidate's raw vector is never read. */
case class PqAdcScore(
    left: Expression, right: Expression, books: Array[Array[Array[Double]]])
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {

  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(FloatType, _), ArrayType(IntegerType, _)) =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"pq_adc_score requires (array<float>, array<int>), got $other")
  }

  override def nullSafeEval(q: Any, codes: Any): Any =
    Centroids.pqAdcScore(q.asInstanceOf[ArrayData], codes.asInstanceOf[ArrayData], books)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("books", books, "double[][][]")
    defineCodeGen(ctx, ev, (q, c) =>
      s"graft.functions.Centroids.pqAdcScore($q, $c, $ref)")
  }

  // Value-based codebook equality — see NearestCentroids.equals.
  override def equals(other: Any): Boolean = other match {
    case that: PqAdcScore =>
      left == that.left && right == that.right && java.util.Arrays.deepEquals(
        books.asInstanceOf[Array[AnyRef]], that.books.asInstanceOf[Array[AnyRef]])
    case _ => false
  }
  override def hashCode(): Int = java.util.Objects.hash(
    left, right,
    Integer.valueOf(java.util.Arrays.deepHashCode(books.asInstanceOf[Array[AnyRef]])))

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
