package graft.similarity

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._

/** #40g emb_pca: distributed principal-component analysis of the
  * embedding corpus — the spectrum report behind whitening, dimension
  * reduction, and "how many dimensions does this embedding actually
  * use?" (the anisotropy question; cf. the per-dimension marginals in
  * [[Similarity.embDimStats]], which this generalizes to the full
  * covariance).
  *
  * Architecture — the classic small-d distributed PCA: ONE corpus pass
  * folds every vector into a d(d+3)/2-double moment buffer (count,
  * per-dimension sums, upper-triangle ΣxᵢxⱼT products) via a
  * TypedImperativeAggregate whose merge is elementwise addition, so
  * Spark's partial aggregation tree-reduces it map-side — no shuffle of
  * anything row-shaped, the reduction moves O(d²) bytes per partition,
  * and the plan scales to any corpus size. The d×d covariance
  * (C = E[xxᵀ] − μμᵀ) is then eigendecomposed on the DRIVER with cyclic
  * Jacobi rotations — a dimension-sized O(d³) scalar job, the CC-loop
  * class (d = 64 here; this layout is the right one up to d ≈ 10³ —
  * past that you'd switch to randomized range-finder sketching, which
  * replaces the exact moment pass, not this plan shape).
  *
  * Rows-only by design (eigensolvers aren't SQL); the ScalaTest oracle
  * pins the moment pass exactly against a driver fold and the
  * decomposition against planted geometry + the spectral invariants
  * (orthonormality, descending eigenvalues, trace preservation).
  */
object Pca {

  /** The fitted spectral model — the bounded artifact (O(d²) doubles)
    * the report and the projection audit both read. */
  final case class Model(
      n: Long, dim: Int, mean: Array[Double], trace: Double,
      eigVals: Array[Double], eigVecs: Array[Array[Double]])

  // Per-(session, dir) memoized fit, so emb_pca and emb_pca_project
  // share ONE moment pass per driver session.
  private val fitCache = new graft.functions.SessionScopedCache[Model]("similarity.pca_fit")

  /** One corpus pass → covariance → driver Jacobi. See [[embPca]]. */
  def fit(spark: SparkSession, dir: String): Model =
    fitCache.getOrCompute(spark, dir)(fitUncached(spark, dir))

  private def fitUncached(spark: SparkSession, dir: String): Model = {
    val emb = graft.sources.Tables.embeddings(spark, dir)
    // limit(1).collect(), not head(): head() on an empty table throws a
    // bare "next on empty iterator" before the diagnostic below runs.
    val dimRow = emb.select(size(col("embedding"))).limit(1).collect()
    require(dimRow.nonEmpty, "emb_pca: empty embeddings corpus")
    val dim = dimRow.head.getInt(0)
    val agg = GramMoments(ColumnBridge.expression(col("embedding").cast(ArrayType(DoubleType))), dim)
    val row = emb.select(ColumnBridge.column(agg.toAggregateExpression()).as("m")).head()
    val m = row.getStruct(0)
    val n = m.getLong(0)
    require(n > 0, "emb_pca: empty embeddings corpus")
    val sums = m.getSeq[Double](1).toArray
    val prods = m.getSeq[Double](2).toArray
    val mean = sums.map(_ / n)
    val cov = Array.ofDim[Double](dim, dim)
    var idx = 0
    var i = 0
    while (i < dim) {
      var j = i
      while (j < dim) {
        val c = prods(idx) / n - mean(i) * mean(j)
        cov(i)(j) = c; cov(j)(i) = c
        idx += 1; j += 1
      }
      i += 1
    }
    val (eigVals, eigVecs) = jacobiEigen(cov) // descending
    val trace = (0 until dim).map(d => cov(d)(d)).sum
    Model(n, dim, mean, trace, eigVals, eigVecs)
  }

  /** Eigen-spectrum report over `embeddings.embedding`: one row per
    * retained component (top `k` by eigenvalue), with the fraction of
    * variance explained, its running cumulative, the dominant input
    * dimension of the component, and the spectral-health audits every
    * row repeats (they are corpus-level scalars): total variance
    * (trace), effective rank (exp of spectrum entropy), and the
    * worst orthonormality residual of the retained basis. */
  def embPca(spark: SparkSession, dir: String, k: Int = 16): DataFrame = {
    val model = fit(spark, dir)
    val dim = model.dim
    val n = model.n
    val eigVals = model.eigVals
    val eigVecs = model.eigVecs
    val trace = model.trace
    val posVals = eigVals.map(v => math.max(v, 0.0))
    val valSum = posVals.sum
    // Effective rank: exp(entropy of the normalized spectrum) — the
    // "how many dimensions are really in use" scalar.
    val effRank =
      if (valSum <= 0) 0.0
      else math.exp(-posVals.filter(_ > 0).map { v =>
        val p = v / valSum; p * math.log(p)
      }.sum)
    val kk = math.min(k, dim)
    // Worst |vᵢ·vⱼ − δᵢⱼ| over the retained basis — the Jacobi
    // rotations are orthogonal by construction, so this is a pure
    // numeric-drift audit.
    var orthoErr = 0.0
    for (a <- 0 until kk; b <- a until kk) {
      var dot = 0.0
      var d = 0
      while (d < dim) { dot += eigVecs(a)(d) * eigVecs(b)(d); d += 1 }
      val target = if (a == b) 1.0 else 0.0
      orthoErr = math.max(orthoErr, math.abs(dot - target))
    }
    var cum = 0.0
    val rows = (0 until kk).map { c =>
      val ratio = if (trace > 0) posVals(c) / trace else 0.0
      cum += ratio
      val topDim = (0 until dim).maxBy(d => math.abs(eigVecs(c)(d)))
      Row(c, posVals(c), ratio, cum, topDim, eigVecs(c)(topDim),
        n, trace, effRank, orthoErr)
    }
    val schema = StructType(Seq(
      StructField("component", IntegerType, nullable = false),
      StructField("eigenvalue", DoubleType, nullable = false),
      StructField("var_ratio", DoubleType, nullable = false),
      StructField("cum_ratio", DoubleType, nullable = false),
      StructField("top_dim", IntegerType, nullable = false),
      StructField("top_dim_loading", DoubleType, nullable = false),
      StructField("n_vectors", LongType, nullable = false),
      StructField("total_variance", DoubleType, nullable = false),
      StructField("effective_rank", DoubleType, nullable = false),
      StructField("ortho_err", DoubleType, nullable = false)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), schema)
  }

  /** #40h emb_pca_project: the APPLY side of [[embPca]] — project every
    * vector onto the fitted top-`k` principal basis and audit, per
    * vector, how much of its (centered) energy the reduced
    * representation keeps. The k×d component matrix and the mean
    * vector ride into the plan as LITERAL arrays (the fitted-codebook
    * pattern: same economics as the PQ codebooks and the BPE merge
    * table — a bounded artifact broadcast inside the expression tree,
    * never a join), and the projection itself is built from Spark's
    * higher-order array functions (`zip_with` dot products over the
    * embedded basis) — a pure per-row map, zero shuffle, output linear
    * in input. Fit and apply share one moment pass per session via the
    * memoized [[fit]].
    *
    * energy_kept = ‖Vₖ(x−μ)‖² / ‖x−μ‖² ∈ [0, 1] because Vₖ is
    * orthonormal; its corpus MEAN ties back to the spectrum report
    * (≈ Σ top-k var_ratio when centering matches) — spec-pinned. */
  def embPcaProject(spark: SparkSession, dir: String, k: Int = 8): DataFrame = {
    val model = fit(spark, dir)
    val kk = math.min(k, model.dim)
    val meanLit = typedLit(model.mean.toSeq)
    val compLit = typedLit((0 until kk).map(c => model.eigVecs(c).toSeq))
    val centered = zip_with(col("v"), meanLit, (x, mu) => x - mu)
    def dotWith(arr: Column, other: Column): Column =
      aggregate(zip_with(arr, other, (a, b) => a * b), lit(0.0), (s, t) => s + t)
    graft.sources.Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("c", centered)
      .withColumn("coords", transform(compLit, comp => dotWith(col("c"), comp)))
      .withColumn("c_energy", dotWith(col("c"), col("c")))
      .withColumn("p_energy", dotWith(col("coords"), col("coords")))
      .select(
        col("vec_id"),
        lit(kk).as("k"),
        round(col("c_energy"), 6).as("centered_energy"),
        round(col("p_energy"), 6).as("projected_energy"),
        // A vector AT the mean has no centered energy; keep total.
        when(col("c_energy") > 0.0,
          round(col("p_energy") / col("c_energy"), 6)).as("energy_kept"),
        // Which component dominates this vector — the cluster-ish id.
        expr("array_position(transform(coords, x -> abs(x)), " +
          "array_max(transform(coords, x -> abs(x)))) - 1").cast("int")
          .as("dominant_component"))
      .orderBy(col("vec_id"))
  }

  /** Cyclic Jacobi eigendecomposition of a symmetric matrix: returns
    * (eigenvalues, eigenvectors-as-rows), sorted descending. O(d³) per
    * sweep, quadratically convergent — the right tool for the
    * dimension-sized symmetric problems this engine ever solves on the
    * driver (d ≤ ~10³). */
  def jacobiEigen(sym: Array[Array[Double]]): (Array[Double], Array[Array[Double]]) = {
    val d = sym.length
    val a = Array.tabulate(d, d)((i, j) => sym(i)(j))
    val v = Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)
    val frob = math.sqrt(a.map(_.map(x => x * x).sum).sum)
    val tol = math.max(frob, 1e-300) * 1e-14
    var sweep = 0
    var off = Double.MaxValue
    while (off > tol && sweep < 100) {
      off = 0.0
      var p = 0
      while (p < d - 1) {
        var q = p + 1
        while (q < d) {
          val apq = a(p)(q)
          off = math.max(off, math.abs(apq))
          if (math.abs(apq) > tol / d) {
            val theta = (a(q)(q) - a(p)(p)) / (2.0 * apq)
            val t = math.signum(theta) match {
              case 0.0 => 1.0 / (theta + math.sqrt(theta * theta + 1.0))
              case s => s / (math.abs(theta) + math.sqrt(theta * theta + 1.0))
            }
            val c = 1.0 / math.sqrt(t * t + 1.0)
            val s = t * c
            var r = 0
            while (r < d) {
              val arp = a(r)(p); val arq = a(r)(q)
              a(r)(p) = c * arp - s * arq
              a(r)(q) = s * arp + c * arq
              r += 1
            }
            r = 0
            while (r < d) {
              val apr = a(p)(r); val aqr = a(q)(r)
              a(p)(r) = c * apr - s * aqr
              a(q)(r) = s * apr + c * aqr
              val vpr = v(p)(r); val vqr = v(q)(r)
              v(p)(r) = c * vpr - s * vqr
              v(q)(r) = s * vpr + c * vqr
              r += 1
            }
          }
          q += 1
        }
        p += 1
      }
      sweep += 1
    }
    val order = (0 until d).sortBy(i => -a(i)(i))
    (order.map(i => a(i)(i)).toArray, order.map(i => v(i)).toArray)
  }
}

/** One-pass second-moment fold of a fixed-width double vector column:
  * count, per-dimension sums, and the upper triangle of Σ x xᵀ — the
  * sufficient statistics of mean and covariance, mergeable by
  * elementwise addition (so Spark's partial-aggregate tree does the
  * 100 TB reduction map-side; O(d²) state per task, never per row). */
case class GramMoments(
    child: Expression,
    dim: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[GramMoments.Buf] {

  require(dim >= 1, "gram_moments needs a positive dimension")

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = StructType(Seq(
    StructField("n", LongType, nullable = false),
    StructField("sums", ArrayType(DoubleType, containsNull = false), nullable = false),
    StructField("prods", ArrayType(DoubleType, containsNull = false), nullable = false)))

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"gram_moments requires array<double>, got $other")
  }

  override def createAggregationBuffer(): GramMoments.Buf = new GramMoments.Buf(dim)

  override def update(b: GramMoments.Buf, input: InternalRow): GramMoments.Buf = {
    val v = child.eval(input)
    if (v != null) {
      val arr = v.asInstanceOf[ArrayData]
      require(arr.numElements() == dim,
        s"gram_moments: vector of length ${arr.numElements()}, expected $dim")
      b.n += 1
      var i = 0
      var idx = 0
      while (i < dim) {
        val xi = arr.getDouble(i)
        b.sums(i) += xi
        var j = i
        while (j < dim) {
          b.prods(idx) += xi * arr.getDouble(j)
          idx += 1; j += 1
        }
        i += 1
      }
    }
    b
  }

  override def merge(a: GramMoments.Buf, b: GramMoments.Buf): GramMoments.Buf = {
    a.n += b.n
    var i = 0
    while (i < dim) { a.sums(i) += b.sums(i); i += 1 }
    i = 0
    while (i < a.prods.length) { a.prods(i) += b.prods(i); i += 1 }
    a
  }

  override def eval(b: GramMoments.Buf): Any = InternalRow(
    b.n, new GenericArrayData(b.sums), new GenericArrayData(b.prods))

  override def serialize(b: GramMoments.Buf): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeLong(b.n)
    b.sums.foreach(out.writeDouble)
    b.prods.foreach(out.writeDouble)
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): GramMoments.Buf = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val b = new GramMoments.Buf(dim)
    b.n = in.readLong()
    var i = 0
    while (i < b.sums.length) { b.sums(i) = in.readDouble(); i += 1 }
    i = 0
    while (i < b.prods.length) { b.prods(i) = in.readDouble(); i += 1 }
    b
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): GramMoments =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): GramMoments =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren(0))
}

object GramMoments {
  final class Buf(dim: Int) {
    var n: Long = 0L
    val sums: Array[Double] = new Array[Double](dim)
    val prods: Array[Double] = new Array[Double](dim * (dim + 1) / 2)
  }
}
