package graft.similarity

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{Centroids, Exact}
import graft.sources.Tables

/** #40k emb_kmeans: distributed spherical k-means over the full
  * embedding corpus — the topic/shard clustering step (cluster-then-
  * sample curation, semantic sharding, IVF list training at corpus
  * scale) that the sample-fit quantizer in [[Similarity.ivfTopK]]
  * deliberately avoids: here every vector votes in every Lloyd round.
  *
  * Scale shape per round (T rounds = T corpus passes — that IS
  * Lloyd's): assignment is the codegen'd [[Centroids.nearestCentroids]]
  * expression with the centroids embedded in the plan (no join, no
  * broadcast variable), and the re-estimation collapses the corpus to
  * a (k × d)-row frame by posexplode + one map-side-combinable shuffle
  * on the (cluster, dim) key — O(k·d) rows cross the wire, never
  * vectors. The k×d moment frame is a driver-side scalar job
  * (CC-loop class, same budget as the PCA Jacobi step). Per-dimension
  * sums are 2^-20-quantized integers in DECIMAL(38,0) (the
  * emb_outliers convention), so every centroid — and therefore every
  * downstream assignment — is exact under any partitioning; the spec
  * pins repartition-proofness. Empty clusters keep their previous
  * centroid (standard Lloyd's).
  *
  * Under the full hash gate since r11: both stages replay in DuckDB
  * as unrolled Lloyd chains
  * (graft.oracle.SimilarityOracle.embKmeansOracleSql — the bpe_train
  * unroll precedent), on top of the spec that recovers
  * planted clusters exactly and pins repartition-proofness.
  */
object Kmeans {

  /** The fitted k×d centroid matrix over an arbitrary (vec_id,
    * embedding) frame — the trainer behind [[kmeansOn]], exposed so
    * other operators can share the exact deterministic fit the oracle
    * replays. Init is a driver-side spherical fit on the bounded head
    * sample — right for REPORT-knob k's (emb_kmeans's k=8); operators
    * whose k GROWS with the corpus use [[fittedCentroidsSeeded]]
    * (whose init never collects more than k rows). */
  def fittedCentroids(
      emb: DataFrame, k: Int, rounds: Int, sampleCap: Int = 1024): Array[Array[Double]] = {
    // Deterministic init: spherical k-means on the bounded head sample
    // (the IVF coarse-quantizer fit) — good seeds, then the corpus
    // rounds below do the real work.
    val sample = emb.filter(col("vec_id") < sampleCap).orderBy(col("vec_id"))
      .collect().map(_.getSeq[Float](1).toArray)
    lloydRounds(emb, Centroids.fit(sample, k, iters = 10), rounds)
  }

  /** `rounds` distributed Lloyd rounds over the FULL corpus from an
    * explicit k×d seed matrix — the body every trainer shares: per
    * round, the codegen'd assignment scan plus ONE map-side-combinable
    * (cluster, dim) shuffle whose output is the k×d quantized moment
    * frame; only that frame reaches the driver, never vectors. */
  def lloydRounds(emb: DataFrame, init: Array[Array[Double]],
      rounds: Int): Array[Array[Double]] = {
    val q20 = (1L << 20).toDouble
    val k = init.length
    val dim = init.head.length
    var cents = init
    // Parallelism floor ONCE for all rounds: the assignment scan does
    // k×d work per row, which a single-row-group source would
    // single-thread (Tables.withMinParallelism — identity at
    // production layouts).
    val embP = graft.sources.Tables.withMinParallelism(emb)
    (1 to rounds).foreach { _ =>
      // (cluster, dim) -> exact quantized component sum. Spherical
      // re-estimation normalizes the sum, so the member count divides
      // out and only the k×d sums come back to the driver.
      val moments = assignedTo(embP, cents)
        .select(col("cluster"), posexplode(col("embedding")))
        .groupBy(col("cluster"), col("pos"))
        .agg(sum(round(col("col").cast("double") * q20).cast("decimal(38,0)")).as("s"))
        .collect()
      val sums = Array.fill(k)(new Array[Double](dim))
      moments.foreach { r =>
        sums(r.getAs[Int]("cluster"))(r.getAs[Int]("pos")) =
          r.getAs[java.math.BigDecimal]("s").doubleValue() / q20
      }
      cents = sums.zipWithIndex.map { case (s, c) =>
        val n = math.sqrt(s.map(x => x * x).sum)
        if (n == 0.0) cents(c) else s.map(_ / n)
      }
    }
    cents
  }

  /** Smallest power of 2 (from 16) satisfying `cond`, stopping at
    * `ceiling`, capped at the corpus count n — ONE definition of the
    * doubling rule behind both adaptive-k operators (r16 review: the
    * kNN and semantic copies differed only in the predicate and were
    * hand-synced against the oracle's adaptiveKdefSql, which already
    * factors the same shape). */
  def adaptivePow2(n: Long, ceiling: Long)(cond: Long => Boolean): Int = {
    val adaptive = Iterator.iterate(16L)(_ * 2)
      .find(k => cond(k) || k >= ceiling).get
    math.max(1L, math.min(adaptive, n)).toInt
  }

  /** The k hash-ordered seed vectors of a corpus — the rows at the k
    * smallest (md5(vec_id || salt), vec_id) keys, unit-normalized.
    * This is deterministic Forgy init that SCALES WITH k (VERDICT r15
    * #1: the driver-sample init caps k at the sample size, which
    * capped the kNN-graph list count at 1024 and degenerated blocked
    * kNN toward n²/1024 past ~1M vectors): the md5 order is
    * effectively uniform-random but key-derived (the md5-ppm
    * discipline — stable under re-runs and data relocation), the scan
    * is one bounded-heap TakeOrdered pass (never a global sort), and
    * only k rows reach the driver. Driver/plan footprint is k·d
    * doubles — the seeds collected here and the same matrix embedded
    * in every assignment expression — so each adaptive rule carries a
    * ceiling sized to keep that bounded: 2²⁰ for the √n kNN rule
    * (binds past 10¹² vectors), 2¹⁷ for the linear-in-n semantic rule
    * (~67 MB of centroids at the ceiling — the scale at which a real
    * deployment shards the corpus before semantic dedup). */
  def hashSeeds(emb: DataFrame, k: Int, salt: String): Array[Array[Double]] = {
    require(k >= 1, s"hashSeeds: k=$k")
    val rows = emb
      .orderBy(md5(concat(col("vec_id").cast("string"), lit(salt)).cast("binary")),
        col("vec_id"))
      .limit(k)
      .select(col("embedding"))
      .collect()
    require(rows.length == k,
      s"hashSeeds: k=$k exceeds corpus size ${rows.length} — cap k at the corpus count")
    rows.map { r =>
      val v = r.getSeq[Float](0).toArray.map(_.toDouble)
      val n = math.sqrt(v.map(x => x * x).sum)
      if (n == 0.0) v else v.map(_ / n)
    }
  }

  /** [[fittedCentroids]] with [[hashSeeds]] init — the trainer for
    * operators whose k grows with the corpus (the kNN-graph quantizer's
    * k ≈ √n, dedup_semantic's k ≈ n/128): no stage of the fit collects
    * more than k rows, so nothing caps k below the corpus size. Every
    * vector still votes in every Lloyd round. */
  def fittedCentroidsSeeded(emb: DataFrame, k: Int, rounds: Int,
      salt: String): Array[Array[Double]] =
    lloydRounds(emb, hashSeeds(emb, k, salt), rounds)

  /** `emb` plus its nearest-centroid `cluster` column (codegen'd, the
    * centroids embedded in the plan). */
  def assignedTo(emb: DataFrame, cents: Array[Array[Double]]): DataFrame =
    emb.withColumn("cluster", Centroids.lists(col("embedding"), cents))

  /** The report-knob trainer memoized per (session, dir, k, rounds,
    * sampleCap) — the [[graft.similarity.Similarity.knnPrep]] /
    * Dedup.semantic discipline applied to the LAST unmemoized trainer
    * (OPTIMIZATION r16, guide §1.2 step 1: emb_kmeans and
    * emb_label_purity each re-ran the identical 5-round corpus fit —
    * 10 corpus passes per bench pair where 5 suffice; at 100 TB the
    * fit IS the dominant cost of both reports). */
  private val fitCache =
    new graft.functions.SessionScopedCache[Array[Array[Double]]]("similarity.kmeans_fit")

  private[graft] def fittedCentroidsFor(
      spark: SparkSession, dir: String, k: Int, rounds: Int,
      sampleCap: Int = 1024): Array[Array[Double]] =
    fitCache.getOrCompute(spark, dir, s"$k#$rounds#$sampleCap") {
      fittedCentroids(
        Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding")),
        k, rounds, sampleCap)
    }

  /** One row per cluster over an arbitrary (vec_id, embedding) frame:
    * size, corpus share, mean/min cosine of members to their final
    * centroid. */
  def kmeansOn(embRaw: DataFrame, k: Int, rounds: Int, sampleCap: Int = 1024): DataFrame =
    kmeansAudit(embRaw, fittedCentroids(embRaw, k, rounds, sampleCap), None)

  /** The audit pass over an explicit fitted codebook; `totalOpt` is
    * the corpus row count when the caller already knows it from
    * catalog/footer metadata (guide §5: no count() job for a number
    * the parquet footers carry). */
  private def kmeansAudit(
      embRaw: DataFrame, cents: Array[Array[Double]],
      totalOpt: Option[Long]): DataFrame = {
    // Floor ONLY the audit scan here — the trainer's rounds floor
    // their own scan inside lloydRounds (r16 review: double-wrapping
    // would probe an already-repartitioned frame).
    val emb = graft.sources.Tables.withMinParallelism(embRaw)

    // Final audit pass: cosine of each member to its centroid, with
    // the fitted k×d centroids riding in as LITERAL arrays (the
    // fitted-codebook pattern — no join; clusters index the literal).
    val total = totalOpt.getOrElse(emb.count()).toDouble
    val centLit = array(cents.toIndexedSeq.map(c =>
      array(c.toIndexedSeq.map(lit): _*)): _*)
    val cent = element_at(centLit, col("cluster") + 1)
    val v = col("embedding").cast("array<double>")
    val cos = dot(v, cent) / sqrt(dot(v, v) * dot(cent, cent))
    assignedTo(emb, cents)
      .select(col("cluster"),
        round(cos, 6).cast("decimal(12,6)").cast("double").as("cos"))
      .groupBy(col("cluster"))
      .agg(
        count(lit(1)).as("n_points"),
        // ratio4 over micro-unit integers (the 6-dec cos quantum):
        // re-rounding an already-6-dec-rounded double to 4 places
        // lands on an exact .xxxx50 decimal tie for ~1% of values,
        // where the engines' double rounding legitimately differs.
        Exact.ratio4((Exact.dsum(col("cos"), 6) * lit(1000000)),
          count(lit(1)) * lit(1000000L)).as("mean_cos"),
        Exact.ratio4(round(min(col("cos")) * lit(1000000.0), 0),
          lit(1000000L)).as("min_cos"))
      .withColumn("share",
        Exact.ratio4(col("n_points"), lit(total.toLong)))
      .select(col("cluster"), col("n_points"), col("share"),
        col("mean_cos"), col("min_cos"))
      .orderBy(col("cluster"))
  }

  /** Order-fixed fold dot product (left-to-right `aggregate`, the
    * deterministic-IEEE convention the ANN operators share). */
  private def dot(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  def embKmeans(spark: SparkSession, dir: String, k: Int = 8, rounds: Int = 5): DataFrame =
    kmeansAudit(
      Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding")),
      fittedCentroidsFor(spark, dir, k, rounds),
      Some(Tables.parquetRowCount(spark, dir, "embeddings")))

  /** #40n emb_label_purity: per-cluster LABEL composition of the
    * corpus k-means fit against the embeddings' ground-truth `label`
    * column — the external-validity audit beside [[kmeansOn]]'s
    * internal one (mean/min cosine says the clusters are TIGHT; this
    * says whether they mean anything: a cluster whose members share a
    * label is recovering real structure, a uniform mix is geometry
    * without semantics). One row per cluster: size, distinct labels,
    * the majority label with its count (ties break label ASC — the
    * deterministic-ties convention), and purity = n_top/n_points as
    * the tie-free [[Exact.ratio4]].
    *
    * Scale shape: the same codegen'd literal-centroid assignment scan
    * as the audit pass (no join — clusters index the embedded
    * codebook), then ONE (cluster, label) shuffle whose output is
    * k × |labels| rows — dimension-sized, so the majority window and
    * the final rollup run on a frame that fits anywhere. The trainer
    * cost is the documented 5 corpus passes ([[fittedCentroids]]),
    * identical to emb_kmeans. */
  def labelPurity(
      spark: SparkSession, dir: String, k: Int = 8, rounds: Int = 5): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"), col("label"))
    val cents = fittedCentroidsFor(spark, dir, k, rounds)
    val cell = assignedTo(emb, cents)
      .groupBy(col("cluster"), col("label"))
      .agg(count(lit(1)).as("n"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cluster")).orderBy(col("n").desc, col("label"))
    cell.withColumn("rn", row_number().over(w))
      .groupBy(col("cluster"))
      .agg(
        sum(col("n")).as("n_points"),
        count(lit(1)).as("n_labels"),
        max(when(col("rn") === 1, col("label"))).as("top_label"),
        max(when(col("rn") === 1, col("n"))).as("n_top"))
      .select(col("cluster"), col("n_points"), col("n_labels"),
        col("top_label"), col("n_top"),
        Exact.ratio4(col("n_top"), col("n_points")).as("purity"))
      .orderBy(col("cluster"))
  }
}
