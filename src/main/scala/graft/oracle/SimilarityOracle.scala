package graft.oracle

import graft.functions.Exact.ratio4Sql

import Chains._

/** Oracle SQL of the embedding queries: ANN (LSH, IVF, PQ), k-means,
  * kNN graph and embedding dedup, each trainer replayed as an
  * unrolled CTE chain. */
private[oracle] object SimilarityOracle {

  /** Hyperplane VALUES rows shared by the embedding-LSH replays:
    * the engine's Gaussian planes (seed-derived constants of the
    * algorithm, like hash constants — graft.functions.HyperplaneBits
    * regenerates them identically on every executor) inlined as
    * DOUBLE[] literals via shortest-round-trip rendering, so DuckDB's
    * correctly-rounded literal parse reconstructs the identical binary
    * doubles and every `list_dot_product` sequential fold matches the
    * kernel's accumulation bit-for-bit. */
  private def hyperplaneValuesSql(seeds: Seq[Long], nbits: Int, dim: Int): String =
    seeds.zipWithIndex.flatMap { case (seed, t) =>
      graft.functions.HyperplaneBits.planesFor(seed, nbits, dim).zipWithIndex.map {
        case (pl, b) =>
          s"  ($t, $b, [${pl.map(java.lang.Double.toString).mkString(", ")}]::DOUBLE[])"
      }
    }.mkString(",\n")

  /** Per-id LSH bucket CTE over the `pl(table_id, bit, pv)` plane rows:
    * sign-bit of the plane dot, OR-folded as a sum of disjoint powers —
    * exactly [[graft.functions.HyperplaneBits]]. SUM goes through
    * HUGEINT, so the bucket is cast back to BIGINT (the engine's Long). */
  private def hyperplaneBucketsSql(name: String, src: String, idCol: String,
      vCol: String): String =
    s"""$name AS MATERIALIZED (
      |  SELECT e.$idCol, p.table_id,
      |    CAST(SUM(CASE WHEN list_dot_product(e.$vCol, p.pv) >= 0
      |      THEN (1::BIGINT << p.bit) ELSE 0 END) AS BIGINT) AS bucket
      |  FROM $src e CROSS JOIN pl p GROUP BY 1, 2)""".stripMargin

  /** dedup_embedding under the hard gate: the L=4 × 8-bit hyperplane
    * bucketing (planes inlined as literals), the [2, 500] bucket-size
    * cap, the bucket self-join, exact cosine, and the per-vector
    * argmax by (cos, cand_id) — plus the two sampled audit scalars,
    * both stated in their exact forms (0/1 mean; floored-ppm integer
    * mean) so no order-dependent double sum enters the hash. */
  private def embeddingDedupOracleSql: String =
    s"""WITH pl(table_id, bit, pv) AS (VALUES
      |${hyperplaneValuesSql(seeds = (1L to 4L), nbits = 8, dim = 64)}),
      |emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |${hyperplaneBucketsSql("bits", "emb", "vec_id", "v")},
      |ok AS (SELECT table_id, bucket FROM bits GROUP BY 1, 2
      |       HAVING COUNT(*) BETWEEN 2 AND 500),
      |pm AS (SELECT b.vec_id, b.table_id, b.bucket
      |       FROM bits b JOIN ok USING (table_id, bucket)),
      |prs AS (SELECT DISTINCT a.vec_id, b.vec_id AS cand_id
      |  FROM pm a JOIN pm b ON a.table_id = b.table_id AND a.bucket = b.bucket
      |    AND a.vec_id <> b.vec_id),
      |sc AS MATERIALIZED (SELECT p.vec_id, p.cand_id,
      |    list_dot_product(ea.v, eb.v)
      |      / sqrt(list_dot_product(ea.v, ea.v) * list_dot_product(eb.v, eb.v)) AS cos
      |  FROM prs p JOIN emb ea ON ea.vec_id = p.vec_id
      |             JOIN emb eb ON eb.vec_id = p.cand_id),
      |best AS MATERIALIZED (SELECT vec_id, cand_id AS best_match,
      |    cos AS best_cos, n_candidates
      |  FROM (SELECT vec_id, cand_id, cos,
      |      COUNT(*) OVER (PARTITION BY vec_id) AS n_candidates,
      |      ROW_NUMBER() OVER (PARTITION BY vec_id
      |        ORDER BY cos DESC, cand_id DESC) AS rnk
      |    FROM sc) WHERE rnk = 1),
      |tsc AS (SELECT q.vec_id AS q_id, c.vec_id AS cand,
      |    list_dot_product(q.v, c.v)
      |      / sqrt(list_dot_product(q.v, q.v) * list_dot_product(c.v, c.v)) AS cos
      |  FROM emb q JOIN emb c ON c.vec_id <> q.vec_id WHERE q.vec_id < 100),
      |tn AS (SELECT q_id, cand AS true_nn, cos AS true_cos FROM (
      |    SELECT q_id, cand, cos,
      |      ROW_NUMBER() OVER (PARTITION BY q_id
      |        ORDER BY cos DESC, cand DESC) AS rnk
      |    FROM tsc) WHERE rnk = 1),
      |st AS (SELECT
      |    AVG(CASE WHEN b.best_match = t.true_nn THEN CAST(1 AS DOUBLE)
      |             ELSE CAST(0 AS DOUBLE) END) AS nn_recall_sampled,
      |    (CAST(SUM(CAST(FLOOR(1e6 * (b.best_cos / t.true_cos)) AS BIGINT)) AS BIGINT)
      |      // NULLIF(COUNT(*), 0)) / 1e6 AS nn_cos_ratio_sampled
      |  FROM best b JOIN tn t ON b.vec_id = t.q_id)
      |SELECT b.vec_id, b.best_match, b.best_cos, b.n_candidates,
      |  st.nn_recall_sampled, st.nn_cos_ratio_sampled
      |FROM best b CROSS JOIN st ORDER BY b.vec_id""".stripMargin

  /** ann_lsh_topk under the hard gate: L=8 × 6-bit hyperplane tables
    * (query side AND corpus side), bucket-equality candidates, exact
    * cosine re-rank to top-10 with the (cos DESC, vec_id ASC) tie rule
    * the bounded-heap aggregate uses, and the per-query recall@10
    * against the brute-force answer — the same exact-cosine fold the
    * ann_bruteforce_topk oracle already pins. */
  private def annLshOracleSql: String =
    s"""WITH pl(table_id, bit, pv) AS (VALUES
      |${hyperplaneValuesSql(seeds = (100L to 107L), nbits = 6, dim = 64)}),
      |emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |$QueryCte,
      |${hyperplaneBucketsSql("cb", "emb", "vec_id", "v")},
      |${hyperplaneBucketsSql("qb", "q", "query_id", "qv")},
      |cand AS (SELECT DISTINCT qb.query_id, cb.vec_id
      |  FROM cb JOIN qb ON cb.table_id = qb.table_id AND cb.bucket = qb.bucket
      |  WHERE cb.vec_id <> qb.query_id),
      |""".stripMargin + rerankTailSql("cand", "c")

  // ---- shared fragments of the ANN and k-means replays ----------------

  /** Every embedding as a DOUBLE[]: `emb`(vec_id, v). */
  private val EmbCte =
    "emb AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)"

  /** The ANN queries: `q`(query_id, qv), the vectors with id < 10. */
  private val QueryCte = "q AS (SELECT vec_id AS query_id, v AS qv FROM emb WHERE vec_id < 10)"

  /** The shared ANN oracle tail over the candidate relation `cands`
    * (alias `a`; query_id, vec_id) plus `q`/`emb`: each candidate's
    * exact cosine `sc`, top-10 with the bounded-heap (cos DESC, vec_id
    * ASC) tie rule, brute-force truth, and per-query recall@10 — the
    * LSH oracle's ending, shared verbatim by the IVF and PQ replays. */
  private def rerankTailSql(cands: String, a: String): String = {
    val from = s"  FROM $cands $a JOIN "
    s"""sc AS (SELECT $a.query_id, $a.vec_id,
      |    list_dot_product(qq.qv, ee.v)
      |      / sqrt(list_dot_product(qq.qv, qq.qv) * list_dot_product(ee.v, ee.v)) AS cos
      |${from}q qq ON qq.query_id = $a.query_id
      |${" " * (from.length - 5)}JOIN emb ee ON ee.vec_id = $a.vec_id),
      |apx AS MATERIALIZED (SELECT query_id, vec_id, cos, CAST(rnk AS INT) AS rank
      |  FROM (SELECT query_id, vec_id, cos, ROW_NUMBER() OVER (
      |      PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rnk FROM sc)
      |  WHERE rnk <= 10),
      |esc AS (SELECT qq.query_id, ee.vec_id,
      |    list_dot_product(qq.qv, ee.v)
      |      / sqrt(list_dot_product(qq.qv, qq.qv) * list_dot_product(ee.v, ee.v)) AS cos
      |  FROM q qq JOIN emb ee ON ee.vec_id <> qq.query_id),
      |exact AS (SELECT query_id, vec_id FROM (SELECT query_id, vec_id,
      |    ROW_NUMBER() OVER (PARTITION BY query_id
      |      ORDER BY cos DESC, vec_id) AS rnk FROM esc) WHERE rnk <= 10),
      |rc AS (SELECT a.query_id, COUNT(*) AS n
      |  FROM apx a JOIN exact e ON e.query_id = a.query_id AND e.vec_id = a.vec_id
      |  GROUP BY 1)
      |SELECT a.query_id, a.vec_id, a.cos, a.rank,
      |  COALESCE(CAST(rc.n AS DOUBLE) / 10, CAST(0 AS DOUBLE)) AS recall_at_k
      |FROM apx a LEFT JOIN rc USING (query_id)
      |ORDER BY a.query_id, a.rank""".stripMargin
  }

  /** Unit-norm renormalization of a DOUBLE[] expression — the fit's
    * `normalize` (left-to-right sum of squares via list_dot_product,
    * zero-norm vectors pass through). */
  private def normCvSql(src: String) =
    s"CASE WHEN list_dot_product($src, $src) = 0 THEN $src " +
    s"ELSE list_transform($src, x -> x / sqrt(list_dot_product($src, $src))) END"

  /** NearestCentroids' per-candidate score for vector `v` against the
    * centroid alias `c.cv` — dot/‖v‖ with the zero-norm guard. */
  private def nearestCentroidScoreSql(v: String) =
    s"CASE WHEN sqrt(list_dot_product($v, $v)) = 0 THEN CAST(0 AS DOUBLE) " +
    s"ELSE list_dot_product($v, c.cv) / sqrt(list_dot_product($v, $v)) END"

  /** The [[graft.functions.Centroids.fit]] spherical k-means replayed
    * as unrolled CTE stages: seeds `c0` at evenly-spaced ranks of the
    * `samp` CTE (which the caller must have emitted, with columns
    * (v DOUBLE[], rnk)), then `iters` Lloyd rounds of raw-dot
    * assignment (strict-greater tie rule → (dot DESC, c ASC)),
    * ROUND(x·2²⁰) BIGINT component sums, and renormalization. Leaves
    * the fitted centroids in `c<iters>`(c INT, cv DOUBLE[]). */
  private def sphericalFitSqlParts(k: Int, iters: Int, dim: Int): Seq[String] =
    Seq(
      "nn AS (SELECT COUNT(*) AS n FROM samp)",
      s"""c0 AS MATERIALIZED (
        |  SELECT k.c, ${normCvSql("s.v")} AS cv
        |  FROM (SELECT UNNEST(range(0, $k))::INT AS c) k
        |  CROSS JOIN nn nn
        |  JOIN samp s ON s.rnk = (k.c * nn.n) // ($k))""".stripMargin) ++
    (1 to iters).flatMap { i =>
      val prev = s"c${i - 1}"
      Seq(
        s"""a$i AS MATERIALIZED (
          |  SELECT rnk, v, c FROM (
          |    SELECT s.rnk, s.v, c.c,
          |      ROW_NUMBER() OVER (PARTITION BY s.rnk
          |        ORDER BY list_dot_product(s.v, c.cv) DESC, c.c) AS rn
          |    FROM samp s CROSS JOIN $prev c) WHERE rn = 1)""".stripMargin,
        s"""m$i AS MATERIALIZED (
          |  SELECT c, list(sm / 1048576.0 ORDER BY i) AS mv FROM (
          |    SELECT a.c, d.i, SUM(CAST(ROUND(a.v[d.i] * 1048576.0, 0) AS BIGINT)) AS sm
          |    FROM a$i a, UNNEST(range(1, ${dim + 1})) AS d(i) GROUP BY 1, 2) GROUP BY c)""".stripMargin,
        s"""c$i AS MATERIALIZED (
          |  SELECT p.c, CASE WHEN m.mv IS NULL THEN p.cv
          |    ELSE ${normCvSql("m.mv")} END AS cv
          |  FROM $prev p LEFT JOIN m$i m ON m.c = p.c)""".stripMargin)
    }

  /** One corpus Lloyd update after assignment round `r` (`<p>ka<r>`,
    * with v and cluster): per-(cluster, dim) ROUND(x·2²⁰) HUGEINT
    * component sums (the engine's DECIMAL(38,0) convention, order-free
    * by construction), then the renormalized centroids `<p>kc<r>`;
    * a cluster left empty, or with a zero sum, keeps its `prev`
    * centroid. Shared by the seeded and the sample-fit trainers. */
  private def lloydUpdateCtes(p: String, r: Int, prev: String, dim: Int): Seq[String] = Seq(
    s"""${p}km$r AS MATERIALIZED (
      |  SELECT cluster, list(CAST(sm AS DOUBLE) / 1048576.0 ORDER BY i) AS mv FROM (
      |    SELECT a.cluster, d.i, SUM(CAST(ROUND(a.v[d.i] * 1048576.0, 0) AS HUGEINT)) AS sm
      |    FROM ${p}ka$r a, UNNEST(range(1, ${dim + 1})) AS d(i) GROUP BY 1, 2) GROUP BY cluster)""".stripMargin,
    s"""${p}kc$r AS MATERIALIZED (
      |  SELECT p.c, CASE WHEN m.mv IS NULL OR list_dot_product(m.mv, m.mv) = 0 THEN p.cv
      |    ELSE list_transform(m.mv, x -> x / sqrt(list_dot_product(m.mv, m.mv))) END AS cv
      |  FROM $prev p LEFT JOIN ${p}km$r m ON m.cluster = p.c)""".stripMargin)

  /** The [[graft.similarity.Kmeans.fittedCentroidsSeeded]] trainer
    * replayed as unrolled CTE stages (requires `emb`(vec_id, v)):
    * `${p}c0` seeds at the kExpr smallest (md5(vec_id || salt),
    * vec_id) keys, unit-normalized — the hash-ordered Forgy init that
    * scales with k — then `rounds` FULL-CORPUS Lloyd rounds (raw-dot
    * assignment with ties to the lower centroid id,
    * [[lloydUpdateCtes]]), leaving the fitted centroids in
    * `${p}kc<rounds>` and the corpus assignment in
    * `${p}fasn`(vec_id, v, cluster). */
  private def seededTrainerCtes(p: String, kExpr: String, salt: String,
      rounds: Int, dim: Int): Seq[String] = {
    val assignScore = nearestCentroidScoreSql("e.v")
    // Assignment as aggregates, not a window: per round the
    // naive n×k score relation is materialized once, and the rn=1
    // pick becomes MAX(score) + MIN(c) among the ties — the identical
    // (score DESC, c ASC) rule, but two hash aggregates instead of a
    // partitioned sort, which keeps the deliberately-naive chain
    // feasible in the sf1 sweep at the adaptive k (the windowed form
    // measured ~117 s for one k=256 chain; dedup_knn_cc carries two).
    def asnCte(name: String, scName: String, prev: String) = Seq(
      s"""$scName AS MATERIALIZED (
        |  SELECT e.vec_id, c.c, $assignScore AS sc
        |  FROM emb e CROSS JOIN $prev c)""".stripMargin,
      s"""$name AS MATERIALIZED (
        |  SELECT a.vec_id, e.v, a.cluster FROM (
        |    SELECT s.vec_id, MIN(s.c) AS cluster
        |    FROM $scName s
        |    JOIN (SELECT vec_id, MAX(sc) AS m FROM $scName GROUP BY vec_id) mx
        |      ON mx.vec_id = s.vec_id AND s.sc = mx.m
        |    GROUP BY s.vec_id) a
        |  JOIN emb e USING (vec_id))""".stripMargin)
    def prev(r: Int) = if (r == 0) s"${p}c0" else s"${p}kc$r"
    Seq(
      s"""${p}c0 AS MATERIALIZED (
        |  SELECT CAST(rn - 1 AS INTEGER) AS c, ${normCvSql("v")} AS cv FROM (
        |    SELECT v, ROW_NUMBER() OVER (
        |      ORDER BY md5(CAST(vec_id AS VARCHAR) || '$salt'), vec_id) AS rn
        |    FROM emb) WHERE rn <= $kExpr)""".stripMargin) ++
    (1 to rounds).flatMap { r =>
      asnCte(s"${p}ka$r", s"${p}ks$r", prev(r - 1)) ++ lloydUpdateCtes(p, r, prev(r - 1), dim)
    } ++ asnCte(s"${p}fasn", s"${p}fsc", prev(rounds))
  }

  /** The adaptive-k CTE shared by the seeded-trainer consumers:
    * smallest power of 2 (from 16, doubling to `ceiling`) satisfying
    * `cond(k)` against the corpus count, capped at the corpus size —
    * the exact Kmeans.adaptivePow2 doubling rule the engine computes
    * from the parquet footers. */
  private def adaptiveKdefSql(
      p: String, ceiling: Long, cond: String => String): String = {
    val powers = Iterator.iterate(16L)(_ * 2).takeWhile(_ <= ceiling).mkString(", ")
    s"""${p}kdef AS (SELECT GREATEST(1, LEAST(MIN(k),
      |    (SELECT COUNT(*) FROM emb)))::INT AS kk
      |  FROM (SELECT CAST(UNNEST([$powers]) AS BIGINT) AS k)
      |  WHERE ${cond("k")} OR k = $ceiling)""".stripMargin
  }

  /** kNN-graph list-count rule: nLists² ≥ n, ceiling 2²⁰. */
  private def knnKdefSql(p: String): String =
    adaptiveKdefSql(p, 1L << 20, k => s"$k * $k >= (SELECT COUNT(*) FROM emb)")

  /** dedup_semantic cluster-count rule: k ≥ n/128 (mean cluster ≈ 128,
    * Dedup.adaptiveSemanticK), ceiling 2¹⁷. */
  private def semKdefSql(p: String): String =
    adaptiveKdefSql(p, 1L << 17, k => s"$k * 128 >= (SELECT COUNT(*) FROM emb)")

  // ---- the IVF index: one trainer sample, one coarse quantizer ---------

  /** The IVF/PQ trainer sample of `src`: every third vector by id, the
    * first 1024, ranked from 0 — `samp`(vec_id, v, rnk), the
    * engine's one trainer sample recipe. */
  private def ivfSampleCte(src: String): String =
    s"""samp AS MATERIALIZED (
      |  SELECT vec_id, v, ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS rnk
      |  FROM (SELECT vec_id, v FROM $src WHERE vec_id % 3 = 0 ORDER BY vec_id LIMIT 1024))""".stripMargin

  /** The IVF coarse quantizer: 16 lists fit by 5 spherical Lloyd
    * rounds ([[sphericalFitSqlParts]]) over `src`'s trainer sample;
    * the fitted centroids end in `c5`. */
  private def ivfFitCtes(src: String): Seq[String] =
    ivfSampleCte(src) +: sphericalFitSqlParts(16, 5, 64)

  /** The frozen-quantizer split: each vector's md5-ppm `#ivf` bucket,
    * `spl`(vec_id, b). The corpus slice is b < 900 000. */
  private val IvfSplitCte: String =
    """spl AS (SELECT vec_id,
      |    CAST(CAST(concat('0x', substring(
      |      md5(CAST(vec_id AS VARCHAR) || '#ivf'), 1, 12)) AS UBIGINT)
      |      % 1000000 AS BIGINT) AS b
      |  FROM embeddings)""".stripMargin

  /** The embeddings whose [[IvfSplitCte]] bucket passes `cond`. */
  private def sliceCte(name: String, cond: String): String =
    s"$name AS MATERIALIZED (SELECT e.* FROM emb e JOIN spl USING (vec_id) WHERE spl.b $cond)"

  /** The frozen-quantizer replay (vectors are row-local, so slicing
    * before fitting is the exact contract the engine runs): `emb`, the
    * split, the corpus slice `corp`, the `slices` given, and the IVF
    * fit over the corpus slice's sample. */
  private def frozenFitCtes(slices: String*): Seq[String] =
    Seq(EmbCte, IvfSplitCte, sliceCte("corp", "< 900000")) ++ slices ++ ivfFitCtes("corp")

  /** Each vector of `src` on its nearest fitted list under
    * NearestCentroids' (dot/‖v‖ DESC, c ASC) order:
    * `casn`(vec_id, centroid). */
  private def casnCte(src: String): String =
    s"""casn AS MATERIALIZED (
      |  SELECT vec_id, c AS centroid FROM (
      |    SELECT e.vec_id, c.c, ROW_NUMBER() OVER (PARTITION BY e.vec_id
      |      ORDER BY ${nearestCentroidScoreSql("e.v")} DESC, c.c) AS rn
      |    FROM $src e CROSS JOIN c5 c) WHERE rn = 1)""".stripMargin

  /** Each query's `depth` nearest lists, in the same order:
    * `qprobe`(query_id, centroid`extra`). */
  private def queryProbeCte(depth: Int, extra: String = ""): String =
    s"""qprobe AS (
      |  SELECT query_id, c AS centroid$extra FROM (
      |    SELECT qq.query_id, c.c, ROW_NUMBER() OVER (PARTITION BY qq.query_id
      |      ORDER BY ${nearestCentroidScoreSql("qq.qv")} DESC, c.c) AS rn
      |    FROM q qq CROSS JOIN c5 c) WHERE rn <= $depth)""".stripMargin

  /** The corpus vectors of the queries' probed lists, the query itself
    * excluded: `cand`(query_id, vec_id). */
  private val IvfCandCte: String =
    """cand AS (SELECT qp.query_id, ca.vec_id
      |  FROM casn ca JOIN qprobe qp USING (centroid)
      |  WHERE ca.vec_id <> qp.query_id)""".stripMargin

  /** Each vector of the batch slice `src` probed into its 4 nearest
    * lists, and its exact cosine to every corpus vector there:
    * `qprobe`(new_id, centroid) and `sc`(new_id, corpus_id, cos). */
  private def batchProbeCtes(src: String): Seq[String] = Seq(
    s"""qprobe AS (
      |  SELECT new_id, c AS centroid FROM (
      |    SELECT qq.vec_id AS new_id, c.c, ROW_NUMBER() OVER (PARTITION BY qq.vec_id
      |      ORDER BY ${nearestCentroidScoreSql("qq.v")} DESC, c.c) AS rn
      |    FROM $src qq CROSS JOIN c5 c) WHERE rn <= 4)""".stripMargin,
    s"""sc AS (SELECT qp.new_id, ca.vec_id AS corpus_id,
      |    list_dot_product(qq.v, ee.v)
      |      / sqrt(list_dot_product(qq.v, qq.v) * list_dot_product(ee.v, ee.v)) AS cos
      |  FROM casn ca JOIN qprobe qp USING (centroid)
      |  JOIN $src qq ON qq.vec_id = qp.new_id
      |  JOIN corp ee ON ee.vec_id = ca.vec_id)""".stripMargin)

  /** ann_ivf_topk under the hard gate: the ENTIRE
    * spherical k-means fit is replayed as an unrolled 5-round Lloyd
    * chain over the deterministic sample — seeds at evenly-spaced
    * sample ranks floor(c·n/16), per-round assignment by raw dot
    * (ties to the lower centroid id, the kernel's strict-greater
    * rule), component sums as ROUND(x·2²⁰) BIGINTs (the
    * Centroids.sparkRound convention emb_quantize hash-proved), and
    * unit-norm renormalization via the same left-to-right
    * list_dot_product fold the cosine oracles pin. Corpus/query
    * assignment then replays NearestCentroids' (dot/‖v‖ DESC, c ASC)
    * order, and the tail (exact cosine re-rank to top-10 + recall@10)
    * is the ann_lsh oracle's verbatim. */
  private def annIvfOracleSql: String =
    withCtes((EmbCte +: ivfFitCtes("emb")) ++
      Seq(casnCte("emb"), QueryCte, queryProbeCte(4), IvfCandCte)) +
      ",\n" + rerankTailSql("cand", "c")

  /** ann_incremental under the hard gate: the FROZEN-quantizer replay —
    * the [[annIvfOracleSql]] Lloyd chain fit over the CORPUS SLICE's
    * deterministic sample (md5-ppm `#ivf` buckets < 900 000; vectors
    * are row-local so slicing before fitting is the exact contract the
    * engine runs), corpus-slice assignment, per-batch-vector top-4
    * probe, exact cosine re-rank over the probed lists, and the
    * per-batch-vector rollup under the (cos DESC, corpus_id ASC) tie
    * rule with the ≥ 0.9 is_near verdict. */
  private def annIncrementalOracleSql: String =
    withCtes(frozenFitCtes(sliceCte("inc", ">= 900000")) ++
      (casnCte("corp") +: batchProbeCtes("inc")) :+
      """best AS (SELECT new_id,
        |    CAST(COUNT(*) AS BIGINT) AS n_candidates,
        |    MAX(CASE WHEN rn = 1 THEN corpus_id END) AS best_match,
        |    MAX(CASE WHEN rn = 1 THEN cos END) AS best_cos
        |  FROM (SELECT new_id, corpus_id, cos, ROW_NUMBER() OVER (
        |      PARTITION BY new_id ORDER BY cos DESC, corpus_id) AS rn FROM sc)
        |  GROUP BY new_id)""".stripMargin) + """
      |SELECT i.vec_id,
      |  COALESCE(b.n_candidates, 0) AS n_candidates,
      |  b.best_match, b.best_cos,
      |  COALESCE(b.best_cos >= 0.9, FALSE) AS is_near
      |FROM inc i LEFT JOIN best b ON b.new_id = i.vec_id
      |ORDER BY i.vec_id""".stripMargin

  /** ann_recall_audit under the hard gate: the [[annIncrementalOracleSql]]
    * frozen-fit replay, the md5-ppm ≥ 990 000 audit sample, the IVF
    * probe + re-rank restricted to the sample, the exact brute-force
    * best over the same corpus slice, and the 1-row match/scan
    * rollup with integer-count ratio4 presentation. */
  private def annRecallAuditOracleSql: String =
    withCtes(frozenFitCtes(sliceCte("aud", ">= 990000")) ++
      (casnCte("corp") +: batchProbeCtes("aud")) ++ Seq(
      """best AS (SELECT new_id,
        |    CAST(COUNT(*) AS BIGINT) AS n_candidates,
        |    MAX(CASE WHEN rn = 1 THEN corpus_id END) AS best_match
        |  FROM (SELECT new_id, corpus_id, cos, ROW_NUMBER() OVER (
        |      PARTITION BY new_id ORDER BY cos DESC, corpus_id) AS rn FROM sc)
        |  GROUP BY new_id)""".stripMargin,
      """bb AS (SELECT new_id, corpus_id AS true_match FROM (
        |    SELECT a.vec_id AS new_id, c.vec_id AS corpus_id,
        |      ROW_NUMBER() OVER (PARTITION BY a.vec_id ORDER BY
        |        list_dot_product(a.v, c.v)
        |          / sqrt(list_dot_product(a.v, a.v) * list_dot_product(c.v, c.v))
        |        DESC, c.vec_id) AS rn
        |    FROM aud a CROSS JOIN corp c) WHERE rn = 1)""".stripMargin,
      """j AS (SELECT a.vec_id, b.n_candidates, b.best_match, t.true_match
        |  FROM aud a LEFT JOIN best b ON b.new_id = a.vec_id
        |  LEFT JOIN bb t ON t.new_id = a.vec_id)""".stripMargin)) + s"""
      |SELECT (SELECT COUNT(*) FROM corp)::BIGINT AS n_corpus,
      |  COUNT(*)::BIGINT AS n_audit,
      |  SUM(CASE WHEN n_candidates > 0 THEN 1 ELSE 0 END)::BIGINT AS n_scored,
      |  SUM(CASE WHEN best_match = true_match THEN 1 ELSE 0 END)::BIGINT AS n_match,
      |  ${ratio4Sql(
          "SUM(CASE WHEN best_match = true_match THEN 1 ELSE 0 END)",
          "NULLIF(COUNT(*), 0)")} AS recall_at_1,
      |  ${ratio4Sql("SUM(COALESCE(n_candidates, 0))",
          "NULLIF(CAST(COUNT(*) AS HUGEINT) * (SELECT COUNT(*) FROM corp), 0)")}
      |    AS scanned_share
      |FROM j""".stripMargin

  /** ann_index_balance under the hard gate: the frozen-fit replay's
    * corpus assignment (`casn`), counted per list over the k-row list
    * dimension (range(0, 16) — empty lists are report rows), with
    * ratio4 share and uniform-relative load factor. */
  private def annIndexBalanceOracleSql: String = {
    val k = 16
    withCtes(frozenFitCtes() ++ Seq(casnCte("corp"),
      s"lists AS (SELECT CAST(r.i AS INT) AS centroid FROM UNNEST(range(0, $k)) AS r(i))",
      "szs AS (SELECT centroid, COUNT(*)::BIGINT AS sz FROM casn GROUP BY 1)",
      "tot AS (SELECT COUNT(*)::BIGINT AS n FROM casn)")) + s"""
      |SELECT l.centroid, COALESCE(s.sz, 0)::BIGINT AS sz,
      |  ${ratio4Sql("COALESCE(s.sz, 0)", "NULLIF(t.n, 0)")} AS share,
      |  ${ratio4Sql(s"COALESCE(s.sz, 0) * $k", "NULLIF(t.n, 0)")} AS balance
      |FROM lists l LEFT JOIN szs s USING (centroid) CROSS JOIN tot t
      |ORDER BY l.centroid""".stripMargin
  }

  /** ann_index_drift under the hard gate: the [[annIncrementalOracleSql]]
    * frozen-fit replay (corpus-slice sample, unrolled Lloyd chain),
    * rn=1 assignment of BOTH sides under the day-0 centroids, the
    * 6-dec-quantized assignment cosine (the emb_kmeans mcos
    * convention), tie-free ratio4 means, and the drift/refit tail. */
  private def annIndexDriftOracleSql: String = {
    def asnCte(name: String, src: String) =
      s"""$name AS MATERIALIZED (
        |  SELECT vec_id, v, cv FROM (
        |    SELECT e.vec_id, e.v, c.cv, ROW_NUMBER() OVER (PARTITION BY e.vec_id
        |      ORDER BY ${nearestCentroidScoreSql("e.v")} DESC, c.c) AS rn
        |    FROM $src e CROSS JOIN c5 c) WHERE rn = 1)""".stripMargin
    val qcos = """CAST(CAST(ROUND(list_dot_product(v, cv)
      |      / sqrt(list_dot_product(v, v) * list_dot_product(cv, cv)), 6)
      |      AS DECIMAL(12,6)) AS DOUBLE)""".stripMargin
    val meanSql = ratio4Sql(
      "CAST(SUM(CAST(cos AS DECIMAL(30,6))) * 1000000 AS BIGINT)",
      "COUNT(*) * 1000000")
    withCtes(frozenFitCtes(sliceCte("inc", ">= 900000")) ++ Seq(
      asnCte("casn", "corp"),
      asnCte("basn", "inc"),
      s"ccos AS (SELECT $qcos AS cos FROM casn)",
      s"bcos AS (SELECT $qcos AS cos FROM basn)",
      s"""cstat AS (SELECT COUNT(*)::BIGINT AS n_corpus,
        |  $meanSql AS mean_cos_corpus FROM ccos)""".stripMargin,
      s"""bstat AS (SELECT COUNT(*)::BIGINT AS n_batch,
        |  $meanSql AS mean_cos_batch FROM bcos)""".stripMargin)) + """
      |SELECT c.n_corpus, b.n_batch, c.mean_cos_corpus, b.mean_cos_batch,
      |  (c.mean_cos_corpus - b.mean_cos_batch) AS cos_drift,
      |  (c.mean_cos_corpus - b.mean_cos_batch) >= 0.05 AS refit_due
      |FROM cstat c CROSS JOIN bstat b""".stripMargin
  }

  /** ann_tuning_curve under the hard gate: the spherical fit replays
    * via [[sphericalFitSqlParts]], the 8-deep probe ranking keeps its
    * rank `r`, per-level availability is the pure filter r ≤ p, the
    * per-(query, level) top-10 uses the (cos DESC, vec_id) order every
    * ANN oracle pins, truth is the brute-force tail's `exact` CTE, and
    * every output is an integer count or a ratio4 of integer counts. */
  private def annTuningCurveOracleSql: String =
    withCtes((EmbCte +: ivfFitCtes("emb")) ++ Seq(
      casnCte("emb"),
      QueryCte,
      queryProbeCte(8, ", CAST(rn AS INT) AS r"),
      """cand AS MATERIALIZED (SELECT qp.query_id, ca.vec_id, qp.r,
        |    list_dot_product(qq.qv, ee.v)
        |      / sqrt(list_dot_product(qq.qv, qq.qv) * list_dot_product(ee.v, ee.v)) AS cos
        |  FROM casn ca JOIN qprobe qp USING (centroid)
        |  JOIN q qq ON qq.query_id = qp.query_id
        |  JOIN emb ee ON ee.vec_id = ca.vec_id
        |  WHERE ca.vec_id <> qp.query_id)""".stripMargin,
      """lv AS (SELECT c.query_id, c.vec_id, c.cos, p.p
        |  FROM cand c, (VALUES (1), (2), (4), (8)) AS p(p) WHERE c.r <= p.p)""".stripMargin,
      """rk AS (SELECT query_id, p, vec_id FROM (
        |  SELECT query_id, p, vec_id, ROW_NUMBER() OVER (
        |    PARTITION BY query_id, p ORDER BY cos DESC, vec_id) AS rn FROM lv)
        |  WHERE rn <= 10)""".stripMargin,
      """esc AS (SELECT qq.query_id, ee.vec_id,
        |    list_dot_product(qq.qv, ee.v)
        |      / sqrt(list_dot_product(qq.qv, qq.qv) * list_dot_product(ee.v, ee.v)) AS cos
        |  FROM q qq JOIN emb ee ON ee.vec_id <> qq.query_id)""".stripMargin,
      """exact AS (SELECT query_id, vec_id FROM (SELECT query_id, vec_id,
        |    ROW_NUMBER() OVER (PARTITION BY query_id
        |      ORDER BY cos DESC, vec_id) AS rnk FROM esc) WHERE rnk <= 10)""".stripMargin,
      "ncand AS (SELECT p, COUNT(*)::BIGINT AS n_candidates FROM lv GROUP BY 1)",
      """hits AS (SELECT p, COUNT(*)::BIGINT AS n_hits
        |  FROM rk JOIN exact USING (query_id, vec_id) GROUP BY 1)""".stripMargin,
      "tot AS (SELECT COUNT(*)::BIGINT AS n_corpus FROM emb)")) + s"""
      |SELECT nc.p AS n_probe, nc.n_candidates,
      |  ${ratio4Sql("nc.n_candidates", "t.n_corpus * 10")} AS cand_frac,
      |  COALESCE(h.n_hits, 0) AS n_hits,
      |  ${ratio4Sql("COALESCE(h.n_hits, 0)", "100")} AS recall_at_10
      |FROM ncand nc LEFT JOIN hits h USING (p) CROSS JOIN tot t
      |ORDER BY n_probe""".stripMargin

  // ---- PQ: per-block L2 codebooks and ADC ------------------------------

  /** The squared-L2 distance between two `sub`-dim list slices — the
    * per-block assignment metric, folded left-to-right like the
    * kernel's sequential `d += t·t`. */
  private def pqL2Sql(sub: Int, a: String, b: String): String = {
    val d = s"list_transform(range(1, ${sub + 1}), i -> $a[i] - $b[i])"
    s"list_dot_product($d, $d)"
  }

  /** The ADC score expression — cosine of the query against the
    * reconstructed vector, with pqAdcScore's zero-norm guard. */
  private def adcCosSql(q: String, rv: String): String =
    s"""CASE WHEN sqrt(list_dot_product($q, $q) * list_dot_product($rv, $rv)) = 0
      |             THEN CAST(0 AS DOUBLE)
      |             ELSE list_dot_product($q, $rv)
      |               / sqrt(list_dot_product($q, $q) * list_dot_product($rv, $rv)) END""".stripMargin

  /** The PQ per-block L2 codebook trainer ([[graft.functions.Centroids
    * .fitL2]] per block) replayed as one unrolled Lloyd chain keyed by
    * block id — UN-normalized evenly-spaced seeds, squared-L2
    * assignment via the elementwise-difference list folded through
    * list_dot_product (the kernel's sequential `d += t·t`), quantized
    * integer sums divided (/2²⁰ then /count, the fitL2 order). Emits
    * `ss` (sample sub-blocks), `b0` and the pa/pm/b round CTEs;
    * requires `samp` (v, rnk) and `nn`. Leaves the fitted codebooks in
    * `b<iters>`(j, c, cv). Shared by the ann_pq and ann_ivf_pq
    * oracles. */
  private def pqCodebookSqlParts(m: Int, kc: Int, iters: Int, sub: Int): Seq[String] = {
    def l2(a: String, b: String) = pqL2Sql(sub, a, b)
    Seq(
      s"""ss AS MATERIALIZED (
        |  SELECT s.rnk, j.j::INT AS j, s.v[j.j*$sub+1 : j.j*$sub+$sub] AS sv
        |  FROM samp s, UNNEST(range(0, $m)) AS j(j))""".stripMargin,
      s"""b0 AS MATERIALIZED (
        |  SELECT s.j, k.c, s.sv AS cv
        |  FROM (SELECT UNNEST(range(0, $kc))::INT AS c) k
        |  CROSS JOIN nn
        |  JOIN ss s ON s.rnk = (k.c * nn.n) // $kc)""".stripMargin) ++
    (1 to iters).flatMap { it =>
      val prev = s"b${it - 1}"
      Seq(
        s"""pa$it AS MATERIALIZED (
          |  SELECT j, rnk, sv, c FROM (
          |    SELECT s.j, s.rnk, s.sv, c.c,
          |      ROW_NUMBER() OVER (PARTITION BY s.j, s.rnk
          |        ORDER BY ${l2("s.sv", "c.cv")} ASC, c.c) AS rn
          |    FROM ss s JOIN $prev c ON c.j = s.j) WHERE rn = 1)""".stripMargin,
        s"""pm$it AS MATERIALIZED (
          |  SELECT j, c, cnt, list(sm / 1048576.0 / cnt ORDER BY i) AS mv FROM (
          |    SELECT a.j, a.c, d.i, SUM(CAST(ROUND(a.sv[d.i] * 1048576.0, 0) AS BIGINT)) AS sm,
          |      COUNT(*) AS cnt
          |    FROM pa$it a, UNNEST(range(1, ${sub + 1})) AS d(i) GROUP BY 1, 2, 3) GROUP BY j, c, cnt)""".stripMargin,
        s"""b$it AS MATERIALIZED (
          |  SELECT p.j, p.c, CASE WHEN m.mv IS NULL THEN p.cv ELSE m.mv END AS cv
          |  FROM $prev p LEFT JOIN pm$it m ON m.j = p.j AND m.c = p.c)""".stripMargin)
    }
  }

  /** The PQ index of ann_pq_topk and ann_ivf_pq_topk: 8 blocks × 16
    * codewords fit by 5 rounds ([[pqCodebookSqlParts]]), then every
    * vector's per-block code against `b5` (`enc`) and its
    * reconstruction `recon`(vec_id, rv), the codewords concatenated in
    * block order — bit-identical to pqAdcScore's j-outer/i-inner
    * accumulation. Requires `emb`, `samp` and `nn`. */
  private val PqIndexCtes: Seq[String] = {
    val (m, kc, iters, dim) = (8, 16, 5, 64)
    val sub = dim / m
    val fin = s"b$iters"
    pqCodebookSqlParts(m, kc, iters, sub) ++ Seq(
      s"""enc AS MATERIALIZED (
        |  SELECT vec_id, j, c AS code FROM (
        |    SELECT e.vec_id, c.j, c.c,
        |      ROW_NUMBER() OVER (PARTITION BY e.vec_id, c.j
        |        ORDER BY ${pqL2Sql(sub, s"e.v[c.j*$sub+1 : c.j*$sub+$sub]", "c.cv")} ASC, c.c) AS rn
        |    FROM emb e CROSS JOIN $fin c) WHERE rn = 1)""".stripMargin,
      s"""recon AS MATERIALIZED (
        |  SELECT e.vec_id, flatten(list(c.cv ORDER BY e.j)) AS rv
        |  FROM enc e JOIN $fin c ON c.j = e.j AND c.c = e.code
        |  GROUP BY e.vec_id)""".stripMargin)
  }

  /** The ADC shortlist size of both PQ oracles. */
  private val PqShortlist = 50

  /** ann_pq_topk under the hard gate: the
    * [[PqIndexCtes]] replay, ADC on the RECONSTRUCTED vector, the
    * top-50 shortlist under the bounded-heap (adc DESC, vec_id) order,
    * and the exact-cosine top-10 + recall tail shared with LSH/IVF. */
  private def annPqOracleSql: String =
    withCtes(Seq(EmbCte, ivfSampleCte("emb"), "nn AS (SELECT COUNT(*) AS n FROM samp)") ++
      PqIndexCtes ++ Seq(QueryCte,
      s"""adc AS MATERIALIZED (
        |  SELECT query_id, vec_id FROM (
        |    SELECT qq.query_id, r.vec_id,
        |      ROW_NUMBER() OVER (PARTITION BY qq.query_id ORDER BY
        |        ${adcCosSql("qq.qv", "r.rv")}
        |        DESC, r.vec_id) AS rn
        |    FROM q qq JOIN recon r ON r.vec_id <> qq.query_id) WHERE rn <= $PqShortlist)""".stripMargin)) +
      ",\n" + rerankTailSql("adc", "a")

  /** ann_ivf_pq_topk under the hard gate: BOTH trainers replay — the
    * spherical coarse quantizer via [[ivfFitCtes]] and the per-block
    * codebooks via [[PqIndexCtes]] — over the SAME deterministic pmod-3
    * sample the standalone IVF/PQ oracles pin. Candidates come only
    * from the probed inverted lists (the IVF oracle's casn ⋈ qprobe),
    * the ADC shortlist ranks WITHIN those candidates, and the
    * exact-cosine top-10 + recall tail is shared with LSH/IVF/PQ. */
  private def annIvfPqOracleSql: String =
    withCtes((EmbCte +: ivfFitCtes("emb")) ++ PqIndexCtes ++
      Seq(casnCte("emb"), QueryCte, queryProbeCte(4), IvfCandCte,
      s"""adc AS MATERIALIZED (
        |  SELECT query_id, vec_id FROM (
        |    SELECT c.query_id, c.vec_id,
        |      ROW_NUMBER() OVER (PARTITION BY c.query_id ORDER BY
        |        ${adcCosSql("qq.qv", "r.rv")}
        |        DESC, c.vec_id) AS rn
        |    FROM cand c JOIN q qq ON qq.query_id = c.query_id
        |                JOIN recon r ON r.vec_id = c.vec_id) WHERE rn <= $PqShortlist)""".stripMargin)) +
      ",\n" + rerankTailSql("adc", "a")

  // ---- k-means, kNN graph and embedding dedup --------------------------

  /** The [[graft.similarity.Kmeans.fittedCentroids]] trainer replayed
    * end to end: the sample fit ([[sphericalFitSqlParts]] over the
    * vec_id < sampleCap head sample) plus `rounds` CORPUS Lloyd rounds
    * — assignment via NearestCentroids' (dot/‖v‖ DESC, c ASC) order,
    * then [[lloydUpdateCtes]]. Leaves the final centroids in
    * `kc<rounds>` and the corpus assignment in `fasn`(vec_id, v,
    * cluster). Shared by the emb_kmeans and emb_label_purity
    * oracles. */
  private def corpusKmeansCtes(
      k: Int, fitIters: Int, rounds: Int, dim: Int, sampleCap: Int): Seq[String] = {
    def asnCte(name: String, prev: String) =
      s"""$name AS MATERIALIZED (
        |  SELECT vec_id, v, c AS cluster FROM (
        |    SELECT e.vec_id, e.v, c.c, ROW_NUMBER() OVER (PARTITION BY e.vec_id
        |      ORDER BY ${nearestCentroidScoreSql("e.v")} DESC, c.c) AS rn
        |    FROM emb e CROSS JOIN $prev c) WHERE rn = 1)""".stripMargin
    def prev(r: Int) = if (r == 0) s"c$fitIters" else s"kc$r"
    Seq(EmbCte,
      s"""samp AS MATERIALIZED (
        |  SELECT vec_id, v, ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS rnk
        |  FROM emb WHERE vec_id < $sampleCap)""".stripMargin) ++
    sphericalFitSqlParts(k, fitIters, dim) ++
    (1 to rounds).flatMap { r =>
      asnCte(s"ka$r", prev(r - 1)) +: lloydUpdateCtes("", r, prev(r - 1), dim)
    } :+ asnCte("fasn", prev(rounds))
  }

  /** emb_kmeans under the hard gate: the full
    * two-stage trainer replayed ([[corpusKmeansCtes]]: the 10-round
    * sample fit, then 5 corpus rounds). The audit columns replay the
    * Exact.d4 / dsum(…,6) decimal arithmetic the events oracles pin.
    * Kmeans.kmeansOn keeps empty clusters' previous centroids; the
    * missing-moments LEFT JOIN reproduces that. */
  private def embKmeansOracleSql: String =
    withCtes(corpusKmeansCtes(8, 10, 5, 64, 1024) ++ Seq(
      """mcos AS (
        |  SELECT f.cluster,
        |    CAST(CAST(ROUND(list_dot_product(f.v, c.cv)
        |      / sqrt(list_dot_product(f.v, f.v) * list_dot_product(c.cv, c.cv)), 6)
        |      AS DECIMAL(12,6)) AS DOUBLE) AS cos
        |  FROM fasn f JOIN kc5 c ON c.c = f.cluster)""".stripMargin,
      "tot AS (SELECT COUNT(*) AS t FROM emb)")) + s"""
      |SELECT cluster, COUNT(*) AS n_points,
      |  ${ratio4Sql("COUNT(*)", "(SELECT t FROM tot)")} AS share,
      |  ${ratio4Sql("CAST(SUM(CAST(cos AS DECIMAL(30,6))) * 1000000 AS BIGINT)", "COUNT(*) * 1000000")} AS mean_cos,
      |  ${ratio4Sql("CAST(ROUND(MIN(cos) * 1000000.0, 0) AS BIGINT)", "1000000")} AS min_cos
      |FROM mcos
      |GROUP BY cluster
      |ORDER BY cluster""".stripMargin

  /** emb_label_purity under the hard gate: the same [[corpusKmeansCtes]]
    * trainer replay as emb_kmeans (k=8, the shared fit), then the
    * (cluster, label) cell counts off the final corpus assignment, the
    * majority label per cluster via ROW_NUMBER ordered (n DESC, label)
    * — the engine's deterministic tie rule — and the tie-free ratio4
    * purity presentation. */
  private def embLabelPurityOracleSql: String =
    withCtes(corpusKmeansCtes(8, 10, 5, 64, 1024) ++ Seq(
      """cell AS (
        |  SELECT f.cluster, e.label, COUNT(*) AS n
        |  FROM fasn f JOIN embeddings e ON e.vec_id = f.vec_id
        |  GROUP BY 1, 2)""".stripMargin,
      """rk AS (
        |  SELECT cluster, label, n,
        |    ROW_NUMBER() OVER (PARTITION BY cluster ORDER BY n DESC, label) AS rn
        |  FROM cell)""".stripMargin)) + s"""
      |SELECT cluster, SUM(n)::BIGINT AS n_points, COUNT(*) AS n_labels,
      |  MAX(CASE WHEN rn = 1 THEN label END) AS top_label,
      |  MAX(CASE WHEN rn = 1 THEN n END) AS n_top,
      |  ${ratio4Sql("MAX(CASE WHEN rn = 1 THEN n END)", "SUM(n)")} AS purity
      |FROM rk
      |GROUP BY cluster
      |ORDER BY cluster""".stripMargin

  /** The kNN-graph CTE chain (requires `emb`): the adaptive list
    * count — smallest power of 2 (from 16, uncapped save by the
    * corpus size itself) with k² ≥ corpus size, mirroring
    * Similarity.knnPrep's doubling rule — then the seeded-trainer
    * fit+assignment, same-list self-join, and per-source top-`kG`
    * (with the per-source candidate count) under the bounded-heap
    * (cos DESC, id ASC) order, left in `<p>top`. Prefixed so it can
    * coexist with the semantic trainer chain (dedup_knn_cc). */
  private def knnGraphCtes(p: String, rounds: Int = 5, kG: Int = 5,
      dim: Int = 64): Seq[String] =
    (knnKdefSql(p) +:
      seededTrainerCtes(p, s"(SELECT kk FROM ${p}kdef)", "#knn", rounds, dim)) ++ Seq(
      s"""${p}cand AS (SELECT a.vec_id AS src_id, b.vec_id AS dst_id,
        |    list_dot_product(a.v, b.v)
        |      / sqrt(list_dot_product(a.v, a.v) * list_dot_product(b.v, b.v)) AS cos
        |  FROM ${p}fasn a JOIN ${p}fasn b USING (cluster)
        |  WHERE a.vec_id <> b.vec_id)""".stripMargin,
      s"""${p}top AS MATERIALIZED (
        |  SELECT src_id, CAST(rnk AS INT) AS rank, dst_id, cos, n_candidates FROM (
        |    SELECT src_id, dst_id, cos,
        |      ROW_NUMBER() OVER (PARTITION BY src_id ORDER BY cos DESC, dst_id) AS rnk,
        |      COUNT(*) OVER (PARTITION BY src_id) AS n_candidates
        |    FROM ${p}cand)
        |  WHERE rnk <= $kG)""".stripMargin)

  /** emb_knn_graph under the hard gate: the [[knnGraphCtes]] replay
    * (hash-ordered Forgy seeds + 5 full-corpus Lloyd rounds, the fit
    * whose k nothing caps below the corpus size), the per-source
    * top-5, the per-source candidate count as the n^1.5 telemetry
    * column, and the mutual flag as a left self-join of the edge list
    * on the reversed key. */
  private def embKnnGraphOracleSql: String =
    withCtes(EmbCte +: knnGraphCtes("")) + """
      |SELECT t.src_id, t.rank, t.dst_id, t.cos, t.n_candidates,
      |  (r.src_id IS NOT NULL) AS mutual
      |FROM top t LEFT JOIN top r
      |  ON r.src_id = t.dst_id AND r.dst_id = t.src_id
      |ORDER BY t.src_id, t.rank""".stripMargin

  /** emb_knn_triangles under the hard gate: the [[knnGraphCtes]]
    * replay, the mutual undirected edge set, then the degree-ordered
    * compact-forward census exactly as the engine runs it — edges
    * oriented along the (deg, id) total order, wedges at each
    * triangle's lowest-ordered vertex, one EXISTS for the closing
    * edge — and the integer-ratio4 local clustering coefficient. */
  private def embKnnTrianglesOracleSql: String =
    withCtes(EmbCte +: knnGraphCtes("")) + s""",
      |ue AS (SELECT t.src_id AS a, t.dst_id AS b
      |  FROM top t JOIN top r ON r.src_id = t.dst_id AND r.dst_id = t.src_id
      |  WHERE t.src_id < t.dst_id),
      |dg AS (SELECT vv, COUNT(*)::BIGINT AS deg FROM (
      |    SELECT a AS vv FROM ue UNION ALL SELECT b AS vv FROM ue) GROUP BY 1),
      |o AS (SELECT
      |    CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND e.a < e.b)
      |      THEN e.a ELSE e.b END AS u,
      |    CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND e.a < e.b)
      |      THEN e.b ELSE e.a END AS w,
      |    CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND e.a < e.b)
      |      THEN db.deg ELSE da.deg END AS dw
      |  FROM ue e JOIN dg da ON da.vv = e.a JOIN dg db ON db.vv = e.b),
      |wed AS (SELECT o1.u AS x, o1.w AS y, o2.w AS z
      |  FROM o o1 JOIN o o2 ON o1.u = o2.u
      |  WHERE o1.dw < o2.dw OR (o1.dw = o2.dw AND o1.w < o2.w)),
      |tri AS (SELECT x, y, z FROM wed
      |  WHERE EXISTS (SELECT 1 FROM o WHERE o.u = wed.y AND o.w = wed.z)),
      |tv AS (SELECT vv, COUNT(*)::BIGINT AS tri FROM (
      |    SELECT x AS vv FROM tri UNION ALL SELECT y AS vv FROM tri
      |    UNION ALL SELECT z AS vv FROM tri) GROUP BY 1)
      |SELECT dg.vv AS vec_id, dg.deg,
      |  COALESCE(tv.tri, 0)::BIGINT AS tri,
      |  ${ratio4Sql("2 * COALESCE(tv.tri, 0)", "dg.deg * (dg.deg - 1)")} AS lcc
      |FROM dg LEFT JOIN tv ON tv.vv = dg.vv
      |WHERE dg.deg >= 2
      |ORDER BY vec_id""".stripMargin

  /** The semantic-dedup replay shared by dedup_semantic and
    * dedup_knn_cc: `emb`, the adaptive k (k ≥ n/128, the engine's
    * Dedup.adaptiveSemanticK doubling rule) and the [[seededTrainerCtes]]
    * fit with its corpus assignment `fasn`. */
  private val SemanticTrainerCtes: Seq[String] =
    Seq(EmbCte, semKdefSql("")) ++ seededTrainerCtes("", "(SELECT kk FROM kdef)", "#sem", 5, 64)

  /** Within-cluster pairs of `fasn` with their exact cosine, zero-norm
    * guarded (Sketches.cosineF returns 0.0 when either norm is zero; an
    * unguarded divide would yield NaN and silently diverge from the
    * engine on any all-zero embedding), then each vector's best
    * candidate under the `max(struct(cos, cand_id))` tie rule (cos
    * DESC, cand_id DESC): `<pr>` and `<best>`(vec_id, cand_id, cos). */
  private def semanticBestCtes(pr: String, best: String): Seq[String] = Seq(
    s"""$pr AS (SELECT a.vec_id, b.vec_id AS cand_id,
      |    CASE WHEN list_dot_product(a.v, a.v) = 0 OR list_dot_product(b.v, b.v) = 0
      |         THEN CAST(0 AS DOUBLE)
      |         ELSE list_dot_product(a.v, b.v)
      |           / sqrt(list_dot_product(a.v, a.v) * list_dot_product(b.v, b.v)) END AS cos
      |  FROM fasn a JOIN fasn b ON b.cluster = a.cluster AND b.vec_id <> a.vec_id)""".stripMargin,
    s"""$best AS (SELECT vec_id, cand_id, cos FROM (
      |    SELECT vec_id, cand_id, cos, ROW_NUMBER() OVER (PARTITION BY vec_id
      |      ORDER BY cos DESC, cand_id DESC) AS rn FROM $pr) WHERE rn = 1)""".stripMargin)

  /** dedup_semantic under the hard gate: the [[SemanticTrainerCtes]]
    * replay, within-cluster pairs only (the equality self-join on the
    * cluster id), the exact-cosine per-vector argmax
    * ([[semanticBestCtes]]), cluster sizes, and the SemDeDup
    * keep-lowest-id `is_dup` decision (false for singletons). */
  private def dedupSemanticOracleSql: String = {
    val tau = 0.9
    withCtes(SemanticTrainerCtes ++
      ("sizes AS (SELECT cluster, COUNT(*) AS n_cluster FROM fasn GROUP BY 1)" +:
        semanticBestCtes("pr", "best"))) + s"""
      |SELECT f.vec_id, f.cluster, s.n_cluster,
      |  b.cand_id AS best_match, b.cos AS best_cos,
      |  COALESCE(b.cos >= $tau AND b.cand_id < f.vec_id, FALSE) AS is_dup
      |FROM fasn f JOIN sizes s USING (cluster)
      |LEFT JOIN best b ON b.vec_id = f.vec_id
      |ORDER BY f.vec_id""".stripMargin
  }

  /** dedup_knn_cc under the hard gate: the [[knnGraphCtes]] replay
    * (prefix `g`, so its fit chain coexists with the adaptive-k
    * semantic trainer's), mutual edges at τ=0.35 via the reversed-key self-join,
    * transitive closure as the recursive-CTE min-label CC (the
    * dedup_clusters oracle's shape over the mutual pair graph), the
    * min-id survivor rule, the [[dedupSemanticOracleSql]] argmax at
    * the SAME τ for the `sem_dup` column, and the dup-set Jaccard as
    * an integer-ratio4 scalar. */
  private def dedupKnnCcOracleSql: String = {
    val tau = 0.35
    withCtes(SemanticTrainerCtes ++ knnGraphCtes("g") ++ Seq(
      s"""mp AS (SELECT t.src_id AS a, t.dst_id AS b
        |  FROM gtop t JOIN gtop r
        |    ON r.src_id = t.dst_id AND r.dst_id = t.src_id
        |  WHERE t.cos >= $tau AND t.src_id < t.dst_id)""".stripMargin,
      "edges AS (SELECT a, b FROM mp UNION ALL SELECT b, a FROM mp)",
      """reach AS (
        |  SELECT a AS v, a AS r FROM edges
        |  UNION
        |  SELECT e.a AS v, w.r FROM edges e JOIN reach w ON e.b = w.v)""".stripMargin,
      "cl AS (SELECT v AS vec_id, MIN(r) AS cluster_id FROM reach GROUP BY v)",
      "csz AS (SELECT cluster_id, COUNT(*) AS cluster_size FROM cl GROUP BY 1)",
      // Per-vector assignment: clustered vectors take their component's
      // min id; singletons label themselves.
      """asn AS (SELECT e.vec_id,
        |    COALESCE(cl.cluster_id, e.vec_id) AS cluster_id,
        |    COALESCE(csz.cluster_size, 1)::BIGINT AS cluster_size,
        |    COALESCE(cl.cluster_id, e.vec_id) <> e.vec_id AS is_dup
        |  FROM emb e LEFT JOIN cl ON cl.vec_id = e.vec_id
        |  LEFT JOIN csz ON csz.cluster_id = cl.cluster_id)""".stripMargin) ++
      // The semantic verdict at the SAME tau (the dedup_semantic
      // oracle's pair/best CTEs).
      semanticBestCtes("spr", "sbest") ++ Seq(
      s"""sem AS (SELECT f.vec_id,
        |    COALESCE(b.cos >= $tau AND b.cand_id < f.vec_id, FALSE) AS sem_dup
        |  FROM fasn f LEFT JOIN sbest b ON b.vec_id = f.vec_id)""".stripMargin,
      s"""ovl AS (SELECT
        |    ${ratio4Sql(
               "SUM(CASE WHEN a.is_dup AND s.sem_dup THEN 1 ELSE 0 END)",
               "GREATEST(SUM(CASE WHEN a.is_dup OR s.sem_dup THEN 1 ELSE 0 END), 1)")}
        |      AS dup_jaccard_vs_semantic
        |  FROM asn a JOIN sem s ON s.vec_id = a.vec_id)""".stripMargin),
      recursive = true) + """
      |SELECT a.vec_id, a.cluster_id, a.cluster_size, a.is_dup, s.sem_dup,
      |  (SELECT dup_jaccard_vs_semantic FROM ovl) AS dup_jaccard_vs_semantic
      |FROM asn a JOIN sem s ON s.vec_id = a.vec_id
      |ORDER BY a.vec_id""".stripMargin
  }

  val sql: Map[String, String] = Map(
    "ann_bruteforce_topk" ->
      """WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
        |  FROM embeddings WHERE vec_id < 10),
        |c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
        |scored AS (
        |  SELECT query_id, vec_id,
        |    list_dot_product(qv, cv)
        |      / sqrt(list_dot_product(qv, qv) * list_dot_product(cv, cv)) AS cos
        |  FROM q, c WHERE vec_id <> query_id),
        |ranked AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
        |  ORDER BY cos DESC, vec_id) AS rnk FROM scored)
        |SELECT query_id, vec_id, cos, CAST(rnk AS INT) AS rank FROM ranked
        |WHERE rnk <= 10 ORDER BY query_id, rank""".stripMargin,

    "ann_filtered_topk" ->
      """WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv,
        |    label FROM embeddings WHERE vec_id < 10),
        |c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cv, label
        |  FROM embeddings),
        |scored AS (
        |  SELECT query_id, c.vec_id,
        |    list_dot_product(qv, cv)
        |      / sqrt(list_dot_product(qv, qv) * list_dot_product(cv, cv)) AS cos
        |  FROM q JOIN c ON c.label = q.label AND c.vec_id <> q.query_id),
        |ranked AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
        |  ORDER BY cos DESC, vec_id) AS rnk FROM scored)
        |SELECT query_id, vec_id, cos, CAST(rnk AS INT) AS rank FROM ranked
        |WHERE rnk <= 10 ORDER BY query_id, rank""".stripMargin,

    "ann_range_search" ->
      """WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
        |  FROM embeddings WHERE vec_id < 10),
        |c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings)
        |SELECT query_id, vec_id,
        |  list_dot_product(qv, cv)
        |    / sqrt(list_dot_product(qv, qv) * list_dot_product(cv, cv)) AS cos
        |FROM q, c WHERE vec_id <> query_id
        |  AND list_dot_product(qv, cv)
        |    / sqrt(list_dot_product(qv, qv) * list_dot_product(cv, cv)) >= 0.3
        |ORDER BY query_id, vec_id""".stripMargin,

    "emb_similarity_hist" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings),
        |p AS (SELECT a.vec_id,
        |    list_dot_product(a.v, b.v) /
        |      NULLIF(sqrt(list_dot_product(a.v, a.v)
        |        * list_dot_product(b.v, b.v)), 0.0) AS cos
        |  FROM e a JOIN e b ON b.vec_id = a.vec_id + 1
        |  WHERE list_dot_product(a.v, a.v) * list_dot_product(b.v, b.v) > 0),
        |bands AS (SELECT
        |    LEAST(CAST(FLOOR(cos * 20) AS BIGINT), 19) AS band,
        |    CAST(ROUND(cos * 20000, 0) AS BIGINT) AS c20k, cos FROM p)
        |SELECT CAST(band AS DOUBLE) / CAST(20.0 AS DOUBLE) AS band_lo,
        | COUNT(*)::BIGINT AS n_pairs,
        | CAST(CAST(SUM(c20k) // COUNT(*) AS BIGINT) AS DOUBLE)
        |   / CAST(20000.0 AS DOUBLE) AS avg_cos,
        | MIN(cos) AS min_cos, MAX(cos) AS max_cos
        |FROM bands GROUP BY band ORDER BY band_lo""".stripMargin,

    "emb_outliers" ->
      """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |dim AS (SELECT label, r.i AS pos, SUM(CAST(FLOOR(v[r.i] * 1048576.0) AS BIGINT)) AS qsum,
        |    COUNT(*) AS n
        |  FROM e, UNNEST(range(1, len(v)+1)) AS r(i) GROUP BY 1, 2),
        |c AS (SELECT label,
        |    list(CAST(qsum AS DOUBLE) / 1048576.0 / CAST(n AS DOUBLE) ORDER BY pos) AS cent
        |  FROM dim GROUP BY label),
        |scored AS (SELECT e.vec_id, e.label,
        |    ROUND(list_dot_product(v, cent)
        |      / sqrt(list_dot_product(v, v) * list_dot_product(cent, cent)), 6) AS r6
        |  FROM e JOIN c USING (label))
        |SELECT vec_id, label,
        |  CAST(CAST(r6 AS DECIMAL(12,6)) AS DOUBLE) AS cos_centroid,
        |  CAST(r6 AS DECIMAL(12,6)) < 0 AS is_outlier
        |FROM scored
        |ORDER BY vec_id""".stripMargin,

    // Per-dimension health audit: the quantized-integer-sum fold makes
    // mean/variance order-free (exact BIGINT sums), min/max are
    // order-free natively, and the presentation mirrors emb_outliers'
    // ROUND + DECIMAL cast so the hash gate bites bit-for-bit.
    "emb_dim_stats" ->
      """WITH e AS (SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |x AS (SELECT r.i - 1 AS dim, v[r.i] AS val
        |  FROM e, UNNEST(range(1, len(v)+1)) AS r(i)),
        |a AS (SELECT dim, COUNT(*) AS n,
        |    SUM(CAST(FLOOR(val * 1048576.0) AS BIGINT)) AS qsum,
        |    SUM(CAST(FLOOR(val * val * 1048576.0) AS BIGINT)) AS qsq,
        |    MIN(val) AS dim_min, MAX(val) AS dim_max
        |  FROM x GROUP BY 1),
        |m AS (SELECT dim, n,
        |    CAST(qsum AS DOUBLE) / 1048576.0 / CAST(n AS DOUBLE) AS mean,
        |    CAST(qsq AS DOUBLE) / 1048576.0 / CAST(n AS DOUBLE) AS ex2,
        |    dim_min, dim_max
        |  FROM a),
        |s AS (SELECT dim, n, mean, dim_min, dim_max,
        |    sqrt(GREATEST(ex2 - mean * mean, 0.0)) AS sd
        |  FROM m)
        |SELECT CAST(dim AS INT) AS dim, n,
        |  CAST(CAST(ROUND(mean, 6) AS DECIMAL(18,6)) AS DOUBLE) AS dim_mean,
        |  CAST(CAST(ROUND(sd, 6) AS DECIMAL(18,6)) AS DOUBLE) AS dim_std,
        |  dim_min, dim_max,
        |  CAST(ROUND(sd, 6) AS DECIMAL(18,6)) < 0.000001 AS collapsed
        |FROM s
        |ORDER BY dim""".stripMargin,

    // Same double-fold parity as ann_bruteforce/emb_outliers: per-row
    // maps only, index-order dot products, order-free maxima.
    "emb_quantize" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |s AS (SELECT vec_id, v,
        |    CASE WHEN list_max(list_transform(v, x -> abs(x))) > 0
        |         THEN list_max(list_transform(v, x -> abs(x))) / 127.0
        |         ELSE 1.0 END AS scale
        |  FROM e),
        |d AS (SELECT vec_id, v, scale,
        |    list_transform(v,
        |      x -> CAST(CAST(ROUND(x / scale, 0) AS INT) AS DOUBLE) * scale) AS dq
        |  FROM s)
        |SELECT vec_id, CAST(len(v) AS INT) AS n_dims, scale,
        |  CASE WHEN list_dot_product(v, v) > 0 AND list_dot_product(dq, dq) > 0
        |    THEN CAST(CAST(ROUND(list_dot_product(v, dq)
        |      / sqrt(list_dot_product(v, v) * list_dot_product(dq, dq)), 6)
        |      AS DECIMAL(12,6)) AS DOUBLE)
        |  END AS cos_dequant,
        |  list_max(list_transform(range(1, len(v)+1), i -> abs(v[i] - dq[i])))
        |    AS max_abs_err
        |FROM d
        |ORDER BY vec_id""".stripMargin,

    // The embedding-LSH pair is deterministic
    // given its seed-derived Gaussian planes, so both graduate via
    // plane-literal inlining + the proven list_dot_product cosine fold.
    "dedup_embedding" -> embeddingDedupOracleSql,

    "ann_lsh_topk" -> annLshOracleSql,

    // The Centroids fits are deterministic by construction
    // (evenly-spaced seed ranks, 2^-20-quantized
    // integer round sums), so the IVF and PQ trainers replay as
    // unrolled 5-round Lloyd chains — the bpe_train precedent applied
    // to k-means — and both queries graduate to the full hash gate.
    "ann_ivf_topk" -> annIvfOracleSql,

    "ann_pq_topk" -> annPqOracleSql,

    "ann_ivf_pq_topk" -> annIvfPqOracleSql,

    "ann_tuning_curve" -> annTuningCurveOracleSql,

    "emb_kmeans" -> embKmeansOracleSql,

    "emb_label_purity" -> embLabelPurityOracleSql,

    "emb_knn_graph" -> embKnnGraphOracleSql,

    "emb_knn_triangles" -> embKnnTrianglesOracleSql,

    "dedup_semantic" -> dedupSemanticOracleSql,

    "dedup_knn_cc" -> dedupKnnCcOracleSql,

    "ann_incremental" -> annIncrementalOracleSql,

    "ann_recall_audit" -> annRecallAuditOracleSql,

    "ann_index_balance" -> annIndexBalanceOracleSql,

    "ann_index_drift" -> annIndexDriftOracleSql
  )
}
