package graft.oracle

import graft.functions.Exact.ratio4Sql

import Chains._

/** Oracle SQL of the text-dedup queries: exact, shingle-Jaccard,
  * cluster and sketch (simhash, minhash LSH) pipelines. */
private[oracle] object DedupOracle {

  /** STANDARD MurmurHash3 x64_128 (the [[graft.functions.Sketches]]
    * kernel: zero-extended tail bytes, no Cassandra sign quirk) as a
    * DuckDB MATERIALIZED-CTE chain — KvOracle's murmurTokenSqlChain
    * technique, but emitting BOTH halves as unsigned HUGEINT bit
    * patterns (`<prefix>tok(key, h1u, h2u)`): the minhash replay needs
    * h2 for Kirsch-Mitzenmacher double hashing and the simhash replay
    * reads h1's raw bits. Keys longer than 16·maxBlocks+15 bytes yield
    * NULL so a corpus change fails the gate loudly (shingles measure
    * ≤ 26 ASCII bytes at every generated scale). */
  private def murmur128SqlChain(
      prefix: String, fromSql: String, maxBlocks: Int = 2): String = {
    // Standard x64_128 finisher keeps BOTH halves (the Cassandra token
    // chain only needed h1).
    val stages = murmurX64Stages(maxBlocks, signedTail = false) ++
      Seq(Map("h1" -> U64Sql.add64("h1", "h2")), Map("h2" -> U64Sql.add64("h2", "h1")))
    murmurStageCtes(prefix, fromSql, stages) +
      s",\n${prefix}tok AS MATERIALIZED (SELECT key, " +
      s"CASE WHEN len > ${16 * maxBlocks + 15} THEN NULL ELSE h1 END AS h1u, " +
      s"CASE WHEN len > ${16 * maxBlocks + 15} THEN NULL ELSE h2 END AS h2u " +
      s"FROM ${prefix}_s${stages.length})"
  }

  /** The [[graft.functions.Sketches.bandHashes]] fold as unrolled
    * MATERIALIZED stages: per (doc, band), h starts at r and absorbs
    * the band's r signature values through fmix — `h = fmix(h + v_j)`
    * — exactly the kernel's wrapping arithmetic. Emits
    * `<prefix>bh(doc_id, band, band_key)` with the key as a signed
    * BIGINT (the engine's LongType band key). `sigjRel` must expose
    * (doc_id, j, v) with v the signed 64-bit signature value. */
  private def bandFoldSqlChain(
      prefix: String, sigjRel: String, nBands: Int, r: Int): String = {
    import U64Sql._
    val toSigned = (x: String) =>
      s"(($x) - CASE WHEN ($x) >= 9223372036854775808::HUGEINT THEN $M ELSE 0::HUGEINT END)::BIGINT"
    val sv = m64("(s.v)::HUGEINT")
    // Stage i reads stage i - 1: per signature value one absorb step,
    // then the fmix steps.
    val steps: Seq[String => String] = (0 until r).flatMap { step =>
      ((prev: String) => s"SELECT t.doc_id, t.band, ${m64(s"t.h + ($sv)")} AS h " +
        s"FROM $prev t JOIN $sigjRel s ON s.doc_id = t.doc_id AND s.j = t.band * $r + $step") +:
        fmixStages("h").map(st => (prev: String) => s"SELECT doc_id, band, ${st("h")} AS h FROM $prev")
    }
    (stageChain(s"${prefix}_b",
      s"SELECT doc_id, band.band::BIGINT AS band, " +
      s"$r::HUGEINT AS h FROM (SELECT DISTINCT doc_id FROM $sigjRel), " +
      s"UNNEST(range(0, $nBands)) AS band(band)", steps) :+
      (s"${prefix}bh AS MATERIALIZED (SELECT doc_id, band, " +
        s"${toSigned("h")} AS band_key FROM ${prefix}_b${steps.length})")).mkString(",\n")
  }

  /** The 3-word-shingle CTEs shared by the sketch-dedup replays:
    * (doc_id, shingle) pairs `sh` and the distinct shingle universe
    * `shd(key)` the murmur chain hashes once. */
  private val ShingleCtesSql: String =
    Seq(tokensCte(), shinglesCte(), "shd AS (SELECT DISTINCT shingle AS key FROM sh)")
      .mkString(",\n")

  /** [[ShingleCtesSql]] and each distinct shingle's murmur128 hash
    * halves, `mhtok`(key, h1u, h2u): the input of both sketch replays. */
  private val HashedShingleCtes: String =
    ShingleCtesSql + ",\n" + murmur128SqlChain("mh", "shd")

  /** The minhash replay shared by the minhash, incremental, index
    * audit and LSH-curve oracles: the hashed shingles, and per
    * (doc, j) the minimum of the j-th Kirsch-Mitzenmacher hash
    * h1 + j·h2 as a signed 64-bit value, `sigj`(doc_id, j, v), for
    * j < 128. */
  private val MinhashSigCtes: String =
    s"""$HashedShingleCtes,
      |sigj AS MATERIALIZED (
      |  SELECT s.doc_id, j.j,
      |    MIN((((t.h1u + j.j * t.h2u) % 18446744073709551616::HUGEINT)
      |      - CASE WHEN ((t.h1u + j.j * t.h2u) % 18446744073709551616::HUGEINT)
      |             >= 9223372036854775808::HUGEINT
      |        THEN 18446744073709551616::HUGEINT ELSE 0::HUGEINT END)::BIGINT) AS v
      |  FROM sh s JOIN mhtok t ON t.key = s.shingle, UNNEST(range(0, 128)) AS j(j)
      |  GROUP BY 1, 2)""".stripMargin

  /** [[MinhashSigCtes]] banded as dedup_minhash_lsh bands it: 32
    * bands × 4 rows through [[bandFoldSqlChain]], `mbbh`. */
  private val MinhashBandCtes: String =
    MinhashSigCtes + ",\n" + bandFoldSqlChain("mb", "sigj", nBands = 32, r = 4)

  /** The incremental split: each document's md5-ppm `#inc` bucket,
    * `spl`(doc_id, b). The corpus side is b < 900 000. */
  private val IncSplitCte: String =
    """spl AS (SELECT doc_id,
      |    CAST(CAST(concat('0x', substring(
      |      md5(CAST(doc_id AS VARCHAR) || '#inc'), 1, 12)) AS UBIGINT)
      |      % 1000000 AS BIGINT) AS b
      |  FROM documents)""".stripMargin

  /** The df-capped exact pair set `exact`(doc_a, doc_b) the recall
    * audits measure against. */
  private val ExactPairCtes: String = cappedCoCtes() + ",\n" + jaccardPairsCte("exact")

  /** The exact pair set + recall scalar appended to both sketch
    * replays — the engine's recall_vs_exact audit (matched exact
    * pairs / all exact pairs), stated over the apx CTE. */
  private val SketchRecallCtesSql: String =
    ExactPairCtes + """,
      |rec AS (SELECT
      |    CAST((SELECT COUNT(*) FROM apx JOIN exact USING (doc_a, doc_b)) AS DOUBLE)
      |    / GREATEST(CAST((SELECT COUNT(*) FROM exact) AS DOUBLE), 1.0) AS recall_vs_exact)""".stripMargin

  /** dedup_simhash under the hard gate: per-shingle standard murmur
    * h1 bits → per-doc 64-bit majority signature → 8×8-bit band
    * equality buckets (≤ 200 members, ≥ 2) → Hamming ≤ 7 verify →
    * the recall audit — every step the engine's banded plan computes,
    * restated naively over the hashed shingle universe. */
  private def simhashOracleSql: String =
    s"""WITH $HashedShingleCtes,
      |bits AS MATERIALIZED (
      |  SELECT s.doc_id, b.b,
      |    SUM(CASE WHEN (t.h1u // (1::HUGEINT << b.b)) % 2 = 1 THEN 1 ELSE -1 END) AS acc
      |  FROM sh s JOIN mhtok t ON t.key = s.shingle, UNNEST(range(0, 64)) AS b(b)
      |  GROUP BY 1, 2),
      |sig AS MATERIALIZED (
      |  SELECT doc_id,
      |    SUM(CASE WHEN acc > 0 THEN (1::HUGEINT << b) ELSE 0::HUGEINT END)::HUGEINT AS sigu
      |  FROM bits GROUP BY 1),
      |bands AS (SELECT doc_id, band.band,
      |    ((sigu // (1::HUGEINT << (8 * band.band))) % 256)::BIGINT AS band_key
      |  FROM sig, UNNEST(range(0, 8)) AS band(band)),
      |buck AS (SELECT band, band_key FROM bands GROUP BY 1, 2
      |         HAVING COUNT(*) BETWEEN 2 AND 200),
      |mem AS (SELECT b.band, b.band_key, b.doc_id FROM bands b JOIN buck USING (band, band_key)),
      |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM mem a JOIN mem b ON a.band = b.band AND a.band_key = b.band_key
      |    AND a.doc_id < b.doc_id),
      |ham AS (SELECT doc_a, doc_b,
      |    bit_count(xor(sa.sigu::UBIGINT, sb.sigu::UBIGINT))::INT AS hamming
      |  FROM cand JOIN sig sa ON sa.doc_id = cand.doc_a
      |            JOIN sig sb ON sb.doc_id = cand.doc_b),
      |apx AS (SELECT doc_a, doc_b, hamming FROM ham WHERE hamming <= 7),
      |${SketchRecallCtesSql}
      |SELECT doc_a, doc_b, hamming, (SELECT recall_vs_exact FROM rec) AS recall_vs_exact
      |FROM apx ORDER BY doc_a, doc_b""".stripMargin

  /** dedup_incremental under the hard gate: the [[minhashOracleSql]]
    * murmur + signature + band-fold replay over ALL docs (signatures
    * are doc-local, so computing them corpus-wide then splitting is
    * bit-identical to the engine's per-side computation), the md5-ppm
    * `#inc` split, the corpus-side index with its read-time ≤ 200
    * bucket cap (read-time since the index became
    * appendable — same row semantics), the inc-vs-corpus bucket
    * join, LEFT-join exact
    * Jaccard over shared shingles (a candidate pair that shares a
    * band hash but no shingle verifies at 0), and the per-increment-
    * doc rollup under the (jaccard DESC, corpus_id ASC) tie rule. */
  private def dedupIncrementalOracleSql: String =
    s"""WITH $MinhashBandCtes,
      |$IncSplitCte,
      |inc AS (SELECT doc_id FROM spl WHERE b >= 900000),
      |corp AS (SELECT doc_id FROM spl WHERE b < 900000),
      |idx0 AS (SELECT m.* FROM mbbh m JOIN corp USING (doc_id)),
      |okb AS (SELECT band, band_key FROM idx0 GROUP BY 1, 2
      |        HAVING COUNT(*) <= 200),
      |idx AS (SELECT i.* FROM idx0 i JOIN okb USING (band, band_key)),
      |incb AS (SELECT m.* FROM mbbh m JOIN inc USING (doc_id)),
      |cand AS (SELECT DISTINCT n.doc_id AS new_id, c.doc_id AS corpus_id
      |  FROM incb n JOIN idx c ON c.band = n.band AND c.band_key = n.band_key),
      |szs AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
      |coc AS (SELECT c.new_id, c.corpus_id, COUNT(*) AS nc
      |  FROM cand c JOIN sh a ON a.doc_id = c.new_id
      |              JOIN sh b ON b.doc_id = c.corpus_id AND b.shingle = a.shingle
      |  GROUP BY 1, 2),
      |ver AS (SELECT c.new_id, c.corpus_id,
      |    CAST(COALESCE(coc.nc, 0) AS DOUBLE)
      |      / CAST(sa.n + sb.n - COALESCE(coc.nc, 0) AS DOUBLE) AS jaccard
      |  FROM cand c LEFT JOIN coc ON coc.new_id = c.new_id
      |    AND coc.corpus_id = c.corpus_id
      |  JOIN szs sa ON sa.doc_id = c.new_id
      |  JOIN szs sb ON sb.doc_id = c.corpus_id),
      |roll AS (SELECT new_id, corpus_id, jaccard, n_candidates FROM (
      |    SELECT new_id, corpus_id, jaccard,
      |      COUNT(*) OVER (PARTITION BY new_id) AS n_candidates,
      |      ROW_NUMBER() OVER (PARTITION BY new_id
      |        ORDER BY jaccard DESC, corpus_id) AS rn FROM ver) WHERE rn = 1)
      |SELECT i.doc_id, COALESCE(r.n_candidates, 0)::BIGINT AS n_candidates,
      |  r.corpus_id AS best_match, r.jaccard AS best_jaccard,
      |  COALESCE(r.jaccard >= 0.5, FALSE) AS is_dup
      |FROM inc i LEFT JOIN roll r ON r.new_id = i.doc_id
      |ORDER BY i.doc_id""".stripMargin

  /** dedup_index_audit under the hard gate: the [[dedupIncrementalOracleSql]]
    * banding replay over the corpus slice (signatures are doc-local,
    * so slicing after the corpus-wide chain is bit-identical), then
    * the six saturation numbers off the naive bucket group-by — the
    * independent restatement of what the engine reads pre-aggregated
    * from its stats side table. */
  private def dedupIndexAuditOracleSql: String =
    s"""WITH $MinhashBandCtes,
      |$IncSplitCte,
      |corp AS (SELECT doc_id FROM spl WHERE b < 900000),
      |idx0 AS (SELECT m.* FROM mbbh m JOIN corp USING (doc_id)),
      |bk AS (SELECT band, band_key, COUNT(*) AS n FROM idx0 GROUP BY 1, 2)
      |SELECT COUNT(*)::BIGINT AS n_buckets,
      |  SUM(CASE WHEN n > 200 THEN 1 ELSE 0 END)::BIGINT AS n_capped_buckets,
      |  SUM(n)::BIGINT AS n_postings,
      |  SUM(CASE WHEN n > 200 THEN n ELSE 0 END)::BIGINT AS n_postings_masked,
      |  ${graft.functions.Exact.ratio4Sql(
           "SUM(CASE WHEN n > 200 THEN n ELSE 0 END)",
           "GREATEST(SUM(n), 1)")} AS masked_share,
      |  MAX(n)::BIGINT AS max_bucket
      |FROM bk""".stripMargin

  /** dedup_minhash_lsh under the hard gate: per-shingle (h1, h2) →
    * 128 Kirsch-Mitzenmacher minima (signed-compare, the kernel's
    * Long order) → 32 bands × 4 rows folded through the bandHashes
    * fmix chain → bucket join (≤ 200, ≥ 2) → exact full-set Jaccard
    * ≥ 0.5 verify → the recall audit. */
  private def minhashOracleSql: String =
    s"""WITH $MinhashBandCtes,
      |buck AS (SELECT band, band_key FROM mbbh GROUP BY 1, 2
      |         HAVING COUNT(*) BETWEEN 2 AND 200),
      |mem AS (SELECT b.band, b.band_key, b.doc_id FROM mbbh b JOIN buck USING (band, band_key)),
      |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM mem a JOIN mem b ON a.band = b.band AND a.band_key = b.band_key
      |    AND a.doc_id < b.doc_id),
      |szs AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
      |coc AS (SELECT c.doc_a, c.doc_b, COUNT(*) AS nc
      |  FROM cand c JOIN sh a ON a.doc_id = c.doc_a
      |              JOIN sh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
      |  GROUP BY 1, 2),
      |apx AS (SELECT c.doc_a, c.doc_b,
      |    CAST(coc.nc AS DOUBLE) / CAST(sa.n + sb.n - coc.nc AS DOUBLE) AS jaccard
      |  FROM cand c JOIN coc ON coc.doc_a = c.doc_a AND coc.doc_b = c.doc_b
      |       JOIN szs sa ON sa.doc_id = c.doc_a JOIN szs sb ON sb.doc_id = c.doc_b
      |  WHERE CAST(coc.nc AS DOUBLE) / CAST(sa.n + sb.n - coc.nc AS DOUBLE) >= 0.5),
      |${SketchRecallCtesSql}
      |SELECT doc_a, doc_b, jaccard, (SELECT recall_vs_exact FROM rec) AS recall_vs_exact
      |FROM apx ORDER BY doc_a, doc_b""".stripMargin

  /** dedup_lsh_curve under the hard gate: ONE murmur chain + minhash
    * signature replay (the dedup_minhash_lsh oracle's verbatim) feeds
    * THREE [[bandFoldSqlChain]] replays (8/16/32 bands — the fold
    * seeds h with rows-per-band, so each banding's chain is distinct
    * by construction), each with the pipeline's capped-bucket
    * candidate CTEs; truth is the df-capped exact pair set the recall
    * audits pin; ratios are the ratio4 integer form. */
  private def lshCurveOracleSql: String = {
    val bandCounts = Seq(8, 16, 32)
    val perBand = bandCounts.map { b =>
      val r = 128 / b
      val p = s"c$b"
      s"""${bandFoldSqlChain(p, "sigj", nBands = b, r = r)},
        |${p}buck AS (SELECT band, band_key FROM ${p}bh GROUP BY 1, 2
        |         HAVING COUNT(*) BETWEEN 2 AND 200),
        |${p}mem AS (SELECT b.band, b.band_key, b.doc_id
        |  FROM ${p}bh b JOIN ${p}buck USING (band, band_key)),
        |${p}cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM ${p}mem a JOIN ${p}mem b ON a.band = b.band
        |    AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
        |${p}n AS (SELECT COUNT(*)::BIGINT AS n_candidates FROM ${p}cand),
        |${p}f AS (SELECT COUNT(*)::BIGINT AS n_found
        |  FROM ${p}cand JOIN exact USING (doc_a, doc_b))""".stripMargin
    }
    val selects = bandCounts.map { b =>
      val r = 128 / b
      val p = s"c$b"
      s"""SELECT $b AS n_bands, $r AS rows_per_band,
        |  n.n_candidates, t.n_true_pairs, f.n_found,
        |  ${ratio4Sql("f.n_found", "GREATEST(t.n_true_pairs, 1)")} AS recall,
        |  ${ratio4Sql("f.n_found", "GREATEST(n.n_candidates, 1)")} AS "precision"
        |FROM ${p}n n CROSS JOIN ${p}f f CROSS JOIN tc t""".stripMargin
    }
    s"""WITH $MinhashSigCtes,
      |$ExactPairCtes,
      |tc AS (SELECT COUNT(*)::BIGINT AS n_true_pairs FROM exact),
      |${perBand.mkString(",\n")}
      |${selects.mkString("\nUNION ALL\n")}
      |ORDER BY n_bands""".stripMargin
  }

  /** dedup_survivor_weights: the [[ClustersCtePrefix]] verdict chain,
    * exact ppm weights (10⁶ // cluster_size, 10⁶ unclustered), and the
    * per-source weighted rollup — token·weight products on HUGEINT. */
  private val SurvivorWeightsOracleSql: String = ClustersCtePrefix +
    s""",
      |csz AS (SELECT cluster_id, COUNT(*)::BIGINT AS csize FROM cl GROUP BY 1),
      |d AS (SELECT t.doc_id, dd.source, CAST(len(t.t) AS BIGINT) AS n_toks
      |  FROM toks t JOIN documents dd USING (doc_id)),
      |w AS (SELECT d.doc_id, d.source, d.n_toks, cl.cluster_id,
      |    COALESCE(1000000 // csz.csize, 1000000) AS w_ppm
      |  FROM d LEFT JOIN cl USING (doc_id) LEFT JOIN csz USING (cluster_id))
      |SELECT source, COUNT(*)::BIGINT AS n_docs,
      |  SUM(CASE WHEN cluster_id IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
      |    AS n_dup_docs,
      |  SUM(n_toks)::BIGINT AS n_tokens,
      |  ${graft.functions.Exact.ratio4Sql("SUM(w_ppm)", "1000000")} AS eff_docs,
      |  ${graft.functions.Exact.ratio4Sql("SUM(w_ppm)",
          "CAST(COUNT(*) AS HUGEINT) * 1000000")} AS eff_doc_share,
      |  ${graft.functions.Exact.ratio4Sql(
          "SUM(CAST(n_toks AS HUGEINT) * w_ppm)",
          "NULLIF(CAST(SUM(n_toks) AS HUGEINT), 0) * 1000000")}
      |    AS eff_token_share
      |FROM w GROUP BY source ORDER BY source""".stripMargin

  /** Connected components over the exact ngram pair graph as a DuckDB
    * recursive CTE — the oracle of both registry names of the one
    * kernel, dedup_clusters and dedup_clusters_star. */
  private val ClustersOracleSql: String = ClustersCtePrefix +
    """
      |SELECT doc_id, cluster_id,
      |  COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size
      |FROM cl ORDER BY doc_id""".stripMargin

  val sql: Map[String, String] = Map(
    "dedup_exact" ->
      """SELECT md5(text) AS content_md5, MIN(doc_id) AS survivor_doc_id,
        | COUNT(*) AS n_copies
        |FROM documents
        |GROUP BY 1
        |ORDER BY survivor_doc_id""".stripMargin,

    // dedup_clusters and dedup_clusters_star are two registry names for
    // one kernel (Dedup.clusters, large-star/small-star), so they share
    // the connected-components oracle verbatim.
    "dedup_clusters" -> ClustersOracleSql,

    "dedup_clusters_star" -> ClustersOracleSql,

    "dedup_survivor_weights" -> SurvivorWeightsOracleSql,

    // Containment rides the same shingle/cap/co chain as the Jaccard
    // oracle; the 0.8 gate compares the ratio4-rounded score.
    "dedup_containment" ->
      s"""WITH ${shingleCoCtes(count = "COUNT(*)::BIGINT")},
        |j AS (SELECT
        |    CASE WHEN sa.n_sh < sb.n_sh OR (sa.n_sh = sb.n_sh AND doc_a < doc_b)
        |      THEN doc_a ELSE doc_b END AS doc_small,
        |    CASE WHEN sa.n_sh < sb.n_sh OR (sa.n_sh = sb.n_sh AND doc_a < doc_b)
        |      THEN doc_b ELSE doc_a END AS doc_big,
        |    CASE WHEN sa.n_sh < sb.n_sh OR (sa.n_sh = sb.n_sh AND doc_a < doc_b)
        |      THEN sa.n_sh ELSE sb.n_sh END AS n_small_sh,
        |    CASE WHEN sa.n_sh < sb.n_sh OR (sa.n_sh = sb.n_sh AND doc_a < doc_b)
        |      THEN sb.n_sh ELSE sa.n_sh END AS n_big_sh,
        |    n_common
        |  FROM co JOIN sizes sa ON sa.doc_id = doc_a
        |          JOIN sizes sb ON sb.doc_id = doc_b)
        |SELECT doc_small, doc_big, n_small_sh, n_big_sh, n_common,
        |  ${ratio4Sql("n_common", "n_small_sh")} AS containment,
        |  ${ratio4Sql("n_common", "n_small_sh + n_big_sh - n_common")} AS jaccard
        |FROM j
        |WHERE ${ratio4Sql("n_common", "n_small_sh")} >= 0.8
        |ORDER BY doc_small, doc_big""".stripMargin,

    "dedup_survivors" ->
      (ClustersCtePrefix + """
        |SELECT d.doc_id, length(d.text)::INT AS n_chars,
        |  COALESCE(c.doc_id = c.cluster_id, FALSE) AS cluster_survivor
        |FROM documents d LEFT JOIN cl c USING (doc_id)
        |WHERE c.doc_id IS NULL OR c.doc_id = c.cluster_id
        |ORDER BY d.doc_id""".stripMargin),

    "dedup_ngram_jaccard" ->
      s"""WITH ${shingleCoCtes()}
        |SELECT doc_a, doc_b,
        |  CAST(n_common AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - n_common AS DOUBLE) AS jaccard
        |FROM co JOIN sizes sa ON sa.doc_id = doc_a JOIN sizes sb ON sb.doc_id = doc_b
        |WHERE CAST(n_common AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - n_common AS DOUBLE) >= 0.5
        |ORDER BY doc_a, doc_b""".stripMargin,

    "dedup_threshold_curve" ->
      s"""WITH ${shingleCoCtes()},
        |pj AS (SELECT doc_a, doc_b,
        |    CAST(n_common AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - n_common AS DOUBLE)
        |      AS jaccard
        |  FROM co JOIN sizes sa ON sa.doc_id = doc_a
        |          JOIN sizes sb ON sb.doc_id = doc_b
        |  WHERE CAST(n_common AS DOUBLE)
        |    / CAST(sa.n_sh + sb.n_sh - n_common AS DOUBLE) >= 0.5),
        |lv AS (SELECT UNNEST([CAST(0.5 AS DOUBLE), CAST(0.6 AS DOUBLE),
        |    CAST(0.7 AS DOUBLE), CAST(0.8 AS DOUBLE)]) AS threshold),
        |ep AS (SELECT p.jaccard, u.d
        |  FROM pj p, UNNEST([p.doc_a, p.doc_b]) AS u(d)),
        |a1 AS (SELECT l.threshold, COUNT(p.doc_a)::BIGINT AS n_pairs
        |  FROM lv l LEFT JOIN pj p ON p.jaccard >= l.threshold GROUP BY 1),
        |a2 AS (SELECT l.threshold, COUNT(DISTINCT e.d)::BIGINT AS n_docs_in_pairs
        |  FROM lv l LEFT JOIN ep e ON e.jaccard >= l.threshold GROUP BY 1),
        |nd AS (SELECT COUNT(*)::BIGINT AS n_docs_corpus FROM documents)
        |SELECT a1.threshold, a1.n_pairs, a2.n_docs_in_pairs, nd.n_docs_corpus,
        |  ${ratio4Sql("a2.n_docs_in_pairs", "GREATEST(nd.n_docs_corpus, 1)")} AS doc_share
        |FROM a1 JOIN a2 USING (threshold) CROSS JOIN nd
        |ORDER BY a1.threshold""".stripMargin,

    // Same winnowing kernel feeding the substring-pair operator: an
    // inverted index on the fingerprint value (df <= 200), pairs from
    // docs sharing >= 3 values, containment vs the smaller side.
    "dedup_substring" ->
      s"""$winnowSelCtes,
        |post AS (SELECT fpv FROM sel GROUP BY fpv HAVING COUNT(*) <= 200),
        |keep AS (SELECT s.doc_id, s.fpv FROM sel s JOIN post USING (fpv)),
        |szs AS (SELECT doc_id, COUNT(*) AS n_fp FROM keep GROUP BY doc_id),
        |pairs AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
        |  FROM keep a JOIN keep b ON a.fpv = b.fpv AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |scored AS (
        |  SELECT p.doc_a, p.doc_b, p.n_shared,
        |    ${ratio4Sql("p.n_shared", "LEAST(na.n_fp, nb.n_fp)")}
        |      AS containment
        |  FROM pairs p
        |  JOIN szs na ON na.doc_id = p.doc_a
        |  JOIN szs nb ON nb.doc_id = p.doc_b
        |  WHERE p.n_shared >= 3)
        |SELECT doc_a, doc_b, n_shared, containment FROM scored
        |WHERE containment >= 0.5
        |ORDER BY doc_a, doc_b""".stripMargin,

    // Both sketch-dedup pair lists are deterministic given their
    // murmur128 hashes, so they graduate from rows-only
    // recall floors to the full hash gate via the standard-murmur
    // HUGEINT chain (the Cassandra-token / xxhash64 technique).
    "dedup_simhash" -> simhashOracleSql,

    "dedup_minhash_lsh" -> minhashOracleSql,

    "dedup_lsh_curve" -> lshCurveOracleSql,

    "dedup_incremental" -> dedupIncrementalOracleSql,

    "dedup_index_audit" -> dedupIndexAuditOracleSql
  )
}
