package graft.oracle

import graft.functions.Exact.ratio4Sql

import Chains._

/** Oracle SQL of the curation pipeline reports. */
private[oracle] object PipelineOracle {

  /** The text quality score's inputs per document, as `qt`. */
  private val QualityQtCte: String =
    s"qt AS (SELECT doc_id,\n$qualityInputCols\n  FROM documents)"

  /** dedup_quality_audit: the [[ClustersCtePrefix]] verdict chain
    * joined to text_quality's proven score fragments — per dedup
    * verdict, exact integer token/q4 sums and tie-free ratio4
    * presentations (mean_q4 = mean score in 1e-4 units; low_frac
    * gates on the ROUNDED score at 0.5, the curve's middle
    * threshold). */
  private val DedupQualityAuditOracleSql: String = ClustersCtePrefix +
    raw""",
      |$QualityQtCte,
      |qs AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_toks,
      |  CAST(ROUND(${qualityScore("    ",
             stops = wordCount(QualityStopwords, "        ", "DOUBLE"),
             nToks = "CAST(len(toks) AS DOUBLE)", sep = "\n        ")} * 10000.0, 0) AS BIGINT) AS q4
      |  FROM qt),
      |vq AS (SELECT
      |    CASE WHEN c.cluster_id IS NULL THEN 'unique'
      |         WHEN q.doc_id = c.cluster_id THEN 'winner'
      |         ELSE 'dropped' END AS verdict,
      |    q.n_toks, q.q4
      |  FROM qs q LEFT JOIN cl c ON c.doc_id = q.doc_id)
      |SELECT verdict, COUNT(*) AS n_docs, SUM(n_toks)::BIGINT AS n_tokens,
      |  ${ratio4Sql("SUM(q4)", "COUNT(*)")} AS mean_q4,
      |  ${ratio4Sql("SUM(CASE WHEN q4 < 5000 THEN 1 ELSE 0 END)", "COUNT(*)")} AS low_frac
      |FROM vq
      |GROUP BY verdict
      |ORDER BY verdict""".stripMargin

  val sql: Map[String, String] = Map(
    // Snapshot diff: both versions replay the #ver md5-ppm split, the
    // revision slice appends the same marker, and change detection is
    // by md5 content hash exactly as the Spark side computes it.
    "corpus_diff" ->
      raw"""WITH d AS (SELECT doc_id, source, text,
        |    CAST(CAST(concat('0x', substring(
        |      md5(CAST(doc_id AS VARCHAR) || '#ver'), 1, 12)) AS UBIGINT)
        |      % 1000000 AS BIGINT) AS b
        |  FROM documents),
        |v1 AS (SELECT doc_id, source, md5(text) AS h,
        |    length(text)::BIGINT AS len
        |  FROM d WHERE b < 900000),
        |v2 AS (SELECT doc_id, source,
        |    md5(CASE WHEN b % 7 = 3 THEN text || ' [rev2]' ELSE text END) AS h,
        |    length(CASE WHEN b % 7 = 3 THEN text || ' [rev2]' ELSE text END)
        |      ::BIGINT AS len
        |  FROM d WHERE b >= 50000),
        |j AS (SELECT COALESCE(v1.source, v2.source) AS source,
        |    CASE WHEN v2.doc_id IS NULL THEN 'removed'
        |         WHEN v1.doc_id IS NULL THEN 'added'
        |         WHEN v1.h = v2.h THEN 'unchanged' ELSE 'changed' END AS status,
        |    COALESCE(v1.len, 0) AS len1, COALESCE(v2.len, 0) AS len2
        |  FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id)
        |SELECT source, status, COUNT(*)::BIGINT AS n_docs,
        |  SUM(len1)::BIGINT AS chars_v1, SUM(len2)::BIGINT AS chars_v2,
        |  (SUM(len2) - SUM(len1))::BIGINT AS delta_chars
        |FROM j GROUP BY 1, 2 ORDER BY source, status""".stripMargin,

    // The curation funnel: the per-stage oracles composed into one
    // statement — the dedup recursive-CTE chain (dedup_survivors), the
    // quality score (text_quality), the language argmax (text_langid),
    // the 8-gram hit flag (text_decontaminate), and the md5-bucket
    // sampler (sample_stratified), each verbatim.
    "curation_report" ->
      ("WITH RECURSIVE " + clusterCtes("toks3", "sh3", "prs") + raw""",
        |$QualityQtCte,
        |qs AS (SELECT doc_id, n_chars, punct,
        |  CAST(len(toks) AS DOUBLE) AS n_toks,
        |  ${wordCount(QualityStopwords, "    ", "DOUBLE")} AS stops
        |  FROM qt),
        |qq AS (SELECT doc_id,
        |  ${qualityScore("    ")} AS quality_score
        |  FROM qs),
        |${langShareCtes("lt", "ls", "lsc", "llng", "")},
        |lpred AS (SELECT doc_id,
        |    CASE WHEN cjk > 0.3 THEN 'zh' ELSE best.lang END AS pred_lang
        |  FROM llng),
        |""".stripMargin + ngram8Cte("dsh", "toks3") + raw""",
        |dev AS (SELECT DISTINCT ngram FROM dsh WHERE doc_id % 20 = 0),
        |dtr AS (SELECT doc_id, ngram FROM dsh WHERE doc_id % 20 <> 0),
        |dh AS (SELECT doc_id, COUNT(*) AS n_hits FROM dtr JOIN dev USING (ngram) GROUP BY doc_id),
        |dclean AS (SELECT t.doc_id
        |  FROM (SELECT DISTINCT doc_id FROM dtr) t LEFT JOIN dh ON dh.doc_id = t.doc_id
        |  WHERE COALESCE(dh.n_hits, 0) = 0),
        |smp AS (SELECT doc_id,
        |    5 + (CAST(regexp_replace(source, '[^0-9]', '', 'g') AS INT) * 7) % 90 AS rate_pct,
        |    CAST(CAST(concat('0x', substring(
        |      md5(CAST(doc_id AS VARCHAR) || ':' || source), 1, 8)) AS UBIGINT) % 100 AS BIGINT) AS bucket
        |  FROM documents),
        |bse AS (SELECT doc_id,
        |    CAST(len(string_split_regex(lower(text), '\s+')) AS BIGINT) AS n_toks
        |  FROM documents),
        |flags AS (SELECT b.doc_id, b.n_toks,
        |    (q.quality_score >= 0.5) AS s1x,
        |    (q.quality_score >= 0.5 AND p.pred_lang = 'en') AS s2x,
        |    (q.quality_score >= 0.5 AND p.pred_lang = 'en'
        |      AND (cl.doc_id IS NULL OR cl.cluster_id = cl.doc_id)) AS s3x,
        |    (q.quality_score >= 0.5 AND p.pred_lang = 'en'
        |      AND (cl.doc_id IS NULL OR cl.cluster_id = cl.doc_id)
        |      AND dc.doc_id IS NOT NULL) AS s4x,
        |    (q.quality_score >= 0.5 AND p.pred_lang = 'en'
        |      AND (cl.doc_id IS NULL OR cl.cluster_id = cl.doc_id)
        |      AND dc.doc_id IS NOT NULL AND s.bucket < s.rate_pct) AS s5x
        |  FROM bse b
        |  JOIN qq q ON q.doc_id = b.doc_id
        |  JOIN lpred p ON p.doc_id = b.doc_id
        |  LEFT JOIN cl ON cl.doc_id = b.doc_id
        |  LEFT JOIN dclean dc ON dc.doc_id = b.doc_id
        |  JOIN smp s ON s.doc_id = b.doc_id),
        |rep AS (
        |  SELECT CAST(0 AS INT) AS stage, 'raw' AS stage_name,
        |    COUNT(*)::BIGINT AS n_docs,
        |    CAST(COALESCE(SUM(n_toks), 0) AS BIGINT) AS n_tokens FROM flags
        |  UNION ALL SELECT 1, 'quality',
        |    CAST(SUM(CASE WHEN s1x THEN 1 ELSE 0 END) AS BIGINT),
        |    CAST(COALESCE(SUM(CASE WHEN s1x THEN n_toks ELSE 0 END), 0) AS BIGINT) FROM flags
        |  UNION ALL SELECT 2, 'language',
        |    CAST(SUM(CASE WHEN s2x THEN 1 ELSE 0 END) AS BIGINT),
        |    CAST(COALESCE(SUM(CASE WHEN s2x THEN n_toks ELSE 0 END), 0) AS BIGINT) FROM flags
        |  UNION ALL SELECT 3, 'dedup',
        |    CAST(SUM(CASE WHEN s3x THEN 1 ELSE 0 END) AS BIGINT),
        |    CAST(COALESCE(SUM(CASE WHEN s3x THEN n_toks ELSE 0 END), 0) AS BIGINT) FROM flags
        |  UNION ALL SELECT 4, 'decontaminate',
        |    CAST(SUM(CASE WHEN s4x THEN 1 ELSE 0 END) AS BIGINT),
        |    CAST(COALESCE(SUM(CASE WHEN s4x THEN n_toks ELSE 0 END), 0) AS BIGINT) FROM flags
        |  UNION ALL SELECT 5, 'sample',
        |    CAST(SUM(CASE WHEN s5x THEN 1 ELSE 0 END) AS BIGINT),
        |    CAST(COALESCE(SUM(CASE WHEN s5x THEN n_toks ELSE 0 END), 0) AS BIGINT) FROM flags),
        |tot AS (SELECT n_docs AS n0 FROM rep WHERE stage = 0)
        |SELECT stage, stage_name, n_docs, n_tokens,
        |  ${ratio4Sql("n_docs", "GREATEST(n0, 1)")} AS pct_of_raw
        |FROM rep CROSS JOIN tot
        |ORDER BY stage""".stripMargin),

    // The media curation funnel: the stage oracles composed into ONE
    // statement — phash CC dedup (recursive min-label), the
    // empty-payload decode gate, and the balanced byte sampler's
    // integer-quantized rates recomputed over the POST-DEDUP corpus.
    "mm_curation_report" ->
      s"""WITH RECURSIVE $PhashPairCtes,
        |edges AS (SELECT doc_a AS a, doc_b AS b FROM ppairs
        |          UNION ALL SELECT doc_b, doc_a FROM ppairs),
        |reach AS (
        |  SELECT a AS v, a AS r FROM edges
        |  UNION
        |  SELECT e.a AS v, w.r FROM edges e JOIN reach w ON e.b = w.v),
        |cl AS (SELECT v AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY v),
        |dropped AS (SELECT doc_id FROM cl WHERE doc_id <> cluster_id),
        |it AS (SELECT m.doc_id,
        |    (['jpeg','png','webp'])[CAST((m.doc_id % 10000000) % 3 AS INT) + 1]
        |      AS format,
        |    CAST(m.nb AS BIGINT) AS nb,
        |    (m.nb > 0) AS s1,
        |    (m.nb > 0 AND d.doc_id IS NULL) AS s2
        |  FROM m LEFT JOIN dropped d USING (doc_id)),
        |itb AS (SELECT it.*,
        |    CAST(CAST(concat('0x', substring(
        |      md5(CAST(doc_id AS VARCHAR) || '#' || format), 1, 12)) AS UBIGINT)
        |      % 1000000 AS BIGINT) AS bucket_ppm
        |  FROM it),
        |${sqrtRateCtes(cCols = "format, SUM(nb)::BIGINT AS fmt_bytes", sizeAgg = "SUM(nb)",
               from = "itb WHERE s2 GROUP BY format", size = "fmt_bytes",
               total = "dedup_bytes", target = "target_bytes", rCols = "format, fmt_bytes",
               r2Cols = "format")},
        |fl AS (SELECT itb.*, (s2 AND bucket_ppm < COALESCE(r2.rate_ppm, 0)) AS s3
        |  FROM itb LEFT JOIN r2 USING (format)),
        |rep AS (
        |  SELECT CAST(0 AS INT) AS stage, 'raw' AS stage_name,
        |    CAST(COUNT(*) AS BIGINT) AS n_items,
        |    CAST(COALESCE(SUM(nb), 0) AS BIGINT) AS n_bytes FROM fl
        |  UNION ALL SELECT 1, 'decodable',
        |    CAST(SUM(CASE WHEN s1 THEN 1 ELSE 0 END) AS BIGINT),
        |    CAST(COALESCE(SUM(CASE WHEN s1 THEN nb ELSE 0 END), 0) AS BIGINT) FROM fl
        |  UNION ALL SELECT 2, 'dedup',
        |    CAST(SUM(CASE WHEN s2 THEN 1 ELSE 0 END) AS BIGINT),
        |    CAST(COALESCE(SUM(CASE WHEN s2 THEN nb ELSE 0 END), 0) AS BIGINT) FROM fl
        |  UNION ALL SELECT 3, 'sample',
        |    CAST(SUM(CASE WHEN s3 THEN 1 ELSE 0 END) AS BIGINT),
        |    CAST(COALESCE(SUM(CASE WHEN s3 THEN nb ELSE 0 END), 0) AS BIGINT) FROM fl),
        |tot AS (SELECT n_items AS n0, n_bytes AS b0 FROM rep WHERE stage = 0)
        |SELECT stage, stage_name, n_items, n_bytes,
        |  ${ratio4Sql("n_items", "GREATEST(n0, 1)")} AS pct_items,
        |  ${ratio4Sql("n_bytes", "GREATEST(b0, 1)")} AS pct_bytes
        |FROM rep CROSS JOIN tot
        |ORDER BY stage""".stripMargin,

    "split_leakage" ->
      s"""WITH ${shingleCoCtes()},
        |pj AS (SELECT doc_a, doc_b
        |  FROM co JOIN sizes sa ON sa.doc_id = doc_a
        |          JOIN sizes sb ON sb.doc_id = doc_b
        |  WHERE CAST(n_common AS DOUBLE)
        |    / CAST(sa.n_sh + sb.n_sh - n_common AS DOUBLE) >= 0.5),
        |b AS (SELECT doc_id,
        |    CASE WHEN bucket < 980000 THEN 'train'
        |         WHEN bucket < 990000 THEN 'val' ELSE 'test' END AS split
        |  FROM (SELECT doc_id,
        |      CAST(CAST(concat('0x', substring(
        |        md5(CAST(doc_id AS VARCHAR) || '#split'), 1, 12)) AS UBIGINT)
        |        % 1000000 AS BIGINT) AS bucket
        |    FROM documents)),
        |t AS (SELECT LEAST(ba.split, bb.split) AS split_a,
        |    GREATEST(ba.split, bb.split) AS split_b
        |  FROM pj JOIN b ba ON ba.doc_id = pj.doc_a
        |          JOIN b bb ON bb.doc_id = pj.doc_b),
        |cells AS (SELECT * FROM (VALUES ('test','test'), ('test','train'),
        |  ('test','val'), ('train','train'), ('train','val'), ('val','val'))
        |  AS v(split_a, split_b)),
        |cnt AS (SELECT split_a, split_b, COUNT(*)::BIGINT AS n
        |  FROM t GROUP BY 1, 2),
        |tot AS (SELECT COUNT(*)::BIGINT AS total_pairs FROM t)
        |SELECT c.split_a, c.split_b,
        |  COALESCE(cnt.n, 0)::BIGINT AS n_pairs,
        |  (c.split_a <> c.split_b) AS is_leak,
        |  ${ratio4Sql("COALESCE(cnt.n, 0)", "GREATEST(tot.total_pairs, 1)")} AS pair_share
        |FROM cells c LEFT JOIN cnt USING (split_a, split_b) CROSS JOIN tot
        |ORDER BY c.split_a, c.split_b""".stripMargin,

    "dedup_quality_audit" -> DedupQualityAuditOracleSql
  )
}
