package graft.oracle

import graft.functions.Exact.ratio4Sql

import Chains._

/** Oracle SQL of the multimodal (binary media) queries. */
private[oracle] object MultimodalOracle {

  val sql: Map[String, String] = Map(
    "mm_sample_balanced" ->
      raw"""WITH med AS (SELECT doc_id,
        |    (['jpeg','png','webp'])[CAST(doc_id % 3 AS INT) + 1] AS format,
        |    CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
        |  FROM documents),
        |b AS (SELECT doc_id, format, n_bytes,
        |    CAST(CAST(concat('0x', substring(
        |      md5(CAST(doc_id AS VARCHAR) || '#' || format), 1, 12)) AS UBIGINT)
        |      % 1000000 AS BIGINT) AS bucket_ppm
        |  FROM med),
        |${sqrtRateCtes(
               cCols = "format, COUNT(*)::BIGINT AS n_items,\n    SUM(n_bytes)::BIGINT AS total_bytes",
               sizeAgg = "SUM(n_bytes)", from = "b GROUP BY format", size = "total_bytes",
               total = "corpus_bytes", target = "target_bytes",
               rCols = "c.format, c.n_items, c.total_bytes",
               r2Cols = "format, n_items, total_bytes, target_bytes")},
        |s AS (SELECT b.format,
        |    CAST(SUM(CASE WHEN b.bucket_ppm < r2.rate_ppm THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_sampled,
        |    CAST(SUM(CASE WHEN b.bucket_ppm < r2.rate_ppm THEN b.n_bytes ELSE 0 END)
        |      AS BIGINT) AS bytes_sampled
        |  FROM b JOIN r2 USING (format) GROUP BY b.format)
        |SELECT r2.format, r2.n_items, r2.total_bytes, r2.target_bytes, r2.rate_ppm,
        |  s.n_sampled, s.bytes_sampled,
        |  ${ratio4Sql("s.bytes_sampled", "GREATEST(r2.total_bytes, 1)")}
        |    AS realized_byte_rate
        |FROM r2 JOIN s USING (format)
        |ORDER BY r2.format""".stripMargin,

    "mm_corpus_audit" ->
      raw"""WITH m AS (SELECT doc_id,
        |    (['jpeg','png','webp'])[CAST(doc_id % 3 AS INT) + 1] AS format,
        |    CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |    CAST((doc_id % 8) * 64 + 64 AS BIGINT) AS width,
        |    CAST((doc_id % 4) * 64 + 64 AS BIGINT) AS height
        |  FROM documents)
        |SELECT format,
        |  CAST(COUNT(*) AS BIGINT) AS n_items,
        |  CAST(SUM(n_bytes) AS BIGINT) AS total_bytes,
        |  MAX(n_bytes) AS max_bytes,
        |  CAST(SUM(CASE WHEN n_bytes = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_empty,
        |  CAST(SUM(CASE WHEN width * height > 16384 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_oversize,
        |  ${ratio4Sql("SUM(n_bytes)", "COUNT(*)")} AS mean_bytes,
        |  ${ratio4Sql("SUM((10000 * width) // height)", "COUNT(*) * 10000")}
        |    AS mean_aspect
        |FROM m
        |GROUP BY format
        |ORDER BY format""".stripMargin,

    "mm_binary_pipeline" ->
      """WITH hx AS (SELECT doc_id, hex(encode(text)) AS h,
        |    octet_length(encode(text)) AS nb
        |  FROM documents WHERE octet_length(encode(text)) > 0),
        |b AS (SELECT doc_id, nb,
        |    ((strpos('0123456789ABCDEF', substring(h, 2*r.i-1, 1))-1)*16 +
        |      strpos('0123456789ABCDEF', substring(h, 2*r.i, 1))-1) % 8 AS bucket
        |  FROM hx, UNNEST(range(1, nb+1)) AS r(i)),
        |h AS (SELECT doc_id, bucket, COUNT(*) AS cnt FROM b GROUP BY 1, 2),
        |agg AS (SELECT doc_id, SUM(cnt*cnt) AS sq,
        |    COALESCE(SUM(CASE WHEN bucket = 0 THEN cnt END), 0) AS c0
        |  FROM h GROUP BY 1)
        |SELECT x.doc_id,
        |  (['jpeg','png','webp'])[CAST(x.doc_id % 3 AS INT) + 1] AS format,
        |  CAST(x.nb AS INT) AS n_bytes,
        |  sqrt(CAST(a.sq AS DOUBLE)) / CAST(x.nb AS DOUBLE) AS feat_norm,
        |  CAST(c0 AS DOUBLE) / CAST(x.nb AS DOUBLE) AS feat_0
        |FROM (SELECT DISTINCT doc_id, nb FROM hx) x JOIN agg a USING (doc_id)
        |ORDER BY x.doc_id""".stripMargin,

    "mm_frame_sample" ->
      """WITH m AS (SELECT doc_id, hex(encode(text)) AS h,
        |    octet_length(encode(text)) AS nb
        |  FROM documents),
        |f AS (SELECT doc_id, nb, h, CAST(r.i AS INT) AS frame_idx
        |  FROM m, UNNEST(range(0, GREATEST((nb + 63) // 64, 1), 4)) AS r(i))
        |SELECT doc_id,
        |  (['jpeg','png','webp'])[CAST(doc_id % 3 AS INT) + 1] AS format,
        |  frame_idx,
        |  CAST(LEAST(64, nb - frame_idx * 64) AS INT) AS frame_bytes,
        |  md5(substring(h, frame_idx * 128 + 1, 128)) AS frame_md5
        |FROM f
        |ORDER BY doc_id, frame_idx""".stripMargin,

    // The ORACLE states the naive all-pairs Hamming theta-join; the
    // engine runs the banded equality join (4×16-bit bands are exact
    // for Hamming <= 3 by pigeonhole) — the hash gate pins the rewrite.
    "mm_phash_dedup" ->
      s"""WITH $PhashPairCtes
        |SELECT * FROM ppairs ORDER BY doc_a, doc_b""".stripMargin,

    // CC over the phash pair graph: oracle by recursive-CTE min-label
    // propagation (the dedup_clusters pattern); the engine runs the
    // shared large-star/small-star kernel.
    "mm_phash_clusters" ->
      s"""WITH RECURSIVE $PhashPairCtes,
        |edges AS (SELECT doc_a AS a, doc_b AS b FROM ppairs
        |          UNION ALL SELECT doc_b, doc_a FROM ppairs),
        |reach AS (
        |  SELECT a AS v, a AS r FROM edges
        |  UNION
        |  SELECT e.a AS v, w.r FROM edges e JOIN reach w ON e.b = w.v),
        |cl AS (SELECT v AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY v)
        |SELECT doc_id, cluster_id,
        |  COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size
        |FROM cl ORDER BY doc_id""".stripMargin,

    "mm_phash_survivors" ->
      s"""WITH RECURSIVE $PhashPairCtes,
        |edges AS (SELECT doc_a AS a, doc_b AS b FROM ppairs
        |          UNION ALL SELECT doc_b, doc_a FROM ppairs),
        |reach AS (
        |  SELECT a AS v, a AS r FROM edges
        |  UNION
        |  SELECT e.a AS v, w.r FROM edges e JOIN reach w ON e.b = w.v),
        |cl AS (SELECT v AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY v)
        |SELECT m.doc_id, m.nb AS n_bytes,
        |  COALESCE(cl.cluster_id = m.doc_id, FALSE) AS cluster_survivor
        |FROM m LEFT JOIN cl ON cl.doc_id = m.doc_id
        |WHERE cl.doc_id IS NULL OR cl.cluster_id = m.doc_id
        |ORDER BY m.doc_id""".stripMargin
  )
}
