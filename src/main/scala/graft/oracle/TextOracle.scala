package graft.oracle

import graft.functions.Exact.ratio4Sql

import Chains._

/** Oracle SQL of the text and sampling queries, BPE included. */
private[oracle] object TextOracle {

  /** The BPE pre-tokenizer over `documents`: each document's
    * lower-cased words, digit runs and single symbols, `word`. The
    * trainer and the encoder read the same one. */
  private val BpeWordsSql: String =
    raw"""unnest(regexp_extract_all(lower(text),
      |  '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS word FROM documents""".stripMargin

  /** The BPE trainer (Bpe.runTraining) replayed token-for-token in
    * DuckDB SQL: `nMerges` UNROLLED rounds (the loop's argmax feeds the
    * next round, which no single recursive CTE expresses — aggregation
    * over the recursive reference is prohibited — but a static chain
    * states each round explicitly, the murmur3-chain technique applied
    * to an iterative trainer). Per round: adjacent-pair counts from an
    * UNNEST over each word's symbol list, the (cnt DESC, a, b) argmax
    * via ORDER BY ... LIMIT 1 (binary collation = Spark's string
    * order), and the leftmost-first greedy merge as ONE non-overlapping
    * string replace over the \\x1F-wrapped symbol string (replace scans
    * left to right past each substitution — exactly the fold semantics
    * of Bpe.mergePair: "aaa" + (a,a) → ["aa","a"]). A guard CTE
    * error()s if any corpus word contains the \\x1F separator, so a
    * collision fails loudly instead of diverging. Validated against an
    * independent Python replay before wiring. */
  private def bpeChainCtes(nMerges: Int): String =
    (s"""toks AS (SELECT $BpeWordsSql),
      |wf AS (SELECT CASE WHEN strpos(word, chr(31)) > 0
      |    THEN error('bpe oracle: separator collision') ELSE word END AS word,
      |  COUNT(*)::BIGINT AS freq FROM toks WHERE length(word) <= 64 GROUP BY 1),
      |w1 AS MATERIALIZED (SELECT freq,
      |  list_append(regexp_extract_all(word, '.'), '</w>') AS syms FROM wf)""".stripMargin +:
    (1 to nMerges).map { r =>
      s"""p$r AS (SELECT syms[u.i] AS a, syms[u.i + 1] AS b, SUM(freq)::BIGINT AS cnt
        |  FROM w$r, UNNEST(range(1, len(syms))) AS u(i) GROUP BY 1, 2),
        |m$r AS MATERIALIZED (SELECT a, b, cnt FROM p$r ORDER BY cnt DESC, a, b LIMIT 1),
        |w${r + 1} AS MATERIALIZED (SELECT freq,
        |  CASE WHEN m.a IS NULL THEN syms ELSE
        |    string_split(trim(replace(
        |      chr(31) || array_to_string(syms, chr(31) || chr(31)) || chr(31),
        |      chr(31) || m.a || chr(31) || chr(31) || m.b || chr(31),
        |      chr(31) || m.a || m.b || chr(31)), chr(31)), chr(31) || chr(31)) END AS syms
        |  FROM w$r LEFT JOIN m$r m ON TRUE)""".stripMargin
    }).mkString(",\n")

  private def bpeTrainOracleSql(nMerges: Int): String = {
    val union = (1 to nMerges).map(r =>
      s"""SELECT CAST($r AS INT) AS rank, a AS "left", b AS "right", """ +
      s"a || b AS merged, cnt AS pair_count FROM m$r").mkString(" UNION ALL ")
    s"WITH ${bpeChainCtes(nMerges)}\nSELECT * FROM ($union) ORDER BY rank"
  }

  /** The shared encode chain (training CTEs + per-word greedy-merge
    * replay ending in `encf(word, bpe_toks)`): `docwCols` picks the
    * carrier columns the final rollup groups on — `doc_id` for
    * text_bpe_encode, `lang, source` for text_bpe_fertility — so the
    * two reports can never drift in how they tokenize. */
  private def bpeEncfCtes(nMerges: Int, docwCols: String): String =
    (Seq(bpeChainCtes(nMerges),
      s"""docw AS (SELECT $docwCols, $BpeWordsSql),
        |enc0 AS MATERIALIZED (SELECT word,
        |  chr(31) || array_to_string(list_append(regexp_extract_all(
        |    CASE WHEN strpos(word, chr(31)) > 0
        |      THEN error('bpe oracle: separator collision') ELSE word END,
        |    '.'), '</w>'), chr(31) || chr(31)) || chr(31) AS s
        |  FROM (SELECT DISTINCT word FROM docw))""".stripMargin) ++
    (1 to nMerges).map { r =>
      s"""enc$r AS MATERIALIZED (SELECT word,
        |  CASE WHEN m.a IS NULL THEN s ELSE replace(s,
        |    chr(31) || m.a || chr(31) || chr(31) || m.b || chr(31),
        |    chr(31) || m.a || m.b || chr(31)) END AS s
        |  FROM enc${r - 1} LEFT JOIN m$r m ON TRUE)""".stripMargin
    } :+
    s"""encf AS (SELECT word,
      |  string_split(trim(s, chr(31)), chr(31) || chr(31)) AS bpe_toks
      |  FROM enc$nMerges)""".stripMargin).mkString(",\n")

  /** The APPLY side under the same gate: rank-greedy encode ==
    * applying the learned merges in RANK ORDER, one non-overlapping
    * left-to-right replace per rank (the standard BPE equivalence — a
    * pair learned at rank r is built from tokens that exist before any
    * later merge, so finishing rank r's pass makes its pair
    * unrecreatable by rank r' > r, and within one pass the replacement
    * token sits between the joined neighbors so the pair cannot bridge
    * its own edit). Encodes the DISTINCT word table (every word — the
    * encode side has no 64-char training cap) and joins the per-word
    * token counts back onto each doc's pre-token explode. */
  private def bpeEncodeOracleSql(nMerges: Int): String =
    s"""WITH ${bpeEncfCtes(nMerges, "doc_id")}
      |SELECT doc_id, COUNT(*)::BIGINT AS n_words,
      |  SUM(len(bpe_toks))::BIGINT AS n_bpe_tokens,
      |  SUM(length(word))::BIGINT AS n_chars,
      |  MIN(CASE WHEN array_to_string(bpe_toks, '') = word || '</w>'
      |      THEN 1 ELSE 0 END) AS lossless
      |FROM docw JOIN encf USING (word)
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  private def bpeFertilityOracleSql(nMerges: Int): String =
    s"""WITH ${bpeEncfCtes(nMerges, "lang, source")}
      |SELECT lang, source, COUNT(*)::BIGINT AS n_words,
      |  SUM(len(bpe_toks))::BIGINT AS n_bpe_tokens,
      |  SUM(length(word))::BIGINT AS n_chars,
      |  ${ratio4Sql("SUM(len(bpe_toks))", "COUNT(*)")} AS fertility,
      |  ${ratio4Sql("SUM(length(word))", "SUM(len(bpe_toks))")}
      |    AS chars_per_token
      |FROM docw JOIN encf USING (word)
      |GROUP BY lang, source ORDER BY lang, source""".stripMargin

  /** Tokens and their DISTINCT 8-word n-grams `sh`(doc_id, ngram). */
  private val Ngram8Ctes: String = tokensCte() + ",\n" + ngram8Cte()

  /** text_decontaminate; text_decontaminate_bloom computes the
    * identical relation through a bloom prefilter, so it shares this
    * oracle verbatim. */
  private val DecontaminateSql: String =
    "WITH " + Ngram8Ctes + s""",
        |ev AS (SELECT DISTINCT ngram FROM sh WHERE doc_id % 20 = 0),
        |tr AS (SELECT doc_id, ngram FROM sh WHERE doc_id % 20 <> 0),
        |n AS (SELECT doc_id, COUNT(*)::INT AS n_ngrams FROM tr GROUP BY doc_id),
        |h AS (SELECT doc_id, COUNT(*) AS n_hits FROM tr JOIN ev USING (ngram) GROUP BY doc_id)
        |SELECT n.doc_id, n.n_ngrams, COALESCE(h.n_hits, 0) AS n_hits,
        |  ${ratio4Sql("COALESCE(h.n_hits, 0)", "GREATEST(n.n_ngrams, 1)")} AS contamination,
        |  COALESCE(h.n_hits, 0) > 0 AS contaminated
        |FROM n LEFT JOIN h USING (doc_id)
        |ORDER BY n.doc_id""".stripMargin

  /** text_quality's inputs with the digit count (`t`) and its token
    * and stopword counts (`s`), shared with text_quality_curve. */
  private val QualityCtes: String =
    s"""WITH t AS (SELECT doc_id, text,
      |$qualityInputCols,
      |  CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE) AS digits
      |  FROM documents),
      |s AS (SELECT *,
      |  CAST(len(toks) AS DOUBLE) AS n_toks,
      |  ${wordCount(QualityStopwords, "    ", "DOUBLE")} AS stops
      |  FROM t)""".stripMargin

  val sql: Map[String, String] = Map(
    "text_lang_mix" ->
      raw"""WITH ${langShareCtes("t", "s", "sc", "lng", ", source")},
        |pred AS (SELECT source,
        |    CASE WHEN cjk > 0.3 THEN 'zh' ELSE best.lang END AS pred_lang
        |  FROM lng),
        |cell AS (SELECT source, pred_lang, COUNT(*)::BIGINT AS n_docs
        |  FROM pred GROUP BY 1, 2),
        |tot AS (SELECT source, SUM(n_docs)::BIGINT AS src_docs
        |  FROM cell GROUP BY 1)
        |SELECT source, pred_lang, n_docs,
        | ${ratio4Sql("n_docs", "src_docs")} AS share
        |FROM cell JOIN tot USING (source)
        |ORDER BY source, pred_lang""".stripMargin,

    "text_langid" ->
      raw"""WITH t AS (SELECT doc_id, text,
        |    string_split_regex(lower(text), '\s+') AS toks FROM documents),
        |s AS (SELECT doc_id, text, toks,
        |    CAST(GREATEST(len(toks), 1) AS BIGINT) AS n FROM t),
        |sc AS (SELECT doc_id, n,
        |${langCountCols("BIGINT", "", "c")},
        |    CAST(length(text) - length(regexp_replace(text, '[\x{4e00}-\x{9fff}]', '', 'g'))
        |      AS BIGINT) AS cjk_c,
        |    CAST(GREATEST(length(text), 1) AS BIGINT) AS n_chars
        |  FROM s),
        |lng AS (
        |  SELECT doc_id, cjk_c, n_chars, n, MAX(b) AS best FROM (
        |${langUnion("doc_id, cjk_c, n_chars, n", "n", "c", "sc")}) u
        |  GROUP BY doc_id, cjk_c, n_chars, n)
        |SELECT doc_id,
        |  CASE WHEN CAST(cjk_c AS DOUBLE) / CAST(n_chars AS DOUBLE) > 0.3
        |    THEN 'zh' ELSE best.lang END AS pred_lang,
        |  CASE WHEN CAST(cjk_c AS DOUBLE) / CAST(n_chars AS DOUBLE) > 0.3
        |    THEN ${ratio4Sql("cjk_c", "n_chars")}
        |    ELSE ${ratio4Sql("best.n", "n")} END AS pred_score
        |FROM lng ORDER BY doc_id""".stripMargin,

    "text_fingerprint" ->
      s"""$winnowSelCtes,
        |agg AS (SELECT doc_id, list_sort(list(fpv)) AS fp,
        |    bit_xor(fpv) AS dig
        |  FROM sel GROUP BY doc_id)
        |SELECT d.doc_id,
        |  COALESCE(len(a.fp), 0)::INT AS n_fingerprints,
        |  COALESCE(a.dig, 0) AS fp_digest,
        |  COALESCE(array_to_string(list_transform(a.fp[1:8],
        |    x -> CAST(x AS VARCHAR)), ','), '') AS fp_head
        |FROM documents d LEFT JOIN agg a USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,

    "text_decontaminate" -> DecontaminateSql,

    "text_contamination_matrix" ->
      ("WITH " + tokensCte() + ",\nsrc AS (SELECT doc_id, source FROM documents),\n" +
        ngram8Cte() + s""",
        |ev AS (SELECT DISTINCT CAST((doc_id // 20) % 4 AS INT) AS benchmark, ngram
        |  FROM sh WHERE doc_id % 20 = 0),
        |hits AS (SELECT DISTINCT s.doc_id, ev.benchmark
        |  FROM sh s JOIN ev USING (ngram) WHERE s.doc_id % 20 <> 0),
        |bysrc AS (SELECT source, COUNT(*)::BIGINT AS n_train_docs
        |  FROM src WHERE doc_id % 20 <> 0 GROUP BY 1),
        |cell AS (SELECT sr.source, h.benchmark, COUNT(*)::BIGINT AS n_contaminated
        |  FROM hits h JOIN src sr USING (doc_id) GROUP BY 1, 2),
        |dense AS (SELECT b.source, b.n_train_docs, m.benchmark
        |  FROM bysrc b CROSS JOIN (SELECT UNNEST([0, 1, 2, 3])::INT AS benchmark) m)
        |SELECT d.source, d.benchmark, d.n_train_docs,
        |  COALESCE(c.n_contaminated, 0) AS n_contaminated,
        |  ${ratio4Sql("COALESCE(c.n_contaminated, 0)", "GREATEST(d.n_train_docs, 1)")}
        |    AS contaminated_frac
        |FROM dense d LEFT JOIN cell c USING (source, benchmark)
        |ORDER BY d.source, d.benchmark""".stripMargin),

    "text_novelty" ->
      ("WITH " + Ngram8Ctes + s""",
        |df AS (SELECT ngram, COUNT(*) AS df FROM sh GROUP BY 1),
        |per AS (SELECT s.doc_id, COUNT(*)::BIGINT AS n_shingles,
        |    SUM(CASE WHEN df.df >= 2 THEN 1 ELSE 0 END)::BIGINT AS n_shared
        |  FROM sh s JOIN df USING (ngram) GROUP BY 1)
        |SELECT d.doc_id,
        |  COALESCE(per.n_shingles, 0) AS n_shingles,
        |  COALESCE(per.n_shared, 0) AS n_shared,
        |  ${ratio4Sql("COALESCE(per.n_shared, 0)", "GREATEST(COALESCE(per.n_shingles, 0), 1)")} AS shared_frac,
        |  COALESCE(per.n_shared, 0) * 2 > COALESCE(per.n_shingles, 0) AS mostly_dup
        |FROM documents d LEFT JOIN per USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin),

    "text_quality_curve" ->
      raw"""$QualityCtes,
        |sc AS (SELECT doc_id, CAST(n_toks AS BIGINT) AS n_tokens,
        | ${qualityScore("   ")} AS score
        | FROM s),
        |tot AS (SELECT COUNT(*)::BIGINT AS n_docs,
        |  SUM(n_tokens)::BIGINT AS n_tokens_all FROM sc),
        |lv AS (SELECT sc.n_tokens, sc.score, th.threshold
        |  FROM sc, (SELECT UNNEST([0.3, 0.4, 0.5, 0.6, 0.7]::DOUBLE[]) AS threshold) th),
        |a AS (SELECT threshold,
        |    SUM(CASE WHEN score >= threshold THEN 1 ELSE 0 END)::BIGINT AS n_kept,
        |    SUM(CASE WHEN score >= threshold THEN n_tokens ELSE 0 END)::BIGINT
        |      AS tokens_kept
        |  FROM lv GROUP BY 1)
        |SELECT threshold, n_kept,
        |  ${ratio4Sql("n_kept", "GREATEST(t.n_docs, 1)")}
        |    AS kept_frac,
        |  tokens_kept,
        |  ${ratio4Sql("tokens_kept", "GREATEST(t.n_tokens_all, 1)")}
        |    AS token_frac
        |FROM a CROSS JOIN tot t
        |ORDER BY threshold""".stripMargin,

    "text_repetition" ->
      raw"""WITH t AS (SELECT doc_id, string_split_regex(lower(text), '\s+') AS t
        |  FROM documents),
        |base AS (SELECT doc_id, len(t)::INT AS n_tokens,
        |    len(list_distinct(t))::INT AS n_distinct, t FROM t),
        |g AS (
        |  SELECT doc_id, 2 AS gn, t[r.i]||' '||t[r.i+1] AS gram
        |  FROM t, UNNEST(range(1, len(t))) AS r(i) WHERE len(t) >= 2
        |  UNION ALL
        |  SELECT doc_id, 3 AS gn, t[r.i]||' '||t[r.i+1]||' '||t[r.i+2] AS gram
        |  FROM t, UNNEST(range(1, len(t)-1)) AS r(i) WHERE len(t) >= 3),
        |c AS (SELECT doc_id, gn, gram, COUNT(*) AS c FROM g GROUP BY 1, 2, 3),
        |p AS (SELECT doc_id, gn, MAX(c) AS max_c,
        |    SUM(CASE WHEN c >= 2 THEN c ELSE 0 END) AS dup_c, SUM(c) AS sum_c
        |  FROM c GROUP BY 1, 2),
        |piv AS (SELECT doc_id,
        |    MAX(CASE WHEN gn = 2 THEN max_c END) AS max2,
        |    MAX(CASE WHEN gn = 2 THEN dup_c END) AS dup2,
        |    MAX(CASE WHEN gn = 2 THEN sum_c END) AS sum2,
        |    MAX(CASE WHEN gn = 3 THEN max_c END) AS max3,
        |    MAX(CASE WHEN gn = 3 THEN dup_c END) AS dup3,
        |    MAX(CASE WHEN gn = 3 THEN sum_c END) AS sum3
        |  FROM p GROUP BY doc_id),
        |r AS (SELECT b.doc_id, b.n_tokens, b.n_distinct,
        |    COALESCE(piv.max2, 0) AS max2, COALESCE(piv.dup2, 0) AS dup2,
        |    GREATEST(COALESCE(piv.sum2, 0), 1) AS sum2,
        |    COALESCE(piv.max3, 0) AS max3, COALESCE(piv.dup3, 0) AS dup3,
        |    GREATEST(COALESCE(piv.sum3, 0), 1) AS sum3
        |  FROM base b LEFT JOIN piv USING (doc_id))
        |SELECT doc_id, n_tokens, n_distinct,
        |  ${ratio4Sql("n_distinct", "GREATEST(n_tokens, 1)")}
        |    AS distinct_ratio,
        |  ${ratio4Sql("max2", "sum2")} AS top_2gram_frac,
        |  ${ratio4Sql("dup2", "sum2")} AS dup_2gram_frac,
        |  ${ratio4Sql("max3", "sum3")} AS top_3gram_frac,
        |  ${ratio4Sql("dup3", "sum3")} AS dup_3gram_frac
        |FROM r
        |ORDER BY doc_id""".stripMargin,

    "text_pii_scrub" ->
      """WITH full_t AS (SELECT doc_id,
        |    text || ' contact user' || CAST(doc_id AS VARCHAR)
        |      || '@mail' || CAST(doc_id % 7 AS VARCHAR) || '.example.com'
        |      || CASE WHEN doc_id % 3 = 0
        |           THEN ' cc admin' || CAST(doc_id % 11 AS VARCHAR) || '@corp.example.org'
        |           ELSE '' END
        |      || ' phone +1-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
        |      || CASE WHEN doc_id % 4 = 0
        |           THEN ' fax 212-555-' || lpad(CAST((doc_id * 3) % 10000 AS VARCHAR), 4, '0')
        |           ELSE '' END
        |      || ' ip 10.' || CAST(doc_id % 256 AS VARCHAR)
        |      || '.' || CAST((doc_id * 7) % 256 AS VARCHAR)
        |      || '.' || CAST((doc_id * 13) % 256 AS VARCHAR) AS f
        |  FROM documents),
        |st AS (SELECT doc_id, f,
        |    regexp_replace(f, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS s1
        |  FROM full_t),
        |st2 AS (SELECT *, regexp_replace(s1, '\+?[0-9]{1,3}-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g') AS s2 FROM st),
        |st3 AS (SELECT *, regexp_replace(s2,
        |    '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '<IP>', 'g') AS s3 FROM st2)
        |SELECT doc_id,
        |  len(regexp_extract_all(f, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))::INT AS n_emails,
        |  len(regexp_extract_all(s1, '\+?[0-9]{1,3}-[0-9]{3}-[0-9]{4}'))::INT AS n_phones,
        |  len(regexp_extract_all(s2,
        |    '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b'))::INT AS n_ips,
        |  length(s3)::INT AS n_chars_redacted,
        |  md5(s3) AS redacted_md5
        |FROM st3
        |ORDER BY doc_id""".stripMargin,

    // Log-free smoothed inverse frequency (tf * (N+1)/(df+1)): one
    // exact integer product plus one correctly-rounded IEEE division,
    // so both engines rank identically — ln() would differ in the last
    // ulp between libm implementations and make top-5 cut points
    // engine-dependent.
    "text_tfidf" ->
      raw"""WITH t AS (SELECT doc_id, string_split_regex(lower(text), '\s+') AS toks
        |  FROM documents),
        |terms AS (SELECT doc_id, r.t AS term
        |  FROM t, UNNEST(toks) AS r(t) WHERE len(r.t) > 0),
        |tf AS (SELECT doc_id, term, COUNT(*)::BIGINT AS tf FROM terms GROUP BY 1, 2),
        |df AS (SELECT term, COUNT(*)::BIGINT AS df FROM tf GROUP BY 1),
        |n AS (SELECT COUNT(*)::BIGINT AS n_docs FROM documents),
        |s AS (SELECT doc_id, term, tf, df, n_docs,
        |    tf::DOUBLE * (n_docs + 1)::DOUBLE / (df + 1)::DOUBLE AS raw
        |  FROM tf JOIN df USING (term) CROSS JOIN n),
        |r AS (SELECT *, row_number() OVER (
        |    PARTITION BY doc_id ORDER BY raw DESC, term) AS rank FROM s)
        |SELECT doc_id, rank::INT AS rank, term, tf, df,
        |  ${ratio4Sql("tf * (n_docs + 1)", "df + 1")} AS tfidf
        |FROM r WHERE rank <= 5
        |ORDER BY doc_id, rank""".stripMargin,

    "text_len_hist" ->
      raw"""WITH b AS (SELECT length(text)::BIGINT AS n,
        |    CASE WHEN length(text) = 0 THEN -1
        |      ELSE CAST(length(bin(length(text)::BIGINT)) - 1 AS INT) END AS k
        |  FROM documents),
        |h AS (SELECT k, COUNT(*)::BIGINT AS n_docs, SUM(n)::BIGINT AS n_chars
        |  FROM b GROUP BY 1),
        |c AS (SELECT *, SUM(n_chars) OVER (ORDER BY k) AS cum_chars,
        |    (SELECT SUM(n_chars) FROM h) AS grand FROM h)
        |SELECT k AS bucket_exp,
        | CASE WHEN k < 0 THEN 0 ELSE (1::BIGINT << k) END AS lo,
        | CASE WHEN k < 0 THEN 0 ELSE (1::BIGINT << (k + 1)) - 1 END AS hi,
        | n_docs, n_chars,
        | ${ratio4Sql("cum_chars", "grand")} AS cum_char_coverage
        |FROM c ORDER BY bucket_exp""".stripMargin,

    "text_collocations" ->
      """WITH t AS (SELECT doc_id,
        |    regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]') AS ts
        |  FROM documents),
        |uni AS (SELECT r.t AS token, COUNT(*)::BIGINT AS n
        |  FROM t, UNNEST(ts) AS r(t) GROUP BY 1),
        |nu AS (SELECT SUM(n)::BIGINT AS n_uni FROM uni),
        |bi AS (SELECT ts[i] AS tok_a, ts[i + 1] AS tok_b
        |  FROM t, UNNEST(range(1, len(ts))) AS r(i)),
        |bc AS (SELECT tok_a, tok_b, COUNT(*)::BIGINT AS n_ab FROM bi GROUP BY 1, 2),
        |nb AS (SELECT SUM(n_ab)::BIGINT AS n_bi FROM bc),
        |top AS (SELECT * FROM bc ORDER BY n_ab DESC, tok_a, tok_b LIMIT 100),
        |r AS (SELECT *,
        |    row_number() OVER (ORDER BY n_ab DESC, tok_a, tok_b) AS rank FROM top)
        |SELECT rank::INT AS rank, tok_a, tok_b, n_ab, ua.n AS n_a, ub.n AS n_b,
        | CAST(CAST(ROUND((CAST(n_ab AS DOUBLE) / CAST(n_bi AS DOUBLE)) /
        |   ((CAST(ua.n AS DOUBLE) / CAST(n_uni AS DOUBLE)) *
        |    (CAST(ub.n AS DOUBLE) / CAST(n_uni AS DOUBLE))), 4)
        |   AS DECIMAL(28,4)) AS DOUBLE) AS lift
        |FROM r JOIN uni ua ON ua.token = tok_a JOIN uni ub ON ub.token = tok_b
        |CROSS JOIN nu CROSS JOIN nb ORDER BY rank""".stripMargin,

    // The bigram LM pair: probabilities quantized ONCE per bigram type
    // to integer parts-per-billion ((n_ab+1)*1e9 exact in a double, one
    // correctly-rounded division, hash-proven HALF_UP round) — so the
    // scoring CTE is pure BIGINT arithmetic, order-free like Spark's.
    "text_bigram_lm" ->
      """WITH t AS (SELECT doc_id,
        |    regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]') AS ts
        |  FROM documents),
        |uni AS (SELECT r.t AS token, COUNT(*)::BIGINT AS n
        |  FROM t, UNNEST(ts) AS r(t) GROUP BY 1),
        |v AS (SELECT COUNT(*)::BIGINT AS v FROM uni),
        |bi AS (SELECT ts[i] AS tok_a, ts[i + 1] AS tok_b
        |  FROM t, UNNEST(range(1, len(ts))) AS r(i)),
        |bc AS (SELECT tok_a, tok_b, COUNT(*)::BIGINT AS n_ab FROM bi GROUP BY 1, 2),
        |m AS (SELECT tok_a, tok_b, n_ab, u.n AS n_a,
        |    CAST(ROUND(CAST(n_ab + 1 AS DOUBLE) * 1000000000.0 /
        |      CAST(u.n + v.v AS DOUBLE), 0) AS BIGINT) AS p_ppb
        |  FROM bc JOIN uni u ON u.token = tok_a CROSS JOIN v),
        |top AS (SELECT * FROM m ORDER BY n_ab DESC, tok_a, tok_b LIMIT 100)
        |SELECT row_number() OVER (ORDER BY n_ab DESC, tok_a, tok_b)::INT AS rank,
        |  tok_a, tok_b, n_ab, n_a, p_ppb
        |FROM top ORDER BY rank""".stripMargin,

    "text_lm_score" ->
      """WITH t AS (SELECT doc_id,
        |    regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]') AS ts
        |  FROM documents),
        |uni AS (SELECT r.t AS token, COUNT(*)::BIGINT AS n
        |  FROM t, UNNEST(ts) AS r(t) GROUP BY 1),
        |v AS (SELECT COUNT(*)::BIGINT AS v FROM uni),
        |bi AS (SELECT doc_id, ts[i] AS tok_a, ts[i + 1] AS tok_b
        |  FROM t, UNNEST(range(1, len(ts))) AS r(i)),
        |bc AS (SELECT tok_a, tok_b, COUNT(*)::BIGINT AS n_ab FROM bi GROUP BY 1, 2),
        |m AS (SELECT tok_a, tok_b,
        |    CAST(ROUND(CAST(n_ab + 1 AS DOUBLE) * 1000000000.0 /
        |      CAST(u.n + v.v AS DOUBLE), 0) AS BIGINT) AS p_ppb
        |  FROM bc JOIN uni u ON u.token = tok_a CROSS JOIN v),
        |sc AS (SELECT doc_id, COUNT(*)::BIGINT AS n_bigrams,
        |    SUM(p_ppb)::BIGINT AS sum_ppb
        |  FROM bi JOIN m USING (tok_a, tok_b) GROUP BY 1),
        |s AS (SELECT d.doc_id,
        |    COALESCE(sc.n_bigrams, 0)::BIGINT AS n_bigrams,
        |    COALESCE(CAST(ROUND(CAST(sc.sum_ppb * 10 AS DOUBLE) /
        |        CAST(sc.n_bigrams AS DOUBLE), 0) AS BIGINT)
        |      / 10000.0, 0.0) AS score_ppm
        |  FROM documents d LEFT JOIN sc ON sc.doc_id = d.doc_id)
        |SELECT doc_id, n_bigrams, score_ppm,
        |  CASE WHEN n_bigrams = 0 THEN 'empty'
        |    WHEN score_ppm >= 20000.0 THEN 'head'
        |    WHEN score_ppm >= 5000.0 THEN 'middle'
        |    ELSE 'tail' END AS bucket
        |FROM s ORDER BY doc_id""".stripMargin,

    "text_readability" ->
      """SELECT doc_id,
        | CAST(len(string_split_regex(lower(text), '\s+')) AS BIGINT) AS n_words,
        | CAST(GREATEST(len(regexp_extract_all(text, '[.!?]+')), 1) AS BIGINT)
        |   AS n_sentences,
        | CAST(length(regexp_replace(text, '\s', '', 'g')) AS BIGINT)
        |   AS n_nonspace_chars,
        | CAST((100 * len(string_split_regex(lower(text), '\s+')))
        |   // GREATEST(len(regexp_extract_all(text, '[.!?]+')), 1) AS BIGINT)
        |   / CAST(100.0 AS DOUBLE) AS words_per_sentence,
        | CAST((100 * length(regexp_replace(text, '\s', '', 'g')))
        |   // GREATEST(len(string_split_regex(lower(text), '\s+')), 1) AS BIGINT)
        |   / CAST(100.0 AS DOUBLE) AS chars_per_word
        |FROM documents ORDER BY doc_id""".stripMargin,

    "text_vocab" ->
      raw"""WITH toks AS (SELECT doc_id, r.t AS token
        |  FROM (SELECT doc_id,
        |      regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]') AS ts
        |    FROM documents), UNNEST(ts) AS r(t)),
        |counts AS (SELECT token, COUNT(*)::BIGINT AS n_occurrences,
        |    COUNT(DISTINCT doc_id)::BIGINT AS n_docs FROM toks GROUP BY 1),
        |total AS (SELECT SUM(n_occurrences)::BIGINT AS n_total FROM counts),
        |top AS (SELECT * FROM counts ORDER BY n_occurrences DESC, token LIMIT 100),
        |r AS (SELECT *,
        |    row_number() OVER (ORDER BY n_occurrences DESC, token) AS rank,
        |    SUM(n_occurrences) OVER (ORDER BY n_occurrences DESC, token) AS cum
        |  FROM top)
        |SELECT rank::INT AS rank, token, n_occurrences, n_docs,
        |  ${ratio4Sql("cum", "n_total")}
        |    AS cum_coverage
        |FROM r CROSS JOIN total ORDER BY rank""".stripMargin,

    // Temperature mixing: √ and the quantizing floor are correctly
    // rounded IEEE ops; everything downstream is BIGINT/HUGEINT
    // integer math, so rates and per-doc decisions hash-match exactly.
    "sample_temperature" ->
      raw"""WITH b AS (SELECT doc_id, source,
        |    CAST(CAST(concat('0x', substring(
        |      md5(CAST(doc_id AS VARCHAR) || '#' || source), 1, 12)) AS UBIGINT)
        |      % 1000000 AS BIGINT) AS bucket_ppm
        |  FROM documents),
        |${sqrtRateCtes(cCols = "source, COUNT(*) AS n_docs", sizeAgg = "COUNT(*)",
               from = "b GROUP BY source", size = "n_docs", total = "corpus_docs",
               target = "target_docs", rCols = "c.source, c.n_docs",
               r2Cols = "source, n_docs, target_docs")},
        |s AS (SELECT b.source,
        |    CAST(SUM(CASE WHEN b.bucket_ppm < r2.rate_ppm THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled
        |  FROM b JOIN r2 USING (source) GROUP BY b.source)
        |SELECT r2.source, r2.n_docs, r2.target_docs, r2.rate_ppm, s.n_sampled,
        |  ${ratio4Sql("s.n_sampled", "GREATEST(r2.n_docs, 1)")}
        |    AS realized_rate
        |FROM r2 JOIN s USING (source)
        |ORDER BY r2.source""".stripMargin,

    "sample_stratified" ->
      """WITH d AS (SELECT doc_id, source,
        |    5 + (CAST(regexp_replace(source, '[^0-9]', '', 'g') AS INT) * 7) % 90 AS rate_pct,
        |    CAST(CAST(concat('0x', substring(
        |      md5(CAST(doc_id AS VARCHAR) || ':' || source), 1, 8)) AS UBIGINT) % 100 AS BIGINT) AS bucket
        |  FROM documents)
        |SELECT source, rate_pct, COUNT(*) AS n_docs,
        |  CAST(SUM(CASE WHEN bucket < rate_pct THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled,
        |  (CAST(ROUND(
        |    CAST(SUM(CASE WHEN bucket < rate_pct THEN 1 ELSE 0 END) * 1000000 AS DOUBLE)
        |      / CAST(COUNT(*) AS DOUBLE), 0) AS BIGINT) / 10000.0) AS realized_pct
        |FROM d
        |GROUP BY source, rate_pct
        |ORDER BY source""".stripMargin,

    "corpus_mix" ->
      raw"""WITH a AS (SELECT source, lang, COUNT(*) AS n_docs,
        |    CAST(SUM(len(string_split_regex(lower(text), '\s+'))) AS BIGINT) AS n_tokens,
        |    CAST(SUM(length(text)) AS BIGINT) AS n_chars
        |  FROM documents GROUP BY source, lang),
        |t AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS total_tokens FROM a)
        |SELECT source, lang, n_docs, n_tokens, n_chars,
        |  ${ratio4Sql("n_tokens", "total_tokens")} AS token_share,
        |  ${ratio4Sql("n_tokens", "n_docs")} AS avg_doc_tokens
        |FROM a CROSS JOIN t
        |ORDER BY source, lang""".stripMargin,

    "text_c4_filters" ->
      raw"""WITH f AS (SELECT doc_id,
        |    text ||
        |    CASE WHEN doc_id % 7 = 0 THEN ' function() { var x = 1; }' ELSE '' END ||
        |    CASE WHEN doc_id % 13 = 0 THEN ' lorem ipsum dolor sit amet' ELSE '' END ||
        |    CASE WHEN doc_id % 11 = 0 THEN ' please enable javascript to continue' ELSE '' END ||
        |    CASE WHEN doc_id % 2 = 0 THEN '.' ELSE '' END AS t
        |  FROM documents),
        |s AS (SELECT doc_id,
        |    CAST(len(string_split_regex(t, '\s+')) AS INT) AS n_words,
        |    CAST(length(regexp_replace(t, '\s', '', 'g')) AS BIGINT) AS n_nonspace,
        |    CAST(length(regexp_replace(t, '\s', '', 'g')) AS DOUBLE)
        |      / CAST(len(string_split_regex(t, '\s+')) AS DOUBLE) AS mean_len,
        |    regexp_matches(t, '[.!?"]$$') AS ends_punct,
        |    contains(t, '{') AS has_curly,
        |    contains(lower(t), 'lorem ipsum') AS has_lorem,
        |    contains(lower(t), 'javascript') AS has_js
        |  FROM f),
        |r AS (SELECT *,
        |    CASE WHEN has_curly THEN 'curly_brace'
        |         WHEN has_lorem THEN 'lorem_ipsum'
        |         WHEN has_js THEN 'javascript'
        |         WHEN NOT ends_punct THEN 'no_terminal_punct'
        |         WHEN n_words < 5 THEN 'too_short'
        |         WHEN mean_len < 3.0 OR mean_len > 10.0 THEN 'word_length'
        |         ELSE 'kept' END AS drop_reason
        |  FROM s)
        |SELECT doc_id, n_words,
        |  ${ratio4Sql("n_nonspace", "GREATEST(n_words, 1)")}
        |    AS mean_word_len,
        |  ends_punct, has_curly, has_lorem, has_js AS has_javascript,
        |  drop_reason, drop_reason = 'kept' AS kept
        |FROM r
        |ORDER BY doc_id""".stripMargin,

    "text_gopher_filters" ->
      raw"""WITH f AS (SELECT doc_id, text,
        |    len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS n0
        |  FROM documents),
        |d4 AS (SELECT doc_id, CASE
        |    WHEN doc_id % 23 = 0
        |      THEN text || ' ' || repeat('# ', CAST((n0 + 5) // 6 AS INT))
        |    WHEN doc_id % 23 = 1
        |      THEN text || ' ' || repeat('12345 ', CAST((n0 + 2) // 3 AS INT))
        |    WHEN doc_id % 23 = 2
        |      THEN '- ' || regexp_replace(text, ' +', chr(10) || '- ', 'g')
        |    WHEN doc_id % 23 = 3 THEN text || '...'
        |    ELSE text END AS t FROM f),
        |s AS (SELECT doc_id,
        |    list_filter(string_split_regex(t, '\s+'), x -> x <> '') AS words,
        |    list_filter(string_split_regex(t, chr(10)), x -> x <> '') AS lines,
        |    CAST(length(t) - length(regexp_replace(t, '#', '', 'g')) AS BIGINT)
        |      AS n_hash,
        |    CAST((length(t) - length(regexp_replace(t, '\.\.\.', '', 'g'))) // 3
        |      AS BIGINT) AS n_ell,
        |    CAST(length(regexp_replace(t, '\s', '', 'g')) AS BIGINT) AS n_wchars
        |  FROM d4),
        |g AS (SELECT doc_id,
        |    CAST(len(words) AS INT) AS n_words,
        |    CAST(len(lines) AS INT) AS n_lines,
        |    ${ratio4Sql("(n_hash + n_ell)", "GREATEST(len(words), 1)")}
        |      AS symbol_ratio,
        |    ${ratio4Sql("len(list_filter(lines, l -> l LIKE '- %'))", "GREATEST(len(lines), 1)")} AS bullet_ratio,
        |    ${ratio4Sql("len(list_filter(lines, l -> l LIKE '%...'))", "GREATEST(len(lines), 1)")} AS ellipsis_ratio,
        |    ${ratio4Sql("len(list_filter(words, w -> regexp_matches(w, '[a-z]')))", "GREATEST(len(words), 1)")} AS alpha_ratio,
        |    CAST(CASE WHEN list_contains(words, 'the') THEN 1 ELSE 0 END
        |      + CASE WHEN list_contains(words, 'be') THEN 1 ELSE 0 END
        |      + CASE WHEN list_contains(words, 'to') THEN 1 ELSE 0 END
        |      + CASE WHEN list_contains(words, 'of') THEN 1 ELSE 0 END
        |      + CASE WHEN list_contains(words, 'and') THEN 1 ELSE 0 END
        |      + CASE WHEN list_contains(words, 'that') THEN 1 ELSE 0 END
        |      + CASE WHEN list_contains(words, 'have') THEN 1 ELSE 0 END
        |      + CASE WHEN list_contains(words, 'with') THEN 1 ELSE 0 END
        |      AS BIGINT) AS n_stop_hits,
        |    ${ratio4Sql("n_wchars", "GREATEST(len(words), 1)")}
        |      AS mean_word_len
        |  FROM s)
        |SELECT *, drop_reason = 'kept' AS kept FROM (SELECT *,
        |    CASE WHEN symbol_ratio > 0.1 THEN 'symbol_ratio'
        |         WHEN bullet_ratio > 0.9 THEN 'bullet_lines'
        |         WHEN ellipsis_ratio > 0.3 THEN 'ellipsis_lines'
        |         WHEN alpha_ratio < 0.8 THEN 'alpha_words'
        |         WHEN n_stop_hits < 2 THEN 'stopwords'
        |         WHEN mean_word_len < 3.0 OR mean_word_len > 10.0 THEN 'word_length'
        |         WHEN n_words < 50 OR n_words > 100000 THEN 'word_count'
        |         ELSE 'kept' END AS drop_reason
        |  FROM g)
        |ORDER BY doc_id""".stripMargin,

    "sample_split" ->
      raw"""WITH b AS (SELECT doc_id, n_chars,
        |    len(list_filter(string_split_regex(text, '\s+'), x -> x <> ''))
        |      AS n_toks,
        |    CAST(CAST(concat('0x', substring(
        |      md5(CAST(doc_id AS VARCHAR) || '#split'), 1, 12)) AS UBIGINT)
        |      % 1000000 AS BIGINT) AS bucket_ppm
        |  FROM documents),
        |s AS (SELECT CASE WHEN bucket_ppm < 980000 THEN 'train'
        |             WHEN bucket_ppm < 990000 THEN 'val'
        |             ELSE 'test' END AS split, doc_id, n_chars, n_toks
        |  FROM b),
        |a AS (SELECT split, COUNT(*)::BIGINT AS n_docs,
        |    SUM(n_chars)::BIGINT AS n_chars, SUM(n_toks)::BIGINT AS n_tokens,
        |    SUM(doc_id)::BIGINT AS id_checksum
        |  FROM s GROUP BY split)
        |SELECT split, n_docs, n_chars, n_tokens, id_checksum,
        |  ${ratio4Sql("n_docs", "SUM(n_docs) OVER ()")}
        |    AS share
        |FROM a ORDER BY split""".stripMargin,

    // Coverage rides the SAME sh shingle CTE shape as the dedup
    // oracles; df is a plain count so no posting-list cap applies.
    "text_ngram_coverage" ->
      s"""WITH ${tokensCte(cols = "doc_id, source")},
        |${shinglesCte(cols = "doc_id, source")},
        |df AS (SELECT shingle, COUNT(*)::BIGINT AS df FROM sh GROUP BY 1),
        |j AS (SELECT s.source, s.doc_id, s.shingle, d.df
        |  FROM sh s JOIN df d USING (shingle))
        |SELECT source, COUNT(DISTINCT doc_id)::BIGINT AS n_docs,
        |  COUNT(*)::BIGINT AS n_slots,
        |  SUM(CASE WHEN df >= 2 THEN 1 ELSE 0 END)::BIGINT AS dup_slots,
        |  COUNT(DISTINCT shingle)::BIGINT AS n_distinct,
        |  COUNT(DISTINCT CASE WHEN df >= 2 THEN shingle END)::BIGINT
        |    AS n_dup_distinct,
        |  ${ratio4Sql("SUM(CASE WHEN df >= 2 THEN 1 ELSE 0 END)", "COUNT(*)")}
        |    AS dup_share
        |FROM j GROUP BY source ORDER BY source""".stripMargin,

    // The oracle is the NAIVE corpus-wide prefix sum (one global
    // window — fine at DuckDB scale); the Spark side computes the same
    // numbers hierarchically. Equality here pins the decomposition.
    // Shard plan: the oracle rebuilds the same plan from the naive
    // global prefix sum — closed-form integer arithmetic both sides.
    "text_shard_plan" ->
      """WITH d AS (SELECT doc_id,
        |    CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS BIGINT)
        |      AS n_tokens
        |  FROM documents),
        |o AS (SELECT doc_id, n_tokens,
        |    CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |      AS off
        |  FROM d),
        |sp AS (SELECT doc_id, off // 2048 AS sf,
        |    (off + GREATEST(n_tokens, 1) - 1) // 2048 AS sl
        |  FROM o),
        |ts AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
        |    (CAST(SUM(n_tokens) AS BIGINT) + 2047) // 2048 AS total_seqs FROM d),
        |touch AS (SELECT DISTINCT sp.doc_id, x.s % 16 AS shard_id
        |  FROM sp, UNNEST(range(sp.sf, LEAST(sp.sl, sp.sf + 15) + 1)) AS x(s)),
        |td AS (SELECT shard_id, CAST(COUNT(*) AS BIGINT) AS n_docs
        |  FROM touch GROUP BY 1),
        |sh AS (SELECT r.s AS shard_id FROM UNNEST(range(0, 16)) AS r(s)),
        |plan AS (SELECT sh.shard_id,
        |    CASE WHEN sh.shard_id < ts.total_seqs
        |      THEN (ts.total_seqs - 1 - sh.shard_id) // 16 + 1 ELSE 0 END AS n_seqs,
        |    ts.total_tokens, ts.total_seqs
        |  FROM sh, ts)
        |SELECT shard_id, n_seqs,
        |  n_seqs * 2048 - (CASE WHEN total_seqs > 0
        |    AND (total_seqs - 1) % 16 = shard_id
        |    THEN 2048 - (total_tokens - (total_seqs - 1) * 2048) ELSE 0 END) AS n_tokens,
        |  COALESCE(td.n_docs, 0) AS n_docs
        |FROM plan LEFT JOIN td USING (shard_id)
        |ORDER BY shard_id""".stripMargin,

    "text_seq_packing" ->
      """WITH d AS (SELECT doc_id,
        |    CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS BIGINT)
        |      AS n_tokens
        |  FROM documents),
        |o AS (SELECT doc_id, n_tokens,
        |    CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |      AS token_offset
        |  FROM d)
        |SELECT doc_id, n_tokens, token_offset,
        |  token_offset // 2048 AS seq_first,
        |  (token_offset + GREATEST(n_tokens, 1) - 1) // 2048 AS seq_last,
        |  token_offset // 2048 <>
        |    (token_offset + GREATEST(n_tokens, 1) - 1) // 2048 AS spans_boundary
        |FROM o
        |ORDER BY doc_id""".stripMargin,

    "text_token_stats" ->
      """SELECT doc_id,
        | CAST(length(text) AS INT) AS n_chars,
        | CAST(len(string_split_regex(lower(text), '\s+')) AS INT) AS n_ws_tokens,
        | CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS INT) AS n_bpe_tokens,
        | CAST(length(regexp_replace(lower(text), '[^a-z]', '', 'g')) AS INT) AS n_alpha_chars
        |FROM documents
        |ORDER BY doc_id""".stripMargin,

    "text_quality" ->
      raw"""$QualityCtes
        |SELECT doc_id,
        | CAST(n_chars AS INT) AS n_chars,
        | CAST(n_toks AS INT) AS n_tokens,
        | ${ratio4Sql("punct", "GREATEST(n_chars, 1)")} AS punct_ratio,
        | ${ratio4Sql("digits", "GREATEST(n_chars, 1)")} AS digit_ratio,
        | ${ratio4Sql("stops", "GREATEST(n_toks, 1)")} AS stopword_ratio,
        | ${qualityScore("   ")} AS quality_score
        |FROM s
        |ORDER BY doc_id""".stripMargin,

    "text_decontaminate_bloom" -> DecontaminateSql,

    "text_bpe_train" -> bpeTrainOracleSql(25),

    "text_bpe_encode" -> bpeEncodeOracleSql(25),

    "text_bpe_fertility" -> bpeFertilityOracleSql(25)
  )
}
