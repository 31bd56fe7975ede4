package graft.oracle

/** SQL chains shared by several oracle families: 64-bit wrapping
  * arithmetic and the MATERIALIZED stage chains of the murmur3
  * replays, Rabin-Karp winnowing, the phash pair CTEs, the document
  * tokenizer with its shingle, n-gram and df-capped co-count chains,
  * and the near-dup cluster verdict chain. Each is defined once here,
  * so two families can never replay one kernel two ways. */
private[oracle] object Chains {

  /** Rabin-Karp winnowing (k=8, w=4) in DuckDB SQL, shared by the
    * text_fingerprint and dedup_substring oracles: the rolling hash
    * telescopes to a closed form (8 byte terms x B^j mod 2^64
    * constants, HUGEINT pattern arithmetic), per-window minima via a
    * window frame — the p <= m-w+1 start filter applied OUTSIDE the
    * window so trailing frames keep their following rows. The tie rule
    * (rightmost min) does not affect the emitted VALUE set, so MIN
    * reproduces the kernel exactly. Yields CTEs through `sel` =
    * (doc_id, fpv) DISTINCT winnowed fingerprints. */
  lazy val winnowSelCtes: String = {
    val M = "18446744073709551616::HUGEINT"
    val H = "9223372036854775808::HUGEINT"
    val B = BigInt(1000003)
    val mod = BigInt(1) << 64
    def byteAt(idx: String) =
      s"((strpos('0123456789ABCDEF', substring(h, 2*($idx)-1, 1))-1)*16 + " +
      s"strpos('0123456789ABCDEF', substring(h, 2*($idx), 1))-1)::HUGEINT"
    val terms = (0 until 8).map(j =>
      s"${byteAt(s"p+$j")} * ${B.modPow(BigInt(7 - j), mod)}::HUGEINT").mkString(" + ")
    s"""WITH hx AS MATERIALIZED (SELECT doc_id, hex(encode(lower(text))) AS h,
      |    octet_length(encode(lower(text))) AS n FROM documents),
      |tokd AS MATERIALIZED (SELECT doc_id, n, r.i AS p,
      |    ((($terms) % $M) - CASE WHEN (($terms) % $M) >= $H
      |     THEN $M ELSE 0::HUGEINT END)::BIGINT AS tok
      |  FROM hx, UNNEST(range(1, n - 8 + 2)) AS r(i) WHERE n >= 8),
      |wins AS (
      |  SELECT doc_id, fpv FROM (
      |    SELECT doc_id, p, n, MIN(tok) OVER (PARTITION BY doc_id ORDER BY p
      |      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fpv
      |    FROM tokd WHERE n - 7 > 4) WHERE p <= n - 10
      |  UNION ALL
      |  SELECT doc_id, MIN(tok) AS fpv FROM tokd WHERE n - 7 <= 4 GROUP BY doc_id),
      |sel AS (SELECT DISTINCT doc_id, fpv FROM wins)""".stripMargin
  }

  /** 64-bit wrapping arithmetic in DuckDB SQL, shared by every
    * hash-replay chain below (xxhash64, both murmur3 chains, the band
    * fold). Values are non-negative HUGEINT bit patterns: a 64x64
    * product overflows HUGEINT, so [[mul64]] splits into 32-bit halves,
    * and rotate/shift become scaled adds over disjoint bits. */
  object U64Sql {
    val M = "18446744073709551616::HUGEINT"  // 2^64
    val B32 = "4294967296::HUGEINT"          // 2^32
    val F1 = "18397679294719823053::HUGEINT" // 0xff51afd7ed558ccd fmix
    val F2 = "14181476777654086739::HUGEINT" // 0xc4ceb9fe1a85ec53 fmix

    def m64(x: String) = s"((($x) % $M + $M) % $M)"
    def mul64(a: String, b: String) = m64(
      s"(($a) % $B32) * (($b) % $B32)" +
      s" + ((((($a) // $B32) * (($b) % $B32)" +
      s" + (($a) % $B32) * (($b) // $B32)) % $B32) * $B32)")
    def rotl(x: String, n: Int) = m64(
      s"($x) * ${BigInt(1) << n}::HUGEINT + ($x) // ${BigInt(1) << (64 - n)}::HUGEINT")
    def xor64(a: String, b: String) = s"xor(($a)::UBIGINT, ($b)::UBIGINT)::HUGEINT"
    def shr(x: String, n: Int) = s"(($x) // ${BigInt(1) << n}::HUGEINT)"
    def add64(a: String, b: String) = m64(s"($a) + ($b)")
    /** MurmurHash3's fmix64 on column `c`, one stage per step. */
    def fmixStages(c: String): Seq[Map[String, String]] = Seq(
      Map(c -> xor64(c, shr(c, 33))), Map(c -> mul64(c, F1)),
      Map(c -> xor64(c, shr(c, 33))), Map(c -> mul64(c, F2)),
      Map(c -> xor64(c, shr(c, 33))))
  }

  /** The phash media-dedup pair CTEs (companion-augmented corpus →
    * 64-bit blockhash → naive all-pairs Hamming ≤ 3), shared by the
    * mm_phash_dedup / mm_phash_clusters / mm_phash_survivors oracles —
    * one definition so the three stages can never drift. */
  val PhashPairCtes: String =
    """m0 AS (SELECT CASE WHEN doc_id >= 10000000
      |    THEN error('mm_phash_dedup: doc_id collides with the companion id space')
      |    ELSE doc_id END AS doc_id,
      |    hex(encode(text)) AS h,
      |    octet_length(encode(text)) AS nb
      |  FROM documents),
      |m AS (
      |  SELECT doc_id, h, nb FROM m0
      |  UNION ALL
      |  SELECT doc_id + 10000000, '4141414141414141' || substr(h, 17), nb
      |  FROM m0 WHERE doc_id % 10 = 0 AND nb >= 256
      |  UNION ALL
      |  SELECT doc_id + 20000000, h, nb FROM m0 WHERE doc_id % 20 = 0),
      |bits AS (SELECT doc_id,
      |    CASE WHEN substr(md5(substr(h,
      |        CAST(((r.i * nb) // 64) * 2 + 1 AS INT),
      |        CAST((((r.i + 1) * nb) // 64 - (r.i * nb) // 64) * 2 AS INT))),
      |        1, 1) >= '8'
      |      THEN CASE WHEN r.i = 63 THEN (-9223372036854775807 - 1)
      |                ELSE (1::BIGINT << CAST(r.i AS INT)) END
      |      ELSE 0 END AS contrib
      |  FROM m, UNNEST(range(0, 64)) AS r(i)),
      |ph AS (SELECT doc_id, CAST(SUM(contrib) AS BIGINT) AS phash
      |  FROM bits GROUP BY 1),
      |ppairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |    a.phash AS phash_a, b.phash AS phash_b,
      |    CAST(bit_count(xor(a.phash, b.phash)) AS INT) AS hamming
      |  FROM ph a JOIN ph b ON a.doc_id < b.doc_id
      |  WHERE bit_count(xor(a.phash, b.phash)) <= 3)""".stripMargin

  /** MurmurHash3 x64_128 over a `key` column as MATERIALIZED-stage
    * column updates, up to (not including) the final h1 += h2: body
    * rounds for `maxBlocks` 16-byte blocks, then the tail and fmix.
    * `signedTail` sign-extends tail bytes — the Cassandra quirk. */
  def murmurX64Stages(maxBlocks: Int, signedTail: Boolean): Seq[Map[String, String]] = {
    import U64Sql._
    val C1 = "9782798678568883157::HUGEINT"  // 0x87c37b91114253d5
    val C2 = "5545529020109919103::HUGEINT"  // 0x4cf5ad432745937f
    // Tail byte j (1-based within the tail, after `len // 16` whole
    // blocks), zero when the tail is shorter.
    def tailByteTerm(j: Int, shift: Int) = {
      val pos = s"((len // 16) * 16 + $j)::BIGINT"
      val b = s"ascii(substring(key, $pos, 1))::HUGEINT"
      val v = if (signedTail) s"($b - CASE WHEN $b >= 128 THEN 256 ELSE 0 END)" else b
      s"CASE WHEN (len % 16) >= $j THEN ${m64(s"$v * ${BigInt(1) << shift}::HUGEINT")} ELSE 0::HUGEINT END"
    }
    // Body block half: 8 UNSIGNED little-endian byte lanes (disjoint,
    // so XOR == sum, no carries), zero when the block is absent.
    def bodyHalf(block: Int, off: Int) = {
      val terms = (1 to 8).map { j =>
        val pos = 16 * block + off + j
        s"ascii(substring(key, $pos, 1))::HUGEINT * ${BigInt(1) << (8 * (j - 1))}::HUGEINT"
      }.mkString(" + ")
      s"(CASE WHEN len >= ${16 * (block + 1)} THEN $terms ELSE 0::HUGEINT END)"
    }

    // Body rounds: for each present block, the standard x64_128 mixing
    // (h-side steps gated on block presence; the k-side mixes of an
    // absent block produce 0, so their XORs are no-ops regardless).
    val blockStages: Seq[Map[String, String]] = (0 until maxBlocks).flatMap { b =>
      def cond(e: String, keep: String) =
        s"CASE WHEN len >= ${16 * (b + 1)} THEN $e ELSE $keep END"
      Seq(
        Map("bk1" -> bodyHalf(b, 0), "bk2" -> bodyHalf(b, 8)),
        Map("bk1" -> mul64("bk1", C1), "bk2" -> mul64("bk2", C2)),
        Map("bk1" -> rotl("bk1", 31), "bk2" -> rotl("bk2", 33)),
        Map("bk1" -> mul64("bk1", C2), "bk2" -> mul64("bk2", C1)),
        Map("h1" -> xor64("h1", "bk1")),
        Map("h1" -> cond(rotl("h1", 27), "h1")),
        Map("h1" -> cond(add64("h1", "h2"), "h1")),
        Map("h1" -> cond(add64(mul64("h1", "5::HUGEINT"), "1390208809::HUGEINT"), "h1")),
        Map("h2" -> xor64("h2", "bk2")),
        Map("h2" -> cond(rotl("h2", 31), "h2")),
        Map("h2" -> cond(add64("h2", "h1"), "h2")),
        Map("h2" -> cond(add64(mul64("h2", "5::HUGEINT"), "944331445::HUGEINT"), "h2")))
    }

    val k1 = (1 to 8).map(j => tailByteTerm(j, 8 * (j - 1))).mkString(" + ")
    val k2 = (9 to 15).map(j => tailByteTerm(j, 8 * (j - 9))).mkString(" + ")
    blockStages ++ Seq(
      Map("k1" -> s"($k1)", "k2" -> s"($k2)"),
      Map("k1" -> mul64("k1", C1), "k2" -> mul64("k2", C2)),
      Map("k1" -> rotl("k1", 31), "k2" -> rotl("k2", 33)),
      Map("k1" -> mul64("k1", C2), "k2" -> mul64("k2", C1)),
      // A zero-mixed half stays zero, so the XOR is a no-op for an
      // empty tail half — no length condition needed here.
      Map("h1" -> xor64("h1", "k1"), "h2" -> xor64("h2", "k2")),
      Map("h1" -> xor64("h1", "len::HUGEINT"), "h2" -> xor64("h2", "len::HUGEINT")),
      Map("h1" -> add64("h1", "h2")),
      Map("h2" -> add64("h2", "h1"))) ++
      fmixStages("h1") ++ fmixStages("h2")
  }

  /** The murmur stages as `<prefix>_s0 .. <prefix>_s<n>` MATERIALIZED
    * CTEs over `fromSql`'s `key` column. */
  def murmurStageCtes(
      prefix: String, fromSql: String, stages: Seq[Map[String, String]]): String = {
    val cols = Seq("key", "len", "bk1", "bk2", "k1", "k2", "h1", "h2")
    stageChain(s"${prefix}_s",
      "SELECT key, length(key)::HUGEINT AS len, " +
      "0::HUGEINT AS bk1, 0::HUGEINT AS bk2, " +
      "0::HUGEINT AS k1, 0::HUGEINT AS k2, 0::HUGEINT AS h1, 0::HUGEINT AS h2 " +
      s"FROM $fromSql",
      stages.map { st =>
        val sel = cols.map(c => st.get(c).map(e => s"$e AS $c").getOrElse(c)).mkString(", ")
        (prev: String) => s"SELECT $sel FROM $prev"
      }).mkString(",\n")
  }

  /** An unrolled chain of MATERIALIZED stages: `<stem>0` is `first`,
    * stage i is `stages(i - 1)` over stage i - 1's name. DuckDB inlines
    * plain single-use CTEs, and an inlined hash stage that reads its
    * input column several times would compound through the chain;
    * materializing every stage keeps each hash replay linear. */
  def stageChain(stem: String, first: String, stages: Seq[String => String]): Seq[String] =
    s"${stem}0 AS MATERIALIZED ($first)" +: stages.zipWithIndex.map { case (sel, i) =>
      s"$stem${i + 1} AS MATERIALIZED (${sel(s"$stem$i")})"
    }

  /** A `WITH` clause over the CTE definitions `ctes`, in order. */
  def withCtes(ctes: Seq[String], recursive: Boolean = false): String =
    ctes.mkString(if (recursive) "WITH RECURSIVE " else "WITH ", ",\n", "")

  /** Each document's whitespace tokens, empty tokens dropped:
    * `<name>`(<cols>, t). The one tokenizer of every shingle, n-gram
    * and cluster chain. */
  def tokensCte(name: String = "toks", cols: String = "doc_id"): String =
    s"$name AS (SELECT $cols,\n" +
      raw"    list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS t" +
      "\n  FROM documents)"

  /** Each document's DISTINCT 3-word shingles over the tokens `toks`
    * (a shorter document is one shingle, its whole token list;
    * DISTINCT == the kernel's first-occurrence dedup):
    * `<name>`(<cols>, shingle). */
  def shinglesCte(name: String = "sh", toks: String = "toks", cols: String = "doc_id"): String =
    s"""$name AS (
      |  SELECT DISTINCT $cols,
      |    CASE WHEN len(t) >= 3 THEN t[r.i] || ' ' || t[r.i+1] || ' ' || t[r.i+2]
      |         ELSE array_to_string(t, ' ') END AS shingle
      |  FROM $toks, UNNEST(CASE WHEN len(t) >= 3 THEN range(1, len(t)-1) ELSE [1] END) AS r(i)
      |  WHERE len(t) >= 1)""".stripMargin

  /** Each document's DISTINCT 8-word n-grams over the tokens `toks`:
    * `<name>`(doc_id, ngram). Two of its lines start with `||`, so it
    * is concatenated into a query, never interpolated into a string
    * that is stripMargin'd again. */
  def ngram8Cte(name: String = "sh", toks: String = "toks"): String =
    s"""$name AS (
      |  SELECT DISTINCT doc_id,
      |    CASE WHEN len(t) >= 8
      |      THEN t[r.i]||' '||t[r.i+1]||' '||t[r.i+2]||' '||t[r.i+3]||' '
      |           ||t[r.i+4]||' '||t[r.i+5]||' '||t[r.i+6]||' '||t[r.i+7]
      |      ELSE array_to_string(t, ' ') END AS ngram
      |  FROM $toks, UNNEST(CASE WHEN len(t) >= 8 THEN range(1, len(t)-6) ELSE [1] END) AS r(i)
      |  WHERE len(t) >= 1)""".stripMargin

  /** The df-capped co-count chain over the shingles `sh`: the shingles
    * of at most 200 documents (`capped`), each document's capped
    * shingles (`uni`) and their count (`sizes`(doc_id, n_sh)), and the
    * shared-shingle count of every document pair (`co`(doc_a, doc_b,
    * n_common), doc_a < doc_b). `count` is the aggregate of both
    * counts. */
  def cappedCoCtes(sh: String = "sh", count: String = "COUNT(*)"): String =
    s"""capped AS (SELECT shingle FROM $sh GROUP BY shingle HAVING COUNT(*) <= 200),
      |uni AS (SELECT s.doc_id, s.shingle FROM $sh s JOIN capped USING (shingle)),
      |sizes AS (SELECT doc_id, $count AS n_sh FROM uni GROUP BY doc_id),
      |co AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, $count AS n_common
      |       FROM uni a JOIN uni b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |       GROUP BY 1, 2)""".stripMargin

  /** [[tokensCte]], [[shinglesCte]] and [[cappedCoCtes]] as one chain. */
  def shingleCoCtes(
      toks: String = "toks", sh: String = "sh", count: String = "COUNT(*)"): String =
    Seq(tokensCte(toks), shinglesCte(sh, toks), cappedCoCtes(sh, count)).mkString(",\n")

  /** The pairs of [[cappedCoCtes]] with shingle Jaccard >= 0.5:
    * `<name>`(doc_a, doc_b). */
  def jaccardPairsCte(name: String): String =
    s"""$name AS (SELECT doc_a, doc_b
      |  FROM co JOIN sizes sa ON sa.doc_id = doc_a JOIN sizes sb ON sb.doc_id = doc_b
      |  WHERE CAST(n_common AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - n_common AS DOUBLE) >= 0.5)""".stripMargin

  /** The near-dup cluster verdict chain (tokens -> shingles -> df cap
    * -> exact Jaccard pairs -> connected components as a recursive
    * CTE, min-id labels), shared by the clusters, survivors, curation
    * and dedup_quality_audit oracles; leaves `cl`(doc_id, cluster_id)
    * as the last CTE. Needs `WITH RECURSIVE`. */
  def clusterCtes(toks: String = "toks", sh: String = "sh", pairs: String = "pairs"): String =
    Seq(shingleCoCtes(toks, sh), jaccardPairsCte(pairs),
      s"""edges AS (SELECT doc_a AS a, doc_b AS b FROM $pairs
        |          UNION ALL SELECT doc_b, doc_a FROM $pairs),
        |reach AS (
        |  SELECT a AS v, a AS r FROM edges
        |  UNION
        |  SELECT e.a AS v, w.r FROM edges e JOIN reach w ON e.b = w.v),
        |cl AS (SELECT v AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY v)""".stripMargin)
      .mkString(",\n")

  val ClustersCtePrefix: String = "WITH RECURSIVE " + clusterCtes()

  /** How many of a document's tokens `toks` are in the SQL list
    * `words`, as a `typ`; the list starts a new line indented `ind`. */
  def wordCount(words: String, ind: String, typ: String): String =
    s"CAST(len(list_filter(toks, x -> list_contains(\n$ind$words, x))) AS $typ)"

  /** The stopword list of the text quality score. */
  val QualityStopwords = "['the','a','an','and','or','of','to','in','is','it','on','for']"

  /** The text quality score's inputs over `documents`, one column a
    * line: the tokens `toks`, `n_chars` and the punctuation count
    * `punct`. */
  val qualityInputCols: String =
    raw"""  string_split_regex(lower(text), '\s+') AS toks,
      |  CAST(length(text) AS DOUBLE) AS n_chars,
      |  CAST(length(regexp_replace(lower(text), '[a-z0-9\s]', '', 'g')) AS DOUBLE) AS punct""".stripMargin

  /** The text quality score (length, stopword density and punctuation
    * blended 0.4/0.4/0.2, as an exact 4-place DECIMAL read back as a
    * DOUBLE) over `n_chars`, `punct`, the stopword count `stops` and
    * the token count `nToks`. Each term starts a line indented `ind`;
    * `sep` separates `stops` from its divisor. */
  def qualityScore(ind: String, stops: String = "stops", nToks: String = "n_toks",
      sep: String = " "): String =
    s"""CAST(CAST(ROUND(
      |${ind}LEAST(n_chars / 500.0, 1.0) * 0.4
      |$ind+ LEAST($stops$sep/ GREATEST($nToks * 0.05, 1.0), 1.0) * 0.4
      |$ind+ GREATEST(1.0 - punct / GREATEST(n_chars * 0.1, 1.0), 0.0) * 0.2, 4)
      |${ind}AS DECIMAL(10,4)) AS DOUBLE)""".stripMargin

  /** The stopword lists of the 4-language langid, by language. */
  val LangStopwords: Seq[(String, String)] = Seq(
    "en" -> "['the','and','of','to','is','that','with','for']",
    "de" -> "['der','die','das','und','ist','nicht','ein','mit']",
    "fr" -> "['le','la','les','et','est','pas','une','dans']",
    "es" -> "['el','los','las','es','y','no','una','por']")

  /** One stopword-count column per language, a `typ` followed by
    * `per`: `<prefix>_<lang>`. */
  def langCountCols(typ: String, per: String, prefix: String): String =
    LangStopwords.map { case (lang, words) =>
      s"    ${wordCount(words, "      ", typ)}$per AS ${prefix}_$lang"
    }.mkString(",\n")

  /** The langid argmax input: one row per language of `from`, carrying
    * `cols` and the struct `b` = {`key`: `<prefix>_<lang>`, 'lang'}, so
    * MAX(b) picks the best-scoring language. */
  def langUnion(cols: String, key: String, prefix: String, from: String): String =
    LangStopwords.map(_._1).zipWithIndex.map { case (lang, i) =>
      val b = s"{'$key': ${prefix}_$lang, 'lang': '$lang'}"
      if (i == 0) s"    SELECT $cols, $b AS b FROM $from"
      else s"    UNION ALL SELECT $cols, $b FROM $from"
    }.mkString("\n")

  /** The stopword-share langid chain of text_lang_mix and
    * curation_report: tokens (`t`), their count `n` (`s`), each
    * language's stopword share and the CJK character share `cjk`
    * (`sc`), and the best language `best.lang` per document (`lng`).
    * `carry` lists extra columns (", source") every CTE keeps. */
  def langShareCtes(t: String, s: String, sc: String, lng: String,
      carry: String): String =
    raw"""$t AS (SELECT doc_id, text$carry,
      |    string_split_regex(lower(text), '\s+') AS toks FROM documents),
      |$s AS (SELECT doc_id, text$carry, toks,
      |    CAST(GREATEST(len(toks), 1) AS DOUBLE) AS n FROM $t),
      |$sc AS (SELECT doc_id$carry,
      |${langCountCols("DOUBLE", " / n", "s")},
      |    CAST(length(text) - length(regexp_replace(text, '[\x{4e00}-\x{9fff}]', '', 'g'))
      |      AS DOUBLE) / CAST(GREATEST(length(text), 1) AS DOUBLE) AS cjk
      |  FROM $s),
      |$lng AS (
      |  SELECT doc_id$carry, cjk, MAX(b) AS best FROM (
      |${langUnion(s"doc_id$carry, cjk", "score", "s", sc)}) u
      |  GROUP BY doc_id$carry, cjk)""".stripMargin

  /** The √n (temperature α = 0.5) sampling rates as the CTEs `c`, `t`,
    * `r` and `r2`: per group of `from`, `w_q` = √`sizeAgg` in 2⁻²⁰
    * BIGINT units, the group's √-share `target` of half the corpus
    * (`total` = Σ`size`), and `rate_ppm` = min(10⁶, target · 10⁶ //
    * size) — all integer arithmetic after the floor. `cCols`, `rCols`
    * and `r2Cols` are the group and size columns c, r and r2 carry. */
  def sqrtRateCtes(cCols: String, sizeAgg: String, from: String, size: String,
      total: String, target: String, rCols: String, r2Cols: String): String =
    s"""c AS (SELECT $cCols,
      |    CAST(FLOOR(sqrt(CAST($sizeAgg AS DOUBLE)) * 1048576.0) AS BIGINT) AS w_q
      |  FROM $from),
      |t AS (SELECT SUM(w_q) AS w_total, SUM($size) AS $total FROM c),
      |r AS (SELECT $rCols,
      |    CAST(((CAST($total AS HUGEINT) // 2) * CAST(w_q AS HUGEINT))
      |      // CAST(w_total AS HUGEINT) AS BIGINT) AS $target
      |  FROM c, t),
      |r2 AS (SELECT $r2Cols,
      |    LEAST(1000000, CAST((CAST($target AS HUGEINT) * 1000000)
      |      // CAST($size AS HUGEINT) AS BIGINT)) AS rate_ppm
      |  FROM r)""".stripMargin
}
