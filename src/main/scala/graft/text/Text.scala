package graft.text

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Exact.{d4, d4w, ratio4}
import graft.functions.Sketches
import graft.sources.Tables

/** Text-analysis operators for the training-data pipeline
  * (SURVEY.md §2.6) over the `documents` table.
  *
  * Everything here is narrow (per-row column arithmetic + regex, no
  * shuffle except final presentation ordering), so the plans are pure
  * map-side scans at any scale — the kind of operator you run over
  * 100 TB exactly once and want fully inside whole-stage codegen.
  */
object Text {

  /** BPE-ish pre-tokenizer: letter runs, digit runs, single other
    * non-space chars — the standard byte-pair-encoding pre-split. */
  val BpePattern = "[a-z]+|[0-9]+|[^a-z0-9\\s]"

  /** Exact per-token corpus counts (token, n_occurrences, n_docs) —
    * the vocabulary-sized table [[vocab]] ranks and [[vocabSketch]]
    * audits against, materialized once per (session, dir) behind a
    * session-scoped memoized localCheckpoint (the shared-subtree
    * pattern the dedup audits established; eviction semantics in
    * [[graft.functions.SessionScopedCache]]) so one driver session
    * never recounts it across its consumers. */
  private val tokenCountCache = new graft.functions.SessionScopedCache[DataFrame]("text.token_counts")
  private[graft] def tokenCounts(spark: SparkSession, dir: String): DataFrame =
    tokenCountCache.getOrCompute(spark, dir) {
      Tables.documents(spark, dir)
        .select(col("doc_id"),
          explode(regexp_extract_all(lower(col("text")), lit(BpePattern), lit(0)))
            .as("token"))
        .groupBy(col("token"))
        .agg(count(lit(1)).as("n_occurrences"),
          countDistinct(col("doc_id")).as("n_docs"))
        .localCheckpoint()
    }

  def tokens(text: Column): Column = split(lower(text), "\\s+")

  /** #41 text_token_stats: char/token counts per document. */
  def tokenStats(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(
        col("doc_id"),
        length(col("text")).as("n_chars"),
        size(tokens(col("text"))).as("n_ws_tokens"),
        size(regexp_extract_all(lower(col("text")), lit(BpePattern), lit(0))).as("n_bpe_tokens"),
        length(regexp_replace(lower(col("text")), "[^a-z]", "")).as("n_alpha_chars"))
      .orderBy(col("doc_id"))

  /** Stopword list used by the quality score (English function words). */
  val Stopwords: Seq[String] = Seq(
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it", "on", "for")

  /** #42 text_quality: length/punct/digit/stopword signals and a single
    * [0,1] quality score, rounded to fixed decimals so the result is
    * bit-stable for the oracle hash. */
  def quality(spark: SparkSession, dir: String): DataFrame = {
    // All four per-row signals from ONE byte scan (r17, guide §4.2 —
    // see TextKernels.qualityStats, value-pinned in R17KernelSpec):
    // the former shape paid a regex split (token count + stopword
    // filter) plus TWO regexp_replace passes that each built a
    // scrubbed copy of the document just to measure its length.
    val qs = graft.functions.TextKernels.qualityStats(col("text"), Stopwords)
    val nToks = qs(1).cast("double")
    val nChars = length(col("text")).cast("double")
    val punct = qs(2).cast("double")
    val digits = qs(3).cast("double")
    val stops = qs(0).cast("double")
    // 4-place exact-decimal presentation: graft.functions.Exact.d4.
    Tables.documents(spark, dir)
      .select(
        col("doc_id"),
        length(col("text")).as("n_chars"),
        qs(1).as("n_tokens"),
        ratio4(punct.cast("long"), greatest(nChars.cast("long"), lit(1L)))
          .as("punct_ratio"),
        ratio4(digits.cast("long"), greatest(nChars.cast("long"), lit(1L)))
          .as("digit_ratio"),
        ratio4(stops.cast("long"), greatest(nToks.cast("long"), lit(1L)))
          .as("stopword_ratio"),
        // docs in [50, 2000] chars with some stopwords and little
        // punctuation score high — a typical pretrain quality gate.
        d4(least(nChars / 500.0, lit(1.0)) * 0.4
          + least(stops / greatest(nToks * 0.05, lit(1.0)), lit(1.0)) * 0.4
          + greatest(lit(1.0) - punct / greatest(nChars * 0.1, lit(1.0)), lit(0.0)) * 0.2
        ).as("quality_score"))
      .orderBy(col("doc_id"))
  }

  /** #42e text_quality_curve: the quality-gate threshold sweep — docs
    * and tokens kept at each candidate cutoff over [[quality]]'s
    * score, the decision surface a curation rollout picks its
    * threshold from (the third tuning report, next to ann_tuning_curve
    * and dedup_lsh_curve: every gate in the pipeline should publish
    * its own keep-rate curve before anyone hard-codes a constant).
    * Gates compare the ROUNDED score (the curation_report precedent),
    * so the cut bites identically in the oracle; counts are integers
    * and the fractions [[ratio4]].
    *
    * Scale shape: ONE corpus scan (score + token count ride the same
    * projection), a 5-way threshold explode of the per-doc row — a
    * constant fan-out, not a per-threshold re-scan — and one
    * map-side-combinable aggregation on the 5-row threshold key. */
  def qualityCurve(spark: SparkSession, dir: String): DataFrame = {
    val thresholds = Seq(0.3, 0.4, 0.5, 0.6, 0.7)
    val scored = quality(spark, dir)
      .select(col("doc_id"), col("n_tokens"), col("quality_score"))
    val total = scored.agg(
      count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens_all"))
    scored
      .select(col("n_tokens"), col("quality_score"),
        explode(array(thresholds.map(lit): _*)).as("threshold"))
      .groupBy(col("threshold"))
      .agg(
        sum(when(col("quality_score") >= col("threshold"), 1L).otherwise(0L))
          .as("n_kept"),
        sum(when(col("quality_score") >= col("threshold"), col("n_tokens"))
          .otherwise(0L)).as("tokens_kept"))
      .crossJoin(broadcast(total))
      .select(col("threshold"), col("n_kept"),
        ratio4(col("n_kept"), greatest(col("n_docs"), lit(1L)))
          .as("kept_frac"),
        col("tokens_kept"),
        ratio4(col("tokens_kept"), greatest(col("n_tokens_all"), lit(1L)))
          .as("token_frac"))
      .orderBy(col("threshold"))
  }

  /** Per-language marker-word profiles for the n-gram/stopword language
    * ID heuristic. Tiny on purpose: the point is the plan shape (pure
    * codegen'd map over 100 TB), not linguistic accuracy. */
  val LangProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "is", "that", "with", "for"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "mit"),
    "fr" -> Seq("le", "la", "les", "et", "est", "pas", "une", "dans"),
    "es" -> Seq("el", "los", "las", "es", "y", "no", "una", "por"))

  /** #43 text_langid: argmax of per-language marker-token density; CJK
    * character ratio short-circuits to zh. DuckDB-oracled (marker-list
    * filter + struct argmax); accuracy additionally asserted in the
    * spec on real multilingual fixtures, since the corpus `lang` column
    * is synthetic noise. */
  def langid(spark: SparkSession, dir: String): DataFrame = {
    val (lang, score) = predLangCols
    Tables.documents(spark, dir)
      .select(col("doc_id"), lang.as("pred_lang"), score.as("pred_score"))
      .orderBy(col("doc_id"))
  }

  /** The (pred_lang, pred_score) column pair — ONE definition consumed
    * by [[langid]] (per-doc verdicts) and [[langMix]] (per-source
    * composition), so the detector can never drift between its
    * consumers. Pure per-row expressions: any query using these stays
    * a map over the scan. */
  private def predLangCols: (Column, Column) = {
    // Integer marker counts ride the argmax struct: every language
    // shares the per-doc denominator, so argmax-by-count IS argmax-by-
    // density (same lexicographic tie rule), and the presentation can
    // use the tie-free ratio4 instead of rounding a double ratio.
    // ALL marker counts + the token count come from ONE tokenize pass
    // (r17, guide §4.2 — see TextKernels.langTokenCounts, value-pinned
    // against the split/filter formulation): the former shape paid a
    // per-row regex split materializing the token array, and before
    // that four interpreted HOF filters each re-splitting. The CJK
    // regexp_replace that built a scrubbed copy of every document just
    // to measure its length is a native counter too. Value-identical.
    val counts = graft.functions.TextKernels.langTokenCounts(
      col("text"), LangProfiles.map(_._2))
    val nToks = greatest(counts(LangProfiles.size), lit(1))
    val scores = LangProfiles.zipWithIndex.map { case ((lang, _), i) =>
      struct(counts(i).as("n"), lit(lang).as("lang"))
    }
    val cjkChars = graft.functions.TextKernels.countCjk(col("text"))
    val nChars = greatest(length(col("text")), lit(1))
    val cjkRatio = cjkChars.cast("double") / nChars.cast("double")
    val best = greatest(scores: _*)
    (when(cjkRatio > 0.3, lit("zh")).otherwise(best.getField("lang")),
     when(cjkRatio > 0.3, ratio4(cjkChars, nChars))
       .otherwise(ratio4(best.getField("n"), nToks)))
  }

  /** #44 text_fingerprint: winnowed Rabin-Karp fingerprints (k=8 chars,
    * window 4) + a compact 64-bit digest per doc. Shared substrings ≥ 11
    * chars guarantee shared fingerprint values — the substring-level
    * analog of shingle dedup. */
  def fingerprint(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        Sketches.winnowFingerprint(lower(col("text")), 8, 4).as("fp"))
      .select(
        col("doc_id"),
        size(col("fp")).as("n_fingerprints"),
        // XOR-fold digest: engine-portable (unlike Spark's internal
        // hash()), order-independent, and overflow-free under ANSI.
        aggregate(col("fp"), lit(0L), (a, x) => a.bitwiseXOR(x)).as("fp_digest"),
        // serialized, not array-typed: query outputs must stay flat
        // (scalar columns only) for the driver's pandas sort
        concat_ws(",", slice(col("fp"), 1, 8).cast("array<string>")).as("fp_head"))
      .orderBy(col("doc_id"))

  /** #46 text_decontaminate: benchmark decontamination — flag training
    * documents that share any k-token n-gram with the held-out
    * evaluation slice (here `doc_id % 20 == 0`, the driver-visible
    * stand-in for a benchmark suite). k = 8 makes an overlap evidence
    * of real duplication rather than phrase-level coincidence.
    *
    * Scale shape: the eval side of a decontamination run is small
    * relative to the corpus (benchmarks are thousands of docs; the
    * corpus is the 100 TB side), so its distinct n-gram set semi-joins
    * onto the streaming corpus — broadcast when it fits (AQE/stats
    * decide; no forced hint, since a large benchmark suite's n-gram set
    * can exceed the broadcast wall), shuffle otherwise — and only
    * matching (doc, ngram) rows — a sliver — reach the per-doc count
    * shuffle. The corpus-wide doc list never shuffles: hit counts join
    * back onto the narrow (doc_id, n_ngrams) projection. */
  def decontaminate(spark: SparkSession, dir: String): DataFrame =
    decontaminateImpl(spark, dir, bloomPrefilter = false)

  /** #46b text_decontaminate_bloom: the same decontamination relation
    * behind a broadcast BLOOM-FILTER prefilter — the 100 TB semi-join
    * economics. The exact semi-join must move every train (doc, ngram)
    * row that might match into the join; at corpus scale that shuffle
    * is the whole cost, and almost every gram is clean. So the eval
    * side is first collapsed into ONE bounded artifact — a Bloom filter
    * over the eval n-gram hashes, built distributed by Spark's own
    * `BloomFilterAggregate` (the expression behind runtime bloom-filter
    * joins) and embedded as a literal (the fitted-codebook pattern the
    * PQ/BPE operators established) — and `BloomFilterMightContain`
    * drops non-matching grams INSIDE the corpus scan's codegen'd map
    * stage, before any exchange. False positives (and only they)
    * survive to the exact semi-join, so the result is bit-identical to
    * [[decontaminate]] and shares its DuckDB oracle verbatim; the
    * filter is sized for ~1% FP at the eval slice's distinct n-gram
    * count, capped at 2^23 bits (the artifact, and the task binary of
    * every stage that probes it, scales with the EVAL slice, never with
    * the corpus). PlanSpec pins might_contain into the scan-side
    * filter. */
  def decontaminateBloom(spark: SparkSession, dir: String): DataFrame =
    decontaminateImpl(spark, dir, bloomPrefilter = true)

  private def decontaminateImpl(
      spark: SparkSession, dir: String, bloomPrefilter: Boolean): DataFrame = {
    val k = 8
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), Sketches.wordShingles(col("text"), k).as("sh"))
    val isEval = col("doc_id") % 20 === 0
    // Distinct n-grams of the eval slice — the small, broadcastable side.
    val evalNgrams = docs.filter(isEval)
      .select(explode(col("sh")).as("ngram"))
      .distinct()
    val train = docs.filter(!isEval)
    val trainGrams = train.select(col("doc_id"), explode(col("sh")).as("ngram"))
    val prefiltered =
      if (bloomPrefilter) {
        val n = evalNgrams.count()
        // Empty eval slice → nothing can match.
        if (n == 0) trainGrams.filter(lit(false))
        else trainGrams.filter(Sketches.bloomMightContain(
          Sketches.bloomFit(evalNgrams, "ngram", expectedItems = n, numBits = math.min(
            org.apache.spark.util.sketch.BloomFilter.optimalNumOfBits(n, 0.01), 1L << 23)),
          xxhash64(col("ngram"))))
      } else trainGrams
    val hits = prefiltered
      .join(evalNgrams, Seq("ngram"), "left_semi")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_hits"))
    train
      .select(col("doc_id"), size(col("sh")).as("n_ngrams"))
      .join(hits, Seq("doc_id"), "left_outer")
      .select(
        col("doc_id"),
        col("n_ngrams"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        ratio4(coalesce(col("n_hits"), lit(0L)),
          greatest(col("n_ngrams"), lit(1))).as("contamination"),
        (coalesce(col("n_hits"), lit(0L)) > 0).as("contaminated"))
      .orderBy(col("doc_id"))
  }

  /** #44t text_novelty: per-document duplicate-text fraction — for
    * each doc, the share of its distinct 8-gram shingles that also
    * appear in at least one OTHER document (the RefinedWeb-style
    * "duplicated text" curation signal: a doc can survive exact and
    * near dedup yet still be mostly boilerplate assembled from
    * corpus-common passages; this measures exactly that). Shares the
    * 8-gram shingle definition with [[decontaminate]] (k = 8: overlap
    * is evidence of duplication, not phrase coincidence; short docs
    * fall back to one whole-text gram).
    *
    * The verdict gate is integer cross-multiplication
    * (2·n_shared > n_shingles ⇔ shared_frac > 0.5, no IEEE anywhere);
    * the presentation ratio is [[ratio4]].
    *
    * Scale shape: one distinct-shingle explode (distinct is per-doc,
    * inside the shingle array — map-side), one shingle-keyed count
    * shuffle to the vocabulary-shaped document-frequency table, one
    * equality join back (never doc×doc), and one per-doc count
    * shuffle onto the doc_id spine. The df table is Heaps-sublinear
    * in the corpus; at 100 TB the shingle key would ship as a 64-bit
    * hash (the [[decontaminateBloom]] economics) — kept as the raw
    * string here for oracle-exactness, the same trade decontaminate
    * documents. */
  def novelty(spark: SparkSession, dir: String): DataFrame = {
    val grams = Tables.documents(spark, dir)
      .select(col("doc_id"), Sketches.wordShingles(col("text"), 8).as("sh"))
      .select(col("doc_id"), explode(col("sh")).as("ngram"))
    val df = grams.groupBy(col("ngram")).agg(count(lit(1)).as("df"))
    val per = grams.join(df, Seq("ngram"))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_shingles"),
        sum(when(col("df") >= 2, 1L).otherwise(0L)).as("n_shared"))
    Tables.documents(spark, dir).select(col("doc_id"))
      .join(per, Seq("doc_id"), "left_outer")
      .select(
        col("doc_id"),
        coalesce(col("n_shingles"), lit(0L)).as("n_shingles"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"),
        ratio4(coalesce(col("n_shared"), lit(0L)),
          greatest(coalesce(col("n_shingles"), lit(0L)), lit(1L)))
          .as("shared_frac"),
        (coalesce(col("n_shared"), lit(0L)) * 2 >
          coalesce(col("n_shingles"), lit(0L))).as("mostly_dup"))
      .orderBy(col("doc_id"))
  }

  /** #46c text_contamination_matrix: WHICH sources leak into WHICH
    * benchmarks — the (train source × benchmark) contamination matrix
    * behind [[decontaminate]]'s per-doc verdicts: eval docs (the
    * doc_id % 20 == 0 slice) split into 4 pseudo-benchmark suites by
    * (doc_id div 20) mod 4, and a train doc counts against a
    * benchmark iff it shares ≥ 1 8-gram with ANY doc of that suite.
    * The report a curation run reads to decide which SOURCE needs
    * re-crawling or exclusion, not just which documents to drop.
    *
    * Scale shape: the decontaminate economics per benchmark — the
    * eval side stays benchmark-sized, its distinct (ngram, benchmark)
    * set semi-joins the corpus gram stream, and only matching rows
    * reach the distinct (doc, benchmark) reduction; per-source totals
    * broadcast back onto the |sources|×|benchmarks| cell frame. */
  def contaminationMatrix(spark: SparkSession, dir: String): DataFrame = {
    val k = 8
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        Sketches.wordShingles(col("text"), k).as("sh"))
    val isEval = col("doc_id") % 20 === 0
    val evalGrams = docs.filter(isEval)
      .select((expr("doc_id div 20") % 4).cast("int").as("benchmark"),
        explode(col("sh")).as("ngram"))
      .distinct()
    val train = docs.filter(!isEval)
    val hitDocs = train
      .select(col("doc_id"), col("source"), explode(col("sh")).as("ngram"))
      .join(evalGrams, Seq("ngram"))
      .select(col("doc_id"), col("source"), col("benchmark"))
      .distinct()
    val bySource = train.groupBy(col("source"))
      .agg(count(lit(1)).as("n_train_docs"))
    // DENSE matrix: every (source, benchmark) cell, zeros included — a
    // leak report's clean cells are its evidence of cleanliness. The
    // benchmark universe is fixed by construction (0..3), so the dense
    // frame is a constant fan-out of the |sources|-row dimension.
    val cells = bySource.select(col("source"), col("n_train_docs"),
      explode(array((0 until 4).map(b => lit(b)): _*)).as("benchmark"))
    cells
      .join(hitDocs.groupBy(col("source"), col("benchmark"))
          .agg(count(lit(1)).as("n_contaminated")),
        Seq("source", "benchmark"), "left_outer")
      .select(col("source"), col("benchmark"), col("n_train_docs"),
        coalesce(col("n_contaminated"), lit(0L)).as("n_contaminated"),
        ratio4(coalesce(col("n_contaminated"), lit(0L)),
          greatest(col("n_train_docs"), lit(1L)))
          .as("contaminated_frac"))
      .orderBy(col("source"), col("benchmark"))
  }

  /** #47 text_repetition: repetition-based quality signals in the
    * Gopher/MassiveText style — distinct-token ratio plus, for 2- and
    * 3-grams, the fraction of gram instances held by the single most
    * frequent gram and the fraction covered by any repeated gram. (The
    * line/paragraph variants collapse to these here: the corpus has no
    * newlines.) Docs too short to have a gram report 0.
    *
    * Scale shape (r17, guide §2.4/§4.2): the gram counting is a pure
    * per-document function, so it runs as one native expression with a
    * document-length-bounded hash map per row (TextKernels.gramRepStats,
    * value-pinned against the exploded groupBy formulation by
    * R17KernelSpec) — no gram shuffle exists at any scale. The former
    * explode + two doc-keyed aggregations moved a corpus-×-grams
    * exchange (38 M rows at sf1, string keys) to compute counts each
    * document's task already had in hand. */
  def repetition(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), tokens(col("text")).as("t"))
    // Integer components (max/dup/total gram counts) ride the kernel
    // struct; the ratios are presented via Exact.ratio4 at the very
    // end — the tie-free form (per-doc gram totals are exactly the
    // small arbitrary denominators where ROUND(a/b, 4) can hit a
    // cross-engine decimal tie).
    val withStats = docs.select(
      col("doc_id"),
      size(col("t")).as("n_tokens"),
      size(array_distinct(col("t"))).as("n_distinct"),
      graft.functions.TextKernels.gramRepStats(col("t"), Seq(2, 3)).as("gs"))
    def frac(num: Column, den: Column) = ratio4(num, greatest(den, lit(1L)))
    withStats
      .select(
        col("doc_id"), col("n_tokens"), col("n_distinct"),
        ratio4(col("n_distinct"), greatest(col("n_tokens"), lit(1)))
          .as("distinct_ratio"),
        frac(col("gs")(0)("max_c"), col("gs")(0)("sum_c")).as("top_2gram_frac"),
        frac(col("gs")(0)("dup_c"), col("gs")(0)("sum_c")).as("dup_2gram_frac"),
        frac(col("gs")(1)("max_c"), col("gs")(1)("sum_c")).as("top_3gram_frac"),
        frac(col("gs")(1)("dup_c"), col("gs")(1)("sum_c")).as("dup_3gram_frac"))
      .orderBy(col("doc_id"))
  }

  /** PII patterns shared by the scrubber and its spec: plain ASCII
    * classes only, so the Java (Spark) and RE2 (DuckDB oracle) engines
    * agree on every match. */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhoneRe = "\\+?[0-9]{1,3}-[0-9]{3}-[0-9]{4}"
  val IpRe = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"

  /** #48 text_pii_scrub: PII detection + redaction counts — emails,
    * phone numbers, IPv4 addresses found, replaced by typed placeholder
    * tags, with the redacted text fingerprinted (md5) so the oracle
    * checks the exact redaction output byte-for-byte. The corpus text
    * carries no PII (word-salad fixtures), so the pipeline derives a
    * deterministic PII suffix per doc_id first — the same
    * realness trade the mm_binary_pipeline stub codec makes: the
    * detection/redaction semantics under test are fully real, the data
    * is synthesized in-plan. Redaction is staged (emails, then phones,
    * then IPs) and each count is taken on the previous stage's output,
    * so the stages compose deterministically.
    *
    * Scale shape: pure per-row regex map, zero shuffle — whole-stage
    * codegen over 100 TB. */
  def piiScrub(spark: SparkSession, dir: String): DataFrame = {
    val id = col("doc_id")
    val full = concat(
      col("text"),
      lit(" contact user"), id.cast("string"),
      lit("@mail"), (id % 7).cast("string"), lit(".example.com"),
      when(id % 3 === 0,
        concat(lit(" cc admin"), (id % 11).cast("string"), lit("@corp.example.org")))
        .otherwise(lit("")),
      lit(" phone +1-555-"), lpad((id % 10000).cast("string"), 4, "0"),
      when(id % 4 === 0,
        concat(lit(" fax 212-555-"), lpad(((id * 3) % 10000).cast("string"), 4, "0")))
        .otherwise(lit("")),
      lit(" ip 10."), (id % 256).cast("string"),
      lit("."), ((id * 7) % 256).cast("string"),
      lit("."), ((id * 13) % 256).cast("string"))
    val s1 = regexp_replace(full, EmailRe, "<EMAIL>")
    val s2 = regexp_replace(s1, PhoneRe, "<PHONE>")
    val s3 = regexp_replace(s2, IpRe, "<IP>")
    Tables.documents(spark, dir)
      .select(
        col("doc_id"),
        size(regexp_extract_all(full, lit(EmailRe), lit(0))).as("n_emails"),
        size(regexp_extract_all(s1, lit(PhoneRe), lit(0))).as("n_phones"),
        size(regexp_extract_all(s2, lit(IpRe), lit(0))).as("n_ips"),
        length(s3).as("n_chars_redacted"),
        md5(s3.cast("binary")).as("redacted_md5"))
      .orderBy(col("doc_id"))
  }

  /** #49 sample_stratified: deterministic stratified corpus sampling —
    * the mixing step of a training-data pipeline (per-source sampling
    * weights, e.g. upweight curated sources, downweight crawl). Every
    * doc hashes to a stable [0,100) bucket via md5(doc_id:source) —
    * reproducible across runs, engines and partitionings, unlike
    * `rand()` — and is kept iff bucket < the source's rate. Rates here
    * derive from the source id (5 + 7·i mod 90) as a driver-checkable
    * stand-in for a mixing-weights config table. Emits the per-source
    * audit (docs, sampled, realized rate vs target).
    *
    * Scale shape: narrow hash + one partial-aggregated groupBy on the
    * (low-cardinality) source key; the corpus itself never reshuffles.
    * The same predicate applied as a filter IS the sampler. */
  def sampleStratified(spark: SparkSession, dir: String): DataFrame = {
    val (ratePct, bucket) = samplerColumns
    Tables.documents(spark, dir)
      .select(col("source"), ratePct.as("rate_pct"), bucket.as("bucket"))
      .groupBy(col("source"), col("rate_pct"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("bucket") < col("rate_pct"), 1L).otherwise(0L)).as("n_sampled"))
      .select(
        col("source"), col("rate_pct"), col("n_docs"), col("n_sampled"),
        ratio4(col("n_sampled") * lit(100L), col("n_docs")).as("realized_pct"))
      .orderBy(col("source"))
  }

  /** #44o sample_temperature: temperature-flattened corpus mixing —
    * the standard multilingual/multi-source rebalancing step (α = 0.5,
    * "square-root sampling"): a source's share of the output budget is
    * proportional to √n_s instead of n_s, so giant sources stop
    * drowning small ones. Budget = half the corpus; each source's
    * target = budget · √n_s / Σ√n_s, applied as the same deterministic
    * md5-bucket predicate the stratified sampler uses (ppm precision).
    *
    * Exactness: √ and the quantize-to-integer floor are both
    * correctly-rounded IEEE ops, and everything after them — Σ√ (a sum
    * of quantized BIGINTs, order-free), the budget·weight product
    * (DECIMAL(38,0), overflow-proof at any corpus size), and the two
    * `div` floors — is integer arithmetic, so the per-source rates and
    * every per-doc keep/drop decision are bit-identical cross-engine:
    * a sampling op under the HASH gate, not a statistical one.
    *
    * Scale shape: one narrow per-source count (map-side combinable),
    * one 1-row scalar broadcast back onto the |sources|-sized frame,
    * and one corpus pass applying the rate dimension-join — the corpus
    * never shuffles; exactly the [[sampleStratified]] economics plus
    * the global normalization. */
  def sampleTemperature(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select(
      col("source"),
      graft.sources.PersistedIndex.ppmBucket(
        col("doc_id"), concat(lit("#"), col("source"))).as("bucket_ppm"))
    val rates = graft.sources.PersistedIndex.sqrtRates(
        docs.groupBy(col("source")).agg(count(lit(1)).as("n_docs")),
        size = "n_docs", total = "corpus_docs", target = "target_docs")
      .select(col("source"), col("n_docs"), col("w_q"), col("target_docs"),
        col("rate_ppm"))
    // The rate columns ride THROUGH the aggregation as grouping keys
    // (functionally determined by source), so the dimension table
    // joins once and the corpus scans once — a second rates join
    // would duplicate the whole counts lineage, scanning the corpus
    // twice.
    docs.join(rates.drop("w_q"), Seq("source"))
      .groupBy(col("source"), col("n_docs"), col("target_docs"), col("rate_ppm"))
      .agg(sum(when(col("bucket_ppm") < col("rate_ppm"), 1L).otherwise(0L))
        .as("n_sampled"))
      .select(col("source"), col("n_docs"), col("target_docs"),
        col("rate_ppm"), col("n_sampled"),
        ratio4(col("n_sampled"), greatest(col("n_docs"), lit(1L)))
          .as("realized_rate"))
      .orderBy(col("source"))
  }

  /** #44f text_tfidf: corpus IDF + per-doc top-5 keyword extraction —
    * the curation signal behind topic balancing / keyword filters in a
    * training-data pipeline. Smoothed RAW-inverse-frequency weighting,
    * tfidf = tf · (N+1)/(df+1), deliberately log-free: the whole score
    * is one exact integer product (≪ 2^53) and one IEEE-754 division,
    * both correctly rounded and therefore bit-identical across
    * engines, so the per-doc ranking sits under the hash-exact oracle
    * — ln() differs in the last ulp between libm implementations,
    * which would make top-5 boundaries engine-dependent. Ties break
    * lexicographically.
    *
    * Scale shape: three map-side-combinable aggregations (doc-term tf,
    * term df, corpus N) and one unhinted tf⋈df join on the term — the
    * vocabulary is corpus-scale at 100 TB, so no broadcast hint; AQE
    * decides. The per-doc top-5 rides a doc-partitioned window. */
  def tfidf(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    // Per-doc term frequencies as a per-row kernel (r17, guide
    // §4.2/§2.4): tf is a pure per-document function, so the old
    // explode + groupBy(doc_id, term) — a corpus-×-tokens string-keyed
    // aggregation with its exchange — is computed inside the scan
    // (value-pinned against the exploded formulation in
    // R17KernelSpec). Only the vocabulary-keyed df rollup and the
    // per-doc rank window shuffle anything.
    val tf = docs
      .select(col("doc_id"),
        explode(graft.functions.TextKernels.termCounts(col("text"))).as("tc"))
      .select(col("doc_id"), col("tc.term").as("term"), col("tc.tf").as("tf"))
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id"))
      .orderBy(col("tfidf_raw").desc, col("term"))
    tf.join(df, "term")
      .crossJoin(broadcast(nDocs))
      .withColumn("tfidf_raw",
        col("tf").cast("double") * (col("n_docs") + 1).cast("double") /
          (col("df") + 1).cast("double"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select(col("doc_id"), col("rank"), col("term"), col("tf"), col("df"),
        // ratio4, not d4-of-the-double: the score is a pure integer
        // ratio, exactly the input class where ROUND(x, 4) can land on
        // a cross-engine decimal tie. The RANKING stays on the raw
        // double (same correctly-rounded division in both engines).
        ratio4(col("tf") * (col("n_docs") + 1), col("df") + 1).as("tfidf"))
      .orderBy(col("doc_id"), col("rank"))
  }

  /** #44h corpus_mix: the corpus composition report — per (source,
    * language) document and token counts, each cell's share of all
    * corpus tokens, and mean document length — the table a data-mixing
    * step reads before choosing sampling weights (and the audit a
    * curation run publishes after). Shares are exact integer ratios
    * under one IEEE division, so the result sits under the hash gate.
    *
    * Scale shape: one map-side-combinable aggregation on the
    * (|sources| × |langs|)-sized key — dimension-sized output from
    * corpus-sized input, single shuffle — then a 1-row total broadcast
    * cross-joined back. The corpus itself never reshuffles. */
  def corpusMix(spark: SparkSession, dir: String): DataFrame = {
    val agg = Tables.documents(spark, dir)
      .select(col("source"), col("lang"),
        size(tokens(col("text"))).as("n_toks"),
        length(col("text")).as("len"))
      .groupBy(col("source"), col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_toks")).as("n_tokens"),
        sum(col("len")).as("n_chars"))
    val total = agg.agg(sum(col("n_tokens")).as("total_tokens"))
    agg.crossJoin(broadcast(total))
      .select(
        col("source"), col("lang"), col("n_docs"), col("n_tokens"), col("n_chars"),
        ratio4(col("n_tokens"), col("total_tokens")).as("token_share"),
        ratio4(col("n_tokens"), col("n_docs")).as("avg_doc_tokens"))
      .orderBy(col("source"), col("lang"))
  }

  /** #44i text_c4_filters: the C4-style document filter battery —
    * terminal-punctuation check, curly-brace (code) detection,
    * "lorem ipsum" boilerplate, the "javascript" enable-JS banner,
    * minimum word count, and mean-word-length bounds — each doc gets
    * its signal columns, the FIRST failing rule as `drop_reason`, and
    * the final keep verdict. The corpus text is word salad with none
    * of these artifacts, so (the [[piiScrub]] trade) a deterministic
    * per-doc_id decoration injects them in-plan: the filter semantics
    * under test are fully real, the triggering text is synthesized,
    * and every rule fires on a driver-checkable subset.
    *
    * Scale shape: pure per-row string/regex map, zero shuffle —
    * whole-stage codegen over 100 TB, the same class as [[quality]]. */
  def c4Filters(spark: SparkSession, dir: String): DataFrame = {
    val id = col("doc_id")
    val full = concat(
      col("text"),
      when(id % 7 === 0, lit(" function() { var x = 1; }")).otherwise(lit("")),
      when(id % 13 === 0, lit(" lorem ipsum dolor sit amet")).otherwise(lit("")),
      when(id % 11 === 0, lit(" please enable javascript to continue")).otherwise(lit("")),
      when(id % 2 === 0, lit(".")).otherwise(lit("")))
    val nWords = size(split(full, "\\s+"))
    val meanLen = length(regexp_replace(full, "\\s", "")).cast("double") /
      nWords.cast("double")
    val endsPunct = full.rlike("[.!?\"]$")
    val hasCurly = full.contains("{")
    val hasLorem = lower(full).contains("lorem ipsum")
    val hasJs = lower(full).contains("javascript")
    val reason = when(hasCurly, "curly_brace")
      .when(hasLorem, "lorem_ipsum")
      .when(hasJs, "javascript")
      .when(!endsPunct, "no_terminal_punct")
      .when(nWords < 5, "too_short")
      .when(meanLen < 3.0 || meanLen > 10.0, "word_length")
      .otherwise("kept")
    Tables.documents(spark, dir)
      .select(
        col("doc_id"),
        nWords.as("n_words"),
        ratio4(length(regexp_replace(full, "\\s", "")),
          greatest(nWords, lit(1))).as("mean_word_len"),
        endsPunct.as("ends_punct"),
        hasCurly.as("has_curly"),
        hasLorem.as("has_lorem"),
        hasJs.as("has_javascript"),
        reason.as("drop_reason"),
        (reason === "kept").as("kept"))
      .orderBy(col("doc_id"))
  }

  /** The stratified sampler's (target rate %, stable md5 bucket)
    * columns over (doc_id, source) — the predicate `bucket < ratePct`
    * IS the sampler. ONE definition shared by [[sampleStratified]] and
    * the curation funnel's sample stage, so the two can never
    * silently de-synchronize. */
  def samplerColumns: (Column, Column) = {
    val srcNum = regexp_replace(col("source"), "[^0-9]", "").cast("int")
    val ratePct = lit(5) + (srcNum * 7) % 90
    val bucket = conv(
      substring(md5(concat(col("doc_id").cast("string"), lit(":"), col("source"))
        .cast("binary")), 1, 8), 16, 10).cast("long") % 100
    (ratePct, bucket)
  }

  /** #44j text_seq_packing: concat-and-chunk sequence packing — the
    * step that turns a curated corpus into fixed-length training
    * sequences: documents are concatenated in doc_id order and cut
    * into 2048-token context windows; each doc reports its global
    * token offset, the first/last sequence it lands in, and whether
    * it straddles a chunk boundary (the packing-efficiency signal).
    *
    * Scale shape: the global prefix sum is computed HIERARCHICALLY —
    * a per-block running sum (windows partitioned by `doc_id / B`, so
    * every block is an independent task) plus a block-offset table
    * (one tiny window over n_docs/B block rows) joined back as a
    * dimension broadcast — never a corpus-wide unpartitioned window,
    * which would funnel 100 TB through a single task. The oracle IS
    * that naive global window (fine at DuckDB's scale), pinning the
    * hierarchical decomposition exactly. At another 1000× the block
    * table recurses one more level; the per-doc plan is unchanged. */
  def seqPacking(spark: SparkSession, dir: String): DataFrame = {
    val chunk = 2048L // context-window tokens
    val B = 256L      // docs per prefix-sum block
    val base = Tables.documents(spark, dir)
      .select(col("doc_id"),
        size(regexp_extract_all(lower(col("text")), lit(BpePattern), lit(0)))
          .cast("long").as("n_tokens"),
        (col("doc_id") / B).cast("long").as("block"))
    val wBlock = org.apache.spark.sql.expressions.Window
      .partitionBy(col("block")).orderBy(col("doc_id"))
    val inBlock = base.withColumn("cum_in_block",
      sum(col("n_tokens")).over(wBlock) - col("n_tokens"))
    val wBlocks = org.apache.spark.sql.expressions.Window.orderBy(col("block"))
    val blockOffsets = base.groupBy(col("block"))
      .agg(sum(col("n_tokens")).as("block_tokens"))
      .withColumn("block_offset",
        coalesce(sum(col("block_tokens")).over(wBlocks) - col("block_tokens"),
          lit(0L)))
      .select(col("block"), col("block_offset"))
    inBlock.join(blockOffsets, "block")
      .withColumn("token_offset", col("block_offset") + col("cum_in_block"))
      .select(
        col("doc_id"), col("n_tokens"), col("token_offset"),
        expr(s"token_offset DIV $chunk").as("seq_first"),
        expr(s"(token_offset + greatest(n_tokens, 1L) - 1L) DIV $chunk")
          .as("seq_last"))
      .withColumn("spans_boundary", col("seq_first") =!= col("seq_last"))
      .orderBy(col("doc_id"))
  }

  /** #44q text_shard_plan: the WRITE-SIDE step after [[seqPacking]] —
    * deal the packed 2048-token sequences round-robin onto `nShards`
    * output shards (sequence s → shard s mod N, balanced to within one
    * sequence by construction) and report the plan a shard writer
    * executes: per shard, the sequence count, the exact token count
    * (the globally-last sequence is partial and charged to its own
    * shard), and how many documents the shard touches (a doc straddling
    * a boundary lands in several shards — the doc-locality cost of
    * round-robin dealing the report surfaces).
    *
    * Everything is closed-form integer arithmetic off seq_packing's
    * hierarchical offsets: per-shard sequence counts come from ONE
    * 1-row total (no per-sequence rows ever materialize), and the
    * touched-doc count explodes each doc into at most min(spans, N)
    * shard ids — output linear in docs, bounded by N, one shard-keyed
    * shuffle. Hash-exact (all BIGINT) under the naive global-window
    * oracle, which pins the decomposition the same way seq_packing's
    * does. */
  def shardPlan(spark: SparkSession, dir: String, nShards: Int = 16): DataFrame = {
    val chunk = 2048L
    val packed = seqPacking(spark, dir)
      .select(col("doc_id"), col("n_tokens"), col("seq_first"), col("seq_last"))
    val totals = packed
      .agg(sum(col("n_tokens")).as("total_tokens"))
      .withColumn("total_seqs", expr(s"(total_tokens + ${chunk - 1}L) DIV ${chunk}L"))
    val touch = packed
      .select(col("doc_id"), explode(sequence(col("seq_first"),
        least(col("seq_last"), col("seq_first") + (nShards - 1)))).as("s"))
      .select(col("doc_id"), (col("s") % nShards).as("shard_id"))
      .distinct()
      .groupBy(col("shard_id"))
      .agg(count(lit(1)).as("n_docs"))
    spark.range(nShards).select(col("id").as("shard_id"))
      .crossJoin(broadcast(totals)) // 1-row scalar
      .withColumn("n_seqs",
        when(col("shard_id") < col("total_seqs"),
          expr(s"(total_seqs - 1L - shard_id) DIV ${nShards}L + 1L"))
          .otherwise(lit(0L)))
      .withColumn("n_tokens",
        col("n_seqs") * chunk -
          when(col("total_seqs") > 0 &&
               (col("total_seqs") - 1) % nShards === col("shard_id"),
            lit(chunk) - (col("total_tokens") - (col("total_seqs") - 1) * chunk))
            .otherwise(lit(0L)))
      .join(touch, Seq("shard_id"), "left_outer")
      .select(col("shard_id"), col("n_seqs"), col("n_tokens"),
        coalesce(col("n_docs"), lit(0L)).as("n_docs"))
      .orderBy(col("shard_id"))
  }

  /** #44g text_vocab: the corpus token-frequency table — top-100 BPE-ish
    * tokens by occurrence count with document frequency and CUMULATIVE
    * corpus coverage (what fraction of all token instances the
    * vocabulary prefix up to this rank explains) — the artifact a
    * tokenizer-training / vocab-sizing step reads. Coverage is an
    * exact integer ratio (cumulative count / total count) presented at
    * d4, so the whole result sits under the hash gate; ties break
    * lexicographically.
    *
    * Scale shape: one map-side-combinable (token) aggregation over the
    * exploded corpus + a doc-distinct aggregation for df; the top-100
    * cut is orderBy+limit — Spark plans TakeOrderedAndProject
    * (per-partition bounded heaps, merged once), so the
    * vocabulary-sized count table is never globally sorted — and only
    * the 100 surviving rows ride the ranking window; the total is a
    * 1-row broadcast. */
  /** #47b text_collocations: top bigram collocations of the BPE-regex
    * token stream, scored by LIFT (the log-free PMI monotone:
    * P(ab)/(P(a)P(b)) — log/exp are libm calls whose last ulp differs
    * across engines, a pure rational never does). The phrase-mining
    * primitive behind tokenizer-merge candidates and keyphrase lists.
    *
    * Scale shape: one corpus pass explodes bigrams (adjacent-pair zip
    * inside the scan's codegen stage — no self-join on position), one
    * map-side-combinable count shuffle each for bigrams and unigrams;
    * the top-k is a TakeOrdered over the bigram-vocabulary frame and
    * the unigram counts join back onto the 100-row result (broadcast).
    * Deterministic ties: (count desc, a, b). */
  def collocations(spark: SparkSession, dir: String, k: Int = 100): DataFrame = {
    val toks = regexp_extract_all(lower(col("text")), lit(BpePattern), lit(0))
    val docs = Tables.documents(spark, dir).select(toks.as("ts"))
    // Compiled bigram generation (ArrayPairs) — the arrays_zip/slice
    // composition runs interpreted and profiled 2.5× slower here.
    val bi = docs
      .select(explode(graft.functions.ArrayPairs.adjacentPairs(col("ts"))).as("p"))
      .select(col("p.a").as("tok_a"), col("p.b").as("tok_b"))
    // Unigram counts: the session-memoized token-count checkpoint that
    // also serves text_vocab / text_vocab_sketch — one corpus count
    // per session, not per consumer.
    val uni = tokenCounts(spark, dir)
      .select(col("token"), col("n_occurrences").as("n"))
    val nUni = uni.agg(sum(col("n")).as("n_uni"))
    val biCnt = bi.groupBy(col("tok_a"), col("tok_b")).agg(count(lit(1)).as("n_ab"))
    val nBi = biCnt.agg(sum(col("n_ab")).as("n_bi"))
    val top = biCnt.orderBy(col("n_ab").desc, col("tok_a"), col("tok_b")).limit(k)
    val ranked = org.apache.spark.sql.expressions.Window
      .orderBy(col("n_ab").desc, col("tok_a"), col("tok_b"))
    // The 100-row top-k is the broadcast side BOTH times — the unigram
    // table is vocabulary-sized (10M+ tokens at corpus scale) and must
    // never ship to every executor.
    val withA = uni.select(col("token").as("tok_a"), col("n").as("n_a"))
      .join(broadcast(top), Seq("tok_a"))
    val withB = uni.select(col("token").as("tok_b"), col("n").as("n_b"))
      .join(broadcast(withA), Seq("tok_b"))
    withB
      .crossJoin(broadcast(nUni)).crossJoin(broadcast(nBi))
      .withColumn("rank", row_number().over(ranked))
      .select(col("rank"), col("tok_a"), col("tok_b"),
        col("n_ab"), col("n_a"), col("n_b"),
        d4w((col("n_ab").cast("double") / col("n_bi").cast("double")) /
          ((col("n_a").cast("double") / col("n_uni").cast("double")) *
           (col("n_b").cast("double") / col("n_uni").cast("double")))).as("lift"))
      .orderBy(col("rank"))
  }

  // ---- bigram language model (CCNet-style fluency filter) ----------

  /** The session-memoized corpus bigram LM: one row per bigram TYPE —
    * (tok_a, tok_b, n_ab, n_a, p_ppb) — where p_ppb is the add-one
    * smoothed conditional P(b|a) = (n_ab + 1) / (n_a + V) quantized
    * ONCE per type to integer parts-per-billion. The quantization is
    * the whole determinism story: (n_ab+1)·10⁹ is an exact integer in
    * a double (≤ ~10¹⁵ < 2⁵³), the single division is one correctly
    * rounded IEEE op both engines agree on, and round-to-integer is
    * the hash-proven HALF_UP replay — so every DOWNSTREAM consumer
    * works in exact BIGINT arithmetic (order-free sums), never
    * accumulating floats. Trained on the same one-pass bigram
    * explode as [[collocations]] (compiled adjacent-pair expression,
    * no positional self-join); unigram counts and V ride the shared
    * [[tokenCounts]] memo. Model size is bigram-vocabulary-shaped —
    * far sublinear in the corpus (Heaps' law), same class as the
    * token-count memo. */
  private val bigramLmCache =
    new graft.functions.SessionScopedCache[DataFrame]("text.bigram_lm")
  private[graft] def bigramLm(spark: SparkSession, dir: String): DataFrame =
    bigramLmCache.getOrCompute(spark, dir) {
      val toks = regexp_extract_all(lower(col("text")), lit(BpePattern), lit(0))
      val bi = Tables.documents(spark, dir).select(toks.as("ts"))
        .select(explode(graft.functions.ArrayPairs.adjacentPairs(col("ts"))).as("p"))
        .select(col("p.a").as("tok_a"), col("p.b").as("tok_b"))
      val biCnt = bi.groupBy(col("tok_a"), col("tok_b"))
        .agg(count(lit(1)).as("n_ab"))
      val uni = tokenCounts(spark, dir)
        .select(col("token").as("tok_a"), col("n_occurrences").as("n_a"))
      val v = tokenCounts(spark, dir).agg(count(lit(1)).as("v"))
      // Bigram-vocab × token-vocab equality join on tok_a: both sides
      // grow with the vocabulary (neither broadcastable at corpus
      // scale) — a plain shuffle join on the token key. V is 1 row.
      biCnt.join(uni, Seq("tok_a"))
        .crossJoin(broadcast(v))
        .select(col("tok_a"), col("tok_b"), col("n_ab"), col("n_a"),
          round((col("n_ab") + lit(1)).cast("double") * lit(1e9) /
            (col("n_a") + col("v")).cast("double"), 0).cast("long").as("p_ppb"))
        .localCheckpoint()
    }

  /** #44r text_bigram_lm: the trained model's head — top-k bigrams by
    * count with their smoothed conditional probabilities, the
    * inspection surface of the LM (deterministic ties: count desc,
    * then lexicographic, the [[collocations]] rule). TakeOrdered over
    * the memoized model frame; only the k survivors ride the rank
    * window. */
  def bigramLmTop(spark: SparkSession, dir: String, k: Int = 100): DataFrame = {
    val top = bigramLm(spark, dir)
      .orderBy(col("n_ab").desc, col("tok_a"), col("tok_b")).limit(k)
    val ranked = org.apache.spark.sql.expressions.Window
      .orderBy(col("n_ab").desc, col("tok_a"), col("tok_b"))
    top.withColumn("rank", row_number().over(ranked))
      .select(col("rank"), col("tok_a"), col("tok_b"),
        col("n_ab"), col("n_a"), col("p_ppb"))
      .orderBy(col("rank"))
  }

  /** #44s text_lm_score: per-document fluency scoring against the
    * corpus bigram LM — the CCNet-style head/middle/tail quality
    * bucketing (Wenzek et al. 2020), which scores each document with
    * a corpus LM and buckets on FIXED cutoffs (CCNet computes its
    * cutoffs once offline, then applies them as constants — exactly
    * the scale-correct form: no global sort or percentile pass over
    * the corpus at scoring time).
    *
    * The score is the mean smoothed bigram conditional probability in
    * parts-per-million: sum of the model's integer p_ppb over the
    * doc's bigram OCCURRENCES (exact BIGINT, order-free) divided by
    * the bigram count. The 4-decimal presentation is quantized the
    * same way as p_ppb itself — ONE division (sum_ppb·10 / n, both
    * exact BIGINTs cast to double) then ROUND(x, 0), then a final
    * exact /10⁴ — never ROUND(a/b/c, 4): with small per-doc bigram
    * counts the chained form lands exactly on .xxxx5 decimal ties,
    * where Spark's BigDecimal HALF_UP and an oracle's scaled C round
    * disagree by one ulp (caught at sf1). Deliberately log-free —
    * CCNet's mean log-prob
    * needs libm `log`, whose last ulp differs across engines; the
    * mean probability is a pure rational over already-quantized
    * integers, ranks gibberish below fluent text the same way (junk
    * bigrams are smoothing-floor rows in BOTH scores), and hash
    * -replays bit-exactly. Docs with < 2 tokens score 0 in bucket
    * "empty" rather than vanishing.
    *
    * Scale shape: one bigram explode (in the scan's codegen stage) →
    * join to the model on the bigram key — the memoized checkpoint
    * carries REAL size stats, so the planner broadcasts only while
    * the model genuinely fits and flips to a shuffle join as the
    * vocabulary grows (accurate stats, unlike the estimate-blinded
    * ngram pair join that had to be pinned sort-merge) → one
    * map-side-combinable per-doc aggregation → left join back onto
    * the doc_id spine. */
  def lmScore(
      spark: SparkSession, dir: String,
      headPpm: Double = 20000.0, tailPpm: Double = 5000.0): DataFrame = {
    val toks = regexp_extract_all(lower(col("text")), lit(BpePattern), lit(0))
    val bi = Tables.documents(spark, dir).select(col("doc_id"), toks.as("ts"))
      .select(col("doc_id"),
        explode(graft.functions.ArrayPairs.adjacentPairs(col("ts"))).as("p"))
      .select(col("doc_id"), col("p.a").as("tok_a"), col("p.b").as("tok_b"))
    // INNER join, and that is a same-corpus precondition, not an
    // oversight: the model is trained on the very corpus being
    // scored, so every observed bigram has a model row and the join
    // drops nothing (the oracle states the same inner join). A
    // train/apply reuse on a FOREIGN corpus must NOT copy this plan —
    // unseen bigrams would be silently dropped, inflating exactly the
    // junk documents the filter exists to catch. Cross-corpus scoring
    // goes through [[lmScoreAgainst]], which left-joins and gives
    // unseen bigrams their add-one smoothing floor.
    val scored = bi
      .join(bigramLm(spark, dir).select(col("tok_a"), col("tok_b"), col("p_ppb")),
        Seq("tok_a", "tok_b"))
      .select(col("doc_id"), col("p_ppb"))
    scoreAndBucket(Tables.documents(spark, dir).select(col("doc_id")),
      scored, headPpm, tailPpm)
  }

  /** Train/apply form of [[lmScore]] for CROSS-CORPUS reuse: score
    * `docs` (doc_id, text) against a bigram LM trained on a DIFFERENT
    * corpus. A foreign corpus contains bigrams the model never saw,
    * so the model join is a LEFT join and an unseen bigram gets its
    * add-one smoothing floor — p_ppb = round(10⁹ / (n_a + V)), with
    * n_a = 0 when the left token itself is unseen (→ 10⁹/V) — the
    * CCNet semantics (Wenzek et al. 2020 §4.3: the LM always assigns
    * smoothed mass, it never skips). On a same-corpus input the floor
    * branch is never taken and this agrees bit-for-bit with
    * [[lmScore]] (spec'd); the extra unigram join is why the
    * same-corpus operator keeps its leaner inner-join plan.
    *
    * `model` is (tok_a, tok_b, p_ppb) as trained by the bigram-LM
    * pass; `unigrams` is (tok_a, n_a); `vocabV` is the training
    * vocabulary size used in the smoothing denominator. */
  def lmScoreAgainst(
      docs: DataFrame, model: DataFrame, unigrams: DataFrame, vocabV: Long,
      headPpm: Double = 20000.0, tailPpm: Double = 5000.0): DataFrame = {
    val toks = regexp_extract_all(lower(col("text")), lit(BpePattern), lit(0))
    val bi = docs.select(col("doc_id"), toks.as("ts"))
      .select(col("doc_id"),
        explode(graft.functions.ArrayPairs.adjacentPairs(col("ts"))).as("p"))
      .select(col("doc_id"), col("p.a").as("tok_a"), col("p.b").as("tok_b"))
    val scored = bi
      .join(model.select(col("tok_a"), col("tok_b"), col("p_ppb")),
        Seq("tok_a", "tok_b"), "left_outer")
      .join(unigrams.select(col("tok_a"), col("n_a")), Seq("tok_a"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("p_ppb"),
          round(lit(1e9) /
              (coalesce(col("n_a"), lit(0L)) + lit(vocabV)).cast("double"), 0)
            .cast("long")).as("p_ppb"))
    scoreAndBucket(docs.select(col("doc_id")), scored, headPpm, tailPpm)
  }

  /** Shared tail of the two LM scorers: per-doc mean p_ppb (exact
    * BIGINT sum, the tie-free single-division ppm presentation) over
    * a (doc_id, p_ppb) bigram-occurrence frame, left-joined back onto
    * the doc spine so bigram-less docs score 0 in bucket "empty". */
  private def scoreAndBucket(
      spine: DataFrame, perBigram: DataFrame,
      headPpm: Double, tailPpm: Double): DataFrame = {
    val perDoc = perBigram
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("p_ppb")).as("sum_ppb"))
    spine
      .join(perDoc, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(
          round((col("sum_ppb") * lit(10L)).cast("double") /
              col("n_bigrams").cast("double"), 0).cast("long")
            .cast("double") / lit(10000.0),
          lit(0.0)).as("score_ppm"))
      .withColumn("bucket",
        when(col("n_bigrams") === 0, lit("empty"))
          .when(col("score_ppm") >= headPpm, lit("head"))
          .when(col("score_ppm") >= tailPpm, lit("middle"))
          .otherwise(lit("tail")))
      .orderBy(col("doc_id"))
  }

  /** #43b text_lang_mix: predicted-language composition per source —
    * [[langid]]'s verdicts rolled up by the corpus' source column with
    * per-source shares. The "what languages does each crawl slice
    * actually contain?" report a mixing policy starts from (the `lang`
    * column in the corpus is synthetic noise; this reads the
    * detector). Pure map (langid) + one (source, lang) shuffle; source
    * totals broadcast back. */
  def langMix(spark: SparkSession, dir: String): DataFrame = {
    // ONE scan: the detector expressions ride the documents scan next
    // to `source` (a corpus-wide doc_id join back onto documents would
    // pay a full extra shuffle for a column the scan already has).
    val (lang, _) = predLangCols
    val cell = Tables.documents(spark, dir)
      .select(col("source"), lang.as("pred_lang"))
      .groupBy(col("source"), col("pred_lang"))
      .agg(count(lit(1)).as("n_docs"))
    val totals = cell.groupBy(col("source")).agg(sum(col("n_docs")).as("src_docs"))
    cell.join(broadcast(totals), Seq("source"))
      .select(col("source"), col("pred_lang"), col("n_docs"),
        ratio4(col("n_docs"), col("src_docs")).as("share"))
      .orderBy(col("source"), col("pred_lang"))
  }

  /** #42d text_len_hist: power-of-two document-length histogram (by
    * character count): bucket [2^k, 2^(k+1)) per doc, with counts,
    * exact char totals, bucket bounds, and cumulative coverage of the
    * corpus' characters — the length-distribution report a packing /
    * truncation policy is sized from. The bucket exponent is
    * `floor(log2 n)` computed by BIT LENGTH (integer, engine-exact —
    * no libm log anywhere); the cumulative window rides the ≤ ~40-row
    * bucket frame. One map-side-combinable shuffle. */
  def lenHist(spark: SparkSession, dir: String): DataFrame = {
    val b = Tables.documents(spark, dir)
      .select(length(col("text")).cast("long").as("n"))
      // floor(log2 n) as bit_length(n) - 1 via binary string length:
      // bit_length of the minimal binary representation. Spark `bin`
      // prints the minimal binary string; its length - 1 is the
      // exponent. n = 0 maps to bucket -1 (its own "empty" row).
      .withColumn("k",
        when(col("n") === 0, lit(-1))
          .otherwise(length(expr("bin(n)")) - 1).cast("int"))
    val hist = b.groupBy(col("k"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n")).as("n_chars"))
    val grand = hist.agg(sum(col("n_chars")).as("grand"))
    val wCum = org.apache.spark.sql.expressions.Window.orderBy(col("k"))
    hist
      .withColumn("cum_chars", sum(col("n_chars")).over(wCum))
      .crossJoin(broadcast(grand))
      .select(
        col("k").as("bucket_exp"),
        when(col("k") < 0, 0L)
          .otherwise(expr("shiftleft(CAST(1 AS BIGINT), k)")).as("lo"),
        when(col("k") < 0, 0L)
          .otherwise(expr("shiftleft(CAST(1 AS BIGINT), k + 1) - 1")).as("hi"),
        col("n_docs"), col("n_chars"),
        ratio4(col("cum_chars"), col("grand")).as("cum_char_coverage"))
      .orderBy(col("bucket_exp"))
  }

  /** #42b text_readability: per-document readability signals —
    * sentence count (maximal [.!?]+ runs), words per sentence, chars
    * per word — the grade-level proxy a quality gate reads next to
    * [[quality]]'s ratios. Ratios are FLOOR-x100 integer divides
    * presented as exact 2-decimals: a d4 of small-integer ratios can
    * land on exact .xxxx5 halves (1/32 = 0.03125) where the engines'
    * double rounding legitimately disagrees; floor has no boundary.
    * Pure per-row map — no shuffle at all beyond the ordered dump. */
  def readability(spark: SparkSession, dir: String): DataFrame = {
    val words = size(tokens(col("text")))
    val sents = size(regexp_extract_all(col("text"), lit("[.!?]+"), lit(0)))
    val chars = length(regexp_replace(col("text"), "\\s", ""))
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        words.cast("long").as("n_words"),
        greatest(sents, lit(1)).cast("long").as("n_sentences"),
        chars.cast("long").as("n_nonspace_chars"))
      .withColumn("words_per_sentence",
        (expr("(100 * n_words) div n_sentences") / lit(100.0)))
      .withColumn("chars_per_word",
        (expr("(100 * n_nonspace_chars) div greatest(n_words, 1)") / lit(100.0)))
      .orderBy(col("doc_id"))
  }

  def vocab(spark: SparkSession, dir: String): DataFrame = {
    val counts = tokenCounts(spark, dir)
    val total = counts.agg(sum(col("n_occurrences")).as("n_total"))
    val top = counts
      .orderBy(col("n_occurrences").desc, col("token")).limit(100)
    val ranked = org.apache.spark.sql.expressions.Window
      .orderBy(col("n_occurrences").desc, col("token"))
    top
      .withColumn("rank", row_number().over(ranked))
      .withColumn("cum_occurrences", sum(col("n_occurrences")).over(ranked))
      .crossJoin(broadcast(total))
      .select(col("rank"), col("token"), col("n_occurrences"), col("n_docs"),
        ratio4(col("cum_occurrences"), col("n_total")).as("cum_coverage"))
      .orderBy(col("rank"))
  }

  /** #44m text_vocab_sketch: the top-`topK` heavy-hitter tokens from a
    * MERGEABLE Misra-Gries summary ([[graft.functions.FreqSketch]],
    * `capacity` counters) — the bounded-memory path that replaces
    * [[vocab]]'s exact vocabulary-sized count table when even the
    * vocabulary outgrows an executor (the frequency member of the
    * sketch family, next to its exact baseline like quantile_sketch /
    * quantile_agg). Self-audit columns, per the sketch-family rule:
    * `exact_count` (from the shared [[tokenCounts]] checkpoint — no
    * recount), `underestimate` = exact − estimate (≥ 0 by the MG
    * invariant), and `err_bound` = ⌊(n − S)/(k+1)⌋ — the proven
    * mergeable-summaries bound every underestimate must respect under
    * ANY merge order (the stored multiset itself may legally vary
    * with task completion order, so the spec asserts the invariants,
    * not a fixed rendition — rows-only by design).
    *
    * Scale shape: one corpus scan into a single map-side-combinable
    * global aggregation whose buffer never exceeds `capacity`
    * counters; the audit join touches ≤ topK rows against the
    * checkpointed count table (AQE broadcasts the tiny side). */
  def vocabSketch(spark: SparkSession, dir: String,
      capacity: Int = 64, topK: Int = 20): DataFrame = {
    val sk = Tables.documents(spark, dir)
      .select(explode(regexp_extract_all(lower(col("text")),
        lit(BpePattern), lit(0))).as("token"))
      .agg(
        graft.functions.FreqSketch.freqSketch(col("token"), capacity)
          .as("entries"),
        count(lit(1)).as("n_total"))
    sk.select(col("n_total"),
        aggregate(col("entries"), lit(0L),
          (s, e) => s + e.getField("count")).as("stored_total"),
        posexplode(col("entries")).as(Seq("pos", "e")))
      .select((col("pos") + 1).as("rank"),
        col("e.item").as("token"),
        col("e.count").as("est_count"),
        col("n_total"), col("stored_total"))
      .filter(col("rank") <= topK)
      .join(tokenCounts(spark, dir)
        .select(col("token"), col("n_occurrences").as("exact_count")),
        Seq("token"), "left")
      .select(col("rank"), col("token"), col("est_count"), col("exact_count"),
        (col("exact_count") - col("est_count")).as("underestimate"),
        floor((col("n_total") - col("stored_total")) / lit(capacity + 1L))
          .cast("long").as("err_bound"))
      .orderBy(col("rank"))
  }

  /** The Gopher rule battery's stopword-presence list (Rae et al. 2021
    * §A1.1: "contains at least 2 of ..."), fixed by the paper. */
  val GopherStops: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** #44u text_gopher_filters: the Gopher-style quality rule battery
    * (Rae et al. 2021 §A1.1) — the rules [[c4Filters]] and [[quality]]
    * do NOT cover: symbol-to-word ratio (`#` and `...`), bullet-line
    * and ellipsis-line fractions, fraction of words containing an
    * alphabetic character, stopword presence (≥2 distinct of the
    * paper's 8), plus the paper's word-count and mean-word-length
    * bounds. The corpus is single-line word salad with none of these
    * artifacts, so (the [[c4Filters]] trade) a deterministic per-doc_id
    * decoration injects them in-plan — MUTUALLY EXCLUSIVE on id%23
    * (remainder 0: symbol padding, 1: numeric-word padding,
    * 2: bulletization, 3: ellipsis line endings; one modulus so no doc
    * composes two decorations). The sized decorations (0, 1) scale
    * with the doc's own word count via integer arithmetic, so their
    * rule fires with margin at any doc length; remainders 2 and 3
    * fire their line rules at ratio 1.0, with ONE documented
    * interaction: a very short remainder-3 doc can trip the
    * earlier-in-chain symbol rule on its own ellipsis (faithful to
    * Gopher, which counts `...` as a symbol) — the spec asserts
    * whichever of the two the row's own rounded ratios select. Each
    * doc gets its signal columns, the
    * FIRST failing rule as `drop_reason`, and the keep verdict; gates
    * compare the ROUNDED [[ratio4]] presentations (the curation_report
    * precedent) so the cut bites identically in the oracle.
    *
    * Scale shape: pure per-row string/regex map, zero shuffle — the
    * same whole-stage-codegen-over-100 TB class as [[c4Filters]]. */
  def gopherFilters(spark: SparkSession, dir: String): DataFrame = {
    val id = col("doc_id")
    // Base word count drives decoration sizes (integer ceil-division,
    // exact in both engines).
    val n0 = size(filter(split(col("text"), "\\s+"), t => t =!= ""))
    val decorated = when(id % 23 === 0,
      concat(col("text"), lit(" "),
        expr("repeat('# ', cast((n0 + 5) div 6 as int))")))
      .when(id % 23 === 1,
        concat(col("text"), lit(" "),
          expr("repeat('12345 ', cast((n0 + 2) div 3 as int))")))
      .when(id % 23 === 2,
        concat(lit("- "), regexp_replace(col("text"), " +", "\n- ")))
      .when(id % 23 === 3, concat(col("text"), lit("...")))
      .otherwise(col("text"))
    val sig = Tables.documents(spark, dir)
      .withColumn("n0", n0)
      .select(col("doc_id"), decorated.as("ftxt"))
      .select(
        col("doc_id"),
        filter(split(col("ftxt"), "\\s+"), t => t =!= "").as("words"),
        filter(split(col("ftxt"), "\n"), l => l =!= "").as("lines"),
        (length(col("ftxt")) - length(regexp_replace(col("ftxt"), "#", "")))
          .as("n_hash"),
        ((length(col("ftxt")) -
          length(regexp_replace(col("ftxt"), "\\.\\.\\.", ""))) / 3)
          .cast("long").as("n_ell"),
        length(regexp_replace(col("ftxt"), "\\s", "")).as("n_wchars"))
      .select(
        col("doc_id"),
        size(col("words")).as("n_words"),
        size(col("lines")).as("n_lines"),
        ratio4(col("n_hash") + col("n_ell"),
          greatest(size(col("words")), lit(1))).as("symbol_ratio"),
        ratio4(size(filter(col("lines"), l => l.startsWith("- "))),
          greatest(size(col("lines")), lit(1))).as("bullet_ratio"),
        ratio4(size(filter(col("lines"), l => l.endsWith("..."))),
          greatest(size(col("lines")), lit(1))).as("ellipsis_ratio"),
        ratio4(size(filter(col("words"), w => w.rlike("[a-z]"))),
          greatest(size(col("words")), lit(1))).as("alpha_ratio"),
        GopherStops.map(w =>
          when(array_contains(col("words"), w), 1L).otherwise(0L))
          .reduce(_ + _).as("n_stop_hits"),
        ratio4(col("n_wchars"), greatest(size(col("words")), lit(1)))
          .as("mean_word_len"))
    val reason = when(col("symbol_ratio") > 0.1, "symbol_ratio")
      .when(col("bullet_ratio") > 0.9, "bullet_lines")
      .when(col("ellipsis_ratio") > 0.3, "ellipsis_lines")
      .when(col("alpha_ratio") < 0.8, "alpha_words")
      .when(col("n_stop_hits") < 2, "stopwords")
      .when(col("mean_word_len") < 3.0 || col("mean_word_len") > 10.0,
        "word_length")
      .when(col("n_words") < 50 || col("n_words") > 100000, "word_count")
      .otherwise("kept")
    sig.withColumn("drop_reason", reason)
      .withColumn("kept", col("drop_reason") === "kept")
      .orderBy(col("doc_id"))
  }

  /** #44v sample_split: the deterministic train/val/test corpus split —
    * every pretrain pipeline's first irreversible decision. Assignment
    * is the pinned md5-ppm bucket on doc_id (the [[sampleTemperature]]
    * / mm_sample_balanced discipline: one integer in [0, 10⁶) per doc,
    * bit-identical cross-engine, stable under re-runs and data
    * relocation because it depends on the KEY, not on position or RNG
    * state), cut at 98% / 1% / 1%. Emits the per-split audit a split
    * manifest records: docs, chars, tokens, an order-free doc_id
    * checksum (the re-assembly guard: any membership change moves it),
    * and the realized share.
    *
    * Scale shape: one metadata-narrow corpus scan, one map-side-
    * combinable 3-key rollup; the share window rides the 3-row split
    * dimension, never the corpus. */
  /** The 98/1/1 split assignment of a doc_id — ONE definition shared
    * by [[sampleSplit]] and the split-leakage audit
    * (graft.pipeline.Curation.splitLeakage), so "which split is this
    * doc in" can never drift between the manifest and its audits. */
  def splitAssign(docId: Column): Column = {
    val bucket = graft.sources.PersistedIndex.ppmBucket(docId, lit("#split"))
    when(bucket < 980000L, "train")
      .when(bucket < 990000L, "val")
      .otherwise("test")
  }

  def sampleSplit(spark: SparkSession, dir: String): DataFrame = {
    val perSplit = Tables.documents(spark, dir)
      .select(splitAssign(col("doc_id")).as("split"), col("doc_id"), col("n_chars"),
        size(filter(split(col("text"), "\\s+"), t => t =!= ""))
          .as("n_tokens"))
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("n_chars"),
        sum(col("n_tokens").cast("long")).as("n_tokens"),
        // Through DECIMAL(38,0), matching the oracle's HUGEINT sum
        // (ADVICE r13): a bare LONG sum wraps silently on overflow
        // with ANSI off while the oracle aborts — past 2^63 the
        // decimal sum stays exact and the final LONG cast fails
        // loudly (null/abort) on both sides instead of diverging.
        sum(col("doc_id").cast("decimal(38,0)")).cast("long")
          .as("id_checksum"))
    perSplit
      .withColumn("share", ratio4(col("n_docs"),
        sum(col("n_docs"))
          .over(org.apache.spark.sql.expressions.Window.partitionBy())))
      .orderBy(col("split"))
  }

  /** #44z text_ngram_coverage: the DUPLICATION-CONTAMINATION rate per
    * source — how much of each slice's content is shingle mass shared
    * with at least one OTHER document corpus-wide (the "fraction of
    * the corpus that is boilerplate/near-dup text" number the
    * web-scale curation papers report before and after dedup; the
    * dedup operators DROP duplicates, this one QUANTIFIES what they'd
    * touch, per source, without committing to a drop). Rides the
    * house 3-word shingle-set rule ([[graft.dedup.Dedup.shingles]] /
    * the sh3 oracle CTE), so the number is consistent with what the
    * dedup pipeline would actually see: per source, shingle SLOTS
    * (Σ per-doc distinct shingles), slots whose shingle has corpus
    * document-frequency ≥ 2, distinct/duplicated-distinct shingle
    * counts, and the slot-level duplicated share as an integer-count
    * [[graft.functions.Exact.ratio4]].
    *
    * Scale shape: the inverted-index pattern without posting lists —
    * shingle df is a map-side-combinable count (no collect_set, no
    * cap needed: nothing list-shaped buffers), and the slots⋈df join
    * is BIG-BIG on the shingle key, pinned sort-merge for the same
    * reason as the ngram-Jaccard pipeline (both sides grow with the
    * corpus; a stats-underestimate broadcast OOMs at 10× — the r7
    * finding); the final rollup is one |sources|-key aggregation.
    *
    * A (shingle, source)-pre-aggregated rewrite (slot counts → df by
    * summation, distincts as plain counts, lazily checkpointed shared
    * frame) was built and MEASURED at sf1: warm 4.5 s vs 2.8–4.1 s for
    * this shape — 3-word shingles are mostly unique, so the
    * "vocabulary" frame is nearly corpus-sized and its checkpoint
    * write costs more than the removed Expand; rejected (r17). */
  def ngramCoverage(spark: SparkSession, dir: String): DataFrame = {
    val slots = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        explode(graft.dedup.Dedup.shingles(col("text"), 3)).as("shingle"))
    val df = slots.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
    slots.join(df.hint("merge"), "shingle")
      .groupBy(col("source"))
      .agg(
        countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_slots"),
        sum(when(col("df") >= 2, 1L).otherwise(0L)).as("dup_slots"),
        countDistinct(col("shingle")).as("n_distinct"),
        countDistinct(when(col("df") >= 2, col("shingle")))
          .as("n_dup_distinct"))
      .withColumn("dup_share", ratio4(col("dup_slots"), col("n_slots")))
      .orderBy(col("source"))
  }
}
