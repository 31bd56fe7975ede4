package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.dedup.Dedup
import graft.functions.Exact.ratio4
import graft.sources.Tables
import graft.text.Text

/** The end-to-end training-data curation pipeline as ONE declarative
  * plan (SURVEY §2.6 #44k): the composition every section of the
  * library builds toward — quality gate → language filter → near-dup
  * survivor pick → benchmark decontamination → stratified sampling —
  * reported as the per-stage funnel (docs, tokens, fraction of raw
  * corpus remaining) that a curation run publishes as its audit
  * artifact.
  *
  * Every stage reuses the EXACT operator it names — [[Text.quality]]'s
  * d4 score, [[Text.langid]]'s argmax, [[Dedup.survivors]]' cluster
  * pick (which rides the session-memoized exact pair set, so the ngram
  * pipeline is not re-run), [[Text.decontaminate]]'s 8-gram hit flag
  * (whose eval slice is dropped at the same stage, as a held-out set
  * must be), and [[Text.sampleStratified]]'s md5-bucket predicate —
  * so the funnel numbers are consistent with each stage's own driver
  * query by construction, and the DuckDB oracle is the composition of
  * their oracles.
  *
  * Scale shape: one pass assembles per-doc stage flags — the corpus
  * frame shuffles on doc_id and every stage join reuses that one key
  * (quality/langid fuse into the scan; survivors/decontaminate join as
  * doc-keyed lists) — then a single 1-row aggregate explodes into the
  * 6-row report. Nothing corpus-sized crosses a second partitioning.
  */
object Curation {

  def report(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        size(Text.tokens(col("text"))).cast("long").as("n_toks"))
    val q = Text.quality(spark, dir).select(col("doc_id"), col("quality_score"))
    val lang = Text.langid(spark, dir).select(col("doc_id"), col("pred_lang"))
    val surv = Dedup.survivors(spark, dir)
      .select(col("doc_id"), lit(true).as("surv"))
    val clean = Text.decontaminate(spark, dir)
      .filter(!col("contaminated"))
      .select(col("doc_id"), lit(true).as("clean"))
    // The sampler IS its predicate — the ONE shared definition.
    val (ratePct, bucket) = Text.samplerColumns

    val flags = base
      .join(q, "doc_id")
      .join(lang, "doc_id")
      .join(surv, Seq("doc_id"), "left_outer")
      .join(clean, Seq("doc_id"), "left_outer")
      .withColumn("s1", col("quality_score") >= 0.5)
      .withColumn("s2", col("s1") && col("pred_lang") === "en")
      .withColumn("s3", col("s2") && coalesce(col("surv"), lit(false)))
      .withColumn("s4", col("s3") && coalesce(col("clean"), lit(false)))
      .withColumn("s5", col("s4") && bucket < ratePct)

    def cnt(c: org.apache.spark.sql.Column) = sum(when(c, 1L).otherwise(0L))
    def tok(c: org.apache.spark.sql.Column) =
      sum(when(c, col("n_toks")).otherwise(0L))
    val agg = flags.agg(
      count(lit(1)).as("n0"), sum(col("n_toks")).as("t0"),
      cnt(col("s1")).as("n1"), tok(col("s1")).as("t1"),
      cnt(col("s2")).as("n2"), tok(col("s2")).as("t2"),
      cnt(col("s3")).as("n3"), tok(col("s3")).as("t3"),
      cnt(col("s4")).as("n4"), tok(col("s4")).as("t4"),
      cnt(col("s5")).as("n5"), tok(col("s5")).as("t5"))

    def stage(i: Int, name: String) =
      struct(lit(i).as("stage"), lit(name).as("stage_name"),
        col(s"n$i").as("n_docs"), col(s"t$i").as("n_tokens"))
    agg
      .select(col("n0"), explode(array(
        stage(0, "raw"), stage(1, "quality"), stage(2, "language"),
        stage(3, "dedup"), stage(4, "decontaminate"), stage(5, "sample")))
        .as("s"))
      .select(col("s.stage").as("stage"), col("s.stage_name").as("stage_name"),
        col("s.n_docs").as("n_docs"), col("s.n_tokens").as("n_tokens"),
        ratio4(col("s.n_docs"), greatest(col("n0"), lit(1L))).as("pct_of_raw"))
      .orderBy(col("stage"))
  }

  /** #44w split_leakage: the near-duplicate TRAIN/TEST contamination
    * audit over the split manifest — for every unordered split pair
    * (dense 6-cell matrix, zeros included: the contamination_matrix
    * convention), how many of the corpus's exact near-dup pairs have
    * one endpoint in each, with the cross-split cells flagged as
    * leaks. Exact-match decontamination misses this class entirely: a
    * near-duplicate of a test doc sitting in train leaks the
    * evaluation just as surely as a verbatim copy, which is why a
    * split ships with this audit next to sample_split's manifest.
    * Reuses the EXACT pieces it audits — [[Text.splitAssign]]'s
    * md5-ppm assignment (one shared definition with sample_split) and
    * the session-memoized exact pair frame ([[Dedup.ngramJaccard]]).
    *
    * Scale shape: the duplication-bounded pair frame joins the
    * corpus-keyed assignment twice on doc_id (the small side
    * broadcasts; at corpus scale this is the standard fact-dimension
    * shape with the PAIRS as the small side), then a ≤6-cell rollup;
    * the share denominator is a 1-row broadcast. */
  def splitLeakage(spark: SparkSession, dir: String): DataFrame = {
    val asn = Tables.documents(spark, dir)
      .select(col("doc_id"), Text.splitAssign(col("doc_id")).as("split"))
    val pairs = Dedup.ngramJaccard(spark, dir).select(col("doc_a"), col("doc_b"))
    val tagged = pairs
      .join(asn.select(col("doc_id").as("doc_a"), col("split").as("sa")), "doc_a")
      .join(asn.select(col("doc_id").as("doc_b"), col("split").as("sb")), "doc_b")
      .select(least(col("sa"), col("sb")).as("split_a"),
        greatest(col("sa"), col("sb")).as("split_b"))
    val counts = tagged.groupBy(col("split_a"), col("split_b"))
      .agg(count(lit(1)).as("n"))
    val total = tagged.agg(count(lit(1)).as("total_pairs"))
    val names = Seq("test", "train", "val")
    val cells = (for {
      i <- names.indices; j <- i until names.size
    } yield (names(i), names(j)))
    val sparkS = spark
    import sparkS.implicits._
    cells.toDF("split_a", "split_b")
      .join(counts, Seq("split_a", "split_b"), "left")
      .crossJoin(broadcast(total))
      .select(col("split_a"), col("split_b"),
        coalesce(col("n"), lit(0L)).as("n_pairs"),
        (col("split_a") =!= col("split_b")).as("is_leak"),
        ratio4(coalesce(col("n"), lit(0L)),
          greatest(col("total_pairs"), lit(1L))).as("pair_share"))
      .orderBy(col("split_a"), col("split_b"))
  }

  /** #37g dedup_quality_audit: the dedup×quality INTERACTION report —
    * for each dedup verdict (`unique`: in no near-dup cluster;
    * `winner`: a cluster's kept representative; `dropped`: a cluster
    * member the survivor pick removes) the docs/tokens it covers, the
    * mean quality score and the share of low-quality docs. This is the
    * audit a curation rollout reads before ORDERING its stages: if
    * `dropped` skews low-quality, dedup is doing part of the quality
    * gate's work (dups are disproportionately boilerplate — the
    * RefinedWeb observation) and the gates can run in either order; if
    * it doesn't, quality-after-dedup and dedup-after-quality keep
    * different corpora and the rollout must pick deliberately.
    *
    * Means are exact: [[Text.quality]]'s d4 score is recovered to its
    * integer 1e-4 units per doc (ROUND(score·10⁴) — exact recovery of
    * an already-4-dec value, the kmeans min_cos precedent), summed as
    * BIGINT (order-free), presented with ONE [[ratio4]] division —
    * `mean_q4` is the mean score in 1e-4 units. `low_frac` gates on
    * the rounded score at 0.5, the curve's middle threshold (the
    * curation_report precedent, so the cut bites identically in the
    * oracle).
    *
    * Scale shape: the cluster verdict frame is duplication-bounded
    * (only docs IN clusters, from the session-memoized checkpoint) so
    * its join onto the quality scan broadcasts; the rollup is
    * map-side-combinable onto a ≤3-row frame. Nothing corpus-sized
    * shuffles. */
  def dedupQualityAudit(spark: SparkSession, dir: String): DataFrame = {
    val cl = Dedup.clusters(spark, dir).select(col("doc_id"), col("cluster_id"))
    val verdict = when(col("cluster_id").isNull, lit("unique"))
      .when(col("doc_id") === col("cluster_id"), lit("winner"))
      .otherwise(lit("dropped"))
    Text.quality(spark, dir)
      .select(col("doc_id"), col("n_tokens").cast("long").as("n_toks"),
        round(col("quality_score") * lit(10000.0), 0).cast("long").as("q4"))
      .join(broadcast(cl), Seq("doc_id"), "left_outer")
      .select(verdict.as("verdict"), col("n_toks"), col("q4"))
      .groupBy(col("verdict"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_toks")).as("n_tokens"),
        ratio4(sum(col("q4")), count(lit(1))).as("mean_q4"),
        ratio4(sum(when(col("q4") < 5000L, 1L).otherwise(0L)), count(lit(1)))
          .as("low_frac"))
      .orderBy(col("verdict"))
  }

  /** #45h mm_curation_report: the end-to-end MEDIA curation funnel as
    * ONE declarative plan — the media analog of [[report]] (VERDICT
    * r14 #5): corpus intake → decodability gate → perceptual dedup →
    * balanced byte sampling, reported as the per-stage
    * (items, bytes, share-of-raw) funnel a media curation run
    * publishes as its audit artifact. Every stage reuses the EXACT
    * operator it names: the corpus is the companion-augmented media
    * set the dedup stage actually processes
    * ([[graft.multimodal.Multimodal.phashCorpusHex]]), the decode
    * gate is [[graft.multimodal.Multimodal.corpusAudit]]'s
    * empty-payload class, the dedup verdict is
    * [[graft.multimodal.Multimodal.phashClusters]]' min-id winner
    * rule (rides the session-memoized pair checkpoint — the CC loop
    * is not re-run), and the sampler is
    * [[graft.multimodal.Multimodal.sampleBalanced]]'s α = 0.5
    * byte-budget definition applied to the POST-DEDUP corpus (a media
    * sample budget applies to what survives dedup — the operational
    * order), with the same integer quantization (√bytes in 2⁻²⁰
    * units, DECIMAL(38,0) budget products, md5-ppm buckets), so every
    * keep/drop decision is bit-identical in the DuckDB oracle — the
    * composition of the stage oracles into one statement.
    *
    * Scale shape: per-item stage flags assembled on doc_id (the
    * dropped set is duplication-bounded and broadcasts; the
    * |formats|-row rate dimension broadcasts), then ONE
    * map-side-combinable 1-row aggregate exploded into the 4-row
    * report. Payload LENGTH only — this plan never reads the blob
    * column (the phash pipeline read it once, inside the memoized
    * pair frame). */
  def mediaReport(spark: SparkSession, dir: String): DataFrame = {
    import graft.multimodal.Multimodal
    val items = Multimodal.phashCorpusHex(spark, dir)
      .select(col("doc_id"), col("nb"),
        (col("doc_id") % 10000000L).as("base_id"))
      .join(Multimodal.mediaTable(spark, dir).toDF()
        .select(col("doc_id").as("base_id"), col("format")), "base_id")
    val dropped = Multimodal.phashClusters(spark, dir)
      .filter(col("doc_id") =!= col("cluster_id"))
      .select(col("doc_id"), lit(true).as("_dropped"))
    val flagged = items
      .join(dropped, Seq("doc_id"), "left_outer")
      .withColumn("bucket_ppm",
        graft.sources.PersistedIndex.ppmBucket(
          col("doc_id"), concat(lit("#"), col("format"))))
      .withColumn("s1", col("nb") > 0L)
      .withColumn("s2", col("s1") && col("_dropped").isNull)
    val rates = graft.sources.PersistedIndex.sqrtRates(
        flagged.filter(col("s2")).groupBy(col("format"))
          .agg(sum(col("nb")).as("fmt_bytes")),
        size = "fmt_bytes", total = "dedup_bytes", target = "target_bytes")
      .select(col("format"), col("rate_ppm"))
    val flags = flagged.join(broadcast(rates), Seq("format"), "left_outer")
      .withColumn("s3",
        col("s2") && col("bucket_ppm") < coalesce(col("rate_ppm"), lit(0L)))
    def cnt(c: org.apache.spark.sql.Column) = sum(when(c, 1L).otherwise(0L))
    def byt(c: org.apache.spark.sql.Column) =
      coalesce(sum(when(c, col("nb")).otherwise(0L)), lit(0L))
    val agg = flags.agg(
      count(lit(1)).as("n0"), coalesce(sum(col("nb")), lit(0L)).as("b0"),
      cnt(col("s1")).as("n1"), byt(col("s1")).as("b1"),
      cnt(col("s2")).as("n2"), byt(col("s2")).as("b2"),
      cnt(col("s3")).as("n3"), byt(col("s3")).as("b3"))
    def stage(i: Int, name: String) =
      struct(lit(i).as("stage"), lit(name).as("stage_name"),
        col(s"n$i").as("n_items"), col(s"b$i").as("n_bytes"))
    agg
      .select(col("n0"), col("b0").as("rawb"), explode(array(
        stage(0, "raw"), stage(1, "decodable"), stage(2, "dedup"),
        stage(3, "sample"))).as("s"))
      .select(col("s.stage").as("stage"),
        col("s.stage_name").as("stage_name"),
        col("s.n_items").as("n_items"), col("s.n_bytes").as("n_bytes"),
        ratio4(col("s.n_items"), greatest(col("n0"), lit(1L))).as("pct_items"),
        ratio4(col("s.n_bytes"), greatest(col("rawb"), lit(1L))).as("pct_bytes"))
      .orderBy(col("stage"))
  }

  /** #44u corpus_diff: the SNAPSHOT-DIFF audit between two corpus
    * versions — the dataset-versioning report every managed training
    * corpus publishes on release (what changed since v1: docs added,
    * removed, revised in place, untouched — and the character budget
    * each class moved, per source). Change detection is BY CONTENT
    * HASH (md5 of the text bytes), never by text comparison: the join
    * payload is (hash, length), 48-odd bytes per doc whatever the
    * document size, so the diff of a 100 TB corpus moves gigabytes,
    * not the corpus.
    *
    * Scale shape: one full-outer hash join on doc_id — in production
    * the two snapshot tables are BUCKETED on doc_id, so the join
    * co-locates with zero exchange beyond the scans; here both
    * versions derive from one table and AQE plans the self-join —
    * then a map-side-combinable rollup to the (|sources| × 4)-sized
    * report. Status semantics: a doc only in v1 is `removed`, only in
    * v2 `added`, in both with equal hashes `unchanged`, else
    * `changed`. */
  def corpusDiff(v1: DataFrame, v2: DataFrame): DataFrame =
    v1.select(col("doc_id"), col("source").as("src1"),
        md5(col("text").cast("binary")).as("h1"),
        length(col("text")).cast("long").as("len1"))
      .join(v2.select(col("doc_id"), col("source").as("src2"),
          md5(col("text").cast("binary")).as("h2"),
          length(col("text")).cast("long").as("len2")),
        Seq("doc_id"), "full_outer")
      .select(coalesce(col("src1"), col("src2")).as("source"),
        when(col("h2").isNull, "removed")
          .when(col("h1").isNull, "added")
          .when(col("h1") === col("h2"), "unchanged")
          .otherwise("changed").as("status"),
        coalesce(col("len1"), lit(0L)).as("len1"),
        coalesce(col("len2"), lit(0L)).as("len2"))
      .groupBy(col("source"), col("status"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("len1")).as("chars_v1"),
        sum(col("len2")).as("chars_v2"))
      .withColumn("delta_chars", col("chars_v2") - col("chars_v1"))
      .orderBy(col("source"), col("status"))

  /** The driver form of [[corpusDiff]]: both snapshots derive
    * deterministically from the one `documents` table via the house
    * md5-ppm split (salt `#ver`) so the oracle can replay them — v1
    * is buckets < 900k, v2 is buckets ≥ 50k (so 5% removed, 10%
    * added, 85% shared), and within the shared mass the `b % 7 = 3`
    * slice carries an in-place revision (an appended marker), the
    * `changed` class. */
  def corpusDiffDemo(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), col("text"))
    val b = graft.sources.PersistedIndex.ppmBucket(col("doc_id"), lit("#ver"))
    val v1 = docs.filter(b < 900000L)
    val v2 = docs.filter(b >= 50000L)
      .withColumn("text",
        when(b % 7L === 3L, concat(col("text"), lit(" [rev2]")))
          .otherwise(col("text")))
    corpusDiff(v1, v2)
  }
}
