package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import org.apache.spark.sql.graftbridge.ColumnBridge

import graft.dedup.Dedup
import graft.functions.Exact.ratio4Sql
import graft.functions.SessionScopedCache
import graft.kv.Kv
import graft.multimodal.Multimodal
import graft.operators.{Events, Relational}
import graft.similarity.{Kmeans, Pca, Similarity}
import graft.text.{Bpe, Text}

/** Driver contract — see /root/repo/SURVEY.md §2 for the inventory. */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.q1PricingSummary(spark, "/root/testdata/sf0.001")

  /** The query set after the SPARK_GRAFT_ONLY local-iteration filter
    * (comma-separated names; unset = all). ONE definition shared by
    * Bench and Verify so the two mains can never bench and verify
    * different selections. The driver never sets the variable, so the
    * gate always runs every query. */
  def selectedQueries: Map[String, (SparkSession, String) => DataFrame] =
    sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet) match {
      case Some(names) => queries.filter { case (n, _) => names(n) }
      case None        => queries
    }

  /** Each registry query's analyzed DataFrame, per session, keyed by
    * (dir, query name) and by the content of `dir`. */
  private val plans =
    new SessionScopedCache[DataFrame]("queries.plan", countsAsBuild = false)

  /** The query registry: every query is reached through the session
    * plan memo, so a warm call re-analyzes nothing.
    *  - A call looks up (dir, name) in `queries.plan`, a metadata
    *    [[graft.functions.SessionScopedCache]] validated by the same
    *    content fingerprint as every other memo: one
    *    [[graft.sources.Tables.dataFiles]] listing of `dir`. A miss
    *    builds the query as written; a hit skips the build, so the
    *    analyzer runs once per query and content version.
    *  - The call returns a new DataFrame over the cached analyzed plan
    *    ([[org.apache.spark.sql.graftbridge.ColumnBridge.withNewExecution]]):
    *    every job of the query still runs, and so do the optimizer, the
    *    planner and AQE for the caller's action.
    *  - A rewritten file under `dir` rebuilds the plan. So does the
    *    release of any block-owning memo entry of the session
    *    (a fingerprint change, `unpersist`, `evictToCap`,
    *    `unpersistAll`), so a plan never reads a released checkpoint.
    *  - A build is taken to depend on the files under `dir` alone, as
    *    for every memo; a session conf a build reads (the shuffle
    *    parallelism of [[graft.sources.Tables.withMinParallelism]])
    *    keeps its value for the plan's content version.
    * There is no second path: Bench, Verify and the specs all call
    * this map. */
  val queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map { case (name, build) =>
      name -> ((spark: SparkSession, dir: String) => ColumnBridge.withNewExecution(
        plans.getOrCompute(spark, dir, name)(build(spark, dir))))
    }

  /** One entry per implemented operator from SURVEY.md §2. */
  private def registry: Map[String, (SparkSession, String) => DataFrame] = Map(
    // §2.2 relational/OLAP
    "q1_pricing_summary"       -> (Relational.q1PricingSummary _),
    "q3_shipping_priority"     -> (Relational.q3ShippingPriority _),
    "q4_order_priority"        -> (Relational.q4OrderPriority _),
    "q5_local_supplier"        -> (Relational.q5LocalSupplier _),
    "q6_forecast_revenue"      -> (Relational.q6ForecastRevenue _),
    "q10_returned_items"       -> (Relational.q10ReturnedItems _),
    "q13_customer_distribution" -> (Relational.q13CustomerDistribution _),
    "q14_promo_revenue"        -> (Relational.q14PromoRevenue _),
    "q18_large_orders"         -> (Relational.q18LargeOrders _),
    "q19_discounted_revenue"   -> (Relational.q19DiscountedRevenue _),
    "topk_per_group"           -> (Relational.topkPerGroup _),
    "running_total"            -> (Relational.runningTotal _),
    "rollup_agg"               -> (Relational.rollupAgg _),
    "cube_agg"                 -> (Relational.cubeAgg _),
    "grouping_sets_agg"        -> (Relational.groupingSetsAgg _),
    "rfm_scores"               -> (Relational.rfmScores _),
    "spend_deciles"            -> (Relational.spendDeciles _),
    "basket_pairs"             -> (Relational.basketPairs _),
    "cohort_ltv"               -> (Relational.cohortLtv _),
    "distinct_agg"             -> (Relational.distinctAgg _),
    "anti_semi_join"           -> (Relational.antiSemiJoin _),
    "set_ops"                  -> (Relational.setOps _),
    "pivot_manual"             -> (Relational.pivotManual _),
    "approx_distinct"          -> (Relational.approxDistinct _),
    "quantile_agg"             -> (Relational.quantileAgg _),
    "ship_latency"             -> (Relational.shipLatency _),
    "q17_small_qty_revenue"    -> (Relational.q17SmallQtyRevenue _),
    "q22_no_order_customers"   -> (Relational.q22NoOrderCustomers _),
    "q7_nation_volume"         -> (Relational.q7NationVolume _),
    "q8_market_share"          -> (Relational.q8MarketShare _),
    "q15_top_supplier"         -> (Relational.q15TopSupplier _),
    "q21_late_suppliers"       -> (Relational.q21LateSuppliers _),
    // §2.1 KV engine (reference-derived semantics)
    "kv_lww_latest"            -> (Kv.lwwLatest _),
    "kv_generations_merge"     -> (Kv.generationsMerge _),
    "kv_tombstone_merge"       -> (Kv.tombstoneMerge _),
    "kv_range_tombstone"       -> (Kv.rangeTombstone _),
    "kv_ttl_expiry"            -> (Kv.ttlExpiry _),
    "kv_prohibit_eternal"      -> (Kv.prohibitEternal _),
    "kv_record_ttl"            -> (Kv.recordTtl _),
    "kv_create_only"           -> (Kv.createOnly _),
    "kv_resume_scan"           -> (Kv.resumeScan _),
    "kv_token_range_scan"      -> (Kv.tokenRangeScan _),
    "kv_byte_ordered_scan"     -> (Kv.byteOrderedScan _),
    "kv_random_resume_scan"    -> (Kv.randomResumeScan _),
    "kv_token_distribution"    -> (Kv.tokenDistribution _),
    "kv_long_key_tokens"       -> (Kv.longKeyTokens _),
    "kv_random_token_distribution" -> (Kv.randomTokenDistribution _),
    "kv_export_stats"          -> (Kv.exportStats _),
    "kv_dry_run_format"        -> (Kv.dryRunFormat _),
    "kv_counter_merge"         -> (Kv.counterMerge _),
    // §2.3 event-stream analytics
    "events_windowed_agg"      -> (Events.windowedAgg _),
    "events_sessionize"        -> (Events.sessionize _),
    "events_asof_prev"         -> (Events.asofPrev _),
    "events_funnel"            -> (Events.funnel _),
    "events_retention"         -> (Events.retention _),
    "events_transitions"       -> (Events.transitions _),
    "events_sequences"         -> (Events.sequences _),
    "events_json_props"        -> (Events.jsonProps _),
    "events_value_hist"        -> ((s, d) => Events.valueHist(s, d)),
    "events_moving_avg"        -> (Events.movingAvg _),
    "events_zscore_outliers"   -> (Events.zscoreOutliers _),
    "events_interval_join"     -> (Events.intervalJoin _),
    "events_cusum"             -> (Events.cusum _),
    "events_hopping_agg"       -> (Events.hoppingAgg _),
    "events_ewma"              -> ((s, d) => Events.ewma(s, d)),
    "events_holt"              -> ((s, d) => Events.holt(s, d)),
    "events_forecast_backtest" -> ((s, d) => Events.forecastBacktest(s, d)),
    "events_heatmap"           -> (Events.heatmap _),
    "events_interarrival"      -> (Events.interarrival _),
    "events_mad_outliers"      -> (Events.madOutliers _),
    "events_attribution"       -> (Events.attribution _),
    "events_pagerank"          -> (Events.pagerank _),
    "events_user_features"     -> (Events.userFeatures _),
    "events_dau_mau"           -> (Events.dauMau _),
    "events_hhi"               -> (Events.hhi _),
    "events_winsorized"        -> (Events.winsorized _),
    "events_session_stats"     -> (Events.sessionStats _),
    "events_sessionize_native" -> (Events.sessionizeNative _),
    "events_weekend_contrast"  -> (Events.weekendContrast _),
    "events_dist_drift"        -> ((s, d) => Events.distDrift(s, d)),
    "events_user_lifecycle"    -> (Events.userLifecycle _),
    "events_streaks"           -> (Events.streaks _),
    "text_lang_mix"            -> (Text.langMix _),
    "events_burstiness"        -> (Events.burstiness _),
    "orders_seasonality"       -> (Relational.ordersSeasonality _),
    "supplier_concentration"   -> (Relational.supplierConcentration _),
    "balance_matrix"           -> (Relational.balanceMatrix _),
    "supplier_dominance"       -> (Relational.supplierDominance _),
    "events_autocorr"          -> (Events.autocorr _),
    "events_activity_islands"  -> (Events.activityIslands _),
    "events_growth_curve"      -> (Events.growthCurve _),
    "events_conversion_lag"    -> (Events.conversionLag _),
    "events_session_mix"       -> (Events.sessionMix _),
    "order_cadence"            -> (Relational.orderCadence _),
    "emb_similarity_hist"      -> (Similarity.similarityHist _),
    "table_profile"            -> (Relational.tableProfile _),
    "fk_integrity"             -> (Relational.fkIntegrity _),
    "nation_year_growth"       -> (Relational.nationYearGrowth _),
    "brand_cheapest"           -> (Relational.brandCheapest _),
    "text_len_hist"            -> (Text.lenHist _),
    "events_user_overlap"      -> (Events.userOverlap _),
    // rows-only by design: KMV estimates aren't ANSI SQL; the exact
    // baseline events_user_overlap carries the oracle and this output
    // self-audits (exact counts + rel_err columns + invariant spec).
    "events_user_overlap_sketch" -> ((s, d) => Events.userOverlapSketch(s, d)),
    "quantile_sketch"          -> (Relational.quantileSketch _),
    "events_asof_join"         -> (graft.plans.AsOf.eventsAsofJoin _),
    "events_asof_next"         -> (graft.plans.AsOf.eventsAsofNext _),
    // §2.4 dedup
    "dedup_exact"              -> (Dedup.exact _),
    "dedup_minhash_lsh"        -> ((s, d) => Dedup.minhashLsh(s, d)),
    "dedup_simhash"            -> ((s, d) => Dedup.simhash(s, d)),
    "dedup_ngram_jaccard"      -> (Dedup.ngramJaccard _),
    "dedup_substring"          -> (Dedup.substringPairs _),
    "dedup_clusters"           -> (Dedup.clusters _),
    "dedup_clusters_star"      -> (Dedup.clusters _),
    "dedup_survivors"          -> (Dedup.survivors _),
    "dedup_survivor_weights"   -> (Dedup.survivorWeights _),
    "dedup_containment"        -> (Dedup.containment _),
    "dedup_embedding"          -> (Dedup.embedding _),
    "dedup_semantic"           -> ((s: SparkSession, d: String) => Dedup.semantic(s, d)),
    "dedup_knn_cc"             -> ((s: SparkSession, d: String) => Dedup.knnCc(s, d)),
    "dedup_incremental"        -> (Dedup.incremental _),
    "dedup_index_audit"        -> (Dedup.indexAudit _),
    "dedup_lsh_curve"          -> (Dedup.lshCurve _),
    "dedup_threshold_curve"    -> (Dedup.thresholdCurve _),
    // §2.5 similarity search
    "ann_bruteforce_topk"      -> (Similarity.bruteForceTopK _),
    "ann_lsh_topk"             -> (Similarity.lshTopK _),
    "ann_ivf_topk"             -> (Similarity.ivfTopK _),
    "ann_pq_topk"              -> (Similarity.pqTopK _),
    "ann_ivf_pq_topk"          -> (Similarity.ivfPqTopK _),
    "ann_tuning_curve"         -> (Similarity.ivfTuningCurve _),
    // §2.6 text analysis
    "text_token_stats"         -> (Text.tokenStats _),
    "text_quality"             -> (Text.quality _),
    "text_langid"              -> (Text.langid _),
    "text_fingerprint"         -> (Text.fingerprint _),
    "text_decontaminate"       -> (Text.decontaminate _),
    "text_decontaminate_bloom" -> (Text.decontaminateBloom _),
    "text_shard_plan"          -> ((s, d) => Text.shardPlan(s, d)),
    "text_repetition"          -> (Text.repetition _),
    "text_pii_scrub"           -> (Text.piiScrub _),
    "text_tfidf"               -> (Text.tfidf _),
    "text_vocab"               -> (Text.vocab _),
    "text_collocations"        -> ((s, d) => Text.collocations(s, d)),
    "text_bigram_lm"           -> ((s, d) => Text.bigramLmTop(s, d)),
    "text_lm_score"            -> ((s, d) => Text.lmScore(s, d)),
    "text_novelty"             -> (Text.novelty _),
    "text_quality_curve"       -> (Text.qualityCurve _),
    "text_contamination_matrix" -> (Text.contaminationMatrix _),
    "text_readability"         -> (Text.readability _),
    // rows-only by design: the merge loop's argmax feeds the next
    // round, which no single SQL statement expresses; exact-parity
    // ScalaTest oracle in TextSpec instead.
    "text_bpe_train"           -> ((s: SparkSession, d: String) => Bpe.train(s, d)),
    // rows-only by design: applies the iterative 44l artifact (the
    // training is memoized, so train+encode share one run); per-doc
    // exact-replay + losslessness ScalaTest oracle.
    "text_bpe_encode"          -> ((s: SparkSession, d: String) => Bpe.encode(s, d)),
    "text_bpe_fertility"       -> ((s: SparkSession, d: String) => Bpe.fertility(s, d)),
    // rows-only by design: the Misra-Gries multiset legally varies
    // with merge order; in-output exact/underestimate/err_bound audit
    // columns + invariant ScalaTest oracle (SketchesSpec).
    "text_vocab_sketch"        -> ((s: SparkSession, d: String) => Text.vocabSketch(s, d)),
    "corpus_mix"               -> (Text.corpusMix _),
    "text_c4_filters"          -> (Text.c4Filters _),
    "text_gopher_filters"      -> (Text.gopherFilters _),
    "text_seq_packing"         -> (Text.seqPacking _),
    "sample_stratified"        -> (Text.sampleStratified _),
    "sample_temperature"       -> (Text.sampleTemperature _),
    "sample_split"             -> (Text.sampleSplit _),
    "curation_report"          -> (graft.pipeline.Curation.report _),
    "dedup_quality_audit"      -> (graft.pipeline.Curation.dedupQualityAudit _),
    "split_leakage"            -> (graft.pipeline.Curation.splitLeakage _),
    "corpus_diff"              -> (graft.pipeline.Curation.corpusDiffDemo _),
    "text_ngram_coverage"      -> (Text.ngramCoverage _),
    "emb_outliers"             -> (Similarity.embOutliers _),
    "emb_quantize"             -> (Similarity.embQuantize _),
    "emb_dim_stats"            -> (Similarity.embDimStats _),
    "ann_range_search"         -> ((s, d) => Similarity.rangeSearch(s, d)),
    "ann_filtered_topk"        -> (Similarity.filteredTopK _),
    "ann_incremental"          -> (Similarity.ivfIncremental _),
    "ann_recall_audit"         -> (Similarity.ivfRecallAudit _),
    "ann_index_balance"        -> (Similarity.ivfBalance _),
    "ann_index_drift"          -> (Similarity.ivfDrift _),
    "emb_knn_graph"            -> (Similarity.knnGraph _),
    "emb_knn_triangles"        -> (Similarity.knnTriangles _),
    // rows-only by design: an iterative Lloyd fit isn't ANSI SQL;
    // planted-cluster recovery + repartition-proof ScalaTest oracle.
    "emb_kmeans"               -> ((s, d) => Kmeans.embKmeans(s, d)),
    "emb_label_purity"         -> ((s, d) => Kmeans.labelPurity(s, d)),
    "emb_pca"                  -> ((s, d) => Pca.embPca(s, d)),
    "emb_pca_project"          -> ((s, d) => Pca.embPcaProject(s, d)),
    // §2.7 multimodal
    "mm_binary_pipeline"       -> (Multimodal.pipeline _),
    "mm_frame_sample"          -> (Multimodal.frameSample _),
    "mm_corpus_audit"          -> (Multimodal.corpusAudit _),
    "mm_sample_balanced"       -> (Multimodal.sampleBalanced _),
    "mm_phash_dedup"           -> (Multimodal.phashDedup _),
    "mm_phash_clusters"        -> (Multimodal.phashClusters _),
    "mm_phash_survivors"       -> (Multimodal.phashSurvivors _),
    "mm_curation_report"       -> (graft.pipeline.Curation.mediaReport _)
  )

  /** Rabin-Karp winnowing (k=8, w=4) in DuckDB SQL, shared by the
    * text_fingerprint and dedup_substring oracles: the rolling hash
    * telescopes to a closed form (8 byte terms x B^j mod 2^64
    * constants, HUGEINT pattern arithmetic), per-window minima via a
    * window frame — the p <= m-w+1 start filter applied OUTSIDE the
    * window so trailing frames keep their following rows. The tie rule
    * (rightmost min) does not affect the emitted VALUE set, so MIN
    * reproduces the kernel exactly. Yields CTEs through `sel` =
    * (doc_id, fpv) DISTINCT winnowed fingerprints. */
  private lazy val winnowSelCtes: String = {
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

  /** Shared SQL prelude for the KV oracles: the events table as a cell
    * bag (key, col, ts, seq, value). */
  private val cellsCte: String =
    """WITH cells AS (SELECT CAST(user_id AS VARCHAR) AS key, event_type AS col,
      |  CAST(ts AS TIMESTAMP) AS ts, event_id AS seq, value FROM events)""".stripMargin

  /** The RandomPartitioner token (abs of MD5 as signed 128-bit
    * two's-complement, fixed-width lowercase hex) expressed in DuckDB
    * SQL: reconstruct the big-endian value from the digest's hex
    * halves as HUGEINTs and take the two's-complement absolute value
    * branch-wise (2^128 - v splits into per-half arithmetic; the
    * lo = 0 carry case handled explicitly). Independently validates
    * the engine's CassandraRandomMd5 expression under the hard gate. */
  private val randomTokenSqlCte: String =
    """tok AS (
      |  SELECT key, lpad(lower(hex(
      |    CASE WHEN hi < 9223372036854775808::HUGEINT
      |      THEN hi * 18446744073709551616::HUGEINT + lo
      |      WHEN lo = 0
      |      THEN (18446744073709551616::HUGEINT - hi) * 18446744073709551616::HUGEINT
      |      ELSE (18446744073709551615::HUGEINT - hi) * 18446744073709551616::HUGEINT
      |           + (18446744073709551616::HUGEINT - lo) END)), 32, '0') AS token
      |  FROM (SELECT key,
      |      CAST(concat('0x', substring(md5(key), 1, 16)) AS UBIGINT)::HUGEINT AS hi,
      |      CAST(concat('0x', substring(md5(key), 17, 16)) AS UBIGINT)::HUGEINT AS lo
      |    FROM (SELECT DISTINCT key FROM cells)))""".stripMargin

  /** 64-bit wrapping arithmetic in DuckDB SQL, shared by every
    * hash-replay chain below (xxhash64, both murmur3 chains, the band
    * fold). Values are non-negative HUGEINT bit patterns: a 64x64
    * product overflows HUGEINT, so [[mul64]] splits into 32-bit halves,
    * and rotate/shift become scaled adds over disjoint bits. */
  private object U64Sql {
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

  /** Spark's `xxhash64` of ONE long (seed 42) in DuckDB SQL — the
    * murmur3-chain technique applied to XXH64's hashLong path: all
    * 64-bit wrapping arithmetic on non-negative HUGEINT bit patterns
    * (multiply split into 32-bit halves, rotl as scaled add over
    * disjoint bits), one MATERIALIZED stage per step so DuckDB never
    * inlines a 4-reference mul64 exponentially. Validated term-for-term
    * against Spark 4.1.2's XxHash64 on reference values. The chain
    * reads a relation `$fromSql` with a BIGINT `user_id` column and
    * yields `<prefix>xx(user_id, h)` where h = hash >>> 1 (the
    * sign-bit-masked uniform [0, 2^63) value the KMV sketch retains). */
  private def xxhash64LongSqlChain(prefix: String, fromSql: String): String = {
    import U64Sql._
    val P1 = "11400714785074694791::HUGEINT" // XXH64 PRIME64_1
    val P2 = "14029467366897019727::HUGEINT" // PRIME64_2
    val P3 = "1609587929392839161::HUGEINT"  // PRIME64_3
    val P4 = "9650029242287828579::HUGEINT"  // PRIME64_4
    // h0 = seed + PRIME64_5 + 8 = 42 + 2870177450012600261 + 8.
    val stages = Seq(
      mul64("h", P2), rotl("h", 31), mul64("h", P1),
      xor64("2870177450012600311::HUGEINT", "h"),
      rotl("h", 27), mul64("h", P1), m64(s"h + $P4"),
      xor64("h", shr("h", 33)), mul64("h", P2),
      xor64("h", shr("h", 29)), mul64("h", P3),
      xor64("h", shr("h", 32)))
    val sb = new StringBuilder(
      s"${prefix}_s0 AS MATERIALIZED (SELECT user_id, " +
      s"((user_id::HUGEINT % $M + $M) % $M) AS h FROM $fromSql)")
    stages.zipWithIndex.foreach { case (st, i0) =>
      sb.append(s",\n${prefix}_s${i0 + 1} AS MATERIALIZED " +
        s"(SELECT user_id, $st AS h FROM ${prefix}_s$i0)")
    }
    sb.append(s",\n${prefix}xx AS MATERIALIZED (SELECT user_id, " +
      s"(h // 2)::BIGINT AS h FROM ${prefix}_s${stages.length})")
    sb.toString
  }

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
  private def bpeChainCtes(nMerges: Int): String = {
    val parts = new StringBuilder(
      """toks AS (SELECT unnest(regexp_extract_all(lower(text),
        |  '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS word FROM documents),
        |wf AS (SELECT CASE WHEN strpos(word, chr(31)) > 0
        |    THEN error('bpe oracle: separator collision') ELSE word END AS word,
        |  COUNT(*)::BIGINT AS freq FROM toks WHERE length(word) <= 64 GROUP BY 1),
        |w1 AS MATERIALIZED (SELECT freq,
        |  list_append(regexp_extract_all(word, '.'), '</w>') AS syms FROM wf)""".stripMargin)
    (1 to nMerges).foreach { r =>
      parts.append(s""",
        |p$r AS (SELECT syms[u.i] AS a, syms[u.i + 1] AS b, SUM(freq)::BIGINT AS cnt
        |  FROM w$r, UNNEST(range(1, len(syms))) AS u(i) GROUP BY 1, 2),
        |m$r AS MATERIALIZED (SELECT a, b, cnt FROM p$r ORDER BY cnt DESC, a, b LIMIT 1),
        |w${r + 1} AS MATERIALIZED (SELECT freq,
        |  CASE WHEN m.a IS NULL THEN syms ELSE
        |    string_split(trim(replace(
        |      chr(31) || array_to_string(syms, chr(31) || chr(31)) || chr(31),
        |      chr(31) || m.a || chr(31) || chr(31) || m.b || chr(31),
        |      chr(31) || m.a || m.b || chr(31)), chr(31)), chr(31) || chr(31)) END AS syms
        |  FROM w$r LEFT JOIN m$r m ON TRUE)""".stripMargin)
    }
    parts.toString
  }

  private def bpeTrainOracleSql(nMerges: Int): String = {
    val union = (1 to nMerges).map(r =>
      s"""SELECT CAST($r AS INT) AS rank, a AS "left", b AS "right", """ +
      s"a || b AS merged, cnt AS pair_count FROM m$r").mkString(" UNION ALL ")
    s"WITH ${bpeChainCtes(nMerges)}\nSELECT * FROM ($union) ORDER BY rank"
  }

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
  /** The shared encode chain (training CTEs + per-word greedy-merge
    * replay ending in `encf(word, bpe_toks)`): `docwCols` picks the
    * carrier columns the final rollup groups on — `doc_id` for
    * text_bpe_encode, `lang, source` for text_bpe_fertility — so the
    * two reports can never drift in how they tokenize. */
  private def bpeEncfCtes(nMerges: Int, docwCols: String): String = {
    val parts = new StringBuilder(bpeChainCtes(nMerges))
    parts.append(s""",
      |docw AS (SELECT $docwCols, unnest(regexp_extract_all(lower(text),
      |  '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS word FROM documents),
      |enc0 AS MATERIALIZED (SELECT word,
      |  chr(31) || array_to_string(list_append(regexp_extract_all(
      |    CASE WHEN strpos(word, chr(31)) > 0
      |      THEN error('bpe oracle: separator collision') ELSE word END,
      |    '.'), '</w>'), chr(31) || chr(31)) || chr(31) AS s
      |  FROM (SELECT DISTINCT word FROM docw))""".stripMargin)
    (1 to nMerges).foreach { r =>
      parts.append(s""",
        |enc$r AS MATERIALIZED (SELECT word,
        |  CASE WHEN m.a IS NULL THEN s ELSE replace(s,
        |    chr(31) || m.a || chr(31) || chr(31) || m.b || chr(31),
        |    chr(31) || m.a || m.b || chr(31)) END AS s
        |  FROM enc${r - 1} LEFT JOIN m$r m ON TRUE)""".stripMargin)
    }
    parts.append(s""",
      |encf AS (SELECT word,
      |  string_split(trim(s, chr(31)), chr(31) || chr(31)) AS bpe_toks
      |  FROM enc$nMerges)""".stripMargin)
    parts.toString
  }

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

  /** The phash media-dedup pair CTEs (companion-augmented corpus →
    * 64-bit blockhash → naive all-pairs Hamming ≤ 3), shared by the
    * mm_phash_dedup / mm_phash_clusters / mm_phash_survivors oracles —
    * one definition so the three stages can never drift. */
  private val PhashPairCtes: String =
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

  /** Cassandra's sign-bug Murmur3 token (Partitioners.cpp:80-180)
    * expressed in DuckDB SQL, independently cross-validating the
    * engine's CassandraMurmur3 expression under the hard gate — the
    * FULL hash: `maxBlocks` 16-byte body blocks (unsigned
    * little-endian lanes, the h1/h2 cross-mixing rounds) plus the
    * signed-char tail exactly like the reference; keys longer than
    * 16·maxBlocks+15 yield NULL so a violation fails the gate loudly
    * instead of silently. All 64-bit wrapping arithmetic runs on
    * non-negative HUGEINT bit patterns: multiply splits into 32-bit
    * halves (a 64x64 product overflows HUGEINT), rotate/shift become
    * scaled adds over disjoint bits. Generated as a chain of
    * MATERIALIZED CTE stages: DuckDB inlines plain single-use CTEs,
    * and an inlined stage whose expression references its input column
    * four times (mul64) would compound EXPONENTIALLY through the ~60
    * stages (measured: >300 s vs 0.09 s); materialization keeps
    * evaluation linear. `prefix` namespaces the chain so several key
    * relations can be tokenized in one statement; the result CTE is
    * `<prefix>tok(key, token)`. */
  private def murmurTokenSqlChain(
      prefix: String, fromSql: String, maxBlocks: Int = 3): String = {
    import U64Sql.M
    val HB = "9223372036854775808::HUGEINT"  // 2^63
    val stages = murmurX64Stages(maxBlocks, signedTail = true) ++
      Seq(Map("h1" -> U64Sql.add64("h1", "h2")))
    murmurStageCtes(prefix, fromSql, stages) +
      s",\n${prefix}tok AS MATERIALIZED (SELECT key, CASE WHEN len > ${16 * maxBlocks + 15} THEN NULL" +
      s" WHEN h1 = $HB THEN 9223372036854775807::BIGINT" +
      s" ELSE (h1 - CASE WHEN h1 >= $HB THEN $M ELSE 0::HUGEINT END)::BIGINT END AS token" +
      s" FROM ${prefix}_s${stages.length})"
  }

  /** MurmurHash3 x64_128 over a `key` column as MATERIALIZED-stage
    * column updates, up to (not including) the final h1 += h2: body
    * rounds for `maxBlocks` 16-byte blocks, then the tail and fmix.
    * `signedTail` sign-extends tail bytes — the Cassandra quirk. */
  private def murmurX64Stages(maxBlocks: Int, signedTail: Boolean): Seq[Map[String, String]] = {
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
  private def murmurStageCtes(
      prefix: String, fromSql: String, stages: Seq[Map[String, String]]): String = {
    val cols = Seq("key", "len", "bk1", "bk2", "k1", "k2", "h1", "h2")
    val sb = new StringBuilder(
      s"${prefix}_s0 AS MATERIALIZED (SELECT key, length(key)::HUGEINT AS len, " +
      "0::HUGEINT AS bk1, 0::HUGEINT AS bk2, " +
      "0::HUGEINT AS k1, 0::HUGEINT AS k2, 0::HUGEINT AS h1, 0::HUGEINT AS h2 " +
      s"FROM $fromSql)")
    stages.zipWithIndex.foreach { case (st, i0) =>
      val i = i0 + 1
      val sel = cols
        .map(c => st.get(c).map(e => s"$e AS $c").getOrElse(c)).mkString(", ")
      sb.append(s",\n${prefix}_s$i AS MATERIALIZED (SELECT $sel FROM ${prefix}_s${i0})")
    }
    sb.toString
  }

  /** The default token chain over the cell store's key set — `mtok`. */
  private val murmurTokenSqlCte: String =
    murmurTokenSqlChain("m", "(SELECT DISTINCT key FROM cells)")

  /** STANDARD MurmurHash3 x64_128 (the [[graft.functions.Sketches]]
    * kernel: zero-extended tail bytes, no Cassandra sign quirk) as a
    * DuckDB MATERIALIZED-CTE chain — the [[murmurTokenSqlChain]]
    * technique, but emitting BOTH halves as unsigned HUGEINT bit
    * patterns (`<prefix>tok(key, h1u, h2u)`): the minhash replay needs
    * h2 for Kirsch-Mitzenmacher double hashing and the simhash replay
    * reads h1's raw bits. Keys longer than 16·maxBlocks+15 bytes yield
    * NULL so a corpus change fails the gate loudly (shingles measure
    * ≤ 26 ASCII bytes at every driver scale). */
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
    val parts = scala.collection.mutable.ArrayBuffer(
      s"${prefix}_b0 AS MATERIALIZED (SELECT doc_id, band.band::BIGINT AS band, " +
      s"$r::HUGEINT AS h FROM (SELECT DISTINCT doc_id FROM $sigjRel), " +
      s"UNNEST(range(0, $nBands)) AS band(band))")
    var i = 0
    (0 until r).foreach { step =>
      i += 1
      val sv = m64("(s.v)::HUGEINT")
      parts += (s"${prefix}_b$i AS MATERIALIZED (SELECT t.doc_id, t.band, " +
        s"${m64(s"t.h + ($sv)")} AS h " +
        s"FROM ${prefix}_b${i - 1} t JOIN $sigjRel s ON s.doc_id = t.doc_id " +
        s"AND s.j = t.band * $r + $step)")
      fmixStages("h").map(_("h")).foreach { e =>
        i += 1
        parts += s"${prefix}_b$i AS MATERIALIZED (SELECT doc_id, band, $e AS h FROM ${prefix}_b${i - 1})"
      }
    }
    parts += (s"${prefix}bh AS MATERIALIZED (SELECT doc_id, band, " +
      s"${toSigned("h")} AS band_key FROM ${prefix}_b$i)")
    parts.mkString(",\n")
  }

  /** The 3-word-shingle CTEs shared by the sketch-dedup replays:
    * (doc_id, shingle) pairs `sh` and the distinct shingle universe
    * `shd(key)` the murmur chain hashes once. Same formulation as the
    * ngram/clusters oracles (DISTINCT == the kernel's
    * first-occurrence dedup). */
  private val ShingleCtesSql: String =
    """toks AS (SELECT doc_id,
      |    list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS t
      |  FROM documents),
      |sh AS (
      |  SELECT DISTINCT doc_id,
      |    CASE WHEN len(t) >= 3 THEN t[r.i] || ' ' || t[r.i+1] || ' ' || t[r.i+2]
      |         ELSE array_to_string(t, ' ') END AS shingle
      |  FROM toks, UNNEST(CASE WHEN len(t) >= 3 THEN range(1, len(t)-1) ELSE [1] END) AS r(i)
      |  WHERE len(t) >= 1),
      |shd AS (SELECT DISTINCT shingle AS key FROM sh)""".stripMargin

  /** The df-capped exact pair set + recall scalar appended to both
    * sketch replays — the engine's recall_vs_exact audit (matched
    * exact pairs / all exact pairs), stated over the apx CTE. */
  private val SketchRecallCtesSql: String =
    """capped AS (SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(*) <= 200),
      |uni AS (SELECT s.doc_id, s.shingle FROM sh s JOIN capped USING (shingle)),
      |sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM uni GROUP BY doc_id),
      |co AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
      |       FROM uni a JOIN uni b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |       GROUP BY 1, 2),
      |exact AS (SELECT doc_a, doc_b
      |  FROM co JOIN sizes sa ON sa.doc_id = doc_a JOIN sizes sb ON sb.doc_id = doc_b
      |  WHERE CAST(n_common AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - n_common AS DOUBLE) >= 0.5),
      |rec AS (SELECT
      |    CAST((SELECT COUNT(*) FROM apx JOIN exact USING (doc_a, doc_b)) AS DOUBLE)
      |    / GREATEST(CAST((SELECT COUNT(*) FROM exact) AS DOUBLE), 1.0) AS recall_vs_exact)""".stripMargin

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
      |q AS (SELECT vec_id AS query_id, v AS qv FROM emb WHERE vec_id < 10),
      |${hyperplaneBucketsSql("cb", "emb", "vec_id", "v")},
      |${hyperplaneBucketsSql("qb", "q", "query_id", "qv")},
      |cand AS (SELECT DISTINCT qb.query_id, cb.vec_id
      |  FROM cb JOIN qb ON cb.table_id = qb.table_id AND cb.bucket = qb.bucket
      |  WHERE cb.vec_id <> qb.query_id),
      |sc AS (SELECT c.query_id, c.vec_id,
      |    list_dot_product(qq.qv, ee.v)
      |      / sqrt(list_dot_product(qq.qv, qq.qv) * list_dot_product(ee.v, ee.v)) AS cos
      |  FROM cand c JOIN q qq ON qq.query_id = c.query_id
      |              JOIN emb ee ON ee.vec_id = c.vec_id),
      |""".stripMargin + annRerankTailSql

  /** ann_ivf_topk under the hard gate (VERDICT r10 #4): the ENTIRE
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
  // ---- shared fragments for the Lloyd-chain replays -------------------

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
    sphericalFitSqlPartsK(k.toString, iters, dim)

  /** [[sphericalFitSqlParts]] with the centroid count as a SQL
    * EXPRESSION and an optional CTE-name PREFIX so two independent
    * fit chains can coexist in one WITH clause; the default "" emits
    * the historical names byte-for-byte. The chain reads its sample
    * from `<p>samp`. (The ADAPTIVE-k operators — kNN graph,
    * dedup_semantic — replay via [[seededTrainerCtes]] since r16;
    * this sample-fit form remains the fixed-k trainers' init.) */
  private def sphericalFitSqlPartsK(
      k: String, iters: Int, dim: Int, p: String = ""): Seq[String] = {
    val parts = scala.collection.mutable.ArrayBuffer(
      s"${p}nn AS (SELECT COUNT(*) AS n FROM ${p}samp)",
      s"""${p}c0 AS MATERIALIZED (
        |  SELECT k.c, ${normCvSql("s.v")} AS cv
        |  FROM (SELECT UNNEST(range(0, $k))::INT AS c) k
        |  CROSS JOIN ${p}nn nn
        |  JOIN ${p}samp s ON s.rnk = (k.c * nn.n) // ($k))""".stripMargin)
    (1 to iters).foreach { i =>
      val prev = s"${p}c${i - 1}"
      parts += s"""${p}a$i AS MATERIALIZED (
        |  SELECT rnk, v, c FROM (
        |    SELECT s.rnk, s.v, c.c,
        |      ROW_NUMBER() OVER (PARTITION BY s.rnk
        |        ORDER BY list_dot_product(s.v, c.cv) DESC, c.c) AS rn
        |    FROM ${p}samp s CROSS JOIN $prev c) WHERE rn = 1)""".stripMargin
      parts += s"""${p}m$i AS MATERIALIZED (
        |  SELECT c, list(sm / 1048576.0 ORDER BY i) AS mv FROM (
        |    SELECT a.c, d.i, SUM(CAST(ROUND(a.v[d.i] * 1048576.0, 0) AS BIGINT)) AS sm
        |    FROM ${p}a$i a, UNNEST(range(1, ${dim + 1})) AS d(i) GROUP BY 1, 2) GROUP BY c)""".stripMargin
      parts += s"""${p}c$i AS MATERIALIZED (
        |  SELECT p.c, CASE WHEN m.mv IS NULL THEN p.cv
        |    ELSE ${normCvSql("m.mv")} END AS cv
        |  FROM $prev p LEFT JOIN ${p}m$i m ON m.c = p.c)""".stripMargin
    }
    parts.toSeq
  }

  /** The [[graft.similarity.Kmeans.fittedCentroidsSeeded]] trainer
    * replayed as unrolled CTE stages (requires `emb`(vec_id, v)):
    * `${p}c0` seeds at the kExpr smallest (md5(vec_id || salt),
    * vec_id) keys, unit-normalized — the hash-ordered Forgy init that
    * scales with k — then `rounds` FULL-CORPUS Lloyd rounds (raw-dot
    * assignment with ties to the lower centroid id, ROUND(x·2²⁰)
    * HUGEINT component sums, renormalization, empty clusters keeping
    * their previous centroid), leaving the fitted centroids in
    * `${p}kc<rounds>` and the corpus assignment in
    * `${p}fasn`(vec_id, v, cluster). */
  private def seededTrainerCtes(p: String, kExpr: String, salt: String,
      rounds: Int, dim: Int): Seq[String] = {
    val assignScore = nearestCentroidScoreSql("e.v")
    // Assignment as aggregates, not a window (r16): per round the
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
    val parts = scala.collection.mutable.ArrayBuffer(
      s"""${p}c0 AS MATERIALIZED (
        |  SELECT CAST(rn - 1 AS INTEGER) AS c, ${normCvSql("v")} AS cv FROM (
        |    SELECT v, ROW_NUMBER() OVER (
        |      ORDER BY md5(CAST(vec_id AS VARCHAR) || '$salt'), vec_id) AS rn
        |    FROM emb) WHERE rn <= $kExpr)""".stripMargin)
    var prev = s"${p}c0"
    (1 to rounds).foreach { r =>
      parts ++= asnCte(s"${p}ka$r", s"${p}ks$r", prev)
      parts += s"""${p}km$r AS MATERIALIZED (
        |  SELECT cluster, list(CAST(sm AS DOUBLE) / 1048576.0 ORDER BY i) AS mv FROM (
        |    SELECT a.cluster, d.i, SUM(CAST(ROUND(a.v[d.i] * 1048576.0, 0) AS HUGEINT)) AS sm
        |    FROM ${p}ka$r a, UNNEST(range(1, ${dim + 1})) AS d(i) GROUP BY 1, 2) GROUP BY cluster)""".stripMargin
      parts += s"""${p}kc$r AS MATERIALIZED (
        |  SELECT p.c, CASE WHEN m.mv IS NULL OR list_dot_product(m.mv, m.mv) = 0 THEN p.cv
        |    ELSE list_transform(m.mv, x -> x / sqrt(list_dot_product(m.mv, m.mv))) END AS cv
        |  FROM $prev p LEFT JOIN ${p}km$r m ON m.cluster = p.c)""".stripMargin
      prev = s"${p}kc$r"
    }
    parts ++= asnCte(s"${p}fasn", s"${p}fsc", prev)
    parts.toSeq
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

  private def annIvfOracleSql: String = {
    val (k, iters, nProbe, dim) = (16, 5, 4, 64)
    def assignScore(v: String) = nearestCentroidScoreSql(v)
    val parts = scala.collection.mutable.ArrayBuffer(
      "emb AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)",
      """samp AS MATERIALIZED (
        |  SELECT vec_id, v, ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS rnk
        |  FROM (SELECT vec_id, v FROM emb WHERE vec_id % 3 = 0 ORDER BY vec_id LIMIT 1024))""".stripMargin)
    parts ++= sphericalFitSqlParts(k, iters, dim)
    val fin = s"c$iters"
    parts += s"""casn AS MATERIALIZED (
      |  SELECT vec_id, c AS centroid FROM (
      |    SELECT e.vec_id, c.c, ROW_NUMBER() OVER (PARTITION BY e.vec_id
      |      ORDER BY ${assignScore("e.v")} DESC, c.c) AS rn
      |    FROM emb e CROSS JOIN $fin c) WHERE rn = 1)""".stripMargin
    parts += "q AS (SELECT vec_id AS query_id, v AS qv FROM emb WHERE vec_id < 10)"
    parts += s"""qprobe AS (
      |  SELECT query_id, c AS centroid FROM (
      |    SELECT qq.query_id, c.c, ROW_NUMBER() OVER (PARTITION BY qq.query_id
      |      ORDER BY ${assignScore("qq.qv")} DESC, c.c) AS rn
      |    FROM q qq CROSS JOIN $fin c) WHERE rn <= $nProbe)""".stripMargin
    parts += """cand AS (SELECT qp.query_id, ca.vec_id
      |  FROM casn ca JOIN qprobe qp USING (centroid)
      |  WHERE ca.vec_id <> qp.query_id)""".stripMargin
    parts += """sc AS (SELECT c.query_id, c.vec_id,
      |    list_dot_product(qq.qv, ee.v)
      |      / sqrt(list_dot_product(qq.qv, qq.qv) * list_dot_product(ee.v, ee.v)) AS cos
      |  FROM cand c JOIN q qq ON qq.query_id = c.query_id
      |              JOIN emb ee ON ee.vec_id = c.vec_id)""".stripMargin
    s"WITH ${parts.mkString(",\n")},\n$annRerankTailSql"
  }

  /** ann_incremental under the hard gate: the FROZEN-quantizer replay —
    * the [[annIvfOracleSql]] Lloyd chain fit over the CORPUS SLICE's
    * deterministic sample (md5-ppm `#ivf` buckets < 900 000; vectors
    * are row-local so slicing before fitting is the exact contract the
    * engine runs), corpus-slice assignment, per-batch-vector top-4
    * probe, exact cosine re-rank over the probed lists, and the
    * per-batch-vector rollup under the (cos DESC, corpus_id ASC) tie
    * rule with the ≥ 0.9 is_near verdict. */
  private def annIncrementalOracleSql: String = {
    val (k, iters, nProbe, dim) = (16, 5, 4, 64)
    def assignScore(v: String) = nearestCentroidScoreSql(v)
    val parts = scala.collection.mutable.ArrayBuffer(
      "emb AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)",
      """spl AS (SELECT vec_id,
        |    CAST(CAST(concat('0x', substring(
        |      md5(CAST(vec_id AS VARCHAR) || '#ivf'), 1, 12)) AS UBIGINT)
        |      % 1000000 AS BIGINT) AS b
        |  FROM embeddings)""".stripMargin,
      "corp AS MATERIALIZED (SELECT e.* FROM emb e JOIN spl USING (vec_id) WHERE spl.b < 900000)",
      "inc AS MATERIALIZED (SELECT e.* FROM emb e JOIN spl USING (vec_id) WHERE spl.b >= 900000)",
      """samp AS MATERIALIZED (
        |  SELECT vec_id, v, ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS rnk
        |  FROM (SELECT vec_id, v FROM corp WHERE vec_id % 3 = 0 ORDER BY vec_id LIMIT 1024))""".stripMargin)
    parts ++= sphericalFitSqlParts(k, iters, dim)
    val fin = s"c$iters"
    parts += s"""casn AS MATERIALIZED (
      |  SELECT vec_id, c AS centroid FROM (
      |    SELECT e.vec_id, c.c, ROW_NUMBER() OVER (PARTITION BY e.vec_id
      |      ORDER BY ${assignScore("e.v")} DESC, c.c) AS rn
      |    FROM corp e CROSS JOIN $fin c) WHERE rn = 1)""".stripMargin
    parts += s"""qprobe AS (
      |  SELECT new_id, c AS centroid FROM (
      |    SELECT qq.vec_id AS new_id, c.c, ROW_NUMBER() OVER (PARTITION BY qq.vec_id
      |      ORDER BY ${assignScore("qq.v")} DESC, c.c) AS rn
      |    FROM inc qq CROSS JOIN $fin c) WHERE rn <= $nProbe)""".stripMargin
    parts += """sc AS (SELECT qp.new_id, ca.vec_id AS corpus_id,
      |    list_dot_product(qq.v, ee.v)
      |      / sqrt(list_dot_product(qq.v, qq.v) * list_dot_product(ee.v, ee.v)) AS cos
      |  FROM casn ca JOIN qprobe qp USING (centroid)
      |  JOIN inc qq ON qq.vec_id = qp.new_id
      |  JOIN corp ee ON ee.vec_id = ca.vec_id)""".stripMargin
    parts += """best AS (SELECT new_id,
      |    CAST(COUNT(*) AS BIGINT) AS n_candidates,
      |    MAX(CASE WHEN rn = 1 THEN corpus_id END) AS best_match,
      |    MAX(CASE WHEN rn = 1 THEN cos END) AS best_cos
      |  FROM (SELECT new_id, corpus_id, cos, ROW_NUMBER() OVER (
      |      PARTITION BY new_id ORDER BY cos DESC, corpus_id) AS rn FROM sc)
      |  GROUP BY new_id)""".stripMargin
    s"""WITH ${parts.mkString(",\n")}
      |SELECT i.vec_id,
      |  COALESCE(b.n_candidates, 0) AS n_candidates,
      |  b.best_match, b.best_cos,
      |  COALESCE(b.best_cos >= 0.9, FALSE) AS is_near
      |FROM inc i LEFT JOIN best b ON b.new_id = i.vec_id
      |ORDER BY i.vec_id""".stripMargin
  }

  /** ann_recall_audit under the hard gate: the [[annIncrementalOracleSql]]
    * frozen-fit replay, the md5-ppm ≥ 990 000 audit sample, the IVF
    * probe + re-rank restricted to the sample, the exact brute-force
    * best over the same corpus slice, and the 1-row match/scan
    * rollup with integer-count ratio4 presentation. */
  private def annRecallAuditOracleSql: String = {
    val (k, iters, nProbe, dim) = (16, 5, 4, 64)
    def assignScore(v: String) = nearestCentroidScoreSql(v)
    val parts = scala.collection.mutable.ArrayBuffer(
      "emb AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)",
      """spl AS (SELECT vec_id,
        |    CAST(CAST(concat('0x', substring(
        |      md5(CAST(vec_id AS VARCHAR) || '#ivf'), 1, 12)) AS UBIGINT)
        |      % 1000000 AS BIGINT) AS b
        |  FROM embeddings)""".stripMargin,
      "corp AS MATERIALIZED (SELECT e.* FROM emb e JOIN spl USING (vec_id) WHERE spl.b < 900000)",
      "aud AS MATERIALIZED (SELECT e.* FROM emb e JOIN spl USING (vec_id) WHERE spl.b >= 990000)",
      """samp AS MATERIALIZED (
        |  SELECT vec_id, v, ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS rnk
        |  FROM (SELECT vec_id, v FROM corp WHERE vec_id % 3 = 0 ORDER BY vec_id LIMIT 1024))""".stripMargin)
    parts ++= sphericalFitSqlParts(k, iters, dim)
    val fin = s"c$iters"
    parts += s"""casn AS MATERIALIZED (
      |  SELECT vec_id, c AS centroid FROM (
      |    SELECT e.vec_id, c.c, ROW_NUMBER() OVER (PARTITION BY e.vec_id
      |      ORDER BY ${assignScore("e.v")} DESC, c.c) AS rn
      |    FROM corp e CROSS JOIN $fin c) WHERE rn = 1)""".stripMargin
    parts += s"""qprobe AS (
      |  SELECT new_id, c AS centroid FROM (
      |    SELECT qq.vec_id AS new_id, c.c, ROW_NUMBER() OVER (PARTITION BY qq.vec_id
      |      ORDER BY ${assignScore("qq.v")} DESC, c.c) AS rn
      |    FROM aud qq CROSS JOIN $fin c) WHERE rn <= $nProbe)""".stripMargin
    parts += """sc AS (SELECT qp.new_id, ca.vec_id AS corpus_id,
      |    list_dot_product(qq.v, ee.v)
      |      / sqrt(list_dot_product(qq.v, qq.v) * list_dot_product(ee.v, ee.v)) AS cos
      |  FROM casn ca JOIN qprobe qp USING (centroid)
      |  JOIN aud qq ON qq.vec_id = qp.new_id
      |  JOIN corp ee ON ee.vec_id = ca.vec_id)""".stripMargin
    parts += """best AS (SELECT new_id,
      |    CAST(COUNT(*) AS BIGINT) AS n_candidates,
      |    MAX(CASE WHEN rn = 1 THEN corpus_id END) AS best_match
      |  FROM (SELECT new_id, corpus_id, cos, ROW_NUMBER() OVER (
      |      PARTITION BY new_id ORDER BY cos DESC, corpus_id) AS rn FROM sc)
      |  GROUP BY new_id)""".stripMargin
    parts += """bb AS (SELECT new_id, corpus_id AS true_match FROM (
      |    SELECT a.vec_id AS new_id, c.vec_id AS corpus_id,
      |      ROW_NUMBER() OVER (PARTITION BY a.vec_id ORDER BY
      |        list_dot_product(a.v, c.v)
      |          / sqrt(list_dot_product(a.v, a.v) * list_dot_product(c.v, c.v))
      |        DESC, c.vec_id) AS rn
      |    FROM aud a CROSS JOIN corp c) WHERE rn = 1)""".stripMargin
    parts += """j AS (SELECT a.vec_id, b.n_candidates, b.best_match, t.true_match
      |  FROM aud a LEFT JOIN best b ON b.new_id = a.vec_id
      |  LEFT JOIN bb t ON t.new_id = a.vec_id)""".stripMargin
    s"""WITH ${parts.mkString(",\n")}
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
  }

  /** ann_index_balance under the hard gate: the frozen-fit replay's
    * corpus assignment (`casn`), counted per list over the k-row list
    * dimension (range(0, 16) — empty lists are report rows), with
    * ratio4 share and uniform-relative load factor. */
  private def annIndexBalanceOracleSql: String = {
    val (k, iters, dim) = (16, 5, 64)
    def assignScore(v: String) = nearestCentroidScoreSql(v)
    val parts = scala.collection.mutable.ArrayBuffer(
      "emb AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)",
      """spl AS (SELECT vec_id,
        |    CAST(CAST(concat('0x', substring(
        |      md5(CAST(vec_id AS VARCHAR) || '#ivf'), 1, 12)) AS UBIGINT)
        |      % 1000000 AS BIGINT) AS b
        |  FROM embeddings)""".stripMargin,
      "corp AS MATERIALIZED (SELECT e.* FROM emb e JOIN spl USING (vec_id) WHERE spl.b < 900000)",
      """samp AS MATERIALIZED (
        |  SELECT vec_id, v, ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS rnk
        |  FROM (SELECT vec_id, v FROM corp WHERE vec_id % 3 = 0 ORDER BY vec_id LIMIT 1024))""".stripMargin)
    parts ++= sphericalFitSqlParts(k, iters, dim)
    val fin = s"c$iters"
    parts += s"""casn AS MATERIALIZED (
      |  SELECT vec_id, c AS centroid FROM (
      |    SELECT e.vec_id, c.c, ROW_NUMBER() OVER (PARTITION BY e.vec_id
      |      ORDER BY ${assignScore("e.v")} DESC, c.c) AS rn
      |    FROM corp e CROSS JOIN $fin c) WHERE rn = 1)""".stripMargin
    parts += s"lists AS (SELECT CAST(r.i AS INT) AS centroid FROM UNNEST(range(0, $k)) AS r(i))"
    parts += "szs AS (SELECT centroid, COUNT(*)::BIGINT AS sz FROM casn GROUP BY 1)"
    parts += "tot AS (SELECT COUNT(*)::BIGINT AS n FROM casn)"
    s"""WITH ${parts.mkString(",\n")}
      |SELECT l.centroid, COALESCE(s.sz, 0)::BIGINT AS sz,
      |  ${ratio4Sql("COALESCE(s.sz, 0)", "NULLIF(t.n, 0)")} AS share,
      |  ${ratio4Sql(s"COALESCE(s.sz, 0) * $k", "NULLIF(t.n, 0)")} AS balance
      |FROM lists l LEFT JOIN szs s USING (centroid) CROSS JOIN tot t
      |ORDER BY l.centroid""".stripMargin
  }

  /** emb_knn_graph under the hard gate: the seeded-trainer replay
    * ([[seededTrainerCtes]] — hash-ordered Forgy seeds + 5 full-corpus
    * Lloyd rounds, the fit whose k nothing caps below the corpus
    * size), then the same-list corpus self-join, per-source top-5
    * under the bounded-heap's (cos DESC, id ASC) order, the
    * per-source candidate count as the n^1.5 telemetry column, and
    * the mutual flag as a left self-join of the edge list on the
    * reversed key. */
  /** The kNN-graph CTE chain (requires `emb`): the adaptive list
    * count — smallest power of 2 (from 16, uncapped save by the
    * corpus size itself) with k² ≥ corpus size, mirroring
    * Similarity.knnPrep's doubling rule — then the seeded-trainer
    * fit+assignment, same-list self-join, and per-source top-`kG`
    * (with the per-source candidate count) under the bounded-heap
    * (cos DESC, id ASC) order, left in `<p>top`. Prefixed so it can
    * coexist with the semantic trainer chain (dedup_knn_cc). */
  private def knnGraphCtes(p: String, rounds: Int = 5, kG: Int = 5,
      dim: Int = 64): Seq[String] = {
    val parts = scala.collection.mutable.ArrayBuffer(knnKdefSql(p))
    parts ++= seededTrainerCtes(p, s"(SELECT kk FROM ${p}kdef)", "#knn", rounds, dim)
    parts += s"""${p}cand AS (SELECT a.vec_id AS src_id, b.vec_id AS dst_id,
      |    list_dot_product(a.v, b.v)
      |      / sqrt(list_dot_product(a.v, a.v) * list_dot_product(b.v, b.v)) AS cos
      |  FROM ${p}fasn a JOIN ${p}fasn b USING (cluster)
      |  WHERE a.vec_id <> b.vec_id)""".stripMargin
    parts += s"""${p}top AS MATERIALIZED (
      |  SELECT src_id, CAST(rnk AS INT) AS rank, dst_id, cos, n_candidates FROM (
      |    SELECT src_id, dst_id, cos,
      |      ROW_NUMBER() OVER (PARTITION BY src_id ORDER BY cos DESC, dst_id) AS rnk,
      |      COUNT(*) OVER (PARTITION BY src_id) AS n_candidates
      |    FROM ${p}cand)
      |  WHERE rnk <= $kG)""".stripMargin
    parts.toSeq
  }

  private def embKnnGraphOracleSql: String = {
    val parts =
      "emb AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)" +:
        knnGraphCtes("")
    s"""WITH ${parts.mkString(",\n")}
      |SELECT t.src_id, t.rank, t.dst_id, t.cos, t.n_candidates,
      |  (r.src_id IS NOT NULL) AS mutual
      |FROM top t LEFT JOIN top r
      |  ON r.src_id = t.dst_id AND r.dst_id = t.src_id
      |ORDER BY t.src_id, t.rank""".stripMargin
  }

  /** emb_knn_triangles under the hard gate: the [[knnGraphCtes]]
    * replay, the mutual undirected edge set, then the degree-ordered
    * compact-forward census exactly as the engine runs it — edges
    * oriented along the (deg, id) total order, wedges at each
    * triangle's lowest-ordered vertex, one EXISTS for the closing
    * edge — and the integer-ratio4 local clustering coefficient. */
  private def embKnnTrianglesOracleSql: String = {
    val parts =
      "emb AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)" +:
        knnGraphCtes("")
    s"""WITH ${parts.mkString(",\n")},
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
    val (rounds, dim, tau) = (5, 64, 0.35)
    val parts = scala.collection.mutable.ArrayBuffer(
      "emb AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)",
      semKdefSql(""))
    parts ++= seededTrainerCtes("", "(SELECT kk FROM kdef)", "#sem", rounds, dim)
    parts ++= knnGraphCtes("g")
    parts += s"""mp AS (SELECT t.src_id AS a, t.dst_id AS b
      |  FROM gtop t JOIN gtop r
      |    ON r.src_id = t.dst_id AND r.dst_id = t.src_id
      |  WHERE t.cos >= $tau AND t.src_id < t.dst_id)""".stripMargin
    parts += """edges AS (SELECT a, b FROM mp UNION ALL SELECT b, a FROM mp)"""
    parts += """reach AS (
      |  SELECT a AS v, a AS r FROM edges
      |  UNION
      |  SELECT e.a AS v, w.r FROM edges e JOIN reach w ON e.b = w.v)""".stripMargin
    parts += """cl AS (SELECT v AS vec_id, MIN(r) AS cluster_id FROM reach GROUP BY v)"""
    parts += """csz AS (SELECT cluster_id, COUNT(*) AS cluster_size FROM cl GROUP BY 1)"""
    // Per-vector assignment: clustered vectors take their component's
    // min id; singletons label themselves.
    parts += """asn AS (SELECT e.vec_id,
      |    COALESCE(cl.cluster_id, e.vec_id) AS cluster_id,
      |    COALESCE(csz.cluster_size, 1)::BIGINT AS cluster_size,
      |    COALESCE(cl.cluster_id, e.vec_id) <> e.vec_id AS is_dup
      |  FROM emb e LEFT JOIN cl ON cl.vec_id = e.vec_id
      |  LEFT JOIN csz ON csz.cluster_id = cl.cluster_id)""".stripMargin
    // The semantic verdict at the SAME tau (the dedup_semantic oracle's
    // pr/best CTEs verbatim).
    parts += """spr AS (SELECT a.vec_id, b.vec_id AS cand_id,
      |    CASE WHEN list_dot_product(a.v, a.v) = 0 OR list_dot_product(b.v, b.v) = 0
      |         THEN CAST(0 AS DOUBLE)
      |         ELSE list_dot_product(a.v, b.v)
      |           / sqrt(list_dot_product(a.v, a.v) * list_dot_product(b.v, b.v)) END AS cos
      |  FROM fasn a JOIN fasn b ON b.cluster = a.cluster AND b.vec_id <> a.vec_id)""".stripMargin
    parts += """sbest AS (SELECT vec_id, cand_id, cos FROM (
      |    SELECT vec_id, cand_id, cos, ROW_NUMBER() OVER (PARTITION BY vec_id
      |      ORDER BY cos DESC, cand_id DESC) AS rn FROM spr) WHERE rn = 1)""".stripMargin
    parts += s"""sem AS (SELECT f.vec_id,
      |    COALESCE(b.cos >= $tau AND b.cand_id < f.vec_id, FALSE) AS sem_dup
      |  FROM fasn f LEFT JOIN sbest b ON b.vec_id = f.vec_id)""".stripMargin
    parts += s"""ovl AS (SELECT
      |    ${ratio4Sql(
             "SUM(CASE WHEN a.is_dup AND s.sem_dup THEN 1 ELSE 0 END)",
             "GREATEST(SUM(CASE WHEN a.is_dup OR s.sem_dup THEN 1 ELSE 0 END), 1)")}
      |      AS dup_jaccard_vs_semantic
      |  FROM asn a JOIN sem s ON s.vec_id = a.vec_id)""".stripMargin
    s"""WITH RECURSIVE ${parts.mkString(",\n")}
      |SELECT a.vec_id, a.cluster_id, a.cluster_size, a.is_dup, s.sem_dup,
      |  (SELECT dup_jaccard_vs_semantic FROM ovl) AS dup_jaccard_vs_semantic
      |FROM asn a JOIN sem s ON s.vec_id = a.vec_id
      |ORDER BY a.vec_id""".stripMargin
  }

  /** ann_pq_topk under the hard gate (VERDICT r10 #4): all 8 per-block
    * L2 codebooks replayed as one unrolled 5-round Lloyd chain keyed by
    * block id — UN-normalized evenly-spaced seeds, squared-L2
    * assignment via the elementwise-difference list folded through
    * list_dot_product (the kernel's sequential `d += t·t`), quantized
    * integer sums divided (/2²⁰ then /count, the fitL2 order). Corpus
    * codes re-derive per (vector, block); ADC is replayed on the
    * RECONSTRUCTED vector (codewords concatenated in block order —
    * bit-identical to pqAdcScore's j-outer/i-inner accumulation), the
    * top-50 shortlist uses the bounded-heap (adc DESC, vec_id) order,
    * and the exact-cosine top-10 + recall tail is shared with LSH/IVF. */
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

  /** Corpus PQ encode + reconstruct CTEs — `enc` re-derives every
    * vector's per-block code against `b<iters>`, `recon` concatenates
    * the codewords in block order (bit-identical to pqAdcScore's
    * j-outer/i-inner accumulation). Requires `emb` and `b<iters>`.
    * Shared by the ann_pq and ann_ivf_pq oracles. */
  private def pqEncodeSqlParts(iters: Int, sub: Int): Seq[String] = {
    val fin = s"b$iters"
    Seq(
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

  /** The PQ per-block L2 codebook trainer ([[graft.functions.Centroids
    * .fitL2]] per block) replayed as one unrolled Lloyd chain keyed by
    * block id — emits `ss` (sample sub-blocks), `b0` (evenly-spaced
    * UN-normalized seeds) and the pa/pm/b round CTEs; requires `samp`
    * (v, rnk) and `nn` to exist. Leaves the fitted codebooks in
    * `b<iters>`(j, c, cv). Shared by the ann_pq and ann_ivf_pq
    * oracles. */
  private def pqCodebookSqlParts(m: Int, kc: Int, iters: Int, sub: Int): Seq[String] = {
    def l2(a: String, b: String) = pqL2Sql(sub, a, b)
    val parts = scala.collection.mutable.ArrayBuffer(
      s"""ss AS MATERIALIZED (
        |  SELECT s.rnk, j.j::INT AS j, s.v[j.j*$sub+1 : j.j*$sub+$sub] AS sv
        |  FROM samp s, UNNEST(range(0, $m)) AS j(j))""".stripMargin,
      s"""b0 AS MATERIALIZED (
        |  SELECT s.j, k.c, s.sv AS cv
        |  FROM (SELECT UNNEST(range(0, $kc))::INT AS c) k
        |  CROSS JOIN nn
        |  JOIN ss s ON s.rnk = (k.c * nn.n) // $kc)""".stripMargin)
    (1 to iters).foreach { it =>
      val prev = s"b${it - 1}"
      parts += s"""pa$it AS MATERIALIZED (
        |  SELECT j, rnk, sv, c FROM (
        |    SELECT s.j, s.rnk, s.sv, c.c,
        |      ROW_NUMBER() OVER (PARTITION BY s.j, s.rnk
        |        ORDER BY ${l2("s.sv", "c.cv")} ASC, c.c) AS rn
        |    FROM ss s JOIN $prev c ON c.j = s.j) WHERE rn = 1)""".stripMargin
      parts += s"""pm$it AS MATERIALIZED (
        |  SELECT j, c, cnt, list(sm / 1048576.0 / cnt ORDER BY i) AS mv FROM (
        |    SELECT a.j, a.c, d.i, SUM(CAST(ROUND(a.sv[d.i] * 1048576.0, 0) AS BIGINT)) AS sm,
        |      COUNT(*) AS cnt
        |    FROM pa$it a, UNNEST(range(1, ${sub + 1})) AS d(i) GROUP BY 1, 2, 3) GROUP BY j, c, cnt)""".stripMargin
      parts += s"""b$it AS MATERIALIZED (
        |  SELECT p.j, p.c, CASE WHEN m.mv IS NULL THEN p.cv ELSE m.mv END AS cv
        |  FROM $prev p LEFT JOIN pm$it m ON m.j = p.j AND m.c = p.c)""".stripMargin
    }
    parts.toSeq
  }

  private def annPqOracleSql: String = {
    val (m, kc, iters, short, dim) = (8, 16, 5, 50, 64)
    val sub = dim / m
    val parts = scala.collection.mutable.ArrayBuffer(
      "emb AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)",
      """samp AS MATERIALIZED (
        |  SELECT vec_id, v, ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS rnk
        |  FROM (SELECT vec_id, v FROM emb WHERE vec_id % 3 = 0 ORDER BY vec_id LIMIT 1024))""".stripMargin,
      "nn AS (SELECT COUNT(*) AS n FROM samp)")
    parts ++= pqCodebookSqlParts(m, kc, iters, sub)
    parts ++= pqEncodeSqlParts(iters, sub)
    parts += "q AS (SELECT vec_id AS query_id, v AS qv FROM emb WHERE vec_id < 10)"
    parts += s"""adc AS MATERIALIZED (
      |  SELECT query_id, vec_id FROM (
      |    SELECT qq.query_id, r.vec_id,
      |      ROW_NUMBER() OVER (PARTITION BY qq.query_id ORDER BY
      |        ${adcCosSql("qq.qv", "r.rv")}
      |        DESC, r.vec_id) AS rn
      |    FROM q qq JOIN recon r ON r.vec_id <> qq.query_id) WHERE rn <= $short)""".stripMargin
    parts += """sc AS (SELECT a.query_id, a.vec_id,
      |    list_dot_product(qq.qv, ee.v)
      |      / sqrt(list_dot_product(qq.qv, qq.qv) * list_dot_product(ee.v, ee.v)) AS cos
      |  FROM adc a JOIN q qq ON qq.query_id = a.query_id
      |             JOIN emb ee ON ee.vec_id = a.vec_id)""".stripMargin
    s"WITH ${parts.mkString(",\n")},\n$annRerankTailSql"
  }

  /** ann_ivf_pq_topk under the hard gate: BOTH trainers replay — the
    * spherical coarse quantizer via [[sphericalFitSqlParts]] and the
    * per-block codebooks via [[pqCodebookSqlParts]] — over the SAME
    * deterministic pmod-3 sample the standalone IVF/PQ oracles pin.
    * Candidates come only from the probed inverted lists (casn ⋈
    * qprobe, the IVF oracle's verbatim), the ADC shortlist ranks
    * WITHIN those candidates, and the exact-cosine top-10 + recall
    * tail is shared with LSH/IVF/PQ. */
  private def annIvfPqOracleSql: String = {
    val (k, fitIters, nProbe) = (16, 5, 4)
    val (m, kc, iters, short, dim) = (8, 16, 5, 50, 64)
    val sub = dim / m
    val parts = scala.collection.mutable.ArrayBuffer(
      "emb AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)",
      """samp AS MATERIALIZED (
        |  SELECT vec_id, v, ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS rnk
        |  FROM (SELECT vec_id, v FROM emb WHERE vec_id % 3 = 0 ORDER BY vec_id LIMIT 1024))""".stripMargin)
    parts ++= sphericalFitSqlParts(k, fitIters, dim)
    parts ++= pqCodebookSqlParts(m, kc, iters, sub)
    parts ++= pqEncodeSqlParts(iters, sub)
    val finIvf = s"c$fitIters"
    parts += s"""casn AS MATERIALIZED (
      |  SELECT vec_id, c AS centroid FROM (
      |    SELECT e.vec_id, c.c, ROW_NUMBER() OVER (PARTITION BY e.vec_id
      |      ORDER BY ${nearestCentroidScoreSql("e.v")} DESC, c.c) AS rn
      |    FROM emb e CROSS JOIN $finIvf c) WHERE rn = 1)""".stripMargin
    parts += "q AS (SELECT vec_id AS query_id, v AS qv FROM emb WHERE vec_id < 10)"
    parts += s"""qprobe AS (
      |  SELECT query_id, c AS centroid FROM (
      |    SELECT qq.query_id, c.c, ROW_NUMBER() OVER (PARTITION BY qq.query_id
      |      ORDER BY ${nearestCentroidScoreSql("qq.qv")} DESC, c.c) AS rn
      |    FROM q qq CROSS JOIN $finIvf c) WHERE rn <= $nProbe)""".stripMargin
    parts += """cand AS (SELECT qp.query_id, ca.vec_id
      |  FROM casn ca JOIN qprobe qp USING (centroid)
      |  WHERE ca.vec_id <> qp.query_id)""".stripMargin
    parts += s"""adc AS MATERIALIZED (
      |  SELECT query_id, vec_id FROM (
      |    SELECT c.query_id, c.vec_id,
      |      ROW_NUMBER() OVER (PARTITION BY c.query_id ORDER BY
      |        ${adcCosSql("qq.qv", "r.rv")}
      |        DESC, c.vec_id) AS rn
      |    FROM cand c JOIN q qq ON qq.query_id = c.query_id
      |                JOIN recon r ON r.vec_id = c.vec_id) WHERE rn <= $short)""".stripMargin
    parts += """sc AS (SELECT a.query_id, a.vec_id,
      |    list_dot_product(qq.qv, ee.v)
      |      / sqrt(list_dot_product(qq.qv, qq.qv) * list_dot_product(ee.v, ee.v)) AS cos
      |  FROM adc a JOIN q qq ON qq.query_id = a.query_id
      |             JOIN emb ee ON ee.vec_id = a.vec_id)""".stripMargin
    s"WITH ${parts.mkString(",\n")},\n$annRerankTailSql"
  }

  /** ann_tuning_curve under the hard gate: the spherical fit replays
    * via [[sphericalFitSqlParts]], the 8-deep probe ranking keeps its
    * rank `r`, per-level availability is the pure filter r ≤ p, the
    * per-(query, level) top-10 uses the (cos DESC, vec_id) order every
    * ANN oracle pins, truth is the brute-force tail's `exact` CTE, and
    * every output is an integer count or a ratio4 of integer counts. */
  private def annTuningCurveOracleSql: String = {
    val (k, fitIters, maxProbe, dim) = (16, 5, 8, 64)
    val parts = scala.collection.mutable.ArrayBuffer(
      "emb AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)",
      """samp AS MATERIALIZED (
        |  SELECT vec_id, v, ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS rnk
        |  FROM (SELECT vec_id, v FROM emb WHERE vec_id % 3 = 0 ORDER BY vec_id LIMIT 1024))""".stripMargin)
    parts ++= sphericalFitSqlParts(k, fitIters, dim)
    val fin = s"c$fitIters"
    parts += s"""casn AS MATERIALIZED (
      |  SELECT vec_id, c AS centroid FROM (
      |    SELECT e.vec_id, c.c, ROW_NUMBER() OVER (PARTITION BY e.vec_id
      |      ORDER BY ${nearestCentroidScoreSql("e.v")} DESC, c.c) AS rn
      |    FROM emb e CROSS JOIN $fin c) WHERE rn = 1)""".stripMargin
    parts += "q AS (SELECT vec_id AS query_id, v AS qv FROM emb WHERE vec_id < 10)"
    parts += s"""qprobe AS (
      |  SELECT query_id, c AS centroid, CAST(rn AS INT) AS r FROM (
      |    SELECT qq.query_id, c.c, ROW_NUMBER() OVER (PARTITION BY qq.query_id
      |      ORDER BY ${nearestCentroidScoreSql("qq.qv")} DESC, c.c) AS rn
      |    FROM q qq CROSS JOIN $fin c) WHERE rn <= $maxProbe)""".stripMargin
    parts += """cand AS MATERIALIZED (SELECT qp.query_id, ca.vec_id, qp.r,
      |    list_dot_product(qq.qv, ee.v)
      |      / sqrt(list_dot_product(qq.qv, qq.qv) * list_dot_product(ee.v, ee.v)) AS cos
      |  FROM casn ca JOIN qprobe qp USING (centroid)
      |  JOIN q qq ON qq.query_id = qp.query_id
      |  JOIN emb ee ON ee.vec_id = ca.vec_id
      |  WHERE ca.vec_id <> qp.query_id)""".stripMargin
    parts += """lv AS (SELECT c.query_id, c.vec_id, c.cos, p.p
      |  FROM cand c, (VALUES (1), (2), (4), (8)) AS p(p) WHERE c.r <= p.p)""".stripMargin
    parts += """rk AS (SELECT query_id, p, vec_id FROM (
      |  SELECT query_id, p, vec_id, ROW_NUMBER() OVER (
      |    PARTITION BY query_id, p ORDER BY cos DESC, vec_id) AS rn FROM lv)
      |  WHERE rn <= 10)""".stripMargin
    parts += """esc AS (SELECT qq.query_id, ee.vec_id,
      |    list_dot_product(qq.qv, ee.v)
      |      / sqrt(list_dot_product(qq.qv, qq.qv) * list_dot_product(ee.v, ee.v)) AS cos
      |  FROM q qq JOIN emb ee ON ee.vec_id <> qq.query_id)""".stripMargin
    parts += """exact AS (SELECT query_id, vec_id FROM (SELECT query_id, vec_id,
      |    ROW_NUMBER() OVER (PARTITION BY query_id
      |      ORDER BY cos DESC, vec_id) AS rnk FROM esc) WHERE rnk <= 10)""".stripMargin
    parts += """ncand AS (SELECT p, COUNT(*)::BIGINT AS n_candidates FROM lv GROUP BY 1)"""
    parts += """hits AS (SELECT p, COUNT(*)::BIGINT AS n_hits
      |  FROM rk JOIN exact USING (query_id, vec_id) GROUP BY 1)""".stripMargin
    parts += "tot AS (SELECT COUNT(*)::BIGINT AS n_corpus FROM emb)"
    s"""WITH ${parts.mkString(",\n")}
      |SELECT nc.p AS n_probe, nc.n_candidates,
      |  ${ratio4Sql("nc.n_candidates", "t.n_corpus * 10")} AS cand_frac,
      |  COALESCE(h.n_hits, 0) AS n_hits,
      |  ${ratio4Sql("COALESCE(h.n_hits, 0)", "100")} AS recall_at_10
      |FROM ncand nc LEFT JOIN hits h USING (p) CROSS JOIN tot t
      |ORDER BY n_probe""".stripMargin
  }

  /** emb_kmeans under the hard gate (VERDICT r10 #7 stretch): the full
    * two-stage trainer replayed — the 10-round sample fit
    * ([[sphericalFitSqlParts]] over the vec_id < 1024 head sample),
    * then the 5 CORPUS Lloyd rounds: assignment via NearestCentroids'
    * (dot/‖v‖ DESC, c ASC) order, per-(cluster, dim) component sums as
    * ROUND(x·2²⁰) HUGEINTs (the engine's DECIMAL(38,0) convention —
    * order-free by construction), centroids renormalized from the
    * double view of those sums. The audit columns replay the
    * Exact.d4 / dsum(…,6) decimal arithmetic the events oracles pin.
    * Kmeans.kmeansOn keeps empty clusters' previous centroids; the
    * missing-moments LEFT JOIN reproduces that. */
  /** The [[graft.similarity.Kmeans.fittedCentroids]] trainer replayed
    * end to end: the sample fit ([[sphericalFitSqlParts]] over the
    * vec_id < sampleCap head sample) plus `rounds` CORPUS Lloyd rounds
    * — assignment via NearestCentroids' (dot/‖v‖ DESC, c ASC) order,
    * per-(cluster, dim) component sums as ROUND(x·2²⁰) HUGEINTs (the
    * engine's DECIMAL(38,0) convention — order-free by construction),
    * centroids renormalized from the double view of those sums, empty
    * clusters keeping their previous centroid via the LEFT JOIN.
    * Leaves the final centroids in `kc<rounds>` and the corpus
    * assignment in `fasn`(vec_id, v, cluster). Shared by the
    * emb_kmeans and dedup_semantic oracles. */
  private def corpusKmeansCtes(
      k: Int, fitIters: Int, rounds: Int, dim: Int, sampleCap: Int): Seq[String] = {
    val assignScore =
      "CASE WHEN sqrt(list_dot_product(e.v, e.v)) = 0 THEN CAST(0 AS DOUBLE) " +
      "ELSE list_dot_product(e.v, c.cv) / sqrt(list_dot_product(e.v, e.v)) END"
    val parts = scala.collection.mutable.ArrayBuffer(
      "emb AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)",
      s"""samp AS MATERIALIZED (
        |  SELECT vec_id, v, ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS rnk
        |  FROM emb WHERE vec_id < $sampleCap)""".stripMargin)
    parts ++= sphericalFitSqlParts(k, fitIters, dim)
    var prev = s"c$fitIters"
    (1 to rounds).foreach { r =>
      parts += s"""ka$r AS MATERIALIZED (
        |  SELECT vec_id, v, c AS cluster FROM (
        |    SELECT e.vec_id, e.v, c.c, ROW_NUMBER() OVER (PARTITION BY e.vec_id
        |      ORDER BY $assignScore DESC, c.c) AS rn
        |    FROM emb e CROSS JOIN $prev c) WHERE rn = 1)""".stripMargin
      parts += s"""km$r AS MATERIALIZED (
        |  SELECT cluster, list(CAST(sm AS DOUBLE) / 1048576.0 ORDER BY i) AS mv FROM (
        |    SELECT a.cluster, d.i, SUM(CAST(ROUND(a.v[d.i] * 1048576.0, 0) AS HUGEINT)) AS sm
        |    FROM ka$r a, UNNEST(range(1, ${dim + 1})) AS d(i) GROUP BY 1, 2) GROUP BY cluster)""".stripMargin
      parts += s"""kc$r AS MATERIALIZED (
        |  SELECT p.c, CASE WHEN m.mv IS NULL OR list_dot_product(m.mv, m.mv) = 0 THEN p.cv
        |    ELSE list_transform(m.mv, x -> x / sqrt(list_dot_product(m.mv, m.mv))) END AS cv
        |  FROM $prev p LEFT JOIN km$r m ON m.cluster = p.c)""".stripMargin
      prev = s"kc$r"
    }
    parts += s"""fasn AS MATERIALIZED (
      |  SELECT vec_id, v, c AS cluster FROM (
      |    SELECT e.vec_id, e.v, c.c, ROW_NUMBER() OVER (PARTITION BY e.vec_id
      |      ORDER BY $assignScore DESC, c.c) AS rn
      |    FROM emb e CROSS JOIN $prev c) WHERE rn = 1)""".stripMargin
    parts.toSeq
  }

  private def embKmeansOracleSql: String = {
    val (k, fitIters, rounds, dim, sampleCap) = (8, 10, 5, 64, 1024)
    val fin = s"kc$rounds"
    val parts = scala.collection.mutable.ArrayBuffer(
      corpusKmeansCtes(k, fitIters, rounds, dim, sampleCap): _*)
    parts += s"""mcos AS (
      |  SELECT f.cluster,
      |    CAST(CAST(ROUND(list_dot_product(f.v, c.cv)
      |      / sqrt(list_dot_product(f.v, f.v) * list_dot_product(c.cv, c.cv)), 6)
      |      AS DECIMAL(12,6)) AS DOUBLE) AS cos
      |  FROM fasn f JOIN $fin c ON c.c = f.cluster)""".stripMargin
    parts += "tot AS (SELECT COUNT(*) AS t FROM emb)"
    s"""WITH ${parts.mkString(",\n")}
      |SELECT cluster, COUNT(*) AS n_points,
      |  ${ratio4Sql("COUNT(*)", "(SELECT t FROM tot)")} AS share,
      |  ${ratio4Sql("CAST(SUM(CAST(cos AS DECIMAL(30,6))) * 1000000 AS BIGINT)", "COUNT(*) * 1000000")} AS mean_cos,
      |  ${ratio4Sql("CAST(ROUND(MIN(cos) * 1000000.0, 0) AS BIGINT)", "1000000")} AS min_cos
      |FROM mcos
      |GROUP BY cluster
      |ORDER BY cluster""".stripMargin
  }

  /** emb_label_purity under the hard gate: the same [[corpusKmeansCtes]]
    * trainer replay as emb_kmeans (k=8, the shared fit), then the
    * (cluster, label) cell counts off the final corpus assignment, the
    * majority label per cluster via ROW_NUMBER ordered (n DESC, label)
    * — the engine's deterministic tie rule — and the tie-free ratio4
    * purity presentation. */
  private def embLabelPurityOracleSql: String = {
    val (k, fitIters, rounds, dim, sampleCap) = (8, 10, 5, 64, 1024)
    val parts = scala.collection.mutable.ArrayBuffer(
      corpusKmeansCtes(k, fitIters, rounds, dim, sampleCap): _*)
    parts += """cell AS (
      |  SELECT f.cluster, e.label, COUNT(*) AS n
      |  FROM fasn f JOIN embeddings e ON e.vec_id = f.vec_id
      |  GROUP BY 1, 2)""".stripMargin
    parts += """rk AS (
      |  SELECT cluster, label, n,
      |    ROW_NUMBER() OVER (PARTITION BY cluster ORDER BY n DESC, label) AS rn
      |  FROM cell)""".stripMargin
    s"""WITH ${parts.mkString(",\n")}
      |SELECT cluster, SUM(n)::BIGINT AS n_points, COUNT(*) AS n_labels,
      |  MAX(CASE WHEN rn = 1 THEN label END) AS top_label,
      |  MAX(CASE WHEN rn = 1 THEN n END) AS n_top,
      |  ${graft.functions.Exact.ratio4Sql(
             "MAX(CASE WHEN rn = 1 THEN n END)", "SUM(n)")} AS purity
      |FROM rk
      |GROUP BY cluster
      |ORDER BY cluster""".stripMargin
  }

  /** dedup_semantic under the hard gate: the [[seededTrainerCtes]]
    * replay at the kdef-adaptive k (k ≥ n/128, the engine's
    * Dedup.adaptiveSemanticK doubling rule), then within-cluster pairs
    * only (the equality self-join on the cluster id), the exact-cosine
    * per-vector argmax with the `max(struct(cos, cand_id))` tie rule
    * (cos DESC, cand_id DESC), cluster sizes, and the SemDeDup
    * keep-lowest-id `is_dup` decision (false for singletons). */
  private def dedupSemanticOracleSql: String = {
    val (rounds, dim, tau) = (5, 64, 0.9)
    val parts = scala.collection.mutable.ArrayBuffer(
      "emb AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)",
      semKdefSql(""))
    parts ++= seededTrainerCtes("", "(SELECT kk FROM kdef)", "#sem", rounds, dim)
    parts += """sizes AS (SELECT cluster, COUNT(*) AS n_cluster FROM fasn GROUP BY 1)"""
    // Zero-norm guard: Sketches.cosineF returns 0.0 when either norm
    // is zero; an unguarded divide would yield NaN here and silently
    // diverge from the engine on any all-zero embedding.
    parts += """pr AS (SELECT a.vec_id, b.vec_id AS cand_id,
      |    CASE WHEN list_dot_product(a.v, a.v) = 0 OR list_dot_product(b.v, b.v) = 0
      |         THEN CAST(0 AS DOUBLE)
      |         ELSE list_dot_product(a.v, b.v)
      |           / sqrt(list_dot_product(a.v, a.v) * list_dot_product(b.v, b.v)) END AS cos
      |  FROM fasn a JOIN fasn b ON b.cluster = a.cluster AND b.vec_id <> a.vec_id)""".stripMargin
    parts += """best AS (SELECT vec_id, cand_id, cos FROM (
      |    SELECT vec_id, cand_id, cos, ROW_NUMBER() OVER (PARTITION BY vec_id
      |      ORDER BY cos DESC, cand_id DESC) AS rn FROM pr) WHERE rn = 1)""".stripMargin
    s"""WITH ${parts.mkString(",\n")}
      |SELECT f.vec_id, f.cluster, s.n_cluster,
      |  b.cand_id AS best_match, b.cos AS best_cos,
      |  COALESCE(b.cos >= $tau AND b.cand_id < f.vec_id, FALSE) AS is_dup
      |FROM fasn f JOIN sizes s USING (cluster)
      |LEFT JOIN best b ON b.vec_id = f.vec_id
      |ORDER BY f.vec_id""".stripMargin
  }

  /** The shared ANN oracle tail over a scored candidate CTE `sc`
    * (query_id, vec_id, cos) plus `q`/`emb`: exact-cosine top-10 with
    * the bounded-heap (cos DESC, vec_id ASC) tie rule, brute-force
    * truth, and per-query recall@10 — the LSH oracle's ending, now
    * shared verbatim by the IVF and PQ replays. */
  private val annRerankTailSql: String =
    """apx AS MATERIALIZED (SELECT query_id, vec_id, cos, CAST(rnk AS INT) AS rank
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

  /** dedup_simhash under the hard gate: per-shingle standard murmur
    * h1 bits → per-doc 64-bit majority signature → 8×8-bit band
    * equality buckets (≤ 200 members, ≥ 2) → Hamming ≤ 7 verify →
    * the recall audit — every step the engine's banded plan computes,
    * restated naively over the hashed shingle universe. */
  private def simhashOracleSql: String =
    s"""WITH ${ShingleCtesSql},
      |${murmur128SqlChain("mh", "shd")},
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

  /** dedup_minhash_lsh under the hard gate: per-shingle (h1, h2) →
    * 128 Kirsch-Mitzenmacher minima (signed-compare, the kernel's
    * Long order) → 32 bands × 4 rows folded through the bandHashes
    * fmix chain → bucket join (≤ 200, ≥ 2) → exact full-set Jaccard
    * ≥ 0.5 verify → the recall audit. */
  /** dedup_incremental under the hard gate: the [[minhashOracleSql]]
    * murmur + signature + band-fold replay over ALL docs (signatures
    * are doc-local, so computing them corpus-wide then splitting is
    * bit-identical to the engine's per-side computation), the md5-ppm
    * `#inc` split, the corpus-side index with its read-time ≤ 200
    * bucket cap (read-time since r15, when the index became
    * appendable — same row semantics), the inc-vs-corpus bucket
    * join, LEFT-join exact
    * Jaccard over shared shingles (a candidate pair that shares a
    * band hash but no shingle verifies at 0), and the per-increment-
    * doc rollup under the (jaccard DESC, corpus_id ASC) tie rule. */
  private def dedupIncrementalOracleSql: String =
    s"""WITH ${ShingleCtesSql},
      |${murmur128SqlChain("mh", "shd")},
      |sigj AS MATERIALIZED (
      |  SELECT s.doc_id, j.j,
      |    MIN((((t.h1u + j.j * t.h2u) % 18446744073709551616::HUGEINT)
      |      - CASE WHEN ((t.h1u + j.j * t.h2u) % 18446744073709551616::HUGEINT)
      |             >= 9223372036854775808::HUGEINT
      |        THEN 18446744073709551616::HUGEINT ELSE 0::HUGEINT END)::BIGINT) AS v
      |  FROM sh s JOIN mhtok t ON t.key = s.shingle, UNNEST(range(0, 128)) AS j(j)
      |  GROUP BY 1, 2),
      |${bandFoldSqlChain("mb", "sigj", nBands = 32, r = 4)},
      |spl AS (SELECT doc_id,
      |    CAST(CAST(concat('0x', substring(
      |      md5(CAST(doc_id AS VARCHAR) || '#inc'), 1, 12)) AS UBIGINT)
      |      % 1000000 AS BIGINT) AS b
      |  FROM documents),
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
    s"""WITH ${ShingleCtesSql},
      |${murmur128SqlChain("mh", "shd")},
      |sigj AS MATERIALIZED (
      |  SELECT s.doc_id, j.j,
      |    MIN((((t.h1u + j.j * t.h2u) % 18446744073709551616::HUGEINT)
      |      - CASE WHEN ((t.h1u + j.j * t.h2u) % 18446744073709551616::HUGEINT)
      |             >= 9223372036854775808::HUGEINT
      |        THEN 18446744073709551616::HUGEINT ELSE 0::HUGEINT END)::BIGINT) AS v
      |  FROM sh s JOIN mhtok t ON t.key = s.shingle, UNNEST(range(0, 128)) AS j(j)
      |  GROUP BY 1, 2),
      |${bandFoldSqlChain("mb", "sigj", nBands = 32, r = 4)},
      |spl AS (SELECT doc_id,
      |    CAST(CAST(concat('0x', substring(
      |      md5(CAST(doc_id AS VARCHAR) || '#inc'), 1, 12)) AS UBIGINT)
      |      % 1000000 AS BIGINT) AS b
      |  FROM documents),
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

  /** ann_index_drift under the hard gate: the [[annIncrementalOracleSql]]
    * frozen-fit replay (corpus-slice sample, unrolled Lloyd chain),
    * rn=1 assignment of BOTH sides under the day-0 centroids, the
    * 6-dec-quantized assignment cosine (the emb_kmeans mcos
    * convention), tie-free ratio4 means, and the drift/refit tail. */
  private def annIndexDriftOracleSql: String = {
    val (k, iters, dim) = (16, 5, 64)
    def assignScore(v: String) = nearestCentroidScoreSql(v)
    val parts = scala.collection.mutable.ArrayBuffer(
      "emb AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)",
      """spl AS (SELECT vec_id,
        |    CAST(CAST(concat('0x', substring(
        |      md5(CAST(vec_id AS VARCHAR) || '#ivf'), 1, 12)) AS UBIGINT)
        |      % 1000000 AS BIGINT) AS b
        |  FROM embeddings)""".stripMargin,
      "corp AS MATERIALIZED (SELECT e.* FROM emb e JOIN spl USING (vec_id) WHERE spl.b < 900000)",
      "inc AS MATERIALIZED (SELECT e.* FROM emb e JOIN spl USING (vec_id) WHERE spl.b >= 900000)",
      """samp AS MATERIALIZED (
        |  SELECT vec_id, v, ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS rnk
        |  FROM (SELECT vec_id, v FROM corp WHERE vec_id % 3 = 0 ORDER BY vec_id LIMIT 1024))""".stripMargin)
    parts ++= sphericalFitSqlParts(k, iters, dim)
    val fin = s"c$iters"
    def asnCte(name: String, src: String) =
      s"""$name AS MATERIALIZED (
        |  SELECT vec_id, v, cv FROM (
        |    SELECT e.vec_id, e.v, c.cv, ROW_NUMBER() OVER (PARTITION BY e.vec_id
        |      ORDER BY ${assignScore("e.v")} DESC, c.c) AS rn
        |    FROM $src e CROSS JOIN $fin c) WHERE rn = 1)""".stripMargin
    val qcos = """CAST(CAST(ROUND(list_dot_product(v, cv)
      |      / sqrt(list_dot_product(v, v) * list_dot_product(cv, cv)), 6)
      |      AS DECIMAL(12,6)) AS DOUBLE)""".stripMargin
    val meanSql = graft.functions.Exact.ratio4Sql(
      "CAST(SUM(CAST(cos AS DECIMAL(30,6))) * 1000000 AS BIGINT)",
      "COUNT(*) * 1000000")
    parts += asnCte("casn", "corp")
    parts += asnCte("basn", "inc")
    parts += s"ccos AS (SELECT $qcos AS cos FROM casn)"
    parts += s"bcos AS (SELECT $qcos AS cos FROM basn)"
    parts += s"""cstat AS (SELECT COUNT(*)::BIGINT AS n_corpus,
      |  $meanSql AS mean_cos_corpus FROM ccos)""".stripMargin
    parts += s"""bstat AS (SELECT COUNT(*)::BIGINT AS n_batch,
      |  $meanSql AS mean_cos_batch FROM bcos)""".stripMargin
    s"""WITH ${parts.mkString(",\n")}
      |SELECT c.n_corpus, b.n_batch, c.mean_cos_corpus, b.mean_cos_batch,
      |  (c.mean_cos_corpus - b.mean_cos_batch) AS cos_drift,
      |  (c.mean_cos_corpus - b.mean_cos_batch) >= 0.05 AS refit_due
      |FROM cstat c CROSS JOIN bstat b""".stripMargin
  }

  private def minhashOracleSql: String =
    s"""WITH ${ShingleCtesSql},
      |${murmur128SqlChain("mh", "shd")},
      |sigj AS MATERIALIZED (
      |  SELECT s.doc_id, j.j,
      |    MIN((((t.h1u + j.j * t.h2u) % 18446744073709551616::HUGEINT)
      |      - CASE WHEN ((t.h1u + j.j * t.h2u) % 18446744073709551616::HUGEINT)
      |             >= 9223372036854775808::HUGEINT
      |        THEN 18446744073709551616::HUGEINT ELSE 0::HUGEINT END)::BIGINT) AS v
      |  FROM sh s JOIN mhtok t ON t.key = s.shingle, UNNEST(range(0, 128)) AS j(j)
      |  GROUP BY 1, 2),
      |${bandFoldSqlChain("mb", "sigj", nBands = 32, r = 4)},
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
    s"""WITH ${ShingleCtesSql},
      |${murmur128SqlChain("mh", "shd")},
      |sigj AS MATERIALIZED (
      |  SELECT s.doc_id, j.j,
      |    MIN((((t.h1u + j.j * t.h2u) % 18446744073709551616::HUGEINT)
      |      - CASE WHEN ((t.h1u + j.j * t.h2u) % 18446744073709551616::HUGEINT)
      |             >= 9223372036854775808::HUGEINT
      |        THEN 18446744073709551616::HUGEINT ELSE 0::HUGEINT END)::BIGINT) AS v
      |  FROM sh s JOIN mhtok t ON t.key = s.shingle, UNNEST(range(0, 128)) AS j(j)
      |  GROUP BY 1, 2),
      |capped AS (SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(*) <= 200),
      |uni AS (SELECT s.doc_id, s.shingle FROM sh s JOIN capped USING (shingle)),
      |sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM uni GROUP BY doc_id),
      |co AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
      |       FROM uni a JOIN uni b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |       GROUP BY 1, 2),
      |exact AS (SELECT doc_a, doc_b
      |  FROM co JOIN sizes sa ON sa.doc_id = doc_a JOIN sizes sb ON sb.doc_id = doc_b
      |  WHERE CAST(n_common AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - n_common AS DOUBLE) >= 0.5),
      |tc AS (SELECT COUNT(*)::BIGINT AS n_true_pairs FROM exact),
      |${perBand.mkString(",\n")}
      |${selects.mkString("\nUNION ALL\n")}
      |ORDER BY n_bands""".stripMargin
  }

  /** The near-dup cluster verdict chain (shingles -> df cap -> exact
    * Jaccard pairs -> CC) shared by the clusters, survivors and
    * dedup_quality_audit oracles; leaves `cl`(doc_id, cluster_id)
    * as the last CTE. */
  private val ClustersCtePrefix: String =
    """WITH RECURSIVE toks AS (SELECT doc_id,
      |    list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS t
      |  FROM documents),
      |sh AS (
      |  SELECT DISTINCT doc_id,
      |    CASE WHEN len(t) >= 3 THEN t[r.i] || ' ' || t[r.i+1] || ' ' || t[r.i+2]
      |         ELSE array_to_string(t, ' ') END AS shingle
      |  FROM toks, UNNEST(CASE WHEN len(t) >= 3 THEN range(1, len(t)-1) ELSE [1] END) AS r(i)
      |  WHERE len(t) >= 1),
      |capped AS (SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(*) <= 200),
      |uni AS (SELECT s.doc_id, s.shingle FROM sh s JOIN capped USING (shingle)),
      |sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM uni GROUP BY doc_id),
      |co AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
      |       FROM uni a JOIN uni b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |       GROUP BY 1, 2),
      |pairs AS (SELECT doc_a, doc_b
      |  FROM co JOIN sizes sa ON sa.doc_id = doc_a JOIN sizes sb ON sb.doc_id = doc_b
      |  WHERE CAST(n_common AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - n_common AS DOUBLE) >= 0.5),
      |edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
      |          UNION ALL SELECT doc_b, doc_a FROM pairs),
      |reach AS (
      |  SELECT a AS v, a AS r FROM edges
      |  UNION
      |  SELECT e.a AS v, w.r FROM edges e JOIN reach w ON e.b = w.v),
      |cl AS (SELECT v AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY v)""".stripMargin

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

  /** dedup_quality_audit: the [[ClustersCtePrefix]] verdict chain
    * joined to text_quality's proven score fragments — per dedup
    * verdict, exact integer token/q4 sums and tie-free ratio4
    * presentations (mean_q4 = mean score in 1e-4 units; low_frac
    * gates on the ROUNDED score at 0.5, the curve's middle
    * threshold). */
  private val DedupQualityAuditOracleSql: String = ClustersCtePrefix +
    raw""",
      |qt AS (SELECT doc_id,
      |  string_split_regex(lower(text), '\s+') AS toks,
      |  CAST(length(text) AS DOUBLE) AS n_chars,
      |  CAST(length(regexp_replace(lower(text), '[a-z0-9\s]', '', 'g')) AS DOUBLE) AS punct
      |  FROM documents),
      |qs AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_toks,
      |  CAST(ROUND(CAST(CAST(ROUND(
      |    LEAST(n_chars / 500.0, 1.0) * 0.4
      |    + LEAST(CAST(len(list_filter(toks, x -> list_contains(
      |        ['the','a','an','and','or','of','to','in','is','it','on','for'], x))) AS DOUBLE)
      |        / GREATEST(CAST(len(toks) AS DOUBLE) * 0.05, 1.0), 1.0) * 0.4
      |    + GREATEST(1.0 - punct / GREATEST(n_chars * 0.1, 1.0), 0.0) * 0.2, 4)
      |    AS DECIMAL(10,4)) AS DOUBLE) * 10000.0, 0) AS BIGINT) AS q4
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

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted keys get a rows-only check.
    * text_decontaminate_bloom computes the identical relation to
    * text_decontaminate through a bloom prefilter, so it shares that
    * oracle verbatim (appended after the literal below). */
  def oracleSql: Map[String, String] = oracleSqlBase +
    ("text_decontaminate_bloom" -> oracleSqlBase("text_decontaminate")) +
    ("text_bpe_train" -> bpeTrainOracleSql(25)) +
    ("text_bpe_encode" -> bpeEncodeOracleSql(25)) +
    ("text_bpe_fertility" -> bpeFertilityOracleSql(25)) +
    // r10 promotions: both sketch-dedup pair lists are deterministic
    // given their murmur128 hashes, so they graduate from rows-only
    // recall floors to the full hash gate via the standard-murmur
    // HUGEINT chain (the Cassandra-token / xxhash64 technique).
    ("dedup_simhash" -> simhashOracleSql) +
    ("dedup_minhash_lsh" -> minhashOracleSql) +
    ("dedup_lsh_curve" -> lshCurveOracleSql) +
    // r10 promotions, part 2: the embedding-LSH pair is deterministic
    // given its seed-derived Gaussian planes, so both graduate via
    // plane-literal inlining + the proven list_dot_product cosine fold.
    ("dedup_embedding" -> embeddingDedupOracleSql) +
    ("ann_lsh_topk" -> annLshOracleSql) +
    // r11 promotions: the Centroids fits are deterministic by
    // construction since r10 (evenly-spaced seed ranks, 2^-20-quantized
    // integer round sums), so the IVF and PQ trainers replay as
    // unrolled 5-round Lloyd chains — the bpe_train precedent applied
    // to k-means — and both queries graduate to the full hash gate.
    ("ann_ivf_topk" -> annIvfOracleSql) +
    ("ann_pq_topk" -> annPqOracleSql) +
    ("ann_ivf_pq_topk" -> annIvfPqOracleSql) +
    ("ann_tuning_curve" -> annTuningCurveOracleSql) +
    ("emb_kmeans" -> embKmeansOracleSql) +
    ("emb_label_purity" -> embLabelPurityOracleSql) +
    ("emb_knn_graph" -> embKnnGraphOracleSql) +
    ("emb_knn_triangles" -> embKnnTrianglesOracleSql) +
    ("dedup_quality_audit" -> DedupQualityAuditOracleSql) +
    ("dedup_semantic" -> dedupSemanticOracleSql) +
    ("dedup_knn_cc" -> dedupKnnCcOracleSql) +
    ("dedup_incremental" -> dedupIncrementalOracleSql) +
    ("ann_incremental" -> annIncrementalOracleSql) +
    ("ann_recall_audit" -> annRecallAuditOracleSql) +
    ("ann_index_balance" -> annIndexBalanceOracleSql) +
    ("dedup_index_audit" -> dedupIndexAuditOracleSql) +
    ("ann_index_drift" -> annIndexDriftOracleSql)

  private def oracleSqlBase: Map[String, String] = Map(
    "q1_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        | CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(30,2))), 2) AS DOUBLE) AS sum_qty,
        | CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(30,2))), 2) AS DOUBLE) AS sum_base_price,
        | CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,4))), 2) AS DOUBLE) AS sum_disc_price,
        | CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(30,6))), 2) AS DOUBLE) AS sum_charge,
        | COUNT(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q3_shipping_priority" ->
      """SELECT l_orderkey,
        | CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,4))), 2) AS DOUBLE) AS revenue,
        | o_orderdate
        |FROM customer, orders, lineitem
        |WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey AND l_orderkey = o_orderkey
        |  AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
        |  AND l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
        |GROUP BY l_orderkey, o_orderdate
        |ORDER BY revenue DESC, o_orderdate, l_orderkey
        |LIMIT 10""".stripMargin,

    "ship_latency" ->
      """SELECT o_orderpriority,
        | CAST(SUM(CASE WHEN datediff('day', o_orderdate, l_shipdate) <= 30 THEN 1 ELSE 0 END) AS BIGINT) AS n_fast,
        | CAST(SUM(CASE WHEN datediff('day', o_orderdate, l_shipdate) > 30
        |          AND datediff('day', o_orderdate, l_shipdate) <= 90 THEN 1 ELSE 0 END) AS BIGINT) AS n_mid,
        | CAST(SUM(CASE WHEN datediff('day', o_orderdate, l_shipdate) > 90 THEN 1 ELSE 0 END) AS BIGINT) AS n_slow,
        | MIN(datediff('day', o_orderdate, l_shipdate))::INT AS min_days,
        | MAX(datediff('day', o_orderdate, l_shipdate))::INT AS max_days
        |FROM lineitem, orders
        |WHERE l_orderkey = o_orderkey
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,

    "quantile_agg" ->
      """SELECT l_returnflag,
        | ROUND(quantile_cont(l_extendedprice, 0.5), 2) AS p50,
        | ROUND(quantile_cont(l_extendedprice, 0.95), 2) AS p95,
        | ROUND(quantile_cont(l_extendedprice, 0.99), 2) AS p99,
        | COUNT(*) AS n_rows
        |FROM lineitem
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,

    "q4_order_priority" ->
      """SELECT o_orderpriority, COUNT(*) AS order_count
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-07-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1996-10-01 00:00:00'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,

    "q5_local_supplier" ->
      """SELECT n_name,
        | CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,4))), 2) AS DOUBLE) AS revenue
        |FROM customer, orders, lineitem, supplier, nation, region
        |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey AND l_suppkey = s_suppkey
        |  AND c_nationkey = s_nationkey AND s_nationkey = n_nationkey
        |  AND n_regionkey = r_regionkey AND r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        |GROUP BY n_name
        |ORDER BY revenue DESC, n_name""".stripMargin,

    "q6_forecast_revenue" ->
      """SELECT CAST(ROUND(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(30,4))), 2) AS DOUBLE) AS revenue,
        | COUNT(*) AS n_rows
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        |  AND l_discount BETWEEN 0.02 AND 0.04 AND l_quantity < 24""".stripMargin,

    "q10_returned_items" ->
      """SELECT c_custkey, c_name,
        | CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,4))), 2) AS DOUBLE) AS revenue,
        | c_acctbal, n_name
        |FROM customer, orders, lineitem, nation
        |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
        |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
        |  AND l_returnflag = 'R' AND c_nationkey = n_nationkey
        |GROUP BY c_custkey, c_name, c_acctbal, n_name
        |ORDER BY revenue DESC, c_custkey
        |LIMIT 20""".stripMargin,

    "q13_customer_distribution" ->
      """SELECT c_count, COUNT(*) AS custdist
        |FROM (SELECT c_custkey, COUNT(o_orderkey) AS c_count
        |      FROM customer LEFT OUTER JOIN orders
        |        ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
        |      GROUP BY c_custkey) t
        |GROUP BY c_count
        |ORDER BY custdist DESC, c_count DESC""".stripMargin,

    "q14_promo_revenue" ->
      """SELECT
        | CAST(ROUND(SUM(CASE WHEN p_type = 'PROMO'
        |     THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,4))
        |     ELSE CAST(0 AS DECIMAL(30,4)) END), 2) AS DOUBLE) AS promo_revenue,
        | CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,4))), 2) AS DOUBLE) AS total_revenue
        |FROM lineitem, part
        |WHERE l_partkey = p_partkey
        |  AND l_shipdate >= TIMESTAMP '1996-09-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1996-10-01 00:00:00'""".stripMargin,

    "q18_large_orders" ->
      """SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
        | CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(30,2))), 2) AS DOUBLE) AS sum_qty
        |FROM customer, orders, lineitem
        |WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
        |                     GROUP BY l_orderkey HAVING SUM(l_quantity) > 150)
        |  AND c_custkey = o_custkey AND o_orderkey = l_orderkey
        |GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
        |ORDER BY o_totalprice DESC, o_orderkey
        |LIMIT 100""".stripMargin,

    "q19_discounted_revenue" ->
      """SELECT CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,4))), 2) AS DOUBLE) AS revenue,
        | COUNT(*) AS n_rows
        |FROM lineitem, part
        |WHERE p_partkey = l_partkey AND (
        |  (p_brand = 'Brand#12' AND l_quantity BETWEEN 1 AND 11 AND p_size BETWEEN 1 AND 5)
        |  OR (p_brand = 'Brand#23' AND l_quantity BETWEEN 10 AND 20 AND p_size BETWEEN 1 AND 10)
        |  OR (p_brand = 'Brand#34' AND l_quantity BETWEEN 20 AND 30 AND p_size BETWEEN 1 AND 15))""".stripMargin,

    "topk_per_group" ->
      """SELECT c_mktsegment, c_custkey, c_acctbal, rnk
        |FROM (SELECT c_mktsegment, c_custkey, c_acctbal,
        |        CAST(ROW_NUMBER() OVER (PARTITION BY c_mktsegment
        |                                ORDER BY c_acctbal DESC, c_custkey) AS BIGINT) AS rnk
        |      FROM customer) t
        |WHERE rnk <= 5
        |ORDER BY c_mktsegment, rnk""".stripMargin,

    "running_total" ->
      """SELECT user_id, event_id,
        | CAST(ROUND(SUM(CAST(value AS DECIMAL(30,2)))
        |   OVER (PARTITION BY user_id ORDER BY ts, event_id
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS DOUBLE) AS running_value
        |FROM events
        |WHERE user_id < 10
        |ORDER BY user_id, event_id""".stripMargin,

    "cube_agg" ->
      """SELECT o_orderpriority, o_orderstatus,
        | CAST(GROUPING(o_orderpriority) AS INT) AS g_prio,
        | CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
        | CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(30,2))), 2) AS DOUBLE) AS sum_price,
        | COUNT(*) AS n_orders
        |FROM orders
        |GROUP BY CUBE(o_orderpriority, o_orderstatus)
        |ORDER BY g_prio, g_status,
        |  o_orderpriority NULLS FIRST, o_orderstatus NULLS FIRST""".stripMargin,

    "grouping_sets_agg" ->
      """SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
        | COALESCE(l_linestatus, 'ALL') AS linestatus,
        | CAST(GROUPING(l_returnflag) AS INT) AS g_flag,
        | CAST(GROUPING(l_linestatus) AS INT) AS g_status,
        | COUNT(*) AS n_rows,
        | CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(30,2))), 2) AS DOUBLE) AS sum_qty,
        | CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(30,2))), 2) AS DOUBLE) AS sum_price
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
        |ORDER BY g_flag, g_status, returnflag, linestatus""".stripMargin,

    "rfm_scores" ->
      """WITH per AS (SELECT o_custkey,
        |    date_diff('day', MAX(CAST(o_orderdate AS TIMESTAMP)),
        |      (SELECT MAX(CAST(o_orderdate AS TIMESTAMP)) FROM orders))::BIGINT
        |      AS recency_days,
        |    COUNT(*)::BIGINT AS frequency,
        |    SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT))::BIGINT
        |      AS monetary_cents
        |  FROM orders GROUP BY o_custkey),
        |n AS (SELECT COUNT(*)::BIGINT AS n_cust FROM per),
        |rh AS (SELECT recency_days, COUNT(*)::BIGINT AS c FROM per GROUP BY 1),
        |rc AS (SELECT recency_days, SUM(c) OVER (ORDER BY recency_days) AS cum FROM rh),
        |fh AS (SELECT frequency, COUNT(*)::BIGINT AS c FROM per GROUP BY 1),
        |fc AS (SELECT frequency, SUM(c) OVER (ORDER BY frequency) AS cum FROM fh),
        |mh AS (SELECT monetary_cents, COUNT(*)::BIGINT AS c FROM per GROUP BY 1),
        |mc AS (SELECT monetary_cents, SUM(c) OVER (ORDER BY monetary_cents) AS cum FROM mh),
        |scored AS (SELECT
        |    CAST((4 * rc.cum + n_cust - 1) // n_cust AS BIGINT) AS r_q,
        |    CAST((4 * fc.cum + n_cust - 1) // n_cust AS BIGINT) AS f_q,
        |    CAST((4 * mc.cum + n_cust - 1) // n_cust AS BIGINT) AS m_q,
        |    per.monetary_cents
        |  FROM per
        |  JOIN rc USING (recency_days) JOIN fc USING (frequency)
        |  JOIN mc USING (monetary_cents) CROSS JOIN n)
        |SELECT r_q, f_q, m_q, COUNT(*)::BIGINT AS n_customers,
        | CAST(ROUND(SUM(monetary_cents) / 100.0, 2) AS DOUBLE) AS total_monetary,
        | CAST(ROUND(CAST(SUM(monetary_cents) // COUNT(*) AS BIGINT) / 100.0, 2)
        |   AS DOUBLE) AS avg_monetary
        |FROM scored GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,

    "spend_deciles" ->
      raw"""WITH per AS (SELECT o_custkey,
        |    SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT))::BIGINT AS spend_cents
        |  FROM orders GROUP BY o_custkey),
        |n AS (SELECT COUNT(*)::BIGINT AS n_cust,
        |    SUM(spend_cents)::BIGINT AS grand_cents FROM per),
        |h AS (SELECT spend_cents, COUNT(*)::BIGINT AS c FROM per GROUP BY 1),
        |cc AS (SELECT spend_cents, SUM(c) OVER (ORDER BY spend_cents) AS cum FROM h),
        |scored AS (SELECT per.spend_cents,
        |    CAST((10 * cum + n_cust - 1) // n_cust AS BIGINT) AS decile, grand_cents
        |  FROM per JOIN cc USING (spend_cents) CROSS JOIN n)
        |SELECT decile, COUNT(*)::BIGINT AS n_customers,
        | CAST(ROUND(SUM(spend_cents) / 100.0, 2) AS DOUBLE) AS total_spend,
        | CAST(ROUND(MIN(spend_cents) / 100.0, 2) AS DOUBLE) AS min_spend,
        | CAST(ROUND(MAX(spend_cents) / 100.0, 2) AS DOUBLE) AS max_spend,
        | ${ratio4Sql("SUM(spend_cents)", "ANY_VALUE(grand_cents)")}
        |   AS revenue_share
        |FROM scored GROUP BY decile ORDER BY decile""".stripMargin,

    "basket_pairs" ->
      raw"""WITH ob AS (SELECT DISTINCT l_orderkey, p_brand
        |  FROM lineitem JOIN part ON l_partkey = p_partkey),
        |total AS (SELECT COUNT(DISTINCT l_orderkey)::BIGINT AS n_orders FROM ob),
        |reach AS (SELECT p_brand, COUNT(*)::BIGINT AS n FROM ob GROUP BY 1),
        |pairs AS (SELECT a.p_brand AS brand_a, b.p_brand AS brand_b,
        |    COUNT(*)::BIGINT AS n_both
        |  FROM ob a JOIN ob b USING (l_orderkey)
        |  WHERE a.p_brand < b.p_brand GROUP BY 1, 2)
        |SELECT brand_a, brand_b, ra.n AS n_a, rb.n AS n_b, n_both,
        | ${ratio4Sql("n_both", "n_orders")} AS support,
        | CAST(CAST(ROUND((CAST(n_both AS DOUBLE) / CAST(n_orders AS DOUBLE)) /
        |   ((CAST(ra.n AS DOUBLE) / CAST(n_orders AS DOUBLE)) *
        |    (CAST(rb.n AS DOUBLE) / CAST(n_orders AS DOUBLE))), 4)
        |   AS DECIMAL(28,4)) AS DOUBLE) AS lift
        |FROM pairs
        |JOIN reach ra ON ra.p_brand = brand_a
        |JOIN reach rb ON rb.p_brand = brand_b
        |CROSS JOIN total
        |ORDER BY brand_a, brand_b""".stripMargin,

    "cohort_ltv" ->
      """WITH o AS (SELECT o_custkey,
        |    year(CAST(o_orderdate AS TIMESTAMP)) * 12
        |      + month(CAST(o_orderdate AS TIMESTAMP)) AS m,
        |    CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS cents FROM orders),
        |fm AS (SELECT o_custkey, MIN(m) AS cohort_m FROM o GROUP BY 1),
        |cs AS (SELECT cohort_m, COUNT(*)::BIGINT AS n_customers FROM fm GROUP BY 1),
        |cell AS (SELECT cohort_m, o.m - cohort_m AS month_offset,
        |    SUM(cents)::BIGINT AS rev_cents
        |  FROM o JOIN fm USING (o_custkey) GROUP BY 1, 2),
        |cum AS (SELECT cohort_m, month_offset, rev_cents,
        |    SUM(rev_cents) OVER (PARTITION BY cohort_m ORDER BY month_offset)
        |      AS cum_cents
        |  FROM cell)
        |SELECT printf('%04d-%02d', (cohort_m - 1) // 12,
        |    cohort_m - 12 * ((cohort_m - 1) // 12)) AS cohort,
        | month_offset, n_customers,
        | CAST(ROUND(rev_cents / 100.0, 2) AS DOUBLE) AS revenue,
        | CAST(ROUND(cum_cents / 100.0, 2) AS DOUBLE) AS cum_revenue,
        | CAST(ROUND(CAST(cum_cents // n_customers AS BIGINT) / 100.0, 2)
        |   AS DOUBLE) AS ltv_per_customer
        |FROM cum JOIN cs USING (cohort_m)
        |ORDER BY cohort, month_offset""".stripMargin,

    "rollup_agg" ->
      """SELECT l_returnflag, l_linestatus,
        | CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(30,2))), 2) AS DOUBLE) AS sum_qty, COUNT(*) AS n_rows
        |FROM lineitem
        |GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,

    "distinct_agg" ->
      """SELECT o_orderstatus,
        | COUNT(DISTINCT o_custkey) AS n_cust,
        | COUNT(DISTINCT o_orderpriority) AS n_prio,
        | COUNT(*) AS n_orders
        |FROM orders
        |GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin,

    "anti_semi_join" ->
      """SELECT c_custkey, c_name
        |FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
        |ORDER BY c_custkey""".stripMargin,

    "set_ops" ->
      """SELECT 'both' AS tag, nationkey
        |FROM (SELECT c_nationkey AS nationkey FROM customer
        |      INTERSECT SELECT s_nationkey FROM supplier) a
        |UNION ALL
        |SELECT 'cust_only' AS tag, nationkey
        |FROM (SELECT c_nationkey AS nationkey FROM customer
        |      EXCEPT SELECT s_nationkey FROM supplier) b
        |ORDER BY tag, nationkey""".stripMargin,

    "pivot_manual" ->
      """SELECT o_orderstatus,
        | CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS BIGINT) AS n_urgent,
        | CAST(SUM(CASE WHEN o_orderpriority = '2-HIGH' THEN 1 ELSE 0 END) AS BIGINT) AS n_high,
        | CAST(SUM(CASE WHEN o_orderpriority = '3-MEDIUM' THEN 1 ELSE 0 END) AS BIGINT) AS n_medium,
        | CAST(SUM(CASE WHEN o_orderpriority = '4-NOT SPECIFIED' THEN 1 ELSE 0 END) AS BIGINT) AS n_unspecified,
        | CAST(SUM(CASE WHEN o_orderpriority = '5-LOW' THEN 1 ELSE 0 END) AS BIGINT) AS n_low
        |FROM orders
        |GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin,

    "q17_small_qty_revenue" ->
      """SELECT CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(30,2))), 2) AS DOUBLE) AS sum_revenue,
        | COUNT(*) AS n_rows
        |FROM lineitem, part
        |WHERE p_partkey = l_partkey AND p_brand = 'Brand#23'
        |  AND l_quantity < (
        |    SELECT CAST(SUM(CAST(l_quantity AS DECIMAL(30,2))) AS DOUBLE)
        |           / COUNT(*) * 0.2e0
        |    FROM lineitem l2 WHERE l2.l_partkey = p_partkey)""".stripMargin,

    "q22_no_order_customers" ->
      """SELECT c_mktsegment, COUNT(*) AS n_cust,
        | CAST(ROUND(SUM(CAST(c_acctbal AS DECIMAL(30,2))), 2) AS DOUBLE) AS total_bal
        |FROM customer
        |WHERE c_acctbal > (
        |    SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(30,2))) AS DOUBLE) / COUNT(*)
        |    FROM customer WHERE c_acctbal > 0)
        |  AND NOT EXISTS (SELECT 1 FROM orders
        |    WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
        |GROUP BY c_mktsegment
        |ORDER BY c_mktsegment""".stripMargin,

    "kv_lww_latest" ->
      s"""$cellsCte,
        |ranked AS (SELECT key, col, ts, value,
        |  ROW_NUMBER() OVER (PARTITION BY key, col ORDER BY ts DESC, seq DESC) AS rn
        |  FROM cells)
        |SELECT key, col, ts, value FROM ranked WHERE rn = 1
        |ORDER BY key, col""".stripMargin,

    "kv_byte_ordered_scan" ->
      s"""$cellsCte,
        |ranked AS (SELECT key, col, ts, value,
        |  ROW_NUMBER() OVER (PARTITION BY key, col ORDER BY ts DESC, seq DESC) AS rn
        |  FROM cells WHERE key >= '42')
        |SELECT key, col, ts, value FROM ranked WHERE rn = 1
        |ORDER BY key, col""".stripMargin,

    "kv_resume_scan" -> {
      val start = graft.functions.CassandraMurmur3.token(
        org.apache.spark.unsafe.types.UTF8String.fromString("42"))
      s"""$cellsCte,
        |$murmurTokenSqlCte,
        |ranked AS (SELECT c.key, c.col, c.ts, c.seq, c.value, t.token,
        |  ROW_NUMBER() OVER (PARTITION BY c.key, c.col ORDER BY c.ts DESC, c.seq DESC) AS rn
        |  FROM cells c JOIN mtok t USING (key)
        |  WHERE t.token >= $start AND (t.token > $start OR c.key >= '42'))
        |SELECT key, col, ts, seq, value, token FROM ranked WHERE rn = 1
        |ORDER BY token, key, col""".stripMargin
    },

    "kv_long_key_tokens" ->
      s"""$cellsCte,
        |${murmurTokenSqlChain("w1", "(SELECT DISTINCT rpad(key, 20, 'x') AS key FROM cells)")},
        |${murmurTokenSqlChain("w2", "(SELECT DISTINCT rpad(key, 37, 'y') AS key FROM cells)")},
        |${murmurTokenSqlChain("w3", "(SELECT DISTINCT rpad(key, 52, 'z') AS key FROM cells)")}
        |SELECT k.key,
        |  a.token AS token_1block, b.token AS token_2block, c.token AS token_3block
        |FROM (SELECT DISTINCT key FROM cells) k
        |JOIN w1tok a ON a.key = rpad(k.key, 20, 'x')
        |JOIN w2tok b ON b.key = rpad(k.key, 37, 'y')
        |JOIN w3tok c ON c.key = rpad(k.key, 52, 'z')
        |ORDER BY k.key""".stripMargin,

    "kv_token_range_scan" -> {
      val t1 = graft.functions.CassandraMurmur3.token(
        org.apache.spark.unsafe.types.UTF8String.fromString("25"))
      val t2 = graft.functions.CassandraMurmur3.token(
        org.apache.spark.unsafe.types.UTF8String.fromString("75"))
      val (tMin, tMax) = (math.min(t1, t2), math.max(t1, t2))
      s"""$cellsCte,
        |$murmurTokenSqlCte,
        |ranked AS (SELECT c.key, c.col, c.ts, c.seq, c.value, t.token,
        |  ROW_NUMBER() OVER (PARTITION BY c.key, c.col ORDER BY c.ts DESC, c.seq DESC) AS rn
        |  FROM cells c JOIN mtok t USING (key)
        |  WHERE t.token BETWEEN $tMin AND $tMax)
        |SELECT key, col, ts, seq, value, token FROM ranked WHERE rn = 1
        |ORDER BY token, key, col""".stripMargin
    },

    "kv_token_distribution" ->
      s"""$cellsCte,
        |$murmurTokenSqlCte
        |SELECT ((token::HUGEINT + CASE WHEN token < 0 THEN 18446744073709551616::HUGEINT ELSE 0::HUGEINT END)
        |        // 288230376151711744::HUGEINT
        |        - CASE WHEN token < 0 THEN 64 ELSE 0 END + 32)::BIGINT AS bucket,
        |  COUNT(*) AS n_cells, COUNT(DISTINCT c.key) AS n_keys
        |FROM cells c JOIN mtok t USING (key)
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "kv_random_resume_scan" ->
      s"""$cellsCte,
        |$randomTokenSqlCte,
        |ranked AS (SELECT t.token, c.key, c.col, c.ts, c.value,
        |  ROW_NUMBER() OVER (PARTITION BY c.key, c.col ORDER BY ts DESC, seq DESC) AS rn
        |  FROM cells c JOIN tok t USING (key)
        |  WHERE t.token > '${graft.functions.CassandraRandomMd5.tokenHex("42")}'
        |     OR (t.token = '${graft.functions.CassandraRandomMd5.tokenHex("42")}'
        |         AND c.key >= '42'))
        |SELECT token, key, col, ts, value FROM ranked WHERE rn = 1
        |ORDER BY token, key, col""".stripMargin,

    "kv_random_token_distribution" ->
      s"""$cellsCte,
        |$randomTokenSqlCte
        |SELECT CAST(concat('0x', substring(t.token, 1, 2)) AS INT) AS bucket,
        |  COUNT(*) AS n_cells, COUNT(DISTINCT c.key) AS n_keys
        |FROM cells c JOIN tok t USING (key)
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "kv_generations_merge" ->
      s"""$cellsCte,
        |ranked AS (SELECT key, col, ts,
        |  ROW_NUMBER() OVER (PARTITION BY key, col ORDER BY ts DESC, seq DESC) AS rn
        |  FROM cells)
        |SELECT key, COUNT(*) AS n_cols, MAX(ts) AS last_write
        |FROM ranked WHERE rn = 1
        |GROUP BY key ORDER BY key""".stripMargin,

    "kv_tombstone_merge" ->
      s"""$cellsCte,
        |marked AS (SELECT *, MAX(CASE WHEN col = 'error' THEN ts END)
        |  OVER (PARTITION BY key) AS del_ts FROM cells),
        |live AS (SELECT * FROM marked
        |  WHERE col <> 'error' AND (del_ts IS NULL OR ts > del_ts)),
        |ranked AS (SELECT key, col, ts, value,
        |  ROW_NUMBER() OVER (PARTITION BY key, col ORDER BY ts DESC, seq DESC) AS rn
        |  FROM live)
        |SELECT key, col, ts, value FROM ranked WHERE rn = 1
        |ORDER BY key, col""".stripMargin,

    "kv_range_tombstone" ->
      s"""$cellsCte,
        |marked AS (SELECT *, MAX(CASE WHEN col = 'error' THEN ts END)
        |  OVER (PARTITION BY key) AS del_ts FROM cells),
        |live AS (SELECT * FROM marked
        |  WHERE col <> 'error' AND (del_ts IS NULL OR ts > del_ts
        |        OR col NOT BETWEEN 'click' AND 'purchase')),
        |ranked AS (SELECT key, col, ts, value,
        |  ROW_NUMBER() OVER (PARTITION BY key, col ORDER BY ts DESC, seq DESC) AS rn
        |  FROM live)
        |SELECT key, col, ts, value FROM ranked WHERE rn = 1
        |ORDER BY key, col""".stripMargin,

    "kv_ttl_expiry" ->
      s"""$cellsCte,
        |exp AS (SELECT key, col, seq,
        |  CAST(FLOOR(value * 10 * 1000000.0) AS BIGINT) AS ttl_us,
        |  epoch_us(ts) + CAST(FLOOR(value * 10 * 1000000.0) AS BIGINT) AS expiry_us
        |  FROM cells)
        |SELECT key, col, seq, ttl_us, expiry_us FROM exp
        |WHERE expiry_us >= 1706140800000000 AND ttl_us >= 600000000
        |ORDER BY key, col, seq""".stripMargin,

    "kv_prohibit_eternal" ->
      s"""$cellsCte,
        |exp AS (SELECT key, col, seq,
        |  CASE WHEN seq % 5 <> 0
        |    THEN CAST(FLOOR(value * 10 * 1000000.0) AS BIGINT) END AS ttl_us,
        |  epoch_us(ts) + CASE WHEN seq % 5 <> 0
        |    THEN CAST(FLOOR(value * 10 * 1000000.0) AS BIGINT) END AS expiry_us
        |  FROM cells)
        |SELECT key, col, seq, ttl_us, expiry_us FROM exp
        |WHERE expiry_us IS NOT NULL
        |  AND expiry_us >= 1706140800000000 AND ttl_us >= 600000000
        |ORDER BY key, col, seq""".stripMargin,

    "kv_record_ttl" ->
      s"""$cellsCte,
        |exp AS (SELECT key, col, seq,
        |  CAST(FLOOR(value * 10 * 1000000.0) AS BIGINT) AS ttl_us,
        |  epoch_us(ts) + CAST(FLOOR(value * 10 * 1000000.0) AS BIGINT) AS expiry_us
        |  FROM cells),
        |live AS (SELECT * FROM exp
        |  WHERE expiry_us >= 1706140800000000 AND ttl_us >= 600000000)
        |SELECT key, MIN(expiry_us) AS first_expiry_us, MAX(expiry_us) AS last_expiry_us,
        |  COUNT(*) AS n_cells
        |FROM live GROUP BY key ORDER BY key""".stripMargin,

    "kv_create_only" ->
      s"""$cellsCte,
        |existing AS (SELECT DISTINCT key, col FROM cells
        |  WHERE epoch_us(ts) < 1705276800000000),
        |incoming AS (SELECT * FROM cells WHERE epoch_us(ts) >= 1705276800000000)
        |SELECT
        | CAST(SUM(CASE WHEN e.key IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS written,
        | CAST(SUM(CASE WHEN e.key IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS skipped_existing
        |FROM incoming i LEFT JOIN existing e ON i.key = e.key AND i.col = e.col""".stripMargin,

    "kv_export_stats" ->
      s"""$cellsCte,
        |annotated AS (SELECT *,
        |  MAX(CASE WHEN col = 'error' THEN ts END) OVER (PARTITION BY key) AS del_ts,
        |  ROW_NUMBER() OVER (PARTITION BY key, col ORDER BY ts DESC, seq DESC) AS rn,
        |  CAST(FLOOR(value * 10 * 1000000.0) AS BIGINT) AS ttl_us,
        |  epoch_us(ts) + CAST(FLOOR(value * 10 * 1000000.0) AS BIGINT) AS expiry_us
        |  FROM cells)
        |SELECT COUNT(*) AS cells_read,
        | COUNT(DISTINCT key) AS rows_read,
        | CAST(SUM(CASE WHEN col = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS tombstone_cells,
        | CAST(SUM(CASE WHEN col <> 'error' AND rn = 1 AND (del_ts IS NULL OR ts > del_ts)
        |     THEN 1 ELSE 0 END) AS BIGINT) AS live_latest_cells,
        | CAST(SUM(CASE WHEN col <> 'error' AND del_ts IS NOT NULL AND ts <= del_ts
        |     THEN 1 ELSE 0 END) AS BIGINT) AS tombstoned_cells,
        | CAST(SUM(CASE WHEN expiry_us < 1706140800000000 THEN 1 ELSE 0 END) AS BIGINT) AS expired_cells
        |FROM annotated""".stripMargin,

    "kv_dry_run_format" ->
      s"""$cellsCte,
        |ranked AS (SELECT key, col, ts, value,
        |  ROW_NUMBER() OVER (PARTITION BY key, col ORDER BY ts DESC, seq DESC) AS rn
        |  FROM cells),
        |fmt AS (SELECT key, col,
        |  col || '=' || CAST(CAST(value AS DECIMAL(12,2)) AS VARCHAR) AS cell_text
        |  FROM ranked WHERE rn = 1)
        |SELECT key, col, cell_text, lower(hex(cell_text)) AS cell_hex,
        |  (length(regexp_replace(cell_text, '[ -~]', '', 'g')) = 0) AS printable
        |FROM fmt ORDER BY key, col""".stripMargin,

    "kv_counter_merge" ->
      s"""$cellsCte
        |SELECT key, col,
        | CAST(ROUND(SUM(CAST(value AS DECIMAL(30,2))), 2) AS DOUBLE) AS counter_value,
        | COUNT(*) AS n_contributions,
        | MAX(ts) AS last_write
        |FROM cells
        |GROUP BY key, col
        |ORDER BY key, col""".stripMargin,

    "events_windowed_agg" ->
      """SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS window_start, event_type,
        | COUNT(*) AS n_events,
        | CAST(ROUND(SUM(CAST(value AS DECIMAL(30,2))), 2) AS DOUBLE) AS sum_value,
        | COUNT(DISTINCT user_id) AS n_users
        |FROM events
        |GROUP BY 1, 2
        |ORDER BY 1, 2""".stripMargin,

    // The EWMA recurrence replayed as a recursive CTE: base row seeds
    // s = x, err = 0; each step's err and α-update read the SAME
    // (x − s_prev) subtraction the codegen'd ewma_seq computes, so the
    // paths are bit-identical.
    "events_ewma" ->
      """WITH RECURSIVE
        |ev AS (SELECT event_type,
        |    epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000 AS h FROM events),
        |b AS (SELECT MIN(h) AS hmin, MAX(h) AS hmax FROM ev),
        |types AS (SELECT DISTINCT event_type FROM ev),
        |dense AS (SELECT t.event_type, r.h
        |  FROM types t, b, UNNEST(range(b.hmin, b.hmax + 1)) AS r(h)),
        |cnt AS (SELECT event_type, h, COUNT(*) AS x FROM ev GROUP BY 1, 2),
        |d AS (SELECT dense.event_type, dense.h, COALESCE(cnt.x, 0) AS x
        |  FROM dense LEFT JOIN cnt USING (event_type, h)),
        |idx AS (SELECT d.event_type, d.h, d.x,
        |    ROW_NUMBER() OVER (PARTITION BY d.event_type ORDER BY d.h) AS i
        |  FROM d),
        |rec AS (
        |  SELECT event_type, h, x, i,
        |    CAST(x AS DOUBLE) AS s, CAST(0.0 AS DOUBLE) AS err
        |  FROM idx WHERE i = 1
        |  UNION ALL
        |  SELECT idx.event_type, idx.h, idx.x, idx.i,
        |    rec.s + 0.25 * (CAST(idx.x AS DOUBLE) - rec.s),
        |    CAST(idx.x AS DOUBLE) - rec.s
        |  FROM rec JOIN idx ON idx.event_type = rec.event_type AND idx.i = rec.i + 1)
        |SELECT event_type, h AS hour, x AS n_events,
        |  CAST(CAST(ROUND(s, 4) AS DECIMAL(28,4)) AS DOUBLE) AS ewma,
        |  CAST(CAST(ROUND(err, 4) AS DECIMAL(28,4)) AS DOUBLE) AS forecast_err
        |FROM rec
        |ORDER BY event_type, hour""".stripMargin,

    // Holt's error-correction recurrence replayed token-for-token: the
    // recursive step carries BOTH states (level, trend) and every
    // update reads the one shared err = x - (l + b) term, exactly the
    // engine's holt_seq IEEE sequence.
    "events_holt" ->
      """WITH RECURSIVE
        |ev AS (SELECT event_type,
        |    epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000 AS h FROM events),
        |b AS (SELECT MIN(h) AS hmin, MAX(h) AS hmax FROM ev),
        |types AS (SELECT DISTINCT event_type FROM ev),
        |dense AS (SELECT t.event_type, r.h
        |  FROM types t, b, UNNEST(range(b.hmin, b.hmax + 1)) AS r(h)),
        |cnt AS (SELECT event_type, h, COUNT(*) AS x FROM ev GROUP BY 1, 2),
        |d AS (SELECT dense.event_type, dense.h, COALESCE(cnt.x, 0) AS x
        |  FROM dense LEFT JOIN cnt USING (event_type, h)),
        |idx AS (SELECT d.event_type, d.h, d.x,
        |    ROW_NUMBER() OVER (PARTITION BY d.event_type ORDER BY d.h) AS i
        |  FROM d),
        |rec AS (
        |  SELECT event_type, h, x, i,
        |    CAST(x AS DOUBLE) AS l, CAST(0.0 AS DOUBLE) AS bt,
        |    CAST(0.0 AS DOUBLE) AS err
        |  FROM idx WHERE i = 1
        |  UNION ALL
        |  SELECT idx.event_type, idx.h, idx.x, idx.i,
        |    (rec.l + rec.bt) + 0.25 * (CAST(idx.x AS DOUBLE) - (rec.l + rec.bt)),
        |    rec.bt + 0.25 * 0.3 * (CAST(idx.x AS DOUBLE) - (rec.l + rec.bt)),
        |    CAST(idx.x AS DOUBLE) - (rec.l + rec.bt)
        |  FROM rec JOIN idx ON idx.event_type = rec.event_type AND idx.i = rec.i + 1)
        |SELECT event_type, h AS hour, x AS n_events,
        |  CAST(CAST(ROUND(l, 4) AS DECIMAL(28,4)) AS DOUBLE) AS level,
        |  CAST(CAST(ROUND(bt, 4) AS DECIMAL(28,4)) AS DOUBLE) AS trend,
        |  CAST(CAST(ROUND(err, 4) AS DECIMAL(28,4)) AS DOUBLE) AS forecast_err
        |FROM rec
        |ORDER BY event_type, hour""".stripMargin,

    // Both smoother recurrences replayed over the shared densified
    // series, then the per-type error census as x10000 INTEGERS of the
    // 4-rounded errs (order-free sums); the bias divides agree because
    // Spark's `div` and DuckDB's integer `//` BOTH truncate toward zero
    // (verified: -7 // 2 = -3 in DuckDB) — no floor identity exists or
    // is needed, so don't "fix" either side to one.
    "events_forecast_backtest" ->
      """WITH RECURSIVE
        |ev AS (SELECT event_type,
        |    epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000 AS h FROM events),
        |b AS (SELECT MIN(h) AS hmin, MAX(h) AS hmax FROM ev),
        |types AS (SELECT DISTINCT event_type FROM ev),
        |dense AS (SELECT t.event_type, r.h
        |  FROM types t, b, UNNEST(range(b.hmin, b.hmax + 1)) AS r(h)),
        |cnt AS (SELECT event_type, h, COUNT(*) AS x FROM ev GROUP BY 1, 2),
        |d AS (SELECT dense.event_type, dense.h, COALESCE(cnt.x, 0) AS x
        |  FROM dense LEFT JOIN cnt USING (event_type, h)),
        |idx AS (SELECT d.event_type, d.h, d.x,
        |    ROW_NUMBER() OVER (PARTITION BY d.event_type ORDER BY d.h) AS i
        |  FROM d),
        |recew AS (
        |  SELECT event_type, x, i, CAST(x AS DOUBLE) AS s, CAST(0.0 AS DOUBLE) AS err
        |  FROM idx WHERE i = 1
        |  UNION ALL
        |  SELECT idx.event_type, idx.x, idx.i,
        |    recew.s + 0.25 * (CAST(idx.x AS DOUBLE) - recew.s),
        |    CAST(idx.x AS DOUBLE) - recew.s
        |  FROM recew JOIN idx ON idx.event_type = recew.event_type AND idx.i = recew.i + 1),
        |recho AS (
        |  SELECT event_type, x, i,
        |    CAST(x AS DOUBLE) AS l, CAST(0.0 AS DOUBLE) AS bt,
        |    CAST(0.0 AS DOUBLE) AS err
        |  FROM idx WHERE i = 1
        |  UNION ALL
        |  SELECT idx.event_type, idx.x, idx.i,
        |    (recho.l + recho.bt) + 0.25 * (CAST(idx.x AS DOUBLE) - (recho.l + recho.bt)),
        |    recho.bt + 0.25 * 0.3 * (CAST(idx.x AS DOUBLE) - (recho.l + recho.bt)),
        |    CAST(idx.x AS DOUBLE) - (recho.l + recho.bt)
        |  FROM recho JOIN idx ON idx.event_type = recho.event_type AND idx.i = recho.i + 1),
        |aew AS (SELECT event_type, COUNT(*)::BIGINT AS n_hours,
        |    SUM(CASE WHEN i > 1 THEN CAST(CAST(ROUND(ABS(err), 4)
        |      AS DECIMAL(28,4)) * 10000 AS BIGINT) ELSE 0 END)::BIGINT AS abs_ew,
        |    SUM(CASE WHEN i > 1 THEN CAST(CAST(ROUND(err, 4)
        |      AS DECIMAL(28,4)) * 10000 AS BIGINT) ELSE 0 END)::BIGINT AS bias_ew
        |  FROM recew GROUP BY 1),
        |aho AS (SELECT event_type,
        |    SUM(CASE WHEN i > 1 THEN CAST(CAST(ROUND(ABS(err), 4)
        |      AS DECIMAL(28,4)) * 10000 AS BIGINT) ELSE 0 END)::BIGINT AS abs_ho,
        |    SUM(CASE WHEN i > 1 THEN CAST(CAST(ROUND(err, 4)
        |      AS DECIMAL(28,4)) * 10000 AS BIGINT) ELSE 0 END)::BIGINT AS bias_ho
        |  FROM recho GROUP BY 1)
        |SELECT event_type, CAST(n_hours AS INT) AS n_hours,
        |  CAST(abs_ew // GREATEST(n_hours - 1, 1) AS DOUBLE) / 10000.0 AS mae_ewma,
        |  CAST(abs_ho // GREATEST(n_hours - 1, 1) AS DOUBLE) / 10000.0 AS mae_holt,
        |  CAST(bias_ew // GREATEST(n_hours - 1, 1) AS DOUBLE) / 10000.0 AS bias_ewma,
        |  CAST(bias_ho // GREATEST(n_hours - 1, 1) AS DOUBLE) / 10000.0 AS bias_holt,
        |  CASE WHEN abs_ho < abs_ew THEN 'holt'
        |       WHEN abs_ew < abs_ho THEN 'ewma' ELSE 'tie' END AS winner
        |FROM aew JOIN aho USING (event_type)
        |ORDER BY event_type""".stripMargin,

    // Each event lies in EXACTLY the 4 hopping windows whose start is
    // ⌊ts⌋₁₅ − k·15min for k = 0..3 (epoch alignment makes the covering
    // set closed-form), so the oracle unnests the 4 offsets explicitly.
    "events_hopping_agg" ->
      """WITH e AS (SELECT epoch_us(CAST(ts AS TIMESTAMP)) AS tus,
        |    event_type, user_id, value FROM events),
        |w AS (SELECT make_timestamp(
        |      (tus // 900000000) * 900000000 - k * 900000000) AS window_start,
        |    event_type, user_id, value
        |  FROM e CROSS JOIN (SELECT unnest([0,1,2,3])::BIGINT AS k))
        |SELECT window_start, event_type,
        | COUNT(*) AS n_events,
        | CAST(ROUND(SUM(CAST(value AS DECIMAL(30,2))), 2) AS DOUBLE) AS sum_value,
        | COUNT(DISTINCT user_id) AS n_users
        |FROM w GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "events_heatmap" ->
      """SELECT event_type,
        | CAST((epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 + 3) % 7 AS INT) AS dow,
        | CAST((epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000) % 24 AS INT) AS hour,
        | COUNT(*) AS n_events,
        | COUNT(DISTINCT user_id) AS n_users,
        | CAST(ROUND(SUM(CAST(value AS DECIMAL(30,2))), 2) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,

    "events_interarrival" ->
      """WITH g AS (SELECT event_type,
        |    epoch_us(CAST(ts AS TIMESTAMP))
        |      - lag(epoch_us(CAST(ts AS TIMESTAMP))) OVER (
        |        PARTITION BY user_id, event_type
        |        ORDER BY CAST(ts AS TIMESTAMP), event_id) AS gap_us
        |  FROM events)
        |SELECT event_type, COUNT(*)::BIGINT AS n_gaps,
        | CAST(CAST(SUM(gap_us) // COUNT(*) AS BIGINT) AS DOUBLE)
        |   / CAST(1000000.0 AS DOUBLE) AS avg_gap_s,
        | CAST(MIN(gap_us) AS DOUBLE) / CAST(1000000.0 AS DOUBLE) AS min_gap_s,
        | CAST(MAX(gap_us) AS DOUBLE) / CAST(1000000.0 AS DOUBLE) AS max_gap_s,
        | quantile_cont(gap_us, 0.5) / CAST(1000000.0 AS DOUBLE) AS p50_gap_s
        |FROM g WHERE gap_us IS NOT NULL
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    "events_mad_outliers" ->
      """WITH c AS (SELECT event_type,
        |    CAST(ROUND(value * 100, 0) AS BIGINT) AS cents FROM events),
        |med AS (SELECT event_type, quantile_cont(cents, 0.5) AS med_cents
        |  FROM c GROUP BY 1),
        |dev AS (SELECT c.event_type, cents, med_cents,
        |    ABS(CAST(cents AS DOUBLE) - med_cents) AS adev
        |  FROM c JOIN med USING (event_type)),
        |mad AS (SELECT event_type, quantile_cont(adev, 0.5) AS mad_cents
        |  FROM dev GROUP BY 1),
        |z AS (SELECT dev.event_type, med_cents, mad_cents,
        |    CAST(0.6745 AS DOUBLE) * (CAST(cents AS DOUBLE) - med_cents)
        |      / NULLIF(mad_cents, 0) AS mz
        |  FROM dev JOIN mad USING (event_type))
        |SELECT event_type, COUNT(*)::BIGINT AS n_events,
        | CAST(CAST(ROUND(ANY_VALUE(med_cents) / 100.0, 4) AS DECIMAL(10,4))
        |   AS DOUBLE) AS median_value,
        | CAST(CAST(ROUND(ANY_VALUE(mad_cents) / 100.0, 4) AS DECIMAL(10,4))
        |   AS DOUBLE) AS mad_value,
        | SUM(CASE WHEN ABS(mz) > 3.5 THEN 1 ELSE 0 END)::BIGINT AS n_outliers,
        | CAST(CAST(ROUND(MAX(ABS(mz)), 4) AS DECIMAL(10,4)) AS DOUBLE) AS max_abs_z
        |FROM z GROUP BY event_type ORDER BY event_type""".stripMargin,

    "events_user_overlap" ->
      raw"""WITH ut AS (SELECT DISTINCT event_type, user_id FROM events),
        |sz AS (SELECT event_type, COUNT(*)::BIGINT AS n FROM ut GROUP BY 1),
        |ov AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
        |    COUNT(*)::BIGINT AS n_both
        |  FROM ut a JOIN ut b USING (user_id)
        |  WHERE a.event_type < b.event_type GROUP BY 1, 2)
        |SELECT type_a, type_b, sa.n AS n_a, sb.n AS n_b, n_both,
        | ${ratio4Sql("n_both", "(sa.n + sb.n - n_both)")} AS jaccard
        |FROM ov
        |JOIN sz sa ON sa.event_type = type_a
        |JOIN sz sb ON sb.event_type = type_b
        |ORDER BY type_a, type_b""".stripMargin,

    // The KMV sketch replayed exactly: Spark's xxhash64-of-long as a
    // HUGEINT wrap-arithmetic chain, k-smallest-distinct retention as a
    // row_number window, the theta-sketch pair algebra as windowed
    // order statistics — every estimate under the hard hash gate.
    "events_user_overlap_sketch" -> {
      val K = 256
      val pow63 = "9.223372036854775807e18"
      s"""WITH uid AS (SELECT DISTINCT user_id FROM events),
        |${xxhash64LongSqlChain("ux", "uid")},
        |dh AS (SELECT DISTINCT e.event_type, x.h
        |  FROM events e JOIN uxxx x USING (user_id)),
        |rk AS (SELECT event_type, h,
        |    row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
        |  FROM dh),
        |sk AS (SELECT event_type, h, rn FROM rk WHERE rn <= $K),
        |szs AS (SELECT event_type, COUNT(*)::BIGINT AS nd FROM dh GROUP BY 1),
        |est AS (SELECT a.event_type, z.nd AS n_exact,
        |    CASE WHEN a.sz < $K THEN CAST(a.sz AS DOUBLE)
        |         ELSE CAST(${K - 1} AS DOUBLE) / (CAST(a.hk AS DOUBLE) / $pow63)
        |    END AS est_n
        |  FROM (SELECT event_type, COUNT(*)::BIGINT AS sz,
        |      MAX(CASE WHEN rn = $K THEN h END) AS hk FROM sk GROUP BY 1) a
        |  JOIN szs z USING (event_type)),
        |pr AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
        |    a.n_exact AS n_a, b.n_exact AS n_b, a.est_n AS est_a, b.est_n AS est_b
        |  FROM est a JOIN est b ON a.event_type < b.event_type),
        |u AS (SELECT p.type_a, p.type_b, s.h
        |  FROM pr p JOIN sk s ON s.event_type IN (p.type_a, p.type_b)
        |  GROUP BY 1, 2, 3),
        |comb AS (SELECT type_a, type_b, h, rn FROM (
        |    SELECT type_a, type_b, h,
        |      row_number() OVER (PARTITION BY type_a, type_b ORDER BY h) AS rn
        |    FROM u) WHERE rn <= $K),
        |eu AS (SELECT c.type_a, c.type_b, g.size_u,
        |    CASE WHEN g.size_u < $K THEN CAST(g.size_u AS DOUBLE)
        |         ELSE CAST(${K - 1} AS DOUBLE) / (CAST(g.hmax AS DOUBLE) / $pow63)
        |    END AS est_union,
        |    COALESCE(r.rho, 0)::BIGINT AS rho
        |  FROM (SELECT type_a, type_b, COUNT(*)::BIGINT AS size_u, MAX(h) AS hmax
        |        FROM comb GROUP BY 1, 2) g
        |  JOIN (SELECT type_a, type_b FROM pr) c USING (type_a, type_b)
        |  LEFT JOIN (SELECT c.type_a, c.type_b, COUNT(*)::BIGINT AS rho
        |      FROM comb c
        |      JOIN sk sa ON sa.event_type = c.type_a AND sa.h = c.h
        |      JOIN sk sb ON sb.event_type = c.type_b AND sb.h = c.h
        |      GROUP BY 1, 2) r USING (type_a, type_b)),
        |ut AS (SELECT DISTINCT event_type, user_id FROM events),
        |ov AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
        |    COUNT(*)::BIGINT AS n_both
        |  FROM ut a JOIN ut b USING (user_id)
        |  WHERE a.event_type < b.event_type GROUP BY 1, 2)
        |SELECT p.type_a, p.type_b, p.n_a, p.n_b,
        |  COALESCE(ov.n_both, 0)::BIGINT AS n_both,
        |  CAST(CAST(ROUND(p.est_a, 4) AS DECIMAL(28,4)) AS DOUBLE) AS est_a,
        |  CAST(CAST(ROUND(p.est_b, 4) AS DECIMAL(28,4)) AS DOUBLE) AS est_b,
        |  CAST(CAST(ROUND(e.est_union, 4) AS DECIMAL(28,4)) AS DOUBLE) AS est_union,
        |  CAST(CAST(ROUND((CAST(e.rho AS DOUBLE) * e.est_union)
        |    / CAST(e.size_u AS DOUBLE), 4) AS DECIMAL(28,4)) AS DOUBLE) AS est_both,
        |  CAST((10000 * COALESCE(ov.n_both, 0))
        |    // (p.n_a + p.n_b - COALESCE(ov.n_both, 0)) AS DOUBLE) / 10000.0 AS jaccard,
        |  CAST((10000 * e.rho) // e.size_u AS DOUBLE) / 10000.0 AS jaccard_est,
        |  CAST(CAST(ROUND(ABS((CAST(e.rho AS DOUBLE) * e.est_union)
        |      / CAST(e.size_u AS DOUBLE) - CAST(COALESCE(ov.n_both, 0) AS DOUBLE))
        |    / GREATEST(CAST(COALESCE(ov.n_both, 0) AS DOUBLE), 1.0), 4)
        |    AS DECIMAL(28,4)) AS DOUBLE) AS rel_err
        |FROM pr p
        |JOIN eu e USING (type_a, type_b)
        |LEFT JOIN ov USING (type_a, type_b)
        |ORDER BY type_a, type_b""".stripMargin
    },

    "events_sessionize" ->
      """WITH e AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, value,
        |  LAG(CAST(ts AS TIMESTAMP)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        |  FROM events),
        |flagged AS (SELECT *, CASE WHEN prev_ts IS NULL
        |    OR epoch_us(ts) - epoch_us(prev_ts) > 1800000000 THEN 1 ELSE 0 END AS new_session
        |  FROM e),
        |sess AS (SELECT *, CAST(SUM(new_session) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
        |  FROM flagged)
        |SELECT user_id, session_seq,
        | MIN(ts) AS session_start, MAX(ts) AS session_end,
        | COUNT(*) AS n_events,
        | CAST(ROUND(SUM(CAST(value AS DECIMAL(30,2))), 2) AS DOUBLE) AS sum_value
        |FROM sess GROUP BY user_id, session_seq
        |ORDER BY user_id, session_seq""".stripMargin,

    "events_transitions" ->
      raw"""WITH s AS (SELECT user_id, event_type,
        |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      AS from_type
        |  FROM events),
        |c AS (SELECT from_type, event_type AS to_type,
        |    COUNT(*)::BIGINT AS n_transitions
        |  FROM s WHERE from_type IS NOT NULL GROUP BY 1, 2)
        |SELECT from_type, to_type, n_transitions,
        |  ${ratio4Sql("n_transitions", "(SUM(n_transitions) OVER (PARTITION BY from_type))")} AS prob
        |FROM c ORDER BY from_type, to_type""".stripMargin,

    "events_attribution" ->
      raw"""WITH t AS (SELECT user_id, ts, event_type, value,
        |    last_value(CASE WHEN event_type <> 'purchase' THEN event_type END
        |      IGNORE NULLS) OVER w AS t_type,
        |    last_value(CASE WHEN event_type <> 'purchase' THEN ts END
        |      IGNORE NULLS) OVER w AS t_ts
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
        |p AS (SELECT CASE WHEN t_type IS NULL OR t_ts < ts - INTERVAL 7 DAY
        |      THEN 'direct' ELSE t_type END AS channel, value
        |  FROM t WHERE event_type = 'purchase'),
        |a AS (SELECT channel, COUNT(*)::BIGINT AS n_conversions,
        |    CAST(ROUND(SUM(CAST(value AS DECIMAL(30,2))), 2) AS DOUBLE)
        |      AS attributed_revenue
        |  FROM p GROUP BY channel)
        |SELECT channel, n_conversions, attributed_revenue,
        |  ${ratio4Sql("n_conversions", "SUM(n_conversions) OVER ()")} AS conversion_share
        |FROM a ORDER BY channel""".stripMargin,

    "events_user_features" ->
      raw"""WITH a AS (SELECT user_id,
        |    COUNT(*)::BIGINT AS n_events,
        |    COUNT(DISTINCT event_type)::BIGINT AS n_types,
        |    COUNT(DISTINCT epoch_us(ts) // 86400000000)::BIGINT
        |      AS n_active_days,
        |    MIN(ts) AS first_ts, MAX(ts) AS last_ts,
        |    CAST(ROUND(SUM(CAST(value AS DECIMAL(30,2))), 2) AS DOUBLE)
        |      AS total_value,
        |    CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_purchases
        |  FROM events GROUP BY user_id)
        |SELECT user_id, n_events, n_types, n_active_days, first_ts, last_ts,
        |  total_value, n_purchases,
        |  (epoch_us(last_ts) - epoch_us(first_ts)) // 86400000000
        |    AS lifespan_days,
        |  ${ratio4Sql("n_events", "GREATEST(n_active_days, 1)")} AS events_per_active_day
        |FROM a ORDER BY user_id""".stripMargin,

    "events_pagerank" ->
      """WITH sq AS (SELECT user_id, event_type,
        |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      AS from_type
        |  FROM events),
        |e AS (SELECT from_type, event_type AS to_type, COUNT(*)::BIGINT AS n
        |  FROM sq WHERE from_type IS NOT NULL GROUP BY 1, 2),
        |o AS (SELECT from_type, SUM(n)::BIGINT AS out_n FROM e GROUP BY 1),
        |ew AS (SELECT e.from_type, e.to_type, e.n, o.out_n
        |  FROM e JOIN o USING (from_type)),
        |nodes AS (SELECT DISTINCT node FROM
        |  (SELECT from_type AS node FROM ew UNION ALL SELECT to_type FROM ew)),
        |nn AS (SELECT COUNT(*)::BIGINT AS n_nodes FROM nodes),
        |r0 AS (SELECT node, CAST(1000000000 // n_nodes AS BIGINT) AS rank_ppb
        |  FROM nodes, nn),
        |m1 AS (SELECT ew.to_type AS node,
        |    SUM(CAST(r.rank_ppb AS HUGEINT) * ew.n // ew.out_n) AS in_mass
        |  FROM ew JOIN r0 r ON r.node = ew.from_type GROUP BY 1),
        |r1 AS (SELECT nd.node, CAST(150000000 // nn.n_nodes
        |    + (85 * COALESCE(m1.in_mass, 0)) // 100 AS BIGINT) AS rank_ppb
        |  FROM nodes nd CROSS JOIN nn LEFT JOIN m1 ON m1.node = nd.node),
        |m2 AS (SELECT ew.to_type AS node,
        |    SUM(CAST(r.rank_ppb AS HUGEINT) * ew.n // ew.out_n) AS in_mass
        |  FROM ew JOIN r1 r ON r.node = ew.from_type GROUP BY 1),
        |r2 AS (SELECT nd.node, CAST(150000000 // nn.n_nodes
        |    + (85 * COALESCE(m2.in_mass, 0)) // 100 AS BIGINT) AS rank_ppb
        |  FROM nodes nd CROSS JOIN nn LEFT JOIN m2 ON m2.node = nd.node),
        |m3 AS (SELECT ew.to_type AS node,
        |    SUM(CAST(r.rank_ppb AS HUGEINT) * ew.n // ew.out_n) AS in_mass
        |  FROM ew JOIN r2 r ON r.node = ew.from_type GROUP BY 1),
        |r3 AS (SELECT nd.node, CAST(150000000 // nn.n_nodes
        |    + (85 * COALESCE(m3.in_mass, 0)) // 100 AS BIGINT) AS rank_ppb
        |  FROM nodes nd CROSS JOIN nn LEFT JOIN m3 ON m3.node = nd.node),
        |m4 AS (SELECT ew.to_type AS node,
        |    SUM(CAST(r.rank_ppb AS HUGEINT) * ew.n // ew.out_n) AS in_mass
        |  FROM ew JOIN r3 r ON r.node = ew.from_type GROUP BY 1),
        |r4 AS (SELECT nd.node, CAST(150000000 // nn.n_nodes
        |    + (85 * COALESCE(m4.in_mass, 0)) // 100 AS BIGINT) AS rank_ppb
        |  FROM nodes nd CROSS JOIN nn LEFT JOIN m4 ON m4.node = nd.node),
        |m5 AS (SELECT ew.to_type AS node,
        |    SUM(CAST(r.rank_ppb AS HUGEINT) * ew.n // ew.out_n) AS in_mass
        |  FROM ew JOIN r4 r ON r.node = ew.from_type GROUP BY 1),
        |r5 AS (SELECT nd.node, CAST(150000000 // nn.n_nodes
        |    + (85 * COALESCE(m5.in_mass, 0)) // 100 AS BIGINT) AS rank_ppb
        |  FROM nodes nd CROSS JOIN nn LEFT JOIN m5 ON m5.node = nd.node)
        |SELECT node AS event_type, rank_ppb FROM r5
        |ORDER BY event_type""".stripMargin,

    "events_sequences" ->
      raw"""WITH s AS (SELECT user_id, event_type AS e1,
        |    lead(event_type, 1) OVER w AS e2,
        |    lead(event_type, 2) OVER w AS e3
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |g AS (SELECT e1, e2, e3, COUNT(*)::BIGINT AS n_seq
        |  FROM s WHERE e3 IS NOT NULL GROUP BY 1, 2, 3),
        |t AS (SELECT SUM(n_seq)::DOUBLE AS total FROM g)
        |SELECT e1, e2, e3, n_seq,
        |  ${ratio4Sql("n_seq", "total")} AS share
        |FROM g, t
        |ORDER BY n_seq DESC, e1, e2, e3 LIMIT 20""".stripMargin,
    "events_json_props" ->
      """SELECT event_type,
        | COUNT(CAST(props->>'k' AS BIGINT)) AS n_with_k,
        | CAST(SUM(CAST(props->>'k' AS BIGINT)) AS BIGINT) AS sum_k,
        | MIN(CAST(props->>'k' AS BIGINT)) AS min_k,
        | MAX(CAST(props->>'k' AS BIGINT)) AS max_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "events_value_hist" ->
      """SELECT event_type,
        | floor(value / 25.0) * 25.0 AS bucket_start,
        | COUNT(*)::BIGINT AS n_events
        |FROM events GROUP BY event_type, floor(value / 25.0) * 25.0
        |ORDER BY event_type, bucket_start""".stripMargin,

    "events_moving_avg" ->
      raw"""WITH e AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS tus,
        |    CAST(round(value * 100) AS BIGINT) AS cents
        |  FROM events)
        |SELECT user_id, event_id, ts,
        | COUNT(*) OVER w AS n_1h,
        | ${ratio4Sql("(SUM(cents) OVER w)", "(COUNT(*) OVER w) * 100")} AS avg_1h
        |FROM e
        |WINDOW w AS (PARTITION BY user_id ORDER BY tus
        |  RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
        |ORDER BY user_id, event_id""".stripMargin,

    // Moments as exact integer cents (DuckDB's SUM(BIGINT) is HUGEINT —
    // 128-bit exact, the analog of the Spark side's DECIMAL(38,0));
    // the z arithmetic is the same IEEE sequence in both engines, so
    // the 2.5 boundary is bit-stable.
    "events_zscore_outliers" ->
      """WITH e AS (SELECT event_id, event_type, value,
        |    CAST(round(value * 100) AS BIGINT) AS cents FROM events),
        |st AS (SELECT event_type, COUNT(*)::BIGINT AS n,
        |    SUM(cents) AS s, SUM(cents * cents) AS ss
        |  FROM e GROUP BY event_type),
        |m AS (SELECT event_type, n, s, ss,
        |    CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS mean,
        |    CAST(ss AS DOUBLE) / CAST(n AS DOUBLE)
        |      - (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
        |        * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) AS var
        |  FROM st),
        |z AS (SELECT e.event_id, e.event_type, e.value,
        |    CASE WHEN m.var > 0
        |      THEN (CAST(e.cents AS DOUBLE) - m.mean) / sqrt(m.var) END AS zv
        |  FROM e JOIN m USING (event_type))
        |SELECT event_id, event_type, value,
        |  CAST(CAST(ROUND(zv, 4) AS DECIMAL(10,4)) AS DOUBLE) AS zscore
        |FROM z WHERE abs(zv) > 2.5
        |ORDER BY event_id""".stripMargin,

    // CUSUM: the oracle replays the recurrence as a recursive CTE in
    // the same pinned IEEE operation order as the CusumSeq kernel.
    "events_cusum" ->
      """WITH RECURSIVE
        |ev AS (SELECT event_type,
        |    epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000 AS h FROM events),
        |b AS (SELECT MIN(h) AS hmin, MAX(h) AS hmax FROM ev),
        |types AS (SELECT DISTINCT event_type FROM ev),
        |dense AS (SELECT t.event_type, r.h
        |  FROM types t, b, UNNEST(range(b.hmin, b.hmax + 1)) AS r(h)),
        |cnt AS (SELECT event_type, h, COUNT(*) AS x FROM ev GROUP BY 1, 2),
        |d AS (SELECT dense.event_type, dense.h, COALESCE(cnt.x, 0) AS x
        |  FROM dense LEFT JOIN cnt USING (event_type, h)),
        |st AS (SELECT event_type, COUNT(*) AS n, SUM(x) AS sx, SUM(x*x) AS ss
        |  FROM d GROUP BY 1),
        |st2 AS (SELECT event_type,
        |    CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS mean,
        |    sqrt(GREATEST(CAST(ss AS DOUBLE) / CAST(n AS DOUBLE)
        |      - (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
        |        * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)), 0.0)) AS std
        |  FROM st),
        |idx AS (SELECT d.event_type, d.h, d.x, st2.mean, st2.std,
        |    ROW_NUMBER() OVER (PARTITION BY d.event_type ORDER BY d.h) AS i
        |  FROM d JOIN st2 USING (event_type)),
        |rec AS (
        |  SELECT event_type, h, x, mean, std, i,
        |    GREATEST(0.0, 0.0 + ((CAST(x AS DOUBLE) - mean) - 0.5 * std)) AS sp,
        |    GREATEST(0.0, 0.0 + ((mean - CAST(x AS DOUBLE)) - 0.5 * std)) AS sn
        |  FROM idx WHERE i = 1
        |  UNION ALL
        |  SELECT idx.event_type, idx.h, idx.x, idx.mean, idx.std, idx.i,
        |    GREATEST(0.0, rec.sp + ((CAST(idx.x AS DOUBLE) - idx.mean) - 0.5 * idx.std)),
        |    GREATEST(0.0, rec.sn + ((idx.mean - CAST(idx.x AS DOUBLE)) - 0.5 * idx.std))
        |  FROM rec JOIN idx ON idx.event_type = rec.event_type AND idx.i = rec.i + 1)
        |SELECT event_type, h AS hour, x AS n_events,
        |  CAST(CAST(ROUND(sp, 4) AS DECIMAL(28,4)) AS DOUBLE) AS cusum_pos,
        |  CAST(CAST(ROUND(sn, 4) AS DECIMAL(28,4)) AS DOUBLE) AS cusum_neg,
        |  (sp > 4.0 * std OR sn > 4.0 * std) AS alarm
        |FROM rec
        |ORDER BY event_type, hour""".stripMargin,

    // Interval join: the oracle states the naive theta-join; the Spark
    // side computes the identical relation through the bucketed
    // equi-join decomposition — the hash gate pins the rewrite exact.
    "events_interval_join" ->
      """WITH w AS (SELECT event_id AS window_id,
        |    epoch_us(CAST(ts AS TIMESTAMP)) - 1800000000 AS lo,
        |    epoch_us(CAST(ts AS TIMESTAMP)) + 1800000000 AS hi
        |  FROM events WHERE event_type = 'purchase' AND value >= 250)
        |SELECT w.window_id,
        | COUNT(*) AS n_events,
        | COUNT(DISTINCT e.user_id) AS n_users,
        | CAST(ROUND(SUM(CAST(e.value AS DECIMAL(30,2))), 2) AS DOUBLE) AS sum_value
        |FROM w JOIN (SELECT user_id, value,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS tus FROM events) e
        |  ON e.tus >= w.lo AND e.tus < w.hi
        |GROUP BY 1
        |ORDER BY 1""".stripMargin,

    "events_asof_prev" ->
      """SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, event_type,
        | LAG(event_type) OVER w AS prev_type,
        | LAG(CAST(ts AS TIMESTAMP)) OVER w AS prev_ts,
        | epoch_us(CAST(ts AS TIMESTAMP))
        |   - epoch_us(LAG(CAST(ts AS TIMESTAMP)) OVER w) AS gap_us
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |ORDER BY user_id, event_id""".stripMargin,

    "events_funnel" ->
      raw"""WITH e AS (SELECT user_id, event_type,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS tus
        |  FROM events WHERE event_type IN ('view','click','purchase')),
        |u AS (SELECT user_id,
        |    MIN(CASE WHEN event_type = 'view' THEN tus END) AS t1
        |  FROM e GROUP BY user_id),
        |s2 AS (SELECT e.user_id, MIN(tus) AS t2
        |  FROM e JOIN u USING (user_id)
        |  WHERE event_type = 'click' AND tus > u.t1
        |    AND tus <= u.t1 + 259200000000
        |  GROUP BY e.user_id),
        |s3 AS (SELECT e.user_id, MIN(tus) AS t3
        |  FROM e JOIN s2 USING (user_id)
        |  WHERE event_type = 'purchase' AND tus > s2.t2
        |    AND tus <= s2.t2 + 259200000000
        |  GROUP BY e.user_id),
        |n AS (SELECT (SELECT COUNT(t1) FROM u) AS n1,
        |             (SELECT COUNT(*) FROM s2) AS n2,
        |             (SELECT COUNT(*) FROM s3) AS n3)
        |SELECT CAST(1 AS INT) AS step, 'view' AS step_name, n1 AS n_users,
        |  ${ratio4Sql("n1", "GREATEST(n1, 1)")}
        |    AS conversion FROM n
        |UNION ALL
        |SELECT CAST(2 AS INT), 'view>click', n2,
        |  ${ratio4Sql("n2", "GREATEST(n1, 1)")}
        |  FROM n
        |UNION ALL
        |SELECT CAST(3 AS INT), 'view>click>purchase', n3,
        |  ${ratio4Sql("n3", "GREATEST(n1, 1)")}
        |  FROM n
        |ORDER BY step""".stripMargin,

    "events_retention" ->
      raw"""WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
        |fw AS (SELECT user_id, date_trunc('week', MIN(ts)) AS cohort_week
        |  FROM e GROUP BY user_id),
        |cs AS (SELECT cohort_week, COUNT(*) AS cohort_size
        |  FROM fw GROUP BY cohort_week),
        |aw AS (SELECT DISTINCT user_id, date_trunc('week', ts) AS week FROM e),
        |m AS (SELECT f.cohort_week,
        |    CAST((epoch_us(a.week) - epoch_us(f.cohort_week)) / 604800000000 AS INT)
        |      AS week_offset,
        |    COUNT(DISTINCT a.user_id) AS n_active
        |  FROM aw a JOIN fw f USING (user_id) GROUP BY 1, 2)
        |SELECT m.cohort_week, m.week_offset, m.n_active,
        |  ${ratio4Sql("m.n_active", "c.cohort_size")}
        |    AS retention_pct
        |FROM m JOIN cs c USING (cohort_week)
        |ORDER BY m.cohort_week, m.week_offset""".stripMargin,

    "q8_market_share" ->
      """SELECT o_year,
        | CAST(ROUND(
        |   CAST(ROUND(SUM(CASE WHEN nation = 'NATION_2' THEN volume
        |                       ELSE CAST(0 AS DECIMAL(30,4)) END), 2) AS DOUBLE)
        |   / CAST(ROUND(SUM(volume), 2) AS DOUBLE), 6) AS DOUBLE) AS mkt_share,
        | CAST(ROUND(SUM(volume), 2) AS DOUBLE) AS total_volume,
        | COUNT(*) AS n_rows
        |FROM (SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS o_year,
        |        CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,4)) AS volume,
        |        n2.n_name AS nation
        |      FROM part, lineitem, orders, customer,
        |           supplier, nation n1, nation n2, region
        |      WHERE p_partkey = l_partkey AND l_orderkey = o_orderkey
        |        AND o_custkey = c_custkey AND l_suppkey = s_suppkey
        |        AND c_nationkey = n1.n_nationkey AND n1.n_regionkey = r_regionkey
        |        AND r_name = 'ASIA' AND s_nationkey = n2.n_nationkey
        |        AND p_type = 'STANDARD'
        |        AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |        AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00') t
        |GROUP BY o_year
        |ORDER BY o_year""".stripMargin,

    "q7_nation_volume" ->
      """SELECT supp_nation, cust_nation, l_year, CAST(ROUND(SUM(volume), 2) AS DOUBLE) AS revenue
        |FROM (SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |        CAST(EXTRACT(YEAR FROM l_shipdate) AS INT) AS l_year,
        |        CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,4)) AS volume
        |      FROM supplier, lineitem, orders, customer, nation n1, nation n2
        |      WHERE s_suppkey = l_suppkey AND o_orderkey = l_orderkey
        |        AND c_custkey = o_custkey AND s_nationkey = n1.n_nationkey
        |        AND c_nationkey = n2.n_nationkey
        |        AND n1.n_name IN ('NATION_1','NATION_2','NATION_3','NATION_4')
        |        AND n2.n_name IN ('NATION_1','NATION_2','NATION_3','NATION_4')
        |        AND n1.n_name <> n2.n_name) t
        |GROUP BY supp_nation, cust_nation, l_year
        |ORDER BY supp_nation, cust_nation, l_year""".stripMargin,

    "q15_top_supplier" ->
      """WITH revenue AS (
        |  SELECT l_suppkey AS supplier_no,
        |    SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,4))) AS total_revenue
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |    AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
        |  GROUP BY l_suppkey)
        |SELECT s_suppkey, s_name, CAST(ROUND(total_revenue, 2) AS DOUBLE) AS total_revenue
        |FROM supplier, revenue
        |WHERE s_suppkey = supplier_no
        |  AND total_revenue = (SELECT MAX(total_revenue) FROM revenue)
        |ORDER BY s_suppkey""".stripMargin,

    "q21_late_suppliers" ->
      """SELECT s_name, COUNT(*) AS numwait
        |FROM supplier, lineitem l1, orders
        |WHERE s_suppkey = l1.l_suppkey AND o_orderkey = l1.l_orderkey
        |  AND o_orderstatus = 'F'
        |  AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
        |  AND EXISTS (SELECT 1 FROM lineitem l2
        |              WHERE l2.l_orderkey = l1.l_orderkey
        |                AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
        |                  WHERE l3.l_orderkey = l1.l_orderkey
        |                    AND l3.l_suppkey <> l1.l_suppkey
        |                    AND l3.l_shipdate > o_orderdate + INTERVAL 60 DAY)
        |GROUP BY s_name
        |ORDER BY numwait DESC, s_name
        |LIMIT 20""".stripMargin,

    "events_asof_join" ->
      """WITH p AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, value
        |  FROM events WHERE event_type = 'purchase'),
        |c AS (SELECT user_id AS c_user_id, event_id AS click_id,
        |  CAST(ts AS TIMESTAMP) AS click_ts
        |  FROM events WHERE event_type = 'click')
        |SELECT p.user_id, p.event_id, p.ts, p.value, c.click_id, c.click_ts,
        | epoch_us(p.ts) - epoch_us(c.click_ts) AS gap_us
        |FROM p LEFT JOIN c ON p.user_id = c.c_user_id AND c.click_ts <= p.ts
        |  AND epoch_us(p.ts) - epoch_us(c.click_ts) <= 604800000000
        |QUALIFY ROW_NUMBER() OVER (PARTITION BY p.event_id
        |  ORDER BY c.click_ts DESC NULLS LAST, c.click_id DESC) = 1
        |ORDER BY p.user_id, p.event_id""".stripMargin,

    "events_asof_next" ->
      """WITH p AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, value
        |  FROM events WHERE event_type = 'purchase'),
        |c AS (SELECT user_id AS c_user_id, event_id AS click_id,
        |  CAST(ts AS TIMESTAMP) AS click_ts
        |  FROM events WHERE event_type = 'click')
        |SELECT p.user_id, p.event_id, p.ts, p.value, c.click_id, c.click_ts,
        | epoch_us(c.click_ts) - epoch_us(p.ts) AS gap_us
        |FROM p LEFT JOIN c ON p.user_id = c.c_user_id AND c.click_ts >= p.ts
        |  AND epoch_us(c.click_ts) - epoch_us(p.ts) <= 604800000000
        |QUALIFY ROW_NUMBER() OVER (PARTITION BY p.event_id
        |  ORDER BY c.click_ts ASC NULLS LAST, c.click_id ASC) = 1
        |ORDER BY p.user_id, p.event_id""".stripMargin,

    "dedup_exact" ->
      """SELECT md5(text) AS content_md5, MIN(doc_id) AS survivor_doc_id,
        | COUNT(*) AS n_copies
        |FROM documents
        |GROUP BY 1
        |ORDER BY survivor_doc_id""".stripMargin,

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

    // dedup_clusters and dedup_clusters_star are two registry names for
    // one kernel (Dedup.clusters, large-star/small-star), so they share
    // the connected-components oracle verbatim.
    "dedup_clusters" -> ClustersOracleSql,
    "dedup_clusters_star" -> ClustersOracleSql,

    "dedup_survivor_weights" -> SurvivorWeightsOracleSql,

    // Containment rides the same shingle/cap/co chain as the Jaccard
    // oracle; the 0.8 gate compares the ratio4-rounded score.
    "dedup_containment" ->
      raw"""WITH toks AS (SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS t
        |  FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id,
        |    CASE WHEN len(t) >= 3 THEN t[r.i] || ' ' || t[r.i+1] || ' ' || t[r.i+2]
        |         ELSE array_to_string(t, ' ') END AS shingle
        |  FROM toks, UNNEST(CASE WHEN len(t) >= 3 THEN range(1, len(t)-1) ELSE [1] END) AS r(i)
        |  WHERE len(t) >= 1),
        |capped AS (SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(*) <= 200),
        |uni AS (SELECT s.doc_id, s.shingle FROM sh s JOIN capped USING (shingle)),
        |sizes AS (SELECT doc_id, COUNT(*)::BIGINT AS n_sh FROM uni GROUP BY doc_id),
        |co AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*)::BIGINT AS n_common
        |       FROM uni a JOIN uni b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |       GROUP BY 1, 2),
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
      """WITH RECURSIVE toks AS (SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS t
        |  FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id,
        |    CASE WHEN len(t) >= 3 THEN t[r.i] || ' ' || t[r.i+1] || ' ' || t[r.i+2]
        |         ELSE array_to_string(t, ' ') END AS shingle
        |  FROM toks, UNNEST(CASE WHEN len(t) >= 3 THEN range(1, len(t)-1) ELSE [1] END) AS r(i)
        |  WHERE len(t) >= 1),
        |capped AS (SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(*) <= 200),
        |uni AS (SELECT s.doc_id, s.shingle FROM sh s JOIN capped USING (shingle)),
        |sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM uni GROUP BY doc_id),
        |co AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
        |       FROM uni a JOIN uni b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |       GROUP BY 1, 2),
        |pairs AS (SELECT doc_a, doc_b
        |  FROM co JOIN sizes sa ON sa.doc_id = doc_a JOIN sizes sb ON sb.doc_id = doc_b
        |  WHERE CAST(n_common AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - n_common AS DOUBLE) >= 0.5),
        |edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
        |          UNION ALL SELECT doc_b, doc_a FROM pairs),
        |reach AS (
        |  SELECT a AS v, a AS r FROM edges
        |  UNION
        |  SELECT e.a AS v, w.r FROM edges e JOIN reach w ON e.b = w.v),
        |cl AS (SELECT v AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY v)
        |SELECT d.doc_id, length(d.text)::INT AS n_chars,
        |  COALESCE(c.doc_id = c.cluster_id, FALSE) AS cluster_survivor
        |FROM documents d LEFT JOIN cl c USING (doc_id)
        |WHERE c.doc_id IS NULL OR c.doc_id = c.cluster_id
        |ORDER BY d.doc_id""".stripMargin,

    "dedup_ngram_jaccard" ->
      """WITH toks AS (SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS t
        |  FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id,
        |    CASE WHEN len(t) >= 3 THEN t[r.i] || ' ' || t[r.i+1] || ' ' || t[r.i+2]
        |         ELSE array_to_string(t, ' ') END AS shingle
        |  FROM toks, UNNEST(CASE WHEN len(t) >= 3 THEN range(1, len(t)-1) ELSE [1] END) AS r(i)
        |  WHERE len(t) >= 1),
        |capped AS (SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(*) <= 200),
        |uni AS (SELECT s.doc_id, s.shingle FROM sh s JOIN capped USING (shingle)),
        |sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM uni GROUP BY doc_id),
        |co AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
        |       FROM uni a JOIN uni b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |       GROUP BY 1, 2)
        |SELECT doc_a, doc_b,
        |  CAST(n_common AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - n_common AS DOUBLE) AS jaccard
        |FROM co JOIN sizes sa ON sa.doc_id = doc_a JOIN sizes sb ON sb.doc_id = doc_b
        |WHERE CAST(n_common AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - n_common AS DOUBLE) >= 0.5
        |ORDER BY doc_a, doc_b""".stripMargin,

    "dedup_threshold_curve" ->
      raw"""WITH toks AS (SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS t
        |  FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id,
        |    CASE WHEN len(t) >= 3 THEN t[r.i] || ' ' || t[r.i+1] || ' ' || t[r.i+2]
        |         ELSE array_to_string(t, ' ') END AS shingle
        |  FROM toks, UNNEST(CASE WHEN len(t) >= 3 THEN range(1, len(t)-1) ELSE [1] END) AS r(i)
        |  WHERE len(t) >= 1),
        |capped AS (SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(*) <= 200),
        |uni AS (SELECT s.doc_id, s.shingle FROM sh s JOIN capped USING (shingle)),
        |sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM uni GROUP BY doc_id),
        |co AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
        |       FROM uni a JOIN uni b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |       GROUP BY 1, 2),
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

    "events_weekend_contrast" ->
      raw"""WITH e AS (SELECT event_type,
        |    epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
        |    (epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 + 3) % 7 AS dow
        |  FROM events),
        |a AS (SELECT event_type,
        |    SUM(CASE WHEN dow < 5 THEN 1 ELSE 0 END)::BIGINT AS n_weekday_events,
        |    SUM(CASE WHEN dow >= 5 THEN 1 ELSE 0 END)::BIGINT AS n_weekend_events,
        |    COUNT(DISTINCT CASE WHEN dow < 5 THEN day END)::BIGINT AS n_weekday_days,
        |    COUNT(DISTINCT CASE WHEN dow >= 5 THEN day END)::BIGINT AS n_weekend_days
        |  FROM e GROUP BY 1),
        |r AS (SELECT *,
        |    (100 * n_weekday_events) // GREATEST(n_weekday_days, 1) AS wd100,
        |    (100 * n_weekend_events) // GREATEST(n_weekend_days, 1) AS we100
        |  FROM a)
        |SELECT event_type, n_weekday_events, n_weekend_events,
        | n_weekday_days, n_weekend_days,
        | CAST(wd100 AS DOUBLE) / CAST(100.0 AS DOUBLE) AS weekday_rate,
        | CAST(we100 AS DOUBLE) / CAST(100.0 AS DOUBLE) AS weekend_rate,
        | ${ratio4Sql("we100", "NULLIF(wd100, 0)")} AS weekend_ratio
        |FROM r ORDER BY event_type""".stripMargin,

    "events_streaks" ->
      raw"""WITH ud AS (SELECT DISTINCT user_id,
        |    epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day
        |  FROM events),
        |runs AS (SELECT user_id,
        |    day - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day) AS rk
        |  FROM ud),
        |st AS (SELECT user_id, rk, COUNT(*)::BIGINT AS len
        |  FROM runs GROUP BY 1, 2),
        |pu AS (SELECT user_id, MAX(len) AS max_streak,
        |    SUM(len) AS active_days FROM st GROUP BY 1),
        |tot AS (SELECT COUNT(*)::BIGINT AS n_users_total FROM pu)
        |SELECT max_streak, COUNT(*)::BIGINT AS n_users,
        | ${ratio4Sql("COUNT(*)", "t.n_users_total")} AS user_share,
        | ${ratio4Sql("SUM(active_days)", "COUNT(*)")} AS mean_active_days
        |FROM pu CROSS JOIN tot t
        |GROUP BY max_streak, t.n_users_total
        |ORDER BY max_streak""".stripMargin,

    // Lifecycle weeks ride the dau_mau epoch-week rule; the wow
    // denominator is NULL unless the prior report row is the prior
    // calendar week.
    "events_user_lifecycle" ->
      raw"""WITH uw AS (SELECT DISTINCT user_id,
        |    (epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 + 3) // 7 AS wk
        |  FROM events),
        |st AS (SELECT user_id, wk,
        |    LAG(wk) OVER w AS prev_wk, LEAD(wk) OVER w AS next_wk
        |  FROM uw WINDOW w AS (PARTITION BY user_id ORDER BY wk)),
        |cl AS (SELECT wk,
        |    CASE WHEN prev_wk IS NULL THEN 'new'
        |         WHEN prev_wk = wk - 1 THEN 'retained'
        |         ELSE 'resurrected' END AS state,
        |    (next_wk IS NULL OR next_wk <> wk + 1) AS churning
        |  FROM st),
        |wkly AS (SELECT wk, COUNT(*)::BIGINT AS n_active,
        |    SUM(CASE WHEN state = 'new' THEN 1 ELSE 0 END)::BIGINT AS n_new,
        |    SUM(CASE WHEN state = 'retained' THEN 1 ELSE 0 END)::BIGINT
        |      AS n_retained,
        |    SUM(CASE WHEN state = 'resurrected' THEN 1 ELSE 0 END)::BIGINT
        |      AS n_resurrected,
        |    SUM(CASE WHEN churning THEN 1 ELSE 0 END)::BIGINT AS n_churning
        |  FROM cl GROUP BY wk),
        |fin AS (SELECT *, LAG(wk) OVER (ORDER BY wk) AS pwk,
        |    LAG(n_active) OVER (ORDER BY wk) AS pact FROM wkly)
        |SELECT DATE '1970-01-01' + CAST(wk * 7 - 3 AS INT) AS week,
        | n_active, n_new, n_retained, n_resurrected, n_churning,
        | ${ratio4Sql("n_retained",
            "NULLIF(CASE WHEN pwk = wk - 1 THEN pact END, 0)")} AS wow_retention
        |FROM fin ORDER BY week""".stripMargin,

    // TVD drift: every cross-multiple rides HUGEINT (the DECIMAL(38,0)
    // stand-in), mirroring the Spark side's decimal casts; the 0.1
    // alarm compares the SAME ratio4-presented double in both engines.
    "events_dist_drift" ->
      raw"""WITH e AS (SELECT event_type,
        |    epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
        |    CAST(floor(value / 25.0) AS BIGINT) AS bucket
        |  FROM events),
        |b AS (SELECT MIN(day) AS lo, MAX(day) AS hi FROM e),
        |cells AS (SELECT event_type, bucket,
        |    SUM(CASE WHEN day > (lo + hi) // 2 THEN 0 ELSE 1 END)::BIGINT AS c1,
        |    SUM(CASE WHEN day > (lo + hi) // 2 THEN 1 ELSE 0 END)::BIGINT AS c2
        |  FROM e, b GROUP BY 1, 2),
        |sc AS (SELECT event_type, bucket, c1, c2,
        |    SUM(c1) OVER (PARTITION BY event_type) AS n1,
        |    SUM(c2) OVER (PARTITION BY event_type) AS n2,
        |    abs(CAST(c1 AS HUGEINT) * SUM(c2) OVER (PARTITION BY event_type)
        |      - CAST(c2 AS HUGEINT) * SUM(c1) OVER (PARTITION BY event_type)) AS m
        |  FROM cells),
        |ag AS (SELECT event_type, CAST(MAX(n1) AS BIGINT) AS n1,
        |    CAST(MAX(n2) AS BIGINT) AS n2,
        |    COUNT(*)::BIGINT AS n_buckets, SUM(m) AS mm
        |  FROM sc GROUP BY 1),
        |tp AS (SELECT event_type, bucket, m FROM (
        |    SELECT event_type, bucket, m,
        |      ROW_NUMBER() OVER (PARTITION BY event_type
        |        ORDER BY m DESC, bucket) AS rn
        |    FROM sc) WHERE rn = 1)
        |SELECT a.event_type, a.n1, a.n2, a.n_buckets,
        | ${ratio4Sql("a.mm",
            "NULLIF(2 * CAST(a.n1 AS HUGEINT) * CAST(a.n2 AS HUGEINT), 0)")} AS tvd,
        | (${ratio4Sql("a.mm",
            "NULLIF(2 * CAST(a.n1 AS HUGEINT) * CAST(a.n2 AS HUGEINT), 0)")} >= 0.1)
        |   AS drifted,
        | CAST(t.bucket AS DOUBLE) * 25.0 AS top_bucket,
        | ${ratio4Sql("t.m",
            "NULLIF(CAST(a.n1 AS HUGEINT) * CAST(a.n2 AS HUGEINT), 0)")} AS top_shift
        |FROM ag a JOIN tp t USING (event_type)
        |ORDER BY a.event_type""".stripMargin,

    "text_lang_mix" ->
      raw"""WITH t AS (SELECT doc_id, text, source,
        |    string_split_regex(lower(text), '\s+') AS toks FROM documents),
        |s AS (SELECT doc_id, text, source, toks,
        |    CAST(GREATEST(len(toks), 1) AS DOUBLE) AS n FROM t),
        |sc AS (SELECT doc_id, source,
        |    CAST(len(list_filter(toks, x -> list_contains(
        |      ['the','and','of','to','is','that','with','for'], x))) AS DOUBLE) / n AS s_en,
        |    CAST(len(list_filter(toks, x -> list_contains(
        |      ['der','die','das','und','ist','nicht','ein','mit'], x))) AS DOUBLE) / n AS s_de,
        |    CAST(len(list_filter(toks, x -> list_contains(
        |      ['le','la','les','et','est','pas','une','dans'], x))) AS DOUBLE) / n AS s_fr,
        |    CAST(len(list_filter(toks, x -> list_contains(
        |      ['el','los','las','es','y','no','una','por'], x))) AS DOUBLE) / n AS s_es,
        |    CAST(length(text) - length(regexp_replace(text, '[\x{4e00}-\x{9fff}]', '', 'g'))
        |      AS DOUBLE) / CAST(GREATEST(length(text), 1) AS DOUBLE) AS cjk
        |  FROM s),
        |lng AS (
        |  SELECT doc_id, source, cjk, MAX(b) AS best FROM (
        |    SELECT doc_id, source, cjk, {'score': s_en, 'lang': 'en'} AS b FROM sc
        |    UNION ALL SELECT doc_id, source, cjk, {'score': s_de, 'lang': 'de'} FROM sc
        |    UNION ALL SELECT doc_id, source, cjk, {'score': s_fr, 'lang': 'fr'} FROM sc
        |    UNION ALL SELECT doc_id, source, cjk, {'score': s_es, 'lang': 'es'} FROM sc) u
        |  GROUP BY doc_id, source, cjk),
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
        |    CAST(len(list_filter(toks, x -> list_contains(
        |      ['the','and','of','to','is','that','with','for'], x))) AS BIGINT) AS c_en,
        |    CAST(len(list_filter(toks, x -> list_contains(
        |      ['der','die','das','und','ist','nicht','ein','mit'], x))) AS BIGINT) AS c_de,
        |    CAST(len(list_filter(toks, x -> list_contains(
        |      ['le','la','les','et','est','pas','une','dans'], x))) AS BIGINT) AS c_fr,
        |    CAST(len(list_filter(toks, x -> list_contains(
        |      ['el','los','las','es','y','no','una','por'], x))) AS BIGINT) AS c_es,
        |    CAST(length(text) - length(regexp_replace(text, '[\x{4e00}-\x{9fff}]', '', 'g'))
        |      AS BIGINT) AS cjk_c,
        |    CAST(GREATEST(length(text), 1) AS BIGINT) AS n_chars
        |  FROM s),
        |lng AS (
        |  SELECT doc_id, cjk_c, n_chars, n, MAX(b) AS best FROM (
        |    SELECT doc_id, cjk_c, n_chars, n, {'n': c_en, 'lang': 'en'} AS b FROM sc
        |    UNION ALL SELECT doc_id, cjk_c, n_chars, n, {'n': c_de, 'lang': 'de'} FROM sc
        |    UNION ALL SELECT doc_id, cjk_c, n_chars, n, {'n': c_fr, 'lang': 'fr'} FROM sc
        |    UNION ALL SELECT doc_id, cjk_c, n_chars, n, {'n': c_es, 'lang': 'es'} FROM sc) u
        |  GROUP BY doc_id, cjk_c, n_chars, n)
        |SELECT doc_id,
        |  CASE WHEN CAST(cjk_c AS DOUBLE) / CAST(n_chars AS DOUBLE) > 0.3
        |    THEN 'zh' ELSE best.lang END AS pred_lang,
        |  CASE WHEN CAST(cjk_c AS DOUBLE) / CAST(n_chars AS DOUBLE) > 0.3
        |    THEN ${ratio4Sql("cjk_c", "n_chars")}
        |    ELSE ${ratio4Sql("best.n", "n")} END AS pred_score
        |FROM lng ORDER BY doc_id""".stripMargin,

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
        |c AS (SELECT format, COUNT(*)::BIGINT AS n_items,
        |    SUM(n_bytes)::BIGINT AS total_bytes,
        |    CAST(FLOOR(sqrt(CAST(SUM(n_bytes) AS DOUBLE)) * 1048576.0) AS BIGINT) AS w_q
        |  FROM b GROUP BY format),
        |t AS (SELECT SUM(w_q) AS w_total, SUM(total_bytes) AS corpus_bytes FROM c),
        |r AS (SELECT c.format, c.n_items, c.total_bytes,
        |    CAST(((CAST(corpus_bytes AS HUGEINT) // 2) * CAST(w_q AS HUGEINT))
        |      // CAST(w_total AS HUGEINT) AS BIGINT) AS target_bytes
        |  FROM c, t),
        |r2 AS (SELECT format, n_items, total_bytes, target_bytes,
        |    LEAST(1000000, CAST((CAST(target_bytes AS HUGEINT) * 1000000)
        |      // CAST(total_bytes AS HUGEINT) AS BIGINT)) AS rate_ppm
        |  FROM r),
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

    // The curation funnel: the per-stage oracles composed into one
    // statement — the dedup recursive-CTE chain (dedup_survivors), the
    // quality score (text_quality), the language argmax (text_langid),
    // the 8-gram hit flag (text_decontaminate), and the md5-bucket
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

    // sampler (sample_stratified), each verbatim.
    "curation_report" ->
      raw"""WITH RECURSIVE toks3 AS (SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS t
        |  FROM documents),
        |sh3 AS (
        |  SELECT DISTINCT doc_id,
        |    CASE WHEN len(t) >= 3 THEN t[r.i] || ' ' || t[r.i+1] || ' ' || t[r.i+2]
        |         ELSE array_to_string(t, ' ') END AS shingle
        |  FROM toks3, UNNEST(CASE WHEN len(t) >= 3 THEN range(1, len(t)-1) ELSE [1] END) AS r(i)
        |  WHERE len(t) >= 1),
        |capped AS (SELECT shingle FROM sh3 GROUP BY shingle HAVING COUNT(*) <= 200),
        |uni AS (SELECT s.doc_id, s.shingle FROM sh3 s JOIN capped USING (shingle)),
        |sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM uni GROUP BY doc_id),
        |co AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
        |       FROM uni a JOIN uni b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |       GROUP BY 1, 2),
        |prs AS (SELECT doc_a, doc_b
        |  FROM co JOIN sizes sa ON sa.doc_id = doc_a JOIN sizes sb ON sb.doc_id = doc_b
        |  WHERE CAST(n_common AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - n_common AS DOUBLE) >= 0.5),
        |edges AS (SELECT doc_a AS a, doc_b AS b FROM prs
        |          UNION ALL SELECT doc_b, doc_a FROM prs),
        |reach AS (
        |  SELECT a AS v, a AS r FROM edges
        |  UNION
        |  SELECT e.a AS v, w.r FROM edges e JOIN reach w ON e.b = w.v),
        |cl AS (SELECT v AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY v),
        |qt AS (SELECT doc_id,
        |  string_split_regex(lower(text), '\s+') AS toks,
        |  CAST(length(text) AS DOUBLE) AS n_chars,
        |  CAST(length(regexp_replace(lower(text), '[a-z0-9\s]', '', 'g')) AS DOUBLE) AS punct
        |  FROM documents),
        |qs AS (SELECT doc_id, n_chars, punct,
        |  CAST(len(toks) AS DOUBLE) AS n_toks,
        |  CAST(len(list_filter(toks, x -> list_contains(
        |    ['the','a','an','and','or','of','to','in','is','it','on','for'], x))) AS DOUBLE) AS stops
        |  FROM qt),
        |qq AS (SELECT doc_id,
        |  CAST(CAST(ROUND(
        |    LEAST(n_chars / 500.0, 1.0) * 0.4
        |    + LEAST(stops / GREATEST(n_toks * 0.05, 1.0), 1.0) * 0.4
        |    + GREATEST(1.0 - punct / GREATEST(n_chars * 0.1, 1.0), 0.0) * 0.2, 4)
        |    AS DECIMAL(10,4)) AS DOUBLE) AS quality_score
        |  FROM qs),
        |lt AS (SELECT doc_id, text,
        |    string_split_regex(lower(text), '\s+') AS toks FROM documents),
        |ls AS (SELECT doc_id, text, toks,
        |    CAST(GREATEST(len(toks), 1) AS DOUBLE) AS n FROM lt),
        |lsc AS (SELECT doc_id,
        |    CAST(len(list_filter(toks, x -> list_contains(
        |      ['the','and','of','to','is','that','with','for'], x))) AS DOUBLE) / n AS s_en,
        |    CAST(len(list_filter(toks, x -> list_contains(
        |      ['der','die','das','und','ist','nicht','ein','mit'], x))) AS DOUBLE) / n AS s_de,
        |    CAST(len(list_filter(toks, x -> list_contains(
        |      ['le','la','les','et','est','pas','une','dans'], x))) AS DOUBLE) / n AS s_fr,
        |    CAST(len(list_filter(toks, x -> list_contains(
        |      ['el','los','las','es','y','no','una','por'], x))) AS DOUBLE) / n AS s_es,
        |    CAST(length(text) - length(regexp_replace(text, '[\x{4e00}-\x{9fff}]', '', 'g'))
        |      AS DOUBLE) / CAST(GREATEST(length(text), 1) AS DOUBLE) AS cjk
        |  FROM ls),
        |llng AS (
        |  SELECT doc_id, cjk, MAX(b) AS best FROM (
        |    SELECT doc_id, cjk, {'score': s_en, 'lang': 'en'} AS b FROM lsc
        |    UNION ALL SELECT doc_id, cjk, {'score': s_de, 'lang': 'de'} FROM lsc
        |    UNION ALL SELECT doc_id, cjk, {'score': s_fr, 'lang': 'fr'} FROM lsc
        |    UNION ALL SELECT doc_id, cjk, {'score': s_es, 'lang': 'es'} FROM lsc) u
        |  GROUP BY doc_id, cjk),
        |lpred AS (SELECT doc_id,
        |    CASE WHEN cjk > 0.3 THEN 'zh' ELSE best.lang END AS pred_lang
        |  FROM llng),
        |dsh AS (
        |  SELECT DISTINCT doc_id,
        |    CASE WHEN len(t) >= 8
        |      THEN t[r.i]||' '||t[r.i+1]||' '||t[r.i+2]||' '||t[r.i+3]||' '
        |           ||t[r.i+4]||' '||t[r.i+5]||' '||t[r.i+6]||' '||t[r.i+7]
        |      ELSE array_to_string(t, ' ') END AS ngram
        |  FROM toks3, UNNEST(CASE WHEN len(t) >= 8 THEN range(1, len(t)-6) ELSE [1] END) AS r(i)
        |  WHERE len(t) >= 1),
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
        |ORDER BY stage""".stripMargin,

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
        |c AS (SELECT format, SUM(nb)::BIGINT AS fmt_bytes,
        |    CAST(FLOOR(sqrt(CAST(SUM(nb) AS DOUBLE)) * 1048576.0) AS BIGINT) AS w_q
        |  FROM itb WHERE s2 GROUP BY format),
        |t AS (SELECT SUM(w_q) AS w_total, SUM(fmt_bytes) AS dedup_bytes FROM c),
        |r AS (SELECT format, fmt_bytes,
        |    CAST(((CAST(dedup_bytes AS HUGEINT) // 2) * CAST(w_q AS HUGEINT))
        |      // CAST(w_total AS HUGEINT) AS BIGINT) AS target_bytes
        |  FROM c, t),
        |r2 AS (SELECT format,
        |    LEAST(1000000, CAST((CAST(target_bytes AS HUGEINT) * 1000000)
        |      // CAST(fmt_bytes AS HUGEINT) AS BIGINT)) AS rate_ppm
        |  FROM r),
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
        |ORDER BY m.doc_id""".stripMargin,

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

    "text_decontaminate" ->
      raw"""WITH toks AS (SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS t
        |  FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id,
        |    CASE WHEN len(t) >= 8
        |      THEN t[r.i]||' '||t[r.i+1]||' '||t[r.i+2]||' '||t[r.i+3]||' '
        |           ||t[r.i+4]||' '||t[r.i+5]||' '||t[r.i+6]||' '||t[r.i+7]
        |      ELSE array_to_string(t, ' ') END AS ngram
        |  FROM toks, UNNEST(CASE WHEN len(t) >= 8 THEN range(1, len(t)-6) ELSE [1] END) AS r(i)
        |  WHERE len(t) >= 1),
        |ev AS (SELECT DISTINCT ngram FROM sh WHERE doc_id % 20 = 0),
        |tr AS (SELECT doc_id, ngram FROM sh WHERE doc_id % 20 <> 0),
        |n AS (SELECT doc_id, COUNT(*)::INT AS n_ngrams FROM tr GROUP BY doc_id),
        |h AS (SELECT doc_id, COUNT(*) AS n_hits FROM tr JOIN ev USING (ngram) GROUP BY doc_id)
        |SELECT n.doc_id, n.n_ngrams, COALESCE(h.n_hits, 0) AS n_hits,
        |  ${ratio4Sql("COALESCE(h.n_hits, 0)", "GREATEST(n.n_ngrams, 1)")} AS contamination,
        |  COALESCE(h.n_hits, 0) > 0 AS contaminated
        |FROM n LEFT JOIN h USING (doc_id)
        |ORDER BY n.doc_id""".stripMargin,

    "text_contamination_matrix" ->
      raw"""WITH toks AS (SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS t
        |  FROM documents),
        |src AS (SELECT doc_id, source FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id,
        |    CASE WHEN len(t) >= 8
        |      THEN t[r.i]||' '||t[r.i+1]||' '||t[r.i+2]||' '||t[r.i+3]||' '
        |           ||t[r.i+4]||' '||t[r.i+5]||' '||t[r.i+6]||' '||t[r.i+7]
        |      ELSE array_to_string(t, ' ') END AS ngram
        |  FROM toks, UNNEST(CASE WHEN len(t) >= 8 THEN range(1, len(t)-6) ELSE [1] END) AS r(i)
        |  WHERE len(t) >= 1),
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
        |ORDER BY d.source, d.benchmark""".stripMargin,

    "text_novelty" ->
      raw"""WITH toks AS (SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS t
        |  FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id,
        |    CASE WHEN len(t) >= 8
        |      THEN t[r.i]||' '||t[r.i+1]||' '||t[r.i+2]||' '||t[r.i+3]||' '
        |           ||t[r.i+4]||' '||t[r.i+5]||' '||t[r.i+6]||' '||t[r.i+7]
        |      ELSE array_to_string(t, ' ') END AS ngram
        |  FROM toks, UNNEST(CASE WHEN len(t) >= 8 THEN range(1, len(t)-6) ELSE [1] END) AS r(i)
        |  WHERE len(t) >= 1),
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
        |ORDER BY d.doc_id""".stripMargin,

    "text_quality_curve" ->
      raw"""WITH t AS (SELECT doc_id, text,
        |  string_split_regex(lower(text), '\s+') AS toks,
        |  CAST(length(text) AS DOUBLE) AS n_chars,
        |  CAST(length(regexp_replace(lower(text), '[a-z0-9\s]', '', 'g')) AS DOUBLE) AS punct,
        |  CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE) AS digits
        |  FROM documents),
        |s AS (SELECT *,
        |  CAST(len(toks) AS DOUBLE) AS n_toks,
        |  CAST(len(list_filter(toks, x -> list_contains(
        |    ['the','a','an','and','or','of','to','in','is','it','on','for'], x))) AS DOUBLE) AS stops
        |  FROM t),
        |sc AS (SELECT doc_id, CAST(n_toks AS BIGINT) AS n_tokens,
        | CAST(CAST(ROUND(
        |   LEAST(n_chars / 500.0, 1.0) * 0.4
        |   + LEAST(stops / GREATEST(n_toks * 0.05, 1.0), 1.0) * 0.4
        |   + GREATEST(1.0 - punct / GREATEST(n_chars * 0.1, 1.0), 0.0) * 0.2, 4)
        |   AS DECIMAL(10,4)) AS DOUBLE) AS score
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

    "events_dau_mau" ->
      raw"""WITH e AS (SELECT
        |    epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
        |    (epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 + 3) // 7 AS wk,
        |    year(CAST(ts AS TIMESTAMP)) * 12 + month(CAST(ts AS TIMESTAMP)) AS mon,
        |    user_id FROM events),
        |d AS (SELECT day, MAX(wk) AS wk, MAX(mon) AS mon,
        |    COUNT(DISTINCT user_id)::BIGINT AS dau FROM e GROUP BY 1),
        |w AS (SELECT wk, COUNT(DISTINCT user_id)::BIGINT AS wau FROM e GROUP BY 1),
        |m AS (SELECT mon, COUNT(DISTINCT user_id)::BIGINT AS mau FROM e GROUP BY 1)
        |SELECT CAST(DATE '1970-01-01' + CAST(day AS INT) AS DATE) AS day,
        | dau, wau, mau,
        | ${ratio4Sql("dau", "wau")} AS dau_wau,
        | ${ratio4Sql("dau", "mau")} AS dau_mau
        |FROM d JOIN w USING (wk) JOIN m USING (mon) ORDER BY day""".stripMargin,

    "events_sessionize_native" ->
      """WITH e AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, value,
        |  LAG(CAST(ts AS TIMESTAMP)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        |  FROM events),
        |flagged AS (SELECT *, CASE WHEN prev_ts IS NULL
        |    OR epoch_us(ts) - epoch_us(prev_ts) > 1800000000 THEN 1 ELSE 0 END AS new_session
        |  FROM e),
        |sess AS (SELECT *, CAST(SUM(new_session) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
        |  FROM flagged)
        |SELECT user_id,
        | MIN(ts) AS session_start, MAX(ts) AS session_end,
        | COUNT(*) AS n_events,
        | CAST(ROUND(SUM(CAST(value AS DECIMAL(30,2))), 2) AS DOUBLE) AS sum_value
        |FROM sess GROUP BY user_id, session_seq
        |ORDER BY user_id, session_start""".stripMargin,

    "events_session_stats" ->
      raw"""WITH e AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
        |  LAG(CAST(ts AS TIMESTAMP)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        |  FROM events),
        |flagged AS (SELECT *, CASE WHEN prev_ts IS NULL
        |    OR epoch_us(ts) - epoch_us(prev_ts) > 1800000000 THEN 1 ELSE 0 END AS new_session
        |  FROM e),
        |sess AS (SELECT *, CAST(SUM(new_session) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
        |  FROM flagged),
        |s AS (SELECT user_id, session_seq, COUNT(*)::BIGINT AS n_events,
        |    (epoch_us(MAX(ts)) - epoch_us(MIN(ts)))::BIGINT AS dur_us
        |  FROM sess GROUP BY 1, 2),
        |byn AS (SELECT n_events, COUNT(*)::BIGINT AS n_sessions,
        |    SUM(dur_us)::BIGINT AS sum_us FROM s GROUP BY 1),
        |t AS (SELECT SUM(n_sessions)::BIGINT AS total_sessions FROM byn)
        |SELECT n_events, n_sessions,
        | ${ratio4Sql("n_sessions", "total_sessions")}
        |   AS session_share,
        | CAST(sum_us // 1000000 AS BIGINT) AS total_duration_s,
        | CAST(CAST(sum_us // n_sessions AS BIGINT) AS DOUBLE)
        |   / CAST(1000000.0 AS DOUBLE) AS avg_duration_s
        |FROM byn CROSS JOIN t ORDER BY n_events""".stripMargin,

    "nation_year_growth" ->
      raw"""WITH li AS (SELECT s_nationkey,
        |    year(CAST(l_shipdate AS TIMESTAMP)) AS yr,
        |    CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,4)) AS rev
        |  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey),
        |cell AS (SELECT s_nationkey, yr, COUNT(*)::BIGINT AS n_lines,
        |    SUM(rev) AS rev_dec FROM li GROUP BY 1, 2),
        |w AS (SELECT *, LAG(rev_dec) OVER (PARTITION BY s_nationkey
        |    ORDER BY yr) AS prev_dec FROM cell)
        |SELECT n_name AS nation, CAST(yr AS INT) AS year, n_lines,
        | CAST(ROUND(rev_dec, 2) AS DOUBLE) AS revenue,
        | ${ratio4Sql("(rev_dec - prev_dec) * 10000", "prev_dec * 10000")}
        |   AS yoy_growth
        |FROM w JOIN nation ON s_nationkey = n_nationkey
        |ORDER BY nation, year""".stripMargin,

    "fk_integrity" ->
      raw"""WITH e1 AS (SELECT 'customer.c_nationkey -> nation' AS relationship,
        |    COUNT(*)::BIGINT AS n_child,
        |    CAST(SUM(CASE WHEN n.n_nationkey IS NULL THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_orphans
        |  FROM customer c LEFT JOIN (SELECT DISTINCT n_nationkey FROM nation) n
        |    ON n.n_nationkey = c.c_nationkey),
        |e2 AS (SELECT 'lineitem.l_orderkey -> orders' AS relationship,
        |    COUNT(*)::BIGINT AS n_child,
        |    CAST(SUM(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_orphans
        |  FROM lineitem l LEFT JOIN (SELECT DISTINCT o_orderkey FROM orders) o
        |    ON o.o_orderkey = l.l_orderkey),
        |e3 AS (SELECT 'nation.n_regionkey -> region' AS relationship,
        |    COUNT(*)::BIGINT AS n_child,
        |    CAST(SUM(CASE WHEN r.r_regionkey IS NULL THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_orphans
        |  FROM nation n LEFT JOIN (SELECT DISTINCT r_regionkey FROM region) r
        |    ON r.r_regionkey = n.n_regionkey),
        |e4 AS (SELECT 'orders.o_custkey -> customer' AS relationship,
        |    COUNT(*)::BIGINT AS n_child,
        |    CAST(SUM(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_orphans
        |  FROM orders o LEFT JOIN (SELECT DISTINCT c_custkey FROM customer) c
        |    ON c.c_custkey = o.o_custkey),
        |e5 AS (SELECT 'supplier.s_nationkey -> nation' AS relationship,
        |    COUNT(*)::BIGINT AS n_child,
        |    CAST(SUM(CASE WHEN n.n_nationkey IS NULL THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_orphans
        |  FROM supplier s LEFT JOIN (SELECT DISTINCT n_nationkey FROM nation) n
        |    ON n.n_nationkey = s.s_nationkey),
        |u AS (SELECT * FROM e1 UNION ALL SELECT * FROM e2
        |  UNION ALL SELECT * FROM e3 UNION ALL SELECT * FROM e4
        |  UNION ALL SELECT * FROM e5)
        |SELECT relationship, n_child, n_orphans,
        |  ${ratio4Sql("n_orphans", "GREATEST(n_child, 1)")}
        |    AS orphan_share
        |FROM u ORDER BY relationship""".stripMargin,

    "table_profile" ->
      """WITH n AS (SELECT COUNT(*)::BIGINT AS n_rows FROM orders)
        |SELECT 'o_custkey' AS "column", n_rows,
        |  (SELECT n_rows - COUNT(o_custkey) FROM orders)::BIGINT AS n_nulls,
        |  (SELECT COUNT(DISTINCT o_custkey) FROM orders)::BIGINT AS n_distinct,
        |  (SELECT CAST(MIN(o_custkey) AS VARCHAR) FROM orders) AS min_value,
        |  (SELECT CAST(MAX(o_custkey) AS VARCHAR) FROM orders) AS max_value
        |FROM n
        |UNION ALL SELECT 'o_orderdate', n_rows,
        |  (SELECT n_rows - COUNT(o_orderdate) FROM orders)::BIGINT,
        |  (SELECT COUNT(DISTINCT o_orderdate) FROM orders)::BIGINT,
        |  (SELECT strftime(MIN(CAST(o_orderdate AS TIMESTAMP)),
        |     '%Y-%m-%d %H:%M:%S') FROM orders),
        |  (SELECT strftime(MAX(CAST(o_orderdate AS TIMESTAMP)),
        |     '%Y-%m-%d %H:%M:%S') FROM orders)
        |FROM n
        |UNION ALL SELECT 'o_orderkey', n_rows,
        |  (SELECT n_rows - COUNT(o_orderkey) FROM orders)::BIGINT,
        |  (SELECT COUNT(DISTINCT o_orderkey) FROM orders)::BIGINT,
        |  (SELECT CAST(MIN(o_orderkey) AS VARCHAR) FROM orders),
        |  (SELECT CAST(MAX(o_orderkey) AS VARCHAR) FROM orders)
        |FROM n
        |UNION ALL SELECT 'o_orderpriority', n_rows,
        |  (SELECT n_rows - COUNT(o_orderpriority) FROM orders)::BIGINT,
        |  (SELECT COUNT(DISTINCT o_orderpriority) FROM orders)::BIGINT,
        |  (SELECT MIN(o_orderpriority) FROM orders),
        |  (SELECT MAX(o_orderpriority) FROM orders)
        |FROM n
        |UNION ALL SELECT 'o_orderstatus', n_rows,
        |  (SELECT n_rows - COUNT(o_orderstatus) FROM orders)::BIGINT,
        |  (SELECT COUNT(DISTINCT o_orderstatus) FROM orders)::BIGINT,
        |  (SELECT MIN(o_orderstatus) FROM orders),
        |  (SELECT MAX(o_orderstatus) FROM orders)
        |FROM n
        |UNION ALL SELECT 'o_totalprice', n_rows,
        |  (SELECT n_rows - COUNT(o_totalprice) FROM orders)::BIGINT,
        |  (SELECT COUNT(DISTINCT o_totalprice) FROM orders)::BIGINT,
        |  (SELECT printf('%.2f', MIN(o_totalprice)) FROM orders),
        |  (SELECT printf('%.2f', MAX(o_totalprice)) FROM orders)
        |FROM n
        |ORDER BY "column"""".stripMargin,

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

    "events_conversion_lag" ->
      raw"""WITH e AS (SELECT user_id, event_type,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS tus
        |  FROM events WHERE event_type IN ('view','click')),
        |u AS (SELECT user_id,
        |    MIN(CASE WHEN event_type = 'view' THEN tus END) AS t1
        |  FROM e GROUP BY user_id),
        |s2 AS (SELECT e.user_id, MIN(tus) AS t2
        |  FROM e JOIN u USING (user_id)
        |  WHERE event_type = 'click' AND tus > u.t1
        |    AND tus <= u.t1 + 259200000000
        |  GROUP BY e.user_id),
        |lags AS (SELECT (t2 - t1) // 3600000000 AS lag_hours
        |  FROM s2 JOIN u USING (user_id)),
        |t AS (SELECT COUNT(*)::BIGINT AS n_converters FROM lags)
        |SELECT CAST(lag_hours AS BIGINT) AS lag_hours,
        | COUNT(*)::BIGINT AS n_users,
        | ${ratio4Sql("COUNT(*)", "ANY_VALUE(n_converters)")} AS share
        |FROM lags CROSS JOIN t GROUP BY 1 ORDER BY 1""".stripMargin,

    "events_session_mix" ->
      raw"""WITH e AS (SELECT user_id, event_id, event_type,
        |  CAST(ts AS TIMESTAMP) AS ts,
        |  LAG(CAST(ts AS TIMESTAMP)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        |  FROM events),
        |flagged AS (SELECT *, CASE WHEN prev_ts IS NULL
        |    OR epoch_us(ts) - epoch_us(prev_ts) > 1800000000 THEN 1 ELSE 0 END AS new_session
        |  FROM e),
        |sess AS (SELECT *, CAST(SUM(new_session) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
        |  FROM flagged),
        |s AS (SELECT user_id, session_seq,
        |    string_agg(DISTINCT event_type, '+' ORDER BY event_type) AS mix,
        |    COUNT(*)::BIGINT AS n_events
        |  FROM sess GROUP BY 1, 2),
        |t AS (SELECT COUNT(*)::BIGINT AS total_sessions FROM s)
        |SELECT mix, COUNT(*)::BIGINT AS n_sessions,
        | ${ratio4Sql("COUNT(*)", "ANY_VALUE(total_sessions)")} AS session_share,
        | CAST(CAST((100 * SUM(n_events)) // COUNT(*) AS BIGINT) AS DOUBLE)
        |   / CAST(100.0 AS DOUBLE) AS avg_events
        |FROM s CROSS JOIN t GROUP BY mix ORDER BY mix""".stripMargin,

    "events_growth_curve" ->
      raw"""WITH e AS (SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
        |    user_id FROM events),
        |fd AS (SELECT user_id, MIN(day) AS day FROM e GROUP BY 1),
        |nb AS (SELECT day, COUNT(*)::BIGINT AS new_users FROM fd GROUP BY 1),
        |d AS (SELECT day, COUNT(*)::BIGINT AS dau
        |  FROM (SELECT DISTINCT day, user_id FROM e) GROUP BY 1),
        |j AS (SELECT d.day, COALESCE(new_users, 0)::BIGINT AS new_users, dau
        |  FROM d LEFT JOIN nb ON d.day = nb.day),
        |c AS (SELECT *, CAST(SUM(new_users) OVER (ORDER BY day) AS BIGINT)
        |    AS cum_users FROM j)
        |SELECT CAST(DATE '1970-01-01' + CAST(day AS INT) AS DATE) AS day,
        | new_users, dau - new_users AS returning_users, dau, cum_users,
        | ${ratio4Sql("dau", "cum_users")} AS active_share
        |FROM c ORDER BY day""".stripMargin,

    "events_activity_islands" ->
      """WITH h AS (SELECT event_type,
        |    epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000 AS hr,
        |    COUNT(*)::BIGINT AS c FROM events GROUP BY 1, 2),
        |m AS (SELECT event_type, SUM(c)::BIGINT AS n_ev,
        |    (MAX(hr) - MIN(hr) + 1)::BIGINT AS hh FROM h GROUP BY 1),
        |hot AS (SELECT h.event_type, hr, c FROM h JOIN m
        |  ON h.event_type = m.event_type WHERE c * hh > n_ev),
        |runs AS (SELECT *, hr - row_number() OVER (
        |    PARTITION BY event_type ORDER BY hr) AS run_key FROM hot)
        |SELECT event_type,
        | make_timestamp(MIN(hr) * 3600000000) AS island_start,
        | make_timestamp((MAX(hr) + 1) * 3600000000) AS island_end,
        | COUNT(*)::BIGINT AS n_hours, SUM(c)::BIGINT AS n_events
        |FROM runs GROUP BY event_type, run_key
        |ORDER BY event_type, island_start""".stripMargin,

    "order_cadence" ->
      """WITH g AS (SELECT o_custkey,
        |    date_diff('day',
        |      lag(CAST(o_orderdate AS TIMESTAMP)) OVER (
        |        PARTITION BY o_custkey
        |        ORDER BY CAST(o_orderdate AS TIMESTAMP), o_orderkey),
        |      CAST(o_orderdate AS TIMESTAMP))::BIGINT AS gap_days
        |  FROM orders),
        |j AS (SELECT c_mktsegment, gap_days FROM g
        |  JOIN customer ON o_custkey = c_custkey WHERE gap_days IS NOT NULL)
        |SELECT c_mktsegment AS segment, COUNT(*)::BIGINT AS n_gaps,
        | CAST(CAST((100 * SUM(gap_days)) // COUNT(*) AS BIGINT) AS DOUBLE)
        |   / CAST(100.0 AS DOUBLE) AS avg_gap_days,
        | MIN(gap_days) AS min_days, MAX(gap_days) AS max_days,
        | quantile_cont(gap_days, 0.5) AS p50_days,
        | SUM(CASE WHEN gap_days = 0 THEN 1 ELSE 0 END)::BIGINT AS n_same_day
        |FROM j GROUP BY 1 ORDER BY 1""".stripMargin,

    "events_autocorr" ->
      """WITH h AS (SELECT event_type,
        |    epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000 AS hr,
        |    COUNT(*)::BIGINT AS c FROM events GROUP BY 1, 2),
        |adj AS (SELECT a.event_type, SUM(a.c * b.c)::BIGINT AS sxy
        |  FROM h a JOIN h b ON a.event_type = b.event_type AND b.hr = a.hr + 1
        |  GROUP BY 1),
        |m AS (SELECT event_type, SUM(c)::BIGINT AS n_ev,
        |    (MAX(hr) - MIN(hr) + 1)::BIGINT AS hh,
        |    SUM(c * c)::BIGINT AS sc2,
        |    MIN(hr) AS hr0, MAX(hr) AS hr1 FROM h GROUP BY 1),
        |e AS (SELECT h.event_type,
        |    SUM(CASE WHEN hr = hr0 THEN c ELSE 0 END)::BIGINT AS c_first,
        |    SUM(CASE WHEN hr = hr1 THEN c ELSE 0 END)::BIGINT AS c_last
        |  FROM h JOIN m ON h.event_type = m.event_type GROUP BY 1)
        |SELECT m.event_type, n_ev AS n_events, hh AS n_hours,
        | CAST(CAST(ROUND(
        |   CAST((hh - 1) * COALESCE(sxy, 0)
        |     - (n_ev - c_last) * (n_ev - c_first) AS DOUBLE) /
        |   NULLIF(SQRT(CAST((hh - 1) * (sc2 - c_last * c_last)
        |      - (n_ev - c_last) * (n_ev - c_last) AS DOUBLE)) *
        |    SQRT(CAST((hh - 1) * (sc2 - c_first * c_first)
        |      - (n_ev - c_first) * (n_ev - c_first) AS DOUBLE)), 0.0), 4)
        |   AS DECIMAL(10,4)) AS DOUBLE) AS lag1_autocorr
        |FROM m LEFT JOIN adj ON m.event_type = adj.event_type
        |JOIN e ON m.event_type = e.event_type
        |WHERE hh > 2 ORDER BY m.event_type""".stripMargin,

    "supplier_dominance" ->
      raw"""WITH li AS (SELECT p_brand, l_suppkey,
        |    CAST(ROUND(l_quantity * 100, 0) AS BIGINT) AS q100
        |  FROM lineitem JOIN part ON l_partkey = p_partkey),
        |bys AS (SELECT p_brand, l_suppkey, SUM(q100)::BIGINT AS supp_q
        |  FROM li GROUP BY 1, 2),
        |byb AS (SELECT p_brand, SUM(supp_q)::BIGINT AS brand_q,
        |    COUNT(*)::BIGINT AS n_suppliers,
        |    MAX(supp_q * 1000000000 + (999999999 - l_suppkey))::BIGINT AS max_enc
        |  FROM bys GROUP BY 1)
        |SELECT p_brand AS brand, s_name AS top_supplier, n_suppliers,
        | CAST(ROUND((max_enc // 1000000000) / 100.0, 2) AS DOUBLE) AS top_qty,
        | CAST(ROUND(brand_q / 100.0, 2) AS DOUBLE) AS brand_qty,
        | ${ratio4Sql("(max_enc // 1000000000)", "brand_q")} AS share,
        | ${ratio4Sql("(max_enc // 1000000000) * n_suppliers", "brand_q")}
        |   AS fair_share_multiple
        |FROM byb JOIN supplier ON 999999999 - max_enc % 1000000000 = s_suppkey
        |ORDER BY brand""".stripMargin,

    "events_winsorized" ->
      """WITH ev AS (SELECT event_type,
        |    CAST(ROUND(value * 100, 0) AS BIGINT) AS cents FROM events),
        |h AS (SELECT event_type, cents // 1000 AS gb, cents,
        |    COUNT(*)::BIGINT AS cnt FROM ev GROUP BY 1, 2, 3),
        |o AS (SELECT event_type, gb, SUM(cnt)::BIGINT AS bc FROM h GROUP BY 1, 2),
        |o2 AS (SELECT *,
        |    SUM(bc) OVER (PARTITION BY event_type ORDER BY gb) - bc AS boff,
        |    SUM(bc) OVER (PARTITION BY event_type) AS n FROM o),
        |cum AS (SELECT h.event_type, h.cents, boff
        |    + SUM(cnt) OVER (PARTITION BY h.event_type, h.gb ORDER BY h.cents) AS cum, n
        |  FROM h JOIN o2 ON h.event_type = o2.event_type AND h.gb = o2.gb),
        |cuts AS (SELECT event_type,
        |    MAX(CASE WHEN (20 * cum + n - 1) // n <= 1 THEN cents END) AS c_lo,
        |    MAX(CASE WHEN (20 * cum + n - 1) // n <= 19 THEN cents END) AS c_hi
        |  FROM cum GROUP BY 1),
        |cl AS (SELECT ev.event_type, cents, c_lo, c_hi,
        |    GREATEST(LEAST(cents, COALESCE(c_hi, 9223372036854775807)),
        |      COALESCE(c_lo, -9223372036854775808)) AS w
        |  FROM ev JOIN cuts USING (event_type)),
        |a AS (SELECT event_type, COUNT(*)::BIGINT AS n_events,
        |    SUM(cents)::BIGINT AS sum_c, SUM(w)::BIGINT AS sum_w,
        |    SUM(CASE WHEN w > cents THEN 1 ELSE 0 END)::BIGINT AS n_clamped_low,
        |    SUM(CASE WHEN w < cents THEN 1 ELSE 0 END)::BIGINT AS n_clamped_high,
        |    ANY_VALUE(c_lo) AS c_lo, ANY_VALUE(c_hi) AS c_hi
        |  FROM cl GROUP BY 1)
        |SELECT event_type, n_events,
        | CAST(CAST((100 * sum_c) // n_events AS BIGINT) AS DOUBLE)
        |   / CAST(10000.0 AS DOUBLE) AS mean_value,
        | CAST(CAST((100 * sum_w) // n_events AS BIGINT) AS DOUBLE)
        |   / CAST(10000.0 AS DOUBLE) AS winsorized_mean,
        | CAST(c_lo AS DOUBLE) / CAST(100.0 AS DOUBLE) AS p5_cut,
        | CAST(c_hi AS DOUBLE) / CAST(100.0 AS DOUBLE) AS p95_cut,
        | n_clamped_low, n_clamped_high
        |FROM a ORDER BY event_type""".stripMargin,

    "events_hhi" ->
      raw"""WITH pu AS (SELECT event_type, user_id, COUNT(*)::BIGINT AS c
        |  FROM events GROUP BY 1, 2),
        |a AS (SELECT event_type, SUM(c)::BIGINT AS n_events,
        |    COUNT(*)::BIGINT AS n_users, SUM(c * c)::BIGINT AS sum_c2
        |  FROM pu GROUP BY 1)
        |SELECT event_type, n_events, n_users,
        | ${ratio4Sql("sum_c2", "n_events * n_events")}
        |   AS hhi,
        | ${ratio4Sql("n_events * n_events", "sum_c2")}
        |   AS effective_users
        |FROM a ORDER BY event_type""".stripMargin,

    "events_burstiness" ->
      raw"""WITH h AS (SELECT event_type,
        |    epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000 AS hr,
        |    COUNT(*)::BIGINT AS c
        |  FROM events GROUP BY 1, 2),
        |a AS (SELECT event_type, SUM(c)::BIGINT AS n_events,
        |    (MAX(hr) - MIN(hr) + 1)::BIGINT AS n_hours,
        |    COUNT(*)::BIGINT AS n_active_hours,
        |    SUM(c * c)::BIGINT AS sum_c2
        |  FROM h GROUP BY 1)
        |SELECT event_type, n_events, n_hours, n_active_hours,
        | ${ratio4Sql("(n_hours * sum_c2 - n_events * n_events)", "(n_hours - 1) * n_events")} AS fano,
        | CAST((10000 * n_events) // n_hours AS BIGINT) / CAST(10000.0 AS DOUBLE)
        |   AS mean_per_hour
        |FROM a WHERE n_hours > 1 ORDER BY event_type""".stripMargin,

    "balance_matrix" ->
      """WITH c AS (SELECT CAST(c_nationkey AS INT) AS nationkey,
        |    CAST(FLOOR(c_acctbal / 1000.0) AS BIGINT) AS band,
        |    COUNT(*)::BIGINT AS n_cust,
        |    SUM(CAST(ROUND(c_acctbal * 100, 0) AS BIGINT))::BIGINT AS cust_cents
        |  FROM customer GROUP BY 1, 2),
        |s AS (SELECT CAST(s_nationkey AS INT) AS nationkey,
        |    CAST(FLOOR(s_acctbal / 1000.0) AS BIGINT) AS band,
        |    COUNT(*)::BIGINT AS n_supp,
        |    SUM(CAST(ROUND(s_acctbal * 100, 0) AS BIGINT))::BIGINT AS supp_cents
        |  FROM supplier GROUP BY 1, 2)
        |SELECT n_name AS nation, COALESCE(c.band, s.band) AS band,
        | COALESCE(n_cust, 0) AS n_customers,
        | CAST(ROUND(COALESCE(cust_cents, 0) / 100.0, 2) AS DOUBLE) AS cust_balance,
        | COALESCE(n_supp, 0) AS n_suppliers,
        | CAST(ROUND(COALESCE(supp_cents, 0) / 100.0, 2) AS DOUBLE) AS supp_balance,
        | CASE WHEN n_cust IS NULL THEN 'supplier_only'
        |   WHEN n_supp IS NULL THEN 'customer_only' ELSE 'both' END AS presence
        |FROM c FULL OUTER JOIN s ON c.nationkey = s.nationkey AND c.band = s.band
        |JOIN nation ON COALESCE(c.nationkey, s.nationkey) = n_nationkey
        |ORDER BY nation, band""".stripMargin,

    "supplier_concentration" ->
      raw"""WITH s AS (SELECT s_nationkey,
        |    CAST(ROUND(s_acctbal * 100, 0) AS BIGINT) AS bal_cents
        |  FROM supplier WHERE CAST(ROUND(s_acctbal * 100, 0) AS BIGINT) > 0),
        |g AS (SELECT SUM(bal_cents)::BIGINT AS grand_cents FROM s),
        |byn AS (SELECT s_nationkey, COUNT(*)::BIGINT AS n_suppliers,
        |    SUM(bal_cents)::BIGINT AS nat_cents FROM s GROUP BY 1)
        |SELECT n_name AS nation, n_suppliers,
        | CAST(ROUND(nat_cents / 100.0, 2) AS DOUBLE) AS total_acctbal,
        | ${ratio4Sql("nat_cents", "grand_cents")} AS share
        |FROM byn CROSS JOIN g
        |JOIN nation ON s_nationkey = n_nationkey
        |WHERE nat_cents * 50 > grand_cents
        |ORDER BY share DESC, nation""".stripMargin,

    "brand_cheapest" ->
      """WITH p AS (SELECT p_partkey, p_brand, p_name,
        |    CAST(ROUND(p_retailprice * 100, 0) AS BIGINT) AS price_cents
        |  FROM part),
        |best AS (SELECT p_brand, COUNT(*)::BIGINT AS n_parts,
        |    MIN(price_cents * 1000000000 + p_partkey)::BIGINT AS min_enc
        |  FROM p GROUP BY 1)
        |SELECT best.p_brand AS brand, n_parts,
        | CAST(min_enc % 1000000000 AS BIGINT) AS best_partkey,
        | p.p_name AS part_name,
        | CAST(ROUND((min_enc // 1000000000) / 100.0, 2) AS DOUBLE)
        |   AS min_retailprice
        |FROM best JOIN p ON p.p_partkey = min_enc % 1000000000
        |ORDER BY brand""".stripMargin,

    "orders_seasonality" ->
      raw"""WITH o AS (SELECT month(CAST(o_orderdate AS TIMESTAMP)) AS mon,
        |    year(CAST(o_orderdate AS TIMESTAMP)) AS yr,
        |    CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS cents FROM orders),
        |my AS (SELECT mon, yr, COUNT(*)::BIGINT AS n, SUM(cents)::BIGINT AS c
        |  FROM o GROUP BY 1, 2),
        |m AS (SELECT mon, SUM(n)::BIGINT AS n_orders,
        |    SUM(c)::BIGINT AS mon_cents,
        |    MAX(c * 10000 + yr)::BIGINT AS peak_enc FROM my GROUP BY 1),
        |g AS (SELECT SUM(mon_cents)::BIGINT AS grand_cents FROM m)
        |SELECT CAST(mon AS BIGINT) AS month, n_orders,
        | CAST(ROUND(mon_cents / 100.0, 2) AS DOUBLE) AS revenue,
        | ${ratio4Sql("mon_cents", "grand_cents")} AS revenue_share,
        | CAST(peak_enc % 10000 AS INT) AS peak_year
        |FROM m CROSS JOIN g ORDER BY month""".stripMargin,

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
        |c AS (SELECT source, COUNT(*) AS n_docs,
        |    CAST(FLOOR(sqrt(CAST(COUNT(*) AS DOUBLE)) * 1048576.0) AS BIGINT) AS w_q
        |  FROM b GROUP BY source),
        |t AS (SELECT SUM(w_q) AS w_total, SUM(n_docs) AS corpus_docs FROM c),
        |r AS (SELECT c.source, c.n_docs,
        |    CAST(((CAST(corpus_docs AS HUGEINT) // 2) * CAST(w_q AS HUGEINT))
        |      // CAST(w_total AS HUGEINT) AS BIGINT) AS target_docs
        |  FROM c, t),
        |r2 AS (SELECT source, n_docs, target_docs,
        |    LEAST(1000000, CAST((CAST(target_docs AS HUGEINT) * 1000000)
        |      // CAST(n_docs AS HUGEINT) AS BIGINT)) AS rate_ppm
        |  FROM r),
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
      raw"""WITH toks AS (SELECT doc_id, source,
        |    list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS t
        |  FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id, source,
        |    CASE WHEN len(t) >= 3 THEN t[r.i] || ' ' || t[r.i+1] || ' ' || t[r.i+2]
        |         ELSE array_to_string(t, ' ') END AS shingle
        |  FROM toks, UNNEST(CASE WHEN len(t) >= 3 THEN range(1, len(t)-1) ELSE [1] END) AS r(i)
        |  WHERE len(t) >= 1),
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

    "split_leakage" ->
      raw"""WITH toks AS (SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS t
        |  FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id,
        |    CASE WHEN len(t) >= 3 THEN t[r.i] || ' ' || t[r.i+1] || ' ' || t[r.i+2]
        |         ELSE array_to_string(t, ' ') END AS shingle
        |  FROM toks, UNNEST(CASE WHEN len(t) >= 3 THEN range(1, len(t)-1) ELSE [1] END) AS r(i)
        |  WHERE len(t) >= 1),
        |capped AS (SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(*) <= 200),
        |uni AS (SELECT s.doc_id, s.shingle FROM sh s JOIN capped USING (shingle)),
        |sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM uni GROUP BY doc_id),
        |co AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
        |       FROM uni a JOIN uni b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |       GROUP BY 1, 2),
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
      raw"""WITH t AS (SELECT doc_id, text,
        |  string_split_regex(lower(text), '\s+') AS toks,
        |  CAST(length(text) AS DOUBLE) AS n_chars,
        |  CAST(length(regexp_replace(lower(text), '[a-z0-9\s]', '', 'g')) AS DOUBLE) AS punct,
        |  CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE) AS digits
        |  FROM documents),
        |s AS (SELECT *,
        |  CAST(len(toks) AS DOUBLE) AS n_toks,
        |  CAST(len(list_filter(toks, x -> list_contains(
        |    ['the','a','an','and','or','of','to','in','is','it','on','for'], x))) AS DOUBLE) AS stops
        |  FROM t)
        |SELECT doc_id,
        | CAST(n_chars AS INT) AS n_chars,
        | CAST(n_toks AS INT) AS n_tokens,
        | ${ratio4Sql("punct", "GREATEST(n_chars, 1)")} AS punct_ratio,
        | ${ratio4Sql("digits", "GREATEST(n_chars, 1)")} AS digit_ratio,
        | ${ratio4Sql("stops", "GREATEST(n_toks, 1)")} AS stopword_ratio,
        | CAST(CAST(ROUND(
        |   LEAST(n_chars / 500.0, 1.0) * 0.4
        |   + LEAST(stops / GREATEST(n_toks * 0.05, 1.0), 1.0) * 0.4
        |   + GREATEST(1.0 - punct / GREATEST(n_chars * 0.1, 1.0), 0.0) * 0.2, 4)
        |   AS DECIMAL(10,4)) AS DOUBLE) AS quality_score
        |FROM s
        |ORDER BY doc_id""".stripMargin
  )
}
