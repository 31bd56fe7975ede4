package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import org.apache.spark.sql.graftbridge.ColumnBridge

import graft.dedup.Dedup
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
}
