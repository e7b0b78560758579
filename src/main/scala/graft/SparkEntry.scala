package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.operators._
import graft.sources.Tables

/** Driver contract — see SURVEY.md §2 + §5.
  *
  * Every implemented operator registers here, and the registry binds
  * its input tables: each query name maps straight to its `*Of`
  * builder applied to the `Tables` it reads (`on(events)(…)` for one
  * table, an inline `(s, d) => …` for several), so a query has one
  * name and no `(spark, dir)` wrapper. The queries whose `(spark,
  * dir)` def does more than bind tables (derived reads, the session
  * for typed decoding, report formats) register that def.
  * `oracleSql` carries the DuckDB-equivalent ANSI SQL with IDENTICAL
  * column aliases (the driver's compare hashes values under sorted
  * column names). Non-SQL-expressible ops (MinHash/SimHash/LSH-ANN)
  * register without an oracle → rows-only check + scalatest coverage.
  */
object SparkEntry {

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Report.dailyReport(spark, "/root/testdata/sf0.001")

  private type Query = (SparkSession, String) => DataFrame

  /** Binds a one-table query: reads `table` and hands it to `build`. */
  private def on(table: Query)(build: DataFrame => DataFrame): Query =
    (s, d) => build(table(s, d))

  // The readers the one-table lines share: one function value per
  // table, not an eta-expansion per line. Each expansion site is one
  // more lambda class for the first `queries` call to spin; 326 of
  // them made that call measurably slower.
  private val customer: Query = Tables.customer
  private val documents: Query = Tables.documents
  private val embeddings: Query = Tables.embeddings
  private val events: Query = Tables.events
  private val lineitem: Query = Tables.lineitem
  private val orders: Query = Tables.orders
  private val part: Query = Tables.part

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Reference surface (SURVEY.md §2 #1-13, #27)
    "report_flatten"   -> (Report.reportFlatten(_, _)),
    "variant_extract"  -> (Report.variantExtract(_, _)),
    "display_coalesce" -> (Report.displayCoalesceQ(_, _)),
    "date_iso"         -> (Report.dateIso(_, _)),
    "dim_filter_in"    -> (Report.dimFilterIn(_, _)),
    "daily_report"     -> (Report.dailyReport(_, _)),
    "earnings_total"   -> (Report.earningsTotal(_, _)),
    "earnings_usd"     -> (Report.earningsUsd(_, _)),
    "monthly_rollup"   -> (Report.monthlyRollup(_, _)),
    "window_running"   -> (Report.windowRunning(_, _)),
    "ctr_by_group"     -> (CtrAlerts.ctrByGroup(_, _)),
    "ctr_spike"        -> (CtrAlerts.ctrSpike(_, _)),
    "ctr_spike_scoped" -> ((s, d) =>
      CtrAlerts.ctrSpikeScoped(s, d, CtrAlerts.DemoUnitAllowlist)),
    "distinct_units"   -> (CtrAlerts.distinctUnits(_, _)),
    "alert_report"     -> (CtrAlerts.alertReport(_, _)),
    // LLM-data-pipeline operators (#15-26)
    "dedup_exact"      -> (Dedup.dedupExact(_, _)),
    "dedup_minhash"    -> on(documents)(Dedup.dedupMinhashOf),
    "dedup_jaccard"    -> (Dedup.dedupJaccard(_, _)),
    "dedup_simhash"    -> on(documents)(Dedup.dedupSimhashOf),
    // Round-15 tranche: Chapman capture-recapture undercount (row 426)
    "dedup_capture_recapture" -> on(documents)(Dedup.dedupCaptureRecaptureOf),
    "dedup_cosine"     -> on(embeddings)(Similarity.dedupCosineOf(_)),
    "knn_topk"         -> (Similarity.knnTopk(_, _)),
    "ann_lsh"          -> (Similarity.annLsh(_, _)),
    "token_count"      -> (TextAnalysis.tokenCount(_, _)),
    "token_count_bpe"  -> (TextAnalysis.tokenCountBpe(_, _)),
    // Round-15 tranche: tokenizer Bland-Altman agreement (row 429)
    "bland_altman"     -> on(documents)(TextAnalysis.blandAltmanOf),
    "ann_ivf"          -> (Similarity.annIvf(_, _)),
    "text_stats"       -> (TextAnalysis.textStats(_, _)),
    "quality_score"    -> (TextAnalysis.qualityScore(_, _)),
    "doc_fingerprint"  -> (TextAnalysis.docFingerprint(_, _)),
    "lang_id"          -> (TextAnalysis.langId(_, _)),
    "multimodal_meta"  -> (Multimodal.multimodalMeta(_, _)),
    "multimodal_features" -> (Multimodal.multimodalFeatures(_, _)),
    "asof_attribution" -> (AsofJoin.clickAttribution(_, _)),
    "approx_distinct_users" -> (CtrAlerts.approxDistinctUsers(_, _)),
    "earnings_percentiles" -> (Report.earningsPercentiles(_, _)),
    "report_spec_demo" -> (ReportSpecs.reportSpecDemo(_, _)),
    "report_spec_mediation" -> (ReportSpecs.reportSpecMediation(_, _)),
    "report_spec_network" -> (ReportSpecs.reportSpecNetwork(_, _)),
    "corpus_clean" -> (TextAnalysis.corpusClean(_, _)),
    "earnings_cube" -> (Report.earningsCube(_, _)),
    "top_customers" -> (Report.topCustomers(_, _)),
    // Round-4 tranche: event analytics, corpus prep, exact ssjoin,
    // embedding quantization (#46-54)
    "sessionize"        -> on(events)(EventAnalytics.sessionizeOf(_)),
    "zscore_outliers"   -> on(events)(EventAnalytics.zscoreOutliersOf(_)),
    "interval_join"     -> (EventAnalytics.intervalJoin(_, _)),
    "pii_redact"        -> on(documents)(Corpus.piiRedactOf),
    "decontaminate"     -> on(documents)(Corpus.decontaminateOf(_)),
    "vocab_df"          -> on(documents)(Corpus.vocabDfOf(_)),
    "stratified_sample" -> on(documents)(Corpus.stratifiedSampleOf(_)),
    "jaccard_pairs"     -> (Dedup.jaccardPairs(_, _)),
    "embed_quantize"    -> on(embeddings)(Similarity.embedQuantizeOf),
    // Round-6 tranche: corpus statistics, training-shard prep,
    // embedding clustering (#55-62)
    "tfidf_top_terms"   -> on(documents)(CorpusStats.tfidfTopTermsOf(_)),
    "repetition_stats"  -> on(documents)(CorpusStats.repetitionStatsOf(_)),
    "collocations"      -> on(documents)(CorpusStats.collocationsOf(_)),
    "lang_quality_gate" -> on(documents)(CorpusStats.langQualityGateOf),
    "chunk_docs"        -> on(documents)(Corpus.chunkDocsOf(_)),
    "pack_greedy"       -> on(documents)(Corpus.packGreedyOf(_)),
    "train_split"       -> on(documents)(Corpus.trainSplitOf),
    "kmeans_embed"      -> on(embeddings)(Cluster.kmeansEmbedOf(_)),
    "dedup_components"  -> on(documents)(Components.dedupComponentsOf(_)),
    "dedup_components_cascade" -> on(documents)(Components.dedupComponentsCascadeOf(_)),
    "dedup_quality_bias" -> on(documents)(Components.dedupQualityBiasOf(_)),
    "mix_sources" -> ((s, d) => Corpus.mixSourcesOf(
      Tables.documents(s, d), Map("src0" -> 1.0, "src1" -> 0.6), defaultFrac = 0.2)),
    // rows-only: sketch internals are engine-specific (cf. #37 HLL)
    "earnings_percentiles_approx" -> (Report.earningsPercentilesApprox(_, _)),
    // oracle-checked (see oracleSql)
    "key_skew"          -> (Skew.keySkew(_, _)),
    "value_histogram"   -> (Report.valueHistogram(_, _)),
    "daily_fill"        -> on(events)(EventAnalytics.dailyFillOf),
    // rows-only: MinHash banding is not SQL-expressible (cf. #16)
    "dedup_incremental" -> (Dedup.dedupIncremental(_, _)),
    // Round-7 tranche: behavioral analytics, robust statistics,
    // boilerplate spans, sketch-confirmed heavy hitters, 1-bit ANN
    // (#73-82)
    "funnel_steps"      -> on(events)(Behavior.funnelStepsOf),
    "funnel_by_arm"     -> on(events)(Behavior.funnelByArmOf),
    "cohort_retention"  -> on(events)(Behavior.cohortRetentionOf(_)),
    "pivot_report"      -> on(events)(Behavior.pivotReportOf(_)),
    "mad_outliers"      -> on(events)(Robust.madOutliersOf(_)),
    "value_deciles"     -> on(orders)(Robust.valueDecilesOf(_)),
    "winsorize"         -> on(orders)(Robust.winsorizeOf(_)),
    "profile_columns"   -> ((s, d) => Robust.profileColumnsOf(Tables.orders(s, d),
      Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority"))),
    "boilerplate_stats" -> on(documents)(Corpus.boilerplateStatsOf(_)),
    "heavy_hitters"     -> on(documents)(HeavyHitters.heavyHittersOf(_)),
    "ann_hamming"       -> on(embeddings)(Similarity.annHammingOf(_)),
    "event_transitions" -> on(events)(Behavior.eventTransitionsOf),
    "label_centroids"   -> on(embeddings)(Cluster.labelCentroidsOf),
    "fk_coverage"       -> ((s, d) => Warehouse.fkCoverageOf(Tables.events(s, d),
      Tables.customer(s, d).select(col("c_custkey").as("key")))),
    "latest_per_key"    -> on(events)(Warehouse.latestPerKeyOf),
    "source_temperature" -> on(documents)(Corpus.sourceTemperatureOf),
    "rolling_reach"     -> on(events)(EventAnalytics.rollingReachOf(_)),
    "ann_recall"        -> (Similarity.annRecall(_, _)),
    "range_window"      -> on(events)(EventAnalytics.rangeWindowOf(_)),
    // rows-only: PQ codebook internals are not SQL-expressible (cf. #16)
    "ann_pq"            -> (Pq.annPq(_, _)),
    "revenue_by_nation" -> ((s, d) => Warehouse.revenueByNationOf(
      Tables.lineitem(s, d), Tables.orders(s, d), Tables.customer(s, d), Tables.nation(s, d))),
    "lang_confusion"    -> (TextAnalysis.langConfusion(_, _)),
    // Round-7 continuation: warehouse CDC, alert smoothers, runtime
    // bloom filter, corpus-LM scoring (#101-106)
    "snapshot_diff"     -> ((s, d) => Warehouse.snapshotDiffOf(Tables.events(s, d), "2024-01-15")),
    "merge_upsert"      -> on(events)(Warehouse.mergeUpsertOf(_)),
    // Round-15 tranche: small-file compaction planner (SURVEY §2 row 421),
    // FIFO lot-matching interval join (row 422)
    "compaction_plan"   -> on(events)(Warehouse.compactionPlanOf(_)),
    "fifo_match"        -> on(lineitem)(Warehouse.fifoMatchOf),
    "blocking_suppliers" ->
      ((s, d) => Warehouse.blockingSuppliersOf(Tables.orders(s, d), Tables.lineitem(s, d))),
    "linear_attribution" -> on(events)(Behavior.linearAttributionOf(_)),
    "seasonal_decompose" -> on(events)(EventAnalytics.seasonalDecomposeOf),
    "hll_error_audit"   -> on(events)(CtrAlerts.hllErrorAuditOf),
    "weekday_envelope"  -> on(events)(EventAnalytics.weekdayEnvelopeOf),
    "entry_conversion"  -> on(events)(EventAnalytics.entryConversionOf(_)),
    "embedding_drift"   -> on(embeddings)(Cluster.embeddingDriftOf),
    "asof_nearest"      -> (AsofJoin.nearestAttribution(_, _)),
    "session_campaign_overlap" -> (EventAnalytics.sessionCampaignOverlap(_, _)),
    "deletion_audit"    -> on(events)(Warehouse.deletionAuditOf),
    "audience_overlap"  -> on(events)(Behavior.audienceOverlapOf),
    "trending_items"    -> on(events)(Behavior.trendingItemsOf(_)),
    "return_rate_by_brand" ->
      ((s, d) => Warehouse.returnRateByBrandOf(Tables.lineitem(s, d), Tables.part(s, d))),
    "supplier_hhi" -> ((s, d) => Warehouse.supplierHhiOf(
      Tables.lineitem(s, d), Tables.supplier(s, d), Tables.nation(s, d))),
    "discount_elasticity" ->
      ((s, d) => Robust.discountElasticityOf(Tables.lineitem(s, d), Tables.part(s, d))),
    "scd2_history"      -> on(events)(Warehouse.scd2HistoryOf),
    "ewma_smooth"       -> on(events)(EventAnalytics.ewmaSmoothOf(_)),
    "rolling_median"    -> on(events)(Robust.rollingMedianOf(_)),
    "bloom_semi_join"   ->
      ((s, d) => BloomJoin.urgentRevenueOf(Tables.lineitem(s, d), Tables.orders(s, d))),
    "lm_quality"        -> on(documents)(CorpusStats.lmQualityOf),
    "distribution_drift" ->
      ((s, d) => Robust.distributionDriftOf(Tables.events(s, d), "2024-01-16")),
    "oov_rate"          -> on(documents)(CorpusStats.oovRateOf(_)),
    "chi2_contingency"  -> on(events)(Behavior.chi2ContingencyOf),
    "conversion_latency" -> on(events)(Behavior.conversionLatencyOf),
    "item_affinity"     -> on(events)(Behavior.itemAffinityOf(_)),
    "hard_mining"       -> on(embeddings)(Similarity.hardMiningOf(_)),
    // rows-only: BPE training is iterative, not SQL-expressible
    // (cf. #16); TokenizerSpec pins the algorithm on hand-checked
    // corpora
    "bpe_merges"        -> on(documents)(Tokenizer.bpeMergesOf(_)),
    "bpe_segment"       -> (Tokenizer.bpeSegment(_, _)),
    "bootstrap_ci"      -> on(events)(Robust.bootstrapCiOf(_)),
    // Round-8 tranche: span-level dedup transform, weighted sampling,
    // group-aware splits (#119-121)
    "span_dedup"        -> on(documents)(Corpus.spanDedupOf(_)),
    "weighted_sample"   -> on(documents)(Corpus.weightedSampleOf(_)),
    "grouped_split"     -> on(documents)(Corpus.groupedSplitOf),
    "gopher_rules"      -> on(documents)(CorpusStats.gopherRulesOf(_)),
    "inverted_index"    -> on(documents)(CorpusStats.invertedIndexOf(_)),
    "kanon_risk"        -> on(customer)(Warehouse.kanonRiskOf(_)),
    "containment_pairs" -> (Dedup.containmentPairs(_, _)),
    "knn_classify"      -> on(embeddings)(Similarity.knnClassifyOf(_)),
    "sem_dedup"         -> on(embeddings)(Cluster.semDedupOf(_)),
    // rows-only: the iterative eigensolve is not SQL-expressible
    // (cf. bpe_merges); PcaSpec pins the algebra
    "pca_embed"         -> on(embeddings)(Pca.pcaEmbedOf(_)),
    "dp_counts"         -> on(events)(Warehouse.dpCountsOf),
    "bm25_search" ->
      ((s, d) => CorpusStats.bm25SearchOf(Tables.documents(s, d), Seq("spark", "merge", "window"))),
    "kwic_snippets"     -> ((s, d) => TextAnalysis.kwicSnippetsOf(Tables.documents(s, d), "spark")),
    "decayed_engagement" -> on(events)(Behavior.decayedEngagementOf(_)),
    "theilsen_trend"    -> on(events)(Robust.theilSenTrendOf),
    "length_batching"   -> on(documents)(Corpus.lengthBatchingOf(_)),
    "prefix_cache_groups" -> on(documents)(Corpus.prefixCacheGroupsOf(_)),
    "seasonal_profile"  -> on(events)(EventAnalytics.seasonalProfileOf),
    "corpus_card"       -> on(documents)(CorpusStats.corpusCardOf),
    "auc_quality"       -> on(documents)(CorpusStats.aucQualityOf(_)),
    "fuzzy_match"       -> on(part)(Linkage.fuzzyMatchOf(_)),
    "mrr_eval"          -> on(embeddings)(Similarity.mrrEvalOf(_)),
    "pagerank"          -> on(events)(Graph.pagerankOf(_)),
    "mmr_rerank"        -> on(embeddings)(Similarity.mmrRerankOf(_)),
    "graph_degrees"     -> on(events)(Graph.graphDegreesOf),
    "calibration_curve" -> on(documents)(CorpusStats.calibrationCurveOf(_)),
    "cuped_adjust"      -> ((s, d) => Behavior.cupedAdjustOf(Tables.events(s, d), "2024-01-16")),
    "ndcg_eval"         -> on(embeddings)(Similarity.ndcgEvalOf(_)),
    "ctr_shrunk"        -> on(events)(CtrAlerts.ctrShrunkOf(_)),
    "term_keyness"      -> on(documents)(CorpusStats.termKeynessOf(_)),
    "dup_matrix"        -> on(documents)(Dedup.dupMatrixOf(_)),
    "top_paths"         -> on(events)(EventAnalytics.topPathsOf(_)),
    "target_encode"     -> on(events)(EventAnalytics.targetEncodeOf(_)),
    "seasonal_outliers" -> on(events)(EventAnalytics.seasonalOutliersOf(_)),
    "vocab_overlap"     -> on(documents)(CorpusStats.vocabOverlapOf),
    "robust_scaler"     -> on(orders)(Robust.robustScalerOf),
    // rows-only: the banded-minhash side is the native pipeline
    // (cf. dedup_minhash); DedupSpec pins subset + recall properties
    "lsh_recall"        -> on(documents)(Dedup.lshRecallOf(_)),
    // The scale path of lsh_recall: audit a deterministic 1-in-s
    // document sample (xxhash64(doc_id) mod s == 0), so the exact-pair
    // side costs ~1/s² of the full audit while the recall ratio stays
    // unbiased. A pair survives only when BOTH endpoints sample in, so
    // s is a POWER knob: pick s with pair_mass/s² in the thousands. At
    // 100 TB (pair mass ≥10⁹) s=8 still leaves ~10⁷ pairs; the 500-doc
    // / 25-pair verification corpus takes s=2 and keeps ~6, which is
    // what this query pins. DedupSpec bounds the sampled estimate
    // against the exact one on the sf0.01 corpus.
    "lsh_recall_sampled" ->
      ((s, d) => Dedup.lshRecallOf(Tables.documents(s, d), sampleOneIn = 2)),
    // Round-9: Lee'21-style exact-substring duplicate spans
    "substr_dup_spans"  -> on(documents)(Dedup.exactSubstringSpansOf(_)),
    // Round-9: retrieval + selection tranche
    "hybrid_search" -> ((s, d) => Similarity.hybridSearchOf(
      Tables.documents(s, d), Tables.embeddings(s, d), Seq("spark", "merge", "window"))),
    "sem_decontaminate" -> on(embeddings)(Similarity.semDecontaminateOf(_)),
    "dsir_weights" ->
      ((s, d) => Corpus.dsirWeightsOf(Tables.documents(s, d), Seq("src0", "src1", "src2", "src3"))),
    // Round-9: graph + crawl-cleaning tranche
    "hits"              -> on(events)(Graph.hitsOf(_)),
    "lpa_communities"   -> on(events)(Graph.lpaCommunitiesOf(_)),
    // Round-14 first tranche: recursive-importance centrality +
    // exact token-repeat diversity (SURVEY §2 rows 399-400)
    "eigenvector_centrality" -> on(events)(Graph.eigenvectorCentralityOf(_)),
    "simpson_diversity" -> on(documents)(CorpusStats.simpsonDiversityOf),
    // Round-14 second tranche: winnowing fingerprint sample + exact
    // label alignment/separation (SURVEY §2 rows 401-402)
    "winnow_fingerprints" -> on(documents)(TextAnalysis.winnowFingerprintsOf(_)),
    "embedding_alignment" -> on(embeddings)(Similarity.embeddingAlignmentOf),
    // Round-14 third tranche: supplier-concentration risk + RAKE
    // phrase keywords (SURVEY §2 rows 403-404)
    "single_sourcing" ->
      ((s, d) => Warehouse.singleSourcingOf(Tables.lineitem(s, d), Tables.part(s, d))),
    "rake_keywords"     -> on(documents)(CorpusStats.rakeKeywordsOf(_)),
    // Round-14 fourth tranche: Church-Gale term dispersion + Pettitt
    // rank changepoint (SURVEY §2 rows 405-406)
    "term_burstiness"   -> on(documents)(CorpusStats.termBurstinessOf(_)),
    "pettitt_changepoint" -> on(events)(EventAnalytics.pettittChangepointOf),
    // Round-14 fifth tranche: variance-homogeneity pre-check +
    // Mann-Kendall trend significance (SURVEY §2 rows 407-408)
    "brown_forsythe"    -> on(events)(Behavior.brownForsytheOf),
    "mann_kendall"      -> on(events)(Robust.mannKendallOf),
    // Round-14 sixth tranche: Syntetos-Boylan demand quadrant
    // (SURVEY §2 row 409)
    "demand_classes"    -> on(events)(EventAnalytics.demandClassesOf),
    // Round-14 seventh tranche: earth-mover drift + Wald-Wolfowitz
    // runs test (SURVEY §2 rows 410-411)
    "wasserstein_drift" -> on(events)(Robust.wassersteinDriftOf(_)),
    "runs_test"         -> on(events)(Robust.runsTestOf),
    // Round-14 eighth tranche: stylometric source distance +
    // hub-ablation robustness (SURVEY §2 rows 412-413)
    "burrows_delta"     -> on(documents)(CorpusStats.burrowsDeltaOf(_)),
    "hub_ablation"      -> on(events)(Graph.hubAblationOf(_)),
    // Round-14 ninth tranche: Rocchio pseudo-relevance feedback
    // (SURVEY §2 row 414)
    "prf_search"        -> on(documents)(CorpusStats.prfSearchOf(_)),
    // Round-14 tenth tranche: language-purity profile + seasonal
    // Mann-Kendall (SURVEY §2 rows 415-416)
    "code_switch"       -> on(documents)(TextAnalysis.codeSwitchOf(_)),
    "seasonal_mk"       -> on(events)(Robust.seasonalMkOf),
    "strip_markup"      -> on(documents)(TextAnalysis.stripMarkupOf),
    "mojibake_stats"    -> on(documents)(TextAnalysis.mojibakeStatsOf),
    "change_contrib"    -> on(events)(EventAnalytics.changeContribOf),
    "gini_concentration" -> on(events)(EventAnalytics.giniConcentrationOf),
    "mixture_plan"      -> on(documents)(Corpus.mixturePlanOf(_)),
    "token_len_histogram" -> on(documents)(Corpus.tokenLenHistogramOf),
    "dedup_rate_by_source" -> on(documents)(Dedup.dedupRateBySourceOf),
    "embedding_norm_stats" -> on(embeddings)(Similarity.embeddingNormStatsOf),
    // rows-only: sketch estimates are engine-specific internals
    // (cf. approx_distinct_users); AlertsSpec bands every level vs exact
    "hll_rollup"        -> on(events)(CtrAlerts.hllRollupOf),
    // The registered audit bounds the query side to the first 512
    // points (an audit SLICE — 22.6 s vs 5 s at sf0.1 for the full
    // cross; a production sweep shards `auditLimit` ranges across runs
    // or feeds candidate pairs, per Similarity.labelNoiseOf's scaladoc).
    "label_noise" ->
      ((s, d) => Similarity.labelNoiseOf(Tables.embeddings(s, d), auditLimit = 512L)),
    "ship_lag_percentiles" ->
      ((s, d) => Report.shipLagPercentilesOf(Tables.lineitem(s, d), Tables.orders(s, d))),
    "category_collapse" -> on(events)(EventAnalytics.categoryCollapseOf(_)),
    "triangle_count"    -> on(events)(Graph.triangleCountOf),
    "cusum_changepoint" -> on(events)(EventAnalytics.cusumChangepointOf(_)),
    "personalized_pagerank" -> on(events)(Graph.personalizedPagerankOf(_)),
    "weighted_median"   -> on(events)(Robust.weightedMedianOf),
    "pii_by_source"     -> on(documents)(Corpus.piiBySourceOf),
    // Round-8 tranche: budget water-fill, retention sweep, quantile
    // normalization (mixture/quality families)
    "waterfill_budget"  -> on(documents)(Corpus.waterfillBudgetOf(_)),
    "quality_retention" -> on(documents)(CorpusStats.qualityRetentionOf),
    "quantile_normalize" -> on(documents)(CorpusStats.quantileNormalizeOf(_)),
    "ngram_diversity"   -> on(documents)(CorpusStats.distinctNgramDiversityOf(_)),
    "centroid_outliers" -> on(embeddings)(Cluster.centroidOutliersOf(_)),
    "entity_clusters"   -> on(part)(Linkage.entityClustersOf(_)),
    "kfold_assign"      -> on(documents)(Corpus.kfoldAssignOf(_)),
    "class_weights"     -> on(documents)(Corpus.classWeightsOf(_)),
    "negative_samples"  -> on(events)(Behavior.negativeSamplesOf(_)),
    "ab_test"           -> on(events)(Behavior.abTestOf),
    "rfm_segments"      -> on(events)(Behavior.rfmSegmentsOf),
    "bounce_rate"       -> on(events)(EventAnalytics.bounceRateOf(_)),
    // Round-8 final tranche: survival/ACF/split (time-series &
    // experimentation), RA link prediction, matryoshka audit,
    // zone-map audit, count-min calibration
    "churn_lifetable"   -> on(events)(Behavior.churnLifetableOf(_)),
    "acf_daily"         -> on(events)(EventAnalytics.acfDailyOf(_)),
    "temporal_split"    -> on(events)(EventAnalytics.temporalSplitOf(_)),
    "link_predict"      -> on(lineitem)(Graph.linkPredictOf(_)),
    "matryoshka_energy" -> on(embeddings)(Similarity.matryoshkaEnergyOf(_)),
    "zonemap_audit"     -> on(lineitem)(Warehouse.zonemapAuditOf(_)),
    "countmin_err"      -> on(documents)(HeavyHitters.countMinErrOf(_)),
    "funnel_windowed"   -> on(events)(Behavior.funnelWindowedOf(_)),
    "incremental_rollup" -> on(events)(Warehouse.incrementalRollupOf(_)),
    "dedup_cascade"     -> on(documents)(Dedup.dedupCascadeOf(_)),
    // Round-10: the 100 TB sketch defaults, driver-value-checked —
    // the same operators built with `approx = true` (pinned-frame
    // oracles: sketches hash-stably reproduce on a fixed corpus
    // because HLL/quantile merges are order-blind)
    "dup_matrix_approx" ->
      ((s, d) => Dedup.dupMatrixOf(Tables.documents(s, d), approx = true)),
    "ngram_diversity_approx" ->
      ((s, d) => CorpusStats.distinctNgramDiversityOf(Tables.documents(s, d), approx = true)),
    "quantile_normalize_approx" ->
      ((s, d) => CorpusStats.quantileNormalizeOf(Tables.documents(s, d), approx = true)),
    // Round-10: CCNet-style normalized exact dedup (SURVEY row 15's
    // normalization-hardened sibling)
    "dedup_normalized"  -> on(documents)(Dedup.dedupNormalizedOf),
    "dup_inflation"     -> on(documents)(Dedup.dupInflationOf),
    "banding_sweep"     -> on(documents)(Dedup.bandingSweepOf),
    // Round-10 widening tranche: graph structure, cluster validity,
    // LSH cost audit, curriculum/drift/burstiness (SURVEY §2 rows
    // 213-219)
    "kcore"             -> on(events)(Graph.kcoreOf(_)),
    "degree_assortativity" -> on(events)(Graph.degreeAssortativityOf),
    "silhouette"        -> on(embeddings)(Cluster.silhouetteOf(_)),
    // pinned-frame gate: the banding side is the native minhash
    // pipeline (cf. lsh_recall)
    "lsh_precision"     -> on(documents)(Dedup.lshPrecisionOf(_)),
    "curriculum_order"  -> on(documents)(Corpus.curriculumOrderOf(_)),
    "schema_drift"      -> on(events)(Warehouse.schemaDriftOf(_)),
    "burstiness"        -> on(events)(EventAnalytics.burstinessOf),
    "clustering_coeff"  -> on(events)(Graph.clusteringCoeffOf),
    "lang_hhi"          -> on(documents)(CorpusStats.langHhiOf),
    "coverage_curve"    -> on(documents)(CorpusStats.coverageCurveOf(_)),
    "component_size_dist" -> on(documents)(Components.componentSizeDistOf(_)),
    "interarrival_percentiles" -> on(events)(EventAnalytics.interarrivalPercentilesOf),
    "centroid_separation" -> on(embeddings)(Cluster.centroidSeparationOf(_)),
    // Round-10 second tranche: data-quality forensics, association
    // strength, one-pass correlation moments, cardinality-estimate
    // audit (SURVEY §2 rows 227-230)
    "benford_audit"     -> on(orders)(Warehouse.benfordAuditOf),
    "cramers_v"         -> on(events)(Behavior.cramersVOf),
    "chi2_residuals"    -> on(events)(Behavior.chi2ResidualsOf),
    "anova_f"           -> on(events)(Behavior.anovaFOf),
    "cohen_kappa"       -> on(documents)(TextAnalysis.cohenKappaOf),
    "margin_mining"     -> on(embeddings)(Similarity.marginMiningOf(_)),
    "l_diversity"       -> on(customer)(Warehouse.lDiversityOf(_)),
    "user_growth"       -> on(events)(Behavior.userGrowthOf),
    "kcenter_select"    -> on(embeddings)(Cluster.kCenterSelectOf(_)),
    "apriori_triples"   -> on(events)(Behavior.aprioriTriplesOf(_)),
    "fpgrowth_triples"  -> ((s, d) => Behavior.fpgrowthTriplesOf(
      Tables.events(s, d).filter(col("event_type") === "purchase"))),
    "did_readout"       -> ((s, d) => Behavior.didReadoutOf(Tables.events(s, d), "2024-01-16")),
    "qini_curve"        -> ((s, d) => Behavior.qiniCurveOf(Tables.events(s, d), "2024-01-16")),
    "brier_decomposition" -> on(documents)(CorpusStats.brierDecompositionOf(_)),
    // Round-15 tranche: isotonic recalibration fit (SURVEY §2 row 417),
    // paired-gate McNemar (row 420)
    "isotonic_calibration" -> on(documents)(CorpusStats.isotonicCalibrationOf(_)),
    "mcnemar_test"      -> on(documents)(CorpusStats.mcnemarGatesOf(_)),
    // Round-12 fifth tranche: survival A/B, concordance-algebra rank
    // correlation, PR-AUC retrieval eval (SURVEY §2 rows 301-303)
    "logrank_test"      -> on(events)(Behavior.logrankTestOf(_)),
    "kendall_matrix"    -> on(lineitem)(Robust.kendallMatrixOf),
    "pr_auc"            -> on(documents)(CorpusStats.prAucOf(_)),
    // Round-12 sixth tranche: sketch calibration, capacity integral,
    // stratified causal estimate (SURVEY §2 rows 304-306)
    "quantile_sketch_err" -> on(lineitem)(Report.quantileSketchErrOf),
    "twap_concurrency"  -> on(events)(EventAnalytics.twapConcurrencyOf(_)),
    "stratified_ate"    -> ((s, d) => Behavior.stratifiedAteOf(Tables.events(s, d), "2024-01-16")),
    // Round-12 seventh tranche: sampled centralities on one shared
    // σ-BFS + Markov removal-effect attribution (rows 307-309)
    "betweenness_sampled" -> on(events)(Graph.betweennessSampledOf(_)),
    "harmonic_centrality" -> on(events)(Graph.harmonicCentralityOf(_)),
    "markov_attribution" -> on(events)(Behavior.markovAttributionOf(_)),
    // Round-12 eighth tranche: ordinal effect size, corpus knockout,
    // time-decay attribution (rows 310-312)
    "cliffs_delta"      -> on(events)(Robust.cliffsDeltaOf),
    "source_ablation"   -> on(documents)(CorpusStats.sourceAblationOf(_)),
    "decay_attribution" -> on(events)(Behavior.decayAttributionOf(_)),
    // Round-12 ninth tranche: game-theoretic attribution + edge-grain
    // cohesion (rows 313-314)
    "shapley_attribution" -> on(events)(Behavior.shapleyAttributionOf(_)),
    "ktruss"            -> on(events)(Graph.ktrussOf(_)),
    // Round-12 tenth tranche: DAU decomposition, CCNet partitioning,
    // coordinated sampling (rows 316-318)
    "growth_accounting" -> on(events)(Behavior.growthAccountingOf),
    "ccnet_buckets"     -> on(documents)(CorpusStats.ccnetBucketsOf),
    "consistent_sample" -> ((s, d) => Warehouse.consistentSampleOf(
      Tables.customer(s, d), Tables.orders(s, d), Tables.lineitem(s, d))),
    // Round-12 eleventh tranche: revenue-change decomposition, IVF
    // audits (rows 319-321)
    "price_volume_mix" ->
      ((s, d) => Warehouse.priceVolumeMixOf(Tables.lineitem(s, d), Tables.part(s, d))),
    "nprobe_sweep"      -> ((s, d) => Similarity.nprobeSweep(s, d)),
    "ivf_balance"       -> (Similarity.ivfBalance(_, _)),
    // Round-12 twelfth tranche: source-distribution distance,
    // embedding dim health, dormancy spells (rows 322-324)
    "source_word_tvd"   -> on(documents)(CorpusStats.sourceWordTvdOf(_)),
    "dim_profile"       -> on(embeddings)(Similarity.dimProfileOf),
    "dormancy_spells"   -> on(events)(Behavior.dormancySpellsOf),
    // Round-12 thirteenth tranche: fulfillment + inventory classes
    // (rows 325-326; row 327 is the streaming growth-accounting twin)
    "order_fill_rate" ->
      ((s, d) => Warehouse.orderFillRateOf(Tables.orders(s, d), Tables.lineitem(s, d))),
    "abc_classification" -> on(lineitem)(Warehouse.abcClassificationOf),
    // Round-12 fourteenth tranche: experiment guardrails + the third
    // privacy gate (rows 328-330)
    "srm_check"         -> on(events)(Behavior.srmCheckOf),
    "mde_power"         -> on(events)(Behavior.mdePowerOf),
    "t_closeness"       -> on(customer)(Warehouse.tClosenessOf(_)),
    // Round-12 fifteenth tranche: price indices, DB cluster validity,
    // readability (rows 331-333)
    "fisher_price_index" -> on(lineitem)(Warehouse.fisherPriceIndexOf),
    "davies_bouldin"    -> on(embeddings)(Cluster.daviesBouldinOf(_)),
    "readability"       -> on(documents)(TextAnalysis.readabilityOf),
    // Round-12 sixteenth tranche: survival effect size, source
    // distribution distance, Zipf fit, value reconciliation
    // (rows 334-337)
    "rmst_arms"         -> on(events)(Behavior.rmstArmsOf(_)),
    "hellinger_matrix"  -> on(documents)(CorpusStats.hellingerMatrixOf),
    "zipf_slope"        -> on(documents)(CorpusStats.zipfSlopeOf),
    "order_reconcile" ->
      ((s, d) => Warehouse.orderReconcileOf(Tables.lineitem(s, d), Tables.orders(s, d))),
    // Round-12 seventeenth tranche: forecast-eval pair + embedding-
    // health pair (rows 338-341)
    "holt_backtest"     -> on(events)(EventAnalytics.holtBacktestOf(_)),
    "pinball_loss"      -> on(events)(EventAnalytics.pinballLossOf(_)),
    "isotropy_audit"    -> on(embeddings)(Cluster.isotropyAuditOf),
    "hubness_audit"     -> on(embeddings)(Cluster.hubnessAuditOf(_)),
    // Round-12 eighteenth tranche: Q17/Q22 shapes, skip-gram
    // co-occurrence, early-LTV signal (rows 342-345)
    "small_order_revenue" ->
      ((s, d) => Warehouse.smallOrderRevenueOf(Tables.lineitem(s, d), Tables.part(s, d))),
    "idle_customers" ->
      ((s, d) => Warehouse.idleCustomersOf(Tables.customer(s, d), Tables.orders(s, d))),
    "skipgram_pairs"    -> on(documents)(CorpusStats.skipgramPairsOf(_)),
    "ltv_early_signal"  -> on(events)(Behavior.ltvEarlySignalOf(_)),
    // Round-12 nineteenth tranche: clustering stability, median CI,
    // image perceptual-hash dedup (rows 346-348)
    "cluster_stability_ari" -> on(embeddings)(Cluster.clusterStabilityAriOf(_)),
    "median_ci"         -> on(events)(Robust.medianCiOf),
    "image_ahash_dedup" ->
      ((s, d) => Multimodal.imageAhashDedupOf(s, Tables.documents(s, d))),
    // Round-15 tranche: DCT perceptual-hash twin (SURVEY §2 row 423)
    "image_phash_dedup" ->
      ((s, d) => Multimodal.imagePhashDedupOf(s, Tables.documents(s, d))),
    // Round-12 twentieth tranche: TPC-H Q1 pricing summary, HL
    // pseudo-median, cross-modal dedup audit (rows 349-351)
    "pricing_summary"   -> on(lineitem)(Warehouse.pricingSummaryOf),
    "hodges_lehmann"    -> on(events)(Robust.hodgesLehmannOf),
    "crossmodal_dedup_audit" ->
      ((s, d) => Multimodal.crossmodalDedupAuditOf(s, Tables.documents(s, d))),
    // Round-12 twenty-first tranche: Q14, DeLong SE, mutual-kNN,
    // aHash threshold sweep (rows 352-355)
    "promotion_effect" ->
      ((s, d) => Warehouse.promotionEffectOf(Tables.lineitem(s, d), Tables.part(s, d))),
    "auc_delong_se"     -> on(documents)(CorpusStats.aucDelongSeOf(_)),
    "mutual_knn_rate"   -> on(embeddings)(Cluster.mutualKnnRateOf(_)),
    "ahash_threshold_sweep" ->
      ((s, d) => Multimodal.ahashThresholdSweepOf(s, Tables.documents(s, d))),
    // Round-12 twenty-second tranche: Q13 distribution, decile lift
    // table, weekday effect size (rows 356-358)
    "orders_per_customer_dist" ->
      ((s, d) => Warehouse.ordersPerCustomerDistOf(Tables.customer(s, d), Tables.orders(s, d))),
    "lift_table"        -> on(documents)(CorpusStats.liftTableOf(_)),
    "seasonal_strength" -> on(events)(EventAnalytics.seasonalStrengthOf),
    // Round-12 twenty-third tranche: stickiness gauge + cross-source
    // dup provenance (rows 359-360)
    "dau_stickiness"    -> on(events)(EventAnalytics.dauStickinessOf(_)),
    "cross_source_dup_share" -> on(documents)(Components.crossSourceDupShareOf(_)),
    // Round-12 twenty-fourth tranche: tail risk + supervised cluster
    // quality (rows 361-362)
    "revenue_var"       -> on(events)(Robust.revenueVarOf(_)),
    "cluster_purity"    -> on(embeddings)(Cluster.clusterPurityOf(_)),
    // Round-12 twenty-fifth tranche: catalog connectivity + momentum
    // streaks (rows 363-364)
    "item_graph_components" -> on(events)(Graph.itemGraphComponentsOf),
    "streak_stats"      -> on(events)(EventAnalytics.streakStatsOf),
    // Round-13 first tranche: the k-sample rank test, the continuous
    // A/B readout, and the CTR uncertainty band (rows 365-367)
    "kruskal_wallis"    -> on(events)(Robust.kruskalWallisOf),
    "welch_test"        -> on(events)(Behavior.welchTestOf),
    "ctr_wilson"        -> on(events)(CtrAlerts.ctrWilsonOf),
    // Round-13 second tranche: the forecasting shelf beyond naives —
    // seasonal state, intermittent demand, predictability classes
    // (rows 368-370)
    "holt_winters_backtest" -> on(events)(EventAnalytics.holtWintersBacktestOf(_)),
    "croston_backtest"  -> on(events)(EventAnalytics.crostonBacktestOf(_)),
    "xyz_classification" -> on(lineitem)(Warehouse.xyzClassificationOf),
    // Round-13 third tranche: the remaining classic TPC-H query
    // shapes — Q3 backlog top-k, Q8 market share, Q19 OR-of-ANDs
    // (rows 371-373)
    "unshipped_orders" -> ((s, d) => Warehouse.unshippedOrdersOf(
      Tables.customer(s, d), Tables.orders(s, d), Tables.lineitem(s, d))),
    "nation_market_share" -> ((s, d) => Warehouse.nationMarketShareOf(
      Tables.lineitem(s, d), Tables.orders(s, d), Tables.customer(s, d), Tables.supplier(s, d),
      Tables.nation(s, d), Tables.region(s, d), Tables.part(s, d))),
    "brand_basket_revenue" ->
      ((s, d) => Warehouse.brandBasketRevenueOf(Tables.lineitem(s, d), Tables.part(s, d))),
    // Round-13 fourth tranche: engagement-depth curve, L28 power-user
    // histogram, AP double-payment audit (rows 374-376)
    "session_depth_conversion" -> on(events)(EventAnalytics.sessionDepthConversionOf(_)),
    "power_user_curve"  -> on(events)(EventAnalytics.powerUserCurveOf(_)),
    "duplicate_payments" -> on(orders)(Warehouse.duplicatePaymentsOf(_)),
    // Round-13 fifth tranche: word-graph keywording + the catalog
    // width certificate (rows 377-378)
    "textrank_keywords" -> on(documents)(CorpusStats.textrankKeywordsOf(_)),
    "diameter_estimate" -> on(events)(Graph.diameterEstimateOf(_)),
    // Round-13 sixth tranche: the Q4/Q7/Q10 query shapes
    // (rows 379-381)
    "late_orders_by_priority" ->
      ((s, d) => Warehouse.lateOrdersByPriorityOf(Tables.orders(s, d), Tables.lineitem(s, d))),
    "trade_flows" -> ((s, d) => Warehouse.tradeFlowsOf(
      Tables.lineitem(s, d), Tables.orders(s, d), Tables.customer(s, d), Tables.supplier(s, d),
      Tables.nation(s, d))),
    "returned_revenue_topk" -> ((s, d) => Warehouse.returnedRevenueTopkOf(
      Tables.lineitem(s, d), Tables.orders(s, d), Tables.customer(s, d), Tables.nation(s, d))),
    // Round-13 seventh tranche: count-metric A/B, ordered-arm trend,
    // syllable readability (rows 382-384)
    "poisson_rate_test" -> on(events)(Behavior.poissonRateTestOf),
    "cochran_armitage"  -> on(events)(Behavior.cochranArmitageOf),
    // Round-15 tranche: stratified CMH test (SURVEY §2 row 418)
    "mantel_haenszel"   -> on(events)(Behavior.mantelHaenszelOf(_)),
    "flesch_kincaid"    -> on(documents)(TextAnalysis.fleschKincaidOf),
    // Round-13 eighth tranche: tokenizer economics, directed SCC,
    // repeat-purchase latency (rows 387-389)
    "tokenizer_efficiency" -> on(documents)(CorpusStats.tokenizerEfficiencyOf),
    "pivot_scc"         -> on(events)(Graph.pivotSccOf),
    "repeat_purchase_latency" -> on(events)(Behavior.repeatPurchaseLatencyOf),
    // Round-13 tenth tranche: funnel decomposition, acquisition
    // surface, within-session conversion (rows 390-392)
    "funnel_stage_latency" -> on(events)(Behavior.funnelStageLatencyOf),
    "gateway_items"     -> on(events)(Behavior.gatewayItemsOf),
    "session_funnel"    -> on(events)(EventAnalytics.sessionFunnelOf(_)),
    // Round-13 eleventh tranche: padding economics, directed
    // reciprocity, arrival heatmap (rows 393-395)
    "padding_waste"     -> on(documents)(Corpus.paddingWasteOf),
    "reciprocity"       -> on(events)(Graph.reciprocityOf),
    "hourly_heatmap"    -> on(events)(EventAnalytics.hourlyHeatmapOf),
    // Round-13 twelfth tranche: CV-fold balance audit + pricing
    // governance (rows 396-397)
    "kfold_balance"     -> on(documents)(Corpus.kfoldBalanceOf(_)),
    "price_dispersion" ->
      ((s, d) => Warehouse.priceDispersionOf(Tables.lineitem(s, d), Tables.part(s, d))),
    // Round-13 thirteenth tranche: directional association rules
    // (row 398)
    "association_rules" -> on(events)(Behavior.associationRulesOf(_)),
    // fpgrowth_triples (registered round 14, row 297) mines the
    // purchase-only basket slice: MLlib's FPGrowth enumerates the
    // FULL frequent lattice with no itemset-size cap, and ALL-event
    // baskets make that lattice ~10^10 itemsets at sf0.1 (measured
    // timeout) — purchase baskets keep it at depth ~3-4; see the
    // operator's scaladoc. BehaviorSpec additionally pins agreement
    // with the Apriori chain on a sparse fixture.
    "corr_matrix"       -> on(lineitem)(Robust.corrMatrixOf),
    "spearman_matrix"   -> on(lineitem)(Robust.spearmanMatrixOf),
    "join_size_estimate" -> on(lineitem)(Warehouse.joinSizeEstimateOf),
    // Round-10 third tranche: community-quality scalar + BFS reach
    // profile on the shared item graph (SURVEY §2 rows 231-232)
    "modularity"        -> on(events)(Graph.modularityOf(_)),
    "khop_reach"        -> on(events)(Graph.khopReachOf(_)),
    // Round-10 fourth tranche: content-defined chunking (storage-dedup
    // counterpart of chunk_docs)
    "cdc_chunks"        -> on(documents)(Corpus.cdcChunksOf(_)),
    // Round-10: the REAL WAV codec behind the audio half of the
    // multimodal family (pinned-frame oracle; cf. multimodal_features)
    "audio_features"    -> (Multimodal.audioFeatures(_, _)),
    // Round-15 tranche: Goertzel pilot-tone detection (SURVEY §2 row 424)
    "audio_tone_detect" -> (Multimodal.audioToneDetect(_, _)),
    // pinned-frame gate: positions are Spark-native xxhash64
    // (cf. lsh_precision)
    "bloom_fpr"         -> on(orders)(BloomJoin.bloomFprOf(_)),
    // Round-10 fifth tranche: survival dual, GBDT-style split finder,
    // conformal calibration (SURVEY §2 rows 237-239)
    "nelson_aalen"      -> on(events)(Behavior.nelsonAalenOf(_)),
    "best_split"        -> on(documents)(CorpusStats.bestSplitOf(_)),
    "conformal_interval" -> on(events)(EventAnalytics.conformalIntervalOf),
    // Round-10 sixth tranche: exact KS drift test, skyline frontier,
    // rolling metric coupling (SURVEY §2 rows 240-242)
    "ks_test"           -> on(events)(Robust.ksTestOf(_)),
    "mannwhitney_test"  -> on(events)(Robust.mannWhitneyOf),
    // Round-15 tranche: ordered-alternative trend test (SURVEY §2 row 419),
    // blocked-rank Friedman test (row 425)
    "jonckheere_trend"  -> on(lineitem)(Robust.jonckheereTrendOf),
    "friedman_test"     -> on(events)(Robust.friedmanTestOf),
    "kendall_w"         -> on(events)(Robust.kendallWOf),
    "yuen_test"         -> on(events)(Robust.yuenTestOf),
    "overdispersion_check" -> on(events)(Robust.overdispersionCheckOf),
    "pareto_frontier"   -> on(documents)(CorpusStats.paretoFrontierOf),
    "rolling_corr"      -> on(events)(Robust.rollingCorrOf(_)),
    // Watermark-sizing disorder audit (batch predictor of the
    // streaming monitor's n_late)
    "disorder_audit"    -> on(events)(EventAnalytics.disorderAuditOf),
    // Topic labels for the kmeans cells (kmeans x keyness composition)
    "cluster_topics" ->
      ((s, d) => Cluster.clusterTopicsOf(Tables.embeddings(s, d), Tables.documents(s, d))),
    // Round-10 seventh tranche: cohort economics + ingest contract
    "cohort_ltv"        -> on(events)(Behavior.cohortLtvOf(_)),
    "contract_audit"    -> on(events)(Warehouse.contractAuditOf(_)),
    // Round-10 eighth tranche: forecast eval, hub-club density,
    // unicode-script composition (SURVEY §2 rows 248-250)
    "forecast_backtest" -> on(events)(EventAnalytics.forecastBacktestOf),
    "rich_club"         -> on(events)(Graph.richClubOf(_)),
    "script_mix"        -> on(documents)(TextAnalysis.scriptMixOf),
    // Round-10 ninth tranche: recommendation neighbors, retention
    // cadence, capacity sweep (SURVEY §2 rows 251-253)
    "item_cosine"       -> on(events)(Behavior.itemCosineOf(_)),
    "return_time"       -> on(events)(EventAnalytics.returnTimeOf(_)),
    "peak_concurrency"  -> on(events)(EventAnalytics.peakConcurrencyOf(_)),
    // Round-10 tenth tranche: retrospective changepoint, revenue
    // concentration curve, vocabulary growth (SURVEY §2 rows 254-256)
    "binary_segmentation" -> on(events)(EventAnalytics.binarySegmentationOf),
    "lorenz_curve"      -> on(events)(Behavior.lorenzCurveOf),
    "heaps_curve"       -> on(documents)(CorpusStats.heapsCurveOf),
    // Round-10 eleventh tranche: sequence-model backtest + int8
    // retrieval fidelity (SURVEY §2 rows 257-258)
    "markov_accuracy"   -> on(events)(Behavior.markovAccuracyOf(_)),
    "quantize_recall"   -> on(embeddings)(Similarity.quantizeRecallOf(_)),
    "rp_recall"         -> on(embeddings)(Similarity.rpRecallOf(_)),
    // Round-10 twelfth tranche: one-pass threshold sweeps (SURVEY §2
    // rows 259-260)
    "session_sweep"     -> on(events)(EventAnalytics.sessionSweepOf(_)),
    "watermark_loss"    -> on(events)(EventAnalytics.watermarkLossOf(_)),
    // Round-16 tranche: TPC-H Q15/Q18/Q6 shapes, post-hoc + agreement
    // stats, residual autocorrelation, experiment design, embedding
    // two-sample, audio level audit
    "top_supplier_share" ->
      ((s, d) => Warehouse.topSupplierShareOf(Tables.lineitem(s, d), Tables.supplier(s, d))),
    "large_orders" -> ((s, d) => Warehouse.largeOrdersOf(
      Tables.lineitem(s, d), Tables.orders(s, d), Tables.customer(s, d))),
    "discount_whatif"   -> on(lineitem)(Warehouse.discountWhatifOf),
    "dunn_posthoc"      -> on(events)(Robust.dunnPosthocOf),
    "cochran_q_gates"   -> on(documents)(CorpusStats.cochranQGatesOf(_)),
    "fleiss_kappa_gates" -> on(documents)(CorpusStats.fleissKappaGatesOf(_)),
    "durbin_watson"     -> on(events)(EventAnalytics.durbinWatsonOf),
    "power_mde"         -> on(events)(Behavior.powerMdeOf),
    "embedding_mmd"     -> on(embeddings)(Similarity.embeddingMmdOf),
    "audio_clipping_audit" -> on(documents)(Multimodal.audioClippingAuditOf(_)),
    "release_funnel"    -> (CorpusReleasePipeline.releaseFunnel(_, _)),
    // Round-16 second tranche: paired/distributional tests,
    // sentence-level dedup, provenance matrix
    "wilcoxon_signed_rank" -> on(events)(Robust.wilcoxonSignedRankOf(_)),
    "quantile_lift"     -> on(events)(Robust.quantileLiftOf),
    "sentence_dedup"    -> on(documents)(Corpus.sentenceDedupOf(_)),
    "source_overlap_matrix" -> on(documents)(Corpus.sourceOverlapMatrixOf(_)),
    // Round-16 third tranche: the six remaining TPC-H query shapes
    // (Q2/Q9/Q11/Q12/Q16/Q20) — the warehouse dial is now complete
    "min_cost_supplier" -> ((s, d) => Warehouse.minCostSupplierOf(
      Tables.lineitem(s, d), Tables.part(s, d), Tables.supplier(s, d), Tables.nation(s, d),
      Tables.region(s, d))),
    "nation_profit" -> ((s, d) => Warehouse.nationProfitOf(
      Tables.lineitem(s, d), Tables.part(s, d), Tables.supplier(s, d), Tables.nation(s, d))),
    "important_parts" -> ((s, d) => Warehouse.importantPartsOf(
      Tables.lineitem(s, d), Tables.supplier(s, d), Tables.nation(s, d))),
    "priority_ship_mix" ->
      ((s, d) => Warehouse.priorityShipMixOf(Tables.lineitem(s, d), Tables.orders(s, d))),
    "part_supplier_variety" -> ((s, d) => Warehouse.partSupplierVarietyOf(
      Tables.lineitem(s, d), Tables.part(s, d), Tables.supplier(s, d))),
    "excess_shippers" -> ((s, d) => Warehouse.excessShippersOf(
      Tables.lineitem(s, d), Tables.part(s, d), Tables.supplier(s, d), Tables.nation(s, d),
      Tables.region(s, d))),
    // Round-16 fourth tranche: the assumption-audit stats shelf —
    // sign test, Mood's median, Cox-Stuart, Ljung-Box, TOST
    "sign_test"         -> on(events)(Robust.signTestOf(_)),
    "mood_median"       -> on(events)(Robust.moodMedianOf),
    "cox_stuart"        -> on(events)(Robust.coxStuartOf),
    "ljung_box"         -> on(events)(EventAnalytics.ljungBoxOf(_)),
    "tost_equivalence"  -> on(events)(Behavior.tostEquivalenceOf),
    // Round-16 fifth tranche: truncated Katz centrality, arrival-order
    // n-gram novelty + the acquisition curve
    "katz_centrality"   -> on(events)(Graph.katzCentralityOf(_)),
    "ngram_novelty"     -> on(documents)(Dedup.ngramNoveltyOf(_)),
    "novelty_curve"     -> on(documents)(Dedup.noveltyCurveOf(_)),
    "median_polish"     -> on(events)(Robust.medianPolishOf(_)),
    // Round-16 sixth tranche: the third residual gate + the
    // crawl-health arrival dashboard
    "breusch_pagan"     -> on(events)(EventAnalytics.breuschPaganOf),
    "arrival_quality_mix" -> on(documents)(CorpusStats.arrivalQualityMixOf),
    // Round-17: sketch twins for the round-14+ exact-distinct gram
    // heavies (VERDICT r16 #3) — built with `approx = true`,
    // pinned-frame oracles (HLL merges and the 1/4 key-space
    // hash-samples are order-blind/deterministic)
    "source_overlap_matrix_approx" ->
      ((s, d) => Corpus.sourceOverlapMatrixOf(Tables.documents(s, d), approx = true)),
    "sentence_dedup_approx" ->
      ((s, d) => Corpus.sentenceDedupOf(Tables.documents(s, d), approx = true)),
    "winnow_fingerprints_approx" ->
      ((s, d) => TextAnalysis.winnowFingerprintsOf(Tables.documents(s, d), approx = true)),
    // Round-17 second tranche: experiment integrity (aggregate-vs-
    // strata contradiction, cluster-robust ratio-metric CI), the
    // cross-series lead-lag read, and the inventory service-level plan
    "simpson_reversal"   -> on(events)(Behavior.simpsonReversalOf),
    "jackknife_ratio_se" -> on(events)(Behavior.jackknifeRatioSeOf(_)),
    "ccf_leadlag"        -> on(events)(EventAnalytics.ccfLeadlagOf(_)),
    "reorder_point" ->
      ((s, d) => Warehouse.reorderPointOf(Tables.lineitem(s, d), Tables.part(s, d))),
    // Round-17 third tranche: training-data governance (split
    // leakage measurement, per-epoch shuffle decorrelation) and the
    // A/A null-battery platform-calibration read
    "split_leakage"  -> on(documents)(Corpus.splitLeakageOf(_)),
    "epoch_shuffle"  -> on(documents)(Corpus.epochShuffleAuditOf(_)),
    "aa_calibration" -> on(events)(Behavior.aaCalibrationOf(_)),
    // Round-17 fourth tranche: trust-and-safety (bot heuristics),
    // calendar completeness, and the trigger-dilution readout
    "bot_score"        -> on(events)(EventAnalytics.botScoreOf(_)),
    "gap_report"       -> on(events)(EventAnalytics.gapReportOf),
    "trigger_dilution" -> on(events)(Behavior.triggerDilutionOf(_))
  )

  /** Split per operator family (round 9): the registry stays one
    * object while the SQL lives in graft.oracles.*. Keys are disjoint
    * by construction — each query registers exactly once.
    */
  def oracleSql: Map[String, String] =
    graft.oracles.ReportOracles.sql ++
    graft.oracles.WarehouseOracles.sql ++
    graft.oracles.EventOracles.sql ++
    graft.oracles.CorpusOracles.sql ++
    graft.oracles.CorpusStatsOracles.sql ++
    graft.oracles.DedupOracles.sql ++
    graft.oracles.SimilarityOracles.sql
}
