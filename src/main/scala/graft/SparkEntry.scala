package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators._
import graft.sources.Tables

/** Driver contract — see /root/repo/SURVEY.md §2 + §5.
  *
  * Every implemented operator registers here; `oracleSql` carries the
  * DuckDB-equivalent ANSI SQL with IDENTICAL column aliases (the
  * driver's compare hashes values under sorted column names).
  * Non-SQL-expressible ops (MinHash/SimHash/LSH-ANN) register without
  * an oracle → rows-only check + scalatest coverage.
  */
object SparkEntry {

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Report.dailyReport(spark, "/root/testdata/sf0.001")

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
    "dedup_minhash"    -> (Dedup.dedupMinhash(_, _)),
    "dedup_jaccard"    -> (Dedup.dedupJaccard(_, _)),
    "dedup_simhash"    -> (Dedup.dedupSimhash(_, _)),
    // Round-15 tranche: Chapman capture-recapture undercount (row 426)
    "dedup_capture_recapture" -> (Dedup.dedupCaptureRecapture(_, _)),
    "dedup_cosine"     -> (Similarity.dedupCosine(_, _)),
    "knn_topk"         -> (Similarity.knnTopk(_, _)),
    "ann_lsh"          -> (Similarity.annLsh(_, _)),
    "token_count"      -> (TextAnalysis.tokenCount(_, _)),
    "token_count_bpe"  -> (TextAnalysis.tokenCountBpe(_, _)),
    // Round-15 tranche: tokenizer Bland-Altman agreement (row 429)
    "bland_altman"     -> (TextAnalysis.blandAltman(_, _)),
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
    "sessionize"        -> (EventAnalytics.sessionize(_, _)),
    "zscore_outliers"   -> (EventAnalytics.zscoreOutliers(_, _)),
    "interval_join"     -> (EventAnalytics.intervalJoin(_, _)),
    "pii_redact"        -> (Corpus.piiRedact(_, _)),
    "decontaminate"     -> (Corpus.decontaminate(_, _)),
    "vocab_df"          -> (Corpus.vocabDf(_, _)),
    "stratified_sample" -> (Corpus.stratifiedSample(_, _)),
    "jaccard_pairs"     -> (Dedup.jaccardPairs(_, _)),
    "embed_quantize"    -> (Similarity.embedQuantize(_, _)),
    // Round-6 tranche: corpus statistics, training-shard prep,
    // embedding clustering (#55-62)
    "tfidf_top_terms"   -> (CorpusStats.tfidfTopTerms(_, _)),
    "repetition_stats"  -> (CorpusStats.repetitionStats(_, _)),
    "collocations"      -> (CorpusStats.collocations(_, _)),
    "lang_quality_gate" -> (CorpusStats.langQualityGate(_, _)),
    "chunk_docs"        -> (Corpus.chunkDocs(_, _)),
    "pack_greedy"       -> (Corpus.packGreedy(_, _)),
    "train_split"       -> (Corpus.trainSplit(_, _)),
    "kmeans_embed"      -> (Cluster.kmeansEmbed(_, _)),
    "dedup_components"  -> (Components.dedupComponents(_, _)),
    "dedup_components_cascade" -> (Components.dedupComponentsCascade(_, _)),
    "dedup_quality_bias" -> (Components.dedupQualityBias(_, _)),
    "mix_sources"       -> (Corpus.mixSources(_, _)),
    // rows-only: sketch internals are engine-specific (cf. #37 HLL)
    "earnings_percentiles_approx" -> (Report.earningsPercentilesApprox(_, _)),
    // oracle-checked (see oracleSql)
    "key_skew"          -> (Skew.keySkew(_, _)),
    "value_histogram"   -> (Report.valueHistogram(_, _)),
    "daily_fill"        -> (EventAnalytics.dailyFill(_, _)),
    // rows-only: MinHash banding is not SQL-expressible (cf. #16)
    "dedup_incremental" -> (Dedup.dedupIncremental(_, _)),
    // Round-7 tranche: behavioral analytics, robust statistics,
    // boilerplate spans, sketch-confirmed heavy hitters, 1-bit ANN
    // (#73-82)
    "funnel_steps"      -> (Behavior.funnelSteps(_, _)),
    "funnel_by_arm"     -> (Behavior.funnelByArm(_, _)),
    "cohort_retention"  -> (Behavior.cohortRetention(_, _)),
    "pivot_report"      -> (Behavior.pivotReport(_, _)),
    "mad_outliers"      -> (Robust.madOutliers(_, _)),
    "value_deciles"     -> (Robust.valueDeciles(_, _)),
    "winsorize"         -> (Robust.winsorize(_, _)),
    "profile_columns"   -> (Robust.profileColumns(_, _)),
    "boilerplate_stats" -> (Corpus.boilerplateStats(_, _)),
    "heavy_hitters"     -> (HeavyHitters.heavyHitters(_, _)),
    "ann_hamming"       -> (Similarity.annHamming(_, _)),
    "event_transitions" -> (Behavior.eventTransitions(_, _)),
    "label_centroids"   -> (Cluster.labelCentroids(_, _)),
    "fk_coverage"       -> (Warehouse.fkCoverage(_, _)),
    "latest_per_key"    -> (Warehouse.latestPerKey(_, _)),
    "source_temperature" -> (Corpus.sourceTemperature(_, _)),
    "rolling_reach"     -> (EventAnalytics.rollingReach(_, _)),
    "ann_recall"        -> (Similarity.annRecall(_, _)),
    "range_window"      -> (EventAnalytics.rangeWindow(_, _)),
    // rows-only: PQ codebook internals are not SQL-expressible (cf. #16)
    "ann_pq"            -> (Pq.annPq(_, _)),
    "revenue_by_nation" -> (Warehouse.revenueByNation(_, _)),
    "lang_confusion"    -> (TextAnalysis.langConfusion(_, _)),
    // Round-7 continuation: warehouse CDC, alert smoothers, runtime
    // bloom filter, corpus-LM scoring (#101-106)
    "snapshot_diff"     -> (Warehouse.snapshotDiff(_, _)),
    "merge_upsert"      -> (Warehouse.mergeUpsert(_, _)),
    // Round-15 tranche: small-file compaction planner (SURVEY §2 row 421),
    // FIFO lot-matching interval join (row 422)
    "compaction_plan"   -> (Warehouse.compactionPlan(_, _)),
    "fifo_match"        -> (Warehouse.fifoMatch(_, _)),
    "blocking_suppliers" -> (Warehouse.blockingSuppliers(_, _)),
    "linear_attribution" -> (Behavior.linearAttribution(_, _)),
    "seasonal_decompose" -> (EventAnalytics.seasonalDecompose(_, _)),
    "hll_error_audit"   -> (CtrAlerts.hllErrorAudit(_, _)),
    "weekday_envelope"  -> (EventAnalytics.weekdayEnvelope(_, _)),
    "entry_conversion"  -> (EventAnalytics.entryConversion(_, _)),
    "embedding_drift"   -> (Cluster.embeddingDrift(_, _)),
    "asof_nearest"      -> (AsofJoin.nearestAttribution(_, _)),
    "session_campaign_overlap" -> (EventAnalytics.sessionCampaignOverlap(_, _)),
    "deletion_audit"    -> (Warehouse.deletionAudit(_, _)),
    "audience_overlap"  -> (Behavior.audienceOverlap(_, _)),
    "trending_items"    -> (Behavior.trendingItems(_, _)),
    "return_rate_by_brand" -> (Warehouse.returnRateByBrand(_, _)),
    "supplier_hhi"      -> (Warehouse.supplierHhi(_, _)),
    "discount_elasticity" -> (Robust.discountElasticity(_, _)),
    "scd2_history"      -> (Warehouse.scd2History(_, _)),
    "ewma_smooth"       -> (EventAnalytics.ewmaSmooth(_, _)),
    "rolling_median"    -> (Robust.rollingMedian(_, _)),
    "bloom_semi_join"   -> (BloomJoin.urgentRevenue(_, _)),
    "lm_quality"        -> (CorpusStats.lmQuality(_, _)),
    "distribution_drift" -> (Robust.distributionDrift(_, _)),
    "oov_rate"          -> (CorpusStats.oovRate(_, _)),
    "chi2_contingency"  -> (Behavior.chi2Contingency(_, _)),
    "conversion_latency" -> (Behavior.conversionLatency(_, _)),
    "item_affinity"     -> (Behavior.itemAffinity(_, _)),
    "hard_mining"       -> (Similarity.hardMining(_, _)),
    // rows-only: BPE training is iterative, not SQL-expressible
    // (cf. #16); TokenizerSpec pins the algorithm on hand-checked
    // corpora
    "bpe_merges"        -> (Tokenizer.bpeMerges(_, _)),
    "bpe_segment"       -> (Tokenizer.bpeSegment(_, _)),
    "bootstrap_ci"      -> (Robust.bootstrapCi(_, _)),
    // Round-8 tranche: span-level dedup transform, weighted sampling,
    // group-aware splits (#119-121)
    "span_dedup"        -> (Corpus.spanDedup(_, _)),
    "weighted_sample"   -> (Corpus.weightedSample(_, _)),
    "grouped_split"     -> (Corpus.groupedSplit(_, _)),
    "gopher_rules"      -> (CorpusStats.gopherRules(_, _)),
    "inverted_index"    -> (CorpusStats.invertedIndex(_, _)),
    "kanon_risk"        -> (Warehouse.kanonRisk(_, _)),
    "containment_pairs" -> (Dedup.containmentPairs(_, _)),
    "knn_classify"      -> (Similarity.knnClassify(_, _)),
    "sem_dedup"         -> (Cluster.semDedup(_, _)),
    // rows-only: the iterative eigensolve is not SQL-expressible
    // (cf. bpe_merges); PcaSpec pins the algebra
    "pca_embed"         -> (Pca.pcaEmbed(_, _)),
    "dp_counts"         -> (Warehouse.dpCounts(_, _)),
    "bm25_search"       -> (CorpusStats.bm25Search(_, _)),
    "kwic_snippets"     -> (TextAnalysis.kwicSnippets(_, _)),
    "decayed_engagement" -> (Behavior.decayedEngagement(_, _)),
    "theilsen_trend"    -> (Robust.theilSenTrend(_, _)),
    "length_batching"   -> (Corpus.lengthBatching(_, _)),
    "prefix_cache_groups" -> (Corpus.prefixCacheGroups(_, _)),
    "seasonal_profile"  -> (EventAnalytics.seasonalProfile(_, _)),
    "corpus_card"       -> (CorpusStats.corpusCard(_, _)),
    "auc_quality"       -> (CorpusStats.aucQuality(_, _)),
    "fuzzy_match"       -> (Linkage.fuzzyMatch(_, _)),
    "mrr_eval"          -> (Similarity.mrrEval(_, _)),
    "pagerank"          -> (Graph.pagerank(_, _)),
    "mmr_rerank"        -> (Similarity.mmrRerank(_, _)),
    "graph_degrees"     -> (Graph.graphDegrees(_, _)),
    "calibration_curve" -> (CorpusStats.calibrationCurve(_, _)),
    "cuped_adjust"      -> (Behavior.cupedAdjust(_, _)),
    "ndcg_eval"         -> (Similarity.ndcgEval(_, _)),
    "ctr_shrunk"        -> (CtrAlerts.ctrShrunk(_, _)),
    "term_keyness"      -> (CorpusStats.termKeyness(_, _)),
    "dup_matrix"        -> (Dedup.dupMatrix(_, _)),
    "top_paths"         -> (EventAnalytics.topPaths(_, _)),
    "target_encode"     -> (EventAnalytics.targetEncode(_, _)),
    "seasonal_outliers" -> (EventAnalytics.seasonalOutliers(_, _)),
    "vocab_overlap"     -> (CorpusStats.vocabOverlap(_, _)),
    "robust_scaler"     -> (Robust.robustScaler(_, _)),
    // rows-only: the banded-minhash side is the native pipeline
    // (cf. dedup_minhash); DedupSpec pins subset + recall properties
    "lsh_recall"        -> (Dedup.lshRecall(_, _)),
    // the 100 TB default: same audit on a 1-in-8 doc-hash sample
    "lsh_recall_sampled" -> (Dedup.lshRecallSampled(_, _)),
    // Round-9: Lee'21-style exact-substring duplicate spans
    "substr_dup_spans"  -> (Dedup.exactSubstringSpans(_, _)),
    // Round-9: retrieval + selection tranche
    "hybrid_search"     -> (Similarity.hybridSearch(_, _)),
    "sem_decontaminate" -> (Similarity.semDecontaminate(_, _)),
    "dsir_weights"      -> (Corpus.dsirWeights(_, _)),
    // Round-9: graph + crawl-cleaning tranche
    "hits"              -> (Graph.hits(_, _)),
    "lpa_communities"   -> (Graph.lpaCommunities(_, _)),
    // Round-14 first tranche: recursive-importance centrality +
    // exact token-repeat diversity (SURVEY §2 rows 399-400)
    "eigenvector_centrality" -> (Graph.eigenvectorCentrality(_, _)),
    "simpson_diversity" -> (CorpusStats.simpsonDiversity(_, _)),
    // Round-14 second tranche: winnowing fingerprint sample + exact
    // label alignment/separation (SURVEY §2 rows 401-402)
    "winnow_fingerprints" -> (TextAnalysis.winnowFingerprints(_, _)),
    "embedding_alignment" -> (Similarity.embeddingAlignment(_, _)),
    // Round-14 third tranche: supplier-concentration risk + RAKE
    // phrase keywords (SURVEY §2 rows 403-404)
    "single_sourcing"   -> (Warehouse.singleSourcing(_, _)),
    "rake_keywords"     -> (CorpusStats.rakeKeywords(_, _)),
    // Round-14 fourth tranche: Church-Gale term dispersion + Pettitt
    // rank changepoint (SURVEY §2 rows 405-406)
    "term_burstiness"   -> (CorpusStats.termBurstiness(_, _)),
    "pettitt_changepoint" -> (EventAnalytics.pettittChangepoint(_, _)),
    // Round-14 fifth tranche: variance-homogeneity pre-check +
    // Mann-Kendall trend significance (SURVEY §2 rows 407-408)
    "brown_forsythe"    -> (Behavior.brownForsythe(_, _)),
    "mann_kendall"      -> (Robust.mannKendall(_, _)),
    // Round-14 sixth tranche: Syntetos-Boylan demand quadrant
    // (SURVEY §2 row 409)
    "demand_classes"    -> (EventAnalytics.demandClasses(_, _)),
    // Round-14 seventh tranche: earth-mover drift + Wald-Wolfowitz
    // runs test (SURVEY §2 rows 410-411)
    "wasserstein_drift" -> (Robust.wassersteinDrift(_, _)),
    "runs_test"         -> (Robust.runsTest(_, _)),
    // Round-14 eighth tranche: stylometric source distance +
    // hub-ablation robustness (SURVEY §2 rows 412-413)
    "burrows_delta"     -> (CorpusStats.burrowsDelta(_, _)),
    "hub_ablation"      -> (Graph.hubAblation(_, _)),
    // Round-14 ninth tranche: Rocchio pseudo-relevance feedback
    // (SURVEY §2 row 414)
    "prf_search"        -> (CorpusStats.prfSearch(_, _)),
    // Round-14 tenth tranche: language-purity profile + seasonal
    // Mann-Kendall (SURVEY §2 rows 415-416)
    "code_switch"       -> (TextAnalysis.codeSwitch(_, _)),
    "seasonal_mk"       -> (Robust.seasonalMk(_, _)),
    "strip_markup"      -> (TextAnalysis.stripMarkup(_, _)),
    "mojibake_stats"    -> (TextAnalysis.mojibakeStats(_, _)),
    "change_contrib"    -> (EventAnalytics.changeContrib(_, _)),
    "gini_concentration" -> (EventAnalytics.giniConcentration(_, _)),
    "mixture_plan"      -> (Corpus.mixturePlan(_, _)),
    "token_len_histogram" -> (Corpus.tokenLenHistogram(_, _)),
    "dedup_rate_by_source" -> (Dedup.dedupRateBySource(_, _)),
    "embedding_norm_stats" -> (Similarity.embeddingNormStats(_, _)),
    // rows-only: sketch estimates are engine-specific internals
    // (cf. approx_distinct_users); AlertsSpec bands every level vs exact
    "hll_rollup"        -> (CtrAlerts.hllRollup(_, _)),
    "label_noise"       -> (Similarity.labelNoise(_, _)),
    "ship_lag_percentiles" -> (Report.shipLagPercentiles(_, _)),
    "category_collapse" -> (EventAnalytics.categoryCollapse(_, _)),
    "triangle_count"    -> (Graph.triangleCount(_, _)),
    "cusum_changepoint" -> (EventAnalytics.cusumChangepoint(_, _)),
    "personalized_pagerank" -> (Graph.personalizedPagerank(_, _)),
    "weighted_median"   -> (Robust.weightedMedian(_, _)),
    "pii_by_source"     -> (Corpus.piiBySource(_, _)),
    // Round-8 tranche: budget water-fill, retention sweep, quantile
    // normalization (mixture/quality families)
    "waterfill_budget"  -> (Corpus.waterfillBudget(_, _)),
    "quality_retention" -> (CorpusStats.qualityRetention(_, _)),
    "quantile_normalize" -> (CorpusStats.quantileNormalize(_, _)),
    "ngram_diversity"   -> (CorpusStats.distinctNgramDiversity(_, _)),
    "centroid_outliers" -> (Cluster.centroidOutliers(_, _)),
    "entity_clusters"   -> (Linkage.entityClusters(_, _)),
    "kfold_assign"      -> (Corpus.kfoldAssign(_, _)),
    "class_weights"     -> (Corpus.classWeights(_, _)),
    "negative_samples"  -> (Behavior.negativeSamples(_, _)),
    "ab_test"           -> (Behavior.abTest(_, _)),
    "rfm_segments"      -> (Behavior.rfmSegments(_, _)),
    "bounce_rate"       -> (EventAnalytics.bounceRate(_, _)),
    // Round-8 final tranche: survival/ACF/split (time-series &
    // experimentation), RA link prediction, matryoshka audit,
    // zone-map audit, count-min calibration
    "churn_lifetable"   -> (Behavior.churnLifetable(_, _)),
    "acf_daily"         -> (EventAnalytics.acfDaily(_, _)),
    "temporal_split"    -> (EventAnalytics.temporalSplit(_, _)),
    "link_predict"      -> (Graph.linkPredict(_, _)),
    "matryoshka_energy" -> (Similarity.matryoshkaEnergy(_, _)),
    "zonemap_audit"     -> (Warehouse.zonemapAudit(_, _)),
    "countmin_err"      -> (HeavyHitters.countMinErr(_, _)),
    "funnel_windowed"   -> (Behavior.funnelWindowed(_, _)),
    "incremental_rollup" -> (Warehouse.incrementalRollup(_, _)),
    "dedup_cascade"     -> (Dedup.dedupCascade(_, _)),
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
    "dedup_normalized"  -> (Dedup.dedupNormalized(_, _)),
    "dup_inflation"     -> (Dedup.dupInflation(_, _)),
    "banding_sweep"     -> (Dedup.bandingSweep(_, _)),
    // Round-10 widening tranche: graph structure, cluster validity,
    // LSH cost audit, curriculum/drift/burstiness (SURVEY §2 rows
    // 213-219)
    "kcore"             -> (Graph.kcore(_, _)),
    "degree_assortativity" -> (Graph.degreeAssortativity(_, _)),
    "silhouette"        -> (Cluster.silhouette(_, _)),
    // pinned-frame gate: the banding side is the native minhash
    // pipeline (cf. lsh_recall)
    "lsh_precision"     -> (Dedup.lshPrecision(_, _)),
    "curriculum_order"  -> (Corpus.curriculumOrder(_, _)),
    "schema_drift"      -> (Warehouse.schemaDrift(_, _)),
    "burstiness"        -> (EventAnalytics.burstiness(_, _)),
    "clustering_coeff"  -> (Graph.clusteringCoeff(_, _)),
    "lang_hhi"          -> (CorpusStats.langHhi(_, _)),
    "coverage_curve"    -> (CorpusStats.coverageCurve(_, _)),
    "component_size_dist" -> (Components.componentSizeDist(_, _)),
    "interarrival_percentiles" -> (EventAnalytics.interarrivalPercentiles(_, _)),
    "centroid_separation" -> (Cluster.centroidSeparation(_, _)),
    // Round-10 second tranche: data-quality forensics, association
    // strength, one-pass correlation moments, cardinality-estimate
    // audit (SURVEY §2 rows 227-230)
    "benford_audit"     -> (Warehouse.benfordAudit(_, _)),
    "cramers_v"         -> (Behavior.cramersV(_, _)),
    "chi2_residuals"    -> (Behavior.chi2Residuals(_, _)),
    "anova_f"           -> (Behavior.anovaF(_, _)),
    "cohen_kappa"       -> (TextAnalysis.cohenKappa(_, _)),
    "margin_mining"     -> (Similarity.marginMining(_, _)),
    "l_diversity"       -> (Warehouse.lDiversity(_, _)),
    "user_growth"       -> (Behavior.userGrowth(_, _)),
    "kcenter_select"    -> (Cluster.kCenterSelect(_, _)),
    "apriori_triples"   -> (Behavior.aprioriTriples(_, _)),
    "fpgrowth_triples"  -> (Behavior.fpgrowthTriples(_, _)),
    "did_readout"       -> (Behavior.didReadout(_, _)),
    "qini_curve"        -> (Behavior.qiniCurve(_, _)),
    "brier_decomposition" -> (CorpusStats.brierDecomposition(_, _)),
    // Round-15 tranche: isotonic recalibration fit (SURVEY §2 row 417),
    // paired-gate McNemar (row 420)
    "isotonic_calibration" -> (CorpusStats.isotonicCalibration(_, _)),
    "mcnemar_test"      -> (CorpusStats.mcnemarGates(_, _)),
    // Round-12 fifth tranche: survival A/B, concordance-algebra rank
    // correlation, PR-AUC retrieval eval (SURVEY §2 rows 301-303)
    "logrank_test"      -> (Behavior.logrankTest(_, _)),
    "kendall_matrix"    -> (Robust.kendallMatrix(_, _)),
    "pr_auc"            -> (CorpusStats.prAuc(_, _)),
    // Round-12 sixth tranche: sketch calibration, capacity integral,
    // stratified causal estimate (SURVEY §2 rows 304-306)
    "quantile_sketch_err" -> (Report.quantileSketchErr(_, _)),
    "twap_concurrency"  -> (EventAnalytics.twapConcurrency(_, _)),
    "stratified_ate"    -> (Behavior.stratifiedAte(_, _)),
    // Round-12 seventh tranche: sampled centralities on one shared
    // σ-BFS + Markov removal-effect attribution (rows 307-309)
    "betweenness_sampled" -> (Graph.betweennessSampled(_, _)),
    "harmonic_centrality" -> (Graph.harmonicCentrality(_, _)),
    "markov_attribution" -> (Behavior.markovAttribution(_, _)),
    // Round-12 eighth tranche: ordinal effect size, corpus knockout,
    // time-decay attribution (rows 310-312)
    "cliffs_delta"      -> (Robust.cliffsDelta(_, _)),
    "source_ablation"   -> (CorpusStats.sourceAblation(_, _)),
    "decay_attribution" -> (Behavior.decayAttribution(_, _)),
    // Round-12 ninth tranche: game-theoretic attribution + edge-grain
    // cohesion (rows 313-314)
    "shapley_attribution" -> (Behavior.shapleyAttribution(_, _)),
    "ktruss"            -> (Graph.ktruss(_, _)),
    // Round-12 tenth tranche: DAU decomposition, CCNet partitioning,
    // coordinated sampling (rows 316-318)
    "growth_accounting" -> (Behavior.growthAccounting(_, _)),
    "ccnet_buckets"     -> (CorpusStats.ccnetBuckets(_, _)),
    "consistent_sample" -> (Warehouse.consistentSample(_, _)),
    // Round-12 eleventh tranche: revenue-change decomposition, IVF
    // audits (rows 319-321)
    "price_volume_mix"  -> (Warehouse.priceVolumeMix(_, _)),
    "nprobe_sweep"      -> ((s, d) => Similarity.nprobeSweep(s, d)),
    "ivf_balance"       -> (Similarity.ivfBalance(_, _)),
    // Round-12 twelfth tranche: source-distribution distance,
    // embedding dim health, dormancy spells (rows 322-324)
    "source_word_tvd"   -> (CorpusStats.sourceWordTvd(_, _)),
    "dim_profile"       -> (Similarity.dimProfile(_, _)),
    "dormancy_spells"   -> (Behavior.dormancySpells(_, _)),
    // Round-12 thirteenth tranche: fulfillment + inventory classes
    // (rows 325-326; row 327 is the streaming growth-accounting twin)
    "order_fill_rate"   -> (Warehouse.orderFillRate(_, _)),
    "abc_classification" -> (Warehouse.abcClassification(_, _)),
    // Round-12 fourteenth tranche: experiment guardrails + the third
    // privacy gate (rows 328-330)
    "srm_check"         -> (Behavior.srmCheck(_, _)),
    "mde_power"         -> (Behavior.mdePower(_, _)),
    "t_closeness"       -> (Warehouse.tCloseness(_, _)),
    // Round-12 fifteenth tranche: price indices, DB cluster validity,
    // readability (rows 331-333)
    "fisher_price_index" -> (Warehouse.fisherPriceIndex(_, _)),
    "davies_bouldin"    -> (Cluster.daviesBouldin(_, _)),
    "readability"       -> (TextAnalysis.readability(_, _)),
    // Round-12 sixteenth tranche: survival effect size, source
    // distribution distance, Zipf fit, value reconciliation
    // (rows 334-337)
    "rmst_arms"         -> (Behavior.rmstArms(_, _)),
    "hellinger_matrix"  -> (CorpusStats.hellingerMatrix(_, _)),
    "zipf_slope"        -> (CorpusStats.zipfSlope(_, _)),
    "order_reconcile"   -> (Warehouse.orderReconcile(_, _)),
    // Round-12 seventeenth tranche: forecast-eval pair + embedding-
    // health pair (rows 338-341)
    "holt_backtest"     -> (EventAnalytics.holtBacktest(_, _)),
    "pinball_loss"      -> (EventAnalytics.pinballLoss(_, _)),
    "isotropy_audit"    -> (Cluster.isotropyAudit(_, _)),
    "hubness_audit"     -> (Cluster.hubnessAudit(_, _)),
    // Round-12 eighteenth tranche: Q17/Q22 shapes, skip-gram
    // co-occurrence, early-LTV signal (rows 342-345)
    "small_order_revenue" -> (Warehouse.smallOrderRevenue(_, _)),
    "idle_customers"    -> (Warehouse.idleCustomers(_, _)),
    "skipgram_pairs"    -> (CorpusStats.skipgramPairs(_, _)),
    "ltv_early_signal"  -> (Behavior.ltvEarlySignal(_, _)),
    // Round-12 nineteenth tranche: clustering stability, median CI,
    // image perceptual-hash dedup (rows 346-348)
    "cluster_stability_ari" -> (Cluster.clusterStabilityAri(_, _)),
    "median_ci"         -> (Robust.medianCi(_, _)),
    "image_ahash_dedup" -> (Multimodal.imageAhashDedup(_, _)),
    // Round-15 tranche: DCT perceptual-hash twin (SURVEY §2 row 423)
    "image_phash_dedup" -> (Multimodal.imagePhashDedup(_, _)),
    // Round-12 twentieth tranche: TPC-H Q1 pricing summary, HL
    // pseudo-median, cross-modal dedup audit (rows 349-351)
    "pricing_summary"   -> (Warehouse.pricingSummary(_, _)),
    "hodges_lehmann"    -> (Robust.hodgesLehmann(_, _)),
    "crossmodal_dedup_audit" -> (Multimodal.crossmodalDedupAudit(_, _)),
    // Round-12 twenty-first tranche: Q14, DeLong SE, mutual-kNN,
    // aHash threshold sweep (rows 352-355)
    "promotion_effect"  -> (Warehouse.promotionEffect(_, _)),
    "auc_delong_se"     -> (CorpusStats.aucDelongSe(_, _)),
    "mutual_knn_rate"   -> (Cluster.mutualKnnRate(_, _)),
    "ahash_threshold_sweep" -> (Multimodal.ahashThresholdSweep(_, _)),
    // Round-12 twenty-second tranche: Q13 distribution, decile lift
    // table, weekday effect size (rows 356-358)
    "orders_per_customer_dist" -> (Warehouse.ordersPerCustomerDist(_, _)),
    "lift_table"        -> (CorpusStats.liftTable(_, _)),
    "seasonal_strength" -> (EventAnalytics.seasonalStrength(_, _)),
    // Round-12 twenty-third tranche: stickiness gauge + cross-source
    // dup provenance (rows 359-360)
    "dau_stickiness"    -> (EventAnalytics.dauStickiness(_, _)),
    "cross_source_dup_share" -> (Components.crossSourceDupShare(_, _)),
    // Round-12 twenty-fourth tranche: tail risk + supervised cluster
    // quality (rows 361-362)
    "revenue_var"       -> (Robust.revenueVar(_, _)),
    "cluster_purity"    -> (Cluster.clusterPurity(_, _)),
    // Round-12 twenty-fifth tranche: catalog connectivity + momentum
    // streaks (rows 363-364)
    "item_graph_components" -> (Graph.itemGraphComponents(_, _)),
    "streak_stats"      -> (EventAnalytics.streakStats(_, _)),
    // Round-13 first tranche: the k-sample rank test, the continuous
    // A/B readout, and the CTR uncertainty band (rows 365-367)
    "kruskal_wallis"    -> (Robust.kruskalWallis(_, _)),
    "welch_test"        -> (Behavior.welchTest(_, _)),
    "ctr_wilson"        -> (CtrAlerts.ctrWilson(_, _)),
    // Round-13 second tranche: the forecasting shelf beyond naives —
    // seasonal state, intermittent demand, predictability classes
    // (rows 368-370)
    "holt_winters_backtest" -> (EventAnalytics.holtWintersBacktest(_, _)),
    "croston_backtest"  -> (EventAnalytics.crostonBacktest(_, _)),
    "xyz_classification" -> (Warehouse.xyzClassification(_, _)),
    // Round-13 third tranche: the remaining classic TPC-H query
    // shapes — Q3 backlog top-k, Q8 market share, Q19 OR-of-ANDs
    // (rows 371-373)
    "unshipped_orders"  -> (Warehouse.unshippedOrders(_, _)),
    "nation_market_share" -> (Warehouse.nationMarketShare(_, _)),
    "brand_basket_revenue" -> (Warehouse.brandBasketRevenue(_, _)),
    // Round-13 fourth tranche: engagement-depth curve, L28 power-user
    // histogram, AP double-payment audit (rows 374-376)
    "session_depth_conversion" -> (EventAnalytics.sessionDepthConversion(_, _)),
    "power_user_curve"  -> (EventAnalytics.powerUserCurve(_, _)),
    "duplicate_payments" -> (Warehouse.duplicatePayments(_, _)),
    // Round-13 fifth tranche: word-graph keywording + the catalog
    // width certificate (rows 377-378)
    "textrank_keywords" -> (CorpusStats.textrankKeywords(_, _)),
    "diameter_estimate" -> (Graph.diameterEstimate(_, _)),
    // Round-13 sixth tranche: the Q4/Q7/Q10 query shapes
    // (rows 379-381)
    "late_orders_by_priority" -> (Warehouse.lateOrdersByPriority(_, _)),
    "trade_flows"       -> (Warehouse.tradeFlows(_, _)),
    "returned_revenue_topk" -> (Warehouse.returnedRevenueTopk(_, _)),
    // Round-13 seventh tranche: count-metric A/B, ordered-arm trend,
    // syllable readability (rows 382-384)
    "poisson_rate_test" -> (Behavior.poissonRateTest(_, _)),
    "cochran_armitage"  -> (Behavior.cochranArmitage(_, _)),
    // Round-15 tranche: stratified CMH test (SURVEY §2 row 418)
    "mantel_haenszel"   -> (Behavior.mantelHaenszel(_, _)),
    "flesch_kincaid"    -> (TextAnalysis.fleschKincaid(_, _)),
    // Round-13 eighth tranche: tokenizer economics, directed SCC,
    // repeat-purchase latency (rows 387-389)
    "tokenizer_efficiency" -> (CorpusStats.tokenizerEfficiency(_, _)),
    "pivot_scc"         -> (Graph.pivotScc(_, _)),
    "repeat_purchase_latency" -> (Behavior.repeatPurchaseLatency(_, _)),
    // Round-13 tenth tranche: funnel decomposition, acquisition
    // surface, within-session conversion (rows 390-392)
    "funnel_stage_latency" -> (Behavior.funnelStageLatency(_, _)),
    "gateway_items"     -> (Behavior.gatewayItems(_, _)),
    "session_funnel"    -> (EventAnalytics.sessionFunnel(_, _)),
    // Round-13 eleventh tranche: padding economics, directed
    // reciprocity, arrival heatmap (rows 393-395)
    "padding_waste"     -> (Corpus.paddingWaste(_, _)),
    "reciprocity"       -> (Graph.reciprocity(_, _)),
    "hourly_heatmap"    -> (EventAnalytics.hourlyHeatmap(_, _)),
    // Round-13 twelfth tranche: CV-fold balance audit + pricing
    // governance (rows 396-397)
    "kfold_balance"     -> (Corpus.kfoldBalance(_, _)),
    "price_dispersion"  -> (Warehouse.priceDispersion(_, _)),
    // Round-13 thirteenth tranche: directional association rules
    // (row 398)
    "association_rules" -> (Behavior.associationRules(_, _)),
    // fpgrowth_triples (registered round 14, row 297) mines the
    // purchase-only basket slice: MLlib's FPGrowth enumerates the
    // FULL frequent lattice with no itemset-size cap, and ALL-event
    // baskets make that lattice ~10^10 itemsets at sf0.1 (measured
    // timeout) — purchase baskets keep it at depth ~3-4; see the
    // operator's scaladoc. BehaviorSpec additionally pins agreement
    // with the Apriori chain on a sparse fixture.
    "corr_matrix"       -> (Robust.corrMatrix(_, _)),
    "spearman_matrix"   -> (Robust.spearmanMatrix(_, _)),
    "join_size_estimate" -> (Warehouse.joinSizeEstimate(_, _)),
    // Round-10 third tranche: community-quality scalar + BFS reach
    // profile on the shared item graph (SURVEY §2 rows 231-232)
    "modularity"        -> (Graph.modularity(_, _)),
    "khop_reach"        -> (Graph.khopReach(_, _)),
    // Round-10 fourth tranche: content-defined chunking (storage-dedup
    // counterpart of chunk_docs)
    "cdc_chunks"        -> (Corpus.cdcChunks(_, _)),
    // Round-10: the REAL WAV codec behind the audio half of the
    // multimodal family (pinned-frame oracle; cf. multimodal_features)
    "audio_features"    -> (Multimodal.audioFeatures(_, _)),
    // Round-15 tranche: Goertzel pilot-tone detection (SURVEY §2 row 424)
    "audio_tone_detect" -> (Multimodal.audioToneDetect(_, _)),
    // pinned-frame gate: positions are Spark-native xxhash64
    // (cf. lsh_precision)
    "bloom_fpr"         -> (BloomJoin.bloomFpr(_, _)),
    // Round-10 fifth tranche: survival dual, GBDT-style split finder,
    // conformal calibration (SURVEY §2 rows 237-239)
    "nelson_aalen"      -> (Behavior.nelsonAalen(_, _)),
    "best_split"        -> (CorpusStats.bestSplit(_, _)),
    "conformal_interval" -> (EventAnalytics.conformalInterval(_, _)),
    // Round-10 sixth tranche: exact KS drift test, skyline frontier,
    // rolling metric coupling (SURVEY §2 rows 240-242)
    "ks_test"           -> (Robust.ksTest(_, _)),
    "mannwhitney_test"  -> (Robust.mannWhitney(_, _)),
    // Round-15 tranche: ordered-alternative trend test (SURVEY §2 row 419),
    // blocked-rank Friedman test (row 425)
    "jonckheere_trend"  -> (Robust.jonckheereTrend(_, _)),
    "friedman_test"     -> (Robust.friedmanTest(_, _)),
    "kendall_w"         -> (Robust.kendallW(_, _)),
    "yuen_test"         -> (Robust.yuenTest(_, _)),
    "overdispersion_check" -> (Robust.overdispersionCheck(_, _)),
    "pareto_frontier"   -> (CorpusStats.paretoFrontier(_, _)),
    "rolling_corr"      -> (Robust.rollingCorr(_, _)),
    // Watermark-sizing disorder audit (batch predictor of the
    // streaming monitor's n_late)
    "disorder_audit"    -> (EventAnalytics.disorderAudit(_, _)),
    // Topic labels for the kmeans cells (kmeans x keyness composition)
    "cluster_topics"    -> (Cluster.clusterTopics(_, _)),
    // Round-10 seventh tranche: cohort economics + ingest contract
    "cohort_ltv"        -> (Behavior.cohortLtv(_, _)),
    "contract_audit"    -> (Warehouse.contractAudit(_, _)),
    // Round-10 eighth tranche: forecast eval, hub-club density,
    // unicode-script composition (SURVEY §2 rows 248-250)
    "forecast_backtest" -> (EventAnalytics.forecastBacktest(_, _)),
    "rich_club"         -> (Graph.richClub(_, _)),
    "script_mix"        -> (TextAnalysis.scriptMix(_, _)),
    // Round-10 ninth tranche: recommendation neighbors, retention
    // cadence, capacity sweep (SURVEY §2 rows 251-253)
    "item_cosine"       -> (Behavior.itemCosine(_, _)),
    "return_time"       -> (EventAnalytics.returnTime(_, _)),
    "peak_concurrency"  -> (EventAnalytics.peakConcurrency(_, _)),
    // Round-10 tenth tranche: retrospective changepoint, revenue
    // concentration curve, vocabulary growth (SURVEY §2 rows 254-256)
    "binary_segmentation" -> (EventAnalytics.binarySegmentation(_, _)),
    "lorenz_curve"      -> (Behavior.lorenzCurve(_, _)),
    "heaps_curve"       -> (CorpusStats.heapsCurve(_, _)),
    // Round-10 eleventh tranche: sequence-model backtest + int8
    // retrieval fidelity (SURVEY §2 rows 257-258)
    "markov_accuracy"   -> (Behavior.markovAccuracy(_, _)),
    "quantize_recall"   -> (Similarity.quantizeRecall(_, _)),
    "rp_recall"         -> (Similarity.rpRecall(_, _)),
    // Round-10 twelfth tranche: one-pass threshold sweeps (SURVEY §2
    // rows 259-260)
    "session_sweep"     -> (EventAnalytics.sessionSweep(_, _)),
    "watermark_loss"    -> (EventAnalytics.watermarkLoss(_, _)),
    // Round-16 tranche: TPC-H Q15/Q18/Q6 shapes, post-hoc + agreement
    // stats, residual autocorrelation, experiment design, embedding
    // two-sample, audio level audit
    "top_supplier_share" -> (Warehouse.topSupplierShare(_, _)),
    "large_orders"      -> (Warehouse.largeOrders(_, _)),
    "discount_whatif"   -> (Warehouse.discountWhatif(_, _)),
    "dunn_posthoc"      -> (Robust.dunnPosthoc(_, _)),
    "cochran_q_gates"   -> (CorpusStats.cochranQGates(_, _)),
    "fleiss_kappa_gates" -> (CorpusStats.fleissKappaGates(_, _)),
    "durbin_watson"     -> (EventAnalytics.durbinWatson(_, _)),
    "power_mde"         -> (Behavior.powerMde(_, _)),
    "embedding_mmd"     -> (Similarity.embeddingMmd(_, _)),
    "audio_clipping_audit" -> (Multimodal.audioClippingAudit(_, _)),
    "release_funnel"    -> (CorpusReleasePipeline.releaseFunnel(_, _)),
    // Round-16 second tranche: paired/distributional tests,
    // sentence-level dedup, provenance matrix
    "wilcoxon_signed_rank" -> (Robust.wilcoxonSignedRank(_, _)),
    "quantile_lift"     -> (Robust.quantileLift(_, _)),
    "sentence_dedup"    -> (Corpus.sentenceDedup(_, _)),
    "source_overlap_matrix" -> (Corpus.sourceOverlapMatrix(_, _)),
    // Round-16 third tranche: the six remaining TPC-H query shapes
    // (Q2/Q9/Q11/Q12/Q16/Q20) — the warehouse dial is now complete
    "min_cost_supplier" -> (Warehouse.minCostSupplier(_, _)),
    "nation_profit"     -> (Warehouse.nationProfit(_, _)),
    "important_parts"   -> (Warehouse.importantParts(_, _)),
    "priority_ship_mix" -> (Warehouse.priorityShipMix(_, _)),
    "part_supplier_variety" -> (Warehouse.partSupplierVariety(_, _)),
    "excess_shippers"   -> (Warehouse.excessShippers(_, _)),
    // Round-16 fourth tranche: the assumption-audit stats shelf —
    // sign test, Mood's median, Cox-Stuart, Ljung-Box, TOST
    "sign_test"         -> (Robust.signTest(_, _)),
    "mood_median"       -> (Robust.moodMedian(_, _)),
    "cox_stuart"        -> (Robust.coxStuart(_, _)),
    "ljung_box"         -> (EventAnalytics.ljungBox(_, _)),
    "tost_equivalence"  -> (Behavior.tostEquivalence(_, _)),
    // Round-16 fifth tranche: truncated Katz centrality, arrival-order
    // n-gram novelty + the acquisition curve
    "katz_centrality"   -> (Graph.katzCentrality(_, _)),
    "ngram_novelty"     -> (Dedup.ngramNovelty(_, _)),
    "novelty_curve"     -> (Dedup.noveltyCurve(_, _)),
    "median_polish"     -> (Robust.medianPolish(_, _)),
    // Round-16 sixth tranche: the third residual gate + the
    // crawl-health arrival dashboard
    "breusch_pagan"     -> (EventAnalytics.breuschPagan(_, _)),
    "arrival_quality_mix" -> (CorpusStats.arrivalQualityMix(_, _)),
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
    "simpson_reversal"   -> (Behavior.simpsonReversal(_, _)),
    "jackknife_ratio_se" -> (Behavior.jackknifeRatioSe(_, _)),
    "ccf_leadlag"        -> (EventAnalytics.ccfLeadlag(_, _)),
    "reorder_point"      -> (Warehouse.reorderPoint(_, _)),
    // Round-17 third tranche: training-data governance (split
    // leakage measurement, per-epoch shuffle decorrelation) and the
    // A/A null-battery platform-calibration read
    "split_leakage"  -> (Corpus.splitLeakage(_, _)),
    "epoch_shuffle"  -> (Corpus.epochShuffleAudit(_, _)),
    "aa_calibration" -> (Behavior.aaCalibration(_, _)),
    // Round-17 fourth tranche: trust-and-safety (bot heuristics),
    // calendar completeness, and the trigger-dilution readout
    "bot_score"        -> (EventAnalytics.botScore(_, _)),
    "gap_report"       -> (EventAnalytics.gapReport(_, _)),
    "trigger_dilution" -> (Behavior.triggerDilution(_, _))
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
