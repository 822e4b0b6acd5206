package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators._

/** Driver contract — see /root/repo/SURVEY.md §2.3 for the query
  * inventory. Every entry in `queries` has a matching DuckDB oracle in
  * `oracleSql` with IDENTICAL output column names (the driver's compare
  * sorts columns by name before hashing). Every query is deterministic:
  * full ORDER BY (explicit NULLS FIRST in the oracle, Spark's asc
  * default), floats rounded to 6 dp or exact-by-construction
  * (DECIMAL-cast sums of 2-dp monetary doubles), session timezone UTC.
  */
object SparkEntry {

  /** Flagship query (the reference's wc app) on sf0.001; driver
    * smoke-checks rows>0.
    */
  def entry(spark: SparkSession): DataFrame =
    CoreQueries.qWordcount(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_scan_project"    -> (CoreQueries.qScanProject _),
    "q_filter"          -> (CoreQueries.qFilter _),
    "q_wordcount"       -> (CoreQueries.qWordcount _),
    "q_wordcount_unicode" -> (CoreQueries.qWordcountUnicode _),
    "q_inverted_index"  -> (CoreQueries.qInvertedIndex _),
    "q_inverted_index_capped" -> (CoreQueries.qInvertedIndexCapped _),
    "q_join_inner"      -> (JoinQueries.qJoinInner _),
    "q_join_broadcast"  -> (JoinQueries.qJoinBroadcast _),
    "q_join_left"       -> (JoinQueries.qJoinLeft _),
    "q_join_semi"       -> (JoinQueries.qJoinSemi _),
    "q_join_anti"       -> (JoinQueries.qJoinAnti _),
    "q_join_range"      -> (JoinQueries.qJoinRange _),
    "q_join_full"       -> (JoinQueries.qJoinFull _),
    "q_join_asof"       -> (JoinQueries.qJoinAsof _),
    "q_join_asof_banded" -> (JoinQueries.qJoinAsofBanded _),
    "q_join_interval"   -> (JoinQueries.qJoinInterval _),
    "q_agg_hash"        -> (AggQueries.qAggHash _),
    "q_agg_distinct"    -> (AggQueries.qAggDistinct _),
    "q_agg_rollup"      -> (AggQueries.qAggRollup _),
    "q_pivot"           -> (AggQueries.qPivot _),
    "q_unpivot"         -> (AggQueries.qUnpivot _),
    "q_agg_cube"        -> (AggQueries.qAggCube _),
    "q_agg_grouping_sets" -> (AggQueries.qAggGroupingSets _),
    "q_topk"            -> (AggQueries.qTopk _),
    "q_set_union"       -> (AggQueries.qSetUnion _),
    "q_set_intersect"   -> (AggQueries.qSetIntersect _),
    "q_set_except"      -> (AggQueries.qSetExcept _),
    "q_window_rank"     -> (WindowQueries.qWindowRank _),
    "q_window_analytic" -> (WindowQueries.qWindowAnalytic _),
    "q_window_frame"    -> (WindowQueries.qWindowFrame _),
    "q_window_dist"     -> (WindowQueries.qWindowDist _),
    "q_agg_argmax"      -> (AggQueries.qAggArgmax _),
    "q_sample_stratified" -> (TextQueries.qSampleStratified _),
    "q_split_train"     -> (TextQueries.qSplitTrain _),
    "q_dq_report"       -> (ValidationQueries.qDqReport _),
    "q_quality_gate"    -> (ValidationQueries.qQualityGate _),
    "q_kanon"           -> (ValidationQueries.qKanon _),
    "q_decayed_sum"     -> (EventQueries.qDecayedSum _),
    "q_profile"         -> (ValidationQueries.qProfile _),
    "q_repetition"      -> (AdvancedTextQueries.qRepetition _),
    "q_resample"        -> (EventQueries.qResample _),
    "q_ewma"            -> (EventQueries.qEwma _),
    "q_embed_centroid"  -> (SimilarityQueries.qEmbedCentroid _),
    "q_kmeans"          -> (ClusterQueries.qKmeans _),
    "q_kmeans_inertia"  -> (ClusterQueries.qKmeansInertia _),
    "q_silhouette"      -> (ClusterQueries.qSilhouette _),
    "q_ldiversity"      -> (ValidationQueries.qLdiversity _),
    "q_drift_psi"       -> (AnalyticsQueries.qDriftPsi _),
    "q_diversity_sample" -> ((s: SparkSession, d: String) =>
      ClusterQueries.qDiversitySample(s, d)),
    "q_scalar_string"   -> (ScalarQueries.qScalarString _),
    "q_scalar_date"     -> (ScalarQueries.qScalarDate _),
    "q_scalar_math"     -> (ScalarQueries.qScalarMath _),
    "q_scalar_case"     -> (ScalarQueries.qScalarCase _),
    "q_scalar_json"     -> (ScalarQueries.qScalarJson _),
    "q_scalar_array"    -> (ScalarQueries.qScalarArray _),
    "q_stream_tumbling" -> (EventQueries.qStreamTumbling _),
    "q_stream_sliding"  -> (EventQueries.qStreamSliding _),
    "q_session_window"  -> (EventQueries.qSessionWindow _),
    "q_dedup_latest"    -> (EventQueries.qDedupLatest _),
    "q_scd2"            -> (EventQueries.qScd2 _),
    "q_time_weighted"   -> (EventQueries.qTimeWeighted _),
    "q_shipping_priority" -> (CompositeQueries.qShippingPriority _),
    "q_regional_volume" -> (CompositeQueries.qRegionalVolume _),
    "q_ab_assign"       -> (CompositeQueries.qAbAssign _),
    "q_snapshot_diff"   -> (CompositeQueries.qSnapshotDiff _),
    "q_funnel"          -> (BehaviorQueries.qFunnel _),
    "q_retention"       -> (BehaviorQueries.qRetention _),
    "q_cohort_ltv"      -> (BehaviorQueries.qCohortLtv _),
    "q_churn"           -> (BehaviorQueries.qChurn _),
    "q_collocations"    -> (AdvancedTextQueries.qCollocations _),
    "q_rolling_active"  -> (BehaviorQueries.qRollingActive _),
    "q_transitions"     -> (BehaviorQueries.qTransitions _),
    "q_cooccur"         -> (BehaviorQueries.qCooccur _),
    "q_shuffle_export"  -> (BehaviorQueries.qShuffleExport _),
    "q_dedup_exact"     -> (TextQueries.qDedupExact _),
    "q_dedup_exact_hash" -> (TextQueries.dedupExactByHash _),
    "q_redact_pii"      -> (TextQueries.qRedactPii _),
    "q_chunk_strided"   -> (TextQueries.qChunkStrided _),
    "q_dedup_clusters"  -> (AdvancedTextQueries.qDedupClusters _),
    "q_dedup_keep_best" -> (AdvancedTextQueries.qDedupKeepBest _),
    "q_cluster_sizes"   -> (AdvancedTextQueries.qClusterSizes _),
    "q_sample_hash"     -> (TextQueries.qSampleHash _),
    "q_decontaminate"   -> (TextQueries.qDecontaminate _),
    "q_decontaminate_bloom" -> (TextQueries.qDecontaminateBloom _),
    "q_decontaminate_fuzzy" -> ((s: SparkSession, d: String) =>
      TextQueries.qDecontaminateFuzzy(s, d)),
    "q_join_bloom"      -> (JoinQueries.qJoinBloom _),
    "q_pack"            -> ((s: SparkSession, d: String) => TextQueries.qPack(s, d)),
    "q_chunk"           -> (TextQueries.qChunk _),
    "q_dedup_near"      -> (TextQueries.qDedupNear _),
    "q_text_stats"      -> (TextQueries.qTextStats _),
    "q_pipeline"        -> (TextQueries.qPipeline _),
    "q_tfidf"           -> (TextQueries.qTfidf _),
    "q_keywords"        -> (TextQueries.qKeywords _),
    "q_pii_count"       -> (TextQueries.qPiiCount _),
    "q_median"          -> (StatsQueries.qMedian _),
    "q_percentiles"     -> (StatsQueries.qPercentiles _),
    "q_mode"            -> (StatsQueries.qMode _),
    "q_corr"            -> (StatsQueries.qCorr _),
    "q_corr_spearman"   -> (StatsQueries.qCorrSpearman _),
    "q_regression"      -> (StatsQueries.qRegression _),
    "q_benford"         -> (StatsQueries.qBenford _),
    "q_mutual_info"     -> (StatsQueries.qMutualInfo _),
    "q_overlap_kmv"     -> (AnalyticsQueries.qOverlapKmv _),
    "q_histogram"       -> (StatsQueries.qHistogram _),
    "q_equidepth"       -> (StatsQueries.qEquidepth _),
    "q_winsorize"       -> (StatsQueries.qWinsorize _),
    "q_pct_change"      -> (StatsQueries.qPctChange _),
    "q_contingency"     -> (StatsQueries.qContingency _),
    "q_gini"            -> (StatsQueries.qGini _),
    "q_small_parts"     -> (CompositeQueries.qSmallParts _),
    "q_dedup_canonical" -> (TextQueries.qDedupCanonical _),
    "q_window_range"    -> (WindowQueries.qWindowRangeFrame _),
    "q_salted_agg"      -> (ScaleOps.qSaltedAgg _),
    "q_salted_join"     -> (ScaleOps.qSaltedJoin _),
    "q_sim_topk"        -> (SimilarityQueries.qSimTopk _),
    "q_knn_classify"    -> (SimilarityQueries.qKnnClassify _),
    "q_dedup_embed"     -> (SimilarityQueries.qDedupEmbed _),
    "q_dedup_minhash"   -> (AdvancedTextQueries.qDedupMinhash _),
    "q_dedup_incremental" -> (MinHashLedger.qDedupIncremental _),
    "q_dedup_incr_clusters" -> (ClusterLedger.qDedupIncrClusters _),
    "q_dedup_simhash"   -> (AdvancedTextQueries.qDedupSimhash _),
    "q_dedup_hamming"   -> (AdvancedTextQueries.qDedupHamming _),
    "q_ngram_jaccard"   -> (AdvancedTextQueries.qNgramJaccard _),
    "q_dedup_substring" -> (AdvancedTextQueries.qDedupSubstring _),
    "q_entropy"         -> (AdvancedTextQueries.qEntropy _),
    "q_big_orders"      -> (CompositeQueries.qBigOrders _),
    "q_idle_rich"       -> (CompositeQueries.qIdleRich _),
    "q_fingerprint"     -> (AdvancedTextQueries.qFingerprint _),
    "q_text_quality"    -> (AdvancedTextQueries.qTextQuality _),
    "q_readability"     -> (AdvancedTextQueries.qReadability _),
    "q_token_count"     -> (AdvancedTextQueries.qTokenCount _),
    "q_bpe_pairs"       -> (AdvancedTextQueries.qBpePairs _),
    "q_bpe_merges"      -> (AdvancedTextQueries.qBpeMerges _),
    "q_bpe_encode"      -> (AdvancedTextQueries.qBpeEncode _),
    // unicode twins of the pipeline-critical text chain (VERDICT r7
    // item 1): same plans over tokensUnicode on the manufactured
    // multi-script view — see UnicodeTextQueries
    "q_dedup_near_unicode"    -> (UnicodeTextQueries.qDedupNearUnicode _),
    "q_dedup_minhash_unicode" -> (UnicodeTextQueries.qDedupMinhashUnicode _),
    "q_dedup_simhash_unicode" -> (UnicodeTextQueries.qDedupSimhashUnicode _),
    "q_tfidf_unicode"         -> (UnicodeTextQueries.qTfidfUnicode _),
    "q_ngram_jaccard_unicode" -> (UnicodeTextQueries.qNgramJaccardUnicode _),
    "q_bpe_encode_unicode"    -> (UnicodeTextQueries.qBpeEncodeUnicode _),
    "q_source_overlap"  -> (AdvancedTextQueries.qSourceOverlap _),
    "q_lang_id"         -> (AdvancedTextQueries.qLangId _),
    "q_fuzzy_match"     -> (AdvancedTextQueries.qFuzzyMatch _),
    "sketch_distinct"   -> (StatsQueries.sketchDistinct _),
    "sketch_percentiles" -> (StatsQueries.sketchPercentiles _),
    "q_anomaly"         -> (AnalyticsQueries.qAnomaly _),
    "q_anomaly_mad"     -> (AnalyticsQueries.qAnomalyMad _),
    "q_concurrency"     -> (AnalyticsQueries.qConcurrency _),
    "q_rfm"             -> (AnalyticsQueries.qRfm _),
    "q_gapfill"         -> (AnalyticsQueries.qGapfill _),
    "q_returned_items"  -> (AnalyticsQueries.qReturnedItems _),
    "q_priority_exists" -> (AnalyticsQueries.qPriorityExists _),
    "q_boilerplate"     -> (AnalyticsQueries.qBoilerplate _),
    "q_weighted_sample" -> (AnalyticsQueries.qWeightedSample _),
    "q_mix_budget"      -> (AnalyticsQueries.qMixBudget _),
    "q_incr_agg"        -> (AnalyticsQueries.qIncrAgg _),
    "q_skyline"         -> (AnalyticsQueries.qSkyline _),
    "q_sample_reservoir" -> (AnalyticsQueries.qSampleReservoir _),
    "q_attribution"     -> (BehaviorQueries.qAttribution _),
    "q_vocab_coverage"  -> (TextQueries.qVocabCoverage _),
    "q_sessionpath"     -> (BehaviorQueries.qSessionpath _),
    "q_containment"     -> (AdvancedTextQueries.qContainment _),
    "q_heavy_hitters"   -> (AnalyticsQueries.qHeavyHitters _),
    "q_ffill"           -> (AnalyticsQueries.qFfill _),
    "q_pagerank"        -> (AnalyticsQueries.qPagerank _),
    "q_triangles"       -> (AnalyticsQueries.qTriangles _),
    "q_bm25"            -> (TextQueries.qBm25 _),
    "q_zorder"          -> (ScaleOps.qZorder _),
    "q_lm_score"        -> (AdvancedTextQueries.qLmScore _),
    // ANN scale paths: deterministic end-to-end (fixed hyperplane seed /
    // k-means seed) but approximate in recall, so no SQL oracle — the
    // driver records rows>0; recall is property-tested (ScalePathSpec)
    // and timed at 1x/4x/16x in SCALING.md.
    "ann_lsh_topk"      -> ((s: SparkSession, d: String) =>
      LshKnn.approxTopKMultiProbe(s, d, 5, nFlip = 1)),
    "ann_ivf_topk"      -> ((s: SparkSession, d: String) =>
      IvfKnn.approxTopK(s, d, 5)),
    "ann_quant_topk"    -> ((s: SparkSession, d: String) =>
      QuantizedKnn.approxTopK(s, d, 5)),
    "udaf_demo"         -> (CoreQueries.udafDemo _),
    "q_setsim_prefix"   -> (SetSimJoin.qSetsimPrefix _),
    "q_dup_ngram_frac"  -> (AdvancedTextQueries.qDupNgramFrac _),
    "q_bigram_lm"       -> (AdvancedTextQueries.qBigramLm _),
    "q_autocorr"        -> (TimeSeriesQueries.qAutocorr _),
    "q_seasonal"        -> (TimeSeriesQueries.qSeasonal _),
    "q_changepoint"     -> (TimeSeriesQueries.qChangepoint _),
    "q_clustering_coef" -> (AnalyticsQueries.qClusteringCoef _),
    "q_conversion_lag"  -> (BehaviorQueries.qConversionLag _),
    "q_ngram_novelty"   -> (AdvancedTextQueries.qNgramNovelty _),
    "q_class_balance"   -> (MlEvalQueries.qClassBalance _),
    "q_embed_var"       -> (MlEvalQueries.qEmbedVar _),
    "q_split_group"     -> (MlEvalQueries.qSplitGroup _),
    "q_knn_confusion"   -> (MlEvalQueries.qKnnConfusion _),
    "q_cum_distinct"    -> (MlEvalQueries.qCumDistinct _),
    "q_outlier_iqr"     -> (MlEvalQueries.qOutlierIqr _),
    "q_degree_dist"     -> (MlEvalQueries.qDegreeDist _),
    "q_prf"             -> (MlEvalQueries.qPrf _),
    "q_assoc_rules"     -> (BehaviorQueries.qAssocRules _),
    "q_weighted_median" -> (StatsQueries.qWeightedMedian _),
    "q_ohlc"            -> (TimeSeriesQueries.qOhlc _),
    "q_cross_corr"      -> (TimeSeriesQueries.qCrossCorr _),
    "q_join_nullsafe"   -> (JoinQueries.qJoinNullsafe _),
    "q_calibration"     -> (MlEvalQueries.qCalibration _),
    "q_embed_quantiles" -> (MlEvalQueries.qEmbedQuantiles _),
    "q_zipf_slope"      -> (AdvancedTextQueries.qZipfSlope _),
    "q_bfs_depth"       -> (AnalyticsQueries.qBfsDepth _),
    "q_mrr"             -> (MlEvalQueries.qMrr _),
    "q_mannwhitney"     -> (StatsQueries.qMannwhitney _),
    "q_ks_test"         -> (StatsQueries.qKsTest _),
    "q_seasonal_decompose" -> (TimeSeriesQueries.qSeasonalDecompose _),
    "q_new_returning"   -> (TimeSeriesQueries.qNewReturning _),
    "q_cramers_v"       -> (StatsQueries.qCramersV _),
    "q_runs_test"       -> (StatsQueries.qRunsTest _),
    "q_length_buckets"  -> (AdvancedTextQueries.qLengthBuckets _),
    "q_char_classes"    -> (AdvancedTextQueries.qCharClasses _),
    "q_interarrival"    -> (EventQueries.qInterarrival _),
    "q_dup_by_source"   -> (AdvancedTextQueries.qDupBySource _),
    "q_hits"            -> (AnalyticsQueries.qHits _),
    "q_kcore"           -> (AnalyticsQueries.qKcore _),
    "q_stationary"      -> (BehaviorQueries.qStationary _),
    "q_survival"        -> (BehaviorQueries.qSurvival _),
    "q_streaks"         -> (BehaviorQueries.qStreaks _),
    "q_item_cf"         -> (BehaviorQueries.qItemCf _),
    "q_entropy_rate"    -> (BehaviorQueries.qEntropyRate _),
    "q_linkpred"        -> (AnalyticsQueries.qLinkpred _),
    "q_label_prop"      -> (AnalyticsQueries.qLabelProp _),
    "q_modularity"      -> (AnalyticsQueries.qModularity _),
    "q_assortativity"   -> (AnalyticsQueries.qAssortativity _),
    "q_naive_bayes"     -> (MlEvalQueries.qNaiveBayes _),
    "q_cohen_kappa"     -> (MlEvalQueries.qCohenKappa _),
    "q_rolling_corr"    -> (TimeSeriesQueries.qRollingCorr _),
    "q_hill_tail"       -> (StatsQueries.qHillTail _),
    "q_kruskal_wallis"  -> (StatsQueries.qKruskalWallis _),
    "q_emd"             -> (StatsQueries.qEmd _),
    "q_kendall_tau"     -> (TimeSeriesQueries.qKendallTau _),
    "q_partial_corr"    -> (StatsQueries.qPartialCorr _),
    "q_ols2"            -> (StatsQueries.qOls2 _),
    "q_minhash_calibration" -> (AdvancedTextQueries.qMinhashCalibration _),
    "q_dedup_survivorship" -> (AdvancedTextQueries.qDedupSurvivorship _),
    "q_decontaminate_ladder" -> (TextQueries.qDecontaminateLadder _),
    "q_pca_power"       -> (MlEvalQueries.qPcaPower _),
    "q_wilson"          -> (StatsQueries.qWilson _),
    "q_vocab_growth"    -> (TextQueries.qVocabGrowth _),
    "q_abc"             -> (AnalyticsQueries.qAbc _),
    "q_auc"             -> (MlEvalQueries.qAuc _),
    "q_ndcg"            -> (MlEvalQueries.qNdcg _),
    "q_welch_t"         -> (StatsQueries.qWelchT _),
    "q_hhi"             -> (StatsQueries.qHhi _),
    "q_lorenz"          -> (StatsQueries.qLorenz _),
    "q_bollinger"       -> (TimeSeriesQueries.qBollinger _),
    "q_scrub_common"    -> (CurationQueries.qScrubCommon _),
    "q_blocklist_hits"  -> (CurationQueries.qBlocklistHits _),
    "q_sample_balanced" -> (CurationQueries.qSampleBalanced _),
    "q_feature_scale"   -> (CurationQueries.qFeatureScale _),
    "q_sax"             -> (TimeSeriesQueries.qSax _),
    "q_eop_balance"     -> (TimeSeriesQueries.qEopBalance _),
    "q_grubbs"          -> (StatsQueries.qGrubbs _),
    "q_anova"           -> (StatsQueries.qAnova _),
    "q_theilsen"        -> (TimeSeriesQueries.qTheilsen _),
    "q_burstiness"      -> (TimeSeriesQueries.qBurstiness _),
    "q_js_divergence"   -> (CurationQueries.qJsDivergence _),
    "q_source_cap"      -> (CurationQueries.qSourceCap _),
    "q_mann_kendall"    -> (TimeSeriesQueries.qMannKendall _),
    "q_lexical_richness" -> (CurationQueries.qLexicalRichness _),
    "q_keyness"         -> (CurationQueries.qKeyness _),
    "q_cliff_delta"     -> (StatsQueries.qCliffDelta _),
    "q_sample_systematic" -> (CurationQueries.qSampleSystematic _),
    "q_trade_volume"    -> (CompositeQueries.qTradeVolume _),
    "q_levene"          -> (StatsQueries.qLevene _),
    "q_bartlett"        -> (StatsQueries.qBartlett _),
    "q_chao1"           -> (AdvancedTextQueries.qChao1 _),
    "q_stickiness"      -> (BehaviorQueries.qStickiness _),
    "q_lift"            -> (BehaviorQueries.qLift _),
    "q_brier"           -> (MlEvalQueries.qBrier _),
    "q_drawdown"        -> (TimeSeriesQueries.qDrawdown _),
    "q_rsi"             -> (TimeSeriesQueries.qRsi _),
    "q_jl_project"      -> (SimilarityQueries.qJlProject _),
    "q_embed_outliers"  -> (SimilarityQueries.qEmbedOutliers _),
    "q_power_users"     -> (BehaviorQueries.qPowerUsers _),
    "q_qq_plot"         -> (StatsQueries.qQqPlot _),
    "q_session_percentiles" -> (EventQueries.qSessionPercentiles _),
    // GK-sketch production swap of the line above (no-oracle: DuckDB's
    // approx_quantile is a t-digest; EventsSpec bounds the rank error)
    "q_session_percentiles_gk" -> (EventQueries.qSessionPercentilesGk _),
    "q_cosine_hist"     -> (SimilarityQueries.qCosineHist _),
    "q_token_len_dist"  -> (AdvancedTextQueries.qTokenLenDist _),
    "q_char_entropy"    -> (AdvancedTextQueries.qCharEntropy _),
    "q_tukey"           -> (StatsQueries.qTukey _),
    "q_dedup_sweep"     -> (AdvancedTextQueries.qDedupSweep _),
    "q_bigram_coverage" -> (AdvancedTextQueries.qBigramCoverage _),
    "q_bounce_rate"     -> (EventQueries.qBounceRate _),
    "q_ab_test"         -> (CompositeQueries.qAbTest _),
    "q_pacf"            -> (TimeSeriesQueries.qPacf _),
    "q_forecast_eval"   -> (TimeSeriesQueries.qForecastEval _),
    "q_freshness"       -> (TimeSeriesQueries.qFreshness _),
    "q_priority_mix"    -> (CompositeQueries.qPriorityMix _),
    "q_cohens_d"        -> (StatsQueries.qCohensD _),
    "q_bootstrap_ci"    -> (StatsQueries.qBootstrapCi _),
    "q_sample_temperature" -> (CurationQueries.qSampleTemperature _),
    "q_contamination_by_source" -> (TextQueries.qContaminationBySource _),
    "q_rolling_median"  -> (TimeSeriesQueries.qRollingMedian _),
    "q_weekly_rhythm"   -> (TimeSeriesQueries.qWeeklyRhythm _),
    "q_reorder_gap"     -> (BehaviorQueries.qReorderGap _),
    "q_hapax_docs"      -> (CurationQueries.qHapaxDocs _),
    "q_session_native"  -> (EventQueries.qSessionNative _),
    "q_top10_share"     -> (AnalyticsQueries.qTop10Share _),
    "q_hist2d"          -> (AnalyticsQueries.qHist2d _),
    "q_seasonal_strength" -> (TimeSeriesQueries.qSeasonalStrength _),
    "q_supplier_balance" -> (CompositeQueries.qSupplierBalance _),
    "q_brand_prices"    -> (CompositeQueries.qBrandPrices _),
    "q_user_activity_hist" -> (BehaviorQueries.qUserActivityHist _),
    "q_embed_dedup_sweep" -> (SimilarityQueries.qEmbedDedupSweep _),
    "q_cond_entropy"    -> (StatsQueries.qCondEntropy _),
    "q_growth_accounting" -> (BehaviorQueries.qGrowthAccounting _),
    "q_brand_returns"   -> (CompositeQueries.qBrandReturns _),
    "q_discount_revenue" -> (CompositeQueries.qDiscountRevenue _),
    "q_lines_per_order" -> (CompositeQueries.qLinesPerOrder _),
    "q_corpus_summary"  -> (TextQueries.qCorpusSummary _),
    "q_discount_elasticity" -> (CompositeQueries.qDiscountElasticity _),
    "q_basket_by_segment" -> (CompositeQueries.qBasketBySegment _),
    "q_weekend_effect"  -> (CompositeQueries.qWeekendEffect _),
    "q_len_by_lang"     -> (CurationQueries.qLenByLang _),
  )

  /** Shared DuckDB WITH-prefix computing the 16-bit simhash signature
    * table `sig(doc_id, simhash)` — used by both simhash oracles.
    */
  private val SimhashSigCte: String = simhashSigCteWith(
    "string_split_regex(lower(text), '[^a-z]+')")

  private def simhashSigCteWith(tokSql: String): String = {
    val bitSums = (0 until 16).map(j =>
      s"    sum(CASE WHEN (h >> $j) & 1 = 1 THEN 1 ELSE -1 END) AS b$j")
      .mkString(",\n")
    val bitVals = (0 until 16).map(j =>
      s"    (CASE WHEN b$j > 0 THEN ${1L << j} ELSE 0 END)").mkString(" +\n")
    s"""WITH tok AS (
       |  SELECT doc_id, ('0x' || substr(md5(t), 1, 4))::BIGINT AS h FROM (
       |    SELECT doc_id, unnest(list_filter(
       |      $tokSql, x -> x <> '')) AS t
       |    FROM documents) u
       |), bits AS (
       |  SELECT doc_id,
       |$bitSums
       |  FROM tok GROUP BY doc_id
       |), sig AS (
       |  SELECT doc_id, CAST(
       |$bitVals AS BIGINT) AS simhash
       |  FROM bits)""".stripMargin
  }

  /** q_join_inner and q_salted_join share one oracle: the salted
    * rewrite must be result-identical to the plain join.
    */
  private val JoinInnerSql =
    """SELECT c_mktsegment, count(*) AS n_orders,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_revenue
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY c_mktsegment ORDER BY c_mktsegment NULLS FIRST""".stripMargin

  /** q_decontaminate and q_decontaminate_bloom share one oracle: the
    * Bloom path prunes with a no-false-negative sketch then confirms
    * exactly, so its row set equals the exact form's by construction.
    */
  /** Shared recursive-CTE prefix for the dedup-cluster family: shingle
    * → Jaccard≥0.5 candidate pairs → undirected edges → reachability →
    * per-vertex component label (`comp(id, component)`). The three
    * cluster oracles (q_dedup_clusters, q_dedup_keep_best,
    * q_cluster_sizes) append their own tails so the clustering
    * definition cannot drift between them.
    */
  private val ClusterCompCte =
    """WITH RECURSIVE docs AS (
      |  SELECT doc_id, list_filter(
      |    string_split_regex(lower(text), '[^a-z]+'), x -> x <> '') AS toks
      |  FROM documents
      |), sh AS (
      |  SELECT doc_id, CASE WHEN len(toks) >= 3
      |    THEN list_distinct(list_transform(range(1, len(toks) - 1),
      |         i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
      |    ELSE [] END AS s
      |  FROM docs
      |), ex0 AS (SELECT doc_id, unnest(s) AS sh FROM sh),
      |ex AS (
      |  SELECT doc_id, sh FROM (
      |    SELECT doc_id, sh, count(*) OVER (PARTITION BY sh) AS df
      |    FROM ex0)
      |  WHERE df <= 1000),
      |sz AS (SELECT doc_id, len(s) AS n FROM sh),
      |cand AS (
      |  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS shared
      |  FROM ex a JOIN ex b ON a.sh = b.sh AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2),
      |jp AS (
      |  SELECT d1, d2
      |  FROM cand JOIN sz x ON d1 = x.doc_id JOIN sz y ON d2 = y.doc_id
      |  WHERE round(shared * 1.0 / (x.n + y.n - shared), 6) + 0.0 >= 0.5),
      |edges AS (
      |  SELECT d1 AS src, d2 AS dst FROM jp
      |  UNION
      |  SELECT d2 AS src, d1 AS dst FROM jp),
      |verts AS (SELECT DISTINCT src AS id FROM edges),
      |reach(id, comp) AS (
      |  SELECT id, id FROM verts
      |  UNION
      |  SELECT e.dst, r.comp FROM reach r JOIN edges e ON e.src = r.id),
      |comp AS (SELECT id, min(comp) AS component FROM reach GROUP BY id)""".stripMargin

  private val DecontaminateSql =
    """WITH tok AS (
      |  SELECT doc_id,
      |    unnest(list_filter(string_split_regex(lower(text), '[^a-z]+'),
      |                       x -> x <> '')) AS t,
      |    generate_subscripts(
      |      list_filter(string_split_regex(lower(text), '[^a-z]+'),
      |                  x -> x <> ''), 1) - 1 AS pos
      |  FROM documents),
      |sh AS (
      |  SELECT DISTINCT doc_id, sh FROM (
      |    SELECT doc_id,
      |      t || ' ' || lead(t, 1) OVER w || ' ' || lead(t, 2) OVER w AS sh
      |    FROM tok WINDOW w AS (PARTITION BY doc_id ORDER BY pos)) s
      |  WHERE sh IS NOT NULL),
      |probes AS (SELECT DISTINCT sh FROM sh WHERE doc_id % 97 = 0),
      |contaminated AS (
      |  SELECT DISTINCT s.doc_id FROM sh s JOIN probes p USING (sh)
      |  WHERE s.doc_id % 97 <> 0)
      |SELECT lang, count(*) AS clean_docs
      |FROM documents d
      |WHERE d.doc_id % 97 <> 0
      |  AND NOT EXISTS (SELECT 1 FROM contaminated c WHERE c.doc_id = d.doc_id)
      |GROUP BY lang ORDER BY lang NULLS FIRST""".stripMargin

  /** BM25 oracle, generated from [[TextQueries.Bm25Terms]] so the term
    * list can never drift from the Spark plan. Every arithmetic site is
    * CAST-pinned to DOUBLE (DuckDB otherwise picks DECIMAL for
    * int±fractional-literal) so both engines run the identical IEEE
    * expression tree; the presence filter and n_hits are integer.
    */
  private val Bm25Sql: String = {
    val terms = TextQueries.Bm25Terms
    val tfCols = terms.zipWithIndex.map { case (t, i) =>
      s"    len(list_filter(toks, x -> x = '$t')) AS tf$i"
    }.mkString(",\n")
    val dfCols = terms.indices.map(i =>
      s"        count(CASE WHEN tf$i > 0 THEN 1 END) AS df$i").mkString(",\n")
    val scoreSum = terms.indices.map { i =>
      s"""ln(1.0 + (CAST(n_docs - df$i AS DOUBLE) + 0.5) /
         |          (CAST(df$i AS DOUBLE) + 0.5)) *
         |      ((CAST(tf$i AS DOUBLE) * 2.2) /
         |       (CAST(tf$i AS DOUBLE) + 1.2 * (0.25 + 0.75 *
         |        (CAST(dl AS DOUBLE) / (CAST(sum_dl AS DOUBLE) / n_docs)))))"""
        .stripMargin
    }.mkString(" +\n      ")
    val nHits = terms.indices.map(i => s"CAST(tf$i > 0 AS INT)").mkString(" + ")
    val tfSum = terms.indices.map(i => s"tf$i").mkString(" + ")
    s"""WITH d AS (
       |  SELECT doc_id, list_filter(
       |    string_split_regex(lower(text), '[^a-z]+'), x -> x <> '') AS toks
       |  FROM documents),
       |t AS (
       |  SELECT doc_id, len(toks) AS dl,
       |$tfCols
       |  FROM d),
       |s AS (SELECT count(*) AS n_docs, sum(dl) AS sum_dl,
       |$dfCols
       |      FROM t)
       |SELECT doc_id, $nHits AS n_hits,
       |  round(
       |      $scoreSum, 6) + 0.0 AS score
       |FROM t CROSS JOIN s
       |WHERE $tfSum > 0
       |ORDER BY score DESC, doc_id ASC
       |LIMIT 20""".stripMargin
  }

  /** Bounded-lag EWMA oracle, generated from
    * [[EventQueries.EwmaWeights]]: each weight is embedded via
    * Double.toString (shortest round-trip repr, so DuckDB parses back
    * the bit-identical double) and CAST-pinned to DOUBLE so DuckDB
    * cannot type the literal DECIMAL and re-associate the sum.
    */
  private val EwmaSql: String = {
    val ws = EventQueries.EwmaWeights.map(_.toString)
    val num = ws.zipWithIndex.map { case (w, j) =>
      s"COALESCE(lag(value, $j) OVER w * CAST($w AS DOUBLE), CAST(0.0 AS DOUBLE))"
    }.mkString(" +\n    ")
    val den = ws.zipWithIndex.map { case (w, j) =>
      s"""CASE WHEN lag(value, $j) OVER w IS NOT NULL
         |      THEN CAST($w AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END""".stripMargin
    }.mkString(" +\n    ")
    s"""SELECT user_id, event_id, value,
       |  round(($num) / ($den), 6) + 0.0 AS ewma
       |FROM events
       |WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
       |ORDER BY user_id NULLS FIRST, event_id NULLS FIRST""".stripMargin
  }

  /** Morton interleave recomputed bit-by-bit in SQL — generated for
    * the same 9-bit width as `Sources.morton2`'s default so the oracle
    * checks the exact bit algebra the z-order layout writer uses.
    */
  private val ZorderSql: String = {
    val zExpr = (0 until 9).flatMap(i => Seq(
      s"(((user_id >> $i) & 1) << ${2 * i})",
      s"(((vbucket >> $i) & 1) << ${2 * i + 1})")).mkString(" |\n    ")
    s"""WITH cells AS (
       |  SELECT user_id, CAST(floor(value / 8) AS BIGINT) AS vbucket,
       |    count(*) AS n_events
       |  FROM events GROUP BY 1, 2)
       |SELECT
       |    $zExpr AS zcell,
       |  user_id, vbucket, n_events
       |FROM cells
       |ORDER BY zcell NULLS FIRST, user_id NULLS FIRST, vbucket NULLS FIRST
       |LIMIT 100""".stripMargin
  }

  /** 10 UNROLLED fixed-point PageRank iterations (DuckDB's recursive
    * CTEs reject the aggregate-join recursive term, so the chain is
    * generated) — integer `//` arithmetic matching
    * `GraphOps.pageRank` exactly: rank0 = S//n, each round
    * teleport (S·15)//(100·n) plus (85·Σ(rank//outdeg))//100.
    */
  private val PagerankSql: String = {
    val head =
      """WITH pairs AS (
        |  SELECT a.l_partkey AS src, b.l_partkey AS dst
        |  FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) a
        |  JOIN (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey),
        |edges AS (SELECT src, dst FROM pairs
        |          GROUP BY src, dst HAVING count(*) >= 2),
        |nodes AS (SELECT DISTINCT src AS node FROM edges),
        |deg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY src),
        |nn AS (SELECT count(*) AS n FROM nodes),
        |pr0 AS (SELECT node, 1000000000000 // n AS rank
        |        FROM nodes CROSS JOIN nn)""".stripMargin
    val rounds = (1 to 10).map { i =>
      s"""pr$i AS (
         |  SELECT n.node,
         |    (1000000000000 * 15) // (100 * nn.n) +
         |    (85 * coalesce(c.contrib, 0)) // 100 AS rank
         |  FROM nodes n
         |  CROSS JOIN nn
         |  LEFT JOIN (
         |    SELECT e.dst AS node, sum(p.rank // d.outdeg) AS contrib
         |    FROM pr${i - 1} p
         |    JOIN edges e ON p.node = e.src
         |    JOIN deg d ON d.src = e.src
         |    GROUP BY e.dst) c ON c.node = n.node)""".stripMargin
    }.mkString(",\n")
    head + ",\n" + rounds +
      "\nSELECT node, CAST(rank AS BIGINT) AS rank FROM pr10" +
      "\nORDER BY rank DESC, node NULLS FIRST"
  }

  /** k UNROLLED BPE merge rounds (generated like PagerankSql — the
    * round count is the SAME constant the Spark loop runs,
    * `AdvancedTextQueries.BpeMergeRounds`, so the two sides cannot
    * drift). Each round: zip-unnest adjacent symbol pairs, argmax with
    * the (count DESC, left, right) tie-break, then the identical
    * two-pass literal boundary replace the engine applies — `replace`
    * is leftmost-non-overlapping in both engines, which is the whole
    * reason this loop is oracle-expressible.
    */
  /** Shared k-round BPE training chain ending with best1..bestk —
    * BpeMergesSql reads the merge table off it, BpeEncodeSql applies
    * the same merges to every document's token stream.
    */
  private def bpeChainSql: String = bpeChainSqlWith(AsciiTokSql)

  /** DuckDB token-stream expressions the text oracles build on: the
    * ASCII-by-contract tokenizer and the unicode twin (manufactured
    * multi-script text + `[^\p{L}]+`, the q_wordcount_unicode recipe).
    */
  private val AsciiTokSql =
    "string_split_regex(lower(text), '[^a-z]+')"
  private val UnicodeTokSql =
    """string_split_regex(lower(translate(lower(text), 'aeiou', 'αєиωю')),
      |      '[^\p{L}]+')""".stripMargin

  private def bpeChainSqlWith(tokSql: String): String = {
    val k = operators.AdvancedTextQueries.BpeMergeRounds
    val head =
      s"""WITH v1 AS (
        |  SELECT ' ' || regexp_replace(word, '(.)', '\\1 ', 'g') AS s, cnt
        |  FROM (
        |    SELECT t AS word, count(*) AS cnt FROM (
        |      SELECT unnest(list_filter(
        |        $tokSql, x -> x <> '')) AS t
        |      FROM documents) tok
        |    GROUP BY t) wc)""".stripMargin
    val rounds = (1 to k).map { r =>
      val mergeNext =
        if (r == k) ""
        else s""",
           |v${r + 1} AS (
           |  SELECT replace(replace(v.s,
           |      ' ' || b.left_sym || ' ' || b.right_sym || ' ',
           |      ' ' || b.left_sym || b.right_sym || ' '),
           |      ' ' || b.left_sym || ' ' || b.right_sym || ' ',
           |      ' ' || b.left_sym || b.right_sym || ' ') AS s, v.cnt
           |  FROM v$r v CROSS JOIN best$r b)""".stripMargin
      s"""pairs$r AS (
         |  SELECT left_sym, right_sym, CAST(sum(cnt) AS BIGINT) AS pair_count
         |  FROM (
         |    SELECT unnest(list_slice(l, 1, len(l) - 1)) AS left_sym,
         |           unnest(list_slice(l, 2, len(l))) AS right_sym, cnt
         |    FROM (SELECT list_filter(string_split(s, ' '), x -> x <> '') AS l,
         |                 cnt
         |          FROM v$r) q
         |    WHERE len(l) >= 2) p
         |  GROUP BY 1, 2),
         |best$r AS (
         |  SELECT left_sym, right_sym, pair_count FROM pairs$r
         |  ORDER BY pair_count DESC, left_sym ASC, right_sym ASC LIMIT 1)""".stripMargin +
        mergeNext
    }.mkString(",\n")
    head + ",\n" + rounds
  }

  /** 5 UNROLLED HITS rounds (generated like PagerankSql; the round
    * count is `AnalyticsQueries.HitsIters`, so the two sides cannot
    * drift) — the same integer fixed-point algebra `GraphOps.hits`
    * runs: raw scores sum exact longs, each L1 normalization is
    * raw·10¹² // Σraw in 128-bit integers.
    */
  private val HitsSql: String = {
    val scale = "1000000000000"
    val head =
      s"""WITH edges AS MATERIALIZED (
         |  SELECT DISTINCT o.o_custkey AS src, l.l_partkey AS dst
         |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
         |h0 AS (SELECT DISTINCT src AS node, CAST($scale AS BIGINT) AS score
         |       FROM edges)""".stripMargin
    // every araw/hraw is referenced twice (its normalizer scalar
    // subquery and the normalized select) — MATERIALIZED stops an
    // inlining planner from re-expanding the whole chain per
    // reference, which is exponential in rounds
    val rounds = (1 to operators.AnalyticsQueries.HitsIters).map { i =>
      s"""araw$i AS MATERIALIZED (
         |  SELECT e.dst AS node, CAST(sum(h.score) AS BIGINT) AS raw
         |  FROM h${i - 1} h JOIN edges e ON h.node = e.src GROUP BY e.dst),
         |a$i AS MATERIALIZED (
         |  SELECT node, CAST((CAST(raw AS HUGEINT) * $scale) //
         |    (SELECT sum(CAST(raw AS HUGEINT)) FROM araw$i) AS BIGINT) AS score
         |  FROM araw$i),
         |hraw$i AS MATERIALIZED (
         |  SELECT e.src AS node, CAST(sum(a.score) AS BIGINT) AS raw
         |  FROM a$i a JOIN edges e ON a.node = e.dst GROUP BY e.src),
         |h$i AS MATERIALIZED (
         |  SELECT node, CAST((CAST(raw AS HUGEINT) * $scale) //
         |    (SELECT sum(CAST(raw AS HUGEINT)) FROM hraw$i) AS BIGINT) AS score
         |  FROM hraw$i)""".stripMargin
    }.mkString(",\n")
    val k = operators.AnalyticsQueries.HitsIters
    head + ",\n" + rounds +
      s""",
         |hubauth AS (
         |  SELECT 'hub' AS role, node, score FROM h$k
         |  UNION ALL
         |  SELECT 'auth' AS role, node, score FROM a$k),
         |rk AS (
         |  SELECT role, node, score, CAST(row_number() OVER (
         |    PARTITION BY role ORDER BY score DESC, node ASC) AS INT) AS rank
         |  FROM hubauth)
         |SELECT role, node, score, rank FROM rk WHERE rank <= 50
         |ORDER BY role NULLS FIRST, rank NULLS FIRST""".stripMargin
  }

  /** 20 UNROLLED power-iteration rounds for the event-type Markov
    * stationary distribution (constant `BehaviorQueries
    * .StationaryIters` shared with the engine loop) — the same
    * integer fixed point as HitsSql: per-edge mass x·n div r, L1
    * renormalization to 10¹² per round in 128-bit integers.
    */
  private val StationarySql: String = {
    val scale = "1000000000000"
    val head =
      s"""WITH tr AS MATERIALIZED (
         |  SELECT event_type AS from_type, next_type AS to_type,
         |    CAST(count(*) AS BIGINT) AS n
         |  FROM (
         |    SELECT event_type, lead(event_type) OVER (
         |      PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
         |      AS next_type
         |    FROM events) t
         |  WHERE next_type IS NOT NULL
         |  GROUP BY 1, 2),
         |rowsum AS (
         |  SELECT from_type, CAST(sum(n) AS BIGINT) AS r
         |  FROM tr GROUP BY 1),
         |edges AS MATERIALIZED (
         |  SELECT t.from_type, t.to_type, t.n, s.r
         |  FROM tr t JOIN rowsum s USING (from_type)),
         |nodes AS MATERIALIZED (
         |  SELECT DISTINCT event_type FROM (
         |    SELECT from_type AS event_type FROM tr
         |    UNION ALL SELECT to_type FROM tr) u),
         |nn AS (SELECT count(*) AS n_nodes FROM nodes),
         |x0 AS (
         |  SELECT event_type, CAST($scale // n_nodes AS BIGINT) AS x
         |  FROM nodes CROSS JOIN nn)""".stripMargin
    val rounds = (1 to operators.BehaviorQueries.StationaryIters).map { i =>
      s"""raw$i AS MATERIALIZED (
         |  SELECT nd.event_type, coalesce(c.raw, 0) AS raw
         |  FROM nodes nd LEFT JOIN (
         |    SELECT e.to_type AS event_type,
         |      CAST(sum(x.x * e.n // e.r) AS BIGINT) AS raw
         |    FROM x${i - 1} x JOIN edges e ON x.event_type = e.from_type
         |    GROUP BY e.to_type) c ON c.event_type = nd.event_type),
         |x$i AS MATERIALIZED (
         |  SELECT event_type, CAST((CAST(raw AS HUGEINT) * $scale) //
         |    (SELECT sum(CAST(raw AS HUGEINT)) FROM raw$i) AS BIGINT) AS x
         |  FROM raw$i)""".stripMargin
    }.mkString(",\n")
    val k = operators.BehaviorQueries.StationaryIters
    head + ",\n" + rounds +
      s"""
         |SELECT event_type, x AS stat_fp,
         |  round(CAST(x AS DOUBLE) / $scale, 6) + 0.0 AS stationary
         |FROM x$k ORDER BY event_type NULLS FIRST""".stripMargin
  }

  /** 10 UNROLLED power-iteration rounds for the top principal
    * component (constant `MlEvalQueries.PcaPowerIters` shared with the
    * engine loop): integer covariance via the centering identity,
    * L∞ fixed-point renormalization per round (both engines truncate
    * integer division toward zero), sign fixed at the largest
    * |loading|.
    */
  private val PcaPowerSql: String = {
    val head =
      """WITH pos AS (SELECT CAST(unnest(range(1, 65)) AS INT) AS dim),
        |e AS MATERIALIZED (
        |  SELECT vec_id, dim,
        |    CAST(round(CAST(embedding[dim] AS DOUBLE) * 1000000, 0)
        |      AS BIGINT) AS q
        |  FROM embeddings CROSS JOIN pos),
        |s1 AS (SELECT dim, CAST(sum(q) AS HUGEINT) AS s
        |       FROM e GROUP BY dim),
        |nn AS (SELECT CAST(count(*) AS HUGEINT) AS n FROM embeddings),
        |sab AS (
        |  SELECT ea.dim AS a, eb.dim AS b,
        |    CAST(sum(CAST(ea.q AS HUGEINT) * eb.q) AS HUGEINT) AS sab
        |  FROM e ea JOIN e eb ON ea.vec_id = eb.vec_id
        |  GROUP BY 1, 2),
        |cov AS MATERIALIZED (
        |  SELECT a, b, (SELECT n FROM nn) * sab.sab - sa.s * sb.s AS c
        |  FROM sab
        |  JOIN s1 sa ON sab.a = sa.dim
        |  JOIN s1 sb ON sab.b = sb.dim),
        |v0 AS (SELECT dim, CAST(1000000 AS HUGEINT) AS x FROM pos)""".stripMargin
    val rounds = (1 to operators.MlEvalQueries.PcaPowerIters).map { i =>
      s"""w$i AS MATERIALIZED (
         |  SELECT cov.a AS dim, CAST(sum(cov.c * v.x) AS HUGEINT) AS w
         |  FROM cov JOIN v${i - 1} v ON cov.b = v.dim GROUP BY cov.a),
         |v$i AS MATERIALIZED (
         |  SELECT dim, (w * 1000000) //
         |    (SELECT max(abs(w)) FROM w$i) AS x
         |  FROM w$i)""".stripMargin
    }.mkString(",\n")
    val k = operators.MlEvalQueries.PcaPowerIters
    head + ",\n" + rounds +
      s""",
         |sgn AS (
         |  SELECT CASE WHEN x < 0 THEN -1 ELSE 1 END AS sgn
         |  FROM v$k ORDER BY abs(x) DESC, dim ASC LIMIT 1)
         |SELECT dim, CAST(x * sgn AS BIGINT) AS loading_fp,
         |  round(CAST(x * sgn AS DOUBLE) / 1000000.0, 6) + 0.0 AS loading
         |FROM v$k CROSS JOIN sgn ORDER BY dim NULLS FIRST""".stripMargin
  }

  /** 6 UNROLLED k-core peeling rounds over the thresholded co-purchase
    * graph (constants `AnalyticsQueries.{KcoreK,KcoreRounds}` shared
    * with the engine loop): degrees of the surviving subgraph, drop
    * nodes under k, drop incident edges, repeat.
    */
  private val KcoreSql: String = {
    val k = operators.AnalyticsQueries.KcoreK
    val head =
      """WITH pairs AS (
        |  SELECT a.l_partkey AS p1, b.l_partkey AS p2
        |  FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) a
        |  JOIN (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
        |e0 AS MATERIALIZED (SELECT p1 AS u, p2 AS v FROM pairs
        |       GROUP BY p1, p2 HAVING count(*) >= 2)""".stripMargin
    // each e_i is referenced twice (by d_{i+1} and e_{i+1}); without
    // MATERIALIZED an inlining planner re-expands the whole chain per
    // reference — exponential in rounds
    val rounds = (1 to operators.AnalyticsQueries.KcoreRounds).map { i =>
      s"""d$i AS (
         |  SELECT node, count(*) AS degree FROM (
         |    SELECT u AS node FROM e${i - 1}
         |    UNION ALL SELECT v FROM e${i - 1}) t
         |  GROUP BY node),
         |k$i AS MATERIALIZED (SELECT node FROM d$i WHERE degree >= $k),
         |e$i AS MATERIALIZED (
         |  SELECT u, v FROM e${i - 1}
         |  WHERE u IN (SELECT node FROM k$i)
         |    AND v IN (SELECT node FROM k$i))""".stripMargin
    }.mkString(",\n")
    val r = operators.AnalyticsQueries.KcoreRounds
    head + ",\n" + rounds +
      s"""
         |SELECT node, count(*) AS degree FROM (
         |  SELECT u AS node FROM e$r UNION ALL SELECT v FROM e$r) t
         |GROUP BY node ORDER BY node NULLS FIRST""".stripMargin
  }

  /** [[operators.AnalyticsQueries.LabelPropRounds]] UNROLLED synchronous
    * label-propagation rounds (generated like PagerankSql; the round
    * count is the Spark loop's constant, so the two sides cannot
    * drift). The argmax is spelled as a row_number window with the
    * (count DESC, label ASC) tie-break — the same (most frequent,
    * smallest-label) choice the engine's max-of-(cnt, −label) struct
    * aggregate makes, so both replay identical rounds.
    */
  private val LabelPropSql: String = {
    val head =
      """WITH pairs AS (
        |  SELECT a.l_partkey AS p1, b.l_partkey AS p2
        |  FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) a
        |  JOIN (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
        |und AS (SELECT p1, p2 FROM pairs GROUP BY p1, p2 HAVING count(*) >= 2),
        |edges AS MATERIALIZED (
        |  SELECT p1 AS src, p2 AS dst FROM und
        |  UNION ALL SELECT p2, p1 FROM und),
        |l0 AS (SELECT DISTINCT src AS id, src AS label FROM edges)""".stripMargin
    val rounds = (1 to operators.AnalyticsQueries.LabelPropRounds).map { r =>
      s"""c$r AS (
         |  SELECT id, label, count(*) AS cnt FROM (
         |    SELECT id, label FROM l${r - 1}
         |    UNION ALL
         |    SELECT e.src AS id, l.label
         |    FROM edges e JOIN l${r - 1} l ON l.id = e.dst) v
         |  GROUP BY id, label),
         |l$r AS MATERIALIZED (
         |  SELECT id, label FROM (
         |    SELECT id, label, row_number() OVER (
         |      PARTITION BY id ORDER BY cnt DESC, label ASC) AS rn
         |    FROM c$r) q
         |  WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    val last = operators.AnalyticsQueries.LabelPropRounds
    head + ",\n" + rounds +
      s"""
         |SELECT id AS node, CAST(label AS BIGINT) AS community FROM l$last
         |ORDER BY community NULLS FIRST, node NULLS FIRST""".stripMargin
  }

  /** Per-brand modularity decomposition — exact integers over the
    * common denominator 4m², no division (see
    * `AnalyticsQueries.qModularity`); DuckDB's HUGEINT products are
    * cast back to BIGINT exactly like Spark's decimal(38,0) path.
    */
  private val ModularitySql: String =
    """WITH pairs AS (
      |  SELECT a.l_partkey AS u, b.l_partkey AS v
      |  FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) a
      |  JOIN (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
      |und AS MATERIALIZED (
      |  SELECT u, v FROM pairs GROUP BY u, v HAVING count(*) >= 2),
      |mm AS (SELECT count(*) AS m FROM und),
      |deg AS (
      |  SELECT node, count(*) AS deg FROM (
      |    SELECT u AS node FROM und UNION ALL SELECT v FROM und) t
      |  GROUP BY node),
      |bb AS (
      |  SELECT p.p_brand, count(*) AS n_nodes, sum(d.deg) AS deg_sum
      |  FROM deg d JOIN part p ON p.p_partkey = d.node
      |  GROUP BY 1),
      |internal AS (
      |  SELECT pu.p_brand, count(*) AS internal_edges
      |  FROM und
      |  JOIN part pu ON pu.p_partkey = und.u
      |  JOIN part pv ON pv.p_partkey = und.v
      |  WHERE pu.p_brand = pv.p_brand
      |  GROUP BY 1)
      |SELECT bb.p_brand, bb.n_nodes,
      |  CAST(bb.deg_sum AS BIGINT) AS deg_sum,
      |  CAST(coalesce(i.internal_edges, 0) AS BIGINT) AS internal_edges,
      |  CAST(4 * mm.m * coalesce(i.internal_edges, 0)
      |    - bb.deg_sum * bb.deg_sum AS BIGINT) AS q_num,
      |  CAST(4 * mm.m * mm.m AS BIGINT) AS q_denom
      |FROM bb LEFT JOIN internal i USING (p_brand) CROSS JOIN mm
      |ORDER BY p_brand NULLS FIRST""".stripMargin

  /** Degree assortativity — exact integer moments + one rounded
    * division (see `AnalyticsQueries.qAssortativity`).
    */
  private val AssortativitySql: String =
    """WITH pairs AS (
      |  SELECT a.l_partkey AS p1, b.l_partkey AS p2
      |  FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) a
      |  JOIN (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
      |und AS (SELECT p1, p2 FROM pairs GROUP BY p1, p2 HAVING count(*) >= 2),
      |edges AS MATERIALIZED (
      |  SELECT p1 AS src, p2 AS dst FROM und
      |  UNION ALL SELECT p2, p1 FROM und),
      |deg AS (SELECT src AS node, count(*) AS deg FROM edges GROUP BY 1),
      |mom AS (
      |  SELECT count(*) AS n_edges,
      |    sum(dx.deg) AS sx, sum(dx.deg * dy.deg) AS sxy,
      |    sum(dx.deg * dx.deg) AS sxx
      |  FROM edges e
      |  JOIN deg dx ON dx.node = e.src
      |  JOIN deg dy ON dy.node = e.dst)
      |SELECT n_edges,
      |  CAST(sx AS BIGINT) AS sum_deg,
      |  CAST(sxy AS BIGINT) AS sum_xy,
      |  CAST(sxx AS BIGINT) AS sum_xx,
      |  round((n_edges * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
      |    / (n_edges * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)),
      |    6) + 0.0 AS assortativity
      |FROM mom""".stripMargin

  /** Multinomial NB confusion matrix — the same factored
    * integer-micro-nat posterior `MlEvalQueries.qNaiveBayes` computes
    * (shared-denominator form, OOV dropped via the vocab semi-join,
    * smallest-label argmax tie-break).
    */
  private val NaiveBayesSql: String =
    """WITH split AS (
      |  SELECT doc_id, lang, text,
      |    CAST('0x' || substring(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 4)
      |      AS BIGINT) % 100 AS b
      |  FROM documents),
      |train_toks AS MATERIALIZED (
      |  SELECT lang,
      |    unnest(list_filter(string_split_regex(lower(text), '[^a-z]+'),
      |                       x -> x <> '')) AS t
      |  FROM split WHERE b < 80),
      |model AS MATERIALIZED (
      |  SELECT t, lang, count(*) AS cnt,
      |    CAST(round(ln(CAST(count(*) AS DOUBLE) + 1) * 1000000, 0) AS BIGINT)
      |      AS w_micro
      |  FROM train_toks GROUP BY t, lang),
      |vocab AS MATERIALIZED (SELECT DISTINCT t FROM model),
      |vn AS (SELECT count(*) AS v FROM vocab),
      |totc AS (SELECT lang, count(*) AS tot_c FROM train_toks GROUP BY lang),
      |priors AS (SELECT lang, count(*) AS n_docs_c FROM split WHERE b < 80
      |           GROUP BY lang),
      |ntr AS (SELECT count(*) AS n_train FROM split WHERE b < 80),
      |class_info AS (
      |  SELECT tc.lang AS pred_lang,
      |    CAST(round(ln(CAST(tc.tot_c + vn.v AS DOUBLE)) * 1000000, 0) AS BIGINT)
      |      AS lnz_micro,
      |    CAST(round(ln(CAST(p.n_docs_c AS DOUBLE) / ntr.n_train) * 1000000, 0)
      |      AS BIGINT) AS lnprior_micro
      |  FROM totc tc JOIN priors p ON p.lang = tc.lang
      |  CROSS JOIN vn CROSS JOIN ntr),
      |test_toks AS MATERIALIZED (
      |  SELECT doc_id, lang AS true_lang,
      |    unnest(list_filter(string_split_regex(lower(text), '[^a-z]+'),
      |                       x -> x <> '')) AS t
      |  FROM split WHERE b >= 90),
      |inv AS (
      |  SELECT doc_id, count(*) AS n_inv FROM test_toks
      |  WHERE t IN (SELECT t FROM vocab) GROUP BY doc_id),
      |base AS (
      |  SELECT s.doc_id, s.lang AS true_lang, coalesce(i.n_inv, 0) AS n_inv
      |  FROM split s LEFT JOIN inv i ON i.doc_id = s.doc_id
      |  WHERE s.b >= 90),
      |seen AS (
      |  SELECT tt.doc_id, m.lang AS pred_lang,
      |    CAST(sum(m.w_micro) AS BIGINT) AS s_seen
      |  FROM test_toks tt JOIN model m ON m.t = tt.t
      |  GROUP BY 1, 2),
      |scored AS (
      |  SELECT b.doc_id, b.true_lang, c.pred_lang,
      |    coalesce(s.s_seen, 0) - b.n_inv * c.lnz_micro + c.lnprior_micro
      |      AS score
      |  FROM base b CROSS JOIN class_info c
      |  LEFT JOIN seen s ON s.doc_id = b.doc_id AND s.pred_lang = c.pred_lang),
      |pred AS (
      |  SELECT true_lang, pred_lang FROM (
      |    SELECT true_lang, pred_lang, row_number() OVER (
      |      PARTITION BY doc_id ORDER BY score DESC, pred_lang ASC) AS rn
      |    FROM scored) q
      |  WHERE rn = 1)
      |SELECT true_lang, pred_lang, count(*) AS n_docs
      |FROM pred GROUP BY 1, 2
      |ORDER BY true_lang NULLS FIRST, pred_lang NULLS FIRST""".stripMargin

  /** Cohen's kappa between the two exact-integer quality labelers —
    * thresholds are the Scala constants, so the two sides cannot
    * drift (see `MlEvalQueries.qCohenKappa`).
    */
  private val CohenKappaSql: String = {
    val mc = operators.MlEvalQueries.KappaMinChars
    val up = operators.MlEvalQueries.KappaUniquePct
    s"""WITH toks AS (
       |  SELECT doc_id, n_chars,
       |    unnest(list_filter(string_split_regex(lower(text), '[^a-z]+'),
       |                       x -> x <> '')) AS t
       |  FROM documents),
       |per_doc AS (
       |  SELECT doc_id, max(n_chars) AS n_chars,
       |    count(DISTINCT t) AS n_distinct, count(*) AS n_tokens
       |  FROM toks GROUP BY doc_id),
       |lab AS (
       |  SELECT CASE WHEN n_chars >= $mc THEN 1 ELSE 0 END AS ka,
       |    CASE WHEN n_distinct * 100 >= n_tokens * $up THEN 1 ELSE 0 END AS kb
       |  FROM per_doc),
       |cells AS (
       |  SELECT count(*) AS n_docs,
       |    CAST(sum(ka * kb) AS BIGINT) AS keep_keep,
       |    CAST(sum(ka * (1 - kb)) AS BIGINT) AS keep_drop,
       |    CAST(sum((1 - ka) * kb) AS BIGINT) AS drop_keep,
       |    CAST(sum((1 - ka) * (1 - kb)) AS BIGINT) AS drop_drop
       |  FROM lab)
       |SELECT n_docs, keep_keep, keep_drop, drop_keep, drop_drop,
       |  round(2.0 * (keep_keep * drop_drop - keep_drop * drop_keep) /
       |    ((keep_keep + keep_drop) * (keep_drop + drop_drop) +
       |     (keep_keep + drop_keep) * (drop_keep + drop_drop)), 6) + 0.0
       |    AS kappa
       |FROM cells""".stripMargin
  }

  /** 14-day rolling Pearson between the click/purchase daily series —
    * decimal moment window sums, exact zero-variance guards, one
    * rounded division (see `TimeSeriesQueries.qRollingCorr`).
    */
  private val RollingCorrSql: String = {
    val d = operators.TimeSeriesQueries.RollingCorrDays
    s"""WITH byday AS (
       |  SELECT CAST(ts AS DATE) AS day,
       |    sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS x,
       |    sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS y
       |  FROM events WHERE event_type IN ('click', 'purchase')
       |  GROUP BY 1),
       |rolled AS (
       |  SELECT day,
       |    row_number() OVER (ORDER BY day) AS rn,
       |    count(*) OVER w AS n,
       |    sum(x) OVER w AS sx, sum(y) OVER w AS sy,
       |    sum(x * y) OVER w AS sxy, sum(x * x) OVER w AS sxx,
       |    sum(y * y) OVER w AS syy
       |  FROM byday
       |  WINDOW w AS (ORDER BY day ROWS BETWEEN ${d - 1} PRECEDING
       |               AND CURRENT ROW))
       |SELECT day, CAST(n AS BIGINT) AS n_days,
       |  CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0 THEN
       |    round(CAST(n * sxy - sx * sy AS DOUBLE) /
       |      (sqrt(CAST(n * sxx - sx * sx AS DOUBLE)) *
       |       sqrt(CAST(n * syy - sy * sy AS DOUBLE))), 6) + 0.0
       |  END AS roll_corr
       |FROM rolled WHERE rn >= $d
       |ORDER BY day NULLS FIRST""".stripMargin
  }

  /** Hill tail-index over the top-[[operators.StatsQueries.HillK]]
    * order totals — micro-nat log terms off the (k+1)-th order
    * statistic, one final division (see `StatsQueries.qHillTail`).
    */
  private val HillTailSql: String = {
    val k = operators.StatsQueries.HillK
    s"""WITH top AS (
       |  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS c, o_orderkey
       |  FROM orders ORDER BY c DESC, o_orderkey ASC LIMIT ${k + 1}),
       |ranked AS (
       |  SELECT c, row_number() OVER (ORDER BY c DESC, o_orderkey ASC) AS rn
       |  FROM top),
       |ref AS (SELECT c AS c_ref FROM ranked WHERE rn = ${k + 1}),
       |terms AS (
       |  SELECT CAST(round(ln(CAST(r.c AS DOUBLE) / f.c_ref) * 1000000, 0)
       |    AS BIGINT) AS term_micro, f.c_ref
       |  FROM ranked r CROSS JOIN ref f WHERE r.rn <= $k)
       |SELECT count(*) AS k, max(c_ref) AS x_ref_cents,
       |  CAST(sum(term_micro) AS BIGINT) AS sum_log_micro,
       |  CASE WHEN sum(term_micro) > 0 THEN
       |    round(count(*) * 1000000.0 / sum(term_micro), 6) + 0.0
       |  END AS tail_index
       |FROM terms""".stripMargin
  }

  /** Kruskal–Wallis sufficient statistics — exact doubled rank sums
    * over the value-domain fold; H left to the reader like
    * q_contingency's χ² (see `StatsQueries.qKruskalWallis`).
    */
  private val KruskalWallisSql: String =
    """WITH j AS (
      |  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS v, c.c_mktsegment
      |  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey),
      |bvs AS (SELECT v, c_mktsegment, count(*) AS c_g FROM j GROUP BY 1, 2),
      |bv AS (
      |  SELECT v, t,
      |    sum(t) OVER (ORDER BY v ASC ROWS BETWEEN UNBOUNDED PRECEDING
      |      AND CURRENT ROW) - t AS p
      |  FROM (SELECT v, CAST(sum(c_g) AS BIGINT) AS t FROM bvs GROUP BY v) q),
      |shared AS (
      |  SELECT CAST(sum(t) AS BIGINT) AS n_total,
      |    CAST(sum(t * t * t - t) AS BIGINT) AS tie_sum
      |  FROM bv)
      |SELECT s.c_mktsegment, CAST(sum(s.c_g) AS BIGINT) AS n_g,
      |  CAST(sum(s.c_g * (2 * b.p + b.t + 1)) AS BIGINT) AS r2_g,
      |  max(sh.n_total) AS n_total, max(sh.tie_sum) AS tie_sum
      |FROM bvs s JOIN bv b USING (v) CROSS JOIN shared sh
      |GROUP BY 1
      |ORDER BY c_mktsegment NULLS FIRST""".stripMargin

  /** 1-D Wasserstein-1 between the click/purchase value ECDFs —
    * per-segment area terms snapped to micro units before the exact
    * sum (see `StatsQueries.qEmd`).
    */
  // lazy: TwoSampleCte is initialized later in the object body
  private lazy val EmdSql: String =
    (TwoSampleCte +
      """,
      |tot AS (SELECT CAST(sum(c_a) AS BIGINT) AS n_a,
      |  CAST(sum(c_b) AS BIGINT) AS n_b FROM bv),
      |seg AS (
      |  SELECT n_a, n_b,
      |    CAST(round(CAST(abs(cum_a * n_b - cum_b * n_a) AS DOUBLE) /
      |      CAST(n_a * n_b AS DOUBLE) *
      |      (lead(value) OVER (ORDER BY value ASC) - value) * 1000000, 0)
      |      AS BIGINT) AS term_micro
      |  FROM cum CROSS JOIN tot)
      |SELECT n_a, n_b, count(*) AS n_segments,
      |  round(CAST(sum(term_micro) AS DOUBLE) / 1000000, 6) + 0.0 AS emd
      |FROM seg WHERE term_micro IS NOT NULL
      |GROUP BY 1, 2""").stripMargin

  /** Kendall tau-b over the daily click/purchase pair classes — exact
    * integer cells, one tie-corrected division (see
    * `TimeSeriesQueries.qKendallTau`).
    */
  private val KendallTauSql: String =
    """WITH byday AS (
      |  SELECT CAST(ts AS DATE) AS day,
      |    sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS x,
      |    sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS y
      |  FROM events WHERE event_type IN ('click', 'purchase')
      |  GROUP BY 1),
      |pairs AS (
      |  SELECT a.x - b.x AS dx, a.y - b.y AS dy
      |  FROM byday a JOIN byday b ON a.day < b.day),
      |cells AS (
      |  SELECT count(*) AS n_pairs,
      |    CAST(sum(CASE WHEN dx * dy > 0 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS concordant,
      |    CAST(sum(CASE WHEN dx * dy < 0 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS discordant,
      |    CAST(sum(CASE WHEN dx = 0 AND dy <> 0 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS ties_x_only,
      |    CAST(sum(CASE WHEN dy = 0 AND dx <> 0 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS ties_y_only,
      |    CAST(sum(CASE WHEN dx = 0 AND dy = 0 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS ties_both
      |  FROM pairs)
      |SELECT n_pairs, concordant, discordant, ties_x_only, ties_y_only,
      |  ties_both,
      |  round(CAST(concordant - discordant AS DOUBLE) /
      |    (sqrt(CAST(n_pairs - ties_x_only - ties_both AS DOUBLE)) *
      |     sqrt(CAST(n_pairs - ties_y_only - ties_both AS DOUBLE))), 6) + 0.0
      |    AS tau_b
      |FROM cells""".stripMargin

  /** Partial correlation — the identical IEEE op tree over the same
    * decimal moment sums (see `StatsQueries.qPartialCorr`).
    */
  private val PartialCorrSql: String =
    """WITH base AS (
      |  SELECT l_returnflag,
      |    CAST(count(*) AS DOUBLE) AS n,
      |    CAST(sum(x) AS DOUBLE) AS sx, CAST(sum(y) AS DOUBLE) AS sy,
      |    CAST(sum(z) AS DOUBLE) AS sz,
      |    CAST(sum(x * y) AS DOUBLE) AS sxy,
      |    CAST(sum(x * z) AS DOUBLE) AS sxz,
      |    CAST(sum(y * z) AS DOUBLE) AS syz,
      |    CAST(sum(x * x) AS DOUBLE) AS sxx,
      |    CAST(sum(y * y) AS DOUBLE) AS syy,
      |    CAST(sum(z * z) AS DOUBLE) AS szz
      |  FROM (
      |    SELECT l_returnflag,
      |      CAST(round(l_quantity * 100) AS BIGINT) AS x,
      |      CAST(round(l_extendedprice * 100) AS BIGINT) AS y,
      |      CAST(round(l_discount * 1000000) AS BIGINT) AS z
      |    FROM lineitem) t
      |  GROUP BY 1),
      |r AS (
      |  SELECT l_returnflag, n,
      |    (n * sxy - sx * sy) /
      |      (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)) AS rxy,
      |    (n * sxz - sx * sz) /
      |      (sqrt(n * sxx - sx * sx) * sqrt(n * szz - sz * sz)) AS rxz,
      |    (n * syz - sy * sz) /
      |      (sqrt(n * syy - sy * sy) * sqrt(n * szz - sz * sz)) AS ryz
      |  FROM base)
      |SELECT l_returnflag, CAST(n AS BIGINT) AS n_rows,
      |  round(rxy, 6) + 0.0 AS r_xy,
      |  round(rxz, 6) + 0.0 AS r_xz,
      |  round(ryz, 6) + 0.0 AS r_yz,
      |  round((rxy - rxz * ryz) /
      |    (sqrt(1 - rxz * rxz) * sqrt(1 - ryz * ryz)), 6) + 0.0 AS partial_r
      |FROM r ORDER BY l_returnflag NULLS FIRST""".stripMargin

  /** Two-feature OLS — same centered-moment determinant solve (see
    * `StatsQueries.qOls2`).
    */
  private val Ols2Sql: String =
    """WITH base AS (
      |  SELECT l_returnflag,
      |    CAST(count(*) AS DOUBLE) AS n,
      |    CAST(sum(x1) AS DOUBLE) AS s1, CAST(sum(x2) AS DOUBLE) AS s2,
      |    CAST(sum(y) AS DOUBLE) AS sy,
      |    CAST(sum(x1 * x1) AS DOUBLE) AS s11,
      |    CAST(sum(x2 * x2) AS DOUBLE) AS s22,
      |    CAST(sum(x1 * x2) AS DOUBLE) AS s12,
      |    CAST(sum(x1 * y) AS DOUBLE) AS s1y,
      |    CAST(sum(x2 * y) AS DOUBLE) AS s2y,
      |    CAST(sum(y * y) AS DOUBLE) AS syy
      |  FROM (
      |    SELECT l_returnflag,
      |      CAST(round(l_quantity * 100) AS BIGINT) AS x1,
      |      CAST(round(l_discount * 1000000) AS BIGINT) AS x2,
      |      CAST(round(l_extendedprice * 100) AS BIGINT) AS y
      |    FROM lineitem) t
      |  GROUP BY 1),
      |c AS (
      |  SELECT l_returnflag, n, s1, s2, sy,
      |    n * s11 - s1 * s1 AS c11, n * s22 - s2 * s2 AS c22,
      |    n * s12 - s1 * s2 AS c12,
      |    n * s1y - s1 * sy AS c1y, n * s2y - s2 * sy AS c2y,
      |    n * syy - sy * sy AS sst
      |  FROM base),
      |b AS (
      |  SELECT *,
      |    (c22 * c1y - c12 * c2y) / (c11 * c22 - c12 * c12) AS b1,
      |    (c11 * c2y - c12 * c1y) / (c11 * c22 - c12 * c12) AS b2
      |  FROM c)
      |SELECT l_returnflag, CAST(n AS BIGINT) AS n_rows,
      |  round(b1, 6) + 0.0 AS b_qty,
      |  round(b2, 6) + 0.0 AS b_disc,
      |  round((sy - b1 * s1 - b2 * s2) / n / 100.0, 6) + 0.0 AS intercept,
      |  round((b1 * c1y + b2 * c2y) / sst, 6) + 0.0 AS r2
      |FROM b ORDER BY l_returnflag NULLS FIRST""".stripMargin

  /** MinHash calibration — the same 4-band bucket pairs, 16 estimator
    * hashes, and exact token-set Jaccard (see
    * `AdvancedTextQueries.qMinhashCalibration`).
    */
  private val MinhashCalibrationSql: String = {
    val h = operators.AdvancedTextQueries.CalibrationHashes
    val sig16 = (1 to h)
      .map(i => s"list_min(list_transform(toks, t -> md5('c$i:' || t)))")
      .mkString("[\n      ", ",\n      ", "]")
    s"""WITH d AS (
       |  SELECT doc_id, list_sort(list_distinct(list_filter(
       |    string_split_regex(lower(text), '[^a-z]+'), x -> x <> ''))) AS toks
       |  FROM documents),
       |base AS (
       |  SELECT doc_id, toks, len(toks) AS n,
       |    concat_ws('|',
       |      list_min(list_transform(toks, t -> md5('s1:' || t))),
       |      list_min(list_transform(toks, t -> md5('s2:' || t))),
       |      list_min(list_transform(toks, t -> md5('s3:' || t))),
       |      list_min(list_transform(toks, t -> md5('s4:' || t)))) AS sig4,
       |    $sig16 AS sig16
       |  FROM d),
       |mind AS (SELECT sig4, min(doc_id) AS doc_id_1 FROM base GROUP BY 1),
       |pairs AS (
       |  SELECT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2,
       |    CAST(len(list_intersect(a.toks, b.toks)) AS BIGINT) AS shared,
       |    CAST(a.n AS BIGINT) AS n1, CAST(b.n AS BIGINT) AS n2,
       |    CAST(list_sum(list_transform(range(1, ${h + 1}),
       |      i -> CASE WHEN a.sig16[i] = b.sig16[i] THEN 1 ELSE 0 END))
       |      AS BIGINT) AS agree
       |  FROM base b
       |  JOIN mind m ON m.sig4 = b.sig4 AND b.doc_id > m.doc_id_1
       |  JOIN base a ON a.doc_id = m.doc_id_1)
       |SELECT doc_id_1, doc_id_2, agree, shared, n1, n2,
       |  round(agree / 16.0, 6) + 0.0 AS est_sim,
       |  round(CAST(shared AS DOUBLE) / (n1 + n2 - shared), 6) + 0.0
       |    AS true_jaccard,
       |  round(abs(agree / 16.0 - CAST(shared AS DOUBLE) / (n1 + n2 - shared)),
       |    6) + 0.0 AS abs_err
       |FROM pairs
       |ORDER BY doc_id_1 NULLS FIRST, doc_id_2 NULLS FIRST""".stripMargin
  }

  /** Per-source survivorship of the keep-best dedup — the same
    * recursive-CTE clusters and quality ranking as q_dedup_keep_best,
    * folded by source (see `AdvancedTextQueries.qDedupSurvivorship`).
    * lazy: ClusterCompCte initializes later in the object body.
    */
  private lazy val DedupSurvivorshipSql: String = (ClusterCompCte + ",\n" +
    """q AS (
      |  SELECT doc_id,
      |    round(0.4 * (len(list_distinct(toks)) * 1.0 / len(toks)) +
      |          0.4 * (1.0 - len(list_filter(toks, t -> t = 'the' OR t = 'a'))
      |                 * 1.0 / len(toks)) +
      |          0.2 * least(CAST(list_sum(list_transform(toks, t -> length(t)))
      |                 AS DOUBLE) / len(toks) / 10.0, 1.0), 6) + 0.0
      |      AS keep_quality
      |  FROM docs),
      |lab AS (
      |  SELECT q.doc_id, COALESCE(c.component, q.doc_id) AS component,
      |         q.keep_quality
      |  FROM q LEFT JOIN comp c ON c.id = q.doc_id),
      |r AS (
      |  SELECT *,
      |    row_number() OVER (PARTITION BY component
      |                       ORDER BY keep_quality DESC, doc_id ASC) AS rn
      |  FROM lab),
      |sur AS (SELECT doc_id FROM r WHERE rn = 1),
      |per AS (
      |  SELECT d.source, count(*) AS n_docs,
      |    CAST(sum(CASE WHEN s.doc_id IS NOT NULL THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n_kept
      |  FROM documents d LEFT JOIN sur s ON s.doc_id = d.doc_id
      |  GROUP BY 1)
      |SELECT source, n_docs, n_kept, n_docs - n_kept AS n_dropped,
      |  round(CAST(n_kept AS DOUBLE) / n_docs, 6) + 0.0 AS kept_rate
      |FROM per ORDER BY source NULLS FIRST""").stripMargin

  /** Decontamination n-gram-length ladder — one windowed token CTE
    * feeds every length (see `TextQueries.qDecontaminateLadder`).
    */
  private val DecontaminateLadderSql: String = {
    val ns = operators.TextQueries.DecontaminateLadderNs
    val maxN = ns.max
    val leadCols = (1 until maxN)
      .map(i => s"lead(t, $i) OVER w AS t$i").mkString(",\n    ")
    val shSelects = ns.map { n =>
      val parts = ("t" +: (1 until n).map(i => s"t$i")).mkString(", ")
      s"""SELECT doc_id, $n AS n, concat_ws(' ', $parts) AS sh
         |    FROM tok WHERE t${n - 1} IS NOT NULL""".stripMargin
    }.mkString("\n    UNION ALL\n    ")
    val gridNs = ns.mkString("[", ", ", "]")
    s"""WITH tk AS (
       |  SELECT doc_id,
       |    unnest(list_filter(string_split_regex(lower(text), '[^a-z]+'),
       |                       x -> x <> '')) AS t,
       |    generate_subscripts(
       |      list_filter(string_split_regex(lower(text), '[^a-z]+'),
       |                  x -> x <> ''), 1) - 1 AS pos
       |  FROM documents),
       |tok AS (
       |  SELECT doc_id, t,
       |    $leadCols
       |  FROM tk WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
       |sh AS (
       |  SELECT DISTINCT doc_id, n, sh FROM (
       |    $shSelects) u),
       |probe AS (SELECT DISTINCT n, sh FROM sh WHERE doc_id % 97 = 0),
       |flagged AS (
       |  SELECT s.n, CAST(count(DISTINCT s.doc_id) AS BIGINT) AS n_contaminated
       |  FROM sh s JOIN probe p ON p.n = s.n AND p.sh = s.sh
       |  WHERE s.doc_id % 97 <> 0
       |  GROUP BY 1),
       |den AS (
       |  SELECT count(*) AS n_docs FROM documents WHERE doc_id % 97 <> 0),
       |grid AS (SELECT unnest($gridNs) AS n)
       |SELECT g.n, den.n_docs,
       |  CAST(coalesce(f.n_contaminated, 0) AS BIGINT) AS n_contaminated,
       |  round(CAST(coalesce(f.n_contaminated, 0) AS DOUBLE) / den.n_docs, 6)
       |    + 0.0 AS flag_rate
       |FROM grid g CROSS JOIN den LEFT JOIN flagged f ON f.n = g.n
       |ORDER BY g.n NULLS FIRST""".stripMargin
  }

  private val BpeMergesSql: String = {
    val k = operators.AdvancedTextQueries.BpeMergeRounds
    val steps = (1 to k).map { r =>
      s"""SELECT CAST($r AS INT) AS step, left_sym, right_sym,
         |  left_sym || right_sym AS merged, pair_count FROM best$r""".stripMargin
    }.mkString("\nUNION ALL\n")
    bpeChainSql + "\n" + steps + "\nORDER BY step"
  }

  /** Tokenizer APPLY: the k trained merges re-applied to every token
    * occurrence (same two-pass boundary replace as training), then
    * per-document symbol counts — the encode half of the BPE story.
    */
  private val BpeEncodeSql: String = bpeEncodeSqlWith(AsciiTokSql)

  /** The encode oracle over the unicode token stream — merges train on
    * the same stream (bpeChainSqlWith), mirroring
    * UnicodeTextQueries.qBpeEncodeUnicode's tokenizer-tagged model.
    */
  private val BpeEncodeUnicodeSql: String = bpeEncodeSqlWith(UnicodeTokSql)

  private def bpeEncodeSqlWith(tokSql: String): String = {
    val k = operators.AdvancedTextQueries.BpeMergeRounds
    val encodeRounds = (1 to k).map { r =>
      s"""e$r AS (
         |  SELECT doc_id, lang, word,
         |    replace(replace(e.s,
         |      ' ' || b.left_sym || ' ' || b.right_sym || ' ',
         |      ' ' || b.left_sym || b.right_sym || ' '),
         |      ' ' || b.left_sym || ' ' || b.right_sym || ' ',
         |      ' ' || b.left_sym || b.right_sym || ' ') AS s
         |  FROM e${r - 1} e CROSS JOIN best$r b)""".stripMargin
    }.mkString(",\n")
    bpeChainSqlWith(tokSql) + ",\n" +
      s"""toks AS (
         |  SELECT doc_id, lang, unnest(list_filter(
         |    $tokSql, x -> x <> '')) AS word
         |  FROM documents),
         |e0 AS (
         |  SELECT doc_id, lang, word,
         |    ' ' || regexp_replace(word, '(.)', '\\1 ', 'g') AS s
         |  FROM toks),
         |$encodeRounds
         |SELECT doc_id, lang,
         |  CAST(count(*) AS BIGINT) AS n_words,
         |  CAST(sum(length(word)) AS BIGINT) AS n_chars,
         |  CAST(sum(len(list_filter(string_split(s, ' '), x -> x <> '')))
         |    AS BIGINT) AS n_bpe_tokens,
         |  round(CAST(sum(len(list_filter(string_split(s, ' '), x -> x <> '')))
         |    AS DOUBLE) / count(*), 6) + 0.0 AS bpe_per_word
         |FROM e$k
         |GROUP BY doc_id, lang
         |ORDER BY doc_id NULLS FIRST""".stripMargin
  }

  /** The unrolled k-means CTE chain (generated like PagerankSql — the
    * cluster count and round count are the SAME constants the Spark
    * loop runs, `ClusterQueries.K`/`Iters`, so the two sides cannot
    * drift). All arithmetic is on the 1e-6 integer grid: distances are
    * BIGINT sums of integer squares, centroid updates round
    * half-away-from-zero — bit-identical to the engine's
    * literal-inlined projection. Ends at `af` (final assignment with
    * rn = 1 to keep), so both the assignment query and the
    * diversity-sample query share one chain.
    */
  private def kmeansChainSql: String = {
    val k = operators.ClusterQueries.K
    val t = operators.ClusterQueries.Iters
    val head =
      s"""WITH pos AS (SELECT unnest(range(1, 65)) AS dim),
         |q AS (
         |  SELECT vec_id, CAST(dim AS INT) AS dim,
         |    CAST(round(CAST(embedding[dim] AS DOUBLE) * 1000000, 0) AS BIGINT)
         |      AS qv
         |  FROM embeddings CROSS JOIN pos),
         |init AS (
         |  SELECT vec_id,
         |    CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cid
         |  FROM (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT $k)),
         |c0 AS (
         |  SELECT i.cid, q.dim, q.qv AS qc
         |  FROM init i JOIN q ON q.vec_id = i.vec_id)""".stripMargin
    val rounds = (1 to t).map { i =>
      s"""d$i AS (
         |  SELECT q.vec_id, c.cid,
         |    CAST(sum((q.qv - c.qc) * (q.qv - c.qc)) AS BIGINT) AS dist
         |  FROM q JOIN c${i - 1} c ON q.dim = c.dim
         |  GROUP BY q.vec_id, c.cid),
         |a$i AS (
         |  SELECT vec_id, cid, dist,
         |    row_number() OVER (PARTITION BY vec_id
         |      ORDER BY dist ASC, cid ASC) AS rn
         |  FROM d$i),
         |c$i AS (
         |  SELECT a.cid, q.dim,
         |    CAST(round(CAST(sum(q.qv) AS DOUBLE) / count(*), 0) AS BIGINT)
         |      AS qc
         |  FROM a$i a JOIN q ON q.vec_id = a.vec_id
         |  WHERE a.rn = 1
         |  GROUP BY a.cid, q.dim)""".stripMargin
    }.mkString(",\n")
    val fin =
      s"""df AS (
         |  SELECT q.vec_id, c.cid,
         |    CAST(sum((q.qv - c.qc) * (q.qv - c.qc)) AS BIGINT) AS dist
         |  FROM q JOIN c$t c ON q.dim = c.dim
         |  GROUP BY q.vec_id, c.cid),
         |af AS (
         |  SELECT vec_id, cid, dist,
         |    row_number() OVER (PARTITION BY vec_id
         |      ORDER BY dist ASC, cid ASC) AS rn
         |  FROM df)""".stripMargin
    head + ",\n" + rounds + ",\n" + fin
  }

  /** Simplified silhouette off the same chain: `af` holds every
    * vec × centroid distance under the final model, so a = the rn = 1
    * row, b = the minimum over rn > 1 (see
    * `ClusterQueries.qSilhouette`).
    */
  private val SilhouetteSql: String =
    kmeansChainSql +
      """,
        |s AS (
        |  SELECT vec_id,
        |    min(CASE WHEN rn = 1 THEN cid END) AS cluster,
        |    min(CASE WHEN rn = 1 THEN dist END) AS a_sq,
        |    min(CASE WHEN rn > 1 THEN dist END) AS b_sq
        |  FROM af GROUP BY vec_id)
        |SELECT vec_id, cluster, a_sq, b_sq,
        |  CASE WHEN greatest(a_sq, b_sq) = 0 THEN CAST(0.0 AS DOUBLE)
        |       ELSE round(CAST(b_sq - a_sq AS DOUBLE) /
        |              greatest(a_sq, b_sq), 6) + 0.0 END AS sil
        |FROM s ORDER BY vec_id NULLS FIRST""".stripMargin

  private val KmeansSql: String =
    kmeansChainSql +
      """
        |SELECT e.vec_id, e.label, a.cid AS cluster, a.dist AS dist_sq
        |FROM af a JOIN embeddings e ON e.vec_id = a.vec_id
        |WHERE a.rn = 1
        |ORDER BY e.vec_id NULLS FIRST""".stripMargin

  /** Per-round inertia off the same chain: rounds 1..t read a1..at,
    * round t+1 reads the final assignment af — exactly the Iters+1
    * assignments the Spark loop scores.
    */
  private val KmeansInertiaSql: String = {
    val t = operators.ClusterQueries.Iters
    val parts = (1 to t).map(i => (i, s"a$i")) :+ ((t + 1, "af"))
    val selects = parts.map { case (r, cte) =>
      s"""SELECT CAST($r AS INT) AS round,
         |  CAST(sum(dist) AS BIGINT) AS inertia,
         |  CAST(count(*) AS BIGINT) AS n_vecs,
         |  CAST(count(DISTINCT cid) AS INT) AS n_clusters
         |FROM $cte WHERE rn = 1""".stripMargin
    }.mkString("\nUNION ALL\n")
    kmeansChainSql + "\n" + selects + "\nORDER BY round"
  }

  private val DiversitySampleSql: String =
    kmeansChainSql +
      """,
        |win AS (SELECT vec_id, cid FROM af WHERE rn = 1),
        |qual AS (
        |  SELECT doc_id,
        |    round(0.4 * (len(list_distinct(toks)) * 1.0 / len(toks)) +
        |          0.4 * (1.0 - len(list_filter(toks, t -> t = 'the' OR t = 'a'))
        |                 * 1.0 / len(toks)) +
        |          0.2 * least(CAST(list_sum(list_transform(toks, t -> length(t)))
        |                 AS DOUBLE) / len(toks) / 10.0, 1.0), 6) + 0.0
        |      AS quality_score
        |  FROM (SELECT doc_id, list_filter(
        |          string_split_regex(lower(text), '[^a-z]+'), x -> x <> '') AS toks
        |        FROM documents) d),
        |ranked AS (
        |  SELECT w.cid AS cluster, u.doc_id, u.quality_score,
        |    CAST(row_number() OVER (PARTITION BY w.cid
        |      ORDER BY u.quality_score DESC, u.doc_id ASC) AS INT) AS rank
        |  FROM win w JOIN qual u ON u.doc_id = w.vec_id)
        |SELECT cluster, rank, doc_id, quality_score FROM ranked
        |WHERE rank <= 3
        |ORDER BY cluster NULLS FIRST, rank ASC""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "q_pagerank" -> PagerankSql,
    "q_label_prop" -> LabelPropSql,
    "q_modularity" -> ModularitySql,
    "q_assortativity" -> AssortativitySql,
    "q_naive_bayes" -> NaiveBayesSql,
    "q_cohen_kappa" -> CohenKappaSql,
    "q_rolling_corr" -> RollingCorrSql,
    "q_hill_tail" -> HillTailSql,
    "q_kruskal_wallis" -> KruskalWallisSql,
    "q_emd" -> EmdSql,
    "q_kendall_tau" -> KendallTauSql,
    "q_partial_corr" -> PartialCorrSql,
    "q_ols2" -> Ols2Sql,
    "q_minhash_calibration" -> MinhashCalibrationSql,
    "q_dedup_survivorship" -> DedupSurvivorshipSql,
    "q_decontaminate_ladder" -> DecontaminateLadderSql,
    "q_bpe_merges" -> BpeMergesSql,
    "q_kmeans" -> KmeansSql,
    "q_kmeans_inertia" -> KmeansInertiaSql,
    "q_silhouette" -> SilhouetteSql,
    // q_histogram's binning + q_lm_score's micro-nat term rounding;
    // add-one smoothing over the fixed 10-bin domain keeps ln finite,
    // the observed-bin domain (empty-in-both excluded) is deterministic.
    "q_drift_psi" ->
      """WITH cnt AS (
        |  SELECT event_type,
        |    least(CAST(floor(value / 50.0) AS BIGINT), 9) AS bucket,
        |    CAST(sum(CASE WHEN date_part('day', ts) <= 15 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_base,
        |    CAST(sum(CASE WHEN date_part('day', ts) <= 15 THEN 0 ELSE 1 END)
        |      AS BIGINT) AS n_cur
        |  FROM events GROUP BY 1, 2),
        |tot AS (
        |  SELECT event_type, CAST(sum(n_base) AS BIGINT) AS tot_base,
        |    CAST(sum(n_cur) AS BIGINT) AS tot_cur,
        |    CAST(count(*) AS BIGINT) AS n_bins
        |  FROM cnt GROUP BY 1),
        |terms AS (
        |  SELECT c.event_type, t.tot_base, t.tot_cur, t.n_bins,
        |    CAST(round(
        |      (CAST(c.n_cur + 1 AS DOUBLE) / (t.tot_cur + 10) -
        |       CAST(c.n_base + 1 AS DOUBLE) / (t.tot_base + 10)) *
        |      ln((CAST(c.n_cur + 1 AS DOUBLE) / (t.tot_cur + 10)) /
        |         (CAST(c.n_base + 1 AS DOUBLE) / (t.tot_base + 10))) *
        |      1000000, 0) AS BIGINT) AS term_micro
        |  FROM cnt c JOIN tot t USING (event_type))
        |SELECT event_type, max(tot_base) AS n_base, max(tot_cur) AS n_cur,
        |  max(n_bins) AS n_bins,
        |  CAST(sum(term_micro) AS BIGINT) AS psi_micro
        |FROM terms GROUP BY event_type
        |ORDER BY event_type NULLS FIRST""".stripMargin,
    "q_diversity_sample" -> DiversitySampleSql,
    "q_bpe_encode" -> BpeEncodeSql,
    "q_bpe_encode_unicode" -> BpeEncodeUnicodeSql,
    // unicode dedup-chain twins: identical algebra to the ASCII
    // originals with the manufactured multi-script token stream
    // (the q_wordcount_unicode recipe)
    "q_dedup_near_unicode" ->
      s"""SELECT min(doc_id) AS canonical_doc_id, count(*) AS group_size
         |FROM (
         |  SELECT doc_id,
         |    array_to_string(list_sort(list_distinct(list_filter(
         |      $UnicodeTokSql, x -> x <> ''))), ' ') AS signature
         |  FROM documents) t
         |GROUP BY signature ORDER BY canonical_doc_id NULLS FIRST""".stripMargin,
    "q_dedup_minhash_unicode" ->
      s"""WITH sigs AS (
         |  SELECT doc_id, concat_ws('|',
         |    list_min(list_transform(toks, t -> md5('s1:' || t))),
         |    list_min(list_transform(toks, t -> md5('s2:' || t))),
         |    list_min(list_transform(toks, t -> md5('s3:' || t))),
         |    list_min(list_transform(toks, t -> md5('s4:' || t)))) AS signature
         |  FROM (SELECT doc_id, list_distinct(list_filter(
         |          $UnicodeTokSql, x -> x <> '')) AS toks
         |        FROM documents) d)
         |SELECT min(doc_id) AS canonical_doc_id, count(*) AS group_size
         |FROM sigs GROUP BY signature
         |ORDER BY canonical_doc_id NULLS FIRST""".stripMargin,
    "q_tfidf_unicode" ->
      s"""SELECT word, count(DISTINCT doc_id) AS df,
         |  round(ln(CAST((SELECT count(*) FROM documents) AS DOUBLE) /
         |        count(DISTINCT doc_id)), 6) + 0.0 AS idf
         |FROM (
         |  SELECT doc_id, unnest($UnicodeTokSql) AS word
         |  FROM documents) t
         |WHERE word <> '' GROUP BY word
         |ORDER BY df DESC, word ASC LIMIT 50""".stripMargin,
    "q_ngram_jaccard_unicode" ->
      s"""WITH docs AS (
         |  SELECT doc_id, list_filter(
         |    $UnicodeTokSql, x -> x <> '') AS toks
         |  FROM documents
         |), sh AS (
         |  SELECT doc_id, CASE WHEN len(toks) >= 3
         |    THEN list_distinct(list_transform(range(1, len(toks) - 1),
         |         i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
         |    ELSE [] END AS s
         |  FROM docs
         |), ex0 AS (SELECT doc_id, unnest(s) AS sh FROM sh),
         |ex AS (
         |  SELECT doc_id, sh FROM (
         |    SELECT doc_id, sh, count(*) OVER (PARTITION BY sh) AS df
         |    FROM ex0)
         |  WHERE df <= 1000),
         |sz AS (SELECT doc_id, len(s) AS n FROM sh),
         |pairs AS (
         |  SELECT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2, count(*) AS shared
         |  FROM ex a JOIN ex b ON a.sh = b.sh AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2)
         |SELECT doc_id_1, doc_id_2,
         |  round(shared * 1.0 / (x.n + y.n - shared), 6) + 0.0 AS jaccard
         |FROM pairs JOIN sz x ON doc_id_1 = x.doc_id JOIN sz y ON doc_id_2 = y.doc_id
         |WHERE round(shared * 1.0 / (x.n + y.n - shared), 6) + 0.0 >= 0.5
         |ORDER BY doc_id_1 NULLS FIRST, doc_id_2 NULLS FIRST""".stripMargin,
    "q_bm25" -> Bm25Sql,
    "q_ewma" -> EwmaSql,
    "q_embed_centroid" ->
      """WITH pos AS (SELECT unnest(range(1, 65)) AS dim),
        |e AS (
        |  SELECT label, CAST(dim AS INT) AS dim,
        |    CAST(round(CAST(embedding[dim] AS DOUBLE) * 1000000, 0) AS BIGINT)
        |      AS q
        |  FROM embeddings CROSS JOIN pos)
        |SELECT label, dim, count(*) AS n_vecs,
        |  round(CAST(sum(q) AS DOUBLE) / CAST(count(*) * 1000000 AS DOUBLE), 6)
        |    + 0.0 AS centroid
        |FROM e GROUP BY 1, 2
        |ORDER BY label NULLS FIRST, dim NULLS FIRST""".stripMargin,
    "q_zorder" -> ZorderSql,
    // Textbook three-way self-join enumeration (a<b<c by id); the Spark
    // plan orients edges by (degree, id) first so the wedge join is
    // O(m^1.5)-bounded — same triangles, same per-node counts.
    "q_triangles" ->
      """WITH pairs AS (
        |  SELECT a.l_partkey AS u, b.l_partkey AS v
        |  FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) a
        |  JOIN (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
        |und AS (SELECT u, v FROM pairs GROUP BY u, v HAVING count(*) >= 2),
        |tri AS (
        |  SELECT e1.u AS a, e1.v AS b, e2.v AS c
        |  FROM und e1
        |  JOIN und e2 ON e2.u = e1.v
        |  JOIN und e3 ON e3.u = e1.u AND e3.v = e2.v),
        |n AS (SELECT a AS node FROM tri UNION ALL SELECT b AS node FROM tri
        |      UNION ALL SELECT c AS node FROM tri)
        |SELECT node, count(*) AS n_triangles FROM n
        |GROUP BY node ORDER BY n_triangles DESC, node NULLS FIRST""".stripMargin,
    // per-token surprisal rounded to integer micro-nats BEFORE the
    // per-doc sum, so the sum is exact-integer in both engines.
    "q_lm_score" ->
      """WITH toks AS (
        |  SELECT doc_id, lang,
        |    unnest(list_filter(string_split_regex(lower(text), '[^a-z]+'),
        |                       x -> x <> '')) AS t
        |  FROM documents),
        |lang_totals AS (SELECT lang, count(*) AS n_lang FROM toks GROUP BY lang),
        |model AS (
        |  SELECT m.lang, m.t,
        |    CAST(round(-ln(CAST(m.n_t AS DOUBLE) / lt.n_lang) * 1000000.0, 0)
        |         AS BIGINT) AS su_micronats
        |  FROM (SELECT lang, t, count(*) AS n_t FROM toks GROUP BY lang, t) m
        |  JOIN lang_totals lt ON m.lang = lt.lang)
        |SELECT k.doc_id, k.lang, count(*) AS n_tokens,
        |  round(CAST(sum(mo.su_micronats) AS DOUBLE) / count(*) / 1000000.0, 6)
        |    AS avg_surprisal
        |FROM toks k JOIN model mo ON k.lang = mo.lang AND k.t = mo.t
        |GROUP BY k.doc_id, k.lang
        |ORDER BY doc_id NULLS FIRST""".stripMargin,
    "q_ffill" ->
      """WITH daily AS (
        |  SELECT user_id, CAST(ts AS DATE) AS d,
        |    sum(CAST(round(value * 100, 0) AS BIGINT)) AS c_sum
        |  FROM events GROUP BY user_id, d),
        |grid AS (
        |  SELECT user_id,
        |    CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS d
        |  FROM (SELECT user_id, min(d) AS d0, max(d) AS d1
        |        FROM daily GROUP BY user_id) s),
        |joined AS (
        |  SELECT g.user_id, g.d, dd.c_sum FROM grid g
        |  LEFT JOIN daily dd ON g.user_id = dd.user_id AND g.d = dd.d)
        |SELECT user_id, d AS day,
        |  CASE WHEN c_sum IS NOT NULL THEN 'obs' ELSE 'fill' END AS status,
        |  CAST(last_value(c_sum IGNORE NULLS) OVER (
        |    PARTITION BY user_id ORDER BY d
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
        |    / 100.0 AS value_filled
        |FROM joined
        |ORDER BY user_id NULLS FIRST, day NULLS FIRST""".stripMargin,
    "q_salted_join" -> JoinInnerSql,
    "q_dedup_simhash" -> (SimhashSigCte + "\n" +
      """SELECT simhash, min(doc_id) AS canonical_doc_id, count(*) AS group_size
        |FROM sig GROUP BY simhash
        |ORDER BY canonical_doc_id NULLS FIRST""".stripMargin),
    "q_dedup_simhash_unicode" -> (simhashSigCteWith(UnicodeTokSql) + "\n" +
      """SELECT simhash, min(doc_id) AS canonical_doc_id, count(*) AS group_size
        |FROM sig GROUP BY simhash
        |ORDER BY canonical_doc_id NULLS FIRST""".stripMargin),
    "q_dedup_hamming" -> (SimhashSigCte + "\n" +
      """SELECT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2,
        |  bit_count(xor(a.simhash, b.simhash)) AS hamming
        |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.simhash, b.simhash)) <= 1
        |ORDER BY doc_id_1 NULLS FIRST, doc_id_2 NULLS FIRST""".stripMargin),
    "q_scan_project" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
        |FROM lineitem
        |ORDER BY l_orderkey, l_linenumber, l_quantity, l_extendedprice
        |LIMIT 1000""".stripMargin,
    "q_filter" ->
      """SELECT l_returnflag, count(*) AS cnt FROM lineitem
        |WHERE l_quantity BETWEEN 10 AND 20
        |  AND l_returnflag IN ('A','R')
        |  AND l_shipdate >= TIMESTAMP '1995-06-01 00:00:00'
        |  AND l_linestatus LIKE 'F%'
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q_wordcount" ->
      """SELECT word, count(*) AS cnt FROM (
        |  SELECT unnest(string_split_regex(lower(text), '[^a-z]+')) AS word
        |  FROM documents) t
        |WHERE word <> '' GROUP BY word ORDER BY word""".stripMargin,
    // \p{L} is the identical Unicode letter category in Java regex
    // (Spark) and RE2 (DuckDB); translate manufactures multi-script
    // tokens from the ASCII fixture so the agreement is actually
    // exercised (see CoreQueries.qWordcountUnicode).
    "q_wordcount_unicode" ->
      """SELECT word, count(*) AS cnt FROM (
        |  SELECT unnest(string_split_regex(
        |    lower(translate(lower(text), 'aeiou', 'αєиωю')),
        |    '[^\p{L}]+')) AS word
        |  FROM documents) t
        |WHERE word <> '' GROUP BY word ORDER BY word""".stripMargin,
    "q_inverted_index" ->
      """SELECT word, count(DISTINCT doc_id) AS n_docs,
        |       string_agg(DISTINCT CAST(doc_id AS VARCHAR), ','
        |                  ORDER BY CAST(doc_id AS VARCHAR)) AS doc_ids
        |FROM (
        |  SELECT doc_id, unnest(string_split_regex(lower(text), '[^a-z]+')) AS word
        |  FROM documents) t
        |WHERE word <> '' GROUP BY word ORDER BY word""".stripMargin,
    "q_inverted_index_capped" ->
      """SELECT word, count(DISTINCT doc_id) AS n_docs,
        |       string_agg(DISTINCT CAST(doc_id AS VARCHAR), ','
        |                  ORDER BY CAST(doc_id AS VARCHAR)) AS doc_ids
        |FROM (
        |  SELECT doc_id, unnest(string_split_regex(lower(text), '[^a-z]+')) AS word
        |  FROM documents) t
        |WHERE word <> '' GROUP BY word
        |HAVING count(DISTINCT doc_id) <= 1000
        |ORDER BY word""".stripMargin,
    "q_join_inner" -> JoinInnerSql,
    "q_join_broadcast" ->
      """SELECT r_name, count(*) AS n_lines,
        |  CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT) *
        |           (100 - CAST(round(l_discount * 100, 0) AS BIGINT)))
        |    AS DOUBLE) / 10000.0 AS revenue
        |FROM lineitem
        |JOIN orders   ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation   ON c_nationkey = n_nationkey
        |JOIN region   ON n_regionkey = r_regionkey
        |GROUP BY r_name ORDER BY r_name NULLS FIRST""".stripMargin,
    "q_join_left" ->
      """SELECT c_custkey, count(o_orderkey) AS n_orders,
        |  coalesce(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 0.0) AS total_spent
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_custkey ORDER BY c_custkey NULLS FIRST""".stripMargin,
    "q_join_semi" ->
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |              WHERE o_custkey = c_custkey AND o_totalprice > 300000.0)
        |ORDER BY c_custkey NULLS FIRST""".stripMargin,
    "q_join_anti" ->
      """SELECT c_custkey, c_name, c_nationkey FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey AND o_totalprice > 300000.0)
        |ORDER BY c_custkey NULLS FIRST""".stripMargin,
    "q_join_range" ->
      """SELECT s_nationkey AS nationkey, count(*) AS n_pairs
        |FROM supplier JOIN customer
        |  ON s_nationkey = c_nationkey AND abs(s_acctbal - c_acctbal) < 100.0
        |GROUP BY 1 ORDER BY nationkey NULLS FIRST""".stripMargin,
    "q_join_asof" ->
      """SELECT event_id, user_id, ts, o_orderkey, o_orderdate FROM (
        |  SELECT e.event_id, e.user_id, e.ts, o.o_orderkey, o.o_orderdate,
        |    row_number() OVER (PARTITION BY e.event_id
        |                       ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) AS rn
        |  FROM events e JOIN orders o
        |    ON e.user_id = o.o_custkey AND o.o_orderdate <= e.ts) t
        |WHERE rn = 1 ORDER BY event_id NULLS FIRST""".stripMargin,
    "q_join_asof_banded" ->
      """SELECT event_id, user_id, ts, click_id, click_ts FROM (
        |  SELECT p.event_id, p.user_id, p.ts,
        |    c.event_id AS click_id, c.ts AS click_ts,
        |    row_number() OVER (PARTITION BY p.event_id
        |                       ORDER BY epoch_us(c.ts) DESC, c.event_id DESC) AS rn
        |  FROM events p JOIN events c
        |    ON p.user_id = c.user_id
        |   AND p.event_type = 'purchase' AND c.event_type = 'click'
        |   AND epoch_us(c.ts) <= epoch_us(p.ts)
        |   AND epoch_us(c.ts) > epoch_us(p.ts) - 3600000000) t
        |WHERE rn = 1 ORDER BY event_id NULLS FIRST""".stripMargin,
    "q_join_interval" ->
      """SELECT p.event_id AS purchase_id, p.user_id, p.ts AS p_ts,
        |  CAST(count(*) AS BIGINT) AS n_clicks,
        |  max(c.event_id) AS max_click_id,
        |  max(epoch_us(c.ts)) AS last_click_us
        |FROM events p JOIN events c
        |  ON p.user_id = c.user_id
        | AND p.event_type = 'purchase' AND c.event_type = 'click'
        | AND epoch_us(c.ts) <= epoch_us(p.ts)
        | AND epoch_us(c.ts) > epoch_us(p.ts) - 3600000000
        |GROUP BY 1, 2, 3
        |ORDER BY purchase_id NULLS FIRST""".stripMargin,
    "q_agg_hash" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(round(l_quantity * 100, 0) AS BIGINT)) AS DOUBLE) / 100.0
        |    AS sum_qty,
        |  CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS DOUBLE) / 100.0
        |    AS sum_base_price,
        |  CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT) *
        |           (100 - CAST(round(l_discount * 100, 0) AS BIGINT))) AS DOUBLE)
        |    / 10000.0 AS sum_disc_price,
        |  round(CAST(sum(CAST(round(l_quantity * 100, 0) AS BIGINT)) AS DOUBLE)
        |    / 100.0 / count(*), 6) + 0.0 AS avg_qty,
        |  count(*) AS count_order
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,
    "q_agg_distinct" ->
      """SELECT c_mktsegment, count(DISTINCT c_nationkey) AS n_nations,
        |  count(*) AS n_customers
        |FROM customer GROUP BY c_mktsegment
        |ORDER BY c_mktsegment NULLS FIRST""".stripMargin,
    "q_pivot" ->
      """SELECT user_id,
        |  count(*) FILTER (WHERE event_type = 'click')    AS click,
        |  count(*) FILTER (WHERE event_type = 'error')    AS error,
        |  count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
        |  count(*) FILTER (WHERE event_type = 'signup')   AS signup,
        |  count(*) FILTER (WHERE event_type = 'view')     AS view
        |FROM events GROUP BY user_id
        |ORDER BY user_id NULLS FIRST""".stripMargin,
    "q_unpivot" ->
      """WITH a AS (
        |  SELECT l_returnflag,
        |    CAST(sum(CAST(round(l_quantity * 100, 0) AS BIGINT)) AS DOUBLE) / 100.0
        |      AS sum_qty,
        |    CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS DOUBLE) / 100.0
        |      AS sum_base_price
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag, 'sum_qty' AS metric, sum_qty AS value FROM a
        |UNION ALL
        |SELECT l_returnflag, 'sum_base_price' AS metric, sum_base_price AS value FROM a
        |ORDER BY l_returnflag NULLS FIRST, metric NULLS FIRST""".stripMargin,
    "q_join_full" ->
      """WITH o AS (
        |  SELECT o_custkey AS id, count(*) AS n_orders,
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_spent
        |  FROM orders GROUP BY 1),
        |e AS (SELECT user_id AS id, count(*) AS n_events FROM events GROUP BY 1)
        |SELECT coalesce(o.id, e.id) AS id,
        |  coalesce(o.n_orders, 0) AS n_orders,
        |  coalesce(o.total_spent, 0.0) AS total_spent,
        |  coalesce(e.n_events, 0) AS n_events
        |FROM o FULL JOIN e ON o.id = e.id
        |ORDER BY id NULLS FIRST""".stripMargin,
    "q_agg_grouping_sets" ->
      """SELECT o_orderstatus, o_orderpriority,
        |  CAST(GROUPING(o_orderstatus, o_orderpriority) AS INT) AS gid,
        |  count(*) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
        |                        (o_orderstatus), ())
        |ORDER BY gid ASC, o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin,
    "q_fuzzy_match" ->
      """SELECT a.p_brand AS brand, count(*) AS n_close_pairs,
        |  min(levenshtein(a.p_name, b.p_name)) AS min_dist
        |FROM part a JOIN part b
        |  ON a.p_brand = b.p_brand AND a.p_type = b.p_type
        | AND a.p_partkey < b.p_partkey
        |WHERE abs(length(a.p_name) - length(b.p_name)) <= 2
        |  AND levenshtein(a.p_name, b.p_name) <= 2
        |GROUP BY 1 ORDER BY brand NULLS FIRST""".stripMargin,
    "q_agg_rollup" ->
      """SELECT r_name, n_name, CAST(GROUPING(r_name, n_name) AS INT) AS gid,
        |  count(*) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation   ON c_nationkey = n_nationkey
        |JOIN region   ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP(r_name, n_name)
        |ORDER BY gid ASC, r_name NULLS FIRST, n_name NULLS FIRST""".stripMargin,
    "q_agg_cube" ->
      """SELECT o_orderstatus, o_orderpriority,
        |  CAST(GROUPING(o_orderstatus, o_orderpriority) AS INT) AS gid,
        |  count(*) AS n_orders
        |FROM orders
        |GROUP BY CUBE(o_orderstatus, o_orderpriority)
        |ORDER BY gid ASC, o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin,
    "q_topk" ->
      """SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 20""".stripMargin,
    "q_set_union" ->
      """SELECT nationkey, CAST(count(*) AS INT) AS n_sources FROM (
        |  SELECT DISTINCT CAST(c_nationkey AS INT) AS nationkey FROM customer
        |  UNION ALL
        |  SELECT DISTINCT CAST(s_nationkey AS INT) AS nationkey FROM supplier) t
        |GROUP BY nationkey ORDER BY nationkey NULLS FIRST""".stripMargin,
    "q_set_intersect" ->
      """SELECT CAST(c_nationkey AS INT) AS nationkey FROM customer
        |INTERSECT
        |SELECT CAST(s_nationkey AS INT) AS nationkey FROM supplier
        |ORDER BY nationkey NULLS FIRST""".stripMargin,
    "q_set_except" ->
      """SELECT o_custkey AS custkey FROM orders
        |EXCEPT
        |SELECT user_id AS custkey FROM events
        |ORDER BY custkey NULLS FIRST""".stripMargin,
    "q_window_rank" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, rn, rnk, drnk FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    row_number() OVER w AS rn, rank() OVER w AS rnk,
        |    dense_rank() OVER w AS drnk
        |  FROM orders
        |  WINDOW w AS (PARTITION BY o_custkey
        |               ORDER BY o_totalprice DESC, o_orderkey ASC)) t
        |WHERE rn <= 3 ORDER BY o_custkey NULLS FIRST, rn ASC""".stripMargin,
    "q_window_analytic" ->
      """SELECT user_id, event_id, ts, value,
        |  lag(value) OVER w AS prev_value,
        |  lead(value) OVER w AS next_value,
        |  value - lag(value) OVER w AS delta
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
        |ORDER BY user_id NULLS FIRST, ts ASC, event_id ASC""".stripMargin,
    "q_window_frame" ->
      """SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
        |    PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
        |    AS running_revenue
        |FROM orders
        |ORDER BY o_custkey NULLS FIRST, o_orderdate ASC, o_orderkey ASC""".stripMargin,
    "q_window_dist" ->
      """SELECT c_mktsegment, c_custkey, c_acctbal,
        |  ntile(4) OVER w AS quartile,
        |  round(percent_rank() OVER w, 6) + 0.0 AS pct_rank,
        |  round(cume_dist() OVER w, 6) + 0.0 AS cume
        |FROM customer
        |WINDOW w AS (PARTITION BY c_mktsegment
        |             ORDER BY c_acctbal ASC, c_custkey ASC)
        |ORDER BY c_mktsegment NULLS FIRST, c_acctbal ASC, c_custkey ASC""".stripMargin,
    "q_agg_argmax" ->
      """WITH j AS (
        |  SELECT n_name, c_name, c_acctbal, c_custkey
        |  FROM customer JOIN nation ON c_nationkey = n_nationkey),
        |r AS (
        |  SELECT n_name, c_name, c_acctbal,
        |    row_number() OVER (PARTITION BY n_name
        |      ORDER BY c_acctbal DESC, c_custkey DESC) AS rmax,
        |    row_number() OVER (PARTITION BY n_name
        |      ORDER BY c_acctbal ASC, c_custkey ASC) AS rmin
        |  FROM j)
        |SELECT n_name,
        |  max(CASE WHEN rmax = 1 THEN c_name END) AS richest_customer,
        |  max(c_acctbal) AS max_acctbal,
        |  max(CASE WHEN rmin = 1 THEN c_name END) AS poorest_customer,
        |  min(c_acctbal) AS min_acctbal
        |FROM r GROUP BY n_name ORDER BY n_name NULLS FIRST""".stripMargin,
    "q_sample_stratified" ->
      """WITH s AS (
        |  SELECT lang, doc_id,
        |    CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS BIGINT)
        |      % 100 <
        |      (CASE WHEN lang = 'en' THEN 10
        |            WHEN lang = 'zh' THEN 80 ELSE 30 END) AS sampled
        |  FROM documents)
        |SELECT lang, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN sampled THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled,
        |  min(CASE WHEN sampled THEN doc_id END) AS min_sampled_doc
        |FROM s GROUP BY lang ORDER BY lang NULLS FIRST""".stripMargin,
    "q_split_train" ->
      """SELECT lang,
        |  CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END
        |    AS split,
        |  count(*) AS n_docs,
        |  min(doc_id) AS min_doc_id, max(doc_id) AS max_doc_id
        |FROM (
        |  SELECT lang, doc_id,
        |    CAST('0x' || substring(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 4)
        |      AS BIGINT) % 100 AS b
        |  FROM documents)
        |GROUP BY 1, 2 ORDER BY lang NULLS FIRST, split NULLS FIRST""".stripMargin,
    "q_profile" ->
      """WITH a AS (
        |  SELECT count(*) AS n,
        |    count(o_orderkey) AS p0, count(DISTINCT o_orderkey) AS d0,
        |    count(o_custkey) AS p1, count(DISTINCT o_custkey) AS d1,
        |    count(o_orderstatus) AS p2, count(DISTINCT o_orderstatus) AS d2,
        |    count(o_totalprice) AS p3, count(DISTINCT o_totalprice) AS d3,
        |    count(o_orderdate) AS p4, count(DISTINCT o_orderdate) AS d4,
        |    count(o_orderpriority) AS p5, count(DISTINCT o_orderpriority) AS d5
        |  FROM orders),
        |l AS (
        |  SELECT 'o_orderkey' AS column_name, p0 AS np, d0 AS nd FROM a
        |  UNION ALL SELECT 'o_custkey', p1, d1 FROM a
        |  UNION ALL SELECT 'o_orderstatus', p2, d2 FROM a
        |  UNION ALL SELECT 'o_totalprice', p3, d3 FROM a
        |  UNION ALL SELECT 'o_orderdate', p4, d4 FROM a
        |  UNION ALL SELECT 'o_orderpriority', p5, d5 FROM a)
        |SELECT column_name, CAST(a.n - np AS BIGINT) AS n_nulls,
        |  CAST(nd AS BIGINT) AS n_distinct,
        |  round(CAST(np AS DOUBLE) / a.n, 6) + 0.0 AS completeness
        |FROM l, a ORDER BY column_name NULLS FIRST""".stripMargin,
    "q_kanon" ->
      """WITH grid AS (
        |  SELECT c_mktsegment, c_nationkey,
        |    CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS bal_bucket,
        |    count(*) AS n
        |  FROM customer GROUP BY 1, 2, 3)
        |SELECT c_mktsegment,
        |  count(*) AS n_cells,
        |  CAST(sum(CASE WHEN n < 5 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_risky_cells,
        |  CAST(sum(CASE WHEN n < 5 THEN n ELSE 0 END) AS BIGINT)
        |    AS n_exposed,
        |  CAST(sum(n) AS BIGINT) AS n_customers,
        |  round(CAST(sum(CASE WHEN n < 5 THEN n ELSE 0 END) AS DOUBLE) /
        |    sum(n), 6) + 0.0 AS exposure_rate
        |FROM grid GROUP BY c_mktsegment
        |ORDER BY c_mktsegment NULLS FIRST""".stripMargin,
    "q_ldiversity" ->
      """WITH cells AS (
        |  SELECT c.c_mktsegment, c.c_nationkey,
        |    CAST(floor(c.c_acctbal / 1000.0) AS BIGINT) AS bal_bucket,
        |    CAST(count(DISTINCT o.o_orderpriority) AS BIGINT) AS l,
        |    CAST(count(DISTINCT c.c_custkey) AS BIGINT) AS n_cust
        |  FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
        |  GROUP BY 1, 2, 3)
        |SELECT c_mktsegment,
        |  count(*) AS n_cells,
        |  CAST(sum(CASE WHEN l < 3 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_low_div_cells,
        |  CAST(sum(CASE WHEN l < 3 THEN n_cust ELSE 0 END) AS BIGINT)
        |    AS n_exposed,
        |  CAST(sum(n_cust) AS BIGINT) AS n_customers,
        |  min(l) AS min_l,
        |  round(CAST(sum(CASE WHEN l < 3 THEN n_cust ELSE 0 END) AS DOUBLE) /
        |    sum(n_cust), 6) + 0.0 AS exposure_rate
        |FROM cells GROUP BY c_mktsegment
        |ORDER BY c_mktsegment NULLS FIRST""".stripMargin,
    "q_decayed_sum" ->
      """WITH ev AS (
        |  SELECT user_id, CAST(ts AS DATE) AS day,
        |    CAST(round(value * 100, 0) AS BIGINT) AS cents
        |  FROM events WHERE event_type = 'purchase'),
        |a AS (SELECT max(day) AS anchor FROM ev),
        |t AS (
        |  SELECT user_id,
        |    CAST(round(CAST(cents AS DOUBLE) * 1000000.0 /
        |      CAST(CAST(1 AS BIGINT) <<
        |        least(CAST(floor(date_diff('day', day, anchor) / 7) AS INT),
        |          62)
        |        AS DOUBLE), 0) AS BIGINT) AS term_micro
        |  FROM ev, a)
        |SELECT user_id, count(*) AS n_purchases,
        |  CAST(sum(term_micro) AS BIGINT) AS decayed_micro_cents,
        |  round(CAST(sum(term_micro) AS DOUBLE) / 100000000.0, 6) + 0.0
        |    AS decayed_dollars
        |FROM t GROUP BY user_id
        |ORDER BY user_id NULLS FIRST""".stripMargin,
    "q_quality_gate" ->
      """WITH f AS (
        |  SELECT doc_id,
        |    len(toks) AS n_tok,
        |    len(list_distinct(toks)) AS n_distinct,
        |    len(list_filter(toks, t -> t = 'the' OR t = 'a')) AS n_stop,
        |    min(doc_id) OVER (PARTITION BY text) AS min_doc
        |  FROM (SELECT doc_id, text,
        |          list_filter(string_split_regex(lower(text), '[^a-z]+'),
        |                      x -> x <> '') AS toks
        |        FROM documents) t),
        |s AS (
        |  SELECT count(*) AS s0,
        |    CAST(sum(CASE WHEN n_tok >= 10 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS s1,
        |    CAST(sum(CASE WHEN n_tok >= 10 AND n_stop * 2 <= n_tok
        |      THEN 1 ELSE 0 END) AS BIGINT) AS s2,
        |    CAST(sum(CASE WHEN n_tok >= 10 AND n_stop * 2 <= n_tok
        |      AND n_distinct * 10 >= n_tok * 3 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS s3,
        |    CAST(sum(CASE WHEN n_tok >= 10 AND n_stop * 2 <= n_tok
        |      AND n_distinct * 10 >= n_tok * 3 AND min_doc = doc_id
        |      THEN 1 ELSE 0 END) AS BIGINT) AS s4
        |  FROM f)
        |SELECT * FROM (
        |  SELECT 0 AS stage_id, 'all_docs' AS stage, s0 AS n_pass,
        |    CAST(NULL AS BIGINT) AS dropped,
        |    round(CAST(s0 AS DOUBLE) / s0, 6) + 0.0 AS pass_rate FROM s
        |  UNION ALL SELECT 1, 'min_length', s1, s0 - s1,
        |    round(CAST(s1 AS DOUBLE) / s0, 6) + 0.0 FROM s
        |  UNION ALL SELECT 2, 'stopword_ratio', s2, s1 - s2,
        |    round(CAST(s2 AS DOUBLE) / s0, 6) + 0.0 FROM s
        |  UNION ALL SELECT 3, 'lexical_diversity', s3, s2 - s3,
        |    round(CAST(s3 AS DOUBLE) / s0, 6) + 0.0 FROM s
        |  UNION ALL SELECT 4, 'canonical_dedup', s4, s3 - s4,
        |    round(CAST(s4 AS DOUBLE) / s0, 6) + 0.0 FROM s) u
        |ORDER BY stage_id NULLS FIRST""".stripMargin,
    "q_dq_report" ->
      """WITH a AS (
        |  SELECT count(*) AS n,
        |    count(DISTINCT o_orderkey) AS uk,
        |    count(o_custkey) AS cc,
        |    sum(CASE WHEN o_totalprice > 0 THEN 1 ELSE 0 END) AS pp,
        |    sum(CASE WHEN o_orderstatus IN ('O','F','P') THEN 1 ELSE 0 END) AS sd,
        |    sum(CASE WHEN regexp_matches(o_orderpriority, '^[1-5]-')
        |        THEN 1 ELSE 0 END) AS pf
        |  FROM orders),
        |l AS (
        |  SELECT 'orderkey_unique' AS check_name, uk AS satisfied, n AS total FROM a
        |  UNION ALL SELECT 'custkey_complete', cc, n FROM a
        |  UNION ALL SELECT 'totalprice_positive', pp, n FROM a
        |  UNION ALL SELECT 'status_domain', sd, n FROM a
        |  UNION ALL SELECT 'priority_format', pf, n FROM a)
        |SELECT check_name, CAST(satisfied AS BIGINT) AS satisfied,
        |  CAST(total AS BIGINT) AS total,
        |  round(satisfied * 1.0 / total, 6) + 0.0 AS ratio,
        |  satisfied = total AS passed
        |FROM l ORDER BY check_name NULLS FIRST""".stripMargin,
    "q_repetition" ->
      """WITH tok AS (
        |  SELECT doc_id, lang,
        |    unnest(list_filter(string_split_regex(lower(text), '[^a-z]+'),
        |                       x -> x <> '')) AS t,
        |    generate_subscripts(
        |      list_filter(string_split_regex(lower(text), '[^a-z]+'),
        |                  x -> x <> ''), 1) AS pos
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, lang, t,
        |    lead(t, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS t2,
        |    lead(t, 2) OVER (PARTITION BY doc_id ORDER BY pos) AS t3
        |  FROM tok),
        |bi AS (
        |  SELECT doc_id, lang, max(cnt) AS max_bi, sum(cnt) AS n_bi FROM (
        |    SELECT doc_id, lang, t || ' ' || t2 AS gg, count(*) AS cnt
        |    FROM g WHERE t2 IS NOT NULL GROUP BY doc_id, lang, gg) bc
        |  GROUP BY doc_id, lang),
        |tri AS (
        |  SELECT doc_id,
        |    sum(CASE WHEN cnt > 1 THEN cnt ELSE 0 END) AS dup_tri,
        |    sum(cnt) AS n_tri FROM (
        |    SELECT doc_id, t || ' ' || t2 || ' ' || t3 AS gg, count(*) AS cnt
        |    FROM g WHERE t3 IS NOT NULL GROUP BY doc_id, gg) tc
        |  GROUP BY doc_id)
        |SELECT lang, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN max_bi * 5 > n_bi THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_top_bigram_heavy,
        |  CAST(sum(CASE WHEN dup_tri * 2 > n_tri THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_dup_trigram_heavy,
        |  round(max(CAST(max_bi AS DOUBLE) / n_bi), 6) + 0.0
        |    AS max_top_bigram_frac
        |FROM bi JOIN tri USING (doc_id)
        |GROUP BY lang ORDER BY lang NULLS FIRST""".stripMargin,
    "q_resample" ->
      """WITH ev AS (
        |  SELECT CAST(ts AS DATE) AS day, event_type, value FROM events),
        |b AS (SELECT min(day) AS d0, max(day) AS d1 FROM ev),
        |days AS (
        |  SELECT CAST(unnest(generate_series(CAST(d0 AS TIMESTAMP),
        |    CAST(d1 AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS day FROM b),
        |daily AS (
        |  SELECT day, event_type, count(*) AS n_events,
        |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
        |  FROM ev GROUP BY day, event_type)
        |SELECT day, event_type,
        |  coalesce(n_events, 0) AS n_events,
        |  CAST(coalesce(cents, 0) AS DOUBLE) / 100.0 AS total_value
        |FROM days
        |CROSS JOIN (SELECT DISTINCT event_type FROM ev) t
        |LEFT JOIN daily USING (day, event_type)
        |ORDER BY day NULLS FIRST, event_type NULLS FIRST""".stripMargin,
    "q_scalar_string" ->
      """SELECT p_partkey,
        |  upper(p_name) AS name_upper,
        |  lower(p_brand) AS brand_lower,
        |  substring(p_type, 1, 3) AS type_prefix,
        |  length(p_name) AS name_len,
        |  replace(p_name, ' ', '_') AS name_underscored,
        |  concat(p_brand, ':', p_type) AS brand_type,
        |  trim(p_name) AS name_trim,
        |  regexp_extract(p_name, '([a-z]+)$', 1) AS last_word
        |FROM part ORDER BY p_partkey NULLS FIRST LIMIT 1000""".stripMargin,
    "q_scalar_date" ->
      """SELECT o_orderkey,
        |  year(o_orderdate) AS yr,
        |  month(o_orderdate) AS mo,
        |  day(o_orderdate) AS dom,
        |  date_trunc('month', o_orderdate) AS month_start,
        |  date_diff('day', CAST(o_orderdate AS DATE), DATE '2000-01-01') AS days_to_ref
        |FROM orders ORDER BY o_orderkey NULLS FIRST LIMIT 1000""".stripMargin,
    "q_scalar_math" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_discount,
        |  round(sqrt(l_quantity), 6) + 0.0 AS qty_sqrt,
        |  round(ln(l_extendedprice), 6) + 0.0 AS price_ln,
        |  round(pow(l_discount, 2), 6) + 0.0 AS disc_sq,
        |  CAST(ceil(l_extendedprice) AS BIGINT) AS price_ceil,
        |  CAST(floor(l_extendedprice) AS BIGINT) AS price_floor,
        |  abs(l_quantity - 25.0) AS qty_dev,
        |  l_orderkey % 7 AS okey_mod7
        |FROM lineitem
        |ORDER BY l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_discount
        |LIMIT 1000""".stripMargin,
    "q_scalar_case" ->
      """SELECT CASE WHEN o_totalprice < 100000.0 THEN 'low'
        |            WHEN o_totalprice < 300000.0 THEN 'mid'
        |            ELSE 'high' END AS band,
        |  count(*) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders GROUP BY band ORDER BY band NULLS FIRST""".stripMargin,
    "q_scalar_json" ->
      """SELECT event_type, count(*) AS n_events,
        |  CAST(sum(k) AS BIGINT) AS sum_k, min(k) AS min_k, max(k) AS max_k,
        |  round(CAST(sum(k) AS DOUBLE) / count(k), 6) + 0.0 AS avg_k
        |FROM (SELECT event_type,
        |        CAST(json_extract_string(props, '$.k') AS INT) AS k
        |      FROM events) t
        |GROUP BY event_type ORDER BY event_type NULLS FIRST""".stripMargin,
    "q_scalar_array" ->
      """SELECT vec_id,
        |  CAST(len(embedding) AS INT) AS dim,
        |  round(CAST(embedding[1] AS DOUBLE), 6) + 0.0 AS first_val,
        |  round(sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]),
        |        x -> x * x))), 6) + 0.0 AS l2_norm
        |FROM embeddings ORDER BY vec_id NULLS FIRST""".stripMargin,
    "q_stream_tumbling" ->
      """SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start, event_type,
        |  count(*) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY window_start, event_type
        |ORDER BY window_start NULLS FIRST, event_type NULLS FIRST""".stripMargin,
    "q_stream_sliding" ->
      """SELECT window_start, count(*) AS n_events FROM (
        |  SELECT time_bucket(INTERVAL '30 minutes', ts) AS window_start FROM events
        |  UNION ALL
        |  SELECT time_bucket(INTERVAL '30 minutes', ts) - INTERVAL '30 minutes'
        |    AS window_start FROM events) t
        |GROUP BY window_start ORDER BY window_start NULLS FIRST""".stripMargin,
    "q_session_window" ->
      """WITH flagged AS (
        |  SELECT user_id, ts, event_id,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
        |         THEN 1 ELSE 0 END AS new_session
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
        |), sess AS (
        |  SELECT user_id, ts,
        |    sum(new_session) OVER (PARTITION BY user_id
        |      ORDER BY ts ASC, event_id ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        |  FROM flagged)
        |SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
        |  count(*) AS n_events,
        |  min(ts) AS session_start, max(ts) AS session_end,
        |  epoch_us(max(ts)) - epoch_us(min(ts)) AS duration_us
        |FROM sess GROUP BY user_id, session_id
        |ORDER BY user_id NULLS FIRST, session_id NULLS FIRST""".stripMargin,
    "q_dedup_latest" ->
      """SELECT user_id, event_type, event_id, ts, value FROM (
        |  SELECT user_id, event_type, event_id, ts, value,
        |    row_number() OVER (PARTITION BY user_id, event_type
        |                       ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events) t
        |WHERE rn = 1
        |ORDER BY user_id NULLS FIRST, event_type NULLS FIRST""".stripMargin,
    "q_scd2" ->
      """WITH flagged AS (
        |  SELECT user_id, event_id, ts, event_type,
        |    CASE WHEN lag(event_type) OVER w IS NULL
        |           OR lag(event_type) OVER w <> event_type
        |         THEN 1 ELSE 0 END AS chg
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
        |), runs AS (
        |  SELECT user_id, ts, event_type,
        |    sum(chg) OVER (PARTITION BY user_id
        |      ORDER BY ts ASC, event_id ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS version
        |  FROM flagged
        |), agg AS (
        |  SELECT user_id, CAST(version AS BIGINT) AS version,
        |    min(event_type) AS event_type, min(ts) AS valid_from,
        |    count(*) AS n_events
        |  FROM runs GROUP BY user_id, version)
        |SELECT user_id, version, event_type, valid_from,
        |  lead(valid_from) OVER (PARTITION BY user_id ORDER BY version ASC)
        |    AS valid_to,
        |  n_events
        |FROM agg
        |ORDER BY user_id NULLS FIRST, version NULLS FIRST""".stripMargin,
    "q_time_weighted" ->
      """WITH seq AS (
        |  SELECT user_id, value, epoch_us(ts) AS us,
        |    lead(epoch_us(ts)) OVER (PARTITION BY user_id
        |      ORDER BY ts ASC, event_id ASC) AS next_us
        |  FROM events
        |), agg AS (
        |  SELECT user_id, count(*) AS n_events,
        |    max(us) - min(us) AS duration_us,
        |    sum(CASE WHEN next_us IS NOT NULL THEN
        |          CAST(CAST(round(value * 100, 0) AS BIGINT) AS DECIMAL(38,0))
        |            * (next_us - us)
        |        ELSE CAST(0 AS DECIMAL(38,0)) END) AS wsum
        |  FROM seq GROUP BY user_id)
        |SELECT user_id, n_events, duration_us,
        |  round(CAST(wsum AS DOUBLE) / (100.0 * duration_us), 6) + 0.0 AS twa
        |FROM agg WHERE duration_us > 0
        |ORDER BY user_id NULLS FIRST""".stripMargin,
    "q_shipping_priority" ->
      """SELECT l_orderkey,
        |  CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT) *
        |           CAST(round((1 - l_discount) * 100, 0) AS BIGINT)) AS DOUBLE)
        |    / 10000.0 AS revenue,
        |  o_orderdate, o_orderpriority
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-01-01'
        |  AND l_shipdate > TIMESTAMP '1998-01-01'
        |GROUP BY l_orderkey, o_orderdate, o_orderpriority
        |ORDER BY revenue DESC, o_orderdate NULLS FIRST, l_orderkey NULLS FIRST
        |LIMIT 10""".stripMargin,
    "q_regional_volume" ->
      """SELECT n_name,
        |  CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT) *
        |           CAST(round((1 - l_discount) * 100, 0) AS BIGINT)) AS DOUBLE)
        |    / 10000.0 AS revenue
        |FROM region
        |JOIN nation ON n_regionkey = r_regionkey
        |JOIN customer ON c_nationkey = n_nationkey
        |JOIN orders ON o_custkey = c_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |JOIN supplier ON s_suppkey = l_suppkey AND s_nationkey = c_nationkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1997-01-01'
        |  AND o_orderdate < TIMESTAMP '1998-01-01'
        |GROUP BY n_name
        |ORDER BY revenue DESC, n_name NULLS FIRST""".stripMargin,
    "q_ab_assign" ->
      """WITH per_user AS (
        |  SELECT CASE WHEN CAST('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 4)
        |                    AS BIGINT) % 2 = 0
        |         THEN 'control' ELSE 'treatment' END AS variant,
        |    user_id,
        |    sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS purchases,
        |    sum(CASE WHEN event_type = 'purchase'
        |        THEN CAST(round(value * 100, 0) AS BIGINT) ELSE 0 END) AS rev_cents
        |  FROM events GROUP BY variant, user_id)
        |SELECT variant, count(*) AS n_users,
        |  CAST(sum(CASE WHEN purchases > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_purchasers,
        |  CAST(sum(purchases) AS BIGINT) AS n_purchases,
        |  CAST(sum(rev_cents) AS DOUBLE) / 100.0 AS revenue,
        |  round(CAST(sum(CASE WHEN purchases > 0 THEN 1 ELSE 0 END) AS DOUBLE)
        |        / count(*), 6) AS conversion
        |FROM per_user GROUP BY variant ORDER BY variant NULLS FIRST""".stripMargin,
    "q_snapshot_diff" ->
      """SELECT doc_id, status FROM (
        |  SELECT COALESCE(a.doc_id, b.doc_id) AS doc_id,
        |    CASE WHEN a.a_hash IS NULL THEN 'added'
        |         WHEN b.b_hash IS NULL THEN 'removed'
        |         WHEN a.a_hash <> b.b_hash THEN 'changed' END AS status
        |  FROM (SELECT doc_id, md5(text) AS a_hash FROM documents
        |        WHERE doc_id % 7 <> 0) a
        |  FULL OUTER JOIN
        |       (SELECT doc_id, md5(CASE WHEN doc_id % 11 = 0
        |                                THEN text || ' v2' ELSE text END) AS b_hash
        |        FROM documents WHERE doc_id % 5 <> 0) b
        |  ON a.doc_id = b.doc_id) t
        |WHERE status IS NOT NULL
        |ORDER BY doc_id NULLS FIRST""".stripMargin,
    // Oracle derives the funnel the opposite way from the Spark plan
    // (chained join-aggregates vs one running-min window pass) — the two
    // formulations are provably equivalent and check each other.
    "q_funnel" ->
      """WITH base AS (SELECT DISTINCT user_id FROM events),
        |v AS (SELECT user_id, min(ts) AS t_view FROM events
        |      WHERE event_type = 'view' GROUP BY user_id),
        |c AS (SELECT e.user_id, min(e.ts) AS t_click
        |      FROM events e JOIN v ON e.user_id = v.user_id
        |      WHERE e.event_type = 'click' AND e.ts > v.t_view
        |      GROUP BY e.user_id),
        |p AS (SELECT e.user_id, min(e.ts) AS t_purchase
        |      FROM events e JOIN c ON e.user_id = c.user_id
        |      WHERE e.event_type = 'purchase' AND e.ts > c.t_click
        |      GROUP BY e.user_id)
        |SELECT b.user_id, v.t_view, c.t_click, p.t_purchase,
        |  CASE WHEN p.t_purchase IS NOT NULL THEN 3
        |       WHEN c.t_click IS NOT NULL THEN 2
        |       WHEN v.t_view IS NOT NULL THEN 1 ELSE 0 END AS depth
        |FROM base b
        |LEFT JOIN v ON b.user_id = v.user_id
        |LEFT JOIN c ON b.user_id = c.user_id
        |LEFT JOIN p ON b.user_id = p.user_id
        |ORDER BY b.user_id NULLS FIRST""".stripMargin,
    "q_transitions" ->
      """WITH o AS (
        |  SELECT user_id, event_type,
        |    lead(event_type, 1) OVER (PARTITION BY user_id
        |      ORDER BY ts ASC, event_id ASC) AS next_type
        |  FROM events),
        |t AS (
        |  SELECT event_type AS from_type, next_type AS to_type,
        |    count(*) AS n
        |  FROM o WHERE next_type IS NOT NULL GROUP BY 1, 2)
        |SELECT from_type, to_type, n,
        |  round(CAST(n AS DOUBLE) /
        |    sum(n) OVER (PARTITION BY from_type), 6) + 0.0 AS p
        |FROM t
        |ORDER BY from_type NULLS FIRST, to_type NULLS FIRST""".stripMargin,
    "q_rolling_active" ->
      """WITH du AS (
        |  SELECT DISTINCT event_type, CAST(ts AS DATE) AS day, user_id
        |  FROM events),
        |days AS (SELECT DISTINCT day AS target_day FROM du),
        |fan AS (
        |  SELECT event_type, user_id,
        |    day + CAST(unnest(range(0, 7)) AS INT) AS target_day
        |  FROM du)
        |SELECT target_day AS day, event_type,
        |  count(DISTINCT user_id) AS wau
        |FROM fan JOIN days USING (target_day)
        |GROUP BY 1, 2
        |ORDER BY day NULLS FIRST, event_type NULLS FIRST""".stripMargin,
    "q_retention" ->
      """WITH cohorts AS (
        |  SELECT user_id, CAST(min(ts) AS DATE) AS cohort_day
        |  FROM events GROUP BY user_id),
        |act AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events)
        |SELECT c.cohort_day,
        |  date_diff('day', c.cohort_day, a.day) AS day_offset,
        |  count(DISTINCT a.user_id) AS n_active
        |FROM act a JOIN cohorts c ON a.user_id = c.user_id
        |GROUP BY c.cohort_day, day_offset
        |ORDER BY cohort_day NULLS FIRST, day_offset NULLS FIRST""".stripMargin,
    "q_churn" ->
      """WITH uw AS (
        |  SELECT DISTINCT user_id,
        |    CAST(date_trunc('week', ts) AS DATE) AS week
        |  FROM events),
        |ch AS (
        |  SELECT a.week, count(*) AS n_active,
        |    CAST(sum(CASE WHEN b.user_id IS NULL THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_churned
        |  FROM uw a LEFT JOIN uw b
        |    ON a.user_id = b.user_id AND b.week = a.week + 7
        |  GROUP BY a.week),
        |t AS (SELECT ch.*, max(week) OVER () AS maxw FROM ch)
        |SELECT week, n_active, n_churned,
        |  round(CAST(n_churned AS DOUBLE) / n_active, 6) + 0.0 AS churn_rate
        |FROM t WHERE week < maxw
        |ORDER BY week NULLS FIRST""".stripMargin,
    "q_collocations" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |    unnest(list_filter(string_split_regex(lower(text), '[^a-z]+'),
        |                       x -> x <> '')) AS w,
        |    generate_subscripts(
        |      list_filter(string_split_regex(lower(text), '[^a-z]+'),
        |                  x -> x <> ''), 1) AS pos
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, w,
        |    lead(w, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
        |  FROM tok),
        |bi AS (
        |  SELECT w AS w1, w2, count(*) AS n_ab
        |  FROM g WHERE w2 IS NOT NULL GROUP BY 1, 2),
        |uni AS (SELECT w AS u, count(*) AS n_u FROM tok GROUP BY 1),
        |tot AS (SELECT CAST(sum(n_u) AS BIGINT) AS n_tokens FROM uni),
        |top AS (
        |  SELECT w1, w2, n_ab FROM bi WHERE n_ab >= 5
        |  ORDER BY n_ab DESC, w1 ASC, w2 ASC LIMIT 50)
        |SELECT t.w1, t.w2, t.n_ab, a.n_u AS n_a, b.n_u AS n_b,
        |  CAST(round(ln(CAST(t.n_ab AS DOUBLE) * n_tokens /
        |    (CAST(a.n_u AS DOUBLE) * b.n_u)) * 1000000, 0) AS BIGINT)
        |    AS pmi_micro
        |FROM top t JOIN uni a ON t.w1 = a.u JOIN uni b ON t.w2 = b.u, tot
        |ORDER BY t.n_ab DESC, t.w1 NULLS FIRST, t.w2 NULLS FIRST""".stripMargin,
    "q_cohort_ltv" ->
      """WITH c AS (
        |  SELECT user_id, CAST(date_trunc('week', min(ts)) AS DATE) AS cw
        |  FROM events GROUP BY user_id),
        |p AS (
        |  SELECT user_id, CAST(date_trunc('week', ts) AS DATE) AS w,
        |    CAST(round(value * 100, 0) AS BIGINT) AS cents
        |  FROM events WHERE event_type = 'purchase')
        |SELECT c.cw AS cohort_week,
        |  CAST(date_diff('day', c.cw, p.w) / 7 AS INT) AS age_weeks,
        |  count(DISTINCT p.user_id) AS n_buyers,
        |  round(CAST(sum(p.cents) AS DOUBLE) / 100.0, 6) + 0.0 AS revenue
        |FROM p JOIN c ON p.user_id = c.user_id
        |GROUP BY 1, 2
        |ORDER BY cohort_week NULLS FIRST, age_weeks NULLS FIRST""".stripMargin,
    // Oracle uses the textbook distinct self-join; the Spark plan groups
    // per order and explodes sorted pairs (same result, half the scans).
    "q_cooccur" ->
      """WITH pairs AS (
        |  SELECT a.l_partkey AS p1, b.l_partkey AS p2
        |  FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) a
        |  JOIN (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey)
        |SELECT p1, p2, count(*) AS n_orders
        |FROM pairs GROUP BY p1, p2
        |ORDER BY n_orders DESC, p1 NULLS FIRST, p2 NULLS FIRST
        |LIMIT 25""".stripMargin,
    "q_shuffle_export" ->
      """WITH keyed AS (
        |  SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS sort_key,
        |    CAST(CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 2)
        |         AS BIGINT) % 8 AS INTEGER) AS shard
        |  FROM documents)
        |SELECT shard,
        |  row_number() OVER (PARTITION BY shard
        |                     ORDER BY sort_key ASC, doc_id ASC) AS pos,
        |  doc_id, sort_key
        |FROM keyed
        |ORDER BY shard NULLS FIRST, pos NULLS FIRST""".stripMargin,
    "q_decontaminate" -> DecontaminateSql,
    // The Bloom variant must be row-identical to the exact form (no
    // false negatives + exact confirm join) — same oracle by design.
    "q_decontaminate_bloom" -> DecontaminateSql,
    // Same band construction as q_dedup_minhash's signature (salted-md5
    // lexicographic min), over the SAME trigram shingles as
    // DecontaminateSql. Band ids are join-internal so 1..4 here vs 0..3
    // in the plan is immaterial; docs under 3 tokens have no shingles,
    // hence no bands, hence are always kept — both engines agree.
    "q_decontaminate_fuzzy" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |    unnest(list_filter(string_split_regex(lower(text), '[^a-z]+'),
        |                       x -> x <> '')) AS t,
        |    generate_subscripts(
        |      list_filter(string_split_regex(lower(text), '[^a-z]+'),
        |                  x -> x <> ''), 1) - 1 AS pos
        |  FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id, sh FROM (
        |    SELECT doc_id,
        |      t || ' ' || lead(t, 1) OVER w || ' ' || lead(t, 2) OVER w AS sh
        |    FROM tok WINDOW w AS (PARTITION BY doc_id ORDER BY pos)) s
        |  WHERE sh IS NOT NULL),
        |bands AS (
        |  SELECT doc_id, 1 AS band, min(md5('s1:' || sh)) AS h
        |  FROM sh GROUP BY doc_id
        |  UNION ALL SELECT doc_id, 2, min(md5('s2:' || sh)) FROM sh GROUP BY doc_id
        |  UNION ALL SELECT doc_id, 3, min(md5('s3:' || sh)) FROM sh GROUP BY doc_id
        |  UNION ALL SELECT doc_id, 4, min(md5('s4:' || sh)) FROM sh GROUP BY doc_id),
        |probe AS (
        |  SELECT DISTINCT band, h FROM bands WHERE doc_id % 97 = 0),
        |matched AS (
        |  SELECT b.doc_id FROM bands b
        |  JOIN probe p ON b.band = p.band AND b.h = p.h
        |  WHERE b.doc_id % 97 <> 0
        |  GROUP BY b.doc_id
        |  HAVING count(*) >= 1)
        |SELECT d.lang,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(CASE WHEN m.doc_id IS NOT NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_dropped,
        |  CAST(sum(CASE WHEN m.doc_id IS NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_clean
        |FROM documents d LEFT JOIN matched m ON d.doc_id = m.doc_id
        |WHERE d.doc_id % 97 <> 0
        |GROUP BY d.lang
        |ORDER BY d.lang NULLS FIRST""".stripMargin,
    // Plain-join SQL: the Bloom prune only removes rows the join would
    // drop anyway (no false negatives), so the result is identical.
    "q_join_bloom" ->
      """SELECT p_brand, count(*) AS n_lines,
        |  CAST(sum(CAST(round(l_quantity * 100, 0) AS BIGINT)) AS DOUBLE)
        |    / 100.0 AS total_qty
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE p_size <= 5
        |GROUP BY p_brand ORDER BY p_brand NULLS FIRST""".stripMargin,
    "q_pack" ->
      """WITH d AS (
        |  SELECT source, doc_id % 8 AS shard, doc_id,
        |    len(list_filter(string_split_regex(lower(text), '[^a-z]+'),
        |                    x -> x <> '')) AS n_tokens
        |  FROM documents),
        |c AS (
        |  SELECT *, coalesce(sum(n_tokens) OVER (
        |    PARTITION BY source, shard ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
        |  FROM d)
        |SELECT source, shard,
        |  CAST(floor(cum_before / 512) AS BIGINT) AS pack_id,
        |  count(*) AS n_docs,
        |  CAST(sum(n_tokens) AS BIGINT) AS pack_tokens,
        |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
        |FROM c GROUP BY source, shard, pack_id
        |ORDER BY source NULLS FIRST, shard, pack_id""".stripMargin,
    "q_sample_hash" ->
      """SELECT lang, count(*) AS n_sampled,
        |  min(doc_id) AS min_doc_id, max(doc_id) AS max_doc_id
        |FROM documents
        |WHERE CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS BIGINT) % 100 < 10
        |GROUP BY lang ORDER BY lang NULLS FIRST""".stripMargin,
    // z from exact integer moment sums, one fixed IEEE double formula
    // in both engines; the filter compares the ROUNDED z so no
    // boundary can flip on a last-ulp difference.
    "q_anomaly" ->
      """WITH ev AS (
        |  SELECT event_type, event_id, value,
        |    CAST(round(value * 100, 0) AS BIGINT) AS c
        |  FROM events),
        |stats AS (
        |  SELECT event_type, CAST(count(*) AS DOUBLE) AS n,
        |    CAST(sum(c) AS DOUBLE) AS sx,
        |    CAST(sum(c * c) AS DOUBLE) AS sxx
        |  FROM ev GROUP BY event_type)
        |SELECT event_type, event_id, value,
        |  round((CAST(c AS DOUBLE) - sx / n)
        |        / sqrt(sxx / n - (sx / n) * (sx / n)), 6) AS z_score
        |FROM ev JOIN stats USING (event_type)
        |WHERE abs(round((CAST(c AS DOUBLE) - sx / n)
        |          / sqrt(sxx / n - (sx / n) * (sx / n)), 6)) > 3.0
        |ORDER BY event_type NULLS FIRST, event_id NULLS FIRST""".stripMargin,
    // sweep-line: -1 points sort before +1 at the same microsecond
    // (delta ASC), equal-delta ties cannot change a prefix max.
    "q_concurrency" ->
      """WITH flagged AS (
        |  SELECT user_id, ts, event_id,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
        |         THEN 1 ELSE 0 END AS new_session
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
        |), sess_ev AS (
        |  SELECT user_id, ts,
        |    sum(new_session) OVER (PARTITION BY user_id
        |      ORDER BY ts ASC, event_id ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        |  FROM flagged),
        |sess AS (
        |  SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
        |    epoch_us(min(ts)) AS s_us, epoch_us(max(ts)) AS e_us,
        |    CAST(min(ts) AS DATE) AS d0, CAST(max(ts) AS DATE) AS d1
        |  FROM sess_ev GROUP BY user_id, session_id),
        |clipped AS (
        |  SELECT user_id, session_id, s_us, e_us,
        |    CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day
        |  FROM sess),
        |pts AS (
        |  SELECT day,
        |    greatest(s_us, epoch_us(CAST(day AS TIMESTAMP))) AS t,
        |    1 AS delta, user_id, session_id
        |  FROM clipped
        |  UNION ALL
        |  SELECT day,
        |    least(e_us, epoch_us(CAST(day AS TIMESTAMP)) + 86399999999) + 1 AS t,
        |    -1 AS delta, user_id, session_id
        |  FROM clipped),
        |curve AS (
        |  SELECT day, delta,
        |    sum(delta) OVER (PARTITION BY day
        |      ORDER BY t ASC, delta ASC, user_id ASC, session_id ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS conc
        |  FROM pts)
        |SELECT day,
        |  CAST(sum(CASE WHEN delta = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions,
        |  CAST(max(conc) AS BIGINT) AS peak_concurrency
        |FROM curve GROUP BY day
        |ORDER BY day NULLS FIRST""".stripMargin,
    // lower median of integer cents twice (value, then deviation) —
    // every comparison is exact integer, no float boundary anywhere.
    "q_anomaly_mad" ->
      """WITH ev AS (
        |  SELECT event_type, event_id, value,
        |    CAST(round(value * 100, 0) AS BIGINT) AS c
        |  FROM events),
        |med AS (
        |  SELECT event_type, c AS med FROM (
        |    SELECT event_type, c,
        |      row_number() OVER (PARTITION BY event_type
        |                         ORDER BY c, event_id) AS rn,
        |      count(*) OVER (PARTITION BY event_type) AS n
        |    FROM ev) t
        |  WHERE rn = (n + 1) // 2),
        |dev AS (
        |  SELECT e.event_type, e.event_id, e.value,
        |    abs(e.c - m.med) AS d
        |  FROM ev e JOIN med m USING (event_type)),
        |mad AS (
        |  SELECT event_type, d AS mad FROM (
        |    SELECT event_type, d,
        |      row_number() OVER (PARTITION BY event_type
        |                         ORDER BY d, event_id) AS rn,
        |      count(*) OVER (PARTITION BY event_type) AS n
        |    FROM dev) t
        |  WHERE rn = (n + 1) // 2)
        |SELECT v.event_type, v.event_id, v.value,
        |  CAST(v.d AS DOUBLE) / 100.0 AS deviation,
        |  CAST(m.mad AS DOUBLE) / 100.0 AS mad_value
        |FROM dev v JOIN mad m USING (event_type)
        |WHERE v.d > 5 * m.mad
        |ORDER BY v.event_type NULLS FIRST, v.event_id NULLS FIRST""".stripMargin,
    "q_rfm" ->
      """WITH base AS (
        |  SELECT o_custkey,
        |    date_diff('day', CAST(max(o_orderdate) AS DATE),
        |              DATE '2001-09-01') AS recency_days,
        |    count(*) AS frequency,
        |    sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS m_cents
        |  FROM orders GROUP BY o_custkey),
        |s AS (
        |  SELECT *,
        |    CASE WHEN recency_days <= 150 THEN 3
        |         WHEN recency_days <= 330 THEN 2 ELSE 1 END AS r_score,
        |    CASE WHEN frequency >= 12 THEN 3
        |         WHEN frequency >= 9 THEN 2 ELSE 1 END AS f_score,
        |    CASE WHEN m_cents >= 280000000 THEN 3
        |         WHEN m_cents >= 210000000 THEN 2 ELSE 1 END AS m_score
        |  FROM base)
        |SELECT o_custkey, recency_days, frequency,
        |  CAST(m_cents AS DOUBLE) / 100.0 AS monetary,
        |  r_score, f_score, m_score,
        |  CASE WHEN r_score + f_score + m_score >= 8 THEN 'champion'
        |       WHEN r_score + f_score + m_score >= 6 THEN 'loyal'
        |       WHEN r_score + f_score + m_score >= 4 THEN 'regular'
        |       ELSE 'at_risk' END AS segment
        |FROM s ORDER BY o_custkey NULLS FIRST""".stripMargin,
    "q_gapfill" ->
      """WITH daily AS (
        |  SELECT user_id, CAST(ts AS DATE) AS d, count(*) AS n_events,
        |    sum(CAST(round(value * 100, 0) AS BIGINT)) AS c_sum
        |  FROM events GROUP BY user_id, d),
        |grid AS (
        |  SELECT user_id,
        |    CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS d
        |  FROM (SELECT user_id, min(d) AS d0, max(d) AS d1
        |        FROM daily GROUP BY user_id) s)
        |SELECT g.user_id, g.d AS day,
        |  coalesce(dd.n_events, 0) AS n_events,
        |  CAST(coalesce(dd.c_sum, 0) AS DOUBLE) / 100.0 AS value_sum
        |FROM grid g
        |LEFT JOIN daily dd ON g.user_id = dd.user_id AND g.d = dd.d
        |ORDER BY g.user_id NULLS FIRST, day NULLS FIRST""".stripMargin,
    "q_returned_items" ->
      """SELECT c_custkey, c_name, n_name,
        |  CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT) *
        |           CAST(round((1 - l_discount) * 100, 0) AS BIGINT)) AS DOUBLE)
        |    / 10000.0 AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE l_returnflag = 'R'
        |  AND o_orderdate >= TIMESTAMP '1997-01-01'
        |  AND o_orderdate < TIMESTAMP '1997-07-01'
        |GROUP BY c_custkey, c_name, n_name
        |ORDER BY revenue DESC, c_custkey NULLS FIRST
        |LIMIT 20""".stripMargin,
    "q_priority_exists" ->
      """SELECT o_orderpriority, count(*) AS n_orders
        |FROM orders o
        |WHERE EXISTS (SELECT 1 FROM lineitem l
        |              WHERE l.l_orderkey = o.o_orderkey
        |                AND l.l_shipdate > o.o_orderdate)
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority NULLS FIRST""".stripMargin,
    // Shingle CTE shared shape with q_decontaminate; the verdict
    // compares 2·n_common >= n_shingles in exact integers.
    "q_boilerplate" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |    unnest(list_filter(string_split_regex(lower(text), '[^a-z]+'),
        |                       x -> x <> '')) AS t,
        |    generate_subscripts(
        |      list_filter(string_split_regex(lower(text), '[^a-z]+'),
        |                  x -> x <> ''), 1) - 1 AS pos
        |  FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id, sh FROM (
        |    SELECT doc_id,
        |      t || ' ' || lead(t, 1) OVER w || ' ' || lead(t, 2) OVER w AS sh
        |    FROM tok WINDOW w AS (PARTITION BY doc_id ORDER BY pos)) s
        |  WHERE sh IS NOT NULL),
        |df AS (SELECT sh, count(*) AS df FROM sh GROUP BY sh),
        |per_doc AS (
        |  SELECT s.doc_id, count(*) AS n_shingles,
        |    CAST(sum(CASE WHEN d.df >= 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_common
        |  FROM sh s JOIN df d USING (sh) GROUP BY s.doc_id)
        |SELECT doc_id, n_shingles, n_common,
        |  round(CAST(n_common AS DOUBLE) / n_shingles, 6) AS boiler_ratio,
        |  CASE WHEN n_common * 2 >= n_shingles THEN 'boilerplate'
        |       ELSE 'keep' END AS verdict
        |FROM per_doc ORDER BY doc_id NULLS FIRST""".stripMargin,
    // Efraimidis-Spirakis key ln(u)/w; ORDER BY is on the unrounded
    // key in both engines, the displayed key is 6-dp.
    "q_weighted_sample" ->
      """WITH keyed AS (
        |  SELECT doc_id, n_chars,
        |    ln((CAST(CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)
        |             AS BIGINT) AS DOUBLE) + 0.5) / 4294967296.0)
        |      / CAST(n_chars AS DOUBLE) AS k
        |  FROM documents)
        |SELECT doc_id, n_chars, round(k, 6) + 0.0 AS sel_key
        |FROM keyed
        |ORDER BY k DESC, doc_id
        |LIMIT 50""".stripMargin,
    "q_incr_agg" ->
      """SELECT user_id, count(*) AS n_events,
        |  CAST(CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
        |    AS DOUBLE) / 100.0 AS value_sum,
        |  max(ts) AS last_ts
        |FROM events GROUP BY user_id
        |ORDER BY user_id NULLS FIRST""".stripMargin,
    "q_entropy" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(list_filter(
        |    string_split_regex(lower(text), '[^a-z]+'), x -> x <> '')) AS t
        |  FROM documents),
        |cnt AS (SELECT doc_id, t, count(*) AS c FROM tok GROUP BY 1, 2)
        |SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
        |  round(ln(CAST(sum(c) AS DOUBLE)) -
        |    sum(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE))) / sum(c), 6) + 0.0
        |    AS entropy
        |FROM cnt GROUP BY doc_id
        |ORDER BY doc_id NULLS FIRST""".stripMargin,
    "q_big_orders" ->
      """SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
        |  total_qty
        |FROM orders
        |JOIN (SELECT l_orderkey,
        |        CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_qty
        |      FROM lineitem GROUP BY 1
        |      HAVING sum(CAST(l_quantity AS BIGINT)) > 300) b
        |  ON o_orderkey = b.l_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_totalprice DESC, o_orderkey
        |LIMIT 100""".stripMargin,
    "q_equidepth" ->
      """WITH t AS (
        |  SELECT o_orderpriority, o_totalprice, o_orderkey,
        |    ntile(4) OVER (PARTITION BY o_orderpriority
        |      ORDER BY o_totalprice ASC, o_orderkey ASC) AS bucket
        |  FROM orders)
        |SELECT o_orderpriority, CAST(bucket AS INT) AS bucket,
        |  count(*) AS n_orders,
        |  round(min(o_totalprice), 6) + 0.0 AS lo,
        |  round(max(o_totalprice), 6) + 0.0 AS hi
        |FROM t GROUP BY o_orderpriority, bucket
        |ORDER BY o_orderpriority NULLS FIRST, bucket NULLS FIRST""".stripMargin,
    "q_contingency" ->
      """WITH g AS (
        |  SELECT c_mktsegment AS segment, o_orderpriority AS priority,
        |    count(*) AS observed
        |  FROM customer JOIN orders ON c_custkey = o_custkey
        |  GROUP BY 1, 2),
        |t AS (
        |  SELECT segment, priority, observed,
        |    CAST(sum(observed) OVER (PARTITION BY segment) AS BIGINT) AS r,
        |    CAST(sum(observed) OVER (PARTITION BY priority) AS BIGINT) AS c,
        |    CAST(sum(observed) OVER () AS BIGINT) AS n
        |  FROM g),
        |u AS (
        |  SELECT segment, priority, observed,
        |    CAST(r AS DOUBLE) * c / n AS e
        |  FROM t)
        |SELECT segment, priority, observed,
        |  round(e, 6) + 0.0 AS expected,
        |  round((observed - e) * (observed - e) / e, 6) + 0.0 AS contribution
        |FROM u ORDER BY segment NULLS FIRST, priority NULLS FIRST""".stripMargin,
    "q_pct_change" ->
      """WITH daily AS (
        |  SELECT CAST(o_orderdate AS DATE) AS day,
        |    CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
        |      AS rev_c
        |  FROM orders GROUP BY 1),
        |l AS (
        |  SELECT day, rev_c,
        |    lag(rev_c, 1) OVER (ORDER BY day ASC) AS prev_c
        |  FROM daily)
        |SELECT day, CAST(rev_c AS DOUBLE) / 100.0 AS revenue,
        |  CAST(rev_c - prev_c AS DOUBLE) / 100.0 AS change,
        |  round(CAST(rev_c - prev_c AS DOUBLE) / prev_c, 6) + 0.0
        |    AS pct_change
        |FROM l ORDER BY day NULLS FIRST""".stripMargin,
    "q_gini" ->
      """WITH spend AS (
        |  SELECT o_custkey,
        |    CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
        |      AS spend_c
        |  FROM orders GROUP BY 1),
        |lab AS (
        |  SELECT c_mktsegment, c_custkey, spend_c,
        |    row_number() OVER (PARTITION BY c_mktsegment
        |      ORDER BY spend_c ASC, c_custkey ASC) AS i
        |  FROM customer JOIN spend ON c_custkey = o_custkey),
        |g AS (
        |  SELECT c_mktsegment, count(*) AS n_customers,
        |    CAST(sum(spend_c) AS BIGINT) AS s,
        |    CAST(sum(i * spend_c) AS BIGINT) AS si
        |  FROM lab GROUP BY 1)
        |SELECT c_mktsegment, n_customers,
        |  CAST(s AS DOUBLE) / 100.0 AS total_spend,
        |  round(2 * CAST(si AS DOUBLE) / CAST(n_customers * s AS DOUBLE)
        |    - CAST(n_customers + 1 AS DOUBLE) / n_customers, 6) + 0.0 AS gini
        |FROM g ORDER BY c_mktsegment NULLS FIRST""".stripMargin,
    "q_winsorize" ->
      """WITH ranked AS (
        |  SELECT c_mktsegment, c_acctbal,
        |    row_number() OVER (PARTITION BY c_mktsegment
        |      ORDER BY c_acctbal ASC, c_custkey ASC) AS rn,
        |    count(*) OVER (PARTITION BY c_mktsegment) AS n
        |  FROM customer),
        |bounds AS (
        |  SELECT c_mktsegment AS b_seg,
        |    max(CASE WHEN rn = CAST(ceil(n * 5 / 100.0) AS BIGINT)
        |      THEN CAST(round(c_acctbal * 100, 0) AS BIGINT) END) AS lo_c,
        |    max(CASE WHEN rn = CAST(ceil(n * 95 / 100.0) AS BIGINT)
        |      THEN CAST(round(c_acctbal * 100, 0) AS BIGINT) END) AS hi_c
        |  FROM ranked GROUP BY c_mktsegment)
        |SELECT c_mktsegment, count(*) AS n_customers,
        |  round(CAST(sum(greatest(lo_c, least(hi_c,
        |      CAST(round(c_acctbal * 100, 0) AS BIGINT)))) AS DOUBLE)
        |    / 100.0 / count(*), 6) + 0.0 AS winsorized_mean
        |FROM customer JOIN bounds ON c_mktsegment = b_seg
        |GROUP BY c_mktsegment
        |ORDER BY c_mktsegment NULLS FIRST""".stripMargin,
    "q_small_parts" ->
      """WITH s AS (
        |  SELECT l_partkey, CAST(l_quantity AS BIGINT) AS qty,
        |    CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS price_c,
        |    sum(CAST(l_quantity AS BIGINT))
        |      OVER (PARTITION BY l_partkey) AS part_qty,
        |    count(*) OVER (PARTITION BY l_partkey) AS part_cnt
        |  FROM lineitem)
        |SELECT p_brand, count(*) AS n_small,
        |  CAST(sum(price_c) AS DOUBLE) / 100.0 AS small_revenue
        |FROM s JOIN part ON l_partkey = p_partkey
        |WHERE qty * part_cnt * 5 < part_qty
        |GROUP BY p_brand
        |ORDER BY p_brand NULLS FIRST""".stripMargin,
    "q_dedup_canonical" ->
      """SELECT min(doc_id) AS canonical_doc_id, count(*) AS n_dups,
        |  count(DISTINCT text) AS n_variants
        |FROM documents
        |GROUP BY md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')))
        |ORDER BY canonical_doc_id NULLS FIRST""".stripMargin,
    "q_idle_rich" ->
      """WITH cust AS (
        |  SELECT c_custkey, c_mktsegment,
        |    CAST(round(c_acctbal * 100, 0) AS BIGINT) AS bal_c
        |  FROM customer WHERE c_acctbal > 0.0),
        |g AS (
        |  SELECT CAST(sum(bal_c) AS BIGINT) AS s, count(*) AS n FROM cust)
        |SELECT c_mktsegment, count(*) AS n_cust,
        |  CAST(sum(bal_c) AS DOUBLE) / 100.0 AS total_bal
        |FROM cust c, g
        |WHERE bal_c * n > s
        |  AND NOT EXISTS (SELECT 1 FROM orders o
        |    WHERE o.o_custkey = c.c_custkey
        |      AND o.o_orderpriority = '1-URGENT')
        |GROUP BY c_mktsegment
        |ORDER BY c_mktsegment NULLS FIRST""".stripMargin,
    "q_bpe_pairs" ->
      """WITH wc AS (
        |  SELECT t AS word, count(*) AS cnt FROM (
        |    SELECT unnest(list_filter(
        |      string_split_regex(lower(text), '[^a-z]+'), x -> x <> '')) AS t
        |    FROM documents) tok
        |  GROUP BY t),
        |pairs AS (
        |  SELECT substring(word,
        |      CAST(unnest(range(1, length(word))) AS INT), 2) AS pair,
        |    word, cnt
        |  FROM wc WHERE length(word) >= 2)
        |SELECT pair, CAST(sum(cnt) AS BIGINT) AS pair_count,
        |  count(DISTINCT word) AS n_words
        |FROM pairs GROUP BY pair
        |ORDER BY pair_count DESC, pair ASC
        |LIMIT 20""".stripMargin,
    "q_source_overlap" ->
      """WITH tok AS (
        |  SELECT doc_id, source,
        |    unnest(list_filter(string_split_regex(lower(text), '[^a-z]+'),
        |                       x -> x <> '')) AS t,
        |    generate_subscripts(
        |      list_filter(string_split_regex(lower(text), '[^a-z]+'),
        |                  x -> x <> ''), 1) - 1 AS pos
        |  FROM documents),
        |sh AS (
        |  SELECT DISTINCT source, sh FROM (
        |    SELECT source,
        |      t || ' ' || lead(t, 1) OVER w || ' ' || lead(t, 2) OVER w AS sh
        |    FROM tok WINDOW w AS (PARTITION BY doc_id ORDER BY pos)) s
        |  WHERE sh IS NOT NULL),
        |sizes AS (SELECT source, count(*) AS n_sh FROM sh GROUP BY source),
        |common AS (
        |  SELECT a.source AS source_1, b.source AS source_2,
        |    count(*) AS n_common
        |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.source < b.source
        |  GROUP BY 1, 2)
        |SELECT source_1, source_2, n_common,
        |  s1.n_sh + s2.n_sh - n_common AS n_union,
        |  round(CAST(n_common AS DOUBLE) /
        |    (s1.n_sh + s2.n_sh - n_common), 6) + 0.0 AS jaccard
        |FROM common JOIN sizes s1 ON source_1 = s1.source
        |JOIN sizes s2 ON source_2 = s2.source
        |ORDER BY source_1 NULLS FIRST, source_2 NULLS FIRST""".stripMargin,
    "q_mix_budget" ->
      """WITH d AS (
        |  SELECT doc_id, source, CAST(len(list_filter(
        |    string_split_regex(lower(text), '[^a-z]+'), x -> x <> ''))
        |    AS BIGINT) AS tok
        |  FROM documents),
        |s AS (
        |  SELECT source, CAST(sum(tok) AS BIGINT) AS t_src,
        |    count(*) AS n_docs,
        |    CAST(CAST(substr(source, 4) AS INT) % 4 + 1 AS BIGINT) AS raw
        |  FROM d GROUP BY source),
        |t AS (SELECT CAST(sum(t_src) AS BIGINT) AS total_tok,
        |             CAST(sum(raw) AS BIGINT) AS raw_sum FROM s),
        |r AS (
        |  SELECT source, n_docs, t_src,
        |    least(1.0, 0.5 * total_tok * (raw / raw_sum) / t_src) AS rate
        |  FROM s, t),
        |k AS (
        |  SELECT d.source,
        |    CAST(sum(CASE WHEN CAST(('0x' || substring(md5('mix:' ||
        |        CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT AS DOUBLE)
        |        / 4294967296.0 < r.rate THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |    CAST(sum(CASE WHEN CAST(('0x' || substring(md5('mix:' ||
        |        CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT AS DOUBLE)
        |        / 4294967296.0 < r.rate THEN tok ELSE 0 END) AS BIGINT)
        |      AS tokens_kept
        |  FROM d JOIN r ON d.source = r.source GROUP BY d.source)
        |SELECT r.source, r.n_docs, r.t_src AS tokens_src,
        |  round(r.rate, 6) + 0.0 AS rate_target, k.n_kept, k.tokens_kept
        |FROM r JOIN k ON r.source = k.source
        |ORDER BY r.source NULLS FIRST""".stripMargin,
    // the quadratic NOT-EXISTS dominance form — the Spark side runs the
    // sort-scan rewrite, so a green hash proves the scan equivalence
    "q_skyline" ->
      """WITH pts AS (
        |  SELECT DISTINCT p_brand, p_size, p_retailprice FROM part)
        |SELECT p_brand, p_size, p_retailprice
        |FROM pts a
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM pts b
        |  WHERE b.p_brand = a.p_brand
        |    AND b.p_size >= a.p_size AND b.p_retailprice <= a.p_retailprice
        |    AND (b.p_size > a.p_size OR b.p_retailprice < a.p_retailprice))
        |ORDER BY p_brand NULLS FIRST, p_size DESC, p_retailprice ASC""".stripMargin,
    "q_sample_reservoir" ->
      """SELECT lang, CAST(rank AS INT) AS rank, doc_id FROM (
        |  SELECT lang, doc_id,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY md5('rsv:' || CAST(doc_id AS VARCHAR)) ASC, doc_id ASC)
        |      AS rank
        |  FROM documents)
        |WHERE rank <= 10
        |ORDER BY lang NULLS FIRST, rank ASC""".stripMargin,
    "q_attribution" ->
      """WITH ev AS (
        |  SELECT user_id, event_id, event_type, epoch_us(ts) AS us FROM events)
        |SELECT user_id, event_id AS purchase_id, us AS purchase_us, click_us,
        |  us - click_us AS gap_us
        |FROM (
        |  SELECT *, max(CASE WHEN event_type = 'click' THEN us END)
        |    OVER (PARTITION BY user_id ORDER BY us ASC, event_id ASC
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS click_us
        |  FROM ev) t
        |WHERE event_type = 'purchase'
        |ORDER BY user_id NULLS FIRST, purchase_id NULLS FIRST""".stripMargin,
    "q_vocab_coverage" ->
      """WITH tok AS (
        |  SELECT unnest(list_filter(string_split_regex(lower(text), '[^a-z]+'),
        |                            x -> x <> '')) AS token
        |  FROM documents),
        |counts AS (SELECT token, count(*) AS cnt FROM tok GROUP BY token),
        |tot AS (SELECT sum(cnt) AS n_total FROM counts),
        |top AS (SELECT token, cnt FROM counts
        |        ORDER BY cnt DESC, token ASC LIMIT 500)
        |SELECT
        |  CAST(row_number() OVER (ORDER BY cnt DESC, token ASC) AS INT) AS rank,
        |  token, cnt,
        |  round(CAST(sum(cnt) OVER (ORDER BY cnt DESC, token ASC
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
        |        / n_total, 6) + 0.0 AS cum_share
        |FROM top CROSS JOIN tot
        |ORDER BY rank ASC""".stripMargin,
    // The MG sketch prune has no false negatives above the threshold
    // and the confirm pass is exact, so the sketched plan answers the
    // plain SQL below row-identically.
    "q_heavy_hitters" ->
      """WITH tok AS (
        |  SELECT unnest(list_filter(string_split_regex(lower(text), '[^a-z]+'),
        |                            x -> x <> '')) AS token
        |  FROM documents),
        |tot AS (SELECT count(*) AS n_total FROM tok),
        |c AS (SELECT token, count(*) AS n_occurrences FROM tok GROUP BY token)
        |SELECT token, n_occurrences,
        |  round(CAST(n_occurrences AS DOUBLE) / n_total, 6) AS share
        |FROM c, tot
        |WHERE n_occurrences * 100 >= n_total
        |ORDER BY n_occurrences DESC, token NULLS FIRST""".stripMargin,
    "q_chunk" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |    unnest(list_filter(string_split_regex(lower(text), '[^a-z]+'),
        |                       x -> x <> '')) AS t,
        |    generate_subscripts(
        |      list_filter(string_split_regex(lower(text), '[^a-z]+'),
        |                  x -> x <> ''), 1) - 1 AS pos
        |  FROM documents)
        |SELECT doc_id, CAST(floor(pos / 32.0) AS BIGINT) AS chunk_id,
        |  count(*) AS n_tokens,
        |  string_agg(t, ' ' ORDER BY pos) AS chunk_text
        |FROM tok GROUP BY doc_id, chunk_id
        |ORDER BY doc_id NULLS FIRST, chunk_id NULLS FIRST""".stripMargin,
    "q_dedup_exact" ->
      """SELECT min(doc_id) AS canonical_doc_id, count(*) AS n_dups
        |FROM documents GROUP BY text
        |ORDER BY canonical_doc_id NULLS FIRST""".stripMargin,
    "q_dedup_exact_hash" ->
      """SELECT min(doc_id) AS canonical_doc_id, count(*) AS n_dups
        |FROM documents GROUP BY sha256(text)
        |ORDER BY canonical_doc_id NULLS FIRST""".stripMargin,
    "q_pii_count" ->
      """WITH aug AS (
        |  SELECT doc_id,
        |    text || ' contact user' || CAST(doc_id AS VARCHAR)
        |      || '@mail.example.com or 10.' || CAST(doc_id % 200 AS VARCHAR)
        |      || '.0.' || CAST(doc_id % 250 AS VARCHAR)
        |      || ' tel +1 (555) 01' || CAST(doc_id % 10 AS VARCHAR)
        |      || '-' || CAST(doc_id % 9000 + 1000 AS VARCHAR) AS t
        |  FROM documents),
        |c AS (
        |  SELECT
        |    len(regexp_extract_all(t,
        |      '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}')) AS c_email,
        |    len(regexp_extract_all(regexp_replace(t,
        |      '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}', '<EMAIL>',
        |      'g'),
        |      '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}')) AS c_ip,
        |    len(regexp_extract_all(regexp_replace(regexp_replace(t,
        |      '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}', '<EMAIL>',
        |      'g'),
        |      '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}', '<IP>', 'g'),
        |      '\+?[0-9][0-9 ()+._-]{5,}[0-9]')) AS c_num
        |  FROM aug),
        |s AS (
        |  SELECT
        |    CAST(sum(CASE WHEN c_email > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS d_email,
        |    CAST(sum(c_email) AS BIGINT) AS m_email,
        |    CAST(sum(CASE WHEN c_ip > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS d_ip,
        |    CAST(sum(c_ip) AS BIGINT) AS m_ip,
        |    CAST(sum(CASE WHEN c_num > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS d_num,
        |    CAST(sum(c_num) AS BIGINT) AS m_num
        |  FROM c)
        |SELECT * FROM (
        |  SELECT 'email' AS pattern, d_email AS n_docs, m_email AS n_matches
        |    FROM s
        |  UNION ALL SELECT 'ipv4', d_ip, m_ip FROM s
        |  UNION ALL SELECT 'number', d_num, m_num FROM s) u
        |ORDER BY pattern NULLS FIRST""".stripMargin,
    "q_redact_pii" ->
      """WITH aug AS (
        |  SELECT doc_id,
        |    text || ' contact user' || CAST(doc_id AS VARCHAR)
        |      || '@mail.example.com or 10.' || CAST(doc_id % 200 AS VARCHAR)
        |      || '.0.' || CAST(doc_id % 250 AS VARCHAR)
        |      || ' tel +1 (555) 01' || CAST(doc_id % 10 AS VARCHAR)
        |      || '-' || CAST(doc_id % 9000 + 1000 AS VARCHAR) AS t
        |  FROM documents)
        |SELECT doc_id,
        |  regexp_replace(regexp_replace(regexp_replace(t,
        |    '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}', '<EMAIL>', 'g'),
        |    '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}', '<IP>', 'g'),
        |    '\+?[0-9][0-9 ()+._-]{5,}[0-9]', '<NUMBER>', 'g') AS redacted
        |FROM aug ORDER BY doc_id NULLS FIRST""".stripMargin,
    "q_chunk_strided" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |    unnest(list_filter(string_split_regex(lower(text), '[^a-z]+'),
        |                       x -> x <> '')) AS t,
        |    generate_subscripts(
        |      list_filter(string_split_regex(lower(text), '[^a-z]+'),
        |                  x -> x <> ''), 1) - 1 AS pos
        |  FROM documents),
        |ch AS (
        |  SELECT doc_id, pos, t,
        |    unnest(range(
        |      greatest(0, CAST(ceil((pos - 32 + 1) * 1.0 / 24) AS BIGINT)),
        |      pos // 24 + 1)) AS chunk_id
        |  FROM tok)
        |SELECT doc_id, chunk_id, count(*) AS n_tokens,
        |  string_agg(t, ' ' ORDER BY pos) AS chunk_text
        |FROM ch GROUP BY doc_id, chunk_id
        |ORDER BY doc_id NULLS FIRST, chunk_id NULLS FIRST""".stripMargin,
    "q_dedup_clusters" -> (ClusterCompCte + "\n" +
      """SELECT id, component FROM comp
        |ORDER BY id NULLS FIRST""".stripMargin),
    "q_cluster_sizes" -> (ClusterCompCte + ",\n" +
      """szs AS (SELECT component, count(*) AS cluster_size
        |        FROM comp GROUP BY component),
        |hist AS (
        |  SELECT cluster_size, count(*) AS n_clusters
        |  FROM szs GROUP BY cluster_size
        |  UNION ALL
        |  SELECT CAST(1 AS BIGINT) AS cluster_size,
        |    (SELECT count(*) FROM documents) - (SELECT count(*) FROM comp)
        |      AS n_clusters)
        |SELECT cluster_size, CAST(sum(n_clusters) AS BIGINT) AS n_clusters
        |FROM hist GROUP BY cluster_size
        |HAVING sum(n_clusters) > 0
        |ORDER BY cluster_size NULLS FIRST""".stripMargin),
    // same recursive-CTE component labels as q_dedup_clusters, then the
    // q_text_quality score ranks members within each cluster
    "q_dedup_keep_best" -> (ClusterCompCte + ",\n" +
      """q AS (
        |  SELECT doc_id,
        |    round(0.4 * (len(list_distinct(toks)) * 1.0 / len(toks)) +
        |          0.4 * (1.0 - len(list_filter(toks, t -> t = 'the' OR t = 'a'))
        |                 * 1.0 / len(toks)) +
        |          0.2 * least(CAST(list_sum(list_transform(toks, t -> length(t)))
        |                 AS DOUBLE) / len(toks) / 10.0, 1.0), 6) + 0.0
        |      AS keep_quality
        |  FROM docs),
        |lab AS (
        |  SELECT q.doc_id, COALESCE(c.component, q.doc_id) AS component,
        |         q.keep_quality
        |  FROM q LEFT JOIN comp c ON c.id = q.doc_id),
        |r AS (
        |  SELECT *,
        |    row_number() OVER (PARTITION BY component
        |                       ORDER BY keep_quality DESC, doc_id ASC) AS rn,
        |    count(*) OVER (PARTITION BY component) AS cluster_size
        |  FROM lab)
        |SELECT component, doc_id AS keep_doc_id, keep_quality,
        |  cluster_size, cluster_size - 1 AS dropped
        |FROM r WHERE rn = 1 ORDER BY component NULLS FIRST""".stripMargin),
    "q_dedup_near" ->
      """SELECT min(doc_id) AS canonical_doc_id, count(*) AS group_size
        |FROM (
        |  SELECT doc_id,
        |    array_to_string(list_sort(list_distinct(list_filter(
        |      string_split_regex(lower(text), '[^a-z]+'), x -> x <> ''))), ' ')
        |      AS signature
        |  FROM documents) t
        |GROUP BY signature ORDER BY canonical_doc_id NULLS FIRST""".stripMargin,
    "q_text_stats" ->
      """WITH doc_level AS (
        |  SELECT lang, count(*) AS n_docs,
        |    CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |    CAST(sum(len(list_filter(string_split_regex(lower(text), '[^a-z]+'),
        |      x -> x <> ''))) AS BIGINT) AS sum_tokens
        |  FROM documents GROUP BY lang
        |), vocab AS (
        |  SELECT lang, count(DISTINCT word) AS distinct_tokens FROM (
        |    SELECT lang, unnest(string_split_regex(lower(text), '[^a-z]+')) AS word
        |    FROM documents) t
        |  WHERE word <> '' GROUP BY lang)
        |SELECT d.lang AS lang, d.n_docs AS n_docs, d.sum_chars AS sum_chars,
        |  round(CAST(d.sum_chars AS DOUBLE) / d.n_docs, 6) + 0.0 AS avg_chars,
        |  round(CAST(d.sum_tokens AS DOUBLE) / d.n_docs, 6) + 0.0 AS avg_tokens,
        |  v.distinct_tokens AS distinct_tokens
        |FROM doc_level d JOIN vocab v ON d.lang = v.lang
        |ORDER BY lang NULLS FIRST""".stripMargin,
    "q_pipeline" ->
      """WITH canonical AS (
        |  SELECT min(doc_id) AS doc_id FROM documents GROUP BY text
        |), toked AS (
        |  SELECT doc_id, lang, n_chars, list_filter(
        |    string_split_regex(lower(text), '[^a-z]+'), x -> x <> '') AS toks
        |  FROM documents
        |), kept AS (
        |  SELECT d.doc_id, d.lang, d.n_chars,
        |    len(d.toks) AS n_tokens,
        |    len(list_filter(d.toks, t -> t = 'the' OR t = 'a')) * 1.0
        |      / len(d.toks) AS stop_ratio
        |  FROM toked d JOIN canonical c ON d.doc_id = c.doc_id
        |  WHERE len(d.toks) >= 10
        |    AND len(list_filter(d.toks, t -> t = 'the' OR t = 'a')) * 1.0
        |        / len(d.toks) <= 0.5)
        |SELECT lang, count(*) AS n_docs,
        |  CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
        |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
        |  round(avg(stop_ratio), 6) + 0.0 AS avg_stop_ratio
        |FROM kept GROUP BY lang ORDER BY lang NULLS FIRST""".stripMargin,
    "q_tfidf" ->
      """SELECT word, count(DISTINCT doc_id) AS df,
        |  round(ln(CAST((SELECT count(*) FROM documents) AS DOUBLE) /
        |        count(DISTINCT doc_id)), 6) + 0.0 AS idf
        |FROM (
        |  SELECT doc_id, unnest(string_split_regex(lower(text), '[^a-z]+')) AS word
        |  FROM documents) t
        |WHERE word <> '' GROUP BY word
        |ORDER BY df DESC, word ASC LIMIT 50""".stripMargin,
    "q_keywords" ->
      """WITH tf AS (
        |  SELECT doc_id, w, count(*) AS tf FROM (
        |    SELECT doc_id,
        |      unnest(list_filter(string_split_regex(lower(text), '[^a-z]+'),
        |                         x -> x <> '')) AS w
        |    FROM documents) t
        |  GROUP BY doc_id, w),
        |wd AS (
        |  SELECT doc_id, w, tf,
        |    CAST(count(*) OVER (PARTITION BY w) AS BIGINT) AS df
        |  FROM tf),
        |r AS (
        |  SELECT doc_id, w, tf, df,
        |    row_number() OVER (PARTITION BY doc_id
        |      ORDER BY tf DESC, df ASC, w ASC) AS rank
        |  FROM wd)
        |SELECT doc_id, rank, w AS term, tf, df
        |FROM r WHERE rank <= 3
        |ORDER BY doc_id NULLS FIRST, rank NULLS FIRST""".stripMargin,
    "q_sim_topk" ->
      """WITH e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        |), pairs AS (
        |  SELECT p.vec_id AS probe_id, c.vec_id AS vec_id,
        |    round(list_dot_product(p.v, c.v) /
        |      (sqrt(list_dot_product(p.v, p.v)) * sqrt(list_dot_product(c.v, c.v))),
        |      6) + 0.0 AS cosine
        |  FROM e p JOIN e c ON p.vec_id % 100 = 0 AND c.vec_id <> p.vec_id
        |), ranked AS (
        |  SELECT probe_id, vec_id, cosine,
        |    CAST(row_number() OVER (PARTITION BY probe_id
        |      ORDER BY cosine DESC, vec_id ASC) AS INT) AS rank
        |  FROM pairs)
        |SELECT probe_id, vec_id, cosine, rank FROM ranked WHERE rank <= 5
        |ORDER BY probe_id NULLS FIRST, rank ASC""".stripMargin,
    "q_knn_classify" ->
      """WITH e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        |), pairs AS (
        |  SELECT p.vec_id AS probe_id, c.vec_id AS vec_id,
        |    round(list_dot_product(p.v, c.v) /
        |      (sqrt(list_dot_product(p.v, p.v)) * sqrt(list_dot_product(c.v, c.v))),
        |      6) + 0.0 AS cosine
        |  FROM e p JOIN e c ON p.vec_id % 100 = 0 AND c.vec_id <> p.vec_id
        |), ranked AS (
        |  SELECT probe_id, vec_id,
        |    row_number() OVER (PARTITION BY probe_id
        |      ORDER BY cosine DESC, vec_id ASC) AS rank
        |  FROM pairs
        |), votes AS (
        |  SELECT probe_id, d.lang, count(*) AS votes
        |  FROM ranked r JOIN documents d ON r.vec_id = d.doc_id
        |  WHERE r.rank <= 5 GROUP BY 1, 2
        |), top AS (
        |  SELECT probe_id, lang AS pred_lang, votes,
        |    row_number() OVER (PARTITION BY probe_id
        |      ORDER BY votes DESC, lang ASC) AS rn
        |  FROM votes)
        |SELECT t.probe_id, t.pred_lang, t.votes, d.lang AS true_lang,
        |  t.pred_lang = d.lang AS correct
        |FROM top t JOIN documents d ON t.probe_id = d.doc_id
        |WHERE t.rn = 1
        |ORDER BY t.probe_id NULLS FIRST""".stripMargin,
    "udaf_demo" ->
      """SELECT word, count(*) AS cnt FROM (
        |  SELECT unnest(string_split_regex(lower(text), '[^a-z]+')) AS word
        |  FROM documents) t
        |WHERE word <> '' GROUP BY word ORDER BY word""".stripMargin,
    "q_median" ->
      """WITH ranked AS (
        |  SELECT c_mktsegment, c_acctbal,
        |    row_number() OVER (PARTITION BY c_mktsegment
        |      ORDER BY c_acctbal ASC, c_custkey ASC) AS rn,
        |    count(*) OVER (PARTITION BY c_mktsegment) AS n
        |  FROM customer)
        |SELECT c_mktsegment, max(n) AS n_customers,
        |  round(avg(c_acctbal), 6) + 0.0 AS median_acctbal
        |FROM ranked WHERE rn = (n + 1) // 2 OR rn = n // 2 + 1
        |GROUP BY c_mktsegment ORDER BY c_mktsegment NULLS FIRST""".stripMargin,
    "q_percentiles" ->
      """WITH ranked AS (
        |  SELECT c_mktsegment, c_acctbal,
        |    row_number() OVER (PARTITION BY c_mktsegment
        |      ORDER BY c_acctbal ASC, c_custkey ASC) AS rn,
        |    count(*) OVER (PARTITION BY c_mktsegment) AS n
        |  FROM customer)
        |SELECT c_mktsegment, max(n) AS n_customers,
        |  round(max(CASE WHEN rn = CAST(ceil(n * 25 / 100.0) AS BIGINT)
        |    THEN c_acctbal END), 6) + 0.0 AS p25,
        |  round(max(CASE WHEN rn = CAST(ceil(n * 50 / 100.0) AS BIGINT)
        |    THEN c_acctbal END), 6) + 0.0 AS p50,
        |  round(max(CASE WHEN rn = CAST(ceil(n * 75 / 100.0) AS BIGINT)
        |    THEN c_acctbal END), 6) + 0.0 AS p75,
        |  round(max(CASE WHEN rn = CAST(ceil(n * 90 / 100.0) AS BIGINT)
        |    THEN c_acctbal END), 6) + 0.0 AS p90
        |FROM ranked GROUP BY c_mktsegment
        |ORDER BY c_mktsegment NULLS FIRST""".stripMargin,
    "q_mode" ->
      """SELECT o_orderstatus, o_orderpriority AS mode_priority,
        |  cnt AS mode_count
        |FROM (
        |  SELECT o_orderstatus, o_orderpriority, count(*) AS cnt,
        |    row_number() OVER (PARTITION BY o_orderstatus
        |      ORDER BY count(*) DESC, o_orderpriority ASC) AS rn
        |  FROM orders GROUP BY o_orderstatus, o_orderpriority) t
        |WHERE rn = 1 ORDER BY o_orderstatus NULLS FIRST""".stripMargin,
    "q_window_range" ->
      """SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
        |    PARTITION BY o_custkey ORDER BY epoch_us(o_orderdate)
        |    RANGE BETWEEN 2592000000000 PRECEDING AND CURRENT ROW)
        |    AS DOUBLE) AS trailing_30d_revenue
        |FROM orders
        |ORDER BY o_custkey NULLS FIRST, o_orderdate ASC, o_orderkey ASC""".stripMargin,
    "q_salted_agg" ->
      """SELECT event_type, count(*) AS cnt FROM events
        |GROUP BY event_type ORDER BY event_type NULLS FIRST""".stripMargin,
    "q_corr" ->
      """WITH s AS (
        |  SELECT l_returnflag, count(*) AS n,
        |    sum(CAST(round(l_quantity * 100, 0) AS HUGEINT)) AS sx,
        |    sum(CAST(round(l_extendedprice * 100, 0) AS HUGEINT)) AS sy,
        |    sum(CAST(round(l_quantity * 100, 0) AS HUGEINT) *
        |        CAST(round(l_extendedprice * 100, 0) AS HUGEINT)) AS sxy,
        |    sum(CAST(round(l_quantity * 100, 0) AS HUGEINT) *
        |        CAST(round(l_quantity * 100, 0) AS HUGEINT)) AS sxx,
        |    sum(CAST(round(l_extendedprice * 100, 0) AS HUGEINT) *
        |        CAST(round(l_extendedprice * 100, 0) AS HUGEINT)) AS syy
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag, n AS n_rows,
        |  round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
        |         - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
        |    (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |          - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) *
        |     sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
        |          - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6) + 0.0
        |    AS corr_qty_price
        |FROM s ORDER BY l_returnflag NULLS FIRST""".stripMargin,
    "q_corr_spearman" ->
      """WITH r AS (
        |  SELECT l_returnflag,
        |    rank() OVER wx + count(*) OVER wx AS rx,
        |    rank() OVER wy + count(*) OVER wy AS ry
        |  FROM lineitem
        |  WINDOW wx AS (PARTITION BY l_returnflag ORDER BY l_quantity ASC),
        |         wy AS (PARTITION BY l_returnflag ORDER BY l_extendedprice ASC)
        |), s AS (
        |  SELECT l_returnflag, count(*) AS n,
        |    sum(CAST(rx AS HUGEINT)) AS sx,
        |    sum(CAST(ry AS HUGEINT)) AS sy,
        |    sum(CAST(rx AS HUGEINT) * CAST(ry AS HUGEINT)) AS sxy,
        |    sum(CAST(rx AS HUGEINT) * CAST(rx AS HUGEINT)) AS sxx,
        |    sum(CAST(ry AS HUGEINT) * CAST(ry AS HUGEINT)) AS syy
        |  FROM r GROUP BY l_returnflag)
        |SELECT l_returnflag, n AS n_rows,
        |  round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
        |         - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
        |    (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |          - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) *
        |     sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
        |          - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6) + 0.0
        |    AS spearman_qty_price
        |FROM s ORDER BY l_returnflag NULLS FIRST""".stripMargin,
    "q_regression" ->
      """WITH j AS (
        |  SELECT c_mktsegment,
        |    CAST(round(c_acctbal * 100, 0) AS HUGEINT) AS x,
        |    CAST(round(o_totalprice * 100, 0) AS HUGEINT) AS y
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |), s AS (
        |  SELECT c_mktsegment, count(*) AS n,
        |    sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy,
        |    sum(x * x) AS sxx, sum(y * y) AS syy
        |  FROM j GROUP BY c_mktsegment
        |), d AS (
        |  SELECT c_mktsegment, n,
        |    CAST(n AS DOUBLE) AS nd, CAST(sx AS DOUBLE) AS sxd,
        |    CAST(sy AS DOUBLE) AS syd, CAST(sxy AS DOUBLE) AS sxyd,
        |    CAST(sxx AS DOUBLE) AS sxxd, CAST(syy AS DOUBLE) AS syyd
        |  FROM s)
        |SELECT c_mktsegment, n AS n_orders,
        |  round((nd * sxyd - sxd * syd) / (nd * sxxd - sxd * sxd), 6) + 0.0
        |    AS slope,
        |  round((syd - (nd * sxyd - sxd * syd) / (nd * sxxd - sxd * sxd)
        |         * sxd) / nd / 100.0, 6) + 0.0 AS intercept,
        |  round((nd * sxyd - sxd * syd) * (nd * sxyd - sxd * syd) /
        |    ((nd * sxxd - sxd * sxd) * (nd * syyd - syd * syd)), 6) + 0.0
        |    AS r2
        |FROM d ORDER BY c_mktsegment NULLS FIRST""".stripMargin,
    "q_overlap_kmv" ->
      s"""WITH pts AS (
        |  SELECT DISTINCT event_type,
        |    CAST('0x' || substring(md5('kmv:' || CAST(user_id AS VARCHAR)),
        |      1, 15) AS BIGINT) AS h
        |  FROM (SELECT DISTINCT event_type, user_id FROM events)
        |), sk AS (
        |  SELECT event_type, h FROM (
        |    SELECT event_type, h,
        |      row_number() OVER (PARTITION BY event_type ORDER BY h ASC)
        |        AS rn
        |    FROM pts) WHERE rn <= ${AnalyticsQueries.KmvK}
        |), ty AS (SELECT DISTINCT event_type FROM sk),
        |pairs AS (
        |  SELECT a.event_type AS t1, b.event_type AS t2
        |  FROM ty a JOIN ty b ON a.event_type < b.event_type),
        |pooled AS (
        |  SELECT p.t1, p.t2, s.h,
        |    max(CASE WHEN s.event_type = p.t1 THEN 1 ELSE 0 END) AS in_a,
        |    max(CASE WHEN s.event_type = p.t2 THEN 1 ELSE 0 END) AS in_b
        |  FROM pairs p JOIN sk s
        |    ON s.event_type = p.t1 OR s.event_type = p.t2
        |  GROUP BY p.t1, p.t2, s.h),
        |kept AS (
        |  SELECT * FROM (
        |    SELECT t1, t2, h, in_a, in_b,
        |      row_number() OVER (PARTITION BY t1, t2 ORDER BY h ASC) AS rn
        |    FROM pooled) WHERE rn <= ${AnalyticsQueries.KmvK}),
        |agg AS (
        |  SELECT t1, t2, count(*) AS k_used, max(h) AS theta,
        |    CAST(sum(CASE WHEN in_a = 1 AND in_b = 1 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_common
        |  FROM kept GROUP BY t1, t2)
        |SELECT t1, t2, k_used, n_common,
        |  round(CAST(n_common AS DOUBLE) / k_used, 6) + 0.0 AS jaccard_est,
        |  round(CASE WHEN k_used < ${AnalyticsQueries.KmvK}
        |      THEN CAST(k_used AS DOUBLE)
        |      ELSE ${(AnalyticsQueries.KmvK - 1).toDouble} /
        |        (CAST(theta AS DOUBLE) / 1152921504606846976.0) END, 6)
        |    + 0.0 AS union_est,
        |  round((CAST(n_common AS DOUBLE) / k_used) *
        |    (CASE WHEN k_used < ${AnalyticsQueries.KmvK}
        |      THEN CAST(k_used AS DOUBLE)
        |      ELSE ${(AnalyticsQueries.KmvK - 1).toDouble} /
        |        (CAST(theta AS DOUBLE) / 1152921504606846976.0) END), 6)
        |    + 0.0 AS inter_est
        |FROM agg ORDER BY t1 NULLS FIRST, t2 NULLS FIRST""".stripMargin,
    "q_mutual_info" ->
      """WITH grid AS (
        |  SELECT event_type, hour(ts) AS hour, count(*) AS n
        |  FROM events GROUP BY 1, 2
        |), t AS (
        |  SELECT event_type, hour, n,
        |    CAST(sum(n) OVER (PARTITION BY event_type) AS BIGINT) AS n_type,
        |    CAST(sum(n) OVER (PARTITION BY hour) AS BIGINT) AS n_hour,
        |    CAST(sum(n) OVER () AS BIGINT) AS tot
        |  FROM grid)
        |SELECT event_type, hour, n, n_type, n_hour,
        |  CAST(round((CAST(n AS DOUBLE) / tot) *
        |    ln(CAST(n AS DOUBLE) * tot / (CAST(n_type AS DOUBLE) * n_hour))
        |    * 1000000, 0) AS BIGINT) AS mi_term_micro
        |FROM t
        |ORDER BY event_type NULLS FIRST, hour NULLS FIRST""".stripMargin,
    "q_benford" -> {
      val cases = StatsQueries.BenfordExpected
        .map { case (d, p) => s"WHEN $d THEN ${p.toString}" }
        .mkString(" ")
      s"""WITH grid AS (
        |  SELECT o_orderpriority,
        |    CAST(substr(CAST(CAST(round(o_totalprice * 100, 0) AS BIGINT)
        |      AS VARCHAR), 1, 1) AS INTEGER) AS digit,
        |    count(*) AS n_orders
        |  FROM orders GROUP BY 1, 2
        |), t AS (
        |  SELECT o_orderpriority, digit, n_orders,
        |    CAST(sum(n_orders) OVER (PARTITION BY o_orderpriority)
        |      AS BIGINT) AS total,
        |    CASE digit $cases END AS expf
        |  FROM grid)
        |SELECT o_orderpriority, digit, n_orders,
        |  round(CAST(n_orders AS DOUBLE) / total, 6) + 0.0 AS obs_freq,
        |  round(expf, 6) + 0.0 AS exp_freq,
        |  round((CAST(n_orders AS DOUBLE) / total - expf)
        |    * (CAST(n_orders AS DOUBLE) / total - expf)
        |    / expf * total, 6) + 0.0 AS chi2_term
        |FROM t
        |ORDER BY o_orderpriority NULLS FIRST, digit NULLS FIRST""".stripMargin
    },
    "q_histogram" ->
      """SELECT bucket, bucket * 50000 AS lo, (bucket + 1) * 50000 AS hi,
        |  count(*) AS n_orders
        |FROM (SELECT CAST(floor(o_totalprice / 50000.0) AS BIGINT) AS bucket
        |      FROM orders) t
        |GROUP BY bucket ORDER BY bucket NULLS FIRST""".stripMargin,
    "q_dedup_embed" ->
      """WITH e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
        |SELECT a.vec_id AS vec_id_1, b.vec_id AS vec_id_2,
        |  round(list_dot_product(a.v, b.v) /
        |    (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))),
        |    6) + 0.0 AS cosine
        |FROM e a JOIN e b ON a.vec_id < b.vec_id
        |WHERE round(list_dot_product(a.v, b.v) /
        |    (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))),
        |    6) + 0.0 >= 0.4
        |ORDER BY vec_id_1 NULLS FIRST, vec_id_2 NULLS FIRST""".stripMargin,
    // The incremental-ledger flow's output IS the one-shot banded-LSH
    // candidate pair set (append-monotone theorem, MinHashLedgerSpec);
    // the oracle computes that one-shot set directly: 16 salted-md5
    // min-hashes per doc, 4 bands of 4 slots, docs sharing a full band
    // bucket pair up, bucket df capped at 10000 (never binds at
    // fixture scale but encoded for faithfulness).
    "q_dedup_incremental" ->
      """WITH toks AS (
        |  SELECT doc_id, list_distinct(list_filter(
        |    string_split_regex(lower(text), '[^a-z]+'), x -> x <> '')) AS toks
        |  FROM documents WHERE doc_id % 5 = 0
        |), sigs AS (
        |  SELECT doc_id, [
        |    list_min(list_transform(toks, t -> md5('mh0:' || t))),
        |    list_min(list_transform(toks, t -> md5('mh1:' || t))),
        |    list_min(list_transform(toks, t -> md5('mh2:' || t))),
        |    list_min(list_transform(toks, t -> md5('mh3:' || t))),
        |    list_min(list_transform(toks, t -> md5('mh4:' || t))),
        |    list_min(list_transform(toks, t -> md5('mh5:' || t))),
        |    list_min(list_transform(toks, t -> md5('mh6:' || t))),
        |    list_min(list_transform(toks, t -> md5('mh7:' || t))),
        |    list_min(list_transform(toks, t -> md5('mh8:' || t))),
        |    list_min(list_transform(toks, t -> md5('mh9:' || t))),
        |    list_min(list_transform(toks, t -> md5('mh10:' || t))),
        |    list_min(list_transform(toks, t -> md5('mh11:' || t))),
        |    list_min(list_transform(toks, t -> md5('mh12:' || t))),
        |    list_min(list_transform(toks, t -> md5('mh13:' || t))),
        |    list_min(list_transform(toks, t -> md5('mh14:' || t))),
        |    list_min(list_transform(toks, t -> md5('mh15:' || t)))] AS sig
        |  FROM toks WHERE len(toks) > 0
        |), bands AS (
        |  SELECT doc_id, g.b AS band,
        |    sig[g.b*4+1] || '|' || sig[g.b*4+2] || '|' ||
        |    sig[g.b*4+3] || '|' || sig[g.b*4+4] AS bucket
        |  FROM sigs, (SELECT unnest([0,1,2,3]) AS b) g
        |), ok AS (
        |  SELECT band, bucket FROM bands
        |  GROUP BY band, bucket HAVING count(*) > 1 AND count(*) <= 10000
        |)
        |SELECT DISTINCT a.doc_id AS doc_id_1, c.doc_id AS doc_id_2
        |FROM bands a
        |JOIN ok o ON o.band = a.band AND o.bucket = a.bucket
        |JOIN bands c ON a.band = c.band AND a.bucket = c.bucket
        |  AND a.doc_id < c.doc_id
        |ORDER BY doc_id_1, doc_id_2""".stripMargin,
    // The incremental CLUSTER flow resolves to the min-label connected
    // components of the one-shot banded-LSH pair set over the same
    // universe (ClusterLedger patch-append folds compose to a full
    // recompute — ClusterLedgerSpec); the oracle replays exactly that:
    // the q_dedup_incremental pair CTE, recursive reachability, min
    // label per vertex, unpaired universe docs self-labeled.
    // CAP CAVEAT: the oracle's `count(*) <= 10000` applies to ONE-SHOT
    // full-bucket populations, while the ledger guard evaluates the cap
    // per batch over ledger-so-far ∪ batch — the two sides are equal
    // only while the cap never binds (append-monotone divergence once a
    // bucket crosses it mid-stream). That holds at fixture and 10x scale
    // with margin; ClusterLedgerSpec's cap-headroom guard fails loudly
    // if a future fixture approaches the cap, instead of surfacing as an
    // opaque oracle hash mismatch here.
    "q_dedup_incr_clusters" ->
      """WITH RECURSIVE toks AS (
        |  SELECT doc_id, list_distinct(list_filter(
        |    string_split_regex(lower(text), '[^a-z]+'), x -> x <> '')) AS toks
        |  FROM documents WHERE doc_id % 5 = 0
        |), sigs AS (
        |  SELECT doc_id, [
        |    list_min(list_transform(toks, t -> md5('mh0:' || t))),
        |    list_min(list_transform(toks, t -> md5('mh1:' || t))),
        |    list_min(list_transform(toks, t -> md5('mh2:' || t))),
        |    list_min(list_transform(toks, t -> md5('mh3:' || t))),
        |    list_min(list_transform(toks, t -> md5('mh4:' || t))),
        |    list_min(list_transform(toks, t -> md5('mh5:' || t))),
        |    list_min(list_transform(toks, t -> md5('mh6:' || t))),
        |    list_min(list_transform(toks, t -> md5('mh7:' || t))),
        |    list_min(list_transform(toks, t -> md5('mh8:' || t))),
        |    list_min(list_transform(toks, t -> md5('mh9:' || t))),
        |    list_min(list_transform(toks, t -> md5('mh10:' || t))),
        |    list_min(list_transform(toks, t -> md5('mh11:' || t))),
        |    list_min(list_transform(toks, t -> md5('mh12:' || t))),
        |    list_min(list_transform(toks, t -> md5('mh13:' || t))),
        |    list_min(list_transform(toks, t -> md5('mh14:' || t))),
        |    list_min(list_transform(toks, t -> md5('mh15:' || t)))] AS sig
        |  FROM toks WHERE len(toks) > 0
        |), bands AS (
        |  SELECT doc_id, g.b AS band,
        |    sig[g.b*4+1] || '|' || sig[g.b*4+2] || '|' ||
        |    sig[g.b*4+3] || '|' || sig[g.b*4+4] AS bucket
        |  FROM sigs, (SELECT unnest([0,1,2,3]) AS b) g
        |), ok AS (
        |  SELECT band, bucket FROM bands
        |  GROUP BY band, bucket HAVING count(*) > 1 AND count(*) <= 10000
        |), jp AS (
        |  SELECT DISTINCT a.doc_id AS d1, c.doc_id AS d2
        |  FROM bands a
        |  JOIN ok o ON o.band = a.band AND o.bucket = a.bucket
        |  JOIN bands c ON a.band = c.band AND a.bucket = c.bucket
        |    AND a.doc_id < c.doc_id
        |), edges AS (
        |  SELECT d1 AS src, d2 AS dst FROM jp
        |  UNION
        |  SELECT d2 AS src, d1 AS dst FROM jp
        |), verts AS (SELECT DISTINCT src AS id FROM edges),
        |reach(id, comp) AS (
        |  SELECT id, id FROM verts
        |  UNION
        |  SELECT e.dst, r.comp FROM reach r JOIN edges e ON e.src = r.id),
        |comp AS (SELECT id, min(comp) AS component FROM reach GROUP BY id)
        |SELECT s.doc_id AS id, COALESCE(c.component, s.doc_id) AS component
        |FROM sigs s LEFT JOIN comp c ON c.id = s.doc_id
        |ORDER BY id""".stripMargin,
    "q_dedup_minhash" ->
      """WITH sigs AS (
        |  SELECT doc_id, concat_ws('|',
        |    list_min(list_transform(toks, t -> md5('s1:' || t))),
        |    list_min(list_transform(toks, t -> md5('s2:' || t))),
        |    list_min(list_transform(toks, t -> md5('s3:' || t))),
        |    list_min(list_transform(toks, t -> md5('s4:' || t)))) AS signature
        |  FROM (SELECT doc_id, list_distinct(list_filter(
        |          string_split_regex(lower(text), '[^a-z]+'), x -> x <> '')) AS toks
        |        FROM documents) d)
        |SELECT min(doc_id) AS canonical_doc_id, count(*) AS group_size
        |FROM sigs GROUP BY signature
        |ORDER BY canonical_doc_id NULLS FIRST""".stripMargin,
    "q_ngram_jaccard" ->
      """WITH docs AS (
        |  SELECT doc_id, list_filter(
        |    string_split_regex(lower(text), '[^a-z]+'), x -> x <> '') AS toks
        |  FROM documents
        |), sh AS (
        |  SELECT doc_id, CASE WHEN len(toks) >= 3
        |    THEN list_distinct(list_transform(range(1, len(toks) - 1),
        |         i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
        |    ELSE [] END AS s
        |  FROM docs
        |), ex0 AS (SELECT doc_id, unnest(s) AS sh FROM sh),
        |ex AS (
        |  SELECT doc_id, sh FROM (
        |    SELECT doc_id, sh, count(*) OVER (PARTITION BY sh) AS df
        |    FROM ex0)
        |  WHERE df <= 1000),
        |sz AS (SELECT doc_id, len(s) AS n FROM sh),
        |pairs AS (
        |  SELECT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2, count(*) AS shared
        |  FROM ex a JOIN ex b ON a.sh = b.sh AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT doc_id_1, doc_id_2,
        |  round(shared * 1.0 / (x.n + y.n - shared), 6) + 0.0 AS jaccard
        |FROM pairs JOIN sz x ON doc_id_1 = x.doc_id JOIN sz y ON doc_id_2 = y.doc_id
        |WHERE round(shared * 1.0 / (x.n + y.n - shared), 6) + 0.0 >= 0.5
        |ORDER BY doc_id_1 NULLS FIRST, doc_id_2 NULLS FIRST""".stripMargin,
    "q_dedup_substring" ->
      """WITH g AS (
        |  SELECT doc_id,
        |    ('0x' || substr(md5(substr(text, CAST(i AS INT), 24)), 1, 15))::BIGINT AS h
        |  FROM documents, LATERAL (
        |    SELECT unnest(range(1, CASE WHEN length(text) >= 24
        |                                THEN length(text) - 22 ELSE 1 END)) AS i) p
        |), fp AS (SELECT DISTINCT doc_id, h FROM g WHERE h % 8 = 0),
        |capped AS (
        |  SELECT doc_id, h FROM (
        |    SELECT doc_id, h, count(*) OVER (PARTITION BY h) AS df FROM fp)
        |  WHERE df <= 200)
        |SELECT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2, count(*) AS shared
        |FROM capped a JOIN capped b ON a.h = b.h AND a.doc_id < b.doc_id
        |GROUP BY 1, 2 HAVING count(*) >= 2
        |ORDER BY doc_id_1 NULLS FIRST, doc_id_2 NULLS FIRST""".stripMargin,
    "q_containment" ->
      """WITH docs AS (
        |  SELECT doc_id, list_filter(
        |    string_split_regex(lower(text), '[^a-z]+'), x -> x <> '') AS toks
        |  FROM documents
        |), sh AS (
        |  SELECT doc_id, CASE WHEN len(toks) >= 3
        |    THEN list_distinct(list_transform(range(1, len(toks) - 1),
        |         i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
        |    ELSE [] END AS s
        |  FROM docs
        |), ex0 AS (SELECT doc_id, unnest(s) AS sh FROM sh),
        |ex AS (
        |  SELECT doc_id, sh FROM (
        |    SELECT doc_id, sh, count(*) OVER (PARTITION BY sh) AS df
        |    FROM ex0)
        |  WHERE df <= 1000),
        |sz AS (SELECT doc_id, len(s) AS n FROM sh),
        |pairs AS (
        |  SELECT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2, count(*) AS shared
        |  FROM ex a JOIN ex b ON a.sh = b.sh AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT doc_id_1, doc_id_2,
        |  round(shared * 1.0 / least(x.n, y.n), 6) + 0.0 AS containment
        |FROM pairs JOIN sz x ON doc_id_1 = x.doc_id JOIN sz y ON doc_id_2 = y.doc_id
        |WHERE round(shared * 1.0 / least(x.n, y.n), 6) + 0.0 >= 0.8
        |ORDER BY doc_id_1 NULLS FIRST, doc_id_2 NULLS FIRST""".stripMargin,
    "q_sessionpath" ->
      """WITH ev AS (
        |  SELECT user_id, event_id, event_type, epoch_us(ts) AS us FROM events),
        |s AS (
        |  SELECT *, CASE WHEN lag(us) OVER w IS NULL
        |                   OR us - lag(us) OVER w > 1800000000
        |            THEN 1 ELSE 0 END AS brk
        |  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
        |s2 AS (
        |  SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY us, event_id
        |                           ROWS UNBOUNDED PRECEDING) AS sess
        |  FROM s),
        |p AS (
        |  SELECT user_id, sess,
        |    string_agg(event_type, '>' ORDER BY us, event_id) AS path
        |  FROM s2 GROUP BY 1, 2)
        |SELECT path, count(*) AS n_sessions FROM p GROUP BY path
        |ORDER BY n_sessions DESC, path NULLS FIRST
        |LIMIT 100""".stripMargin,
    "q_fingerprint" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(toks) AS t, generate_subscripts(toks, 1) AS pos
        |  FROM (SELECT doc_id, list_filter(
        |          string_split_regex(lower(text), '[^a-z]+'), x -> x <> '') AS toks
        |        FROM documents) d)
        |SELECT doc_id, CAST(sum(
        |    (('0x' || substr(md5(t), 1, 8))::BIGINT *
        |     ((pos * 2654435761) % 1000003)) % 1000000007
        |  ) % 1000000007 AS BIGINT) AS fingerprint
        |FROM tok GROUP BY doc_id ORDER BY doc_id NULLS FIRST""".stripMargin,
    "q_readability" ->
      """WITH t AS (
        |  SELECT doc_id, lang,
        |    list_filter(string_split_regex(lower(text), '[^a-z]+'),
        |      x -> x <> '') AS toks,
        |    greatest(1, len(list_filter(
        |      string_split_regex(lower(text), '[.!?]+'),
        |      s -> regexp_matches(s, '[a-z]')))) AS n_sentences,
        |    len(regexp_extract_all(lower(text), '[aeiouy]+')) AS runs
        |  FROM documents)
        |SELECT doc_id, lang,
        |  CAST(len(toks) AS INT) AS n_words,
        |  CAST(n_sentences AS INT) AS n_sentences,
        |  CAST(runs + len(list_filter(toks,
        |    w -> NOT regexp_matches(w, '[aeiouy]'))) AS INT) AS n_syllables,
        |  round(206.835
        |    - 1.015 * (CAST(len(toks) AS DOUBLE) / n_sentences)
        |    - 84.6 * (CAST(runs + len(list_filter(toks,
        |        w -> NOT regexp_matches(w, '[aeiouy]'))) AS DOUBLE)
        |      / len(toks)), 6) + 0.0 AS flesch
        |FROM t WHERE len(toks) > 0
        |ORDER BY doc_id NULLS FIRST""".stripMargin,
    "q_text_quality" ->
      """SELECT doc_id, lang,
        |  CAST(len(toks) AS INT) AS n_tokens,
        |  round(len(list_distinct(toks)) * 1.0 / len(toks), 6) + 0.0
        |    AS type_token_ratio,
        |  round(len(list_filter(toks, t -> t = 'the' OR t = 'a')) * 1.0
        |    / len(toks), 6) + 0.0 AS stopword_ratio,
        |  round(CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE)
        |    / len(toks), 6) + 0.0 AS avg_token_len,
        |  round(0.4 * (len(list_distinct(toks)) * 1.0 / len(toks)) +
        |        0.4 * (1.0 - len(list_filter(toks, t -> t = 'the' OR t = 'a'))
        |               * 1.0 / len(toks)) +
        |        0.2 * least(CAST(list_sum(list_transform(toks, t -> length(t)))
        |               AS DOUBLE) / len(toks) / 10.0, 1.0), 6) + 0.0
        |    AS quality_score
        |FROM (SELECT doc_id, lang, list_filter(
        |        string_split_regex(lower(text), '[^a-z]+'), x -> x <> '') AS toks
        |      FROM documents) d
        |ORDER BY doc_id NULLS FIRST""".stripMargin,
    "q_token_count" ->
      """SELECT lang, count(*) AS n_docs,
        |  CAST(sum(len(list_filter(string_split_regex(text, '\s+'),
        |    t -> t <> ''))) AS BIGINT) AS ws_tokens,
        |  CAST(sum(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\s]')))
        |    AS BIGINT) AS bpe_tokens,
        |  round(CAST(sum(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\s]')))
        |      AS DOUBLE) /
        |    sum(len(list_filter(string_split_regex(text, '\s+'), t -> t <> ''))),
        |    6) + 0.0 AS bpe_per_ws
        |FROM documents GROUP BY lang ORDER BY lang NULLS FIRST""".stripMargin,
    "q_lang_id" ->
      """WITH alltok AS (
        |  SELECT lang, unnest(list_filter(
        |    string_split_regex(lower(text), '[^a-z]+'), x -> x <> '')) AS word
        |  FROM documents
        |), profiles AS (
        |  SELECT lang AS profile_lang, word FROM (
        |    SELECT lang, word, row_number() OVER (PARTITION BY lang
        |      ORDER BY count(*) DESC, word ASC) AS rn
        |    FROM alltok GROUP BY lang, word) t
        |  WHERE rn <= 5
        |), doctok AS (
        |  SELECT doc_id, lang, unnest(list_distinct(list_filter(
        |    string_split_regex(lower(text), '[^a-z]+'), x -> x <> ''))) AS word
        |  FROM documents
        |), overlap AS (
        |  SELECT d.doc_id, d.lang, p.profile_lang, count(*) AS ov
        |  FROM doctok d JOIN profiles p ON d.word = p.word
        |  GROUP BY 1, 2, 3
        |), guessed AS (
        |  SELECT doc_id, lang, profile_lang, row_number() OVER (
        |    PARTITION BY doc_id ORDER BY ov DESC, profile_lang ASC) AS rn
        |  FROM overlap)
        |SELECT lang, profile_lang AS guess, count(*) AS n_docs
        |FROM guessed WHERE rn = 1 GROUP BY lang, profile_lang
        |ORDER BY lang NULLS FIRST, guess NULLS FIRST""".stripMargin,
    // Brute-force all-pairs Jaccard over word-bigram shingle sets: the
    // ground truth the prefix-filtered join must reproduce exactly
    // (integer threshold 3o >= n1+n2 <=> J >= 1/2 — no float cut).
    "q_setsim_prefix" ->
      """WITH t AS (
        |  SELECT doc_id, list_filter(
        |    string_split_regex(lower(text), '[^a-z]+'), x -> x <> '') AS ts
        |  FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id, array_to_string(list_slice(ts, i, i + 1), ' ') AS s
        |  FROM t, unnest(generate_series(1, len(ts) - 1)) AS u(i)
        |  WHERE len(ts) >= 2),
        |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        |o AS (
        |  SELECT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2, count(*) AS n_common
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT doc_id_1, doc_id_2, n_common,
        |  round(CAST(n_common AS DOUBLE) / (za.n + zb.n - n_common), 6) AS jaccard
        |FROM o JOIN sz za ON doc_id_1 = za.doc_id JOIN sz zb ON doc_id_2 = zb.doc_id
        |WHERE n_common * 3 >= za.n + zb.n
        |ORDER BY doc_id_1 NULLS FIRST, doc_id_2 NULLS FIRST""".stripMargin,
    "q_dup_ngram_frac" ->
      """WITH t AS (
        |  SELECT doc_id, list_filter(
        |    string_split_regex(lower(text), '[^a-z]+'), x -> x <> '') AS ts
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, array_to_string(list_slice(ts, i, i + 4), ' ') AS ng
        |  FROM t, unnest(generate_series(1, len(ts) - 4)) AS u(i)
        |  WHERE len(ts) >= 5),
        |dfreq AS (SELECT ng, count(DISTINCT doc_id) AS df FROM g GROUP BY ng)
        |SELECT g.doc_id, count(*) AS n_ngrams,
        |  CAST(sum(CASE WHEN d.df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
        |  round(CAST(sum(CASE WHEN d.df >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
        |    / count(*), 6) AS dup_frac
        |FROM g JOIN dfreq d ON g.ng = d.ng
        |GROUP BY g.doc_id ORDER BY doc_id NULLS FIRST""".stripMargin,
    // Add-one-smoothed bigram LM: per-bigram surprisal rounded to
    // integer micro-nats BEFORE the per-doc sum (q_lm_score's recipe).
    "q_bigram_lm" ->
      """WITH t AS (
        |  SELECT doc_id, lang, list_filter(
        |    string_split_regex(lower(text), '[^a-z]+'), x -> x <> '') AS ts
        |  FROM documents),
        |bg AS (
        |  SELECT doc_id, lang, ts[i] AS w1, ts[i + 1] AS w2
        |  FROM t, unnest(generate_series(1, len(ts) - 1)) AS u(i)
        |  WHERE len(ts) >= 2),
        |vocab AS (
        |  SELECT lang, count(*) AS v FROM (
        |    SELECT DISTINCT lang, w FROM (
        |      SELECT lang, w1 AS w FROM bg
        |      UNION ALL SELECT lang, w2 AS w FROM bg) q) qq
        |  GROUP BY lang),
        |ctx AS (SELECT lang, w1, count(*) AS n_ctx FROM bg GROUP BY lang, w1),
        |model AS (
        |  SELECT m.lang, m.w1, m.w2,
        |    CAST(round(-ln(CAST(m.n_bg + 1 AS DOUBLE) / (c.n_ctx + vv.v))
        |      * 1000000.0, 0) AS BIGINT) AS su
        |  FROM (SELECT lang, w1, w2, count(*) AS n_bg FROM bg
        |        GROUP BY lang, w1, w2) m
        |  JOIN ctx c ON m.lang = c.lang AND m.w1 = c.w1
        |  JOIN vocab vv ON m.lang = vv.lang)
        |SELECT b.doc_id, b.lang, count(*) AS n_bigrams,
        |  round(CAST(sum(mo.su) AS DOUBLE) / count(*) / 1000000.0, 6)
        |    AS avg_surprisal
        |FROM bg b JOIN model mo
        |  ON b.lang = mo.lang AND b.w1 = mo.w1 AND b.w2 = mo.w2
        |GROUP BY b.doc_id, b.lang
        |ORDER BY doc_id NULLS FIRST""".stripMargin,
    // Pearson over (x_t, x_{t-k}) with exact integer moment sums; the
    // only float step is the final rounded division (q_corr's recipe).
    "q_autocorr" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS d, count(*) AS c
        |  FROM events GROUP BY 1, 2),
        |lagged AS (
        |  SELECT event_type, CAST(1 AS BIGINT) AS lag, c AS y,
        |    lag(c, 1) OVER w1 AS x FROM daily
        |    WINDOW w1 AS (PARTITION BY event_type ORDER BY d)
        |  UNION ALL
        |  SELECT event_type, CAST(2 AS BIGINT) AS lag, c AS y,
        |    lag(c, 2) OVER w2 AS x FROM daily
        |    WINDOW w2 AS (PARTITION BY event_type ORDER BY d)
        |  UNION ALL
        |  SELECT event_type, CAST(3 AS BIGINT) AS lag, c AS y,
        |    lag(c, 3) OVER w3 AS x FROM daily
        |    WINDOW w3 AS (PARTITION BY event_type ORDER BY d))
        |SELECT event_type, lag, count(*) AS n_pairs,
        |  round(
        |    CAST(count(*) * sum(x * y) - sum(x) * sum(y) AS DOUBLE) /
        |    (sqrt(CAST(count(*) * sum(x * x) - sum(x) * sum(x) AS DOUBLE)) *
        |     sqrt(CAST(count(*) * sum(y * y) - sum(y) * sum(y) AS DOUBLE))), 6)
        |    AS autocorr
        |FROM lagged WHERE x IS NOT NULL
        |GROUP BY event_type, lag
        |ORDER BY event_type NULLS FIRST, lag NULLS FIRST""".stripMargin,
    // Weekday = epoch-days mod 7 (0 = Thursday) — integer date
    // arithmetic on both sides, no ISO/locale first-day ambiguity.
    "q_seasonal" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS d, count(*) AS c
        |  FROM events GROUP BY 1, 2),
        |bydow AS (
        |  SELECT event_type,
        |    CAST(datediff('day', DATE '1970-01-01', d) % 7 AS BIGINT) AS dow,
        |    count(*) AS n_days, CAST(sum(c) AS BIGINT) AS n_events
        |  FROM daily GROUP BY 1, 2),
        |tot AS (SELECT event_type, CAST(sum(n_events) AS BIGINT) AS n_total
        |        FROM bydow GROUP BY 1)
        |SELECT b.event_type, b.dow, b.n_days, b.n_events,
        |  round(CAST(b.n_events AS DOUBLE) / b.n_days, 6) AS avg_daily,
        |  round(CAST(b.n_events AS DOUBLE) / t.n_total, 6) AS volume_share
        |FROM bydow b JOIN tot t ON b.event_type = t.event_type
        |ORDER BY b.event_type NULLS FIRST, dow NULLS FIRST""".stripMargin,
    // n·CUSUM_d = n·S_d − d·T stays exact-integer; argmax by
    // (|cusum| desc, date asc) — no float ever decides the winner.
    "q_changepoint" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS d, count(*) AS c
        |  FROM events GROUP BY 1, 2),
        |scored AS (
        |  SELECT event_type, d,
        |    CAST(count(*) OVER w_all * sum(c) OVER w_ord
        |         - row_number() OVER w_ord * sum(c) OVER w_all AS BIGINT)
        |      AS cusum_scaled
        |  FROM daily
        |  WINDOW
        |    w_ord AS (PARTITION BY event_type ORDER BY d
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |    w_all AS (PARTITION BY event_type)),
        |rk AS (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY event_type
        |    ORDER BY abs(cusum_scaled) DESC, d ASC) AS r
        |  FROM scored)
        |SELECT event_type, d AS change_day, cusum_scaled,
        |  CASE WHEN cusum_scaled < 0 THEN 'rise'
        |       WHEN cusum_scaled > 0 THEN 'drop'
        |       ELSE 'flat' END AS direction
        |FROM rk WHERE r = 1
        |ORDER BY event_type NULLS FIRST""".stripMargin,
    // q_triangles' enumeration extended with degrees; zero-triangle
    // nodes of degree >= 2 kept via the left join.
    "q_clustering_coef" ->
      """WITH pairs AS (
        |  SELECT a.l_partkey AS u, b.l_partkey AS v
        |  FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) a
        |  JOIN (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
        |und AS (SELECT u, v FROM pairs GROUP BY u, v HAVING count(*) >= 2),
        |deg AS (
        |  SELECT node, count(*) AS deg FROM (
        |    SELECT u AS node FROM und UNION ALL SELECT v AS node FROM und) q
        |  GROUP BY node),
        |tri AS (
        |  SELECT e1.u AS a, e1.v AS b, e2.v AS c
        |  FROM und e1
        |  JOIN und e2 ON e2.u = e1.v
        |  JOIN und e3 ON e3.u = e1.u AND e3.v = e2.v),
        |n AS (SELECT a AS node FROM tri UNION ALL SELECT b AS node FROM tri
        |      UNION ALL SELECT c AS node FROM tri),
        |tcount AS (SELECT node, count(*) AS n_triangles FROM n GROUP BY node)
        |SELECT d.node, d.deg,
        |  CAST(COALESCE(t.n_triangles, 0) AS BIGINT) AS n_triangles,
        |  round(CAST(COALESCE(t.n_triangles, 0) AS DOUBLE) * 2.0 /
        |    (d.deg * (d.deg - 1)), 6) + 0.0 AS clustering_coef
        |FROM deg d LEFT JOIN tcount t ON d.node = t.node
        |WHERE d.deg >= 2
        |ORDER BY d.node NULLS FIRST""".stripMargin,
    // exact-rank median/p90 (q_median's recipe) over integer-micro lags
    "q_conversion_lag" ->
      """WITH su AS (
        |  SELECT user_id, min(ts) AS signup_ts FROM events
        |  WHERE event_type = 'signup' GROUP BY user_id),
        |fp AS (
        |  SELECT e.user_id, min(e.ts) AS purchase_ts
        |  FROM events e JOIN su ON e.user_id = su.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts >= su.signup_ts
        |  GROUP BY e.user_id),
        |conv AS (
        |  SELECT su.user_id, CAST(su.signup_ts AS DATE) AS cohort_day,
        |    epoch_us(fp.purchase_ts) - epoch_us(su.signup_ts) AS lag_us
        |  FROM su JOIN fp ON su.user_id = fp.user_id),
        |ranked AS (
        |  SELECT *,
        |    row_number() OVER (PARTITION BY cohort_day
        |      ORDER BY lag_us ASC, user_id ASC) AS rn,
        |    count(*) OVER (PARTITION BY cohort_day) AS n
        |  FROM conv)
        |SELECT cohort_day, max(n) AS n_converted,
        |  round(avg(CASE WHEN rn = (n + 1) // 2 OR rn = n // 2 + 1
        |            THEN lag_us END) / 3600000000.0, 6) + 0.0
        |    AS median_lag_hours,
        |  round(CAST(max(CASE WHEN rn = (9 * n + 9) // 10 THEN lag_us END)
        |    AS DOUBLE) / 3600000000.0, 6) + 0.0 AS p90_lag_hours
        |FROM ranked GROUP BY cohort_day
        |ORDER BY cohort_day NULLS FIRST""".stripMargin,
    "q_ngram_novelty" ->
      """WITH t AS (
        |  SELECT doc_id, list_filter(
        |    string_split_regex(lower(text), '[^a-z]+'), x -> x <> '') AS ts
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, array_to_string(list_slice(ts, i, i + 4), ' ') AS ng
        |  FROM t, unnest(generate_series(1, len(ts) - 4)) AS u(i)
        |  WHERE len(ts) >= 5),
        |firstdoc AS (SELECT ng, min(doc_id) AS first_doc FROM g GROUP BY ng)
        |SELECT g.doc_id, count(*) AS n_ngrams,
        |  CAST(sum(CASE WHEN f.first_doc < g.doc_id THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_seen,
        |  round(CAST(count(*) - sum(CASE WHEN f.first_doc < g.doc_id
        |      THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) + 0.0
        |    AS novelty_frac
        |FROM g JOIN firstdoc f ON g.ng = f.ng
        |GROUP BY g.doc_id ORDER BY doc_id NULLS FIRST""".stripMargin,
    "q_class_balance" ->
      """WITH pl AS (SELECT label, count(*) AS n_vecs FROM embeddings
        |  GROUP BY label),
        |t AS (SELECT CAST(sum(n_vecs) AS BIGINT) AS n_total,
        |  count(*) AS k_labels, max(n_vecs) AS max_n FROM pl)
        |SELECT label, n_vecs,
        |  round(CAST(n_vecs AS DOUBLE) / n_total, 6) + 0.0 AS frac,
        |  round(CAST(n_total AS DOUBLE) / CAST(k_labels * n_vecs AS DOUBLE), 6)
        |    + 0.0 AS class_weight,
        |  n_vecs = max_n AS is_majority
        |FROM pl CROSS JOIN t ORDER BY label NULLS FIRST""".stripMargin,
    "q_embed_var" ->
      """WITH pos AS (SELECT unnest(range(1, 65)) AS dim),
        |e AS (
        |  SELECT CAST(dim AS INT) AS dim,
        |    CAST(round(CAST(embedding[dim] AS DOUBLE) * 1000000, 0) AS BIGINT)
        |      AS q
        |  FROM embeddings CROSS JOIN pos),
        |a AS (
        |  SELECT dim, count(*) AS n_vecs, CAST(sum(q) AS BIGINT) AS s,
        |    CAST(sum(q * q) AS BIGINT) AS ss
        |  FROM e GROUP BY dim)
        |SELECT dim, n_vecs,
        |  round(CAST(s AS DOUBLE) / (CAST(n_vecs AS DOUBLE) * 1e6), 6) + 0.0
        |    AS mean,
        |  round(CAST(ss AS DOUBLE) / (CAST(n_vecs AS DOUBLE) * 1e12)
        |    - (CAST(s AS DOUBLE) / (CAST(n_vecs AS DOUBLE) * 1e6))
        |    * (CAST(s AS DOUBLE) / (CAST(n_vecs AS DOUBLE) * 1e6)), 6) + 0.0
        |    AS variance
        |FROM a ORDER BY dim NULLS FIRST""".stripMargin,
    "q_split_group" ->
      """SELECT CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val'
        |    ELSE 'test' END AS split,
        |  count(DISTINCT source) AS n_sources,
        |  count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS n_chars,
        |  min(source) AS min_source
        |FROM (
        |  SELECT source, n_chars,
        |    CAST('0x' || substring(md5('gsplit:' || source), 1, 4) AS BIGINT)
        |      % 100 AS b
        |  FROM documents)
        |GROUP BY 1 ORDER BY split NULLS FIRST""".stripMargin,
    "q_knn_confusion" ->
      """WITH e AS (
        |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings
        |), pairs AS (
        |  SELECT p.vec_id AS probe_id, c.vec_id AS vec_id,
        |    round(list_dot_product(p.v, c.v) /
        |      (sqrt(list_dot_product(p.v, p.v)) *
        |       sqrt(list_dot_product(c.v, c.v))), 6) + 0.0 AS cosine
        |  FROM e p JOIN e c ON p.vec_id % 100 = 0 AND c.vec_id <> p.vec_id
        |), ranked AS (
        |  SELECT probe_id, vec_id,
        |    row_number() OVER (PARTITION BY probe_id
        |      ORDER BY cosine DESC, vec_id ASC) AS rank
        |  FROM pairs
        |), votes AS (
        |  SELECT probe_id, l.label, count(*) AS votes
        |  FROM ranked r JOIN e l ON r.vec_id = l.vec_id
        |  WHERE r.rank <= 5 GROUP BY 1, 2
        |), pred AS (
        |  SELECT probe_id, label AS pred_label,
        |    row_number() OVER (PARTITION BY probe_id
        |      ORDER BY votes DESC, label ASC) AS rn
        |  FROM votes
        |), conf AS (
        |  SELECT t.label AS true_label, p.pred_label, count(*) AS n_probes
        |  FROM pred p JOIN e t ON p.probe_id = t.vec_id
        |  WHERE p.rn = 1 GROUP BY 1, 2)
        |SELECT true_label, pred_label, n_probes,
        |  round(CAST(n_probes AS DOUBLE) /
        |    sum(n_probes) OVER (PARTITION BY true_label), 6) + 0.0 AS rate
        |FROM conf
        |ORDER BY true_label NULLS FIRST, pred_label NULLS FIRST""".stripMargin,
    "q_cum_distinct" ->
      """WITH fd AS (
        |  SELECT user_id, min(CAST(ts AS DATE)) AS day
        |  FROM events GROUP BY user_id),
        |d AS (SELECT day, count(*) AS n_new_users FROM fd GROUP BY day)
        |SELECT day, n_new_users,
        |  CAST(sum(n_new_users) OVER (ORDER BY day ASC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS cum_users
        |FROM d ORDER BY day NULLS FIRST""".stripMargin,
    "q_outlier_iqr" ->
      """WITH ranked AS (
        |  SELECT event_type, value,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY value ASC, event_id ASC) AS rn,
        |    count(*) OVER (PARTITION BY event_type) AS n
        |  FROM events),
        |quart AS (
        |  SELECT event_type, max(n) AS n, min(value) AS q1, max(value) AS q3
        |  FROM ranked
        |  WHERE rn = CAST(ceil(n * 0.25) AS BIGINT)
        |     OR rn = CAST(ceil(n * 0.75) AS BIGINT)
        |  GROUP BY event_type),
        |f AS (
        |  SELECT event_type, n, q1, q3,
        |    q1 - (q3 - q1) * 1.5 AS lo_fence,
        |    q3 + (q3 - q1) * 1.5 AS hi_fence
        |  FROM quart)
        |SELECT e.event_type, CAST(max(f.n) AS BIGINT) AS n_events,
        |  round(max(f.q1), 6) + 0.0 AS q1,
        |  round(max(f.q3), 6) + 0.0 AS q3,
        |  round(max(f.lo_fence), 6) + 0.0 AS lo_fence,
        |  round(max(f.hi_fence), 6) + 0.0 AS hi_fence,
        |  CAST(sum(CASE WHEN e.value < f.lo_fence OR e.value > f.hi_fence
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
        |FROM events e JOIN f ON e.event_type = f.event_type
        |GROUP BY e.event_type ORDER BY e.event_type NULLS FIRST""".stripMargin,
    "q_degree_dist" ->
      """WITH pairs AS (
        |  SELECT a.l_partkey AS p1, b.l_partkey AS p2
        |  FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) a
        |  JOIN (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
        |und AS (SELECT p1, p2 FROM pairs GROUP BY p1, p2 HAVING count(*) >= 2),
        |deg AS (
        |  SELECT node, count(*) AS degree FROM (
        |    SELECT p1 AS node FROM und UNION ALL SELECT p2 FROM und) t
        |  GROUP BY node)
        |SELECT degree, count(*) AS n_nodes, min(node) AS min_node
        |FROM deg GROUP BY degree ORDER BY degree NULLS FIRST""".stripMargin,
    "q_prf" ->
      """WITH e AS (
        |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings
        |), pairs AS (
        |  SELECT p.vec_id AS probe_id, c.vec_id AS vec_id,
        |    round(list_dot_product(p.v, c.v) /
        |      (sqrt(list_dot_product(p.v, p.v)) *
        |       sqrt(list_dot_product(c.v, c.v))), 6) + 0.0 AS cosine
        |  FROM e p JOIN e c ON p.vec_id % 100 = 0 AND c.vec_id <> p.vec_id
        |), ranked AS (
        |  SELECT probe_id, vec_id,
        |    row_number() OVER (PARTITION BY probe_id
        |      ORDER BY cosine DESC, vec_id ASC) AS rank
        |  FROM pairs
        |), votes AS (
        |  SELECT probe_id, l.label, count(*) AS votes
        |  FROM ranked r JOIN e l ON r.vec_id = l.vec_id
        |  WHERE r.rank <= 5 GROUP BY 1, 2
        |), pv AS (
        |  SELECT probe_id, label AS pred_label,
        |    row_number() OVER (PARTITION BY probe_id
        |      ORDER BY votes DESC, label ASC) AS rn
        |  FROM votes
        |), pred AS (
        |  SELECT p.probe_id, p.pred_label, t.label AS true_label
        |  FROM pv p JOIN e t ON p.probe_id = t.vec_id WHERE p.rn = 1
        |), bt AS (SELECT true_label AS label, count(*) AS n_true
        |  FROM pred GROUP BY 1),
        |bp AS (SELECT pred_label AS label, count(*) AS n_pred
        |  FROM pred GROUP BY 1),
        |tp AS (SELECT true_label AS label, count(*) AS tp FROM pred
        |  WHERE pred_label = true_label GROUP BY 1)
        |SELECT coalesce(bt.label, bp.label) AS label,
        |  coalesce(n_true, 0) AS n_true,
        |  coalesce(n_pred, 0) AS n_pred,
        |  coalesce(tp.tp, 0) AS tp,
        |  (CASE WHEN coalesce(n_pred, 0) = 0 THEN 0.0
        |    ELSE round(CAST(coalesce(tp.tp, 0) AS DOUBLE) / n_pred, 6) END)
        |    + 0.0 AS precision,
        |  (CASE WHEN coalesce(n_true, 0) = 0 THEN 0.0
        |    ELSE round(CAST(coalesce(tp.tp, 0) AS DOUBLE) / n_true, 6) END)
        |    + 0.0 AS recall,
        |  round(CAST(coalesce(tp.tp, 0) AS DOUBLE) * 2 /
        |    (coalesce(n_pred, 0) + coalesce(n_true, 0)), 6) + 0.0 AS f1
        |FROM bt FULL JOIN bp ON bt.label = bp.label
        |LEFT JOIN tp ON coalesce(bt.label, bp.label) = tp.label
        |ORDER BY label NULLS FIRST""".stripMargin,
    "q_assoc_rules" ->
      """WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |pc AS (SELECT l_partkey AS part, count(*) AS n_part FROM li
        |  GROUP BY 1),
        |tot AS (SELECT count(DISTINCT l_orderkey) AS n_orders_total FROM li),
        |pairs AS (
        |  SELECT a.l_partkey AS p1, b.l_partkey AS p2, count(*) AS n_both
        |  FROM li a JOIN li b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |directed AS (
        |  SELECT p1 AS antecedent, p2 AS consequent, n_both FROM pairs
        |  UNION ALL
        |  SELECT p2, p1, n_both FROM pairs)
        |SELECT antecedent, consequent, n_both,
        |  a.n_part AS n_ante, c.n_part AS n_cons,
        |  round(CAST(n_both AS DOUBLE) / a.n_part, 6) + 0.0 AS confidence,
        |  round(CAST(n_both AS DOUBLE) * n_orders_total /
        |    (a.n_part * c.n_part), 6) + 0.0 AS lift
        |FROM directed d
        |JOIN pc a ON d.antecedent = a.part
        |JOIN pc c ON d.consequent = c.part
        |CROSS JOIN tot
        |ORDER BY antecedent NULLS FIRST, consequent NULLS FIRST""".stripMargin,
    "q_weighted_median" ->
      """WITH li AS (
        |  SELECT l_returnflag, l_orderkey, l_linenumber, l_extendedprice,
        |    CAST(l_quantity AS BIGINT) AS wt
        |  FROM lineitem),
        |c AS (
        |  SELECT l_returnflag, l_extendedprice,
        |    sum(wt) OVER (PARTITION BY l_returnflag
        |      ORDER BY l_extendedprice ASC, l_orderkey ASC, l_linenumber ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_wt,
        |    sum(wt) OVER (PARTITION BY l_returnflag) AS total_wt
        |  FROM li)
        |SELECT l_returnflag, CAST(max(total_wt) AS BIGINT) AS total_units,
        |  count(*) AS n_at_or_above,
        |  min(l_extendedprice) AS weighted_median_price
        |FROM c WHERE cum_wt * 2 >= total_wt
        |GROUP BY l_returnflag ORDER BY l_returnflag NULLS FIRST""".stripMargin,
    "q_ohlc" ->
      """WITH ev AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day, value,
        |    row_number() OVER (PARTITION BY event_type, CAST(ts AS DATE)
        |      ORDER BY ts ASC, event_id ASC) AS rn_a,
        |    row_number() OVER (PARTITION BY event_type, CAST(ts AS DATE)
        |      ORDER BY ts DESC, event_id DESC) AS rn_d
        |  FROM events)
        |SELECT event_type, day,
        |  max(CASE WHEN rn_a = 1 THEN value END) AS open,
        |  max(value) AS high, min(value) AS low,
        |  max(CASE WHEN rn_d = 1 THEN value END) AS close,
        |  count(*) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM ev GROUP BY 1, 2
        |ORDER BY event_type NULLS FIRST, day NULLS FIRST""".stripMargin,
    "q_cross_corr" ->
      """WITH hourly AS (
        |  SELECT event_type,
        |    epoch_us(date_trunc('hour', ts)) // 1000000 AS hs,
        |    count(*) AS c
        |  FROM events GROUP BY 1, 2),
        |a AS (
        |  SELECT event_type AS t1, lag_h, hs + lag_h * 3600 AS h_match,
        |    CAST(c AS DECIMAL(38,0)) AS x
        |  FROM hourly, unnest(generate_series(-3, 3)) AS u(lag_h)),
        |b AS (SELECT event_type AS t2, hs AS h_match,
        |  CAST(c AS DECIMAL(38,0)) AS y FROM hourly),
        |m AS (
        |  SELECT t1, t2, lag_h, count(*) AS n_pairs,
        |    sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy,
        |    sum(x * x) AS sxx, sum(y * y) AS syy
        |  FROM a JOIN b ON a.h_match = b.h_match AND t1 < t2
        |  GROUP BY 1, 2, 3
        |  HAVING count(*) >= 2
        |    AND count(*) * sum(x * x) - sum(x) * sum(x) > 0
        |    AND count(*) * sum(y * y) - sum(y) * sum(y) > 0)
        |SELECT t1, t2, lag_h, n_pairs,
        |  round(CAST(n_pairs * sxy - sx * sy AS DOUBLE) /
        |    (sqrt(CAST(n_pairs * sxx - sx * sx AS DOUBLE)) *
        |     sqrt(CAST(n_pairs * syy - sy * sy AS DOUBLE))), 6) + 0.0
        |    AS cross_corr
        |FROM m
        |ORDER BY t1 NULLS FIRST, t2 NULLS FIRST, lag_h NULLS FIRST""".stripMargin,
    "q_join_nullsafe" ->
      """WITH cust AS (
        |  SELECT c_custkey, c_acctbal,
        |    nullif(CAST(c_nationkey AS INT), 3) AS k
        |  FROM customer),
        |nat AS (
        |  SELECT nullif(CAST(n_nationkey AS INT), 3) AS k, n_name
        |  FROM nation)
        |SELECT cust.k AS nation_key, n_name,
        |  count(*) AS n_rows,
        |  count(DISTINCT c_custkey) AS n_customers,
        |  CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
        |    AS sum_acctbal
        |FROM cust JOIN nat ON cust.k IS NOT DISTINCT FROM nat.k
        |GROUP BY 1, 2
        |ORDER BY nation_key NULLS FIRST, n_name NULLS FIRST""".stripMargin,
    "q_calibration" ->
      """WITH e AS (
        |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings
        |), pairs AS (
        |  SELECT p.vec_id AS probe_id, c.vec_id AS vec_id,
        |    round(list_dot_product(p.v, c.v) /
        |      (sqrt(list_dot_product(p.v, p.v)) *
        |       sqrt(list_dot_product(c.v, c.v))), 6) + 0.0 AS cosine
        |  FROM e p JOIN e c ON p.vec_id % 100 = 0 AND c.vec_id <> p.vec_id
        |), ranked AS (
        |  SELECT probe_id, vec_id,
        |    row_number() OVER (PARTITION BY probe_id
        |      ORDER BY cosine DESC, vec_id ASC) AS rank
        |  FROM pairs
        |), votes AS (
        |  SELECT probe_id, l.label, count(*) AS votes
        |  FROM ranked r JOIN e l ON r.vec_id = l.vec_id
        |  WHERE r.rank <= 5 GROUP BY 1, 2
        |), pv AS (
        |  SELECT probe_id, label AS pred_label, votes,
        |    row_number() OVER (PARTITION BY probe_id
        |      ORDER BY votes DESC, label ASC) AS rn
        |  FROM votes
        |), pred AS (
        |  SELECT p.probe_id, p.pred_label, p.votes, t.label AS true_label
        |  FROM pv p JOIN e t ON p.probe_id = t.vec_id WHERE p.rn = 1)
        |SELECT votes,
        |  round(CAST(votes AS DOUBLE) / 5, 6) + 0.0 AS confidence,
        |  count(*) AS n_probes,
        |  CAST(sum(CASE WHEN pred_label = true_label THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_correct,
        |  round(CAST(sum(CASE WHEN pred_label = true_label THEN 1 ELSE 0 END)
        |    AS DOUBLE) / count(*), 6) + 0.0 AS accuracy
        |FROM pred GROUP BY votes ORDER BY votes NULLS FIRST""".stripMargin,
    "q_embed_quantiles" ->
      """WITH pos AS (SELECT unnest(range(1, 65)) AS dim),
        |e AS (
        |  SELECT CAST(dim AS INT) AS dim, vec_id,
        |    CAST(embedding[dim] AS DOUBLE) AS v
        |  FROM embeddings CROSS JOIN pos),
        |r AS (
        |  SELECT dim, v,
        |    row_number() OVER (PARTITION BY dim
        |      ORDER BY v ASC, vec_id ASC) AS rn,
        |    count(*) OVER (PARTITION BY dim) AS n
        |  FROM e)
        |SELECT dim, CAST(max(n) AS BIGINT) AS n_vecs,
        |  round(min(v), 6) + 0.0 AS p05,
        |  round(max(v), 6) + 0.0 AS p95,
        |  round((round(max(v), 6) + 0.0) - (round(min(v), 6) + 0.0), 6) + 0.0
        |    AS clip_range
        |FROM r WHERE rn = CAST(ceil(n * 0.05) AS BIGINT)
        |   OR rn = CAST(ceil(n * 0.95) AS BIGINT)
        |GROUP BY dim ORDER BY dim NULLS FIRST""".stripMargin,
    "q_zipf_slope" ->
      """WITH counts AS (
        |  SELECT word, count(*) AS cnt FROM (
        |    SELECT unnest(string_split_regex(lower(text), '[^a-z]+')) AS word
        |    FROM documents) t
        |  WHERE word <> '' GROUP BY word
        |  ORDER BY cnt DESC, word ASC LIMIT 500),
        |pts AS (
        |  SELECT
        |    CAST(round(ln(row_number() OVER (ORDER BY cnt DESC, word ASC))
        |      * 1000000, 0) AS DECIMAL(38,0)) AS x,
        |    CAST(round(ln(cnt) * 1000000, 0) AS DECIMAL(38,0)) AS y
        |  FROM counts),
        |a AS (
        |  SELECT CAST(count(*) AS DOUBLE) AS n,
        |    CAST(sum(x) AS DOUBLE) AS sx, CAST(sum(y) AS DOUBLE) AS sy,
        |    CAST(sum(x * y) AS DOUBLE) AS sxy,
        |    CAST(sum(x * x) AS DOUBLE) AS sxx,
        |    CAST(sum(y * y) AS DOUBLE) AS syy
        |  FROM pts)
        |SELECT CAST(n AS BIGINT) AS n_tokens,
        |  round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) + 0.0
        |    AS zipf_slope,
        |  round((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n
        |    / 1000000.0, 6) + 0.0 AS ln_c_intercept,
        |  round((n * sxy - sx * sy) * (n * sxy - sx * sy) /
        |    ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) + 0.0 AS r2
        |FROM a""".stripMargin,
    // Depth-capped recursive walk; min(depth) per node = BFS layer as
    // long as the cap exceeds the source eccentricity (spec-asserted
    // on the Spark side: the loop converges well under maxIter).
    "q_bfs_depth" ->
      """WITH RECURSIVE pairs AS (
        |  SELECT a.l_partkey AS p1, b.l_partkey AS p2
        |  FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) a
        |  JOIN (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
        |und AS (SELECT p1, p2 FROM pairs GROUP BY p1, p2 HAVING count(*) >= 2),
        |sym AS (SELECT p1 AS src, p2 AS dst FROM und
        |  UNION SELECT p2, p1 FROM und),
        |walk(node, depth) AS (
        |  SELECT min(src), CAST(0 AS BIGINT) FROM sym
        |  UNION
        |  SELECT e.dst, w.depth + 1
        |  FROM walk w JOIN sym e ON e.src = w.node
        |  WHERE w.depth < 30),
        |d AS (SELECT node, min(depth) AS depth FROM walk GROUP BY node)
        |SELECT depth, count(*) AS n_nodes, min(node) AS min_node
        |FROM d GROUP BY depth ORDER BY depth NULLS FIRST""".stripMargin,
    "q_mrr" ->
      """WITH e AS (
        |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings
        |), pairs AS (
        |  SELECT p.vec_id AS probe_id, c.vec_id AS vec_id,
        |    round(list_dot_product(p.v, c.v) /
        |      (sqrt(list_dot_product(p.v, p.v)) *
        |       sqrt(list_dot_product(c.v, c.v))), 6) + 0.0 AS cosine
        |  FROM e p JOIN e c ON p.vec_id % 100 = 0 AND c.vec_id <> p.vec_id
        |), ranked AS (
        |  SELECT probe_id, vec_id,
        |    row_number() OVER (PARTITION BY probe_id
        |      ORDER BY cosine DESC, vec_id ASC) AS rank
        |  FROM pairs
        |), fh AS (
        |  SELECT r.probe_id, min(r.rank) AS first_hit
        |  FROM ranked r
        |  JOIN e n ON r.vec_id = n.vec_id
        |  JOIN e t ON r.probe_id = t.vec_id
        |  WHERE r.rank <= 5 AND n.label = t.label
        |  GROUP BY r.probe_id)
        |SELECT p.label, count(*) AS n_probes,
        |  CAST(sum(CASE WHEN first_hit IS NOT NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_hit,
        |  round(CAST(sum(coalesce(60 // first_hit, 0)) AS DOUBLE) /
        |    CAST(count(*) * 60 AS DOUBLE), 6) + 0.0 AS mrr
        |FROM e p LEFT JOIN fh ON p.vec_id = fh.probe_id
        |WHERE p.vec_id % 100 = 0
        |GROUP BY p.label ORDER BY p.label NULLS FIRST""".stripMargin,
    "q_mannwhitney" ->
      (TwoSampleCte +
        """,
        |agg AS (
        |  SELECT CAST(sum(c_a) AS BIGINT) AS n_a,
        |    CAST(sum(c_b) AS BIGINT) AS n_b,
        |    CAST(sum(c_a * (2 * (cum_a + cum_b - c_a - c_b)
        |      + c_a + c_b + 1)) AS BIGINT) AS r1_2s
        |  FROM cum)
        |SELECT n_a, n_b,
        |  r1_2s - n_a * (n_a + 1) AS u_a_x2,
        |  round(1.0 - CAST(r1_2s - n_a * (n_a + 1) AS DOUBLE) /
        |    CAST(n_a * n_b AS DOUBLE), 6) + 0.0 AS rank_biserial
        |FROM agg""").stripMargin,
    "q_ks_test" ->
      (TwoSampleCte +
        """,
        |tot AS (SELECT CAST(sum(c_a) AS BIGINT) AS n_a,
        |  CAST(sum(c_b) AS BIGINT) AS n_b FROM bv),
        |scored AS (
        |  SELECT value, abs(cum_a * n_b - cum_b * n_a) AS gap, n_a, n_b
        |  FROM cum CROSS JOIN tot),
        |top AS (SELECT *, row_number() OVER (ORDER BY gap DESC, value ASC)
        |  AS rk FROM scored)
        |SELECT n_a, n_b,
        |  round(CAST(gap AS DOUBLE) / CAST(n_a * n_b AS DOUBLE), 6) + 0.0
        |    AS d_stat,
        |  value AS d_at_value
        |FROM top WHERE rk = 1""").stripMargin,
    "q_seasonal_decompose" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS d, count(*) AS c
        |  FROM events GROUP BY 1, 2),
        |tr AS (
        |  SELECT event_type, d, c,
        |    round(avg(c) OVER (PARTITION BY event_type ORDER BY d
        |      ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING), 6) + 0.0 AS trend,
        |    CAST(datediff('day', DATE '1970-01-01', d) % 7 AS BIGINT) AS dow
        |  FROM daily),
        |det AS (
        |  SELECT *, CAST(round((c - trend) * 1000000, 0) AS BIGINT)
        |    AS det_micro
        |  FROM tr),
        |seas AS (
        |  SELECT event_type, dow,
        |    CAST(floor(CAST(sum(det_micro) AS DOUBLE) / count(*)) AS BIGINT)
        |      / 1000000.0 + 0.0 AS seasonal
        |  FROM det GROUP BY 1, 2)
        |SELECT det.event_type, det.d AS day, det.c AS n_events,
        |  det.trend, seas.seasonal,
        |  round(det.c - det.trend - seas.seasonal, 6) + 0.0 AS residual
        |FROM det JOIN seas
        |  ON det.event_type = seas.event_type AND det.dow = seas.dow
        |ORDER BY det.event_type NULLS FIRST, day NULLS FIRST""".stripMargin,
    "q_new_returning" ->
      """WITH ud AS (
        |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        |fd AS (SELECT user_id, min(day) AS first_day FROM ud GROUP BY 1),
        |g AS (
        |  SELECT day,
        |    CAST(sum(CASE WHEN day = first_day THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_new,
        |    CAST(sum(CASE WHEN day <> first_day THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_returning
        |  FROM ud JOIN fd USING (user_id) GROUP BY day)
        |SELECT day, n_new, n_returning,
        |  n_new + n_returning AS n_active,
        |  round(CAST(n_returning AS DOUBLE) /
        |    CAST(n_new + n_returning AS DOUBLE), 6) + 0.0 AS returning_share
        |FROM g ORDER BY day NULLS FIRST""".stripMargin,
    "q_cramers_v" ->
      """WITH grid AS (
        |  SELECT c_mktsegment AS segment, o_orderpriority AS priority,
        |    count(*) AS observed
        |  FROM customer JOIN orders ON c_custkey = o_custkey
        |  GROUP BY 1, 2),
        |cells AS (
        |  SELECT segment, priority, observed,
        |    CAST(sum(observed) OVER (PARTITION BY segment) AS DOUBLE) *
        |      sum(observed) OVER (PARTITION BY priority) /
        |      sum(observed) OVER () AS e
        |  FROM grid),
        |m AS (
        |  SELECT CAST(sum(observed) AS BIGINT) AS n,
        |    count(DISTINCT segment) AS n_rows,
        |    count(DISTINCT priority) AS n_cols,
        |    CAST(sum(CAST(round((observed - e) * (observed - e) / e
        |      * 1000000, 0) AS BIGINT)) AS BIGINT) AS chi2m
        |  FROM cells)
        |SELECT n, n_rows, n_cols,
        |  round(CAST(chi2m AS DOUBLE) / 1000000.0, 6) + 0.0 AS chi2,
        |  (n_rows - 1) * (n_cols - 1) AS dof,
        |  round(sqrt(CAST(chi2m AS DOUBLE) / 1000000.0 /
        |    CAST(n * least(n_rows - 1, n_cols - 1) AS DOUBLE)), 6) + 0.0
        |    AS cramers_v
        |FROM m""".stripMargin,
    "q_runs_test" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS d, count(*) AS c
        |  FROM events GROUP BY 1, 2),
        |r AS (
        |  SELECT event_type, d, c,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY c ASC, d ASC) AS rn,
        |    count(*) OVER (PARTITION BY event_type) AS n
        |  FROM daily),
        |med AS (
        |  SELECT event_type, min(c) AS median_c FROM r
        |  WHERE rn = (n + 1) // 2 GROUP BY event_type),
        |signed AS (
        |  SELECT daily.event_type, d,
        |    CASE WHEN c > median_c THEN 1 ELSE 0 END AS sign
        |  FROM daily JOIN med ON daily.event_type = med.event_type
        |  WHERE c <> median_c),
        |fl AS (
        |  SELECT event_type, sign,
        |    CASE WHEN lag(sign) OVER (PARTITION BY event_type
        |        ORDER BY d ASC) IS NULL THEN 0
        |      WHEN lag(sign) OVER (PARTITION BY event_type
        |        ORDER BY d ASC) <> sign THEN 1
        |      ELSE 0 END AS flip
        |  FROM signed)
        |SELECT event_type,
        |  CAST(sum(sign) AS BIGINT) AS n_above,
        |  CAST(sum(1 - sign) AS BIGINT) AS n_below,
        |  CAST(sum(flip) + 1 AS BIGINT) AS n_runs,
        |  round(1.0 + CAST(2.0 * sum(sign) * sum(1 - sign) AS DOUBLE) /
        |    CAST(sum(sign) + sum(1 - sign) AS DOUBLE), 6) + 0.0
        |    AS expected_runs
        |FROM fl GROUP BY event_type ORDER BY event_type NULLS FIRST""".stripMargin,
    "q_length_buckets" ->
      """WITH t AS (
        |  SELECT CAST(len(list_filter(
        |    string_split_regex(lower(text), '[^a-z]+'), x -> x <> ''))
        |    AS BIGINT) AS n_tokens
        |  FROM documents),
        |b AS (
        |  SELECT n_tokens,
        |    CAST(length(bin(n_tokens)) - 1 AS BIGINT) AS bucket
        |  FROM t WHERE n_tokens > 0)
        |SELECT bucket, CAST(1 << bucket AS BIGINT) AS bucket_lo,
        |  count(*) AS n_docs,
        |  CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
        |  min(n_tokens) AS min_tokens, max(n_tokens) AS max_tokens
        |FROM b GROUP BY bucket ORDER BY bucket NULLS FIRST""".stripMargin,
    "q_char_classes" ->
      """WITH d AS (
        |  SELECT lang, CAST(length(text) AS BIGINT) AS n_chars,
        |    CAST(length(text) -
        |      length(regexp_replace(text, '[a-zA-Z]', '', 'g')) AS BIGINT)
        |      AS letters,
        |    CAST(length(text) -
        |      length(regexp_replace(text, '[0-9]', '', 'g')) AS BIGINT)
        |      AS digits,
        |    CAST(length(text) -
        |      length(regexp_replace(text, '[ \t\n]', '', 'g')) AS BIGINT)
        |      AS spaces
        |  FROM documents)
        |SELECT lang, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
        |  CAST(sum(letters) AS BIGINT) AS letters,
        |  CAST(sum(digits) AS BIGINT) AS digits,
        |  CAST(sum(spaces) AS BIGINT) AS spaces,
        |  CAST(sum(n_chars) - sum(letters) - sum(digits) - sum(spaces)
        |    AS BIGINT) AS other,
        |  round(CAST(sum(letters) AS DOUBLE) / sum(n_chars), 6) + 0.0
        |    AS letter_share,
        |  round(CAST(sum(spaces) AS DOUBLE) / sum(n_chars), 6) + 0.0
        |    AS space_share
        |FROM d GROUP BY lang ORDER BY lang NULLS FIRST""".stripMargin,
    "q_interarrival" ->
      """WITH ev AS (
        |  SELECT event_type, event_id, epoch_us(ts) AS us FROM events),
        |g AS (
        |  SELECT event_type, event_id,
        |    us - lag(us) OVER (PARTITION BY event_type
        |      ORDER BY us ASC, event_id ASC) AS gap_us
        |  FROM ev),
        |gaps AS (SELECT * FROM g WHERE gap_us IS NOT NULL),
        |r AS (
        |  SELECT event_type, gap_us,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY gap_us ASC, event_id ASC) AS rn,
        |    count(*) OVER (PARTITION BY event_type) AS n,
        |    sum(gap_us) OVER (PARTITION BY event_type) AS s
        |  FROM gaps)
        |SELECT event_type, CAST(max(n) AS BIGINT) AS n_gaps,
        |  CAST(floor(CAST(max(s) AS DOUBLE) / max(n)) AS BIGINT)
        |    / 1000000.0 + 0.0 AS mean_gap_s,
        |  CAST(max(CASE WHEN rn = (n + 1) // 2 THEN gap_us END) AS DOUBLE)
        |    / 1000000.0 + 0.0 AS median_gap_s,
        |  CAST(max(CASE WHEN rn = (9 * n + 9) // 10 THEN gap_us END)
        |    AS DOUBLE) / 1000000.0 + 0.0 AS p90_gap_s
        |FROM r WHERE rn = (n + 1) // 2 OR rn = (9 * n + 9) // 10
        |GROUP BY event_type ORDER BY event_type NULLS FIRST""".stripMargin,
    "q_dup_by_source" -> (ClusterCompCte + ",\n" +
      """src AS (SELECT doc_id, source FROM documents)
        |SELECT source, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN comp.id IS NOT NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_dup,
        |  count(DISTINCT comp.component) AS n_clusters,
        |  round(CAST(sum(CASE WHEN comp.id IS NOT NULL THEN 1 ELSE 0 END)
        |    AS DOUBLE) / count(*), 6) + 0.0 AS dup_frac
        |FROM src LEFT JOIN comp ON src.doc_id = comp.id
        |GROUP BY source ORDER BY source NULLS FIRST""".stripMargin),
    "q_hits" -> HitsSql,
    "q_kcore" -> KcoreSql,
    "q_stationary" -> StationarySql,
    "q_pca_power" -> PcaPowerSql,
    "q_wilson" ->
      """WITH bp AS (
        |  SELECT l_partkey AS part, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS x
        |  FROM lineitem GROUP BY 1 HAVING count(*) >= 20),
        |sc AS (
        |  SELECT part, n AS n_items, x AS n_returned,
        |    round(CAST(x AS DOUBLE) / n, 6) + 0.0 AS p_hat,
        |    round((CAST(x AS DOUBLE) / n +
        |      CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE) /
        |        (CAST(n AS DOUBLE) * 2) -
        |      CAST(1.96 AS DOUBLE) * sqrt(
        |        (CAST(x AS DOUBLE) / n) * (1.0 - CAST(x AS DOUBLE) / n) /
        |          CAST(n AS DOUBLE) +
        |        CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE) /
        |          (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * 4))) /
        |      (1.0 + CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE) /
        |        CAST(n AS DOUBLE)), 6) + 0.0 AS wilson_lb
        |  FROM bp),
        |top AS (
        |  SELECT * FROM sc ORDER BY wilson_lb DESC, part ASC LIMIT 100)
        |SELECT CAST(row_number() OVER (
        |    ORDER BY wilson_lb DESC, part ASC) AS INT) AS rank,
        |  part, n_items, n_returned, p_hat, wilson_lb
        |FROM top ORDER BY rank""".stripMargin,
    "q_survival" ->
      """WITH per AS (
        |  SELECT user_id, CAST(min(ts) AS DATE) AS first_day,
        |    CAST(max(ts) AS DATE) AS last_day
        |  FROM events GROUP BY user_id),
        |e AS (SELECT CAST(max(ts) AS DATE) AS corpus_end FROM events),
        |life AS (
        |  SELECT CAST(date_diff('day', first_day, last_day) AS INT)
        |      AS dur_days,
        |    last_day < corpus_end - 7 AS churned
        |  FROM per CROSS JOIN e),
        |bydur AS (
        |  SELECT dur_days,
        |    CAST(sum(CASE WHEN churned THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_churned,
        |    CAST(sum(CASE WHEN churned THEN 0 ELSE 1 END) AS BIGINT)
        |      AS n_censored
        |  FROM life GROUP BY dur_days),
        |st AS (
        |  SELECT dur_days, n_churned, n_censored,
        |    CAST(sum(n_churned + n_censored) OVER (ORDER BY dur_days ASC
        |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS BIGINT)
        |      AS n_at_risk
        |  FROM bydur),
        |st2 AS (
        |  SELECT dur_days, n_at_risk, n_churned, n_censored,
        |    CASE WHEN n_churned < n_at_risk THEN
        |      CAST(round(ln(1.0 - CAST(n_churned AS DOUBLE) / n_at_risk) *
        |        1000000.0, 0) AS BIGINT)
        |    ELSE 0 END AS ln_q,
        |    max(CASE WHEN n_churned = n_at_risk THEN 1 ELSE 0 END) OVER (
        |      ORDER BY dur_days ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS dead
        |  FROM st),
        |st3 AS (
        |  SELECT dur_days, n_at_risk, n_churned, n_censored, dead,
        |    CAST(sum(ln_q) OVER (ORDER BY dur_days ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS cum_ln
        |  FROM st2)
        |SELECT dur_days, n_at_risk, n_churned, n_censored,
        |  CASE WHEN dead = 1 THEN 0.0
        |       ELSE round(exp(CAST(cum_ln AS DOUBLE) / 1000000.0), 6) + 0.0
        |  END AS survival
        |FROM st3 ORDER BY dur_days NULLS FIRST""".stripMargin,
    "q_vocab_growth" ->
      s"""WITH tok AS MATERIALIZED (
        |  SELECT doc_id, unnest(list_filter(
        |    string_split_regex(lower(text), '[^a-z]+'), x -> x <> '')) AS t
        |  FROM documents),
        |fs AS (SELECT t, min(doc_id) AS first_doc FROM tok GROUP BY t),
        |nt AS (
        |  SELECT first_doc // ${operators.TextQueries.VocabGrowthBucket} AS bucket,
        |    CAST(count(*) AS BIGINT) AS n_new_types
        |  FROM fs GROUP BY 1),
        |occ AS (
        |  SELECT doc_id // ${operators.TextQueries.VocabGrowthBucket} AS bucket,
        |    CAST(count(*) AS BIGINT) AS n_tokens
        |  FROM tok GROUP BY 1)
        |SELECT o.bucket, o.n_tokens,
        |  CAST(coalesce(nt.n_new_types, 0) AS BIGINT) AS n_new_types,
        |  CAST(sum(coalesce(nt.n_new_types, 0)) OVER w AS BIGINT)
        |    AS cum_vocab,
        |  CAST(sum(o.n_tokens) OVER w AS BIGINT) AS cum_tokens
        |FROM occ o LEFT JOIN nt ON o.bucket = nt.bucket
        |WINDOW w AS (ORDER BY o.bucket ASC
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |ORDER BY o.bucket NULLS FIRST""".stripMargin,
    "q_item_cf" ->
      """WITH li AS MATERIALIZED (
        |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |pairs AS (
        |  SELECT a.l_partkey AS p1, b.l_partkey AS p2,
        |    CAST(count(*) AS BIGINT) AS n_orders
        |  FROM li a JOIN li b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2),
        |bothdir AS (
        |  SELECT p1 AS part, p2 AS rec, n_orders FROM pairs
        |  UNION ALL
        |  SELECT p2 AS part, p1 AS rec, n_orders FROM pairs),
        |ni AS (SELECT l_partkey, CAST(count(*) AS BIGINT) AS n_i
        |       FROM li GROUP BY 1),
        |scored AS (
        |  SELECT b.part, b.rec, b.n_orders,
        |    round(CAST(b.n_orders AS DOUBLE) /
        |      sqrt(CAST(np.n_i * nr.n_i AS DOUBLE)), 6) + 0.0 AS sim
        |  FROM bothdir b
        |  JOIN ni np ON b.part = np.l_partkey
        |  JOIN ni nr ON b.rec = nr.l_partkey),
        |ranked AS (
        |  SELECT part, rec, n_orders, sim,
        |    CAST(row_number() OVER (PARTITION BY part
        |      ORDER BY sim DESC, rec ASC) AS INT) AS rank
        |  FROM scored)
        |SELECT part, rec, n_orders, sim, rank FROM ranked
        |WHERE rank <= 5
        |ORDER BY part NULLS FIRST, rank ASC""".stripMargin,
    "q_entropy_rate" ->
      """WITH tr AS (
        |  SELECT event_type AS from_type, next_type AS to_type,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM (
        |    SELECT event_type, lead(event_type) OVER (
        |      PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
        |      AS next_type
        |    FROM events) t
        |  WHERE next_type IS NOT NULL
        |  GROUP BY 1, 2),
        |rowsum AS (
        |  SELECT from_type, CAST(sum(n) AS BIGINT) AS r
        |  FROM tr GROUP BY 1),
        |tot AS (SELECT CAST(sum(r) AS BIGINT) AS n_total FROM rowsum),
        |terms AS (
        |  SELECT t.from_type, s.r,
        |    CAST(round(-(CAST(t.n AS DOUBLE) / s.r) *
        |      ln(CAST(t.n AS DOUBLE) / s.r) * 1000000.0, 0) AS BIGINT)
        |      AS term_micro
        |  FROM tr t JOIN rowsum s USING (from_type)),
        |h AS (
        |  SELECT from_type, r, CAST(sum(term_micro) AS BIGINT) AS h_micro
        |  FROM terms GROUP BY 1, 2)
        |SELECT from_type, r AS n_out,
        |  round(CAST(h_micro AS DOUBLE) / 1000000.0, 6) + 0.0 AS h_nats,
        |  round(CAST(r AS DOUBLE) / n_total, 6) + 0.0 AS weight,
        |  round(CAST(r AS DOUBLE) * h_micro /
        |    (CAST(n_total AS DOUBLE) * 1000000.0), 6) + 0.0 AS contrib_nats
        |FROM h CROSS JOIN tot ORDER BY from_type NULLS FIRST""".stripMargin,
    "q_linkpred" ->
      """WITH pairs AS (
        |  SELECT a.l_partkey AS p1, b.l_partkey AS p2
        |  FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) a
        |  JOIN (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
        |und AS MATERIALIZED (
        |  SELECT p1 AS u, p2 AS v FROM pairs
        |  GROUP BY p1, p2 HAVING count(*) >= 2),
        |sym AS MATERIALIZED (
        |  SELECT u AS z, v AS nbr FROM und
        |  UNION ALL SELECT v AS z, u AS nbr FROM und),
        |deg AS (SELECT z, CAST(count(*) AS BIGINT) AS degree
        |        FROM sym GROUP BY z),
        |capped AS MATERIALIZED (
        |  SELECT s.z, s.nbr,
        |    CAST(round(1000000.0 / ln(d.degree), 0) AS BIGINT) AS w_micro
        |  FROM sym s JOIN deg d ON s.z = d.z
        |  WHERE d.degree >= 2 AND d.degree <= 64),
        |wedges AS (
        |  SELECT a.nbr AS u, b.nbr AS v, a.w_micro
        |  FROM capped a JOIN capped b ON a.z = b.z AND a.nbr < b.nbr),
        |cand AS (
        |  SELECT u, v, CAST(count(*) AS BIGINT) AS n_common,
        |    CAST(sum(w_micro) AS BIGINT) AS aa_micro
        |  FROM wedges GROUP BY u, v),
        |nonedge AS (
        |  SELECT c.u, c.v, c.n_common, c.aa_micro
        |  FROM cand c LEFT JOIN und e ON c.u = e.u AND c.v = e.v
        |  WHERE e.u IS NULL),
        |top AS (
        |  SELECT * FROM nonedge
        |  ORDER BY aa_micro DESC, u ASC, v ASC LIMIT 50)
        |SELECT CAST(row_number() OVER (
        |    ORDER BY aa_micro DESC, u ASC, v ASC) AS INT) AS rank,
        |  u, v, n_common, aa_micro,
        |  round(CAST(aa_micro AS DOUBLE) / 1000000.0, 6) + 0.0 AS aa_score
        |FROM top ORDER BY rank""".stripMargin,
    "q_streaks" ->
      """WITH du AS (
        |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        |isl AS (
        |  SELECT user_id, day,
        |    day - CAST(row_number() OVER (PARTITION BY user_id
        |      ORDER BY day ASC) AS INT) AS anchor
        |  FROM du),
        |g AS (
        |  SELECT user_id, anchor, CAST(count(*) AS BIGINT) AS len
        |  FROM isl GROUP BY 1, 2)
        |SELECT user_id, CAST(sum(len) AS BIGINT) AS n_active_days,
        |  count(*) AS n_streaks, CAST(max(len) AS BIGINT) AS max_streak
        |FROM g GROUP BY user_id ORDER BY user_id NULLS FIRST""".stripMargin,
    "q_abc" ->
      """WITH bypart AS (
        |  SELECT l_partkey,
        |    CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT))
        |      AS BIGINT) AS rev
        |  FROM lineitem GROUP BY l_partkey),
        |c AS (
        |  SELECT l_partkey, rev,
        |    sum(CAST(rev AS HUGEINT)) OVER (ORDER BY rev DESC, l_partkey ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    sum(CAST(rev AS HUGEINT)) OVER () AS tot
        |  FROM bypart),
        |cl AS (
        |  SELECT CASE WHEN cum * 100 <= tot * 80 THEN 'A'
        |              WHEN cum * 100 <= tot * 95 THEN 'B'
        |              ELSE 'C' END AS abc_class, rev, tot
        |  FROM c)
        |SELECT abc_class, count(*) AS n_parts,
        |  CAST(sum(CAST(rev AS HUGEINT)) AS DOUBLE) / 100.0 AS revenue,
        |  round(CAST(sum(CAST(rev AS HUGEINT)) AS DOUBLE) /
        |    CAST(max(tot) AS DOUBLE), 6) + 0.0 AS revenue_share
        |FROM cl GROUP BY abc_class ORDER BY abc_class NULLS FIRST""".stripMargin,
    "q_auc" ->
      s"""WITH e AS (
         |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
         |  FROM embeddings
         |), pairs AS (
         |  SELECT p.vec_id AS probe_id, c.vec_id AS vec_id,
         |    round(list_dot_product(p.v, c.v) /
         |      (sqrt(list_dot_product(p.v, p.v)) *
         |       sqrt(list_dot_product(c.v, c.v))), 6) + 0.0 AS cosine
         |  FROM e p JOIN e c
         |    ON p.vec_id % ${operators.MlEvalQueries.RankProbeModulus} = 0
         |   AND c.vec_id <> p.vec_id
         |), ranked AS (
         |  SELECT probe_id, vec_id,
         |    row_number() OVER (PARTITION BY probe_id
         |      ORDER BY cosine DESC, vec_id ASC) AS rank
         |  FROM pairs
         |), votes AS (
         |  SELECT probe_id, l.label, count(*) AS votes
         |  FROM ranked r JOIN e l ON r.vec_id = l.vec_id
         |  WHERE r.rank <= 5 GROUP BY 1, 2
         |), probes AS (
         |  SELECT vec_id AS probe_id, label AS true_label FROM e
         |  WHERE vec_id % ${operators.MlEvalQueries.RankProbeModulus} = 0
         |), classes AS (SELECT DISTINCT label FROM e),
         |grid AS (
         |  SELECT p.probe_id, c.label, p.true_label,
         |    coalesce(v.votes, 0) AS score
         |  FROM probes p CROSS JOIN classes c
         |  LEFT JOIN votes v ON v.probe_id = p.probe_id AND v.label = c.label
         |), rg AS (
         |  SELECT label, true_label, score,
         |    rank() OVER (PARTITION BY label ORDER BY score ASC) AS rank_min,
         |    count(*) OVER (PARTITION BY label, score) AS ties
         |  FROM grid
         |), agg AS (
         |  SELECT label,
         |    CAST(sum(CASE WHEN true_label = label THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_pos,
         |    CAST(sum(CASE WHEN true_label <> label THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_neg,
         |    CAST(sum(CASE WHEN true_label = label
         |      THEN rank_min * 2 + ties - 1 ELSE 0 END) AS BIGINT) AS ranksum2
         |  FROM rg GROUP BY label)
         |SELECT label, n_pos, n_neg,
         |  CASE WHEN n_pos = 0 OR n_neg = 0 THEN 0.0
         |       ELSE round(CAST(ranksum2 - n_pos * (n_pos + 1) AS DOUBLE) /
         |         CAST(2 * n_pos * n_neg AS DOUBLE), 6) + 0.0 END AS auc
         |FROM agg ORDER BY label NULLS FIRST""".stripMargin,
    "q_ndcg" ->
      s"""WITH e AS (
         |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
         |  FROM embeddings
         |), pairs AS (
         |  SELECT p.vec_id AS probe_id, c.vec_id AS vec_id,
         |    round(list_dot_product(p.v, c.v) /
         |      (sqrt(list_dot_product(p.v, p.v)) *
         |       sqrt(list_dot_product(c.v, c.v))), 6) + 0.0 AS cosine
         |  FROM e p JOIN e c
         |    ON p.vec_id % ${operators.MlEvalQueries.RankProbeModulus} = 0
         |   AND c.vec_id <> p.vec_id
         |), ranked AS (
         |  SELECT probe_id, vec_id,
         |    row_number() OVER (PARTITION BY probe_id
         |      ORDER BY cosine DESC, vec_id ASC) AS rank
         |  FROM pairs
         |), rel AS (
         |  SELECT r.probe_id, t.label AS true_label, r.rank,
         |    CASE WHEN l.label = t.label THEN 1 ELSE 0 END AS rel
         |  FROM ranked r
         |  JOIN e l ON r.vec_id = l.vec_id
         |  JOIN e t ON r.probe_id = t.vec_id
         |  WHERE r.rank <= 5
         |), ideal AS (
         |  SELECT probe_id, true_label, rank, rel,
         |    row_number() OVER (PARTITION BY probe_id
         |      ORDER BY rel DESC, rank ASC) AS irank
         |  FROM rel
         |), disc AS (
         |  SELECT probe_id, true_label,
         |    CAST(CAST(rel AS DOUBLE) *
         |      round(1.0 / log2(rank + 1) * 1000000.0, 0) AS BIGINT) AS dcg_u,
         |    CAST(CAST(rel AS DOUBLE) *
         |      round(1.0 / log2(irank + 1) * 1000000.0, 0) AS BIGINT) AS idcg_u
         |  FROM ideal
         |), per AS (
         |  SELECT probe_id, true_label AS label,
         |    CASE WHEN sum(idcg_u) = 0 THEN 0
         |         ELSE CAST(round(CAST(sum(dcg_u) AS DOUBLE) / sum(idcg_u) *
         |           1000000.0, 0) AS BIGINT) END AS ndcg_u
         |  FROM disc GROUP BY probe_id, true_label)
         |SELECT label, count(*) AS n_probes,
         |  round(CAST(sum(ndcg_u) AS DOUBLE) /
         |    (CAST(count(*) AS DOUBLE) * 1000000.0), 6) + 0.0 AS mean_ndcg
         |FROM per GROUP BY label ORDER BY label NULLS FIRST""".stripMargin,
    "q_welch_t" ->
      """WITH f AS (
        |  SELECT CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS ia,
        |    CAST(round(value * 100, 0) AS BIGINT) AS q
        |  FROM events WHERE event_type IN ('click', 'purchase')),
        |a AS (
        |  SELECT CAST(sum(ia) AS BIGINT) AS n_a,
        |    CAST(sum(1 - ia) AS BIGINT) AS n_b,
        |    sum(ia * CAST(q AS HUGEINT)) AS s_a,
        |    sum((1 - ia) * CAST(q AS HUGEINT)) AS s_b,
        |    sum(ia * CAST(q AS HUGEINT) * q) AS ss_a,
        |    sum((1 - ia) * CAST(q AS HUGEINT) * q) AS ss_b
        |  FROM f),
        |m AS (
        |  SELECT n_a, n_b,
        |    CAST(s_a AS DOUBLE) / n_a / 100.0 AS m_a,
        |    CAST(s_b AS DOUBLE) / n_b / 100.0 AS m_b,
        |    (CAST(ss_a AS DOUBLE) -
        |      CAST(s_a AS DOUBLE) * CAST(s_a AS DOUBLE) / n_a) /
        |      (n_a - 1) / 10000.0 AS v_a,
        |    (CAST(ss_b AS DOUBLE) -
        |      CAST(s_b AS DOUBLE) * CAST(s_b AS DOUBLE) / n_b) /
        |      (n_b - 1) / 10000.0 AS v_b
        |  FROM a),
        |s AS (SELECT n_a, n_b, m_a, m_b,
        |        v_a / n_a AS se_a, v_b / n_b AS se_b FROM m)
        |SELECT n_a, n_b,
        |  round(m_a, 6) + 0.0 AS mean_a,
        |  round(m_b, 6) + 0.0 AS mean_b,
        |  round((m_a - m_b) / sqrt(se_a + se_b), 6) + 0.0 AS t_stat,
        |  round((se_a + se_b) * (se_a + se_b) /
        |    (se_a * se_a / (n_a - 1) + se_b * se_b / (n_b - 1)), 6) + 0.0
        |    AS df
        |FROM s""".stripMargin,
    "q_hhi" ->
      """WITH bysup AS (
        |  SELECT l_suppkey,
        |    CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT))
        |      AS BIGINT) AS rev
        |  FROM lineitem GROUP BY l_suppkey),
        |j AS (
        |  SELECT n.n_name AS nation, b.rev
        |  FROM bysup b
        |  JOIN supplier s ON b.l_suppkey = s.s_suppkey
        |  JOIN nation n ON s.s_nationkey = n.n_nationkey)
        |SELECT nation, count(*) AS n_suppliers,
        |  round(CAST(sum(CAST(rev AS HUGEINT) * rev) AS DOUBLE) /
        |    (CAST(sum(CAST(rev AS HUGEINT)) AS DOUBLE) *
        |     CAST(sum(CAST(rev AS HUGEINT)) AS DOUBLE)), 6) + 0.0 AS hhi
        |FROM j GROUP BY nation ORDER BY nation NULLS FIRST""".stripMargin,
    "q_lorenz" ->
      """WITH spend AS (
        |  SELECT o_custkey,
        |    CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
        |      AS BIGINT) AS spend_c
        |  FROM orders GROUP BY o_custkey),
        |r AS (
        |  SELECT spend_c,
        |    row_number() OVER (ORDER BY spend_c ASC, o_custkey ASC) AS rn,
        |    count(*) OVER () AS n
        |  FROM spend),
        |d AS (
        |  SELECT CAST(ceil(rn * 10.0 / n) AS INT) AS decile,
        |    count(*) AS n_customers,
        |    sum(CAST(spend_c AS HUGEINT)) AS dec_c
        |  FROM r GROUP BY 1)
        |SELECT decile, n_customers,
        |  round(CAST(dec_c AS DOUBLE) /
        |    CAST(sum(dec_c) OVER () AS DOUBLE), 6) + 0.0 AS spend_share,
        |  round(CAST(sum(dec_c) OVER (ORDER BY decile ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) /
        |    CAST(sum(dec_c) OVER () AS DOUBLE), 6) + 0.0 AS cum_share
        |FROM d ORDER BY decile NULLS FIRST""".stripMargin,
    "q_bollinger" ->
      """WITH d AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day,
        |    CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS c
        |  FROM events GROUP BY 1, 2),
        |w AS (
        |  SELECT event_type, day, c,
        |    CAST(count(*) OVER win AS BIGINT) AS n,
        |    CAST(sum(c) OVER win AS BIGINT) AS s,
        |    CAST(sum(c * c) OVER win AS BIGINT) AS ss
        |  FROM d WINDOW win AS (PARTITION BY event_type ORDER BY day ASC
        |    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW))
        |SELECT event_type, day,
        |  round(CAST(c AS DOUBLE) / 100.0, 6) + 0.0 AS day_value,
        |  n AS n_window,
        |  CASE WHEN n = 7 THEN
        |    round(CAST(s AS DOUBLE) / n / 100.0, 6) + 0.0 END AS mean7,
        |  CASE WHEN n = 7 THEN
        |    round(sqrt((CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * s / n) / n)
        |      / 100.0, 6) + 0.0 END AS sd7,
        |  CASE WHEN n = 7 THEN
        |    round(CAST(s AS DOUBLE) / n / 100.0 +
        |      sqrt((CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * s / n) / n)
        |        / 100.0 * 2, 6) + 0.0 END AS upper_band,
        |  CASE WHEN n = 7 THEN
        |    round(CAST(s AS DOUBLE) / n / 100.0 -
        |      sqrt((CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * s / n) / n)
        |        / 100.0 * 2, 6) + 0.0 END AS lower_band,
        |  CASE WHEN n = 7 THEN
        |    (round(CAST(c AS DOUBLE) / 100.0, 6) >
        |       round(CAST(s AS DOUBLE) / n / 100.0 +
        |         sqrt((CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * s / n) / n)
        |           / 100.0 * 2, 6) + 0.0 OR
        |     round(CAST(c AS DOUBLE) / 100.0, 6) <
        |       round(CAST(s AS DOUBLE) / n / 100.0 -
        |         sqrt((CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * s / n) / n)
        |           / 100.0 * 2, 6) + 0.0) END AS breakout
        |FROM w
        |ORDER BY event_type NULLS FIRST, day NULLS FIRST""".stripMargin,
    "q_scrub_common" ->
      """WITH t AS (
        |  SELECT doc_id, list_filter(
        |    string_split_regex(lower(text), '[^a-z]+'), x -> x <> '') AS ts
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, i + 1 AS i,
        |    array_to_string(list_slice(ts, 4 * i + 1, 4 * i + 4), ' ') AS chunk
        |  FROM t, unnest(generate_series(0, (len(ts) - 1) // 4)) AS u(i)
        |  WHERE len(ts) >= 1),
        |dfq AS (SELECT chunk, count(DISTINCT doc_id) AS df FROM c GROUP BY chunk)
        |SELECT c.doc_id, count(*) AS n_chunks,
        |  CAST(sum(CASE WHEN d.df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
        |  coalesce(string_agg(CASE WHEN d.df < 2 THEN c.chunk END, ' '
        |    ORDER BY c.i), '') AS clean_text
        |FROM c JOIN dfq d ON c.chunk = d.chunk
        |GROUP BY c.doc_id ORDER BY doc_id NULLS FIRST""".stripMargin,
    "q_blocklist_hits" ->
      """WITH t AS (
        |  SELECT doc_id, list_filter(
        |    string_split_regex(lower(text), '[^a-z]+'), x -> x <> '') AS ts
        |  FROM documents),
        |h AS (
        |  SELECT doc_id, ts, list_filter(ts,
        |    x -> list_contains(['slow', 'big', 'legacy', 'error'], x)) AS hs
        |  FROM t)
        |SELECT doc_id, CAST(len(ts) AS BIGINT) AS n_tokens,
        |  CAST(len(hs) AS BIGINT) AS n_hits,
        |  CAST(len(list_distinct(hs)) AS BIGINT) AS n_terms,
        |  round(CAST(len(hs) AS DOUBLE) / greatest(len(ts), 1), 6) + 0.0
        |    AS hit_frac,
        |  CASE WHEN len(hs) * 20 > len(ts) THEN 'drop' ELSE 'keep' END AS action
        |FROM h ORDER BY doc_id NULLS FIRST""".stripMargin,
    "q_sample_balanced" ->
      """WITH n AS (SELECT min(c) AS m_min FROM (
        |    SELECT count(*) AS c FROM documents GROUP BY lang)),
        |r AS (
        |  SELECT doc_id, lang, row_number() OVER (
        |    PARTITION BY lang
        |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
        |  FROM documents)
        |SELECT doc_id, lang, CAST(rk AS BIGINT) AS rk
        |FROM r, n WHERE rk <= m_min
        |ORDER BY lang NULLS FIRST, rk NULLS FIRST""".stripMargin,
    "q_feature_scale" ->
      """WITH li AS (
        |  SELECT l_orderkey, l_linenumber, l_returnflag,
        |    CAST(round(l_quantity * 100, 0) AS BIGINT) AS xq,
        |    CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS xp,
        |    CAST(round(l_discount * 100, 0) AS BIGINT) AS xd
        |  FROM lineitem),
        |st AS (
        |  SELECT l_returnflag AS s_flag, count(*) AS n,
        |    CAST(sum(xq) AS BIGINT) AS sq, sum(CAST(xq AS HUGEINT) * xq) AS sqq,
        |    CAST(sum(xp) AS BIGINT) AS sp, sum(CAST(xp AS HUGEINT) * xp) AS spp,
        |    CAST(sum(xd) AS BIGINT) AS sd, sum(CAST(xd AS HUGEINT) * xd) AS sdd
        |  FROM li GROUP BY 1)
        |SELECT l_orderkey, l_linenumber, l_returnflag,
        |  round(CAST(n * xq - sq AS DOUBLE) /
        |    sqrt(CAST(CAST(n AS HUGEINT) * sqq - CAST(sq AS HUGEINT) * sq
        |      AS DOUBLE)), 6) + 0.0 AS z_qty,
        |  round(CAST(n * xp - sp AS DOUBLE) /
        |    sqrt(CAST(CAST(n AS HUGEINT) * spp - CAST(sp AS HUGEINT) * sp
        |      AS DOUBLE)), 6) + 0.0 AS z_price,
        |  round(CAST(n * xd - sd AS DOUBLE) /
        |    sqrt(CAST(CAST(n AS HUGEINT) * sdd - CAST(sd AS HUGEINT) * sd
        |      AS DOUBLE)), 6) + 0.0 AS z_disc
        |FROM li JOIN st ON l_returnflag = s_flag
        |ORDER BY l_orderkey NULLS FIRST, l_linenumber NULLS FIRST""".stripMargin,
    "q_sax" ->
      """WITH d AS (
        |  SELECT event_type, CAST(ts AS DATE) AS d, count(*) AS c
        |  FROM events GROUP BY 1, 2),
        |s AS (
        |  SELECT event_type,
        |    CAST(floor(date_diff('day', DATE '1970-01-01', d) / 4) AS BIGINT)
        |      AS seg,
        |    count(*) AS n_days, CAST(sum(c) AS BIGINT) AS sum_c
        |  FROM d GROUP BY 1, 2),
        |q AS (
        |  SELECT event_type, seg, n_days, sum_c,
        |    ntile(4) OVER (PARTITION BY event_type
        |      ORDER BY sum_c * (12 // n_days) ASC, seg ASC) AS q
        |  FROM s)
        |SELECT event_type, seg, n_days, sum_c,
        |  round(CAST(sum_c AS DOUBLE) / n_days, 6) + 0.0 AS paa,
        |  CASE q WHEN 1 THEN 'a' WHEN 2 THEN 'b' WHEN 3 THEN 'c'
        |    ELSE 'd' END AS symbol
        |FROM q ORDER BY event_type NULLS FIRST, seg NULLS FIRST""".stripMargin,
    "q_eop_balance" ->
      """WITH f AS (
        |  SELECT o_custkey AS custkey, date_trunc('month', o_orderdate) AS month,
        |    CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
        |      AS flow
        |  FROM orders GROUP BY 1, 2),
        |m AS (SELECT DISTINCT month FROM f),
        |cu AS (
        |  SELECT DISTINCT f.custkey, c.c_mktsegment AS segment
        |  FROM f JOIN customer c ON f.custkey = c.c_custkey),
        |sp AS (SELECT cu.custkey, cu.segment, m.month FROM cu, m),
        |b AS (
        |  SELECT sp.custkey, sp.segment, sp.month,
        |    sum(coalesce(f.flow, 0)) OVER w AS bal,
        |    max(CASE WHEN f.flow IS NOT NULL THEN 1 END) OVER w AS active
        |  FROM sp LEFT JOIN f ON sp.custkey = f.custkey AND sp.month = f.month
        |  WINDOW w AS (PARTITION BY sp.custkey ORDER BY sp.month
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |SELECT month, segment, count(*) AS n_customers,
        |  round(CAST(sum(bal) AS DOUBLE) / 100.0, 2) + 0.0 AS eop_total
        |FROM b WHERE active = 1
        |GROUP BY 1, 2 ORDER BY month NULLS FIRST, segment NULLS FIRST""".stripMargin,
    "q_grubbs" ->
      """WITH c AS (
        |  SELECT c_mktsegment, c_custkey,
        |    CAST(round(c_acctbal * 100, 0) AS BIGINT) AS x
        |  FROM customer),
        |a AS (
        |  SELECT c_mktsegment, count(*) AS n, CAST(sum(x) AS BIGINT) AS s,
        |    CAST(sum(x * x) AS BIGINT) AS ss
        |  FROM c GROUP BY 1),
        |r AS (
        |  SELECT c.c_mktsegment, c.c_custkey, c.x, a.n, a.s, a.ss,
        |    row_number() OVER (PARTITION BY c.c_mktsegment
        |      ORDER BY abs(a.n * c.x - a.s) DESC, c.c_custkey ASC) AS rn
        |  FROM c JOIN a USING (c_mktsegment))
        |SELECT c_mktsegment, n AS n_customers, c_custkey AS suspect_custkey,
        |  round(CAST(x AS DOUBLE) / 100.0, 2) + 0.0 AS suspect_bal,
        |  round(CAST(s AS DOUBLE) / n / 100.0, 6) + 0.0 AS mean_bal,
        |  round(CAST(abs(n * x - s) AS DOUBLE) /
        |    (n * sqrt(CAST(CAST(n AS HUGEINT) * ss - CAST(s AS HUGEINT) * s
        |        AS DOUBLE) / (n * CAST(n - 1 AS DOUBLE)))), 6) + 0.0 AS g_stat
        |FROM r WHERE rn = 1 ORDER BY c_mktsegment NULLS FIRST""".stripMargin,
    // Σ s_g²/n_g runs in pure DOUBLE on both engines (s_g < 2^53 is
    // exactly representable; decimal division scales differ between
    // engines, IEEE division does not); F and eta² are ratios, 6-dp
    // rounded, so the 5-term double-sum order is absorbed.
    "q_anova" ->
      """WITH c AS (
        |  SELECT c_mktsegment,
        |    CAST(round(c_acctbal * 100, 0) AS BIGINT) AS x
        |  FROM customer),
        |g AS (
        |  SELECT c_mktsegment, count(*) AS n_g,
        |    CAST(sum(x) AS BIGINT) AS s_g, CAST(sum(x * x) AS BIGINT) AS ss_g
        |  FROM c GROUP BY 1),
        |p AS (
        |  SELECT CAST(count(*) AS BIGINT) AS k, CAST(sum(n_g) AS BIGINT) AS n,
        |    CAST(sum(s_g) AS BIGINT) AS s, CAST(sum(ss_g) AS BIGINT) AS ss,
        |    sum(CAST(s_g AS DOUBLE) * CAST(s_g AS DOUBLE) /
        |        CAST(n_g AS DOUBLE)) AS sb_raw
        |  FROM g)
        |SELECT k AS k_groups, n AS n_total,
        |  round((sb_raw - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n) / (k - 1)
        |    / ((CAST(ss AS DOUBLE) - sb_raw) / (n - k)), 6) + 0.0 AS f_stat,
        |  round((sb_raw - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n)
        |    / (CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n),
        |    6) + 0.0 AS eta_sq
        |FROM p""".stripMargin,
    // each slope is one IEEE division of exact integers; the median
    // picks by value, so slope ties can't change the picked VALUE
    "q_theilsen" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS d, count(*) AS c
        |  FROM events GROUP BY 1, 2),
        |slopes AS (
        |  SELECT a.event_type,
        |    CAST(b.c - a.c AS DOUBLE) / datediff('day', a.d, b.d) AS slope
        |  FROM daily a JOIN daily b
        |    ON a.event_type = b.event_type AND a.d < b.d),
        |rk AS (
        |  SELECT event_type, slope,
        |    row_number() OVER (PARTITION BY event_type ORDER BY slope) AS rn,
        |    count(*) OVER (PARTITION BY event_type) AS m
        |  FROM slopes)
        |SELECT event_type, CAST(max(m) AS BIGINT) AS n_pairs,
        |  round(avg(slope), 6) + 0.0 AS sen_slope
        |FROM rk WHERE rn = (m + 1) // 2 OR rn = m // 2 + 1
        |GROUP BY event_type ORDER BY event_type NULLS FIRST""".stripMargin,
    "q_burstiness" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS d, count(*) AS c
        |  FROM events GROUP BY 1, 2),
        |m AS (
        |  SELECT event_type, count(*) AS n_days, CAST(sum(c) AS BIGINT) AS s,
        |    CAST(sum(c * c) AS BIGINT) AS ss
        |  FROM daily GROUP BY 1)
        |SELECT event_type, n_days, s AS n_events,
        |  round(CAST(s AS DOUBLE) / CAST(n_days AS DOUBLE), 6) + 0.0
        |    AS mean_daily,
        |  round(CAST(CAST(n_days AS HUGEINT) * ss - CAST(s AS HUGEINT) * s
        |      AS DOUBLE) /
        |    (CAST(n_days AS DOUBLE) * (n_days - 1)) /
        |    (CAST(s AS DOUBLE) / CAST(n_days AS DOUBLE)), 6) + 0.0 AS fano,
        |  round((sqrt(CAST(CAST(n_days AS HUGEINT) * ss
        |        - CAST(s AS HUGEINT) * s AS DOUBLE) /
        |      (CAST(n_days AS DOUBLE) * (n_days - 1)))
        |      - CAST(s AS DOUBLE) / CAST(n_days AS DOUBLE)) /
        |    (sqrt(CAST(CAST(n_days AS HUGEINT) * ss
        |        - CAST(s AS HUGEINT) * s AS DOUBLE) /
        |      (CAST(n_days AS DOUBLE) * (n_days - 1)))
        |      + CAST(s AS DOUBLE) / CAST(n_days AS DOUBLE)), 6) + 0.0
        |    AS burstiness
        |FROM m ORDER BY event_type NULLS FIRST""".stripMargin,
    // the log argument is a ratio of exact integer products, so both
    // engines log the same bits; the vocab-sized double sum is
    // order-sensitive only at the ulp level (q_entropy's argument)
    "q_js_divergence" ->
      """WITH tok AS (
        |  SELECT source, unnest(list_filter(
        |    string_split_regex(lower(text), '[^a-z]+'), x -> x <> '')) AS t
        |  FROM documents),
        |counts AS (SELECT source, t, count(*) AS c FROM tok GROUP BY 1, 2),
        |totals AS (SELECT source, CAST(sum(c) AS BIGINT) AS tot
        |           FROM counts GROUP BY 1),
        |kl AS (
        |  SELECT c1.source AS source, s2.source AS s2,
        |    sum((CAST(c1.c AS DOUBLE) / CAST(t1.tot AS DOUBLE)) *
        |      ln(2.0 * CAST(c1.c AS DOUBLE) * CAST(s2.tot AS DOUBLE) /
        |        (CAST(c1.c AS DOUBLE) * CAST(s2.tot AS DOUBLE) +
        |         CAST(coalesce(c2.c, 0) AS DOUBLE) * CAST(t1.tot AS DOUBLE))))
        |      AS kl
        |  FROM counts c1
        |  JOIN totals t1 ON c1.source = t1.source
        |  JOIN totals s2 ON s2.source <> c1.source
        |  LEFT JOIN counts c2 ON c2.source = s2.source AND c2.t = c1.t
        |  GROUP BY 1, 2)
        |SELECT f.source AS source_1, f.s2 AS source_2,
        |  round((f.kl + r.kl) / 2.0, 6) + 0.0 AS js_div
        |FROM kl f JOIN kl r
        |  ON f.source = r.s2 AND f.s2 = r.source AND f.source < f.s2
        |ORDER BY source_1 NULLS FIRST, source_2 NULLS FIRST""".stripMargin,
    // keep rule is the integer comparison (rk−1)² < n — no float sqrt
    "q_source_cap" ->
      """WITH sizes AS (
        |  SELECT source, count(*) AS n_source FROM documents GROUP BY 1),
        |r AS (
        |  SELECT doc_id, source, row_number() OVER (
        |    PARTITION BY source
        |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
        |  FROM documents)
        |SELECT r.doc_id, r.source, CAST(rk AS BIGINT) AS rk,
        |  CAST(n_source AS BIGINT) AS n_source
        |FROM r JOIN sizes s ON r.source = s.source
        |WHERE (rk - 1) * (rk - 1) < n_source
        |ORDER BY r.source NULLS FIRST, rk NULLS FIRST""".stripMargin,
    // S, the tie sum, and Var·18 are exact integers end to end; Z is
    // one terminal sqrt+division of exact inputs
    "q_mann_kendall" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS d, count(*) AS c
        |  FROM events GROUP BY 1, 2),
        |s AS (
        |  SELECT a.event_type,
        |    CAST(sum(sign(b.c - a.c)) AS BIGINT) AS s_stat
        |  FROM daily a JOIN daily b
        |    ON a.event_type = b.event_type AND a.d < b.d
        |  GROUP BY 1),
        |tg AS (
        |  SELECT event_type, c, count(*) AS t FROM daily GROUP BY 1, 2),
        |ties AS (
        |  SELECT event_type, CAST(sum(t) AS BIGINT) AS n_days,
        |    CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie_sum
        |  FROM tg GROUP BY 1)
        |SELECT s.event_type, n_days, s_stat,
        |  CAST(n_days * (n_days - 1) * (2 * n_days + 5) - tie_sum AS BIGINT)
        |    AS var18,
        |  round(
        |    (CASE WHEN s_stat > 0 THEN CAST(s_stat - 1 AS DOUBLE)
        |          WHEN s_stat < 0 THEN CAST(s_stat + 1 AS DOUBLE)
        |          ELSE 0.0 END) /
        |    sqrt(CAST(n_days * (n_days - 1) * (2 * n_days + 5) - tie_sum
        |         AS DOUBLE) / 18.0), 6) + 0.0 AS z_stat
        |FROM s JOIN ties USING (event_type)
        |ORDER BY event_type NULLS FIRST""".stripMargin,
    "q_lexical_richness" ->
      """WITH tok AS (
        |  SELECT source, unnest(list_filter(
        |    string_split_regex(lower(text), '[^a-z]+'), x -> x <> '')) AS t
        |  FROM documents),
        |counts AS (SELECT source, t, count(*) AS c FROM tok GROUP BY 1, 2),
        |m AS (
        |  SELECT source, CAST(sum(c) AS BIGINT) AS n_tokens,
        |    count(*) AS n_types,
        |    CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax
        |  FROM counts GROUP BY 1)
        |SELECT source, n_tokens, n_types, n_hapax,
        |  round(CAST(n_types AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6) + 0.0
        |    AS ttr,
        |  round(CAST(n_hapax AS DOUBLE) / CAST(n_types AS DOUBLE), 6) + 0.0
        |    AS hapax_share
        |FROM m ORDER BY source NULLS FIRST""".stripMargin,
    // selection ranks by the integer excess a·N − rowT·col (token
    // tie-break); G² is reporting only, its log args exact-int ratios
    "q_keyness" ->
      """WITH tok AS (
        |  SELECT source, unnest(list_filter(
        |    string_split_regex(lower(text), '[^a-z]+'), x -> x <> '')) AS t
        |  FROM documents),
        |counts AS (SELECT source, t, count(*) AS a FROM tok GROUP BY 1, 2),
        |row_tot AS (SELECT source, CAST(sum(a) AS BIGINT) AS row_t
        |            FROM counts GROUP BY 1),
        |col_tot AS (SELECT t, CAST(sum(a) AS BIGINT) AS col_t
        |            FROM counts GROUP BY 1),
        |n_tot AS (SELECT CAST(sum(a) AS BIGINT) AS n_tot FROM counts),
        |scored AS (
        |  SELECT c.source, c.t, c.a, r.row_t, ct.col_t, n.n_tot,
        |    c.a * n.n_tot - r.row_t * ct.col_t AS excess
        |  FROM counts c
        |  JOIN row_tot r ON c.source = r.source
        |  JOIN col_tot ct ON c.t = ct.t
        |  CROSS JOIN n_tot n
        |  WHERE c.a * n.n_tot - r.row_t * ct.col_t > 0),
        |ranked AS (
        |  SELECT source, t, a, col_t, row_t, n_tot,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY excess DESC, t ASC) AS rank
        |  FROM scored)
        |SELECT source, t AS token, a AS n_source, col_t AS n_corpus,
        |  round(2.0 * (
        |    CAST(a AS DOUBLE) *
        |      ln(CAST(a AS DOUBLE) * CAST(n_tot AS DOUBLE) /
        |        (CAST(row_t AS DOUBLE) * CAST(col_t AS DOUBLE))) +
        |    CASE WHEN col_t = a THEN 0.0 ELSE
        |      CAST(col_t - a AS DOUBLE) *
        |        ln(CAST(col_t - a AS DOUBLE) * CAST(n_tot AS DOUBLE) /
        |          (CAST(n_tot - row_t AS DOUBLE) * CAST(col_t AS DOUBLE)))
        |    END), 6) + 0.0 AS g2,
        |  CAST(rank AS BIGINT) AS rank
        |FROM ranked WHERE rank <= 10
        |ORDER BY source NULLS FIRST, rank NULLS FIRST""".stripMargin,
    // per-value dominance products off the shared running totals —
    // exact integers; delta is the single terminal division
    "q_cliff_delta" -> (TwoSampleCte +
      """
        |SELECT CAST(sum(c_a) AS BIGINT) AS n_a,
        |  CAST((sum(c_a * (cum_b - c_b)) + sum(c_a * c_b) +
        |        sum(c_a * ((SELECT sum(c_b) FROM cum) - cum_b)))
        |       / sum(c_a) AS BIGINT) AS n_b,
        |  CAST(sum(c_a * (cum_b - c_b)) AS BIGINT) AS n_gt,
        |  CAST(sum(c_a * ((SELECT sum(c_b) FROM cum) - cum_b)) AS BIGINT)
        |    AS n_lt,
        |  CAST(sum(c_a * c_b) AS BIGINT) AS n_tie,
        |  round(CAST(sum(c_a * (cum_b - c_b)) -
        |             sum(c_a * ((SELECT sum(c_b) FROM cum) - cum_b))
        |        AS DOUBLE) /
        |    CAST(sum(c_a * (cum_b - c_b)) + sum(c_a * c_b) +
        |         sum(c_a * ((SELECT sum(c_b) FROM cum) - cum_b)) AS DOUBLE),
        |    6) + 0.0 AS cliff_delta
        |FROM cum""".stripMargin),
    "q_sample_systematic" ->
      """WITH r AS (
        |  SELECT doc_id, lang, row_number() OVER (
        |    PARTITION BY lang
        |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
        |  FROM documents)
        |SELECT doc_id, lang, CAST(rk AS BIGINT) AS rk
        |FROM r WHERE rk % 10 = 1
        |ORDER BY lang NULLS FIRST, rk NULLS FIRST""".stripMargin,
    "q_trade_volume" ->
      """SELECT ns.n_name AS supp_nation, nc.n_name AS cust_nation,
        |  CAST(year(l_shipdate) AS BIGINT) AS l_year,
        |  CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT) *
        |           CAST(round((1 - l_discount) * 100, 0) AS BIGINT)) AS DOUBLE)
        |    / 10000.0 AS revenue
        |FROM lineitem
        |JOIN supplier ON s_suppkey = l_suppkey
        |JOIN nation ns ON ns.n_nationkey = s_nationkey
        |JOIN orders ON o_orderkey = l_orderkey
        |JOIN customer ON c_custkey = o_custkey
        |JOIN nation nc ON nc.n_nationkey = c_nationkey
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1998-01-01'
        |  AND ns.n_name <> nc.n_name
        |GROUP BY 1, 2, 3
        |ORDER BY supp_nation NULLS FIRST, cust_nation NULLS FIRST,
        |  l_year NULLS FIRST""".stripMargin,
    "q_levene" ->
      """WITH o AS (
        |  SELECT o_orderpriority, o_orderkey,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS x
        |  FROM orders),
        |r AS (
        |  SELECT o_orderpriority, x,
        |    row_number() OVER (PARTITION BY o_orderpriority
        |      ORDER BY x ASC, o_orderkey ASC) AS rn,
        |    count(*) OVER (PARTITION BY o_orderpriority) AS n
        |  FROM o),
        |m AS (
        |  SELECT o_orderpriority,
        |    CASE WHEN count(*) = 1 THEN sum(x) * 2 ELSE sum(x) END AS m2
        |  FROM r WHERE rn = (n + 1) // 2 OR rn = n // 2 + 1
        |  GROUP BY 1),
        |d AS (
        |  SELECT o.o_orderpriority, abs(o.x * 2 - m.m2) AS d
        |  FROM o JOIN m USING (o_orderpriority)),
        |g AS (
        |  SELECT o_orderpriority, count(*) AS n_g, sum(d) AS s_g,
        |    sum(CAST(d AS DECIMAL(38,0)) * d) AS ss_g
        |  FROM d GROUP BY 1),
        |p AS (
        |  SELECT count(*) AS k, sum(n_g) AS n, sum(s_g) AS s, sum(ss_g) AS ss,
        |    sum(CAST(s_g AS DOUBLE) * CAST(s_g AS DOUBLE) /
        |      CAST(n_g AS DOUBLE)) AS sb_raw
        |  FROM g)
        |SELECT CAST(k AS BIGINT) AS k_groups, CAST(n AS BIGINT) AS n_total,
        |  round((sb_raw - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) /
        |      CAST(n AS DOUBLE)) / (k - 1) /
        |    ((CAST(ss AS DOUBLE) - sb_raw) / (n - k)), 6) + 0.0 AS bf_stat
        |FROM p""".stripMargin,
    "q_bartlett" ->
      """WITH g0 AS (
        |  SELECT l_returnflag, count(*) AS n_g, sum(x) AS s_g,
        |    sum(CAST(x AS DECIMAL(38,0)) * x) AS ss_g
        |  FROM (SELECT l_returnflag,
        |          CAST(round(l_quantity * 100) AS BIGINT) AS x FROM lineitem)
        |  GROUP BY 1),
        |g AS (
        |  SELECT n_g, ss_g, s_g,
        |    CAST(round(ln((CAST(ss_g AS DOUBLE) -
        |        CAST(s_g AS DOUBLE) * CAST(s_g AS DOUBLE) /
        |          CAST(n_g AS DOUBLE)) /
        |        CAST(n_g - 1 AS DOUBLE)) * 1000000.0, 0) AS BIGINT)
        |      AS ln_var_micro,
        |    CAST(round(1.0e12 / CAST(n_g - 1 AS DOUBLE), 0) AS BIGINT)
        |      AS inv_pico
        |  FROM g0),
        |p AS (
        |  SELECT count(*) AS k, sum(n_g) AS n, sum(ss_g) AS ss,
        |    sum(CAST(s_g AS DOUBLE) * CAST(s_g AS DOUBLE) /
        |      CAST(n_g AS DOUBLE)) AS sb_raw,
        |    sum((n_g - 1) * ln_var_micro) AS wln_micro,
        |    sum(inv_pico) AS inv_pico_sum
        |  FROM g)
        |SELECT CAST(k AS BIGINT) AS k_groups, CAST(n AS BIGINT) AS n_total,
        |  round((CAST(ss AS DOUBLE) - sb_raw) / CAST(n - k AS DOUBLE), 6)
        |    + 0.0 AS pooled_var,
        |  round(1.0 + (CAST(inv_pico_sum AS DOUBLE) / 1.0e12 -
        |      1.0 / CAST(n - k AS DOUBLE)) /
        |      (3.0 * CAST(k - 1 AS DOUBLE)), 6) + 0.0 AS correction_c,
        |  round((CAST(n - k AS DOUBLE) *
        |      ln((CAST(ss AS DOUBLE) - sb_raw) / CAST(n - k AS DOUBLE)) -
        |      CAST(wln_micro AS DOUBLE) / 1000000.0) /
        |    (1.0 + (CAST(inv_pico_sum AS DOUBLE) / 1.0e12 -
        |      1.0 / CAST(n - k AS DOUBLE)) /
        |      (3.0 * CAST(k - 1 AS DOUBLE))), 6) + 0.0 AS bartlett_chi2
        |FROM p""".stripMargin,
    "q_chao1" ->
      """WITH c AS (
        |  SELECT word, count(*) AS c FROM (
        |    SELECT unnest(string_split_regex(lower(text), '[^a-z]+')) AS word
        |    FROM documents) t
        |  WHERE word <> '' GROUP BY word),
        |s AS (
        |  SELECT sum(c) AS n_tokens, count(*) AS vocab_size,
        |    sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS f1,
        |    sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS f2
        |  FROM c)
        |SELECT CAST(n_tokens AS BIGINT) AS n_tokens,
        |  CAST(vocab_size AS BIGINT) AS vocab_size,
        |  CAST(f1 AS BIGINT) AS f1, CAST(f2 AS BIGINT) AS f2,
        |  round(CAST(vocab_size AS DOUBLE) +
        |    CAST(f1 * (f1 - 1) AS DOUBLE) / CAST(2 * (f2 + 1) AS DOUBLE), 6)
        |    + 0.0 AS chao1,
        |  round(CAST(f1 AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6) + 0.0
        |    AS unseen_mass
        |FROM s""".stripMargin,
    "q_stickiness" ->
      """WITH du AS (
        |  SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
        |days AS (SELECT DISTINCT day AS target_day FROM du),
        |mau AS (
        |  SELECT d.target_day AS day, count(DISTINCT u.user_id) AS mau28
        |  FROM du u JOIN days d
        |    ON d.target_day BETWEEN u.day AND u.day + 27
        |  GROUP BY 1),
        |dau AS (
        |  SELECT day, count(DISTINCT user_id) AS dau FROM du GROUP BY 1)
        |SELECT dau.day, dau.dau, mau.mau28,
        |  round(CAST(dau.dau AS DOUBLE) / CAST(mau.mau28 AS DOUBLE), 6) + 0.0
        |    AS stickiness
        |FROM dau JOIN mau ON dau.day = mau.day
        |ORDER BY dau.day NULLS FIRST""".stripMargin,
    "q_lift" ->
      """WITH pu AS (
        |  SELECT user_id,
        |    sum(CASE WHEN CAST(ts AS DATE) < DATE '2024-01-22'
        |        THEN 1 ELSE 0 END) AS score,
        |    max(CASE WHEN CAST(ts AS DATE) >= DATE '2024-01-22'
        |        AND event_type = 'purchase' THEN 1 ELSE 0 END) AS buyer
        |  FROM events GROUP BY 1),
        |d AS (
        |  SELECT user_id, CAST(score AS BIGINT) AS score,
        |    CAST(buyer AS BIGINT) AS buyer,
        |    ntile(10) OVER (ORDER BY score DESC, user_id ASC) AS decile
        |  FROM pu WHERE score >= 1),
        |t AS (SELECT sum(buyer) AS tot_buyers, count(*) AS tot_users FROM d)
        |SELECT CAST(decile AS INT) AS decile, count(*) AS n_users,
        |  CAST(sum(buyer) AS BIGINT) AS n_buyers,
        |  CASE WHEN t.tot_buyers > 0 THEN
        |    round(CAST(sum(buyer) AS DOUBLE) / CAST(t.tot_buyers AS DOUBLE),
        |      6) + 0.0 END AS capture_rate,
        |  CASE WHEN t.tot_buyers > 0 THEN
        |    round((CAST(sum(buyer) AS DOUBLE) / count(*)) /
        |      (CAST(t.tot_buyers AS DOUBLE) / t.tot_users), 6) + 0.0
        |  END AS lift
        |FROM d CROSS JOIN t
        |GROUP BY decile, t.tot_buyers, t.tot_users
        |ORDER BY decile ASC""".stripMargin,
    "q_brier" ->
      """WITH e AS (
        |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings
        |), pairs AS (
        |  SELECT p.vec_id AS probe_id, c.vec_id AS vec_id,
        |    round(list_dot_product(p.v, c.v) /
        |      (sqrt(list_dot_product(p.v, p.v)) *
        |       sqrt(list_dot_product(c.v, c.v))), 6) + 0.0 AS cosine
        |  FROM e p JOIN e c ON p.vec_id % 100 = 0 AND c.vec_id <> p.vec_id
        |), ranked AS (
        |  SELECT probe_id, vec_id,
        |    row_number() OVER (PARTITION BY probe_id
        |      ORDER BY cosine DESC, vec_id ASC) AS rank
        |  FROM pairs
        |), votes AS (
        |  SELECT probe_id, l.label, count(*) AS votes
        |  FROM ranked r JOIN e l ON r.vec_id = l.vec_id
        |  WHERE r.rank <= 5 GROUP BY 1, 2
        |), pv AS (
        |  SELECT probe_id, label AS pred_label, votes,
        |    row_number() OVER (PARTITION BY probe_id
        |      ORDER BY votes DESC, label ASC) AS rn
        |  FROM votes
        |), pred AS (
        |  SELECT p.probe_id, p.pred_label, p.votes, t.label AS true_label
        |  FROM pv p JOIN e t ON p.probe_id = t.vec_id WHERE p.rn = 1
        |), m AS (
        |  SELECT
        |    CASE WHEN pred_label = true_label THEN 1 ELSE 0 END AS correct,
        |    CAST(round(pow(CAST(votes AS DOUBLE) / 5 -
        |      CASE WHEN pred_label = true_label THEN 1 ELSE 0 END, 2)
        |      * 1000000.0, 0) AS BIGINT) AS brier_micro,
        |    CAST(round(-ln(CASE WHEN pred_label = true_label
        |        THEN CAST(votes + 1 AS DOUBLE) / 7
        |        ELSE 1.0 - CAST(votes + 1 AS DOUBLE) / 7 END)
        |      * 1000000.0, 0) AS BIGINT) AS ll_micro
        |  FROM pred)
        |SELECT count(*) AS n_probes, CAST(sum(correct) AS BIGINT) AS n_correct,
        |  round(CAST(sum(correct) AS DOUBLE) / count(*), 6) + 0.0 AS accuracy,
        |  round(CAST(sum(brier_micro) AS DOUBLE) / count(*) / 1000000.0, 6)
        |    + 0.0 AS brier,
        |  round(CAST(sum(ll_micro) AS DOUBLE) / count(*) / 1000000.0, 6)
        |    + 0.0 AS log_loss
        |FROM m""".stripMargin,
    "q_drawdown" ->
      """WITH d AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day,
        |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS c
        |  FROM events GROUP BY 1, 2),
        |p AS (
        |  SELECT event_type, day, c,
        |    max(c) OVER (PARTITION BY event_type ORDER BY day ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS peak
        |  FROM d)
        |SELECT event_type, day,
        |  round(CAST(c AS DOUBLE) / 100.0, 6) + 0.0 AS day_value,
        |  round(CAST(peak AS DOUBLE) / 100.0, 6) + 0.0 AS peak_value,
        |  CASE WHEN peak > 0 THEN
        |    round(CAST(peak - c AS DOUBLE) / CAST(peak AS DOUBLE), 6) + 0.0
        |  END AS drawdown
        |FROM p
        |ORDER BY event_type NULLS FIRST, day NULLS FIRST""".stripMargin,
    "q_rsi" ->
      """WITH d AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day,
        |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS c
        |  FROM events GROUP BY 1, 2),
        |l AS (
        |  SELECT event_type, day,
        |    c - lag(c, 1) OVER (PARTITION BY event_type ORDER BY day ASC)
        |      AS diff
        |  FROM d),
        |gl AS (
        |  SELECT event_type, day,
        |    CASE WHEN diff > 0 THEN diff ELSE 0 END AS gain,
        |    CASE WHEN diff < 0 THEN -diff ELSE 0 END AS loss,
        |    diff
        |  FROM l),
        |r AS (
        |  SELECT event_type, day,
        |    sum(gain) OVER w AS g, sum(loss) OVER w AS l,
        |    count(diff) OVER w AS n_diffs
        |  FROM gl WINDOW w AS (PARTITION BY event_type ORDER BY day ASC
        |    ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
        |SELECT event_type, day,
        |  CAST(g AS BIGINT) AS gain_cents, CAST(l AS BIGINT) AS loss_cents,
        |  n_diffs,
        |  CASE WHEN g + l > 0 THEN
        |    round(CAST(g AS DOUBLE) * 100.0 / CAST(g + l AS DOUBLE), 6) + 0.0
        |  END AS rsi14
        |FROM r WHERE n_diffs = 14
        |ORDER BY event_type NULLS FIRST, day NULLS FIRST""".stripMargin,
    "q_jl_project" ->
      """WITH pos AS (SELECT CAST(unnest(range(1, 65)) AS INT) AS dim),
        |outs AS (SELECT CAST(unnest(range(1, 17)) AS INT) AS j),
        |signs AS (
        |  SELECT dim, j,
        |    CASE WHEN CAST('0x' || substring(md5('jl:' || CAST(j AS VARCHAR)
        |        || '_' || CAST(dim AS VARCHAR)), 1, 4) AS BIGINT) % 2 = 1
        |      THEN 1 ELSE -1 END AS s
        |  FROM pos CROSS JOIN outs),
        |e AS (
        |  SELECT vec_id, label, dim,
        |    CAST(round(CAST(embedding[dim] AS DOUBLE) * 1000000.0, 0)
        |      AS BIGINT) AS vm
        |  FROM embeddings CROSS JOIN pos),
        |proj AS (
        |  SELECT e.vec_id, s.j, sum(s.s * e.vm) AS pm
        |  FROM e JOIN signs s ON e.dim = s.dim GROUP BY 1, 2),
        |y2 AS (
        |  SELECT vec_id, sum(CAST(pm AS DECIMAL(38,0)) * pm) AS sy2
        |  FROM proj GROUP BY 1),
        |x2 AS (
        |  SELECT vec_id, label, sum(CAST(vm AS DECIMAL(38,0)) * vm) AS sx2
        |  FROM e GROUP BY 1, 2),
        |r AS (
        |  SELECT x2.label,
        |    CAST(round(CAST(sy2 AS DOUBLE) /
        |      (CAST(sx2 AS DOUBLE) * 16.0) * 1000000.0, 0) AS BIGINT) AS rm
        |  FROM x2 JOIN y2 USING (vec_id))
        |SELECT label, count(*) AS n_vecs,
        |  round(CAST(sum(rm) AS DOUBLE) / count(*) / 1000000.0, 6) + 0.0
        |    AS mean_ratio,
        |  round(CAST(min(rm) AS DOUBLE) / 1000000.0, 6) + 0.0 AS min_ratio,
        |  round(CAST(max(rm) AS DOUBLE) / 1000000.0, 6) + 0.0 AS max_ratio
        |FROM r GROUP BY label ORDER BY label NULLS FIRST""".stripMargin,
    "q_embed_outliers" ->
      """WITH pos AS (SELECT CAST(unnest(range(1, 65)) AS INT) AS dim),
        |e AS (
        |  SELECT vec_id, label, dim,
        |    CAST(round(CAST(embedding[dim] AS DOUBLE) * 1000000.0, 0)
        |      AS BIGINT) AS vm
        |  FROM embeddings CROSS JOIN pos),
        |cent AS (
        |  SELECT label, dim, count(*) AS n, sum(vm) AS s
        |  FROM e GROUP BY 1, 2),
        |d2 AS (
        |  SELECT e.vec_id, e.label, c.n,
        |    sum(CAST(c.n * e.vm - c.s AS DECIMAL(38,0)) *
        |        (c.n * e.vm - c.s)) AS d2s
        |  FROM e JOIN cent c ON e.label = c.label AND e.dim = c.dim
        |  GROUP BY 1, 2, 3),
        |stats AS (
        |  SELECT label, sum(d2s) AS d2sum, count(*) AS n_vecs
        |  FROM d2 GROUP BY 1),
        |ranked AS (
        |  SELECT vec_id, label, n, d2s,
        |    row_number() OVER (PARTITION BY label
        |      ORDER BY d2s DESC, vec_id ASC) AS rank
        |  FROM d2)
        |SELECT r.label, CAST(r.rank AS INT) AS rank, r.vec_id,
        |  round(sqrt(CAST(r.d2s AS DOUBLE)) /
        |    (CAST(r.n AS DOUBLE) * 1000000.0), 6) + 0.0 AS dist,
        |  round(CAST(r.d2s AS DOUBLE) /
        |    (CAST(st.d2sum AS DOUBLE) / CAST(st.n_vecs AS DOUBLE)), 6) + 0.0
        |    AS ratio_to_mean
        |FROM ranked r JOIN stats st ON r.label = st.label
        |WHERE r.rank <= 5
        |ORDER BY r.label NULLS FIRST, r.rank ASC""".stripMargin,
    "q_power_users" ->
      """WITH du AS (
        |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        |pu AS (
        |  SELECT user_id, count(*) AS days_active FROM du GROUP BY 1),
        |h AS (
        |  SELECT days_active, count(*) AS n_users FROM pu GROUP BY 1),
        |c AS (
        |  SELECT days_active, n_users,
        |    sum(n_users) OVER () AS total,
        |    sum(n_users) OVER (ORDER BY days_active DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM h)
        |SELECT CAST(days_active AS BIGINT) AS days_active,
        |  CAST(n_users AS BIGINT) AS n_users,
        |  round(CAST(n_users AS DOUBLE) / CAST(total AS DOUBLE), 6) + 0.0
        |    AS user_share,
        |  round(CAST(cum AS DOUBLE) / CAST(total AS DOUBLE), 6) + 0.0
        |    AS cum_share
        |FROM c ORDER BY days_active DESC""".stripMargin,
    "q_qq_plot" ->
      """WITH ev AS (
        |  SELECT event_type, value, event_id FROM events
        |  WHERE event_type IN ('click', 'purchase')),
        |r AS (
        |  SELECT event_type, value,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY value ASC, event_id ASC) AS rn,
        |    count(*) OVER (PARTITION BY event_type) AS n
        |  FROM ev),
        |qs AS (SELECT CAST(unnest(range(1, 20)) AS INT) AS q),
        |pick AS (
        |  SELECT q, event_type, value
        |  FROM r JOIN qs ON rn = (q * n + 19) // 20)
        |SELECT q * 5 AS pct,
        |  round(max(CASE WHEN event_type = 'click' THEN value END), 6) + 0.0
        |    AS click_value,
        |  round(max(CASE WHEN event_type = 'purchase' THEN value END), 6)
        |    + 0.0 AS purchase_value,
        |  round(max(CASE WHEN event_type = 'purchase' THEN value END) -
        |        max(CASE WHEN event_type = 'click' THEN value END), 6) + 0.0
        |    AS qq_diff
        |FROM pick GROUP BY q ORDER BY pct ASC""".stripMargin,
    "q_session_percentiles" ->
      """WITH flagged AS (
        |  SELECT user_id, ts, event_id,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
        |         THEN 1 ELSE 0 END AS new_session
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
        |), sess AS (
        |  SELECT user_id, ts,
        |    sum(new_session) OVER (PARTITION BY user_id
        |      ORDER BY ts ASC, event_id ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        |  FROM flagged
        |), s AS (
        |  SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
        |    count(*) AS n_events,
        |    CAST(date_trunc('week', min(ts)) AS TIMESTAMP) AS week,
        |    epoch_us(max(ts)) - epoch_us(min(ts)) AS duration_us
        |  FROM sess GROUP BY user_id, session_id
        |), ranked AS (
        |  SELECT week, user_id, session_id, duration_us,
        |    row_number() OVER (PARTITION BY week
        |      ORDER BY duration_us ASC, user_id ASC, session_id ASC) AS rn,
        |    count(*) OVER (PARTITION BY week) AS n,
        |    sum(n_events) OVER (PARTITION BY week) AS se
        |  FROM s)
        |SELECT week, CAST(max(n) AS BIGINT) AS n_sessions,
        |  CAST(max(CASE WHEN rn = (n + 1) // 2 THEN duration_us END)
        |    AS DOUBLE) / 1000000.0 + 0.0 AS p50_duration_s,
        |  CAST(max(CASE WHEN rn = (9 * n + 9) // 10 THEN duration_us END)
        |    AS DOUBLE) / 1000000.0 + 0.0 AS p90_duration_s,
        |  round(CAST(max(se) AS DOUBLE) / max(n), 6) + 0.0 AS avg_events
        |FROM ranked
        |WHERE rn = (n + 1) // 2 OR rn = (9 * n + 9) // 10
        |GROUP BY week ORDER BY week NULLS FIRST""".stripMargin,
    "q_cosine_hist" ->
      """WITH e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings
        |  WHERE CAST('0x' || substring(md5(CAST(vec_id AS VARCHAR)), 1, 4)
        |    AS BIGINT) % 100 < 10),
        |pairs AS (
        |  SELECT round(list_dot_product(a.v, b.v) /
        |      (sqrt(list_dot_product(a.v, a.v)) *
        |       sqrt(list_dot_product(b.v, b.v))), 6) + 0.0 AS cosine
        |  FROM e a JOIN e b ON a.vec_id < b.vec_id),
        |h AS (
        |  SELECT CAST(floor(cosine * 20) AS INT) AS bucket,
        |    count(*) AS n_pairs
        |  FROM pairs GROUP BY 1),
        |t AS (SELECT bucket, n_pairs, sum(n_pairs) OVER () AS total FROM h)
        |SELECT bucket,
        |  round(CAST(bucket AS DOUBLE) / 20.0, 6) + 0.0 AS cos_lo,
        |  CAST(n_pairs AS BIGINT) AS n_pairs,
        |  round(CAST(n_pairs AS DOUBLE) / CAST(total AS DOUBLE), 6) + 0.0
        |    AS share
        |FROM t ORDER BY bucket ASC""".stripMargin,
    "q_token_len_dist" ->
      """WITH tok AS (
        |  SELECT unnest(string_split_regex(lower(text), '[^a-z]+')) AS t
        |  FROM documents),
        |h AS (
        |  SELECT CAST(length(t) AS INT) AS token_len, count(*) AS n_tokens
        |  FROM tok WHERE t <> '' GROUP BY 1),
        |c AS (
        |  SELECT token_len, n_tokens,
        |    sum(n_tokens) OVER () AS total,
        |    sum(n_tokens) OVER (ORDER BY token_len DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM h)
        |SELECT token_len, CAST(n_tokens AS BIGINT) AS n_tokens,
        |  round(CAST(n_tokens AS DOUBLE) / CAST(total AS DOUBLE), 6) + 0.0
        |    AS share,
        |  round(CAST(cum AS DOUBLE) / CAST(total AS DOUBLE), 6) + 0.0
        |    AS cum_share_longest
        |FROM c ORDER BY token_len DESC""".stripMargin,
    "q_char_entropy" ->
      """WITH ch AS (
        |  SELECT source, substring(text, CAST(u.i AS INT), 1) AS ch
        |  FROM documents,
        |    unnest(range(1, length(text) + 1)) AS u(i)),
        |g AS (
        |  SELECT source, ch, count(*) AS c FROM ch GROUP BY 1, 2),
        |n AS (
        |  SELECT source, ch, c, sum(c) OVER (PARTITION BY source) AS n
        |  FROM g),
        |t AS (
        |  SELECT source, c, n,
        |    CAST(round(-ln(CAST(c AS DOUBLE) / n) * c * 1000000.0 / n, 0)
        |      AS BIGINT) AS term_micro
        |  FROM n)
        |SELECT source, CAST(max(n) AS BIGINT) AS n_chars,
        |  count(*) AS n_distinct_chars,
        |  round(CAST(sum(term_micro) AS DOUBLE) / 1000000.0, 6) + 0.0
        |    AS entropy_nats,
        |  round(CAST(sum(term_micro) AS DOUBLE) / 1000000.0 / ln(2.0), 6)
        |    + 0.0 AS bits_per_char
        |FROM t GROUP BY source ORDER BY source NULLS FIRST""".stripMargin,
    "q_tukey" ->
      """WITH g AS (
        |  SELECT o_orderpriority, count(*) AS n_g, sum(x) AS s_g,
        |    sum(CAST(x AS DECIMAL(38,0)) * x) AS ss_g
        |  FROM (SELECT o_orderpriority,
        |          CAST(round(o_totalprice * 100) AS BIGINT) AS x FROM orders)
        |  GROUP BY 1),
        |m AS (
        |  SELECT (CAST(sum(ss_g) AS DOUBLE) -
        |    sum(CAST(s_g AS DOUBLE) * CAST(s_g AS DOUBLE) /
        |      CAST(n_g AS DOUBLE))) /
        |    CAST(sum(n_g) - count(*) AS DOUBLE) AS msw
        |  FROM g)
        |SELECT a.o_orderpriority AS g1, b.o_orderpriority AS g2,
        |  a.n_g AS n1, b.n_g AS n2,
        |  round(CAST(a.s_g AS DOUBLE) / a.n_g / 100.0 -
        |        CAST(b.s_g AS DOUBLE) / b.n_g / 100.0, 6) + 0.0 AS mean_diff,
        |  round(sqrt(m.msw * (1.0 / a.n_g + 1.0 / b.n_g)) / 100.0, 6) + 0.0
        |    AS se,
        |  round(abs(CAST(a.s_g AS DOUBLE) / a.n_g / 100.0 -
        |            CAST(b.s_g AS DOUBLE) / b.n_g / 100.0) /
        |        (sqrt(m.msw * (1.0 / a.n_g + 1.0 / b.n_g)) / 100.0), 6) + 0.0
        |    AS t_stat
        |FROM g a JOIN g b ON a.o_orderpriority < b.o_orderpriority
        |CROSS JOIN m
        |ORDER BY g1 NULLS FIRST, g2 NULLS FIRST""".stripMargin,
    "q_dedup_sweep" ->
      """WITH docs AS (
        |  SELECT doc_id, list_filter(
        |    string_split_regex(lower(text), '[^a-z]+'), x -> x <> '') AS toks
        |  FROM documents
        |), sh AS (
        |  SELECT doc_id, CASE WHEN len(toks) >= 3
        |    THEN list_distinct(list_transform(range(1, len(toks) - 1),
        |         i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
        |    ELSE [] END AS s
        |  FROM docs
        |), ex0 AS (SELECT doc_id, unnest(s) AS sh FROM sh),
        |ex AS (
        |  SELECT doc_id, sh FROM (
        |    SELECT doc_id, sh, count(*) OVER (PARTITION BY sh) AS df
        |    FROM ex0)
        |  WHERE df <= 1000),
        |sz AS (SELECT doc_id, len(s) AS n FROM sh),
        |pairs AS (
        |  SELECT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2,
        |    count(*) AS shared
        |  FROM ex a JOIN ex b ON a.sh = b.sh AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |j AS (
        |  SELECT doc_id_1, doc_id_2,
        |    round(shared * 1.0 / (x.n + y.n - shared), 6) + 0.0 AS j
        |  FROM pairs JOIN sz x ON doc_id_1 = x.doc_id
        |    JOIN sz y ON doc_id_2 = y.doc_id),
        |a AS (
        |  SELECT
        |    sum(CASE WHEN j >= 0.5 THEN 1 ELSE 0 END) AS p50,
        |    count(DISTINCT CASE WHEN j >= 0.5 THEN doc_id_2 END) AS d50,
        |    sum(CASE WHEN j >= 0.7 THEN 1 ELSE 0 END) AS p70,
        |    count(DISTINCT CASE WHEN j >= 0.7 THEN doc_id_2 END) AS d70,
        |    sum(CASE WHEN j >= 0.9 THEN 1 ELSE 0 END) AS p90,
        |    count(DISTINCT CASE WHEN j >= 0.9 THEN doc_id_2 END) AS d90
        |  FROM j)
        |SELECT CAST(0.5 AS DOUBLE) AS threshold,
        |  CAST(p50 AS BIGINT) AS n_pairs, CAST(d50 AS BIGINT)
        |    AS n_docs_flagged FROM a
        |UNION ALL SELECT CAST(0.7 AS DOUBLE), CAST(p70 AS BIGINT),
        |  CAST(d70 AS BIGINT) FROM a
        |UNION ALL SELECT CAST(0.9 AS DOUBLE), CAST(p90 AS BIGINT),
        |  CAST(d90 AS BIGINT) FROM a
        |ORDER BY threshold ASC""".stripMargin,
    "q_bigram_coverage" ->
      """WITH docs AS (
        |  SELECT doc_id, list_filter(
        |    string_split_regex(lower(text), '[^a-z]+'), x -> x <> '') AS toks
        |  FROM documents),
        |bg0 AS (
        |  SELECT unnest(list_transform(range(1, len(toks)),
        |    i -> toks[i] || ' ' || toks[i+1])) AS bg
        |  FROM docs WHERE len(toks) >= 2),
        |c AS (SELECT bg, count(*) AS c FROM bg0 GROUP BY 1),
        |tot AS (SELECT sum(c) AS total FROM c),
        |top AS (SELECT bg, c FROM c ORDER BY c DESC, bg ASC LIMIT 100),
        |r AS (
        |  SELECT bg, c,
        |    row_number() OVER (ORDER BY c DESC, bg ASC) AS rank,
        |    sum(c) OVER (ORDER BY c DESC, bg ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM top)
        |SELECT CAST(rank AS INT) AS rank, CAST(cum AS BIGINT) AS cum_count,
        |  CAST(t.total AS BIGINT) AS total_bigrams,
        |  round(CAST(cum AS DOUBLE) / CAST(t.total AS DOUBLE), 6) + 0.0
        |    AS coverage
        |FROM r CROSS JOIN tot t WHERE rank IN (10, 25, 50, 100)
        |ORDER BY rank ASC""".stripMargin,
    "q_bounce_rate" ->
      """WITH flagged AS (
        |  SELECT user_id, ts, event_id,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
        |         THEN 1 ELSE 0 END AS new_session
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
        |), sess AS (
        |  SELECT user_id, ts,
        |    sum(new_session) OVER (PARTITION BY user_id
        |      ORDER BY ts ASC, event_id ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        |  FROM flagged
        |), s AS (
        |  SELECT user_id, session_id, count(*) AS n_events,
        |    CAST(date_trunc('week', min(ts)) AS TIMESTAMP) AS week
        |  FROM sess GROUP BY user_id, session_id)
        |SELECT week, count(*) AS n_sessions,
        |  CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_bounces,
        |  round(CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END)
        |    AS DOUBLE) / count(*), 6) + 0.0 AS bounce_rate
        |FROM s GROUP BY week ORDER BY week NULLS FIRST""".stripMargin,
    "q_ab_test" ->
      """WITH pu AS (
        |  SELECT CASE WHEN CAST('0x' ||
        |      substring(md5(CAST(user_id AS VARCHAR)), 1, 4) AS BIGINT)
        |      % 2 = 0 THEN 'control' ELSE 'treatment' END AS variant,
        |    user_id,
        |    max(CASE WHEN event_type = 'purchase' AND value >= 50
        |        THEN 1 ELSE 0 END) AS converted
        |  FROM events GROUP BY 1, 2),
        |c AS (
        |  SELECT
        |    sum(CASE WHEN variant = 'control' THEN 1 ELSE 0 END) AS n1,
        |    sum(CASE WHEN variant = 'control' THEN converted ELSE 0 END)
        |      AS x1,
        |    sum(CASE WHEN variant = 'treatment' THEN 1 ELSE 0 END) AS n2,
        |    sum(CASE WHEN variant = 'treatment' THEN converted ELSE 0 END)
        |      AS x2
        |  FROM pu)
        |SELECT CAST(n1 AS BIGINT) AS n_control,
        |  CAST(x1 AS BIGINT) AS conv_control,
        |  CAST(n2 AS BIGINT) AS n_treatment,
        |  CAST(x2 AS BIGINT) AS conv_treatment,
        |  round(CAST(x2 AS DOUBLE) / n2 - CAST(x1 AS DOUBLE) / n1, 6) + 0.0
        |    AS conversion_gap,
        |  CASE WHEN x1 + x2 > 0 AND x1 + x2 < n1 + n2 THEN
        |    round((CAST(x2 AS DOUBLE) / n2 - CAST(x1 AS DOUBLE) / n1) /
        |      sqrt((CAST(x1 + x2 AS DOUBLE) / (n1 + n2)) *
        |        (1.0 - CAST(x1 + x2 AS DOUBLE) / (n1 + n2)) *
        |        (1.0 / n1 + 1.0 / n2)), 6) + 0.0
        |  END AS z_stat
        |FROM c""".stripMargin,
    "q_pacf" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS d, count(*) AS c
        |  FROM events GROUP BY 1, 2),
        |lagged AS (
        |  SELECT event_type, 1 AS lag, c AS y,
        |    lag(c, 1) OVER w1 AS x FROM daily
        |    WINDOW w1 AS (PARTITION BY event_type ORDER BY d)
        |  UNION ALL
        |  SELECT event_type, 2 AS lag, c AS y,
        |    lag(c, 2) OVER w2 AS x FROM daily
        |    WINDOW w2 AS (PARTITION BY event_type ORDER BY d)
        |  UNION ALL
        |  SELECT event_type, 3 AS lag, c AS y,
        |    lag(c, 3) OVER w3 AS x FROM daily
        |    WINDOW w3 AS (PARTITION BY event_type ORDER BY d)),
        |acf AS (
        |  SELECT event_type, lag,
        |    round(
        |      CAST(count(*) * sum(x * y) - sum(x) * sum(y) AS DOUBLE) /
        |      (sqrt(CAST(count(*) * sum(x * x) - sum(x) * sum(x) AS DOUBLE)) *
        |       sqrt(CAST(count(*) * sum(y * y) - sum(y) * sum(y) AS DOUBLE))),
        |      6) + 0.0 AS autocorr
        |  FROM lagged WHERE x IS NOT NULL
        |  GROUP BY event_type, lag),
        |p AS (
        |  SELECT event_type,
        |    max(CASE WHEN lag = 1 THEN autocorr END) AS r1,
        |    max(CASE WHEN lag = 2 THEN autocorr END) AS r2,
        |    max(CASE WHEN lag = 3 THEN autocorr END) AS r3
        |  FROM acf GROUP BY 1)
        |SELECT event_type, r1, r2, r3,
        |  CASE WHEN 1.0 - r1 * r1 <> 0 THEN
        |    round((r2 - r1 * r1) / (1.0 - r1 * r1), 6) + 0.0 END AS pacf2,
        |  CASE WHEN 1.0 - r1 * r1 <> 0 AND
        |      1.0 - (r1 * (1.0 - (r2 - r1 * r1) / (1.0 - r1 * r1))) * r1 -
        |        ((r2 - r1 * r1) / (1.0 - r1 * r1)) * r2 <> 0 THEN
        |    round((r3 - (r1 * (1.0 - (r2 - r1 * r1) / (1.0 - r1 * r1))) * r2
        |        - ((r2 - r1 * r1) / (1.0 - r1 * r1)) * r1) /
        |      (1.0 - (r1 * (1.0 - (r2 - r1 * r1) / (1.0 - r1 * r1))) * r1 -
        |        ((r2 - r1 * r1) / (1.0 - r1 * r1)) * r2), 6) + 0.0
        |  END AS pacf3
        |FROM p ORDER BY event_type NULLS FIRST""".stripMargin,
    "q_forecast_eval" ->
      """WITH d AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day,
        |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS c
        |  FROM events GROUP BY 1, 2),
        |l AS (
        |  SELECT event_type,
        |    c - lag(c, 7) OVER w AS err,
        |    lag(c, 7) OVER w AS pred
        |  FROM d WINDOW w AS (PARTITION BY event_type ORDER BY day ASC))
        |SELECT event_type, count(*) AS n_days_eval,
        |  round(CAST(sum(abs(err)) AS DOUBLE) / count(*) / 100.0, 6) + 0.0
        |    AS mae,
        |  round(sqrt(CAST(sum(CAST(err AS DECIMAL(38,0)) * err) AS DOUBLE) /
        |    count(*)) / 100.0, 6) + 0.0 AS rmse,
        |  round(CAST(sum(err) AS DOUBLE) / count(*) / 100.0, 6) + 0.0 AS bias
        |FROM l WHERE pred IS NOT NULL
        |GROUP BY 1 ORDER BY event_type NULLS FIRST""".stripMargin,
    "q_freshness" ->
      """WITH ev AS (
        |  SELECT event_type, ts, CAST(ts AS DATE) AS day FROM events),
        |e AS (SELECT max(ts) AS corpus_end FROM ev),
        |p AS (
        |  SELECT event_type, count(*) AS n_events,
        |    count(DISTINCT day) AS n_days, max(ts) AS last_ts,
        |    sum(CASE WHEN epoch_us(ts) >
        |      epoch_us(e.corpus_end) - 86400000000 THEN 1 ELSE 0 END)
        |      AS n_last_day,
        |    max(e.corpus_end) AS corpus_end
        |  FROM ev CROSS JOIN e GROUP BY 1)
        |SELECT event_type, CAST(n_events AS BIGINT) AS n_events,
        |  CAST(n_days AS BIGINT) AS n_days, last_ts,
        |  CAST(n_last_day AS BIGINT) AS n_last_day,
        |  round(CAST(epoch_us(corpus_end) - epoch_us(last_ts) AS DOUBLE) /
        |    3600000000.0, 6) + 0.0 AS hours_stale,
        |  round(CAST(n_last_day AS DOUBLE) /
        |    (CAST(n_events AS DOUBLE) / n_days), 6) + 0.0 AS last_day_vs_avg
        |FROM p ORDER BY event_type NULLS FIRST""".stripMargin,
    "q_priority_mix" ->
      """WITH g AS (
        |  SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP)
        |      AS month,
        |    o_orderpriority, count(*) AS n_orders
        |  FROM orders GROUP BY 1, 2),
        |s AS (
        |  SELECT month, o_orderpriority,
        |    CAST(n_orders AS BIGINT) AS n_orders,
        |    round(CAST(n_orders AS DOUBLE) /
        |      sum(n_orders) OVER (PARTITION BY month), 6) + 0.0 AS share
        |  FROM g)
        |SELECT month, o_orderpriority, n_orders, share,
        |  CASE WHEN lag(share, 1) OVER w IS NOT NULL THEN
        |    round(share - lag(share, 1) OVER w, 6) + 0.0 END AS mom_delta
        |FROM s WINDOW w AS (PARTITION BY o_orderpriority ORDER BY month ASC)
        |ORDER BY month NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin,
    "q_cohens_d" ->
      """WITH g AS (
        |  SELECT event_type, count(*) AS n, sum(x) AS s,
        |    sum(CAST(x AS DECIMAL(38,0)) * x) AS ss
        |  FROM (SELECT event_type, CAST(round(value * 100) AS BIGINT) AS x
        |        FROM events WHERE event_type IN ('click', 'purchase'))
        |  GROUP BY 1),
        |c AS (
        |  SELECT
        |    max(CASE WHEN event_type = 'click' THEN n END) AS na,
        |    max(CASE WHEN event_type = 'click' THEN s END) AS sa,
        |    max(CASE WHEN event_type = 'click' THEN ss END) AS ssa,
        |    max(CASE WHEN event_type = 'purchase' THEN n END) AS nb,
        |    max(CASE WHEN event_type = 'purchase' THEN s END) AS sb,
        |    max(CASE WHEN event_type = 'purchase' THEN ss END) AS ssb
        |  FROM g),
        |f AS (
        |  SELECT na, nb,
        |    CAST(sa AS DOUBLE) / na / 100.0 AS ma,
        |    CAST(sb AS DOUBLE) / nb / 100.0 AS mb,
        |    sqrt((CAST(na - 1 AS DOUBLE) *
        |        ((CAST(ssa AS DOUBLE) - CAST(sa AS DOUBLE) *
        |          CAST(sa AS DOUBLE) / CAST(na AS DOUBLE)) /
        |          CAST(na - 1 AS DOUBLE)) +
        |      CAST(nb - 1 AS DOUBLE) *
        |        ((CAST(ssb AS DOUBLE) - CAST(sb AS DOUBLE) *
        |          CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE)) /
        |          CAST(nb - 1 AS DOUBLE))) /
        |      CAST(na + nb - 2 AS DOUBLE)) / 100.0 AS sp
        |  FROM c)
        |SELECT CAST(na AS BIGINT) AS n_click, CAST(nb AS BIGINT)
        |    AS n_purchase,
        |  round(ma, 6) + 0.0 AS mean_click,
        |  round(mb, 6) + 0.0 AS mean_purchase,
        |  round(sp, 6) + 0.0 AS pooled_sd,
        |  round((mb - ma) / sp, 6) + 0.0 AS cohens_d,
        |  round((mb - ma) / sp *
        |    (1.0 - 3.0 / CAST((na + nb) * 4 - 9 AS DOUBLE)), 6) + 0.0
        |    AS hedges_g
        |FROM f""".stripMargin,
    "q_bootstrap_ci" ->
      """WITH o AS (
        |  SELECT o_orderkey, CAST(round(o_totalprice * 100) AS BIGINT) AS x
        |  FROM orders),
        |fan AS (
        |  SELECT o.o_orderkey, o.x, CAST(g.g AS BIGINT) AS g,
        |    md5(CAST(o.o_orderkey AS VARCHAR) || ':'
        |      || CAST(g.g AS VARCHAR)) AS h
        |  FROM o, unnest(range(1, 6)) AS g(g)),
        |sliced AS (
        |  SELECT g * 8 + CAST(j.j AS BIGINT) - 7 AS b, x,
        |    CAST('0x' || substring(h, CAST(j.j * 4 + 1 AS INT), 4)
        |      AS BIGINT) AS u
        |  FROM fan, unnest(range(0, 8)) AS j(j)),
        |wts AS (
        |  SELECT b, x,
        |    CASE WHEN u < 24110 THEN 0 WHEN u < 48223 THEN 1
        |         WHEN u < 60277 THEN 2 WHEN u < 64296 THEN 3
        |         WHEN u < 65296 THEN 4 ELSE 5 END AS w
        |  FROM sliced),
        |rm AS (
        |  SELECT b, CAST(sum(w * x) AS DOUBLE) / sum(w) / 100.0 AS m
        |  FROM wts GROUP BY b),
        |rk AS (
        |  SELECT m, row_number() OVER (ORDER BY m ASC, b ASC) AS rn
        |  FROM rm),
        |ci AS (
        |  SELECT round(min(m), 6) + 0.0 AS ci_lo,
        |    round(max(m), 6) + 0.0 AS ci_hi
        |  FROM rk WHERE rn = 1 OR rn = 39),
        |fl AS (
        |  SELECT count(*) AS n_orders,
        |    CAST(sum(x) AS DOUBLE) / count(*) / 100.0 AS mean_full
        |  FROM o)
        |SELECT CAST(n_orders AS BIGINT) AS n_orders,
        |  CAST(40 AS INT) AS n_reps,
        |  round(mean_full, 6) + 0.0 AS mean_total, ci_lo, ci_hi
        |FROM ci CROSS JOIN fl""".stripMargin,
    "q_sample_temperature" ->
      """WITH c AS (
        |  SELECT source, count(*) AS n_docs,
        |    CAST(round(exp(ln(CAST(count(*) AS DOUBLE)) * 0.7) * 1000000.0,
        |      0) AS BIGINT) AS w_micro
        |  FROM documents GROUP BY 1),
        |t AS (
        |  SELECT source, n_docs, w_micro,
        |    sum(n_docs) OVER () AS n_total,
        |    sum(w_micro) OVER () AS w_total
        |  FROM c)
        |SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
        |  round(CAST(n_docs AS DOUBLE) / n_total, 6) + 0.0 AS raw_share,
        |  round(CAST(w_micro AS DOUBLE) / w_total, 6) + 0.0 AS temp_share,
        |  round((CAST(w_micro AS DOUBLE) / w_total) /
        |    (CAST(n_docs AS DOUBLE) / n_total), 6) + 0.0 AS upsample_factor
        |FROM t ORDER BY source NULLS FIRST""".stripMargin,
    "q_contamination_by_source" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |    unnest(list_filter(string_split_regex(lower(text), '[^a-z]+'),
        |                       x -> x <> '')) AS t,
        |    generate_subscripts(
        |      list_filter(string_split_regex(lower(text), '[^a-z]+'),
        |                  x -> x <> ''), 1) - 1 AS pos
        |  FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id, sh FROM (
        |    SELECT doc_id,
        |      t || ' ' || lead(t, 1) OVER w || ' ' || lead(t, 2) OVER w AS sh
        |    FROM tok WINDOW w AS (PARTITION BY doc_id ORDER BY pos)) s
        |  WHERE sh IS NOT NULL),
        |probes AS (SELECT DISTINCT sh FROM sh WHERE doc_id % 97 = 0),
        |contaminated AS (
        |  SELECT DISTINCT s.doc_id FROM sh s JOIN probes p USING (sh)
        |  WHERE s.doc_id % 97 <> 0)
        |SELECT source, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN c.doc_id IS NOT NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_contaminated,
        |  round(CAST(sum(CASE WHEN c.doc_id IS NOT NULL THEN 1 ELSE 0 END)
        |    AS DOUBLE) / count(*), 6) + 0.0 AS contamination_rate
        |FROM documents d LEFT JOIN contaminated c ON d.doc_id = c.doc_id
        |WHERE d.doc_id % 97 <> 0
        |GROUP BY source ORDER BY source NULLS FIRST""".stripMargin,
    "q_rolling_median" ->
      """WITH d AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day,
        |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS c
        |  FROM events GROUP BY 1, 2),
        |days AS (SELECT DISTINCT event_type, day AS target_day FROM d),
        |re AS (
        |  SELECT d.event_type, d.c, d.day, t.target_day
        |  FROM d JOIN days t ON d.event_type = t.event_type
        |    AND t.target_day BETWEEN d.day AND d.day + 6),
        |r AS (
        |  SELECT event_type, target_day, c,
        |    row_number() OVER (PARTITION BY event_type, target_day
        |      ORDER BY c ASC, day ASC) AS rn,
        |    count(*) OVER (PARTITION BY event_type, target_day) AS n
        |  FROM re)
        |SELECT event_type, target_day AS day,
        |  CAST(max(n) AS BIGINT) AS n_window,
        |  round(avg(c) / 100.0, 6) + 0.0 AS rolling_median
        |FROM r
        |WHERE rn = (n + 1) // 2 OR rn = n // 2 + 1
        |GROUP BY event_type, target_day
        |HAVING max(n) = 7
        |ORDER BY event_type NULLS FIRST, day NULLS FIRST""".stripMargin,
    "q_weekly_rhythm" ->
      """WITH cells AS (
        |  SELECT CAST((epoch_us(ts) // 86400000000) % 7 AS INT) AS dow,
        |    CAST(extract(hour FROM ts) AS INT) AS hod,
        |    count(*) AS n_events
        |  FROM events GROUP BY 1, 2),
        |t AS (
        |  SELECT dow, hod, n_events,
        |    sum(n_events) OVER () AS total,
        |    row_number() OVER (ORDER BY n_events DESC, dow ASC, hod ASC)
        |      AS peak_rank
        |  FROM cells)
        |SELECT dow, hod, CAST(n_events AS BIGINT) AS n_events,
        |  round(CAST(n_events AS DOUBLE) / CAST(total AS DOUBLE), 6) + 0.0
        |    AS share,
        |  peak_rank = 1 AS is_peak
        |FROM t ORDER BY dow ASC, hod ASC""".stripMargin,
    "q_reorder_gap" ->
      """WITH g0 AS (
        |  SELECT o_custkey, o_orderkey,
        |    CAST(o_orderdate AS DATE) AS od,
        |    lag(CAST(o_orderdate AS DATE), 1) OVER (
        |      PARTITION BY o_custkey
        |      ORDER BY o_orderdate ASC, o_orderkey ASC) AS prev
        |  FROM orders),
        |gaps AS (
        |  SELECT o_custkey, o_orderkey,
        |    CAST(od - prev AS BIGINT) AS gap_days
        |  FROM g0 WHERE prev IS NOT NULL),
        |j AS (
        |  SELECT c.c_mktsegment, g.o_custkey, g.o_orderkey, g.gap_days
        |  FROM gaps g JOIN customer c ON g.o_custkey = c.c_custkey),
        |r AS (
        |  SELECT c_mktsegment, gap_days,
        |    row_number() OVER (PARTITION BY c_mktsegment
        |      ORDER BY gap_days ASC, o_custkey ASC, o_orderkey ASC) AS rn,
        |    count(*) OVER (PARTITION BY c_mktsegment) AS n,
        |    sum(gap_days) OVER (PARTITION BY c_mktsegment) AS s
        |  FROM j)
        |SELECT c_mktsegment, CAST(max(n) AS BIGINT) AS n_gaps,
        |  CAST(floor(CAST(max(s) AS DOUBLE) / max(n)) AS BIGINT)
        |    AS mean_gap_days_floor,
        |  CAST(max(CASE WHEN rn = (n + 1) // 2 THEN gap_days END)
        |    AS BIGINT) AS median_gap_days,
        |  CAST(max(CASE WHEN rn = (9 * n + 9) // 10 THEN gap_days END)
        |    AS BIGINT) AS p90_gap_days
        |FROM r WHERE rn = (n + 1) // 2 OR rn = (9 * n + 9) // 10
        |GROUP BY c_mktsegment ORDER BY c_mktsegment NULLS FIRST""".stripMargin,
    "q_hapax_docs" ->
      """WITH dt AS (
        |  SELECT DISTINCT doc_id, source, t FROM (
        |    SELECT doc_id, source,
        |      unnest(list_filter(string_split_regex(lower(text), '[^a-z]+'),
        |                         x -> x <> '')) AS t
        |    FROM documents) x),
        |wdf AS (
        |  SELECT doc_id, source, t,
        |    count(*) OVER (PARTITION BY t) AS df
        |  FROM dt),
        |pd AS (
        |  SELECT doc_id, source,
        |    max(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS has_hapax
        |  FROM wdf GROUP BY 1, 2)
        |SELECT source, count(*) AS n_docs,
        |  CAST(sum(has_hapax) AS BIGINT) AS n_hapax_docs,
        |  round(CAST(sum(has_hapax) AS DOUBLE) / count(*), 6) + 0.0
        |    AS hapax_doc_share
        |FROM pd GROUP BY source ORDER BY source NULLS FIRST""".stripMargin,
    "q_session_native" ->
      """WITH flagged AS (
        |  SELECT user_id, ts, event_id,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 1800000000
        |         THEN 1 ELSE 0 END AS new_session
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
        |), sess AS (
        |  SELECT user_id, ts, event_id,
        |    sum(new_session) OVER (PARTITION BY user_id
        |      ORDER BY ts ASC, event_id ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM flagged)
        |SELECT user_id, min(ts) AS session_start,
        |  max(ts) + INTERVAL 30 MINUTE AS session_end,
        |  count(*) AS n_events,
        |  epoch_us(max(ts)) - epoch_us(min(ts)) AS duration_us
        |FROM sess GROUP BY user_id, sid
        |ORDER BY user_id NULLS FIRST, session_start NULLS FIRST""".stripMargin,
    "q_top10_share" ->
      """WITH spend AS (
        |  SELECT o_custkey,
        |    sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS spend_c
        |  FROM orders GROUP BY 1),
        |j AS (
        |  SELECT c.c_mktsegment, s.o_custkey, CAST(s.spend_c AS BIGINT)
        |      AS spend_c,
        |    row_number() OVER (PARTITION BY c.c_mktsegment
        |      ORDER BY s.spend_c DESC, s.o_custkey ASC) AS rk
        |  FROM spend s JOIN customer c ON s.o_custkey = c.c_custkey)
        |SELECT c_mktsegment, count(*) AS n_customers,
        |  CAST(sum(spend_c) AS DOUBLE) / 100.0 AS total_revenue,
        |  round(CAST(sum(CASE WHEN rk <= 10 THEN spend_c ELSE 0 END)
        |    AS DOUBLE) / sum(spend_c), 6) + 0.0 AS top10_share
        |FROM j GROUP BY c_mktsegment
        |ORDER BY c_mktsegment NULLS FIRST""".stripMargin,
    "q_hist2d" ->
      """WITH b AS (
        |  SELECT CAST(round(l_quantity * 100) AS BIGINT) // 500 AS qty_bin,
        |    CAST(round(l_extendedprice * 100) AS BIGINT) // 1000000
        |      AS price_bin_10k
        |  FROM lineitem),
        |h AS (
        |  SELECT qty_bin, price_bin_10k, count(*) AS n_items
        |  FROM b GROUP BY 1, 2),
        |t AS (SELECT qty_bin, price_bin_10k, n_items,
        |  sum(n_items) OVER () AS total FROM h)
        |SELECT CAST(qty_bin AS BIGINT) AS qty_bin,
        |  CAST(price_bin_10k AS BIGINT) AS price_bin_10k,
        |  CAST(n_items AS BIGINT) AS n_items,
        |  round(CAST(n_items AS DOUBLE) / CAST(total AS DOUBLE), 6) + 0.0
        |    AS share
        |FROM t ORDER BY qty_bin ASC, price_bin_10k ASC""".stripMargin,
    "q_seasonal_strength" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS d, count(*) AS c
        |  FROM events GROUP BY 1, 2),
        |g AS (
        |  SELECT event_type,
        |    CAST((d - DATE '1970-01-01') % 7 AS INT) AS dow,
        |    count(*) AS n_g, sum(c) AS s_g,
        |    sum(CAST(c AS DECIMAL(38,0)) * c) AS ss_g
        |  FROM daily GROUP BY 1, 2),
        |p AS (
        |  SELECT event_type, sum(n_g) AS n, sum(s_g) AS s,
        |    sum(ss_g) AS ss,
        |    sum(CAST(s_g AS DOUBLE) * CAST(s_g AS DOUBLE) /
        |      CAST(n_g AS DOUBLE)) AS sb_raw
        |  FROM g GROUP BY 1)
        |SELECT event_type, CAST(n AS BIGINT) AS n_days,
        |  CASE WHEN CAST(ss AS DOUBLE) -
        |      CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE)
        |      > 0 THEN
        |    round((sb_raw - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) /
        |        CAST(n AS DOUBLE)) /
        |      (CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) /
        |        CAST(n AS DOUBLE)), 6) + 0.0
        |  END AS seasonal_strength
        |FROM p ORDER BY event_type NULLS FIRST""".stripMargin,
    "q_supplier_balance" ->
      """WITH bn AS (
        |  SELECT s_nationkey, count(*) AS n_suppliers,
        |    sum(CAST(round(s_acctbal * 100) AS BIGINT)) AS bal_c
        |  FROM supplier GROUP BY 1),
        |d AS (
        |  SELECT n_nationkey AS s_nationkey, n_name AS nation,
        |    r_name AS region
        |  FROM nation JOIN region ON n_regionkey = r_regionkey),
        |j AS (
        |  SELECT d.region, d.nation, bn.n_suppliers,
        |    CAST(bn.bal_c AS BIGINT) AS bal_c,
        |    sum(bn.bal_c) OVER (PARTITION BY d.region) AS reg_c
        |  FROM bn JOIN d USING (s_nationkey))
        |SELECT region, nation, n_suppliers,
        |  round(CAST(bal_c AS DOUBLE) / 100.0, 6) + 0.0 AS total_balance,
        |  round(CAST(bal_c AS DOUBLE) / n_suppliers / 100.0, 6) + 0.0
        |    AS mean_balance,
        |  round(CAST(bal_c AS DOUBLE) / CAST(reg_c AS DOUBLE), 6) + 0.0
        |    AS region_share
        |FROM j ORDER BY region NULLS FIRST, nation NULLS FIRST""".stripMargin,
    "q_brand_prices" ->
      """WITH p AS (
        |  SELECT p_brand, p_partkey,
        |    CAST(round(p_retailprice * 100) AS BIGINT) AS pc
        |  FROM part),
        |r AS (
        |  SELECT p_brand, pc,
        |    row_number() OVER (PARTITION BY p_brand
        |      ORDER BY pc ASC, p_partkey ASC) AS rn,
        |    count(*) OVER (PARTITION BY p_brand) AS n,
        |    min(pc) OVER (PARTITION BY p_brand) AS mn,
        |    max(pc) OVER (PARTITION BY p_brand) AS mx
        |  FROM p)
        |SELECT p_brand, CAST(max(n) AS BIGINT) AS n_parts,
        |  round(CAST(max(mn) AS DOUBLE) / 100.0, 6) + 0.0 AS min_price,
        |  round(avg(pc) / 100.0, 6) + 0.0 AS median_price,
        |  round(CAST(max(mx) AS DOUBLE) / 100.0, 6) + 0.0 AS max_price,
        |  round(CAST(max(mx) - max(mn) AS DOUBLE) / 100.0, 6) + 0.0
        |    AS price_spread
        |FROM r WHERE rn = (n + 1) // 2 OR rn = n // 2 + 1
        |GROUP BY p_brand ORDER BY p_brand NULLS FIRST""".stripMargin,
    "q_user_activity_hist" ->
      """WITH pu AS (
        |  SELECT user_id, count(*) AS n_events FROM events GROUP BY 1),
        |b AS (
        |  SELECT CASE WHEN n_events <= 1 THEN 1 WHEN n_events <= 2 THEN 2
        |    WHEN n_events <= 4 THEN 4 WHEN n_events <= 8 THEN 8
        |    WHEN n_events <= 16 THEN 16 WHEN n_events <= 32 THEN 32
        |    WHEN n_events <= 64 THEN 64 WHEN n_events <= 128 THEN 128
        |    WHEN n_events <= 256 THEN 256 WHEN n_events <= 512 THEN 512
        |    WHEN n_events <= 1024 THEN 1024 ELSE -1 END AS bucket_max,
        |    n_events
        |  FROM pu),
        |h AS (
        |  SELECT CAST(bucket_max AS INT) AS bucket_max,
        |    count(*) AS n_users, sum(n_events) AS n_events
        |  FROM b GROUP BY 1),
        |t AS (
        |  SELECT bucket_max, n_users, n_events,
        |    sum(n_users) OVER () AS tu, sum(n_events) OVER () AS te
        |  FROM h)
        |SELECT bucket_max, CAST(n_users AS BIGINT) AS n_users,
        |  CAST(n_events AS BIGINT) AS n_events,
        |  round(CAST(n_users AS DOUBLE) / CAST(tu AS DOUBLE), 6) + 0.0
        |    AS user_share,
        |  round(CAST(n_events AS DOUBLE) / CAST(te AS DOUBLE), 6) + 0.0
        |    AS event_share
        |FROM t ORDER BY bucket_max ASC""".stripMargin,
    "q_embed_dedup_sweep" ->
      """WITH e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings
        |  WHERE CAST('0x' || substring(md5(CAST(vec_id AS VARCHAR)), 1, 4)
        |    AS BIGINT) % 100 < 10),
        |pairs AS (
        |  SELECT b.vec_id AS vec_id_2,
        |    round(list_dot_product(a.v, b.v) /
        |      (sqrt(list_dot_product(a.v, a.v)) *
        |       sqrt(list_dot_product(b.v, b.v))), 6) + 0.0 AS cosine
        |  FROM e a JOIN e b ON a.vec_id < b.vec_id),
        |a AS (
        |  SELECT
        |    sum(CASE WHEN cosine >= 0.8 THEN 1 ELSE 0 END) AS p80,
        |    count(DISTINCT CASE WHEN cosine >= 0.8 THEN vec_id_2 END)
        |      AS d80,
        |    sum(CASE WHEN cosine >= 0.9 THEN 1 ELSE 0 END) AS p90,
        |    count(DISTINCT CASE WHEN cosine >= 0.9 THEN vec_id_2 END)
        |      AS d90,
        |    sum(CASE WHEN cosine >= 0.95 THEN 1 ELSE 0 END) AS p95,
        |    count(DISTINCT CASE WHEN cosine >= 0.95 THEN vec_id_2 END)
        |      AS d95
        |  FROM pairs)
        |SELECT CAST(0.8 AS DOUBLE) AS threshold,
        |  CAST(p80 AS BIGINT) AS n_pairs,
        |  CAST(d80 AS BIGINT) AS n_vecs_flagged FROM a
        |UNION ALL SELECT CAST(0.9 AS DOUBLE), CAST(p90 AS BIGINT),
        |  CAST(d90 AS BIGINT) FROM a
        |UNION ALL SELECT CAST(0.95 AS DOUBLE), CAST(p95 AS BIGINT),
        |  CAST(d95 AS BIGINT) FROM a
        |ORDER BY threshold ASC""".stripMargin,
    "q_cond_entropy" ->
      """WITH grid AS (
        |  SELECT event_type, CAST(extract(hour FROM ts) AS INT) AS hour,
        |    count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |m AS (
        |  SELECT event_type, hour, n,
        |    sum(n) OVER (PARTITION BY event_type) AS n_type,
        |    sum(n) OVER (PARTITION BY hour) AS n_hour,
        |    sum(n) OVER () AS tot,
        |    min(hour) OVER (PARTITION BY event_type) AS min_hour
        |  FROM grid),
        |t AS (
        |  SELECT tot,
        |    CAST(round(-(CAST(n AS DOUBLE) / tot) *
        |      ln(CAST(n AS DOUBLE) / n_hour) * 1000000.0, 0) AS BIGINT)
        |      AS hxy_micro,
        |    CASE WHEN hour = min_hour THEN
        |      CAST(round(-(CAST(n_type AS DOUBLE) / tot) *
        |        ln(CAST(n_type AS DOUBLE) / tot) * 1000000.0, 0) AS BIGINT)
        |    ELSE 0 END AS hx_micro
        |  FROM m)
        |SELECT CAST(max(tot) AS BIGINT) AS n_events,
        |  round(CAST(sum(hx_micro) AS DOUBLE) / 1000000.0, 6) + 0.0
        |    AS h_type,
        |  round(CAST(sum(hxy_micro) AS DOUBLE) / 1000000.0, 6) + 0.0
        |    AS h_type_given_hour,
        |  round(1.0 - CAST(sum(hxy_micro) AS DOUBLE) /
        |    CAST(sum(hx_micro) AS DOUBLE), 6) + 0.0 AS theils_u
        |FROM t""".stripMargin,
    "q_growth_accounting" ->
      """WITH uw AS (
        |  SELECT DISTINCT user_id,
        |    CAST(date_trunc('week', ts) AS DATE) AS week FROM events),
        |fw AS (SELECT user_id, min(week) AS first_week FROM uw GROUP BY 1),
        |cls AS (
        |  SELECT u.week,
        |    CASE WHEN u.week = f.first_week THEN 1 ELSE 0 END AS nw,
        |    CASE WHEN u.week <> f.first_week AND p.user_id IS NOT NULL
        |      THEN 1 ELSE 0 END AS rt,
        |    CASE WHEN u.week <> f.first_week AND p.user_id IS NULL
        |      THEN 1 ELSE 0 END AS rs
        |  FROM uw u JOIN fw f USING (user_id)
        |  LEFT JOIN uw p ON p.user_id = u.user_id AND p.week + 7 = u.week),
        |agg AS (
        |  SELECT week, count(*) AS wau, sum(nw) AS new_users,
        |    sum(rt) AS retained, sum(rs) AS resurrected
        |  FROM cls GROUP BY week),
        |ch AS (
        |  SELECT u.week + 7 AS week,
        |    sum(CASE WHEN nx.user_id IS NULL THEN 1 ELSE 0 END) AS churned
        |  FROM uw u LEFT JOIN uw nx
        |    ON nx.user_id = u.user_id AND nx.week = u.week + 7
        |  GROUP BY 1)
        |SELECT a.week, a.wau, CAST(a.new_users AS BIGINT) AS new_users,
        |  CAST(a.retained AS BIGINT) AS retained,
        |  CAST(a.resurrected AS BIGINT) AS resurrected,
        |  CAST(coalesce(c.churned, 0) AS BIGINT) AS churned
        |FROM agg a LEFT JOIN ch c ON a.week = c.week
        |ORDER BY a.week NULLS FIRST""".stripMargin,
    "q_brand_returns" ->
      """WITH j AS (
        |  SELECT p.p_brand, l.l_returnflag,
        |    CAST(round(l.l_extendedprice * 100) AS BIGINT) AS pc
        |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey)
        |SELECT p_brand, count(*) AS n_lines,
        |  CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_returned,
        |  round(CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
        |    AS DOUBLE) / count(*), 6) + 0.0 AS return_rate,
        |  round(CAST(sum(CASE WHEN l_returnflag = 'R' THEN pc ELSE 0 END)
        |    AS DOUBLE) / CAST(sum(pc) AS DOUBLE), 6) + 0.0
        |    AS returned_value_share
        |FROM j GROUP BY p_brand ORDER BY p_brand NULLS FIRST""".stripMargin,
    "q_discount_revenue" ->
      """SELECT count(*) AS n_lines,
        |  round(CAST(sum(CAST(CAST(round(l_extendedprice * 100) AS BIGINT)
        |      AS DECIMAL(38,0)) *
        |      CAST(round(l_discount * 10000) AS BIGINT)) AS DOUBLE) /
        |    1000000.0, 6) + 0.0 AS promo_revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND l_discount BETWEEN 0.05 AND 0.07
        |  AND l_quantity < 24""".stripMargin,
    "q_lines_per_order" ->
      """WITH po AS (
        |  SELECT l_orderkey, count(*) AS n_lines
        |  FROM lineitem GROUP BY 1),
        |h AS (
        |  SELECT CAST(n_lines AS BIGINT) AS n_lines, count(*) AS n_orders
        |  FROM po GROUP BY 1),
        |t AS (SELECT n_lines, n_orders, sum(n_orders) OVER () AS total
        |  FROM h)
        |SELECT n_lines, CAST(n_orders AS BIGINT) AS n_orders,
        |  round(CAST(n_orders AS DOUBLE) / CAST(total AS DOUBLE), 6) + 0.0
        |    AS order_share
        |FROM t ORDER BY n_lines ASC""".stripMargin,
    "q_corpus_summary" ->
      """WITH d AS (
        |  SELECT count(*) AS n_docs,
        |    count(DISTINCT source) AS n_sources,
        |    count(DISTINCT lang) AS n_langs,
        |    count(DISTINCT sha256(text)) AS n_distinct_texts
        |  FROM documents),
        |v AS (
        |  SELECT t, count(*) AS c FROM (
        |    SELECT unnest(list_filter(
        |      string_split_regex(lower(text), '[^a-z]+'),
        |      x -> x <> '')) AS t
        |    FROM documents) x
        |  GROUP BY t),
        |tv AS (
        |  SELECT sum(c) AS n_tokens, count(*) AS vocab_size,
        |    sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS f1
        |  FROM v)
        |SELECT CAST(n_docs AS BIGINT) AS n_docs,
        |  CAST(n_sources AS BIGINT) AS n_sources,
        |  CAST(n_langs AS BIGINT) AS n_langs,
        |  CAST(n_tokens AS BIGINT) AS n_tokens,
        |  CAST(vocab_size AS BIGINT) AS vocab_size,
        |  round(CAST(n_tokens AS DOUBLE) / n_docs, 6) + 0.0
        |    AS mean_doc_tokens,
        |  round(1.0 - CAST(n_distinct_texts AS DOUBLE) / n_docs, 6) + 0.0
        |    AS exact_dup_rate,
        |  round(CAST(f1 AS DOUBLE) / vocab_size, 6) + 0.0
        |    AS hapax_vocab_share
        |FROM d CROSS JOIN tv""".stripMargin,
    "q_discount_elasticity" ->
      """WITH m AS (
        |  SELECT p.p_brand, count(*) AS n,
        |    sum(x) AS sx, sum(y) AS sy,
        |    sum(CAST(x AS DECIMAL(38,0)) * y) AS sxy,
        |    sum(CAST(x AS DECIMAL(38,0)) * x) AS sxx,
        |    sum(CAST(y AS DECIMAL(38,0)) * y) AS syy
        |  FROM (SELECT l_partkey,
        |          CAST(round(l_discount * 10000) AS BIGINT) AS x,
        |          CAST(round(l_quantity * 100) AS BIGINT) AS y
        |        FROM lineitem) l
        |  JOIN part p ON l.l_partkey = p.p_partkey
        |  GROUP BY 1)
        |SELECT p_brand, CAST(n AS BIGINT) AS n_lines,
        |  CASE WHEN CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) -
        |      CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0 THEN
        |    round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) -
        |        CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
        |      (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) -
        |        CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) * 100.0, 6) + 0.0
        |  END AS qty_per_discount_pt,
        |  CASE WHEN CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) -
        |      CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0
        |    AND CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) -
        |      CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) > 0 THEN
        |    round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) -
        |        CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
        |      (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) -
        |        CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) *
        |       sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) -
        |        CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6) + 0.0
        |  END AS r
        |FROM m ORDER BY p_brand NULLS FIRST""".stripMargin,
    "q_basket_by_segment" ->
      """WITH po AS (
        |  SELECT l_orderkey, count(*) AS n_lines,
        |    sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS rev_c
        |  FROM lineitem GROUP BY 1),
        |j AS (
        |  SELECT c.c_mktsegment, po.n_lines, po.rev_c
        |  FROM orders o
        |  JOIN po ON o.o_orderkey = po.l_orderkey
        |  JOIN customer c ON o.o_custkey = c.c_custkey)
        |SELECT c_mktsegment, count(*) AS n_orders,
        |  round(CAST(sum(n_lines) AS DOUBLE) / count(*), 6) + 0.0
        |    AS mean_lines,
        |  round(CAST(sum(rev_c) AS DOUBLE) / count(*) / 100.0, 6) + 0.0
        |    AS mean_revenue,
        |  round(CAST(sum(rev_c) AS DOUBLE) / CAST(sum(n_lines) AS DOUBLE) /
        |    100.0, 6) + 0.0 AS mean_line_value
        |FROM j GROUP BY c_mktsegment
        |ORDER BY c_mktsegment NULLS FIRST""".stripMargin,
    "q_weekend_effect" ->
      """WITH o AS (
        |  SELECT o_custkey,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS x,
        |    CAST((CAST(o_orderdate AS DATE) - DATE '1970-01-01') % 7
        |      AS INT) IN (2, 3) AS we
        |  FROM orders),
        |j AS (
        |  SELECT c.c_mktsegment, o.x, o.we
        |  FROM o JOIN customer c ON o.o_custkey = c.c_custkey)
        |SELECT c_mktsegment,
        |  CAST(sum(CASE WHEN we THEN 0 ELSE 1 END) AS BIGINT) AS n_weekday,
        |  CAST(sum(CASE WHEN we THEN 1 ELSE 0 END) AS BIGINT) AS n_weekend,
        |  round(CAST(sum(CASE WHEN we THEN 0 ELSE x END) AS DOUBLE) /
        |    sum(CASE WHEN we THEN 0 ELSE 1 END) / 100.0, 6) + 0.0
        |    AS weekday_mean,
        |  round(CAST(sum(CASE WHEN we THEN x ELSE 0 END) AS DOUBLE) /
        |    sum(CASE WHEN we THEN 1 ELSE 0 END) / 100.0, 6) + 0.0
        |    AS weekend_mean,
        |  round((CAST(sum(CASE WHEN we THEN x ELSE 0 END) AS DOUBLE) /
        |      sum(CASE WHEN we THEN 1 ELSE 0 END)) /
        |    (CAST(sum(CASE WHEN we THEN 0 ELSE x END) AS DOUBLE) /
        |      sum(CASE WHEN we THEN 0 ELSE 1 END)), 6) + 0.0
        |    AS weekend_ratio
        |FROM j GROUP BY c_mktsegment
        |ORDER BY c_mktsegment NULLS FIRST""".stripMargin,
    "q_len_by_lang" ->
      """WITH d AS (
        |  SELECT lang, doc_id,
        |    CAST(len(list_filter(string_split_regex(lower(text), '[^a-z]+'),
        |      x -> x <> '')) AS BIGINT) AS len
        |  FROM documents),
        |r AS (
        |  SELECT lang, len,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY len ASC, doc_id ASC) AS rn,
        |    count(*) OVER (PARTITION BY lang) AS n,
        |    sum(len) OVER (PARTITION BY lang) AS s
        |  FROM d)
        |SELECT lang, CAST(max(n) AS BIGINT) AS n_docs,
        |  round(CAST(max(s) AS DOUBLE) / max(n), 6) + 0.0 AS mean_tokens,
        |  CAST(max(CASE WHEN rn = (n + 1) // 2 THEN len END) AS BIGINT)
        |    AS median_tokens,
        |  CAST(max(CASE WHEN rn = (9 * n + 9) // 10 THEN len END)
        |    AS BIGINT) AS p90_tokens
        |FROM r WHERE rn = (n + 1) // 2 OR rn = (9 * n + 9) // 10
        |GROUP BY lang ORDER BY lang NULLS FIRST""".stripMargin,
  )

  /** Shared DuckDB prefix for the two-sample rank tests: per-distinct-
    * value counts of the click (a) / purchase (b) samples with running
    * totals along the value axis.
    */
  private val TwoSampleCte: String =
    """WITH ev AS (
      |  SELECT value,
      |    CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS ia,
      |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS ib
      |  FROM events WHERE event_type IN ('click', 'purchase')),
      |bv AS (
      |  SELECT value, CAST(sum(ia) AS BIGINT) AS c_a,
      |    CAST(sum(ib) AS BIGINT) AS c_b
      |  FROM ev GROUP BY value),
      |cum AS (
      |  SELECT value, c_a, c_b,
      |    sum(c_a) OVER w AS cum_a, sum(c_b) OVER w AS cum_b
      |  FROM bv WINDOW w AS (ORDER BY value ASC
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))""".stripMargin
}
