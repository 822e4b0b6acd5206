package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.execution.ExplainMode

/** Dumps `explain("formatted")` for the headline queries to a markdown
  * artifact (default EXPLAINS.md) so plan-shape claims — pushdown,
  * partial aggregation, broadcast dims, exchange placement — are
  * reviewable without running anything. Regenerate after plan changes
  * with `java -cp "target/scala-2.13/classes:<spark jars glob>"
  * graft.ExplainDump /root/testdata/sf0.01 EXPLAINS.md` (same -cp as
  * tools/verify.sh).
  *
  * Trailing query names (`ExplainDump <sfDir> <out> q1 q2 …`, Verify's
  * convention) dump only those queries' plans — the before/after
  * evidence of a plan change. The session is `local[4]` with 4 shuffle
  * partitions on every host, so EXPLAINS.md stays reproducible.
  */
object ExplainDump {
  private val Headline = Seq(
    "q_agg_hash", "q_join_broadcast", "q_join_asof", "q_join_asof_banded",
    "q_inverted_index_capped", "q_ngram_jaccard", "q_lang_id", "q_sim_topk",
    "q_dedup_embed", "q_pivot", "q_chunk", "q_dedup_hamming", "q_decontaminate",
    "q_window_range", "q_salted_agg", "q_percentiles",
    "q_fuzzy_match", "q_join_full", "q_salted_join",
    "q_decontaminate_bloom", "q_join_bloom", "q_pack", "ann_quant_topk",
    "q_funnel", "q_cooccur", "q_shuffle_export",
    "q_anomaly", "q_heavy_hitters", "q_boilerplate", "q_returned_items",
    "q_pagerank", "q_lm_score", "q_anomaly_mad",
    "q_bm25", "q_triangles", "q_zorder", "q_dedup_keep_best",
    "q_dq_report", "q_ewma", "q_skyline",
    "q_dedup_substring", "q_mix_budget", "q_big_orders", "q_entropy",
    "q_small_parts", "q_dedup_canonical", "q_bpe_pairs", "q_source_overlap",
    "q_idle_rich", "q_knn_classify", "q_profile", "q_rolling_active",
    "q_equidepth", "q_winsorize", "q_incr_agg", "q_transitions",
    "q_cluster_sizes", "q_pct_change", "q_gini", "q_contingency",
    "q_kmeans", "q_diversity_sample", "q_bpe_encode",
    "q_decontaminate_fuzzy", "q_drift_psi", "q_scd2", "q_time_weighted",
    "q_corr_spearman", "q_regression", "q_benford", "q_readability",
    "q_cohort_ltv", "q_mutual_info", "q_overlap_kmv", "q_churn",
    "q_collocations", "q_keywords", "q_quality_gate", "q_pii_count",
    "q_kanon", "q_decayed_sum", "q_setsim_prefix", "q_dup_ngram_frac",
    "q_bigram_lm", "q_autocorr", "q_seasonal", "q_changepoint",
    "q_clustering_coef", "q_conversion_lag", "q_ngram_novelty",
    "q_knn_confusion", "q_split_group", "q_embed_var", "q_cum_distinct",
    "q_outlier_iqr", "q_degree_dist", "q_assoc_rules", "q_weighted_median",
    "q_ohlc", "q_cross_corr", "q_join_nullsafe", "q_calibration",
    "q_embed_quantiles", "q_zipf_slope", "q_mrr", "q_mannwhitney",
    "q_ks_test", "q_seasonal_decompose", "q_new_returning",
    "q_cramers_v", "q_runs_test", "q_length_buckets", "q_char_classes",
    "q_interarrival", "q_dup_by_source",
    "q_hits", "q_kcore", "q_abc", "q_auc", "q_ndcg", "q_welch_t",
    "q_hhi", "q_lorenz", "q_bollinger", "q_stationary", "q_survival",
    "q_streaks", "q_item_cf", "q_linkpred", "q_entropy_rate",
    "q_pca_power", "q_wilson", "q_vocab_growth",
    "q_scrub_common", "q_blocklist_hits", "q_sample_balanced",
    "q_feature_scale", "q_sax", "q_eop_balance", "q_grubbs",
    "q_anova", "q_theilsen", "q_burstiness", "q_js_divergence",
    "q_source_cap", "q_mann_kendall", "q_lexical_richness", "q_keyness",
    "q_cliff_delta", "q_sample_systematic", "q_trade_volume",
    "q_label_prop", "q_modularity", "q_assortativity", "q_naive_bayes",
    "q_cohen_kappa", "q_rolling_corr", "q_hill_tail",
    "q_kruskal_wallis", "q_emd", "q_kendall_tau",
    "q_partial_corr", "q_ols2", "q_minhash_calibration",
    "q_dedup_survivorship", "q_decontaminate_ladder",
    "q_silhouette", "q_ldiversity",
    "q_levene", "q_bartlett", "q_chao1", "q_stickiness", "q_lift",
    "q_brier", "q_drawdown", "q_rsi", "q_jl_project", "q_embed_outliers",
    "q_power_users", "q_qq_plot", "q_session_percentiles",
    "q_session_percentiles_gk",
    "q_cosine_hist", "q_token_len_dist", "q_char_entropy", "q_tukey",
    "q_dedup_sweep", "q_bigram_coverage", "q_bounce_rate", "q_ab_test",
    "q_pacf", "q_forecast_eval", "q_freshness", "q_priority_mix",
    "q_cohens_d", "q_bootstrap_ci", "q_sample_temperature",
    "q_contamination_by_source", "q_rolling_median", "q_weekly_rhythm",
    "q_reorder_gap", "q_hapax_docs", "q_session_native", "q_top10_share",
    "q_hist2d", "q_seasonal_strength", "q_supplier_balance",
    "q_brand_prices", "q_user_activity_hist", "q_embed_dedup_sweep",
    "q_cond_entropy", "q_growth_accounting", "q_brand_returns",
    "q_discount_revenue", "q_lines_per_order", "q_corpus_summary",
    // round-8 unicode twins of the dedup/tf-idf/BPE chain
    "q_dedup_near_unicode", "q_dedup_minhash_unicode",
    "q_dedup_simhash_unicode", "q_ngram_jaccard_unicode",
    "q_tfidf_unicode", "q_bpe_encode_unicode",
    // round-9/10 oracle-checked incremental ledger flows (their
    // component plans — pruned probe, patch resolve — are dumped in
    // the ledger section below; these entries record the composed
    // queries' result shapes)
    "q_dedup_incremental", "q_dedup_incr_clusters")

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val out = if (args.length > 1) args(1) else "EXPLAINS.md"
    val named = args.drop(2).toSeq
    val unknown = named.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")
    val spark = GraftSession("local[4]", 4)
    val sb = new StringBuilder
    sb.append("# Headline query plans (`explain formatted`, AQE initial plan)\n\n")
    sb.append(s"Generated by `graft.ExplainDump` at $sfDir — regenerate after plan changes.\n")
    val queries = if (named.nonEmpty) named else Headline
    queries.foreach { name =>
      val qe = SparkEntry.queries(name)(spark, sfDir).queryExecution
      sb.append(s"\n## $name\n\n```\n")
      sb.append(qe.explainString(ExplainMode.fromString("formatted")))
      sb.append("```\n")
    }

    // The incremental-ledger operators live OUTSIDE SparkEntry.queries
    // (no-oracle, spec-proven), so their plans are dumped here against
    // a small seeded ledger: the probe plan must show the pushed In
    // filter on bkh (the point-lookup prune), the patch resolve its
    // single broadcast join.
    if (named.isEmpty) {
      import org.apache.spark.sql.functions._
      import graft.operators.{ClusterLedger, MinHashLedger}
      val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
      val seed = docs.filter(col("doc_id") % 2 === 0)
      val probeBatch = docs.filter(col("doc_id") % 40 === 1).limit(25)
      val mh = "explain_minhash_ledger"
      val clp = "explain_cluster_ledger_pa"
      MinHashLedger.init(spark, mh)
      ClusterLedger.initPatch(spark, clp)
      try {
        val pairs = MinHashLedger.ingest(spark, seed, mh)
        val ids = seed.select(col("doc_id").as("id"))
        val edges = pairs
          .select(col("doc_id_1").as("src"), col("doc_id_2").as("dst"))
        ClusterLedger.ingestPatch(spark, ids, edges, clp)
        val ledgerPlans = Seq(
          "minhash_ledger_probe (point-lookup pruned)" ->
            MinHashLedger.candidatePairsAgainst(spark, probeBatch, mh),
          "cluster_ledger_patch_resolve" ->
            ClusterLedger.resolvePatch(spark, clp))
        ledgerPlans.foreach { case (name, df) =>
          sb.append(s"\n## $name\n\n```\n")
          sb.append(df.queryExecution
            .explainString(ExplainMode.fromString("formatted")))
          sb.append("```\n")
        }
      } finally Seq(mh, clp, s"${clp}_patch")
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
    Files.writeString(Paths.get(out), sb.toString)
    val ledger = if (named.isEmpty) " + 2 ledger" else ""
    println(s"[explain] wrote $out (${queries.size}$ledger plans)")
    spark.stop()
  }
}
