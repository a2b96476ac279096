package graft
import graft.obs.GraftSession

/** Dev tool: dump formatted physical plans of headline queries so scan
  * pushdown (PushedFilters/ReadSchema), broadcast choices and
  * WholeStageCodegen spans can be eyeballed per round.
  * Usage: sbt "runMain graft.Plans [queryName ...]"
  */
object Plans {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = GraftSession.local(GraftSession.envCpus)
    graft.functions.GraftFunctions.register(spark)
    val names = if (args.nonEmpty) args.toSeq
      else Seq("q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier",
        "ds_agg_minutes10", "q_in_between", "emb_topk_cosine", "emb_ann_ivf",
        "q_returned_items", "pipe_cap_per_source", "pipe_split_hash",
        "graph_snapshot_stats", "q_exists_late_ship", "doc_repetition",
        "pipe_contamination", "pipe_pack_sequences", "ds_agg_sliding",
        "q_sessionize", "text_logprob", "q_corr_regr", "emb_quantize",
        "pipe_mixture", "q_snowflake_volume", "q_tfidf_top_terms",
        "q_decimal_money", "dedup_simhash", "q_agg_filter",
        "dedup_incremental", "pipe_profile_numeric", "pipe_chunk_documents",
        "emb_near_pairs", "dedup_embedding", "store_nested_tags",
        "mm_pipeline", "q_zorder_key", "pipe_dedup_paragraphs",
        "pipe_boilerplate", "dedup_spans", "pipe_paragraphs_natural",
        "emb_semdedup", "emb_prototypes", "text_bigram_lm",
        "graph_pagerank", "pipe_sample_weighted", "emb_ann_ivfpq",
        "pipe_split_leakage", "q_dq_report", "q_table_cdc",
        "drv_mad_outliers", "text_ppl_buckets", "dedup_containment",
        "mm_phash_dedup", "emb_dim_stats", "emb_ood_score",
        "graph_bfs_hops", "graph_jaccard_links", "pipe_k_anonymity",
        "q_bucket_join", "ds_resample_linear", "pipe_e2e_curation",
        "drv_seasonal_baseline", "q_skyline_pareto", "ds_autocorr",
        "ds_changepoint", "emb_pca_gram", "emb_pca", "ds_cusum",
        "ds_staleness", "emb_mmr", "mm_tone_detect",
        "dedup_normalized", "emb_knn_label", "graph_kcore",
        "ds_burstiness", "q_benford_digits", "emb_ann_recall",
        "pipe_dedup_priority", "text_readability", "q_asof_tolerance",
        "graph_degree_dist", "pipe_feature_bins", "pipe_dataset_card",
        "pipe_bootstrap", "graph_lpa_communities", "q_rfm_segments",
        "text_ngram_novelty", "emb_matryoshka_recall", "q_percentile_disc",
        "pipe_ks_drift", "graph_lpa_modularity", "q_asof_nearest",
        "text_lang_fertility", "drv_iqr_outliers", "q_next_event_probs",
        "q_mom_growth", "pipe_class_balance", "emb_cluster_purity",
        "graph_assortativity", "q_weighted_median", "pipe_curriculum",
        "ds_motifs", "q_assoc_rules", "q_cohort_ltv",
        "text_rake_keywords", "mm_audio_fingerprint",
        "dedup_setsim_prefix", "pipe_mw_drift", "pipe_t_closeness",
        "emb_ann_binary", "q_mrr_eval", "pipe_quota_split",
        "pipe_target_encode", "graph_sssp", "q_fuzzy_match",
        "pipe_pii_scan", "pipe_dedup_eval", "mm_vad_segments",
        "pipe_quantile_norm", "emb_hard_negatives", "text_collocations",
        "pipe_dataset_fingerprint", "text_oov_rate",
        "q_fingerprint_incremental", "pipe_bounded_contrib",
        "mm_patch_grid", "emb_ann_ivf_indexed",
        "graph_hits", "mm_resample", "q_bm25f", "drv_holt", "q_bm25_audit",
        "emb_ann_ivf_sq8", "q_bm25_rebuilt")
    names.foreach { n =>
      println(s"\n========== $n ==========")
      println(SparkEntry.queries(n)(spark, sfDir).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
    }
    spark.stop()
  }
}
