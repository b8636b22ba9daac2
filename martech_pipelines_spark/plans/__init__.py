"""Named query plans: the oracle-checked corpus (SURVEY.md §2 coverage)."""

from martech_pipelines_spark.plans.corpus import ORACLE, QUERIES
from martech_pipelines_spark.plans import corpus_extended  # noqa: F401  (registers)
from martech_pipelines_spark.plans import corpus_more  # noqa: F401  (registers)
from martech_pipelines_spark.plans import corpus_tpch2  # noqa: F401  (registers)
from martech_pipelines_spark.plans import corpus_scale  # noqa: F401  (registers)
from martech_pipelines_spark.plans import corpus_r4  # noqa: F401  (registers)
from martech_pipelines_spark.plans import corpus_tpch3  # noqa: F401  (registers)
from martech_pipelines_spark.plans import corpus_r5  # noqa: F401  (registers)
from martech_pipelines_spark.plans import corpus_r5b  # noqa: F401  (registers)
from martech_pipelines_spark.plans import corpus_r5c  # noqa: F401  (registers)
from martech_pipelines_spark.plans import corpus_r5d  # noqa: F401  (registers)
from martech_pipelines_spark.plans import corpus_r5e  # noqa: F401  (registers)
from martech_pipelines_spark.plans import corpus_r5f  # noqa: F401  (registers)
from martech_pipelines_spark.plans import corpus_r5g  # noqa: F401  (registers)
from martech_pipelines_spark.plans import corpus_r5h  # noqa: F401  (registers)
from martech_pipelines_spark.plans import corpus_r5i  # noqa: F401  (registers)
from martech_pipelines_spark.plans import corpus_r5j  # noqa: F401  (registers)
from martech_pipelines_spark.plans import corpus_r5k  # noqa: F401  (registers)
from martech_pipelines_spark.plans import corpus_r5l  # noqa: F401  (registers)
from martech_pipelines_spark.plans import corpus_r5m  # noqa: F401  (registers)
from martech_pipelines_spark.plans import corpus_r5n  # noqa: F401  (registers)
from martech_pipelines_spark.plans import corpus_r5o  # noqa: F401  (registers)
from martech_pipelines_spark.plans import corpus_r5p  # noqa: F401  (registers)
from martech_pipelines_spark.plans import corpus_r5q  # noqa: F401  (registers)
from martech_pipelines_spark.plans import corpus_r5r  # noqa: F401  (registers)
from martech_pipelines_spark.plans import corpus_r5s  # noqa: F401  (registers)
from martech_pipelines_spark.plans import corpus_r6  # noqa: F401  (registers)
from martech_pipelines_spark.plans import corpus_r7  # noqa: F401  (registers)
from martech_pipelines_spark.plans import corpus_r8  # noqa: F401  (registers)
from martech_pipelines_spark.plans import corpus_r8b  # noqa: F401  (registers)
from martech_pipelines_spark.plans import corpus_r9  # noqa: F401  (registers)
from martech_pipelines_spark.plans import corpus_r9b  # noqa: F401  (registers)
from martech_pipelines_spark.plans import corpus_r9c  # noqa: F401  (registers)
from martech_pipelines_spark.plans import corpus_r9d  # noqa: F401  (registers)
from martech_pipelines_spark.plans import corpus_r10  # noqa: F401  (registers)
from martech_pipelines_spark.plans import corpus_r11  # noqa: F401  (registers)
from martech_pipelines_spark.plans import corpus_r11b  # noqa: F401  (registers)
from martech_pipelines_spark.plans import corpus_r11c  # noqa: F401  (registers)
from martech_pipelines_spark.plans import corpus_r11d  # noqa: F401  (registers)
from martech_pipelines_spark.plans import corpus_r11e  # noqa: F401  (registers)
from martech_pipelines_spark.plans import corpus_r12  # noqa: F401  (registers)

# ---------------------------------------------------------------------------
# Driver-window ordering (round 12 rotation — VERDICT r11 "Next round" #1).
#
# The correctness driver hashes only the FIRST 50 entries of queries() each
# round.  Round-12 window: slots 1-18 are the ENTIRE never-driver-checked
# queue (round-11-session additions, staged at slots 51-68 last round, every
# one four-checked at introduction; the r11 judge spot-ran 6/6 green); slots
# 19-50 are the 32 OLDEST driver-green queries (last driver check r5 —
# recomputed from the CORRECTNESS_r01-r11 union, oldest first,
# registration-order tiebreak), for re-validation currency.  After a green
# round 12 the never-driver-checked count returns to the 13 permanent
# rows-only forms and no standing green is older than r5->r12.
# Slots 51+: the round-11 window in its r11 order (all driver-green in
# r11), then the prior rotations' order, then registration order.
# Nothing is removed.
# ---------------------------------------------------------------------------
_WINDOW_PRIORITY = [
    # === round-12 window, slots 1-18: the never-driver-checked queue
    # (round-11-session additions, staged order preserved). ===
    "s8c3_pq_adc_fixedq",
    "s2i3_ivfpq_fixedq",
    "s13b_power_iteration_det",
    "pipe6b_tokenize_pack_oracled",
    "s35_kcenter_greedy_det",
    "s36_mutual_sparse_knn",
    "t58_contamination_curve",
    "mart29_markov_top1",
    "h34_incremental_feature_hashing",
    "h35_incremental_completeness",
    "dq19_iqr_outlier_days",
    "h36_postings_delete_ivm",
    "g9_harmonic_closeness",
    "t60_langid_confusion",
    "dq20_key_uniqueness",
    "h37_incremental_outlier_days",
    "pipe15_stratified_holdout",
    "h38_incremental_mutual_knn",
    # === slots 19-50: the 32 OLDEST driver-green queries (last check
    # r5, registration-order tiebreak), for re-validation currency. ===
    "mart8_time_decay_attribution",
    "t30_countmin",
    "h12_incremental_histogram",
    "mart9_transition_matrix",
    "r21_order_streaks",
    "s11_mips_topk",
    "dd13_bloom_prefilter",
    "w5_click_purchase_join",
    "r22_asof_join",
    "r23_campaign_range_join",
    "r24_cube",
    "r25_pivot",
    "r26_group_linreg",
    "t31_classifier_auc",
    "g1_pagerank_copurchase",
    "fe1_pit_features",
    "s14_negative_sampling",
    "r27_unpivot",
    "mart10_basket_affinity",
    "pipe7_propensity_training_set",
    "r28_cumulative_reach",
    "h13_incremental_reach",
    "mart11_audience_overlap",
    "pipe8_entity_resolution",
    "h14_incremental_scd2",
    "mart12_top_paths",
    "a9_jsonl_scan",
    "mart13_rfm",
    "h15_incremental_baskets",
    "dq5_erasure_audit",
    "pipe9_campaign_report",
    "r29_exact_percentiles",
    # === round-13 queue (slots 51+ head): round-12-session additions
    # are inserted here as they pass the four-check gate. ===
    "s32b_lexical_dense_agreement_fixedq",
    "h7b_incremental_hll_registers",
    "r41_kmv_setops",
    "h39_incremental_kmv_setops",
    "t61_tfidf_keywords",
    "r31c_rolling_active_kmv",
    "h40_incremental_tfidf",
    "s37_centroid_shift",
    "pipe16_topic_stratified_holdout",
    # === then the round-11 window in its r11 order (all driver-green
    # in r11), then prior rotations, then registration order. ===
    "t14c_bpe_fixed_merges",
    "t26b_bpe_encode_fixed",
    "t54_sparse_cosine_topk",
    "dq16_trend_mann_kendall",
    "r40_histogram_quantile",
    "h30_incremental_histquant",
    "g8_bfs_hops",
    "dq17_sen_slope",
    "fe6_feature_hashing",
    "h31_incremental_postings",
    "mart28_journey_transitions",
    "h32_incremental_transitions",
    "t56_pii_redaction",
    "t57_intradoc_dedup",
    "pipe14_curation_e2e",
    "h33_incremental_trend",
    "s32_lexical_dense_agreement",
    "s33_cell_label_purity",
    "dq18_completeness_matrix",
    "f7_f9_fix_dob",
    "f8_unix_epoch",
    "f10_gender_implicit",
    "f4_lenient_cast",
    "export_profile_pipeline",
    "g1_g2_ist_dates",
    "h3_incremental_scan",
    "h5_change_feed_window",
    "h4_cold_start_stats",
    "t1_word_count",
    "t2_token_stats",
    "t3_lang_id",
    "t4_quality",
    "t5_fingerprint",
    "t8_pii_redact",
    "t9_repetition",
    "t9b_repetition_hof",
    "t10_sequence_pack",
    "t11_chunk_spans",
    "t12_deterministic_sample",
    "s5_normalized_embeddings",
    "s4_label_centroids",
    "dd1_exact_dedup",
    "dd2_dup_groups",
    "dd3_minhash_near_dup",
    "dd3b_minhash_rejoin",
    "dd3c_minhash_materialized",
    "dd7_dup_clusters",
    "dd4_simhash",
    "dd5_ngram_jaccard",
    "dd6_cross_source",
    "s29b_graph_ann_beam_lsh",
    "s2j_kmeans_lloyd_det",
    "s30_graph_recall_curve",
    "r3c_kmv_distinct_det",
    "h24_incremental_kmv",
    "g5_cc_label_min",
    "mart22_rfm_scores",
    "dq13_feed_drift",
    "dd19_minhash_estimator_accuracy",
    "h25_incremental_rfm",
    "mart23_ab_lift",
    "h26_incremental_ab",
    "dq14_join_key_skew",
    "mart24_journey_regex",
    "r39_ewma_last8",
    "t51_calibration_bins",
    "g6_kcore",
    "mart25_churn_hazard",
    "h27_incremental_journey",
    "s31_dim_truncation_recall",
    "h28_incremental_hazard",
    "g7_degree_histogram",
    "dd20_shingle_width_separation",
    "pipe13_dedup_mixture_shift",
    "t52_vocab_growth",
    "h29_incremental_vocab",
    "dq15_error_budget",
    "mart26_bounce_rate",
    "dd21_lsh_band_tradeoff",
    "mart27_ab_by_segment",
    "t53_token_burstiness",
    "flagship_cdc_dedup",
    "flagship_cdc_dedup_skew",
    "sql_cte_dedup",
    "a1_scan_project",
    "a6_range",
    "c2_filter_eq",
    "c4_in_list",
    "c3_dynamic_flag_filter",
    "c6_c7_project_rename",
    "c8_null_rejection",
    "d1_join_back_dedup",
    "d2_semi_join_dim",
    "e1_rank_window",
    "e2_latest_per_key_agg",
    "e2b_latest_salted",
    "e3_count",
    "e5_identity_coalesce",
    "f5_mobile_sanity",
    "f6_modify_reward",
    "t14b_bpe_learn",
    "t26_bpe_encode",
    "s2_lsh_topk",
    "s3_embedding_near_dup",
    "s2b_ivf_topk",
    "r3b_approx_distinct",
    "s20_mmr_rerank",
    "dq9_fd_profile",
    "r37_rank_distribution",
    "t45_containment_dedup",
    "s2h2_ivf_asof_probe",
    "fe4_target_encoding",
    "t46_mixture_budget",
    "s23_pq_distortion_report",
    "dq10_anomaly_attribution",
    "dd16_lsh_precision_report",
    "t48_pii_pattern_profile",
    "s24_rrf_fusion",
    "h21_incremental_sessionize",
    "r38_skyline",
    "dd17_cluster_cap_sample",
    "t49_ngram_novelty",
    "s25_recall_vs_probes",
    "pipe11_dataset_card",
    "h22_incremental_skyline",
    "a12_partitioned_pruned_scan",
    "g4_label_propagation",
    "t50_char_entropy",
    "pipe12_incremental_dataset_card",
    "s26_ivf_cell_balance",
    "dd18_cluster_size_histogram",
    "fe5_session_features",
    "dq11_benford_deviation",
    "mart21_revenue_gini",
    "h23_incremental_gini",
    "dq12_temporal_consistency",
    "s27_filtered_ann",
    "s28_adc_retrieve_rerank",
    "s29_graph_ann_beam",
    "r1_topk_orders",
    "r2_set_ops",
    "r3_distinct_agg",
    "r4_rollup",
    "r5_anti_join",
    "r6_asof_join",
    "w1_tumbling",
    "w2_sliding",
    "w3_session",
    "s1_bruteforce_topk",
    "s1b_bruteforce_arrow",
    "fe2_multiwindow_features",
    "t39_tokenizer_fertility",
    "pipe10b_prep_funnel_materialized",
    "s2e_ivf_cells",
    "s2f_ivf_probe_sets",
    "s8b_pq_codes",
    "s2g_ivf_deterministic_topk",
    "s2h_ivf_delta_probe",
    "s8c_pq_adc_deterministic_topk",
    "s2i_ivfpq_deterministic_topk",
    "mm4_resize",
    "mm5_frame_sample",
    "mm6_phash_near_dup",
    "dq1_constraint_check",
    "dq2_rolling_zscore",
    "dq3_referential_integrity",
    "dq4_source_freshness",
    "w4_late_data_admission",
    "z1_zorder_key",
    "r7_range_join",
    "r4b_cube",
    "r8_percentiles",
    "r9_pivot",
    "r10_running_window",
    "r11_grouping_sets",
    "r12_exists_subquery",
    "r13_lead_lag",
    "r14_json_map",
    "r15_time_range_frame",
    "r16_winsorize",
    "r17_fuzzy_join",
    "r18_mad_outliers",
    "r19_histogram",
    "r20_gap_fill",
    "f12_standardize",
    "dp1_profile_customer",
    "a4_conf_read",
    "a5_csv_scan",
    "s2c_ivf_materialized",
    "s2d_ivfpq_materialized",
    "s8_pq_topk",
    "s9b_hard_negatives_ivf",
    "s13_pca_project",
    "r8b_approx_percentiles",
    "r31b_rolling_active_hll",
    "h7_incremental_distinct",
    "pipe6_tokenize_pack",
]


def _reorder_registry() -> None:
    # Fail fast on a typo/renamed query: a silently-skipped name would shift
    # the driver's 50-slot verification window (ADVICE r6).
    missing = [n for n in _WINDOW_PRIORITY if n not in QUERIES]
    assert not missing, f"_WINDOW_PRIORITY names absent from QUERIES: {missing}"
    dupes = {n for n in _WINDOW_PRIORITY if _WINDOW_PRIORITY.count(n) > 1}
    assert not dupes, f"_WINDOW_PRIORITY duplicate names: {sorted(dupes)}"
    ordered = {n: QUERIES[n] for n in _WINDOW_PRIORITY}
    for name, fn in list(QUERIES.items()):
        if name not in ordered:
            ordered[name] = fn
    QUERIES.clear()
    QUERIES.update(ordered)


_reorder_registry()

__all__ = ["QUERIES", "ORACLE"]
