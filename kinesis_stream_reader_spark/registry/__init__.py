"""Query registry: every implemented operator as a named (spark, sf_dir)
-> DataFrame callable, with a DuckDB oracle-SQL twin where the semantics
are ANSI-SQL-expressible.

This is the engine's public face for the correctness driver
(__spark_entry__.py re-exports it). Column names are aliased identically
on both sides — the driver sorts columns by name before value-hashing.

Round-6 split: the original single-file registry.py (22.4k LoC, 461
inline oracles) is now a package of chronological family slices —
`_shared.py` holds the registration infra (QUERIES/ORACLES/register +
the NESTED_CTE oracle building block); each `r*.py` module is a
contiguous, order-preserving slice of the original file (order matters:
oracle-builder helpers read ORACLES entries registered by earlier
slices at import time). queries()/oracle_sql() and the _PRIORITY
ordering are unchanged.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from ._shared import (  # noqa: F401
    NESTED_CTE,
    ORACLES,
    QUERIES,
    register,
)

# Import order = original file order (load-bearing, see module docstring).
from . import r1_parity_ext  # noqa: E402,F401
from . import r2_relational_formats  # noqa: E402,F401
from . import r2_state_retrieval  # noqa: E402,F401
from . import r2_stats_streams  # noqa: E402,F401
from . import r3_curation_graph  # noqa: E402,F401
from . import r3_eval_winnow  # noqa: E402,F401
from . import r4_surface  # noqa: E402,F401
from . import r5_codecs_eval  # noqa: E402,F401
from . import r6_round6  # noqa: E402,F401
from . import r7_round7  # noqa: E402,F401
from . import r8_round8  # noqa: E402,F401
from . import r9_round9  # noqa: E402,F401
from . import r10_round10  # noqa: E402,F401
from . import r11_round11  # noqa: E402,F401
from . import r12_round12  # noqa: E402,F401
from . import r13_round13  # noqa: E402,F401

# Back-compat re-exports (callers use registry.<name> for these).
from .r1_parity_ext import records_pipeline  # noqa: E402,F401
from .r2_relational_formats import _roundtrip_dir  # noqa: E402,F401

# ---------------------------------------------------------------------------
# EAGER contract: building these queries' DataFrames EXECUTES Spark jobs
# (census-collect driver algebra, driver-loop iteration with eager
# actions, fixture/sink writes, or streaming drains) — the returned plan
# is NOT free, unlike the rest of the registry. Tooling that builds
# plans for inspection (tools/explain.py, plan tests) must expect jobs
# when touching these. Curated from tools/find_eager.py probe output
# (job-group counting; note streaming drains run on their own scheduler
# thread and escape the group, so streaming_*/source_*/sink_* membership
# here is by construction, not by probe count).
# ---------------------------------------------------------------------------
EAGER_QUERIES = frozenset(
    # census-collect driver algebra (exact Python-int replay on a
    # bounded census gathered via collect())
    [
        "bradley_terry_arena", "pelt_changepoints", "markov_attribution_removal",
    ]
    # driver-loop iteration (per-round actions: BPE merges, k-means /
    # k-center rounds, PageRank convergence checks, component label
    # propagation, k-core peeling, HyperBall rounds)
    + [
        "bpe_train_merges", "bpe_encoded_vocab", "tokenizer_fertility_report",
        "kmeans_converged", "kcenter_init", "mmr_rerank",
        "pca_power_iteration",
        "pagerank_converged", "personalized_pagerank", "harmonic_centrality",
        "betweenness_centrality",
        "hyperball_neighborhood", "kcore_decomposition", "kcore_bounded",
        "graph_triangles", "link_prediction_jaccard",
        "link_prediction_adamic_adar", "keyword_textrank",
        "knn_graph", "knn_graph_components", "lof_outlier_scores",
        "ivf_knn_recall_report", "hubness_report_ivf", "lof_outlier_scores_ivf",
        "ivf_nprobe_sweep", "hubness_report_ivf_trained",
        "lof_outlier_scores_ivf_trained", "ivf_nprobe_sweep_trained",
        "ivf_list_health", "semdedup_trained", "ann_ivfpq_trained",
        "ann_ivfpq_refine", "pq_code_health", "wordpiece_encode",
        "ann_ivfpq_batch", "unigram_lm_encode", "bytelevel_bpe_encode",
        "ann_ivf_filtered", "tokenizer_compare_report",
        "ann_index_persist_serve", "ann_index_persist_serve_batch",
        "ann_index_upsert_serve", "ann_index_compact_serve",
        "ann_index_stats", "ann_index_refine_serve",
        "ann_index_filtered_serve", "ann_index_compact_policy",
        "ann_index_refine_serve_batch", "ann_index_manifest_stats",
        "ann_index_refine_filtered_serve", "ann_index_retrain_policy",
        "bytelevel_bpe_roundtrip",
        "ann_index_retrain_serve", "ann_index_churn_recall",
        "semdedup_persisted",
        "quantization_recall_report",
        "dedup_minhash_canonical", "dedup_groups", "dedup_keep_best",
        "dedup_downweight", "dedup_containment_best", "winnowing_fingerprints",
        "dbscan_grid_clusters", "split_group_aware", "split_semantic_leakage",
        "curate_corpus", "training_batches", "join_runtime_bloom_filter",
        "join_bucketed_colocated", "temporal_reachability",
        "shortest_path_bounded", "graph_label_propagation",
        "graph_modularity_report",
        "multimodal_dedup", "multimodal_binary_ingest",
        "functional_dependency_audit", "referential_integrity_audit",
    ]
    # eager writes at build time (sink round-trips / layout fixtures)
    + [
        "sink_json", "sink_csv_roundtrip", "sink_json_roundtrip",
        "sink_orc_roundtrip", "sink_parquet_partitioned", "sink_sorted_parquet",
        "sink_zorder_parquet", "sink_partition_overwrite",
        "sink_compact_small_files", "schema_evolution_read",
        "sink_python_datasource", "sql_session_variables",
        "sink_xml_roundtrip",
    ]
    # streaming drains at build time (memory/file sinks filled before
    # the result DataFrame is returned)
    + [n for n in QUERIES if n.startswith("streaming_")]
    + ["source_python_stream", "source_python_backfill",
       "source_python_reshard", "streaming_shard_lag_census",
       "streaming_reshard_drain"]
)

# The correctness driver samples queries() in dict order and may stop
# after the first ~50 entries, so never-driver-checked queries lead.
_PRIORITY = [
    # ROUND-13 ROTATION: new round-13 queries lead (never
    # driver-checked), then the round-13-touched legs (manifest-aware
    # vectors generations, model-root constants, routed appends).
    "ann_index_retrain_serve", "ann_index_churn_recall",
    "semdedup_persisted", "streaming_bytelevel_bpe_encode",
    "multimodal_jpeg_lossless_partial_decode",
    "ann_index_retrain_refine_serve", "ann_index_retrain_health",
    # ROUND-12 ROTATION: new round-12 queries lead (never
    # driver-checked), then the round-12-touched legs (manifest
    # compaction, batch-id guard, reshard frozen sizes, scheme-less
    # fragment strip).
    "ann_index_refine_serve", "ann_index_filtered_serve",
    "streaming_index_delete_serve", "ann_index_compact_policy",
    "streaming_minhash_dedup", "multimodal_jpeg_lossless_multiscan_decode",
    "bytelevel_bpe_encode", "tokenizer_compare_report",
    "ann_index_refine_serve_batch", "ann_index_manifest_stats",
    "ann_index_refine_filtered_serve", "ann_index_retrain_policy",
    "bytelevel_bpe_roundtrip",
    # ROUND-5 ROTATION: the driver verifies the FIRST ~50 entries. Head =
    # the 23 late-pass additions (causal matching, SPRT, JL/feature
    # hashing, ER blocking, the WER/ROUGE/chrF eval triad, kappa, GIF
    # codec, ridge, streaming drift, markov eval, brier, DTW, harmonic,
    # matrix profile, PELT, removal-effect attribution), then the 14
    # early-round-5 additions (JPEG codec, soft dedup, readability,
    # Bradley-Terry, k-core, collation...), then the queries whose code
    # paths CHANGED this round (vertex-restricted dedup_components
    # callers, staged winnowing hashes, lazy-checkpoint driver loops),
    # then the rotation of previously-verified queries. Nothing dropped.
    # ROUND-11 ROTATION: new round-11 queries lead (never
    # driver-checked), then the round-11-touched legs (unigram seed
    # cap, URL scheme guard, reshard emit_idx, persisted-index
    # sentinel).
    "ann_index_upsert_serve", "ann_index_persist_serve_batch",
    "streaming_wordpiece_encode", "ann_index_compact_serve",
    "streaming_index_upsert", "streaming_ann_serve", "ann_index_stats",
    # ROUND-10 ROTATION: new round-10 queries lead (never
    # driver-checked), then the round-10-touched legs (first-occurrence
    # URL separators, wordpiece vocab cap + guards, PQ int64 census),
    # then the r9 rotation.
    "ann_index_persist_serve", "multimodal_jpeg12_decode",
    "multimodal_jpeg_lossless_decode",
    "multimodal_jpeg_lossless_rgb_decode",
    "source_python_reshard", "ann_ivfpq_batch", "unigram_lm_encode",
    "multimodal_tiff16_decode", "streaming_shard_lag_census",
    "streaming_reshard_drain", "ann_ivf_filtered", "merkle_snapshot_diff",
    "multimodal_tiff16_rgb_decode",
    "dedup_url_canonicalize", "wordpiece_encode", "pq_code_health",
    # ROUND-9 ROTATION: new round-9 queries lead (never driver-checked),
    # then the round-9-touched legs (rank-based seeding, imbalance
    # definition), then the r8 rotation.
    "ann_ivfpq_refine",
    "multimodal_png_gray_lowdepth_decode", "streaming_cusum_monitor",
    "multimodal_tiff_ccitt_decode", "consistent_hash_resharding",
    "betweenness_centrality", "multimodal_motion_estimate",
    "delong_auc_ci", "sink_xml_roundtrip",
    "multimodal_png_gray_alpha_decode",
    "multimodal_tiff_gray_decode", "ann_range_search",
    "multimodal_msadpcm_decode", "merkle_table_digest",
    "multimodal_gif_animated_decode", "streaming_merkle_digest",
    "quantization_recall_report",
    # ROUND-8 ROTATION: new round-8 queries lead (never driver-checked),
    # then the round-8-touched legs (lists-parameterized IVF chain, the
    # Lloyd-loop extraction, nprobe-sweep oracle bound), then the r7
    # rotation.
    "hubness_report_ivf_trained", "lof_outlier_scores_ivf_trained",
    "ivf_nprobe_sweep_trained", "ivf_list_health",
    "multimodal_png16_gray_decode", "semdedup_trained",
    "streaming_ivf_assign", "multimodal_tiff_deflate_decode",
    "multimodal_png16_rgba_decode", "ann_ivfpq_trained",
    # ROUND-7 ROTATION: new round-7 queries lead (never driver-checked),
    # then the round-7-touched legs (G.711 sign fix, AIFF split), then
    # the r6 rotation.
    "hubness_report_ivf", "lof_outlier_scores_ivf", "ivf_knn_recall_report",
    "multimodal_tiff_lzw_decode", "multimodal_png_interlaced_decode",
    "streaming_ece_monitor", "multimodal_tiff_tiled_decode",
    "ivf_nprobe_sweep", "multimodal_png_colortype_decode",
    "multimodal_wav_stereo_decode", "multimodal_png16_decode",
    "multimodal_g711_decode", "multimodal_aiff_decode",
    # ROUND-6 ROTATION: new round-6 queries lead (never driver-checked),
    # then the round-6-touched eval kernels, then the r5 rotation.
    "multimodal_qoi_decode", "fim_transform",
    "ece_report",
    "multimodal_jpeg_progressive_decode", "multimodal_flac_decode",
    "streaming_sprt_monitor", "streaming_obf_monitor",
    "multimodal_gif_interlaced_decode",
    "multimodal_adpcm_decode",
    "multimodal_png_palette_decode", "multimodal_tiff_decode",
    "unimax_allocation", "embedding_morton_shards",
    "coreset_sensitivity_select", "hubness_report",
    "wer_pairs_report", "rouge_l_pairs_report", "chrf_pairs_report",
    "bleu_pairs_report", "markov_attribution_removal", "best_of_n_selection",
    "cem_att_estimate", "sprt_sequential_test", "embedding_random_projection",
    "feature_hashing_vectors", "er_sorted_neighborhood", "psm_att_matched",
    "cluster_purity_report", "graph_modularity_report", "stratified_kfold_assign",
    "cohens_kappa_report", "multimodal_gif_decode",
    "ridge_regression_closed_form", "streaming_drift_monitor",
    "markov_next_event_eval", "brier_decomposition",
    "dtw_timeseries_similarity", "harmonic_centrality",
    "matrix_profile_daily", "pelt_changepoints",
    "multimodal_audio_hadamard",
    "ecod_outlier_scores", "lof_outlier_scores", "mcnemar_raters_test",
    "gains_lift_deciles", "model_ks_separation",
    "evt_pot_tail_report", "group_sequential_obf",
    "good_turing_unseen_mass", "capture_recapture_estimate",
    "heaps_law_fit",
    "multimodal_jpeg_decode", "multimodal_jpeg_phash_dedup",
    "dedup_downweight", "sql_collation_distinct",
    "readability_report", "code_prose_report", "bradley_terry_arena",
    "kcore_decomposition", "pivot_event_matrix", "transpose_lang_stats",
    "approx_topk_events", "pass_at_k_report", "gini_source_concentration",
    "dpo_pair_builder",
    "winnowing_fingerprints", "dedup_keep_best",
    "knn_graph_components", "dedup_minhash_canonical", "dedup_groups",
    # lazy-checkpoint loops changed this round — keep in the head-50
    "pagerank_converged", "kmeans_converged",
    "semdedup", "dedup_threshold_sweep", "curate_corpus",
    "multimodal_phash_dedup",
    "multimodal_video_decode", "tfidf_cosine_pairs", "surrogate_keys_dense",
    "bm25_retrieval", "ndcg_eval", "pca_power_iteration", "dataset_card",
    "mmr_rerank", "source_ablation_report", "grid_radius_join",
    "join_dynamic_partition_pruning", "item_item_recs", "attribution_models",
    "market_share", "waiting_suppliers", "feature_quantile_bins_exact",
    "log_parse_roundtrip", "streaming_windowed_distinct",
    "sql_recursive_reachability", "source_python_stream",
    "sink_python_datasource", "expectations_check",
    "varint_delta_report", "cusum_changepoint", "assoc_rules",
    "kmv_intersection", "bootstrap_ci", "incremental_join_merge",
    "temporal_reachability", "training_matrix_pit",
    "join_runtime_bloom_filter", "streaming_kmin_sketch", "tpch_q6",
    "local_supplier_volume", "join_interval_bucketed",
    "join_bucketed_colocated", "join_salted_skew", "streaming_enrich",
    "scd2_from_changelog", "snapshot_diff", "drift_ks", "interval_coverage",
    "funnel_asof_chain", "table_checksum", "calibration_report",
    "k_anonymity_report", "pseudonymize_consistent", "sessionize_batch",
    "gap_fill_locf", "pack_sequences", "udtf_token_stats", "agg_udaf_median",
    "kmeans_step", "quality_model_score", "multimodal_image_decode",
    "multimodal_audio_decode", "ewma_smoothing", "ab_test_report",
    "cohort_retention", "forecast_backtest", "streaming_cms_cells",
    "window_session_dynamic_builtin", "multimodal_image_resize_decoded",
    "source_python_backfill", "dedup_minhash_pairs_capped", "text_normalize",
    "window_session_builtin", "agg_minmax_by", "agg_stats", "returned_items",
    "promo_revenue", "join_range_bands", "explode_tokens", "text_pii_scrub",
    "multimodal_frame_sample", "sink_parquet_partitioned",
    "window_running_total", "window_lead_lag", "multimodal_resize",
    "json_parse_corrupt", "grouping_sets_sql", "late_shipments",
    "large_volume_orders", "disjunctive_part_revenue",
    "orders_above_customer_avg", "window_ntile", "brand_supplier_counts",
    "vector_norms", "text_doc_frequency", "json_props_extract",
    "dedup_fuzzy_levenshtein", "agg_by_day", "join_outer_full",
    "unpivot_metrics", "split_train_test", "anomaly_zscore", "agg_mode",
    "embedding_centroids", "sink_csv_roundtrip", "sink_json_roundtrip",
    "agg_percentiles_approx", "multimodal_audio_chunks", "volume_shipping",
    "window_range_frame", "window_first_last", "text_extract_words",
    "compact_latest_state", "streaming_ingest_pipeline", "agg_collect_types",
    "monthly_revenue_growth", "window_sliding", "dormant_rich_customers",
    "user_event_timeline", "agg_correlation", "streaming_sliding",
    "sink_sorted_parquet", "funnel_counts", "order_priority_counts",
    "customer_order_distribution", "small_quantity_revenue",
    "priority_line_counts", "histogram_doc_lengths", "skew_profile",
    "rolling_active_users", "product_profit", "top_supplier_revenue",
    "sample_stratified", "chunk_documents", "ngram_top_k",
    "source_mixture_weights", "reservoir_per_key", "min_cost_supplier",
    "important_stock", "supplier_part_counts", "excess_inventory_suppliers",
    "text_repetition", "text_char_entropy", "vocab_coverage",
    "apply_mixture_weights", "quality_gate_report", "text_rolling_fingerprint",
    "set_except_all", "props_map_census", "top_k_per_group_agg",
    "json_variant_extract", "text_search_boolean", "embedding_quantize_int8",
    "text_lang_id_ngram", "ann_quantized", "boilerplate_ngram_flags",
    "hard_negative_mining", "profile_columns", "sink_orc_roundtrip",
    "ann_recall_report", "multimodal_binary_ingest", "sink_zorder_parquet",
    "incremental_agg_merge", "agg_hll_mergeable", "text_unigram_logprob",
    "bpe_pair_counts", "corpus_shuffle_shards", "tfidf_top_terms",
    "source_quality_report", "sample_weighted", "source_overlap_matrix",
    "dedup_containment", "multimodal_dedup", "schema_evolution_read",
    "sink_partition_overwrite", "sink_compact_small_files",
    "gap_fill_interpolate", "pareto_frontier", "streaming_bloom_bits",
    "anomaly_mad", "source_mixture_temperature", "join_shuffle_hash_hint",
    "drift_report", "bpe_encoded_vocab", "bigram_logprob",
    "minhash_estimate_report", "agg_boxplot", "obs_metrics",
    "html_extract_text", "phrase_search", "chi2_independence", "trend_lines",
    "acf_daily", "shortest_path_bounded", "l_diversity_report",
    "window_percent_rank", "pmi_collocations", "streaming_obs_metrics",
    "sequence_motifs", "streaming_ab_counts", "target_encode_loo",
    "funnel_negative", "gdpr_erasure_audit", "pipeline_from_spec",
    "backfill_stale_partitions", "late_arrival_histogram",
    "rolling_correlation", "rfm_segments", "kcore_bounded",
    "token_budget_allocation", "mutual_information", "benford_audit",
    "sql_parameterized", "quality_model_contributions", "bitmap_membership",
    "join_asof_nearest", "sequence_pattern_regex",
    "conversion_latency_histogram", "quarantine_split",
    "streaming_quarantine_counts", "tiered_billing_report", "uptime_report",
    "stock_ledger_dips", "cycle_time_report", "trimmed_mean_report",
    "weekday_seasonality_report", "abandoned_carts", "diversity_index_report",
    "price_elasticity_report", "text_readability",
    "degree_distribution_report", "rolling_median", "cohort_conversion_report",
    "partition_gini_report", "multimodal_audio_fingerprint", "sql_pipe_syntax",
    "sql_udf_scalar", "sql_udf_table", "sql_session_variables",
    "streaming_state_inspect", "mann_whitney_utest", "anova_oneway",
    "wilson_ci_report", "link_prediction_adamic_adar", "personalized_pagerank",
    "zipf_fit_report", "ttr_hapax_report", "term_burstiness",
    "paragraph_dedup_scrub", "multimodal_bmp_decode",
    "multimodal_image_histogram", "multimodal_audio_pitch",
    "holt_winters_seasonal", "experiment_readout",
    "multimodal_keyframe_select", "dbscan_grid_clusters",
    "decay_weighted_activity", "skipgram_negative_table", "model_eval_auc",
    "multimodal_png_decode", "gopher_repetition_rules", "c4_quality_filters",
    "curriculum_shards", "ccnet_perplexity_buckets", "ann_ivfpq",
    "multimodal_scene_cuts", "tokenizer_fertility_report",
    "dedup_substring_scrub", "streaming_near_dedup", "doremi_reweight_step",
    "matryoshka_recall", "lang_id_confusion", "kcenter_init",
    "multimodal_audio_vad", "source_token_kl", "timeseries_topk_similar",
    "bpe_train_merges", "window_session_dynamic",
    "nested_orders_roundtrip", "quantile_normalize", "knn_graph",
    "ngram_novelty_curve", "theil_sen_trend", "quantiles_merged_histograms",
    "split_semantic_leakage", "randomized_response_audit",
    "markov_transition_matrix", "als_implicit_step", "keyword_textrank",
    "twap_report", "rank_fusion_rrf", "link_prediction_jaccard",
    "conformal_coverage_report", "pr_curve_points", "kaplan_meier_survival",
    "t_closeness_report", "fdr_bh_correction", "cuped_adjustment",
    "join_lateral_topk", "holt_linear_smoothing", "mann_kendall_trend",
    "functional_dependency_audit", "referential_integrity_audit",
    "embedding_drift_report", "streaming_topk_windowed",
    "isotonic_calibration", "logrank_test", "jackknife_ratio_ci",
    "spearman_daily", "mrr_recall_eval", "welch_ttest", "kendall_tau_daily",
    "seasonal_decompose", "shapley_attribution", "srm_check",
    "power_mde_report", "hyperball_neighborhood", "seasonal_anomaly_flags",
    "pacf_daily", "kneser_ney_logprob", "ipw_treatment_effect", "did_estimate",
    "ucb_arm_ranking", "join_asof_forward", "window_cume_dist",
    "blocking_recall_report", "records_pipeline", "scan_stream",
    "filter_conjunction", "filter_time_range_clamped", "deagg_explode",
    "deagg_passthrough_quirk", "json_parse", "sink_json", "training_batches",
    "rag_retrieval", "dedup_containment_best", "dedup_substring_spans",
    "dedup_exact", "dedup_minhash_lsh", "dedup_simhash", "dedup_ngram_jaccard",
    "dedup_embedding_cosine", "corpus_decontaminate", "split_group_aware",
    "dsir_select", "streaming_windowed_counts", "streaming_sessionize_native",
    "streaming_sessionize", "streaming_attribution",
    "streaming_attribution_outer", "streaming_attribution_full",
    "streaming_attribution_semi", "streaming_attribution_right",
    "streaming_resume_exactly_once", "streaming_dedup",
    "streaming_asof_enrich", "streaming_upsert_compact",
    "streaming_records_pipeline", "ann_bruteforce", "ann_lsh", "ann_ivf",
    "ann_pq", "feature_quantile_bins", "pagerank_step",
    "heavy_hitters_cms", "bloom_semi_filter", "graph_triangles",
    "graph_label_propagation", "ann_ivf_incremental", "join_asof_tolerance",
    "shipping_priority", "text_quality", "filter_contact_id",
    "filter_agent_id", "filter_server_name", "filter_tenant_id",
    "filter_agent_shift_id", "filter_nan_param", "filter_time_range",
    "agg_count_by_key", "agg_pricing_summary", "join_enrich",
    "join_filter_pushdown", "window_rank", "top_k_customers", "set_except",
    "join_semi", "set_union", "sql_text_api", "set_intersect", "sort_limit",
    "distinct_count", "rollup_counts", "window_tumbling", "text_token_count",
    "text_lang_id", "text_fingerprint", "agg_count_by_key_salted",
    "agg_approx_distinct", "join_asof", "cube_counts", "pivot_counts",
    "agg_percentiles", "multimodal_features", "cluster_silhouette",
]


def _ordered() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    ordered = {n: QUERIES[n] for n in _PRIORITY if n in QUERIES}
    ordered.update((k, v) for k, v in QUERIES.items() if k not in ordered)
    return ordered


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return _ordered()


def oracle_sql() -> dict[str, str]:
    return {n: ORACLES[n] for n in _ordered() if n in ORACLES}


