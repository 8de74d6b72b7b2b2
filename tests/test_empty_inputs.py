"""Degenerate-input robustness: every operator family must tolerate
EMPTY source tables (0 rows, full schema) without crashing — the
condition a 100 TB pipeline hits constantly (empty partitions, fresh
sources, filtered-to-nothing slices). Results may legitimately be
empty; they must never raise."""

from __future__ import annotations

import pytest

import __spark_entry__ as entrymod

SUBSET = [
    "records_pipeline", "scan_stream", "filter_conjunction", "deagg_explode",
    "json_parse", "curate_corpus", "rag_retrieval", "dedup_minhash_canonical",
    "semdedup", "ann_bruteforce", "agg_pricing_summary", "window_rank",
    "join_enrich", "top_k_customers", "bm25_retrieval", "chi2_independence",
    "trend_lines", "cusum_changepoint", "assoc_rules", "shortest_path_bounded",
    "kmv_intersection", "grid_radius_join", "bootstrap_ci", "calibration_report",
    "mmr_rerank", "pca_power_iteration", "cohort_retention", "ab_test_report",
    "sequence_motifs", "dataset_card", "training_matrix_pit",
    "pseudonymize_consistent", "incremental_join_merge", "pagerank_converged",
    "dedup_groups", "feature_quantile_bins", "drift_ks", "table_checksum",
    "window_session_dynamic", "join_asof_nearest", "quantile_normalize",
    "multimodal_phash_dedup", "varint_delta_report", "attribution_models",
    "sequence_pattern_regex", "quarantine_split", "log_parse_roundtrip",
    "bitmap_membership", "mutual_information", "benford_audit",
    "token_budget_allocation", "rfm_segments",
    "gopher_repetition_rules", "c4_quality_filters", "curriculum_shards",
    "multimodal_png_decode", "ccnet_perplexity_buckets", "ann_ivfpq",
    "multimodal_scene_cuts", "tokenizer_fertility_report",
    "dedup_substring_scrub", "streaming_near_dedup", "doremi_reweight_step",
    "matryoshka_recall", "lang_id_confusion", "kcenter_init",
    "multimodal_audio_vad", "source_token_kl", "timeseries_topk_similar",
    # round-5 late pass
    "cem_att_estimate", "sprt_sequential_test", "embedding_random_projection",
    "feature_hashing_vectors", "er_sorted_neighborhood", "psm_att_matched",
    "cluster_purity_report", "graph_modularity_report", "wer_pairs_report",
    "stratified_kfold_assign", "rouge_l_pairs_report", "chrf_pairs_report",
    "cohens_kappa_report", "multimodal_gif_decode",
    "ridge_regression_closed_form", "streaming_drift_monitor",
    "markov_next_event_eval", "brier_decomposition",
    "dtw_timeseries_similarity", "harmonic_centrality", "matrix_profile_daily",
    "pelt_changepoints", "markov_attribution_removal",
    # round-5 final batch (previously untested on empty inputs)
    "ecod_outlier_scores", "lof_outlier_scores", "mcnemar_raters_test",
    "gains_lift_deciles", "model_ks_separation", "evt_pot_tail_report",
    "best_of_n_selection", "group_sequential_obf", "good_turing_unseen_mass",
    "capture_recapture_estimate", "heaps_law_fit",
    # round 6
    "multimodal_jpeg_progressive_decode", "multimodal_flac_decode",
    "multimodal_gif_interlaced_decode", "multimodal_g711_decode",
    "multimodal_adpcm_decode", "multimodal_png_palette_decode",
    "streaming_sprt_monitor", "streaming_obf_monitor", "unimax_allocation",
    "wer_pairs_report", "bleu_pairs_report",
    # round-6 late pass
    "multimodal_tiff_decode", "multimodal_qoi_decode", "fim_transform",
    "embedding_morton_shards", "coreset_sensitivity_select", "hubness_report",
    "multimodal_aiff_decode", "ece_report",
    # round 7
    "hubness_report_ivf", "lof_outlier_scores_ivf", "ivf_knn_recall_report",
    "ivf_nprobe_sweep", "multimodal_tiff_lzw_decode",
    "multimodal_tiff_tiled_decode", "multimodal_png_interlaced_decode",
    "multimodal_png_colortype_decode", "multimodal_png16_decode",
    "multimodal_wav_stereo_decode", "streaming_ece_monitor",
    # round 8 (trained quantizer: the Lloyd loop, assignment, health,
    # and consumers must all tolerate a 0-vector corpus)
    "hubness_report_ivf_trained", "lof_outlier_scores_ivf_trained",
    "ivf_nprobe_sweep_trained", "ivf_list_health", "semdedup_trained",
    "streaming_ivf_assign", "kmeans_converged",
    "multimodal_png16_gray_decode", "multimodal_png16_rgba_decode",
    "multimodal_tiff_deflate_decode", "ann_ivfpq_trained",
    # round 9
    "ann_ivfpq_refine", "pq_code_health",
    "multimodal_png_gray_lowdepth_decode", "streaming_cusum_monitor",
    "dedup_url_canonicalize", "multimodal_tiff_ccitt_decode",
    "wordpiece_encode", "consistent_hash_resharding",
    "betweenness_centrality", "multimodal_motion_estimate",
    "delong_auc_ci", "sink_xml_roundtrip",
    "multimodal_png_gray_alpha_decode",
    "multimodal_tiff_gray_decode", "ann_range_search",
    "multimodal_msadpcm_decode", "merkle_table_digest",
    "multimodal_gif_animated_decode", "streaming_merkle_digest",
    "quantization_recall_report",
]


@pytest.mark.parametrize("name", SUBSET)
def test_query_survives_empty_inputs(spark, empty_dir, name):
    cnt = entrymod.queries()[name](spark, empty_dir).count()
    assert cnt >= 0
