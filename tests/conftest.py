import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from heatmap_spark import get_spark  # noqa: E402

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("heatmap-spark-tests", master="local[8]", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_smoke():
    return SF_SMOKE


@pytest.fixture(scope="session")
def sf_correct():
    return SF_CORRECT


# ---------------------------------------------------------------------------
# Slow-test split (VERDICT r12 item 1): the driver's verify budget kills
# the full 41-minute suite at ~90% with zero failures, so the measured-
# slow tests (call time >= 13 s in the r13 round-start full run, plus
# >= 7 s in the quiet-box re-measure; exact node ids so parametrized
# cases split individually) carry a `slow` marker and pytest.ini
# deselects them by default.  Tests that cover code CHANGED in the
# current round, and the plan-shape pins (test_plans.py), are
# deliberately kept in the default path.  Run the slow set with:
#   pytest -m slow
SLOW_TESTS = {
    "tests/test_advanced_ops.py::test_connected_components_converges_on_star_and_cycle",
    "tests/test_advanced_ops.py::test_negative_sampling_validity",
    "tests/test_advanced_ops.py::test_udtf_ngrams_matches_native",
    "tests/test_advanced_ops.py::test_url_canonicalization_collapses_variants",
    "tests/test_api.py::test_cli_drift_and_resolve_subcommands",
    "tests/test_bpe_drift.py::test_metrics_log_semantics",
    "tests/test_bpe_drift.py::test_streaming_entry_point",
    "tests/test_clustering_acf.py::test_kmeans_deterministic",
    "tests/test_clustering_acf.py::test_kmeans_partitions_and_improves",
    "tests/test_kll_store.py::test_binning_stream_entry_point",
    "tests/test_kll_store.py::test_binning_timeline_shift_trips_on_distribution_move",
    "tests/test_kll_store.py::test_binning_timeline_survives_compaction_and_guards",
    "tests/test_kll_store.py::test_served_mwu_within_sketch_bound",
    "tests/test_kll_store.py::test_served_w1_within_sketch_bound",
    "tests/test_oracle.py::test_oracle_match[q_curation_full]",
    "tests/test_oracle.py::test_oracle_match[q_duplicated_passages]",
    "tests/test_oracle.py::test_oracle_match[q_hash_walks]",
    "tests/test_oracle.py::test_oracle_match[q_jaccard_prefix_filter]",
    "tests/test_oracle.py::test_oracle_match[q_kmeans_embeddings]",
    "tests/test_oracle.py::test_oracle_match[q_leakage_safe_split]",
    "tests/test_oracle.py::test_oracle_match[q_media_jpeg]",
    "tests/test_oracle.py::test_oracle_match[q_pagerank_near_dup]",
    "tests/test_oracle.py::test_oracle_match[q_rowstore_roundtrip]",
    "tests/test_oracle.py::test_oracle_match[q_streaming_vocab_drift]",
    "tests/test_oracle.py::test_rows_only_runs[q_knn_ivf_recall]",
    "tests/test_oracle.py::test_rows_only_runs[q_knn_pq_recall]",
    "tests/test_oracle.py::test_rows_only_runs[q_streaming_kll_drift]",
    "tests/test_pyramid.py::test_pyramid_fuzz_matches_oracle",
    "tests/test_rowstore.py::test_compact_optimize_poison_cdc_window_not_prefix",
    "tests/test_rowstore.py::test_merge_into_conditional_clauses",
    "tests/test_rowstore.py::test_merge_upsert_bucket_rewrite",
    "tests/test_rowstore.py::test_schema_evolution_append_widens_and_null_fills",
    "tests/test_rowstore.py::test_stream_is_incremental",
    "tests/test_rowstore.py::test_stream_sink_end_to_end",
    "tests/test_rowstore.py::test_time_travel_snapshots_and_history",
    "tests/test_similarity.py::test_kmeans_training_improves_ivf_recall",
    "tests/test_similarity.py::test_opq_rotation_is_orthonormal_and_beats_plain_pq",
    "tests/test_temporal_property.py::test_episodes_match_python_reference",
    "tests/test_temporal_property.py::test_funnel_matches_python_reference",
    "tests/test_text_index.py::test_incremental_index_equals_oneshot_and_replays",
    "tests/test_tiles_property.py::test_parent_shift_equals_center_requantize",
    "tests/test_vocab.py::test_compaction_transparent_to_drift",
    "tests/test_vocab.py::test_drift_log_semantics",
    "tests/test_vocab.py::test_streaming_entry_point",
    "tests/test_window_freshness.py::test_every_stale_query_holds_a_window_slot",
    "tests/test_advanced_ops.py::test_cluster_representatives_policy",
    "tests/test_advanced_ops.py::test_connected_components_small_graph",
    "tests/test_advanced_ops.py::test_curation_v2_stage_semantics",
    "tests/test_advanced_ops.py::test_curriculum_buckets_partitions_evenly",
    "tests/test_advanced_ops.py::test_geofence_store_merge_replay_compact",
    "tests/test_advanced_ops.py::test_hash_walks_follow_edges_deterministically",
    "tests/test_advanced_ops.py::test_span_corruption_reconstructs",
    "tests/test_advanced_ops.py::test_stateful_streaming_counts",
    "tests/test_analytics_ops.py::test_incremental_dedup_statuses_consistent_with_pairs",
    "tests/test_analytics_ops.py::test_leakage_safe_split_keeps_pairs_together",
    "tests/test_analytics_ops.py::test_repetition_metrics_bounds_and_repeats",
    "tests/test_ann_store.py::test_drift_monitor_trips_on_distribution_shift",
    "tests/test_ann_store.py::test_opq_arm_codes_equal_one_shot_and_serve",
    "tests/test_ann_store.py::test_replay_and_compaction_preserve_codes_and_search",
    "tests/test_ann_store.py::test_streamed_codes_equal_one_shot_build",
    "tests/test_api.py::test_cli_index_merge_datacard_subcommands",
    "tests/test_api.py::test_cli_round5_subcommands",
    "tests/test_api.py::test_connectors_gate_cleanly",
    "tests/test_api.py::test_corpus_builder_composes_stages",
    "tests/test_api.py::test_fluent_smooth_stage",
    "tests/test_crawl.py::test_crawl_compaction_transparent_to_flagging",
    "tests/test_crawl.py::test_dedup_fusion_clusters_superset_signals",
    "tests/test_crawl.py::test_streamed_crawl_equals_direct_merges",
    "tests/test_drift_store.py::test_accumulated_equals_one_shot_value_table",
    "tests/test_drift_store.py::test_replayed_batch_is_noop",
    "tests/test_drift_store.py::test_served_statistics_bit_identical",
    "tests/test_entity.py::test_entity_stats_consistent",
    "tests/test_entity_store.py::test_replay_and_midstream_compaction",
    "tests/test_entity_store.py::test_streamed_assignment_equals_batch_er",
    "tests/test_formats.py::test_round_trip[csv]",
    "tests/test_formats.py::test_round_trip[orc]",
    "tests/test_formats.py::test_round_trip[xml]",
    "tests/test_graph_store.py::test_compaction_is_transparent_and_replay_safe",
    "tests/test_graph_store.py::test_latest_batch_supersedes_touched_nodes",
    "tests/test_graph_store.py::test_pre_norms_store_migrates_transparently",
    "tests/test_graph_store.py::test_search_recall_vs_exact",
    "tests/test_joinview.py::test_join_view_exactly_once_for_arbitrary_splits",
    "tests/test_media_kernels.py::test_bad_kernel_fails_loudly",
    "tests/test_media_kernels.py::test_injected_kernel_identical_output[media_decode_jpeg-decode]",
    "tests/test_media_kernels.py::test_video_frame_kernel_identical_output",
    "tests/test_oracle.py::test_oracle_match[q_cluster_representatives]",
    "tests/test_oracle.py::test_oracle_match[q_dedup_clusters]",
    "tests/test_oracle.py::test_oracle_match[q_dedup_fusion]",
    "tests/test_oracle.py::test_oracle_match[q_knn_rabitq]",
    "tests/test_oracle.py::test_oracle_match[q_media_ingest]",
    "tests/test_oracle.py::test_oracle_match[q_rowstore_cdc_evolution]",
    "tests/test_oracle.py::test_oracle_match[q_rowstore_stream]",
    "tests/test_oracle.py::test_oracle_match[q_rowstore_stream_sink]",
    "tests/test_oracle.py::test_oracle_match[q_semantic_dedup]",
    "tests/test_oracle.py::test_oracle_match[q_streaming_duplicated_passages]",
    "tests/test_oracle.py::test_oracle_match[q_streaming_entity_resolution]",
    "tests/test_oracle.py::test_oracle_match[q_streaming_incremental_dedup]",
    "tests/test_oracle.py::test_oracle_match[q_streaming_join]",
    "tests/test_oracle.py::test_oracle_match[q_streaming_tile_retraction]",
    "tests/test_oracle.py::test_oracle_match[q_streaming_tile_store]",
    "tests/test_oracle.py::test_oracle_match[q_tile_store_serving]",
    "tests/test_oracle.py::test_rows_only_runs[q_bpe_token_counts]",
    "tests/test_oracle.py::test_rows_only_runs[q_knn_graph_recall]",
    "tests/test_oracle.py::test_rows_only_runs[q_knn_ivfpq_opq_recall]",
    "tests/test_oracle.py::test_rows_only_runs[q_knn_ivfpq_recall]",
    "tests/test_oracle.py::test_rows_only_runs[q_knn_opq_recall]",
    "tests/test_oracle.py::test_rows_only_runs[q_streaming_ann_index]",
    "tests/test_oracle.py::test_rows_only_runs[q_streaming_ann_opq]",
    "tests/test_oracle.py::test_rows_only_runs[q_streaming_graph_ann]",
    "tests/test_passages.py::test_compaction_crash_between_marker_and_gc_never_double_counts",
    "tests/test_passages.py::test_remove_duplicated_passages_invariants",
    "tests/test_passages.py::test_replay_and_midhistory_compaction",
    "tests/test_passages.py::test_streamed_passages_equal_batch",
    "tests/test_passages_property.py::test_flag_and_removal_match_reference",
    "tests/test_rowstore.py::test_optimize_multi_column_zorder_prunes_both_dimensions",
    "tests/test_rowstore.py::test_stream_rate_limit_bounds_catchup_batches",
    "tests/test_similarity.py::test_graph_beam_search_filtered_slice",
    "tests/test_similarity.py::test_graph_beam_search_properties",
    "tests/test_similarity.py::test_ivfpq_index_and_recall_dial",
    "tests/test_similarity.py::test_ivfpq_opq_compose",
    "tests/test_similarity.py::test_pq_roundtrip_and_recall",
    "tests/test_similarity.py::test_rabitq_estimator_dominates_hamming",
    "tests/test_temporal_property.py::test_merge_upsert_matches_python_reference",
    "tests/test_tile_store.py::test_partitioned_store_equals_batch_and_prunes",
    "tests/test_tile_store.py::test_partitioned_store_retraction_and_full_cancellation",
    "tests/test_tile_store.py::test_point_resultset_read_matches_batch",
    "tests/test_tile_store.py::test_streamed_store_equals_batch_pyramid",
    "tests/test_tile_store.py::test_vacuum_keeps_latest_versions_readable",
    "tests/test_tiles_property.py::test_tile_id_property",
}


def pytest_collection_modifyitems(config, items):
    for item in items:
        if item.nodeid in SLOW_TESTS:
            item.add_marker(pytest.mark.slow)
