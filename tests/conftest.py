from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from delta_lake_pyspark_scd2_spark.session import get_spark  # noqa: E402

SF_SMALL = "/root/testdata/sf0.001"

# Suite tiering (round-11, round-10 VERDICT #2): one sequential run of
# all 494 tests takes ~50 minutes — longer than the driver's
# verification window, which cut the round-10 run at ~66% and left the
# tree unverified. The tests below (each measured >= ~10 s in a full
# timed run, together ~36 of those minutes) form the `slow` tier,
# deselected by default via ``addopts = -m "not slow"`` in
# pyproject.toml so the default suite finishes in well under 15
# minutes. NOTHING is deleted: run the long tier with
#     python -m pytest tests/ -m slow
# and full coverage = default tier + slow tier (both are kept green;
# see OPTIMIZATION_r11.md for the round-end runs of each).
_SLOW_TESTS = {
    "test_align_intervals.py::test_inner_matches_naive_overlap_join",
    "test_bench_tools.py::test_corpus_report_sections",
    "test_bench_tools.py::test_daily_bench_rebuild_smoke",
    "test_bench_tools.py::test_partitioning_bench_smoke",
    "test_bench_tools.py::test_schema_evolution_bench_smoke",
    "test_bench_tools.py::test_volume_bench_smoke",
    "test_bpe.py::test_bpe_roundtrip_property",
    "test_broadcast_bounds.py::test_tpch_forced_broadcasts_are_bounded",
    "test_bt_stream.py::test_checkpoint_reset_fails_loud",
    "test_bt_stream.py::test_txn_replay_is_noop_for_fold",
    "test_classifier.py::test_learns_separable_task",
    "test_classifier.py::test_quality_filter_beats_baseline",
    "test_classifier.py::test_sampled_training_agrees_with_full",
    "test_clustering.py::test_kcenter_oversampled_quality_and_determinism",
    "test_clustering.py::test_kcenter_oversampled_separated_cones",
    "test_clustering.py::test_kmeans_empty_cluster_keeps_previous_centroid",
    "test_clustering.py::test_kmeans_recovers_separated_cones",
    "test_cms_stream.py::test_stream_sketch_equals_whole_corpus_sketch",
    "test_corpus_ingest.py::test_bloom_prefilter_heals_stale_bloom_from_cdf",
    "test_corpus_ingest.py::test_bloom_prefilter_matches_exact_path_and_skips_fresh_batches",
    "test_corpus_ingest.py::test_containment_on_legacy_store_fails_loud",
    "test_corpus_ingest.py::test_containment_rejects_excerpt_against_stored_corpus",
    "test_corpus_ingest.py::test_containment_rejects_excerpt_within_batch",
    "test_corpus_ingest.py::test_containment_store_exactly_once_under_replay",
    "test_corpus_ingest.py::test_plain_ingest_into_containment_store_keeps_shingles",
    "test_corpus_ingest.py::test_reingesting_same_batch_accepts_nothing",
    "test_corpus_ingest.py::test_second_batch_dedups_against_store",
    "test_corpus_ingest.py::test_txn_heals_corpus_committed_fp_crashed_window",
    "test_dtype_sweep.py::test_registry_oracles_strict_dtypes",
    "test_dtype_sweep.py::test_rows_only_queries_have_no_temporal_outputs",
    "test_fsck.py::test_fsck_cli_exit_codes",
    "test_generators_metrics.py::test_run_metrics_roundtrip",
    "test_incremental.py::test_any_change_sequence_keeps_aggregate_exact",
    "test_incremental.py::test_streaming_aggregate_maintenance_exactly_once",
    "test_llm_operators.py::test_adopted_ivfpq_composed_clears_recall_bar",
    "test_llm_operators.py::test_ppm_resize_box_known_values",
    "test_llm_operators.py::test_pq_trained_contract_jvm_encode_matches_python_reference",
    "test_llm_operators.py::test_semantic_dedup_keep_rules",
    "test_plan_audits.py::test_no_cartesian_products_anywhere",
    "test_plan_drift.py::test_headline_plans_match_baseline",
    "test_purge.py::test_purge_on_upsert_table",
    "test_reference_parity.py::test_reference_items_full_batch_counts",
    "test_scale_techniques.py::test_upsert_hot_key_target_matches_dict_replay",
    "test_scd2_operators.py::test_asof_join_hot_probe_key_matches_brute_force",
    "test_scd2_properties.py::test_any_batching_converges_to_ground_truth",
    "test_scd2_properties.py::test_upsert_sequence_equals_dict_replay",
    "test_semantic_stream.py::test_stream_pairs_equal_sequential_operator",
    "test_semantic_stream.py::test_stream_rerun_same_checkpoint_is_noop",
    "test_span_dedup_properties.py::test_span_ops_match_naive_model",
    "test_streaming.py::test_deduped_stream_drops_cross_batch_duplicates",
    "test_streaming.py::test_interval_joined_stream_matches_batch_and_crosses_files",
    "test_streaming.py::test_scd2_stream_matches_batch_pipeline",
    "test_streaming.py::test_scd2_stream_out_of_order_files_converge",
    "test_streaming.py::test_sessionize_stream_matches_batch",
    "test_streaming.py::test_stream_static_enrichment_matches_batch",
    "test_streaming.py::test_windowed_agg_incremental_restart",
    "test_table_properties.py::test_auto_compact_off_accumulates",
    "test_table_properties.py::test_create_with_properties_and_register_view",
    "test_table_properties.py::test_replace_partitions_rebases_over_disjoint_commit",
    "test_table_properties.py::test_set_unset_property_roundtrip",
    "test_table_properties.py::test_vacuum_dry_run_reports_without_deleting",
    "test_txn_time_travel.py::test_mixed_write_storm_no_lost_updates",
    "test_vtable_model_fuzz.py::test_random_op_sequences_match_model",
    "test_vtable_stream.py::test_replication_converges_to_source",
    "test_vtable_stream.py::test_stream_delivers_versions_incrementally",
    # second band (each ~6-10 s): added after the first fast-tier run
    # timed 16:31 — together ~5 min, bringing the default tier to
    # ~11 min with margin for a slower driver box
    "test_bt_stream.py::test_stream_ratings_equal_batch_operator",
    "test_classifier.py::test_auc_known_values_and_ties",
    "test_corpus_ingest.py::test_keep_best_survivor_is_higher_quality_twin",
    "test_corpus_ingest.py::test_streaming_ingest_matches_batch",
    "test_differential_fuzz.py::test_random_query_matches_duckdb",
    "test_graph.py::test_components_match_union_find",
    "test_identity_columns.py::test_identity_semantics_through_upsert",
    "test_ingestion.py::test_cli_end_to_end",
    "test_llm_operators.py::test_adopted_pq_config_clears_recall_bar",
    "test_llm_operators.py::test_cluster_balanced_sample_caps_and_centrality",
    "test_llm_operators.py::test_ivf_multiprobe_recall_monotone",
    "test_llm_operators.py::test_ivf_topk_sweep_matches_per_nprobe_runs",
    "test_llm_operators.py::test_ivfpq_composes_and_recalls",
    "test_llm_operators.py::test_ivfpq_index_extends_incrementally",
    "test_llm_operators.py::test_ivfpq_persisted_index_matches_inflight",
    "test_llm_operators.py::test_pq_quantization_recall_and_determinism",
    "test_llm_operators.py::test_time_bucket_gapfill_modes",
    "test_mixture.py::test_deterministic_and_monotone",
    "test_purge.py::test_purge_erases_user_from_every_retained_version",
    "test_purge.py::test_purge_scrubs_cdf_history",
    "test_ranking.py::test_matches_global_window_with_ties",
    "test_reference_parity.py::test_reference_golden_history_Y02103210",
    "test_scd2_pipeline.py::test_late_rerun_idempotent",
    "test_scd2_pipeline.py::test_hot_key_merge_counts_and_invariants",
    "test_scd2_pipeline.py::test_vtable_check_constraints",
    "test_scd2_pipeline.py::test_vtable_generic_upsert",
    "test_scd2_pipeline.py::test_vtable_restore",
    "test_scd2_pipeline.py::test_vtable_shallow_clone_is_independent",
    "test_scd2_pipeline.py::test_vtable_vacuum_retention",
    "test_shard_export.py::test_export_token_shards_respects_budget",
    "test_sketches.py::test_cms_never_underestimates_on_random_corpora",
    "test_sketches.py::test_word_counts_matches_python_counter",
    "test_streaming.py::test_windowed_agg_matches_batch",
    "test_table_properties.py::test_auto_compact_bounds_file_count",
    "test_table_properties.py::test_auto_compact_only_touches_appended_partition",
    "test_table_properties.py::test_concurrent_scd2_merges_different_days_both_land",
    "test_table_properties.py::test_vacuum_sweeps_orphans_with_grace",
    "test_vtable_stream.py::test_vacuum_sweeps_unreferenced_cdc_dirs",
}


def pytest_collection_modifyitems(config, items):
    modules = {}
    for item in items:
        base = getattr(item, "originalname", None) or item.name
        if f"{item.fspath.basename}::{base}" in _SLOW_TESTS:
            item.add_marker(pytest.mark.slow)
        if getattr(item, "module", None) is not None:
            modules[item.fspath.basename] = item.module
    # a renamed or deleted test must leave the tier list too: an id
    # naming a missing file, or a collected file without that test,
    # would otherwise silently stop tiering anything
    here = os.path.dirname(os.path.abspath(__file__))
    stale = []
    for t in sorted(_SLOW_TESTS):
        fname, test = t.split("::")
        if not os.path.exists(os.path.join(here, fname)) or (
            fname in modules and not hasattr(modules[fname], test)
        ):
            stale.append(t)
    if stale:
        raise pytest.UsageError(f"_SLOW_TESTS names no such test: {stale}")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_SMALL
