"""The SLOW test tier (optimization round 17, VERDICT-r16 item 2).

The full suite grew to 716 tests / ~31 min on a quiet box (~65 min on
the loaded box of the round-16 driver run, which CUT OFF at ~65% and
reported tests_ok=false without a single failure). The driver's
verification window must see a COMPLETED run, so the tests measured
at >= 5 s each (one full-suite --durations=0 sweep, committed in the
round log) are skipped by default and run with `--runslow` (or
SPARK_GRAFT_RUN_SLOW=1) — the builder's end-of-round protocol always
uses the full tier. Default tier: ~12 min here, fits a 2x-slower box.
Every skipped test remains the authority for what it pins; the
driver's own DuckDB oracle replays the query surface regardless.
"""

from __future__ import annotations

from pathlib import Path


def run_slow_from_env(value: str | None) -> bool:
    """``SPARK_GRAFT_RUN_SLOW`` enables the slow tier only when set to
    1/true/yes (any case); unset, empty, ``0`` and ``false`` keep it
    skipped."""
    return (value or "").strip().lower() in ("1", "true", "yes")


def named_node_ids(args, invocation_dir: Path, root: Path) -> set[str]:
    """The node ids named in full (``path::name``) among the command-line
    ``args``, rewritten relative to ``root``. A slow test named this way
    runs without ``--runslow``."""
    named = set()
    for arg in args:
        path, sep, rest = str(arg).partition("::")
        if not sep:
            continue
        try:
            rel = (Path(invocation_dir) / path).resolve().relative_to(
                Path(root).resolve()
            )
        except ValueError:
            continue
        named.add(f"{rel.as_posix()}::{rest}")
    return named


SLOW_TESTS = frozenset({
    "tests/test_empty_inputs.py::test_every_query_runs_on_empty_tables",
    "tests/test_empty_inputs.py::test_every_query_runs_on_one_row_tables",
    "tests/test_operators.py::test_asof_salted_equals_unsalted",
    "tests/test_operators.py::test_bm25_pruned_parity",
    "tests/test_operators.py::test_budget_prefix_select_rejects_fractional_weights",
    "tests/test_operators.py::test_budget_prefix_select_vs_bruteforce",
    "tests/test_operators.py::test_budget_prefix_select_wide_domain_and_nan",
    "tests/test_operators.py::test_connected_components_incremental_merges_old_components",
    "tests/test_operators.py::test_connected_components_reliable_checkpoint_parity",
    "tests/test_operators.py::test_connected_components_star_beats_minlabel_on_path",
    "tests/test_operators.py::test_connected_components_star_matches_minlabel_on_clusters",
    "tests/test_operators.py::test_edge_table_pagerank_parity_and_shuffle",
    "tests/test_operators.py::test_hillshade_flat_and_slope_direction",
    "tests/test_operators.py::test_ivf_assign_arrow_parity",
    "tests/test_operators.py::test_ivf_broadcast_path_matches_expr_path",
    "tests/test_operators.py::test_ivf_index_persistence_parity_and_pruning",
    "tests/test_operators.py::test_ivf_pq_degrades_to_exhaustive_pq",
    "tests/test_operators.py::test_ivf_pq_index_append_parity",
    "tests/test_operators.py::test_ivf_pq_index_parity_pruning_and_compression",
    "tests/test_operators.py::test_ivf_pq_narrowed_probe_recall_floor",
    "tests/test_operators.py::test_ivf_two_level_probe_all_matches_flat",
    "tests/test_operators.py::test_kmeanspp_seeding_deterministic_and_probe_all_exact",
    "tests/test_operators.py::test_minhash_lsh_arrow_expr_parity",
    "tests/test_operators.py::test_negative_samples_deterministic_and_bounded",
    "tests/test_operators.py::test_new_operators_tolerate_empty_inputs",
    "tests/test_operators.py::test_pca_space_topk_recall_monotone_in_k",
    "tests/test_operators.py::test_poisson_multiplicity_folds_high_id_bits",
    "tests/test_operators.py::test_pq_refinement_reduces_error",
    "tests/test_operators.py::test_rebuild_corpus_stats_counts_zero_token_docs",
    "tests/test_operators.py::test_rebuild_corpus_stats_recovers_sidecar",
    "tests/test_operators.py::test_semdedup_append_guard_matches_oneshot_when_history_hot",
    "tests/test_operators.py::test_shard_payload_blobs_golden",
    "tests/test_operators.py::test_shingle_pairs_table_matches_expression_form",
    "tests/test_operators.py::test_simhash_hot_bucket_cap",
    "tests/test_operators.py::test_simhash_near_dup_blocked_equals_bruteforce",
    "tests/test_operators.py::test_term_index_append_parity",
    "tests/test_operators.py::test_term_index_empty_corpus_bootstrap",
    "tests/test_operators.py::test_trained_coarse_probe_all_matches_flat_and_is_deterministic",
    "tests/test_oracle_parity.py::test_query_matches_oracle[dedup_cluster_collapse_incremental]",
    "tests/test_oracle_parity.py::test_query_matches_oracle[dedup_embedding_cosine]",
    "tests/test_oracle_parity.py::test_query_matches_oracle[dedup_levenshtein]",
    "tests/test_oracle_parity.py::test_query_matches_oracle[pipe_end_to_end_v7]",
    "tests/test_oracle_parity.py::test_query_matches_oracle[sim_ivf_trained_serving]",
    "tests/test_oracle_parity.py::test_query_matches_oracle[sim_topk_from_ivf_index]",
    "tests/test_oracle_parity.py::test_query_matches_oracle[sim_topk_ivf_pq]",
    "tests/test_oracle_parity.py::test_query_matches_oracle[sim_topk_ivf_pq_from_index]",
    "tests/test_oracle_parity.py::test_query_matches_oracle[text_viterbi_segment]",
    "tests/test_oracle_parity.py::test_query_matches_oracle[text_viterbi_weighted]",
    "tests/test_plans.py::test_registry_wide_plan_floors",
    "tests/test_properties.py::test_budget_prefix_select_matches_greedy_property",
    "tests/test_properties.py::test_char_shingles_fractional_equals_resolved_absolute",
    "tests/test_properties.py::test_copurchase_cap_is_sound_subset",
    "tests/test_properties.py::test_global_rank_permutation_property",
    "tests/test_properties.py::test_pack_sequences_invariants",
    "tests/test_properties.py::test_pagerank_mass_and_positivity",
    "tests/test_properties.py::test_substring_spans_bounds",
    "tests/test_properties.py::test_tmerc_roundtrip_property",
    "tests/test_sources.py::test_bloom_manifest_point_lookup",
    "tests/test_sources.py::test_python_datasource_catalog_reads_and_schema",
    "tests/test_sources.py::test_python_datasource_streaming_tail",
    "tests/test_streaming.py::test_compaction_with_stats_skipping",
    "tests/test_streaming.py::test_ingest_store_compaction_preserves_probe",
    "tests/test_streaming.py::test_ingest_store_prefix_bucketing_prunes_probe",
    "tests/test_streaming.py::test_materialize_shards_matches_v9",
    "tests/test_streaming.py::test_media_compaction_auto_major",
    "tests/test_streaming.py::test_media_ingest_dp_meta_lifecycle",
    "tests/test_streaming.py::test_media_ingest_duplicate_id_redelivery",
    "tests/test_streaming.py::test_media_ingest_inline_compaction",
    "tests/test_streaming.py::test_media_ingest_two_tier_semantic_verify",
    "tests/test_streaming.py::test_media_store_compaction_and_vacuum",
    "tests/test_streaming.py::test_stats_skipping_preserves_hive_partition_columns",
    "tests/test_streaming.py::test_streaming_chunk_dedup_ingest_pack_exactly_once",
    "tests/test_streaming.py::test_streaming_ivf_index_maintenance",
    "tests/test_streaming.py::test_streaming_ivf_pq_index_maintenance",
    "tests/test_streaming.py::test_streaming_media_neardup_ingest",
    "tests/test_streaming.py::test_streaming_semantic_decon_ingest",
    "tests/test_streaming.py::test_streaming_term_index_maintenance",
})
