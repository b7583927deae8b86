import os

import pytest

os.environ.setdefault("SPARK_GRAFT_CPUS", "4")

from judy_graph_db_spark.session import get_spark

# ---------------------------------------------------------------------------
# Slow-test gate (r15, VERDICT r14 item 1): the full suite outgrew the
# driver's verify budget (659 tests / ~39 min; the r14 record shows a
# timeout cut at ~70% with zero failures). Tests measured >= 8s in the
# round-start full run are opt-in: `--runslow` or SPARK_GRAFT_SLOW=1 runs
# everything (the builder's end-of-round full run does exactly that; the
# driver's default run stays ~13 min). Coverage is unchanged — the same
# assertions run under the opt-in flag, and the oracle gates these heavy
# tests mirror are ALSO re-checked by the driver's own
# scripts/check_oracle.py pass (CORRECTNESS_r*.json, all 50 gates).
# Keyed by (file basename, test name incl. params) so the gate is
# independent of the pytest invocation directory.
SLOW_TESTS = frozenset({
    ("test_analytics.py", "test_betweenness_centrality"),
    ("test_analytics.py", "test_betweenness_sampled"),
    ("test_analytics.py", "test_connected_components_long_chain_converges_fast"),
    ("test_analytics.py", "test_edge_betweenness_sampled"),
    ("test_analytics.py", "test_girvan_newman_method_dispatch"),
    ("test_analytics.py", "test_girvan_newman_modularity_peak"),
    ("test_analytics.py", "test_girvan_newman_sampled_matches_exact_sequence"),
    ("test_analytics.py", "test_greedy_coloring"),
    ("test_analytics.py", "test_greedy_modularity_finds_cliques"),
    ("test_analytics.py", "test_greedy_modularity_improves_over_singletons"),
    ("test_analytics.py", "test_msf_distributed_contraction_branch_equivalent"),
    ("test_analytics.py", "test_onion_layers"),
    ("test_analytics.py", "test_pivot_sigma_bfs_deep_chain_collapses_seen"),
    ("test_analytics.py", "test_scc_coloring_matches_closure_on_random_graphs"),
    ("test_analytics.py", "test_trussness"),
    ("test_clustering.py", "test_pq_pipeline_matches_twin_and_recalls_query"),
    ("test_entry_oracle.py", "test_query_matches_oracle[ann_search]"),
    ("test_entry_oracle.py", "test_query_matches_oracle[chunk_shard_ops]"),
    ("test_entry_oracle.py", "test_query_matches_oracle[connected_components]"),
    ("test_entry_oracle.py", "test_query_matches_oracle[corpus_curation]"),
    ("test_entry_oracle.py", "test_query_matches_oracle[dedup_docs]"),
    ("test_entry_oracle.py", "test_query_matches_oracle[degree_histogram]"),
    ("test_entry_oracle.py", "test_query_matches_oracle[events_hourly_batch_stream]"),
    ("test_entry_oracle.py", "test_query_matches_oracle[graph_similarity]"),
    ("test_entry_oracle.py", "test_query_matches_oracle[k_core_nodes]"),
    ("test_entry_oracle.py", "test_query_matches_oracle[label_communities]"),
    ("test_entry_oracle.py", "test_query_matches_oracle[link_analysis]"),
    ("test_entry_oracle.py", "test_query_matches_oracle[neardup_pairs]"),
    ("test_entry_oracle.py", "test_query_matches_oracle[pagerank_ranks]"),
    ("test_entry_oracle.py", "test_query_matches_oracle[pattern_1hop_matrix]"),
    ("test_entry_oracle.py", "test_query_matches_oracle[point_lookups]"),
    ("test_entry_oracle.py", "test_query_matches_oracle[sampling_ops]"),
    ("test_entry_oracle.py", "test_query_matches_oracle[stats_ops]"),
    ("test_entry_oracle.py", "test_query_matches_oracle[temporal_ops]"),
    ("test_entry_oracle.py", "test_query_matches_oracle[triangle_count]"),
    ("test_entry_oracle.py", "test_query_matches_oracle[var_length_paths]"),
    ("test_manifest.py", "test_manifest_ops_match_live_gate[pattern_1hop_matrix]"),
    ("test_motif.py", "test_match_motif_cost_seeded_segment_order"),
    ("test_pipeline_ops.py", "test_ivf_pq_topk"),
    ("test_properties.py", "test_insert_then_delete_roundtrip"),
    ("test_properties.py", "test_k_truss_support_invariant_and_core_containment"),
    ("test_properties.py", "test_mis_independent_and_maximal_random"),
    ("test_properties.py", "test_msf_spans_components_acyclically"),
    ("test_properties.py", "test_several_equals_union_of_fixed_hops"),
    ("test_properties.py", "test_undirected_superset_of_directed"),
    ("test_properties.py", "test_union_overwrite_right_wins"),
    ("test_streaming.py", "test_funnel_stream_matches_batch"),
    ("test_streaming.py", "test_sessionize_stream_closes_sessions"),
    ("test_streaming.py", "test_streaming_neardup_compaction"),
    ("test_streaming.py", "test_streaming_neardup_equal_batch"),
    ("test_streaming.py", "test_streaming_scd2_equal_sequential_batch_merges"),
    ("test_temporal.py", "test_scd2_merge"),
    ("test_temporal.py", "test_scd2_merge_tombstones"),
    ("test_temporal.py", "test_time_respecting_reachability"),
    ("test_unigram.py", "test_segment_oracle_matches_duckdb"),
    ("test_warc.py", "test_streaming_web_corpus_compaction"),
    ("test_warc.py", "test_streaming_web_corpus_matches_batch_funnel"),
    ("test_adjacency.py", "test_adjacent_nodes_by_attr"),
    ("test_analytics.py", "test_betweenness_sources_routes_to_pivot_pass"),
    ("test_analytics.py", "test_edge_betweenness_sources_routes_to_pivot_pass"),
    ("test_curation.py", "test_pps_systematic_sample"),
    ("test_cypher.py", "test_shortest_paths_strategy_branches_agree_on_cycle"),
    ("test_entry_oracle.py", "test_query_matches_oracle[pattern_2hop]"),
    ("test_entry_oracle.py", "test_query_matches_oracle[persisted_roundtrip]"),
    ("test_manifest.py", "test_manifest_ops_match_live_gate[var_length_paths]"),
    ("test_streaming.py", "test_neardup_store_file_scheme_uri"),
    ("test_streaming.py", "test_streaming_mg_fold_bound_holds"),
    ("test_streaming.py", "test_streaming_scd2_compaction"),
    ("test_temporal.py", "test_time_respecting_reachability_matches_oracle"),
    ("test_warc.py", "test_streaming_web_corpus_repairs_lost_corpus_slice"),
    ("test_wordpiece.py", "test_wordpiece_emit_twin_agreement"),
})


def pytest_addoption(parser):
    parser.addoption(
        "--runslow", action="store_true", default=False,
        help="run slow tests too (equivalent: SPARK_GRAFT_SLOW=1)")


def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        "slow: multi-second equivalence test, opt-in via --runslow or "
        "SPARK_GRAFT_SLOW=1")


def pytest_collection_modifyitems(config, items):
    if config.getoption("--runslow") or \
            os.environ.get("SPARK_GRAFT_SLOW") == "1":
        return
    skip = pytest.mark.skip(
        reason="slow; opt in with --runslow or SPARK_GRAFT_SLOW=1")
    for item in items:
        if (item.fspath.basename, item.name) in SLOW_TESTS \
                or item.get_closest_marker("slow") is not None:
            item.add_marker(skip)


@pytest.fixture(scope="session")
def spark():
    s = get_spark("judy-tests", shuffle_partitions=4)
    yield s
