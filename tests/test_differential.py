"""DuckDB differential test over the full query registry — the local
mirror of the driver's t2 correctness gate (SURVEY.md §5.1).

Every registered query runs in Spark and (when it has an oracle) in
DuckDB on the same parquet; results must match string-exactly after
normalization. Rows-only queries must at least execute and return a
stable schema.

Default scale factor is sf0.01 — the same the driver grades at;
override with DIFF_SF_DIR=/root/testdata/sf0.001 for a fast pass.
"""

from __future__ import annotations

import pytest

from ruleset_analysis_spark.plans.registry import all_specs

from conftest import SF_DIR

SPECS = all_specs()


@pytest.mark.parametrize("name", sorted(SPECS))
def test_query_matches_oracle(name, spark, duck):
    spec = SPECS[name]
    from ruleset_analysis_spark.oracle import compare

    df = spec.builder(spark, SF_DIR)
    result = compare(name, df, duck, spec.oracle)
    assert result.ok, str(result)
    if spec.oracle is None:
        # rows-only: demand a non-degenerate result shape
        assert len(df.columns) > 0


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0


def test_registry_subset_of_survey_inventory():
    """SURVEY.md §2 is the BINDING operator inventory (§0 provenance):
    a query registered in code but undeclared there is a contract leak
    in the wrong direction (the r4 verdict caught two). Every registry
    key must appear as a backticked token inside §2."""
    import re
    from pathlib import Path

    survey = Path(__file__).resolve().parent.parent / "SURVEY.md"
    text = survey.read_text()
    lo = text.index("## §2.")
    hi = text.index("## §3.")
    declared = set(re.findall(r"`([a-z0-9_]+)`", text[lo:hi]))
    undeclared = sorted(set(SPECS) - declared)
    assert not undeclared, (
        f"registry keys missing from SURVEY.md §2 (binding inventory): "
        f"{undeclared}"
    )


def test_contract_shape():
    import __spark_entry__ as e

    q = e.queries()
    o = e.oracle_sql()
    assert set(o) <= set(q)
    assert len(q) >= 60
    # every oracle references only pre-registered views (smoke: non-empty SQL)
    assert all(s.strip() for s in o.values())


# Every name here holds an r1-r6 driver record (hash-green or
# declared rows-only) and may safely sit outside the round-7 witness
# window. Regenerate ONLY when a round's verdict confirms new green
# records. Round-6 update: CORRECTNESS_r06 recorded the full 50-entry
# r6 window green (zero red), so the 27 r5 late additions — the last
# never-witnessed names — are appended below; the set now covers the
# whole 260-name registry.
WITNESSED_R1_R6 = frozenset((
    # the 27 r5 late additions, first witnessed green in r6
    "graph_degree_distribution", "agg_skewness_kurtosis",
    "text_ngram_novelty", "firewall_policy_diff",
    "event_changepoint_cusum", "sample_importance_weighted",
    "agg_welch_ttest", "scan_csv_malformed_policy",
    "agg_chi2_independence", "curation_temperature_mix",
    "window_median_moving", "agg_mann_whitney_u",
    "event_dau_mau_stickiness", "agg_ks_test",
    "agg_benford_deviation", "agg_gini_coefficient",
    "udtf_table_arg_grouped", "scan_partition_overwrite_dynamic",
    "agg_autocorrelation_lag1", "event_ohlc_bars",
    "join_scd2_point_in_time", "udf_iter_pandas",
    "event_interarrival_burstiness", "stream_exec_sliding",
    "event_cohort_revenue_ltv", "embed_drift_split_centroids",
    "text_vocab_growth",
    "agg_bitmap_distinct",
    "agg_bitmap_overlap",
    "agg_countmin_sketch",
    "agg_decimal_money",
    "agg_filtered_conditional",
    "agg_grouping_sets_explicit",
    "agg_heavy_hitters_topk",
    "agg_min_max_by",
    "agg_mode_per_group",
    "agg_pareto_concentration",
    "agg_rfm_segmentation",
    "agg_unpivot_melt",
    "corpus_quality_filter",
    "curation_mix_weights",
    "dedup_cluster_components",
    "dedup_cluster_representatives",
    "dedup_containment",
    "dedup_embedding_cosine",
    "dedup_exact",
    "dedup_minhash_estimate",
    "dedup_near_minhash",
    "dedup_ngram_jaccard",
    "dedup_simhash",
    "dedup_weighted_jaccard",
    "doc_chunk_fixed_tokens",
    "embed_array_stats",
    "embed_centroid_per_label",
    "embed_knn_classify",
    "embed_quantize_int8",
    "event_anomaly_mad",
    "event_cdc_upsert",
    "event_concurrency_sweep",
    "event_interpolate_linear",
    "event_path_3gram",
    "event_scd2_intervals",
    "event_time_weighted_avg",
    "event_transition_matrix",
    "firewall_cidr_match",
    "firewall_rule_hits",
    "firewall_rule_staleness",
    "firewall_unused_rules",
    "funnel_ordered_steps",
    "graph_link_prediction",
    "graph_triangle_count",
    "join_asof_backward",
    "join_broadcast",
    "join_cooccur_baskets",
    "join_cross",
    "join_full_outer",
    "join_fuzzy_blocked",
    "join_inner_equi",
    "join_left_anti",
    "join_left_outer",
    "join_left_semi",
    "join_multiway",
    "join_null_safe_eq",
    "join_range_bucketed",
    "join_salted_skew",
    "join_self_asof",
    "join_theta_range",
    "json_extract",
    "json_variant_extract",
    "map_funcs",
    "multimodal_audio_energy",
    "multimodal_binary_features",
    "multimodal_frame_sample",
    "multimodal_join",
    "multimodal_resize",
    "pack_greedy_bins",
    "profile_corpus_columns",
    "recursive_hierarchy_walk",
    "retention_cohorts",
    "rule_usage_report",
    "sample_hash_deterministic",
    "sample_stratified_hash",
    "sample_topk_reservoir",
    "scan_schema_validate",
    "setop_except",
    "setop_except_all",
    "setop_intersect",
    "setop_intersect_all",
    "setop_union_all",
    "setop_union_distinct",
    "sim_ann_lsh",
    "sim_cosine_topk",
    "sim_pairwise_bucketed",
    "sim_pairwise_threshold",
    "sort_multi_key",
    "stream_late_data_policy",
    "stream_lateness_histogram",
    "stream_rollup_multires",
    "stream_session_window",
    "stream_sliding_window",
    "stream_tumbling_window",
    "subquery_correlated_avg",
    "subquery_exists",
    "subquery_lateral_topn",
    "subquery_not_in_null_safe",
    "subquery_scalar_agg",
    "text_bigram_surprisal",
    "text_collocations_lift",
    "text_contamination_ngram",
    "text_diversity_simpson",
    "text_fingerprint",
    "text_lang_stats",
    "text_langid_heuristic",
    "text_normalize",
    "text_pii_redact",
    "text_quality_score",
    "text_rarity_score",
    "text_repetition_ratio",
    "text_rolling_fingerprint",
    "text_tfidf_topterms",
    "text_token_count",
    "text_tokenize_counts",
    "text_zipf_slope",
    "tpch_q10_returned_items",
    "tpch_q11_important_stock",
    "tpch_q13_order_distribution",
    "tpch_q14_promo_revenue",
    "tpch_q15_top_supplier",
    "tpch_q16_supplier_variety",
    "tpch_q17_small_qty_revenue",
    "tpch_q18_large_orders",
    "tpch_q19_bracket_revenue",
    "tpch_q1_pricing_summary",
    "tpch_q20_promo_suppliers",
    "tpch_q21_waiting_suppliers",
    "tpch_q22_dormant_accounts",
    "tpch_q2_min_cost_supplier",
    "tpch_q3_shipping_priority",
    "tpch_q4_priority_check",
    "tpch_q5_local_supplier",
    "tpch_q6_forecast_revenue",
    "tpch_q7_volume_shipping",
    "tpch_q8_market_share",
    "tpch_q9_product_profit",
    "udaf_grouped_pandas",
    "udf_scalar_pandas",
    "udf_sql_scalar",
    "udtf_python_native",
    "udtf_split_props",
    "window_cumulative_reach",
    "window_ewma",
    "window_first_last",
    "window_gaps_islands",
    "window_lag_lead",
    "window_moving_avg_range",
    "window_ntile_cume",
    "window_percent_dense",
    "window_rank_topk_per_group",
    "window_rate_limit_quota",
    "window_running_sum",
    # the 30 refresh entries (r1 green records, inside the r5 list)
    "scan_parquet", "scan_predicate_pushdown", "scan_projection_pushdown",
    "project_arithmetic", "filter_equality", "filter_conjunction",
    "filter_range", "filter_null_handling", "agg_count_by_key",
    "agg_multi", "agg_count_distinct", "agg_distinct_rows", "agg_having",
    "agg_grouping_sets", "agg_cube", "agg_stddev_percentile",
    "agg_collect_sorted", "agg_corr_covar", "agg_histogram", "agg_pivot",
    "date_funcs", "math_funcs", "conditional_case", "string_funcs",
    "string_like", "string_regex_extract", "string_distance",
    "array_funcs", "array_explode", "date_series_gapfill",
    # the 50-entry round-5 window, all green in CORRECTNESS_r05
    "tpch_q12_late_shipments", "join_asof_forward",
    "agg_exact_percentiles_grouped", "limit_topk",
    "embed_kmeans_clusters", "embed_pca_project",
    "graph_pagerank_cooccur", "scan_partition_pruning",
    "scan_csv_roundtrip", "scan_jsonl_roundtrip",
    "agg_linear_regression", "doc_chunk_overlap",
    "firewall_shadowed_rules", "curation_sample_apply",
    "funnel_conversion_lag", "multimodal_dhash_fingerprint",
    "agg_approx_count_distinct", "agg_hll_mergeable", "sim_ann_ivf",
    "agg_quantiles_approx", "multimodal_phash_radius_join",
    "agg_weighted_median", "join_interval_overlap",
    "curation_pipeline_e2e", "scan_syslog_gz",
    "firewall_config_expansion", "embed_mmr_rerank",
    "scan_orc_roundtrip", "scan_binary_files",
    "event_attribution_utouch", "event_wau_sliding_distinct",
    "sim_knn_graph", "scan_bucketed_join", "stream_exec_tumbling",
    "corpus_boilerplate_ngrams", "sim_outlier_lowmax",
    "graph_kcore_bounded", "event_seasonality_hourweek",
    "embed_recall_eval", "stream_exec_stateful", "join_asof_nearest",
    "stream_exec_sink_parquet", "curation_dedup_rate_report",
    "dedup_lsh_band_tuning", "scan_merge_schema_evolution",
    "agg_kmv_mergeable", "join_asof_tolerance",
    "dedup_incremental_newbatch", "stream_exec_dedup",
    "dedup_exact_substring",
))


def test_driver_priority_window():
    """The driver's correctness harness witnesses a bounded prefix of
    ``queries()`` (round 1: exactly the first 50 dict entries), so the
    DRIVER_PRIORITY list is a measurement channel: every name in it
    must exist (a stale name silently shrinks the witnessed window),
    and the registry must actually emit them first and in order."""
    from ruleset_analysis_spark.plans.registry import (
        DRIVER_PRIORITY,
        DRIVER_PRIORITY_FRONT,
        DRIVER_PRIORITY_REFRESH,
    )

    names = list(SPECS)
    assert DRIVER_PRIORITY == DRIVER_PRIORITY_FRONT + DRIVER_PRIORITY_REFRESH
    assert len(DRIVER_PRIORITY) == len(set(DRIVER_PRIORITY)), "duplicate priority name"
    missing = [n for n in DRIVER_PRIORITY if n not in SPECS]
    assert not missing, f"priority names not in registry: {missing}"
    assert names[: len(DRIVER_PRIORITY)] == list(DRIVER_PRIORITY)
    assert len(DRIVER_PRIORITY) == 50, "window must fill all 50 driver slots"
    # WITNESSED_R1_R6 covers the whole registry as of the r6 verdict
    # (every name holds a driver hash-green or declared-rows-only
    # record): any NEW query registered in round 7+ is in neither set,
    # so it MUST appear in the FRONT block — the invariant the r4
    # final-commit queries violated can only fail loudly now. FRONT is
    # also where re-witnesses (rows-only -> SQL oracle upgrades) go.
    stranded = [
        n for n in SPECS
        if n not in WITNESSED_R1_R6 and n not in DRIVER_PRIORITY_FRONT
    ]
    assert not stranded, (
        f"new queries must go in DRIVER_PRIORITY_FRONT: {stranded}"
    )


def test_refresh_block_is_oldest_first():
    """The REFRESH block must be EXACTLY the stalest-first prefix of
    the cumulative driver witness ledger — recomputed here from the
    committed CORRECTNESS_r*.json artifacts (latest round containing
    each name, position within that round's file as the tie-break), so
    the rotation can neither skip a stale query nor reorder by hand.
    The round list below is frozen per round ON PURPOSE: extend it
    only when rotating the next round's window, together with the
    DRIVER_PRIORITY blocks (the builder-discipline twin of
    WITNESSED_R1_R6). With 260 queries and 50 slots the cycle length
    is ceil(260/50) = 6 windows per full sweep, so max record age
    bounds at ~5-6 rounds under strict oldest-first rotation — the
    achievable staleness bound documented in SURVEY §5."""
    import json
    import os

    from ruleset_analysis_spark.plans.registry import (
        DRIVER_PRIORITY_FRONT,
        DRIVER_PRIORITY_REFRESH,
    )

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    latest: dict[str, tuple[int, int]] = {}
    for r in (1, 2, 3, 4, 5, 6, 7, 8, 9, 10):
        with open(os.path.join(root, f"CORRECTNESS_r{r:02d}.json")) as f:
            for pos, name in enumerate(json.load(f)):
                latest[name] = (r, pos)
    unrecorded = [n for n in SPECS if n not in latest]
    assert not unrecorded, f"names with no driver record: {unrecorded}"
    expected = sorted(
        (n for n in SPECS if n not in DRIVER_PRIORITY_FRONT),
        key=lambda n: latest[n],
    )[: len(DRIVER_PRIORITY_REFRESH)]
    assert list(DRIVER_PRIORITY_REFRESH) == expected
