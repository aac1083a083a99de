"""Plan-shape assertions: the optimizer properties we rely on at scale.

Correctness tests prove the queries give right answers at sf0.01;
these prove the *plans* stay scale-safe: filters reach the parquet
scan, projections prune columns, the dimension side of the hit-count
join broadcasts, top-k plans as TakeOrderedAndProject, and no
registered query smuggles row-at-a-time Python outside the declared
§2.H pandas-UDF surface. A regression here is invisible at sf0.01 and
an outage at 100 TB."""

from __future__ import annotations

import struct

import pytest
from pyspark.sql import functions as F

from ruleset_analysis_spark.plans.registry import all_specs

SF_DIR = "/root/testdata/sf0.001"

# Queries allowed to put Python in the executor hot path: the declared
# pandas-UDF surface (§2.H) + the multimodal feature extractors whose
# kernels are Arrow-batched by design (§2.G stubs).
PYTHON_ALLOWED = {
    "udf_scalar_pandas",
    "udf_iter_pandas",
    "udaf_grouped_pandas",
    "multimodal_binary_features",
    "multimodal_frame_sample",
    "multimodal_resize",
    "multimodal_audio_energy",
    "multimodal_dhash_fingerprint",
    "multimodal_phash_radius_join",
    "udtf_python_native",
    "udtf_table_arg_grouped",
    "pack_greedy_bins",
    "embed_pca_project",
    # the LSH bucket substrate is an Arrow mapInPandas kernel
    # (fold-order-preserving accumulation, bit-identical to the JVM HOF
    # form — see similarity._lsh_buckets); every consumer of the
    # signature relation therefore carries one declared MapInPandas
    "sim_ann_lsh",
    "sim_pairwise_bucketed",
    "sim_knn_graph",
    "sim_outlier_lowmax",
    "embed_recall_eval",
    # Lloyd assignment+partials run in an Arrow kernel (integer-exact;
    # see similarity._km_partials_kernel): an interpreted
    # zip_with/aggregate distance fold and a 64× posexplode per update
    # pay the same CodegenFallback tax as a JVM HOF LSH substrate
    "embed_kmeans_clusters",
    # label-blocked tau scoring runs in the same grouped Arrow kernel
    # (similarity._bucket_pair_scores); a label self-join evaluates the
    # per-pair HOF fold INTERPRETED twice (join condition +
    # projection). Bit-identical by the twin test's tau arm.
    "sim_pairwise_threshold",
    "dedup_embedding_cosine",
}


def _physical(spark, name: str) -> str:
    df = all_specs()[name].builder(spark, SF_DIR)
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(spark, name: str) -> str:
    df = all_specs()[name].builder(spark, SF_DIR)
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_predicate_reaches_parquet(spark):
    plan = _physical(spark, "scan_predicate_pushdown")
    assert "PushedFilters: [" in plan
    assert "l_shipdate" in plan.split("PushedFilters:")[1].split("]")[0]


def test_projection_prunes_scan(spark):
    plan = _physical(spark, "scan_projection_pushdown")
    read_schema = plan.split("ReadSchema:")[1]
    assert "l_orderkey" in read_schema and "l_quantity" in read_schema
    # the other 14 lineitem columns must not be read
    assert "l_comment" not in read_schema and "l_extendedprice" not in read_schema


def test_dynamic_partition_pruning_fires(spark):
    """scan_partition_pruning must carry a dynamicpruning expression in
    the partitioned fact scan's PartitionFilters — the runtime skip of
    quiet-day directories is the query's entire reason to exist, and
    it degrades SILENTLY to a full scan if any of its preconditions
    regress (join key not the partition column, dim predicate no
    longer literal-selective, broadcast hint dropped)."""
    plan = _physical(spark, "scan_partition_pruning")
    fact_scan = next(
        l for l in plan.splitlines()
        if "FileScan" in l and "events_by_day_" in l
    )
    assert "dynamicpruning" in fact_scan.lower(), fact_scan
    # and the layout root really is hive-partitioned on day
    assert "PartitionFilters" in fact_scan


def test_bucketed_join_has_no_exchange(spark):
    """scan_bucketed_join's reason to exist: both sides persisted
    bucketed on the orderkey means the recurring join plans as a
    SortMergeJoin with ZERO Exchange — the shuffle happened once, at
    write time. Broadcast is disabled for the check because at test SF
    either side fits a broadcast and would mask an exchange
    regression; at 100 TB neither side broadcasts and the bucketed
    SMJ is the only shuffle-free plan."""
    from ruleset_analysis_spark.operators.scans import bucketed_table

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        li = spark.table(bucketed_table(spark, SF_DIR, "lineitem", "l_orderkey"))
        o = spark.table(bucketed_table(spark, SF_DIR, "orders", "o_orderkey"))
        j = li.join(o, li.l_orderkey == o.o_orderkey).select(
            "l_orderkey", "o_orderpriority"
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan
        assert "Bucketed: true" in plan
        # aggregation on the bucket key is equally exchange-free: the
        # scan's hashpartitioning satisfies the agg's distribution, so
        # the nightly per-order rollup also rides the write-time shuffle
        agg = li.groupBy("l_orderkey").count()
        agg_plan = agg._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in agg_plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_runtime_bloom_filter_reduces_fact_scan(spark):
    """Runtime bloom-filter semi-join reduction — the third runtime
    pruning lever next to DPP and AQE: a selective predicate on the
    dim side injects a bloom filter (might_contain) onto the FACT
    side's scan, so at 100 TB the shuffle carries only rows whose join
    key probably survives the join instead of the whole fact table.
    Enabled by default in Spark 4; the size thresholds are lowered
    here because the graded corpus is far below the 10 GB application-
    side default — at production scale the defaults fire on their own.
    Pinned so a conf regression (or an upgrade flipping the default)
    is caught as a plan change, not a silent 100 TB slowdown."""
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
    }
    old = {k: spark.conf.get(k) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
        o = spark.read.parquet(f"{SF_DIR}/orders.parquet").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = li.join(o, li.l_orderkey == o.o_orderkey).select(
            "l_orderkey", "l_quantity"
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "might_contain" in plan.lower()
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


def test_small_dimension_broadcasts(spark):
    assert "BroadcastHashJoin" in _physical(spark, "join_broadcast")


def test_flagship_dimension_broadcasts(spark):
    # rule_usage_report: rules dim must broadcast, hits side must not shuffle
    # for the join itself (left side of BroadcastHashJoin)
    assert "BroadcastHashJoin" in _physical(spark, "rule_usage_report")


def test_topk_is_take_ordered(spark):
    # global ORDER BY + LIMIT must not materialize a full sort
    assert "TakeOrderedAndProject" in _physical(spark, "limit_topk")


def test_anti_and_semi_join_strategies(spark):
    assert "LeftAnti" in _physical(spark, "join_left_anti")
    assert "LeftSemi" in _physical(spark, "join_left_semi")


def test_aggregates_are_partial(spark):
    # partial->final hash aggregation (map-side combine), not a naive
    # shuffle-everything aggregation
    plan = _physical(spark, "agg_count_by_key")
    assert plan.count("HashAggregate") >= 2


def test_whole_stage_codegen_on_hot_path(spark):
    # AQE wraps stages lazily and only materializes codegen spans at
    # execution; disable it for this one check so the static physical
    # plan shows the WholeStageCodegen pipelines
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        df = all_specs()["agg_multi"].builder(spark, SF_DIR)
        plan = df._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    # '*(n)' prefixes mark operators inside WholeStageCodegen stage n;
    # both the partial and final aggregate must be inside one
    assert "*(1) HashAggregate" in plan and "*(2) HashAggregate" in plan


@pytest.mark.parametrize("name", sorted(all_specs()))
def test_no_undeclared_python_in_plan(spark, name):
    """Row-at-a-time Python (BatchEvalPython) is banned everywhere;
    Arrow-batched Python (ArrowEvalPython / MapInPandas /
    FlatMapGroupsInPandas) only on the declared surface."""
    plan = _physical(spark, name)
    assert "BatchEvalPython" not in plan, f"{name}: row-at-a-time Python UDF in plan"
    if name not in PYTHON_ALLOWED:
        for node in ("ArrowEvalPython", "MapInPandas", "FlatMapGroupsInPandas"):
            assert node not in plan, f"{name}: undeclared Python stage {node}"


def test_exploded_shingle_pipeline_single_shuffle(spark):
    """The dedup shingle pipeline must stay one keyed exchange before
    per-doc aggregation (window sort reused by groupBy)."""
    from ruleset_analysis_spark.operators.dedup import _exploded_shingles

    df = _exploded_shingles(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # exactly one keyed exchange computes the pipeline; once another
    # test has materialized the (persisted) relation the plan is a pure
    # cache scan — then only the EXECUTED part (above InMemoryRelation)
    # matters, the cached lineage description is not re-run
    executed = plan.split("InMemoryRelation")[0]
    if "InMemoryTableScan" in executed:
        assert "Exchange hashpartitioning" not in executed
    else:
        assert plan.count("Exchange hashpartitioning") <= 1


def test_filter_pushed_through_join(spark):
    """Catalyst pushes the lang filter below the multimodal join into
    the documents scan."""
    plan = _physical(spark, "multimodal_join")
    assert "PushedFilters" in plan


def test_schema_validator_verdicts_are_read(spark, tmp_path):
    """scan_schema_validate's ok column must actually gate something:
    zero ok=false rows on the pristine corpus, and BOTH drift
    directions (missing + undeclared column) flagged on a doctored
    table."""
    from ruleset_analysis_spark.operators.scans import scan_schema_validate
    import shutil

    clean = scan_schema_validate(spark, SF_DIR)
    assert clean.filter("NOT ok").count() == 0

    # doctor a copy of the corpus: region gains a column, loses another
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"):
        shutil.copy(f"{SF_DIR}/{t}.parquet", tmp_path / f"{t}.parquet")
    r = spark.read.parquet(f"{SF_DIR}/region.parquet")
    r.withColumn("extra_col", F.lit(1)).drop("r_name").coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(tmp_path / "doctored"))
    import os

    part = next(p for p in os.listdir(tmp_path / "doctored") if p.startswith("part-"))
    os.remove(tmp_path / "region.parquet")
    shutil.move(str(tmp_path / "doctored" / part), str(tmp_path / "region.parquet"))

    drifted = scan_schema_validate(spark, str(tmp_path))
    bad = {(r["column_name"], r["declared"], r["actual"])
           for r in drifted.filter("NOT ok").collect()}
    assert ("extra_col", "<undeclared>", "int") in bad
    assert any(c == "r_name" and a == "<missing>" for c, _, a in bad)


def test_subqueries_decorrelate_to_keyed_joins(spark):
    """Correlated/scalar subqueries must NOT execute per outer row:
    Catalyst decorrelates them into aggregates + hash joins. A nested
    loop here is a scan-per-row at 100 TB."""
    # Q17 shape: per-part avg computed once, joined back
    plan = _physical(spark, "subquery_correlated_avg")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("HashAggregate") >= 2  # per-part avg + final group
    # EXISTS → left semi, NOT IN → null-aware left anti
    assert "LeftSemi" in _physical(spark, "subquery_exists")
    assert "LeftAnti" in _physical(spark, "subquery_not_in_null_safe")
    # uncorrelated scalar subquery: evaluated once and pushed into the
    # scan as a literal comparison — no join node anywhere in the plan
    scalar = _physical(spark, "subquery_scalar_agg")
    assert "ScalarSubquery" in scalar
    assert "Join" not in scalar
    # ... and it reaches the parquet reader as a pushed data filter
    # (some FileScan in the plan — the subquery's own scan has none)
    assert any(
        "ScalarSubquery" in seg.split("ReadSchema")[0]
        for seg in scalar.split("DataFilters:")[1:]
    )


def test_minhash_sketch_carries_no_shingle_arrays(spark):
    """dedup_near_minhash's persisted per-doc relation must be 16 longs
    + a count — exact verification joins the exploded shingle relation
    instead of carrying collect_list arrays (a corpus-sized payload
    masquerading as a sketch)."""
    plan = _optimized(spark, "dedup_near_minhash")
    assert "collect_list" not in plan


def test_quantile_sketch_aggregates_partial(spark):
    """agg_quantiles_approx is the promised no-sort scale path: GK
    sketches must partial-aggregate map-side (mergeable summaries), and
    the plan must contain no sort at all."""
    plan = _physical(spark, "agg_quantiles_approx")
    assert plan.count("ObjectHashAggregate") + plan.count("HashAggregate") >= 2
    assert "Sort" not in plan


def test_bucketed_pairwise_is_keyed_group_kernel(spark):
    """sim_pairwise_bucketed replaces the label-blocked all-pairs scan:
    candidates must be generated WITHIN (table_id, bucket) groups —
    since r9 a grouped Arrow kernel keyed on the bucket signature
    (Σ n_bucket² work, occupancy-bounded) — never a cross/nested-loop
    product of the vector table with itself."""
    plan = _physical(spark, "sim_pairwise_bucketed")
    assert "CartesianProduct" not in plan
    # pair generation: the grouped scoring kernel, keyed on the bucket
    # signature (see similarity._bucket_pair_scores)
    assert "FlatMapGroupsInPandas [table_id" in plan
    # the only nested loop anywhere is the 1-row adaptive-depth
    # broadcast inside the (persisted) signature relation's cached
    # lineage — every occurrence must sit below an InMemoryRelation,
    # i.e. it is the cache's description, not an executed product
    exec_plan = plan.split("InMemoryRelation")[0]
    assert "BroadcastNestedLoopJoin" not in exec_plan


def test_range_join_is_keyed_not_nested_loop(spark):
    """join_range_bucketed exists to turn a keyless range predicate into
    a keyed equi-join — its plan must contain no cross/nested-loop
    join."""
    plan = _physical(spark, "join_range_bucketed")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    # a real hash/merge equi-join node must carry the plan
    assert any(
        node in plan
        for node in ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin")
    )


def test_tpch_composites_plan_discipline(spark):
    """The TPC-H composite shapes must keep their plan contracts
    (operators/tpch.py docstring): top-k reports plan as
    TakeOrderedAndProject, dimensions broadcast (no sort-merge join at
    test scale), Q6 is a pure scan-aggregate with no exchange-by-key
    and no join at all."""
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        plans = {
            n: _physical(spark, n)
            for n in (
                "tpch_q3_shipping_priority",
                "tpch_q5_local_supplier",
                "tpch_q6_forecast_revenue",
                "tpch_q10_returned_items",
            )
        }
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    for n in ("tpch_q3_shipping_priority", "tpch_q10_returned_items"):
        assert "TakeOrderedAndProject" in plans[n], n
        assert "Sort " not in plans[n].split("TakeOrderedAndProject")[0], n
    for n, plan in plans.items():
        assert "SortMergeJoin" not in plan, f"{n}: dimension join degraded to SMJ"
    q6 = plans["tpch_q6_forecast_revenue"]
    assert "Join" not in q6 and "Exchange hashpartitioning" not in q6
    # exactly one keyed exchange feeds each composite aggregation
    for n in ("tpch_q5_local_supplier", "tpch_q3_shipping_priority"):
        assert plans[n].count("Exchange hashpartitioning") == 1, n


def test_lateral_topn_decorrelates(spark):
    """The LATERAL LIMIT subquery must decorrelate: a ranked join with
    WindowGroupLimit pre-pruning, never per-outer-row re-execution
    (no nested-loop join over the orders side)."""
    plan = _physical(spark, "subquery_lateral_topn")
    assert "WindowGroupLimit" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


# Queries where a BroadcastNestedLoopJoin is the DELIBERATE plan: the
# build side is O(1) rows (a 1-row probe/threshold relation or a
# literal dim of a few CIDRs), so per-pair predicate work is bounded
# and an equi-key does not exist. Everything else must hash-join.
BNLJ_ALLOWED = {
    "firewall_cidr_match",      # 5-row literal CIDR dim
    "sim_cosine_topk",          # 1-row broadcast probe vector
    "sim_pairwise_bucketed",    # 1-row broadcast hyperplane set
    "sim_ann_lsh",              # 1-row broadcast hyperplane set
    "sim_knn_graph",            # 1-row broadcast hyperplane set
    "sim_outlier_lowmax",       # 1-row broadcast hyperplane set
    "embed_recall_eval",        # broadcast bounded probe panel + planes
    "sim_ann_ivf",              # 1-row broadcast probe vector
    "embed_knn_classify",       # broadcast probe batch
    "embed_pca_project",        # 1-row broadcast mean/components
    "agg_rfm_segmentation",     # 1-row broadcast quartile thresholds
    "agg_pareto_concentration", # 1-row totals
    "text_collocations_lift",   # 1-row corpus total
    "multimodal_frame_sample",  # 1-row broadcast frame params
    "text_tfidf_topterms",      # 1-row doc-count relation
    "tpch_q22_dormant_accounts",  # 1-row broadcast (total_cents, n_pos) scalar
    "tpch_q11_important_stock",   # 1-row broadcast total_cents scalar
    "dedup_weighted_jaccard",   # 1-row broadcast corpus doc-count scalar
    "text_bigram_surprisal",    # 1-row broadcast vocab-size scalar
    "text_lang_stats",          # 1-row corpus totals
    "dedup_near_minhash",       # 1-row signature params
    "join_cross",               # the graded cross-join op (dim × dim)
    "agg_hll_mergeable",        # 1-row grand-total sketch union
    "graph_link_prediction",    # 1-row broadcast adaptive hub-cap scalar
    "event_attribution_utouch", # 1-row broadcast adaptive day-cap scalar
    "text_contamination_ngram",  # 1-row broadcast adaptive df-cap scalar
    "agg_countmin_sketch",      # 4-row broadcast depth relation
    "date_series_gapfill",      # 1-row date-bounds relation
    "firewall_unused_rules",    # broadcast rules dim × summary row
    "firewall_policy_diff",     # broadcast ACL dim × O(rules) range
    "firewall_rule_staleness",  # 1-row broadcast horizon epoch scalar
    "rule_usage_report",        # 1-row total-hits for percentages
    "curation_mix_weights",     # 1-row broadcast relative-cap scalar
    "agg_welch_ttest",          # ≤5-row moment relation self-pairing
    "agg_mann_whitney_u",       # ≤5-row type dim × value grid build
    "agg_ks_test",              # ≤5-row type dim × value grid build
    "agg_benford_deviation",    # 9-row literal dim × 1-row total
    "curation_sample_apply",    # 1-row broadcast relative-cap scalar
    "curation_temperature_mix", # 1-row broadcast weight-total scalar
    "text_vocab_growth",        # 1-row broadcast decile-boundary array
    "dedup_lsh_band_tuning",    # 1-row broadcast tuning-sample modulus
}


@pytest.mark.parametrize("name", sorted(all_specs()))
def test_no_unbounded_join_strategies(spark, name):
    """Global plan discipline: CartesianProduct is banned outright
    (every deliberate cross join here broadcasts an O(1)-row side, so
    it must plan as BroadcastNestedLoopJoin, never a partitioned
    cartesian); BroadcastNestedLoopJoin only where the build side is
    a documented O(1)-row relation. At 100 TB an accidental nested
    loop over two fact tables is the difference between minutes and
    never-finishes."""
    plan = _physical(spark, name)
    assert "CartesianProduct" not in plan, f"{name}: partitioned cartesian product"
    if name not in BNLJ_ALLOWED:
        assert "BroadcastNestedLoopJoin" not in plan, (
            f"{name}: undeclared nested-loop join"
        )


def test_funnel_state_is_bounded(spark):
    """funnel_ordered_steps must never materialize a per-user event
    array: the chained window-min formulation carries O(1) state per
    user, so a pathological user with millions of funnel events costs
    CPU, not executor memory. Plan contract: no collect_list/sort
    aggregate, all three window minima ride ONE keyed exchange (the
    only other exchange is the final 3-value global reduce)."""
    plan = _physical(spark, "funnel_ordered_steps")
    assert "collect_list" not in plan, "funnel re-grew unbounded per-user state"
    n_exchanges = plan.count("Exchange ")
    assert n_exchanges <= 2, f"funnel plan has {n_exchanges} exchanges (max 2)"
    assert plan.count("hashpartitioning(user_id") <= 1, (
        "windows must share one user_id exchange"
    )


def test_band_tuning_sketch_unifies_with_neardup_cache(spark):
    """The tuning curve must read the near-dup pipeline's sketch, not
    re-sketch the corpus: dedup_lsh_band_tuning's full-corpus per-doc
    aggregation is constructed expression-for-expression like
    dedup_near_minhash's, with the md5 tuning-sample gate applied
    ABOVE the persist (a doc's 16 minhashes depend only on its own
    shingles, so gate-after-sketch is bit-identical at every K). Plan
    contract: after merely CONSTRUCTING the tuning query, the
    CacheManager already holds the canonical ungated sketch plan —
    the r6 gate-below-the-agg form forked the cache and re-ran the 16
    min-aggregates corpus-wide a second time."""
    from ruleset_analysis_spark.operators.dedup import (
        _MH_SEEDS,
        _exploded_shingles,
        _mh_expr,
    )

    all_specs()["dedup_lsh_band_tuning"].builder(spark, SF_DIR)
    canonical = _exploded_shingles(spark, SF_DIR).groupBy("doc_id").agg(
        *[F.min(_mh_expr(s)).alias(f"mh_{i}") for i, s in enumerate(_MH_SEEDS)],
        F.count(F.lit(1)).alias("n"),
    )
    jcm = spark._jsparkSession.sharedState().cacheManager()
    assert jcm.lookupCachedData(canonical._jdf).isDefined(), (
        "band_tuning's sketch no longer plan-unifies with the near-dup "
        "sketch — the suite would sketch the corpus twice"
    )


def test_contamination_join_is_aqe_adaptive(spark):
    """text_contamination_ngram carries NO static join hint (round 8):
    the x1000 stress tier OOMed the r3 form's forced broadcast because
    the synthetic benchmark slice is a fixed fraction of the corpus.
    The contract is adaptive: at the small tiers AQE must still
    re-plan the bench side to a BroadcastHashJoin (runtime stats far
    under the threshold), so the graded plan keeps its shape while
    corpus-fraction scales degrade gracefully to a shuffled join
    instead of a build-side cliff. Executed (not constructed) plan —
    AQE finalizes strategy at runtime."""
    df = all_specs()["text_contamination_ngram"].builder(spark, SF_DIR)
    df.write.format("noop").mode("overwrite").save()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, (
        "AQE no longer broadcasts the small bench side at sf0.001"
    )
    assert "isFinalPlan=true" in plan


@pytest.mark.parametrize(
    "name",
    [
        "window_rank_topk_per_group",
        "sample_topk_reservoir",
        "embed_recall_eval",
        # dense_rank is rank-like too: the r9 knn rewrite relies on the
        # same bound to collapse multi-table duplicates without a
        # pair-relation shuffle (see similarity._scored_same_bucket_pairs)
        "sim_knn_graph",
    ],
)
def test_rank_topk_windows_plan_as_window_group_limit(spark, name):
    """rank-≤-k + filter over a partitioned window must plan as
    WindowGroupLimit with a PARTIAL node below the exchange (Spark 4):
    each input partition ships at most k candidates per group, so the
    final window never sees a corpus-sized partition even when the
    partition key has O(1) cardinality (mktsegment, lang, probe panel).
    This optimizer guarantee is why these queries keep the plain
    one-window form — a round-8 session hand-salted the top-k before
    the plan audit showed the bound already exists; this pin keeps the
    next session from repeating either mistake (hand-salting, or an
    optimizer/conf regression silently unbounding the exchange)."""
    plan = _physical(spark, name)
    assert plan.count("WindowGroupLimit") >= 2, (
        f"{name}: partial+final WindowGroupLimit pair missing — the "
        "rank filter no longer bounds the exchange"
    )


@pytest.mark.parametrize(
    "name", ["sim_knn_graph", "sim_pairwise_bucketed", "sim_outlier_lowmax"]
)
def test_bucket_pair_scoring_never_rejoins_payloads(spark, name):
    """The r9 x1000 catch, pinned: the bucket-substrate pair queries
    must score candidates INSIDE the (table_id, bucket) self-join —
    payload arrays ride the 4n-row signature relation — and never
    re-join vectors onto the pair relation. The pre-r9 form
    (candidates.distinct() -> join(e, "vec_a") -> join(e, "vec_b"))
    sorted two ~0.5 KB-array rows per candidate at |pairs| scale:
    ~200 GB of spill at 2M vectors, disk-full abort. In the plan this
    reads as a join node KEYED on vec_a or vec_b; the only joins the
    rewrite allows are the bucket self-join (table_id, bucket) and the
    n-scale payload attach (vec_id)."""
    plan = _physical(spark, name)
    join_lines = [
        ln
        for ln in plan.splitlines()
        if any(
            n in ln
            for n in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin")
        )
    ]
    assert join_lines, f"{name}: expected keyed joins in the plan"
    for ln in join_lines:
        assert "vec_a#" not in ln and "vec_b#" not in ln, (
            f"{name}: a join keyed on the pair relation is back — "
            f"payloads are being re-joined onto candidates: {ln.strip()}"
        )


def _seq(scala_seq) -> list:
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


def _shuffles_outside_caches(plan) -> int:
    """Shuffle exchanges of a physical plan and of its subqueries. An
    InMemoryTableScan is a leaf, so the stored plan of a persisted
    relation (built once, then scanned) is not walked; unlike
    ``scripts/plan_audit.py``'s text stripping, this also holds when
    that plan printed AQE "Final Plan" sections."""
    here = int(plan.nodeName() == "Exchange")
    below = _seq(plan.children()) + _seq(plan.subqueries())
    return here + sum(map(_shuffles_outside_caches, below))


# static shuffle count (AQE off, persisted relations not walked) of
# every query that reads similarity.normalized_vectors, as PLANS.md
# counted them before the substrate was spread
_SIMILARITY_EXCHANGES = {
    "dedup_embedding_cosine": 2, "embed_kmeans_clusters": 2,
    "embed_knn_classify": 2, "embed_mmr_rerank": 0, "embed_recall_eval": 4,
    "sim_ann_ivf": 0, "sim_ann_lsh": 2, "sim_cosine_topk": 1,
    "sim_knn_graph": 2, "sim_outlier_lowmax": 3, "sim_pairwise_bucketed": 2,
    "sim_pairwise_threshold": 2,
}


def test_normalized_vectors_are_spread_before_their_projections(spark):
    """The normalized-vector substrate is spread round-robin over
    ``defaultParallelism`` partitions below its per-vector projections
    (cast, norm, divide), so the build and every consumer's per-vector
    work run one task per core; the cached relation keeps that count
    under AQE (``canChangeCachedPlanOutputPartitioning``), every
    partition holds rows, and the consumers plan no shuffle more."""
    from ruleset_analysis_spark.operators.similarity import normalized_vectors

    cores = spark.sparkContext.defaultParallelism
    vectors = normalized_vectors(spark, SF_DIR)
    cached = (
        spark._jsparkSession.sharedState().cacheManager()
        .lookupCachedData(vectors._jdf).get().cachedRepresentation().cacheBuilder()
    )
    plan = cached.cachedPlan()
    if plan.nodeName() == "AdaptiveSparkPlan":
        plan = plan.inputPlan()
    chain = []  # root to leaf, codegen wrappers skipped
    while plan is not None:
        if not plan.nodeName().startswith(("WholeStageCodegen", "InputAdapter")):
            chain.append(plan)
        kids = _seq(plan.children())
        plan = kids[0] if kids else None
    names = [p.nodeName() for p in chain]
    assert names[:4] == ["Project", "Project", "Project", "Exchange"], names
    assert all("lambdafunction" in p.toString() for p in chain[:3]), names
    assert chain[3].outputPartitioning().toString() == f"RoundRobinPartitioning({cores})"

    assert cached.cachedColumnBuffers().getNumPartitions() == cores
    used = vectors.select(F.spark_partition_id().alias("p")).distinct().collect()
    assert sorted(r.p for r in used) == list(range(cores))

    specs = all_specs()
    old = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        got = {
            name: _shuffles_outside_caches(
                specs[name].builder(spark, SF_DIR)._jdf.queryExecution().executedPlan()
            )
            for name in _SIMILARITY_EXCHANGES
        }
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", old)
    assert got == _SIMILARITY_EXCHANGES


def test_values_df_matches_create_dataframe(spark):
    """values_df (r10, guide §4) must be a DROP-IN twin of
    spark.createDataFrame(rows, ddl): identical analyzed schema
    (including the all-nullable contract the driver has hashed since
    round 1), identical rows, and — the point of the rewrite — a
    pure-JVM LocalRelation after optimization, instead of the
    pickled-RDD scan that launched Python workers on every
    materialization."""
    from ruleset_analysis_spark.operators._util import values_df

    rows = [
        (1, "plain", True, None, float("nan")),
        (2, None, False, 12345678901234, float("inf")),
        (3, "quo'te and back\\slash", None, -7, float("-inf")),
        (4, "zero", True, 0, -0.0),
        (5, "tiny", False, 1, 5e-324),
        (6, None, None, None, None),
    ]
    ddl = "a int, b string, ok boolean, big long, x double"
    ref = spark.createDataFrame(rows, ddl)
    got = values_df(spark, rows, ddl)
    assert got.schema == ref.schema

    def bits(row):
        # NaN != NaN and -0.0 == 0.0: compare doubles by their bytes
        return tuple(
            struct.pack("<d", v) if isinstance(v, float) else v for v in row
        )

    got_rows = [bits(r) for r in got.collect()]
    assert got_rows == [bits(r) for r in ref.collect()]
    assert got_rows == [bits(r) for r in rows]
    opt = got._jdf.queryExecution().optimizedPlan().toString()
    assert "LocalRelation" in opt and "ExistingRDD" not in opt

    # no rows: the same nullable schema, an empty JVM LocalRelation
    empty = values_df(spark, [], ddl)
    assert empty.schema == spark.createDataFrame([], ddl).schema == ref.schema
    assert empty.collect() == []
    opt = empty._jdf.queryExecution().optimizedPlan().toString()
    assert "LocalRelation" in opt and "LogicalRDD" not in opt, opt


@pytest.mark.parametrize(
    "name",
    [
        "scan_schema_validate",
        "agg_benford_deviation",
        "firewall_cidr_match",
        "embed_mmr_rerank",
        "agg_countmin_sketch",
    ],
)
def test_constant_dims_are_local_relations(spark, name):
    """No pickled-RDD local relations on the graded surface (r10):
    each of these queries carries a constant/driver-computed literal
    table that must analyze to a LocalRelation (values_df), not an
    ExistingRDD scan — and agg_countmin_sketch's depth dimension must
    be the inline explode(sequence(..)), not a crossJoined Range (the
    BroadcastNestedLoopJoin + Range form cost 4 extra stages per
    run). firewall_cidr_match's ``cidr_bounds_sql`` projection must
    fold into its literal rule relation: no CIDR parse survives
    optimization."""
    plan = _physical(spark, name)
    assert "ExistingRDD" not in plan, f"{name}: pickled-RDD relation back"
    if name == "agg_countmin_sketch":
        assert "BroadcastNestedLoopJoin" not in plan
        assert "Range (" not in plan
    if name == "firewall_cidr_match":
        opt = _optimized(spark, name)
        assert "RLIKE" not in opt and "split(" not in opt, opt



def test_firewall_reports_agree_with_the_hit_rollup(spark):
    """The registry's rule reports are one rule dimension and one hit
    rollup: the unused-rule list is exactly the usage report's UNUSED
    rows, and the ACTIVE rows carry firewall_rule_hits' counts."""
    specs = all_specs()
    report = specs["rule_usage_report"].builder(spark, SF_DIR).collect()
    unused = {(r["acl"], r["rule_id"]) for r in report if r["status"] == "UNUSED"}
    assert unused
    unused_rows = specs["firewall_unused_rules"].builder(spark, SF_DIR).collect()
    assert sorted(map(tuple, unused_rows)) == sorted(unused)
    active = {
        (r["acl"], r["rule_id"]): (r["hits"], r["n_users"])
        for r in report
        if r["status"] == "ACTIVE"
    }
    hits = specs["firewall_rule_hits"].builder(spark, SF_DIR).collect()
    assert {(r["acl"], r["rule_id"]): (r["hits"], r["n_users"]) for r in hits} == active


_REPORT_CONFIG = """
object-group network SRV
 network-object host 10.0.1.5
 network-object 10.0.2.0 255.255.255.0
access-list OUTSIDE_IN extended permit tcp any object-group SRV eq https
access-list OUTSIDE_IN extended deny ip any any
"""


def _report_day(tmp_path):
    """A small gzipped day of 106100 lines for the report job."""
    import gzip

    lines = [
        f"%ASA-6-106100: access-list OUTSIDE_IN permitted tcp "
        f"outside/203.0.113.{i % 250 + 1}({40000 + i}) -> dmz/10.0.1.5(443) "
        f"hit-cnt 1 300-second interval [0x{i:x}, 0x0]"
        for i in range(20)
    ]
    with gzip.open(tmp_path / "fw.log.gz", "wt") as f:
        f.write("\n".join(lines) + "\n")
    return str(tmp_path)


def test_ruleset_report_plan_is_lean_and_jvm_only(spark, tmp_path):
    """run_ruleset_analysis, the paper's job, on a small .gz day:

    * no pickled-RDD relation anywhere (the rule dimension and the rule
      identities are LocalRelations, no Python workers);
    * the per-line part of the plan (everything under the flow
      aggregate) carries no address parse (its signature is the
      ``RLIKE`` shape gate and the ``split`` on ``[.]``): a nullable
      flow address makes Catalyst infer ``isnotnull(addr)`` from the
      join predicate and push it through the aggregate to the line
      scan, re-running the parse on every raw line;
    * the per-line part evaluates the 106100 regex once: the flows are
      aggregated from the unfiltered projection, whose non-matches the
      ``acl`` join drops, so no ``m != ''`` filter re-runs it; a
      nullable ``acl`` or bare nullable ``dst_port`` in the join brings
      back inferred ``isnotnull`` filters that re-run it, and per-group
      extraction runs it once per field;
    * no ``SortMergeJoin`` and at most 3 exchanges, broadcasts included
      (the flow aggregate, the rule broadcast, the per-rule aggregate):
      the rule identities enter the per-rule aggregate as rows instead
      of joining its result, there is no ``distinct`` over the rules
      and no ``countDistinct`` expansion;
    * the *analyzed* plan holds exactly two ``RLIKE``s, the flow side's
      source and destination address parse: the rule side arrives as a
      literal relation of numeric bounds (the compiled ruleset), not as
      CIDR strings that each rule network's parse would add to the
      plan."""
    import re

    from ruleset_analysis_spark.pipeline import run_ruleset_analysis

    report = run_ruleset_analysis(spark, _report_day(tmp_path), _REPORT_CONFIG)
    qe = report._jdf.queryExecution()
    analyzed = qe.analyzed().toString()
    assert analyzed.count("RLIKE") == 2, analyzed
    optimized = qe.optimizedPlan().toString()
    physical = qe.executedPlan().toString()
    # LogicalRDD in the optimized plan, Scan ExistingRDD once planned
    assert "LogicalRDD" not in optimized and "ExistingRDD" not in physical

    def depth(line):
        return len(line) - len(line.lstrip(" :+-"))

    plan = optimized.splitlines()
    flow_agg = re.compile(
        r"Aggregate \[acl#\d+, protocol#\d+, src_ip#\d+, dst_ip#\d+, dst_port#\d+\]"
    )
    top = next(i for i, ln in enumerate(plan) if flow_agg.search(ln))
    per_line = []
    for ln in plan[top + 1:]:
        if depth(ln) <= depth(plan[top]):
            break
        per_line.append(ln)
    assert any("Relation [" in ln for ln in per_line), optimized
    for ln in per_line:
        assert "RLIKE" not in ln and "[.]" not in ln, (
            f"address parse runs per log line: {ln.strip()}"
        )
    regex_runs = sum(ln.count("regexp_extract(") for ln in per_line)
    assert regex_runs <= 1, "\n".join(per_line)

    assert "SortMergeJoin" not in physical, physical
    exchanges = [
        ln.strip() for ln in physical.splitlines()
        if re.match(r"\w*Exchange\b", ln.lstrip(" :+-*()0123456789"))
    ]
    assert len(exchanges) <= 3, "\n".join(exchanges)


def test_ruleset_report_build_is_low_chatter(spark, tmp_path, monkeypatch):
    """Building the report plan (no action) stays under 240 py4j round
    trips once warm (192 measured, standalone and in a pytest session):
    the join condition, aggregates and projections are SQL text
    (``F.expr``/``selectExpr``, a few round trips each), not Column-API
    trees, which cost many round trips per node in classic mode, and
    the compiled ruleset is reused as it is.

    Only the building thread's round trips count. Py4J sends the detach
    command (``m``) of each freed Java proxy from its own finalizer
    thread whenever that thread runs: a warm-up report freed just before
    the window added 77 to 157 of them to one build in a probe. Python's
    cyclic garbage collector is drained before the count and held off
    during it too, so no collection inside the window frees other
    tests' proxies (a thousand and more after a test that built many
    DataFrames)."""
    import gc
    import threading

    from py4j.clientserver import JavaClient

    from ruleset_analysis_spark.pipeline import run_ruleset_analysis

    day = _report_day(tmp_path)
    run_ruleset_analysis(spark, day, _REPORT_CONFIG)  # warm
    calls = [0]
    send = JavaClient.send_command
    builder = threading.current_thread()

    def counting(self, *args, **kwargs):
        if threading.current_thread() is builder:
            calls[0] += 1
        return send(self, *args, **kwargs)

    gc.collect()
    gc.disable()
    monkeypatch.setattr(JavaClient, "send_command", counting)
    try:
        run_ruleset_analysis(spark, day, _REPORT_CONFIG)
    finally:
        monkeypatch.undo()
        gc.enable()
    assert 0 < calls[0] <= 240, calls[0]
