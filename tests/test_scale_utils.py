"""Bucketing + salting: correctness AND the plan properties they buy."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ruleset_analysis_spark.functions.scale import salted_join, skew_aware_counts
from ruleset_analysis_spark.sources.parquet import load
from ruleset_analysis_spark.sources.sinks import write_bucketed_table

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def bucketed_tables(spark, tmp_path_factory):
    # spark.sql.warehouse.dir is static config — tables land in the
    # session's default warehouse; DROP TABLE removes managed files.
    # A crashed prior run can leave orphaned locations (fresh in-memory
    # metastore, stale directory) — clear them first.
    import shutil

    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    for t in ("b_orders", "b_customer"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(f"{warehouse}/{t}", ignore_errors=True)
    orders = load(spark, SF_DIR, "orders")
    customer = load(spark, SF_DIR, "customer")
    write_bucketed_table(orders, "b_orders", "o_custkey", n_buckets=4)
    write_bucketed_table(
        customer.withColumnRenamed("c_custkey", "o_custkey"), "b_customer", "o_custkey", 4
    )
    yield "b_orders", "b_customer"
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_customer")


def test_bucketed_join_no_exchange(spark, bucketed_tables):
    lt, rt = bucketed_tables
    # at sf0.001 the planner would just broadcast the small side (also
    # exchange-free, but not what we're demonstrating) — disable
    # broadcast to expose the bucketed SortMergeJoin path used at scale
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = spark.table(lt).join(spark.table(rt), on=["o_custkey"])
        plan = df._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    # the whole point: both sides pre-shuffled (and pre-sorted) at
    # write time — no runtime exchange, no sort
    assert "SortMergeJoin" in plan
    assert "Exchange" not in plan
    # and correctness: equals the plain join
    plain = load(spark, SF_DIR, "orders").join(
        load(spark, SF_DIR, "customer").withColumnRenamed("c_custkey", "o_custkey"),
        "o_custkey",
    )
    assert df.count() == plain.count()


def test_salted_join_equals_plain_join(spark):
    ev = load(spark, SF_DIR, "events").select("event_id", "user_id", "event_type")
    dim = (
        load(spark, SF_DIR, "events")
        .select("event_type")
        .distinct()
        .withColumn("type_tag", F.upper("event_type"))
    )
    salted = salted_join(ev, dim, key="event_type", n_salts=4)
    plain = ev.join(dim, "event_type")
    assert salted.count() == plain.count()
    got = {(r["event_id"], r["type_tag"]) for r in salted.collect()}
    want = {(r["event_id"], r["type_tag"]) for r in plain.collect()}
    assert got == want


def test_salted_join_left_outer_keeps_unmatched(spark):
    left = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "zzz")], "id long, k string"
    )
    right = spark.createDataFrame([("a", 10), ("b", 20)], "k string, v long")
    out = salted_join(left, right, key="k", n_salts=3, how="left")
    rows = {r["id"]: r["v"] for r in out.collect()}
    assert rows == {1: 10, 2: 20, 3: None}


def test_skew_aware_counts_equals_plain(spark):
    # heavily skewed: one hot key
    df = spark.range(10_000).select(
        F.when(F.col("id") % 100 < 97, "hot").otherwise("cold").alias("k")
    )
    got = {r["k"]: r["n"] for r in skew_aware_counts(df, "k", n_salts=8).collect()}
    want = {r["k"]: r["n"] for r in df.groupBy("k").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert got == want


def test_partition_pruning(spark, tmp_path):
    """Date-partitioned layout must prune at the scan: a one-day filter
    reads one directory (PartitionFilters in the plan, not a post-scan
    filter)."""
    from ruleset_analysis_spark.sources.parquet import load
    from ruleset_analysis_spark.sources.sinks import write_partitioned_report

    ev = load(spark, SF_DIR, "events").select("event_id", "ts", "event_type")
    out = str(tmp_path / "by_day")
    write_partitioned_report(ev, out, "ts")
    back = spark.read.parquet(out)
    one_day = back.filter(F.col("report_date") == "2024-01-03")
    plan = one_day._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(report_date" in plan
    # and it actually returns that day's rows
    want = ev.filter(F.to_date("ts") == "2024-01-03").count()
    assert one_day.count() == want and want > 0


def test_bounded_block_guard_fires_and_passes(spark):
    """The exact all-pairs baselines carry an in-plan block-size cap:
    within bounds the guard is an identity (same rows), beyond it the
    job must abort with the actionable LSH-bucketed pointer — an
    assert, not a hope, against quadratic blowup at scale."""
    import pytest as _pytest

    from ruleset_analysis_spark.operators._util import bounded_block

    df = spark.range(20).select(
        (F.col("id") % 4).alias("label"), F.col("id").alias("v")
    )
    ok = bounded_block(df, "label", cap=5, what="t")
    assert ok.count() == 20
    assert sorted(ok.columns) == ["label", "v"]

    with _pytest.raises(Exception, match="use the LSH-bucketed form"):
        bounded_block(df, "label", cap=4, what="t").count()


def test_floor_long_null_degrade_matches_duckdb_try_cast(spark):
    """floor_long must NULL-degrade exactly where the oracles'
    TRY_CAST(floor(x) AS BIGINT) does: NaN, ±inf, and out-of-BIGINT
    magnitudes all become NULL (Spark's bare floor would silently emit
    0 / Long.MIN / Long.MAX for those — the divergence the helper
    exists to close), while every normal money product floors to the
    identical integer in both engines."""
    import duckdb

    from ruleset_analysis_spark.operators._util import floor_long

    vals = [1234.56, -7.99, 0.0, -0.49, 99999999.01,
            float("nan"), float("inf"), float("-inf"), 1e300, None]
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    got = [
        r["f"]
        for r in df.select(floor_long(F.col("x") * 100.0).alias("f"))
        .collect()
    ]
    con = duckdb.connect()
    want = [
        con.execute(
            "SELECT TRY_CAST(floor(CAST(? AS DOUBLE) * 100.0) AS BIGINT)",
            [v],
        ).fetchone()[0]
        for v in vals
    ]
    assert got == want, (got, want)


def test_strong_tau_chain_identical_cross_engine():
    """The adaptive strong-edge threshold (graph.py) is computed twice
    — ``strong_tau`` on the Spark side, a CASE-sum shift in
    every graph oracle's tau CTE — and the two MUST agree at every
    pair count or the differential gate would diverge exactly at
    scale. Sweep each threshold boundary (t-1, t, t+1), the graded-
    tier counts, the measured stress counts, and saturation, running
    the oracle fragment's own tau SQL with the count injected."""
    import duckdb

    from ruleset_analysis_spark.operators.graph import (
        _STRONG_TAU_THRESHOLDS,
        strong_edges_ctes,
        strong_tau,
    )

    frag = strong_edges_ctes()
    probe = "FROM (SELECT count(*) AS p FROM pairs) pc"
    assert probe in frag, "tau CTE shape changed; update this test"
    con = duckdb.connect()
    counts = [0, 1, 115_729, 1_196_000, 9_000_000, 62_914_568]
    for t in _STRONG_TAU_THRESHOLDS:
        counts += [t - 1, t, t + 1]
    counts.append(_STRONG_TAU_THRESHOLDS[-1] * 100)  # saturation
    for p in counts:
        py_tau = strong_tau(p)
        tau_cte = frag.split("tau AS (")[1].split("),")[0]
        sql = "SELECT " + tau_cte.split("SELECT", 1)[1].replace(
            probe, f"FROM (SELECT CAST({p} AS BIGINT) AS p) pc"
        )
        (sql_tau,) = con.execute(sql).fetchone()
        assert sql_tau == py_tau, f"chain divergence at P={p}"
    # the graded tiers must sit on the historical tau = 2
    assert strong_tau(1_196_000) == 2, "sf0.1 must stay tau=2"


def test_scale_story_index_partitions_registry():
    """SCALE.md's scale-story index must partition the registry: every
    graded key appears in exactly one of the 'Measured exponents' /
    'Declared trivial' lists. Keeps the 100-TB story checkable — a new
    registry entry (or a key dropped from a stress table) fails here
    until the index takes a position on it."""
    import os
    import re

    from ruleset_analysis_spark.plans.registry import all_specs

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    text = open(os.path.join(root, "SCALE.md")).read()
    m = re.search(
        r"## Scale-story index.*?(?=\n## )", text, flags=re.DOTALL
    )
    assert m, "SCALE.md scale-story index section missing"
    section = m.group(0)
    meas_part = section.split("### Measured exponents")[1].split(
        "### Declared trivial"
    )[0]
    triv_part = section.split("### Declared trivial")[1]
    specs = set(all_specs())
    measured = {n for n in re.findall(r"`([a-z0-9_]+)`", meas_part) if n in specs}
    trivial = {
        mm.group(1)
        for mm in re.finditer(r"^\| `([a-z0-9_]+)` \|", triv_part, re.MULTILINE)
    }
    assert trivial <= specs, f"index names not in registry: {trivial - specs}"
    both = measured & trivial
    assert not both, f"keys in both index lists: {sorted(both)}"
    neither = specs - measured - trivial
    assert not neither, f"keys missing from the index: {sorted(neither)}"
    # the measured list must reflect actual stress records: every name
    # it claims must appear somewhere ABOVE the index (tier tables or
    # prose), not only inside the index itself
    above = text[: m.start()]
    # word-boundary match on the identifier charset: plain substring
    # containment falsely credited any key that happens to be a
    # substring of a longer key; tier tables list names bare and prose
    # backticks them, so anchor on non-identifier neighbors, not `...`
    unbacked = {
        n
        for n in measured
        if not re.search(rf"(?<![a-z0-9_]){re.escape(n)}(?![a-z0-9_])", above)
    }
    assert not unbacked, f"measured claims with no stress record: {sorted(unbacked)}"


def test_contamination_df_cap_chain_cross_engine():
    """The informative-trigram df cap (round 8) must compute the SAME
    integer in Spark SQL and DuckDB at every threshold boundary — the
    tau-chain discipline applied to the contamination gate. Also pins
    the graded-tier no-op: the caps at sf0.01/sf0.1 corpus sizes sit
    far above the measured max trigram df (7 / 25), so the gate cannot
    change a driver-hashed answer."""
    import duckdb

    from ruleset_analysis_spark.operators.curation import (
        _CONTAM_DF_CAP_BASE,
        _CONTAM_DF_THRESHOLDS,
    )

    k_sql = " + ".join(
        f"(CASE WHEN n > {t} THEN 1 ELSE 0 END)"
        for t in _CONTAM_DF_THRESHOLDS
    )
    con = duckdb.connect()
    counts = [0, 1, 500, 1_500, 5_000, 500_000, 5_153_000]
    for t in _CONTAM_DF_THRESHOLDS:
        counts += [t - 1, t, t + 1]
    counts.append(_CONTAM_DF_THRESHOLDS[-1] * 100)
    for n in counts:
        py_cap = _CONTAM_DF_CAP_BASE << sum(
            1 for t in _CONTAM_DF_THRESHOLDS if n > t
        )
        (sql_cap,) = con.execute(
            f"SELECT {_CONTAM_DF_CAP_BASE} << ({k_sql}) "
            f"FROM (SELECT CAST({n} AS BIGINT) AS n)"
        ).fetchone()
        assert sql_cap == py_cap, f"chain divergence at n={n}"
    # graded tiers: 500 docs (sf0.001/sf0.01) and 5000 docs (sf0.1)
    # must land on the base cap, far above the measured max df of 25
    assert _CONTAM_DF_CAP_BASE << 0 == 256
    assert 5_000 < _CONTAM_DF_THRESHOLDS[0], "sf0.1 must stay cap=256"


def test_deliberate_refloors_frozen():
    """scripts/deliberate_refloors.json is the bench_compare allowlist
    for plan-replacement floor raises. It must stay EXACTLY the set of
    documented x100/x1000-survival trades — an entry can only be added
    here together with its receipts (round + reason + a bounded
    max_ratio), so the allowlist can never quietly absorb a real
    regression."""
    import json
    import os

    from ruleset_analysis_spark.plans.registry import all_specs

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "scripts", "deliberate_refloors.json")) as f:
        data = json.load(f)
    entries = data["entries"]
    assert set(entries) == {
        "agg_exact_percentiles_grouped",
        "agg_weighted_median",
        "agg_gini_coefficient",
        "embed_pca_project",
        "graph_triangle_count",
        "text_contamination_ngram",
    }, "allowlist grew or shrank without updating this frozen set"
    assert set(entries) <= set(all_specs()), "allowlisted key not in registry"
    for k, meta in entries.items():
        assert isinstance(meta["round"], int) and meta["round"] >= 7, k
        assert meta["reason"].strip(), f"{k}: empty reason"
        # bounded: a cap past ~3.5x would stop being a 'documented
        # trade' and start being an unreviewed perf hole
        assert 1.5 < meta["max_ratio"] <= 3.5, f"{k}: cap out of bounds"
