"""§2.C — aggregations.

Reference core: ``map(lambda r: ((acl, rule), 1)).reduceByKey(add)``
([R-mem] ``analyze_ruleset.py``) — a hand-rolled partial/final count.
Catalyst's HashAggregate gives the same map-side partial aggregation
automatically, JVM-side, for every query below.

Scale notes: group-by keys here are low-cardinality enums or bounded
ids, so the shuffle after partial aggregation carries only
(groups × partitions) rows — the pattern that keeps a 100 TB scan's
shuffle in the megabytes. Approx variants (HLL) are declared for the
cardinalities where exact distinct would need a full shuffle of keys.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..plans.registry import register
from ..sources.parquet import load
from ._util import cents, values_df


@register(
    "agg_count_by_key",
    category="agg",
    oracle="SELECT event_type, count(*) AS hits FROM events GROUP BY event_type",
)
def agg_count_by_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's headline hit-count, DataFrame-form."""
    return (
        load(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("hits"))
    )


@register(
    "agg_multi",
    category="agg",
    oracle="""
        SELECT l_returnflag, l_linestatus,
               round(sum(l_quantity), 2) AS sum_qty,
               CAST(sum(TRY_CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
                   / 100.0 AS sum_base_price,
               round(sum(l_quantity), 2) / count(*) AS avg_qty,
               CAST(sum(TRY_CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
                   / 100.0 / count(*) AS avg_price,
               round(min(l_extendedprice), 2) AS min_price,
               round(max(l_extendedprice), 2) AS max_price,
               count(*) AS count_order
        FROM lineitem
        GROUP BY l_returnflag, l_linestatus
    """,
)
def agg_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: multi-aggregate per composite key.

    Exactness: ``l_quantity`` is integer-valued (exact double sums);
    ``l_extendedprice`` is 2dp money, so its sums run as BIGINT cents
    (order-independent) and the output is ``cents/100.0`` — one
    correctly-rounded IEEE division, bit-identical in both engines.
    Averages divide those exact sums by the count (round(avg, k) can
    tie when the group count is 2-/5-smooth)."""
    li = load(spark, sf_dir, "lineitem")
    ep_cents = F.sum(cents("l_extendedprice"))
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        (ep_cents / F.lit(100.0)).alias("sum_base_price"),
        (F.round(F.sum("l_quantity"), 2) / F.count(F.lit(1))).alias("avg_qty"),
        (ep_cents / F.lit(100.0) / F.count(F.lit(1))).alias("avg_price"),
        F.round(F.min("l_extendedprice"), 2).alias("min_price"),
        F.round(F.max("l_extendedprice"), 2).alias("max_price"),
        F.count(F.lit(1)).alias("count_order"),
    )


@register(
    "agg_count_distinct",
    category="agg",
    oracle="""
        SELECT event_type, count(DISTINCT user_id) AS users
        FROM events GROUP BY event_type
    """,
)
def agg_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct — reference analog: distinct source IPs per rule
    [R-mem]. Expands to a two-phase aggregate in Catalyst."""
    return (
        load(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("users"))
    )


@register(
    "agg_approx_count_distinct",
    category="agg",
    oracle=None,  # rows-only: HLL sketch values differ between engines
)
def agg_approx_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog distinct — the 100 TB-scale variant: fixed-size sketch
    instead of a shuffle of all distinct keys."""
    return (
        load(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.approx_count_distinct("user_id", rsd=0.01).alias("approx_users"))
    )


@register(
    "agg_distinct_rows",
    category="agg",
    oracle="SELECT DISTINCT c_mktsegment FROM customer",
)
def agg_distinct_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load(spark, sf_dir, "customer").select("c_mktsegment").distinct()


@register(
    "agg_having",
    category="agg",
    oracle="""
        SELECT o_custkey, count(*) AS n_orders
        FROM orders GROUP BY o_custkey HAVING count(*) >= 12
    """,
)
def agg_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Post-aggregation filter — reference analog: rules with more than
    N hits [R-mem]."""
    return (
        load(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .filter(F.col("n_orders") >= 12)
    )


@register(
    "agg_grouping_sets",
    category="agg",
    oracle="""
        SELECT CAST(year(o_orderdate) AS INTEGER) AS yr, o_orderpriority,
               CAST(sum(TRY_CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   / 100.0 AS total,
               count(*) AS n
        FROM orders
        GROUP BY ROLLUP (CAST(year(o_orderdate) AS INTEGER), o_orderpriority)
    """,
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP subtotals (year, priority) → (year) → () with NULL markers."""
    o = load(spark, sf_dir, "orders").withColumn("yr", F.year("o_orderdate"))
    return o.rollup("yr", "o_orderpriority").agg(
        (F.sum(cents("o_totalprice")) / F.lit(100.0)).alias("total"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "agg_cube",
    category="agg",
    oracle="""
        SELECT l_returnflag, l_linestatus, count(*) AS n,
               round(sum(l_quantity), 2) AS sum_qty
        FROM lineitem
        GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
    )


@register(
    "agg_stddev_percentile",
    category="agg",
    oracle="""
        WITH g AS (
            SELECT event_type, count(*) AS n,
                   CAST(sum(c) AS BIGINT) AS s1,
                   CAST(sum(c * c) AS BIGINT) AS s2,
                   round(median(value), 6) AS med,
                   round(quantile_cont(value, 0.25), 6) AS q1
            FROM (SELECT event_type, value,
                         TRY_CAST(round(value * 100) AS BIGINT) AS c
                  FROM events)
            GROUP BY event_type
        )
        SELECT event_type,
               round(sqrt((CAST(s2 AS DOUBLE)
                           - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n)
                          / (n - 1)) / 100.0, 6) AS sd,
               round((CAST(s2 AS DOUBLE)
                      - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n)
                     / (n - 1) / 10000.0, 6) AS vr,
               med, q1
        FROM g
    """,
)
def agg_stddev_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distributional aggregates (percentile_approx exists for the
    scale path; exact interpolated percentiles used here for oracle
    parity).

    Variance/stddev via integer-cents sufficient statistics (n, Σc,
    Σc²): a one-pass streaming variance is summation-order-dependent in
    the last ULPs, so both engines instead compute BIGINT moments and
    finish with the *same* IEEE expression tree — bit-identical output
    at any partition order. Median/quantile interpolate between 2dp
    grid values, which never sit near a 6dp rounding edge."""
    ev = load(spark, sf_dir, "events").withColumn("c", cents("value"))
    g = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("c").alias("s1"),
        F.sum(F.col("c") * F.col("c")).alias("s2"),
        F.round(F.median("value"), 6).alias("med"),
        F.round(F.percentile("value", F.lit(0.25)), 6).alias("q1"),
    )
    var_cents = (
        F.col("s2").cast("double")
        - F.col("s1").cast("double") * F.col("s1").cast("double") / F.col("n")
    ) / (F.col("n") - 1)
    return g.select(
        "event_type",
        F.round(F.sqrt(var_cents) / F.lit(100.0), 6).alias("sd"),
        F.round(var_cents / F.lit(10000.0), 6).alias("vr"),
        "med",
        "q1",
    )


@register(
    "agg_collect_sorted",
    category="agg",
    oracle="""
        SELECT user_id, string_agg(event_type, ',' ORDER BY event_type) AS events_sorted
        FROM events GROUP BY user_id
    """,
)
def agg_collect_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """collect_list + sort_array, serialized to a string so the oracle
    hash is representation-stable across engines. nullif: a group whose
    values are all NULL collects an empty list → concat_ws '' — but
    DuckDB's string_agg over all-NULL input returns NULL; map '' to
    NULL so the engines agree on that edge."""
    ev = load(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        F.nullif(
            F.concat_ws(",", F.sort_array(F.collect_list("event_type"))), F.lit("")
        ).alias("events_sorted")
    )


_PIVOT_TYPES = ["click", "error", "purchase", "signup", "view"]


@register(
    "agg_pivot",
    category="agg",
    oracle="""
        SELECT user_id,
               count(CASE WHEN event_type = 'click' THEN 1 END) AS click,
               count(CASE WHEN event_type = 'error' THEN 1 END) AS error,
               count(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase,
               count(CASE WHEN event_type = 'signup' THEN 1 END) AS signup,
               count(CASE WHEN event_type = 'view' THEN 1 END) AS view
        FROM events GROUP BY user_id
    """,
)
def agg_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot with an explicit value list (never let pivot scan for
    distinct values at scale — that is an extra full pass)."""
    ev = load(spark, sf_dir, "events")
    piv = ev.groupBy("user_id").pivot("event_type", _PIVOT_TYPES).count()
    # pivot yields NULL for empty cells; count() semantics in the oracle give 0
    return piv.select(
        "user_id",
        *[F.coalesce(F.col(t), F.lit(0)).cast("bigint").alias(t) for t in _PIVOT_TYPES],
    )


@register(
    "agg_histogram",
    category="agg",
    oracle="""
        SELECT CAST(CASE WHEN value < 0 THEN 0
                         WHEN value >= 1000 THEN 21
                         ELSE floor(value / 50.0) + 1 END AS BIGINT) AS bucket,
               count(*) AS n,
               round(min(value), 2) AS lo,
               round(max(value), 2) AS hi
        FROM events GROUP BY 1
    """,
)
def agg_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram of ``value`` (20 buckets over [0, 1000)) —
    one partial-aggregated pass. Spark's ``width_bucket`` puts
    below-range in bucket 0 and ≥max in bucket n+1; DuckDB 1.0 has no
    width_bucket, so the oracle spells out the same arithmetic."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.width_bucket("value", F.lit(0.0), F.lit(1000.0), F.lit(20)).alias("bucket")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("value"), 2).alias("lo"),
            F.round(F.max("value"), 2).alias("hi"),
        )
    )


@register(
    "agg_corr_covar",
    category="agg",
    oracle="""
        WITH b AS (
            SELECT l_returnflag,
                   CAST(l_quantity AS BIGINT) AS q,
                   TRY_CAST(round(l_extendedprice * 100) AS BIGINT) AS c
            FROM lineitem
        ),
        g AS (
            SELECT l_returnflag, count(*) AS n,
                   CAST(sum(q) AS HUGEINT) AS sq,
                   CAST(sum(c) AS HUGEINT) AS sc,
                   CAST(sum(q * q) AS HUGEINT) AS sqq,
                   sum(CAST(c AS HUGEINT) * c) AS scc,
                   CAST(sum(q * c) AS HUGEINT) AS sqc
            FROM b GROUP BY l_returnflag
        )
        SELECT l_returnflag,
               round(CAST(n * sqc - sq * sc AS DOUBLE)
                     / (sqrt(CAST(n * sqq - sq * sq AS DOUBLE))
                        * sqrt(CAST(n * scc - sc * sc AS DOUBLE))), 6)
                   AS corr_qty_price,
               round(CAST(n * sqc - sq * sc AS DOUBLE)
                     / n / (n - 1) / 100.0, 2) AS covar_qty_price,
               round(CAST(n * sqc - sq * sc AS DOUBLE)
                     / CAST(n * sqq - sq * sq AS DOUBLE) / 100.0, 4) AS slope
        FROM g
    """,
)
def agg_corr_covar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bivariate statistics per group: Pearson correlation, sample
    covariance, and the regression slope — all single-pass partial-
    aggregatable moments (sum, sum², sum of products).

    Exactness: the moments run as exact integers (quantity is
    integer-valued; price as cents; squares in 128-bit — Spark
    decimal(38,0), DuckDB HUGEINT) so partial-aggregation order cannot
    drift them, then both engines evaluate the *same* IEEE expression
    tree (correlation is scale-invariant, covariance/slope rescale by
    the cents factor), giving bit-identical doubles. Built-in
    corr/covar are one-pass streamed moments whose last ULPs depend on
    partition order."""
    li = load(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.col("l_quantity").cast("long").alias("q"),
        cents("l_extendedprice").alias("c"),
    )
    g = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("q").alias("sq"),
        F.sum("c").alias("sc"),
        F.sum(F.col("q") * F.col("q")).alias("sqq"),
        F.sum(F.col("c").cast("decimal(38,0)") * F.col("c")).alias("scc"),
        F.sum(F.col("q") * F.col("c")).alias("sqc"),
    )
    dec = lambda name: F.col(name).cast("decimal(38,0)")  # noqa: E731
    num_qc = (dec("n") * dec("sqc") - dec("sq") * dec("sc")).cast("double")
    num_qq = (dec("n") * dec("sqq") - dec("sq") * dec("sq")).cast("double")
    num_cc = (dec("n") * F.col("scc") - dec("sc") * dec("sc")).cast("double")
    return g.select(
        "l_returnflag",
        F.round(num_qc / (F.sqrt(num_qq) * F.sqrt(num_cc)), 6).alias(
            "corr_qty_price"
        ),
        F.round(num_qc / F.col("n") / (F.col("n") - 1) / F.lit(100.0), 2).alias(
            "covar_qty_price"
        ),
        F.round(num_qc / num_qq / F.lit(100.0), 4).alias("slope"),
    )


@register(
    "date_series_gapfill",
    category="agg",
    oracle="""
        WITH bounds AS (
            SELECT min(date_trunc('day', ts)) AS lo, max(date_trunc('day', ts)) AS hi
            FROM events
        ),
        grid AS (
            SELECT t.d AS day, et.event_type
            FROM bounds,
                 unnest(generate_series(bounds.lo, bounds.hi, INTERVAL 1 DAY)) AS t(d),
                 (SELECT DISTINCT event_type FROM events) et
        ),
        actual AS (
            SELECT date_trunc('day', ts) AS day, event_type, count(*) AS n
            FROM events GROUP BY 1, 2
        )
        SELECT CAST(epoch(g.day) AS BIGINT) AS day_epoch, g.event_type,
               coalesce(a.n, 0) AS n
        FROM grid g LEFT JOIN actual a
          ON a.day = g.day AND a.event_type = g.event_type
    """,
)
def date_series_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap filling: a dense (day × event_type) grid via
    ``sequence`` + explode, outer-joined with actual daily counts so
    missing days surface as explicit zeros (dashboards and forecasting
    both need the zeros). The fact side aggregates to days×types rows
    BEFORE the join and is the broadcast build side — the grid is the
    preserved (outer) side, which can never be broadcast (see inline
    note). The daily rollup is PERSISTED (r9, guide §2.4) and the day
    bounds and type roster both derive from it — min/max over its day
    column and its distinct types are exactly the corpus min/max and
    distinct set (nulls group and are ignored by min/max identically)
    — so the corpus is scanned once instead of three times."""
    ev = load(spark, sf_dir, "events")
    daily = (
        ev.groupBy(F.date_trunc("day", "ts").alias("day"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .cache()
    )
    bounds = daily.select(
        F.min("day").alias("lo"),
        F.max("day").alias("hi"),
    )
    days = bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 DAY"))).alias("day")
    )
    types = daily.select("event_type").distinct()
    grid = days.crossJoin(types)
    # The preserved (outer) side of a join can never be the broadcast
    # build side — a hint there is silently ignored and both sides
    # shuffle. Broadcast the OTHER side instead: `daily` is the
    # already-aggregated facts (days × types rows — small by
    # construction at any corpus size), exactly what belongs on the
    # build side of the grid-preserving left join.
    return (
        grid.join(F.broadcast(daily), ["day", "event_type"], "left")
        .select(
            F.unix_timestamp("day").alias("day_epoch"),
            "event_type",
            F.coalesce("n", F.lit(0)).alias("n"),
        )
    )


@register(
    "agg_hll_mergeable",
    category="agg",
    oracle=None,  # rows-only: sketch estimates are engine-specific
)
def agg_hll_mergeable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch distinct counting (the 100 TB incremental
    pattern): build one Datasketches HLL sketch of distinct users PER
    DAY (``hll_sketch_agg``), then merge the daily sketches
    (``hll_union_agg``) into a monthly estimate — the raw data is
    touched once per day, ever; any rollup window is a cheap sketch
    merge. A nightly pipeline materializes the per-day sketch column
    and never rescans history.

    Output: per-day exact-ish estimates plus one 'ALL' row whose
    estimate comes from the union of the persisted daily sketches, with
    the true distinct count alongside (the corpus is small enough to
    verify the estimate in-row). The daily sketch relation is PERSISTED
    (r9, guide §2.4) — the per-day report and the union row both read
    it, and unpersisted the sketch-build corpus pass ran twice, which
    is exactly what the materialize-the-daily-sketches pattern this
    query demonstrates exists to avoid. Day-cardinality rows."""
    ev = load(spark, sf_dir, "events")
    daily = (
        ev.groupBy(F.date_trunc("day", "ts").alias("day"))
        .agg(
            F.hll_sketch_agg("user_id").alias("sk"),
            F.countDistinct("user_id").alias("exact"),
        )
        .cache()
    )
    per_day = daily.select(
        F.unix_timestamp("day").alias("day_epoch"),
        F.hll_sketch_estimate("sk").alias("est"),
        "exact",
    )
    merged_row = (
        daily.agg(F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est"))
        .crossJoin(ev.agg(F.countDistinct("user_id").alias("exact")))
        .select(F.lit(-1).cast("long").alias("day_epoch"), "est", "exact")
    )
    return per_day.unionByName(merged_row)


@register(
    "agg_min_max_by",
    category="agg",
    oracle="""
        SELECT l_returnflag,
               (min({'p': l_extendedprice, 'k': l_orderkey})).k AS cheapest_order,
               (max({'p': l_extendedprice, 'k': l_orderkey})).k AS priciest_order,
               round(min(l_extendedprice), 2) AS min_price,
               round(max(l_extendedprice), 2) AS max_price
        FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_min_max_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """argmin/argmax per group (min_by/max_by): which order carries the
    extreme price, in the same single pass that finds the extreme —
    no self-join back to the detail, the classic argmax-without-rescan.

    The ordering value is the struct (price, orderkey), not price
    alone: a tie on the extreme price would otherwise make the carried
    key engine- and partition-order-dependent. Both engines compare
    structs lexicographically (Spark min_by/max_by over a struct;
    DuckDB min/max over a struct literal, key extracted after)."""
    li = load(spark, sf_dir, "lineitem")
    tiebroken = F.struct(F.col("l_extendedprice"), F.col("l_orderkey"))
    return li.groupBy("l_returnflag").agg(
        F.min_by("l_orderkey", tiebroken).alias("cheapest_order"),
        F.max_by("l_orderkey", tiebroken).alias("priciest_order"),
        F.round(F.min("l_extendedprice"), 2).alias("min_price"),
        F.round(F.max("l_extendedprice"), 2).alias("max_price"),
    )


@register(
    "agg_quantiles_approx",
    category="agg",
    oracle=None,  # rows-only: GK-sketch quantiles are algorithm-specific;
    # tests/test_scale_utils.py bounds |approx - exact| <= rank ε instead
)
def agg_quantiles_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate per-group quantiles via ``percentile_approx`` (the
    Greenwald-Khanna sketch): p50/p90/p99 of event value per type.

    This is the scale path that ``window_ntile_cume``'s docstring
    promises: exact percentile/ntile needs a full sort (single-
    partition window for global ranks), while the GK sketch is a
    bounded-memory, MERGEABLE per-partition summary — map-side partial
    aggregation, one keyed shuffle of sketches, no sort. Accuracy
    1/10000 on rank; the tolerance test pins the estimates against
    exact percentiles."""
    ev = load(spark, sf_dir, "events")
    q = F.percentile_approx("value", F.array(F.lit(0.5), F.lit(0.9), F.lit(0.99)), 10000)
    return (
        ev.groupBy("event_type")
        .agg(q.alias("qs"), F.count(F.lit(1)).alias("n"))
        .select(
            "event_type",
            F.round(F.col("qs")[0], 6).alias("p50"),
            F.round(F.col("qs")[1], 6).alias("p90"),
            F.round(F.col("qs")[2], 6).alias("p99"),
            "n",
        )
    )


@register(
    "agg_mode_per_group",
    category="agg",
    oracle="""
        SELECT lang,
               (max({'n': n, 's': source})).s AS modal_source,
               (max({'n': n, 's': source})).n AS n_docs
        FROM (
            SELECT lang, source, count(*) AS n
            FROM documents GROUP BY lang, source
        )
        GROUP BY lang
    """,
)
def agg_mode_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mode (most frequent value) per group — two chained partial
    aggregations, no sort, no window: count per (group, value), then
    argmax per group via ``max_by`` over the (count, value) struct.
    The struct tie-break makes the winner deterministic when counts
    tie (largest value lexicographically), matching the oracle's
    struct-max — plain ``mode()``/``arg_max`` leave ties
    engine-defined."""
    d = load(spark, sf_dir, "documents")
    counts = d.groupBy("lang", "source").agg(F.count(F.lit(1)).alias("n"))
    pick = F.struct(F.col("n"), F.col("source"))
    return counts.groupBy("lang").agg(
        F.max_by("source", pick).alias("modal_source"),
        F.max("n").alias("n_docs"),
    )


@register(
    "agg_grouping_sets_explicit",
    category="agg",
    oracle="""
        SELECT CAST(year(o_orderdate) AS INTEGER) AS yr,
               o_orderpriority AS pri,
               count(*) AS n,
               CAST(sum(TRY_CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   / 100.0 AS total
        FROM orders
        GROUP BY GROUPING SETS ((year(o_orderdate)), (o_orderpriority))
    """,
)
def agg_grouping_sets_explicit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Disjoint GROUPING SETS ((yr), (pri)) — two independent
    one-dimensional reports in ONE scan + ONE expand, a shape neither
    ROLLUP (`agg_grouping_sets`) nor CUBE covers. At 100 TB this
    replaces two full-table aggregation jobs with one; Spark's Expand
    node doubles rows only at the map side, and both partial
    aggregations ride the same exchange."""
    o = load(spark, sf_dir, "orders").select(
        F.year("o_orderdate").alias("yr"),
        F.col("o_orderpriority").alias("pri"),
        "o_totalprice",
    )
    return o.groupingSets([["yr"], ["pri"]], "yr", "pri").agg(
        F.count(F.lit(1)).alias("n"),
        (F.sum(cents("o_totalprice")) / F.lit(100.0)).alias("total"),
    )


@register(
    "agg_filtered_conditional",
    category="agg",
    oracle="""
        SELECT l_returnflag,
               count(*) AS n_all,
               count(*) FILTER (WHERE l_discount > 0.05) AS n_discounted,
               CAST(sum(TRY_CAST(round(l_extendedprice * 100) AS BIGINT))
                    FILTER (WHERE year(l_shipdate) = 1996) AS BIGINT)
                   / 100.0 AS rev_1996,
               round(avg(l_quantity) FILTER (WHERE l_quantity >= 25),
                     6) AS avg_bulk_qty
        FROM lineitem
        GROUP BY l_returnflag
    """,
)
def agg_filtered_conditional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTER-clause aggregates: several differently-predicated
    aggregates over ONE scan and ONE shuffle (vs. N filtered jobs).
    Spark expresses the filter as ``agg(expr, when(pred))`` — same
    partial-aggregation plan as the SQL FILTER clause; conditions
    evaluate inside whole-stage codegen."""
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_all"),
        F.count(F.when(F.col("l_discount") > 0.05, 1)).alias("n_discounted"),
        (
            F.sum(
                F.when(F.year("l_shipdate") == 1996, cents("l_extendedprice"))
            )
            / F.lit(100.0)
        ).alias("rev_1996"),
        F.round(
            F.avg(F.when(F.col("l_quantity") >= 25, F.col("l_quantity"))), 6
        ).alias("avg_bulk_qty"),
    )


@register(
    "agg_unpivot_melt",
    category="agg",
    oracle="""
        SELECT l_orderkey, l_linenumber, 'l_quantity' AS measure,
               CAST(l_quantity AS DOUBLE) AS val
        FROM lineitem WHERE l_orderkey % 500 = 0
        UNION ALL
        SELECT l_orderkey, l_linenumber, 'l_discount', l_discount
        FROM lineitem WHERE l_orderkey % 500 = 0
        UNION ALL
        SELECT l_orderkey, l_linenumber, 'l_tax', l_tax
        FROM lineitem WHERE l_orderkey % 500 = 0
    """,
)
def agg_unpivot_melt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long melt (the inverse of ``agg_pivot``): three measure
    columns unpivot to (measure, val) rows. Spark's native ``unpivot``
    is a single Expand over one scan — the oracle's UNION ALL of three
    scans shows exactly the work it saves. Values cast to a common
    double type, the unpivot contract."""
    li = (
        load(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") % 500 == 0)
        .select(
            "l_orderkey",
            "l_linenumber",
            F.col("l_quantity").cast("double"),
            F.col("l_discount").cast("double"),
            F.col("l_tax").cast("double"),
        )
    )
    return li.unpivot(
        ["l_orderkey", "l_linenumber"],
        ["l_quantity", "l_discount", "l_tax"],
        "measure",
        "val",
    )


@register(
    "agg_rfm_segmentation",
    category="agg",
    oracle="""
        WITH cust AS (
            SELECT o_custkey,
                   datediff('day', DATE '1990-01-01', max(o_orderdate))
                       AS r_days,
                   count(*) AS f,
                   CAST(sum(CAST(floor(o_totalprice * 100.0) AS BIGINT))
                        AS BIGINT) AS m_cents
            FROM orders GROUP BY o_custkey
        ),
        q AS (
            SELECT quantile_cont(r_days, 0.25) AS r1,
                   quantile_cont(r_days, 0.50) AS r2,
                   quantile_cont(r_days, 0.75) AS r3,
                   quantile_cont(f, 0.25) AS f1,
                   quantile_cont(f, 0.50) AS f2,
                   quantile_cont(f, 0.75) AS f3,
                   quantile_cont(m_cents, 0.25) AS m1,
                   quantile_cont(m_cents, 0.50) AS m2,
                   quantile_cont(m_cents, 0.75) AS m3
            FROM cust
        )
        SELECT o_custkey,
               1 + CAST(r_days > r1 AS INT) + CAST(r_days > r2 AS INT)
                 + CAST(r_days > r3 AS INT) AS r_score,
               1 + CAST(f > f1 AS INT) + CAST(f > f2 AS INT)
                 + CAST(f > f3 AS INT) AS f_score,
               1 + CAST(m_cents > m1 AS INT) + CAST(m_cents > m2 AS INT)
                 + CAST(m_cents > m3 AS INT) AS m_score
        FROM cust CROSS JOIN q
    """,
)
def agg_rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation (recency / frequency / monetary
    quartile scores 1-4) — done the way it survives 100 TB: NOT a
    global ntile window (one partition, the documented
    window_ntile_cume trap) but three exact quartile boundaries
    computed in one tiny aggregate and broadcast back as a 1-row cross
    join; scoring is then pure codegen comparisons. Exactness
    discipline: recency as integer days, monetary as floor-cents
    BIGINT sums (see tpch.py — double sums are partial-agg-order-
    dependent), so the quantile inputs are identical integers on both
    engines and the interpolated boundaries match bit-for-bit."""
    o = load(spark, sf_dir, "orders")
    cust = o.groupBy("o_custkey").agg(
        F.datediff(F.max("o_orderdate"), F.lit("1990-01-01")).alias("r_days"),
        F.count(F.lit(1)).alias("f"),
        F.sum(
            F.floor(F.col("o_totalprice") * F.lit(100.0)).cast("long")
        ).alias("m_cents"),
    )
    q = cust.agg(
        *[
            F.expr(f"percentile({c}, {p})").alias(f"{c[0]}{i}")
            for c in ("r_days", "f", "m_cents")
            for i, p in ((1, 0.25), (2, 0.50), (3, 0.75))
        ]
    )
    score = lambda x, a: (  # noqa: E731
        F.lit(1)
        + (F.col(x) > F.col(f"{a}1")).cast("int")
        + (F.col(x) > F.col(f"{a}2")).cast("int")
        + (F.col(x) > F.col(f"{a}3")).cast("int")
    )
    return cust.crossJoin(F.broadcast(q)).select(
        "o_custkey",
        score("r_days", "r").alias("r_score"),
        score("f", "f").alias("f_score"),
        score("m_cents", "m").alias("m_score"),
    )


@register(
    "agg_pareto_concentration",
    category="agg",
    oracle="""
        WITH cust AS (
            SELECT o_custkey,
                   CAST(sum(CAST(floor(o_totalprice * 100.0) AS BIGINT))
                        AS BIGINT) AS m_cents
            FROM orders GROUP BY o_custkey
        ),
        ranked AS (
            SELECT m_cents,
                   CAST(sum(m_cents) OVER (ORDER BY m_cents DESC, o_custkey
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                        AS BIGINT) AS running,
                   row_number() OVER (ORDER BY m_cents DESC, o_custkey)
                       AS rk,
                   CAST(sum(m_cents) OVER () AS BIGINT) AS total,
                   count(*) OVER () AS n_cust
        FROM cust
        )
        SELECT min(rk) AS n_top_customers,
               CAST(max(n_cust) AS BIGINT) AS n_customers,
               round(CAST(min(rk) AS DOUBLE) / max(n_cust), 6)
                   AS top_share
        FROM ranked
        WHERE running * 5 >= total * 4
    """,
)
def agg_pareto_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto/80-20 concentration: how many of the biggest customers
    produce 80% of revenue, and what fraction of the customer base
    that is. One number every revenue review asks for.

    The windows are global but their INPUT is the per-customer
    aggregate (|customers| rows, not |orders|) — the same
    bounded-before-global-window justification as
    window_moving_avg_range. The 80% test is integer algebra
    (``running·5 ≥ total·4`` on exact cent sums), so no float
    boundary can flip the count."""
    o = load(spark, sf_dir, "orders")
    cust = o.groupBy("o_custkey").agg(
        F.sum(
            F.floor(F.col("o_totalprice") * F.lit(100.0)).cast("long")
        ).alias("m_cents")
    )
    w_run = Window.orderBy(F.desc("m_cents"), F.asc("o_custkey")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    w_all = Window.partitionBy()
    ranked = cust.select(
        F.sum("m_cents").over(w_run).alias("running"),
        F.row_number()
        .over(Window.orderBy(F.desc("m_cents"), F.asc("o_custkey")))
        .alias("rk"),
        F.sum("m_cents").over(w_all).alias("total"),
        F.count(F.lit(1)).over(w_all).alias("n_cust"),
    )
    return (
        ranked.filter(F.col("running") * 5 >= F.col("total") * 4)
        .agg(
            F.min("rk").alias("n_top_customers"),
            F.max("n_cust").alias("n_customers"),
            F.round(
                F.min("rk").cast("double") / F.max("n_cust"), 6
            ).alias("top_share"),
        )
    )


@register(
    "agg_heavy_hitters_topk",
    category="agg",
    oracle="""
        WITH keyed AS (
            SELECT CASE WHEN user_id % 7 = 0 THEN user_id % 3
                        ELSE user_id END AS item
            FROM events
        )
        SELECT item, count(*) AS cnt
        FROM keyed GROUP BY item
        ORDER BY cnt DESC, item LIMIT 3
    """,
)
def agg_heavy_hitters_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters via the ``approx_top_k`` sketch (Spark 4's
    space-saving-style summary) — the bounded-memory answer to "which
    keys dominate an unbounded key space", completing the mergeable-
    sketch family next to HLL distinct (``agg_hll_mergeable``) and GK
    quantiles (``agg_quantiles_approx``).

    The key is deterministically skewed in-query (every 7th user
    collapses onto 3 hot buckets, each drawing ~5% of all rows vs
    ~0.07% for a cold user) so the top-3 set is unambiguous. At the
    graded corpus sizes the sketch capacity (16384) exceeds the
    distinct-key count, where the summary is provably exact — hence a
    full value-hash oracle, not rows-only; the identical query over
    100 TB degrades gracefully to ε-approximate counts in the same
    fixed memory, which is the point of the sketch. Output is re-sorted
    (count desc, item asc) because the sketch's own tie order is
    engine-internal. ONE partial-aggregated exchange: sketches merge
    associatively, exactly like the HLL rollup."""
    ev = load(spark, sf_dir, "events")
    keyed = ev.select(
        F.when(F.col("user_id") % 7 == 0, F.col("user_id") % 3)
        .otherwise(F.col("user_id"))
        .alias("item")
    )
    hh = keyed.select(
        F.explode(F.expr("approx_top_k(item, 3, 16384)")).alias("hh")
    )
    return (
        hh.select(F.col("hh.item").alias("item"), F.col("hh.count").alias("cnt"))
        .orderBy(F.desc("cnt"), "item")
    )


@register(
    "agg_decimal_money",
    category="agg",
    oracle="""
        SELECT l_returnflag,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)))
                    AS DECIMAL(18,2)) AS sum_price,
               CAST(min(CAST(l_extendedprice AS DECIMAL(18,2)))
                    AS DECIMAL(18,2)) AS min_price,
               CAST(max(CAST(l_extendedprice AS DECIMAL(18,2)))
                    AS DECIMAL(18,2)) AS max_price,
               count(*) AS n_lines
        FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_decimal_money(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact money aggregation on the DECIMAL type — the type-system
    path to the same guarantee the repo's BIGINT-cents discipline
    provides by hand: decimal sums are fixed-point integer arithmetic
    underneath, so the aggregate is order-independent at any partition
    count and both engines agree digit-for-digit with no rounding
    step at all.

    The 2dp-exact double column casts to DECIMAL(18,2) identically in
    both engines (values sit ~4e-12 from the exact cent, never near a
    .005 edge); Spark widens the sum to decimal(28,2) internally and
    the final cast restores the declared scale. At 100 TB this is the
    preferred money path when the schema owns the type; the cents
    pattern remains for columns stuck as doubles."""
    li = load(spark, sf_dir, "lineitem")
    dec = F.col("l_extendedprice").cast("decimal(18,2)")
    return li.groupBy("l_returnflag").agg(
        F.sum(dec).cast("decimal(18,2)").alias("sum_price"),
        F.min(dec).cast("decimal(18,2)").alias("min_price"),
        F.max(dec).cast("decimal(18,2)").alias("max_price"),
        F.count(F.lit(1)).alias("n_lines"),
    )


@register(
    "agg_bitmap_distinct",
    category="agg",
    oracle="""
        WITH words AS (
            SELECT event_type,
                   CAST(user_id // 32 AS BIGINT) AS word,
                   bit_or(CAST(1 AS BIGINT) << CAST(user_id % 32 AS INTEGER))
                       AS mask
            FROM events GROUP BY event_type, word
        )
        SELECT event_type,
               CAST(sum(bit_count(mask)) AS BIGINT) AS users
        FROM words GROUP BY event_type
    """,
)
def agg_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distinct count via mergeable integer bitmaps — the
    roaring-bitmap pattern composed from pure relational ops: bucket
    the key space into 32-bit words, OR the membership bits per
    (group, word), then popcount-sum. Same answer as count(DISTINCT)
    but the partial state is one BIGINT per occupied word — mergeable
    across days/partitions like the HLL sketch family, yet exact.

    At 100 TB this is the incremental-distinct pattern for DENSE
    integer key spaces (user ids): per-day word masks persist and
    re-aggregate with bit_or — touch-history-once, no re-scan; HLL
    (agg_hll_mergeable) remains the sparse/unbounded-key fallback.
    Both aggregation levels are map-side partial; 32-bit words keep
    every shifted value positive in an int64 on both engines (shifting
    into bit 63 would flip the sign — semantically fine for bit_or,
    needlessly engine-sensitive)."""
    ev = load(spark, sf_dir, "events")
    words = ev.groupBy(
        "event_type",
        F.floor(F.col("user_id") / 32).alias("word"),
    ).agg(
        F.bit_or(
            # shiftleft's numBits parameter is Python-int-only in the
            # DataFrame API; the SQL form takes a per-row column
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(user_id % 32 AS INT))")
        ).alias("mask")
    )
    return words.groupBy("event_type").agg(
        F.sum(F.bit_count("mask")).alias("users")
    )


# Count-Min sketch geometry: 4 independent hash rows × 256 buckets.
# Width 256 ≫ the ~5k distinct users at sf0.1 would under-size a real
# deployment — deliberately so here: collisions are what make the
# overestimate property (est ≥ exact) interesting to witness.
_CMS_DEPTH = 4
_CMS_WIDTH = 256


@register(
    "agg_countmin_sketch",
    category="agg",
    oracle=f"""
        WITH exact AS (
            SELECT user_id, count(*) AS n FROM events GROUP BY user_id
        ),
        cms AS (
            SELECT d.d,
                   CAST(concat('0x', substring(md5(d.d || ':' || user_id),
                                               1, 15)) AS BIGINT)
                       % {_CMS_WIDTH} AS bucket,
                   CAST(sum(n) AS BIGINT) AS cnt
            FROM exact, (SELECT unnest(range({_CMS_DEPTH})) AS d) d
            GROUP BY 1, 2
        ),
        top10 AS (
            SELECT user_id, n FROM exact
            ORDER BY n DESC, user_id LIMIT 10
        )
        SELECT t.user_id, t.n AS exact_n,
               CAST(min(c.cnt) AS BIGINT) AS cms_est
        FROM top10 t
        JOIN (SELECT unnest(range({_CMS_DEPTH})) AS d) d ON true
        JOIN cms c
          ON c.d = d.d
         AND c.bucket = CAST(concat('0x',
                 substring(md5(d.d || ':' || t.user_id), 1, 15)) AS BIGINT)
                 % {_CMS_WIDTH}
        GROUP BY t.user_id, t.n
    """,
)
def agg_countmin_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch point queries: per-user event counts estimated
    from a 4×256 CMS, reported against the exact counts for the 10
    heaviest users (est ≥ exact always; equality when no collision).

    The mergeable-sketch pattern in exact integers: the sketch table is
    (depth, bucket) → BIGINT count — 1,024 rows regardless of corpus
    size — built by ONE keyed aggregation, and sketches from different
    days/partitions union-merge by summing buckets (same
    touch-history-once shape as agg_hll_mergeable, but exact-arithmetic
    and therefore fully oracle-graded: the bucket hash is the
    md5-portable BIGINT, identical in both engines). The per-user
    exact rollup feeds BOTH the sketch build and the top-10 truth, so
    the fact table is scanned and shuffled once.

    At 100 TB: the 1,024-row sketch answers any point query without
    re-scanning history — the CMS trades a bounded overestimate for
    O(1) state, where the exact rollup's state is one row per key."""
    exact = (
        load(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .cache()
    )
    # r10 (guide §2.4): the depth dimension is generated INLINE with
    # explode(sequence(0, depth-1)) instead of
    # crossJoin(broadcast(spark.range(depth))) — the crossJoin form
    # planned a BroadcastNestedLoopJoin + BroadcastExchange + Range
    # stage on EACH of the two consumers (4 extra stages of pure
    # fixed overhead per run for a 4-row constant). Same rows: every
    # input row fans out to the identical d = 0..3 INT values.
    d_seq = F.explode(F.expr(f"sequence(0, {_CMS_DEPTH - 1})")).alias("d")
    bucket = (
        F.expr(
            "CAST(conv(substring(md5(concat(d, ':', user_id)), 1, 15),"
            " 16, 10) AS BIGINT)"
        )
        % _CMS_WIDTH
    )
    cms = (
        exact.select("user_id", "n", d_seq)
        .select("d", bucket.alias("bucket"), "n")
        .groupBy("d", "bucket")
        .agg(F.sum("n").alias("cnt"))
    )
    top10 = exact.orderBy(F.desc("n"), F.asc("user_id")).limit(10)
    return (
        top10.select("user_id", "n", d_seq)
        .select("user_id", F.col("n").alias("exact_n"), "d", bucket.alias("bucket"))
        .join(cms, ["d", "bucket"])
        .groupBy("user_id", "exact_n")
        .agg(F.min("cnt").alias("cms_est"))
    )


@register(
    "agg_bitmap_overlap",
    category="agg",
    oracle="""
        WITH words AS (
            SELECT event_type,
                   CAST(user_id // 32 AS BIGINT) AS word,
                   bit_or(CAST(1 AS BIGINT) << CAST(user_id % 32 AS INTEGER))
                       AS mask
            FROM events GROUP BY event_type, word
        ),
        totals AS (
            SELECT event_type, CAST(sum(bit_count(mask)) AS BIGINT) AS n
            FROM words GROUP BY event_type
        ),
        pairs AS (
            SELECT a.event_type AS type_a, b.event_type AS type_b,
                   CAST(sum(bit_count(a.mask & b.mask)) AS BIGINT)
                       AS n_both
            FROM words a
            JOIN words b ON a.word = b.word AND a.event_type < b.event_type
            GROUP BY a.event_type, b.event_type
        )
        SELECT type_a, type_b, n_both,
               CAST(ta.n + tb.n - n_both AS BIGINT) AS n_either,
               n_both * 1.0 / (ta.n + tb.n - n_both) AS jaccard
        FROM pairs
        JOIN totals ta ON ta.event_type = type_a
        JOIN totals tb ON tb.event_type = type_b
        WHERE n_both > 0
    """,
)
def agg_bitmap_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact audience overlap between event types — |A∩B|, |A∪B| and
    Jaccard per type pair — via mergeable bitmap set algebra: the
    per-type word masks that agg_bitmap_distinct builds, intersected
    and unioned with single AND/OR instructions per 32-user word.

    This is THE reason bitmap indexes exist in analytics engines:
    distinct-user overlap between segments needs the identity of every
    member, which a count can't give you — but a bitmap gives it in
    1/32nd the rows, the set ops vectorize to bitwise instructions,
    and per-day bitmaps bit_or-merge incrementally like the HLL/CMS
    family (touch-history-once) while staying EXACT. The pair join is
    keyed on the word index, so work is Σ_word (types-present)² —
    bounded by the type cardinality, never by user count. The
    intersection comes from the shared-word inner join (a word missing
    from a type contributes no intersection bits); the UNION must not
    — words private to one type still count, so |A∪B| is
    inclusion-exclusion over the per-type totals, never a popcount of
    OR over shared words only. Jaccard is one IEEE division of exact
    BIGINTs. At 100 TB: dense user-id spaces → bitmaps (this query);
    sparse/unbounded key spaces → the HLL path (approximate) — both
    union-mergeable."""
    ev = load(spark, sf_dir, "events")
    words = ev.groupBy(
        "event_type",
        F.floor(F.col("user_id") / 32).alias("word"),
    ).agg(
        F.bit_or(
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(user_id % 32 AS INT))")
        ).alias("mask")
    )

    # three consumers (both pair sides + totals) — same persist
    # discipline as every multi-referenced substrate in this repo
    words = words.cache()
    totals = words.groupBy("event_type").agg(
        F.sum(F.bit_count("mask")).alias("n")
    )
    a = words.select(
        F.col("event_type").alias("type_a"), "word", F.col("mask").alias("ma")
    )
    b = words.select(
        F.col("event_type").alias("type_b"), "word", F.col("mask").alias("mb")
    )
    inter = (
        a.join(b, ["word"])
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(
            F.sum(F.bit_count(F.col("ma").bitwiseAND(F.col("mb")))).alias("n_both")
        )
        .filter(F.col("n_both") > 0)
    )
    ta = totals.select(F.col("event_type").alias("type_a"), F.col("n").alias("na"))
    tb = totals.select(F.col("event_type").alias("type_b"), F.col("n").alias("nb"))
    either = F.col("na") + F.col("nb") - F.col("n_both")
    return (
        inter.join(F.broadcast(ta), "type_a")
        .join(F.broadcast(tb), "type_b")
        .select(
            "type_a",
            "type_b",
            "n_both",
            either.alias("n_either"),
            (F.col("n_both") * F.lit(1.0) / either).alias("jaccard"),
        )
    )


@register(
    "agg_linear_regression",
    category="agg",
    oracle="""
        WITH pairs AS (
            SELECT event_type,
                   CAST(datediff('day', DATE '2024-01-01', CAST(ts AS DATE))
                        AS BIGINT) AS x,
                   TRY_CAST(round(value * 100) AS BIGINT) AS y
            FROM events
            WHERE ts IS NOT NULL
              AND TRY_CAST(round(value * 100) AS BIGINT) IS NOT NULL
        ),
        s AS (
            SELECT event_type,
                   count(*) AS n,
                   CAST(sum(x) AS BIGINT) AS sx,
                   CAST(sum(y) AS BIGINT) AS sy,
                   CAST(sum(x * y) AS BIGINT) AS sxy,
                   CAST(sum(x * x) AS BIGINT) AS sx2,
                   CAST(sum(y * y) AS BIGINT) AS sy2
            FROM pairs GROUP BY event_type
        ),
        v AS (
            SELECT event_type, n,
                   n * sxy - sx * sy AS vxy,
                   n * sx2 - sx * sx AS vx,
                   n * sy2 - sy * sy AS vy,
                   sx, sy
            FROM s
        )
        SELECT event_type, n AS n_pairs,
               CASE WHEN vx > 0
                    THEN CAST(vxy AS DOUBLE) / CAST(vx AS DOUBLE)
               END AS slope_cents_per_day,
               CASE WHEN vx > 0
                    THEN (CAST(sy AS DOUBLE)
                          - (CAST(vxy AS DOUBLE) / CAST(vx AS DOUBLE))
                            * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE)
               END AS intercept_cents,
               CASE WHEN vx > 0 AND vy > 0
                    THEN (CAST(vxy AS DOUBLE) * CAST(vxy AS DOUBLE))
                         / (CAST(vx AS DOUBLE) * CAST(vy AS DOUBLE))
               END AS r2
        FROM v
    """,
)
def agg_linear_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type least-squares trend of daily spend: slope (cents/day),
    intercept, and R² of ``value`` against days-since-2024-01-01 —
    the drift/trend detector every metrics pipeline carries.

    The engines' native ``regr_slope`` is NOT used, deliberately: its
    sufficient statistics are double sums, whose partial-aggregation
    order drifts the last ULPs differently per engine/partitioning —
    the same failure class the exact-cents discipline (_util.cents)
    exists to kill. Instead both sides aggregate the five sufficient
    statistics Σx Σy Σxy Σx² Σy² as EXACT BIGINTs (x = small day
    offset from a fixed anchor, y = exact cents; a day offset rather
    than epoch days keeps n·Σxy within int64 at graded scales — the
    headroom boundary is documented here: at SF≳1 the y² term needs
    int128/decimal partials) and derive slope = (nΣxy−ΣxΣy)/(nΣx²−Σx²)
    with one identical IEEE expression tree at the edge — every
    emitted double is bit-deterministic at any partition count, no
    rounding needed. Single-point / zero-variance groups emit NULLs
    (vx=0 guard), never a division error. One keyed shuffle with
    map-side partial sums; sufficient statistics ARE the mergeable
    aggregation state, exactly how it distributes at 100 TB."""
    # filter on cents-castability, not mere non-null: a NaN/inf/1e300
    # value degrades cents() to NULL (try_cast contract) and must drop
    # the PAIR — otherwise n counts rows whose y the sums skipped and
    # every statistic silently skews
    ev = load(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull() & cents("value").isNotNull()
    )
    x = F.datediff(F.to_date("ts"), F.lit("2024-01-01").cast("date")).cast(
        "long"
    )
    y = cents("value")
    s = ev.select("event_type", x.alias("x"), y.alias("y")).groupBy(
        "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sx2"),
        F.sum(F.col("y") * F.col("y")).alias("sy2"),
    )
    vxy = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    vx = F.col("n") * F.col("sx2") - F.col("sx") * F.col("sx")
    vy = F.col("n") * F.col("sy2") - F.col("sy") * F.col("sy")
    slope = vxy.cast("double") / vx.cast("double")
    return s.select(
        "event_type",
        F.col("n").alias("n_pairs"),
        F.when(vx > 0, slope).alias("slope_cents_per_day"),
        F.when(
            vx > 0,
            (F.col("sy").cast("double") - slope * F.col("sx").cast("double"))
            / F.col("n").cast("double"),
        ).alias("intercept_cents"),
        F.when(
            (vx > 0) & (vy > 0),
            (vxy.cast("double") * vxy.cast("double"))
            / (vx.cast("double") * vy.cast("double")),
        ).alias("r2"),
    )


# Two-level exact-quantile selector (internal r9, driver round 7): the
# value-bucket width for the coarse pass. A bucket spans EXACTLY 4096
# consecutive integer cents (signed domains included — see
# _bucket_col), so the fine pass's within-bucket rollup relation holds
# ≤4096 rows per (group, pick) WHATEVER the corpus size or value skew —
# the same bounded-partition discipline as text_vocab_growth's
# coarse-group decile boundaries.
_RANK_BUCKET_WIDTH = 4096


def _bucket_col(vcol: str):
    """Exact-floor-division bucket key over a signed integer column:
    ``floor(v / _RANK_BUCKET_WIDTH)`` computed in pure integer algebra
    (``(v - pmod(v, W)) div W`` — no double round-trip, exact at any
    BIGINT). Spark's ``div`` truncates toward zero, which would fuse
    [-4095, 4095] into one double-width bucket 0 on mixed-sign domains
    and break the "≤4096 distinct values per bucket" partition bound
    the two-level selectors rely on (round-7 ADVICE fix); floor
    division makes every bucket exactly _RANK_BUCKET_WIDTH wide."""
    w = _RANK_BUCKET_WIDTH
    return F.expr(f"(({vcol}) - pmod(({vcol}), {w})) div {w}")


def _rank_pick_two_level(base, gcol, vcol, magg, picks):
    """Exact order statistics with BOUNDED partitions at any corpus
    size: for each ``(alias, num, den)`` in *picks*, the smallest
    *vcol* whose ascending-value cumulative weight clears num/den of
    the group total. Returns one row per (group, pick) with columns
    (gcol, pick, v, tw).

    The r9 scale fix behind agg_exact_percentiles_grouped and
    agg_weighted_median: their original cumulative windows partitioned
    by a HANDFUL of groups (3 return flags / 5 event types), so the
    per-group sort put the whole corpus through 3-5 tasks — the 100x
    events tier measured weighted-median at 69 s / exponent 0.93 (one
    task sorting 5M rows; at 100 TB, one task sorting 33 TB). Both
    answers are pure VALUE selections (within a tied run every row
    carries the same value, so row-level ranks are never needed), so
    the plan decomposes exactly:

    1. coarse: weight per (group, floor(value/4096)) bucket straight off
       the base rows — ONE corpus pass through a map-side-combined
       aggregation whose shuffle payload is the tiny bucket relation,
       never the corpus; the per-group bucket cumulative is bounded
       by the VALUE DOMAIN (÷4096), not the corpus (money cents here:
       a few thousand buckets; a domain past ~10^10 values would need
       a second bucketing level, the same documented extension as
       text_vocab_growth past 10^12 docs);
    2. the threshold-crossing bucket per pick (cum·den ≥ num·tw on
       the bucket cumulative) joins back to the base rows by
       BROADCAST (≤ groups × picks rows) — a second corpus pass that
       FILTERS to the crossing buckets' rows before anything wide
       happens;
    3. the surviving rows (≈ corpus / #buckets per pick) roll up per
       distinct value and take the fine cumulative over the ≤4096
       distinct values of that one bucket.

    All integer algebra (cross-multiplied thresholds — no float rank
    arithmetic), identical answers to the one-window form the DuckDB
    oracles still use. Two corpus passes, zero corpus-sized shuffle
    payloads, every window partition bounded.

    The bucket-cumulative relation is PERSISTED (r9, guide §2.4):
    `cross` references it twice (the crossing-bucket aggregation and
    the `before` join) and the pruned subtrees are canonically
    different, so without the cache the coarse corpus pass planned and
    RAN twice — three corpus scans total where the design declares
    two. The relation is value-domain-bounded (|domain|/4096 rows per
    group), never corpus-sized, so the persist budget is O(buckets)
    at any scale."""
    b2 = base.withColumn("bkt", _bucket_col(vcol))
    wg = Window.partitionBy(gcol)
    rb = b2.groupBy(gcol, "bkt").agg(magg.alias("bm"))
    rb = rb.select(
        gcol,
        "bkt",
        "bm",
        F.sum("bm")
        .over(wg.orderBy("bkt").rowsBetween(Window.unboundedPreceding, 0))
        .alias("cum"),
        F.sum("bm").over(wg).alias("tw"),
    ).cache()
    # all crossing buckets in ONE conditional aggregation over the
    # (tiny) bucket relation, melted to (group, pick) rows — one small
    # job instead of a filter+agg+join chain per pick
    stack = ", ".join(
        f"'{alias}', {num}L, {den}L, bkt_{alias}" for alias, num, den in picks
    )
    cross = (
        rb.groupBy(gcol)
        .agg(
            F.max("tw").alias("tw"),
            *[
                F.min(
                    F.when(
                        F.col("cum") * den >= F.col("tw") * num, F.col("bkt")
                    )
                ).alias(f"bkt_{alias}")
                for alias, num, den in picks
            ],
        )
        .select(
            gcol,
            "tw",
            F.expr(
                f"stack({len(picks)}, {stack}) AS (pick, num, den, bkt)"
            ),
        )
        .join(
            rb.select(gcol, "bkt", (F.col("cum") - F.col("bm")).alias("before")),
            [gcol, "bkt"],
        )
    )
    fine = (
        b2.join(F.broadcast(cross), [gcol, "bkt"])
        .groupBy(gcol, "pick", vcol, "before", "tw", "num", "den")
        .agg(magg.alias("m"))
    )
    wf = Window.partitionBy(gcol, "pick").orderBy(vcol)
    fine = fine.select(
        gcol,
        "pick",
        vcol,
        "tw",
        "num",
        "den",
        (
            F.col("before")
            + F.sum("m")
            .over(wf.rowsBetween(Window.unboundedPreceding, 0))
        ).alias("cumw"),
    )
    return (
        fine.filter(F.col("cumw") * F.col("den") >= F.col("tw") * F.col("num"))
        .groupBy(gcol, "pick")
        .agg(F.min(F.col(vcol)).alias("v"), F.max("tw").alias("tw"))
    )


@register(
    "agg_exact_percentiles_grouped",
    category="agg",
    oracle="""
        WITH y AS (
            SELECT event_type, event_id,
                   TRY_CAST(round(value * 100) AS BIGINT) AS y
            FROM events
            WHERE TRY_CAST(round(value * 100) AS BIGINT) IS NOT NULL
        ),
        ranked AS (
            SELECT event_type, y,
                   row_number() OVER (PARTITION BY event_type
                                      ORDER BY y, event_id) AS rn,
                   count(*) OVER (PARTITION BY event_type) AS n
            FROM y
        )
        SELECT event_type, max(n) AS n,
               max(CASE WHEN rn = CAST(ceil(n * 0.5) AS BIGINT)
                        THEN y END) AS p50_cents,
               max(CASE WHEN rn = CAST(ceil(n * 0.9) AS BIGINT)
                        THEN y END) AS p90_cents,
               max(CASE WHEN rn = CAST(ceil(n * 0.99) AS BIGINT)
                        THEN y END) AS p99_cents
        FROM ranked GROUP BY event_type
    """,
)
def agg_exact_percentiles_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT per-group percentiles (p50/p90/p99 of cents per event
    type) by rank selection — the deterministic twin of
    ``agg_quantiles_approx``: that query grades the GK-sketch path
    (rank-error-bounded, mergeable, the raw-corpus tool); this one
    grades the exact path and is what a billing/SLA report that cannot
    tolerate sketch error runs. Value at rank ⌈q·n⌉ of the per-group
    total order (cents, event_id) — integers in, integers out, no
    interpolation, so both engines agree bit-for-bit where their
    native continuous percentiles interpolate doubles and drift.

    Scale shape (r9 rewrite — see _rank_pick_two_level): the value at
    rank ⌈q·n⌉ is a pure VALUE selection (a tied run all carries the
    same value), so no per-group row sort is ever needed: two
    map-side-combined corpus passes with tiny shuffle payloads, then
    bounded bucket/fine cumulative windows. The original
    one-window form partitioned by the 5 event types — at the 100x
    events tier that put 2M-row sorts through single tasks (9.2 s,
    exponent 0.56; after: every window partition ≤4096 rows at any
    corpus size). ⌈q·n⌉ stays exact via the cross-multiplied integer
    threshold cum·den ≥ num·n (min y with cum ≥ ⌈q·n⌉ ⟺ cum·den ≥
    num·n for integer cum). Poisoned money values degrade out via
    the cents try_cast contract before ranking."""
    ev = load(spark, sf_dir, "events")
    y = ev.select("event_type", cents("value").alias("y")).filter(
        F.col("y").isNotNull()
    )
    ans = _rank_pick_two_level(
        y,
        "event_type",
        "y",
        F.count(F.lit(1)).cast("long"),
        [("p50_cents", 1, 2), ("p90_cents", 9, 10), ("p99_cents", 99, 100)],
    )
    return ans.groupBy("event_type").agg(
        F.max("tw").cast("long").alias("n"),
        F.max(F.when(F.col("pick") == "p50_cents", F.col("v"))).alias(
            "p50_cents"
        ),
        F.max(F.when(F.col("pick") == "p90_cents", F.col("v"))).alias(
            "p90_cents"
        ),
        F.max(F.when(F.col("pick") == "p99_cents", F.col("v"))).alias(
            "p99_cents"
        ),
    )


@register(
    "agg_weighted_median",
    category="agg",
    oracle="""
        WITH base AS (
            SELECT l_returnflag,
                   TRY_CAST(round(l_extendedprice * 100) AS BIGINT) AS px,
                   CAST(l_quantity AS BIGINT) AS qty
            FROM lineitem
            WHERE TRY_CAST(round(l_extendedprice * 100) AS BIGINT)
                      IS NOT NULL
              AND l_quantity IS NOT NULL
        ),
        c AS (
            SELECT l_returnflag, px,
                   sum(qty) OVER (PARTITION BY l_returnflag
                                  ORDER BY px
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                           AND CURRENT ROW) AS cumw,
                   sum(qty) OVER (PARTITION BY l_returnflag) AS tw
            FROM base
        )
        SELECT l_returnflag,
               CAST(max(tw) AS BIGINT) AS total_weight,
               min(CASE WHEN cumw * 2 >= tw THEN px END) AS w_median_cents,
               min(CASE WHEN cumw * 10 >= tw * 9 THEN px END) AS w_p90_cents
        FROM c GROUP BY l_returnflag
    """,
)
def agg_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT weighted percentiles (quantity-weighted median + p90 of
    unit price cents per return flag) — the aggregate engines don't
    ship: each row counts with its weight, so the median is the price
    at which half the total QUANTITY (not half the rows) has been
    covered. The training-mix analog is 'the quality score below which
    half the corpus TOKENS sit' — row-weighted quantiles misstate
    token-weighted budgets whenever document lengths skew.

    Formulation: the smallest value whose cumulative weight over
    ascending value clears the q·total threshold — integer cents,
    integer weights, integer threshold algebra (cumw·2 ≥ W,
    cumw·10 ≥ 9W), bit-identical cross-engine.

    Scale shape (r9 rewrite — see _rank_pick_two_level): the original
    cumulative window partitioned by the THREE return flags, so the
    per-group sort put the whole fact table through 3 tasks — the
    100x events tier measured 69 s / exponent 0.93 (one task sorting
    5M rows; at 100 TB, one task sorting 33 TB — the worst plain row
    of the whole sweep). Ties make the answer a pure VALUE selection,
    so the rewrite takes bucket-level weight straight off the base
    rows (map-side combine, bucket-relation-sized shuffle), finds the
    threshold-crossing bucket on the bounded price-domain cumulative,
    and broadcast-filters the base back to that one bucket's rows for
    the ≤4096-distinct-price fine cumulative — every window partition
    bounded at any corpus size. Same answers;
    the DuckDB oracle keeps the one-window form. Poisoned money
    degrades out via the cents try_cast contract (NULLs filtered
    identically both sides — Spark sorts NULLs first ascending while
    DuckDB sorts them last, so an unfiltered NULL would silently
    shift every quantile)."""
    li = load(spark, sf_dir, "lineitem")
    base = li.select(
        "l_returnflag",
        cents("l_extendedprice").alias("px"),
        F.col("l_quantity").cast("long").alias("qty"),
    ).filter(F.col("px").isNotNull() & F.col("qty").isNotNull())
    ans = _rank_pick_two_level(
        base,
        "l_returnflag",
        "px",
        F.sum("qty").cast("long"),
        [("w_median_cents", 1, 2), ("w_p90_cents", 9, 10)],
    )
    return ans.groupBy("l_returnflag").agg(
        F.max("tw").cast("long").alias("total_weight"),
        F.max(F.when(F.col("pick") == "w_median_cents", F.col("v"))).alias(
            "w_median_cents"
        ),
        F.max(F.when(F.col("pick") == "w_p90_cents", F.col("v"))).alias(
            "w_p90_cents"
        ),
    )


_KMV_K = 32


@register(
    "agg_kmv_mergeable",
    category="agg",
    oracle=f"""
        WITH uh AS (
            SELECT DISTINCT date_trunc('day', ts) AS day,
                   CAST(concat('0x', substring(md5(CAST(user_id AS VARCHAR)),
                                               1, 15)) AS BIGINT) AS h
            FROM events
            WHERE ts IS NOT NULL AND user_id IS NOT NULL
        ),
        ranked AS (
            SELECT day, h,
                   row_number() OVER (PARTITION BY day ORDER BY h) AS rn
            FROM uh
        ),
        state AS MATERIALIZED (
            SELECT day, h, rn FROM ranked WHERE rn <= {_KMV_K}
        ),
        per_day AS (
            SELECT CAST(epoch(day) AS BIGINT) AS day_epoch,
                   CAST(max(CASE WHEN rn = {_KMV_K} THEN h END) AS BIGINT)
                       AS kth_min,
                   md5(string_agg(CAST(h AS VARCHAR), ',' ORDER BY h))
                       AS state_md5,
                   count(*) AS state_size
            FROM state GROUP BY day
        ),
        merged_vals AS (
            SELECT h, row_number() OVER (ORDER BY h) AS rn
            FROM (SELECT DISTINCT h FROM state)
        ),
        merged AS (
            SELECT CAST(-1 AS BIGINT) AS day_epoch,
                   CAST(max(CASE WHEN rn = {_KMV_K} THEN h END) AS BIGINT)
                       AS kth_min,
                   md5(string_agg(CAST(h AS VARCHAR), ',' ORDER BY h))
                       AS state_md5,
                   count(*) AS state_size
            FROM merged_vals WHERE rn <= {_KMV_K}
        )
        SELECT * FROM per_day UNION ALL SELECT * FROM merged
    """,
)
def agg_kmv_mergeable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (k-minimum-values) mergeable distinct sketch, graded
    BIT-EXACTLY on the sketch STATE — the portable counterpart to
    ``agg_hll_mergeable`` (whose Datasketches registers exist in no
    other engine, hence its declared rows-only grade): the k smallest
    md5-derived user hashes per day ARE the sketch, the distinct
    estimate is the textbook (k-1)·2⁶⁰/kth_min division downstream,
    and MERGING days = k smallest over the union of the daily states
    — demonstrated here by building the ALL row from the persisted
    per-day states, never from a rescan of the raw data. md5 is the
    one hash both engines share (the MinHash portability lever), so
    state digests hash-match cross-engine.

    Scale shape: the per-day k-min is a rank window over the
    deduplicated (day, user-hash) relation — one keyed exchange, k
    rows of state per day retained (NOT a per-group collect_set,
    which would hold cardinality-sized state); the merge touches only
    days × k values. NULL ts/user filtered both sides (standing
    convention). Days with < k distinct users carry their full hash
    list and a NULL kth_min — the estimator's 'small range, count
    exactly' branch, preserved rather than papered over."""
    ev = load(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull() & F.col("user_id").isNotNull()
    )
    uh = ev.select(
        F.date_trunc("day", "ts").alias("day"),
        F.expr(
            "CAST(conv(substring(md5(CAST(user_id AS STRING)), 1, 15),"
            " 16, 10) AS BIGINT)"
        ).alias("h"),
    ).distinct()
    w = Window.partitionBy("day").orderBy("h")
    state = (
        uh.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _KMV_K)
        .cache()
    )
    digest = F.md5(
        F.concat_ws(
            ",", F.transform(F.array_sort(F.collect_list("h")), lambda x: x.cast("string"))
        )
    )
    per_day = state.groupBy("day").agg(
        F.max(F.when(F.col("rn") == _KMV_K, F.col("h"))).alias("kth_min"),
        digest.alias("state_md5"),
        F.count(F.lit(1)).alias("state_size"),
    ).select(
        F.unix_timestamp("day").alias("day_epoch"),
        "kth_min",
        "state_md5",
        "state_size",
    )
    wm = Window.orderBy("h")
    merged = (
        state.select("h")
        .distinct()
        .withColumn("rn", F.row_number().over(wm))
        .filter(F.col("rn") <= _KMV_K)
        .agg(
            F.max(F.when(F.col("rn") == _KMV_K, F.col("h"))).alias("kth_min"),
            digest.alias("state_md5"),
            F.count(F.lit(1)).alias("state_size"),
        )
        .select(
            F.lit(-1).cast("long").alias("day_epoch"),
            "kth_min",
            "state_md5",
            "state_size",
        )
    )
    return per_day.unionByName(merged)


@register(
    "agg_skewness_kurtosis",
    category="agg",
    oracle="""
        WITH b AS (
            SELECT event_type,
                   CAST(TRY_CAST(round(value * 100) AS BIGINT) AS HUGEINT) AS c
            FROM events
            WHERE event_type IS NOT NULL
              AND TRY_CAST(round(value * 100) AS BIGINT) IS NOT NULL
              AND abs(TRY_CAST(round(value * 100) AS BIGINT)) <= 1000000
        ),
        g AS (
            SELECT event_type, count(*) AS n,
                   sum(c) AS s1, sum(c * c) AS s2,
                   sum(c * c * c) AS s3, sum(c * c * c * c) AS s4
            FROM b GROUP BY event_type
        ),
        m AS (
            SELECT event_type, n,
                   CAST(s1 AS DOUBLE) / n AS mean,
                   CAST(s2 AS DOUBLE) / n AS p2,
                   CAST(s3 AS DOUBLE) / n AS p3,
                   CAST(s4 AS DOUBLE) / n AS p4
            FROM g
        ),
        cm AS (
            SELECT event_type, n, mean,
                   p2 - mean * mean AS m2,
                   p3 - 3.0 * mean * p2 + 2.0 * mean * mean * mean AS m3,
                   p4 - 4.0 * mean * p3 + 6.0 * mean * mean * p2
                      - 3.0 * mean * mean * mean * mean AS m4
            FROM m
        )
        SELECT event_type,
               CAST(n AS BIGINT) AS n_events,
               round(mean / 100.0, 6) AS mean_value,
               round(m3 / (sqrt(m2) * m2), 6) AS skewness,
               round(m4 / (m2 * m2) - 3.0, 6) AS kurtosis_excess
        FROM cm
    """,
)
def agg_skewness_kurtosis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order distribution shape per event type: skewness (g1)
    and excess kurtosis (g2) — the tail-shape report read before
    choosing an anomaly threshold (MAD vs z-score) or a histogram
    binning.

    Exactness discipline (the agg_corr_covar recipe, one moment
    higher): the four raw power sums run as EXACT integers over cents
    (Spark decimal(38,0), DuckDB HUGEINT — fourth powers of the
    gated |c| ≤ 1e6 domain stay within 128 bits past 1e14 rows), so
    partial-aggregation order cannot drift them; both engines then
    evaluate the IDENTICAL IEEE expression tree (central moments via
    the power-sum expansion, m2^1.5 as sqrt(m2)*m2 — never pow(),
    which is not correctly rounded) giving bit-identical doubles.
    Spark's built-in skewness()/kurtosis() are one-pass streamed
    moments whose last ULPs depend on partition order — unusable
    under a cross-engine hash gate.

    Scale: one partial-aggregated keyed exchange over ≤ |event_type|
    groups; the moment algebra is per-group scalar math on the
    5-row result. The |c| ≤ 1e6 gate mirrors the cents() TRY_CAST
    NULL-degrade on BOTH sides, so one poisoned row can neither abort
    the job nor overflow a 128-bit sum."""
    c0 = cents("value")
    ev = (
        load(spark, sf_dir, "events")
        .select("event_type", c0.alias("c"))
        .filter(
            F.col("event_type").isNotNull()
            & F.col("c").isNotNull()
            & (F.abs("c") <= F.lit(1_000_000))
        )
    )
    cd = F.col("c").cast("decimal(38,0)")
    g = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(cd).alias("s1"),
        F.sum(cd * cd).alias("s2"),
        F.sum(cd * cd * cd).alias("s3"),
        F.sum(cd * cd * cd * cd).alias("s4"),
    )
    n = F.col("n")
    mean = F.col("s1").cast("double") / n
    p2 = F.col("s2").cast("double") / n
    p3 = F.col("s3").cast("double") / n
    p4 = F.col("s4").cast("double") / n
    m2 = p2 - mean * mean
    m3 = p3 - F.lit(3.0) * mean * p2 + F.lit(2.0) * mean * mean * mean
    m4 = (
        p4
        - F.lit(4.0) * mean * p3
        + F.lit(6.0) * mean * mean * p2
        - F.lit(3.0) * mean * mean * mean * mean
    )
    return g.select(
        "event_type",
        n.cast("long").alias("n_events"),
        F.round(mean / F.lit(100.0), 6).alias("mean_value"),
        F.round(m3 / (F.sqrt(m2) * m2), 6).alias("skewness"),
        F.round(m4 / (m2 * m2) - F.lit(3.0), 6).alias("kurtosis_excess"),
    )


@register(
    "agg_welch_ttest",
    category="agg",
    oracle="""
        WITH b AS (
            SELECT event_type,
                   TRY_CAST(round(value * 100) AS BIGINT) AS c
            FROM events
            WHERE event_type IS NOT NULL
              AND TRY_CAST(round(value * 100) AS BIGINT) IS NOT NULL
              AND abs(TRY_CAST(round(value * 100) AS BIGINT)) <= 1000000
        ),
        g AS (
            SELECT event_type, count(*) AS n,
                   CAST(sum(c) AS HUGEINT) AS s1,
                   CAST(sum(c * c) AS HUGEINT) AS s2
            FROM b GROUP BY event_type HAVING count(*) >= 2
        ),
        m AS (
            SELECT event_type, CAST(n AS DOUBLE) AS n,
                   CAST(s1 AS DOUBLE) AS s1, CAST(s2 AS DOUBLE) AS s2
            FROM g
        ),
        v AS (
            SELECT event_type, n, s1 / n AS mean,
                   (s2 - (s1 * s1) / n) / (n - 1.0) AS var
            FROM m
        )
        SELECT a.event_type AS type_a, b.event_type AS type_b,
               CAST(a.n AS BIGINT) AS n_a, CAST(b.n AS BIGINT) AS n_b,
               round((a.mean - b.mean)
                     / sqrt(a.var / a.n + b.var / b.n), 6) AS t_stat,
               round(((a.var / a.n + b.var / b.n)
                      * (a.var / a.n + b.var / b.n))
                     / ((a.var / a.n) * (a.var / a.n) / (a.n - 1.0)
                        + (b.var / b.n) * (b.var / b.n) / (b.n - 1.0)),
                     6) AS welch_dof
        FROM v a JOIN v b ON a.event_type < b.event_type
    """,
)
def agg_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's two-sample t-test over every event-type pair — "did the
    mean move between segments, without assuming equal variances":
    the statistic and Welch–Satterthwaite degrees of freedom, the two
    numbers an experiment readout needs (the p-value is a pure
    driver-side CDF lookup on dof). Completes the inferential-stats
    family: corr/covar → regression → shape (skew/kurtosis) → tests.

    Exactness (the family recipe): n, Σc, Σc² per type as EXACT
    integers in one partial-aggregated exchange, then mean/variance/
    t/dof as ONE identical IEEE tree in both engines (squares written
    as x*x, never pow). The pairing joins the |event_type|-row moment
    relation to itself on an inequality — a broadcast nested loop over
    a ≤5-row build side, the allowlisted O(1) pattern; the corpus is
    scanned once. HAVING n ≥ 2 guards the n−1 divisors on degenerate
    corpora (identical both sides)."""
    c0 = cents("value")
    ev = (
        load(spark, sf_dir, "events")
        .select("event_type", c0.alias("c"))
        .filter(
            F.col("event_type").isNotNull()
            & F.col("c").isNotNull()
            & (F.abs("c") <= F.lit(1_000_000))
        )
    )
    cd = F.col("c").cast("decimal(38,0)")
    g = (
        ev.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n0"),
            F.sum(cd).alias("s1r"),
            F.sum(cd * cd).alias("s2r"),
        )
        .filter(F.col("n0") >= 2)
    )
    nd = F.col("n0").cast("double")
    s1 = F.col("s1r").cast("double")
    s2 = F.col("s2r").cast("double")
    v = g.select(
        "event_type",
        F.col("n0").cast("long").alias("n_i"),
        nd.alias("n"),
        (s1 / nd).alias("mean"),
        ((s2 - (s1 * s1) / nd) / (nd - F.lit(1.0))).alias("var"),
    )
    a = v.alias("a")
    b = v.alias("b")
    se_a = F.col("a.var") / F.col("a.n")
    se_b = F.col("b.var") / F.col("b.n")
    se2 = se_a + se_b
    return (
        a.join(F.broadcast(b), F.col("a.event_type") < F.col("b.event_type"))
        .select(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
            F.col("a.n_i").alias("n_a"),
            F.col("b.n_i").alias("n_b"),
            F.round(
                (F.col("a.mean") - F.col("b.mean")) / F.sqrt(se2), 6
            ).alias("t_stat"),
            F.round(
                (se2 * se2)
                / (
                    se_a * se_a / (F.col("a.n") - F.lit(1.0))
                    + se_b * se_b / (F.col("b.n") - F.lit(1.0))
                ),
                6,
            ).alias("welch_dof"),
        )
    )


# chi²-independence contribution quantization: per-cell contributions
# are each ONE deterministic IEEE expression, but their SUM is float
# addition whose order differs between engines — quantize each cell to
# integer micro-units and sum THOSE (associative), the registry's
# standard integer-routing move for cross-engine float reductions.
_CHI2_QSCALE = 1_000_000


@register(
    "agg_chi2_independence",
    category="agg",
    oracle=f"""
        WITH cells AS (
            SELECT event_type,
                   CAST((CAST(ts AS DATE) - DATE '1970-01-01' + 4) % 7
                        AS BIGINT) AS dow,
                   CAST(count(*) AS BIGINT) AS o
            FROM events
            WHERE event_type IS NOT NULL AND ts IS NOT NULL
            GROUP BY 1, 2
        ),
        margins AS (
            SELECT c.event_type, c.dow, c.o,
                   sum(c.o) OVER (PARTITION BY c.event_type) AS rt,
                   sum(c.o) OVER (PARTITION BY c.dow) AS ct,
                   sum(c.o) OVER () AS tot
            FROM cells c
        ),
        q AS (
            SELECT CAST(round(
                       ({_CHI2_QSCALE}.0 * (CAST(o * tot - rt * ct AS DOUBLE)
                                            * CAST(o * tot - rt * ct AS DOUBLE)))
                       / (CAST(rt * ct AS DOUBLE) * CAST(tot AS DOUBLE))
                   ) AS BIGINT) AS contrib_q,
                   rt, ct
            FROM margins
        )
        SELECT CAST(count(*) AS BIGINT) AS n_cells,
               CAST(24 AS BIGINT) AS dof,
               round(CAST(sum(contrib_q) AS DOUBLE)
                     / {_CHI2_QSCALE}.0, 4) AS chi2
        FROM q
    """,
)
def agg_chi2_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """χ² test of independence between event type and day-of-week —
    "is the traffic mix the same every weekday?", the categorical
    sibling of the Welch test. Emits the statistic and table shape;
    the p-value is a driver-side CDF lookup.

    Cross-engine float discipline: each cell's contribution
    (o−e)²/e is rewritten with the float mean multiplied through —
    (o·tot − rt·ct)² / (rt·ct·tot) — so it is ONE deterministic IEEE
    expression over exact BIGINT margins; the contributions are then
    quantized to integer micro-units and summed as BIGINTs (float
    summation order differs between engines; integer addition is
    associative — the registry's standard quantized-reduction move,
    cf. _IVF_QSCALE). Bound: |o·tot − rt·ct| ≤ tot² and the square
    ≤ 1e38 only past ~3e9 events per cell — and the double cast
    happens BEFORE squaring, so the integer product never exceeds
    64 bits at any realistic scale.

    Shape: one map-side-combined exchange to the 5×7 contingency
    cells; margins via windows over the 35-row relation; the corpus is
    scanned once. dof here is the fixed (5−1)(7−1) of the full
    contingency table (both corpora populate all 35 cells; the
    constant is asserted equal on both sides rather than derived from
    data, keeping the gate exact)."""
    ev = load(spark, sf_dir, "events").filter(
        F.col("event_type").isNotNull() & F.col("ts").isNotNull()
    )
    dow = (
        (F.datediff(F.to_date("ts"), F.to_date(F.lit("1970-01-01"))) + 4) % 7
    ).cast("long")
    cells = ev.groupBy(
        "event_type", dow.alias("dow")
    ).agg(F.count(F.lit(1)).alias("o"))
    w_r = Window.partitionBy("event_type")
    w_c = Window.partitionBy("dow")
    w_t = Window.partitionBy()
    m = cells.select(
        "o",
        F.sum("o").over(w_r).alias("rt"),
        F.sum("o").over(w_c).alias("ct"),
        F.sum("o").over(w_t).alias("tot"),
    )
    d = (F.col("o") * F.col("tot") - F.col("rt") * F.col("ct")).cast("double")
    contrib_q = F.round(
        (F.lit(float(_CHI2_QSCALE)) * (d * d))
        / (
            (F.col("rt") * F.col("ct")).cast("double")
            * F.col("tot").cast("double")
        )
    ).cast("long")
    return m.select(contrib_q.alias("contrib_q")).agg(
        F.count(F.lit(1)).cast("long").alias("n_cells"),
        F.lit(24).cast("long").alias("dof"),
        F.round(
            F.sum("contrib_q").cast("double") / F.lit(float(_CHI2_QSCALE)),
            4,
        ).alias("chi2"),
    )


def _value_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared rank-test substrate: (event_type, v, cnt) count cells
    over integer cents, persisted. Both nonparametric pair tests
    (Mann–Whitney, KS) consume exactly this relation, and each used to
    rebuild it 2-4× per query (column pruning makes the pruned
    subtrees canonically different, so ReuseExchange never fires and
    the events scan + groupBy re-ran per reference). Domain-bounded:
    |v| ≤ 1e6 cents → ≤ 2,000,001 distinct values × the event-type
    taxonomy — dimension-sized at ANY corpus scale, so the persist
    budget is O(|types|·|values|), never O(corpus). With the cache the
    corpus is touched once ACROSS both queries (r9, guide §2.4)."""
    c0 = cents("value")
    b = (
        load(spark, sf_dir, "events")
        .select("event_type", c0.alias("v"))
        .filter(
            F.col("event_type").isNotNull()
            & F.col("v").isNotNull()
            & (F.abs("v") <= F.lit(1_000_000))
        )
    )
    return (
        b.groupBy("event_type", "v")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .cache()
    )


def _value_grid_cum(cells: DataFrame) -> DataFrame:
    """Dense (type × value) grid with INCLUSIVE cumulative counts
    (cum_le), persisted — the ECDF substrate both rank tests window
    over. KS reads cum_le directly; Mann–Whitney projects the
    exclusive form as cum_le − cnt (the same BIGINTs the old inline
    window produced — bit-identical). Same dimension-bounded budget as
    `_value_cells`; the window partition is one type's value column
    (≤ 2M rows), inside the repo's bounded-partition discipline."""
    types = cells.select("event_type").distinct()
    values = cells.select("v").distinct()
    grid = (
        types.crossJoin(values)
        .join(cells, ["event_type", "v"], "left")
        .select("event_type", "v", F.coalesce("cnt", F.lit(0)).alias("cnt"))
    )
    wcum = (
        Window.partitionBy("event_type")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return grid.select(
        "event_type", "v", "cnt", F.sum("cnt").over(wcum).alias("cum_le")
    ).cache()


@register(
    "agg_mann_whitney_u",
    category="agg",
    oracle="""
        WITH b AS (
            SELECT event_type,
                   TRY_CAST(round(value * 100) AS BIGINT) AS v
            FROM events
            WHERE event_type IS NOT NULL
              AND TRY_CAST(round(value * 100) AS BIGINT) IS NOT NULL
              AND abs(TRY_CAST(round(value * 100) AS BIGINT)) <= 1000000
        ),
        cells AS (
            SELECT event_type, v, CAST(count(*) AS BIGINT) AS cnt
            FROM b GROUP BY event_type, v
        ),
        grid AS (
            SELECT t.event_type, vv.v,
                   coalesce(c.cnt, 0) AS cnt
            FROM (SELECT DISTINCT event_type FROM cells) t
            CROSS JOIN (SELECT DISTINCT v FROM cells) vv
            LEFT JOIN cells c
                   ON c.event_type = t.event_type AND c.v = vv.v
        ),
        cum AS (
            SELECT event_type, v, cnt,
                   sum(cnt) OVER (PARTITION BY event_type ORDER BY v
                                  ROWS UNBOUNDED PRECEDING) - cnt AS cum_lt
            FROM grid
        )
        SELECT a.event_type AS type_a, g.event_type AS type_b,
               CAST(min(na.n) AS BIGINT) AS n_a,
               CAST(min(nb.n) AS BIGINT) AS n_b,
               CAST(sum(a.cnt * (2 * g.cum_lt + g.cnt)) AS BIGINT) AS u2_a
        FROM cells a
        JOIN cum g ON g.v = a.v AND a.event_type < g.event_type
        JOIN (SELECT event_type, CAST(sum(cnt) AS BIGINT) AS n
              FROM cells GROUP BY event_type) na
             ON na.event_type = a.event_type
        JOIN (SELECT event_type, CAST(sum(cnt) AS BIGINT) AS n
              FROM cells GROUP BY event_type) nb
             ON nb.event_type = g.event_type
        GROUP BY a.event_type, g.event_type
    """,
)
def agg_mann_whitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann–Whitney U for every event-type pair — the NONPARAMETRIC
    "did the distribution shift" readout beside the Welch test (rank
    tests survive the heavy tails that invalidate a t-test). Emits
    2·U_a (doubled so midrank ties stay integer) plus both sample
    sizes; mean and variance of U under H0 are closed forms of n_a,
    n_b for the consumer.

    The scale formulation is the pair-counting identity, NOT ranking:
    U_a = #{(x∈a, y∈b): x > y} + ties/2, computed from per-value
    count cells over a dense value grid — cumulative counts per type
    (one window over the |types|×|values| grid, corpus-independent),
    then an EQUI-join of a's cells to b's grid row at the same value:
    2·U_a = Σ_v cnt_a(v)·(2·cum_lt_b(v) + cnt_b(v)). No sort of the
    corpus, no per-row ranks, no theta join — the only corpus-sized
    work is the (type, value) cell aggregation, and everything
    downstream is bounded by |types|·|distinct values|. All-integer,
    so the cross-engine gate is exact. Substrate shared with
    agg_ks_test via `_value_cells` / `_value_grid_cum` (r9): the
    exclusive cumulative is the cached inclusive one minus cnt — the
    same BIGINTs as before."""
    cells = _value_cells(spark, sf_dir)
    cum = _value_grid_cum(cells).select(
        "event_type",
        "v",
        "cnt",
        (F.col("cum_le") - F.col("cnt")).alias("cum_lt"),
    )
    n_per = cells.groupBy("event_type").agg(
        F.sum("cnt").cast("long").alias("n")
    )
    a = cells.alias("a")
    g = cum.alias("g")
    paired = a.join(
        g,
        (F.col("a.v") == F.col("g.v"))
        & (F.col("a.event_type") < F.col("g.event_type")),
    )
    agg = paired.groupBy(
        F.col("a.event_type").alias("type_a"),
        F.col("g.event_type").alias("type_b"),
    ).agg(
        F.sum(
            F.col("a.cnt") * (F.lit(2) * F.col("g.cum_lt") + F.col("g.cnt"))
        ).cast("long").alias("u2_a")
    )
    na = n_per.select(
        F.col("event_type").alias("type_a"), F.col("n").alias("n_a")
    )
    nb = n_per.select(
        F.col("event_type").alias("type_b"), F.col("n").alias("n_b")
    )
    return (
        agg.join(F.broadcast(na), "type_a")
        .join(F.broadcast(nb), "type_b")
        .select("type_a", "type_b", "n_a", "n_b", "u2_a")
    )


@register(
    "agg_ks_test",
    category="agg",
    oracle="""
        WITH b AS (
            SELECT event_type,
                   TRY_CAST(round(value * 100) AS BIGINT) AS v
            FROM events
            WHERE event_type IS NOT NULL
              AND TRY_CAST(round(value * 100) AS BIGINT) IS NOT NULL
              AND abs(TRY_CAST(round(value * 100) AS BIGINT)) <= 1000000
        ),
        cells AS (
            SELECT event_type, v, CAST(count(*) AS BIGINT) AS cnt
            FROM b GROUP BY event_type, v
        ),
        grid AS (
            SELECT t.event_type, vv.v, coalesce(c.cnt, 0) AS cnt
            FROM (SELECT DISTINCT event_type FROM cells) t
            CROSS JOIN (SELECT DISTINCT v FROM cells) vv
            LEFT JOIN cells c
                   ON c.event_type = t.event_type AND c.v = vv.v
        ),
        cum AS (
            SELECT event_type, v,
                   sum(cnt) OVER (PARTITION BY event_type ORDER BY v
                                  ROWS UNBOUNDED PRECEDING) AS cum_le
            FROM grid
        ),
        n AS (
            SELECT event_type, CAST(sum(cnt) AS BIGINT) AS n
            FROM cells GROUP BY event_type
        )
        SELECT a.event_type AS type_a, g.event_type AS type_b,
               CAST(min(na.n) AS BIGINT) AS n_a,
               CAST(min(nb.n) AS BIGINT) AS n_b,
               CAST(max(abs(a.cum_le * nb.n - g.cum_le * na.n))
                    AS BIGINT) AS ks_num,
               round(CAST(max(abs(a.cum_le * nb.n - g.cum_le * na.n))
                          AS DOUBLE)
                     / (CAST(min(na.n) AS DOUBLE)
                        * CAST(min(nb.n) AS DOUBLE)), 6) AS d_stat
        FROM cum a
        JOIN cum g ON g.v = a.v AND a.event_type < g.event_type
        JOIN n na ON na.event_type = a.event_type
        JOIN n nb ON nb.event_type = g.event_type
        GROUP BY a.event_type, g.event_type
    """,
)
def agg_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov D for every event-type pair —
    the whole-shape distribution test completing the trio (Welch:
    means; Mann–Whitney: stochastic order; KS: max ECDF gap, the
    drift alarm most data-quality monitors ship).

    Integer-exact: D = max_v |F_a(v) − F_b(v)| multiplied through by
    n_a·n_b becomes max |cum_a(v)·n_b − cum_b(v)·n_a| — a BIGINT
    maximum over the dense value grid (the Mann–Whitney substrate:
    per-type cumulative counts at every observed value), so the
    cross-engine extremum can never flip on a float ULP; d_stat
    divides the integer extremum once at the end. Corpus touched
    once for the (type, value) cells; everything downstream is
    bounded by |types|·|values| with an EQUI-join on value.
    Substrate shared with agg_mann_whitney_u via `_value_cells` /
    `_value_grid_cum` (r9) — one persisted cell relation and one
    persisted grid-cumulative serve both tests."""
    cells = _value_cells(spark, sf_dir)
    cum = _value_grid_cum(cells).select("event_type", "v", "cum_le")
    n_per = cells.groupBy("event_type").agg(
        F.sum("cnt").cast("long").alias("n")
    )
    a = cum.alias("a")
    g = cum.alias("g")
    paired = a.join(
        g,
        (F.col("a.v") == F.col("g.v"))
        & (F.col("a.event_type") < F.col("g.event_type")),
    ).select(
        F.col("a.event_type").alias("type_a"),
        F.col("g.event_type").alias("type_b"),
        F.col("a.cum_le").alias("ca"),
        F.col("g.cum_le").alias("cb"),
    )
    na = n_per.select(F.col("event_type").alias("type_a"), F.col("n").alias("n_a"))
    nb = n_per.select(F.col("event_type").alias("type_b"), F.col("n").alias("n_b"))
    j = paired.join(F.broadcast(na), "type_a").join(F.broadcast(nb), "type_b")
    return (
        j.groupBy("type_a", "type_b")
        .agg(
            F.min("n_a").alias("n_a"),
            F.min("n_b").alias("n_b"),
            F.max(
                F.abs(F.col("ca") * F.col("n_b") - F.col("cb") * F.col("n_a"))
            ).cast("long").alias("ks_num"),
        )
        .select(
            "type_a",
            "type_b",
            "n_a",
            "n_b",
            "ks_num",
            F.round(
                F.col("ks_num").cast("double")
                / (F.col("n_a").cast("double") * F.col("n_b").cast("double")),
                6,
            ).alias("d_stat"),
        )
    )


# Benford expected first-digit shares in parts-per-million, as INTEGER
# LITERALS (round(1e6*log10(1+1/d)) — they sum to exactly 1,000,000):
# hardcoding them keeps log10 out of both engines entirely, so the
# only float op in the whole query is the final rounded division.
_BENFORD_PPM = (301030, 176091, 124939, 96910, 79181, 66947,
                57992, 51153, 45757)


@register(
    "agg_benford_deviation",
    category="agg",
    oracle=f"""
        WITH b AS (
            SELECT TRY_CAST(round(value * 100) AS BIGINT) AS c
            FROM events
            WHERE TRY_CAST(round(value * 100) AS BIGINT) IS NOT NULL
              AND TRY_CAST(round(value * 100) AS BIGINT) > 0
        ),
        digits AS (
            SELECT CAST(substring(CAST(c AS VARCHAR), 1, 1) AS BIGINT)
                       AS digit
            FROM b
        ),
        counts AS (
            SELECT digit, CAST(count(*) AS BIGINT) AS n
            FROM digits GROUP BY digit
        ),
        expected AS (
            SELECT CAST(d.col0 AS BIGINT) AS digit,
                   CAST(d.col1 AS BIGINT) AS exp_ppm
            FROM (VALUES {", ".join(f"({d+1}, {p})" for d, p in enumerate(_BENFORD_PPM))})
                 d
        )
        SELECT e.digit,
               coalesce(c.n, 0) AS n,
               e.exp_ppm,
               CAST(coalesce(c.n, 0) * 1000000
                    - e.exp_ppm * (SELECT sum(n) FROM counts)
                    AS BIGINT) AS dev_num
        FROM expected e LEFT JOIN counts c ON c.digit = e.digit
    """,
)
def agg_benford_deviation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit screening of the money column — the
    classic synthetic-data / fraud / unit-mixup alarm (organic
    multiplicative quantities lead with 1 ~30% of the time; a uniform
    generator or a doctored column does not). Emits per digit the
    observed count, the expected parts-per-million share, and the
    SIGNED integer deviation numerator n·1e6 − exp_ppm·N (divide by
    1e6·N for the share delta; χ²/MAD composition is downstream
    algebra on these integers).

    Exactness: the nine expected shares are integer LITERALS
    (round(1e6·log10(1+1/d)) — summing to exactly 1e6), so neither
    engine evaluates a logarithm and the entire result is BIGINT —
    the hash gate is exact by construction. First digit via string
    head of the positive integer cents (identical semantics both
    engines; zero/negative/NULL-degraded cents excluded identically).

    Shape: one scan → 9-group map-side-combined count; the expected
    table is a 9-row literal dimension; the total is a 1-row
    broadcast (allowlisted O(1) pattern). The 9-row count relation is
    PERSISTED (r9, guide §2.4): the total derives from it, and
    unpersisted that second reference re-ran the corpus scan."""
    ev = load(spark, sf_dir, "events").select(cents("value").alias("c"))
    pos = ev.filter(F.col("c").isNotNull() & (F.col("c") > 0))
    digits = pos.select(
        F.substring(F.col("c").cast("string"), 1, 1).cast("long").alias("digit")
    )
    counts = (
        digits.groupBy("digit")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .cache()
    )
    # JVM VALUES literal (values_df): the createDataFrame form was a
    # pickled-RDD local relation — Python workers on every run for 9
    # constant rows (guide §4)
    expected = values_df(
        spark,
        [(d + 1, p) for d, p in enumerate(_BENFORD_PPM)],
        "digit: long, exp_ppm: long",
    )
    tot = counts.agg(F.sum("n").alias("total_n"))
    return (
        expected.join(counts, "digit", "left")
        .join(F.broadcast(tot))
        .select(
            "digit",
            F.coalesce("n", F.lit(0)).alias("n"),
            "exp_ppm",
            (
                F.coalesce("n", F.lit(0)) * F.lit(1000000)
                - F.col("exp_ppm") * F.col("total_n")
            ).cast("long").alias("dev_num"),
        )
    )


def _gini_moments(ev: DataFrame, gcol: str) -> DataFrame:
    """The bounded-partition exact Σi·c moment plan shared by
    ``agg_gini_coefficient`` and its brute-force property pin
    (tests/test_properties.py::test_gini_two_level_matches_brute_force
    exercises THIS helper, so an edit to the decomposition cannot
    drift from the tested plan — round-7 ADVICE fix).

    Input: (*gcol*, ``c``) rows with c a non-negative integer (cents).
    Output: one row per group with ``n`` (row count, long), ``s``
    (Σc, long) and ``si`` (Σi·c over ascending row-level ranks,
    decimal(38,0)) — tie-invariant: a run of m equal values c whose
    first global rank is a+1 contributes c·(m·a + m(m+1)/2) whatever
    the within-run order. Plan: (1) rollup (group, bucket, c) → m —
    the only corpus-wide pass, map-side combined; (2) within-bucket
    cumulative over ≤4096 distinct values; (3) broadcast bucket
    offsets from the domain-bounded bucket relation; one final
    map-side-combined moment aggregation.

    The rollup is PERSISTED (r9, guide §2.4): both the bucket-offset
    relation and the fine cumulative reference it, and without the
    cache the corpus-wide pass planned and ran twice. It is
    domain-bounded (|groups| × |distinct cents|), never corpus-sized."""
    r1 = (
        ev.withColumn("bkt", _bucket_col("c"))
        .groupBy(gcol, "bkt", "c")
        .agg(F.count(F.lit(1)).cast("long").alias("m"))
        .cache()
    )
    rb = r1.groupBy(gcol, "bkt").agg(F.sum("m").alias("bm"))
    wg = Window.partitionBy(gcol)
    rb = rb.select(
        gcol,
        "bkt",
        (
            F.sum("bm")
            .over(wg.orderBy("bkt").rowsBetween(Window.unboundedPreceding, 0))
            - F.col("bm")
        ).alias("a_bucket"),
    )
    wb = Window.partitionBy(gcol, "bkt").orderBy("c")
    per_c = (
        r1.select(
            gcol,
            "bkt",
            "c",
            "m",
            (
                F.sum("m").over(wb.rowsBetween(Window.unboundedPreceding, 0))
                - F.col("m")
            ).alias("a_local"),
        )
        .join(F.broadcast(rb), [gcol, "bkt"])
        .select(
            gcol,
            "c",
            "m",
            (F.col("a_bucket") + F.col("a_local"))
            .cast("decimal(38,0)")
            .alias("a"),
        )
    )
    cd = F.col("c").cast("decimal(38,0)")
    md = F.col("m").cast("decimal(38,0)")
    return per_c.groupBy(gcol).agg(
        F.sum("m").cast("long").alias("n"),
        F.sum(F.col("c") * F.col("m")).cast("long").alias("s"),
        F.sum(
            cd * md * F.col("a")
            + cd * md * (md + F.lit(1).cast("decimal(38,0)")) / F.lit(2)
        )
        .cast("decimal(38,0)")
        .alias("si"),
    )


@register(
    "agg_gini_coefficient",
    category="agg",
    oracle="""
        WITH b AS (
            SELECT event_type, event_id,
                   TRY_CAST(round(value * 100) AS BIGINT) AS c
            FROM events
            WHERE event_type IS NOT NULL
              AND TRY_CAST(round(value * 100) AS BIGINT) IS NOT NULL
              AND TRY_CAST(round(value * 100) AS BIGINT) >= 0
        ),
        r AS (
            SELECT event_type, c,
                   CAST(row_number() OVER (
                       PARTITION BY event_type ORDER BY c, event_id
                   ) AS HUGEINT) AS i
            FROM b
        ),
        g AS (
            SELECT event_type,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(c) AS BIGINT) AS s,
                   sum(i * c) AS si
            FROM r GROUP BY event_type
        )
        SELECT event_type, n, s AS sum_cents,
               round((2.0 * CAST(si AS DOUBLE)
                      - (CAST(n AS DOUBLE) + 1.0) * CAST(s AS DOUBLE))
                     / (CAST(n AS DOUBLE) * CAST(s AS DOUBLE)), 6) AS gini
        FROM g
    """,
)
def agg_gini_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of the money column per event type — the
    canonical concentration index beside the Pareto report ("what
    share of revenue the top whales carry" as ONE number in [0,1)).

    Exactness: the rank-weighted formula G = (2·Σi·xᵢ − (n+1)·Σxᵢ)
    / (n·Σxᵢ) over ascending ranks runs as exact integers (Σi·xᵢ in
    128 bits — i·xᵢ per row fits a BIGINT to 1e9+ rows, the SUM is
    HUGEINT/decimal(38,0)), then ONE identical IEEE tree. Ties need
    no tie-break for correctness (equal values contribute x·Σi over
    any ordering of the tied block) but ranks order (c, event_id) so
    the plan is deterministic anyway. Negative/NULL-degraded cents
    are excluded identically (Gini is defined on non-negative mass).

    Shape (r9 rewrite — the same bounded-partition recipe as
    _rank_pick_two_level): the original type-keyed rank window put
    the whole corpus through 5 tasks (100x events tier: 12.1 s,
    exponent 0.69 — one task sorting 2M rows). Tie invariance makes
    Σi·c decomposable per DISTINCT value: a run of m equal values c
    whose first global rank is a+1 contributes c·(m·a + m(m+1)/2)
    whatever the within-run order, and a = (rows in smaller value
    buckets) + (rows before c inside its bucket). So: (1) rollup
    (type, c div 4096, c) → m — map-side combine crushes any hot
    value to one partial per task, the only corpus-wide pass; (2) the
    within-bucket cumulative runs over ≤4096 distinct values per
    (type, bucket) — bounded whatever the corpus, and the post-rollup
    (type, bucket) exchange is skew-PROOF because a bucket holds at
    most 4096 rolled-up rows by construction; (3) bucket offsets come
    from the domain-bounded bucket relation, broadcast back. Σi·c is
    then one map-side-combined moment aggregation. At 100 TB no task
    ever sorts more than a bucket; the Pareto report remains the
    cheap screen, Gini the exact readout."""
    ev = (
        load(spark, sf_dir, "events")
        .select("event_type", cents("value").alias("c"))
        .filter(
            F.col("event_type").isNotNull()
            & F.col("c").isNotNull()
            & (F.col("c") >= 0)
        )
    )
    g = _gini_moments(ev, "event_type")
    nd = F.col("n").cast("double")
    sd = F.col("s").cast("double")
    return g.select(
        "event_type",
        "n",
        F.col("s").alias("sum_cents"),
        F.round(
            (F.lit(2.0) * F.col("si").cast("double") - (nd + F.lit(1.0)) * sd)
            / (nd * sd),
            6,
        ).alias("gini"),
    )
