"""§2.D — joins.

Reference analog: one pair-RDD equi-join (``hits.join(rules)``) and the
headline "rules with ZERO hits" anti-pattern ([R-mem]
``analyze_ruleset.py``). Here the full join family is declared
relationally and Catalyst picks the physical strategy; tests assert the
broadcast query really plans a BroadcastHashJoin.

Scale notes: dimension sides (part, customer at real TPC-H ratios,
the reference's rule table) are broadcast — no shuffle of the fact
table. Fact-fact joins shuffle on the join key; AQE handles skew
splitting. The as-of/self-temporal join is expressed as a window
(``lag``) over a hash-partitioned sort — the Spark-native formulation —
rather than a merge-join translation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..plans.registry import register
from ..sources.parquet import corpus_memo, load
from ._util import cents


@register(
    "join_inner_equi",
    category="join",
    oracle="""
        SELECT o.o_orderkey, c.c_custkey, c.c_name, o.o_totalprice
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    """,
)
def join_inner_equi(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    return o.join(c, o.o_custkey == c.c_custkey, "inner").select(
        "o_orderkey", "c_custkey", "c_name", "o_totalprice"
    )


@register(
    "join_broadcast",
    category="join",
    oracle="""
        SELECT p.p_brand,
               CAST(sum(TRY_CAST(round(l.l_extendedprice * 100) AS BIGINT)
                        * (100 - TRY_CAST(round(l.l_discount * 100) AS BIGINT)))
                    AS BIGINT) / 10000.0 AS revenue,
               count(*) AS n_items
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        GROUP BY p.p_brand
    """,
)
def join_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact ⋈ broadcast(dim): the rule-table join done without moving the
    fact table — the shape the reference's pair-RDD join shuffled for
    [R-mem]."""
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand")
        .agg(
            # exact ten-thousandths: 2dp price × 2dp discount summed as
            # BIGINT e-4 units — order-independent, then one IEEE
            # division both engines compute identically
            (
                F.sum(
                    cents("l_extendedprice") * (100 - cents("l_discount"))
                )
                / F.lit(10000.0)
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@register(
    "join_multiway",
    category="join",
    oracle="""
        SELECT r.r_name, n.n_name,
               CAST(sum(TRY_CAST(round(l.l_extendedprice * 100) AS BIGINT)
                        * (100 - TRY_CAST(round(l.l_discount * 100) AS BIGINT)))
                    AS BIGINT) / 10000.0 AS revenue
        FROM region r
        JOIN nation n   ON n.n_regionkey = r.r_regionkey
        JOIN customer c ON c.c_nationkey = n.n_nationkey
        JOIN orders o   ON o.o_custkey   = c.c_custkey
        JOIN lineitem l ON l.l_orderkey  = o.o_orderkey
        GROUP BY r.r_name, n.n_name
    """,
)
def join_multiway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-shaped star chain. Dims broadcast; only fact-fact
    (orders⋈lineitem) shuffles."""
    r = load(spark, sf_dir, "region")
    n = load(spark, sf_dir, "nation")
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            (
                F.sum(
                    cents("l_extendedprice") * (100 - cents("l_discount"))
                )
                / F.lit(10000.0)
            ).alias("revenue")
        )
    )


@register(
    "join_left_outer",
    category="join",
    oracle="""
        SELECT c.c_custkey, count(o.o_orderkey) AS n_orders
        FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
        GROUP BY c.c_custkey
    """,
)
def join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every customer with its order count including zero (count(col)
    skips the NULLs the outer join manufactures)."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    return (
        c.join(o, o.o_custkey == c.c_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )


@register(
    "join_full_outer",
    category="join",
    oracle="""
        WITH lhs AS (
            SELECT c_custkey, c_name FROM customer WHERE c_custkey % 2 = 0
        ),
        rhs AS (
            SELECT o_custkey, count(*) AS n_orders
            FROM orders WHERE o_custkey % 3 = 0 GROUP BY o_custkey
        )
        SELECT coalesce(lhs.c_custkey, rhs.o_custkey) AS custkey,
               lhs.c_name, rhs.n_orders
        FROM lhs FULL OUTER JOIN rhs ON lhs.c_custkey = rhs.o_custkey
    """,
)
def join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    lhs = c.filter(F.col("c_custkey") % 2 == 0).select("c_custkey", "c_name")
    rhs = (
        o.filter(F.col("o_custkey") % 3 == 0)
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )
    return lhs.join(rhs, lhs.c_custkey == rhs.o_custkey, "full").select(
        F.coalesce("c_custkey", "o_custkey").alias("custkey"), "c_name", "n_orders"
    )


@register(
    "join_left_semi",
    category="join",
    oracle="""
        SELECT c_custkey, c_name FROM customer c
        WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def join_left_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers with ≥1 order — reference analog: rules WITH hits."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    return c.join(o, o.o_custkey == c.c_custkey, "left_semi").select(
        "c_custkey", "c_name"
    )


@register(
    "join_left_anti",
    category="join",
    oracle="""
        SELECT c_custkey, c_name FROM customer c
        WHERE NOT EXISTS (
            SELECT 1 FROM orders o
            WHERE o.o_custkey = c.c_custkey AND year(o.o_orderdate) = 1996
        )
    """,
)
def join_left_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE reference headline: keys with ZERO matches (unused firewall
    rules, [R-mem] README). One anti-join, no outer+filter detour.
    Restricted to 1996 orders so the result is non-trivial at every sf."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").filter(F.year("o_orderdate") == 1996)
    return c.join(o, o.o_custkey == c.c_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


@register(
    "join_theta_range",
    category="join",
    oracle="""
        SELECT l.l_orderkey, l.l_linenumber,
               CAST(datediff('day', CAST(o.o_orderdate AS DATE),
                             CAST(l.l_shipdate AS DATE)) AS INTEGER) AS gap_days
        FROM lineitem l JOIN orders o
          ON l.l_orderkey = o.o_orderkey
         AND datediff('day', CAST(o.o_orderdate AS DATE),
                      CAST(l.l_shipdate AS DATE)) BETWEEN 0 AND 30
    """,
)
def join_theta_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi key + range predicate in the join condition: lineitems shipped
    within 30 days of their order. The equi component keeps this a hash
    join with the range as a residual — the plan shape that survives
    scale (a pure theta join would be a nested-loop)."""
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    gap = F.datediff(F.to_date(li.l_shipdate), F.to_date(o.o_orderdate))
    return li.join(o, (li.l_orderkey == o.o_orderkey) & gap.between(0, 30)).select(
        "l_orderkey", "l_linenumber", gap.alias("gap_days")
    )


@register(
    "join_cross",
    category="join",
    oracle="SELECT r.r_name, n.n_name FROM region r CROSS JOIN nation n",
)
def join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded cartesian (5×25). Only ever dim×dim — a guarded pattern."""
    r = load(spark, sf_dir, "region")
    n = load(spark, sf_dir, "nation")
    return r.crossJoin(n).select("r_name", "n_name")


@register(
    "join_self_asof",
    category="join",
    oracle="""
        SELECT event_id, user_id,
               CAST(epoch(date_trunc('second', ts)) AS BIGINT)
               - lag(CAST(epoch(date_trunc('second', ts)) AS BIGINT))
                   OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap_sec
        FROM events
    """,
)
def join_self_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user previous-event gap — the as-of/self-temporal join done the
    Spark-native way: hash-partition by user, sort within partition,
    ``lag`` — one shuffle, no self-join blowup."""
    ev = load(spark, sf_dir, "events")
    sec = F.unix_timestamp(F.date_trunc("second", F.col("ts")))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "event_id", "user_id", (sec - F.lag(sec).over(w)).alias("gap_sec")
    )


@register(
    "join_asof_backward",
    category="join",
    oracle="""
        WITH e AS (SELECT * FROM events
                   WHERE event_type = 'error' AND ts IS NOT NULL),
        c AS (SELECT * FROM events
              WHERE event_type = 'click' AND ts IS NOT NULL),
        ranked AS (
            SELECT e.event_id, c.event_id AS click_event_id, c.ts AS cts,
                   row_number() OVER (
                       PARTITION BY e.event_id
                       ORDER BY c.ts DESC, c.event_id DESC
                   ) AS rn
            FROM e JOIN c ON c.user_id = e.user_id AND c.ts <= e.ts
        )
        SELECT e.event_id, e.user_id,
               CAST(epoch(date_trunc('second', e.ts)) AS BIGINT) AS err_epoch,
               r.click_event_id,
               CAST(epoch(date_trunc('second', r.cts)) AS BIGINT) AS click_epoch
        FROM e
        LEFT JOIN (SELECT * FROM ranked WHERE rn = 1) r
          ON r.event_id = e.event_id
    """,
)
def join_asof_backward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of (backward, inclusive) join: for every 'error' event, the
    most recent 'click' by the same user at or before it — the canonical
    point-in-time lookup Spark has no native operator for.

    Spark-native formulation: tag and union both sides, sort within a
    per-user window (clicks before errors on timestamp ties to make the
    join inclusive), forward-fill the click columns with
    ``last(..., ignorenulls=True)``, keep the error rows. One keyed
    shuffle, no range-condition nested-loop join; at 100 TB both sides
    shuffle once on user_id and the sort is per-partition.

    Tie-break subtlety: multiple clicks can share one timestamp, and an
    as-of operator is only well-defined once that tie is broken — this
    one takes the max click event_id at the winning timestamp. DuckDB's
    native ``ASOF JOIN`` leaves the tie ARBITRARY (the fuzz sweep's
    injected equal-(user, ts) click pairs flipped it between adjacent
    event_ids), so the oracle spells the same semantics out explicitly:
    rank candidate clicks per error by (ts DESC, event_id DESC), keep
    rank 1."""
    # ts IS NOT NULL on BOTH sides: a NULL ts sorts FIRST in the Spark
    # ascending window, so an untimestamped row would positionally pair
    # while the oracle's ts comparison can never match NULL — the
    # engines would diverge the day a corpus carries one. Untimestamped
    # events are excluded from as-of pairing (same convention as
    # agg_linear_regression); pinned by the dirty-corpus NULL-ts row.
    ev = load(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    errors = ev.filter(F.col("event_type") == "error").select(
        "event_id", "user_id", "ts", F.lit(1).alias("is_err")
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts", F.lit(0).alias("is_err")
    )
    tagged = errors.unionByName(clicks)
    # event_id in the sort: among clicks sharing one timestamp the fill
    # deterministically takes the max event_id instead of relying on
    # the corpus never having per-user-type timestamp ties
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "is_err", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    click_id = F.when(F.col("is_err") == 0, F.col("event_id"))
    click_ts = F.when(F.col("is_err") == 0, F.col("ts"))
    filled = tagged.select(
        "event_id",
        "user_id",
        "ts",
        "is_err",
        F.last(click_id, ignorenulls=True).over(w).alias("click_event_id"),
        F.last(click_ts, ignorenulls=True).over(w).alias("click_ts"),
    )
    return filled.filter(F.col("is_err") == 1).select(
        "event_id",
        "user_id",
        F.unix_timestamp(F.date_trunc("second", "ts")).alias("err_epoch"),
        "click_event_id",
        F.unix_timestamp(F.date_trunc("second", "click_ts")).alias("click_epoch"),
    )


_RANGE_DAYS = 1  # ± window for the bucketed self range join


@register(
    "join_range_bucketed",
    category="join",
    oracle=f"""
        SELECT a.o_orderkey,
               count(*) - 1 AS n_nearby
        FROM orders a JOIN orders b
          ON abs(datediff('day', CAST(b.o_orderdate AS DATE),
                          CAST(a.o_orderdate AS DATE))) <= {_RANGE_DAYS}
        GROUP BY a.o_orderkey
    """,
)
def join_range_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal range join done the scale-correct way: per order, count
    orders placed within ±1 day — a pure range predicate with NO equi
    key, which planners otherwise execute as a nested-loop cross
    product.

    The bucketing trick: floor both sides to day buckets, explode one
    side to its 2k+1 candidate buckets, equi-join on the bucket id.
    The O(n²) cross product becomes a keyed join — and because this
    query only needs a COUNT, the build side is pre-aggregated to one
    row per day first, so the join fans out by candidate DAYS (2k+1),
    not rows-per-bucket, and the build side (|distinct days| rows)
    broadcasts. At 100 TB this is the difference between a job that
    finishes and one that doesn't. (The oracle states the plain range
    predicate; DuckDB's IEJoin handles it at test scale.)"""
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", F.datediff("o_orderdate", F.lit("1992-01-01")).alias("day")
    )
    probe = o.select(
        "o_orderkey",
        F.explode(
            F.sequence(F.col("day") - _RANGE_DAYS, F.col("day") + _RANGE_DAYS)
        ).alias("bucket"),
    )
    day_counts = o.groupBy(F.col("day").alias("bucket")).agg(
        F.count(F.lit(1)).alias("n_in_day")
    )
    return (
        probe.join(F.broadcast(day_counts), "bucket")
        .groupBy("o_orderkey")
        .agg((F.sum("n_in_day") - 1).alias("n_nearby"))
    )


@register(
    "join_salted_skew",
    category="join",
    oracle="""
        SELECT o.o_orderpriority,
               CAST(sum(TRY_CAST(round(l.l_extendedprice * 100) AS BIGINT))
                    AS BIGINT) / 100.0 AS revenue,
               count(*) AS n_items
        FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
        GROUP BY o.o_orderpriority
    """,
)
def join_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-resistant equi-join via key salting, verified identical to
    the plain join (the oracle IS the unsalted query).

    The technique: a hot join key sends all its rows to one reducer;
    salting splits it by widening the key — the probe side appends a
    deterministic per-row salt in [0, 8), the build side replicates
    each row once per salt value (explode), and the join runs on
    (key, salt), spreading each hot key over 8 tasks. Costs 8× the
    build side, so one salts only the skewed keys in practice (filter
    the replicate step to a hot-key list).

    At 100 TB the FIRST answer is AQE's runtime skew split
    (spark.sql.adaptive.skewJoin, on by default in this engine's
    session); manual salting remains necessary where AQE can't help —
    skewed *aggregation* keys, stateful streaming joins, or a build
    side already too big to split. This query grades the library
    helper ``functions.scale.salted_join`` (unit-tested for identity
    in tests/test_scale_utils.py) end-to-end: same result set,
    hash-verified against the unsalted oracle."""
    from ..functions.scale import salted_join

    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_extendedprice")
    o = load(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderpriority"
    )
    return (
        salted_join(li, o, "l_orderkey", n_salts=8)
        .groupBy("o_orderpriority")
        .agg(
            (F.sum(cents("l_extendedprice")) / F.lit(100.0)).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@register(
    "join_fuzzy_blocked",
    category="join",
    oracle="""
        WITH names AS (
            SELECT DISTINCT p_name,
                   string_split(p_name, ' ')[-1] AS noun
            FROM part
        )
        SELECT a.p_name AS name_a, b.p_name AS name_b,
               levenshtein(a.p_name, b.p_name) AS dist
        FROM names a JOIN names b
          ON a.noun = b.noun AND a.p_name < b.p_name
        WHERE levenshtein(a.p_name, b.p_name) <= 2
    """,
)
def join_fuzzy_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy (edit-distance) self-join with blocking — the
    entity-resolution primitive: near-identical part names (typos,
    variant prefixes) paired at Levenshtein ≤ 2.

    An unblocked fuzzy join is an n² nested loop with a string-DP
    predicate — the classic scale killer. The blocked form is the same
    pattern as every near-dup operator here: a cheap deterministic
    blocking key (the head noun — last token) turns it into a keyed
    equi-join, and the expensive levenshtein runs only within blocks.
    Dedup to distinct names FIRST: the distance between two names
    doesn't depend on how many rows carry them (64 distinct vs 2000
    rows here; at 100 TB this pre-distinct is the difference between
    joining entities and joining occurrences). The blocking contract
    (pairs must share the noun) is part of the operator's semantics
    and the oracle implements the identical block, so parity is exact,
    not approximate."""
    p = load(spark, sf_dir, "part")
    names = p.select("p_name").distinct().select(
        "p_name", F.element_at(F.split("p_name", " "), -1).alias("noun")
    )
    a, b = names.alias("a"), names.alias("b")
    dist = F.levenshtein(F.col("a.p_name"), F.col("b.p_name"))
    return (
        a.join(
            b,
            (F.col("a.noun") == F.col("b.noun"))
            & (F.col("a.p_name") < F.col("b.p_name")),
        )
        .filter(dist <= 2)
        .select(
            F.col("a.p_name").alias("name_a"),
            F.col("b.p_name").alias("name_b"),
            dist.alias("dist"),
        )
    )


def basket_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(part_a, part_b, n_orders) for every canonical (a<b) part pair
    co-occurring in ≥1 order — the shared substrate for market-basket
    mining and the co-occurrence graph (operators/graph.py), persisted
    once per corpus (``corpus_memo``): it feeds FOUR graded queries
    (join_cooccur_baskets, graph_pagerank_cooccur, graph_triangle_count,
    graph_link_prediction), so each consumer's lineage starts at an
    in-memory columnar scan of canonical pairs × one BIGINT count
    (~1/1000 of lineitem) instead of the basket pipeline.

    Shape: collect each basket's distinct sorted parts (ONE exchange,
    keyed on orderkey — collect_set dedups in-agg, no pre-distinct
    pass), generate the C(k,2) pairs per basket map-side with nested
    higher-order transforms over the sorted array (k ≤ 7 in TPC-H ⇒
    ≤ 21 structs per basket, never item-popularity n²), then count by
    pair (second exchange). Measured vs the distinct+self-join form at
    sf0.1: 1.35 s vs 1.75 s warm — one fewer exchange, and the join's
    probe/build of the whole item relation becomes per-row array
    algebra. That algebra is interpreted, not compiled: in Spark 4.1.2
    ``ArrayTransform`` is ``CodegenFallback``, so the generated stage
    evaluates each pair-building lambda per element through ``eval``."""
    return corpus_memo(
        spark, sf_dir, "basket_pairs", lambda: _basket_pairs(spark, sf_dir)
    )


def _basket_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    baskets = (
        load(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_set("l_partkey")).alias("ps"))
    )
    pair_structs = F.flatten(
        F.transform(
            "ps",
            lambda x, i: F.transform(
                F.slice(F.col("ps"), i + 2, F.size("ps")),
                lambda y: F.struct(x.alias("part_a"), y.alias("part_b")),
            ),
        )
    )
    return (
        baskets.select(F.explode(pair_structs).alias("p"))
        .select("p.part_a", "p.part_b")
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .cache()
    )


@register(
    "join_cooccur_baskets",
    category="join",
    oracle="""
        WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
        SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
               count(*) AS n_orders
        FROM items a
        JOIN items b ON a.l_orderkey = b.l_orderkey
                    AND a.l_partkey < b.l_partkey
        GROUP BY a.l_partkey, b.l_partkey
        HAVING count(*) >= 2
    """,
)
def join_cooccur_baskets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence: part pairs bought together in ≥ 2
    orders — the frequent-itemset / co-click primitive. See
    basket_pair_counts for the two-exchange HOF pair generation (the
    distinct+self-join formulation it replaced is the oracle)."""
    return basket_pair_counts(spark, sf_dir).filter(F.col("n_orders") >= 2)


@register(
    "join_null_safe_eq",
    category="join",
    oracle="""
        WITH ev AS (
            SELECT event_id,
                   CASE WHEN value < 0.05 THEN NULL
                        ELSE round(floor(value * 10) / 10, 1) END AS bucket
            FROM events
        ),
        dim AS (
            SELECT DISTINCT bucket FROM ev
        )
        SELECT d.bucket, count(*) AS n
        FROM ev e JOIN dim d ON e.bucket IS NOT DISTINCT FROM d.bucket
        GROUP BY d.bucket
    """,
)
def join_null_safe_eq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality join (``<=>`` / IS NOT DISTINCT FROM): NULL
    bucket rows MATCH the NULL dimension row instead of silently
    dropping — the semantics needed when NULL is a real category
    (unknown/unparsed) that must survive an enrichment join. A plain
    equi-join here would lose every NULL-bucket event; the differential
    proves both engines keep them. Plans as a hash join on the
    null-safe key (NULL hashes to a bucket like any value)."""
    ev = load(spark, sf_dir, "events").select(
        "event_id",
        F.when(F.col("value") < 0.05, None)
        .otherwise(F.round(F.floor(F.col("value") * 10) / 10, 1))
        .alias("bucket"),
    )
    dim = ev.select("bucket").distinct()
    return (
        ev.alias("e")
        .join(
            F.broadcast(dim.alias("d")),
            F.col("e.bucket").eqNullSafe(F.col("d.bucket")),
        )
        .groupBy(F.col("d.bucket").alias("bucket"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "join_asof_forward",
    category="join",
    oracle="""
        WITH e AS (SELECT * FROM events
                   WHERE event_type = 'error' AND ts IS NOT NULL),
        c AS (SELECT * FROM events
              WHERE event_type = 'click' AND ts IS NOT NULL),
        ranked AS (
            SELECT e.event_id, c.event_id AS click_event_id, c.ts AS cts,
                   row_number() OVER (
                       PARTITION BY e.event_id
                       ORDER BY c.ts ASC, c.event_id ASC
                   ) AS rn
            FROM e JOIN c ON c.user_id = e.user_id AND c.ts > e.ts
        )
        SELECT e.event_id, e.user_id,
               CAST(epoch(date_trunc('second', e.ts)) AS BIGINT) AS err_epoch,
               r.click_event_id,
               CAST(epoch(date_trunc('second', r.cts)) AS BIGINT) AS click_epoch
        FROM e
        LEFT JOIN (SELECT * FROM ranked WHERE rn = 1) r
          ON r.event_id = e.event_id
    """,
)
def join_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of (forward, EXCLUSIVE) join: for every 'error' event, the
    first 'click' by the same user strictly after it — the
    what-happened-next lookup (did the user retry after the failure?),
    completing the as-of family (`join_asof_backward` is
    most-recent-at-or-before; `join_self_asof` the self-table form).

    Same single-keyed-shuffle union trick as the backward join, run in
    the other direction: tag and union both sides, order the per-user
    window DESCENDING on the same (ts, is_err, event_id) composite (a
    same-timestamp click must NOT match — strict '>'), and fill with
    ``last(..., ignorenulls=True)`` over the running
    unbounded-preceding frame (see the in-body note: a FOLLOWING
    frame is O(partition²) in Spark's generic frame processor).
    Tie-break: the MIN click event_id at the winning timestamp,
    spelled out in both engines (DuckDB's native ASOF JOIN leaves
    equal-timestamp winners arbitrary — the same hazard the backward
    join's fuzz sweep caught)."""
    # ts IS NOT NULL on BOTH sides: a NULL ts sorts FIRST in the Spark
    # ascending window, so an untimestamped row would positionally pair
    # while the oracle's ts comparison can never match NULL — the
    # engines would diverge the day a corpus carries one. Untimestamped
    # events are excluded from as-of pairing (same convention as
    # agg_linear_regression); pinned by the dirty-corpus NULL-ts row.
    ev = load(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    errors = ev.filter(F.col("event_type") == "error").select(
        "event_id", "user_id", "ts", F.lit(1).alias("is_err")
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts", F.lit(0).alias("is_err")
    )
    tagged = errors.unionByName(clicks)
    # REVERSED RUNNING frame (the join_asof_nearest recipe): order
    # DESCENDING on the same (ts, is_err, event_id) composite, so the
    # [unboundedPreceding, current] frame holds exactly the rows whose
    # ascending key EXCEEDS the error's — strictly-later clicks only
    # (same-ts clicks have is_err 0 < 1, ascending key BELOW the
    # error, out of frame), plus the error row itself whose click
    # columns are NULL. last(ignorenulls) picks the nearest, i.e. the
    # MIN click event_id at the winning timestamp. Never first() over
    # a FOLLOWING frame: Spark executes [x, unboundedFollowing] with
    # the generic re-scanning processor — O(partition²), measured
    # 170 s on ONE 100k-row user partition (the r8 stress tier's
    # heavy user), vs 0.3 s for this running form. (The old shape was
    # invisible to the stress harness's count() timing — Catalyst
    # pruned the unreferenced fill columns; the noop-sink timing fix
    # exposed it.)
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.desc("ts"), F.desc("is_err"), F.desc("event_id"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    click_id = F.when(F.col("is_err") == 0, F.col("event_id"))
    click_ts = F.when(F.col("is_err") == 0, F.col("ts"))
    filled = tagged.select(
        "event_id",
        "user_id",
        "ts",
        "is_err",
        F.last(click_id, ignorenulls=True).over(w).alias("click_event_id"),
        F.last(click_ts, ignorenulls=True).over(w).alias("click_ts"),
    )
    return filled.filter(F.col("is_err") == 1).select(
        "event_id",
        "user_id",
        F.unix_timestamp(F.date_trunc("second", "ts")).alias("err_epoch"),
        "click_event_id",
        F.unix_timestamp(F.date_trunc("second", "click_ts")).alias("click_epoch"),
    )


@register(
    "join_interval_overlap",
    category="join",
    oracle="""
        WITH iv AS (
            SELECT o_orderkey, o_custkey,
                   o_orderdate AS lo,
                   max(l_shipdate) AS hi
            FROM orders JOIN lineitem ON l_orderkey = o_orderkey
            GROUP BY o_orderkey, o_custkey, o_orderdate
        )
        SELECT a.o_custkey AS custkey,
               a.o_orderkey AS order_a,
               b.o_orderkey AS order_b,
               CAST(date_diff('day', greatest(a.lo, b.lo),
                              least(a.hi, b.hi)) + 1 AS BIGINT)
                   AS overlap_days
        FROM iv a JOIN iv b
          ON b.o_custkey = a.o_custkey
         AND a.o_orderkey < b.o_orderkey
         AND a.lo <= b.hi AND b.lo <= a.hi
    """,
)
def join_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap self join, the operator class relational
    engines lack natively: each order's fulfillment window
    [o_orderdate, max l_shipdate] overlap-joined against the SAME
    customer's other windows — 'which of this customer's orders were
    in flight simultaneously, and for how many days'. The general
    recipe for interval × interval overlap (x.lo ≤ y.hi ∧ y.lo ≤ x.hi)
    where a plain theta join would be quadratic over the corpus.

    Scale shape: the equi-key (custkey) does ALL the pruning — one
    keyed exchange, per-customer blocks of bounded size (order counts
    per customer are Zipf-bounded; a hot key gets the usual salting
    treatment), and the overlap predicate evaluates as a codegen
    residual inside each block, never across blocks. Overlap length is
    exact integer day arithmetic (inclusive endpoints), bit-identical
    cross-engine. The interval relation itself is one groupBy over the
    order→lineitem join (keyed on orderkey, AQE-coalesced)."""
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    # persisted: the self-join references the interval relation twice,
    # and ReuseExchange does not dedup the two groupBy subtrees — the
    # lineitem⋈orders rollup would run twice per query otherwise
    iv = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderkey", "o_custkey", "o_orderdate")
        .agg(F.max("l_shipdate").alias("hi"))
        .select(
            "o_orderkey",
            "o_custkey",
            F.col("o_orderdate").alias("lo"),
            "hi",
        )
        .cache()
    )
    a, b = iv.alias("a"), iv.alias("b")
    overlap = (
        F.datediff(
            F.least(F.col("a.hi"), F.col("b.hi")),
            F.greatest(F.col("a.lo"), F.col("b.lo")),
        )
        + 1
    )
    return (
        a.join(
            b,
            (F.col("b.o_custkey") == F.col("a.o_custkey"))
            & (F.col("a.o_orderkey") < F.col("b.o_orderkey"))
            & (F.col("a.lo") <= F.col("b.hi"))
            & (F.col("b.lo") <= F.col("a.hi")),
        )
        .select(
            F.col("a.o_custkey").alias("custkey"),
            F.col("a.o_orderkey").alias("order_a"),
            F.col("b.o_orderkey").alias("order_b"),
            overlap.cast("long").alias("overlap_days"),
        )
    )


@register(
    "join_asof_nearest",
    category="join",
    oracle="""
        WITH e AS (SELECT * FROM events
                   WHERE event_type = 'error' AND ts IS NOT NULL),
        c AS (SELECT * FROM events
              WHERE event_type = 'click' AND ts IS NOT NULL),
        cand AS (
            SELECT e.event_id, epoch_us(e.ts) AS ets,
                   c.event_id AS cid, epoch_us(c.ts) AS cts
            FROM e JOIN c ON c.user_id = e.user_id
        ),
        ranked AS (
            SELECT event_id, cid, cts,
                   row_number() OVER (PARTITION BY event_id ORDER BY
                       abs(cts - ets) ASC,
                       CASE WHEN cts <= ets THEN 0 ELSE 1 END ASC,
                       CASE WHEN cts <= ets THEN -cid ELSE cid END ASC
                   ) AS rn
            FROM cand
        )
        SELECT e.event_id, e.user_id,
               CAST(epoch_us(e.ts) AS BIGINT) AS err_us,
               r.cid AS click_event_id,
               CAST(r.cts - epoch_us(e.ts) AS BIGINT) AS delta_us
        FROM e
        LEFT JOIN (SELECT * FROM ranked WHERE rn = 1) r
          ON r.event_id = e.event_id
    """,
)
def join_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of (NEAREST, either direction) join, completing the
    backward/forward/nearest family: for every 'error' event, the
    same-user 'click' with the smallest |Δts| — backward wins exact
    distance ties (the 'what did the user just do' reading), with the
    same deterministic id tie-breaks as the directional siblings (max
    id among equal backward timestamps, min id among equal forward
    ones — an as-of operator is only well-defined once every tie is
    broken, and the fuzz sweep's injected equal-(user, ts) pairs
    punish anything left arbitrary).

    Spark-native formulation: ONE tagged union, one keyed exchange on
    user_id, TWO per-partition window sorts over it (ascending fill =
    nearest click at-or-before, descending fill = nearest click
    at-or-after — same-ts clicks sort onto the click side of each
    frame so both directions are inclusive), then a branch-free
    integer-µs comparison picks the closer candidate. No range
    nested-loop join anywhere; at 100 TB the cost is the one user
    shuffle the directional as-ofs already pay, the second sort is
    in-partition. The oracle spells identical semantics as a rank over
    the per-user candidate product."""
    ev = load(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    errors = ev.filter(F.col("event_type") == "error").select(
        "event_id", "user_id", "ts", F.lit(1).alias("is_err")
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts", F.lit(0).alias("is_err")
    )
    tagged = errors.unionByName(clicks)
    click_id = F.when(F.col("is_err") == 0, F.col("event_id"))
    click_us = F.when(F.col("is_err") == 0, F.unix_micros("ts"))
    wb = (
        Window.partitionBy("user_id")
        .orderBy("ts", "is_err", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wf = (
        Window.partitionBy("user_id")
        .orderBy(F.desc("ts"), F.asc("is_err"), F.desc("event_id"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    filled = tagged.select(
        "event_id",
        "user_id",
        "ts",
        "is_err",
        F.last(click_id, ignorenulls=True).over(wb).alias("bid"),
        F.last(click_us, ignorenulls=True).over(wb).alias("bus"),
        F.last(click_id, ignorenulls=True).over(wf).alias("fid"),
        F.last(click_us, ignorenulls=True).over(wf).alias("fus"),
    )
    ets = F.unix_micros("ts")
    db = ets - F.col("bus")
    df_ = F.col("fus") - ets
    pick_back = F.col("bus").isNotNull() & (
        F.col("fus").isNull() | (db <= df_)
    )
    win_id = F.when(pick_back, F.col("bid")).otherwise(F.col("fid"))
    win_us = F.when(pick_back, F.col("bus")).otherwise(F.col("fus"))
    return filled.filter(F.col("is_err") == 1).select(
        "event_id",
        "user_id",
        ets.alias("err_us"),
        win_id.alias("click_event_id"),
        (win_us - ets).alias("delta_us"),
    )


_ASOF_TOL_US = 10 * 60 * 1_000_000  # 10-minute tolerance, integer µs


@register(
    "join_asof_tolerance",
    category="join",
    oracle=f"""
        WITH e AS (SELECT * FROM events
                   WHERE event_type = 'error' AND ts IS NOT NULL),
        c AS (SELECT * FROM events
              WHERE event_type = 'click' AND ts IS NOT NULL),
        ranked AS (
            SELECT e.event_id, c.event_id AS cid, epoch_us(c.ts) AS cus,
                   row_number() OVER (
                       PARTITION BY e.event_id
                       ORDER BY c.ts DESC, c.event_id DESC
                   ) AS rn
            FROM e JOIN c ON c.user_id = e.user_id AND c.ts <= e.ts
                         AND epoch_us(e.ts) - epoch_us(c.ts) <= {_ASOF_TOL_US}
        )
        SELECT e.event_id, e.user_id,
               CAST(epoch_us(e.ts) AS BIGINT) AS err_us,
               r.cid AS click_event_id,
               CAST(epoch_us(e.ts) - r.cus AS BIGINT) AS staleness_us
        FROM e
        LEFT JOIN (SELECT * FROM ranked WHERE rn = 1) r
          ON r.event_id = e.event_id
    """,
)
def join_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of (backward) join WITH A TOLERANCE BOUND — the fourth and
    last member of the as-of family (backward / forward / nearest /
    tolerance, the same surface pandas ``merge_asof`` exposes): for
    every 'error' event, the most recent same-user 'click' at or
    before it, but only if it happened within the last 10 minutes —
    a stale match is reported as NO match (NULL), because "what was
    the user doing when it broke" is only meaningful while the
    context is fresh.

    Scale identity: tolerance costs NOTHING over the plain backward
    as-of. The backward fill already delivers the NEAREST at-or-before
    candidate per error, and every other candidate is strictly farther
    away — so post-filtering the ONE filled match against the bound is
    exactly equivalent to restricting the candidate set in the join
    (the oracle's formulation), and the plan stays the single
    user-keyed exchange + one per-partition window sort of
    ``join_asof_backward``; no range-condition nested loop appears.
    Tie-breaks (max click event_id among equal timestamps) and the
    NULL-ts exclusion follow the family convention; pinned against the
    fuzz sweep's injected equal-(user, ts) click pairs and the dirty
    corpus's NULL-ts row."""
    ev = load(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    errors = ev.filter(F.col("event_type") == "error").select(
        "event_id", "user_id", "ts", F.lit(1).alias("is_err")
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts", F.lit(0).alias("is_err")
    )
    tagged = errors.unionByName(clicks)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "is_err", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    click_id = F.when(F.col("is_err") == 0, F.col("event_id"))
    click_us = F.when(F.col("is_err") == 0, F.unix_micros("ts"))
    filled = tagged.select(
        "event_id",
        "user_id",
        "ts",
        "is_err",
        F.last(click_id, ignorenulls=True).over(w).alias("cid"),
        F.last(click_us, ignorenulls=True).over(w).alias("cus"),
    )
    ets = F.unix_micros("ts")
    staleness = ets - F.col("cus")
    fresh = staleness <= F.lit(_ASOF_TOL_US)
    return filled.filter(F.col("is_err") == 1).select(
        "event_id",
        "user_id",
        ets.alias("err_us"),
        F.when(fresh, F.col("cid")).alias("click_event_id"),
        F.when(fresh, staleness).alias("staleness_us"),
    )


@register(
    "join_scd2_point_in_time",
    category="join",
    oracle="""
        WITH marked AS (
            SELECT user_id, ts, event_id, event_type,
                   CASE WHEN event_type IN ('signup', 'purchase')
                        THEN event_type END AS tier_mark
            FROM events
            WHERE ts IS NOT NULL AND user_id IS NOT NULL
        ),
        filled AS (
            SELECT user_id, event_type,
                   last_value(tier_mark IGNORE NULLS) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                       ROWS UNBOUNDED PRECEDING
                   ) AS tier
            FROM marked
        )
        SELECT tier,
               CAST(count(*) AS BIGINT) AS n_clicks,
               CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        FROM filled
        WHERE event_type = 'click' AND tier IS NOT NULL
        GROUP BY tier
    """,
)
def join_scd2_point_in_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POINT-IN-TIME dimension lookup against SCD2 history: every
    click is attributed to the account tier (last signup/purchase
    state) valid AT ITS TIMESTAMP — the query every warehouse runs
    against a type-2 dimension, and the one naive interval joins get
    quadratic on. Composes the ``event_scd2_intervals`` build with
    the lookup side.

    The scale formulation is the MERGE-STREAM rewrite: instead of
    joining facts to intervals (per-user products, then a containment
    filter), tier events and clicks ride ONE user-keyed window and
    the valid tier is ``last_value(..., ignorenulls)`` over the
    merged timeline — zero joins, one exchange, linear per user. The
    (ts, event_id) ordering makes same-timestamp tier/click pairs
    deterministic in both engines (the standing tie-break
    discipline). Clicks before any tier event have no valid dimension
    row and are excluded identically. NULL ts/user rows are excluded
    on both sides (dirty-data convention)."""
    ev = load(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull() & F.col("user_id").isNotNull()
    )
    tier_mark = F.when(
        F.col("event_type").isin("signup", "purchase"), F.col("event_type")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = ev.select(
        "user_id",
        "event_type",
        F.last(tier_mark, ignorenulls=True).over(w).alias("tier"),
    )
    return (
        filled.filter(
            (F.col("event_type") == "click") & F.col("tier").isNotNull()
        )
        .groupBy("tier")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_clicks"),
            F.countDistinct("user_id").cast("long").alias("n_users"),
        )
    )
