"""§2 addendum — TPC-H composite analytics (all 22 query shapes).

The single-operator queries in §2.B-§2.F grade each relational
primitive in isolation; these grade their *composition* — the
multi-join, filter-heavy, top-k-reporting shapes every warehouse
workload reduces to, adapted to this corpus's column subset (no
partsupp table; no o_shippriority / l_shipmode / l_commitdate
columns — predicates substitute date/priority columns that exist).

Plan discipline, asserted by tests/test_plan_shape.py:

* dimension joins (region, nation, customer-side of Q5) are explicit
  ``F.broadcast`` — at 100 TB the fact table never shuffles for a
  dimension;
* filters sit on the base relations BEFORE joins so Catalyst pushes
  them into the parquet scans (PushedFilters) and prunes columns;
* top-k reporting plans as TakeOrderedAndProject (per-partition
  heaps + tiny driver merge), never a global sort.

Reference provenance: the public reference [R-mem, SURVEY.md §0] has
no multi-join surface; extension per the §2.G charter.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..plans.registry import register
from ..sources.parquet import load
from ._util import cents, floor_long

def _revenue_cents():
    # Exact-cents discipline: per-line revenue is floored to integer
    # cents BEFORE summing, so the aggregate is an order-independent
    # BIGINT sum — a double sum's value depends on partial-aggregation
    # order, and at a round(,2) boundary Spark and the oracle (or two
    # cluster runs!) can disagree by one ULP. floor of the identical
    # per-line double is bit-deterministic on both engines. Built
    # lazily: Column construction needs an active SparkContext in
    # PySpark 4, and operator modules import before the session exists.
    # floor_long (not bare F.floor): NULL-degrades NaN/inf/overflow
    # symmetrically with the oracles' TRY_CAST — see _util.floor_long.
    return floor_long(
        (F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")))
        * F.lit(100.0)
    )


@register(
    "tpch_q3_shipping_priority",
    category="composite",
    oracle="""
        SELECT l_orderkey,
               CAST(sum(TRY_CAST(floor((l_extendedprice * (1 - l_discount)) * 100.0)
                             AS BIGINT)) AS BIGINT) AS revenue_cents,
               o_orderdate
        FROM customer
        JOIN orders   ON c_custkey = o_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < DATE '1996-01-01'
          AND l_shipdate  > DATE '1996-01-01'
        GROUP BY l_orderkey, o_orderdate
        ORDER BY revenue_cents DESC, l_orderkey
        LIMIT 10
    """,
)
def tpch_q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: top-10 unshipped-revenue orders for one market
    segment. Segment and date predicates are applied to the base
    relations (pushed into all three scans); the filtered customer
    side is a key-list broadcast into orders; top-10 is
    TakeOrderedAndProject."""
    c = (
        load(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    o = load(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < "1996-01-01"
    ).select("o_orderkey", "o_custkey", "o_orderdate")
    li = load(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > "1996-01-01"
    ).select("l_orderkey", "l_extendedprice", "l_discount")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(F.sum(_revenue_cents()).alias("revenue_cents"))
        .orderBy(F.desc("revenue_cents"), F.asc("l_orderkey"))
        .limit(10)
        .select("l_orderkey", "revenue_cents", "o_orderdate")
    )


@register(
    "tpch_q5_local_supplier",
    category="composite",
    oracle="""
        SELECT n_name,
               CAST(sum(TRY_CAST(floor((l_extendedprice * (1 - l_discount)) * 100.0)
                             AS BIGINT)) AS BIGINT) AS revenue_cents
        FROM customer
        JOIN orders   ON c_custkey = o_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        JOIN supplier ON l_suppkey = s_suppkey
                     AND c_nationkey = s_nationkey
        JOIN nation   ON s_nationkey = n_nationkey
        JOIN region   ON n_regionkey = r_regionkey
        WHERE r_name = 'ASIA'
          AND o_orderdate >= DATE '1996-01-01'
          AND o_orderdate <  DATE '1997-01-01'
        GROUP BY n_name
    """,
)
def tpch_q5_local_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: revenue by nation where the supplier is LOCAL to
    the customer (c_nationkey = s_nationkey — the join that makes Q5
    interesting: it correlates two different dimension paths of the
    same fact row). region→nation→supplier collapses to one broadcast
    before touching lineitem; customer broadcasts into orders. The
    only fact-table exchange is the final groupBy on nation."""
    r = load(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n = load(spark, sf_dir, "nation")
    s = load(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    o = (
        load(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderdate") >= "1996-01-01")
            & (F.col("o_orderdate") < "1997-01-01")
        )
        .select("o_orderkey", "o_custkey")
    )
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    # dimension path: suppliers in ASIA nations, with nation name
    sn = s.join(
        F.broadcast(
            n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey).select(
                "n_nationkey", "n_name"
            )
        ),
        s.s_nationkey == F.col("n_nationkey"),
    ).select("s_suppkey", "s_nationkey", "n_name")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(
            F.broadcast(sn),
            (li.l_suppkey == sn.s_suppkey)
            & (c.c_nationkey == sn.s_nationkey),
        )
        .groupBy("n_name")
        .agg(F.sum(_revenue_cents()).alias("revenue_cents"))
    )


@register(
    "tpch_q6_forecast_revenue",
    category="composite",
    oracle="""
        SELECT CAST(sum(TRY_CAST(floor((l_extendedprice * l_discount) * 100.0)
                             AS BIGINT)) AS BIGINT) AS revenue_cents,
               count(*) AS n_lines
        FROM lineitem
        WHERE l_shipdate >= DATE '1996-01-01'
          AND l_shipdate <  DATE '1997-01-01'
          AND l_discount BETWEEN 0.05 AND 0.07
          AND l_quantity < 24
    """,
)
def tpch_q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: pure scan-filter-aggregate, the query that
    benchmarks predicate pushdown + whole-stage codegen with zero
    joins and zero shuffles (single global agg over partials). All
    three predicates reach the parquet reader as PushedFilters."""
    li = load(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1997-01-01")
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum(
                floor_long(
                    (F.col("l_extendedprice") * F.col("l_discount"))
                    * F.lit(100.0)
                )
            ).alias("revenue_cents"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@register(
    "tpch_q10_returned_items",
    category="composite",
    oracle="""
        SELECT c_custkey, c_name, n_name,
               CAST(sum(TRY_CAST(floor((l_extendedprice * (1 - l_discount)) * 100.0)
                             AS BIGINT)) AS BIGINT) AS revenue_cents
        FROM customer
        JOIN orders   ON c_custkey = o_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        JOIN nation   ON c_nationkey = n_nationkey
        WHERE l_returnflag = 'R'
          AND o_orderdate >= DATE '1996-01-01'
          AND o_orderdate <  DATE '1996-04-01'
        GROUP BY c_custkey, c_name, n_name
        ORDER BY revenue_cents DESC, c_custkey
        LIMIT 20
    """,
)
def tpch_q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: top-20 customers by returned-merchandise
    revenue in one quarter. Returnflag filter pushes into the lineitem
    scan; customer⋈nation is a broadcast dimension; top-20 is
    TakeOrderedAndProject on the aggregated (small) relation."""
    n = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    c = load(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey"
    )
    cn = c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey).select(
        "c_custkey", "c_name", "n_name"
    )
    o = (
        load(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderdate") >= "1996-01-01")
            & (F.col("o_orderdate") < "1996-04-01")
        )
        .select("o_orderkey", "o_custkey")
    )
    li = (
        load(spark, sf_dir, "lineitem")
        .filter(F.col("l_returnflag") == "R")
        .select("l_orderkey", "l_extendedprice", "l_discount")
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(cn), o.o_custkey == cn.c_custkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.sum(_revenue_cents()).alias("revenue_cents"))
        .orderBy(F.desc("revenue_cents"), F.asc("c_custkey"))
        .limit(20)
        .select("c_custkey", "c_name", "n_name", "revenue_cents")
    )


@register(
    "tpch_q7_volume_shipping",
    category="composite",
    oracle="""
        SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
               CAST(year(l_shipdate) AS INTEGER) AS l_year,
               CAST(sum(TRY_CAST(floor((l_extendedprice * (1 - l_discount)) * 100.0)
                             AS BIGINT)) AS BIGINT) AS revenue_cents
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation n1 ON s_nationkey = n1.n_nationkey
        JOIN nation n2 ON c_nationkey = n2.n_nationkey
        WHERE ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7')
            OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3'))
          AND l_shipdate BETWEEN DATE '1995-01-01' AND DATE '1996-12-31'
        GROUP BY supp_nation, cust_nation, l_year
    """,
)
def tpch_q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: bilateral trade volume between two nations by
    ship year — the query that correlates BOTH dimension paths of the
    same fact row (supplier nation × customer nation) under a
    disjunctive pair predicate.

    Scale shape: each nation dimension is pre-filtered to the two
    nations of interest BEFORE broadcasting, so the supplier and
    customer build sides shrink to ~2/25 of their size and most fact
    rows die in the two broadcast joins; the OR-pair residual runs on
    the survivors only. The fact table shuffles once, for the final
    groupBy."""
    n = load(spark, sf_dir, "nation").filter(
        F.col("n_name").isin("NATION_3", "NATION_7")
    )
    s = (
        load(spark, sf_dir, "supplier")
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    c = (
        load(spark, sf_dir, "customer")
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey", F.col("n_name").alias("cust_nation"))
    )
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = (
        load(spark, sf_dir, "lineitem")
        .filter(F.col("l_shipdate").between("1995-01-01", "1996-12-31"))
        .select(
            "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount",
            "l_shipdate",
        )
    )
    return (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .filter(
            ((F.col("supp_nation") == "NATION_3") & (F.col("cust_nation") == "NATION_7"))
            | ((F.col("supp_nation") == "NATION_7") & (F.col("cust_nation") == "NATION_3"))
        )
        .groupBy(
            "supp_nation", "cust_nation",
            F.year("l_shipdate").alias("l_year"),
        )
        .agg(F.sum(_revenue_cents()).alias("revenue_cents"))
    )


@register(
    "tpch_q9_product_profit",
    category="composite",
    oracle="""
        SELECT n_name AS nation, CAST(year(o_orderdate) AS INTEGER) AS o_year,
               CAST(sum(TRY_CAST(floor((l_extendedprice * (1 - l_discount)) * 100.0)
                             AS BIGINT)
                        - TRY_CAST(round(p_retailprice * 100) AS BIGINT)
                          * CAST(l_quantity AS BIGINT) / 2)
                    AS BIGINT) AS profit_cents
        FROM lineitem
        JOIN part     ON l_partkey = p_partkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN nation   ON s_nationkey = n_nationkey
        WHERE p_name LIKE '%red%'
        GROUP BY n_name, o_year
    """,
)
def tpch_q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: profit by supplier nation and order year for one
    product family. The corpus has no partsupp, so unit cost is proxied
    as half the part's retail price (documented adaptation) — the join
    topology (fact ⋈ part ⋈ supplier ⋈ orders ⋈ nation, LIKE filter on
    the part dimension) is the point.

    Exactness: profit = revenue_cents − cost_cents·quantity/2, all
    BIGINT (quantity is integer-valued; integer division by 2 is
    identical both engines), so the per-nation-year sum is
    order-independent. part is filtered by the LIKE before its
    broadcast; only the order-date year survives the orders join."""
    p = (
        load(spark, sf_dir, "part")
        .filter(F.col("p_name").like("%red%"))
        .select("p_partkey", "p_retailprice")
    )
    s = load(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    sn = s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey).select(
        "s_suppkey", F.col("n_name").alias("nation")
    )
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_quantity",
        "l_extendedprice", "l_discount",
    )
    profit = (
        _revenue_cents()
        - F.round(F.col("p_retailprice") * 100).cast("long")
        * F.col("l_quantity").cast("long")
        / F.lit(2)
    ).cast("long")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(sn), li.l_suppkey == sn.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("nation", F.year("o_orderdate").alias("o_year"))
        .agg(F.sum(profit).alias("profit_cents"))
    )


@register(
    "tpch_q13_order_distribution",
    category="composite",
    oracle="""
        SELECT c_count, count(*) AS custdist
        FROM (
            SELECT c_custkey, count(o_orderkey) AS c_count
            FROM customer
            LEFT JOIN orders ON c_custkey = o_custkey
                            AND o_orderpriority NOT LIKE '4%'
            GROUP BY c_custkey
        )
        GROUP BY c_count
    """,
)
def tpch_q13_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: distribution of customers by order count,
    including the zero bucket — the left-outer + conditional join
    predicate + double aggregation idiom (o_comment NOT LIKE adapted to
    the priority column this corpus has).

    Scale shape: the join predicate filters orders BEFORE the join (so
    the filter pushes into the scan), the left join preserves
    order-less customers, count(o_orderkey) skips the NULLs a bare
    count(*) would miscount, and the second aggregate runs on an
    already customer-sized relation."""
    c = load(spark, sf_dir, "customer").select("c_custkey")
    o = (
        load(spark, sf_dir, "orders")
        .filter(~F.col("o_orderpriority").like("4%"))
        .select("o_orderkey", "o_custkey")
    )
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
        .groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
    )


@register(
    "tpch_q14_promo_revenue",
    category="composite",
    oracle="""
        SELECT round(
                   100.0 * sum(CASE WHEN p_type = 'PROMO'
                                    THEN TRY_CAST(floor((l_extendedprice
                                                     * (1 - l_discount)) * 100.0)
                                             AS BIGINT)
                                    ELSE 0 END)
                   / sum(TRY_CAST(floor((l_extendedprice * (1 - l_discount)) * 100.0)
                              AS BIGINT)),
                   6) AS promo_revenue_pct
        FROM lineitem
        JOIN part ON l_partkey = p_partkey
        WHERE l_shipdate >= DATE '1996-09-01'
          AND l_shipdate <  DATE '1996-10-01'
    """,
)
def tpch_q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: share of one month's revenue from promotional
    parts — conditional aggregation over a broadcast dimension join,
    emitting one ratio row.

    Exactness: both numerator and denominator are BIGINT cent sums
    (order-independent); the output is a single double division of two
    exact integers, rounded 6dp — bit-identical both engines."""
    p = load(spark, sf_dir, "part").select("p_partkey", "p_type")
    li = (
        load(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= "1996-09-01")
            & (F.col("l_shipdate") < "1996-10-01")
        )
        .select("l_partkey", "l_extendedprice", "l_discount")
    )
    rev = _revenue_cents()
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .agg(
            F.round(
                F.lit(100.0)
                * F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0)))
                / F.sum(rev),
                6,
            ).alias("promo_revenue_pct")
        )
    )


@register(
    "tpch_q15_top_supplier",
    category="composite",
    oracle="""
        WITH revenue AS (
            SELECT l_suppkey AS supplier_no,
                   CAST(sum(TRY_CAST(floor((l_extendedprice * (1 - l_discount))
                                       * 100.0) AS BIGINT)) AS BIGINT)
                       AS total_revenue_cents
            FROM lineitem
            WHERE l_shipdate >= DATE '1996-01-01'
              AND l_shipdate <  DATE '1996-04-01'
            GROUP BY l_suppkey
        )
        SELECT s_suppkey, s_name, total_revenue_cents
        FROM supplier
        JOIN revenue ON s_suppkey = supplier_no
        WHERE total_revenue_cents = (
            SELECT max(total_revenue_cents) FROM revenue
        )
    """,
)
def tpch_q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: the supplier(s) with maximum quarterly revenue
    — an aggregate-then-argmax-over-the-aggregate composite (the
    reference view + scalar subquery formulation).

    Scale shape: revenue is one fact-table aggregate keyed by supplier
    (supplier-cardinality output); the scalar max is computed on that
    SMALL relation and broadcast back as a literal-sized join (never a
    window over an unpartitioned fact), so ties are kept exactly as
    Q15 demands. Integer cents make 'equals max' an exact predicate —
    no float-equality trap. The revenue relation is PERSISTED (r9,
    guide §2.4) — it is the spec's REVENUE view, referenced by both
    the scalar max and the final join, and unpersisted each reference
    re-ran the fact-table aggregate; supplier-cardinality rows, so the
    cache is dimension-sized at any scale."""
    li = (
        load(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1996-04-01")
        )
        .select("l_suppkey", "l_extendedprice", "l_discount")
    )
    rev = (
        li.groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(F.sum(_revenue_cents()).alias("total_revenue_cents"))
        .cache()
    )
    mx = rev.agg(F.max("total_revenue_cents").alias("_mx"))
    s = load(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        rev.join(F.broadcast(mx), rev.total_revenue_cents == mx._mx)
        .join(F.broadcast(s), F.col("supplier_no") == s.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue_cents")
    )


@register(
    "tpch_q16_supplier_variety",
    category="composite",
    oracle="""
        SELECT p_brand, p_type, p_size,
               count(DISTINCT l_suppkey) AS supplier_cnt
        FROM lineitem
        JOIN part ON p_partkey = l_partkey
        WHERE p_brand <> 'Brand#5'
          AND p_size IN (1, 4, 9, 14, 23, 36, 45, 49)
          AND l_suppkey NOT IN (
              SELECT s_suppkey FROM supplier WHERE s_name LIKE '%77%'
          )
        GROUP BY p_brand, p_type, p_size
    """,
)
def tpch_q16_supplier_variety(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: how many distinct suppliers can deliver each
    (brand, type, size) — distinct-count over a filtered dimension
    join, minus a complained-about supplier exclusion list (partsupp
    adapted to lineitem as the part↔supplier bridge).

    Scale shape: both dimension predicates are pushed into the part
    scan before its broadcast; the exclusion list is a broadcast
    left-anti join (s_suppkey is never NULL here, so anti ≡ NOT IN);
    count(DISTINCT) expands to Catalyst's two-phase exact distinct."""
    p = (
        load(spark, sf_dir, "part")
        .filter(
            (F.col("p_brand") != "Brand#5")
            & F.col("p_size").isin(1, 4, 9, 14, 23, 36, 45, 49)
        )
        .select("p_partkey", "p_brand", "p_type", "p_size")
    )
    bad = (
        load(spark, sf_dir, "supplier")
        .filter(F.col("s_name").like("%77%"))
        .select("s_suppkey")
    )
    li = load(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    return (
        li.join(F.broadcast(bad), li.l_suppkey == bad.s_suppkey, "left_anti")
        .join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


@register(
    "tpch_q18_large_orders",
    category="composite",
    oracle="""
        WITH big AS (
            SELECT l_orderkey, CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT)
                       AS total_qty
            FROM lineitem GROUP BY l_orderkey
            HAVING sum(CAST(l_quantity AS BIGINT)) > 250
        )
        SELECT c_name, c_custkey, o_orderkey, o_orderdate, total_qty
        FROM big
        JOIN orders   ON o_orderkey = l_orderkey
        JOIN customer ON c_custkey = o_custkey
        ORDER BY total_qty DESC, o_orderkey
        LIMIT 100
    """,
)
def tpch_q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: top-100 largest orders by total quantity with
    their customers — the aggregate-HAVING-then-rejoin composite.

    Scale shape: the quantity rollup keys on l_orderkey (the fact
    table's natural clustering), the HAVING prunes to ~1% of orders
    BEFORE any join, and the pruned aggregate — not the fact table —
    drives the joins to orders and customer. Quantities are
    integer-valued doubles summed as BIGINT; top-100 is
    TakeOrderedAndProject with o_orderkey as the deterministic
    tie-break."""
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("long")).alias("total_qty"))
        .filter(F.col("total_qty") > 250)
    )
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return (
        big.join(o, big.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .orderBy(F.desc("total_qty"), F.asc("o_orderkey"))
        .limit(100)
        .select("c_name", "c_custkey", "o_orderkey", "o_orderdate", "total_qty")
    )


@register(
    "tpch_q19_bracket_revenue",
    category="composite",
    oracle="""
        SELECT CAST(sum(TRY_CAST(floor((l_extendedprice * (1 - l_discount)) * 100.0)
                             AS BIGINT)) AS BIGINT) AS revenue_cents,
               count(*) AS n_lines
        FROM lineitem
        JOIN part ON p_partkey = l_partkey
        WHERE (p_brand = 'Brand#11' AND p_size BETWEEN 1 AND 5
               AND l_quantity BETWEEN 1 AND 11)
           OR (p_brand = 'Brand#14' AND p_size BETWEEN 1 AND 10
               AND l_quantity BETWEEN 10 AND 20)
           OR (p_brand = 'Brand#19' AND p_size BETWEEN 1 AND 15
               AND l_quantity BETWEEN 20 AND 30)
    """,
)
def tpch_q19_bracket_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: disjunction of three brand/size/quantity
    brackets across the part join — the OR-of-ANDs residual-predicate
    join that defeats naive pushdown.

    Scale shape: the part side is pre-filtered to the UNION of the
    three brackets (brand ∈ {...} AND size ≤ 15 — a superset bound
    that IS pushable) before broadcasting, so the equi-join stays a
    broadcast hash join and only the residual OR runs post-match;
    the quantity superset bound (1-30) pushes into the fact scan."""
    p = (
        load(spark, sf_dir, "part")
        .filter(
            F.col("p_brand").isin("Brand#11", "Brand#14", "Brand#19")
            & F.col("p_size").between(1, 15)
        )
        .select("p_partkey", "p_brand", "p_size")
    )
    li = (
        load(spark, sf_dir, "lineitem")
        .filter(F.col("l_quantity").between(1, 30))
        .select("l_partkey", "l_quantity", "l_extendedprice", "l_discount")
    )
    bracket = (
        ((F.col("p_brand") == "Brand#11") & F.col("p_size").between(1, 5)
         & F.col("l_quantity").between(1, 11))
        | ((F.col("p_brand") == "Brand#14") & F.col("p_size").between(1, 10)
           & F.col("l_quantity").between(10, 20))
        | ((F.col("p_brand") == "Brand#19") & F.col("p_size").between(1, 15)
           & F.col("l_quantity").between(20, 30))
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .filter(bracket)
        .agg(
            F.sum(_revenue_cents()).alias("revenue_cents"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@register(
    "tpch_q22_dormant_accounts",
    category="composite",
    oracle="""
        WITH pos AS (
            SELECT CAST(sum(TRY_CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT)
                       AS total_cents,
                   count(*) AS n_pos
            FROM customer WHERE c_acctbal > 0
        )
        SELECT c_nationkey AS nation, count(*) AS numcust,
               CAST(sum(TRY_CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT)
                   / 100.0 AS totacctbal
        FROM customer, pos
        WHERE TRY_CAST(round(c_acctbal * 100) AS BIGINT) * n_pos > total_cents
          AND NOT EXISTS (
              SELECT 1 FROM orders
              WHERE o_custkey = c_custkey
                AND o_orderdate >= DATE '2000-01-01'
          )
        GROUP BY c_nationkey
    """,
)
def tpch_q22_dormant_accounts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: well-funded customers gone dormant — balance
    above the positive-balance average AND no recent orders, counted
    per nation (phone-prefix adapted to nationkey; 'no orders ever'
    adapted to 'none since 2000' so the result is non-vacuous on this
    corpus).

    Exactness: 'above average' is evaluated without ever computing a
    float average — cents·n_pos > total_cents compares exact BIGINTs
    (cross-multiplied inequality), so no engine pair can disagree at
    the threshold. Scale shape: the (total, count) scalar is a
    1-row broadcast; the recency filter pushes into the orders scan
    and feeds a broadcast anti-join keyed on custkey."""
    c = load(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", "c_acctbal"
    )
    pos = c.filter(F.col("c_acctbal") > 0).agg(
        F.sum(cents("c_acctbal")).alias("total_cents"),
        F.count(F.lit(1)).alias("n_pos"),
    )
    recent = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= "2000-01-01")
        .select("o_custkey")
    )
    return (
        c.join(recent, c.c_custkey == recent.o_custkey, "left_anti")
        .crossJoin(F.broadcast(pos))
        .filter(cents("c_acctbal") * F.col("n_pos") > F.col("total_cents"))
        .groupBy(F.col("c_nationkey").alias("nation"))
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            (F.sum(cents("c_acctbal")) / F.lit(100.0)).alias("totacctbal"),
        )
    )


@register(
    "tpch_q1_pricing_summary",
    category="composite",
    oracle="""
        SELECT l_returnflag, l_linestatus,
               CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
               CAST(sum(TRY_CAST(round(l_extendedprice * 100) AS BIGINT))
                    AS BIGINT) AS sum_base_cents,
               CAST(sum(TRY_CAST(floor((l_extendedprice * (1 - l_discount))
                                   * 100.0) AS BIGINT))
                    AS BIGINT) AS sum_disc_cents,
               CAST(sum(TRY_CAST(floor((l_extendedprice * (1 - l_discount)
                                    * (1 + l_tax)) * 100.0) AS BIGINT))
                    AS BIGINT) AS sum_charge_cents,
               CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT)
                   * 1.0 / count(*) AS avg_qty,
               CAST(sum(TRY_CAST(round(l_extendedprice * 100) AS BIGINT))
                    AS BIGINT) * 1.0 / count(*) AS avg_price_cents,
               CAST(sum(TRY_CAST(round(l_discount * 100) AS BIGINT)) AS BIGINT)
                   * 1.0 / count(*) AS avg_disc_pct,
               count(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= DATE '2001-09-01'
        GROUP BY l_returnflag, l_linestatus
    """,
)
def tpch_q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: the pricing summary report — full-table
    scan-filter-aggregate over 6 measures with tiny group cardinality
    (returnflag × linestatus ≤ 6 groups), the canonical map-side
    partial-aggregation benchmark: at 100 TB every executor reduces its
    partitions to ≤6 rows before the single 6-row exchange.

    Exactness: every sum is an order-independent BIGINT (quantity is
    integral; prices/discounts are 2dp-exact so round(x*100) is the
    true integer; the 2- and 3-factor products floor identically both
    engines). The avg_* outputs are derived as exact-BIGINT ÷ count —
    one IEEE division of bit-identical operands — never a running
    double mean, so no engine pair can disagree in the last ULP."""
    li = load(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= "2001-09-01"
    )
    n = F.count(F.lit(1))
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.col("l_quantity").cast("long")).alias("sum_qty"),
            F.sum(cents("l_extendedprice")).alias("sum_base_cents"),
            F.sum(_revenue_cents()).alias("sum_disc_cents"),
            F.sum(
                floor_long(
                    (
                        F.col("l_extendedprice")
                        * (F.lit(1.0) - F.col("l_discount"))
                        * (F.lit(1.0) + F.col("l_tax"))
                    )
                    * F.lit(100.0)
                )
            ).alias("sum_charge_cents"),
            F.sum(cents("l_discount")).alias("disc_cents"),
            n.alias("count_order"),
        )
        .select(
            "l_returnflag",
            "l_linestatus",
            "sum_qty",
            "sum_base_cents",
            "sum_disc_cents",
            "sum_charge_cents",
            (F.col("sum_qty") * F.lit(1.0) / F.col("count_order")).alias(
                "avg_qty"
            ),
            (
                F.col("sum_base_cents") * F.lit(1.0) / F.col("count_order")
            ).alias("avg_price_cents"),
            (F.col("disc_cents") * F.lit(1.0) / F.col("count_order")).alias(
                "avg_disc_pct"
            ),
            "count_order",
        )
    )


@register(
    "tpch_q2_min_cost_supplier",
    category="composite",
    oracle="""
        WITH ps AS (
            SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
        ),
        eu AS (
            SELECT s_suppkey, s_name, s_acctbal, n_name
            FROM supplier
            JOIN nation ON s_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            WHERE r_name = 'EUROPE'
        ),
        cand AS (
            SELECT p_partkey, s_name, s_acctbal, n_name
            FROM part
            JOIN ps ON p_partkey = l_partkey
            JOIN eu ON l_suppkey = s_suppkey
            WHERE p_size <= 15 AND p_type = 'LARGE'
        )
        SELECT s_acctbal, s_name, n_name, p_partkey
        FROM cand
        JOIN (
            SELECT p_partkey AS mk, min(s_acctbal) AS mb
            FROM cand GROUP BY p_partkey
        ) m ON p_partkey = mk AND s_acctbal = mb
    """,
)
def tpch_q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: for each part in a size/type slice, the
    EU supplier with the minimum account balance — the correlated
    min-subquery pattern (partsupp's supplycost is proxied by
    s_acctbal over the part↔supplier pairs observed in lineitem;
    documented corpus adaptation).

    Scale shape: the part↔supplier pair relation is DISTINCT over two
    key columns of the fact table (shuffles 16-byte pairs, never
    payloads); both dimension paths (filtered part slice, EU supplier
    roster) broadcast into it; the per-part minimum then joins back as
    a broadcast equality — the standard argmin-without-window recipe
    when the candidate set is dimension-sized. No fact-table sort, no
    window over the fact table."""
    ps = (
        load(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_suppkey")
        .distinct()
    )
    p = (
        load(spark, sf_dir, "part")
        .filter((F.col("p_size") <= 15) & (F.col("p_type") == "LARGE"))
        .select("p_partkey")
    )
    eu = (
        load(spark, sf_dir, "supplier")
        .join(
            F.broadcast(
                load(spark, sf_dir, "nation").join(
                    F.broadcast(
                        load(spark, sf_dir, "region").filter(
                            F.col("r_name") == "EUROPE"
                        )
                    ),
                    F.col("n_regionkey") == F.col("r_regionkey"),
                )
            ),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    cand = (
        ps.join(F.broadcast(p), ps.l_partkey == p.p_partkey)
        .join(F.broadcast(eu), ps.l_suppkey == eu.s_suppkey)
        .select("p_partkey", "s_name", "s_acctbal", "n_name")
    )
    mn = cand.groupBy(F.col("p_partkey").alias("mk")).agg(
        F.min("s_acctbal").alias("mb")
    )
    return cand.join(
        F.broadcast(mn),
        (cand.p_partkey == mn.mk) & (cand.s_acctbal == mn.mb),
    ).select("s_acctbal", "s_name", "n_name", "p_partkey")


@register(
    "tpch_q4_priority_check",
    category="composite",
    oracle="""
        SELECT o_orderpriority, count(*) AS order_count
        FROM orders
        WHERE o_orderdate >= DATE '1996-07-01'
          AND o_orderdate <  DATE '1996-10-01'
          AND EXISTS (
              SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey
                AND l_shipdate > o_orderdate + INTERVAL 30 DAY
          )
        GROUP BY o_orderpriority
    """,
)
def tpch_q4_priority_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: orders per priority bucket, in one quarter,
    having at least one late line (corpus has no l_commitdate /
    l_receiptdate — 'late' adapts to shipped >30 days after the order
    date, preserving the EXISTS-semi-join-then-count plan).

    Scale shape: the quarter predicate pushes into the orders scan;
    the semi-join keys both sides on orderkey (the natural co-location
    at 100 TB — no dimension here, both sides are facts) and the
    date-lag predicate rides along as a join residual; LEFT SEMI means
    lineitem multiplicity never inflates the count."""
    o = (
        load(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderdate") >= "1996-07-01")
            & (F.col("o_orderdate") < "1996-10-01")
        )
        .select("o_orderkey", "o_orderdate", "o_orderpriority")
    )
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late = o.join(
        li,
        (o.o_orderkey == li.l_orderkey)
        & (li.l_shipdate > F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")),
        "left_semi",
    )
    return (
        late.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


@register(
    "tpch_q8_market_share",
    category="composite",
    oracle="""
        SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
               CAST(sum(CASE WHEN supp_nation = 'NATION_2'
                             THEN vol_cents ELSE 0 END) AS BIGINT)
                   * 1.0
                   / CAST(sum(vol_cents) AS BIGINT) AS mkt_share
        FROM (
            SELECT o_orderdate,
                   n1.n_name AS supp_nation,
                   TRY_CAST(floor((l_extendedprice * (1 - l_discount)) * 100.0)
                        AS BIGINT) AS vol_cents
            FROM lineitem
            JOIN part     ON l_partkey = p_partkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN orders   ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation n1 ON s_nationkey = n1.n_nationkey
            JOIN nation n2 ON c_nationkey = n2.n_nationkey
            JOIN region   ON n2.n_regionkey = r_regionkey
            WHERE r_name = 'ASIA' AND p_type = 'ECONOMY'
        ) v
        GROUP BY o_year
    """,
)
def tpch_q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: one nation's share of the ASIA market for one
    product family, by order year — the ratio-of-conditional-sums
    pattern over a 5-table join with two independent dimension paths
    (supplier nation names the competitor; customer nation⋈region
    scopes the market).

    Exactness: numerator and denominator are both exact-BIGINT cent
    sums; the share is ONE IEEE division of bit-identical integers, so
    the quotient is reproducible to the last bit on any engine and any
    partition order — never round a float sum. Scale shape: part slice,
    supplier⋈nation, and customer⋈nation⋈region all broadcast; the
    fact table shuffles once for the per-year groupBy."""
    p = (
        load(spark, sf_dir, "part")
        .filter(F.col("p_type") == "ECONOMY")
        .select("p_partkey")
    )
    n = load(spark, sf_dir, "nation")
    sn = (
        load(spark, sf_dir, "supplier")
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    asia_keys = (
        n.join(
            F.broadcast(
                load(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
            ),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select(F.col("n_nationkey").alias("asia_key"))
    )
    c = (
        load(spark, sf_dir, "customer")
        .join(F.broadcast(asia_keys), F.col("c_nationkey") == F.col("asia_key"))
        .select("c_custkey")
    )
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    vol = _revenue_cents()
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(sn), li.l_suppkey == sn.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            F.sum(
                F.when(F.col("supp_nation") == "NATION_2", vol).otherwise(
                    F.lit(0).cast("long")
                )
            ).alias("num_cents"),
            F.sum(vol).alias("den_cents"),
        )
        .select(
            "o_year",
            (F.col("num_cents") * F.lit(1.0) / F.col("den_cents")).alias(
                "mkt_share"
            ),
        )
    )


@register(
    "tpch_q11_important_stock",
    category="composite",
    oracle="""
        WITH v AS (
            SELECT l_partkey,
                   CAST(sum(TRY_CAST(round(l_extendedprice * 100) AS BIGINT))
                        AS BIGINT) AS value_cents
            FROM lineitem
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation   ON s_nationkey = n_nationkey
            JOIN region   ON n_regionkey = r_regionkey
            WHERE r_name = 'EUROPE'
            GROUP BY l_partkey
        )
        SELECT l_partkey, value_cents
        FROM v, (SELECT CAST(sum(value_cents) AS BIGINT) AS total_cents
                 FROM v) t
        WHERE value_cents * 800 > total_cents
    """,
)
def tpch_q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: parts whose inventory value through EUROPE
    suppliers exceeds a fixed fraction (1/500) of the region's total —
    the scalar-subquery-threshold pattern (partsupp value proxied by
    lineitem extended price through the region's suppliers).

    Exactness: the HAVING threshold is the cross-multiplied inequality
    value_cents·500 > total_cents over exact BIGINTs — the fraction is
    never materialized as a float, so no engine pair can disagree at
    the boundary (same discipline as q22's above-average test). Scale
    shape: region roster broadcasts; per-part value is one keyed
    exchange of (partkey, cents); the grand total is a 1-row broadcast
    back onto the per-part relation."""
    eu = (
        load(spark, sf_dir, "supplier")
        .join(
            F.broadcast(
                load(spark, sf_dir, "nation").join(
                    F.broadcast(
                        load(spark, sf_dir, "region").filter(
                            F.col("r_name") == "EUROPE"
                        )
                    ),
                    F.col("n_regionkey") == F.col("r_regionkey"),
                )
            ),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey")
    )
    v = (
        load(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_suppkey", "l_extendedprice")
        .join(F.broadcast(eu), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("l_partkey")
        .agg(F.sum(cents("l_extendedprice")).alias("value_cents"))
    )
    total = v.agg(F.sum("value_cents").alias("total_cents"))
    return (
        v.crossJoin(F.broadcast(total))
        .filter(F.col("value_cents") * F.lit(800) > F.col("total_cents"))
        .select("l_partkey", "value_cents")
    )


@register(
    "tpch_q12_late_shipments",
    category="composite",
    oracle="""
        SELECT l_linestatus,
               CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                        THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
               CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                        THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
        FROM orders
        JOIN lineitem ON o_orderkey = l_orderkey
        WHERE l_shipdate >= o_orderdate + INTERVAL 30 DAY
          AND l_shipdate <  o_orderdate + INTERVAL 60 DAY
          AND l_shipdate >= DATE '1997-01-01'
          AND l_shipdate <  DATE '1998-01-01'
        GROUP BY l_linestatus
    """,
)
def tpch_q12_late_shipments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: conditional priority counts over a
    lag-window join — lines shipped 30-60 days after their order, in
    one year, split high/low priority per line status (no l_shipmode /
    l_commitdate in this corpus: linestatus stands in for shipmode and
    the commit/receipt lag becomes an order→ship lag; the
    CASE-pivot-over-join plan is the point).

    Scale shape: the year predicate pushes into the lineitem scan;
    the join keys on orderkey with the 30/60-day lag as a residual;
    the CASE sums partial-aggregate map-side into ≤2 groups."""
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    li = (
        load(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= "1997-01-01")
            & (F.col("l_shipdate") < "1998-01-01")
        )
        .select("l_orderkey", "l_shipdate", "l_linestatus")
    )
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(
            o,
            (li.l_orderkey == o.o_orderkey)
            & (li.l_shipdate >= F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS"))
            & (li.l_shipdate < F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")),
        )
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(hi, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~hi, 1).otherwise(0)).alias("low_line_count"),
        )
    )


@register(
    "tpch_q17_small_qty_revenue",
    category="composite",
    oracle="""
        WITH pl AS (
            SELECT l_partkey, l_quantity, l_extendedprice
            FROM lineitem
            JOIN part ON p_partkey = l_partkey
            WHERE p_brand = 'Brand#23' AND p_size <= 25
        ),
        pavg AS (
            SELECT l_partkey AS pk,
                   CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qsum,
                   count(*) AS qn
            FROM pl GROUP BY l_partkey
        )
        SELECT CAST(floor(CAST(sum(TRY_CAST(round(l_extendedprice * 100) AS BIGINT))
                               AS BIGINT) / 7.0) AS BIGINT) AS avg_yearly_cents
        FROM pl JOIN pavg ON l_partkey = pk
        WHERE CAST(l_quantity AS BIGINT) * qn * 5 < qsum
    """,
)
def tpch_q17_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: revenue lost to small-quantity orders — lines
    of one brand/size slice whose quantity is under 20% of that part's
    average order quantity (p_container adapts to p_size; the
    correlated-average-then-filter plan is the point).

    Exactness: the 20%-of-average test is the cross-multiplied integer
    inequality qty·n·5 < Σqty (quantity is integral), so the threshold
    never becomes a float; the one output row divides an exact BIGINT
    cent sum by 7 in integer space. Scale shape: the filtered part
    slice broadcasts into the fact scan ONCE, the per-part average is
    a groupBy over that pre-shrunk relation, and the average joins
    back as a broadcast — the fact table is read once and never
    window-sorted. The brand-slice relation is PERSISTED (r9, guide
    §2.4): the per-part average and the final threshold join both
    consume it, and unpersisted each reference re-ran the fact scan +
    dimension join — two fact passes where the docstring promises one.
    The cache holds only the one-brand slice (a small corpus
    fraction), the standard materialize-the-slice decision."""
    p = (
        load(spark, sf_dir, "part")
        .filter((F.col("p_brand") == "Brand#23") & (F.col("p_size") <= 25))
        .select("p_partkey")
    )
    pl = (
        load(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_quantity", "l_extendedprice")
        .join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .select("l_partkey", "l_quantity", "l_extendedprice")
        .cache()
    )
    pavg = pl.groupBy(F.col("l_partkey").alias("pk")).agg(
        F.sum(F.col("l_quantity").cast("long")).alias("qsum"),
        F.count(F.lit(1)).alias("qn"),
    )
    return (
        pl.join(F.broadcast(pavg), pl.l_partkey == pavg.pk)
        .filter(
            F.col("l_quantity").cast("long") * F.col("qn") * F.lit(5)
            < F.col("qsum")
        )
        .agg(
            F.floor(F.sum(cents("l_extendedprice")) / F.lit(7.0))
            .cast("long")
            .alias("avg_yearly_cents")
        )
    )


@register(
    "tpch_q20_promo_suppliers",
    category="composite",
    oracle="""
        SELECT s_name, s_acctbal
        FROM supplier
        JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        WHERE r_name = 'ASIA'
          AND s_suppkey IN (
              SELECT l_suppkey
              FROM lineitem
              JOIN part ON l_partkey = p_partkey
              WHERE p_type = 'PROMO'
                AND l_shipdate >= DATE '1997-01-01'
                AND l_shipdate <  DATE '1998-01-01'
              GROUP BY l_suppkey
              HAVING CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) > 200
          )
    """,
)
def tpch_q20_promo_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: suppliers in one region who moved serious
    volume of one product family in one year — the nested
    semi-join-on-an-aggregate pattern (partsupp availability adapts to
    shipped quantity; 'half the year's demand' becomes a fixed 200-unit
    threshold over integral quantities — exact BIGINT, no float
    boundary).

    Scale shape: the PROMO part slice broadcasts into the pushed-down
    year scan of lineitem; the per-supplier quantity rollup is
    supplier-cardinality-sized and broadcasts as a LEFT SEMI build into
    the region's supplier roster — the fact table never joins the
    dimension directly."""
    promo = (
        load(spark, sf_dir, "part")
        .filter(F.col("p_type") == "PROMO")
        .select("p_partkey")
    )
    movers = (
        load(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= "1997-01-01")
            & (F.col("l_shipdate") < "1998-01-01")
        )
        .select("l_partkey", "l_suppkey", "l_quantity")
        .join(F.broadcast(promo), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("l_suppkey")
        .agg(F.sum(F.col("l_quantity").cast("long")).alias("qty"))
        .filter(F.col("qty") > 200)
        .select("l_suppkey")
    )
    asia = (
        load(spark, sf_dir, "supplier")
        .join(
            F.broadcast(
                load(spark, sf_dir, "nation").join(
                    F.broadcast(
                        load(spark, sf_dir, "region").filter(
                            F.col("r_name") == "ASIA"
                        )
                    ),
                    F.col("n_regionkey") == F.col("r_regionkey"),
                )
            ),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", "s_name", "s_acctbal")
    )
    return asia.join(
        movers, asia.s_suppkey == movers.l_suppkey, "left_semi"
    ).select("s_name", "s_acctbal")


@register(
    "tpch_q21_waiting_suppliers",
    category="composite",
    oracle="""
        SELECT s_name, count(*) AS numwait
        FROM (
            SELECT DISTINCT l1.l_orderkey, l1.l_suppkey
            FROM lineitem l1
            JOIN orders ON o_orderkey = l1.l_orderkey
            WHERE o_orderstatus = 'F'
              AND l1.l_shipdate > o_orderdate + INTERVAL 45 DAY
              AND EXISTS (
                  SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey
              )
              AND NOT EXISTS (
                  SELECT 1 FROM lineitem l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey
                    AND l3.l_shipdate > o_orderdate + INTERVAL 45 DAY
              )
        ) q
        JOIN supplier ON s_suppkey = q.l_suppkey
        JOIN nation   ON s_nationkey = n_nationkey
        JOIN region   ON n_regionkey = r_regionkey
        WHERE r_name = 'AMERICA'
        GROUP BY s_name
    """,
)
def tpch_q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: suppliers who were the SOLE late shipper on
    multi-supplier finished orders, counted per supplier — the
    double-correlated EXISTS / NOT EXISTS query ('late' adapts to
    shipped >45 days after order date; region roster replaces the
    single-nation filter so the answer is non-vacuous at every SF).

    The Spark plan deliberately does NOT translate the two correlated
    subqueries: both collapse into ONE per-order aggregate — n
    distinct suppliers, n distinct LATE suppliers — after which the
    original predicate is the local test (late ∧ n_supp > 1 ∧
    n_late = 1). One orderkey-keyed exchange replaces three correlated
    fact-table probes; the DuckDB oracle keeps the textbook
    EXISTS/NOT-EXISTS form, so the hash match doubles as an
    equivalence proof of the rewrite. Supplier⋈nation⋈region is a
    broadcast closing join on the (order, supplier) survivors.
    The per-pair rollup is PERSISTED (r9, guide §2.4): the per-order
    rollup and the survivor join both read it, and unpersisted each
    reference re-ran the fact⋈orders join and its aggregate — two fact
    passes. The cache holds one row per distinct (order, supplier)
    pair — already the rolled-up relation, a fraction of the fact."""
    o = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey", "o_orderdate")
    )
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    j = li.join(o, li.l_orderkey == o.o_orderkey).withColumn(
        "late",
        (
            F.col("l_shipdate")
            > F.col("o_orderdate") + F.expr("INTERVAL 45 DAYS")
        ).cast("int"),
    )
    per_pair = (
        j.groupBy("l_orderkey", "l_suppkey")
        .agg(F.max("late").alias("any_late"))
        .cache()
    )
    per_order = per_pair.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_supp"),
        F.sum("any_late").alias("n_late"),
    )
    waiting = (
        per_pair.join(per_order, "l_orderkey")
        .filter(
            (F.col("any_late") == 1)
            & (F.col("n_supp") > 1)
            & (F.col("n_late") == 1)
        )
        .select("l_orderkey", "l_suppkey")
    )
    am = (
        load(spark, sf_dir, "supplier")
        .join(
            F.broadcast(
                load(spark, sf_dir, "nation").join(
                    F.broadcast(
                        load(spark, sf_dir, "region").filter(
                            F.col("r_name") == "AMERICA"
                        )
                    ),
                    F.col("n_regionkey") == F.col("r_regionkey"),
                )
            ),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", "s_name")
    )
    return (
        waiting.join(F.broadcast(am), waiting.l_suppkey == am.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )
