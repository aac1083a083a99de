"""§2 addendum — graph analytics over relational co-occurrence graphs.

PageRank as a registry operator: the canonical iterative-convergence
workload, here over the part co-occurrence graph (parts linked when
they share an order — the graph `join_cooccur_baskets` materializes
pairs of). Together with ``dedup_cluster_components`` this covers both
iterative-algorithm families: label propagation (min semiring) and
weighted score propagation (sum-product semiring).

Spark-first shape (the pre-GraphX RDD PageRank, restated for
DataFrames/Catalyst): ranks and edges are plain relations; one power
iteration is ``edges ⋈ ranks → groupBy(dst).sum``, i.e. exactly one
keyed shuffle per iteration with map-side partial sums. The edge
relation is partitioned once and persisted; every iteration reuses
that partitioning for its join side. Lineage is truncated per
iteration with ``localCheckpoint`` — the same 4^rounds-analysis
pathology documented on ``dedup_cluster_components`` applies to any
loop that self-references its previous round.

Grading (upgraded in round 6, the registry's last planned rows-only →
SQL-oracle conversion): the GRADED ``graph_pagerank_cooccur`` is the
QUANTIZED FIXED-ROUND twin — rank mass in integer micro-units
(``_PR_QSCALE``), damping as ``(85 * mass) div 100`` integer floor
arithmetic, a declared ``_PR_ROUNDS`` power iterations — which makes
every round bit-exact cross-engine and therefore expressible as an
unrolled MATERIALIZED per-round CTE chain in DuckDB (the standing
kmeans/kcore unrolled-recursion recipe; a float fixpoint is not
portable: recursive CTEs cannot aggregate per round and float damping
accumulates engine-ordering ULPs). The adaptive float fixpoint
(Σ|Δrank| ≤ 1e-6 witness, fused rounds, localCheckpoint truncation)
stays as the library path ``pagerank_float_fixpoint`` — the variant a
user runs when they want a convergence guarantee instead of a fixed
budget — NumPy-differentialed in tests/test_properties.py; the
quantized twin gets an EXACT integer NumPy differential there too.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..plans.registry import register
from ..session import shuffle_partitions
from ..sources.parquet import corpus_memo, load
from ._util import values_df

_DAMPING = 0.85
# Convergence contract (float library path): iterate until the L1 rank
# movement Σ|Δrank| drops to _TOL (total rank mass is 1, so the
# tolerance is scale-free — the same 1e-6 means the same thing at 2k
# nodes and 2B), with a hard iteration ceiling as the runaway guard.
# Damping alone only bounds the contraction at 0.85/round (~90 rounds
# to 1e-6); the measured contraction on the co-occurrence graph is
# ~0.1/round (well-mixed, near-uniform degrees), so the witness exits
# at round 7 on both the sf0.01 and sf0.1 corpora — a fixed count is
# either 30% wasted rounds here or an under-converged answer on a
# slower-mixing graph. Same fixpoint discipline as
# dedup_cluster_components.
_TOL = 1e-6
_MAX_ITERATIONS = 20
_PR_FUSE = 2  # power iterations per materialized round (see docstring)
_TOP_K = 20
# Quantized graded twin: rank mass in micro-units of _PR_QSCALE
# (integer floor arithmetic end to end — bit-exact cross-engine), a
# declared fixed _PR_ROUNDS power iterations (the float path's
# measured fixpoint exit is round 7 on both graded corpora; 8 gives
# one round of slack and the quantization floor ~n/_PR_QSCALE is far
# below any top-20 rank gap). 85*_PR_QSCALE = 8.5e13 << 2^63, so the
# damped update never leaves BIGINT range.
_PR_QSCALE = 1_000_000_000_000
_PR_ROUNDS = 8


# The STRONG canonical edge relation feeds the triangle count, link
# prediction, k-core, and the degree histogram, each referencing it in
# self-joins. It is persisted (not just derived from the memoized base
# pairs): a persisted tiny relation carries exact size stats, so the
# wedge self-joins keep planning as broadcast joins — deriving it
# lazily per query lost those stats and regressed link prediction's
# floor measurably.
#
# ADAPTIVE strength threshold (r8). "Strong" means co-occurring more
# than chance, and chance co-occurrence grows linearly with order
# volume over a fixed part catalog — so a FIXED ≥2 gate stops gating
# exactly when the graph is busiest: the r8 events stress tier
# measured the x100 Zipf-densified corpus at 62.9M qualifying pairs,
# where ≥2 keeps 20.2M edges on 20k nodes (Σ deg² = 2.0e11 — every
# wedge consumer dies), while the density-relative gate keeps 433k.
# τ = 2·2^{#{j : P > 2,000,000·8^j}} where P = |pair relation| — one
# doubling per 8x pair growth, the same pure-integer threshold-chain
# discipline as the LSH signature depth and the link-prediction hub
# cap: both engines compute the identical τ from count(*) of the
# identical relation, so the differential gate holds at EVERY tier,
# and every graded tier (P = 1,196,000 at sf0.1, ~0.12M at sf0.01)
# stays at the historical τ = 2 with bit-identical results. The x10
# events stress tier (P ≈ 9M) runs at τ = 4 and x100 (P = 62.9M) at
# τ = 8 → 1.39M edges. Saturates at τ = 512 past 2M·8^7 ≈ 4.2e12
# pairs; extend the range() bound if a catalog ever co-occurs more
# densely than that.
_STRONG_TAU_BASE = 2
_STRONG_TAU_THRESHOLDS = tuple(2_000_000 * 8**j for j in range(8))


def strong_edges_ctes() -> str:
    """The shared oracle prelude: items → pairs → τ → e, verbatim the
    Spark substrate's semantics (canonical u<v part pairs sharing
    ≥ τ orders, τ from the integer threshold chain over the pair
    count). Each graph oracle starts ``WITH {strong_edges_ctes()}``."""
    k_terms = " + ".join(
        f"(CASE WHEN pc.p > {t} THEN 1 ELSE 0 END)"
        for t in _STRONG_TAU_THRESHOLDS
    )
    return f"""items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        pairs AS MATERIALIZED (
            SELECT a.l_partkey AS u, b.l_partkey AS v, count(*) AS n
            FROM items a
            JOIN items b ON a.l_orderkey = b.l_orderkey
                        AND a.l_partkey < b.l_partkey
            GROUP BY a.l_partkey, b.l_partkey
        ),
        tau AS (
            SELECT {_STRONG_TAU_BASE} << ({k_terms}) AS t
            FROM (SELECT count(*) AS p FROM pairs) pc
        ),
        e AS (SELECT u, v FROM pairs CROSS JOIN tau WHERE n >= t)"""


def strong_tau(p: int) -> int:
    """τ for a pair relation of ``p`` rows — the integer threshold chain
    the oracle's ``tau`` CTE computes from the same count."""
    return _STRONG_TAU_BASE << sum(1 for t in _STRONG_TAU_THRESHOLDS if p > t)


def strong_cooccur_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(u, v) canonical u<v part pairs sharing ≥ τ orders — the
    density-relative thresholded co-occurrence graph (the τ gate is
    the Σ deg² guard for every wedge join downstream; τ = 2 at every
    graded tier, see _STRONG_TAU_THRESHOLDS), persisted once per
    corpus (``corpus_memo``).

    The persisted relation is hash-partitioned on ``u`` into a count
    sized from the pair count (one partition per ~2M pairs) — the one
    integer already collected for τ, so sizing costs no extra job; at
    100 TB the same formula yields thousands of partitions, and
    partitioning never affects values. The count is explicit on
    purpose, although the session lets AQE size other persisted
    relations (``session.py``): AQE never coalesces a
    ``repartition(n, col)``, so the cache keeps a hash partitioning on
    ``u`` that the wedge consumers' ``u``-keyed aggregates and joins
    read without a shuffle. An AQE-sized ``repartition("u")`` is
    coalesced, and a coalesced read satisfies no such requirement:
    ``scripts/plan_audit.py`` at sf0.001 then counted 1-2 more
    exchanges in each of
    triangles, link prediction and the degree histogram (link
    prediction 13 -> 18 first-pass jobs)."""
    return corpus_memo(
        spark, sf_dir, "strong_edges", lambda: _strong_edges(spark, sf_dir)
    )


def _strong_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .joins import basket_pair_counts

    pairs = basket_pair_counts(spark, sf_dir)
    p = pairs.count()
    n_parts = max(1, min(shuffle_partitions(spark) * 32, p // 2_000_000 + 1))
    return (
        pairs.filter(F.col("n_orders") >= strong_tau(p))
        .select(F.col("part_a").alias("u"), F.col("part_b").alias("v"))
        .repartition(n_parts, "u")
        .cache()
    )


def cooccur_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric (src, dst) part pairs sharing ≥1 order — the basket
    co-occurrence graph, riding the shared MEMOIZED pair substrate
    (joins.basket_pair_counts: pair cost bounded by basket size, not
    item popularity; persisted once per session/corpus, so the
    symmetrizing union's two references are two in-memory scans, not
    two basket-pipeline runs)."""
    from .joins import basket_pair_counts

    pairs = basket_pair_counts(spark, sf_dir).select(
        F.col("part_a").alias("src"), F.col("part_b").alias("dst")
    )
    return pairs.unionByName(
        pairs.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )


def _pagerank_oracle() -> str:
    """Unrolled quantized power iteration: one MATERIALIZED rank
    relation per round (the kmeans/kcore unrolled-recursion recipe —
    inlined chains re-expand the whole prefix per reference). Every
    arithmetic step is BIGINT floor division, identical to the Spark
    plan's ``div`` expressions, so the chain is bit-exact; DuckDB's
    sum() widens to HUGEINT mid-expression, which is fine internally
    and CAST back to BIGINT before it can reach a result column."""
    q = _PR_QSCALE
    parts = [
        f"""
        WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        e AS (
            SELECT a.l_partkey AS u, b.l_partkey AS v
            FROM items a
            JOIN items b ON a.l_orderkey = b.l_orderkey
                        AND a.l_partkey < b.l_partkey
            GROUP BY a.l_partkey, b.l_partkey
        ),
        sym AS MATERIALIZED (
            SELECT u AS src, v AS dst FROM e
            UNION ALL SELECT v AS src, u AS dst FROM e
        ),
        deg AS MATERIALIZED (
            SELECT src, CAST(count(*) AS BIGINT) AS deg
            FROM sym GROUP BY src
        ),
        c AS MATERIALIZED (
            SELECT CAST({q} // count(*) AS BIGINT) AS r0,
                   CAST((15 * {q}) // (100 * count(*)) AS BIGINT) AS base_q
            FROM deg
        ),
        rank0 AS MATERIALIZED (
            SELECT d.src AS node, c.r0 AS r FROM deg d CROSS JOIN c
        )
        """
    ]
    for k in range(1, _PR_ROUNDS + 1):
        parts.append(
            f"""
        , rank{k} AS MATERIALIZED (
            SELECT s.dst AS node,
                   CAST(c.base_q + (85 * sum(p.r // d.deg)) // 100
                        AS BIGINT) AS r
            FROM sym s
            JOIN rank{k - 1} p ON p.node = s.src
            JOIN deg d ON d.src = s.src
            CROSS JOIN c
            GROUP BY s.dst, c.base_q
        )
        """
        )
    parts.append(
        f"""
        SELECT node, CAST(r AS BIGINT) AS rank_micro
        FROM rank{_PR_ROUNDS}
        ORDER BY r DESC, node LIMIT {_TOP_K}
        """
    )
    return "".join(parts)


@register(
    "graph_pagerank_cooccur",
    category="graph",
    oracle=_pagerank_oracle(),
)
def graph_pagerank_cooccur(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 parts by quantized PageRank over the co-occurrence graph
    (damping 85/100, uniform init, a declared _PR_ROUNDS = 8 power
    iterations, rank mass in _PR_QSCALE integer micro-units).

    The GRADED twin of ``pagerank_float_fixpoint`` (round-6 oracle
    upgrade — the registry's last planned rows-only conversion): all
    arithmetic is BIGINT floor division (``r div deg`` per out-edge,
    ``base_q + (85 * mass) div 100`` per update), so every round is
    bit-exact across engines and the DuckDB oracle unrolls the same 8
    rounds as MATERIALIZED CTEs. Quantization error is bounded by one
    micro-unit per out-edge per round — ~deg/_PR_QSCALE ≈ 1e-9 of
    total mass on the graded graphs, orders below any top-20 gap —
    and the fixed budget replaces the convergence witness: 8 unrolled
    (edge ⋈ rank → keyed sum) rounds in one lazy job after a single
    build-time node count (each round references its predecessor
    exactly once, so lineage grows linearly — the 4^rounds pathology
    needs a double self-reference). The persisted (src, dst, deg)
    relation serves all 8 join references from cache; only the
    node-sized rank relation shuffles per round — identical economics
    to the float path minus 4 checkpoint barriers and 4 witness
    aggregations.

    r9 optimization (guide §2.4/§7.2): the uniform init mass and the
    per-round teleport base used to ride a 1-row ``consts`` relation
    crossJoined (broadcast) into every round. Lazy plan reuse does NOT
    deduplicate that subtree — the initial plan carried 9 copies of
    the (distinct → count) aggregation (112 InMemoryTableScans, 418
    Exchanges, 730 HashAggregates over the whole query) plus one
    BroadcastExchange + BNLJ per round, and paid whole-stage codegen
    for all of it on first run. The node count n is now computed ONCE
    at build time (a single count job over the persisted edge cache —
    the same driver-math contract as the IVF seeds / PCA partials) and
    r0/base_q are embedded as integer literals: Python ``//`` on
    positive ints is the same floor division as SQL ``div``, so every
    value is bit-identical. Plan: 9 aggregation subtrees + 9
    broadcasts + 9 BNLJ gone; BNLJ allowlist entry removed.

    No dangling nodes (edges are symmetric, so out-degree ≥ 1 for
    every node), so the update rule is pure relational algebra — no
    dangling-mass redistribution term. Top-20 plans as
    TakeOrderedAndProject with the (rank desc, node asc) total
    tie-break; the emitted rank is the raw BIGINT micro-rank."""
    out = _pagerank_out_edges(spark, sf_dir)
    deg_nodes = out.select("src").distinct()
    # integer constants: uniform init mass and the per-round teleport
    # base, floor-divided from ONE build-time node count (see
    # docstring; Python // == SQL div on positive ints). The count is a
    # corpus constant over the persisted edge cache, memoized because
    # re-running the count job on every build charged ~0.3-0.5 s per
    # invocation to pure plan construction.
    n = corpus_memo(spark, sf_dir, "pagerank_n", deg_nodes.count)
    if n == 0:
        return values_df(spark, [], "node long, rank_micro long")
    r0 = _PR_QSCALE // n
    base_q = (15 * _PR_QSCALE) // (100 * n)
    ranks = deg_nodes.select(
        F.col("src").alias("node"), F.lit(r0).cast("long").alias("r")
    )
    for _ in range(_PR_ROUNDS):
        # Keyed join, deliberately NOT a broadcast: the edge relation
        # keeps its persisted partitioning; only the node-sized rank
        # relation shuffles to meet it. Each round references its
        # predecessor exactly once — linear lineage, single lazy job.
        # SHUFFLE_HASH on the rank side (r7): the default SortMergeJoin
        # re-SORTED the edge-sized cached relation in every round (the
        # cache preserves partitioning, not ordering); hashing the
        # node-sized rank relation instead streams the edges unsorted —
        # 8 edge-relation sorts drop out of the job for one node-sized
        # hash build per round.
        ranks = (
            out.join(ranks.hint("shuffle_hash"), out.src == ranks.node)
            .select("dst", F.expr("r div deg").alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("mass"))
            .select(
                F.col("dst").alias("node"),
                F.expr(
                    f"CAST({base_q} AS BIGINT) + (85 * mass) div 100"
                ).alias("r"),
            )
        )
    return (
        ranks.orderBy(F.desc("r"), F.asc("node"))
        .limit(_TOP_K)
        .select("node", F.col("r").alias("rank_micro"))
    )


def _pagerank_out_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The (src, dst, deg) out-edge relation: it feeds all _PR_ROUNDS
    join references of the unrolled power iteration plus the float
    library path, so it is persisted once per corpus and the 8
    references are 8 in-memory scans."""
    return corpus_memo(
        spark, sf_dir, "pagerank_out", lambda: _out_edges(spark, sf_dir)
    )


def _out_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = cooccur_edges(spark, sf_dir)
    # SIZE the persisted edge partitioning from the edge count (1
    # partition per ~2M edge rows): every one of the 8 unrolled rounds
    # runs one task per edge partition, so a 70k-row graph spread over
    # 32 partitions paid ~770 task launches of pure scheduler overhead
    # per query (~9.3 s hot at sf0.1). Partition count NEVER affects
    # values — the quantized update is associative BIGINT arithmetic —
    # and at 100 TB the same formula yields thousands of partitions.
    # The count stays explicit although the session lets AQE size
    # persisted relations: each round's join aligns to the CACHED
    # relation's hash partitioning on src, which AQE keeps only for a
    # repartition(n, col). An AQE-sized repartition("src") is
    # coalesced, its cache reports no src partitioning, and the query
    # ran 2 more first-pass jobs (scripts/plan_audit.py, sf0.001:
    # 17 -> 19) and slower warm runs.
    from .joins import basket_pair_counts

    m2 = 2 * basket_pair_counts(spark, sf_dir).count()  # symmetric rows
    n_parts = max(1, min(shuffle_partitions(spark) * 32, m2 // 2_000_000 + 1))
    edges = edges.repartition(int(n_parts), "src")
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    # out-degree rides the edge relation: one wide row per src
    return edges.join(deg, "src").cache()


def pagerank_float_fixpoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Library path (UNREGISTERED): top-20 parts by float PageRank
    iterated to the Σ|Δrank| ≤ _TOL fixpoint — the variant a user runs
    for a convergence guarantee instead of the graded twin's fixed
    budget. NumPy-differentialed in tests/test_properties.py.

    Per iteration: contributions = edges ⋈ ranks (keyed on src, the
    edge relation's persisted partitioning), then groupBy(dst).sum —
    ONE shuffle, partial-aggregated map-side.

    Iterations are FUSED two per materialized round (_PR_FUSE): at
    local scale each round's cost is dominated by fixed job/checkpoint
    overhead, not data, so halving the number of materializations
    halves the overhead while the per-round lineage stays a bounded
    2 joins deep (the 4^rounds pathology needs UNBOUNDED growth). The
    convergence witness is the Σ|Δ| across a fused pair: the update is
    a contraction (measured factor ~0.1/iter here, ≤0.85 worst case),
    so pair-delta ≤ τ bounds the single-step delta by τ/(1−c) — same
    fixpoint guarantee, half the driver round-trips. The NumPy
    differential runs the IDENTICAL fused schedule, so both sides stop
    after the same iteration count. Only scalars cross to the driver
    (node count + one witness per round, a node-keyed join of two
    checkpointed node-sized relations); like dedup_cluster_components
    this function executes eagerly (count + per-round localCheckpoint)
    — acceptable here because it is NOT a registry builder."""
    out = _pagerank_out_edges(spark, sf_dir)

    nodes = out.select(F.col("src").alias("node")).distinct()
    n = nodes.count()
    ranks = nodes.select(
        "node", F.lit(1.0 / n).alias("rank")
    ).localCheckpoint(eager=True)
    base = (1.0 - _DAMPING) / n

    def power_step(r):
        contribs = (
            out.join(r, out.src == r.node)
            .select("dst", (F.col("rank") / F.col("deg")).alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("mass"))
        )
        return contribs.select(
            F.col("dst").alias("node"),
            (F.lit(base) + F.lit(_DAMPING) * F.col("mass")).alias("rank"),
        )

    for _ in range(_MAX_ITERATIONS // _PR_FUSE):
        cur = ranks
        for _ in range(_PR_FUSE):
            cur = power_step(cur)
        new_ranks = cur.localCheckpoint(eager=True)
        # convergence witness: every node has in-degree ≥ 1 (symmetric
        # edges), so the inner join covers the full node set
        delta = (
            new_ranks.join(ranks.toDF("node", "prev_rank"), "node")
            .agg(F.sum(F.abs(F.col("rank") - F.col("prev_rank"))))
            .first()[0]
        )
        ranks = new_ranks
        if delta <= _TOL:
            break
    return (
        ranks.orderBy(F.desc("rank"), F.asc("node"))
        .limit(_TOP_K)
        .select("node", F.round("rank", 8).alias("rank"))
    )


@register(
    "graph_triangle_count",
    category="graph",
    oracle=f"""
        WITH {strong_edges_ctes()},
        deg AS (
            SELECT w, count(*) AS d FROM (
                SELECT u AS w FROM e UNION ALL SELECT v AS w FROM e
            ) GROUP BY w
        ),
        r AS (SELECT w, d * 4294967296 + w AS rk FROM deg),
        o AS MATERIALIZED (
            SELECT CASE WHEN ru.rk < rv.rk THEN e.u ELSE e.v END AS s,
                   CASE WHEN ru.rk < rv.rk THEN e.v ELSE e.u END AS t,
                   CASE WHEN ru.rk < rv.rk THEN rv.rk ELSE ru.rk END AS t_rk
            FROM e
            JOIN r ru ON ru.w = e.u
            JOIN r rv ON rv.w = e.v
        )
        SELECT count(*) AS n_triangles
        FROM o w1
        JOIN o w2 ON w2.s = w1.s AND w1.t_rk < w2.t_rk
        JOIN o c  ON c.s = w1.t AND c.t = w2.t
    """,
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count on the strong co-occurrence graph (part pairs
    sharing ≥ τ orders, τ density-relative per _STRONG_TAU_THRESHOLDS,
    = 2 at every graded tier) — the clustering-coefficient /
    community-density primitive.

    DEGREE-ORDERED wedge enumeration (the Schank-Wagner 'forward'
    recipe — the standard scalable triangle algorithm): every edge is
    oriented from its lower-(degree, id) endpoint to its higher one,
    and wedges are enumerated only at each triangle's MINIMUM-rank
    vertex, closed by the oriented (mid, max) edge — each triangle
    counted exactly once, identical count to any other enumeration
    order. The point is the cost bound: out-degree under degree
    ordering is ≤ ~sqrt(2m) for EVERY node (a node with k
    higher-ranked neighbors has k neighbors of degree ≥ k, so
    k² ≤ Σ deg = 2m), making the wedge stage Σ d⁺(v)² = O(m^1.5)
    REGARDLESS of hub skew — where the previous ID-canonical wedge
    join was Σ in(v)·out(v), quadratic in the hottest hub's degree
    (the r8 events stress tier measured it at wall-growth exponent
    2.03 on the Zipf-densified x10 basket graph; degree ordering cuts
    the same graph's wedge relation from ~4.4e9 rows to the
    O(m^1.5) bound with NO semantics gate — unlike link prediction's
    hub cap, the count is bit-identical by construction at every
    scale). Rank packs (degree, node) into one BIGINT
    (d·2^32 + node) so the orientation is a total order both engines
    compute identically in pure integer arithmetic. Three keyed
    equi-joins; the oriented relation is persisted (referenced by
    both wedge sides and the closing-edge probe; ReuseExchange never
    fires across canonically-different pruned subtrees); edge
    generation rides the shared MEMOIZED pair substrate
    (joins.basket_pair_counts) and the persisted strong-edge cache."""
    e = strong_cooccur_edges(spark, sf_dir)
    deg = (
        e.select(F.col("u").alias("w"))
        .unionByName(e.select(F.col("v").alias("w")))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    rk = deg.select(
        "w", (F.col("d") * F.lit(4294967296) + F.col("w")).alias("rk")
    )
    o = (
        e.join(rk.select(F.col("w").alias("u"), F.col("rk").alias("rku")), "u")
        .join(rk.select(F.col("w").alias("v"), F.col("rk").alias("rkv")), "v")
        .select(
            F.when(F.col("rku") < F.col("rkv"), F.col("u"))
            .otherwise(F.col("v"))
            .alias("s"),
            F.when(F.col("rku") < F.col("rkv"), F.col("v"))
            .otherwise(F.col("u"))
            .alias("t"),
            F.greatest("rku", "rkv").alias("t_rk"),
        )
        .cache()
    )
    w1, w2, c = o.alias("w1"), o.alias("w2"), o.alias("c")
    return (
        w1.join(
            w2,
            (F.col("w2.s") == F.col("w1.s"))
            & (F.col("w1.t_rk") < F.col("w2.t_rk")),
        )
        .join(
            c,
            (F.col("c.s") == F.col("w1.t")) & (F.col("c.t") == F.col("w2.t")),
        )
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )


# Super-hub witness cap for common-neighbor link prediction. The
# wedge stage enumerates one row per (witness, endpoint-pair) — cost
# Σ_w deg(w)², which a single hub node turns quadratic: the r8 events
# stress tier measured the Zipf-densified x10 basket graph (1.08M
# strong edges, max degree 19,274) at 4.37e9 wedges / 718 s wall,
# exponent 2.33 — the same fixed-parameter trap the LSH depth fix
# closed for the similarity family. The standard discount (the reason
# Adamic-Adar weights common neighbors by 1/log deg) is that a witness
# connected to everything carries no pair-specific signal, so witnesses
# with degree > cap are EXCLUDED from the evidence set: Jaccard is
# computed over the informative neighborhoods N'(x) = N(x) \ hubs
# (numerator and denominator consistently), while hubs remain fully
# eligible as RANKED ENDPOINTS. cap = 64·2^{#{j : m > 8192·8^j}} —
# one doubling per 8x edge growth (cap ∝ m^(1/3), wedge bound
# Σ ≤ cap·2m ∝ m^(4/3); measured at x10: 4.37e9 → 1.77e8 wedges with
# 570/20,000 nodes discounted). Pure-integer threshold chain, so both
# engines compute the identical cap from count(*); at every graded
# tier (m ≤ 3,573, max degree ≤ 51) the hub set is EMPTY and results
# are bit-identical to the uncapped r1 semantics. Saturates at
# cap = 16,384 past m = 8192·8^7 ≈ 1.7e10 edges; beyond that the
# witness bound grows as m/16384 again — extend the range() bound if
# a deployment ever ranks links on a graph that large.
_LP_HUB_CAP_BASE = 64
_LP_HUB_THRESHOLDS = tuple(8192 * 8**j for j in range(8))


def _link_prediction_oracle() -> str:
    k_terms = " + ".join(
        f"(CASE WHEN c.m > {t} THEN 1 ELSE 0 END)" for t in _LP_HUB_THRESHOLDS
    )
    return f"""
        WITH {strong_edges_ctes()},
        adj AS (
            SELECT u AS w, v AS n FROM e
            UNION ALL
            SELECT v AS w, u AS n FROM e
        ),
        deg AS (SELECT w, count(*) AS d FROM adj GROUP BY w),
        caprel AS (
            SELECT {_LP_HUB_CAP_BASE} << ({k_terms}) AS cap
            FROM (SELECT count(*) AS m FROM e) c
        ),
        hubs AS (
            SELECT w FROM deg CROSS JOIN caprel WHERE d > cap
        ),
        -- witness-filtered adjacency: rows whose CENTER is informative.
        -- adj is symmetric, so grouping a2 by the n column also yields
        -- the informative-neighborhood size |N(x) \\ hubs| per node.
        a2 AS MATERIALIZED (
            SELECT adj.w, adj.n FROM adj
            WHERE NOT EXISTS (SELECT 1 FROM hubs h WHERE h.w = adj.w)
        ),
        deg2 AS (SELECT n AS w, count(*) AS d FROM a2 GROUP BY n),
        cand AS (
            SELECT x.n AS a, y.n AS b, count(*) AS common
            FROM a2 x JOIN a2 y ON x.w = y.w AND x.n < y.n
            GROUP BY x.n, y.n
        ),
        nonedge AS (
            SELECT cand.* FROM cand
            WHERE NOT EXISTS (
                SELECT 1 FROM e WHERE e.u = cand.a AND e.v = cand.b
            ) AND common >= 2
        )
        SELECT a AS part_a, b AS part_b,
               CAST(common AS BIGINT) AS common_neighbors,
               round(CAST(common AS DOUBLE) / (da.d + db.d - common), 6)
                   AS jaccard_score
        FROM nonedge
        JOIN deg2 da ON da.w = a
        JOIN deg2 db ON db.w = b
        ORDER BY jaccard_score DESC, part_a, part_b
        LIMIT 20
    """


@register(
    "graph_link_prediction",
    category="graph",
    oracle=_link_prediction_oracle(),
)
def graph_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Common-neighbor link prediction on the strong co-occurrence
    graph: the top-20 part pairs that are NOT yet linked but share the
    most neighborhood (Jaccard of adjacency sets) — the
    recommender/graph-completion primitive ('these two parts co-occur
    with the same things; expect them together').

    Same wedge substrate as the triangle count, with the ADAPTIVE
    super-hub witness cap bounding the Σ deg(w)² wedge stage (see the
    _LP_HUB_THRESHOLDS note: hub witnesses carry no pair-specific
    signal and are excluded from the evidence set once their degree
    exceeds the integer-chain cap; the hub set is EMPTY at every
    graded tier, so graded results are bit-identical to the uncapped
    form). Candidate pairs come only from shared informative
    neighbors, never from an all-pairs scan; the existing-edge
    exclusion is a left-anti hash join. Jaccard is an exact rational
    of BIGINT counts over the informative neighborhoods (|N'(a)∩N'(b)|
    over the inclusion-exclusion union of |N'| sizes), so the ranking
    is bit-identical cross-engine; top-20 plans as
    TakeOrderedAndProject with a full deterministic tie-break."""
    # The thresholded edge relation is referenced four times (the
    # symmetric adjacency feeding both wedge sides, the cap's edge
    # count, the existing-edge anti-join): the shared persisted
    # strong-edge cache serves all of them with exact size stats
    # (pre-cache measurement: 5.6 → ~3 s at sf0.1 from persisting;
    # stats keep the wedge joins broadcast-planned).
    e = strong_cooccur_edges(spark, sf_dir)
    adj = e.select(F.col("u").alias("w"), F.col("v").alias("n")).unionByName(
        e.select(F.col("v").alias("w"), F.col("u").alias("n"))
    )
    deg = adj.groupBy("w").agg(F.count(F.lit(1)).alias("d"))
    # 1-row adaptive witness cap from the edge count (integer chain —
    # both engines compute the identical value, no float/log risk)
    k_sql = " + ".join(
        f"(CASE WHEN m > {t} THEN 1 ELSE 0 END)" for t in _LP_HUB_THRESHOLDS
    )
    caprel = e.agg(F.count(F.lit(1)).alias("m")).select(
        F.expr(f"shiftleft({_LP_HUB_CAP_BASE}, {k_sql})").alias("cap")
    )
    # hub relation is ≤ 2m/cap rows by construction (Σ deg = 2m) —
    # broadcastable at any tier the cap chain admits
    hubs = (
        deg.crossJoin(F.broadcast(caprel))
        .filter(F.col("d") > F.col("cap"))
        .select(F.col("w").alias("hub"))
    )
    # witness-filtered adjacency; adj is symmetric, so grouping a2 by
    # the NEIGHBOR column yields the informative degree |N(x) \ hubs|
    # per node — one relation serves the wedge join and both degree
    # lookups. Persisted: three references, and the wedge self-join
    # prunes columns differently per side so ReuseExchange never fires.
    a2 = (
        adj.join(F.broadcast(hubs), adj.w == F.col("hub"), "left_anti")
        .cache()
    )
    deg2 = a2.groupBy("n").agg(F.count(F.lit(1)).alias("d"))
    x, y = a2.alias("x"), a2.alias("y")
    cand = (
        x.join(y, (F.col("x.w") == F.col("y.w")) & (F.col("x.n") < F.col("y.n")))
        .groupBy(F.col("x.n").alias("a"), F.col("y.n").alias("b"))
        .agg(F.count(F.lit(1)).alias("common"))
        .filter(F.col("common") >= 2)
    )
    nonedge = cand.join(
        e,
        (cand.a == e.u) & (cand.b == e.v),
        "left_anti",
    )
    da = deg2.select(F.col("n").alias("a"), F.col("d").alias("da"))
    db = deg2.select(F.col("n").alias("b"), F.col("d").alias("db"))
    score = F.round(
        F.col("common").cast("double")
        / (F.col("da") + F.col("db") - F.col("common")),
        6,
    )
    return (
        nonedge.join(da, "a")
        .join(db, "b")
        .select(
            F.col("a").alias("part_a"),
            F.col("b").alias("part_b"),
            F.col("common").alias("common_neighbors"),
            score.alias("jaccard_score"),
        )
        .orderBy(F.desc("jaccard_score"), F.asc("part_a"), F.asc("part_b"))
        .limit(20)
    )


_KCORE_K = 3
_KCORE_ROUNDS = 4


def _kcore_oracle() -> str:
    """Unrolled bounded-peel CTE chain: one MATERIALIZED (alive,
    degree) pair per round (inlined chains re-expand the whole prefix
    per reference and blow up exponentially in DuckDB — the standing
    unrolled-recursion discipline from the kmeans/mmr oracles)."""
    parts = [
        f"""
        WITH {strong_edges_ctes()},
        sym AS MATERIALIZED (
            SELECT u AS node, v AS nbr FROM e
            UNION ALL SELECT v AS node, u AS nbr FROM e
        ),
        deg0 AS MATERIALIZED (
            SELECT node, CAST(count(*) AS BIGINT) AS deg0
            FROM sym GROUP BY node
        ),
        a0 AS (SELECT node FROM deg0)
        """
    ]
    for r in range(1, _KCORE_ROUNDS + 1):
        parts.append(
            f"""
        , d{r} AS MATERIALIZED (
            SELECT a.node, CAST(coalesce(dd.d, 0) AS BIGINT) AS d
            FROM a{r - 1} a LEFT JOIN (
                SELECT s.node, count(*) AS d
                FROM sym s
                JOIN a{r - 1} x ON x.node = s.node
                JOIN a{r - 1} y ON y.node = s.nbr
                GROUP BY s.node
            ) dd ON dd.node = a.node
        ),
        p{r} AS (SELECT node FROM d{r} WHERE d < {_KCORE_K}),
        a{r} AS MATERIALIZED (SELECT node FROM d{r} WHERE d >= {_KCORE_K})
        """
        )
    peel_union = "\n            UNION ALL ".join(
        f"SELECT node, {r} AS r FROM p{r}" for r in range(1, _KCORE_ROUNDS + 1)
    )
    parts.append(
        f"""
        , peeled AS ({peel_union})
        SELECT d0.node AS part_id, d0.deg0,
               CAST(coalesce(p.r, 0) AS INTEGER) AS peel_round
        FROM deg0 d0 LEFT JOIN peeled p ON p.node = d0.node
        """
    )
    return "".join(parts)


@register(
    "graph_kcore_bounded",
    category="graph",
    oracle=_kcore_oracle(),
)
def graph_kcore_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded k-core decomposition (k=3, 4 peel rounds) of the strong
    co-occurrence graph — the density layering between per-node degree
    and full community detection: round 1 strips leaf-ish parts,
    deeper rounds strip nodes whose support was itself peripheral, and
    the round-4 survivors approximate the 3-core (the recommender /
    fraud-ring substrate). Emits (part_id, initial degree, peel_round
    1-4, or 0 = survivor) — the BOUNDED recursion is the graded
    contract on both engines (an unbounded fixpoint would leave the
    oracle unexpressible; the sf0.01/sf0.1 graphs peel <2% of nodes in
    round 4, so the bound is near the true core), all-integer output.

    Rides the persisted strong-edge relation (shared with triangles /
    link prediction — no new basket scan). DELTA ITERATION (r6
    rewrite, same integers): the alive-degree of a survivor is its
    previous degree minus its edges into the JUST-PEELED frontier —
    d_r(v) = d_{r-1}(v) − |N(v) ∩ peeled_{r-1}| — because
    d_{r-1} counted neighbors in alive_{r-2} = alive_{r-1} ∪
    peeled_{r-1}. So only round 1 pays a full-edge degree count;
    rounds 2..R join the edge relation against the (shrinking)
    frontier ONLY, one keyed exchange of frontier-incident edges
    each. The prior formulation recounted alive-neighbor degrees from
    the FULL edge set every round (two alive semi-joins + a full-edge
    agg × R) — at 100 TB the delta form touches R× less edge data;
    the frontier join is stats-planned (no broadcast hint: round-1
    frontiers can be large, later ones are tiny — AQE sees the
    checkpointed sizes). Per-round node state is localCheckpointed —
    the standard iterative recipe (without it the state's double
    self-reference per round re-expands the full prefix: measured
    26 s / ~900 stages at sf0.01 vs ~1 s checkpointed), so this
    builder executes eagerly (documented lazy-rule exception,
    plans/registry.py). The oracle keeps the recount formulation —
    both count the same alive edges, so the integers are identical."""
    e = strong_cooccur_edges(spark, sf_dir)
    sym = e.select(F.col("u").alias("node"), F.col("v").alias("nbr")).unionByName(
        e.select(F.col("v").alias("node"), F.col("u").alias("nbr"))
    )
    deg0 = sym.groupBy("node").agg(F.count(F.lit(1)).alias("deg0"))
    # round-1 alive-degree IS deg0 (everything is alive before round 1)
    dj = deg0.select("node", F.col("deg0").alias("d"))
    peeled = []
    for r in range(1, _KCORE_ROUNDS + 1):
        dj = dj.localCheckpoint()
        peeled.append(
            dj.filter(F.col("d") < _KCORE_K).select(
                "node", F.lit(r).alias("r")
            )
        )
        if r == _KCORE_ROUNDS:
            break
        frontier = dj.filter(F.col("d") < _KCORE_K).select(
            F.col("node").alias("nbr")
        )
        losses = (
            sym.join(frontier, "nbr")
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("lost"))
        )
        dj = (
            dj.filter(F.col("d") >= _KCORE_K)
            .join(losses, "node", "left")
            .select(
                "node",
                (F.col("d") - F.coalesce("lost", F.lit(0))).alias("d"),
            )
        )
    peel_all = peeled[0]
    for p in peeled[1:]:
        peel_all = peel_all.unionByName(p)
    return deg0.join(peel_all, "node", "left").select(
        F.col("node").alias("part_id"),
        "deg0",
        F.coalesce("r", F.lit(0)).cast("int").alias("peel_round"),
    )


@register(
    "graph_degree_distribution",
    category="graph",
    oracle=f"""
        WITH {strong_edges_ctes()},
        sym AS (
            SELECT u AS node, v AS nbr FROM e
            UNION ALL
            SELECT v AS node, u AS nbr FROM e
        ),
        deg AS (SELECT node, count(*) AS degree FROM sym GROUP BY node)
        SELECT CAST(degree AS BIGINT) AS degree,
               CAST(count(*) AS BIGINT) AS n_nodes
        FROM deg GROUP BY degree
    """,
)
def graph_degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree histogram of the strong co-occurrence graph — the
    first structural report read before ANY graph algorithm is run
    (power-law tail ⇒ salt the high-degree keys; bounded max degree ⇒
    wedge self-joins are safe). Complements the per-node reports
    (k-core, PageRank) with the whole-graph shape at histogram cost.

    Shape: rides the memoized persisted ``strong_cooccur_edges``
    substrate (zero marginal basket work when any graph-family peer
    already ran this session), symmetrizes with a union of two
    in-memory scans, then two partial-aggregated keyed exchanges
    (node-degree, degree-histogram). The result is ≤ max-degree rows —
    the SAME plan at 100 TB: degree counting is the map-side-combine
    poster child, and the histogram key space collapses by orders of
    magnitude at each step. All-integer, so the hash gate is exact.
    """
    e = strong_cooccur_edges(spark, sf_dir)
    sym = e.select(F.col("u").alias("node")).unionByName(
        e.select(F.col("v").alias("node"))
    )
    deg = sym.groupBy("node").agg(F.count(F.lit(1)).alias("degree"))
    return deg.groupBy("degree").agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes")
    )
