"""§2.G — similarity search over the ``embeddings`` table.

Brute-force exact cosine top-k as the correctness baseline, a
label-blocked pairwise threshold scan, and a random-hyperplane LSH
(bucketed ANN) variant as the scale path.

Scale notes: brute-force top-k is a broadcast of one probe vector + a
per-row HOF fold + TakeOrderedAndProject — a single pass, no shuffle of
the embedding table. The LSH variant routes probe and candidates
through bucket ids (equi-join on the bucket key), the IVF-style pattern
that turns ANN into a keyed join at cluster scale.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..functions.vectors import as_double, dot, norm
from ..plans.registry import register
from ..sources.parquet import corpus_memo, load
from ._util import bounded_block

# The probe is the smallest vec_id. A pinned literal id was a
# regeneration hazard: the driver rebuilds the corpus each round and
# owes us no particular id — the fuzz sweep (scripts/fuzz_sweep.py)
# crashed sim_ann_ivf and silently vacuumed sim_cosine_topk/sim_ann_lsh
# to 0 rows on a corpus whose ids started above 0. The lazy queries
# resolve it IN-PLAN as a 1-row broadcast aggregate (`_probe_row`) so
# builders stay action-free; only the already-eager builders (IVF,
# which ranks probe cells driver-side, and MMR, which collects its
# bounded candidate page) use `_probe_id`.
_PROBE_SQL = "(SELECT min(vec_id) FROM embeddings)"
_TOP_K = 10


def _probe_row(e: DataFrame) -> DataFrame:
    """1-row relation ``(pid)`` = min vec_id, for broadcast joining."""
    return e.agg(F.min("vec_id").alias("pid"))


def _probe_id(e: DataFrame) -> int:
    """Smallest vec_id as a driver scalar (eager builders only)."""
    return int(e.agg(F.min("vec_id")).first()[0])


# Hard ceiling for the exact label-blocked all-pairs baselines
# (sim_pairwise_threshold, dedup_embedding_cosine): 10 blocks × 10k²
# ≈ 1e9 candidate pairs is the most the quadratic oracle form should
# ever be asked to do; bigger corpora must route through the LSH-
# bucketed forms whose work is Σ_bucket n_bucket² (occupancy-bounded).
# Enforced in-plan by ``_util.bounded_block`` — an assert, not a hope.
_EXACT_BLOCK_CAP = 10_000

_ORACLE_ELEM = """
    WITH elem AS (
        SELECT vec_id, label,
               CAST(unnest(embedding) AS DOUBLE) AS x,
               generate_subscripts(embedding, 1) AS i
        FROM embeddings
    ),
    nrm AS (SELECT vec_id, sqrt(sum(x * x)) AS n FROM elem GROUP BY vec_id),
    -- normalize-then-dot, SAME algebra (and float rounding) as the
    -- Spark side's normalized_vectors + dot fold: each element is
    -- divided by its vector's norm BEFORE the multiply-accumulate.
    -- sum(a*b)/(|a||b|) is equal only in exact arithmetic; at a
    -- threshold or a 6dp rounding boundary the ULP difference between
    -- the two formulations can flip a row between engines.
    nelem AS (
        SELECT e.vec_id, e.label, e.i, e.x / n.n AS xn
        FROM elem e JOIN nrm n ON n.vec_id = e.vec_id
    )
"""


def normalized_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, label, vn): unit-normalized double vectors.

    Norm is materialized as its own projected column before the
    element-wise divide (an inlined ``x / norm(v)`` would re-fold the
    whole array per element — O(d²)). Downstream pairwise cosine is
    then a single dot-product fold per pair instead of three.

    The relation is persisted: every similarity query self-joins or
    multi-references it (pair joins, probe + candidates, KMeans fit
    scans it maxIter times), and the plan is identical across queries,
    so one session-wide cache entry serves them all. Size is
    |vectors| × dim doubles — the normalized copy of a table one would
    keep hot on a serving cluster anyway; `.cache()` spills to disk
    rather than OOMs if it ever doesn't fit.

    The raw rows are spread round-robin over ``defaultParallelism``
    partitions before the per-vector projections. A corpus file is one
    parquet row group, so ``embeddings`` scans as one partition, and
    the cache and every consumer's per-vector work (scoring folds,
    k-means assignment, LSH signatures) inherited it: at sf0.1 on a
    4-core host ``embed_knn_classify``'s scoring stage ran its 74,556
    dot products as one task of 0.20-0.23 s with three cores idle.
    Spread, that stage runs 4 tasks in 0.07-0.09 s, and perfbench's
    ``substrates_sf0.1`` ``warm_pass_s`` fell from a median 1.436 s to
    1.294 s over fifteen alternating seed pairs, 12 of them faster
    (``embed_knn_classify`` warm 0.419 s to 0.305 s, faster in all
    15). Spreading after
    the projections instead gained less (−9.6% in a prototype), and
    spreading every hot table in ``load()`` made first passes slower.
    AQE never coalesces a ``repartition(n)``, so the count holds under
    ``canChangeCachedPlanOutputPartitioning``."""
    e = (
        load(spark, sf_dir, "embeddings")
        .select("vec_id", "label", "embedding")
        .repartition(spark.sparkContext.defaultParallelism)
        .select("vec_id", "label", as_double("embedding").alias("vd"))
    )
    with_norm = e.select("vec_id", "label", "vd", norm(F.col("vd")).alias("nrm"))
    # nullif: a zero-norm (all-zero) vector yields NULL components —
    # cosine against it becomes NULL and drops at every filter/top-k —
    # instead of an ANSI DIVIDE_BY_ZERO abort killing five queries
    return with_norm.select(
        "vec_id",
        "label",
        F.transform(
            "vd", lambda x: x / F.nullif(F.col("nrm"), F.lit(0.0))
        ).alias("vn"),
    ).cache()


@register(
    "sim_cosine_topk",
    category="similarity",
    oracle=_ORACLE_ELEM
    + f"""
        , dots AS (
            SELECT e.vec_id, sum(e.xn * p.xn) AS d
            FROM nelem e JOIN nelem p ON p.i = e.i AND p.vec_id = {_PROBE_SQL}
            WHERE e.vec_id <> {_PROBE_SQL}
            GROUP BY e.vec_id
        )
        SELECT vec_id, round(d, 6) AS cos
        FROM dots
        ORDER BY d DESC, vec_id ASC
        LIMIT {_TOP_K}
    """,
)
def sim_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact k-NN: top-10 cosine neighbors of the probe (min vec_id).

    The probe row is a broadcast 1-row join (its id resolved in-plan —
    min vec_id — so the builder stays lazy); similarity is a JVM
    higher-order fold per candidate row; top-k plans as
    TakeOrderedAndProject (per-partition heaps)."""
    e = normalized_vectors(spark, sf_dir)
    probe = e.join(
        F.broadcast(_probe_row(e)), F.col("vec_id") == F.col("pid")
    ).select(F.col("vn").alias("probe_vn"), "pid")
    return (
        e.crossJoin(F.broadcast(probe))
        .filter(F.col("vec_id") != F.col("pid"))
        .select("vec_id", dot(F.col("vn"), F.col("probe_vn")).alias("cos_raw"))
        .orderBy(F.desc("cos_raw"), F.asc("vec_id"))
        .limit(_TOP_K)
        .select("vec_id", F.round("cos_raw", 6).alias("cos"))
    )


@register(
    "sim_pairwise_threshold",
    category="similarity",
    oracle=_ORACLE_ELEM
    + """
        , dots AS (
            SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.label AS label,
                   sum(a.xn * b.xn) AS d
            FROM nelem a JOIN nelem b
              ON a.i = b.i AND a.label = b.label AND a.vec_id < b.vec_id
            GROUP BY a.vec_id, b.vec_id, a.label
        )
        SELECT vec_a, vec_b, label, round(d, 6) AS cos
        FROM dots
        WHERE d >= 0.25
    """,
)
def sim_pairwise_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All same-label pairs with cosine ≥ 0.25. The label is the blocking
    key bounding join fan-out — but with ~10 label values Σ n_label² is
    still ~n²/10, so this form is the exact *baseline*; the 100×-scale
    default is ``sim_pairwise_bucketed`` (LSH-bucket blocking, below),
    verified against this one by containment + recall in
    tests/test_properties.py. A ``bounded_block`` guard asserts (in
    plan, per row) that no label block exceeds ``_EXACT_BLOCK_CAP``
    rows — beyond that the quadratic baseline must not run and the job
    aborts with a pointer to the bucketed form.

    r9 optimization: scoring routes through the same grouped Arrow
    kernel as the bucketed family (``_label_blocked_tau_pairs`` →
    ``_bucket_pair_scores``, label as the block key) instead of a
    label-keyed self-join whose per-pair HOF fold evaluated
    INTERPRETED in both the join condition and the projection
    (CodegenFallback, ~2×7 µs per pair; an unrolled 64-term arithmetic
    expression was tried first and measured SLOWER — past ~32 terms
    the generated method exceeds codegen limits and the whole stage
    falls back to interpreted eval). Scores accumulate per dimension
    in ascending order — the same IEEE (mul, add) pair per step as the
    fold — so every double and every ≥-threshold decision is
    bit-identical (pinned by test_pair_scoring_kernel_bit_identical_
    to_jvm_join's tau arm and the differential)."""
    return _label_blocked_tau_pairs(
        spark, sf_dir, 0.25, "sim_pairwise_threshold"
    )


def _label_blocked_tau_pairs(
    spark: SparkSession, sf_dir: str, tau: float, qname: str
) -> DataFrame:
    """Same-label cosine-threshold pairs (vec_a < vec_b) through the
    grouped Arrow scoring kernel: ONE label-keyed exchange of the
    payload relation, Σ n_label² · d vectorized FMAs inside the
    kernel, survivor rows only out — never a pair-scale relation
    across Arrow. NULL labels can't pair (the old ``a.label ==
    b.label`` join condition) so they are filtered before grouping;
    NULL/NaN vectors score NULL in the fold form and are skipped by
    the kernel's validity classes — dropped either way. The
    ``bounded_block`` guard stays in-plan on the grouped side."""
    e = normalized_vectors(spark, sf_dir)
    blocks = bounded_block(
        e.filter(F.col("label").isNotNull()), "label", _EXACT_BLOCK_CAP, qname
    )
    bits = blocks.select(
        "vec_id", F.lit(0).alias("table_id"), F.col("label").alias("bucket")
    )
    pay = e.select("vec_id", F.col("vn").alias("p"))
    scored = _bucket_pair_scores(
        bits, pay, mode="tau", directed=False, tau=tau
    )
    lab = e.select(F.col("vec_id").alias("vec_a"), "label")
    return scored.join(lab, "vec_a").select(
        "vec_a", "vec_b", "label", F.round("score", 6).alias("cos")
    )


# Deterministic random hyperplanes for LSH: fixed seed, generated once
# at import. 4 tables × up to 20 bits × 64 dims. The first _LSH_BITS
# planes per table are the ORIGINAL r2 tensor (RandomState(42), shape
# (4, 6, 64)) — generated separately and concatenated so that the
# adaptive-depth upgrade below reproduces every pre-r6 bucket
# bit-for-bit whenever the effective depth is 6.
_LSH_TABLES = 4
_LSH_BITS = 6  # base depth — the effective depth at every graded tier
_LSH_BITS_MAX = 20
_PLANES = np.concatenate(
    [
        np.random.RandomState(42).randn(_LSH_TABLES, _LSH_BITS, 64),
        np.random.RandomState(43).randn(
            _LSH_TABLES, _LSH_BITS_MAX - _LSH_BITS, 64
        ),
    ],
    axis=1,
)
# Adaptive signature depth: h = 6 + #{j : n_vectors > 32·2^j}, i.e.
# one more bit every time the corpus doubles past ~32 vectors/bucket —
# bucket OCCUPANCY stays ~constant as the corpus grows, which is what
# keeps every Σ n_bucket² pair stage LINEAR in n instead of quadratic
# (the classic fixed-parameter LSH trap: the r6 100x stress tier
# measured the 6-bit buckets at 200k vectors holding 3,125 vectors
# each — 2.5e9 candidate pairs, tens of GB of spill, job death). The
# threshold chain is pure integer comparisons, so both engines compute
# the identical h with no float/log portability risk; at n ≤ 2048
# (every graded tier) h = 6 and buckets are bit-identical to pre-r6.
# Past n = 2^24 the depth saturates at 20 bits — the next extension is
# more tables or wider signatures, a config change, not a plan change.
_LSH_DEPTH_THRESHOLDS = tuple(
    32 * (1 << j) for j in range(_LSH_BITS, _LSH_BITS_MAX)
)


def _planes_values_sql() -> str:
    """The hyperplane tensor as a DuckDB VALUES literal.

    ``repr(float)`` is the shortest round-tripping decimal, so DuckDB
    parses back the bit-identical double the Spark side broadcasts —
    which is what lets the LSH queries carry full value-hash oracles:
    both engines bucket with the SAME planes, so the candidate sets
    (not just the verified cosines) agree exactly."""
    rows = ", ".join(
        f"({t}, {b}, {i + 1}, {_PLANES[t, b, i]!r})"
        for t in range(_LSH_TABLES)
        for b in range(_LSH_BITS_MAX)
        for i in range(64)
    )
    return (
        "planes(table_id, bit_id, i, v) AS (SELECT * FROM (VALUES "
        + rows
        + "))"
    )


def _lsh_depth_sql() -> str:
    """1-row ``hsel(h)`` CTE: the adaptive signature depth from the
    raw vector count via the integer threshold chain (see the
    _LSH_DEPTH_THRESHOLDS note — engine-neutral by construction)."""
    terms = " + ".join(
        f"(CASE WHEN c.n > {t} THEN 1 ELSE 0 END)"
        for t in _LSH_DEPTH_THRESHOLDS
    )
    return (
        f"hsel AS (SELECT {_LSH_BITS} + {terms} AS h "
        "FROM (SELECT count(*) AS n FROM embeddings) c)"
    )


def _lsh_buckets_oracle() -> str:
    """Shared oracle CTE chain: per-vector LSH bucket ids per table,
    the SQL twin of :func:`_lsh_buckets` (sign of plane dot → packed
    bits, first-h-planes prefix at the adaptive depth). A hyperplane
    dot of a unit vector is O(0.1) in magnitude, so the grouped-SUM vs
    sequential-fold accumulation-order ULP can never flip a sign in
    practice (same acceptance as the repo's 6dp cosine rounding
    discipline)."""
    return f"""
        , {_planes_values_sql()},
        {_lsh_depth_sql()},
        sig AS (
            SELECT n.vec_id, p.table_id, p.bit_id, sum(n.xn * p.v) AS d
            FROM nelem n
            JOIN planes p ON p.i = n.i
            CROSS JOIN hsel
            WHERE p.bit_id < hsel.h
            GROUP BY n.vec_id, p.table_id, p.bit_id
        ),
        buckets AS (
            SELECT vec_id, table_id,
                   CAST(sum(CASE WHEN d > 0 THEN (1 << bit_id)
                                 ELSE 0 END) AS INTEGER) AS bucket
            FROM sig GROUP BY vec_id, table_id
        )
    """


def _lsh_depth_rel(e: DataFrame) -> DataFrame:
    """1-row (h) relation: the adaptive signature depth from count(*)
    via the integer threshold chain (see _LSH_DEPTH_THRESHOLDS)."""
    h_expr = F.lit(_LSH_BITS)
    for t in _LSH_DEPTH_THRESHOLDS:
        h_expr = h_expr + (F.col("n") > F.lit(t)).cast("int")
    return e.agg(F.count(F.lit(1)).alias("n")).select(h_expr.alias("h"))


def _lsh_buckets(spark: SparkSession, e: DataFrame) -> DataFrame:
    """(vec_id, table_id, bucket): sign-bit LSH signature per table at
    the ADAPTIVE depth (first h of the 20 planes per table, h from the
    corpus size via the integer threshold chain — see the
    _LSH_DEPTH_THRESHOLDS note; h = 6 at every graded tier, so pre-r6
    buckets are reproduced exactly there).

    Computed by an Arrow ``mapInPandas`` kernel with FOLD-ORDER-
    PRESERVING accumulation: the 80 plane dots per vector accumulate
    over the 64 dimensions in ascending order, one vectorized
    multiply-add per step — each step performs exactly the (round(v·p),
    round(acc+x)) pair of IEEE operations the JVM HOF fold performs,
    in the same order, so the kernel's buckets are BIT-IDENTICAL to
    the declarative form's (``_lsh_buckets_jvm``, kept as the
    equality-test twin) and to the oracle's first-h-planes CTE. Sign
    bits then pack into the per-table bucket int gated on ``bit_id <
    h`` (h rides in as a broadcast 1-row column). No shuffle at all:
    scan → 1-row broadcast → mapInPandas.

    Why Python here, against the house rule: HigherOrderFunction is
    CodegenFallback — interpreted, ~100 µs per 64-dim fold — and the
    r9 x1000 tier measured the substrate at 387 s for 2M vectors in
    the best JVM form (literal-plane projection, after the original
    explode+groupBy form was already rewritten away); the Arrow kernel
    computes the identical integers in 39.7 s. This is the documented
    §2.H trade (vectorized Arrow beats interpreted expression trees
    10×), applied to the one similarity stage that is pure dense
    arithmetic; the five bucket consumers are declared in the plan
    tests' Arrow allowlist.

    Persisted: both pairwise blocking (self-join, two references) and
    ANN probing (probe + candidate sides) reference the signature
    relation more than once, and column pruning defeats ReuseExchange;
    the relation is 3 ints per (vector, table) — a true sketch."""
    import numpy as np

    planes = _PLANES.reshape(_LSH_TABLES * _LSH_BITS_MAX, 64).T.copy()
    weights = 1 << np.arange(_LSH_BITS_MAX, dtype=np.int64)
    n_tables, n_bits = _LSH_TABLES, _LSH_BITS_MAX

    def kernel(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            h = int(pdf["h"].iloc[0])
            # dirty rows (NULL vector, null/NaN elements, wrong length)
            # reproduce the fold's NULL semantics: every plane dot is
            # NULL, NULL > 0 is false, so all bits are 0 → bucket 0 in
            # every table — same as the JVM twin
            rows = [None] * len(pdf)
            for j, a in enumerate(pdf["vn"].tolist()):
                if a is None:
                    continue
                v = np.asarray(a, dtype=np.float64)
                if len(v) == planes.shape[0] and not np.isnan(v).any():
                    rows[j] = v
            valid = [j for j, v in enumerate(rows) if v is not None]
            bits = np.zeros((len(pdf), planes.shape[1]), dtype=np.int64)
            if valid:
                vecs = np.vstack([rows[j] for j in valid])
                acc = np.zeros((len(valid), planes.shape[1]), dtype=np.float64)
                for i in range(planes.shape[0]):
                    # ascending-i accumulation: bit-identical to the fold
                    acc += vecs[:, i : i + 1] * planes[i : i + 1, :]
                bits[valid] = (acc > 0).astype(np.int64)
            live = np.where(np.arange(n_bits) < h, weights, 0)
            out = []
            for t in range(n_tables):
                bucket = bits[:, t * n_bits : (t + 1) * n_bits] @ live
                out.append(
                    pd.DataFrame(
                        {
                            "vec_id": pdf["vec_id"],
                            "table_id": t,
                            "bucket": bucket.astype(np.int32),
                        }
                    )
                )
            yield pd.concat(out)

    return (
        e.crossJoin(F.broadcast(_lsh_depth_rel(e)))
        .mapInPandas(kernel, "vec_id long, table_id int, bucket int")
        .cache()
    )


def _lsh_buckets_jvm(spark: SparkSession, e: DataFrame) -> DataFrame:
    """The declarative twin of :func:`_lsh_buckets`, kept ONLY as the
    bit-equality reference for the kernel (tests/test_similarity
    compares them row-for-row): per table, a sum of depth-gated sign
    bits whose plane vectors are array LITERALS, each bit the same
    ``dot(vn, plane) > 0`` HOF fold, gated lazily on ``bit_id < h``
    (CaseWhen short-circuits — only live planes' dots evaluate), then
    ``stack`` to the (vec_id, table_id, bucket) shape. Zero shuffle,
    but every fold is interpreted (~100 µs): 387 s at 2M vectors where
    the Arrow kernel takes 39.7 s — do not put this back on the query
    path; change both twins (and the oracle) together or not at all."""
    buckets = []
    for t in range(_LSH_TABLES):
        bucket = F.lit(0)
        for b in range(_LSH_BITS_MAX):
            plane = F.lit([float(x) for x in _PLANES[t, b]])
            bit = F.when(dot(F.col("vn"), plane) > 0, F.lit(1 << b)).otherwise(
                F.lit(0)
            )
            bucket = bucket + F.when(F.lit(b) < F.col("h"), bit).otherwise(F.lit(0))
        buckets.append(bucket.cast("int").alias(f"bucket_{t}"))
    wide = e.crossJoin(F.broadcast(_lsh_depth_rel(e))).select("vec_id", *buckets)
    stacked = ", ".join(f"{t}, bucket_{t}" for t in range(_LSH_TABLES))
    return wide.select(
        "vec_id",
        F.expr(f"stack({_LSH_TABLES}, {stacked}) AS (table_id, bucket)"),
    )


def _scored_same_bucket_pairs(
    bits: DataFrame, payload: DataFrame, score, directed: bool
) -> DataFrame:
    """(vec_a, vec_b, score) for every same-(table_id, bucket) pair of
    the corpus, WITH multi-table duplicates: a pair colliding in k of
    the 4 tables appears k times. The score expression is a pure
    deterministic function of the two payload arrays, so the copies
    carry bit-identical scores and consumers collapse them with
    max / dense_rank — NEVER by re-joining payloads onto the pair
    relation.

    This shape is the r9 x1000 catch (SCALE.md, round 9): the previous
    candidates-distinct-then-re-join form shuffled two ~0.5 KB payload
    arrays per candidate row — at 2M vectors (16-bit adaptive depth,
    ~4e8 directed candidates) that is two sort-merge passes over a
    ~200 GB relation, which filled the disk and killed the session.
    Here the payload rides the 4n-row bucket-signature relation
    through the ONE keyed self-join (both sides shuffle on the same
    (table_id, bucket) key, so the exchange is reused), the score is
    computed in that join's output projection, and nothing wider than
    three scalar columns exists at |pairs| scale. The extra ≤4×
    duplicate dot folds are the cheap side of the trade: a fold is
    ~sub-µs of codegen arithmetic; an array-carrying shuffle row is
    ~0.5 KB of disk twice.

    Since the Arrow scoring kernel landed (`_bucket_pair_scores`, the
    second half of the r9 rewrite) this declarative form is off the
    query path and kept as the kernel's bit-equality reference —
    tests compare the two on the graded corpus. Its cost model is the
    reason it lost: the fold is NOT sub-µs in practice
    (HigherOrderFunction is CodegenFallback — ~27 µs per interpreted
    64-dim pair dot including SMJ row copies, 431 s for the 5e8
    candidates at 2M vectors), while the kernel's vectorized
    fold-order accumulation computes the identical doubles in a few
    tens of seconds."""
    sided = bits.join(payload, "vec_id")
    a, b = sided.alias("a"), sided.alias("b")
    pair = (
        F.col("a.vec_id") < F.col("b.vec_id")
        if not directed
        else F.col("a.vec_id") != F.col("b.vec_id")
    )
    return (
        a.join(
            b,
            (F.col("a.table_id") == F.col("b.table_id"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & pair,
        )
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            score(F.col("a.p"), F.col("b.p")).alias("score"),
        )
    )


def _bucket_pair_scores(
    bits: DataFrame,
    payload: DataFrame,
    *,
    mode: str,
    directed: bool = True,
    k: int = 0,
    tau: float = 0.0,
    integer: bool = False,
) -> DataFrame:
    """Arrow ``applyInPandas`` scoring of same-(table_id, bucket)
    pairs, with the REDUCTION pushed into the group kernel so nothing
    pair-scale ever crosses Arrow:

    * ``mode='topk'``  — per group, each probe's top-k candidates by
      (score DESC NULLS LAST, vec_id ASC); any candidate outside its
      group top-k is beaten by ≥k distinct candidates globally, so
      feeding only these to the global dense_rank window is EXACT
      pruning (the WindowGroupLimit argument, applied one level
      earlier). Output ≤ k rows per (group, probe).
    * ``mode='tau'``   — threshold survivors (score ≥ tau) only.
    * ``mode='max'``   — each probe's group-local max (integer
      payloads); cross-group/table duplicates collapse downstream via
      the idempotent global max. Output = occupancy rows, never pairs.

    Exactness: float scores accumulate over the dimensions in
    ascending order, one vectorized multiply-add per step — the same
    IEEE (mul, add) rounding pair per element as the JVM HOF fold, so
    every double is bit-identical to ``_scored_same_bucket_pairs``
    (the kept declarative twin; tests compare them). Integer scores
    (micro-unit quantized dots, |Σ| ≤ 6.4e13 < 2^53) use one exact
    float64 matmul. NULL fold semantics are reproduced via length/
    validity classes: pairs score NULL across different lengths
    (zip_with's null padding) or when either side has a null/NaN
    element, and 0.0 for empty×empty (fold over nothing = init) — so
    the dirty-corpus no-crash contract degrades identically. Probe
    rows are chunked so a pathological mega-bucket builds bounded
    score matrices instead of an occ² allocation.

    Scale shape: ONE (table_id, bucket)-keyed exchange of the 4n-row
    payload-carrying relation; kernel compute is Σ n_bucket² · d FMAs
    (occupancy-bounded by the adaptive depth); output is k·4n / occ /
    survivor rows. At 2M vectors this replaced 431 s of interpreted
    pair folds (plus a 5e8-row narrow relation into the window sort)
    with tens of seconds of numpy."""
    import numpy as np
    import pandas as pd

    if mode == "max":
        schema = "vec_a long, score long"
    else:
        schema = "vec_a long, vec_b long, score double"

    def _empty() -> pd.DataFrame:
        if mode == "max":
            return pd.DataFrame(
                {
                    "vec_a": pd.Series([], dtype="int64"),
                    "score": pd.Series([], dtype="int64"),
                }
            )
        return pd.DataFrame(
            {
                "vec_a": pd.Series([], dtype="int64"),
                "vec_b": pd.Series([], dtype="int64"),
                "score": pd.Series([], dtype="float64"),
            }
        )

    def score_group(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        if n < 2:
            return _empty()
        ids = pdf["vec_id"].to_numpy()
        arrs = pdf["p"].tolist()
        keys = np.empty(n, dtype=np.int64)
        vecs = [None] * n
        for j, a in enumerate(arrs):
            if a is None:
                keys[j] = -1
                continue
            v = np.asarray(a, dtype=np.float64)
            if np.isnan(v).any():
                keys[j] = -2
            else:
                keys[j] = len(v)
                vecs[j] = v
        out_a: list = []
        out_b: list = []
        out_s: list = []
        for key in np.unique(keys):
            if key < 0:
                continue
            members = np.flatnonzero(keys == key)
            m = len(members)
            if m < 2:
                continue
            V = (
                np.vstack([vecs[j] for j in members])
                if key > 0
                else np.zeros((m, 0))
            )
            mids = ids[members]
            # probe-chunked score matrices: bounded memory per chunk
            chunk = max(1, 4_194_304 // max(m, 1))
            for lo in range(0, m, chunk):
                hi = min(m, lo + chunk)
                if integer:
                    # integer-valued floats: exact in float64 matmul
                    S = V[lo:hi] @ V.T
                else:
                    S = np.zeros((hi - lo, m))
                    for i in range(int(key)):
                        # ascending-i accumulation == the fold's rounding
                        S += V[lo:hi, i : i + 1] * V[None, :, i]
                if mode == "max":
                    np.putmask(
                        S,
                        mids[lo:hi, None] == mids[None, :],
                        -np.inf,
                    )
                    best = S.max(axis=1)
                    out_a.extend(mids[lo:hi].tolist())
                    out_s.extend(int(x) for x in best)
                elif mode == "tau":
                    if directed:
                        ok = (S >= tau) & (mids[lo:hi, None] != mids[None, :])
                    else:
                        ok = (S >= tau) & (mids[lo:hi, None] < mids[None, :])
                    ai, bi = np.nonzero(ok)
                    out_a.extend(mids[lo + ai].tolist())
                    out_b.extend(mids[bi].tolist())
                    out_s.extend(S[ai, bi].tolist())
                else:  # topk
                    for r in range(hi - lo):
                        a_idx = lo + r
                        row = S[r]
                        cand = np.flatnonzero(mids != mids[a_idx])
                        order = np.lexsort((mids[cand], -row[cand]))[:k]
                        for o in order:
                            out_a.append(mids[a_idx])
                            out_b.append(mids[cand[o]])
                            out_s.append(row[cand[o]])
        if mode == "topk":
            # NULL-score tail: cross-class / null-class candidates rank
            # after every real score (DESC NULLS LAST), tie by vec_id —
            # only consulted when a probe has < k same-class candidates
            per_probe: dict = {}
            for a in out_a:
                per_probe[a] = per_probe.get(a, 0) + 1
            sorted_ids = np.sort(ids)
            for j in range(n):
                have = per_probe.get(ids[j], 0)
                if have >= k:
                    continue
                cls = keys[j]
                same = (
                    np.count_nonzero(keys == cls) - 1 if cls >= 0 else 0
                )
                if cls >= 0 and same >= k:
                    continue
                for cand_id in sorted_ids:
                    if have >= k:
                        break
                    if cand_id == ids[j]:
                        continue
                    if cls >= 0 and keys[np.flatnonzero(ids == cand_id)[0]] == cls:
                        continue
                    out_a.append(ids[j])
                    out_b.append(int(cand_id))
                    out_s.append(None)
                    have += 1
        if not out_a:
            return _empty()
        if mode == "max":
            return pd.DataFrame({"vec_a": out_a, "score": out_s})
        return pd.DataFrame({"vec_a": out_a, "vec_b": out_b, "score": out_s})

    sided = bits.join(payload, "vec_id")
    return sided.groupBy("table_id", "bucket").applyInPandas(score_group, schema)


@register(
    "sim_ann_lsh",
    category="similarity",
    oracle=_ORACLE_ELEM
    + _lsh_buckets_oracle()
    + f"""
        , cand AS (
            SELECT DISTINCT b.vec_id
            FROM buckets b
            JOIN buckets pb ON pb.vec_id = {_PROBE_SQL}
                           AND b.table_id = pb.table_id
                           AND b.bucket = pb.bucket
            WHERE b.vec_id <> {_PROBE_SQL}
        ),
        dots AS (
            SELECT e.vec_id, sum(e.xn * p.xn) AS d
            FROM nelem e
            JOIN nelem p ON p.i = e.i AND p.vec_id = {_PROBE_SQL}
            JOIN cand c ON c.vec_id = e.vec_id
            GROUP BY e.vec_id
        )
        SELECT vec_id, round(d, 6) AS cos
        FROM dots
        ORDER BY d DESC, vec_id ASC
        LIMIT {_TOP_K}
    """,
)
def sim_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate k-NN via random-hyperplane LSH (4 tables × 6-bit
    buckets): exact cosine is computed only within the probe's buckets.

    Pipeline: per-row bucket signature per table (the zero-shuffle
    Arrow kernel of ``_lsh_buckets``, bit-identical to the HOF-fold
    sign bits) → equi-join candidates with the probe's signatures →
    exact top-k on the candidate set. This is the IVF/LSH routing
    pattern: at 100 TB the bucket id becomes the partition key and a
    query touches only matching partitions."""
    e = normalized_vectors(spark, sf_dir).select("vec_id", "vn")
    bits = _lsh_buckets(spark, e)
    # probe id resolved in-plan (1-row broadcast aggregate) — lazy
    probe_buckets = bits.join(
        F.broadcast(_probe_row(e)), F.col("vec_id") == F.col("pid")
    ).select("table_id", F.col("bucket").alias("probe_bucket"), "pid")
    cand_ids = (
        bits.join(
            F.broadcast(probe_buckets),
            (bits.table_id == probe_buckets.table_id)
            & (bits.bucket == probe_buckets.probe_bucket)
            & (bits.vec_id != probe_buckets.pid),
        )
        .select(bits.vec_id)
        .distinct()
    )
    probe = e.join(
        F.broadcast(_probe_row(e)), F.col("vec_id") == F.col("pid")
    ).select(F.col("vn").alias("probe_vn"))
    return (
        cand_ids.join(e, "vec_id")
        .crossJoin(F.broadcast(probe))
        .select("vec_id", dot(F.col("vn"), F.col("probe_vn")).alias("cos_raw"))
        .orderBy(F.desc("cos_raw"), F.asc("vec_id"))
        .limit(_TOP_K)
        .select("vec_id", F.round("cos_raw", 6).alias("cos"))
    )


@register(
    "sim_pairwise_bucketed",
    category="similarity",
    oracle=_ORACLE_ELEM
    + _lsh_buckets_oracle()
    + """
        , cand AS (
            SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
            FROM buckets a
            JOIN buckets b ON a.table_id = b.table_id
                          AND a.bucket = b.bucket
                          AND a.vec_id < b.vec_id
        ),
        verified AS (
            SELECT c.vec_a, c.vec_b, sum(ea.xn * eb.xn) AS cos_raw
            FROM cand c
            JOIN nelem ea ON ea.vec_id = c.vec_a
            JOIN nelem eb ON eb.vec_id = c.vec_b AND eb.i = ea.i
            GROUP BY c.vec_a, c.vec_b
        )
        SELECT vec_a, vec_b, round(cos_raw, 6) AS cos
        FROM verified WHERE cos_raw >= 0.25
    """,
)
def sim_pairwise_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise cosine ≥ 0.25 with *LSH-bucket blocking* — the
    100×-scale path for ``sim_pairwise_threshold`` (and
    ``dedup_embedding_cosine``), whose label blocking key has ~10
    values and therefore still scans Σ n_label² ≈ n²/10 pairs.

    Candidates are pairs sharing any (table_id, bucket) signature —
    4 tables × 6 hyperplane bits, so the join is keyed on ~4·2⁶
    buckets and the pair count is Σ_bucket n_bucket², bounded by
    bucket occupancy instead of corpus size. Exact cosine verifies
    every candidate, so false positives cost only the verify fold;
    recall is the LSH OR-of-4-tables probability (≈ 1 - (1-p⁶)⁴,
    p = 1 - θ/π — high for near-duplicate angles; the property test
    measures it against the exact scan on the test corpus).

    The verify fold runs INSIDE the bucket self-join and the threshold
    filter runs before the duplicate collapse (`_scored_same_bucket_
    pairs` — value-identical: filter-then-max = max-then-filter over
    bit-identical copies), so the pair-scale relation is 3 scalar
    columns and only threshold survivors reach the dedup shuffle."""
    e = normalized_vectors(spark, sf_dir).select("vec_id", "vn")
    bits = _lsh_buckets(spark, e)
    scored = _bucket_pair_scores(
        bits,
        e.select("vec_id", F.col("vn").alias("p")),
        mode="tau",
        directed=False,
        tau=0.25,
    )
    return (
        scored.groupBy("vec_a", "vec_b")
        .agg(F.max("score").alias("cos_raw"))
        .select("vec_a", "vec_b", F.round("cos_raw", 6).alias("cos"))
    )


_IVF_NLIST = 16
_IVF_NPROBE = 4
# Micro-unit quantization for cell ROUTING: round(xn · 1e6) as BIGINT.
# Cell assignment is an argmax over dot products, and a float argmax is
# the one place a last-ULP cross-engine difference doesn't round away —
# it flips a vector into a different cell and cascades into a wholly
# different candidate set. Integer dots are associative and bit-exact
# in any engine and any partition order, so the routing is hashable;
# the FINAL ranking inside the probed cells stays float cosine (6dp)
# like every sibling query.
_IVF_QSCALE = 1_000_000


def _quantized(e: DataFrame) -> DataFrame:
    """(vec_id, vn, q): unit vectors plus their micro-unit BIGINT
    quantization, filtered to VALID vectors only — `qabs` (Σ|q_i|,
    a NULL-propagating fold, unlike SQL sum) is NULL for zero-norm
    vectors (NULL components) and 0 for empty ones, so the filter
    drops both. The oracle's twin is the ``n > 0`` norm join (empty
    vectors produce no element rows at all)."""
    q = F.transform("vn", lambda x: F.round(x * _IVF_QSCALE).cast("long"))
    qabs = F.aggregate(
        "q", F.lit(0).cast("long"), lambda acc, x: acc + F.abs(x)
    )

    # persisted (plan-keyed by the CacheManager, one entry per corpus):
    # IVF assignment, the k-means iterations (3 rounds × 2 references
    # each), and MMR's pool retrieval all re-derive this relation —
    # the round+cast transform and the validity fold are cheap once,
    # not cheap × every reference (measured: the k-means floor paid
    # ~1.5 s/run re-quantizing)
    return (
        e.select("vec_id", "vn", q.alias("q"))
        .withColumn("qabs", qabs)
        .filter(F.col("qabs") > 0)
        .drop("qabs")
        .cache()
    )


def _ivf_index(
    spark: SparkSession, sf_dir: str
) -> tuple[list, DataFrame]:
    """(seed_qs, assigned): the nlist quantized seed vectors (driver
    side, model parameters) and the persisted (vec_id, vn, cell)
    assignment relation.

    Built once per corpus (``corpus_memo``) and probed many times — the
    production economics of an ANN index (nobody re-trains the quantizer
    per query). A hit skips the seed collect AND the 16-fold assignment
    codegen; the probe-side work (cell ranking + in-cell exact re-rank)
    stays per-call because it IS the query."""
    return corpus_memo(
        spark, sf_dir, "ivf_index", lambda: _build_ivf_index(spark, sf_dir)
    )


def _build_ivf_index(
    spark: SparkSession, sf_dir: str
) -> tuple[list, DataFrame]:
    qv = _quantized(normalized_vectors(spark, sf_dir))
    # nlist seed vectors by md5 order — deterministic, scale-stable,
    # and O(nlist·d) to the driver (model parameters, like the KMeans
    # centroid matrix this replaces)
    seeds = (
        qv.select("vec_id", "q")
        .orderBy(F.md5(F.col("vec_id").cast("string")), "vec_id")
        .limit(_IVF_NLIST)
        .collect()
    )
    seed_qs = [row["q"] for row in seeds]

    # per-vector cell assignment: 16 integer dot folds over literal
    # seed arrays + first-max argmax, all inside whole-stage codegen
    def int_dot(seed):
        lit = F.array(*[F.lit(int(v)) for v in seed])
        return F.aggregate(
            F.zip_with("q", lit, lambda a, b: a * b),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )

    scores = F.array(*[int_dot(s) for s in seed_qs])
    assigned = qv.select(
        "vec_id",
        "vn",
        (F.array_position(scores, F.array_max(scores)) - 1)
        .cast("int")
        .alias("cell"),
    ).cache()
    return seed_qs, assigned


@register(
    "sim_ann_ivf",
    category="similarity",
    oracle=_ORACLE_ELEM
    + f"""
        , valid AS (SELECT vec_id FROM nrm WHERE n > 0),
        q AS (
            SELECT ne.vec_id, ne.i,
                   CAST(round(ne.xn * {_IVF_QSCALE}) AS BIGINT) AS qx
            FROM nelem ne JOIN valid v ON v.vec_id = ne.vec_id
        ),
        seeds AS (
            SELECT vec_id AS seed_id,
                   row_number() OVER (
                       ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
                   ) - 1 AS r
            FROM valid
            QUALIFY r < {_IVF_NLIST}
        ),
        sq AS (
            SELECT s.r, q.i, q.qx AS sx
            FROM seeds s JOIN q ON q.vec_id = s.seed_id
        ),
        dots AS (
            SELECT q.vec_id, sq.r, sum(q.qx * sq.sx) AS d
            FROM q JOIN sq ON sq.i = q.i
            GROUP BY q.vec_id, sq.r
        ),
        cells AS (
            SELECT vec_id, r AS cell FROM (
                SELECT vec_id, r,
                       row_number() OVER (PARTITION BY vec_id
                                          ORDER BY d DESC, r ASC) AS rk
                FROM dots
            ) WHERE rk = 1
        ),
        pcells AS (
            SELECT r AS cell FROM dots
            WHERE vec_id = {_PROBE_SQL}
            ORDER BY d DESC, r ASC LIMIT {_IVF_NPROBE}
        ),
        cand AS (
            SELECT c.vec_id FROM cells c
            JOIN pcells p ON p.cell = c.cell
            WHERE c.vec_id != {_PROBE_SQL}
        ),
        scored AS (
            SELECT t.vec_id, sum(t.xn * p.xn) AS cos_raw
            FROM nelem t
            JOIN nelem p ON p.i = t.i AND p.vec_id = {_PROBE_SQL}
            JOIN cand ON cand.vec_id = t.vec_id
            GROUP BY t.vec_id
        )
        SELECT vec_id, round(cos_raw, 6) AS cos
        FROM scored ORDER BY cos_raw DESC, vec_id LIMIT {_TOP_K}
    """,
)
def sim_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF (inverted-file) ANN: a coarse quantizer partitions the
    corpus into ``nlist`` cells; a probe searches only the ``nprobe``
    nearest cells, then ranks exactly within them.

    This is the scale path beyond LSH for curated corpora: the cell id
    becomes the partition/bucket key of the vector table, so a query
    touches nprobe/nlist of the data — a keyed, prunable scan instead
    of all-pairs.

    The quantizer is ``nlist`` corpus vectors picked by md5 order of
    vec_id — a deterministic pseudo-random sample (the standard
    sample-centroids IVF init, minus the Lloyd refinement whose
    float-model dependence is exactly what kept this query rows-only
    through r4: MLlib's trained centroids exist in no SQL engine).
    Cell routing is an argmax of INTEGER micro-unit dots (see
    ``_IVF_QSCALE``), so assignment is bit-exact cross-engine and the
    whole query now carries a full DuckDB oracle. Only the nlist×d
    seed matrix and the probe vector — model parameters and the query,
    not data — come to the driver; per-vector assignment is a pure
    codegen argmax over literal seed arrays, no shuffle and no Python.

    Recall guard: unit vectors make integer-dot-nearest == cosine-
    nearest cells up to quantization (|Δcos| ≤ d/1e6 ≈ 6e-5), so cell
    routing agrees with the cosine ranking it prunes for."""
    e = normalized_vectors(spark, sf_dir)
    seed_qs, assigned = _ivf_index(spark, sf_dir)

    pid = _probe_id(e)
    probe_row = (
        _quantized(e).filter(F.col("vec_id") == pid).select("q").first()
    )
    if probe_row is None:
        # degenerate probe (zero-norm/empty min-id vector): no cells
        # can be ranked — empty result on both engines, never a crash
        return (
            e.select("vec_id", F.lit(0.0).alias("cos")).limit(0)
        )
    probe_q = np.array(probe_row["q"], dtype=np.int64)
    pdots = [
        (int(np.dot(np.array(s, dtype=np.int64), probe_q)), r)
        for r, s in enumerate(seed_qs)
    ]
    pdots.sort(key=lambda t: (-t[0], t[1]))
    probe_cells = [r for _, r in pdots[:_IVF_NPROBE]]

    probe = e.filter(F.col("vec_id") == pid).select(
        F.col("vn").alias("probe_vn")
    )
    return (
        assigned.filter(F.col("cell").isin(probe_cells))
        .filter(F.col("vec_id") != pid)
        .crossJoin(F.broadcast(probe))
        .select("vec_id", dot(F.col("vn"), F.col("probe_vn")).alias("cos_raw"))
        .orderBy(F.desc("cos_raw"), F.asc("vec_id"))
        .limit(_TOP_K)
        .select("vec_id", F.round("cos_raw", 6).alias("cos"))
    )


_KNN_MOD = 53
_KNN_K = 5


@register(
    "embed_knn_classify",
    category="similarity",
    oracle=_ORACLE_ELEM
    + f"""
        , dots AS (
            SELECT p.vec_id AS probe_id, t.vec_id, t.label,
                   sum(t.xn * p.xn) AS d
            FROM nelem t JOIN nelem p ON p.i = t.i
            WHERE p.vec_id % {_KNN_MOD} = 0 AND p.vec_id < {_KNN_MOD} * 100
              AND NOT (t.vec_id % {_KNN_MOD} = 0 AND t.vec_id < {_KNN_MOD} * 100)
            GROUP BY p.vec_id, t.vec_id, t.label
        ),
        nn AS (
            SELECT probe_id, label FROM (
                SELECT probe_id, label,
                       row_number() OVER (PARTITION BY probe_id
                                          ORDER BY d DESC, vec_id) AS rn
                FROM dots
            ) WHERE rn <= {_KNN_K}
        ),
        votes AS (
            SELECT probe_id, label, count(*) AS n_votes
            FROM nn GROUP BY probe_id, label
        )
        SELECT probe_id, label AS pred_label, n_votes FROM (
            SELECT probe_id, label, n_votes,
                   row_number() OVER (PARTITION BY probe_id
                                      ORDER BY n_votes DESC, label) AS rk
            FROM votes
        ) WHERE rk = 1
    """,
)
def embed_knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN label prediction (k=5, cosine): every 53rd
    vector is an unlabeled probe, classified by majority vote of its
    nearest labeled neighbors; ties break to the smaller label.

    The brute-force-against-a-small-probe-set shape: the PROBE side is
    broadcast (eval batches are tiny next to the corpus), the big
    labeled table streams map-side — no shuffle of the training
    vectors; the exchanges carry *scores* (two longs + a double),
    never vectors. The scan itself is the declared exact-path cost —
    linear in the corpus by definition (100x tier: exp ~0.95, the
    HOF dot per candidate); for corpus-×-corpus workloads the LSH/IVF
    paths (`sim_ann_lsh` / `sim_ann_ivf`) replace it.

    r9 fix from the same tier: the per-probe top-k window partition
    was CORPUS-sized (every probe's partition held all |corpus|
    scores — 1.5B-row sorts per probe at 100 TB). A partial top-k per
    (probe, input partition) now precedes it — TakeOrdered's
    per-partition-heap idea expressed for grouped top-k: under the
    strict (desc d, asc vec_id) total order, each input partition's
    local top-5 is a superset of its contribution to the global
    top-5, so the final per-probe window sees ≤ 5·|partitions| rows
    whatever the corpus size, and the output is partitioning-
    independent. Rides the session-cached normalized-vector
    relation."""
    e = normalized_vectors(spark, sf_dir)
    # the probe set is BOUNDED (≤ 100 ids at any scale factor): an eval
    # batch is a fixed-size artifact, while a %-of-corpus probe set
    # would grow with the data and break the broadcast at 100× — the
    # cap is the scale contract, not a convenience
    is_probe = (F.col("vec_id") % _KNN_MOD == 0) & (
        F.col("vec_id") < _KNN_MOD * 100
    )
    probes = e.filter(is_probe).select(
        F.col("vec_id").alias("probe_id"), F.col("vn").alias("pn")
    )
    train = e.filter(~is_probe)
    scored = train.crossJoin(F.broadcast(probes)).select(
        "probe_id", "vec_id", "label", dot(F.col("vn"), F.col("pn")).alias("d")
    )
    # partial top-k per (probe, input partition): bounds every window
    # partition at any corpus size (see docstring). spark_partition_id
    # only PRE-FILTERS a superset; the final top-k below is identical
    # for any partitioning because (desc d, asc vec_id) is a strict
    # total order.
    wpre = Window.partitionBy("probe_id", F.spark_partition_id()).orderBy(
        F.desc("d"), F.asc("vec_id")
    )
    pre = (
        scored.withColumn("rp", F.row_number().over(wpre))
        .filter(F.col("rp") <= _KNN_K)
        .drop("rp")
    )
    w = Window.partitionBy("probe_id").orderBy(F.desc("d"), F.asc("vec_id"))
    nn = pre.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= _KNN_K
    )
    votes = nn.groupBy("probe_id", "label").agg(
        F.count(F.lit(1)).alias("n_votes")
    )
    wv = Window.partitionBy("probe_id").orderBy(
        F.desc("n_votes"), F.asc("label")
    )
    return (
        votes.withColumn("rk", F.row_number().over(wv))
        .filter(F.col("rk") == 1)
        .select("probe_id", F.col("label").alias("pred_label"), "n_votes")
    )


_KM_K = 4
_KM_ITERS = 3


def _kmeans_oracle() -> str:
    """Unrolled quantized-Lloyd's oracle: _KM_ITERS assign/update CTE
    pairs over integer micro-unit vectors. Generated, not hand-typed —
    iteration count is a constant, so the 'recursive CTEs cannot
    re-aggregate per round' blocker disappears by unrolling."""
    parts = [
        _ORACLE_ELEM,
        f"""
        , valid AS (SELECT vec_id FROM nrm WHERE n > 0),
        q AS (
            SELECT ne.vec_id, ne.i,
                   CAST(round(ne.xn * {_IVF_QSCALE}) AS BIGINT) AS qx
            FROM nelem ne JOIN valid v ON v.vec_id = ne.vec_id
        ),
        seeds AS (
            SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1 AS r
            FROM valid QUALIFY r < {_KM_K}
        ),
        c0 AS (
            SELECT s.r, q.i, q.qx AS cx
            FROM seeds s JOIN q ON q.vec_id = s.vec_id
        )""",
    ]
    for j in range(1, _KM_ITERS + 1):
        parts.append(f"""
        , d{j} AS (
            SELECT q.vec_id, c.r,
                   sum((q.qx - c.cx) * (q.qx - c.cx)) AS dist
            FROM q JOIN c{j - 1} c ON c.i = q.i
            GROUP BY q.vec_id, c.r
        ),
        a{j} AS (
            SELECT vec_id, r AS cluster, dist FROM (
                SELECT vec_id, r, dist,
                       row_number() OVER (PARTITION BY vec_id
                                          ORDER BY dist, r) AS rk
                FROM d{j}
            ) WHERE rk = 1
        ),
        c{j} AS (
            SELECT c.r, c.i, coalesce(m.cx, c.cx) AS cx
            FROM c{j - 1} c
            LEFT JOIN (
                SELECT a.cluster AS r, q.i,
                       CAST(round(avg(q.qx)) AS BIGINT) AS cx
                FROM a{j} a JOIN q ON q.vec_id = a.vec_id
                GROUP BY a.cluster, q.i
            ) m ON m.r = c.r AND m.i = c.i
        )""")
    parts.append(f"""
        SELECT cluster, CAST(count(*) AS BIGINT) AS n_members,
               CAST(sum(dist) AS BIGINT) AS inertia
        FROM a{_KM_ITERS} GROUP BY cluster ORDER BY cluster
    """)
    return "".join(parts)


def _km_partials_kernel(centroids: list, want: str):
    """Arrow kernel factory for one Lloyd pass at fixed centroids:
    assign every vector to its nearest centroid (exact BIGINT
    squared distance, ties → smallest cluster id, numpy argmin's
    first-occurrence rule) and emit per-task INTEGER partials —
    ``want="means"``: (cluster, dim, Σq_dim, n) for the centroid
    update; ``want="report"``: (cluster, n, Σdist) for the final
    rollup. Partials are what cross the shuffle: O(k·d) rows per
    task instead of the corpus. All sums are int64-exact (bounds in
    the caller's docstring), so the partials reproduce the
    JVM fold's integers bit-for-bit."""
    import numpy as np

    c = np.asarray(centroids, dtype=np.int64)
    k, d = c.shape

    def kernel(batches):
        import pandas as pd

        n = np.zeros(k, dtype=np.int64)
        s = np.zeros((k, d), dtype=np.int64)
        inertia = np.zeros(k, dtype=np.int64)
        n_degenerate = 0
        for pdf in batches:
            if len(pdf) == 0:
                continue
            arrs = pdf["q"].tolist()
            good = [a for a in arrs if len(a) == d]
            n_degenerate += len(arrs) - len(good)
            if not good:
                continue
            v = np.asarray(good, dtype=np.int64)
            diff = v[:, None, :] - c[None, :, :]
            dist = (diff * diff).sum(axis=2)
            cl = dist.argmin(axis=1)
            dmin = dist[np.arange(len(v)), cl]
            for j in range(k):
                mask = cl == j
                m = int(mask.sum())
                if not m:
                    continue
                n[j] += m
                if want == "means":
                    s[j] += v[mask].sum(axis=0)
                else:
                    inertia[j] += int(dmin[mask].sum())
        # emit ONLY clusters this task saw members of — a globally
        # empty cluster must produce zero rows (the old groupBy
        # semantics: no row → previous centroid kept / no report row),
        # never a 0/0 division
        if want == "means":
            nz = np.flatnonzero(n)
            yield pd.DataFrame(
                {
                    "cluster": np.repeat(nz.astype(np.int32), d),
                    "dim": np.tile(np.arange(d, dtype=np.int32), len(nz)),
                    "s": s[nz].reshape(-1),
                    "n": np.repeat(n[nz], d),
                }
            )
        else:
            n_out = n.copy()
            n_out[0] += n_degenerate
            nz = np.flatnonzero(n_out)
            yield pd.DataFrame(
                {
                    "cluster": nz.astype(np.int32),
                    "n": n_out[nz],
                    "inertia": inertia[nz],
                }
            )

    return kernel


@register(
    "embed_kmeans_clusters",
    category="similarity",
    oracle=_kmeans_oracle(),
)
def embed_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hand-rolled relational Lloyd's k-means (k=4, 3 iterations,
    deterministic init from the 4 lowest valid vec_ids) over INTEGER
    micro-unit quantized unit vectors: per-cluster member counts and
    within-cluster inertia (micro-units squared).

    This completes the iterative-algorithm triptych the engine
    demonstrates relationally: label propagation (min semiring —
    dedup_cluster_components), score propagation (sum-product —
    graph_pagerank_cooccur), and CENTROID REFINEMENT — the family
    where per-iteration state is a k×d model, not a per-node value.

    Quantized arithmetic end to end (the sim_ann_ivf discipline,
    _IVF_QSCALE): distances are exact BIGINT sums, the argmin is
    integer with a deterministic tie-break (smallest cluster id), and
    the centroid update round(avg(q)) is one correctly-rounded IEEE
    division of an exactly-representable integer sum (|q|·n < 2^53) —
    so every round is bit-identical cross-engine, which upgraded this
    query from rows-only (float centroid recursion) to a full SQL
    oracle: _KM_ITERS is a constant, so the oracle simply UNROLLS the
    recursion into per-round CTE pairs. The NumPy differential mirrors
    the same integer schedule. Inertia is Σ(q−c)² BIGINT — bounded by
    ~2.6e14 per vector, safe to ~3e4 corpus growth over sf1000;
    beyond that the quantization scale is the documented knob.

    Scale shape per iteration (r9, guide §4.2): assignment is an
    Arrow ``mapInPandas`` kernel over the persisted quantized relation
    — the k×d centroid matrix rides INSIDE the kernel closure (model
    parameters, like the IVF seeds), each task emits per-cluster
    INTEGER partials (count, per-dim Σq for the update pass;
    count + Σdist for the report pass), and only those O(k·d) partial
    rows ever reach an exchange. The previous form was a 4-row
    broadcast nested-loop + per-row ``zip_with/aggregate`` fold —
    HigherOrderFunction is CodegenFallback, so every (vector,
    centroid) distance paid the ~100 µs interpreted-fold tax the r9
    x1000 tier measured on the LSH substrate, plus a 64× posexplode
    of the corpus per update. All arithmetic is BIGINT (|q|·d ≤
    2.6e14 ≪ 2^53), so the kernel's sums are exact and bit-identical
    to the fold's; the one IEEE division per centroid component
    (Σ/n, then HALF_UP round) stays a Spark built-in on the partial
    sums — ``sum(s)/sum(n)`` divides the same exactly-representable
    integers the old ``avg``'s double accumulator held, so every
    round is bit-identical cross-engine and to the pre-r9 plan (the
    differential + the pinned oracle prove it). The k×d ints that
    cross the driver each round are model parameters, not data.
    Empty clusters keep their previous centroid (the standard Lloyd
    guard). Degenerate-row convention (unreachable through
    ``_quantized``, which drops null/empty/zero-norm vectors and the
    corpus dimension is uniform): a q whose length differs from the
    centroids' is assigned cluster 0 with NULL dist and excluded
    from the mean sums."""
    e = _quantized(normalized_vectors(spark, sf_dir)).select("vec_id", "q")

    def fit() -> list:
        # the _KM_K LOWEST ids, whatever they are — `vec_id < _KM_K`
        # assumed ids 0..3 exist and IndexError'd on a renumbered
        # corpus (caught by scripts/fuzz_sweep.py); orderBy+limit is a
        # TakeOrdered of k rows
        seeds = e.orderBy("vec_id").limit(_KM_K).collect()
        centroids = [list(r["q"]) for r in seeds]

        # _KM_ITERS assignment rounds = _KM_ITERS − 1 centroid
        # updates + the report pass below (the final assignment IS
        # the report — the old form also reported the last assignment
        # round, it just computed one extra never-consumed update
        # alongside it)
        for _ in range(_KM_ITERS - 1):
            sums = (
                e.mapInPandas(
                    _km_partials_kernel(centroids, want="means"),
                    "cluster int, dim int, s long, n long",
                )
                .groupBy("cluster", "dim")
                .agg(
                    F.round(F.sum("s") / F.sum("n")).cast("long").alias("m")
                )
                .collect()
            )
            by_cluster: dict[int, dict[int, int]] = {}
            for r in sums:
                by_cluster.setdefault(r["cluster"], {})[r["dim"]] = r["m"]
            centroids = [
                [by_cluster[j][d] for d in range(len(centroids[j]))]
                if j in by_cluster
                else centroids[j]
                for j in range(_KM_K)
            ]
        return centroids

    # the FITTED centroids are a corpus-constant model; the report pass
    # below still computes from the vectors on every run
    centroids = corpus_memo(spark, sf_dir, "kmeans_centroids", fit)
    return (
        e.mapInPandas(
            _km_partials_kernel(centroids, want="report"),
            "cluster int, n long, inertia long",
        )
        .groupBy("cluster")
        .agg(
            F.sum("n").alias("n_members"),
            F.sum("inertia").alias("inertia"),
        )
        .orderBy("cluster")
    )


_MMR_POOL = 50  # retrieved candidate page (the distributed part's output)
_MMR_K = 10
# λ = 0.7 relevance / 0.3 diversity, carried as INTEGER weights so the
# greedy argmax is exact: score = 7·rel − 3·max_sim, all BIGINT.
_MMR_REL_W, _MMR_DIV_W = 7, 3


def _mmr_oracle() -> str:
    """Unrolled MMR greedy: _MMR_K selection steps as CTE triples
    (penalty join → argmax pick → selected-set union). Same
    fixed-count unroll trick as the k-means oracle — greedy selection
    is a recursion SQL can't aggregate per round, but a CONSTANT k
    unrolls it away."""
    parts = [
        _ORACLE_ELEM,
        f"""
        , valid AS (SELECT vec_id FROM nrm WHERE n > 0),
        -- MATERIALIZED: the unrolled greedy references these CTEs
        -- O(k) times; inlined, DuckDB would re-open the parquet per
        -- reference and trip the fd limit
        q AS MATERIALIZED (
            SELECT ne.vec_id, ne.i,
                   CAST(round(ne.xn * {_IVF_QSCALE}) AS BIGINT) AS qx
            FROM nelem ne JOIN valid v ON v.vec_id = ne.vec_id
        ),
        rel AS (
            SELECT t.vec_id, sum(t.qx * p.qx) AS rel
            FROM q t JOIN q p ON p.i = t.i AND p.vec_id = {_PROBE_SQL}
            WHERE t.vec_id != {_PROBE_SQL}
            GROUP BY t.vec_id
        ),
        cand AS MATERIALIZED (
            SELECT vec_id, rel FROM rel
            ORDER BY rel DESC, vec_id LIMIT {_MMR_POOL}
        ),
        sims AS MATERIALIZED (
            SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
                   sum(qa.qx * qb.qx) AS sim
            FROM cand a JOIN cand b ON a.vec_id != b.vec_id
            JOIN q qa ON qa.vec_id = a.vec_id
            JOIN q qb ON qb.vec_id = b.vec_id AND qb.i = qa.i
            GROUP BY a.vec_id, b.vec_id
        ),
        sel1 AS MATERIALIZED (
            SELECT 1 AS rnk, vec_id,
                   {_MMR_REL_W} * rel AS score
            FROM cand ORDER BY rel DESC, vec_id LIMIT 1
        ),
        u1 AS MATERIALIZED (SELECT vec_id FROM sel1)""",
    ]
    for j in range(2, _MMR_K + 1):
        parts.append(f"""
        , pen{j} AS MATERIALIZED (
            SELECT s.vec_a AS vec_id, max(s.sim) AS p
            FROM sims s JOIN u{j - 1} u ON u.vec_id = s.vec_b
            GROUP BY s.vec_a
        ),
        sel{j} AS MATERIALIZED (
            SELECT {j} AS rnk, c.vec_id,
                   {_MMR_REL_W} * c.rel
                       - {_MMR_DIV_W} * coalesce(p.p, 0) AS score
            FROM cand c
            LEFT JOIN pen{j} p ON p.vec_id = c.vec_id
            WHERE c.vec_id NOT IN (SELECT vec_id FROM u{j - 1})
            ORDER BY score DESC, c.vec_id LIMIT 1
        ),
        u{j} AS MATERIALIZED (SELECT vec_id FROM u{j - 1}
                 UNION ALL SELECT vec_id FROM sel{j})""")
    union = "\n            UNION ALL ".join(
        f"SELECT rnk, vec_id, score FROM sel{j}"
        for j in range(1, _MMR_K + 1)
    )
    parts.append(f"""
        SELECT CAST(rnk AS INTEGER) AS rank, vec_id,
               CAST(score AS BIGINT) AS mmr_score
        FROM ({union})
    """)
    return "".join(parts)


@register(
    "embed_mmr_rerank",
    category="similarity",
    oracle=_mmr_oracle(),
)
def embed_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal-Marginal-Relevance diversification: retrieve the top-50
    candidates for the probe, then greedily select 10 trading
    relevance against similarity to what's already picked
    (score = 7·rel − 3·max-sim-to-selected, λ=0.7 as integer weights) —
    the re-rank between retrieval and serving that stops a result page
    (or a few-shot example set, or a dedup-aware training batch) from
    being ten near-copies of the best hit.

    Split that matches the data's shape: candidate RETRIEVAL is the
    distributed part (an integer-dot TakeOrdered over the corpus — the
    same micro-unit quantization as sim_ann_ivf, so ranking is
    bit-exact cross-engine); the greedy re-rank runs driver-side over
    the collected 50-row page — O(k·pool·d) integer arithmetic on a
    BOUNDED serving-layer artifact, the same driver-math contract as
    embed_pca_project's d×d eigh and the IVF seed matrix (a pool is a
    page, not a corpus: it does not grow with the data). The oracle
    re-derives retrieval AND all ten greedy steps relationally — the
    constant k unrolls the recursion into per-step CTE triples
    (penalty join → argmax → union), the k-means trick again — so a
    hash match proves the driver greedy implements exactly the
    declared MMR semantics."""
    e = normalized_vectors(spark, sf_dir)
    qv = _quantized(e)

    pid = _probe_id(e)
    probe_row = qv.filter(F.col("vec_id") == pid).select("q").first()
    if probe_row is None:
        return spark.createDataFrame(
            [], "rank int, vec_id long, mmr_score long"
        )
    probe_q = np.array(probe_row["q"], dtype=np.int64)

    def int_dot(seed):
        lit = F.array(*[F.lit(int(v)) for v in seed])
        return F.aggregate(
            F.zip_with("q", lit, lambda a, b: a * b),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )

    pool = (
        qv.filter(F.col("vec_id") != pid)
        .select("vec_id", "q", int_dot(probe_q).alias("rel"))
        .orderBy(F.desc("rel"), F.asc("vec_id"))
        .limit(_MMR_POOL)
        .collect()
    )
    if not pool:
        return spark.createDataFrame(
            [], "rank int, vec_id long, mmr_score long"
        )
    ids = [int(r["vec_id"]) for r in pool]
    rels = np.array([int(r["rel"]) for r in pool], dtype=np.int64)
    qm = np.stack([np.array(r["q"], dtype=np.int64) for r in pool])
    sims = qm @ qm.T  # integer candidate×candidate dots

    selected: list[int] = []
    out = []
    for rank in range(1, min(_MMR_K, len(ids)) + 1):
        best_idx, best_key = None, None
        for idx in range(len(ids)):
            if idx in selected:
                continue
            pen = int(max(sims[idx, s] for s in selected)) if selected else 0
            score = _MMR_REL_W * int(rels[idx]) - _MMR_DIV_W * pen
            key = (-score, ids[idx])
            if best_key is None or key < best_key:
                best_idx, best_key = idx, key
        selected.append(best_idx)
        out.append((rank, ids[best_idx], -best_key[0]))
    # JVM VALUES literal (values_df): the createDataFrame form was a
    # pickled-RDD local relation — Python workers on every run for the
    # k-row MMR result page (guide §4). The empty-pool fallbacks above
    # keep createDataFrame (VALUES needs >= 1 row; never hit at graded
    # tiers).
    from ._util import values_df

    return values_df(spark, out, "rank int, vec_id long, mmr_score long")


_KNN_GRAPH_K = 3


@register(
    "sim_knn_graph",
    category="similarity",
    oracle=_ORACLE_ELEM
    + _lsh_buckets_oracle()
    + f"""
        , cand AS (
            SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
            FROM buckets a
            JOIN buckets b ON a.table_id = b.table_id
                          AND a.bucket = b.bucket
                          AND a.vec_id <> b.vec_id
        ),
        scored AS (
            SELECT c.vec_a, c.vec_b, sum(ea.xn * eb.xn) AS cos_raw
            FROM cand c
            JOIN nelem ea ON ea.vec_id = c.vec_a
            JOIN nelem eb ON eb.vec_id = c.vec_b AND eb.i = ea.i
            GROUP BY c.vec_a, c.vec_b
        )
        SELECT vec_a AS vec_id, vec_b AS neighbor_id,
               CAST(rn AS INTEGER) AS rank, round(cos_raw, 6) AS cos
        FROM (
            SELECT vec_a, vec_b, cos_raw,
                   row_number() OVER (PARTITION BY vec_a
                                      ORDER BY cos_raw DESC, vec_b) AS rn
            FROM scored
        ) WHERE rn <= {_KNN_GRAPH_K}
    """,
)
def sim_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The approximate kNN GRAPH: every vector's top-3 cosine neighbors
    among its LSH-bucket candidates — the all-vectors generalization of
    the single-probe queries, and the substrate graph clustering /
    UMAP / connectivity-based dedup all start from ('give me each
    item's neighbors', not 'each query's results').

    Rides the shared sign-bit bucket substrate (``_lsh_buckets``, the
    same 4 tables × 6-bit signatures ``sim_ann_lsh`` routes with):
    candidates are DIRECTED same-bucket pairs — a keyed self-join whose
    fan-out is Σ n_bucket², never all-pairs — scored with one dot fold
    INSIDE that join (`_scored_same_bucket_pairs`: the vectors ride
    the 4n-row signature relation, never the pair relation), then
    per-vector top-k as a rank window over the CANDIDATE scores
    (|candidates| rows, corpus-independent per vector). Multi-table
    duplicate pairs carry bit-identical scores, so DENSE_RANK over the
    strict (cos desc, vec_b) total order gives every DISTINCT
    candidate the exact rank row_number would give it after a distinct
    — and the duplicate collapse becomes a distinct over the ≤ 4·k·n
    SURVIVORS instead of a shuffle of the full pair relation; the
    window itself still plans as WindowGroupLimit (dense_rank is
    rank-like, partial k-heap below the exchange — plan-pinned). At
    100 TB the bucket id is the partition key, the window partitions
    by vec_id on the scores relation, and k bounds the output to
    k·|corpus| edges. The deliberate asymmetry with the undirected
    ``sim_pairwise_bucketed`` (a < b) is the point: a kNN graph needs
    BOTH directions because neighborhood is not symmetric at fixed
    k."""
    e = normalized_vectors(spark, sf_dir).select("vec_id", "vn")
    bits = _lsh_buckets(spark, e)
    scored = _bucket_pair_scores(
        bits,
        e.select("vec_id", F.col("vn").alias("p")),
        mode="topk",
        directed=True,
        k=_KNN_GRAPH_K,
    ).withColumnRenamed("score", "cos_raw")
    w = Window.partitionBy("vec_a").orderBy(F.desc("cos_raw"), F.asc("vec_b"))
    return (
        scored.withColumn("rn", F.dense_rank().over(w))
        .filter(F.col("rn") <= _KNN_GRAPH_K)
        .select(
            F.col("vec_a").alias("vec_id"),
            F.col("vec_b").alias("neighbor_id"),
            F.col("rn").cast("int").alias("rank"),
            F.round("cos_raw", 6).alias("cos"),
        )
        .distinct()
    )


_OUTLIER_K = 20
# strictly below any unit-vector micro-unit dot (|qd| <= ~1e12):
# the "no bucket neighbor at all" rank-first sentinel
_OUTLIER_SENTINEL = -2 * _IVF_QSCALE * _IVF_QSCALE


@register(
    "sim_outlier_lowmax",
    category="similarity",
    oracle=_ORACLE_ELEM
    + _lsh_buckets_oracle()
    + f"""
        , valid AS (SELECT vec_id FROM nrm WHERE n > 0),
        q AS (
            SELECT ne.vec_id, ne.i,
                   CAST(round(ne.xn * {_IVF_QSCALE}) AS BIGINT) AS qx
            FROM nelem ne JOIN valid v ON v.vec_id = ne.vec_id
        ),
        cand AS (
            SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
            FROM buckets a
            JOIN buckets b ON a.table_id = b.table_id
                          AND a.bucket = b.bucket
                          AND a.vec_id <> b.vec_id
        ),
        qdots AS (
            SELECT c.vec_a, CAST(sum(qa.qx * qb.qx) AS BIGINT) AS qd
            FROM cand c
            JOIN q qa ON qa.vec_id = c.vec_a
            JOIN q qb ON qb.vec_id = c.vec_b AND qb.i = qa.i
            GROUP BY c.vec_a, c.vec_b
        ),
        best AS (
            SELECT vec_a AS vec_id, CAST(max(qd) AS BIGINT) AS max_qdot
            FROM qdots GROUP BY vec_a
        )
        SELECT v.vec_id,
               CAST(coalesce(b.max_qdot, {_OUTLIER_SENTINEL}) AS BIGINT)
                   AS max_qdot
        FROM valid v LEFT JOIN best b ON b.vec_id = v.vec_id
        ORDER BY max_qdot ASC, v.vec_id ASC LIMIT {_OUTLIER_K}
    """,
)
def sim_outlier_lowmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding OUTLIER detection — the QA pass a training-data
    pipeline runs on its vector store: the 20 vectors least
    similar to their most-similar LSH-bucket neighbor. A healthy
    embedding sits in a dense neighborhood (high best-neighbor
    cosine); junk — mis-encoded rows, wrong-modality payloads, noise —
    has a LOW maximum similarity even to its closest candidate, and a
    vector no bucket pairs with at all ranks first via a sentinel
    below any achievable dot.

    Everything that ranks is an INTEGER: dots are micro-unit quantized
    BIGINT folds over the shared ``_quantized`` relation (the
    float-argmax cross-engine discipline every iterative sibling
    follows), max/ordering/tie-break are exact. Candidates ride the
    shared sign-bit bucket substrate — Σ n_bucket² directed pairs,
    never all-pairs, scored inside the bucket self-join
    (`_scored_same_bucket_pairs`) — and because MAX is idempotent over
    the bit-identical multi-table copies, the per-vector max needs NO
    pair-level dedup at all: one map-side-partial groupBy(vec_a) over
    3-scalar-column rows is the only pair-scale shuffle. The final
    ascending top-k is a TakeOrdered, no global sort. The left join
    keeps candidate-less vectors in frame (they are the MOST
    suspicious rows — an outlier report that silently drops them
    inverts its own purpose)."""
    e = normalized_vectors(spark, sf_dir).select("vec_id", "vn")
    qv = _quantized(e).select("vec_id", "q")
    bits = _lsh_buckets(spark, e)
    best = (
        _bucket_pair_scores(
            bits,
            qv.select("vec_id", F.col("q").alias("p")),
            mode="max",
            directed=True,
            integer=True,
        )
        .groupBy("vec_a")
        .agg(F.max("score").alias("max_qdot"))
        .withColumnRenamed("vec_a", "vec_id")
    )
    return (
        qv.select("vec_id")
        .join(best, "vec_id", "left")
        .select(
            "vec_id",
            F.coalesce("max_qdot", F.lit(_OUTLIER_SENTINEL))
            .cast("long")
            .alias("max_qdot"),
        )
        .orderBy(F.asc("max_qdot"), F.asc("vec_id"))
        .limit(_OUTLIER_K)
    )


_RECALL_K = 10


@register(
    "embed_recall_eval",
    category="similarity",
    oracle=_ORACLE_ELEM
    + _lsh_buckets_oracle()
    + f"""
        , valid AS MATERIALIZED (SELECT vec_id FROM nrm WHERE n > 0),
        q AS MATERIALIZED (
            SELECT ne.vec_id, ne.i,
                   CAST(round(ne.xn * {_IVF_QSCALE}) AS BIGINT) AS qx
            FROM nelem ne JOIN valid v ON v.vec_id = ne.vec_id
        ),
        probes AS MATERIALIZED (
            SELECT vec_id AS probe_id FROM valid
            WHERE vec_id % {_KNN_MOD} = 0 AND vec_id < {_KNN_MOD} * 100
        ),
        dots AS (
            SELECT p.probe_id, t.vec_id,
                   CAST(sum(t.qx * pq.qx) AS BIGINT) AS qd
            FROM probes p
            JOIN q pq ON pq.vec_id = p.probe_id
            JOIN q t ON t.i = pq.i AND t.vec_id <> p.probe_id
            GROUP BY p.probe_id, t.vec_id
        ),
        topk AS (
            SELECT probe_id, vec_id FROM (
                SELECT probe_id, vec_id,
                       row_number() OVER (PARTITION BY probe_id
                                          ORDER BY qd DESC, vec_id) AS rn
                FROM dots
            ) WHERE rn <= {_RECALL_K}
        ),
        cand AS MATERIALIZED (
            SELECT DISTINCT p.probe_id, b.vec_id
            FROM probes p
            JOIN buckets a ON a.vec_id = p.probe_id
            JOIN buckets b ON b.table_id = a.table_id
                          AND b.bucket = a.bucket
                          AND b.vec_id <> p.probe_id
        )
        SELECT t.probe_id,
               count(*) AS n_topk,
               CAST(count(c.vec_id) AS BIGINT) AS n_hit
        FROM topk t
        LEFT JOIN cand c ON c.probe_id = t.probe_id
                        AND c.vec_id = t.vec_id
        GROUP BY t.probe_id
    """,
)
def embed_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN index QA — recall@10 of the LSH candidate set against the
    EXACT top-10, per probe: the measurement loop every production ANN
    deployment runs before trusting an index (an index nobody measured
    is a silent-relevance outage), here graded end-to-end: for each of
    the bounded deterministic probes (same ``vec_id % 53`` panel as
    the kNN classifier), the exact integer-dot top-10 is intersected
    with the probe's union-of-bucket-mates candidate set; emits
    (probe_id, n_topk, n_hit) — recall is the n_hit/n_topk rational
    downstream, no float in the graded row.

    Exactness: ranking and intersection ride the shared quantized
    BIGINT substrate (order-independent dots, vec_id tie-break). Scale
    shape: the exact arm is a BOUNDED-probe broadcast (|probes| ≤ 100
    by construction — brute force over probes × corpus is the
    measurement's cost, paid on a sampled panel exactly as in
    production recall audits), the candidate arm reuses the persisted
    bucket signatures with a bucket-keyed join; both arms are
    per-probe top-k/distinct — no all-pairs anywhere.

    Round 8 x1000 postscript: the spot tier first TIMED this query
    out at a 1500 s two-pass watchdog, which looked like the
    corpus-sized-window defect — it is not. The rank-≤-k pattern
    already plans as WindowGroupLimit (partial k-heap below the
    exchange, verified in the executed plan), so the per-probe window
    never sees the 2e8-row dot relation; the wall is the audit arm's
    honest linear cost (≈650 s for 27 probes × 2M vectors of HOF
    integer dots plus the cold bucket substrate). Re-measured with an
    audit-sized budget: 713 s min-of-2, exponent 0.77, µs/vector
    falling 5× over three decades. A hand-rolled partial-top-k
    pre-filter was tried and reverted — it re-implements what the
    optimizer already guarantees, at the price of a second window."""
    e = normalized_vectors(spark, sf_dir).select("vec_id", "vn")
    qv = _quantized(e).select("vec_id", "q")
    bits = _lsh_buckets(spark, e)
    probes = qv.filter(
        (F.col("vec_id") % _KNN_MOD == 0) & (F.col("vec_id") < _KNN_MOD * 100)
    ).select(F.col("vec_id").alias("probe_id"), F.col("q").alias("pq"))
    qdot = F.aggregate(
        F.zip_with("q", "pq", lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    dots = (
        qv.crossJoin(F.broadcast(probes))
        .filter(F.col("vec_id") != F.col("probe_id"))
        .select("probe_id", "vec_id", qdot.alias("qd"))
    )
    # rank-<=-k + filter plans as WindowGroupLimit: a partial k-heap
    # below the exchange bounds every window partition at any corpus
    # size (see docstring postscript — pinned by the plan-shape test).
    w = Window.partitionBy("probe_id").orderBy(F.desc("qd"), F.asc("vec_id"))
    topk = (
        dots.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _RECALL_K)
        .select("probe_id", "vec_id")
    )
    pb = bits.join(
        probes.select("probe_id"),
        bits.vec_id == F.col("probe_id"),
    ).select("probe_id", "table_id", "bucket")
    cand = (
        pb.join(bits, ["table_id", "bucket"])
        .filter(F.col("vec_id") != F.col("probe_id"))
        .select("probe_id", "vec_id")
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    return (
        topk.join(cand, ["probe_id", "vec_id"], "left")
        .groupBy("probe_id")
        .agg(
            F.count(F.lit(1)).alias("n_topk"),
            F.sum(F.coalesce("hit", F.lit(0))).cast("long").alias("n_hit"),
        )
    )
