"""Shared operator helpers: exact-money expressions and temp views.

Exact-cents discipline (see SCALE.md): every graded money/value column
in the corpus is 2dp-exact (max |x·100 − round(x·100)| ≈ 4e-12, well
under half a cent), so ``CAST(round(x*100) AS BIGINT)`` recovers the
true integer cents identically in Spark and DuckDB — both engines
compute the same double for ``x*100`` and the value is never near the
.5 edge. Summing BIGINT cents is associative and order-independent,
which a double sum is not: partial-aggregation order can drift the
last ULP and flip a ``round(sum, 2)`` output between engines (the
round-2 ``stream_rollup_multires`` driver hash miss). Deriving the
emitted value from the BIGINT (``cents / 100.0`` — one correctly-
rounded IEEE division, bit-identical in both engines) removes the
whole failure class at any scale and any partition order.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, SparkSession, functions as F


def cents(col: Column | str, scale: int = 100) -> Column:
    """Exact integer sub-units of a 2dp-exact double column (Spark side).

    ``scale=100`` → cents; ``scale=1_000_000`` → micro-units for
    6dp-rounded outputs.

    ``try_cast``, not ``cast``: under Spark 4's default ANSI mode a
    plain cast ABORTS the whole job on the first NaN/±inf/overflowing
    double — the one-dirty-row-kills-the-scan failure mode the
    dirty-data convention (SCALE.md) bans. DuckDB's TRY_CAST degrades
    the same three classes to NULL (its plain CAST likewise raises),
    so :func:`cents_sql` mirrors it and both engines stay symmetric on
    clean AND poisoned money columns; pinned by the extreme-value rows
    in tests/test_dirty_corpus.py.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.round(c * scale).try_cast("long")


def cents_sql(expr: str, scale: int = 100) -> str:
    """The DuckDB-side twin of :func:`cents` (same rounding, same type,
    same NULL degrade on NaN/inf/overflow — see :func:`cents`)."""
    return f"TRY_CAST(round(({expr}) * {scale}) AS BIGINT)"


def floor_long(expr: Column) -> Column:
    """``floor(double) → BIGINT`` with TRY_CAST NULL-degrade semantics.

    Spark's ``floor(double)`` never fails — even under ANSI it maps
    NaN→0 and ±inf/overflow→Long.MIN/MAX silently — which diverges
    from the DuckDB oracle's ``TRY_CAST(floor(x) AS BIGINT)`` (NULL on
    all three classes). Guard explicitly so a poisoned money value
    degrades to NULL identically on both engines instead of injecting
    a silent 0/Long.MAX into a BIGINT sum. The guard bound 9.0e18 is
    slightly inside Long.MAX (9.223e18); doubles in that sliver would
    diverge (DuckDB converts, we NULL) but no 2dp-exact money product
    can reach 9e16 dollars. Same one-dirty-row-never-kills-the-job
    convention as :func:`cents` (SCALE.md)."""
    ok = (~F.isnan(expr)) & (F.abs(expr) < F.lit(9.0e18))
    return F.when(ok, F.floor(expr)).otherwise(F.lit(None)).cast("long")


def bounded_block(df, key: str, cap: int, what: str):
    """In-plan guard: fail LOUDLY if any blocking-key group exceeds
    ``cap`` rows, instead of letting a label-blocked exact all-pairs
    join detonate quadratically at scale (Σ n_block² work).

    The per-key count rides an unordered WINDOW over ``key`` — its
    required distribution is exactly the hash partitioning the
    downstream blocked join needs anyway, so Catalyst reuses ONE
    exchange and the guard costs no extra scan, shuffle, or join
    (the earlier aggregate+broadcast-join form re-scanned the
    relation and added ~0.6 s of floor to every guarded query). The
    filter predicate ``when(n ≤ cap, true).otherwise(raise_error(...))``
    evaluates per row inside codegen, so an oversized block aborts the
    job with an actionable message (use the LSH-bucketed sibling) the
    moment it is scanned, not after hours of shuffle. The guard passes
    rows through untouched when within bounds, so oracle parity is
    unaffected.
    """
    from pyspark.sql import Window

    n = F.count(F.lit(1)).over(Window.partitionBy(key))
    msg = F.concat(
        F.lit(f"{what}: blocking key "),
        F.col(key).cast("string"),
        F.lit(" has "),
        F.col("_n_block").cast("string"),
        F.lit(
            f" rows > cap {cap}: exact all-pairs is quadratic per block —"
            " use the LSH-bucketed form (sim_pairwise_bucketed /"
            " sim_ann_lsh) at this scale"
        ),
    )
    return (
        df.withColumn("_n_block", n)
        .filter(F.when(F.col("_n_block") <= cap, F.lit(True)).otherwise(F.raise_error(msg)))
        .drop("_n_block")
    )


# Literal SQL rendering for values_df — flat primitive types only.
_SQL_TYPES = {
    "long": "BIGINT",
    "bigint": "BIGINT",
    "int": "INT",
    "integer": "INT",
    "string": "STRING",
    "boolean": "BOOLEAN",
    "double": "DOUBLE",
}


def _sql_literal(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        # repr is the shortest round-tripping decimal (and 'nan'/'inf'/
        # '-inf'/'-0.0', which a bare literal renders as identifiers or
        # loses the sign of); the string cast parses every one of them
        # back to the bit-identical double
        return f"CAST('{v!r}' AS DOUBLE)"
    if isinstance(v, str):
        # Spark string literals understand backslash escapes, so both
        # the quote and the backslash must be doubled
        return "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"
    raise TypeError(f"values_df: unsupported literal {type(v).__name__}")


def values_df(spark: SparkSession, rows, ddl: str):
    """A small literal relation as a pure-JVM ``LocalRelation`` — the
    fast twin of ``spark.createDataFrame(rows, ddl)`` for driver-side
    constant tables (guide §4: remove the Python boundary where no
    data needs it).

    ``createDataFrame`` from a Python list builds a *pickled-RDD*-
    backed DataFrame: every materialization launches Python workers to
    deserialize the rows (measured: ~1.2 s per noop run for a 94-row
    relation on an idle 32-core session, up to several seconds under
    load — for constant dimension tables that is pure overhead on
    every run). A ``VALUES`` literal analyzes to a LocalRelation and
    executes JVM-only.

    Row/schema parity with ``createDataFrame`` is exact and pinned by
    tests/test_plan_shape.py::test_values_df_matches_create_dataframe:
    the ``if(true, CAST(..), NULL)`` projection keeps every output
    attribute NULLABLE in the *analyzed* schema (matching
    createDataFrame's all-nullable contract — a bare VALUES column of
    non-null literals analyzes non-nullable, which would change the
    driver-visible schema), while the optimizer folds the whole
    projection back to a LocalRelation, so nothing survives at
    execution.

    ``ddl``: flat ``name type`` pairs (optionally ``name: type``),
    primitive types only — exactly the shapes the registry's constant
    dims use. Empty ``rows`` (VALUES needs >= 1 row) renders one
    all-NULL row under ``WHERE false``, which plans to an empty
    LocalRelation with the same nullable schema."""
    fields = []
    for part in ddl.split(","):
        part = part.strip().replace(":", " ")
        name, typ = part.split(None, 1)
        fields.append((name, _SQL_TYPES[typ.strip().lower()]))
    cols = ", ".join(
        f"if(true, CAST(c{i} AS {t}), NULL) AS {name}"
        for i, (name, t) in enumerate(fields)
    )
    vals = ", ".join(
        "(" + ", ".join(_sql_literal(v) for v in row) + ")"
        for row in rows or [(None,) * len(fields)]
    )
    names = ", ".join(f"c{i}" for i in range(len(fields)))
    where = "" if rows else " WHERE false"
    return spark.sql(f"SELECT {cols} FROM VALUES {vals} AS t({names}){where}")


def _view(spark: SparkSession, sf_dir: str, table: str) -> str:
    """Register table as a query-local temp view, return the view name.

    The name embeds the sf_dir so builders called against different
    corpora in one session (check.py at sf0.01, plan tests at sf0.001)
    never replace each other's views. Spark resolves the view at
    ``spark.sql`` analysis time, so an already-built DataFrame is
    immune to later re-registration either way — the suffix removes
    even the transient window.
    """
    from ..sources.parquet import load

    suffix = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    name = f"_sq_{table}_{suffix}"
    load(spark, sf_dir, table).createOrReplaceTempView(name)
    return name
