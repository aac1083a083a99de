"""Vector math over ``array<float>`` columns as Catalyst expressions.

All JVM-side higher-order functions (Spark ≥3.1) — no Python in the row
path, no explode/shuffle: a dot product over a 64-dim embedding is one
fold per row. The fold is not compiled: in Spark 4.1.2
``ArrayAggregate``, ``ZipWith`` and ``ArrayTransform`` implement
``CodegenFallback``, so the generated stage around them calls their
interpreted ``eval`` and every lambda runs once per element, per row.
The fold is kept anyway because its sum is a sequential left-to-right
double accumulation, the order the DuckDB oracles' normalize-then-dot
SQL is written against, and the oracle parity of every rounded cosine
relies on it. Elements are cast to double *before* arithmetic so
accumulation runs in double precision, matching an oracle that sums
unnested doubles (float32 accumulation would drift at the 1e-6 level
and break rounded comparisons).
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F


def as_double(arr: Column | str) -> Column:
    return F.transform(arr, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Σ aᵢ·bᵢ via zip_with + aggregate (sequential double fold — the
    same left-to-right order DuckDB's grouped SUM sees after rounding)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


# NOTE: a cosine(a, b) = dot/(|a||b|) helper used to live here. Every
# query now goes through similarity.normalized_vectors + dot() instead
# (norm each vector once, single fold per pair), and the DuckDB oracles
# use the same normalize-then-dot algebra — reintroducing the
# divide-at-the-end form would re-open cross-engine ULP drift at
# thresholds.
