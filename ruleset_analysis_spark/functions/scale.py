"""Scale utilities: bucketed co-located joins and skew salting.

Two patterns the 100 TB design leans on that deserve first-class,
tested helpers rather than folklore:

* **Bucketing** — persist both sides of a recurring equi-join bucketed
  on the join key (``sources.sinks.write_bucketed_table``); Spark then
  plans a SortMergeJoin with NO exchange on either side (the shuffle
  happened once, at write time, and is amortized over every subsequent
  join). This is how the events⋈rules hit-count join would run nightly
  at 100 TB.
* **Salting** — when one join key value dominates (the reference's
  "busy rule" hot key), a keyed shuffle sends the whole hot key to one
  task. Salting splits the hot side into ``n_salts`` sub-keys and
  replicates the dimension side across them, turning one straggler
  task into ``n_salts`` even ones. AQE's skew-join handles sort-merge
  skew automatically; explicit salting remains necessary for skewed
  *aggregations* and broadcast-ineligible skewed joins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def salted_join(
    fact: DataFrame,
    dim: DataFrame,
    key: str,
    n_salts: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Skew-safe equi-join: spread each fact key over ``n_salts``
    sub-keys, replicate the dimension once per salt, join on
    (key, salt). Result columns = fact columns + dim's non-key columns
    (same as a plain ``fact.join(dim, key)``).

    Use when the dimension is too big to broadcast and the fact side
    has hot keys; for broadcastable dims, ``F.broadcast`` already
    avoids the skewed shuffle entirely."""
    # pmod, NOT abs(hash(..)) % n: hash() covers the full int32 range
    # and abs(Integer.MIN_VALUE) aborts under ANSI (or goes negative
    # with ANSI off, silently dropping the row from the join)
    salt = F.pmod(F.hash(F.monotonically_increasing_id()), F.lit(n_salts)).alias("_salt")
    fact_s = fact.withColumn("_salt", salt)
    salts = F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1))).alias("_salt")
    dim_s = dim.select("*", salts)
    out = fact_s.join(dim_s, on=[key, "_salt"], how=how)
    return out.drop("_salt")


def skew_aware_counts(df: DataFrame, key: str, n_salts: int = 8) -> DataFrame:
    """Two-phase skewed aggregation: count by (key, salt) — spreads a
    hot key over ``n_salts`` partial aggregates — then re-aggregate by
    key. Same result as ``groupBy(key).count()``; bounded per-task
    input for any key distribution. (Catalyst's partial aggregation
    already handles *count*-like aggs well; the pattern matters for
    high-cardinality state per key, e.g. collect_set/distinct.)"""
    salted = df.withColumn(
        "_salt", F.pmod(F.hash(F.monotonically_increasing_id()), F.lit(n_salts))
    )
    partial = salted.groupBy(key, "_salt").agg(F.count(F.lit(1)).alias("_c"))
    return partial.groupBy(key).agg(F.sum("_c").cast("bigint").alias("n"))
