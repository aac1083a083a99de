"""Session defaults that change how the engine runs, not what it returns."""

from __future__ import annotations

import pytest


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def test_generated_code_stays_resident(spark):
    """A query's compiled classes survive more than Spark's default 100
    distinct other classes: re-running it compiles nothing. Integer
    literals are inlined into generated code, so each filler query
    below is a distinct class."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics

    def compiles() -> int:
        return int(metrics.METRIC_COMPILATION_TIME().getCount())

    def probe():
        return (
            spark.range(1000)
            .selectExpr("id % 7 AS k", "id * 3 AS v")
            .groupBy("k")
            .sum("v")
        )

    _noop(probe())
    before_fill = compiles()
    for k in range(150):
        _noop(spark.range(1).selectExpr(f"id * {1_000_003 + k} AS v"))
    assert compiles() - before_fill >= 150, "filler queries no longer compile apart"
    before = compiles()
    _noop(probe())
    assert compiles() - before == 0


def test_compact_bench_line_fits_the_tail():
    """bench.py's last line carries per-family seconds for every query
    category and stays inside a 2000-char stdout tail even at
    four-digit seconds per query."""
    import json

    from bench import compact_line
    from ruleset_analysis_spark.plans.registry import all_specs

    specs = all_specs()
    summary = {
        "metric": "full_query_suite_seconds",
        "value": 99999.999,
        "unit": "sec",
        "sf": 0.1,
        "n_queries": len(specs),
        "supplementary_min_of_2_sum": 99999.999,
    }
    line = compact_line(summary, {n: 1234.567 for n in specs}, specs)
    assert len(line) < 2000
    parsed = json.loads(line)
    assert {k: parsed[k] for k in summary} == summary
    families = parsed["family_seconds"]
    assert set(families) == {s.category for s in specs.values()}
    assert sum(families.values()) == pytest.approx(1234.567 * len(specs))
