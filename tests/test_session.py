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


def test_session_defaults_record_success(monkeypatch):
    """``ensure_session_defaults`` marks a session done only once its
    application's package shipped: a failed ship is retried by the
    next call, and concurrent first calls ship it once."""
    import threading
    import time
    import uuid
    from types import SimpleNamespace

    from ruleset_analysis_spark import session

    ships = []

    def ship(spark):
        ships.append(spark.sparkContext.applicationId)
        if len(ships) == 1:
            raise OSError("addPyFile failed")
        time.sleep(0.05)

    class Conf(dict):
        def set(self, key, value):
            self[key] = value

    class Session:  # a stand-in that, unlike SimpleNamespace, takes weak references
        def __init__(self, app_id):
            self.sparkContext = SimpleNamespace(applicationId=app_id)
            self.conf = Conf()

    monkeypatch.setattr(session, "_ship_package", ship)
    app_id = f"app-{uuid.uuid4()}"  # an application no other test has defaulted
    app = Session(app_id)
    with pytest.raises(OSError):
        session.ensure_session_defaults(app)
    callers = [
        threading.Thread(target=session.ensure_session_defaults, args=(app,))
        for _ in range(8)
    ]
    for t in callers:
        t.start()
    for t in callers:
        t.join(timeout=30)
    assert not any(t.is_alive() for t in callers)
    assert ships == [app_id, app_id]
    assert app.conf["spark.sql.session.timeZone"] == "UTC"

    # a second session of the same application gets its own confs and
    # reuses the shipped package
    other = Session(app_id)
    session.ensure_session_defaults(other)
    assert ships == [app_id, app_id]
    assert other.conf["spark.sql.session.timeZone"] == "UTC"


def test_cached_plans_may_change_their_partitioning(spark):
    """AQE may coalesce a persisted relation's partitions: the conf is
    set on a ``get_spark`` session and on a session defaulted only
    through ``ensure_session_defaults``."""
    from ruleset_analysis_spark import session

    key = "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning"
    assert spark.conf.get(key) == "true"
    fresh = spark.newSession()  # shares the context, not the SQL confs
    assert fresh.conf.get(key) == "false"
    session.ensure_session_defaults(fresh)
    assert fresh.conf.get(key) == "true"


def test_new_session_gets_the_runtime_defaults(spark):
    """A ``spark.newSession()`` of a context that already has the
    defaults starts from Spark's own runtime confs and gets every one
    of ours from ``ensure_session_defaults``; the package is already
    shipped, so nothing is added to the context's Python includes."""
    from ruleset_analysis_spark import session

    want = {
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.legacy.parquet.nanosAsLong": "true",
        "spark.sql.execution.pythonUDTF.arrow.enabled": "true",
        "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
    }
    assert {k: spark.conf.get(k) for k in want} == want
    fresh = spark.newSession()  # shares the context, not the SQL confs
    assert fresh.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "false"
    includes = list(spark.sparkContext._python_includes)
    assert session.ensure_session_defaults(fresh) is fresh
    assert {k: fresh.conf.get(k) for k in want} == want
    assert list(spark.sparkContext._python_includes) == includes

    # a session that only loads tables, whose plans the context's
    # corpus memo already holds, is defaulted too
    from ruleset_analysis_spark.sources.parquet import load

    sf_dir = "/root/testdata/sf0.001"
    loader = spark.newSession()
    region = load(spark, sf_dir, "region")
    assert load(loader, sf_dir, "region") is region
    assert {k: loader.conf.get(k) for k in want} == want


def test_profiler_warms_like_bench():
    """The registry profiler measures after bench.py's own warm-up, and
    no script restates the warm-up list."""
    import importlib.util
    import pathlib

    import bench

    scripts = pathlib.Path(bench.__file__).parent / "scripts"
    spec = importlib.util.spec_from_file_location("plan_audit", scripts / "plan_audit.py")
    plan_audit = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(plan_audit)
    assert plan_audit.warm_up is bench.warm_up
    assert plan_audit.run is bench.run
    for path in scripts.rglob("*"):
        if path.is_file() and path.suffix != ".pyc":
            text = path.read_text()
            assert "pagerank_float_fixpoint" not in text, path
            assert "multimodal_binary_features" not in text, path


def test_substrates_share_the_hot_table_storage_level(spark):
    """Every relation the engine persists is stored like the hot base
    tables bench.py pins with ``.cache()``: Spark's
    ``spark.sql.defaultCacheStorageLevel``, deserialized. No operator
    names a storage level of its own."""
    from ruleset_analysis_spark.plans.registry import all_specs
    from ruleset_analysis_spark.sources.parquet import load

    sf_dir = "/root/testdata/sf0.001"
    hot = load(spark, sf_dir, "events")
    want = hot.cache().storageLevel
    hot.unpersist()
    assert want.deserialized

    specs = all_specs()
    for name in ("dedup_ngram_jaccard", "embed_knn_classify",
                 "graph_triangle_count", "text_zipf_slope"):
        _noop(specs[name].builder(spark, sf_dir))

    levels = [rdd.getStorageLevel()
              for rdd in spark.sparkContext._jsc.getPersistentRDDs().values()]
    assert levels
    for level in levels:
        assert (level.useDisk(), level.useMemory(), level.useOffHeap(),
                level.deserialized(), level.replication()) == (
            want.useDisk, want.useMemory, want.useOffHeap,
            want.deserialized, want.replication), level.description()
