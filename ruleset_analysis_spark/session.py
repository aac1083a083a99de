"""SparkSession construction and session-level defaults.

Two entry paths:

* ``get_spark()`` — build our own tuned local-mode session (tests,
  ``bench.py``, ad-hoc use).
* ``ensure_session_defaults(spark)`` — make an *externally provided*
  session (the grading driver's) safe for our queries. Only touches
  runtime-settable SQL confs, never restarts the JVM.

Why each conf matters:

* ``spark.sql.session.timeZone=UTC`` — DuckDB (the correctness oracle)
  uses naive/UTC timestamps; Spark TIMESTAMP is session-TZ-relative.
  Pinning UTC makes collected datetimes bit-identical between engines.
* ``spark.sql.legacy.parquet.nanosAsLong=true`` — an ``events`` table
  stored as ``timestamp[ns]`` (round 1's encoding) is otherwise
  unreadable by Spark 4.x (PARQUET_TYPE_ILLEGAL). With this conf the
  column arrives as int64 nanoseconds and ``normalize_event_ts``
  floor-divides it to microseconds — the same truncation DuckDB
  applies. Harmless when the data is already ``timestamp[us]``
  (round 2's encoding): the loader dispatches on the actual read type.
* ``spark.sql.shuffle.partitions`` — 200 (default) over-parallelizes
  local-mode work; we size to ~cores. At cluster scale this would be
  set per-job from input statistics (or left to AQE coalescing, which
  Spark enables by default).
* Arrow execution — vectorized Python<->JVM transfer for the declared
  pandas-UDF surface and fast ``collect``.
* ``spark.sql.codegen.cache.maxEntries`` — Spark keeps compiled
  classes in one JVM-wide LRU cache of 100 entries by default. One
  pass over the registry fills 2,617 entries at sf0.1, and the seven
  benchmark substrate queries 147, so at 100 every warm run
  recompiled code it already had and ran freshly loaded, un-JITted
  classes. ``CODEGEN_CACHE_ENTRIES`` holds the whole working
  set. The cost is Metaspace: 230 MB instead of 208 MB after three
  registry passes at sf0.01. It is a static conf, read once when the
  JVM builds the cache, so ``ensure_session_defaults`` cannot raise it
  on an externally built session: that session keeps Spark's 100.
* ``spark.sql.optimizer.canChangeCachedPlanOutputPartitioning=true``
  — lets AQE coalesce the final shuffle of every persisted relation
  (``.cache()``: memoized substrates, the report's flows) to the
  data's size, as it does for any other query. Spark's default keeps
  a cached plan at ``spark.sql.shuffle.partitions`` partitions, so a
  day's 500 flows sat in 8 partitions and every scan of them ran 8
  tasks. Spark's caveat: a query that reads the cached data "may
  need an extra shuffle", because a coalesced cache reports no key
  partitioning for a join or aggregate on that key to reuse (graph.py
  keeps two explicit edge partitionings for that reason). PLANS.md
  counts every query's exchanges and, from its AQE-on ledger pass,
  the jobs and stages of its first run, so such a shuffle shows up
  there. It is a runtime SQL conf, so an externally built session
  gets it too.
"""

from __future__ import annotations

import os
import tempfile
import threading
import weakref
import zipfile

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32
# Compiles of one full registry pass at sf0.1 with the cache unbounded
# (CodegenMetrics.METRIC_COMPILATION_TIME, PySpark 4.1.2): 2,617. That
# counts cache entries, not sources: the cache keys on (context class
# loader, source), and local mode compiles each whole-stage class twice
# from the same source, once on the driver thread (the compile check
# before execution) and once in the first task, whose executor class
# loader differs; later tasks hit the task-side entry (a one-stage
# ``spark.range(1)`` query counts 2, with 1 or 8 tasks). Rounded up to
# the next power of two above 2x for headroom.
CODEGEN_CACHE_ENTRIES = 8192

# sessions whose runtime confs are set, and applications whose package
# is shipped; the lock makes concurrent first calls wait for the one
# that does the work
_DEFAULTED_SESSIONS: weakref.WeakSet = weakref.WeakSet()
_SHIPPED_APPS: set[str] = set()
_DEFAULTS_LOCK = threading.Lock()


def shuffle_partitions(spark: SparkSession) -> int:
    """Current shuffle partition count, tolerating non-integer conf
    values some platforms report (e.g. 'auto')."""
    try:
        return int(spark.conf.get("spark.sql.shuffle.partitions"))
    except Exception:
        return DEFAULT_SHUFFLE_PARTITIONS


def _ship_package(spark: SparkSession) -> None:
    """Make this package importable on Spark's Python workers.

    The grading driver may import ``__spark_entry__`` from any cwd; the
    executors' Python workers then cannot resolve
    ``ruleset_analysis_spark`` for the pandas-UDF kernels (functions
    pickle by reference). Shipping the package once per SparkContext
    with ``addPyFile`` (the standard dependency-distribution API — on a
    real cluster this would be the job's wheel/zip artifact) fixes the
    worker import path in every launch mode."""
    sc = spark.sparkContext
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    zip_path = os.path.join(
        tempfile.mkdtemp(prefix="ruleset_analysis_spark_"),
        "ruleset_analysis_spark.zip",
    )
    with zipfile.ZipFile(zip_path, "w") as zf:
        for root, _dirs, files in os.walk(pkg_dir):
            if "__pycache__" in root:
                continue
            for f in files:
                if f.endswith(".pyc"):
                    continue
                full = os.path.join(root, f)
                rel = os.path.relpath(full, os.path.dirname(pkg_dir))
                zf.write(full, rel)
    sc.addPyFile(zip_path)
    # NOTE: the staging zip must OUTLIVE this call — executors fetch
    # addPyFile artifacts lazily from the registered path at their
    # first task (verified: deleting it here fails every job with
    # Utils.fetchFile). One small tempdir per SparkContext is the cost.


def ensure_session_defaults(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable defaults to any session.

    Runtime SQL confs belong to one SparkSession (``spark.newSession()``
    starts from the context's confs, not its parent's), so they are set
    once per session; the package is shipped once per application,
    whose Python workers every session shares. Memoized, because load()
    calls this on every table load and the py4j conf round-trips are
    pure overhead after the first call. A session counts as done only
    once its confs are set and its application's package is shipped,
    so a call that raised is retried by the next."""
    if spark in _DEFAULTED_SESSIONS:
        return spark
    with _DEFAULTS_LOCK:
        if spark in _DEFAULTED_SESSIONS:
            return spark
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Python UDTFs ride Arrow batches instead of pickled rows
        spark.conf.set("spark.sql.execution.pythonUDTF.arrow.enabled", "true")
        # AQE sizes every persisted relation's partitions to its data
        spark.conf.set(
            "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true"
        )
        if shuffle_partitions(spark) > 64:  # an unreadable value reads as the default
            spark.conf.set(
                "spark.sql.shuffle.partitions", str(DEFAULT_SHUFFLE_PARTITIONS)
            )
        app_id = spark.sparkContext.applicationId
        if app_id not in _SHIPPED_APPS:
            _ship_package(spark)
            _SHIPPED_APPS.add(app_id)
        _DEFAULTED_SESSIONS.add(spark)
    return spark


def get_spark(
    app_name: str = "ruleset-analysis-spark",
    cpus: int | None = None,
    driver_memory: str = "16g",
) -> SparkSession:
    """Build a tuned local-mode session.

    ``cpus`` defaults to ``$SPARK_GRAFT_CPUS`` then ``os.cpu_count()``.
    Local mode is one JVM; ``spark.driver.memory`` is the only memory
    knob that matters there. The builder sets the static confs, the
    shuffle sizing and Arrow; ``ensure_session_defaults`` sets the
    rest, so each conf is set in one place.
    """
    try:
        env_cpus = int((os.environ.get("SPARK_GRAFT_CPUS") or "0").strip())
    except ValueError:  # non-numeric env value — fall back, don't die
        env_cpus = 0
    cpus = cpus or env_cpus or os.cpu_count() or 4
    shuffle = min(DEFAULT_SHUFFLE_PARTITIONS, max(8, cpus))
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.driver.memory", driver_memory)
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")
    return ensure_session_defaults(spark)
