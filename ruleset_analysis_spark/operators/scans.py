"""§2.A — scans / sources.

Reference analog: ``sc.textFile`` over gzipped syslog + schema-on-read
regex ([R-mem] ``analyze_ruleset.py``). Here sources are declared-schema
parquet scans; projection and predicate reach the parquet reader via
Catalyst (verified in tests/test_plans.py by inspecting ``ReadSchema``
and ``PushedFilters`` in the formatted plan).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from .. import schemas
from ..plans.registry import register
from ..sources.parquet import fingerprint, load, path_for


@register(
    "scan_parquet",
    category="scan",
    oracle="SELECT count(*) AS n FROM lineitem",
)
def scan_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-file scan + count. Catalyst answers this from parquet
    row-group metadata (no row materialization)."""
    return load(spark, sf_dir, "lineitem").agg(F.count(F.lit(1)).alias("n"))


@register(
    "scan_projection_pushdown",
    category="scan",
    oracle="SELECT l_orderkey, l_quantity FROM lineitem",
)
def scan_projection_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column pruning: reads 2 of 11 columns; ReadSchema in the physical
    plan shows only these two (columnar win the row-oriented reference
    could not express)."""
    return load(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")


@register(
    "scan_predicate_pushdown",
    category="scan",
    oracle="""
        SELECT l_orderkey, l_linenumber, CAST(l_shipdate AS DATE) AS ship_date
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '2000-01-01 00:00:00'
    """,
)
def scan_predicate_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filter pushed into the parquet reader (row-group / page skipping
    at scale). The reference filtered line-by-line in Python after full
    decompression [R-mem]."""
    li = load(spark, sf_dir, "lineitem")
    return li.filter(F.col("l_shipdate") >= F.lit("2000-01-01 00:00:00").cast("timestamp_ntz")).select(
        "l_orderkey",
        "l_linenumber",
        F.to_date("l_shipdate").alias("ship_date"),
    )


# Hive-partitioned event layouts, materialized once per corpus
# fingerprint (source path + mtime + size — the grading driver
# regenerates parquet between rounds, so a stale layout can never be
# served for refreshed data). The single-file graded corpus can't
# exercise partition pruning by itself; this scratch layout is how the
# registry proves the claim in an executed plan instead of prose.
_LAYOUT_ROOT = "/tmp/ruleset_analysis_spark_layouts"


def _layout_path(sf_dir: str, table: str, kind: str) -> tuple[str, bool]:
    """Scratch-layout root for (corpus table, layout kind) plus whether
    a completed layout already exists. The directory name embeds the
    SOURCE parquet's ``fingerprint``: a corpus can be regenerated in
    place, so a layout must never outlive the data it was derived from.
    ``_SUCCESS`` marks a completed write; anything less is rewritten."""
    import os

    # v2: bump when WRITER semantics change (e.g. the \N null sentinel)
    # — the fingerprint guards against stale DATA, the version against
    # stale FORMAT
    fp = fingerprint([path_for(sf_dir, table)])
    root = f"{_LAYOUT_ROOT}/{table}_{kind}_v2_{fp}"
    return root, os.path.exists(os.path.join(root, "_SUCCESS"))


def partitioned_events_path(spark: SparkSession, sf_dir: str) -> str:
    """Write (once) a ``day=YYYY-MM-DD/`` hive-partitioned copy of
    ``events`` and return its root. One file per partition
    (repartition on the partition column before the write — the
    small-files guard ``sources.sinks`` documents)."""
    from ..sources.sinks import write_parquet

    root, done = _layout_path(sf_dir, "events", "by_day")
    if not done:
        ev = load(spark, sf_dir, "events").withColumn("day", F.to_date("ts"))
        write_parquet(ev.repartition("day"), root, partition_by=["day"])
    return root


@register(
    "scan_partition_pruning",
    category="scan",
    oracle="""
        WITH busy AS (
            SELECT CAST(ts AS DATE) AS day
            FROM events GROUP BY 1
            HAVING count(*) >= (
                SELECT CAST(count(*) AS DOUBLE)
                       / count(DISTINCT CAST(ts AS DATE))
                FROM events
            )
        )
        SELECT e.event_type, count(*) AS n_events,
               count(DISTINCT CAST(e.ts AS DATE)) AS n_days
        FROM events e JOIN busy b ON CAST(e.ts AS DATE) = b.day
        GROUP BY e.event_type
    """,
)
def scan_partition_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning on a real partitioned layout: the fact
    side scans the hive-partitioned ``day=`` copy of events, the dim
    side is the busier-than-average days (count ≥ corpus mean/day —
    a predicate NOT derivable from the join key, so Catalyst cannot
    rewrite it into a static partition filter), and the join key IS the
    partition column. Catalyst inserts ``dynamicpruningexpression`` on
    the fact scan's PartitionFilters: the ~half of the partition
    directories for quiet days are never opened, decided at runtime
    from the broadcast dim side (asserted in tests/test_plan_shape.py).
    At 100 TB this is the difference between scanning the month and
    scanning the busy days — with zero query changes when the
    threshold moves.

    The busy-day threshold is an integer count against the exact
    IEEE double mean (two exact int64s divided identically in both
    engines), so day membership is bit-deterministic cross-engine.
    Eager-builder exception (registry docstring): first call per
    corpus materializes the scratch layout."""
    fact = spark.read.parquet(partitioned_events_path(spark, sf_dir))
    ev = load(spark, sf_dir, "events")
    # One scalar to the driver (same O(1)-collect discipline as
    # pagerank's node count): the threshold must reach the busy-day
    # filter as a LITERAL — Catalyst's DPP insertion gates on the dim
    # side having a "likely selective" predicate, and its heuristic
    # (PredicateHelper.isLikelySelective) recognizes attribute-vs-
    # literal comparisons, not attribute-vs-attribute ones, so an
    # in-plan 1-row threshold join planned fine but never pruned.
    mean_per_day = ev.agg(
        (
            F.count(F.lit(1)).cast("double")
            / F.countDistinct(F.to_date("ts"))
        ).alias("mean_per_day")
    ).first()[0]
    busy = (
        ev.groupBy(F.to_date("ts").alias("day"))
        .agg(F.count(F.lit(1)).alias("n_day"))
        .filter(F.col("n_day") >= F.lit(mean_per_day))
        .select("day")
    )
    # The broadcast hint is load-bearing for DPP, not just for the join
    # strategy: the busy-day relation sits under an aggregate, so the
    # planner has no size estimate and would fall back to sort-merge —
    # and the DPP rule (reuseBroadcastOnly, the default) only inserts
    # the pruning subquery when it can REUSE a planned broadcast
    # exchange rather than run a separate filtering job.
    return (
        fact.join(F.broadcast(busy), "day")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("day").alias("n_days"),
        )
    )


def _schema_oracle() -> str:
    """DuckDB twin of the schema validation, generated from the SAME
    ``schemas.EXPECTED`` registry at import time (the declared side can
    never drift from the Spark side). DuckDB DESCRIBEs each registered
    view and a CASE maps its type names onto Spark ``simpleString``
    spellings; a FULL OUTER JOIN against the declared VALUES list
    reproduces the missing-column and undeclared-column rows. Timestamp
    flavors collapse on both sides (TIMESTAMP% → 'timestamp'), so the
    oracle agrees under either events.ts encoding the driver has
    shipped (us, or ns which ``load`` normalizes)."""
    actual_union = "\n            UNION ALL ".join(
        f"SELECT '{t}' AS table_name, column_name, column_type "
        f"FROM (DESCRIBE {t})"
        for t in schemas.EXPECTED
    )
    declared_rows = ",\n            ".join(
        f"('{t}', '{f.name}', '{schemas.normalize_type(f.dataType)}')"
        for t, st in schemas.EXPECTED.items()
        for f in st.fields
    )
    return f"""
        WITH actual_raw AS (
            {actual_union}
        ),
        actual AS (
            SELECT table_name, column_name,
                   CASE WHEN column_type = 'BIGINT' THEN 'bigint'
                        WHEN column_type = 'INTEGER' THEN 'int'
                        WHEN column_type = 'DOUBLE' THEN 'double'
                        WHEN column_type = 'FLOAT' THEN 'float'
                        WHEN column_type = 'VARCHAR' THEN 'string'
                        WHEN column_type = 'FLOAT[]' THEN 'array<float>'
                        WHEN column_type LIKE 'TIMESTAMP%' THEN 'timestamp'
                        ELSE lower(column_type)
                   END AS actual_type
            FROM actual_raw
        ),
        declared(table_name, column_name, declared) AS (VALUES
            {declared_rows}
        )
        SELECT COALESCE(d.table_name, a.table_name) AS table_name,
               COALESCE(d.column_name, a.column_name) AS column_name,
               COALESCE(d.declared, '<undeclared>') AS declared,
               COALESCE(a.actual_type, '<missing>') AS actual,
               COALESCE(a.actual_type = d.declared, FALSE) AS ok
        FROM declared d
        FULL OUTER JOIN actual a
          ON a.table_name = d.table_name AND a.column_name = d.column_name
    """


@register(
    "scan_schema_validate",
    category="scan",
    oracle=_schema_oracle(),
)
def scan_schema_validate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declared StructType vs parquet footer for every table; one row per
    column with an ``ok`` verdict. Fails loudly (ok=false rows) instead
    of silently inferring — schema drift at 100 TB is an outage.

    Fully oracle-graded (upgraded from rows-only): ``_schema_oracle``
    regenerates the DuckDB twin from the same declared registry, so the
    hash match witnesses that both engines read identical types out of
    the same parquet footers."""
    from concurrent.futures import ThreadPoolExecutor

    # footer reads are driver-side metadata IO — overlap them (each
    # spark.read.parquet analysis costs ~0.3s of FS/footer latency)
    def actual_schema(name: str) -> dict[str, str]:
        return {
            f.name: schemas.normalize_type(f.dataType)
            for f in load(spark, sf_dir, name).schema.fields
        }

    names = list(schemas.EXPECTED)
    with ThreadPoolExecutor(max_workers=len(names)) as pool:
        actuals = dict(zip(names, pool.map(actual_schema, names)))

    rows = []
    for name in names:
        actual = actuals[name]
        declared = {
            f.name: schemas.normalize_type(f.dataType)
            for f in schemas.EXPECTED[name].fields
        }
        for col, dtype in declared.items():
            rows.append(
                (name, col, dtype, actual.get(col, "<missing>"), actual.get(col) == dtype)
            )
        # drift can ADD columns too — an undeclared column is just as
        # much an ok=false outage signal as a missing one
        for col in actual:
            if col not in declared:
                rows.append((name, col, "<undeclared>", actual[col], False))
    # JVM VALUES literal, not createDataFrame: a pickled-RDD-backed
    # local relation launches Python workers on EVERY materialization
    # (~1.2 s/run measured for these ~90 rows) — values_df analyzes to
    # a LocalRelation with the identical schema and rows (guide §4)
    from ._util import values_df

    return values_df(
        spark, rows,
        "table_name string, column_name string, declared string, actual string, ok boolean",
    )

@register(
    "scan_csv_roundtrip",
    category="scan",
    oracle="""
        SELECT event_type, count(*) AS n_events,
               CAST(sum(TRY_CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                   AS sum_value_cents,
               min(epoch_us(ts)) AS min_ts_us,
               max(epoch_us(ts)) AS max_ts_us
        FROM events GROUP BY event_type
    """,
)
def scan_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV connector round-trip, graded on VALUES: events are written
    once to a scratch CSV layout and read back through the quarantining
    declared-schema reader (``sources.text_logs.read_csv``), and the
    oracle aggregates the ORIGINAL parquet — so a hash match proves the
    writer→parser loop is lossless, not merely that it doesn't crash.

    Text-format discipline that makes losslessness achievable:
    timestamps travel as ``ts_us`` epoch-microsecond BIGINTs (CSV
    timestamp FORMATTING is the classic silent-truncation trap —
    default patterns drop sub-second precision), money is summed as
    exact cents, and doubles survive because the JVM writes the
    shortest uniquely-identifying decimal and parses it back to the
    identical bits. NULLs round-trip via the explicit ``\\N`` sentinel
    both sinks and readers share (null stays distinct from the empty
    string), exercised by the dirty-corpus sweep. Eager-builder
    exception (registry docstring): first call per corpus fingerprint
    materializes the layout."""
    from pyspark.sql import types as T

    from ..sources.sinks import write_csv
    from ..sources.text_logs import read_csv
    from ._util import cents

    root, done = _layout_path(sf_dir, "events", "csv")
    if not done:
        ev = load(spark, sf_dir, "events").select(
            "event_id",
            "event_type",
            "value",
            F.unix_micros("ts").alias("ts_us"),
        )
        write_csv(ev, root)
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("ts_us", T.LongType()),
        ]
    )
    return (
        read_csv(spark, root, schema)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(cents("value")).alias("sum_value_cents"),
            F.min("ts_us").alias("min_ts_us"),
            F.max("ts_us").alias("max_ts_us"),
        )
    )


@register(
    "scan_jsonl_roundtrip",
    category="scan",
    oracle="""
        SELECT lang, count(*) AS n_docs,
               CAST(sum(strlen(text)) AS BIGINT) AS total_bytes,
               count(DISTINCT source) AS n_sources
        FROM documents GROUP BY lang
    """,
)
def scan_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines connector round-trip, graded on VALUES: documents are
    written once to a scratch JSONL layout, read back with the declared
    schema (``sources.text_logs.read_json`` — no inference scan), and
    the oracle aggregates the ORIGINAL parquet. The text column rides
    the loop in full — JSON escaping must preserve every newline,
    quote, and non-ASCII character — and is verified through
    ``octet_length`` (UTF-8 bytes on both engines; ``length`` would
    compare DuckDB code points against JVM UTF-16 units and diverge on
    any non-BMP character). NULL text serializes as an omitted field
    and reads back as NULL (dirty-corpus sweep). Eager-builder
    exception (registry docstring): first call per corpus fingerprint
    materializes the layout."""
    from pyspark.sql import types as T

    from ..sources.text_logs import read_json

    root, done = _layout_path(sf_dir, "documents", "jsonl")
    if not done:
        docs = load(spark, sf_dir, "documents").select(
            "doc_id", "lang", "source", "text"
        )
        docs.write.mode("overwrite").json(root)
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("text", T.StringType()),
        ]
    )
    return (
        read_json(spark, root, schema)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.octet_length("text")).alias("total_bytes"),
            F.countDistinct("source").alias("n_sources"),
        )
    )


@register(
    "scan_syslog_gz",
    category="scan",
    oracle="""
        WITH src AS (
            SELECT concat('acl_', event_type) AS acl,
                   CASE WHEN user_id % 2 = 0 THEN 'permitted'
                        ELSE 'denied' END AS action,
                   CASE WHEN user_id % 3 = 0 THEN 'udp' ELSE 'tcp' END
                       AS protocol,
                   concat('10.0.', CAST(user_id % 256 AS VARCHAR), '.',
                          CAST(event_id % 256 AS VARCHAR)) AS src_ip,
                   CAST(CASE WHEN user_id % 3 = 0 THEN 53 ELSE 443 END
                        AS INTEGER) AS dst_port,
                   1 + event_id % 5 AS hit_cnt
            FROM events
            WHERE event_type IS NOT NULL
              AND user_id IS NOT NULL AND event_id IS NOT NULL
        )
        SELECT acl, protocol, dst_port,
               CAST(sum(hit_cnt) AS BIGINT) AS hits,
               CAST(count(DISTINCT src_ip) AS BIGINT) AS n_sources
        FROM src GROUP BY acl, protocol, dst_port
    """,
)
def scan_syslog_gz(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gzipped-syslog connector round-trip, graded on VALUES — the
    reference's actual ingest format (multi-month gzipped ASA archives)
    promoted into the graded surface: full-format %ASA-6-106100 lines
    are written once to a gzip text layout, read back through
    ``sources.text_logs`` (read_log_lines → parse_asa_hits →
    hit_counts — the reference's parse→reduceByKey pipeline), and the
    oracle computes the same rollup from the ORIGINAL parquet, so a
    hash match proves the writer→gunzip→regex→aggregate loop is
    lossless end to end.

    Scale shape: gzip text is splittable per FILE, not per block — the
    write repartitions so the layout has many files and a cluster read
    gets real parallelism (the single-giant-.gz trap is the classic
    syslog-archive mistake); the regex runs in codegen behind a cheap
    contains() prefilter; the rollup partial-aggregates map-side.
    Untimestamped/NULL-keyed events are excluded from line synthesis on
    both sides (a NULL field would render an unparseable line — the
    quarantine path, graded separately via keep_unparsed in the source
    tests). Eager-builder exception (registry docstring): first call
    per corpus fingerprint materializes the layout."""
    from ..session import shuffle_partitions
    from ..sources.text_logs import hit_counts, parse_asa_hits, read_log_lines

    root, done = _layout_path(sf_dir, "events", "syslog_gz")
    if not done:
        ev = load(spark, sf_dir, "events").filter(
            F.col("event_type").isNotNull()
            & F.col("user_id").isNotNull()
            & F.col("event_id").isNotNull()
        )
        lines = ev.select(
            F.format_string(
                "%%ASA-6-106100: access-list acl_%s %s %s "
                "outside/10.0.%d.%d(%d) -> inside/192.168.1.%d(%d) "
                "hit-cnt %d",
                "event_type",
                F.when(F.col("user_id") % 2 == 0, "permitted").otherwise(
                    "denied"
                ),
                F.when(F.col("user_id") % 3 == 0, "udp").otherwise("tcp"),
                F.col("user_id") % 256,
                F.col("event_id") % 256,
                F.lit(1024) + F.col("event_id") % 60000,
                F.col("user_id") % 200,
                F.when(F.col("user_id") % 3 == 0, 53).otherwise(443),
                F.lit(1) + F.col("event_id") % 5,
            ).alias("value")
        )
        lines.repartition(shuffle_partitions(spark)).write.mode(
            "overwrite"
        ).option("compression", "gzip").text(root)
    hits = parse_asa_hits(read_log_lines(spark, root))
    return hit_counts(hits)


@register(
    "scan_orc_roundtrip",
    category="scan",
    oracle="""
        SELECT event_type, count(*) AS n_events,
               CAST(sum(TRY_CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                   AS sum_value_cents,
               min(epoch_us(ts)) AS min_ts_us,
               max(epoch_us(ts)) AS max_ts_us
        FROM events GROUP BY event_type
    """,
)
def scan_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC connector round-trip, graded on VALUES — completing the
    text (CSV/JSONL/gz-syslog) + columnar (parquet native, ORC here)
    connector matrix: events are written once to an event_type-
    partitioned ORC layout (``sources.sinks.write_orc`` — the same
    layout knobs as the parquet sink, exercising Hive-style partition
    directories in a second columnar format) and read back; the oracle
    aggregates the ORIGINAL parquet, so a hash match proves the
    ORC writer→reader loop loses nothing — including the partition
    column's round-trip through directory names and the
    epoch-microsecond BIGINT timestamp discipline shared with the CSV
    loop. Scale shape: columnar scan with partition directories
    (prunable), map-side partial aggregation. Eager-builder exception
    (registry docstring): first call per corpus fingerprint
    materializes the layout."""
    from ..sources.sinks import write_orc
    from ._util import cents

    root, done = _layout_path(sf_dir, "events", "orc")
    if not done:
        ev = load(spark, sf_dir, "events").select(
            "event_id",
            "event_type",
            "value",
            F.unix_micros("ts").alias("ts_us"),
        )
        write_orc(ev, root, partition_by=["event_type"])
    return (
        spark.read.orc(root)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(cents("value")).alias("sum_value_cents"),
            F.min("ts_us").alias("min_ts_us"),
            F.max("ts_us").alias("max_ts_us"),
        )
    )


_BINARY_N_DOCS = 200  # bounded media-dir fixture (one file per doc)


@register(
    "scan_binary_files",
    category="scan",
    oracle=f"""
        WITH low AS (
            SELECT doc_id, text FROM documents
            WHERE text IS NOT NULL
            ORDER BY doc_id LIMIT {_BINARY_N_DOCS}
        )
        SELECT doc_id,
               CAST(strlen(text) AS BIGINT) AS n_bytes,
               md5(text) AS content_md5
        FROM low
    """,
)
def scan_binary_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``binaryFile`` connector, graded on VALUES — the media-lake
    ingest shape (a directory of opaque blobs → typed rows) promoted
    into the graded surface: the 200 lowest-doc_id documents are
    written once as one ``<doc_id>.bin`` file each (payload = UTF-8
    text bytes, the corpus standing in for media), read back through
    ``sources.binary_files.read_binary_dir`` (pathGlobFilter pruning
    at LISTING time), and reduced to (doc_id, byte length, md5). The
    oracle computes the same three values straight from the documents
    table — strlen/md5 of a DuckDB VARCHAR hash its UTF-8 bytes, which
    are exactly the bytes on disk — so a hash match proves the
    file-writer → binaryFile-reader loop is byte-lossless, filename
    round-trip included.

    Scale shape: binaryFile listing parallelizes over files; length is
    a metadata column (oversized payloads drop before bytes move);
    md5/length are per-row codegen. The fixture is BOUNDED
    (_BINARY_N_DOCS files) by construction — a corpus-sized
    one-file-per-row layout is exactly the small-files anti-pattern
    the parquet/ORC layouts exist to avoid, and the bound documents
    that. Eager-builder exception (registry docstring): first call per
    corpus fingerprint materializes the fixture directory."""
    from ..sources.binary_files import read_binary_dir

    root, done = _layout_path(sf_dir, "documents", "bindir")
    if not done:
        import os

        rows = (
            load(spark, sf_dir, "documents")
            .filter(F.col("text").isNotNull())
            .select("doc_id", "text")
            .orderBy("doc_id")
            .limit(_BINARY_N_DOCS)
            .collect()
        )
        os.makedirs(root, exist_ok=True)
        for r in rows:
            with open(os.path.join(root, f"{r['doc_id']}.bin"), "wb") as f:
                f.write(r["text"].encode("utf-8"))
        with open(os.path.join(root, "_SUCCESS"), "w"):
            pass
    return read_binary_dir(spark, root, glob="*.bin").select(
        F.split(F.col("file_name"), "\\.").getItem(0).cast("long").alias("doc_id"),
        F.col("length").alias("n_bytes"),
        F.md5("content").alias("content_md5"),
    )


_N_BUCKETS = 8


def bucketed_table(spark: SparkSession, sf_dir: str, table: str, key: str) -> str:
    """Register (writing once per corpus fingerprint) a bucketed,
    bucket-sorted external-parquet copy of ``table`` and return its
    catalog name.

    The DATA is written once per corpus fingerprint under the shared
    scratch root (``_layout_path`` — same staleness guard as every
    other layout: the driver regenerates parquet between rounds, so a
    layout never outlives its source). The CATALOG ENTRY is
    per-session: Spark's bucketing metadata (bucket column/count, sort
    columns) lives in the catalog, not the files, so a fresh session
    re-attaches the existing layout with ``CREATE TABLE … CLUSTERED
    BY … LOCATION`` instead of rewriting it. External location + the
    default in-memory catalog keeps the driver's vanilla session free
    of any metastore/warehouse writes in its cwd."""
    root, done = _layout_path(sf_dir, table, f"bkt_{key}")
    name = "bkt_" + root.rsplit("/", 1)[-1]
    if spark.catalog.tableExists(name):
        return name
    src = load(spark, sf_dir, table)
    if done:
        cols = ", ".join(
            f"{f.name} {f.dataType.simpleString()}" for f in src.schema.fields
        )
        spark.sql(
            f"CREATE TABLE {name} ({cols}) USING PARQUET "
            f"CLUSTERED BY ({key}) SORTED BY ({key}) "
            f"INTO {_N_BUCKETS} BUCKETS LOCATION '{root}'"
        )
    else:
        # repartition on the bucket column first: bucketBy writes one
        # file per (task, bucket), so an unpartitioned 32-task write
        # would shatter the layout into 256 small files
        (
            src.repartition(_N_BUCKETS, F.col(key))
            .write.mode("overwrite")
            .bucketBy(_N_BUCKETS, key)
            .sortBy(key)
            .option("path", root)
            .saveAsTable(name)
        )
    return name


@register(
    "scan_bucketed_join",
    category="scan",
    oracle="""
        SELECT o.o_orderpriority,
               CAST(count(*) AS BIGINT) AS n_items,
               CAST(sum(TRY_CAST(floor((l.l_extendedprice
                                        * (1 - l.l_discount)) * 100.0)
                             AS BIGINT)) AS BIGINT) AS revenue_cents,
               count(DISTINCT o.o_orderkey) AS n_orders
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        GROUP BY o.o_orderpriority
    """,
)
def scan_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Storage-bucketed co-located join, graded on VALUES: lineitem and
    orders are persisted ONCE as bucketed tables (8 buckets on the
    orderkey, sorted within buckets) and every subsequent
    lineitem⋈orders runs with ZERO exchange on either side — the
    join's shuffle happened at write time and is amortized over every
    recurring query (asserted on the physical plan in
    tests/test_plan_shape.py; the per-task sorts remain because Spark
    by default no longer trusts write-time sort order across
    multi-file buckets — they are task-local and spill-free, the
    network exchange was the scale cost). The oracle joins the
    ORIGINAL parquet,
    so a hash match proves the bucketed layout is a lossless copy and
    the bucket-pruned read loses no rows.

    This is THE recurring-join answer at 100 TB: the nightly
    events⋈rules / lineitem⋈orders style join on a fact table is a
    full-fact shuffle per run unless the layout carries the
    partitioning. Both sides bucketed by the same key into the same
    bucket count -> each scan reports hashpartitioning(orderkey, 8)
    and the SortMergeJoin consumes them in place. Murmur3 bucket
    hashing is identical across writers, so independently-written
    tables co-locate. The only exchange left in the plan is the final
    4-group rollup. Eager-builder exception (registry docstring):
    first call per corpus fingerprint materializes the two layouts."""
    from ._util import floor_long

    li = spark.table(bucketed_table(spark, sf_dir, "lineitem", "l_orderkey"))
    orders = spark.table(bucketed_table(spark, sf_dir, "orders", "o_orderkey"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(
                floor_long(
                    (F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")))
                    * F.lit(100.0)
                )
            ).alias("revenue_cents"),
            F.countDistinct(orders.o_orderkey).alias("n_orders"),
        )
    )


@register(
    "stream_exec_sink_parquet",
    category="scan",
    oracle="""
        SELECT event_type, count(*) AS n_events,
               CAST(sum(TRY_CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                   AS sum_value_cents,
               min(epoch_us(ts)) AS min_ts_us,
               max(epoch_us(ts)) AS max_ts_us
        FROM events GROUP BY event_type
    """,
)
def stream_exec_sink_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming → partitioned-parquet SINK graded on VALUES — the
    production landing path of the streaming module (the memory sink
    the other stream_exec queries drain into is the debug surface):
    events ride ``readStream`` through ``foreachBatch`` into the SAME
    hive-partitioned parquet sink batch jobs use
    (``write_stream_parquet`` → ``sources.sinks.write_parquet``-style
    append per micro-batch, one layout-decision code path for live
    ingest and backfill), then the layout is read back and rolled up;
    the oracle aggregates the ORIGINAL parquet, so a hash match proves
    the stream→sink→reader loop loses nothing — partition-directory
    round-trip of the event_type column included. The checkpoint
    directory rides the same corpus fingerprint as the layout, which
    is exactly the exactly-once contract at 100 TB: re-running the
    drain against an existing checkpoint appends NOTHING (the file
    source's committed offsets live there), so the graded read is
    idempotent. Timestamps travel as epoch-µs BIGINTs (the shared
    text/columnar-connector discipline). Eager-builder exception
    (registry docstring): first call per corpus fingerprint runs the
    drain."""
    import os

    from ..streaming.event_streams import read_event_stream, write_stream_parquet

    root, done = _layout_path(sf_dir, "events", "stream_sink")
    if not done:
        src = path_for(sf_dir, "events")
        stream = read_event_stream(
            spark, os.path.dirname(src), glob=os.path.basename(src)
        ).select(
            "event_id",
            "event_type",
            "value",
            F.unix_micros("ts").alias("ts_us"),
        )
        write_stream_parquet(
            stream,
            root,
            checkpoint=os.path.join(root + "_ckpt"),
            partition_by=["event_type"],
        )
    return (
        spark.read.parquet(root)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.round(F.col("value") * 100).try_cast("long")).alias(
                "sum_value_cents"
            ),
            F.min("ts_us").alias("min_ts_us"),
            F.max("ts_us").alias("max_ts_us"),
        )
    )


@register(
    "scan_merge_schema_evolution",
    category="scan",
    oracle="""
        SELECT lang,
               count(*) AS n_docs,
               count(CASE WHEN doc_id % 2 = 1 THEN source END)
                   AS n_with_source,
               CAST(sum(CASE WHEN doc_id % 2 = 1 THEN n_chars END)
                    AS BIGINT) AS new_gen_chars
        FROM documents
        GROUP BY lang
    """,
)
def scan_merge_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema EVOLUTION across ingest generations, graded on VALUES —
    the connector concern every long-lived lake hits: generation 1
    landed (doc_id, lang, text); generation 2 added (source, n_chars).
    Both generations are written once into one layout root (split by
    doc_id parity — deterministic, so the oracle can replay the split
    from the source table), then read back through ONE
    ``mergeSchema=true`` scan: old-generation rows surface the added
    columns as NULL, and the rollup counts exactly which rows carry
    the new fields. The oracle computes the same totals from the
    original parquet with the parity rule inlined, so a hash match
    proves the merged read neither invents nor loses column data
    across footers with different schemas.

    Scale note: ``mergeSchema`` costs a footer read per file at
    planning time — fine for generation counts (tens of schemas), the
    wrong default for 10⁶-file lakes (pin a declared read schema
    there, as ``scan_schema_validate`` drills); this query documents
    the trade in an executed plan. Eager-builder exception (registry
    docstring): first call per corpus fingerprint writes the two
    generations."""
    root, done = _layout_path(sf_dir, "documents", "schema_evo")
    if not done:
        docs = load(spark, sf_dir, "documents")
        old_gen = docs.filter(F.col("doc_id") % 2 == 0).select(
            "doc_id", "lang", "text"
        )
        new_gen = docs.filter(F.col("doc_id") % 2 == 1).select(
            "doc_id", "lang", "text", "source", "n_chars"
        )
        old_gen.write.mode("overwrite").parquet(root + "/gen=1")
        new_gen.write.mode("overwrite").parquet(root + "/gen=2")
        import os

        with open(os.path.join(root, "_SUCCESS"), "w"):
            pass
    merged = spark.read.option("mergeSchema", "true").parquet(
        root + "/gen=1", root + "/gen=2"
    )
    return merged.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count("source").alias("n_with_source"),
        F.sum("n_chars").alias("new_gen_chars"),
    )


@register(
    "scan_csv_malformed_policy",
    category="scan",
    oracle="""
        WITH clean AS (
            SELECT event_id, event_type, value FROM events
            WHERE event_id IS NOT NULL AND event_type IS NOT NULL
              AND value IS NOT NULL AND ts IS NOT NULL
        )
        SELECT 'good' AS row_class, event_type,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(TRY_CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                   AS sum_value_cents
        FROM clean WHERE event_id % 10 <> 7 GROUP BY event_type
        UNION ALL
        SELECT 'corrupt' AS row_class, CAST(NULL AS VARCHAR) AS event_type,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(NULL AS BIGINT) AS sum_value_cents
        FROM clean WHERE event_id % 10 = 7
    """,
)
def scan_csv_malformed_policy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-on-read ERROR POLICY, graded on values: a CSV layout in
    which every ``event_id % 10 == 7`` line carries an unparsable
    value field is read back in PERMISSIVE mode with a declared
    ``_corrupt_record`` quarantine column, and the good/corrupt census
    must reconcile exactly with the injection rule replayed over the
    original parquet. This is the ingest-reliability contract the
    round-trip queries can't witness (they only prove the lossless
    path): one bad row must neither abort the scan (FAILFAST), vanish
    silently (DROPMALFORMED), nor poison a parsed column — it lands in
    quarantine, countable and re-processable downstream.

    The quarantined rows keep their parseable columns in PERMISSIVE
    mode, so the census masks event_type to NULL for them — the census
    must reflect the POLICY verdict, not whatever happened to parse.
    Rows with any NULL component are excluded from the layout on both
    sides (CSV NULL-rendering of a synthetic line is writer-dependent;
    the roundtrip queries own the \\N sentinel contract).

    Scale: the layout is written once per corpus fingerprint
    (eager-builder exception, registry docstring); the read is one
    splittable CSV scan + a map-side-combined census aggregation."""
    from pyspark.sql import types as T

    from ..sources.text_logs import read_csv

    root, done = _layout_path(sf_dir, "events", "csv_bad")
    if not done:
        ev = load(spark, sf_dir, "events").filter(
            F.col("event_id").isNotNull()
            & F.col("event_type").isNotNull()
            & F.col("value").isNotNull()
            & F.col("ts").isNotNull()
        )
        lines = ev.select(
            F.format_string(
                "%d,%s,%s,%d",
                "event_id",
                "event_type",
                F.when(F.col("event_id") % 10 == 7, F.lit("BROKEN")).otherwise(
                    F.col("value").cast("string")
                ),
                F.unix_micros("ts"),
            ).alias("value")
        )
        lines.write.mode("overwrite").text(root)
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("ts_us", T.LongType()),
        ]
    )
    from ._util import cents

    parsed = read_csv(spark, root, schema, header=False)
    cls = F.when(
        F.col("_corrupt_record").isNotNull(), F.lit("corrupt")
    ).otherwise(F.lit("good"))
    # summing a value-derived quantity is LOAD-BEARING, not decoration:
    # the CSV reader prunes unreferenced columns BEFORE parsing, so a
    # census that never touches `value` would never attempt the double
    # conversion and the malformed rows would sail through as good
    return (
        parsed.select(
            cls.alias("row_class"),
            F.when(F.col("_corrupt_record").isNull(), F.col("event_type"))
            .alias("event_type"),
            F.when(F.col("_corrupt_record").isNull(), cents("value"))
            .alias("vc"),
        )
        .groupBy("row_class", "event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum("vc").alias("sum_value_cents"),
        )
    )


@register(
    "scan_partition_overwrite_dynamic",
    category="scan",
    oracle="""
        WITH e AS (
            SELECT event_type, CAST(ts AS DATE) AS day
            FROM events WHERE ts IS NOT NULL
        ),
        md AS (SELECT min(day) AS d FROM e)
        SELECT e.event_type,
               CAST(count(*) AS BIGINT) AS n_events,
               CAST(count(DISTINCT e.day) AS BIGINT) AS n_days
        FROM e, md
        WHERE e.day <> md.d OR e.event_type = 'click'
        GROUP BY e.event_type
    """,
)
def scan_partition_overwrite_dynamic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DYNAMIC partition overwrite graded on values — the warehouse
    backfill primitive: ``INSERT OVERWRITE`` with
    ``partitionOverwriteMode=dynamic`` must replace ONLY the
    partitions present in the incoming frame and leave every other
    day's directory untouched (static mode would wipe the whole
    table — the classic backfill data-loss trap). The builder writes
    a day-partitioned copy of events, then overwrites the EARLIEST
    day with only that day's clicks; the graded census over the
    post-overwrite layout must equal the substitution rule replayed
    on the original parquet — so a hash match witnesses both halves:
    the target partition was replaced AND no other partition was
    touched.

    Determinism: the corrected slice is a pure function of the corpus
    (min day + click filter); the layout + overwrite run once per
    corpus fingerprint behind a second marker (the _SUCCESS of the
    initial write cannot vouch for the overwrite). The mode conf is
    set per-write and restored — at 100 TB dynamic mode is what makes
    partition-grained reprocessing O(changed partitions), not
    O(table). NULL-ts rows are excluded from the layout and the
    oracle identically. Eager-builder exception (registry docstring):
    first call per corpus materializes the layout."""
    import os

    from ..sources.sinks import write_parquet

    root, done = _layout_path(sf_dir, "events", "dyn_ovw")
    marker = os.path.join(root, "_OVERWRITE_DONE")
    if not (done and os.path.exists(marker)):
        ev = (
            load(spark, sf_dir, "events")
            .filter(F.col("ts").isNotNull())
            .withColumn("day", F.to_date("ts"))
        )
        write_parquet(ev.repartition("day"), root, partition_by=["day"])
        min_day = ev.agg(F.min("day")).first()[0]
        corrected = ev.filter(
            (F.col("day") == F.lit(min_day))
            & (F.col("event_type") == "click")
        )
        prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        try:
            corrected.repartition("day").write.mode("overwrite").partitionBy(
                "day"
            ).parquet(root)
        finally:
            spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
        open(marker, "w").close()
    return (
        spark.read.parquet(root)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.countDistinct("day").cast("long").alias("n_days"),
        )
    )
