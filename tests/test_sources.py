"""Sources/sinks: syslog parsing, ASA config expansion, writers.

The reference's input surface was gzipped ASA syslog + a config file;
these tests exercise the Spark-first re-expression with hand-built
fixtures (golden values asserted literally, per SURVEY.md §5)."""

from __future__ import annotations

import gzip
import os

import pytest
from pyspark.sql import functions as F

from ruleset_analysis_spark.sources import asa_config, sinks, text_logs

LINES = [
    "%ASA-6-106100: access-list OUTSIDE_IN permitted tcp "
    "outside/203.0.113.7(51514) -> dmz/10.0.1.5(443) hit-cnt 3 300-second interval [0x8e5, 0x0]",
    "%ASA-6-106100: access-list OUTSIDE_IN denied udp "
    "outside/198.51.100.9(4099) -> dmz/10.0.1.9(53) hit-cnt 1 first hit [0x1a2, 0x0]",
    "%ASA-6-302013: Built inbound TCP connection 123 for outside:203.0.113.7/51514",
    "%ASA-6-106100: access-list MGMT permitted tcp "
    "inside/10.9.0.2(40000) -> mgmt/10.8.0.1(22) hit-cnt 7 300-second interval [0xdead, 0x0]",
]

CONFIG = """
! sample config
object-group network WEB_SERVERS
 network-object host 10.0.1.5
 network-object 10.0.2.0 255.255.255.0
object-group network ALL_SERVERS
 group-object WEB_SERVERS
 network-object host 10.0.3.1
object-group service WEB_PORTS tcp
 port-object eq www
 port-object eq 443
 port-object range 8000 8010
access-list OUTSIDE_IN extended permit tcp any object-group WEB_SERVERS object-group WEB_PORTS
access-list OUTSIDE_IN extended deny ip any any
access-list MGMT extended permit tcp host 10.9.0.2 host 10.8.0.1 eq ssh
access-list STAGING extended permit tcp any host 10.0.9.9 eq 8443
"""


@pytest.fixture(scope="module")
def log_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("logs")
    with gzip.open(d / "fw-2024-01-01.log.gz", "wt") as f:
        f.write("\n".join(LINES[:2]) + "\n")
    with open(d / "fw-2024-01-02.log", "w") as f:
        f.write("\n".join(LINES[2:]) + "\n")
    return str(d)


def test_read_log_lines_gz_and_plain(spark, log_dir):
    assert text_logs.read_log_lines(spark, log_dir).count() == 4


def test_parse_asa_hits_golden(spark, log_dir):
    hits = text_logs.parse_asa_hits(text_logs.read_log_lines(spark, log_dir))
    rows = {r["acl"]: r for r in hits.collect()}
    assert set(rows) == {"OUTSIDE_IN", "MGMT"} and hits.count() == 3
    r = rows["MGMT"]
    assert (r["action"], r["protocol"], r["src_ip"], r["dst_port"], r["hit_cnt"]) == (
        "permitted", "tcp", "10.9.0.2", 22, 7
    )


def test_parse_asa_hits_quarantine(spark, log_dir):
    """keep_unparsed must account for EVERY input line: parseable rows
    + quarantined rows == total, and the non-106100 message id lands in
    quarantine with its raw text intact (no silent drops on the audit
    path)."""
    lines = text_logs.read_log_lines(spark, log_dir)
    out = text_logs.parse_asa_hits(lines, keep_unparsed=True)
    assert out.count() == lines.count()
    bad = out.filter(F.col("acl").isNull())
    assert bad.count() == 1
    assert "302013" in bad.collect()[0]["line"]


def test_hit_counts(spark, log_dir):
    hits = text_logs.parse_asa_hits(text_logs.read_log_lines(spark, log_dir))
    agg = {
        (r["acl"], r["protocol"], r["dst_port"]): r["hits"]
        for r in text_logs.hit_counts(hits).collect()
    }
    assert agg[("OUTSIDE_IN", "tcp", 443)] == 3
    assert agg[("MGMT", "tcp", 22)] == 7


def test_asa_config_expansion_golden():
    rows = asa_config.parse_asa_config(CONFIG)
    r1 = [r for r in rows if r["acl"] == "OUTSIDE_IN" and r["rule_id"] == 1]
    # 2 dst networks × 3 port specs
    assert len(r1) == 6
    assert {r["dst_net"] for r in r1} == {"10.0.1.5/32", "10.0.2.0/24"}
    assert {(r["port_lo"], r["port_hi"]) for r in r1} == {(80, 80), (443, 443), (8000, 8010)}
    r2 = [r for r in rows if r["acl"] == "OUTSIDE_IN" and r["rule_id"] == 2]
    assert len(r2) == 1 and r2[0]["action"] == "deny" and r2[0]["dst_net"] == "0.0.0.0/0"
    mgmt = [r for r in rows if r["acl"] == "MGMT"]
    assert mgmt == [
        {
            "acl": "MGMT", "rule_id": 1, "action": "permit", "protocol": "tcp",
            "src_net": "10.9.0.2/32", "dst_net": "10.8.0.1/32",
            "port_lo": 22, "port_hi": 22,
        }
    ]


def test_asa_nested_group_resolution():
    rows = asa_config.parse_asa_config(
        CONFIG + "\naccess-list X extended permit ip any object-group ALL_SERVERS\n"
    )
    x = [r for r in rows if r["acl"] == "X"]
    assert {r["dst_net"] for r in x} == {"10.0.1.5/32", "10.0.2.0/24", "10.0.3.1/32"}


def test_asa_group_cycle_fails_loud():
    bad = """
object-group network A
 group-object B
object-group network B
 group-object A
access-list L extended permit ip any object-group A
"""
    with pytest.raises(ValueError, match="cycle"):
        asa_config.parse_asa_config(bad)


def test_rules_dataframe_broadcast_join(spark, log_dir):
    """End-to-end reference pipeline: config → rules dim, syslog → hits,
    broadcast join + anti-join for unused rules."""
    rules = asa_config.rules_dataframe(spark, CONFIG)
    hits = text_logs.parse_asa_hits(text_logs.read_log_lines(spark, log_dir))
    joined = hits.join(
        F.broadcast(rules),
        (hits.acl == rules.acl)
        & (hits.dst_port >= rules.port_lo)
        & (hits.dst_port <= rules.port_hi),
    )
    assert joined.count() >= 2  # 443 hit matches rule 1; ssh hit matches MGMT
    used = joined.select(rules.acl.alias("acl"), "rule_id").distinct()
    unused = rules.select("acl", "rule_id").distinct().join(
        used, ["acl", "rule_id"], "left_anti"
    )
    # STAGING saw no traffic at all — the reference's removal candidate
    assert {(r["acl"], r["rule_id"]) for r in unused.collect()} == {("STAGING", 1)}


def test_write_parquet_partitioned_roundtrip(spark, tmp_path):
    df = spark.range(100).withColumn("bucket", (F.col("id") % 3).cast("int"))
    out = str(tmp_path / "part")
    sinks.write_parquet(df, out, partition_by=["bucket"], sort_within_partitions=["id"])
    assert sorted(p for p in os.listdir(out) if p.startswith("bucket=")) == [
        "bucket=0", "bucket=1", "bucket=2"
    ]
    back = spark.read.parquet(out)
    assert back.count() == 100
    # partition filter prunes directories (plan contains no other buckets)
    assert back.filter(F.col("bucket") == 1).count() == 33


def test_write_csv_single_file(spark, tmp_path):
    out = str(tmp_path / "csv")
    sinks.write_csv(spark.range(10).selectExpr("id", "id * 2 AS dbl"), out, single_file=True)
    parts = [p for p in os.listdir(out) if p.startswith("part-")]
    assert len(parts) == 1
    assert spark.read.option("header", True).csv(out).count() == 10


def test_ip_in_cidr_edge_cases(spark):
    from ruleset_analysis_spark.functions.net import ip_in_cidr

    cases = [
        ("10.0.1.5", "10.0.1.5/32", True), ("10.0.1.6", "10.0.1.5/32", False),
        ("10.0.2.7", "10.0.2.0/24", True), ("10.0.3.7", "10.0.2.0/24", False),
        ("203.0.113.9", "0.0.0.0/0", True), ("255.255.255.255", "0.0.0.0/0", True),
        ("192.168.1.1", "192.168.0.0/16", True), ("192.169.1.1", "192.168.0.0/16", False),
        ("10.0.1.5", "10.0.1.4/31", True), ("10.0.1.6", "10.0.1.4/31", False),
        ("0.0.0.0", "0.0.0.0/32", True), ("128.0.0.0", "128.0.0.0/1", True),
        ("127.255.255.255", "128.0.0.0/1", False),
    ]
    df = spark.createDataFrame(cases, "ip string, cidr string, want boolean")
    assert df.filter(ip_in_cidr("ip", "cidr") != F.col("want")).count() == 0


def test_ip_in_cidr_malformed_inputs_never_crash(spark):
    """Dirty log fields (truncated/malformed IPs, CIDR without prefix)
    must yield no-match NULLs, not an ANSI abort — one bad line cannot
    kill the job."""
    from ruleset_analysis_spark.functions.net import ip_in_cidr, ipv4_to_long

    bad = [
        ("10.0.1", "10.0.0.0/8"), ("1.2..4", "10.0.0.0/8"), ("", "10.0.0.0/8"),
        ("10.0.1.5", "10.0.0.0"), ("10.0.1.5", ""), ("...", "/"),
        ("999.1.1.1.2", "0.0.0.0/0"),
        # out-of-range prefix: /33../99 must NOT collapse to match-all
        ("10.0.1.5", "10.0.0.0/40"), ("10.0.1.5", "10.0.0.0/33"),
        ("10.0.1.5", "10.0.0.0/99"), ("10.0.1.5", "10.0.0.0/-1"),
        # out-of-range octets pass the \d{1,3} shape but are not IPs
        ("999.1.1.1", "0.0.0.0/0"), ("256.0.0.1", "0.0.0.0/8"),
        ("10.0.1.5", "256.0.0.0/8"),
    ]
    df = spark.createDataFrame(bad, "ip string, cidr string")
    out = df.select("ip", ip_in_cidr("ip", "cidr").alias("m"),
                    ipv4_to_long("ip").alias("addr")).collect()
    assert all(r["m"] is not True for r in out)   # NULL or False, never a match
    assert all(r["addr"] is None for r in [x for x in out if "." not in x["ip"] or x["ip"].count(".") != 3])
    # octet > 255 ⇒ whole address is NULL, not a >=2^32 value
    assert all(r["addr"] is None for r in out if r["ip"] in ("999.1.1.1", "256.0.0.1"))


def test_asa_remark_and_standard_lines():
    cfg = """
access-list OUT remark allow web traffic to dmz
access-list OUT extended permit tcp any host 10.0.1.5 eq 443
access-list LEGACY standard permit 10.1.0.0 255.255.0.0
access-list LEGACY standard deny any
"""
    rows = asa_config.parse_asa_config(cfg)
    out = [r for r in rows if r["acl"] == "OUT"]
    # remark is an annotation: skipped AND not counted as a rule_id
    assert [(r["rule_id"], r["dst_net"]) for r in out] == [(1, "10.0.1.5/32")]
    legacy = [r for r in rows if r["acl"] == "LEGACY"]
    assert [(r["rule_id"], r["action"], r["src_net"]) for r in legacy] == [
        (1, "permit", "10.1.0.0/16"),
        (2, "deny", "0.0.0.0/0"),
    ]


@pytest.mark.parametrize(
    "port, ranges",
    [
        ("lt 1024", [(0, 1023)]),
        ("gt 1023", [(1024, 65535)]),
        ("neq 80", [(0, 79), (81, 65535)]),
        ("neq www", [(0, 79), (81, 65535)]),
        ("neq 0", [(1, 65535)]),
        ("neq 65535", [(0, 65534)]),
        ("lt 1", [(0, 0)]),
        ("gt 65534", [(65535, 65535)]),
    ],
)
def test_asa_port_operators_expand_to_their_ranges(port, ranges):
    """``lt``/``gt``/``neq`` admit only their ports, never every port; a
    ``neq`` is two tuples of one statement."""
    rows = asa_config.parse_asa_config(
        f"access-list A extended permit tcp any any {port}\n"
        "access-list A extended deny ip any any\n"
    )
    assert [(r["rule_id"], r["port_lo"], r["port_hi"]) for r in rows] == [
        *((1, lo, hi) for lo, hi in ranges), (2, 0, 65535)
    ]


@pytest.mark.parametrize("stmt", [
    "access-list A extended permit tcp any any lt 0",
    "access-list A extended permit tcp any any gt 65535",
    "access-list A extended permit tcp any any eq 22 inactive",
    "access-list A extended permit ip any any inactive",
    "access-list A standard permit 10.1.0.0 255.255.0.0 inactive",
])
def test_asa_statement_without_tuples_keeps_its_rule_id(stmt):
    """A port operator that admits no port, and an ``inactive`` ACE
    (disabled on the firewall), expand to no tuple, but the statement
    keeps its evaluation position and is listed among the statements."""
    cfg = f"{stmt}\naccess-list A extended deny ip any any\n"
    rows, statements = asa_config.parse_asa_statements(cfg)
    assert [(r["rule_id"], r["action"]) for r in rows] == [(2, "deny")]
    assert statements == [
        {"acl": "A", "rule_id": 1, "action": "permit"},
        {"acl": "A", "rule_id": 2, "action": "deny"},
    ]
    assert asa_config.parse_asa_config(cfg) == rows


def test_asa_undefined_group_fails_loud():
    with pytest.raises(ValueError, match="undefined network object-group"):
        asa_config.parse_asa_config(
            "access-list A extended permit tcp any object-group TYPO\n"
        )


def test_read_csv_quarantines_malformed_rows(spark, tmp_path):
    """PERMISSIVE CSV load: clean rows arrive typed, malformed rows land
    whole in _corrupt_record instead of poisoning the load — the same
    one-dirty-row-never-kills-the-job contract as the syslog parser."""
    from pyspark.sql import types as T

    p = tmp_path / "in.csv"
    p.write_text("id,qty,name\n1,10,ok\n2,notanumber,bad\n3,30,ok2\n")
    schema = T.StructType([
        T.StructField("id", T.LongType()),
        T.StructField("qty", T.LongType()),
        T.StructField("name", T.StringType()),
    ])
    df = text_logs.read_csv(spark, str(p), schema).cache()
    assert "_corrupt_record" in df.columns
    good = df.filter(F.col("_corrupt_record").isNull())
    bad = df.filter(F.col("_corrupt_record").isNotNull())
    assert {r["id"] for r in good.collect()} == {1, 3}
    assert bad.count() == 1 and "notanumber" in bad.first()["_corrupt_record"]


def test_read_json_schema_declared_no_inference(spark, tmp_path):
    """JSON-lines with declared schema: missing fields are NULL, extra
    fields ignored, non-conforming values NULL — and no inference scan
    happens (schema is what we declared, not what the file suggests)."""
    from pyspark.sql import types as T

    p = tmp_path / "in.jsonl"
    p.write_text(
        '{"id": 1, "v": 2.5, "tag": "a"}\n'
        '{"id": 2, "tag": "b", "extra": true}\n'
        '{"id": "x", "v": 1.0}\n'
    )
    schema = T.StructType([
        T.StructField("id", T.LongType()),
        T.StructField("v", T.DoubleType()),
        T.StructField("tag", T.StringType()),
    ])
    df = text_logs.read_json(spark, str(p), schema)
    assert [f.name for f in df.schema.fields] == ["id", "v", "tag"]
    rows = {r["tag"]: (r["id"], r["v"]) for r in df.collect()}
    assert rows["a"] == (1, 2.5)
    assert rows["b"] == (2, None)      # missing v -> NULL, extra ignored


def test_write_orc_roundtrip_partitioned(spark, tmp_path):
    out = str(tmp_path / "orc")
    df = spark.range(60).withColumn("bucket", (F.col("id") % 3).cast("int"))
    sinks.write_orc(df, out, partition_by=["bucket"])
    back = spark.read.orc(out)
    assert back.count() == 60
    assert back.filter(F.col("bucket") == 2).count() == 20


def test_binary_file_source_roundtrip(spark, tmp_path):
    """binaryFile ingestion: bytes round-trip exactly, the glob prunes
    at listing time, and the length gate drops oversized payloads
    before any kernel sees them."""
    from ruleset_analysis_spark.sources.binary_files import (
        read_binary_dir,
        write_payload_fixtures,
    )

    payloads = {
        "a.img": b"\x89IMG" + bytes(range(64)),
        "b.img": b"\x89IMG" + bytes(200) ,
        "skip.txt": b"not media",
    }
    d = str(tmp_path / "media")
    write_payload_fixtures(d, payloads)

    df = read_binary_dir(spark, d, glob="*.img")
    got = {r["file_name"]: bytes(r["content"]) for r in df.collect()}
    assert got == {"a.img": payloads["a.img"], "b.img": payloads["b.img"]}

    small = read_binary_dir(spark, d, glob="*.img", max_bytes=100)
    assert [r["file_name"] for r in small.collect()] == ["a.img"]

    # feeds the multimodal kernel surface: binary column + metadata
    assert dict(df.dtypes)["content"] == "binary"


def test_python_datasource_asa_syslog(spark, tmp_path):
    """Custom Python DataSource: format('asa_syslog') over mixed
    plain+gzip files yields exactly what the JVM regexp path parses —
    same rows, typed schema, one partition per file, dirty lines
    dropped, and an out-of-range number NULL (``try_cast``), not an
    aborted read."""
    import gzip as gz

    from ruleset_analysis_spark.sources.python_datasource import (
        register_asa_syslog,
    )
    dirty = [
        # past int / bigint range: NULL fields, the row survives
        "%ASA-6-106100: access-list OUTSIDE_IN permitted tcp "
        "outside/203.0.113.7(99999999999) -> dmz/10.0.1.5(443) hit-cnt 1 first hit [0x0, 0x0]",
        "%ASA-6-106100: access-list OUTSIDE_IN denied udp "
        "outside/203.0.113.8(53) -> dmz/10.0.1.9(99999999999) "
        "hit-cnt 99999999999999999999 first hit [0x0, 0x0]",
        # Arabic-Indic digits are not \d in Java: no match, dropped
        "%ASA-6-106100: access-list OUTSIDE_IN permitted tcp "
        "outside/203.0.113.9(\u0664\u0664\u0663) -> dmz/10.0.1.5(443) hit-cnt 1 first hit [0x0, 0x0]",
    ]
    text = "\n".join([*LINES, *dirty]) + "\n"
    d = tmp_path / "syslog"
    d.mkdir()
    (d / "a.log").write_text(text, encoding="utf-8")
    with gz.open(d / "b.log.gz", "wt", encoding="utf-8") as fh:
        fh.write(text)

    register_asa_syslog(spark)
    via_ds = spark.read.format("asa_syslog").load(str(d))
    via_jvm = text_logs.parse_asa_hits(text_logs.read_log_lines(spark, str(d)))

    cols = via_ds.columns
    got = sorted((tuple(r) for r in via_ds.collect()), key=repr)
    want = sorted((tuple(r) for r in via_jvm.select(*cols).collect()), key=repr)
    assert got == want and len(got) == 10  # 5 parseable lines × 2 files
    nulls = [(r["src_port"], r["dst_port"], r["hit_cnt"]) for r in via_ds.collect()
             if None in (r["src_port"], r["dst_port"], r["hit_cnt"])]
    assert sorted(nulls, key=repr) == [(53, None, None)] * 2 + [(None, 443, 1)] * 2
    assert dict(via_ds.dtypes)["hit_cnt"] == "bigint"
    assert via_ds.rdd.getNumPartitions() == 2  # one per file


def test_events_ts_loader_handles_both_physical_encodings(spark, tmp_path):
    """The driver has shipped events.ts as int64 nanoseconds (round 1)
    and as timestamp[us] (round 2). ``load``/``normalize_event_ts``
    must yield the identical UTC TIMESTAMP column for both encodings —
    this pins that dispatch so a corpus regeneration in either
    direction can never break the events surface again."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from ruleset_analysis_spark.sources.parquet import load

    src = pq.read_table("/root/testdata/sf0.001/events.parquet")
    ts_us = src.column("ts").cast(pa.timestamp("us"))
    ts_ns = src.column("ts").cast(pa.timestamp("ns"))
    i = src.schema.get_field_index("ts")

    for name, col in (("as_us", ts_us), ("as_ns", ts_ns)):
        d = tmp_path / name
        d.mkdir()
        pq.write_table(
            src.set_column(i, pa.field("ts", col.type), col),
            str(d / "events.parquet"),
            # version 2.6 keeps TIMESTAMP(NANOS) as-is on disk
            version="2.6",
        )

    a = load(spark, str(tmp_path / "as_us"), "events")
    b = load(spark, str(tmp_path / "as_ns"), "events")
    assert dict(a.dtypes)["ts"] == "timestamp"
    assert dict(b.dtypes)["ts"] == "timestamp"
    rows_a = sorted(a.select("event_id", "ts").collect())
    rows_b = sorted(b.select("event_id", "ts").collect())
    assert rows_a == rows_b and len(rows_a) > 0

def test_python_datasource_streaming_tails_directory(spark, tmp_path):
    """The asa_syslog DataSourceStreamReader drains a directory to the
    same rows as the batch reader, then picks up a newly-rotated
    archive in a later availableNow run against the SAME checkpoint —
    exactly-once across restarts via engine-tracked {"idx"} offsets.
    (Parquet sink: the memory sink rejects checkpoint recovery.)"""
    import gzip as gz
    import time

    from ruleset_analysis_spark.sources.python_datasource import (
        register_asa_syslog,
    )

    d = tmp_path / "syslog_stream"
    d.mkdir()
    (d / "archive-001.log").write_text("\n".join(LINES) + "\n")
    with gz.open(d / "archive-002.log.gz", "wt") as fh:
        fh.write("\n".join(LINES) + "\n")
    register_asa_syslog(spark)
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    def drain():
        q = (
            spark.readStream.format("asa_syslog")
            .load(str(d))
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return spark.read.parquet(out)

    got = drain()
    want = spark.read.format("asa_syslog").load(str(d))
    assert sorted(map(tuple, got.select(*want.columns).collect())) == sorted(
        map(tuple, want.collect())
    )
    assert got.count() == 6  # 3 parseable lines x 2 files
    frozen = got.collect()

    # rotate in a third archive; a new run on the same checkpoint must
    # emit ONLY the new file's rows (6 -> 7, prior rows untouched)
    time.sleep(0.05)
    (d / "archive-003.log").write_text(LINES[0] + "\n")
    got2 = drain()
    assert got2.count() == 7
    delta = got2.exceptAll(spark.createDataFrame(frozen, got.schema))
    assert delta.count() == 1 and delta.collect()[0]["acl"] == "OUTSIDE_IN"


def test_bucketed_tables_join_without_exchange(spark, tmp_path):
    """write_bucketed_table: two tables bucketed on the same key join
    with NO Exchange on either side — the co-located-join contract that
    makes bucketing the 100 TB lever for repeated large joins (a plain
    parquet-parquet join of the same data plans two hash exchanges)."""
    from ruleset_analysis_spark.sources.parquet import load
    from ruleset_analysis_spark.sources.sinks import write_bucketed_table

    SF = "/root/testdata/sf0.001"
    orders = load(spark, SF, "orders")
    lineitem = load(spark, SF, "lineitem")
    write_bucketed_table(orders, "t_orders_b", "o_orderkey", 8)
    write_bucketed_table(
        lineitem.withColumnRenamed("l_orderkey", "o_orderkey"),
        "t_lineitem_b",
        "o_orderkey",
        8,
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # force the sort-merge path: at test scale both tables fit the
        # broadcast threshold, which would mask the bucketing effect
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        a = spark.table("t_orders_b")
        b = spark.table("t_lineitem_b")
        joined = a.join(b, "o_orderkey").select("o_orderkey", "l_quantity")
        want = orders.join(
            lineitem, orders.o_orderkey == lineitem.l_orderkey
        ).count()
        assert joined.count() == want
        # post-execution ADAPTIVE final plan: bucketed scans feed the
        # sort-merge join directly — no Exchange on either side
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan and "Exchange" not in plan, plan
        # the identical join over plain (unbucketed) parquet shuffles
        plain = orders.join(
            lineitem.withColumnRenamed("l_orderkey", "o_orderkey"),
            "o_orderkey",
        ).select("o_orderkey", "l_quantity")
        plain.count()
        plain_plan = plain._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" in plain_plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS t_orders_b")
        spark.sql("DROP TABLE IF EXISTS t_lineitem_b")


def test_stream_offset_detects_listing_mutation(tmp_path):
    """The streaming offset is self-validating: {"idx", "last"} — if the
    name-sorted listing mutates non-append-only between micro-batches
    (rotation rename, retention delete, a name sorting before committed
    files), partitions() must raise instead of silently emitting a
    shifted slice (re-emitted or skipped rows)."""
    import pytest as _pytest

    from ruleset_analysis_spark.sources.python_datasource import (
        AsaSyslogStreamReader,
    )

    d = tmp_path / "logs"
    d.mkdir()
    (d / "a.log").write_text("x\n")
    (d / "b.log").write_text("x\n")
    r = AsaSyslogStreamReader({"path": str(d)})
    start = r.initialOffset()
    end = r.latestOffset()
    assert end == {"idx": 2, "last": str(d / "b.log")}
    assert len(r.partitions(start, end)) == 2

    # append-only growth: old offsets stay valid
    (d / "c.log").write_text("x\n")
    end2 = r.latestOffset()
    assert [p.value for p in r.partitions(end, end2)] == [str(d / "c.log")]

    # rotation rename: a.log -> z-archive.log.gz shifts the sort order
    (d / "a.log").rename(d / "z-archive.log.gz")
    with _pytest.raises(RuntimeError, match="mutated non-append-only"):
        r.partitions(end, r.latestOffset())

    # legacy idx-only offsets (pre-"last" checkpoints) remain readable
    assert len(r.partitions({"idx": 0}, {"idx": 1})) == 1


def test_event_stream_bootstraps_on_empty_directory(spark, tmp_path):
    """read_event_stream must start on a not-yet-populated directory
    (the normal streaming bootstrap) by falling back to the declared
    contract schema instead of dying on UNABLE_TO_INFER_SCHEMA."""
    from ruleset_analysis_spark.streaming.event_streams import read_event_stream

    d = tmp_path / "incoming"
    d.mkdir()
    df = read_event_stream(spark, str(d))
    assert df.isStreaming
    assert df.schema["ts"].dataType.simpleString() == "timestamp"
    assert [f.name for f in df.schema.fields] == [
        "event_id", "ts", "user_id", "event_type", "value", "props",
    ]


def test_python_datasource_writer_roundtrip(spark, tmp_path):
    """The asa_syslog DataSourceWriter emits gzipped 106100 syslog that
    the SAME datasource (and the JVM parse path) reads back row-exact,
    with two-phase commit: no .tmp files survive a successful write,
    and mode('overwrite') replaces prior output."""
    from ruleset_analysis_spark.sources.python_datasource import (
        register_asa_syslog,
    )

    register_asa_syslog(spark)
    out = tmp_path / "export"
    rows = [
        ("OUTSIDE_IN", "permitted", "tcp", "outside", "203.0.113.7", 51514,
         "dmz", "10.0.1.5", 443, 3),
        ("OUTSIDE_IN", "denied", "udp", "outside", "198.51.100.9", 4099,
         "dmz", "10.0.1.9", 53, 1),
        ("MGMT", "permitted", "tcp", "inside", "10.9.9.9", 1024,
         "mgmt", "10.0.2.2", 22, 7),
    ]
    cols = ["acl", "action", "protocol", "src_if", "src_ip", "src_port",
            "dst_if", "dst_ip", "dst_port", "hit_cnt"]
    df = spark.createDataFrame(rows, cols).withColumn(
        "src_port", F.col("src_port").cast("int")
    ).withColumn("dst_port", F.col("dst_port").cast("int"))
    df.write.format("asa_syslog").mode("append").save(str(out))

    import glob as _glob
    assert not _glob.glob(str(out / "*.tmp")), "temp files must not survive commit"
    files = _glob.glob(str(out / "*.log.gz"))
    assert files, "committed .log.gz files expected"

    back = spark.read.format("asa_syslog").load(str(out))
    assert sorted(map(tuple, back.collect())) == sorted(rows)

    # overwrite replaces prior committed files
    df.limit(1).write.format("asa_syslog").mode("overwrite").save(str(out))
    assert spark.read.format("asa_syslog").load(str(out)).count() == 1


def test_text_format_roundtrips_preserve_nasty_values(spark, tmp_path):
    """The value contract behind scan_csv_roundtrip/scan_jsonl_roundtrip,
    pinned at the unit level on a hand-built worst-case batch: embedded
    newlines, quotes, commas, backslashes, non-BMP unicode, leading/
    trailing whitespace, empty-vs-NULL strings, extreme doubles, and
    NULLs in every column must survive writer→parser bit-exactly for
    both text formats."""
    from pyspark.sql import Row, types as T

    rows = [
        Row(i=1, s='plain', x=1.5),
        Row(i=2, s='comma, "quoted", and\nembedded newline', x=0.1),
        Row(i=3, s='unicode: é ü 漢字 🚀   tab\there', x=-2.5e-308),
        Row(i=4, s='  padded  ', x=1.7976931348623157e308),
        Row(i=5, s='', x=float("-0.0")),          # empty ≠ NULL
        Row(i=6, s=None, x=None),                  # NULL row
        Row(i=7, s='back\\slash and "', x=0.1 + 0.2),  # non-terminating decimal
    ]
    schema = T.StructType(
        [
            T.StructField("i", T.LongType()),
            T.StructField("s", T.StringType()),
            T.StructField("x", T.DoubleType()),
        ]
    )
    df = spark.createDataFrame(rows, schema)
    want = {r["i"]: (r["s"], r["x"]) for r in rows}

    from ruleset_analysis_spark.sources.sinks import write_csv
    from ruleset_analysis_spark.sources.text_logs import read_csv, read_json

    csv_dir = str(tmp_path / "nasty_csv")
    write_csv(df, csv_dir)
    # multiline=True: embedded newlines are unreadable to the default
    # splittable reader (see read_csv docstring — this test is why)
    got_csv = {
        r["i"]: (r["s"], r["x"])
        for r in read_csv(spark, csv_dir, schema, multiline=True).collect()
    }
    assert got_csv == want

    json_dir = str(tmp_path / "nasty_json")
    df.write.mode("overwrite").json(json_dir)
    got_json = {
        r["i"]: (r["s"], r["x"])
        for r in read_json(spark, json_dir, schema).collect()
    }
    assert got_json == want
