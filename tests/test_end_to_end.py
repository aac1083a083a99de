"""The reference's complete workflow, end to end, on this engine:

gzipped syslog archive -> parse -> hit counts -> broadcast join against
an ASA-config-derived rule dimension -> usage report with UNUSED
verdicts -> partitioned parquet sink -> read back. One test, the whole
"a user of the reference switches to this repo" path (SURVEY.md §3.1
entry points 1-3)."""

from __future__ import annotations

import gzip

import pytest
from pyspark.sql import functions as F

from ruleset_analysis_spark.sources import asa_config, sinks, text_logs

CONFIG = """
object-group network SRV
 network-object host 10.0.1.5
 network-object host 10.0.1.9
access-list OUTSIDE_IN extended permit tcp any object-group SRV eq https
access-list OUTSIDE_IN extended permit udp any object-group SRV eq domain
access-list OUTSIDE_IN extended deny ip any any
access-list RETIRED extended permit tcp any host 10.0.9.9 eq 8443
"""


@pytest.fixture(scope="module")
def archive(tmp_path_factory):
    d = tmp_path_factory.mktemp("archive")
    # two "months" of gzipped logs, several rules hit, RETIRED never hit
    lines = []
    for i in range(200):
        dst, port, proto = ("10.0.1.5", 443, "tcp") if i % 3 else ("10.0.1.9", 53, "udp")
        lines.append(
            f"%ASA-6-106100: access-list OUTSIDE_IN permitted {proto} "
            f"outside/203.0.113.{i % 250 + 1}({40000 + i}) -> dmz/{dst}({port}) "
            f"hit-cnt 1 300-second interval [0x{i:x}, 0x0]"
        )
    for m, chunk in (("01", lines[:120]), ("02", lines[120:])):
        with gzip.open(d / f"fw-2024-{m}.log.gz", "wt") as f:
            f.write("\n".join(chunk) + "\n")
    return str(d)


def test_reference_workflow_end_to_end(spark, archive, tmp_path):
    # 1. config -> broadcastable rule dimension
    rules = asa_config.rules_dataframe(spark, CONFIG)
    # 2. archived gzipped syslog -> typed hit records (JVM regex)
    hits = text_logs.parse_asa_hits(text_logs.read_log_lines(spark, archive))
    assert hits.count() == 200

    # 3. hit counts joined to rules: acl + protocol + port-range +
    #    CIDR containment of the destination (JVM expression, no UDF)
    from ruleset_analysis_spark.functions.net import ip_in_cidr

    joined = hits.join(
        F.broadcast(rules),
        (hits.acl == rules.acl)
        & ((hits.protocol == rules.protocol) | (rules.protocol == "ip"))
        & (hits.dst_port >= rules.port_lo)
        & (hits.dst_port <= rules.port_hi)
        & ip_in_cidr("dst_ip", "dst_net"),
    )
    per_rule = (
        joined.groupBy(rules.acl.alias("acl"), "rule_id")
        .agg(F.sum("hit_cnt").alias("hits"), F.countDistinct("src_ip").alias("talkers"))
    )
    got = {(r["acl"], r["rule_id"]): r["hits"] for r in per_rule.collect()}
    # rule 1 (tcp/https): lines with i%3 != 0; rule 2 (udp/domain): the rest
    tcp = sum(1 for i in range(200) if i % 3)
    udp = 200 - tcp
    assert got[("OUTSIDE_IN", 1)] == tcp
    assert got[("OUTSIDE_IN", 2)] == udp

    # 4. full usage report incl. zero-hit rules (left join + verdict)
    report = (
        rules.select("acl", "rule_id").distinct()
        .join(per_rule, ["acl", "rule_id"], "left")
        .select(
            "acl",
            "rule_id",
            F.coalesce("hits", F.lit(0)).alias("hits"),
            F.when(F.col("hits").isNull(), "UNUSED").otherwise("ACTIVE").alias("status"),
        )
    )
    unused = {(r["acl"], r["rule_id"]) for r in report.filter("status = 'UNUSED'").collect()}
    assert unused == {("RETIRED", 1)}

    # 5. sink -> partitioned parquet -> read back intact
    out = str(tmp_path / "report")
    sinks.write_parquet(report, out, partition_by=["status"])
    back = spark.read.parquet(out)
    assert back.count() == report.count()
    assert {r["status"] for r in back.select("status").distinct().collect()} == {
        "ACTIVE",
        "UNUSED",
    }


def test_run_ruleset_analysis_single_call(spark, archive):
    """The one-function composition (pipeline.run_ruleset_analysis):
    .gz dir + raw config text in, full usage report out — with
    FIRST-MATCH-WINS attribution: every flow here matches the trailing
    'deny ip any any' too, but the firewall (and the report) charges
    only the first matching rule, so the catch-all shows ZERO hits."""
    from ruleset_analysis_spark.pipeline import run_ruleset_analysis

    report = run_ruleset_analysis(spark, archive, CONFIG)
    rows = {(r["acl"], r["rule_id"]): r for r in report.collect()}
    # every configured statement appears exactly once
    assert set(rows) == {
        ("OUTSIDE_IN", 1), ("OUTSIDE_IN", 2), ("OUTSIDE_IN", 3), ("RETIRED", 1)
    }
    tcp = sum(1 for i in range(200) if i % 3)
    assert rows[("OUTSIDE_IN", 1)]["hits"] == tcp
    assert rows[("OUTSIDE_IN", 1)]["action"] == "permit"
    assert rows[("OUTSIDE_IN", 2)]["hits"] == 200 - tcp
    # first-match-wins: catch-all deny never charged
    assert rows[("OUTSIDE_IN", 3)]["hits"] == 0
    assert rows[("OUTSIDE_IN", 3)]["status"] == "UNUSED"
    assert rows[("RETIRED", 1)]["status"] == "UNUSED"
    # distinct talkers survive the flow pre-aggregation
    assert rows[("OUTSIDE_IN", 1)]["n_sources"] > 1


def test_run_ruleset_analysis_tolerates_dirty_lines(spark, tmp_path):
    """Non-106100 lines, truncated records, and malformed IPs must be
    quarantined (dropped), never abort the job or misattribute hits."""
    import gzip as _gzip

    from ruleset_analysis_spark.pipeline import run_ruleset_analysis

    d = tmp_path / "logs"
    d.mkdir()
    lines = [
        "%ASA-6-302013: Built inbound TCP connection 12345",  # other msg id
        "%ASA-6-106100: access-list OUTSIDE_IN permitted tcp "
        "outside/203.0.113.7(40000) -> dmz/10.0.1.5(443) hit-cnt 3 "
        "300-second interval [0x1, 0x0]",
        "%ASA-6-106100: access-list OUTSIDE_IN permitted tcp truncated gibberish",
        "%ASA-6-106100: access-list OUTSIDE_IN permitted tcp "
        "outside/999.1.2.3(40001) -> dmz/10.0.1.5(443) hit-cnt 2 "
        "300-second interval [0x2, 0x0]",  # malformed src ip: parses, never CIDR-matches
        "",
    ]
    with _gzip.open(d / "fw.log.gz", "wt") as f:
        f.write("\n".join(lines) + "\n")
    report = run_ruleset_analysis(spark, str(d), CONFIG)
    rows = {(r["acl"], r["rule_id"]): r for r in report.collect()}
    assert rows[("OUTSIDE_IN", 1)]["hits"] == 3  # only the clean line counts


def _write_day(d, lines):
    d.mkdir()
    with gzip.open(d / "fw.log.gz", "wt") as f:
        f.write("\n".join(lines) + "\n")
    return str(d)


def _hit(port, n):
    return (
        "%ASA-6-106100: access-list OUTSIDE_IN permitted tcp "
        f"outside/203.0.113.7(40000) -> dmz/10.0.1.5({port}) hit-cnt {n} "
        "300-second interval [0x1, 0x0]"
    )


def test_run_ruleset_analysis_lt_rule_leaves_other_ports_to_later_rules(spark, tmp_path):
    """An ``lt 1024`` rule ahead of a broader rule takes only its own
    ports: first-match charges port 8080 to the later rule, not to the
    ``lt`` rule (which once expanded to every port)."""
    from ruleset_analysis_spark.pipeline import run_ruleset_analysis

    cfg = """
access-list OUTSIDE_IN extended permit tcp any host 10.0.1.5 lt 1024
access-list OUTSIDE_IN extended permit tcp any host 10.0.1.5 neq 8443
access-list OUTSIDE_IN extended deny ip any any
"""
    day = _write_day(tmp_path / "logs", [_hit(443, n=3), _hit(8080, n=5), _hit(8443, n=7)])
    rows = {r["rule_id"]: r for r in run_ruleset_analysis(spark, day, cfg).collect()}
    assert {k: (r["hits"], r["status"]) for k, r in rows.items()} == {
        1: (3, "ACTIVE"), 2: (5, "ACTIVE"), 3: (7, "ACTIVE"),
    }


def test_run_ruleset_analysis_inactive_rule_is_unused(spark, tmp_path):
    """An ``inactive`` ACE matches no traffic: it is listed, in its
    place, as UNUSED with 0 hits, and the traffic it would have matched
    goes to the next matching rule."""
    from ruleset_analysis_spark.pipeline import run_ruleset_analysis

    cfg = """
access-list OUTSIDE_IN extended permit tcp any host 10.0.1.5 eq 22 inactive
access-list OUTSIDE_IN extended deny ip any any
"""
    day = _write_day(tmp_path / "logs", [_hit(22, n=4)])
    rows = sorted(tuple(r) for r in run_ruleset_analysis(spark, day, cfg).collect())
    assert rows == [
        ("OUTSIDE_IN", 1, "permit", 0, 0, 0, "UNUSED"),
        ("OUTSIDE_IN", 2, "deny", 4, 1, 1, "ACTIVE"),
    ]


def test_run_ruleset_analysis_config_without_rules(spark, archive):
    """A config with object-groups but no access-list statement expands
    to no rules: the report is empty, with the declared columns, and
    building it must not raise; its rule relations are empty JVM
    LocalRelations, not pickled-RDD ``createDataFrame`` scans."""
    from ruleset_analysis_spark.pipeline import run_ruleset_analysis

    groups_only = "\n".join(
        ln for ln in CONFIG.splitlines() if not ln.startswith("access-list")
    )
    assert asa_config.parse_asa_config(groups_only) == []
    report = run_ruleset_analysis(spark, archive, groups_only)
    assert report.collect() == []
    optimized = report._jdf.queryExecution().optimizedPlan().toString()
    assert "LogicalRDD" not in optimized, optimized
    assert report.schema == run_ruleset_analysis(spark, archive, CONFIG).schema
    assert report.columns == [
        "acl", "rule_id", "action", "hits", "n_flows", "n_sources", "status"
    ]


def test_compiled_ruleset_follows_the_config_text(
    spark, archive, report_from_public_pieces, monkeypatch
):
    """The ruleset is compiled once per session and config text: config
    A, then B (one rule's port edited), then A again. B's report shows
    the edit; the second A call reuses A's compiled relations (no
    ``spark.sql`` call at all, so no literal is rendered or parsed) and
    equals the report composed from the public, uncompiled pieces."""
    from pyspark.sql import SparkSession

    from ruleset_analysis_spark.pipeline import run_ruleset_analysis

    config_b = CONFIG.replace("eq https", "eq 8443")
    assert config_b != CONFIG
    sql = SparkSession.sql
    calls = [0]

    def counting(self, *args, **kwargs):
        calls[0] += 1
        return sql(self, *args, **kwargs)

    monkeypatch.setattr(SparkSession, "sql", counting)

    def report(config):
        calls[0] = 0
        rows = {(r["acl"], r["rule_id"]): tuple(r) for r in
                run_ruleset_analysis(spark, archive, config).collect()}
        return rows, calls[0]

    a_rows, _ = report(CONFIG)
    b_rows, b_sql = report(config_b)
    assert b_sql > 0  # a changed text compiles afresh
    tcp = sum(1 for i in range(200) if i % 3)
    # B's https rule now waits for port 8443: its hits go to the catch-all
    assert b_rows[("OUTSIDE_IN", 1)][3:] == (0, 0, 0, "UNUSED")
    assert b_rows[("OUTSIDE_IN", 3)][3] == tcp
    assert a_rows[("OUTSIDE_IN", 1)][3] == tcp
    again, a_sql = report(CONFIG)
    assert a_sql == 0
    assert again == a_rows
    monkeypatch.undo()
    ref = report_from_public_pieces(archive, CONFIG)
    assert sorted(again.values()) == sorted(map(tuple, ref.collect()))


def _write_log(path, n, first=0):
    """A gzipped log file of ``n`` 106100 lines hitting rule 1 (tcp/https)
    and rule 2 (udp/domain) of ``CONFIG``."""
    lines = []
    for i in range(first, first + n):
        dst, port, proto = ("10.0.1.5", 443, "tcp") if i % 3 else ("10.0.1.9", 53, "udp")
        lines.append(
            f"%ASA-6-106100: access-list OUTSIDE_IN permitted {proto} "
            f"outside/198.51.100.{i % 200 + 1}({30000 + i}) -> dmz/{dst}({port}) "
            f"hit-cnt {i % 4 + 1} 300-second interval [0x{i:x}, 0x0]"
        )
    with gzip.open(path, "wt") as f:
        f.write("\n".join(lines) + "\n")


def _outside_cached_relations(plan: str) -> str:
    """A physical plan's text without the subtrees of its
    ``InMemoryRelation`` nodes, which print the plan each cached
    relation was built from rather than what the query runs."""
    def depth(line):
        return len(line) - len(line.lstrip(" :+-"))

    kept, cut = [], None
    for ln in plan.splitlines():
        if cut is not None and depth(ln) > cut:
            continue
        cut = depth(ln) if "InMemoryRelation" in ln else None
        kept.append(ln)
    return "\n".join(kept)


def test_report_follows_the_log_files(spark, tmp_path, report_from_public_pieces):
    """The flows are memoized per session on the listed files'
    fingerprint and cached from their second use. In one session and
    one log directory, each step reports twice (so the current flows
    are cached before the next change) and both reports must equal the
    report composed from the public pieces over the current files:
    reported twice as written, a file rewritten in place with another
    size, a file added, a file removed; then the same sequence through
    a glob. A lazy plan over the same directory equals the cached one,
    so a memo that does not unpersist the superseded flows (or scopes
    them by file set) answers from the old files' blocks."""
    from ruleset_analysis_spark.pipeline import log_flows, run_ruleset_analysis

    d = tmp_path / "logs"
    d.mkdir()

    def check(path):
        ref = sorted(map(tuple, report_from_public_pieces(path, CONFIG).collect()))
        for _ in range(2):
            got = sorted(map(tuple, run_ruleset_analysis(spark, path, CONFIG).collect()))
            assert got == ref
        return sum(r[3] for r in got)

    hits = []
    for path in (str(d), f"{d}/*.gz"):
        _write_log(d / "a.log.gz", 15)
        _write_log(d / "b.log.gz", 30, first=15)
        hits.append(check(path))
        assert log_flows(spark, path).is_cached
        _write_log(d / "a.log.gz", 40)  # rewritten in place, another size
        hits.append(check(path))
        _write_log(d / "c.log.gz", 100, first=70)  # added
        hits.append(check(path))
        (d / "b.log.gz").unlink()  # removed
        hits.append(check(path))
        (d / "c.log.gz").unlink()
    # every step changed the answer, so a stale one cannot pass as fresh
    assert len(set(hits[:4])) == 4 and hits[4:] == hits[:4], hits


def _cached_rdds(spark) -> dict:
    """Cached RDDs of the session: id -> (partitions, cached partitions)."""
    return {i.id(): (i.numPartitions(), i.numCachedPartitions())
            for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()
            if i.numCachedPartitions() > 0}


def test_one_shot_report_caches_nothing(spark, tmp_path):
    """A single report (the CLI's case) persists nothing: the flows are
    cached only from their second use, so a one-shot job pays no cache
    build."""
    from ruleset_analysis_spark.pipeline import run_ruleset_analysis

    d = tmp_path / "day"
    d.mkdir()
    _write_log(d / "fw.log.gz", 50)
    before = set(_cached_rdds(spark))
    report = run_ruleset_analysis(spark, str(d), CONFIG)
    sinks.write_parquet(report, str(tmp_path / "out"), partition_by=["status"])
    assert set(_cached_rdds(spark)) <= before


def test_cached_report_reads_one_match_ready_partition(spark, tmp_path):
    """A small day's third report scans the flows cached by the second
    in one partition (AQE sizes the cached plan to the data), and runs
    neither the log scan nor an address parse: outside the cached
    relations its plan has no ``FileScan text`` and no ``RLIKE``,
    because the flows are cached with their numeric addresses."""
    from ruleset_analysis_spark.pipeline import run_ruleset_analysis

    d = tmp_path / "day"
    d.mkdir()
    _write_log(d / "fw.log.gz", 80)
    before = _cached_rdds(spark)
    for _ in range(3):
        report = run_ruleset_analysis(spark, str(d), CONFIG)
        report.collect()
    added = {k: v for k, v in _cached_rdds(spark).items() if k not in before}
    assert list(added.values()) == [(1, 1)], added
    plan = _outside_cached_relations(report._jdf.queryExecution().executedPlan().toString())
    assert "InMemoryTableScan" in plan, plan
    assert "FileScan text" not in plan and "RLIKE" not in plan.upper(), plan


def test_deleted_log_paths_leave_the_memo(spark, tmp_path):
    """Three log directories reported twice each (so their flows are
    cached) and then deleted hold no cached block once a fourth
    directory is reported."""
    import shutil

    from ruleset_analysis_spark.pipeline import run_ruleset_analysis

    before = set(_cached_rdds(spark))
    for k in range(3):
        d = tmp_path / f"day{k}"
        d.mkdir()
        _write_log(d / "fw.log.gz", 20 + k, first=k)
        for _ in range(2):
            run_ruleset_analysis(spark, str(d), CONFIG).collect()
    assert len(set(_cached_rdds(spark)) - before) == 3
    for k in range(3):
        shutil.rmtree(tmp_path / f"day{k}")
    d = tmp_path / "day3"
    d.mkdir()
    _write_log(d / "fw.log.gz", 30)
    run_ruleset_analysis(spark, str(d), CONFIG).collect()
    assert set(_cached_rdds(spark)) <= before


def test_config_edit_reruns_only_the_match(spark, tmp_path, report_from_public_pieces):
    """Config A twice caches the day's flows; config B (one rule
    appended) then plans the flows as an ``InMemoryTableScan`` with no
    ``FileScan text``: no re-read, no re-parse, and B's rows equal the
    public-pieces report for B."""
    from ruleset_analysis_spark.pipeline import run_ruleset_analysis

    d = tmp_path / "day"
    d.mkdir()
    _write_log(d / "fw.log.gz", 60)
    for _ in range(2):
        run_ruleset_analysis(spark, str(d), CONFIG).collect()
    config_b = CONFIG + "access-list RETIRED extended permit udp any any eq domain\n"
    report = run_ruleset_analysis(spark, str(d), config_b)
    rows = sorted(map(tuple, report.collect()))
    plan = _outside_cached_relations(report._jdf.queryExecution().executedPlan().toString())
    assert "InMemoryTableScan" in plan and "FileScan text" not in plan, plan
    assert rows == sorted(map(tuple, report_from_public_pieces(str(d), config_b).collect()))
    assert ("RETIRED", 2, "permit", 0, 0, 0, "UNUSED") in rows


def test_pipeline_cli_main(spark, archive, tmp_path, capsys):
    """The CLI entrypoint (run_analysis.sh analog): args in, partitioned
    parquet out, per-status summary printed — and the summary agrees
    with the rows written. Reuses the test session via getOrCreate."""
    from ruleset_analysis_spark.pipeline import main

    cfg = tmp_path / "asa.cfg"
    cfg.write_text(CONFIG)
    out = str(tmp_path / "report_out")
    assert main([archive, str(cfg), out]) == 0
    back = spark.read.parquet(out).collect()
    assert len(back) == 4  # 3 OUTSIDE_IN stmts + RETIRED
    assert {r["status"] for r in back} == {"ACTIVE", "UNUSED"}
    want = [
        f"{status:>7}: {sum(r['status'] == status for r in back)} rules, "
        f"{sum(r['hits'] for r in back if r['status'] == status)} hits"
        for status in sorted({r["status"] for r in back})
    ]
    assert capsys.readouterr().out.splitlines() == want


def test_pipeline_cli_main_without_rules(spark, archive, tmp_path, capsys):
    """A config with no access-list writes an empty report (no data
    file, only ``_SUCCESS``); the CLI still exits 0 and prints no
    status line instead of failing to infer the schema it reads back."""
    from ruleset_analysis_spark.pipeline import main

    cfg = tmp_path / "groups_only.cfg"
    cfg.write_text(
        "\n".join(ln for ln in CONFIG.splitlines() if not ln.startswith("access-list"))
    )
    out = str(tmp_path / "report_out")
    assert main([archive, str(cfg), out]) == 0
    assert capsys.readouterr().out.splitlines() == []


def test_curation_pipeline_composes(spark):
    """The one-call curation pipeline: attrition rows chain (each
    stage's n_out is the next stage's n_in), survivors match the final
    count, benchmark-slice docs never survive, exact-duplicate texts
    keep only their lowest id, and the whole run is deterministic."""
    from ruleset_analysis_spark.curation_pipeline import run_curation_pipeline

    sf_dir = "/root/testdata/sf0.001"
    survivors, attrition = run_curation_pipeline(spark, sf_dir)
    rows = {r["stage"]: r for r in attrition.collect()}
    order = ["quality_gate", "exact_dedup", "near_dedup_clusters",
             "decontamination"]
    assert list(rows) == order or set(rows) == set(order)
    for a, b in zip(order, order[1:]):
        assert rows[a]["n_out"] == rows[b]["n_in"]
        assert rows[a]["n_dropped"] == rows[a]["n_in"] - rows[a]["n_out"] >= 0

    ids = [r["doc_id"] for r in survivors.collect()]
    assert len(ids) == rows["decontamination"]["n_out"] > 0
    assert len(set(ids)) == len(ids)
    # benchmark slice is quarantined
    assert not [i for i in ids if i % 97 == 0]

    # exact duplicates: for every surviving text, no lower-id doc with
    # identical text may exist in the corpus
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    surv = docs.filter(F.col("doc_id").isin(ids)).select("doc_id", "text")
    lower_dup = (
        surv.alias("s")
        .join(
            docs.alias("d"),
            (F.col("d.text") == F.col("s.text"))
            & (F.col("d.doc_id") < F.col("s.doc_id")),
        )
        .count()
    )
    assert lower_dup == 0

    ids2 = [r["doc_id"] for r in run_curation_pipeline(spark, sf_dir)[0].collect()]
    assert sorted(ids) == sorted(ids2)
