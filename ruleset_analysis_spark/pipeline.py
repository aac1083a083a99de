"""The reference's literal end-to-end job, composed from this engine's
pieces: read a directory of (gzipped) ASA syslog → parse 106100 hit
lines → parse+expand the ASA config into a rule dimension → match each
traffic flow to its first matching rule (CIDR + port + protocol
containment) → per-rule usage report with ACTIVE/UNUSED verdicts.

This is the [R-mem ``run_analysis.sh``] analog (SURVEY.md §0
provenance: reconstructed, the reference mount was empty): the
reference shell-scripted ``spark-submit analyze_ruleset.py`` over a
log glob plus the pre-converted ruleset. Here the whole job is one
lazy DataFrame composition:

* the log side never shuffles for the match — the rule dimension
  (config expansion, thousands of rows at most) is broadcast;
* flows are pre-aggregated by their 5-tuple BEFORE the containment
  join, so the (flow × rule) predicate work scales with |distinct
  flows|, not |log lines| — the decisive reduction at 100 TB of logs;
* first-match-wins (the firewall's evaluation order) is a ``min_by``
  over candidate matches, not a per-row loop;
* each side is normalized once before the join: every rule carries
  its networks as numeric ``[lo, hi]`` bounds and every distinct flow
  its numeric addresses, so the per-(flow, rule) predicate is bare
  long comparisons, not a string parse per pair;
* the flow addresses are non-nullable (``-1`` for a malformed address,
  which no range contains) and the port range is tested on
  ``coalesce(dst_port, -1)`` (``dst_port`` itself stays in the flow
  key and the output), so Catalyst infers no ``isnotnull`` filter on
  them and neither the address parse nor the line regex re-runs per
  log line;
* the join condition, aggregates and projections are SQL text
  (``F.expr``/``selectExpr``, with the CIDR and address expressions
  rendered by ``functions.net``'s ``*_sql`` helpers): a Column-API
  tree costs many py4j round trips per node in classic mode, SQL text
  a few per call, so the per-day plan build stays cheap;
* the flows are aggregated from the UNFILTERED line projection
  (``text_logs.asa_hit_fields``: one regex evaluation and one token
  split per candidate line); a candidate that does not match carries
  ``acl = ''``, which the ``acl`` equi-join drops, so no filter re-runs
  the regex;
* the ruleset is compiled once per SparkContext and config text
  (``asa_config.compile_ruleset``): one driver-side config parse, the
  bounds projected by ``functions.net.cidr_bounds_sql`` over the
  literal rule relation and collected without a Spark job (the
  projection folds to a local table scan), then re-rendered as a
  literal relation of plain numbers beside the literal rule
  identities. No Python workers, no ``distinct`` shuffle, and a later
  day with the same config renders no literal and plans no CIDR
  parse: the analyzed plan's only ``RLIKE``s are the flow side's two
  address parses;
* reports reuse each other's flows: the job is ``usage_report`` over
  ``log_flows``, and the flows are memoized per session on the
  fingerprint of the files Spark lists for the log path
  (``sources.parquet.files_memo``). The first report over some files
  caches nothing; the second caches that same flows object, so every
  later report over those files (after a config edit too) scans the
  in-memory flows instead of re-reading and re-parsing the gzip. The
  flows are cached in the layout the first match reads: with their
  numeric addresses already computed, and in as many partitions as
  AQE sizes them to (one for a day's few hundred flows; see
  ``session.py``), so a cached report parses nothing and runs a few
  tasks. When the files change, the old flows are unpersisted and
  rebuilt, and a log path whose files are all gone is dropped;
* the rule identities are folded into the per-rule aggregate as extra
  input rows (``identities UNION ALL matched`` grouped by ``(acl,
  rule_id)``; only identity rows carry ``action``, only matched rows a
  flow), so every statement is listed without a join after the
  aggregate: one exchange, no sort-merge join, no broadcast of the
  usage back to the identities.

Not registry-graded (needs log *files*, not the driver's parquet
tables); exercised end-to-end on real .gz fixtures in
tests/test_end_to_end.py.

CLI (the [R-mem ``run_analysis.sh``] analog — on a cluster this is the
``spark-submit`` payload)::

    python -m ruleset_analysis_spark.pipeline <log_dir> <asa_config> <out_dir>

writes the usage report as parquet partitioned by status (UNUSED rows
are the removal candidates) and prints a per-status summary.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from .functions.net import ipv4_to_long_sql
from .sources.asa_config import compile_ruleset, rule_bounds
from .sources.parquet import files_memo
from .sources.text_logs import asa_hit_fields, read_log_lines


def match_flows_to_rules(flows: DataFrame, rules: DataFrame) -> DataFrame:
    """First-match-wins rule attribution for aggregated flows.

    ``flows``: (acl, protocol, src_ip, dst_ip, dst_port, hit_cnt[,...]);
    flows that already carry numeric ``src_addr``/``dst_addr`` (those of
    :func:`log_flows`) are matched on them.
    ``rules``: the ``asa_config.RULE_SCHEMA`` dimension.

    A flow matches a rule when the ACL names agree, the rule's protocol
    is ``ip`` or equals the flow's, both endpoints fall inside the
    rule's networks, and the port is inside the rule's range. Among
    candidates the firewall applies the LOWEST rule_id (evaluation
    order) — expressed as ``min_by`` over the candidate set, keyed by
    the flow tuple, with the matched action carried alongside."""
    return _first_match(flows, rule_bounds(rules))


def _first_match(flows: DataFrame, bounded_rules: DataFrame) -> DataFrame:
    """:func:`match_flows_to_rules` against rules whose networks are
    already numeric bounds (``asa_config.rule_bounds``). Flows without
    ``src_addr``/``dst_addr`` get them computed here."""
    r = F.broadcast(bounded_rules.alias("r"))
    f = (flows if "src_addr" in flows.columns else _with_addresses(flows)).alias("f")
    # the port range is tested on coalesce(dst_port, -1) for the reason
    # the addresses are non-nullable (port_lo >= 0, so -1 matches
    # nothing): a bare nullable dst_port would bring back an inferred
    # isnotnull(try_cast(...)) that re-runs the line regex per log line
    cond = F.expr(
        "f.acl = r.acl"
        " AND (r.protocol = 'ip' OR r.protocol = f.protocol)"
        " AND f.src_addr BETWEEN r.src_lo AND r.src_hi"
        " AND f.dst_addr BETWEEN r.dst_lo AND r.dst_hi"
        " AND coalesce(f.dst_port, -1) BETWEEN r.port_lo AND r.port_hi"
    )
    # one expanded config statement can contribute several tuples with
    # the same rule_id (object-group expansion) — min_by on rule_id
    # picks the first *statement*; ties within a statement are the same
    # rule, so (rule_id, action) pairs are unambiguous
    return (
        f.join(r, cond)
        .selectExpr(
            "f.acl", "f.protocol", "f.src_ip", "f.dst_ip", "f.dst_port", "f.hit_cnt",
            "r.rule_id", "r.action",
        )
        .groupBy("acl", "protocol", "src_ip", "dst_ip", "dst_port", "hit_cnt")
        .agg(
            F.expr("min(rule_id) AS rule_id"),
            F.expr("min_by(action, rule_id) AS action"),
        )
    )


def _with_addresses(flows: DataFrame) -> DataFrame:
    """``flows`` plus their numeric ``src_addr``/``dst_addr``.

    Non-nullable on purpose: a nullable address makes Catalyst infer
    isnotnull(addr) from the join predicate and push it through the
    flow aggregate to the line scan, re-parsing every raw line; -1 is
    inside no rule's [lo, hi] (lo >= 0)."""
    return flows.selectExpr(
        "*",
        f"coalesce({ipv4_to_long_sql('src_ip')}, -1) AS src_addr",
        f"coalesce({ipv4_to_long_sql('dst_ip')}, -1) AS dst_addr",
    )


def log_flows(spark: SparkSession, log_path: str) -> DataFrame:
    """The day's flows: ``sum(hit_cnt)`` per 5-tuple ``(acl, protocol,
    src_ip, dst_ip, dst_port)`` over the log dir/glob (.gz ok), with
    each flow's addresses as the numbers the first match compares
    (``src_addr``, ``dst_addr``: non-nullable, ``-1`` for a malformed
    address).

    Pre-aggregating to distinct flows makes the containment join
    O(|flows| × |rules|) regardless of raw log volume. The fields are
    the UNFILTERED projection: a candidate line without a match has
    ``acl = ''``, which the ``acl`` equi-join drops (config ACL names
    are whitespace-split tokens, never ``''``), so no filter re-runs
    the regex.

    Reused per session and log files (``sources.parquet.files_memo``):
    the first call returns the lazy aggregate and caches nothing, so a
    one-shot report pays no cache build; a later call over the same
    files returns the same object, cached from that second use on, so
    later reports (another config included) read the flows from memory
    instead of re-reading and re-parsing the gzip. The addresses are
    part of what is cached, so a cached report runs no address parse
    either."""
    lines = read_log_lines(spark, log_path)
    built = False

    def build() -> DataFrame:
        nonlocal built
        built = True
        return _with_addresses(
            asa_hit_fields(lines)
            .groupBy("acl", "protocol", "src_ip", "dst_ip", "dst_port")
            .agg(F.expr("sum(hit_cnt) AS hit_cnt"))
        )

    flows = files_memo(spark, log_path, lines.inputFiles(), "flows", build)
    if not built and not flows.is_cached:
        flows.cache()
    return flows


def usage_report(flows: DataFrame, rules: DataFrame, identities: DataFrame) -> DataFrame:
    """Per-rule usage report ``(acl, rule_id, action, hits, n_flows,
    n_sources, status)`` of :func:`log_flows` against a compiled
    ruleset (``asa_config.compile_ruleset``: the bounded rules and the
    statement identities): the first match, then one per-rule aggregate
    that lists every statement, UNUSED ones included."""
    matched = _first_match(flows, rules).selectExpr(
        "acl", "rule_id", "hit_cnt", "src_ip", "1 AS flow"
    )
    # every statement enters the per-rule aggregate as one identity row
    # (the only rows carrying action; NULL hit_cnt, src_ip and flow), so
    # the report lists every rule without a join after the aggregate
    return (
        identities
        .unionByName(matched, allowMissingColumns=True)
        .groupBy("acl", "rule_id")
        .agg(
            F.expr("max(action) AS action"),
            F.expr("coalesce(sum(hit_cnt), 0) AS hits"),
            F.expr("count(flow) AS n_flows"),
            # collect_set rides the one (acl, rule_id) exchange, where
            # countDistinct expands into two more; a rule's distinct
            # sources are bounded by its distinct flows
            F.expr("CAST(size(collect_set(src_ip)) AS BIGINT) AS n_sources"),
            # NULL when no flow matched, or only flows with a NULL hit_cnt
            F.expr("CASE WHEN sum(hit_cnt) IS NULL THEN 'UNUSED' ELSE 'ACTIVE' END AS status"),
        )
    )


def run_ruleset_analysis(
    spark: SparkSession, log_path: str, config_text: str
) -> DataFrame:
    """Full pipeline: log dir/glob (.gz ok) + raw ASA config text →
    per-rule usage report ``(acl, rule_id, action, hits, n_flows,
    n_sources, status)`` covering EVERY configured rule, UNUSED rows
    included — the reference's deliverable (hit report + zero-hit
    removal candidates) in one DataFrame. It is
    :func:`usage_report` over :func:`log_flows` and the compiled
    ruleset."""
    flows = log_flows(spark, log_path)
    # compiled once per session and config text: later days reuse both
    # literal relations as they are
    return usage_report(flows, *compile_ruleset(spark, config_text))


def main(argv: list[str] | None = None) -> int:
    import argparse

    ap = argparse.ArgumentParser(
        description="Firewall ruleset usage analysis: gz/plain ASA syslog "
        "dir + ASA config file -> per-rule usage report."
    )
    ap.add_argument("log_dir", help="directory or glob of syslog files (.gz ok)")
    ap.add_argument("asa_config", help="path to the ASA config text file")
    ap.add_argument("out_dir", help="output directory (parquet, partitioned by status)")
    ap.add_argument("--cpus", type=int, default=None)
    args = ap.parse_args(argv)

    from .session import get_spark
    from .sources.sinks import write_parquet

    spark = get_spark(app_name="ruleset-analysis-pipeline", cpus=args.cpus)
    with open(args.asa_config) as f:
        config_text = f.read()
    report = run_ruleset_analysis(spark, args.log_dir, config_text)
    write_parquet(
        report, args.out_dir, partition_by=["status"],
        sort_within_partitions=["acl", "rule_id"],
    )
    # per-status summary from the written report (one row per rule),
    # not from ``report``, which would re-run the job from the raw logs;
    # read with the report's schema, since a config without access-lists
    # writes no data file to infer one from
    for r in (
        spark.read.schema(report.schema).parquet(args.out_dir)
        .groupBy("status")
        .agg(F.count(F.lit(1)).alias("rules"), F.sum("hits").alias("hits"))
        .orderBy("status")
        .collect()
    ):
        print(f"{r['status']:>7}: {r['rules']} rules, {r['hits']} hits")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
