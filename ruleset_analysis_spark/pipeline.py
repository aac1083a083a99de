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
  its networks as numeric ``[lo, hi]`` bounds (``functions.net.
  cidr_bounds``, folded into the literal rule relation at planning
  time) and every distinct flow its numeric addresses, so the
  per-(flow, rule) predicate is bare long comparisons, not a string
  parse per pair;
* the flow addresses are non-nullable (``-1`` for a malformed address,
  which no range contains), so Catalyst infers no ``isnotnull`` filter
  on them and the address parse never runs per log line;
* the rule dimension and the rule identities are literal relations
  built from one driver-side config parse: no Python workers, no
  ``distinct`` shuffle.

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

from .functions.net import cidr_bounds, ipv4_to_long
from .sources.asa_config import parse_asa_config, rule_identities, rules_relation
from .sources.text_logs import parse_asa_hits, read_log_lines


def match_flows_to_rules(flows: DataFrame, rules: DataFrame) -> DataFrame:
    """First-match-wins rule attribution for aggregated flows.

    ``flows``: (acl, protocol, src_ip, dst_ip, dst_port, hit_cnt[,...]).
    ``rules``: the ``asa_config.RULE_SCHEMA`` dimension.

    A flow matches a rule when the ACL names agree, the rule's protocol
    is ``ip`` or equals the flow's, both endpoints fall inside the
    rule's networks, and the port is inside the rule's range. Among
    candidates the firewall applies the LOWEST rule_id (evaluation
    order) — expressed as ``min_by`` over the candidate set, keyed by
    the flow tuple, with the matched action carried alongside."""
    src_lo, src_hi = cidr_bounds("src_net")
    dst_lo, dst_hi = cidr_bounds("dst_net")
    r = F.broadcast(
        rules.select(
            "acl", "rule_id", "action", "protocol", "port_lo", "port_hi",
            src_lo.alias("src_lo"), src_hi.alias("src_hi"),
            dst_lo.alias("dst_lo"), dst_hi.alias("dst_hi"),
        ).alias("r")
    )
    # non-nullable on purpose: a nullable address makes Catalyst infer
    # isnotnull(addr) from the join predicate and push it through the
    # flow aggregate to the line scan, re-parsing every raw line; -1
    # is inside no rule's [lo, hi] (lo >= 0)
    f = flows.select(
        "*",
        F.coalesce(ipv4_to_long("src_ip"), F.lit(-1)).alias("src_addr"),
        F.coalesce(ipv4_to_long("dst_ip"), F.lit(-1)).alias("dst_addr"),
    ).alias("f")
    cond = (
        (F.col("f.acl") == F.col("r.acl"))
        & ((F.col("r.protocol") == "ip") | (F.col("r.protocol") == F.col("f.protocol")))
        & F.col("f.src_addr").between(F.col("r.src_lo"), F.col("r.src_hi"))
        & F.col("f.dst_addr").between(F.col("r.dst_lo"), F.col("r.dst_hi"))
        & F.col("f.dst_port").between(F.col("r.port_lo"), F.col("r.port_hi"))
    )
    flow_key = [F.col(f"f.{c}") for c in ("acl", "protocol", "src_ip", "dst_ip", "dst_port")]
    # one expanded config statement can contribute several tuples with
    # the same rule_id (object-group expansion) — min_by on rule_id
    # picks the first *statement*; ties within a statement are the same
    # rule, so (rule_id, action) pairs are unambiguous
    return (
        f.join(r, cond)
        .groupBy(*flow_key, F.col("f.hit_cnt").alias("hit_cnt"))
        .agg(
            F.min("r.rule_id").alias("rule_id"),
            F.min_by("r.action", F.col("r.rule_id")).alias("action"),
        )
    )


def run_ruleset_analysis(
    spark: SparkSession, log_path: str, config_text: str
) -> DataFrame:
    """Full pipeline: log dir/glob (.gz ok) + raw ASA config text →
    per-rule usage report ``(acl, rule_id, action, hits, n_flows,
    n_sources, status)`` covering EVERY configured rule, UNUSED rows
    included — the reference's deliverable (hit report + zero-hit
    removal candidates) in one DataFrame."""
    hits = parse_asa_hits(read_log_lines(spark, log_path))
    # pre-aggregate to distinct flows: containment-join work is then
    # O(|flows| × |rules|) regardless of raw log volume
    flows = hits.groupBy("acl", "protocol", "src_ip", "dst_ip", "dst_port").agg(
        F.sum("hit_cnt").alias("hit_cnt")
    )
    # one driver-side parse feeds both literal relations
    rule_rows = parse_asa_config(config_text)
    matched = match_flows_to_rules(flows, rules_relation(spark, rule_rows))
    usage = matched.groupBy("acl", "rule_id").agg(
        F.sum("hit_cnt").alias("hits"),
        F.count(F.lit(1)).alias("n_flows"),
        # collect_set rides the one (acl, rule_id) exchange, where
        # countDistinct expands into two more; a rule's distinct
        # sources are bounded by its distinct flows
        F.size(F.collect_set("src_ip")).cast("long").alias("n_sources"),
    )
    # rule identity (one row per statement, not per expanded tuple)
    idents = rule_identities(spark, rule_rows)
    return (
        idents.join(usage, on=["acl", "rule_id"], how="left")
        .select(
            "acl",
            "rule_id",
            "action",
            F.coalesce("hits", F.lit(0)).alias("hits"),
            F.coalesce("n_flows", F.lit(0)).alias("n_flows"),
            F.coalesce("n_sources", F.lit(0)).alias("n_sources"),
            F.when(F.col("hits").isNull(), "UNUSED").otherwise("ACTIVE").alias("status"),
        )
    )


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
    # not from ``report``, which would re-run the job from the raw logs
    for r in (
        spark.read.parquet(args.out_dir)
        .groupBy("status")
        .agg(F.count(F.lit(1)).alias("rules"), F.sum("hits").alias("hits"))
        .orderBy("status")
        .collect()
    ):
        print(f"{r['status']:>7}: {r['rules']} rules, {r['hits']} hits")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
