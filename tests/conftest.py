from __future__ import annotations

import os

import pytest

SF_DIR = os.environ.get("DIFF_SF_DIR", "/root/testdata/sf0.01")


@pytest.fixture(scope="session")
def spark():
    from ruleset_analysis_spark.session import get_spark

    s = get_spark(app_name="ruleset-analysis-tests", driver_memory="8g")
    yield s


@pytest.fixture(scope="session")
def duck():
    from ruleset_analysis_spark.oracle import duck_connect

    con = duck_connect(SF_DIR)
    yield con
    con.close()


@pytest.fixture(scope="session")
def report_from_public_pieces(spark):
    """The usage report of ``pipeline.run_ruleset_analysis`` composed
    the plain way from public pieces, with no compiled ruleset:
    ``parse_asa_hits`` → flows → ``match_flows_to_rules`` against
    ``rules_dataframe`` → per-rule usage → identities LEFT JOIN usage."""
    from pyspark.sql import functions as F

    from ruleset_analysis_spark.pipeline import match_flows_to_rules
    from ruleset_analysis_spark.sources.asa_config import (
        parse_asa_statements, rule_identities, rules_dataframe,
    )
    from ruleset_analysis_spark.sources.text_logs import parse_asa_hits, read_log_lines

    def build(log_dir, config):
        flows = (
            parse_asa_hits(read_log_lines(spark, log_dir))
            .groupBy("acl", "protocol", "src_ip", "dst_ip", "dst_port")
            .agg(F.sum("hit_cnt").alias("hit_cnt"))
        )
        usage = (
            match_flows_to_rules(flows, rules_dataframe(spark, config))
            .groupBy("acl", "rule_id")
            .agg(
                F.sum("hit_cnt").alias("hits"),
                F.count(F.lit(1)).alias("n_flows"),
                F.countDistinct("src_ip").alias("n_sources"),
            )
        )
        idents = rule_identities(spark, parse_asa_statements(config)[1])
        return idents.join(usage, ["acl", "rule_id"], "left").select(
            "acl", "rule_id", "action",
            F.coalesce("hits", F.lit(0)).alias("hits"),
            F.coalesce("n_flows", F.lit(0)).alias("n_flows"),
            F.coalesce("n_sources", F.lit(0)).alias("n_sources"),
            F.when(F.col("hits").isNull(), "UNUSED").otherwise("ACTIVE").alias("status"),
        )

    return build
