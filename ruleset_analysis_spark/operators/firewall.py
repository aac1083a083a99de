"""Reference-parity pipeline: firewall-rule usage analytics.

This module re-creates the reference's *actual end-to-end job* — parse
ASA-style syslog lines, count hits per (acl, rule), and report rules
with zero hits ([R-mem] ``analyze_ruleset.py`` +
``convert_ruleset_to_flows.py``) — as a pure DataFrame pipeline.

The driver corpus has no raw log files, so the pipeline first
*synthesizes* deterministic syslog text from the ``events`` table
(format_string), then treats those strings as the untrusted input:
regex-extract ACL name / rule id / source user, aggregate, and
anti-join against a constructed rule dimension. The synthesize→parse
round-trip exercises exactly the reference's schema-on-read surface
while staying reproducible in both engines.

Each decision has one definition here:

* the configured rule dimension is :func:`_ruleset` (rules
  ``0.._N_RULESET-1`` in every ACL of :func:`_acls`); every report over
  configured rules starts from it;
* the per-rule hit rollup is :func:`firewall_rule_hits`; the usage
  report, the unused-rule list and the policy diff read it, and column
  pruning drops what a reader does not select (the unused-rule
  anti-join reduces it to the distinct ``(acl, rule_id)``);
* a CIDR string is read only by ``functions.net.cidr_bounds_sql``,
  projected over a literal rule relation, which Catalyst folds into
  the relation at planning time.

Scale notes: parsing is JVM regex inside codegen (the reference paid
per-record CPython + pickling here); the rule dimension is broadcast;
hit counting is a partial-aggregated groupBy.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions.net import cidr_bounds_sql
from ..plans.registry import register
from ..sources.parquet import load
from ._util import values_df

_LINE_FMT = "%%ASA-6-106100: access-list acl_%s rule %d matched user %d"
_LINE_RE = r"access-list (\w+) rule (\d+) matched user (\d+)"
_N_RULES = 40
# The configured ruleset is larger than the set traffic can ever hit
# (hits are user_id % _N_RULES, i.e. rules 0-39): rules 40-47 are
# guaranteed UNUSED at every scale factor, so the zero-hit anti-join is
# witnessed on substance, never vacuously on an empty result — and it
# mirrors the reference's reality (rule tables accrete stale entries
# that no live flow matches; that surplus is the query's raison d'être).
_N_RULESET = 48


def _lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    return ev.select(
        F.format_string(
            _LINE_FMT, "event_type", (F.col("user_id") % _N_RULES), "user_id"
        ).alias("line")
    )


def _parsed(spark: SparkSession, sf_dir: str) -> DataFrame:
    lines = _lines(spark, sf_dir)
    return lines.select(
        F.regexp_extract("line", _LINE_RE, 1).alias("acl"),
        F.regexp_extract("line", _LINE_RE, 2).try_cast("bigint").alias("rule_id"),
        F.regexp_extract("line", _LINE_RE, 3).try_cast("bigint").alias("src_user"),
    )


def _acls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The configured ACLs, one ``acl_<event_type>`` per distinct event
    type, broadcast: a handful of rows the rule dimensions cross."""
    return F.broadcast(
        load(spark, sf_dir, "events")
        .select(F.concat(F.lit("acl_"), "event_type").alias("acl"))
        .distinct()
    )


def _ruleset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The configured rule dimension ``(rule_id, acl)``: rules
    ``0.._N_RULESET-1`` in every ACL."""
    return (
        spark.range(_N_RULESET)
        .select(F.col("id").cast("bigint").alias("rule_id"))
        .crossJoin(_acls(spark, sf_dir))
    )


_ORACLE_PARSED = rf"""
    WITH lines AS (
        SELECT printf('%%ASA-6-106100: access-list acl_%s rule %d matched user %d',
                      event_type, user_id % {_N_RULES}, user_id) AS line
        FROM events
    ),
    parsed AS (
        SELECT regexp_extract(line, 'access-list (\w+) rule (\d+) matched user (\d+)', 1)
                   AS acl,
               TRY_CAST(regexp_extract(line, 'access-list (\w+) rule (\d+) matched user (\d+)', 2)
                    AS BIGINT) AS rule_id,
               TRY_CAST(regexp_extract(line, 'access-list (\w+) rule (\d+) matched user (\d+)', 3)
                    AS BIGINT) AS src_user
        FROM lines
    )
"""


@register(
    "firewall_rule_hits",
    category="firewall",
    oracle=_ORACLE_PARSED
    + """
        SELECT acl, rule_id, count(*) AS hits,
               count(DISTINCT src_user) AS n_users
        FROM parsed GROUP BY acl, rule_id
    """,
)
def firewall_rule_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hit count + distinct talkers per rule — the reference's headline
    report ([R-mem] ``reduceByKey(add)`` → ``join(rules)`` →
    ``sortBy``)."""
    return (
        _parsed(spark, sf_dir)
        .groupBy("acl", "rule_id")
        .agg(
            F.count(F.lit(1)).alias("hits"),
            F.countDistinct("src_user").alias("n_users"),
        )
    )


@register(
    "rule_usage_report",
    category="firewall",
    oracle=_ORACLE_PARSED
    + f"""
        , ruleset AS (
            SELECT 'acl_' || t.event_type AS acl, r.rule_id
            FROM (SELECT DISTINCT event_type FROM events) t
            CROSS JOIN (SELECT unnest(range({_N_RULESET})) AS rule_id) r
        ),
        hit_agg AS (
            SELECT acl, rule_id, count(*) AS hits, count(DISTINCT src_user) AS n_users
            FROM parsed GROUP BY acl, rule_id
        )
        SELECT rs.acl, rs.rule_id,
               coalesce(h.hits, 0) AS hits,
               coalesce(h.n_users, 0) AS n_users,
               CASE WHEN h.hits IS NULL THEN 'UNUSED' ELSE 'ACTIVE' END AS status
        FROM ruleset rs
        LEFT JOIN hit_agg h ON h.acl = rs.acl AND h.rule_id = rs.rule_id
    """,
)
def rule_usage_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FLAGSHIP (also the ``entry()`` smoke query): the reference's full
    deliverable in one result — every rule with its hit count, distinct
    talkers, and an ACTIVE/UNUSED verdict ([R-mem] README: per-rule hit
    report + the zero-hit removal candidates): the rule dimension LEFT
    JOIN :func:`firewall_rule_hits`."""
    rules = _ruleset(spark, sf_dir)
    hits = firewall_rule_hits(spark, sf_dir)
    return rules.join(hits, on=["acl", "rule_id"], how="left").select(
        "acl",
        "rule_id",
        F.coalesce("hits", F.lit(0)).alias("hits"),
        F.coalesce("n_users", F.lit(0)).alias("n_users"),
        F.when(F.col("hits").isNull(), "UNUSED").otherwise("ACTIVE").alias("status"),
    )


@register(
    "firewall_unused_rules",
    category="firewall",
    oracle=_ORACLE_PARSED
    + f"""
        , ruleset AS (
            SELECT 'acl_' || t.event_type AS acl, r.rule_id
            FROM (SELECT DISTINCT event_type FROM events) t
            CROSS JOIN (SELECT unnest(range({_N_RULESET})) AS rule_id) r
        )
        SELECT rs.acl, rs.rule_id
        FROM ruleset rs
        WHERE NOT EXISTS (
            SELECT 1 FROM parsed p
            WHERE p.acl = rs.acl AND p.rule_id = rs.rule_id
        )
    """,
)
def firewall_unused_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rules with ZERO hits — the reference's raison d'être: the safe-to-
    remove list, via left-anti join of the rule dimension against
    observed hits (column pruning reduces :func:`firewall_rule_hits` to
    its distinct ``(acl, rule_id)``)."""
    return _ruleset(spark, sf_dir).join(
        firewall_rule_hits(spark, sf_dir), on=["acl", "rule_id"], how="left_anti"
    ).select("acl", "rule_id")


# Literal rule dimension for the CIDR-match query: nets chosen so the
# synthesized addresses (10.0.<user_id%8>.<user_id%250+1>) spread
# across them deterministically in both engines.
_CIDR_RULES = [
    ("acl_net", 1, "10.0.0.0/22"),   # subnets 0-3
    ("acl_net", 2, "10.0.4.0/23"),   # subnets 4-5
    ("acl_net", 3, "10.0.6.0/24"),   # subnet 6
    ("acl_net", 4, "10.0.7.128/25"), # upper half of subnet 7
    ("acl_net", 5, "192.168.0.0/16"),# never matches
]


@register(
    "firewall_cidr_match",
    category="firewall",
    oracle=f"""
        WITH hits AS (
            SELECT user_id,
                   (10 * 16777216)
                   + ((user_id % 8) * 256)
                   + (user_id % 250 + 1) AS addr
            FROM events
        ),
        rules(acl, rule_id, net_str) AS (
            VALUES {", ".join(f"('{a}', {r}, '{n}')" for a, r, n in _CIDR_RULES)}
        ),
        parsed AS (
            SELECT acl, rule_id,
                   (CAST(string_split(string_split(net_str, '/')[1], '.')[1] AS BIGINT) * 16777216
                    + CAST(string_split(string_split(net_str, '/')[1], '.')[2] AS BIGINT) * 65536
                    + CAST(string_split(string_split(net_str, '/')[1], '.')[3] AS BIGINT) * 256
                    + CAST(string_split(string_split(net_str, '/')[1], '.')[4] AS BIGINT)) AS net,
                   CAST(string_split(net_str, '/')[2] AS INTEGER) AS prefix
            FROM rules
        ),
        masked AS (
            SELECT acl, rule_id, net, prefix,
                   CAST(4294967296 - power(2, 32 - prefix) AS BIGINT) AS mask
            FROM parsed
        )
        SELECT m.acl, m.rule_id, count(*) AS hits,
               count(DISTINCT h.user_id) AS n_users
        FROM hits h JOIN masked m
          ON (h.addr & m.mask) = (m.net & m.mask)
        GROUP BY m.acl, m.rule_id
    """,
)
def firewall_cidr_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hit counting with CIDR containment in the join condition — the
    reference's real matching semantics (expanded object-group networks,
    [R-mem] ``convert_ruleset_to_flows.py``; SURVEY §0 provenance).

    Destination addresses are synthesized deterministically from
    user_id in pure long arithmetic (identical to the oracle's ``hits``
    CTE). The rule side is the literal ``_CIDR_RULES`` relation
    projected through ``functions.net.cidr_bounds_sql``, the engine's
    one reader of a CIDR string. Invariant: that projection is
    deterministic over a ``LocalRelation``, so Catalyst folds it into
    the literal at planning time — the optimized plan carries the
    BIGINT bounds, no CIDR parse (no ``RLIKE``, no ``split``) — and the
    BroadcastNestedLoopJoin predicate is a bare ``addr BETWEEN lo AND
    hi`` per pair. The oracle tests the same containment as mask
    algebra in SQL."""
    ev = load(spark, sf_dir, "events")
    hits = ev.select(
        "user_id",
        (
            F.lit(10 * 16777216)
            + (F.col("user_id") % 8) * 256
            + (F.col("user_id") % 250 + 1)
        ).alias("addr"),
    )
    lo, hi = cidr_bounds_sql("net")
    rules = values_df(
        spark, _CIDR_RULES, "acl string, rule_id int, net string"
    ).selectExpr("acl", "rule_id", f"{lo} AS lo", f"{hi} AS hi")
    return (
        hits.join(F.broadcast(rules), F.expr("addr BETWEEN lo AND hi"))
        .groupBy("acl", "rule_id")
        .agg(
            F.count(F.lit(1)).alias("hits"),
            F.countDistinct("user_id").alias("n_users"),
        )
    )


_TS_LINE_FMT = (
    "%%ASA-6-106100: access-list acl_%s rule %d matched user %d at %d"
)
_TS_LINE_RE = r"access-list (\w+) rule (\d+) matched user (\d+) at (\d+)"


@register(
    "firewall_rule_staleness",
    category="firewall",
    oracle=rf"""
        WITH lines AS (
            SELECT printf(
                '%%ASA-6-106100: access-list acl_%s rule %d matched user %d at %d',
                event_type, user_id % {_N_RULES}, user_id,
                CAST(floor(epoch(ts)) AS BIGINT)) AS line
            FROM events
        ),
        parsed AS (
            SELECT regexp_extract(line,
                       'access-list (\w+) rule (\d+) matched user (\d+) at (\d+)',
                       1) AS acl,
                   TRY_CAST(regexp_extract(line,
                       'access-list (\w+) rule (\d+) matched user (\d+) at (\d+)',
                       2) AS BIGINT) AS rule_id,
                   TRY_CAST(regexp_extract(line,
                       'access-list (\w+) rule (\d+) matched user (\d+) at (\d+)',
                       4) AS BIGINT) AS hit_epoch
            FROM lines
        ),
        ruleset AS (
            SELECT 'acl_' || t.event_type AS acl, r.rule_id
            FROM (SELECT DISTINCT event_type FROM events) t
            CROSS JOIN (SELECT unnest(range({_N_RULESET})) AS rule_id) r
        ),
        horizon AS (SELECT max(hit_epoch) AS now_epoch FROM parsed),
        per_rule AS (
            SELECT acl, rule_id, count(*) AS hits,
                   max(hit_epoch) AS last_hit_epoch
            FROM parsed GROUP BY acl, rule_id
        )
        SELECT rs.acl, rs.rule_id,
               CAST(coalesce(p.hits, 0) AS BIGINT) AS hits,
               CAST(coalesce(p.last_hit_epoch, 0) AS BIGINT)
                   AS last_hit_epoch,
               CAST(CASE WHEN p.rule_id IS NULL THEN -1
                         ELSE (h.now_epoch - p.last_hit_epoch) // 86400
                    END AS BIGINT) AS days_idle,
               CASE WHEN p.rule_id IS NULL THEN 'REMOVE'
                    WHEN (h.now_epoch - p.last_hit_epoch) // 86400 >= 30
                        THEN 'REVIEW'
                    ELSE 'ACTIVE' END AS verdict
        FROM ruleset rs
        CROSS JOIN horizon h
        LEFT JOIN per_rule p
          ON p.acl = rs.acl AND p.rule_id = rs.rule_id
    """,
)
def firewall_rule_staleness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The complete rule-lifecycle report the reference's README
    promises in one query: every configured rule classified ACTIVE
    (hit recently), REVIEW (last hit ≥30 days before the newest log
    line), or REMOVE (never hit at all) — with hit counts and last-hit
    time. 'Unused rules' (the flagship anti-join) is this report's
    REMOVE slice; staleness is the question an operator actually asks
    before deleting a rule ("when did this LAST match?").

    The synthesized syslog lines carry an epoch-seconds field that is
    parsed back out (schema-on-read round-trip, same contract as
    firewall_rule_hits); all recency math is integer epoch arithmetic
    against the corpus' newest parsed line (a 1-row broadcast), so the
    report is deterministic cross-engine — no timestamp-type or
    timezone surface anywhere. Scale shape: parse is JVM regex in
    codegen, the rollup is one keyed exchange, the rule dimension and
    the horizon scalar broadcast. r9 (guide §2.4): the horizon is the
    max of the per-rule maxes (the null-parse group included), so it
    now reads the PERSISTED per-rule rollup (bounded at |acls|×|rules|
    rows) instead of re-running the regex parse over the whole corpus
    a second time — one parse pass instead of two at any scale."""
    ev = load(spark, sf_dir, "events")
    lines = ev.select(
        F.format_string(
            _TS_LINE_FMT,
            "event_type",
            (F.col("user_id") % _N_RULES),
            "user_id",
            F.unix_timestamp("ts"),
        ).alias("line")
    )
    parsed = lines.select(
        F.regexp_extract("line", _TS_LINE_RE, 1).alias("acl"),
        F.regexp_extract("line", _TS_LINE_RE, 2).try_cast("bigint").alias("rule_id"),
        F.regexp_extract("line", _TS_LINE_RE, 4).try_cast("bigint").alias("hit_epoch"),
    )
    per_rule = (
        parsed.groupBy("acl", "rule_id")
        .agg(
            F.count(F.lit(1)).alias("hits"),
            F.max("hit_epoch").alias("last_hit_epoch"),
        )
        .cache()
    )
    horizon = per_rule.agg(F.max("last_hit_epoch").alias("now_epoch"))
    days_idle = F.floor(
        (F.col("now_epoch") - F.col("last_hit_epoch")) / F.lit(86400)
    )
    return (
        _ruleset(spark, sf_dir)
        .crossJoin(F.broadcast(horizon))
        .join(per_rule, ["acl", "rule_id"], "left")
        .select(
            "acl",
            "rule_id",
            F.coalesce("hits", F.lit(0)).alias("hits"),
            F.coalesce("last_hit_epoch", F.lit(0)).alias("last_hit_epoch"),
            F.when(F.col("hits").isNull(), F.lit(-1))
            .otherwise(days_idle)
            .cast("bigint")
            .alias("days_idle"),
            F.when(F.col("hits").isNull(), "REMOVE")
            .when(days_idle >= 30, "REVIEW")
            .otherwise("ACTIVE")
            .alias("verdict"),
        )
    )


@register(
    "firewall_shadowed_rules",
    category="firewall",
    oracle="""
        WITH rules AS (
            SELECT p_partkey AS ord,
                   'acl_' || (p_partkey % 4) AS acl,
                   CASE p_partkey % 3 WHEN 0 THEN 'any'
                                      WHEN 1 THEN 'tcp'
                                      ELSE 'udp' END AS proto,
                   CAST(16 + (p_partkey % 16) AS INTEGER) AS prefix,
                   CAST((10 * 16777216) + ((p_partkey % 8) * 65536)
                        AS BIGINT) AS net,
                   CAST((p_partkey % 16) * 64 AS BIGINT) AS port_lo,
                   CAST((p_partkey % 16) * 64 + (p_partkey % 4) * 256 + 63
                        AS BIGINT) AS port_hi
            FROM part WHERE p_partkey <= 400
        ),
        m AS (
            SELECT *,
                   CAST(4294967296 - (CAST(1 AS BIGINT) << (32 - prefix))
                        AS BIGINT) AS mask
            FROM rules
        )
        SELECT b.acl, b.ord AS rule_id,
               min(a.ord) AS shadowed_by,
               count(*) AS n_shadowers
        FROM m a JOIN m b
          ON a.acl = b.acl AND a.ord < b.ord
         AND (a.proto = 'any' OR a.proto = b.proto)
         AND a.prefix <= b.prefix
         AND (b.net & a.mask) = a.net
         AND a.port_lo <= b.port_lo AND a.port_hi >= b.port_hi
        GROUP BY b.acl, b.ord
    """,
)
def firewall_shadowed_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shadowed-rule detection — the ruleset-OPTIMIZATION half of the
    reference's domain that hit counting can't see: under first-match-
    wins, a rule whose entire match space (protocol × source CIDR ×
    port range) is covered by ANY earlier rule in the same ACL can
    never fire, yet it still shows up ACTIVE in hit reports whenever
    the earlier rule logs under its id. For every shadowed rule:
    the first shadowing rule (the one an operator diffs against) and
    how many earlier rules each independently cover it.

    The rule dimension is derived deterministically from ``part``
    (capped at 400 rules — rulesets are DIMENSIONS, 10³-10⁶ entries,
    never corpus-sized, so the per-ACL pairwise coverage check is a
    bounded self-join of a broadcastable relation; blocking on the ACL
    is what a 10⁶-rule set would shard on). Containment is pure integer
    algebra on both engines: CIDR ⊇ via ``(b.net & a.mask) = a.net``
    with prefix monotonicity, port ranges via interval inclusion,
    protocol via the 'any' wildcard — no string parsing in the join.
    Note the deliberately stricter semantics than pairwise overlap:
    SINGLE-rule coverage only (the classic Al-Shaer shadowing
    definition); a rule covered only by the UNION of several earlier
    rules is not flagged."""
    p = load(spark, sf_dir, "part").filter(F.col("p_partkey") <= 400)
    rules = p.select(
        F.col("p_partkey").alias("ord"),
        F.concat(F.lit("acl_"), (F.col("p_partkey") % 4)).alias("acl"),
        F.when(F.col("p_partkey") % 3 == 0, "any")
        .when(F.col("p_partkey") % 3 == 1, "tcp")
        .otherwise("udp")
        .alias("proto"),
        (F.lit(16) + F.col("p_partkey") % 16).cast("int").alias("prefix"),
        (
            F.lit(10 * 16777216) + (F.col("p_partkey") % 8) * 65536
        ).alias("net"),
        ((F.col("p_partkey") % 16) * 64).alias("port_lo"),
        (
            (F.col("p_partkey") % 16) * 64
            + (F.col("p_partkey") % 4) * 256
            + 63
        ).alias("port_hi"),
    ).withColumn(
        "mask",
        # shiftleft() takes only literal bit counts; the SQL operator
        # form accepts a column — same exact integer algebra as the
        # oracle's (1::BIGINT << (32 - prefix))
        F.expr("CAST(4294967296 - shiftleft(CAST(1 AS BIGINT), 32 - prefix) AS BIGINT)"),
    )
    a = rules.alias("a")
    b = rules.alias("b")
    cond = (
        (F.col("a.acl") == F.col("b.acl"))
        & (F.col("a.ord") < F.col("b.ord"))
        & ((F.col("a.proto") == "any") | (F.col("a.proto") == F.col("b.proto")))
        & (F.col("a.prefix") <= F.col("b.prefix"))
        & (F.col("b.net").bitwiseAND(F.col("a.mask")) == F.col("a.net"))
        & (F.col("a.port_lo") <= F.col("b.port_lo"))
        & (F.col("a.port_hi") >= F.col("b.port_hi"))
    )
    return (
        a.join(F.broadcast(b), cond)
        .groupBy(F.col("b.acl").alias("acl"), F.col("b.ord").alias("rule_id"))
        .agg(
            F.min("a.ord").alias("shadowed_by"),
            F.count(F.lit(1)).alias("n_shadowers"),
        )
    )


# Deterministic edge ruleset exercising the full public ASA grammar the
# config parser covers: host / net+mask / any endpoints, well-known
# service names, eq + range ports, NESTED network and service
# object-groups, a remark line (annotation — must not consume a
# rule_id), and a standard (source-only) ACL.
_ASA_CONFIG = """\
! edge ruleset with object-group indirection
object-group network DMZ_HOSTS
  network-object host 10.1.1.1
  network-object host 10.1.1.2
object-group network APP_NET
  network-object 10.2.0.0 255.255.0.0
  group-object DMZ_HOSTS
object-group service WEB_PORTS tcp
  port-object eq www
  port-object eq https
object-group service APP_PORTS tcp
  port-object range 8000 8100
  group-object WEB_PORTS
access-list OUTSIDE_IN extended permit tcp any object-group APP_NET object-group APP_PORTS
access-list OUTSIDE_IN extended permit udp host 192.0.2.9 10.9.0.0 255.255.0.0 eq domain
access-list OUTSIDE_IN remark temporary block below
access-list OUTSIDE_IN extended deny ip any any
access-list MGMT standard permit 172.16.5.0 255.255.255.0
"""


@register(
    "firewall_config_expansion",
    category="firewall",
    oracle="""
        WITH net_direct(gname, spec) AS (VALUES
            ('DMZ_HOSTS', '10.1.1.1/32'),
            ('DMZ_HOSTS', '10.1.1.2/32'),
            ('APP_NET',   '10.2.0.0/16')),
        net_edges(parent, child) AS (VALUES ('APP_NET', 'DMZ_HOSTS')),
        net_all AS (
            SELECT gname, spec FROM net_direct
            UNION ALL
            SELECT e.parent, d.spec
            FROM net_edges e JOIN net_direct d ON d.gname = e.child
        ),
        svc_direct(gname, lo, hi) AS (VALUES
            ('WEB_PORTS', 80, 80),
            ('WEB_PORTS', 443, 443),
            ('APP_PORTS', 8000, 8100)),
        svc_edges(parent, child) AS (VALUES ('APP_PORTS', 'WEB_PORTS')),
        svc_all AS (
            SELECT gname, lo, hi FROM svc_direct
            UNION ALL
            SELECT e.parent, d.lo, d.hi
            FROM svc_edges e JOIN svc_direct d ON d.gname = e.child
        ),
        entries(acl, rule_id, action, protocol, src, dst,
                pgroup, plo, phi) AS (VALUES
            ('OUTSIDE_IN', 1, 'permit', 'tcp', '0.0.0.0/0',
             'group:APP_NET', 'APP_PORTS', NULL, NULL),
            ('OUTSIDE_IN', 2, 'permit', 'udp', '192.0.2.9/32',
             '10.9.0.0/16', NULL, 53, 53),
            ('OUTSIDE_IN', 3, 'deny', 'ip', '0.0.0.0/0',
             '0.0.0.0/0', NULL, 0, 65535),
            ('MGMT', 1, 'permit', 'ip', '172.16.5.0/24',
             '0.0.0.0/0', NULL, 0, 65535)),
        s1 AS (
            SELECT e.acl, e.rule_id, e.action, e.protocol,
                   m.spec AS src_net, e.dst, e.pgroup, e.plo, e.phi
            FROM entries e
            JOIN net_all m ON e.src = concat('group:', m.gname)
            UNION ALL
            SELECT acl, rule_id, action, protocol,
                   src AS src_net, dst, pgroup, plo, phi
            FROM entries WHERE src NOT LIKE 'group:%'
        ),
        s2 AS (
            SELECT s.acl, s.rule_id, s.action, s.protocol, s.src_net,
                   m.spec AS dst_net, s.pgroup, s.plo, s.phi
            FROM s1 s
            JOIN net_all m ON s.dst = concat('group:', m.gname)
            UNION ALL
            SELECT acl, rule_id, action, protocol, src_net,
                   dst AS dst_net, pgroup, plo, phi
            FROM s1 WHERE dst NOT LIKE 'group:%'
        ),
        s3 AS (
            SELECT s.acl, s.rule_id, s.action, s.protocol,
                   s.src_net, s.dst_net, g.lo, g.hi
            FROM s2 s JOIN svc_all g ON s.pgroup = g.gname
            UNION ALL
            SELECT acl, rule_id, action, protocol,
                   src_net, dst_net, plo AS lo, phi AS hi
            FROM s2 WHERE pgroup IS NULL
        )
        SELECT acl, CAST(rule_id AS INTEGER) AS rule_id, action,
               protocol, src_net, dst_net,
               CAST(lo AS INTEGER) AS port_lo,
               CAST(hi AS INTEGER) AS port_hi
        FROM s3
    """,
)
def firewall_config_expansion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's config-side deliverable promoted into the graded
    surface: a Cisco ASA configuration — object-group indirection,
    nesting and all — expanded into one row per concrete
    (src, dst, port-range) flow tuple, the broadcast dimension every
    hit-count join keys on.

    Differential split, deliberate: the Spark side parses
    ``_ASA_CONFIG`` with the driver-side pure-Python grammar
    (``sources.asa_config`` — a firewall config is a few-thousand-line
    dimension, not distributed data), while the ORACLE re-derives the
    expansion RELATIONALLY — group membership as VALUES relations,
    nested groups via a parent/child edge join, endpoint/port
    indirection as three successive expansion joins (the cross product
    falls out of the join algebra). A hash match therefore proves the
    imperative parser and the relational algebra implement the SAME
    expansion semantics — including the cases that bite in practice
    (remark lines must not consume a rule_id; a standard ACL matches
    source-only with any-dst/any-port; nested service groups union
    their parents' ranges). The corpus tables are deliberately unused:
    the config IS the input, pinned so both engines see identical
    text."""
    from ..sources.asa_config import rules_dataframe

    return rules_dataframe(spark, _ASA_CONFIG)


# Policy-diff generations: the OLD config is rules 0..47 per ACL, the
# NEW config drops 0-3, adds 48-51, and flips the action on every
# rule_id % 7 == 0 survivor — deterministic in both engines, so the
# diff is witnessed on all four change classes at every scale factor.
_DIFF_DROP_BELOW = 4
_DIFF_ADD_ABOVE = _N_RULESET  # new gen spans [4, 52)
_DIFF_FLIP_MOD = 7


@register(
    "firewall_policy_diff",
    category="firewall",
    oracle=_ORACLE_PARSED
    + f"""
        , acls AS (SELECT DISTINCT 'acl_' || event_type AS acl FROM events),
        old_gen AS (
            SELECT acl, r.rule_id,
                   CASE r.rule_id % 3 WHEN 0 THEN 'permit'
                                      WHEN 1 THEN 'deny'
                                      ELSE 'log' END AS action
            FROM acls CROSS JOIN
                 (SELECT unnest(range({_N_RULESET})) AS rule_id) r
        ),
        new_gen AS (
            SELECT acl, r.rule_id,
                   CASE WHEN r.rule_id % {_DIFF_FLIP_MOD} = 0 THEN
                        CASE r.rule_id % 3 WHEN 0 THEN 'deny'
                                           WHEN 1 THEN 'permit'
                                           ELSE 'log' END
                   ELSE
                        CASE r.rule_id % 3 WHEN 0 THEN 'permit'
                                           WHEN 1 THEN 'deny'
                                           ELSE 'log' END
                   END AS action
            FROM acls CROSS JOIN
                 (SELECT unnest(range({_DIFF_DROP_BELOW},
                                      {_DIFF_ADD_ABOVE + _DIFF_DROP_BELOW}))
                      AS rule_id) r
        ),
        hit_agg AS (
            SELECT acl, rule_id, count(*) AS hits
            FROM parsed GROUP BY acl, rule_id
        ),
        diff AS (
            SELECT coalesce(o.acl, n.acl) AS acl,
                   coalesce(o.rule_id, n.rule_id) AS rule_id,
                   o.action AS old_action, n.action AS new_action,
                   CASE WHEN o.rule_id IS NULL THEN 'ADDED'
                        WHEN n.rule_id IS NULL THEN 'REMOVED'
                        WHEN o.action <> n.action THEN 'MODIFIED'
                        ELSE 'UNCHANGED' END AS change
            FROM old_gen o
            FULL OUTER JOIN new_gen n
                 ON n.acl = o.acl AND n.rule_id = o.rule_id
        )
        SELECT d.acl, d.rule_id, d.change, d.old_action, d.new_action,
               CAST(coalesce(h.hits, 0) AS BIGINT) AS hits
        FROM diff d
        LEFT JOIN hit_agg h ON h.acl = d.acl AND h.rule_id = d.rule_id
        WHERE d.change <> 'UNCHANGED'
    """,
)
def firewall_policy_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generation-over-generation RULESET DIFF annotated with live
    traffic — the change-review report run before every policy push:
    ADDED / REMOVED / MODIFIED rules, each with its observed hit count,
    so "REMOVED but still taking traffic" (an outage in waiting) and
    "ADDED and already matching" jump out of one table. Extends the
    reference's single-generation usage report ([R-mem]
    ``analyze_ruleset.py``) to the config-drift dimension rule tables
    accrete in practice.

    Both generations are deterministic tiny dimensions (|ACL| × ~50
    rows) built from ``range()`` + the broadcast ACL list; the diff is
    a full outer join of two broadcast-sized relations, and the only
    data-sized work is :func:`firewall_rule_hits` (its ``hits`` column;
    column pruning drops ``n_users``) — partial-aggregated on (acl,
    rule_id), then a broadcast left join from the filtered diff. At
    100 TB of logs the plan is unchanged: dimensions stay O(rules),
    facts stay one keyed map-side-combined exchange."""
    base_action = (
        F.when(F.col("rule_id") % 3 == 0, "permit")
        .when(F.col("rule_id") % 3 == 1, "deny")
        .otherwise("log")
    )
    flip_action = (
        F.when(F.col("rule_id") % 3 == 0, "deny")
        .when(F.col("rule_id") % 3 == 1, "permit")
        .otherwise("log")
    )
    old_gen = _ruleset(spark, sf_dir).select(
        "acl", "rule_id", base_action.alias("old_action")
    )
    new_gen = (
        spark.range(_DIFF_DROP_BELOW, _DIFF_ADD_ABOVE + _DIFF_DROP_BELOW)
        .select(F.col("id").cast("bigint").alias("rule_id"))
        .crossJoin(_acls(spark, sf_dir))
        .select(
            "acl",
            "rule_id",
            F.when(
                F.col("rule_id") % _DIFF_FLIP_MOD == 0, flip_action
            ).otherwise(base_action).alias("new_action"),
        )
    )
    diff = (
        old_gen.join(new_gen, ["acl", "rule_id"], "full_outer")
        .select(
            "acl",
            "rule_id",
            F.when(F.col("old_action").isNull(), "ADDED")
            .when(F.col("new_action").isNull(), "REMOVED")
            .when(F.col("old_action") != F.col("new_action"), "MODIFIED")
            .otherwise("UNCHANGED")
            .alias("change"),
            "old_action",
            "new_action",
        )
        .filter(F.col("change") != "UNCHANGED")
    )
    hits = firewall_rule_hits(spark, sf_dir).select("acl", "rule_id", "hits")
    return diff.join(hits, ["acl", "rule_id"], "left").select(
        "acl",
        "rule_id",
        "change",
        "old_action",
        "new_action",
        F.coalesce("hits", F.lit(0)).cast("long").alias("hits"),
    )
