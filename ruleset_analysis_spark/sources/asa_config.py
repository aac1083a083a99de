"""Cisco ASA configuration parser → normalized rule dimension.

Parity surface for the reference's config-side script ([R-mem]
``convert_ruleset_to_flows.py``; SURVEY.md §0 — the reference mount was
empty, so behavior is reconstructed from the public ASA config format):
expand ``access-list`` statements, including ``object-group``
network/service indirection, into one row per concrete
(src, dst, port) flow tuple.

Design split, matching the data's shape rather than the reference's
code: the *config parse* is driver-side pure Python — a firewall config
is a few thousand lines, a classic small dimension — and the *result*
is a declared-schema DataFrame, broadcast-joinable against billions of
parsed log rows (``F.broadcast``; the log side never shuffles for this
join). Nothing here touches an executor until the join.

The report job reads the *compiled* ruleset (:func:`compile_ruleset`):
the rule relation with its networks as numeric bounds, plus the
statement identities, built once per SparkContext and config text —
the config stays the same across the days of logs it is matched
against.

Grammar covered (public ASA syntax):

    object-group network <name>
      network-object host <ip>
      network-object <net> <mask>
      group-object <other-group>
    object-group service <name> <tcp|udp|tcp-udp>
      port-object eq <port>
      port-object range <lo> <hi>
      group-object <other-group>
    access-list <name> extended <permit|deny> <proto> <src> <dst> [<port>]
        where <src>/<dst> ∈ { any | host <ip> | <net> <mask>
                              | object-group <group> }
              <port>      ∈ { eq <p> | lt <p> | gt <p> | neq <p>
                              | range <lo> <hi>
                              | object-group <group> }   (absent → any)
    access-list <name> standard <permit|deny> <src>
    access-list <name> remark <free text>

    ``lt p`` is ports 0..p-1, ``gt p`` is p+1..65535 and ``neq p`` both
    of those ranges (a range that holds no port expands to no tuple). A
    statement ending in ``inactive`` is disabled on the firewall: it
    keeps its rule_id (evaluation position) but expands to no tuple, so
    it matches no traffic and reports UNUSED.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..functions.net import cidr_bounds_sql
from ..operators._util import values_df
from .parquet import text_memo

RULE_SCHEMA = T.StructType(
    [
        T.StructField("acl", T.StringType()),
        T.StructField("rule_id", T.IntegerType()),
        T.StructField("action", T.StringType()),
        T.StructField("protocol", T.StringType()),
        T.StructField("src_net", T.StringType()),
        T.StructField("dst_net", T.StringType()),
        T.StructField("port_lo", T.IntegerType()),
        T.StructField("port_hi", T.IntegerType()),
    ]
)

_ANY_PORTS = (0, 65535)


@dataclass
class _Groups:
    network: dict[str, list[str]] = field(default_factory=dict)
    service: dict[str, list[tuple[int, int]]] = field(default_factory=dict)

    def resolve_network(self, name: str, seen: frozenset[str] = frozenset()) -> list[str]:
        if name in seen:
            raise ValueError(f"object-group cycle at {name!r}")
        if name not in self.network:
            # fail loud: a typo'd group silently expanding to zero
            # tuples would drop the whole rule (and its hits) unnoticed
            raise ValueError(f"undefined network object-group {name!r}")
        out: list[str] = []
        for item in self.network[name]:
            if item.startswith("group:"):
                out.extend(self.resolve_network(item[6:], seen | {name}))
            else:
                out.append(item)
        return out

    def resolve_service(
        self, name: str, seen: frozenset[str] = frozenset()
    ) -> list[tuple[int, int]]:
        if name in seen:
            raise ValueError(f"object-group cycle at {name!r}")
        if name not in self.service:
            raise ValueError(f"undefined service object-group {name!r}")
        out: list[tuple[int, int]] = []
        for item in self.service[name]:
            if isinstance(item, str) and item.startswith("group:"):
                out.extend(self.resolve_service(item[6:], seen | {name}))
            else:
                out.append(item)  # type: ignore[arg-type]
        return out


def _mask_to_prefix(mask: str) -> int:
    return sum(bin(int(o)).count("1") for o in mask.split("."))


def _parse_endpoint(toks: list[str], i: int) -> tuple[str, int]:
    """Consume one src/dst endpoint starting at toks[i]; return
    (endpoint-spec, next index). Spec is 'any', 'ip/32', 'net/prefix',
    or 'group:<name>' for later expansion."""
    t = toks[i]
    if t == "any":
        return "0.0.0.0/0", i + 1
    if t == "host":
        return f"{toks[i + 1]}/32", i + 2
    if t == "object-group":
        return f"group:{toks[i + 1]}", i + 2
    # "<net> <mask>" form
    return f"{t}/{_mask_to_prefix(toks[i + 1])}", i + 2


def _parse_port(toks: list[str], i: int) -> tuple[str | list[tuple[int, int]], int]:
    """Consume an optional port spec at toks[i]; return (spec, next
    index). Spec is a list of inclusive ``(lo, hi)`` ranges — empty when
    the operator admits no port (``lt 0``) — or 'group:<name>'."""
    if i >= len(toks):
        return [_ANY_PORTS], i
    t = toks[i]
    if t == "object-group":
        return f"group:{toks[i + 1]}", i + 2
    if t == "range":
        return [(_well_known(toks[i + 1]), _well_known(toks[i + 2]))], i + 3
    if t not in ("eq", "lt", "gt", "neq"):
        return [_ANY_PORTS], i
    p = _well_known(toks[i + 1])
    ranges = {
        "eq": [(p, p)],
        "lt": [(0, p - 1)],
        "gt": [(p + 1, 65535)],
        "neq": [(0, p - 1), (p + 1, 65535)],
    }[t]
    return [(lo, hi) for lo, hi in ranges if lo <= hi], i + 2


_WELL_KNOWN = {
    "www": 80, "http": 80, "https": 443, "ssh": 22, "telnet": 23,
    "smtp": 25, "domain": 53, "ftp": 21, "pop3": 110, "imap4": 143,
    "ntp": 123, "snmp": 161, "syslog": 514,
}


def _well_known(tok: str) -> int:
    if tok.isdigit():
        return int(tok)
    return _WELL_KNOWN[tok]  # KeyError on unknown service names — fail loud


def parse_asa_config(text: str) -> list[dict]:
    """Pure-Python parse+expand; one dict per concrete flow tuple.

    ``rule_id`` numbers access-list statements per ACL in order of
    appearance (the position the firewall evaluates them in); every
    expanded tuple of one statement shares its rule_id, exactly what a
    hit-count join needs. A statement that matches no traffic (an
    ``inactive`` ACE, or a port operator that admits no port) keeps its
    rule_id but expands to no tuple; :func:`parse_asa_statements` lists
    it."""
    return parse_asa_statements(text)[0]


def parse_asa_statements(text: str) -> tuple[list[dict], list[dict]]:
    """``(tuples, statements)``: the flow tuples of
    :func:`parse_asa_config`, and one ``(acl, rule_id, action)`` dict
    per access-list statement in order — including the statements that
    expand to no tuple, which a usage report must still list."""
    groups = _Groups()
    acl_entries: list[tuple[str, list[str]]] = []
    current: tuple[str, str] | None = None  # (kind, name)

    for raw in text.splitlines():
        line = raw.strip()
        if not line or line.startswith("!"):
            continue
        toks = line.split()
        if toks[0] == "object-group":
            kind, name = toks[1], toks[2]
            current = (kind, name)
            if kind == "network":
                groups.network.setdefault(name, [])
            else:
                groups.service.setdefault(name, [])
        elif toks[0] == "network-object" and current and current[0] == "network":
            spec, _ = _parse_endpoint(toks, 1)
            groups.network[current[1]].append(spec)
        elif toks[0] == "port-object" and current and current[0] == "service":
            groups.service[current[1]].extend(_parse_port(toks, 1)[0])  # type: ignore[arg-type]
        elif toks[0] == "group-object" and current:
            target = groups.network if current[0] == "network" else groups.service
            target[current[1]].append(f"group:{toks[1]}")  # type: ignore[arg-type]
        elif toks[0] == "access-list":
            current = None
            acl_entries.append((toks[1], toks))
        else:
            current = None

    rule_counters: dict[str, int] = {}
    rows: list[dict] = []
    statements: list[dict] = []
    for acl, toks in acl_entries:
        # access-list <name> [extended] <action> <proto> <src...> <dst...> [<port...>] [inactive]
        # access-list <name> standard <permit|deny> <net...> [inactive]
        # access-list <name> remark <free text>   -- annotation, skipped
        i = 2
        if toks[i] == "remark":
            continue
        if toks[i] == "standard":
            # standard ACLs match source only: action + one endpoint
            action, proto = toks[i + 1], "ip"
            src, i = _parse_endpoint(toks, i + 2)
            dst, ports = "0.0.0.0/0", [_ANY_PORTS]
        else:
            if toks[i] == "extended":
                i += 1
            action, proto = toks[i], toks[i + 1]
            src, i = _parse_endpoint(toks, i + 2)
            dst, i = _parse_endpoint(toks, i)
            port, i = _parse_port(toks, i)
            ports = (
                groups.resolve_service(port[6:]) if isinstance(port, str) else port
            )

        rule_counters[acl] = rule_counters.get(acl, 0) + 1
        rid = rule_counters[acl]
        statements.append({"acl": acl, "rule_id": rid, "action": action})
        srcs = groups.resolve_network(src[6:]) if src.startswith("group:") else [src]
        dsts = groups.resolve_network(dst[6:]) if dst.startswith("group:") else [dst]
        # the firewall skips an inactive ACE: it keeps its position (and
        # its place in the report) but matches nothing
        if "inactive" in toks[i:]:
            continue
        for s in srcs:
            for d in dsts:
                for lo, hi in ports:
                    rows.append(
                        {
                            "acl": acl,
                            "rule_id": rid,
                            "action": action,
                            "protocol": proto,
                            "src_net": s,
                            "dst_net": d,
                            "port_lo": lo,
                            "port_hi": hi,
                        }
                    )
    return rows, statements


def _ddl(schema: T.StructType) -> str:
    return ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in schema)


def rules_relation(spark: SparkSession, rows: list[dict]) -> DataFrame:
    """The ``RULE_SCHEMA`` dimension of already-parsed rows (see
    :func:`rules_dataframe`)."""
    names = RULE_SCHEMA.fieldNames()
    return values_df(spark, [tuple(r[n] for n in names) for r in rows], _ddl(RULE_SCHEMA))


def rule_identities(spark: SparkSession, rows: list[dict]) -> DataFrame:
    """One ``(acl, rule_id, action)`` row per access-list statement of
    already-parsed rows (the tuples of :func:`parse_asa_config`, or the
    statements of :func:`parse_asa_statements`, which also hold the
    statements without a tuple) — deduplicated on the driver, so a
    report that must list every statement needs no ``distinct``
    shuffle."""
    names = ("acl", "rule_id", "action")
    idents = sorted({tuple(r[n] for n in names) for r in rows})
    return values_df(spark, idents, _ddl(T.StructType([RULE_SCHEMA[n] for n in names])))


def rules_dataframe(spark: SparkSession, config_text: str) -> DataFrame:
    """Parsed+expanded ruleset as a declared-schema DataFrame — the
    broadcast dimension for hit-count joins.

    A ``LocalRelation`` (``values_df``): the rows live in the plan, so
    Catalyst knows its size and folds projections over it at planning
    time, and scanning it runs no Python workers."""
    return rules_relation(spark, parse_asa_config(config_text))


def rule_bounds(rules: DataFrame) -> DataFrame:
    """A ``RULE_SCHEMA`` relation with each network replaced by its
    numeric address bounds ``src_lo, src_hi, dst_lo, dst_hi`` (BIGINT,
    from ``functions.net.cidr_bounds_sql``, the one reader of a CIDR
    string; both NULL for a malformed network, which then matches
    nothing): ``(acl, rule_id, action, protocol, port_lo, port_hi,
    src_lo, src_hi, dst_lo, dst_hi)``, the side of the first-match join
    that tests containment as bare long comparisons."""
    src_lo, src_hi = cidr_bounds_sql("src_net")
    dst_lo, dst_hi = cidr_bounds_sql("dst_net")
    return rules.selectExpr(
        "acl", "rule_id", "action", "protocol", "port_lo", "port_hi",
        f"{src_lo} AS src_lo", f"{src_hi} AS src_hi",
        f"{dst_lo} AS dst_lo", f"{dst_hi} AS dst_hi",
    )


def compile_ruleset(spark: SparkSession, config_text: str) -> tuple[DataFrame, DataFrame]:
    """``(bounded rules, identities)`` of a config, compiled once per
    SparkContext and config text (``sources.parquet.text_memo``) and
    then returned as the same two DataFrames: the :func:`rule_bounds`
    relation of its expanded tuples, and the :func:`rule_identities` of
    its statements.

    The bounds are computed by Spark, not in Python: the projection
    over the literal rule relation folds to a local table scan, so its
    ``collect`` runs no Spark job, and the collected rows are
    re-rendered as a literal relation of plain numbers. A report that
    joins against it plans no CIDR parse and renders no ``VALUES``
    literal once the config is compiled."""

    def build() -> tuple[DataFrame, DataFrame]:
        rows, statements = parse_asa_statements(config_text)
        bounded = rule_bounds(rules_relation(spark, rows))
        return (
            values_df(spark, bounded.collect(), _ddl(bounded.schema)),
            rule_identities(spark, statements),
        )

    return text_memo(spark, config_text, "asa_ruleset", build)
