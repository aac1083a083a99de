"""Network-address expressions: IPv4/CIDR matching, JVM-side.

The reference's rule matching is fundamentally "is this hit's address
inside this rule's network" ([R-mem] expanded object-groups); here that
predicate is a pure Catalyst expression usable inside a join condition
— whole-stage codegen, no UDF, so a hits⋈rules join with CIDR
containment stays a broadcast hash/NLJ entirely in the JVM.

Each expression is rendered as ONE SQL text (``*_sql``) and wrapped in
a single ``F.expr`` only where a Column is wanted: in PySpark classic
mode every Column-API node costs several py4j round trips, a whole
``F.expr`` text only a few, so a plan built from these texts stays
cheap to construct. Arguments are a column name or any SQL expression
text; a name that needs quoting must come back-quoted.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F


# character classes, not \d / \., so the texts need no backslash
# escapes inside SQL string literals
_IPV4_RE = "^[0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}$"


def ipv4_to_long_sql(ip: str) -> str:
    """SQL text of :func:`ipv4_to_long`."""
    o1, o2, o3, o4 = (f"CAST(element_at(split({ip}, '[.]'), {i}) AS BIGINT)" for i in range(1, 5))
    # '999.1.1.1' passes the {1,3} shape gate but is not an address;
    # an un-range-checked value >= 2^32 would spuriously match CIDRs
    # after masking (e.g. '256.0.0.1' inside '0.0.0.0/8')
    return (
        f"CASE WHEN ({ip}) RLIKE '{_IPV4_RE}'"
        f" AND {o1} <= 255 AND {o2} <= 255 AND {o3} <= 255 AND {o4} <= 255"
        f" THEN {o1} * 16777216 + {o2} * 65536 + {o3} * 256 + {o4} END"
    )


def ipv4_to_long(ip: str) -> Column:
    """Dotted-quad string → numeric address (0..2^32-1); NULL for
    malformed input.

    Real syslog contains truncated fields ('10.0.1', '1.2..4') and the
    hit-parser's ``([\\d.]+)`` capture admits them; under Spark 4's
    ANSI default an unguarded ``element_at``/``cast`` on such a value
    ABORTS the whole job. The rlike gate makes malformed addresses
    NULL (⇒ false in any join predicate) — one dirty line must never
    kill a 100 TB job."""
    return F.expr(ipv4_to_long_sql(ip))


def cidr_bounds_sql(cidr: str) -> tuple[str, str]:
    """SQL texts of :func:`cidr_bounds`."""
    # try_element_at: a CIDR missing its '/prefix' yields NULL (⇒ no
    # match) instead of an ANSI INVALID_ARRAY_INDEX abort
    net_part = f"try_element_at(split({cidr}, '/'), 1)"
    net = f"({ipv4_to_long_sql(net_part)})"
    # A prefix outside 0..32 would make the block size 0 ('/40': an
    # ANSI divide-by-zero abort below) or larger than the address space
    # ('/-1': a range past 2^32); gate it to NULL instead, honouring the
    # malformed-input contract.
    raw_prefix = f"try_cast(try_element_at(split({cidr}, '/'), 2) AS INT)"
    prefix = f"CASE WHEN {raw_prefix} BETWEEN 0 AND 32 THEN {raw_prefix} END"
    # block size 2^(32-prefix): shiftleft needs a literal shift amount,
    # but pow is exact in double up to 2^32
    size = f"CAST(pow(2D, 32 - ({prefix})) AS BIGINT)"
    lo = f"({net} - {net} % {size})"
    return lo, f"({lo} + {size} - 1)"


def cidr_bounds(cidr: str) -> tuple[Column, Column]:
    """First and last numeric address ``(lo, hi)`` of ``cidr``
    ('a.b.c.d/p'); both NULL when the CIDR is malformed.

    Host bits set in the network part are masked off ('10.0.1.5/24'
    spans 10.0.1.0..10.0.1.255), the firewall's own reading. Computing
    the bounds once per rule lets a join test containment as two bare
    long comparisons per (flow, rule) pair instead of re-parsing both
    strings for every pair."""
    lo, hi = cidr_bounds_sql(cidr)
    return F.expr(lo), F.expr(hi)


def ip_in_cidr(ip: str, cidr: str) -> Column:
    """True iff dotted-quad ``ip`` is inside ``cidr`` ('a.b.c.d/p');
    NULL (⇒ false in a join predicate) when either side is malformed.

    Pure expression algebra, safe inside join conditions. Where one
    side is a dimension, project :func:`cidr_bounds` on it once before
    the join rather than calling this per pair."""
    lo, hi = cidr_bounds_sql(cidr)
    return F.expr(f"({ipv4_to_long_sql(ip)}) BETWEEN {lo} AND {hi}")
