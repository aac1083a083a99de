"""Network-address expressions: IPv4/CIDR matching, JVM-side.

The reference's rule matching is fundamentally "is this hit's address
inside this rule's network" ([R-mem] expanded object-groups); here that
predicate is a pure Catalyst expression usable inside a join condition
— whole-stage codegen, no UDF, so a hits⋈rules join with CIDR
containment stays a broadcast hash/NLJ entirely in the JVM.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F


_IPV4_RE = r"^(\d{1,3})\.(\d{1,3})\.(\d{1,3})\.(\d{1,3})$"


def ipv4_to_long(ip: Column | str) -> Column:
    """Dotted-quad string → numeric address (0..2^32-1); NULL for
    malformed input.

    Real syslog contains truncated fields ('10.0.1', '1.2..4') and the
    hit-parser's ``([\\d.]+)`` capture admits them; under Spark 4's
    ANSI default an unguarded ``element_at``/``cast`` on such a value
    ABORTS the whole job. The rlike gate makes malformed addresses
    NULL (⇒ false in any join predicate) — one dirty line must never
    kill a 100 TB job."""
    ip = F.col(ip) if isinstance(ip, str) else ip
    oct_ = F.split(ip, r"\.")
    o1 = F.element_at(oct_, 1).cast("long")
    o2 = F.element_at(oct_, 2).cast("long")
    o3 = F.element_at(oct_, 3).cast("long")
    o4 = F.element_at(oct_, 4).cast("long")
    value = o1 * 16777216 + o2 * 65536 + o3 * 256 + o4
    # '999.1.1.1' passes the \d{1,3} shape gate but is not an address;
    # an un-range-checked value >= 2^32 would spuriously match CIDRs
    # after masking (e.g. '256.0.0.1' inside '0.0.0.0/8')
    octets_valid = (o1 <= 255) & (o2 <= 255) & (o3 <= 255) & (o4 <= 255)
    return F.when(ip.rlike(_IPV4_RE) & octets_valid, value)


def cidr_bounds(cidr: Column | str) -> tuple[Column, Column]:
    """First and last numeric address ``(lo, hi)`` of ``cidr``
    ('a.b.c.d/p'); both NULL when the CIDR is malformed.

    Host bits set in the network part are masked off ('10.0.1.5/24'
    spans 10.0.1.0..10.0.1.255), the firewall's own reading. Computing
    the bounds once per rule lets a join test containment as two bare
    long comparisons per (flow, rule) pair instead of re-parsing both
    strings for every pair."""
    cidr = F.col(cidr) if isinstance(cidr, str) else cidr
    parts = F.split(cidr, "/")
    # try_element_at: a CIDR missing its '/prefix' yields NULL (⇒ no
    # match) instead of an ANSI INVALID_ARRAY_INDEX abort
    net = ipv4_to_long(F.try_element_at(parts, F.lit(1)))
    # A prefix outside 0..32 would make the block size 0 ('/40': an
    # ANSI divide-by-zero abort below) or larger than the address space
    # ('/-1': a range past 2^32); gate it to NULL instead, honouring the
    # malformed-input contract.
    raw_prefix = F.try_element_at(parts, F.lit(2)).try_cast("int")
    prefix = F.when(raw_prefix.between(0, 32), raw_prefix)
    # block size 2^(32-prefix): shiftleft needs a literal shift amount,
    # but pow is exact in double up to 2^32
    size = F.pow(F.lit(2.0), F.lit(32) - prefix).cast("long")
    lo = net - net % size
    return lo, lo + size - 1


def ip_in_cidr(ip: Column | str, cidr: Column | str) -> Column:
    """True iff dotted-quad ``ip`` is inside ``cidr`` ('a.b.c.d/p');
    NULL (⇒ false in a join predicate) when either side is malformed.

    Pure expression algebra, safe inside join conditions. Where one
    side is a dimension, project :func:`cidr_bounds` on it once before
    the join rather than calling this per pair."""
    return ipv4_to_long(ip).between(*cidr_bounds(cidr))
