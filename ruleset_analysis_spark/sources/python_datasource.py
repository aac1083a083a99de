"""Custom Python DataSource (Spark 4 `pyspark.sql.datasource` API):
``spark.read.format("asa_syslog")`` over a directory of plain/gzipped
ASA syslog files, yielding the typed hit schema directly.

Positioning, honestly stated: the PRODUCTION hot path for this format
stays JVM-side (``text_logs.read_log_lines`` + ``parse_asa_hits`` —
codegen regexp over the built-in text source). A Python DataSource
executes its reader in Python workers, so it earns its keep only where
the format genuinely needs Python (proprietary decoders, exotic
codecs, REST-paginated sources) — this implementation exists to prove
the *pluggability surface*: schema declaration, file-granular
partition planning, per-partition iterator reads, and the same
dirty-line contract as the JVM path (unparsable lines drop; one bad
line never kills the job).

Scale notes: ``partitions()`` returns one InputPartition per file —
the correct granularity for gzip (non-splittable; same rule as the
JVM text source) — so a directory of N archives fans out to N
parallel Python readers; each reader streams line-by-line (no
whole-file buffering)."""

from __future__ import annotations

import glob
import gzip
import os
import re
from collections.abc import Iterator, Sequence

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    DataSourceWriter,
    InputPartition,
    WriterCommitMessage,
)
from pyspark.sql.types import StructType

from .text_logs import ASA_106100_RE, ASA_HIT_SCHEMA


def _list_files(path: str) -> list[str]:
    """The name-sorted files directly under a directory, or the matches
    of a glob: the listing both readers plan their partitions from."""
    if os.path.isdir(path):
        return sorted(
            f for f in glob.glob(os.path.join(path, "*")) if os.path.isfile(f)
        )
    return sorted(glob.glob(path))


class AsaSyslogReader(DataSourceReader):
    def __init__(self, options: dict) -> None:
        path = options.get("path")
        if not path:
            raise ValueError("asa_syslog: .load(path) is required")
        self._path = path

    def partitions(self) -> Sequence[InputPartition]:
        # one partition per file: gzip is not splittable, and file
        # granularity is what a syslog archive layout provides
        files = _list_files(self._path)
        if not files:
            raise FileNotFoundError(f"asa_syslog: no input files under {self._path!r}")
        return [InputPartition(f) for f in files]

    def read(self, partition: InputPartition) -> Iterator[tuple]:
        # executed on a Python worker
        yield from _parse_file(partition.value)


_INT32_MAX = 2**31 - 1
_INT64_MAX = 2**63 - 1


def _bounded(digits: str, limit: int) -> int | None:
    """``try_cast`` of a digit run: ``None`` past the type's range."""
    n = int(digits)
    return n if n <= limit else None


def _parse_file(path: str) -> Iterator[tuple]:
    """Stream one plain/gzipped syslog file as typed hit tuples —
    shared by the batch and streaming readers (identical dirty-line
    contract: unparsable lines drop, never abort).

    Matches the JVM path field for field: ``re.ASCII`` gives ``\\d``
    and ``\\S`` Java's ASCII meaning, and an out-of-range port or hit
    count becomes ``None`` as ``try_cast`` makes it NULL there (an
    unbounded ``int`` would abort the whole read in the Arrow
    conversion)."""
    rx = re.compile(ASA_106100_RE, re.ASCII)
    opener = gzip.open if path.endswith(".gz") else open
    with opener(path, "rt", errors="replace") as fh:
        for line in fh:
            m = rx.search(line)
            if not m:
                continue
            g = m.groups()
            yield (
                g[0], g[1], g[2], g[3], g[4], _bounded(g[5], _INT32_MAX),
                g[6], g[7], _bounded(g[8], _INT32_MAX), _bounded(g[9], _INT64_MAX),
            )


class AsaSyslogStreamReader(DataSourceStreamReader):
    """``spark.readStream.format("asa_syslog")``: tail a growing
    directory of syslog archives.

    Offset model: syslog rotation produces lexically-increasing,
    append-only file names, so an offset is ``{"idx": n, "last":
    name}`` — the count of files already emitted from the name-sorted
    listing plus the name of the last one. The ``last`` field makes the
    offset SELF-VALIDATING: a bare index silently shifts when the
    listing mutates non-append-only (retention deleting an old file, a
    rotation renaming current.log → archive-NNN.log.gz, a new name
    sorting before existing ones), re-emitting or permanently skipping
    rows; ``partitions()`` instead verifies ``files[idx-1] == last``
    for both offsets and raises a clear error on any mismatch — a loud
    stop, never silent data loss. Each micro-batch covers
    ``files[start:end]`` with ONE InputPartition per new file (gzip is
    not splittable), read partition-parallel on Python workers — this
    is the full ``DataSourceStreamReader`` surface (planned partitions,
    exactly-once via engine-tracked offsets), not the driver-side
    ``SimpleDataSourceStreamReader`` convenience path. A production
    deployment on an object store would swap the name-sorted listing
    for a manifest/notification feed but keep the same offset
    contract."""

    def __init__(self, options: dict) -> None:
        path = options.get("path")
        if not path:
            raise ValueError("asa_syslog: .load(path) is required")
        self._path = path

    def initialOffset(self) -> dict:
        return {"idx": 0, "last": ""}

    def latestOffset(self) -> dict:
        files = _list_files(self._path)
        return {"idx": len(files), "last": files[-1] if files else ""}

    @staticmethod
    def _validate(files: list[str], off: dict, which: str) -> None:
        idx = off["idx"]
        # offsets written by a pre-"last" checkpoint stay readable
        # (validation simply can't strengthen them)
        last = off.get("last")
        if idx == 0 or last is None:
            return
        if idx > len(files) or files[idx - 1] != last:
            got = files[idx - 1] if idx <= len(files) else "<past end>"
            raise RuntimeError(
                f"asa_syslog: directory listing mutated non-append-only: "
                f"{which} offset expects files[{idx - 1}] == {last!r} but "
                f"the listing has {got!r}. A file was renamed, deleted, or "
                f"inserted before the committed position; refusing to emit "
                f"a shifted slice (silent re-emit/skip). Restart the stream "
                f"with a fresh checkpoint over the current directory."
            )

    def partitions(self, start: dict, end: dict) -> Sequence[InputPartition]:
        files = _list_files(self._path)
        self._validate(files, start, "start")
        self._validate(files, end, "end")
        # an empty micro-batch still needs a partition list
        return [InputPartition(f) for f in files[start["idx"] : end["idx"]]]

    def read(self, partition: InputPartition) -> Iterator[tuple]:
        yield from _parse_file(partition.value)

    def commit(self, end: dict) -> None:
        pass  # offsets live in the engine's checkpoint; nothing to ack


class AsaSyslogDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "asa_syslog"

    def schema(self) -> StructType:
        return ASA_HIT_SCHEMA

    def reader(self, schema) -> AsaSyslogReader:
        return AsaSyslogReader(self.options)

    def streamReader(self, schema) -> AsaSyslogStreamReader:
        return AsaSyslogStreamReader(self.options)

    def writer(self, schema, overwrite: bool) -> "AsaSyslogWriter":
        return AsaSyslogWriter(self.options, overwrite)


def register_asa_syslog(spark) -> None:
    """Idempotently register the datasource on a session."""
    spark.dataSource.register(AsaSyslogDataSource)


# --------------------------------------------------------------- writer

class _AsaCommit(WriterCommitMessage):
    """Per-task commit message: the temp file this task produced."""

    def __init__(self, tmp_path: str, n_rows: int) -> None:
        self.tmp_path = tmp_path
        self.n_rows = n_rows


class AsaSyslogWriter(DataSourceWriter):
    """Transactional batch writer: DataFrame rows of the hit schema →
    gzipped syslog files that ``format("asa_syslog")`` (and any real
    ASA tooling that reads 106100 messages) can read back.

    Two-phase commit, the contract every distributed sink needs:
    each task writes ``part-<uuid>.log.gz.tmp`` and reports it in its
    commit message; only the driver-side ``commit()`` renames the temp
    files into place (atomic per file on POSIX), and ``abort()``
    removes any temp that straggler/failed tasks left behind. A reader
    can never observe a half-written file under its final name —
    task-level idempotence without a manifest (the rename IS the
    manifest; at object-store scale the same shape carries a manifest
    file instead, because rename is not atomic there).

    One file per partition — matching the reader's one-partition-per-
    file planning, so a write→read round-trip preserves parallelism."""

    def __init__(self, options: dict, overwrite: bool) -> None:
        path = options.get("path")
        if not path:
            raise ValueError("asa_syslog: .save(path) is required")
        self._path = path
        self._overwrite = overwrite

    def write(self, iterator: Iterator) -> _AsaCommit:
        import uuid

        os.makedirs(self._path, exist_ok=True)
        tmp = os.path.join(self._path, f"part-{uuid.uuid4().hex}.log.gz.tmp")
        n = 0
        with gzip.open(tmp, "wt", encoding="utf-8") as f:
            for row in iterator:
                f.write(
                    f"%ASA-6-106100: access-list {row.acl} {row.action} "
                    f"{row.protocol} {row.src_if}/{row.src_ip}({row.src_port})"
                    f" -> {row.dst_if}/{row.dst_ip}({row.dst_port})"
                    f" hit-cnt {row.hit_cnt} [0x0, 0x0]\n"
                )
                n += 1
        return _AsaCommit(tmp, n)

    def commit(self, messages: Sequence[_AsaCommit]) -> None:
        if self._overwrite:
            for old in glob.glob(os.path.join(self._path, "*.log.gz")):
                os.remove(old)
        for m in messages:
            os.rename(m.tmp_path, m.tmp_path[: -len(".tmp")])

    def abort(self, messages: Sequence[_AsaCommit]) -> None:
        for m in messages:
            if m is not None and os.path.exists(m.tmp_path):
                os.remove(m.tmp_path)
