"""Corpus-scoped reuse has one mechanism: ``sources.parquet.corpus_memo``.

Its contract — the same object while the corpus's files are unchanged,
a fresh build after they change, nothing stored when a build raises —
is pinned here on a scratch directory; the end-to-end rewrite check
against the oracle lives in tests/test_fuzz_corpus.py. ``text_memo``
is the same memo scoped by an in-memory text instead of a directory,
under the same contract, and ``files_memo`` the same memo scoped by a
log path and keyed on the files Spark lists for it.
"""

from __future__ import annotations

import os
import sys
import threading
import time

import pytest

from ruleset_analysis_spark.sources.parquet import corpus_memo, files_memo, text_memo

PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "ruleset_analysis_spark",
)


def test_only_the_memo_and_session_read_the_application_id():
    """A module keying its own reuse on ``applicationId`` is a second
    memo mechanism, with its own staleness rules; route it through
    ``corpus_memo`` instead."""
    allowed = {"session.py", os.path.join("sources", "parquet.py")}
    offenders = []
    for root, _dirs, files in os.walk(PKG):
        for f in files:
            path = os.path.join(root, f)
            rel = os.path.relpath(path, PKG)
            if f.endswith(".py") and rel not in allowed:
                if "applicationId" in open(path, encoding="utf-8").read():
                    offenders.append(rel)
    assert not offenders, offenders


def test_memo_holds_until_the_files_change(spark, tmp_path):
    d = tmp_path / "corpus"
    d.mkdir()
    f = d / "t.parquet"
    f.write_bytes(b"one")
    calls = []

    def build():
        calls.append(1)
        return object()

    first = corpus_memo(spark, str(d), "x", build)
    assert corpus_memo(spark, str(d) + "/", "x", build) is first
    assert len(calls) == 1
    f.write_bytes(b"two!")  # rewritten in place: size and mtime move
    second = corpus_memo(spark, str(d), "x", build)
    assert second is not first and len(calls) == 2
    assert corpus_memo(spark, str(d), "x", build) is second


def test_failed_build_stores_nothing(spark, tmp_path):
    d = str(tmp_path / "absent")

    def boom():
        raise FileNotFoundError(d)

    with pytest.raises(FileNotFoundError):
        corpus_memo(spark, d, "probe", boom)
    assert corpus_memo(spark, d, "probe", lambda: "built") == "built"


def test_concurrent_lookups_share_one_object(spark, tmp_path):
    """Harnesses load tables from a thread pool: racing builders of one
    name must all come back with the single stored object."""
    d = str(tmp_path)
    got = []

    def build():
        time.sleep(0.01)
        return object()

    def worker():
        for i in range(20):
            got.append((i, corpus_memo(spark, d, f"n{i}", build)))

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=worker) for _ in range(16)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
        assert not any(t.is_alive() for t in threads)
    finally:
        sys.setswitchinterval(old)
    assert len(got) == 16 * 20
    for i in range(20):
        assert len({id(v) for j, v in got if j == i}) == 1


def test_text_memo_holds_for_equal_text_only(spark):
    calls = []

    def build():
        calls.append(1)
        return object()

    a = "access-list A extended permit ip any any\n"
    first = text_memo(spark, a, "x", build)
    assert text_memo(spark, "".join(list(a)), "x", build) is first  # equal, not identical
    assert len(calls) == 1
    b = a.replace("permit", "deny")
    second = text_memo(spark, b, "x", build)
    assert second is not first and len(calls) == 2
    # each text is its own scope: the first one is still held
    assert text_memo(spark, a, "x", build) is first
    assert text_memo(spark, b, "x", build) is second
    assert len(calls) == 2


def test_text_memo_failed_build_stores_nothing(spark):
    text = "object-group network MISSING\n"

    def boom():
        raise ValueError("undefined network object-group")

    with pytest.raises(ValueError):
        text_memo(spark, text, "probe", boom)
    assert text_memo(spark, text, "probe", lambda: "built") == "built"


def test_files_memo_keys_on_the_listed_files(spark, tmp_path):
    """One scope per path as given (``dir`` and ``dir/`` share it),
    keyed on the listed files: the same object while they are
    unchanged, a fresh build after one changes; a superseded DataFrame
    is unpersisted; non-local files are never memoized."""
    d = tmp_path / "logs"
    d.mkdir()
    f = d / "a.log"
    f.write_text("one\n")
    files = [f"file://{f}"]
    calls = []

    def build():
        calls.append(1)
        return spark.range(len(calls))

    first = files_memo(spark, str(d), files, "x", build)
    assert files_memo(spark, f"{d}/", files, "x", build) is first
    assert len(calls) == 1
    first.cache()
    f.write_text("two!\n")  # rewritten in place: size and mtime move
    second = files_memo(spark, str(d), files, "x", build)
    assert second is not first and len(calls) == 2
    assert not first.is_cached
    remote = ["hdfs://nn/logs/a.log"]
    assert files_memo(spark, "hdfs://nn/logs", remote, "x", build) is not (
        files_memo(spark, "hdfs://nn/logs", remote, "x", build)
    )
