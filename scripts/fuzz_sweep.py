#!/usr/bin/env python
"""Regeneration-fuzz sweep: oracle-match on a mutated dataset.

The grading driver regenerates the parquet testdata between rounds, so
every oracle is re-judged each round on data the queries have never
seen. ``tests/test_dirty_corpus.py`` pins crash-robustness on
degenerate rows; THIS tool pins the stronger property the driver
actually grades — *value agreement with the DuckDB oracle on a fresh
draw of the data*. It regenerates all ten tables with the same schemas
and value domains as ``TESTDATA.md``'s generator but a different seed
and deliberately nastier structure, then runs the full differential
sweep against the mutated directory (``scripts/check.py --sf DIR``):

* ``events``: new user/value/ts draws, a heavy-user skew slice, 1% of
  timestamps pushed late (out-of-order arrival), same-(user,ts)
  collision pairs, and a ``props`` mix covering int / float / bool /
  string / multi-key / empty-object / NULL payloads (the ADVICE float-k
  class: ``try_variant_get(..., 'bigint')`` coerces ``5.0`` while the
  oracle's string-path yields NULL — divergences like that only show
  up on a corpus that actually contains a float k).
* ``documents``: texts rebuilt from the same vocabulary with injected
  exact duplicates (~4%) and near-duplicates (~8%) so the dedup family
  is judged on non-trivial merges; fresh lang/source draws; doc_id
  renumbered with gaps (ids are labels, not offsets).
* ``embeddings``: fresh 64-dim vectors with injected near-dup pairs
  and a duplicate-heavy label; vec_id gaps.
* ``lineitem``/``orders``: 90% sample without replacement (PK/FK
  integrity preserved — lineitem keeps only surviving orderkeys),
  non-key numerics re-drawn 2dp, dates jittered ±5 days, flag columns
  re-drawn for a 10% slice.
* dimension tables: row order shuffled (content unchanged — FK targets
  must survive).

Everything is deterministic in ``--seed``. Exit non-zero on any
mismatch. Usage:

    python scripts/fuzz_sweep.py [--seed 7] [--out /tmp/fuzz_sf0.01] \
        [--keep] [query ...]
"""

from __future__ import annotations

import argparse
import os
import shutil
import subprocess
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE = "/root/testdata/sf0.01"


def _rows(base: str, table: str) -> int:
    return pq.ParquetFile(os.path.join(base, f"{table}.parquet")).metadata.num_rows


VOCAB = (
    "key agg row scan slow fast table value part hash merge batch spark a the "
    "line sort window order data column join small customer query big stream "
    "group filter"
).split()
LANGS = ["en", "de", "zh", "fr", "es"]
SOURCES = [f"src{i}" for i in range(20)]
EVENT_TYPES = ["click", "signup", "error", "view", "purchase"]


def _write(tbl: pa.Table, out_dir: str, name: str) -> None:
    pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))


def _shuffle(tbl: pa.Table, rng: np.random.Generator) -> pa.Table:
    return tbl.take(pa.array(rng.permutation(tbl.num_rows)))


def gen_events(rng: np.random.Generator, out_dir: str, n: int = 10_000) -> None:
    user = rng.integers(1, max(400, n // 25), n)
    # heavy-user skew: one user owns ~5% of traffic
    heavy = rng.random(n) < 0.05
    user[heavy] = 7
    # timestamps in Jan 2024, 1% late (Feb) — out-of-order arrival
    base = np.datetime64("2024-01-01T00:00:00", "us")
    span = np.timedelta64(30 * 24 * 3600 * 1_000_000, "us")
    ts = base + (rng.random(n) * span.astype(np.int64)).astype("timedelta64[us]")
    late = rng.random(n) < 0.01
    ts[late] += np.timedelta64(35 * 24 * 3600 * 1_000_000, "us")
    # same-(user, ts) collision pairs: copy 50 rows' (user, ts) onto the
    # next row — strict-ordering logic (funnels, as-of) must not flap
    idx = rng.choice(n - 1, 50, replace=False)
    user[idx + 1] = user[idx]
    ts[idx + 1] = ts[idx]
    etype = rng.choice(EVENT_TYPES, n, p=[0.35, 0.1, 0.1, 0.3, 0.15])
    value = np.round(rng.uniform(0.01, 500.0, n), 2)
    # props mix: int / float / bool / str / multikey / empty / NULL
    kinds = rng.choice(7, n, p=[0.62, 0.10, 0.05, 0.05, 0.08, 0.05, 0.05])
    kint = rng.integers(0, 100, n)
    kflt = np.round(rng.uniform(0, 100, n), 2)
    props: list[str | None] = []
    for i in range(n):
        k = kinds[i]
        if k == 0:
            props.append('{"k": %d}' % kint[i])
        elif k == 1:
            props.append('{"k": %s}' % kflt[i])
        elif k == 2:
            props.append('{"k": %s}' % ("true" if kint[i] % 2 else "false"))
        elif k == 3:
            props.append('{"k": "%s"}' % VOCAB[kint[i] % len(VOCAB)])
        elif k == 4:
            props.append('{"k": %d, "j": %d}' % (kint[i], kint[i] * 3 % 97))
        elif k == 5:
            props.append("{}")
        else:
            props.append(None)
    tbl = pa.table(
        {
            "event_id": pa.array(np.arange(1, n + 1), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(user, pa.int64()),
            "event_type": pa.array(etype, pa.string()),
            "value": pa.array(value, pa.float64()),
            "props": pa.array(props, pa.string()),
        }
    )
    _write(_shuffle(tbl, rng), out_dir, "events")


def gen_documents(rng: np.random.Generator, out_dir: str, n: int = 500) -> None:
    texts: list[str] = []
    for _ in range(n):
        ln = int(rng.integers(20, 120))
        texts.append(" ".join(rng.choice(VOCAB, ln)))
    # exact duplicates: ~4% copy an earlier doc verbatim
    for i in rng.choice(np.arange(50, n), n // 25, replace=False):
        texts[i] = texts[int(rng.integers(0, 50))]
    # near-duplicates: ~8% copy an earlier doc and perturb a few tokens
    for i in rng.choice(np.arange(50, n), n // 12, replace=False):
        toks = texts[int(rng.integers(0, 50))].split()
        for j in rng.choice(len(toks), max(1, len(toks) // 20), replace=False):
            toks[j] = VOCAB[int(rng.integers(0, len(VOCAB)))]
        texts[i] = " ".join(toks)
    doc_id = np.sort(rng.choice(np.arange(1, n * 3), n, replace=False))
    tbl = pa.table(
        {
            "doc_id": pa.array(doc_id, pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(rng.choice(LANGS, n), pa.string()),
            "source": pa.array(rng.choice(SOURCES, n), pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    _write(_shuffle(tbl, rng), out_dir, "documents")


def gen_embeddings(rng: np.random.Generator, out_dir: str, n: int = 500, d: int = 64) -> None:
    vecs = rng.normal(0, 1, (n, d)).astype(np.float32)
    # near-dup pairs: ~6% are a tiny perturbation of an earlier vector
    for i in rng.choice(np.arange(50, n), n // 16, replace=False):
        j = int(rng.integers(0, 50))
        vecs[i] = vecs[j] + rng.normal(0, 0.01, d).astype(np.float32)
    label = rng.integers(0, 10, n).astype(np.int32)
    # a duplicate-heavy label: label 3 collapses to few distinct shapes
    label[rng.choice(n, n // 10, replace=False)] = 3
    vec_id = np.sort(rng.choice(np.arange(1, n * 3), n, replace=False))
    tbl = pa.table(
        {
            "vec_id": pa.array(vec_id, pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(label, pa.int32()),
        }
    )
    _write(_shuffle(tbl, rng), out_dir, "embeddings")


def mutate_orders_lineitem(
    rng: np.random.Generator, out_dir: str, base: str = BASE
) -> None:
    orders = pq.read_table(os.path.join(base, "orders.parquet"))
    keep = rng.random(orders.num_rows) < 0.9
    orders = orders.filter(pa.array(keep))
    od = orders.to_pydict()
    n = len(od["o_orderkey"])
    od["o_totalprice"] = list(np.round(rng.uniform(1000, 400_000, n), 2))
    shift = rng.integers(-3, 4, n)
    od["o_orderdate"] = [
        d + np.timedelta64(int(s) * 24 * 3600 * 1_000_000, "us")
        for d, s in zip(
            np.array(od["o_orderdate"], dtype="datetime64[us]"), shift
        )
    ]
    flip = rng.random(n) < 0.1
    stat = np.array(od["o_orderstatus"], dtype=object)
    prio = np.array(od["o_orderpriority"], dtype=object)
    stat[flip] = rng.choice(sorted(set(od["o_orderstatus"])), int(flip.sum()))
    prio[flip] = rng.choice(sorted(set(od["o_orderpriority"])), int(flip.sum()))
    od["o_orderstatus"], od["o_orderpriority"] = list(stat), list(prio)
    otbl = pa.table(od, schema=orders.schema)
    _write(_shuffle(otbl, rng), out_dir, "orders")

    surviving = set(od["o_orderkey"])
    li = pq.read_table(os.path.join(base, "lineitem.parquet"))
    mask = pa.array([k in surviving for k in li.column("l_orderkey").to_pylist()])
    li = li.filter(mask)
    ld = li.to_pydict()
    m = len(ld["l_orderkey"])
    sel = rng.random(m) < 0.9
    ld = {k: [v for v, s in zip(vals, sel) if s] for k, vals in ld.items()}
    m = len(ld["l_orderkey"])
    ld["l_quantity"] = list(rng.integers(1, 51, m).astype(float))
    ld["l_extendedprice"] = list(np.round(rng.uniform(900, 105_000, m), 2))
    ld["l_discount"] = list(np.round(rng.integers(0, 11, m) / 100.0, 2))
    ld["l_tax"] = list(np.round(rng.integers(0, 9, m) / 100.0, 2))
    shift = rng.integers(-5, 6, m)
    ld["l_shipdate"] = [
        d + np.timedelta64(int(s) * 24 * 3600 * 1_000_000, "us")
        for d, s in zip(np.array(ld["l_shipdate"], dtype="datetime64[us]"), shift)
    ]
    flip = rng.random(m) < 0.1
    rf = np.array(ld["l_returnflag"], dtype=object)
    ls = np.array(ld["l_linestatus"], dtype=object)
    rf[flip] = rng.choice(sorted(set(ld["l_returnflag"])), int(flip.sum()))
    ls[flip] = rng.choice(sorted(set(ld["l_linestatus"])), int(flip.sum()))
    ld["l_returnflag"], ld["l_linestatus"] = list(rf), list(ls)
    ltbl = pa.table(ld, schema=li.schema)
    _write(_shuffle(ltbl, rng), out_dir, "lineitem")


def generate(seed: int, out_dir: str, base: str = BASE) -> None:
    """Mutated regeneration sized to ``base`` (any scale-factor dir):
    table row counts follow the base tables, so ``--base sf0.1`` gives
    a 10x fuzz corpus — the scale tier and the fuzz tier composed."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    for t in ("region", "nation", "customer", "supplier", "part"):
        tbl = pq.read_table(os.path.join(base, f"{t}.parquet"))
        _write(_shuffle(tbl, rng), out_dir, t)
    mutate_orders_lineitem(rng, out_dir, base)
    gen_events(rng, out_dir, n=_rows(base, "events"))
    gen_documents(rng, out_dir, n=_rows(base, "documents"))
    gen_embeddings(rng, out_dir, n=_rows(base, "embeddings"))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*", help="query names (default: all)")
    ap.add_argument("--seed", type=int, default=7)
    ap.add_argument("--base", default=BASE, help="sf dir whose sizes to match")
    ap.add_argument("--out", default=None)
    ap.add_argument("--keep", action="store_true", help="keep the mutated dir")
    args = ap.parse_args()

    out_dir = args.out or f"/tmp/fuzz_sf0.01_seed{args.seed}"
    print(f"generating mutated corpus (seed={args.seed}, base={args.base}) -> {out_dir}")
    generate(args.seed, out_dir, args.base)
    check = os.path.join(os.path.dirname(os.path.abspath(__file__)), "check.py")
    rc = subprocess.call([sys.executable, check, "--sf", out_dir, *args.names])
    if not args.keep and args.out is None:
        shutil.rmtree(out_dir, ignore_errors=True)
    return rc


if __name__ == "__main__":
    sys.exit(main())
