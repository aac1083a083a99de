"""Deterministic TPC-H-style corpus for the registry workloads.

The registry queries read ten parquet tables (``sources.parquet``'s
``TABLE_NAMES``). The benchmark may only read inside its own checkout,
so it generates the tables here, with the schemas and value domains
that the queries and their DuckDB twins expect: uniform keys, the
TPC-H string enumerations, two-decimal money columns, an ``events``
stream with exponential inter-arrival gaps, a 30-word ``documents``
vocabulary with 5% near-duplicate documents, and unit-norm 64-d
``embeddings``.

The corpus depends only on ``(scale, CORPUS_SEED)``: the workload seed
shuffles operation order, not data, so every seed measures the same
work and the same bytes are written on every call.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CORPUS_SEED = 42

# rows per table at each scale; region and nation are fixed
SIZES = {
    "0.01": dict(customer=1500, supplier=100, part=2000, orders=15000,
                 lineitem=60000, events=10000, users=150, documents=500,
                 embeddings=500),
    "0.1": dict(customer=15000, supplier=1000, part=20000, orders=150000,
                lineitem=600000, events=100000, users=1500, documents=5000,
                embeddings=2000),
}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "fr", "es", "zh", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

_DAY_US = 86_400_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, first_day: int, n_days: int, n: int) -> pa.Array:
    us = _EPOCH_1995 + (first_day + rng.integers(0, n_days, n)) * _DAY_US
    return pa.array(us, pa.timestamp("us"))


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def _tables(scale: str) -> dict[str, pa.Table]:
    sz = SIZES[scale]
    rng = np.random.default_rng(CORPUS_SEED)
    i32 = lambda a: pa.array(a, pa.int32())  # noqa: E731
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({"r_regionkey": i32(range(5)), "r_name": REGIONS})
    t["nation"] = pa.table({
        "n_nationkey": i32(range(25)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": i32([i % 5 for i in range(25)]),
    })
    n = sz["customer"]
    t["customer"] = pa.table({
        "c_custkey": np.arange(n, dtype=np.int64),
        "c_name": _names("Customer", n),
        "c_nationkey": i32(rng.integers(0, 25, n)),
        "c_acctbal": _money(rng, -1000, 10000, n),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n)].tolist(),
    })
    n = sz["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n, dtype=np.int64),
        "s_name": _names("Supplier", n),
        "s_nationkey": i32(rng.integers(0, 25, n)),
        "s_acctbal": _money(rng, -1000, 10000, n),
    })
    n = sz["part"]
    keys = np.arange(n, dtype=np.int64)
    t["part"] = pa.table({
        "p_partkey": keys,
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n), rng.integers(0, 8, n))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n)],
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n)].tolist(),
        "p_size": i32(rng.integers(1, 51, n)),
        "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 1),
    })
    n = sz["orders"]
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n, dtype=np.int64),
        "o_custkey": rng.integers(0, sz["customer"], n),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n)].tolist(),
        "o_totalprice": _money(rng, 1000, 500000, n),
        "o_orderdate": _days(rng, 0, 2405, n),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n)].tolist(),
    })
    n = sz["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, sz["orders"], n),
        "l_partkey": rng.integers(0, sz["part"], n),
        "l_suppkey": rng.integers(0, sz["supplier"], n),
        "l_linenumber": i32(rng.integers(1, 8, n)),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105000, n),
        "l_discount": np.round(rng.integers(0, 11, n) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n) / 100.0, 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)].tolist(),
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n)].tolist(),
        "l_shipdate": _days(rng, 1, 2499, n),
    })
    n = sz["events"]
    gaps = rng.exponential(30 * _DAY_US / n, n).astype(np.int64) + 1
    t["events"] = pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": pa.array(_EPOCH_2024 + np.cumsum(gaps), pa.timestamp("us")),
        "user_id": rng.integers(0, sz["users"], n),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n)].tolist(),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })
    n = sz["documents"]
    texts: list[str] = []
    for i in range(n):
        if i > 20 and rng.random() < 0.05:
            # near-duplicate: an earlier document with one marker token
            src = texts[int(rng.integers(0, i))]
            texts.append(src if src.endswith(" dup") else src + " dup")
        else:
            words = np.array(VOCAB)[rng.integers(0, len(VOCAB), rng.integers(10, 101))]
            texts.append(" ".join(words))
    t["documents"] = pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n, p=LANG_P)].tolist(),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(s) for s in texts], dtype=np.int64),
    })
    n = sz["embeddings"]
    m = rng.normal(0.0, 1.0, (n, 64))
    m = (m / np.linalg.norm(m, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(m), pa.list_(pa.float32())),
        "label": i32(rng.integers(0, 10, n)),
    })
    return t


def ensure_corpus(root: str, scale: str) -> str:
    """Write the corpus for ``scale`` under ``root`` once; return its dir.

    A ``.complete`` marker is written last, so an interrupted generation
    is redone rather than read half-written."""
    out = os.path.join(root, f"sf{scale}")
    marker = os.path.join(out, ".complete")
    if os.path.exists(marker):
        return out
    os.makedirs(out, exist_ok=True)
    for name, table in _tables(scale).items():
        pq.write_table(table, os.path.join(out, f"{name}.parquet"))
    with open(marker, "w") as f:
        f.write("ok\n")
    return out
