"""Property-based tests (SURVEY.md §5: property-style spot checks).

Pure-Python properties (ASA config expansion) run with full hypothesis
example counts; Spark-backed properties pin ``max_examples`` low and
``deadline=None`` — each example is a real local-mode job."""

from __future__ import annotations

from datetime import datetime, timedelta

import pytest
from hypothesis import HealthCheck, example, given, settings, strategies as st
from pyspark.sql import Window, functions as F

from ruleset_analysis_spark.sources.asa_config import parse_asa_config

# ---------------------------------------------------------------- ASA parser

_ip = st.tuples(*[st.integers(0, 255)] * 4).map(lambda t: ".".join(map(str, t)))
_group_name = st.sampled_from(["G1", "G2", "G3"])
_acl_name = st.sampled_from(["ACL_A", "ACL_B"])


@st.composite
def _configs(draw):
    """Random-but-valid ASA configs: network groups of hosts + ACL
    statements referencing them (or any/host endpoints)."""
    groups = {}
    for g in draw(st.lists(_group_name, unique=True, max_size=3)):
        groups[g] = draw(st.lists(_ip, min_size=1, max_size=4, unique=True))
    lines = []
    for g, hosts in groups.items():
        lines.append(f"object-group network {g}")
        lines += [f" network-object host {h}" for h in hosts]
    n_rules = draw(st.integers(1, 5))
    rules = []
    for _ in range(n_rules):
        acl = draw(_acl_name)
        src = draw(st.sampled_from(["any", "group", "host"]))
        dst = draw(st.sampled_from(["any", "group", "host"]))
        if ("group" in (src, dst)) and not groups:
            src = dst = "any"
        def pick(kind):
            if kind == "any":
                return "any", None
            if kind == "group":
                g = draw(st.sampled_from(sorted(groups)))
                return f"object-group {g}", g
            return f"host {draw(_ip)}", None

        src_txt, src_grp = pick(src)
        dst_txt, dst_grp = pick(dst)
        port = draw(st.sampled_from(["", "eq 443", "range 1000 2000"]))
        action = draw(st.sampled_from(["permit", "deny"]))
        stmt = f"access-list {acl} extended {action} tcp {src_txt} {dst_txt} {port}".strip()
        lines.append(stmt)
        rules.append((acl, src_grp, dst_grp))
    return "\n".join(lines), rules, groups


@given(_configs())
@settings(max_examples=200)
def test_asa_expansion_invariants(cfg):
    text, rules, groups = cfg
    rows = parse_asa_config(text)
    # every expanded row is well-formed
    for r in rows:
        assert 0 <= r["port_lo"] <= r["port_hi"] <= 65535
        assert r["src_net"].split("/")[1].isdigit()
        assert r["action"] in ("permit", "deny")
    # rule_ids are 1..n_statements per acl, dense
    by_acl: dict[str, set[int]] = {}
    for r in rows:
        by_acl.setdefault(r["acl"], set()).add(r["rule_id"])
    from collections import Counter

    stmt_counts = Counter(acl for acl, *_ in rules)
    for acl, ids in by_acl.items():
        assert ids == set(range(1, stmt_counts[acl] + 1))
    # expansion count per statement = |src expansion| × |dst expansion|
    # (1 for any/host endpoints, group size for object-group endpoints)
    sizes = {g: len(hs) for g, hs in groups.items()}
    seen = Counter((r["acl"], r["rule_id"]) for r in rows)
    per_acl_rule: dict[str, list] = {}
    for acl, src_grp, dst_grp in rules:
        per_acl_rule.setdefault(acl, []).append((src_grp, dst_grp))
    for acl, specs in per_acl_rule.items():
        for rid, (src_grp, dst_grp) in enumerate(specs, start=1):
            want = (sizes[src_grp] if src_grp else 1) * (
                sizes[dst_grp] if dst_grp else 1
            )
            assert seen[(acl, rid)] == want


# ------------------------------------------------------------ Spark-backed

_SPARK_SETTINGS = settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)


@given(
    texts=st.lists(
        st.text(alphabet="ab c", min_size=0, max_size=30), min_size=1, max_size=12
    )
)
@_SPARK_SETTINGS
def test_dedup_exact_partitions_input(spark, texts):
    """Exact dedup groups partition the input: Σ n_copies == n_rows and
    one group per distinct text."""
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    out = (
        df.groupBy(F.sha2("text", 256).alias("h"))
        .agg(F.min("doc_id").alias("doc_id"), F.count(F.lit(1)).alias("n_copies"))
        .collect()
    )
    assert sum(r["n_copies"] for r in out) == len(texts)
    assert len(out) == len(set(texts))


@given(
    gaps_min=st.lists(st.integers(0, 120), min_size=1, max_size=20),
)
@_SPARK_SETTINGS
def test_session_window_equals_lag_gap_idiom(spark, gaps_min):
    """Native session_window must agree with the lag/gap/cumsum idiom
    (the DuckDB-oracle formulation) on arbitrary event spacings."""
    t0 = datetime(2024, 1, 1)
    ts, cur = [], t0
    for g in gaps_min:
        cur = cur + timedelta(minutes=g)
        ts.append(cur)
    df = spark.createDataFrame([(1, t) for t in ts], "user_id long, ts timestamp")
    native = (
        df.groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("session_window.start").alias("s"), "n")
        .collect()
    )
    w = Window.partitionBy("user_id").orderBy("ts")
    idiom = (
        df.withColumn("prev", F.lag("ts").over(w))
        .withColumn(
            "new_sess",
            (
                F.col("prev").isNull()
                # strict >: native session windows merge when they touch
                # (next == prev + gap extends the session)
                | (F.col("ts").cast("long") - F.col("prev").cast("long") > 1800)
            ).cast("int"),
        )
        .withColumn("sess_id", F.sum("new_sess").over(w))
        .groupBy("user_id", "sess_id")
        .agg(F.min("ts").alias("s"), F.count(F.lit(1)).alias("n"))
        .collect()
    )
    assert sorted((r["s"], r["n"]) for r in native) == sorted(
        (r["s"], r["n"]) for r in idiom
    )


@given(
    vals=st.lists(
        st.floats(min_value=-1e6, max_value=1e6, allow_nan=False), min_size=1, max_size=30
    )
)
@_SPARK_SETTINGS
def test_semi_anti_partition_left_table(spark, vals):
    """left_semi + left_anti partition the left table for any key overlap."""
    left = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "k long, v double"
    )
    right = spark.createDataFrame([(i,) for i in range(0, len(vals), 2)], "k long")
    semi = left.join(right, "k", "left_semi").count()
    anti = left.join(right, "k", "left_anti").count()
    assert semi + anti == len(vals)


def test_rolling_fingerprint_invariants(spark, tmp_path):
    """Identical texts → identical fingerprints; token reorder changes
    the polynomial content hash (order-sensitive) while the winnow
    signature — built from an order-insensitive min-set of local
    window hashes over a shared vocabulary — may or may not move."""
    texts = [
        (0, "the quick brown fox jumps over the lazy dog today"),
        (1, "the quick brown fox jumps over the lazy dog today"),  # dup of 0
        (2, "today dog lazy the over jumps fox brown quick the"),  # reorder
        (3, "completely different words entirely here now ok then yes"),
    ]
    df = spark.createDataFrame(texts, "doc_id long, text string")
    out = str(tmp_path / "documents.parquet")
    # coalesce(1): a 4-row frame over 32 partitions writes 28 empty
    # part files — the single moved file must be the populated one
    df.withColumn("lang", F.lit("en")).withColumn("source", F.lit("t")).withColumn(
        "n_chars", F.length("text")
    ).coalesce(1).write.parquet(out)
    import shutil

    # flatten to single file layout like the driver tables
    part = next(p for p in __import__("os").listdir(out) if p.startswith("part-"))
    tmp2 = tmp_path / "flat"
    tmp2.mkdir()
    shutil.move(f"{out}/{part}", str(tmp2 / "documents.parquet"))

    from ruleset_analysis_spark.operators.text_analysis import text_rolling_fingerprint

    fp = {r["doc_id"]: (r["content_hash"], r["winnow_sig"])
          for r in text_rolling_fingerprint(spark, str(tmp2)).collect()}
    assert fp[0] == fp[1]                      # exact dup: both sketches equal
    assert fp[0][0] != fp[2][0]                # reorder: polynomial differs
    assert fp[0][0] != fp[3][0] and fp[0][1] != fp[3][1]  # unrelated: both differ


def test_exact_dups_are_near_dup_pairs(spark, tmp_path):
    """SURVEY §5 invariant: exact-duplicate docs must surface as a
    MinHash-LSH candidate pair with jaccard 1.0 (identical shingle
    sets collide in every band)."""
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    texts = [
        (0, base), (1, base),                        # exact dups
        (2, base.replace("kappa", "lambda")),        # near dup
        (3, "one two three four five six seven eight nine ten"),
    ]
    df = spark.createDataFrame(texts, "doc_id long, text string")
    flat = tmp_path / "flat"
    flat.mkdir()
    df.withColumn("lang", F.lit("en")).withColumn("source", F.lit("t")).withColumn(
        "n_chars", F.length("text")
    ).coalesce(1).write.parquet(str(tmp_path / "raw"))
    import os, shutil

    part = next(p for p in os.listdir(tmp_path / "raw") if p.startswith("part-"))
    shutil.move(str(tmp_path / "raw" / part), str(flat / "documents.parquet"))

    from ruleset_analysis_spark.operators.dedup import dedup_near_minhash

    pairs = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dedup_near_minhash(spark, str(flat)).collect()
    }
    assert pairs.get((0, 1)) == 1.0
    # doc 3 shares no shingles with anything — never a candidate
    assert not any(3 in p for p in pairs)


def test_cluster_components_collapse_transitive_chain(spark, tmp_path):
    """A diameter-20 chain (doc_i near-dups doc_{i+1} only) must
    collapse to ONE cluster — transitivity is the whole point of the
    components step; pairwise queries alone cannot see A~C. The length
    deliberately exceeds the old fixed-3-block propagation radius
    (diameter ≤ 7): the sf0.1 differential sweep caught a real
    >7-diameter component that the fixed form under-merged, so the
    loop now runs to the label-sum fixpoint and this test would catch
    any regression to a bounded radius."""
    _CHAIN = 21
    words = [f"w{i}_{j}" for i in range(8) for j in range(12)]
    bridges = [[f"b{i}_{j}" for j in range(4)] for i in range(_CHAIN)]
    docs = []
    for i in range(_CHAIN):  # chain 0-1-2-...-20
        body = [f"u{i}_{j}" for j in range(8)]
        text = " ".join((bridges[i - 1] if i else []) + body + bridges[i])
        docs.append((i, text))
    docs.append((_CHAIN, " ".join(words[:20])))  # isolated singleton

    df = spark.createDataFrame(docs, "doc_id long, text string")
    import os, shutil

    flat = tmp_path / "flat_cc"
    flat.mkdir()
    df.withColumn("lang", F.lit("en")).withColumn("source", F.lit("t")).withColumn(
        "n_chars", F.length("text")
    ).coalesce(1).write.parquet(str(tmp_path / "raw_cc"))
    part = next(p for p in os.listdir(tmp_path / "raw_cc") if p.startswith("part-"))
    shutil.move(str(tmp_path / "raw_cc" / part), str(flat / "documents.parquet"))

    from ruleset_analysis_spark.operators.dedup import dedup_cluster_components

    got = {r["doc_id"]: r["cluster_id"]
           for r in dedup_cluster_components(spark, str(flat)).collect()}
    assert {got[i] for i in range(_CHAIN)} == {0}, f"chain not collapsed: {got}"
    assert got[_CHAIN] == _CHAIN  # singleton keeps its own id


def _write_embeddings_fixture(spark, tmp_path, n_clusters=6, per_cluster=5, n_noise=40):
    """Synthetic embeddings with known near-dup structure: each cluster
    is one base direction plus small perturbations (pairwise cos ≈
    0.98+), noise vectors are iid gaussian (pairwise cos ≈ 0 in 64-d)."""
    import numpy as np

    rng = np.random.RandomState(3)
    rows, vid = [], 0
    for c in range(n_clusters):
        base = rng.randn(64)
        for _ in range(per_cluster):
            v = base + 0.05 * rng.randn(64)
            rows.append((vid, [float(x) for x in v], c))
            vid += 1
    for _ in range(n_noise):
        rows.append((vid, [float(x) for x in rng.randn(64)], 99))
        vid += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    import os, shutil

    raw = tmp_path / "raw_emb"
    flat = tmp_path / "flat_emb"
    flat.mkdir()
    df.coalesce(1).write.parquet(str(raw))
    part = next(p for p in os.listdir(raw) if p.startswith("part-"))
    shutil.move(str(raw / part), str(flat / "embeddings.parquet"))
    return str(flat), rows


def test_bucketed_pairs_subset_of_exact_with_high_recall(spark, tmp_path):
    """VERDICT weak-list fix: sim_pairwise_bucketed (LSH blocking) must
    (a) emit ONLY true pairs — every reported pair verifies exactly at
    cos ≥ 0.25 (containment: bucketed ⊆ exact all-pairs), and (b) find
    nearly all *near-duplicate* pairs (cos ≥ 0.9), where the
    OR-of-4-tables collision probability is ≈ 0.99. Recall on barely-
    similar pairs (cos just above threshold) is low by design — LSH
    blocking trades them for the n² scan; the near-dup band is the
    contract."""
    import numpy as np

    sf_dir, rows = _write_embeddings_fixture(spark, tmp_path)
    vecs = {vid: np.array(v) / np.linalg.norm(v) for vid, v, _ in rows}
    exact = {}
    ids = sorted(vecs)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            c = float(vecs[a] @ vecs[b])
            if c >= 0.25:
                exact[(a, b)] = c

    from ruleset_analysis_spark.operators.similarity import sim_pairwise_bucketed

    got = {
        (r["vec_a"], r["vec_b"]): r["cos"]
        for r in sim_pairwise_bucketed(spark, sf_dir).collect()
    }
    # containment: every bucketed pair is a true ≥0.25 pair, cos agrees
    for pair, cos in got.items():
        assert pair in exact, f"false pair {pair}"
        assert abs(cos - exact[pair]) < 1e-5
    # recall on the near-dup band
    near = {p for p, c in exact.items() if c >= 0.9}
    assert near, "fixture must contain near-dup pairs"
    found = len(near & set(got))
    assert found / len(near) >= 0.9, f"near-dup recall {found}/{len(near)}"


def test_quantize_int8_reconstruction_bound(spark):
    """Quantization contract: q = floor(x·127/maxabs) implies
    |x − q·scale| ≤ scale (one quantization step) for every element,
    and no quantized magnitude exceeds 127. Verified densely in numpy
    against the same parquet the operator reads."""
    import numpy as np
    import pyarrow.parquet as pq

    sf_dir = "/root/testdata/sf0.001"
    t = pq.read_table(f"{sf_dir}/embeddings.parquet", columns=["vec_id", "embedding"])
    vecs = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
            for r in t.to_pylist()}

    from ruleset_analysis_spark.operators.multimodal import embed_quantize_int8

    for r in embed_quantize_int8(spark, sf_dir).collect():
        x = vecs[r["vec_id"]]
        maxabs = np.abs(x).max()
        if maxabs == 0:
            assert r["q_checksum"] is None
            continue
        q = np.floor(x * 127 / maxabs)
        assert np.abs(q).max() <= 127
        assert int(q.sum()) == r["q_checksum"]
        scale = maxabs / 127
        assert np.all(np.abs(x - q * scale) <= scale + 1e-12)


def test_hash_sampling_is_deterministic_and_content_keyed(spark):
    """Two runs pick the identical sample (no RNG), and membership is a
    pure function of text — the property that makes the split stable
    under corpus growth and engine swaps."""
    from ruleset_analysis_spark.operators.sampling import sample_hash_deterministic

    sf_dir = "/root/testdata/sf0.001"
    a = {r["doc_id"] for r in sample_hash_deterministic(spark, sf_dir).collect()}
    b = {r["doc_id"] for r in sample_hash_deterministic(spark, sf_dir).collect()}
    assert a == b and 0 < len(a)
    # ~25% of 16 hex buckets: loose bounds, exact per corpus
    total = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    assert 0.1 * total < len(a) < 0.45 * total


def test_quantiles_approx_within_rank_tolerance(spark):
    """agg_quantiles_approx must bound rank error: each approx quantile
    value, located in the group's sorted exact values, sits within
    ±0.01 of its nominal rank (percentile_approx accuracy=10000 ⇒
    theoretical bound 1e-4; 0.01 absorbs duplicate-value plateaus)."""
    import numpy as np
    import pyarrow.parquet as pq

    sf_dir = "/root/testdata/sf0.001"
    t = pq.read_table(f"{sf_dir}/events.parquet", columns=["event_type", "value"])
    pdf = t.to_pandas()

    from ruleset_analysis_spark.operators.aggregations import agg_quantiles_approx

    out = agg_quantiles_approx(spark, sf_dir).collect()
    assert len(out) == pdf["event_type"].nunique()
    for r in out:
        vals = np.sort(pdf.loc[pdf["event_type"] == r["event_type"], "value"].dropna().values)
        n = len(vals)
        assert r["n"] == len(pdf[pdf["event_type"] == r["event_type"]])
        for q, approx in ((0.5, r["p50"]), (0.9, r["p90"]), (0.99, r["p99"])):
            lo = np.searchsorted(vals, approx - 1e-9, side="left") / n
            hi = np.searchsorted(vals, approx + 1e-9, side="right") / n
            assert lo - 0.01 <= q <= hi + 0.01, (
                f"{r['event_type']} p{int(q*100)}: approx {approx} covers "
                f"rank [{lo:.4f},{hi:.4f}], nominal {q}"
            )


def test_pack_greedy_bins_invariants(spark):
    """Packing invariants, independent of the oracle: (1) every doc
    assigned exactly once; (2) no bin exceeds the budget unless it
    holds a single over-budget doc; (3) greedy tightness — a bin's
    fill plus the first doc of the NEXT bin must exceed the budget
    (otherwise greedy would have kept filling)."""
    from ruleset_analysis_spark.operators.curation import (
        _PACK_BUDGET,
        pack_greedy_bins,
    )

    sf_dir = "/root/testdata/sf0.001"
    rows = pack_greedy_bins(spark, sf_dir).collect()
    total = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    assert len(rows) == total
    assert len({r["doc_id"] for r in rows}) == total

    by_shard: dict = {}
    for r in sorted(rows, key=lambda r: (r["shard"], r["doc_id"])):
        by_shard.setdefault(r["shard"], []).append(r)
    for shard, rs in by_shard.items():
        fills: dict = {}
        first_doc_tokens: dict = {}
        for r in rs:
            fills[r["bin_id"]] = fills.get(r["bin_id"], 0) + r["n_tokens"]
            first_doc_tokens.setdefault(r["bin_id"], r["n_tokens"])
        for b, fill in fills.items():
            n_docs = sum(1 for r in rs if r["bin_id"] == b)
            assert fill <= _PACK_BUDGET or n_docs == 1, (shard, b, fill)
            if b + 1 in first_doc_tokens and fill <= _PACK_BUDGET:
                assert fill + first_doc_tokens[b + 1] > _PACK_BUDGET, (
                    shard, b, fill, first_doc_tokens[b + 1],
                )
        # bins are contiguous 0..max
        assert sorted(fills) == list(range(len(fills)))


def _cooccur_edge_list(spark, sf_dir):
    from ruleset_analysis_spark.operators.graph import cooccur_edges

    edges = [(r["src"], r["dst"]) for r in cooccur_edges(spark, sf_dir).collect()]
    nodes = sorted({u for u, _ in edges})
    idx = {u: i for i, u in enumerate(nodes)}
    deg = [0] * len(nodes)
    for u, _ in edges:
        deg[idx[u]] += 1
    return edges, nodes, idx, deg


def test_pagerank_float_matches_numpy_power_iteration(spark):
    """pagerank_float_fixpoint (the UNREGISTERED library path) vs an
    independent NumPy power iteration on the identical edge list: same
    damping, same FUSED iteration schedule (_PR_FUSE steps per round)
    and same Σ|Δrank| ≤ _TOL pair-delta stopping rule (so both sides
    run the identical number of iterations), per-node agreement to
    1e-6."""
    import numpy as np

    from ruleset_analysis_spark.operators.graph import (
        _DAMPING,
        _MAX_ITERATIONS,
        _PR_FUSE,
        _TOL,
        _TOP_K,
        pagerank_float_fixpoint,
    )

    sf_dir = "/root/testdata/sf0.001"
    edges, nodes, idx, degl = _cooccur_edge_list(spark, sf_dir)
    n = len(nodes)
    deg = np.array(degl, dtype=float)

    def power_step(r):
        nxt = np.zeros(n)
        for u, v in edges:
            nxt[idx[v]] += r[idx[u]] / deg[idx[u]]
        return (1.0 - _DAMPING) / n + _DAMPING * nxt

    r = np.full(n, 1.0 / n)
    for _ in range(_MAX_ITERATIONS // _PR_FUSE):
        cur = r
        for _ in range(_PR_FUSE):
            cur = power_step(cur)
        delta = np.abs(cur - r).sum()
        r = cur
        if delta <= _TOL:
            break
    order = sorted(range(n), key=lambda i: (-r[i], nodes[i]))[:_TOP_K]
    want = [(nodes[i], r[i]) for i in order]

    got = [
        (row["node"], row["rank"])
        for row in pagerank_float_fixpoint(spark, sf_dir).collect()
    ]
    assert [g[0] for g in got] == [w[0] for w in want]
    for (gn, gr), (wn, wr) in zip(got, want):
        assert abs(gr - wr) < 1e-6, (gn, gr, wr)


def test_pagerank_quantized_matches_python_exactly(spark):
    """graph_pagerank_cooccur (the GRADED quantized fixed-round twin)
    vs a pure-Python integer re-implementation: identical _PR_QSCALE
    micro-unit floor arithmetic, identical _PR_ROUNDS schedule —
    agreement must be EXACT (these are BIGINT ops, any difference is
    a real divergence), independent of the DuckDB oracle that shares
    the Spark plan's round structure."""
    from ruleset_analysis_spark.operators.graph import (
        _PR_QSCALE,
        _PR_ROUNDS,
        _TOP_K,
        graph_pagerank_cooccur,
    )

    sf_dir = "/root/testdata/sf0.001"
    edges, nodes, idx, deg = _cooccur_edge_list(spark, sf_dir)
    n = len(nodes)
    base_q = (15 * _PR_QSCALE) // (100 * n)
    r = [_PR_QSCALE // n] * n
    for _ in range(_PR_ROUNDS):
        mass = [0] * n
        for u, v in edges:
            mass[idx[v]] += r[idx[u]] // deg[idx[u]]
        r = [base_q + (85 * m) // 100 for m in mass]
    order = sorted(range(n), key=lambda i: (-r[i], nodes[i]))[:_TOP_K]
    want = [(nodes[i], r[i]) for i in order]

    got = [
        (row["node"], row["rank_micro"])
        for row in graph_pagerank_cooccur(spark, sf_dir).collect()
    ]
    assert got == want


def test_vocab_growth_ntile_boundaries_edge_corpora(spark, tmp_path):
    """text_vocab_growth's r6 scale plan replaces the oracle's literal
    ntile(10) with partitioned-window rank arithmetic + a broadcast
    boundary array; this pins the equivalence exactly where boundary
    arithmetic can drift from ntile semantics: n < 10 (every doc its
    own bucket), n = 10, n % 10 != 0 (uneven first buckets), and
    doc_ids with gaps straddling the 4096 coarse-group edges."""
    import random

    import pyarrow as pa
    import pyarrow.parquet as pq

    from ruleset_analysis_spark.oracle import compare, duck_connect
    from ruleset_analysis_spark.plans.registry import all_specs

    spec = all_specs()["text_vocab_growth"]
    rng = random.Random(3)
    cases = {
        "n3": [5, 900, 12345],
        "n7_gaps": [0, 1, 99, 4095, 4096, 4097, 900000],
        "n10": list(range(10)),
        "n23": sorted(rng.sample(range(10**5), 23)),
    }
    words = ["alpha", "beta", "gamma", "delta", "eps", "zeta"]
    for case, ids in cases.items():
        d = str(tmp_path / case)
        (tmp_path / case).mkdir()
        texts = [
            " ".join(
                rng.choice(words + [f"k{i}"]) for _ in range(rng.randint(1, 12))
            )
            for i in ids
        ]
        pq.write_table(
            pa.table(
                {
                    "doc_id": pa.array(ids, pa.int64()),
                    "text": texts,
                    "lang": ["en"] * len(ids),
                    "source": ["s"] * len(ids),
                    "n_chars": [len(t) for t in texts],
                }
            ),
            f"{d}/documents.parquet",
        )
        for t in (
            "region", "nation", "customer", "supplier", "part",
            "orders", "lineitem", "events", "embeddings",
        ):
            pq.write_table(
                pa.table({"x": pa.array([], pa.int64())}), f"{d}/{t}.parquet"
            )
        con = duck_connect(d)
        res = compare(case, spec.builder(spark, d), con, spec.oracle)
        con.close()
        assert res.ok, f"{case}: {res}"


def test_pca_projection_matches_numpy(spark):
    """pca_project_eigh (the float LIBRARY path) vs direct NumPy PCA on
    the same vectors: same centering, same eigh, same sign convention —
    projections agree to 1e-4 (partial-sum order introduces only ULP
    noise; components are well-separated on this corpus)."""
    import numpy as np
    import pyarrow.parquet as pq

    from ruleset_analysis_spark.operators.multimodal import (
        _PCA_COMPONENTS,
        pca_project_eigh,
    )

    sf_dir = "/root/testdata/sf0.001"
    t = pq.read_table(f"{sf_dir}/embeddings.parquet").to_pandas()
    t = t[t["embedding"].notna()]
    x = np.stack(t["embedding"].to_numpy()).astype(np.float64)
    mu = x.mean(axis=0)
    cov = (x.T @ x) / len(x) - np.outer(mu, mu)
    vals, vecs = np.linalg.eigh(cov)
    comps = vecs[:, np.argsort(vals)[::-1][:_PCA_COMPONENTS]].T
    for i in range(comps.shape[0]):
        j = int(np.abs(comps[i]).argmax())
        if comps[i, j] < 0:
            comps[i] = -comps[i]
    want = {
        int(v): tuple(((x[r] - mu) @ comps.T).round(4))
        for r, v in enumerate(t["vec_id"].to_numpy())
    }

    got = {
        r["vec_id"]: tuple(
            round(r[f"pc{k + 1}"], 4) for k in range(_PCA_COMPONENTS)
        )
        for r in pca_project_eigh(spark, sf_dir).collect()
    }
    assert set(got) == set(want)
    for v in got:
        for g, w in zip(got[v], want[v]):
            assert abs(g - w) < 1e-3, (v, got[v], want[v])


def test_pca_twin_exact_integer_differential(spark):
    """embed_pca_project (the GRADED quantized twin) vs a pure-Python
    arbitrary-precision replay of the declared algebra straight off the
    parquet bytes: quantization, integer sufficient statistics, the
    fixed-round power basis, and the projection must agree EXACTLY —
    the same all-integer contract the DuckDB oracle enforces, checked
    here without DuckDB in the loop (the pagerank differential
    pattern). Also pins the basis itself: each twin component must
    carry a non-trivial share of its true eigh counterpart's variance
    direction-seeking (cos² vs the top-8 eigh subspace > 0.5), so a
    refactor can't silently degenerate the twin to noise."""
    import math

    import numpy as np
    import pyarrow.parquet as pq

    from ruleset_analysis_spark.operators.multimodal import (
        _PCA_QSCALE,
        _pca_power_basis,
        embed_pca_project,
    )

    sf_dir = "/root/testdata/sf0.001"
    t = pq.read_table(f"{sf_dir}/embeddings.parquet").to_pandas()
    t = t[t["embedding"].notna()]
    t = t[t["embedding"].map(len) == 64]
    vecs = [
        [int(math.floor(float(np.float64(x)) * _PCA_QSCALE)) for x in row]
        for row in t["embedding"]
    ]
    d, n = 64, len(vecs)
    s = [sum(v[i] for v in vecs) for i in range(d)]
    g = [[sum(v[i] * v[j] for v in vecs) for j in range(d)] for i in range(d)]
    sbar, w1, w2 = _pca_power_basis(n, s, g)
    want = {
        int(vid): (
            sum((q[i] - sbar[i]) * w1[i] for i in range(d)),
            sum((q[i] - sbar[i]) * w2[i] for i in range(d)),
        )
        for vid, q in zip(t["vec_id"].to_numpy(), vecs)
    }

    got = {
        r["vec_id"]: (r["pc1_q"], r["pc2_q"])
        for r in embed_pca_project(spark, sf_dir).collect()
    }
    assert got == want

    # variance-seeking sanity: twin basis lives mostly in the top eigh
    # subspace (near-isotropic corpus — full convergence impossible by
    # design; see the builder docstring)
    x = np.stack(t["embedding"].to_numpy()).astype(np.float64)
    cov = (x.T @ x) / n - np.outer(x.mean(0), x.mean(0))
    vals, evecs = np.linalg.eigh(cov)
    top = evecs[:, np.argsort(vals)[::-1][:8]]
    for w in (w1, w2):
        u = np.array(w, dtype=np.float64)
        u /= np.linalg.norm(u)
        assert float(np.sum((top.T @ u) ** 2)) > 0.5


def test_late_round_operator_invariants(spark):
    """Cheap cross-checks that don't depend on the oracle: structural
    invariants of the late-round-2 operators on sf0.001."""
    from ruleset_analysis_spark.plans.registry import all_specs

    sf = "/root/testdata/sf0.001"
    specs = all_specs()
    ev = spark.read.parquet(f"{sf}/events.parquet")

    # transition matrix: each user contributes (count-1) transitions
    trans = specs["event_transition_matrix"].builder(spark, sf).collect()
    n_events = ev.count()
    n_users = ev.select("user_id").distinct().count()
    assert sum(r["n"] for r in trans) == n_events - n_users

    # cumulative reach: final running total == distinct users overall
    reach = sorted(
        specs["window_cumulative_reach"].builder(spark, sf).collect(),
        key=lambda r: r["d"],
    )
    assert reach[-1]["cumulative_users"] == n_users
    assert sum(r["n_new"] for r in reach) == n_users

    # repetition ratio: bounded, integer-consistent
    for r in specs["text_repetition_ratio"].builder(spark, sf).collect():
        assert 0.0 <= r["dup_ratio"] < 1.0
        assert r["distinct_ngrams"] <= r["total_ngrams"]
        assert r["max_rep"] >= 1

    # pareto: sane fractions
    p = specs["agg_pareto_concentration"].builder(spark, sf).collect()[0]
    assert 0 < p["n_top_customers"] <= p["n_customers"]
    assert 0.0 < p["top_share"] <= 1.0

    # fuzzy join: canonical orientation and true edit-distance bound
    import difflib

    fuzzy = specs["join_fuzzy_blocked"].builder(spark, sf).collect()
    for r in fuzzy:
        assert r["name_a"] < r["name_b"] and 0 < r["dist"] <= 2

    # rate limit: never more than 3 per (user, day), ranks contiguous
    quota = specs["window_rate_limit_quota"].builder(spark, sf).collect()
    per_key: dict = {}
    for r in quota:
        per_key.setdefault((r["user_id"], r["d"]), []).append(r["rn"])
    for rns in per_key.values():
        assert sorted(rns) == list(range(1, len(rns) + 1)) and len(rns) <= 3


def test_round2_additions_invariants(spark):
    """Structural invariants of the round-2 additions (path mining,
    CDC upsert, sketch heavy hitters) on sf0.001 — oracle-independent
    cross-checks against sibling operators."""
    from ruleset_analysis_spark.plans.registry import all_specs

    sf = "/root/testdata/sf0.001"
    specs = all_specs()

    # 3-gram paths: every (step1, step2) prefix must exist as a
    # transition in the 1-step matrix, and its path count can't exceed
    # the transition's count (a 3-gram is a constrained 2-gram)
    trans = {
        (r["from_type"], r["to_type"]): r["n"]
        for r in specs["event_transition_matrix"].builder(spark, sf).collect()
    }
    paths = specs["event_path_3gram"].builder(spark, sf).collect()
    assert 0 < len(paths) <= 10
    for r in paths:
        assert (r["step1"], r["step2"]) in trans
        assert r["n"] <= trans[(r["step1"], r["step2"])]
        assert (r["step2"], r["step3"]) in trans
        assert r["n"] <= trans[(r["step2"], r["step3"])]

    # CDC upsert: exactly one row per surviving key; tombstoned users
    # absent; base-only keys keep their snapshot value verbatim
    ev = spark.read.parquet(f"{sf}/events.parquet")
    cust = spark.read.parquet(f"{sf}/customer.parquet")
    merged = specs["event_cdc_upsert"].builder(spark, sf).collect()
    keys = [r["user_id"] for r in merged]
    assert len(keys) == len(set(keys))
    by_key = {r["user_id"]: r for r in merged}
    base_vals = {r["c_custkey"]: r["c_acctbal"] for r in cust.collect()}
    cdc_users = {r["user_id"] for r in ev.select("user_id").distinct().collect()}
    for k, r in by_key.items():
        assert r["last_type"] != "error"  # tombstones deleted
        if r["src"] == "base":
            assert k not in cdc_users and r["last_type"] is None
            assert abs(r["current_value"] - round(base_vals[k], 6)) < 1e-9
        else:
            assert k in cdc_users
    # base-only keys all survive (no spurious deletes)
    assert set(base_vals) - cdc_users <= set(by_key)

    # heavy hitters: sketch top-3 == exact top-3 (capacity > distinct)
    hh = specs["agg_heavy_hitters_topk"].builder(spark, sf).collect()
    exact = (
        ev.select(
            F.when(F.col("user_id") % 7 == 0, F.col("user_id") % 3)
            .otherwise(F.col("user_id"))
            .alias("item")
        )
        .groupBy("item")
        .count()
        .orderBy(F.desc("count"), "item")
        .limit(3)
        .collect()
    )
    assert [(r["item"], r["cnt"]) for r in hh] == [
        (r["item"], r["count"]) for r in exact
    ]


def test_round3_additions_invariants(spark):
    """Structural invariants of the round-3 additions (TPC-H tail,
    late-data audit, interpolation, EWMA, diversity, reservoir) on
    sf0.001 — oracle-independent cross-checks."""
    from ruleset_analysis_spark.plans.registry import all_specs

    sf = "/root/testdata/sf0.001"
    specs = all_specs()
    ev = spark.read.parquet(f"{sf}/events.parquet")

    # late-data audit: kept + late == total per type, totals == |events|
    late = specs["stream_late_data_policy"].builder(spark, sf).collect()
    assert sum(r["n_events"] for r in late) == ev.count()
    for r in late:
        assert r["n_late"] + r["n_kept"] == r["n_events"]

    # interpolation: every estimate lies inside its bracket's value
    # range is NOT guaranteed (linear extrapolation never happens here:
    # two-sided brackets only), so assert the weaker invariant that
    # holds exactly: estimates are finite and the row set is a subset
    # of error events
    interp = specs["event_interpolate_linear"].builder(spark, sf).collect()
    n_errors = ev.filter(F.col("event_type") == "error").count()
    assert 0 < len(interp) <= n_errors
    assert all(r["interp_value"] is not None for r in interp)

    # EWMA: recompute the fold in plain Python from the raw table
    ewma = {
        r["user_id"]: (r["n_events"], r["ewma"])
        for r in specs["window_ewma"].builder(spark, sf).collect()
    }
    rows = ev.select("user_id", "ts", "event_id", "value").collect()
    series: dict = {}
    for r in sorted(rows, key=lambda r: (r["user_id"], r["ts"], r["event_id"])):
        series.setdefault(r["user_id"], []).append(r["value"])
    for uid, vals in series.items():
        acc = vals[0]
        for x in vals[1:]:
            acc = acc * 0.7 + x * 0.3
        n, got = ewma[uid]
        assert n == len(vals)
        assert abs(got - round(acc, 6)) < 1e-9, uid

    # Simpson diversity: bounded to [0, 1], single-token docs excluded
    div = specs["text_diversity_simpson"].builder(spark, sf).collect()
    for r in div:
        assert r["n_tokens"] >= 2
        assert 0.0 <= r["simpson_diversity"] <= 1.0

    # Zipf: negative slope on any frequency-ranked vocabulary
    z = specs["text_zipf_slope"].builder(spark, sf).collect()[0]
    assert z["n_terms"] <= 500 and z["zipf_slope"] < 0

    # reservoir: at most 20 per stratum, deterministic across runs
    res1 = sorted(map(tuple, specs["sample_topk_reservoir"].builder(spark, sf).collect()))
    res2 = sorted(map(tuple, specs["sample_topk_reservoir"].builder(spark, sf).collect()))
    assert res1 == res2
    per_lang: dict = {}
    for lang, _doc in res1:
        per_lang[lang] = per_lang.get(lang, 0) + 1
    assert all(n <= 20 for n in per_lang.values())

    # decimal money: digit-exact vs the BIGINT-cents discipline
    li = spark.read.parquet(f"{sf}/lineitem.parquet")
    cents_sum = {
        r["l_returnflag"]: r["c"]
        for r in li.groupBy("l_returnflag")
        .agg(F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")).alias("c"))
        .collect()
    }
    for r in specs["agg_decimal_money"].builder(spark, sf).collect():
        assert int(r["sum_price"] * 100) == cents_sum[r["l_returnflag"]]

    # TPC-H tail
    q13 = specs["tpch_q13_order_distribution"].builder(spark, sf).collect()
    n_cust = spark.read.parquet(f"{sf}/customer.parquet").count()
    assert sum(r["custdist"] for r in q13) == n_cust

    q14 = specs["tpch_q14_promo_revenue"].builder(spark, sf).collect()[0]
    assert 0.0 <= q14["promo_revenue_pct"] <= 100.0

    q15 = specs["tpch_q15_top_supplier"].builder(spark, sf).collect()
    assert len(q15) >= 1
    assert len({r["total_revenue_cents"] for r in q15}) == 1  # ties kept, all == max

    q18 = specs["tpch_q18_large_orders"].builder(spark, sf).collect()
    assert len(q18) <= 100
    assert all(r["total_qty"] > 250 for r in q18)

    q16 = specs["tpch_q16_supplier_variety"].builder(spark, sf).collect()
    assert all(r["supplier_cnt"] >= 1 for r in q16)
    assert all(r["p_size"] in (1, 4, 9, 14, 23, 36, 45, 49) for r in q16)

    q19 = specs["tpch_q19_bracket_revenue"].builder(spark, sf).collect()
    assert len(q19) == 1 and q19[0]["revenue_cents"] >= 0

    q7 = specs["tpch_q7_volume_shipping"].builder(spark, sf).collect()
    for r in q7:
        assert {r["supp_nation"], r["cust_nation"]} == {"NATION_3", "NATION_7"}
        assert r["l_year"] in (1995, 1996)


def test_concurrency_sweep_matches_python_replay(spark):
    """event_concurrency_sweep against a brute-force Python sweep-line
    over the same session intervals at sf0.001 — exact per-day peaks,
    including cross-midnight carryover."""
    from ruleset_analysis_spark.plans.registry import all_specs

    sf = "/root/testdata/sf0.001"
    got = {
        r["day_epoch"]: (r["peak_concurrency"], r["n_sessions_started"])
        for r in all_specs()["event_concurrency_sweep"].builder(spark, sf).collect()
    }

    ev = sorted(
        spark.read.parquet(f"{sf}/events.parquet")
        .select("user_id", "ts", "event_id")
        .collect(),
        key=lambda r: (r["user_id"], r["ts"], r["event_id"]),
    )
    sessions = []
    for r in ev:
        if sessions and sessions[-1][0] == r["user_id"] and (
            r["ts"] - sessions[-1][2]
        ) <= timedelta(minutes=30):
            sessions[-1][2] = r["ts"]
        else:
            sessions.append([r["user_id"], r["ts"], r["ts"]])
    pts = [(s[1], 1) for s in sessions] + [(s[2], -1) for s in sessions]
    # +1 before -1 at equal timestamps == (ts, -delta) ascending
    pts.sort(key=lambda p: (p[0], -p[1]))
    run, day_peak, day_started = 0, {}, {}
    for t, delta in pts:
        run += delta
        d = t.replace(hour=0, minute=0, second=0, microsecond=0)
        day_peak[d] = max(day_peak.get(d, run), run)
        if delta == 1:
            day_started[d] = day_started.get(d, 0) + 1
    import calendar

    expect = {
        int(calendar.timegm(d.timetuple())): (day_peak[d], day_started.get(d, 0))
        for d in day_peak
    }
    assert got == expect


def test_sketch_estimate_invariants(spark):
    """CMS and MinHash-estimate invariants on sf0.001, oracle-
    independent: the Count-Min estimate can never undercount (every
    depth's bucket contains the key's full count plus collisions, and
    min() keeps the tightest), and the MinHash agreement fraction is a
    valid [0,1] rational with 16ths granularity while the exact
    Jaccard of a band candidate stays within the estimate's ±3σ
    binomial envelope only on average — so assert the hard bounds,
    not the stochastic ones."""
    from ruleset_analysis_spark.plans.registry import all_specs

    sf = "/root/testdata/sf0.001"
    specs = all_specs()

    cms = specs["agg_countmin_sketch"].builder(spark, sf).collect()
    assert len(cms) == 10
    for r in cms:
        assert r["cms_est"] >= r["exact_n"] > 0

    est = specs["dedup_minhash_estimate"].builder(spark, sf).collect()
    assert len(est) > 0
    for r in est:
        assert 0.0 <= r["jaccard_est"] <= 1.0
        assert abs(r["jaccard_est"] * 16 - round(r["jaccard_est"] * 16)) < 1e-12
        assert 0.0 <= r["jaccard_exact"] <= 1.0
    # band candidates are exactly the pairs the graded near-dup query
    # generated its candidates from: every >=0.5 verified pair must
    # appear here too (the estimate table is a superset report)
    near = {
        (r["doc_a"], r["doc_b"])
        for r in specs["dedup_near_minhash"].builder(spark, sf).collect()
    }
    est_pairs = {(r["doc_a"], r["doc_b"]) for r in est}
    assert near <= est_pairs


def test_kmeans_matches_numpy_lloyd(spark):
    """embed_kmeans_clusters vs a NumPy Lloyd replay with the identical
    deterministic protocol: unit-normalize, QUANTIZE to integer
    micro-units (the r5 upgrade that made the query oracle-gradable),
    init from the 4 lowest valid vec_ids, 3 iterations, integer argmin
    ties to the lowest cluster, centroid update round-half-away-from-
    zero of the exact mean, empty clusters keep their centroid. Sizes
    AND integer inertia must match exactly — nothing is float."""
    import numpy as np
    import pyarrow.parquet as pq

    from ruleset_analysis_spark.operators.similarity import (
        _IVF_QSCALE,
        _KM_ITERS,
        _KM_K,
        embed_kmeans_clusters,
    )

    sf_dir = "/root/testdata/sf0.001"
    t = pq.read_table(f"{sf_dir}/embeddings.parquet").to_pandas()
    t = t[t["embedding"].notna()].sort_values("vec_id")
    t = t[t["embedding"].map(len) > 0]
    x = np.stack(t["embedding"].to_numpy()).astype(np.float64)
    nrm = np.linalg.norm(x, axis=1, keepdims=True)
    keep = nrm[:, 0] > 0
    x = x[keep] / nrm[keep]

    def away_from_zero(v):
        # Spark round / DuckDB round: half away from zero (np.round is
        # banker's and would diverge at exact .5)
        return (np.sign(v) * np.floor(np.abs(v) + 0.5)).astype(np.int64)

    q = away_from_zero(x * _IVF_QSCALE)
    # first _KM_K rows after the vec_id sort — the operator seeds from
    # the k lowest valid ids present, not from literal ids 0..k-1
    cents = q[:_KM_K].copy()
    for _ in range(_KM_ITERS):
        d2 = ((q[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
        assign = d2.argmin(axis=1)  # argmin takes the first (lowest) index
        for j in range(_KM_K):
            if (assign == j).any():
                cents[j] = away_from_zero(q[assign == j].mean(axis=0))
    # the operator reports the LAST assignment round (against the
    # iteration-2 centroids), so compare that, not a post-update pass
    want_sizes = np.bincount(assign, minlength=_KM_K)
    want_inertia = {
        j: int(d2[assign == j, j].sum()) for j in range(_KM_K)
        if want_sizes[j]
    }

    got = {r["cluster"]: r for r in embed_kmeans_clusters(spark, sf_dir).collect()}
    for j in range(_KM_K):
        if want_sizes[j] == 0:
            assert j not in got
            continue
        assert got[j]["n_members"] == want_sizes[j], (j, got[j], want_sizes[j])
        assert got[j]["inertia"] == want_inertia[j], (j, got[j], want_inertia[j])


@given(
    qty=st.integers(1, 50),
    sums=st.lists(st.integers(1, 50), min_size=1, max_size=40),
)
@settings(max_examples=300)
def test_cross_multiplied_threshold_equals_exact_rational(qty, sums):
    """The TPC-H adaptations never materialize a fraction: Q17's
    'quantity below 20% of the part average' ships as qty·n·5 < Σqty.
    Property: the integer inequality decides EXACTLY the rational
    comparison qty < (1/5)·(Σ/n) for every input — while the float
    form round-trips through two divisions whose rounding can (and on
    adversarial inputs does) disagree at the boundary. This is the
    algebra that makes every threshold in the composite family safe
    under any partial-aggregation order and any engine pairing."""
    n, total = len(sums), sum(sums)
    exact = qty * n * 5 < total
    from fractions import Fraction

    rational = Fraction(qty) < Fraction(total, 5 * n)
    assert exact == rational


def test_shadowed_rules_match_bruteforce(spark):
    """firewall_shadowed_rules vs an independent pure-Python O(n²)
    replay of the Al-Shaer single-rule shadowing definition over the
    same part-derived ruleset — a third implementation, so the Spark
    side and the SQL oracle can't both be wrong the same way."""
    import pyarrow.parquet as pq

    from ruleset_analysis_spark.operators.firewall import (
        firewall_shadowed_rules,
    )

    sf_dir = "/root/testdata/sf0.001"
    pk = sorted(
        k
        for k in pq.read_table(
            f"{sf_dir}/part.parquet", columns=["p_partkey"]
        )["p_partkey"].to_pylist()
        if k <= 400
    )

    def rule(k):
        prefix = 16 + k % 16
        return {
            "ord": k,
            "acl": f"acl_{k % 4}",
            "proto": ("any", "tcp", "udp")[k % 3],
            "prefix": prefix,
            "net": (10 << 24) + ((k % 8) << 16),
            "mask": (0xFFFFFFFF << (32 - prefix)) & 0xFFFFFFFF,
            "lo": (k % 16) * 64,
            "hi": (k % 16) * 64 + (k % 4) * 256 + 63,
        }

    rules = [rule(k) for k in pk]
    want = {}
    for b in rules:
        shadowers = [
            a["ord"]
            for a in rules
            if a["acl"] == b["acl"]
            and a["ord"] < b["ord"]
            and (a["proto"] == "any" or a["proto"] == b["proto"])
            and a["prefix"] <= b["prefix"]
            and (b["net"] & a["mask"]) == a["net"]
            and a["lo"] <= b["lo"]
            and a["hi"] >= b["hi"]
        ]
        if shadowers:
            want[(b["acl"], b["ord"])] = (min(shadowers), len(shadowers))

    got = {
        (r["acl"], r["rule_id"]): (r["shadowed_by"], r["n_shadowers"])
        for r in firewall_shadowed_rules(spark, sf_dir).collect()
    }
    assert got == want


def test_linear_regression_matches_numpy(spark):
    """agg_linear_regression vs NumPy lstsq on the identical
    (day-offset, cents) pairs: slope/intercept/R² agree to 1e-9
    relative — the float-free sufficient-statistics derivation is
    checked against a conventional solver, not just the SQL twin."""
    import numpy as np
    import pyarrow.parquet as pq

    from ruleset_analysis_spark.operators.aggregations import (
        agg_linear_regression,
    )

    sf_dir = "/root/testdata/sf0.001"
    t = pq.read_table(
        f"{sf_dir}/events.parquet", columns=["event_type", "ts", "value"]
    ).to_pandas()
    t = t[t["ts"].notna() & t["value"].notna()]
    anchor = np.datetime64("2024-01-01")
    t["x"] = (
        t["ts"].values.astype("datetime64[D]") - anchor
    ).astype("int64")
    t["y"] = np.round(t["value"].to_numpy() * 100).astype("int64")

    got = {r["event_type"]: r for r in agg_linear_regression(spark, sf_dir).collect()}
    assert set(got) == set(t["event_type"].unique())
    for et, g in t.groupby("event_type"):
        x, y = g["x"].to_numpy(float), g["y"].to_numpy(float)
        A = np.vstack([x, np.ones_like(x)]).T
        (slope, intercept), res, *_ = np.linalg.lstsq(A, y, rcond=None)
        ss_tot = ((y - y.mean()) ** 2).sum()
        r2 = 1.0 - (res[0] / ss_tot if len(res) else 0.0)
        r = got[et]
        assert r["n_pairs"] == len(g)
        assert abs(r["slope_cents_per_day"] - slope) <= 1e-9 * max(1, abs(slope))
        assert abs(r["intercept_cents"] - intercept) <= 1e-9 * max(1, abs(intercept))
        assert abs(r["r2"] - r2) <= 1e-9


@given(k=st.integers(1, 500))
@settings(max_examples=200)
def test_utouch_credit_splits_to_exactly_one_million(k):
    """event_attribution_utouch's U-shaped split must hand out EXACTLY
    _ATTR_TOTAL micro-credits for every touchpoint count k — the
    invariant that makes per-channel credit sums meaningful (a floor
    split without the positional remainder top-up silently leaks up to
    k−3 micro-credits per conversion). Replays the operator's integer
    credit algebra (same expressions both engines run) for arbitrary k."""
    from ruleset_analysis_spark.operators.event_windows import (
        _ATTR_END,
        _ATTR_MID_POOL,
        _ATTR_TOTAL,
    )

    def credit(pos: int) -> int:
        if k == 1:
            return _ATTR_TOTAL
        if pos == 1 or pos == k:
            return _ATTR_END + (_ATTR_MID_POOL // 2 if k == 2 else 0)
        m = k - 2
        return _ATTR_MID_POOL // m + (1 if pos - 1 <= _ATTR_MID_POOL % m else 0)

    assert sum(credit(p) for p in range(1, k + 1)) == _ATTR_TOTAL


# --- r9 two-level exact-quantile selector -------------------------------

_rank_rows = st.lists(
    st.tuples(
        st.sampled_from(["A", "B"]),                     # group
        st.integers(-10_000, 10_000),                    # value (mixed sign:
        #   exercises the trunc-div bucket 0 spanning [-4095, 4095])
        st.integers(1, 7),                               # weight
    ),
    min_size=1,
    max_size=40,
)


def _brute_pick(rows, num, den):
    """min v whose ascending-v cumulative weight w satisfies
    cum·den ≥ num·total — the one-window reference semantics."""
    out = {}
    for g in {r[0] for r in rows}:
        vw = sorted((v, w) for gg, v, w in rows if gg == g)
        tot = sum(w for _, w in vw)
        cum = 0
        for v, w in vw:
            cum += w
            if cum * den >= num * tot:
                out[g] = v
                break
    return out


@given(rows=_rank_rows)
@_SPARK_SETTINGS
def test_rank_pick_two_level_matches_brute_force(spark, rows):
    """_rank_pick_two_level == the one-window cumulative selector on
    arbitrary small corpora: mixed-sign values (exact-floor-division
    buckets must keep every bucket 4096 wide across the sign
    boundary), heavy ties (every row equal collapses to one bucket),
    single-row groups, and weights — the edge set the crossing-bucket
    logic must survive."""
    from ruleset_analysis_spark.operators.aggregations import (
        _rank_pick_two_level,
    )

    df = spark.createDataFrame(rows, "g string, v long, w long")
    got = {
        (r["g"], r["pick"]): (r["v"], r["tw"])
        for r in _rank_pick_two_level(
            df, "g", "v", F.sum("w").cast("long"),
            [("med", 1, 2), ("p90", 9, 10)],
        ).collect()
    }
    for alias, num, den in (("med", 1, 2), ("p90", 9, 10)):
        want = _brute_pick(rows, num, den)
        tot = {
            g: sum(w for gg, _, w in rows if gg == g)
            for g in {r[0] for r in rows}
        }
        for g, v in want.items():
            assert got[(g, alias)] == (v, tot[g]), (
                f"{alias} pick for group {g}: want {v}, got {got[(g, alias)]}"
            )


@given(rows=_rank_rows)
@_SPARK_SETTINGS
def test_gini_two_level_matches_brute_force(spark, rows):
    """The decomposed Σi·c equals the sorted-rank brute force (ties in
    any order) — G compared exactly via the integer moments, not the
    final float."""
    rows = [(g, abs(v), w) for g, v, w in rows]  # gini is defined on c ≥ 0
    # expand weights into row multiplicity so ranks are row-level
    expanded = [(g, v) for g, v, w in rows for _ in range(w)]
    df = spark.createDataFrame(expanded, "event_type string, c long")

    # exercise the OPERATOR'S helper (not an inline copy — a future
    # edit to the decomposition is caught here, round-7 ADVICE fix)
    from ruleset_analysis_spark.operators.aggregations import _gini_moments

    got = {
        r["event_type"]: (int(r["n"]), int(r["s"]), int(r["si"]))
        for r in _gini_moments(df, "event_type").collect()
    }
    for g in {r[0] for r in expanded}:
        vals = sorted(v for gg, v in expanded if gg == g)
        want_si = sum((i + 1) * v for i, v in enumerate(vals))
        want = (len(vals), sum(vals), want_si)
        assert got[g] == want, f"moments for {g}: want {want}, got {got[g]}"


def test_lsh_kernel_buckets_bit_identical_to_jvm_fold(spark):
    """The r9 Arrow bucket kernel's whole claim is BIT-equality with
    the declarative form: its ascending-dimension accumulation performs
    the same (round(v*p), round(acc+x)) IEEE pair per step as the JVM
    HOF fold, so every sign bit — even one decided by the last ULP of
    a near-zero dot — must agree. Compared row-for-row against the
    kept JVM twin on the sf0.01 corpus (200 vectors x 4 tables); any
    future kernel change that reorders the accumulation (e.g. swapping
    in a BLAS matmul, whose pairwise summation rounds differently)
    fails here before it can corrupt five queries' differentials."""
    from ruleset_analysis_spark.operators.similarity import (
        _lsh_buckets,
        _lsh_buckets_jvm,
        normalized_vectors,
    )

    e = normalized_vectors(spark, "/root/testdata/sf0.01").select("vec_id", "vn")
    kernel = {
        (r.vec_id, r.table_id): r.bucket for r in _lsh_buckets(spark, e).collect()
    }
    jvm = {
        (r.vec_id, r.table_id): r.bucket
        for r in _lsh_buckets_jvm(spark, e).collect()
    }
    assert kernel == jvm and len(kernel) > 0


def test_pair_scoring_kernel_bit_identical_to_jvm_join(spark):
    """The r9 Arrow pair-scoring kernel vs the kept declarative twin
    (`_scored_same_bucket_pairs`), on the graded sf0.01 corpus:

    * tau mode must reproduce the JVM join's threshold survivors as an
      exact MULTISET of (vec_a, vec_b, score) — same multi-table
      duplicate copies, bit-identical doubles (the fold-order
      accumulation claim);
    * topk mode must be EXACT top-k pruning: running the identical
      dense_rank-k + distinct window over the kernel's per-group
      top-k and over the JVM join's full pair relation must give the
      same final rows;
    * max mode must match the JVM integer fold's global per-vector
      max exactly.
    """
    from collections import Counter

    from pyspark.sql import Window
    from ruleset_analysis_spark.functions.vectors import dot
    from ruleset_analysis_spark.operators.similarity import (
        _KNN_GRAPH_K,
        _bucket_pair_scores,
        _lsh_buckets,
        _quantized,
        _scored_same_bucket_pairs,
        normalized_vectors,
    )

    sf = "/root/testdata/sf0.01"
    e = normalized_vectors(spark, sf).select("vec_id", "vn")
    bits = _lsh_buckets(spark, e)
    pay = e.select("vec_id", F.col("vn").alias("p"))

    jvm_full = _scored_same_bucket_pairs(
        bits, pay, lambda a, b: dot(a, b), directed=True
    )

    # tau: multiset equality, bit-identical doubles
    jvm_und = _scored_same_bucket_pairs(
        bits, pay, lambda a, b: dot(a, b), directed=False
    )
    jvm_tau = Counter(
        (r.vec_a, r.vec_b, r.score)
        for r in jvm_und.filter(F.col("score") >= 0.25).collect()
    )
    ker_tau = Counter(
        (r.vec_a, r.vec_b, r.score)
        for r in _bucket_pair_scores(
            bits, pay, mode="tau", directed=False, tau=0.25
        ).collect()
    )
    assert jvm_tau == ker_tau and len(ker_tau) > 0

    # topk: same final rows through the identical downstream window
    def finish(scored):
        w = Window.partitionBy("vec_a").orderBy(
            F.desc("score"), F.asc("vec_b")
        )
        return {
            (r.vec_a, r.vec_b, r.rn, r.score)
            for r in scored.withColumn("rn", F.dense_rank().over(w))
            .filter(F.col("rn") <= _KNN_GRAPH_K)
            .distinct()
            .collect()
        }

    ker_topk = _bucket_pair_scores(
        bits, pay, mode="topk", directed=True, k=_KNN_GRAPH_K
    )
    assert finish(jvm_full) == finish(ker_topk)

    # max: exact integer per-vector max
    qv = _quantized(e).select("vec_id", F.col("q").alias("p"))
    qdot = lambda pa, pb: F.aggregate(  # noqa: E731
        F.zip_with(pa, pb, lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    jvm_max = {
        (r.vec_a, r.mx)
        for r in _scored_same_bucket_pairs(bits, qv, qdot, directed=True)
        .groupBy("vec_a")
        .agg(F.max("score").alias("mx"))
        .collect()
    }
    ker_max = {
        (r.vec_a, r.mx)
        for r in _bucket_pair_scores(bits, qv, mode="max", integer=True)
        .groupBy("vec_a")
        .agg(F.max("score").alias("mx"))
        .collect()
    }
    assert jvm_max == ker_max and len(ker_max) > 0


def test_zscore_kernel_bit_identical_to_pandas_form():
    """The r9 numpy z-score kernel vs the original pandas formulation
    (Series construction + per-element `.where`): bit-identical doubles
    and identical NULL classes on random and edge groups — the numpy
    form only changes WHERE the work happens, not the IEEE expression
    tree (np.round is what Series.round delegates to; z is finite iff
    the group denom is finite and nonzero)."""
    import math

    import numpy as np
    import pandas as pd

    from ruleset_analysis_spark.operators.udfs import _zscore

    def reference(pdf: pd.DataFrame) -> pd.DataFrame:
        c = np.rint(pdf["value"].to_numpy() * 100.0).astype(np.int64)
        n = len(c)
        s1 = int(c.sum())
        s2 = int((c * c).sum())
        if n >= 2:
            var_c = (float(s2) - float(s1) * float(s1) / n) / (n - 1)
            denom = np.sqrt(var_c)
        else:
            denom = float("nan")
        z = pd.Series((c - float(s1) / n) / denom, index=pdf.index).round(6)
        return pd.DataFrame(
            {
                "event_id": pdf["event_id"],
                "user_id": pdf["user_id"],
                "zscore": z.where(np.isfinite(z), None),
            }
        )

    def norm(col):
        return [
            None
            if v is None or (isinstance(v, float) and math.isnan(v))
            else v
            for v in col.tolist()
        ]

    rng = np.random.default_rng(7)
    groups = [
        pd.DataFrame(
            {
                "event_id": np.arange(m, dtype=np.int64),
                "user_id": np.full(m, i, dtype=np.int64),
                "value": rng.random(m) * 10,
            }
        )
        for i, m in enumerate([1, 2, 3, 7, 50] + [7] * 200)
    ]
    # zero-variance group: the denom == 0 NULL class
    groups.append(
        pd.DataFrame(
            {
                "event_id": np.array([1, 2, 3], dtype=np.int64),
                "user_id": np.array([99, 99, 99], dtype=np.int64),
                "value": [5.0, 5.0, 5.0],
            }
        )
    )
    for g in groups:
        a, b = _zscore(g), reference(g)
        assert norm(a["event_id"]) == norm(b["event_id"])
        assert norm(a["zscore"]) == norm(b["zscore"]), g


# --- CIDR containment: ip_in_cidr / cidr_bounds --------------------------

_U32 = 2**32 - 1


def _dotted(n: int) -> str:
    return ".".join(str(n >> s & 255) for s in (24, 16, 8, 0))


@st.composite
def _cidr_cases(draw):
    """(ip, cidr) with host bits possibly set in the network part; the
    address is anywhere, inside the block, or just outside either end."""
    net, prefix = draw(st.integers(0, _U32)), draw(st.integers(0, 32))
    size = 1 << (32 - prefix)
    lo = net - net % size
    near = [draw(st.integers(0, _U32)), draw(st.integers(lo, lo + size - 1)), lo - 1, lo + size]
    addr = draw(st.sampled_from([a for a in near if 0 <= a <= _U32]))
    return _dotted(addr), f"{_dotted(net)}/{prefix}"


@given(cases=st.lists(_cidr_cases(), min_size=1, max_size=40))
@_SPARK_SETTINGS
def test_ip_in_cidr_agrees_with_ipaddress(spark, cases):
    """For valid addresses and prefixes 0-32, containment and the block
    bounds agree with Python's ``ipaddress``."""
    import ipaddress

    from ruleset_analysis_spark.functions.net import cidr_bounds, ip_in_cidr

    lo, hi = cidr_bounds("cidr")
    rows = (
        spark.createDataFrame(cases, "ip string, cidr string")
        .select("ip", "cidr", ip_in_cidr("ip", "cidr").alias("m"),
                lo.alias("lo"), hi.alias("hi"))
        .collect()
    )
    assert len(rows) == len(cases)
    for r in rows:
        net = ipaddress.ip_network(r["cidr"], strict=False)
        assert r["m"] is (ipaddress.ip_address(r["ip"]) in net), r
        assert (r["lo"], r["hi"]) == (
            int(net.network_address), int(net.broadcast_address)
        ), r


def _engine_ipv4(s: str) -> bool:
    """The engine's address grammar: four 1-3 digit octets, each <= 255."""
    import re

    m = re.fullmatch(r"(\d{1,3})\.(\d{1,3})\.(\d{1,3})\.(\d{1,3})", s)
    return bool(m) and all(int(o) <= 255 for o in m.groups())


_bad_ip = st.one_of(
    st.text(alphabet="0123456789.", max_size=16),
    st.text(alphabet="0123456789.- x", max_size=16),
    st.tuples(*[st.integers(0, 999)] * 4).map(lambda t: ".".join(map(str, t))),
    st.lists(st.integers(0, 255), max_size=6)
    .filter(lambda o: len(o) != 4)
    .map(lambda o: ".".join(map(str, o))),
).filter(lambda s: not _engine_ipv4(s))
_bad_prefix = st.one_of(
    st.integers(33, 10_000).map(str),
    st.integers(-10_000, -1).map(str),
    st.sampled_from(["", "x", "8x", "0x10", "--1"]),
)
_bad_cidr = st.one_of(
    st.tuples(_bad_ip, st.integers(0, 32)).map(lambda t: f"{t[0]}/{t[1]}"),
    st.tuples(_ip, _bad_prefix).map(lambda t: f"{t[0]}/{t[1]}"),
    _ip,  # no '/prefix' at all
)


@given(
    bad_ips=st.lists(st.tuples(_bad_ip, _cidr_cases().map(lambda c: c[1])), max_size=25),
    bad_cidrs=st.lists(st.tuples(_ip, _bad_cidr), max_size=25),
)
@_SPARK_SETTINGS
def test_ip_in_cidr_malformed_never_matches(spark, bad_ips, bad_cidrs):
    """A malformed address never matches any CIDR, and a malformed CIDR
    matches no address and has NULL bounds — never an abort, never a
    match-all."""
    from ruleset_analysis_spark.functions.net import cidr_bounds, ip_in_cidr

    lo, hi = cidr_bounds("cidr")
    rows = (
        spark.createDataFrame(
            [(ip, c, False) for ip, c in bad_ips] + [(ip, c, True) for ip, c in bad_cidrs],
            "ip string, cidr string, bad_cidr boolean",
        )
        .select("ip", "cidr", "bad_cidr", ip_in_cidr("ip", "cidr").alias("m"),
                lo.alias("lo"), hi.alias("hi"))
        .collect()
    )
    assert len(rows) == len(bad_ips) + len(bad_cidrs)
    for r in rows:
        assert r["m"] is not True, r
        if r["bad_cidr"]:
            assert r["lo"] is None and r["hi"] is None, r


# --- ASA 106100 parse: one match, fields by position ---------------------

_iface = st.text(alphabet="io/(-.7é ", min_size=1, max_size=6)
_addr = st.text(alphabet="0123456789.", max_size=8)
_digits = st.text(alphabet="0123456789", max_size=21)
_word = st.text(alphabet="ab/()-.9", min_size=1, max_size=5)


@st.composite
def _syslog_lines(draw):
    """106100-shaped lines with every field drawn from a small alphabet
    (interfaces with ``/`` and ``(``, empty or malformed addresses,
    ports and counts past int range), other message IDs, a prefix that
    may repeat the message header, truncation at any point — or free
    text over the same characters."""
    d = draw
    shaped = (
        f"%ASA-{d(st.sampled_from(['6', '4', 'x']))}-"
        f"{d(st.sampled_from(['106100', '106100', '106023', '302013']))}: "
        f"access-list {d(_word)} {d(st.sampled_from(['permitted', 'denied', 'dropped']))} "
        f"{d(_word)} {d(_iface)}/{d(_addr)}({d(_digits)}) -> "
        f"{d(_iface)}/{d(_addr)}({d(_digits)}) hit-cnt {d(_digits)}"
        f"{d(st.sampled_from(['', ' 300-second interval [0x1, 0x0]', 'x', '  ']))}"
    )
    cut = d(st.one_of(st.none(), st.integers(0, len(shaped))))
    prefix = d(st.sampled_from(["", "Oct 17 10:00:00 fw1 : ", "%ASA-6-106100: access-list "]))
    free = st.text(alphabet="%ASA-6106100: /().->hitcn", max_size=60)
    return d(st.one_of(st.just(prefix + shaped[:cut]), free))


@given(lines=st.lists(_syslog_lines(), min_size=1, max_size=40))
@settings(
    max_examples=20,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
def test_parse_asa_hits_matches_per_group_extract(spark, lines):
    """``parse_asa_hits`` cuts fields out of ONE whole-regex match by
    position; row for row it equals per-group ``regexp_extract`` (with
    ``try_cast`` for the int fields), and with ``keep_unparsed`` every
    input line comes out exactly once. ``asa_hit_fields`` is the fast
    path plus every other candidate line, with ``acl = ''``."""
    from collections import Counter

    from ruleset_analysis_spark.sources.text_logs import (
        ASA_106100_RE, ASA_HIT_SCHEMA, asa_hit_fields, parse_asa_hits,
    )

    df = spark.createDataFrame([(ln,) for ln in lines], "line string")
    ints = {"src_port": "int", "dst_port": "int", "hit_cnt": "bigint"}

    def group(i, name):
        g = F.regexp_extract("line", ASA_106100_RE, i)
        return g.try_cast(ints[name]) if name in ints else g

    names = ASA_HIT_SCHEMA.fieldNames()
    matched = F.regexp_extract("line", ASA_106100_RE, 1) != ""
    ref = df.select(
        "line", *[F.when(matched, group(i, n)).alias(n) for i, n in enumerate(names, 1)]
    )
    want = Counter(tuple(r) for r in ref.collect())

    audit = parse_asa_hits(df, keep_unparsed=True)
    assert audit.columns == ["line", *names]
    got = Counter(tuple(r) for r in audit.collect())
    assert got == want
    assert Counter(r[0] for r in got.elements()) == Counter(lines)

    fast = Counter(tuple(r) for r in parse_asa_hits(df).collect())
    assert fast == Counter(t[1:] for t in want.elements() if t[1] is not None)

    unfiltered = Counter(tuple(r) for r in asa_hit_fields(df).collect())
    no_match = ("", *[None] * (len(names) - 1))
    assert unfiltered == fast + Counter(
        no_match for t in want.elements() if t[1] is None and "106100" in t[0]
    )


# ----------------------------------------------- report vs its public pieces

_REPORT_STATEMENTS = [
    "access-list A extended permit tcp any host 10.0.0.1 eq 443",
    "access-list A extended permit tcp any 10.0.0.0 255.255.255.0 lt 1024",
    "access-list A extended deny udp host 10.1.0.1 any neq 53",
    "access-list A extended permit tcp any any eq 22 inactive",
    "access-list A extended permit ip any any",
    "access-list B extended permit udp any any range 50 60",
    "access-list B extended deny tcp 10.1.0.0 255.255.0.0 any gt 1023",
    "access-list B extended permit tcp any host 192.0.2.1 eq 80",
    "access-list B standard permit host 10.1.2.3",
]


@st.composite
def _report_days(draw):
    """A config drawn from ``_REPORT_STATEMENTS`` (unused, ``lt``/
    ``gt``/``neq`` and ``inactive`` rules) and a small day of lines over
    a few ACLs, addresses and ports: unparseable addresses and ports, a
    ``hit-cnt`` past bigint range (NULL), other message IDs, truncated
    106100 lines — or no candidate line at all."""
    d = draw
    statements = d(
        st.lists(st.sampled_from(_REPORT_STATEMENTS), min_size=1, max_size=6, unique=True)
    )
    hit = st.builds(
        "%ASA-6-106100: access-list {} permitted {} outside/{}({}) -> dmz/{}({}) "
        "hit-cnt {} 300-second interval [0x1, 0x0]".format,
        st.sampled_from(["A", "B", "C"]),
        st.sampled_from(["tcp", "udp", "icmp"]),
        st.sampled_from(["10.1.0.1", "10.1.2.3", "203.0.113.5", "999.1.1.1"]),
        st.sampled_from(["40000", "99999999999"]),
        st.sampled_from(["10.0.0.1", "10.0.0.7", "192.0.2.9"]),
        st.sampled_from(["22", "53", "55", "80", "443", "1023", "1024", "8080", "99999999999"]),
        st.sampled_from(["1", "7", "99999999999999999999"]),
    )
    dirty = st.sampled_from([
        "%ASA-6-302013: Built inbound TCP connection 1 for outside:10.1.0.1/40000",
        "%ASA-6-106100: access-list A permitted tcp truncated",
        "",
    ])
    lines = d(st.lists(st.one_of(hit, hit, dirty), max_size=25))
    return "\n".join(statements) + "\n", lines


@given(day=_report_days())
@example(day=(  # a rule whose only flows have a NULL hit_cnt reads UNUSED
    "access-list A extended permit tcp any host 10.0.0.1 eq 443\n",
    ["%ASA-6-106100: access-list A permitted tcp outside/10.1.0.1(40000) -> "
     "dmz/10.0.0.1(443) hit-cnt 99999999999999999999 300-second interval [0x1, 0x0]"],
))
@example(day=(  # malformed config networks: NULL bounds match nothing
    "access-list A extended permit tcp any host 999.1.1.1 eq 443\n"
    "access-list A extended permit tcp 10.0.0 255.255.255.0 any\n"  # 10.0.0/24
    "access-list A extended permit ip any any\n",
    ["%ASA-6-106100: access-list A permitted tcp outside/{}({}) -> dmz/{}(443) "
     "hit-cnt 1 300-second interval [0x1, 0x0]".format(*ep)
     for ep in (("10.1.0.1", 40000, "999.1.1.1"), ("10.0.0.5", 40001, "10.0.0.1"),
                ("10.0.0", 40002, "10.0.0.1"))],
))
@example(day=(  # no candidate line at all
    "access-list A extended permit ip any any\naccess-list B standard permit host 10.1.2.3\n",
    ["%ASA-6-302013: Built inbound TCP connection 1 for outside:10.1.0.1/40000"],
))
@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
def test_ruleset_report_equals_join_of_its_public_pieces(spark, report_from_public_pieces, day):
    """``run_ruleset_analysis`` (rule identities folded into the per-rule
    aggregate, non-matching lines dropped by the ``acl`` join, the
    ruleset compiled once into numeric bounds) equals, row for row and
    in schema, the report composed the plain way:
    ``parse_asa_hits`` → flows → ``match_flows_to_rules`` → per-rule
    usage → identities LEFT JOIN usage."""
    import gzip
    import tempfile

    from ruleset_analysis_spark.pipeline import run_ruleset_analysis

    config, lines = day
    with tempfile.TemporaryDirectory() as d:
        with gzip.open(f"{d}/fw.log.gz", "wt") as f:
            f.write("".join(f"{ln}\n" for ln in lines))

        ref = report_from_public_pieces(d, config)
        report = run_ruleset_analysis(spark, d, config)
        assert report.columns == ref.columns
        assert [f.dataType for f in report.schema] == [f.dataType for f in ref.schema]
        assert sorted(map(tuple, report.collect())) == sorted(map(tuple, ref.collect()))


# ------------------------------------------- similarity substrate layout

# every registered query that reads similarity.normalized_vectors
_SIMILARITY_CONSUMERS = (
    "sim_cosine_topk", "sim_pairwise_threshold", "dedup_embedding_cosine",
    "sim_ann_lsh", "sim_pairwise_bucketed", "sim_ann_ivf",
    "embed_knn_classify", "embed_kmeans_clusters", "embed_mmr_rerank",
    "sim_knn_graph", "sim_outlier_lowmax", "embed_recall_eval",
)


@pytest.fixture(scope="module")
def similarity_rows_by_partitions(spark):
    """{partitions: {query: sorted rows}} for every similarity consumer
    on sf0.001, with ``normalized_vectors`` spread over 1 partition (a
    one-row-group corpus file's own layout), over the session's
    ``defaultParallelism`` and over 7. Each layout starts from an empty
    corpus memo, so fitted models (k-means centroids, the IVF index)
    are fitted on that layout too."""
    from pyspark import SparkContext

    from ruleset_analysis_spark.operators.similarity import normalized_vectors
    from ruleset_analysis_spark.plans.registry import all_specs
    from ruleset_analysis_spark.sources import parquet

    sf_dir = "/root/testdata/sf0.001"
    specs = all_specs()
    cores = spark.sparkContext.defaultParallelism
    out = {}
    for n in (1, cores, 7):
        with pytest.MonkeyPatch.context() as mp:
            mp.setattr(parquet, "_MEMO", {})
            mp.setattr(SparkContext, "defaultParallelism", property(lambda _sc: n))
            vectors = normalized_vectors(spark, sf_dir)
            assert vectors.rdd.getNumPartitions() == n
            out[n] = {
                name: sorted(map(tuple, specs[name].builder(spark, sf_dir).collect()), key=repr)
                for name in _SIMILARITY_CONSUMERS
            }
            if n != cores:
                vectors.unpersist()  # the session's own layout stays cached
    return out


@pytest.mark.parametrize("name", _SIMILARITY_CONSUMERS)
def test_similarity_rows_do_not_depend_on_the_substrate_partitions(
    similarity_rows_by_partitions, name
):
    """Spreading the normalized-vector substrate over the cores changes
    where each vector is scored, never the answer: every consumer
    returns the same rows, bit for bit, whatever the partition count."""
    rows = {n: by_query[name] for n, by_query in similarity_rows_by_partitions.items()}
    assert rows[1], name
    for n, got in rows.items():
        assert got == rows[1], (name, n)
