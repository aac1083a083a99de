#!/usr/bin/env python
"""100x stress tier for the dedup / similarity / text bucket substrates.

The graded corpora top out at sf0.1 (5k documents / 2k embeddings) —
small enough that even a quadratic plan finishes in seconds, so the
committed floors alone cannot catch an operator whose *blocking*
quietly degrades with corpus growth. This tool measures the property
the 100 TB story actually claims: **near-linear wall growth for the
banded/bucketed families as the corpus scales 1x -> 10x -> 100x**
(500k documents / 200k vectors at 100x), on corpora with the same
duplicate/near-duplicate structure as the graded testdata.

Method: generate documents+embeddings at each multiplier with the
fuzz-sweep value domains (vectorized — 500k docs in seconds), copy the
relational tables from the base sf so every loader resolves, then time
each family query twice per scale (min — substrate memoization mirrors
bench.py behavior) and report the wall-growth exponent
log(t100/t1)/log(100). An exponent near 1 is linear scaling; ~2 means
a pair stage is quadratic in the corpus after all. Spark-side only (no
DuckDB at 100x — correctness is the differential tiers' job; this tier
is for plan shape under growth). Writes one JSON line per query to
--out for SCALE.md.

Usage:
    python scripts/stress_scale.py [--mult 1 10 100] [--queries q1 q2]
        [--base /root/testdata/sf0.1] [--out /tmp/stress_scale.json]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _load_fuzz_module():
    """Value domains come from fuzz_sweep so the stress corpora carry
    the same vocabulary/lang/source structure the graded tiers use."""
    import importlib.util

    path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fuzz_sweep.py")
    spec = importlib.util.spec_from_file_location("fuzz_sweep", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


_FUZZ = _load_fuzz_module()
VOCAB, LANGS, SOURCES = _FUZZ.VOCAB, _FUZZ.LANGS, _FUZZ.SOURCES
EVENT_TYPES = _FUZZ.EVENT_TYPES

# The families whose blocking discipline the 100 TB claims rest on.
STRESS_QUERIES = [
    # dedup: banded equi-joins on sketch relations
    "dedup_exact",
    "dedup_near_minhash",
    "dedup_simhash",
    "dedup_ngram_jaccard",
    "dedup_weighted_jaccard",
    "dedup_containment",
    "dedup_minhash_estimate",
    "dedup_embedding_cosine",
    "dedup_cluster_components",
    "dedup_cluster_representatives",
    "dedup_lsh_band_tuning",
    "dedup_incremental_newbatch",
    "dedup_exact_substring",
    "curation_dedup_rate_report",
    # similarity / ANN: bucketed, never all-pairs
    "sim_cosine_topk",
    "sim_pairwise_threshold",
    "sim_pairwise_bucketed",
    "sim_ann_lsh",
    "sim_ann_ivf",
    "sim_knn_graph",
    "sim_outlier_lowmax",
    "embed_recall_eval",
    "embed_kmeans_clusters",
    # text substrates: shingle relation + token explode
    "text_tfidf_topterms",
    "text_ngram_novelty",
    "text_vocab_growth",
    "corpus_boilerplate_ngrams",
]

# r7 tier: the events/lineitem-fed families (VERDICT r6 task #2 — the
# documents tier caught two real scale-killers; the graph tier is
# where the next one would hide: skewed co-occurrence keys, basket²
# blowup, window state growth). Grown tables: events (traffic growth
# inside the SAME Jan-2024 window — denser days, the realistic mode
# for event streams) and orders+lineitem (more orders against the
# FIXED part/customer/supplier dims, so the co-occurrence graph
# DENSIFIES — per-node degree grows with corpus, exactly the skew
# regime a 100 TB co-occurrence graph lives in).
STRESS_QUERIES_EVENTS = [
    # graph: iterative + wedge joins over the densifying basket graph
    "graph_pagerank_cooccur",
    "graph_kcore_bounded",
    "graph_triangle_count",
    "graph_link_prediction",
    "graph_degree_distribution",
    "join_cooccur_baskets",
    # as-of / interval / PIT joins over the grown event stream
    "join_asof_backward",
    "join_asof_forward",
    "join_asof_nearest",
    "join_asof_tolerance",
    "join_scd2_point_in_time",
    # event/window state machines
    "stream_session_window",
    "stream_rollup_multires",
    "funnel_ordered_steps",
    "event_transition_matrix",
    "event_scd2_intervals",
    "event_wau_sliding_distinct",
    "event_dau_mau_stickiness",
    "event_cohort_revenue_ltv",
    "window_median_moving",
    # TPC-H composites over the grown fact tables — the COMPLETE
    # 22-query family since r7 (q1/q9/q18 were the r7 scouts): the
    # interesting rows are the ones with correlated-subquery shapes
    # (q4/q17/q20/q21/q22), the big outer-join distribution (q13),
    # and the multi-lineitem self-joins (q15/q21) — each is a plan
    # that could quietly go quadratic under fact growth while the
    # graded sf0.1 tier hides it.
    "tpch_q1_pricing_summary",
    "tpch_q2_min_cost_supplier",
    "tpch_q3_shipping_priority",
    "tpch_q4_priority_check",
    "tpch_q5_local_supplier",
    "tpch_q6_forecast_revenue",
    "tpch_q7_volume_shipping",
    "tpch_q8_market_share",
    "tpch_q9_product_profit",
    "tpch_q10_returned_items",
    "tpch_q11_important_stock",
    "tpch_q12_late_shipments",
    "tpch_q13_order_distribution",
    "tpch_q14_promo_revenue",
    "tpch_q15_top_supplier",
    "tpch_q16_supplier_variety",
    "tpch_q17_small_qty_revenue",
    "tpch_q18_large_orders",
    "tpch_q19_bracket_revenue",
    "tpch_q20_promo_suppliers",
    "tpch_q21_waiting_suppliers",
    "tpch_q22_dormant_accounts",
    # firewall / syslog (the reference's core domain): synthesize->
    # regex-parse rides events end to end, rule dims broadcast
    "firewall_rule_hits",
    "rule_usage_report",
    "firewall_unused_rules",
    "firewall_cidr_match",
    "firewall_rule_staleness",
    "firewall_policy_diff",
    # event/window second wave (r8): anomaly, cohorts, attribution,
    # seasonality, drift stats, lateness audits, CDC, rate states
    "event_anomaly_mad",
    "retention_cohorts",
    "funnel_conversion_lag",
    "event_attribution_utouch",
    "event_seasonality_hourweek",
    "event_changepoint_cusum",
    "event_interarrival_burstiness",
    "event_ohlc_bars",
    "event_time_weighted_avg",
    "event_interpolate_linear",
    "event_concurrency_sweep",
    "event_cdc_upsert",
    "event_path_3gram",
    "window_ewma",
    "stream_late_data_policy",
    "stream_lateness_histogram",
]

FAMILIES = {"docs": STRESS_QUERIES, "events": STRESS_QUERIES_EVENTS}
# which tables each family's corpus must GROW (everything else copies
# from the base sf so loaders and FKs resolve)
FAMILY_TABLES = {
    "docs": ("documents", "embeddings"),
    "events": ("events", "orders", "lineitem"),
}


def gen_documents_fast(rng: np.random.Generator, out_dir: str, n: int) -> None:
    """Vectorized twin of fuzz_sweep.gen_documents: same value domains
    and duplicate rates (~4% exact dups, ~8% near-dups with ~5% token
    perturbation), built from one flat token draw instead of a per-doc
    Python loop (500k docs in ~2 s). One deliberate difference from
    the fuzz generator: the duplicate SOURCE POOL scales with n
    (n//100, floor 50) so duplicate-clique sizes stay scale-invariant
    (~4-12 members) — a fixed 50-doc pool at 500k docs produces
    ~800-way near-identical cliques whose C(k,2) pair outputs grow
    quadratically with the corpus, swamping every wall-growth
    measurement with an artifact of the data, not the plan (measured:
    dedup_near_minhash emitted 25M candidate pairs at 100x under the
    fixed pool — 96x the 10x output for 10x the docs)."""
    lens = rng.integers(20, 120, n)
    offs = np.concatenate([[0], np.cumsum(lens)])
    # Heaps'-law vocabulary: V ~ K * tokens^0.5. The fuzz tier's fixed
    # 30-word vocabulary is fine at 500 docs but PERCOLATES at 500k —
    # chance trigram collisions connect every same-source doc pair at
    # low Jaccard thresholds, so components collapse to one cluster
    # per source (measured: exactly 20 clusters at 100x) and pair
    # counts measure the vocabulary artifact, not the plan. Synthetic
    # words follow a Zipf-ish draw so frequent/rare structure exists.
    total_tokens = int(offs[-1])
    v_extra = max(0, int(2.0 * total_tokens**0.5) - len(VOCAB))
    vocab_arr = np.array(list(VOCAB) + [f"w{i}" for i in range(v_extra)])
    zipf_w = 1.0 / np.arange(1, len(vocab_arr) + 1) ** 1.1
    flat = rng.choice(len(vocab_arr), total_tokens, p=zipf_w / zipf_w.sum())
    texts = [
        " ".join(vocab_arr[flat[offs[i]:offs[i + 1]]]) for i in range(n)
    ]
    pool = min(max(50, n // 100), max(1, n - 1))
    for i in rng.choice(np.arange(pool, n), max(1, n // 25), replace=False):
        texts[i] = texts[int(rng.integers(0, pool))]
    for i in rng.choice(np.arange(pool, n), max(1, n // 12), replace=False):
        toks = texts[int(rng.integers(0, pool))].split()
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
    pq.write_table(tbl, os.path.join(out_dir, "documents.parquet"))


def gen_embeddings_fast(
    rng: np.random.Generator, out_dir: str, n: int, d: int = 64
) -> None:
    """Vectorized twin of fuzz_sweep.gen_embeddings (same near-dup and
    duplicate-heavy-label structure)."""
    vecs = rng.normal(0, 1, (n, d)).astype(np.float32)
    # scale-invariant near-dup cliques — same rationale as documents
    pool = min(max(50, n // 100), max(1, n - 1))
    dup_idx = rng.choice(np.arange(pool, n), max(1, n // 16), replace=False)
    src_idx = rng.integers(0, pool, len(dup_idx))
    vecs[dup_idx] = vecs[src_idx] + rng.normal(
        0, 0.01, (len(dup_idx), d)
    ).astype(np.float32)
    label = rng.integers(0, 10, n).astype(np.int32)
    label[rng.choice(n, n // 10, replace=False)] = 3
    vec_id = np.sort(rng.choice(np.arange(1, n * 3), n, replace=False))
    tbl = pa.table(
        {
            "vec_id": pa.array(vec_id, pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(label, pa.int32()),
        }
    )
    pq.write_table(tbl, os.path.join(out_dir, "embeddings.parquet"))


def gen_events_fast(rng: np.random.Generator, out_dir: str, n: int) -> None:
    """Vectorized events generator for the r7 tier: traffic growth
    INSIDE the same Jan-2024 window (denser days — the realistic mode
    for an event stream; growing the time span instead would keep
    per-window state constant and hide state-growth defects). Users
    scale linearly (per-user density stays ~66 events like the base
    sf0.1 table) plus one deliberate heavy user owning ~5% of all
    traffic — the bot-traffic skew regime a per-user window/session
    plan must survive (the base driver table is uniform; skew is the
    point of this tier). Same dirty-data conventions as
    fuzz_sweep.gen_events: 1% late (Feb) arrivals and same-(user,ts)
    collision pairs, both scaled with n."""
    n_users = max(400, n // 66)
    user = rng.integers(1, n_users + 1, n)
    user[rng.random(n) < 0.05] = 7
    base_ts = np.datetime64("2024-01-01T00:00:00", "us")
    span_us = 30 * 24 * 3600 * 1_000_000
    ts = base_ts + (rng.random(n) * span_us).astype("timedelta64[us]")
    late = rng.random(n) < 0.01
    ts[late] += np.timedelta64(35 * 24 * 3600 * 1_000_000, "us")
    idx = rng.choice(n - 1, max(1, n // 200), replace=False)
    user[idx + 1] = user[idx]
    ts[idx + 1] = ts[idx]
    etype = rng.choice(EVENT_TYPES, n, p=[0.35, 0.1, 0.1, 0.3, 0.15])
    value = np.round(rng.uniform(0.01, 500.0, n), 2)
    # props mix mirrors fuzz_sweep (int/float/bool/str/multikey/{}/NULL)
    # but built with np.char.mod — a Python per-row loop at 10M rows
    # would dominate corpus build time.
    kinds = rng.choice(7, n, p=[0.62, 0.10, 0.05, 0.05, 0.08, 0.05, 0.05])
    kint = rng.integers(0, 100, n)
    kflt = np.round(rng.uniform(0, 100, n), 2)
    vocab_arr = np.array(VOCAB)
    variants = [
        np.char.mod('{"k": %d}', kint),
        np.char.mod('{"k": %s}', kflt),
        np.where(kint % 2 == 1, '{"k": true}', '{"k": false}'),
        np.char.mod('{"k": "%s"}', vocab_arr[kint % len(VOCAB)]),
        np.char.add(
            np.char.mod('{"k": %d, ', kint), np.char.mod('"j": %d}', kint * 3 % 97)
        ),
        np.full(n, "{}"),
    ]
    props = np.select([kinds == k for k in range(6)], variants, default="")
    mask = kinds != 6
    tbl = pa.table(
        {
            "event_id": pa.array(np.arange(1, n + 1, dtype=np.int64)),
            "ts": pa.array(ts),
            "user_id": pa.array(user.astype(np.int64)),
            "event_type": pa.array(etype, pa.string()),
            "value": pa.array(value, pa.float64()),
            "props": pa.array(props.astype(object), pa.string(), mask=~mask),
        }
    )
    pq.write_table(tbl, os.path.join(out_dir, "events.parquet"))


def gen_orders_lineitem_fast(
    rng: np.random.Generator, out_dir: str, n_orders: int
) -> None:
    """Vectorized orders+lineitem generator: MORE orders against the
    FIXED customer (0..14999) / part (0..19999) / supplier (0..999)
    dimensions of the copied base tables, so the basket co-occurrence
    graph DENSIFIES — per-part degree grows with the corpus, exactly
    the regime a 100 TB co-occurrence graph lives in. Unlike the
    uniform base table, part popularity follows a Zipf-ish draw
    (exponent 0.6 → hottest part in ~0.8% of lines) so the pair
    groupBy sees genuinely skewed keys; basket sizes stay 1-7 lines so
    the per-order pair expansion stays bounded (C(7,2) max) whatever
    the corpus size."""
    o_orderkey = np.arange(n_orders, dtype=np.int64)
    day_us = 24 * 3600 * 1_000_000
    o_date = np.datetime64("1995-01-01", "us") + (
        rng.integers(0, 2404, n_orders) * day_us
    ).astype("timedelta64[us]")
    orders = pa.table(
        {
            "o_orderkey": pa.array(o_orderkey),
            "o_custkey": pa.array(rng.integers(0, 15000, n_orders)),
            "o_orderstatus": pa.array(rng.choice(["O", "F", "P"], n_orders)),
            "o_totalprice": pa.array(
                np.round(rng.uniform(900.0, 500000.0, n_orders), 2)
            ),
            "o_orderdate": pa.array(o_date),
            "o_orderpriority": pa.array(
                rng.choice(
                    ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
                    n_orders,
                )
            ),
        }
    )
    pq.write_table(orders, os.path.join(out_dir, "orders.parquet"))

    lines_per = rng.integers(1, 8, n_orders)
    n_lines = int(lines_per.sum())
    l_orderkey = np.repeat(o_orderkey, lines_per)
    offs = np.concatenate([[0], np.cumsum(lines_per)[:-1]])
    l_linenumber = (np.arange(n_lines) - np.repeat(offs, lines_per) + 1).astype(
        np.int32
    )
    zipf_w = 1.0 / np.arange(1, 20001) ** 0.6
    l_partkey = rng.choice(20000, n_lines, p=zipf_w / zipf_w.sum()).astype(np.int64)
    ship = np.repeat(o_date, lines_per) + (
        rng.integers(1, 121, n_lines) * day_us
    ).astype("timedelta64[us]")
    lineitem = pa.table(
        {
            "l_orderkey": pa.array(l_orderkey),
            "l_partkey": pa.array(l_partkey),
            "l_suppkey": pa.array(rng.integers(0, 1000, n_lines)),
            "l_linenumber": pa.array(l_linenumber),
            "l_quantity": pa.array(rng.integers(1, 51, n_lines).astype(np.float64)),
            "l_extendedprice": pa.array(
                np.round(rng.uniform(900.0, 105000.0, n_lines), 2)
            ),
            "l_discount": pa.array(np.round(rng.uniform(0.0, 0.1, n_lines), 2)),
            "l_tax": pa.array(np.round(rng.uniform(0.0, 0.08, n_lines), 2)),
            "l_returnflag": pa.array(rng.choice(["N", "A", "R"], n_lines)),
            "l_linestatus": pa.array(rng.choice(["O", "F"], n_lines)),
            "l_shipdate": pa.array(ship),
        }
    )
    pq.write_table(lineitem, os.path.join(out_dir, "lineitem.parquet"))


_ALL_TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def build_corpus(
    base: str, out_dir: str, mult: int, seed: int, family: str = "docs"
) -> None:
    """Grow the family's tables by ``mult``; copy everything else from
    the base sf so loaders and FK dimensions resolve unchanged."""
    grow = FAMILY_TABLES[family]
    os.makedirs(out_dir, exist_ok=True)
    for t in _ALL_TABLES:
        if t in grow:
            continue
        src = os.path.join(base, f"{t}.parquet")
        dst = os.path.join(out_dir, f"{t}.parquet")
        if not os.path.exists(dst):
            shutil.copyfile(src, dst)

    def base_rows(t: str) -> int:
        return pq.ParquetFile(os.path.join(base, f"{t}.parquet")).metadata.num_rows

    rng = np.random.default_rng(seed)
    if family == "docs":
        gen_documents_fast(rng, out_dir, base_rows("documents") * mult)
        gen_embeddings_fast(rng, out_dir, base_rows("embeddings") * mult)
    elif family == "events":
        gen_events_fast(rng, out_dir, base_rows("events") * mult)
        gen_orders_lineitem_fast(rng, out_dir, base_rows("orders") * mult)
    else:  # pragma: no cover - guarded by argparse choices
        raise ValueError(f"unknown family {family!r}")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="*", default=None)
    ap.add_argument("--mult", type=int, nargs="+", default=[1, 10, 100])
    ap.add_argument("--base", default="/root/testdata/sf0.1")
    ap.add_argument("--seed", type=int, default=61)
    ap.add_argument("--out", default="/tmp/stress_scale.json")
    ap.add_argument("--keep", action="store_true")
    ap.add_argument(
        "--budget", type=int, default=900,
        help="per-(query, tier) wall budget in seconds: a watchdog "
        "thread cancels the tier's Spark jobs past this and the row "
        "records timeout_at instead of grinding for hours (two r8 "
        "stragglers — the uncapped attribution join and the FOLLOWING-"
        "frame interpolate — each ate >25 min of a session before "
        "being killed by hand)",
    )
    ap.add_argument(
        "--family", choices=sorted(FAMILIES), default="docs",
        help="which corpus family to grow (docs: documents+embeddings; "
        "events: events+orders+lineitem against fixed dims)",
    )
    args = ap.parse_args()
    names = args.queries or FAMILIES[args.family]

    from bench import run
    from ruleset_analysis_spark.plans.registry import all_specs
    from ruleset_analysis_spark.session import get_spark

    specs = all_specs()
    unknown = [n for n in names if n not in specs]
    if unknown:
        print(f"unknown queries: {unknown}")
        return 2

    spark = get_spark(app_name="stress_scale", driver_memory="48g")
    spark.sparkContext.setLogLevel("ERROR")

    dirs = {}
    # marker table = one the family actually regenerates, so a docs-run
    # corpus can never be mistaken for a complete events-run corpus
    marker = FAMILY_TABLES[args.family][-1]
    for m in args.mult:
        suffix = "" if args.family == "docs" else f"_{args.family}"
        d = f"/tmp/stress_sf0.1{suffix}_x{m}_seed{args.seed}"
        if not os.path.exists(os.path.join(d, f"{marker}.parquet")):
            t0 = time.time()
            build_corpus(args.base, d, m, args.seed, args.family)
            print(f"built x{m} corpus in {time.time() - t0:.1f}s -> {d}")
        dirs[m] = d

    results: dict[str, dict] = {}
    for name in names:
        spec = specs[name]
        row: dict = {"query": name, "t": {}, "rows": {}}
        for m in args.mult:
            best, nrows = None, None
            try:
                # Time bench.py's noop-sink write (bench.run), NOT
                # .count(): count() lets Catalyst prune every column the
                # final filter doesn't reference, so a query whose cost
                # lives in row-preserving projections (as-of fills,
                # interpolated values, rolling medians) times only its
                # filter — join_asof_forward "measured" 0.34 s at x100
                # while its (then-quadratic) window never executed. The
                # noop write forces every output column through the
                # full plan. Row count runs untimed afterwards.
                # Watchdog: cancel the tier's jobs past --budget via a
                # job group, so one straggler records a timeout row
                # instead of consuming the whole session.
                import threading

                group = f"stress:{name}:x{m}"
                sc = spark.sparkContext
                timed_out = threading.Event()

                def _cancel() -> None:
                    timed_out.set()
                    sc.cancelJobGroup(group)

                sc.setJobGroup(group, group, interruptOnCancel=True)
                watchdog = threading.Timer(args.budget, _cancel)
                watchdog.start()
                try:
                    for _ in range(2):
                        t0 = time.time()
                        run(spec.builder(spark, dirs[m]))
                        dt = time.time() - t0
                        best = dt if best is None else min(best, dt)
                    nrows = spec.builder(spark, dirs[m]).count()
                finally:
                    watchdog.cancel()
                    sc.setJobGroup(None, None)
            except Exception as exc:  # noqa: BLE001
                msg = str(exc)
                if timed_out.is_set():
                    row.setdefault("timeout_at", []).append(m)
                    print(
                        f"[TIMEOUT] {name} x{m}: exceeded {args.budget}s "
                        "budget, jobs cancelled",
                        flush=True,
                    )
                    continue
                # Match the bounded_block guard by its own message text
                # ("exact all-pairs is quadratic per block", _util.py),
                # NOT the generic USER_RAISED_EXCEPTION class — any
                # other raise_error at scale is a genuine failure and
                # must land under "error", not be classified as a
                # designed refusal.
                if "quadratic per block" in msg:
                    row.setdefault("guard_refused", []).append(m)
                    continue
                row.setdefault("error", {})[str(m)] = msg[:200]
                continue
            row["t"][str(m)] = round(best, 2)
            row["rows"][str(m)] = nrows
        ms = [m for m in sorted(args.mult) if str(m) in row["t"]]
        if len(ms) >= 2 and row["t"][str(ms[0])] > 0:
            import math

            lo, hi = ms[0], ms[-1]
            ratio = row["t"][str(hi)] / max(row["t"][str(lo)], 1e-9)
            row["exponent"] = round(
                math.log(max(ratio, 1e-9)) / math.log(hi / lo), 2
            )
            # Threshold-pair ops (ngram/weighted jaccard, pairwise
            # sims) have output Θ(#qualifying pairs) — quadratic in n
            # on bounded-vocab corpora BY DEFINITION of the answer,
            # not by plan defect. For those the honest scale metric is
            # wall per emitted row: flat-or-falling = the plan scales,
            # whatever the output cardinality does.
            r_lo, r_hi = row["rows"][str(lo)] or 1, row["rows"][str(hi)] or 1
            row["us_per_row"] = {
                str(lo): round(1e6 * row["t"][str(lo)] / r_lo, 1),
                str(hi): round(1e6 * row["t"][str(hi)] / r_hi, 1),
            }
        results[name] = row
        print(json.dumps(row), flush=True)

    with open(args.out, "w") as f:
        for row in results.values():
            f.write(json.dumps(row) + "\n")
    print(f"\nwrote {args.out}")
    worst = sorted(
        results.values(), key=lambda r: -r.get("exponent", 0)
    )[:5]
    print("highest wall-growth exponents (1.0 = linear):")
    for r in worst:
        print(f"  {r['query']}: {r.get('exponent')} {r['t']}")
    # /tmp disk is the binding limit for 100x runs (shuffle spill plus
    # the corpora themselves) — delete the grown corpora unless --keep
    # asks to retain them for a follow-up run.
    if not args.keep:
        for m, d in dirs.items():
            if m != 1 and os.path.isdir(d):
                shutil.rmtree(d, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
