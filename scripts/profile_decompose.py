#!/usr/bin/env python
"""Per-query time decomposition for optimization work (guide §1).

For each named query (default: all), mirror bench.py's methodology
(same session, same warmup, same cached base tables, noop sink) and
split wall time into:

* ``build`` — QuerySpec.builder() call: driver-side plan construction,
  py4j round-trips, and any in-builder probe actions (adaptive-depth
  counts etc.);
* ``run1``  — first noop materialization (pays codegen/JIT);
* ``run2``  — second noop materialization (steady-state engine floor).

Usage: python scripts/profile_decompose.py [query ...] [--out FILE]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*")
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--out", default="/tmp/profile_decompose.json")
    args = ap.parse_args()

    from ruleset_analysis_spark.plans.registry import all_specs
    from ruleset_analysis_spark.session import get_spark

    spark = get_spark(app_name="profile-decompose", driver_memory="48g")
    specs = all_specs()
    names = args.names or sorted(specs)

    def run(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    # identical warmup + hot base tables to bench.py
    for w in (
        "agg_count_by_key",
        "udf_scalar_pandas",
        "dedup_ngram_jaccard",
        "embed_array_stats",
        "window_lag_lead",
        "firewall_rule_hits",
        "multimodal_binary_features",
        "doc_chunk_fixed_tokens",
        "dedup_cluster_components",
        "sim_ann_lsh",
        "graph_degree_distribution",
        "sim_ann_ivf",
    ):
        run(specs[w].builder(spark, args.sf))
    from ruleset_analysis_spark.operators.graph import pagerank_float_fixpoint

    run(pagerank_float_fixpoint(spark, args.sf))
    from ruleset_analysis_spark.sources.parquet import TABLE_NAMES, load

    for t in TABLE_NAMES:
        load(spark, args.sf, t).cache().count()

    out: dict[str, dict[str, float]] = {}
    for name in names:
        spark.sparkContext.setJobDescription(f"profile: {name}")
        t0 = time.time()
        df = specs[name].builder(spark, args.sf)
        t1 = time.time()
        run(df)
        t2 = time.time()
        run(specs[name].builder(spark, args.sf))
        t3 = time.time()
        out[name] = {
            "build": round(t1 - t0, 3),
            "run1": round(t2 - t1, 3),
            "run2": round(t3 - t2, 3),
            "total1": round(t2 - t0, 3),
        }
        print(
            f"{name:40s} build={out[name]['build']:7.3f} "
            f"run1={out[name]['run1']:7.3f} run2={out[name]['run2']:7.3f}"
        )
    with open(args.out, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
    tot = {
        k: round(sum(v[k] for v in out.values()), 2)
        for k in ("build", "run1", "run2", "total1")
    }
    print("TOTALS:", json.dumps(tot))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
