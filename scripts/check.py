#!/usr/bin/env python
"""Ad-hoc differential checker: run one/all queries vs the DuckDB oracle.

Usage:
    python scripts/check.py [query ...] [--sf /root/testdata/sf0.01] [--explain]
"""

from __future__ import annotations

import argparse
import os
import sys
import time

# anchor to the repo root so the checker works from any cwd
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*", help="query names (default: all)")
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--explain", action="store_true")
    args = ap.parse_args()

    from ruleset_analysis_spark.oracle import compare, duck_connect
    from ruleset_analysis_spark.plans.registry import all_specs
    from ruleset_analysis_spark.session import get_spark

    specs = all_specs()
    names = args.names or sorted(specs)
    unknown = [n for n in names if n not in specs]
    if unknown:
        print(f"unknown queries: {unknown}")
        return 2

    spark = get_spark(app_name="check", driver_memory="8g")
    con = duck_connect(args.sf)
    failures = 0
    for name in names:
        spec = specs[name]
        t0 = time.time()
        try:
            df = spec.builder(spark, args.sf)
            if args.explain:
                df.explain("formatted")
            res = compare(name, df, con, spec.oracle)
        except Exception as exc:  # show and continue
            print(f"[ERR ] {name}: {type(exc).__name__}: {exc}")
            failures += 1
            continue
        dt = time.time() - t0
        print(f"{res} ({dt:.2f}s)")
        failures += 0 if res.ok else 1
    print(f"\n{len(names) - failures}/{len(names)} ok")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
