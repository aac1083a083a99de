#!/usr/bin/env python3
"""Summarize untraced benchmark results into a same-host baseline.

    python3 perfbench/baseline.py substrates_sf0.1:401-420 ruleset_report:421-440

reads ``perfbench/_work/results/<workload>-seed<n>-trace0.json`` for each
workload and its seeds, and prints, per workload and end-to-end metric, the
median, the quartiles (``statistics.quantiles(values, n=4)``) and the
spread (q3 - q1) / median, with the median host steal of the runs. It
refuses results whose host fingerprints differ: figures from different
hosts are not comparable.
"""

from __future__ import annotations

import argparse
import datetime
import json
import os
import statistics
import sys

RESULTS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "_work", "results")


def seed_range(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def quartiles(values: list[float]) -> dict[str, float]:
    q1, med, q3 = statistics.quantiles(values, n=4)  # med is the median
    return {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med}


def workload_seeds(text: str) -> tuple[str, list[int]]:
    name, sep, seeds = text.rpartition(":")
    if not sep:
        raise argparse.ArgumentTypeError(f"{text!r} is not <workload>:<seeds>")
    return name, seed_range(seeds)


def summarize(results: str, workloads: list[tuple[str, list[int]]]) -> dict:
    hosts, out = set(), {}
    for wl, seeds in workloads:
        runs = []
        for seed in seeds:
            with open(os.path.join(results, f"{wl}-seed{seed}-trace0.json")) as f:
                runs.append(json.load(f))
        for run in runs:
            if run["failures"]:
                raise ValueError(f"{wl} seed {run['host']['seed']} failed: {run['failures']}")
            hosts.add(json.dumps({k: v for k, v in run["host"].items() if k != "seed"},
                                 sort_keys=True))
        out[wl] = {
            "seeds": seeds,
            "metrics": {m: quartiles([r["end_to_end"][m] for r in runs])
                        for m in runs[0]["end_to_end"]},
            "median_steal_s": round(statistics.median(r["host_load"]["steal_s"] for r in runs), 2),
        }
    if len(hosts) != 1:
        raise ValueError(f"results come from {len(hosts)} different hosts: {sorted(hosts)}")
    return {"what": "median and quartiles of untraced runs, one seed each, "
                    "spread = (q3 - q1) / median; compare only on this host",
            "recorded": datetime.date.today().isoformat(),
            "host": json.loads(hosts.pop()), "workloads": out}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--results", default=RESULTS)
    ap.add_argument("workloads", nargs="+", type=workload_seeds,
                    help="<workload>:<seeds>, e.g. ruleset_report:101-110")
    args = ap.parse_args(argv)
    try:
        summary = summarize(args.results, args.workloads)
    except (OSError, ValueError) as e:
        print(f"baseline: {e}", file=sys.stderr)
        return 1
    json.dump(summary, sys.stdout, indent=1)
    print()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
