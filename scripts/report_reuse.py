#!/usr/bin/env python
"""Same-host timing of the report job's flow reuse within one session.

Generates a seeded 3-day ASA archive (``perfbench/asa_gen.generate``)
into a temporary directory and, for each day in one session, times the
cold report, a re-report, and a re-report after a config edit (one
rule appended), then a warm report: a third one of the unedited config,
the first that only reads what the re-report cached. Each report is
``run_ruleset_analysis`` plus the partitioned parquet write. Prints one
line per report: wall seconds; Spark jobs, stages and tasks
(``statusTracker``, one job group per report: the stages that ran at
least one task, and their completed tasks; a stage skipped because its
shuffle output was reused counts neither); and the scan its flows come
from: ``memory`` when the plan scans the cached flows
(``InMemoryTableScan``), else ``gz`` (``FileScan text``).

Usage:  python scripts/report_reuse.py [--seed 7] [--cpus 4]
"""

from __future__ import annotations

import argparse
import os
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [ROOT, os.path.join(ROOT, "perfbench")]

import asa_gen  # noqa: E402

from ruleset_analysis_spark.pipeline import run_ruleset_analysis  # noqa: E402
from ruleset_analysis_spark.session import get_spark  # noqa: E402
from ruleset_analysis_spark.sources.sinks import write_parquet  # noqa: E402


def group_counts(spark, group: str) -> tuple[int, int, int]:
    """(jobs, stages that ran a task, their completed tasks) of a job
    group."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stage_ids = {s for j in jobs if (info := tracker.getJobInfo(j)) for s in info.stageIds}
    ran = [i for i in map(tracker.getStageInfo, stage_ids) if i and i.numCompletedTasks > 0]
    return len(jobs), len(ran), sum(i.numCompletedTasks for i in ran)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, default=7)
    ap.add_argument("--cpus", type=int, default=None)
    args = ap.parse_args()
    with tempfile.TemporaryDirectory() as tmp:
        m = asa_gen.generate(tmp, args.seed)
        with open(m["config"]) as f:
            config = f.read()
        acl = next(ln.split()[1] for ln in config.splitlines() if ln.startswith("access-list"))
        edited = config + f"access-list {acl} extended deny ip host 192.0.2.1 any\n"
        spark = get_spark(app_name="report-reuse", cpus=args.cpus)
        spark.sparkContext.setLogLevel("ERROR")
        print(f"{'day':<10} {'lines':>7} {'report':<12} {'seconds':>7} {'jobs':>4} "
              f"{'stages':>6} {'tasks':>5}  scan")
        steps = (("cold", config), ("re-report", config), ("config-edit", edited),
                 ("warm", config))
        for day in m["days"]:
            for step, cfg in steps:
                group = f"reuse/{day['day']}/{step}"
                spark.sparkContext.setJobGroup(group, group)
                t0 = time.perf_counter()
                report = run_ruleset_analysis(spark, day["dir"], cfg)
                write_parquet(report, os.path.join(tmp, "out"), partition_by=["status"])
                secs = time.perf_counter() - t0
                plan = report._jdf.queryExecution().executedPlan().toString()
                jobs, stages, tasks = group_counts(spark, group)
                scan = "memory" if "InMemoryTableScan" in plan else "gz"
                print(f"{day['day']:<10} {day['lines']:>7} {step:<12} {secs:>7.3f} {jobs:>4} "
                      f"{stages:>6} {tasks:>5}  {scan}")
        spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
