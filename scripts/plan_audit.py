#!/usr/bin/env python
"""Registry profiler: one row per registered query → PLANS.md, and a
per-query ledger of first-pass counts and times → the JSON file beside
it (``PLANS.json``).

Two passes over the queries, in name order:

1. **Ledger.** The session is warmed with ``bench.py``'s own
   ``warm_up`` (warmup queries, pagerank substrate, hot base tables)
   and every query is materialized with bench's noop sink under AQE,
   so the times are bench's. Queries run one at a time, and job ids
   are sequential within one SparkContext, so a query's jobs are the
   ids submitted between its builder call and the end of its first run:

   * ``jobs``     — jobs of the query's first pass (the builder call
     plus the first run; in-builder probe actions and a streaming
     query's micro-batches count)
   * ``stages``   — stages of those jobs that ran at least one task; a
     stage skipped because its shuffle output was reused does not
     count (as in perfbench's ``scheduler.stages``)
   * ``tasks``    — tasks those stages completed; a stage of one task
     over work worth more runs on one core while the others idle
   * ``compiles`` — whole-stage codegen compiles over the same span
     (``JvmCounters``)
   * ``build``, ``run1``, ``run2`` — seconds of the builder call, the
     first run and a fresh build's run (the steady-state floor); to
     stdout and the JSON ledger only

2. **Static plans.** A second, cold session with AQE off builds every
   query again and counts features of ``executedPlan`` (the source
   tests/test_plan_shape.py asserts against), with the stored child
   plan of each InMemoryRelation dropped (``_strip_cached_subtrees``):

   * ``exch``    — Exchange count (shuffles; the unit of cluster cost)
   * ``bhj/smj/bnl`` — broadcast-hash / sort-merge / broadcast-nested-
     loop join counts (bnl is allowlisted to O(1)-row build sides by
     tests/test_plan_shape.py)
   * ``push``    — a parquet scan carries PushedFilters
   * ``topk``    — TakeOrderedAndProject (per-partition heaps, no
     global sort)
   * ``arrow``   — Arrow-batched Python nodes (the declared §2.H/G
     surface); BatchEvalPython (row-at-a-time) is banned by tests and
     would show in this column as ``PY!``

Usage: python scripts/plan_audit.py [query ...] [--sf DIR] [--out PLANS.md]

Naming queries profiles only those; give such a run its own ``--out``.
One query's plan is printed by ``scripts/check.py NAME --explain``.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from bench import run, warm_up  # noqa: E402

COLUMNS = ("exch", "bhj", "smj", "bnl", "push", "topk", "arrow",
           "jobs", "stages", "tasks", "compiles")


def _strip_cached_subtrees(plan: str) -> str:
    """Drop the stored child plan under every InMemoryRelation node.

    ``executedPlan().toString()`` prints a persisted relation's FULL
    cached plan once per reference, so a query that scans a memoized
    substrate three times appears to contain 3× the substrate's
    exchanges — but at runtime those execute ONCE (first
    materialization) and every reference is an InMemoryTableScan.
    Counting them would punish exactly the materialize-once/
    consume-many pattern the scale design prescribes."""
    out = []
    skip_deeper_than = None
    for line in plan.splitlines():
        indent = len(line) - len(line.lstrip(" :+-*"))
        if skip_deeper_than is not None:
            if indent > skip_deeper_than:
                continue
            skip_deeper_than = None
        out.append(line)
        if "InMemoryRelation" in line:
            skip_deeper_than = indent
    return "\n".join(out)


def plan_features(df) -> dict[str, str]:
    """The static plan columns of ``df``."""
    plan = _strip_cached_subtrees(df._jdf.queryExecution().executedPlan().toString())
    arrow = sum(plan.count(n) for n in (
        "ArrowEvalPython", "MapInPandas", "FlatMapGroupsInPandas",
        "BatchEvalUDTF", "PythonUDTF",
    ))
    return {
        "exch": str(len(re.findall(r"\bExchange\b", plan))),
        "bhj": str(plan.count("BroadcastHashJoin")),
        "smj": str(plan.count("SortMergeJoin")),
        "bnl": str(plan.count("BroadcastNestedLoopJoin")),
        "push": "y" if re.search(r"PushedFilters: \[[^\]]", plan) else "",
        "topk": "y" if "TakeOrderedAndProject" in plan else "",
        "arrow": (str(arrow) if arrow else "") + ("PY!" if "BatchEvalPython" in plan else ""),
    }


def jobs_submitted(sc) -> int:
    """Jobs submitted so far in this SparkContext; the next job's id."""
    return sc._jsc.sc().dagScheduler().numTotalJobs()


def jobs_since(sc, first_job: int) -> tuple[int, int, int]:
    """(jobs, stages that ran a task, tasks those stages completed) of
    the jobs with ids from ``first_job`` on."""
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    jobs = range(first_job, jobs_submitted(sc))
    infos = [tracker.getJobInfo(j) for j in jobs]
    stages = {s for info in infos if info for s in info.stageIds}
    ran = [s for s in map(tracker.getStageInfo, stages) if s and s.numCompletedTasks > 0]
    return len(jobs), len(ran), sum(s.numCompletedTasks for s in ran)


def ledger_record(spark, builder, sf_dir: str, jvm) -> dict:
    """One ledger record: first-pass counts and build/run1/run2 times."""
    sc = spark.sparkContext
    first_job = jobs_submitted(sc)
    compiles0 = jvm.codegen()[0]
    t0 = time.perf_counter()
    df = builder(spark, sf_dir)
    t1 = time.perf_counter()
    run(df)
    t2 = time.perf_counter()
    jobs, stages, tasks = jobs_since(sc, first_job)
    compiles = jvm.codegen()[0] - compiles0
    t3 = time.perf_counter()
    run(builder(spark, sf_dir))
    t4 = time.perf_counter()
    return {"jobs": jobs, "stages": stages, "tasks": tasks, "compiles": compiles,
            "build": round(t1 - t0, 3), "run1": round(t2 - t1, 3), "run2": round(t4 - t3, 3)}


def each_query(names, step) -> dict[str, dict]:
    """``step(name)`` per query; a query that raises is shown and
    left out of the result."""
    out = {}
    for name in names:
        try:
            out[name] = step(name)
        except Exception as exc:  # show and continue
            print(f"[ERR ] {name}: {type(exc).__name__}: {str(exc)[:200]}", flush=True)
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*", help="query names (default: all)")
    ap.add_argument("--sf", default="/root/testdata/sf0.001")
    ap.add_argument("--out", default=os.path.join(ROOT, "PLANS.md"))
    args = ap.parse_args()

    from ruleset_analysis_spark.plans.registry import all_specs
    from ruleset_analysis_spark.session import get_spark

    sys.path.append(os.path.join(ROOT, "perfbench"))
    from sparkstats import JvmCounters

    specs = all_specs()
    names = args.names or sorted(specs)
    unknown = [n for n in names if n not in specs]
    if unknown:
        print(f"unknown queries: {unknown}")
        return 2

    spark = get_spark(app_name="plan-audit", driver_memory="8g")
    warm_up(spark, args.sf, specs)
    jvm = JvmCounters(spark)

    def timed(name: str) -> dict:
        rec = ledger_record(spark, specs[name].builder, args.sf, jvm)
        print(f"{name:40s} build={rec['build']:7.3f} run1={rec['run1']:7.3f} "
              f"run2={rec['run2']:7.3f} jobs={rec['jobs']:>3} "
              f"stages={rec['stages']:>3} tasks={rec['tasks']:>4} "
              f"compiles={rec['compiles']:>4}", flush=True)
        return rec

    ledger = each_query(names, timed)
    spark.stop()

    # The static plans come from a second, cold session with AQE off,
    # the state tests/test_plan_shape.py asserts in. In the warmed one
    # a hot base table hides its scan's PushedFilters behind an
    # InMemoryRelation, and a substrate persisted under AQE prints
    # "== Final Plan ==" sections whose indentation resets, which
    # defeats _strip_cached_subtrees. The ledger runs first so that this
    # pass's probe actions cannot pre-compile the ledger's code.
    spark = get_spark(app_name="plan-audit", driver_memory="8g")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    plans = each_query(names, lambda name: plan_features(specs[name].builder(spark, args.sf)))

    rows = []
    for name in names:
        if name in plans and name in ledger:
            cells = [str({**plans[name], **ledger[name]}[c]) for c in COLUMNS]
        else:
            cells = ["ERR"] + [""] * (len(COLUMNS) - 1)
        rows.append((name, specs[name].category, *cells))

    cmd = " ".join(["python scripts/plan_audit.py", *args.names, "--sf", args.sf])
    hdr = (
        "# PLANS — physical-plan audit and first-pass ledger of every registered query\n\n"
        f"Generated by `{cmd}`.\n"
        "Column meanings in the script docstring; the invariants the\n"
        "plan numbers must respect are ASSERTED by tests/test_plan_shape.py\n"
        "(BatchEvalPython banned, cartesian banned, BNLJ allowlisted to\n"
        "O(1)-row build sides, pushdown/pruning/top-k pinned per query)\n"
        "— this file is the human-readable readout, not the enforcement.\n"
        "`jobs`, `stages`, `tasks` and `compiles` count each query's first pass\n"
        "(builder call plus first run) after bench.py's warm-up; the\n"
        "build/run1/run2 seconds of the same run are in the JSON file\n"
        "beside this one.\n\n"
        "| query | family | " + " | ".join(COLUMNS) + " |\n"
        + "| --- " * (len(COLUMNS) + 2) + "|\n"
    )
    with open(args.out, "w") as f:
        f.write(hdr + "".join("| " + " | ".join(r) + " |\n" for r in rows))
    ledger_path = os.path.splitext(args.out)[0] + ".json"
    with open(ledger_path, "w") as f:
        json.dump(ledger, f, indent=1, sort_keys=True)
    tot = {k: round(sum(v[k] for v in ledger.values()), 2)
           for k in ("build", "run1", "run2", "jobs", "stages", "tasks", "compiles")}
    print(f"wrote {args.out}, {ledger_path}: {len(rows)} queries")
    print("TOTALS:", json.dumps(tot))
    return 0 if len(plans) == len(ledger) == len(names) else 1


if __name__ == "__main__":
    raise SystemExit(main())
