#!/usr/bin/env python3
"""spark-graft benchmark: one command, three workloads, outputs checked.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Workloads (see ``workloads.py`` and
``BENCHMARK.json``): ``relational_sf0.01``, ``substrates_sf0.1`` and
``ruleset_report``.

Load model: closed loop. This one client process runs operations one
after another on ``local[nproc]``; each run is a fresh process. Inputs
are generated from the seed into ``perfbench/_work`` (untimed, reused by
later runs in the same checkout). A run then

1. sets up once, timed from before the engine's import: session start
   (JVM launch), session defaults, package shipping, and the workload's
   own set-up (base-table caching, or reading the ASA config);
2. makes one cold first pass over the operations, then the workload's
   ``warm_passes`` warm passes, and more until ``--seconds`` have passed
   since the first pass began;
3. checks every operation's output outside the timed passes;
4. prints every metric by name and unit, and as its last line one JSON
   object ``{"correct", "attempted", "failed", "metrics"}``: end-to-end
   metrics with ``--trace 0``, per-layer metrics with ``--trace 1``.

A traced run records spans around the benchmark's calls into the
engine, runs every operation under its own Spark job group, writes a
Spark event log, and writes a per-operation ledger beside its summary in
``perfbench/_work/results``. The exit code is 0 when a result is printed.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import signal
import subprocess
import sys
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "_work")


def host_memory_gib() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / (1024 * 1024)
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_heap() -> str:
    """A quarter of host memory, between 1 and 8 GiB: local mode runs the
    whole engine in one JVM, and the inputs here are at most ~100 MB."""
    mib = int(min(8.0, max(1.0, host_memory_gib() / 4)) * 1024)
    return f"{mib}m"


def host_info(cpus: int, heap: str, seed: int, java: str) -> dict:
    import pyspark

    return {
        "nproc": cpus,
        "mem_gib": round(host_memory_gib(), 1),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "java": java,
        "heap": heap,
        "seed": seed,
        "machine": platform.machine(),
    }


def stop_session(spark) -> None:
    """Stop the SparkContext, then the JVM, and wait for it to exit."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def reap_descendants(timeout: float = 20.0) -> None:
    """Wait for processes this run started (Python workers outlive the
    JVM briefly); kill what remains after ``timeout``."""
    import sparkstats

    deadline = time.monotonic() + timeout
    while sparkstats.descendants() and time.monotonic() < deadline:
        time.sleep(0.2)
    for pid in sparkstats.descendants():
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


def metric_units() -> tuple[dict[str, str], dict[str, str]]:
    """Units of the end-to-end and per-layer metrics, by name, as
    BENCHMARK.json declares them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


def untraced_first_pass(results: str, workload: str, inputs: dict) -> float | None:
    """Median ``first_pass_s`` of the untraced runs recorded in this
    checkout on the same inputs (registry inputs do not depend on the
    seed, so any seed's run counts), or None when there is none."""
    from spans import median

    prefix = f"{workload}-seed"
    values = []
    for name in os.listdir(results):
        if name.startswith(prefix) and name.endswith("-trace0.json"):
            with open(os.path.join(results, name)) as f:
                run = json.load(f)
            if run["inputs"] == inputs:
                values.append(run["end_to_end"]["first_pass_s"])
    return median(values) if values else None


@dataclass
class Pass:
    """One sequential pass: per-operation latency, traced records and
    errors, wall time, and (traced) block-manager residency at its end."""
    tag: str
    lat: dict[str, float] = field(default_factory=dict)
    recs: dict[str, dict] = field(default_factory=dict)
    errors: dict[str, str] = field(default_factory=dict)
    storage: tuple[int, float, float] = (0, 0.0, 0.0)
    wall: float = 0.0
    epoch: tuple[float, float] = (0.0, 0.0)


def run_pass(wl, spark, tag: str, tr, jvm) -> Pass:
    p = Pass(tag)
    e0, t0 = time.time(), time.perf_counter()
    for op in wl.ops():
        t = time.perf_counter()
        try:
            p.recs[op] = wl.run(spark, op, tag, tr, jvm)
        except Exception as e:  # one failing operation must not end the run
            p.errors[op] = f"{type(e).__name__}: {str(e)[:300]}"
        p.lat[op] = time.perf_counter() - t
    p.wall = time.perf_counter() - t0
    p.epoch = (e0, time.time())
    if tr.enabled:
        p.storage = jvm.storage()
    return p


def warm_pass_s(warm: list[Pass]) -> float:
    """The warm pass as the sum of each operation's median warm latency:
    a burst of host contention in one pass moves one sample of the
    operations it hits, not the whole figure."""
    from spans import median

    return sum(median([w.lat[op] for w in warm]) for op in warm[0].lat)


def per_layer(wl, first: Pass, warm: list[Pass], setup_info: dict, cpus: int,
              groups: dict) -> tuple[dict, list[dict]]:
    import sparkstats
    from spans import covered, median

    def total(op: str | None = None, phase: str | None = None) -> sparkstats.GroupStats:
        """Event-log totals of the first pass; job groups are tag/op/phase.
        Without a phase, the benchmark's own counting jobs are left out."""
        acc = sparkstats.GroupStats()
        for g, s in groups.items():
            tag, g_op, g_phase = (g.split("/") + ["", ""])[:3]
            if tag == first.tag and op in (None, g_op) and (
                    g_phase == phase or phase is None and g_phase != "count"):
                acc.add(s)
        return acc

    def rsum(key: str) -> float:
        return sum(r.get(key, 0) for r in first.recs.values())

    p1 = total()
    busy = covered(p1.intervals, *first.epoch)
    layer = {
        "operators.build_s": rsum("build_s"),
        "operators.build_jobs": total(phase="build").jobs,
        "parquet.load_s": setup_info.get("load_s", 0.0),
        "parquet.cached_mb": setup_info.get("cached_mb", 0.0),
        "catalyst.plan_s": rsum("plan_s"),
        "catalyst.exchanges": rsum("exchanges"),
        "codegen.compiles": rsum("compiles"),
        "codegen.compile_s": rsum("compile_s"),
        "scheduler.jobs": p1.jobs,
        "scheduler.stages": p1.stages,
        "scheduler.tasks": p1.tasks,
        "scheduler.task_retries": p1.retries,
        "scheduler.idle_s": first.wall - busy,
        "exec.task_s": p1.task_s,
        "exec.core_util": p1.task_s / (first.wall * cpus),
        "shuffle.write_mb": p1.shuffle_write_mb,
        "shuffle.read_mb": p1.shuffle_read_mb,
        "shuffle.spill_mb": p1.spill_mb,
        "cache.rdds": first.storage[0],
        "cache.mem_mb": first.storage[1],
        "cache.disk_mb": first.storage[2],
        "python.nodes": rsum("python_nodes"),
        "python.op_s": sum(first.lat[op] for op, r in first.recs.items()
                           if r.get("python_nodes")),
        "asa_config.rules": rsum("rules"),
        "asa_config.build_s": rsum("config_s"),
        "text_logs.lines": rsum("lines"),
        "text_logs.hits": rsum("hits"),
        "text_logs.parse_s": rsum("parse_s"),
        "pipeline.flows": rsum("flows"),
        "pipeline.flows_per_hit": rsum("flows") / rsum("hits") if rsum("hits") else 0.0,
        "pipeline.match_s": rsum("match_s"),
        "sinks.write_s": rsum("write_s"),
        "sinks.files": rsum("files"),
        "sinks.write_mb": rsum("write_mb"),
        "trace.first_pass_s": first.wall,
    }

    ledger = []
    for op in wl.ops():
        r, g_all = first.recs.get(op, {}), total(op)
        ledger.append({
            "op": op,
            "first_s": first.lat[op],
            "warm_s": median([w.lat[op] for w in warm]),
            "build_s": r.get("build_s", 0.0),
            "build_jobs": total(op, "build").jobs,
            "jobs": g_all.jobs,
            "stages": g_all.stages,
            "tasks": g_all.tasks,
            "jobs_x_stages": g_all.jobs * g_all.stages,
            "compiles": r.get("compiles", 0),
            "warm_compiles": warm[0].recs.get(op, {}).get("compiles", 0),
            "compile_s": r.get("compile_s", 0.0),
            "plan_s": r.get("plan_s", 0.0),
            "exchanges": r.get("exchanges", 0),
            "shuffle_mb": g_all.shuffle_write_mb,
            "python_nodes": r.get("python_nodes", 0),
        })
    ledger.sort(key=lambda x: (-x["jobs_x_stages"], -x["compiles"], x["op"]))
    return layer, ledger


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "ruleset_analysis_spark", "__init__.py")):
        print("perfbench: no ruleset_analysis_spark package beside perfbench/; "
              "run from the root of a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    import sparkstats
    import workloads
    from spans import Tracer, fmt, median, self_time_by_name, tail

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"one of {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    traced = bool(args.trace)
    cpus = len(os.sched_getaffinity(0))
    heap = driver_heap()
    results = os.path.join(WORK, "results")
    events = os.path.join(WORK, "eventlog")
    for d in (results, events, os.path.join(WORK, "tmp"), os.path.join(WORK, "spark-local")):
        os.makedirs(d, exist_ok=True)
    # keep every file the engine and Spark write inside the checkout
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "TMPDIR": os.path.join(WORK, "tmp"),
        "SPARK_LOCAL_DIRS": os.path.join(WORK, "spark-local"),
        "PYSPARK_SUBMIT_ARGS": (
            f"--driver-java-options -Djava.io.tmpdir={os.path.join(WORK, 'tmp')} "
            + sparkstats.submit_args(events if traced else None)
        ),
    })

    wl = workloads.WORKLOADS[args.workload]()
    t_prep = time.perf_counter()
    inputs = wl.prepare(WORK, args.seed)
    phase_s = {"prepare": time.perf_counter() - t_prep}
    tr = Tracer(traced)
    load0, t_load = sparkstats.host_load(), time.perf_counter()
    with tr.span("setup"):
        from ruleset_analysis_spark.session import get_spark

        spark = get_spark(app_name=f"perfbench-{args.workload}", cpus=cpus,
                          driver_memory=heap)
        spark.sparkContext.setLogLevel("ERROR")
        setup_info = wl.setup(spark, tr)
    setup_s = time.perf_counter() - t_load
    jvm = sparkstats.JvmCounters(spark)
    if traced:
        setup_info["cached_mb"] = jvm.storage()[1]
    app_id = spark.sparkContext.applicationId
    java = spark._jvm.java.lang.System.getProperty("java.runtime.version")

    t_meas = time.perf_counter()
    first = run_pass(wl, spark, "p1", tr, jvm)
    warm: list[Pass] = []
    while len(warm) < wl.warm_passes or time.perf_counter() - t_meas < args.seconds:
        warm.append(run_pass(wl, spark, f"p{len(warm) + 2}", tr, jvm))
    spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
    peak_rss = sparkstats.peak_rss_mb()
    phase_s["setup"] = setup_s
    phase_s["passes"] = time.perf_counter() - t_meas
    load = {k: v - load0[k] for k, v in sparkstats.host_load().items()}
    load["window_s"] = time.perf_counter() - t_load
    t_check = time.perf_counter()

    failures: dict[str, str] = {}
    for p in [first, *warm]:
        for op, err in p.errors.items():
            failures.setdefault(op, err)

    def check(op: str) -> str | None:
        try:
            return wl.check(spark, op)
        except Exception as e:  # a check that raises is a failed operation
            return f"{type(e).__name__}: {str(e)[:300]}"

    # one check per core: Spark collects and DuckDB twins overlap
    todo = [op for op in wl.ops() if op not in failures]
    with ThreadPoolExecutor(max_workers=cpus) as pool:
        for op, problem in zip(todo, pool.map(check, todo)):
            if problem:
                failures[op] = problem
    phase_s["checks"] = time.perf_counter() - t_check
    t_stop = time.perf_counter()
    stop_session(spark)
    reap_descendants()
    phase_s["stop"] = time.perf_counter() - t_stop

    lat = list(first.lat.values())
    pct, tail_s, beyond = tail(lat)
    e2e = {
        "setup_s": setup_s,
        "first_pass_s": first.wall,
        "warm_pass_s": warm_pass_s(warm),
        "op_p50_s": median(lat),
        "lines_per_s": wl.input_lines / first.wall,
    }
    e2e_units, layer_units = metric_units()
    summary = {
        "workload": args.workload, "trace": args.trace, "host": host_info(cpus, heap, args.seed, java),
        "inputs": inputs, "phase_s": phase_s,
        "warm_passes_s": [w.wall for w in warm],
        "warm_passes_ops_s": [w.lat for w in warm],
        "op_tail": {"percentile": pct, "samples": len(lat), "beyond": beyond, "value_s": tail_s},
        "peak_rss_mb": peak_rss, "host_load": load,
        "first_pass_ops_s": first.lat,
        "warm_pass_ops_s": {op: median([w.lat[op] for w in warm]) for op in first.lat},
        "failures": failures,
        "end_to_end": e2e,
    }
    print(f"workload {args.workload}  seed {args.seed}  ops {len(lat)}  "
          f"warm passes {len(warm)}  host {summary['host']}")
    print(f"inputs: {json.dumps(inputs)}")
    for k, v in e2e.items():
        print(f"{k:>14} {fmt(v):>12} {e2e_units.get(k, 's')}"
              + ("" if k in e2e_units else " (not a bounded metric)"))
    print(f"{'failed_frac':>14} {fmt(len(failures) / len(lat)):>12} ratio "
          f"({len(failures)} of {len(lat)} operations)")
    print(f"{'op_tail_s':>14} {fmt(tail_s):>12} s (p{pct:.1f} of {len(lat)} first-pass samples, "
          f"{beyond} beyond it; not a bounded metric)")
    print(f"{'peak_rss_mb':>14} {fmt(peak_rss):>12} MB (summed VmHWM of the JVM and Python workers; not a bounded metric)")
    print("host load over set-up and passes: "
          + ", ".join(f"{k} {v:.2f}" for k, v in load.items()))
    for op, why in sorted(failures.items()):
        print(f"FAILED {op}: {why}")

    if traced:
        groups = sparkstats.read_event_log(os.path.join(events, app_id))
        layer, ledger = per_layer(wl, first, warm, setup_info, cpus, groups)
        layer["memory.peak_rss_mb"] = peak_rss
        self_s = self_time_by_name(tr.spans)
        base = untraced_first_pass(results, args.workload, inputs)
        overhead = None if base is None else first.wall - base
        summary.update(per_layer=layer, self_time_s=self_s, tracing_overhead_s=overhead)
        for k, v in layer.items():
            print(f"{k:>24} {fmt(v):>12} {layer_units.get(k, 's')}")
        print("self time by span: " + ", ".join(f"{k} {fmt(v)} s" for k, v in self_s.items()))
        print("tracing overhead (traced - untraced median first_pass_s, same inputs): "
              + (f"{overhead:+.3f} s" if overhead is not None else "n/a (no untraced run recorded)"))
        stem = os.path.join(results, f"{args.workload}-seed{args.seed}")
        with open(stem + "-ledger.json", "w") as f:
            json.dump(ledger, f, indent=1)
        with open(stem + "-spans.json", "w") as f:
            json.dump(tr.to_json(), f)
        print(f"ledger: {stem}-ledger.json (sorted by jobs x stages)")
        for row in ledger[:10]:
            print(f"  {row['op']:<32} jobs {row['jobs']:>3} stages {row['stages']:>3} "
                  f"compiles {row['compiles']:>4} first {row['first_s']:.3f}s warm {row['warm_s']:.3f}s")
        for f in os.listdir(events):  # one log per session started
            os.remove(os.path.join(events, f))
    with open(os.path.join(results, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as f:
        json.dump(summary, f, indent=1)

    values, units = (summary["per_layer"], layer_units) if traced else (e2e, e2e_units)
    missing = set(units) - set(values)
    if missing:
        raise RuntimeError(f"metrics declared in BENCHMARK.json but not measured: {sorted(missing)}")
    metrics = {k: {"value": values[k], "unit": u} for k, u in units.items()}
    print(json.dumps({"correct": not failures, "attempted": len(lat),
                      "failed": len(failures), "metrics": metrics}), flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
