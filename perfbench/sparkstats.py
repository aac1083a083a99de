"""Spark-side counters: the event log, JVM counters via py4j, process memory.

Nothing here changes what the engine computes. The event log is
enabled only for traced runs, and the JVM counters are read only by
traced runs.
"""

from __future__ import annotations

import json
import os
import re
from collections import defaultdict
from dataclasses import dataclass, field

PHASES = ("analysis", "optimization", "planning")
# physical operators that cross into Python workers
_PYTHON_NODE = re.compile(r"Python|Pandas|InArrow|ArrowEval")
_NODE = re.compile(r"^[\s:|+\-]*(\*\(\d+\)\s*)?([A-Za-z]+)")


def submit_args(event_dir: str | None) -> str:
    """``PYSPARK_SUBMIT_ARGS`` for the benchmark's JVM. An uncompressed,
    non-rolling event log is written to ``event_dir`` when given."""
    confs = {"spark.ui.showConsoleProgress": "false"}
    if event_dir:
        confs.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.abspath(event_dir),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return " ".join(f"--conf {k}={v}" for k, v in confs.items()) + " pyspark-shell"


class JvmCounters:
    """Process-wide JVM counters: codegen compiles and compile time, and
    block-manager residency of persisted RDDs."""

    def __init__(self, spark) -> None:
        jvm = spark._jvm
        self._sc = spark.sparkContext
        self._metrics = jvm.org.apache.spark.metrics.source.CodegenMetrics
        self._codegen = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

    def codegen(self) -> tuple[int, float]:
        """(compiles so far, compile seconds so far)."""
        count = self._metrics.METRIC_COMPILATION_TIME().getCount()
        return int(count), self._codegen.compileTime() / 1e9

    def storage(self) -> tuple[int, float, float]:
        """(persisted RDDs with cached blocks, memory MB, disk MB)."""
        infos = [i for i in self._sc._jsc.sc().getRDDStorageInfo() if i.numCachedPartitions() > 0]
        mb = 1024 * 1024
        return (len(infos), sum(i.memSize() for i in infos) / mb,
                sum(i.diskSize() for i in infos) / mb)


def plan_features(df) -> dict:
    """Force optimization and physical planning of ``df``; return the
    Catalyst phase time and the exchange / Python node counts of its
    physical plan (before adaptive re-planning)."""
    qe = df._jdf.queryExecution()
    plan = qe.executedPlan().toString()
    phases = qe.tracker().phases()
    plan_ms = sum(phases.apply(p).durationMs() for p in PHASES if phases.contains(p))
    names = [m.group(2) for m in map(_NODE.match, plan.splitlines()) if m]
    return {
        "plan_s": plan_ms / 1000.0,
        "exchanges": sum(n.endswith("Exchange") and n != "ReusedExchange" for n in names),
        "python_nodes": sum(bool(_PYTHON_NODE.search(n)) for n in names),
    }


def host_load() -> dict[str, float]:
    """Host-wide CPU counters since boot: ``steal_s``, CPU time the
    hypervisor gave to other guests (summed over CPUs), and, where the
    kernel reports pressure stall information, ``cpu_stall_s``, time in
    which some runnable task waited for a CPU. Differences between two
    readings tell how contended a measured window was."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    out = {"steal_s": int(fields[8]) / os.sysconf("SC_CLK_TCK")}
    try:
        with open("/proc/pressure/cpu") as f:
            some = f.readline().split()
        out["cpu_stall_s"] = int(some[-1].split("=")[1]) / 1e6
    except (OSError, IndexError, ValueError):
        pass
    return out


def descendants() -> list[int]:
    """Live descendant pids of this process."""
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        parent[int(d)] = int(stat.rsplit(")", 1)[1].split()[1])
    kids: dict[int, list[int]] = defaultdict(list)
    for pid, ppid in parent.items():
        kids[ppid].append(pid)
    out, todo = [], list(kids[os.getpid()])
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids[pid])
    return out


def peak_rss_mb() -> float:
    """Summed peak resident memory (``VmHWM``) of this process's live
    descendants: the JVM and the Python workers it forks. The kernel
    keeps each process's high-water mark, so one reading after the passes
    covers the run without a sampling thread. Processes may peak at
    different times, so the sum bounds the peak of the total from above;
    a worker that has already exited is not counted."""
    total_kb = 0
    for pid in descendants():
        try:
            with open(f"/proc/{pid}/status") as f:
                total_kb += next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
        except (OSError, StopIteration):
            continue
    return total_kb / 1024


@dataclass
class GroupStats:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    retries: int = 0
    task_s: float = 0.0
    shuffle_write_mb: float = 0.0
    shuffle_read_mb: float = 0.0
    spill_mb: float = 0.0
    intervals: list[tuple[float, float]] = field(default_factory=list)

    def add(self, other: "GroupStats") -> None:
        for k in ("jobs", "stages", "tasks", "retries", "task_s",
                  "shuffle_write_mb", "shuffle_read_mb", "spill_mb"):
            setattr(self, k, getattr(self, k) + getattr(other, k))
        self.intervals += other.intervals


def read_event_log(path: str) -> dict[str, GroupStats]:
    """Aggregate one application's event log by job group."""
    mb = 1024 * 1024
    groups: dict[str, GroupStats] = defaultdict(GroupStats)
    stage_group: dict[int, str] = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                g = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                groups[g].jobs += 1
            elif kind == "SparkListenerStageSubmitted":
                g = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                info = ev["Stage Info"]
                stage_group[info["Stage ID"]] = g
                if info["Stage Attempt ID"] == 0:
                    groups[g].stages += 1
            elif kind == "SparkListenerTaskEnd":
                gs = groups[stage_group.get(ev["Stage ID"], "")]
                info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                gs.tasks += 1
                if info["Attempt"] > 0 or ev["Stage Attempt ID"] > 0 or info["Failed"]:
                    gs.retries += 1
                gs.intervals.append((info["Launch Time"] / 1000.0, info["Finish Time"] / 1000.0))
                gs.task_s += m.get("Executor Run Time", 0) / 1000.0
                sw = m.get("Shuffle Write Metrics") or {}
                sr = m.get("Shuffle Read Metrics") or {}
                gs.shuffle_write_mb += sw.get("Shuffle Bytes Written", 0) / mb
                gs.shuffle_read_mb += (sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)) / mb
                gs.spill_mb += m.get("Disk Bytes Spilled", 0) / mb
    return dict(groups)
