"""Tests of the benchmark's own logic: order statistics, span self time,
input generation, memory and load readings, and the ruleset report and
engine counts against generated ground truth.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import filecmp
import json
import os
import time

import pytest

import asa_gen
from spans import Span, covered, self_times, tail


def test_tail_has_ten_samples_beyond():
    xs = [float(i) for i in range(1, 25)]  # 24 samples, shuffled order irrelevant
    pct, value, beyond = tail(list(reversed(xs)))
    assert beyond == 10
    assert value == 14.0
    assert sum(x > value for x in xs) == 10
    assert pct == pytest.approx(100 * 14 / 24)


def test_tail_grows_with_sample_count():
    assert tail([float(i) for i in range(100)])[:2] == (90.0, 89.0)
    assert tail([float(i) for i in range(11)]) == (100 / 11, 0.0, 10)


def test_tail_too_few_samples_reports_max_and_zero_beyond():
    assert tail([3.0, 1.0, 2.0]) == (100.0, 3.0, 0)
    with pytest.raises(ValueError):
        tail([])


def test_self_time_subtracts_children_once():
    spans = [
        Span("op", 0.0, 10.0),
        Span("build", 1.0, 3.0, parent=0),
        Span("run", 2.0, 6.0, parent=0),  # overlaps build by 1 s
        Span("inner", 4.0, 5.0, parent=2),
        Span("late", 9.0, 12.0, parent=0),  # clipped to the parent's end
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - (5.0 + 1.0))
    assert st[1] == pytest.approx(2.0)
    assert st[2] == pytest.approx(3.0)
    assert st[3] == pytest.approx(1.0)
    assert st[4] == pytest.approx(3.0)


def test_covered_merges_and_clips():
    assert covered([(0, 2), (1, 3), (5, 6), (8, 20)], 1, 10) == pytest.approx(2 + 1 + 2)
    assert covered([], 0, 1) == 0.0


def _manifest_without_paths(m: dict) -> dict:
    out = {k: v for k, v in m.items() if k != "config"}
    out["days"] = [{k: v for k, v in d.items() if k != "dir"} for d in m["days"]]
    return out


def test_generator_is_deterministic(tmp_path):
    a = asa_gen.generate(str(tmp_path / "a"), seed=7, days=2, flows_per_day=80)
    b = asa_gen.generate(str(tmp_path / "b"), seed=7, days=2, flows_per_day=80)
    assert _manifest_without_paths(a) == _manifest_without_paths(b)
    cmp = filecmp.dircmp(tmp_path / "a", tmp_path / "b")
    files = []
    for root, _, names in os.walk(tmp_path / "a"):
        files += [os.path.relpath(os.path.join(root, n), tmp_path / "a") for n in names]
    match, mismatch, errors = filecmp.cmpfiles(tmp_path / "a", tmp_path / "b", files, shallow=False)
    assert not mismatch and not errors and len(match) == len(files) > 2
    assert not cmp.left_only and not cmp.right_only
    c = asa_gen.generate(str(tmp_path / "c"), seed=8, days=2, flows_per_day=80)
    assert c["expected"] != a["expected"]


def test_generator_states_its_size(tmp_path):
    m = asa_gen.generate(str(tmp_path), seed=1, days=3, flows_per_day=60)
    assert m["files"] == 3 * asa_gen.FILES_PER_DAY
    assert m["lines"] == sum(d["lines"] for d in m["days"]) > sum(d["hit_lines"] for d in m["days"])
    assert m["expanded_rules"] >= m["statements"]
    for day, counts in m["expected"].items():
        statuses = {v[4] for v in counts.values()}
        assert statuses == {"ACTIVE", "UNUSED"}, day


def test_days_share_flow_count_and_vary_lines_per_flow(tmp_path):
    m = asa_gen.generate(str(tmp_path), seed=5, days=3, flows_per_day=50)
    for day, lines_per_flow in zip(m["days"], asa_gen.LINES_PER_FLOW):
        assert day["lines_per_flow"] == lines_per_flow
        assert day["hit_lines"] == 50 * lines_per_flow
        assert 45 <= day["flows"] <= 50  # two draws may land on one flow


def test_untraced_first_pass_is_the_median_on_the_same_inputs(tmp_path):
    import run

    def record(name: str, inputs: dict, first_pass_s: float) -> None:
        with open(tmp_path / name, "w") as f:
            json.dump({"inputs": inputs, "end_to_end": {"first_pass_s": first_pass_s}}, f)

    record("wl-seed1-trace0.json", {"rows": 1}, 1.0)
    record("wl-seed2-trace0.json", {"rows": 1}, 3.0)
    record("wl-seed3-trace0.json", {"rows": 2}, 100.0)  # other inputs
    record("wl-seed1-trace1.json", {"rows": 1}, 50.0)  # a traced run
    assert run.untraced_first_pass(str(tmp_path), "wl", {"rows": 1}) == 2.0
    assert run.untraced_first_pass(str(tmp_path), "wl", {"rows": 3}) is None


def test_warm_pass_is_the_sum_of_per_operation_medians():
    import run

    # a burst in the first pass's "a" and the second pass's "b" moves
    # neither operation's median
    lat = ({"a": 9.0, "b": 2.0}, {"a": 1.0, "b": 8.0}, {"a": 1.2, "b": 2.2},
           {"a": 1.4, "b": 2.4})
    warm = [run.Pass(f"p{i}", lat=dict(x)) for i, x in enumerate(lat, 2)]
    assert run.warm_pass_s(warm) == pytest.approx(1.3 + 2.3)


def test_baseline_summarizes_one_host_and_refuses_two(tmp_path):
    import baseline

    def record(seed: int, value: float, java: str = "17") -> None:
        with open(tmp_path / f"wl-seed{seed}-trace0.json", "w") as f:
            json.dump({"host": {"nproc": 4, "java": java, "seed": seed}, "failures": {},
                       "end_to_end": {"first_pass_s": value},
                       "host_load": {"steal_s": 0.5}}, f)

    for seed, value in zip(range(1, 6), (5.0, 1.0, 2.0, 4.0, 3.0)):
        record(seed, value)
    out = baseline.summarize(str(tmp_path), [baseline.workload_seeds("wl:1-5")])
    m = out["workloads"]["wl"]["metrics"]["first_pass_s"]
    assert (m["median"], m["q1"], m["q3"]) == (3.0, 1.5, 4.5)
    assert m["spread"] == pytest.approx(1.0)
    assert out["host"] == {"nproc": 4, "java": "17"}
    record(6, 3.0, java="21")
    with pytest.raises(ValueError, match="different hosts"):
        baseline.summarize(str(tmp_path), [("wl", list(range(1, 7)))])


def test_host_load_counters_are_cumulative():
    import sparkstats

    a = sparkstats.host_load()
    b = sparkstats.host_load()
    assert a.keys() == b.keys() and "steal_s" in a
    assert all(b[k] >= a[k] >= 0 for k in a)


@pytest.fixture(scope="module")
def spark():
    from ruleset_analysis_spark.session import get_spark

    s = get_spark(app_name="perfbench-tests", cpus=2, driver_memory="1g")
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


def test_pipeline_reproduces_generated_counts(spark, tmp_path):
    from ruleset_analysis_spark.pipeline import run_ruleset_analysis
    from workloads import report_problem

    m = asa_gen.generate(str(tmp_path), seed=3, days=2, flows_per_day=100)
    with open(m["config"]) as f:
        config = f.read()
    for day in m["days"]:
        rows = run_ruleset_analysis(spark, day["dir"], config).collect()
        assert report_problem(rows, m["expected"][day["day"]]) is None
        assert sum(r["n_flows"] for r in rows) == day["flows"]


def test_engine_counts_match_the_generators_sizes(spark, tmp_path):
    from ruleset_analysis_spark.sources.asa_config import rules_dataframe
    from ruleset_analysis_spark.sources.text_logs import parse_asa_hits, read_log_lines

    m = asa_gen.generate(str(tmp_path), seed=4, days=1, flows_per_day=60)
    with open(m["config"]) as f:
        assert rules_dataframe(spark, f.read()).count() == m["expanded_rules"]
    day = m["days"][0]
    lines = read_log_lines(spark, day["dir"])
    assert lines.count() == day["lines"]
    assert parse_asa_hits(lines).count() == day["hit_lines"]


def test_peak_rss_counts_a_child_process():
    import subprocess
    import sys

    import sparkstats

    child = subprocess.Popen([sys.executable, "-c", "import time; x = bytearray(64 << 20); time.sleep(30)"])
    try:
        deadline = time.monotonic() + 20
        while sparkstats.peak_rss_mb() < 64 and time.monotonic() < deadline:
            time.sleep(0.1)
        assert sparkstats.peak_rss_mb() >= 64
    finally:
        child.kill()
        child.wait()


def test_report_check_rejects_a_wrong_count(tmp_path):
    m = asa_gen.generate(str(tmp_path), seed=3, days=1, flows_per_day=40)
    want = m["expected"][m["days"][0]["day"]]
    rows = [dict(zip(("acl", "rule_id"), k.split("/")), action=v[0], hits=v[1],
                 n_flows=v[2], n_sources=v[3], status=v[4]) for k, v in want.items()]
    for r in rows:
        r["rule_id"] = int(r["rule_id"])
    from workloads import report_problem

    assert report_problem(rows, want) is None
    rows[0]["hits"] += 1
    assert "got" in report_problem(rows, want)
