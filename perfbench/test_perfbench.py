"""Tests of the benchmark's own code: order statistics, the run summary,
span self time, the input generator, the metric list in BENCHMARK.json,
and a small smoke run of every workload (so the step lists cannot go stale
against the engine's query registry).

Run from the repository root: python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import statistics
import subprocess
import sys
from pathlib import Path

import pyarrow as pa
import pytest

import gen
import measure
import run
import summary
import workloads

ROOT = Path(__file__).resolve().parent.parent
SAMPLES = [3.0, 1.0, 4.0, 1.0, 5.0, 9.0, 2.0, 6.0, 5.0, 3.0, 5.0]


def test_median_reports_value_and_count():
    assert measure.median(SAMPLES) == {"value": statistics.median(SAMPLES), "n": 11}
    assert measure.median([2.0, 4.0]) == {"value": 3.0, "n": 2}
    with pytest.raises(ValueError):
        measure.median([])


def test_quartiles_match_statistics_quantiles():
    q = measure.quartiles(SAMPLES)
    assert [q["q1"], q["q2"], q["q3"]] == statistics.quantiles(SAMPLES, n=4)
    assert q["n"] == 11
    with pytest.raises(ValueError):
        measure.quartiles([1.0])


def test_percentile_counts_samples_beyond():
    values = [float(v) for v in range(1, 101)]
    p90 = measure.percentile(values, 90)
    assert p90 == {"value": 90.0, "n": 100, "beyond": 10}
    assert measure.percentile(values, 100)["beyond"] == 0
    assert measure.percentile([7.0], 50) == {"value": 7.0, "n": 1, "beyond": 0}
    with pytest.raises(ValueError):
        measure.percentile(values, 0)


def test_summary_reports_spread_and_a_tail_with_ten_beyond():
    records = [
        {"workload": "w", "env_key": "e", "wall_s": float(v), "cpu_s": 2.0,
         "setup_s": 1.0}
        for v in range(1, 21)
    ]
    wall = next(r for r in summary.summarize(records) if r["metric"] == "wall_s")
    q1, _, q3 = statistics.quantiles([float(v) for v in range(1, 21)], n=4)
    assert wall["n"] == 20 and wall["value"] == 10.5
    assert wall["spread"] == pytest.approx((q3 - q1) / 10.5)
    # p50 is the highest listed percentile with ten samples above it
    assert wall["p50"] == 10.0 and "p75" not in wall


def test_union_length_merges_overlaps():
    assert measure.union_length([]) == 0
    assert measure.union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert measure.union_length([(0, 10), (2, 3), (4, 5)]) == 10


def test_self_time_subtracts_covered_interval_once():
    tracer = measure.Tracer()
    parent = tracer.start("step", "step")
    parent.start, parent.end = 10.0, 20.0
    # two overlapping children cover 11..15, a third runs past the end
    tracer.add("a", "job", parent, 11.0, 14.0)
    tracer.add("b", "job", parent, 12.0, 15.0)
    tracer.add("c", "job", parent, 18.0, 25.0)
    assert tracer.self_time(parent) == pytest.approx(10.0 - 4.0 - 2.0)
    leaf = tracer.spans[1]
    assert tracer.self_time(leaf) == pytest.approx(3.0)
    spans = {s["name"]: s for s in tracer.to_json()}
    assert spans["step"]["self_s"] == pytest.approx(4.0)


def test_generator_is_a_function_of_seed_and_scale():
    a, b = gen.build(7, 0.001), gen.build(7, 0.001)
    assert all(a[t].equals(b[t]) for t in gen.TABLES)
    assert not gen.build(8, 0.001)["lineitem"].equals(a["lineitem"])
    assert a["lineitem"].num_rows == 6000
    assert a["events"].schema.field("ts").type == pa.timestamp("us")
    assert set(a) == set(gen.TABLES)


def test_benchmark_json_lists_what_the_run_prints():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    per_layer = {m["name"] for m in spec["per_layer"]}
    steps = workloads.all_step_names()
    assert per_layer == set(run.LAYER_METRICS) | {
        f"step.{n}.{k}" for n in steps for k in ("s", "jobs")
    }
    assert [w["name"] for w in spec["workloads"]] == list(workloads.WORKLOADS)


def test_query_steps_are_registered_with_oracles():
    sys.path.insert(0, str(ROOT))
    from etl_master_spark.plans.registry import ORACLES, QUERIES

    for name in workloads.all_step_names():
        if name not in workloads.SPECIAL_STEPS:
            assert name in QUERIES and name in ORACLES, name


def smoke(workload: str, trace: int) -> tuple[subprocess.CompletedProcess, dict]:
    """Run one workload on the smallest inputs; check the exit code and
    the result line's keys, and that every step passed its check."""
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "0", "--seconds", "60", "--trace", str(trace), "--sf", "0.001"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0, proc.stdout[-3000:]
    assert result["attempted"] == len(workloads.WORKLOADS[workload])
    return proc, result


def test_untraced_smoke_run():
    """The untraced run prints exactly the end-to-end metrics, each
    positive, and the environment line counts the set-up samples."""
    proc, result = smoke("iterative_construct", 0)
    assert set(result["metrics"]) == set(run.END_TO_END)
    for name, unit in run.END_TO_END.items():
        assert result["metrics"][name]["unit"] == unit
        assert result["metrics"][name]["value"] > 0, name
    env_line = json.loads(proc.stdout.strip().splitlines()[-2])
    assert env_line["samples"] == {"cpu_s": 1, "setup_s": run.SETUP_REPS}


@pytest.mark.parametrize("workload", list(workloads.WORKLOADS))
def test_smoke_run(workload):
    """One traced run per workload: every per-layer metric is printed, and
    the span file holds construct, exec and job children for every step
    and every cold start of the set-up."""
    proc, result = smoke(workload, 1)
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert set(result["metrics"]) == {m["name"] for m in spec["per_layer"]}
    for name in workloads.WORKLOADS[workload]:
        assert result["metrics"][f"step.{name}.s"]["value"] > 0

    trace_line = next(l for l in proc.stderr.splitlines() if l.startswith("trace: "))
    trace = json.loads((ROOT / trace_line[len("trace: "):].split(";")[0]).read_text())
    spans = trace["spans"]
    for step in (s for s in spans if s["kind"] == "step"):
        parts = [s for s in spans if s["parent"] == step["id"]]
        assert sorted(p["kind"] for p in parts) == ["construct", "exec"]
        jobs = [s for s in spans if s["parent"] in {p["id"] for p in parts}]
        assert jobs and all(j["kind"] == "job" for j in jobs), step["name"]
    starts = [s for s in spans if s["name"].startswith("cold start")]
    assert len(starts) == run.SETUP_REPS
    for start in starts:
        parts = sorted(s["kind"] for s in spans if s["parent"] == start["id"])
        assert parts == ["session", "warmup"]
