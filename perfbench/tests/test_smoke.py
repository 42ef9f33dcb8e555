"""Smoke run of every workload on tiny inputs, through the real command.

Each run starts a Spark JVM, so this file takes a few minutes.
"""

import json
import os
import subprocess
import sys

import pytest

from workloads import WORKLOADS

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _run(workload: str, trace: int) -> dict:
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", str(trace), "--scale", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert p.returncode == 0, p.stderr[-3000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_workload_runs_correct_and_reports_every_metric(workload):
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    line = _run(workload, 1)
    assert set(line) == {"correct", "attempted", "failed", "metrics"}
    assert line["correct"] and line["failed"] == 0 and line["attempted"] >= 1
    assert [(k, v["unit"]) for k, v in line["metrics"].items()] == [
        (m["name"], m["unit"]) for m in spec["per_layer"]]
    report = json.load(open(os.path.join(
        ROOT, ".perfbench", "results", f"{workload}-seed3-trace1.json")))
    assert {m["name"] for m in spec["end_to_end"]} <= set(report["end_to_end"])
    assert report["per_layer"]["trace.self_time_residual_s"] < 1e-6
    assert report["per_layer"]["check.error_rate"] == 0.0


def test_untraced_line_has_the_end_to_end_metrics():
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    line = _run("contract-ingest", 0)
    assert line["correct"]
    assert [(k, v["unit"]) for k, v in line["metrics"].items()] == [
        (m["name"], m["unit"]) for m in spec["end_to_end"]]
    assert all(v["value"] > 0 for v in line["metrics"].values())


def test_benchmark_json_matches_the_program():
    import run

    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == run.END_TO_END
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == run.PER_LAYER
    assert all(m["bound"] <= 0.25 for m in spec["end_to_end"])
