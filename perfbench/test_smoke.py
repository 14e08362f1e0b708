"""Smoke test of the benchmark: every workload, one warm pass, at sf 0.001.

Run from the repository root (about 20 minutes on 4 cores):

    python3 -m pytest perfbench/test_smoke.py -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from workloads import WORKLOADS  # noqa: E402


def spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def run(workload: str, trace: int) -> tuple[list[str], dict]:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "1",
         "--seconds", "0", "--trace", str(trace), "--sf", "0.001"],
        cwd=ROOT, capture_output=True, text=True, timeout=900,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    return lines, json.loads(lines[-1])


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_untraced_run_prints_end_to_end_metrics(workload):
    lines, result = run(workload, 0)
    assert result["correct"] and result["failed"] == 0 and result["attempted"] > 0
    assert "# wrong_results 0 " in "\n".join(lines) + " "
    end_to_end = spec()["end_to_end"]
    for m in end_to_end:
        assert result["metrics"][m["name"]]["unit"] == m["unit"]
        assert result["metrics"][m["name"]]["value"] > 0
        assert any(line.startswith(f"# {m['name']} ") and line.endswith(f" {m['unit']}") for line in lines)
    assert set(result["metrics"]) == {m["name"] for m in end_to_end}


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_traced_run_reports_every_per_layer_metric(workload):
    lines, result = run(workload, 1)
    assert result["correct"] and result["failed"] == 0
    per_layer = spec()["per_layer"]
    assert set(result["metrics"]) == {m["name"] for m in per_layer}
    for m in per_layer:
        assert result["metrics"][m["name"]]["unit"] == m["unit"]
    assert any(line.startswith("# tracing overhead:") for line in lines)
    with open(os.path.join(HERE, ".work", f"trace-{workload}-1.json")) as f:
        trace = json.load(f)
    kinds = {s["kind"] for s in trace["spans"]}
    assert {"run", "pass", "query", "build", "plan", "exec", "job"} <= kinds
