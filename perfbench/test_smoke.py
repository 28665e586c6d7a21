"""Smoke test of the benchmark: tiny inputs, every workload, both run modes.

Pins the metric names each mode prints to the lists in ``BENCHMARK.json``,
requires every output check to pass, and requires the traced run's top-level
spans to cover at least 90% of each traced iteration.  Takes a few minutes
(one Spark session per run):

    python -m pytest perfbench/test_smoke.py -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)


def _run(cwd: str, workload: str, trace: int) -> subprocess.CompletedProcess:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
           "--seconds", "1", "--trace", str(trace), "--scale", "0.05"]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=300)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_workload_prints_every_metric(workload, trace):
    proc = _run(ROOT, workload, trace)
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    assert result["attempted"] >= 1
    spec = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert {name: m["unit"] for name, m in result["metrics"].items()} == {
        m["name"]: m["unit"] for m in spec
    }
    if trace:
        with open(os.path.join(ROOT, ".perfbench_work", f"{workload}-7-1", "result.json")) as fh:
            detail = json.load(fh)
        if detail["hygiene"]["traced_iterations"]:
            assert detail["hygiene"]["span_coverage_min"] >= 0.9


def test_fails_without_the_program(tmp_path):
    """Outside a checkout of the program the benchmark exits non-zero, printing no result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = _run(str(tmp_path), "etl_star", 0)
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout
