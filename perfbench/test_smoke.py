"""Smoke test of the benchmark: one short run per workload at sf0.001.

Checks that every metric named in ``BENCHMARK.json`` is printed with its
unit, untraced and traced, and that the outputs check out. Run it from
the repository root (a few minutes on four cores)::

    python3 -m pytest perfbench/test_smoke.py -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)
# the workloads' scale factors are 0.01: a tenth of that is sf0.001
SMOKE_SCALE = "0.1"


def _run(workload: str, trace: int) -> tuple[dict, str]:
    cmd = [
        sys.executable, os.path.join(ROOT, *SPEC["command"][1:]),
        "--workload", workload, "--seed", "7", "--seconds", "1",
        "--trace", str(trace), "--sf-scale", SMOKE_SCALE,
    ]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    return json.loads(lines[-1]), proc.stdout


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_every_metric_printed_with_unit(workload, trace):
    result, stdout = _run(workload, trace)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"], stdout
    assert result["failed"] == 0 and result["attempted"] >= 1
    named = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in named}
    for m in named:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"], m["name"]
        assert isinstance(got["value"], float), m["name"]
    if not trace:
        for m in SPEC["end_to_end"]:
            assert result["metrics"][m["name"]]["value"] > 0, m["name"]
    assert "error_rate = 0.0 fraction" in stdout


def test_refuses_without_the_program(tmp_path):
    """Only BENCHMARK.json and the benchmark's own files: exit non-zero
    and print no result."""
    import shutil

    for path in SPEC["paths"]:
        shutil.copytree(os.path.join(ROOT, path), tmp_path / path)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = subprocess.run(
        [*SPEC["command"], "--workload", SPEC["workloads"][0]["name"],
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
