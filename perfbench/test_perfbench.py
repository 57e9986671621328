"""The benchmark's own tests (slow: each runs the benchmark in smoke mode).

    python -m pytest perfbench -q
"""

from __future__ import annotations

import json
import math
import os
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent
BENCH = json.loads((ROOT / "BENCHMARK.json").read_text())
WORKLOADS = [w["name"] for w in BENCH["workloads"]]


def run(workload: str, trace: int, *extra: str, cwd: Path = ROOT, env=None):
    cmd = [sys.executable, str(cwd / "perfbench" / "run.py"), "--workload", workload,
           "--seed", "1", "--seconds", "1", "--trace", str(trace), "--smoke", *extra]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=900, env=env)


def result_lines(proc) -> tuple[dict, dict]:
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    return json.loads(lines[-2])["details"], json.loads(lines[-1])


@pytest.mark.parametrize("workload", WORKLOADS)
@pytest.mark.parametrize("trace,kind", [(0, "end_to_end"), (1, "per_layer")])
def test_smoke_prints_every_metric_with_its_unit(workload, trace, kind):
    details, res = result_lines(run(workload, trace))
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    assert details["failed_frac"] == 0
    assert set(res["metrics"]) == {m["name"] for m in BENCH[kind]}
    for m in BENCH[kind]:
        got = res["metrics"][m["name"]]
        assert got["unit"] == m["unit"], m["name"]
        assert isinstance(got["value"], (int, float)) and math.isfinite(got["value"]), m["name"]


@pytest.mark.parametrize("workload", WORKLOADS)
def test_a_dropped_output_row_raises_failed_frac(workload):
    details, res = result_lines(run(workload, 0, "--drop-row"))
    assert res["failed"] >= 1 and not res["correct"]
    assert details["failed_frac"] > 0


def test_refuses_an_engine_knob():
    env = {**os.environ, "SPARK_GRAFT_SPREAD_MIN_BYTES": "1"}
    proc = run(WORKLOADS[0], 0, env=env)
    assert proc.returncode != 0 and not proc.stdout.strip()


def test_fails_without_the_engine():
    bare = ROOT / ".perfbench" / "bare"
    shutil.rmtree(bare, ignore_errors=True)
    bare.mkdir(parents=True)
    shutil.copy(ROOT / "BENCHMARK.json", bare)
    shutil.copytree(ROOT / "perfbench", bare / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    try:
        proc = run(WORKLOADS[0], 0, cwd=bare)
        assert proc.returncode != 0 and not proc.stdout.strip()
    finally:
        shutil.rmtree(bare, ignore_errors=True)
