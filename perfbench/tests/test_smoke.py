"""Tiny-size runs of every workload through the command line.

Each run launches its own Spark JVM (tens of seconds each)."""

import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[2]
BENCH = json.loads((ROOT / "BENCHMARK.json").read_text())
TINY = ["--seed", "3", "--seconds", "1", "--docs", "800"]


def _run(cwd: Path, *args: str, env=None) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd, capture_output=True, text=True, timeout=600, env=env,
    )


def _result(proc: subprocess.CompletedProcess) -> dict:
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    assert result["attempted"] >= 1
    return result


def _units(specs) -> dict:
    return {m["name"]: m["unit"] for m in specs}


@pytest.mark.parametrize("workload", ["dedup", "substring"])
def test_untraced_run_reports_every_end_to_end_metric(workload):
    result = _result(_run(ROOT, "--workload", workload, "--trace", "0", *TINY))
    metrics = result["metrics"]
    assert {k: v["unit"] for k, v in metrics.items()} == _units(BENCH["end_to_end"])
    assert metrics["ops_ok_frac"]["value"] == 1.0
    assert all(v["value"] > 0 for v in metrics.values())


def test_traced_run_reports_every_per_layer_metric():
    result = _result(_run(ROOT, "--workload", "substring", "--trace", "1", *TINY))
    metrics = result["metrics"]
    assert {k: v["unit"] for k, v in metrics.items()} == _units(BENCH["per_layer"])
    assert metrics["op.jobs"]["value"] >= 1
    assert metrics["suffix.pairs"]["value"] >= 1


def test_fails_without_the_package(tmp_path):
    shutil.copytree(ROOT / "perfbench", tmp_path / "perfbench")
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = _run(tmp_path, "--workload", "dedup", "--trace", "0", *TINY, env=env)
    assert proc.returncode != 0
    assert proc.stdout == ""
