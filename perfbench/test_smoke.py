"""Tests of the benchmark itself, at its seconds-long smoke size.

Run from the repository root: python3 -m pytest perfbench/test_smoke.py
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import types

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import run  # noqa: E402


def _bench(*args: str, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join("perfbench", "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=300)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", sorted(run.WORKLOADS))
def test_smoke_run_reports_every_metric(workload, trace):
    p = _bench("--workload", workload, "--seed", "3", "--seconds", "1",
               "--trace", str(trace), "--smoke")
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert sorted(result) == ["attempted", "correct", "failed", "metrics"]
    assert result["correct"] and result["failed"] == 0
    assert result["attempted"] >= 1
    want = run.PER_LAYER if trace else run.END_TO_END
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    if not trace:
        assert all(v["value"] > 0 for v in result["metrics"].values())


def test_fails_without_the_engine(tmp_path):
    """In a directory holding only the benchmark, it exits non-zero
    without printing a result."""
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("_work", "__pycache__"))
    p = _bench("--workload", "daily_cycle", "--seed", "1", "--seconds", "1",
               "--trace", "0", cwd=str(tmp_path))
    assert p.returncode != 0
    assert p.stdout == ""


def test_benchmark_json_matches_the_runner():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {w["name"] for w in spec["workloads"]} == set(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER


def test_mix_median_averages_each_ops_median():
    runner = types.SimpleNamespace(
        wl=run.WORKLOADS["build_heavy_sf001"], op_names=["a", "b", "a", "b", "a"],
        cpu=[1.0, 10.0, 3.0, 20.0, 2.0])
    assert run.mix_median(runner) == (2.0 + 15.0) / 2
    runner.wl, runner.op_names = run.WORKLOADS["daily_cycle"], ["day2", "day3", "day4"]
    runner.cpu = [9.0, 6.0, 7.0]
    assert run.mix_median(runner) == 7.0


def test_datagen_is_deterministic(tmp_path):
    datagen.generate(0.001, str(tmp_path / "a"))
    datagen.generate(0.001, str(tmp_path / "b"))
    for name in os.listdir(tmp_path / "a"):
        assert (tmp_path / "a" / name).read_bytes() == (tmp_path / "b" / name).read_bytes()
