"""A toy-size run of every benchmark workload, and the benchmark's contract:
BENCHMARK.json names what the harness measures, and the benchmark fails
without printing a result when the engine is not beside it."""

import json
import os
import shutil
import subprocess
import sys

import pytest

from perfbench import harness
from perfbench.workloads import WORKLOADS

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCHMARK = json.load(f)

TOY = {
    "kg_ingest": {"docs": 120, "entities": 150, "parts": 4, "nlist": 10,
                  "nprobe": 4, "check_docs": 40,
                  "min_pr": 0.9},
    "canon": {"mentions": 2_600, "hub": 2_100, "check_groups": 4},
}


def test_benchmark_json_matches_the_harness():
    assert BENCHMARK["command"] == ["python3", "perfbench/run.py"]
    assert BENCHMARK["paths"] == ["perfbench"]
    assert {w["name"] for w in BENCHMARK["workloads"]} <= set(WORKLOADS)
    assert {m["name"]: m["unit"] for m in BENCHMARK["end_to_end"]} == \
        harness.END_TO_END
    assert {m["name"]: m["unit"] for m in BENCHMARK["per_layer"]} == \
        harness.PER_LAYER
    setup = [m for m in BENCHMARK["end_to_end"] if m["name"] == "setup_s"]
    assert setup[0]["bound"] == max(m["bound"] for m in BENCHMARK["end_to_end"])


@pytest.mark.parametrize("name", [w["name"] for w in BENCHMARK["workloads"]])
def test_toy_run(name, tmp_path, monkeypatch):
    monkeypatch.setitem(harness.SIZES, name, TOY[name])
    monkeypatch.setattr(harness, "SETUPS", 1)
    monkeypatch.setattr(harness, "MIN_CALLS", 1)
    result, info = harness.run(name, seed=3, seconds=0.1, trace=True,
                               work=str(tmp_path))
    assert result["correct"], info
    # the untimed warm call, one timed call, the traced pass
    assert result["failed"] == 0 and result["attempted"] == 3
    assert set(result["metrics"]) == set(harness.PER_LAYER)
    assert set(info["end_to_end"]) == set(harness.END_TO_END)
    assert info["check"]["ok"]
    assert 0.5 < result["metrics"]["trace.coverage"]["value"] <= 1.0
    assert info["host"]["nproc"] == len(os.sched_getaffinity(0))


def test_fails_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload",
         BENCHMARK["workloads"][0]["name"], "--seed", "1", "--seconds", "1",
         "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120)
    assert proc.returncode != 0
    assert "correct" not in proc.stdout
