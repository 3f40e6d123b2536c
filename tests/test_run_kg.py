"""Smoke test of ``run_kg.py``, the production entry point.

It runs in a subprocess: ``main`` builds its own session with
``get_spark``, whose runtime SQL confs would leak into the shared test
session, and it stops that session when it is done."""

import json
import os
import pathlib
import subprocess
import sys

import pytest

REPO = pathlib.Path(__file__).resolve().parents[1]


def _run_kg(out, run_id, cwd):
    """Run run_kg.py on a small synthetic corpus; its last stdout line."""
    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="1g")
    # Python workers import cli_p_spark by module name
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(REPO), env.get("PYTHONPATH")) if p)
    proc = subprocess.run(
        [sys.executable, str(REPO / "run_kg.py"), "--synth", "60",
         "--synth-entities", "100", "--parts", "4", "--master", "local[2]",
         "--output", str(out), "--run-id", run_id],
        cwd=cwd, env=env, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.fixture(scope="module")
def kg_output(tmp_path_factory):
    work = tmp_path_factory.mktemp("run_kg")
    out = work / "out"
    return out, _run_kg(out, "a", work), _run_kg(out, "b", work)


def test_run_kg_writes_triples_and_lineage(spark, kg_output):
    out, first, _ = kg_output
    assert first["status"] == "done"
    n_triples = spark.read.parquet(str(out / "triples")).count()
    assert first["n_triples"] == n_triples > 0
    configs = {r["config"] for r in spark.read.parquet(
        str(out / "lineage")).select("config").distinct().collect()}
    (config,) = configs
    config = json.loads(config)
    # run_kg's argparse defaults, as the lineage stores them
    assert (config["n_parts"], config["nlist"], config["nprobe"]) == \
        (4, 100, 32)


def test_run_kg_rerun_recomputes_nothing(spark, kg_output):
    out, first, again = kg_output
    assert again["status"] == "done"
    assert again["n_triples"] == first["n_triples"]
    run_ids = {r["run_id"] for r in spark.read.parquet(
        str(out / "lineage")).select("run_id").collect()}
    assert run_ids == {"a"}
