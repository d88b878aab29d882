"""Checks of the benchmark itself.

    python3 -m pytest perfbench -q

The traced graph_fixpoint test starts Spark and takes about two minutes.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# Spark's status store keeps this many stages by default
RETAINED_STAGES = 1000


def _run(cwd: str, *args: str, env: dict | None = None):
    return subprocess.run(
        [sys.executable, os.path.join("perfbench", "run.py"), *args],
        cwd=cwd, env=env, capture_output=True, text=True, timeout=900)


def test_traced_graph_pass_loses_no_stage():
    """A traced graph_fixpoint run (warm-up, then untraced and traced
    passes) runs more stages than Spark's status store retains, so counters
    read at the end of the run would miss some; harvesting each span from
    the event log as its job group ends misses none."""
    p = _run(ROOT, "--workload", "graph_fixpoint", "--seed", "3",
             "--seconds", "80", "--trace", "1")
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    result, trace = json.loads(lines[-1]), json.loads(lines[-2])
    metrics = {k: v["value"] for k, v in result["metrics"].items()}
    assert result["correct"] and result["failed"] == 0
    assert metrics["trace.stages_lost"] == 0
    assert metrics["trace.stages_total"] > RETAINED_STAGES
    assert 0 < metrics["spark.stages"] < metrics["trace.stages_total"]
    k_core = [s for s in trace["spans"] if s["name"] == "k_core.build"]
    assert k_core and all(s["counters"]["stages"] > 0 for s in k_core)
    for q in ("k_core", "grid_cluster", "adaptive_cell_split"):
        assert metrics[f"graph.{q}.jobs"] > 0
    assert {s["run_id"] for s in trace["spans"]} == {trace["run_id"]}


def test_refuses_ab_knobs():
    env = dict(os.environ, SPARK_GRAFT_T_RR="1")
    p = _run(ROOT, "--workload", "geo_pipeline", "--seed", "1", "--seconds",
             "1", env=env)
    assert p.returncode != 0
    assert p.stdout == ""
    assert "SPARK_GRAFT_T_RR" in p.stderr


def test_fails_without_engine_sources(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = _run(str(tmp_path), "--workload", "geo_pipeline", "--seed", "1",
             "--seconds", "1")
    assert p.returncode != 0
    assert p.stdout == ""
