"""Smoke test for the benchmark: every workload at its tiny size emits
every named metric and passes every correctness check.

    python -m pytest perfbench/tests -q

Each case starts its own Spark session in a fresh process (about a minute
per workload on four cores).
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
RUN = os.path.join(BENCH, "run.py")
sys.path.insert(0, BENCH)

import run as bench  # noqa: E402


def _spec() -> dict:
    with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
        return json.load(f)


def test_spec_matches_the_runner():
    spec = _spec()
    assert {m["name"] for m in spec["end_to_end"]} == set(bench.END_TO_END)
    assert {m["name"] for m in spec["per_layer"]} == set(bench.PER_LAYER)
    assert {w["name"] for w in spec["workloads"]} <= set(bench.WORKLOADS)
    for m in spec["end_to_end"] + spec["per_layer"]:
        units = bench.END_TO_END if m in spec["end_to_end"] else bench.PER_LAYER
        assert units[m["name"]] == m["unit"]


@pytest.mark.parametrize("workload", list(bench.WORKLOADS))
def test_workload_emits_every_metric_and_passes_checks(workload, tmp_path):
    p = subprocess.run(
        [sys.executable, RUN, "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", "1", "--scale", "tiny"],
        cwd=tmp_path, capture_output=True, text=True, timeout=600,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert out["correct"] and out["failed"] == 0, p.stdout[-3000:]
    assert out["attempted"] >= 1
    assert set(out["metrics"]) == set(bench.PER_LAYER)
    (record,) = glob.glob(str(tmp_path / ".perfbench_out" / "records" / "*.json"))
    with open(record) as f:
        rec = json.load(f)
    assert set(rec["end_to_end"]) == set(bench.END_TO_END)
    assert all(v > 0 for v in rec["end_to_end"].values()), rec["end_to_end"]
    assert rec["env"]["pyspark"] and rec["env"]["defaultParallelism"] >= 1
    assert "host.steal_s" in rec["host"]
    (trace,) = glob.glob(str(tmp_path / ".perfbench_out" / "traces" / "*.json"))
    with open(trace) as f:
        assert json.load(f)["self_times"]["step"]["calls"] >= 1
    assert not glob.glob(str(tmp_path / ".perfbench_out" / "work-*"))


def test_fails_without_the_program(tmp_path):
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__", ".perfbench_out"))
    shutil.copy(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json"), tmp_path)
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "warehouse_sql",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert p.returncode != 0
    assert '"correct"' not in p.stdout
