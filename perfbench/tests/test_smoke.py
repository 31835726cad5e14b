"""End-to-end smoke runs of every workload at sf0.01 (``--smoke``), and
the contract that the benchmark refuses to run without the engine."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

from perfbench.harness import END_TO_END_NAMES
from perfbench.layers import PER_LAYER_NAMES

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _run(cwd: str, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


def test_benchmark_json_names_the_reported_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [m["name"] for m in spec["end_to_end"]] == list(END_TO_END_NAMES)
    assert [m["name"] for m in spec["per_layer"]] == list(PER_LAYER_NAMES)
    assert [w["name"] for w in spec["workloads"]] == ["serving_rw", "batch_curation"]


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(
        os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
        ignore=shutil.ignore_patterns("__pycache__"),
    )
    p = _run(str(tmp_path), "--workload", "serving_rw", "--seed", "1", "--seconds", "1", "--trace", "0")
    assert p.returncode != 0
    assert p.stdout.strip() == ""


@pytest.mark.parametrize(
    "workload,trace",
    [("analytic_sql", "0"), ("analytic_sql", "1"), ("serving_rw", "1"), ("batch_curation", "1")],
)
def test_smoke(workload, trace):
    p = _run(ROOT, "--workload", workload, "--seed", "3", "--seconds", "1", "--trace", trace, "--smoke")
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    res = json.loads(lines[-1])
    detail = json.loads(lines[-2])["detail"]
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True, detail.get("failures")
    assert res["attempted"] >= 1 and res["failed"] == 0
    names = PER_LAYER_NAMES if trace == "1" else END_TO_END_NAMES
    assert list(res["metrics"]) == list(names)
    assert all(isinstance(m["value"], float) and m["unit"] for m in res["metrics"].values())
    if trace == "1":
        m = {k: v["value"] for k, v in res["metrics"].items()}
        assert m["exec.action_ms"] > 0
        if workload != "batch_curation":
            assert m["compaction.compact_ms"] == 0 and m["pipeline.dedup_ms"] == 0
        else:
            assert m["compaction.compact_ms"] > 0 and m["pipeline.dedup_ms"] > 0
        if workload == "serving_rw":
            assert m["storage.commit_ms"] > 0 and m["prepared.execute_ms"] > 0
