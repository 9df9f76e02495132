"""Smoke tests for the benchmark itself, at tiny size.

Run from the repository root:  python3 -m pytest perfbench -q
(about four minutes on 4 cores: six short Spark runs).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import harness  # noqa: E402


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _run(workload: str, trace: int, *extra: str, cwd: str = ROOT):
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "2", "--trace", str(trace), *extra],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    return proc, lines


@pytest.mark.parametrize("workload", ["query_mix", "ingest_tcp", "pipeline_batch"])
def test_end_to_end_metrics_emitted_with_units(workload):
    proc, lines = _run(workload, 0, "--tiny")
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    want = {m["name"]: m["unit"] for m in _spec()["end_to_end"]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    assert all(v["value"] > 0 for v in result["metrics"].values())
    report = json.loads(lines[-2])["report"]
    assert report["error_ratio"] == 0.0
    assert {"nproc", "spark_graft_cpus", "driver_mem", "python_loop_ns_per_iter"} <= set(report["box"])


@pytest.mark.parametrize("workload", ["query_mix", "ingest_tcp", "pipeline_batch"])
def test_traced_run_counts_corrupted_expected_answer(workload):
    proc, lines = _run(workload, 1, "--tiny", "--corrupt-expected")
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(lines[-1])
    want = {m["name"]: m["unit"] for m in _spec()["per_layer"]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    assert result["correct"] is False and result["failed"] >= 1
    assert json.loads(lines[-2])["report"]["error_ratio"] > 0


def test_fails_without_the_program(tmp_path):
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".work", "out", "__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc, lines = _run("query_mix", 0, cwd=str(tmp_path))
    assert proc.returncode != 0
    assert not any(l.startswith("{") for l in lines)


def test_tail_picks_highest_rung_with_ten_beyond():
    assert harness.tail(list(range(24)))[0] == 50.0
    assert harness.tail(list(range(25)))[0] == 60.0
    assert harness.tail(list(range(100)))[0] == 90.0
    assert harness.percentile([1.0, 2.0, 3.0, 4.0], 50) == 2.5


def test_self_time_subtracts_children():
    tr = harness.Tracer(True)
    tr.active = True
    with tr.span("outer"):
        with tr.span("inner"):
            pass
    s = tr.self_times()
    outer = tr.durations("outer")[0]
    inner = tr.durations("inner")[0]
    assert s["outer"] == pytest.approx(outer - inner)
    assert s["inner"] == pytest.approx(inner)
