"""Tests of the benchmark itself: ``python3 -m pytest perfbench -q``.

Each Spark-backed test starts its own JVM and runs a shortened benchmark
(``--seconds 1``: the warm-up pass plus one timed cycle, two when traced).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

from perfbench import report
from perfbench.run import ROOT, Run, run
from perfbench.tracing import Tracer
from perfbench.workloads import WORKLOADS, ScanLadder

RUN_PY = os.path.join(ROOT, "perfbench", "run.py")


def _benchmark_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _cli(*args: str, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, RUN_PY, *args], cwd=cwd, capture_output=True, text=True, timeout=600
    )


def test_benchmark_json_matches_metric_tables():
    spec = _benchmark_json()
    assert {w["name"] for w in spec["workloads"]} == set(WORKLOADS)
    assert {m["name"]: (m["unit"], m["better"]) for m in spec["end_to_end"]} == report.END_TO_END
    assert {m["name"]: (m["unit"], m["better"]) for m in spec["per_layer"]} == {
        name: row[:2] for name, row in report.PER_LAYER.items()
    }


def _scan_moved(tmp_path, seed: int) -> dict[str, int]:
    wl = ScanLadder(None, Tracer(None, False), str(tmp_path))
    wl.build(str(tmp_path / f"scan-{seed}-{len(os.listdir(tmp_path))}"), seed)
    return wl.deck_moved()


def test_moved_bytes_follow_the_seed(tmp_path):
    first = _scan_moved(tmp_path, 7)
    assert first == _scan_moved(tmp_path, 7)
    assert first != _scan_moved(tmp_path, 8)
    # the ladder prunes: the empty rung moves footers only, the full one all
    assert first["best_case/w1"] < first["p50/w1"] < first["worst/w1"] < first["worst/w11"]


@pytest.fixture(scope="module", params=sorted(WORKLOADS))
def traced_run(request):
    return run(request.param, seed=3, seconds=1, trace=True)


def test_traced_run_is_correct_and_reports_every_layer(traced_run):
    assert traced_run.outcome["correct"]
    assert traced_run.outcome["failed"] == 0
    assert set(traced_run.outcome["metrics"]) == set(report.PER_LAYER)


def test_every_timed_op_runs_an_unskipped_stage(traced_run):
    """A fresh DataFrame per op: a repeated action on one DataFrame would
    reuse its shuffle output and skip every stage but the last."""
    traced = [r for r in traced_run.records if r.traced]
    assert traced
    for rec in traced:
        assert sum(traced_run.stats[g].stages for g in rec.groups) >= 1, rec.name


def test_wrong_answer_counts_as_failed_op(monkeypatch):
    compute = Run.compute_answers

    def one_wrong_answer(self):
        compute(self)
        cols = self.answers["p50/w1"][0]  # an op of the warm-up pass
        self.answers["p50/w1"] = (cols, [])

    monkeypatch.setattr(Run, "compute_answers", one_wrong_answer)
    r = run("scan_ladder", seed=4, seconds=1, trace=False)
    assert not r.outcome["correct"]
    assert r.outcome["failed"] >= 1
    assert r.outcome["metrics"]["ok_op_ratio"]["value"] < 1.0


def test_cli_contract_and_clean_worktree():
    status = ["git", "status", "--porcelain", "--ignored=no"]
    in_git = subprocess.run(status, cwd=ROOT, capture_output=True).returncode == 0
    before = subprocess.run(status, cwd=ROOT, capture_output=True, text=True).stdout
    out = _cli("--workload", "curate_write", "--seed", "2", "--seconds", "1", "--trace", "0")
    assert out.returncode == 0, out.stderr[-2000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["attempted"] >= 1 and result["failed"] == 0
    assert {k: v["unit"] for k, v in result["metrics"].items()} == {
        k: unit for k, (unit, _) in report.END_TO_END.items()
    }
    assert all(v["value"] > 0 for v in result["metrics"].values())
    if in_git:
        after = subprocess.run(status, cwd=ROOT, capture_output=True, text=True).stdout
        assert after == before


def test_rowgroup_parquet_op_from_another_directory(tmp_path):
    """Python workers must import the engine package whatever the cwd."""
    code = f"""
import os, sys
sys.path.insert(0, {ROOT!r})
from perfbench.run import Run, _isolate
r = Run("curate_write", 1, 0, False)
os.makedirs(r.work)
try:
    _isolate(r.work)
    r.setup()
    r.compute_answers()
    op = next(op for op in r.wl.deck() if op.name == "ingest")
    print("ERROR", r._op(op, "t", False).error)
finally:
    r.close()
"""
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=tmp_path, capture_output=True, text=True, timeout=600
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert "ERROR None" in out.stdout, out.stderr[-2000:]


def test_fails_without_the_engine_sources(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench")
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "scan_ladder", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=180,
    )
    assert out.returncode != 0
    assert "metrics" not in out.stdout
