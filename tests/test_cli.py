"""CLI surface tests (subprocess — the way a user invokes it)."""

from __future__ import annotations

import json
import subprocess
import sys

import pytest

LI = "/root/testdata/sf0.001/lineitem.parquet"


def _run(*args: str) -> dict:
    out = subprocess.run(
        [sys.executable, "-m", "parquet_near_storage_compute_spark.cli", *args],
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


def test_metadata_mode_selectivity_curve():
    best = _run("--path", LI, "--workload", "best_case", "--mode", "metadata")
    worst = _run("--path", LI, "--workload", "worst", "--mode", "metadata")
    assert best["planned_bytes"] == best["footer_bytes"]
    assert worst["planned_bytes"] > best["planned_bytes"]
    assert 0 < best["selectivity_pct"] < worst["selectivity_pct"] <= 100


def test_query_mode_runs_flagship():
    res = _run("--path", LI, "--workload", "p50", "--cpus", "4")
    assert res["mode"] == "query"
    assert res["result"][0]["count_price"] > 0
    assert res["bytes_read"] > 0 and res["seconds"] > 0


def test_query_mode_custom_filter_and_aggs():
    res = _run(
        "--path", LI,
        "--filter", "l_quantity > 25.0 AND l_returnflag == 'R'",
        "--aggs", "SUM(l_quantity),COUNT(l_quantity)",
        "--cpus", "4",
    )
    r = res["result"][0]
    assert r["count_l_quantity"] > 0 and r["sum_l_quantity"] > 0


def test_columns_projection_width():
    """v1 -cc parity: the scan set is the first N schema columns; planned
    bytes grow monotonically with N and the full width matches the
    touched-columns default accounting's table."""
    res6 = _run("--path", LI, "--workload", "p50", "--cpus", "4",
                "--columns", "6")
    res11 = _run("--path", LI, "--workload", "p50", "--cpus", "4",
                 "--columns", "11")
    assert res6["result"][0]["count_price"] == res11["result"][0]["count_price"]
    assert 0 < res6["bytes_read"] < res11["bytes_read"]


@pytest.mark.parametrize(
    "args, message",
    [
        (("--workload", "p50", "--cpus", "4", "--columns", "3"),
         "outside --columns window"),
        (("--mode", "metadata", "--filter", "nope > 5"),
         "columns not in the file: ['nope']"),
        (("--mode", "metadata", "--column", "nope"),
         "columns not in the file: ['nope']"),
    ],
    ids=["columns-window", "metadata-unknown-filter", "metadata-unknown-column"],
)
def test_columns_window_too_narrow_errors(args, message):
    """l_extendedprice is schema index 5 — a 3-column window cannot serve
    the default query and must fail loudly, not silently widen the scan.
    Metadata mode refuses a filter column or --column the file lacks the
    same way, before any byte accounting."""
    out = subprocess.run(
        [sys.executable, "-m", "parquet_near_storage_compute_spark.cli",
         "--path", LI, *args],
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 2
    assert message in out.stderr
    assert "Traceback" not in out.stderr


def test_tasks_and_read_size_axes():
    """v1 -t/-s parity: task count and scan batch budget are accepted and
    the query still answers correctly (the knobs shape the plan, not the
    result)."""
    res = _run("--path", LI, "--workload", "p50",
               "--tasks", "2", "--read-size-mib", "1")
    assert res["result"][0]["count_price"] > 0


WIDE = "/root/repo/fixtures/wide92.parquet"


def test_columns_reference_width_on_wide92():
    """The reference's projection experiment runs to 92 columns
    (v1/src/main.rs:103-109,1700-1793); drive the CLI's -cc axis over the
    committed snowset-shaped fixture at reference width (VERDICT r7 #4):
    metadata mode's planned bytes are strictly monotone in N and query
    mode answers the same aggregate at any window wide enough to serve
    it. memoryUsed is schema index 53, so windows 54/92 serve the v1
    default filter/aggs while 23 must refuse."""
    planned = []
    for n in ("8", "23", "46", "92"):
        res = _run("--path", WIDE, "--mode", "metadata", "--columns", n,
                   "--column", "queryId", "--filter", "queryId >= 0")
        planned.append(res["planned_bytes"])
    assert planned == sorted(planned) and len(set(planned)) == 4
    r54 = _run("--path", WIDE, "--workload", "p50", "--cpus", "4",
               "--columns", "54", "--column", "memoryUsed")
    r92 = _run("--path", WIDE, "--workload", "p50", "--cpus", "4",
               "--columns", "92", "--column", "memoryUsed")
    assert r54["result"] == r92["result"]
    assert 0 < r54["bytes_read"] < r92["bytes_read"]
    out = subprocess.run(
        [sys.executable, "-m", "parquet_near_storage_compute_spark.cli",
         "--path", WIDE, "--workload", "p50", "--cpus", "4",
         "--columns", "23", "--column", "memoryUsed"],
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 2
    assert "outside --columns window" in out.stderr
