"""CLI surface tests (subprocess — the way a user invokes it)."""

from __future__ import annotations

import glob
import json
import os
import subprocess
import sys

import pyarrow.parquet as pq
import pytest

from parquet_near_storage_compute_spark.plans.metrics import planned_scan_bytes

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
        (("--mode", "metadata", "--aggs", "SUM(nope)"),
         "columns not in the file: ['nope']"),
        (("--filter", "53000 < nope", "--cpus", "2"),
         "columns not in the file: ['nope']"),
        (("--mode", "metadata", "--filter", "l_quantity >"),
         "unexpected end of predicate"),
        (("--mode", "metadata", "--aggs", "MEDIAN(l_tax)"),
         "unsupported aggregation"),
    ],
    ids=["columns-window", "metadata-unknown-filter", "metadata-unknown-column",
         "metadata-unknown-agg", "query-unknown-filter", "metadata-bad-filter",
         "metadata-bad-agg"],
)
def test_columns_window_too_narrow_errors(args, message):
    """l_extendedprice is schema index 5 — a 3-column window cannot serve
    the default query and must fail loudly, not silently widen the scan.
    Either mode refuses a filter, aggregation or --column column the file
    lacks the same way, before any byte accounting or Spark session, and
    so does a filter or aggregation the grammar cannot parse."""
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


@pytest.fixture(scope="module")
def sorted_li(tmp_path_factory) -> str:
    """sf0.001 lineitem sorted by l_extendedprice in 10 row groups, as one
    file and as a directory of two 5-group parts."""
    table = pq.read_table(LI).sort_by("l_extendedprice")
    root = tmp_path_factory.mktemp("cli")
    pq.write_table(table, root / "sorted.parquet", row_group_size=600)
    (root / "parts").mkdir()
    half = table.num_rows // 2
    for i, part in enumerate((table.slice(0, half), table.slice(half))):
        pq.write_table(part, root / "parts" / f"part-{i}.parquet", row_group_size=600)
    return str(root)


@pytest.mark.parametrize(
    "reference, spelling",
    [
        ("l_extendedprice > 53000", "53000 < l_extendedprice"),
        ("l_extendedprice > 53000", "(l_extendedprice > 53000)"),
        ("l_extendedprice > 53000", "l_extendedprice BETWEEN 53000 AND 200000"),
        ("l_extendedprice == 2000.0", "l_extendedprice = 2000.0"),
    ],
    ids=["flipped", "parenthesized", "between", "single-equals"],
)
def test_equivalent_spellings_plan_equal_bytes(sorted_li, reference, spelling):
    """Metadata mode prunes on every spelling the grammar accepts for the
    same comparison, so each plans the same bytes, below the full scan."""
    path = os.path.join(sorted_li, "sorted.parquet")
    planned = [
        _run("--path", path, "--mode", "metadata", "--filter", f)["planned_bytes"]
        for f in (reference, spelling, "l_extendedprice > 0")
    ]
    assert planned[0] == planned[1] < planned[2]


@pytest.mark.parametrize(
    "target, args",
    [
        ("sorted.parquet", ("--workload", "p50")),
        ("sorted.parquet", ("--filter", "l_quantity > 25.0", "--aggs", "SUM(l_tax)")),
        ("sorted.parquet", ("--filter", "53000 < l_extendedprice",
                            "--aggs", "SUM(l_quantity)")),
        ("parts", ("--filter", "l_extendedprice > 53000", "--aggs", "SUM(l_tax)")),
        ("parts/*.parquet", ("--workload", "p75", "--columns", "7")),
    ],
    ids=["file-default", "file-aggs", "file-flipped", "directory", "glob-window"],
)
def test_both_modes_plan_the_same_bytes(sorted_li, target, args):
    """One invocation plans the same bytes in metadata and query mode: the
    columns the filter and aggregations touch (or the --columns window)
    over every file the path resolves to."""
    path = os.path.join(sorted_li, target)
    meta = _run("--path", path, "--mode", "metadata", *args)
    query = _run("--path", path, "--cpus", "2", *args)
    assert meta["planned_bytes"] == query["bytes_read"]
    assert meta["dataset_bytes"] == query["dataset_bytes"]
    assert query["result"][0]
    if target == "parts":
        files = sorted(glob.glob(os.path.join(path, "*.parquet")))
        assert len(files) == 2
        assert meta["planned_bytes"] == sum(
            planned_scan_bytes(
                f, ["l_extendedprice", "l_tax"], [("l_extendedprice", ">", 53000)]
            )
            for f in files
        )
        assert meta["dataset_bytes"] == sum(os.path.getsize(f) for f in files)


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


def test_query_mode_scans_once(spark):
    """One query-mode run reads its Parquet input in one stage: the timed
    collect is the result it reports, not a second run of the query."""
    from parquet_near_storage_compute_spark.cli import run_query
    from parquet_near_storage_compute_spark.functions.grammar import (
        plan_aggregation,
        plan_predicate,
    )
    from parquet_near_storage_compute_spark.plans.metrics import (
        _stages_input_bytes,
    )

    pred = plan_predicate("l_extendedprice > 53000")
    aggs = [plan_aggregation("SUM(l_quantity)")]
    cols = ["l_extendedprice", "l_quantity"]
    sc = spark.sparkContext
    sc.setJobGroup("cli-scans-once", "query mode stage count")
    try:
        out = run_query(spark, [LI], cols, False, pred, aggs)
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    stages = {
        sid
        for jid in tracker.getJobIdsForGroup("cli-scans-once")
        for sid in tracker.getJobInfo(jid).stageIds
    }
    scans = [sid for sid in stages if _stages_input_bytes(spark, {sid}) > 0]
    assert len(scans) == 1, stages
    assert out["rows"] == len(out["result"]) == 1
    assert out["bytes_read"] == planned_scan_bytes(LI, cols, pred.prunable)
