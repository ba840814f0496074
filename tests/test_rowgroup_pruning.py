"""Row-group-level pruning on a multi-row-group file.

The driver's testdata is single-row-group-per-file (FIXTURES.md), so pruning
there degenerates to whole-file skips. Here we write a sorted, small-row-group
file and verify the byte accounting prunes at *row-group* granularity — the
actual ``keep_row_group`` semantics (``v1/src/main.rs:626-685``): a selective
threshold must keep SOME but not ALL row groups."""

from __future__ import annotations

import glob
import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql.datasource import (
    EqualTo,
    GreaterThan,
    GreaterThanOrEqual,
    LessThan,
    LessThanOrEqual,
)

from parquet_near_storage_compute_spark.functions.grammar import plan_predicate
from parquet_near_storage_compute_spark.plans.metrics import (
    footer_bytes,
    planned_scan_bytes,
)
from parquet_near_storage_compute_spark.sources.io import write_parquet_sized
from parquet_near_storage_compute_spark.sources.pyds import plan_row_groups
from parquet_near_storage_compute_spark.tables import load_table

TMP = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".tmp")
SORTED = os.path.join(TMP, "lineitem_sorted_rg")


@pytest.fixture(scope="module")
def sorted_file(spark):
    li = load_table(spark, "/root/testdata/sf0.01", "lineitem")
    # sort by the filter column so row-group min/max ranges are disjoint,
    # then force small row groups
    write_parquet_sized(
        li.orderBy("l_extendedprice").coalesce(1),
        SORTED,
        row_group_bytes=64 * 1024,
    )
    (f,) = glob.glob(os.path.join(SORTED, "part-*.parquet"))
    yield f
    shutil.rmtree(SORTED, ignore_errors=True)


def test_multiple_row_groups_written(sorted_file):
    meta = pq.ParquetFile(sorted_file).metadata
    assert meta.num_row_groups >= 3, meta.num_row_groups


def test_partial_rowgroup_pruning(sorted_file):
    """A median threshold must keep some row groups and prune others:
    footer < planned(median) < planned(full)."""
    col = ["l_extendedprice"]
    full = planned_scan_bytes(sorted_file, col, None)
    median = planned_scan_bytes(
        sorted_file, col, [("l_extendedprice", ">", 53000.0)]
    )
    none_survive = planned_scan_bytes(
        sorted_file, col, [("l_extendedprice", ">", 1e12)]
    )
    assert none_survive == footer_bytes(sorted_file)
    assert none_survive < median < full


def test_sorted_scan_correctness(spark, sorted_file):
    """The re-laid-out file answers identically to the original."""
    orig = load_table(spark, "/root/testdata/sf0.01", "lineitem")
    new = spark.read.parquet(sorted_file)
    f = F.col("l_extendedprice") > 53000.0
    assert new.filter(f).count() == orig.filter(f).count()
    a = new.filter(f).agg(F.sum("l_quantity")).collect()[0][0]
    b = orig.filter(f).agg(F.sum("l_quantity")).collect()[0][0]
    assert abs(a - b) < 1e-6

_OPS = {
    ">": GreaterThan,
    ">=": GreaterThanOrEqual,
    "<": LessThan,
    "<=": LessThanOrEqual,
    "==": EqualTo,
}


@pytest.fixture(scope="module")
def ten_groups(tmp_path_factory):
    """Sorted ``k`` = 0..999 in 10 row groups of 100 rows, plus a payload."""
    path = str(tmp_path_factory.mktemp("admission") / "sorted.parquet")
    table = pa.table({
        "k": pa.array(range(1000), pa.int64()),
        "v": pa.array([i * 0.5 for i in range(1000)], pa.float64()),
        "s": pa.array([f"row{i:04d}" for i in range(1000)]),
    })
    pq.write_table(table, path, row_group_size=100)
    return path


@pytest.mark.parametrize("op", sorted(_OPS))
@pytest.mark.parametrize("lit", [-5, 0, 99, 100, 450, 999, 2000])
def test_both_callers_keep_the_same_row_groups(ten_groups, op, lit):
    """The v2 byte model and the Python data source's planner admit the
    same row groups: planned bytes = footer + the kept groups' chunks."""
    cols = ["k", "s"]
    kept = plan_row_groups(ten_groups, [_OPS[op](("k",), lit)])
    meta = pq.ParquetFile(ten_groups).metadata
    chunks = sum(
        meta.row_group(rg).column(i).total_compressed_size
        for rg in kept
        for i in (0, 2)
    )
    assert planned_scan_bytes(ten_groups, cols, [("k", op, lit)]) == (
        footer_bytes(ten_groups) + chunks
    )


def test_admission_prunes_at_group_granularity(ten_groups):
    assert plan_row_groups(ten_groups, [GreaterThan(("k",), 450)]) == list(range(4, 10))
    assert plan_row_groups(ten_groups, [GreaterThan(("k",), 99)]) == list(range(1, 10))
    assert plan_row_groups(ten_groups, [LessThanOrEqual(("k",), 100)]) == [0, 1]
    assert plan_row_groups(ten_groups, [EqualTo(("k",), 2000)]) == []
    # a literal that cannot be ordered against the statistics admits
    assert plan_row_groups(ten_groups, [GreaterThan(("k",), "x")]) == list(range(10))
    both = [GreaterThanOrEqual(("k",), 300), LessThan(("k",), 500)]
    assert plan_row_groups(ten_groups, both) == [3, 4]


def test_missing_predicate_column_per_caller(ten_groups):
    """The planner skips a filter on a column the file lacks; the byte
    model has no such column to price and raises."""
    kept = plan_row_groups(ten_groups, [GreaterThan(("nope",), 1)])
    assert kept == list(range(10))
    with pytest.raises(KeyError):
        planned_scan_bytes(ten_groups, ["k"], [("nope", ">", 1)])


@pytest.mark.parametrize(
    "expr, prunable, columns",
    [
        ("450 < k", [("k", ">", 450)], {"k"}),
        ("(k >= 1) AND ((k <= 5.5))", [("k", ">=", 1), ("k", "<=", 5.5)], {"k"}),
        ("k > 450 AND (v < 10.5 OR s == 'x')", [("k", ">", 450)], {"k", "v", "s"}),
        ("NOT k > 450", [], {"k"}),
        ("k BETWEEN 1 AND 2001-01-01-00:00:00", [("k", ">=", 1)], {"k"}),
        ("k == true AND s = 'row1'", [("s", "==", "row1")], {"k", "s"}),
        ("k != 3 AND k IN (1, 2) AND s LIKE 'r%'", [], {"k", "s"}),
        ("a.b > 1 AND k < 2.5", [("k", "<", 2.5)], {"a.b", "k"}),
    ],
)
def test_grammar_prunable_comparisons(expr, prunable, columns):
    """The byte model prunes on the comparisons of the predicate's top-level
    AND only (any parenthesis depth, never under OR or NOT), with int,
    float or string literals on top-level columns; every named column is
    reported."""
    plan = plan_predicate(expr)
    assert list(plan.prunable) == prunable
    assert plan.columns == columns
