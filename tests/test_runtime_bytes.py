"""Cluster-grade runtime byte counter (``inputMetrics.bytesRead``) next to
the metadata-planned accounting.

Two facts are proven, matching the module docstring's claims:
1. The counter itself measures full physical bytes on a read path that does
   not bypass FS statistics (CSV): runtime ≈ file size.
2. On the local parquet path, runtime stays ≤ planned for every ladder rung
   (footer-only under-report, the documented Spark 4 ``file://`` bypass) and
   is still > 0 — so on a cluster, where the bypass disappears, the same
   counter yields the measured-bytes observable the reference reports
   (``v1/src/main.rs:166-192``).
"""

from __future__ import annotations

import os
import shutil
import time

import pytest

from parquet_near_storage_compute_spark.operators.scan_agg import LADDER
from parquet_near_storage_compute_spark.plans.metrics import (
    footer_bytes,
    measure_runtime_bytes,
)
from parquet_near_storage_compute_spark.tables import table_path

TMP = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".tmp")
CSV_DIR = os.path.join(TMP, "runtime_bytes_csv")


def _dir_size(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(root, f))
        for root, _, files in os.walk(path)
        for f in files
    )


@pytest.fixture(scope="module")
def csv_copy(spark, sf_dir):
    df = spark.read.parquet(table_path(sf_dir, "lineitem")).select(
        "l_orderkey", "l_quantity", "l_extendedprice"
    )
    df.coalesce(2).write.mode("overwrite").option("header", True).csv(CSV_DIR)
    yield CSV_DIR
    shutil.rmtree(CSV_DIR, ignore_errors=True)


def test_counter_measures_full_csv_bytes(spark, csv_copy):
    schema = "l_orderkey bigint, l_quantity double, l_extendedprice double"
    read = measure_runtime_bytes(
        spark,
        lambda: spark.read.schema(schema)
        .option("header", True)
        .csv(csv_copy)
        .write.format("noop")
        .mode("overwrite")
        .save(),
    )
    size = _dir_size(csv_copy)
    assert 0.9 * size <= read <= 1.5 * size, (read, size)


def test_parquet_runtime_counter_invariants(spark, sf_dir):
    """Local parquet byte-counter semantics (measured, Spark 4.1 file://):
    selective scans report footer I/O only (the data-page bypass); the
    unfiltered rung additionally counts one 64 KiB buffered read. What holds
    on BOTH local and cluster: footer ≤ runtime ≤ file size + slack, and the
    fully-pruned rung never reads more than the unfiltered one. The planned
    accounting (``planned_scan_bytes``) stays the portable full-byte answer;
    this test pins the runtime counter against it at the endpoints."""
    path = table_path(sf_dir, "lineitem")
    floor = footer_bytes(path)
    by_rung = {}
    for rung in ("best_case", "p50", "worst"):
        threshold = LADDER[rung]
        by_rung[rung] = measure_runtime_bytes(
            spark,
            lambda: spark.read.parquet(path)
            .select("l_quantity")
            .filter(f"l_quantity > {threshold}")
            .write.format("noop")
            .mode("overwrite")
            .save(),
        )
        # at least the footer, at most the file (+8-byte tail probe)
        assert floor - 4096 < by_rung[rung] <= os.path.getsize(path) + 4096, (
            rung,
            by_rung[rung],
        )
    assert by_rung["best_case"] <= by_rung["worst"]


def test_counter_reads_after_one_drain_without_sleeping(spark, csv_copy, monkeypatch):
    """The action's stages are read once, after the listener bus has
    drained: no sleep-poll for the counters to settle, and still every
    byte of the CSV read (a read before the drain could miss the job's
    stages and return a stable under-count)."""

    def _no_sleep(seconds):
        raise AssertionError(f"measure_runtime_bytes slept {seconds} s")

    schema = "l_orderkey bigint, l_quantity double, l_extendedprice double"
    monkeypatch.setattr(time, "sleep", _no_sleep)
    read = measure_runtime_bytes(
        spark,
        lambda: spark.read.schema(schema)
        .option("header", True)
        .csv(csv_copy)
        .write.format("noop")
        .mode("overwrite")
        .save(),
    )
    monkeypatch.undo()
    size = _dir_size(csv_copy)
    assert 0.9 * size <= read <= 1.5 * size, (read, size)
