"""``tables.load_table``'s footer-schema cache: a repeated load of an
unchanged table plans without any Spark job, and every change that can
alter the inferred schema — a part file rewritten (all parts or one of
several), added or removed, another session, a schema-shaping conf —
infers it again."""

from __future__ import annotations

import os
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from parquet_near_storage_compute_spark import tables
from parquet_near_storage_compute_spark.tables import load_table, table_path


def _write_part(sf_dir, name: str, part: int, table: pa.Table) -> None:
    path = table_path(str(sf_dir), name)
    os.makedirs(path, exist_ok=True)
    pq.write_table(table, os.path.join(path, f"part-{part}.parquet"))


def _items(lo: int, n: int = 50) -> pa.Table:
    ids = list(range(lo, lo + n))
    return pa.table(
        {
            "k": pa.array(ids, pa.int64()),
            "v": pa.array([i / 4 for i in ids], pa.float64()),
            "raw": pa.array([str(i).encode() for i in ids], pa.binary()),
        }
    )


@pytest.fixture
def corpus(tmp_path):
    """A two-part ``items`` table in a fresh directory."""
    _write_part(tmp_path, "items", 0, _items(0))
    _write_part(tmp_path, "items", 1, _items(50))
    return str(tmp_path)


def _load_counting_jobs(spark, sf_dir: str, name: str):
    """``load_table`` under a fresh job group: (DataFrame, jobs it ran)."""
    sc = spark.sparkContext
    group = f"load-table-{uuid.uuid4().hex[:12]}"
    sc.setJobGroup(group, "load_table schema-cache test")
    try:
        df = load_table(spark, sf_dir, name)
    finally:
        sc._jsc.clearJobGroup()
    # job-start events reach the status store through the listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return df, len(sc.statusTracker().getJobIdsForGroup(group))


def test_second_load_runs_no_job(spark, corpus):
    first, jobs = _load_counting_jobs(spark, corpus, "items")
    assert jobs >= 1  # schema inference
    second, jobs = _load_counting_jobs(spark, corpus, "items")
    assert jobs == 0
    assert second.schema == first.schema
    assert second.schema == spark.read.parquet(table_path(corpus, "items")).schema
    assert sorted(second.collect()) == sorted(first.collect())


def test_in_place_rewrite_with_drifted_schema_invalidates(spark, corpus):
    load_table(spark, corpus, "items")
    drifted = _items(0).append_column("extra", pa.array(["x"] * 50))
    for part in (0, 1):  # without mergeSchema, any part may set the schema
        _write_part(corpus, "items", part, drifted)
    df, jobs = _load_counting_jobs(spark, corpus, "items")
    assert jobs >= 1
    assert "extra" in df.columns
    assert df.filter("extra = 'x'").count() == 100


@pytest.mark.parametrize("part", [0, 2])
def test_drift_in_one_part_of_several_invalidates(spark, tmp_path, part):
    """Drift written into ONE part of three (first or last in listing
    order) changes only that file's footer; the cache must miss, infer
    what an uncached read infers, and with ``mergeSchema`` on surface the
    new column."""
    corpus = str(tmp_path)
    for p in range(3):
        _write_part(corpus, "items", p, _items(50 * p))
    load_table(spark, corpus, "items")
    drifted = _items(50 * part).append_column("extra", pa.array(["x"] * 50))
    _write_part(corpus, "items", part, drifted)
    df, jobs = _load_counting_jobs(spark, corpus, "items")
    assert jobs >= 1
    assert df.schema == spark.read.parquet(table_path(corpus, "items")).schema
    key = "spark.sql.parquet.mergeSchema"
    before = spark.conf.get(key)
    spark.conf.set(key, "true")
    try:
        merged, jobs = _load_counting_jobs(spark, corpus, "items")
        assert jobs >= 1
        assert merged.filter("extra = 'x'").count() == 50
    finally:
        spark.conf.set(key, before)


def test_added_or_removed_part_invalidates(spark, corpus):
    load_table(spark, corpus, "items")
    _write_part(corpus, "items", 2, _items(100))
    df, jobs = _load_counting_jobs(spark, corpus, "items")
    assert jobs >= 1
    assert df.count() == 150
    os.remove(os.path.join(table_path(corpus, "items"), "part-0.parquet"))
    df, jobs = _load_counting_jobs(spark, corpus, "items")
    assert jobs >= 1
    assert df.count() == 100


def test_other_session_misses(spark, corpus):
    load_table(spark, corpus, "items")
    _, jobs = _load_counting_jobs(spark.newSession(), corpus, "items")
    assert jobs >= 1


def test_binary_as_string_change_misses(spark, corpus):
    key = "spark.sql.parquet.binaryAsString"
    before = spark.conf.get(key)
    df = load_table(spark, corpus, "items")
    assert dict(df.dtypes)["raw"] == ("string" if before == "true" else "binary")
    spark.conf.set(key, "false" if before == "true" else "true")
    try:
        df, jobs = _load_counting_jobs(spark, corpus, "items")
        assert jobs >= 1
        assert dict(df.dtypes)["raw"] == ("binary" if before == "true" else "string")
    finally:
        spark.conf.set(key, before)


def test_events_nanos_rewrite_on_cache_hit(spark, tmp_path):
    """``events.ts`` stored as TIMESTAMP(NANOS) is read as a long and
    rebuilt as a timestamp — from the cached schema on a hit, too."""
    ns = [1_700_000_000_123_456_789 + i * 1_000 for i in range(10)]
    events = pa.table(
        {"event_id": pa.array(range(10), pa.int64()), "ts": pa.array(ns, pa.timestamp("ns"))}
    )
    pq.write_table(events, table_path(str(tmp_path), "events"), version="2.6")
    first, _ = _load_counting_jobs(spark, str(tmp_path), "events")
    second, jobs = _load_counting_jobs(spark, str(tmp_path), "events")
    assert jobs == 0
    assert dict(second.dtypes)["ts"] == "timestamp"
    assert sorted(second.collect()) == sorted(first.collect())


def test_non_local_paths_bypass_the_cache(spark):
    assert tables._schema_key(spark, "s3a://bucket/sf", "lineitem") is None
    assert tables._schema_key(spark, "/data/sf*", "lineitem") is None
    assert tables._schema_key(spark, "/nonexistent/sf", "lineitem") is None
