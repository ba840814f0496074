"""Bucketed co-located join (operators/joins.py): both sides are written
``bucketBy(N, custkey)`` + ``sortBy``, so the SortMergeJoin must run with
ZERO exchanges in its subtree — the layout pays the shuffle once at write
time and every subsequent join on that key is exchange-free. This is the
plan shape that makes big-big joins viable at 100 TB.
"""

from __future__ import annotations

from parquet_near_storage_compute_spark.operators.joins import (
    bucketed_colocated_join,
)


def test_join_subtree_is_exchange_free(spark, sf_dir):
    df = bucketed_colocated_join(spark, sf_dir)
    s = df._jdf.queryExecution().executedPlan().toString()
    # (AdaptiveSparkPlan hides its inner plan from children(), so assert
    # on the printed tree: everything after the SortMergeJoin line is its
    # subtree — ancestors print above it)
    assert "SortMergeJoin" in s, f"expected SortMergeJoin:\n{s}"
    subtree = s[s.index("SortMergeJoin"):]
    assert "Exchange" not in subtree, (
        f"bucketed join still shuffles:\n{subtree}"
    )
    assert subtree.count("Bucketed: true") == 2
    assert "SelectedBucketsCount: 8 out of 8" in subtree
    # and the result itself is correct end to end
    rows = {r["c_mktsegment"]: r["n_orders"] for r in df.collect()}
    assert sum(rows.values()) > 0


def test_rewritten_customer_rebuilds_buckets(spark, sf_dir, tmp_path):
    """The bucketed tables are keyed on both sources' file listings: after
    `customer.parquet` is rewritten with new `c_mktsegment` values, the
    contract answers from the new rows, not from the old buckets."""
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    from parquet_near_storage_compute_spark.tables import table_path

    corpus = str(tmp_path)
    for t in ("orders", "customer"):
        shutil.copy(table_path(sf_dir, t), table_path(corpus, t))

    def counts() -> dict:
        df = bucketed_colocated_join(spark, corpus)
        return {r["c_mktsegment"]: r["n_orders"] for r in df.collect()}

    before = counts()
    assert len(before) > 1
    cust = pq.read_table(table_path(corpus, "customer"))
    segment = cust.schema.get_field_index("c_mktsegment")
    cust = cust.set_column(
        segment, "c_mktsegment", pa.array(["REWRITTEN"] * cust.num_rows)
    )
    pq.write_table(cust, table_path(corpus, "customer"))
    assert counts() == {"REWRITTEN": sum(before.values())}


def test_builds_nothing_in_the_warehouse(spark, sf_dir, tmp_path, monkeypatch):
    """The bucketed sides are derived copies under the scratch root,
    registered as external tables: building them for a new corpus writes
    nothing under ``spark.sql.warehouse.dir``."""
    import os
    import shutil
    import tempfile
    from urllib.parse import urlparse

    from parquet_near_storage_compute_spark.tables import table_path

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path / "tmp"))
    os.makedirs(tempfile.tempdir)
    corpus = tmp_path / "corpus"
    corpus.mkdir()
    for t in ("orders", "customer"):
        shutil.copy(table_path(sf_dir, t), table_path(str(corpus), t))

    warehouse = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path

    def listing() -> set:
        return set(os.listdir(warehouse)) if os.path.isdir(warehouse) else set()

    before = listing()
    assert bucketed_colocated_join(spark, str(corpus)).count() > 0
    assert listing() - before == set()
