"""Python Data Source (PySpark 4 extension API) — the v2 selective scan
hosted in Spark's planner: footer-only row-group pruning in ``partitions()``,
pushed filters re-applied by Spark, Arrow-batch reads; and the writer's
commit rule (the ``_SUCCESS`` manifest is the table) under injected
faults."""

from __future__ import annotations

import json
import os
import re

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql.datasource import (
    EqualTo,
    GreaterThanOrEqual,
    LessThan,
)

from parquet_near_storage_compute_spark.sources.pyds import (
    ROW_GROUP_ROWS,
    RowGroupParquetDataSource,
    RowGroupReader,
    list_part_files,
    plan_row_groups,
    python_datasource_scan,
    register,
    sized_events_path,
)
from tests.oracle import compare, duckdb_con

SF = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def sized_path() -> str:
    return sized_events_path(SF)


def test_sized_layout_shape(sized_path):
    md = pq.ParquetFile(sized_path).metadata
    assert md.num_row_groups == md.num_rows // ROW_GROUP_ROWS
    # sort key tight per group: groups are disjoint event_id ranges
    prev_max = -1
    for rg in range(md.num_row_groups):
        st = md.row_group(rg).column(0).statistics
        assert st.min > prev_max
        prev_max = st.max


def test_plan_prunes_on_sort_key(sized_path):
    total = pq.ParquetFile(sized_path).metadata.num_row_groups
    assert plan_row_groups(sized_path, []) == list(range(total))
    kept = plan_row_groups(sized_path, [LessThan(("event_id",), 500)])
    assert kept == [0, 1]  # 500 rows / 250-row groups
    kept_hi = plan_row_groups(
        sized_path, [GreaterThanOrEqual(("event_id",), (total - 1) * ROW_GROUP_ROWS)]
    )
    assert kept_hi == [total - 1]
    # point lookup: exactly one group admits
    assert plan_row_groups(sized_path, [EqualTo(("event_id",), 1234)]) == [4]


def test_plan_is_conservative_on_random_column(sized_path):
    # value is uniform-random per group: stats admit everything — pruning
    # must keep all groups rather than guess.
    total = pq.ParquetFile(sized_path).metadata.num_row_groups
    kept = plan_row_groups(sized_path, [LessThan(("value",), 100.0)])
    assert kept == list(range(total))
    # filters on unknown columns admit everything too
    assert plan_row_groups(
        sized_path, [LessThan(("no_such_col",), 1)]
    ) == list(range(total))


def test_reader_partitions_follow_pushed_filters(sized_path):
    reader = RowGroupReader({"path": sized_path})
    unsupported = list(reader.pushFilters([LessThan(("event_id",), 500)]))
    # every filter is handed back for Spark-side re-application
    assert len(unsupported) == 1
    parts = reader.partitions()
    assert [p.row_group for p in parts] == [0, 1]


def test_scan_tasks_equal_surviving_groups(spark, sized_path):
    register(spark)
    df = (
        spark.read.format("rowgroup_parquet")
        .option("path", sized_path)
        .load()
        .filter(F.col("event_id") < 500)
    )
    # the filtered scan materializes exactly the two surviving row groups
    assert df.count() == 500
    assert df.rdd.getNumPartitions() == 2


def test_contract_matches_oracle(spark):
    from parquet_near_storage_compute_spark.sources.pyds import ORACLE_SQL

    con = duckdb_con(SF)
    df = python_datasource_scan(spark, SF)
    compare(df, con, ORACLE_SQL["source_python_datasource"])


def test_stream_contract_matches_oracle(spark):
    from parquet_near_storage_compute_spark.sources.pyds import (
        ORACLE_SQL,
        python_datasource_stream,
    )

    con = duckdb_con(SF)
    df = python_datasource_stream(spark, SF)
    compare(df, con, ORACLE_SQL["stream_python_datasource"])


def test_sink_round_trip_matches_oracle(spark):
    from parquet_near_storage_compute_spark.sources.pyds import (
        ORACLE_SQL,
        python_datasource_sink,
    )

    con = duckdb_con(SF)
    # run twice: the second write exercises the overwrite cleanup — stale
    # parts from generation 1 must not leak into generation 2's read-back
    python_datasource_sink(spark, SF).collect()
    df = python_datasource_sink(spark, SF)
    compare(df, con, ORACLE_SQL["sink_python_datasource"])


def test_sink_manifest_hides_uncommitted_parts(spark, tmp_path):
    d = str(tmp_path / "tbl")
    os.makedirs(d)
    tbl = pa.table(
        {"event_id": pa.array([1], pa.int64()),
         "event_type": pa.array(["click"], pa.string()),
         "value": pa.array([1.0], pa.float64())}
    )
    pq.write_table(tbl, os.path.join(d, "committed.parquet"))
    pq.write_table(tbl, os.path.join(d, "orphan.parquet"))
    with open(os.path.join(d, "_SUCCESS"), "w") as fh:
        json.dump({"parts": [{"path": "committed.parquet", "rows": 1}]}, fh)
    assert [os.path.basename(p) for p in list_part_files(d)] == [
        "committed.parquet"
    ]


def test_rows_exact_despite_group_granularity(spark, sized_path):
    # pruning keeps whole groups; Spark's re-applied filter must trim to
    # the row-exact result (group 1 spans 250..499, filter keeps all 500
    # of groups 0-1 here, so compare a predicate that splits a group).
    register(spark)
    df = (
        spark.read.format("rowgroup_parquet")
        .option("path", sized_path)
        .load()
        .filter(F.col("event_id") < 300)
    )
    assert df.count() == 300  # not 500: group 1 was read, then filtered


def _write_grouped(path: str, n_groups: int) -> None:
    """Deterministic events-shaped file with exactly n_groups row groups of
    ROW_GROUP_ROWS rows each (group g holds event_ids [g*R, (g+1)*R))."""
    n = n_groups * ROW_GROUP_ROWS
    table = pa.table(
        {
            "event_id": pa.array(range(n), pa.int64()),
            "event_type": pa.array([f"t{i % 3}" for i in range(n)]),
            "value": pa.array([float(i) / 7 for i in range(n)], pa.float64()),
        }
    )
    tmp = path + ".tmp"
    pq.write_table(table, tmp, row_group_size=ROW_GROUP_ROWS)
    os.replace(tmp, path)


def test_bounded_admission_replays_growth_exactly_once(spark, tmp_path):
    """Bounded batch admission: after the initial backlog, 24 appended row
    groups must replay as ⌈24/8⌉ = 3 deterministic batches of
    ≤ 8·ROW_GROUP_ROWS rows, summing to exactly-once totals; restarting
    the checkpointed query must replay nothing (the admission bound never
    regresses the WAL offset — the planned-high-water floor invariant)."""
    register(spark)
    src = os.path.join(str(tmp_path), "growing.parquet")
    out = os.path.join(str(tmp_path), "out")
    ckpt = os.path.join(str(tmp_path), "ckpt")
    batch_log = os.path.join(str(tmp_path), "batches.jsonl")
    _write_grouped(src, 4)

    stream = (
        spark.readStream.format("rowgroup_parquet")
        .option("path", src)
        .option("maxGroupsPerBatch", "8")
        .load()
    )

    def sink(df, batch_id):
        n = df.count()
        with open(batch_log, "a") as fh:
            fh.write(json.dumps({"batch": batch_id, "rows": n}) + "\n")
        df.write.mode("append").parquet(out)

    def run():
        q = (
            stream.writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .start()
        )
        q.processAllAvailable()
        q.stop()

    def batches():
        with open(batch_log) as fh:
            return [json.loads(line) for line in fh]

    run()  # initial backlog: one (unbounded) recovery-style batch
    assert spark.read.parquet(out).count() == 4 * ROW_GROUP_ROWS

    _write_grouped(src, 28)  # append 24 groups (first 4 identical)
    run()
    new = [b for b in batches() if b["batch"] > 0 and b["rows"] > 0]
    assert len(new) == 3, batches()  # 24 groups / 8 per batch
    assert all(b["rows"] <= 8 * ROW_GROUP_ROWS for b in new)
    assert spark.read.parquet(out).count() == 28 * ROW_GROUP_ROWS

    # restart with nothing new, twice: no replay, no WAL regression
    for attempt in range(2):
        run()
        assert spark.read.parquet(out).count() == 28 * ROW_GROUP_ROWS, attempt


def _growth_restart_batches(spark, tmp_path):
    """Backlog of 4 groups, stop, grow to 28 groups while down, restart —
    return the non-empty post-restart batch row counts (and verify
    exactly-once totals)."""
    register(spark)
    src = os.path.join(str(tmp_path), "grow.parquet")
    out = os.path.join(str(tmp_path), "out")
    ckpt = os.path.join(str(tmp_path), "ckpt")
    batch_log = os.path.join(str(tmp_path), "batches.jsonl")
    _write_grouped(src, 4)

    stream = (
        spark.readStream.format("rowgroup_parquet")
        .option("path", src)
        .option("maxGroupsPerBatch", "8")
        .load()
    )

    def sink(df, batch_id):
        with open(batch_log, "a") as fh:
            fh.write(json.dumps({"batch": batch_id, "rows": df.count()}) + "\n")
        df.write.mode("append").parquet(out)

    def run():
        q = (
            stream.writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .start()
        )
        q.processAllAvailable()
        q.stop()

    run()
    assert spark.read.parquet(out).count() == 4 * ROW_GROUP_ROWS
    _write_grouped(src, 28)  # grows while the query is DOWN
    run()  # restart against the grown backlog
    assert spark.read.parquet(out).count() == 28 * ROW_GROUP_ROWS
    with open(batch_log) as fh:
        logged = [json.loads(line) for line in fh]
    return [b["rows"] for b in logged if b["batch"] > 0 and b["rows"] > 0]


def test_restart_recovery_is_bounded_even_without_the_hint(spark, tmp_path):
    """On restart the runner re-plans/commits the restored WAL batch
    BEFORE the first latestOffset, which seeds the planned-offset floor —
    so a backlog that grew while the query was down replays in bounded
    batches, with no checkpoint hint to the reader. If this test ever
    fails with one unbounded batch, the runner stopped seeding the floor."""
    rows = _growth_restart_batches(spark, tmp_path)
    assert len(rows) == 3, rows
    assert all(r <= 8 * ROW_GROUP_ROWS for r in rows)


# --- the commit rule under injected faults --------------------------------


def _events(lo: int, n: int) -> pa.Table:
    ids = range(lo, lo + n)
    return pa.table(
        {
            "event_id": pa.array(ids, pa.int64()),
            "event_type": pa.array([f"t{i % 3}" for i in ids], pa.string()),
            "value": pa.array([i / 4 for i in ids], pa.float64()),
        }
    )


def _rows(*tables: pa.Table) -> list[tuple]:
    return sorted(
        tuple(r.values()) for t in tables for r in t.to_pylist()
    )


def _save(spark, path: str, table: pa.Table, mode: str) -> None:
    register(spark)
    (
        spark.createDataFrame(table.to_pandas())
        .write.format("rowgroup_parquet")
        .option("path", path)
        .mode(mode)
        .save()
    )


def _read(spark, path: str) -> list[tuple]:
    df = spark.read.format("rowgroup_parquet").option("path", path).load()
    return sorted(tuple(r) for r in df.collect())


def _task_part(writer, table: pa.Table):
    """What one write task does: hand the writer Arrow batches, get its
    commit message back."""
    return writer.write(iter(table.to_batches()))


def _writer(path: str, overwrite: bool):
    """The driver's writer for ``path``, built the way Spark builds it."""
    source = RowGroupParquetDataSource({"path": path})
    return source.writer(source.schema(), overwrite)


def test_crash_before_commit_serves_the_previous_generation(spark, tmp_path):
    """(a) An overwrite job's task writes its part, then the driver dies
    before ``commit``: the previous generation is still the table, and
    the uncommitted part stays invisible."""
    path = str(tmp_path / "tbl")
    _save(spark, path, _events(0, 10), "overwrite")
    committed = list_part_files(path)
    orphan = _task_part(_writer(path, overwrite=True), _events(100, 5))
    assert os.path.exists(orphan.path)
    assert list_part_files(path) == committed
    assert _read(spark, path) == _rows(_events(0, 10))


def test_failed_overwrite_keeps_the_previous_generation(spark, tmp_path):
    """(b) An overwrite job whose task raises: after ``abort`` the previous
    generation is intact."""
    path = str(tmp_path / "tbl")
    _save(spark, path, _events(0, 10), "overwrite")
    committed = list_part_files(path)
    # a Range, not a local relation: the optimizer would evaluate a
    # projection over local rows, and so raise, before the job starts
    failing = spark.range(100, 105).select(
        F.col("id").alias("event_id"),
        F.lit("t").alias("event_type"),
        F.when(F.col("id") == 102, F.raise_error(F.lit("injected task failure")))
        .otherwise(F.col("id") / 4)
        .alias("value"),
    )
    with pytest.raises(Exception, match="injected task failure"):
        (
            failing.write.format("rowgroup_parquet")
            .option("path", path)
            .mode("overwrite")
            .save()
        )
    assert list_part_files(path) == committed
    assert _read(spark, path) == _rows(_events(0, 10))


def test_append_adds_to_the_committed_generation(spark, tmp_path):
    """(c) Append keeps what is there: 10 rows, then 5, read back as 15."""
    path = str(tmp_path / "tbl")
    _save(spark, path, _events(0, 10), "overwrite")
    _save(spark, path, _events(100, 5), "append")
    assert _read(spark, path) == _rows(_events(0, 10), _events(100, 5))


@pytest.mark.parametrize("last", [0, 1])
def test_interleaved_overwrites_publish_the_last_commit(spark, tmp_path, last):
    """(d) Two overwrite writers whose tasks both finish before either
    commits, committed in either order: the manifest lists exactly the
    last committer's parts, every listed file exists, and the replaced
    generations' parts are gone."""
    path = str(tmp_path / "tbl")
    _save(spark, path, _events(0, 10), "overwrite")
    writers = [_writer(path, overwrite=True) for _ in range(2)]
    inputs = [_events(100, 5), _events(200, 7)]
    messages = [_task_part(w, t) for w, t in zip(writers, inputs)]
    for i in (1 - last, last):
        writers[i].commit([messages[i]])
    listed = list_part_files(path)
    assert listed == [messages[last].path]
    assert all(os.path.exists(p) for p in listed)
    on_disk = [f for f in os.listdir(path) if f.endswith(".parquet")]
    assert [os.path.join(path, f) for f in on_disk] == listed
    assert _read(spark, path) == _rows(inputs[last])


def test_abort_removes_only_its_own_parts(spark, tmp_path):
    path = str(tmp_path / "tbl")
    _save(spark, path, _events(0, 10), "overwrite")
    committed = list_part_files(path)
    writer = _writer(path, overwrite=True)
    message = _task_part(writer, _events(100, 5))
    writer.abort([message, None])
    assert not os.path.exists(message.path)
    assert list_part_files(path) == committed
    assert all(os.path.exists(p) for p in committed)


def test_truncated_footer_fails_the_read_and_names_the_file(spark, tmp_path):
    """(e) A committed part whose footer is cut off: the read fails and
    names the file; it never returns the other parts' rows."""
    path = str(tmp_path / "tbl")
    _save(spark, path, _events(0, 10), "overwrite")
    victim = list_part_files(path)[-1]
    with open(victim, "r+b") as fh:
        fh.truncate(os.path.getsize(victim) - 10)
    with pytest.raises(Exception, match=re.escape(os.path.basename(victim))):
        _read(spark, path)


def test_zero_row_group_part_plans_no_partition(spark, tmp_path):
    """(f) A listed part with no row group at all plans no partition, and
    the rest of the table reads correctly."""
    path = str(tmp_path / "tbl")
    _save(spark, path, _events(0, 10), "overwrite")
    empty = os.path.join(path, "part-empty.parquet")
    pq.ParquetWriter(empty, _events(0, 0).schema).close()
    assert pq.ParquetFile(empty).metadata.num_row_groups == 0
    manifest = os.path.join(path, "_SUCCESS")
    with open(manifest) as fh:
        listed = json.load(fh)
    listed["parts"].append({"path": "part-empty.parquet", "rows": 0})
    with open(manifest, "w") as fh:
        json.dump(listed, fh)
    assert empty in list_part_files(path)
    assert all(p.path != empty for p in RowGroupReader({"path": path}).partitions())
    assert _read(spark, path) == _rows(_events(0, 10))


def test_directory_without_manifest_is_no_table(tmp_path):
    path = str(tmp_path / "tbl")
    os.makedirs(path)
    pq.write_table(_events(0, 3), os.path.join(path, "part-x.parquet"))
    with pytest.raises(FileNotFoundError, match="no committed generation"):
        list_part_files(path)


def test_register_turns_filter_pushdown_on(spark, sized_path):
    """A session that never set ``spark.sql.python.filterPushdown.enabled``
    reads through ``register`` alone (Spark refuses a reader with
    ``pushFilters`` while the conf is off)."""
    spark.conf.unset("spark.sql.python.filterPushdown.enabled")
    register(spark)
    df = (
        spark.read.format("rowgroup_parquet")
        .option("path", sized_path)
        .load()
        .filter(F.col("event_id") < 500)
    )
    assert df.count() == 500
