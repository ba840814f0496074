"""Near-storage selective scan as a PySpark Python Data Source.

The reference's v2 engine plans a byte-selective read from footer statistics
(``v2/src/main.rs:338-398``: fetch footer, keep only the row groups whose
min/max admit the predicate, stream just those byte ranges). Spark's parquet
reader does the same natively — ``tests/test_rowgroup_pruning.py`` pins
that — but the *extension point* a 100 TB deployment actually uses for a
custom format is the DataSourceV2 API. This module re-expresses the v2 scan
through PySpark 4's Python Data Source API (``pyspark.sql.datasource``,
4.0+; filter pushdown 4.1+):

- ``pushFilters``     — receives Catalyst's ANDed predicates, keeps all of
  them for planning and hands all of them back, so Spark re-applies each
  post-scan (pruning is an I/O optimization, never a correctness step —
  the same conservative contract parquet row-group pruning has).
  ``plan_row_groups`` alone decides which of them prune.
- ``partitions``      — one ``InputPartition`` per *surviving* row group:
  pruning happens at PLANNING time, so skipped row groups never even get a
  task, and the scan parallelism is exactly the surviving-group count.
- ``read``            — opens one row group and yields Arrow RecordBatches
  (zero-copy into Spark's vectorized pipeline; never row-at-a-time). The
  batch and the stream reader share it.
- ``write``/``commit`` — each task writes one part from its Arrow batches;
  the driver publishes a new ``_SUCCESS`` manifest with one rename. The
  manifest is the table: a directory without one has no committed
  generation, and a part it does not list is never read (see
  ``RowGroupWriter``).

At 100 TB the identical class serves a multi-file table: ``partitions()``
walks the file listing (footers only — no data pages) and emits one
partition per surviving (file, row_group) pair; executors stream just those
byte ranges. That is the reference's near-storage architecture, hosted
inside Spark's planner.

Every planner call (``schema``, ``pushFilters`` with ``partitions``,
``writer``, ``commit``) and every task is one call into a Python worker.
With ``workers.install_zipimport_stamps`` a reused worker's call skips
the zip-archive re-read that Spark's worker set-up would otherwise repeat:
on 4 cores (Python 3.11, PySpark 4.1.2, ``local[4]``) a bare ``load()``,
one ``schema()`` round trip, takes about 11 ms (75 ms without), a pruned
read of 200 rows about 120 ms (250 ms) and a 3-row write about 160 ms
(370 ms). The first call in a new worker still pays about 100 ms for that
re-read. Register the source with ``register``, which also ships the
package path to the workers and turns filter pushdown on.
"""

from __future__ import annotations

import json
import os
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamReader,
    EqualTo,
    GreaterThan,
    GreaterThanOrEqual,
    InputPartition,
    LessThan,
    LessThanOrEqual,
    WriterCommitMessage,
)
from pyspark.sql.pandas.types import from_arrow_schema

from parquet_near_storage_compute_spark.plans.metrics import (
    _footer,
    admitted_row_groups,
)
from parquet_near_storage_compute_spark.tables import (
    derived_copy,
    derived_copy_path,
    load_table,
    table_path,
)
from parquet_near_storage_compute_spark.workers import ship_package_path

#: The one schema the source serves and writes (a projection is part of
#: the layout job: the sized copy carries only what the scan needs — late
#: projection is then free because the file itself is narrow).
_SCHEMA = pa.schema(
    [("event_id", pa.int64()), ("event_type", pa.string()), ("value", pa.float64())]
)

#: Rows per row group in the sized layout. Small on purpose: the driver
#: corpora are tiny, and the contract exists to make group-level pruning
#: observable (sf0.001 → 4 groups, sf0.01 → 40, sf0.1 → 400).
ROW_GROUP_ROWS = 250

#: The manifest of a table directory: the parts of its committed generation.
_MANIFEST = "_SUCCESS"


def _committed_parts(path: str) -> list[dict] | None:
    """The parts (``{"path", "rows"}``) the manifest of table directory
    ``path`` lists, or None when nothing was ever committed there."""
    try:
        with open(os.path.join(path, _MANIFEST)) as fh:
            return json.load(fh)["parts"]
    except FileNotFoundError:
        return None


def list_part_files(path: str) -> list[str]:
    """A source path is one parquet file or a table directory. A table
    directory is exactly the parts its ``_SUCCESS`` manifest lists
    (``RowGroupWriter``'s commit): a part it does not list is invisible,
    and a directory without a manifest has no committed generation."""
    if not os.path.isdir(path):
        return [path]
    parts = _committed_parts(path)
    if parts is None:
        raise FileNotFoundError(
            f"rowgroup_parquet: no committed generation at {path} (no {_MANIFEST})"
        )
    return [os.path.join(path, p["path"]) for p in parts]


#: Pushed filter class -> the comparison op of ``plans.metrics``' rule.
_FILTER_OPS = {
    GreaterThan: ">",
    GreaterThanOrEqual: ">=",
    LessThan: "<",
    LessThanOrEqual: "<=",
    EqualTo: "==",
}


def plan_row_groups(path: str, filters) -> list[int]:
    """Footer-only planning: the row-group indices whose statistics admit
    every pushed filter. Reads ZERO data pages — exactly the byte budget
    of the reference's metadata pass (S3/S5). This is the one rule of what
    prunes: a filter of a ``_FILTER_OPS`` class, on one attribute the file
    has, with an ``int``, ``float`` or ``str`` value; any other filter
    prunes nothing."""
    names = _footer(path).col_idx
    predicate = [
        (f.attribute[0], _FILTER_OPS[type(f)], f.value)
        for f in filters
        if type(f) in _FILTER_OPS
        and len(f.attribute) == 1
        and f.attribute[0] in names
        and isinstance(f.value, (int, float, str))
    ]
    return admitted_row_groups(path, predicate)


def _path(options) -> str:
    path = options.get("path")
    if not path:
        raise ValueError("rowgroup_parquet requires a 'path' option")
    return path


class _RowGroupPartition(InputPartition):
    def __init__(self, path: str, row_group: int):
        self.path = path
        self.row_group = row_group


class _RowGroupScan:
    """What the batch and the stream reader share: the ``path`` option and
    the read of one planned row group."""

    def __init__(self, options):
        self.path = _path(options)

    def read(self, partition):
        table = pq.ParquetFile(partition.path).read_row_group(
            partition.row_group, columns=_SCHEMA.names
        )
        yield from table.to_batches()


class RowGroupReader(_RowGroupScan, DataSourceReader):
    def __init__(self, options):
        super().__init__(options)
        self.pushed = []

    def pushFilters(self, filters):
        # Keep every filter for planning-time pruning — and still hand all
        # of them back: stats pruning is group-granular, so Spark must
        # re-apply the exact predicate to the surviving rows.
        self.pushed = list(filters)
        return self.pushed

    def partitions(self):
        return [
            _RowGroupPartition(f, rg)
            for f in list_part_files(self.path)
            for rg in plan_row_groups(f, self.pushed)
        ]


class RowGroupStreamReader(_RowGroupScan, DataSourceStreamReader):
    """Streaming half of the source: the file's row groups ARE the offset
    space. ``latestOffset`` is a footer-only driver call (row-group count),
    ``partitions(start, end)`` emits one partition per unconsumed group, and
    executors read exactly those byte ranges — a parquet "tailer" with
    replayable offsets (``{"rg": n}`` is the checkpoint token; re-planning
    [start, end) after a failure re-reads the identical groups, so the
    source is exactly-once). At 100 TB the offset is a (file, row_group)
    watermark over an append-only directory listing — same three methods,
    same footer-only planning cost.

    Bounded batch admission: with the ``maxGroupsPerBatch`` option set,
    ``latestOffset`` advances at most that many row groups past the
    admission floor, so a growing backlog replays as ⌈backlog/max⌉
    deterministic batches instead of one unbounded batch. The floor is
    the PLANNED high-water — every offset this reader has put into a batch
    range (``partitions`` start and end, ``commit`` end, ``initialOffset``)
    — because an admitted offset below an already-logged one regresses
    the write-ahead log and replays committed groups (next-batch planning
    races the previous batch's commit, and on a fresh query
    ``latestOffset`` fires before ``initialOffset``). While the floor is
    unknown, ``latestOffset`` admits the whole backlog: the Python
    streaming API shows the reader no checkpoint. On a restart the runner
    re-plans and commits the restored batch before its first
    ``latestOffset``, which sets the floor, so a backlog that grew while
    the query was down replays in bounded batches too. Admission is an
    upper bound on progress, never a change to [start, end) batch
    contents, so exactly-once replay is untouched."""

    def __init__(self, options):
        super().__init__(options)
        self.max_groups = int(options.get("maxGroupsPerBatch", "0"))
        self._floor: int | None = None  # planned-offset high-water

    def _num_groups(self) -> int:
        return pq.ParquetFile(self.path).metadata.num_row_groups

    def _sync_floor(self, *offsets: int) -> None:
        known = [self._floor] if self._floor is not None else []
        self._floor = max(known + list(offsets))

    def initialOffset(self):
        self._sync_floor(0)
        return {"rg": 0}

    def latestOffset(self):
        n = self._num_groups()
        if self.max_groups <= 0 or self._floor is None:
            self._sync_floor(n)
            return {"rg": n}
        return {"rg": min(n, self._floor + self.max_groups)}

    def partitions(self, start, end):
        # both ends are authoritative (WAL-backed) — the next admitted
        # offset must never fall below them
        self._sync_floor(start["rg"], end["rg"])
        return [
            _RowGroupPartition(self.path, rg)
            for rg in range(start["rg"], end["rg"])
        ]

    def commit(self, end):
        self._sync_floor(end["rg"])


class _PartFile(WriterCommitMessage):
    def __init__(self, path: str, rows: int):
        self.path = path
        self.rows = rows


class RowGroupWriter(DataSourceArrowWriter):
    """Write half: a two-phase commit in which the ``_SUCCESS`` manifest is
    the table.

    - ``write`` (one per task) takes the task's Arrow batches as Spark
      hands them, selects and casts their columns to the declared
      ``_SCHEMA`` and writes one part of ``ROW_GROUP_ROWS``-row groups
      under a fresh name. No manifest lists it yet, so no reader sees it.
    - ``commit`` (the driver, once every task has succeeded) writes the
      new manifest — this job's parts, after the committed ones on append
      — to a temporary sibling and publishes it with one ``os.replace``.
      Only then does an overwrite delete the parts the replaced manifest
      listed.
    - ``abort`` (a task failed) removes this job's parts and touches
      nothing committed.

    So a job that fails, or a driver that dies before or inside
    ``commit``, leaves the previous generation the table; its unlisted
    parts stay on disk. Commits to one table are not serialised: of two
    overlapping commits the later manifest wins, and an append that
    overlaps another commit can leave the other's parts unlisted."""

    def __init__(self, options, overwrite: bool):
        self.path = _path(options)
        self.overwrite = overwrite

    def write(self, iterator):
        batches = list(iterator)
        table = pa.Table.from_batches(batches) if batches else _SCHEMA.empty_table()
        table = table.select(_SCHEMA.names).cast(_SCHEMA)
        os.makedirs(self.path, exist_ok=True)
        part = os.path.join(self.path, f"part-{uuid.uuid4().hex}.parquet")
        pq.write_table(table, part, row_group_size=ROW_GROUP_ROWS)
        return _PartFile(part, table.num_rows)

    def commit(self, messages):
        previous = _committed_parts(self.path) or []
        parts = [
            {"path": os.path.basename(m.path), "rows": m.rows}
            for m in messages
            if m is not None
        ]
        if not self.overwrite:
            parts = previous + parts
        os.makedirs(self.path, exist_ok=True)
        manifest = os.path.join(self.path, _MANIFEST)
        tmp = f"{manifest}.{uuid.uuid4().hex}.tmp"
        with open(tmp, "w") as fh:
            json.dump({"parts": parts}, fh)
        os.replace(tmp, manifest)
        if self.overwrite:
            for p in previous:
                try:
                    os.remove(os.path.join(self.path, p["path"]))
                except FileNotFoundError:
                    pass

    def abort(self, messages):
        for m in messages:
            if m is not None and os.path.exists(m.path):
                os.remove(m.path)


class RowGroupParquetDataSource(DataSource):
    """``spark.read.format("rowgroup_parquet").option("path", p)`` — batch
    read (pruned), stream read (row-group tailer), and write (sized parts
    with a two-phase manifest commit; overwrite and append)."""

    @classmethod
    def name(cls):
        return "rowgroup_parquet"

    def schema(self):
        return from_arrow_schema(_SCHEMA)

    def reader(self, schema):
        return RowGroupReader(self.options)

    def streamReader(self, schema):
        return RowGroupStreamReader(self.options)

    def writer(self, schema, overwrite):
        return RowGroupWriter(self.options, overwrite)


def register(spark: SparkSession) -> None:
    """Register ``rowgroup_parquet`` on ``spark``, whoever built the
    session: its planner and task workers get the package root on their
    path, and Python filter pushdown is turned on (off by default in 4.1,
    runtime-settable; Spark refuses a reader that implements
    ``pushFilters`` while it is off)."""
    ship_package_path(spark)
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(RowGroupParquetDataSource)


def sized_events_path(sf_dir: str) -> str:
    """Sorted, row-group-sized events copy for the contract, one parquet
    file cached per events listing (``tables.derived_copy``).
    Sorting by ``event_id`` is the layout half of the design: tight per-group
    min/max on the sort key is what makes footer pruning selective — the
    same reason the reference's corpora are written key-ordered."""
    src = table_path(sf_dir, "events")

    def build(path: str) -> None:
        tbl = pq.read_table(src, columns=_SCHEMA.names).sort_by("event_id")
        pq.write_table(tbl, path, row_group_size=ROW_GROUP_ROWS)

    return derived_copy(f"pyds_rg{ROW_GROUP_ROWS}", (src,), build)


def python_datasource_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contract: selective scan through the Python data source. The
    ``event_id < 500`` predicate reaches ``pushFilters``, prunes every row
    group but the first two at planning time (pinned by
    ``tests/test_python_datasource.py``), and is still re-applied by Spark
    row-exactly; the ``value`` predicate rides along (random column — stats
    admit everything, exactly as in the reference's worst-case ladder)."""
    from pyspark.sql import functions as F

    register(spark)
    df = (
        spark.read.format("rowgroup_parquet")
        .option("path", sized_events_path(sf_dir))
        .load()
    )
    return (
        df.filter((F.col("event_id") < 500) & (F.col("value") > 100.0))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.floor(F.col("value") * 100)).alias("sum_value_cents"),
            F.min("event_id").alias("min_event_id"),
            F.max("event_id").alias("max_event_id"),
        )
        .orderBy("event_type")
    )


def python_datasource_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming contract: tail the sized file through the custom source's
    ``DataSourceStreamReader`` (offsets = row groups) and aggregate in
    complete mode. Python stream sources don't implement AvailableNow's
    admission control, so Spark logs a fallback to single-batch execution:
    ONE microbatch spanning initialOffset → latestOffset (all row groups,
    read executor-parallel — 40 tasks at sf0.01), then stop. Equally
    deterministic: the folded complete-mode result (``_run_to_memory``)
    equals the batch aggregate over the whole file, which is what the
    oracle pins."""
    from pyspark.sql import functions as F

    from parquet_near_storage_compute_spark.streaming.stream_ops import (
        _run_to_memory,
    )

    register(spark)
    stream = (
        spark.readStream.format("rowgroup_parquet")
        .option("path", sized_events_path(sf_dir))
        .load()
    )
    agg = stream.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.floor(F.col("value") * 100)).alias("sum_value_cents"),
    )
    return _run_to_memory(agg, "complete").orderBy("event_type")


#: Sink contract subset: every 10th event (deterministic, engine-neutral).
_SINK_MOD = 10


def python_datasource_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write-path contract: push an events subset through the custom
    ``DataSourceWriter`` (distributed tasks → sized parts → manifest
    commit), then read the committed table back through the custom batch
    reader and aggregate. Equality against the parquet-view oracle proves
    the full write→manifest→read loop is lossless. The write re-runs every
    call (overwrite mode), so a repeated call also exercises the commit
    that replaces a generation and deletes its parts."""
    from pyspark.sql import functions as F

    register(spark)
    out = derived_copy_path("pyds_sink", (table_path(sf_dir, "events"),))
    subset = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_id") % _SINK_MOD == 0)
        .select("event_id", "event_type", "value")
    )
    (
        subset.write.format("rowgroup_parquet")
        .option("path", out)
        .mode("overwrite")
        .save()
    )
    df = spark.read.format("rowgroup_parquet").option("path", out).load()
    return (
        df.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.floor(F.col("value") * 100)).alias("sum_value_cents"),
            F.min("event_id").alias("min_event_id"),
            F.max("event_id").alias("max_event_id"),
        )
        .orderBy("event_type")
    )


QUERIES = {
    "source_python_datasource": python_datasource_scan,
    "stream_python_datasource": python_datasource_stream,
    "sink_python_datasource": python_datasource_sink,
}

ORACLE_SQL = {
    "source_python_datasource": """
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(SUM(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
                 AS sum_value_cents,
               CAST(MIN(event_id) AS BIGINT) AS min_event_id,
               CAST(MAX(event_id) AS BIGINT) AS max_event_id
        FROM events
        WHERE event_id < 500 AND value > 100.0
        GROUP BY event_type ORDER BY event_type
    """,
    "stream_python_datasource": """
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(SUM(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
                 AS sum_value_cents
        FROM events
        GROUP BY event_type ORDER BY event_type
    """,
    "sink_python_datasource": f"""
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(SUM(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
                 AS sum_value_cents,
               CAST(MIN(event_id) AS BIGINT) AS min_event_id,
               CAST(MAX(event_id) AS BIGINT) AS max_event_id
        FROM events
        WHERE event_id % {_SINK_MOD} = 0
        GROUP BY event_type ORDER BY event_type
    """,
}
