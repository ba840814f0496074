"""Near-storage observables: byte accounting + the M1-M7 metric set.

The reference's thesis metric is bytes-that-must-move vs selectivity. v2
computes it *from metadata alone*: fetch the footer (seek -8, read
``metadata_len`` — ``v1/src/main.rs:325-385``), prune row groups on min/max
(``v2/src/main.rs:527-641``), and count the surviving column-chunk ranges
plus the footer (``v2/src/main.rs:400-503``). ``planned_scan_bytes`` is the
same accounting over the same Parquet metadata — deterministic, and exactly
what Spark's vectorized reader will fetch for a scan with the given
projection + pushed predicate (modulo read-coalescing padding, which the
reference's ``merge_chunks`` also has).

Why not ONLY runtime counters: on ``file://``, Spark 4's Parquet reader
reports an ``inputMetrics.bytesRead`` that does not follow column pruning.
Measured on an 8-file range-sorted lineitem layout, it
matched the footer bytes only when every row group was pruned (109 KB);
past that it read 1.60 MB for both a 1- and an 8-column projection of one
threshold (modelled 0.92 and 2.94 MB) and 5.49 MB for both at a looser one
(modelled 3.03 and 10.35 MB), and 3.09 / 4.54 MB with vectored IO off. So
the local counter is neither footer-only nor the paper's bytes-moved
metric; the planned-bytes curve is the portable observable. The counter
nevertheless exists here too — ``measure_runtime_bytes`` sums
``inputMetrics.bytesRead`` over one action's stages from the app status
store (what a ``SparkListener`` on ``onTaskEnd`` accumulates, v1's
measured-bytes observable, ``v1/src/main.rs:166-192``) — and
``tests/test_runtime_bytes.py``
checks that it counts full physical bytes on CSV and stays between the
footer and the file size on the local parquet path.

Metric set (``v1/src/main.rs:158-192``): M1 bytes read · M2 total time ·
M3 total throughput · M4 logical throughput · M5 selectivity % · M6
relative metrics · M7 warm-up exclusion (perfbench warms its op deck
before timing; tools/opt_measure.py reports its warm run apart).
"""

from __future__ import annotations

import functools
import os
import struct
import time
from dataclasses import dataclass
from typing import NamedTuple

import pyarrow.parquet as pq

from pyspark.sql import DataFrame, SparkSession


class _Footer(NamedTuple):
    nbytes: int  # footer length: metadata plus [metadata_len:u32][PAR1]
    meta: pq.FileMetaData
    col_idx: dict[str, int]  # leaf column name -> column index


#: Footers kept by ``_footer`` (LRU): every file of a few scan layouts.
_FOOTER_CAP = 256


@functools.lru_cache(maxsize=_FOOTER_CAP)
def _read_footer(path: str, mtime_ns: int, size: int) -> _Footer:
    """The footer of one version of a file. ``mtime_ns`` and ``size`` are
    only part of the key: a rewritten file is a new version and misses."""
    with open(path, "rb") as fh:
        fh.seek(-8, os.SEEK_END)
        tail = fh.read(8)
    if tail[4:] != b"PAR1":
        raise ValueError(f"{path}: not a parquet file")
    (meta_len,) = struct.unpack("<I", tail[:4])
    meta = pq.read_metadata(path)
    names = [meta.schema.column(i).name for i in range(meta.num_columns)]
    return _Footer(meta_len + 8, meta, {n: i for i, n in enumerate(names)})


def _footer(path: str) -> _Footer:
    """Footer of ``path``, parsed once per (path, mtime_ns, size): the
    storage side reads a footer once, and the planned-bytes accounting of
    every later scan of the same file reuses it."""
    st = os.stat(path)
    return _read_footer(path, st.st_mtime_ns, st.st_size)


def footer_bytes(path: str) -> int:
    """Footer length: trailing 8 bytes are [metadata_len:u32][PAR1]
    (the reference's footer fetch, ``v1/src/main.rs:325-385``)."""
    return _footer(path).nbytes


#: Compact-stats prefix width (F8): the reference's shipped stats keep only
#: an 8-byte prefix for ByteArray columns (``v2/src/main.rs:338-398``).
STAT_PREFIX_BYTES = 8


def utf8_stat_prefix(raw: bytes, n: int = STAT_PREFIX_BYTES) -> str:
    """F8 — UTF-8 prefix decode (``v2/src/main.rs:931-936``): take the
    fixed n-byte stat prefix, strict-decode and trim trailing NUL padding
    when it is valid UTF-8, otherwise decode lossily (replacement chars) —
    byte-for-byte the reference's ``bytes_to_string``. A multibyte
    character straddling the cut therefore surfaces as U+FFFD, exactly as
    the reference renders it."""
    prefix = raw[:n]
    try:
        return prefix.decode("utf-8").rstrip("\x00")
    except UnicodeDecodeError:
        return prefix.decode("utf-8", errors="replace")


def string_stat_prefixes(*paths: str) -> dict[str, dict[str, str]]:
    """Per string/binary column: the min/max over every row group of
    ``paths`` rendered through the F8 prefix rule — the human-readable
    form of the compact stats the reference ships to the compute node.
    Metadata-only (no data pages)."""
    out: dict[str, dict[str, str]] = {}
    metas = [_footer(p).meta for p in paths]
    for grp in (md.row_group(rg) for md in metas for rg in range(md.num_row_groups)):
        for i in range(grp.num_columns):
            col = grp.column(i)
            if col.physical_type != "BYTE_ARRAY" or col.statistics is None:
                continue
            st = col.statistics
            if not st.has_min_max:
                continue
            mn, mx = st.min_raw, st.max_raw
            cur = out.get(col.path_in_schema)
            if cur is None:
                out[col.path_in_schema] = {"raw_min": mn, "raw_max": mx}
            else:
                cur["raw_min"] = min(cur["raw_min"], mn)
                cur["raw_max"] = max(cur["raw_max"], mx)
    return {
        c: {
            "min_prefix": utf8_stat_prefix(v["raw_min"]),
            "max_prefix": utf8_stat_prefix(v["raw_max"]),
        }
        for c, v in out.items()
    }


def _may_match(stats, op: str, lit) -> bool:
    """May a row group with these column statistics hold a row where
    ``column <op> lit``? Missing statistics, missing bounds, unknown ops and
    a literal that cannot be ordered against the bounds (a string against
    numbers) admit: pruning must never drop a group it cannot prove empty
    (``keep_row_group``, ``v1/src/main.rs:626-685``)."""
    if stats is None or not stats.has_min_max:
        return True
    lo, hi = stats.min, stats.max
    if lo is None or hi is None:
        return True
    # prune iff the predicate is false for the whole [lo, hi] range
    try:
        if op == ">":
            return hi > lit
        if op == ">=":
            return hi >= lit
        if op == "<":
            return lo < lit
        if op == "<=":
            return lo <= lit
        if op == "==":
            return lo <= lit <= hi
    except TypeError:
        pass
    return True


def admitted_row_groups(
    path: str, predicate: list[tuple[str, str, object]] | None = None
) -> list[int]:
    """Indices of the row groups of ``path`` whose min/max statistics admit
    every (column, op, literal) of the conjunction ``predicate`` — the
    reference's comparison set (``Comparison``, ``v1/src/main.rs:418-438``).
    Footer only, through the cached ``_footer``. A predicate column the
    file lacks raises ``KeyError`` once the file has a row group."""
    _, meta, col_idx = _footer(path)
    predicate = predicate or []
    kept = []
    for rg in range(meta.num_row_groups):
        group = meta.row_group(rg)
        stats = [group.column(col_idx[col]).statistics for col, _, _ in predicate]
        if all(_may_match(st, op, lit) for st, (_, op, lit) in zip(stats, predicate)):
            kept.append(rg)
    return kept


def planned_scan_bytes(
    path: str,
    columns: list[str] | None = None,
    predicate: list[tuple[str, str, float]] | None = None,
) -> int:
    """Bytes a selective scan must move: footer + the ``columns`` chunks of
    the row groups ``admitted_row_groups`` keeps for ``predicate``."""
    total, meta, col_idx = _footer(path)
    wanted = set(columns) if columns is not None else set(col_idx)
    for rg in admitted_row_groups(path, predicate):
        group = meta.row_group(rg)
        for name in wanted:
            total += group.column(col_idx[name]).total_compressed_size
    return total


def _stages_input_bytes(spark: SparkSession, stage_ids: set[int]) -> int:
    """Sum ``inputMetrics.bytesRead`` over exactly the given stages (all
    attempts). Bounded py4j traffic: O(len(stage_ids)), independent of how
    many stages the session has retained."""
    store = spark.sparkContext._jsc.sc().statusStore()
    total = 0
    for sid in stage_ids:
        # AppStatusStore.stageData(stageId, details, taskStatus,
        # withSummaries, unsortedQuantiles) — fetch Scala default args via
        # their synthesized accessors so only the first arg is pinned.
        attempts = store.stageData(
            int(sid),
            getattr(store, "stageData$default$2")(),
            getattr(store, "stageData$default$3")(),
            getattr(store, "stageData$default$4")(),
            getattr(store, "stageData$default$5")(),
        )
        it = attempts.iterator()
        while it.hasNext():
            total += it.next().inputBytes()
    return total


def measure_runtime_bytes(spark: SparkSession, action) -> int:
    """Run ``action()`` and return the physical bytes its stages read.

    Attribution is per JOB GROUP: the action runs under a unique group id,
    its job ids come back from the status tracker, and only THOSE jobs'
    stages are read from the status store. That is O(action stages) at
    any session age (a whole-store diff costs one py4j call per retained
    stage), immune to eviction of other stages, and unpolluted by
    concurrent work under other group ids. Skipped stages (reused
    exchanges) carry no metrics entry and correctly contribute 0 bytes.

    The status store is fed by the async listener bus, which may still
    hold the action's job-start and task-end events when it returns, so
    the bus is drained before the job and stage ids are read (once): a
    read before the drain could miss a job's stages for good."""
    import uuid

    sc = spark.sparkContext
    group = f"runtime-bytes-{uuid.uuid4().hex[:12]}"
    sc.setJobGroup(group, "runtime-bytes measurement")
    try:
        action()
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    stage_ids: set[int] = set()
    for jid in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(jid)
        if info is not None:
            stage_ids.update(info.stageIds)
    return _stages_input_bytes(spark, stage_ids)


@dataclass
class ScanMetrics:
    """The v1 metric set for one measured query, with its result."""

    bytes_read: int  # M1 (planned, v2-style)
    seconds: float  # M2
    result: list  # the collected rows
    dataset_bytes: int

    @property
    def rows(self) -> int:
        return len(self.result)

    @property
    def logical_throughput_gbps(self) -> float:  # M4
        return self.bytes_read / 1e9 / self.seconds if self.seconds else 0.0

    @property
    def total_throughput_gbps(self) -> float:  # M3
        return self.dataset_bytes / 1e9 / self.seconds if self.seconds else 0.0

    @property
    def selectivity_pct(self) -> float:  # M5
        return (
            100.0 * self.bytes_read / self.dataset_bytes if self.dataset_bytes else 0.0
        )

    def as_dict(self) -> dict:
        return {
            "bytes_read": self.bytes_read,
            "seconds": round(self.seconds, 4),
            "rows": self.rows,
            "dataset_bytes": self.dataset_bytes,
            "logical_throughput_gbps": round(self.logical_throughput_gbps, 4),
            "total_throughput_gbps": round(self.total_throughput_gbps, 4),
            "selectivity_pct": round(self.selectivity_pct, 4),
        }


def dataset_size(paths: list[str]) -> int:
    """Bytes of the files ``paths`` on disk."""
    return sum(os.path.getsize(p) for p in paths)


def measure(
    spark: SparkSession,
    df: DataFrame,
    input_paths: list[str],
    columns: list[str] | None = None,
    predicate: list[tuple[str, str, float]] | None = None,
) -> ScanMetrics:
    """Collect ``df`` once and assemble the M1-M5 metric set: wall time
    and rows of that one collect, which is also the returned ``result``,
    and bytes from the v2-style metadata accounting over the Parquet
    files ``input_paths``."""
    t0 = time.perf_counter()
    result = df.collect()
    seconds = time.perf_counter() - t0
    return ScanMetrics(
        bytes_read=sum(planned_scan_bytes(p, columns, predicate) for p in input_paths),
        seconds=seconds,
        result=result,
        dataset_bytes=dataset_size(input_paths),
    )
