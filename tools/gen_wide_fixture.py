"""Generate fixtures/wide92.parquet — the 92-column snowset-shaped wide
table (VERDICT r7 #4).

The reference's projection experiment sweeps column count over the
92-column Snowset telemetry schema (`v1/src/main.rs:103-109,1700-1793`);
our projection_width evidence previously topped out at the 11-column
lineitem table. This fixture reproduces the reference's column-count AXIS
— same column names and type mix (ids/timestamps/durations as int64,
~40 prof* profile fractions as double) — so the planned-bytes-vs-width
curve reaches the full 92 columns (tests/test_plans_metrics.py), the
`v1_wide92_flagship` contract runs at reference width, and `cli.py
--columns N` has a reference-width input.

Deterministic (fixed seed), committed once; regenerate only if the shape
changes. prof* fractions are rounded to 3 decimals so parquet dictionary
encoding keeps the committed file small while the 92 physical column
chunks stay real.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# the 92 public Snowset telemetry columns, reference order
# (v1/src/main.rs:1700-1793)
ID_COLS = ["queryId", "warehouseId", "databaseId"]
TIME_COLS = ["createdTime", "endTime"]
INT_COLS = [
    "durationTotal", "durationExec", "durationControlPlane",
    "durationCompiling", "execTime", "scheduleTime", "serverCount",
    "warehouseSize", "perServerCores", "persistentReadBytesS3",
    "persistentReadRequestsS3", "persistentReadBytesCache",
    "persistentReadRequestsCache", "persistentWriteBytesCache",
    "persistentWriteRequestsCache", "persistentWriteBytesS3",
    "persistentWriteRequestsS3", "intDataWriteBytesLocalSSD",
    "intDataWriteRequestsLocalSSD", "intDataReadBytesLocalSSD",
    "intDataReadRequestsLocalSSD", "intDataWriteBytesS3",
    "intDataWriteRequestsS3", "intDataReadBytesS3",
    "intDataReadRequestsS3", "intDataWriteBytesUncompressed",
    "readBytesRemoteExternal", "readRequestsRemoteExternal",
    "intDataNetReceivedBytes", "intDataNetSentBytes",
    "intDataNetSentRequests", "intDataNetSentBytesUncompressed",
    "producedRows", "returnedRows", "fileStolenCount",
    "remoteSeqScanFileOps", "localSeqScanFileOps", "localWriteFileOps",
    "remoteSkipScanFileOps", "remoteWriteFileOps", "filesCreated",
    "scanAssignedBytes", "scanAssignedFiles", "scanBytes", "scanFiles",
    "scanOriginalFiles", "userCpuTime", "systemCpuTime", "memoryUsed",
]
PROF_COLS = [
    "profIdle", "profCpu", "profPersistentReadCache",
    "profPersistentWriteCache", "profPersistentReadS3",
    "profPersistentWriteS3", "profIntDataReadLocalSSD",
    "profIntDataWriteLocalSSD", "profIntDataReadS3",
    "profIntDataWriteS3", "profRemoteExtRead", "profRemoteExtWrite",
    "profResWriteS3", "profFsMeta", "profDataExchangeNet",
    "profDataExchangeMsg", "profControlPlaneMsg", "profOs", "profMutex",
    "profSetup", "profSetupMesh", "profTeardown", "profScanRso",
    "profXtScanRso", "profProjRso", "profSortRso", "profFilterRso",
    "profResRso", "profDmlRso", "profHjRso", "profBufRso", "profFlatRso",
    "profBloomRso", "profAggRso", "profBandRso", "profPercentileRso",
    "profUdtfRso", "profOtherRso",
]
COLUMNS = ID_COLS + TIME_COLS + INT_COLS + PROF_COLS
assert len(COLUMNS) == 92, len(COLUMNS)

N_ROWS = 40_000
ROW_GROUP_ROWS = 8_192
SEED = 9208


def build_table(n_rows: int = N_ROWS, seed: int = SEED) -> pa.Table:
    rng = np.random.default_rng(seed)
    data: dict[str, pa.Array] = {}
    data["queryId"] = pa.array(np.arange(n_rows, dtype=np.int64))
    data["warehouseId"] = pa.array(
        rng.integers(0, 500, n_rows, dtype=np.int64)
    )
    data["databaseId"] = pa.array(rng.integers(0, 200, n_rows, dtype=np.int64))
    base_ms = 1_518_000_000_000  # Snowset's Feb-2018 window, epoch millis
    created = base_ms + np.sort(rng.integers(0, 14 * 86_400_000, n_rows))
    dur = rng.lognormal(6.0, 2.0, n_rows).astype(np.int64) + 1
    data["createdTime"] = pa.array(created.astype(np.int64))
    data["endTime"] = pa.array((created + dur).astype(np.int64))
    for c in INT_COLS:
        # heavy-tailed counters, zero-inflated like real telemetry
        vals = rng.lognormal(8.0, 3.0, n_rows).astype(np.int64)
        vals[rng.random(n_rows) < 0.35] = 0
        data[c] = pa.array(vals)
    for c in PROF_COLS:
        # profile fractions in [0, 1), rounded so dictionary encoding
        # keeps the committed fixture small
        frac = np.round(rng.beta(0.4, 4.0, n_rows), 3)
        data[c] = pa.array(frac.astype(np.float64))
    return pa.table({c: data[c] for c in COLUMNS})


def main() -> None:
    out = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "fixtures",
        "wide92.parquet",
    )
    tbl = build_table()
    pq.write_table(tbl, out, row_group_size=ROW_GROUP_ROWS,
                   compression="zstd")
    meta = pq.ParquetFile(out).metadata
    print(out, os.path.getsize(out), "bytes,",
          meta.num_rows, "rows,", meta.num_columns, "cols,",
          meta.num_row_groups, "row groups")


if __name__ == "__main__":
    main()
