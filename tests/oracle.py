"""Local mimic of the driver's DuckDB-oracle comparison.

Row-count + column names + order-insensitive value comparison. Floats are
epsilon-rounded (~9 significant digits) only to PAIR rows across engines;
the paired raw values must then agree to 5e-13 RELATIVE tolerance — ~3000×
tighter than the pairing epsilon. Rationale (round 5): the external
driver's hash flaked on a 1.3e-12 relative drift (join_outer_full's
order-dependent double sum) that 9-digit rounding absorbed locally, so the
local gate must catch everything above the ~1e-13 danger zone while still
admitting the benign 1-ulp (≤1e-15) cross-engine differences inherent to
division/log results. (v1 itself uses epsilon float equality,
``v1/src/main.rs:716-732``.)
"""

from __future__ import annotations

import datetime as _dt
import math
from typing import Any

import duckdb

from parquet_near_storage_compute_spark.tables import TABLES, table_path


def duckdb_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{table_path(sf_dir, t)}'"
        )
    return con


def _norm_value(v: Any) -> Any:
    if isinstance(v, bool):
        return v
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == 0:
            return 0.0
        # relative epsilon rounding: keep ~9 significant digits
        mag = math.floor(math.log10(abs(v)))
        return round(v, max(0, 9 - mag - 1))
    if isinstance(v, _dt.datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, _dt.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_norm_value(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _norm_value(x)) for k, x in v.items()))
    return v


def _sorted_raw(rows: list[tuple], colnames: list[str]) -> list[tuple]:
    """Column-reorder + row-sort by the ROUNDED representation (stable
    pairing across engines), returning the raw values."""
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    raw = [tuple(r[i] for i in order) for r in rows]
    return sorted(raw, key=lambda r: repr(tuple(_norm_value(v) for v in r)))


#: Relative tolerance for paired float values — admits benign last-ulp
#: engine differences (~1e-15), rejects the ≥1e-12 order-dependent-sum
#: drift the external driver's hash can flake on.
FLOAT_RTOL = 5e-13


def _values_close(a: Any, b: Any) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        if not isinstance(a, (int, float)) or not isinstance(b, (int, float)):
            return False
        if math.isnan(a) or math.isnan(b):
            return math.isnan(a) and math.isnan(b)
        return math.isclose(a, b, rel_tol=FLOAT_RTOL, abs_tol=1e-12)
    if isinstance(a, (list, tuple)) and isinstance(b, (list, tuple)):
        return len(a) == len(b) and all(
            _values_close(x, y) for x, y in zip(a, b)
        )
    if isinstance(a, dict) and isinstance(b, dict):
        return set(a) == set(b) and all(
            _values_close(a[k], b[k]) for k in a
        )
    return _norm_value(a) == _norm_value(b)


#: Oracle-result memo: (connection data fingerprint, sql) → (cols, rows).
#: The BPE-family oracles are generated unrolled-CTE chains that cost
#: 30-60 s PER EVALUATION in DuckDB, and several suites evaluate the same
#: oracle on the same corpus (test_registry_oracle + the family suites).
#: The fingerprint covers the view definitions AND the mtime+size of every
#: parquet path they reference, so a rewritten corpus at the same path
#: invalidates the entry; results are deterministic given both.
_ORACLE_MEMO: dict[tuple, tuple[list[str], list[tuple]]] = {}


def _con_fingerprint(con: duckdb.DuckDBPyConnection, sql: str) -> tuple:
    """Definitions + file stats of the views the SQL references (by name,
    word-boundary), plus file stats of the paths quoted in the SQL text.
    Keying on referenced views only lets two connections with different
    UNREFERENCED view sets share an entry — the result depends only on
    the referenced data."""
    import os as _os
    import re as _re

    views = tuple(
        v
        for v in con.execute(
            "SELECT view_name, sql FROM duckdb_views() "
            "WHERE NOT internal ORDER BY view_name"
        ).fetchall()
        if _re.search(rf"\b{_re.escape(v[0])}\b", sql)
    )
    # quoted paths: every one in a referenced view, and those written in
    # the SQL itself (e.g. read_parquet('...')) — a literal with a '/'
    paths = [p for _, vsql in views for p in _re.findall(r"'([^']+)'", vsql or "")]
    paths += _re.findall(r"'([^']*/[^']*)'", sql)
    stats = []
    for p in paths:
        base = p.split("*")[0].rstrip("/")
        try:
            st = _os.stat(base)
            stats.append((p, st.st_mtime_ns, st.st_size))
        except OSError:
            stats.append((p, -1, -1))
    return (views, tuple(stats))


def _oracle_rows(
    con: duckdb.DuckDBPyConnection, sql: str
) -> tuple[list[str], list[tuple]]:
    key = (_con_fingerprint(con, sql), sql)
    hit = _ORACLE_MEMO.get(key)
    if hit is not None:
        return hit
    rel = con.execute(sql)
    out = ([d[0] for d in rel.description], rel.fetchall())
    _ORACLE_MEMO[key] = out
    return out


def compare(spark_df, con: duckdb.DuckDBPyConnection, sql: str) -> None:
    """Assert the Spark result and the DuckDB oracle result match."""
    spark_cols = spark_df.columns
    spark_rows = [tuple(r) for r in spark_df.collect()]
    duck_cols, duck_rows = _oracle_rows(con, sql)

    assert sorted(spark_cols) == sorted(duck_cols), (
        f"column mismatch: spark={sorted(spark_cols)} duck={sorted(duck_cols)}"
    )
    assert len(spark_rows) == len(duck_rows), (
        f"row count mismatch: spark={len(spark_rows)} duck={len(duck_rows)}"
    )
    s = _sorted_raw(spark_rows, spark_cols)
    d = _sorted_raw(duck_rows, duck_cols)
    for i, (a, b) in enumerate(zip(s, d)):
        assert _values_close(a, b), (
            f"value mismatch at sorted row {i}:\n  spark={a}\n  duck ={b}"
        )
