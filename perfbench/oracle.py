"""Correctness gate: DuckDB answers computed during set-up, and the
comparison the repository's own oracle tests use (``tests/oracle.py``:
column-name match, row count, order-insensitive pairing by the rounded
representation, then raw values within ``FLOAT_RTOL``)."""

from __future__ import annotations

import os

import duckdb

from tests.oracle import _sorted_raw, _values_close

Answer = tuple[list[str], list[tuple]]


def connect(views: dict[str, str], temp_dir: str) -> duckdb.DuckDBPyConnection:
    """In-memory DuckDB with one view per table; a directory table is read
    as the glob of its part files. Spill space stays in ``temp_dir``."""
    con = duckdb.connect()
    con.execute(f"SET temp_directory = '{temp_dir}'")
    for name, path in views.items():
        src = os.path.join(path, "*.parquet") if os.path.isdir(path) else path
        con.execute(f"CREATE OR REPLACE VIEW {name} AS SELECT * FROM read_parquet('{src}')")
    return con


def answer(con: duckdb.DuckDBPyConnection, sql: str) -> Answer:
    rel = con.execute(sql)
    return [d[0] for d in rel.description], rel.fetchall()


def mismatch(cols: list[str], rows: list[tuple], expected: Answer) -> str | None:
    """None when the result matches ``expected``, else what differs."""
    ecols, erows = expected
    if sorted(cols) != sorted(ecols):
        return f"columns {sorted(cols)} != {sorted(ecols)}"
    if len(rows) != len(erows):
        return f"{len(rows)} rows != {len(erows)}"
    for i, (a, b) in enumerate(zip(_sorted_raw(rows, cols), _sorted_raw(erows, ecols))):
        if not _values_close(a, b):
            return f"sorted row {i}: {a} != {b}"
    return None
