"""Seeded corpus generation for the benchmark.

Every table is derived from one ``numpy`` generator seeded with the
workload seed, so the same seed always yields byte-identical Parquet files
and the engine only ever sees these generated inputs. Shapes follow the
repository's TPC-H-like star schema (``tables.TABLES``): the same column
names, types and value ranges as the repository's test corpora, at sizes chosen so a
benchmark run stays within its time budget on a 4-core machine.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_DAY_US = 86_400 * 1_000_000
#: 1995-01-01 and 2024-01-01 as epoch microseconds
_EPOCH_1995_US = 788_918_400 * 1_000_000
_EPOCH_2024_US = 1_704_067_200 * 1_000_000

_WORDS = np.array(
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window of and to is in".split()
)
_EVENT_TYPES = np.array(["click", "error", "purchase", "signup", "view"])
_LANGS = np.array(["de", "en", "es", "fr", "zh"])
_PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])

#: Row-group size of the near-storage scan layout. About 100 KiB per group
#: at full width, so the selectivity ladder prunes at a fine grain.
SCAN_ROW_GROUP_ROWS = 6_000
#: Files in the scan layout: the table is range-sorted on the ladder column
#: and cut into this many contiguous files.
SCAN_FILES = 8


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.int64()).cast(pa.timestamp("us"))


def _orders_and_lineitem(
    rng: np.random.Generator, n_orders: int, n_cust: int, n_part: int, n_supp: int
) -> tuple[pa.Table, pa.Table]:
    odate = _EPOCH_1995_US + rng.integers(0, 2400, n_orders) * _DAY_US
    orders = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_orders, dtype="int64")),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_orders)),
            "o_orderstatus": pa.array(rng.choice(np.array(["F", "O", "P"]), n_orders)),
            "o_totalprice": pa.array(np.round(rng.uniform(1000, 500_000, n_orders), 2)),
            "o_orderdate": _ts(odate),
            "o_orderpriority": pa.array(rng.choice(_PRIORITIES, n_orders)),
        }
    )
    lines = rng.integers(1, 8, n_orders)
    n = int(lines.sum())
    okey = np.repeat(np.arange(n_orders, dtype="int64"), lines)
    # 1..k within each order: position minus the order's first position
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    linenumber = (np.arange(n) - starts + 1).astype("int32")
    qty = rng.integers(1, 51, n).astype("float64")
    price = np.round(qty * rng.uniform(900.0, 2100.0, n), 2)
    lineitem = pa.table(
        {
            "l_orderkey": pa.array(okey),
            "l_partkey": pa.array(rng.integers(0, n_part, n)),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n)),
            "l_linenumber": pa.array(linenumber),
            "l_quantity": pa.array(qty),
            "l_extendedprice": pa.array(price),
            "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
            "l_returnflag": pa.array(rng.choice(np.array(["A", "N", "R"]), n)),
            "l_linestatus": pa.array(rng.choice(np.array(["F", "O"]), n)),
            "l_shipdate": _ts(np.repeat(odate, lines) + rng.integers(1, 122, n) * _DAY_US),
        }
    )
    return orders, lineitem


def _events(rng: np.random.Generator, n: int, n_users: int) -> pa.Table:
    ts = np.sort(_EPOCH_2024_US + rng.integers(0, 30 * _DAY_US, n))
    return pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype="int64")),
            "ts": _ts(ts),
            "user_id": pa.array(rng.integers(0, n_users, n)),
            "event_type": pa.array(rng.choice(_EVENT_TYPES, n)),
            "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
        }
    )


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Random word documents; about a tenth are exact copies of an earlier
    document and another tenth are one-word edits of one, so exact dedup,
    MinHash candidates and connected components all have work to do."""
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 0 and r < 0.10:
            text = texts[int(rng.integers(0, i))]
        elif i > 0 and r < 0.20:
            ws = texts[int(rng.integers(0, i))].split(" ")
            ws[int(rng.integers(0, len(ws)))] = str(rng.choice(_WORDS))
            text = " ".join(ws)
        else:
            text = " ".join(rng.choice(_WORDS, int(rng.integers(10, 100))))
        texts.append(text)
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype="int64")),
            "text": pa.array(texts),
            "lang": pa.array(rng.choice(_LANGS, n)),
            "source": pa.array([f"src{int(s)}" for s in rng.integers(0, 20, n)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype="int64")),
        }
    )


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    vecs = rng.normal(0.0, 0.1, (n, dim)).astype("float32")
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype="int64")),
            "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n).astype("int32")),
        }
    )


def _write(tables: dict[str, pa.Table], out: str) -> None:
    os.makedirs(out, exist_ok=True)
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(out, f"{name}.parquet"))


def write_scan(out: str, seed: int) -> list[str]:
    """The near-storage scan layout: about 480k lineitem rows, range-sorted
    on ``l_extendedprice`` and cut into ``SCAN_FILES`` contiguous files of
    ``SCAN_ROW_GROUP_ROWS``-row groups, so footer min/max statistics can
    prune whole groups and files. Returns the part files in order."""
    rng = np.random.default_rng([seed, 2])
    _, lineitem = _orders_and_lineitem(rng, 120_000, 15_000, 20_000, 1_000)
    order = np.argsort(lineitem.column("l_extendedprice").to_numpy(), kind="stable")
    lineitem = lineitem.take(pa.array(order))
    table_dir = os.path.join(out, "lineitem.parquet")
    os.makedirs(table_dir, exist_ok=True)
    bounds = np.linspace(0, lineitem.num_rows, SCAN_FILES + 1).astype(int)
    files = []
    for i in range(SCAN_FILES):
        path = os.path.join(table_dir, f"part-{i:05d}.parquet")
        part = lineitem.slice(bounds[i], bounds[i + 1] - bounds[i])
        pq.write_table(part, path, row_group_size=SCAN_ROW_GROUP_ROWS)
        files.append(path)
    return files


def write_curate(out: str, seed: int) -> None:
    """The curation corpus: documents with exact and near duplicates,
    64-dimensional embeddings, and an ``events`` table for ingest slices."""
    rng = np.random.default_rng([seed, 3])
    _write(
        {
            "documents": _documents(rng, 600),
            "embeddings": _embeddings(rng, 600),
            "events": _events(rng, 20_000, 300),
        },
        out,
    )
