"""Run EVERY registered query against its DuckDB oracle at a given SF.

The standalone form of ``tests/test_registry_oracle.py`` for ad-hoc /
pre-commit sweeps at larger scale factors than the test suite's sf0.001
(the external correctness gate runs at sf0.01).  Runs under a VANILLA
SparkSession (``builder.getOrCreate()`` — Spark 4 defaults: ANSI on) to
prove the engine pins its own required confs via
``tables.ensure_engine_confs`` rather than relying on a curated session.

Usage::

    python tools/run_registry_sweep.py [sf_dir] [name_substring ...]

Prints ``EQUAL`` / ``DIFF`` per oracle-backed contract (``rows-only`` for
the few non-SQL-expressible ones) and exits nonzero on any DIFF/error.
"""

from __future__ import annotations

import os
import sys
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession  # noqa: E402

from parquet_near_storage_compute_spark import registry, workers  # noqa: E402


def main() -> int:
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = sys.argv[2:]
    from tests.oracle import compare, duckdb_con

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .appName("registry-sweep")
        .getOrCreate()
    )
    # the Python-UDF contracts' workers import the engine from wherever
    # the sweep is started
    workers.ship_package_path(spark)
    con = duckdb_con(sf)
    queries = registry.all_queries()
    oracles = registry.all_oracles()
    bad = []
    for name, fn in queries.items():
        if only and not any(s in name for s in only):
            continue
        try:
            df = fn(spark, sf)
            if name not in oracles:
                print(f"{name:40s} rows-only: {df.count()}")
                continue
            compare(df, con, oracles[name])
            print(f"{name:40s} EQUAL")
        except Exception:  # noqa: BLE001
            bad.append(name)
            print(f"{name:40s} DIFF/ERROR")
            traceback.print_exc(limit=3)
    print(f"\n{len(bad)} failing: {bad}" if bad else "\nall EQUAL")
    spark.stop()
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
