"""Central query registry: every operator from SURVEY.md §2 + extensions.

Each operator module exposes ``QUERIES`` (name → callable(spark, sf_dir) →
DataFrame) and ``ORACLE_SQL`` (name → DuckDB-runnable ANSI SQL). This module
merges them, in ``_MODULES`` order, for ``__spark_entry__.py``. Names must be
unique across modules, and every oracle must name a registered query; either
violation raises when the registry is built, so it can't silently shadow
coverage.
"""

from __future__ import annotations

import importlib
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

_MODULES = [
    "parquet_near_storage_compute_spark.operators.scan_agg",
    "parquet_near_storage_compute_spark.operators.snowset",
    "parquet_near_storage_compute_spark.operators.joins",
    "parquet_near_storage_compute_spark.operators.aggregates",
    "parquet_near_storage_compute_spark.operators.windows",
    "parquet_near_storage_compute_spark.operators.relational",
    "parquet_near_storage_compute_spark.operators.timeseries",
    "parquet_near_storage_compute_spark.operators.dedup",
    "parquet_near_storage_compute_spark.operators.similarity",
    "parquet_near_storage_compute_spark.operators.textops",
    "parquet_near_storage_compute_spark.operators.multimodal",
    "parquet_near_storage_compute_spark.operators.pipeline",
    "parquet_near_storage_compute_spark.operators.scalar_funcs",
    "parquet_near_storage_compute_spark.operators.sketches",
    "parquet_near_storage_compute_spark.operators.typed_scan",
    "parquet_near_storage_compute_spark.operators.training",
    "parquet_near_storage_compute_spark.functions.udfs",
    "parquet_near_storage_compute_spark.sources.io",
    "parquet_near_storage_compute_spark.sources.pyds",
    "parquet_near_storage_compute_spark.streaming.stream_ops",
]


def _collect() -> tuple[
    dict[str, Callable[[SparkSession, str], DataFrame]], dict[str, str]
]:
    queries: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    oracles: dict[str, str] = {}
    for mod_name in _MODULES:
        mod = importlib.import_module(mod_name)
        for name, fn in getattr(mod, "QUERIES", {}).items():
            if name in queries:
                raise ValueError(f"duplicate query name {name!r} in {mod_name}")
            queries[name] = fn
        for name, sql in getattr(mod, "ORACLE_SQL", {}).items():
            if name in oracles:
                raise ValueError(f"duplicate oracle name {name!r} in {mod_name}")
            oracles[name] = sql
    unknown = set(oracles) - set(queries)
    if unknown:
        raise ValueError(f"oracles without queries: {sorted(unknown)}")
    return queries, oracles


def all_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return _collect()[0]


def all_oracles() -> dict[str, str]:
    return _collect()[1]
