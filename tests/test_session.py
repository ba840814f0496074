"""``get_spark``'s shuffle width: one partition per task slot on a local
master, a fixed width elsewhere, and a caller's explicit conf wins. Every
SQL conf the engine sets is one Spark knows."""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

from parquet_near_storage_compute_spark import tables
from parquet_near_storage_compute_spark.session import (
    CLUSTER_SHUFFLE_PARTITIONS,
    DEFAULT_CONF,
    shuffle_partitions,
)

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.mark.parametrize("master", ["local", "local[3]", "local[*]", "local[4, 2]"])
def test_local_master_uses_its_slots(master):
    assert shuffle_partitions(master, 3) == 3


@pytest.mark.parametrize(
    "master", ["spark://host:7077", "yarn", "k8s://https://host:6443", "local-cluster[2,1,1024]"]
)
def test_other_masters_keep_fixed_width(master):
    assert shuffle_partitions(master, 2) == CLUSTER_SHUFFLE_PARTITIONS


# A fresh interpreter: the suite's shared session already owns this
# process's SparkContext.
_SCRIPT = """
from parquet_near_storage_compute_spark.session import get_spark
key = "spark.sql.shuffle.partitions"
small = {"spark.driver.memory": "1g"}
spark = get_spark(master="local[3]", conf=small)
print(spark.conf.get(key))
spark = get_spark(conf={**small, key: "5"})
print(spark.conf.get(key))
spark = get_spark(master="local[6]", conf=small)  # reuses the local[3] session
print(spark.conf.get(key))
spark.stop()
spark = get_spark(master="local[2]", conf={**small, key: "7"})
print(spark.conf.get(key))
spark.stop()
"""


def test_get_spark_shuffle_width():
    out = subprocess.run(
        [sys.executable, "-c", _SCRIPT],
        cwd=ROOT,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert out.stdout.split() == ["3", "5", "3", "7"]


def test_engine_sql_confs_are_registered(spark):
    """Spark keeps an unknown ``spark.sql.*`` key as a plain string and
    never reads it, so a misspelt key is silently dead."""
    sql_conf = getattr(getattr(spark._jvm, "org.apache.spark.sql.internal.SQLConf$"), "MODULE$")
    keys = {*DEFAULT_CONF, *tables._REQUIRED_CONFS, *tables._SCHEMA_CONFS}
    unknown = sorted(
        k for k in keys if k.startswith("spark.sql.") and not sql_conf.containsConfigKey(k)
    )
    assert unknown == []
