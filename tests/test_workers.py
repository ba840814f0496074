"""What the engine's Python workers need: the package on their path from
any working directory, and zip archives re-read only when they change
(``parquet_near_storage_compute_spark.workers``)."""

from __future__ import annotations

import importlib
import json
import os
import subprocess
import sys
import types
import zipfile
import zipimport

import pytest

from parquet_near_storage_compute_spark import workers
from parquet_near_storage_compute_spark.sources.pyds import ORACLE_SQL
from tests.oracle import duckdb_con

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

needs_stamps = pytest.mark.skipif(
    sys.version_info >= (3, 12),
    reason="zipimport re-reads lazily from 3.12 on (gh-103200); no stamps",
)


def _write_zip(path: str, **modules: str) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, source in modules.items():
            zf.writestr(f"{name}.py", source)


@pytest.fixture
def archive(tmp_path, monkeypatch):
    """A zip of one module on ``sys.path``, imported once; yields the
    archive path and the list its directory reads are appended to."""
    path = str(tmp_path / "mods.zip")
    _write_zip(path, pnsc_zip_a="X = 1\n")
    monkeypatch.syspath_prepend(path)
    reads: list[str] = []
    read_directory = zipimport._read_directory
    monkeypatch.setattr(
        zipimport, "_read_directory", lambda a: reads.append(a) or read_directory(a)
    )
    try:
        assert importlib.import_module("pnsc_zip_a").X == 1
        yield path, reads
    finally:
        for name in ("pnsc_zip_a", "pnsc_zip_b"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(path, None)
        zipimport._zip_directory_cache.pop(path, None)


@needs_stamps
def test_unchanged_archive_is_not_reread(archive):
    path, reads = archive
    importlib.invalidate_caches()  # the importer's first: no stamp yet
    del reads[:]
    for _ in range(3):
        importlib.invalidate_caches()
    assert reads.count(path) == 0


@needs_stamps
def test_rewritten_archive_is_reread(archive):
    path, reads = archive
    importlib.invalidate_caches()
    _write_zip(path, pnsc_zip_a="X = 2\n", pnsc_zip_b="Y = 3\n")  # a new size
    del reads[:]
    importlib.invalidate_caches()
    assert reads.count(path) == 1
    assert importlib.import_module("pnsc_zip_b").Y == 3


@needs_stamps
def test_missing_archive_falls_back_to_a_reread(archive):
    path, reads = archive
    importlib.invalidate_caches()
    os.remove(path)
    importlib.invalidate_caches()  # stat fails: zipimport's own refresh
    assert sys.path_importer_cache[path]._files == {}
    _write_zip(path, pnsc_zip_b="Y = 4\n")
    del reads[:]
    importlib.invalidate_caches()
    assert reads.count(path) == 1
    assert importlib.import_module("pnsc_zip_b").Y == 4


@needs_stamps
def test_install_is_idempotent():
    installed = zipimport.zipimporter.invalidate_caches
    assert installed.__module__ == workers.__name__  # by the package import
    workers.install_zipimport_stamps()
    assert zipimport.zipimporter.invalidate_caches is installed


def _session(pythonpath: str | None):
    env = {} if pythonpath is None else {"PYTHONPATH": pythonpath}
    return types.SimpleNamespace(sparkContext=types.SimpleNamespace(environment=env))


@pytest.mark.parametrize(
    "before, after",
    [
        (None, workers.PACKAGE_ROOT),
        ("", workers.PACKAGE_ROOT),
        ("/srv/a:/srv/b", f"{workers.PACKAGE_ROOT}:/srv/a:/srv/b"),
        (f"/srv/a:{workers.PACKAGE_ROOT}", f"/srv/a:{workers.PACKAGE_ROOT}"),
    ],
)
def test_ship_package_path_keeps_the_callers_path(before, after):
    spark = _session(before)
    workers.ship_package_path(spark)
    workers.ship_package_path(spark)
    assert spark.sparkContext.environment["PYTHONPATH"] == after


# One Python UDF task run twice in the same reused worker of a local[1]
# session. The first run starts counting zip directory reads; the second
# reports the reads that happened in between, its own set-up included.
_REUSED_WORKER = """
import json
from pyspark.sql import functions as F
from pyspark.sql.types import StringType
from parquet_near_storage_compute_spark.session import get_spark

@F.udf(returnType=StringType())
def probe(_):
    import json, os, sys, zipimport
    import parquet_near_storage_compute_spark  # as unpickling engine code does
    reads = getattr(zipimport, "_probe_reads", None)
    if reads is not None:
        return json.dumps([os.getpid(), reads])
    reads = zipimport._probe_reads = []
    read_directory = zipimport._read_directory
    zipimport._read_directory = lambda a: reads.append(a) or read_directory(a)
    return json.dumps([os.getpid(), sorted({
        i.archive for i in sys.path_importer_cache.values()
        if isinstance(i, zipimport.zipimporter)
    })])

spark = get_spark(master="local[1]", conf={"spark.driver.memory": "1g"})
print(json.dumps([json.loads(spark.range(1).select(probe("id")).first()[0])
                  for _ in range(2)]))
spark.stop()
"""


@needs_stamps
def test_reused_worker_rereads_no_archive():
    out = subprocess.run(
        [sys.executable, "-c", _REUSED_WORKER],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    (pid1, archives), (pid2, reads) = json.loads(out.stdout.strip().splitlines()[-1])
    assert pid1 == pid2
    assert archives, "the worker imports nothing from a zip archive"
    assert reads == []


_OTHER_CWD = """
import json, sys
sys.path.insert(0, {root!r})
from parquet_near_storage_compute_spark.session import get_spark
from parquet_near_storage_compute_spark.sources.pyds import python_datasource_scan
spark = get_spark(master="local[2]", conf={{"spark.driver.memory": "1g"}})
print(json.dumps([list(r) for r in python_datasource_scan(spark, {sf!r}).collect()]))
spark.stop()
"""


def test_workers_import_the_package_from_another_directory(tmp_path, sf_dir):
    """Run from outside the checkout with no PYTHONPATH: the data source's
    planner and task workers still import the engine."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [sys.executable, "-c", _OTHER_CWD.format(root=ROOT, sf=sf_dir)],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    rows = json.loads(out.stdout.strip().splitlines()[-1])
    con = duckdb_con(sf_dir)
    expected = con.execute(ORACLE_SQL["source_python_datasource"]).fetchall()
    assert rows and sorted(map(tuple, rows)) == sorted(expected)
