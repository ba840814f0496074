"""What the Python workers Spark starts for the engine need from it.

Spark runs the engine's Python code in Python worker processes: the
``rowgroup_parquet`` data source's planner calls (schema, filter pushdown,
partitions, writer, commit) and its read and write tasks, the
``mapInPandas`` and pandas-UDF operators, and streaming Python sources.
Two things keep those calls working and cheap:

- ``ship_package_path`` puts the package root on the ``PYTHONPATH`` that
  Spark ships with every function and data source registered from the
  session. A worker then imports the package whatever the driver's working
  directory and environment.
- ``install_zipimport_stamps`` stops each worker call from re-reading
  Spark's zip archives. A worker call starts with
  ``pyspark.worker_util.setup_spark_files``, which runs
  ``importlib.invalidate_caches()``. On CPython before 3.12 that makes
  every ``zipimporter`` re-parse its archive's whole central directory at
  once (3.12 made it lazy, gh-103200). A worker's import path holds
  ``pyspark.zip`` (one importer per imported pyspark subpackage), the py4j
  zip and the spark-core jar: 16 to 17 importers, about 100 ms per call on
  a 4-core host with Python 3.11 and PySpark 4.1.2. With the stamps an
  importer re-reads its archive only when the archive's
  ``(st_mtime_ns, st_size)`` differs from the one it last read at.

The package ``__init__`` installs the stamps, so every worker that unpickles
engine code has them. The first call in a new worker still pays once: its
setup runs before the engine is imported. A reused worker's later calls
skip every unchanged archive.
"""

from __future__ import annotations

import os
import sys
import zipimport

#: The directory that holds the package: what a worker needs on its path.
PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: Per-importer attribute: the archive stamp its directory was read at.
_STAMP = "_pnsc_archive_stamp"


def ship_package_path(spark) -> None:
    """Prepend the package root to the ``PYTHONPATH`` in
    ``sparkContext.environment``, the env vars Spark ships to the workers
    of every function and data source registered from now on. A caller's
    own ``PYTHONPATH`` stays after it; a path that already holds the root
    is left as it is."""
    env = spark.sparkContext.environment
    path = env.get("PYTHONPATH", "")
    if PACKAGE_ROOT not in path.split(os.pathsep):
        env["PYTHONPATH"] = os.pathsep.join(p for p in (PACKAGE_ROOT, path) if p)


def _archive_stamp(archive: str) -> tuple[int, int]:
    st = os.stat(archive)
    return st.st_mtime_ns, st.st_size


def _stamped(original):
    def invalidate_caches(self):
        """Re-read the archive only if it changed since this importer last
        read it (``zipimporter.invalidate_caches`` when it cannot tell)."""
        try:
            stamp = _archive_stamp(self.archive)
        except OSError:
            vars(self).pop(_STAMP, None)
            return original(self)
        if vars(self).get(_STAMP) != stamp:
            # stat before read: a write racing the read leaves the old
            # stamp, so the next call reads again
            original(self)
            setattr(self, _STAMP, stamp)

    return invalidate_caches


def install_zipimport_stamps() -> None:
    """Make ``zipimport.zipimporter.invalidate_caches`` skip an unchanged
    archive. A no-op on Python 3.12 and later, and when already installed.

    Importers that exist at install are taken as current: in a worker,
    ``setup_spark_files`` has just re-read every archive before the engine
    is imported. An importer created later reads its archive once more, at
    its first invalidation."""
    current = zipimport.zipimporter.invalidate_caches
    if sys.version_info >= (3, 12) or current.__module__ == __name__:
        return
    for importer in list(sys.path_importer_cache.values()):
        if isinstance(importer, zipimport.zipimporter):
            try:
                setattr(importer, _STAMP, _archive_stamp(importer.archive))
            except OSError:
                pass
    zipimport.zipimporter.invalidate_caches = _stamped(current)
