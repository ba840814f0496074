"""Table resolution: a "table" is a directory (or file) of Parquet.

Mirrors the reference's data model — tables are paths, schema comes from the
Parquet footer, no catalog (``v1/src/main.rs:119-131``, ``v2/src/main.rs:101-113``,
glob sources in ``datasets/snowset/query_selectivity_distribution.sql:10``).
``spark.read.parquet`` handles directories, globs and multi-file layouts
natively and reads footers at planning time (SURVEY.md §2.1 S1-S3, S7-S8).
"""

from __future__ import annotations

import contextlib
import glob
import hashlib
import os
import re
import shutil
import socket
import tempfile
import threading
import uuid
from collections import OrderedDict
from collections.abc import Callable
from urllib.parse import urlsplit

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: Every table the driver materializes (TESTDATA.md).
TABLES: tuple[str, ...] = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def table_path(sf_dir: str, name: str) -> str:
    return f"{sf_dir.rstrip('/')}/{name}.parquet"


#: Columns written as parquet TIMESTAMP(NANOS); Spark reads them as long
#: (spark.sql.legacy.parquet.nanosAsLong) and we rebuild a timestamp at
#: microsecond precision — the same ns→µs truncation DuckDB applies.
_NANOS_TS_COLS: dict[str, tuple[str, ...]] = {"events": ("ts",)}

#: Runtime-settable SQL confs the engine's semantics depend on. The caller
#: may hand us ANY SparkSession (the verification driver builds its own), so
#: these are pinned at the table-load chokepoint, not only in get_spark():
#: - nanosAsLong: a TIMESTAMP(NANOS) events.parquet (earlier testdata
#:   generations) is unreadable otherwise; a no-op on micros files;
#: - ansi off: v1 semantics (wrap arithmetic, NULL div-by-zero; SURVEY §7.3);
#: - UTC: formatted-time outputs must match the tz-naive DuckDB oracle.
_REQUIRED_CONFS = {
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.ansi.enabled": "false",
    "spark.sql.session.timeZone": "UTC",
}


def ensure_engine_confs(spark: SparkSession) -> None:
    for k, v in _REQUIRED_CONFS.items():
        try:
            if spark.conf.get(k, None) != v:
                spark.conf.set(k, v)
        except Exception:
            spark.conf.set(k, v)


def listing_fingerprint(
    sf_dir: str, tables: tuple[str, ...], extra_paths: tuple[str, ...] = ()
) -> tuple:
    """(table, mtime_ns, size) per source — a directory of part files
    folds in every file under it, by relative name, so an in-place
    rewrite, an added part and a removed part are all visible. A source
    that does not exist locally shows as ``(table, "missing")``."""
    parts: list[tuple] = []
    paths = [(t, table_path(sf_dir, t)) for t in tables] + [
        (p, p) for p in extra_paths
    ]
    for t, p in paths:
        try:
            st = os.stat(p)
        except OSError:
            parts.append((t, "missing"))
            continue
        if os.path.isdir(p):
            for root, dirs, files in os.walk(p):
                dirs.sort()
                for name in sorted(files):
                    full = os.path.join(root, name)
                    cst = os.stat(full)
                    parts.append(
                        (t, os.path.relpath(full, p), cst.st_mtime_ns, cst.st_size)
                    )
        else:
            parts.append((t, st.st_mtime_ns, st.st_size))
    return tuple(parts)


def corpus_identity(
    sf_dir: str, tables: tuple[str, ...], extra_paths: tuple[str, ...] = ()
) -> tuple | None:
    """What a cache over ``tables`` of ``sf_dir`` (and ``extra_paths``) is
    keyed on: the corpus directory's realpath and ``listing_fingerprint``.
    A ``file://`` URL is resolved to its local path. None when the sources
    cannot be fingerprinted here — a remote scheme, a glob, or a source
    that does not exist locally — and the caller must not cache. With no
    ``tables`` the cache reads ``extra_paths`` alone, the same files for
    every corpus, so ``sf_dir`` is not part of the key."""
    if not tables:
        local, root = "", None
    else:
        url = urlsplit(sf_dir)
        if url.scheme not in ("", "file") or glob.has_magic(sf_dir):
            return None
        local = url.path if url.scheme else sf_dir
        root = os.path.realpath(local)
    listing = listing_fingerprint(local, tables, extra_paths)
    if any(entry[1:] == ("missing",) for entry in listing):
        return None
    return root, listing


def scratch_root() -> str:
    """The one directory the engine writes its derived copies and per-run
    streaming state to. Resolved per call under ``tempfile.gettempdir()``,
    so it follows ``TMPDIR``; nothing is written into the checkout."""
    return os.path.join(tempfile.gettempdir(), "pnsc_scratch")


def derived_copy_path(tag: str, sources: tuple[str, ...]) -> str:
    """Where the copy ``tag`` of ``sources`` lives:
    ``{tag}_{sources digest}_{listing digest}``. The sources digest hashes
    the realpath of every source; the listing digest hashes their file
    listing (``listing_fingerprint``), so a source that is rewritten, or a
    directory that gains, loses or rewrites a part, maps to a new path and
    the stale copy is never read again."""
    real = tuple(os.path.realpath(s) for s in sources)
    listing = listing_fingerprint("", (), real)
    return os.path.join(
        scratch_root(), f"{tag}_{_digest(real)}_{_digest(listing)}"
    )


def _digest(value: tuple) -> str:
    return hashlib.sha1(repr(value).encode()).hexdigest()[:16]


def derived_copy(
    tag: str, sources: tuple[str, ...], build: Callable[[str], None]
) -> str:
    """Path of the finished copy ``tag`` of ``sources``, built on first
    use. ``build(path)`` writes the copy (a file or a directory) to a
    unique temporary sibling and one ``os.rename`` publishes it, so a
    published path is always complete and a failed build publishes
    nothing. When another process publishes a directory first, the
    rename fails and this process drops its own temporary; a file is
    replaced by an identical one.

    A publish supersedes the copies of the same tag and sources built
    from an older listing: they are removed. A temporary is named
    ``{copy}.{host}.{pid}.{uuid}.tmp`` after the process that builds it;
    a publish also removes the tag's temporaries whose owner ran on this
    host and is no longer alive (a killed build). A live owner's
    temporary, another host's, or one without an owner is left alone."""
    path = derived_copy_path(tag, sources)
    if os.path.exists(path):
        return path
    os.makedirs(os.path.dirname(path), exist_ok=True)
    host = socket.gethostname()
    tmp = f"{path}.{host}.{os.getpid()}.{uuid.uuid4().hex[:12]}.tmp"
    try:
        build(tmp)
        try:
            os.rename(tmp, path)
        except OSError:
            if not os.path.isdir(path):
                raise
    finally:
        _remove(tmp)
    root, name = os.path.split(path)
    older = re.compile(re.escape(name.rsplit("_", 1)[0]) + "_[0-9a-f]{16}")
    owned = re.compile(
        re.escape(tag)
        + r"_[0-9a-f]{16}_[0-9a-f]{16}\.(.+)\.([1-9][0-9]*)\.[0-9a-f]{12}\.tmp"
    )
    for sibling in os.listdir(root):
        tmp_owner = owned.fullmatch(sibling)
        if (sibling != name and older.fullmatch(sibling)) or (
            tmp_owner and tmp_owner[1] == host and not _alive(int(tmp_owner[2]))
        ):
            _remove(os.path.join(root, sibling))
    return path


def _alive(pid: int) -> bool:
    """Whether a process ``pid`` exists on this host."""
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:  # exists, owned by another user
        return True
    return True


def _remove(path: str) -> None:
    if os.path.isdir(path):
        shutil.rmtree(path, ignore_errors=True)
    else:
        with contextlib.suppress(FileNotFoundError):
            os.remove(path)


#: Session confs that change the schema Spark infers from the same footers
#: (part of the schema-cache key).
_SCHEMA_CONFS = (
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.legacy.parquet.nanosAsLong",
)
#: Inferred table schemas kept (LRU): every table of a few corpora.
_SCHEMA_CAP = 64
_schemas: OrderedDict[tuple, T.StructType] = OrderedDict()
_schemas_lock = threading.Lock()


def _schema_key(spark: SparkSession, sf_dir: str, name: str) -> tuple | None:
    """Cache key of one table's inferred schema, or None when the table's
    listing cannot be fingerprinted (``corpus_identity``)."""
    ident = corpus_identity(sf_dir, (name,))
    if ident is None:
        return None
    jconf = spark.conf._jconf
    return (
        spark.sparkContext.applicationId,
        id(spark),
        ident,
        tuple(jconf.get(k) for k in _SCHEMA_CONFS),
    )


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Footer-driven scan of one table (S1/S2 automatic).

    The schema is inferred from the Parquet footers once — inference runs
    a Spark job — and cached: later loads hand it to the reader, which
    then plans the scan without any job. The cache key is the session
    (``applicationId`` and the ``SparkSession`` object), the table path,
    its file listing (name, ``mtime_ns`` and size of every part file, see
    ``listing_fingerprint``) and the session confs that shape the
    inferred schema (``_SCHEMA_CONFS``), so a rewritten, added or removed
    part file, another session or a changed conf re-infers. Tables under a
    remote scheme or a glob bypass the cache."""
    ensure_engine_confs(spark)
    path = table_path(sf_dir, name)
    key = _schema_key(spark, sf_dir, name)
    with _schemas_lock:
        schema = _schemas.get(key) if key is not None else None
        if schema is not None:
            _schemas.move_to_end(key)
    if schema is not None:
        df = spark.read.schema(schema).parquet(path)
    else:
        df = spark.read.parquet(path)
        schema = df.schema
        if key is not None:
            with _schemas_lock:
                _schemas[key] = schema
                while len(_schemas) > _SCHEMA_CAP:
                    _schemas.popitem(last=False)
    for col in _NANOS_TS_COLS.get(name, ()):
        if isinstance(schema[col].dataType, T.LongType):
            # integer `div`, not `/`: epoch-nanos (~1.7e18) exceeds double's
            # 53-bit mantissa, so float division would corrupt microseconds
            df = df.withColumn(col, F.expr(f"timestamp_micros(`{col}` div 1000)"))
    return df


def fan_out(df: DataFrame, partitions: int | None = None) -> DataFrame:
    """Spread a small-file scan across the cluster before CPU-dense work —
    but ONLY when the scan actually under-parallelizes.

    Parquet splits are sized by bytes (maxPartitionBytes), so a compact
    file of short rows (documents, embeddings) arrives as ONE task even on a
    32-core executor — and any per-row-expensive pipeline (shingling,
    hashing, vector math) serializes. One cheap round-robin exchange of the
    raw rows buys full parallelism for everything downstream.

    ``partitions`` is a minimum-parallelism FLOOR, not an exact target
    (ADVICE r9): when the input already has at least that many partitions
    the DataFrame is returned unchanged, so callers must not rely on
    getting exactly ``partitions`` partitions back.

    Conditional since r9 (VERDICT r8 #2): at 100 TB the input already
    yields ~10^5 byte-sized splits, and a blanket repartition would
    re-shuffle the ENTIRE corpus just to undo split geometry that was never
    compact — the largest avoidable shuffle in the engine. The guard reads
    the scan's planned partition count (plan-time file-split math, no job)
    and skips the exchange when parallelism is already there; the fan-out
    branch stays active at every tested SF, where the corpus is one
    compact file.

    The count comes from the JVM plan's RDD (``queryExecution.toRdd``, the
    one ``df.rdd`` wraps): the same number, without building a pickled
    Python RDD around the plan, which costs about 35 ms a call against
    15–22 ms."""
    n = partitions or df.sparkSession.sparkContext.defaultParallelism
    if df._jdf.queryExecution().toRdd().getNumPartitions() >= n:
        return df
    return df.repartition(n)


def local_literal_df(spark: SparkSession, rows: list, schema: str) -> DataFrame:
    """Small literal frame as a PURE JVM plan (explode of a struct-array
    literal). ``spark.createDataFrame(list, ...)`` builds a pickled-RDD
    relation whose EVERY action launches Python workers — measured
    0.4-0.5 s per noop run on the ≤20-row pagerank / MMR result frames
    and 1.2-2.4 s on the 6-branch BPE merge union, vs ~0.1 s for this
    form. Only for driver-computed literal results bounded in the dozens
    of rows: each value becomes a plan literal, so a corpus-sized list
    would explode the plan.

    numPartitions=1 on the range seed (r13): the default
    ``spark.range(1)`` splits one row across defaultParallelism
    partitions, so every action on the literal frame scheduled 32 tasks
    (31 empty) — measured as the whole cost of the sub-0.1 s consumers
    (train_bpe_merges' 6-branch union ran 192 tasks for 6 rows)."""
    st = T.StructType.fromDDL(schema)
    if not rows:
        return spark.createDataFrame([], st)
    for i, row in enumerate(rows):
        # fail fast on caller schema drift (ADVICE r12): zip() below would
        # silently truncate a short/long row into an opaque plan error
        if len(row) != len(st.fields):
            raise ValueError(
                f"local_literal_df row {i} has {len(row)} values, "
                f"schema has {len(st.fields)} fields"
            )
    structs = [
        F.struct(
            *[
                F.lit(v).cast(f.dataType).alias(f.name)
                for v, f in zip(row, st.fields)
            ]
        )
        for row in rows
    ]
    return (
        spark.range(0, 1, numPartitions=1)
        .select(F.explode(F.array(*structs)).alias("_r"))
        .select("_r.*")
    )


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Register all tables as temp views (for the spark.sql surface)."""
    out: dict[str, DataFrame] = {}
    for name in TABLES:
        df = load_table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out
