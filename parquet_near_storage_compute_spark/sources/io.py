"""Sources & sinks (SURVEY.md §2.1): glob parquet sources (S8), CSV sink
with header (S9), and the partitioned and sized parquet layouts a 100 TB
deployment actually uses.

The reference's "table = directory of numbered parquet files" model
(``v1/src/main.rs:119-131``) is native to ``spark.read.parquet``; its CSV
sink is ``COPY ... TO 'x.csv' (FORMAT CSV, HEADER)``
(``query_selectivity_distribution.sql:1,61``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from parquet_near_storage_compute_spark.tables import (
    derived_copy,
    derived_copy_path,
    ensure_engine_confs,
    load_table,
    table_path,
)


def read_parquet(spark: SparkSession, path_or_glob: str) -> DataFrame:
    """Directory, single file, or glob — S1-S3/S7/S8 are automatic."""
    ensure_engine_confs(spark)
    return spark.read.parquet(path_or_glob)


def write_csv(df: DataFrame, path: str, single_file: bool = False) -> None:
    """S9: CSV with header. ``single_file`` coalesces to one output part
    (matches DuckDB's single-file COPY; only for small results — a 100 TB
    result keeps its partitioned layout)."""
    out = df.coalesce(1) if single_file else df
    out.write.mode("overwrite").option("header", True).csv(path)


def read_csv(spark: SparkSession, path: str, schema=None) -> DataFrame:
    reader = spark.read.option("header", True)
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", True)
    return reader.csv(path)


def write_parquet_partitioned(
    df: DataFrame, path: str, partition_cols: list[str]
) -> None:
    """Hive-style partitioned layout — the scan-time partition-pruning
    counterpart of the reference's row-group pruning: a filter on a partition
    column never opens the other directories at all."""
    df.write.mode("overwrite").partitionBy(*partition_cols).parquet(path)


def read_parquet_f16_widened(spark: SparkSession, path: str) -> DataFrame:
    """Float16 ingestion shim: Spark 4 rejects FLOAT16 parquet at schema
    inference ([PARQUET_TYPE_ILLEGAL]), so half-float columns are widened
    to float32 at the source — the same rule the reference's reader applies
    (``v1/src/main.rs:1066`` widens f16 to f32 before filtering). The
    widening is exact (every f16 value is representable in f32).

    Reads through pyarrow and hands Spark an Arrow table, which is fine
    for fixture-scale side inputs; the 100 TB path would hoist the same
    cast into a DataSourceV2 reader so the exchange stays distributed —
    the type rule, which is the thing under test, is identical."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    tbl = pq.read_table(path)
    for i, field in enumerate(tbl.schema):
        if pa.types.is_float16(field.type):
            tbl = tbl.set_column(
                i,
                pa.field(field.name, pa.float32(), field.nullable),
                tbl.column(i).cast(pa.float32()),
            )
    return spark.createDataFrame(tbl)


def glob_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S8 parity: glob table source (`FROM 'dir/*.parquet'`,
    query_selectivity_distribution.sql:10) — count+sum over a glob scan."""
    from pyspark.sql import functions as F

    df = read_parquet(spark, f"{sf_dir}/lineitem*.parquet")
    return df.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("l_extendedprice").alias("sum_price"),
    )


def partitioned_events_path(sf_dir: str) -> str:
    """Location of the hive-partitioned events copy that
    ``partitioned_scan`` builds (keyed on the events listing)."""
    return derived_copy_path("partitioned_events", (table_path(sf_dir, "events"),))


def partitioned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-partitioned layout + partition-pruned read: events are laid out
    as ``event_type=<v>/`` directories, then a filter on the partition
    column prunes at PLANNING time — directories outside the filter are
    never listed into the scan (the directory-level analogue of the
    reference's row-group pruning; ``PartitionFilters`` in the plan,
    asserted by tests/test_partitioned_source.py). At 100 TB this is the
    dominant pruning axis: a date/type-partitioned table turns a full scan
    into a handful of directories before any footer is read."""
    from pyspark.sql import functions as F

    def build(path: str) -> None:
        events = load_table(spark, sf_dir, "events").select(
            "event_id", "event_type", "value"
        )
        write_parquet_partitioned(events, path, ["event_type"])

    path = derived_copy(
        "partitioned_events", (table_path(sf_dir, "events"),), build
    )
    df = read_parquet(spark, path).filter(
        F.col("event_type").isin("click", "purchase")
    )
    return (
        df.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("sum_value"),
        )
        .orderBy("event_type")
    )


#: Round-trip subset for the JSONL/ORC source contracts: every 50th event.
_RT_MOD = 50


def _roundtrip_subset(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    return (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_id") % _RT_MOD == 0)
        .select(
            "event_id",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_str"),
            "event_type",
            "value",
        )
    )


def _roundtrip_scan(
    spark: SparkSession, sf_dir: str, fmt: str
) -> DataFrame:
    """Shared body of the JSONL/ORC source contracts: write a deterministic
    events subset in ``fmt``, read it back through the corresponding Spark
    source, and aggregate. The DuckDB oracle computes the same aggregate
    straight from the parquet events view — equality proves the format
    round-trip was lossless, without DuckDB needing to read the format
    itself (it cannot read ORC). Timestamps travel as formatted strings:
    the contract tests the source plumbing, not timezone serialization.

    The written subset is a derived copy keyed on the events listing
    (``tables.derived_copy``), so a corpus regenerated at the same path
    gets a new subset instead of stale rows against a live oracle.
    ``sum_value_cents`` sums floor(value·100) as integers: value·100 is
    the same IEEE double in both engines and floor is exact, so the
    aggregate is order-independent — no cross-engine float drift."""
    from pyspark.sql import functions as F

    def build(path: str) -> None:
        _roundtrip_subset(spark, sf_dir).coalesce(1).write.format(fmt).save(path)

    path = derived_copy(
        f"roundtrip_{fmt}", (table_path(sf_dir, "events"),), build
    )
    schema = "event_id bigint, ts_str string, event_type string, value double"
    df = spark.read.schema(schema).format(fmt).load(path)
    return (
        df.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.floor(F.col("value") * 100)).alias("sum_value_cents"),
            F.min("ts_str").alias("min_ts"),
            F.max("ts_str").alias("max_ts"),
        )
        .orderBy("event_type")
    )


def jsonl_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines source: Spark's native json reader with an explicit
    schema (schema inference over JSON is a full extra pass — never at
    100 TB). Splittable by byte ranges like CSV; no footer pruning, which
    is the documented reason parquet stays the primary format."""
    return _roundtrip_scan(spark, sf_dir, "json")


def orc_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC source: Spark's built-in columnar alternative to parquet (stripe
    statistics give it the same pushdown/pruning machinery). Round-trip
    equality against the parquet-derived oracle proves lossless transport
    through the second columnar format."""
    return _roundtrip_scan(spark, sf_dir, "orc")


_RT_ORACLE = f"""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
             AS sum_value_cents,
           MIN(strftime(ts, '%Y-%m-%d %H:%M:%S')) AS min_ts,
           MAX(strftime(ts, '%Y-%m-%d %H:%M:%S')) AS max_ts
    FROM events
    WHERE event_id % {_RT_MOD} = 0
    GROUP BY event_type ORDER BY event_type
"""


#: Committed CSV artifact (the S9 sink's own output, pinned by
#: tests/test_sql_file.py) — doubles as the CSV *source* fixture.
import os as _os

GOLDEN_CSV = _os.path.join(
    _os.path.dirname(_os.path.dirname(_os.path.dirname(_os.path.abspath(__file__)))),
    "fixtures",
    "golden_selectivity_sf0.01.csv",
)


def csv_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV source — the inverse of the reference's S9 CSV sink: the engine
    reads the committed snowset golden artifact back with an explicit
    schema (header row, typed columns) and returns it as a typed frame.
    Ignores ``sf_dir``: the artifact is a pinned fixture, same device as
    ``types_unsigned_decimal``. At scale the CSV source splits by byte
    ranges exactly like parquet (minus footer pruning — documented as the
    reason parquet is the primary format)."""
    df = read_csv(spark, GOLDEN_CSV, schema="bucket BIGINT, n BIGINT, pct DOUBLE")
    return df.orderBy("bucket")


#: Tables scanned by the metadata-mode contract (embeddings excluded: its
#: only nested column is FLOAT, so it contributes no BYTE_ARRAY stats).
_META_TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
]


def stat_prefixes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """v2 metadata mode as a driver contract (F8 + S3): per string column of
    every corpus table, the file-level min/max statistics rendered through
    the reference's 8-byte UTF-8 prefix rule (``v2/src/main.rs:338-398,
    931-936``) — the compact stats the reference ships to the compute node,
    computed from footers ONLY (no data pages are touched; ~10 footer reads
    for the whole corpus). The DuckDB oracle reads the same footers through
    ``parquet_metadata()``, so the driver hash pins the metadata surface
    externally.

    The footer loop runs on the driver: metadata-mode input is #tables
    rows, and at 100 TB the same per-file footer decode fans out as a map
    over the file listing (``parallelize(paths).flatMap``) — the per-file
    logic is identical. Both sides pin the SAME corpus dir
    (``SPARK_GRAFT_META_SF_DIR``, default the driver's sf0.01; ``sf_dir``
    is accepted but unused, the csv_scan fixture device): DuckDB's
    ``parquet_metadata`` takes literal paths, not views, so a static
    oracle string cannot follow ``sf_dir``, and the two engines must read
    the SAME footers for the hash to mean anything.

    ASCII guard: the DuckDB oracle's ``substr(..., 1, 8)`` counts
    CHARACTERS and this engine's F8 rule counts BYTES — identical only
    for ASCII statistics. The engine helper (``string_stat_prefixes``)
    stays byte-faithful to the reference for any input (non-UTF-8 cuts
    render U+FFFD, unit-tested); the CONTRACT asserts its stats are
    ASCII so a future non-ASCII corpus fails loudly here rather than
    hash-mismatching mysteriously."""
    from parquet_near_storage_compute_spark.plans.metrics import (
        string_stat_prefixes,
    )

    rows = []
    for t in _META_TABLES:
        path = _os.path.join(_META_SF_DIR, f"{t}.parquet")
        for col, v in sorted(string_stat_prefixes(path).items()):
            for p in (v["min_prefix"], v["max_prefix"]):
                if not p.isascii():
                    raise ValueError(
                        f"{t}.{col}: non-ASCII stat prefix {p!r} — the "
                        "SQL oracle's char-based substr would diverge "
                        "from the byte-based F8 prefix"
                    )
            rows.append((t, col, v["min_prefix"], v["max_prefix"]))
    return spark.createDataFrame(
        rows,
        "table_name string, column_name string, "
        "min_prefix string, max_prefix string",
    ).orderBy("table_name", "column_name")


_META_SF_DIR = _os.environ.get(
    "SPARK_GRAFT_META_SF_DIR", "/root/testdata/sf0.01"
)

_META_SQL = " UNION ALL ".join(
    f"""
        SELECT '{t}' AS table_name, path_in_schema AS column_name,
               stats_min_value, stats_max_value
        FROM parquet_metadata('{_META_SF_DIR}/{t}.parquet')
        WHERE type = 'BYTE_ARRAY' AND stats_min_value IS NOT NULL
    """
    for t in _META_TABLES
)


#: Compaction target: one output file per this many input bytes. 32 MiB at
#: driver SF keeps the contract to 1-2 output files; production would use
#: 128 MiB-1 GiB (≈ maxPartitionBytes, so one task reads one file).
_COMPACT_TARGET_BYTES = 32 * 1024 * 1024
#: Fragmented write width — simulates a streaming/daily-append producer
#: leaving many tiny files behind.
_COMPACT_FRAGMENTS = 24


def compaction_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction: the table-maintenance sink every long-lived
    100 TB dataset needs. Streaming ingestion and per-partition appends
    leave thousands of KB-sized files; each costs a footer fetch + task at
    read time (the reference's per-file overhead is explicit in its file
    grid, ``v1/src/main.rs:119-156``), so scan cost degrades with file
    count, not data size.

    The op: write a deterministic events subset fragmented across
    _COMPACT_FRAGMENTS files (the producer), then compact: size the output
    file count from the INPUT's actual bytes (Σ file sizes / target — the
    same bytes-per-file discipline as write_parquet_sized) and rewrite via
    ``coalesce`` — a shuffle-free narrow rewrite; tasks just concatenate
    input splits. The contract reads the COMPACTED copy back and
    aggregates; equality with the parquet-view oracle proves the rewrite
    was lossless. tests/test_round5c_ops.py pins the file counts
    (fragments in, ≤2 out) and the shuffle-free plan. Integer-cents sums —
    engine-exact. Both copies are keyed on the events listing
    (``tables.derived_copy``), so a rewritten events file supersedes the
    compacted copy along with the fragmented one it was built from.
    """
    import glob as _glob
    import math
    import os

    from pyspark.sql import functions as F

    def fragment(path: str) -> None:
        (
            load_table(spark, sf_dir, "events")
            .filter(F.col("event_id") % 5 == 0)
            .select("event_id", "user_id", "event_type", "value")
            .repartition(_COMPACT_FRAGMENTS)
            .write.parquet(path)
        )

    events = (table_path(sf_dir, "events"),)
    frag = derived_copy("compact_frag", events, fragment)

    def compact(path: str) -> None:
        in_bytes = sum(
            os.path.getsize(p) for p in _glob.glob(os.path.join(frag, "*.parquet"))
        )
        n_out = max(1, math.ceil(in_bytes / _COMPACT_TARGET_BYTES))
        read_parquet(spark, frag).coalesce(n_out).write.parquet(path)

    compacted = derived_copy("compact_out", events, compact)
    return (
        read_parquet(spark, compacted)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            F.sum(F.floor(F.col("value") * 100)).alias("sum_value_cents"),
        )
        .orderBy("event_type")
    )


#: Z-order interleave width: 16 bits per dimension → 32-bit z-values.
_Z_BITS = 16
#: Coarsen l_orderkey before interleaving so both dimensions contribute
#: comparable bit ranges at test SFs (division preserves locality, unlike
#: modulo). 16 bits × 16 covers orderkeys to ~1M (sf ≈ 0.17 and below).
_Z_ORDERKEY_DIV = 16
#: Row-group size for the clustered copies — small so even test-SF files
#: have many groups for the pruning measurement to discriminate (at real
#: scale this is the write_parquet_sized tradeoff: finer groups = finer
#: pruning rectangles, coarser = better scan throughput).
_Z_ROW_GROUP_BYTES = 16 * 1024
#: The contract's probe predicate: a partkey range — the NON-leading
#: dimension of the linear layout, where only z-order can skip groups.
_Z_PARTKEY_LIT = 200


def zorder_expr(a: str, b: str, bits: int = _Z_BITS) -> str:
    """SQL for the bit-interleaved z-value of two integral columns.

    Bit i of ``a`` lands at position 2i, bit i of ``b`` at 2i+1 — the
    standard Morton code. Pure integer shifts/masks, so the expression
    stays inside whole-stage codegen and the same value is computable in
    any engine."""
    terms = []
    for i in range(bits):
        terms.append(f"(shiftleft(({a} div {1 << i}) % 2, {2 * i}))")
        terms.append(f"(shiftleft(({b} div {1 << i}) % 2, {2 * i + 1}))")
    return "(" + " + ".join(terms) + ")"


def zorder_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order clustered layout: multi-dimensional data skipping.

    A sort layout serves range predicates on its LEADING column only —
    row-group min/max on every other column spans the whole domain, so the
    reference-style stats pruning (``v1/src/main.rs:626-685``) skips
    nothing. Z-ordering sorts by the bit-interleaved Morton code of two
    dimensions instead: each row group then covers a small rectangle of
    the (orderkey, partkey) plane, and min/max statistics prune on EITHER
    dimension. This is the standard layout answer (Delta/Iceberg
    ``OPTIMIZE ZORDER BY``) re-expressed as a plain sorted parquet write —
    at 100 TB it turns per-partition full scans for the second access
    pattern into a handful of row groups, with zero read-side machinery:
    the skipping is done by the same footer statistics every scan already
    uses.

    The contract writes lineitem twice — linearly sorted by l_orderkey and
    z-ordered on (l_orderkey, l_partkey) — reads the Z-ORDERED copy back
    through a partkey range filter (the non-leading dimension), and
    aggregates. tests/test_round5c_ops.py measures planned bytes on both
    copies with the reference's stats-pruning model and asserts the
    z-layout prunes row groups for BOTH dimensions while the linear layout
    prunes only its leading one. Both copies are keyed on the lineitem
    listing and the row-group size (``tables.derived_copy``);
    integer-cents sums — engine-exact.
    """
    from pyspark.sql import functions as F

    src = (table_path(sf_dir, "lineitem"),)
    cols = ["l_orderkey", "l_partkey", "l_linenumber", "l_extendedprice"]

    def sorted_copy(*keys: str):
        # the linear sort ignores zval, and the optimizer prunes it there
        def build(path: str) -> None:
            li = load_table(spark, sf_dir, "lineitem").select(*cols)
            z = li.withColumn(
                "zval",
                F.expr(zorder_expr(f"(l_orderkey div {_Z_ORDERKEY_DIV})", "l_partkey")),
            )
            (
                z.coalesce(1)
                .sortWithinPartitions(*keys)
                .drop("zval")
                .write.option("parquet.block.size", str(_Z_ROW_GROUP_BYTES))
                .parquet(path)
            )

        return build

    zpath = derived_copy(
        f"zorder_{_Z_ROW_GROUP_BYTES}",
        src,
        sorted_copy("zval", "l_orderkey", "l_linenumber"),
    )
    derived_copy(
        f"linear_{_Z_ROW_GROUP_BYTES}", src, sorted_copy("l_orderkey", "l_linenumber")
    )
    return (
        read_parquet(spark, zpath)
        .filter(F.col("l_partkey") < _Z_PARTKEY_LIT)
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.floor(F.col("l_extendedprice") * 100)).alias("sum_price_cents"),
            F.min("l_orderkey").alias("min_orderkey"),
            F.max("l_orderkey").alias("max_orderkey"),
        )
    )


#: Dim attribute values whose cust_mod partitions the DPP join selects.
_DPP_ATTRS = (4, 10)  # attr = 2*mod → partitions {2, 5}


def dpp_star_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning: the join-time counterpart of static
    partition pruning, and the reason a dim-filtered star join touches
    1/N of a 100 TB partitioned fact table instead of scanning it.

    The fact (orders) is written hive-partitioned by ``cust_mod =
    o_custkey % 10``; the dimension is a derived 10-row frame filtered on
    an attribute the optimizer cannot fold into a static partition list.
    At run time Spark injects the dim's surviving join keys as a
    ``dynamicpruning`` subquery INTO the fact scan's PartitionFilters —
    only the matching partition directories are listed and read
    (tests/test_round5c_ops.py pins the subquery in the executed plan;
    tests/test_dynamic_partition_pruning.py covers the mechanism in
    isolation). Static pruning (`source_partitioned_scan`) handles
    literal predicates; DPP extends the same I/O elimination to
    predicates that only exist after a join. Integer-cents sums.
    """
    from pyspark.sql import functions as F

    def build(path: str) -> None:
        (
            load_table(spark, sf_dir, "orders")
            .withColumn("cust_mod", F.col("o_custkey") % 10)
            .write.partitionBy("cust_mod")
            .parquet(path)
        )

    fact_dir = derived_copy("dpp_orders", (table_path(sf_dir, "orders"),), build)
    fact = read_parquet(spark, fact_dir)
    dim = (
        spark.range(10)
        .select(F.col("id").alias("cust_mod"), (F.col("id") * 2).alias("attr"))
        .filter(F.col("attr").isin(*_DPP_ATTRS))
    )
    return (
        fact.join(dim, "cust_mod")
        .groupBy("cust_mod")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.floor(F.col("o_totalprice") * 100)).alias("sum_price_cents"),
        )
        # partition-column inference reads cust_mod as INT; the oracle's
        # o_custkey % 10 is BIGINT — align the schema
        .select(
            F.col("cust_mod").cast("long").alias("cust_mod"),
            "n_orders",
            "sum_price_cents",
        )
        .orderBy("cust_mod")
    )


QUERIES = {
    "source_glob_scan": glob_scan,
    "source_partitioned_scan": partitioned_scan,
    "source_csv_scan": csv_scan,
    "source_jsonl_scan": jsonl_scan,
    "source_orc_scan": orc_scan,
    "meta_stat_prefixes": stat_prefixes,
    "sink_compaction": compaction_sink,
    "sink_zorder_layout": zorder_scan,
    "source_dpp_star_join": dpp_star_join,
}

ORACLE_SQL = {
    "source_glob_scan": """
        SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(l_extendedprice) AS DOUBLE) AS sum_price
        FROM lineitem
    """,
    "source_partitioned_scan": """
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(SUM(value) AS DOUBLE) AS sum_value
        FROM events
        WHERE event_type IN ('click', 'purchase')
        GROUP BY event_type ORDER BY event_type
    """,
    "source_csv_scan": f"""
        SELECT CAST(bucket AS BIGINT) AS bucket,
               CAST(n AS BIGINT) AS n,
               CAST(pct AS DOUBLE) AS pct
        FROM read_csv('{GOLDEN_CSV}', header=true)
        ORDER BY bucket
    """,
    "source_jsonl_scan": _RT_ORACLE,
    "source_orc_scan": _RT_ORACLE,
    "source_dpp_star_join": f"""
        SELECT o_custkey % 10 AS cust_mod,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                 AS sum_price_cents
        FROM orders
        WHERE (o_custkey % 10) IN ({", ".join(str(a // 2) for a in _DPP_ATTRS)})
        GROUP BY 1 ORDER BY 1
    """,
    "sink_zorder_layout": f"""
        SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(CAST(floor(l_extendedprice * 100) AS BIGINT))
                    AS BIGINT) AS sum_price_cents,
               CAST(MIN(l_orderkey) AS BIGINT) AS min_orderkey,
               CAST(MAX(l_orderkey) AS BIGINT) AS max_orderkey
        FROM lineitem
        WHERE l_partkey < {_Z_PARTKEY_LIT}
    """,
    "sink_compaction": """
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
               CAST(SUM(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
                 AS sum_value_cents
        FROM events
        WHERE event_id % 5 = 0
        GROUP BY event_type ORDER BY event_type
    """,
    "meta_stat_prefixes": f"""
        SELECT table_name, column_name,
               substr(MIN(stats_min_value), 1, 8) AS min_prefix,
               substr(MAX(stats_max_value), 1, 8) AS max_prefix
        FROM ({_META_SQL})
        GROUP BY table_name, column_name
        ORDER BY table_name, column_name
    """,
}


def write_parquet_sized(
    df: DataFrame,
    path: str,
    row_group_bytes: int = 4 * 1024 * 1024,
    codec: str = "snappy",
) -> None:
    """Parquet sink with explicit row-group sizing — the write-side twin of
    the reference's read granularity (v1 reads in 4 MiB batch budgets,
    ``v1/src/main.rs:50``; v2 streams 512 KiB blocks). Smaller row groups →
    finer min/max pruning; bigger → better scan throughput. At 100 TB this
    knob trades pruning selectivity against per-group overhead."""
    (
        df.write.mode("overwrite")
        .option("parquet.block.size", str(row_group_bytes))
        .option("compression", codec)
        .parquet(path)
    )
