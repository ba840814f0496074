"""Near-storage parity observables (SURVEY.md §4-§6): pushdown, pruning,
byte accounting, plan shapes. These cover what the result-hash oracle cannot
see — that the engine *prunes* like the reference does."""

from __future__ import annotations

from pyspark.sql import functions as F

from parquet_near_storage_compute_spark.operators.scan_agg import (
    AGG_SPECS,
    LADDER,
    scan_filter_agg,
)
from parquet_near_storage_compute_spark.plans.asserts import (
    assert_broadcast_join,
    assert_column_pruned,
    assert_filter_pushed,
    assert_partial_final_agg,
    assert_whole_stage_codegen,
    read_schema,
)
from parquet_near_storage_compute_spark.plans.metrics import (
    dataset_size,
    footer_bytes,
    measure,
    planned_scan_bytes,
)
from parquet_near_storage_compute_spark.tables import load_table, table_path

SF_01 = "/root/testdata/sf0.01"
LI = table_path(SF_01, "lineitem")


def test_filter_pushdown_and_pruning(spark):
    """P1/P2: ReadSchema holds only needed columns; predicate is pushed;
    agg is partial→final; scan is codegen'd."""
    df = scan_filter_agg(spark, SF_01, LADDER["p50"])
    assert_filter_pushed(df, "l_extendedprice")
    rs = read_schema(df)
    assert "l_extendedprice" in rs
    assert_column_pruned(df, "l_shipdate")
    assert_partial_final_agg(df)
    assert_whole_stage_codegen(df)


def test_selectivity_ladder_monotone_bytes():
    """M5 parity: planned scan bytes are non-increasing as the threshold
    rises through the ladder, and the best case moves footer-only bytes —
    v2's byte accounting (v2/src/main.rs:400-503) over the same metadata."""
    ordered = ["worst", "p75", "p50", "p25", "p10", "real", "best_case"]
    sizes = [
        planned_scan_bytes(
            LI, ["l_extendedprice"], [("l_extendedprice", ">", LADDER[lv])]
        )
        for lv in ordered
    ]
    assert all(a >= b for a, b in zip(sizes, sizes[1:])), dict(zip(ordered, sizes))
    # single row group per file: best-case prunes it all → footer only
    assert sizes[-1] == footer_bytes(LI)
    assert sizes[0] > sizes[-1]


def test_column_pruning_bytes():
    """Early projection (v1 :240-254): 2-column read plan < full-width."""
    two = planned_scan_bytes(LI, ["l_orderkey", "l_quantity"])
    full = planned_scan_bytes(LI, None)
    assert two < full


def test_measure_end_to_end(spark):
    """M1-M5 assembled for the flagship query (warm-up exclusion M7 lives in
    perfbench's deck warm-up and tools/opt_measure.py's warm run)."""
    df = scan_filter_agg(spark, SF_01, LADDER["p50"])
    m = measure(
        spark,
        df,
        [LI],
        columns=["l_extendedprice"],
        predicate=[("l_extendedprice", ">", LADDER["p50"])],
    )
    assert m.rows == len(m.result) == 1  # the collected aggregate row
    assert m.result[0]["count_price"] > 0
    assert 0 < m.bytes_read <= m.dataset_bytes
    assert 0 < m.selectivity_pct <= 100
    d = m.as_dict()
    for k in (
        "bytes_read",
        "seconds",
        "selectivity_pct",
        "logical_throughput_gbps",
        "total_throughput_gbps",
    ):
        assert k in d


def test_aggregate_pushdown_plan(spark):
    """Bare MIN/MAX/COUNT answered from footer statistics
    (PushedAggregation) — no data pages read. Parquet aggregate pushdown is
    a DataSource-v2 feature, off by default, so drop parquet from the V1
    list and turn it on for this scope (results are identical either way
    — the registry oracle covers that; this asserts the near-storage plan
    shape). A V2 scan prints ``PushedAggregation: []`` when nothing is
    pushed, so the pushed list itself is asserted."""
    from parquet_near_storage_compute_spark.operators.scan_agg import (
        footer_only_agg,
    )

    v1 = "spark.sql.sources.useV1SourceList"
    agg = "spark.sql.parquet.aggregatePushdown"
    prev = {k: spark.conf.get(k) for k in (v1, agg)}
    try:
        spark.conf.set(v1, ",".join(s for s in prev[v1].split(",") if s != "parquet"))
        spark.conf.set(agg, "true")
        df = footer_only_agg(spark, SF_01)
        plan = df._jdf.queryExecution().executedPlan().toString()
        pushed = "MIN(l_extendedprice), MAX(l_extendedprice), COUNT(*)"
        assert f"PushedAggregation: [{pushed}]" in plan, plan
        # and it returns the same values through the DSv2 path
        row = df.collect()[0]
        assert row.n_rows > 0 and row.min_price < row.max_price
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)


def test_index_grammar_matches_named(spark):
    """v2's column-ordinal grammar resolves to the same predicate."""
    from parquet_near_storage_compute_spark.functions.grammar import (
        parse_predicate,
        parse_predicate_by_index,
    )

    li = load_table(spark, SF_01, "lineitem")
    cols = li.columns  # l_extendedprice is index 5
    n1 = li.filter(parse_predicate_by_index("5 > 53000.0", cols)).count()
    n2 = li.filter(parse_predicate("l_extendedprice > 53000.0")).count()
    assert n1 == n2 > 0


def test_broadcast_join_plan(spark):
    from parquet_near_storage_compute_spark.operators.joins import broadcast_inner

    df = broadcast_inner(spark, SF_01)
    assert_broadcast_join(df)


def test_dataset_size_counts_files():
    assert dataset_size([LI]) > 0


def test_utf8_stat_prefix_matches_reference_rule():
    """F8 (v2/src/main.rs:931-936): strict decode + trailing-NUL trim when
    the 8-byte prefix is valid UTF-8; lossy replacement otherwise — incl.
    a multibyte char straddling the cut."""
    from parquet_near_storage_compute_spark.plans.metrics import (
        utf8_stat_prefix,
    )

    assert utf8_stat_prefix(b"abc\x00\x00\x00\x00\x00") == "abc"
    assert utf8_stat_prefix(b"abcdefghij") == "abcdefgh"  # hard 8-byte cut
    # 'é' = 2 bytes: "abcdefé" is 8 bytes, decodes cleanly
    assert utf8_stat_prefix("abcdefé".encode()) == "abcdefé"
    # 'é' straddling the cut: byte 8 is the first half of the pair
    assert utf8_stat_prefix("abcdefgé".encode()) == "abcdefg�"
    # invalid bytes → lossy, like from_utf8_lossy
    assert utf8_stat_prefix(b"\xff\xfeab") == "��ab"
    assert utf8_stat_prefix(b"") == ""


def test_string_stat_prefixes_on_lineitem(sf_dir):
    """Metadata-only: the string columns' file-level min/max surface
    through the prefix rule and agree with a direct pyarrow read."""
    import pyarrow.parquet as pq

    from parquet_near_storage_compute_spark.plans.metrics import (
        string_stat_prefixes,
        utf8_stat_prefix,
    )

    path = f"{sf_dir}/lineitem.parquet"
    got = string_stat_prefixes(path)
    assert "l_returnflag" in got and "l_linestatus" in got
    tbl = pq.read_table(path, columns=["l_returnflag"])
    vals = tbl.column(0).to_pylist()
    assert got["l_returnflag"]["min_prefix"] == utf8_stat_prefix(
        min(vals).encode()
    )
    assert got["l_returnflag"]["max_prefix"] == utf8_stat_prefix(
        max(vals).encode()
    )


def test_string_stat_prefixes_multibyte_crafted(tmp_path):
    """Crafted file: min/max land on multibyte strings, so the 8-byte
    prefix rule must handle a codepoint straddling the cut on real
    parquet statistics, not just synthetic byte strings."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from parquet_near_storage_compute_spark.plans.metrics import (
        string_stat_prefixes,
    )

    path = str(tmp_path / "mb.parquet")
    # parquet string stats compare as unsigned BYTES: α = 0xCE B1 sorts
    # above every ascii char, so "zαααα" (0x7A then 0xCE…) is the max.
    # Its raw bytes are 1 + 4×2 = 9; the 8-byte cut splits the 4th α →
    # strict decode fails → lossy replacement, per the reference rule.
    vals = ["zαααα", "mmm", "zzz"]
    pq.write_table(pa.table({"s": pa.array(vals, pa.string())}), path)
    got = string_stat_prefixes(path)["s"]
    assert got["min_prefix"] == "mmm"
    assert got["max_prefix"] == "zααα�"


def test_wide92_fixture_matches_reference_projection_axis():
    """The committed snowset-shaped wide fixture (VERDICT r7 #4) carries
    the reference's projection experiment axis to full width: 92 columns
    with the v1 schema's names (v1/src/main.rs:1700-1793), and the
    planned-bytes series over the swept widths {1,8,23,46,92} is strictly
    monotone with the full width reading ~the whole table — the
    bytes-vs-columns observable of the thesis, footer-only."""
    import os

    import pyarrow.parquet as pq

    from parquet_near_storage_compute_spark.plans.metrics import (
        planned_scan_bytes,
    )

    fix = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "fixtures",
        "wide92.parquet",
    )
    meta = pq.ParquetFile(fix).metadata
    assert meta.num_columns == 92
    schema = meta.schema.to_arrow_schema()
    assert schema.names[:5] == [
        "queryId", "warehouseId", "databaseId", "createdTime", "endTime",
    ]
    assert schema.names[-1] == "profOtherRso"
    assert sum(1 for n in schema.names if n.startswith("prof")) == 38
    size = os.path.getsize(fix)
    series = [
        planned_scan_bytes(fix, schema.names[:n], [])
        for n in [1, 8, 23, 46, 92]
    ]
    assert series == sorted(series) and len(set(series)) == len(series)
    assert series[-1] > 0.95 * size



def test_footer_memo_follows_rewrites(tmp_path):
    """Footers are parsed once per file version: a repeat call reuses the
    parsed metadata, and a file rewritten in place is read again."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from parquet_near_storage_compute_spark.plans import metrics

    def fresh(path: str) -> int:
        with open(path, "rb") as fh:
            fh.seek(-8, os.SEEK_END)
            footer = int.from_bytes(fh.read(4), "little") + 8
        md = pq.ParquetFile(path).metadata
        return footer + sum(
            md.row_group(rg).column(i).total_compressed_size
            for rg in range(md.num_row_groups)
            for i in range(md.num_columns)
        )

    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": list(range(100))}), path)
    assert planned_scan_bytes(path) == fresh(path)
    assert metrics._footer(path) is metrics._footer(path)
    pq.write_table(pa.table({"a": list(range(1000)), "b": [1.0] * 1000}), path)
    assert planned_scan_bytes(path) == fresh(path)
    assert planned_scan_bytes(path, ["a"]) < planned_scan_bytes(path)
