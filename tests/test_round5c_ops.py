"""Operator-level tests for the round-5 third-session additions: sketches
(count-min, Bloom), the explicit skew-salted join, incremental dedup, the
merge/upsert pattern, and the compaction sink. Oracle equality for all of
them is covered registry-wide by test_registry_oracle.py; these tests pin
the properties and plan shapes the oracle comparison can't see."""

from __future__ import annotations

import glob
import math
import os

import pytest
from pyspark.sql import functions as F

from parquet_near_storage_compute_spark.functions.sql import sql_string
from parquet_near_storage_compute_spark.functions.text import hash32
from parquet_near_storage_compute_spark.operators import sketches
from parquet_near_storage_compute_spark.operators.dedup import incremental_dedup
from parquet_near_storage_compute_spark.operators.joins import (
    SKEW_SALT,
    skew_salted_join,
)
from parquet_near_storage_compute_spark.operators.relational import merge_upsert
from parquet_near_storage_compute_spark.sources import io as src_io
from parquet_near_storage_compute_spark.tables import load_table


# ---------------------------------------------------------------- count-min
def test_countmin_never_underestimates(spark, sf_dir):
    rows = sketches.countmin(spark, sf_dir).collect()
    assert rows, "no probe keys"
    for r in rows:
        assert r.est_count >= r.exact_count, r


def test_countmin_sketch_is_fixed_size(spark, sf_dir):
    """The sketch frame itself never exceeds D×W cells no matter the input
    size — the property that makes it a 100 TB answer."""
    ev = load_table(spark, sf_dir, "events")
    d = F.explode(F.sequence(F.lit(0), F.lit(sketches.CM_DEPTH - 1))).alias("d")
    cells = ev.select(F.col("user_id"), d).select(
        "d",
        F.expr(f"{hash32('d', 'user_id')} % {sketches.CM_WIDTH} AS bucket"),
    )
    n_cells = cells.groupBy("d", "bucket").count().count()
    assert n_cells <= sketches.CM_DEPTH * sketches.CM_WIDTH


# ------------------------------------------------------------------- bloom
def test_bloom_no_false_negatives(spark, sf_dir):
    """n_true_member (computed via the Bloom-positive subset only) must
    equal the exact member count computed independently — sound iff the
    filter admits every true member."""
    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 2 == 0).select(
        F.md5("text").alias("sig")
    )
    batch = docs.filter(F.col("doc_id") % 2 == 1).select(
        "source", F.md5("text").alias("sig")
    )
    exact = {
        r.source: r.n
        for r in batch.join(corpus.distinct(), "sig", "left_semi")
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    report = sketches.bloom_membership(spark, sf_dir).collect()
    for r in report:
        assert r.n_true_member == exact.get(r.source, 0), r
        assert r.n_bloom_positive >= r.n_true_member, r
        assert r.n_false_positive == r.n_bloom_positive - r.n_true_member, r
        assert r.n_probed >= r.n_bloom_positive, r


def test_bloom_filter_is_fixed_size(spark, sf_dir):
    """≤ BLOOM_WORDS rows regardless of corpus size."""
    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 2 == 0).select(
        F.md5("text").alias("sig")
    )
    j = F.explode(F.sequence(F.lit(0), F.lit(sketches.BLOOM_K - 1))).alias("j")
    words = (
        corpus.select("sig", j)
        .select(
            F.expr(f"{hash32('j', 'sig')} % {sketches.BLOOM_BITS} AS idx")
        )
        .select(F.expr("idx div 32").alias("word"))
        .distinct()
    )
    assert words.count() <= sketches.BLOOM_WORDS


# -------------------------------------------------------------- skew join
def test_skew_salted_join_plan(spark, sf_dir):
    """The join must be a SortMergeJoin keyed on (event_type, salt) — the
    salted shuffle spreads each hot key over SKEW_SALT reducers."""
    df = skew_salted_join(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan, plan
    assert "salt" in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_skew_salted_join_dim_replication(spark, sf_dir):
    """Every (event_type, salt) pair exists on the dim side — no fact row
    can be dropped by a missing salt copy."""
    ev = load_table(spark, sf_dir, "events")
    n_types = ev.select("event_type").distinct().count()
    total = skew_salted_join(spark, sf_dir).agg(F.sum("n_events")).collect()[0][0]
    assert total == ev.count()
    assert n_types == skew_salted_join(spark, sf_dir).count()
    assert SKEW_SALT >= 2


# -------------------------------------------------------- incremental dedup
def test_incremental_dedup_survivors_are_fresh_and_unique(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    corpus_sigs = {
        r.sig
        for r in docs.filter(F.col("doc_id") % 2 == 0)
        .select(F.md5("text").alias("sig"))
        .distinct()
        .collect()
    }
    sig_by_doc = {
        r.doc_id: r.sig
        for r in docs.filter(F.col("doc_id") % 2 == 1)
        .select("doc_id", F.md5("text").alias("sig"))
        .collect()
    }
    survivors = incremental_dedup(spark, sf_dir).collect()
    seen = set()
    for r in survivors:
        sig = sig_by_doc[r.doc_id]
        assert sig not in corpus_sigs, "survivor already in corpus"
        assert sig not in seen, "two survivors share a signature"
        seen.add(sig)


# ------------------------------------------------------------ merge upsert
def test_merge_upsert_one_row_per_key_covering_all_versions(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    out = merge_upsert(spark, sf_dir)
    assert out.count() == ev.select("user_id").distinct().count()
    assert out.agg(F.sum("n_versions")).collect()[0][0] == ev.count()


def test_hll_estimate_is_partition_order_invariant(spark, sf_dir):
    """HLL registers are max-based, so the raw ESTIMATE (not just the
    within-tolerance flag) must be bit-identical across shuffle layouts —
    the same discipline the float-exactness audit enforces elsewhere."""
    from parquet_near_storage_compute_spark.tables import load_table

    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    vals = []
    try:
        for parts in ("7", "32"):
            spark.conf.set(key, parts)
            ev = load_table(spark, sf_dir, "events")
            est = (
                ev.groupBy("event_type")
                .agg(
                    F.hll_sketch_agg("user_id", F.lit(sketches.HLL_LG_K)).alias(
                        "sk"
                    )
                )
                .select("event_type", F.hll_sketch_estimate("sk").alias("est"))
                .collect()
            )
            vals.append(sorted((r.event_type, r.est) for r in est))
    finally:
        spark.conf.set(key, prev)
    assert vals[0] == vals[1]


def test_kmv_union_of_sketches_equals_direct_sketch(spark, sf_dir):
    """The KMV merge property: the k smallest hashes across the per-group
    sketches must equal the k smallest hashes of the whole population —
    i.e. merging sketches loses nothing vs sketching the union directly."""
    from pyspark.sql import Window

    from parquet_near_storage_compute_spark.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    hashed = (
        ev.select("event_type", "user_id")
        .distinct()
        .select(
            "event_type", F.expr(f"{hash32(sql_string('kmv'), 'user_id')} AS h")
        )
        .distinct()
    )
    w = Window.partitionBy("event_type").orderBy("h")
    sketch = hashed.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= sketches.KMV_K
    )
    merged = sorted(
        r.h for r in sketch.select("h").distinct().orderBy("h")
        .limit(sketches.KMV_K).collect()
    )
    direct = sorted(
        r.h for r in hashed.select("h").distinct().orderBy("h")
        .limit(sketches.KMV_K).collect()
    )
    assert merged == direct


def test_kmv_estimate_is_reasonable(spark, sf_dir):
    """est within ~4 standard errors of exact for the full sketch rows."""
    rows = sketches.kmv_distinct(spark, sf_dir).collect()
    se = 1.0 / math.sqrt(sketches.KMV_K - 2)
    for r in rows:
        assert abs(r.est_distinct - r.n_exact) <= max(4 * se * r.n_exact, 2), r


def test_kmv_overlap_bounds(spark, sf_dir):
    """Overlap numerator bounded by the merged sketch size; exact counts
    satisfy set algebra (inter ≤ min side ≤ union)."""
    rows = sketches.kmv_overlap(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0 <= r.kmv_overlap_k <= r.n_merged <= sketches.KMV_K, r
        assert r.exact_inter <= r.exact_union, r
        # full-overlap pairs must estimate full overlap
        if r.exact_inter == r.exact_union:
            assert r.kmv_overlap_k == r.n_merged, r


def test_hll_flags_all_pass(spark, sf_dir):
    rows = sketches.hll_distinct(spark, sf_dir).collect()
    assert len(rows) >= 2
    for r in rows:
        assert r.est_within_tol == 1, r


# ------------------------------------------------------ approx percentile
def test_approx_percentile_flags_stable_across_partitioning(spark, sf_dir):
    """The GK rank guarantee holds regardless of merge order, so the flags
    must be 1 under different shuffle layouts even though the raw
    estimate may drift."""
    from parquet_near_storage_compute_spark.operators.aggregates import (
        approx_percentile_sketch,
    )

    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    try:
        for parts in ("7", "32"):
            spark.conf.set(key, parts)
            row = approx_percentile_sketch(spark, sf_dir).collect()[0]
            assert row.rank_p50_ok == 1 and row.rank_p90_ok == 1, row
    finally:
        spark.conf.set(key, prev)


# ------------------------------------------------------ markov transitions
def test_markov_transitions_conserve_mass(spark, sf_dir):
    """Total transitions = total events − distinct users (each user's
    chain has length-1 transitions); per-from shares sum to ≤10000 bp
    (integer division loses ≤ types-1 bp)."""
    from collections import defaultdict

    from parquet_near_storage_compute_spark.operators.timeseries import (
        markov_transitions,
    )
    from parquet_near_storage_compute_spark.tables import load_table

    rows = markov_transitions(spark, sf_dir).collect()
    ev = load_table(spark, sf_dir, "events")
    n_events = ev.count()
    n_users = ev.select("user_id").distinct().count()
    assert sum(r.n_transitions for r in rows) == n_events - n_users
    by_from = defaultdict(int)
    for r in rows:
        by_from[r.from_type] += r.share_bp
    n_types = len({r.to_type for r in rows})
    for f, total_bp in by_from.items():
        assert 10000 - n_types < total_bp <= 10000, (f, total_bp)


# -------------------------------------------------- embedding decisions
def test_embedding_dedup_decisions_consistent_with_pairs(spark, sf_dir):
    """Min-id-wins: a vector is dropped iff it is the HIGHER id of some
    ≥τ pair; partner counts come from the same pair set."""
    from collections import Counter

    from parquet_near_storage_compute_spark.operators.similarity import (
        embedding_dedup_decisions,
        range_search,
    )

    pairs = [(r.vec_a, r.vec_b) for r in range_search(spark, sf_dir).collect()]
    losers = {b for _, b in pairs}
    partners = Counter()
    for a, b in pairs:
        partners[a] += 1
        partners[b] += 1
    rows = embedding_dedup_decisions(spark, sf_dir).collect()
    for r in rows:
        assert r.keep == (0 if r.vec_id in losers else 1), r
        assert r.n_partners == partners.get(r.vec_id, 0), r


# ------------------------------------------------------- bitmap + SCD2
def test_bitmap_distinct_matches_count_distinct(spark, sf_dir):
    from parquet_near_storage_compute_spark.operators.aggregates import (
        bitmap_distinct,
    )
    from parquet_near_storage_compute_spark.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    exact = {
        r.event_type: r.n
        for r in ev.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    exact["ALL"] = ev.select("user_id").distinct().count()
    for r in bitmap_distinct(spark, sf_dir).collect():
        assert r.n_distinct == exact[r.event_type], r


def test_scd2_intervals_tile_each_user_timeline(spark, sf_dir):
    """Per user: exactly one open (current) interval; every closed
    interval's valid_to equals some other version's valid_from."""
    from collections import defaultdict

    from parquet_near_storage_compute_spark.operators.relational import (
        scd2_history,
    )

    rows = scd2_history(spark, sf_dir).collect()
    by_user = defaultdict(list)
    for r in rows:
        by_user[r.user_id].append(r)
    for user, vs in by_user.items():
        assert sum(v.is_current for v in vs) == 1, user
        froms = {v.valid_from for v in vs}
        for v in vs:
            assert v.valid_from is not None
            if v.is_current:
                assert v.valid_to is None
            else:
                assert v.valid_to in froms, (user, v)


# --------------------------------------------------- runtime bloom join
def test_runtime_bloom_join_injects_filter_and_restores_confs(spark, sf_dir):
    from parquet_near_storage_compute_spark.operators.joins import (
        runtime_bloom_filtered_join,
    )

    before = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    df = runtime_bloom_filtered_join(spark, sf_dir)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "might_contain" in plan, plan
    assert "bloom_filter_agg" in plan, plan
    assert spark.conf.get("spark.sql.autoBroadcastJoinThreshold") == before
    assert (
        spark.conf.get(
            "spark.sql.optimizer.runtime.bloomFilter."
            "applicationSideScanSizeThreshold"
        )
        != "0"
    )


# ---------------------------------------------------------------- DPP join
def test_dpp_contract_injects_pruning_subquery(spark, sf_dir):
    """The fact scan must carry the runtime dynamicpruning subquery — the
    property that makes the dim-filtered join partition-restricted."""
    df = src_io.dpp_star_join(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan
    mods = sorted(r.cust_mod for r in df.collect())
    assert mods == sorted(a // 2 for a in src_io._DPP_ATTRS)


# -------------------------------------------------------------- OHLC bars
def test_ohlc_invariants(spark, sf_dir):
    """low ≤ open, close ≤ high; volume ≥ 1; and volumes sum to the full
    event count (bars partition the stream)."""
    from parquet_near_storage_compute_spark.operators.timeseries import ohlc_bars
    from parquet_near_storage_compute_spark.tables import load_table

    rows = ohlc_bars(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.low_cents <= r.open_cents <= r.high_cents, r
        assert r.low_cents <= r.close_cents <= r.high_cents, r
        assert r.volume >= 1, r
    total = load_table(spark, sf_dir, "events").count()
    assert sum(r.volume for r in rows) == total


# ------------------------------------------------ incremental ingest pipe
def test_incremental_ingest_categories_partition_the_batch(spark, sf_dir):
    """Every batch doc lands in exactly one outcome category, and the
    exact-dup count agrees with an independent membership computation."""
    from parquet_near_storage_compute_spark.operators.pipeline import (
        incremental_ingest_pipeline,
    )
    from parquet_near_storage_compute_spark.tables import load_table

    rows = incremental_ingest_pipeline(spark, sf_dir).collect()
    docs = load_table(spark, sf_dir, "documents")
    n_batch_total = docs.filter(F.col("doc_id") % 2 == 1).count()
    assert sum(r.n_batch for r in rows) == n_batch_total
    for r in rows:
        assert (
            r.n_exact_dup + r.n_batch_dup + r.n_low_quality + r.n_ingested
            == r.n_batch
        ), r
        assert r.n_exact_dup <= r.n_bloom_positive, r  # no false negatives


# -------------------------------------------------- streaming CDC upsert
def test_stream_upsert_runs_incrementally_and_matches_batch(
    spark, sf_dir, fold_states
):
    """The foreachBatch merge must (a) actually execute once per source
    file (4 folded batches — not one big batch — over a state that never
    shrinks, the last of which is the returned frame) and (b) converge to
    the one-shot batch merge (relational_merge_upsert)."""
    from parquet_near_storage_compute_spark.streaming import stream_ops

    out = stream_ops.upsert_foreachbatch(spark, sf_dir)
    batch = merge_upsert(spark, sf_dir)
    assert out.count() == batch.count()
    assert out.exceptAll(batch).count() == 0

    assert [b for b, _ in fold_states] == [0, 1, 2, 3]
    counts = [len(rows) for _, rows in fold_states]
    assert counts == sorted(counts)
    final = sorted((r.user_id, r.event_id, r.n_versions) for r in fold_states[-1][1])
    assert final == sorted(
        (r.user_id, r.last_event_id, r.n_versions) for r in out.collect()
    )


# -------------------------------------------------------------- compaction
def test_compaction_reduces_file_count(spark, sf_dir):
    src_io.compaction_sink(spark, sf_dir).collect()  # materialize both dirs
    frag, compacted = _compaction_dirs(sf_dir)
    n_frag = len(glob.glob(os.path.join(frag, "*.parquet")))
    n_out = len(glob.glob(os.path.join(compacted, "*.parquet")))
    assert n_frag == src_io._COMPACT_FRAGMENTS
    in_bytes = sum(
        os.path.getsize(p) for p in glob.glob(os.path.join(frag, "*.parquet"))
    )
    expect = max(1, math.ceil(in_bytes / src_io._COMPACT_TARGET_BYTES))
    assert n_out == expect
    assert n_out < n_frag


def _compaction_dirs(sf_dir):
    """The fragmented and compacted copies `compaction_sink` builds."""
    from parquet_near_storage_compute_spark.tables import (
        derived_copy_path,
        table_path,
    )

    events = (table_path(sf_dir, "events"),)
    return (
        derived_copy_path("compact_frag", events),
        derived_copy_path("compact_out", events),
    )


def _clustered_files(spark, sf_dir):
    from parquet_near_storage_compute_spark.tables import (
        derived_copy_path,
        table_path,
    )

    src_io.zorder_scan(spark, sf_dir).collect()  # materialize both layouts
    src = (table_path(sf_dir, "lineitem"),)
    rg = src_io._Z_ROW_GROUP_BYTES
    zfile = glob.glob(os.path.join(derived_copy_path(f"zorder_{rg}", src), "*.parquet"))
    lfile = glob.glob(os.path.join(derived_copy_path(f"linear_{rg}", src), "*.parquet"))
    assert len(zfile) == 1 and len(lfile) == 1
    return zfile[0], lfile[0]


def test_zorder_prunes_both_dimensions(spark, sf_dir):
    """The point of the layout: stats pruning works on BOTH interleaved
    dimensions of the z-ordered file, while the linear file prunes only
    its leading sort column."""
    import pyarrow.parquet as pq

    from parquet_near_storage_compute_spark.plans import metrics as M

    zfile, lfile = _clustered_files(spark, sf_dir)
    assert pq.ParquetFile(zfile).metadata.num_row_groups >= 4, (
        "too few row groups for the pruning measurement to discriminate"
    )
    li = load_table(spark, sf_dir, "lineitem")
    maxes = li.agg(
        F.max("l_partkey").alias("pk"), F.max("l_orderkey").alias("ok")
    ).collect()[0]
    # selective probes scaled to THIS corpus (the contract's fixed literal
    # is tuned for the driver SF and non-selective at smoke SF)
    cols = ["l_orderkey", "l_partkey", "l_extendedprice"]
    pk_pred = [("l_partkey", "<", maxes.pk // 8)]
    ok_pred = [("l_orderkey", "<", maxes.ok // 8)]
    z_full = M.planned_scan_bytes(zfile, cols, None)
    l_full = M.planned_scan_bytes(lfile, cols, None)
    # z-order: both dimensions prune
    assert M.planned_scan_bytes(zfile, cols, pk_pred) < z_full
    assert M.planned_scan_bytes(zfile, cols, ok_pred) < z_full
    # linear: leading column prunes, the second dimension cannot
    assert M.planned_scan_bytes(lfile, cols, ok_pred) < l_full
    assert M.planned_scan_bytes(lfile, cols, pk_pred) == l_full


def test_zorder_expr_is_morton_code(spark):
    """The generated SQL, evaluated by Spark, must equal the reference
    Morton bit-interleave."""
    from parquet_near_storage_compute_spark.sources.io import zorder_expr

    def morton(a: int, b: int, bits: int = src_io._Z_BITS) -> int:
        out = 0
        for i in range(bits):
            out |= ((a >> i) & 1) << (2 * i)
            out |= ((b >> i) & 1) << (2 * i + 1)
        return out

    cases = [(0, 0), (1, 0), (0, 1), (3, 5), (1234, 567), (65535, 65535)]
    selects = ", ".join(
        f"{zorder_expr(str(a), str(b))} AS z{i}" for i, (a, b) in enumerate(cases)
    )
    row = spark.sql(f"SELECT {selects}").collect()[0]
    for i, (a, b) in enumerate(cases):
        assert row[f"z{i}"] == morton(a, b), (a, b)


def test_compaction_is_lossless(spark, sf_dir):
    """Row-level equality between the fragmented and compacted copies."""
    src_io.compaction_sink(spark, sf_dir).collect()
    frag_dir, comp_dir = _compaction_dirs(sf_dir)
    frag = spark.read.parquet(frag_dir)
    comp = spark.read.parquet(comp_dir)
    assert frag.count() == comp.count()
    assert frag.exceptAll(comp).count() == 0
