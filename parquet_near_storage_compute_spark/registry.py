"""Central query registry: every operator from SURVEY.md §2 + extensions.

Each operator module exposes ``QUERIES`` (name → callable(spark, sf_dir) →
DataFrame) and ``ORACLE_SQL`` (name → DuckDB-runnable ANSI SQL). This module
merges them for ``__spark_entry__.py``. Names must be unique across modules;
a collision raises at import time so it can't silently shadow coverage.

Ordering matters: the driver's correctness gate checks the FIRST 50 keys in
iteration order. Round 1 verified the core v1/snowset/join/agg/window surface
(CORRECTNESS_r01, 47/50); round 2 the 50 extension operators; round 3 the
r1-era core plus the never-checked train_/stream_/kmeans contracts; round 4
the new-in-r3/r4 contracts plus the oldest r2 fill; round 5 the r2-only
stragglers plus everything r5 modified; round 6 the 22 never-checked
r5-third-session contracts + 3 modified + the 25 oldest r3 rows; round 7 the
2 deferred + 19 new + 3 modified + all 21 remaining r3-row contracts + the
5 oldest r4 rows — all 50/50 green, so every live contract now has a green
driver row and none is staler than round 4.

Round 8 retired the full 37-contract r4 backlog (50/50 green), so after it
no live contract's newest driver row is older than round 5; staleness by
round is {r5: 41, r6: 49, r7: 45, r8: 50}.

Round 9's window (VERDICT r8 #2) was 3 new + 5 modified + all 41 r5-row
contracts + 1 r6 fill — 50/50 green (CORRECTNESS_r09), so after it the
stalest live rows are the 48 round-6 rows.

Round 10's window (VERDICT r9 #2) was 7 new contracts + 4 modified (the
integer-cents exactness conversions) + the oldest 39 of the 48 r6-row
contracts — 50/50 green (CORRECTNESS_r10), leaving staleness
{r6: 9, r7: 42, r8: 46, r9: 48, r10: 50}.

Round 11's window (VERDICT r10 #3) was 4 new + 1 modified + the last 9
r6-row contracts + the oldest 36 r7-row contracts — 50/50 green
(CORRECTNESS_r11), leaving staleness {r7: 6, r8: 46, r9: 48, r10: 49,
r11: 50}.

Round 12's window (VERDICT r11 #1): 2 new contracts
(`stream_minhash_ingest` — streaming MinHash admission via foreachBatch:
banded state join → exact shingle-Jaccard verify → within-batch
min-wins → generation-dir state publishing; the text sibling of
`stream_phash_ingest`, recursive-CTE replay oracle; `sim_mmr_select` —
exact-integer greedy MMR exemplar selection over a relevance top-POOL
candidate set, unrolled-CTE oracle) + 2 modified
(`time_downsample_lttb` — the triangle-area products moved from raw
int64 to DECIMAL(38,0)/HUGEINT, closing the ADVICE r11 overflow
envelope; `train_bpe_merges` — its merge loop is now the shared
`_bpe_trained` pass over the length ≥ 1 vocabulary, trajectory-identical
by the pinned 1-char-words-contribute-no-pairs equivalence) lead; then
ALL 6 remaining r7-row contracts (closing the r7 backlog) and the oldest
40 of the 46 contracts whose newest driver row is CORRECTNESS_r08, both
in their round-file key order (computed from the r0*.json history
exactly as tests/test_registry_window.py does — never hand-counted).
The continuation session added 5 more new contracts (`text_dedup_scrub`,
`train_dsir_resample`, `events_pagerank`, `train_drift_psi`,
`time_holt_trend`), displacing the 5 newest r8 slots.

Round 13's window (VERDICT r12 #8, an optimization round — no new
contracts): the 5 contracts whose r13 plan restructures invalidate their
green rows lead (`train_bpe_merges` / `events_pagerank` /
`sim_mmr_select` — the one-partition literal-frame rework;
`text_dedup_trim` / `train_decontaminate_trim` — only the redundant
`distinct` on the flagged window starts was dropped, the (doc_id, p)
equi-join and the ROWS rolling-max frame remain; results proven EQUAL at
sf0.001+sf0.01 this round, but the old rows verified different plans —
see MODIFIED_IN_R13), then ALL 11 leftover r8-row contracts and the
oldest 34 of the 47 r9-row contracts, each cohort in its round-file key
order (computed from the r0*.json history exactly as
tests/test_registry_window.py does). The 13 leftover r9 rows rotate in
round 14.
``_PRIORITY`` pins the window explicitly; everything else follows in
module order so the window can rotate again in later rounds without code
churn elsewhere.
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


#: New in round 12 — enter the window immediately:
#: stream_minhash_ingest: streaming MinHash admission (VERDICT r11 #4) —
#: micro-batches admitted against accepted-signature state via
#: foreachBatch (banded state join → exact shingle-Jaccard verify →
#: within-batch min-wins → write-then-publish state generations), the
#: text sibling of stream_phash_ingest, replayed sequentially by a
#: recursive-CTE DuckDB oracle.
#: sim_mmr_select: Maximal-Marginal-Relevance exemplar selection — K
#: relevant-but-diverse vectors via the exact-integer lattice greedy
#: (10·score = 7·rel − 3·maxsim), two-stage (relevance top-POOL, then
#: bounded greedy rounds); unrolled-CTE DuckDB oracle.
#: Round-12 continuation session adds two more:
#: text_dedup_scrub: corpus-wide first-occurrence segment scrub with
#: document reassembly (the CCNet/RefinedWeb line-dedup action at the
#: repo's segment granularity) — one explode, one map-side-combinable
#: argmin aggregate, one reassembly aggregate; kept_hash member-level
#: oracle.
#: train_dsir_resample: DSIR importance resampling (Xie et al. 2023) on
#: an exact fixed-point log2 lattice — two corpus passes + a 1024-row
#: broadcast λ table; bit-exact vs the generated shift-and-square CTE
#: chain in DuckDB.
#: events_pagerank: exact-integer PageRank over the event-type
#: transition graph (one corpus pass builds the ≤ types²-row matrix;
#: the iteration runs driver-side in Python big-ints over that bounded
#: frame; PR_ITERS unrolled MATERIALIZED CTEs in the oracle).
#: train_drift_psi: Population-Stability-Index drift report between the
#: DSIR target slice and the remainder over fixed-width length buckets —
#: exact integer on the shared fixed-point log2 lattice
#: (functions/intmath.py); one corpus pass, everything after
#: dimension-sized.
#: time_holt_trend: Holt level+trend smoothing on the 6-hour grid —
#: exact integer recurrence (truncating division, the semantics Spark
#: `div` and DuckDB `//` share) folded per user over BUCKET MEANS
#: (calendar-bounded state), recursive-CTE oracle.
NEW_IN_R12 = [
    "stream_minhash_ingest",
    "sim_mmr_select",
    "text_dedup_scrub",
    "train_dsir_resample",
    "events_pagerank",
    "train_drift_psi",
    "time_holt_trend",
]

#: Contracts round 12 modifies that already carry driver rows — the
#: change invalidates the old row, so they re-enter the window:
#: time_downsample_lttb's triangle-area products moved from raw int64 to
#: DECIMAL(38,0) (Spark) / HUGEINT (DuckDB), fixing the ADVICE r11
#: overflow envelope (two n×spread factors multiply past 2^63 at ~120
#: points/bucket under year-long gaps × $100k spreads);
#: train_bpe_merges' merge loop is now the memoized `_bpe_trained` pass
#: over the length ≥ 1 vocabulary shared with encode/fertility/pack
#: (trajectory-identical: 1-char words contribute no adjacent pairs,
#: pinned by test_bpe_encode_trains_the_same_merges).
MODIFIED_IN_R12 = [
    "time_downsample_lttb",
    "train_bpe_merges",
]

#: Contracts round 13 (optimization round) restructures — results proven
#: EQUAL at two SFs this round, but the plan changes invalidate the old
#: driver rows, so they re-enter the window:
#: train_bpe_merges / events_pagerank / sim_mmr_select: driver-computed
#: literal results now render as ONE single-partition literal frame
#: (spark.range(1) planned 32 splits per branch — 192 near-empty tasks
#: for the 6-row merge table, the r12/r13 raw-bar breach);
#: text_dedup_trim / train_decontaminate_trim: the redundant
#: `.distinct()` on the flagged window starts is gone (one row per
#: (doc_id, p) by construction — an Exchange + two HashAggregates over a
#: frame that is corpus-sized on duplicate-heavy corpora), so the trim
#: join now relies on that pinned uniqueness.
MODIFIED_IN_R13 = [
    "train_bpe_merges",
    "events_pagerank",
    "sim_mmr_select",
    "text_dedup_trim",
    "train_decontaminate_trim",
]

#: The round-13 driver correctness window (VERDICT r12 #8): the 5
#: restructured contracts lead; then ALL 11 leftover round-8-row
#: contracts (closing the r8 backlog) and the oldest 34 of the 47
#: round-9-row contracts, each cohort in its round-file key order. The
#: 13 leftover r9 rows rotate in round 14.
_PRIORITY = MODIFIED_IN_R13 + [
    # the remaining 11 round-8-row contracts, CORRECTNESS_r08 key order
    "train_bpe_pair_counts",
    "train_chunk_documents",
    "train_contamination_check",
    "train_curriculum_order",
    "train_mixture_sample",
    "udtf_tokenize",
    "agg_approx_distinct",
    "agg_collect",
    "agg_reaggregate",
    "mm_binary_metadata",
    "mm_feature_extract",
    # the oldest 34 round-9-row contracts, CORRECTNESS_r09 key order
    "v1_wide92_flagship",
    "train_source_cap",
    "dedup_threshold_curve",
    "dedup_connected_components",
    "dedup_keep_best",
    "sim_topk_pq",
    "sim_topk_ivf_pq",
    "mm_frame_sample",
    "pipeline_training_data",
    "relational_correlated_subquery",
    "relational_distinct_rows",
    "relational_pivot",
    "relational_unpivot",
    "scalar_arithmetic_chain",
    "scalar_array_ops",
    "scalar_case_bucket",
    "scalar_string_ops",
    "setop_except",
    "setop_intersect",
    "setop_union_all",
    "sort_limit_topk",
    "source_glob_scan",
    "time_datetime_parts",
    "time_json_extract",
    "time_sliding_window",
    "time_tumbling_hourly",
    "types_unsigned_decimal",
    "udaf_geomean",
    "udf_grouped_map_zscore",
    "udf_readability",
    "udf_sql_surface",
    "join_outer_full",
    "text_dedup_segments",
    "pipeline_curation_report",
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
    missing = [n for n in _PRIORITY if n not in queries]
    if missing:
        raise ValueError(f"_PRIORITY names not registered: {missing}")
    ordered = {n: queries[n] for n in _PRIORITY}
    ordered.update((n, f) for n, f in queries.items() if n not in ordered)
    return ordered, oracles


def all_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return _collect()[0]


def all_oracles() -> dict[str, str]:
    return _collect()[1]
