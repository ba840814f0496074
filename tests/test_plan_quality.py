"""Global plan audit: every registered query must compile to a scale-safe
physical plan — no unintended cartesian products, nested-loop joins only
where a tiny broadcast side makes them the right strategy, broadcast hash
joins on the dim-side star joins. This is the ".explain and iterate" gate
from the build brief, automated."""

from __future__ import annotations

import pytest

from parquet_near_storage_compute_spark.registry import all_queries

#: BroadcastNestedLoopJoin is correct ONLY for these (deliberate tiny-side
#: cross joins: the J2 percentage-of-total pattern, the brute-force cosine
#: baseline, SimHash's vocab × 16-bit grid, the verbatim Snowset comma-join).
BNLJ_WHITELIST = {
    "join_cross_pct",
    # the singleton-count row: a 1×1 cross join of two scalar aggregates
    # (total docs × clustered docs) — both sides single rows forever
    "dedup_cluster_size_histogram",
    # global HLL estimate row: 1-row union-sketch frame × 1-row exact-count
    # frame (the J2 pct-of-total shape; the corpus sees only aggregates)
    "sketch_hll_distinct",
    # 1-row approx-percentile frame × the fact for the re-ranking count
    # (the J2 pct-of-total shape; the sketch side is a single row)
    "agg_approx_percentile_sketch",
    # sketch-pair theta join: one ≤k-element array row per GROUP on each
    # side (groups × groups pairs, both dimension-sized by construction —
    # that reduction is the sketch's whole point; the corpus sees only
    # the hash projection and an equi-join for the exact baseline)
    "sketch_kmv_overlap",
    "sim_topk_bruteforce",
    # SQ8 flat scan: same deliberate shape as sim_topk_bruteforce — the
    # N_QUERIES-row code frame broadcasts against the candidate scan
    "sim_topk_sq8",
    # IVF-SQ8: the ~k-row centroid codebook cross join, as sim_topk_ivf
    "sim_topk_ivf_sq8",
    # PQ: the N_QUERIES-row lattice frame broadcasts against the code
    # scan, as sim_topk_sq8
    "sim_topk_pq",
    # IVF-PQ: the ~k-row centroid codebook cross join, as sim_topk_ivf
    # (the candidate scoring itself equi-joins on the cell key)
    "sim_topk_ivf_pq",
    # multiprobe IVF: the same ~k-row codebook cross join; candidate
    # search equi-joins on the cell key across the query's NPROBE cells
    "sim_topk_ivf_mp",
    # recall evaluation: unions the exact baseline + all four quantized
    # variants, so it inherits each parent's whitelisted probe shape
    "sim_recall_report",
    # corpus-vocabulary constant: 1-row countDistinct frame broadcast
    # onto the bigram term frame (the text_tfidf_topk shape)
    "text_lm_perplexity",
    # DSIR λ constant: the 1-row (lg(R+D) − lg(T+D)) frame broadcasts
    # onto the DSIR_DIM-row bucket table — both sides dimension-sized
    # forever (the corpus only ever sees equi-joins)
    "train_dsir_resample",
    # PSI totals/constant attach: 1-row frames broadcast onto the
    # ≤ PSI_BUCKETS-row count table — the same scalar-cross shape
    "train_drift_psi",
    # per-round argmax: the 1-row best-pair frame broadcasts onto the
    # vocab-sized token frame, once per unrolled merge round
    "train_bpe_merges",
    # same loop inside the encode pass
    "train_bpe_encode",
    # and inside the pack-by-BPE composition
    "train_pack_bpe",
    # two-stage retrieval: stage 1 is the deliberate brute prefix scan
    # (broadcast queries × candidate prefixes, the sim_topk_bruteforce
    # shape at half bandwidth); stage 2 equi-joins on cand_id/query_id
    "sim_topk_prefix_rerank",
    # SemDeDup: the ~k-row centroid codebook cross join for cell
    # assignment, as sim_topk_ivf (the pair work itself equi-joins on
    # the salted cell key)
    "dedup_semantic_clusters",
    "snowset_selectivity_distribution_sql",
    # IVF / k-means cell assignment: deliberate cross join vs the ~k-row
    # broadcast codebook (narrow pass; candidate search is an equi-join)
    "sim_topk_ivf",
    "iter_kmeans_lite",
    # theta join has no equi key by definition; the small side broadcasts
    "join_theta",
    # dense-calendar construction: exploded hour sequence × distinct types,
    # both dimension-sized (the fact side is pre-aggregated before joining)
    "time_gap_fill",
    # normalization constant: ≤#sources-row counts frame × 1-row totals
    # frame (the corpus itself only sees a broadcast hash join on source)
    "train_mixture_sample",
    # corpus-size constant: 1-row n_docs frame broadcast onto the scored
    # term frame
    "text_tfidf_topk",
}

_QUERIES = all_queries()

#: Streaming queries execute on build (their micro-batches are folded into
#: a checkpointed frame), so exclude them from the plan-text audit — their
#: batch twins are covered.
_SKIP = {
    "stream_windowed_counts",
    "stream_stateful_user_stats",
    "stream_sliding_counts",
    "stream_append_closed_windows",
}


#: Contracts whose executed plan is ALLOWED to contain a global
#: (range-partitioned) Sort.  Every entry is a declared ordering: either the
#: contract's output contract includes ORDER BY / top-k semantics, the sorted
#: frame is dimension-sized (aggregate outputs, codebooks, report rows), or
#: the ordering IS the semantics (curriculum order, global shuffle, sequence
#: packing, sorted sink layouts).  The two VERDICT-r6 presentational sorts
#: (`sim_range_search`, `dedup_connected_components` — unbounded row-set
#: outputs sorted for nothing) were REMOVED in r7 and must stay out; any new
#: contract that grows an undeclared global sort fails here, which is the
#: point.
GLOBAL_SORT_DECLARED = {
    "agg_bitmap_distinct",
    "agg_histogram",
    "agg_pricing_summary",
    "dedup_embedding_lsh",
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "dedup_shingle_containment",
    # ≤11-row decile report: the cumulative window is dimension-sized
    # by construction
    "dedup_threshold_curve",
    # ≤MMR_K-row selection in rank order: the sort is over the 10-row
    # LocalTableScan result of the driver-side greedy (r12)
    "sim_mmr_select",
    # ≤ len(BAND_CONFIGS)·11-row S-curve report, dimension-sized
    "dedup_minhash_band_tuning",
    # one row per distinct cluster size (≤ log-ish under a power law),
    # dimension-sized report sort
    "dedup_cluster_size_histogram",
    # one row per evaluated ANN variant (4), dimension-sized
    "sim_recall_report",
    "events_anomaly_mad",
    "events_cumulative_users",
    "events_funnel",
    # ≤ #event-types-row frame in rank order (the driver-side exact
    # PageRank's presentation sort, the sim_mmr_select class)
    "events_pagerank",
    # ≤ PSI_BUCKETS-row drift report in bucket order, dimension-sized
    "train_drift_psi",
    "events_markov_transitions",
    "events_retention_cohorts",
    "iter_kmeans_lite",
    "join_bucketed_colocated",
    "join_outer_full",
    "join_runtime_bloom_filtered",
    "join_skew_salted",
    "join_theta",
    "meta_stat_prefixes",
    "minhash_dedup_decisions",
    "pipeline_curation_report",
    "pipeline_incremental_ingest",
    "relational_lateral_topn",
    "sink_compaction",
    "sink_python_datasource",
    "sketch_kmv_overlap",
    "snowset_selectivity_distribution",
    "snowset_selectivity_distribution_sql",
    "source_csv_scan",
    "source_dpp_star_join",
    "source_jsonl_scan",
    "source_orc_scan",
    "source_partitioned_scan",
    "source_python_datasource",
    "stream_python_datasource",
    "stream_session_windows",
    "stream_stream_join",
    "text_dedup_segments",
    "time_ewma",
    "time_gap_fill",
    "time_ohlc_bars",
    "train_chunk_documents",
    "train_contamination_check",
    "train_curriculum_order",
    # the interleave ORDER IS the semantics (stride-schedule feed order);
    # the corpus-scale ranks come from global_positions (shard-local
    # sorts), the only global sorts are the tiny offsets windows + the
    # declared final presentation order
    "train_interleave_datasets",
    "train_global_shuffle",
    "train_mixture_sample",
    # (lang × source)-bucket and len(CONTEXT_LENGTHS)-row reports,
    # dimension-sized presentation sorts
    "train_token_fertility",
    "train_context_length_fit",
    "train_pack_bpe",
    "train_pack_sequences",
    "train_profile_columns",
    "train_quality_resample",
    "train_stratified_sample",
    "train_test_split",
    "types_unsigned_decimal",
    "types_variant_json",
    "udtf_tokenize",
}

_GLOBAL_SORT_RE = r"Sort \[[^\]]*\], true, 0"


@pytest.mark.parametrize("name", sorted(set(_QUERIES) - _SKIP))
def test_plan_is_scale_safe(name, spark, sf_dir):
    import re

    df = _QUERIES[name](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, f"{name}: cartesian product:\n{plan}"
    if "BroadcastNestedLoopJoin" in plan:
        assert name in BNLJ_WHITELIST, (
            f"{name}: unexpected BroadcastNestedLoopJoin:\n{plan}"
        )
    if re.search(_GLOBAL_SORT_RE, plan):
        assert name in GLOBAL_SORT_DECLARED, (
            f"{name}: undeclared global (range-partitioned) sort:\n{plan}"
        )


@pytest.mark.parametrize(
    "name",
    [
        "dedup_connected_components",
        "dedup_keep_best",
        "train_decontaminate_trim",
    ],
)
def test_corpus_coupled_frames_carry_no_broadcast_hint(name, spark, sf_dir):
    """VERDICT r8 #1: these joins' small side is corpus-coupled — one row
    per duplicate CLUSTER (tens of millions on a dense-duplication web
    corpus) or one row per distinct EVAL gram (linear in the corpus under
    the 5% eval split). An unconditional broadcast hint overrides AQE's
    size guard and turns a working shuffle join into an OOM in exactly the
    regime the operator exists for. The pin: their analyzed plans carry NO
    join hint at all — broadcasting is AQE's measured runtime decision."""
    df = _QUERIES[name](spark, sf_dir)
    plan = df._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" not in plan, (
        f"{name}: unconditional join hint on a corpus-coupled frame:\n{plan}"
    )


@pytest.mark.parametrize(
    "name",
    ["join_broadcast_inner", "join_multiway", "snowset_selectivity_distribution"],
)
def test_dim_joins_broadcast(name, spark, sf_dir):
    df = _QUERIES[name](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, f"{name}: no broadcast hash join:\n{plan}"


def test_ntile_has_no_full_data_global_sort(spark, sf_dir):
    """window_ntile's r2 form put every customer row through one
    single-partition WindowExec. The r3 two-phase plan must rank the full
    data inside shard-partitioned windows; the only SinglePartition
    exchange allowed is the one over the tiny per-shard counts frame."""
    import re

    df = _QUERIES["window_ntile"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ntile(" not in plan  # bucket assignment is arithmetic now
    assert re.search(r"Window \[row_number\(\).*windowspecdefinition\(shard", plan), (
        f"local rank window not partitioned by shard:\n{plan}"
    )
    assert plan.count("Exchange SinglePartition") <= 1, (
        f"more than one single-partition exchange:\n{plan}"
    )
    # the full-data local-rank window must not require SinglePartition
    for line in plan.splitlines():
        if "row_number()" in line and "Window" in line:
            assert "shard" in line
