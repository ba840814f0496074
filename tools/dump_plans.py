"""Regenerate PLANS.md: the executed physical plan of each headline query.

Run: python tools/dump_plans.py
Evidence artifact for plan-shape review (pushdown, broadcast, partial aggs,
codegen) without needing a Spark session — regenerate after operator changes.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

HEADLINE = [
    "v1_flagship",
    "v1_footer_only_agg",
    "snowset_selectivity_distribution",
    "agg_pricing_summary",
    "join_multiway",
    "window_topk_per_group",
    "time_sessionize",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "sim_topk_lsh",
    "pipeline_training_data",
    "types_unsigned_decimal",
    "train_pack_sequences",
    "train_profile_columns",
    "agg_reaggregate",
    # r3 re-planned operators
    "window_ntile",
    "dedup_blocked_jaccard",
    # r3 additions
    "dedup_connected_components",
    "sim_knn_join",
    "train_contamination_check",
    "source_partitioned_scan",
    "train_mixture_sample",
    "events_funnel",
    # r4 additions / re-planned operators
    "dedup_shingle_containment",
    "events_retention_cohorts",
    "events_cumulative_users",
    "events_anomaly_mad",
    "train_bpe_pair_counts",
    "mm_image_decode",
    "source_orc_scan",
    # r5 additions / re-planned operators
    "snowset_retrieval_rate",
    "sim_range_search",
    "text_dedup_segments",
    "mm_audio_decode",
    "pipeline_curation_report",
    "join_bucketed_colocated",
    # r5 second-session additions
    "source_python_datasource",
    "sink_python_datasource",
    "time_ewma",
    "train_global_shuffle",
    # r5 third-session additions
    "sketch_countmin",
    "sketch_bloom_membership",
    "join_skew_salted",
    "dedup_incremental",
    "relational_merge_upsert",
    "sink_compaction",
    "sink_zorder_layout",
    "sketch_hll_distinct",
    "sketch_kmv_distinct",
    "pipeline_incremental_ingest",
    "time_ohlc_bars",
    "sketch_kmv_overlap",
    "source_dpp_star_join",
    "agg_bitmap_distinct",
    "relational_scd2_history",
    "events_markov_transitions",
    "agg_approx_percentile_sketch",
    "join_runtime_bloom_filtered",
    "sim_dedup_decisions",
    # r6 additions
    "text_quality_classifier",
    "train_quality_resample",
    # r7 additions (per-modality near-dup completion + quantized ANN)
    "dedup_image_phash",
    "dedup_audio_fingerprint",
    "dedup_video_fingerprint",
    "sim_topk_sq8",
    "sim_topk_ivf_sq8",
    # r7 session 3: semantic dedup + product quantization
    "dedup_semantic_clusters",
    "sim_topk_pq",
    # r7 session 4: IVF-PQ composition, the bigram-LM perplexity gate
    # (groupBy+join over the collapsed bigram frame — deliberately NOT
    # windows), the BPE merge loop
    "sim_topk_ivf_pq",
    "text_lm_perplexity",
    "train_bpe_merges",
    "sim_topk_ivf_mp",
    "train_bpe_encode",
    "text_duplicate_window_fraction",
    "sim_topk_prefix_rerank",
    "train_pack_bpe",
    "train_uniform_sample",
    # r8 additions
    "text_dedup_trim",
    "train_decontaminate_trim",
    "dedup_keep_best",
    # r9: the reference-width flagship (pushed filter + 5-agg over the
    # 92-column fixture — scan-only, the shuffle is one partial-agg row
    # per task), domain capping, and the threshold curve
    "v1_wide92_flagship",
    "train_source_cap",
    "dedup_threshold_curve",
    # r10: the MinHash estimator calibration (capped-candidate joins) and
    # the novel-trigram report (global term-frequency join pattern)
    "dedup_minhash_calibration",
    "text_ngram_novelty",
    # r10 continuation: regular-grid interpolation (events ∪ grid window)
    # and the stride-schedule interleave (two global_positions passes)
    "time_resample_interpolate",
    "train_interleave_datasets",
    "dedup_minhash_band_tuning",
    # r10 continuation: ANN recall evaluation (4 quantized variants vs
    # the exact baseline, one report)
    "sim_recall_report",
    # r10 continuation: character-entropy quality signal (two
    # map-side-combining exchanges, fixed-point integer logs)
    "text_char_entropy",
    # r11: fertility bucket totals over the BPE encode, the per-L
    # truncation/padding planning table (constant ×4 explode), and the
    # duplicate-cluster size distribution (components + two tiny aggs)
    "train_token_fertility",
    "train_context_length_fit",
    "dedup_cluster_size_histogram",
    # r11 continuation: fixed-bucket LTTB plot downsampling (centroid
    # aggregate + bucket-frame window + per-bucket argmax)
    "time_downsample_lttb",
    # r12 continuation: first-occurrence segment scrub (argmin collapse +
    # reassembly) and DSIR scoring (bucket-count pass at construction,
    # broadcast-λ scoring pass + TakeOrderedAndProject)
    "text_dedup_scrub",
    "train_dsir_resample",
    "train_drift_psi",
    "time_holt_trend",
]


def main() -> None:
    from parquet_near_storage_compute_spark.registry import all_queries
    from parquet_near_storage_compute_spark.session import get_spark

    spark = get_spark(master="local[4]")
    spark.sparkContext.setLogLevel("ERROR")
    qs = all_queries()
    sf = "/root/testdata/sf0.001"

    out = [
        "# PLANS — executed physical plans of the headline queries",
        "",
        "Auto-generated by `tools/dump_plans.py` (sf0.001, local[4]; plan",
        "shapes are scale-invariant). Things to look for: `PushedFilters` /",
        "`ReadSchema` on scans, `BroadcastHashJoin` on dim joins, paired",
        "partial/final `HashAggregate`, no `CartesianProduct`.",
        "",
    ]
    for name in HEADLINE:
        df = qs[name](spark, sf)
        plan = df._jdf.queryExecution().executedPlan().toString()
        out.append(f"## {name}\n\n```\n{plan.strip()}\n```\n")

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "PLANS.md"), "w") as fh:
        fh.write("\n".join(out))
    print("wrote PLANS.md")
    spark.stop()


if __name__ == "__main__":
    main()
