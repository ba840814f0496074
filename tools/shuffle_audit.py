"""Measured shuffle-volume audit: per headline query, the ACTUAL shuffle
bytes written, records shuffled, and stage count at sf0.1 — turning
SCALING.md's declarative shuffle-budget table into recorded evidence.

Method: queries run one at a time through the noop sink; stage metrics are
snapshotted from the local Spark UI REST API (``/api/v1/.../stages``,
enabled by default in local mode) before and after each run, and the delta
attributed to the query. Shuffle WRITE bytes are the exchange volume (read
≈ write in a healthy plan; a large read/write gap means retries/skew).

Run: PYTHONPATH=/root/repo python tools/shuffle_audit.py
Output: SHUFFLE_EVIDENCE.json at the repo root + one stderr JSON line.

The observable of interest at 100 TB: shuffle bytes as a FRACTION of input
bytes per operator family — operators whose exchanges carry aggregates
(flagship, pricing summary) should shuffle ~KBs regardless of input size;
operators that legitimately reshuffle row-level data (windows, dedup
signatures, global shuffle) should shuffle O(projected columns), never
O(full rows × stages).
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)  # runnable without PYTHONPATH, like dump_plans

#: The round-era headline set (core22 + r6 additions).
HEADLINE = [
    "v1_flagship",
    "v1_ladder_real",
    "snowset_selectivity_distribution",
    "snowset_retrieval_rate",
    "agg_pricing_summary",
    "agg_reaggregate",
    "join_broadcast_inner",
    "join_multiway",
    "join_range",
    "window_topk_per_group",
    "window_running_total",
    "time_tumbling_hourly",
    "time_sessionize",
    "time_json_extract",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "text_quality_scores",
    "text_token_counts",
    "sim_topk_bruteforce",
    "sim_topk_lsh",
    "mm_binary_metadata",
    "sketch_countmin",
    "relational_merge_upsert",
    "sink_zorder_layout",
    "source_python_datasource",
    "events_retention_cohorts",
    "pipeline_curation_report",
    "text_quality_classifier",
    "train_quality_resample",
    "train_global_shuffle",
    "time_ewma",
    "sim_knn_join",
    "sim_dedup_decisions",
    "time_ohlc_bars",
    # r7: per-modality near-dup (decode-once + single band join pinned
    # by the plan audit; shuffle volume is the distinct-hash frame)
    "dedup_image_phash",
    "dedup_audio_fingerprint",
    "dedup_video_fingerprint",
    "sim_topk_sq8",
    "sim_topk_ivf_sq8",
    # r7 session 3: cluster-bounded semantic dedup (shuffle volume is the
    # salted within-cell pair evidence) + PQ (codebook build aggregates)
    "dedup_semantic_clusters",
    "sim_topk_pq",
    # r7 session 4: IVF-PQ (assignment + code-table builds), the
    # bigram-LM gate (the bigram frame is the shuffle payload — three
    # hash exchanges of it) and the BPE loop (one corpus word shuffle +
    # six vocab-sized rounds)
    "sim_topk_ivf_pq",
    "text_lm_perplexity",
    "train_bpe_merges",
    "sim_topk_ivf_mp",
    "train_bpe_encode",
    "text_duplicate_window_fraction",
    "sim_topk_prefix_rerank",
    "train_pack_bpe",
    "train_uniform_sample",
    # r8: trim ops (shuffle volume = the collapsed (doc, window-hash)
    # frame + the per-doc position frame through the rolling-max window)
    # and keep-best (the CC label frame + the broadcast winner join)
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
    # r12 continuation: the segment-scrub argmin collapse (occurrence →
    # distinct-segment shuffle ratio is the law) and DSIR scoring (the
    # doc-keyed partial-agg exchange; the λ exchange is 1024 rows)
    "text_dedup_scrub",
    "train_dsir_resample",
    "train_drift_psi",
    "time_holt_trend",
]


def _stage_totals(ui: str, app: str) -> tuple[int, int, int]:
    """(shuffle_write_bytes, shuffle_write_records, n_completed_stages)
    across all completed stages of the app so far."""
    with urllib.request.urlopen(
        f"{ui}/api/v1/applications/{app}/stages?status=complete", timeout=10
    ) as resp:
        stages = json.load(resp)
    wb = sum(s.get("shuffleWriteBytes", 0) for s in stages)
    wr = sum(s.get("shuffleWriteRecords", 0) for s in stages)
    return wb, wr, len(stages)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")

    from parquet_near_storage_compute_spark.registry import all_queries
    from parquet_near_storage_compute_spark.session import get_spark

    spark = get_spark(
        app_name="pnsc-shuffle-audit",
        master=f"local[{cpus}]",
        conf={
            "spark.ui.enabled": "true",
            # keep every stage visible for the whole run
            "spark.ui.retainedStages": "20000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    ui = spark.sparkContext.uiWebUrl
    app = spark.sparkContext.applicationId
    if not ui:
        print("Spark UI disabled; cannot audit", file=sys.stderr)
        sys.exit(1)

    queries = all_queries()
    dfs = {n: queries[n](spark, sf_dir) for n in HEADLINE}

    # warm-up (plan caches, side-effect layouts) — excluded from metrics
    for n in HEADLINE:
        dfs[n].write.format("noop").mode("overwrite").save()
    time.sleep(1.0)  # let the UI ingest the last listener events

    input_bytes = sum(
        os.path.getsize(os.path.join(dp, f))
        for dp, _, fs in os.walk(sf_dir)
        for f in fs
    )

    out: dict = {"sf_dir": sf_dir, "corpus_bytes": input_bytes, "queries": {}}
    for n in HEADLINE:
        b0, r0, s0 = _stage_totals(ui, app)
        dfs[n].write.format("noop").mode("overwrite").save()
        time.sleep(0.3)
        b1, r1, s1 = _stage_totals(ui, app)
        out["queries"][n] = {
            "shuffle_write_bytes": b1 - b0,
            "shuffle_write_records": r1 - r0,
            "n_stages": s1 - s0,
        }

    path = os.path.join(REPO, "SHUFFLE_EVIDENCE.json")
    with open(path, "w") as fh:
        json.dump(out, fh, indent=1)
    print(json.dumps(out, separators=(",", ":")), file=sys.stderr)
    print(f"wrote {path}", file=sys.stderr)
    spark.stop()


if __name__ == "__main__":
    main()
