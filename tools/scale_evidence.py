"""Scale-evidence rungs (opt-in): re-run the skew-sensitive operators on a
REPS×-replicated corpus and measure the boundedness claims SCALING.md makes
— per-task (post-shuffle partition) row maxima, per-key fan-out maxima, and
overflow accounting — at 10× the data the per-round bench sees, plus a 30×
rung for the two heaviest families (dedup_minhash_lsh, sim_knn_join) that
confirms the bounds are FLAT in replication factor, not just satisfied at
one point (VERDICT r4 #8).

Replication law: rep r remaps doc_id/vec_id by +r·20 000 000 (a multiple of
EVAL_MOD, so train/eval classes are preserved) and suffixes text with
' r{r}' (r>0) — every document gains REPS near-identical copies, which is
precisely the adversarial regime the LSH bucket cap and the contamination
join-order guard exist for.

Measured queries: dedup_minhash_lsh, train_contamination_check,
sim_knn_join (VERDICT r3 #8; post-salt join-key volumes since round 5).

Run: python tools/scale_evidence.py
Output: SCALE_EVIDENCE.json at the repo root + one stderr JSON line.
"""

from __future__ import annotations

import json
import os
import sys
import time

import pyspark.sql.functions as F

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)  # runnable without PYTHONPATH, like shuffle_audit
REPS = int(os.environ.get("SPARK_GRAFT_SCALE_REPS", "10"))
#: Comma-separated list of higher rungs (e.g. "30,100").
HIGH_REPS = [
    int(x)
    for x in os.environ.get("SPARK_GRAFT_SCALE_HIGH_REPS", "30,100").split(",")
    if x.strip()
]
ID_STRIDE = 20_000_000  # multiple of EVAL_MOD: doc_id % 20 classes survive


def _replicate(spark, sf_dir: str, out_dir: str, n_reps: int) -> None:
    from parquet_near_storage_compute_spark.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    reps = None
    for r in range(n_reps):
        part = docs.select(
            (F.col("doc_id") + F.lit(r * ID_STRIDE)).alias("doc_id"),
            (
                F.col("text")
                if r == 0
                else F.concat(F.col("text"), F.lit(f" r{r}"))
            ).alias("text"),
            "lang",
            "source",
            "n_chars",
        )
        reps = part if reps is None else reps.unionByName(part)
    reps.repartition(32).write.mode("overwrite").parquet(
        os.path.join(out_dir, "documents.parquet")
    )

    emb = load_table(spark, sf_dir, "embeddings")
    ereps = None
    for r in range(n_reps):
        part = emb.select(
            (F.col("vec_id") + F.lit(r * ID_STRIDE)).alias("vec_id"),
            "embedding",
            "label",
        )
        ereps = part if ereps is None else ereps.unionByName(part)
    ereps.repartition(32).write.mode("overwrite").parquet(
        os.path.join(out_dir, "embeddings.parquet")
    )


def _replicate_tabular(spark, sf_dir: str, out_dir: str, n_reps: int) -> None:
    """Replicate lineitem/events/orders for the maintenance-family rungs
    (VERDICT r5 #7). Keys are strided so they stay unique; l_partkey and
    o_custkey are kept VERBATIM so the z-order partkey distribution and
    the DPP cust_mod partition fractions are scale-invariant."""
    import os

    from parquet_near_storage_compute_spark.tables import load_table

    if os.path.isdir(os.path.join(out_dir, "lineitem.parquet")):
        return
    for name, keys in (
        ("lineitem", ("l_orderkey",)),
        ("events", ("event_id",)),
        ("orders", ("o_orderkey",)),
    ):
        base = load_table(spark, sf_dir, name)
        reps = None
        for r in range(n_reps):
            part = base
            for k in keys:
                part = part.withColumn(k, F.col(k) + F.lit(r * ID_STRIDE))
            reps = part if reps is None else reps.unionByName(part)
        reps.repartition(32).write.mode("overwrite").parquet(
            os.path.join(out_dir, f"{name}.parquet")
        )


def _maintenance_section(spark, big: str, out: dict) -> dict:
    """z-order pruning asymmetry, compaction file math, DPP partition-hit
    ratio — measured at the replicated rung, not just at sf0.01."""
    import glob as _glob
    import hashlib
    import math
    import os

    import pyarrow.parquet as pq

    from parquet_near_storage_compute_spark.plans import metrics as M
    from parquet_near_storage_compute_spark.sources import io as src_io
    from parquet_near_storage_compute_spark.tables import load_table, table_path

    # --- z-order: planned-bytes asymmetry on the scaled layouts
    sec, _ = _timed(src_io.zorder_scan(spark, big))
    st = os.stat(table_path(big, "lineitem"))
    key = hashlib.md5(
        f"{big}:{st.st_mtime_ns}:{st.st_size}:{src_io._Z_ROW_GROUP_BYTES}".encode()
    ).hexdigest()[:12]
    (zfile,) = _glob.glob(
        os.path.join(src_io._TMP_DIR, f"zorder_{key}", "*.parquet")
    )
    (lfile,) = _glob.glob(
        os.path.join(src_io._TMP_DIR, f"linear_{key}", "*.parquet")
    )
    li = load_table(spark, big, "lineitem")
    maxes = li.agg(
        F.max("l_partkey").alias("pk"), F.max("l_orderkey").alias("ok")
    ).collect()[0]
    cols = ["l_orderkey", "l_partkey", "l_extendedprice"]
    pk_pred = [("l_partkey", "<", maxes.pk // 8)]
    z_full = M.planned_scan_bytes(zfile, cols, None)
    l_full = M.planned_scan_bytes(lfile, cols, None)
    zmeta = pq.ParquetFile(zfile).metadata
    out["sink_zorder_layout"] = {
        "sec": sec,
        "n_row_groups_zorder": zmeta.num_row_groups,
        # r7 (VERDICT r6 #6): the task/memory bound — the sized row groups
        # must stay flat in replication factor, growing in COUNT only
        "max_row_group_rows": max(
            zmeta.row_group(i).num_rows for i in range(zmeta.num_row_groups)
        ),
        "partkey_probe_planned_pct_zorder": round(
            100.0 * M.planned_scan_bytes(zfile, cols, pk_pred) / z_full, 1
        ),
        "partkey_probe_planned_pct_linear": round(
            100.0 * M.planned_scan_bytes(lfile, cols, pk_pred) / l_full, 1
        ),
    }

    # --- compaction: the bytes-per-file sizing math at scale
    sec, n_rows = _timed(src_io.compaction_sink(spark, big))
    st = os.stat(table_path(big, "events"))
    key = hashlib.md5(
        f"{big}:{st.st_mtime_ns}:{st.st_size}".encode()
    ).hexdigest()[:12]
    frag_files = _glob.glob(
        os.path.join(src_io._TMP_DIR, f"compact_frag_{key}", "*.parquet")
    )
    out_files = _glob.glob(
        os.path.join(src_io._TMP_DIR, f"compact_out_{key}", "*.parquet")
    )
    in_bytes = sum(os.path.getsize(p) for p in frag_files)
    out["sink_compaction"] = {
        "sec": sec,
        "in_files": len(frag_files),
        "in_bytes": in_bytes,
        "expected_out_files": max(
            1, math.ceil(in_bytes / src_io._COMPACT_TARGET_BYTES)
        ),
        "out_files": len(out_files),
        # r7: per-output-file row maximum — each compacted file is one
        # write task's frame, so this is the task-row bound
        "max_out_file_rows": max(
            pq.ParquetFile(p).metadata.num_rows for p in out_files
        ),
    }

    # --- DPP: measured partition-hit ratio (files actually opened under
    # the runtime-injected partition filter vs the full layout)
    sec, _ = _timed(src_io.dpp_star_join(spark, big))
    st = os.stat(table_path(big, "orders"))
    key = hashlib.md5(
        f"{big}:{st.st_mtime_ns}:{st.st_size}".encode()
    ).hexdigest()[:12]
    fact_dir = os.path.join(src_io._TMP_DIR, f"dpp_orders_{key}")
    total_parts = len(_glob.glob(os.path.join(fact_dir, "cust_mod=*")))
    total_files = len(
        _glob.glob(os.path.join(fact_dir, "cust_mod=*", "*.parquet"))
    )
    fact = src_io.read_parquet(spark, fact_dir)
    dim = (
        spark.range(10)
        .select(F.col("id").alias("cust_mod"), (F.col("id") * 2).alias("attr"))
        .filter(F.col("attr").isin(*src_io._DPP_ATTRS))
    )
    touched = (
        fact.join(dim, "cust_mod")
        .select(F.input_file_name().alias("f"))
        .distinct()
        .count()
    )
    out["source_dpp_star_join"] = {
        "sec": sec,
        "partitions_total": total_parts,
        "partitions_selected": len(src_io._DPP_ATTRS),
        "files_total": total_files,
        "files_read": touched,
        "files_read_pct": round(100.0 * touched / max(total_files, 1), 1),
        # r7: per-file row maximum across the partitioned fact layout —
        # the scan-task bound under the injected partition filter
        "max_fact_file_rows": max(
            pq.ParquetFile(p).metadata.num_rows
            for p in _glob.glob(
                os.path.join(fact_dir, "cust_mod=*", "*.parquet")
            )
        ),
    }
    return out


def _max_partition_rows(df) -> int:
    """Actual per-task row counts of the frame's final stage: the direct
    'max shuffle rows any single task held' observable."""
    rows = (
        df.groupBy(F.spark_partition_id().alias("pid"))
        .count()
        .agg(F.max("count").alias("mx"))
        .collect()
    )
    return int(rows[0].mx) if rows and rows[0].mx is not None else 0


def _timed(df) -> tuple[float, int]:
    t0 = time.perf_counter()
    n = df.count()
    return round(time.perf_counter() - t0, 2), n


def _modality_section(spark, out: dict, n_reps: int) -> dict:
    """dedup_video_fingerprint (the signature representative of the shared
    `_sig_neardup_decisions` algebra — image/audio are the 1-component
    case): replicate the fixture's PAYLOADS n_reps× under distinct ids —
    the exact re-crawl regime — and measure that distinct signatures,
    group-level verified pairs, and the kept set stay CONSTANT while
    output rows grow linearly. Pair work bounded by distinct-signature
    density is the family's whole 100 TB claim."""
    import pandas as pd

    from parquet_near_storage_compute_spark.operators import multimodal as M

    vids = spark.read.parquet(M.VID_DEDUP_FIXTURE).select("vid_id", "payload")
    reps = None
    for r in range(n_reps):
        part = vids.select(
            (F.col("vid_id") + F.lit(r * ID_STRIDE)).alias("vid_id"),
            "payload",
        )
        reps = part if reps is None else reps.unionByName(part)
    reps = reps.repartition(32)

    cols = [f"ph{i}" for i in range(M.VID_SAMPLED)]

    def hash_batch(batches):
        for pdf in batches:
            sigs = pdf["payload"].map(M.video_phash_sig)
            o = {"vid_id": pdf["vid_id"]}
            for i, c in enumerate(cols):
                o[c] = sigs.map(lambda s, i=i: s[i])
            yield pd.DataFrame(o)

    hashed = reps.mapInPandas(
        hash_batch, "vid_id bigint, " + ", ".join(f"{c} bigint" for c in cols)
    )
    dec = M._sig_neardup_decisions(hashed, "vid_id", cols, M.VID_FRAME_HAMMING)
    sec, n_rows = _timed(dec)
    n_kept = dec.filter("keep").count()
    groups = hashed.groupBy(*cols).agg(F.min("vid_id").alias("rep_id"))
    n_groups = groups.count()
    # group-level verified pairs: with distinct-signature density this low
    # the brute pair count IS the banded stage's upper bound (banding only
    # removes pairs)
    a = groups.select(*[F.col(c).alias(f"{c}_a") for c in cols], F.col("rep_id").alias("ra"))
    b = groups.select(*[F.col(c).alias(f"{c}_b") for c in cols], F.col("rep_id").alias("rb"))
    worst = F.greatest(
        *[F.bit_count(F.col(f"{c}_a").bitwiseXOR(F.col(f"{c}_b"))) for c in cols]
    )
    n_pairs = (
        a.crossJoin(b)
        .filter(F.col("ra") < F.col("rb"))
        .filter(worst <= M.VID_FRAME_HAMMING)
        .count()
    )
    out["dedup_video_fingerprint"] = {
        "sec": sec,
        "rows": n_rows,
        "n_assets": 37 * n_reps,
        "n_distinct_signatures": int(n_groups),
        "group_level_verified_pairs": int(n_pairs),
        "n_kept": int(n_kept),
        "max_task_rows_hash_stage": _max_partition_rows(hashed),
        "invariant": "signatures/pairs/kept constant in reps; rows linear",
    }
    return out


def run(
    spark,
    sf_dir: str,
    n_reps: int = REPS,
    skip_contamination: bool = False,
    include_maintenance: bool | None = None,
) -> dict:
    from parquet_near_storage_compute_spark.operators import dedup as D
    from parquet_near_storage_compute_spark.operators import (
        similarity as S,
        training as T,
    )

    big = os.path.join(REPO, ".tmp", f"scale_evidence_x{n_reps}")
    if not os.path.isdir(os.path.join(big, "documents.parquet")):
        _replicate(spark, sf_dir, big, n_reps)

    out: dict = {"reps": n_reps, "base_sf_dir": sf_dir}

    # maintenance family (VERDICT r5 #7): measured at the base rung every
    # run, and (VERDICT r6 #6) at the TOP high rung (100×) so the layout
    # bounds — sized row groups, per-file row maxima, partition-hit
    # fractions — are shown flat in replication factor, not just
    # satisfied at one point
    if include_maintenance is None:
        include_maintenance = not skip_contamination
    if include_maintenance:
        _replicate_tabular(spark, sf_dir, big, n_reps)
        _maintenance_section(spark, big, out)

    # modality dedup (r7): fixture-sized inputs, so run at every rung —
    # the point is the replication-invariance of the signature collapse
    _modality_section(spark, out, n_reps)

    # dedup_minhash_lsh: every doc now has REPS near-copies → buckets grow
    # REPS×; the cap must keep held ids ≤ SALT×(CAP+1) and route over-cap
    # buckets to overflow, never to pairs.
    docs = D.load_table(spark, big, "documents")
    buckets = D._banded_buckets(
        D._bands(D._minhash_signatures(docs)), ["band", "bh"]
    )
    sec, n_pairs = _timed(D._lsh_candidates(D._minhash_signatures(docs)))
    stats = buckets.agg(
        F.max("n_docs").alias("max_bucket"),
        F.max(F.size("ds")).alias("max_held_ids"),
        F.sum((F.col("n_docs") > D.LSH_BUCKET_CAP).cast("long")).alias(
            "n_over_cap"
        ),
    ).collect()[0]
    out["dedup_minhash_lsh"] = {
        "sec": sec,
        "pairs": n_pairs,
        "max_bucket_n_docs": int(stats.max_bucket),
        "max_held_ids_per_row": int(stats.max_held_ids),
        "held_ids_bound": D.LSH_MERGE_SALT * (D.LSH_BUCKET_CAP + 1),
        "over_cap_buckets_routed_to_overflow": int(stats.n_over_cap),
        "max_task_rows_bucket_stage": _max_partition_rows(buckets),
    }

    # train_contamination_check: the rare-gram cap must bound per-key eval
    # fan-out entering the big join to CONTAM_MAX_DF even though every gram
    # now appears in REPS× more docs.
    from parquet_near_storage_compute_spark.functions.text import (
        shingles,
        words,
    )

    # r9/r10 curation ops at EVERY rung (VERDICT r9 #3): source capping,
    # the threshold curve, and the r10 calibration/novelty/resample/
    # interleave ops
    _curation_section(spark, sf_dir, big, out, n_reps)

    if skip_contamination:
        return _knn_section(spark, S, big, out)

    _lm_bpe_section(spark, sf_dir, big, out)

    grams = docs.select(
        "doc_id",
        (F.col("doc_id") % T.EVAL_MOD == 0).alias("is_eval"),
        F.explode(
            F.array_distinct(F.expr(shingles(words("text"), T.CONTAM_NGRAM)))
        ).alias("gm"),
    )
    ev = grams.filter("is_eval").select("gm", F.col("doc_id").alias("eval_doc"))
    rare = (
        ev.groupBy("gm")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") <= T.CONTAM_MAX_DF)
        .select("gm")
    )
    ev_rare = ev.join(rare, "gm")
    fanout = ev_rare.groupBy("gm").count().agg(F.max("count")).collect()[0][0]
    sec, n_rows = _timed(T._contamination_report(docs))
    out["train_contamination_check"] = {
        "sec": sec,
        "rows": n_rows,
        "max_eval_fanout_per_gram": int(fanout or 0),
        "fanout_bound": T.CONTAM_MAX_DF,
        "max_task_rows_join_input": _max_partition_rows(ev_rare),
    }

    return _knn_section(spark, S, big, out)


def _lm_bpe_section(spark, sf_dir: str, big: str, out: dict) -> None:
    """r7 session 4 scale laws, measured base vs REPS×:

    - text_lm_perplexity: the LM (distinct-bigram) frame — the input to
      the conditional-count aggregations and the build side of the score
      join — must be ~flat under replication (replicas add only the
      ' r{n}' suffix bigrams), while the corpus-side per-(doc, bigram)
      frame grows linearly (it carries per-doc multiplicities, already
      collapsed map-side, so no hot-key task ever sees raw occurrences).
    - train_bpe_merges / train_bpe_encode: every merge round and the
      token-count build run over the distinct-word vocabulary — also
      ~flat under replication — so replication cost is confined to the
      ONE corpus word-count shuffle and (for encode) the final per-doc
      join."""
    from parquet_near_storage_compute_spark.functions.text import words
    from parquet_near_storage_compute_spark.operators import (
        textops as TX,
        training as T,
    )
    from parquet_near_storage_compute_spark.tables import fan_out, load_table

    def _stats(d: str) -> dict:
        docs = load_table(spark, d, "documents")
        ws = fan_out(docs).select("doc_id", F.expr(f"{words('text')} AS ws"))
        bg = (
            ws.select(
                "doc_id",
                F.explode(
                    F.arrays_zip(
                        F.slice("ws", 1, F.size("ws") - 1).alias("w1"),
                        F.slice(F.col("ws"), 2, F.size("ws") - 1).alias("w2"),
                    )
                ).alias("b"),
            )
            .select("doc_id", "b.w1", "b.w2")
        )
        return {
            "corpus_doc_bigram_rows": bg.groupBy(
                "doc_id", "w1", "w2"
            ).count().count(),
            "lm_distinct_bigrams": bg.select("w1", "w2").distinct().count(),
            "bpe_vocab_words": ws.select(F.explode("ws").alias("w"))
            .filter(F.length("w") >= 1)
            .distinct()
            .count(),
        }

    base_s, rep_s = _stats(sf_dir), _stats(big)
    lm_sec, lm_rows = _timed(TX.lm_perplexity(spark, big))
    bpe_sec = time.time()
    bpe_rows = T.bpe_merges(spark, big).count()
    bpe_sec = time.time() - bpe_sec
    enc_sec, enc_rows = _timed(T.bpe_encode(spark, big))
    out["text_lm_perplexity"] = {
        "sec": lm_sec,
        "rows": lm_rows,
        "base": base_s,
        "replicated": rep_s,
        "law": "LM table ~flat (replicas add only suffix bigrams); "
        "corpus side linear in collapsed (doc,bigram) rows",
    }
    out["train_bpe"] = {
        "merges_sec_incl_rounds": bpe_sec,
        "merge_rows": bpe_rows,
        "encode_sec": enc_sec,
        "encode_rows": enc_rows,
        "base_vocab": base_s["bpe_vocab_words"],
        "replicated_vocab": rep_s["bpe_vocab_words"],
        "law": "per-round aggregations and token-count build are "
        "vocab-sized (~flat); the corpus pays one word-count shuffle "
        "+ encode's per-doc join",
    }


def _ivf_dupwin_section(spark, big: str, out: dict) -> None:
    """r8 rungs (VERDICT r7 #5) for the remaining r7 centerpiece ops:

    - sim_topk_ivf_pq / sim_topk_ivf_mp: candidates scanned per probe.
      The inverted file is the partition key at 100 TB, so the claim is
      that a query touches exactly its probe cells (1 for IVF-PQ, NPROBE
      for multiprobe) and scans their occupancy — a ~nprobe/K_CLUSTERS
      fraction of the corpus, FLAT in replication factor even though the
      absolute occupancy grows linearly.
    - text_duplicate_window_fraction / text_dedup_trim: the window-hash
      shuffle. The per-(doc, window-hash) collapse is the only
      corpus-sized shuffle; its key is (doc, hash) so there is no hot
      key (max task rows ~ rows / shuffle partitions), and the
      distinct-window frame that re-aggregates occurrence counts stays
      ~flat under replication (replicas duplicate windows; only the
      ' r{n}' suffix boundary windows are new)."""
    from parquet_near_storage_compute_spark.functions.text import (
        shingles,
        words,
    )
    from parquet_near_storage_compute_spark.operators import (
        similarity as S,
        textops as TX,
    )
    from parquet_near_storage_compute_spark.tables import fan_out, load_table

    emb = load_table(spark, big, "embeddings")
    ranked = S._ranked_cells(emb, S.NPROBE).select("vec_id", "cell", "crk")
    inv = ranked.filter(F.col("crk") == 1)
    n_vec = inv.count()
    hist = inv.groupBy("cell").count()
    cstats = hist.agg(
        F.max("count").alias("mx"), F.count(F.lit(1)).alias("n_cells")
    ).collect()[0]
    q = ranked.filter(F.col("vec_id") < S.N_QUERIES)
    per_q = (
        q.join(hist, "cell").groupBy("vec_id").agg(F.sum("count").alias("c"))
    )
    mp = per_q.agg(F.avg("c").alias("avg"), F.max("c").alias("mx")).collect()[0]
    home = (
        q.filter(F.col("crk") == 1)
        .join(hist, "cell")
        .agg(F.avg("count").alias("avg"), F.max("count").alias("mx"))
        .collect()[0]
    )
    out["sim_topk_ivf_probe_volume"] = {
        "n_vectors": int(n_vec),
        "n_cells": int(cstats.n_cells),
        "max_cell_occupancy": int(cstats.mx),
        # single-probe (sim_topk_ivf_pq): the query scans its home cell
        "ivf_pq_candidates_per_query_avg": round(float(home.avg), 1),
        "ivf_pq_candidates_per_query_max": int(home.mx),
        "ivf_pq_corpus_fraction": round(float(home.avg) / n_vec, 4),
        # multiprobe (sim_topk_ivf_mp): NPROBE cells
        "nprobe": S.NPROBE,
        "ivf_mp_candidates_per_query_avg": round(float(mp.avg), 1),
        "ivf_mp_candidates_per_query_max": int(mp.mx),
        "ivf_mp_corpus_fraction": round(float(mp.avg) / n_vec, 4),
        "law": "cells touched constant (1 / NPROBE); candidates per query "
        "= probed-cell occupancy, a ~nprobe/K fraction of the corpus — "
        "flat in replication factor",
    }

    docs = load_table(spark, big, "documents")
    wins = (
        fan_out(docs)
        .select(
            "doc_id",
            F.explode(
                F.expr(shingles(words("text"), TX.TEXT_DUP_WINDOW))
            ).alias("gm"),
        )
        .select("doc_id", F.md5("gm").alias("h"))
    )
    per_doc_h = wins.groupBy("doc_id", "h").agg(F.count(F.lit(1)).alias("m"))
    collapsed_rows = per_doc_h.count()
    sec, n_rows = _timed(TX.duplicate_window_fraction(spark, big))
    out["text_duplicate_window_fraction"] = {
        "sec": sec,
        "rows": n_rows,
        "collapsed_doc_window_rows": int(collapsed_rows),
        "max_task_rows_window_shuffle": _max_partition_rows(per_doc_h),
        "distinct_windows": int(
            per_doc_h.select("h").distinct().count()
        ),
        "law": "collapsed (doc, window-hash) frame linear in corpus, "
        "keyed hot-key-free; occurrence re-agg is distinct-window-sized "
        "(~flat under replication); text_dedup_trim shares this frame "
        "plus a per-doc rolling-max cover pass",
    }


def _curation_section(
    spark, sf_dir: str, big: str, out: dict, n_reps: int
) -> None:
    """r9/r10 curation-op scale laws (VERDICT r9 #3), measured at every
    rung so the bounds are shown FLAT (or capped) in replication factor:

    - train_source_cap: the kept set is a pure key function, so output
      rows stay at Σ_s min(CAP, n_s) no matter the replication; phase 1
      ranks within (source, salt), so its largest sort task holds
      ~max_s n_s / SALT rows — recorded next to the naive single-window
      counterfactual (max_s n_s, what a plain row_number over source
      would put in ONE task).
    - dedup_threshold_curve: the expensive verify join runs over exactly
      the capped LSH candidate set (recorded), never all-pairs; the
      report itself is ≤ 11 decile rows at any scale.
    - dedup_minhash_calibration (r10): the same candidate-set bound — the
      cells PARTITION the candidates (Σ n_pairs == |candidates|) and the
      table is ≤ (MINHASH_K-1)·11 cells at any scale.
    - text_ngram_novelty (r10): the gram join is linear — its input is
      the distinct (doc, gram) explode; the gram-frequency shuffle
      carries one row per DISTINCT gram (map-side combined), which under
      replication grows only by the ' r{n}' suffix grams.
    - time_resample_interpolate (r10 continuation): replication strides
      event_id but keeps user_id AND timestamps verbatim — the event
      RATE grows n_reps× while every user's span is unchanged — so the
      grid row count must stay CONSTANT (grid volume = users × span/STEP,
      independent of event rate); the per-user window bound is its
      events + its slots.
    - train_interleave_datasets (r10 continuation): both corpus-scale
      total orders run through global_positions range shards (~n/shards
      rows per ranking task), recorded against the naive per-source
      window counterfactual (the whole hottest domain in ONE task).
    """
    from parquet_near_storage_compute_spark.functions.text import (
        shingles,
        words,
    )
    from parquet_near_storage_compute_spark.operators import (
        dedup as D,
        textops as TX,
        training as T,
    )
    from parquet_near_storage_compute_spark.tables import fan_out, load_table

    docs = load_table(spark, big, "documents")

    d = docs.select("doc_id", "source")
    slice_rows = d.groupBy(
        "source",
        F.pmod(F.hash("doc_id"), F.lit(T.SOURCE_CAP_SALT)).alias("_salt"),
    ).count()
    max_slice = slice_rows.agg(F.max("count")).collect()[0][0]
    max_domain = (
        d.groupBy("source").count().agg(F.max("count")).collect()[0][0]
    )
    sec, n_rows = _timed(T.source_cap(spark, big))
    out["train_source_cap"] = {
        "sec": sec,
        "rows": n_rows,
        "max_phase1_task_rows": int(max_slice or 0),
        "naive_single_window_max_task_rows": int(max_domain or 0),
        "salt": T.SOURCE_CAP_SALT,
        "law": "output rows invariant (pure key function); phase-1 sort "
        "task bound ~ max domain / SALT vs the naive window's whole "
        "domain in one task",
    }

    cand = D._lsh_candidates(D._minhash_signatures(docs))
    n_cand = cand.count()
    sec, n_rows = _timed(D.threshold_curve(spark, big))
    out["dedup_threshold_curve"] = {
        "sec": sec,
        "rows": n_rows,
        "verify_join_pairs": int(n_cand),
        "law": "one verify join over the capped LSH candidates answers "
        "every threshold; report ≤ 11 decile rows at any scale",
    }

    sec, n_rows = _timed(D.minhash_calibration(spark, big))
    out["dedup_minhash_calibration"] = {
        "sec": sec,
        "cells": n_rows,
        "cell_bound": (D.MINHASH_K - 1) * 11,
        "verify_join_pairs": int(n_cand),
        "law": "cells partition the capped candidate set (Σ n_pairs == "
        "|candidates|, pinned by tests/test_r10_ops.py); table stays "
        "dimension-sized at any scale",
    }

    sec, n_rows = _timed(D.minhash_band_tuning(spark, big))
    out["dedup_minhash_band_tuning"] = {
        "sec": sec,
        "rows": n_rows,
        "row_bound": len(D.BAND_CONFIGS) * 11,
        "verify_join_pairs": int(n_cand),
        "law": "same capped verify join as calibration (the agreement "
        "pattern rides along); every tightening config evaluated from "
        "the ONE materialized candidate set; report ≤ configs × 11 rows",
    }

    sh = fan_out(docs).select(
        "doc_id",
        F.expr(f"explode(array_distinct({shingles(words('text'), 3)})) AS s"),
    )
    n_doc_gram = sh.count()
    n_gram = sh.select("s").distinct().count()
    sec, n_rows = _timed(TX.ngram_novelty(spark, big))
    out["text_ngram_novelty"] = {
        "sec": sec,
        "rows": n_rows,
        "doc_gram_join_rows": int(n_doc_gram),
        "distinct_gram_shuffle_rows": int(n_gram),
        "law": "join input linear in corpus (distinct doc-gram pairs); "
        "gram-frequency shuffle one row per distinct gram (map-side "
        "combined), ~flat under replication modulo suffix grams",
    }

    # --- r10 continuation: interpolation resampling over replicated
    # events (event_id strided, user_id + timestamps VERBATIM → event
    # rate ×reps at constant span)
    import os as _os

    from parquet_near_storage_compute_spark.operators import timeseries as TS

    ev_path = _os.path.join(big, "events.parquet")
    base_ev = load_table(spark, sf_dir, "events")
    expected_rows = base_ev.count() * n_reps
    # ADVICE r10: an existing replication may have been built at a
    # DIFFERENT n_reps (rung rerun against the same directory) — validate
    # the row count before reusing, rebuild on mismatch.
    if (
        not _os.path.isdir(ev_path)
        or spark.read.parquet(ev_path).count() != expected_rows
    ):
        reps = None
        for r in range(n_reps):
            part = base_ev.withColumn(
                "event_id", F.col("event_id") + F.lit(r * ID_STRIDE)
            )
            reps = part if reps is None else reps.unionByName(part)
        reps.repartition(32).write.mode("overwrite").parquet(ev_path)
    ev = load_table(spark, big, "events")
    per_user = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        (
            F.max(F.unix_timestamp("ts")) / TS.RESAMPLE_SEC
            - F.min(F.unix_timestamp("ts")) / TS.RESAMPLE_SEC
            + 1
        ).cast("long").alias("max_slots"),
    )
    peaks = per_user.agg(
        F.max("n").alias("hot_user_events"),
        F.max(F.col("n") + F.col("max_slots")).alias("max_window_rows"),
        F.count(F.lit(1)).alias("n_users"),
    ).collect()[0]
    sec, n_rows = _timed(TS.resample_interpolate(spark, big))
    out["time_resample_interpolate"] = {
        "sec": sec,
        "grid_rows": n_rows,
        "events_rows": ev.count(),
        "n_users": int(peaks.n_users),
        "hot_user_events": int(peaks.hot_user_events),
        "max_user_window_rows": int(peaks.max_window_rows),
        "law": "grid rows = users × span/STEP — CONSTANT in event-rate "
        "replication (user spans verbatim); per-user window bound = its "
        "events + its slots",
    }

    # --- r10 continuation: the stride interleave's ranking tasks stay
    # range-shard-bounded; the naive per-source window counterfactual
    # would sort the whole hottest domain in one task
    from parquet_near_storage_compute_spark.operators.windows import (
        NTILE_SHARDS,
    )

    draw = F.md5(F.concat(F.lit("il:"), F.col("doc_id").cast("string")))
    sharded = d.select("doc_id", "source", draw.alias("draw")).repartitionByRange(
        NTILE_SHARDS, F.col("source"), F.col("draw"), F.col("doc_id")
    )
    sec, n_rows = _timed(T.interleave_datasets(spark, big))
    out["train_interleave_datasets"] = {
        "sec": sec,
        "rows": n_rows,
        "max_rank_task_rows": _max_partition_rows(sharded),
        "naive_source_window_max_task_rows": int(max_domain or 0),
        "shards": NTILE_SHARDS,
        "law": "both total orders rank inside range shards (~n/shards "
        "rows per task); the naive per-source window serializes the "
        "hottest domain into one task",
    }

    # --- r11: char entropy (the r10 op without a rung — VERDICT r10 #2
    # done-criterion) plus the three r11 curation operators.
    chars_stats = docs.agg(
        F.sum(F.length("text")).alias("corpus_chars"),
        F.count(F.lit(1)).alias("n_docs"),
    ).collect()[0]
    count_rows = (
        fan_out(docs)
        .filter(F.length("text") >= 1)
        .select("doc_id", F.explode(F.split("text", "")).alias("ch"))
        .filter(F.col("ch") != "")
        .groupBy("doc_id", "ch")
        .count()
        .count()
    )
    sec, n_rows = _timed(TX.char_entropy(spark, big))
    out["text_char_entropy"] = {
        "sec": sec,
        "rows": n_rows,
        "corpus_chars": int(chars_stats.corpus_chars),
        "count_shuffle_rows": int(count_rows),
        "law": "one linear split-explode over corpus chars (the r11 fix "
        "— the substr form was quadratic per doc); the count shuffle "
        "carries ≤ docs × alphabet rows (map-side combined), independent "
        "of document LENGTH",
    }

    # fertility: bucket keys are (lang, source), kept VERBATIM by the
    # replication — the report must stay the SAME size at every rung;
    # the encode's join side is the distinct-word vocabulary (sublinear:
    # replication adds only ' r{n}' suffix words)
    n_vocab = (
        fan_out(docs)
        .select(F.explode(F.split("text", " ")).alias("w"))
        .filter(F.length("w") >= 1)
        .distinct()
        .count()
    )
    sec, n_rows = _timed(T.token_fertility(spark, big))
    out["train_token_fertility"] = {
        "sec": sec,
        "bucket_rows": n_rows,
        "vocab_rows": int(n_vocab),
        "law": "report rows = |lang × source| — constant under "
        "replication; the encode joins the corpus against the "
        "vocabulary (sublinear), never corpus × corpus",
    }

    sec, n_rows = _timed(T.context_length_fit(spark, big))
    out["train_context_length_fit"] = {
        "sec": sec,
        "rows": n_rows,
        "explode_rows": int(chars_stats.n_docs) * len(T.CONTEXT_LENGTHS),
        "law": "constant ×len(CONTEXT_LENGTHS) pre-aggregate explode, "
        "map-side combined into exactly len(CONTEXT_LENGTHS) groups; "
        "report rows constant at any scale",
    }

    # LTTB (r11 continuation): replication strides event_id but keeps
    # user_id + timestamps VERBATIM (rate ×reps, constant span) — the
    # output (one row per non-empty (user, bucket)) must stay CONSTANT
    # across rungs while the per-bucket argmax partition grows ×reps
    max_bucket_pts = (
        ev.groupBy(
            "user_id",
            F.expr(f"unix_timestamp(ts) div {TS.LTTB_BUCKET_SEC}"),
        )
        .count()
        .agg(F.max("count"))
        .collect()[0][0]
    )
    sec, n_rows = _timed(TS.downsample_lttb(spark, big))
    out["time_downsample_lttb"] = {
        "sec": sec,
        "rows": n_rows,
        "events_rows": ev.count(),
        "max_bucket_points": int(max_bucket_pts or 0),
        "law": "output rows = non-empty (user, bucket) pairs — CONSTANT "
        "in event-rate replication (spans verbatim); the argmax window "
        "partition is ONE bucket's points (per-key bounded, the OHLC "
        "bound); centroid aggregate map-side combined",
    }

    # cluster histogram: bounded by the same capped LSH candidate graph
    # as the components op; the report is one row per DISTINCT size
    n_clustered = D.propagate_min_labels(
        D._lsh_candidates(D._minhash_signatures(docs)).localCheckpoint()
    ).count()
    sec, n_rows = _timed(D.cluster_size_histogram(spark, big))
    out["dedup_cluster_size_histogram"] = {
        "sec": sec,
        "rows": n_rows,
        "clustered_docs": int(n_clustered),
        "verify_join_pairs": int(n_cand),
        "law": "label propagation over the capped candidate graph "
        "(shared with connected components); report = one row per "
        "distinct cluster size; Σ n_docs partitions the corpus exactly",
    }


def _knn_section(spark, S, big: str, out: dict) -> dict:
    _ivf_dupwin_section(spark, big, out)
    # sim_knn_join: since round 6 (second iteration) exact-duplicate
    # vectors collapse to value groups BEFORE pair work and the member
    # graph is reconstructed exactly, so rep-level pair volume depends on
    # DISTINCT vectors only (duplication-invariant) and the result is
    # bit-identical to the uncapped member-level graph whenever the
    # distinct-density cap doesn't bind (measured: edge recall 100% at
    # 10x, vs 15% for the superseded member-level pilot cap). Record the
    # group counts, rep-level pair volume (vs the member-level b**2
    # counterfactual), and the bounded expansion width.
    v = S._vectors(spark, big).withColumn(
        "bucket", F.expr(S.lsh_bucket("v", S._PLANES))
    )
    hist = v.groupBy("bucket").count()
    max_bucket = hist.agg(F.max("count")).collect()[0][0]
    uncapped_total = (
        hist.select((F.col("count") * F.col("count")).alias("v2"))
        .agg(F.sum("v2"))
        .collect()[0][0]
    )
    groups = S._value_groups(v)
    reps = groups.select(F.col("rep_id").alias("vec_id"), "v", "nrm", "bucket")
    n_groups = reps.count()
    ghist = reps.groupBy("bucket").count()
    rep_pairs = (
        ghist.select((F.col("count") * F.col("count")).alias("g2"))
        .agg(F.sum("g2"))
        .collect()[0][0]
    )
    max_bucket_groups = ghist.agg(F.max("count")).collect()[0][0]

    # sim_dedup_decisions (r6): the duplicate collapse makes pair work a
    # function of DISTINCT vectors only — reps stays at the base corpus
    # count no matter the replication factor
    dsec, d_rows = _timed(S.embedding_dedup_decisions(spark, big))
    out["sim_dedup_decisions"] = {
        "sec": dsec,
        "rows": d_rows,
        "distinct_vector_reps_on_pair_side": int(n_groups),
    }

    # dedup_semantic_clusters (r7 session 3): same collapse law — the
    # within-cell pair join runs over distinct VALUES, so replication
    # grows members (and with them the linear rank-window tasks) REPS×
    # while the pair volume stays at the base corpus's distinct-pair
    # count.  Record both sides of that claim.
    from parquet_near_storage_compute_spark.tables import fan_out, load_table
    from parquet_near_storage_compute_spark.functions.vectors import (
        as_double,
        norm as vnorm,
    )

    emb = load_table(spark, big, "embeddings")
    vv = fan_out(emb).select(
        "vec_id", F.expr(f"{as_double('embedding')} AS v")
    )
    gg = vv.groupBy("v").agg(F.count(F.lit(1)).alias("m"))
    gstats = gg.agg(
        F.count(F.lit(1)).alias("n_groups"), F.max("m").alias("max_group")
    ).collect()[0]
    ssec, s_rows = _timed(S.semantic_dedup(spark, big))
    out["dedup_semantic_clusters"] = {
        "sec": ssec,
        "rows": s_rows,
        "n_value_groups_on_pair_side": int(gstats.n_groups),
        "max_rank_window_task_rows": int(gstats.max_group),
        "pair_volume": "distinct-value pairs per cell — duplication-"
        "invariant; member pass linear (rank window per multi-member "
        "group)",
    }

    sec, n_rows = _timed(S.knn_join(spark, big))
    out["sim_knn_join"] = {
        "sec": sec,
        "rows": n_rows,
        "max_lsh_bucket_members": int(max_bucket or 0),
        "member_level_pair_counterfactual": int(uncapped_total or 0),
        "n_value_groups": int(n_groups),
        "max_bucket_groups": int(max_bucket_groups or 0),
        "rep_level_pairs": int(rep_pairs or 0),
        "expansion_rows_per_member_bound": S.KNN_GROUP_FANOUT * S.KNN_GROUP_IDS,
        "knn_salt": S.KNN_SALT,
        "knn_bucket_cap_on_groups": S.KNN_BUCKET_CAP,
        "knn_pilot_groups": S.KNN_PILOT,
        "exact_vs_member_level": "bit-identical while the group cap is "
        "unbound (tests/test_knn_occupancy_cap.py; measured edge recall "
        "100% at 10x)",
    }
    return out


def run_text_rung(spark, sf_dir: str, n_reps: int) -> dict:
    """One extra rung for the two steepest text shuffle laws (VERDICT r11
    #5): `text_dedup_trim` (its window frame is inherently corpus-sized —
    Lee et al. semantics) and `text_char_entropy` (docs × alphabet count
    shuffle). Replicates ONLY the documents table (same ' r{n}' suffix
    scheme as `_replicate`, built with one lateral range join instead of
    an n-way union so a 300× plan stays shallow) and records the same
    observables the 10×/30×/100× rungs carry, so the fitted exponent
    rests on more than two points past the knee."""
    from parquet_near_storage_compute_spark.functions.text import (
        shingles,
        words,
    )
    from parquet_near_storage_compute_spark.operators import textops as TX
    from parquet_near_storage_compute_spark.tables import fan_out, load_table

    big = os.path.join(REPO, ".tmp", f"scale_evidence_text_x{n_reps}")
    if not os.path.isdir(os.path.join(big, "documents.parquet")):
        docs = load_table(spark, sf_dir, "documents")
        reps = docs.crossJoin(
            spark.range(n_reps).select(F.col("id").alias("_r"))
        ).select(
            (F.col("doc_id") + F.col("_r") * ID_STRIDE).alias("doc_id"),
            F.when(F.col("_r") == 0, F.col("text"))
            .otherwise(F.concat(F.col("text"), F.lit(" r"), F.col("_r")))
            .alias("text"),
            "lang",
            "source",
            "n_chars",
        )
        reps.repartition(32).write.mode("overwrite").parquet(
            os.path.join(big, "documents.parquet")
        )

    out: dict = {"reps": n_reps, "base_sf_dir": sf_dir}
    docs = load_table(spark, big, "documents")

    # text_dedup_trim measured DIRECTLY (the earlier rungs measured its
    # shared window frame via text_duplicate_window_fraction)
    wins = (
        fan_out(docs)
        .select(
            "doc_id",
            F.expr(f"explode({shingles(words('text'), TX.TEXT_DUP_WINDOW)}) AS gm"),
        )
        .select("doc_id", F.md5("gm").alias("h"))
    )
    per_doc_h = wins.groupBy("doc_id", "h").agg(F.count(F.lit(1)).alias("m"))
    collapsed_rows = per_doc_h.count()
    sec, n_rows = _timed(TX.dedup_trim(spark, big))
    out["text_dedup_trim"] = {
        "sec": sec,
        "rows": n_rows,
        "collapsed_doc_window_rows": int(collapsed_rows),
        "max_task_rows_window_shuffle": _max_partition_rows(per_doc_h),
        "law": "collapsed (doc, window-hash) frame linear in corpus "
        "(corpus-proportional by the Lee et al. semantics), hot-key-free; "
        "cover pass per doc",
    }

    chars_stats = docs.agg(
        F.sum(F.length("text")).alias("corpus_chars"),
        F.count(F.lit(1)).alias("n_docs"),
    ).collect()[0]
    count_rows = (
        fan_out(docs)
        .filter(F.length("text") >= 1)
        .select("doc_id", F.explode(F.split("text", "")).alias("ch"))
        .filter(F.col("ch") != "")
        .groupBy("doc_id", "ch")
        .count()
        .count()
    )
    sec, n_rows = _timed(TX.char_entropy(spark, big))
    out["text_char_entropy"] = {
        "sec": sec,
        "rows": n_rows,
        "corpus_chars": int(chars_stats.corpus_chars),
        "count_shuffle_rows": int(count_rows),
        "law": "one linear split-explode over corpus chars; count shuffle "
        "≤ docs × alphabet rows, independent of document LENGTH",
    }
    return out


def run_r12_rung(spark, sf_dir: str, n_reps: int) -> dict:
    """Scale rungs for the r12 operators (reusing the standard
    `_replicate` corpora):

    - `sim_mmr_select`: the law is STRUCTURAL — the candidate pool is
      capped at MMR_POOL and the output at MMR_K no matter the corpus;
      only the relevance top-POOL pass (TakeOrderedAndProject) is
      corpus-sized. Replication also plants exact query-duplicates
      (replicas share embeddings), the degenerate-relevance case.
    - `stream_minhash_ingest`: replicas are ≥ 0.5-Jaccard near-dups of
      their base (the ' r{n}' suffix adds one shingle: J = (n−2)/(n−1)),
      and ID_STRIDE ≡ 0 (mod MINHASH_INGEST_BATCHES) lands every replica
      in its base's batch slot — so the ACCEPTED state must stay
      ~base-corpus-sized while the input grows ×reps: the admission
      operator's whole claim. Per-batch join cost is bounded by the
      (bounded) state, not the input."""
    from parquet_near_storage_compute_spark.operators import similarity as S
    from parquet_near_storage_compute_spark.streaming import stream_ops as SO
    from parquet_near_storage_compute_spark.tables import load_table

    big = os.path.join(REPO, ".tmp", f"scale_evidence_x{n_reps}")
    if not os.path.isdir(os.path.join(big, "documents.parquet")):
        _replicate(spark, sf_dir, big, n_reps)

    out: dict = {"reps": n_reps, "base_sf_dir": sf_dir}

    t0 = time.perf_counter()
    mmr = S.mmr_select(spark, big)
    rows = mmr.count()
    out["sim_mmr_select"] = {
        "sec": round(time.perf_counter() - t0, 2),
        "rows": int(rows),
        "pool_cap": S.MMR_POOL,
        "law": "output = MMR_K and pool ≤ MMR_POOL at any corpus size; "
        "only the relevance top-POOL pass is corpus-sized",
    }

    n_docs = load_table(spark, big, "documents").count()
    t0 = time.perf_counter()
    ing = SO.minhash_ingest(spark, big)
    accepted = ing.count()
    out["stream_minhash_ingest"] = {
        "sec": round(time.perf_counter() - t0, 2),
        "input_docs": int(n_docs),
        "accepted": int(accepted),
        "law": "replicas are ≥0.5-Jaccard near-dups in their base's "
        "batch slot → accepted state stays ~base-corpus-sized while "
        "input grows ×reps; per-batch state join bounded by the state",
    }

    # continuation-session operators (same replicated corpus):
    # text_dedup_scrub — replicas only mutate the LAST segment (the
    # ' r{n}' suffix lands inside the final 10-word block), so the kept
    # total must track NOVEL segments (≈ base + (reps−1)·docs), far
    # below the ×reps occurrence growth: the argmin collapse law.
    from parquet_near_storage_compute_spark.operators import textops as TX

    t0 = time.perf_counter()
    scrub = TX.dedup_scrub(spark, big)
    stats = scrub.agg(
        F.sum("n_kept").alias("kept"), F.sum("n_segments").alias("occ")
    ).collect()[0]
    out["text_dedup_scrub"] = {
        "sec": round(time.perf_counter() - t0, 2),
        "rows": int(n_docs),
        "segments_total": int(stats["occ"]),
        "segments_kept": int(stats["kept"]),
        "law": "occurrences grow ×reps but kept ≈ base + (reps−1)·docs "
        "(only the suffix-mutated final segments are novel) — the "
        "map-side-combinable argmin collapses duplicates before the "
        "exchange",
    }

    # train_dsir_resample — structural law like sim_mmr_select: the λ
    # table is DSIR_DIM rows and the report DSIR_TOPK rows at ANY corpus
    # size; both corpus passes are narrow maps + combinable aggregates.
    from parquet_near_storage_compute_spark.operators import training as TR

    t0 = time.perf_counter()
    dsir = TR.dsir_resample(spark, big)
    rows = dsir.count()
    out["train_dsir_resample"] = {
        "sec": round(time.perf_counter() - t0, 2),
        "rows": int(rows),
        "lambda_table_rows": TR.DSIR_DIM,
        "law": "λ table fixed at DSIR_DIM rows and output at DSIR_TOPK "
        "at any corpus size; the corpus sees one combinable bucket-count "
        "aggregate and one broadcast-join scoring pass",
    }

    # train_drift_psi — structural law: the count table is ≤ PSI_BUCKETS
    # rows at any corpus size; one combinable corpus pass, then
    # dimension-sized arithmetic (the shared fixed-point log2 chain).
    t0 = time.perf_counter()
    psi = TR.drift_psi(spark, big)
    psi_rows = psi.count()
    out["train_drift_psi"] = {
        "sec": round(time.perf_counter() - t0, 2),
        "rows": int(psi_rows),
        "bucket_cap": TR.PSI_BUCKETS,
        "law": "count table ≤ PSI_BUCKETS rows at any corpus size; one "
        "combinable bucket pass, then dimension-sized log2 arithmetic",
    }

    # time_holt_trend — replicated events multiply EVENTS per bucket but
    # not buckets (user_id and ts verbatim), so the per-user fold input
    # (bucket means) is CONSTANT while the corpus grows ×reps: the
    # calendar-bounded-state law. (Uses the tabular replication below.)
    from parquet_near_storage_compute_spark.operators import timeseries as TS

    _replicate_tabular(spark, sf_dir, big, n_reps)
    t0 = time.perf_counter()
    ht = TS.holt_trend(spark, big)
    ht_stats = ht.agg(
        F.count(F.lit(1)).alias("users"), F.max("n_buckets").alias("maxb")
    ).collect()[0]
    out["time_holt_trend"] = {
        "sec": round(time.perf_counter() - t0, 2),
        "users": int(ht_stats["users"]),
        "max_buckets_per_user": int(ht_stats["maxb"]),
        "law": "fold input = bucket means (users × calendar buckets), "
        "constant under event replication; only the combinable "
        "(user, bucket) mean aggregate sees the corpus",
    }

    # events_pagerank — replicated events (strided event_id, verbatim
    # user_id: replicas interleave into the same user timelines, pairs
    # grow ×reps) while the transition matrix stays ≤ types² and the
    # driver state ≤ N²+N rows: the bounded-probe law.
    from parquet_near_storage_compute_spark.operators import timeseries as TS

    _replicate_tabular(spark, sf_dir, big, n_reps)
    n_events = load_table(spark, big, "events").count()
    t0 = time.perf_counter()
    pr = TS.pagerank(spark, big)
    n_nodes = pr.count()
    out["events_pagerank"] = {
        "sec": round(time.perf_counter() - t0, 2),
        "input_events": int(n_events),
        "nodes": int(n_nodes),
        "law": "transition matrix ≤ types² and driver state ≤ N²+N rows "
        "at any event volume; the corpus sees one lag-window pass + one "
        "combinable matrix aggregate",
    }
    return out


def main() -> None:
    from parquet_near_storage_compute_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_spark(
        app_name="pnsc-scale-evidence",
        master=f"local[{cpus}]",
        conf={
            # the 100× maintenance rung (VERDICT r6 #6) global-sorts a
            # ~60M-row replicated lineitem; the 1g default heap OOMs there
            "spark.driver.memory": "16g",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")

    if "--text-rung" in sys.argv:
        # incremental mode (VERDICT r11 #5): append/refresh ONLY the
        # 300×-class text rung in the existing SCALE_EVIDENCE.json
        n = int(sys.argv[sys.argv.index("--text-rung") + 1])
        path = os.path.join(REPO, "SCALE_EVIDENCE.json")
        with open(path) as fh:
            existing = json.load(fh)
        existing.setdefault("text_rungs", [])
        existing["text_rungs"] = [
            r for r in existing["text_rungs"] if r.get("reps") != n
        ] + [run_text_rung(spark, sf_dir, n)]
        with open(path, "w") as fh:
            json.dump(existing, fh, indent=1)
        print(json.dumps(existing["text_rungs"], separators=(",", ":")),
              file=sys.stderr)
        print(f"wrote {path} (text rung {n}x)", file=sys.stderr)
        spark.stop()
        return

    if "--r12-rung" in sys.argv:
        # incremental mode: append/refresh one r12-operator rung
        n = int(sys.argv[sys.argv.index("--r12-rung") + 1])
        path = os.path.join(REPO, "SCALE_EVIDENCE.json")
        with open(path) as fh:
            existing = json.load(fh)
        existing.setdefault("r12_rungs", [])
        existing["r12_rungs"] = [
            r for r in existing["r12_rungs"] if r.get("reps") != n
        ] + [run_r12_rung(spark, sf_dir, n)]
        existing["r12_rungs"].sort(key=lambda r: r["reps"])
        with open(path, "w") as fh:
            json.dump(existing, fh, indent=1)
        print(json.dumps(existing["r12_rungs"], separators=(",", ":")),
              file=sys.stderr)
        print(f"wrote {path} (r12 rung {n}x)", file=sys.stderr)
        spark.stop()
        return

    out = run(spark, sf_dir, REPS)
    high = [r for r in HIGH_REPS if r > REPS]
    if high:
        # further rungs: the two heaviest families at every rung, plus the
        # maintenance family at the top rung (VERDICT r6 #6) — to show the
        # bounds are flat in replication factor (contamination's fan-out
        # bound is structural — rare means df ≤ cap — so one rung
        # suffices there)
        out["higher_rungs"] = [
            run(
                spark,
                sf_dir,
                r,
                skip_contamination=True,
                include_maintenance=(r == max(high)),
            )
            for r in high
        ]
    path = os.path.join(REPO, "SCALE_EVIDENCE.json")
    with open(path, "w") as fh:
        json.dump(out, fh, indent=1)
    print(json.dumps(out, separators=(",", ":")), file=sys.stderr)
    print(f"wrote {path}", file=sys.stderr)
    spark.stop()


if __name__ == "__main__":
    main()
