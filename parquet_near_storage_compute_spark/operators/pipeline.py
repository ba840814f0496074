"""End-to-end training-data pipeline (the north-star composite).

The flow a 100 TB pre-training corpus actually runs, as ONE declarative
DataFrame chain:

  quality gate → exact dedup (content hash) → near-dup removal
  (MinHash+LSH candidates, Jaccard-verified, drop the higher doc_id)
  → per-(lang, source) token accounting

Every stage is one of this engine's tested operators (textops/dedup), so the
composite inherits their shuffle budgets: quality gate is a narrow map, the
two dedups shuffle on 16-byte hashes / LSH buckets, the accounting is a tiny
group-by. Nothing is quadratic outside LSH buckets.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from parquet_near_storage_compute_spark.functions.sql import sql_double
from parquet_near_storage_compute_spark.functions.text import shingles, words
from parquet_near_storage_compute_spark.operators.dedup import (
    _JACCARD,
    _SHINGLE_CTE,
    LSH_BUCKET_CAP,
    _lsh_candidates,
    _minhash_signatures,
    _verified,
)
from parquet_near_storage_compute_spark.operators.textops import (
    PII_EMAIL_RE,
    PII_IP_RE,
    PII_PHONE_RE,
)
from parquet_near_storage_compute_spark.operators.training import (
    CONTAM_MAX_DF,
    CONTAM_NGRAM,
    EVAL_MOD,
)
from parquet_near_storage_compute_spark.tables import fan_out, load_table


def training_data_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Single-scan discipline: the corpus is read from parquet ONCE.  The
    # quality gate is persisted (consumed by the canonical-hash branch and
    # the semi-join), and the exact-deduped survivor frame is persisted
    # (consumed by MinHash signatures, shingle sets, and the final anti-
    # join) — at 100 TB the alternative is 3× corpus I/O per run.  Spark's
    # CacheManager keys entries by logical plan, so repeated invocations
    # reuse rather than re-cache.  tests/test_pipeline_single_scan.py pins
    # the one-FileScan shape.
    docs = load_table(spark, sf_dir, "documents")

    # 1. quality gate (narrow map)
    ws = F.expr(words("text"))
    quality = fan_out(
        docs.filter((F.length("text") >= 100) & (F.size(ws) >= 20))
    ).persist()

    # 2. exact dedup: canonical doc per content hash
    canonical = (
        quality.groupBy(F.md5("text").alias("h"))
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    exact_deduped = quality.join(canonical, "doc_id", "left_semi").persist()

    # 3. near-dup removal: LSH candidates → Jaccard ≥ 0.5 → drop doc_b
    cand = _lsh_candidates(_minhash_signatures(exact_deduped))
    sets = exact_deduped.select(
        "doc_id", F.expr(f"array_distinct({shingles(words('text'), 3)}) AS sset")
    )
    near_dups = (
        _verified(cand, sets)
        .where(f"{_JACCARD} >= {sql_double(0.5)}")
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
    )
    kept = exact_deduped.join(near_dups, "doc_id", "left_anti")

    # 4. accounting per (lang, source)
    return kept.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.expr(f"sum(CAST(size({words('text')}) AS BIGINT)) AS total_tokens"),
        F.sum(F.length("text").cast("long")).alias("total_chars"),
    )


def curation_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source curation dashboard: the compliance/quality summary a
    data owner reads before a training run, composing three operators
    over ONE pass of the corpus —

      near-dup decisions (``minhash_dedup_decisions``: keep/drop per doc)
      + PII flags (``_pii_report``: any progressive redaction hit)
      + decontamination flags (``_contamination_report``: rare-gram overlap
        with the held-out slice)

    reduced to per-source counts: docs, near-dup drops, PII-bearing docs,
    contaminated docs, and the clean remainder (kept ∧ no PII ∧ not
    contaminated). The three flag frames are doc_id-keyed (each bounded by
    its operator's own shuffle budget) and join back on doc_id before a
    #sources-row aggregate — the composite inherits every component's
    scale design and adds only dimension-sized work.

    Single-scan discipline: all three components (and the final join spine)
    consume ONE persisted fan-out of the corpus — one parquet scan, then
    InMemoryRelation reuse — instead of each re-scanning ``documents``
    (3× corpus I/O at 100 TB).  Pinned in
    tests/test_pipeline_single_scan.py."""
    from parquet_near_storage_compute_spark.operators.dedup import (
        minhash_dedup_decisions,
    )
    from parquet_near_storage_compute_spark.operators.textops import (
        _pii_report,
    )
    from parquet_near_storage_compute_spark.operators.training import (
        _contamination_report,
    )

    docs = fan_out(
        load_table(spark, sf_dir, "documents").select("doc_id", "source", "text")
    ).persist()
    dec = minhash_dedup_decisions(docs).select("doc_id", "keep")
    pii = _pii_report(
        docs.select(F.lit("documents").alias("corpus"), "doc_id", "text")
    ).select(
        "doc_id",
        (
            (F.col("n_emails") + F.col("n_ips") + F.col("n_phones")) > 0
        ).alias("has_pii"),
    )
    contam = (
        _contamination_report(docs)
        .select("doc_id")
        .withColumn("contaminated", F.lit(True))
    )
    per_doc = (
        docs.select("doc_id", "source")
        .join(dec, "doc_id")
        .join(pii, "doc_id")
        .join(contam, "doc_id", "left")
        .withColumn("contaminated", F.coalesce("contaminated", F.lit(False)))
    )
    as_long = lambda c: c.cast("int").cast("long")  # noqa: E731
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(as_long(~F.col("keep"))).alias("n_near_dup_drops"),
            F.sum(as_long(F.col("has_pii"))).alias("n_pii_docs"),
            F.sum(as_long(F.col("contaminated"))).alias("n_contaminated"),
            F.sum(
                as_long(
                    F.col("keep")
                    & ~F.col("has_pii")
                    & ~F.col("contaminated")
                )
            ).alias("n_clean"),
        )
        .orderBy("source")
    )


#: Quality floor for the incremental-ingest pipeline (chars).
INGEST_MIN_CHARS = 100


def incremental_ingest_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily-ingest composite: what actually runs when a new batch of
    documents arrives against a 100 TB corpus, chaining the round-5
    maintenance operators end to end:

      Bloom pre-filter (constant-space, built from corpus signatures)
        → exact anti-join, but ONLY for Bloom-POSITIVE batch rows
          (sound: Bloom has no false negatives, so negatives are
          certainly-new and skip the corpus join entirely)
        → within-batch exact dedup (min doc_id per signature)
        → quality gate (narrow map)
        → per-source ingest accounting.

    The per-doc outcome is a single category — exact_dup / batch_dup /
    low_quality / ingested — so the counts partition the batch exactly
    (n_batch = Σ categories, asserted in tests). Single-scan discipline:
    one persisted (doc_id, source, sig, n_chars) projection feeds the
    corpus side, the Bloom build, and every batch stage
    (tests/test_pipeline_single_scan.py walks the plan). At 100 TB the
    corpus contributes one column-pruned signature scan; the only joins
    that touch it are the ≤64-row broadcast Bloom table and the
    signature semi-join over the few-percent Bloom-positive slice.
    """
    from parquet_near_storage_compute_spark.functions.text import hash32
    from parquet_near_storage_compute_spark.operators.sketches import (
        BLOOM_BITS,
        BLOOM_K,
    )

    docs = load_table(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id",
        "source",
        F.md5("text").alias("sig"),
        F.length("text").alias("len_chars"),
    ).persist()
    corpus = base.filter(F.col("doc_id") % 2 == 0).select("sig")
    batch = base.filter(F.col("doc_id") % 2 == 1)

    j = F.explode(F.sequence(F.lit(0), F.lit(BLOOM_K - 1))).alias("j")
    idx = F.expr(f"{hash32('j', 'sig')} % {BLOOM_BITS} AS idx")
    bloom = (
        corpus.select("sig", j)
        .select(idx)
        .select(
            F.expr("idx div 32").alias("word"),
            F.expr("shiftleft(1L, int(idx % 32))").alias("mask"),
        )
        .groupBy("word")
        .agg(F.bit_or("mask").alias("bits"))
    )
    probed = (
        batch.select("doc_id", "sig", j)
        .select("doc_id", "sig", idx)
        .select(
            "doc_id",
            "sig",
            F.expr("idx div 32").alias("word"),
            F.expr("shiftleft(1L, int(idx % 32))").alias("mask"),
        )
        .join(F.broadcast(bloom), "word", "left")
        .select(
            "doc_id",
            F.expr(
                "CASE WHEN (coalesce(bits, 0L) & mask) <> 0L THEN 1 ELSE 0 END"
            ).alias("hit"),
        )
        .groupBy("doc_id")
        .agg(F.min("hit").alias("bloom_positive"))
    )
    flagged = batch.join(probed, "doc_id")
    members = (
        flagged.filter(F.col("bloom_positive") == 1)
        .join(corpus.distinct(), "sig", "left_semi")
        .select("doc_id")
        .withColumn("is_member", F.lit(1))
    )
    # not a forced broadcast: the member set scales with the
    # batch's duplicate count, unlike the fixed-size bloom frame above —
    # let AQE pick broadcast vs shuffle from the measured size
    flagged = flagged.join(members, "doc_id", "left").select(
        "doc_id",
        "source",
        "sig",
        "len_chars",
        "bloom_positive",
        F.coalesce(F.col("is_member"), F.lit(0)).alias("is_member"),
    )
    keeps = (
        flagged.filter(F.col("is_member") == 0)
        .groupBy("sig")
        .agg(F.min("doc_id").alias("keep_id"))
    )
    cat = flagged.join(keeps, "sig", "left").select(
        "source",
        "bloom_positive",
        F.when(F.col("is_member") == 1, F.lit("exact_dup"))
        .when(F.col("doc_id") != F.col("keep_id"), F.lit("batch_dup"))
        .when(F.col("len_chars") < INGEST_MIN_CHARS, F.lit("low_quality"))
        .otherwise(F.lit("ingested"))
        .alias("cat"),
    )
    return (
        cat.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_batch"),
            F.sum("bloom_positive").alias("n_bloom_positive"),
            F.sum((F.col("cat") == "exact_dup").cast("long")).alias("n_exact_dup"),
            F.sum((F.col("cat") == "batch_dup").cast("long")).alias("n_batch_dup"),
            F.sum((F.col("cat") == "low_quality").cast("long")).alias(
                "n_low_quality"
            ),
            F.sum((F.col("cat") == "ingested").cast("long")).alias("n_ingested"),
        )
        .orderBy("source")
    )


def modality_dedup_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-modality dedup dashboard: one row per modality with its
    asset count and keep/drop split — the capstone of the per-modality
    near-dup matrix. A curation operator reads THIS to see where the
    duplication mass lives before committing to a re-crawl or a filter
    change: text via MinHash-LSH decisions, embeddings via sign-LSH
    cosine decisions, images via DCT pHash, audio via spectral
    fingerprints, video via sampled-frame pHash signatures — five
    independently-oracled decision pipelines, each
    already bounded for 100 TB by its own operator's design (value
    collapse / salted buckets / overflow clusters), reduced here to one
    map-side-combinable aggregate each and a 5-row union. No new scale
    surface: the report adds one tiny aggregation per modality on top of
    machinery the per-modality contracts already pin.

    All-integer output (modality, n_assets, n_kept, n_dropped); the
    DuckDB oracle is the union of the five member-level decision oracles
    aggregated the same way — so this contract re-verifies all five
    pipelines end-to-end through one hash."""
    from parquet_near_storage_compute_spark.operators.dedup import (
        minhash_decisions_cached,
    )
    from parquet_near_storage_compute_spark.operators.multimodal import (
        audio_fingerprint_dedup,
        image_phash_dedup,
        video_fingerprint_dedup,
    )
    from parquet_near_storage_compute_spark.operators.similarity import (
        embedding_dedup_decisions,
    )

    # every member pipeline comes from its registered (memoized) frame —
    # the report is the 5-way aggregate of the SAME decision trees the
    # per-modality contracts pin, built once per session (the text
    # decisions tree alone costs ~3 s of construction; its internal bands
    # persist covers its two corpus consumers, so no extra projection
    # cache is needed here)
    parts = [
        ("text", minhash_decisions_cached(spark, sf_dir)),
        ("embedding", embedding_dedup_decisions(spark, sf_dir)),
        ("image", image_phash_dedup(spark, sf_dir)),
        ("audio", audio_fingerprint_dedup(spark, sf_dir)),
        ("video", video_fingerprint_dedup(spark, sf_dir)),
    ]
    out = None
    for name, df in parts:
        row = (
            df.select(F.col("keep").cast("int").alias("k"))
            .agg(
                F.count(F.lit(1)).alias("n_assets"),
                F.coalesce(F.sum("k"), F.lit(0)).alias("n_kept"),
            )
            .select(
                F.lit(name).alias("modality"),
                F.col("n_assets").cast("bigint").alias("n_assets"),
                F.col("n_kept").cast("bigint").alias("n_kept"),
                (F.col("n_assets") - F.col("n_kept"))
                .cast("bigint")
                .alias("n_dropped"),
            )
        )
        out = row if out is None else out.unionByName(row)
    return out


QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "pipeline_training_data": training_data_pipeline,
    "pipeline_curation_report": curation_report,
    "pipeline_incremental_ingest": incremental_ingest_pipeline,
    "pipeline_modality_dedup_report": modality_dedup_report,
}

ORACLE_SQL: dict[str, str] = {
    "pipeline_curation_report": f"""
        WITH {_SHINGLE_CTE},
        pair_losers AS (SELECT DISTINCT doc_b AS doc_id FROM cand),
        over_keys AS (SELECT band, bh FROM bsz WHERE n > {LSH_BUCKET_CAP}),
        over_members AS (
          SELECT DISTINCT b.doc_id, b.band, b.bh
          FROM bands b JOIN over_keys USING (band, bh)
        ),
        over_min AS (
          SELECT band, bh, MIN(doc_id) AS keep_id
          FROM over_members GROUP BY band, bh
        ),
        over_losers AS (
          SELECT DISTINCT m.doc_id FROM over_members m
          JOIN over_min USING (band, bh) WHERE m.doc_id <> keep_id
        ),
        drops AS (
          SELECT doc_id FROM pair_losers
          UNION SELECT doc_id FROM over_losers
        ),
        pii AS (
          SELECT doc_id,
                 (len(regexp_extract_all(text, '{PII_EMAIL_RE}'))
                  + len(regexp_extract_all(
                      regexp_replace(text, '{PII_EMAIL_RE}', '<EMAIL>', 'g'),
                      '{PII_IP_RE}'))
                  + len(regexp_extract_all(
                      regexp_replace(regexp_replace(
                        text, '{PII_EMAIL_RE}', '<EMAIL>', 'g'),
                        '{PII_IP_RE}', '<IP>', 'g'),
                      '{PII_PHONE_RE}'))) > 0 AS has_pii
          FROM documents
        ),
        g AS (
          SELECT doc_id, doc_id % {EVAL_MOD} = 0 AS is_eval,
                 unnest(list_distinct(list_transform(
                   CASE WHEN len(ws) >= {CONTAM_NGRAM}
                        THEN range(len(ws) - {CONTAM_NGRAM - 1}) ELSE [] END,
                   i -> array_to_string(
                          ws[i + 1 : i + {CONTAM_NGRAM}], ' ')))) AS gm
          FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
        ),
        ev AS (SELECT gm, doc_id AS eval_doc FROM g WHERE is_eval),
        rare AS (
          SELECT gm FROM ev GROUP BY gm HAVING COUNT(*) <= {CONTAM_MAX_DF}
        ),
        contam AS (
          SELECT DISTINCT t.doc_id
          FROM (SELECT gm, doc_id FROM g WHERE NOT is_eval) t
          JOIN ev USING (gm) JOIN rare USING (gm)
        )
        SELECT d.source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(CASE WHEN dr.doc_id IS NOT NULL
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_near_dup_drops,
               CAST(SUM(CASE WHEN p.has_pii
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_pii_docs,
               CAST(SUM(CASE WHEN c.doc_id IS NOT NULL
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated,
               CAST(SUM(CASE WHEN dr.doc_id IS NULL AND NOT p.has_pii
                             AND c.doc_id IS NULL
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_clean
        FROM documents d
        LEFT JOIN drops dr ON d.doc_id = dr.doc_id
        JOIN pii p ON d.doc_id = p.doc_id
        LEFT JOIN contam c ON d.doc_id = c.doc_id
        GROUP BY d.source ORDER BY d.source
    """,
    "pipeline_training_data": f"""
        WITH quality AS (
          SELECT * FROM documents
          WHERE length(text) >= 100 AND len(string_split(text, ' ')) >= 20
        ),
        canonical AS (
          SELECT MIN(doc_id) AS doc_id FROM quality GROUP BY md5(text)
        ),
        exact_deduped AS (
          SELECT q.* FROM quality q
          WHERE q.doc_id IN (SELECT doc_id FROM canonical)
        ),
        documents_view AS (SELECT doc_id, text FROM exact_deduped),
        {_SHINGLE_CTE.replace("FROM documents)", "FROM documents_view)")},
        sets AS (
          SELECT doc_id,
                 list_distinct(list_transform(
                   CASE WHEN len(ws) >= 3 THEN range(len(ws)-2) ELSE [] END,
                   i -> array_to_string(ws[i+1:i+3], ' '))) AS sset
          FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents_view)
        ),
        near_dups AS (
          SELECT DISTINCT c.doc_b AS doc_id
          FROM cand c
          JOIN sets a ON c.doc_a = a.doc_id
          JOIN sets b ON c.doc_b = b.doc_id
          WHERE CAST(len(list_intersect(a.sset, b.sset)) AS DOUBLE)
                  / len(list_distinct(list_concat(a.sset, b.sset))) >= 0.5
        ),
        kept AS (
          SELECT * FROM exact_deduped
          WHERE doc_id NOT IN (SELECT doc_id FROM near_dups)
        )
        SELECT lang, source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
               CAST(SUM(length(text)) AS BIGINT) AS total_chars
        FROM kept GROUP BY lang, source
    """,
}


# Oracle for the incremental-ingest composite: the Bloom CTE mirrors
# sketch_bloom_membership's (same constants imported, so a parameter change
# cannot desynchronize the two sides).
from parquet_near_storage_compute_spark.operators import sketches as _sk  # noqa: E402

ORACLE_SQL["pipeline_incremental_ingest"] = f"""
    WITH js AS (SELECT unnest(range({_sk.BLOOM_K})) AS j),
    base AS (
      SELECT doc_id, source, md5(text) AS sig, length(text) AS len_chars
      FROM documents
    ),
    corpus AS (SELECT sig FROM base WHERE doc_id % 2 = 0),
    batch AS (SELECT * FROM base WHERE doc_id % 2 = 1),
    bloom AS (
      SELECT idx // 32 AS word, bit_or(1::BIGINT << (idx % 32)::INT) AS bits
      FROM (
        SELECT {_sk._H32.format(seed="js.j", key="c.sig")} % {_sk.BLOOM_BITS} AS idx
        FROM corpus c CROSS JOIN js
      ) GROUP BY 1
    ),
    probed AS (
      SELECT doc_id,
             MIN(CASE WHEN (bl.bits & (1::BIGINT << (x.idx % 32)::INT)) <> 0
                      THEN 1 ELSE 0 END) AS bloom_positive
      FROM (
        SELECT b.doc_id,
               {_sk._H32.format(seed="js.j", key="b.sig")} % {_sk.BLOOM_BITS} AS idx
        FROM batch b CROSS JOIN js
      ) x
      LEFT JOIN bloom bl ON bl.word = x.idx // 32
      GROUP BY doc_id
    ),
    flagged AS (
      SELECT b.*, p.bloom_positive,
             CASE WHEN p.bloom_positive = 1
                   AND EXISTS (SELECT 1 FROM corpus c WHERE c.sig = b.sig)
                  THEN 1 ELSE 0 END AS is_member
      FROM batch b JOIN probed p USING (doc_id)
    ),
    keeps AS (
      SELECT sig, MIN(doc_id) AS keep_id
      FROM flagged WHERE is_member = 0 GROUP BY sig
    ),
    cat AS (
      SELECT f.source, f.bloom_positive,
             CASE WHEN f.is_member = 1 THEN 'exact_dup'
                  WHEN f.doc_id <> k.keep_id THEN 'batch_dup'
                  WHEN f.len_chars < {INGEST_MIN_CHARS} THEN 'low_quality'
                  ELSE 'ingested' END AS cat
      FROM flagged f LEFT JOIN keeps k ON f.sig = k.sig
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_batch,
           CAST(SUM(bloom_positive) AS BIGINT) AS n_bloom_positive,
           CAST(SUM(CASE WHEN cat = 'exact_dup' THEN 1 ELSE 0 END) AS BIGINT)
             AS n_exact_dup,
           CAST(SUM(CASE WHEN cat = 'batch_dup' THEN 1 ELSE 0 END) AS BIGINT)
             AS n_batch_dup,
           CAST(SUM(CASE WHEN cat = 'low_quality' THEN 1 ELSE 0 END) AS BIGINT)
             AS n_low_quality,
           CAST(SUM(CASE WHEN cat = 'ingested' THEN 1 ELSE 0 END) AS BIGINT)
             AS n_ingested
    FROM cat GROUP BY source ORDER BY source
"""


# Oracle for the cross-modality dedup report: the five member-level
# decision oracles (imported verbatim, so a fix in any of them flows here
# automatically) each reduced to one summary row and unioned — this
# contract re-verifies all five decision pipelines through one hash.
from parquet_near_storage_compute_spark.operators import (  # noqa: E402
    dedup as _dd,
    multimodal as _mm,
    similarity as _sim,
)


def _modality_summary_sql(modality: str, decisions_sql: str) -> str:
    return f"""
    SELECT '{modality}' AS modality,
           CAST(COUNT(*) AS BIGINT) AS n_assets,
           CAST(COALESCE(SUM(CAST(keep AS INT)), 0) AS BIGINT) AS n_kept,
           CAST(COUNT(*) - COALESCE(SUM(CAST(keep AS INT)), 0) AS BIGINT)
             AS n_dropped
    FROM ({decisions_sql})
    """


ORACLE_SQL["pipeline_modality_dedup_report"] = " UNION ALL ".join(
    [
        _modality_summary_sql("text", _dd.ORACLE_SQL["minhash_dedup_decisions"]),
        _modality_summary_sql("embedding", _sim.ORACLE_SQL["sim_dedup_decisions"]),
        _modality_summary_sql("image", _mm.ORACLE_SQL["dedup_image_phash"]),
        _modality_summary_sql("audio", _mm.ORACLE_SQL["dedup_audio_fingerprint"]),
        _modality_summary_sql("video", _mm.ORACLE_SQL["dedup_video_fingerprint"]),
    ]
)
