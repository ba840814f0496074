"""Mergeable sketches: fixed-size summaries for 100 TB-scale questions.

Extension family (the reference has no sketch support; its closest analogue
is the stats-compaction metadata path, ``v2/src/main.rs:338-398``, which also
answers queries from a tiny summary instead of the data). Two classics:

- **Count-min sketch** (`sketch_countmin`): frequency estimation over an
  unbounded key domain in O(D·W) space. The sketch is a (depth, bucket) →
  count table built with ONE map-side-combinable groupBy — every partial
  aggregate is itself a valid sketch and merging is `+`, so at 100 TB the
  sketch costs one narrow pass and shuffles only D·W rows regardless of key
  cardinality (vs a full groupBy whose shuffle is proportional to distinct
  keys). Estimates are biased up (collisions only ever add), never down:
  `est ≥ exact` for every key, which the contract exposes by emitting both.

- **Bloom filter** (`sketch_bloom_membership`): set membership in m bits.
  Build = bit_or of per-row masks — again map-side combinable, again a
  fixed-size result (64 × 32-bit words here). The 100 TB use is incremental
  ingestion: "which of today's documents already exist in the corpus?"
  becomes broadcast-the-filter + narrow probe, and ONLY the Bloom-positive
  rows (a few % of the batch) pay the exact anti-join against the corpus.
  Bloom filters have no false negatives, so exact-checking only the
  positives yields exactly the true-member set — the contract computes it
  that way on purpose and reports false positives alongside.

Cross-engine determinism: all hashing is md5-derived 32-bit integers
(``conv(substr(md5(..),1,8),16,10)`` ↔ ``('0x'||substr(md5(..),1,8))::BIGINT``),
bit masks stay within 32-bit words so BIGINT shifts never overflow in either
engine, and every output column is integral.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from parquet_near_storage_compute_spark.functions.sql import sql_string
from parquet_near_storage_compute_spark.functions.text import hash32
from parquet_near_storage_compute_spark.tables import load_table

# ---- count-min parameters ------------------------------------------------
CM_DEPTH = 4  #: independent hash rows; P(over-estimate by t) ≤ (e/W·n/t)^D
CM_WIDTH = 256  #: buckets per row — sketch size D·W = 1024 counters total
CM_PROBE_MAX = 20  #: probe keys: user_id < 20 (exact counts emitted too)

# ---- bloom parameters ----------------------------------------------------
BLOOM_WORDS = 64  #: 32-bit words → m = 2048 bits
BLOOM_BITS = BLOOM_WORDS * 32
BLOOM_K = 3  #: hash functions per element


def countmin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min estimates vs exact counts for the probe keys.

    Build: one pass over events collapses to per-key counts FIRST (plain
    map-side-combinable groupBy — no hashing on the corpus-sized stream),
    then the ≤|keys|-row frame explodes into CM_DEPTH (d, bucket) cells
    and the sketch sums the counts. Identical counters to hashing every
    event row (Σ per-key counts = per-cell row count), but the md5-based
    `hash32` runs D× per DISTINCT KEY instead of D× per event — at
    sf0.1 that is 6 K digests instead of 400 K (r12 wave 3; interleaved
    best-of-9 at sf0.1: 1.166 → 0.687 s, every pair in favor). The
    per-key frame is persisted: it feeds the sketch build AND the probe
    side (which previously re-scanned and re-aggregated events), so one
    corpus pass serves both. At 100 TB the pre-aggregate is exactly the
    (bounded, key-cardinality-sized) frame a production CM build ships
    to the hashers. Probe: the sketch is broadcast and each probe key
    reads its D cells, taking the min.
    """
    ev = load_table(spark, sf_dir, "events")
    per_key = (
        ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n")).persist()
    )
    d = F.explode(F.sequence(F.lit(0), F.lit(CM_DEPTH - 1))).alias("d")
    cells = per_key.select("user_id", "n", d).select(
        "d",
        F.expr(f"{hash32('d', 'user_id')} % {CM_WIDTH} AS bucket"),
        "n",
    )
    sketch = cells.groupBy("d", "bucket").agg(F.sum("n").alias("cnt"))

    probes = per_key.filter(F.col("user_id") < CM_PROBE_MAX).select(
        "user_id", F.col("n").alias("exact_count")
    )
    probe_cells = probes.select("user_id", "exact_count", d).select(
        "user_id",
        "exact_count",
        "d",
        F.expr(f"{hash32('d', 'user_id')} % {CM_WIDTH} AS bucket"),
    )
    return (
        probe_cells.join(F.broadcast(sketch), ["d", "bucket"])
        .groupBy("user_id")
        .agg(
            F.min("cnt").alias("est_count"),
            F.max("exact_count").alias("exact_count"),
        )
    )


def bloom_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source incremental-ingest membership report via a Bloom filter.

    Corpus = even doc_ids, probe batch = odd doc_ids (same split as
    `dedup_incremental` — this is its constant-space pre-filter). The filter
    is ≤ BLOOM_WORDS rows after a map-side-combinable bit_or groupBy; probes
    broadcast-join it (the FILTER is fixed-size — always broadcastable).
    The exact member check runs ONLY over Bloom-positive probes — sound
    because a Bloom filter has no false negatives. The member-flag rejoin
    is deliberately NOT a forced broadcast (r6, ADVICE): the member set
    scales with the batch's duplicate count, not with the sketch, so the
    planner (AQE) decides — broadcast when small, shuffle when not.
    """
    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 2 == 0).select(F.md5("text").alias("sig"))
    batch = docs.filter(F.col("doc_id") % 2 == 1).select(
        "doc_id", "source", F.md5("text").alias("sig")
    )

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

    probe_bits = (
        batch.select("doc_id", "source", "sig", j)
        .select("doc_id", "source", "sig", idx)
        .select(
            "doc_id",
            "source",
            "sig",
            F.expr("idx div 32").alias("word"),
            F.expr("shiftleft(1L, int(idx % 32))").alias("mask"),
        )
        .join(F.broadcast(bloom), "word", "left")
        .select(
            "doc_id",
            "source",
            "sig",
            F.expr(
                "CASE WHEN (coalesce(bits, 0L) & mask) <> 0L THEN 1 ELSE 0 END"
            ).alias("hit"),
        )
    )
    probed = probe_bits.groupBy("doc_id", "source", "sig").agg(
        F.min("hit").alias("bloom_positive")
    )

    # exact check over the positive subset only (no false negatives ⇒ exact)
    members = (
        probed.filter(F.col("bloom_positive") == 1)
        .join(corpus.distinct(), "sig", "left_semi")
        .select("doc_id")
        .withColumn("is_member", F.lit(1))
    )
    flagged = probed.join(members, "doc_id", "left").select(
        "source",
        "bloom_positive",
        F.coalesce(F.col("is_member"), F.lit(0)).alias("is_member"),
    )
    return flagged.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_probed"),
        F.sum("bloom_positive").alias("n_bloom_positive"),
        F.sum("is_member").alias("n_true_member"),
        F.sum(
            F.when((F.col("bloom_positive") == 1) & (F.col("is_member") == 0), 1).otherwise(0)
        ).alias("n_false_positive"),
    )


#: Relative error bound asserted for the HLL estimates. lgConfigK=12 gives
#: ~1.6% standard error; 5% is ≳3σ, so the deterministic sketch passes with
#: wide margin at every tested SF.
HLL_REL_TOL = 0.05
HLL_LG_K = 12


def hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable distinct-count sketches via Spark's built-in Apache
    DataSketches HLL functions — the production cardinality answer at
    100 TB, where exact COUNT(DISTINCT) shuffles every distinct key and a
    sketch shuffles ~4 KB per group.

    Shape: one `hll_sketch_agg` pass builds a per-group sketch (map-side
    combinable like every sketch in this module); `hll_union_agg` then
    merges the per-group sketches into the global cardinality WITHOUT
    re-touching the data — the property that lets daily sketches roll up
    into monthly counts for free. HLL registers are max-based, so the
    result is insensitive to partition order and duplicates —
    deterministic across runs and layouts.

    Cross-engine contract: DuckDB cannot reproduce DataSketches register
    values, so the oracle pins the EXACT distinct counts and expects the
    within-tolerance flags to be 1 — a bounded-error contract (estimates
    off by >5% fail the hash). The exact counts double as the baseline the
    estimates are judged against.
    """
    ev = load_table(spark, sf_dir, "events")
    per_type = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_exact"),
        F.hll_sketch_agg("user_id", F.lit(HLL_LG_K)).alias("sk"),
    )
    typed = per_type.select(
        "event_type",
        "n_exact",
        F.when(
            (
                F.abs(F.hll_sketch_estimate("sk") - F.col("n_exact"))
                / F.col("n_exact")
            )
            <= HLL_REL_TOL,
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .alias("est_within_tol"),
    )
    global_exact = ev.agg(F.countDistinct("user_id").alias("g_exact"))
    global_est = (
        per_type.agg(F.hll_union_agg("sk").alias("u"))
        .select(F.hll_sketch_estimate("u").alias("g_est"))
        .crossJoin(global_exact)
        .select(
            F.lit("ALL").alias("event_type"),
            F.col("g_exact").alias("n_exact"),
            # empty-corpus guard (r6, ADVICE): 0/0 would yield NULL → flag 0
            # while the oracle pins 1; an empty input trivially satisfies
            # the tolerance (estimate 0, exact 0)
            F.when(F.col("g_exact") == 0, F.lit(1))
            .when(
                (F.abs(F.col("g_est") - F.col("g_exact")) / F.col("g_exact"))
                <= HLL_REL_TOL,
                F.lit(1),
            )
            .otherwise(F.lit(0))
            .alias("est_within_tol"),
        )
    )
    return typed.unionByName(global_est)


#: KMV sketch size. Estimator standard error ≈ 1/√(k-2) ≈ 13% at k=64 —
#: coarse, but the contract's point is exact cross-engine reproducibility
#: of the estimator, not tightness; raise k for precision at scale.
KMV_K = 64
_TWO32 = 1 << 32

#: Salt factor for the two-phase k-min selection (VERDICT r5 #3): the
#: local phase computes a k-min per (group, pmod(h, KMV_SALT)) slice, the
#: global phase ranks only ≤ KMV_SALT·k rows per group.  k-min merges
#: associatively — every global k-min element is in its slice's local
#: k-min — so results are identical to the single-window form while no
#: task ever sorts a whole hot group (the window_topk_per_group device).
KMV_SALT = 16


def _kmin_per_group(hashed: DataFrame, group: str) -> DataFrame:
    """Salted two-phase k-min of ``h`` per ``group``: returns the KMV_K
    smallest hashes per group with their global rank ``rn`` (1-based)."""
    wl = Window.partitionBy(
        group, F.pmod(F.col("h"), F.lit(KMV_SALT))
    ).orderBy("h")
    wg = Window.partitionBy(group).orderBy("h")
    return (
        hashed.withColumn("_lrn", F.row_number().over(wl))
        .filter(F.col("_lrn") <= KMV_K)
        .drop("_lrn")
        .withColumn("rn", F.row_number().over(wg))
        .filter(F.col("rn") <= KMV_K)
    )


def kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-minimum-values distinct sketch — the hand-rolled, engine-exact
    counterpart of `sketch_hll_distinct`.

    A KMV sketch of a set is the k smallest values of a uniform hash over
    its members; the cardinality estimate is (k−1)·2³²/h_k with h_k the
    k-th smallest 32-bit hash. Two properties make it the teaching sketch
    for 100 TB pipelines: (a) it merges — the k smallest of the union of
    per-partition (here per-group) sketches IS the union's sketch, so
    group sketches roll up without re-touching data, exactly like
    hll_union_agg; (b) with an md5 hash and integer division the WHOLE
    estimator is deterministic and cross-engine reproducible, so unlike
    HLL the oracle checks the estimates themselves, not a tolerance flag.

    Shape: distinct (group, user) pairs → one shuffle; per-group k-min via
    the SALTED two-phase selection (`_kmin_per_group`, VERDICT r5 #3) so a
    hot group never serializes into one task's sort; the ALL row is
    computed from the per-group SKETCH ROWS ONLY (≤ groups·k rows),
    demonstrating the merge.  When a group holds fewer than k distinct
    members its sketch is the whole set and the estimate is the exact
    count (emitted as such).
    """
    ev = load_table(spark, sf_dir, "events")
    hashed = (
        ev.select("event_type", "user_id")
        .distinct()
        .select(
            "event_type",
            F.expr(f"{hash32(sql_string('kmv'), 'user_id')} AS h"),
        )
        .distinct()  # hash collisions count once (KMV is over hash values)
    )
    sketch = _kmin_per_group(hashed, "event_type")

    def _estimate(df: DataFrame, scope_col: F.Column) -> DataFrame:
        # est = (k-1)*2^32 div h_k when the sketch is full, else exact size
        return df.groupBy(scope_col.alias("scope")).agg(
            F.count(F.lit(1)).alias("n_sketch"),
            F.max(F.when(F.col("rn") == KMV_K, F.col("h"))).alias("hk"),
        ).select(
            "scope",
            F.when(
                F.col("n_sketch") < KMV_K, F.col("n_sketch")
            )
            .otherwise(
                F.expr(f"CAST(({KMV_K - 1} * {_TWO32}L) div hk AS BIGINT)")
            )
            .alias("est_distinct"),
        )

    per_type = _estimate(sketch, F.col("event_type"))
    # merge: k smallest across the per-type sketches = the union's sketch.
    # Input here is SKETCH ROWS ONLY (≤ groups·k), so the single global
    # window ranks a bounded frame — no hot-group exposure.
    wu = Window.orderBy("h")
    merged = (
        sketch.select("h")
        .distinct()
        .withColumn("rn", F.row_number().over(wu))
        .filter(F.col("rn") <= KMV_K)
    )
    union_row = _estimate(merged, F.lit("ALL"))
    exact = (
        ev.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n_exact"))
        .unionByName(
            ev.agg(
                F.lit("ALL").alias("event_type"),
                F.countDistinct("user_id").alias("n_exact"),
            ).select("event_type", "n_exact")
        )
    )
    return (
        per_type.unionByName(union_row)
        .join(exact, F.col("scope") == F.col("event_type"))
        .select("scope", "est_distinct", "n_exact")
    )


def kmv_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience overlap from KMV sketches — sketch SET OPERATIONS.

    The question "how many users do segments A and B share?" normally
    costs a distinct-pair join per segment pair; with KMV sketches it
    costs array math over two k-value summaries: the k smallest hashes of
    A ∪ B are the k smallest of (sketch_A ∪ sketch_B), and the fraction
    of them present in BOTH sketches estimates the Jaccard similarity
    (numerator emitted as the integer ``kmv_overlap_k`` out of the
    ``n_merged`` merged values). Exact intersection/union counts ride
    along as the baseline the estimate is judged against.

    Shape: the salted two-phase k-min (`_kmin_per_group`, VERDICT r5 #3)
    collapses each group to ONE ≤k-element sorted array
    (groups × k values total); every pair computation is
    array built-ins over a broadcastable frame — the corpus is touched
    once to hash and once for the exact baseline, never per pair. All
    outputs integral; md5 + integer ops reproduce bit-for-bit in DuckDB,
    so the estimates are hash-compared like `sketch_kmv_distinct`'s.
    """
    ev = load_table(spark, sf_dir, "events")
    hashed = (
        ev.select("event_type", "user_id")
        .distinct()
        .select(
            "event_type",
            "user_id",
            F.expr(f"{hash32(sql_string('kmv'), 'user_id')} AS h"),
        )
    )
    sk = (
        _kmin_per_group(hashed.select("event_type", "h").distinct(), "event_type")
        .groupBy("event_type")
        .agg(F.array_sort(F.collect_list("h")).alias("arr"))
    )
    a = sk.select(F.col("event_type").alias("type_a"), F.col("arr").alias("arr_a"))
    b = sk.select(F.col("event_type").alias("type_b"), F.col("arr").alias("arr_b"))
    pairs = a.join(b, F.col("type_a") < F.col("type_b"))
    merged = F.slice(
        F.array_sort(F.array_union("arr_a", "arr_b")), 1, KMV_K
    ).alias("merged")
    est = pairs.select("type_a", "type_b", "arr_a", "arr_b", merged).select(
        "type_a",
        "type_b",
        F.size("merged").alias("n_merged"),
        F.size(
            F.filter(
                "merged",
                lambda h: F.array_contains("arr_a", h)
                & F.array_contains("arr_b", h),
            )
        ).alias("kmv_overlap_k"),
    )
    users = hashed.select("event_type", "user_id")
    ua = users.select(F.col("event_type").alias("type_a"), "user_id")
    ub = users.select(F.col("event_type").alias("type_b"), "user_id")
    inter = (
        ua.join(ub, ["user_id"])
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("exact_inter"))
    )
    counts = users.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    return (
        est.join(inter, ["type_a", "type_b"], "left")
        .join(
            counts.select(F.col("event_type").alias("type_a"), F.col("n").alias("n_a")),
            "type_a",
        )
        .join(
            counts.select(F.col("event_type").alias("type_b"), F.col("n").alias("n_b")),
            "type_b",
        )
        .select(
            "type_a",
            "type_b",
            "n_merged",
            "kmv_overlap_k",
            F.coalesce(F.col("exact_inter"), F.lit(0)).alias("exact_inter"),
            (F.col("n_a") + F.col("n_b") - F.coalesce(F.col("exact_inter"), F.lit(0))).alias(
                "exact_union"
            ),
        )
        .orderBy("type_a", "type_b")
    )


QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "sketch_countmin": countmin,
    "sketch_bloom_membership": bloom_membership,
    "sketch_hll_distinct": hll_distinct,
    "sketch_kmv_distinct": kmv_distinct,
    "sketch_kmv_overlap": kmv_overlap,
}

_H32 = "('0x' || substr(md5({seed}::VARCHAR || ':' || {key}::VARCHAR), 1, 8))::BIGINT"

ORACLE_SQL: dict[str, str] = {
    # bounded-error contract: the oracle pins the exact counts and expects
    # every within-tolerance flag to be 1 (DuckDB cannot reproduce
    # DataSketches registers; an estimate off by >5% fails the hash)
    "sketch_hll_distinct": """
        SELECT event_type,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_exact,
               1 AS est_within_tol
        FROM events GROUP BY event_type
        UNION ALL
        SELECT 'ALL' AS event_type,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_exact,
               1 AS est_within_tol
        FROM events
    """,
    # engine-exact KMV: md5 hashes + integer-division estimator reproduce
    # bit-for-bit, so the estimates themselves are hash-compared
    "sketch_kmv_distinct": f"""
        WITH hashed AS (
          SELECT DISTINCT event_type,
                 ('0x' || substr(md5('kmv:' || user_id::VARCHAR), 1, 8))::BIGINT AS h
          FROM (SELECT DISTINCT event_type, user_id FROM events)
        ),
        sketch AS (
          SELECT * FROM (
            SELECT event_type, h,
                   ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS rn
            FROM hashed
          ) WHERE rn <= {KMV_K}
        ),
        per AS (
          SELECT event_type AS scope, COUNT(*) AS n_sketch,
                 MAX(CASE WHEN rn = {KMV_K} THEN h END) AS hk
          FROM sketch GROUP BY event_type
        ),
        merged AS (
          SELECT * FROM (
            SELECT h, ROW_NUMBER() OVER (ORDER BY h) AS rn
            FROM (SELECT DISTINCT h FROM sketch)
          ) WHERE rn <= {KMV_K}
        ),
        uni AS (
          SELECT 'ALL' AS scope, COUNT(*) AS n_sketch,
                 MAX(CASE WHEN rn = {KMV_K} THEN h END) AS hk
          FROM merged
        ),
        est AS (
          SELECT scope,
                 CASE WHEN n_sketch < {KMV_K} THEN n_sketch
                      ELSE ({KMV_K - 1} * {_TWO32}) // hk END AS est_distinct
          FROM (SELECT * FROM per UNION ALL SELECT * FROM uni)
        ),
        exact AS (
          SELECT event_type AS scope, COUNT(DISTINCT user_id) AS n_exact
          FROM events GROUP BY event_type
          UNION ALL
          SELECT 'ALL', COUNT(DISTINCT user_id) FROM events
        )
        SELECT e.scope,
               CAST(est_distinct AS BIGINT) AS est_distinct,
               CAST(n_exact AS BIGINT) AS n_exact
        FROM est e JOIN exact x ON e.scope = x.scope
    """,
    "sketch_kmv_overlap": f"""
        WITH hashed AS (
          SELECT DISTINCT event_type, user_id,
                 ('0x' || substr(md5('kmv:' || user_id::VARCHAR), 1, 8))::BIGINT AS h
          FROM (SELECT DISTINCT event_type, user_id FROM events)
        ),
        sk AS (
          SELECT event_type, list_sort(list(h)) AS arr FROM (
            SELECT event_type, h,
                   ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS rn
            FROM (SELECT DISTINCT event_type, h FROM hashed)
          ) WHERE rn <= {KMV_K} GROUP BY event_type
        ),
        pairs AS (
          SELECT a.event_type AS type_a, b.event_type AS type_b,
                 a.arr AS arr_a, b.arr AS arr_b,
                 list_slice(list_sort(list_distinct(list_concat(a.arr, b.arr))),
                            1, {KMV_K}) AS merged
          FROM sk a JOIN sk b ON a.event_type < b.event_type
        ),
        est AS (
          SELECT type_a, type_b,
                 CAST(len(merged) AS BIGINT) AS n_merged,
                 CAST(len(list_filter(merged,
                      x -> list_contains(arr_a, x) AND list_contains(arr_b, x)))
                      AS BIGINT) AS kmv_overlap_k
          FROM pairs
        ),
        users AS (SELECT DISTINCT event_type, user_id FROM events),
        inter AS (
          SELECT a.event_type AS type_a, b.event_type AS type_b,
                 COUNT(*) AS exact_inter
          FROM users a
          JOIN users b ON a.user_id = b.user_id AND a.event_type < b.event_type
          GROUP BY 1, 2
        ),
        counts AS (SELECT event_type, COUNT(*) AS n FROM users GROUP BY event_type)
        SELECT e.type_a, e.type_b, e.n_merged, e.kmv_overlap_k,
               CAST(COALESCE(i.exact_inter, 0) AS BIGINT) AS exact_inter,
               CAST(ca.n + cb.n - COALESCE(i.exact_inter, 0) AS BIGINT)
                 AS exact_union
        FROM est e
        LEFT JOIN inter i ON e.type_a = i.type_a AND e.type_b = i.type_b
        JOIN counts ca ON ca.event_type = e.type_a
        JOIN counts cb ON cb.event_type = e.type_b
        ORDER BY e.type_a, e.type_b
    """,
    "sketch_countmin": f"""
        WITH ds AS (SELECT unnest(range({CM_DEPTH})) AS d),
        cells AS (
          SELECT ds.d, {_H32.format(seed="ds.d", key="e.user_id")} % {CM_WIDTH} AS bucket
          FROM events e CROSS JOIN ds
        ),
        sketch AS (SELECT d, bucket, COUNT(*) AS cnt FROM cells GROUP BY d, bucket),
        probes AS (
          SELECT user_id, COUNT(*) AS exact_count FROM events
          WHERE user_id < {CM_PROBE_MAX} GROUP BY user_id
        ),
        pc AS (
          SELECT p.user_id, p.exact_count, ds.d,
                 {_H32.format(seed="ds.d", key="p.user_id")} % {CM_WIDTH} AS bucket
          FROM probes p CROSS JOIN ds
        )
        SELECT pc.user_id,
               CAST(MIN(s.cnt) AS BIGINT) AS est_count,
               CAST(MAX(pc.exact_count) AS BIGINT) AS exact_count
        FROM pc JOIN sketch s ON pc.d = s.d AND pc.bucket = s.bucket
        GROUP BY pc.user_id
    """,
    "sketch_bloom_membership": f"""
        WITH js AS (SELECT unnest(range({BLOOM_K})) AS j),
        corpus AS (SELECT md5(text) AS sig FROM documents WHERE doc_id % 2 = 0),
        batch AS (
          SELECT doc_id, source, md5(text) AS sig FROM documents WHERE doc_id % 2 = 1
        ),
        bloom AS (
          SELECT idx // 32 AS word, bit_or(1::BIGINT << (idx % 32)::INT) AS bits
          FROM (
            SELECT {_H32.format(seed="js.j", key="c.sig")} % {BLOOM_BITS} AS idx
            FROM corpus c CROSS JOIN js
          ) GROUP BY 1
        ),
        probed AS (
          SELECT doc_id, source, sig,
                 MIN(CASE WHEN (bl.bits & (1::BIGINT << (x.idx % 32)::INT)) <> 0
                          THEN 1 ELSE 0 END) AS bloom_positive
          FROM (
            SELECT b.doc_id, b.source, b.sig,
                   {_H32.format(seed="js.j", key="b.sig")} % {BLOOM_BITS} AS idx
            FROM batch b CROSS JOIN js
          ) x
          LEFT JOIN bloom bl ON bl.word = x.idx // 32
          GROUP BY doc_id, source, sig
        ),
        flagged AS (
          SELECT p.source, p.bloom_positive,
                 CASE WHEN p.bloom_positive = 1
                       AND EXISTS (SELECT 1 FROM corpus c WHERE c.sig = p.sig)
                      THEN 1 ELSE 0 END AS is_member
          FROM probed p
        )
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_probed,
               CAST(SUM(bloom_positive) AS BIGINT) AS n_bloom_positive,
               CAST(SUM(is_member) AS BIGINT) AS n_true_member,
               CAST(SUM(CASE WHEN bloom_positive = 1 AND is_member = 0
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_false_positive
        FROM flagged GROUP BY source
    """,
}
