"""Similarity search over the ``embeddings`` table (north-star extension).

- The top-k family (``sim_topk_*``): a block key picks each query's
  candidates (none for the brute-force and quantized flat scans, a
  sign-LSH bucket, an IVF cell), and one exact step ranks them. Every
  variant builds its scored pairs with `_pairs` (broadcast queries, the
  query itself excluded, an equi-join on the block key) and ranks through
  `_topk`, the family's one ranking rule: per query, the best TOP_K by
  (score desc, cand_id). Variants differ only in their frames and score.
- The all-pairs family (`sim_knn_join`, `sim_range_search`,
  `sim_dedup_decisions`, `dedup_semantic_clusters`): every pair within a
  block (a sign-LSH bucket, an IVF cell), then one exact verify. Each
  pairs through `_block_pairs` (the salted block self-join), ranks
  through `_salted_topk` (the two-phase salted top-k) and `_topk`, and
  the duplicate-group contracts decide through `_group_decisions`, which
  the perceptual dedups in `multimodal` share.
- Sign-LSH bucketed ANN: the scale path. Bucket assignment is a pure per-row
  expression against constant ±1 hyperplanes (functions/vectors.py), so at
  100 TB it's a narrow map + one equi-join on (bucket) instead of a cross
  join — candidate volume drops by ~2^n_planes.
- Label-centroid cosine: element-wise vector aggregation (posexplode →
  per-position mean → re-assemble), the building block for IVF coarse
  quantization.

All vector math in double precision with deterministic sequential folds so
the DuckDB oracle (list_dot_product on DOUBLE[]) matches bitwise-to-epsilon.
"""

from __future__ import annotations

import math
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from parquet_near_storage_compute_spark.functions.sql import sql_double
from parquet_near_storage_compute_spark.functions.vectors import (
    as_double,
    cosine,
    dot,
    lsh_bucket,
    norm,
    random_hyperplanes,
    sql_plane_literal,
)
from parquet_near_storage_compute_spark.plans.memo import PlanMemo
from parquet_near_storage_compute_spark.tables import (
    fan_out,
    load_table,
    local_literal_df,
)

#: Query-frame memo: `sim_recall_report` composes five registered top-k
#: variants and `pipeline_modality_dedup_report` composes the embedding
#: decisions — each variant costs 1.5-4 s of eager construction (PQ
#: codebook train collect, occupancy probes, deep-plan analysis) that was
#: re-paid per composite. Every memoized frame is deterministic
#: (EXACTNESS-pinned), so consumers can't observe sharing.
_SIM_MEMO = PlanMemo(tables=("embeddings",))

N_QUERIES = 10  # vec_id < 10 are the query vectors
TOP_K = 3
N_PLANES = 4
DIM = 64

_PLANES = random_hyperplanes(N_PLANES, DIM)


def _vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """vec_id, double vector, precomputed norm (norms are O(n) once here
    instead of O(n·q) inside the scoring join)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return (
        fan_out(emb)
        .selectExpr("vec_id", f"{as_double('embedding')} AS v")
        .selectExpr("*", f"{norm('v')} AS nrm")
    )


def _pairs(
    q: DataFrame,
    c: DataFrame,
    carry: dict[str, str],
    score_sql: str,
    score: str,
    block: str | None = None,
) -> DataFrame:
    """The scored (query_id, cand_id, score) pairs of a top-k variant: the
    N_QUERIES query rows of `q` broadcast against the rows of `c`, the
    query itself excluded. `carry` maps a short name to a column both
    frames hold; the query side carries it as ``q<name>``, the candidate
    side as ``c<name>``, and `score_sql` reads those. `block`, a carried
    name, makes the pairing an equi-join on it (an LSH bucket, an IVF
    cell) instead of a broadcast nested loop."""

    def side(df: DataFrame, key: str, p: str) -> DataFrame:
        return df.selectExpr(
            f"vec_id AS {key}", *(f"{col} AS {p}{n}" for n, col in carry.items())
        )

    on = "query_id != cand_id"
    if block is not None:
        on = f"(q{block} = c{block}) AND ({on})"
    return (
        side(q.where(f"vec_id < {N_QUERIES}"), "query_id", "q")
        .hint("broadcast")
        .join(side(c, "cand_id", "c"), F.expr(on))
        .selectExpr("query_id", "cand_id", f"{score_sql} AS {score}")
    )


def _topk(
    scored: DataFrame,
    score: str,
    k: int = TOP_K,
    part: str = "query_id",
    tie: str = "cand_id",
) -> DataFrame:
    """The top-k family's one ranking rule: per query, the k candidates
    with the highest `score`, ties broken by cand_id, ranked 1..k as INT.
    `part` and `tie` rename the query and candidate columns (`knn_join`
    ranks each member's neighbours by src_id and nbr_id)."""
    return (
        scored.selectExpr(
            "*",
            f"row_number() OVER (PARTITION BY {part} ORDER BY {score} DESC, {tie}) AS rk",
        )
        .where(f"rk <= {k}")
        .selectExpr(part, tie, score, "CAST(rk AS INT) AS rk")
    )


#: The exact cosine over carried vectors ``v`` and norms ``n``.
_COS_CARRY = {"v": "v", "n": "nrm"}
_PAIR_COS = f"({dot('qv', 'cv')} / (qn * cn))"

#: The quantized variants' integer cosine over carried integer codes ``c``
#: (SQ8 codes, PQ lattice or reconstructed codes) and their exact norms²
#: ``n2``: an exact BIGINT dot, one double division, so the oracle matches
#: bit for bit. A zero vector scores -2.0, below every real cosine, where
#: 0/0 would be NaN and sort first.
_PAIR_ICOS = (
    "CASE WHEN qn2 = 0 OR cn2 = 0 THEN -2.0D ELSE "
    "CAST(aggregate(zip_with(qc, cc, (_x, _y) -> CAST(_x AS BIGINT) * _y), "
    "0L, (_acc, _v) -> _acc + _v) AS DOUBLE) "
    "/ sqrt(CAST(qn2 AS DOUBLE) * CAST(cn2 AS DOUBLE)) END"
)


@_SIM_MEMO.memoized("topk_bruteforce")
def topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-k: for each query vector, the k nearest others
    (every pair scored, ranked through `_topk`)."""
    v = _vectors(spark, sf_dir)
    return _topk(_pairs(v, v, _COS_CARRY, _PAIR_COS, "cos_sim"), "cos_sim")


def topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN via sign-LSH blocking: candidates share the query's bucket; top-k
    by exact cosine within the bucket (recall < 1, cost « brute force)."""
    v = _vectors(spark, sf_dir).selectExpr("*", f"{lsh_bucket('v', _PLANES)} AS bucket")
    carry = {**_COS_CARRY, "b": "bucket"}
    scored = _pairs(v, v, carry, _PAIR_COS, "cos_sim", block="b")
    return _topk(scored, "cos_sim")


def topk_numpy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-k via Arrow-batched numpy matmul (mapInPandas).

    The vectorized scoring engine for real embedding widths: queries are
    collected once (tiny), shipped in the closure, and each Arrow batch of
    candidates is scored as one BLAS matmul — per-row Python cost ~zero.
    Per-batch local top-k keeps the shuffle to (batches × queries × k) rows;
    `_topk` merges them. Same results as topk_bruteforce (modulo
    float summation order, far below comparison epsilon).
    """
    import numpy as np

    emb = load_table(spark, sf_dir, "embeddings")
    qrows = (
        emb.filter(F.col("vec_id") < N_QUERIES)
        .select("vec_id", "embedding")
        .collect()
    )
    q_ids = np.array([r.vec_id for r in qrows], dtype=np.int64)
    Q = np.array([r.embedding for r in qrows], dtype=np.float64)
    Qn = np.sqrt((Q * Q).sum(axis=1))

    def score(batches):
        import pandas as pd

        for pdf in batches:
            C = np.array(list(pdf["embedding"]), dtype=np.float64)
            ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            Cn = np.sqrt((C * C).sum(axis=1))
            cos = (C @ Q.T) / np.outer(Cn, Qn)  # (batch, n_queries)
            out_q, out_c, out_s = [], [], []
            for j in range(len(q_ids)):
                col = cos[:, j]
                mask = ids != q_ids[j]
                cand_ids, vals = ids[mask], col[mask]
                if len(vals) == 0:
                    continue
                k = min(TOP_K, len(vals))
                # local top-k (order by cos desc, id asc for determinism)
                order = np.lexsort((cand_ids, -vals))[:k]
                out_q.extend([q_ids[j]] * k)
                out_c.extend(cand_ids[order])
                out_s.extend(vals[order])
            yield pd.DataFrame(
                {"query_id": out_q, "cand_id": out_c, "cos_sim": out_s}
            )

    scored = fan_out(emb).select("vec_id", "embedding").mapInPandas(
        score, "query_id bigint, cand_id bigint, cos_sim double"
    )
    return _topk(scored, "cos_sim")


#: What the SQ8 variants carry into `_PAIR_ICOS`.
_SQ8_CARRY = {"c": "code", "n2": "n2"}


def _sq8_codes(v: DataFrame) -> DataFrame:
    """Symmetric per-vector int8 scalar quantization (the FAISS "SQ8 flat"
    layout): scale = max|v_i|, code_i = floor(v_i·127/scale + 0.5) ∈
    [−127, 127]. Everything downstream is integer algebra: code norms² are
    exact longs, code dots are exact longs, and the approximate cosine
    dot/√(n2a·n2b) is a double derived from integers only — so the DuckDB
    oracle matches BIT-FOR-BIT, not merely to epsilon (the per-vector
    scale cancels out of the cosine entirely). floor(x+0.5) is spelled on
    both engines instead of round() to pin half-up semantics."""
    return (
        v.withColumn(
            "scale",
            F.aggregate(
                "v",
                F.lit(0.0),
                lambda acc, x: F.greatest(acc, F.abs(x)),
            ),
        )
        .withColumn(
            "code",
            F.expr(
                "transform(v, x -> CASE WHEN scale = 0.0D THEN 0 "
                "ELSE CAST(floor(x * 127.0D / scale + 0.5D) AS INT) END)"
            ),
        )
        .withColumn(
            "n2",
            F.expr(
                "aggregate(code, 0L, (acc, x) -> acc + CAST(x AS BIGINT) * x)"
            ),
        )
        .select("vec_id", "code", "n2")
    )


@_SIM_MEMO.memoized("topk_sq8")
def topk_sq8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN via int8 scalar quantization (SQ8 flat scan) — the memory-
    bandwidth scale path, complementing the blocking scale paths (LSH
    buckets, IVF lists): at 100 TB of float32 embeddings the SQ8 code
    table is 4× smaller, the scan is integer SIMD, and the quantization
    pass is a one-off narrow map (here inlined; a production pipeline
    materializes the code table once and scans it for every query batch).
    Composable with IVF — quantize within lists — which is exactly the
    FAISS IVF-SQ8 design this mirrors.

    Scoring is exact integer work over the codes (see `_sq8_codes`), so
    unlike every float ANN variant the DuckDB oracle matches bit-for-bit
    — including rank ties, which `_topk` breaks deterministically by
    cand_id. Recall vs exact float cosine is fixture-measured in
    tests/test_sq8_topk.py (28/30 = 93% at sf0.001 — the misses are
    neighbours whose exact-cosine gap is inside SQ8's ~1e-2 relative
    quantization error, the standard SQ8 trade)."""
    codes = _sq8_codes(_vectors(spark, sf_dir).select("vec_id", "v"))
    scored = _pairs(codes, codes, _SQ8_CARRY, _PAIR_ICOS, "cos_sq8")
    return _topk(scored, "cos_sq8")


def _label_centroids(emb: DataFrame) -> DataFrame:
    """label → element-wise mean vector (the IVF coarse codebook; here the
    labels seed the cells — production would k-means iterate the same op)."""
    v = emb.select("vec_id", "label", F.posexplode(F.expr(as_double("embedding"))))
    return (
        v.groupBy("label", "pos")
        .agg(F.avg("col").alias("c"))
        .groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "c"))).alias("pc"))
        .select(
            F.col("label").alias("cell"),
            F.transform("pc", lambda x: x.getField("c")).alias("centroid"),
        )
    )


def _ranked_cells(emb: DataFrame, max_rank: int = 1) -> DataFrame:
    """The IVF family's shared coarse-assignment step (`sim_topk_ivf*`,
    `dedup_semantic_clusters`): every vector scored against the broadcast
    label-centroid codebook in one narrow pass, cells ranked per vector by
    (cosine desc, cell id). Columns: vec_id, v, nrm, cell, cell_cos, crk
    (≤ max_rank); callers select what they carry — Catalyst prunes the
    rest. ONE implementation so a fix to the tie-break or the cosine can
    never leave the five consumers divergent.

    The ranking is a per-row array_sort over a
    ONE-ROW broadcast codebook array instead of a |vectors|·|cells|
    crossJoin fan-out followed by a row_number window (whose
    partitionBy(vec_id) forced an Exchange + Sort of the fanned-out
    product in every IVF consumer). The comparator replicates the
    window's (cell_cos DESC NULLS LAST, cell ASC) ordering including
    Spark's double total order (NaN greatest → first under DESC, NULLs
    last); the cosine expression is built from the SAME dot/norm helpers,
    so the floats are bit-identical."""
    cents = _label_centroids(emb)
    cbk = cents.agg(F.collect_list(F.struct("cell", "centroid")).alias("cbk"))
    v = fan_out(emb).select(
        "vec_id", F.expr(f"{as_double('embedding')} AS v")
    ).withColumn("nrm", F.expr(norm("v")))

    # one codebook entry's (cosine, cell)
    score = (
        f"_c -> struct(({dot('v', '_c.centroid')} / (nrm * {norm('_c.centroid')})) AS cc, "
        "_c.cell AS cell)"
    )

    def _cmp(left, right):
        lc, rc = left["cc"], right["cc"]
        tie = (
            F.when(left["cell"] < right["cell"], F.lit(-1))
            .when(left["cell"] > right["cell"], F.lit(1))
            .otherwise(F.lit(0))
        )
        return (
            F.when(lc.isNull() & rc.isNull(), tie)
            .when(lc.isNull(), F.lit(1))
            .when(rc.isNull(), F.lit(-1))
            .when((lc == rc) | (F.isnan(lc) & F.isnan(rc)), tie)
            .when(F.isnan(lc), F.lit(-1))
            .when(F.isnan(rc), F.lit(1))
            .when(lc > rc, F.lit(-1))
            .otherwise(F.lit(1))
        )

    ranked = v.crossJoin(F.broadcast(cbk)).withColumn(
        "rc",
        F.slice(
            F.array_sort(F.expr(f"transform(cbk, {score})"), _cmp), 1, max_rank
        ),
    )
    return ranked.select(
        "vec_id", "v", "nrm", F.posexplode("rc").alias("i", "e")
    ).select(
        "vec_id",
        "v",
        "nrm",
        F.col("e.cell").alias("cell"),
        F.col("e.cc").alias("cell_cos"),
        (F.col("i") + 1).alias("crk"),
    )


def topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: assign every vector to its nearest coarse centroid
    (broadcast codebook, one narrow pass), then search only within the
    query's cell. At scale this is the inverted-file layout: cells are the
    partition key, the probe touches 1/k of the data."""
    emb = load_table(spark, sf_dir, "embeddings")
    # persisted: both join sides consume the assignment — without the
    # cache each side re-scans the corpus and re-runs the codebook pass
    assigned = _ranked_cells(emb).select("vec_id", "v", "nrm", "cell").persist()
    carry = {**_COS_CARRY, "cell": "cell"}
    scored = _pairs(assigned, assigned, carry, _PAIR_COS, "cos_sim", block="cell")
    return _topk(scored, "cos_sim")


@_SIM_MEMO.memoized("topk_ivf_sq8")
def topk_ivf_sq8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-SQ8 ANN (FAISS IVFScalarQuantizer with by_residual=false): the
    two scale levers composed — the inverted-file layout bounds WHAT is
    scanned (the query's coarse cell, 1/k of the data, cells = partition
    key at 100 TB), the SQ8 codes bound the BANDWIDTH of scanning it (4×
    smaller rows, integer SIMD). Assignment is `sim_topk_ivf`'s exact
    coarse step (broadcast label-centroid codebook, one narrow pass);
    scoring within the cell is `sim_topk_sq8`'s exact integer algebra, so
    the in-cell ranking — ties included — is still bit-deterministic
    across engines and partitionings. by_residual=false (codes quantize
    the raw vectors, not centroid residuals) is what keeps scoring
    integer-exact; residual coding would trade that for recall."""
    emb = load_table(spark, sf_dir, "embeddings")
    assigned = _ranked_cells(emb).select("vec_id", "v", "cell")
    # persisted: the code table feeds both join sides — without the
    # cache each side re-scans the corpus and re-runs the centroid
    # assignment + quantization (8 corpus scans in the executed plan);
    # with it the corpus is read once for codes and once for centroids.
    # At 100 TB this cache IS the materialized SQ8 code table a real
    # deployment writes next to the embeddings.
    codes = (
        _sq8_codes(assigned.select("vec_id", "v"))
        .join(assigned.select("vec_id", "cell"), "vec_id")
        .persist()
    )
    carry = {**_SQ8_CARRY, "cell": "cell"}
    scored = _pairs(codes, codes, carry, _PAIR_ICOS, "cos_sq8", block="cell")
    return _topk(scored, "cos_sq8")


def bucket_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH bucket occupancy — the tuning observable for plane count (skew in
    this histogram = skew in the ANN join). Buckets with n_vectors >
    KNN_BUCKET_CAP are exactly the ones `sim_knn_join` bounds to the
    KNN_PILOT pilot set, so this histogram is also the capping
    observable: compare it against the cap to see where and how hard the
    bound binds."""
    v = _vectors(spark, sf_dir).withColumn("bucket", F.expr(lsh_bucket("v", _PLANES)))
    return v.groupBy("bucket").agg(F.count(F.lit(1)).alias("n_vectors"))


def label_centroid_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid (element-wise mean), then each vector's cosine to
    its own centroid, averaged per label — IVF-style coarse structure."""
    emb = load_table(spark, sf_dir, "embeddings")
    cent = _label_centroids(emb).selectExpr("cell AS label", "centroid")
    vv = emb.select("vec_id", "label", F.expr(f"{as_double('embedding')} AS v"))
    joined = vv.join(F.broadcast(cent), "label")
    return (
        joined.select(
            "label", F.expr(f"{cosine('v', 'centroid')} AS cos_to_centroid")
        )
        .groupBy("label")
        .agg(
            F.avg("cos_to_centroid").alias("avg_cos"),
            F.count(F.lit(1)).alias("n_vectors"),
        )
    )


#: Salt factor for the all-pairs self-joins (`_block_pairs`): one block's
#: O(b²) candidate volume is split across KNN_SALT tasks, bounding
#: per-task work by b²/KNN_SALT.  Exact — top-k merges associatively, so
#: local top-k per (src_id, salt) followed by a global top-k per src_id
#: returns exactly the unsalted result (`_salted_topk`; same device as
#: window_topk_per_group).
KNN_SALT = 8

#: Occupancy bound for the kNN candidate enumeration: a bucket with more
#: members than this enumerates only a bounded pilot set as neighbour
#: candidates, so its candidate volume is b·KNN_PILOT (linear in bucket
#: size) instead of b².  Chosen above the sf0.1 1× maximum (162), so the
#: bound never binds at contract/bench scale and binds at the ≥10×
#: adversarial rungs (max bucket ~1620 at 10×).
KNN_BUCKET_CAP = 512
#: Pilot-set size for over-cap buckets: the KNN_PILOT smallest vec_ids of
#: the bucket.  Deterministic (so the DuckDB oracle re-derives the exact
#: same set) and ≫ TOP_K, so every member still receives a full top-k.
KNN_PILOT = 64


def _block_pairs(
    a: DataFrame, b: DataFrame, carry: dict[str, str], rel: str
) -> DataFrame:
    """Every (a, b) row pair that shares a block — the pairing step of the
    all-pairs family (`sim_knn_join`, `sim_range_search`,
    `sim_dedup_decisions`, `dedup_semantic_clusters`). `carry` maps a
    short name to a column both frames hold; the a side carries it as
    ``a<name>``, the b side as ``b<name>``. ``id`` (the row id) and
    ``blk`` (the block key: a sign-LSH bucket, an IVF cell) are required.

    The pairing is an equi-join on (blk, salt) with ``aid <rel> bid``
    (``!=`` gives ordered pairs, ``<`` each unordered pair once). The a
    side is replicated over every salt 0..KNN_SALT-1 and the b side takes
    the one salt pmod(bid, KNN_SALT), so each pair meets exactly once and
    one hot block's pairs spread over KNN_SALT tasks. The a side's salt
    stays in the result as ``salt`` (`_salted_topk` ranks per it)."""

    def side(df: DataFrame, p: str, salt: str) -> DataFrame:
        return df.selectExpr(*(f"{col} AS {p}{n}" for n, col in carry.items()), salt)

    return side(a, "a", f"explode(sequence(0, {KNN_SALT - 1})) AS salt").join(
        side(b, "b", f"pmod({carry['id']}, {KNN_SALT}) AS bsalt"),
        F.expr(f"ablk = bblk AND salt = bsalt AND aid {rel} bid"),
    )


#: What the vector pairings carry into `_block_pairs`, and the exact
#: cosine of a pair over the carried vectors ``v`` and norms ``n``.
_BLOCK_CARRY = {"id": "vec_id", "blk": "bucket", "v": "v", "n": "nrm"}
_BLOCK_COS = f"({dot('av', 'bv')} / (an * bn))"


def _salted_topk(
    df: DataFrame, part: str, salt: str, order: str, k: int, keep: str = "false"
) -> DataFrame:
    """The two-phase salted top-k: the first k rows by `order` per
    (`part`, `salt`), then the first k of those ≤ KNN_SALT·k rows per
    `part`. Exact (top-k merges associatively), and no task ever sorts a
    whole hot part. Rows where `keep` holds bypass both cuts — the
    over-cap pilot rule's in-cap members. `salt` is a column or an
    expression; the result is `df`'s rows plus ``rk``, the rank within
    `part`."""

    def ranked(frame: DataFrame, by: str) -> DataFrame:
        return frame.selectExpr(
            "*", f"row_number() OVER (PARTITION BY {by} ORDER BY {order}) AS rk"
        ).where(f"({keep}) OR rk <= {k}")

    return ranked(ranked(df, f"{part}, {salt}").drop("rk"), part)


def _group_decisions(
    members: DataFrame,
    groups: DataFrame,
    key: list[str],
    id_col: str,
    partners: DataFrame,
) -> DataFrame:
    """The duplicate-group decision rule of `sim_dedup_decisions` and the
    perceptual dedups (`multimodal._sig_neardup_decisions`). `groups` has
    one row per distinct `key` value with rep_id (its minimum member id)
    and m (its multiplicity); `partners` has directed (rep_id,
    partner_rep, partner_m) rows, one per ordered pair of similar groups.
    Each `members` row, joined to its group on `key`, gets

      n_partners = (m − 1) + Σ partner_m
      keep ⇔ its `id_col` is the group's rep AND no similar group has a
             smaller rep."""
    stats = partners.groupBy("rep_id").agg(
        F.sum("partner_m").alias("ext"), F.min("partner_rep").alias("min_rep")
    )
    dec = groups.join(stats, "rep_id", "left").selectExpr(
        *key, "rep_id", "(m - 1) + coalesce(ext, 0) AS n_partners", "min_rep"
    )
    return members.join(dec, key).selectExpr(
        "*", f"{id_col} = rep_id AND (min_rep IS NULL OR min_rep > rep_id) AS keep"
    )


def _nbr_candidates(v: DataFrame, max_bucket: int | None = None) -> DataFrame:
    """Neighbour candidate set with bounded per-bucket enumeration.

    In-cap buckets (≤ KNN_BUCKET_CAP members) contribute every member;
    over-cap buckets contribute only the bucket's KNN_PILOT smallest
    vec_ids.  This is the dedup-style hard cap applied to ANN: on
    duplicate-heavy corpora over-cap buckets are driven by exact-duplicate
    vectors, which sign-LSH refinement provably cannot split (identical
    vectors have identical signs on EVERY hyperplane), so extra planes
    would not bound occupancy — a bounded pilot enumeration does, and for
    duplicate-driven buckets the pilots are near-perfect representatives
    (every member finds its cos≈1 neighbours among them).

    Shape: bucket sizes are a ≤2^N_PLANES-row aggregate, probed eagerly
    (one narrow pass, AQE-style statistics) — when no bucket exceeds the
    cap the function returns ``v`` unchanged and the plan is identical to
    the uncapped one.  Callers that already probed bucket occupancy pass
    ``max_bucket`` to skip the probe job: ``knn_join`` folds the
    duplicate probe and both occupancy probes into ONE aggregation, so
    construction runs one statistics job instead of up to three (each
    probe is a Spark job paid on every build).  When the cap binds,
    pilots are selected with `_salted_topk` (local k-min per (bucket,
    salt) → global k-min per bucket over ≤ KNN_SALT·KNN_PILOT rows),
    never a single-task whole-bucket sort."""
    sizes = v.groupBy("bucket").agg(F.count(F.lit(1)).alias("n_in_bucket"))
    if max_bucket is None:
        max_bucket = sizes.agg(F.max("n_in_bucket")).collect()[0][0] or 0
    if max_bucket <= KNN_BUCKET_CAP:
        return v
    return _salted_topk(
        v.join(F.broadcast(sizes), "bucket"),
        "bucket",
        f"pmod(vec_id, {KNN_SALT})",
        "vec_id",
        KNN_PILOT,
        keep=f"n_in_bucket <= {KNN_BUCKET_CAP}",
    ).drop("rk", "n_in_bucket")


#: Member ids stored per duplicate group: TOP_K neighbours plus one spare
#: for self-exclusion.
KNN_GROUP_IDS = TOP_K + 1
#: Candidate groups gathered per source group: TOP_K plus one spare for
#: the self-exclusion boundary case (see the coverage lemma in knn_join).
KNN_GROUP_FANOUT = TOP_K + 1


def _value_groups(v: DataFrame) -> DataFrame:
    """Collapse exact-duplicate vectors to one row per distinct VALUE:
    (v, bucket, rep_id = min member id, m = multiplicity, ids = the
    KNN_GROUP_IDS smallest member ids).  Grouping keys are the vector
    arrays themselves — engine-mirrorable (DuckDB GROUP BY DOUBLE[]),
    no string-format hashing.  Member-id selection is `_salted_topk`'s
    two-phase k-min, so a million-copy group never sorts in one task;
    the per-group stats aggregate is map-side combinable."""
    ids = (
        _salted_topk(
            v.select("v", "vec_id"),
            "v",
            f"pmod(vec_id, {KNN_SALT})",
            "vec_id",
            KNN_GROUP_IDS,
        )
        .groupBy("v")
        .agg(F.sort_array(F.collect_list("vec_id")).alias("ids"))
    )
    stats = v.groupBy("v", "bucket").agg(
        F.min("vec_id").alias("rep_id"),
        F.count(F.lit(1)).alias("m"),
        F.min("nrm").alias("nrm"),  # identical for all members
    )
    return stats.join(ids, "v")


def _member_level_knn(v: DataFrame, max_bucket: int | None = None) -> DataFrame:
    """The direct salted bucket join: exact when the corpus has no
    exact-duplicate vectors — then the value collapse is the identity
    and this plan skips its machinery. `_nbr_candidates` still bounds
    bucket occupancy (= distinct occupancy here)."""
    nbrs = _nbr_candidates(v, max_bucket)
    scored = _block_pairs(v, nbrs, _BLOCK_CARRY, "!=").selectExpr(
        "aid AS src_id", "salt", "bid AS nbr_id", f"{_BLOCK_COS} AS cos_sim"
    )
    return _salted_topk(
        scored, "src_id", "salt", "cos_sim DESC, nbr_id", TOP_K
    ).selectExpr("src_id", "nbr_id", "cos_sim", "CAST(rk AS INT) AS rk")


def knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN-graph construction: top-k neighbours for EVERY vector among its
    sign-LSH bucket-mates — the self-join form of ANN (the `sim_topk_*`
    family ranks against a small query set; this builds the full graph
    that embedding clustering / near-dup detection consumes).

    Duplicate collapse: exact-duplicate vectors — the dominant mass of
    duplicate-heavy corpora — are collapsed to one group per distinct
    VALUE before any pair work, and the member-level graph is
    reconstructed EXACTLY afterwards.  This replaced an earlier
    member-level pilot cap, whose measured edge recall at 10× replication
    was 15% — pilots cannot contain most members' own duplicates.  The
    reconstruction is exact because cosine is constant on value groups:
    for a source member, candidate members order by (cos DESC, id), so
    the top-k comes from at most KNN_GROUP_FANOUT candidate GROUPS
    (coverage lemma: if the k-th chosen id lives in group G, fewer than k
    ids precede it, so at most k−1 groups have a smaller min id than G —
    k groups by (cos, rep_id) suffice; +1 spare covers the member
    excluded as self), each contributing at most its KNN_GROUP_IDS
    smallest member ids.  Own-group duplicates enter as a candidate with
    the SAME computed self-cosine expression the member-level oracle
    produces (dot(v,v)/(nrm·nrm) — deterministic, not assumed 1.0).

    Shape: a one-aggregate duplicate probe first — on a duplicate-FREE
    corpus (every contract/bench corpus) the collapse is the identity, so
    the direct member-level salted join runs instead (identical result,
    none of the collapse cost).  Otherwise: value-group collapse (two
    narrow shuffles on v, persisted — one row per DISTINCT value) →
    salted rep-level bucket join (`_block_pairs`) with ``_nbr_candidates``
    bounding DISTINCT occupancy (the cap is now a distinct-density
    backstop: duplication can never re-inflate a bucket) → two-phase
    top-group selection (`_salted_topk`) → a bounded expansion join
    (≤ KNN_GROUP_FANOUT·KNN_GROUP_IDS candidate rows per source member) →
    the final member window (`_topk`).  Pair work is
    O(Σ min(distinct_b, pilot)·distinct_b): measured duplication-INVARIANT
    (261 364 rep pairs at 10×, 30× AND 100× replication), and the result
    is bit-identical to the uncapped member-level graph whenever the
    distinct-density cap doesn't bind (measured: edge recall 100% at 10×,
    vs 15% for the superseded member-level pilot-cap design)."""
    v = _vectors(spark, sf_dir).withColumn(
        "bucket", F.expr(lsh_bucket("v", _PLANES))
    )
    # cheap duplicate probe (AQE-style eager statistic): count distinct
    # VALUES vs members (exact distinct on the vector itself — no hash,
    # so the cap decision below cannot be fooled by a collision).
    # Equality proves the corpus duplicate-free, so the value collapse is
    # the identity and the direct member-level plan is the same result.
    # ONE per-bucket aggregation yields the duplicate stats AND both
    # occupancy maxima (identical values share a bucket, so per-bucket
    # distincts partition the distinct set), so construction runs one
    # probe job, not three; _nbr_candidates then skips its own probe on
    # both paths.
    stats = (
        v.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("nb"),
            F.countDistinct(F.col("v")).alias("db"),
        )
        .agg(
            F.sum("nb").alias("n"),
            F.sum("db").alias("d"),
            F.max("nb").alias("max_members"),
            F.max("db").alias("max_distinct"),
        )
        .collect()[0]
    )
    if stats.d == stats.n:
        return _member_level_knn(v, max_bucket=stats.max_members)
    # the group frame feeds five consumers (cap probe, both join sides,
    # self-candidates, expansion ids, member mapping) — persist it, or
    # each consumer re-runs the collapse (scan + shuffle + window); the
    # frame is one row per DISTINCT value, so the cache is corpus-size
    # independent under duplication (same device as dedup's bands cache)
    groups = _value_groups(v).persist()
    reps = groups.selectExpr("rep_id AS vec_id", "v", "nrm", "bucket")
    nbr_groups = _nbr_candidates(reps, max_bucket=stats.max_distinct)
    cross = _block_pairs(reps, nbr_groups, _BLOCK_CARRY, "!=").selectExpr(
        "aid AS ga", "salt", "bid AS gb", f"{_BLOCK_COS} AS cos_sim"
    )
    # own group as a candidate (multiplicity ≥ 2): the self-cosine is the
    # SAME expression the member-level computation would produce
    self_cand = groups.where("m >= 2").selectExpr(
        "rep_id AS ga",
        "0 AS salt",
        "rep_id AS gb",
        f"({dot('v', 'v')} / (nrm * nrm)) AS cos_sim",
    )
    top_groups = _salted_topk(
        cross.unionByName(self_cand), "ga", "salt", "cos_sim DESC, gb", KNN_GROUP_FANOUT
    )
    # bounded expansion: candidate member ids of each selected group
    cand_members = top_groups.join(
        groups.selectExpr("rep_id AS gb", "ids AS b_ids"), "gb"
    ).selectExpr("ga", "cos_sim", "explode(b_ids) AS nbr_id")
    # source members × their group's candidates (≤ FANOUT·GROUP_IDS rows each)
    members = v.join(groups.selectExpr("v", "rep_id AS ga"), "v").selectExpr(
        "vec_id AS src_id", "ga"
    )
    expanded = members.join(cand_members, "ga").where("src_id != nbr_id")
    return _topk(expanded, "cos_sim", part="src_id", tie="nbr_id")


#: Cosine threshold for range search — picked against the corpus: random
#: 64-dim cosines have p99 ≈ 0.29, so ≥ 0.30 marks genuinely-similar
#: pairs while keeping the pair set sparse.
COS_RANGE_THRESHOLD = 0.30


def range_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Threshold range search: ALL vector pairs with cosine ≥ τ among
    sign-LSH bucket-mates — the semantic-dedup form of ANN (top-k asks
    "who are my k nearest"; dedup asks "who is closer than τ", and the
    answer set drives drop decisions exactly like MinHash pairs drive
    near-dup removal).

    Shape: the kNN join's salted bucket pairing (`_block_pairs`) with a
    thresholded filter instead of a top-k window — no window at all, so
    the only post-join work is the predicate. The vec_a < vec_b relation
    emits each unordered pair once. Exact within a bucket; recall across
    hyperplanes trades as in `sim_topk_lsh`. The output is an unordered
    pair SET (consumers key on the pair, the contract compare is
    order-insensitive): no terminal sort — at scale that would be a
    range-partitioned global sort over the full Θ(pairs) frame for
    presentation only."""
    v = _vectors(spark, sf_dir).withColumn(
        "bucket", F.expr(lsh_bucket("v", _PLANES))
    )
    return (
        _block_pairs(v, v, _BLOCK_CARRY, "<")
        .selectExpr("aid AS vec_a", "bid AS vec_b", f"{_BLOCK_COS} AS cos_sim")
        .where(f"cos_sim >= {sql_double(COS_RANGE_THRESHOLD)}")
    )


@_SIM_MEMO.memoized("dedup_decisions")
def embedding_dedup_decisions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector keep/drop decisions for the ≥τ cosine relation — the
    actionable step for embedding-space dedup, mirroring
    `minhash_dedup_decisions` for the text modality: drop the higher
    vec_id of every similar pair (min-id-wins), report each vector's
    partner count as the dedup-pressure observable.

    Scale shape: exact-duplicate vectors — the dominant mass on
    duplicate-heavy corpora, where the member-level pair set is
    Θ(Σ duplicates²) BY DEFINITION — are collapsed to (representative =
    min vec_id, multiplicity) groups BEFORE any pair work, keyed on an
    engine-internal md5 of the vector bytes.  The ≥τ relation is constant
    on duplicate groups (every member shares the exact value), so the
    member-level answers are exact group-level algebra (`_group_decisions`):

      n_partners(member of g) = (m_g − 1) + Σ_{g'≠g, g'~g} m_{g'}
      keep(x) = x is g's min id AND no similar group has a smaller min id

    The pair search then runs over DISTINCT vectors only (the salted
    sign-LSH bucket pairing of `sim_range_search`, `_block_pairs`), so
    pair work is constant in duplication and the member-side cost is two
    narrow joins — while the DuckDB oracle stays the brute member-level
    definition, proving the collapse is semantics-preserving at any
    scale. Integer outputs. The group frame is persisted — its consumers
    otherwise re-run the collapse.  (No duplicate-free fast path here,
    unlike `knn_join`: measured at sf0.1, the member-level alternative —
    range_search's SORTED pair listing + endpoint reduction — is slower
    than the collapse even with zero duplicates, 2.97 s vs 2.34 s.)
    """
    emb = load_table(spark, sf_dir, "embeddings")
    # persisted: three consumers (group collapse, rep selection, the
    # final member mapping) otherwise each re-scan the corpus and re-hash
    # every vector — 3× I/O + 3× md5 at 100 TB for one narrow projection
    mem = (
        fan_out(emb)
        .select(
            "vec_id",
            F.col("label").cast("int").alias("label"),
            F.expr(f"{as_double('embedding')} AS v"),
        )
        .withColumn("gsig", F.md5(F.col("v").cast("string")))
        .persist()
    )
    groups = mem.groupBy("gsig").agg(
        F.min("vec_id").alias("rep_id"), F.count(F.lit(1)).alias("m")
    ).persist()
    reps = (
        mem.join(groups, "gsig")
        .filter(F.col("vec_id") == F.col("rep_id"))
        .select("gsig", "rep_id", "m", "v")
        .withColumn("nrm", F.expr(norm("v")))
        .withColumn("bucket", F.expr(lsh_bucket("v", _PLANES)))
    )
    carry = {**_BLOCK_CARRY, "id": "rep_id", "m": "m"}
    partners = (
        _block_pairs(reps, reps, carry, "!=")
        .where(f"{_BLOCK_COS} >= {sql_double(COS_RANGE_THRESHOLD)}")
        .selectExpr("aid AS rep_id", "bid AS partner_rep", "bm AS partner_m")
    )
    return _group_decisions(mem, groups, ["gsig"], "vec_id", partners).selectExpr(
        "vec_id", "label", "n_partners", "CASE WHEN keep THEN 1 ELSE 0 END AS keep"
    )


#: SemDeDup cosine threshold: within a coarse cluster, a vector with an
#: eps-similar neighbour of higher keep-priority is a semantic duplicate.
#: 0.35 sits in this synthetic corpus's real similarity range (drop rates
#: 11–35% across SFs) with a fixture-measured float margin to the nearest
#: pair cosine (tests/test_semdedup_pq.py).
SEMDEDUP_EPS = 0.35


def semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): cluster the embedding space coarsely, then WITHIN
    each cluster drop every vector that has an eps-cosine-similar
    neighbour of higher keep-priority.  Completes the dedup ladder the
    exact/MinHash/SimHash/pHash contracts climb: those catch literal and
    near-literal copies, this catches *semantically redundant* documents
    whose text differs — the curation step the SemDeDup paper measured as
    the largest quality-per-token win on LAION/C4-scale corpora.

    Keep-priority is the paper's policy: prefer the vector FARTHEST from
    its cluster centroid (low centroid-cosine first; ties by vec_id), so
    kept exemplars spread to the cluster boundary instead of piling at
    the mode.  Priority is the lexicographic tuple (cell_cos, vec_id)
    compared PAIRWISE inside the join — no per-cell row_number ranking,
    hence no per-cell total sort at scale.

    100 TB shape, in order of attack:
    - Coarse cells are the blocking key (SemDeDup picks k ∝ corpus
      size, so expected cell occupancy — and with it the distinct-pair
      volume — stays bounded).
    - Exact-duplicate vectors — the dominant mass of duplicate-heavy
      corpora, which a fixed-k replication would otherwise grow
      QUADRATICALLY in pair volume — are collapsed to one group per
      distinct VALUE before any pair work (`knn_join`'s value-group
      device), so the within-cell pair join is over distinct values only
      and the pair volume is duplication-INVARIANT.  Member-level
      decisions are then reconstructed EXACTLY in closed form: a member's
      own-group witnesses are precisely its smaller-id co-members
      (identical vectors share cell and centroid-cosine bitwise, and
      cos(v,v) ≥ eps always), so n_own = rank-within-group − 1 and the
      witness is the group minimum — linear per member, no pair
      enumeration.  The rare cross-group centroid-cosine TIE (two
      distinct values, equal cc — the priority comparison falls through
      to member ids) gets a member-level fallback join over just the
      tied group pairs.  The DuckDB oracle stays the brute member-level
      rule, so the green contract PROVES the collapse
      semantics-preserving.
    - The group pair join is the kNN join's salted pairing
      (`_block_pairs`, cell as the block); the per-member rank window
      runs only over multi-member groups (one task per duplicate group —
      LINEAR in group size, vs the quadratic pair blow-up it replaces);
      the evidence aggregates are map-side combinable.  The assignment
      frame feeds the group collapse and the final mapping, so it is
      persisted — at scale it IS the materialized cluster-assignment
      table a real pipeline writes.

    Output per vector: cell, centroid-cosine, keep flag, the minimum-id
    higher-priority witness that dropped it (NULL if kept), and the
    witness count."""
    emb = load_table(spark, sf_dir, "embeddings")
    assigned = (
        _ranked_cells(emb)
        .select("vec_id", "v", "nrm", "cell", "cell_cos")
        .persist()
    )
    # ---- value-group collapse: one row per distinct vector value.
    # cell / cell_cos / nrm are functions of the value (identical members
    # get bitwise-identical assignments), so min() just picks the shared
    # value; gid = the group's minimum member id (unique per group).
    g = (
        assigned.groupBy("v")
        .agg(
            F.min("vec_id").alias("gid"),
            F.count(F.lit(1)).alias("m"),
            F.min("nrm").alias("nrm"),
            F.min("cell").alias("cell"),
            F.min("cell_cos").alias("cc"),
        )
        .persist()
    )
    carry = {**_BLOCK_CARRY, "id": "gid", "blk": "cell", "m": "m", "cc": "cc"}
    # zero-norm guard: 0/0 = NaN, which Spark compares false but DuckDB
    # ORDERs above all values — requiring an, bn > 0 on BOTH engines
    # keeps the contract total on arbitrary vectors.
    pairs = _block_pairs(g, g, carry, "!=").where(
        f"an > 0 AND bn > 0 AND {_BLOCK_COS} >= {sql_double(SEMDEDUP_EPS)}"
    )
    # strict-priority witness groups: every member of H qualifies against
    # every member of the target group
    strict = (
        pairs.where("bcc < acc")
        .groupBy("aid")
        .agg(
            F.sum("bm").alias("n_strict"),
            F.min("bid").alias("w_strict"),
        )
    )
    # cc-tie edges (distinct values, bitwise-equal centroid cosine): the
    # priority falls through to member ids — member-level fallback over
    # just these group pairs (empty on both the fixed and random corpora;
    # the branch exists for exactness, and tests construct one)
    tie_b = (
        pairs.where("bcc = acc")
        .selectExpr("aid", "bv AS v")
        .join(assigned.selectExpr("v", "vec_id AS b_id"), "v")
        .select("aid", "b_id")
    )
    # ---- member-level reconstruction
    mem = assigned.select("vec_id", "v", "cell", "cell_cos").join(
        g.select("v", "gid", "m"), "v"
    )
    singles = mem.filter(F.col("m") == 1).withColumn("rk", F.lit(1))
    multis = mem.filter(F.col("m") >= 2).selectExpr(
        "*", "row_number() OVER (PARTITION BY v ORDER BY vec_id) AS rk"
    )
    memr = singles.unionByName(multis)
    tie_ev = (
        memr.select("vec_id", "gid")
        .join(tie_b, F.col("gid") == F.col("aid"))
        .filter(F.col("b_id") < F.col("vec_id"))
        .groupBy("vec_id")
        .agg(F.count(F.lit(1)).alias("n_tie"), F.min("b_id").alias("w_tie"))
    )
    out = (
        memr.join(strict, memr["gid"] == strict["aid"], "left")
        .drop("aid")
        .join(tie_ev, "vec_id", "left")
        .withColumn(
            "n_closer_dups",
            (F.col("rk") - 1)
            + F.coalesce("n_strict", F.lit(0))
            + F.coalesce("n_tie", F.lit(0)),
        )
        .withColumn(
            "dropped_by",
            F.least(
                F.when(F.col("rk") > 1, F.col("gid")),
                F.col("w_strict"),
                F.col("w_tie"),
            ),
        )
    )
    return out.select(
        "vec_id",
        F.col("cell").cast("int").alias("cell"),
        "cell_cos",
        F.when(F.col("n_closer_dups") == 0, F.lit(1))
        .otherwise(F.lit(0))
        .alias("keep"),
        "dropped_by",
        F.col("n_closer_dups").cast("bigint").alias("n_closer_dups"),
    )


#: PQ geometry: DIM is split into PQ_M contiguous subspaces of PQ_SUB
#: dims; each subspace is coded against an integer codebook of up to
#: 4^PQ_SUB = 256 codewords (the classic PQ codebook size).
PQ_M = 16
PQ_SUB = DIM // PQ_M
#: Power-of-two grid: x·1024 is an EXACT double operation (pure exponent
#: shift), so the integer lattice view of every vector is bit-identical
#: on any IEEE engine — the foundation of the bit-exact oracle.
PQ_GRID = 1024
#: Magnitude threshold (lattice units ≈ 0.12 in vector units) for the
#: 2-bit-per-dim codebook seeding; picked by a measured recall sweep
#: (t ∈ {120..320}: 120 best at every SF).
PQ_TMAG = 120
#: Lloyd refinement rounds on the lattice codebook (trained codebooks,
#: the FAISS IndexPQ per-subspace k-means): the
#: 2-bit-cell floor-means SEED k-means, then each round reassigns every
#: subvector to its integer-L2-nearest codeword (ties by codeword id)
#: and refits each codeword as the lattice floor-mean of its assigned
#: subvectors (codewords that lose all members keep their previous
#: position). Every step is the same exact-integer / floor(Σx/n)
#: algebra as the seed, so the DuckDB oracle unrolls the rounds as CTEs
#: and still matches BIT-FOR-BIT. Rounds picked by measured recall
#: sweep (tools/pq_train_sweep.py).
PQ_ITERS = 3

#: Bounded deterministic TRAINING set for the PQ codebooks (FAISS
#: trains on a sample, not the corpus): the PQ_TRAIN_N
#: vectors with the smallest md5('pq:' || vec_id) draw (the
#: `train_uniform_sample` k-min device — a pure function of the keys,
#: identical on both engines). Seeding and every Lloyd round run over
#: this fixed-size frame, so codebook training costs ONE corpus scan
#: (the sample semi-join) + PQ_ITERS jobs over ≤ PQ_TRAIN_N·PQ_M rows
#: instead of ~4 full corpus scans; the full corpus is encoded exactly
#: once against the finished book. 512 was picked by measured sweep
#: (tools/pq_train_sweep.py --samples; recorded in SCALING.md): it covers
#: the sf0.001/sf0.01 corpora outright (500 vectors — sampled training
#: degenerates to the full-corpus codebooks there) and at sf0.1, where
#: it genuinely binds (512 of 2000), recall is within one top-k pair of
#: full training (0.533 vs 0.567 — noise on this near-random corpus,
#: where n=256 even BEATS full at 0.633). At 100 TB it is the
#: constant-size bound that makes training corpus-independent.
PQ_TRAIN_N = 512

#: Sizing rule for PQ_TRAIN_N. The classic FAISS
#: guidance (≥ ~39 training points per centroid) does NOT transfer to
#: these grid-seeded books: the 2-bit-cell seeding occupies k_eff ≈ 207
#: of the 256 possible codewords per subspace from a 512-vector sample
#: (measured by tests/test_pq_train_sizing.py on the committed corpora —
#: ~2.5 points per codeword), so the FAISS ratio would demand
#: full-corpus training at every committed size. The rule actually
#: validated by the recorded sweeps (``tools/pq_train_sweep.py
#: --samples`` on the testdata corpora; ``--emb`` on the clustered
#: fixture — both recorded in SCALING.md) is a SAMPLE-FRACTION floor:
#:
#:     PQ_TRAIN_N >= ceil(corpus_n / PQ_TRAIN_MAX_SUBSAMPLE)
#:
#: (at 512/2000 = 25.6% the measured recall cost is ~0 on the testdata
#: corpora and 0.13 on the clustered fixture — the honest worst case),
#: PLUS a hard sweep-coverage gate: no committed embeddings corpus may
#: exceed PQ_TRAIN_MAX_CORPUS vectors. tests/test_pq_train_sizing.py
#: recomputes both from the committed files (testdata SFs + every
#: fixtures/*embeddings* parquet) and FAILS the moment a larger corpus
#: ships — the signal to re-run the sweeps and revisit PQ_TRAIN_N
#: instead of silently under-training the new corpus's book.
PQ_TRAIN_MAX_SUBSAMPLE = 4
PQ_TRAIN_MAX_CORPUS = 2000


def _lattice_expr(src: str = "v") -> str:
    """The PQ lattice quantizer as a SQL expression: x·PQ_GRID is an exact
    double op and floor(x + 0.5) spells half-up identically on both
    engines. ONE definition — `_pq_recon` and `_pq_queries` must
    quantize identically or codes and queries silently diverge."""
    return (
        f"transform({src}, x -> "
        f"CAST(floor(x * {PQ_GRID}.0D + 0.5D) AS BIGINT))"
    )


#: Exact norm² of a lattice or reconstructed vector ``r``.
_R_N2 = "aggregate(r, 0L, (acc, x) -> acc + x * x)"

#: What the PQ variants carry into `_PAIR_ICOS`: the query's exact lattice
#: vector against a candidate's reconstructed codes (asymmetric, ADC).
_PQ_CARRY = {"c": "r", "n2": "n2"}


def _pq_queries(v: DataFrame) -> DataFrame:
    """`v` plus its exact lattice vector ``r`` and ``n2``: the query side
    of the PQ variants, which stays unquantized."""
    return v.selectExpr("*", f"{_lattice_expr()} AS r").selectExpr(
        "*", f"{_R_N2} AS n2"
    )


def _pq_train_ctes(iters: int = PQ_ITERS) -> str:
    """DuckDB CTE text for the unrolled Lloyd rounds (mirrors the
    `_pq_recon` training loop stage for stage): expects `subo` (vec_id,
    s, sv) and the seed codebook `book0` (s, orth, cw) to be in scope;
    emits asg/fit/nb/book{t} per round and a final `book` alias. Every
    step is exact-integer (d2 argmin with ties by codeword id,
    floor(Σx/n) refit, empty codewords keep their previous position), so
    the unroll stays bit-for-bit with the Spark loop. The
    rounds assign `trainsub` (the PQ_TRAIN_N-vector sample emitted by
    `_pq_sample_ctes`), not the full `subo` — mirroring the sampled
    Spark training."""
    parts = []
    prev = "book0"
    for t in range(1, iters + 1):
        parts.append(
            f""",
        asg{t} AS (
          SELECT s, co, sv FROM (
            SELECT so.s, so.sv, b.orth AS co,
                   ROW_NUMBER() OVER (PARTITION BY so.vec_id, so.s
                     ORDER BY list_dot_product(so.sv::DOUBLE[], so.sv::DOUBLE[])
                            + list_dot_product(b.cw::DOUBLE[], b.cw::DOUBLE[])
                            - 2 * list_dot_product(so.sv::DOUBLE[],
                                                   b.cw::DOUBLE[]),
                              b.orth) AS rk
            FROM trainsub so JOIN {prev} b USING (s)
          ) WHERE rk = 1
        ),
        fit{t} AS (
          SELECT s, co AS orth, posn,
                 CAST(floor(CAST(SUM(x) AS DOUBLE) / COUNT(*)) AS BIGINT) AS c
          FROM (SELECT s, co, generate_subscripts(sv, 1) - 1 AS posn,
                       unnest(sv) AS x
                FROM asg{t})
          GROUP BY s, co, posn
        ),
        nb{t} AS (
          SELECT s, orth, list(c ORDER BY posn) AS cw FROM fit{t}
          GROUP BY s, orth
        ),
        book{t} AS (
          SELECT b.s, b.orth, COALESCE(n.cw, b.cw) AS cw
          FROM {prev} b LEFT JOIN nb{t} n ON n.s = b.s AND n.orth = b.orth
        )"""
        )
        prev = f"book{t}"
    parts.append(
        f""",
        book AS (SELECT s, orth, cw FROM {prev})"""
    )
    return "".join(parts)


def _pq_sample_ctes(train_n: int = PQ_TRAIN_N) -> str:
    """DuckDB CTE text for the bounded training sample:
    expects `vi` (one row per vector) and `subo` in scope; emits
    `trainids` (the train_n smallest md5('pq:' || vec_id) draws — the
    `train_uniform_sample` k-min device, a pure function of the keys) and
    `trainsub` (the sample's subvector rows). Codebook seeding and every
    Lloyd round consume `trainsub`; the final encode still runs over the
    full `subo`."""
    return f""",
        trainids AS (
          SELECT vec_id FROM vi
          ORDER BY md5('pq:' || CAST(vec_id AS VARCHAR)) LIMIT {train_n}
        ),
        trainsub AS (
          SELECT subo.* FROM subo JOIN trainids USING (vec_id)
        )"""


def _lloyd_book(
    vecs: list[list[float]], iters: int = PQ_ITERS
) -> list[tuple[int, int, list[int]]]:
    """Driver-side PQ codebook training over the bounded sample — the
    FAISS discipline (`index.train()` runs on one node over a sample;
    only the encode is distributed). Exact int64 algebra end to end so
    the result is bit-identical to the oracle's unrolled CTEs:

    - lattice: floor(x·PQ_GRID + 0.5) — the same IEEE double ops as
      `_lattice_expr`, then exact integers;
    - seed: per (subspace, 2-bit cell) element-wise floor-mean, via
      int64 floor-division (Σx // n == floor(double(Σx)/n): the double
      quotient is correctly rounded and sits ≥ 1/n from any integer it
      isn't — the test_semdedup_pq margin argument);
    - Lloyd rounds: argmin of exact integer L2 with ties to the
      smallest codeword id (np.argmin's first-minimum over ascending
      ids), floor-mean refit, empty codewords keep their position.

    ≤ PQ_TRAIN_N·PQ_M subvectors of PQ_SUB dims: microseconds of NumPy,
    constant in the corpus size."""
    import numpy as np

    lat = np.array(
        [[math.floor(x * float(PQ_GRID) + 0.5) for x in vec] for vec in vecs],
        dtype=np.int64,
    )
    pw = 4 ** np.arange(PQ_SUB, dtype=np.int64)
    out: list[tuple[int, int, list[int]]] = []
    for s in range(PQ_M):
        sv = lat[:, s * PQ_SUB : (s + 1) * PQ_SUB]
        orth = (
            (
                (sv >= 0).astype(np.int64)
                + 2 * (np.abs(sv) >= PQ_TMAG).astype(np.int64)
            )
            * pw
        ).sum(axis=1)
        book: dict[int, "np.ndarray"] = {}
        for c in np.unique(orth):
            m = sv[orth == c]
            book[int(c)] = np.floor_divide(m.sum(axis=0), m.shape[0])
        for _ in range(iters):
            co = sorted(book)
            cw = np.stack([book[c] for c in co])
            d2 = ((sv[:, None, :] - cw[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            for j, c in enumerate(co):
                m = sv[assign == j]
                if m.shape[0]:
                    book[c] = np.floor_divide(m.sum(axis=0), m.shape[0])
        out.extend((s, c, [int(x) for x in book[c]]) for c in sorted(book))
    return out


def _pq_book(
    spark: SparkSession, sf_dir: str
) -> list[tuple[int, int, list[int]]]:
    """Memoized trained PQ codebook: ONE TakeOrdered sample job + the
    driver-side Lloyd fit per (session, corpus). `sim_topk_pq` and
    `sim_topk_ivf_pq` both encode the identical (vec_id, v) row set, so
    the k-min sample — a pure function of the vec_id keys — and the book
    trained from it are bit-identical wherever they are built; sharing
    them removes the second corpus-scan sample job (~1-2 s of
    construction, guide §5 driver latency) without any observable
    difference. The memo key carries the corpus fingerprint, so a
    rewritten test corpus retrains automatically."""

    def build() -> list[tuple[int, int, list[int]]]:
        emb = load_table(spark, sf_dir, "embeddings")
        v = fan_out(emb).select("vec_id", F.expr(f"{as_double('embedding')} AS v"))
        # Bounded deterministic training set: the
        # PQ_TRAIN_N smallest md5('pq:' || vec_id) draws — the
        # train_uniform_sample k-min device, a pure function of the keys
        # so DuckDB re-derives the exact same sample. ONE TakeOrdered job
        # ships the sample's raw vectors to the driver (≤ PQ_TRAIN_N·DIM
        # doubles ≈ 256 KB — a bounded statistics probe in the
        # _member_level_knn class, constant in the corpus size, NOT a
        # corpus collect), and `_lloyd_book` trains the codebook in exact
        # int64 NumPy. This replaces a distributed Lloyd loop, whose
        # ~4 corpus scans and 3 sequential eager checkpoints cost 8-9 s
        # of plan-construction latency at sf0.1 for jobs that touch
        # kilobytes — the FAISS split (sampled train on one node,
        # distributed encode) is the 100 TB plan.
        sample = (
            v.select(
                "vec_id",
                F.md5(
                    F.concat(F.lit("pq:"), F.col("vec_id").cast("string"))
                ).alias("draw"),
                "v",
            )
            .orderBy("draw")
            .limit(PQ_TRAIN_N)
            .select("v")
            .collect()
        )
        return _lloyd_book([r["v"] for r in sample])

    return _SIM_MEMO.get(spark, sf_dir, "pq_book", build)


def _pq_recon(
    v: DataFrame, trained: list[tuple[int, int, list[int]]]
) -> DataFrame:
    """Product-quantization encode + reconstruct, all-integer.

    1. Lattice view: vi = floor(v·1024 + 0.5) per dim (exact doubles →
       exact BIGINTs, engine-independent).
    2. Codebook: per (subspace, 2-bit-per-dim cell) the element-wise
       floor of the lattice mean over that cell's subvectors — a
       grid-seeded quantizer with up to 4^PQ_SUB = 256 data-dependent
       codewords per subspace, the classic PQ codebook size. Seeding and
       the Lloyd refits run over the bounded PQ_TRAIN_N k-min sample
       (the FAISS train-on-sample discipline); only the final encode
       touches every corpus vector.  The cell
       key encodes sign and magnitude (|x| ≥ PQ_TMAG) per dim — measured
       recall doubled vs a sign-only 2^8-orthant key at 8 subspaces, and
       a per-label codebook of K=10 measured ~0 recall (far too coarse).
       floor(Σx/n) is
       deterministic cross-engine: Σx is an exact integer-valued double,
       IEEE division is correctly rounded, and the quotient sits ≥ 1/n
       from the nearest integer unless it IS one (margin fixture-measured
       in tests/test_semdedup_pq.py).
    3. Encode: per (vector, subspace) the codeword minimizing exact
       integer L2 distance over ALL of the subspace's codewords (true
       nearest-codeword encoding, not the seeding orthant); ties by
       orthant id.
    4. Reconstruct: codewords concatenated in subspace order, plus the
       exact integer norm² — everything downstream is the SQ8 contract's
       integer-score algebra.

    At 100 TB this is the classic PQ memory layout: M small codes per
    vector (here M=16 codes into a ≤256-word codebook — 16 bytes against
    256 B of float32), scored via codeword dot products; the codebook
    (≤ PQ_M·4^PQ_SUB rows) broadcasts for free."""
    vi = v.withColumn("vi", F.expr(_lattice_expr()))
    # Nearest-codeword argmin as a PURE PROJECTION over a 1-row broadcast
    # codebook (no shuffle, higher-order functions — it replaced a
    # min(struct) aggregate):
    # the trained book (`_pq_book` — sampled + Lloyd-fit once per
    # session/corpus) is a driver-side list, so shipping it as
    # one nested-array row and folding the argmin into
    # array_min(transform(...)) per (vector, subspace) removes the 16×
    # subspace explode, the ≤256× codeword fan-out join, BOTH
    # SortAggregates (struct-min has no fixed-width hash buffer), their
    # corpus-sized Sorts, the (vec_id, s) Exchange AND the
    # collect_list(struct) regroup — the encode fuses into the scan's
    # projection. Bit-equivalence: array_min over struct(d2, co, cw)
    # compares fields in order, and (d2, co) is the same unique total
    # order the min(struct(d2, cw_orth, …)) aggregate used — the
    # oracle's ROW_NUMBER() ORDER BY d2, co, unchanged.
    by_s: list[list] = [[] for _ in range(PQ_M)]
    for s, co, cw in trained:
        by_s[s].append((co, cw))
    book_row = v.sparkSession.createDataFrame(
        [(by_s,)], "bks ARRAY<ARRAY<STRUCT<co: BIGINT, cw: ARRAY<BIGINT>>>>"
    )
    enc = (
        f"flatten(transform(sequence(0, {PQ_M - 1}), s -> "
        f"array_min(transform(element_at(bks, s + 1), b -> "
        f"struct(aggregate(zip_with(slice(vi, s * {PQ_SUB} + 1, {PQ_SUB}), "
        f"b.cw, (a, c) -> (a - c) * (a - c)), 0L, (acc, x) -> acc + x) "
        f"AS d2, b.co AS co, b.cw AS cw))).cw))"
    )
    return (
        vi.crossJoin(F.broadcast(book_row))
        .select("vec_id", F.expr(enc).alias("r"))
        .withColumn("n2", F.expr(_R_N2))
        .select("vec_id", "r", "n2")
    )


@_SIM_MEMO.memoized("topk_pq")
def topk_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN via product quantization (PQ, asymmetric/ADC scoring — the
    FAISS IndexPQ default: the query stays unquantized, only candidates
    are coded) — the third quantized scale path beside SQ8
    (`sim_topk_sq8`) and IVF-SQ8: where SQ8 shrinks each dim to a byte
    (4×), PQ shrinks each SUBSPACE to a code (here 64 float32 dims → 16
    codes, 16×), trading recall for bandwidth the way billion-vector
    deployments do (FAISS PQ / IVFPQ).

    Codebooks are TRAINED: per-(subspace, 2-bit-cell) lattice
    floor-means seed PQ_ITERS Lloyd rounds of per-subspace k-means (see
    `_pq_recon` — up to 256 codewords per subspace, the classic PQ
    size); the query side is its exact lattice vector.  Encoding
    (integer L2 argmin), training refits (floor-mean) and ADC scoring
    (lattice·codeword dots — exact longs) are integer algebra end to
    end, so like SQ8 the DuckDB oracle matches BIT-FOR-BIT, rank ties
    included.  Recall vs exact cosine is fixture-measured in
    tests/test_semdedup_pq.py (the geometry was picked by measured
    sweep: sign-only M=8 ~33%, +ADC ~50%, 2-bit M=16 53–70% across SFs;
    PQ_ITERS=3 training lifts that to 57–80%, beating the untrained
    lattice at every SF — tools/pq_train_sweep.py.  This
    corpus is near-random, PQ's hard case, so the numbers quantify
    the 16×-compression trade honestly rather than flattering it).  The
    reconstructed-code table feeds both join sides, so it is persisted —
    at scale it IS the materialized PQ code table (the 32×-smaller scan
    target) a deployment writes."""
    v = _vectors(spark, sf_dir).select("vec_id", "v")
    codes = _pq_recon(v, _pq_book(spark, sf_dir)).persist()
    scored = _pairs(_pq_queries(v), codes, _PQ_CARRY, _PAIR_ICOS, "cos_pq")
    return _topk(scored, "cos_pq")


@_SIM_MEMO.memoized("topk_ivf_pq")
def topk_ivf_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ ANN (the FAISS IVFPQ shape, by_residual=false): the coarse
    inverted file bounds WHAT is scanned (the query's cell, exactly
    `sim_topk_ivf`'s assignment step) and the product-quantized codes
    bound the BANDWIDTH of scanning it (16× smaller codes, exactly
    `sim_topk_pq`'s codebook/encode/ADC algebra over the raw vectors —
    residual coding would trade the bit-exact oracle for recall, same
    call as IVF-SQ8). The query stays unquantized (asymmetric/ADC): its
    exact lattice vector scores against reconstructed candidate codes,
    all integer dots, so the in-cell ranking — ties included — is
    bit-deterministic across engines and partitionings.

    The persisted frames are the two artifacts a billion-vector IVFPQ
    deployment materializes: the cell assignment (partition key) and the
    PQ code table (the scan target, 16 bytes/vector here)."""
    emb = load_table(spark, sf_dir, "embeddings")
    # persisted: the assignment feeds the code build AND the query side
    assigned = _ranked_cells(emb).select("vec_id", "v", "cell").persist()
    # persisted: the PQ encode (codebook + nearest-codeword argmin) is the
    # expensive pass; without the cache the candidate side would re-run it
    codes = (
        _pq_recon(assigned.select("vec_id", "v"), _pq_book(spark, sf_dir))
        .join(assigned.select("vec_id", "cell"), "vec_id")
        .persist()
    )
    carry = {**_PQ_CARRY, "cell": "cell"}
    q = _pq_queries(assigned)
    scored = _pairs(q, codes, carry, _PAIR_ICOS, "cos_pq", block="cell")
    return _topk(scored, "cos_pq")


#: Coarse cells a multiprobe query searches (`sim_topk_ivf_mp`). nprobe is
#: THE recall/latency lever of a deployed IVF index: cells are the
#: partition key at 100 TB, so nprobe = the number of partitions a query
#: touches. The probe-set boundary (cell rank NPROBE vs NPROBE+1) is a
#: float ranking — its measured margin on this corpus is asserted ≫
#: cross-engine drift in tests/test_ivf_multiprobe.py.
NPROBE = 2


def topk_ivf_mp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiprobe IVF ANN: identical to `sim_topk_ivf` except the QUERY
    probes its NPROBE nearest coarse cells instead of one — the standard
    recall dial of an inverted-file deployment (FAISS `nprobe`).
    Candidates keep their single home cell (the inverted-file layout is
    unchanged; only the query-side fan-out grows), so each (query,
    candidate) pair arises at most once and no dedup step is needed.
    Scoring within the probed cells is the exact cosine, ranked per query
    across ALL probed cells by `_topk`. Recall can only improve over
    single-probe: the candidate set is a superset, so the exact top-k
    within it is at least as close to the brute-force answer (pinned by
    test)."""
    emb = load_table(spark, sf_dir, "embeddings")
    # persisted: the ranked assignment feeds both the probe list (crk <=
    # NPROBE, query side) and the inverted file (crk == 1, candidate side)
    ranked = (
        _ranked_cells(emb, NPROBE)
        .select("vec_id", "v", "nrm", "cell", "crk")
        .persist()
    )
    carry = {**_COS_CARRY, "cell": "cell"}
    c = ranked.where("crk = 1")
    scored = _pairs(ranked, c, carry, _PAIR_COS, "cos_sim", block="cell")
    return _topk(scored, "cos_sim")


#: Dimensions of the cheap first stage in `sim_topk_prefix_rerank` — the
#: Matryoshka-representation pattern: score candidates on the leading
#: PREFIX_DIMS of the embedding (half the bandwidth at 32/64), keep
#: RERANK_M, then re-rank the survivors with the exact full-width cosine.
#: The operating point was MEASURED, not guessed: on this near-random
#: corpus (prefix carries ~sqrt(PREFIX_DIMS/64) of the signal — the
#: pattern's hard case) the (dims, M) sweep gave 16/10 → 30%, 32/32 →
#: 73–80%, 32/64 → 83–93% recall@3 across SFs; 32/64 is the honest
#: half-bandwidth configuration.
PREFIX_DIMS = 32
RERANK_M = 64


def topk_prefix_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage retrieval with a reduced-dimension prefilter (the MRL /
    Matryoshka deployment shape, Kusupati et al. 2022): stage 1 ranks ALL
    candidates by cosine over the first PREFIX_DIMS dimensions — a scan
    that reads half of the vector bytes — and keeps the RERANK_M
    best per query; stage 2 re-scores only those with the exact
    full-width cosine and emits the top k. The final ranking among the
    survivors is EXACT; the approximation is confined to which RERANK_M
    survive stage 1. Both stages rank through `_topk`, stage 1 with
    k=RERANK_M (recall vs brute force pinned by test, and monotone
    in RERANK_M by construction).

    At 100 TB the stage-1 scan is the whole cost — it touches
    PREFIX_DIMS/64 of the embedding bytes (a column of truncated vectors
    a deployment would materialize), while stage 2 fetches full vectors
    for queries × RERANK_M rows only. Recall is monotone in both knobs;
    the committed 32/64 point is measured at 83–93% recall@3 (see
    PREFIX_DIMS)."""
    # persisted: the full-vector frame (with its norms precomputed once per
    # vector, never per joined pair) feeds the stage-1 prefix projection
    # AND the stage-2 exact re-rank fetch
    v = _vectors(spark, sf_dir).persist()

    # -2.0 sentinel on a zero prefix or vector (legal input: the first
    # PREFIX_DIMS dims may all be zero while the tail is not) — without it
    # the cosine is 0/0 = NaN, which sorts ABOVE every real score under
    # DESC in both engines and would displace genuine survivors
    def guarded(x: str, n: str) -> str:
        return (
            f"CASE WHEN q{n} = 0 OR c{n} = 0 THEN -2.0D "
            f"ELSE {dot(f'q{x}', f'c{x}')} / (q{n} * c{n}) END"
        )

    pv = v.selectExpr("vec_id", f"slice(v, 1, {PREFIX_DIMS}) AS p").selectExpr(
        "*", f"{norm('p')} AS pn"
    )
    s1 = _pairs(pv, pv, {"p": "p", "n": "pn"}, guarded("p", "n"), "cos_prefix")
    survivors = _topk(s1, "cos_prefix", k=RERANK_M).select("query_id", "cand_id")
    qa = v.where(f"vec_id < {N_QUERIES}").selectExpr(
        "vec_id AS query_id", "v AS qv", "nrm AS qn"
    )
    ca = v.selectExpr("vec_id AS cand_id", "v AS cv", "nrm AS cn")
    rerank = (
        survivors.join(ca, "cand_id")
        .join(qa.hint("broadcast"), "query_id")
        .selectExpr("query_id", "cand_id", f"{guarded('v', 'n')} AS cos_sim")
    )
    return _topk(rerank, "cos_sim")


#: The quantized ANN variants the recall report evaluates, in report
#: order. All four rank on exact integer algebra (registered bit-exact
#: contracts), so the report's hit sets are as engine-stable as the
#: exact baseline itself.
RECALL_VARIANTS = ("ivf_pq", "ivf_sq8", "pq", "sq8")


def recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN evaluation as a first-class operator:
    recall@TOP_K of every quantized variant against the exact cosine
    baseline, in one report — the build (sim_topk_*) → tune
    (tools/nprobe_curve.py, pq_train_sweep.py) → **evaluate** leg a
    deployed index pipeline runs on every reindex, turned from test-side
    constants into an oracle-checked query. For each variant: the exact
    baseline's (query, cand) top-k pairs left-joined against the
    variant's, hits counted, and recall emitted as exact integer
    per-mille ((1000·hits) div expected — no float ratio).

    Scale shape: the exact baseline is the N_QUERIES-row probe frame
    against the corpus (the sim_topk_bruteforce shape — N_QUERIES bounds
    the evaluation cost by design; a production evaluation samples its
    query set exactly like this); each variant side is its registered
    top-k plan; the joins are on (query_id, cand_id) over
    N_QUERIES·TOP_K-row frames — dimension-sized. Output: one row per
    variant (declared sort). Determinism: the four variants score in
    exact integer algebra, the baseline is the registered bruteforce
    contract; hit counting compares ID SETS, so the report is as stable
    as its inputs — evaluated on the committed corpora, where their
    rank-boundary margins are measured (the ivf_mp/prefix_rerank
    randomized-differential exclusion rationale)."""
    fns = {
        "ivf_pq": topk_ivf_pq,
        "ivf_sq8": topk_ivf_sq8,
        "pq": topk_pq,
        "sq8": topk_sq8,
    }
    exact = topk_bruteforce(spark, sf_dir).select("query_id", "cand_id")
    parts = []
    for label in RECALL_VARIANTS:
        v = fns[label](spark, sf_dir).select(
            "query_id", "cand_id", F.lit(1).alias("hit")
        )
        agg = (
            exact.join(v, ["query_id", "cand_id"], "left")
            .agg(
                F.count(F.lit(1)).alias("n_exact"),
                F.sum(F.coalesce(F.col("hit"), F.lit(0)))
                .cast("bigint")
                .alias("n_hits"),
            )
            .select(
                F.lit(label).alias("variant"),
                F.col("n_exact").cast("bigint").alias("n_exact"),
                "n_hits",
                F.expr("CAST((1000 * n_hits) div n_exact AS BIGINT)").alias(
                    "recall_permille"
                ),
            )
        )
        parts.append(agg)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy("variant")


#: MMR diversified selection: tradeoff weight λ = 7/10 carried as
#: an integer pair so the greedy score 10·mmr = 7·rel − 3·maxsim stays
#: in exact BIGINT algebra on both engines; K exemplars selected from a
#: relevance top-POOL candidate set (the standard two-stage MMR a
#: retrieval pipeline runs — the full corpus is never pairwise-touched).
MMR_LAMBDA_NUM = 7
MMR_LAMBDA_DEN = 10
MMR_K = 10
MMR_POOL = 50
MMR_QUERY_ID = 0


def mmr_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal-Marginal-Relevance exemplar selection (Carbonell &
    Goldstein 1998): greedily pick K vectors that are RELEVANT to a query
    but DIVERSE among themselves — the curation step behind few-shot
    exemplar picking, dedup-aware retrieval, and diverse-sample labeling
    budgets (the selection-side complement of SemDeDup's drop-side rule).
    Score per round: λ·rel(c) − (1−λ)·max_{s∈selected} sim(c, s).

    Exact-integer form: vectors on the shared PQ lattice
    (``_lattice_expr`` — floor(x·1024 + 0.5), exact doubles → BIGINTs),
    relevance and pairwise similarity as integer lattice DOT PRODUCTS
    (unnormalized — at |x| ≤ 0.6 and DIM 64 the dots stay < 2^31, and
    the committed corpora's vectors are near-unit so the dot ranks like
    cosine), and the λ-tradeoff as ``10·score = 7·rel − 3·maxsim`` —
    no float anywhere, ties broken by vec_id: a bit-stable total order
    both engines replay.

    Scale shape (the standard two-stage MMR): stage 1 takes the top
    MMR_POOL candidates by (rel desc, vec_id) — a TakeOrderedAndProject
    over one corpus pass (map-side partial top-k, no shuffle of the
    corpus). Stage 2 collects that ≤POOL-row frame to the driver — a
    BOUNDED statistics probe (≤ MMR_POOL·DIM ints ≈ 25 KB, constant in
    corpus size; the `_lloyd_book` / FAISS train-on-sample split) — and
    runs the K greedy rounds in exact arbitrary-precision Python ints:
    K·POOL dot products over 64-dim vectors, microseconds. A fully
    declarative per-round loop was measured at ~1 s of job-scheduling
    overhead PER ROUND for kilobytes of data (each round needs its
    1-row argmax materialized — lineage would otherwise expand 3^K);
    the driver greedy is the honest plan at any scale because the pool
    is the scale bound, not the corpus. At 100 TB only stage 1 sees
    the corpus.

    Output: (rank, vec_id, rel, score10) in selection order; rank 1's
    score10 = 7·rel (empty selected set ⇒ no diversity penalty)."""
    emb = load_table(spark, sf_dir, "embeddings")
    vi = fan_out(emb).select(
        "vec_id", F.expr(_lattice_expr("embedding")).alias("v")
    )
    q = vi.filter(F.col("vec_id") == MMR_QUERY_ID).select(
        F.col("v").alias("qv")
    )
    dot_q = F.expr(
        "aggregate(zip_with(v, qv, (a, b) -> a * b), 0L, (acc, x) -> acc + x)"
    )
    pool_rows = (
        vi.filter(F.col("vec_id") != MMR_QUERY_ID)
        .crossJoin(F.broadcast(q))
        .withColumn("rel", dot_q)
        .select("vec_id", "rel", "v")
        .orderBy(F.col("rel").desc(), "vec_id")
        .limit(MMR_POOL)
        .collect()  # bounded probe: ≤ MMR_POOL rows, ~25 KB
    )
    selected: list[tuple[int, int, int, int]] = []  # rank, id, rel, score10
    chosen: list[list[int]] = []
    remaining = [(r["vec_id"], r["rel"], list(r["v"])) for r in pool_rows]
    for rank in range(1, min(MMR_K, len(remaining)) + 1):
        best = None
        for vec_id, rel, v in remaining:
            if chosen:
                maxsim = max(
                    sum(a * b for a, b in zip(v, sv)) for sv in chosen
                )
                score10 = MMR_LAMBDA_NUM * rel - (
                    MMR_LAMBDA_DEN - MMR_LAMBDA_NUM
                ) * maxsim
            else:
                score10 = MMR_LAMBDA_NUM * rel
            key = (-score10, vec_id)
            if best is None or key < best[0]:
                best = (key, vec_id, rel, v, score10)
        _, vec_id, rel, v, score10 = best
        selected.append((rank, vec_id, rel, score10))
        chosen.append(v)
        remaining = [t for t in remaining if t[0] != vec_id]
    # JVM-pure literal result frame (local_literal_df): createDataFrame's
    # pickled-RDD relation paid a Python-worker launch per action —
    # 0.52 s noop runs for the ≤MMR_K-row result
    return local_literal_df(
        spark, selected, "rank int, vec_id long, rel bigint, score10 bigint"
    ).orderBy("rank")


def _mmr_oracle(k: int = MMR_K) -> str:
    """Unrolled greedy MMR in DuckDB (the BPE-unroll device): pool CTE =
    relevance top-MMR_POOL, then one (sel_r, sel_u_r) CTE pair per round —
    the correlated MAX over the union-so-far mirrors the Spark loop's
    broadcast max-aggregate bit for bit. Rounds past the pool size
    self-eliminate (NOT IN over an exhausted pool yields no row), matching
    the Spark loop's min(K, pool) guard."""
    num, den = MMR_LAMBDA_NUM, MMR_LAMBDA_DEN
    # every CTE is AS MATERIALIZED: sel{r} references sel_u{r-1} three
    # times, so plain (inlined) CTEs expand the scan tree 4^K-fold —
    # DuckDB then re-opens the parquet file per expanded scan instance
    # and dies on fd exhaustion long before finishing. Materialization
    # makes the unroll linear in K, mirroring the Spark loop's
    # checkpoints.
    steps = []
    for r in range(2, k + 1):
        prev = f"sel_u{r - 1}"
        steps.append(f"""
        sel{r} AS MATERIALIZED (
          SELECT {r} AS rank, p.vec_id, p.rel, p.v,
                 CAST({num} * p.rel - {den - num} * (
                   SELECT MAX(CAST(list_dot_product(
                     CAST(p.v AS DOUBLE[]), CAST(s.v AS DOUBLE[])) AS BIGINT))
                   FROM {prev} s) AS BIGINT) AS score10
          FROM pool p
          WHERE p.vec_id NOT IN (SELECT vec_id FROM {prev})
          ORDER BY score10 DESC, p.vec_id LIMIT 1
        ),
        sel_u{r} AS MATERIALIZED
          (SELECT * FROM {prev} UNION ALL SELECT * FROM sel{r})""")
    return f"""
        WITH vi AS MATERIALIZED (
          SELECT vec_id,
                 list_transform(CAST(embedding AS DOUBLE[]),
                   x -> CAST(floor(x * 1024.0 + 0.5) AS BIGINT)) AS v
          FROM embeddings
        ),
        q AS MATERIALIZED
          (SELECT v AS qv FROM vi WHERE vec_id = {MMR_QUERY_ID}),
        pool AS MATERIALIZED (
          SELECT vi.vec_id,
                 CAST(list_dot_product(CAST(vi.v AS DOUBLE[]),
                                       CAST(q.qv AS DOUBLE[])) AS BIGINT)
                   AS rel,
                 vi.v
          FROM vi, q WHERE vi.vec_id <> {MMR_QUERY_ID}
          ORDER BY rel DESC, vec_id LIMIT {MMR_POOL}
        ),
        sel1 AS MATERIALIZED (
          SELECT 1 AS rank, vec_id, rel, v,
                 CAST({num} * rel AS BIGINT) AS score10
          FROM pool ORDER BY rel DESC, vec_id LIMIT 1
        ),
        sel_u1 AS MATERIALIZED (SELECT * FROM sel1),{",".join(steps)}
        SELECT rank, vec_id, rel, score10 FROM sel_u{k} ORDER BY rank
    """


QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "sim_topk_bruteforce": topk_bruteforce,
    "sim_recall_report": recall_report,
    "sim_dedup_decisions": embedding_dedup_decisions,
    "sim_topk_numpy": topk_numpy,
    "sim_topk_lsh": topk_lsh,
    "sim_topk_ivf": topk_ivf,
    "sim_topk_ivf_mp": topk_ivf_mp,
    "sim_topk_prefix_rerank": topk_prefix_rerank,
    "sim_topk_sq8": topk_sq8,
    "sim_topk_ivf_sq8": topk_ivf_sq8,
    "sim_topk_ivf_pq": topk_ivf_pq,
    "sim_lsh_bucket_histogram": bucket_histogram,
    "sim_label_centroid": label_centroid_cosine,
    "sim_knn_join": knn_join,
    "sim_range_search": range_search,
    "dedup_semantic_clusters": semantic_dedup,
    "sim_topk_pq": topk_pq,
    "sim_mmr_select": mmr_select,
}

_COS = (
    "list_dot_product(a.v, b.v)"
    " / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))"
)

def _bucket_expr(vec_sql: str) -> str:
    """DuckDB SQL for the same sign-LSH bucket id Spark computes."""
    return " + ".join(
        f"(CASE WHEN list_dot_product({vec_sql}, {sql_plane_literal(_PLANES[p])})"
        f" >= 0 THEN {2**p} ELSE 0 END)"
        for p in range(N_PLANES)
    )

ORACLE_SQL: dict[str, str] = {
    "sim_dedup_decisions": f"""
        WITH v AS (
          SELECT vec_id, embedding::DOUBLE[] AS v,
                 {_bucket_expr("embedding::DOUBLE[]")} AS bucket
          FROM embeddings
        ),
        pairs AS (
          SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
          FROM v a JOIN v b
            ON a.bucket = b.bucket AND a.vec_id < b.vec_id
          WHERE {_COS} >= {COS_RANGE_THRESHOLD}
        ),
        partners AS (
          SELECT vec_id, COUNT(*) AS n_partners FROM (
            SELECT vec_a AS vec_id FROM pairs
            UNION ALL SELECT vec_b FROM pairs
          ) GROUP BY vec_id
        ),
        losers AS (SELECT DISTINCT vec_b AS vec_id FROM pairs)
        SELECT e.vec_id,
               CAST(e.label AS INT) AS label,
               CAST(COALESCE(p.n_partners, 0) AS BIGINT) AS n_partners,
               CASE WHEN l.vec_id IS NULL THEN 1 ELSE 0 END AS keep
        FROM embeddings e
        LEFT JOIN partners p ON e.vec_id = p.vec_id
        LEFT JOIN losers l ON e.vec_id = l.vec_id
    """,
    "sim_range_search": f"""
        WITH v AS (
          SELECT vec_id, embedding::DOUBLE[] AS v,
                 {_bucket_expr("embedding::DOUBLE[]")} AS bucket
          FROM embeddings
        )
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, {_COS} AS cos_sim
        FROM v a JOIN v b
          ON a.bucket = b.bucket AND a.vec_id < b.vec_id
        WHERE {_COS} >= {COS_RANGE_THRESHOLD}
    """,
    "sim_knn_join": f"""
        WITH ve AS (
          SELECT vec_id, embedding::DOUBLE[] AS v,
                 {_bucket_expr("embedding::DOUBLE[]")} AS bucket
          FROM embeddings
        ),
        -- the cap bounds DISTINCT-VALUE occupancy (mirrors the Spark
        -- side's value-group collapse): over-cap buckets expose only the
        -- KNN_PILOT value groups with smallest min member id; members of
        -- admitted groups are all candidates. Never binds at sf0.01.
        g AS (
          SELECT v, bucket, MIN(vec_id) AS rep_id
          FROM ve GROUP BY v, bucket
        ),
        bsz AS (SELECT bucket, COUNT(*) AS n_groups FROM g GROUP BY bucket),
        nbr_vals AS (
          SELECT v FROM (
            SELECT g.v, g.bucket, s.n_groups,
                   ROW_NUMBER() OVER (PARTITION BY g.bucket
                                      ORDER BY g.rep_id) AS pr
            FROM g JOIN bsz s USING (bucket)
          ) WHERE n_groups <= {KNN_BUCKET_CAP} OR pr <= {KNN_PILOT}
        ),
        nbr AS (
          SELECT ve.vec_id, ve.v, ve.bucket
          FROM ve JOIN nbr_vals nv ON ve.v = nv.v
        ),
        -- a source's own exact duplicates are ALWAYS candidates (they are
        -- its true nearest neighbours, cos computed from the identical
        -- value pair), even when their group falls outside an over-cap
        -- bucket's pilot set — mirrors the Spark side's self_cand branch.
        -- UNION (not ALL) dedups the pairs admitted by both routes; both
        -- branches compute the identical float expression, so the dedup
        -- key is exact.
        cand AS (
          SELECT a.vec_id AS src_id, b.vec_id AS nbr_id, {_COS} AS cos_sim
          FROM ve a JOIN nbr b
            ON a.bucket = b.bucket AND a.vec_id != b.vec_id
          UNION
          SELECT a.vec_id AS src_id, b.vec_id AS nbr_id, {_COS} AS cos_sim
          FROM ve a JOIN ve b
            ON a.v = b.v AND a.vec_id != b.vec_id
        )
        SELECT src_id, nbr_id, cos_sim, CAST(rk AS INT) AS rk FROM (
          SELECT src_id, nbr_id, cos_sim,
                 ROW_NUMBER() OVER (PARTITION BY src_id
                                    ORDER BY cos_sim DESC, nbr_id) AS rk
          FROM cand
        ) WHERE rk <= {TOP_K}
    """,
    "sim_topk_bruteforce": f"""
        WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
        SELECT query_id, cand_id, cos_sim, CAST(rk AS INT) AS rk FROM (
          SELECT a.vec_id AS query_id, b.vec_id AS cand_id,
                 {_COS} AS cos_sim,
                 ROW_NUMBER() OVER (PARTITION BY a.vec_id
                                    ORDER BY {_COS} DESC, b.vec_id) AS rk
          FROM v a JOIN v b ON b.vec_id != a.vec_id
          WHERE a.vec_id < {N_QUERIES}
        ) WHERE rk <= {TOP_K}
    """,
    # identical semantics, different execution engine (numpy matmul)
    "sim_topk_numpy": f"""
        WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
        SELECT query_id, cand_id, cos_sim, CAST(rk AS INT) AS rk FROM (
          SELECT a.vec_id AS query_id, b.vec_id AS cand_id,
                 {_COS} AS cos_sim,
                 ROW_NUMBER() OVER (PARTITION BY a.vec_id
                                    ORDER BY {_COS} DESC, b.vec_id) AS rk
          FROM v a JOIN v b ON b.vec_id != a.vec_id
          WHERE a.vec_id < {N_QUERIES}
        ) WHERE rk <= {TOP_K}
    """,
    "sim_topk_lsh": f"""
        WITH v AS (
          SELECT vec_id, embedding::DOUBLE[] AS v,
                 {_bucket_expr("embedding::DOUBLE[]")} AS bucket
          FROM embeddings
        )
        SELECT query_id, cand_id, cos_sim, CAST(rk AS INT) AS rk FROM (
          SELECT a.vec_id AS query_id, b.vec_id AS cand_id,
                 {_COS} AS cos_sim,
                 ROW_NUMBER() OVER (PARTITION BY a.vec_id
                                    ORDER BY {_COS} DESC, b.vec_id) AS rk
          FROM v a JOIN v b ON a.bucket = b.bucket AND b.vec_id != a.vec_id
          WHERE a.vec_id < {N_QUERIES}
        ) WHERE rk <= {TOP_K}
    """,
    # int8 scalar-quantized top-k: the identical quantization law (scale =
    # max|v_i|, code = floor(v·127/scale + 0.5)) then PURE INTEGER scoring
    # — code dots and norms² are exact integers < 2^53, so every engine
    # computes the identical doubles and the compare is bit-for-bit, rank
    # ties included (broken by cand_id on both sides).
    "sim_topk_sq8": f"""
        WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        sc AS (
          SELECT vec_id, v,
                 list_aggregate(list_transform(v, x -> abs(x)), 'max') AS scale
          FROM v
        ),
        codes AS (
          SELECT vec_id,
                 list_transform(v, x -> CASE WHEN scale = 0.0 THEN 0
                     ELSE CAST(floor(x * 127.0 / scale + 0.5) AS INT) END)
                   AS code
          FROM sc
        ),
        n AS (
          SELECT vec_id, code,
                 CAST(list_sum(list_transform(code,
                      x -> CAST(x AS BIGINT) * x)) AS BIGINT) AS n2
          FROM codes
        )
        SELECT query_id, cand_id, cos_sq8, CAST(rk AS INT) AS rk FROM (
          SELECT a.vec_id AS query_id, b.vec_id AS cand_id,
                 CASE WHEN a.n2 = 0 OR b.n2 = 0 THEN -2.0
                      ELSE list_dot_product(a.code::DOUBLE[], b.code::DOUBLE[])
                           / sqrt(CAST(a.n2 AS DOUBLE) * CAST(b.n2 AS DOUBLE))
                 END AS cos_sq8,
                 ROW_NUMBER() OVER (
                   PARTITION BY a.vec_id
                   ORDER BY CASE WHEN a.n2 = 0 OR b.n2 = 0 THEN -2.0
                      ELSE list_dot_product(a.code::DOUBLE[], b.code::DOUBLE[])
                           / sqrt(CAST(a.n2 AS DOUBLE) * CAST(b.n2 AS DOUBLE))
                   END DESC, b.vec_id) AS rk
          FROM n a JOIN n b ON b.vec_id != a.vec_id
          WHERE a.vec_id < {N_QUERIES}
        ) WHERE rk <= {TOP_K}
    """,
    # IVF-SQ8: sim_topk_ivf's coarse assignment CTEs + sim_topk_sq8's
    # integer scoring, joined on the cell — bit-exact like plain SQ8
    "sim_topk_ivf_sq8": f"""
        WITH pos AS (
          SELECT vec_id, label, generate_subscripts(embedding, 1) AS pos,
                 unnest(embedding::DOUBLE[]) AS x
          FROM embeddings
        ),
        cent AS (SELECT label, pos, AVG(x) AS c FROM pos GROUP BY label, pos),
        cvec AS (
          SELECT label AS cell, list(c ORDER BY pos) AS centroid
          FROM cent GROUP BY label
        ),
        v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        assigned AS (
          SELECT vec_id, v, cell FROM (
            SELECT v.vec_id, v.v, c.cell,
                   ROW_NUMBER() OVER (
                     PARTITION BY v.vec_id
                     ORDER BY list_dot_product(v.v, c.centroid)
                              / (sqrt(list_dot_product(v.v, v.v))
                                 * sqrt(list_dot_product(c.centroid, c.centroid)))
                              DESC, c.cell) AS crk
            FROM v CROSS JOIN cvec c
          ) WHERE crk = 1
        ),
        sc AS (
          SELECT vec_id, v, cell,
                 list_aggregate(list_transform(v, x -> abs(x)), 'max') AS scale
          FROM assigned
        ),
        codes AS (
          SELECT vec_id, cell,
                 list_transform(v, x -> CASE WHEN scale = 0.0 THEN 0
                     ELSE CAST(floor(x * 127.0 / scale + 0.5) AS INT) END)
                   AS code
          FROM sc
        ),
        n AS (
          SELECT vec_id, cell, code,
                 CAST(list_sum(list_transform(code,
                      x -> CAST(x AS BIGINT) * x)) AS BIGINT) AS n2
          FROM codes
        )
        SELECT query_id, cand_id, cos_sq8, CAST(rk AS INT) AS rk FROM (
          SELECT a.vec_id AS query_id, b.vec_id AS cand_id,
                 CASE WHEN a.n2 = 0 OR b.n2 = 0 THEN -2.0
                      ELSE list_dot_product(a.code::DOUBLE[], b.code::DOUBLE[])
                           / sqrt(CAST(a.n2 AS DOUBLE) * CAST(b.n2 AS DOUBLE))
                 END AS cos_sq8,
                 ROW_NUMBER() OVER (
                   PARTITION BY a.vec_id
                   ORDER BY CASE WHEN a.n2 = 0 OR b.n2 = 0 THEN -2.0
                      ELSE list_dot_product(a.code::DOUBLE[], b.code::DOUBLE[])
                           / sqrt(CAST(a.n2 AS DOUBLE) * CAST(b.n2 AS DOUBLE))
                   END DESC, b.vec_id) AS rk
          FROM n a JOIN n b ON a.cell = b.cell AND b.vec_id != a.vec_id
          WHERE a.vec_id < {N_QUERIES}
        ) WHERE rk <= {TOP_K}
    """,
    "sim_topk_ivf": f"""
        WITH pos AS (
          SELECT vec_id, label, generate_subscripts(embedding, 1) AS pos,
                 unnest(embedding::DOUBLE[]) AS x
          FROM embeddings
        ),
        cent AS (SELECT label, pos, AVG(x) AS c FROM pos GROUP BY label, pos),
        cvec AS (
          SELECT label AS cell, list(c ORDER BY pos) AS centroid
          FROM cent GROUP BY label
        ),
        v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        assigned AS (
          SELECT vec_id, v, cell FROM (
            SELECT v.vec_id, v.v, c.cell,
                   ROW_NUMBER() OVER (
                     PARTITION BY v.vec_id
                     ORDER BY list_dot_product(v.v, c.centroid)
                              / (sqrt(list_dot_product(v.v, v.v))
                                 * sqrt(list_dot_product(c.centroid, c.centroid)))
                              DESC, c.cell) AS crk
            FROM v CROSS JOIN cvec c
          ) WHERE crk = 1
        )
        SELECT query_id, cand_id, cos_sim, CAST(rk AS INT) AS rk FROM (
          SELECT a.vec_id AS query_id, b.vec_id AS cand_id,
                 {_COS} AS cos_sim,
                 ROW_NUMBER() OVER (PARTITION BY a.vec_id
                                    ORDER BY {_COS} DESC, b.vec_id) AS rk
          FROM assigned a
          JOIN assigned b ON a.cell = b.cell AND b.vec_id != a.vec_id
          WHERE a.vec_id < {N_QUERIES}
        ) WHERE rk <= {TOP_K}
    """,
    # SemDeDup: coarse-cell assignment (the IVF CTEs), then within-cell
    # drop of every vector with an eps-similar neighbour of higher
    # keep-priority — priority = (cell_cos ASC, vec_id ASC), the paper's
    # keep-farthest-from-centroid policy.
    "dedup_semantic_clusters": f"""
        WITH pos AS (
          SELECT vec_id, label, generate_subscripts(embedding, 1) AS pos,
                 unnest(embedding::DOUBLE[]) AS x
          FROM embeddings
        ),
        cent AS (SELECT label, pos, AVG(x) AS c FROM pos GROUP BY label, pos),
        cvec AS (
          SELECT label AS cell, list(c ORDER BY pos) AS centroid
          FROM cent GROUP BY label
        ),
        v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        assigned AS (
          SELECT vec_id, v, cell, cc FROM (
            SELECT v.vec_id, v.v, c.cell,
                   list_dot_product(v.v, c.centroid)
                     / (sqrt(list_dot_product(v.v, v.v))
                        * sqrt(list_dot_product(c.centroid, c.centroid)))
                     AS cc,
                   ROW_NUMBER() OVER (
                     PARTITION BY v.vec_id
                     ORDER BY list_dot_product(v.v, c.centroid)
                              / (sqrt(list_dot_product(v.v, v.v))
                                 * sqrt(list_dot_product(c.centroid, c.centroid)))
                              DESC, c.cell) AS crk
            FROM v CROSS JOIN cvec c
          ) WHERE crk = 1
        ),
        ev AS (
          SELECT a.vec_id AS vid, MIN(b.vec_id) AS dropped_by,
                 COUNT(*) AS n
          FROM assigned a JOIN assigned b
            ON a.cell = b.cell AND a.vec_id != b.vec_id
          WHERE list_dot_product(a.v, a.v) > 0
            AND list_dot_product(b.v, b.v) > 0
            AND {_COS} >= {SEMDEDUP_EPS}
            AND (b.cc < a.cc OR (b.cc = a.cc AND b.vec_id < a.vec_id))
          GROUP BY a.vec_id
        )
        SELECT a.vec_id, CAST(a.cell AS INT) AS cell, a.cc AS cell_cos,
               CASE WHEN e.vid IS NULL THEN 1 ELSE 0 END AS keep,
               e.dropped_by,
               CAST(COALESCE(e.n, 0) AS BIGINT) AS n_closer_dups
        FROM assigned a LEFT JOIN ev e ON a.vec_id = e.vid
    """,
    # PQ: integer-lattice view → per-(subspace, sign-orthant) floor-mean
    # codebook → integer-L2 argmin encode → symmetric codeword scoring.
    # Every quantity is integer-valued (exact as DOUBLEs below 2^53), so
    # the compare is bit-for-bit like SQ8.  DuckDB lambda indexes are
    # 1-based (Spark's are 0-based), hence the (i - 1) in the orthant.
    "sim_topk_pq": f"""
        WITH v AS (
          SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        ),
        vi AS (
          SELECT vec_id,
                 list_transform(v, x ->
                   CAST(floor(x * {PQ_GRID}.0 + 0.5) AS BIGINT)) AS vi
          FROM v
        ),
        sub AS (
          SELECT vec_id, t.s,
                 vi[t.s * {PQ_SUB} + 1 : t.s * {PQ_SUB} + {PQ_SUB}] AS sv
          FROM vi, range({PQ_M}) t(s)
        ),
        subo AS (
          SELECT vec_id, s, sv,
                 CAST(list_sum(list_transform(sv, (x, i) ->
                   (CASE WHEN x >= 0 THEN 1 ELSE 0 END
                    + CASE WHEN abs(x) >= {PQ_TMAG} THEN 2 ELSE 0 END)
                   * CAST(power(4, i - 1) AS BIGINT))) AS BIGINT) AS orth
          FROM sub
        ){_pq_sample_ctes()},
        px AS (
          SELECT s, orth, generate_subscripts(sv, 1) - 1 AS posn,
                 unnest(sv) AS x
          FROM trainsub
        ),
        cw AS (
          SELECT s, orth, posn,
                 CAST(floor(CAST(SUM(x) AS DOUBLE) / COUNT(*)) AS BIGINT)
                   AS c
          FROM px GROUP BY s, orth, posn
        ),
        book0 AS (
          SELECT s, orth, list(c ORDER BY posn) AS cw
          FROM cw GROUP BY s, orth
        ){_pq_train_ctes()},
        enc AS (
          SELECT vec_id, so.s, b.orth AS co, b.cw,
                 list_dot_product(so.sv::DOUBLE[], so.sv::DOUBLE[])
                 + list_dot_product(b.cw::DOUBLE[], b.cw::DOUBLE[])
                 - 2 * list_dot_product(so.sv::DOUBLE[], b.cw::DOUBLE[])
                   AS d2
          FROM subo so JOIN book b USING (s)
        ),
        best AS (
          SELECT vec_id, s, cw FROM (
            SELECT vec_id, s, cw,
                   ROW_NUMBER() OVER (PARTITION BY vec_id, s
                                      ORDER BY d2, co) AS rk
            FROM enc
          ) WHERE rk = 1
        ),
        recon AS (
          SELECT vec_id, flatten(list(cw ORDER BY s)) AS r
          FROM best GROUP BY vec_id
        ),
        n AS (
          SELECT vec_id, r,
                 CAST(list_dot_product(r::DOUBLE[], r::DOUBLE[]) AS BIGINT)
                   AS n2
          FROM recon
        ),
        qn AS (
          SELECT vec_id, vi AS qr,
                 CAST(list_dot_product(vi::DOUBLE[], vi::DOUBLE[]) AS BIGINT)
                   AS qn2
          FROM vi WHERE vec_id < {N_QUERIES}
        )
        SELECT query_id, cand_id, cos_pq, CAST(rk AS INT) AS rk FROM (
          SELECT a.vec_id AS query_id, b.vec_id AS cand_id,
                 CASE WHEN a.qn2 = 0 OR b.n2 = 0 THEN -2.0
                      ELSE list_dot_product(a.qr::DOUBLE[], b.r::DOUBLE[])
                           / sqrt(CAST(a.qn2 AS DOUBLE) * CAST(b.n2 AS DOUBLE))
                 END AS cos_pq,
                 ROW_NUMBER() OVER (
                   PARTITION BY a.vec_id
                   ORDER BY CASE WHEN a.qn2 = 0 OR b.n2 = 0 THEN -2.0
                      ELSE list_dot_product(a.qr::DOUBLE[], b.r::DOUBLE[])
                           / sqrt(CAST(a.qn2 AS DOUBLE) * CAST(b.n2 AS DOUBLE))
                   END DESC, b.vec_id) AS rk
          FROM qn a JOIN n b ON b.vec_id != a.vec_id
        ) WHERE rk <= {TOP_K}
    """,
    # Two-stage prefix re-rank: nested ROW_NUMBERs — prefix cosine over
    # v[1:PREFIX_DIMS] keeps RERANK_M per query, exact cosine ranks the
    # survivors.
    "sim_topk_prefix_rerank": f"""
        WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        p AS (SELECT vec_id, v[1:{PREFIX_DIMS}] AS p FROM v),
        s1 AS (
          SELECT query_id, cand_id FROM (
            SELECT a.vec_id AS query_id, b.vec_id AS cand_id,
                   ROW_NUMBER() OVER (
                     PARTITION BY a.vec_id
                     ORDER BY CASE
                       WHEN list_dot_product(a.p, a.p) = 0
                         OR list_dot_product(b.p, b.p) = 0 THEN -2.0
                       ELSE list_dot_product(a.p, b.p)
                            / (sqrt(list_dot_product(a.p, a.p))
                               * sqrt(list_dot_product(b.p, b.p)))
                     END DESC, b.vec_id) AS prk
            FROM p a JOIN p b ON b.vec_id != a.vec_id
            WHERE a.vec_id < {N_QUERIES}
          ) WHERE prk <= {RERANK_M}
        )
        SELECT query_id, cand_id, cos_sim, CAST(rk AS INT) AS rk FROM (
          SELECT s1.query_id, s1.cand_id,
                 CASE WHEN list_dot_product(a.v, a.v) = 0
                        OR list_dot_product(b.v, b.v) = 0 THEN -2.0
                      ELSE {_COS} END AS cos_sim,
                 ROW_NUMBER() OVER (PARTITION BY s1.query_id
                                    ORDER BY CASE
                                      WHEN list_dot_product(a.v, a.v) = 0
                                        OR list_dot_product(b.v, b.v) = 0
                                        THEN -2.0
                                      ELSE {_COS} END DESC,
                                    s1.cand_id) AS rk
          FROM s1
          JOIN v a ON a.vec_id = s1.query_id
          JOIN v b ON b.vec_id = s1.cand_id
        ) WHERE rk <= {TOP_K}
    """,
    # Multiprobe IVF: sim_topk_ivf's CTEs with the query side widened to
    # its NPROBE nearest cells; candidates keep their single home cell.
    "sim_topk_ivf_mp": f"""
        WITH pos AS (
          SELECT vec_id, label, generate_subscripts(embedding, 1) AS pos,
                 unnest(embedding::DOUBLE[]) AS x
          FROM embeddings
        ),
        cent AS (SELECT label, pos, AVG(x) AS c FROM pos GROUP BY label, pos),
        cvec AS (
          SELECT label AS cell, list(c ORDER BY pos) AS centroid
          FROM cent GROUP BY label
        ),
        v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        ranked AS (
          SELECT vec_id, v, cell, crk FROM (
            SELECT v.vec_id, v.v, c.cell,
                   ROW_NUMBER() OVER (
                     PARTITION BY v.vec_id
                     ORDER BY list_dot_product(v.v, c.centroid)
                              / (sqrt(list_dot_product(v.v, v.v))
                                 * sqrt(list_dot_product(c.centroid, c.centroid)))
                              DESC, c.cell) AS crk
            FROM v CROSS JOIN cvec c
          ) WHERE crk <= {NPROBE}
        )
        SELECT query_id, cand_id, cos_sim, CAST(rk AS INT) AS rk FROM (
          SELECT a.vec_id AS query_id, b.vec_id AS cand_id,
                 {_COS} AS cos_sim,
                 ROW_NUMBER() OVER (PARTITION BY a.vec_id
                                    ORDER BY {_COS} DESC, b.vec_id) AS rk
          FROM ranked a
          JOIN ranked b ON a.cell = b.cell AND b.crk = 1
                        AND b.vec_id != a.vec_id
          WHERE a.vec_id < {N_QUERIES}
        ) WHERE rk <= {TOP_K}
    """,
    # IVF-PQ: sim_topk_ivf's assignment CTEs + sim_topk_pq's codebook/
    # encode/ADC chain, joined within the query's cell — integer-exact,
    # asserted bit-for-bit like its two parents.
    "sim_topk_ivf_pq": f"""
        WITH pos AS (
          SELECT vec_id, label, generate_subscripts(embedding, 1) AS pos,
                 unnest(embedding::DOUBLE[]) AS x
          FROM embeddings
        ),
        cent AS (SELECT label, pos, AVG(x) AS c FROM pos GROUP BY label, pos),
        cvec AS (
          SELECT label AS cell, list(c ORDER BY pos) AS centroid
          FROM cent GROUP BY label
        ),
        v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        assigned AS (
          SELECT vec_id, v, cell FROM (
            SELECT v.vec_id, v.v, c.cell,
                   ROW_NUMBER() OVER (
                     PARTITION BY v.vec_id
                     ORDER BY list_dot_product(v.v, c.centroid)
                              / (sqrt(list_dot_product(v.v, v.v))
                                 * sqrt(list_dot_product(c.centroid, c.centroid)))
                              DESC, c.cell) AS crk
            FROM v CROSS JOIN cvec c
          ) WHERE crk = 1
        ),
        vi AS (
          SELECT vec_id, cell,
                 list_transform(v, x ->
                   CAST(floor(x * {PQ_GRID}.0 + 0.5) AS BIGINT)) AS vi
          FROM assigned
        ),
        sub AS (
          SELECT vec_id, t.s,
                 vi[t.s * {PQ_SUB} + 1 : t.s * {PQ_SUB} + {PQ_SUB}] AS sv
          FROM vi, range({PQ_M}) t(s)
        ),
        subo AS (
          SELECT vec_id, s, sv,
                 CAST(list_sum(list_transform(sv, (x, i) ->
                   (CASE WHEN x >= 0 THEN 1 ELSE 0 END
                    + CASE WHEN abs(x) >= {PQ_TMAG} THEN 2 ELSE 0 END)
                   * CAST(power(4, i - 1) AS BIGINT))) AS BIGINT) AS orth
          FROM sub
        ){_pq_sample_ctes()},
        px AS (
          SELECT s, orth, generate_subscripts(sv, 1) - 1 AS posn,
                 unnest(sv) AS x
          FROM trainsub
        ),
        cw AS (
          SELECT s, orth, posn,
                 CAST(floor(CAST(SUM(x) AS DOUBLE) / COUNT(*)) AS BIGINT)
                   AS c
          FROM px GROUP BY s, orth, posn
        ),
        book0 AS (
          SELECT s, orth, list(c ORDER BY posn) AS cw
          FROM cw GROUP BY s, orth
        ){_pq_train_ctes()},
        enc AS (
          SELECT vec_id, so.s, b.orth AS co, b.cw,
                 list_dot_product(so.sv::DOUBLE[], so.sv::DOUBLE[])
                 + list_dot_product(b.cw::DOUBLE[], b.cw::DOUBLE[])
                 - 2 * list_dot_product(so.sv::DOUBLE[], b.cw::DOUBLE[])
                   AS d2
          FROM subo so JOIN book b USING (s)
        ),
        best AS (
          SELECT vec_id, s, cw FROM (
            SELECT vec_id, s, cw,
                   ROW_NUMBER() OVER (PARTITION BY vec_id, s
                                      ORDER BY d2, co) AS rk
            FROM enc
          ) WHERE rk = 1
        ),
        recon AS (
          SELECT vec_id, flatten(list(cw ORDER BY s)) AS r
          FROM best GROUP BY vec_id
        ),
        n AS (
          SELECT recon.vec_id, recon.r, vi.cell,
                 CAST(list_dot_product(r::DOUBLE[], r::DOUBLE[]) AS BIGINT)
                   AS n2
          FROM recon JOIN vi USING (vec_id)
        ),
        qn AS (
          SELECT vec_id, cell, vi AS qr,
                 CAST(list_dot_product(vi::DOUBLE[], vi::DOUBLE[]) AS BIGINT)
                   AS qn2
          FROM vi WHERE vec_id < {N_QUERIES}
        )
        SELECT query_id, cand_id, cos_pq, CAST(rk AS INT) AS rk FROM (
          SELECT a.vec_id AS query_id, b.vec_id AS cand_id,
                 CASE WHEN a.qn2 = 0 OR b.n2 = 0 THEN -2.0
                      ELSE list_dot_product(a.qr::DOUBLE[], b.r::DOUBLE[])
                           / sqrt(CAST(a.qn2 AS DOUBLE) * CAST(b.n2 AS DOUBLE))
                 END AS cos_pq,
                 ROW_NUMBER() OVER (
                   PARTITION BY a.vec_id
                   ORDER BY CASE WHEN a.qn2 = 0 OR b.n2 = 0 THEN -2.0
                      ELSE list_dot_product(a.qr::DOUBLE[], b.r::DOUBLE[])
                           / sqrt(CAST(a.qn2 AS DOUBLE) * CAST(b.n2 AS DOUBLE))
                   END DESC, b.vec_id) AS rk
          FROM qn a JOIN n b ON a.cell = b.cell AND b.vec_id != a.vec_id
        ) WHERE rk <= {TOP_K}
    """,
    "sim_lsh_bucket_histogram": f"""
        SELECT CAST({_bucket_expr("embedding::DOUBLE[]")} AS BIGINT) AS bucket,
               CAST(COUNT(*) AS BIGINT) AS n_vectors
        FROM embeddings GROUP BY 1
    """,
    "sim_label_centroid": """
        WITH pos AS (
          SELECT vec_id, label, generate_subscripts(embedding, 1) AS pos,
                 unnest(embedding::DOUBLE[]) AS x
          FROM embeddings
        ),
        cent AS (
          SELECT label, pos, AVG(x) AS c FROM pos GROUP BY label, pos
        ),
        cvec AS (
          SELECT label, list(c ORDER BY pos) AS centroid FROM cent GROUP BY label
        ),
        scored AS (
          SELECT e.label,
                 list_dot_product(e.embedding::DOUBLE[], c.centroid)
                   / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
                      * sqrt(list_dot_product(c.centroid, c.centroid)))
                   AS cos_to_centroid
          FROM embeddings e JOIN cvec c ON e.label = c.label
        )
        SELECT label,
               CAST(AVG(cos_to_centroid) AS DOUBLE) AS avg_cos,
               CAST(COUNT(*) AS BIGINT) AS n_vectors
        FROM scored GROUP BY label
    """,
}


def _recall_report_oracle() -> str:
    """Compose the recall-report oracle from the variants' own oracle
    SELECTs (each is self-contained, so it nests as a parenthesized
    subquery — the exact baseline and each variant are computed by the
    same SQL the driver already hash-checks independently)."""
    exact = ORACLE_SQL["sim_topk_bruteforce"]
    arms = []
    for label in RECALL_VARIANTS:
        variant = ORACLE_SQL[f"sim_topk_{label}"]
        arms.append(
            f"""
        SELECT '{label}' AS variant,
               CAST(COUNT(*) AS BIGINT) AS n_exact,
               CAST(SUM(CASE WHEN x.cand_id IS NOT NULL
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
               CAST((1000 * SUM(CASE WHEN x.cand_id IS NOT NULL
                             THEN 1 ELSE 0 END)) // COUNT(*) AS BIGINT)
                 AS recall_permille
        FROM ({exact}) e
        LEFT JOIN ({variant}) x
          ON e.query_id = x.query_id AND e.cand_id = x.cand_id"""
        )
    return " UNION ALL ".join(arms) + " ORDER BY variant"


ORACLE_SQL["sim_recall_report"] = _recall_report_oracle()
ORACLE_SQL["sim_mmr_select"] = _mmr_oracle()
