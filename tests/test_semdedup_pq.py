"""Round-7 session-3 contracts: `dedup_semantic_clusters` (SemDeDup-style
semantic dedup, Abbas et al. 2023) and `sim_topk_pq` (product-quantized
ANN, ADC scoring, integer-exact oracle).

Float-stability pins, mirroring the image/audio-hash discipline: every
cross-engine comparison that crosses a threshold or an ordering gets its
fixture margin measured and asserted ≫ the ~1e-13 cross-engine drift.
"""

from __future__ import annotations

import numpy as np
import pytest

from parquet_near_storage_compute_spark.operators import similarity as S
from tests.oracle import compare, duckdb_con


# ------------------------------------------------------- semantic dedup
def test_semantic_dedup_matches_oracle(spark, sf_dir):
    con = duckdb_con(sf_dir)
    compare(
        S.semantic_dedup(spark, sf_dir),
        con,
        S.ORACLE_SQL["dedup_semantic_clusters"],
    )


_ASSIGN_CTES = """
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
                * sqrt(list_dot_product(c.centroid, c.centroid))) AS cc,
           ROW_NUMBER() OVER (PARTITION BY v.vec_id
             ORDER BY list_dot_product(v.v, c.centroid)
                      / (sqrt(list_dot_product(v.v, v.v))
                         * sqrt(list_dot_product(c.centroid, c.centroid)))
                      DESC, c.cell) AS crk
    FROM v CROSS JOIN cvec c
  ) WHERE crk = 1
)
"""


def test_semantic_dedup_float_margins(sf_dir):
    """The two float comparisons the contract's determinism rests on:
    (a) the eps threshold crossing — nearest within-cell pair cosine must
    sit far from SEMDEDUP_EPS; (b) the keep-priority ordering — distinct
    centroid-cosines within a cell must be well separated.  Both margins
    must dwarf the ~1e-13 cross-engine float drift."""
    con = duckdb_con(sf_dir)
    cos = (
        "list_dot_product(a.v, b.v) / (sqrt(list_dot_product(a.v, a.v))"
        " * sqrt(list_dot_product(b.v, b.v)))"
    )
    eps_margin, cc_gap = con.execute(
        _ASSIGN_CTES
        + f"""
        SELECT
          (SELECT MIN(abs({cos} - {S.SEMDEDUP_EPS}))
           FROM assigned a JOIN assigned b
             ON a.cell = b.cell AND a.vec_id < b.vec_id),
          (SELECT MIN(abs(a.cc - b.cc))
           FROM assigned a JOIN assigned b
             ON a.cell = b.cell AND a.vec_id < b.vec_id AND a.cc != b.cc)
        """
    ).fetchone()
    assert eps_margin > 1e-8, eps_margin  # measured ~4e-5
    assert cc_gap > 1e-9, cc_gap  # measured ~4e-6


def test_semantic_dedup_decision_semantics(spark, sf_dir):
    """Independent numpy replay of the decision rule: a vector is dropped
    iff some same-cell vector of higher keep-priority (lower centroid
    cosine, ties by id) is eps-similar; the recorded witness is the
    minimum-id such neighbour; keeps drop nobody's priority claim."""
    rows = S.semantic_dedup(spark, sf_dir).collect()
    con = duckdb_con(sf_dir)
    raw = con.execute(
        "SELECT vec_id, embedding::DOUBLE[] FROM embeddings ORDER BY vec_id"
    ).fetchall()
    V = {r[0]: np.array(r[1]) for r in raw}
    by_cell: dict[int, list] = {}
    for r in rows:
        by_cell.setdefault(r.cell, []).append(r)
    n_drops = 0
    for cell_rows in by_cell.values():
        for a in cell_rows:
            va = V[a.vec_id]
            witnesses = []
            for b in cell_rows:
                if b.vec_id == a.vec_id:
                    continue
                pri_b = (b.cell_cos, b.vec_id) < (a.cell_cos, a.vec_id)
                cos = float(
                    V[b.vec_id] @ va
                    / (np.linalg.norm(V[b.vec_id]) * np.linalg.norm(va))
                )
                if pri_b and cos >= S.SEMDEDUP_EPS:
                    witnesses.append(b.vec_id)
            if witnesses:
                n_drops += 1
                assert a.keep == 0 and a.dropped_by == min(witnesses)
                assert a.n_closer_dups == len(witnesses)
            else:
                assert a.keep == 1 and a.dropped_by is None
                assert a.n_closer_dups == 0
    assert n_drops > 0, "fixture must exercise the drop path"
    assert n_drops < len(rows), "fixture must exercise the keep path"


def _write_corpus(spark, rows, out):
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).coalesce(2).write.mode("overwrite").parquet(
        out + "/embeddings.parquet"
    )
    import duckdb

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS "
        f"SELECT * FROM '{out}/embeddings.parquet/*.parquet'"
    )
    return con


def test_semantic_dedup_duplicate_heavy_collapse(spark, tmp_path):
    """The value-collapse path (r7 session 3): 30% of the corpus are
    exact copies of 5 base vectors, so multi-member groups dominate and
    the closed-form own-group reconstruction (rank − 1 witnesses, group-
    min witness id) carries the answer.  The oracle is the unchanged
    member-level brute rule — green here proves the collapse
    semantics-preserving on a corpus where it actually binds."""
    import random

    rng = random.Random(7)
    base = [
        [round(rng.uniform(-0.6, 0.6), 4) for _ in range(64)]
        for _ in range(5)
    ]
    rows = []
    for i in range(400):
        vec = (
            rng.choice(base)
            if rng.random() < 0.3
            else [round(rng.uniform(-0.6, 0.6), 4) for _ in range(64)]
        )
        rows.append((i, [float(x) for x in vec], rng.randrange(10)))
    out = str(tmp_path / "dup_heavy")
    con = _write_corpus(spark, rows, out)
    compare(
        S.semantic_dedup(spark, out),
        con,
        S.ORACLE_SQL["dedup_semantic_clusters"],
    )


def test_semantic_dedup_cc_tie_branch(spark, tmp_path):
    """The cross-group centroid-cosine TIE fallback: w = 2·v is a
    DISTINCT value whose centroid cosine is BITWISE equal to v's (every
    step of cos() scales by an exact power of two, which cancels), and
    cos(v, 2v) = 1 ≥ eps — so (v, 2v) is exactly a tied eps-similar
    group pair and priority falls through to member ids.  Pin that the
    branch fires and that the member-level oracle still matches."""
    import random

    rng = random.Random(11)
    rows = []
    for i in range(120):
        vec = [round(rng.uniform(-0.5, 0.5), 4) for _ in range(64)]
        rows.append((i, [float(x) for x in vec], rng.randrange(10)))
        if i < 8:  # scaled twins (and one duplicate of a twin)
            rows.append(
                (1000 + i, [float(2.0 * x) for x in vec], rng.randrange(10))
            )
    rows.append((2000, rows[1][1], 3))  # exact copy of a twin base
    out = str(tmp_path / "cc_tie")
    con = _write_corpus(spark, rows, out)
    n_ties = con.execute(
        _ASSIGN_CTES
        + """
        SELECT COUNT(*) FROM assigned a JOIN assigned b
          ON a.cell = b.cell AND a.cc = b.cc AND a.vec_id < b.vec_id
          AND a.v != b.v
        """
    ).fetchone()[0]
    assert n_ties > 0, "fixture must create cross-value cc ties"
    compare(
        S.semantic_dedup(spark, out),
        con,
        S.ORACLE_SQL["dedup_semantic_clusters"],
    )


def test_semantic_dedup_plan_shapes(spark, sf_dir):
    """Scale-shape pins: the centroid codebook joins broadcast (no
    shuffled pair-build against the dimension side) and the plan carries
    no cartesian product beyond the K-row codebook cross join."""
    plan = S.semantic_dedup(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan


# ------------------------------------------------------------------ PQ
def test_pq_matches_oracle(spark, sf_dir):
    con = duckdb_con(sf_dir)
    compare(S.topk_pq(spark, sf_dir), con, S.ORACLE_SQL["sim_topk_pq"])


def test_pq_scores_bit_identical_across_engines(spark, sf_dir):
    """Raw double equality of every (query, cand, score, rank) tuple —
    the integer-derived ADC-score claim, no epsilon."""
    con = duckdb_con(sf_dir)
    srows = sorted(tuple(r) for r in S.topk_pq(spark, sf_dir).collect())
    drows = sorted(
        tuple(r) for r in con.execute(S.ORACLE_SQL["sim_topk_pq"]).fetchall()
    )
    assert srows == drows


def test_pq_recall_floor(sf_dir):
    """Measured recall vs exact cosine top-k.  This corpus is near-random
    (PQ's hard case — no cluster structure to exploit), so the floor is
    deliberately the measured value minus slack: 20/30 at sf0.001."""
    con = duckdb_con(sf_dir)
    exact = set(
        map(
            tuple,
            con.execute(S.ORACLE_SQL["sim_topk_bruteforce"])
            .df()[["query_id", "cand_id"]]
            .values.tolist(),
        )
    )
    pq = set(
        map(
            tuple,
            con.execute(S.ORACLE_SQL["sim_topk_pq"])
            .df()[["query_id", "cand_id"]]
            .values.tolist(),
        )
    )
    assert len(exact & pq) / len(exact) >= 0.5


def _pq_recall_at(sf: str, iters: int) -> float:
    """Oracle-side recall@TOP_K vs exact cosine for a given number of
    Lloyd rounds (splices the unrolled-training CTE text, so iters=0 is
    the untrained lattice codebook)."""
    con = duckdb_con(sf)
    sql = S.ORACLE_SQL["sim_topk_pq"].replace(
        S._pq_train_ctes(), S._pq_train_ctes(iters)
    )
    exact = set(
        map(
            tuple,
            con.execute(S.ORACLE_SQL["sim_topk_bruteforce"])
            .df()[["query_id", "cand_id"]]
            .values.tolist(),
        )
    )
    pq = set(
        map(
            tuple,
            con.execute(sql).df()[["query_id", "cand_id"]].values.tolist(),
        )
    )
    return len(exact & pq) / len(exact)


def test_pq_trained_beats_lattice(sf_dir, sf_oracle_dir):
    """The trained codebook's measured recall beats the untrained lattice
    floor-means at every test SF (tools/pq_train_sweep.py, recall@30 at
    PQ_ITERS=3: sf0.001 0.667→0.700, sf0.01 0.700→0.800, sf0.1
    0.533→0.567)."""
    for sf in {sf_dir, sf_oracle_dir}:
        assert _pq_recall_at(sf, S.PQ_ITERS) > _pq_recall_at(sf, 0), sf


def test_pq_codebook_floor_margin(sf_dir):
    """The one inexact step in the codebook: floor(Σx/n) on the lattice
    means.  Σx and n are exact; IEEE division is correctly rounded; the
    result can only disagree across engines if the true quotient sits
    within rounding distance (~1e-13) of an integer.  Measure it."""
    con = duckdb_con(sf_dir)
    margin = con.execute(
        f"""
        WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        vi AS (SELECT vec_id, list_transform(v, x ->
                 CAST(floor(x * {S.PQ_GRID}.0 + 0.5) AS BIGINT)) AS vi
               FROM v),
        px AS (SELECT generate_subscripts(vi, 1) - 1 AS pos, unnest(vi) AS x
               FROM vi),
        mq AS (SELECT pos % {S.PQ_SUB} AS d, pos // {S.PQ_SUB} AS s,
                      CAST(SUM(x) AS DOUBLE) / COUNT(*) AS q
               FROM px GROUP BY pos)
        SELECT MIN(CASE WHEN q = floor(q) THEN 1.0
                        ELSE LEAST(q - floor(q), ceil(q) - q) END)
        FROM mq
        """
    ).fetchone()[0]
    assert margin > 1e-9, margin  # measured ~1.6e-2


def _np_pq_recon(V: np.ndarray) -> np.ndarray:
    """Third-engine (numpy) re-derivation of the full PQ pipeline,
    including the PQ_ITERS Lloyd training rounds (r8)."""
    VI = np.floor(V * float(S.PQ_GRID) + 0.5).astype(np.int64)
    recon = np.zeros_like(VI)
    for s in range(S.PQ_M):
        sv = VI[:, s * S.PQ_SUB : (s + 1) * S.PQ_SUB]
        levels = (sv >= 0).astype(np.int64) + 2 * (
            np.abs(sv) >= S.PQ_TMAG
        ).astype(np.int64)
        keys = (levels * (4 ** np.arange(S.PQ_SUB))).sum(axis=1)
        cells = np.unique(keys)
        codes = np.stack(
            [
                np.floor(
                    sv[keys == kk].sum(axis=0).astype(float)
                    / (keys == kk).sum()
                ).astype(np.int64)
                for kk in cells
            ]
        )
        # Lloyd rounds: reassign to nearest codeword (argmin returns the
        # first minimum = smallest codeword id, matching the engines'
        # tie rule since `cells` is sorted ascending), refit floor-means,
        # empty codewords keep their previous position
        for _ in range(S.PQ_ITERS):
            d2 = ((sv[:, None, :] - codes[None, :, :]) ** 2).sum(axis=2)
            a = d2.argmin(axis=1)
            codes = codes.copy()
            for j in range(len(cells)):
                m = a == j
                if m.any():
                    codes[j] = np.floor(
                        sv[m].sum(axis=0).astype(float) / m.sum()
                    ).astype(np.int64)
        d2 = ((sv[:, None, :] - codes[None, :, :]) ** 2).sum(axis=2)
        # argmin with ties by cell id: cells is sorted ascending and
        # argmin returns the first minimum, which is the smallest cell id
        recon[:, s * S.PQ_SUB : (s + 1) * S.PQ_SUB] = codes[d2.argmin(axis=1)]
    return recon


def test_pq_three_engine_agreement(spark, sf_dir):
    """Spark's reconstructed code table equals an independent numpy
    re-derivation, element for element (DuckDB agreement is already
    pinned bit-for-bit by the oracle compare)."""
    con = duckdb_con(sf_dir)
    raw = con.execute(
        "SELECT vec_id, embedding::DOUBLE[] FROM embeddings ORDER BY vec_id"
    ).fetchall()
    ids = [r[0] for r in raw]
    V = np.array([r[1] for r in raw])
    want = {i: r.tolist() for i, r in zip(ids, _np_pq_recon(V))}
    from parquet_near_storage_compute_spark.functions.vectors import as_double
    from parquet_near_storage_compute_spark.tables import fan_out, load_table
    from pyspark.sql import functions as F

    emb = load_table(spark, sf_dir, "embeddings")
    v = fan_out(emb).select("vec_id", F.expr(f"{as_double('embedding')} AS v"))
    got = {
        r.vec_id: list(r.r)
        for r in S._pq_recon(v, S._pq_book(spark, sf_dir)).collect()
    }
    assert got == want
