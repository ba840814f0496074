"""Occupancy bound for `sim_knn_join` (VERDICT r5 #2): a bucket with more
than KNN_BUCKET_CAP members must enumerate only its KNN_PILOT smallest
vec_ids as neighbour candidates — candidate volume linear in bucket size,
not quadratic — while the DuckDB oracle mirrors the identical selection so
the capped semantics stay externally checkable.  The adversarial regime is
exact-duplicate vectors (the scale-evidence replication law), which sign-LSH
refinement provably cannot split; the cap is what binds there."""

from __future__ import annotations

import os

import duckdb
import pyspark.sql.functions as F
import pytest

from parquet_near_storage_compute_spark.operators import similarity as S
from parquet_near_storage_compute_spark.tables import load_table
from tests.oracle import compare

#: Enough exact copies of one vector to push its bucket well past the cap.
N_HOT = S.KNN_BUCKET_CAP + 200


@pytest.fixture(scope="module")
def hot_dir(spark, sf_dir, tmp_path_factory):
    """sf0.001 embeddings + N_HOT exact duplicates of vec 0's embedding
    under fresh vec_ids — one mega-bucket, every other bucket untouched."""
    out = str(tmp_path_factory.mktemp("knn_cap"))
    emb = load_table(spark, sf_dir, "embeddings")
    hot = (
        emb.filter(F.col("vec_id") == 0)
        .select(
            F.explode(F.sequence(F.lit(1), F.lit(N_HOT))).alias("i"),
            "embedding",
            "label",
        )
        .select((F.lit(1_000_000) + F.col("i")).alias("vec_id"), "embedding", "label")
    )
    emb.unionByName(hot).coalesce(1).write.parquet(
        os.path.join(out, "embeddings.parquet")
    )
    return out


def test_nbr_candidates_bounded(spark, hot_dir):
    v = S._vectors(spark, hot_dir).withColumn(
        "bucket", F.expr(S.lsh_bucket("v", S._PLANES))
    )
    sizes = {r.bucket: r.n for r in v.groupBy("bucket").agg(F.count("*").alias("n")).collect()}
    assert max(sizes.values()) > S.KNN_BUCKET_CAP  # the fixture is adversarial
    nbrs = {
        r.bucket: r.n
        for r in S._nbr_candidates(v)
        .groupBy("bucket")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    for bucket, n in sizes.items():
        if n <= S.KNN_BUCKET_CAP:
            assert nbrs[bucket] == n  # in-cap buckets: untouched
        else:
            assert nbrs[bucket] == S.KNN_PILOT  # over-cap: exactly the pilots


def test_pilots_are_the_k_smallest_vec_ids(spark, hot_dir):
    """The two-phase salted k-min must select EXACTLY the KNN_PILOT smallest
    vec_ids of the over-cap bucket (determinism is what makes the oracle
    able to mirror the selection)."""
    v = S._vectors(spark, hot_dir).withColumn(
        "bucket", F.expr(S.lsh_bucket("v", S._PLANES))
    )
    over = [
        r.bucket
        for r in v.groupBy("bucket")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") > S.KNN_BUCKET_CAP)
        .collect()
    ]
    assert over
    members = sorted(
        r.vec_id for r in v.filter(F.col("bucket") == over[0]).select("vec_id").collect()
    )
    pilots = sorted(
        r.vec_id
        for r in S._nbr_candidates(v)
        .filter(F.col("bucket") == over[0])
        .select("vec_id")
        .collect()
    )
    assert pilots == members[: S.KNN_PILOT]


def test_capped_knn_matches_oracle(spark, hot_dir):
    """Full contract parity on the adversarial corpus: Spark's capped kNN
    graph must equal the oracle SQL run over the same parquet."""
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"'{os.path.join(hot_dir, 'embeddings.parquet')}/*.parquet'"
    )
    compare(S.knn_join(spark, hot_dir), con, S.ORACLE_SQL["sim_knn_join"])


def test_uncapped_path_planless(spark, sf_dir):
    """At contract scale no bucket exceeds the cap, so _nbr_candidates must
    return its input unchanged — the r5 plan, byte for byte."""
    v = S._vectors(spark, sf_dir).withColumn(
        "bucket", F.expr(S.lsh_bucket("v", S._PLANES))
    )
    assert S._nbr_candidates(v) is v


def test_collapsed_dedup_decisions_match_member_level_oracle(spark, hot_dir):
    """`sim_dedup_decisions` (r6): the duplicate-collapse must be exactly
    semantics-preserving — on a corpus where one vector has N_HOT exact
    copies, the group-level algebra must reproduce the brute member-level
    oracle (which enumerates all Θ(dup²) pairs) row for row."""
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"'{os.path.join(hot_dir, 'embeddings.parquet')}/*.parquet'"
    )
    compare(
        S.embedding_dedup_decisions(spark, hot_dir),
        con,
        S.ORACLE_SQL["sim_dedup_decisions"],
    )


def test_collapsed_decisions_pairwork_is_duplication_invariant(spark, hot_dir, sf_dir):
    """The rep-level pair search must see DISTINCT vectors only: the hot
    corpus (500 base + N_HOT copies of one value) exposes exactly as many
    representatives as the base corpus has distinct values."""
    emb = S.load_table(spark, hot_dir, "embeddings")
    mem = emb.select(
        "vec_id", F.expr(f"{S.as_double('embedding')} AS v")
    ).withColumn("gsig", F.md5(F.col("v").cast("string")))
    n_reps = mem.select("gsig").distinct().count()
    n_base_distinct = (
        S.load_table(spark, sf_dir, "embeddings")
        .select(F.md5(F.expr(S.as_double("embedding")).cast("string")))
        .distinct()
        .count()
    )
    assert n_reps == n_base_distinct  # duplication added ZERO pair-side rows


#: Distinct value groups packed into ONE bucket — past the cap, so the
#: pilot bound binds on the GROUP path (the hot corpus above never
#: exercises this: its ~500 distinct values stay in-cap after collapse).
N_OVERCAP = S.KNN_BUCKET_CAP + 88


@pytest.fixture(scope="module")
def overcap_dup_dir(spark, sf_dir, tmp_path_factory):
    """ADVICE r6 regime: a bucket with MORE THAN KNN_BUCKET_CAP distinct
    vector values, plus an exact-duplicate group whose rep_id ranks far
    outside the KNN_PILOT pilot set.  The pilot cap then binds on the
    collapsed group path, and the out-of-pilot duplicate group's members
    must still receive their own cos≈1 duplicates as neighbours (Spark's
    self_cand branch / the oracle's own-group UNION branch)."""
    import numpy as np

    rng = np.random.default_rng(7)
    planes = np.array(S._PLANES)  # (N_PLANES, DIM), entries ±1
    # Sample until one bucket holds N_OVERCAP+1 distinct values.  Bucket
    # membership is decided on the float32-rounded values (what both
    # engines read back), with a 1e-3 sign margin on every plane so
    # engine-side double folds can't flip a bit.
    picked: dict[int, list[np.ndarray]] = {}
    target = None
    while target is None:
        x = rng.normal(size=(4096, S.DIM)).astype(np.float32)
        d = x.astype(np.float64) @ planes.T
        ok = np.abs(d).min(axis=1) > 1e-3
        bits = (d >= 0) @ (2 ** np.arange(S.N_PLANES))
        for vec, b in zip(x[ok], bits[ok]):
            picked.setdefault(int(b), []).append(vec)
            if len(picked[int(b)]) == N_OVERCAP + 1:
                target = int(b)
                break
    vals = picked[target]
    rows = [
        (2_000_000 + i, [float(x) for x in vals[i]], 0)
        for i in range(N_OVERCAP)
    ]
    # the duplicate group: 3 copies of a FRESH value, member ids above
    # every other id in the bucket → rep rank == N_OVERCAP+1 > KNN_PILOT
    dup = [float(x) for x in vals[N_OVERCAP]]
    rows += [(3_000_000 + j, dup, 1) for j in range(3)]
    out = str(tmp_path_factory.mktemp("knn_overcap"))
    emb = load_table(spark, sf_dir, "embeddings")
    synth = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>, label int"
    )
    emb.unionByName(synth).coalesce(1).write.parquet(
        os.path.join(out, "embeddings.parquet")
    )
    return out


def test_overcap_fixture_is_adversarial(spark, overcap_dup_dir):
    """The regime the ADVICE names must actually hold: > KNN_BUCKET_CAP
    DISTINCT values in one bucket, and the duplicate group's rep rank
    outside the pilot set."""
    v = S._vectors(spark, overcap_dup_dir).withColumn(
        "bucket", F.expr(S.lsh_bucket("v", S._PLANES))
    )
    g = v.groupBy("v", "bucket").agg(
        F.min("vec_id").alias("rep_id"), F.count("*").alias("m")
    )
    dup_bucket = g.filter(F.col("rep_id") == 3_000_000).collect()
    assert len(dup_bucket) == 1 and dup_bucket[0].m == 3
    in_bucket = g.filter(F.col("bucket") == dup_bucket[0].bucket)
    n_groups = in_bucket.count()
    assert n_groups > S.KNN_BUCKET_CAP
    rank = in_bucket.filter(F.col("rep_id") < 3_000_000).count() + 1
    assert rank > S.KNN_PILOT  # the dup group is OUT of the pilot set


def test_overcap_out_of_pilot_duplicates_match_oracle(spark, overcap_dup_dir):
    """Contract parity exactly where ADVICE r6 found the divergence: with
    the pilot cap binding, an out-of-pilot duplicate group's members get
    their own duplicates as neighbours on BOTH sides (the oracle's
    own-group UNION branch mirrors Spark's self_cand)."""
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"'{os.path.join(overcap_dup_dir, 'embeddings.parquet')}/*.parquet'"
    )
    result = S.knn_join(spark, overcap_dup_dir)
    compare(result, con, S.ORACLE_SQL["sim_knn_join"])
    # and the semantics the fix preserves: each dup member's top-1
    # neighbour is a sibling duplicate (cos≈1 beats any random cosine)
    top1 = {
        r.src_id: r.nbr_id
        for r in result.filter(
            (F.col("src_id") >= 3_000_000) & (F.col("rk") == 1)
        ).collect()
    }
    assert top1 == {3_000_000: 3_000_001, 3_000_001: 3_000_000, 3_000_002: 3_000_000}


def test_group_collapsed_knn_is_exact_on_duplicates(spark, hot_dir):
    """When the DISTINCT-density cap doesn't bind (hot corpus: 500 value
    groups, one with 713 members), the group-collapsed kNN must be
    BIT-IDENTICAL to the plain uncapped member-level bucket-kNN — the
    reconstruction is exact, not approximate (the superseded member-level
    pilot cap measured 15% edge recall on this regime)."""
    plain_member_level_sql = f"""
        WITH ve AS (
          SELECT vec_id, embedding::DOUBLE[] AS v,
                 {S._bucket_expr("embedding::DOUBLE[]")} AS bucket
          FROM embeddings
        )
        SELECT src_id, nbr_id, cos_sim, CAST(rk AS INT) AS rk FROM (
          SELECT a.vec_id AS src_id, b.vec_id AS nbr_id,
                 {S._COS} AS cos_sim,
                 ROW_NUMBER() OVER (PARTITION BY a.vec_id
                                    ORDER BY {S._COS} DESC, b.vec_id) AS rk
          FROM ve a JOIN ve b
            ON a.bucket = b.bucket AND a.vec_id != b.vec_id
        ) WHERE rk <= {S.TOP_K}
    """
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"'{os.path.join(hot_dir, 'embeddings.parquet')}/*.parquet'"
    )
    compare(S.knn_join(spark, hot_dir), con, plain_member_level_sql)
