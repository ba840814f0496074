"""Focused properties for the round-12 continuation operators, beyond the
registry oracle compare: `text_dedup_scrub` (corpus-wide first-occurrence
segment scrub with reassembly), `train_dsir_resample` (DSIR importance
resampling on the exact fixed-point log2 lattice), and `events_pagerank`
(exact-integer PageRank over the event-type transition graph)."""

from __future__ import annotations

import hashlib
import math

import duckdb
from pyspark.sql import functions as F

from parquet_near_storage_compute_spark.operators.textops import (
    ORACLE_SQL as TEXT_ORACLES,
    SEG_WORDS,
    dedup_scrub,
)
from parquet_near_storage_compute_spark.operators.training import (
    DSIR_FRAC_BITS,
    DSIR_TOPK,
    ORACLE_SQL as TRAIN_ORACLES,
    _with_ilog2fp,
    dsir_resample,
)
from tests.oracle import compare


def _docs_dir(spark, tmp_path, rows) -> tuple[str, object]:
    """Write a synthetic documents table from (doc_id, text, lang, source)
    rows; return (sf_dir, duckdb con with the view registered)."""
    out = str(tmp_path / "corpus")
    spark.createDataFrame(
        [(i, t, lang, src, len(t)) for i, t, lang, src in rows],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).coalesce(2).write.mode("overwrite").parquet(out + "/documents.parquet")
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS "
        f"SELECT * FROM '{out}/documents.parquet/*.parquet'"
    )
    return out, con


# --------------------------------------------- exact fixed-point log2
def _ilog2fp_py(x: int) -> int:
    """Independent third implementation of the shift-and-square loop
    (exact Python big-ints) — NOT derived from the Spark or SQL form."""
    assert x >= 1
    m = x.bit_length() - 1
    y = x << (30 - m) if m <= 30 else x >> (m - 30)
    acc = 0
    for _ in range(DSIR_FRAC_BITS):
        y = (y * y) >> 30
        if y >= 1 << 31:
            acc = acc * 2 + 1
            y >>= 1
        else:
            acc = acc * 2
    return m * (1 << DSIR_FRAC_BITS) + acc


def test_ilog2fp_matches_python_reference_and_true_log2(spark):
    """The Spark column chain must reproduce the Python big-int loop
    bit-for-bit, and both must sit within 2 fixed-point ulps of the true
    log2 (each truncating squaring step loses < 2^-30 of y, so the
    accumulated error stays far below one fractional bit)."""
    vals = [1, 2, 3, 5, 7, 1023, 1024, 1025, (1 << 31) - 1, 1 << 31,
            (1 << 31) + 1, 123456789, (1 << 40) + 12345, (1 << 62) + 999]
    df = spark.createDataFrame([(v,) for v in vals], "val long")
    out = {
        r["val"]: r["lg"]
        for r in _with_ilog2fp(df, "val", "lg").collect()
    }
    for v in vals:
        expect = _ilog2fp_py(v)
        assert out[v] == expect, (v, out[v], expect)
        true_fp = math.log2(v) * (1 << DSIR_FRAC_BITS)
        assert abs(out[v] - true_fp) <= 2, (v, out[v], true_fp)


# --------------------------------------------- first-occurrence scrub
def _w(tag: str, n: int = SEG_WORDS) -> str:
    """A segment-sized run of n distinct words tagged `tag`."""
    return " ".join(f"{tag}{i}" for i in range(n))


def test_dedup_scrub_first_occurrence_semantics(spark, tmp_path):
    """Planted corpus pinning every branch: cross-doc duplicates scrub at
    every occurrence but the global (doc_id, seg_idx) minimum; repeats
    INSIDE the keeper doc also scrub; a short (sub-segment) doc is its own
    single segment; hashes match hand reassembly."""
    A, B, C = _w("a"), _w("b"), _w("c")
    rows = [
        (0, f"{A} {B}", "en", "s0"),          # keeper of A and B
        (1, f"{B} {C}", "en", "s0"),          # B scrubbed, keeps C
        (2, f"{A} {A}", "en", "s1"),          # both occurrences scrubbed
        (3, "tiny doc", "en", "s1"),          # one sub-width segment
        (4, f"{C} {A} {_w('d')}", "en", "s2"),  # C, A scrubbed; keeps d
    ]
    sf, con = _docs_dir(spark, tmp_path, rows)
    got = {r["doc_id"]: r for r in dedup_scrub(spark, sf).collect()}

    def h(s: str) -> str:
        return hashlib.md5(s.encode()).hexdigest()

    assert got[0].asDict() == {
        "doc_id": 0, "n_segments": 2, "n_kept": 2,
        "kept_chars": len(f"{A} {B}"), "kept_hash": h(f"{A} {B}"),
    }
    assert got[1].asDict() == {
        "doc_id": 1, "n_segments": 2, "n_kept": 1,
        "kept_chars": len(C), "kept_hash": h(C),
    }
    assert got[2].asDict() == {
        "doc_id": 2, "n_segments": 2, "n_kept": 0,
        "kept_chars": 0, "kept_hash": h(""),
    }
    assert got[3].asDict() == {
        "doc_id": 3, "n_segments": 1, "n_kept": 1,
        "kept_chars": len("tiny doc"), "kept_hash": h("tiny doc"),
    }
    assert got[4].asDict() == {
        "doc_id": 4, "n_segments": 3, "n_kept": 1,
        "kept_chars": len(_w("d")), "kept_hash": h(_w("d")),
    }
    # and the DuckDB oracle agrees on the planted corpus
    compare(dedup_scrub(spark, sf), con, TEXT_ORACLES["text_dedup_scrub"])


def test_dedup_scrub_total_kept_equals_distinct_segments(spark, sf_dir):
    """Conservation law on the real table: exactly one occurrence of every
    distinct segment survives, so Σ n_kept == #distinct segments and
    Σ n_segments == total occurrence count."""
    res = dedup_scrub(spark, sf_dir).agg(
        F.sum("n_kept").alias("kept"), F.sum("n_segments").alias("total")
    ).collect()[0]
    from parquet_near_storage_compute_spark.tables import load_table
    from parquet_near_storage_compute_spark.functions.text import words

    docs = load_table(spark, sf_dir, "documents")
    ws = F.expr(words("text"))
    n_segs = F.ceil(F.size(ws) / F.lit(SEG_WORDS)).cast("int")
    segs = docs.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(0), n_segs - 1),
                lambda i: F.array_join(
                    F.slice(ws, i * SEG_WORDS + 1, SEG_WORDS), " "
                ),
            )
        ).alias("seg")
    )
    counts = segs.agg(
        F.count(F.lit(1)).alias("occ"),
        F.countDistinct("seg").alias("distinct_segs"),
    ).collect()[0]
    assert res["kept"] == counts["distinct_segs"]
    assert res["total"] == counts["occ"]


# --------------------------------------------- DSIR importance resampling
def test_dsir_prefers_target_vocabulary(spark, tmp_path):
    """Planted corpus where the target slice (lang='en') uses a disjoint
    vocabulary: the en-vocab documents must outrank the others, a pure
    non-en-vocab doc must come last, and the oracle agrees bit-for-bit."""
    en_text = " ".join(["alpha beta gamma"] * 8)
    de_text = " ".join(["omega psi chi"] * 8)
    rows = [
        (0, en_text, "en", "s0"),
        (1, en_text, "en", "s0"),
        (2, de_text, "de", "s0"),
        (3, de_text, "de", "s0"),
        (4, en_text, "de", "s1"),   # en vocabulary, non-target label
        (5, de_text, "en", "s1"),   # target label, non-target vocabulary
    ]
    sf, con = _docs_dir(spark, tmp_path, rows)
    res = dsir_resample(spark, sf).collect()
    scores = {r["doc_id"]: r["score_fp"] for r in res}
    # docs written in the target vocabulary score above docs that aren't,
    # regardless of their own label (DSIR scores text, not metadata) —
    # doc 5 carries the en label but the de vocabulary and must rank low
    assert scores[4] == scores[0] == scores[1]
    assert scores[5] == scores[2] == scores[3]
    assert scores[0] > scores[2]
    compare(dsir_resample(spark, sf), con, TRAIN_ORACLES["train_dsir_resample"])


# --------------------------------------------- event-type PageRank
def _events_dir(spark, tmp_path, rows) -> tuple[str, object]:
    """Write a synthetic events table from (event_id, ts, user_id,
    event_type) rows; return (sf_dir, duckdb con)."""
    import datetime as dt

    out = str(tmp_path / "evcorpus")
    spark.createDataFrame(
        [
            (eid, dt.datetime(2024, 1, 1) + dt.timedelta(seconds=s), uid, et,
             1.0, "{}")
            for eid, s, uid, et in rows
        ],
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).coalesce(2).write.mode("overwrite").parquet(out + "/events.parquet")
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS "
        f"SELECT * FROM '{out}/events.parquet/*.parquet'"
    )
    return out, con


def test_pagerank_hub_dangling_isolated(spark, tmp_path):
    """Planted graph pinning the branches: three users each end at 'hub'
    (hub has NO outgoing transition → dangling redistribution), one user
    has a single 'iso' event (isolated node: in the node set, no pairs at
    all). The hub must outrank every source node, ranks must conserve
    PR_SCALE up to floor losses, and the oracle must agree exactly."""
    from parquet_near_storage_compute_spark.operators.timeseries import (
        ORACLE_SQL as TS_ORACLES,
        PR_ITERS,
        PR_SCALE,
        pagerank,
    )

    rows = [
        (1, 0, 10, "a"), (2, 60, 10, "hub"),
        (3, 0, 11, "b"), (4, 60, 11, "hub"),
        (5, 0, 12, "c"), (6, 60, 12, "hub"),
        (7, 0, 13, "iso"),
        (8, 0, 14, "c"), (9, 60, 14, "a"),   # gives 'a' real in-mass
    ]
    sf, con = _events_dir(spark, tmp_path, rows)
    res = {r["event_type"]: r for r in pagerank(spark, sf).collect()}
    assert set(res) == {"a", "b", "c", "hub", "iso"}
    assert res["hub"]["out_total"] == 0 and res["iso"]["out_total"] == 0
    for v in ("a", "b", "c", "iso"):
        assert res["hub"]["rank_fp"] > res[v]["rank_fp"]
    # b and c are pure sources (in-mass = base + dangling share only), the
    # same as the isolated node; 'a' additionally receives half of c's
    # outflow each round and must outrank all three
    assert res["b"]["rank_fp"] == res["c"]["rank_fp"] == res["iso"]["rank_fp"]
    assert res["a"]["rank_fp"] > res["b"]["rank_fp"]
    total = sum(r["rank_fp"] for r in res.values())
    # each iteration loses < 2 units per node to the three floor divisions
    assert PR_SCALE - 3 * 5 * (PR_ITERS + 1) <= total <= PR_SCALE
    compare(pagerank(spark, sf), con, TS_ORACLES["events_pagerank"])


def test_pagerank_rank_order_is_declared_total(spark, sf_dir):
    """The report is one row per event type in (rank desc, type) order and
    re-running reproduces it bit-for-bit."""
    from parquet_near_storage_compute_spark.operators.timeseries import pagerank

    a = [tuple(r) for r in pagerank(spark, sf_dir).collect()]
    b = [tuple(r) for r in pagerank(spark, sf_dir).collect()]
    assert a == b
    key = [(-r[2], r[0]) for r in a]
    assert key == sorted(key)


def test_ilog2fp_three_engine_randomized_differential(spark):
    """Seeded random sweep of the SHARED log2 device across all three
    implementations — the Spark column chain (`with_ilog2fp`), the
    generated DuckDB CTE chain (`ilog2fp_ctes`), and the independent
    Python big-int loop — over 200 values spanning 1 .. 2^62 plus the
    power-of-two boundaries (where the normalize shift and the first
    squaring bit both flip)."""
    import random

    from parquet_near_storage_compute_spark.functions.intmath import (
        ilog2fp_ctes,
        with_ilog2fp,
    )

    rng = random.Random(0xC0FFEE)
    vals = sorted(
        {rng.randrange(1, 1 << 62) for _ in range(180)}
        | {1, 2, 3}
        | {(1 << k) + d for k in (10, 30, 31, 40, 61) for d in (-1, 0, 1)}
    )
    df = spark.createDataFrame([(v,) for v in vals], "val long")
    got_spark = {
        r["val"]: r["lg"] for r in with_ilog2fp(df, "val", "lg").collect()
    }
    con = duckdb.connect()
    values = ", ".join(f"({v})" for v in vals)
    sql = f"""
        WITH src AS (SELECT * FROM (VALUES {values}) AS t(val)),
        vals AS (SELECT CAST(NULL AS BIGINT) AS b, 'x' AS kind,
                        CAST(val AS BIGINT) AS val FROM src),
        {ilog2fp_ctes("vals", key_cols="val")}
        SELECT val, lg FROM lgt
    """
    got_duck = dict(con.execute(sql).fetchall())
    for v in vals:
        expect = _ilog2fp_py(v)
        assert got_spark[v] == expect, (v, got_spark[v], expect)
        assert got_duck[v] == expect, (v, got_duck[v], expect)


# --------------------------------------------- Holt level+trend
def test_holt_trend_matches_python_replay_and_signs(spark, tmp_path):
    """Planted series pinning the trajectory three ways: an independent
    Python replay of the truncating recurrence (the third engine), sign
    structure (rising series → positive trend, falling series → negative
    trend — the falling user hits NEGATIVE odd numerators, the exact
    case where truncating (Spark div, DuckDB //) and flooring diverge),
    and the DuckDB recursive-CTE oracle."""
    import datetime as dt

    from parquet_near_storage_compute_spark.operators.timeseries import (
        HOLT_SCALE,
        LTTB_BUCKET_SEC,
        ORACLE_SQL as TS_ORACLES,
        holt_trend,
    )

    rows = []
    eid = 0
    series = {
        10: [1.0, 2.0, 3.0, 4.0],        # rising
        11: [9.37, 7.11, 4.93, 1.07],    # falling, odd cents
        12: [5.0],                       # single bucket
    }
    for uid, vals in series.items():
        for i, v in enumerate(vals):
            eid += 1
            rows.append((eid, i * LTTB_BUCKET_SEC + 30, uid, "view", v))
    out = str(tmp_path / "hw")
    spark.createDataFrame(
        [
            (e, dt.datetime(2024, 1, 1) + dt.timedelta(seconds=s), u, et,
             v, "{}")
            for e, s, u, et, v in rows
        ],
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).coalesce(2).write.mode("overwrite").parquet(out + "/events.parquet")
    import duckdb as _dd

    con = _dd.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM '{out}/events.parquet/*.parquet'"
    )

    def tdiv(a: int, d: int) -> int:
        q = abs(a) // d
        return q if a >= 0 else -q

    def replay(vals):
        ms = [round(v * 100) for v in vals]  # one event per bucket
        l, b = ms[0] * HOLT_SCALE, 0
        for m in ms[1:]:
            lp = tdiv(l + b + m * HOLT_SCALE, 2)
            b = tdiv(lp - l, 4) + tdiv(3 * b, 4)
            l = lp
        return l, b

    got = {r["user_id"]: r for r in holt_trend(spark, out).collect()}
    for uid, vals in series.items():
        l, b = replay(vals)
        assert got[uid]["level_fp"] == l, (uid, got[uid], l)
        assert got[uid]["trend_fp"] == b, (uid, got[uid], b)
        assert got[uid]["forecast1_fp"] == l + b
        assert got[uid]["n_buckets"] == len(vals)
    assert got[10]["trend_fp"] > 0 and got[11]["trend_fp"] < 0
    assert got[12]["trend_fp"] == 0
    compare(holt_trend(spark, out), con, TS_ORACLES["time_holt_trend"])


def test_holt_trend_random_series_match_python_replay(spark, tmp_path):
    """Seeded random series (negative values, single-point users, many
    buckets, duplicate in-bucket events) folded by Spark must equal the
    independent Python replay user by user — the truncating-division
    trajectory under adversarial signs."""
    import datetime as dt
    import random

    from parquet_near_storage_compute_spark.operators.timeseries import (
        HOLT_SCALE,
        LTTB_BUCKET_SEC,
        holt_trend,
    )

    rng = random.Random(0xBEEF)
    rows, eid = [], 0
    series = {}
    for uid in range(20):
        n_b = rng.choice([1, 2, 3, 8, 40])
        buckets = sorted(rng.sample(range(100), n_b))
        per_bucket = {}
        for bkt in buckets:
            vals = [round(rng.uniform(-500, 500), 2)
                    for _ in range(rng.randint(1, 4))]
            per_bucket[bkt] = vals
            for j, v in enumerate(vals):
                eid += 1
                rows.append(
                    (eid, bkt * LTTB_BUCKET_SEC + 17 * j + 5, uid, v)
                )
        series[uid] = per_bucket

    out = str(tmp_path / "hwrand")
    spark.createDataFrame(
        [
            (e, dt.datetime(2024, 1, 1) + dt.timedelta(seconds=s), u,
             "view", v, "{}")
            for e, s, u, v in rows
        ],
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).coalesce(2).write.mode("overwrite").parquet(out + "/events.parquet")

    def tdiv(a: int, d: int) -> int:
        q = abs(a) // d
        return q if a >= 0 else -q

    base_sec = int(dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
                   .timestamp())

    def replay(per_bucket):
        ms = []
        for bkt in sorted(per_bucket):
            cents = [
                # replicate round(value*100) on the stored double
                int(round(v * 100)) for v in per_bucket[bkt]
            ]
            # bucket of the first event: (base + bkt*B + off) div B; the
            # planted offsets keep every event inside its bucket
            ms.append(tdiv(sum(cents), len(cents)))
        l, b = ms[0] * HOLT_SCALE, 0
        for m in ms[1:]:
            lp = tdiv(l + b + m * HOLT_SCALE, 2)
            b = tdiv(lp - l, 4) + tdiv(3 * b, 4)
            l = lp
        return l, b

    # the replay's bucket indices match Spark's absolute-epoch buckets
    # only because 2024-01-01 UTC is exactly grid-aligned — pin that
    assert base_sec % LTTB_BUCKET_SEC == 0
    got = {r["user_id"]: r for r in holt_trend(spark, out).collect()}
    mismatch = []
    for uid, per_bucket in series.items():
        l, b = replay(per_bucket)
        if (got[uid]["level_fp"], got[uid]["trend_fp"]) != (l, b):
            mismatch.append(uid)
    assert not mismatch, mismatch


# --------------------------------------------- PSI drift report
def test_drift_psi_identical_slices_score_zero_terms(spark, tmp_path):
    """When ref and cur have IDENTICAL per-bucket counts, d_i = 0 and
    lr_i = 0 exactly (same smoothed counts and totals on both sides), so
    every psi_term and the total are exactly 0 — the no-drift fixed
    point of the integer formula."""
    from parquet_near_storage_compute_spark.operators.training import (
        ORACLE_SQL as TRAIN_ORACLES,
        drift_psi,
    )

    rows = []
    for i in range(20):  # 10 en + 10 de docs with matched lengths
        text = "x" * (50 + 100 * (i % 5))  # buckets 0..4, 2 docs each side
        rows.append((2 * i, text, "en", "s0"))
        rows.append((2 * i + 1, text, "de", "s0"))
    sf, con = _docs_dir(spark, tmp_path, rows)
    res = drift_psi(spark, sf).collect()
    assert len(res) == 5
    for r in res:
        assert r["n_ref"] == r["n_cur"] == 4
        assert r["d_scaled"] == 0 and r["lr_fp"] == 0
        assert r["psi_term"] == 0 and r["psi_total"] == 0
    compare(drift_psi(spark, sf), con, TRAIN_ORACLES["train_drift_psi"])


def test_drift_psi_detects_planted_shift(spark, tmp_path):
    """Plant a hard shift — ref mass in bucket 0, cur mass in bucket 9 —
    and check the signs: the ref-heavy bucket has d > 0 and lr > 0 (term
    > 0), the cur-heavy bucket d < 0 and lr < 0 (term > 0 again: PSI
    terms are non-negative whenever d and lr share sign, which they do by
    construction — both are monotone in p−q), and the total is large and
    positive. Oracle agrees bit-for-bit."""
    from parquet_near_storage_compute_spark.operators.training import (
        ORACLE_SQL as TRAIN_ORACLES,
        drift_psi,
    )

    rows = []
    for i in range(30):
        rows.append((i, "x" * 10, "en", "s0"))          # ref → bucket 0
        rows.append((100 + i, "x" * 950, "de", "s0"))   # cur → bucket 9
    sf, con = _docs_dir(spark, tmp_path, rows)
    res = {r["bucket"]: r for r in drift_psi(spark, sf).collect()}
    assert set(res) == {0, 9}
    assert res[0]["d_scaled"] > 0 and res[0]["lr_fp"] > 0
    assert res[9]["d_scaled"] < 0 and res[9]["lr_fp"] < 0
    assert res[0]["psi_term"] > 0 and res[9]["psi_term"] > 0
    assert res[0]["psi_total"] == res[0]["psi_term"] + res[9]["psi_term"]
    compare(drift_psi(spark, sf), con, TRAIN_ORACLES["train_drift_psi"])


def test_dsir_topk_is_deterministic_boundary(spark, sf_oracle_dir):
    """The report is exactly DSIR_TOPK rows with a total (score desc,
    doc_id asc) order — re-running yields the identical frame."""
    a = dsir_resample(spark, sf_oracle_dir).collect()
    b = dsir_resample(spark, sf_oracle_dir).collect()
    assert len(a) == DSIR_TOPK
    assert [tuple(r) for r in a] == [tuple(r) for r in b]
    key = [(-r["score_fp"], r["doc_id"]) for r in a]
    assert key == sorted(key)
