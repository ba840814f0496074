"""Focused properties for the round-10 operators, beyond the registry
oracle compare: the MinHash estimator calibration table
(`dedup_minhash_calibration`), the per-doc novel-trigram report
(`text_ngram_novelty`), and the session-window boundary semantics the
r10 randomized differential caught."""

from __future__ import annotations

import datetime as dt

import duckdb
from pyspark.sql import Window
from pyspark.sql import functions as F

from parquet_near_storage_compute_spark.functions.text import shingles, words
from parquet_near_storage_compute_spark.operators.dedup import (
    MINHASH_K,
    _lsh_candidates,
    _minhash_signatures,
    minhash_calibration,
)
from parquet_near_storage_compute_spark.operators.dedup import (
    ORACLE_SQL as DEDUP_ORACLES,
)
from parquet_near_storage_compute_spark.operators.textops import (
    ORACLE_SQL as TEXT_ORACLES,
    ngram_novelty,
)
from parquet_near_storage_compute_spark.tables import load_table
from tests.oracle import compare


def _docs_dir(spark, tmp_path, docs: dict[int, str]) -> tuple[str, object]:
    """Write a synthetic documents table; return (sf_dir, duckdb con)."""
    out = str(tmp_path / "corpus")
    spark.createDataFrame(
        [(i, t, "en", "synthetic", len(t)) for i, t in docs.items()],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).coalesce(2).write.mode("overwrite").parquet(out + "/documents.parquet")
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS "
        f"SELECT * FROM '{out}/documents.parquet/*.parquet'"
    )
    return out, con


# ------------------------------------------------- minhash calibration
def test_calibration_cells_are_in_range(spark, sf_dir):
    rows = minhash_calibration(spark, sf_dir).collect()
    assert rows, "empty calibration table"
    for r in rows:
        # every candidate pair shares at least one band = LSH_ROWS equal
        # hashes (band-hash equality implies the banded minhashes match)
        assert 2 <= r["sig_agree"] <= MINHASH_K, r
        assert 0 <= r["jaccard_decile"] <= 10, r
        assert r["n_pairs"] >= 1, r


def test_calibration_covers_every_candidate_pair_exactly_once(spark, sf_dir):
    """sum(n_pairs) over the table == |LSH candidate pairs| — the
    calibration is a partition of the candidate set, nothing dropped or
    double-counted."""
    docs = load_table(spark, sf_dir, "documents")
    n_cand = _lsh_candidates(_minhash_signatures(docs)).count()
    total = (
        minhash_calibration(spark, sf_dir)
        .agg(F.sum("n_pairs").alias("t"))
        .collect()[0]["t"]
    )
    assert total == n_cand


def test_exact_duplicates_land_in_the_all_agree_decile10_cell(
    spark, tmp_path
):
    """Two identical docs have identical signatures (agree = MINHASH_K)
    and Jaccard exactly 1 (decile 10); an unrelated doc contributes no
    candidate pair with them."""
    text = "the quick brown fox jumps over the lazy dog again and again"
    out, con = _docs_dir(
        spark,
        tmp_path,
        {
            1: text,
            2: text,
            3: "completely different words about spark shuffles and parquet "
               "footers in a row group",
        },
    )
    compare(
        minhash_calibration(spark, out),
        con,
        DEDUP_ORACLES["dedup_minhash_calibration"],
    )
    cells = {
        (r["sig_agree"], r["jaccard_decile"]): r["n_pairs"]
        for r in minhash_calibration(spark, out).collect()
    }
    assert cells == {(MINHASH_K, 10): 1}


# ------------------------------------------------- ngram novelty
def test_novelty_counts_are_internally_consistent(spark, sf_dir):
    rows = ngram_novelty(spark, sf_dir).collect()
    assert rows, "empty novelty report"
    for r in rows:
        assert 0 <= r["n_novel"] <= r["n_grams"], r
        assert r["novelty_permille"] == (1000 * r["n_novel"]) // r["n_grams"]


def test_novelty_totals_match_global_gram_frequencies(spark, sf_dir):
    """Σ n_novel over docs == number of distinct grams with exactly one
    doc occurrence; Σ n_grams == number of distinct (doc, gram) pairs —
    the report is the per-doc marginal of the global gram histogram."""
    docs = load_table(spark, sf_dir, "documents")
    sh = docs.select(
        "doc_id",
        F.expr(f"explode(array_distinct({shingles(words('text'), 3)})) AS s"),
    )
    n_doc_gram = sh.count()
    n_singleton = (
        sh.groupBy("s").count().filter(F.col("count") == 1).count()
    )
    agg = ngram_novelty(spark, sf_dir).agg(
        F.sum("n_grams").alias("g"), F.sum("n_novel").alias("n")
    ).collect()[0]
    assert agg["g"] == n_doc_gram
    assert agg["n"] == n_singleton


def test_duplicate_docs_have_zero_novelty_and_short_docs_drop_out(
    spark, tmp_path
):
    out, con = _docs_dir(
        spark,
        tmp_path,
        {
            1: "alpha beta gamma delta epsilon",
            2: "alpha beta gamma delta epsilon",
            3: "one entirely separate unique sentence here",
            4: "too short",  # < 3 words: no trigrams, no report row
        },
    )
    compare(ngram_novelty(spark, out), con, TEXT_ORACLES["text_ngram_novelty"])
    rows = {r["doc_id"]: r for r in ngram_novelty(spark, out).collect()}
    assert set(rows) == {1, 2, 3}
    assert rows[1]["n_novel"] == 0 and rows[2]["n_novel"] == 0
    assert rows[3]["n_novel"] == rows[3]["n_grams"]
    assert rows[3]["novelty_permille"] == 1000


# --------------------------------------- session-window gap boundary
def test_session_window_gap_boundary_is_end_inclusive(spark, tmp_path):
    """Two events EXACTLY 30 minutes apart share one session in Spark's
    session_window (merge while ts <= prev + gap); one second past the
    gap breaks. The r5 oracle modeled the boundary as exclusive (>=) and
    survived five rounds because the fixed corpus never lands on an exact
    gap; the r10 randomized differential's 10-second-grid corpus caught
    it. This pins BOTH the Spark semantics and the corrected oracle."""
    from parquet_near_storage_compute_spark.operators.timeseries import (
        ORACLE_SQL as TS_ORACLES,
        session_window_native,
    )

    base = dt.datetime(2024, 3, 1)
    rows = [
        (1, base, 9, "click", 1.0, "{}"),
        (2, base + dt.timedelta(seconds=1800), 9, "click", 1.0, "{}"),
        (3, base + dt.timedelta(seconds=3601), 9, "click", 1.0, "{}"),
    ]
    out = str(tmp_path / "boundary")
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).coalesce(1).write.mode("overwrite").parquet(out + "/events.parquet")
    got = session_window_native(spark, out).collect()
    assert len(got) == 1
    # events 1+2 merge (boundary-inclusive); event 3 is 1s past the gap
    assert got[0]["n_sessions"] == 2
    assert got[0]["max_session_events"] == 2
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM '{out}/events.parquet/*.parquet'"
    )
    compare(
        session_window_native(spark, out),
        con,
        TS_ORACLES["time_session_window_native"],
    )


# ---------------------------------------- r10 continuation: resample
def _events_dir(spark, tmp_path, rows) -> tuple[str, object]:
    """Write a synthetic events table; return (sf_dir, duckdb con)."""
    out = str(tmp_path / "evcorpus")
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).coalesce(2).write.mode("overwrite").parquet(out + "/events.parquet")
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM '{out}/events.parquet/*.parquet'"
    )
    return out, con


def test_resample_interpolation_planted_values(spark, tmp_path):
    """Hand-computed grid: on-event grid points short-circuit to c0·10;
    interior points are the floor-quantized linear blend; a same-second
    event pair resolves to the higher event_id; a sub-step user emits no
    rows; the last-event-exactly-on-grid case (t1 null) takes the t0==sec
    branch."""
    from parquet_near_storage_compute_spark.operators.timeseries import (
        ORACLE_SQL as TS_ORACLES,
        resample_interpolate,
    )

    base = dt.datetime(2024, 3, 1)  # epoch divisible by RESAMPLE_SEC
    h = dt.timedelta(hours=1)
    rows = [
        # user 9: events at 00:00 (1.00), 06:00 (2.00), 13:00 (4.00)
        (1, base, 9, "click", 1.0, "{}"),
        (2, base + 6 * h, 9, "click", 2.0, "{}"),
        (3, base + 13 * h, 9, "click", 4.0, "{}"),
        # user 8: same-second pair ON the 06:00 grid point (tie → id 12);
        # 06:00 is also the last event, so the forward neighbour is null
        (10, base + 1 * h, 8, "click", 1.0, "{}"),
        (11, base + 6 * h, 8, "click", 5.0, "{}"),
        (12, base + 6 * h, 8, "click", 3.0, "{}"),
        # user 7: 1-hour span, no 6-hour slot at all
        (20, base + 1 * h, 7, "click", 9.0, "{}"),
        (21, base + 2 * h, 7, "click", 9.5, "{}"),
    ]
    out, con = _events_dir(spark, tmp_path, rows)
    got = {
        (r["user_id"], r["grid_sec"]): r["interp_milli"]
        for r in resample_interpolate(spark, out).collect()
    }
    e0 = int(base.replace(tzinfo=dt.timezone.utc).timestamp())
    # user 9: grid 00:00 / 06:00 on events; 12:00 interpolates
    # (2000·(46800−43200) + 4000·(43200−21600)) div (46800−21600) = 3714
    assert got[(9, e0)] == 1000
    assert got[(9, e0 + 21600)] == 2000
    assert got[(9, e0 + 43200)] == 3714
    # user 8: single grid point 06:00, same-second tie → event_id 12
    assert got[(8, e0 + 21600)] == 3000
    # user 7 contributes no grid rows; nothing else leaks in
    assert len(got) == 4
    compare(
        resample_interpolate(spark, out),
        con,
        TS_ORACLES["time_resample_interpolate"],
    )


def test_resample_grid_is_aligned_and_bounded(spark, sf_dir):
    """Fixture property: every grid point is a RESAMPLE_SEC multiple
    inside its user's event span, and the interpolated milli value lies
    within [10·min, 10·max] of the user's cents range (a convex blend
    floor-quantized can't escape the hull)."""
    from parquet_near_storage_compute_spark.operators.timeseries import (
        RESAMPLE_SEC,
        resample_interpolate,
    )

    ev = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.min(F.unix_timestamp("ts")).alias("s_min"),
            F.max(F.unix_timestamp("ts")).alias("s_max"),
            F.min(F.round(F.col("value") * 100).cast("long")).alias("c_min"),
            F.max(F.round(F.col("value") * 100).cast("long")).alias("c_max"),
        )
    )
    joined = resample_interpolate(spark, sf_dir).join(ev, "user_id")
    bad = joined.filter(
        (F.col("grid_sec") % RESAMPLE_SEC != 0)
        | (F.col("grid_sec") < F.col("s_min"))
        | (F.col("grid_sec") > F.col("s_max"))
        | (F.col("interp_milli") < 10 * F.col("c_min"))
        | (F.col("interp_milli") > 10 * F.col("c_max"))
    )
    assert bad.count() == 0


# -------------------------------------- r10 continuation: interleave
def test_interleave_matches_pure_python_reference(spark, tmp_path):
    """Third-implementation check on a skewed planted corpus (16 vs 4
    docs → weights 4 vs 2): hashlib-md5 per-source shuffle, ⌊√n⌋
    weights, floor-scaled stride keys, (key, source, ord) total order —
    every output cell reproduced exactly."""
    import hashlib
    import math

    from parquet_near_storage_compute_spark.operators.training import (
        STRIDE_SCALE,
        interleave_datasets,
    )
    from parquet_near_storage_compute_spark.operators.training import (
        ORACLE_SQL as TRAIN_ORACLES,
    )

    docs = {i: ("A" if i < 16 else "B") for i in range(20)}
    out, con = _docs_dir(
        spark, tmp_path, {i: f"text {i}" for i in docs}
    )
    # rewrite with the two sources (the helper writes source='synthetic')
    spark.createDataFrame(
        [(i, f"text {i}", "en", s, 7) for i, s in docs.items()],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).coalesce(2).write.mode("overwrite").parquet(out + "/documents.parquet")

    by_source: dict[str, list[int]] = {"A": [], "B": []}
    for i, s in docs.items():
        by_source[s].append(i)
    expect = []
    for s, ids in by_source.items():
        w = math.isqrt(len(ids))
        ids.sort(key=lambda i: (hashlib.md5(f"il:{i}".encode()).hexdigest(), i))
        for k, i in enumerate(ids, start=1):
            expect.append(
                (((2 * k - 1) * STRIDE_SCALE) // (2 * w), s, k, i)
            )
    expect.sort()
    want = {
        doc: (s, k, key, pos)
        for pos, (key, s, k, doc) in enumerate(expect, start=1)
    }
    got = interleave_datasets(spark, out).collect()
    assert len(got) == 20
    for r in got:
        assert want[r["doc_id"]] == (
            r["source"],
            r["src_ord"],
            r["sched_key"],
            r["position"],
        ), r
    compare(
        interleave_datasets(spark, out),
        con,
        TRAIN_ORACLES["train_interleave_datasets"],
    )


def test_interleave_positions_are_a_permutation(spark, sf_dir):
    """Fixture property: positions are exactly 1..n (no gap, no dup) and
    each source's ordinals appear in increasing position order (a source
    is fed in its own shuffled order)."""
    from parquet_near_storage_compute_spark.operators.training import (
        interleave_datasets,
    )

    df = interleave_datasets(spark, sf_dir)
    n = df.count()
    assert df.select("position").distinct().count() == n
    assert df.agg(F.min("position"), F.max("position")).collect()[0] == (1, n)
    w = F.lag("position").over(
        Window.partitionBy("source").orderBy("src_ord")
    )
    out_of_order = (
        df.withColumn("prev_pos", w)
        .filter(F.col("prev_pos").isNotNull() & (F.col("prev_pos") >= F.col("position")))
        .count()
    )
    assert out_of_order == 0


# ------------------------------------ r10 continuation: band tuning
def test_band_tuning_configs_are_nested(spark, sf_dir):
    """Tightening configs have SUBSET candidate sets (1×8 ⊆ 2×4 ⊆ 4×2 —
    a full-run agreement implies every sub-band agrees), so per-decile
    counts must be monotone in rows_per_band; and the committed-config
    rows must reproduce the calibration table's per-decile totals
    exactly (same verify join, two views of one candidate set)."""
    from parquet_near_storage_compute_spark.operators.dedup import (
        LSH_BANDS,
        LSH_ROWS,
        minhash_band_tuning,
    )

    rows = minhash_band_tuning(spark, sf_dir).collect()
    by_cfg: dict[tuple, dict[int, int]] = {}
    for r in rows:
        by_cfg.setdefault((r["bands"], r["rows_per_band"]), {})[
            r["jaccard_decile"]
        ] = r["n_pairs"]
    committed = by_cfg[(LSH_BANDS, LSH_ROWS)]
    for d, n42 in committed.items():
        n24 = by_cfg.get((2, 4), {}).get(d, 0)
        n18 = by_cfg.get((1, 8), {}).get(d, 0)
        assert n42 >= n24 >= n18, (d, n42, n24, n18)
    cal = minhash_calibration(spark, sf_dir).collect()
    cal_totals: dict[int, int] = {}
    for r in cal:
        cal_totals[r["jaccard_decile"]] = (
            cal_totals.get(r["jaccard_decile"], 0) + r["n_pairs"]
        )
    assert committed == cal_totals


def test_band_tuning_s_curve_endpoints_and_duplicates(spark, tmp_path):
    """Exact duplicates land in every config's decile-10 cell with the
    theoretical curve at exactly 10^8 (certain candidacy); the S-curve
    column is the exact integer 10^8 − (10^r − d^r)^b at every decile."""
    from parquet_near_storage_compute_spark.operators.dedup import (
        ORACLE_SQL as DEDUP_SQL,
        minhash_band_tuning,
    )

    text = "the quick brown fox jumps over the lazy dog again and again"
    out, con = _docs_dir(
        spark, tmp_path, {1: text, 2: text, 3: "completely different words here"}
    )
    rows = minhash_band_tuning(spark, out).collect()
    assert rows, "no candidate pairs on the planted corpus"
    for r in rows:
        b, rr, d = r["bands"], r["rows_per_band"], r["jaccard_decile"]
        want = 10**8 - (10**rr - d**rr) ** b
        assert r["p_candidate_1e8"] == want, r
    dup_cells = {
        (r["bands"], r["rows_per_band"]): r["n_pairs"]
        for r in rows
        if r["jaccard_decile"] == 10
    }
    assert dup_cells == {(4, 2): 1, (2, 4): 1, (1, 8): 1}
    compare(
        minhash_band_tuning(spark, out),
        con,
        DEDUP_SQL["dedup_minhash_band_tuning"],
    )


# ---------------------------------- r10 continuation: recall report
def test_recall_report_values_are_pinned_per_fixture(spark, sf_dir):
    """The report must reproduce the recall constants the ANN docs cite:
    on the committed sf0.001 corpus, sq8 933‰ / pq 700‰ and the
    single-probe IVF compositions at 33‰ (the cell restriction is the
    binding loss on this near-random corpus — SURVEY §8.5's honest
    finding, now an oracle-checked output). n_exact is always
    N_QUERIES·TOP_K and the per-mille column is the exact integer
    quotient."""
    from parquet_near_storage_compute_spark.operators.similarity import (
        N_QUERIES,
        RECALL_VARIANTS,
        TOP_K,
        recall_report,
    )

    rows = {r["variant"]: r for r in recall_report(spark, sf_dir).collect()}
    assert set(rows) == set(RECALL_VARIANTS)
    for r in rows.values():
        assert r["n_exact"] == N_QUERIES * TOP_K
        assert 0 <= r["n_hits"] <= r["n_exact"]
        assert r["recall_permille"] == (1000 * r["n_hits"]) // r["n_exact"]
    got = {v: rows[v]["recall_permille"] for v in rows}
    assert got == {"sq8": 933, "pq": 700, "ivf_sq8": 33, "ivf_pq": 33}, got


# --------------------------------- r10 continuation: char entropy
def test_char_entropy_floor_margin_is_corpus_independent():
    """Stronger than the lm_perplexity margin (which is per-corpus): the
    entropy quantizer's log arguments are always INTEGERS, so the floor
    margin can be proved once for every count up to a bound. Worst
    margin of ln(c)·2^20 to a floor boundary over c ∈ 2..300000 is
    ≥ 1e-7 scaled units (measured 4.8e-7 at c = 118955), vs ln's
    cross-engine last-ulp wobble ~5e-9 — two orders of magnitude of
    headroom for any corpus whose documents stay under 300k chars; a
    committed-corpus bound check keeps the proof applicable."""
    import math

    from parquet_near_storage_compute_spark.operators.textops import (
        ENTROPY_SCALE,
    )

    worst = 1.0
    for c in range(2, 300001):
        s = math.log(c) * ENTROPY_SCALE
        worst = min(worst, s - math.floor(s), math.ceil(s) - s)
    assert worst >= 1e-7, worst


def test_char_entropy_corpora_stay_under_the_margin_bound(spark):
    import duckdb as _duckdb

    con = _duckdb.connect()
    for sf in ("sf0.001", "sf0.01", "sf0.1"):
        mx = con.execute(
            "SELECT COALESCE(MAX(length(text)), 0) FROM "
            f"'/root/testdata/{sf}/documents.parquet'"
        ).fetchone()[0]
        assert mx <= 300000, (sf, mx)


def test_char_entropy_planted_values(spark, tmp_path):
    """A single-repeated-char doc scores exactly 0 fp and flags low; a
    two-char alternating doc scores exactly n·⌊ln2·S⌋ − n·⌊ln(n/2)·S⌋
    ... computed by Python ints; an empty doc drops out; exact
    duplicates share entropy_fp bitwise. Oracle-compared on the same
    corpus."""
    import math

    from parquet_near_storage_compute_spark.operators.textops import (
        ENTROPY_SCALE,
        ORACLE_SQL as TX_SQL,
        char_entropy,
    )

    def fp(counts):
        n = sum(counts)
        s = sum(c * math.floor(math.log(c) * ENTROPY_SCALE) for c in counts)
        return n * math.floor(math.log(n) * ENTROPY_SCALE) - s

    out, con = _docs_dir(
        spark,
        tmp_path,
        {
            1: "aaaaaaaa",            # one char repeated: entropy 0, low
            2: "abababab",            # two chars, 4+4
            3: "",                    # empty: no row
            4: "the quick brown fox jumps over the lazy dog",
            5: "the quick brown fox jumps over the lazy dog",  # dup of 4
        },
    )
    rows = {r["doc_id"]: r for r in char_entropy(spark, out).collect()}
    assert set(rows) == {1, 2, 4, 5}
    assert rows[1]["entropy_fp"] == 0 and rows[1]["low_entropy"]
    assert rows[2]["entropy_fp"] == fp([4, 4])
    from collections import Counter

    pangram_counts = list(
        Counter("the quick brown fox jumps over the lazy dog").values()
    )
    assert rows[4]["entropy_fp"] == rows[5]["entropy_fp"] == fp(pangram_counts)
    assert not rows[4]["low_entropy"]
    compare(char_entropy(spark, out), con, TX_SQL["text_char_entropy"])
