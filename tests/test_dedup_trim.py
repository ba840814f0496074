"""`text_dedup_trim` (r8, VERDICT r7 #7): duplicate-span trimming — the
action half of `text_duplicate_window_fraction`'s measurement (Lee et al.
2022 exact-substring dedup: keep the doc, excise the duplicated windows),
with before/after token accounting and a kept-text md5 for member-level
verification (the `text_pii_scrub` scrubbed-hash pattern)."""

from __future__ import annotations

import hashlib

import duckdb
import pytest

from parquet_near_storage_compute_spark.operators import textops as T
from parquet_near_storage_compute_spark.operators import training
from tests.oracle import compare, duckdb_con

W = T.TEXT_DUP_WINDOW


def test_contract_matches_oracle(spark, sf_dir, sf_oracle_dir):
    for sf in {sf_dir, sf_oracle_dir}:
        con = duckdb_con(sf)
        compare(T.dedup_trim(spark, sf), con, T.ORACLE_SQL["text_dedup_trim"])


def _run(spark, tmp_path, docs: dict[int, str]):
    out = str(tmp_path / "trim")
    spark.createDataFrame(
        [(i, t) for i, t in docs.items()], "doc_id long, text string"
    ).coalesce(2).write.mode("overwrite").parquet(out + "/documents.parquet")
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS "
        f"SELECT * FROM '{out}/documents.parquet/*.parquet'"
    )
    rows = {r.doc_id: r for r in T.dedup_trim(spark, out).collect()}
    compare(T.dedup_trim(spark, out), con, T.ORACLE_SQL["text_dedup_trim"])
    return rows


def _md5(s: str) -> str:
    return hashlib.md5(s.encode()).hexdigest()


def test_planted_span_is_excised(spark, tmp_path):
    """Two docs share one exact W-word span; each keeps a unique
    remainder. Every word covered by the shared span (and nothing else)
    must be excised from BOTH docs, and the kept text must be exactly
    the unique remainder — checked via the member-level md5."""
    span = " ".join(f"dup{i}" for i in range(W))
    a_tail = " ".join(f"atail{i}" for i in range(5))
    b_head = " ".join(f"bhead{i}" for i in range(5))
    docs = {
        0: f"{span} {a_tail}",   # span at the head
        1: f"{b_head} {span}",   # span at the tail
        2: "lone words only here",  # < W words: untouched
    }
    rows = _run(spark, tmp_path, docs)
    # doc 0: words 1..W trimmed (the span), plus the rolling cover of the
    # dup start at p=1 stops at p=W — the 5 tail words survive... BUT any
    # window STARTING inside the span that also duplicates would extend
    # the cover; here only the exact span duplicates, so cover = [1, W].
    assert rows[0].n_words == W + 5
    assert rows[0].n_trimmed_words == W
    assert rows[0].kept_hash == _md5(a_tail)
    # doc 1: span occupies the last W words
    assert rows[1].n_words == W + 5
    assert rows[1].n_trimmed_words == W
    assert rows[1].kept_hash == _md5(b_head)
    # doc 2: no window of length W exists — fully kept
    assert rows[2].n_trimmed_words == 0
    assert rows[2].kept_fraction == 1.0
    assert rows[2].kept_hash == _md5(docs[2])


def test_fully_duplicated_doc_trims_to_empty(spark, tmp_path):
    """An exact-copy pair of exactly W words trims to the empty string
    (md5('') — the doc row survives with zero kept tokens; dropping rows
    is the dedup_* family's job, trimming never loses the doc)."""
    span = " ".join(f"x{i}" for i in range(W))
    rows = _run(spark, tmp_path, {0: span, 1: span})
    for i in (0, 1):
        assert rows[i].n_kept_words == 0
        assert rows[i].kept_fraction == 0.0
        assert rows[i].kept_hash == _md5("")


def test_within_doc_repeat_counts_as_duplicate(spark, tmp_path):
    """A W-word sequence repeated INSIDE one doc is duplicated text
    (occ ≥ 2 corpus-wide includes within-doc multiplicity — the Lee
    et al. rule), so both occurrences trim."""
    span = " ".join(f"r{i}" for i in range(W))
    mid = "unique middle words here definitely not repeated anywhere else"
    rows = _run(spark, tmp_path, {0: f"{span} {mid} {span}", 1: "other text"})
    n_mid = len(mid.split(" "))
    assert rows[0].n_words == 2 * W + n_mid
    # both spans trim; the rolling cover of the second span's start also
    # covers nothing extra (mid is > W-1 words after the first span ends)
    assert rows[0].n_trimmed_words == 2 * W
    assert rows[0].kept_hash == _md5(mid)


def test_accounting_is_consistent(spark, sf_dir):
    rows = T.dedup_trim(spark, sf_dir).collect()
    assert len(rows) > 0
    for r in rows:
        assert r.n_kept_words + r.n_trimmed_words == r.n_words
        assert 0.0 <= r.kept_fraction <= 1.0


@pytest.mark.parametrize("contract", ["text_dedup_trim", "train_decontaminate_trim"])
def test_trim_flag_starts_are_unique_per_position(spark, tmp_path, contract):
    """Both trim contracts end in `textops.trim_spans`, whose left join
    on (doc_id, p) RELIES on the flagged-start frame carrying one row per
    position (no `.distinct()` is paid: posexplode emits each window
    start once, and the flag joins — onto one row per hash, or a
    left_semi — preserve row identity). Pin the invariant on an
    adversarial all-duplicate corpus — every window flagged — where a
    uniqueness bug would multiply word rows and corrupt the trim
    accounting. Doc 0 is an eval doc (doc_id % EVAL_MOD == 0) carrying
    the same text, so every train window also matches an eval gram;
    `train_decontaminate_trim` reports train docs only."""
    op, w = {
        "text_dedup_trim": (T.dedup_trim, T.TEXT_DUP_WINDOW),
        "train_decontaminate_trim": (
            training.decontaminate_trim,
            training.CONTAM_NGRAM,
        ),
    }[contract]
    dup_text = " ".join(f"w{i % 3}" for i in range(12))  # internal repeats too
    uniq_text = " ".join(f"unique{i}" for i in range(10))
    rows = [(i, dup_text, "en", "web", len(dup_text)) for i in range(6)]
    rows.append((99, uniq_text, "en", "web", len(uniq_text)))
    out = str(tmp_path / "docs")
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars int"
    ).coalesce(1).write.mode("overwrite").parquet(out + "/documents.parquet")

    got = {r.doc_id: r for r in op(spark, out).collect()}
    dup_ids = [i for i in range(6) if op is T.dedup_trim or i % training.EVAL_MOD]
    assert sorted(got) == dup_ids + [99]
    for i in dup_ids:  # fully duplicated docs: every word trimmed exactly once
        assert got[i].n_words == 12
        assert got[i].n_trimmed_words == 12
        assert got[i].n_kept_words == 0
        assert got[i].kept_hash == _md5("")
    # the unique doc has 10 - w + 1 windows, none flagged -> nothing
    # trimmed, kept text is the original word stream
    assert len(uniq_text.split(" ")) >= w
    assert got[99].n_trimmed_words == 0
    assert got[99].kept_hash == _md5(uniq_text)
