"""`stream_minhash_ingest` (r12, VERDICT r11 #4): streaming MinHash
admission — the TEXT sibling of `stream_phash_ingest`, closing the last
asymmetry in the modality matrix (images had stateful streaming
admission; text MinHash had only the batch-vs-corpus dedup_incremental).

Micro-batches (membership doc_id % MINHASH_INGEST_BATCHES, order pinned
by file mtimes) are admitted against the accepted-signature state via
foreachBatch: banded state join → exact shingle-Jaccard verify (2·|A∩B| ≥
|A∪B|, integer algebra) → within-batch min-wins, and the new state is
the next batch's input. The DuckDB oracle replays the admission
SEQUENTIALLY with a recursive CTE over a member-level band+Jaccard pair
table.

Beyond the full-parity compares (committed corpus + planted corpus),
this file pins: the batch partition, both rejection branches firing, the
shingle-less-document admission rule, and the per-batch fold of the
accepted state."""

from __future__ import annotations

import duckdb

from parquet_near_storage_compute_spark.streaming import stream_ops as SO
from tests.oracle import compare


def test_contract_matches_sequential_oracle(spark, sf_dir):
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS "
        f"SELECT * FROM '{sf_dir}/documents.parquet'"
    )
    compare(
        SO.minhash_ingest(spark, sf_dir),
        con,
        SO.ORACLE_SQL["stream_minhash_ingest"],
    )


def test_batches_partition_the_corpus(spark, sf_dir):
    """Every document lands in exactly one batch, and the accepted rows
    carry their arrival batch (doc_id % N)."""
    rows = SO.minhash_ingest(spark, sf_dir).collect()
    assert len(rows) == len({r.doc_id for r in rows})
    for r in rows:
        assert r.batch_no == r.doc_id % SO.MINHASH_INGEST_BATCHES


def _planted_corpus(spark, tmp_path) -> tuple[str, duckdb.DuckDBPyConnection]:
    """doc_id % 4 batching makes both rejection branches deterministic
    (exact duplicates share every MinHash band, so the candidate join can
    never miss them):
    - 0, 4, 8 identical, all ≡ 0 (mod 4): SAME batch → min-wins keeps 0;
    - 9 ≡ 1, 11 ≡ 3: the same text in LATER batches → STATE rejection;
    - 2, 6 (batch 2), 5 (batch 1), 7 (batch 3): unique texts → admitted;
    - 3 (batch 3) is shingle-less ("one two") → admitted unconditionally.
    """
    base = "the quick brown fox jumps over the lazy dog again and again"
    rows = [
        (0, base),
        (4, base),   # batch 0: min-wins drop vs 0
        (8, base),   # batch 0: min-wins drop vs 0
        (9, base),   # batch 1: state rejection by accepted 0
        (11, base),  # batch 3: state rejection by accepted 0
        (5, "fifth document carrying entirely distinct vocabulary here"),
        (2, "completely different text about spark execution engines ok"),
        (6, "another unrelated document mentioning parquet and arrow io"),
        (3, "one two"),  # shingle-less
        (7, "seventh document with its own words entirely novel here yes"),
    ]
    out = str(tmp_path / "corpus")
    spark.createDataFrame(
        [(i, t, "en", "t", len(t)) for i, t in rows],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).coalesce(1).write.mode("overwrite").parquet(out + "/documents.parquet")
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS "
        f"SELECT * FROM '{out}/documents.parquet/*.parquet'"
    )
    return out, con


def test_planted_branches_and_oracle(spark, tmp_path):
    out, con = _planted_corpus(spark, tmp_path)
    compare(
        SO.minhash_ingest(spark, out),
        con,
        SO.ORACLE_SQL["stream_minhash_ingest"],
    )
    got = {r.doc_id: r.batch_no for r in SO.minhash_ingest(spark, out).collect()}
    # within-batch min-wins: of the identical batch-0 triple only 0 stays
    assert got.get(0) == 0 and 4 not in got and 8 not in got
    # state rejection: the same text arriving in batches 1 and 3 is
    # rejected against the accepted state
    assert 9 not in got and 11 not in got
    # unique docs admitted in their arrival batches
    assert got.get(5) == 1 and got.get(2) == 2 and got.get(6) == 2
    assert got.get(7) == 3
    # shingle-less doc admitted unconditionally
    assert got.get(3) == 3


def test_fold_states_grow_monotonically(spark, sf_dir, fold_states):
    """The state protocol: every micro-batch folds one admission into the
    accepted state. Row counts grow monotonically, each state holds only
    batches ≤ its own number, and the last state IS the returned frame."""
    result = SO.minhash_ingest(spark, sf_dir).collect()
    assert [b for b, _ in fold_states] == list(range(SO.MINHASH_INGEST_BATCHES))
    counts = [len(rows) for _, rows in fold_states]
    assert counts == sorted(counts)
    for b, rows in fold_states:
        assert all(r.batch_no <= b for r in rows)
    final = sorted((r.doc_id, r.batch_no) for r in fold_states[-1][1])
    assert final == sorted((r.doc_id, r.batch_no) for r in result)
