"""Unit tests for the round-3 additions: connected-component clustering,
context-window chunking, and benchmark decontamination.

The registry differential suite (tests/test_registry_oracle.py) already
hash-compares each contract against its DuckDB oracle; these tests pin the
semantics on hand-built inputs where the expected answer is computable by
inspection — especially graph shapes the fixture corpus may not contain
(chains, multiple components, singletons).
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from parquet_near_storage_compute_spark.operators.dedup import (
    connected_components,
    propagate_min_labels,
)
from parquet_near_storage_compute_spark.operators.training import (
    CHUNK_STRIDE,
    CHUNK_TOKENS,
    CONTAM_MAX_DF,
    CONTAM_NGRAM,
    EVAL_MOD,
    chunk_documents,
    contamination_check,
)


def _labels(spark, edges):
    df = spark.createDataFrame(edges, "doc_a long, doc_b long")
    rows = propagate_min_labels(df).collect()
    return {r.doc_id: r.cluster_rep for r in rows}


def test_propagate_chain_converges_to_min(spark):
    # 1-2-3-4-5 chain: worst case for propagation (diameter = n-1)
    got = _labels(spark, [(1, 2), (2, 3), (3, 4), (4, 5)])
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1}


def test_propagate_multiple_components(spark):
    got = _labels(spark, [(10, 20), (20, 30), (7, 8), (100, 101), (101, 100)])
    assert got == {10: 10, 20: 10, 30: 10, 7: 7, 8: 7, 100: 100, 101: 100}


def test_propagate_empty_edges(spark):
    df = spark.createDataFrame([], "doc_a long, doc_b long")
    assert propagate_min_labels(df).count() == 0


def test_connected_components_cover_all_pair_members(spark, sf_dir):
    """Every doc in a candidate pair lands in exactly one cluster whose rep
    is the cluster's min member; sizes are consistent."""
    from parquet_near_storage_compute_spark.operators.dedup import (
        _lsh_candidates,
        _minhash_signatures,
    )
    from parquet_near_storage_compute_spark.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    pairs = _lsh_candidates(_minhash_signatures(docs)).collect()
    comp = connected_components(spark, sf_dir).collect()
    lbl = {r.doc_id: r.cluster_rep for r in comp}
    members = {d for p in pairs for d in (p.doc_a, p.doc_b)}
    assert set(lbl) == members
    # paired docs share a component; reps are component minima
    for p in pairs:
        assert lbl[p.doc_a] == lbl[p.doc_b]
    by_rep: dict[int, list[int]] = {}
    for d, r in lbl.items():
        by_rep.setdefault(r, []).append(d)
    for rep, ms in by_rep.items():
        assert rep == min(ms)
    sizes = {r.doc_id: r.cluster_size for r in comp}
    for d, r in lbl.items():
        assert sizes[d] == len(by_rep[r])


def test_chunk_boundaries(spark, sf_dir):
    """Chunk geometry: starts every CHUNK_STRIDE, last chunk may be short,
    every token is covered by the chunk starting at its floor-stride."""
    rows = chunk_documents(spark, sf_dir).collect()
    assert rows, "chunking produced no rows"
    from pyspark.sql import Row

    by_doc: dict[int, list[Row]] = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    for doc_id, chunks in by_doc.items():
        chunks.sort(key=lambda r: r.chunk_idx)
        n_tokens = chunks[0].start_tok + 0  # recompute from geometry below
        for i, c in enumerate(chunks):
            assert c.chunk_idx == i
            assert c.start_tok == i * CHUNK_STRIDE
            assert 1 <= c.chunk_len <= CHUNK_TOKENS
        # all but the last start must leave at least one token
        last = chunks[-1]
        n_tokens = last.start_tok + last.chunk_len
        assert n_tokens > last.start_tok
        # a doc with n tokens has ceil over stride coverage: next start >= n
        assert last.start_tok + CHUNK_STRIDE >= n_tokens or (
            last.chunk_len == CHUNK_TOKENS
        )


def test_chunk_short_doc_single_chunk(spark, sf_dir):
    """A doc shorter than CHUNK_TOKENS yields exactly one chunk of its full
    length (checked against the token counts of the real corpus)."""
    from parquet_near_storage_compute_spark.tables import load_table

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.size(F.split("text", " ")).alias("n")
    )
    short = {r.doc_id: r.n for r in docs.filter(F.col("n") <= CHUNK_STRIDE).collect()}
    if not short:
        pytest.skip("corpus has no short docs at this SF")
    chunks = chunk_documents(spark, sf_dir).collect()
    for doc_id, n in short.items():
        mine = [c for c in chunks if c.doc_id == doc_id]
        assert len(mine) == 1
        assert mine[0].chunk_len == n


def test_contamination_only_flags_train_docs(spark, sf_dir):
    """Flagged docs are never eval docs, and each reported overlap count is
    positive and bounded by the doc's distinct gram count."""
    from parquet_near_storage_compute_spark.functions.text import shingles, words
    from parquet_near_storage_compute_spark.tables import load_table

    out = contamination_check(spark, sf_dir).collect()
    assert all(r.doc_id % EVAL_MOD != 0 for r in out)
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(F.array_distinct(F.expr(shingles(words("text"), CONTAM_NGRAM)))).alias(
            "n_grams"
        ),
    )
    n_grams = {r.doc_id: r.n_grams for r in docs.collect()}
    n_eval_total = sum(1 for d in n_grams if d % EVAL_MOD == 0)
    for r in out:
        assert 1 <= r.n_shared_grams <= n_grams[r.doc_id]
        assert 1 <= r.n_eval_docs <= min(n_eval_total, CONTAM_MAX_DF * r.n_shared_grams)
