"""Round-13 optimization invariants.

`local_literal_df` must fail fast on caller schema drift (ADVICE r12)
instead of silently truncating rows, and must plan its range seed as a
SINGLE partition (the r13 train_bpe_merges bar-breach root cause: a
default `spark.range(1)` splits one row across defaultParallelism
partitions, scheduling 32 tasks per action on a literal frame — 192
tasks for the 6-row merge table).

The round's other measured finding needs no test hook: the unrolled
fixed-dim dot was REJECTED on measurement (1.4–4× slower than the HOF
fold on every consumer despite bit-identical output, its plans spelling
the 64-term chain inline in every Filter and Project that used it); the
negative A/B is pinned in functions/vectors.py's `dot` docstring.
"""

from __future__ import annotations

import pytest


def test_trim_flag_starts_are_unique_per_position(spark, tmp_path):
    """The trim ops' left join on (doc_id, p) RELIES on the flagged-start
    frame carrying one row per position since r13 dropped the redundant
    `.distinct()` (wins emits each window start once; occ/ev_grams are one
    row per hash; inner/left_semi joins preserve row identity). Pin the
    invariant on an adversarial all-duplicate corpus — every window
    duplicated corpus-wide — where a uniqueness bug would multiply word
    rows and corrupt the trim accounting."""
    import hashlib

    from pyspark.sql import functions as F

    from parquet_near_storage_compute_spark.operators.textops import (
        TEXT_DUP_WINDOW,
        dedup_trim,
    )

    dup_text = " ".join(f"w{i % 3}" for i in range(12))  # internal repeats too
    uniq_text = " ".join(f"unique{i}" for i in range(10))
    rows = [(i, dup_text, "en", "web", len(dup_text)) for i in range(6)]
    rows.append((99, uniq_text, "en", "web", len(uniq_text)))
    out = str(tmp_path / "docs")
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars int"
    ).coalesce(1).write.mode("overwrite").parquet(out + "/documents.parquet")

    got = {r.doc_id: r for r in dedup_trim(spark, out).collect()}
    assert len(got) == 7
    for i in range(6):  # fully duplicated docs: every word trimmed exactly once
        assert got[i].n_words == 12
        assert got[i].n_trimmed_words == 12
        assert got[i].n_kept_words == 0
        assert got[i].kept_hash == hashlib.md5(b"").hexdigest()
    # the unique doc is 10 words < TEXT_DUP_WINDOW+? windows: 10-8+1=3 windows,
    # none duplicated -> nothing trimmed, kept text is the original word stream
    assert TEXT_DUP_WINDOW == 8
    assert got[99].n_trimmed_words == 0
    assert got[99].kept_hash == hashlib.md5(uniq_text.encode()).hexdigest()


def test_local_literal_df_rejects_arity_drift(spark):
    from parquet_near_storage_compute_spark.tables import local_literal_df

    with pytest.raises(ValueError, match="row 1 has 1 values"):
        local_literal_df(spark, [(1, "a"), (2,)], "k int, s string")
    with pytest.raises(ValueError, match="row 0 has 3 values"):
        local_literal_df(spark, [(1, "a", 9)], "k int, s string")


def test_local_literal_df_single_partition(spark):
    from parquet_near_storage_compute_spark.tables import local_literal_df

    df = local_literal_df(spark, [(1, "a"), (2, "b")], "k int, s string")
    assert df.rdd.getNumPartitions() == 1
    assert [tuple(r) for r in df.collect()] == [(1, "a"), (2, "b")]
