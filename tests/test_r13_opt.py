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
