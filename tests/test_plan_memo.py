"""``plans.memo.PlanMemo``: a memoized frame is rebuilt once the corpus
under it changes, whatever spelling of the corpus path the caller uses,
and a corpus that cannot be fingerprinted is never cached."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq

from parquet_near_storage_compute_spark.plans.memo import PlanMemo
from parquet_near_storage_compute_spark.tables import table_path


def _documents(sf_dir: str, n: int) -> None:
    pq.write_table(
        pa.table({"doc_id": pa.array(range(n), pa.int64())}),
        table_path(sf_dir, "documents"),
    )


def _get_counting_builds(memo: PlanMemo, spark, sf_dir: str) -> int:
    builds = []
    memo.get(spark, sf_dir, "label", lambda: builds.append(1) or object())
    return len(builds)


def test_file_url_corpus_rewrite_rebuilds(spark, tmp_path):
    _documents(str(tmp_path), 3)
    memo = PlanMemo(tables=("documents",))
    url = f"file://{tmp_path}"
    assert _get_counting_builds(memo, spark, url) == 1
    assert _get_counting_builds(memo, spark, url) == 0
    _documents(str(tmp_path), 5)
    assert _get_counting_builds(memo, spark, url) == 1
    # the plain path names the same corpus
    assert _get_counting_builds(memo, spark, str(tmp_path)) == 0


def test_unfingerprintable_corpus_is_never_cached(spark, tmp_path):
    memo = PlanMemo(tables=("documents",))
    for sf_dir in ("s3a://bucket/sf", f"{tmp_path}/sf*", str(tmp_path / "none")):
        assert _get_counting_builds(memo, spark, sf_dir) == 1
        assert _get_counting_builds(memo, spark, sf_dir) == 1


def test_memoized_query_goes_through_the_class_get(spark, tmp_path, monkeypatch):
    """A ``memoized`` query shares one frame per corpus, and it calls
    ``get`` as looked up at call time: a wrapper patched onto the class
    (as a tracer counting memo hits does) sees every call."""
    _documents(str(tmp_path), 3)
    memo = PlanMemo(tables=("documents",))
    builds, gets = [], []

    @memo.memoized("label")
    def query(spark, sf_dir):
        """The query's own docstring."""
        builds.append(sf_dir)
        return object()

    get = PlanMemo.get

    def counted(self, *args):
        gets.append(args[2])
        return get(self, *args)

    monkeypatch.setattr(PlanMemo, "get", counted)
    assert query(spark, str(tmp_path)) is query(spark, str(tmp_path))
    assert builds == [str(tmp_path)] and gets == ["label", "label"]
    assert query.__doc__ == "The query's own docstring."


def test_fixture_keyed_memo_ignores_the_corpus(spark, sf_dir, sf_oracle_dir):
    """A memo with no tables reads only its fixtures: one frame serves
    every corpus directory instead of one build and persist per corpus."""
    from parquet_near_storage_compute_spark.operators.multimodal import (
        image_phash_dedup,
    )

    assert image_phash_dedup(spark, sf_dir) is image_phash_dedup(spark, sf_oracle_dir)
