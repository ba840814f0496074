"""The derived-copy cache (``tables.derived_copy``): the layout contracts'
on-disk copies of a corpus table are keyed on the source's file listing,
published by one rename, and kept under one scratch root that follows
``TMPDIR``. Each test points the root at its own tmp directory."""

from __future__ import annotations

import os
import shutil
import socket
import subprocess
import sys
import tempfile

import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

from parquet_near_storage_compute_spark.tables import (
    derived_copy,
    derived_copy_path,
    scratch_root,
    table_path,
)


@pytest.fixture
def root(tmp_path, monkeypatch):
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path / "tmp"))
    os.makedirs(tempfile.tempdir)
    return scratch_root()


def _events_corpus(sf_dir, tmp_path) -> str:
    corpus = tmp_path / "corpus"
    corpus.mkdir()
    shutil.copy(table_path(sf_dir, "events"), table_path(str(corpus), "events"))
    return str(corpus)


def test_root_follows_tmpdir(root, tmp_path):
    assert root.startswith(str(tmp_path / "tmp") + os.sep)
    path = derived_copy_path("t", (__file__,))
    assert os.path.dirname(path) == root


def test_rewritten_file_source_rebuilds_partitioned_copy(spark, sf_dir, tmp_path, root):
    """(a) `source_partitioned_scan` after `events.parquet` is rewritten at
    the same path answers from the new rows, not the old copy."""
    from parquet_near_storage_compute_spark.sources.io import partitioned_scan

    corpus = _events_corpus(sf_dir, tmp_path)
    events = table_path(corpus, "events")

    def counts() -> dict:
        rows = partitioned_scan(spark, corpus).collect()
        return {r.event_type: r.n_events for r in rows}

    def expected() -> dict:
        types = pq.read_table(events, columns=["event_type"]).column(0).to_pylist()
        return {t: types.count(t) for t in ("click", "purchase")}

    assert counts() == expected()
    tbl = pq.read_table(events)
    pq.write_table(tbl.filter(pc.equal(pc.bit_wise_and(tbl["event_id"], 1), 0)), events)
    assert counts() == expected()


def test_in_place_part_rewrite_rebuilds_copy(spark, sf_dir, tmp_path, root):
    """(b) A table that is a directory: rewriting one part under the same
    name leaves the directory's own mtime and size as they were, and the
    round-trip copy must still be rebuilt from the new rows."""
    from pyspark.sql import functions as F

    from parquet_near_storage_compute_spark.sources.io import jsonl_scan
    from parquet_near_storage_compute_spark.tables import load_table

    corpus = tmp_path / "corpus"
    events = corpus / "events.parquet"
    events.mkdir(parents=True)
    tbl = pq.read_table(table_path(sf_dir, "events"))
    half = tbl.num_rows // 2
    pq.write_table(tbl.slice(0, half), str(events / "part-0.parquet"))
    pq.write_table(tbl.slice(half), str(events / "part-1.parquet"))

    def counts() -> dict:
        rows = jsonl_scan(spark, str(corpus)).collect()
        return {r.event_type: r.n_events for r in rows}

    def expected() -> dict:
        df = load_table(spark, str(corpus), "events")
        rows = df.filter(F.col("event_id") % 50 == 0).groupBy("event_type").count()
        return {r.event_type: r["count"] for r in rows.collect()}

    assert counts() == expected()
    before = os.stat(events)
    pq.write_table(tbl.slice(half, half // 2), str(events / "part-1.parquet"))
    after = os.stat(events)
    assert (after.st_mtime_ns, after.st_size) == (before.st_mtime_ns, before.st_size)
    assert counts() == expected()


def test_failed_build_publishes_nothing(root):
    """(c) A build that raises leaves no copy and no temporary; the next
    call builds the copy."""
    calls = []

    def broken(path: str) -> None:
        os.makedirs(path)
        open(os.path.join(path, "part"), "w").close()
        raise RuntimeError("build failed")

    def build(path: str) -> None:
        calls.append(path)
        os.makedirs(path)
        open(os.path.join(path, "part"), "w").close()

    with pytest.raises(RuntimeError):
        derived_copy("t", (__file__,), broken)
    assert os.listdir(root) == []
    path = derived_copy("t", (__file__,), build)
    assert path == derived_copy_path("t", (__file__,))
    assert os.listdir(path) == ["part"]
    assert derived_copy("t", (__file__,), build) == path
    assert len(calls) == 1 and calls[0] != path


def test_loser_of_a_publish_race_drops_its_temporary(root):
    """Another process published the copy while this one was building:
    the rename fails, the published copy stays and the temporary goes."""
    path = derived_copy_path("t", (__file__,))

    def build(tmp: str) -> None:
        os.makedirs(os.path.join(path, "theirs"))
        os.makedirs(os.path.join(tmp, "mine"))

    assert derived_copy("t", (__file__,), build) == path
    assert os.listdir(root) == [os.path.basename(path)]
    assert os.listdir(path) == ["theirs"]


def test_key_covers_tag_and_listing(tmp_path, root):
    src = tmp_path / "src.parquet"
    src.write_bytes(b"a")
    first = derived_copy_path("t", (str(src),))
    assert derived_copy_path("u", (str(src),)) != first
    src.write_bytes(b"bb")
    assert derived_copy_path("t", (str(src),)) != first


def test_rewritten_source_supersedes_its_copy(tmp_path, root):
    """Publishing the copy of a rewritten source drops the copy of its
    previous listing; the same tag over another source keeps its own
    copy, and a temporary sibling (a build that may still be running) is
    left alone."""
    src, other = tmp_path / "src.parquet", tmp_path / "other.parquet"
    src.write_bytes(b"a")
    other.write_bytes(b"a")

    def build(path: str) -> None:
        os.makedirs(path)

    kept = derived_copy("t", (str(other),), build)
    first = derived_copy("t", (str(src),), build)
    building = f"{first}.0123456789ab.tmp"
    os.makedirs(building)
    src.write_bytes(b"bb")
    second = derived_copy("t", (str(src),), build)
    assert second != first
    assert sorted(os.listdir(root)) == sorted(
        os.path.basename(p) for p in (kept, second, building)
    )


def test_publish_reclaims_dead_builds_temporaries(tmp_path, root):
    """A build killed mid-write leaves its temporary behind. The next
    publish of the tag removes it when its owner ran on this host and is
    gone; a live owner's temporary and another host's stay."""
    src = tmp_path / "src.parquet"
    src.write_bytes(b"a")
    dead_pid = int(
        subprocess.run(
            [sys.executable, "-c", "import os; print(os.getpid())"],
            capture_output=True,
            text=True,
            check=True,
        ).stdout
    )
    path = derived_copy_path("t", (str(src),))
    host = socket.gethostname()
    dead = f"{path}.{host}.{dead_pid}.0123456789ab.tmp"
    live = f"{path}.{host}.{os.getpid()}.ba9876543210.tmp"
    elsewhere = f"{path}.not-{host}.{dead_pid}.0123456789ab.tmp"
    for tmp in (dead, live, elsewhere):
        os.makedirs(tmp)
    published = derived_copy("t", (str(src),), os.makedirs)
    assert sorted(os.listdir(root)) == sorted(
        os.path.basename(p) for p in (published, live, elsewhere)
    )


def test_rewritten_events_supersede_both_compaction_copies(
    spark, sf_dir, tmp_path, root
):
    """`sink_compaction` builds its compacted copy from its fragmented one.
    After `events.parquet` is rewritten, the second call leaves exactly one
    copy of each, the new listing's."""
    from parquet_near_storage_compute_spark.sources.io import compaction_sink

    corpus = _events_corpus(sf_dir, tmp_path)
    events = table_path(corpus, "events")

    def copies(tag: str) -> list:
        return [n for n in os.listdir(root) if n.startswith(f"{tag}_")]

    compaction_sink(spark, corpus).collect()
    tbl = pq.read_table(events)
    pq.write_table(tbl.filter(pc.equal(pc.bit_wise_and(tbl["event_id"], 1), 0)), events)
    compaction_sink(spark, corpus).collect()
    for tag in ("compact_frag", "compact_out"):
        assert copies(tag) == [os.path.basename(derived_copy_path(tag, (events,)))], tag


def test_streaming_contracts_leave_no_checkpoint(spark, sf_dir, root):
    """A streaming contract leaves nothing behind but the derived copy its
    file stream reads: no checkpoint, no state and no temp view in the
    session. Its result stays readable."""
    from parquet_near_storage_compute_spark.streaming import stream_ops

    def temp_views() -> set:
        return {t.name for t in spark.catalog.listTables() if t.isTemporary}

    os.makedirs(root)
    for contract, copy in [
        (stream_ops.windowed_counts, None),
        (stream_ops.upsert_foreachbatch, ("upsert_src", "events")),
        (stream_ops.minhash_ingest, ("minhash_ingest_src", "documents")),
    ]:
        views, before = temp_views(), set(os.listdir(root))
        assert contract(spark, sf_dir).count() > 0
        assert temp_views() == views, contract.__name__
        expect = set()
        if copy is not None:
            tag, table = copy
            path = derived_copy_path(tag, (table_path(sf_dir, table),))
            expect.add(os.path.basename(path))
        new = set(os.listdir(root)) - before - {"checkpoints"}
        assert new == expect, contract.__name__
        assert os.listdir(os.path.join(root, "checkpoints")) == []
