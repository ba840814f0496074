"""Structured Streaming: file source → watermark/window/stateful →
micro-batches folded through foreachBatch (AvailableNow), checked
against batch equivalents."""

from __future__ import annotations

from pyspark.sql import functions as F

from parquet_near_storage_compute_spark.streaming.stream_ops import (
    stateful_user_stats,
    windowed_counts,
)
from parquet_near_storage_compute_spark.operators.timeseries import (
    tumbling_hourly,
)


def test_stream_windowed_equals_batch(spark, sf_dir):
    stream = windowed_counts(spark, sf_dir)
    batch = tumbling_hourly(spark, sf_dir)
    s = {tuple(r) for r in stream.collect()}
    b = {tuple(r) for r in batch.collect()}
    assert s == b


def test_stateful_user_stats_matches_groupby(spark, sf_dir):
    from parquet_near_storage_compute_spark.tables import load_table

    out = stateful_user_stats(spark, sf_dir)
    expect = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("total_value"))
    )
    s = {(r.user_id, r.n_events, round(r.total_value, 6)) for r in out.collect()}
    b = {(r.user_id, r.n_events, round(r.total_value, 6)) for r in expect.collect()}
    assert s == b


def test_append_mode_watermark_runs(spark, sf_dir):
    """Append-mode watermarked window query runs under AvailableNow (late
    rows beyond the final watermark stay in state — behavior check only)."""
    from parquet_near_storage_compute_spark.streaming.stream_ops import (
        _events_stream,
        _run_to_memory,
    )

    ev = _events_stream(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    out = _run_to_memory(agg, "append")
    assert out.count() >= 0


def test_stream_stream_join_equals_batch(spark, sf_dir):
    """The watermarked attribution join equals the batch time-range
    self-join (AvailableNow keeps every pair in-horizon)."""
    from parquet_near_storage_compute_spark.streaming.stream_ops import (
        stream_stream_join,
    )
    from parquet_near_storage_compute_spark.tables import load_table

    out = stream_stream_join(spark, sf_dir)
    ev = load_table(spark, sf_dir, "events")
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("u"), F.col("ts").alias("c_ts")
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("pu"), F.col("ts").alias("p_ts"), "value"
    )
    batch = (
        c.join(
            p,
            (F.col("u") == F.col("pu"))
            & (F.col("p_ts") > F.col("c_ts"))
            & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 30 MINUTES")),
        )
        .groupBy(F.col("u").alias("user_id"))
        .agg(
            F.count(F.lit(1)).alias("n_attributed"),
            F.sum("value").alias("attributed_value"),
        )
    )
    s = {(r.user_id, r.n_attributed, round(r.attributed_value, 6)) for r in out.collect()}
    b = {(r.user_id, r.n_attributed, round(r.attributed_value, 6)) for r in batch.collect()}
    assert s == b and len(s) > 0


def test_file_sink_checkpoint_exactly_once(spark, sf_dir, tmp_path):
    """Production property the folded contracts don't cover: a
    checkpointed parquet file sink is exactly-once across restarts — a
    second AvailableNow run over the SAME source with the SAME checkpoint
    must be a no-op (no duplicate output rows), because the checkpoint
    records the processed files."""
    from parquet_near_storage_compute_spark.streaming.stream_ops import (
        _events_stream,
    )

    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def run_once():
        ev = _events_stream(spark, sf_dir).select("event_id", "user_id")
        q = (
            ev.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once()
    n_source = spark.read.parquet(f"{sf_dir}/events.parquet").count()
    first = spark.read.parquet(out)
    assert first.count() == n_source
    run_once()  # restart from checkpoint: nothing new to process
    second = spark.read.parquet(out)
    assert second.count() == n_source
    assert second.select("event_id").distinct().count() == n_source
