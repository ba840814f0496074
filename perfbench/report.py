"""Metric definitions and their computation from per-op records.

``END_TO_END`` is what a caller of the engine sees; ``PER_LAYER`` times or
counts one layer, and records which end-to-end metric on which workload a
change to that layer is predicted to move (``BENCHMARK.json`` carries the
names, units and directions; its schema has no field for the predictions,
so they live here).
"""

from __future__ import annotations

import statistics
from dataclasses import dataclass, field

import numpy as np

MB = 1e6

#: name -> (unit, better)
END_TO_END: dict[str, tuple[str, str]] = {
    "setup_s": ("s", "lower"),
    "op_p50_ms": ("ms", "lower"),
    "ops_per_s": ("1/s", "higher"),
    "ok_op_ratio": ("ratio", "higher"),
    "peak_rss_mb": ("MB", "lower"),
    "moved_mb_per_op": ("MB", "lower"),
}

#: name -> (unit, better, end-to-end metric(s) it should move, on which workloads)
PER_LAYER: dict[str, tuple[str, str, str, str]] = {
    "session.start_s": ("s", "lower", "setup_s", "all"),
    "session.corpus_s": ("s", "lower", "setup_s", "all"),
    "grammar.parse_ms": ("ms", "lower", "op_p50_ms (predicted under 1%)", "scan_ladder"),
    "plan.build_ms": ("ms", "lower", "op_p50_ms", "curate_write"),
    "plan.jobs_during_build": ("count", "lower", "op_p50_ms", "curate_write"),
    "metrics.plan_bytes_ms": ("ms", "lower", "op_p50_ms", "scan_ladder"),
    "metrics.footer_mb_per_op": ("MB", "lower", "moved_mb_per_op", "scan_ladder"),
    "metrics.data_mb_per_op": ("MB", "lower", "moved_mb_per_op", "scan_ladder"),
    "scan.rg_kept_ratio": ("ratio", "lower", "moved_mb_per_op, op_p50_ms", "scan_ladder"),
    "scan.rg_useful_ratio": ("ratio", "higher", "moved_mb_per_op, op_p50_ms", "scan_ladder"),
    "scan.input_mb_per_s": ("MB/s", "higher", "op_p50_ms", "scan_ladder"),
    "exec.execute_ms": ("ms", "lower", "op_p50_ms", "all"),
    "exec.stages_per_op": ("count", "lower", "op_p50_ms", "curate_write"),
    "exec.tasks_per_op": ("count", "lower", "op_p50_ms", "curate_write"),
    "exec.shuffle_read_mb_per_op": ("MB", "lower", "op_p50_ms", "curate_write"),
    "exec.shuffle_write_mb_per_op": ("MB", "lower", "op_p50_ms", "curate_write"),
    "exec.task_cpu_ratio": ("ratio", "higher", "op_p50_ms, op_p90_ms", "curate_write"),
    "exec.spill_mb_per_op": ("MB", "lower", "op_p50_ms, op_p90_ms", "curate_write"),
    "exec.gc_ms_per_op": ("ms", "lower", "op_p90_ms, peak_rss_mb", "all"),
    "exec.failed_tasks": ("count", "lower", "ok_op_ratio", "all"),
    "driver.collect_ms": ("ms", "lower", "op_p50_ms", "curate_write"),
    "driver.result_rows": ("count", "lower", "op_p50_ms", "curate_write"),
    "sink.write_ms": ("ms", "lower", "op_p50_ms", "curate_write"),
    "sink.written_mb_per_op": ("MB", "lower", "op_p50_ms, written bytes per input byte", "curate_write"),
    "sink.files_per_op": ("count", "lower", "op_p50_ms", "curate_write"),
    "sink.row_groups_per_op": ("count", "lower", "op_p50_ms", "curate_write"),
    "sink.written_bytes_per_input_byte": ("ratio", "lower", "op_p50_ms", "curate_write"),
    "pyds.rg_kept_ratio": ("ratio", "lower", "op_p50_ms", "curate_write"),
    "memo.hit_ratio": ("ratio", "higher", "op_p50_ms", "curate_write"),
    "trace_overhead_pct": ("%", "lower", "none (cost of tracing itself)", "all"),
}


@dataclass
class OpRecord:
    name: str  # op type
    #: from the start of the op to its checked result, less stolen time
    #: (``tracing.unstolen_s``)
    latency_s: float
    error: str | None
    traced: bool
    #: the same interval on the wall clock
    wall_s: float = 0.0
    rows: int = 0
    input_bytes: int = 0
    written_bytes: int = 0
    files: int = 0
    spans: dict[str, float] = field(default_factory=dict)
    #: job group id -> the span it timed
    groups: dict[str, str] = field(default_factory=dict)
    extra: dict[str, float] = field(default_factory=dict)


def hd_quantile(values: list[float], q: float) -> float:
    """Harrell-Davis estimate of the ``q`` quantile: a Beta-weighted mean of
    all order statistics. An op mix has gaps between op types, and a plain
    order statistic jumps across such a gap when one sample moves; this
    estimate moves smoothly instead."""
    xs = np.sort(np.asarray(values, dtype=float))
    n, steps = len(xs), 200
    a, b = q * (n + 1), (1 - q) * (n + 1)
    # weight i is the Beta(a, b) mass on [(i-1)/n, i/n]: midpoint rule
    u = (np.arange(n * steps) + 0.5) / (n * steps)
    logpdf = (a - 1) * np.log(u) + (b - 1) * np.log1p(-u)
    weights = np.exp(logpdf - logpdf.max()).reshape(n, steps).sum(axis=1)
    return float(weights @ xs / weights.sum())


def p50(values: list[float]) -> float:
    return hd_quantile(values, 0.5)


def p90(values: list[float]) -> float:
    return hd_quantile(values, 0.9)


def type_latencies_ms(records: list[OpRecord], wall: bool = False) -> dict[str, list[float]]:
    out: dict[str, list[float]] = {}
    for r in records:
        out.setdefault(r.name, []).append((r.wall_s if wall else r.latency_s) * 1e3)
    return out


def mix_latencies_ms(records: list[OpRecord], wall: bool = False) -> list[float]:
    """The op mix with each op type at its median latency over the run.

    The cycles run every op type equally often (``scan_ladder``'s over four
    consecutive cycles), so the types weigh equally in the mix. Taking each
    type's median first means a burst of contention on a
    shared host has to slow most runs of a type before it moves the
    figures, and the spread of the mix is the spread between op types, not
    the host's jitter."""
    return [statistics.median(v) for v in type_latencies_ms(records, wall).values()]


def end_to_end(
    timed: list[OpRecord], attempted: int, failed: int,
    setup_s: list[float], rss_mb: float, deck_moved: list[int],
) -> dict[str, float]:
    """``deck_moved``: bytes moved by each op type of the workload's deck,
    so the mean does not depend on how many ops of each type ran.
    ``ops_per_s`` is what the single closed-loop client completes per
    second of the mix: one over its mean op latency."""
    mix = mix_latencies_ms(timed)
    return {
        "setup_s": statistics.median(setup_s),
        "op_p50_ms": p50(mix),
        "ops_per_s": 1e3 / statistics.fmean(mix),
        "ok_op_ratio": 1.0 - failed / attempted,
        "peak_rss_mb": rss_mb,
        "moved_mb_per_op": statistics.fmean(deck_moved) / MB,
    }


def _ratio(num: float, den: float) -> float:
    return num / den if den else 0.0


def written_per_input(records: list[OpRecord]) -> float:
    return _ratio(
        sum(r.written_bytes for r in records), sum(r.input_bytes for r in records if r.files)
    )


def per_layer(
    traced: list[OpRecord], untraced_p50_ms: float, session_s: list[float],
    corpus_s: list[float], stats: dict, memo_gets: int, memo_hits: int,
) -> dict[str, float]:
    """Per-op means over the traced ops. ``stats`` maps each job-group id
    to its ``tracing.GroupStats``."""
    n = len(traced)

    def span_ms(name: str, records=traced) -> float:
        return sum(r.spans.get(name, 0.0) for r in records) * 1e3

    def jobs(attr: str, span: str | None = None) -> float:
        return sum(
            getattr(stats[g], attr)
            for r in traced for g, s in r.groups.items() if span in (None, s)
        )

    def extra(records: list[OpRecord], key: str) -> float:
        return sum(r.extra[key] for r in records)

    scans = [r for r in traced if "rg_total" in r.extra]
    sinks = [r for r in traced if r.files]
    ingests = [r for r in traced if "pyds_total" in r.extra]
    return {
        "session.start_s": statistics.median(session_s),
        "session.corpus_s": statistics.median(corpus_s),
        "grammar.parse_ms": span_ms("grammar.parse") / n,
        "plan.build_ms": span_ms("plan.build") / n,
        "plan.jobs_during_build": jobs("jobs", "plan.build") / n,
        "metrics.plan_bytes_ms": span_ms("metrics.plan_bytes") / n,
        "metrics.footer_mb_per_op": _ratio(extra(scans, "footer") / MB, len(scans)),
        "metrics.data_mb_per_op": _ratio(extra(scans, "data") / MB, len(scans)),
        "scan.rg_kept_ratio": _ratio(extra(scans, "rg_kept"), extra(scans, "rg_total")),
        "scan.rg_useful_ratio": _ratio(extra(scans, "rg_useful"), extra(scans, "rg_kept")),
        "scan.input_mb_per_s": _ratio(
            extra(scans, "moved") / MB, span_ms("driver.collect", scans) / 1e3
        ),
        # spans do not overlap, so neither do the jobs of different spans
        "exec.execute_ms": jobs("job_ms") / n,
        "exec.stages_per_op": jobs("stages") / n,
        "exec.tasks_per_op": jobs("tasks") / n,
        "exec.shuffle_read_mb_per_op": jobs("shuffle_read") / MB / n,
        "exec.shuffle_write_mb_per_op": jobs("shuffle_write") / MB / n,
        "exec.task_cpu_ratio": _ratio(jobs("cpu_ms"), jobs("run_ms")),
        "exec.spill_mb_per_op": jobs("spill") / MB / n,
        "exec.gc_ms_per_op": jobs("gc_ms") / n,
        "exec.failed_tasks": jobs("failed_tasks"),
        # time in collect() that no job covers: planning, scheduling and
        # moving the result into Python
        "driver.collect_ms": (span_ms("driver.collect") - jobs("job_ms", "driver.collect")) / n,
        "driver.result_rows": sum(r.rows for r in traced) / n,
        "sink.write_ms": span_ms("sink.write") / n,
        "sink.written_mb_per_op": _ratio(sum(r.written_bytes for r in sinks) / MB, len(sinks)),
        "sink.files_per_op": _ratio(sum(r.files for r in sinks), len(sinks)),
        "sink.row_groups_per_op": _ratio(extra(sinks, "row_groups"), len(sinks)),
        "sink.written_bytes_per_input_byte": written_per_input(sinks),
        "pyds.rg_kept_ratio": _ratio(extra(ingests, "pyds_kept"), extra(ingests, "pyds_total")),
        "memo.hit_ratio": _ratio(memo_hits, memo_gets),
        "trace_overhead_pct": (
            p50(mix_latencies_ms(traced)) / untraced_p50_ms - 1.0
        ) * 100.0,
    }
