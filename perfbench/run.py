"""Near-storage benchmark: one closed-loop client over a fresh Spark session.

Usage (from the repository root)::

    python3 perfbench/run.py --workload scan_ladder --seed 1 --seconds 10 --trace 0

One run: start a ``local[nproc]`` session (nproc: the CPUs this process
may run on, not the host's count) and build the workload's seeded
corpus ``SETUP_REPS`` times (each on a fresh SparkContext; ``setup_s`` is
the median), compute every op's DuckDB answer, run untimed warm-up ops (each
op type once, repeated until ``WARMUP_S``) to warm the JIT, code generation
and ``plans.memo``, then run whole cycles of ops (each workload's
``cycle``: seeded order, each op waiting for the previous one) until
``--seconds`` have passed. Every op is checked against its answer; a failed check or an
exception counts as a failed op.

Timings are steal-corrected (``tracing.unstolen_s``): on a shared host the
time the hypervisor gives other guests stretches every wall time by a
share that changes from minute to minute, so each interval has that share
taken out. The wall-clock op percentiles are printed too
(``op_wall_p50_ms``, ``op_wall_p90_ms``).

What is warm at t=0 of the timed loop: the JVM and its JIT (at least
``WARMUP_S`` of ops), Spark's generated code for every op of the deck
(``scan_ladder``'s threshold literals are part of the generated code), the
OS page cache for the just-written corpus, and the ``PlanMemo`` entries of
the warm-up pass. Nothing is carried between runs: each run writes under its own directory of ``.perfbench_work/`` (corpus,
sinks, warehouse, Spark local and temp dirs) and deletes it at exit.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` interleaves
untraced and traced cycles and prints the per-layer metrics (see
``report.PER_LAYER``), including ``trace_overhead_pct``. Human-readable
lines come first; the last stdout line is one JSON object.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import random
import shutil
import statistics
import sys
import time

import pyarrow.parquet as pq

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
#: Task slots: the CPUs this process may run on, as ``nproc`` counts them
#: (``os.cpu_count()`` counts the host's, which a CPU set may restrict).
CORES = len(os.sched_getaffinity(0))
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
#: Set-ups per run; ``setup_s`` and ``session.start_s`` are their medians.
SETUP_REPS = 3
#: Driver JVM heap, committed up front (-Xms) so the JVM's resident size
#: does not depend on when the collector chose to grow the heap. The
#: corpora are small, and the machine is shared.
DRIVER_MEMORY = "1g"
#: Warm-up floor: after one op of each type, the warm-up ops repeat until
#: this many seconds have passed, so the JIT is past its steepest part.
WARMUP_S = 12.0


def _session_conf(work: str) -> dict[str, str]:
    return {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.local.dir": os.path.join(work, "local"),
        "spark.driver.extraJavaOptions": (
            f"-Xms{DRIVER_MEMORY} -Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
        ),
        # the traced run reads every op's stages back from the status store
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        # lets the rowgroup_parquet reader receive pushed filters
        "spark.sql.python.filterPushdown.enabled": "true",
    }


def _remove_stale_runs() -> None:
    """Delete work directories left by runs whose process is gone."""
    if not os.path.isdir(WORK_ROOT):
        return
    for name in os.listdir(WORK_ROOT):
        pid = name.split("-")[1] if name.startswith("run-") else ""
        if pid.isdigit() and not os.path.exists(f"/proc/{pid}"):
            shutil.rmtree(os.path.join(WORK_ROOT, name), ignore_errors=True)


def _isolate(work: str) -> None:
    """Keep every file the run writes under ``work``, and make the package
    importable by the Python workers Spark forks (they inherit this env)."""
    for sub in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # the launcher JVM that spark-submit starts first: no /tmp/hsperfdata
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    # derived-copy caches of the sources layer default to /tmp/pnsc_sources
    from parquet_near_storage_compute_spark.sources import io as sources_io
    from parquet_near_storage_compute_spark.sources import pyds

    sources_io._TMP_DIR = pyds._TMP_DIR = os.path.join(work, "pnsc_sources")


class Run:
    def __init__(self, workload: str, seed: int, seconds: float, trace: bool) -> None:
        self.workload_name = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.work = os.path.join(WORK_ROOT, f"run-{os.getpid()}-{workload}")
        self.records = []
        #: bytes moved per op type, from its first successful op
        self.moved: dict[str, int] = {}
        self.spark = None

    # ------------------------------------------------------------ set-up
    def _start(self):
        from parquet_near_storage_compute_spark.session import get_spark

        spark = get_spark(
            app_name=f"perfbench-{self.workload_name}",
            master=f"local[{CORES}]",
            conf=_session_conf(self.work),
        )
        spark.sparkContext.setLogLevel("ERROR")
        return spark

    def setup(self) -> None:
        from perfbench.tracing import Tracer, mark, unstolen_s
        from perfbench.workloads import WORKLOADS

        self.setup_s, self.session_s, self.corpus_s = [], [], []
        for rep in range(SETUP_REPS):
            if self.spark is not None:
                self.spark.stop()
            m0 = mark()
            self.spark = self._start()
            m1 = mark()
            self.tracer = Tracer(self.spark, self.trace)
            self.wl = WORKLOADS[self.workload_name](self.spark, self.tracer, self.work)
            self.wl.build(os.path.join(self.work, f"corpus-{rep}"), self.seed)
            m2 = mark()
            self.setup_s.append(unstolen_s(m0, m2))
            self.session_s.append(unstolen_s(m0, m1))
            self.corpus_s.append(unstolen_s(m1, m2))
            if rep + 1 < SETUP_REPS:
                shutil.rmtree(self.wl.data)

    def compute_answers(self) -> None:
        from perfbench import oracle

        con = oracle.connect(self.wl.views(), os.path.join(self.work, "tmp"))
        try:
            self.answers = self.wl.answers(con)
            self.moved.update(self.wl.deck_moved())
        finally:
            con.close()

    # ------------------------------------------------------------ ops
    def _op(self, op, op_id: str, traced: bool):
        from perfbench.oracle import mismatch
        from perfbench.report import OpRecord
        from perfbench.tracing import mark, unstolen_s

        self.tracer.enabled = traced
        trace = self.tracer.begin(op_id)
        start = mark()
        try:
            outcome = self.wl.run(op)
            error = mismatch(outcome.cols, outcome.rows, self.answers[op.key])
        except Exception as exc:  # an op that raises is a failed op; keep going
            outcome, error = None, f"{type(exc).__name__}: {exc}"
        end = mark()
        self.tracer.current = None
        rec = OpRecord(op.name, unstolen_s(start, end), error, traced, end[0] - start[0])
        if error is not None:
            print(f"# FAILED {op.key}: {error}", file=sys.stderr)
            return rec
        rec.rows = len(outcome.rows)
        rec.extra = outcome.extra
        if op.name not in self.moved:
            self.moved[op.name] = self.wl.moved_bytes(op, outcome)
        if outcome.written:
            rec.files = len(outcome.written)
            rec.written_bytes = sum(os.path.getsize(f) for f in outcome.written)
            rec.input_bytes = self.wl.input_bytes(op, outcome)
        if trace is not None:
            rec.spans = dict(trace.spans)
            rec.groups = dict(trace.groups)
            if outcome.written:
                rec.extra["row_groups"] = sum(
                    pq.ParquetFile(f).metadata.num_row_groups for f in outcome.written
                )
        return rec

    def warmup(self) -> None:
        ops = self.wl.deck()
        t0 = time.perf_counter()
        self.warm = []
        while len(self.warm) < len(ops) or time.perf_counter() - t0 < WARMUP_S:
            op = ops[len(self.warm) % len(ops)]
            self.warm.append(self._op(op, f"warm{len(self.warm)}", traced=False))

    def measure(self) -> None:
        """Whole cycles until ``seconds`` have passed. A traced run traces
        half the cycles in the order untraced, traced, traced, untraced, ...
        (so the JIT's speed-up over the run cancels out of
        ``trace_overhead_pct``) and ends with as many of each."""
        rng = random.Random(self.seed)
        self.cycles = 0
        with self.tracer.count_memo() if self.trace else contextlib.nullcontext():
            t0 = time.perf_counter()
            while time.perf_counter() - t0 < self.seconds or (self.trace and self.cycles % 2):
                traced = self.trace and self.cycles % 4 in (1, 2)
                for i, op in enumerate(self.wl.cycle(rng)):
                    self.records.append(self._op(op, f"c{self.cycles}o{i}", traced))
                self.cycles += 1

    # ------------------------------------------------------------ results
    def result(self) -> dict:
        from perfbench import report
        from perfbench.tracing import drain, group_stats, peak_rss_mb

        attempted = len(self.records) + len(self.warm)
        failed = sum(r.error is not None for r in self.records + self.warm)
        untraced = [r for r in self.records if not r.traced]
        rss = peak_rss_mb([os.getpid(), self.spark.sparkContext._gateway.proc.pid])
        deck_moved = [self.moved.get(t, 0) for t in dict.fromkeys(op.name for op in self.wl.deck())]
        e2e = report.end_to_end(
            untraced, attempted, failed, self.setup_s, rss, deck_moved
        )
        lines = [
            f"# {self.workload_name} seed={self.seed} cycles={self.cycles} "
            f"ops={len(self.records)} (untraced {len(untraced)}) "
            f"attempted={attempted} failed={failed}"
        ]
        for name, value in e2e.items():
            unit = report.END_TO_END[name][0]
            lines.append(f"{name:28s} {value:14.4f} {unit}")
        # printed, not in BENCHMARK.json: a run's few dozen ops leave fewer
        # than ten samples beyond p90, and the wall clock carries the host's
        # steal
        wall_mix = report.mix_latencies_ms(untraced, wall=True)
        printed = {
            "op_p90_ms": (report.p90(report.mix_latencies_ms(untraced)), "ms"),
            "op_wall_p50_ms": (report.p50(wall_mix), "ms"),
            "op_wall_p90_ms": (report.p90(wall_mix), "ms"),
            "failed_op_ratio": (failed / attempted, "ratio"),
            "written_bytes_per_input_byte": (report.written_per_input(untraced), "ratio"),
        }
        lines.extend(f"{name:28s} {value:14.4f} {unit}" for name, (value, unit) in printed.items())
        lines.append(
            "# set-up reps (s): "
            + " ".join(f"{a:.3f}={b:.3f}+{c:.3f}" for a, b, c in
                       zip(self.setup_s, self.session_s, self.corpus_s))
        )
        lines.append(
            "# warm-up (ms): " + " ".join(f"{r.name}={r.latency_s * 1e3:.0f}" for r in self.warm)
        )
        by_type = report.type_latencies_ms(untraced)
        lines.append(
            f"# op latency samples={len(untraced)} over {len(by_type)} op types; "
            "p50/p90 are of the per-type medians below"
        )
        lines.extend(
            f"#   {key:40s} n={len(v):3d} median={statistics.median(v):9.1f} ms"
            for key, v in sorted(by_type.items())
        )
        if not self.trace:
            metrics = {k: {"value": v, "unit": report.END_TO_END[k][0]} for k, v in e2e.items()}
        else:
            drain(self.spark)
            traced = [r for r in self.records if r.traced and r.error is None]
            self.stats = {g: group_stats(self.spark, g) for r in traced for g in r.groups}
            layer = report.per_layer(
                traced, e2e["op_p50_ms"], self.session_s, self.corpus_s, self.stats,
                self.tracer.memo_gets, self.tracer.memo_hits,
            )
            for name, value in layer.items():
                lines.append(f"{name:34s} {value:14.4f} {report.PER_LAYER[name][0]}")
            metrics = {k: {"value": v, "unit": report.PER_LAYER[k][0]} for k, v in layer.items()}
        self.lines = lines
        return {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": metrics,
        }

    def close(self) -> None:
        """Stop the session and the JVM (closing its stdin ends the
        gateway), wait for it, and delete the run's directory."""
        try:
            if self.spark is not None:
                from pyspark import SparkContext

                gateway = self.spark.sparkContext._gateway
                self.spark.stop()
                gateway.shutdown()
                proc = gateway.proc
                proc.stdin.close()
                proc.wait(timeout=60)
                SparkContext._gateway = None
                SparkContext._jvm = None
                self.spark = None
        finally:
            shutil.rmtree(self.work, ignore_errors=True)
            if os.path.isdir(WORK_ROOT) and not os.listdir(WORK_ROOT):
                os.rmdir(WORK_ROOT)


def run(workload: str, seed: int, seconds: float, trace: bool) -> Run:
    """One complete benchmark run."""
    r = Run(workload, seed, seconds, trace)
    _remove_stale_runs()
    os.makedirs(r.work, exist_ok=True)
    phases = []
    try:
        _isolate(r.work)
        for phase in (r.setup, r.compute_answers, r.warmup, r.measure):
            t0 = time.perf_counter()
            phase()
            phases.append(time.perf_counter() - t0)
        r.outcome = r.result()
    finally:
        r.close()
    r.lines.insert(1, "# phases (s): setup %.1f, answers %.1f, warm-up %.1f, measure %.1f" % tuple(phases))
    return r


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    parser.add_argument("--workload", required=True)
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args(argv)
    # import the package and the benchmark from the repository root, not
    # from this script's directory
    sys.path[0] = ROOT
    try:
        import parquet_near_storage_compute_spark  # noqa: F401
        import tests.oracle  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the engine sources are missing: {exc}", file=sys.stderr)
        return 2
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    r = run(args.workload, args.seed, args.seconds, bool(args.trace))
    print("\n".join(r.lines))
    print(json.dumps(r.outcome))
    return 0


if __name__ == "__main__":
    sys.exit(main())
