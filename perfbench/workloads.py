"""The two benchmark workloads and their ops.

Every op builds a fresh DataFrame (a repeated action on one DataFrame
would reuse its shuffle output), runs it, and returns what it produced so
the runner can check it against the DuckDB answer computed in set-up.

- ``scan_ladder``: the near-storage read path. One op is a selectivity
  rung of ``scan_agg.LADDER`` times a projection width, parsed through the
  predicate/aggregation grammar over a range-sorted multi-file layout, plus
  the v2 planned-bytes accounting of ``plans.metrics.planned_scan_bytes``.
- ``curate_write``: curation queries written through
  ``sources.io.write_parquet_sized`` and read back, plus ingest ops through
  the ``rowgroup_parquet`` Python Data Source (write, then a pruned read).
"""

from __future__ import annotations

import os
import random
from dataclasses import dataclass, field

import pyarrow.parquet as pq
from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql.datasource import LessThan

from parquet_near_storage_compute_spark.functions import grammar
from parquet_near_storage_compute_spark.operators.scan_agg import AGG_SPECS, LADDER
from parquet_near_storage_compute_spark.plans import metrics
from parquet_near_storage_compute_spark.registry import all_oracles, all_queries
from parquet_near_storage_compute_spark.sources import io as sources_io
from parquet_near_storage_compute_spark.sources import pyds
from parquet_near_storage_compute_spark.tables import TABLES, load_table, table_path

from perfbench import corpus
from perfbench.oracle import Answer, answer
from perfbench.tracing import Tracer


@dataclass(frozen=True)
class Op:
    #: op type: latency, moved bytes and per-layer counts are grouped by it
    name: str
    #: which precomputed answer the result is checked against
    key: str
    arg: object = None


@dataclass
class Outcome:
    cols: list[str]
    rows: list[tuple]
    #: the op's input DataFrame, for planned-bytes accounting after the check
    df: object = None
    #: parquet files this op committed (sinks only)
    written: list[str] = field(default_factory=list)
    #: traced-only accounting, filled by the op when the tracer is on
    extra: dict[str, float] = field(default_factory=dict)


def parquet_bytes(path: str, columns: list[str] | None, row_groups=None) -> int:
    """Footer plus the column chunks of ``columns`` (top-level names; None
    means all) in ``row_groups`` (None means all): what a storage node ships
    for that read. Nested columns count every leaf under their name."""
    md = pq.ParquetFile(path).metadata
    total = metrics.footer_bytes(path)
    for rg in range(md.num_row_groups) if row_groups is None else row_groups:
        group = md.row_group(rg)
        for i in range(group.num_columns):
            chunk = group.column(i)
            if columns is None or chunk.path_in_schema.split(".")[0] in columns:
                total += chunk.total_compressed_size
    return total


def file_scan_bytes(df) -> int:
    """Planned bytes of every Parquet file scan in ``df``'s physical plan:
    footer plus the chunks of the columns the scan requires."""
    leaves = df._jdf.queryExecution().sparkPlan().collectLeaves()
    total = 0
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        if leaf.getClass().getSimpleName() != "FileSourceScanExec":
            continue
        cols = list(leaf.requiredSchema().fieldNames())
        for uri in leaf.relation().location().inputFiles():
            total += parquet_bytes(uri.removeprefix("file://"), cols)
    return total


class Workload:
    name: str

    def __init__(self, spark: SparkSession, tracer: Tracer, work: str) -> None:
        self.spark = spark
        self.tracer = tracer
        self.work = work
        self.data = ""
        self._seq = 0
        self._input_bytes: dict[str, int] = {}

    def build(self, out: str, seed: int) -> None:
        """Write the corpus and layout (timed as set-up)."""
        raise NotImplementedError

    def deck(self) -> list[Op]:
        """Every distinct op once: the answers computed in set-up."""
        raise NotImplementedError

    def cycle(self, rng: random.Random) -> list[Op]:
        """One round of the timed loop: every op type once, seeded order."""
        ops = self.deck()
        rng.shuffle(ops)
        return ops

    def answers(self, con) -> dict[str, Answer]:
        raise NotImplementedError

    def views(self) -> dict[str, str]:
        paths = {t: table_path(self.data, t) for t in TABLES}
        return {t: p for t, p in paths.items() if os.path.exists(p)}

    def run(self, op: Op) -> Outcome:
        raise NotImplementedError

    def moved_bytes(self, op: Op, outcome: Outcome) -> int:
        """Bytes the op's reads must move (the paper's metric): its input
        scans plus, for sinks, reading the committed files back."""
        back = sum(parquet_bytes(f, None) for f in outcome.written)
        return self.input_bytes(op, outcome) + back

    def input_bytes(self, op: Op, outcome: Outcome) -> int:
        """Planned bytes of the op's input scans, per op type (the plan
        over the fixed corpus does not change within a run)."""
        if op.name not in self._input_bytes:
            self._input_bytes[op.name] = file_scan_bytes(outcome.df)
        return self._input_bytes[op.name]

    def deck_moved(self) -> dict[str, int]:
        """Moved bytes per op type known before any op runs (none by
        default: the runner records each type's first successful op)."""
        return {}

    def fresh_dir(self, kind: str) -> str:
        self._seq += 1
        return os.path.join(self.work, "out", f"{kind}-{self._seq}")


# ------------------------------------------------------------------ scan

#: Projection widths of the ladder ops, as the grammar aggregations over
#: the columns each width reads (``AGG_SPECS`` are v1's five).
_WIDTH_AGGS: dict[int, list[tuple[str, str]]] = {
    1: list(AGG_SPECS),
    2: [*AGG_SPECS, ("SUM(l_quantity)", "sum_qty")],
    4: [*AGG_SPECS, ("SUM(l_quantity)", "sum_qty"), ("MAX(l_discount)", "max_disc"),
        ("MIN(l_tax)", "min_tax")],
    11: [*AGG_SPECS, ("SUM(l_quantity)", "sum_qty"), ("MAX(l_discount)", "max_disc"),
         ("MIN(l_tax)", "min_tax"), ("MAX(l_orderkey)", "max_okey"),
         ("MIN(l_partkey)", "min_pkey"), ("MAX(l_suppkey)", "max_skey"),
         ("MAX(l_linenumber)", "max_line"), ("MIN(l_returnflag)", "min_flag"),
         ("MAX(l_linestatus)", "max_status"), ("MAX(l_shipdate)", "max_ship")],
}
_WIDTHS = list(_WIDTH_AGGS)
_ORACLE_AGG = {"SUM": "CAST(SUM({c}) AS DOUBLE)", "AVG": "CAST(AVG({c}) AS DOUBLE)",
               "COUNT": "CAST(COUNT({c}) AS BIGINT)", "MIN": "MIN({c})", "MAX": "MAX({c})"}


def _split(spec: str) -> tuple[str, str]:
    """``"SUM(l_quantity)"`` -> ``("SUM", "l_quantity")``."""
    op, col = spec.rstrip(")").split("(")
    return op, col


def _width_columns(width: int) -> list[str]:
    return sorted({_split(spec)[1] for spec, _ in _WIDTH_AGGS[width]})


def _scan_op(rung: str, width: int) -> Op:
    key = f"{rung}/w{width}"
    return Op(key, key, (rung, width))


class ScanLadder(Workload):
    name = "scan_ladder"

    def build(self, out: str, seed: int) -> None:
        self.files = corpus.write_scan(out, seed)
        self.data = out
        self._pruning: dict[float, dict[str, int]] = {}
        self._shifts = random.Random(seed).sample(range(len(_WIDTHS)), len(_WIDTHS))
        self._cycles = 0

    def deck(self) -> list[Op]:
        return [_scan_op(rung, w) for rung in LADDER for w in _WIDTHS]

    def cycle(self, rng: random.Random) -> list[Op]:
        """Every rung once; rung i reads width ``(i + shift) mod 4``, with
        ``shift`` a seeded permutation stepped per cycle, so four
        consecutive cycles cover the whole deck."""
        shift = self._shifts[self._cycles % len(_WIDTHS)]
        self._cycles += 1
        ops = [_scan_op(rung, _WIDTHS[(i + shift) % len(_WIDTHS)])
               for i, rung in enumerate(LADDER)]
        rng.shuffle(ops)
        return ops

    def answers(self, con) -> dict[str, Answer]:
        out = {}
        for op in self.deck():
            rung, w = op.arg
            sel = ", ".join(
                _ORACLE_AGG[_split(spec)[0]].format(c=_split(spec)[1]) + f" AS {alias}"
                for spec, alias in _WIDTH_AGGS[w]
            )
            out[op.key] = answer(
                con, f"SELECT {sel} FROM lineitem WHERE l_extendedprice > {LADDER[rung]}"
            )
        return out

    def planned_bytes(self, rung: str, width: int) -> int:
        """v2 accounting over the layout: footers plus the surviving
        chunks of the width's columns."""
        pred = [("l_extendedprice", ">", LADDER[rung])]
        return sum(
            metrics.planned_scan_bytes(f, _width_columns(width), pred) for f in self.files
        )

    def run(self, op: Op) -> Outcome:
        rung, width = op.arg
        tr = self.tracer
        with tr.span("grammar.parse"):
            pred = grammar.parse_predicate(f"l_extendedprice > {LADDER[rung]}")
            aggs = grammar.parse_aggregations(_WIDTH_AGGS[width])
        with tr.span("plan.build"):
            df = load_table(self.spark, self.data, "lineitem").filter(pred).agg(*aggs)
            cols = df.columns
        with tr.span("driver.collect"):
            rows = [tuple(r) for r in df.collect()]
        with tr.span("metrics.plan_bytes"):
            moved = self.planned_bytes(rung, width)
        out = Outcome(cols, rows, extra={"moved": moved})
        if tr.current is not None:
            footer = sum(metrics.footer_bytes(f) for f in self.files)
            out.extra.update(self._row_group_pruning(LADDER[rung]), footer=footer,
                             data=moved - footer)
        return out

    def _row_group_pruning(self, threshold: float) -> dict[str, int]:
        """Row groups in the layout, those footer statistics admit, and
        admitted ones that hold a matching row (per threshold, cached)."""
        if threshold not in self._pruning:
            kept = useful = total = 0
            for f in self.files:
                pf = pq.ParquetFile(f)
                idx = pf.schema_arrow.get_field_index("l_extendedprice")
                for rg in range(pf.metadata.num_row_groups):
                    total += 1
                    if pf.metadata.row_group(rg).column(idx).statistics.max > threshold:
                        kept += 1
                        prices = pf.read_row_group(rg, columns=["l_extendedprice"]).column(0)
                        useful += max(prices.to_pylist()) > threshold
            self._pruning[threshold] = {"rg_total": total, "rg_kept": kept, "rg_useful": useful}
        return self._pruning[threshold]

    def moved_bytes(self, op: Op, outcome: Outcome) -> int:
        return int(outcome.extra["moved"])

    def deck_moved(self) -> dict[str, int]:
        """The whole deck from footers alone, so ``moved_mb_per_op`` does
        not depend on which ops a run reached."""
        return {op.name: self.planned_bytes(*op.arg) for op in self.deck()}


# ---------------------------------------------------------------- curate

CURATE_QUERIES = [
    "dedup_exact",
    "dedup_minhash_lsh",
    "text_quality_scores",
    "sim_topk_lsh",
    # built on plans.memo's component labels: exercises PlanMemo reuse
    "dedup_connected_components",
]
#: Events per ingest slice, slices per corpus, and the pruned read-back
#: bound (event ids below ``lo + INGEST_READ_ROWS``) of each ingest op. A
#: run ingests the one slice its seed picks: the slice bounds are literals
#: in Spark's generated code, so each further slice would compile its own
#: code inside the timed loop.
INGEST_SLICE_ROWS = 5_000
INGEST_SLICES = 4
INGEST_READ_ROWS = 1_000
#: Row-group target of the curation sink.
SINK_ROW_GROUP_BYTES = 1 << 20

_INGEST_ORACLE = """
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS sum_value_cents,
           CAST(MIN(event_id) AS BIGINT) AS min_event_id,
           CAST(MAX(event_id) AS BIGINT) AS max_event_id
    FROM events WHERE event_id >= {lo} AND event_id < {hi}
    GROUP BY event_type
"""


def _read_bound(op: Op) -> list[LessThan]:
    return [LessThan(("event_id",), op.arg * INGEST_SLICE_ROWS + INGEST_READ_ROWS)]


class CurateWrite(Workload):
    name = "curate_write"

    def build(self, out: str, seed: int) -> None:
        corpus.write_curate(out, seed)
        self.data = out
        self._queries = all_queries()
        self.spark.dataSource.register(pyds.RowGroupParquetDataSource)
        self._slice = random.Random(seed).randrange(INGEST_SLICES)

    def deck(self) -> list[Op]:
        return [Op(q, q) for q in CURATE_QUERIES] + [
            Op("ingest", f"ingest/{self._slice}", self._slice)
        ]

    def answers(self, con) -> dict[str, Answer]:
        oracles = all_oracles()
        out = {q: answer(con, oracles[q]) for q in CURATE_QUERIES}
        lo = self._slice * INGEST_SLICE_ROWS
        out[f"ingest/{self._slice}"] = answer(
            con, _INGEST_ORACLE.format(lo=lo, hi=lo + INGEST_READ_ROWS)
        )
        return out

    def run(self, op: Op) -> Outcome:
        return self._ingest(op) if op.name == "ingest" else self._curate(op)

    def _curate(self, op: Op) -> Outcome:
        tr = self.tracer
        path = self.fresh_dir("sink")
        with tr.span("plan.build"):
            df = self._queries[op.name](self.spark, self.data)
        with tr.span("sink.write"):
            sources_io.write_parquet_sized(df, path, row_group_bytes=SINK_ROW_GROUP_BYTES)
        with tr.span("plan.build"):
            back = self.spark.read.parquet(path)
            cols = back.columns
        with tr.span("driver.collect"):
            rows = [tuple(r) for r in back.collect()]
        written = sorted(
            os.path.join(path, f) for f in os.listdir(path) if f.endswith(".parquet")
        )
        return Outcome(cols, rows, df=df, written=written)

    def _ingest(self, op: Op) -> Outcome:
        tr = self.tracer
        lo = op.arg * INGEST_SLICE_ROWS
        path = self.fresh_dir("ingest")
        with tr.span("plan.build"):
            src = (
                load_table(self.spark, self.data, "events")
                .filter((F.col("event_id") >= lo) & (F.col("event_id") < lo + INGEST_SLICE_ROWS))
                .select("event_id", "event_type", "value")
            )
        with tr.span("sink.write"):
            src.write.format("rowgroup_parquet").option("path", path).mode("overwrite").save()
        with tr.span("plan.build"):
            back = (
                self.spark.read.format("rowgroup_parquet").option("path", path).load()
                .filter(F.col("event_id") < lo + INGEST_READ_ROWS)
                .groupBy("event_type")
                .agg(
                    F.count(F.lit(1)).alias("n_events"),
                    F.sum(F.floor(F.col("value") * 100)).alias("sum_value_cents"),
                    F.min("event_id").alias("min_event_id"),
                    F.max("event_id").alias("max_event_id"),
                )
            )
            cols = back.columns
        with tr.span("driver.collect"):
            rows = [tuple(r) for r in back.collect()]
        out = Outcome(cols, rows, df=src, written=pyds.list_part_files(path))
        if tr.current is not None:
            out.extra["pyds_total"] = sum(
                pq.ParquetFile(f).metadata.num_row_groups for f in out.written
            )
            out.extra["pyds_kept"] = sum(
                len(pyds.plan_row_groups(f, _read_bound(op))) for f in out.written
            )
        return out

    def moved_bytes(self, op: Op, outcome: Outcome) -> int:
        if op.name != "ingest":
            return super().moved_bytes(op, outcome)
        back = sum(
            parquet_bytes(f, None, pyds.plan_row_groups(f, _read_bound(op)))
            for f in outcome.written
        )
        return self.input_bytes(op, outcome) + back


WORKLOADS = {w.name: w for w in (ScanLadder, CurateWrite)}
