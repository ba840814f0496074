"""CLI parity with the reference engines.

v1 (``v1/src/main.rs:46-116``): ``-p path -s read_size_mib -t tasks
-w workload -c column_count`` → scan→prune→filter→aggregate, print metrics.
v2 (``v2/src/main.rs:57-98``): path + workload → metadata-only selective
byte-range accounting.

Here:

  python -m parquet_near_storage_compute_spark.cli \
      --path /root/testdata/sf0.1/lineitem.parquet \
      --workload real --mode query      # v1: execute + metrics
      --mode metadata                   # v2: planned-bytes accounting only
      --filter "l_extendedprice > 53000" --aggs "SUM(l_quantity),..."

The workload ladder maps the reference's named selectivity levels
(``v1/src/main.rs:83-97``) onto the fact column's thresholds.
"""

from __future__ import annotations

import argparse
import json
import sys

from parquet_near_storage_compute_spark.functions.grammar import (
    parse_aggregations,
    parse_predicate,
)
from parquet_near_storage_compute_spark.operators.scan_agg import AGG_SPECS, LADDER
from parquet_near_storage_compute_spark.plans.metrics import (
    ScanMetrics,
    dataset_size,
    footer_bytes,
    planned_scan_bytes,
    run_to_completion,
    string_stat_prefixes,
)


def _parse_filter_for_pruning(expr: str) -> list[tuple[str, str, float]]:
    """Extract simple top-level AND'ed comparisons for metadata pruning
    (the v2 grammar is exactly this shape, ``v2/src/main.rs:737``)."""
    import re

    out = []
    for part in re.split(r"(?i)\s+and\s+", expr):
        m = re.match(
            r"^\s*([A-Za-z0-9_]+)\s*(<=|>=|==|<|>)\s*(-?[0-9.]+)\s*$", part
        )
        if m:
            out.append((m.group(1), m.group(2), float(m.group(3))))
    return out


def _refuse(message: str) -> int:
    """A bad column choice: one-line JSON error on stderr, exit code 2."""
    print(json.dumps({"error": message}), file=sys.stderr)
    return 2


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--path", "-p", required=True, help="parquet file/dir/glob")
    ap.add_argument(
        "--workload",
        "-w",
        choices=sorted(LADDER),
        help="named selectivity level (sets the default filter threshold)",
    )
    ap.add_argument("--filter", "-f", help="predicate in the v1 mini-grammar")
    ap.add_argument(
        "--aggs",
        "-a",
        help="comma-separated aggregations, e.g. 'SUM(l_quantity),AVG(l_quantity)'",
    )
    ap.add_argument(
        "--column",
        "-c",
        default="l_extendedprice",
        help="fact column for the default workload query",
    )
    ap.add_argument(
        "--columns",
        "-cc",
        type=int,
        default=None,
        help="scan exactly the first N schema columns (the v1 -cc/--columns "
        "projection-width axis, v1/src/main.rs:103-109,209-212); the filter "
        "and aggregate columns must lie within the first N",
    )
    ap.add_argument(
        "--mode",
        choices=["query", "metadata"],
        default="query",
        help="query = v1 (execute + metrics); metadata = v2 (planned bytes only)",
    )
    ap.add_argument(
        "--cpus",
        "--tasks",
        "-t",
        dest="cpus",
        type=int,
        default=None,
        help="parallel task count (v1 -t/--tasks): local[N], whose N task "
        "slots also set the shuffle width",
    )
    ap.add_argument(
        "--read-size-mib",
        "-s",
        type=int,
        default=None,
        help="scan batch budget in MiB (v1 -s/--size, default 4): maps to "
        "spark.sql.files.maxPartitionBytes, the per-task scan-range size",
    )
    args = ap.parse_args(argv)

    filter_expr = args.filter
    if filter_expr is None:
        threshold = LADDER[args.workload or "p50"]
        filter_expr = f"{args.column} > {threshold}"

    pruning_pred = _parse_filter_for_pruning(filter_expr)

    if args.mode == "metadata":
        # v2: no execution at all — footer + surviving chunk accounting.
        # --columns (the v1 -cc axis) applies here too (r8, VERDICT r7
        # #4): the accounted scan set is the first N schema columns, read
        # footer-only — the v2 half of the projection-width experiment.
        import pyarrow.parquet as _pq

        meta = _pq.ParquetFile(args.path).metadata
        names = [meta.schema.column(i).name for i in range(meta.num_columns)]
        cols = [args.column] if args.column else None
        unknown = sorted(
            ({c for c, _, _ in pruning_pred} | set(cols or [])) - set(names)
        )
        if unknown:
            return _refuse(f"columns not in the file: {unknown}")
        if args.columns is not None:
            cols = names[: args.columns]
            missing = sorted({c for c, _, _ in pruning_pred} - set(cols))
            if missing:
                return _refuse(f"columns outside --columns window: {missing}")
        planned = planned_scan_bytes(args.path, cols, pruning_pred)
        total = dataset_size([args.path])
        print(
            json.dumps(
                {
                    "mode": "metadata",
                    "planned_bytes": planned,
                    "footer_bytes": footer_bytes(args.path),
                    "dataset_bytes": total,
                    "selectivity_pct": round(100.0 * planned / total, 4),
                    # F8: string stats through the 8-byte UTF-8 prefix rule
                    "string_stat_prefixes": string_stat_prefixes(args.path),
                }
            )
        )
        return 0

    from parquet_near_storage_compute_spark.session import get_spark

    conf = {}
    if args.read_size_mib:
        conf["spark.sql.files.maxPartitionBytes"] = str(
            args.read_size_mib * 1024 * 1024
        )
    spark = get_spark(
        app_name="pnsc-cli",
        master=f"local[{args.cpus}]" if args.cpus else None,
        conf=conf or None,
    )
    spark.sparkContext.setLogLevel("ERROR")
    df = spark.read.parquet(args.path)
    scan_cols: list[str] | None = None
    if args.columns is not None:
        # v1 parity: the scan set is EXACTLY the first N schema columns —
        # the projection-width experiment axis. Like the reference, a query
        # touching a column outside the window is an error, not a silent
        # widening (which would bend the bytes-vs-N curve).
        scan_cols = df.columns[: args.columns]
        df = df.select(*scan_cols)
    pred = parse_predicate(filter_expr)
    if args.aggs:
        aggs = parse_aggregations([a.strip() for a in args.aggs.split(",")])
    else:
        aggs = parse_aggregations(
            [(spec.replace("l_extendedprice", args.column), alias)
             for spec, alias in AGG_SPECS]
        )
    # byte accounting over the columns the query actually touches (early
    # projection, v1/src/main.rs:240-254): filter ∪ aggregate columns
    import re as _re

    touched = {c for c, _, _ in pruning_pred}
    for spec in args.aggs.split(",") if args.aggs else [s for s, _ in AGG_SPECS]:
        m = _re.search(r"\(\s*([A-Za-z0-9_]+)\s*\)", spec)
        if m:
            touched.add(m.group(1).replace("l_extendedprice", args.column))
    available = set(df.columns)
    if scan_cols is not None:
        missing = sorted(touched - set(scan_cols))
        if missing:
            spark.stop()
            return _refuse(f"columns outside --columns window: {missing}")

    result = df.filter(pred).agg(*aggs)
    seconds = run_to_completion(result)
    rows = [r.asDict() for r in result.collect()]
    if scan_cols is not None:
        planned = planned_scan_bytes(args.path, scan_cols, pruning_pred)
    else:
        planned = planned_scan_bytes(
            args.path, sorted(touched & available) or None, pruning_pred
        )
    m = ScanMetrics(
        bytes_read=planned,
        seconds=seconds,
        rows=len(rows),
        dataset_bytes=dataset_size([args.path]),
    )
    print(json.dumps({"mode": "query", "result": rows, **m.as_dict()}))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
