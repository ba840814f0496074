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

Both modes share one scan plan: ``--path`` (a file, a directory of
``*.parquet`` files, or a glob) resolved to its Parquet files, the columns
the query touches (the predicate's and the aggregations', or the
``--columns`` window) and the predicate's prunable comparisons, all from
the grammar's one parse. They differ only in whether Spark runs, so the
planned bytes of an invocation are the same in either mode.

The workload ladder maps the reference's named selectivity levels
(``v1/src/main.rs:83-97``) onto the fact column's thresholds.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import sys

from parquet_near_storage_compute_spark.functions.grammar import (
    plan_aggregation,
    plan_predicate,
)
from parquet_near_storage_compute_spark.operators.scan_agg import AGG_SPECS, LADDER
from parquet_near_storage_compute_spark.plans.metrics import (
    _footer,
    dataset_size,
    footer_bytes,
    measure,
    planned_scan_bytes,
    string_stat_prefixes,
)


def _parquet_files(path: str) -> list[str]:
    """``--path`` as Parquet files: the file itself, the ``*.parquet``
    files under a directory, or the same for each match of a glob."""
    files = []
    for match in [path] if os.path.exists(path) else sorted(glob.glob(path)):
        if os.path.isdir(match):
            pattern = os.path.join(glob.escape(match), "**", "*.parquet")
            files += sorted(glob.glob(pattern, recursive=True))
        elif os.path.isfile(match):
            files.append(match)
    return files


def _refuse(message: str) -> int:
    """A malformed query or a bad column choice: one-line JSON error on
    stderr, exit code 2."""
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

    default_filter = f"{args.column} > {LADDER[args.workload or 'p50']}"
    specs = (
        [(a.strip(), None) for a in args.aggs.split(",")]
        if args.aggs
        else [(s.replace("l_extendedprice", args.column), a) for s, a in AGG_SPECS]
    )
    try:
        pred = plan_predicate(args.filter if args.filter is not None else default_filter)
        aggs = [plan_aggregation(spec, alias) for spec, alias in specs]
    except ValueError as exc:  # the grammar's parse errors
        return _refuse(str(exc))

    # the scan plan: files, accounted columns, prunable comparisons
    files = _parquet_files(args.path)
    if not files:
        return _refuse(f"no parquet files at {args.path}")
    names = list(_footer(files[0]).col_idx)
    touched = pred.columns | {a.column for a in aggs}
    # the touched columns (early projection, v1/src/main.rs:240-254), or
    # EXACTLY the -cc window, which a query may not reach outside of: a
    # silent widening would bend the bytes-vs-N curve
    cols = names[: args.columns] if args.columns is not None else sorted(touched)
    common = set(names).intersection(*(_footer(f).col_idx for f in files[1:]))
    unknown = sorted((touched | set(cols)) - common)
    if unknown:
        return _refuse(f"columns not in the file: {unknown}")
    outside = sorted(touched - set(cols))
    if outside:
        return _refuse(f"columns outside --columns window: {outside}")

    if args.mode == "metadata":
        # v2: no execution at all — footer + surviving chunk accounting
        planned = sum(planned_scan_bytes(f, cols, pred.prunable) for f in files)
        total = dataset_size(files)
        out = {
            "mode": "metadata",
            "planned_bytes": planned,
            "footer_bytes": sum(footer_bytes(f) for f in files),
            "dataset_bytes": total,
            "selectivity_pct": round(100.0 * planned / total, 4),
            # F8: string stats through the 8-byte UTF-8 prefix rule
            "string_stat_prefixes": string_stat_prefixes(*files),
        }
        print(json.dumps(out))
        return 0

    from parquet_near_storage_compute_spark.session import get_spark

    mib = args.read_size_mib
    spark = get_spark(
        app_name="pnsc-cli",
        master=f"local[{args.cpus}]" if args.cpus else None,
        conf={"spark.sql.files.maxPartitionBytes": str(mib << 20)} if mib else None,
    )
    spark.sparkContext.setLogLevel("ERROR")
    out = run_query(spark, files, cols, args.columns is not None, pred, aggs)
    print(json.dumps(out))
    spark.stop()
    return 0


def run_query(
    spark, files: list[str], cols: list[str], window: bool, pred, aggs
) -> dict:
    """v1: run the query over ``files`` once and report its result with
    the M1-M5 metrics; the timed collect is the result. ``window`` scans
    exactly ``cols`` (the ``--columns`` projection)."""
    from pyspark.sql import functions as F

    df = spark.read.parquet(*files)
    if window:
        df = df.select(*cols)
    result = df.filter(F.expr(pred.sql)).agg(*(F.expr(a.sql) for a in aggs))
    m = measure(spark, result, files, cols, pred.prunable)
    return {"mode": "query", "result": [r.asDict() for r in m.result], **m.as_dict()}


if __name__ == "__main__":
    sys.exit(main())
