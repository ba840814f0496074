"""Per-query timer for registry contracts, with optional plan capture.

Usage:
    python tools/opt_measure.py [--tag before] [--plans-dir DIR] \
        [--n 5] [--no-plans] [--clear-cache] query [query ...]

For each named registry query on the corpus in $SPARK_GRAFT_SF_DIR
(default sf0.1) this builds the DataFrame (construction timed separately —
eager probes included), optionally writes ``.explain("formatted")`` to
``<plans-dir>/<name>_<tag>.txt`` (by default under
``tables.scratch_root()``, never the checkout), runs one warm run through
the noop sink (reported as ``warm``, excluded from the samples: warm-up
exclusion, M7), then N timed noop runs (best + all samples reported).
The session is ``get_spark`` on local[$SPARK_GRAFT_CPUS] (default 32),
which sets the shuffle width to the task slots. One JSON line per query
on stdout.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--tag", default="before")
    ap.add_argument("--plans-dir", default=None)
    ap.add_argument("--n", type=int, default=5)
    ap.add_argument("--no-plans", action="store_true")
    ap.add_argument("--clear-cache", action="store_true",
                    help="spark.catalog.clearCache() before each query "
                    "(the __spark_entry__ _fresh_cache discipline)")
    args = ap.parse_args()

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")

    from parquet_near_storage_compute_spark.registry import all_queries
    from parquet_near_storage_compute_spark.session import get_spark
    from parquet_near_storage_compute_spark.tables import scratch_root

    spark = get_spark(app_name="pnsc-opt-measure", master=f"local[{cpus}]")
    spark.sparkContext.setLogLevel("ERROR")
    # session warm-up: the first construction isn't charged for
    # JVM/py4j/catalog first-touch
    spark.range(8).selectExpr("id % 2 AS k").groupBy("k").count().collect()

    queries = all_queries()
    plans_dir = args.plans_dir or os.path.join(scratch_root(), "opt_measure_plans")
    if not args.no_plans:
        os.makedirs(plans_dir, exist_ok=True)

    for name in args.queries:
        if name not in queries:
            print(json.dumps({"query": name, "error": "unknown"}))
            continue
        if args.clear_cache:
            spark.catalog.clearCache()
        spark.sparkContext.setJobDescription(f"opt_measure:{name}:construct")
        t0 = time.perf_counter()
        df = queries[name](spark, sf_dir)
        construct = time.perf_counter() - t0
        if not args.no_plans:
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            with open(
                os.path.join(plans_dir, f"{name}_{args.tag}.txt"), "w"
            ) as fh:
                fh.write(plan)
        spark.sparkContext.setJobDescription(f"opt_measure:{name}:warmup")
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        warm = time.perf_counter() - t0
        samples = []
        for i in range(args.n):
            spark.sparkContext.setJobDescription(f"opt_measure:{name}:run{i}")
            t0 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            samples.append(round(time.perf_counter() - t0, 4))
        print(
            json.dumps(
                {
                    "query": name,
                    "best": min(samples),
                    "samples": samples,
                    "warm": round(warm, 4),
                    "construct": round(construct, 4),
                    "sf_dir": sf_dir,
                    "tag": args.tag,
                },
                separators=(",", ":"),
            )
        )
        sys.stdout.flush()
    spark.stop()


if __name__ == "__main__":
    main()
