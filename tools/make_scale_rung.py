"""Materialize a persistent sf>=1 scaling rung by replication (VERDICT r12 #2).

At sf0.1 the whole bench sits at the stage-scheduling floor: the driver's
8-core run beat its 32-core run (31.4 vs 47.0 s), so parallelism is
unmeasurable there. This tool builds a larger corpus ONCE, on disk, so the
8-vs-32-core subset runs (tools/opt_measure.py with SPARK_GRAFT_SF_DIR
pointed here) measure compute scaling instead of scheduling overhead.

Replication law (the SCALE_EVIDENCE.json law, unchanged): replica r remaps
ids by +r*20_000_000 (a multiple of EVAL_MOD so train/eval classes are
preserved) and suffixes document text with ' r{r}' for r>0 — every document
gains REPS near-identical copies (the adversarial regime the LSH bucket cap
exists for); embeddings are replicated VERBATIM under new vec_ids (the
exact-duplicate regime knn_join's value collapse exists for). Fact tables
(lineitem, orders, events, documents, embeddings) scale by REPS; dimension
tables (region, nation, customer, supplier, part) are copied verbatim —
facts grow, dimensions don't, the usual star-schema scaling regime. FK
columns on facts (l_partkey, o_custkey, user_id...) are kept VERBATIM so
join fan-out per dimension row scales linearly and skew shape is preserved.

This is measurement infrastructure, not result caching: nothing the bench
or oracle reads at the driver's SFs is touched, and no query result is
stored — only input parquet at a new scale.

Usage:
    python tools/make_scale_rung.py [--reps 10] [--out /root/testdata_rungs/sf1]
"""

from __future__ import annotations

import argparse
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

ID_STRIDE = 20_000_000  # multiple of EVAL_MOD (the SCALE_EVIDENCE.json law)

#: fact table -> columns to stride per replica (unique keys only; FKs and
#: value columns stay verbatim so per-dimension fan-out scales linearly)
FACT_KEYS = {
    "lineitem": ("l_orderkey",),
    "orders": ("o_orderkey",),
    "events": ("event_id",),
    "documents": ("doc_id",),
    "embeddings": ("vec_id",),
}
DIM_TABLES = ("region", "nation", "customer", "supplier", "part")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--reps", type=int, default=10)
    ap.add_argument("--base", default="/root/testdata/sf0.1")
    ap.add_argument("--out", default="/root/testdata_rungs/sf1")
    args = ap.parse_args()

    import pyspark.sql.functions as F

    from parquet_near_storage_compute_spark.session import get_spark
    from parquet_near_storage_compute_spark.tables import load_table

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_spark(app_name="pnsc-make-scale-rung", master=f"local[{cpus}]")
    spark.sparkContext.setLogLevel("ERROR")
    os.makedirs(args.out, exist_ok=True)

    t0 = time.time()
    for name, keys in FACT_KEYS.items():
        dst = os.path.join(args.out, f"{name}.parquet")
        base = load_table(spark, args.base, name)
        reps = None
        for r in range(args.reps):
            part = base
            for k in keys:
                part = part.withColumn(k, F.col(k) + F.lit(r * ID_STRIDE))
            if name == "documents" and r > 0:
                part = part.withColumn(
                    "text", F.concat(F.col("text"), F.lit(f" r{r}"))
                )
            reps = part if reps is None else reps.unionByName(part)
        reps.repartition(32).write.mode("overwrite").parquet(dst)
        print(f"{name}: x{args.reps} -> {dst}", flush=True)
    for name in DIM_TABLES:
        dst = os.path.join(args.out, f"{name}.parquet")
        load_table(spark, args.base, name).write.mode("overwrite").parquet(dst)
        print(f"{name}: verbatim -> {dst}", flush=True)
    print(f"rung ready in {time.time() - t0:.1f}s: {args.out}")
    spark.stop()


if __name__ == "__main__":
    main()
