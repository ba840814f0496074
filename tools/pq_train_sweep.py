"""Recall sweep for the trained PQ codebooks.

Measures recall@TOP_K of `sim_topk_pq` vs the exact-cosine oracle
(`sim_topk_bruteforce`) as a function of Lloyd training rounds, at each
test SF — DuckDB only, so the sweep is independent of the Spark session.
The committed PQ_ITERS = 3 is the knee of this curve: recall@30 went
from 0.667/0.700/0.533 untrained to 0.700/0.800/0.567 at sf0.001/0.01/0.1,
and a fourth round added nothing.

Usage: python tools/pq_train_sweep.py [max_iters]
       python tools/pq_train_sweep.py --samples   (train-sample-size sweep,
       the PQ_TRAIN_N selection evidence — VERDICT r8 #3 / SCALING.md r9)
"""

from __future__ import annotations

import argparse
import sys

import os
import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from parquet_near_storage_compute_spark.operators import similarity as S

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def recall(
    sf_dir: str,
    iters: int = S.PQ_ITERS,
    train_n: int = S.PQ_TRAIN_N,
    emb: str | None = None,
) -> float:
    con = duckdb.connect()
    for t in TABLES:
        src = emb if (t == "embeddings" and emb) else f"{sf_dir}/{t}.parquet"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{src}'")
    # splice the unrolled-training / sample CTE text for (iters, train_n)
    # in place of the committed PQ_ITERS / PQ_TRAIN_N versions
    sql = S.ORACLE_SQL["sim_topk_pq"].replace(
        S._pq_train_ctes(), S._pq_train_ctes(iters)
    ).replace(S._pq_sample_ctes(), S._pq_sample_ctes(train_n))
    exact = set(
        map(
            tuple,
            con.execute(S.ORACLE_SQL["sim_topk_bruteforce"])
            .df()[["query_id", "cand_id"]]
            .values.tolist(),
        )
    )
    pq = set(
        map(
            tuple,
            con.execute(sql).df()[["query_id", "cand_id"]].values.tolist(),
        )
    )
    return len(exact & pq) / len(exact)


def main() -> None:
    # argparse (ADVICE r9): the old in-place argv surgery mishandled
    # repeated flags and flag/positional collisions
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("max_iters", nargs="?", default=None,
                    help="max Lloyd iterations to sweep, or the literal "
                         "'--samples' for the train-sample-size sweep")
    ap.add_argument("--samples", action="store_true",
                    help="train-sample-size sweep (PQ_TRAIN_N evidence)")
    ap.add_argument("--emb", default=None,
                    help="swap the embeddings view for a fixture parquet")
    ns = ap.parse_args()
    emb = ns.emb
    if emb:
        # clustered-fixture mode (VERDICT r8 #4): one corpus, the
        # iters × samples grid that justifies PQ_ITERS / PQ_TRAIN_N there
        print(f"recall@{S.TOP_K} on {emb}")
        print("        " + "".join(f"  it={i}" for i in range(S.PQ_ITERS + 1)))
        row = ["trained "]
        for it in range(S.PQ_ITERS + 1):
            row.append(f" {recall('/root/testdata/sf0.1', it, emb=emb):.3f}")
        print("".join(row))
        sizes = [64, 128, 256, 512, 10**9]
        print("        " + "".join(
            f"  n={'full' if n >= 10**9 else n}" for n in sizes))
        row = ["samples "]
        for n in sizes:
            row.append(
                f" {recall('/root/testdata/sf0.1', train_n=n, emb=emb):.3f}"
            )
        print("".join(row))
        return
    if ns.samples or ns.max_iters == "--samples":
        sizes = [64, 128, 256, 512, 10**9]
        print(f"recall@{S.TOP_K} vs exact cosine, by train-sample size "
              f"(PQ_ITERS={S.PQ_ITERS}; committed PQ_TRAIN_N={S.PQ_TRAIN_N})")
        print("sf      " + "".join(
            f"  n={'full' if n >= 10**9 else n}" for n in sizes))
        for sf in ["0.001", "0.01", "0.1"]:
            row = [f"sf{sf:<6}"]
            for n in sizes:
                row.append(f" {recall(f'/root/testdata/sf{sf}', train_n=n):.3f}")
            print("".join(row))
        return
    max_iters = int(ns.max_iters) if ns.max_iters is not None else 4
    print(f"recall@{S.TOP_K} vs exact cosine (PQ_M={S.PQ_M}, "
          f"grid={S.PQ_GRID}, tmag={S.PQ_TMAG})")
    header = "sf      " + "".join(f"  it={i}" for i in range(max_iters + 1))
    print(header)
    for sf in ["0.001", "0.01", "0.1"]:
        row = [f"sf{sf:<6}"]
        for it in range(max_iters + 1):
            row.append(f" {recall(f'/root/testdata/sf{sf}', it):.3f}")
        print("".join(row))


if __name__ == "__main__":
    main()
