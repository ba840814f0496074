"""Vector primitives over ``array<float>`` embedding columns.

All math runs through native higher-order functions (``zip_with`` +
``aggregate``) in double precision with deterministic left-to-right
summation — JVM-side, codegen-friendly, and bit-comparable with DuckDB's
``list_dot_product`` on ``DOUBLE[]`` operands.

Like ``functions/text.py``, each helper takes and returns Spark SQL text:
operands are column names or SQL expressions, and the caller wraps each
output column in one ``F.expr`` / ``selectExpr``. ``lsh_bucket`` over four
64-dim planes is one string, where its ``Column`` tree took 256 ``F.lit``
calls and a py4j round trip per node.

The reference's type system is scalar-only (SURVEY.md §1.3); embeddings are
the north-star extension surface (BASELINE.json).
"""

from __future__ import annotations

import hashlib

from parquet_near_storage_compute_spark.functions.sql import sql_double


def as_double(vec: str) -> str:
    return f"CAST({vec} AS ARRAY<DOUBLE>)"


def dot(a: str, b: str) -> str:
    """Σ aᵢbᵢ, sequential left fold in double.

    KEEP THE FOLD (r13 measured negative, VERDICT r12 #3): unrolling the
    64-dim fold into a chained codegen projection
    ``((0.0 + a[0]·b[0]) + a[1]·b[1]) + …`` is bit-identical (100 k-pair
    differential, 0 mismatches) but 1.4–4× SLOWER on every consumer —
    isolated best-of-5 at sf0.1: sim_topk_lsh 0.34→1.97 s, sim_knn_join
    0.75→2.82, sim_dedup_decisions 1.24→5.06, dedup_semantic_clusters
    0.88→1.88, sim_topk_prefix_rerank 0.27→0.46, sim_topk_bruteforce
    0.44→0.63, with construction 2–3× worse: the unrolled physical plans
    spelled the 64-term chain inline in every Filter and Project using it
    (3× the plan text on sim_topk_lsh). The 64-term tree emits per-term
    null-check branches and re-evaluates getItem per element (literal
    plane arrays re-materialize per access in lsh_bucket), blowing past
    JIT method limits, while this HOF fold runs one tight primitive loop.
    The per-row constant, not fixed overhead, is what lost — so the
    verdict does NOT flip at larger SFs."""
    return (
        f"aggregate(zip_with({a}, {b}, (_x, _y) -> _x * _y), "
        f"{sql_double(0.0)}, (_acc, _v) -> _acc + _v)"
    )


def norm(a: str) -> str:
    return f"sqrt({dot(a, a)})"


def cosine(a: str, b: str) -> str:
    return f"({dot(a, b)} / ({norm(a)} * {norm(b)}))"


def random_hyperplanes(n_planes: int, dim: int) -> list[list[float]]:
    """Deterministic ±1 hyperplanes for sign-LSH, derived from md5 so any
    engine (or the DuckDB oracle) can re-derive them: plane p, dim d →
    parity of first hex char of md5('p,d')."""
    planes: list[list[float]] = []
    for p in range(n_planes):
        row = []
        for d in range(dim):
            h = hashlib.md5(f"{p},{d}".encode()).hexdigest()
            row.append(1.0 if ord(h[0]) % 2 == 1 else -1.0)
        planes.append(row)
    return planes


def plane_literal(plane: list[float]) -> str:
    return f"array({', '.join(sql_double(float(v)) for v in plane)})"


def lsh_bucket(vec: str, planes: list[list[float]]) -> str:
    """Sign-LSH bucket id: bit p = (vec · plane_p >= 0), packed little-endian.

    Pure per-row expression — no shuffle, no UDF; the planes are constant
    literals (broadcast for free inside the plan)."""
    bucket = "CAST(0 AS BIGINT)"
    for p, plane in enumerate(planes):
        bit = f"CAST(({dot(vec, plane_literal(plane))} >= 0) AS BIGINT)"
        bucket = f"({bucket} + ({bit} * {2**p}))"
    return bucket


def sql_plane_literal(plane: list[float]) -> str:
    """The same plane as a DuckDB list literal (for oracle SQL)."""
    return "[" + ", ".join(str(v) for v in plane) + "]"
