"""Array / string scalar-function surface (SURVEY.md §2.8: the reference has
no string/array functions; the extension promise is the built-in set) plus
the iterative-algorithm representative (driver-loop k-means).

All per-row, JVM-side, embarrassingly parallel.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from parquet_near_storage_compute_spark.functions.vectors import as_double, dot, norm
from parquet_near_storage_compute_spark.tables import fan_out, load_table


def array_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array function cluster over embeddings: slice/size/element_at/
    aggregate/filter/sort — the ArrayType surface the reference's
    scalar-only type system lacks (SURVEY §1.3)."""
    emb = load_table(spark, sf_dir, "embeddings")
    v = F.expr(as_double("embedding"))
    return emb.select(
        "vec_id",
        F.size(v).alias("dim"),
        F.element_at(v, 1).alias("first_val"),
        F.aggregate(F.slice(v, 1, 5), F.lit(0.0), lambda a, x: a + x).alias(
            "head5_sum"
        ),
        F.array_max(v).alias("max_val"),
        F.array_min(v).alias("min_val"),
        F.size(F.filter(v, lambda x: x > 0)).alias("n_positive"),
        F.element_at(F.array_sort(v), -1).alias("sorted_last"),
    )


def string_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String function cluster over documents: case, trim/pad, substring,
    replace, split/concat, coalesce/greatest chains."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.upper(F.substring("text", 1, 10)).alias("head_upper"),
        F.length(F.regexp_replace("text", "[aeiou]", "")).alias("len_novowels"),
        F.lpad("lang", 5, "_").alias("lang_padded"),
        F.concat_ws("|", "lang", "source").alias("lang_source"),
        F.coalesce(F.nullif("lang", F.lit("en")), F.lit("default")).alias(
            "lang_or_default"
        ),
        F.greatest(F.length("text"), F.col("n_chars").cast("int")).alias(
            "max_len"
        ),
        F.reverse(F.substring("source", 1, 4)).alias("source_rev"),
    )


K_CLUSTERS = 5
KMEANS_ITERS = 3


def kmeans_lite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterative algorithm representative: k-means on embeddings, driver
    loop over DataFrame ops with NO data on the driver. Deterministic:
    cells are seeded from the k lowest vec_ids in vec_id order (cell =
    rank, not collect order); ``KMEANS_ITERS`` assign→recompute rounds.

    Per iteration: the k-row codebook is broadcast-joined against the
    vectors (narrow assign pass, map-side ``max_by`` pick), then centroids
    recompute as a (cell, pos) aggregate — the standard distributed k-means
    shuffle profile. The codebook is ``localCheckpoint``ed each round so
    lineage stays O(1) per iteration instead of doubling; only the k-row
    codebook ever materializes, never the data.

    Oracle-checkable (round 3): ``KMEANS_ITERS`` is a fixed constant, so the
    fixpoint unrolls into ``_kmeans_oracle_sql()`` — the same seed rule,
    assign (max cosine, ties to lowest cell) and element-wise-mean recompute
    as nested DuckDB CTEs. Cosine terms are bit-identical across engines
    (sequential-fold dot on DOUBLE[], see functions/vectors.py); centroid
    means may differ in the last ulp (summation order), but the output is
    integer cluster COUNTS and cosine margins between best/second-best cells
    dwarf ulp noise, so the hash gate is stable. tests/test_kmeans.py keeps
    the engine-side determinism check.
    """
    from pyspark.sql import Window

    emb = load_table(spark, sf_dir, "embeddings")
    v = fan_out(emb).select("vec_id", F.expr(f"{as_double('embedding')} AS v"))
    v = v.withColumn("nrm", F.expr(norm("v")))

    # deterministic init: k lowest vec_ids, cell index = rank by vec_id
    cents = (
        v.orderBy("vec_id")
        .limit(K_CLUSTERS)
        .withColumn(
            "cell", (F.row_number().over(Window.orderBy("vec_id")) - 1).cast("int")
        )
        .select("cell", F.col("v").alias("centroid"))
        .localCheckpoint()
    )

    assigned = None
    for _ in range(KMEANS_ITERS):
        scored = v.crossJoin(F.broadcast(cents)).select(
            "vec_id",
            "v",
            "cell",
            (
                F.expr(dot("v", "centroid"))
                / (F.col("nrm") * F.expr(norm("centroid")))
            ).alias("sim"),
        )
        # best cell per vector: max cosine, ties to the lowest cell —
        # partial-aggregable, unlike a row_number window
        assigned = scored.groupBy("vec_id").agg(
            F.max_by(
                "cell", F.struct(F.col("sim").alias("s"), (-F.col("cell")).alias("nc"))
            ).alias("cell"),
            F.first("v").alias("v"),
        )
        # recompute centroids: element-wise mean per cell; cells that lost
        # all members keep their previous centroid
        new_cents = (
            assigned.select("cell", F.posexplode("v"))
            .groupBy("cell", "pos")
            .agg(F.avg("col").alias("c"))
            .groupBy("cell")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "c"))).alias("pc"))
            .select(
                "cell", F.transform("pc", lambda x: x.getField("c")).alias("centroid")
            )
        )
        cents = (
            cents.alias("old")
            .join(new_cents.alias("new"), "cell", "left")
            .select(
                "cell",
                F.coalesce(F.col("new.centroid"), F.col("old.centroid")).alias(
                    "centroid"
                ),
            )
            .localCheckpoint()
        )

    return (
        assigned.groupBy("cell")
        .agg(F.count(F.lit(1)).alias("n_vectors"))
        .orderBy("cell")
    )


EMBEDDING_DIM = 64


def _kmeans_oracle_sql(k: int = K_CLUSTERS, iters: int = KMEANS_ITERS,
                       dim: int = EMBEDDING_DIM) -> str:
    """Unroll the fixed-iteration Lloyd loop into one DuckDB query.

    Mirrors ``kmeans_lite`` stage for stage: cents0 = k lowest vec_ids in
    rank order; per iteration assign (max cosine, ties → lowest cell) then
    element-wise mean per cell with empty cells keeping their previous
    centroid; output = cluster sizes of the FINAL assignment (the loop
    assigns before it recomputes, so assign{iters} runs against
    cents{iters-1})."""
    sim = (
        "list_dot_product(a.v, c.centroid) / "
        "(sqrt(list_dot_product(a.v, a.v)) * "
        "sqrt(list_dot_product(c.centroid, c.centroid)))"
    )
    parts = [
        f"""
        WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        cents0 AS (
            SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT)
                       AS cell,
                   v AS centroid
            FROM (SELECT vec_id, v FROM v ORDER BY vec_id LIMIT {k})
        )"""
    ]
    prev = "cents0"
    for i in range(1, iters + 1):
        parts.append(
            f""",
        assign{i} AS (
            SELECT vec_id, v, cell FROM (
                SELECT a.vec_id, a.v, c.cell,
                       row_number() OVER (
                           PARTITION BY a.vec_id
                           ORDER BY {sim} DESC, c.cell ASC) AS rn
                FROM v a CROSS JOIN {prev} c)
            WHERE rn = 1
        ),
        cmeans{i} AS (
            SELECT cell, pos, avg(val) AS c
            FROM (SELECT cell, unnest(v) AS val,
                         unnest(generate_series(1, {dim})) AS pos
                  FROM assign{i})
            GROUP BY cell, pos
        ),
        cents{i} AS (
            SELECT p.cell, coalesce(n.centroid, p.centroid) AS centroid
            FROM {prev} p LEFT JOIN (
                SELECT cell, list(c ORDER BY pos) AS centroid
                FROM cmeans{i} GROUP BY cell) n USING (cell)
        )"""
        )
        prev = f"cents{i}"
    parts.append(
        f"""
        SELECT cell, CAST(count(*) AS BIGINT) AS n_vectors
        FROM assign{iters} GROUP BY cell ORDER BY cell"""
    )
    return "".join(parts)


QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "scalar_array_ops": array_ops,
    "scalar_string_ops": string_ops,
    "iter_kmeans_lite": kmeans_lite,
}

ORACLE_SQL: dict[str, str] = {
    "scalar_array_ops": """
        WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
        SELECT vec_id,
               CAST(len(v) AS INT) AS dim,
               CAST(v[1] AS DOUBLE) AS first_val,
               CAST(list_sum(v[1:5]) AS DOUBLE) AS head5_sum,
               CAST(list_max(v) AS DOUBLE) AS max_val,
               CAST(list_min(v) AS DOUBLE) AS min_val,
               CAST(len(list_filter(v, x -> x > 0)) AS INT) AS n_positive,
               CAST(list_sort(v)[-1] AS DOUBLE) AS sorted_last
        FROM v
    """,
    "scalar_string_ops": """
        SELECT doc_id,
               upper(substr(text, 1, 10)) AS head_upper,
               CAST(length(regexp_replace(text, '[aeiou]', '', 'g')) AS INT)
                 AS len_novowels,
               lpad(lang, 5, '_') AS lang_padded,
               concat_ws('|', lang, source) AS lang_source,
               coalesce(nullif(lang, 'en'), 'default') AS lang_or_default,
               CAST(greatest(length(text), n_chars) AS INT) AS max_len,
               reverse(substr(source, 1, 4)) AS source_rev
        FROM documents
    """,
    # Fixed-iteration Lloyd unrolls into plain SQL — see _kmeans_oracle_sql.
    "iter_kmeans_lite": _kmeans_oracle_sql(),
}
