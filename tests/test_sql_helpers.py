"""Plan equality for the SQL-text expression helpers and the builders
written with them.

``functions/text.py`` and ``functions/vectors.py`` return Spark SQL text,
and the curation builders in ``dedup`` / ``similarity`` / ``textops`` are
written as ``selectExpr`` / ``F.expr`` text. Each case here checks that the
optimized plan equals the one the equivalent ``Column`` tree gives (the
helpers' previous output form), with expression ids and lambda variable
names normalised, so the rewrite changes what crosses the Python↔JVM
boundary and nothing the optimizer sees.
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from parquet_near_storage_compute_spark.functions import text as T
from parquet_near_storage_compute_spark.functions import vectors as V
from parquet_near_storage_compute_spark.functions.sql import (
    sql_double,
    sql_ident,
    sql_name,
    sql_string,
)
from parquet_near_storage_compute_spark.operators import dedup, similarity, textops
from parquet_near_storage_compute_spark.tables import fan_out, load_table

_LAMBDA_RE = re.compile(r"lambda \w+(#\d+)")


def _optimized(df) -> str:
    """Optimized plan with expression ids and lambda variable names
    normalised: each lambda variable (one expression id) is renamed by
    its order of first appearance."""
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    names: dict[str, str] = {}
    plan = _LAMBDA_RE.sub(
        lambda m: "lambda " + names.setdefault(m.group(1), f"v{len(names)}"), plan
    )
    return re.sub(r"#\d+", "#", plan)


def _same(got, want) -> None:
    assert got.schema == want.schema
    assert _optimized(got) == _optimized(want)


# ------------------------------------------------------- Column-tree forms
# The helpers as they were written with Column trees: the reference each
# SQL-text helper must reproduce.


def _words(c):
    return F.split(c, " ")


def _shingles(ws, n=3):
    return F.when(
        F.size(ws) >= n,
        F.transform(
            F.sequence(F.lit(0), F.size(ws) - n),
            lambda i: F.concat_ws(" ", F.slice(ws, i + 1, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))


def _seeded_hash(seed, token):
    return F.md5(F.concat(F.lit(f"{seed}:"), token))


def _minhash_slice(j, token):
    return F.substring(_seeded_hash(j // 4, token), (j % 4) * 8 + 1, 8)


def _minhash_aggs(token_col, k):
    return [F.min(_minhash_slice(j, F.col(token_col))).alias(f"mh{j}") for j in range(k)]


def _attach_minhash(df, sset_col, k):
    def _digest(g):
        return lambda s: F.md5(F.concat(F.lit(f"{g}:"), s))

    def _slice(off):
        return lambda x: F.substring(x, off, 8)

    groups = (k + 3) // 4
    out = df
    for g in range(groups):
        out = out.withColumn(f"_mhd{g}", F.transform(F.col(sset_col), _digest(g)))
    for j in range(k):
        out = out.withColumn(
            f"mh{j}",
            F.array_min(F.transform(F.col(f"_mhd{j // 4}"), _slice((j % 4) * 8 + 1))),
        )
    return out.drop(*[f"_mhd{g}" for g in range(groups)])


def _band_hash(cols, band, rows):
    return F.md5(F.concat_ws("|", *[F.col(cols[band * rows + r]) for r in range(rows)]))


def _char_ngrams(text, n=8):
    return F.when(
        F.length(text) >= n,
        F.transform(
            F.sequence(F.lit(0), F.length(text) - n),
            lambda i: F.substring(text, i + 1, n),
        ),
    ).otherwise(F.array().cast("array<string>"))


def _count_in(ws, vocab):
    arr = F.array(*[F.lit(w) for w in vocab])
    return F.size(F.filter(ws, lambda w: F.array_contains(arr, w)))


def _dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v)


def _norm(a):
    return F.sqrt(_dot(a, a))


def _plane_literal(plane):
    return F.array(*[F.lit(v) for v in plane])


def _lsh_bucket(vec, planes):
    bucket = F.lit(0).cast("long")
    for p, plane in enumerate(planes):
        bucket = bucket + (_dot(vec, _plane_literal(plane)) >= 0).cast("long") * (2**p)
    return bucket


# ------------------------------------------------------------- fixtures


@pytest.fixture(scope="module")
def docs(spark):
    """Text rows of every length class the helpers branch on."""
    return spark.createDataFrame(
        [(1, "a b c d e"), (2, "too short"), (3, ""), (4, "the cat and the hat in a box")],
        "doc_id bigint, text string",
    ).selectExpr("*", "split(text, ' ') AS ws", "array_distinct(split(text, ' ')) AS sset")


@pytest.fixture(scope="module")
def vecs(spark):
    """Two float vectors per row, as the embeddings table stores them."""
    return spark.range(4).selectExpr(
        "id AS vec_id",
        "CAST(transform(sequence(1, 64), _i -> (_i * (id + 1)) % 7 - 3.0) AS ARRAY<FLOAT>) AS emb",
        "CAST(transform(sequence(1, 64), _i -> (_i + id) % 5 - 2.0) AS ARRAY<FLOAT>) AS other",
    )


# ------------------------------------------------------------- renderers


def test_renderers():
    assert sql_string("it's a \\ path") == "'it\\'s a \\\\ path'"
    assert sql_ident("st.x`y") == "`st`.`x``y`"
    assert sql_name("a.b`c") == "`a.b``c`"
    assert sql_double(-0.5) == "-0.5D"
    assert sql_double("5.") == "5.D"
    with pytest.raises(ValueError):
        sql_double(float("nan"))


# --------------------------------------------------------------- helpers

_TEXT_CASES = [
    ("words", lambda: T.words("text"), lambda: _words(F.col("text"))),
    ("words_of_expr", lambda: T.words("lower(text)"), lambda: _words(F.lower("text"))),
    ("shingles", lambda: T.shingles(T.words("text"), 3), lambda: _shingles(_words(F.col("text")), 3)),
    ("shingles_col", lambda: T.shingles("ws", 2), lambda: _shingles(F.col("ws"), 2)),
    ("distinct_shingles", lambda: f"array_distinct({T.shingles(T.words('text'))})",
     lambda: F.array_distinct(_shingles(_words(F.col("text"))))),
    ("seeded_hash", lambda: T.seeded_hash(5, "text"), lambda: _seeded_hash(5, F.col("text"))),
    ("minhash_slice", lambda: T.minhash_slice(6, "text"), lambda: _minhash_slice(6, F.col("text"))),
    ("char_ngrams", lambda: T.char_ngrams("text", 4), lambda: _char_ngrams(F.col("text"), 4)),
    ("count_in", lambda: T.count_in("ws", T.STOPWORDS_EN),
     lambda: _count_in(F.col("ws"), T.STOPWORDS_EN)),
    ("count_in_quote", lambda: T.count_in("ws", ("it's", "a\\b")),
     lambda: _count_in(F.col("ws"), ("it's", "a\\b"))),
    ("band_hash", lambda: T.band_hash(["ws", "text", "sset"], 1, 1),
     lambda: _band_hash(["ws", "text", "sset"], 1, 1)),
]


@pytest.mark.parametrize("name,sql,build", _TEXT_CASES, ids=[c[0] for c in _TEXT_CASES])
def test_text_helper_plan_equals_column_tree(docs, name, sql, build):
    _same(docs.select("doc_id", F.expr(sql()).alias("out")), docs.select("doc_id", build().alias("out")))


def test_minhash_aggs_plan_equals_column_tree(docs):
    tokens = docs.select("doc_id", F.explode("sset").alias("s"))
    _same(
        tokens.groupBy("doc_id").agg(*[F.expr(a) for a in T.minhash_aggs("s", 8)]),
        tokens.groupBy("doc_id").agg(*_minhash_aggs("s", 8)),
    )


@pytest.mark.parametrize("k", [8, 6])
def test_attach_minhash_plan_equals_column_tree(docs, k):
    base = docs.select("doc_id", "sset")
    _same(T.attach_minhash(base, "sset", k), _attach_minhash(base, "sset", k))


_PLANES = V.random_hyperplanes(4, 64)

_VECTOR_CASES = [
    ("as_double", lambda: V.as_double("emb"), lambda: F.col("emb").cast("array<double>")),
    ("dot", lambda: V.dot(V.as_double("emb"), V.as_double("other")),
     lambda: _dot(F.col("emb").cast("array<double>"), F.col("other").cast("array<double>"))),
    ("norm", lambda: V.norm("emb"), lambda: _norm(F.col("emb"))),
    ("cosine", lambda: V.cosine("emb", "other"),
     lambda: _dot(F.col("emb"), F.col("other")) / (_norm(F.col("emb")) * _norm(F.col("other")))),
    ("plane_literal", lambda: V.plane_literal(_PLANES[0]), lambda: _plane_literal(_PLANES[0])),
    ("lsh_bucket", lambda: V.lsh_bucket(V.as_double("emb"), _PLANES),
     lambda: _lsh_bucket(F.col("emb").cast("array<double>"), _PLANES)),
]


@pytest.mark.parametrize("name,sql,build", _VECTOR_CASES, ids=[c[0] for c in _VECTOR_CASES])
def test_vector_helper_plan_equals_column_tree(vecs, name, sql, build):
    _same(vecs.select("vec_id", F.expr(sql()).alias("out")), vecs.select("vec_id", build().alias("out")))


def test_lsh_bucket_values(vecs):
    """The bucket ids themselves, against the planes' signs in Python."""
    rows = vecs.select(
        "emb", F.expr(V.lsh_bucket(V.as_double("emb"), _PLANES)).alias("b")
    ).collect()
    for r in rows:
        want = sum(
            (sum(float(x) * y for x, y in zip(r["emb"], plane)) >= 0) << p
            for p, plane in enumerate(_PLANES)
        )
        assert r["b"] == want


def test_lambda_variable_does_not_shadow_column(spark):
    """Operand text can sit inside a helper's lambda body (``shingles``,
    ``char_ngrams``): named ``_i``, the lambda variable cannot capture an
    operand column called ``i``."""
    df = spark.createDataFrame(
        [(["a", "b", "c"], "abcd", 7)], "i array<string>, x string, w int"
    )
    row = df.selectExpr(
        f"{T.shingles('i', 2)} AS sh",
        f"{T.char_ngrams('x', 3)} AS ng",
        f"{T.count_in('i', ('a', 'c'))} AS n",
    ).first()
    assert row["sh"] == ["a b", "b c"]
    assert row["ng"] == ["abc", "bcd"]
    assert row["n"] == 2


# -------------------------------------------------------------- builders
# The curate_write builders as they were written with Column trees.


def _old_minhash_signatures(docs):
    sh = fan_out(docs).select(
        "doc_id",
        F.explode(F.array_distinct(_shingles(_words(F.col("text")), 3))).alias("s"),
    )
    return sh.groupBy("doc_id").agg(*_minhash_aggs("s", dedup.MINHASH_K))


def _old_bands(sig, extra=()):
    cols = [f"mh{j}" for j in range(dedup.MINHASH_K)]
    arr = F.array(*[_band_hash(cols, b, dedup.LSH_ROWS) for b in range(dedup.LSH_BANDS)])
    return sig.select("doc_id", *extra, F.posexplode(arr).alias("band", "bh"))


def _old_banded_buckets(bands, keys):
    part = bands.groupBy(
        *keys, F.pmod(F.hash("doc_id"), F.lit(dedup.LSH_MERGE_SALT)).alias("_salt")
    ).agg(
        F.count(F.lit(1)).alias("_n_part"),
        F.min("doc_id").alias("_min_part"),
        F.slice(F.collect_list("doc_id"), 1, dedup.LSH_BUCKET_CAP + 1).alias("_ds_part"),
    )
    return part.groupBy(*keys).agg(
        F.sum("_n_part").alias("n_docs"),
        F.min("_min_part").alias("min_id"),
        F.sort_array(F.flatten(F.collect_list("_ds_part"))).alias("ds"),
    )


def _old_bucket_pairs(buckets):
    kept = buckets.filter((F.col("n_docs") > 1) & (F.col("n_docs") <= dedup.LSH_BUCKET_CAP))
    pairs = kept.select(
        F.explode(
            F.expr(
                "filter(flatten(transform(ds, x -> transform(ds, "
                "y -> struct(x AS doc_a, y AS doc_b)))), p -> p.doc_a < p.doc_b)"
            )
        ).alias("p")
    )
    return pairs.select("p.doc_a", "p.doc_b").distinct()


def _old_vectors(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    return fan_out(emb).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    ).withColumn("nrm", _norm(F.col("v")))


def _old_topk_lsh(spark, sf_dir):
    v = _old_vectors(spark, sf_dir).withColumn(
        "bucket", _lsh_bucket(F.col("v"), similarity._PLANES)
    )
    q = v.filter(F.col("vec_id") < similarity.N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qn"),
        F.col("bucket").alias("qb"),
    )
    c = v.select(
        F.col("vec_id").alias("cand_id"),
        F.col("v").alias("cv"),
        F.col("nrm").alias("cn"),
        F.col("bucket").alias("cb"),
    )
    scored = (
        F.broadcast(q)
        .join(c, (F.col("qb") == F.col("cb")) & (F.col("query_id") != F.col("cand_id")))
        .select(
            "query_id",
            "cand_id",
            (_dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn"))).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), "cand_id")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= similarity.TOP_K)
        .select("query_id", "cand_id", "cos_sim", F.col("rk").cast("int").alias("rk"))
    )


def _old_quality_scores(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    ws = _words(F.col("text"))
    n_words = F.size(ws)
    total_wlen = F.aggregate(ws, F.lit(0), lambda acc, w: acc + F.length(w))
    return docs.select(
        "doc_id",
        F.length("text").alias("n_chars_actual"),
        n_words.cast("long").alias("n_words"),
        (total_wlen.cast("double") / n_words).alias("avg_word_len"),
        (_count_in(ws, T.STOPWORDS_EN).cast("double") / n_words).alias("stopword_ratio"),
        F.size(F.filter(ws, lambda w: F.length(w) > 6)).cast("long").alias("n_long_words"),
    )


@pytest.fixture(scope="module")
def documents(spark, sf_dir):
    return load_table(spark, sf_dir, "documents")


def test_exact_dedup_plan(spark, sf_dir, documents):
    want = documents.groupBy(F.md5(F.col("text")).alias("content_hash")).agg(
        F.min("doc_id").alias("keep_doc_id"), F.count(F.lit(1)).alias("n_copies")
    )
    _same(dedup.exact_dedup(spark, sf_dir), want)


def test_minhash_signatures_plan(documents):
    _same(dedup._minhash_signatures(documents), _old_minhash_signatures(documents))


def test_bands_plan(documents):
    sig = _old_minhash_signatures(documents)
    _same(dedup._bands(sig), _old_bands(sig))
    _same(dedup._bands(sig.withColumn("k", F.lit(1)), ("k",)),
          _old_bands(sig.withColumn("k", F.lit(1)), ("k",)))


def test_banded_buckets_and_pairs_plan(documents):
    bands = _old_bands(_old_minhash_signatures(documents))
    _same(dedup._banded_buckets(bands, ["band", "bh"]), _old_banded_buckets(bands, ["band", "bh"]))
    buckets = _old_banded_buckets(bands, ["band", "bh"])
    _same(dedup._bucket_pairs(buckets), _old_bucket_pairs(buckets))


def test_minhash_lsh_pipeline_plan(spark, sf_dir, documents):
    want = _old_bucket_pairs(
        _old_banded_buckets(_old_bands(_old_minhash_signatures(documents)), ["band", "bh"])
    ).orderBy("doc_a", "doc_b")
    _same(dedup.minhash_lsh(spark, sf_dir), want)


def test_vectors_plan(spark, sf_dir):
    _same(similarity._vectors(spark, sf_dir), _old_vectors(spark, sf_dir))


def test_topk_lsh_plan(spark, sf_dir):
    _same(similarity.topk_lsh(spark, sf_dir), _old_topk_lsh(spark, sf_dir))


def test_quality_scores_plan(spark, sf_dir):
    _same(textops.quality_scores(spark, sf_dir), _old_quality_scores(spark, sf_dir))
