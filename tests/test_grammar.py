"""Unit tests for the P6/A6 mini-grammar translator."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from parquet_near_storage_compute_spark.functions.grammar import (
    parse_aggregation,
    parse_predicate,
    parse_predicate_by_index,
)


def test_precedence_or_lower_than_and(spark, sf_dir):
    from parquet_near_storage_compute_spark.tables import load_table

    df = load_table(spark, sf_dir, "lineitem")
    # a OR b AND c  ==  a OR (b AND c)
    n1 = df.filter(
        parse_predicate("l_returnflag == 'R' OR l_quantity > 40 AND l_discount < 0.02")
    ).count()
    n2 = df.filter(
        parse_predicate("l_returnflag == 'R' OR (l_quantity > 40 AND l_discount < 0.02)")
    ).count()
    assert n1 == n2


def test_not_demorgan(spark, sf_dir):
    from parquet_near_storage_compute_spark.tables import load_table

    df = load_table(spark, sf_dir, "lineitem")
    n1 = df.filter(parse_predicate("NOT (l_quantity < 10 OR l_discount >= 0.05)")).count()
    n2 = df.filter(
        parse_predicate("l_quantity >= 10 AND l_discount < 0.05")
    ).count()
    assert n1 == n2


def test_flipped_literal_column(spark, sf_dir):
    from parquet_near_storage_compute_spark.tables import load_table

    df = load_table(spark, sf_dir, "lineitem")
    assert (
        df.filter(parse_predicate("50.0 < l_quantity")).count()
        == df.filter(parse_predicate("l_quantity > 50.0")).count()
    )


def test_datetime_literal(spark, sf_dir):
    from parquet_near_storage_compute_spark.tables import load_table

    df = load_table(spark, sf_dir, "lineitem")
    n = df.filter(parse_predicate("l_shipdate > 2001-01-01-00:00:00")).count()
    assert n > 0


def test_extended_in_between_like(spark, sf_dir):
    from parquet_near_storage_compute_spark.tables import load_table
    from pyspark.sql import functions as F

    df = load_table(spark, sf_dir, "lineitem")
    n1 = df.filter(parse_predicate("l_returnflag IN ('A', 'R')")).count()
    n2 = df.filter(F.col("l_returnflag").isin("A", "R")).count()
    assert n1 == n2 > 0

    b1 = df.filter(parse_predicate("l_quantity BETWEEN 10 AND 20")).count()
    b2 = df.filter(F.col("l_quantity").between(10, 20)).count()
    assert b1 == b2 > 0

    l1 = df.filter(parse_predicate("l_linestatus LIKE 'F%'")).count()
    l2 = df.filter(F.col("l_linestatus").like("F%")).count()
    assert l1 == l2 > 0


def test_extended_grammar_errors():
    with pytest.raises(ValueError):
        parse_predicate("l_returnflag IN ()")
    with pytest.raises(ValueError):
        parse_predicate("l_quantity BETWEEN 10 OR 20")


def test_bad_predicate_raises():
    with pytest.raises(ValueError):
        parse_predicate("l_quantity >")
    with pytest.raises(ValueError):
        parse_aggregation("MEDIAN(x)")


def test_pushed_filters_visible(spark, sf_dir):
    """Parity observable (SURVEY §4): the grammar's predicate must reach the
    Parquet scan as PushedFilters — the Spark equivalent of v1's row-group
    pruning (v1/src/main.rs:626-685)."""
    from parquet_near_storage_compute_spark.tables import load_table

    df = load_table(spark, sf_dir, "lineitem").filter(
        parse_predicate("l_extendedprice > 53000.0")
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan
    assert "l_extendedprice" in plan


# ---------------------------------------------------------------------------
# Plan equality: the SQL text the grammar emits must analyze to the same plan
# as the hand-built Column expression (the grammar's previous output form),
# so typing, pushdown and pruning are unchanged.

_TS_FMT = "yyyy-MM-dd-HH:mm:ss"


def _analyzed(df) -> str:
    """Analyzed plan with expression ids normalised."""
    return re.sub(r"#\d+", "#", df._jdf.queryExecution().analyzed().toString())


@pytest.fixture(scope="module")
def typed(spark):
    """One row with a column of every literal kind the grammar types."""
    return spark.range(1).selectExpr(
        "CAST(id AS INT) AS i",
        "id AS b",
        "CAST(id AS DOUBLE) AS d",
        "CAST(id AS STRING) AS s",
        "id = 0 AS flag",
        "timestamp_micros(id) AS t",
        "named_struct('x', CAST(id AS INT)) AS st",
    )


_PREDICATES = [
    ("t > 2001-01-01-00:00:00",
     lambda: F.col("t") > F.to_timestamp(F.lit("2001-01-01-00:00:00"), _TS_FMT)),
    ("flag == true", lambda: F.col("flag") == F.lit(True)),
    ("flag != FALSE", lambda: F.col("flag") != F.lit(False)),
    ("d >= 1.5", lambda: F.col("d") >= F.lit(1.5)),
    ("d < -.5", lambda: F.col("d") < F.lit(-0.5)),
    ("d <= 5.", lambda: F.col("d") <= F.lit(5.0)),
    ("i = 7", lambda: F.col("i") == F.lit(7)),
    ("b > 4294967296", lambda: F.col("b") > F.lit(4294967296)),
    ("b > 2147483648", lambda: F.col("b") > F.lit(2147483648)),
    ("i > -3", lambda: F.col("i") > F.lit(-3)),
    ("i > -2147483648", lambda: F.col("i") > F.lit(-2147483648)),
    (r"s == 'it\'s a \\ path'", lambda: F.col("s") == F.lit(r"it\'s a \\ path")),
    ('s != "say \\"hi\\""', lambda: F.col("s") != F.lit('say \\"hi\\"')),
    ("s == R", lambda: F.col("s") == F.lit("R")),
    ("i IN (1, 2, 3)", lambda: F.col("i").isin(F.lit(1), F.lit(2), F.lit(3))),
    ("s IN ('A', R)", lambda: F.col("s").isin(F.lit("A"), F.lit("R"))),
    ("d BETWEEN 1.0 AND 2.5", lambda: F.col("d").between(F.lit(1.0), F.lit(2.5))),
    ("s LIKE 'F%'", lambda: F.col("s").like("F%")),
    ("NOT i < 3", lambda: ~(F.col("i") < F.lit(3))),
    ("i == 1 OR (d > 2.0 AND NOT flag == false) AND s != 'x'",
     lambda: (F.col("i") == F.lit(1))
     | (((F.col("d") > F.lit(2.0)) & ~(F.col("flag") == F.lit(False)))
        & (F.col("s") != F.lit("x")))),
    ("i > 1 AND i > 2 AND i > 3 AND i > 4",
     lambda: (((F.col("i") > F.lit(1)) & (F.col("i") > F.lit(2))) & (F.col("i") > F.lit(3)))
     & (F.col("i") > F.lit(4))),
    ("i < 1 OR i < 2 OR i < 3 OR i < 4",
     lambda: (((F.col("i") < F.lit(1)) | (F.col("i") < F.lit(2))) | (F.col("i") < F.lit(3)))
     | (F.col("i") < F.lit(4))),
    ("1.5 < d", lambda: F.col("d") > F.lit(1.5)),
    ("7 >= i", lambda: F.col("i") <= F.lit(7)),
    ("st.x > 3", lambda: F.col("st.x") > F.lit(3)),
]


@pytest.mark.parametrize("text,build", _PREDICATES, ids=[t for t, _ in _PREDICATES])
def test_predicate_plan_equals_column_tree(typed, text, build):
    assert _analyzed(typed.filter(parse_predicate(text))) == _analyzed(
        typed.filter(build())
    )


def test_ordinal_predicate_plan_equals_column_tree(typed):
    got = parse_predicate_by_index("2 > 1.5 AND NOT 0 == 4", typed.columns)
    want = (F.col("d") > F.lit(1.5)) & ~(F.col("i") == F.lit(4))
    assert _analyzed(typed.filter(got)) == _analyzed(typed.filter(want))


@pytest.mark.parametrize(
    "spec,alias,build",
    [
        ("SUM(d)", "total", lambda: F.sum(F.col("d")).alias("total")),
        ("avg(i)", None, lambda: F.avg(F.col("i")).alias("avg_i")),
        ("MIN(s)", "lo", lambda: F.min(F.col("s")).alias("lo")),
        ("MAX(t)", "a.b", lambda: F.max(F.col("t")).alias("a.b")),
        ("COUNT(b)", None, lambda: F.count(F.col("b")).alias("count_b")),
    ],
)
def test_aggregation_plan_equals_column_tree(typed, spec, alias, build):
    got = typed.agg(parse_aggregation(spec, alias))
    want = typed.agg(build())
    assert got.columns == want.columns
    assert _analyzed(got) == _analyzed(want)
