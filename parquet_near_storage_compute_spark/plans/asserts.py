"""Physical-plan parity assertions (SURVEY.md §4 checklist).

The reference implements pruning/projection by hand; Spark's proof that the
same work happens is in the physical plan: ``PushedFilters`` on the Parquet
scan (row-group pruning), ``ReadSchema`` (early projection),
``BroadcastHashJoin`` (J1's dim-side strategy), partial/final
``HashAggregate`` pairs, and ``WholeStageCodegen`` spans (vectorized
execution). These helpers expose the executed plan as text for tests and the
tuning loop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def executed_plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def pushed_filters(df: DataFrame) -> str:
    """The PushedFilters clause(s) of the scan nodes."""
    plan = executed_plan(df)
    return "\n".join(
        line.strip() for line in plan.splitlines() if "PushedFilters" in line
    )


def read_schema(df: DataFrame) -> str:
    plan = executed_plan(df)
    return "\n".join(
        line.strip() for line in plan.splitlines() if "ReadSchema" in line
    )


def assert_filter_pushed(df: DataFrame, column: str) -> None:
    pf = pushed_filters(df)
    assert column in pf, f"filter on {column!r} not pushed; got: {pf!r}"


def assert_column_pruned(df: DataFrame, column: str) -> None:
    """Assert a column is NOT read from parquet (early projection)."""
    rs = read_schema(df)
    assert column not in rs, f"{column!r} unexpectedly read: {rs!r}"


def assert_broadcast_join(df: DataFrame) -> None:
    assert "BroadcastHashJoin" in executed_plan(df), (
        "expected BroadcastHashJoin in plan"
    )


def assert_partial_final_agg(df: DataFrame) -> None:
    plan = executed_plan(df)
    assert plan.count("HashAggregate") >= 2, (
        "expected partial+final HashAggregate pair"
    )


def assert_whole_stage_codegen(df: DataFrame) -> None:
    """Codegen spans only appear in the AQE *final* plan — execute first.
    AQE's toString marks codegen stages as ``*(N)`` prefixes."""
    plan = executed_plan(df)
    if "isFinalPlan=false" in plan:
        df.collect()
        plan = executed_plan(df)
    assert "WholeStageCodegen" in plan or "*(" in plan, (
        "expected WholeStageCodegen spans"
    )
