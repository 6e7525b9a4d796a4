"""Physical-plan inspection helpers.

The engine's scale posture is enforced, not hoped for: tests assert that
filters reach the parquet scan (PushedFilters), dimension joins broadcast,
and shuffle counts match the design budget (SURVEY.md §4.4: exactly two
exchanges per crawl wave). `.explain("formatted")` made queryable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    qe = df._jdf.queryExecution()
    jvm = df.sparkSession._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return qe.explainString(mode)


def assert_pushed_filter(df: DataFrame, fragment: str) -> None:
    """Assert a predicate was pushed into the scan (reads `PushedFilters`)."""
    plan = formatted_plan(df)
    pushed = [line for line in plan.splitlines() if "PushedFilters" in line]
    assert pushed, f"no PushedFilters line in plan:\n{plan}"
    assert any(fragment in line for line in pushed), (
        f"filter {fragment!r} not pushed; PushedFilters lines: {pushed}"
    )


def assert_broadcast_join(df: DataFrame, n_min: int = 1) -> None:
    plan = formatted_plan(df)
    n = plan.count("BroadcastHashJoin")
    assert n >= n_min, f"expected ≥{n_min} BroadcastHashJoin, found {n}:\n{plan}"


import re


def count_nodes(df: DataFrame, node: str) -> int:
    """Number of ``node`` operators in the static physical plan. Counts
    the formatted plan's detail headers `(N) <node>` so tree+detail
    aren't double-counted; a header only matches the exact operator name
    (``Exchange`` never counts a BroadcastExchange or ReusedExchange)."""
    hdr = re.compile(rf"^\(\d+\) {re.escape(node)}\b")
    return sum(1 for line in formatted_plan(df).splitlines() if hdr.match(line.strip()))


def count_exchanges(df: DataFrame) -> int:
    """Number of shuffle exchanges in the physical plan (AQE may collapse
    some at runtime; this counts the static plan)."""
    return count_nodes(df, "Exchange")


def assert_whole_stage_codegen(df: DataFrame) -> None:
    """With AQE the pre-execution formatted plan hides codegen stages, so
    ask the codegen explain mode for the generated subtrees directly."""
    qe = df._jdf.queryExecution()
    jvm = df.sparkSession._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("codegen")
    plan = qe.explainString(mode)
    assert "WholeStageCodegen" in plan, f"no WholeStageCodegen subtree:\n{plan[:2000]}"


def assert_column_pruned(df: DataFrame, absent_column: str) -> None:
    """Assert the scan's ReadSchema does not include a column."""
    plan = formatted_plan(df)
    reads = [line for line in plan.splitlines() if "ReadSchema" in line]
    assert reads, f"no ReadSchema in plan:\n{plan}"
    assert all(absent_column not in line for line in reads), (
        f"column {absent_column!r} not pruned: {reads}"
    )
