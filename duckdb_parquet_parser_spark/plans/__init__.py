"""Physical-plan inspection helpers — used by tests to assert the plans we
want at scale actually materialize (pushdown reached the scan, small dims
broadcast, codegen spans cover the hot path)."""

from __future__ import annotations

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), "formatted"
    )


def assert_pushed_filter(df: DataFrame, fragment: str) -> None:
    plan = formatted_plan(df)
    if "PushedFilters: [" not in plan or fragment not in plan:
        raise AssertionError(
            f"expected pushed filter containing {fragment!r}; plan:\n{plan}"
        )


def assert_pruned_schema(df: DataFrame, must_have: list[str], must_not: list[str]) -> None:
    plan = formatted_plan(df)
    read_lines = [l for l in plan.splitlines() if "ReadSchema" in l]
    read = " ".join(read_lines)
    for col in must_have:
        if col not in read:
            raise AssertionError(f"column {col} missing from ReadSchema: {read}")
    for col in must_not:
        if col in read:
            raise AssertionError(f"column {col} should be pruned: {read}")


def assert_broadcast(df: DataFrame, n_broadcasts: int = 1) -> None:
    plan = formatted_plan(df)
    found = plan.count("BroadcastHashJoin") + plan.count("BroadcastNestedLoopJoin")
    if found < n_broadcasts:
        raise AssertionError(
            f"expected ≥{n_broadcasts} broadcast joins, found {found}; plan:\n{plan}"
        )
