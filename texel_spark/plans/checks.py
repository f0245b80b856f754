"""Physical-plan assertions: keep the plans we shipped the ones we meant.

``explain`` regressions (lost pushdown, surprise shuffles, broadcast
fallbacks to sort-merge) are silent at small scale and catastrophic at
100 TB; these helpers make them test failures instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


def simple_plan(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "simple")


def assert_pushed_read_schema(df: DataFrame, must_include: list[str], must_exclude: list[str] = ()) -> None:
    """Column pruning reached the scan: ReadSchema has exactly what we use."""
    plan = formatted_plan(df)
    read_schemas = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert read_schemas, f"no scan in plan:\n{plan}"
    joined = "\n".join(read_schemas)
    for col in must_include:
        assert col in joined, f"column {col} not pushed to scan:\n{joined}"
    for col in must_exclude:
        assert col not in joined, f"column {col} should have been pruned:\n{joined}"


def count_exchanges(df: DataFrame) -> int:
    """Number of shuffle exchanges in the physical plan."""
    plan = formatted_plan(df)
    return sum(1 for ln in plan.splitlines() if "Exchange" in ln and "Broadcast" not in ln and "Reused" not in ln)


def assert_max_shuffles(df: DataFrame, n: int) -> None:
    got = count_exchanges(df)
    assert got <= n, f"expected <= {n} shuffles, plan has {got}:\n{simple_plan(df)}"


def assert_broadcast_join(df: DataFrame) -> None:
    plan = formatted_plan(df)
    assert "BroadcastHashJoin" in plan, f"expected a broadcast join:\n{simple_plan(df)}"
    assert "SortMergeJoin" not in plan, f"small side fell back to sort-merge:\n{simple_plan(df)}"


def assert_whole_stage_codegen(df: DataFrame) -> None:
    plan = simple_plan(df)
    assert "*(" in plan, f"no whole-stage codegen span in plan:\n{plan}"


def assert_no_python_stage(df: DataFrame) -> None:
    """The plan runs entirely JVM-side: no Python-worker operators
    (row-at-a-time or Arrow) anywhere - the operator's 'no Python in the
    hot path' claim as a test."""
    plan = simple_plan(df)
    for marker in (
        "BatchEvalPython", "ArrowEvalPython", "MapInPandas", "MapInArrow", "FlatMapGroupsInPandas", "PythonUDF"
    ):
        assert marker not in plan, f"Python stage ({marker}) in plan:\n{plan}"
