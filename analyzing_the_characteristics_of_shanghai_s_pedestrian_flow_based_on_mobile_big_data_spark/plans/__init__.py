"""Plan-inspection helpers — the feedback loop for scale tuning.

Used by tests to assert the physical properties that matter at 100 TB:
small dims broadcast, python kept out of hot paths. Grading plans, not just results.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def physical_plan(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), "formatted"
    )


def assert_broadcast_join(df: DataFrame) -> None:
    plan = physical_plan(df)
    assert "BroadcastHashJoin" in plan, f"expected broadcast join, got:\n{plan}"


def assert_no_python_udf(df: DataFrame) -> None:
    plan = physical_plan(df)
    for marker in ("BatchEvalPython", "PythonUDF"):
        assert marker not in plan, f"python UDF leaked into hot path:\n{plan}"
