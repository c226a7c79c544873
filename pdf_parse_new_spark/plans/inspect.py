"""Physical-plan inspection helpers — used by the plan-regression tests and
the PLANS.md generator to prove the engine keeps its scale-critical plan
properties (filter pushdown, column pruning, partial aggregation, broadcast
joins, top-k as TakeOrdered) instead of hoping Catalyst picked them."""

from __future__ import annotations

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    jvm = df.sparkSession._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return df._jdf.queryExecution().explainString(mode)


def assert_plan(df: DataFrame, *needles: str, absent: tuple[str, ...] = ()) -> None:
    plan = formatted_plan(df)
    missing = [n for n in needles if n not in plan]
    present = [n for n in absent if n in plan]
    if missing or present:
        raise AssertionError(
            f"plan check failed: missing={missing} unexpectedly-present={present}\n{plan}"
        )
