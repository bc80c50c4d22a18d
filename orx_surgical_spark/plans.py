"""Plan inspection utilities — the engine's `.explain` toolkit.

Used by the plan tests (SURVEY §5 item 5) and by hand when tuning: every
operator should be iterated until the plan is the one you'd want at
100 TB (filters pushed, columns pruned, dims broadcast, codegen wide),
not just the first one that passes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def plan_str(df: DataFrame, mode: str = "formatted") -> str:
    """The explain output as a string (modes: simple, extended,
    codegen, cost, formatted)."""
    qe = df._jdf.queryExecution()
    jvm = df.sparkSession._jvm
    return qe.explainString(
        jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)
    )


def executed_plan_str(df: DataFrame) -> str:
    """The post-AQE physical plan — call after an action so the final
    plan (with whole-stage-codegen ``*(n)`` markers) is materialized."""
    return df._jdf.queryExecution().executedPlan().toString()


def count_exchanges(df: DataFrame) -> int:
    """Number of Exchange (shuffle/broadcast) operators in the plan —
    the first thing to minimize when a query is slow at scale."""
    return sum(
        1
        for l in plan_str(df, "simple").splitlines()
        if l.lstrip().startswith(("+- Exchange", ":- Exchange", "Exchange"))
    )
