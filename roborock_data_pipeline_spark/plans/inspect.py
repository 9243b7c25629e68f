"""Physical-plan inspection & assertions.

The 100 TB posture is only real if the plans prove it: filters
reaching the parquet scan (PushedFilters), scans pruned to referenced
columns (ReadSchema), dims broadcast instead of shuffled, global
top-k planned as TakeOrderedAndProject, aggregates partial+final.
tests/test_plans.py pins those properties per operator so a
regression in plan shape fails CI, and `python scripts/dump_plans.py`
dumps every registered query's formatted plan to PLANS.md for review.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def plan_string(df: DataFrame, mode: str = "formatted") -> str:
    """The string `df.explain(mode)` prints."""
    sc = df.sparkSession.sparkContext
    return sc._jvm.PythonSQLUtils.explainString(  # type: ignore[union-attr]
        df._jdf.queryExecution(), mode
    )


def executed_plan_string(df: DataFrame) -> str:
    """Execute the query and return the FINAL adaptive plan -- the only
    place WholeStageCodegen spans (and AQE runtime decisions like
    coalesced partitions or demoted joins) are visible."""
    df.collect()  # the same QueryExecution backs the action, so AQE finalizes it
    return df._jdf.queryExecution().executedPlan().toString()


def pushed_filters(df: DataFrame) -> str:
    plan = plan_string(df)
    return "\n".join(l.strip() for l in plan.splitlines() if "PushedFilters" in l)


def read_schemas(df: DataFrame) -> str:
    plan = plan_string(df)
    return "\n".join(l.strip() for l in plan.splitlines() if "ReadSchema" in l)


def count_occurrences(df: DataFrame, needle: str) -> int:
    return plan_string(df).count(needle)
