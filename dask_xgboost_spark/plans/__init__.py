"""Plan inspection and verification utilities.

The engine's optimization posture is "declare the plan, verify Catalyst
did the right thing" (SURVEY.md §4.2) — these helpers make the
verification part a one-liner, for tests and for users tuning at scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from dask_xgboost_spark.plans.scale import (  # noqa: F401
    bucketed_join,
    repartition_by_key,
    salted_join,
    write_bucketed,
)


def explain_string(df: DataFrame, mode: str = "formatted") -> str:
    """The explain output as a string (Spark's .explain only prints)."""
    spark = df.sparkSession
    jmode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)
    return df._jdf.queryExecution().explainString(jmode)


def executed_plan_string(df: DataFrame) -> str:
    """The AQE-final executed plan (runs the query)."""
    df.collect()  # bounded: diagnostic tooling — caller materializes by contract
    return df._jdf.queryExecution().executedPlan().toString()
