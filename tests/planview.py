"""Physical-plan inspection helpers shared by the plan-shape and layout
tests: one Exchange count, so the pins cannot drift apart."""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    spark = df.sparkSession
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"))


def n_exchanges(plan_or_df) -> int:
    """Distinct Exchange operators. Formatted mode prints each node twice
    (tree + details), so count unique node ids, not substring hits."""
    plan = (plan_or_df if isinstance(plan_or_df, str)
            else formatted_plan(plan_or_df))
    return len(set(re.findall(r"\((\d+)\) Exchange", plan)))
