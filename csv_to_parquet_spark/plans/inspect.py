"""Physical-plan inspection helpers.

Used by tests/test_plans.py to assert the scale-critical plan
properties (pushdown, pruning, broadcast, bucketing, top-k) instead of
hoping for them; useful interactively for the same purpose:

    from csv_to_parquet_spark.plans.inspect import formatted, n_ops
    print(formatted(df)); n_ops(formatted(df), "Exchange")
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def formatted(df: DataFrame) -> str:
    """`EXPLAIN FORMATTED` text of the DataFrame's physical plan."""
    jvm = df._sc._jvm
    return df._jdf.queryExecution().explainString(
        jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def n_ops(plan: str, op: str) -> int:
    """Count physical operators by name. Formatted explain prints each
    operator twice (tree + detail); count the numbered detail headers
    only, e.g. ``(5) Exchange`` — and note ``Exchange`` does NOT match
    ``BroadcastExchange``."""
    return len(re.findall(rf"^\(\d+\) {op}\b", plan, flags=re.M))

