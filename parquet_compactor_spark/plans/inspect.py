"""Physical-plan inspection helpers.

The 100 TB contract of SCALE.md is checkable: filters reach the scan,
dimensions broadcast, top-k never globally sorts, nothing falls back to a
cartesian product. These helpers extract those properties from a
DataFrame's executed plan so tests (tests/test_plans.py) can pin them —
a plan regression then fails CI instead of a production cluster.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    """explain('formatted') as a string (scan details incl. PushedFilters)."""
    jvm = df.sparkSession._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return df._jdf.queryExecution().explainString(mode)


@dataclass(frozen=True)
class PlanProperties:
    pushed_filters: list[str]  # non-trivial filters pushed to parquet scans
    read_columns: int  # widest scan's projected column count
    has_broadcast_join: bool
    has_sort_merge_join: bool
    has_cartesian: bool
    has_take_ordered: bool  # TakeOrderedAndProject (heap top-k)
    has_partial_agg: bool  # map-side partial aggregation
    exchange_count: int  # shuffles in the plan


def plan_properties(df: DataFrame) -> PlanProperties:
    plan = formatted_plan(df)
    pushed: list[str] = []
    for m in re.finditer(r"PushedFilters: \[([^\]]*)\]", plan):
        pushed.extend(
            f.strip()
            for f in m.group(1).split(",")
            if f.strip() and not f.strip().startswith("IsNotNull")
        )
    widths = [
        len(m.group(1).split(","))
        for m in re.finditer(r"ReadSchema: struct<([^>]*)>", plan)
        if m.group(1)
    ]
    return PlanProperties(
        pushed_filters=pushed,
        read_columns=max(widths, default=0),
        has_broadcast_join="BroadcastHashJoin" in plan,
        has_sort_merge_join="SortMergeJoin" in plan,
        has_cartesian="CartesianProduct" in plan
        or "BroadcastNestedLoopJoin" in plan,
        has_take_ordered="TakeOrderedAndProject" in plan,
        has_partial_agg="partial_" in plan,
        # Count numbered node headers only (the formatted tree also repeats
        # each operator in its summary); BroadcastExchange is not a shuffle.
        exchange_count=len(re.findall(r"\(\d+\) Exchange\b", plan)),
    )
