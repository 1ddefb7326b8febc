"""Data-quality metrics that ride the job: ``df.observe`` instrumentation.

A 100 TB pipeline cannot afford a second scan just to know whether the
batch it wrote was healthy. ``Dataset.observe`` attaches aggregate
expressions to an EXISTING plan: the metrics are computed by the same
tasks that execute the job (map-side partial aggregation, merged on the
driver via a listener-visible accumulator) and cost no extra pass, no
extra shuffle, and no action of their own.

:func:`quality_aggs` gives the standard health aggregates for the given
columns (row count, per-column null counts, min/max); pass them to
``DataFrame.observe``. In streaming, the metrics then arrive per
micro-batch on ``StreamingQueryProgress.observedMetrics``.

The reference has no data-quality surface; its only health signal is a
row-count log line after each merge. This is the Spark-first extension:
the merge's OWN job emits the health row.
"""

from __future__ import annotations

from pyspark.sql import functions as F


def quality_aggs(columns: list[str]) -> list:
    """The standard health aggregates: total rows, per-column null count
    and min/max. All partial-aggregatable — observation cost is O(columns)
    accumulator state per task, never a shuffle."""
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in columns:
        aggs.append(
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).alias(f"{c}__nulls")
        )
        aggs.append(F.min(c).alias(f"{c}__min"))
        aggs.append(F.max(c).alias(f"{c}__max"))
    return aggs
