"""Reusable column functions and plan utilities (skew handling, as-of,
ride-along data-quality observation)."""

from parquet_compactor_spark.functions.asof import asof_join
from parquet_compactor_spark.functions.quality import quality_aggs
from parquet_compactor_spark.functions.skew import salted_join
from parquet_compactor_spark.functions.topk import grouped_topk

__all__ = [
    "asof_join",
    "grouped_topk",
    "quality_aggs",
    "salted_join",
]
