"""Compaction core: the reference's file-compaction semantics on Spark.

Reference: parquet-compactor's ``parquet_compactor.py`` (a single-process
pandas/boto3 ETL). Here the same semantics are re-expressed Spark-first:
listing and Parquet footer reads via the Hadoop FileSystem (works on
file://, hdfs://, s3a://), merging via a shuffle-free DataFrame read→write
(read splits sized to the output files), deletes via the same FileSystem
handle — so one code path runs locally in tests and on a real cluster
against an object store. Everything here runs on the driver except the
merge's Spark write; no Python is sent to executors.
"""

from parquet_compactor_spark.compactor.core import (
    CompactionConfig,
    FileMeta,
    LakeCompactor,
    determine_base_file_name,
    filter_compacted,
    filter_compacted_gcp,
    should_skip_compacting,
)
from parquet_compactor_spark.compactor.report import (
    lake_report,
    rowgroup_report,
    scan_parquet_footers,
    scan_parquet_schemas,
    schema_drift_report,
)

__all__ = [
    "CompactionConfig",
    "FileMeta",
    "LakeCompactor",
    "determine_base_file_name",
    "filter_compacted",
    "filter_compacted_gcp",
    "should_skip_compacting",
    "lake_report",
    "rowgroup_report",
    "scan_parquet_footers",
    "scan_parquet_schemas",
    "schema_drift_report",
]
