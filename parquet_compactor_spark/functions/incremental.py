"""Partition-scoped maintenance over a partitioned lake without a table
format: find the partitions a change touches with one partition-pruned
probe and rewrite only those by dynamic partition overwrite, so cost
scales with the delta, not the table.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F


def propagate_deletes(
    spark: SparkSession,
    lake_dir: str,
    partition_col: str,
    key_col: str,
    keys: list,
) -> list[str]:
    """Right-to-be-forgotten over a partitioned lake without a table
    format: locate the partitions that actually contain the doomed keys
    (one partition-pruned, column-pruned probe — the key-filter pushes
    to the parquet scan, so row groups whose footer stats exclude the
    keys are never read), then rewrite ONLY those partitions with an
    anti-filter via dynamic partition overwrite. Untouched partitions'
    files are byte-identical afterwards — at 100 TB a delete of one
    user rewrites their handful of day-partitions, not the lake.

    Returns the partition values rewritten. The key set rides along as
    a broadcast literal (deletes are human-scale); for bulk deletes
    swap the isin for a broadcast anti-join on a keys DataFrame.
    """
    lake = spark.read.parquet(lake_dir).withColumn(
        partition_col, F.col(partition_col).cast("string")
    )
    doomed = F.col(key_col).isin(keys)
    hit = sorted(
        r.p
        for r in lake.filter(doomed)
        .select(F.col(partition_col).alias("p"))
        .distinct()
        .collect()
    )
    if not hit:
        return []
    survivors = lake.filter(F.col(partition_col).isin(hit)).filter(~doomed)
    prev_mode = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        (
            survivors.write.mode("overwrite")
            .partitionBy(partition_col)
            .parquet(lake_dir)
        )
    finally:
        spark.conf.set(
            "spark.sql.sources.partitionOverwriteMode", prev_mode
        )
    return hit
