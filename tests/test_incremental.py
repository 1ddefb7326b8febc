"""Partition-scoped lake maintenance: delta-sized deletes."""

from __future__ import annotations

import time
from pathlib import Path

from pyspark.sql import functions as F

from parquet_compactor_spark.registry import load
from tests.conftest import SF_SMOKE


def _events_with_day(spark):
    return load(spark, SF_SMOKE, "events").withColumn(
        "day", F.date_format("ts", "yyyy-MM-dd")
    )


def test_propagate_deletes_rewrites_only_affected_partitions(spark, tmp_path):
    from parquet_compactor_spark.functions.incremental import propagate_deletes

    lake = str(tmp_path / "lake")
    events = _events_with_day(spark)
    events.write.partitionBy("day").parquet(lake)
    total = events.count()

    # Pick a user present in SOME but not all partitions.
    per_day = (
        events.groupBy("user_id")
        .agg(F.countDistinct("day").alias("d"))
        .collect()
    )
    n_days = events.select("day").distinct().count()
    victim = next(r.user_id for r in per_day if 0 < r.d < n_days)
    victim_rows = events.filter(F.col("user_id") == victim)
    victim_days = sorted(r.day for r in victim_rows.select("day").distinct().collect())
    n_victim = victim_rows.count()

    before = {
        p: p.stat().st_mtime for p in Path(lake).glob("day=*/*.parquet")
    }
    time.sleep(1.1)
    hit = propagate_deletes(spark, lake, "day", "user_id", [victim])
    assert hit == victim_days

    after_df = spark.read.parquet(lake)
    assert after_df.filter(F.col("user_id") == victim).count() == 0
    assert after_df.count() == total - n_victim
    # Partitions without the victim are byte-untouched.
    after = {
        p: p.stat().st_mtime for p in Path(lake).glob("day=*/*.parquet")
    }
    for p, mt in before.items():
        day = p.parent.name.split("=", 1)[1]
        if day not in victim_days and p in after:
            assert after[p] == mt, f"untouched partition rewritten: {p}"
