"""Salted join correctness: the salted plan == the plain plan."""

from __future__ import annotations

from pyspark.sql import functions as F

from parquet_compactor_spark.functions import salted_join
from parquet_compactor_spark.registry import load
from tests.conftest import SF_SMOKE


def test_salted_join_matches_plain(spark):
    e = load(spark, SF_SMOKE, "events").select("event_id", "user_id", "value")
    # A "dimension" too awkward to broadcast in the scenario: per-user attrs.
    dim = (
        load(spark, SF_SMOKE, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("user_events"))
    )
    plain = {
        (r.event_id, r.user_events) for r in e.join(dim, "user_id").collect()
    }
    salted = {
        (r.event_id, r.user_events)
        for r in salted_join(e, dim, on="user_id", buckets=4, salt_source="event_id").collect()
    }
    assert salted == plain
