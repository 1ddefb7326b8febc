"""Skew mitigation: salting for hot keys in joins.

AQE's skew-join splitting (enabled in session.py) handles most skew at
runtime; these utilities are the explicit, plan-level tool for the cases
AQE can't fix — a build side too big to broadcast joined on a key where a
handful of values dominate (events.user_id-style power laws). The
two-stage salted aggregation is written out in ``q_salted_agg``.

Salting is deterministic here (hash of a caller-named column, not rand()),
so plans stay reproducible and retries are safe.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

SALT_COL = "__salt"


def _salt_of(col: Column, buckets: int) -> Column:
    return F.pmod(F.xxhash64(col), F.lit(buckets)).cast("int")


def salted_join(
    skewed: DataFrame,
    other: DataFrame,
    on: str,
    buckets: int = 16,
    salt_source: str | None = None,
) -> DataFrame:
    """Inner equi-join where ``skewed``'s hot join keys are spread across
    ``buckets`` sub-keys and ``other`` is replicated per bucket.

    The skewed side gets a deterministic salt from ``salt_source`` (any
    column that varies within a hot key — defaults to the whole-row hash via
    all columns); the other side is exploded x buckets. Join key becomes
    (on, salt) — a hot key's rows now land on ``buckets`` tasks instead of
    one. Cost: ``other`` is shuffled x buckets, so use on dimension-sized
    right sides that still exceed the broadcast threshold.
    """
    if salt_source is not None:
        salt = _salt_of(F.col(salt_source), buckets)
    else:
        salt = F.pmod(F.xxhash64(*[F.col(c) for c in skewed.columns]), F.lit(buckets)).cast(
            "int"
        )
    left = skewed.withColumn(SALT_COL, salt)
    right = other.withColumn(
        SALT_COL, F.explode(F.sequence(F.lit(0), F.lit(buckets - 1)))
    )
    return left.join(right, [on, SALT_COL]).drop(SALT_COL)
