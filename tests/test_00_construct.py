"""Whole-surface construction smoke: build EVERY registered query's
DataFrame — execute nothing.

This is the cheapest possible guard against the round-9 failure mode: a
query whose construction path itself crashes (a bad call signature, a
missing column, a Python error in driver-side model-state planning)
reaching a snapshot commit because the only tests exercising it were the
10-minute oracle sweep that nobody ran. Constructing the DataFrame runs
all driver-side Python (including bounded model-state collects — seeds,
centroids, query vectors) and forces Catalyst analysis of the final
plan, so every constructor-time crash and unresolved-column error
surfaces here in seconds per query.

The file is named test_00_* so pytest's alphabetical collection runs it
FIRST: under `-x` a constructor-time crash fails the suite immediately,
before any expensive test spends minutes.
"""

from __future__ import annotations

import pytest

from parquet_compactor_spark.registry import all_queries
from tests.conftest import SF_SMOKE


@pytest.mark.parametrize("name", sorted(all_queries()))
def test_query_constructs(spark, name):
    df = all_queries()[name].fn(spark, SF_SMOKE)
    # Force full analysis (cheap — no job runs); every registered query
    # must come back as a resolvable DataFrame with at least one column.
    assert len(df.schema.fields) > 0


def test_every_q_function_is_registered():
    """A module-level ``q_*`` function that is not a key of all_queries()
    is code that no entry point, oracle sweep or benchmark ever runs."""
    import importlib
    import inspect
    import pkgutil

    import parquet_compactor_spark as pkg

    registered = all_queries()
    unregistered = []
    for info in pkgutil.walk_packages(pkg.__path__, pkg.__name__ + "."):
        module = importlib.import_module(info.name)
        for name, fn in inspect.getmembers(module, inspect.isfunction):
            if name.startswith("q_") and fn.__module__ == info.name:
                query = registered.get(name)
                if query is None or query.fn is not fn:
                    unregistered.append(f"{info.name}.{name}")
    assert unregistered == []
