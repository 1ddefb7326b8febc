"""Plan inspection and plan-quality assertions."""

from parquet_compactor_spark.plans.inspect import formatted_plan, plan_properties

__all__ = ["formatted_plan", "plan_properties"]
