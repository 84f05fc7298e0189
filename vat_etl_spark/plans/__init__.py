"""Plan introspection utilities: assert that a DataFrame's physical plan has
the shape we designed for (pushdown reached the scan, dims broadcast, no
stray shuffles). Used by tests/test_plans.py so plan regressions fail CI,
not just benchmarks.
"""

from vat_etl_spark.plans.inspect import (
    formatted_plan,
    has_broadcast_join,
    pushed_filters,
    py4j_round_trips,
    read_schema_columns,
    shuffle_count,
    unpartitioned_window_bound_kinds,
    unpartitioned_window_count,
)

__all__ = [
    "formatted_plan",
    "pushed_filters",
    "py4j_round_trips",
    "read_schema_columns",
    "has_broadcast_join",
    "shuffle_count",
    "unpartitioned_window_bound_kinds",
    "unpartitioned_window_count",
]
