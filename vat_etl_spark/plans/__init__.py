"""Plan introspection utilities: assert that a DataFrame's physical plan has
the shape we designed for (pushdown reached the scan, dims broadcast, no
stray shuffles). ``plan_violations`` holds the rules every registered
query obeys and ``oracle.run_all`` enforces them; tests/test_plans.py pins
per-query shapes, so plan regressions fail CI, not just benchmarks.
"""

from vat_etl_spark.plans.inspect import (
    BOUNDED_GLOBAL_WINDOWS,
    formatted_plan,
    has_broadcast_join,
    plan_violations,
    pushed_filters,
    py4j_round_trips,
    read_schema_columns,
    shuffle_count,
    trivially_true_predicates,
    unpartitioned_window_bound_kinds,
)

__all__ = [
    "BOUNDED_GLOBAL_WINDOWS",
    "formatted_plan",
    "pushed_filters",
    "py4j_round_trips",
    "read_schema_columns",
    "has_broadcast_join",
    "plan_violations",
    "shuffle_count",
    "trivially_true_predicates",
    "unpartitioned_window_bound_kinds",
]
