"""Behavioral invariants for the time-series operators (oracle parity is
covered separately by test_oracle_parity.py; these pin the semantics the
hash can't see: spine completeness, interpolation bounds, cascade
consistency, transition-probability stochasticity)."""

from __future__ import annotations

import datetime

from pyspark.sql import functions as F

from vat_etl_spark.queries import QUERIES
from vat_etl_spark.session import release_engine_caches


def test_gapfill_spine_is_complete_and_bounded(spark, sf_smoke):
    rows = QUERIES["ts_gapfill_interpolate"](spark, sf_smoke).collect()
    days = sorted(r["day"] for r in rows)
    # contiguous daily spine: every day between min and max present exactly once
    assert len(days) == (days[-1] - days[0]).days + 1
    assert len(set(days)) == len(days)
    # interpolated values lie within [min, max] of the known endpoints by
    # construction of linear interpolation; known rows are flagged False
    known = [r["revenue"] for r in rows if not r["interpolated"]]
    lo, hi = min(known), max(known)
    for r in rows:
        if r["interpolated"]:
            assert lo <= r["revenue"] <= hi
            assert r["revenue"] is not None


def test_rollup_cascade_grains_are_consistent(spark, sf_smoke):
    rows = QUERIES["ts_rollup_cascade"](spark, sf_smoke).collect()
    by_grain = {}
    for r in rows:
        by_grain.setdefault(r["grain"], []).append(r)
    # every grain preserves the global order count (partials are lossless)
    counts = {g: sum(r["n_orders"] for r in rs) for g, rs in by_grain.items()}
    assert counts["day"] == counts["month"] == counts["year"]
    # revenue agrees across grains to the rounding unit (each grain rounds
    # its own exact decimal total once)
    totals = {g: sum(r["total_revenue"] for r in rs) for g, rs in by_grain.items()}
    assert abs(totals["day"] - totals["year"]) < 0.01 * len(rows)
    # month starts are first-of-month; year starts first-of-year
    assert all(r["period_start"].day == 1 for r in by_grain["month"])
    assert all(
        r["period_start"].month == 1 and r["period_start"].day == 1
        for r in by_grain["year"]
    )


def test_transition_matrix_rows_are_stochastic(spark, sf_smoke):
    rows = QUERIES["events_transition_matrix"](spark, sf_smoke).collect()
    by_prev = {}
    for r in rows:
        by_prev.setdefault(r["prev"], []).append(r)
    for prev, rs in by_prev.items():
        assert abs(sum(r["prob"] for r in rs) - 1.0) < 1e-9, prev
        assert all(r["n"] > 0 for r in rs)


def test_hash_split_is_deterministic_and_exhaustive(spark, sf_smoke):
    df = QUERIES["sample_hash_split"](spark, sf_smoke)
    a = {r["split"]: r["n_orders"] for r in df.collect()}
    release_engine_caches(spark)  # re-execution recomputes
    b = {r["split"]: r["n_orders"] for r in df.collect()}
    assert a == b  # same split on re-execution
    total = spark.read.parquet(f"{sf_smoke}/orders.parquet").count()
    assert sum(a.values()) == total  # every row lands in exactly one split


def test_abc_classes_cover_and_order(spark, sf_smoke):
    rows = QUERIES["window_abc_classification"](spark, sf_smoke).collect()
    shares = sorted((r["cum_share"], r["abc_class"]) for r in rows)
    assert shares[-1][0] <= 1.0 + 1e-9
    # class boundaries are monotone in cumulative share
    seen = []
    for share, cls in shares:
        seen.append(cls)
    assert "".join(sorted(set(seen))) in ("ABC", "AB", "AC", "BC", "A", "C", "B")
    boundary_ok = all(
        (s <= 0.5 and c == "A") or (0.5 < s <= 0.8 and c == "B") or (s > 0.8 and c == "C")
        for s, c in shares
    )
    assert boundary_ok
