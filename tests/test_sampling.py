"""Sampling & sketch surface: seeded stratified sampling must be
deterministic for a fixed input layout, and the mergeable-HLL rollup must
estimate within its configured error bound of the exact distinct count."""

from __future__ import annotations

from pyspark.sql import functions as F

from vat_etl_spark.queries import QUERIES
from vat_etl_spark.session import release_engine_caches


def test_stratified_sample_deterministic(spark, sf_smoke):
    a = QUERIES["sample_stratified_orders"](spark, sf_smoke).collect()
    release_engine_caches(spark)  # the second build recomputes
    b = QUERIES["sample_stratified_orders"](spark, sf_smoke).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    # the P stratum is kept at 100% — its sampled count must equal the base
    from vat_etl_spark.sources.catalog import read_table

    o = read_table(spark, sf_smoke, "orders")
    n_p = o.filter(F.col("o_orderstatus") == "P").count()
    got = {r.o_orderstatus: r.n_sampled for r in a}
    assert got.get("P", 0) == n_p
    # hash-sampled strata land near their 10% rate (binomial-loose bound)
    for st in ("F", "O"):
        n_st = o.filter(F.col("o_orderstatus") == st).count()
        assert 0.03 * n_st < got.get(st, 0) < 0.25 * n_st, (st, got)


def test_sampleby_rng_alternative_deterministic(spark, sf_smoke):
    """The seeded-RNG sampler (`sampleBy`) remains covered as the engine
    alternative to the registered hash sampler: deterministic for a fixed
    seed + input layout, exact on a 100% stratum."""
    from vat_etl_spark.sources.catalog import read_table

    o = read_table(spark, sf_smoke, "orders")
    fr = {"F": 0.1, "O": 0.1, "P": 1.0}
    a = o.sampleBy("o_orderstatus", fractions=fr, seed=42).collect()
    b = o.sampleBy("o_orderstatus", fractions=fr, seed=42).collect()
    assert sorted(r.o_orderkey for r in a) == sorted(r.o_orderkey for r in b)
    n_p = o.filter(F.col("o_orderstatus") == "P").count()
    assert sum(1 for r in a if r.o_orderstatus == "P") == n_p


def test_hll_rollup_within_error_bound(spark, sf_smoke):
    """Raw-estimate numerics (±3% at lgConfigK=14) via the inner frame;
    the registered query's output is the hash-stable (exact, verdict)
    projection, asserted alongside."""
    from vat_etl_spark.queries.relational import _hll_rollup_frame

    rows = _hll_rollup_frame(spark, sf_smoke).collect()
    assert rows
    for r in rows:
        n = r.exact_distinct_customers
        assert abs(r.approx_distinct_customers - n) <= max(3, 0.03 * n), tuple(r)
    reg = QUERIES["agg_hll_mergeable"](spark, sf_smoke).collect()
    assert {x.yr for x in reg} == {r.yr for r in rows}
    assert all(x.within_bound for x in reg)


def test_orc_roundtrip(spark, sf_smoke, tmp_path):
    from vat_etl_spark.sources.catalog import read_orc, read_table
    from vat_etl_spark.sources.sinks import write_orc

    df = read_table(spark, sf_smoke, "nation")
    out = str(tmp_path / "nation_orc")
    write_orc(df, out)
    back = read_orc(spark, out)
    assert back.schema == df.schema
    assert sorted(r.n_name for r in back.collect()) == sorted(
        r.n_name for r in df.collect()
    )


def test_countmin_estimates_bound_exact_counts(spark, sf_smoke):
    from vat_etl_spark.queries.relational import _countmin_frame

    raw = _countmin_frame(spark, sf_smoke)
    assert len(raw) == 10
    for pk, exact, est, n_total in raw:
        assert est >= exact  # CMS never undercounts
        assert est <= exact + 0.01 * n_total  # ε·N w.h.p.
    rows = QUERIES["agg_countmin_heavy_hitters"](spark, sf_smoke).collect()
    assert len(rows) == 10
    assert all(r.est_ge_exact and r.est_within_eps for r in rows)


def test_rolling_hll_tracks_exact_rolling_distinct(spark, sf_smoke):
    from vat_etl_spark.queries.timeseries import _rolling_hll_frame

    raw = {
        r.anchor_day: (r.approx_users_7d, r.exact_users_7d)
        for r in _rolling_hll_frame(spark, sf_smoke).collect()
    }
    exact = {
        r.day: r.users_7d
        for r in QUERIES["ts_rolling_distinct_users"](spark, sf_smoke).collect()
    }
    assert set(raw) == set(exact)
    for day, ex in exact.items():
        est, ex_frame = raw[day]
        assert ex_frame == ex, (day, ex_frame, ex)  # inner exact == twin
        assert abs(est - ex) <= max(2, 0.03 * ex), (day, est, ex)
    reg = QUERIES["ts_rolling_distinct_hll"](spark, sf_smoke).collect()
    assert {r.anchor_day for r in reg} == set(exact)
    assert all(r.within_bound for r in reg)


def test_hll_intersection_tracks_exact_overlap(spark, sf_smoke):
    from vat_etl_spark.queries.dedup import _hll_intersection_frame
    from vat_etl_spark.sources.catalog import read_events

    d = _hll_intersection_frame(spark, sf_smoke)
    # read_events branches on the parquet ts physical type (long vs
    # timestamp_ntz) — hand-rolling the conversion breaks on Sparks that
    # read NANOS natively (catalog.py:40-44).
    e = read_events(spark, sf_smoke)
    clickers = {r.user_id for r in e.where("event_type = 'click'").select("user_id").distinct().collect()}
    purchasers = {r.user_id for r in e.where("event_type = 'purchase'").select("user_id").distinct().collect()}
    exact = len(clickers & purchasers)
    assert exact > 0
    assert d["exact_intersection"] == exact
    # inclusion-exclusion compounds three ±~1% sketch errors
    assert abs(d["intersection_est"] - exact) <= max(3, 0.1 * exact), (d, exact)
    row = QUERIES["agg_hll_intersection"](spark, sf_smoke).collect()[0]
    assert row.within_bound and row.exact_intersection == exact
