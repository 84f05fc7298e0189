"""two_pass_rank / two_pass_ntile / two_pass_prefix_sum must be bit-identical
to the single-partition global-window spellings they replace (rank arithmetic
is layout-free), while partitioning their WindowExec by range bucket."""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from vat_etl_spark.functions.ranks import (
    two_pass_ntile,
    two_pass_ntile_multi,
    two_pass_prefix_sum,
    two_pass_rank,
)
from vat_etl_spark.plans import unpartitioned_window_bound_kinds


def _df(spark):
    return spark.range(0, 5000).select(
        (F.col("id") % 613).alias("v"),
        F.col("id").alias("uid"),
        ((F.col("id") * 37) % 11 - 5).alias("delta"),
    )


def test_rank_matches_global_window_asc_and_desc(spark):
    df = _df(spark)
    for order, wspec in [
        ([("v", "asc"), ("uid", "asc")], W.orderBy("v", "uid")),
        ([("v", "desc"), ("uid", "asc")], W.orderBy(F.desc("v"), "uid")),
    ]:
        exp = df.select("v", "uid", F.row_number().over(wspec).alias("rk"))
        got = two_pass_rank(df.select("v", "uid"), order, rank_col="rk").select(
            "v", "uid", F.col("rk").cast("int").alias("rk")
        )
        assert exp.exceptAll(got).count() == 0
        assert got.count() == df.count()


def test_ntile_matches_global_window_uneven_k(spark):
    df = _df(spark)
    for k in (5, 7, 13):  # 5000 % 7 != 0 exercises the uneven-tile split
        exp = df.select("uid", F.ntile(k).over(W.orderBy("v", "uid")).alias("t"))
        got = two_pass_ntile(
            df.select("v", "uid"), [("v", "asc"), ("uid", "asc")], k, tile_col="t"
        ).select("uid", "t")
        assert exp.exceptAll(got).count() == 0


def test_prefix_sum_matches_global_window(spark):
    df = _df(spark)
    exp = df.select(
        "uid",
        F.sum("delta")
        .over(W.orderBy("v", "uid").rowsBetween(W.unboundedPreceding, W.currentRow))
        .alias("cs"),
    )
    got = two_pass_prefix_sum(
        df, [("v", "asc"), ("uid", "asc")], "delta", out_col="cs"
    ).select("uid", "cs")
    assert exp.exceptAll(got).count() == 0


def test_two_pass_plans_have_partitioned_windows_only(spark):
    df = _df(spark)
    ranked = two_pass_rank(df.select("v", "uid"), [("v", "asc"), ("uid", "asc")])
    assert unpartitioned_window_bound_kinds(ranked) == []


def test_empty_input(spark):
    df = _df(spark).filter(F.lit(False))
    assert two_pass_rank(df.select("v", "uid"), [("v", "asc"), ("uid", "asc")]).count() == 0
    assert (
        two_pass_prefix_sum(df, [("v", "asc"), ("uid", "asc")], "delta", out_col="cs").count()
        == 0
    )


def test_ntile_multi_matches_per_metric_global_windows(spark):
    """Fused multi-metric ntile == three independent global ntiles, and the
    piggybacked extra aggregate comes back correct."""
    df = _df(spark)
    exp = df.select(
        "uid",
        F.ntile(5).over(W.orderBy("v", "uid")).alias("a"),
        F.ntile(5).over(W.orderBy(F.desc("delta"), "uid")).alias("b"),
        F.ntile(5).over(W.orderBy(F.desc("uid"))).alias("c"),
    )
    got, extras = two_pass_ntile_multi(
        df,
        [
            ([("v", "asc"), ("uid", "asc")], "a"),
            ([("delta", "desc"), ("uid", "asc")], "b"),
            ([("uid", "desc")], "c"),
        ],
        5,
        extra_aggs={"n": F.count("*"), "mx": F.max("uid")},
    )
    assert extras["n"] == 5000 and extras["mx"] == 4999
    assert exp.exceptAll(got.select("uid", "a", "b", "c")).count() == 0
    assert unpartitioned_window_bound_kinds(got) == []


def test_ntile_multi_runs_two_driver_jobs(spark):
    """The fusion contract: ONE boundary-sample job + ONE fused count query
    for any number of metrics (the whole point vs per-metric two_pass_ntile,
    which costs two driver round-trips EACH). AQE materializes the count
    query's shuffle stage as a job of its own, so the ceiling is 3 jobs —
    constant in the number of metrics."""
    sc = spark.sparkContext
    df = _df(spark).localCheckpoint(eager=True)  # pin input outside the count
    sc.setJobGroup("ntile-multi-jobcount", "fusion contract")
    try:
        two_pass_ntile_multi(
            df,
            [
                ([("v", "asc"), ("uid", "asc")], "a"),
                ([("delta", "desc"), ("uid", "asc")], "b"),
                ([("uid", "desc")], "c"),
            ],
            5,
            extra_aggs={"n": F.count("*")},
        )
    finally:
        sc.setJobGroup("", "")
    jobs = sc.statusTracker().getJobIdsForGroup("ntile-multi-jobcount")
    assert len(jobs) <= 3, jobs


def test_rank_matches_global_window_on_string_double_decimal_keys(spark):
    """The SQL-text boundary literals (_sql_lit) must compare exactly like
    F.lit across key types: strings with quotes/backslashes/unicode,
    round-trip doubles, exact decimals."""
    rows = []
    for i in range(800):
        s = ["alpha", "it's", 'back\\slash', "ünïcode", "", "  pad  ", "zz'z"][i % 7]
        rows.append((f"{s}#{i % 13}", (i * 73 % 997) / 7.0, i))
    df = spark.createDataFrame(rows, "s string, x double, uid long").withColumn(
        "d", F.col("x").cast("decimal(12,4)")
    )
    for order, wspec in [
        ([("s", "asc"), ("uid", "asc")], W.orderBy("s", "uid")),
        ([("x", "desc"), ("uid", "asc")], W.orderBy(F.desc("x"), "uid")),
        ([("d", "asc"), ("uid", "asc")], W.orderBy("d", "uid")),
    ]:
        exp = df.select("uid", F.row_number().over(wspec).alias("rk"))
        got = two_pass_rank(df, order, rank_col="rk", buckets=16).select(
            "uid", F.col("rk").cast("int").alias("rk")
        )
        assert exp.exceptAll(got).count() == 0, order


def test_rank_invariant_to_bucket_count(spark):
    """Layout-freeness, pinned: the same total order must produce the same
    ranks for ANY bucket count (1, 7, 64) and any boundary sample size —
    bucket geometry is a physical choice, never a semantic one."""
    df = _df(spark).select("v", "uid")
    base = two_pass_rank(df, [("v", "asc"), ("uid", "asc")], buckets=32).collect()
    want = sorted((r.v, r.uid, r.rk) for r in base)
    for buckets, spb in ((1, 8), (7, 4), (64, 128)):
        got = two_pass_rank(
            df, [("v", "asc"), ("uid", "asc")], buckets=buckets,
            sample_per_bucket=spb,
        ).collect()
        assert sorted((r.v, r.uid, r.rk) for r in got) == want, buckets


def test_histogram_ntile_grouped_matches_ntile_without_ties(spark):
    """On tie-free data the histogram bucketing must equal row-ntile
    exactly, per group; with ties, equal metric values must share a
    bucket and sizes stay equi-depth up to one tie class."""
    import random

    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from vat_etl_spark.functions.ranks import histogram_ntile_grouped

    rng = random.Random(5)
    # tie-free: distinct metric per row within each group
    rows = []
    for g in ("a", "b", "c"):
        vals = rng.sample(range(10_000), rng.randint(7, 40))
        rows += [(g, v) for v in vals]
    df = spark.createDataFrame(rows, "g string, m long")
    got = {
        (r.g, r.m): r.bucket
        for r in histogram_ntile_grouped(df, ["g"], "m", 4).collect()
    }
    want = {
        (r.g, r.m): r.nt
        for r in df.withColumn(
            "nt", F.ntile(4).over(W.partitionBy("g").orderBy("m"))
        ).collect()
    }
    assert got == want

    # ties: every equal value shares a bucket; equi-depth up to tie class
    tied = spark.createDataFrame(
        [("g", v) for v in [1, 1, 1, 2, 2, 5, 5, 5, 9, 9, 9, 9]],
        "g string, m long",
    )
    out = histogram_ntile_grouped(tied, ["g"], "m", 3).collect()
    by_val = {}
    for r in out:
        by_val.setdefault(r.m, set()).add(r.bucket)
    assert all(len(s) == 1 for s in by_val.values()), by_val
    sizes = {}
    for r in out:
        sizes[r.bucket] = sizes.get(r.bucket, 0) + 1
    assert max(sizes.values()) - min(sizes.values()) <= 4, sizes
