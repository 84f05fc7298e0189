"""General relational surface (SURVEY.md §7 tier 3): joins (broadcast /
sort-merge / semi / anti / outer / non-equi range), aggregation variants,
set operations, rollup/cube, pivot, top-k. The reference has zero relational
joins (SURVEY.md §2.5) — its dict lookups are broadcast joins against tiny
dims — but the engine class requires the full surface; all of it is built-in
DataFrame API, so the work here is surface + oracle parity.

Scale notes (100 TB): fact-fact joins (lineitem⋈orders) shuffle on the join
key — on a real cluster both sides would be bucketed on orderkey making this
a shuffle-free sort-merge; dim joins (region/nation/customer-sized) are
explicitly broadcast. Aggregates use map-side partial aggregation for free.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from vat_etl_spark.functions.numeric import (
    davg,
    davg_sql,
    dsum,
    dsum_sql,
    dsumx,
    dsumx_sql,
    havg_merge,
    hsum_merge,
    hsum_partial,
)
from vat_etl_spark.functions.localrel import local_rows_df
from vat_etl_spark.functions.ranks import two_pass_ntile, two_pass_rank
from vat_etl_spark.queries import query
from vat_etl_spark.sources.catalog import read_table as _t


# --- Q1-style pricing summary: the canonical wide aggregate -----------------

_Q1_SQL = f"""
SELECT l_returnflag, l_linestatus,
  {dsum_sql("l_quantity")} AS sum_qty,
  {dsum_sql("l_extendedprice")} AS sum_base_price,
  {dsum_sql("l_extendedprice * (1.0 - l_discount)")} AS sum_disc_price,
  {dsum_sql("(l_extendedprice * (1.0 - l_discount)) * (1.0 + l_tax)")} AS sum_charge,
  {davg_sql("l_quantity")} AS avg_qty,
  count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2000-12-01 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


@query("q1_pricing_summary", oracle=_Q1_SQL)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q1-style grouped aggregate; filter pushed to the parquet scan.
    Hierarchical exact sums (functions/numeric.py): stage 1 accumulates
    long-micros per (group, input partition) — pure codegen'd long
    arithmetic, bounded by partition size so it never overflows at any total
    scale; stage 2 decimal-merges the tiny partial set. Bit-identical to the
    dsum form, ~1.5× faster on the wide-agg path."""
    li = _t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    charge = disc_price * (F.lit(1.0) + F.col("l_tax"))
    SUMS = {
        "sum_qty": F.col("l_quantity"),
        "sum_base_price": F.col("l_extendedprice"),
        "sum_disc_price": disc_price,
        "sum_charge": charge,
    }
    st1 = (
        li.filter(F.col("l_shipdate") <= F.lit("2000-12-01 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus", F.spark_partition_id().alias("_pid"))
        .agg(
            *[hsum_partial(e).alias(f"_{n}") for n, e in SUMS.items()],
            F.count("*").alias("_n"),
        )
    )
    return st1.groupBy("l_returnflag", "l_linestatus").agg(
        *[hsum_merge(F.col(f"_{n}")).alias(n) for n in SUMS],
        havg_merge(F.col("_sum_qty"), F.col("_n")).alias("avg_qty"),
        F.sum("_n").alias("count_order"),
    )


# --- multi-way join + top-k -------------------------------------------------

_TOPK_SQL = f"""
SELECT c.c_custkey, c.c_name,
  {dsum_sql("o.o_totalprice")} AS total_spend,
  count(*) AS n_orders
FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
GROUP BY c.c_custkey, c.c_name
ORDER BY total_spend DESC, c.c_custkey
LIMIT 10
"""


@query("topk_customers", oracle=_TOPK_SQL)
def topk_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join + aggregate + deterministic top-k (Catalyst rewrites the
    orderBy+limit to TakeOrderedAndProject — no global sort)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    st1 = (
        c.join(o, c["c_custkey"] == o["o_custkey"])
        .groupBy("c_custkey", "c_name", F.spark_partition_id().alias("_pid"))
        .agg(hsum_partial(F.col("o_totalprice")).alias("_ts"), F.count("*").alias("_n"))
    )
    return (
        st1.groupBy("c_custkey", "c_name")
        .agg(hsum_merge(F.col("_ts")).alias("total_spend"), F.sum("_n").alias("n_orders"))
        .orderBy(F.desc("total_spend"), F.asc("c_custkey"))
        .limit(10)
    )


# --- Q5-style region revenue: 6-way join with broadcast dims ----------------

_Q5_SQL = f"""
SELECT r_name AS region, n_name AS nation,
  {dsum_sql("l_extendedprice * (1.0 - l_discount)")} AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
GROUP BY r_name, n_name
"""


@query("q5_region_revenue", oracle=_Q5_SQL)
def q5_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q5-style: two fact tables shuffled on orderkey. Broadcast
    hints go ONLY on nation/region (constant 25/5 rows at every SF).
    customer/supplier grow linearly with SF, so a hard ``F.broadcast``
    would override the 64 MB threshold and OOM executors at 100× — they
    are left unhinted and the threshold + AQE pick broadcast while they
    fit, shuffle join once they don't."""
    li, o = _t(spark, sf_dir, "lineitem"), _t(spark, sf_dir, "orders")
    c, s = _t(spark, sf_dir, "customer"), _t(spark, sf_dir, "supplier")
    n, r = _t(spark, sf_dir, "nation"), _t(spark, sf_dir, "region")
    o = o.filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    j = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(
            s,
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("s_nationkey") == F.col("c_nationkey")),
        )
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
    )
    revenue = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    st1 = j.groupBy(
        F.col("r_name").alias("region"),
        F.col("n_name").alias("nation"),
        F.spark_partition_id().alias("_pid"),
    ).agg(hsum_partial(revenue).alias("_rev"))
    return st1.groupBy("region", "nation").agg(hsum_merge(F.col("_rev")).alias("revenue"))


# --- semi / anti / outer joins ----------------------------------------------

_SEMI_SQL = """
SELECT c_mktsegment, count(*) AS n_customers
FROM customer
WHERE EXISTS (
  SELECT 1 FROM orders
  WHERE o_custkey = c_custkey AND year(o_orderdate) = 1997
)
GROUP BY c_mktsegment
"""


@query("join_semi_active_customers", oracle=_SEMI_SQL)
def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """left_semi = EXISTS; never duplicates the left side."""
    c, o = _t(spark, sf_dir, "customer"), _t(spark, sf_dir, "orders")
    active = o.filter(F.year("o_orderdate") == 1997)
    return (
        c.join(active, c["c_custkey"] == active["o_custkey"], "left_semi")
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_customers"))
    )


_ANTI_SQL = """
SELECT n_name AS nation, count(*) AS n_inactive
FROM customer JOIN nation ON c_nationkey = n_nationkey
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
GROUP BY n_name
"""


@query("join_anti_inactive_customers", oracle=_ANTI_SQL)
def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """left_anti = NOT EXISTS."""
    c, o, n = _t(spark, sf_dir, "customer"), _t(spark, sf_dir, "orders"), _t(spark, sf_dir, "nation")
    return (
        c.join(o, c["c_custkey"] == o["o_custkey"], "left_anti")
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy(F.col("n_name").alias("nation"))
        .agg(F.count("*").alias("n_inactive"))
    )


_OUTER_SQL = """
SELECT o_orderpriority, count(*) AS n_orders,
       CAST(sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_lineless
FROM orders LEFT JOIN lineitem ON o_orderkey = l_orderkey AND l_linenumber = 1
GROUP BY o_orderpriority
"""


@query("join_outer_order_lines", oracle=_OUTER_SQL)
def join_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join with a compound condition; counts preserved rows."""
    o, li = _t(spark, sf_dir, "orders"), _t(spark, sf_dir, "lineitem")
    li1 = li.filter(F.col("l_linenumber") == 1)
    return (
        o.join(li1, o["o_orderkey"] == li1["l_orderkey"], "left")
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(F.when(F.col("l_orderkey").isNull(), 1).otherwise(0)).alias("n_lineless"),
        )
    )


# --- non-equi range join ----------------------------------------------------

_RANGE_SQL = f"""
WITH bands(band, lo, hi) AS (
  VALUES ('small', 0.0, 15.0), ('medium', 15.0, 30.0),
         ('large', 30.0, 45.0), ('jumbo', 45.0, 1e9)
)
SELECT band, count(*) AS n_items, {dsum_sql("l_extendedprice")} AS band_value
FROM lineitem JOIN bands ON l_quantity >= lo AND l_quantity < hi
GROUP BY band
"""


@query("join_range_quantity_bands", oracle=_RANGE_SQL)
def join_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-equi (range) join against a tiny broadcast bands dim — the
    broadcast-nested-loop pattern for interval lookups."""
    li = _t(spark, sf_dir, "lineitem")
    bands = local_rows_df(
        li.sparkSession,
        [("small", 0.0, 15.0), ("medium", 15.0, 30.0),
         ("large", 30.0, 45.0), ("jumbo", 45.0, 1e9)],
        "band string, lo double, hi double",
    )
    j = li.join(
        F.broadcast(bands),
        (F.col("l_quantity") >= F.col("lo")) & (F.col("l_quantity") < F.col("hi")),
    )
    return j.groupBy("band").agg(
        F.count("*").alias("n_items"), dsum(F.col("l_extendedprice")).alias("band_value")
    )


# --- set operations ---------------------------------------------------------

_SETOP_SQL = """
SELECT o_custkey AS custkey FROM orders WHERE year(o_orderdate) = 1996
EXCEPT
SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1997
"""


@query("setop_except_customers", oracle=_SETOP_SQL)
def setop_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT (distinct): customers active in 1996 but not 1997."""
    o = _t(spark, sf_dir, "orders")
    a = o.filter(F.year("o_orderdate") == 1996).select(F.col("o_custkey").alias("custkey"))
    b = o.filter(F.year("o_orderdate") == 1997).select(F.col("o_custkey").alias("custkey"))
    return a.distinct().exceptAll(b.distinct())


_INTERSECT_SQL = """
SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'
INTERSECT
SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
"""


@query("setop_intersect_customers", oracle=_INTERSECT_SQL)
def setop_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    a = o.filter(F.col("o_orderstatus") == "F").select(F.col("o_custkey").alias("custkey"))
    b = o.filter(F.col("o_orderstatus") == "O").select(F.col("o_custkey").alias("custkey"))
    return a.intersect(b)


# --- rollup / cube / pivot --------------------------------------------------

_ROLLUP_SQL = f"""
SELECT year(o_orderdate) AS yr, month(o_orderdate) AS mon,
  {dsum_sql("o_totalprice")} AS revenue, count(*) AS n
FROM orders GROUP BY ROLLUP (year(o_orderdate), month(o_orderdate))
"""


@query("agg_rollup_period", oracle=_ROLLUP_SQL)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP over (year, month): per-month, per-year subtotal, grand total."""
    o = _t(spark, sf_dir, "orders")
    # hierarchical: (full keys, partition) micros partials first, ROLLUP
    # merges partials (sum is associative, so rolling up pre-aggregated
    # partials is exact; the pid key keeps each partial partition-bounded)
    st1 = o.groupBy(
        F.year("o_orderdate").alias("yr"),
        F.month("o_orderdate").alias("mon"),
        F.spark_partition_id().alias("_pid"),
    ).agg(hsum_partial(F.col("o_totalprice")).alias("_rev"), F.count("*").alias("_n"))
    return st1.rollup("yr", "mon").agg(
        hsum_merge(F.col("_rev")).alias("revenue"), F.sum("_n").alias("n")
    )


_CUBE_SQL = f"""
SELECT l_returnflag, l_linestatus, {dsum_sql("l_quantity")} AS qty
FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
"""


@query("agg_cube_flags", oracle=_CUBE_SQL)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(dsum(F.col("l_quantity")).alias("qty"))


_PIVOT_SQL = f"""
SELECT year(o_orderdate) AS yr,
  {dsum_sql("CASE WHEN o_orderstatus = 'O' THEN o_totalprice END")} AS status_O,
  {dsum_sql("CASE WHEN o_orderstatus = 'F' THEN o_totalprice END")} AS status_F,
  {dsum_sql("CASE WHEN o_orderstatus = 'P' THEN o_totalprice END")} AS status_P
FROM orders GROUP BY year(o_orderdate)
"""


@query("agg_pivot_status", oracle=_PIVOT_SQL)
def agg_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot with explicit value list (avoids the extra distinct-values job —
    at scale always pass the pivot values)."""
    o = _t(spark, sf_dir, "orders")
    out = (
        o.groupBy(F.year("o_orderdate").alias("yr"))
        .pivot("o_orderstatus", ["O", "F", "P"])
        .agg(dsum(F.col("o_totalprice")))
    )
    # a pivot cell with zero input rows is NULL (the aggregate never runs);
    # the SQL twin's CASE-sum coalesces to 0.0, so match that here
    return out.select(
        "yr",
        F.coalesce(F.col("O"), F.lit(0.0)).alias("status_O"),
        F.coalesce(F.col("F"), F.lit(0.0)).alias("status_F"),
        F.coalesce(F.col("P"), F.lit(0.0)).alias("status_P"),
    )


# --- distinct-count surface -------------------------------------------------

_DISTINCT_SQL = """
SELECT l_returnflag,
  count(DISTINCT l_orderkey) AS n_orders,
  count(DISTINCT l_partkey) AS n_parts
FROM lineitem GROUP BY l_returnflag
"""


@query("agg_count_distinct", oracle=_DISTINCT_SQL)
def agg_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct counts (expand + two-phase agg under the hood).
    approx_count_distinct is the 100 TB path but is engine-specific, so the
    oracle pins the exact variant; the approx variant is exposed in
    operators and benched separately."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_orderkey").alias("n_orders"),
        F.countDistinct("l_partkey").alias("n_parts"),
    )


# --- union-all (U1) -----------------------------------------------------------

_UNION_SQL = """
SELECT src, count(*) AS n FROM (
  SELECT 'h1' AS src, o_custkey FROM orders WHERE year(o_orderdate) <= 1997
  UNION ALL
  SELECT 'h2' AS src, o_custkey FROM orders WHERE year(o_orderdate) >= 1998
) GROUP BY src
"""


@query("union_all_halves", oracle=_UNION_SQL)
def union_all_halves(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-aligned union-all (reference U1, pd.concat at fianl2.py:227 →
    unionByName)."""
    o = _t(spark, sf_dir, "orders")
    h1 = o.filter(F.year("o_orderdate") <= 1997).select(
        F.lit("h1").alias("src"), "o_custkey"
    )
    h2 = o.filter(F.year("o_orderdate") >= 1998).select(
        F.lit("h2").alias("src"), "o_custkey"
    )
    return h1.unionByName(h2).groupBy("src").agg(F.count("*").alias("n"))


# --- GROUPING SETS ------------------------------------------------------------

_GSETS_SQL = f"""
SELECT o_orderstatus, o_orderpriority, {dsum_sql("o_totalprice")} AS revenue
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
"""


@query("agg_grouping_sets", oracle=_GSETS_SQL)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (by-status, by-priority, grand total) via the
    SQL surface — same Catalyst Expand-based plan as rollup/cube."""
    _t(spark, sf_dir, "orders").createOrReplaceTempView("orders_gs")
    return spark.sql(
        f"""
        SELECT o_orderstatus, o_orderpriority, {{}} AS revenue
        FROM orders_gs
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """.format(
            "coalesce(cast(round(sum(cast(o_totalprice AS DECIMAL(30,6))), 2) AS DOUBLE), 0.0)"
        )
    )


# --- mode / most-frequent (A3) --------------------------------------------------

_MODE_SQL = """
SELECT yr, mon, n FROM (
  SELECT year(o_orderdate) AS yr, month(o_orderdate) AS mon, count(*) AS n
  FROM orders GROUP BY 1, 2
) ORDER BY n DESC, yr, mon LIMIT 1
"""


@query("agg_mode_period", oracle=_MODE_SQL)
def agg_mode_period(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Most frequent (year, month) with a deterministic tie-break — the
    engine's form of the reference's year-mode detection (A3,
    fianl2.py:115-126; ingest-time use lives in sources.excel._mode_year)."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.groupBy(F.year("o_orderdate").alias("yr"), F.month("o_orderdate").alias("mon"))
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("yr"), F.asc("mon"))
        .limit(1)
    )


_APPROX_DISTINCT_SQL = """
SELECT l_returnflag,
       CAST(count(DISTINCT l_orderkey) AS BIGINT) AS exact_orders,
       TRUE AS within_5rsd
FROM lineitem GROUP BY l_returnflag
"""


@query("agg_approx_distinct", oracle=_APPROX_DISTINCT_SQL)
def agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HyperLogLog++) — the 100 TB path for distinct
    counts (fixed-size sketch, mergeable, no expand); exact twin is
    agg_count_distinct.

    The sketch and the exact count are SEPARATE aggregations joined on the
    3-row group key: mixing a distinct aggregate with approx_count_distinct
    in one agg makes Spark expand to per-(group, value) partial rows, each
    carrying a 16 KB rsd=0.01 HLL buffer through the shuffle — measured
    6.5 s vs 1.4 s split at sf0.1 (the whole point of the sketch is NOT to
    materialize per-value state).

    ERROR-BOUND ORACLE (round-9 graduation from rows-only): the raw HLL
    estimate is engine-specific, so what the hash gate pins is the exact
    count plus the ACCURACY CONTRACT — ``within_5rsd`` is computed
    Spark-side as |approx/exact − 1| ≤ 5·rsd (rsd=0.01; the sketch is
    merge-order-independent, so the verdict is a deterministic fact of
    the input), and the oracle states the expected verdict. A sketch
    regression flips the boolean and fails the hash. The numeric estimate
    itself stays asserted in tests/test_numeric.py.

    Round 10 (ADVICE): the bound is 5·rsd, not 3 — rsd is a standard
    deviation, not a hard bound, and a 3σ gate would legitimately fail
    ~0.3% of (dataset, group) draws with no regression; at 5σ a flip is a
    near-certain signal. The verdict remains a deterministic fact of the
    PINNED input either way — the widening buys contract headroom on
    future datasets, not flakiness on this one."""
    li = _t(spark, sf_dir, "lineitem")
    approx = li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_orderkey", 0.01).alias("approx_orders")
    )
    exact = li.groupBy("l_returnflag").agg(
        F.countDistinct("l_orderkey").alias("exact_orders")
    )
    j = approx.join(exact, "l_returnflag")
    return j.select(
        "l_returnflag",
        "exact_orders",
        (
            F.abs(
                F.col("approx_orders").cast("double")
                / F.col("exact_orders").cast("double")
                - 1.0
            )
            <= 0.05
        ).alias("within_5rsd"),
    )


# --- subqueries (EXISTS / scalar / HAVING) ------------------------------------

_EXISTS_SQL = """
SELECT c_mktsegment, count(*) AS n_customers
FROM customer c
WHERE EXISTS (
  SELECT 1 FROM orders o
  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 10 * c.c_acctbal
)
GROUP BY c_mktsegment
"""


@query("subquery_exists_correlated", oracle=_EXISTS_SQL)
def subquery_exists_correlated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS with a non-equi correlated predicate — planned as a
    left-semi join on (equality, inequality); the equality key drives the
    shuffle, the inequality rides along as a join residual."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    cond = (F.col("c_custkey") == F.col("o_custkey")) & (
        F.col("o_totalprice") > 10 * F.col("c_acctbal")
    )
    return (
        c.join(o, cond, "left_semi")
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_customers"))
    )


_SCALAR_SQL = f"""
SELECT o_orderstatus, count(*) AS n, {dsum_sql("o_totalprice")} AS revenue
FROM orders
WHERE o_totalprice > (SELECT 0.5 * max(o_totalprice) FROM orders)
GROUP BY o_orderstatus
"""


@query("subquery_scalar_threshold", oracle=_SCALAR_SQL)
def subquery_scalar_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar subquery (orders above half the global max price) as a
    broadcast of a 1-row aggregate — the plan stays fully lazy, no
    driver-side collect; max/×0.5 are exact in doubles so both engines
    compute the identical threshold."""
    o = _t(spark, sf_dir, "orders")
    thresh = o.agg((0.5 * F.max("o_totalprice")).alias("_thresh"))
    return (
        o.crossJoin(F.broadcast(thresh))
        .filter(F.col("o_totalprice") > F.col("_thresh"))
        .groupBy("o_orderstatus")
        .agg(F.count("*").alias("n"), dsum(F.col("o_totalprice")).alias("revenue"))
    )


_HAVING_SQL = """
SELECT o_custkey, count(*) AS n_orders
FROM orders GROUP BY o_custkey HAVING count(*) >= 18
"""


@query("agg_having", oracle=_HAVING_SQL)
def agg_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HAVING = post-aggregation filter; Catalyst keeps it above the
    aggregate (it references the aggregate output, nothing to push)."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.groupBy("o_custkey")
        .agg(F.count("*").alias("n_orders"))
        .filter(F.col("n_orders") >= 18)
    )


# --- skew handling: salted join / two-stage aggregation -----------------------

_SKEW_JOIN_SQL = f"""
SELECT o_orderpriority, count(*) AS n, {dsum_sql("l_quantity")} AS sum_qty
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderpriority
"""


@query("join_skew_salted", oracle=_SKEW_JOIN_SQL)
def join_skew_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manually salted shuffle join: the probe side gets a deterministic
    salt in [0, N), the build side is exploded N-way, and the join key
    becomes (key, salt) — splitting any single hot key across N reducers.
    AQE's skew-join split handles sort-merge skew automatically at runtime;
    manual salting is the tool when AQE can't help (broadcast-ineligible
    build side with one giant key, or skewed aggregations — see
    agg_skew_two_stage). Result is provably identical to the unsalted join
    (the oracle runs the plain join)."""
    n_salt = 8
    li = _t(spark, sf_dir, "lineitem").withColumn(
        "_salt", F.pmod(F.col("l_linenumber") + F.col("l_orderkey"), F.lit(n_salt))
    )
    o = _t(spark, sf_dir, "orders").withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(n_salt - 1)))
    )
    cond = (li["l_orderkey"] == o["o_orderkey"]) & (li["_salt"] == o["_salt"])
    return (
        li.join(o.hint("merge"), cond)
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n"), dsum(F.col("l_quantity")).alias("sum_qty"))
    )


_SKEW_AGG_SQL = f"""
SELECT l_returnflag, count(*) AS n, {dsum_sql("l_extendedprice")} AS revenue
FROM lineitem GROUP BY l_returnflag
"""


@query("agg_skew_two_stage", oracle=_SKEW_AGG_SQL)
def agg_skew_two_stage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage (salted) aggregation for low-cardinality/skewed group keys:
    stage 1 groups by (key, salt) so every reducer gets work; stage 2 merges
    the ≤ key×N_SALT partials. DECIMAL partial sums make the two-stage result
    bit-identical to the single-stage plan regardless of the split. (Spark's
    hash aggregate already does map-side partial aggregation; explicit
    salting is for when the *reduce* side still skews, e.g. 3 group keys on
    a 1000-executor cluster.)"""
    n_salt = 16
    li = _t(spark, sf_dir, "lineitem")
    partial = (
        li.withColumn("_salt", F.pmod(F.col("l_orderkey"), F.lit(n_salt)))
        .groupBy("l_returnflag", "_salt")
        .agg(
            F.count("*").alias("_n"),
            F.sum(F.col("l_extendedprice").cast("decimal(30,6)")).alias("_rev"),
        )
    )
    return partial.groupBy("l_returnflag").agg(
        F.sum("_n").alias("n"),
        F.coalesce(
            F.round(F.sum("_rev"), 2).cast("double"), F.lit(0.0)
        ).alias("revenue"),
    )


# --- Q14-style promo share (lineitem ⋈ part, broadcast dim) -------------------

_PROMO_SQL = f"""
SELECT p_brand,
  count(*) AS n_lines,
  {dsum_sql("l_extendedprice * (1.0 - l_discount)")} AS revenue,
  {dsum_sql("CASE WHEN p_type LIKE 'PROMO%' THEN l_extendedprice * (1.0 - l_discount) END")} AS promo_revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY p_brand
"""


@query("q14_promo_by_brand", oracle=_PROMO_SQL)
def q14_promo_by_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q14-style promo revenue share per brand: fact ⋈ broadcast part
    dim (part is ~1/30 of lineitem — always broadcast-sized), conditional
    decimal sums, one shuffle for the final group-by."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    promo = F.when(F.col("p_type").like("PROMO%"), rev)
    return (
        li.join(p, F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand")
        .agg(
            F.count("*").alias("n_lines"),
            dsum(rev).alias("revenue"),
            dsum(promo).alias("promo_revenue"),
        )
    )


# --- unpivot / melt -----------------------------------------------------------

_UNPIVOT_SQL = """
WITH wide AS (
  SELECT year(o_orderdate) AS yr,
         CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_f,
         CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_o,
         CAST(sum(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS n_p
  FROM orders GROUP BY 1
)
SELECT yr, status, n FROM (
  SELECT yr, 'F' AS status, n_f AS n FROM wide
  UNION ALL SELECT yr, 'O', n_o FROM wide
  UNION ALL SELECT yr, 'P', n_p FROM wide
)
"""


@query("reshape_unpivot", oracle=_UNPIVOT_SQL)
def reshape_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long reshaping via the first-class ``unpivot`` (reference A5's
    general form; the flagship's 4-row box shape uses the same mechanism
    via inline explode). Zero extra shuffles — unpivot is a map-side
    Expand."""
    o = _t(spark, sf_dir, "orders")
    wide = (
        o.groupBy(F.year("o_orderdate").alias("yr"))
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)))
        .na.fill(0)
        .select("yr", F.col("F").alias("n_f"), F.col("O").alias("n_o"), F.col("P").alias("n_p"))
    )
    return wide.unpivot(
        "yr", ["n_f", "n_o", "n_p"], "status_col", "n"
    ).select(
        "yr",
        F.upper(F.substring("status_col", 3, 1)).alias("status"),
        F.col("n"),
    )


_FULL_OUTER_SQL = """
WITH a AS (SELECT c_custkey, c_acctbal FROM customer WHERE c_custkey % 3 = 0),
     b AS (SELECT o_custkey, count(*) AS n_orders FROM orders
           WHERE o_custkey % 2 = 0 GROUP BY o_custkey)
SELECT
  coalesce(a.c_custkey, b.o_custkey) AS custkey,
  CASE WHEN a.c_custkey IS NULL THEN 'right_only'
       WHEN b.o_custkey IS NULL THEN 'left_only' ELSE 'both' END AS side,
  a.c_acctbal, b.n_orders
FROM a FULL OUTER JOIN b ON a.c_custkey = b.o_custkey
"""


@query("join_full_outer", oracle=_FULL_OUTER_SQL)
def join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join with preserved-side classification. Full outer can't
    broadcast (both sides must be preserved) — always a shuffle join on the
    key; at scale co-bucketing both sides removes the shuffle."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    a = c.filter(F.col("c_custkey") % 3 == 0).select("c_custkey", "c_acctbal")
    b = (
        o.filter(F.col("o_custkey") % 2 == 0)
        .groupBy("o_custkey")
        .agg(F.count("*").alias("n_orders"))
    )
    j = a.join(b, a["c_custkey"] == b["o_custkey"], "full_outer")
    side = (
        F.when(F.col("c_custkey").isNull(), "right_only")
        .when(F.col("o_custkey").isNull(), "left_only")
        .otherwise("both")
    )
    return j.select(
        F.coalesce(F.col("c_custkey"), F.col("o_custkey")).alias("custkey"),
        side.alias("side"),
        "c_acctbal",
        "n_orders",
    )


_EXCEPT_ALL_SQL = """
SELECT o_custkey, count(*) AS n FROM (
  SELECT o_custkey FROM orders WHERE o_totalprice > 1000
  EXCEPT ALL
  SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1998
) GROUP BY o_custkey
"""


@query("setop_except_all", oracle=_EXCEPT_ALL_SQL)
def setop_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT ALL (multiset difference — keeps multiplicity, unlike
    EXCEPT's implicit distinct)."""
    o = _t(spark, sf_dir, "orders")
    a = o.filter(F.col("o_totalprice") > 1000).select("o_custkey")
    b = o.filter(F.year("o_orderdate") == 1998).select("o_custkey")
    return a.exceptAll(b).groupBy("o_custkey").agg(F.count("*").alias("n"))


_INTERSECT_ALL_SQL = """
SELECT o_custkey, count(*) AS n FROM (
  SELECT o_custkey FROM orders WHERE o_totalprice > 1000
  INTERSECT ALL
  SELECT o_custkey FROM orders WHERE year(o_orderdate) >= 1996
) GROUP BY o_custkey
"""


@query("setop_intersect_all", oracle=_INTERSECT_ALL_SQL)
def setop_intersect_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT ALL (multiset intersection, min of multiplicities)."""
    o = _t(spark, sf_dir, "orders")
    a = o.filter(F.col("o_totalprice") > 1000).select("o_custkey")
    b = o.filter(F.year("o_orderdate") >= 1996).select("o_custkey")
    return a.intersectAll(b).groupBy("o_custkey").agg(F.count("*").alias("n"))


# --- upsert / MERGE emulation -------------------------------------------------

_UPSERT_SQL = """
WITH current AS (
  SELECT c_custkey, c_acctbal FROM customer WHERE c_custkey <= 1200
),
updates AS (
  SELECT c_custkey, c_acctbal + 100.0 AS c_acctbal
  FROM customer WHERE c_custkey % 5 = 0
)
SELECT coalesce(u.c_custkey, c.c_custkey) AS c_custkey,
       coalesce(u.c_acctbal, c.c_acctbal) AS c_acctbal,
       CASE WHEN u.c_custkey IS NULL THEN 'kept'
            WHEN c.c_custkey IS NULL THEN 'inserted' ELSE 'updated' END AS op
FROM current c FULL OUTER JOIN updates u ON c.c_custkey = u.c_custkey
"""


@query("pipeline_upsert", oracle=_UPSERT_SQL)
def pipeline_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE/upsert emulation on an immutable store: full outer join of the
    current snapshot with the update set, updates winning via coalesce, with
    per-row op classification. This is the Spark-native pattern where the
    format has no transactional MERGE — stage the merged result, then swap
    (dynamic partition overwrite writes only touched partitions, tested in
    test_sinks.py). At 100 TB: join on the key both sides are bucketed by."""
    c = _t(spark, sf_dir, "customer")
    cur = c.filter(F.col("c_custkey") <= 1200).select("c_custkey", "c_acctbal")
    upd = (
        c.filter(F.col("c_custkey") % 5 == 0)
        .select("c_custkey", (F.col("c_acctbal") + 100.0).alias("c_acctbal"))
    )
    j = cur.alias("c").join(
        upd.alias("u"), F.col("c.c_custkey") == F.col("u.c_custkey"), "full_outer"
    )
    op = (
        F.when(F.col("u.c_custkey").isNull(), "kept")
        .when(F.col("c.c_custkey").isNull(), "inserted")
        .otherwise("updated")
    )
    return j.select(
        F.coalesce(F.col("u.c_custkey"), F.col("c.c_custkey")).alias("c_custkey"),
        F.coalesce(F.col("u.c_acctbal"), F.col("c.c_acctbal")).alias("c_acctbal"),
        op.alias("op"),
    )


# the derived-moment arithmetic, shared verbatim by the Spark projection
# (F.expr) and the DuckDB oracle so both engines execute the IDENTICAL
# IEEE expression tree over bit-identical integer moments
_STATS_D = {
    "nd": "cast(n as double)",
    "sx": "cast(sx as double)",
    "sxx": "cast(sxx as double)",
    "sy": "cast(sy as double)",
    "syy": "cast(syy as double)",
    "sxy": "cast(sxy as double)",
}
# degenerate-group guards (round-10 ADVICE): for n=1 groups the (n−1)
# divisor is zero — Spark doubles yield NaN/±Inf where DuckDB yields NULL
# and sqrt(negative) hard-errors — so every statistic is wrapped in the
# SAME CASE guard in both engines and degenerate groups produce NULL on
# both sides. The THEN branches repeat the original expressions verbatim,
# so non-degenerate groups stay bit-identical to the round-9 form.
_VX = "({sxx} - {sx} * {sx} / {nd})".format(**_STATS_D)
_VY = "({syy} - {sy} * {sy} / {nd})".format(**_STATS_D)
_CXY = "({sxy} - {sx} * {sy} / {nd})".format(**_STATS_D)
_ND = _STATS_D["nd"]
_STATS_VAR = (
    f"CASE WHEN {_ND} > 1.0 AND {_VX} >= 0.0 "
    f"THEN ({_VX} / ({_ND} - 1.0)) / 10000.0 ELSE NULL END"
)
_STATS_EXPRS = {
    "stddev_price": (
        f"CASE WHEN {_ND} > 1.0 AND {_VX} >= 0.0 "
        f"THEN sqrt(({_VX} / ({_ND} - 1.0)) / 10000.0) ELSE NULL END"
    ),
    "var_price": _STATS_VAR,
    "corr_price_cust": (
        f"CASE WHEN {_VX} * {_VY} > 0.0 "
        f"THEN {_CXY} / sqrt({_VX} * {_VY}) ELSE NULL END"
    ),
    "covar_price_cust": (
        f"CASE WHEN {_ND} > 1.0 THEN ({_CXY} / ({_ND} - 1.0)) / 100.0 ELSE NULL END"
    ),
}

_STATS_SQL = """
WITH m AS (
  SELECT o_orderstatus,
    CAST(count(*) AS BIGINT) AS n,
    sum(CAST(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS DECIMAL(38,0))) AS sx,
    sum(CAST(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
             * CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS DECIMAL(38,0))) AS sxx,
    sum(CAST(o_custkey AS DECIMAL(38,0))) AS sy,
    sum(CAST(o_custkey * o_custkey AS DECIMAL(38,0))) AS syy,
    sum(CAST(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
             * o_custkey AS DECIMAL(38,0))) AS sxy
  FROM orders GROUP BY o_orderstatus
)
SELECT o_orderstatus, n,
  {stddev_price} AS stddev_price,
  {var_price} AS var_price,
  {corr_price_cust} AS corr_price_cust,
  {covar_price_cust} AS covar_price_cust
FROM m
""".format(**_STATS_EXPRS)


@query("agg_statistics", oracle=_STATS_SQL)
def agg_statistics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregates (stddev/variance/correlation/covariance) in
    the cross-engine-EXACT co-moment formulation: the five moments Σx,
    Σx², Σy, Σy², Σxy accumulate as EXACT integers (price in cents —
    2-dp money, so cents are exact and cents² stays inside long range,
    unlike price-micros² which would leave the double-exact domain),
    summed into DECIMAL(38,0); the derived statistics are then ONE fixed
    IEEE expression per output, shared VERBATIM with the DuckDB oracle
    (_STATS_EXPRS), so every operand and operation is bit-identical and
    the hash gate holds with no tolerance. Same single-pass,
    partial-aggregatable shape as the float-native builtins
    (stddev_samp/corr/covar_samp), which remain pinned against this exact
    form and numpy in test_numeric.py — graduated from rows-only in
    round 9."""
    o = _t(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice").cast("double") * 100 + F.lit(0.5)).cast(
        "long"
    )
    y = F.col("o_custkey")
    m = o.groupBy("o_orderstatus").agg(
        F.count("*").alias("n"),
        F.sum(cents.cast("decimal(38,0)")).alias("sx"),
        F.sum((cents * cents).cast("decimal(38,0)")).alias("sxx"),
        F.sum(y.cast("decimal(38,0)")).alias("sy"),
        F.sum((y * y).cast("decimal(38,0)")).alias("syy"),
        F.sum((cents * y).cast("decimal(38,0)")).alias("sxy"),
    )
    return m.select(
        "o_orderstatus",
        "n",
        *[F.expr(e).alias(name) for name, e in _STATS_EXPRS.items()],
    )


_PCT_APPROX_SQL = """
SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
       TRUE AS p50_in_bound, TRUE AS p90_in_bound, TRUE AS p99_in_bound
FROM lineitem GROUP BY l_returnflag
"""


@query("agg_percentile_approx", oracle=_PCT_APPROX_SQL)
def agg_percentile_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_percentile (KLL-style sketch): one pass, fixed memory,
    mergeable partials — the 100 TB path for quantiles (exact twin:
    agg_percentiles, which needs a per-group sort). accuracy=10000 bounds
    rank error at n/10000.

    ERROR-BOUND ORACLE (round-9 graduation from rows-only): the sketch
    values are engine-specific, so the hash gate pins the group keys, the
    group sizes, and the RANK-ERROR CONTRACT — for each quantile q the
    query re-ranks the returned value against the raw column (count of
    values <,≤ it — exact integer work) and checks the bracketing rank
    interval intersects [q·n − n/10⁴ − 1, q·n + n/10⁴ + 1]; the oracle
    states the expected verdict. A sketch regression (or a silently
    loosened accuracy) flips a boolean and fails the hash. The numeric
    estimates stay asserted against exact percentiles in
    tests/test_numeric.py."""
    li = _t(spark, sf_dir, "lineitem")
    a = (
        li.groupBy("l_returnflag")
        .agg(
            F.percentile_approx(
                "l_extendedprice", [0.5, 0.9, 0.99], 10000
            ).alias("pcts"),
        )
        .select(
            "l_returnflag",
            F.element_at("pcts", 1).alias("p50"),
            F.element_at("pcts", 2).alias("p90"),
            F.element_at("pcts", 3).alias("p99"),
        )
    )
    j = li.select("l_returnflag", "l_extendedprice").join(
        F.broadcast(a), "l_returnflag"
    )
    x = F.col("l_extendedprice")
    ranks = j.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        *[
            agg
            for qn in ("p50", "p90", "p99")
            for agg in (
                F.sum((x < F.col(qn)).cast("long")).alias(f"lt_{qn}"),
                F.sum((x <= F.col(qn)).cast("long")).alias(f"le_{qn}"),
            )
        ],
    )

    def in_bound(qn: str, q: float):
        n = F.col("n").cast("double")
        slack = n / 10000.0 + 1.0
        target = q * n
        # the value's true-rank interval is [lt+1, le]; it must intersect
        # the sketch's guaranteed rank window around q·n
        return (
            (F.col(f"lt_{qn}").cast("double") + 1.0 <= target + slack)
            & (F.col(f"le_{qn}").cast("double") >= target - slack)
        ).alias(f"{qn}_in_bound")

    return ranks.select(
        "l_returnflag",
        "n",
        in_bound("p50", 0.5),
        in_bound("p90", 0.9),
        in_bound("p99", 0.99),
    )


# --- TPC-H classics round 2: Q3 / Q4 / Q10 / Q18 shapes -----------------------

_Q3_SQL = f"""
SELECT l_orderkey,
  {dsum_sql("l_extendedprice * (1.0 - l_discount)")} AS revenue,
  o_orderdate, o_orderpriority
FROM customer JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1995-03-15'
  AND l_shipdate > TIMESTAMP '1995-03-15'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, o_orderdate, l_orderkey
LIMIT 10
"""


@query("q3_shipping_priority", oracle=_Q3_SQL)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q3-style: selective filters pushed to all three scans, one
    shuffle on orderkey, top-k via TakeOrderedAndProject (no global sort).
    The filtered customer side is NOT hard-broadcast: one market segment is
    still ~1/5 of a table that grows linearly with SF, so the 64 MB
    threshold + AQE decide at runtime (broadcast while it fits, shuffle
    join at the scale where broadcasting would OOM)."""
    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1995-03-15").cast("timestamp")
    )
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1995-03-15").cast("timestamp")
    )
    rev = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(dsum(rev).alias("revenue"))
        .orderBy(F.desc("revenue"), "o_orderdate", "l_orderkey")
        .limit(10)
    )


_Q4_SQL = """
SELECT o_orderpriority, count(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1995-01-01'
  AND o_orderdate < TIMESTAMP '1995-10-01'
  AND EXISTS (
    SELECT 1 FROM lineitem
    WHERE l_orderkey = o_orderkey
      AND l_shipdate > o_orderdate + INTERVAL 90 DAY)
GROUP BY o_orderpriority
"""


@query("q4_order_priority", oracle=_Q4_SQL)
def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q4-style (adapted to the testdata schema: "late" = shipped
    more than 90 days after the order date, a correlated non-equi EXISTS).
    Decorrelated to a left-semi join on the key with the date comparison as
    the residual condition, then a tiny group-by on priority."""
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1995-10-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late = (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS"))
    return (
        o.join(li, (F.col("o_orderkey") == F.col("l_orderkey")) & late, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


_Q10_SQL = f"""
SELECT c_custkey, c_name, n_name,
  {dsum_sql("l_extendedprice * (1.0 - l_discount)")} AS revenue,
  c_acctbal
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE o_orderdate >= TIMESTAMP '1996-10-01'
  AND o_orderdate < TIMESTAMP '1997-01-01'
  AND l_returnflag = 'R'
GROUP BY c_custkey, c_name, n_name, c_acctbal
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""


@query("q10_returned_items", oracle=_Q10_SQL)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q10-style: returned-line revenue per customer over one quarter.
    Returnflag + date filters reach the scans; nation and the filtered
    orders side broadcast; one shuffle on custkey for the aggregate."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-10-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = _t(spark, sf_dir, "nation")
    rev = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name", "c_acctbal")
        .agg(dsum(rev).alias("revenue"))
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


_Q18_SQL = f"""
WITH big AS (
  SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
  HAVING sum(l_quantity) > 150
)
SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
  {dsum_sql("l_quantity")} AS sum_qty
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
JOIN big ON o_orderkey = big.l_orderkey
GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 100
"""


@query("q18_large_orders", oracle=_Q18_SQL)
def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q18-style: the HAVING subquery reduces lineitem to a small key
    set which then drives a semi-join-shaped plan — the aggregated key list
    is broadcast back against lineitem, so the big table is scanned twice
    but never shuffled twice on different keys."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("_q"))
        .filter(F.col("_q") > 150)
        .select(F.col("l_orderkey").alias("big_orderkey"))
    )
    return (
        li.join(big, F.col("l_orderkey") == F.col("big_orderkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(dsum(F.col("l_quantity")).alias("sum_qty"))
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(100)
    )


# --- ordered list aggregation (listagg / string_agg) --------------------------

_LISTAGG_SQL = """
SELECT n_name,
  string_agg(s_name, ',' ORDER BY s_name) AS suppliers,
  count(*) AS n_suppliers
FROM supplier JOIN nation ON s_nationkey = n_nationkey
GROUP BY n_name
"""


@query("agg_listagg_suppliers", oracle=_LISTAGG_SQL)
def agg_listagg_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered list aggregation: collect_list → sort_array → array_join is
    the deterministic Spark spelling of LISTAGG/string_agg (collect_list
    alone is partition-order-dependent; the explicit sort restores
    determinism). At scale the per-group list must fit one executor — for
    unbounded groups prefer a windowed top-N before collecting."""
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    return (
        s.join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            F.array_join(F.sort_array(F.collect_list("s_name")), ",").alias("suppliers"),
            F.count("*").alias("n_suppliers"),
        )
    )


# --- sampling & mergeable sketches --------------------------------------------


_STRAT_SAMPLE_SQL = f"""
WITH s AS (
  SELECT * FROM orders
  WHERE CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 4)) AS INTEGER) % 1000
        < CASE WHEN o_orderstatus = 'P' THEN 1000 ELSE 100 END
)
SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n_sampled,
       {{davg}} AS avg_price
FROM s GROUP BY o_orderstatus
""".format(davg=davg_sql("o_totalprice"))


@query("sample_stratified_orders", oracle=_STRAT_SAMPLE_SQL)
def sample_stratified_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified sampling with per-stratum rates — the dataset-balancing
    primitive for training-data curation (downsample the dominant class,
    keep the rare one: F/O at 10%, P at 100%). The admission predicate is
    a DETERMINISTIC key hash (first 16 bits of md5(o_orderkey) mod 1000 <
    rate‰) rather than an RNG draw: the production-reproducible form — a
    row's fate is a pure function of its key, so re-runs, retries, and
    other engines agree row-for-row (which is also what makes the DuckDB
    oracle possible; `sampleBy`'s seeded Bernoulli draw is engine-specific
    and stays covered as the RNG alternative in test_sampling.py). No
    shuffle: the predicate evaluates inside the scan stage; the aggregate
    is one stratum-keyed exchange. Graduated from rows-only in round 9."""
    o = _t(spark, sf_dir, "orders")
    bucket = (
        F.conv(
            F.substring(
                F.md5(F.col("o_orderkey").cast("string").cast("binary")), 1, 4
            ),
            16,
            10,
        ).cast("long")
        % 1000
    )
    rate = F.when(F.col("o_orderstatus") == "P", 1000).otherwise(100)
    sampled = o.filter(bucket < rate)
    return sampled.groupBy("o_orderstatus").agg(
        F.count("*").alias("n_sampled"),
        davg(F.col("o_totalprice")).alias("avg_price"),
    )


_DIFF_SQL = """
WITH old AS (
  SELECT c_custkey, c_acctbal, c_mktsegment FROM customer
),
new AS (
  SELECT c_custkey,
         CASE WHEN c_custkey % 10 = 0 THEN c_acctbal + 50.0
              ELSE c_acctbal END AS c_acctbal,
         CASE WHEN c_custkey % 13 = 0 THEN 'MACHINERY'
              ELSE c_mktsegment END AS c_mktsegment
  FROM customer WHERE c_custkey % 97 <> 3
)
SELECT coalesce(o.c_custkey, n.c_custkey) AS c_custkey,
  CASE WHEN n.c_custkey IS NULL THEN 'deleted'
       WHEN o.c_custkey IS NULL THEN 'inserted' ELSE 'updated' END AS op,
  concat_ws(',',
    CASE WHEN o.c_custkey IS NOT NULL AND n.c_custkey IS NOT NULL
              AND o.c_acctbal IS DISTINCT FROM n.c_acctbal
         THEN 'c_acctbal' END,
    CASE WHEN o.c_custkey IS NOT NULL AND n.c_custkey IS NOT NULL
              AND o.c_mktsegment IS DISTINCT FROM n.c_mktsegment
         THEN 'c_mktsegment' END) AS changed_cols
FROM old o FULL OUTER JOIN new n ON o.c_custkey = n.c_custkey
WHERE n.c_custkey IS NULL OR o.c_custkey IS NULL
   OR o.c_acctbal IS DISTINCT FROM n.c_acctbal
   OR o.c_mktsegment IS DISTINCT FROM n.c_mktsegment
"""


@query("pipeline_snapshot_diff", oracle=_DIFF_SQL)
def pipeline_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC-style snapshot diff with column-level change attribution: full
    outer join of two table versions on the key, classify each key as
    inserted/deleted/updated, and name exactly which columns changed
    (null-safe comparison). Unchanged rows are filtered out, so the output
    is the changeset, not the table — the big-input/small-output shape that
    makes diff-based incremental pipelines viable at 100 TB (one co-
    partitioned join; with both snapshots bucketed on the key it is
    shuffle-free). The 'new' snapshot here is derived deterministically
    from the old one (arithmetic updates, modular deletes) so the diff is
    oracle-exact."""
    c = _t(spark, sf_dir, "customer")
    old = c.select("c_custkey", "c_acctbal", "c_mktsegment")
    new = (
        c.where(F.col("c_custkey") % 97 != 3)
        .select(
            "c_custkey",
            F.when(F.col("c_custkey") % 10 == 0, F.col("c_acctbal") + 50.0)
            .otherwise(F.col("c_acctbal"))
            .alias("c_acctbal"),
            F.when(F.col("c_custkey") % 13 == 0, F.lit("MACHINERY"))
            .otherwise(F.col("c_mktsegment"))
            .alias("c_mktsegment"),
        )
    )
    o, n = old.alias("o"), new.alias("n")
    both = F.col("o.c_custkey").isNotNull() & F.col("n.c_custkey").isNotNull()
    bal_chg = both & ~F.col("o.c_acctbal").eqNullSafe(F.col("n.c_acctbal"))
    seg_chg = both & ~F.col("o.c_mktsegment").eqNullSafe(F.col("n.c_mktsegment"))
    return (
        o.join(n, F.col("o.c_custkey") == F.col("n.c_custkey"), "full_outer")
        .where(
            F.col("n.c_custkey").isNull()
            | F.col("o.c_custkey").isNull()
            | bal_chg
            | seg_chg
        )
        .select(
            F.coalesce("o.c_custkey", "n.c_custkey").alias("c_custkey"),
            F.when(F.col("n.c_custkey").isNull(), "deleted")
            .when(F.col("o.c_custkey").isNull(), "inserted")
            .otherwise("updated")
            .alias("op"),
            F.concat_ws(
                ",",
                F.when(bal_chg, "c_acctbal"),
                F.when(seg_chg, "c_mktsegment"),
            ).alias("changed_cols"),
        )
    )


_HASH_SPLIT_SQL = f"""
WITH b AS (
  SELECT *, (o_orderkey * 9973 + 7919) % 10000 AS bucket FROM orders
)
SELECT CASE WHEN bucket < 8000 THEN 'train' ELSE 'test' END AS split,
       count(*) AS n_orders,
       count(DISTINCT o_custkey) AS n_customers,
       {{rev}} AS total_revenue
FROM b GROUP BY 1
""".format(rev=dsum_sql("o_totalprice"))


@query("sample_hash_split", oracle=_HASH_SPLIT_SQL)
def sample_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/test split via arithmetic key hashing — the
    reproducible-split primitive for training-data pipelines. Unlike
    seed-based ``sample()`` (engine- and partition-layout-specific), the
    bucket is a pure function of the row key, so the same row lands in the
    same split on any engine, any cluster size, any day — and the split is
    stable under repartition/backfill. Evaluated inside the scan stage (no
    shuffle beyond the final tiny agg); in production swap the linear hash
    for ``crc32(md5(key))`` — same portability, better avalanche."""
    o = _t(spark, sf_dir, "orders")
    bucket = (F.col("o_orderkey") * 9973 + 7919) % 10000
    return (
        o.withColumn("split", F.when(bucket < 8000, "train").otherwise("test"))
        .groupBy("split")
        .agg(
            F.count("*").alias("n_orders"),
            F.countDistinct("o_custkey").alias("n_customers"),
            dsum(F.col("o_totalprice")).alias("total_revenue"),
        )
    )


_HASH_STRAT_SQL = """
WITH b AS (
  SELECT c_mktsegment, (c_custkey * 9973 + 7919) % 10000 AS bucket,
         CASE c_mktsegment WHEN 'BUILDING' THEN 2000
                           WHEN 'AUTOMOBILE' THEN 1000 ELSE 500 END AS rate_bp
  FROM customer
)
SELECT c_mktsegment, count(*) AS n_population,
       count(*) FILTER (WHERE bucket < rate_bp) AS n_sampled
FROM b GROUP BY 1
"""


@query("sample_hash_stratified", oracle=_HASH_STRAT_SQL)
def sample_hash_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified sampling with per-stratum rates as a *portable* hash
    predicate (basis-point threshold per segment) instead of seed-based
    ``sampleBy`` — same determinism story as ``sample_hash_split``, plus
    per-stratum rate control for class rebalancing. One scan computes
    population and sample counts together (conditional aggregation), so
    verifying realized rates costs nothing extra."""
    c = _t(spark, sf_dir, "customer")
    bucket = (F.col("c_custkey") * 9973 + 7919) % 10000
    rate_bp = (
        F.when(F.col("c_mktsegment") == "BUILDING", 2000)
        .when(F.col("c_mktsegment") == "AUTOMOBILE", 1000)
        .otherwise(500)
    )
    return c.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_population"),
        F.count(F.when(bucket < rate_bp, 1)).alias("n_sampled"),
    )


def _hll_rollup_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(yr, n_months, approx_distinct_customers, exact_distinct_customers)
    — the sketch rollup next to its exact twin; the registered query
    projects the hash-stable columns, pytest asserts the raw estimate."""
    o = _t(spark, sf_dir, "orders")
    monthly = o.groupBy(
        F.year("o_orderdate").alias("yr"), F.month("o_orderdate").alias("mon")
    ).agg(F.hll_sketch_agg("o_custkey", F.lit(14)).alias("sk"))
    yearly = (
        monthly.groupBy("yr")
        .agg(F.hll_union_agg("sk").alias("sk_year"), F.count("*").alias("n_months"))
        .select(
            "yr",
            "n_months",
            F.hll_sketch_estimate("sk_year").cast("long").alias("approx_distinct_customers"),
        )
    )
    exact = o.groupBy(F.year("o_orderdate").alias("yr")).agg(
        F.countDistinct("o_custkey").alias("exact_distinct_customers")
    )
    return yearly.join(exact, "yr")


_HLL_MERGEABLE_SQL = """
SELECT year(o_orderdate) AS yr,
       CAST(count(DISTINCT month(o_orderdate)) AS BIGINT) AS n_months,
       CAST(count(DISTINCT o_custkey) AS BIGINT) AS exact_distinct_customers,
       TRUE AS within_bound
FROM orders GROUP BY 1
"""


@query("agg_hll_mergeable", oracle=_HLL_MERGEABLE_SQL)
def agg_hll_mergeable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Re-aggregatable distinct counting with Apache DataSketches HLL:
    per-month sketches built in one pass, then MERGED (hll_union_agg) to
    yearly estimates without touching the raw data again. This is the 100 TB
    rollup pattern — materialize small mergeable sketches per partition;
    any coarser grain is a cheap union over sketches instead of a re-scan.

    ERROR-BOUND ORACLE (round-10 graduation from rows-only, the
    agg_approx_distinct pattern): the sketch binary and its estimate are
    engine-specific, so the hash gate pins group keys + exact counts + the
    Spark-computed accuracy verdict ``within_bound`` =
    |approx − exact| ≤ greatest(3, 5%·exact) — ~5·rse at lgConfigK=14
    (rse ≈ 1.04/√2¹⁴ ≈ 0.81%), with a small absolute floor for tiny
    groups (where DataSketches HLL is in exact sparse mode anyway). The
    raw estimate stays asserted ±3% in tests/test_sampling.py."""
    y = _hll_rollup_frame(spark, sf_dir)
    ap = F.col("approx_distinct_customers").cast("double")
    ex = F.col("exact_distinct_customers").cast("double")
    return y.select(
        "yr",
        "n_months",
        "exact_distinct_customers",
        (F.abs(ap - ex) <= F.greatest(F.lit(3.0), 0.05 * ex)).alias("within_bound"),
    )


# --- SQL front-end + Q6 / Q13 / Q17 shapes ------------------------------------

_Q6_SQL = f"""
SELECT {dsum_sql("l_extendedprice * l_discount")} AS revenue,
       count(*) AS n_lines
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
"""


@query("sql_q6_forecast_revenue", oracle=_Q6_SQL)
def sql_q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q6-style, submitted through the engine's SQL front-end
    (``spark.sql`` over the registered table views) rather than the
    DataFrame API — same Catalyst plan either way: every predicate reaches
    the scan (range + band filters in PushedFilters), then a single
    partial+final aggregate with no grouping key. The oracle runs the
    equivalent SQL, so this also demonstrates dialect parity for the exact
    decimal-sum spelling."""
    from vat_etl_spark.sources.catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT coalesce(cast(round(sum(cast(floor(l_extendedprice * l_discount
                     * 1e6 + 0.5) AS DECIMAL(26,0))) / 1000000, 2) AS DOUBLE), 0.0)
                 AS revenue,
               count(*) AS n_lines
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate < TIMESTAMP '1997-01-01'
          AND l_discount BETWEEN 0.05 AND 0.07
          AND l_quantity < 24
        """
    )


_Q13_SQL = """
SELECT n_orders, count(*) AS n_customers FROM (
  SELECT c_custkey, count(o_orderkey) AS n_orders
  FROM customer LEFT OUTER JOIN orders
    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
  GROUP BY c_custkey
) GROUP BY n_orders
"""


@query("q13_customer_distribution", oracle=_Q13_SQL)
def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q13-style: order-count-per-customer histogram through a left
    outer join with an extra join-side predicate (customers with no
    qualifying orders count as 0 — count(col) skips the NULLs the outer
    join produces). Two shuffles: custkey, then the tiny histogram key."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderpriority") != "1-URGENT")
    return (
        c.join(o, F.col("c_custkey") == F.col("o_custkey"), "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
        .groupBy("n_orders")
        .agg(F.count("*").alias("n_customers"))
    )


_Q17_SQL = f"""
SELECT {dsum_sql("l_extendedprice")} AS small_lot_revenue,
       count(*) AS n_lines
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE p_brand = 'Brand#1' AND p_size <= 10
  AND l_quantity < (
    SELECT 0.5 * avg(l_quantity) FROM lineitem l2
    WHERE l2.l_partkey = lineitem.l_partkey)
"""


@query("q17_small_quantity_revenue", oracle=_Q17_SQL)
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q17-style (adapted to this schema: brand + size in place of
    container): revenue from lines whose quantity is below half the
    per-part average — the correlated scalar-average subquery decorrelated
    into a per-part aggregate joined back to lineitem. The per-part avg is
    computed over ALL parts' lines first and is broadcast-sized after
    aggregation; the brand filter prunes the probe side at the scan."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") == "Brand#1") & (F.col("p_size") <= 10)
    )
    per_part_avg = li.groupBy(F.col("l_partkey").alias("avg_partkey")).agg(
        (F.lit(0.5) * F.avg("l_quantity")).alias("half_avg_qty")
    )
    return (
        li.join(p, F.col("l_partkey") == F.col("p_partkey"))
        .join(per_part_avg, F.col("l_partkey") == F.col("avg_partkey"))
        .filter(F.col("l_quantity") < F.col("half_avg_qty"))
        .groupBy()
        .agg(
            dsum(F.col("l_extendedprice")).alias("small_lot_revenue"),
            F.count("*").alias("n_lines"),
        )
    )


_IDS_SQL = """
SELECT row_number() OVER (ORDER BY s_suppkey) AS stable_id, s_suppkey, s_name
FROM supplier
"""


@query("ids_assign_stable", oracle=_IDS_SQL)
def ids_assign_stable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stable global ID assignment — the reproducible way to mint surrogate
    keys — via ``two_pass_rank`` (functions/ranks.py): literal range
    boundaries → per-bucket counts → broadcast cumulative offsets → offset +
    per-bucket local row_number. Rank arithmetic is layout-free, so the
    result is bit-identical to ``row_number() OVER (ORDER BY s_suppkey)``
    with NO single-partition WindowExec anywhere in the plan (asserted by
    plans.plan_violations). ``monotonically_increasing_id`` is the
    zero-shuffle alternative when ids only need uniqueness, not density or
    stability across runs — its values encode (partition, row) and change
    with the layout, so it never feeds an oracle-checked contract."""
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return two_pass_rank(s, [("s_suppkey", "asc")], rank_col="stable_id").select(
        "stable_id", "s_suppkey", "s_name"
    )


_STATS_EXACT_SQL = f"""
WITH s AS (
  SELECT c_mktsegment, count(*) AS n,
    {dsumx_sql("c_acctbal")} AS s1,
    {dsumx_sql("c_acctbal * c_acctbal")} AS s2
  FROM customer GROUP BY c_mktsegment
)
SELECT c_mktsegment, n,
  s1 / n AS mean_bal,
  (s2 - (s1 * s1) / n) / (n - 1) AS var_bal,
  sqrt((s2 - (s1 * s1) / n) / (n - 1)) AS stddev_bal
FROM s
"""


@query("agg_statistics_exact", oracle=_STATS_EXACT_SQL)
def agg_statistics_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-engine-EXACT variance/stddev: the co-moments Σx and Σx² are
    exact decimal sums (2-dp inputs ⇒ x² has ≤4 decimals, inside the
    micros domain), converted once to double, then variance is one fixed
    IEEE expression and stddev one correctly-rounded sqrt — every operand
    bit-identical in Spark and DuckDB, so the hash gate holds with NO
    tolerance. The float-native twin (`agg_statistics`, stddev/corr/covar
    via co-moment accumulation) stays rows-only: this query is the proof
    that exactness, where it matters, is an expression-discipline choice
    rather than an engine limitation. Same single-pass, partial-aggregable
    shape at scale."""
    c = _t(spark, sf_dir, "customer")
    bal = F.col("c_acctbal")
    g = c.groupBy("c_mktsegment").agg(
        F.count("*").alias("n"),
        dsumx(bal).alias("s1"),
        dsumx(bal * bal).alias("s2"),
    )
    n, s1, s2 = F.col("n"), F.col("s1"), F.col("s2")
    var = (s2 - (s1 * s1) / n) / (n - F.lit(1))
    return g.select(
        "c_mktsegment", "n",
        (s1 / n).alias("mean_bal"),
        var.alias("var_bal"),
        F.sqrt(var).alias("stddev_bal"),
    )


_TREND_SQL = f"""
WITH daily AS (
  SELECT cast(o_orderdate AS DATE) AS day,
         year(o_orderdate) AS yr,
         {dsumx_sql("o_totalprice")} AS y
  FROM orders GROUP BY 1, 2
),
xy AS (
  SELECT yr, datediff('day', date_trunc('year', day), day) AS x, y FROM daily
),
s AS (
  SELECT yr, count(*) AS n, sum(x) AS sx, sum(x * x) AS sxx,
         {dsumx_sql("y")} AS sy, {dsumx_sql("x * y")} AS sxy
  FROM xy GROUP BY yr
)
SELECT yr, n,
  (n * sxy - sx * sy) / cast(n * sxx - sx * sx AS DOUBLE) AS slope,
  (sy - ((n * sxy - sx * sy) / cast(n * sxx - sx * sx AS DOUBLE)) * sx) / n
    AS intercept
FROM s
"""


@query("agg_linear_trend", oracle=_TREND_SQL)
def agg_linear_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group least-squares trend (regr_slope/regr_intercept semantics)
    over daily revenue, fitted per year — in-SQL regression from the five
    classic sufficient statistics (n, Σx, Σx², Σy, Σxy).

    All five are exact: x is an integer day-of-year index (kept small ON
    PURPOSE — an epoch-day x makes x·y·10⁶ overflow the 2^53 exact-double
    domain of the micros accumulator and the last-ulp parity dies; shifting
    x leaves the slope untouched), Σy and Σxy go through the decimal
    accumulator, so slope/intercept are fixed IEEE expressions over
    bit-identical operands — regression without tolerance. The sufficient
    statistics are partial-aggregable (one map-side-combined shuffle at the
    day grain, then a tiny per-year reduce), which is exactly how a 100 TB
    regression should run; built-in regr_* functions cannot promise the
    cross-engine exactness."""
    o = _t(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.to_date("o_orderdate").alias("day"), F.year("o_orderdate").alias("yr")
    ).agg(dsumx(F.col("o_totalprice")).alias("y"))
    xy = daily.select(
        "yr", F.datediff("day", F.trunc("day", "year")).alias("x"), "y"
    )
    s = xy.groupBy("yr").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        dsumx(F.col("y")).alias("sy"),
        dsumx(F.col("x") * F.col("y")).alias("sxy"),
    )
    n, sx, sxx, sy, sxy = (F.col(c) for c in ("n", "sx", "sxx", "sy", "sxy"))
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx).cast("double")
    return s.select(
        "yr", "n", slope.alias("slope"), ((sy - slope * sx) / n).alias("intercept")
    )


_INCR_SQL = f"""
SELECT year(o_orderdate) * 100 + month(o_orderdate) AS yyyymm,
       count(*) AS n_orders, {{rev}} AS total_revenue
FROM orders GROUP BY 1
""".format(rev=dsum_sql("o_totalprice"))


@query("pipeline_incremental_agg", oracle=_INCR_SQL)
def pipeline_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance: the monthly revenue
    aggregate is computed as merge(partials(base), partials(delta)) — base
    is history before 2000-01-01, delta the rows at/after — and the ORACLE
    is the direct one-shot aggregate over everything, so the driver gate
    proves merge == recompute exactly.

    This is the 100 TB refresh pattern: store the per-key partials
    (decimal sum + count — both mergeable), and on each new partition
    aggregate only the delta and re-reduce partials by key; history is
    never re-scanned. Exactness of the decimal partials is what makes the
    equivalence bit-perfect — float partials would drift from the one-shot
    result by accumulation order."""
    o = _t(spark, sf_dir, "orders")
    cutoff = F.lit("2000-01-01").cast("date")
    yyyymm = (F.year("o_orderdate") * 100 + F.month("o_orderdate")).alias("yyyymm")

    def partials(df: DataFrame) -> DataFrame:
        from vat_etl_spark.functions.numeric import micros

        return df.groupBy(yyyymm).agg(
            F.count("*").alias("pn"),
            F.sum(micros(F.col("o_totalprice")).cast("decimal(26,0)")).alias("ps"),
        )

    base = partials(o.where(F.col("o_orderdate") < cutoff))
    delta = partials(o.where(F.col("o_orderdate") >= cutoff))
    merged = base.unionByName(delta).groupBy("yyyymm").agg(
        F.sum("pn").alias("n_orders"), F.sum("ps").alias("ps")
    )
    total = F.coalesce(
        F.round(F.col("ps") / F.lit(10**6), 2).cast("double"), F.lit(0.0)
    )
    return merged.select("yyyymm", "n_orders", total.alias("total_revenue"))


_CORR_SQL = """
WITH s AS (
  SELECT l_returnflag, count(*) AS n,
    sum(cast(l_quantity AS DECIMAL(30,6))) AS sx,
    sum(cast(l_discount AS DECIMAL(30,6))) AS sy,
    sum(cast(l_quantity * l_quantity AS DECIMAL(30,6))) AS sxx,
    sum(cast(l_discount * l_discount AS DECIMAL(30,6))) AS syy,
    sum(cast(l_quantity * l_discount AS DECIMAL(30,6))) AS sxy
  FROM lineitem GROUP BY l_returnflag
)
SELECT l_returnflag, n,
  (n * cast(sxy AS DOUBLE) - cast(sx AS DOUBLE) * cast(sy AS DOUBLE)) / (n - 1) / n
    AS covar_qty_disc,
  (n * cast(sxy AS DOUBLE) - cast(sx AS DOUBLE) * cast(sy AS DOUBLE))
    / sqrt((n * cast(sxx AS DOUBLE) - cast(sx AS DOUBLE) * cast(sx AS DOUBLE))
           * (n * cast(syy AS DOUBLE) - cast(sy AS DOUBLE) * cast(sy AS DOUBLE)))
    AS corr_qty_disc
FROM s
"""


@query("agg_correlation_exact", oracle=_CORR_SQL)
def agg_correlation_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tolerance-free sample covariance and Pearson correlation per group,
    from the five exact decimal co-moments (the bivariate extension of
    agg_statistics_exact; built-in corr()/covar_samp() accumulate floats
    and cannot promise cross-engine bits).

    Column choice is deliberate: quantity (integer-valued) × discount
    (2 decimals) keeps every product within the exact-decimal domain —
    price² would overflow the 2^53 micros window (the same trap
    agg_linear_trend documents). One map-side-combined shuffle; the final
    expressions are fixed IEEE arithmetic over bit-identical operands."""
    li = _t(spark, sf_dir, "lineitem")
    dec = lambda c: F.sum(c.cast("decimal(30,6)"))  # noqa: E731
    x, y = F.col("l_quantity"), F.col("l_discount")
    s = li.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        dec(x).alias("sx"), dec(y).alias("sy"),
        dec(x * x).alias("sxx"), dec(y * y).alias("syy"),
        dec(x * y).alias("sxy"),
    )
    n = F.col("n")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxx, syy = F.col("sxx").cast("double"), F.col("syy").cast("double")
    sxy = F.col("sxy").cast("double")
    num = n * sxy - sx * sy
    covar = num / (n - F.lit(1)) / n
    corr = num / F.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))
    return s.select(
        "l_returnflag", "n", covar.alias("covar_qty_disc"), corr.alias("corr_qty_disc")
    )


_ZSCORE_SQL = """
WITH s AS (
  SELECT l_returnflag, count(*) AS n,
    sum(cast(l_quantity AS DECIMAL(30,6))) AS sx,
    sum(cast(l_quantity * l_quantity AS DECIMAL(30,6))) AS sxx
  FROM lineitem GROUP BY l_returnflag
),
m AS (
  SELECT l_returnflag,
    cast(sx AS DOUBLE) / n AS mean_q,
    sqrt((cast(sxx AS DOUBLE) - cast(sx AS DOUBLE) * cast(sx AS DOUBLE) / n)
         / (n - 1)) AS sd_q
  FROM s
)
SELECT l.l_orderkey, l.l_linenumber, l.l_returnflag,
       (l.l_quantity - m.mean_q) / m.sd_q AS qty_z
FROM lineitem l JOIN m USING (l_returnflag)
"""


@query("feature_zscore_normalize", oracle=_ZSCORE_SQL)
def feature_zscore_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group z-score standardization of a feature column — the
    feature-engineering normalization primitive, as a two-pass aggregate +
    broadcast-joined rescale (NOT a window: group stats are a tiny
    aggregate, and broadcasting them back costs no second shuffle of the
    fact table).

    Mean and stddev come from exact decimal co-moments, so every row's z
    is one fixed IEEE expression over bit-identical operands —
    deterministic feature values across engines and cluster layouts, which
    is what makes training sets reproducible."""
    li = _t(spark, sf_dir, "lineitem")
    x = F.col("l_quantity")
    s = li.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.sum(x.cast("decimal(30,6)")).alias("sx"),
        F.sum((x * x).cast("decimal(30,6)")).alias("sxx"),
    )
    n = F.col("n")
    sx, sxx = F.col("sx").cast("double"), F.col("sxx").cast("double")
    m = s.select(
        "l_returnflag",
        (sx / n).alias("mean_q"),
        F.sqrt((sxx - sx * sx / n) / (n - F.lit(1))).alias("sd_q"),
    )
    return li.join(F.broadcast(m), "l_returnflag").select(
        "l_orderkey",
        "l_linenumber",
        "l_returnflag",
        ((F.col("l_quantity") - F.col("mean_q")) / F.col("sd_q")).alias("qty_z"),
    )


def _countmin_frame(spark: SparkSession, sf_dir: str):
    """Rows (partkey, exact_count, est_count, n_total) for the top-10
    parts: the CMS estimate next to its exact twin. The registered query
    projects the hash-stable verdict columns; pytest asserts the raw
    estimate numerics here."""
    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_partkey").cast("int").alias("pk"), "l_shipdate"
    )
    monthly = li.groupBy(
        F.year("l_shipdate").alias("yr"), F.month("l_shipdate").alias("mon")
    ).agg(F.expr("count_min_sketch(pk, 0.01d, 0.99d, 42)").alias("sk"))
    jvm = spark.sparkContext._jvm
    merged = None
    for row in monthly.collect():
        sk = jvm.org.apache.spark.util.sketch.CountMinSketch.readFrom(
            bytes(row["sk"])
        )
        if merged is None:
            merged = sk
        else:
            merged.mergeInPlace(sk)
    top = (
        li.groupBy("pk")
        .agg(F.count("*").alias("exact_count"))
        .orderBy(F.desc("exact_count"), F.asc("pk"))
        .limit(10)
        .collect()
    )
    n_total = li.count()
    return [
        (int(r["pk"]), int(r["exact_count"]), int(merged.estimateCount(r["pk"])), n_total)
        for r in top
    ]


_COUNTMIN_SQL = """
WITH top AS (
  SELECT CAST(l_partkey AS INT) AS partkey, count(*) AS exact_count
  FROM lineitem GROUP BY 1
  ORDER BY exact_count DESC, partkey LIMIT 10
), t AS (SELECT count(*) AS n_total FROM lineitem)
SELECT partkey, CAST(exact_count AS BIGINT) AS exact_count,
       CAST(n_total AS BIGINT) AS n_total,
       TRUE AS est_ge_exact, TRUE AS est_within_eps
FROM top CROSS JOIN t
"""


@query("agg_countmin_heavy_hitters", oracle=_COUNTMIN_SQL)
def agg_countmin_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min frequency sketching with partial-merge rollup: per-month
    CMS sketches of part demand (one pass, `count_min_sketch` aggregate),
    merged driver-side into a corpus sketch that answers point frequency
    queries for the exact top-10 parts — the frequency-domain sibling of
    the HLL rollup above, and the other half of the mergeable-sketch
    story: HLL answers 'how many distinct', CMS answers 'how often does X
    appear', both without re-scanning raw data at coarser grains.

    ERROR-BOUND ORACLE (round-10 graduation from rows-only): the sketch
    counters are engine-specific, so the hash gate pins the top-10 keys +
    exact counts + the two CMS accuracy-contract verdicts, both computed
    Spark-side from the merged sketch: ``est_ge_exact`` (est ≥ exact — a
    HARD CMS guarantee, any flip is a real regression) and
    ``est_within_eps`` (est ≤ exact + ε·N, ε=0.01 — holds w.p. ≥ δ=0.99
    per query; over 10 pinned queries on the pinned datasets this is
    deterministic and verified, but on a NEW dataset a legitimate ~1%
    per-query overflow is possible — dataset-pinned by design, like the
    HLL bounds). Raw estimates stay asserted in tests/test_sampling.py.
    At 100 TB the per-partition sketches are a few KB each (ε=0.01 →
    2000×7 counters), so the merge moves kilobytes where a re-aggregation
    would move the fact table."""
    out = _countmin_frame(spark, sf_dir)
    rows = [
        (
            pk,
            exact,
            n_total,
            est >= exact,
            est <= exact + 0.01 * n_total,
        )
        for (pk, exact, est, n_total) in out
    ]
    return local_rows_df(
        spark,
        rows,
        "partkey int, exact_count long, n_total long, "
        "est_ge_exact boolean, est_within_eps boolean",
    )


_POFP_SQL = """
WITH b AS (
  SELECT p.p_type AS category, p.p_brand AS brand,
    sum(cast(round(l.l_extendedprice * 100) AS BIGINT)) AS rev
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
  GROUP BY 1, 2
),
m AS (SELECT category, sum(rev) AS crev FROM b GROUP BY 1),
t AS (SELECT sum(rev) AS trev FROM b)
SELECT b.category, b.brand,
  cast(b.rev AS BIGINT) AS rev_cents,
  cast(m.crev AS BIGINT) AS category_rev_cents,
  cast(b.rev AS DOUBLE) / cast(m.crev AS DOUBLE) AS share_of_parent,
  cast(b.rev AS DOUBLE) / cast(t.trev AS DOUBLE) AS share_of_total
FROM b JOIN m ON b.category = m.category CROSS JOIN t
"""


@query("agg_percent_of_parent", oracle=_POFP_SQL)
def agg_percent_of_parent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percent-of-parent contribution down a dimension hierarchy
    ((category,brand)→category→total): each brand-within-category revenue
    as a share of its category and of the grand total — the OLAP 'contribution' readout
    every drill-down UI renders next to the raw measure.

    Scale shape: ONE fact aggregation to the leaf (brand) grain; parent
    and total grains re-aggregate the persisted leaf partials (the
    rollup-cascade discipline — Catalyst does not share aggregate subtrees
    across consumers), and the dim-sized parent table broadcasts back.
    Integer cents throughout; the two shares are terminal IEEE divisions,
    so the oracle hash-matches exactly."""
    li = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_extendedprice")
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_type", "p_brand")
    b = (
        li.join(p, li.l_partkey == p.p_partkey)
        .groupBy(F.col("p_type").alias("category"), F.col("p_brand").alias("brand"))
        .agg(
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("bigint")).alias(
                "rev"
            )
        )
    )
    b = b.persist()  # leaf partials feed parent, total, AND the final join
    m = b.groupBy(F.col("category").alias("m_cat")).agg(F.sum("rev").alias("crev"))
    t = b.agg(F.sum("rev").alias("trev"))
    return (
        b.join(F.broadcast(m), F.col("category") == F.col("m_cat"))
        .crossJoin(F.broadcast(t))
        .select(
            "category",
            "brand",
            F.col("rev").alias("rev_cents"),
            F.col("crev").alias("category_rev_cents"),
            (F.col("rev").cast("double") / F.col("crev").cast("double")).alias(
                "share_of_parent"
            ),
            (F.col("rev").cast("double") / F.col("trev").cast("double")).alias(
                "share_of_total"
            ),
        )
    )


_GINI_SQL = """
WITH cust AS (
  SELECT o_custkey, sum(cast(round(o_totalprice * 100) AS BIGINT)) AS spend
  FROM orders GROUP BY o_custkey
),
ranked AS (
  SELECT spend, row_number() OVER (ORDER BY spend, o_custkey) AS rk FROM cust
),
agg AS (
  SELECT count(*) AS n,
    cast(sum(spend) AS BIGINT) AS total,
    cast(sum(rk * spend) AS BIGINT) AS weighted
  FROM ranked
)
SELECT n, total AS total_cents,
  cast(2 * weighted AS DOUBLE) / (cast(n AS DOUBLE) * cast(total AS DOUBLE))
    - (cast(n + 1 AS DOUBLE) / cast(n AS DOUBLE)) AS gini
FROM agg
"""


@query("agg_gini_concentration", oracle=_GINI_SQL)
def agg_gini_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of customer-spend concentration — the one-number
    answer to 'how dependent is revenue on a few whales?' (0 = uniform,
    →1 = winner-take-all), via the exact rank formula
    G = 2·Σ(rank·x)/(n·Σx) − (n+1)/n over spend sorted ascending.

    rank·spend products and both sums are exact 64-bit integers (rank ≤
    customers, cents ≤ 2^47 — no overflow until ~10^11 customers); the
    final expression is a fixed tree of IEEE ops, so both engines emit the
    same double. The rank tie-breaks on custkey → total order. Scale
    shape: one fact agg to customer grain, one two-pass range-partitioned
    rank over that grain (functions/ranks.py — rank arithmetic is
    layout-free, no single-partition WindowExec), one tiny reduce."""
    o = _t(spark, sf_dir, "orders")
    cust = o.groupBy("o_custkey").agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias("spend")
    )
    # the two-pass helper's boundary-sample and bucket-count jobs re-execute
    # their input — persist the customer-grain agg so the fact scan runs once
    cust = cust.persist()
    ranked = two_pass_rank(
        cust, [("spend", "asc"), ("o_custkey", "asc")], rank_col="rk"
    ).select("spend", "rk")
    agg = ranked.agg(
        F.count("*").alias("n"),
        F.sum("spend").alias("total"),
        F.sum(F.col("rk") * F.col("spend")).alias("weighted"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    return agg.select(
        "n",
        F.col("total").alias("total_cents"),
        (
            (2 * F.col("weighted")).cast("double") / (d("n") * d("total"))
            - (F.col("n") + 1).cast("double") / d("n")
        ).alias("gini"),
    )


_SIMPSON_SQL = """
WITH mix AS (
  SELECT o.o_custkey, p.p_brand, count(*) AS n
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN part p ON l.l_partkey = p.p_partkey
  GROUP BY 1, 2
),
per_cust AS (
  SELECT o_custkey,
    cast(sum(n) AS BIGINT) AS n_lines,
    cast(count(*) AS BIGINT) AS n_brands,
    cast(sum(n * (n - 1)) AS BIGINT) AS same_pairs
  FROM mix GROUP BY 1
)
SELECT o_custkey, n_lines, n_brands,
  CASE WHEN n_lines > 1 THEN
    1 - cast(same_pairs AS DOUBLE) / cast(n_lines * (n_lines - 1) AS DOUBLE)
  ELSE cast(0 AS DOUBLE) END AS simpson_diversity
FROM per_cust
"""


@query("agg_simpson_diversity", oracle=_SIMPSON_SQL)
def agg_simpson_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer brand-mix diversity via the unbiased Gini-Simpson index
    1 − Σnᵢ(nᵢ−1)/(N(N−1)) — the probability two randomly drawn purchase
    lines are DIFFERENT brands. The information-theoretic alternative
    (Shannon entropy) needs ln(), whose libm ulps differ per engine;
    Simpson carries the same 'concentrated vs diverse' signal as pure
    integer pair-counting plus ONE division, so it hash-matches exactly —
    the entropy-shaped metric done the cross-engine-safe way.

    Scale shape: one fact aggregation to (customer, brand) grain, then a
    customer-grain re-aggregate — two shuffles on shrinking grains, dims
    broadcast."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    mix = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(p, li.l_partkey == p.p_partkey)
        .groupBy("o_custkey", "p_brand")
        .agg(F.count("*").alias("n"))
    )
    per_cust = mix.groupBy("o_custkey").agg(
        F.sum("n").alias("n_lines"),
        F.count("*").alias("n_brands"),
        F.sum(F.col("n") * (F.col("n") - 1)).alias("same_pairs"),
    )
    return per_cust.select(
        "o_custkey",
        "n_lines",
        "n_brands",
        F.when(
            F.col("n_lines") > 1,
            1
            - F.col("same_pairs").cast("double")
            / (F.col("n_lines") * (F.col("n_lines") - 1)).cast("double"),
        )
        .otherwise(F.lit(0.0))
        .alias("simpson_diversity"),
    )


_LORENZ_SQL = """
WITH cust AS (
  SELECT o_custkey, sum(cast(round(o_totalprice * 100) AS BIGINT)) AS spend
  FROM orders GROUP BY o_custkey
),
d AS (
  SELECT spend,
    cast(ntile(10) OVER (ORDER BY spend, o_custkey) AS INTEGER) AS decile
  FROM cust
),
g AS (
  SELECT decile, count(*) AS n_customers,
    cast(sum(spend) AS BIGINT) AS decile_cents
  FROM d GROUP BY decile
)
SELECT decile, n_customers, decile_cents,
  cast(sum(decile_cents) OVER (ORDER BY decile
       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
    / cast(sum(decile_cents) OVER () AS DOUBLE) AS cum_share
FROM g
"""


@query("agg_lorenz_deciles", oracle=_LORENZ_SQL)
def agg_lorenz_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lorenz curve in decile form: customers ranked by spend into tie-
    broken ntiles, each decile's exact cent total and the cumulative share
    of revenue up to it — the table behind every 'bottom 50% of customers
    = X% of revenue' statement, and the curve whose area the Gini
    coefficient (agg_gini_concentration) summarizes.

    Integer sums over 10 decile rows; shares are terminal divisions.
    Scale: fact → customer grain → 10 rows; the global ntile is two-pass
    range-partitioned rank arithmetic (functions/ranks.py), and the 10-row
    cumulative/total sums are triangular broadcast self-joins — the whole
    plan has NO single-partition WindowExec (asserted by
    plans.plan_violations)."""
    o = _t(spark, sf_dir, "orders")
    cust = o.groupBy("o_custkey").agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias("spend")
    )
    cust = cust.persist()
    d = two_pass_ntile(
        cust, [("spend", "asc"), ("o_custkey", "asc")], 10, tile_col="decile"
    ).select("spend", "decile")
    g = d.groupBy("decile").agg(
        F.count("*").alias("n_customers"), F.sum("spend").alias("decile_cents")
    )
    cum = (
        g.join(
            F.broadcast(
                g.select(
                    F.col("decile").alias("b_decile"),
                    F.col("decile_cents").alias("b_cents"),
                )
            ),
            F.col("b_decile") <= F.col("decile"),
        )
        .groupBy("decile", "n_customers", "decile_cents")
        .agg(F.sum("b_cents").alias("cum_cents"))
    )
    total = g.agg(F.sum("decile_cents").alias("tot_cents"))
    return cum.crossJoin(F.broadcast(total)).select(
        "decile",
        "n_customers",
        "decile_cents",
        (F.col("cum_cents").cast("double") / F.col("tot_cents").cast("double")).alias(
            "cum_share"
        ),
    )


_WINSOR_SQL = """
WITH e AS (
  SELECT event_type, cast(round(value * 100) AS BIGINT) AS cents FROM events
),
bounds AS (
  SELECT event_type,
    cast(quantile_disc(cents, 0.05) AS BIGINT) AS lo,
    cast(quantile_disc(cents, 0.95) AS BIGINT) AS hi
  FROM e GROUP BY event_type
)
SELECT e.event_type, count(*) AS n,
  any_value(lo) AS p05_cents, any_value(hi) AS p95_cents,
  cast(sum(CASE WHEN cents < lo THEN lo WHEN cents > hi THEN hi
                ELSE cents END) AS BIGINT) AS winsorized_sum_cents,
  cast(sum(CASE WHEN cents < lo THEN lo WHEN cents > hi THEN hi
                ELSE cents END) AS DOUBLE) / (count(*) * 100)
    AS winsorized_mean,
  CAST(sum(CASE WHEN cents < lo OR cents > hi THEN 1 ELSE 0 END) AS BIGINT) AS n_clamped
FROM e JOIN bounds USING (event_type)
GROUP BY e.event_type
"""


@query("agg_winsorized_mean", oracle=_WINSOR_SQL)
def agg_winsorized_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized mean per event type: values clamped at the DISCRETE
    p5/p95 before averaging — the robust mean that keeps heavy-tail
    outliers from owning the statistic while (unlike trimming) preserving
    row count.

    Exactness hinges on percentile_disc, not percentile: discrete
    quantiles are actual data values (integer cents), so the clamped sum
    is a pure integer aggregate — an interpolated boundary would inject a
    float into the sum and break order-independence. Scale shape: two
    passes over the same event_type-keyed shuffle (bounds, then clamped
    agg with bounds broadcast back); at 100 TB the bounds pass can run on
    a sample or a mergeable quantile sketch with the same plumbing."""
    e = _t(spark, sf_dir, "events").select(
        "event_type", F.round(F.col("value") * 100).cast("bigint").alias("cents")
    )
    bounds = e.groupBy(F.col("event_type").alias("b_type")).agg(
        F.expr("percentile_disc(0.05) WITHIN GROUP (ORDER BY cents)")
        .cast("bigint")
        .alias("lo"),
        F.expr("percentile_disc(0.95) WITHIN GROUP (ORDER BY cents)")
        .cast("bigint")
        .alias("hi"),
    )
    clamped = F.when(F.col("cents") < F.col("lo"), F.col("lo")).when(
        F.col("cents") > F.col("hi"), F.col("hi")
    ).otherwise(F.col("cents"))
    return (
        e.join(F.broadcast(bounds), F.col("event_type") == F.col("b_type"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.any_value("lo").alias("p05_cents"),
            F.any_value("hi").alias("p95_cents"),
            F.sum(clamped).alias("winsorized_sum_cents"),
            (F.sum(clamped).cast("double") / (F.count("*") * 100)).alias(
                "winsorized_mean"
            ),
            F.sum(
                F.when(
                    (F.col("cents") < F.col("lo")) | (F.col("cents") > F.col("hi")), 1
                ).otherwise(0)
            ).alias("n_clamped"),
        )
    )


_LOG2_HIST_SQL = """
WITH b AS (
  SELECT event_type,
    length(bin(cast(round(value * 100) AS BIGINT))) AS bucket
  FROM events WHERE value > 0
)
SELECT event_type, cast(bucket AS INTEGER) AS log2_bucket,
  cast(1 << (bucket - 1) AS BIGINT) AS bucket_lo_cents,
  cast((1 << bucket) - 1 AS BIGINT) AS bucket_hi_cents,
  count(*) AS n
FROM b GROUP BY event_type, bucket
"""


@query("agg_log2_histogram", oracle=_LOG2_HIST_SQL)
def agg_log2_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-scale (power-of-two bucket) value histogram per event type —
    the right shape for heavy-tailed money distributions, where linear
    buckets put everything in bin 1 — computed WITHOUT log2(): the bucket
    is the bit length of the integer cents (length of its binary string,
    an exact integer both engines agree on), the no-libm spelling of
    floor(log2)+1.

    Buckets are map-side; one aggregate to (type × ~20 buckets) rows.
    The [lo, hi] bounds are reconstructed by integer shifts."""
    e = _t(spark, sf_dir, "events").where(F.col("value") > 0)
    bucket = F.length(F.bin(F.round(F.col("value") * 100).cast("bigint")))
    return (
        e.select("event_type", bucket.cast("int").alias("log2_bucket"))
        .groupBy("event_type", "log2_bucket")
        .agg(F.count("*").alias("n"))
        .select(
            "event_type",
            "log2_bucket",
            F.expr("cast(shiftleft(1L, log2_bucket - 1) AS BIGINT)").alias(
                "bucket_lo_cents"
            ),
            F.expr("cast(shiftleft(1L, log2_bucket) - 1 AS BIGINT)").alias(
                "bucket_hi_cents"
            ),
            "n",
        )
    )


_SKEWKURT_SQL = """
WITH e AS (
  SELECT event_type, cast(cast(round(value * 100) AS BIGINT) AS HUGEINT) AS c
  FROM events
),
s AS (
  SELECT event_type, count(*) AS n,
    sum(c) AS s1, sum(c * c) AS s2, sum(c * c * c) AS s3,
    sum(c * c * c * c) AS s4
  FROM e GROUP BY event_type
),
d AS (
  -- hugeint -> double via VARCHAR: DuckDB's direct HUGEINT cast rounds
  -- through two 64-bit limbs and can be off by an ulp above 2^53; the
  -- string path is correctly rounded (matches Spark's decimal cast)
  SELECT event_type, n,
    cast(cast(s1 AS VARCHAR) AS DOUBLE) AS d1,
    cast(cast(s2 AS VARCHAR) AS DOUBLE) AS d2,
    cast(cast(s3 AS VARCHAR) AS DOUBLE) AS d3,
    cast(cast(s4 AS VARCHAR) AS DOUBLE) AS d4,
    cast(n AS DOUBLE) AS dn
  FROM s
),
m AS (
  SELECT event_type, n, d1 / dn AS mu,
    d2 / dn - (d1 / dn) * (d1 / dn) AS m2,
    d3 / dn - 3 * (d1 / dn) * (d2 / dn)
      + 2 * (d1 / dn) * (d1 / dn) * (d1 / dn) AS m3,
    d4 / dn - 4 * (d1 / dn) * (d3 / dn)
      + 6 * (d1 / dn) * (d1 / dn) * (d2 / dn)
      - 3 * (d1 / dn) * (d1 / dn) * (d1 / dn) * (d1 / dn) AS m4
  FROM d
)
SELECT event_type, n, mu / 100 AS mean_value,
  m3 / (m2 * sqrt(m2)) AS skewness,
  m4 / (m2 * m2) - 3 AS excess_kurtosis
FROM m
"""


@query("agg_skew_kurtosis_exact", oracle=_SKEWKURT_SQL)
def agg_skew_kurtosis_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact skewness and excess kurtosis per event type — the 3rd/4th-
    moment tail diagnostics that tell you a mean/variance summary is
    lying (heavy-tailed payment values have kurtosis ≫ 0 long before the
    variance moves).

    The raw power sums S1..S4 accumulate as EXACT integers (cents in
    DECIMAL(38)/HUGEINT — cents⁴ overflows int64, which is why the naive
    bigint spelling is wrong); central moments are then a FIXED tree of
    IEEE ops over the exactly-cast doubles, mirrored term-for-term in
    both engines (sqrt is correctly rounded, no libm). Scale: one
    partial-aggregable pass — the moment sums merge associatively, so
    this is also the mergeable-partials shape."""
    c = F.round(F.col("value") * 100).cast("bigint").cast("decimal(38,0)")
    e = _t(spark, sf_dir, "events").select("event_type", c.alias("c"))
    s = e.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("c").alias("s1"),
        F.sum(F.col("c") * F.col("c")).alias("s2"),
        F.sum(F.col("c") * F.col("c") * F.col("c")).alias("s3"),
        F.sum(F.col("c") * F.col("c") * F.col("c") * F.col("c")).alias("s4"),
    )
    d1, d2, d3, d4 = (F.col(x).cast("double") for x in ("s1", "s2", "s3", "s4"))
    dn = F.col("n").cast("double")
    mu = d1 / dn
    m2 = d2 / dn - (d1 / dn) * (d1 / dn)
    m3 = d3 / dn - 3 * (d1 / dn) * (d2 / dn) + 2 * (d1 / dn) * (d1 / dn) * (d1 / dn)
    m4 = (
        d4 / dn
        - 4 * (d1 / dn) * (d3 / dn)
        + 6 * (d1 / dn) * (d1 / dn) * (d2 / dn)
        - 3 * (d1 / dn) * (d1 / dn) * (d1 / dn) * (d1 / dn)
    )
    return s.select(
        "event_type",
        "n",
        (mu / 100).alias("mean_value"),
        (m3 / (m2 * F.sqrt(m2))).alias("skewness"),
        (m4 / (m2 * m2) - 3).alias("excess_kurtosis"),
    )


_LATERAL_SQL = """
SELECT n.n_name, t.c_name, t.c_acctbal
FROM nation n,
LATERAL (SELECT c_name, c_acctbal FROM customer c
         WHERE c.c_nationkey = n.n_nationkey
         ORDER BY c_acctbal DESC, c_name LIMIT 2) t
"""


@query("sql_lateral_topn_per_nation", oracle=_LATERAL_SQL)
def sql_lateral_topn_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery with per-row ORDER BY + LIMIT through
    the SQL front-end — the SQL spelling of top-N-per-group. Catalyst
    decorrelates it into the same window/rank plan the DataFrame API
    produces (one shuffle on the correlation key), so LATERAL costs
    nothing extra at scale; the oracle runs the identical statement, which
    also proves dialect parity for lateral joins."""
    from vat_etl_spark.sources.catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql(_LATERAL_SQL)


_BITMAP_DISTINCT_SQL = """
SELECT o_orderstatus, CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_distinct_cust
FROM orders GROUP BY o_orderstatus
"""


@query("agg_bitmap_exact_distinct", oracle=_BITMAP_DISTINCT_SQL)
def agg_bitmap_exact_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distinct counting via bitmap aggregation (Spark 3.5 bitmap
    functions): integer keys map to (bucket, bit-position), each
    (group, bucket) partial aggregate ORs fixed-size 4 KB bitmaps —
    mergeable partials like a sketch, but the count is exact, so the
    oracle is plain count(DISTINCT). The scale story vs countDistinct:
    no expand, no per-value rows through the shuffle — shuffle volume is
    |groups| × |touched buckets| × 4 KB regardless of row count, and the
    same bitmaps can be PERSISTED per partition/day and re-ORed for any
    rollup without rescanning (the exact-count analogue of the HLL
    mergeable-sketch pattern in agg_hll_mergeable)."""
    o = _t(spark, sf_dir, "orders")
    per_bucket = (
        o.groupBy(
            "o_orderstatus",
            F.expr("bitmap_bucket_number(o_custkey)").alias("bucket"),
        )
        .agg(
            F.expr(
                "bitmap_count(bitmap_construct_agg(bitmap_bit_position(o_custkey)))"
            ).alias("cnt")
        )
    )
    return per_bucket.groupBy("o_orderstatus").agg(
        F.sum("cnt").alias("n_distinct_cust")
    )
