"""Window-function surface (SURVEY.md §2.8 — absent from the reference,
required of the engine class): ranking, running totals, lag/lead, frames.

Cross-engine note: running sums accumulate in frame order, so to keep the
oracle hash-stable the accumulated value is cast to exact DECIMAL before the
window sum (order-independent exactness), rounded after.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from vat_etl_spark.queries import query
from vat_etl_spark.sources.catalog import read_table as _t

_DEC = "decimal(30,6)"


_RANK_SQL = """
SELECT * FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey) AS rn
  FROM orders
) WHERE rn <= 3
"""


@query("window_top3_orders_per_customer", oracle=_RANK_SQL)
def window_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group top-k via row_number (deterministic tie-break on orderkey).
    At scale this is one shuffle on the partition key; no global sort."""
    o = _t(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        o.select("o_custkey", "o_orderkey", "o_totalprice", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= 3)
    )


_RUNNING_SQL = """
SELECT o_custkey, o_orderkey,
  cast(round(sum(cast(o_totalprice AS DECIMAL(30,6)))
             OVER (PARTITION BY o_custkey
                   ORDER BY o_orderdate, o_orderkey
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
       AS DOUBLE) AS running_spend
FROM orders
"""


@query("window_running_spend", oracle=_RUNNING_SQL)
def window_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    w = (
        W.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    running = F.round(F.sum(F.col("o_totalprice").cast(_DEC)).over(w), 2).cast("double")
    return o.select("o_custkey", "o_orderkey", running.alias("running_spend"))


_LAG_SQL = """
SELECT user_id, event_id,
  cast(round(cast(value AS DECIMAL(18,2))
             - lag(cast(value AS DECIMAL(18,2)), 1)
               OVER (PARTITION BY user_id ORDER BY ts, event_id), 2)
       AS DOUBLE) AS value_delta
FROM events
"""


@query("window_lag_value_delta", oracle=_LAG_SQL)
def window_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag() — per-user deltas over the event stream (batch form; the
    streaming twin lives in vat_etl_spark.streaming)."""
    e = _t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    v = F.col("value").cast("decimal(18,2)")
    delta = F.round(v - F.lag(v, 1).over(w), 2).cast("double")
    return e.select("user_id", "event_id", delta.alias("value_delta"))


_DENSE_SQL = """
SELECT s_nationkey, s_suppkey, s_acctbal,
  dense_rank() OVER (PARTITION BY s_nationkey ORDER BY s_acctbal DESC) AS bal_rank,
  cast(ntile(4) OVER (PARTITION BY s_nationkey ORDER BY s_acctbal DESC, s_suppkey)
       AS INTEGER) AS bal_quartile
FROM supplier
"""


@query("window_dense_rank_ntile", oracle=_DENSE_SQL)
def window_dense_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = _t(spark, sf_dir, "supplier")
    w = W.partitionBy("s_nationkey").orderBy(F.desc("s_acctbal"))
    wt = W.partitionBy("s_nationkey").orderBy(F.desc("s_acctbal"), F.asc("s_suppkey"))
    return s.select(
        "s_nationkey",
        "s_suppkey",
        "s_acctbal",
        F.dense_rank().over(w).alias("bal_rank"),
        F.ntile(4).over(wt).alias("bal_quartile"),
    )


_FRAME_SQL = """
SELECT user_id, event_id,
  cast(sum(cast(value AS DECIMAL(18,2)))
       OVER (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE)
  / count(*) OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS moving_avg3
FROM events
"""


@query("window_moving_avg", oracle=_FRAME_SQL)
def window_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded ROWS frame (3-row moving average) as exact-decimal sum ÷
    frame count — bit-identical across engines with no rounding."""
    e = _t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(-2, W.currentRow)
    mv = F.sum(F.col("value").cast("decimal(18,2)")).over(w).cast("double") / F.count(
        F.lit(1)
    ).over(w)
    return e.select("user_id", "event_id", mv.alias("moving_avg3"))


_RANGE_FRAME_SQL = """
SELECT p_partkey, p_size, p_retailprice,
       count(*) OVER (PARTITION BY p_brand
                      ORDER BY p_size
                      RANGE BETWEEN 2 PRECEDING AND 2 FOLLOWING) AS n_similar_size
FROM part
"""


@query("window_range_frame", oracle=_RANGE_FRAME_SQL)
def window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE frame (value-based bounds, vs ROWS' positional bounds): count of
    same-brand parts within ±2 size units. rangeBetween keys the frame off
    the ORDER BY *value*, so peers and near-peers join the frame regardless
    of row position."""
    p = _t(spark, sf_dir, "part")
    w = W.partitionBy("p_brand").orderBy("p_size").rangeBetween(-2, 2)
    return p.select(
        "p_partkey", "p_size", "p_retailprice",
        F.count("*").over(w).alias("n_similar_size"),
    )


_PCT_SQL = """
SELECT p_brand,
       median(p_retailprice) AS median_price,
       quantile_cont(p_retailprice, 0.9) AS p90_price,
       count(*) AS n
FROM part GROUP BY p_brand
"""


@query("agg_percentiles", oracle=_PCT_SQL)
def agg_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percentiles (median / p90, linear interpolation — Spark
    ``percentile`` and DuckDB ``quantile_cont`` share the definition). At
    100 TB exact percentiles need a full sort per group — the scale path is
    ``approx_percentile`` (t-digest-style sketch, one pass, mergeable),
    exposed alongside; the exact form is the oracle-checkable twin."""
    p = _t(spark, sf_dir, "part")
    return p.groupBy("p_brand").agg(
        F.expr("percentile(p_retailprice, 0.5)").alias("median_price"),
        F.expr("percentile(p_retailprice, 0.9)").alias("p90_price"),
        F.count("*").alias("n"),
    )


_DIST_SQL = """
SELECT s_nationkey, s_suppkey, s_acctbal,
  percent_rank() OVER w AS pct_rank,
  cume_dist()    OVER w AS cume,
  nth_value(s_suppkey, 2) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING
                                AND UNBOUNDED FOLLOWING) AS second_supp,
  first_value(s_suppkey) OVER w AS first_supp,
  last_value(s_suppkey)  OVER (w ROWS BETWEEN UNBOUNDED PRECEDING
                               AND UNBOUNDED FOLLOWING) AS last_supp
FROM supplier
WINDOW w AS (PARTITION BY s_nationkey ORDER BY s_acctbal, s_suppkey)
"""


@query("window_distribution_funcs", oracle=_DIST_SQL)
def window_distribution_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution/navigation window functions: percent_rank, cume_dist,
    nth_value, first/last_value. Note the frame trap: with an ORDER BY the
    default frame ends at CURRENT ROW, so nth/last_value need an explicit
    unbounded frame to see the whole partition — same rule in Spark and
    ANSI SQL. One shuffle on the partition key."""
    s = _t(spark, sf_dir, "supplier")
    w = W.partitionBy("s_nationkey").orderBy("s_acctbal", "s_suppkey")
    wfull = w.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    return s.select(
        "s_nationkey", "s_suppkey", "s_acctbal",
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
        F.nth_value("s_suppkey", 2).over(wfull).alias("second_supp"),
        F.first_value("s_suppkey").over(w).alias("first_supp"),
        F.last_value("s_suppkey").over(wfull).alias("last_supp"),
    )


_ABC_SQL = """
WITH per_cust AS (
  SELECT o_custkey, sum(cast(o_totalprice AS DECIMAL(30,6))) AS rev
  FROM orders GROUP BY o_custkey
),
ranked AS (
  SELECT o_custkey, rev,
    sum(rev) OVER (ORDER BY rev DESC, o_custkey
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
    sum(rev) OVER () AS total
  FROM per_cust
)
SELECT o_custkey, cast(round(rev, 2) AS DOUBLE) AS revenue,
  cast(cum AS DOUBLE) / cast(total AS DOUBLE) AS cum_share,
  CASE WHEN cast(cum AS DOUBLE) / cast(total AS DOUBLE) <= 0.5 THEN 'A'
       WHEN cast(cum AS DOUBLE) / cast(total AS DOUBLE) <= 0.8 THEN 'B'
       ELSE 'C' END AS abc_class
FROM ranked
"""


@query("window_abc_classification", oracle=_ABC_SQL)
def window_abc_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC / Pareto classification: customers ranked by revenue, cumulative
    revenue share computed, and each customer classed A (top 50% of spend),
    B (to 80%) or C (tail) — the inventory-analysis standard.

    The cumulative sum runs over exact DECIMAL partials so the running
    value is order-independent-exact no matter how the engine's window
    aggregator associates additions (DuckDB uses a segment tree — a plain
    double cumsum would hash-differ); the share is then one IEEE division
    of bit-identical operands. Input is the per-key aggregate (|customers|
    rows, not |orders|), and the cumulative runs through
    ``two_pass_prefix_sum`` (functions/ranks.py): range buckets by
    (rev desc, custkey) → per-bucket decimal sums → broadcast opening
    balances → local running sum — no single-partition WindowExec
    (plan-asserted); the grand total is a broadcast 1-row aggregate."""
    from vat_etl_spark.functions.ranks import two_pass_prefix_sum

    o = _t(spark, sf_dir, "orders")
    per_cust = o.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast(_DEC)).alias("rev")
    )
    per_cust = per_cust.persist()
    cum = two_pass_prefix_sum(
        per_cust, [("rev", "desc"), ("o_custkey", "asc")], "rev", out_col="cum"
    )
    total = per_cust.agg(F.sum("rev").alias("total"))
    ranked = cum.crossJoin(F.broadcast(total)).select(
        "o_custkey", "rev", "cum", "total"
    )
    share = F.col("cum").cast("double") / F.col("total").cast("double")
    return ranked.select(
        "o_custkey",
        F.round("rev", 2).cast("double").alias("revenue"),
        share.alias("cum_share"),
        F.when(share <= 0.5, "A").when(share <= 0.8, "B").otherwise("C").alias(
            "abc_class"
        ),
    )


_MAD_SQL = """
WITH med AS (
  SELECT event_type, quantile_cont(value, 0.5) AS m
  FROM events GROUP BY event_type
)
SELECT e.event_type, any_value(m) AS median_value,
       quantile_cont(abs(e.value - m), 0.5) AS mad,
       count(*) AS n
FROM events e JOIN med USING (event_type)
GROUP BY e.event_type
"""


@query("agg_median_abs_deviation", oracle=_MAD_SQL)
def agg_median_abs_deviation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median absolute deviation per group — the robust spread measure
    (50% breakdown point vs stddev's 0%), computed as two percentile
    passes: group medians broadcast back onto the scan, then the median of
    absolute deviations.

    |x − m| is one exact IEEE subtraction per row and both engines share
    the percentile interpolation definition, so MAD is oracle-exact. Same
    scale posture as agg_percentiles: exact quantiles sort per group; at
    100 TB swap both passes to approx_percentile (MAD tolerates sketch
    error by construction, like the IQR fences in dq_outlier_fences)."""
    e = _t(spark, sf_dir, "events")
    med = e.groupBy("event_type").agg(F.expr("percentile(value, 0.5)").alias("m"))
    return (
        e.join(F.broadcast(med), "event_type")
        .groupBy("event_type")
        .agg(
            F.any_value(F.col("m")).alias("median_value"),
            F.expr("percentile(abs(value - m), 0.5)").alias("mad"),
            F.count("*").alias("n"),
        )
    )
