"""VAT-domain queries: the flagship box summary and its supporting operators
(period distincts, currency parsing) mapped onto the driver testdata
(FIXTURES.md §B mapping).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from vat_etl_spark.functions.currency import (
    currency_to_aed_exact,
    currency_to_aed_exact_sql,
)
from vat_etl_spark.functions.months import MONTH_ABBREVS
from vat_etl_spark.functions.numeric import dsum, dsum_sql
from vat_etl_spark.operators.vat_summary import BOX_DESCRIPTIONS, vat_flagship
from vat_etl_spark.queries import query
from vat_etl_spark.sources.catalog import read_table as _t

_MONTH_LIST_SQL = "[" + ", ".join(f"'{m}'" for m in MONTH_ABBREVS) + "]"

_TX_SQL = f"""
  SELECT
    CASE WHEN l_returnflag = 'R' THEN 'C'
         WHEN l_tax > 0 THEN 'A' ELSE 'B' END AS box,
    l_extendedprice * (1.0 - l_discount) AS net,
    (l_extendedprice * (1.0 - l_discount)) * l_tax AS vat,
    month(o_orderdate) AS mnum,
    year(o_orderdate) AS yr
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
"""

_VAT_SUMMARY_SQL = f"""
WITH tx AS ({_TX_SQL}),
agg AS (
  SELECT yr, mnum,
    {dsum_sql("CASE WHEN box = 'A' THEN net END")} AS netA,
    {dsum_sql("CASE WHEN box = 'A' THEN vat END")} AS vatA,
    {dsum_sql("CASE WHEN box = 'B' THEN net END")} AS netB,
    {dsum_sql("CASE WHEN box = 'B' THEN vat END")} AS vatB,
    {dsum_sql("CASE WHEN box = 'C' THEN net END")} AS netC,
    {dsum_sql("CASE WHEN box = 'C' THEN vat END")} AS vatC
  FROM tx GROUP BY yr, mnum
),
lab AS (
  SELECT
    list_extract({_MONTH_LIST_SQL}, mnum) || ' ' || cast(yr AS VARCHAR) AS period,
    netA, vatA, netB, vatB, netC, vatC,
    cast(round(vatA - vatC, 2) AS DOUBLE) AS vatD
  FROM agg
)
SELECT period AS "Period", 'Box A' AS "FTA Box",
       '{BOX_DESCRIPTIONS["Box A"]}' AS "Description",
       netA AS "Net Value", vatA AS "VAT Value",
       cast(0.0 AS DOUBLE) AS "Net VAT Payable" FROM lab
UNION ALL
SELECT period, 'Box B', '{BOX_DESCRIPTIONS["Box B"]}',
       netB, vatB, cast(0.0 AS DOUBLE) FROM lab
UNION ALL
SELECT period, 'Box C', '{BOX_DESCRIPTIONS["Box C"]}',
       netC, vatC, cast(0.0 AS DOUBLE) FROM lab
UNION ALL
SELECT period, 'Box D', '{BOX_DESCRIPTIONS["Box D"]}',
       cast(0.0 AS DOUBLE), vatD, vatD FROM lab
"""


@query("vat_summary", oracle=_VAT_SUMMARY_SQL)
def vat_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: per-period VAT box summary (fianl2.py:167-195 as one hash
    aggregate — SURVEY.md §3.3)."""
    lineitem = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    return vat_flagship(lineitem, orders, compat=True)


_PERIODS_SQL = """
SELECT year(o_orderdate) AS year, month(o_orderdate) AS month,
       count(*) AS n_orders
FROM orders GROUP BY 1, 2
"""


@query("vat_period_mapping", oracle=_PERIODS_SQL)
def vat_period_mapping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct reporting periods + order counts (reference A2 distinct
    (Month, Year) mapping, fianl2.py:172,230)."""
    orders = _t(spark, sf_dir, "orders")
    return orders.groupBy(
        F.year("o_orderdate").alias("year"), F.month("o_orderdate").alias("month")
    ).agg(F.count("*").alias("n_orders"))


# Messy-money strings synthesized deterministically from supplier rows so the
# oracle can verify the currency parser (F1) value-for-value.
_MESSY_SQL_EXPR = """
CASE s_suppkey % 8
  WHEN 0 THEN 'USD ' || printf('%.2f', s_acctbal)
  WHEN 1 THEN '(' || printf('%.2f', abs(s_acctbal)) || ')'
  WHEN 2 THEN '€ ' || printf('%.2f', s_acctbal)
  WHEN 3 THEN 'GBP (' || printf('%.2f', abs(s_acctbal)) || ')'
  WHEN 4 THEN '1.2.3'
  WHEN 5 THEN NULL
  WHEN 6 THEN '₹' || printf('%.2f', s_acctbal)
  ELSE printf('%.2f', s_acctbal)
END
"""

_CURRENCY_SQL = f"""
WITH messy AS (
  SELECT s_suppkey, {_MESSY_SQL_EXPR} AS raw FROM supplier
)
SELECT s_suppkey, raw, {currency_to_aed_exact_sql("raw")} AS aed FROM messy
"""


@query("currency_parse", oracle=_CURRENCY_SQL)
def currency_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1 currency detect+convert as a native expression chain, verified
    against the SQL rendering (fianl2.py:18-40 semantics)."""
    supplier = _t(spark, sf_dir, "supplier")
    fmt = lambda c: F.format_string("%.2f", c)  # noqa: E731
    raw = (
        F.when(F.col("s_suppkey") % 8 == 0, F.concat(F.lit("USD "), fmt(F.col("s_acctbal"))))
        .when(F.col("s_suppkey") % 8 == 1, F.concat(F.lit("("), fmt(F.abs(F.col("s_acctbal"))), F.lit(")")))
        .when(F.col("s_suppkey") % 8 == 2, F.concat(F.lit("€ "), fmt(F.col("s_acctbal"))))
        .when(F.col("s_suppkey") % 8 == 3, F.concat(F.lit("GBP ("), fmt(F.abs(F.col("s_acctbal"))), F.lit(")")))
        .when(F.col("s_suppkey") % 8 == 4, F.lit("1.2.3"))
        .when(F.col("s_suppkey") % 8 == 5, F.lit(None).cast("string"))
        .when(F.col("s_suppkey") % 8 == 6, F.concat(F.lit("₹"), fmt(F.col("s_acctbal"))))
        .otherwise(fmt(F.col("s_acctbal")))
    )
    return supplier.select("s_suppkey", raw.alias("raw")).selectExpr(
        "s_suppkey", "raw", f"{currency_to_aed_exact('raw')} AS aed"
    )


@query("vat_summary_sane", oracle=_VAT_SUMMARY_SQL)
def vat_summary_sane(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship in sane mode (documented fixes: standalone-letter box
    matching instead of substring containment, no NULL→"NAN"→Box A). On the
    driver tables box values are clean single letters, so compat and sane
    agree — the same oracle verifies both; the quirk divergence is covered
    by tests/test_vat_pipeline.py on synthetic quirky sheets."""
    lineitem = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    return vat_flagship(lineitem, orders, compat=False)
