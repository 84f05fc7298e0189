"""Scalar function surface: the reference's parsers (dates F4, months F3)
verified through the oracle, plus the general string/date/math/json/array
function library the engine class exposes (SURVEY.md §7 tier 3).

Every expression here is a native expression — zero Python UDFs —
and has a DuckDB twin with verified-identical semantics (dayofweek offset,
non-padded strftime codes, RE2-vs-Java word boundaries all probed).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from vat_etl_spark.functions.dates import parse_date_compat, parse_date_compat_sql
from vat_etl_spark.functions.months import MONTH_ABBREVS, MONTHS_MAP, month_expr
from vat_etl_spark.queries import query
from vat_etl_spark.sources.catalog import read_table as _t


# --- F4: polymorphic date parsing (compat cascade, quirks Q4/Q5) ------------

_DATE_RAW_SQL = """
CASE o_orderkey % 6
  WHEN 0 THEN strftime(o_orderdate, '%-d/%-m/%Y')
  WHEN 1 THEN strftime(o_orderdate, '%Y-%m-%d')
  WHEN 2 THEN cast(datediff('day', DATE '1899-12-30', cast(o_orderdate AS DATE)) AS VARCHAR)
  WHEN 3 THEN strftime(o_orderdate, '%-d %b %Y')
  WHEN 4 THEN 'not-a-date'
  ELSE NULL
END
"""

_DATE_PARSE_SQL = f"""
WITH raw AS (SELECT o_orderkey, {_DATE_RAW_SQL} AS raw_date FROM orders)
SELECT o_orderkey, raw_date, {parse_date_compat_sql("raw_date")} AS parsed
FROM raw
"""


@query("date_parse_compat", oracle=_DATE_PARSE_SQL)
def date_parse_compat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F4 date cascade over synthesized polymorphic inputs: d/m/Y strings,
    ISO strings (dayfirst-mangled, quirk Q4), Excel serials, '5 Mar 1997'
    text, garbage → NULL, NULL → NULL."""
    o = _t(spark, sf_dir, "orders")
    k = F.col("o_orderkey") % 6
    serial = F.datediff(F.col("o_orderdate").cast("date"), F.lit("1899-12-30").cast("date"))
    raw = (
        F.when(k == 0, F.date_format("o_orderdate", "d/M/yyyy"))
        .when(k == 1, F.date_format("o_orderdate", "yyyy-MM-dd"))
        .when(k == 2, serial.cast("string"))
        .when(k == 3, F.date_format("o_orderdate", "d MMM yyyy"))
        .when(k == 4, F.lit("not-a-date"))
        .otherwise(F.lit(None).cast("string"))
    )
    return o.select("o_orderkey", raw.alias("raw_date")).selectExpr(
        "o_orderkey", "raw_date", f"{parse_date_compat('raw_date')} AS parsed"
    )


# --- F3: month-from-name extraction (quirk Q8) ------------------------------

_SHEET_NAMES = [
    "January 2024", "VAT 7", "mayhem", "Sheet1",
    "sept data", "03-2024", "Apr", "Dec report",
]
_NAME_LIST_SQL = "[" + ", ".join(f"'{n}'" for n in _SHEET_NAMES) + "]"
_ABBREV_LIST_SQL = "[" + ", ".join(f"'{a}'" for a in MONTH_ABBREVS) + "]"

_MONTH_CASES_SQL = " ".join(
    f"WHEN instr(s, '{name}') > 0 THEN {num}" for name, num in MONTHS_MAP.items()
)
_MONTH_NAME_CASES_SQL = " ".join(
    f"WHEN instr(s, '{name}') > 0 THEN '{name.title()}'" for name, num in MONTHS_MAP.items()
)

_MONTH_EXTRACT_SQL = f"""
WITH named AS (
  SELECT o_orderkey,
         list_extract({_NAME_LIST_SQL}, cast(o_orderkey % 8 AS INTEGER) + 1) AS sheet_name
  FROM orders
),
norm AS (
  SELECT o_orderkey, sheet_name,
         lower(regexp_replace(sheet_name, '[^a-zA-Z0-9]', ' ', 'g')) AS s
  FROM named
),
hit AS (
  SELECT o_orderkey, sheet_name, s,
         CASE {_MONTH_CASES_SQL} ELSE NULL END AS name_num,
         CASE {_MONTH_NAME_CASES_SQL} ELSE NULL END AS name_abbr,
         try_cast(regexp_extract(s, '\\b(0?[1-9]|1[0-2])\\b', 1) AS INTEGER) AS fb_num
  FROM norm
)
SELECT o_orderkey, sheet_name,
  coalesce(name_abbr, list_extract({_ABBREV_LIST_SQL}, fb_num), 'Unknown') AS month_name,
  coalesce(name_num, fb_num, 0) AS month_num
FROM hit
"""


@query("month_extract", oracle=_MONTH_EXTRACT_SQL)
def month_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F3 month detection incl. quirk Q8 false positives ('mayhem' → May,
    'VAT 7' → Jul, 'Sheet1' → Unknown: no word boundary before the 1)."""
    o = _t(spark, sf_dir, "orders")
    names = F.array(*[F.lit(n) for n in _SHEET_NAMES])
    sheet = F.element_at(names, (F.col("o_orderkey") % 8).cast("int") + 1)
    mname, mnum = month_expr(sheet)
    return o.select(
        "o_orderkey",
        sheet.alias("sheet_name"),
        mname.alias("month_name"),
        mnum.cast("int").alias("month_num"),
    )


# --- string function library ------------------------------------------------

_STRING_SQL = """
SELECT p_partkey,
  upper(p_name) AS upper_name,
  length(p_name) AS name_len,
  substr(p_name, 1, 5) AS name_prefix,
  replace(p_name, 'a', '@') AS replaced,
  split_part(p_name, ' ', 1) AS first_word,
  instr(p_name, 'e') AS first_e,
  concat(p_brand, '#', p_type) AS brand_type,
  lpad(cast(p_size AS VARCHAR), 4, '0') AS padded_size,
  trim('  ' || p_brand || '  ') AS trimmed
FROM part
"""


@query("string_functions", oracle=_STRING_SQL)
def string_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _t(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.upper("p_name").alias("upper_name"),
        F.length("p_name").alias("name_len"),
        F.substring("p_name", 1, 5).alias("name_prefix"),
        F.replace(F.col("p_name"), F.lit("a"), F.lit("@")).alias("replaced"),
        F.split(F.col("p_name"), " ")[0].alias("first_word"),
        F.instr(F.col("p_name"), "e").alias("first_e"),
        F.concat(F.col("p_brand"), F.lit("#"), F.col("p_type")).alias("brand_type"),
        F.lpad(F.col("p_size").cast("string"), 4, "0").alias("padded_size"),
        F.trim(F.concat(F.lit("  "), F.col("p_brand"), F.lit("  "))).alias("trimmed"),
    )


# --- math function library --------------------------------------------------

_MATH_SQL = """
SELECT l_orderkey, l_linenumber,
  abs(l_extendedprice - 50000.0) AS abs_dev,
  ceil(l_quantity / 7.0) AS ceil_q,
  floor(l_quantity / 7.0) AS floor_q,
  cast(l_orderkey % 97 AS BIGINT) AS mod_key,
  sqrt(l_quantity) AS sqrt_q,
  l_discount * l_discount AS disc_sq,
  cast(sign(l_extendedprice - 50000.0) AS INTEGER) AS dev_sign,
  greatest(l_tax, l_discount) AS max_rate,
  least(l_tax, l_discount) AS min_rate
FROM lineitem
"""


@query("math_functions", oracle=_MATH_SQL)
def math_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IEEE-deterministic math subset (sqrt is correctly rounded per IEEE;
    pow/log are libm-dependent and deliberately excluded from the oracle —
    they exist on the surface but are verified by pytest tolerance tests)."""
    li = _t(spark, sf_dir, "lineitem")
    dev = F.col("l_extendedprice") - F.lit(50000.0)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.abs(dev).alias("abs_dev"),
        F.ceil(F.col("l_quantity") / 7.0).cast("double").alias("ceil_q"),
        F.floor(F.col("l_quantity") / 7.0).cast("double").alias("floor_q"),
        (F.col("l_orderkey") % 97).alias("mod_key"),
        F.sqrt("l_quantity").alias("sqrt_q"),
        (F.col("l_discount") * F.col("l_discount")).alias("disc_sq"),
        F.signum(dev).cast("int").alias("dev_sign"),
        F.greatest("l_tax", "l_discount").alias("max_rate"),
        F.least("l_tax", "l_discount").alias("min_rate"),
    )


# --- datetime function library ----------------------------------------------

_DATETIME_SQL = """
SELECT o_orderkey,
  year(o_orderdate) AS yr,
  month(o_orderdate) AS mon,
  day(o_orderdate) AS dom,
  quarter(o_orderdate) AS qtr,
  dayofweek(o_orderdate) + 1 AS dow,
  dayofyear(o_orderdate) AS doy,
  cast(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month_start,
  cast(last_day(cast(o_orderdate AS DATE)) AS DATE) AS month_end,
  datediff('day', DATE '1995-01-01', cast(o_orderdate AS DATE)) AS days_since_epoch,
  cast(cast(o_orderdate AS DATE) + INTERVAL 3 MONTH AS DATE) AS plus3m
FROM orders
"""


@query("datetime_functions", oracle=_DATETIME_SQL)
def datetime_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Datetime surface; DuckDB's dayofweek is 0-based (Sunday=0) vs Spark's
    1-based — the oracle applies the +1 offset (probed, not assumed)."""
    o = _t(spark, sf_dir, "orders")
    d = F.col("o_orderdate")
    return o.select(
        "o_orderkey",
        F.year(d).alias("yr"),
        F.month(d).alias("mon"),
        F.dayofmonth(d).alias("dom"),
        F.quarter(d).alias("qtr"),
        F.dayofweek(d).alias("dow"),
        F.dayofyear(d).alias("doy"),
        F.date_trunc("month", d).alias("month_start"),
        F.last_day(d.cast("date")).alias("month_end"),
        F.datediff(d.cast("date"), F.lit("1995-01-01").cast("date")).alias("days_since_epoch"),
        F.add_months(d.cast("date"), 3).alias("plus3m"),
    )


# --- JSON surface (events.props) --------------------------------------------

_JSON_SQL = """
SELECT event_id,
  cast(json_extract_string(props, '$.k') AS INTEGER) AS k_value,
  json_extract_string(props, '$.missing') AS missing_field
FROM events
"""


@query("json_functions", oracle=_JSON_SQL)
def json_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    return e.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("int").alias("k_value"),
        F.get_json_object("props", "$.missing").alias("missing_field"),
    )


# --- array surface (embeddings.embedding) -----------------------------------

_ARRAY_SQL = """
SELECT vec_id,
  len(embedding) AS dim,
  embedding[1] AS first_component,
  list_max(embedding) AS max_component,
  list_min(embedding) AS min_component,
  len(list_filter(embedding, x -> x > 0)) AS n_positive
FROM embeddings
"""


@query("array_functions", oracle=_ARRAY_SQL)
def array_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    em = _t(spark, sf_dir, "embeddings")
    return em.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        F.element_at("embedding", 1).alias("first_component"),
        F.array_max("embedding").alias("max_component"),
        F.array_min("embedding").alias("min_component"),
        F.size(F.filter("embedding", lambda x: x > 0)).alias("n_positive"),
    )


# --- Pandas-UDF escape hatch --------------------------------------------------

def make_currency_pandas_udf(exact_decimal: bool = False):
    """The engine's user-facing UDF escape hatch: the reference's own
    currency parser (fianl2.py:18-40) as an Arrow-vectorized pandas_udf.
    The hot path uses the native expression (functions.currency) — this
    exists to demonstrate and test the slow-path contract (10-100x faster
    than row-at-a-time Python UDFs, still slower than native exprs).

    Two semantics, selected by ``exact_decimal`` (round 14, verdict-r13
    task 5):

    - ``False`` (reference-verbatim): binary-float multiply + Python's
      ``round`` — faithfully reproduces fianl2.py:40 including its
      half-cent-tie behavior. NOT cross-engine pinnable at non-unit-rate
      ties (5323.50 × 3.67 = 19537.2450 exactly: the float product is
      …24499…, Python rounds DOWN; any exact-decimal rendering rounds
      half-up) — pytest-pinned against the native float expression.
    - ``True`` (engine-exact): the Python-decimal mirror of
      :func:`functions.currency.currency_to_aed_exact` — parse the
      cleaned string straight into DECIMAL(18,4) (quantize HALF_UP, the
      Spark/DuckDB string→decimal cast rule), multiply by the
      DECIMAL(10,4) rate, round(2) HALF_UP, emit double. Bit-matches the
      exact-decimal SQL rendering at ANY rate — this is the variant the
      registered mixed-currency oracle query runs."""
    import re

    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from vat_etl_spark.functions.currency import CURRENCY_RATES

    def _clean(text):
        cleaned = re.sub(r"[^\d\.\-\(\)]", "", text)
        if cleaned.startswith("(") and cleaned.endswith(")"):
            cleaned = "-" + cleaned[1:-1]
        return cleaned

    def _rate_sym(text):
        for sym, r in CURRENCY_RATES.items():
            if sym in text:
                return r
        return 1.0

    if exact_decimal:
        from decimal import ROUND_HALF_UP, Decimal, InvalidOperation, localcontext

        Q4, Q2 = Decimal("0.0001"), Decimal("0.01")

        def one(v):
            if v is None or (isinstance(v, float) and v != v):
                return 0.0
            text = str(v).strip()
            rate = Decimal(str(_rate_sym(text))).quantize(Q4)
            with localcontext() as ctx:
                ctx.prec = 38
                try:
                    num = Decimal(_clean(text)).quantize(Q4, rounding=ROUND_HALF_UP)
                except (InvalidOperation, ValueError):
                    num = Decimal(0)
                if abs(num) >= Decimal(10) ** 14:
                    num = Decimal(0)  # DECIMAL(18,4) overflow → try_cast NULL
                return float((num * rate).quantize(Q2, rounding=ROUND_HALF_UP))

    else:

        def one(v):
            if v is None or (isinstance(v, float) and v != v):
                return 0.0
            text = str(v).strip()
            try:
                num = float(_clean(text))
            except ValueError:
                num = 0.0
            return round(num * _rate_sym(text), 2)

    # no type annotations: `from __future__ import annotations` stringifies
    # them, which pyspark's hint resolver can't evaluate here
    @pandas_udf("double")
    def currency_aed(values):
        return values.map(one)

    return currency_aed


# deterministic MIXED-currency domain: the symbol rotates with the row key,
# so the oracle exercises rates 1.0 / 3.67 / 3.98 / 4.62 — including the
# half-cent-tie rows the float-faithful variant could not pin (round 10)
_UDF_CCY = ["AED ", "USD ", "EUR ", "GBP "]


def _pandas_udf_currency_sql() -> str:
    from vat_etl_spark.functions.currency import currency_to_aed_exact_sql

    sym = (
        "CASE (s_suppkey % 4) "
        + " ".join(
            f"WHEN {i} THEN '{s}'" for i, s in enumerate(_UDF_CCY)
        )
        + " END"
    )
    raw = f"({sym}) || printf('%.2f', s_acctbal)"
    return (
        f"SELECT s_suppkey, {raw} AS raw, "
        f"{currency_to_aed_exact_sql(raw)} AS aed FROM supplier"
    )


@query("pandas_udf_currency", oracle=_pandas_udf_currency_sql())
def pandas_udf_currency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched pandas_udf escape hatch, hash-verified on a MIXED
    currency domain (symbol rotates with s_suppkey across AED/USD/EUR/GBP
    — rates 1.0/3.67/3.98/4.62) against the exact-decimal SQL rendering
    (the same contract the oracle-green `currency_parse` uses).

    Round-14 widening (verdict-r13 task 5; the r10-r13 gate ran rate-1.0
    AED only): the registered UDF is the ``exact_decimal`` variant of
    make_currency_pandas_udf — the Python-decimal mirror of
    currency_to_aed_exact (DECIMAL(18,4) parse, DECIMAL multiply, HALF_UP
    round(2)) — so it bit-matches the oracle at ANY rate, INCLUDING the
    exact half-cent ties (5323.50 × 3.67 = 19537.2450) where the
    reference's float round genuinely diverges from every exact-decimal
    rendering. The float-faithful reference-verbatim variant
    (exact_decimal=False) remains the compat demo, pytest-pinned against
    the native float expression with ties excluded
    (tests/test_currency.py) — that divergence is the documented PARITY
    boundary; this registered query no longer sits on it."""
    supplier = _t(spark, sf_dir, "supplier")
    udf = make_currency_pandas_udf(exact_decimal=True)
    sym = F.element_at(
        F.array(*[F.lit(s) for s in _UDF_CCY]),
        (F.pmod(F.col("s_suppkey"), F.lit(4)) + 1).cast("int"),
    )
    raw = F.concat(sym, F.format_string("%.2f", F.col("s_acctbal")))
    return supplier.select("s_suppkey", raw.alias("raw"), udf(raw).alias("aed"))


_MAP_STRUCT_SQL = """
SELECT n_nationkey,
       CASE WHEN n_regionkey = 0 THEN 'AFRICA-ZONE' ELSE 'OTHER-ZONE' END AS zone,
       upper(n_name) AS uname,
       len(n_name) AS name_len,
       n_regionkey * 100 + n_nationkey AS packed
FROM nation
"""


@query("map_struct_functions", oracle=_MAP_STRUCT_SQL)
def map_struct_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map + struct surface: build an in-plan lookup map (create_map — the
    broadcast-dim-as-expression form the reference's constant dicts map to,
    SURVEY.md §1.1), probe it with element_at, and round-trip a struct
    (struct → getField). Scalars come out, so the oracle compares values
    while the Spark plan exercises the nested types."""
    n = _t(spark, sf_dir, "nation")
    zone_map = F.create_map(F.lit(0), F.lit("AFRICA-ZONE"))
    st = F.struct(
        F.upper(F.col("n_name")).alias("uname"),
        F.length(F.col("n_name")).alias("name_len"),
        (F.col("n_regionkey") * 100 + F.col("n_nationkey")).alias("packed"),
    )
    return n.select(
        "n_nationkey",
        F.coalesce(F.element_at(zone_map, F.col("n_regionkey")), F.lit("OTHER-ZONE")).alias("zone"),
        st.getField("uname").alias("uname"),
        st.getField("name_len").alias("name_len"),
        st.getField("packed").alias("packed"),
    )


_GEOMEAN_SQL = """
SELECT o_orderstatus,
       cast(round(exp(avg(ln(o_totalprice))) * 1e6) AS BIGINT) AS geomean_micros
FROM orders WHERE o_totalprice > 0
GROUP BY o_orderstatus
"""


@query("udaf_geomean", oracle=_GEOMEAN_SQL)
def udaf_geomean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom aggregate (UDAF surface) via a GROUPED_AGG pandas_udf:
    geometric mean of order totals per status. Arrow-batched; the engine's
    path for aggregates the builtin set lacks. Hash-verified via the
    shared integer-micros trick: libm exp/log and summation order differ
    between numpy and DuckDB only at ~1e-16 relative, so rounding the
    geomean to integer micros (~1e-11 relative slack at these magnitudes)
    makes the cross-engine compare exact — same discipline as the
    retrieval-eval metrics. pytest additionally pins agreement with the
    native exp(avg(ln)) identity at full double precision
    (tests/test_app.py)."""
    import numpy as np
    from pyspark.sql.functions import PandasUDFType, pandas_udf

    # explicit GROUPED_AGG: `from __future__ import annotations` stringifies
    # type hints so the Series→scalar signature can't be inferred from them
    @pandas_udf("double", PandasUDFType.GROUPED_AGG)
    def geomean(v):
        a = v.to_numpy(dtype="float64")
        a = a[a > 0]
        return float(np.exp(np.log(a).mean())) if a.size else 0.0

    o = _t(spark, sf_dir, "orders").where(F.col("o_totalprice") > 0)
    # note: grouped-agg pandas UDFs can't mix with builtin aggregates in one
    # agg() — counts etc. go in a separate aggregation joined on the key
    return o.groupBy("o_orderstatus").agg(
        F.round(geomean(F.col("o_totalprice")) * 1e6)
        .cast("bigint")
        .alias("geomean_micros")
    )


_VARIANT_SQL = """
SELECT event_type,
       count(*) AS n,
       cast(sum(cast(props::JSON ->> 'k' AS BIGINT)) AS BIGINT) AS sum_k,
       cast(min(cast(props::JSON ->> 'k' AS BIGINT)) AS BIGINT) AS min_k,
       cast(max(cast(props::JSON ->> 'k' AS BIGINT)) AS BIGINT) AS max_k
FROM events GROUP BY event_type
"""


@query("variant_functions", oracle=_VARIANT_SQL)
def variant_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured data via the Spark 4 VARIANT type: parse_json once
    into a variant column, typed path extraction with try_variant_get —
    the open-format answer to schemaless JSON columns (binary-encoded,
    ~8× faster repeated access than per-path get_json_object string
    reparsing, and Catalyst can push shredded-field access at scan time
    on variant-aware formats)."""
    e = _t(spark, sf_dir, "events")
    v = e.select(
        "event_type", F.parse_json(F.col("props")).alias("v")
    ).select(
        "event_type", F.try_variant_get(F.col("v"), "$.k", "long").alias("k")
    )
    return v.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("k").alias("sum_k"),
        F.min("k").alias("min_k"),
        F.max("k").alias("max_k"),
    )


_NULLSAFE_SQL = """
WITH k AS (
  SELECT c_custkey,
         CASE WHEN c_custkey % 10 = 0 THEN NULL ELSE c_custkey % 7 END AS key
  FROM customer WHERE c_custkey <= 500
)
SELECT a.key AS key, count(*) AS n_pairs
FROM k a JOIN k b ON a.key IS NOT DISTINCT FROM b.key
GROUP BY a.key
"""


@query("null_semantics_join", oracle=_NULLSAFE_SQL)
def null_semantics_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality join (``eqNullSafe`` / IS NOT DISTINCT FROM):
    under plain ``=`` the NULL keys match nothing and silently vanish from
    the join — null-safe equality pairs them like a value. Planned as a
    normal hash join (the operator hashes NULL as a key), so no special
    scale cost."""
    c = _t(spark, sf_dir, "customer").filter(F.col("c_custkey") <= 500)
    key = F.when(F.col("c_custkey") % 10 == 0, F.lit(None).cast("long")).otherwise(
        F.col("c_custkey") % 7
    )
    k = c.select("c_custkey", key.alias("key"))
    a, b = k.alias("a"), k.alias("b")
    return (
        a.join(b, F.col("a.key").eqNullSafe(F.col("b.key")))
        .groupBy(F.col("a.key").alias("key"))
        .agg(F.count("*").alias("n_pairs"))
    )


_NULLFN_SQL = """
SELECT c_custkey,
  c_acctbal / nullif(cast(c_custkey % 5 AS DOUBLE), 0.0) AS safe_ratio,
  coalesce(nullif(c_mktsegment, 'BUILDING'), 'OTHER') AS seg_or_other,
  CASE WHEN c_acctbal IS NOT NULL THEN 'present' ELSE 'absent' END AS bal_flag
FROM customer WHERE c_custkey <= 200
"""


@query("null_scalar_functions", oracle=_NULLFN_SQL)
def null_scalar_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-handling scalar surface: try_divide (NULL on /0 instead of the
    ANSI-mode error — the safe spelling under Spark 4's default ANSI),
    nullif, coalesce, nvl2-style presence flag. IEEE division is
    deterministic so the ratio hashes identically cross-engine."""
    c = _t(spark, sf_dir, "customer").filter(F.col("c_custkey") <= 200)
    return c.select(
        "c_custkey",
        F.try_divide(
            F.col("c_acctbal"), F.nullif((F.col("c_custkey") % 5).cast("double"), F.lit(0.0))
        ).alias("safe_ratio"),
        F.coalesce(F.nullif("c_mktsegment", F.lit("BUILDING")), F.lit("OTHER")).alias(
            "seg_or_other"
        ),
        F.nvl2(F.col("c_acctbal"), F.lit("present"), F.lit("absent")).alias("bal_flag"),
    )


_HISTOGRAM_SQL = """
SELECT (CASE WHEN o_totalprice < 0.0 THEN 0
             WHEN o_totalprice >= 600000.0 THEN 13
             ELSE cast(floor(o_totalprice / 50000.0) AS BIGINT) + 1 END) AS bucket,
  count(*) AS n_orders,
  min(o_totalprice) AS lo,
  max(o_totalprice) AS hi
FROM orders GROUP BY 1
"""


@query("agg_histogram_buckets", oracle=_HISTOGRAM_SQL)
def agg_histogram_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram via native ``width_bucket`` — the binning
    primitive for distribution profiling. Pure map-side expression + one
    tiny 14-group aggregate; min/max are exact (no float accumulation).
    The oracle spells the equivalent floor arithmetic (DuckDB has no
    width_bucket); the bucket width 600000/12 = 50000 is exact so both
    forms floor the same quotient."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.groupBy(
            F.width_bucket(F.col("o_totalprice"), F.lit(0.0), F.lit(600000.0), F.lit(12)).alias("bucket")
        )
        .agg(
            F.count("*").alias("n_orders"),
            F.min("o_totalprice").alias("lo"),
            F.max("o_totalprice").alias("hi"),
        )
    )


_EQUIDEPTH_SQL = """
WITH b AS (
  SELECT o_totalprice,
         ntile(10) OVER (ORDER BY o_totalprice, o_orderkey) AS decile
  FROM orders
)
SELECT decile, count(*) AS n_orders,
       min(o_totalprice) AS lo, max(o_totalprice) AS hi
FROM b GROUP BY decile
"""


@query("agg_equidepth_histogram", oracle=_EQUIDEPTH_SQL)
def agg_equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-DEPTH histogram (deciles of equal row count) via ``ntile`` with
    a deterministic tie-break key — the complement of the equi-width
    ``width_bucket`` binning above, and the optimizer-statistics shape
    (bucket boundaries = value quantiles).

    ntile is a global total order; the scalable spelling is the two-pass
    range-partitioned ntile (functions/ranks.py — bit-identical to the
    global window, B-way parallel), which this query routes through since
    r7 — no single-partition WindowExec, no whitelist entry. For pure
    boundary estimation at 100 TB, approx_percentile + width_bucket
    (agg_percentiles / agg_histogram_buckets) stays the cheaper tool.
    Both engines assign larger buckets first with identical tie-handling
    under the total order, so the result is oracle-exact."""
    from vat_etl_spark.functions.ranks import two_pass_ntile

    o = _t(spark, sf_dir, "orders").select("o_totalprice", "o_orderkey")
    tiled = two_pass_ntile(
        o,
        [("o_totalprice", "asc"), ("o_orderkey", "asc")],
        10,
        tile_col="decile",
    )
    return tiled.groupBy("decile").agg(
        F.count("*").alias("n_orders"),
        F.min("o_totalprice").alias("lo"),
        F.max("o_totalprice").alias("hi"),
    )


_ARROW_UDF_SQL = """
SELECT c_custkey,
  trim(regexp_replace(lower(c_name), '[^a-z0-9]+', '-', 'g'), '-') AS slug
FROM customer WHERE c_custkey <= 300
"""


@query("arrow_python_udf_slug", oracle=_ARROW_UDF_SQL)
def arrow_python_udf_slug(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-optimized Python scalar UDF (Spark 4 ``useArrow=True``):
    batches cross the JVM↔Python boundary as Arrow buffers instead of
    pickled rows — the modern form of the escape hatch when logic truly
    needs Python (here a slugifier; deliberately also expressible in SQL
    so the oracle can verify the round trip value-exactly). Still ~an
    order slower than the native regexp_replace path — keep UDFs off the
    hot path; this exists to verify the escape hatch, not to recommend
    it."""
    import re

    @F.udf(returnType="string", useArrow=True)
    def slugify(name: str) -> str:
        return re.sub(r"[^a-z0-9]+", "-", name.lower()).strip("-")

    c = _t(spark, sf_dir, "customer").filter(F.col("c_custkey") <= 300)
    return c.select("c_custkey", slugify(F.col("c_name")).alias("slug"))


_ARGMAX_SQL = """
WITH enc AS (
  SELECT o_orderstatus,
         cast(round(o_totalprice * 100) AS BIGINT) * 10000000000
           + o_orderkey AS ord,
         o_orderkey % 4096 AS flags
  FROM orders
)
SELECT o_orderstatus,
       max(ord) % 10000000000 AS top_orderkey,
       cast(max(ord) // 10000000000 AS DOUBLE) / 100 AS top_price,
       bit_or(flags) AS flags_or,
       bit_and(flags) AS flags_and,
       bit_xor(flags) AS flags_xor
FROM enc GROUP BY o_orderstatus
"""


@query("agg_argmax_bitwise", oracle=_ARGMAX_SQL)
def agg_argmax_bitwise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Portable argmax with a deterministic tie-break, plus bitwise
    aggregates. ``max_by`` ties are engine-defined (and DuckDB's arg_max
    cannot order by a struct), so the (value, key) pair is packed into one
    sortable BIGINT — cents × 10^10 + key — making argmax a plain integer
    ``max`` that every engine resolves identically; decode afterwards.
    bit_or/bit_and/bit_xor fold per-row flag words into group masks — the
    cheap roll-your-own bitmap-index summary (e.g. "which shard bits are
    present per status"). Everything is integer arithmetic: exact at any
    scale, partial-aggregable, one shuffle."""
    o = _t(spark, sf_dir, "orders")
    ord_ = (
        F.round(F.col("o_totalprice") * 100).cast("bigint") * F.lit(10_000_000_000)
        + F.col("o_orderkey")
    )
    flags = F.col("o_orderkey") % 4096
    enc = o.select("o_orderstatus", ord_.alias("ord"), flags.alias("flags"))
    return enc.groupBy("o_orderstatus").agg(
        (F.max("ord") % 10_000_000_000).alias("top_orderkey"),
        (F.expr("max(ord) div 10000000000").cast("double") / 100).alias("top_price"),
        F.bit_or("flags").alias("flags_or"),
        F.bit_and("flags").alias("flags_and"),
        F.bit_xor("flags").alias("flags_xor"),
    )
