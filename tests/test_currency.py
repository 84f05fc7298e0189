"""F1 currency parser: golden cases verified against the live reference
functions (SURVEY.md §2.3 F1) plus property-style checks."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from vat_etl_spark.functions.currency import (
    CURRENCY_RATES,
    currency_to_aed,
    currency_to_aed_exact,
)

GOLDEN = [
    ("USD 100", 367.0),
    ("(500)", -500.0),
    ("€ 99.5", 396.01),
    ("GBP (20)", -92.4),
    ("1.2.3", 0.0),
    ("5%", 5.0),
    (None, 0.0),
    ("AED 1,234.56", 1234.56),
    ("$100", 367.0),
    ("₹1000", 44.0),
    ("abc", 0.0),
    ("", 0.0),
    ("-42.5", -42.5),
]


def _run(spark, fn, values):
    df = spark.createDataFrame([(v,) for v in values], "raw string")
    return [r.out for r in df.selectExpr(f"{fn('raw')} AS out").collect()]


@pytest.mark.parametrize("fn", [currency_to_aed, currency_to_aed_exact])
def test_golden_cases(spark, fn):
    got = _run(spark, fn, [v for v, _ in GOLDEN])
    for (raw, want), g in zip(GOLDEN, got):
        assert g == pytest.approx(want, abs=1e-9), f"{raw!r}: {g} != {want}"


def test_first_match_in_dict_order_wins(spark):
    # "USD" checked before "$" and before "EUR": text with several symbols
    # resolves to the earliest dict entry present (quirk Q3)
    # dict order: AED, د.إ, USD, $, EUR, ... — the earliest dict entry
    # present anywhere in the text wins (quirk Q3)
    got = _run(spark, currency_to_aed, ["EUR $ 10", "$ EUR 10", "AED USD 10"])
    assert got[0] == pytest.approx(round(10 * CURRENCY_RATES["$"], 2))  # $ before EUR
    assert got[1] == pytest.approx(36.7)
    assert got[2] == pytest.approx(10.0)  # AED first → rate 1.0


def test_unknown_symbol_rate_one(spark):
    got = _run(spark, currency_to_aed, ["JPY 100", "100 CHF"])
    assert got == [100.0, 100.0]


def test_paren_negation_requires_both_ends(spark):
    got = _run(spark, currency_to_aed, ["(100", "100)", "-(100)"])
    assert got == [0.0, 0.0, 0.0]  # unbalanced/odd forms fail the float parse


def test_pandas_udf_agrees_with_native_expr(spark):
    """The Arrow escape-hatch UDF and the native expression implement the
    same semantics (golden cases)."""
    from vat_etl_spark.queries.functions_lib import make_currency_pandas_udf

    udf = make_currency_pandas_udf()
    values = [v for v, _ in GOLDEN]
    df = spark.createDataFrame([(v,) for v in values], "raw string")
    got = [r.out for r in df.select(udf(F.col("raw")).alias("out")).collect()]
    native = _run(spark, currency_to_aed, values)
    assert got == pytest.approx(native, abs=1e-9)


def test_registered_pandas_udf_currency_matches_native(spark, sf_smoke):
    """Binds the registered `pandas_udf_currency` query: since round 14
    the registered UDF is the exact_decimal variant on a MIXED currency
    domain (symbol rotates with s_suppkey across AED/USD/EUR/GBP), so it
    must agree with the native exact-decimal expression
    (currency_to_aed_exact) on EVERY row — including half-cent ties.
    The float-faithful verbatim variant keeps its own pin below on the
    USD spelling, EXCLUDING the ties — the documented PARITY boundary."""
    from pyspark.sql import functions as F

    from vat_etl_spark.functions.currency import (
        currency_to_aed,
        currency_to_aed_exact,
    )
    from vat_etl_spark.queries import QUERIES
    from vat_etl_spark.queries.functions_lib import _UDF_CCY, make_currency_pandas_udf
    from vat_etl_spark.sources.catalog import read_table

    got = {
        r.s_suppkey: r.aed
        for r in QUERIES["pandas_udf_currency"](spark, sf_smoke).collect()
    }
    supplier = read_table(spark, sf_smoke, "supplier")
    sym = F.element_at(
        F.array(*[F.lit(s) for s in _UDF_CCY]),
        (F.pmod(F.col("s_suppkey"), F.lit(4)) + 1).cast("int"),
    )
    raw_mixed = F.concat(sym, F.format_string("%.2f", F.col("s_acctbal")))
    want = {
        r.s_suppkey: r.aed
        for r in supplier.select("s_suppkey", raw_mixed.alias("raw"))
        .selectExpr("s_suppkey", f"{currency_to_aed_exact('raw')} AS aed")
        .collect()
    }
    assert set(got) == set(want) and len(got) > 0
    for k in got:
        assert abs(got[k] - want[k]) < 1e-9, (k, got[k], want[k])
    # non-unit rate (USD 3.67): UDF vs native agree everywhere EXCEPT the
    # exact half-cent ties (cents * 367 ≡ ±50 mod 100), where float round
    # and decimal half-up legitimately differ by one cent. pmod, not %:
    # Spark's % keeps the dividend's sign, so a NEGATIVE balance's tie
    # lands on -50 and the plain ==50 test would misclassify it as a
    # non-tie and fail the strict 1e-9 assertion on a legitimate one-cent
    # divergence (round-10 ADVICE; s_acctbal can be negative).
    udf = make_currency_pandas_udf()
    raw_usd = F.concat(F.lit("USD "), F.format_string("%.2f", F.col("s_acctbal")))
    cents = F.round(F.col("s_acctbal") * 100).cast("long")
    rows = supplier.select(
        "s_suppkey",
        udf(raw_usd).alias("udf_aed"),
        raw_usd.alias("raw"),
        (F.pmod(cents * 367, F.lit(100)) == 50).alias("is_tie"),
    ).selectExpr(
        "s_suppkey", "udf_aed", f"round({currency_to_aed('raw')}, 2) AS native_aed", "is_tie"
    ).collect()
    n_tie = sum(1 for r in rows if r.is_tie)
    for r in rows:
        if r.is_tie:
            assert abs(r.udf_aed - r.native_aed) <= 0.01 + 1e-9, tuple(r)
        else:
            assert abs(r.udf_aed - r.native_aed) < 1e-9, tuple(r)
    assert len(rows) - n_tie > 0
