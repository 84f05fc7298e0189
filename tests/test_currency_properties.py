"""Hypothesis property tests for the F1 currency parser (SURVEY.md §5.2):
parse(format(x)) round-trips, parentheses ⇔ negation, unknown symbols get
rate 1.0. Properties are checked against a pure-Python model of the
reference semantics, executed in ONE Spark job per property (batched
examples — not one session call per example)."""

from __future__ import annotations

import re
from decimal import ROUND_HALF_UP, Decimal

from hypothesis import given, settings, strategies as st

from vat_etl_spark.functions.currency import CURRENCY_RATES, currency_to_aed


def round2(x: float) -> float:
    """The engine's documented rounding: HALF_UP on the shortest decimal
    repr of the double (Java BigDecimal.valueOf == DuckDB behavior — the two
    oracle-compared engines agree by construction). CPython's round() instead
    rounds the exact binary value half-even, so the *reference* diverges on
    repr-boundary products (e.g. 3819833.75×3.98 → .33 here, .32 in CPython)
    — a documented deviation for cross-engine determinism (currency.py)."""
    return float(Decimal(repr(x)).quantize(Decimal("0.01"), ROUND_HALF_UP))


def model(value):
    """Pure-Python model of fianl2.py:18-40 (reference semantics, engine
    rounding)."""
    if value is None:
        return 0.0
    text = str(value).strip()
    rate = 1.0
    for sym, r in CURRENCY_RATES.items():
        if sym in text:
            rate = r
            break
    # ASCII digit class: the engine's documented deviation from CPython —
    # Unicode decimal digits (which Python \d and float() accept) are
    # stripped as noise by Java regex / Spark cast / DuckDB alike.
    cleaned = re.sub(r"[^0-9\.\-\(\)]", "", text)
    if cleaned.startswith("(") and cleaned.endswith(")"):
        cleaned = "-" + cleaned[1:-1]
    try:
        num = float(cleaned)
    except ValueError:
        num = 0.0
    return round2(num * rate)


def spark_parse(spark, values):
    df = spark.createDataFrame([(v,) for v in values], "raw string")
    return [r.out for r in df.selectExpr(f"{currency_to_aed('raw')} AS out").collect()]


amounts = st.decimals(
    min_value=-10_000_000, max_value=10_000_000, places=2, allow_nan=False
)
symbols = st.sampled_from(list(CURRENCY_RATES) + ["XYZ", "", "?!"])


@settings(max_examples=30, deadline=None)
@given(st.lists(st.tuples(symbols, amounts, st.booleans()), min_size=1, max_size=25))
def test_formatted_amounts_roundtrip(spark, cases):
    values = [
        f"{sym} ({abs(a)})" if neg else f"{sym} {a}" for sym, a, neg in cases
    ]
    assert spark_parse(spark, values) == [model(v) for v in values]


@settings(max_examples=20, deadline=None)
@given(st.lists(st.text(max_size=24), min_size=1, max_size=25))
def test_arbitrary_text_matches_reference_model(spark, texts):
    # surrogates can't cross the Arrow/JVM boundary; hypothesis text() may
    # produce them — the parser contract is over well-formed strings
    texts = [t.encode("utf-8", "replace").decode("utf-8") for t in texts]
    assert spark_parse(spark, texts) == [model(t) for t in texts]


@settings(max_examples=20, deadline=None)
@given(st.lists(amounts, min_size=1, max_size=25))
def test_paren_is_negation(spark, nums):
    values = [f"({abs(n)})" for n in nums]
    got = spark_parse(spark, values)
    assert got == [round2(-abs(float(n))) for n in nums]
