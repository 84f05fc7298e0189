"""Hypothesis property tests for the F4 date cascade: the compat parser must
agree with the reference model (pandas ``to_datetime(dayfirst=True)``) on
the format families real workbooks contain (quirks Q4: dayfirst mangles
ISO). Batched — one Spark job per property run."""

from __future__ import annotations

import datetime as dt

import pandas as pd
import pytest
from hypothesis import given, settings, strategies as st

from vat_etl_spark.functions.dates import parse_date_compat


def model(text):
    """Reference semantics: pandas to_datetime(dayfirst=True) per value."""
    try:
        ts = pd.to_datetime(text, dayfirst=True)
        return None if pd.isna(ts) else ts.to_pydatetime().replace(tzinfo=None)
    except Exception:
        return None


def spark_parse(spark, values):
    df = spark.createDataFrame([(v,) for v in values], "raw string")
    return [
        r.out for r in df.selectExpr(f"{parse_date_compat('raw')} AS out").collect()
    ]


dates = st.dates(min_value=dt.date(1990, 1, 1), max_value=dt.date(2099, 12, 31))


@settings(max_examples=25, deadline=None)
@given(st.lists(st.tuples(dates, st.sampled_from(["dmy_slash", "dmy_dash", "iso"])),
                min_size=1, max_size=25))
def test_compat_matches_pandas_dayfirst(spark, cases):
    def fmt(d, kind):
        if kind == "dmy_slash":
            return f"{d.day:02d}/{d.month:02d}/{d.year}"
        if kind == "dmy_dash":
            return f"{d.day:02d}-{d.month:02d}-{d.year}"
        return d.isoformat()  # ISO — quirk Q4 territory

    values = [fmt(d, k) for d, k in cases]
    got = spark_parse(spark, values)
    expected = [model(v) for v in values]
    assert got == expected, list(zip(values, got, expected))


@settings(max_examples=15, deadline=None)
@given(st.lists(st.text(alphabet="0123456789/-. ", max_size=12), min_size=1, max_size=20))
def test_garbage_never_raises_and_nulls_match_contract(spark, texts):
    # unparseable → NULL (never an exception, even under ANSI mode)
    got = spark_parse(spark, texts)
    assert len(got) == len(texts)


# --- separator gate soundness ------------------------------------------------
# parse_date_compat tries each format only on strings holding the format's
# literal separator. The reference below tries every format on every string;
# the two must agree everywhere.

_TOKENS = (
    [str(d) for d in range(10)]
    + ["01", "12", "13", "29", "31", "00", "99", "2024", "1997", "0000", "45000"]
    + ["/", "-", ".", " ", ",", ", ", "+", "--", "\t", "  "]
    + ["Jan", "jan", "MAR", "March", "Sept", "September", "May", "Dec", "December"]
)
date_like = st.lists(
    st.one_of(st.sampled_from(_TOKENS), st.integers(0, 99999).map(str)), max_size=7
).map("".join)


def ungated_parse(expr: str, sane: bool) -> str:
    """The cascade without separator gates, as Spark SQL text."""
    from vat_etl_spark.functions.dates import _COMPAT_FORMATS, _SANE_FORMATS

    text = f"trim(CAST(({expr}) AS STRING))"
    num = f"try_cast({text} AS DOUBLE)"
    fmts = _SANE_FORMATS if sane else _COMPAT_FORMATS
    tries = ", ".join(f"try_to_timestamp({text}, '{f}')" for f in fmts)
    return (
        f"CASE WHEN ({expr}) IS NULL THEN NULL"
        f" WHEN {num} > 1 AND {num} < 60000"
        f" THEN to_timestamp(date_add(DATE'1899-12-30', CAST(floor({num}) AS INT)))"
        f" ELSE get(filter(array(coalesce({tries})), t -> year(t) BETWEEN 1 AND 9999), 0)"
        " END"
    )


@pytest.mark.parametrize("sane", [False, True])
@settings(max_examples=30, deadline=None)
@given(texts=st.lists(date_like, min_size=1, max_size=40))
def test_separator_gate_matches_ungated_cascade(spark, sane, texts):
    df = spark.createDataFrame([(v,) for v in texts], "raw string")
    rows = df.selectExpr(
        "raw",
        f"{parse_date_compat('raw', sane=sane)} AS gated",
        f"{ungated_parse('raw', sane)} AS ref",
    ).collect()
    assert [(r.raw, r.gated) for r in rows] == [(r.raw, r.ref) for r in rows]
