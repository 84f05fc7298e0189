"""F4 polymorphic date parsing — compat quirks Q4 (dayfirst mangles ISO)
and Q5 (Excel serials), verified against reference behavior (SURVEY.md §8)."""

from __future__ import annotations

from datetime import datetime


from vat_etl_spark.functions.dates import parse_date_compat

CASES_COMPAT = [
    ("15/1/1997", datetime(1997, 1, 15)),
    ("01/02/2024", datetime(2024, 2, 1)),     # dayfirst: 1 Feb, not Jan 2
    ("2024-02-01", datetime(2024, 1, 2)),     # quirk Q4: ISO mangled by dayfirst
    ("1997-01-15", datetime(1997, 1, 15)),    # day token >12 → ISO fallback
    ("02/13/2024", datetime(2024, 2, 13)),    # day-first impossible → month-first
    ("45000", datetime(2023, 3, 15)),         # Excel serial (verified oracle)
    ("5 Mar 1997", datetime(1997, 3, 5)),
    ("not-a-date", None),
    (None, None),
]


def _parse(spark, values, sane=False):
    df = spark.createDataFrame([(v,) for v in values], "raw string")
    return [
        r.out
        for r in df.selectExpr(f"{parse_date_compat('raw', sane=sane)} AS out").collect()
    ]


def test_compat_cases(spark):
    got = _parse(spark, [v for v, _ in CASES_COMPAT])
    for (raw, want), g in zip(CASES_COMPAT, got):
        assert g == want, f"{raw!r}: {g} != {want}"


def test_sane_mode_keeps_iso(spark):
    got = _parse(spark, ["2024-02-01"], sane=True)
    assert got == [datetime(2024, 2, 1)]


def test_serial_bounds(spark):
    # serial range is exclusive: (1, 60000) — 1 and 60000 fall through
    got = _parse(spark, ["2", "59999"])
    assert got[0] == datetime(1900, 1, 1)
    assert got[1] == datetime(2064, 4, 7)
