"""End-to-end VAT pipeline semantics on synthetic sheets — the golden-output
replication test (SURVEY.md §5.2): normalize_vat_sheet + vat_box_summary must
reproduce the reference's verified quirk behavior (§8) including NAN→Box A,
substring box matching, all-NULL sums → 0.0, and the 4-rows-per-period shape.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from vat_etl_spark.operators.vat_summary import vat_box_summary
from vat_etl_spark.queries import QUERIES
from vat_etl_spark.sources.excel import normalize_vat_sheet

SHEET = [
    # (Supply Type, Invoice Number, Date, Name, Net, Tax, Gross, Recoverable, Box)
    ("Sales", "1", "15/01/2024", "Acme", "AED 1000", "AED 50", "AED 1050", None, "A"),
    ("Sales", "2", "20/01/2024", "Acme", "USD 100", "USD 5", "USD 105", None, "a "),
    ("Sales", "3", "21/01/2024", "Beta", "2000", "0", "2000", None, "B"),
    ("Purchase", "4", "22/01/2024", "Gamma", "(500)", "(25)", "(525)", None, "C"),
    ("Sales", "5", "23/01/2024", "Delta", "100", "5", "105", None, None),  # Q2: NULL → Box A
    ("Sales", "6", "24/01/2024", "Eps", "10", "1", "11", None, "BOX C"),   # Q1: matches B and C
]
COLS = [
    "Supply Type", "Invoice Number", "Date", "Customer/supplier Name",
    "Supply/Purchase Value", "VAT Value", "Invoice Value", "Recoverable", "Box",
]


@pytest.fixture(scope="module")
def summary_rows(spark):
    raw = spark.createDataFrame(SHEET, ", ".join(f"`{c}` string" for c in COLS))
    norm = normalize_vat_sheet(raw, "Jan 2024", compat=True)
    summary = vat_box_summary(norm, compat=True)
    return {r["FTA Box"]: r for r in summary.collect()}


def test_four_rows_one_period(summary_rows):
    assert set(summary_rows) == {"Box A", "Box B", "Box C", "Box D"}
    assert all(r["Period"] == "Jan 2024" for r in summary_rows.values())


def test_box_a_includes_null_box_rows(summary_rows):
    # A-rows: invoices 1 (1000), 2 (367.0 = USD100), 5 (NULL box → "NAN" ∋ A)
    a = summary_rows["Box A"]
    assert a["Net Value"] == pytest.approx(1000 + 367.0 + 100)
    assert a["VAT Value"] == pytest.approx(50 + 18.35 + 5)


def test_substring_matching_double_counts(summary_rows):
    # "BOX C" contains B and C → invoice 6 lands in both (quirk Q1)
    b = summary_rows["Box B"]
    assert b["Net Value"] == pytest.approx(2000 + 10)
    c = summary_rows["Box C"]
    assert c["Net Value"] == pytest.approx(-500 + 10)
    assert c["VAT Value"] == pytest.approx(-25 + 1)


def test_box_d_is_vat_a_minus_vat_c(summary_rows):
    d = summary_rows["Box D"]
    want = summary_rows["Box A"]["VAT Value"] - summary_rows["Box C"]["VAT Value"]
    assert d["VAT Value"] == pytest.approx(want)
    assert d["Net Value"] == 0.0
    assert d["Net VAT Payable"] == pytest.approx(want)


def test_all_null_group_sums_are_zero(spark):
    # a sheet whose rows all miss box B entirely → Box B sums 0.0, not NULL (Q9)
    raw = spark.createDataFrame(
        [("Sales", "1", "15/01/2024", "x", "100", "5", "105", None, "A")],
        ", ".join(f"`{c}` string" for c in COLS),
    )
    summary = vat_box_summary(normalize_vat_sheet(raw, "Jan", compat=True), compat=True)
    rows = {r["FTA Box"]: r for r in summary.collect()}
    assert rows["Box B"]["Net Value"] == 0.0
    assert rows["Box B"]["VAT Value"] == 0.0


def test_year_mode_and_sheet_month(spark):
    # majority year wins (A3); month comes from the sheet name (F3)
    raw = spark.createDataFrame(
        [
            ("s", "1", "15/01/2023", "x", "1", "0", "1", None, "A"),
            ("s", "2", "16/01/2024", "x", "1", "0", "1", None, "A"),
            ("s", "3", "17/01/2024", "x", "1", "0", "1", None, "A"),
        ],
        ", ".join(f"`{c}` string" for c in COLS),
    )
    norm = normalize_vat_sheet(raw, "feb-sheet", compat=True)
    row = norm.select("Month", "MonthNum", "Year").first()
    assert (row.Month, row.MonthNum, row.Year) == ("Feb", 2, 2024)


def test_missing_columns_padded(spark):
    raw = spark.createDataFrame([("A", "100")], "`Box` string, `Supply/Purchase Value` string")
    norm = normalize_vat_sheet(raw, "Mar", compat=True, as_of_year=2024)
    assert set(COLS).issubset(set(norm.columns))
    row = norm.first()
    assert row["VAT Value"] == 0.0  # padded NULL money → 0.0 after conversion
    assert row["Year"] == 2024  # no parseable dates → as_of_year fallback


# BASELINE.md row 4: the reference's published output (its SQLite db)
GOLDEN_DB = "/root/reference/vat_summary.db"
# FIXTURES.md §A2: the golden output's exact column order
GOLDEN_COLUMNS = [
    "Period", "FTA Box", "Description", "Net Value", "VAT Value", "Net VAT Payable",
]


def _check_box_d(rows) -> None:
    """Box D VAT = BoxA_VAT − BoxC_VAT per period, to the cent
    (fianl2.py:182)."""
    from decimal import Decimal

    def cents(x: float) -> int:
        return int(Decimal(repr(x)).scaleb(2).to_integral_value())

    vat = {}
    for period, box, v in rows:
        vat.setdefault(period, {})[box] = cents(v)
    assert vat, "no rows"
    for period, boxes in vat.items():
        assert boxes["Box D"] == boxes["Box A"] - boxes["Box C"], period


def test_flagship_box_d_invariant_and_golden_columns(spark, sf_smoke):
    """The engine's flagship output has the golden schema, in the same
    order, and satisfies the golden output's Box D invariant — same
    wiring (fianl2.py:182, vat.py)."""
    from vat_etl_spark.schemas import VAT_SUMMARY_SCHEMA

    ours = QUERIES["vat_summary"](spark, sf_smoke)
    assert ours.columns == GOLDEN_COLUMNS == VAT_SUMMARY_SCHEMA.fieldNames()
    _check_box_d(
        [(r["Period"], r["FTA Box"], r["VAT Value"]) for r in ours.collect()]
    )


def test_golden_output_box_d_invariant():
    """The reference's published output satisfies Box D = A − C: every
    period of its db when the db is present (and the db has the golden
    column order), else the Jan 2024 row BASELINE.md vendors
    (13,069,631.69 − 9,726.36 = 13,059,905.33)."""
    import os
    import sqlite3

    if os.path.isfile(GOLDEN_DB):
        con = sqlite3.connect(GOLDEN_DB)
        rows = con.execute(
            'SELECT "Period", "FTA Box", "VAT Value" FROM vat_summary'
        ).fetchall()
        cols = [d[0] for d in con.execute("SELECT * FROM vat_summary").description]
        con.close()
        assert cols == GOLDEN_COLUMNS
    else:
        rows = [
            ("Jan 2024", "Box A", 13_069_631.69),
            ("Jan 2024", "Box C", 9_726.36),
            ("Jan 2024", "Box D", 13_059_905.33),
        ]
    _check_box_d(rows)
