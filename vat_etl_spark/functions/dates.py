"""Polymorphic date parsing (reference ``parse_date_value``,
``/root/reference/fianl2.py:102-113``) as a native expression cascade.

Compat contract (SURVEY.md §2.3 F4, quirks Q4/Q5):

- numeric value ``1 < v < 60000`` → Excel serial day from epoch 1899-12-30
  (verified: 45000 → 2023-03-15)
- strings parsed with pandas ``dayfirst=True`` precedence: day-first formats
  win, so ``"01/02/2024"`` → Feb 1 **and** ISO ``"2024-02-01"`` → Jan 2
  (dayfirst mangles ISO — quirk Q4); month-first only when day-first is
  impossible (``"02/13/2024"`` → Feb 13)
- unparseable → NULL

``sane=True`` parses ISO correctly (ISO first, then day-first) and is the
mode the engine's own surface should use.
"""

from __future__ import annotations

import re

from vat_etl_spark.functions.sqltext import str_lit

# Try-formats, in pandas-dayfirst precedence order. try_to_timestamp returns
# NULL on mismatch, so coalesce implements the cascade.
_COMPAT_FORMATS = [
    "d/M/yyyy",
    "d-M-yyyy",
    "d.M.yyyy",
    "d/M/yy",
    "M/d/yyyy",  # pandas falls back to month-first when day-first is invalid
    "yyyy-d-M",  # dayfirst=True mangles ISO: year, then DAY, then month (Q4)
    "yyyy-M-d",  # ...unless the middle token can't be a day
    "yyyy/d/M",
    "d MMM yyyy",
    "MMM d yyyy",
    "MMMM d, yyyy",
]

_SANE_FORMATS = [
    "yyyy-M-d",
    "yyyy/M/d",
    "d/M/yyyy",
    "d-M-yyyy",
    "d.M.yyyy",
    "d/M/yy",
    "M/d/yyyy",
    "d MMM yyyy",
    "MMM d yyyy",
    "MMMM d, yyyy",
]


def _separator(fmt: str) -> str:
    """The longest literal (non-letter) run of a format: ``/``, ``-``,
    ``.``, a space or ``, ``. A pattern's literals must appear verbatim in
    any string it parses, so a string without this run cannot parse."""
    return max(re.findall(r"[^A-Za-z]+", fmt), key=len)


def excel_serial_to_date(num: str) -> str:
    """Excel serial number (SQL text) → timestamp from epoch 1899-12-30
    (int-truncated days, matching the reference's ``int(val)``)."""
    return f"to_timestamp(date_add(to_date('1899-12-30'), CAST(floor({num}) AS INT)))"


def parse_date_compat(expr: str, sane: bool = False) -> str:
    """Parse a polymorphic (string-typed) date, as Spark SQL text over the
    SQL text ``expr``; apply with ``F.expr``/``selectExpr``.

    Branch order mirrors the reference: numeric-serial test first, then the
    string-format cascade; anything else NULL.
    """
    text = f"trim(CAST(({expr}) AS STRING))"
    as_num = f"try_cast({text} AS DOUBLE)"
    fmts = _SANE_FORMATS if sane else _COMPAT_FORMATS
    # each format is tried only on strings holding its separator: a superset
    # test, so the cascade's result is unchanged and most try_to_timestamp
    # calls (the cascade's whole cost) are skipped
    cascade = "coalesce(" + ", ".join(
        f"CASE WHEN contains({text}, {str_lit(_separator(f))})"
        f" THEN try_to_timestamp({text}, {str_lit(f)}) END"
        for f in fmts
    ) + ")"
    # Spark's proleptic calendar admits year 0 (e.g. "0000/1/1" via yyyy/d/M),
    # but Python's datetime cannot represent it, so collect() would raise —
    # violating the "garbage → NULL, never an exception" contract (the
    # reference's pandas model returns NaT). Clamp to datetime-representable
    # years; out-of-range parses become NULL like any other garbage.
    # The clamp goes through a 1-element array + lambda so the cascade is
    # evaluated ONCE per row: a plain `CASE WHEN year(cascade) BETWEEN ...
    # THEN cascade` re-runs every try_to_timestamp in the branch
    # (conditional branches are excluded from codegen subexpression
    # elimination — measured 6× on the full-column parse at sf0.1).
    parsed_str = f"get(filter(array({cascade}), t -> year(t) >= 1 AND year(t) <= 9999), 0)"
    return (
        f"CASE WHEN ({expr}) IS NULL THEN CAST(NULL AS TIMESTAMP)"
        f" WHEN {as_num} IS NOT NULL AND {as_num} > 1 AND {as_num} < 60000"
        f" THEN {excel_serial_to_date(as_num)}"
        f" ELSE {parsed_str} END"
    )


def parse_date_compat_sql(expr: str, sane: bool = False) -> str:
    """DuckDB-runnable ANSI SQL mirroring :func:`parse_date_compat` (oracle)."""
    text = f"trim(cast(({expr}) AS VARCHAR))"
    as_num = f"try_cast({text} AS DOUBLE)"
    serial = (
        f"cast(DATE '1899-12-30' + to_days(cast(floor({as_num}) AS INTEGER)) AS TIMESTAMP)"
    )
    duck_fmts = {
        "d/M/yyyy": "%-d/%-m/%Y",
        "d-M-yyyy": "%-d-%-m-%Y",
        "d.M.yyyy": "%-d.%-m.%Y",
        "d/M/yy": "%-d/%-m/%y",
        "M/d/yyyy": "%-m/%-d/%Y",
        "yyyy-d-M": "%Y-%-d-%-m",
        "yyyy-M-d": "%Y-%-m-%-d",
        "yyyy/d/M": "%Y/%-d/%-m",
        "d MMM yyyy": "%-d %b %Y",
        "MMM d yyyy": "%b %-d %Y",
        "MMMM d, yyyy": "%B %-d, %Y",
    }
    fmts = _SANE_FORMATS if sane else _COMPAT_FORMATS
    tries = ", ".join(f"try_strptime({text}, '{duck_fmts[f]}')" for f in fmts)
    # Mirror the Spark-side year clamp (1-9999) so the oracle agrees on
    # out-of-range parses like "0000/1/1" → NULL.
    cascade = f"coalesce({tries})"
    clamped = (
        f"CASE WHEN year({cascade}) BETWEEN 1 AND 9999 THEN {cascade} END"
    )
    return (
        f"CASE WHEN ({expr}) IS NULL THEN NULL "
        f"WHEN {as_num} IS NOT NULL AND {as_num} > 1 AND {as_num} < 60000 THEN {serial} "
        f"ELSE {clamped} END"
    )
