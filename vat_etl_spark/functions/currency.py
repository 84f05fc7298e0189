"""Currency detection + conversion to AED as a pure native expression.

Reference semantics (``/root/reference/fianl2.py:18-40``, rates dict at 9-16),
verified oracle cases (SURVEY.md §2.3 F1): ``"USD 100"``→367.0,
``"(500)"``→-500.0, ``"€ 99.5"``→396.01, ``"GBP (20)"``→-92.4,
``"1.2.3"``→0.0, ``"5%"``→5.0, NULL→0.0.

Behavioral contract (compat):

- NULL → 0.0
- first currency symbol/code appearing *as a substring, in dict insertion
  order* wins (quirk Q3) — not longest/leftmost
- strip every char except ``[0-9.\\-()]``; ``(x)`` → ``-x`` (accounting
  negative); unparseable → 0.0 (quirk Q6). Documented deviation: digits are
  ASCII-only — the reference's CPython ``\\d``/``float()`` also accept
  Unicode decimal digits (e.g. ``٣``, ``꩑``), which Java regex, Spark's
  cast, and DuckDB all reject; such characters are stripped as noise here
  in BOTH engines, keeping the oracle pair bit-identical.
- ``round(value * rate, 2)`` — HALF_UP on the shortest-decimal repr of the
  double (Spark ``F.round`` == Java ``BigDecimal.valueOf`` == the DuckDB
  oracle). Documented deviation: CPython's ``round`` rounds the exact binary
  value half-even, so the reference differs on repr-boundary products
  (≈1e-8 of inputs, e.g. ``EUR 3819833.75`` → 15202938.33 here vs .32 in
  CPython). Chosen for bit-stable cross-engine results.

The reference applies this per cell via ``Series.apply`` (a row-at-a-time
Python UDF — the slowest possible path, one interpreter round-trip per cell).
Here it is a ``CASE WHEN`` chain + regexp + try_cast: fully JVM-side,
whole-stage-codegen'd, and expressible in ANSI SQL for the DuckDB oracle.
The Spark spelling is rendered as SQL text and reaches the JVM in one call
(:mod:`vat_etl_spark.functions.sqltext`); the ``*_sql`` functions are the
DuckDB twins the oracle checks it against.
At 100 TB this is the difference between a scan-speed pipeline and a
Python-bound one.
"""

from __future__ import annotations

from vat_etl_spark.functions.sqltext import str_lit

# Insertion order matters: detection is first-match-in-this-order (quirk Q3).
CURRENCY_RATES: dict[str, float] = {
    "AED": 1.00,
    "د.إ": 1.00,
    "USD": 3.67,
    "$": 3.67,
    "EUR": 3.98,
    "€": 3.98,
    "GBP": 4.62,
    "£": 4.62,
    "SAR": 0.98,
    "ر.س": 0.98,
    "INR": 0.044,
    "₹": 0.044,
}

_CLEAN_RE = r"[^0-9\.\-\(\)]"  # ASCII digits only (matches the SQL oracle path)


def _convert(expr: str, num_type: str, zero: str, rate_lit) -> str:
    """Shared shape of both Spark spellings: ``round(number * rate, 2)``,
    NULL input → 0.0. ``expr`` is Spark SQL text (e.g. a backquoted
    column); the number parses as ``num_type`` (``zero`` when it fails,
    quirk Q6) and ``rate_lit`` renders a rate literal."""
    text = f"trim(CAST(({expr}) AS STRING))"
    # strip to [0-9.-()], then accounting-paren negation
    cleaned = f"regexp_replace({text}, {str_lit(_CLEAN_RE)}, '')"
    unparen = (
        f"CASE WHEN startswith({cleaned}, '(') AND endswith({cleaned}, ')')"
        f" AND length({cleaned}) >= 2"
        f" THEN concat('-', substr({cleaned}, 2, length({cleaned}) - 2))"
        f" ELSE {cleaned} END"
    )
    num = f"coalesce(try_cast({unparen} AS {num_type}), {zero})"
    # first substring match in dict order wins (quirk Q3); default AED
    rate_cases = " ".join(
        f"WHEN contains({text}, {str_lit(sym)}) THEN {rate_lit(r)}"
        for sym, r in CURRENCY_RATES.items()
    )
    rate = f"coalesce(CASE {rate_cases} END, {rate_lit(1.0)})"
    out = f"round({num} * {rate}, 2)"
    if num_type != "DOUBLE":
        out = f"CAST({out} AS DOUBLE)"
    return f"CASE WHEN ({expr}) IS NULL THEN 0.0D ELSE {out} END"


def currency_to_aed(expr: str) -> str:
    """Full compat conversion as Spark SQL text over the SQL text ``expr``:
    detect rate, parse number, ``round(·, 2)``. NULL input → 0.0
    (reference: ``pd.isna → 0.0``). Apply with ``F.expr``/``selectExpr``.

    Doubles are written ``1.0D``: a bare ``3.67`` is a DECIMAL literal in
    Spark SQL."""
    return _convert(expr, "DOUBLE", "0.0D", lambda r: f"{r!r}D")


def currency_to_aed_exact(expr: str) -> str:
    """Exact-decimal variant for cross-engine verification: parse the cleaned
    string straight into DECIMAL(18,4) (strings parse exactly — no binary
    float detour), multiply by a DECIMAL rate, round(2), cast double. Same
    observable semantics as :func:`currency_to_aed` whenever the numeric part
    has ≤4 decimal places; bit-identical between Spark and DuckDB."""
    return _convert(
        expr,
        "DECIMAL(18,4)",
        "CAST(0 AS DECIMAL(18,4))",
        lambda r: f"CAST('{r}' AS DECIMAL(10,4))",
    )


def currency_to_aed_exact_sql(expr: str) -> str:
    """DuckDB twin of :func:`currency_to_aed_exact`."""
    text = f"trim(cast(({expr}) AS VARCHAR))"
    cleaned = f"regexp_replace({text}, '[^0-9.()-]', '', 'g')"
    unparen = (
        f"CASE WHEN {cleaned} LIKE '(%' AND {cleaned} LIKE '%)' AND length({cleaned}) >= 2 "
        f"THEN '-' || substr({cleaned}, 2, length({cleaned}) - 2) "
        f"ELSE {cleaned} END"
    )
    num = f"coalesce(try_cast({unparen} AS DECIMAL(18,4)), cast(0 AS DECIMAL(18,4)))"
    rate_cases = " ".join(
        f"WHEN instr({text}, '{sym}') > 0 THEN cast('{rate}' AS DECIMAL(10,4))"
        for sym, rate in CURRENCY_RATES.items()
    )
    rate = f"CASE {rate_cases} ELSE cast('1.0' AS DECIMAL(10,4)) END"
    return (
        f"CASE WHEN ({expr}) IS NULL THEN 0.0 "
        f"ELSE cast(round({num} * ({rate}), 2) AS DOUBLE) END"
    )


def currency_to_aed_sql(expr: str) -> str:
    """ANSI-SQL (DuckDB-runnable) rendering of :func:`currency_to_aed` over a
    SQL expression ``expr`` — lets the driver's DuckDB oracle verify the Spark
    expression value-for-value."""
    text = f"trim(cast(({expr}) AS VARCHAR))"
    cleaned = f"regexp_replace({text}, '[^0-9.()-]', '', 'g')"
    unparen = (
        f"CASE WHEN {cleaned} LIKE '(%' AND {cleaned} LIKE '%)' AND length({cleaned}) >= 2 "
        f"THEN '-' || substr({cleaned}, 2, length({cleaned}) - 2) "
        f"ELSE {cleaned} END"
    )
    num = f"coalesce(try_cast({unparen} AS DOUBLE), 0.0)"
    rate_cases = " ".join(
        f"WHEN instr({text}, '{sym}') > 0 THEN {rate}" for sym, rate in CURRENCY_RATES.items()
    )
    rate = f"CASE {rate_cases} ELSE 1.0 END"
    return f"CASE WHEN ({expr}) IS NULL THEN 0.0 ELSE round({num} * ({rate}), 2) END"
