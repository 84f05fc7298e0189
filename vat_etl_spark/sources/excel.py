"""Excel workbook ingest — the reference's ``process_sheet`` pipeline
(``/root/reference/fianl2.py:130-164``) re-architected for Spark.

Reference behavior: read each sheet TWICE (raw scan for header inference,
typed re-read), per-cell Python currency conversion, eager materialization.
Here: the workbook is read ONCE driver-side (xlsx is a zip of XML — not a
splittable format; at the reference's 200 MB upload cap a driver-side pandas
bridge is the right call, SURVEY.md §4.2), header inference runs on the
30-row head, and everything after ``spark.createDataFrame`` is a lazy,
fully-typed plan whose heavy lifting (currency parse over 3 money columns)
is native JVM expressions.

For genuinely huge workbooks the per-sheet loop parallelizes trivially
(sheets are independent zip members); the normalized union is what scales.

openpyxl/xlsxwriter are optional in this container — gated imports; the
normalization pipeline itself (:func:`normalize_vat_sheet`) is
source-agnostic and fully tested against in-memory frames.
"""

from __future__ import annotations

import logging
from typing import Iterable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from vat_etl_spark.functions.currency import currency_to_aed
from vat_etl_spark.functions.dates import parse_date_compat
from vat_etl_spark.functions.headers import canonical_rename, detect_header_row
from vat_etl_spark.functions.months import extract_month_from_name
from vat_etl_spark.functions.sqltext import ident, str_lit
from vat_etl_spark.schemas import VAT_REQUIRED_COLUMNS

_LOG = logging.getLogger(__name__)

MONEY_COLUMNS = ["Supply/Purchase Value", "VAT Value", "Invoice Value"]
SANE_BOX_LETTER_RE = r"\b([A-D])\b"  # a standalone box letter (the documented fix)


def box_normalize_compat(expr: str) -> str:
    """``astype(str).upper().strip()`` compat over the SQL text ``expr``:
    NULL → literal "NAN" (quirk Q2, fianl2.py:162)."""
    return f"upper(trim(coalesce(CAST(({expr}) AS STRING), 'nan')))"


def normalize_vat_sheet(
    df: DataFrame,
    sheet_name: str,
    *,
    compat: bool = True,
    as_of_year: int | None = None,
) -> DataFrame:
    """Normalize one raw (all-string, canonical-header) sheet DataFrame into
    the typed VAT transaction contract. Mirrors fianl2.py:130-164 step-for-step
    but as ONE lazy projection:

    - pad missing required columns with NULL  (P2)
    - currency-convert 3 money columns, native expressions (F1)
    - Month/MonthNum from the sheet name, driver-side (F3)
    - Year = mode of parsed Date years (F4+A3), an uncorrelated scalar
      subquery inside the plan, so building the frame runs no job and the
      subquery runs inside whichever action first executes it; fallback =
      ``as_of_year`` (explicit parameter replacing the reference's
      nondeterministic ``datetime.now().year`` — quirk F11), else 1970
    - Box stringify/upper/trim (F5, quirk Q2) + BoxLetter (F6)

    Each step is one ``withColumn`` of the reference's order, applied to a
    list of (name, SQL text) pairs with ``withColumn``'s rules (a name
    replaces every column it matches case-insensitively, in place; a new
    name is appended), so the output has the same columns in the same
    order, and the whole list reaches the JVM as one ``selectExpr``.
    """
    cols = [(c, ident(c)) for c in df.columns]

    def expr_of(name: str) -> str:
        return next(e for c, e in cols if c.lower() == name.lower())

    def with_column(name: str, expr: str) -> None:
        hits = [i for i, (c, _) in enumerate(cols) if c.lower() == name.lower()]
        for i in hits:
            cols[i] = (name, expr)
        if not hits:
            cols.append((name, expr))

    for c in VAT_REQUIRED_COLUMNS:
        if c not in df.columns:
            with_column(c, "CAST(NULL AS STRING)")
    for c in MONEY_COLUMNS:
        with_column(c, currency_to_aed(expr_of(c)))

    month_abbr, month_num = extract_month_from_name(sheet_name)
    fallback = as_of_year if as_of_year is not None else 1970
    mode_year = _mode_year(df, compat=compat)

    box_letter_re = r"([A-Z])" if compat else SANE_BOX_LETTER_RE
    box = expr_of("Box")
    with_column("Month", str_lit(month_abbr))
    with_column("MonthNum", f"CAST({int(month_num)} AS INT)")
    with_column("Year", f"CAST({int(fallback)} AS INT)")
    with_column("SourceSheet", str_lit(sheet_name))
    with_column("Box", box_normalize_compat(box) if compat else f"upper(trim({box}))")
    with_column("BoxLetter", f"regexp_extract({expr_of('Box')}, {str_lit(box_letter_re)}, 1)")
    out = df.selectExpr(
        *[e if e == ident(c) else f"{e} AS {ident(c)}" for c, e in cols]
    )
    if mode_year is None:
        return out
    # the mode year, else the fallback literal it replaces in place; the
    # literal keeps the column non-null
    return out.withColumn("Year", F.ifnull(mode_year, out["Year"]))


def _mode_year(df: DataFrame, compat: bool = True) -> Column | None:
    """Most frequent year of the parsed Date column (fianl2.py:115-126),
    as a scalar-subquery Column: NULL when no Date value parses.

    Tie-break = first-encountered (reference ``Counter`` + ``max`` behavior);
    approximated at scale by min encounter id. The subquery is the top-1
    row of a per-year aggregate (the distinct-year cardinality is tiny);
    it is uncorrelated, so Spark runs it once per execution, concurrently
    with the other sheets' subqueries, before the main plan's stages: 2
    jobs, the aggregate's map stage and the top-1 result. The aggregate is
    coalesced to one partition first: a persisted plan (``vat_box_summary``
    returns one) does not coalesce its subqueries' shuffle partitions, and
    the scalar subquery's ``executeTake`` would then scan them in 3 jobs
    instead of 1. A sheet without a Date column (padded with NULL) has no
    year: None.
    """
    if "Date" not in df.columns:
        return None
    date = parse_date_compat(ident("Date"), sane=not compat)
    years = (
        df.selectExpr(f"year({date}) AS y", "monotonically_increasing_id() AS enc")
        .where("y IS NOT NULL")
        .groupBy("y")
        .agg(F.expr("count(*) AS n"), F.expr("min(enc) AS first_enc"))
        .coalesce(1)
        .orderBy(F.desc("n"), F.asc("first_enc"))
        .limit(1)
        .select("y")
    )
    return years.scalar()


def read_workbook(
    spark: SparkSession,
    path: str,
    *,
    compat: bool = True,
    as_of_year: int | None = None,
    sheets: Iterable[str] | None = None,
) -> DataFrame:
    """Workbook → one normalized union DataFrame (the reference's
    per-sheet loop + ``pd.concat``, fianl2.py:216-227). Per-sheet errors are
    isolated (logged with the sheet name, then skip + continue), matching
    the reference's ``st.error`` + continue at fianl2.py:219-221."""
    try:
        import pandas as pd
    except ImportError as e:  # pragma: no cover
        raise NotImplementedError("pandas required for the xlsx bridge") from e
    try:
        xls = pd.ExcelFile(path)
    except ImportError as e:  # openpyxl missing in this container
        raise NotImplementedError("openpyxl not installed: xlsx bridge stubbed") from e
    except Exception as e:  # unreadable/corrupt workbook
        raise ValueError(f"cannot open workbook {path!r}: {e}") from e

    frames: list[DataFrame] = []
    for sheet in sheets or xls.sheet_names:
        try:
            raw = pd.read_excel(xls, sheet_name=sheet, header=None, dtype=object)
            header_row = detect_header_row(raw.head(30).values.tolist())
            body = raw.iloc[header_row + 1 :].reset_index(drop=True)
            body.columns = canonical_rename(list(raw.iloc[header_row]))
            body = body.loc[:, ~body.columns.duplicated()]
            # explicit all-string schema (r15 review finding): with
            # arrow.pyspark.fallback pinned off in session.py, a
            # conversion failure here would no longer degrade to the
            # pickled path — it would raise into this loop's per-sheet
            # except and SILENTLY skip the sheet. The frame is all
            # str/None by construction, so handing Spark the schema
            # outright removes the only inference step that could fail.
            from pyspark.sql.types import StringType, StructField, StructType

            sdf = spark.createDataFrame(
                body.astype(str).where(body.notna(), None),
                schema=StructType(
                    [StructField(str(c), StringType()) for c in body.columns]
                ),
            )
            frames.append(
                normalize_vat_sheet(sdf, sheet, compat=compat, as_of_year=as_of_year)
            )
        except Exception:
            _LOG.error("skipping sheet %r of %s", sheet, path, exc_info=True)
            continue
    if not frames:
        raise ValueError("No valid sheets processed.")
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f, allowMissingColumns=True)
    return out
