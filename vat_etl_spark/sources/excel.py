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
from vat_etl_spark.schemas import VAT_REQUIRED_COLUMNS

_LOG = logging.getLogger(__name__)

MONEY_COLUMNS = ["Supply/Purchase Value", "VAT Value", "Invoice Value"]


def box_normalize_compat(col: Column) -> Column:
    """``astype(str).upper().strip()`` compat: NULL → literal "NAN" (quirk Q2,
    fianl2.py:162)."""
    return F.upper(F.trim(F.coalesce(col.cast("string"), F.lit("nan"))))


def normalize_vat_sheet(
    df: DataFrame,
    sheet_name: str,
    *,
    compat: bool = True,
    as_of_year: int | None = None,
) -> DataFrame:
    """Normalize one raw (all-string, canonical-header) sheet DataFrame into
    the typed VAT transaction contract. Mirrors fianl2.py:130-164 step-for-step
    but as ONE lazy plan:

    - pad missing required columns with NULL  (P2)
    - currency-convert 3 money columns, native expressions (F1)
    - Month/MonthNum from the sheet name, driver-side (F3)
    - Year = mode of parsed Date years, one tiny aggregate job (F4+A3);
      fallback = ``as_of_year`` (explicit parameter replacing the reference's
      nondeterministic ``datetime.now().year`` — quirk F11)
    - Box stringify/upper/trim (F5, quirk Q2) + BoxLetter (F6)
    """
    for c in VAT_REQUIRED_COLUMNS:
        if c not in df.columns:
            df = df.withColumn(c, F.lit(None).cast("string"))

    for c in MONEY_COLUMNS:
        df = df.withColumn(c, currency_to_aed(F.col(c)))

    month_abbr, month_num = extract_month_from_name(sheet_name)
    year_val = _mode_year(df, compat=compat)
    if year_val is None:
        year_val = as_of_year if as_of_year is not None else 1970

    box_letter_re = r"([A-Z])" if compat else r"\b([A-D])\b"
    box = box_normalize_compat(F.col("Box")) if compat else F.upper(F.trim(F.col("Box")))
    return (
        df.withColumn("Month", F.lit(month_abbr))
        .withColumn("MonthNum", F.lit(month_num).cast("int"))
        .withColumn("Year", F.lit(int(year_val)).cast("int"))
        .withColumn("SourceSheet", F.lit(sheet_name))
        .withColumn("Box", box)
        .withColumn("BoxLetter", F.regexp_extract(F.col("Box"), box_letter_re, 1))
    )


def _mode_year(df: DataFrame, compat: bool = True) -> int | None:
    """Most frequent year of the parsed Date column (fianl2.py:115-126).

    Tie-break = first-encountered (reference ``Counter`` + ``max`` behavior);
    approximated at scale by min encounter id. Runs as one small aggregate
    job; the distinct-year cardinality is tiny so the collect is safe.
    """
    if "Date" not in df.columns:
        return None
    years = (
        df.select(
            F.year(parse_date_compat(F.col("Date"), sane=not compat)).alias("y"),
            F.monotonically_increasing_id().alias("enc"),
        )
        .filter(F.col("y").isNotNull())
        .groupBy("y")
        .agg(F.count("*").alias("n"), F.min("enc").alias("first_enc"))
        .orderBy(F.desc("n"), F.asc("first_enc"))
        .limit(1)
        .collect()
    )
    return int(years[0]["y"]) if years else None


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
