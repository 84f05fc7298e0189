"""Scalar function library — native expressions only (no Python UDFs on the
hot path). Each reproduces a reference scalar function (SURVEY.md §2.3) as a
Catalyst-visible expression tree that stays inside whole-stage codegen. The
currency and date kernels are Spark SQL text (:mod:`.sqltext`), applied with
one ``F.expr``/``selectExpr`` call.
"""

from vat_etl_spark.functions.currency import CURRENCY_RATES, currency_to_aed
from vat_etl_spark.functions.dates import excel_serial_to_date, parse_date_compat
from vat_etl_spark.functions.months import extract_month_from_name, month_expr
from vat_etl_spark.functions.headers import EXACT_HEADER_MAP, normalize_header

__all__ = [
    "CURRENCY_RATES",
    "currency_to_aed",
    "parse_date_compat",
    "excel_serial_to_date",
    "extract_month_from_name",
    "month_expr",
    "EXACT_HEADER_MAP",
    "normalize_header",
]
