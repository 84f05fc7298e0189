"""Month extraction from sheet names (reference ``extract_month_from_sheet``,
``/root/reference/fianl2.py:89-100``, map at 84-87).

Compat contract (quirk Q8): non-alnum → space, lowercase; first month-name
*substring* hit in map order (so ``"mayhem"`` → May); else first standalone
number 1-12; else ``("Unknown", 0)``.

Sheet names are metadata (one per sheet), so the primary implementation is
driver-side Python; :func:`month_expr` is the column-expression form for when
the sheet name travels as a lineage column at scale.
"""

from __future__ import annotations

import re
import unicodedata

from pyspark.sql import Column
from pyspark.sql import functions as F

MONTHS_MAP: dict[str, int] = {
    "jan": 1, "feb": 2, "mar": 3, "apr": 4, "may": 5, "jun": 6,
    "jul": 7, "aug": 8, "sep": 9, "sept": 9, "oct": 10, "nov": 11, "dec": 12,
}

# month number - 1 -> the label every month column carries (fixed, not
# strftime("%b"), so the labels never follow the process locale)
MONTH_ABBREVS = ["Jan", "Feb", "Mar", "Apr", "May", "Jun",
                 "Jul", "Aug", "Sep", "Oct", "Nov", "Dec"]

_NUM_RE = re.compile(r"\b(0?[1-9]|1[0-2])\b")


def extract_month_from_name(sheet_name: str) -> tuple[str, int]:
    """Driver-side compat month detection. Returns (abbrev, month_num)."""
    s = unicodedata.normalize("NFKD", str(sheet_name))
    s = re.sub(r"[^a-zA-Z0-9]", " ", s).lower()
    for m_name, m_num in MONTHS_MAP.items():
        if m_name in s:
            return m_name.title(), m_num
    match = _NUM_RE.search(s)
    if match:
        m_num = int(match.group(1))
        return MONTH_ABBREVS[m_num - 1], m_num
    return "Unknown", 0


def month_expr(col: Column) -> tuple[Column, Column]:
    """Column-expression form: (month_abbrev, month_num) from a name column."""
    s = F.lower(F.regexp_replace(col.cast("string"), r"[^a-zA-Z0-9]", " "))
    num: Column | None = None
    name: Column | None = None
    for m_name, m_num in MONTHS_MAP.items():
        cond = s.contains(F.lit(m_name))
        num = F.when(cond, F.lit(m_num)) if num is None else num.when(cond, F.lit(m_num))
        name = (
            F.when(cond, F.lit(m_name.title()))
            if name is None
            else name.when(cond, F.lit(m_name.title()))
        )
    assert num is not None and name is not None
    fallback_num = F.regexp_extract(s, r"\b(0?[1-9]|1[0-2])\b", 1).try_cast("int")
    # guard: Spark 4.1's element_at(arr, NULL) yields the LAST element, not
    # NULL — wrap in an explicit null check
    fallback_name = F.when(
        fallback_num.isNotNull(),
        F.element_at(F.array(*[F.lit(a) for a in MONTH_ABBREVS]), fallback_num),
    )
    out_num = F.coalesce(num, fallback_num, F.lit(0))
    out_name = F.coalesce(name, fallback_name, F.lit("Unknown"))
    return out_name, out_num
