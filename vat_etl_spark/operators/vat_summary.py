"""The flagship query: per-period VAT box summary.

Reference: ``/root/reference/fianl2.py:167-195`` (``calculate_summary``) — a
Python loop over distinct periods × 3 re-filtered ``.sum()`` passes, i.e.
O(periods × rows) with full re-scans. Here it is ONE hash aggregate:

    groupBy(Year, MonthNum, Month)
      → 6 conditional sums (sum(when(box-pred, value)))
      → derived Box D = vatA − vatC
      → inline-explode to the 4-row (A/B/C/D) output shape
      → orderBy(Year, MonthNum)

One shuffle, linear scan, map-side partial aggregation; at 100 TB the only
cost is the scan plus a tiny per-period shuffle (group cardinality = number
of periods, a few thousand at most).

Compat quirks reproduced (SURVEY.md §8): substring box matching (Q1), NULL
box → "NAN" string → matches "A" (Q2), all-NULL sums → 0.0 not NULL (Q9),
round-to-2dp on output (Q10).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from vat_etl_spark.functions.months import MONTH_ABBREVS
from vat_etl_spark.functions.numeric import hsum_merge_text, micros_text
from vat_etl_spark.functions.sqltext import ident, str_lit
from vat_etl_spark.sources.excel import SANE_BOX_LETTER_RE, box_normalize_compat

# the input columns, as schemas.VAT_TRANSACTIONS_SCHEMA names them
NET_COL = "Supply/Purchase Value"
VAT_COL = "VAT Value"
BOX_COL = "Box"
MONTHNUM_COL = "MonthNum"
YEAR_COL = "Year"

BOX_DESCRIPTIONS: dict[str, str] = {
    "Box A": "Standard Rated Supplies (5%)",
    "Box B": "Zero Rated Supplies (0%)",
    "Box C": "Recoverable Input VAT",
    "Box D": "Net VAT Payable (BoxA_VAT - BoxC_VAT)",
}


def vat_box_summary(
    df: DataFrame, *, month_col: str | None = "Month", compat: bool = True
) -> DataFrame:
    """Compute the 4-rows-per-period VAT summary from a normalized
    transaction DataFrame. Output schema = the golden ``vat_summary`` table
    (FIXTURES.md §A2): Period, FTA Box, Description, Net Value, VAT Value,
    Net VAT Payable.

    ``month_col=None`` derives the month label from ``MONTHNUM_COL`` AFTER
    aggregation instead of carrying a per-row string through the group
    keys — measured ~2× on the whole aggregate at sf0.1 (string hashing in
    a hot group key is not free). Use it whenever the label is a function
    of the month number; sheet-derived labels (which can be "Unknown"-like
    free text) keep the explicit column.

    Expressions are Spark SQL text, so building the plan costs a few py4j
    round trips per DataFrame call, not one per sub-expression.
    """
    box, year, monthnum = ident(BOX_COL), ident(YEAR_COL), ident(MONTHNUM_COL)

    # Pre-project per-row work ONCE: the box membership flags (the string
    # normalize+match would otherwise be re-evaluated inside each of the 6
    # aggregate functions — codegen does not CSE across aggregate buffers)
    # and the exact long-micros fixed-point of each measure (2 decimal casts
    # per row instead of 12).
    if compat:
        boxn = box_normalize_compat(box)
        flag = lambda L: f"contains({boxn}, '{L}')"  # noqa: E731
    else:
        letter = (
            f"regexp_extract(upper(trim(CAST({box} AS STRING))), "
            f"{str_lit(SANE_BOX_LETTER_RE)}, 1)"
        )
        flag = lambda L: f"{letter} = '{L}'"  # noqa: E731
    keys = [YEAR_COL, MONTHNUM_COL] + ([month_col] if month_col else [])
    pre = df.selectExpr(
        *[ident(k) for k in keys],
        *[f"{flag(L)} AS _f{L}" for L in "ABC"],
        f"{micros_text(ident(NET_COL))} AS _net_u",
        f"{micros_text(ident(VAT_COL))} AS _vat_u",
    )

    # hierarchical exact sums (functions/numeric.py): long-micros partials
    # per (period, input partition) — pure codegen'd long arithmetic, each
    # partial bounded by partition size so no overflow at any total scale —
    # then a decimal merge over the tiny partial set. Cross-engine
    # bit-stable; all-NULL → 0.0 (Q9).
    parts = [(n, L) for L in "ABC" for n in ("net", "vat")]
    st1 = pre.groupBy(*keys, F.expr("spark_partition_id() AS _pid")).agg(
        *[F.expr(f"sum(CASE WHEN _f{L} THEN _{n}_u END) AS _{n}{L}") for n, L in parts]
    )
    agg = st1.groupBy(*keys).agg(
        *[F.expr(f"{hsum_merge_text(f'_{n}{L}')} AS {n}{L}") for n, L in parts]
    ).selectExpr("*", "vatA - vatC AS vatD")
    if month_col:
        label = ident(month_col)
    else:
        abbrevs = ", ".join(str_lit(m) for m in MONTH_ABBREVS)
        label = (
            f"CASE WHEN {monthnum} >= 1 AND {monthnum} <= 12"
            f" THEN element_at(array({abbrevs}), {monthnum}) ELSE 'Unknown' END"
        )
    period = f"concat_ws(' ', {label}, CAST({year} AS STRING))"

    def row(box_name: str, net_v: str, vat_v: str, payable: str) -> str:
        return (
            f"struct({str_lit(box_name)} AS `FTA Box`,"
            f" {str_lit(BOX_DESCRIPTIONS[box_name])} AS Description,"
            f" CAST(round({net_v}, 2) AS DOUBLE) AS `Net Value`,"
            f" CAST(round({vat_v}, 2) AS DOUBLE) AS `VAT Value`,"
            f" CAST(round({payable}, 2) AS DOUBLE) AS `Net VAT Payable`)"
        )

    zero = "0.0D"
    boxes = ", ".join([
        row("Box A", "netA", "vatA", zero),
        row("Box B", "netB", "vatB", zero),
        row("Box C", "netC", "vatC", zero),
        row("Box D", zero, "vatD", "vatD"),
    ])
    # single-partition sort, not orderBy: the summary is 4 rows per period
    # (bounded by reporting periods, never by data volume), and a global
    # orderBy costs a range-partitioning SAMPLING JOB + a 32-task sort
    # stage — measured ~15% of flagship wall at sf0.1 for a ~300-row sort
    out = (
        agg.selectExpr(year, monthnum, f"{period} AS Period", f"inline(array({boxes}))")
        .coalesce(1)
        .sortWithinPartitions(F.expr(year), F.expr(monthnum), F.expr("`FTA Box`"))
        .drop(YEAR_COL, MONTHNUM_COL)
    )
    return out


def lineitem_as_vat_transactions(lineitem: DataFrame, orders: DataFrame) -> DataFrame:
    """Map the driver's TPC-H-ish tables onto the VAT transaction shape
    (FIXTURES.md §B mapping): period = month/year of o_orderdate; box from
    returnflag/tax bands (returns → C, taxed → A, zero-tax → B);
    net = extendedprice × (1 − discount); vat = net × tax.

    The join shuffles both sides on orderkey — at 100 TB both tables would be
    bucketed/co-partitioned on orderkey so this becomes a shuffle-free
    sort-merge; at bench scale AQE picks a broadcast for the orders side
    projection when it fits.

    No Month string is materialized: the label is a pure function of
    MonthNum here, so the summary derives it post-aggregation
    (vat_box_summary(month_col=None)) instead of hashing a string per row.
    """
    # period columns computed on the 150k-row orders side BEFORE the
    # broadcast join — month/year extraction runs once per order, not once
    # per joined lineitem row, and the broadcast stays 3 narrow columns
    o = orders.select(
        "o_orderkey",
        F.month("o_orderdate").alias("MonthNum"),
        F.year("o_orderdate").alias("Year"),
    )
    j = lineitem.join(o, lineitem["l_orderkey"] == o["o_orderkey"], "inner")
    # double math here is bit-identical across engines; the exact-decimal
    # conversion happens inside the aggregate (functions.numeric)
    net = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    vat = net * F.col("l_tax")
    box = (
        F.when(F.col("l_returnflag") == "R", F.lit("C"))
        .when(F.col("l_tax") > 0, F.lit("A"))
        .otherwise(F.lit("B"))
    )
    return j.select(
        box.alias("Box"),
        net.alias("Supply/Purchase Value"),
        vat.alias("VAT Value"),
        "MonthNum", "Year",
    )


def vat_flagship(lineitem: DataFrame, orders: DataFrame, compat: bool = True) -> DataFrame:
    """End-to-end flagship: testdata → VAT transaction shape → box summary."""
    return vat_box_summary(
        lineitem_as_vat_transactions(lineitem, orders), compat=compat, month_col=None
    )
