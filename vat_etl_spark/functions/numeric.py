"""Numeric helpers for cross-engine-exact aggregation.

Floating-point sums are accumulation-order-dependent, so a Spark sum and a
DuckDB sum of the same 60k doubles can differ in the last ulps — enough to
flip a ``round(·, 2)`` at a boundary and break the driver's value-hash gate.
The fix is exact arithmetic: the testdata money columns are 2-decimal values
(discount/tax 2dp ⇒ derived net has ≤4, vat ≤6 decimals), so casting the
double expression to ``DECIMAL(30,6)`` recovers the exact decimal value in
both engines, decimal sums are exact and order-independent, and the final
``round(2) → DOUBLE`` is bit-identical.

This also matches the engine's own recommendation (SURVEY.md §1.3): money
should be decimal, not float — float money is a reference wart.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

DEC = "decimal(30,6)"


def dsum(expr: Column, scale: int = 2) -> Column:
    """Exact decimal sum of a (≤6-decimal-place) numeric expression, rounded
    to ``scale`` and returned as double. NULL-safe: empty/all-NULL → 0.0
    (pandas ``.sum()`` compat, quirk Q9).

    Implementation: per-row exact long-micros (:func:`micros` — pure codegen
    double arithmetic) summed into a DECIMAL buffer, so the accumulator is
    overflow-safe at any data volume while the per-row conversion avoids the
    BigDecimal allocation of a double→decimal cast (measured 2.3× on a
    grouped sum at sf0.1; bit-identical within the micros() domain).

    PER-ROW DOMAIN (inherited from :func:`micros`): |value| < ~10^9 with
    ≤6 true decimals. Beyond that the double fast-path silently loses
    exactness while the DECIMAL(30,6) oracle twin stays exact — route
    wider inputs through an explicit decimal cast instead."""
    tot = F.sum(micros(expr).cast("decimal(26,0)"))
    return F.coalesce(
        F.round(tot / F.lit(10**6), scale).cast("double"), F.lit(0.0)
    )


def dsum_sql(expr: str, scale: int = 2) -> str:
    """DuckDB twin of :func:`dsum`."""
    return (
        f"coalesce(cast(round(sum(cast(({expr}) AS DECIMAL(30,6))), {scale}) "
        f"AS DOUBLE), 0.0)"
    )


def dsumx(expr: Column) -> Column:
    """Unrounded exact sum as double: decimal-exact INTEGER-micros total →
    one integer→double conversion → one IEEE division by 1e6. Use where
    the sum feeds arithmetic (shares, thresholds) rather than display —
    rounding first would *add* parity risk at repr boundaries. Same
    accumulator — and same per-row |value| < ~10^9 / ≤6-dp domain — as
    :func:`dsum`.

    Round-10 conversion-path fix (found by the sf0.1 full-oracle sweep):
    the old spelling converted the SCALE-6 decimal (total/10⁶) to double,
    and once the total passes 2^53 micros the engines' scaled-decimal→
    double conversions disagree in the last ulp (Spark's
    BigDecimal.doubleValue is correctly rounded; DuckDB divides by the
    scale factor in floating point — two roundings). Integer-decimal→
    double is correctly rounded in BOTH engines while the micros TOTAL
    fits in int64 (DuckDB runs the sum in HUGEINT and its int128→double
    cast double-rounds once the upper word is more than zero/sign
    extension — unreachable under the stated per-row |value| < ~10^9
    domain until ~10^12 rows/group), and the final /1e6 is one shared
    IEEE op, so this form stays bit-identical past 2^53 micros
    (agg_statistics_exact / agg_linear_trend diverged at sf0.1 under the
    old form; the sf0.01 gate was passing on luck)."""
    tot = F.sum(micros(expr).cast("decimal(26,0)"))
    return F.coalesce(tot.cast("double") / F.lit(1e6), F.lit(0.0))


def dsumx_sql(expr: str) -> str:
    """DuckDB twin of :func:`dsumx` — the same integer-micros total (the
    floor(x·1e6+0.5) per-row form mirrors :func:`micros` exactly within
    its domain), integer→double, one IEEE division."""
    return (
        f"coalesce(cast(sum(cast(floor(({expr}) * 1000000 + 0.5) AS BIGINT)) "
        f"AS DOUBLE) / 1000000.0, 0.0)"
    )


def davg(expr: Column) -> Column:
    """Order-independent average: exact integer-micros total → one
    integer→double conversion → /1e6 → /count, all IEEE-deterministic and
    bit-identical across engines (same conversion-path discipline as
    :func:`dsumx` — the scaled-decimal→double cast this replaced diverges
    in the last ulp past 2^53 micros). Same micros-into-decimal
    accumulator — and same per-row |value| < ~10^9 / ≤6-dp domain — as
    :func:`dsum`."""
    tot = F.sum(micros(expr).cast("decimal(26,0)"))
    return tot.cast("double") / F.lit(1e6) / F.count(expr)


def davg_sql(expr: str) -> str:
    return (
        f"cast(sum(cast(floor(({expr}) * 1000000 + 0.5) AS BIGINT)) AS DOUBLE)"
        f" / 1000000.0 / count({expr})"
    )


def micros(expr: Column) -> Column:
    """Exact 6-decimal fixed-point of a double expression, as long micros.

    DOMAIN: the input must be a double whose true value is an exact ≤6-dp
    decimal (all testdata money expressions: 2-dp base × 2-dp rates ⇒ ≤6
    true decimals) with |value| below ~10^9. Then x·1e6 lands within ≪0.5
    of the true integer micros count and ``floor(x·1e6 + 0.5)`` recovers it
    exactly — same integer a DECIMAL(30,6) cast produces in Spark or DuckDB,
    but in pure codegen'd double arithmetic instead of a per-row BigDecimal
    allocation (measured ~2× on the whole-aggregate path at sf0.1).
    Property-tested equal to the decimal-cast form in test_numeric.py."""
    return F.floor(expr.cast("double") * F.lit(1e6) + F.lit(0.5)).cast("long")


def micros_text(expr: str) -> str:
    """:func:`micros` as Spark SQL text over the SQL text ``expr``."""
    return f"CAST(floor(CAST(({expr}) AS DOUBLE) * 1000000.0D + 0.5D) AS BIGINT)"


def msum(expr: Column, scale: int = 2) -> Column:
    """Fixed-point fast-path sum: exact long-micros accumulation (pure
    whole-stage-codegen long arithmetic — ~25% faster than the decimal
    aggregation buffer of :func:`dsum`), half-up rounded to ``scale``,
    returned as double. Value-identical to :func:`dsum` (and to the
    ``dsum_sql`` oracle) within its domain.

    DOMAIN BOUND: |group sum| < 2^63 micros ≈ 9.2 × 10^12 value units.
    Plenty for any real currency total per reporting period; NOT safe for
    unbounded analytics sums (TPC-H Q1 at sf10^5 overflows) — those use
    :func:`dsum`. The quotient/rounding path stays exact because the cent
    count (≤ 9.2 × 10^14) is below 2^53.
    """
    s = F.sum(micros(expr))
    unit, half = 10 ** (6 - scale), 10 ** (6 - scale) // 2

    def idiv(t: Column) -> Column:
        # exact floor(t / unit) on longs: subtract the (nonnegative) pmod,
        # then the division is an exact integer in double range (< 2^53)
        return (t - F.pmod(t, F.lit(unit))) / F.lit(unit)

    q = F.when(s >= 0, idiv(s + F.lit(half))).otherwise(-idiv(-s + F.lit(half)))
    return F.coalesce(q / F.lit(float(10**scale)), F.lit(0.0))


def hsum_partial(expr: Column) -> Column:
    """Stage-1 partial for :func:`hsum_merge`: exact long-micros sum within
    the stage-1 grouping. Combine with ``F.spark_partition_id()`` in the
    stage-1 keys so each partial is bounded by partition size (set by
    spark.sql.files.maxPartitionBytes), NOT by total data volume — that is
    what makes the hierarchical scheme overflow-safe at any scale.

    DOMAIN BOUND (per stage-1 group): |sum| < 2^63 micros ≈ 9.2 × 10^12
    value units per partition — at 128 MB partitions that allows average
    absolute values up to ~10^6 per row."""
    return F.sum(micros(expr))


def hsum_merge(partial: Column, scale: int = 2) -> Column:
    """Stage-2 merge: decimal sum of the (≤ num_partitions per group) long
    partials — exact and overflow-safe to 10^26 micros — rounded to
    ``scale`` as double. The expensive decimal arithmetic touches only
    group×partition partial rows, so the hot path stays long-speed while
    the result is bit-identical to :func:`dsum` (property-tested)."""
    tot = F.sum(partial.cast("decimal(26,0)"))
    return F.coalesce(
        F.round(tot / F.lit(10**6), scale).cast("double"), F.lit(0.0)
    )


def hsum_merge_text(partial: str, scale: int = 2) -> str:
    """:func:`hsum_merge` as Spark SQL text over the SQL text ``partial``."""
    return (
        f"coalesce(CAST(round(sum(CAST(({partial}) AS DECIMAL(26,0))) / 1000000,"
        f" {scale}) AS DOUBLE), 0.0D)"
    )


def havg_merge(partial: Column, count: Column) -> Column:
    """Stage-2 exact average from micros partials + counts: decimal total →
    exact /1e6 (≥6-dp decimal division) → double → IEEE divide by count —
    the same single-rounding sequence as :func:`davg`."""
    tot = F.sum(partial.cast("decimal(26,0)"))
    return (tot / F.lit(10**6)).cast("double") / F.sum(count)
