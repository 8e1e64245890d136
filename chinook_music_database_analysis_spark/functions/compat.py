"""Portable expression helpers (the MySQL-dialect shim layer).

Two jobs:

1. **Dialect shims** for the reference's MySQL idioms (SURVEY.md §2.8):
   ``TIMESTAMPDIFF(MONTH|DAY, ...)``, HALF_UP money rounding, etc.

2. **Cross-engine determinism.** The driver hash-compares Spark output
   against a DuckDB oracle.  Floating-point SUMs are order-dependent, so
   the engine's convention is: *money flows through exact DECIMAL
   aggregation* (source doubles carry exactly 2 decimal digits — verified
   against the generated data), is ROUNDed while still decimal, and only
   then cast to DOUBLE for output.  Exact decimal sums are associative,
   so Spark (any partitioning) and DuckDB produce bit-identical results.
   Ratios divide two such exact values in IEEE double — again
   deterministic on both engines.

   This is also the right call at 100 TB: decimal aggregation avoids the
   float drift that grows with row count, and it stays entirely inside
   whole-stage codegen (no UDFs).

Reference parity notes cite /root/reference/SQL_file.sql as `ref:LINE`.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: Decimal type used for money ingestion.  Wide enough for any single
#: value in the data; sums widen automatically (Spark) / use int128
#: accumulators (DuckDB), both exact.
MONEY_DEC = "decimal(18,4)"


def money(c: Column | str) -> Column:
    """Cast a 2-decimal-digit double column to exact decimal."""
    c = F.col(c) if isinstance(c, str) else c
    return c.cast(MONEY_DEC)


def money_sum(c: Column | str) -> Column:
    """Exact, order-independent sum of a money column."""
    return F.sum(money(c))


def round2(c: Column) -> Column:
    """ROUND(x, 2) on an exact decimal, then cast to double for output.

    Rounding *before* leaving decimal keeps HALF_UP semantics identical
    across engines (ref:130 ``ROUND(...,2)``); the final double cast is
    the correctly-rounded IEEE value of the same decimal on both.
    """
    return F.round(c, 2).cast("double")


def ratio2(num: Column, den: Column) -> Column:
    """round(num/den, 2) computed in IEEE double on both engines.

    Inputs should be exact (decimal sums or integer counts) so the
    doubles being divided are bit-identical across engines.
    """
    return F.round(num.cast("double") / den.cast("double"), 2)


def revenue_expr() -> Column:
    """Per-lineitem revenue: ``l_extendedprice * (1 - l_discount)``.

    The analog of the reference's ``quantity * unit_price`` revenue
    (ref:30).  Computed entirely in decimal: (18,4) * (19,4) stays
    within decimal(38,8) — exact.
    """
    one = F.lit(1).cast("decimal(15,4)")
    return money("l_extendedprice") * (one - money("l_discount"))


#: Oracle-side (DuckDB) text of :func:`revenue_expr` — keep in sync.
SQL_REVENUE = (
    "CAST(l_extendedprice AS DECIMAL(18,4)) * "
    "(CAST(1 AS DECIMAL(15,4)) - CAST(l_discount AS DECIMAL(18,4)))"
)


def month_diff(older: Column, newer: Column) -> Column:
    """MySQL ``TIMESTAMPDIFF(MONTH, older, newer)`` (ref:238, :472).

    Complete months between two midnight timestamps, anchored on
    day-of-month.  Written as explicit integer calendar arithmetic so
    Spark and DuckDB compute the identical value (Spark's
    ``months_between`` and DuckDB's ``date_diff('month', ...)`` each have
    their own conventions; this sidesteps both).

    Truncates toward zero in BOTH directions like MySQL (r11 review:
    the day-of-month completion adjustment was only applied forward,
    so ``month_diff('2021-03-15','2021-01-20')`` returned -2 where
    MySQL counts just one complete month back, -1).  Every repo
    caller passes older <= newer, but the function documents itself
    as the MySQL shim, so the reversed direction must not be a trap.
    """
    months = (F.year(newer) - F.year(older)) * 12 + (F.month(newer) - F.month(older))
    fwd_short = (newer >= older) & (F.dayofmonth(newer) < F.dayofmonth(older))
    bwd_short = (newer < older) & (F.dayofmonth(newer) > F.dayofmonth(older))
    return (
        months
        - F.when(fwd_short, 1).otherwise(0)
        + F.when(bwd_short, 1).otherwise(0)
    ).cast("int")


def sql_month_diff(older: str, newer: str) -> str:
    """DuckDB text of :func:`month_diff` — identical arithmetic."""
    return (
        f"CAST((EXTRACT(YEAR FROM {newer}) - EXTRACT(YEAR FROM {older})) * 12"
        f" + (EXTRACT(MONTH FROM {newer}) - EXTRACT(MONTH FROM {older}))"
        f" - CASE WHEN {newer} >= {older}"
        f" AND EXTRACT(DAY FROM {newer}) < EXTRACT(DAY FROM {older})"
        f" THEN 1 ELSE 0 END"
        f" + CASE WHEN {newer} < {older}"
        f" AND EXTRACT(DAY FROM {newer}) > EXTRACT(DAY FROM {older})"
        f" THEN 1 ELSE 0 END"
        f" AS INTEGER)"
    )


def day_diff(older: Column, newer: Column) -> Column:
    """MySQL ``TIMESTAMPDIFF(DAY, older, newer)`` (ref:122, :543).

    Date-boundary day count; equals MySQL's complete-24h count because
    every timestamp in the workload is at midnight (SURVEY.md §2.8 F7).
    """
    return F.datediff(F.to_date(newer), F.to_date(older)).cast("int")


def sql_day_diff(older: str, newer: str) -> str:
    """DuckDB text of :func:`day_diff`."""
    return f"CAST(date_diff('day', CAST({older} AS DATE), CAST({newer} AS DATE)) AS INTEGER)"
