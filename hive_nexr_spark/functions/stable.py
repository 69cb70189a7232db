"""Order-independent aggregation helpers.

Doubles are not associative: ``sum(double)`` depends on partition/merge
order, so the same query can hash-differently run-to-run (and always risks
mismatching a single-threaded oracle). The reference never faced this — one
reducer accumulated in file order (`exec/GroupByOperator.java:103-111`) —
but a distributed engine must make money-typed sums deterministic.

Pattern: accumulate exactly in DECIMAL (associative), return DOUBLE so the
declared schema stays the natural one. The DuckDB oracle mirrors it as
``CAST(sum(CAST(x AS DECIMAL(30,s))) AS DOUBLE)``.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def dsum(col: Column | str, scale: int = 2) -> Column:
    """Deterministic sum of a fixed-scale double column (prices, balances)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(f"decimal(30,{scale})")).cast("double")


def revenue_sum(price: Column, discount: Column) -> Column:
    """sum(price * (1 - discount)) with exact decimal accumulation.

    Both factors are 2-decimal quantities; the decimal product (scale 4) is
    exact, so the sum is order-independent and engine-portable.
    """
    p = price.cast("decimal(18,2)")
    d = F.lit(1).cast("decimal(18,2)") - discount.cast("decimal(18,2)")
    return F.sum(p * d).cast("double")


REVENUE_SUM_SQL = (
    "CAST(sum(CAST({price} AS DECIMAL(18,2)) * "
    "(CAST(1 AS DECIMAL(18,2)) - CAST({discount} AS DECIMAL(18,2)))) AS DOUBLE)"
)


def charge_sum(price: Column, discount: Column, tax: Column) -> Column:
    """sum(price * (1-discount) * (1+tax)) — tight decimal precisions so the
    three-way product stays within DECIMAL(38) in both engines (price fits
    (12,2); rate factors fit (4,2); product is exact at scale 6)."""
    p = price.cast("decimal(12,2)")
    d = F.lit(1).cast("decimal(4,2)") - discount.cast("decimal(4,2)")
    t = F.lit(1).cast("decimal(4,2)") + tax.cast("decimal(4,2)")
    return F.sum(p * d * t).cast("double")


CHARGE_SUM_SQL = (
    "CAST(sum(CAST({price} AS DECIMAL(12,2)) * "
    "(CAST(1 AS DECIMAL(4,2)) - CAST({discount} AS DECIMAL(4,2))) * "
    "(CAST(1 AS DECIMAL(4,2)) + CAST({tax} AS DECIMAL(4,2)))) AS DOUBLE)"
)


def dmean(col: Column | str, scale: int = 2) -> Column:
    """Deterministic mean: exact decimal sum divided by count, as double."""
    c = F.col(col) if isinstance(col, str) else col
    return (
        F.sum(c.cast(f"decimal(30,{scale})")).cast("double") / F.count(c)
    )
