"""Shared column builders for oracle-deterministic aggregation.

Summing doubles is order-dependent; Spark and DuckDB would disagree in
the last ULP. Both engines implement DECIMAL arithmetic exactly, so we
cast measures to DECIMAL, aggregate exactly, and cast the final result
back to DOUBLE — bit-identical on both sides, and still cheap (decimal
sum is JVM-side codegen in Spark).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

DEC = "decimal(18,2)"
DEC_WIDE = "decimal(28,6)"


def dsum(col: Column | str, scale: str = DEC) -> Column:
    """Exact decimal sum of a double column, returned as double."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(scale)).cast("double")


def davg(col: Column | str, scale: str = DEC) -> Column:
    """Deterministic average: exact decimal sum / count, divided as doubles."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(scale)).cast("double") / F.count(c)


def disc_price() -> Column:
    """l_extendedprice * (1 - l_discount) in exact decimal (scale 4)."""
    one = F.lit(1).cast(DEC)
    return F.col("l_extendedprice").cast(DEC) * (one - F.col("l_discount").cast(DEC))


# DuckDB-side equivalents (keep in sync with the Python builders above).
SQL_DSUM = "CAST(SUM(CAST({col} AS DECIMAL(18,2))) AS DOUBLE)"
SQL_DAVG = "CAST(SUM(CAST({col} AS DECIMAL(18,2))) AS DOUBLE) / COUNT({col})"
SQL_DISC_PRICE = (
    "CAST(l_extendedprice AS DECIMAL(18,2))"
    " * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))"
)
