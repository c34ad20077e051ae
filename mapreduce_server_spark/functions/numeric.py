"""Exact-aggregation helpers — the engine's float discipline.

Problem (SURVEY.md §5.2 item 4): ``sum(double)`` is order-dependent, and
Spark's partial/final aggregation order differs from DuckDB's, so raw double
sums hash-mismatch in the driver's exact value comparison.

Fix: the fixture money columns are 2-decimal-valued doubles (profiled in
FIXTURES.md), so casting to DECIMAL before summing is *exact* — both engines
then sum identical decimals in exact integer arithmetic and the final
``CAST(sum AS DOUBLE)`` rounds the same exact value to the same double,
bit-identically, regardless of partitioning or order.

Oracle-side mirror:  ``sum(col::DECIMAL(18,2))::DOUBLE``.

At 100 TB this costs nothing extra: decimal partial aggregation is still
map-side-combined by HashAggregateExec, and decimals up to 18 digits are a
single long internally.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def dsum(col: Column | str, scale: int = 2, precision: int = 18) -> Column:
    """Exact sum of fixed-decimal doubles, returned as double."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(f"decimal({precision},{scale})")).cast("double")


def davg(col: Column | str, scale: int = 2, precision: int = 18) -> Column:
    """Exact-sum average: CAST(sum(decimal) AS DOUBLE) / count — both sides
    perform one identical double division on identical exact operands."""
    return dsum(col, scale, precision) / F.count(F.lit(1))
