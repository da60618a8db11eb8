"""Aggregation helpers shared by the query plans.

The one that matters: exact, order-independent SUM over doubles so Spark's
partial/final aggregation order can never change a result the DuckDB
oracle must match bitwise.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def dsum(col: Column, alias: str, scale: int = 6) -> Column:
    """Order-independent exact SUM of a double column.

    Accumulate in DECIMAL (exact, associative) and cast the final value
    back to DOUBLE: partial aggregates can combine in any order without
    changing the result. SQL twin: CAST(SUM(CAST(x AS DECIMAL(27,s))) AS
    DOUBLE).
    """
    return F.sum(col.cast(f"decimal(27,{scale})")).cast("double").alias(alias)


def osum(expr: str, alias: str, scale: int = 6) -> str:
    """The DuckDB-side twin of :func:`dsum` as an SQL fragment."""
    return f"CAST(SUM(CAST({expr} AS DECIMAL(27,{scale}))) AS DOUBLE) AS {alias}"
