"""Result sanitization (SURVEY §2.2 P13).

Reference: backend/main.py:34-40 walks fetched rows and replaces NaN/Inf
floats with None before JSON serialization. Engine-side equivalent: a
plan-level projection (nanvl/when), so the fix happens distributed, not in
the serialization loop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def sanitize_floats(df: DataFrame) -> DataFrame:
    """NaN/±Inf in any double/float column → NULL (JSON-safe)."""
    cols = []
    for field in df.schema.fields:
        if isinstance(field.dataType, (T.DoubleType, T.FloatType)):
            c = F.col(field.name)
            cols.append(
                F.when(F.isnan(c) | c.isin(float("inf"), float("-inf")), None)
                .otherwise(c)
                .alias(field.name)
            )
        else:
            cols.append(F.col(field.name))
    return df.select(*cols)

