"""Result sanitization (SURVEY §2.2 P13).

Reference: backend/main.py:34-40 walks fetched rows and replaces NaN/Inf
floats with None before JSON serialization. Engine-side equivalent: a
plan-level projection (nanvl/when), so the fix happens distributed, not in
the serialization loop.
"""

from __future__ import annotations

import math

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


def sanitize_value(value):
    """A collected value with NaN/±Inf floats → None at any depth of
    dicts and lists (nested rows read with `asDict(recursive=True)`),
    for the few rows that are not worth a plan-level projection."""
    if isinstance(value, float):
        return value if math.isfinite(value) else None
    if isinstance(value, dict):
        return {k: sanitize_value(v) for k, v in value.items()}
    if isinstance(value, list):
        return [sanitize_value(v) for v in value]
    return value
