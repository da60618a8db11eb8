"""Table registry + SQL pass-through.

The reference routes every query to Snowflake over the network and keeps a
table *per quarter* by name suffix (snowflake_raw_data_loader.py:50,
backend/main.py:168-172). Here the catalog is the in-process Spark catalog:
tables register once as temp views, per-quarter data is modeled as a
`source_file` partition column (Catalyst partition-prunes it from filters),
and arbitrary user SQL (backend/main.py:109-134) runs through
`spark.sql` — Catalyst's parser/optimizer replaces Snowflake's.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

# Tables whose timestamp columns have shipped in different parquet
# physical types across testdata generations (TIMESTAMP(NANOS) in rounds
# 1-2, TIMESTAMP(MICROS, isAdjustedToUTC=false) from round 3). read_table
# normalizes whatever arrives to TimestampType, so queries never see the
# difference.
_NANOS_TS_COLS: dict[str, tuple[str, ...]] = {"events": ("ts",)}


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one testdata parquet table, normalizing timestamp physical types.

    Self-sufficient under any SparkSession (the driver harness and
    notebooks bring their own — every conf used here is runtime-settable):

    * TIMESTAMP(NANOS) columns (rounds 1-2 testdata): Spark refuses the
      read (PARQUET_TYPE_ILLEGAL) unless
      ``spark.sql.legacy.parquet.nanosAsLong`` is on; the epoch-nanos
      long is converted with ``div 1000`` — truncation toward zero, which
      matches DuckDB's CAST(TIMESTAMP_NS AS TIMESTAMP) for negative
      (pre-epoch) values too (property-locked:
      tests/test_properties.py::test_nanos_truncation_matches_duckdb).
    * TIMESTAMP(MICROS, isAdjustedToUTC=false) columns (round-3 testdata):
      Spark reads TIMESTAMP_NTZ; cast to TimestampType under a UTC session
      timezone — value-preserving, and the whole query surface (casts to
      numeric, watermarks, windows) keeps the TimestampType semantics it
      was verified under. The session timezone is pinned UTC here so the
      NTZ→TZ cast and result rendering are deterministic regardless of
      host timezone (DuckDB's naive timestamps compare as UTC).

    SIDE EFFECT (deliberate, session-wide): when a table carries NTZ
    columns, this sets ``spark.sql.session.timeZone = UTC`` on the
    CALLER'S session and leaves it set — subsequent timestamp rendering
    in unrelated queries on a non-UTC session changes from that point
    on. Column-level ``to_utc_timestamp`` cannot replace it: the cast
    semantics AND the downstream rendering both have to agree with the
    UTC-pinned contract the oracle parity was verified under. A session
    that needs a different display timezone must set it back after the
    read and own the resulting NTZ interpretation. (Also noted in
    README "Gotchas".)
    """
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    if name in _NANOS_TS_COLS:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    for col in _NANOS_TS_COLS.get(name, ()):
        if col in df.columns and isinstance(df.schema[col].dataType, T.LongType):
            df = df.withColumn(col, F.expr(f"timestamp_micros({col} div 1000)"))
    if any(isinstance(f.dataType, T.TimestampNTZType) for f in df.schema.fields):
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        df = df.select(
            *[
                F.col(f.name).cast("timestamp").alias(f.name)
                if isinstance(f.dataType, T.TimestampNTZType)
                else F.col(f.name)
                for f in df.schema.fields
            ]
        )
    return df


def load_tables(
    spark: SparkSession, sf_dir: str, tables: tuple[str, ...]
) -> dict[str, DataFrame]:
    """Load the named parquet tables from ``sf_dir`` and register each
    as a temp view.

    Parquet scans give Catalyst pushdown + pruning for free; no schema
    inference cost (parquet is self-describing).
    """
    out: dict[str, DataFrame] = {}
    for name in tables:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if not os.path.exists(path):
            continue
        df = read_table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out


def sql(spark: SparkSession, query: str) -> DataFrame:
    """Arbitrary-SQL pass-through (reference: backend/main.py:109-134).

    The reference sends the raw string to Snowflake; here Catalyst
    parses/analyzes/optimizes it against the registered views.
    """
    return spark.sql(query)
