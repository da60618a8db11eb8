"""Parquet sink/load with schema matching (SURVEY §2.1 S6, S7).

Reference: pyarrow snappy writer (zip_ext_and_parq_store.py:209-217) and
`COPY INTO … MATCH_BY_COLUMN_NAME=CASE_INSENSITIVE ON_ERROR=CONTINUE`
(snowflake_raw_data_loader.py:233-239). Spark-first: partitioned parquet
writes replace per-quarter table-name suffixes — Catalyst partition-prunes
`source_file=` filters automatically (strictly better than name
templating, SURVEY §4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_col: str = "source_file",
    mode: str = "overwrite",
) -> None:
    """Columnar sink: snappy parquet partitioned by quarter tag.

    At 100 TB: one directory per quarter, scans with a `source_file`
    predicate read only that quarter's files (partition pruning).
    `mode="append"` is the quarterly-accretion path: a dynamic partition
    overwrite, set as a write option, so each quarter replaces only its
    own partition directory. Appending a quarter again replaces its rows
    instead of adding a second copy, and other quarters are never
    rewritten. The session's conf is not touched.
    """
    writer = df.write.partitionBy(partition_col)
    if mode == "append":
        writer = writer.option("partitionOverwriteMode", "dynamic")
        mode = "overwrite"
    writer.mode(mode).parquet(path, compression="snappy")


def load_matched(
    spark: SparkSession,
    path: str,
    target_schema: T.StructType,
) -> DataFrame:
    """Schema-matched load: COPY INTO MATCH_BY_COLUMN_NAME=CASE_INSENSITIVE.

    Columns are matched to the target schema by case-insensitive name;
    missing columns become typed NULLs, extra columns are dropped, and
    type mismatches coerce via try_cast (ON_ERROR=CONTINUE: bad values →
    NULL, load proceeds).
    """
    df = spark.read.parquet(path)
    by_lower = {c.lower(): c for c in df.columns}
    projected = []
    for field in target_schema.fields:
        src = by_lower.get(field.name.lower())
        if src is None:
            projected.append(F.lit(None).cast(field.dataType).alias(field.name))
        else:
            projected.append(F.col(src).try_cast(field.dataType).alias(field.name))
    return df.select(*projected)
