"""Partitioned parquet sink (SURVEY §2.1 S6).

Reference: pyarrow snappy writer (zip_ext_and_parq_store.py:209-217).
Every parquet store here is written with `PARQUET_CODEC` (zstd): the
session default in `session.get_spark`, this sink, the fact store and
the statement store all name it, so a session configured elsewhere
writes the same files. Spark-first: partitioned parquet writes replace
per-quarter table-name suffixes — Catalyst partition-prunes
`source_file=` filters automatically (strictly better than name
templating, SURVEY §4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

# the one parquet codec of every store; Spark, pyarrow and DuckDB read it
PARQUET_CODEC = "zstd"


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_col: str = "source_file",
    mode: str = "overwrite",
) -> None:
    """Columnar sink: zstd parquet partitioned by quarter tag.

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
    writer.mode(mode).parquet(path, compression=PARQUET_CODEC)
