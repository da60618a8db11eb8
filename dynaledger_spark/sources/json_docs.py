"""JSON document source/sink (SURVEY §2.1 S8, S9).

Reference: one `.json` file per filing uploaded with ujson
(ext_zip_convert_into_json_store.py:142-148), then
`COPY INTO t(raw_json) FROM @stage PATTERN='.*\\.json'`
(load_json_data_snowflake.py:143-149). Spark-first: `df.write.json` /
`spark.read.json` with the declared DOC_SCHEMA — no inference, no stage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from dynaledger_spark.schemas import DOC_SCHEMA


def write_documents(docs: DataFrame, path: str) -> None:
    """Sink the assembled documents as JSON lines (S9)."""
    doc_cols = [f.name for f in DOC_SCHEMA.fields]
    docs.select(*doc_cols).write.mode("overwrite").json(path)


def read_documents(spark: SparkSession, path: str) -> DataFrame:
    """Scan JSON documents into the declared nested schema (S8).

    VARIANT ≈ the parsed StructType; a malformed document yields typed
    NULLs (PERMISSIVE) rather than failing the load.
    """
    return spark.read.json(path, schema=DOC_SCHEMA, mode="PERMISSIVE")

