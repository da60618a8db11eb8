"""JSON document source/sink (SURVEY §2.1 S8, S9).

Reference: one `.json` file per filing uploaded with ujson
(ext_zip_convert_into_json_store.py:142-148), then
`COPY INTO t(raw_json) FROM @stage PATTERN='.*\\.json'`
(load_json_data_snowflake.py:143-149). Spark-first: `df.write.json` /
`spark.read.json` with the declared DOC_SCHEMA — no inference, no stage.

The sink writes gzip-compressed JSON lines (`part-*.json.gz`): about a
ninth of the plain documents' bytes. `COPY INTO` reads gzip with
`COMPRESSION = AUTO`, and Spark picks the codec from the file
extension, so `read_documents` reads either form. gzip rather than
zstd or lz4: Hadoop's zstd codec needs the native libhadoop, and lz4
or Hadoop-snappy framing is not a format `COPY INTO` or common JSON
tools read.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from dynaledger_spark.schemas import DOC_SCHEMA


def write_documents(docs: DataFrame, path: str) -> None:
    """Sink the assembled documents as gzip JSON lines (S9)."""
    doc_cols = [f.name for f in DOC_SCHEMA.fields]
    docs.select(*doc_cols).write.mode("overwrite").json(path, compression="gzip")


def read_documents(spark: SparkSession, path: str) -> DataFrame:
    """Scan JSON documents into the declared nested schema (S8).

    VARIANT ≈ the parsed StructType; a malformed document yields typed
    NULLs (PERMISSIVE) rather than failing the load.
    """
    return spark.read.json(path, schema=DOC_SCHEMA, mode="PERMISSIVE")
