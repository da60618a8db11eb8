"""TSV / ZIP ingestion → typed DataFrames (SURVEY §2.1 S3-S5, §2.2 P7-P10).

Reference behavior being re-expressed:
  * zip_ext_and_parq_store.py:161-217 — extract {sub,pre,tag,num}.txt from a
    quarterly ZIP, read tab-separated with pandas, coerce every column
    through a type map with errors='coerce' (bad cell → null), add a
    `source_file` tag, write snappy parquet (here: zstd,
    `parquet_io.PARQUET_CODEC`).
  * Chunked reads (CHUNK_SIZE=1e6, ext_zip_convert_into_json_store.py:19)
    exist only to bound pandas memory — Spark's partitioned scan makes
    them unnecessary.

Spark-first: one `spark.read.csv` with an all-string schema, then
`try_cast` projections (JVM-side, vectorized; exactly pandas
to_numeric(errors='coerce') semantics). A `_row_id` ordinal is attached so
"first match in file order" lookups (ext_zip_convert_into_json_store.py:
108-123) stay reproducible after the data is distributed.
"""

from __future__ import annotations

import os
import zipfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dynaledger_spark.schemas import SEC_SCHEMAS

# Member files of a quarterly SEC ZIP → logical table names
# (FILE_TYPES, zip_ext_and_parq_store.py:30).
FILE_TYPES = {"sub.txt": "sec_sub", "pre.txt": "sec_pre", "tag.txt": "sec_tag", "num.txt": "sec_num"}

ROW_ID = "_row_id"


def extract_zip(zip_path: str, out_dir: str) -> dict[str, str]:
    """Extract the four member TSVs from a quarterly ZIP (S3).

    Driver-side utility (acquisition, not query): Spark has no zip-of-tsv
    source, so members are extracted next to the ZIP and scanned as CSV.
    """
    os.makedirs(out_dir, exist_ok=True)
    out: dict[str, str] = {}
    with zipfile.ZipFile(zip_path) as zf:
        for member in zf.namelist():
            base = os.path.basename(member)
            if base in FILE_TYPES:
                zf.extract(member, out_dir)
                out[FILE_TYPES[base]] = os.path.join(out_dir, member)
    return out


def read_tsv(
    spark: SparkSession,
    path: str,
    table: str,
    source_file: str,
) -> DataFrame:
    """Read one SEC TSV into its declared schema with coerce-to-null casts.

    Every column is scanned as string (no inference — the reference
    declares schemas everywhere) and projected through try_cast to the
    target type; a malformed cell becomes NULL instead of failing the
    load (ON_ERROR=CONTINUE ≈ PERMISSIVE + try_cast).
    """
    target = SEC_SCHEMAS[table]
    data_cols = [f for f in target.fields if f.name != "source_file"]
    raw_schema = T.StructType(
        [T.StructField(f.name, T.StringType(), True) for f in data_cols]
    )
    df = spark.read.csv(path, sep="\t", header=True, schema=raw_schema, mode="PERMISSIVE")

    def coerce(f: T.StructField):
        c = F.col(f.name)
        if isinstance(f.dataType, (T.LongType, T.IntegerType)):
            # Mirror the reference's int(float(x)) tolerance
            # (ext_zip_convert_into_json_store.py:85): "20230331.0" → 20230331.
            return c.try_cast("double").try_cast(f.dataType).alias(f.name)
        return c.try_cast(f.dataType).alias(f.name)

    projected = [coerce(f) for f in data_cols] + [F.lit(source_file).alias("source_file")]
    # Ordinal within the scan: preserves "first row in file order"
    # semantics for dedup/lookup joins. Monotonic per partition,
    # globally ordered because partition ids are the high bits.
    return df.select(*projected).withColumn(ROW_ID, F.monotonically_increasing_id())


def ingest_quarter(
    spark: SparkSession,
    paths: dict[str, str],
    source_file: str,
) -> dict[str, DataFrame]:
    """Ingest one quarter's four TSVs → typed DataFrames keyed by table."""
    return {
        table: read_tsv(spark, path, table, source_file)
        for table, path in paths.items()
    }
