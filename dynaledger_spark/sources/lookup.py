"""Static lookup-file source (SURVEY §2.1 S14): the cik→symbol ticker dim.

Reference reads a 12k-row headerless TSV and probes it row-by-row
(ext_zip_convert_into_json_store.py:66-77). Spark-first: a broadcast-size
dimension read once with an explicit schema; "first match wins" is made
explicit by deduping on cik keeping the first file-order row.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from dynaledger_spark.schemas import TICKER_SCHEMA


def load_ticker(spark: SparkSession, path: str) -> DataFrame:
    """Headerless `symbol\\tcik` TSV → (symbol, cik) broadcast dimension."""
    w = W.partitionBy("cik").orderBy("_row_id")
    return (
        spark.read.csv(path, sep="\t", header=False, schema=TICKER_SCHEMA)
        .withColumn("_row_id", F.monotonically_increasing_id())
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("symbol", "cik")
    )
