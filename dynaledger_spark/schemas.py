"""Explicit schemas for the SEC data model (SURVEY.md §1, FIXTURES.md).

The reference declares every schema explicitly (Snowflake DDL at
snowflake_raw_data_loader.py:63-158, pandas type map at
zip_ext_and_parq_store.py:46-127) and never infers; we do the same with
StructTypes. Type decisions follow SURVEY.md §1.3: yyyymmdd dates carried
as integers, `num.value` as DoubleType (matches the parquet the reference
actually loads), boolean-ish flags as IntegerType 0/1.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def empty_frame(spark: SparkSession, schema: T.StructType) -> DataFrame:
    """An empty frame of `schema` (every field nullable), planned as an
    empty range: no Python rows reach Spark, so collecting it starts no
    Python worker, unlike `spark.createDataFrame([], schema)`."""
    return spark.range(0).select(
        *(F.lit(None).cast(f.dataType).alias(f.name) for f in schema)
    )


def _struct(cols: list[tuple[str, T.DataType]], nullable: bool = True) -> T.StructType:
    return T.StructType([T.StructField(n, t, nullable) for n, t in cols])


S = T.StringType()
L = T.LongType()
I = T.IntegerType()
D = T.DoubleType()

# sec_sub — one row per filing; PK adsh. (DDL: snowflake_raw_data_loader.py:83-117)
SUB_SCHEMA = _struct(
    [
        ("adsh", S), ("cik", L), ("name", S), ("sic", L),
        ("countryba", S), ("stprba", S), ("cityba", S), ("zipba", S),
        ("bas1", S), ("bas2", S), ("baph", S),
        ("countryma", S), ("stprma", S), ("cityma", S), ("zipma", S),
        ("mas1", S), ("mas2", S),
        ("countryinc", S), ("stprinc", S), ("ein", L),
        ("former", S), ("changed", L), ("afs", S), ("wksi", I), ("fye", L),
        ("form", S), ("period", L), ("fy", L), ("fp", S), ("filed", L),
        ("accepted", S), ("prevrpt", I), ("detail", I),
        ("instance", S), ("nciks", L), ("aciks", S),
        ("source_file", S),
    ]
)

# sec_tag — XBRL taxonomy; key (tag, version). (DDL: snowflake_raw_data_loader.py:66-75)
TAG_SCHEMA = _struct(
    [
        ("tag", S), ("version", S), ("custom", I), ("abstract", I),
        ("datatype", S), ("iord", S), ("crdr", S), ("tlabel", S), ("doc", S),
        ("source_file", S),
    ]
)

# sec_num — numeric facts; FKs adsh→sub, (tag,version)→tag.
# (DDL: snowflake_raw_data_loader.py:126-139; value NUMBER(38,10) → double, SURVEY §1.3)
NUM_SCHEMA = _struct(
    [
        ("adsh", S), ("tag", S), ("version", S), ("ddate", I), ("qtrs", L),
        ("uom", S), ("segments", S), ("coreg", S), ("value", D), ("footnote", S),
        ("source_file", S),
    ]
)

# sec_pre — statement/line placement; key (adsh, report, line).
# (DDL: snowflake_raw_data_loader.py:141-156)
PRE_SCHEMA = _struct(
    [
        ("adsh", S), ("report", L), ("line", L), ("stmt", S), ("inpth", I),
        ("rfile", S), ("tag", S), ("version", S), ("plabel", S), ("negating", I),
        ("source_file", S),
    ]
)

# ticker.txt — headerless TSV `symbol\tcik` (ext_zip_convert_into_json_store.py:66-74).
TICKER_SCHEMA = _struct([("symbol", S), ("cik", L)])

# Per-filing JSON document (ext_zip_convert_into_json_store.py:92-139; SURVEY §1.4).
_STATEMENT_ITEM = _struct(
    [("label", S), ("concept", S), ("info", S), ("unit", S), ("value", D)]
)
DOC_SCHEMA = T.StructType(
    [
        T.StructField("quarter", S),
        T.StructField("country", S),
        T.StructField("year", I),
        T.StructField("name", S),
        T.StructField("startDate", T.DateType()),
        T.StructField("endDate", T.DateType()),
        T.StructField("symbol", S),
        T.StructField("city", S),
        T.StructField(
            "data",
            T.StructType(
                [
                    T.StructField("bs", T.ArrayType(_STATEMENT_ITEM)),
                    T.StructField("cf", T.ArrayType(_STATEMENT_ITEM)),
                    T.StructField("ic", T.ArrayType(_STATEMENT_ITEM)),
                ]
            ),
        ),
    ]
)

# Fact store row (streamlit_app.py:142-156; models/fact_data_load/*.sql): the
# 12 group columns and `total_value` of operators/facts.build_facts_single_pass,
# with the partition columns `source_file` and `statement_type` last: the
# order and types a parquet read of the store infers
# (tests/test_sec_backfill.py pins the equality).
FACT_SCHEMA = _struct(
    [
        ("adsh", S), ("cik", L), ("company_name", S), ("filing_date", L),
        ("fiscal_year", L), ("fiscal_period", S), ("tag", S), ("unit_of_measure", S),
        ("report_date", I), ("qtrs", L), ("plabel", S), ("total_value", D),
        ("source_file", S), ("statement_type", S),
    ]
)

SEC_SCHEMAS = {
    "sec_sub": SUB_SCHEMA,
    "sec_tag": TAG_SCHEMA,
    "sec_num": NUM_SCHEMA,
    "sec_pre": PRE_SCHEMA,
}
