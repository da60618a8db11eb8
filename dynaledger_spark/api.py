"""Query surface — the FastAPI endpoints as an in-process engine API.

Reference: backend/main.py. Every endpoint built SQL text by f-string and
shipped it to Snowflake; here each is a DataFrame plan (or spark.sql for
the pass-through) executed by Catalyst in-process. Per-quarter table-name
suffixes (`sec_sub_{Y}Q{q}`) become a `source_file` filter on partitioned
tables — same pruning, no name templating (SURVEY §4).
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dynaledger_spark.functions.sanitize import sanitize_floats
from dynaledger_spark.operators.backfill import RAW_COLUMNS, raw_statement_join

# data_type → pre.stmt code for RAW queries (backend/main.py:156-160).
# Note the reference maps Income Statement to 'IC' here while the dbt fact
# model uses 'IS' — an inconsistency kept faithfully.
RAW_STMT_TYPES = {"Income Statement": "IC", "Balance Sheet": "BS", "Cash Flow": "CF"}


@dataclass
class SecEngine:
    """In-process replacement for the FastAPI → Snowflake stack.

    Tables register once (raw: sec_sub/sec_tag/sec_num/sec_pre with a
    source_file partition column; facts: BALANCE_SHEET/…; json: the
    documents table + flatten views); queries are Catalyst plans.
    """

    spark: SparkSession
    tables: dict[str, DataFrame] = field(default_factory=dict)

    def register(self, name: str, df: DataFrame) -> None:
        self.tables[name] = df
        df.createOrReplaceTempView(name)

    # -- GET /check-availability (backend/main.py:43-60, A1 + P6)
    def check_availability(self, year: int, quarter: str) -> dict:
        tag = f"{year}Q{quarter.replace('Q', '')}"
        n = (
            self.tables["sec_tag"]
            .filter(F.col("source_file") == tag)
            .count()
        )
        return {"available": n > 0}

    # -- GET /get-financial-data (backend/main.py:137-221)
    def get_financial_data(
        self, year: int, quarter: str, data_type: str, source: str
    ) -> dict:
        t0 = time.time()
        df = self.financial_data_frame(year, quarter, data_type, source)
        rows = [r.asDict() for r in sanitize_floats(df).collect()]
        return {"data": rows, "execution_time": time.time() - t0}

    def financial_data_frame(
        self, year: int, quarter: str, data_type: str, source: str
    ) -> DataFrame:
        """The plan behind /get-financial-data, as a DataFrame."""
        q = quarter.replace("Q", "")
        tag = f"{year}Q{q}"
        if source == "RAW":
            stmt = RAW_STMT_TYPES.get(data_type)
            if stmt is None:
                raise ValueError(f"Invalid data type: {data_type}")
            sub = self.tables["sec_sub"].filter(F.col("source_file") == tag)
            pre = self.tables["sec_pre"].filter(F.col("source_file") == tag)
            num = self.tables["sec_num"].filter(F.col("source_file") == tag)
            return (
                raw_statement_join(sub, pre, num)
                .filter(F.col("p.stmt") == stmt)
                .select(*RAW_COLUMNS)
                .orderBy("adsh", "line")
            )
        if source == "FACT TABLES":
            name = {
                "Balance Sheet": "BALANCE_SHEET",
                "Income Statement": "INCOME_STATEMENT",
                "Cash Flow": "CASH_FLOW",
            }.get(data_type)
            if name is None:
                raise ValueError(f"Invalid data type: {data_type}")
            return self.tables[f"{name}_{tag}"]
        if source == "JSON":
            name = {
                "Balance Sheet": "balance_sheet",
                "Income Statement": "income_statement",
                "Cash Flow": "cash_flow",
            }.get(data_type)
            if name is None:
                raise ValueError(f"Invalid data type: {data_type}")
            return self.tables[f"view_{name}_{year}_Q{q}"]
        raise ValueError(f"Invalid source: {source}")

    # -- POST /execute-custom-query (backend/main.py:109-134, §3.2)
    def execute_custom_query(self, query: str) -> dict:
        df = self.spark.sql(query)
        rows = [r.asDict() for r in sanitize_floats(df).collect()]
        return {"data": rows}

    # -- GET table info (backend/main.py:85-101, S12)
    def table_info(self, names: list[str]) -> list[dict]:
        out = []
        for name in names:
            df = self.tables[name]
            out.append(
                {
                    "name": name,
                    "columns": [
                        {"name": f.name, "type": f.dataType.simpleString()}
                        for f in df.schema.fields
                    ],
                    "sample_data": [r.asDict() for r in df.limit(3).collect()],
                }
            )
        return out
