"""Query surface — the FastAPI endpoints as an in-process engine API.

Reference: backend/main.py. Every endpoint built SQL text by f-string and
shipped it to Snowflake; here each is a DataFrame plan (or spark.sql for
the pass-through) executed by Catalyst in-process. Per-quarter table-name
suffixes (`sec_sub_{Y}Q{q}`) become a `source_file` filter on partitioned
tables — same pruning, no name templating (SURVEY §4).

Statement pulls are prepared once. The reference's dashboard re-sends
the same statement SQL, which Snowflake answers from its result cache;
here `get_financial_data` keeps the sanitized DataFrame of each
`(year, quarter, data_type, source)` it has served and re-collects it
while every entry of `SecEngine.tables` is still the identical object it
was when the pull was prepared. Re-running one DataFrame reuses
Catalyst's analyzed, optimized and physical plan and AQE's final plan
with its materialized broadcast and shuffle stages, so a repeated RAW
pull is one result-stage job. Any replaced table — through `register` or
a direct `tables[...] =` write — drops every prepared pull at the next
pull. A pull that collects no rows is not kept, and a quarter outside
1–4 is rejected before anything is prepared. The pass-through SQL is not
prepared.
"""

from __future__ import annotations

import re
import threading
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


def _quarter_number(quarter: str) -> str:
    """'Q3' or '3' -> '3'; any other quarter is invalid on every route."""
    m = re.fullmatch(r"Q?([1-4])", quarter)
    if m is None:
        raise ValueError(f"Invalid quarter: {quarter}")
    return m.group(1)


@dataclass
class SecEngine:
    """In-process replacement for the FastAPI → Snowflake stack.

    Tables register once (raw: sec_sub/sec_tag/sec_num/sec_pre with a
    source_file partition column; facts: BALANCE_SHEET/…; json: the
    documents table + flatten views); queries are Catalyst plans.

    A statement pull is prepared once and re-collected while `tables`
    holds the same objects (see the module docstring). A prepared pull
    keeps its broadcast relations and shuffle files alive; they are
    released when a table is replaced and the next pull rebuilds. The
    tables are read when a pull is prepared, so after appending to a
    table's files, re-register it. Prepared pulls are bounded by the
    registered data: a pull is kept only if it collected rows, so at most
    9 per quarter that holds rows, and an invalid pull (source, data type
    or a quarter outside 1–4) raises before anything is kept.
    """

    spark: SparkSession
    tables: dict[str, DataFrame] = field(default_factory=dict)
    # the tables the prepared pulls were built over, and the pulls
    _prepared_over: dict[str, DataFrame] = field(default_factory=dict, init=False, repr=False)
    _prepared: dict[tuple, DataFrame] = field(default_factory=dict, init=False, repr=False)
    _lock: threading.Lock = field(default_factory=threading.Lock, init=False, repr=False)

    def register(self, name: str, df: DataFrame) -> None:
        self.tables[name] = df
        df.createOrReplaceTempView(name)

    # -- GET /check-availability (backend/main.py:43-60, A1 + P6)
    def check_availability(self, year: int, quarter: str) -> dict:
        tag = f"{year}Q{_quarter_number(quarter)}"
        quarter_tags = self.tables["sec_tag"].filter(F.col("source_file") == tag)
        return {"available": not quarter_tags.isEmpty()}

    # -- GET /get-financial-data (backend/main.py:137-221)
    def get_financial_data(
        self, year: int, quarter: str, data_type: str, source: str
    ) -> dict:
        t0 = time.time()
        key = (year, _quarter_number(quarter), data_type, source)
        df = self._prepared_pull(key)
        rows = [r.asDict() for r in df.collect()]
        if not rows:
            with self._lock:
                self._prepared.pop(key, None)
        return {"data": rows, "execution_time": time.time() - t0}

    def _prepared_pull(self, key: tuple) -> DataFrame:
        """The sanitized pull frame, built once per key while `tables`
        holds the same objects."""
        with self._lock:
            if self._prepared_over.keys() != self.tables.keys() or any(
                self.tables[name] is not df for name, df in self._prepared_over.items()
            ):
                self._prepared = {}
                self._prepared_over = dict(self.tables)
            df = self._prepared.get(key)
            if df is None:
                df = self._prepared[key] = sanitize_floats(self.financial_data_frame(*key))
        return df

    def financial_data_frame(
        self, year: int, quarter: str, data_type: str, source: str
    ) -> DataFrame:
        """The plan behind /get-financial-data, as a DataFrame."""
        q = _quarter_number(quarter)
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
        return [describe_table(name, self.tables[name]) for name in names]


def describe_table(name: str, df: DataFrame) -> dict:
    """A table's name, column types and up to 3 sample rows."""
    return {
        "name": name,
        "columns": [
            {"name": f.name, "type": f.dataType.simpleString()} for f in df.schema.fields
        ],
        "sample_data": [r.asDict() for r in df.limit(3).collect()],
    }
