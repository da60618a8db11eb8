"""Query surface — the FastAPI endpoints as an in-process engine API.

Reference: backend/main.py. Every endpoint built SQL text by f-string and
shipped it to Snowflake; here each is a DataFrame plan (or spark.sql for
the pass-through) executed by Catalyst in-process. Per-quarter table-name
suffixes (`sec_sub_{Y}Q{q}`) become a `source_file` filter on partitioned
tables — same pruning, no name templating (SURVEY §4).

Statement pulls are answered from cached rows. The reference's dashboard
re-sends the same statement SQL, which Snowflake answers from its result
cache without running the query again. Here `get_financial_data` keeps
the collected, sanitized rows of each `(year, quarter, data_type,
source)` it has served, with the table objects its plan read:
`sec_sub`, `sec_pre` and `sec_num` for RAW, `<NAME>_<year>Q<q>` for
fact tables, `view_<stem>_<year>_Q<q>` for JSON. A repeat returns fresh
shallow copies of those rows, with no Spark job and no py4j call, while
each of those names still holds the identical object in
`SecEngine.tables`. Replacing one of them, through `register` or a
direct `tables[...] =` write, drops only the replies that read it, at
their next pull; registering another quarter's fact or document tables
keeps every other reply. A reply is not kept when it holds no rows, or
when a table it read was replaced while it was collected. An invalid
quarter, source or data type raises before anything is stored. The
pass-through SQL is not cached.
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
# data_type → the name stem of the fact tables and of the JSON flatten views
_FACT_NAMES = {
    "Balance Sheet": "BALANCE_SHEET",
    "Income Statement": "INCOME_STATEMENT",
    "Cash Flow": "CASH_FLOW",
}
_JSON_STEMS = {
    "Balance Sheet": "balance_sheet",
    "Income Statement": "income_statement",
    "Cash Flow": "cash_flow",
}


def _quarter_number(quarter: str) -> str:
    """'Q3' or '3' -> '3'; any other quarter is invalid on every route."""
    m = re.fullmatch(r"Q?([1-4])", quarter)
    if m is None:
        raise ValueError(f"Invalid quarter: {quarter}")
    return m.group(1)


def _pull_tables(year: int, q: str, data_type: str, source: str) -> tuple[str, ...]:
    """The names of the tables a statement pull reads, for a quarter
    number `q`; an invalid source or data type raises ValueError."""
    stems = {"RAW": RAW_STMT_TYPES, "FACT TABLES": _FACT_NAMES, "JSON": _JSON_STEMS}.get(source)
    if stems is None:
        raise ValueError(f"Invalid source: {source}")
    stem = stems.get(data_type)
    if stem is None:
        raise ValueError(f"Invalid data type: {data_type}")
    if source == "RAW":
        return ("sec_sub", "sec_pre", "sec_num")
    if source == "FACT TABLES":
        return (f"{stem}_{year}Q{q}",)
    return (f"view_{stem}_{year}_Q{q}",)


@dataclass
class SecEngine:
    """In-process replacement for the FastAPI → Snowflake stack.

    Tables register once (raw: sec_sub/sec_tag/sec_num/sec_pre with a
    source_file partition column; facts: BALANCE_SHEET/…; json: the
    documents table + flatten views); queries are Catalyst plans.

    A statement pull's rows are cached and returned again while the
    tables its plan read are the same objects (see the module
    docstring). The cache holds Python rows, not plans, so it pins no
    broadcast relation or shuffle file; its memory is at most nine
    replies (three sources × three statements) per quarter that holds
    rows, each the size of the reply. A reply whose tables were replaced
    is dropped at its key's next pull. The tables are read when a pull
    first collects, so after appending to a table's files, re-register
    it. The lock guards only the cache dict: no plan is built and no
    Spark job runs under it, so a repeat is never held up by another
    key's first pull. Two racing first pulls of one key both collect,
    and one of their replies is kept.
    """

    spark: SparkSession
    tables: dict[str, DataFrame] = field(default_factory=dict)
    # pull key → (the table objects its plan read, by name; its rows)
    _replies: dict[tuple, tuple[dict[str, DataFrame], list[dict]]] = field(
        default_factory=dict, init=False, repr=False
    )
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
        t0 = time.perf_counter()
        key = (year, _quarter_number(quarter), data_type, source)
        # taken before the plan is built, so a table replaced from here on
        # keeps this pull's reply out of the cache
        read = {name: self.tables[name] for name in _pull_tables(*key)}
        with self._lock:
            cached = self._replies.get(key)
            if cached is not None and any(read[n] is not df for n, df in cached[0].items()):
                del self._replies[key]
                cached = None
        if cached is not None:
            rows = cached[1]
        else:
            rows = [r.asDict() for r in sanitize_floats(self.financial_data_frame(*key)).collect()]
            with self._lock:
                if rows and all(self.tables.get(n) is df for n, df in read.items()):
                    self._replies[key] = (read, rows)
        return {"data": [dict(r) for r in rows], "execution_time": time.perf_counter() - t0}

    def financial_data_frame(
        self, year: int, quarter: str, data_type: str, source: str
    ) -> DataFrame:
        """The plan behind /get-financial-data, as a DataFrame."""
        q = _quarter_number(quarter)
        names = _pull_tables(year, q, data_type, source)
        if source != "RAW":
            return self.tables[names[0]]
        tag = f"{year}Q{q}"
        sub, pre, num = (self.tables[n].filter(F.col("source_file") == tag) for n in names)
        return (
            raw_statement_join(sub, pre, num)
            .filter(F.col("p.stmt") == RAW_STMT_TYPES[data_type])
            .select(*RAW_COLUMNS)
            .orderBy("adsh", "line")
        )

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
