"""Query surface — the FastAPI endpoints as an in-process engine API.

Reference: backend/main.py. Every endpoint built SQL text by f-string and
shipped it to Snowflake; here each is a DataFrame plan (or spark.sql for
the pass-through) executed by Catalyst in-process. Per-quarter table-name
suffixes (`sec_sub_{Y}Q{q}`) become a `source_file` filter on partitioned
tables — same pruning, no name templating (SURVEY §4).

Statement pulls are answered from cached rows. The reference's dashboard
re-sends the same statement SQL, which Snowflake answers from its result
cache without running the query again. Here the engine keeps the
collected, sanitized rows of each `(year, quarter, data_type, source)` it
has served, with the table objects its plan read: `sec_sub`, `sec_pre`
and `sec_num` for RAW, `<NAME>_<year>Q<q>` for fact tables,
`view_<stem>_<year>_Q<q>` for JSON. The entry also holds the rows
encoded as a JSON array, built on the key's first HTTP pull
(`financial_data_json`) and sent again by every later one: about 0.5 MB
per reply at the benchmark's sizes. A repeat runs no Spark job and no
py4j call; `get_financial_data` returns fresh shallow copies of the rows,
`financial_data_json` the stored bytes in a new envelope. An entry is
used while each of the names it read still holds the identical object in
`SecEngine.tables`. Replacing one of them, through `register` or a
direct `tables[...] =` write, drops only the entries that read it, at
their next use; registering another quarter's fact or document tables
keeps every other entry. A reply is not kept when it holds no rows, or
when a table it read was replaced while it was collected. An invalid
quarter, source or data type raises before anything is stored. The
pass-through SQL is not cached.
"""

from __future__ import annotations

import json
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
class _Entry:
    """A pull's cached rows and the table objects, by name, its plan read."""

    read: dict[str, DataFrame]
    rows: list[dict]
    # the rows as a JSON array, set by the key's first HTTP pull
    data_json: bytes | None = None


@dataclass
class SecEngine:
    """In-process replacement for the FastAPI → Snowflake stack.

    Tables register once (raw: sec_sub/sec_tag/sec_num/sec_pre with a
    source_file partition column; facts: BALANCE_SHEET/…; json: the
    documents table + flatten views); queries are Catalyst plans.

    A statement pull's rows are cached and returned again while the
    tables its plan read are the same objects (see the module
    docstring). The cache holds Python rows and their encoded bytes, not
    plans, so it pins no broadcast relation or shuffle file; its memory
    is at most nine replies (three sources × three statements) per
    quarter that holds rows, each its rows plus, once HTTP has pulled
    it, their JSON bytes (~0.5 MB at the benchmark's sizes). A reply
    whose tables were replaced is dropped at its key's next pull. The
    tables are read when a pull first collects, so after appending to a
    table's files, re-register it. The lock guards only the cache dict:
    no plan is built, no Spark job runs and nothing is encoded under it,
    so a repeat is never held up by another key's first pull. Two racing
    first pulls of one key both collect, and one of their replies is
    kept; two racing first HTTP pulls of a kept reply may both encode it.
    """

    spark: SparkSession
    tables: dict[str, DataFrame] = field(default_factory=dict)
    # pull key (year, q, data_type, source) → its entry
    _replies: dict[tuple, _Entry] = field(default_factory=dict, init=False, repr=False)
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
    def _pull(self, year: int, quarter: str, data_type: str, source: str) -> _Entry:
        """The entry kept for this pull while each table its plan read is
        the same object; else a new one, kept if it has rows and no table
        was replaced while it was collected."""
        key = (year, _quarter_number(quarter), data_type, source)
        # taken before the plan is built, so a table replaced from here on
        # keeps this pull's entry out of the cache
        read = {name: self.tables[name] for name in _pull_tables(*key)}
        with self._lock:
            entry = self._replies.get(key)
            if entry is not None and any(read[n] is not df for n, df in entry.read.items()):
                del self._replies[key]
                entry = None
        if entry is None:
            rows = [r.asDict() for r in sanitize_floats(self.financial_data_frame(*key)).collect()]
            entry = _Entry(read, rows)
            with self._lock:
                if rows and all(self.tables.get(n) is df for n, df in read.items()):
                    self._replies[key] = entry
        return entry

    def get_financial_data(
        self, year: int, quarter: str, data_type: str, source: str
    ) -> dict:
        t0 = time.perf_counter()
        rows = self._pull(year, quarter, data_type, source).rows
        return {"data": [dict(r) for r in rows], "execution_time": time.perf_counter() - t0}

    def financial_data_json(
        self, year: int, quarter: str, data_type: str, source: str
    ) -> bytes:
        """`get_financial_data`'s reply as the UTF-8 JSON body
        `json.dumps(reply, default=str)` gives, from the entry's stored
        `data` bytes: a repeat copies and encodes no row."""
        t0 = time.perf_counter()
        entry = self._pull(year, quarter, data_type, source)
        if entry.data_json is None:
            # default=str covers datetime.date / Decimal from Spark rows —
            # same shapes FastAPI's jsonable_encoder stringifies.
            entry.data_json = json.dumps(entry.rows, default=str).encode()
        elapsed = json.dumps(time.perf_counter() - t0).encode()
        return b'{"data": ' + entry.data_json + b', "execution_time": ' + elapsed + b"}"

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
