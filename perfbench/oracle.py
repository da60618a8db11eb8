"""DuckDB recomputation of what the engine must produce.

Two sources of truth, both independent of Spark:

* the generated TSVs (backfill): rows per table, values coerced to NULL,
  fact rows and the exact ``total_value`` sum per statement, documents
  (filings with a parseable ``period``), symbols after the merge, rows of
  the RAW statement join, and the orphan / missing-period counts the
  checks must report;
* the parquet store the engine wrote (serving): the row count of every
  pull.

Casts mirror ``sources.tsv.read_tsv``: every cell is read as text; integer
columns go through DOUBLE then the integer type, other columns are cast
directly, and a cell that does not parse becomes NULL.
"""

from __future__ import annotations

import os

import duckdb

_LONG = "TRY_CAST(TRY_CAST({c} AS DOUBLE) AS BIGINT)"
_INT = "TRY_CAST(TRY_CAST({c} AS DOUBLE) AS INTEGER)"


def _csv(path: str) -> str:
    return (
        f"read_csv('{path}', delim='\\t', header=true, all_varchar=true, "
        "quote='\"', escape='\\', auto_detect=false, columns="
        + _columns(path)
        + ")"
    )


def _columns(path: str) -> str:
    with open(path) as fh:
        names = fh.readline().rstrip("\n").split("\t")
    return "{" + ", ".join(f"'{n}': 'VARCHAR'" for n in names) + "}"


def tsv_expectations(tsv_dir: str, ticker_path: str) -> dict:
    """Everything the backfill of one quarter must reproduce."""
    con = duckdb.connect()
    try:
        for name in ("sub", "pre", "tag", "num"):
            con.execute(f"CREATE VIEW raw_{name} AS SELECT * FROM {_csv(os.path.join(tsv_dir, name + '.txt'))}")
        con.execute(
            f"""CREATE VIEW num AS SELECT adsh, tag, version, {_INT.format(c='ddate')} AS ddate,
                {_LONG.format(c='qtrs')} AS qtrs, uom, TRY_CAST(value AS DOUBLE) AS value FROM raw_num"""
        )
        con.execute(
            f"""CREATE VIEW sub AS SELECT adsh, {_LONG.format(c='cik')} AS cik, name,
                {_LONG.format(c='filed')} AS filed, {_LONG.format(c='fy')} AS fy, fp,
                {_LONG.format(c='period')} AS period FROM raw_sub"""
        )
        rows = {
            f"sec_{t}": con.execute(f"SELECT COUNT(*) FROM raw_{t}").fetchone()[0]
            for t in ("sub", "pre", "tag", "num")
        }
        null_values = con.execute("SELECT COUNT(*) FROM num WHERE value IS NULL").fetchone()[0]
        facts = {
            stmt: [n, str(total)]
            for stmt, n, total in con.execute(
                """
                WITH f AS (
                  SELECT n.adsh, s.cik, s.name, s.filed, s.fy, s.fp, n.tag, n.uom, n.ddate,
                         n.qtrs, p.stmt, p.plabel,
                         CAST(SUM(CAST(n.value AS DECIMAL(27,6))) AS DOUBLE) AS total_value
                  FROM num n JOIN sub s USING (adsh)
                  JOIN (SELECT adsh, tag, stmt, plabel FROM raw_pre
                        WHERE stmt IN ('BS', 'IS', 'CF')) p USING (adsh, tag)
                  GROUP BY ALL)
                SELECT stmt, COUNT(*), SUM(CAST(total_value AS DECIMAL(38,6))) FROM f GROUP BY stmt
                """
            ).fetchall()
        }
        parseable = (
            "try_strptime(CAST(period AS VARCHAR), '%Y%m%d') IS NOT NULL AND period IS NOT NULL"
        )
        docs = con.execute(f"SELECT COUNT(*) FROM sub WHERE {parseable}").fetchone()[0]
        symbols = con.execute(
            f"""SELECT COUNT(DISTINCT COALESCE(t.symbol, 'UNKNOWN'))
                FROM sub s LEFT JOIN read_csv('{ticker_path}', delim='\\t', header=false,
                     columns={{'symbol': 'VARCHAR', 'cik': 'BIGINT'}}) t USING (cik)
                WHERE {parseable}"""
        ).fetchone()[0]
        orphans = con.execute(
            "SELECT COUNT(*) FROM raw_num WHERE adsh NOT IN (SELECT adsh FROM raw_sub)"
        ).fetchone()[0]
        null_period = con.execute("SELECT COUNT(*) FROM sub WHERE period IS NULL").fetchone()[0]
        raw_join = dict(
            con.execute(
                """SELECT p.stmt, COUNT(*) FROM raw_sub s JOIN raw_pre p ON s.adsh = p.adsh
                   JOIN raw_num n ON s.adsh = n.adsh AND p.tag = n.tag AND p.version = n.version
                   WHERE p.stmt IN ('BS', 'IS', 'CF') GROUP BY p.stmt"""
            ).fetchall()
        )
    finally:
        con.close()
    return {
        "rows": rows,
        "null_values": null_values,
        "facts": facts,
        "docs": docs,
        "symbols": symbols,
        "raw_join": raw_join,
        "checks": {
            "sec_num.fk_adsh_to_sec_sub": orphans,
            "sec_sub.period_not_null": null_period,
        },
    }


class StoreOracle:
    """DuckDB views over the parquet store the engine wrote."""

    def __init__(self, store_root: str, quarters: list[str]):
        self.con = duckdb.connect()
        typed = os.path.join(store_root, "typed")
        for t in ("sec_sub", "sec_pre", "sec_tag", "sec_num"):
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{typed}/{t}/*/*.parquet', "
                "hive_partitioning=true)"
            )
        self.con.execute(
            f"CREATE VIEW facts AS SELECT * FROM read_parquet('{store_root}/facts/*/*/*.parquet', "
            "hive_partitioning=true)"
        )
        for q in quarters:
            year, qn = q[:4], q[-1]
            self.con.execute(
                f"CREATE VIEW sec_data_{q} AS SELECT * FROM "
                f"read_parquet('{store_root}/doc_table/{q}/*.parquet')"
            )
            for section, stem in (("bs", "balance_sheet"), ("ic", "income_statement"), ("cf", "cash_flow")):
                self.con.execute(
                    f"""CREATE VIEW view_{stem}_{year}_Q{qn} AS
                        SELECT symbol, company_name, item.label AS label, item.concept AS concept,
                               item.info AS info, item.unit AS unit,
                               CAST(item.value AS DOUBLE) AS value
                        FROM (SELECT symbol, company_name, UNNEST(raw_json.data.{section}) AS item
                              FROM sec_data_{q})"""
                )

    def close(self) -> None:
        self.con.close()

    def pull_rows(self, quarter: str, stmt: str, source: str) -> int:
        """Rows of GET /get-financial-data for one quarter and statement."""
        year, qn = quarter[:4], quarter[-1]
        if source == "RAW":
            code = {"BS": "BS", "IS": "IC", "CF": "CF"}[stmt]
            sql = f"""SELECT COUNT(*) FROM sec_sub s JOIN sec_pre p ON s.adsh = p.adsh
                      JOIN sec_num n ON s.adsh = n.adsh AND p.tag = n.tag AND p.version = n.version
                      WHERE p.stmt = '{code}' AND s.source_file = '{quarter}'
                        AND p.source_file = '{quarter}' AND n.source_file = '{quarter}'"""
        elif source == "FACT TABLES":
            sql = f"""SELECT COUNT(*) FROM facts
                      WHERE source_file = '{quarter}' AND statement_type = '{stmt}'"""
        else:
            stem = {"BS": "balance_sheet", "IS": "income_statement", "CF": "cash_flow"}[stmt]
            sql = f"SELECT COUNT(*) FROM view_{stem}_{year}_Q{qn}"
        return self.con.execute(sql).fetchone()[0]
