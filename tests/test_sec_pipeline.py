"""End-to-end SEC pipeline tests on synthetic fixtures (FIXTURES.md §A):
TSV ingest → typed tables → fact tables (checked against a DuckDB twin of
the dbt SQL) → JSON documents → flatten views → validation suite → API."""

from __future__ import annotations

import gzip
import json
import os
import threading
from concurrent.futures import ThreadPoolExecutor

import duckdb
import pytest
from pyspark.sql import functions as F

from dynaledger_spark import api
from dynaledger_spark.api import SecEngine
from dynaledger_spark.functions.validation import run_checks, sec_checks
from dynaledger_spark.operators.documents import (
    assemble_documents,
    documents_table,
    flatten_statement_view,
    merge_dedup_by_symbol,
)
from dynaledger_spark.operators.facts import build_fact_table
from dynaledger_spark.sources.json_docs import read_documents, write_documents
from dynaledger_spark.sources.lookup import load_ticker
from dynaledger_spark.sources.tsv import ROW_ID, ingest_quarter, read_tsv
from tests.sec_fixtures import (
    Q,
    build_quarter_zip,
    parquet_codecs,
    parquet_files,
    write_fixtures,
)

A1 = "0000000001-23-000001"
A2 = "0000000002-23-000002"


@pytest.fixture(scope="module")
def fixture_paths(tmp_path_factory):
    return write_fixtures(str(tmp_path_factory.mktemp("sec_tsv")))


@pytest.fixture(scope="module")
def tables(spark, fixture_paths):
    paths = {k: v for k, v in fixture_paths.items() if k != "ticker"}
    return ingest_quarter(spark, paths, Q)


@pytest.fixture(scope="module")
def ticker(spark, fixture_paths):
    return load_ticker(spark, fixture_paths["ticker"])


# ---------------------------------------------------------------------------
# Ingest (S3-S7, P7-P9)
# ---------------------------------------------------------------------------
def test_ingest_types_and_coercion(tables):
    sub = tables["sec_sub"]
    assert dict(sub.dtypes)["cik"] == "bigint"
    assert dict(sub.dtypes)["period"] == "bigint"
    assert dict(sub.dtypes)["source_file"] == "string"
    # all rows tagged with the quarter partition value
    assert sub.filter(F.col("source_file") != Q).count() == 0
    # value column is double; empty cells coerced to null not failure
    num = tables["sec_num"]
    assert dict(num.dtypes)["value"] == "double"
    assert num.filter(F.col("value").isNull()).count() == 1


def test_ingest_row_order_preserved(spark, fixture_paths):
    tag = read_tsv(spark, fixture_paths["sec_tag"], "sec_tag", Q)
    rows = tag.orderBy(ROW_ID).select("tag", "doc").collect()
    dups = [r for r in rows if r.tag == "DupTag"]
    assert dups[0].doc == "FIRST DOC" and dups[1].doc == "SECOND DOC"


# ---------------------------------------------------------------------------
# Fact tables (J2+W1+P2+A2) vs a DuckDB twin of the dbt model
# ---------------------------------------------------------------------------
def test_fact_table_matches_dbt_sql(spark, tables, tmp_path):
    for name in ("sec_num", "sec_sub", "sec_pre"):
        tables[name].drop(ROW_ID).write.mode("overwrite").parquet(
            f"{tmp_path}/{name}.parquet"
        )
    con = duckdb.connect()
    for name in ("sec_num", "sec_sub", "sec_pre"):
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{tmp_path}/{name}.parquet/*.parquet')"
        )
    # the dbt model verbatim in DuckDB (balance_sheet_load.sql:8-53)
    dbt_twin = """
        WITH FilteredData AS (
            SELECT num.adsh, sub.cik, sub.name AS company_name,
                   sub.filed AS filing_date, sub.fy AS fiscal_year,
                   sub.fp AS fiscal_period, num.tag, num.uom AS unit_of_measure,
                   num.ddate AS report_date, num.qtrs,
                   pre.stmt AS statement_type, pre.plabel,
                   DENSE_RANK() OVER (PARTITION BY num.adsh, sub.cik, sub.name,
                       sub.filed, sub.fy, sub.fp, num.tag, num.uom, num.ddate,
                       num.qtrs, pre.stmt, pre.plabel
                       ORDER BY num.ddate DESC) AS rn,
                   num.value
            FROM sec_num num
            JOIN sec_sub sub ON num.adsh = sub.adsh
            JOIN sec_pre pre ON num.adsh = pre.adsh AND num.tag = pre.tag
            WHERE pre.stmt = 'BS'
        )
        SELECT adsh, cik, company_name, filing_date, fiscal_year, fiscal_period,
               tag, unit_of_measure, report_date, qtrs, statement_type, plabel,
               CAST(SUM(CAST(value AS DECIMAL(27,6))) AS DOUBLE) AS total_value
        FROM FilteredData
        GROUP BY adsh, cik, company_name, filing_date, fiscal_year,
                 fiscal_period, tag, unit_of_measure, report_date, qtrs,
                 statement_type, plabel, rn
    """
    from tests.oracle_compare import compare

    fact = build_fact_table(tables["sec_num"], tables["sec_sub"], tables["sec_pre"], "BS")
    compare(fact, con, dbt_twin)
    con.close()


def test_fact_table_rows(tables):
    fact = build_fact_table(
        tables["sec_num"], tables["sec_sub"], tables["sec_pre"], "BS"
    )
    rows = fact.collect()
    assert any(r.adsh == A1 and r.tag == "Assets" for r in rows)
    # A2 Assets joins both duplicated pre rows (faithful to the reference's
    # join-without-version); different plabels → two fact rows of 2000 each
    a2_assets = [r for r in rows if r.adsh == A2 and r.tag == "Assets"]
    assert sorted(r.total_value for r in a2_assets) == [2000.0, 2000.0]
    assert {r.plabel for r in a2_assets} == {"Assets, total", "dup row"}


# ---------------------------------------------------------------------------
# Documents (D1/D2), flatten (J6), merge (J7), JSON IO (S8/S9)
# ---------------------------------------------------------------------------
@pytest.fixture(scope="module")
def docs(tables, ticker):
    return assemble_documents(
        tables["sec_sub"], tables["sec_num"], tables["sec_tag"],
        tables["sec_pre"], ticker,
    ).cache()


def test_documents_skip_invalid_period(docs):
    adshs = {r.adsh for r in docs.select("adsh").collect()}
    assert "0000000004-23-000004" not in adshs  # NaN period
    assert "0000000005-23-000005" not in adshs  # unparseable period
    assert {A1, A2, "0000000003-23-000003"} <= adshs


def test_documents_routing_and_defaults(docs):
    d1 = docs.filter(F.col("adsh") == A1).collect()[0]
    bs = {e["concept"]: e for e in d1.data.bs}
    ic = {e["concept"]: e for e in d1.data.ic}
    # BS gets both Assets rows + DupTag (first pre match stmt=BS)
    assert "Assets" in bs and "DupTag" in bs
    assert "NetIncomeLoss" in ic  # stmt IS routes to ic
    # first-match semantics
    assert bs["DupTag"]["label"] == "FIRST DOC"
    assert bs["DupTag"]["info"] == "FIRST PLABEL"
    # label default for tags with null doc
    assert ic["NetIncomeLoss"]["label"] == "Unknown"
    assert d1.symbol == "acme"  # first ticker row for cik 100

    d2 = docs.filter(F.col("adsh") == A2).collect()[0]
    cf = {e["concept"]: e for e in d2.data.cf}
    assert cf["CashFlowTag"]["value"] == 0.0  # NaN value → 0
    assert cf["CashFlowTag"]["info"] == "Unknown"  # null plabel → Unknown
    # GhostTag's pre row has stmt XX → dropped from every section
    all_concepts = {e["concept"] for sec in (d2.data.bs, d2.data.cf, d2.data.ic) for e in sec}
    assert "GhostTag" not in all_concepts

    d3 = docs.filter(F.col("adsh") == "0000000003-23-000003").collect()[0]
    assert d3.symbol == "UNKNOWN"  # cik 300 not in ticker
    assert d3.country == "UNKNOWN" and d3.city == "BOSTON"


def test_documents_json_roundtrip(spark, docs, tmp_path):
    path = f"{tmp_path}/docs_json"
    write_documents(docs, path)
    back = read_documents(spark, path)
    assert back.count() == docs.count()
    d1 = back.filter(F.col("symbol") == "acme").collect()[0]
    assert d1.data.bs[0]["unit"] == "USD"
    assert str(d1.startDate) == "2023-03-31"


def test_documents_sink_is_gzip_json_lines(docs, tmp_path):
    """The S9 sink's data files are all gzip JSON lines, one document
    per line."""
    path = f"{tmp_path}/docs_json"
    write_documents(docs, path)
    data = [f for f in os.listdir(path) if not f.startswith(("_", "."))]
    assert data and all(f.endswith(".json.gz") for f in data), data
    lines = []
    for f in data:
        with gzip.open(os.path.join(path, f), "rt") as fh:
            lines += [json.loads(line) for line in fh]
    assert len(lines) == docs.count()
    assert {"symbol", "quarter", "data"} <= set(lines[0])


def test_doc_table_written_with_session_default_is_zstd(spark, docs, tmp_path):
    """A table a caller writes with the session's default codec, such as
    the document table, is zstd."""
    path = str(tmp_path / "doc_table")
    merge_dedup_by_symbol(documents_table(docs)).write.parquet(path)
    files = parquet_files(path)
    assert files and parquet_codecs(files) == {"ZSTD"}


def test_flatten_view(docs):
    table = documents_table(docs)
    flat = flatten_statement_view(table, "bs")
    assert flat.columns == ["symbol", "company_name", "label", "concept", "info", "unit", "value"]
    # total bs elements across docs == flattened rows
    n_expected = sum(len(r.data.bs) for r in docs.collect())
    assert flat.count() == n_expected


def test_merge_dedup_by_symbol(spark, docs):
    table = documents_table(docs)
    doubled = table.unionByName(table)
    merged = merge_dedup_by_symbol(doubled)
    assert merged.count() == table.select("symbol").distinct().count()


# ---------------------------------------------------------------------------
# Validation suite (§5)
# ---------------------------------------------------------------------------
def test_validation_suite(tables):
    summary = run_checks(
        {k: v.drop(ROW_ID) for k, v in tables.items()}, sec_checks()
    )
    by_rule = {r.rule: r.n_violations for r in summary.collect()}
    assert by_rule["sec_sub.sic_between_100_9999"] == 1
    assert by_rule["sec_sub.countryba_regex"] == 1
    assert by_rule["sec_sub.fp_accepted_values"] == 1
    assert by_rule["sec_sub.period_not_null"] == 1
    assert by_rule["sec_num.fk_adsh_to_sec_sub"] == 1
    assert by_rule["sec_num.fk_tag_version_to_sec_tag"] == 1
    assert by_rule["sec_num.ddate_regex"] == 1
    assert by_rule["sec_pre.adsh_report_line_unique"] == 1
    assert by_rule["sec_pre.stmt_accepted_values"] == 1
    assert by_rule["sec_pre.inpth_accepted_values"] == 1
    assert by_rule["sec_tag.datatype_accepted_values"] == 1
    assert by_rule["sec_tag.iord_accepted_values"] == 1
    assert by_rule["sec_sub.adsh_unique"] == 0
    assert by_rule["sec_sub.adsh_not_null"] == 0


def test_run_checks_matches_per_check_violations(tables):
    """The fused summary equals each check's own violations frame, row for
    row in suite order, with the summary schema."""
    clean = {k: v.drop(ROW_ID) for k, v in tables.items()}
    checks = sec_checks()
    summary = run_checks(clean, checks)
    assert summary.schema.simpleString() == (
        "struct<rule:string,table:string,n_violations:bigint,severity:string>"
    )
    got = [tuple(r) for r in summary.collect()]
    want = [(c.name, c.table, c.build(clean).count(), c.severity) for c in checks]
    assert got == want


def test_run_checks_empty_tables_count_zero(tables):
    empty = {k: v.drop(ROW_ID).where(F.lit(False)) for k, v in tables.items()}
    rows = run_checks(empty, sec_checks()).collect()
    assert len(rows) == len(sec_checks()) == 43
    assert all(r.n_violations == 0 for r in rows)


def test_run_checks_is_one_action(spark, tables):
    """One action for the whole suite: Spark jobs are the union's shuffle
    and broadcast stages, not one (or more) per rule."""
    clean = {k: v.drop(ROW_ID) for k, v in tables.items()}
    sc = spark.sparkContext
    group = "test_run_checks_is_one_action"
    sc.setJobGroup(group, "run_checks")
    try:
        run_checks(clean, sec_checks()).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert 0 < len(jobs) <= 20


def _scans_python_rows(df) -> bool:
    """Whether the plan scans rows that Python handed to Spark."""
    return "ExistingRDD" in df._jdf.queryExecution().executedPlan().toString()


def test_check_summaries_are_built_in_the_plan(tables, tmp_path):
    """The summaries of run_checks (a whole suite or none) and of
    store_failures scan no Python rows, so collecting them starts no
    Python worker, and they keep the suite's order."""
    from dynaledger_spark.functions.validation import store_failures

    clean = {k: v.drop(ROW_ID) for k, v in tables.items()}
    checks = sec_checks()
    summary = run_checks(clean, checks)
    assert not _scans_python_rows(summary)
    assert [r.rule for r in summary.collect()] == [c.name for c in checks]
    empty = run_checks(clean, [])
    assert not _scans_python_rows(empty)
    assert empty.columns == summary.columns and empty.collect() == []
    stored = store_failures(clean, checks[:3], str(tmp_path / "audit"))
    assert not _scans_python_rows(stored)
    assert [r.rule for r in stored.collect()] == [c.name for c in checks[:3]]


# ---------------------------------------------------------------------------
# API surface (§3.1/§3.2)
# ---------------------------------------------------------------------------
def _engine(spark, tables) -> SecEngine:
    eng = SecEngine(spark)
    for name, df in tables.items():
        eng.register(name, df.drop(ROW_ID))
    return eng


def _multiset(rows: list[dict]) -> list[str]:
    return sorted(repr(sorted(r.items())) for r in rows)


def test_api_raw_financial_data(spark, tables):
    eng = _engine(spark, tables)
    assert eng.check_availability(2023, "Q1") == {"available": True}
    assert eng.check_availability(2024, "Q4") == {"available": False}

    out = eng.get_financial_data(2023, "Q1", "Balance Sheet", "RAW")
    assert out["execution_time"] > 0
    rows = out["data"]
    assert rows and set(rows[0]) == {
        "adsh", "cik", "name", "sic", "countryba", "stprba", "cityba", "filed",
        "line", "plabel", "tag", "version", "ddate", "qtrs", "uom", "value",
    }
    # joins on (adsh, tag, version) + stmt filter; ordered by adsh, line
    assert [r["adsh"] for r in rows] == sorted(r["adsh"] for r in rows)


def _statement_engine(spark, tables, docs) -> SecEngine:
    """An engine with Q1's RAW tables, balance-sheet fact table and
    balance-sheet flatten view."""
    eng = _engine(spark, tables)
    eng.register(
        f"BALANCE_SHEET_{Q}",
        build_fact_table(tables["sec_num"], tables["sec_sub"], tables["sec_pre"], "BS"),
    )
    eng.register("view_balance_sheet_2023_Q1", flatten_statement_view(documents_table(docs), "bs"))
    return eng


def _jobs_run(spark, group: str, fn):
    """fn's result and the number of Spark jobs it ran."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize(
    "source", ["RAW", "FACT TABLES", "JSON"], ids=["raw", "fact", "json"]
)
def test_repeated_pull_runs_no_job(spark, tables, docs, source):
    """A repeated pull is answered from the cached rows of the first: no
    Spark job, and a caller mutating its reply does not change the next."""
    eng = _statement_engine(spark, tables, docs)

    def pull():
        return eng.get_financial_data(2023, "Q1", "Balance Sheet", source)

    first = pull()["data"]
    assert first
    second, jobs = _jobs_run(spark, f"repeated_pull_{source}", pull)
    assert second["data"] == first and second["execution_time"] > 0
    assert jobs == 0
    row = second["data"][0]
    row[next(iter(row))] = "mutated"
    second["data"].clear()
    assert pull()["data"] == first


def test_other_quarter_registration_keeps_reply(spark, tables, docs):
    """Registering another quarter's fact table keeps Q1's cached reply."""
    eng = _statement_engine(spark, tables, docs)

    def pull():
        return eng.get_financial_data(2023, "Q1", "Balance Sheet", "FACT TABLES")["data"]

    first = pull()
    eng.register("BALANCE_SHEET_2099Q1", eng.tables[f"BALANCE_SHEET_{Q}"].limit(1))
    again, jobs = _jobs_run(spark, "other_quarter_registration", pull)
    assert again == first and jobs == 0


def test_table_replaced_during_collect_is_not_kept(spark, tables, monkeypatch):
    """A reply collected while a table it read is replaced is returned but
    not kept, so the next pull reads the new table."""
    eng = _engine(spark, tables)
    shifted = eng.tables["sec_num"].withColumn("value", F.col("value") + 1)
    sanitize = api.sanitize_floats

    class ReplacedOnCollect:
        def __init__(self, df):
            self.df = df

        def collect(self):
            eng.register("sec_num", shifted)
            return self.df.collect()

    monkeypatch.setattr(api, "sanitize_floats", lambda df: ReplacedOnCollect(sanitize(df)))
    before = eng.get_financial_data(2023, "Q1", "Balance Sheet", "RAW")["data"]
    monkeypatch.setattr(api, "sanitize_floats", sanitize)
    assert before and eng._replies == {}
    after = eng.get_financial_data(2023, "Q1", "Balance Sheet", "RAW")["data"]
    assert _multiset(after) == _multiset(
        [{**r, "value": None if r["value"] is None else r["value"] + 1} for r in before]
    )


def test_cached_pull_not_held_by_first_pull_of_other_key(spark, tables, monkeypatch):
    """A cached pull returns while another key's first pull is still
    building its plan: the engine lock is not held over planning."""
    eng = _engine(spark, tables)
    cached = eng.get_financial_data(2023, "Q1", "Balance Sheet", "RAW")["data"]
    planning, release = threading.Event(), threading.Event()
    plan = eng.financial_data_frame

    def blocked_plan(*key):
        planning.set()
        release.wait(60)
        return plan(*key)

    monkeypatch.setattr(eng, "financial_data_frame", blocked_plan)
    with ThreadPoolExecutor(2) as pool:
        first = pool.submit(eng.get_financial_data, 2023, "Q1", "Cash Flow", "RAW")
        try:
            assert planning.wait(30)
            repeat = pool.submit(eng.get_financial_data, 2023, "Q1", "Balance Sheet", "RAW")
            assert repeat.result(timeout=30)["data"] == cached
            assert not first.done()
        finally:
            release.set()
        assert first.result(timeout=120)["data"]


def test_replaced_table_changes_next_pull(spark, tables):
    """A prepared pull is only reused while every table is the object it
    was built over: `register` and a direct `tables[...] =` write both
    make the next pull read the new table."""
    eng = _engine(spark, tables)

    def pull():
        return eng.get_financial_data(2023, "Q1", "Balance Sheet", "RAW")["data"]

    before = pull()
    assert before and pull() == before
    eng.register("sec_num", eng.tables["sec_num"].withColumn("value", F.col("value") + 1))
    shifted = pull()
    assert _multiset(shifted) == _multiset(
        [{**r, "value": None if r["value"] is None else r["value"] + 1} for r in before]
    )
    assert any(r["adsh"] == A1 for r in shifted)
    eng.tables["sec_sub"] = eng.tables["sec_sub"].where(F.col("adsh") != A1)
    assert _multiset(pull()) == _multiset([r for r in shifted if r["adsh"] != A1])


def test_absent_raw_pulls_are_not_kept(spark, tables):
    """RAW pulls of quarters that hold no rows, or that do not exist,
    cache nothing that outlives the request, so a client looping over
    years cannot grow the engine's cached replies."""
    eng = _engine(spark, tables)
    for year in range(1900, 1950):
        if year % 5:
            out = eng.get_financial_data(year, f"Q{year % 4 + 1}", "Balance Sheet", "RAW")
            assert out["data"] == []
        else:
            with pytest.raises(ValueError, match="quarter"):
                eng.get_financial_data(year, "Q5", "Balance Sheet", "RAW")
    assert eng._replies == {}


@pytest.mark.parametrize(
    "source", ["RAW", "FACT TABLES", "JSON"], ids=["raw", "fact", "json"]
)
def test_repeated_reply_json_runs_no_job(spark, tables, docs, source):
    """A repeated encoded pull runs no Spark job and sends the bytes the
    first one stored in the entry."""
    eng = _statement_engine(spark, tables, docs)

    def body():
        return eng.financial_data_json(2023, "Q1", "Balance Sheet", source)

    first = body()
    stored = eng._replies[(2023, "1", "Balance Sheet", source)].data_json
    again, jobs = _jobs_run(spark, f"repeated_reply_json_{source}", body)
    assert jobs == 0
    assert eng._replies[(2023, "1", "Balance Sheet", source)].data_json is stored
    assert first.startswith(b'{"data": ' + stored) and again.startswith(b'{"data": ' + stored)


def test_api_custom_query(spark, tables):
    eng = SecEngine(spark)
    eng.register("sec_sub", tables["sec_sub"].drop(ROW_ID))
    out = eng.execute_custom_query(
        "SELECT COUNT(*) AS n FROM sec_sub WHERE period IS NOT NULL"
    )
    assert out["data"] == [{"n": 4}]


def test_api_table_info(spark, tables):
    eng = SecEngine(spark)
    eng.register("sec_tag", tables["sec_tag"].drop(ROW_ID))
    info = eng.table_info(["sec_tag"])
    assert info[0]["name"] == "sec_tag"
    assert len(info[0]["sample_data"]) == 3
    assert {"name", "type"} <= set(info[0]["columns"][0])


def test_store_failures_materializes_audit_tables(spark, tables, tmp_path):
    from dynaledger_spark.functions.validation import store_failures

    clean = {k: v.drop(ROW_ID) for k, v in tables.items()}
    checks = [c for c in sec_checks() if c.name in (
        "sec_sub.sic_between_100_9999",   # 1 violation
        "sec_sub.adsh_unique",            # 0 violations (still materialized)
        "sec_num.fk_adsh_to_sec_sub",     # 1 violation (anti-join shape)
    )]
    summary = store_failures(clean, checks, str(tmp_path / "audit"))
    rows = {r.rule: r for r in summary.collect()}
    assert rows["sec_sub.sic_between_100_9999"].n_violations == 1
    assert rows["sec_sub.adsh_unique"].n_violations == 0
    assert rows["sec_num.fk_adsh_to_sec_sub"].n_violations == 1
    # audit tables are readable and agree with the summary counts;
    # passing checks still materialize an (empty) table like dbt does
    for r in rows.values():
        back = spark.read.parquet(r.failures_path)
        assert back.count() == r.n_violations
    bad_sic = spark.read.parquet(rows["sec_sub.sic_between_100_9999"].failures_path)
    assert [row.sic for row in bad_sic.collect()] == [99]


def test_scaled_quarter_zip_ingest_e2e(spark, tmp_path):
    """A seeded quarter ZIP at pytest scale:
    ZIP -> extract -> typed parquet -> 3 fact tables, asserting row
    conservation (PERMISSIVE + try_cast never drops rows; ~2% dirty
    numeric cells coerce to NULL) and non-empty facts."""
    from dynaledger_spark.operators.facts import build_all_facts
    from dynaledger_spark.sources.tsv import extract_zip, ingest_quarter

    zp = str(tmp_path / "2024Q1.zip")
    counts = build_quarter_zip(zp, n_num=20_000, n_sub=250, n_tag=500)
    members = extract_zip(zp, str(tmp_path / "ext"))
    assert set(members) == {"sec_sub", "sec_tag", "sec_num", "sec_pre"}
    typed = ingest_quarter(spark, members, "2024Q1")

    num, sub, pre = typed["sec_num"], typed["sec_sub"], typed["sec_pre"]
    assert num.count() == counts["num"]
    assert sub.count() == counts["sub"]
    assert pre.count() == counts["pre"]
    # dirty cells coerced to NULL, not dropped
    n_null = num.filter("value IS NULL").count()
    assert 0 < n_null < counts["num"] * 0.05
    # typed: value is DOUBLE, period survived the int(float(x)) path
    assert dict(num.dtypes)["value"] == "double"
    assert sub.filter("period = 20240331").count() == counts["sub"]

    facts = build_all_facts(num, sub, pre)
    sizes = {k: df.count() for k, df in facts.items()}
    assert set(sizes) == {"BALANCE_SHEET", "INCOME_STATEMENT", "CASH_FLOW"}
    assert all(v > 0 for v in sizes.values())
    # every fact group's facts came only from its statement's pre lines
    bs = facts["BALANCE_SHEET"]
    assert bs.filter("statement_type <> 'BS'").count() == 0


def test_single_pass_facts_equal_per_statement(spark, tmp_path):
    """build_facts_single_pass must reproduce build_all_facts row for
    row (the DENSE_RANK elimination proof: rank over a partition that
    contains its own ORDER BY column is constant 1)."""
    from dynaledger_spark.operators.facts import build_all_facts, build_facts_single_pass
    from dynaledger_spark.sources.tsv import extract_zip, ingest_quarter

    zp = str(tmp_path / "q.zip")
    build_quarter_zip(zp, n_num=20_000, n_sub=250, n_tag=500)
    typed = ingest_quarter(spark, extract_zip(zp, str(tmp_path / "e")), "2024Q1")
    num, sub, pre = typed["sec_num"], typed["sec_sub"], typed["sec_pre"]

    single = build_facts_single_pass(num, sub, pre)
    per_stmt = build_all_facts(num, sub, pre)
    for stmt, table in [("BS", "BALANCE_SHEET"), ("IS", "INCOME_STATEMENT"), ("CF", "CASH_FLOW")]:
        got = single.filter(F.col("statement_type") == stmt)
        want = per_stmt[table]
        assert got.columns == want.columns
        assert got.count() == want.count()
        assert got.exceptAll(want).count() == 0
        assert want.exceptAll(got).count() == 0
