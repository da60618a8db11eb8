"""Multi-quarter SEC backfill e2e (VERDICT r8 items 5-6).

The reference's actual operating mode is quarterly accretion: per-quarter
raw tables (snowflake_raw_data_loader.py:50) and latest-partition
discovery before each load (load_json_data_snowflake.py:30-59). This
module drives FOUR synthetic quarters through the full engine path —

    ZIP -> extract -> typed parquet -> append_quarter_facts
        -> partition-pruned statement read     (plan-asserted, DPP shape)
        -> DuckDB row parity on a quarter's facts
    and the (source_file, stmt)-partitioned RAW statement store
        -> pruned single-scan statement read   (plan-pinned)
        -> DuckDB row parity, SecEngine RAW parity, safe re-runs
    and a re-run of a quarter's typed append, which replaces its rows
    and the codec of every store, zstd even under a snappy session default

— so the partition layout, the accretion semantics, and the statement
store are all proven on SEC-shaped data, not just on TPC-H tables.
"""

from __future__ import annotations

import os
from urllib.parse import urlparse

import duckdb
import pytest
from pyspark.sql import functions as F

from dynaledger_spark.api import RAW_STMT_TYPES, SecEngine
from dynaledger_spark.operators.backfill import (
    REFRESH_COLUMNS,
    append_quarter_bucketed,
    append_quarter_facts,
    bucketed_statement_join,
    drop_bucketed,
    latest_fact_quarter,
    statement_facts,
    statement_table,
)
from dynaledger_spark.schemas import FACT_SCHEMA
from dynaledger_spark.sources.parquet_io import PARQUET_CODEC, write_partitioned
from dynaledger_spark.sources.tsv import extract_zip, ingest_quarter
from tests.oracle_compare import compare
from tests.sec_fixtures import build_quarter_zip, parquet_codecs, parquet_files

QUARTERS = ("2024Q1", "2024Q2", "2024Q3", "2024Q4")
_BKT = "bktq"  # statement-store suffix for this module


@pytest.fixture(scope="module")
def backfill(spark, tmp_path_factory):
    """Four quarters ingested and accreted into (a) the partitioned fact
    store and (b) the RAW statement store; typed parquet kept on
    disk for DuckDB parity."""
    root = tmp_path_factory.mktemp("sec_backfill")
    facts_root = str(root / "facts")
    typed_root = str(root / "typed")
    drop_bucketed(spark, suffix=_BKT)
    for q in QUARTERS:
        zp = str(root / f"{q}.zip")
        build_quarter_zip(zp, n_num=6_000, n_sub=100, n_tag=300, quarter=q)
        typed = ingest_quarter(spark, extract_zip(zp, str(root / f"ext_{q}")), q)
        for table in ("sec_sub", "sec_pre", "sec_num"):
            write_partitioned(
                typed[table], os.path.join(typed_root, table), mode="append"
            )
        append_quarter_facts(
            typed["sec_num"], typed["sec_sub"], typed["sec_pre"], q, facts_root
        )
        append_quarter_bucketed(typed, suffix=_BKT)
    yield {"facts": facts_root, "typed": typed_root, "root": root}
    drop_bucketed(spark, suffix=_BKT)


@pytest.fixture(scope="module")
def duck_typed(backfill):
    """DuckDB views over the SAME typed parquet the engine accreted,
    hive-partitioned so source_file comes back as a column."""
    con = duckdb.connect()
    for table in ("sec_sub", "sec_pre", "sec_num"):
        con.execute(
            f"CREATE VIEW {table} AS SELECT * FROM read_parquet("
            f"'{backfill['typed']}/{table}/*/*.parquet', hive_partitioning=1)"
        )
    yield con
    con.close()


def _typed(spark, backfill):
    return {
        t: spark.read.parquet(os.path.join(backfill["typed"], t))
        for t in ("sec_sub", "sec_pre", "sec_num")
    }


def _in_job_group(spark, group, fn):
    """fn() and the ids of the Spark jobs it launched."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, sc.statusTracker().getJobIdsForGroup(group)


def _conf(spark):
    return {r.key: r.value for r in spark.sql("SET").collect()}


def test_latest_partition_discovery(spark, backfill):
    """load_json_data_snowflake.py:30-59's probe: the MAX over the
    partition column folds directory names only."""
    assert latest_fact_quarter(spark, backfill["facts"]) == "2024Q4"


def test_latest_quarter_missing_or_empty_root(spark, tmp_path):
    assert latest_fact_quarter(spark, str(tmp_path / "absent")) is None
    assert latest_fact_quarter(spark, str(tmp_path)) is None
    (tmp_path / "_SUCCESS").write_text("")
    (tmp_path / "_temporary").mkdir()
    assert latest_fact_quarter(spark, str(tmp_path)) is None


def test_latest_quarter_runs_no_spark_job(spark, backfill):
    """The discovery is a directory listing: no Spark job, no fact file
    read."""
    latest, jobs = _in_job_group(
        spark, "test_latest_quarter_runs_no_spark_job",
        lambda: latest_fact_quarter(spark, backfill["facts"]),
    )
    assert latest == "2024Q4"
    assert len(jobs) == 0


def test_statement_facts_builds_without_a_job(spark, backfill):
    """Building the fact read runs no Spark job: the schema is declared,
    not inferred from a parquet footer, and only the one leaf is
    listed, on the driver."""
    df, jobs = _in_job_group(
        spark, "test_statement_facts_builds_without_a_job",
        lambda: statement_facts(spark, backfill["facts"], "2024Q2", "IS"),
    )
    assert df.columns == FACT_SCHEMA.fieldNames()
    assert len(jobs) == 0


def test_fact_schema_matches_written_store(spark, backfill):
    """FACT_SCHEMA is what Spark infers from a store that
    append_quarter_facts wrote, names and types in order: a change to
    build_facts_single_pass fails here instead of being mis-read."""
    inferred = spark.read.parquet(backfill["facts"]).schema
    assert [(f.name, f.dataType) for f in inferred] == [
        (f.name, f.dataType) for f in FACT_SCHEMA
    ]


@pytest.mark.parametrize(
    "quarter, stmt", [("2023Q4", "BS"), ("2024Q2", "EQ")], ids=["quarter", "statement"]
)
def test_statement_facts_missing_leaf_is_empty(spark, backfill, quarter, stmt):
    """A quarter never appended, or a statement without rows, has no
    leaf directory: the read is an empty frame with the fact columns,
    planned without Python rows (no ExistingRDD scan)."""
    df = statement_facts(spark, backfill["facts"], quarter, stmt)
    assert df.schema == FACT_SCHEMA
    assert df.count() == 0
    assert "ExistingRDD" not in df._jdf.queryExecution().executedPlan().toString()


def test_statement_read_prunes_partitions(spark, backfill):
    """The recurring (quarter, statement) read must touch exactly one
    leaf directory: every input file carries both partition values, and
    the scan's PartitionFilters show the pruning is planner-level, not
    a post-scan filter."""
    df = statement_facts(spark, backfill["facts"], "2024Q2", "IS")
    assert df.count() > 0
    # files actually opened at execution (inputFiles() would report the
    # pre-pruning file index): all inside the single pruned leaf dir
    files = [
        r[0] for r in df.select(F.input_file_name()).distinct().collect()
    ]
    assert files, "no input files resolved"
    for f in files:
        assert "source_file=2024Q2" in f and "statement_type=IS" in f, f
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert "source_file" in plan.split("PartitionFilters", 1)[1][:300]


def test_backfill_facts_parity_duckdb(spark, backfill, duck_typed):
    """One quarter's accreted facts vs the dbt-shaped DuckDB twin over
    the same typed parquet (DECIMAL-folded sum -> bitwise equality)."""
    got = statement_facts(spark, backfill["facts"], "2024Q3", "BS").drop(
        "source_file", "statement_type"
    )
    twin = """
        SELECT num.adsh, sub.cik, sub.name AS company_name,
               sub.filed AS filing_date, sub.fy AS fiscal_year,
               sub.fp AS fiscal_period, num.tag, num.uom AS unit_of_measure,
               num.ddate AS report_date, num.qtrs, pre.plabel,
               CAST(SUM(CAST(num.value AS DECIMAL(27,6))) AS DOUBLE)
                   AS total_value
        FROM sec_num num
        JOIN sec_sub sub ON num.adsh = sub.adsh
        JOIN sec_pre pre ON num.adsh = pre.adsh AND num.tag = pre.tag
        WHERE pre.stmt = 'BS' AND num.source_file = '2024Q3'
        GROUP BY ALL
    """
    compare(got, duck_typed, twin)


def test_cross_quarter_facts_are_disjoint_and_complete(spark, backfill):
    """Accretion keeps every quarter: each quarter's partition exists, and
    no filing leaks across quarters (disjoint adsh pools by
    construction)."""
    facts = spark.read.parquet(backfill["facts"])
    per_q = {
        r["source_file"]: r["n"]
        for r in facts.groupBy("source_file").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert set(per_q) == set(QUARTERS)
    assert all(n > 0 for n in per_q.values())
    leaks = (
        facts.groupBy("adsh")
        .agg(F.countDistinct("source_file").alias("nq"))
        .filter("nq > 1")
        .count()
    )
    assert leaks == 0


def test_statement_store_read_plan(spark, backfill):
    """The refresh's RAW statement read is one FileScan pruned by
    PartitionFilters on both source_file and stmt: no join and no
    exchange at read time, and the shared session's conf is left as it
    was."""
    before = _conf(spark)
    df = bucketed_statement_join(spark, "2024Q3", "BS", suffix=_BKT)
    assert tuple(df.columns) == REFRESH_COLUMNS
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FileScan") == 1, plan
    assert "Join" not in plan and "Exchange" not in plan, plan
    pushed = plan.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
    assert "source_file" in pushed and "stmt" in pushed, plan
    files = [r[0] for r in df.select(F.input_file_name()).distinct().collect()]
    assert files
    for f in files:
        assert "source_file=2024Q3" in f and "stmt=BS" in f, f
    assert _conf(spark) == before


def test_refresh_spark_jobs(spark, backfill):
    """One dashboard refresh — latest quarter, the pruned fact read and
    the RAW statement read — launches at most 4 Spark jobs: the fact read
    infers no schema."""

    def refresh():
        latest = latest_fact_quarter(spark, backfill["facts"])
        facts = statement_facts(spark, backfill["facts"], latest, "BS").count()
        raw = bucketed_statement_join(spark, latest, "BS", suffix=_BKT).count()
        return facts, raw

    (facts, raw), jobs = _in_job_group(spark, "test_refresh_spark_jobs", refresh)
    assert facts > 0 and raw > 0
    assert 0 < len(jobs) <= 4, len(jobs)


def _store_counts(spark):
    return {
        (r["source_file"], r["stmt"]): r["count"]
        for r in spark.table(statement_table(_BKT))
        .groupBy("source_file", "stmt")
        .count()
        .collect()
    }


def test_statement_store_rerun_append_replaces_only_its_quarter(spark, backfill):
    """Appending a quarter a second time replaces that quarter's
    partitions: every (quarter, stmt) count is unchanged, and the other
    quarters' files are not rewritten."""
    def other_quarters_files():
        files = spark.table(statement_table(_BKT)).inputFiles()
        return sorted(f for f in files if "source_file=2024Q2" not in f)

    before, others = _store_counts(spark), other_quarters_files()
    rerun = {
        t: df.where(F.col("source_file") == "2024Q2")
        for t, df in _typed(spark, backfill).items()
    }
    append_quarter_bucketed(rerun, suffix=_BKT)
    assert {q for q, _ in before} == set(QUARTERS)
    assert _store_counts(spark) == before
    assert other_quarters_files() == others


def _fact_totals(spark, root):
    return {
        (r["source_file"], r["statement_type"]): (r["n"], r["total"])
        for r in spark.read.parquet(root)
        .groupBy("source_file", "statement_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("total_value").cast("decimal(38,6)")).alias("total"),
        )
        .collect()
    }


def test_facts_rerun_append_replaces_only_its_quarter(spark, backfill):
    """Appending a quarter's facts a second time replaces that quarter's
    partitions: every (quarter, statement) count and sum is unchanged,
    the other quarters' files are not rewritten, and the session's conf
    is left as it was."""
    def other_quarters_files():
        files = spark.read.parquet(backfill["facts"]).inputFiles()
        return sorted(f for f in files if "source_file=2024Q2" not in f)

    conf = _conf(spark)
    before, others = _fact_totals(spark, backfill["facts"]), other_quarters_files()
    rerun = {
        t: df.where(F.col("source_file") == "2024Q2")
        for t, df in _typed(spark, backfill).items()
    }
    append_quarter_facts(
        rerun["sec_num"], rerun["sec_sub"], rerun["sec_pre"], "2024Q2", backfill["facts"]
    )
    assert {q for q, _ in before} == set(QUARTERS)
    assert _fact_totals(spark, backfill["facts"]) == before
    assert other_quarters_files() == others
    assert _conf(spark) == conf


@pytest.mark.parametrize("data_type", ["Balance Sheet", "Cash Flow"])
def test_statement_store_matches_sec_engine_raw(spark, backfill, data_type):
    """SecEngine's RAW pull and the statement store are one join: the
    store's rows for a (quarter, stmt) equal SecEngine's RAW frame as
    multisets on the shared columns."""
    engine = SecEngine(spark, tables=_typed(spark, backfill)).financial_data_frame(
        2024, "Q3", data_type, "RAW"
    )
    store = (
        spark.table(statement_table(_BKT))
        .where(
            (F.col("source_file") == "2024Q3")
            & (F.col("stmt") == RAW_STMT_TYPES[data_type])
        )
        .select(*engine.columns)
    )
    assert engine.count() > 0
    assert engine.exceptAll(store).count() == 0
    assert store.exceptAll(engine).count() == 0


def test_bucketed_statement_join_parity(spark, backfill, duck_typed):
    """The bucketed layout changes the PLAN, never the result: row-level
    parity of the statement join against DuckDB over the typed
    parquet."""
    got = bucketed_statement_join(spark, "2024Q2", "IS", suffix=_BKT)
    twin = """
        SELECT sub.adsh, sub.cik, sub.name, sub.filed,
               pre.line, pre.plabel,
               num.tag, num.version, num.ddate, num.qtrs, num.uom, num.value
        FROM sec_sub sub
        JOIN sec_pre pre ON sub.adsh = pre.adsh
        JOIN sec_num num ON sub.adsh = num.adsh
             AND pre.tag = num.tag AND pre.version = num.version
        WHERE pre.stmt = 'IS' AND sub.source_file = '2024Q2'
    """
    compare(got, duck_typed, twin)


def _typed_counts(spark, backfill):
    return {
        (t, r["source_file"]): r["count"]
        for t, df in _typed(spark, backfill).items()
        for r in df.groupBy("source_file").count().collect()
    }


def test_typed_rerun_append_replaces_only_its_quarter(spark, backfill):
    """Ingesting a quarter's ZIP again and appending its typed tables a
    second time replaces that quarter's partitions: every (table,
    quarter) count is unchanged, the other quarters' files are not
    rewritten, and the session's conf is left as it was."""
    def other_quarters_files():
        files = [f for df in _typed(spark, backfill).values() for f in df.inputFiles()]
        return sorted(f for f in files if "source_file=2024Q2" not in f)

    root = backfill["root"]
    conf = _conf(spark)
    before, others = _typed_counts(spark, backfill), other_quarters_files()
    typed = ingest_quarter(
        spark, extract_zip(str(root / "2024Q2.zip"), str(root / "rerun_ext_2024Q2")), "2024Q2"
    )
    for table in ("sec_sub", "sec_pre", "sec_num"):
        write_partitioned(typed[table], os.path.join(backfill["typed"], table), mode="append")
    assert {q for _, q in before} == set(QUARTERS)
    assert _typed_counts(spark, backfill) == before
    assert other_quarters_files() == others
    assert _conf(spark) == conf


def test_stores_are_zstd(spark, backfill):
    """Every parquet file of the typed, fact and statement stores
    declares zstd in its footer."""
    stores = {
        "typed": parquet_files(backfill["typed"]),
        "facts": parquet_files(backfill["facts"]),
        "statement": spark.table(statement_table(_BKT)).inputFiles(),
    }
    assert PARQUET_CODEC == "zstd"
    for name, files in stores.items():
        assert files, name
        assert parquet_codecs(files) == {"ZSTD"}, name


def test_stores_are_zstd_under_a_snappy_session_default(spark, backfill, tmp_path):
    """A session whose default codec is snappy (one configured elsewhere)
    still gets zstd stores: each sink names the codec itself. A plain
    write in that session is snappy, which shows the default took; the
    conf is restored afterwards."""
    key, suffix = "spark.sql.parquet.compression.codec", "bktsnappy"
    quarter = {
        t: df.where(F.col("source_file") == "2024Q1")
        for t, df in _typed(spark, backfill).items()
    }
    before = spark.conf.get(key)
    drop_bucketed(spark, suffix=suffix)
    spark.conf.set(key, "snappy")
    try:
        write_partitioned(quarter["sec_num"], str(tmp_path / "typed"), mode="append")
        append_quarter_facts(
            quarter["sec_num"], quarter["sec_sub"], quarter["sec_pre"], "2024Q1",
            str(tmp_path / "facts"),
        )
        append_quarter_bucketed(quarter, suffix=suffix)
        spark.range(3).write.parquet(str(tmp_path / "default"))
        statement_files = spark.table(statement_table(suffix)).inputFiles()
        statement_codecs = parquet_codecs(statement_files)
    finally:
        spark.conf.set(key, before)
        drop_bucketed(spark, suffix=suffix)
    assert parquet_codecs(parquet_files(str(tmp_path / "default"))) == {"SNAPPY"}
    for store in ("typed", "facts"):
        files = parquet_files(str(tmp_path / store))
        assert files and parquet_codecs(files) == {"ZSTD"}, store
    assert statement_files and statement_codecs == {"ZSTD"}


def test_duckdb_reads_zstd_stores(spark, backfill):
    """DuckDB's read_parquet, the benchmark oracle's path, reads the
    zstd fact and statement stores to Spark's row counts."""
    con = duckdb.connect()
    try:
        facts = con.execute(
            f"SELECT count(*) FROM read_parquet('{backfill['facts']}/*/*/*.parquet')"
        ).fetchone()[0]
        statement_files = [
            urlparse(f).path for f in spark.table(statement_table(_BKT)).inputFiles()
        ]
        statement = con.execute(
            "SELECT count(*) FROM read_parquet(?)", [statement_files]
        ).fetchone()[0]
    finally:
        con.close()
    assert facts == spark.read.parquet(backfill["facts"]).count() > 0
    assert statement == spark.table(statement_table(_BKT)).count() > 0
