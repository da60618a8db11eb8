"""SparkSession factory defaults, and what the session's fixed settings
save each plan: no Python call-site capture per DataFrame-API call, and
a codegen cache that keeps a quarter's compiled classes for the next."""

from __future__ import annotations

import os

import pandas as pd
from pyspark.errors import utils as error_utils
from pyspark.sql import functions as F

from dynaledger_spark.functions import validation
from dynaledger_spark.operators import backfill, documents
from dynaledger_spark.session import local_cpus
from dynaledger_spark.sources import json_docs, lookup, parquet_io, tsv
from tests.sec_fixtures import build_quarter_zip

DEBUGGING_CONF = "spark.python.sql.dataFrameDebugging.enabled"
# classes the second of two same-shape quarters may still compile: 4-10
# here (a plan whose codegen stage ids shift compiles anew). With Spark's
# 100-entry default cache it recompiled 157 of the first quarter's 161.
SECOND_QUARTER_COMPILES = 30


def test_local_cpus_defaults_to_affinity(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert local_cpus() == len(os.sched_getaffinity(0))
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert local_cpus() == 3


def _call_sites_captured(monkeypatch, debugging: bool | None) -> int:
    """`_capture_call_site` calls made while building the SEC checks, with
    PySpark's per-process read of the debugging setting set to
    `debugging` (None: read again from the active session)."""
    calls = []
    capture = error_utils._capture_call_site
    monkeypatch.setattr(error_utils, "_enable_debugging_cache", debugging)
    monkeypatch.setattr(
        error_utils, "_capture_call_site", lambda depth: calls.append(depth) or capture(depth)
    )
    validation.sec_checks()
    return len(calls)


def test_dataframe_api_captures_no_call_site(spark, monkeypatch):
    assert spark.conf.get(DEBUGGING_CONF) == "false"
    assert _call_sites_captured(monkeypatch, None) == 0
    # the control: the same build with PySpark's default captures sites
    # (the setting is static, so the cached read stands in for it)
    assert _call_sites_captured(monkeypatch, True) > 0


def _compiles(spark) -> int:
    jvm = spark.sparkContext._jvm
    return jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME().getCount()


def _append_and_refresh(spark, root: str, quarter: str, suffix: str) -> None:
    """One quarter through the engine calls of a benchmark backfill: the
    RAW, fact-table, statement-store and JSON appends, a dashboard
    refresh, and the checks over the quarter's typed tables."""
    zip_path = os.path.join(root, f"{quarter}.zip")
    build_quarter_zip(zip_path, n_num=3_000, n_sub=100, n_tag=300, quarter=quarter)
    members = tsv.extract_zip(zip_path, os.path.join(root, f"ext_{quarter}"))
    ticker_path = os.path.join(root, f"{quarter}_ticker.txt")
    ciks = pd.read_csv(members["sec_sub"], sep="\t", usecols=["cik"])["cik"]
    with open(ticker_path, "w") as fh:
        fh.writelines(f"T{cik}\t{cik}\n" for cik in ciks[::2])

    typed_root, facts_root = os.path.join(root, "typed"), os.path.join(root, "facts")
    for table, df in tsv.ingest_quarter(spark, members, quarter).items():
        parquet_io.write_partitioned(df, os.path.join(typed_root, table), mode="append")
    typed = {
        t: spark.read.parquet(os.path.join(typed_root, t)).where(F.col("source_file") == quarter)
        for t in tsv.FILE_TYPES.values()
    }
    backfill.append_quarter_facts(
        typed["sec_num"], typed["sec_sub"], typed["sec_pre"], quarter, facts_root
    )
    backfill.append_quarter_bucketed(typed, suffix=suffix)
    docs_root = os.path.join(root, "docs", quarter)
    json_docs.write_documents(
        documents.assemble_documents(
            typed["sec_sub"], typed["sec_num"], typed["sec_tag"], typed["sec_pre"],
            lookup.load_ticker(spark, ticker_path),
        ),
        docs_root,
    )
    documents.merge_dedup_by_symbol(
        documents.documents_table(json_docs.read_documents(spark, docs_root))
    ).write.mode("overwrite").parquet(os.path.join(root, "doc_table", quarter))

    assert backfill.latest_fact_quarter(spark, facts_root) == quarter
    assert backfill.statement_facts(spark, facts_root, quarter, "BS").count() > 0
    assert backfill.bucketed_statement_join(spark, quarter, "BS", suffix=suffix).count() > 0
    assert validation.run_checks(typed, validation.sec_checks()).collect()


def test_second_quarter_reuses_compiled_classes(spark, tmp_path):
    suffix = "cgq"
    backfill.drop_bucketed(spark, suffix=suffix)
    try:
        before = _compiles(spark)
        _append_and_refresh(spark, str(tmp_path), "2024Q1", suffix)
        first = _compiles(spark) - before
        _append_and_refresh(spark, str(tmp_path), "2024Q2", suffix)
        second = _compiles(spark) - before - first
    finally:
        backfill.drop_bucketed(spark, suffix=suffix)
    assert second <= SECOND_QUARTER_COMPILES, (first, second)
