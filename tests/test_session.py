"""SparkSession factory defaults, and what the session's fixed settings
save each plan: no Python call-site capture per DataFrame-API call, a
codegen cache that keeps a quarter's compiled classes for the next, and
a JVM booted from a class-data-sharing archive recorded on first start."""

from __future__ import annotations

import glob
import json
import os
import subprocess
import sys

import pandas as pd
from pyspark import SparkContext
from pyspark.errors import utils as error_utils
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from dynaledger_spark import session
from dynaledger_spark.functions import validation
from dynaledger_spark.operators import backfill, documents
from dynaledger_spark.session import CDS_MAGIC, local_cpus
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


# Run in a fresh Python, so that its get_spark launches the JVM. Prints
# whether the JVM maps a file whose path starts with argv[1], a query's
# answer, SPARK_CONF_DIR after the launch, and, after a stop, how often a
# second get_spark on the same JVM asked for an archive.
ARCHIVE_PROBE = """
import json, os, sys
from pyspark import SparkContext
from dynaledger_spark import session
spark = session.get_spark("cds_probe")
with open(f"/proc/{SparkContext._gateway.proc.pid}/maps") as fh:
    mapped = sys.argv[1] in fh.read()
out = {"mapped": mapped, "answer": spark.range(10).count(),
       "conf_dir": os.environ.get("SPARK_CONF_DIR")}
asked = []
session._class_archive = lambda: asked.append(1)
spark.stop()
out["again"] = session.get_spark("cds_probe_again").range(5).count()
out["asked_again"] = len(asked)
print("@@" + json.dumps(out))
"""


def _archive_probe(cache: str, key: str) -> dict:
    env = {**os.environ, "XDG_CACHE_HOME": cache, "SPARK_GRAFT_DRIVER_MEM": "1g"}
    env.pop("SPARK_CONF_DIR", None)
    env["PYTHONPATH"] = os.pathsep.join(
        [os.path.dirname(os.path.dirname(session.__file__)), env.get("PYTHONPATH", "")]
    )
    out = subprocess.run(
        [sys.executable, "-c", ARCHIVE_PROBE, key],
        env=env, capture_output=True, text=True, timeout=300, check=True,
    ).stdout
    return json.loads(next(line[2:] for line in out.splitlines() if line.startswith("@@")))


def _archive_key(monkeypatch, cache: str) -> str:
    monkeypatch.setenv("XDG_CACHE_HOME", cache)
    return session.cds_archive_key(_find_spark_home())


def _only_complete_archive(key: str) -> None:
    """The cache holds one archive, complete, and no dump left over."""
    archives = glob.glob(glob.escape(key) + "-*.jsa")
    assert archives == [session._find_archive(key)], archives
    with open(archives[0], "rb") as fh:
        assert fh.read(4) == CDS_MAGIC
    assert not glob.glob(os.path.join(os.path.dirname(key), "*.tmp"))


def test_first_start_records_archive_that_later_starts_map(tmp_path, monkeypatch):
    key = _archive_key(monkeypatch, str(tmp_path))
    first = _archive_probe(str(tmp_path), key)
    assert first["mapped"] is False and first["answer"] == 10
    # the recording process waited for its JVM's dump and promoted it
    _only_complete_archive(key)

    second = _archive_probe(str(tmp_path), key)
    assert second["mapped"] is True and second["answer"] == 10
    assert second["conf_dir"] is None  # restored after the launch
    # a get_spark on a running JVM asks for no archive
    assert (second["again"], second["asked_again"]) == (5, 0)

    # a copy cut short after the header: the JVM would map it and die of
    # SIGBUS on the first missing page, so it is no archive
    archive = session._find_archive(key)
    cut = f"{key}0-{os.path.getsize(archive)}.jsa"
    with open(archive, "rb") as src, open(cut, "wb") as dst:
        dst.write(src.read(1 << 20))
    assert session._find_archive(key + "0") is None


def test_incomplete_archive_is_not_mapped_and_is_recorded_again(tmp_path, monkeypatch):
    """Neither a file whose header is unwritten (what a JVM killed during
    its dump leaves) nor one shorter than its name says (a copy cut
    short, which the JVM would map and die on) is passed to the JVM."""
    key = _archive_key(monkeypatch, str(tmp_path))
    os.makedirs(os.path.dirname(key))
    with open(f"{key}-4096.jsa", "wb") as fh:
        fh.write(bytes(4096))
    with open(f"{key}-8192.jsa", "wb") as fh:
        fh.write(CDS_MAGIC + bytes(4092))
    probe = _archive_probe(str(tmp_path), key)
    assert probe["mapped"] is False and probe["answer"] == 10
    _only_complete_archive(key)


def test_launch_without_archive_when_conf_has_a_file_or_cache_is_unusable(
    spark, tmp_path, monkeypatch
):
    """What a launching get_spark hands Spark, seen at getOrCreate
    without launching: no archive option and SPARK_CONF_DIR left alone
    when Spark's conf directory holds a file it reads, or when the cache
    directory cannot be made."""
    spark_home = tmp_path / "spark"
    (spark_home / "conf").mkdir(parents=True)
    (spark_home / "conf" / "log4j2.properties.template").write_text("")
    (spark_home / "conf" / "spark-defaults.conf").write_text("spark.ui.enabled false\n")
    (spark_home / "jars").symlink_to(os.path.join(_find_spark_home(), "jars"))
    seen: dict = {}

    def get_or_create(builder):
        seen.update(builder._options, SPARK_CONF_DIR=os.environ.get("SPARK_CONF_DIR"))
        return spark

    monkeypatch.setattr(SparkContext, "_gateway", None)
    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", get_or_create)
    monkeypatch.setenv("SPARK_HOME", str(spark_home))
    monkeypatch.delenv("SPARK_CONF_DIR", raising=False)
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "cache"))
    _launch_without_archive(spark, seen)
    assert not (tmp_path / "cache").exists()

    os.remove(spark_home / "conf" / "spark-defaults.conf")  # templates only
    monkeypatch.setenv("XDG_CACHE_HOME", str(spark_home / "conf" / "log4j2.properties.template"))
    _launch_without_archive(spark, seen)


def _launch_without_archive(spark, seen: dict) -> None:
    seen.clear()
    assert session.get_spark("no_archive") is spark
    assert "spark.driver.defaultJavaOptions" not in seen
    assert seen["SPARK_CONF_DIR"] is None and "SPARK_CONF_DIR" not in os.environ
