"""One SEC quarter through the reference's three pipelines, by public
engine calls, each wrapped in a span named after the module it enters:

* RAW: ``tsv.extract_zip`` -> ``tsv.ingest_quarter`` ->
  ``parquet_io.write_partitioned`` (appending a ``source_file`` partition);
* fact tables: ``backfill.append_quarter_facts`` and
  ``backfill.append_quarter_bucketed`` over the typed quarter;
* JSON: ``lookup.load_ticker``, ``documents.assemble_documents`` ->
  ``json_docs.write_documents``, then ``documents_table`` ->
  ``merge_dedup_by_symbol`` over the written documents, persisted as the
  per-quarter document table (the reference's COPY INTO + MERGE);
* checks: ``validation.run_checks(sec_checks())``, once over every
  appended quarter.

Spark is lazy, so a span around a plan-building call (``ingest_quarter``,
``assemble_documents``) covers planning only; the work runs inside the
span of the sink that executes it.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dynaledger_spark.functions import validation
from dynaledger_spark.operators import backfill, documents
from dynaledger_spark.sources import json_docs, lookup, parquet_io, tsv

from spans import Tracer

STMTS = ("BS", "IS", "CF")
TABLES = tuple(tsv.FILE_TYPES.values())  # sec_sub, sec_pre, sec_tag, sec_num


@dataclass(frozen=True)
class Stores:
    """On-disk layout of one store: typed RAW tables, partitioned facts,
    JSON documents, per-quarter document tables, and the adsh-bucketed
    RAW tables (in the session's warehouse, named ``<table>_<suffix>``)."""

    root: str
    suffix = "bkt"

    @property
    def typed(self) -> str:
        return os.path.join(self.root, "typed")

    @property
    def facts(self) -> str:
        return os.path.join(self.root, "facts")

    def docs(self, quarter: str) -> str:
        return os.path.join(self.root, "docs", quarter)

    def doc_table(self, quarter: str) -> str:
        return os.path.join(self.root, "doc_table", quarter)

    def typed_tables(self, spark: SparkSession) -> dict[str, DataFrame]:
        return {t: spark.read.parquet(os.path.join(self.typed, t)) for t in TABLES}

    def typed_quarter(self, spark: SparkSession, quarter: str) -> dict[str, DataFrame]:
        return {
            t: df.where(F.col("source_file") == quarter)
            for t, df in self.typed_tables(spark).items()
        }


def _scan_tasks(spark: SparkSession, group: str) -> int:
    tracker = spark.sparkContext.statusTracker()
    tasks = 0
    for job in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(job)
        for stage in info.stageIds if info else ():
            sinfo = tracker.getStageInfo(stage)
            tasks += sinfo.numTasks if sinfo else 0
    return tasks


def append_raw(
    spark: SparkSession, tr: Tracer, stores: Stores, quarter: str, zip_path: str,
    work_dir: str,
) -> dict[str, DataFrame]:
    """RAW pipeline for one quarter; returns its typed tables read back
    from the store."""
    with tr.span("sources.extract_zip"):
        members = tsv.extract_zip(zip_path, os.path.join(work_dir, f"ext_{quarter}"))
    group = f"tsv_{quarter}"
    if tr.enabled:
        with tr.cost():
            spark.sparkContext.setJobGroup(group, "tsv scan")
    with tr.span("sources.tsv_to_parquet"):
        lazy = tsv.ingest_quarter(spark, members, quarter)
        for table, df in lazy.items():
            parquet_io.write_partitioned(df, os.path.join(stores.typed, table), mode="append")
    if tr.enabled:
        with tr.cost():
            spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
            tr.count("sources.tsv_scan_tasks", _scan_tasks(spark, group))
    return stores.typed_quarter(spark, quarter)


def append_facts(tr: Tracer, stores: Stores, quarter: str, typed: dict[str, DataFrame]) -> None:
    with tr.span("operators.append_facts"):
        backfill.append_quarter_facts(
            typed["sec_num"], typed["sec_sub"], typed["sec_pre"], quarter, stores.facts
        )


def append_bucketed(tr: Tracer, stores: Stores, typed: dict[str, DataFrame]) -> None:
    with tr.span("operators.append_bucketed"):
        backfill.append_quarter_bucketed(typed, suffix=stores.suffix)


def append_json(
    spark: SparkSession, tr: Tracer, stores: Stores, quarter: str,
    typed: dict[str, DataFrame], ticker_path: str,
) -> None:
    with tr.span("sources.load_ticker"):
        ticker = lookup.load_ticker(spark, ticker_path)
    with tr.span("operators.assemble_documents"):
        docs = documents.assemble_documents(
            typed["sec_sub"], typed["sec_num"], typed["sec_tag"], typed["sec_pre"], ticker
        )
    with tr.span("sources.write_documents"):
        json_docs.write_documents(docs, stores.docs(quarter))
    with tr.span("operators.merge_documents"):
        merged = documents.merge_dedup_by_symbol(
            documents.documents_table(json_docs.read_documents(spark, stores.docs(quarter)))
        )
        merged.write.mode("overwrite").parquet(stores.doc_table(quarter))


def run_checks(tr: Tracer, typed: dict[str, DataFrame]) -> dict[str, int]:
    """The dbt test suite over the typed tables: rule -> violation count."""
    with tr.span("functions.sec_checks"):
        rows = validation.run_checks(typed, validation.sec_checks()).collect()
    return {r["rule"]: r["n_violations"] for r in rows}


def recurring_reads(
    spark: SparkSession, tr: Tracer, stores: Stores, quarter: str, stmt: str
) -> dict:
    """The dashboard's refresh after an append: latest-quarter discovery,
    the partition-pruned statement read and the bucketed RAW statement
    join for one statement. Returns their row counts."""
    with tr.span("operators.latest_quarter"):
        out = {"latest": backfill.latest_fact_quarter(spark, stores.facts)}
    with tr.span("operators.statement_facts"):
        out["facts"] = backfill.statement_facts(spark, stores.facts, quarter, stmt).count()
    with tr.span("operators.bucketed_join"):
        out["raw"] = backfill.bucketed_statement_join(
            spark, quarter, stmt, suffix=stores.suffix
        ).count()
    return out
