"""dynaledger_spark — a PySpark-native analytics engine.

A from-scratch rebuild of the query and data-processing capabilities of
Damg7245-BigDataIntelligence/DynaLedger (SEC Financial Statement Data Sets
ETL + interactive query system), expressed Spark-first: DataFrame/SQL plans
optimized by Catalyst, Parquet columnar storage with partition columns
instead of per-quarter table-name suffixes, and native joins/windows in
place of the reference's row-at-a-time pandas loops.

Capability map (see SURVEY.md §2 for the operator inventory):
  sources/    — TSV/ZIP ingestion, Parquet/JSON IO, lookup dims, scraping
  operators/  — fact builders, the per-quarter backfill stores, document
                assembly, dedup (exact / MinHash-LSH / SimHash)
  functions/  — validation checks, text analysis, float sanitizing,
                exact-decimal sums
  plans/      — the query registry behind __spark_entry__: lazy
                (spark, sf_dir) builders that persist nothing
  api.py, http_service.py — SecEngine and its HTTP front end
"""

from dynaledger_spark.session import get_spark

__all__ = ["get_spark"]
__version__ = "0.1.0"
