"""Query registry — the single source of truth behind __spark_entry__.

Every operator from SURVEY.md §2 (plus the training-data-pipeline
extensions) registers one QuerySpec: a Spark builder (spark, sf_dir) ->
DataFrame and, where the semantics are ANSI-SQL-expressible, an oracle SQL
string for the driver's DuckDB comparison. A builder returns a lazy plan
and persists nothing, so the caller owns whatever it caches.

Determinism contract for oracle-checked queries:
  * every computed column is aliased identically in Spark and SQL;
  * SUM/AVG over doubles goes through an exact DECIMAL accumulator and is
    cast back to DOUBLE at the end — aggregation order then cannot change
    the result, so Spark's partial aggregates and DuckDB agree bitwise;
  * window orderings include a unique tiebreaker column;
  * per-row double arithmetic is IEEE-deterministic and needs no special
    handling.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession


@dataclass
class QuerySpec:
    name: str
    build: Callable[[SparkSession, str], DataFrame]
    oracle: str | None = None  # ANSI SQL for DuckDB; None → rows-only check
    doc: str = ""


QUERY_REGISTRY: dict[str, QuerySpec] = {}


def register(name: str, oracle: str | None = None, doc: str = ""):
    """Decorator: register a (spark, sf_dir) -> DataFrame query builder.

    The decorated function itself becomes ``QuerySpec.build`` and is
    returned unchanged, so builders may compose other builders."""

    def wrap(fn: Callable[[SparkSession, str], DataFrame]):
        QUERY_REGISTRY[name] = QuerySpec(
            name=name, build=fn, oracle=oracle, doc=doc or fn.__doc__ or ""
        )
        return fn

    return wrap


def load_all() -> dict[str, QuerySpec]:
    """Import every query module and return a copy of the registry.

    Entries are in registration order: the order below, then the order
    of the ``@register`` decorators within each module."""
    from dynaledger_spark.plans import (  # noqa: F401
        queries_approx,
        queries_core,
        queries_feature,
        queries_graph,
        queries_pipeline,
        queries_sampling,
        queries_stats,
        queries_text,
        queries_timeseries,
        queries_tpch,
    )

    return dict(QUERY_REGISTRY)
