"""Regression: the library must work under a SparkSession it didn't build.

The driver's harness (round-1 CORRECTNESS) constructs its own SparkSession
without `spark.sql.legacy.parquet.nanosAsLong`, which made every query
touching events.parquet (TIMESTAMP NANOS) die with PARQUET_TYPE_ILLEGAL.
`catalog.read_table` now sets the conf defensively at call time. These
tests simulate the foreign session by unsetting the conf on the live
session before calling in.
"""

from __future__ import annotations

import pytest
from pyspark.sql import types as T

from dynaledger_spark.catalog import read_table
from dynaledger_spark.plans.registry import load_all

NANOS_CONF = "spark.sql.legacy.parquet.nanosAsLong"


@pytest.fixture()
def bare_conf_spark(spark):
    """The session with the nanos conf removed — the driver-harness shape."""
    spark.conf.unset(NANOS_CONF)
    assert spark.conf.get(NANOS_CONF, None) in (None, "false")
    yield spark


def test_read_table_self_sufficient(bare_conf_spark, sf_dir):
    df = read_table(bare_conf_spark, sf_dir, "events")
    assert isinstance(df.schema["ts"].dataType, T.TimestampType)
    assert df.count() > 0


def test_events_registry_query_under_foreign_session(bare_conf_spark, sf_dir):
    # dup_detection was one of the 14 round-1 driver errors.
    spec = load_all()["dup_detection"]
    spec.build(bare_conf_spark, sf_dir).collect()


def test_ntz_timestamp_queries_under_foreign_session(bare_conf_spark, sf_dir):
    """Round-3 testdata ships TIMESTAMP_NTZ micros instead of nanos; the
    normalization (NTZ → TimestampType under UTC) must equally hold in a
    session the library didn't build. gap_fill and OHLC exercise casts,
    windows, and timestamp sequences end-to-end."""
    reg = load_all()
    for name in ("gap_fill_interpolate", "time_bucket_ohlc"):
        rows = reg[name].build(bare_conf_spark, sf_dir).collect()
        assert rows, name


def test_non_utc_foreign_session_timezone_is_corrected(bare_conf_spark, sf_dir):
    """A driver session configured in a non-UTC timezone must still
    produce UTC-rendered timestamps (DuckDB's naive values): read_table
    pins the session timezone when it normalizes NTZ columns."""
    tz_conf = "spark.sql.session.timeZone"
    old = bare_conf_spark.conf.get(tz_conf)
    bare_conf_spark.conf.set(tz_conf, "America/New_York")
    try:
        df = read_table(bare_conf_spark, sf_dir, "events")
        import pyspark.sql.types as T2

        if isinstance(df.schema["ts"].dataType, T2.TimestampType):
            assert bare_conf_spark.conf.get(tz_conf) == "UTC"
            import duckdb

            want = duckdb.sql(
                f"SELECT min(ts) FROM '{sf_dir}/events.parquet'"
            ).fetchone()[0]
            got = df.agg({"ts": "min"}).head()[0]
            assert got.replace(tzinfo=None) == want
    finally:
        bare_conf_spark.conf.set(tz_conf, old)
