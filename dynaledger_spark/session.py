"""SparkSession factory.

One place to configure the engine. Defaults are tuned for the driver's
local[32] test box but every knob is chosen to also make sense on a large
cluster (AQE on, broadcast threshold explicit, UTC timezone pinned so
results are reproducible against any oracle).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_driver_mem() -> str:
    """Half of physical memory, between 1g and 48g. The JVM grows its heap
    towards the maximum under allocation pressure, so a maximum larger
    than the machine ends with the kernel killing the driver."""
    gb = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") // 2**30
    return f"{max(1, min(48, gb // 2))}g"


def get_spark(
    app_name: str = "dynaledger_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    Scale posture: AQE handles runtime partition coalescing and skew
    joins, so `shuffle_partitions` is an upper bound, not a tuning
    burden; on a 1000-executor cluster raise it (or rely on
    `spark.sql.adaptive.coalescePartitions.initialPartitionNum`).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus)

    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "snappy")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", _default_driver_mem()),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.crossJoin.enabled", "true")
        # Parquet TIMESTAMP(NANOS) is illegal for Spark's vectorized reader;
        # read as epoch-nanos long and convert at the source (catalog.read_table).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
