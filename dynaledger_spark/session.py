"""SparkSession factory.

One place to configure the engine. It runs `local[N]` with one task
thread per CPU this process may use, and every knob is chosen to also
make sense on a large cluster (AQE on, broadcast threshold explicit,
UTC timezone pinned so results are reproducible against any oracle).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from dynaledger_spark.sources.parquet_io import PARQUET_CODEC


def _default_driver_mem() -> str:
    """Half of physical memory, between 1g and 48g. The JVM grows its heap
    towards the maximum under allocation pressure, so a maximum larger
    than the machine ends with the kernel killing the driver."""
    gb = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") // 2**30
    return f"{max(1, min(48, gb // 2))}g"


def local_cpus() -> int:
    """Task threads for `local[N]`: `SPARK_GRAFT_CPUS` if set, else the
    CPUs this process may run on."""
    return int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))


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
    cpus = local_cpus()
    if shuffle_partitions is None:
        shuffle_partitions = cpus

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
        .config("spark.sql.parquet.compression.codec", PARQUET_CODEC)
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
