"""SparkSession factory.

One place to configure the engine. It runs `local[N]` with one task
thread per CPU this process may use, and every knob is chosen to also
make sense on a large cluster (AQE on, broadcast threshold explicit,
UTC timezone pinned so results are reproducible against any oracle).

Two settings cut what every plan pays before it touches data:

* `spark.python.sql.dataFrameDebugging.enabled=false`. With it on (the
  PySpark default), every DataFrame-API call (`F.col`, `withColumn`,
  `where`, ...) walks the Python stack and sends its call site to the
  JVM first: most of the py4j round trips of an append and its checks.
  Off, `F.col` costs about a quarter of the CPU, and a backfill makes
  less than half the round trips. The price: a runtime error in a
  DataFrame-API expression (an ANSI cast failure, say) still names the
  function but no longer the Python file and line that built it.
  Errors in SQL text keep their position in the query.
* `spark.sql.codegen.cache.maxEntries=CODEGEN_CACHE_ENTRIES`. Spark's
  default keeps 100 compiled classes, fewer than one quarter's appends
  compile (~110), so each quarter recompiled most of the last one's.
  A two-quarter backfill with its refreshes and checks compiles ~160
  distinct classes; the cache holds them with room for the serving
  plans, and the second quarter compiles next to none.

Both settings are static: they hold from the session's start, and
`extra_conf` can override them. A session started without them (a
harness's own, even when `get_spark` is called on it later) keeps
Spark's defaults. The codegen cache is sized once per JVM, when the
first code is compiled.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from dynaledger_spark.sources.parquet_io import PARQUET_CODEC

CODEGEN_CACHE_ENTRIES = 2000


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
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
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
