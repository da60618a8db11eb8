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

The JVM boots from a dynamic class-data-sharing archive of the Spark,
Scala and Hadoop classes an earlier start loaded, instead of reading,
parsing and verifying them from the jars again. Only the `get_spark`
call that launches the JVM takes part; later calls on a running JVM
add nothing.

* A hit maps the archive (`-XX:SharedArchiveFile`). On a 4-core VM,
  perfbench's `cold_start_cpu_s` on `quarter_backfill` fell from a
  median of 10.02 s to 6.45 s (lower in 10 of 10 pairs).
* A miss, the first launch per machine and key, records it
  (`-XX:ArchiveClassesAtExit`): the JVM dumps the classes it loaded
  when it exits, and interpreter exit waits for the dump (~11 s, at
  most `CDS_DUMP_WAIT_S`) before it promotes a complete file to the
  archive's name, `spark-<key>-<bytes>.jsa`. That run costs more:
  `cold_start_cpu_s` read 15.9-17.2 s on `quarter_backfill` and
  16.6-20.7 s on `statement_pull`. One process records a key at a
  time; the others start without an archive.
* A file whose header is unwritten (a dump cut short) or whose size is
  not the one in its name (a copy cut short, which the JVM would map
  and die of SIGBUS on) is never passed to the JVM; the next launch
  records anew.
* The archive takes ~175-195 MB in `${XDG_CACHE_HOME:-~/.cache}/dynaledger_spark/`,
  keyed by a hash of the java binary and of `$SPARK_HOME/jars`.
  Promoting one deletes the archives of other keys. Delete the
  directory to clear it; the next launch records anew.
* JDK 17 dumps nothing while a directory with files in it is on the
  class path, and Spark's launcher puts the conf directory first. So
  the archive is used only when `SPARK_CONF_DIR` is unset and
  `$SPARK_HOME/conf` holds nothing but `*.template` files, which Spark
  never reads; the launch then names an empty directory in the cache
  as `SPARK_CONF_DIR`, and `os.environ` is restored after it.
  Otherwise, or when the cache cannot be used, the JVM starts as it
  would without an archive. A stale or mismatched archive the JVM
  refuses itself, with a one-line warning, and starts normally.
"""

from __future__ import annotations

import atexit
import fcntl
import glob
import hashlib
import os
import shutil
import subprocess
from dataclasses import dataclass

from py4j.protocol import Py4JError
from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

from dynaledger_spark.sources.parquet_io import PARQUET_CODEC

CODEGEN_CACHE_ENTRIES = 2000

# A dynamic archive's header starts with the magic 0xf00baba8. The JVM
# writes the header last, so a dump cut short starts with zeros.
CDS_MAGIC = (0xF00BABA8).to_bytes(4, "little")
# how long interpreter exit waits for a recording JVM's dump (~11 s seen)
CDS_DUMP_WAIT_S = 60
# Launcher class-path entries besides the conf directory and the jars. A
# dump cannot cover a directory with files in it, and a class path that
# differs from the recording's maps nothing: with any set, launch as
# without an archive.
_CLASS_PATH_ENV = (
    "HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_DIST_CLASSPATH", "SPARK_PREPEND_CLASSES"
)


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


@dataclass
class _ClassArchive:
    """The archive a launching `get_spark` maps (a hit) or records (a miss)."""

    key: str  # the archive's path less its `-<bytes>.jsa` suffix
    conf_dir: str  # the empty directory SPARK_CONF_DIR names while launching
    path: str  # a hit: the archive; a miss: where the JVM dumps at exit
    lock: int | None = None  # a miss: holds the key's recording lock

    @property
    def java_option(self) -> str:
        if self.lock is None:
            return f"-XX:SharedArchiveFile={self.path}"
        # cds=error: not a warning per class the dump skips (~660 lines)
        return f"-XX:ArchiveClassesAtExit={self.path} -Xlog:cds=error"


def _cache_dir() -> str:
    root = os.environ.get("XDG_CACHE_HOME") or os.path.expanduser("~/.cache")
    return os.path.join(root, "dynaledger_spark")


def cds_archive_key(spark_home: str) -> str:
    """The cache path of the archive of this java binary and Spark's jars,
    less its size suffix: a hash of the binary's real path, size and
    mtime and of each jar's name, size and mtime."""
    home = os.environ.get("JAVA_HOME")
    java = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if java is None:
        raise FileNotFoundError("java")
    jars = os.path.join(spark_home, "jars")
    paths = [os.path.realpath(java)] + sorted(os.path.join(jars, n) for n in os.listdir(jars))
    h = hashlib.sha256()
    for path in paths:
        st = os.stat(path)
        h.update(f"{path}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    return os.path.join(_cache_dir(), f"spark-{h.hexdigest()[:16]}")


def _header_written(path: str) -> bool:
    try:
        with open(path, "rb") as fh:
            return fh.read(4) == CDS_MAGIC
    except OSError:
        return False


def _find_archive(key: str) -> str | None:
    """The complete archive of `key`: its header written, and as many
    bytes as its name says. A file cut short after its header (a copy
    interrupted, say) is mapped as it is, and the JVM dies of SIGBUS on
    the first missing page."""
    for path in glob.glob(glob.escape(key) + "-*.jsa"):
        size = path[len(key) + 1 : -len(".jsa")]
        try:
            if size.isdigit() and os.path.getsize(path) == int(size) and _header_written(path):
                return path
        except OSError:
            pass
    return None


def _class_archive() -> _ClassArchive | None:
    """The archive for the JVM this process is about to launch, or None
    to launch without one: the class path is not one a dump covers, the
    cache is unusable, or another process is recording."""
    if "SPARK_CONF_DIR" in os.environ or any(map(os.environ.get, _CLASS_PATH_ENV)):
        return None
    spark_home = _find_spark_home()
    try:
        conf = os.listdir(os.path.join(spark_home, "conf"))
    except FileNotFoundError:
        conf = []
    # Spark reads no template; any other file keeps the directory
    if not all(n.endswith(".template") for n in conf):
        return None
    try:
        key = cds_archive_key(spark_home)
        conf_dir = os.path.join(os.path.dirname(key), "conf")
        os.makedirs(conf_dir, exist_ok=True)
        if os.listdir(conf_dir):
            return None
        if hit := _find_archive(key):
            return _ClassArchive(key, conf_dir, hit)
        lock = os.open(key + ".lock", os.O_RDWR | os.O_CREAT, 0o644)
    except OSError:
        return None
    try:
        # released by the kernel if this process dies, so a dead recorder
        # blocks no later one
        fcntl.flock(lock, fcntl.LOCK_EX | fcntl.LOCK_NB)
        if hit := _find_archive(key):  # promoted since the look above
            os.close(lock)
            return _ClassArchive(key, conf_dir, hit)
        for stale in glob.glob(glob.escape(key) + ".*.tmp"):
            os.remove(stale)
    except OSError:
        os.close(lock)
        return None
    return _ClassArchive(key, conf_dir, f"{key}.{os.getpid()}.tmp", lock)


def _finish_recording(archive: _ClassArchive) -> None:
    """At interpreter exit: let the recording JVM exit and dump, then
    promote a complete dump to its key's name and delete every other
    archive in the cache."""
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None and proc.poll() is None:
        if SparkContext._active_spark_context is not None:
            try:
                # and its accumulator server, which would print a traceback
                # when the JVM hangs up
                SparkContext._active_spark_context.stop()
            except Py4JError:
                pass
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=CDS_DUMP_WAIT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    try:
        if _header_written(archive.path):
            done = f"{archive.key}-{os.path.getsize(archive.path)}.jsa"
            os.replace(archive.path, done)
            for other in glob.glob(os.path.join(os.path.dirname(done), "spark-*.jsa")):
                if other != done:
                    os.remove(other)
        elif os.path.exists(archive.path):
            os.remove(archive.path)
    except OSError:
        pass
    finally:
        os.close(archive.lock)


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
    archive = None
    if SparkContext._gateway is None and "PYSPARK_GATEWAY_PORT" not in os.environ:
        # this call launches the JVM
        archive = _class_archive()
    if archive:
        builder = builder.config("spark.driver.defaultJavaOptions", archive.java_option)
        os.environ["SPARK_CONF_DIR"] = archive.conf_dir
        if archive.lock is not None:
            atexit.register(_finish_recording, archive)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    try:
        spark = builder.getOrCreate()
    finally:
        if archive:
            del os.environ["SPARK_CONF_DIR"]
    spark.sparkContext.setLogLevel("WARN")
    return spark
