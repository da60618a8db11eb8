"""Pinned, isolated environment for the program under test.

Everything the engine writes (parquet stores, the bucketed tables'
warehouse, Spark scratch space, JVM and Python temp files) lives in one
per-run directory inside the checkout, removed when the run ends. Spark
is pinned to the machine rather than to the engine's defaults, which
assume a 32-core box with 48 GB of driver heap.
"""

from __future__ import annotations

import os
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def driver_mem() -> str:
    """A quarter of physical memory, at least 1g and at most 2g: the
    workloads' quarters are small, and a smaller heap is faster to commit
    at start."""
    with open("/proc/meminfo") as fh:
        kb = next(int(line.split()[1]) for line in fh if line.startswith("MemTotal:"))
    return f"{max(1, min(2, kb // (4 * 1024 * 1024)))}g"


def program_env(run_dir: str) -> dict[str, str]:
    """Environment for the program's process (and, through it, Spark's
    JVM and Python workers)."""
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    env = dict(os.environ)
    path = [ROOT] + [p for p in env.get("PYTHONPATH", "").split(os.pathsep) if p]
    env.update(
        SPARK_GRAFT_CPUS=str(cpus()),
        SPARK_GRAFT_DRIVER_MEM=driver_mem(),
        SPARK_LOCAL_DIRS=local,
        PYTHONPATH=os.pathsep.join(path),
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        TMPDIR=tmp,
        PYTHONHASHSEED="0",
    )
    return env


def start_spark(run_dir: str):
    """The engine's own session factory, with progress bars off and all
    on-disk state under ``run_dir``. Returns (spark, seconds).

    The JVM commits and touches its whole heap at start, so that its
    resident size does not follow the collector's heap-growth decisions,
    which differ from run to run; heap pressure shows as collection time
    in the timings instead."""
    from dynaledger_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(
        "perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
            "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']} "
            f"-Xms{os.environ['SPARK_GRAFT_DRIVER_MEM']} -XX:+AlwaysPreTouch "
            # compiler threads live as long as the JVM, so that tree_cpu_s
            # can leave out all of their time
            "-XX:-UseDynamicNumberOfCompilerThreads",
        },
    )
    return spark, time.perf_counter() - t0


def stop_spark(spark) -> None:
    """Stop the session and its JVM, and wait until the JVM has exited."""
    from pyspark import SparkContext

    jvm = SparkContext._gateway.proc
    spark.stop()
    jvm.stdin.close()  # the gateway exits when its stdin closes
    try:
        jvm.wait(timeout=60)
    except subprocess.TimeoutExpired:
        jvm.kill()
        jvm.wait()


def warm_up(spark) -> float:
    """One small shuffle job so JIT and task launch are paid before timing."""
    t0 = time.perf_counter()
    spark.range(200_000).selectExpr("id % 97 AS k").groupBy("k").count().collect()
    return time.perf_counter() - t0


def _children(pid: int) -> list[int]:
    out = []
    for task in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{task}/children") as fh:
                out += [int(c) for c in fh.read().split()]
        except OSError:
            pass
    return out


def _tree(pid: int) -> list[int]:
    """``pid`` and all its descendants."""
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        try:
            todo += _children(p)
        except OSError:
            pass
    return out


def _stat(path: str) -> tuple[str, list[str]]:
    """The command name and the fields after it of a ``stat`` file."""
    with open(path) as fh:
        head, rest = fh.read().rsplit(")", 1)
    return head.split("(", 1)[1], rest.split()


def tree_cpu_s(pid: int | None = None) -> float:
    """User plus system processor seconds used so far by process ``pid``
    (this one by default), its descendants (the JVM and any Python
    workers), and reaped children, less what the JVM's just-in-time
    compiler threads used: how much compiling a phase triggers depends on
    how warm the JVM happens to be, not on the program's work. Unlike wall
    time, this does not grow when the host takes processor time away from
    the machine."""
    ticks = 0
    for p in _tree(pid or os.getpid()):
        try:
            _, fields = _stat(f"/proc/{p}/stat")
            ticks += sum(int(f) for f in fields[11:15])  # utime stime cutime cstime
            for task in os.listdir(f"/proc/{p}/task"):
                name, fields = _stat(f"/proc/{p}/task/{task}/stat")
                if name.startswith(("C1 CompilerThre", "C2 CompilerThre")):
                    ticks -= int(fields[11]) + int(fields[12])
        except OSError:
            continue
    return ticks / os.sysconf("SC_CLK_TCK")


def tree_peak_rss_mb() -> float:
    """Sum of ``VmHWM`` (peak resident set) over this process and all its
    descendants — the Python driver and its JVM."""
    total_kb = 0
    for p in _tree(os.getpid()):
        try:
            with open(f"/proc/{p}/status") as fh:
                total_kb += next(
                    (int(line.split()[1]) for line in fh if line.startswith("VmHWM:")), 0
                )
        except OSError:
            continue
    return total_kb / 1024.0
