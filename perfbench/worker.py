"""The program's side of a benchmark run, in its own process.

``run.py`` starts this process with the pinned environment (``env.py``)
and one JSON argument describing the run. The process drives the engine
only through its public functions and reports back on stdout, one JSON
object per line prefixed with ``@@`` (Spark logs to stderr):

* ``quarter_backfill``: set up, append every quarter through the three
  pipelines with dashboard refreshes after each, run the checks, then
  collect the counts the oracle checks and report once.
* ``statement_pull``: set up (session, store build, engine registration,
  HTTP server), report ``ready`` with the port, serve until a line
  arrives on stdin, then (traced runs) time the per-layer probes and
  report once.

Every run sets up once cold (the JVM boots; serving also builds its
store) and then ``SETUP_REPEATS`` times warm: the backfill restarts the
SparkSession in the same JVM, and serving registers the engine over the
built store again and restarts the HTTP server.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

import env
import pipeline
from spans import Tracer

from pyspark.sql import functions as F

from dynaledger_spark import catalog
from dynaledger_spark.api import SecEngine
from dynaledger_spark.functions.sanitize import sanitize_floats
from dynaledger_spark.http_service import SecHttpService
from dynaledger_spark.operators import backfill, documents
from dynaledger_spark.sources.tsv import ROW_ID

SETUP_REPEATS = 3
REFRESHES = 4  # dashboard refreshes after each append
PROBE_REPEATS = 5
FACT_NAMES = {"BS": "BALANCE_SHEET", "IS": "INCOME_STATEMENT", "CF": "CASH_FLOW"}


def emit(obj: dict) -> None:
    sys.stdout.write("@@" + json.dumps(obj) + "\n")
    sys.stdout.flush()


def dir_bytes(*roots: str) -> int:
    total = 0
    for root in roots:
        for dirpath, _, files in os.walk(root):
            total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total


class Session:
    """The SparkSession, restartable in the same JVM so that set-up can be
    repeated within one run. The first start also boots the JVM (the cold
    start); later starts stop the SparkContext and make a new one."""

    def __init__(self, run_dir: str, tr: Tracer):
        self.run_dir, self.tr, self.spark = run_dir, tr, None

    def start(self) -> None:
        if self.spark is not None:
            self.spark.stop()
        self.spark, start_s = env.start_spark(self.run_dir)
        warm_s = env.warm_up(self.spark)
        self.tr.count("session.start_s", start_s)
        self.tr.count("session.warmup_s", warm_s)

    def set_up(self, repeat, restart: bool) -> tuple[float, list[float]]:
        """The cold set-up, then ``SETUP_REPEATS`` warm ones; ``repeat``
        runs the work of a set-up after the session start, and warm
        set-ups restart the session first if ``restart``. Returns the
        processor seconds of the cold set-up and of each warm one.
        ``repeat`` returns the processor seconds of any part of its cold
        work that is not set-up (the serving store's build), to be left
        out."""
        cpu0 = env.tree_cpu_s()
        self.start()
        not_set_up = repeat(True)
        cold = env.tree_cpu_s() - cpu0 - not_set_up
        warm = []
        for _ in range(SETUP_REPEATS):
            cpu1 = env.tree_cpu_s()
            if restart:
                self.start()
            repeat(False)
            warm.append(env.tree_cpu_s() - cpu1)
        return cold, warm


# ---------------------------------------------------------------- backfill
def append_quarter(spark, tr: Tracer, stores: pipeline.Stores, q: dict, run_dir: str) -> dict:
    """One quarter through the RAW, fact-table and JSON pipelines."""
    typed = pipeline.append_raw(spark, tr, stores, q["quarter"], q["zip"], run_dir)
    pipeline.append_facts(tr, stores, q["quarter"], typed)
    pipeline.append_bucketed(tr, stores, typed)
    pipeline.append_json(spark, tr, stores, q["quarter"], typed, q["ticker"])
    return typed


def run_backfill(cfg: dict, tr: Tracer) -> None:
    run_dir = cfg["run_dir"]
    session = Session(run_dir, tr)
    cold_cpu_s, setups = session.set_up(lambda cold: 0.0, restart=True)
    spark = session.spark
    stores = pipeline.Stores(os.path.join(run_dir, "store"))

    quarter_s, refresh_ms, refresh_cpu_ms, read_counts = [], [], [], {}
    cpu_all = env.tree_cpu_s()
    with tr.span("generator.backfill"):
        for i, q in enumerate(cfg["quarters"]):
            t0 = time.perf_counter()
            append_quarter(spark, tr, stores, q, run_dir)
            stmt = pipeline.STMTS[i % len(pipeline.STMTS)]
            refresh_ms.append([])
            refresh_cpu_ms.append([])
            for _ in range(REFRESHES):
                t1, cpu1 = time.perf_counter(), env.tree_cpu_s()
                counts = pipeline.recurring_reads(spark, tr, stores, q["quarter"], stmt)
                refresh_ms[-1].append((time.perf_counter() - t1) * 1e3)
                refresh_cpu_ms[-1].append((env.tree_cpu_s() - cpu1) * 1e3)
            read_counts[q["quarter"]] = {"stmt": stmt, **counts}
            quarter_s.append(time.perf_counter() - t0)
        checks = pipeline.run_checks(tr, stores.typed_tables(spark))
    refresh_cpu_s = sum(ms for per_quarter in refresh_cpu_ms for ms in per_quarter) / 1e3
    ingest_cpu_s = env.tree_cpu_s() - cpu_all - refresh_cpu_s

    warehouse = os.path.join(cfg["run_dir"], "warehouse")
    store_bytes = dir_bytes(stores.root, warehouse)
    emit(
        {
            "event": "done",
            "cold_start_cpu_s": cold_cpu_s,
            "setup_s": setups,
            "quarter_s": quarter_s,
            "refresh_ms": refresh_ms,
            "refresh_cpu_ms": refresh_cpu_ms,
            "ingest_cpu_s": ingest_cpu_s,
            "store_bytes": store_bytes,
            "peak_rss_mb": env.tree_peak_rss_mb(),
            "verify": backfill_counts(spark, stores, cfg, checks, read_counts),
            "trace": tr.dump(),
        }
    )
    env.stop_spark(spark)


def backfill_counts(spark, stores, cfg, checks, read_counts) -> dict:
    """What the engine wrote, for the oracle. Outside the timed region."""
    out: dict = {"rows": {}, "null_values": {}, "facts": {}, "docs": {}, "symbols": {}}
    for table in pipeline.TABLES:
        for r in spark.read.parquet(os.path.join(stores.typed, table)).groupBy("source_file").count().collect():
            out["rows"].setdefault(r["source_file"], {})[table] = r["count"]
    num = spark.read.parquet(os.path.join(stores.typed, "sec_num"))
    for r in num.where(F.col("value").isNull()).groupBy("source_file").count().collect():
        out["null_values"][r["source_file"]] = r["count"]
    facts = backfill.read_facts(spark, stores.facts)
    for r in facts.groupBy("source_file", "statement_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("total_value").cast("decimal(38,6)")).alias("total"),
    ).collect():
        out["facts"].setdefault(r["source_file"], {})[r["statement_type"]] = [r["n"], str(r["total"])]
    for q in cfg["quarters"]:
        quarter = q["quarter"]
        out["docs"][quarter] = spark.read.json(stores.docs(quarter)).count()
        out["symbols"][quarter] = spark.read.parquet(stores.doc_table(quarter)).count()
    out["checks"] = checks
    out["reads"] = read_counts
    return out


# ----------------------------------------------------------------- serving
class TracedEngine(SecEngine):
    """SecEngine whose served call records a span; handler threads call
    it, so the spans sit inside the client's HTTP spans."""

    tracer: Tracer | None = None

    def get_financial_data(self, year, quarter, data_type, source):
        with self.tracer.span("api.get_financial_data"):
            return super().get_financial_data(year, quarter, data_type, source)


def build_store(spark, tr: Tracer, cfg: dict) -> pipeline.Stores:
    """RAW, fact and JSON pipelines for every quarter of the serving store."""
    stores = pipeline.Stores(os.path.join(cfg["run_dir"], "store"))
    with tr.span("generator.store_build"):
        for q in cfg["quarters"]:
            typed = pipeline.append_raw(spark, tr, stores, q["quarter"], q["zip"], cfg["run_dir"])
            pipeline.append_facts(tr, stores, q["quarter"], typed)
            pipeline.append_json(spark, tr, stores, q["quarter"], typed, q["ticker"])
    return stores


def register(spark, stores: pipeline.Stores, quarters: list[str], tr: Tracer) -> SecEngine:
    """A SecEngine over the store: RAW tables with their ``source_file``
    partition, per-quarter fact tables, document tables and flatten views.
    Traced runs get a TracedEngine."""
    eng = SecEngine(spark)
    if tr.enabled:
        eng = TracedEngine(spark)
        eng.tracer = tr
    for table in pipeline.TABLES:
        eng.register(table, spark.read.parquet(os.path.join(stores.typed, table)).drop(ROW_ID))
    for quarter in quarters:
        for code, name in FACT_NAMES.items():
            eng.register(f"{name}_{quarter}", backfill.statement_facts(spark, stores.facts, quarter, code))
        table = spark.read.parquet(stores.doc_table(quarter))
        eng.register(f"sec_data_{quarter}", table)
        year, qn = quarter[:4], quarter[-1]
        for stem, view in documents.register_flatten_views(spark, table, year, f"Q{qn}").items():
            eng.tables[f"view_{stem}_{year}_Q{qn}"] = view
    return eng


def _median_ms(fn, repeats: int = PROBE_REPEATS) -> tuple[float, object]:
    times, out = [], None
    for _ in range(repeats):
        t0 = time.perf_counter()
        out = fn()
        times.append((time.perf_counter() - t0) * 1e3)
    return statistics.median(times), out


def probes(spark, eng: SecEngine, cfg: dict) -> dict[str, float]:
    """Direct calls into single modules, timed from outside, in the
    server process after the load has stopped."""
    hot = cfg["quarters"][-1]["quarter"]
    year, qn = int(hot[:4]), hot[-1]
    out: dict[str, float] = {}
    out["api.plan_ms"], df = _median_ms(
        lambda: eng.financial_data_frame(year, qn, "Balance Sheet", "RAW")
    )
    out["functions.sanitize_collect_ms"], _ = _median_ms(lambda: sanitize_floats(df).collect())
    rows = []
    for key, source in (("raw", "RAW"), ("fact", "FACT TABLES"), ("json", "JSON")):
        ms, payload = _median_ms(lambda: eng.get_financial_data(year, qn, "Balance Sheet", source))
        out[f"api.get_financial_data_ms.{key}"] = ms
        rows.append(len(payload["data"]))
        if key == "raw":
            out["http.encode_ms"], _ = _median_ms(lambda: json.dumps(payload, default=str))
    out["api.rows_per_pull"] = statistics.median(rows)

    sc = spark.sparkContext
    analyze, execute, jobs = [], [], []
    for i, query in enumerate(cfg["probe_sql"]):
        analyze.append(_median_ms(lambda: catalog.sql(spark, query))[0])
        sc.setJobGroup(f"probe_sql_{i}", "probe")
        execute.append(_median_ms(lambda: eng.execute_custom_query(query), repeats=1)[0])
        sc.setLocalProperty("spark.jobGroup.id", None)
        jobs.append(len(sc.statusTracker().getJobIdsForGroup(f"probe_sql_{i}")))
    out["catalog.sql_analyze_ms"] = statistics.median(analyze)
    out["api.execute_custom_query_ms"] = statistics.median(execute)
    out["catalog.spark_jobs_per_request"] = statistics.median(jobs)
    out["api.table_info_ms"], _ = _median_ms(lambda: eng.table_info([f"BALANCE_SHEET_{hot}"]))
    out["api.check_availability_ms"], _ = _median_ms(lambda: eng.check_availability(year, qn))
    return out


def run_server(cfg: dict, tr: Tracer) -> None:
    session = Session(cfg["run_dir"], tr)
    quarters = [q["quarter"] for q in cfg["quarters"]]
    state: dict = {}

    def serve(cold: bool) -> float:
        build_cpu_s = 0.0
        if cold:
            cpu0 = env.tree_cpu_s()
            state["stores"] = build_store(session.spark, tr, cfg)
            build_cpu_s = state["ingest_cpu_s"] = env.tree_cpu_s() - cpu0
        else:
            state["svc"].stop()
        state["eng"] = register(session.spark, state["stores"], quarters, tr)
        state["svc"] = SecHttpService(state["eng"]).start()
        return build_cpu_s

    cold_cpu_s, setups = session.set_up(serve, restart=False)
    stores, eng, svc = state["stores"], state["eng"], state["svc"]
    load_spans_from = len(tr.spans)
    emit(
        {
            "event": "ready",
            "port": svc.port,
            "cold_start_cpu_s": cold_cpu_s,
            "setup_s": setups,
            "ingest_cpu_s": state["ingest_cpu_s"],
            "store_bytes": dir_bytes(stores.root),
            "store": stores.root,
        }
    )
    sys.stdin.readline()  # the load generator is done
    svc.stop()
    result = {"event": "done", "peak_rss_mb": env.tree_peak_rss_mb()}
    if tr.enabled:
        result["load_spans"] = [s.__dict__ for s in tr.spans[load_spans_from:]]
        del tr.spans[load_spans_from:]
        result["probes"] = probes(session.spark, eng, cfg)
        result["trace"] = tr.dump()
    emit(result)
    env.stop_spark(session.spark)


def main() -> None:
    cfg = json.loads(sys.argv[1])
    tr = Tracer(cfg["trace"])
    if cfg["workload"] == "quarter_backfill":
        run_backfill(cfg, tr)
    else:
        run_server(cfg, tr)


if __name__ == "__main__":
    main()
