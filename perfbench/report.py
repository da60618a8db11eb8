"""Turn a run's raw measurements into the benchmark's result line.

End-to-end metrics (``--trace 0``), the same names on every workload.
The ones that price work are processor time (user + system, of the
program's process tree: the Python driver, its JVM and any Python
workers), not wall time: on a shared host, wall time follows how much
processor time the host lends the machine, which moved the medians of
wall-time latencies by more than a quarter between sets of runs of the
same code.

* ``cold_start_cpu_s`` — processor seconds of the run's first set-up, in
  a fresh process: JVM boot, SparkSession and warm-up job, and where
  served engine registration and HTTP server start;
* ``setup_s`` — median processor seconds of the warm set-ups that follow
  it in the same JVM: a session restart and warm-up job (backfill), or
  engine registration over the built store and HTTP server start
  (serving);
* ``peak_rss_mb`` — peak resident memory of the program's process tree,
  from ``VmHWM``;
* ``read_cpu_ms`` — processor milliseconds per read: per statement pull
  (serving: the server's processor time over the load, which serves a
  fixed mix, divided by the completed pulls), or per dashboard refresh (the three recurring reads) after each
  append (backfill). The backfill's quarters differ in size on purpose,
  so its refreshes fall into one group per quarter; its value is the
  mean of the per-quarter medians;
* ``ingest_cpu_s`` — processor seconds to append the run's quarters
  through the pipelines: RAW, fact-table, bucketed and JSON plus the
  checks (backfill, refreshes left out), or RAW, fact-table and JSON for
  the store the server reads (serving);
* ``store_bytes_per_tsv_byte`` — bytes the pipelines wrote per input TSV byte.

Per-layer metrics (``--trace 1``) are named ``<module>.<what>`` after the
engine module whose public calls were timed; a workload that never calls
into a module reports 0 for it. ``trace.overhead_pct`` is the tracer's
own measured time (span bookkeeping plus the Spark calls made only for
tracing, see ``spans.py``) as a share of the traced work: the run's wall
time for the backfill, the summed request latencies when served.
``trace.read_cpu_ms`` is the traced run's ``read_cpu_ms``, for a
comparison with an untraced run of the same seed; ``trace.latency_p50_ms``
and ``trace.latency_p90_ms`` are the wall-time latencies of the reads
(per pull at the client, or per refresh).
"""

from __future__ import annotations

import os
import statistics
import sys
from decimal import Decimal

from spans import adopt, load_spans, self_times

E2E_UNITS = {
    "cold_start_cpu_s": "s",
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "read_cpu_ms": "ms",
    "ingest_cpu_s": "s",
    "store_bytes_per_tsv_byte": "B/B",
}

LAYERS = ("generator", "sources", "operators", "functions", "api", "http")
PER_LAYER_UNITS = {
    "session.start_s": "s",
    "session.warmup_s": "s",
    "sources.extract_zip_s": "s",
    "sources.tsv_to_parquet_s": "s",
    "sources.tsv_scan_tasks": "count",
    "sources.rows_in": "count",
    "sources.write_documents_s": "s",
    "operators.append_facts_s": "s",
    "operators.append_bucketed_s": "s",
    "operators.assemble_documents_s": "s",
    "operators.fact_rows_per_num_row": "ratio",
    "operators.statement_facts_ms": "ms",
    "operators.bucketed_join_ms": "ms",
    "operators.latest_quarter_ms": "ms",
    "functions.sec_checks_s": "s",
    "functions.sanitize_collect_ms": "ms",
    "api.plan_ms": "ms",
    "api.get_financial_data_ms.raw": "ms",
    "api.get_financial_data_ms.fact": "ms",
    "api.get_financial_data_ms.json": "ms",
    "api.rows_per_pull": "count",
    "api.execute_custom_query_ms": "ms",
    "api.table_info_ms": "ms",
    "api.check_availability_ms": "ms",
    "http.encode_ms": "ms",
    "http.response_bytes.get-financial-data": "B",
    "http.overhead_ms.pull": "ms",
    "catalog.sql_analyze_ms": "ms",
    "catalog.spark_jobs_per_request": "count",
    "generator.large_quarter_s": "s",
    "generator.small_quarter_s": "s",
    **{f"{layer}.self_s": "s" for layer in LAYERS},
    "trace.wall_s": "s",
    "trace.overhead_pct": "%",
    "trace.read_cpu_ms": "ms",
    "trace.latency_p50_ms": "ms",
    "trace.latency_p90_ms": "ms",
}

# span name -> per-layer metric that totals its seconds
_SPAN_TOTALS = {
    "sources.extract_zip": "sources.extract_zip_s",
    "sources.tsv_to_parquet": "sources.tsv_to_parquet_s",
    "sources.write_documents": "sources.write_documents_s",
    "operators.append_facts": "operators.append_facts_s",
    "operators.append_bucketed": "operators.append_bucketed_s",
    "operators.assemble_documents": "operators.assemble_documents_s",
    "functions.sec_checks": "functions.sec_checks_s",
}
# span name -> per-layer metric that takes its median duration in ms
_SPAN_MEDIANS = {
    "operators.statement_facts": "operators.statement_facts_ms",
    "operators.bucketed_join": "operators.bucketed_join_ms",
    "operators.latest_quarter": "operators.latest_quarter_ms",
}


def percentile(values: list[float], q: int) -> float:
    """The q-th percentile (of 100), interpolated between samples."""
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1] if len(values) > 1 else values[0]


def result(correct: bool, attempted: int, failed: int, metrics: dict, units: dict) -> dict:
    return {
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(metrics.get(k, 0.0)), "unit": u} for k, u in units.items()},
    }


def trace_metrics(spans, counts: dict, roots: list[str]) -> dict:
    """Span-derived per-layer metrics; ``roots`` name the generator's
    top-level spans, whose total duration is the traced wall time."""
    out: dict = {}
    for span in spans:
        if span.name in _SPAN_TOTALS:
            key = _SPAN_TOTALS[span.name]
            out[key] = out.get(key, 0.0) + span.end - span.start
    for name, key in _SPAN_MEDIANS.items():
        ds = [(s.end - s.start) * 1e3 for s in spans if s.name == name]
        if ds:
            out[key] = statistics.median(ds)
    for name in ("session.start_s", "session.warmup_s"):
        if counts.get(name):
            out[name] = counts[name][0]  # the cold start
    if counts.get("sources.tsv_scan_tasks"):
        out["sources.tsv_scan_tasks"] = statistics.median(counts["sources.tsv_scan_tasks"])
    by_id = {s.id: s for s in spans}
    measured = [s for s in spans if s.layer in LAYERS and _under(s, by_id, roots)]
    for layer, secs in self_times(measured).items():
        out[f"{layer}.self_s"] = secs
    wall = sum(s.end - s.start for s in spans if s.name in roots)
    out["trace.wall_s"] = wall
    cost = sum(s.cost for s in spans if _under(s, by_id, roots))
    out["trace.overhead_pct"] = 100.0 * cost / wall if wall else 0.0
    return out


def _under(span, by_id: dict, roots: list[str]) -> bool:
    """Whether ``span`` is a root or descends from one."""
    while span is not None:
        if span.name in roots:
            return True
        span = by_id.get(span.parent)
    return False


# ---------------------------------------------------------------- backfill
def compare_backfill(quarter: str, want: dict, got: dict) -> list[str]:
    """Differences between DuckDB's recomputation of one quarter and what
    the engine wrote and read back."""
    reads = got["reads"].get(quarter, {})
    stmt = reads.get("stmt")
    pairs = [
        ("rows", want["rows"], got["rows"].get(quarter)),
        ("null values", want["null_values"], got["null_values"].get(quarter, 0)),
        ("facts (rows, exact total) per statement", want["facts"], got["facts"].get(quarter)),
        ("documents", want["docs"], got["docs"].get(quarter)),
        ("symbols after merge", want["symbols"], got["symbols"].get(quarter)),
        ("latest quarter read", quarter, reads.get("latest")),
        (f"statement_facts {stmt}", want["facts"].get(stmt, [0])[0], reads.get("facts")),
        (f"bucketed_statement_join {stmt}", want["raw_join"].get(stmt, 0), reads.get("raw")),
    ]
    return [f"{quarter}: {what}: engine {g!r}, oracle {w!r}" for what, w, g in pairs if _norm(w) != _norm(g)]


def compare_checks(wants: list[dict], got: dict) -> list[str]:
    """The check counts the oracle knows, summed over the quarters."""
    return [
        f"check {rule}: engine {got['checks'].get(rule)!r}, oracle {n!r}"
        for rule in wants[0]["checks"]
        if (n := sum(w["checks"][rule] for w in wants)) != got["checks"].get(rule)
    ]


def _norm(v):
    if isinstance(v, dict):
        return {k: _norm(x) for k, x in v.items()}
    if isinstance(v, (list, tuple)):
        return [_norm(x) for x in v]
    if isinstance(v, str):
        try:
            return Decimal(v).normalize()
        except ArithmeticError:
            return v
    return v


def backfill_result(args, done: dict, files, mismatches: list[str]) -> dict:
    tsv_bytes = sum(f.tsv_bytes for f in files)
    refresh = [ms for per_quarter in done["refresh_ms"] for ms in per_quarter]
    refresh_p50 = statistics.fmean(statistics.median(q) for q in done["refresh_ms"])
    read_cpu_ms = statistics.fmean(statistics.median(q) for q in done["refresh_cpu_ms"])
    attempted = len(done["quarter_s"]) + len(refresh)
    failed = min(attempted, len(mismatches))
    for m in mismatches:
        print("perfbench: mismatch:", m, file=sys.stderr)
    if not args.trace:
        metrics = {
            "cold_start_cpu_s": done["cold_start_cpu_s"],
            "setup_s": statistics.median(done["setup_s"]),
            "peak_rss_mb": done["peak_rss_mb"],
            "read_cpu_ms": read_cpu_ms,
            "ingest_cpu_s": done["ingest_cpu_s"],
            "store_bytes_per_tsv_byte": done["store_bytes"] / tsv_bytes,
        }
        return result(not mismatches, attempted, failed, metrics, E2E_UNITS)
    spans = load_spans(done["trace"]["spans"])
    metrics = trace_metrics(spans, done["trace"]["counts"], ["generator.backfill"])
    v = done["verify"]
    num_rows = sum(r["sec_num"] for r in v["rows"].values())
    metrics["sources.rows_in"] = sum(sum(r.values()) for r in v["rows"].values())
    metrics["operators.fact_rows_per_num_row"] = (
        sum(n for q in v["facts"].values() for n, _ in q.values()) / num_rows
    )
    metrics["generator.large_quarter_s"], metrics["generator.small_quarter_s"] = done["quarter_s"]
    metrics["trace.read_cpu_ms"] = read_cpu_ms
    metrics["trace.latency_p50_ms"] = refresh_p50
    metrics["trace.latency_p90_ms"] = percentile(refresh, 90)
    out = result(not mismatches, attempted, failed, metrics, PER_LAYER_UNITS)
    out["spans"] = [s.__dict__ for s in spans]
    return out


# ----------------------------------------------------------------- serving
def serving_result(args, ready: dict, done: dict, load, files) -> dict:
    tsv_bytes = sum(f.tsv_bytes for f in files)
    for m in load.mismatches[:20]:
        print("perfbench: mismatch:", m, file=sys.stderr)
    correct = not load.mismatches and load.attempted > 0
    read_cpu_ms = load.server_cpu_s * 1e3 / max(1, load.attempted - load.failed)
    if not args.trace:
        metrics = {
            "cold_start_cpu_s": ready["cold_start_cpu_s"],
            "setup_s": statistics.median(ready["setup_s"]),
            "peak_rss_mb": done["peak_rss_mb"],
            "read_cpu_ms": read_cpu_ms,
            "ingest_cpu_s": ready["ingest_cpu_s"],
            "store_bytes_per_tsv_byte": ready["store_bytes"] / tsv_bytes,
        }
        return result(correct, load.attempted, load.failed, metrics, E2E_UNITS)

    client = load.tracer.spans
    offset = max((s.id for s in client), default=0) + 1
    server = load_spans(done["load_spans"])
    for s in server:
        s.id += offset
    https = [s for s in client if s.layer == "http"]
    adopt(https, server, lambda p, c: c.name == "api.get_financial_data")
    spans = client + server
    build = load_spans(done["trace"]["spans"])
    for s in build:  # the server's ids, moved clear of the client's
        s.id += offset
        s.parent = s.parent and s.parent + offset
    metrics = trace_metrics(spans, done["trace"]["counts"], ["generator.client"])
    for key, value in trace_metrics(build, {}, ["generator.store_build"]).items():
        if key.startswith(("sources.", "operators.")) and not key.endswith(".self_s"):
            metrics[key] = value
    metrics.update(done["probes"])
    metrics["http.response_bytes.get-financial-data"] = statistics.median(load.reply_bytes)
    overhead = []
    for s in https:
        kids = [c for c in server if c.parent == s.id]
        overhead.append((s.end - s.start - sum(c.end - c.start for c in kids)) * 1e3)
    metrics["http.overhead_ms.pull"] = statistics.median(overhead)
    metrics["trace.read_cpu_ms"] = read_cpu_ms
    metrics["trace.latency_p50_ms"] = percentile(load.latencies_ms, 50)
    metrics["trace.latency_p90_ms"] = percentile(load.latencies_ms, 90)
    metrics["sources.rows_in"] = sum(_tsv_rows(f.tsv_dir) for f in files)
    out = result(correct, load.attempted, load.failed, metrics, PER_LAYER_UNITS)
    out["spans"] = [s.__dict__ for s in build + spans]
    return out


def _tsv_rows(tsv_dir: str) -> int:
    total = 0
    for name in ("sub.txt", "pre.txt", "tag.txt", "num.txt"):
        with open(os.path.join(tsv_dir, name), "rb") as fh:
            total += sum(1 for _ in fh) - 1
    return total
