"""DynaLedger benchmark: one workload per run, one JSON result line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Workloads (see BENCHMARK.json):

* ``quarter_backfill`` — seeded SEC quarter ZIPs, one large and one
  small, appended one after another (a closed loop of one) through the
  RAW, fact-table and JSON pipelines plus the data-quality checks, with
  the dashboard's recurring reads after each append.
* ``statement_pull`` — one closed-loop client pulling whole statements
  over HTTP (``GET /get-financial-data``), skewed to a hot latest quarter.

The program runs in its own process (``worker.py``); this process makes
the inputs from ``--seed``, generates the load, and checks every output
against DuckDB (``oracle.py``) outside the timed region. With
``--trace 0`` the metrics are the end-to-end ones, with ``--trace 1`` the
per-layer ones (``report.py``), and the run's spans are written to
``.perfbench_run/trace-<workload>-<seed>.json``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import queue
import shutil
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# (quarter, num rows); the large quarter first, so that its per-row cost
# shows against the small one's fixed per-quarter cost
BACKFILL_QUARTERS = (("2024Q1", 24_000), ("2024Q2", 3_000))
# the last quarter is the hot one
SERVING_QUARTERS = (("2024Q3", 3_000), ("2024Q4", 8_000))
WORKER_TIMEOUT_S = 150


class Worker:
    """The program's process: started with the pinned environment, read
    through ``@@``-prefixed JSON lines on its stdout."""

    def __init__(self, cfg: dict, run_dir: str):
        import env

        self.log_path = os.path.join(run_dir, "worker.log")
        self._log = open(self.log_path, "wb")
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "worker.py"), json.dumps(cfg)],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, stderr=self._log,
            env=env.program_env(run_dir), cwd=run_dir, text=True,
        )
        self._events: queue.Queue = queue.Queue()
        self._reader = threading.Thread(target=self._read, daemon=True)
        self._reader.start()

    def _read(self) -> None:
        for line in self.proc.stdout:
            if line.startswith("@@"):
                self._events.put(json.loads(line[2:]))
        self._events.put(None)

    def event(self, timeout: float = WORKER_TIMEOUT_S) -> dict:
        try:
            ev = self._events.get(timeout=timeout)
        except queue.Empty:
            ev = None
        if ev is None:
            raise RuntimeError(f"worker gave no result; log tail:\n{self.log_tail()}")
        return ev

    def send(self, line: str) -> None:
        self.proc.stdin.write(line + "\n")
        self.proc.stdin.flush()

    def log_tail(self, n: int = 4000) -> str:
        with open(self.log_path, "rb") as fh:
            return fh.read()[-n:].decode(errors="replace")

    def close(self) -> None:
        if self.proc.poll() is None:
            self.proc.stdin.close()  # a serving worker waits for this line
        try:
            self.proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            self.proc.kill()
            self.proc.wait()
        self._reader.join(timeout=5)
        self._log.close()


def make_inputs(seed: int, quarters, run_dir: str):
    import secgen

    files = [
        secgen.write_quarter(seed, secgen.QuarterSpec(q, n), run_dir) for q, n in quarters
    ]
    # determinism: the smallest quarter rebuilt from the seed hashes the same
    smallest = min(quarters, key=lambda qn: qn[1])
    f = next(f for f in files if f.quarter == smallest[0])
    with open(f.zip_path, "rb") as z, open(f.ticker_path, "rb") as t:
        written = hashlib.sha256(z.read() + t.read()).hexdigest()
    deterministic = written == secgen.zip_digest(seed, secgen.QuarterSpec(*smallest))
    return files, deterministic


def worker_cfg(args, run_dir: str, files, **extra) -> dict:
    return {
        "workload": args.workload,
        "trace": bool(args.trace),
        "run_dir": run_dir,
        "quarters": [
            {"quarter": f.quarter, "zip": f.zip_path, "ticker": f.ticker_path} for f in files
        ],
        **extra,
    }


def run_backfill(args, run_dir: str) -> dict:
    import oracle
    import report

    files, deterministic = make_inputs(args.seed, BACKFILL_QUARTERS, run_dir)
    worker = Worker(worker_cfg(args, run_dir, files), run_dir)
    try:
        done = worker.event()
    finally:
        worker.close()
    mismatches = [] if deterministic else ["generator: same seed gave a different ZIP"]
    wants = [oracle.tsv_expectations(f.tsv_dir, f.ticker_path) for f in files]
    for f, want in zip(files, wants):
        mismatches += report.compare_backfill(f.quarter, want, done["verify"])
    mismatches += report.compare_checks(wants, done["verify"])
    return report.backfill_result(args, done, files, mismatches)


def run_serving(args, run_dir: str) -> dict:
    import env
    import loadgen
    import oracle
    import report
    import secgen

    files, deterministic = make_inputs(args.seed, SERVING_QUARTERS, run_dir)
    quarters = [f.quarter for f in files]
    pool = loadgen.RequestPool(args.seed, [secgen.QuarterSpec(q, n) for q, n in SERVING_QUARTERS])
    worker = Worker(worker_cfg(args, run_dir, files, probe_sql=pool.probe_sql()), run_dir)
    try:
        ready = worker.event()
        store = oracle.StoreOracle(ready["store"], quarters)
        try:
            pool.expect(store)
        finally:
            store.close()
        def server_cpu_s() -> float:
            return env.tree_cpu_s(worker.proc.pid)

        warm = loadgen.warm_up(ready["port"], pool, server_cpu_s)
        load = loadgen.run_load(ready["port"], pool, args.seconds, bool(args.trace), server_cpu_s)
        worker.send("stop")
        done = worker.event()
    finally:
        worker.close()
    load.mismatches += warm.mismatches
    if not deterministic:
        load.mismatches.append("generator: same seed gave a different ZIP")
    return report.serving_result(args, ready, done, load, files)


WORKLOADS = {
    "quarter_backfill": run_backfill,
    "statement_pull": run_serving,
}


def program_present() -> str | None:
    """Why the program cannot run here, or None."""
    if not os.path.isfile(os.path.join(ROOT, "dynaledger_spark", "api.py")):
        return f"no dynaledger_spark package under {ROOT}"
    try:
        import duckdb  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as e:
        return f"missing dependency: {e}"
    return None


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    missing = program_present()
    if missing:
        print(f"perfbench: cannot run: {missing}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    runs = os.path.join(ROOT, ".perfbench_run")
    run_dir = os.path.join(runs, f"{os.getpid()}-{time.time_ns()}")
    os.makedirs(run_dir)
    try:
        result = WORKLOADS[args.workload](args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    spans = result.pop("spans", None)
    if spans is not None:
        path = os.path.join(runs, f"trace-{args.workload}-{args.seed}.json")
        with open(path, "w") as fh:
            json.dump(spans, fh)
        print(f"perfbench: spans written to {path}", file=sys.stderr)
    else:
        try:
            os.rmdir(runs)
        except OSError:
            pass  # holds other runs or earlier traces
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
