"""Bare-session driver simulation: run EVERY registry query under a
SparkSession the library didn't build (default configs, non-UTC
timezone — the harness shape that produced the round-1 errors) and
compare oracle-backed queries against DuckDB exactly, rows-only
queries by execution. Usage:

    python tools/driver_sim.py [sf_dir]

Prints one OK/FAIL line per query and a final tally; exit 1 on any
failure.
"""

from __future__ import annotations

import sys

sys.path.insert(0, ".")

from pyspark.sql import SparkSession  # noqa: E402

from dynaledger_spark.plans.registry import load_all  # noqa: E402
from tests.oracle_compare import compare, duck_connection  # noqa: E402


def main() -> int:
    args = sys.argv[1:]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    spark = (
        SparkSession.builder.master("local[*]")
        .appName("driver_sim")
        # deliberately foreign: non-UTC tz, default shuffle partitions,
        # none of the library's session conveniences
        .config("spark.sql.session.timeZone", "America/New_York")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    reg = load_all()
    duck = duck_connection(sf_dir)
    failed: list[str] = []
    for name, spec in reg.items():
        try:
            if spec.oracle is not None:
                compare(spec.build(spark, sf_dir), duck, spec.oracle)
                print(f"OK    {name}", flush=True)
            else:
                n = spec.build(spark, sf_dir).count()
                print(f"OK(r) {name} rows={n}", flush=True)
        except Exception as exc:
            failed.append(name)
            print(f"FAIL  {name}: {str(exc)[:300]}", flush=True)
    print(f"\n{len(reg) - len(failed)}/{len(reg)} green", flush=True)
    if failed:
        print("failed:", ", ".join(failed), flush=True)
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
