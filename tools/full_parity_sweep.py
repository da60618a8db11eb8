"""Full-registry oracle parity at an arbitrary SF (default sf0.1) in a
foreign (non-UTC, default-conf) session, with a per-query wall budget so
a quadratic DuckDB oracle cannot stall the sweep. Skips are REPORTED,
never silent.

Rationale (round 10): the parity gates run at sf0.001 and sf0.01 — this
sweep runs ALL oracles at sf0.1 and caught two real SF-dependent bugs
the gates could not: theil_sen's lower-median rank filter used Spark's
double `/` (0 rows whenever C(|days|,2) was even) and pareto's
round(double, 12) hit a half-ulp boundary where DuckDB's multiply-based round and Spark's
BigDecimal round disagree. Run once per round after registry changes:

    python tools/full_parity_sweep.py [sf_dir] [budget_s]
    python tools/full_parity_sweep.py --10x [budget_s] [names...]
    python tools/full_parity_sweep.py --10x --all [budget_s]   # whole registry
    python tools/full_parity_sweep.py --100x [budget_s] [names...]
    python tools/full_parity_sweep.py --10x --dir /tmp/corpus ...

--10x builds the CLEAN 10x corpus (tools/scale_probe.build_probe,
skew=False) in a temp dir and parity-checks there — at sf1 every doc
has ~10 near-clones, so bucket caps, hub caps, estimator cutoffs and
exact-dup collapse paths actually ENGAGE (VERDICT r9 item 4's class;
sf0.001-0.1 never exercised them for parity). Default name set = the
33 cap/cutoff-bearing queries whose oracles mirror their caps; round-10
run: 33/33 green.

--100x is the same gate at clean-100x ("sf10": 60M lineitem / 10M
events / 500k docs with ~100 clones each / 200k embeddings) — the
VERDICT r12 item-1 regime, where caps that never fired at 10x first
engage. --dir PATH reuses (or builds into) a persistent corpus dir so
the bench, heavy-tier and parity passes share one build.
"""
from __future__ import annotations

import signal
import sys
import time

sys.path.insert(0, ".")

from pyspark.sql import SparkSession  # noqa: E402

from dynaledger_spark.plans.registry import load_all  # noqa: E402
from tests.oracle_compare import compare  # noqa: E402


class _Timeout(Exception):
    pass


# cap/cutoff-bearing queries whose ORACLES mirror the caps — the --10x
# default set (queries whose caps intentionally diverge from a naive
# oracle are excluded: their parity is proven by oracle-mirrored twins)
CAP_BEARING = [
    "minhash_portable_pairs", "minhash_portable_incremental",
    "simhash_portable_fingerprints",
    "link_prediction_common_neighbors", "adamic_adar_link_prediction",
    "lpa_communities_fixed", "kcore_copurchase", "copurchase_triangles",
    "pagerank_portable_fixedpoint",
    "kmv_theta_sketch_pairs", "gk_portable_quantiles",
    "hll_portable_estimate", "cms_heavy_hitters", "bloom_filter_probe",
    "ngram_jaccard", "containment_scores", "dedup_clusters",
    "dedup_keep_best", "near_dup_purge_e2e", "near_dup_split_leakage",
    "winnowing_overlap_pairs", "tfidf_cosine_pairs", "fastss_edit1_pairs",
    "segment_dedup_boilerplate", "boilerplate_strip_stats",
    "dup_span_marking", "minhash_estimation_error",
    "semdedup_prune", "quantized_cosine_pairs", "cosine_near_dup_windowed",
    "rendezvous_hash_shard", "rm3_query_expansion", "textrank_keywords",
    "rag_pipeline_e2e",  # round-11: per-cell IVF truncation cap
]

# Ground-truth evaluators whose oracles deliberately do naive
# all-pairs verification over DISTINCT texts (the round-12 exact-dup
# collapse removed the clone-quadratic blowup — VERDICT r11 item 5 —
# but the distinct-text pair join is still the honest quadratic cost
# of an exact ground truth: 669-755 s at sf0.1 scale). They get a
# budget MULTIPLIER instead of an exclusion, so --10x --all verifies
# them fully and reports zero oracle-excluded rows.
LONG_BUDGET = {"jaccard_prefix_filter_join": 4, "lsh_recall_eval": 4}

# Results too large for the pandas/repr comparator (tens of millions of
# rows: toPandas + python-tuple canonicalization dominates and OOMs the
# sweep long before the oracle does). Compared EXACTLY — same multiset-
# equality contract — via Arrow + DuckDB EXCEPT ALL in both directions
# (C++-side, no row-at-a-time Python). Not a comparator loosening: the
# check is still bitwise row-multiset equality plus a row-count match.
EXCEPT_ALL_COMPARE = {"unpivot_lineitem_measures"}


def _compare_except_all(spark_df, con, sql: str) -> None:
    """Exact multiset compare for huge results: column-type parity
    (both sides described by DuckDB itself, so set-op coercion cannot
    mask an int-vs-string mismatch), count parity, and empty EXCEPT ALL
    diff in both directions, computed inside DuckDB over the
    Arrow-exported Spark result. NaN-free results only (EXCEPT treats
    NaN as non-equal) — the registered users are plain numeric."""
    tbl = spark_df.toArrow()
    cols = ", ".join(f'"{c}"' for c in sorted(tbl.column_names))
    con.register("_spark_res", tbl)

    def _types(src: str) -> list[tuple[str, str]]:
        rows = con.execute(f"DESCRIBE SELECT * FROM {src}").fetchall()
        return sorted((r[0], r[1]) for r in rows)

    try:
        t_spark, t_oracle = _types("_spark_res"), _types(f"({sql}) t")
        assert t_spark == t_oracle, (
            f"column/type mismatch: spark={t_spark} oracle={t_oracle}"
        )
        n_spark = con.execute("SELECT COUNT(*) FROM _spark_res").fetchone()[0]
        n_oracle = con.execute(
            f"SELECT COUNT(*) FROM ({sql}) t"
        ).fetchone()[0]
        assert n_spark == n_oracle, f"row count: spark={n_spark} oracle={n_oracle}"
        for a, b in (
            (f"SELECT {cols} FROM _spark_res", f"SELECT {cols} FROM ({sql}) t"),
            (f"SELECT {cols} FROM ({sql}) t", f"SELECT {cols} FROM _spark_res"),
        ):
            d = con.execute(
                f"SELECT COUNT(*) FROM (({a}) EXCEPT ALL ({b})) x"
            ).fetchone()[0]
            assert d == 0, f"value mismatch: {d} rows differ ({a[:40]}...)"
    finally:
        con.unregister("_spark_res")

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def _duck_for(path: str):
    """DuckDB views over single-file OR Spark-directory parquet."""
    import os

    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        p = f"{path}/{t}.parquet"
        pat = f"{p}/*.parquet" if os.path.isdir(p) else p
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{pat}')"
        )
    return con


def main() -> int:
    argv = sys.argv[1:]
    corpus_dir = None
    if "--dir" in argv:
        i = argv.index("--dir")
        corpus_dir = argv[i + 1]
        argv = argv[:i] + argv[i + 2 :]
    ten_x = "--10x" in argv
    hundred_x = "--100x" in argv
    mult = 100 if hundred_x else 10
    ten_x = ten_x or hundred_x
    run_all = "--all" in argv
    args = [a for a in argv if a not in ("--10x", "--100x", "--all")]
    if ten_x:
        budget = (
            int(args[0]) if args and args[0].isdigit() else (420 * mult // 10)
        )
        # --all: the ENTIRE registry at clean-10x (VERDICT r10 item 4 —
        # each new SF regime has surfaced a new divergence class);
        # budget skips are REPORTED, never silent
        names = (
            None if run_all
            else ([a for a in args if not a.isdigit()] or CAP_BEARING)
        )
    else:
        budget = int(args[1]) if len(args) > 1 else 180
        names = None
    spark = (
        SparkSession.builder.master("local[16]")
        .appName("full_parity_sweep")
        .config("spark.sql.session.timeZone", "America/New_York")
        .config("spark.ui.enabled", "false")
        # NOT part of the foreign-ness contract (that's SQL confs/tz):
        # local mode runs executors inside the driver JVM, and the 1g
        # default heap OOMs on the 10x corpus (round-11 full-registry
        # run died at ~20 queries in). Driver-sized like bench/driver_sim.
        .config("spark.driver.memory", "32g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    reg = load_all()
    cleanup = None
    if ten_x:
        import os
        import shutil
        import tempfile

        from tools.scale_probe import build_probe

        if corpus_dir is not None:
            # persistent, shareable corpus: build only if absent
            sf = corpus_dir
            if not os.path.exists(os.path.join(sf, "lineitem.parquet")):
                build_probe(spark, sf, mult=mult, skew=False)
        else:
            sf = tempfile.mkdtemp(prefix=f"dl_sf{mult // 10}p_")
            cleanup = lambda: shutil.rmtree(sf, ignore_errors=True)  # noqa: E731
            build_probe(spark, sf, mult=mult, skew=False)
        if names is not None:
            reg = {n: reg[n] for n in names}
    else:
        sf = args[0] if args else "/root/testdata/sf0.1"
    duck = _duck_for(sf)

    signal.signal(signal.SIGALRM, lambda *_: (_ for _ in ()).throw(_Timeout()))
    ok = rows_only = oracle_excluded = 0
    skipped: list[tuple[str, float]] = []
    failed: list[tuple[str, str]] = []
    for name, spec in reg.items():
        t0 = time.time()
        signal.alarm(budget * LONG_BUDGET.get(name, 1))
        try:
            if spec.oracle is None:
                assert spec.build(spark, sf).count() >= 0
                rows_only += 1
            elif name in EXCEPT_ALL_COMPARE:
                _compare_except_all(spec.build(spark, sf), duck, spec.oracle)
                ok += 1
            else:
                compare(spec.build(spark, sf), duck, spec.oracle)
                ok += 1
        except _Timeout:
            skipped.append((name, round(time.time() - t0, 1)))
        except Exception as ex:  # noqa: BLE001 — report and continue
            failed.append((name, str(ex)[:300]))
        finally:
            signal.alarm(0)
            spark.catalog.clearCache()
        print(f"{name}: {round(time.time() - t0, 1)}s", flush=True)
    print(
        f"RESULT sf={sf} ok={ok} rows_only={rows_only} "
        f"oracle_excluded={oracle_excluded} "
        f"skipped={len(skipped)} failed={len(failed)}"
    )
    for n, t in skipped:
        print(f"SKIPPED {n} after {t}s (budget {budget}s)")
    for n, e in failed:
        print(f"FAILED {n}: {e}")
    if cleanup is not None:
        cleanup()
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
