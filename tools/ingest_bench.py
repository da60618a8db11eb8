"""Ingest-path benchmark: quarterly SEC ZIP → typed parquet → fact tables.

The reference's real workload is this path, not the query registry:
zip_ext_and_parq_store.py:161-217 extracts {sub,pre,tag,num}.txt from a
quarter ZIP and loads them through chunked pandas (CHUNK_SIZE=1e6,
ext_zip_convert_into_json_store.py:19 — chunked because a real num.txt
is millions of rows), then the dbt fact models aggregate. This tool
synthesizes a quarter at that scale (default: 8M num rows, 100k
filings, 1.2M pre rows — a large real quarter), zips it, and measures
the engine's replacement path end to end:

    stage 1  extract_zip            (sources/tsv.py:37)
    stage 2  TSV → typed parquet    (sources/tsv.py:54-93, S4-S7)
    stage 3  parquet → 3 fact tables (operators/facts.py:30, J2/A2/W1)

Row-conservation is asserted at each stage (the e2e check: nothing
dropped, facts non-empty). Prints ONE JSON line; transcribe into
BASELINE.md.

Run: python tools/ingest_bench.py [n_num_rows]   (default 8_000_000)
Scratch lives under /tmp and is removed on exit.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time
import zipfile

import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

def _argv_rows(default: int = 8_000_000) -> int:
    # tolerate import under pytest (argv holds test args, not a row count)
    try:
        return int(sys.argv[1])
    except (IndexError, ValueError):
        return default


N_NUM = _argv_rows()
N_TAG = 20_000
PRE_PER_FILING = 12                     # 4 lines per statement x BS/IS/CF
CHUNK = 1_000_000
Q = "2024Q1"

_STMTS = ["BS", "IS", "CF"]
_UOMS = ["USD", "shares", "EUR", "USD-per-shares"]


_Q_PERIOD_MMDD = {1: 331, 2: 630, 3: 930, 4: 1231}


def _quarter_parts(quarter: str) -> tuple[int, int, int, int]:
    """'2024Q3' -> (year, qnum, period_yyyymmdd, filed_base)."""
    y, qn = int(quarter[:4]), int(quarter[-1])
    period = y * 10_000 + _Q_PERIOD_MMDD[qn]
    filed_base = y * 10_000 + (qn * 3 + 1) % 12 * 100 + 1  # first of next month
    if qn == 4:
        filed_base = (y + 1) * 10_000 + 101
    return y, qn, period, filed_base


def _adsh_pool(n: int, offset: int = 0) -> np.ndarray:
    # offset keeps quarters' filing ids disjoint (a real accession number
    # is unique per filing; a backfill never re-sees one)
    return np.array(
        [f"{i + offset:010d}-24-{(i + offset) % 1_000_000:06d}" for i in range(n)]
    )


def _tag_pool(n: int) -> np.ndarray:
    return np.array([f"Tag{i:05d}" for i in range(n)])


def build_quarter_zip(
    zip_path: str,
    n_num: int,
    n_sub: int | None = None,
    n_tag: int = N_TAG,
    quarter: str = Q,
) -> dict[str, int]:
    """Write a synthetic quarter ZIP with FIXTURES.md §A shapes at scale.

    Deterministic (seeded RNG); TSVs are streamed into the ZIP in 1M-row
    chunks so generation memory stays bounded the same way the
    reference's chunked reader does. n_sub/n_tag default to the bench
    proportions; the e2e test passes tiny values.  `quarter` ('2024Q3')
    drives period/fy/fp/filed/ddate and offsets the adsh pool so a
    multi-quarter backfill sees disjoint filings per quarter (the
    reference's per-quarter accretion, snowflake_raw_data_loader.py:50).
    """
    year, qn, period, filed_base = _quarter_parts(quarter)
    n_sub = n_sub if n_sub is not None else max(1000, n_num // 80)
    rng = np.random.default_rng(42 + qn + 101 * year)
    adsh = _adsh_pool(n_sub, offset=qn * 10_000_000)
    tags = _tag_pool(n_tag)
    counts: dict[str, int] = {}
    with zipfile.ZipFile(zip_path, "w", zipfile.ZIP_DEFLATED, compresslevel=1) as zf:
        # --- sub.txt: one row per filing
        sub = pd.DataFrame(
            {
                "adsh": adsh,
                "cik": rng.integers(1000, 2_000_000, n_sub),
                "name": np.char.add("COMPANY ", adsh.astype("U10")),
                "sic": rng.integers(100, 9999, n_sub),
                "countryba": "US",
                "countryinc": "US",
                "wksi": rng.integers(0, 2, n_sub),
                "fye": 1231,
                "form": rng.choice(["10-K", "10-Q", "8-K"], n_sub),
                "period": period,
                "fy": year,
                "fp": f"Q{qn}",
                "filed": filed_base + rng.integers(0, 27, n_sub),
                "accepted": "2024-04-10 08:24:00.0",
                "prevrpt": 0,
                "detail": 1,
                "nciks": 1,
            }
        )
        for col in ("stprba", "cityba", "zipba", "bas1", "bas2", "baph",
                    "countryma", "stprma", "cityma", "zipma", "mas1", "mas2",
                    "stprinc", "ein", "former", "changed", "afs", "instance",
                    "aciks"):
            sub[col] = ""
        cols = ["adsh", "cik", "name", "sic", "countryba", "stprba", "cityba",
                "zipba", "bas1", "bas2", "baph", "countryma", "stprma",
                "cityma", "zipma", "mas1", "mas2", "countryinc", "stprinc",
                "ein", "former", "changed", "afs", "wksi", "fye", "form",
                "period", "fy", "fp", "filed", "accepted", "prevrpt",
                "detail", "instance", "nciks", "aciks"]
        with zf.open("sub.txt", "w") as fh:
            fh.write(sub[cols].to_csv(sep="\t", index=False).encode())
        counts["sub"] = len(sub)

        # --- tag.txt
        tag = pd.DataFrame(
            {
                "tag": tags,
                "version": "us-gaap/2024",
                "custom": 0,
                "abstract": 0,
                "datatype": "monetary",
                "iord": rng.choice(["I", "D"], n_tag),
                "crdr": rng.choice(["D", "C"], n_tag),
                "tlabel": np.char.add("Label ", tags.astype("U9")),
                "doc": "",
            }
        )
        with zf.open("tag.txt", "w") as fh:
            fh.write(tag.to_csv(sep="\t", index=False).encode())
        counts["tag"] = len(tag)

        # --- pre.txt: PRE_PER_FILING statement lines per filing
        rep = np.repeat(np.arange(n_sub), PRE_PER_FILING)
        line_in_filing = np.tile(np.arange(PRE_PER_FILING), n_sub)
        pre = pd.DataFrame(
            {
                "adsh": adsh[rep],
                "report": 1 + line_in_filing // 4,
                "line": 1 + line_in_filing % 4,
                "stmt": np.array(_STMTS)[line_in_filing // 4],
                "inpth": 0,
                "rfile": "H",
                # each filing's line maps to a deterministic tag window so
                # num's (adsh, tag) join finds matches
                "tag": tags[(rep * 7 + line_in_filing) % n_tag],
                "version": "us-gaap/2024",
                "plabel": "Line label",
                "negating": 0,
            }
        )
        with zf.open("pre.txt", "w") as fh:
            fh.write(pre.to_csv(sep="\t", index=False).encode())
        counts["pre"] = len(pre)

        # --- num.txt: n_num facts, chunked; ~2% dirty numeric cells (the
        # coerce-to-null path must engage, like the real feed)
        with zf.open("num.txt", "w") as fh:
            header = True
            for start in range(0, n_num, CHUNK):
                n = min(CHUNK, n_num - start)
                filing = rng.integers(0, n_sub, n)
                line = rng.integers(0, PRE_PER_FILING, n)
                value = np.round(rng.normal(1e6, 1e5, n), 4).astype("object")
                dirty = rng.random(n) < 0.02
                value[dirty] = "NotANumber"
                num = pd.DataFrame(
                    {
                        "adsh": adsh[filing],
                        "tag": tags[(filing * 7 + line) % n_tag],
                        "version": "us-gaap/2024",
                        "ddate": period,
                        "qtrs": rng.integers(0, 5, n),
                        "uom": np.array(_UOMS)[rng.integers(0, len(_UOMS), n)],
                        "segments": "",
                        "coreg": "",
                        "value": value,
                        "footnote": "",
                    }
                )
                fh.write(num.to_csv(sep="\t", index=False, header=header).encode())
                header = False
        counts["num"] = n_num
    return counts


def main() -> None:
    from pyspark.sql import functions as F

    from dynaledger_spark.operators.facts import build_all_facts, build_facts_single_pass
    from dynaledger_spark.session import get_spark
    from dynaledger_spark.sources.parquet_io import write_partitioned
    from dynaledger_spark.sources.tsv import extract_zip, ingest_quarter

    scratch = tempfile.mkdtemp(prefix="dl_ingest_bench_")
    try:
        zip_path = os.path.join(scratch, f"{Q}.zip")
        t0 = time.perf_counter()
        counts = build_quarter_zip(zip_path, N_NUM)
        gen_s = time.perf_counter() - t0
        zip_mb = os.path.getsize(zip_path) / 1e6

        spark = get_spark("ingest_bench")
        spark.range(1_000_000).selectExpr("sum(id)").collect()  # JVM warm

        t1 = time.perf_counter()
        members = extract_zip(zip_path, os.path.join(scratch, "ext"))
        extract_s = time.perf_counter() - t1

        t2 = time.perf_counter()
        typed = ingest_quarter(spark, members, Q)
        typed_dir = os.path.join(scratch, "typed")
        for table, df in typed.items():
            write_partitioned(df, os.path.join(typed_dir, table))
        load_s = time.perf_counter() - t2

        num = spark.read.parquet(os.path.join(typed_dir, "sec_num"))
        sub = spark.read.parquet(os.path.join(typed_dir, "sec_sub"))
        pre = spark.read.parquet(os.path.join(typed_dir, "sec_pre"))
        # e2e row conservation: the PERMISSIVE + try_cast load must keep
        # every source row (bad cells null out, rows never drop)
        assert num.count() == counts["num"], "num rows dropped in load"
        assert sub.count() == counts["sub"], "sub rows dropped in load"
        n_null = num.filter("value IS NULL").count()
        assert 0 < n_null < counts["num"] * 0.05, "dirty-cell coercion off"

        # engine path: ONE join+aggregate for all three statements,
        # written partitionBy(statement_type) -> the same three tables
        t3 = time.perf_counter()
        out = os.path.join(scratch, "facts_single")
        (
            build_facts_single_pass(num, sub, pre)
            .write.mode("overwrite")
            .partitionBy("statement_type")
            .parquet(out, compression="snappy")
        )
        fact_rows = {
            r["statement_type"]: r["n"]
            for r in spark.read.parquet(out)
            .groupBy("statement_type")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        facts_s = time.perf_counter() - t3
        assert set(fact_rows) == {"BS", "IS", "CF"} and all(
            v > 0 for v in fact_rows.values()
        ), "missing statement partition"

        # reference-shaped path (three separate models) for comparison
        t4 = time.perf_counter()
        for name, df in build_all_facts(num, sub, pre).items():
            df.write.mode("overwrite").parquet(
                os.path.join(scratch, "facts", name), compression="snappy"
            )
        facts3_s = time.perf_counter() - t4

        # --- multi-quarter backfill (the reference's actual operating
        # mode: quarterly accretion). 4 quarters at N/8 num rows each:
        # ZIP -> typed -> facts appended partitionBy(source_file,
        # statement_type) AND the RAW statement rows appended into the
        # (source_file, stmt)-partitioned statement store; then the two
        # recurring reads — the partition-pruned statement read and the
        # pruned RAW statement read.
        from dynaledger_spark.operators.backfill import (
            append_quarter_bucketed,
            append_quarter_facts,
            bucketed_statement_join,
            drop_bucketed,
            latest_fact_quarter,
            statement_facts,
        )

        bf_quarters = ["2024Q1", "2024Q2", "2024Q3", "2024Q4"]
        bf_root = os.path.join(scratch, "backfill_facts")
        drop_bucketed(spark, suffix="bench")
        for q in bf_quarters:  # generation is corpus synthesis, not ingest
            build_quarter_zip(
                os.path.join(scratch, f"{q}.zip"), max(N_NUM // 8, 10_000), quarter=q
            )
        t5 = time.perf_counter()
        for q in bf_quarters:
            qzip = os.path.join(scratch, f"{q}.zip")
            qtyped = ingest_quarter(
                spark, extract_zip(qzip, os.path.join(scratch, f"ext_{q}")), q
            )
            append_quarter_facts(
                qtyped["sec_num"], qtyped["sec_sub"], qtyped["sec_pre"], q, bf_root
            )
            append_quarter_bucketed(qtyped, suffix="bench")
        backfill_s = time.perf_counter() - t5
        assert latest_fact_quarter(spark, bf_root) == bf_quarters[-1]

        t6 = time.perf_counter()
        pruned_n = statement_facts(spark, bf_root, "2024Q3", "BS").count()
        pruned_read_s = time.perf_counter() - t6
        assert pruned_n > 0, "pruned statement read empty"

        t7 = time.perf_counter()
        bkt_n = bucketed_statement_join(spark, "2024Q2", "IS", suffix="bench").count()
        bucketed_join_s = time.perf_counter() - t7
        assert bkt_n > 0, "RAW statement read empty"
        drop_bucketed(spark, suffix="bench")

        total = extract_s + load_s + facts_s
        print(
            json.dumps(
                {
                    "metric": "sec_quarter_ingest_wall",
                    "value": round(total, 3),
                    "unit": "sec",
                    "stages": {
                        "extract_zip": round(extract_s, 3),
                        "tsv_to_typed_parquet": round(load_s, 3),
                        "fact_build_single_pass": round(facts_s, 3),
                        "fact_build_per_stmt_x3_not_counted": round(facts3_s, 3),
                        "backfill_4q_accrete_facts_and_bucketed": round(backfill_s, 3),
                        "backfill_pruned_statement_read": round(pruned_read_s, 3),
                        "backfill_bucketed_statement_join": round(bucketed_join_s, 3),
                    },
                    "rows": {**counts, "facts": fact_rows},
                    "num_rows_per_sec": int(counts["num"] / total),
                    "zip_mb": round(zip_mb, 1),
                    "gen_sec_not_counted": round(gen_s, 3),
                }
            )
        )
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


if __name__ == "__main__":
    main()
