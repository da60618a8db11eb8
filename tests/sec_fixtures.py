"""Synthetic SEC-shaped fixtures (FIXTURES.md §A) with deliberate dirt:
orphan FKs, duplicate keys, bad dates, NaN values, missing ticker ciks —
the violations the reference's dbt tests exist to catch — plus
``build_quarter_zip``, a seeded generator of whole quarter ZIPs at any
size for the ingest and backfill tests, and ``parquet_codecs``, which
reads the codecs a written store's files declare."""

from __future__ import annotations

import os
import zipfile
from urllib.parse import urlparse

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

from dynaledger_spark.schemas import SEC_SCHEMAS

Q = "2023Q1"


def _frame(table: str, rows: list[dict]) -> pd.DataFrame:
    cols = [f.name for f in SEC_SCHEMAS[table].fields if f.name != "source_file"]
    df = pd.DataFrame(rows)
    for c in cols:
        if c not in df.columns:
            df[c] = None
    return df[cols]


def sub_rows() -> list[dict]:
    base = dict(
        cik=100, name="ACME CORP", sic=3711, countryba="US", countryinc="US",
        wksi=0, fye=1231, form="10-K", period=20230331, fy=2023, fp="Q1",
        filed=20230410, accepted="2023-04-10 08:24:00.0", prevrpt=0, detail=1,
        nciks=1, countryma="US", cityma="BOSTON",
    )
    return [
        {**base, "adsh": "0000000001-23-000001"},
        {**base, "adsh": "0000000002-23-000002", "cik": 200, "name": "BETA INC",
         "cityma": None, "fy": None},
        # dirty: sic out of range, lowercase countryba, fp junk
        {**base, "adsh": "0000000003-23-000003", "cik": 300, "name": "GAMMA LLC",
         "sic": 99, "countryba": "us", "fp": "ZZ", "countryma": None},
        # invalid period → document pipeline must skip this filing
        {**base, "adsh": "0000000004-23-000004", "cik": 400, "name": "DELTA CO",
         "period": None},
        {**base, "adsh": "0000000005-23-000005", "cik": 500, "name": "EPSILON SA",
         "period": 20231399},  # unparseable yyyymmdd
    ]


def tag_rows() -> list[dict]:
    return [
        dict(tag="Assets", version="us-gaap/2022", custom=0, abstract=0,
             datatype="monetary", iord="I", crdr="D", tlabel="Assets",
             doc="Total assets as of the balance sheet date."),
        dict(tag="NetIncomeLoss", version="us-gaap/2022", custom=0, abstract=0,
             datatype="monetary", iord="D", crdr="C", tlabel="Net Income (Loss)",
             doc=None),
        # duplicate tag rows with different doc → first-match semantics
        dict(tag="DupTag", version="us-gaap/2022", custom=0, abstract=0,
             datatype="monetary", iord="I", crdr="D", tlabel="Dup v1",
             doc="FIRST DOC"),
        dict(tag="DupTag", version="us-gaap/2023", custom=0, abstract=0,
             datatype="monetary", iord="I", crdr="D", tlabel="Dup v2",
             doc="SECOND DOC"),
        dict(tag="CashFlowTag", version="us-gaap/2022", custom=0, abstract=0,
             datatype="monetary", iord="D", crdr="D", tlabel="CF tag",
             doc="cash flow doc"),
        # dirty: bad datatype/iord
        dict(tag="WeirdTag", version="custom/1", custom=1, abstract=0,
             datatype="bogus", iord="X", crdr="C", tlabel="Weird", doc=None),
    ]


def num_rows() -> list[dict]:
    a1, a2 = "0000000001-23-000001", "0000000002-23-000002"
    return [
        dict(adsh=a1, tag="Assets", version="us-gaap/2022", ddate=20230331,
             qtrs=0, uom="USD", value=1000.5),
        dict(adsh=a1, tag="Assets", version="us-gaap/2022", ddate=20230331,
             qtrs=4, uom="USD", value=250.25),
        dict(adsh=a1, tag="NetIncomeLoss", version="us-gaap/2022", ddate=20230331,
             qtrs=4, uom="USD", value=-42.5),
        dict(adsh=a1, tag="DupTag", version="us-gaap/2022", ddate=20230331,
             qtrs=0, uom="USD", value=7.0),
        dict(adsh=a2, tag="Assets", version="us-gaap/2022", ddate=20230331,
             qtrs=0, uom="USD", value=2000.0),
        dict(adsh=a2, tag="CashFlowTag", version="us-gaap/2022", ddate=20230331,
             qtrs=4, uom="USD", value=None),  # NaN → 0 in documents
        # orphan adsh (FK violation) + bad ddate (7 digits)
        dict(adsh="9999999999-99-999999", tag="Assets", version="us-gaap/2022",
             ddate=2023033, qtrs=0, uom="USD", value=1.0),
        # tag/version not in taxonomy (FK violation)
        dict(adsh=a2, tag="GhostTag", version="none/0", ddate=20230331,
             qtrs=0, uom="USD", value=3.0),
    ]


def pre_rows() -> list[dict]:
    a1, a2 = "0000000001-23-000001", "0000000002-23-000002"
    return [
        dict(adsh=a1, report=1, line=1, stmt="BS", inpth=0, rfile="H",
             tag="Assets", version="us-gaap/2022", plabel="Total assets", negating=0),
        dict(adsh=a1, report=2, line=1, stmt="IS", inpth=0, rfile="H",
             tag="NetIncomeLoss", version="us-gaap/2022", plabel="Net income", negating=0),
        # two pre rows for same (adsh, tag) → first-match wins for info/stmt
        dict(adsh=a1, report=3, line=1, stmt="BS", inpth=0, rfile="H",
             tag="DupTag", version="us-gaap/2022", plabel="FIRST PLABEL", negating=0),
        dict(adsh=a1, report=3, line=2, stmt="CF", inpth=0, rfile="H",
             tag="DupTag", version="us-gaap/2023", plabel="SECOND PLABEL", negating=0),
        dict(adsh=a2, report=1, line=1, stmt="BS", inpth=0, rfile="H",
             tag="Assets", version="us-gaap/2022", plabel="Assets, total", negating=0),
        dict(adsh=a2, report=2, line=1, stmt="CF", inpth=0, rfile="X",
             tag="CashFlowTag", version="us-gaap/2022", plabel=None, negating=0),
        # duplicate (adsh, report, line) key — unique test must flag it
        dict(adsh=a2, report=1, line=1, stmt="BS", inpth=0, rfile="H",
             tag="Assets", version="us-gaap/2022", plabel="dup row", negating=0),
        # dirty stmt domain
        dict(adsh=a2, report=9, line=9, stmt="XX", inpth=2, rfile="Z",
             tag="GhostTag", version="none/0", plabel="ghost", negating=0),
    ]


def ticker_rows() -> list[tuple[str, int]]:
    # cik 100 duplicated (first row wins); cik 300/400/500 missing → UNKNOWN
    return [("acme", 100), ("acme2", 100), ("beta", 200), ("zeta", 999)]


def write_fixtures(out_dir: str) -> dict[str, str]:
    """Write the four TSVs + ticker.txt; returns table→path."""
    os.makedirs(out_dir, exist_ok=True)
    paths = {}
    frames = {
        "sec_sub": _frame("sec_sub", sub_rows()),
        "sec_tag": _frame("sec_tag", tag_rows()),
        "sec_num": _frame("sec_num", num_rows()),
        "sec_pre": _frame("sec_pre", pre_rows()),
    }
    names = {"sec_sub": "sub.txt", "sec_tag": "tag.txt", "sec_num": "num.txt", "sec_pre": "pre.txt"}
    for table, frame in frames.items():
        path = os.path.join(out_dir, names[table])
        frame.to_csv(path, sep="\t", index=False)
        paths[table] = path
    tick = os.path.join(out_dir, "ticker.txt")
    pd.DataFrame(ticker_rows()).to_csv(tick, sep="\t", index=False, header=False)
    paths["ticker"] = tick
    return paths


def parquet_codecs(files) -> set[str]:
    """Every codec the column chunks of the parquet `files` (paths or
    `file:` URIs) declare in their footers."""
    codecs = set()
    for f in files:
        meta = pq.ParquetFile(urlparse(f).path).metadata
        for g in range(meta.num_row_groups):
            group = meta.row_group(g)
            codecs.update(group.column(c).compression for c in range(group.num_columns))
    return codecs


def parquet_files(root: str) -> list[str]:
    """The parquet data files under `root`, at any depth."""
    return [
        os.path.join(d, f) for d, _, names in os.walk(root) for f in names
        if f.endswith(".parquet")
    ]


# ---------------------------------------------------------------------------
# Seeded quarter ZIPs at scale
# ---------------------------------------------------------------------------
N_TAG = 20_000
PRE_PER_FILING = 12  # 4 lines per statement x BS/IS/CF
CHUNK = 1_000_000

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
    quarter: str = "2024Q1",
) -> dict[str, int]:
    """Write a synthetic quarter ZIP with FIXTURES.md §A shapes at scale.

    Deterministic (seeded RNG); TSVs are streamed into the ZIP in 1M-row
    chunks so generation memory stays bounded the same way the
    reference's chunked reader does. n_sub/n_tag default to the
    proportions of a large real quarter; tests pass tiny values.  `quarter` ('2024Q3')
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
