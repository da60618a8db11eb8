"""Seeded synthetic SEC quarter ZIPs for the benchmark.

Shape follows FIXTURES.md §A (the reference's quarterly "Financial
Statement Data Sets" ZIP of sub/pre/tag/num TSVs) and the proportions of
``tools/ingest_bench.build_quarter_zip``, with three differences:

* every random draw comes from one ``numpy`` generator seeded from the
  benchmark's ``--seed`` and the quarter, so the same seed gives
  byte-identical ZIPs (ZIP member timestamps are pinned too);
* a headerless ``ticker.txt`` (``symbol\\tcik``) is written next to the
  ZIP, and it deliberately misses about a fifth of the ciks;
* dirty data is injected the way the real feed has it: about 2% of
  ``num.value`` cells are non-numeric, about 2% of filings carry an
  invalid ``period`` date, and about 1% of ``num`` rows are orphans
  (their ``adsh`` has no filing, or their tag is not in ``tag.txt``).
"""

from __future__ import annotations

import hashlib
import io
import os
import zipfile
from dataclasses import dataclass

import numpy as np
import pandas as pd

PRE_PER_FILING = 12  # 4 lines per statement x BS/IS/CF
_STMTS = np.array(["BS", "IS", "CF"])
_UOMS = np.array(["USD", "shares", "EUR", "USD-per-shares"])
_JUNK_VALUES = np.array(["NotANumber", "n/a", "--", "12,5O"])
_BAD_PERIODS = np.array(["20241345", "20240231", "", "20240000"])
_Q_PERIOD_MMDD = {1: 331, 2: 630, 3: 930, 4: 1231}
_ZIP_TIME = (2024, 1, 1, 0, 0, 0)

SUB_COLS = [
    "adsh", "cik", "name", "sic", "countryba", "stprba", "cityba", "zipba",
    "bas1", "bas2", "baph", "countryma", "stprma", "cityma", "zipma", "mas1",
    "mas2", "countryinc", "stprinc", "ein", "former", "changed", "afs",
    "wksi", "fye", "form", "period", "fy", "fp", "filed", "accepted",
    "prevrpt", "detail", "instance", "nciks", "aciks",
]


@dataclass(frozen=True)
class QuarterSpec:
    quarter: str  # '2024Q3'
    n_num: int
    n_tag: int = 2_000

    @property
    def n_sub(self) -> int:
        return max(20, self.n_num // 80)


@dataclass(frozen=True)
class QuarterFiles:
    quarter: str
    zip_path: str
    ticker_path: str
    tsv_dir: str  # the four TSVs, unzipped, for the oracle
    tsv_bytes: int  # uncompressed bytes of the four TSVs


def quarter_parts(quarter: str) -> tuple[int, int, int, int]:
    """'2024Q3' -> (year, qnum, period_yyyymmdd, filed_base)."""
    y, qn = int(quarter[:4]), int(quarter[-1])
    period = y * 10_000 + _Q_PERIOD_MMDD[qn]
    filed_base = (y + 1) * 10_000 + 101 if qn == 4 else y * 10_000 + (qn * 3 + 1) * 100 + 1
    return y, qn, period, filed_base


def accession(quarter: str, i: int) -> str:
    """The ``adsh`` of filing ``i`` of ``quarter``; unique across quarters."""
    year, qn = int(quarter[:4]), int(quarter[-1])
    return f"{i + (year * 4 + qn) * 100_000:010d}-{year % 100:02d}-{i:06d}"


def filing_tag(spec: QuarterSpec, i: int, line: int) -> str:
    """The tag that filing ``i`` presents on statement line ``line``."""
    return f"Tag{(i * 7 + line) % spec.n_tag:05d}"


def _tsv(df: pd.DataFrame, header: bool = True) -> bytes:
    return df.to_csv(sep="\t", index=False, header=header).encode()


def quarter_tables(seed: int, spec: QuarterSpec) -> dict[str, bytes]:
    """The four TSV members plus ``ticker.txt`` for one quarter, as bytes."""
    year, qn, period, filed_base = quarter_parts(spec.quarter)
    rng = np.random.default_rng([seed, year, qn])
    n_sub, n_tag, n_num = spec.n_sub, spec.n_tag, spec.n_num
    yy = year % 100
    adsh = np.array([accession(spec.quarter, i) for i in range(n_sub)])
    tags = np.array([f"Tag{i:05d}" for i in range(n_tag)])
    n_company = max(5, n_sub // 3)  # several filings per company -> merge dedups
    cik = 1000 + 7 * rng.integers(0, n_company, n_sub)

    period_col = np.full(n_sub, str(period), dtype=object)
    bad = rng.random(n_sub) < 0.02
    period_col[bad] = rng.choice(_BAD_PERIODS, int(bad.sum()))
    sub = pd.DataFrame(
        {
            "adsh": adsh,
            "cik": cik,
            "name": np.char.add("COMPANY ", cik.astype("U8")),
            "sic": rng.integers(100, 9999, n_sub),
            "countryba": "US",
            "cityba": rng.choice(["BOSTON", "AUSTIN", "DENVER"], n_sub),
            "countryma": rng.choice(["US", "CA", ""], n_sub, p=[0.8, 0.1, 0.1]),
            "cityma": rng.choice(["BOSTON", "TORONTO", ""], n_sub, p=[0.6, 0.3, 0.1]),
            "countryinc": "US",
            "wksi": rng.integers(0, 2, n_sub),
            "fye": 1231,
            "form": rng.choice(["10-K", "10-Q", "8-K"], n_sub),
            "period": period_col,
            "fy": year,
            "fp": f"Q{qn}",
            "filed": filed_base + rng.integers(0, 27, n_sub),
            "accepted": f"{year}-04-10 08:24:00.0",
            "prevrpt": 0,
            "detail": 1,
            "nciks": 1,
        }
    )
    for col in SUB_COLS:
        if col not in sub.columns:
            sub[col] = ""

    tag = pd.DataFrame(
        {
            "tag": tags,
            "version": "us-gaap/2024",
            "custom": 0,
            "abstract": 0,
            "datatype": "monetary",
            "iord": rng.choice(["I", "D"], n_tag),
            "crdr": rng.choice(["D", "C"], n_tag),
            "tlabel": np.char.add("Label ", tags),
            "doc": np.char.add("Doc for ", tags),
        }
    )

    rep = np.repeat(np.arange(n_sub), PRE_PER_FILING)
    line_in_filing = np.tile(np.arange(PRE_PER_FILING), n_sub)
    pre = pd.DataFrame(
        {
            "adsh": adsh[rep],
            "report": 1 + line_in_filing // 4,
            "line": 1 + line_in_filing % 4,
            "stmt": _STMTS[line_in_filing // 4],
            "inpth": 0,
            "rfile": "H",
            "tag": tags[(rep * 7 + line_in_filing) % n_tag],
            "version": "us-gaap/2024",
            "plabel": np.char.add("Line ", (1 + line_in_filing).astype("U2")),
            "negating": 0,
        }
    )

    filing = rng.integers(0, n_sub, n_num)
    line = rng.integers(0, PRE_PER_FILING, n_num)
    num_adsh = adsh[filing].astype(object)
    num_tag = tags[(filing * 7 + line) % n_tag].astype(object)
    orphan = rng.random(n_num)
    num_adsh[orphan < 0.005] = f"9999999999-{yy:02d}-000000"
    num_tag[(orphan >= 0.005) & (orphan < 0.01)] = "TagOrphan"
    value = np.round(rng.normal(1e6, 1e5, n_num), 4).astype(object)
    dirty = rng.random(n_num) < 0.02
    value[dirty] = rng.choice(_JUNK_VALUES, int(dirty.sum()))
    num = pd.DataFrame(
        {
            "adsh": num_adsh,
            "tag": num_tag,
            "version": "us-gaap/2024",
            "ddate": period,
            "qtrs": rng.integers(0, 5, n_num),
            "uom": _UOMS[rng.integers(0, len(_UOMS), n_num)],
            "segments": "",
            "coreg": "",
            "value": value,
            "footnote": "",
        }
    )

    companies = np.unique(cik)
    listed = companies[rng.random(len(companies)) < 0.8]
    ticker = pd.DataFrame({"symbol": np.char.add("SYM", listed.astype("U8")), "cik": listed})
    return {
        "sub.txt": _tsv(sub[SUB_COLS]),
        "tag.txt": _tsv(tag),
        "pre.txt": _tsv(pre),
        "num.txt": _tsv(num),
        "ticker.txt": _tsv(ticker, header=False),
    }


_TSV_MEMBERS = ("sub.txt", "tag.txt", "pre.txt", "num.txt")


def _zip_bytes(members: dict[str, bytes]) -> bytes:
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED, compresslevel=1) as zf:
        for name in _TSV_MEMBERS:
            zf.writestr(zipfile.ZipInfo(name, date_time=_ZIP_TIME), members[name],
                        compress_type=zipfile.ZIP_DEFLATED, compresslevel=1)
    return buf.getvalue()


def write_quarter(seed: int, spec: QuarterSpec, out_dir: str) -> QuarterFiles:
    """Write ``<out_dir>/<quarter>.zip``, ``<out_dir>/<quarter>_ticker.txt``
    and the unzipped TSVs under ``<out_dir>/<quarter>_tsv/``."""
    members = quarter_tables(seed, spec)
    zip_path = os.path.join(out_dir, f"{spec.quarter}.zip")
    ticker_path = os.path.join(out_dir, f"{spec.quarter}_ticker.txt")
    tsv_dir = os.path.join(out_dir, f"{spec.quarter}_tsv")
    os.makedirs(tsv_dir, exist_ok=True)
    with open(zip_path, "wb") as fh:
        fh.write(_zip_bytes(members))
    with open(ticker_path, "wb") as fh:
        fh.write(members["ticker.txt"])
    for name in _TSV_MEMBERS:
        with open(os.path.join(tsv_dir, name), "wb") as fh:
            fh.write(members[name])
    tsv_bytes = sum(len(members[n]) for n in _TSV_MEMBERS)
    return QuarterFiles(spec.quarter, zip_path, ticker_path, tsv_dir, tsv_bytes)


def zip_digest(seed: int, spec: QuarterSpec) -> str:
    """SHA-256 over the quarter ZIP and its ticker file, built in memory."""
    members = quarter_tables(seed, spec)
    return hashlib.sha256(_zip_bytes(members) + members["ticker.txt"]).hexdigest()
