"""HTTP scrape source (SURVEY §2.1 S1) — quarterly ZIP discovery + fetch.

Reference behavior being re-expressed (web_scrapper.py:33-89, variant
sec_data_scrapper.py:31-78): GET an index page, parse every ``<a href>``,
keep links whose href ends in ``.zip`` and whose link text contains the
requested year; the quarter token is ``link_text.split()[1]`` compared
case-insensitively against ``Q{quarter}``; each selected ZIP is streamed
to object storage under ``{year}_{quarter}.zip``.

Spark-first split: acquisition is driver-side plain Python (a cluster
gains nothing from distributing a handful of index-page fetches, and the
reference's own scraper is a single-process Airflow task); everything
after the bytes land — ZIP extraction, TSV scan, typed load — is the
distributed path (`sources.tsv.extract_zip` / `ingest_quarter`).

No third-party deps: link extraction uses ``html.parser`` (bs4 isn't in
the image), fetching uses ``urllib.request`` behind an injectable
``fetch`` callable so tests run offline against local fixtures.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from html.parser import HTMLParser
from typing import Callable
from urllib.parse import urljoin

# SEC guidelines require a descriptive User-Agent (web_scrapper.py:19-23);
# callers override via the `headers` argument.
DEFAULT_HEADERS = {
    "User-Agent": "dynaledger-spark data loader",
    "Accept-Encoding": "gzip, deflate",
}

Fetcher = Callable[[str], bytes]


@dataclass(frozen=True)
class ZipLink:
    """One candidate quarterly archive discovered on the index page."""

    text: str  # link text, e.g. "2023 Q1"
    url: str  # absolute URL
    quarter: str  # token parsed from the text, e.g. "Q1"


class _AnchorCollector(HTMLParser):
    """Collect (href, text) for every <a href=...> — bs4-free."""

    def __init__(self) -> None:
        super().__init__()
        self._href: str | None = None
        self._text: list[str] = []
        self.anchors: list[tuple[str, str]] = []

    def handle_starttag(self, tag, attrs):
        if tag == "a":
            href = dict(attrs).get("href")
            if href is not None:
                self._href = href
                self._text = []

    def handle_data(self, data):
        if self._href is not None:
            self._text.append(data)

    def handle_endtag(self, tag):
        if tag == "a" and self._href is not None:
            self.anchors.append((self._href, "".join(self._text).strip()))
            self._href = None


def default_fetch(headers: dict[str, str] | None = None) -> Fetcher:
    """urllib-based fetcher with SEC-style headers (network path)."""
    import urllib.request

    hdrs = dict(DEFAULT_HEADERS if headers is None else headers)

    def fetch(url: str) -> bytes:
        req = urllib.request.Request(url, headers=hdrs)
        with urllib.request.urlopen(req) as resp:  # noqa: S310 — caller-supplied URL
            return resp.read()

    return fetch


def list_zip_links(html: str, base_url: str) -> list[ZipLink]:
    """All .zip anchors on an index page, hrefs resolved against base_url."""
    parser = _AnchorCollector()
    parser.feed(html)
    out: list[ZipLink] = []
    for href, text in parser.anchors:
        if not href.endswith(".zip"):
            continue
        parts = text.split()
        # Reference takes split()[1] as the quarter token
        # (web_scrapper.py:55); tolerate malformed link text.
        quarter = parts[1] if len(parts) > 1 else ""
        out.append(ZipLink(text=text, url=urljoin(base_url, href), quarter=quarter))
    return out


def select_quarters(
    links: list[ZipLink], year: int | str, quarter: int | str | None = None
) -> list[ZipLink]:
    """Reference selection semantics: year substring-matches the link text;
    quarter (if given) compares ``Q{quarter}`` to the token, case-insensitive
    (sec_data_scrapper.py:47-51)."""
    selected = [ln for ln in links if str(year) in ln.text]
    if quarter is not None:
        want = f"Q{quarter}".upper()
        selected = [ln for ln in selected if ln.quarter.upper() == want]
    return selected


def download_quarterly_data(
    year: int | str,
    quarter: int | str | None = None,
    *,
    base_url: str,
    out_dir: str,
    fetch: Fetcher | None = None,
) -> list[str]:
    """Discover + download quarterly ZIPs → local paths ``{year}_{Qn}.zip``.

    The reference streams each archive to ``raw/{year}_{quarter}.zip`` in
    object storage (web_scrapper.py:60-77); here the landing zone is any
    directory Spark can read (local, HDFS-mounted, fuse). Empty responses
    are rejected like sec_data_scrapper.py:60-62. Returns the list of
    written paths ([] when nothing matched — the reference's False path).
    """
    fetch = fetch or default_fetch()
    index_html = fetch(base_url).decode("utf-8", errors="replace")
    links = select_quarters(list_zip_links(index_html, base_url), year, quarter)
    os.makedirs(out_dir, exist_ok=True)
    written: list[str] = []
    for link in links:
        data = fetch(link.url)
        if not data:
            raise IOError(f"empty archive from {link.url}")
        path = os.path.join(out_dir, f"{year}_{link.quarter}.zip")
        with open(path, "wb") as fh:
            fh.write(data)
        written.append(path)
    return written


def scrape_and_ingest(
    spark,
    year: int | str,
    quarter: int | str,
    *,
    base_url: str,
    work_dir: str,
    fetch: Fetcher | None = None,
):
    """End-to-end S1→S3→S4: scrape one quarter, extract, load typed tables.

    Composition of the acquisition utility above with the distributed
    ingest path (sources/tsv.py) — the full reference raw_data_flow_dag
    shape minus the orchestrator. Rows are tagged `{year}Q{n}`, the
    `source_file` every query and store filters on; `select_quarters`
    keeps only links whose token is `Q{quarter}`, so that is the
    selected link's quarter.
    """
    from dynaledger_spark.sources.tsv import extract_zip, ingest_quarter

    zips = download_quarterly_data(
        year, quarter, base_url=base_url, out_dir=os.path.join(work_dir, "raw"), fetch=fetch
    )
    if not zips:
        return {}
    members = extract_zip(zips[0], os.path.join(work_dir, "extracted"))
    return ingest_quarter(spark, members, source_file=f"{year}Q{quarter}")
