"""S1 HTTP scrape source — offline, fixture-backed (no network).

Mirrors the reference scraper's selection semantics
(web_scrapper.py:47-57, sec_data_scrapper.py:42-51) against a local
index-page fixture, then runs the full scrape→extract→ingest path with
an injected fetcher serving a synthetic quarterly ZIP.
"""

from __future__ import annotations

import os
import zipfile

import pytest

from dynaledger_spark.api import SecEngine
from dynaledger_spark.sources.scrape import (
    ZipLink,
    download_quarterly_data,
    list_zip_links,
    scrape_and_ingest,
    select_quarters,
)
from tests.sec_fixtures import write_fixtures

BASE = "https://example.test/data-sets"

INDEX_HTML = """
<html><body>
  <p>Financial statement data sets</p>
  <a href="/files/2023q1.zip">2023 Q1</a>
  <a href="/files/2023q2.zip">2023 Q2</a>
  <a href="/files/2022q4.zip">2022 Q4</a>
  <a href="https://cdn.example.test/2023q3.zip">2023 q3</a>
  <a href="/docs/readme.html">2023 Q1 readme</a>
  <a href="/files/orphan.zip">orphan</a>
</body></html>
"""


def _make_quarter_zip(tmp_path) -> bytes:
    tsv_dir = tmp_path / "tsv"
    paths = write_fixtures(str(tsv_dir))
    zip_path = tmp_path / "q.zip"
    with zipfile.ZipFile(zip_path, "w") as zf:
        for table, path in paths.items():
            if table != "ticker":
                zf.write(path, arcname=os.path.basename(path))
    return zip_path.read_bytes()


def test_link_extraction_resolves_and_filters():
    links = list_zip_links(INDEX_HTML, BASE)
    # .html link dropped; relative + absolute hrefs both resolved
    assert [ln.url for ln in links] == [
        "https://example.test/files/2023q1.zip",
        "https://example.test/files/2023q2.zip",
        "https://example.test/files/2022q4.zip",
        "https://cdn.example.test/2023q3.zip",
        "https://example.test/files/orphan.zip",
    ]
    assert links[0].quarter == "Q1"
    assert links[3].quarter == "q3"  # raw token; matching is case-insensitive
    assert links[4].quarter == ""  # malformed text tolerated


def test_selection_semantics_match_reference():
    links = list_zip_links(INDEX_HTML, BASE)
    # year only → every quarter of that year
    assert [ln.text for ln in select_quarters(links, 2023)] == [
        "2023 Q1",
        "2023 Q2",
        "2023 q3",
    ]
    # year + quarter → exactly one, case-insensitive Q-token compare
    assert [ln.url for ln in select_quarters(links, 2023, 3)] == [
        "https://cdn.example.test/2023q3.zip"
    ]
    assert select_quarters(links, 2024) == []
    assert select_quarters(links, "2022", "4") == [
        ZipLink(text="2022 Q4", url="https://example.test/files/2022q4.zip", quarter="Q4")
    ]


def test_download_writes_reference_key_shape(tmp_path):
    zip_bytes = _make_quarter_zip(tmp_path)
    fetched = []

    def fetch(url: str) -> bytes:
        fetched.append(url)
        return INDEX_HTML.encode() if url == BASE else zip_bytes

    out = download_quarterly_data(
        2023, 1, base_url=BASE, out_dir=str(tmp_path / "raw"), fetch=fetch
    )
    assert [os.path.basename(p) for p in out] == ["2023_Q1.zip"]
    assert fetched == [BASE, "https://example.test/files/2023q1.zip"]
    assert zipfile.ZipFile(out[0]).namelist()  # intact archive

    # no match → empty, nothing fetched beyond the index
    assert download_quarterly_data(
        2024, base_url=BASE, out_dir=str(tmp_path / "raw"), fetch=fetch
    ) == []


def test_empty_archive_rejected(tmp_path):
    def fetch(url: str) -> bytes:
        return INDEX_HTML.encode() if url == BASE else b""

    with pytest.raises(IOError, match="empty archive"):
        download_quarterly_data(
            2023, 1, base_url=BASE, out_dir=str(tmp_path / "raw"), fetch=fetch
        )


def test_scrape_to_typed_tables_end_to_end(spark, tmp_path):
    zip_bytes = _make_quarter_zip(tmp_path)

    def fetch(url: str) -> bytes:
        return INDEX_HTML.encode() if url == BASE else zip_bytes

    tables = scrape_and_ingest(
        spark, 2023, 1, base_url=BASE, work_dir=str(tmp_path / "wk"), fetch=fetch
    )
    assert set(tables) == {"sec_sub", "sec_tag", "sec_num", "sec_pre"}
    sub = tables["sec_sub"]
    assert dict(sub.dtypes)["cik"] == "bigint"
    assert sub.count() == 5
    # every row carries the warehouse's quarter tag, so the scraped
    # quarter answers the engine's queries
    assert sub.select("source_file").distinct().collect()[0][0] == "2023Q1"
    eng = SecEngine(spark)
    for name, df in tables.items():
        eng.register(name, df)
    assert eng.check_availability(2023, "Q1") == {"available": True}
    assert eng.get_financial_data(2023, "Q1", "Balance Sheet", "RAW")["data"]
