"""HTTP service wrapper: the reference's FastAPI routes (backend/main.py)
served over SecEngine via stdlib http.server — driven with urllib against
an ephemeral port, asserting parity with direct engine calls."""

from __future__ import annotations

import datetime
import decimal
import json
import socket
import struct
import threading
import time
import urllib.error
import urllib.parse
import urllib.request

import pytest
from pyspark.sql import functions as F

from dynaledger_spark import api
from dynaledger_spark.api import SecEngine
from dynaledger_spark.http_service import SecHttpService
from dynaledger_spark.operators.documents import (
    assemble_documents,
    documents_table,
    flatten_statement_view,
)
from dynaledger_spark.operators.facts import build_fact_table
from dynaledger_spark.sources.lookup import load_ticker
from dynaledger_spark.sources.tsv import ROW_ID, ingest_quarter
from tests.sec_fixtures import Q, write_fixtures

FACT_TABLE = f"BALANCE_SHEET_{Q}"
JSON_VIEW = "view_balance_sheet_2023_Q1"


@pytest.fixture(scope="module")
def service(spark, tmp_path_factory):
    """The service over Q1's RAW tables, its balance-sheet fact table and
    its balance-sheet flatten view. The fact table's filing date is a
    date and its value a Decimal, and every flatten-view value is NaN,
    so that replies carry what JSON encodes only through `default=str`
    or sanitizing."""
    paths = write_fixtures(str(tmp_path_factory.mktemp("http_tsv")))
    tables = ingest_quarter(
        spark, {k: v for k, v in paths.items() if k != "ticker"}, Q
    )
    eng = SecEngine(spark)
    for name, df in tables.items():
        eng.register(name, df.drop(ROW_ID))
    facts = build_fact_table(tables["sec_num"], tables["sec_sub"], tables["sec_pre"], "BS")
    eng.register(
        FACT_TABLE,
        facts.withColumn(
            "filing_date", F.to_date(F.col("filing_date").cast("string"), "yyyyMMdd")
        ).withColumn("total_value", F.col("total_value").cast("decimal(27,6)")),
    )
    docs = assemble_documents(
        tables["sec_sub"], tables["sec_num"], tables["sec_tag"], tables["sec_pre"],
        load_ticker(spark, paths["ticker"]),
    )
    view = flatten_statement_view(documents_table(docs), "bs")
    eng.register(JSON_VIEW, view.withColumn("value", F.lit(float("nan"))))
    svc = SecHttpService(eng).start()
    yield svc, eng
    svc.stop()


def _get_body(svc: SecHttpService, path: str) -> bytes:
    with urllib.request.urlopen(f"http://127.0.0.1:{svc.port}{path}") as r:
        assert r.status == 200
        return r.read()


def _get(svc: SecHttpService, path: str):
    with urllib.request.urlopen(f"http://127.0.0.1:{svc.port}{path}") as r:
        return r.status, json.loads(r.read())


def _pull_path(source: str) -> str:
    return "/get-financial-data?" + urllib.parse.urlencode(
        {"year": 2023, "quarter": "Q1", "data_type": "Balance Sheet", "source": source}
    )


def _dumps_reply(data: list[dict], body: bytes) -> bytes:
    """json.dumps of a reply of `data`, at the execution_time `body` reports."""
    t = json.loads(body)["execution_time"]
    return json.dumps({"data": data, "execution_time": t}, default=str).encode()


def _post(svc: SecHttpService, path: str, body):
    req = urllib.request.Request(
        f"http://127.0.0.1:{svc.port}{path}",
        data=json.dumps(body).encode(),
        headers={"Content-Type": "application/json"},
        method="POST",
    )
    with urllib.request.urlopen(req) as r:
        return r.status, json.loads(r.read())


def test_check_availability(service):
    svc, _ = service
    status, out = _get(svc, "/check-availability?source=RAW&year=2023&quarter=Q1")
    assert (status, out) == (200, {"available": True})
    status, out = _get(svc, "/check-availability?source=RAW&year=2024&quarter=Q4")
    assert (status, out) == (200, {"available": False})


def test_get_financial_data_matches_engine(service):
    svc, eng = service
    status, out = _get(
        svc,
        "/get-financial-data?year=2023&quarter=Q1"
        "&data_type=Balance%20Sheet&source=RAW",
    )
    assert status == 200
    direct = eng.get_financial_data(2023, "Q1", "Balance Sheet", "RAW")
    # JSON round-trip stringifies non-JSON scalars (default=str), so
    # compare on the stringified view of the direct rows.
    want = json.loads(json.dumps(direct["data"], default=str))
    assert out["data"] == want
    assert out["execution_time"] > 0


def test_concurrent_identical_pulls_match(service):
    """8 identical pulls at once, racing to collect the first reply, and
    a later pull answered from the cached rows, all return the same rows."""
    svc, eng = service
    path = "/get-financial-data?year=2023&quarter=Q1&data_type=Cash%20Flow&source=RAW"
    start = threading.Barrier(8)
    replies = [None] * 8

    def pull(i):
        start.wait()
        replies[i] = _get(svc, path)

    threads = [threading.Thread(target=pull, args=(i,)) for i in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    direct = eng.get_financial_data(2023, "Q1", "Cash Flow", "RAW")["data"]
    want = json.loads(json.dumps(direct, default=str))
    assert want
    assert [status for status, _ in replies] == [200] * 8
    assert all(out["data"] == want for _, out in replies)


@pytest.mark.parametrize(
    "source, kinds",
    [
        ("RAW", {"value": float}),
        ("FACT TABLES", {"filing_date": datetime.date, "total_value": decimal.Decimal}),
        ("JSON", {"value": type(None)}),
    ],
    ids=["raw", "fact", "json"],
)
def test_reply_body_is_dumps_of_engine_rows(service, source, kinds):
    """Every pull's body, first and repeated, is byte for byte the
    json.dumps(default=str) of the engine's reply at the body's own
    execution_time: dates and Decimals as strings, a NaN as null."""
    svc, eng = service
    first = _get_body(svc, _pull_path(source))
    again = _get_body(svc, _pull_path(source))
    data = eng.get_financial_data(2023, "Q1", "Balance Sheet", source)["data"]
    assert all(any(isinstance(r[c], k) for r in data) for c, k in kinds.items())
    assert first == _dumps_reply(data, first)
    assert again == _dumps_reply(data, again)


def test_repeated_pull_sends_stored_bytes(service, monkeypatch):
    """A repeated pull sends the bytes its key's first HTTP pull encoded,
    and encodes no row again."""
    svc, eng = service
    path = _pull_path("FACT TABLES")
    _get_body(svc, path)
    stored = eng._replies[(2023, "1", "Balance Sheet", "FACT TABLES")].data_json
    dumps, encoded = api.json.dumps, []

    def counting_dumps(obj, **kw):
        encoded.append(type(obj))
        return dumps(obj, **kw)

    monkeypatch.setattr(api.json, "dumps", counting_dumps)
    body = _get_body(svc, path)
    monkeypatch.setattr(api.json, "dumps", dumps)
    assert eng._replies[(2023, "1", "Balance Sheet", "FACT TABLES")].data_json is stored
    assert body.startswith(b'{"data": ' + stored + b', "execution_time": ')
    assert encoded == [float]


def test_replaced_table_changes_next_body(service):
    """Replacing a table a reply read, through `register`, changes the
    next body to the new table's rows."""
    svc, eng = service
    path = _pull_path("FACT TABLES")
    facts = eng.tables[FACT_TABLE]
    before = json.loads(_get_body(svc, path))["data"]
    try:
        eng.register(FACT_TABLE, facts.limit(1))
        after = _get_body(svc, path)
        want = eng.get_financial_data(2023, "Q1", "Balance Sheet", "FACT TABLES")["data"]
    finally:
        eng.register(FACT_TABLE, facts)
    assert len(before) > 1 and len(want) == 1
    assert after == _dumps_reply(want, after)


def test_mutated_engine_reply_keeps_next_body(service):
    """A caller mutating the rows `get_financial_data` returned does not
    change the next body."""
    svc, eng = service
    path = _pull_path("RAW")
    eng._replies.pop((2023, "1", "Balance Sheet", "RAW"), None)
    for _ in range(2):  # before and after the key's first HTTP pull
        rows = eng.get_financial_data(2023, "Q1", "Balance Sheet", "RAW")["data"]
        want = json.loads(json.dumps(rows, default=str))
        rows[0]["value"] = "mutated"
        rows.pop()
        assert json.loads(_get_body(svc, path))["data"] == want


def test_custom_query_roundtrip(service):
    svc, _ = service
    status, out = _post(
        svc,
        "/execute-custom-query?data_source=Raw",
        {"query": "SELECT COUNT(*) AS n FROM sec_sub WHERE period IS NOT NULL"},
    )
    assert (status, out) == (200, {"data": [{"n": 4}]})


def test_custom_query_bad_sql_is_500(service):
    svc, _ = service
    with pytest.raises(urllib.error.HTTPError) as e:
        _post(svc, "/execute-custom-query?data_source=Raw", {"query": "SELEC nope"})
    assert e.value.code == 500


@pytest.mark.parametrize("body", [5, None, "query", ["query"], {"query": 5}])
def test_custom_query_malformed_body_is_400(service, body):
    """A body that is not an object with a string `query` is the client's
    error, answered 400 like a missing `query` — never a 500."""
    svc, _ = service
    with pytest.raises(urllib.error.HTTPError) as e:
        _post(svc, "/execute-custom-query?data_source=Raw", body)
    assert e.value.code == 400


def test_query_data_get_roundtrip(service):
    # GET /query-data (backend/main.py:224-252): the unparameterized GET
    # twin of POST /execute-custom-query — same payload shape ({"data": …},
    # no execution_time key), query URL-encoded in the query string.
    svc, eng = service
    sql = "SELECT name, COUNT(*) AS n FROM sec_sub GROUP BY name ORDER BY name"
    status, out = _get(svc, "/query-data?query=" + urllib.parse.quote(sql))
    assert status == 200
    direct = eng.execute_custom_query(sql)
    assert out == json.loads(json.dumps(direct, default=str))
    assert set(out) == {"data"}


def test_query_data_missing_param_is_422(service):
    svc, _ = service
    with pytest.raises(urllib.error.HTTPError) as e:
        _get(svc, "/query-data")
    assert e.value.code == 422


def test_query_data_bad_sql_is_500_with_detail(service):
    svc, _ = service
    with pytest.raises(urllib.error.HTTPError) as e:
        _get(svc, "/query-data?query=" + urllib.parse.quote("SELEC nope"))
    # main.py:247: detail=str(e), not the POST route's generic message
    assert e.value.code == 500
    assert json.loads(e.value.read())["detail"]


def test_table_info_raw(service):
    svc, _ = service
    status, out = _get(svc, "/get-table-info?data_source=RAW&year=2023&quarter=Q1")
    assert status == 200
    assert [t["name"] for t in out] == ["sec_num", "sec_pre", "sec_sub", "sec_tag"]
    sub = next(t for t in out if t["name"] == "sec_sub")
    assert {"name", "type"} <= set(sub["columns"][0])
    assert len(sub["sample_data"]) == 3
    # RAW tables hold every quarter: the samples come from the asked one,
    # and a quarter without rows fails like an absent fact/JSON table
    assert {r["source_file"] for t in out for r in t["sample_data"]} == {Q}
    with pytest.raises(urllib.error.HTTPError) as e:
        _get(svc, "/get-table-info?data_source=RAW&year=2024&quarter=Q4")
    assert e.value.code == 500
    assert json.loads(e.value.read())["detail"].startswith("Failed to fetch table info")


def test_invalid_source_is_400(service):
    svc, _ = service
    with pytest.raises(urllib.error.HTTPError) as e:
        _get(svc, "/get-table-info?data_source=BOGUS&year=2023&quarter=Q1")
    assert e.value.code == 400


def test_invalid_quarter_is_400(service):
    svc, _ = service
    for path in (
        "/get-financial-data?year=2023&quarter=Q5&data_type=Cash%20Flow&source=RAW",
        "/check-availability?source=RAW&year=2023&quarter=Q9",
        "/get-table-info?data_source=JSON&year=2023&quarter=Q9",
    ):
        with pytest.raises(urllib.error.HTTPError) as e:
            _get(svc, path)
        assert e.value.code == 400, path


def test_negative_content_length_is_400(service):
    """A negative Content-Length is answered at once, not read until the
    client closes the connection."""
    svc, _ = service
    with socket.create_connection(("127.0.0.1", svc.port), timeout=3) as sock:
        sock.sendall(b"POST /execute-custom-query HTTP/1.1\r\nContent-Length: -1\r\n\r\n")
        head = sock.recv(64)
    assert head.split()[1] == b"400"


def test_client_disconnect_is_quiet(service, capfd):
    """A client that resets the connection before its reply is written
    costs the server nothing: no traceback on stderr, and the next
    request is served."""
    svc, _ = service
    capfd.readouterr()
    sock = socket.create_connection(("127.0.0.1", svc.port), timeout=3)
    sock.sendall(
        b"GET /check-availability?source=RAW&year=2023&quarter=Q1 HTTP/1.1\r\n"
        b"Host: localhost\r\n\r\n"
    )
    # linger 0: close() sends RST, so the server's reply write fails
    sock.setsockopt(socket.SOL_SOCKET, socket.SO_LINGER, struct.pack("ii", 1, 0))
    sock.close()
    deadline = time.time() + 30
    while time.time() < deadline and any(
        t.name.endswith("(process_request_thread)") for t in threading.enumerate()
    ):
        time.sleep(0.05)
    status, out = _get(svc, "/check-availability?source=RAW&year=2023&quarter=Q1")
    assert (status, out) == (200, {"available": True})
    assert capfd.readouterr().err == ""


def test_unknown_route_is_404(service):
    svc, _ = service
    with pytest.raises(urllib.error.HTTPError) as e:
        _get(svc, "/nope")
    assert e.value.code == 404
