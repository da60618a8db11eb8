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

from dynaledger_spark import api, http_service
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
DOC_TABLE = f"sec_data_{Q}"


@pytest.fixture(scope="module")
def service(spark, tmp_path_factory):
    """The service over Q1's RAW tables, its balance-sheet fact table,
    its document table and its balance-sheet flatten view. The fact
    table's filing date is a date and its value a Decimal, and every
    flatten-view value and every nested balance-sheet value of the
    document table is NaN, so that replies carry what JSON encodes only
    through `default=str` or sanitizing."""
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
    nan_bs = F.transform(
        "raw_json.data.bs", lambda e: e.withField("value", F.lit(float("nan")))
    )
    eng.register(
        DOC_TABLE,
        documents_table(docs).withColumn(
            "raw_json", F.col("raw_json").withField("data.bs", nan_bs)
        ),
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


def _pass_through(svc: SecHttpService, route: str, sql: str):
    if route == "POST":
        return _post(svc, "/execute-custom-query?data_source=Raw", {"query": sql})
    return _get(svc, "/query-data?query=" + urllib.parse.quote(sql))


def test_pass_through_refuses_statements_that_change_the_session(service, tmp_path):
    """Both pass-through routes answer 400 to a statement that would
    change the shared session, before it runs: the setting keeps its
    value and `sec_sub` still answers. Queries (CTEs, set operations,
    VALUES) still pass."""
    svc, eng = service
    setting = "spark.sql.shuffle.partitions"
    before = eng.spark.conf.get(setting)
    count = "SELECT COUNT(*) AS n FROM sec_sub WHERE period IS NOT NULL"
    statements = [
        f"SET {setting}=1",
        "DROP VIEW sec_sub",
        "EXECUTE IMMEDIATE 'DROP VIEW sec_sub'",
        "WITH s AS (SELECT * FROM sec_sub) INSERT INTO sec_sub SELECT * FROM s",
        "FROM sec_sub INSERT INTO sec_sub SELECT * INSERT INTO sec_sub SELECT *",
        f"INSERT OVERWRITE DIRECTORY '{tmp_path}' USING parquet SELECT * FROM sec_sub",
    ]
    try:
        for route in ("POST", "GET"):
            for sql in statements:
                with pytest.raises(urllib.error.HTTPError) as e:
                    _pass_through(svc, route, sql)
                assert e.value.code == 400, (route, sql)
                assert json.loads(e.value.read())["detail"]
                assert eng.spark.conf.get(setting) == before, (route, sql)
                assert _pass_through(svc, route, count) == (200, {"data": [{"n": 4}]})
            for sql in (
                f"WITH s AS ({count}) SELECT n FROM s",
                f"{count} UNION ALL {count}",
                "VALUES (4)",
            ):
                status, _ = _pass_through(svc, route, sql)
                assert status == 200, (route, sql)
        assert not any(tmp_path.iterdir())
    finally:
        eng.spark.conf.set(setting, before)
        eng.tables["sec_sub"].createOrReplaceTempView("sec_sub")


def test_pass_through_cannot_call_java_or_read_files(service, tmp_path):
    """A query that calls a static Java method (plainly, in a CTE or in a
    scalar subquery) or reads a file by path fails on both routes: no
    JVM system property is set and no body holds the file's text. A
    query over a registered table still answers."""
    svc, eng = service
    system = eng.spark._jvm.java.lang.System
    secret = tmp_path / "secret.txt"
    secret.write_text("dl-secret-7f3a\n")
    probes = [
        "SELECT java_method('java.lang.System', 'setProperty', 'dl_probe', 'x')",
        "WITH p AS (SELECT reflect('java.lang.System', 'setProperty', 'dl_probe', 'x') AS v)"
        " SELECT v FROM p",
        "SELECT (SELECT try_reflect('java.lang.System', 'setProperty', 'dl_probe', 'x')) AS v",
        f"SELECT value FROM text.`{secret}`",
    ]
    try:
        for route in ("POST", "GET"):
            for sql in probes:
                with pytest.raises(urllib.error.HTTPError) as e:
                    _pass_through(svc, route, sql)
                assert e.value.code >= 400, (route, sql)
                assert "dl-secret-7f3a" not in e.value.read().decode(), (route, sql)
                assert system.getProperty("dl_probe") is None, (route, sql)
            status, _ = _pass_through(svc, route, "SELECT COUNT(*) AS n FROM sec_sub")
            assert status == 200
    finally:
        system.clearProperty("dl_probe")


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


def _reject_constant(name):
    raise ValueError(f"not strict JSON: {name}")


def test_table_info_json_is_strict_nested_json(service):
    """The document table's samples keep their nested field names, and
    the NaN inside them is sent as null: the body is strict JSON."""
    svc, _ = service
    body = _get_body(svc, "/get-table-info?data_source=JSON&year=2023&quarter=Q1")
    (info,) = json.loads(body, parse_constant=_reject_constant)
    assert info["name"] == DOC_TABLE
    assert len(info["sample_data"]) == 3
    for row in info["sample_data"]:
        doc = row["raw_json"]
        assert {"quarter", "symbol", "data"} <= set(doc)
        assert set(doc["data"]) == {"bs", "cf", "ic"}
        assert all(set(e) == {"label", "concept", "info", "unit", "value"}
                   for e in doc["data"]["bs"])
        assert all(e["value"] is None for e in doc["data"]["bs"])
    assert any(row["raw_json"]["data"]["bs"] for row in info["sample_data"])


def test_custom_query_nested_json_is_strict(service):
    """A pass-through query over the document table, by POST and GET:
    its rows keep their nested field names and send NaN as null."""
    svc, _ = service
    sql = f"SELECT symbol, raw_json FROM {DOC_TABLE} ORDER BY symbol"
    req = urllib.request.Request(
        f"http://127.0.0.1:{svc.port}/execute-custom-query?data_source=Raw",
        data=json.dumps({"query": sql}).encode(),
        headers={"Content-Type": "application/json"},
        method="POST",
    )
    with urllib.request.urlopen(req) as r:
        posted = r.read()
    got = _get_body(svc, "/query-data?query=" + urllib.parse.quote(sql))
    assert got == posted
    rows = json.loads(got, parse_constant=_reject_constant)["data"]
    assert rows and all(set(row) == {"symbol", "raw_json"} for row in rows)
    for row in rows:
        doc = row["raw_json"]
        assert doc["symbol"] == row["symbol"]
        assert set(doc["data"]) == {"bs", "cf", "ic"}
        assert all(e["value"] is None for e in doc["data"]["bs"])
    assert any(row["raw_json"]["data"]["bs"] for row in rows)


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


def test_oversized_content_length_is_413(service):
    """A declared length over the limit is answered at once, before the
    body is read: no buffer of that size and no wait for the rest."""
    svc, _ = service
    for length in (1 << 40, 10**9):
        with socket.create_connection(("127.0.0.1", svc.port), timeout=3) as sock:
            sock.sendall(
                b"POST /execute-custom-query HTTP/1.1\r\n"
                b"Content-Length: %d\r\n\r\n{}" % length
            )
            head = sock.recv(64)
        assert head.split()[1] == b"413", length


def test_stalled_body_or_request_line_is_timed_out(monkeypatch):
    """A client that stops sending partway holds its handler thread only
    for the request timeout: a body shorter than its declared length is
    a 408, and a request line never finished closes the connection."""
    monkeypatch.setattr(http_service, "REQUEST_TIMEOUT_S", 1)
    svc = SecHttpService(engine=None).start()
    try:
        for request, want in (
            (b"POST /execute-custom-query HTTP/1.1\r\nContent-Length: 3\r\n\r\n{}", b"408"),
            (b"GET /check-availab", None),
        ):
            t0 = time.perf_counter()
            with socket.create_connection(("127.0.0.1", svc.port), timeout=3) as sock:
                sock.sendall(request)
                head = sock.recv(64)
            assert time.perf_counter() - t0 < 3, request
            assert (head.split()[1] if head else None) == want, (request, head)
    finally:
        svc.stop()


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
