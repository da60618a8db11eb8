"""HTTP service wrapper: the reference's FastAPI routes (backend/main.py)
served over SecEngine via stdlib http.server — driven with urllib against
an ephemeral port, asserting parity with direct engine calls."""

from __future__ import annotations

import json
import threading
import urllib.error
import urllib.parse
import urllib.request

import pytest

from dynaledger_spark.api import SecEngine
from dynaledger_spark.http_service import SecHttpService
from dynaledger_spark.sources.tsv import ROW_ID, ingest_quarter
from tests.sec_fixtures import Q, write_fixtures


@pytest.fixture(scope="module")
def service(spark, tmp_path_factory):
    paths = write_fixtures(str(tmp_path_factory.mktemp("http_tsv")))
    tables = ingest_quarter(
        spark, {k: v for k, v in paths.items() if k != "ticker"}, Q
    )
    eng = SecEngine(spark)
    for name, df in tables.items():
        eng.register(name, df.drop(ROW_ID))
    svc = SecHttpService(eng).start()
    yield svc, eng
    svc.stop()


def _get(svc: SecHttpService, path: str):
    with urllib.request.urlopen(f"http://127.0.0.1:{svc.port}{path}") as r:
        return r.status, json.loads(r.read())


def _post(svc: SecHttpService, path: str, body: dict):
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
    """8 identical pulls at once, racing to prepare the pull and then
    re-collecting it, all return the engine's rows."""
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


def test_invalid_source_is_400(service):
    svc, _ = service
    with pytest.raises(urllib.error.HTTPError) as e:
        _get(svc, "/get-table-info?data_source=BOGUS&year=2023&quarter=Q1")
    assert e.value.code == 400


def test_unknown_route_is_404(service):
    svc, _ = service
    with pytest.raises(urllib.error.HTTPError) as e:
        _get(svc, "/nope")
    assert e.value.code == 404
