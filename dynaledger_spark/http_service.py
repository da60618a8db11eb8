"""HTTP service surface — the reference's FastAPI app over SecEngine.

Reference: backend/main.py (FastAPI + Snowflake). Routes reproduced:

  GET  /check-availability?source=&year=&quarter=      (main.py:43-66)
  GET  /get-table-info?data_source=&year=&quarter=     (main.py:68-106)
  POST /execute-custom-query?data_source=   {"query"}  (main.py:109-134)
  GET  /get-financial-data?year=&quarter=&data_type=&source=
                                                       (main.py:137-221)
  GET  /query-data?query=                              (main.py:224-252)

The reference's handlers template Snowflake SQL per request; here each
route delegates to the in-process :class:`~dynaledger_spark.api.SecEngine`
plan (Catalyst executes). Stdlib ``http.server`` keeps the wrapper
dependency-free — FastAPI isn't available in this environment, and the
HTTP layer is deliberately thin: parse params → engine call → JSON. A
statement pull's body comes from the engine already encoded, so a
repeated pull sends the stored bytes of its first.

Threading: handlers run on ThreadingHTTPServer worker threads; py4j calls
into the shared SparkSession are thread-safe, and each collect is a
separate Spark job, so concurrent requests just become concurrent jobs
(FAIR-schedulable via spark.scheduler.mode if a deployment needs it).
"""

from __future__ import annotations

import json
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse

from pyspark.sql import functions as F

from dynaledger_spark.api import (
    _FACT_NAMES,
    NotAQueryError,
    SecEngine,
    _quarter_number,
    describe_table,
)

# data_source → raw-table-name templates for /get-table-info
# (main.py:80-88). The reference suffixes physical table names per
# quarter; the engine models quarters as a source_file partition, so RAW
# names are unsuffixed while fact/JSON tables keep the reference naming.
_RAW_TABLES = ("sec_num", "sec_pre", "sec_sub", "sec_tag")
_RAW_SOURCES = ("RAW", "Raw")

# A POST body is a pass-through query's SQL text. A larger declared
# length is refused before any of it is read: read(n) allocates n bytes
# up front and then waits for the client to send them.
MAX_BODY_BYTES = 1 << 20
# Seconds a connection may wait on its client for one read or write. A
# request line, header or body that stalls longer is given up, so a slow
# or silent client cannot hold a handler thread.
REQUEST_TIMEOUT_S = 30


def _table_names(data_source: str, tag: str) -> list[str]:
    if data_source in _RAW_SOURCES:
        return list(_RAW_TABLES)
    if data_source == "JSON":
        return [f"sec_data_{tag}"]
    if data_source in ("Fact Tables", "FACT TABLES"):
        return [f"{name}_{tag}" for name in _FACT_NAMES.values()]
    raise ValueError(f"Invalid data source: {data_source}")


class _ApiError(Exception):
    def __init__(self, status: int, detail: str):
        super().__init__(detail)
        self.status = status
        self.detail = detail


def _table_info(engine: SecEngine, data_source: str, year: int, quarter: str) -> list[dict]:
    """/get-table-info: each table of the quarter, or a 500 if it has none.

    The RAW tables hold every quarter, so their sample rows come from
    the asked quarter's source_file, which must hold rows."""
    tag = f"{year}Q{_quarter_number(quarter)}"
    names = _table_names(data_source, tag)
    missing = [n for n in names if n not in engine.tables]
    if missing:
        raise _ApiError(500, f"Failed to fetch table info: {missing}")
    if data_source not in _RAW_SOURCES:
        return engine.table_info(names)
    info = [
        describe_table(n, engine.tables[n].filter(F.col("source_file") == tag))
        for n in names
    ]
    empty = [t["name"] for t in info if not t["sample_data"]]
    if empty:
        raise _ApiError(500, f"Failed to fetch table info: {empty}")
    return info


def _make_handler(engine: SecEngine):
    class Handler(BaseHTTPRequestHandler):
        # StreamRequestHandler sets it on the connection's socket; a
        # request line or header that times out closes the connection
        timeout = REQUEST_TIMEOUT_S

        # Silence per-request stderr logging.
        def log_message(self, fmt, *args):  # noqa: D102
            pass

        def _reply(self, status: int, payload) -> None:
            """Send `payload`: bytes as they are, else encoded as JSON."""
            if isinstance(payload, bytes):
                body = payload
            else:
                # default=str covers datetime.date / Decimal from Spark rows —
                # same shapes FastAPI's jsonable_encoder stringifies.
                body = json.dumps(payload, default=str).encode()
            try:
                self.send_response(status)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)
            except (BrokenPipeError, ConnectionResetError, TimeoutError):
                # the client hung up, or stopped reading, before its reply
                # was written
                self.close_connection = True

        def _params(self) -> dict[str, str]:
            qs = parse_qs(urlparse(self.path).query)
            return {k: v[0] for k, v in qs.items()}

        def _route(self) -> str:
            return urlparse(self.path).path

        def do_GET(self) -> None:  # noqa: N802
            try:
                self._reply(200, self._get(self._route(), self._params()))
            except _ApiError as e:
                self._reply(e.status, {"detail": e.detail})
            except (KeyError, ValueError) as e:
                self._reply(400, {"detail": str(e)})
            except Exception as e:  # pragma: no cover - defensive 500
                self._reply(500, {"detail": str(e)})

        def do_POST(self) -> None:  # noqa: N802
            try:
                n = int(self.headers.get("Content-Length", 0))
                if n < 0:
                    # read(-1) would wait for the client to close
                    raise ValueError(f"Invalid Content-Length: {n}")
                if n > MAX_BODY_BYTES:
                    # the unread body must not be parsed as a next request
                    self.close_connection = True
                    raise _ApiError(413, f"Request body over {MAX_BODY_BYTES} bytes")
                try:
                    raw = self.rfile.read(n)
                except TimeoutError:
                    self.close_connection = True
                    raise _ApiError(408, f"Request body not sent within {self.timeout} s")
                body = json.loads(raw or b"{}")
                self._reply(200, self._post(self._route(), self._params(), body))
            except _ApiError as e:
                self._reply(e.status, {"detail": e.detail})
            except (KeyError, ValueError) as e:
                self._reply(400, {"detail": str(e)})
            except Exception as e:
                # main.py:131 returns a generic 500 on query failure.
                self._reply(500, {"detail": str(e)})

        # ---- routes -----------------------------------------------------
        def _get(self, route: str, p: dict[str, str]):
            if route == "/check-availability":
                return engine.check_availability(int(p["year"]), p["quarter"])
            if route == "/get-table-info":
                return _table_info(engine, p["data_source"], int(p["year"]), p["quarter"])
            if route == "/get-financial-data":
                return engine.financial_data_json(
                    int(p["year"]), p["quarter"], p["data_type"], p["source"]
                )
            if route == "/query-data":
                # GET twin of POST /execute-custom-query (main.py:224-252):
                # same spark.sql pass-through + float sanitize, query in the
                # query string. FastAPI's Query(..., min_length=1) rejects a
                # missing/empty param with 422 before the handler runs.
                query = p.get("query", "")
                if not query:
                    raise _ApiError(422, "query parameter required (min_length=1)")
                try:
                    return engine.execute_custom_query(query)
                except NotAQueryError as e:
                    raise _ApiError(400, str(e))
                except Exception as e:
                    # main.py:247 wraps ANY query failure as 500/str(e)
                    # (unlike POST's generic message).
                    raise _ApiError(500, str(e))
            raise _ApiError(404, f"Not found: {route}")

        def _post(self, route: str, p: dict[str, str], body):
            if route == "/execute-custom-query":
                # any JSON value parses; only an object whose `query` is a
                # non-empty string is a request
                query = body.get("query") if isinstance(body, dict) else None
                if not isinstance(query, str) or not query:
                    raise _ApiError(400, "body must contain 'query'")
                return engine.execute_custom_query(query)
            raise _ApiError(404, f"Not found: {route}")

    return Handler


class SecHttpService:
    """Serve a SecEngine over HTTP on a background thread.

    >>> svc = SecHttpService(engine).start()     # port 0 → ephemeral
    >>> ... requests against http://127.0.0.1:{svc.port} ...
    >>> svc.stop()
    """

    def __init__(self, engine: SecEngine, host: str = "127.0.0.1", port: int = 0):
        self._server = ThreadingHTTPServer((host, port), _make_handler(engine))
        self._thread: threading.Thread | None = None

    @property
    def port(self) -> int:
        return self._server.server_address[1]

    def start(self) -> "SecHttpService":
        self._thread = threading.Thread(
            target=self._server.serve_forever, name="sec-http", daemon=True
        )
        self._thread.start()
        return self

    def stop(self) -> None:
        self._server.shutdown()
        self._server.server_close()
        if self._thread:
            self._thread.join(timeout=5)
