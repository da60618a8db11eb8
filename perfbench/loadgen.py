"""Closed-loop HTTP load for ``statement_pull``.

One client sends its next request only after the previous reply has been
read in full, so a slow server receives less load.
Requests come from a pool fixed by the seed; the expected row count of
every pooled pull is computed by DuckDB before the load starts, and each
reply is checked after the load.
"""

from __future__ import annotations

import http.client
import json
import random
import time
import urllib.parse
from collections.abc import Callable
from dataclasses import dataclass, field

import secgen
from spans import Tracer

DATA_TYPES = {"Balance Sheet": "BS", "Income Statement": "IS", "Cash Flow": "CF"}
SOURCES = ("RAW", "FACT TABLES", "JSON")
COLD_PER_BLOCK = 2  # cold-tail pulls in a block of the hot quarter's shapes
WARM_UP_BLOCKS = 2
FAILED_MS = 1e9  # the latency a failed request counts as: it misses any limit


@dataclass
class Request:
    path: str
    key: tuple  # (quarter, statement code, source)
    expected: int | None = None  # rows in the reply


def _q(params: dict) -> str:
    return urllib.parse.urlencode(params)


def pull_request(quarter: str, data_type: str, source: str) -> Request:
    params = {"year": quarter[:4], "quarter": f"Q{quarter[-1]}", "data_type": data_type, "source": source}
    return Request("/get-financial-data?" + _q(params), (quarter, DATA_TYPES[data_type], source))


def probe_sql(rng: random.Random, quarters: list[str], specs: dict) -> list[str]:
    """One instance of each small analyst query shape (point lookup by
    ``adsh``, top-k companies for a tag, group-sum by ``sic``, flatten-view
    filter), for the traced run's catalog and SQL pass-through probes."""
    q = rng.choice(quarters)
    spec = specs[q]
    i = rng.randrange(spec.n_sub)
    tag = secgen.filing_tag(spec, rng.randrange(spec.n_sub), rng.randrange(secgen.PRE_PER_FILING))
    lo = rng.randrange(100, 9700)
    year, qn = q[:4], q[-1]
    return [
        f"SELECT adsh, cik, name, sic, form, period FROM sec_sub "
        f"WHERE adsh = '{secgen.accession(q, i)}'",
        f"SELECT s.cik, COUNT(*) AS n_facts, SUM(CAST(n.value AS DECIMAL(27,6))) AS total "
        f"FROM sec_num n JOIN sec_sub s ON n.adsh = s.adsh "
        f"WHERE n.tag = '{tag}' AND n.source_file = '{q}' AND s.source_file = '{q}' "
        f"GROUP BY s.cik ORDER BY total DESC NULLS LAST, s.cik LIMIT 10",
        f"SELECT s.sic, COUNT(*) AS n_facts, SUM(CAST(n.value AS DECIMAL(27,6))) AS total "
        f"FROM sec_num n JOIN sec_sub s ON n.adsh = s.adsh "
        f"WHERE n.source_file = '{q}' AND s.source_file = '{q}' "
        f"AND s.sic BETWEEN {lo} AND {lo + 299} GROUP BY s.sic",
        f"SELECT symbol, company_name, concept, value FROM view_balance_sheet_{year}_Q{qn} "
        f"WHERE concept = '{tag}'",
    ]


class RequestPool:
    """The seeded pull sequence, handed out in order. It is made of
    blocks; each holds one pull of every shape (statement and source) of
    the latest quarter and ``COLD_PER_BLOCK`` pulls of the cold tail, taken
    in turn from a seeded order of its pulls, shuffled. A cycle of blocks
    serves the cold tail once, and a load ends on a whole cycle, so every
    run serves exactly the same mix; the seed changes the data and the
    order of requests."""

    def __init__(self, seed: int, quarter_specs: list[secgen.QuarterSpec]):
        quarters = [s.quarter for s in quarter_specs]
        rng = random.Random(seed)
        self._probe = probe_sql(rng, quarters, {s.quarter: s for s in quarter_specs})
        hot, cold = quarters[-1], quarters[:-1]
        # RAW maps Income Statement to stmt 'IC', which SEC data never
        # uses (a reference quirk), so that pull is always empty: left out.
        combos = [(dt, src) for dt in DATA_TYPES for src in SOURCES
                  if (dt, src) != ("Income Statement", "RAW")]
        hot_pulls = [pull_request(hot, dt, src) for dt, src in combos]
        cold_pulls = rng.sample([pull_request(q, dt, src) for q in cold for dt, src in combos],
                                len(cold) * len(combos))
        self.sequence: list[Request] = []
        for i in range(0, len(cold_pulls), COLD_PER_BLOCK):
            block = hot_pulls + cold_pulls[i:i + COLD_PER_BLOCK]
            rng.shuffle(block)
            self.sequence += block
        self.block = len(hot_pulls) + COLD_PER_BLOCK
        self._next = 0

    def probe_sql(self) -> list[str]:
        return self._probe

    def distinct(self) -> list[Request]:
        return list({id(r): r for r in self.sequence}.values())

    def expect(self, store) -> None:
        """Expected row counts, from DuckDB over the store the engine wrote."""
        for req in self.distinct():
            req.expected = store.pull_rows(*req.key)

    def next(self, end: float) -> Request | None:
        """The next request, or None once ``end`` has passed and the
        requests handed out make whole cycles."""
        if time.perf_counter() >= end and self._next % len(self.sequence) == 0:
            return None
        req = self.sequence[self._next % len(self.sequence)]
        self._next += 1
        return req


def check(req: Request, status: int, body: bytes) -> str | None:
    """Why the reply is wrong, or None."""
    if status != 200:
        return f"{req.path}: HTTP {status}: {body[:200]!r}"
    got = len(json.loads(body)["data"])
    return None if got == req.expected else f"{req.path}: {got} rows, want {req.expected}"


class _Once:
    """A pool that hands out each of ``requests`` once."""

    def __init__(self, requests: list[Request]):
        self._left = list(reversed(requests))

    def next(self, end: float) -> Request | None:
        return self._left.pop() if self._left else None


@dataclass
class LoadResult:
    latencies_ms: list[float] = field(default_factory=list)  # failed: FAILED_MS
    attempted: int = 0
    failed: int = 0
    mismatches: list[str] = field(default_factory=list)
    reply_bytes: list[int] = field(default_factory=list)
    server_cpu_s: float = 0.0  # the server's processor seconds over the load
    tracer: Tracer | None = None


def run_load(port: int, pool, seconds: float, traced: bool,
             server_cpu_s: Callable[[], float]) -> LoadResult:
    """One closed-loop client against 127.0.0.1:``port`` until ``seconds``
    have passed and the pool lets it stop. ``server_cpu_s`` reads the
    server's processor seconds so far; it is read before and after the
    load. Replies are checked after the load has stopped, so that decoding
    them takes no processor time from the server while it is measured."""
    res = LoadResult(tracer=Tracer(traced))
    tr = res.tracer
    replies = []  # (request, status, body, transport error, latency ms)
    cpu0 = server_cpu_s()
    end = time.perf_counter() + seconds
    with tr.span("generator.client", request="c0"):
        while (req := pool.next(end)) is not None:
            with tr.span("generator.request", request=f"c0-{len(replies) + 1}"):
                status, body, error = 0, b"", None
                t0 = time.perf_counter()
                try:
                    with tr.span("http.get-financial-data"):
                        conn = http.client.HTTPConnection("127.0.0.1", port, timeout=60)
                        try:
                            conn.request("GET", req.path)
                            resp = conn.getresponse()
                            status, body = resp.status, resp.read()
                        finally:
                            conn.close()
                except OSError as e:
                    error = f"{req.path}: {e!r}"
                latency = (time.perf_counter() - t0) * 1e3
            replies.append((req, status, body, error, latency))
    res.server_cpu_s = server_cpu_s() - cpu0

    for req, status, body, error, latency in replies:
        try:
            error = error or check(req, status, body)
        except (ValueError, KeyError, TypeError) as e:
            error = f"{req.path}: unreadable reply: {e!r}"
        res.attempted += 1
        res.reply_bytes.append(len(body))
        if error:
            res.failed += 1
            res.mismatches.append(error)
            res.latencies_ms.append(FAILED_MS)
        else:
            res.latencies_ms.append(latency)
    return res


def warm_up(port: int, pool: RequestPool, server_cpu_s: Callable[[], float]) -> LoadResult:
    """The pool's first ``WARM_UP_BLOCKS`` blocks, before the measured
    load: the first pulls of each shape pay for query compilation and for
    the JVM's just-in-time compilation of the code they run, which would
    otherwise weigh on the load."""
    return run_load(port, _Once(pool.sequence[:WARM_UP_BLOCKS * pool.block]), 0.0, False, server_cpu_s)
