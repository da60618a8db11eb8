"""Round-10 operator tests: rendezvous sharding and TextRank keywords.

Each operator gets a transparent python replay of the algorithm over
the raw parquet (independent of the Spark plan AND the DuckDB oracle)
plus the invariants the oracle cannot state directly (minimal
movement, exact integer iteration). Non-vacuity is asserted inline and
globally by test_oracle_parity::test_no_vacuous_oracle_greens.
"""

from __future__ import annotations

import hashlib
import os
from collections import Counter, defaultdict

import pandas as pd

from dynaledger_spark.plans.registry import load_all

REGISTRY = load_all()


# ---------------------------------------------------------------------------
# Rendezvous hashing
# ---------------------------------------------------------------------------
def _hrw_key(doc_id: int, shard: int) -> int:
    h = int(hashlib.md5(f"{doc_id}#{shard}".encode()).hexdigest()[:10], 16)
    return h * 16 + shard


def test_rendezvous_replay_and_minimal_movement(spark, sf_dir):
    docs = pd.read_parquet(os.path.join(sf_dir, "documents.parquet"), columns=["doc_id"])
    agg = defaultdict(lambda: [0, 0, 0])  # shard8 -> [n, moved, wrong]
    for d in docs.doc_id:
        keys = [_hrw_key(int(d), s) for s in range(9)]
        s8 = max(keys[:8]) % 16
        s9 = max(keys) % 16
        agg[s8][0] += 1
        if s9 != s8:
            agg[s8][1] += 1
            if s9 != 8:
                agg[s8][2] += 1

    out = REGISTRY["rendezvous_hash_shard"].build(spark, sf_dir).collect()
    assert {r["shard"] for r in out} <= set(range(8))
    for r in out:
        n, moved, wrong = agg[r["shard"]]
        assert (r["n_docs"], r["n_moved"], r["n_moved_wrongly"]) == (n, moved, wrong)
        # HRW's whole point: growing the ring never moves a doc between
        # surviving shards
        assert r["n_moved_wrongly"] == 0
    total = sum(r["n_docs"] for r in out)
    moved = sum(r["n_moved"] for r in out)
    assert total == len(docs)
    # ~1/9 of docs move; allow wide slack at tiny SFs but pin the order
    # of magnitude (mod-sharding would move ~8/9)
    assert 0 < moved / total < 3 / 9


# ---------------------------------------------------------------------------
# TextRank
# ---------------------------------------------------------------------------
def test_textrank_exact_integer_replay(spark, sf_dir):
    """The fixed-point iteration is EXACT integer arithmetic — the
    python replay must match tr_fixed to the last digit, top-20 order
    included."""
    from dynaledger_spark.plans.queries_text import _TR_ROUNDS, _TR_SCALE, _TR_TOPK

    docs = pd.read_parquet(
        os.path.join(sf_dir, "documents.parquet"), columns=["doc_id", "text"]
    )
    edges = set()
    for t in docs.text:
        w = t.split()
        for i in range(len(w) - 1):
            if w[i] != w[i + 1]:
                edges.add((w[i], w[i + 1]))
                edges.add((w[i + 1], w[i]))
    adj = defaultdict(list)
    deg = Counter()
    for s, d in edges:
        adj[d].append(s)  # incoming
        deg[s] += 1
    n = len(deg)
    base = _TR_SCALE // n
    teleport = (15 * _TR_SCALE // 100) // n
    r = {w: base for w in deg}
    for _ in range(_TR_ROUNDS):
        r = {
            w: teleport + (17 * sum(r[u] // deg[u] for u in adj[w])) // 20
            for w in deg
        }
    want = sorted(r.items(), key=lambda kv: (-kv[1], kv[0]))[:_TR_TOPK]

    out = REGISTRY["textrank_keywords"].build(spark, sf_dir).collect()
    got = [(x["word"], x["tr_fixed"]) for x in out]
    assert got == want
