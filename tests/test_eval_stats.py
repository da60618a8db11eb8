"""Python mirrors for the sequence-statistics query (Markov sequence
scoring) and the incremental-MinHash subset property. The mirrors
reproduce the repo's float discipline (sequential folds, round-at-12 ln
terms), so comparisons are exact, not approximate."""

from __future__ import annotations

import math
from collections import Counter, defaultdict

from dynaledger_spark.plans.registry import load_all

REGISTRY = load_all()


# ---------------------------------------------------------------------------
# Incremental MinHash ≡ full run restricted to new-batch pairs
# ---------------------------------------------------------------------------
def test_minhash_incremental_is_exact_subset(spark, sf_dir):
    """The incremental run must produce EXACTLY the full run's pairs
    whose higher id is in the new batch — no pair lost at the bucket
    boundary, none invented."""
    from dynaledger_spark.catalog import read_table

    cutoff = (
        read_table(spark, sf_dir, "documents").agg(
            {"doc_id": "max"}
        ).collect()[0][0]
        * 4
        // 5
    )
    full = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in REGISTRY["minhash_portable_pairs"].build(spark, sf_dir).collect()
    }
    inc = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in REGISTRY["minhash_portable_incremental"]
        .build(spark, sf_dir)
        .collect()
    }
    want = {k: v for k, v in full.items() if max(k) >= cutoff}
    assert inc == want
    assert inc, "testdata must exercise the incremental path"


# ---------------------------------------------------------------------------
# Markov sequence score ≡ python mirror
# ---------------------------------------------------------------------------
def test_markov_score_matches_python(spark, sf_dir):
    from dynaledger_spark.catalog import read_table

    got = {
        r["user_id"]: (r["n_transitions"], r["avg_loglik"])
        for r in REGISTRY["markov_sequence_score"].build(spark, sf_dir).collect()
    }

    rows = (
        read_table(spark, sf_dir, "events")
        .select("user_id", "ts", "event_id", "event_type")
        .collect()
    )
    by_user: dict[int, list] = defaultdict(list)
    for r in rows:
        by_user[r["user_id"]].append((r["ts"], r["event_id"], r["event_type"]))
    pairs = []
    for u, evs in by_user.items():
        evs.sort()
        pairs += [(u, a[2], b[2]) for a, b in zip(evs, evs[1:])]
    trans = Counter((p, c) for _, p, c in pairs)
    margins = Counter(p for _, p, _ in pairs)
    per_user = Counter((u, p, c) for u, p, c in pairs)
    want = {}
    users = {u for u, _, _ in pairs}
    for u in users:
        terms = sorted(
            n * round(math.log(trans[(p, c)] / margins[p]), 12)
            for (uu, p, c), n in per_user.items()
            if uu == u
        )
        total = sum(n for (uu, _, _), n in per_user.items() if uu == u)
        acc = 0.0
        for t in terms:
            acc += t
        want[u] = (total, round(acc / total, 9))
    assert got == want
