"""Independent-evidence tests for the round-8 additions (GK portable
quantiles, KMV theta sketches and Fellegi-Sunter linkage).

Same doctrine as test_round5/7_ops: every check is evidence the DuckDB
oracle cannot manufacture — a brute-force python recomputation from the
raw parquet, or an algebraic invariant of the published method.
"""

from __future__ import annotations

import math
import os
from collections import defaultdict

import pyarrow.parquet as pq

from dynaledger_spark.plans.registry import load_all

REGISTRY = load_all()
SF = "/root/testdata/sf0.001"


def rows(spark, name, sf_dir=SF):
    return REGISTRY[name].build(spark, sf_dir).collect()


def _events():
    t = pq.read_table(os.path.join(SF, "events.parquet"), columns=["event_type", "value"])
    d = t.to_pydict()
    by_type = defaultdict(list)
    for et, v in zip(d["event_type"], d["value"]):
        if v is not None:
            by_type[et].append(v)
    return by_type


def test_gk_portable_rank_error_within_eps(spark):
    """The GK guarantee the query exists to exercise: the sketch answer's
    TRUE rank differs from ceil(phi*n) by less than the stride k <= n/64
    (one-sided: the stride summary only overshoots)."""
    by_type = _events()
    out = {r["event_type"]: r for r in rows(spark, "gk_portable_quantiles")}
    assert set(out) == set(by_type)
    for et, vals in by_type.items():
        vals = sorted(vals)
        n, r = len(vals), out[et]
        assert r["n"] == n
        k = max(1, n // 64)
        assert r["stride"] == k
        for phi, col in ((0.5, "p50"), (0.95, "p95"), (0.99, "p99")):
            target = math.ceil(phi * n)
            exact = vals[target - 1]
            assert r[f"{col}_exact"] == exact
            sk = r[f"{col}_gk"]
            # sketch answer is a real element at rank in [target, target+k)
            true_rank = vals.index(sk) + 1  # first occurrence = min rank
            assert target <= true_rank + vals.count(sk) - 1  # reaches target
            assert true_rank < target + k
            assert sk >= exact  # stride query only overshoots


def test_kmv_theta_estimates_within_bounds(spark):
    """KMV invariants the oracle (same formulas) can't check: at
    sf0.001 every per-type set is under k=64, so the sketch IS the set
    and every estimate must be EXACT; at sf0.01 the estimator branch
    engages and must land within 4 standard errors (se ~ U/sqrt(k-2))
    of the exact answer."""
    for sf, exact_branch in (("/root/testdata/sf0.001", True),
                             ("/root/testdata/sf0.01", False)):
        out = rows(spark, "kmv_theta_sketch_pairs", sf_dir=sf)
        assert len(out) == 10  # C(5 event types, 2)
        for r in out:
            if exact_branch:
                assert r["union_est"] == float(r["union_exact"])
                assert r["inter_est"] == float(r["inter_exact"])
                assert r["jaccard_est"] == round(
                    r["inter_exact"] / r["union_exact"], 6
                )
            else:
                se = r["union_exact"] / math.sqrt(64 - 2)
                assert abs(r["union_est"] - r["union_exact"]) < 4 * se
                assert abs(r["inter_est"] - r["inter_exact"]) < 4 * se
                assert abs(
                    r["jaccard_est"] - r["inter_exact"] / r["union_exact"]
                ) < 4 / math.sqrt(64)


def test_fellegi_sunter_quality_and_replay(spark):
    """FS invariants: (1) every 'link' decision is a true match (the
    weights are high-precision by construction on this corruption
    model); (2) recall loss has exactly two causes — blocking (bucket
    bumped: custkey % 7 == 0) or a doubly-corrupted record scoring
    below 0 (name AND nation dirty: custkey % 15 == 0 gives
    -2.99 - 2.26 + 2.14 = -3.11, correctly rejected); every other true
    match must be found; (3) scores replay from the fixed weights."""
    import pyarrow.parquet as pq_

    out = rows(spark, "fellegi_sunter_linkage")
    links = [r for r in out if r["decision"] == "link"]
    assert links and all(r["is_true_match"] == 1 for r in links)
    t = pq_.read_table(os.path.join(SF, "customer.parquet"), columns=["c_custkey"])
    custkeys = t.to_pydict()["c_custkey"]
    unbumped = {k for k in custkeys if k % 7 != 0 and k % 15 != 0}
    found_true = {r["custkey_a"] for r in out if r["is_true_match"] == 1}
    assert unbumped <= found_true
    W = {"name": (6.856461984594587, -2.9947317732204066),
         "nation": (3.1135153092103742, -2.2617630984737906),
         "bal": (2.1400661634962708, -1.791759469228055)}
    for r in out[:200]:
        s = (W["name"][r["agree_name"] ^ 1] + W["nation"][r["agree_nation"] ^ 1]
             + W["bal"][r["agree_bal"] ^ 1])
        assert r["score"] == round(s, 9)
