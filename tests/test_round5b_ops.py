"""Independent-evidence tests for the round-5 batch-2 entries that
remain: governance audits (queries_quality), retrieval, text, behaviour
and statistics.

Same doctrine as test_round5_ops: every check is evidence the DuckDB
oracle cannot manufacture — a brute-force Python recomputation, an
algebraic invariant, or a distributional property.
"""

from __future__ import annotations

import math
from collections import defaultdict

import pytest

from dynaledger_spark.plans.registry import load_all

REGISTRY = load_all()


def rows(spark, sf_dir, name):
    return REGISTRY[name].build(spark, sf_dir).collect()


def test_schema_drift_halves_partition_the_table(spark, sf_dir):
    from dynaledger_spark.catalog import read_table

    got = {r.metric: (r.h0, r.h1) for r in rows(spark, sf_dir, "schema_drift_report")}
    total = read_table(spark, sf_dir, "orders").count()
    assert got["row_count"][0] + got["row_count"][1] == total
    # parity split keeps both halves' stats near each other on synth data
    assert got["min_totalprice"][0] > 0 and got["min_totalprice"][1] > 0


def test_freshness_invariants(spark, sf_dir):
    got = rows(spark, sf_dir, "freshness_lag_by_type")
    assert got, "at least one event stream"
    assert all(r.lag_hours >= 0 for r in got)
    assert min(r.lag_hours for r in got) == 0  # some stream holds the watermark
    assert all(0.0 <= r.share_last_7d <= 1.0 for r in got)


def test_l_diversity_entropy_bounded_by_log_l(spark, sf_dir):
    got = rows(spark, sf_dir, "l_diversity_audit")
    assert got
    for r in got:
        assert 1 <= r.l_distinct <= 5  # five market segments exist
        assert r.l_distinct <= r.k
        # entropy of l outcomes is at most ln(l), achieved when uniform
        assert -1e-9 <= r.entropy_l <= math.log(r.l_distinct) + 1e-9
    # result is the worst (least diverse) groups: all l values ≤ any other
    # group's l is not checkable from the slice alone, but the slice itself
    # must be sorted ascending by l_distinct
    ls = [r.l_distinct for r in got]
    assert ls == sorted(ls)


def test_fk_scorecard_matches_direct_counts(spark, sf_dir):
    from dynaledger_spark.catalog import read_table

    got = {r.edge: r for r in rows(spark, sf_dir, "fk_orphan_scorecard")}
    assert set(got) == {
        "lineitem->orders", "lineitem->part", "lineitem->supplier",
        "orders->customer", "customer->nation", "supplier->nation",
    }
    li = read_table(spark, sf_dir, "lineitem")
    orders = read_table(spark, sf_dir, "orders")
    assert got["lineitem->orders"].child_rows == li.count()
    assert got["orders->customer"].child_rows == orders.count()
    # the synthetic generator is referentially intact
    for r in got.values():
        assert r.orphans == 0 and r.orphan_rate == 0.0


def test_dp_noise_is_laplace_and_reproducible(spark, sf_dir):
    a = rows(spark, sf_dir, "dp_noisy_counts")
    b = rows(spark, sf_dir, "dp_noisy_counts")
    assert a == b  # deterministic release
    for r in a:
        assert r.noisy_count == pytest.approx(r.true_count + r.noise, abs=1e-6)
        # Laplace(b=1) quantile bound: |noise| = -ln(1-2|u|) with
        # |u| <= 0.4999995 -> |noise| <= ln(1e6)
        assert abs(r.noise) <= math.log(1_000_000.0) + 1e-9


def test_bm25_vs_brute_force(spark, sf_dir):
    from dynaledger_spark.catalog import read_table
    from dynaledger_spark.plans.queries_retrieval import B, K1, QUERY_TERMS

    docs = [
        (r.doc_id, r.text.split(" "))
        for r in read_table(spark, sf_dir, "documents").select("doc_id", "text").collect()
    ]
    n_docs = len(docs)
    avgdl = sum(len(t) for _, t in docs) / n_docs
    df = {
        t: sum(1 for _, toks in docs if t in toks) for t in QUERY_TERMS
    }
    scored = []
    for doc_id, toks in docs:
        s = 0.0
        hit = False
        for t in QUERY_TERMS:
            tf = toks.count(t)
            if tf == 0:
                s += 0.0
                continue
            hit = True
            idf = math.log((n_docs - df[t] + 0.5) / (df[t] + 0.5) + 1.0)
            s += idf * (tf * (K1 + 1.0)) / (
                tf + K1 * (1.0 - B + B * (len(toks) / avgdl))
            )
        if hit:
            scored.append((doc_id, round(s, 9)))
    expect = sorted(scored, key=lambda t: (-t[1], t[0]))[:20]
    got = [(r.doc_id, r.bm25) for r in rows(spark, sf_dir, "bm25_topk_docs")]
    assert [d for d, _ in got] == [d for d, _ in expect]
    for (_, g), (_, e) in zip(got, expect):
        assert g == pytest.approx(e, abs=1e-8)


def test_psi_vs_brute_force(spark, sf_dir):
    from dynaledger_spark.catalog import read_table

    got = {r.event_type: r for r in rows(spark, sf_dir, "psi_feature_drift")}
    ev = read_table(spark, sf_dir, "events").select("event_type", "ts", "value").collect()
    cells = defaultdict(lambda: [[0] * 10, [0] * 10])
    for r in ev:
        half = 0 if r.ts.day <= 15 else 1
        b = min(int(r.value // 40), 9)
        cells[r.event_type][half][b] += 1
    for et, (ref, cur) in cells.items():
        n_ref, n_cur = sum(ref), sum(cur)
        psi = 0.0
        terms = []
        for b in range(10):
            p = (ref[b] + 0.5) / (n_ref + 5.0)
            q = (cur[b] + 0.5) / (n_cur + 5.0)
            terms.append(round((p - q) * math.log(p / q), 12))
        psi = round(math.fsum(terms), 9)
        assert got[et].n_ref == n_ref and got[et].n_cur == n_cur
        assert got[et].psi == pytest.approx(psi, abs=1e-8)
        assert got[et].psi >= -1e-12  # PSI is a symmetrized KL: nonnegative


def test_join_key_skew_vs_brute_force(spark, sf_dir):
    from dynaledger_spark.catalog import read_table

    got = {r.col: r for r in rows(spark, sf_dir, "join_key_skew_report")}
    freq = defaultdict(int)
    for r in read_table(spark, sf_dir, "events").select("user_id").collect():
        freq[r.user_id] += 1
    row = got["events.user_id"]
    assert row.n_rows == sum(freq.values())
    assert row.n_keys == len(freq)
    assert row.max_freq == max(freq.values())
    top = min(k for k, v in freq.items() if v == row.max_freq)
    assert row.top_key == top
    assert row.skew_ratio >= 1.0  # max >= avg by definition


def test_kwic_context_matches_text(spark, sf_dir):
    from dynaledger_spark.catalog import read_table

    got = rows(spark, sf_dir, "kwic_concordance")
    assert got
    texts = {
        r.doc_id: r.text.split(" ")
        for r in read_table(spark, sf_dir, "documents").select("doc_id", "text").collect()
    }
    for r in got:
        toks = texts[r.doc_id]
        assert toks[r.pos] == "join"
        lo, hi = max(0, r.pos - 3), min(len(toks) - 1, r.pos + 3)
        assert r.context == " ".join(toks[lo : hi + 1])


def test_t_closeness_bounds_and_grand_group(spark, sf_dir):
    got = rows(spark, sf_dir, "t_closeness_audit")
    assert got
    for r in got:
        # total variation distance lives in [0, 1)
        assert -1e-9 <= r.t_distance < 1.0
        assert r.k >= 2
    # sorted worst-first
    ts = [r.t_distance for r in got]
    assert ts == sorted(ts, reverse=True)
    # a group matching the global mix exactly would score 0; the worst
    # group must deviate more than the best in the slice
    assert ts[0] >= ts[-1]


def test_lang_confusion_accounting(spark, sf_dir):
    from dynaledger_spark.catalog import read_table

    got = rows(spark, sf_dir, "lang_id_confusion")
    n_docs = read_table(spark, sf_dir, "documents").count()
    assert sum(r.n for r in got) == n_docs
    # shares sum to 1 within each actual language
    per_actual = defaultdict(float)
    for r in got:
        per_actual[r.actual_lang] += r.share_of_actual
    for lang, s in per_actual.items():
        assert s == pytest.approx(1.0, abs=1e-6), lang
    # the synthetic corpus draws one shared vocabulary whatever the gold
    # label, so high diagonal accuracy is impossible by construction —
    # the confusion REPORT is the operator under test, not the
    # classifier. Structural checks: the prediction codomain is closed,
    # and the diagonal is populated (gold 'en' docs do hit 'en').
    assert {r.pred_lang for r in got} <= {"de", "en", "es", "fr", "zh", "und"}
    diag = sum(r.n for r in got if r.actual_lang == r.pred_lang)
    assert diag > 0


def test_trimmed_mean_vs_brute_force(spark, sf_dir):
    from dynaledger_spark.catalog import read_table

    got = {r.priority: r for r in rows(spark, sf_dir, "trimmed_mean_priority")}
    per = defaultdict(list)
    for r in read_table(spark, sf_dir, "orders").select(
        "o_orderpriority", "o_totalprice"
    ).collect():
        per[r.o_orderpriority].append(int(round(r.o_totalprice * 100)))
    for pri, xs in per.items():
        xs.sort()
        k = len(xs) // 10
        kept = xs[k : len(xs) - k]
        r = got[pri]
        assert r.n_orders == len(xs) and r.n_kept == len(kept)
        assert r.trimmed_mean == pytest.approx(
            round(sum(kept) / len(kept) / 100.0, 6), abs=1e-6
        )
        # robust: trimmed mean sits inside the untrimmed min/max
        assert xs[0] / 100.0 <= r.trimmed_mean <= xs[-1] / 100.0


def test_burstiness_vs_brute_force(spark, sf_dir):
    from dynaledger_spark.catalog import read_table

    got = rows(spark, sf_dir, "user_burstiness")
    assert got
    for r in got:
        assert -1.0 <= r.burstiness <= 1.0
        assert r.n_gaps >= 5
    bs = [r.burstiness for r in got]
    assert bs == sorted(bs, reverse=True)
    # recompute the top user exactly
    top = got[0]
    evs = sorted(
        (
            (r.ts, r.event_id)
            for r in read_table(spark, sf_dir, "events")
            .filter(f"user_id = {top.user_id}")
            .select("ts", "event_id")
            .collect()
        )
    )
    us = [int(t.timestamp() * 1_000_000) for t, _ in evs]
    gaps = [b - a for a, b in zip(us, us[1:])]
    n, s1 = len(gaps), sum(gaps)
    s2 = sum(g * g for g in gaps)
    cv = math.sqrt(max((s2 - s1 * s1 / n) / n, 0.0)) / (s1 / n)
    assert top.cv == pytest.approx(round(cv, 9), abs=1e-6)
    assert top.burstiness == pytest.approx(round((cv - 1) / (cv + 1), 9), abs=1e-6)


def test_ks_two_sample_vs_brute_force(spark, sf_dir):
    from dynaledger_spark.catalog import read_table

    [r] = rows(spark, sf_dir, "ks_two_sample_values")
    a, b = [], []
    for e in read_table(spark, sf_dir, "events").select(
        "ts", "event_type", "value"
    ).collect():
        if e.event_type != "purchase":
            continue
        (a if e.ts.day <= 15 else b).append(int(round(e.value * 100)))
    assert r.n_ref == len(a) and r.n_cur == len(b)
    a.sort()
    b.sort()
    import bisect

    d = 0.0
    for v in sorted(set(a) | set(b)):
        f0 = bisect.bisect_right(a, v) / len(a)
        f1 = bisect.bisect_right(b, v) / len(b)
        d = max(d, abs(f0 - f1))
    assert r.ks_d == pytest.approx(d, abs=1e-8)
    assert 0.0 <= r.ks_d <= 1.0
    assert r.crit_05 > 0


def test_ab_ztest_vs_brute_force(spark, sf_dir):
    from dynaledger_spark.catalog import read_table

    [r] = rows(spark, sf_dir, "ab_conversion_ztest")
    per = defaultdict(lambda: [0, 0])
    for e in read_table(spark, sf_dir, "events").select(
        "user_id", "event_type"
    ).collect():
        if e.event_type == "view":
            per[e.user_id][0] += 1
        elif e.event_type == "purchase":
            per[e.user_id][1] += 1
    stats = {0: [0, 0], 1: [0, 0]}
    for uid, (nv, np_) in per.items():
        if nv == 0:
            continue
        s = stats[uid % 2]
        s[0] += 1
        s[1] += 1 if np_ > nv else 0
    (n0, x0), (n1, x1) = stats[0], stats[1]
    assert (r.n0, r.x0, r.n1, r.x1) == (n0, x0, n1, x1)
    assert r.rate_a == pytest.approx(x0 / n0, abs=1e-9)
    assert r.rate_b == pytest.approx(x1 / n1, abs=1e-9)
    if 0 < x0 + x1 < n0 + n1:
        pool = (x0 + x1) / (n0 + n1)
        z = (x1 / n1 - x0 / n0) / math.sqrt(
            pool * (1 - pool) * (1 / n0 + 1 / n1)
        )
        assert r.z == pytest.approx(z, abs=1e-6)
    # Wilson lower bound sits at or below the point estimate
    assert r.wilson_lo_a <= r.rate_a + 1e-9
    assert r.wilson_lo_b <= r.rate_b + 1e-9
    assert r.wilson_lo_a >= 0 and r.wilson_lo_b >= 0
