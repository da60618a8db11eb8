"""Independent-evidence tests for the round-5 operator families.

Each new family gets a check that does NOT go through the DuckDB oracle:
a brute-force Python recomputation (funnel chains, debounce bursts,
Theil-Sen), an algebraic invariant the implementation does not state
directly (decomposition identity, CUSUM endpoint, share normalization),
or an accuracy bound against the exact quantity (HLL error).
"""

from __future__ import annotations

import math
from collections import defaultdict

import pytest

from dynaledger_spark.plans.registry import load_all

REGISTRY = load_all()


def rows(spark, sf_dir, name):
    return REGISTRY[name].build(spark, sf_dir).collect()


@pytest.fixture(scope="module")
def events_py(spark, sf_dir):
    """All events as python tuples sorted by (user, ts, event_id)."""
    from dynaledger_spark.catalog import read_table

    ev = read_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "event_type", "value"
    )
    out = [
        (r.user_id, r.event_id, r.ts, r.event_type, r.value)
        for r in ev.collect()
    ]
    out.sort(key=lambda t: (t[0], t[2], t[1]))
    return out


def test_funnel_pattern_match_vs_brute_force(spark, sf_dir, events_py):
    """Chain semantics recomputed by a literal per-user scan: first
    click within 1h of each view, first purchase within 24h of that
    click."""
    per_user = defaultdict(list)
    for u, eid, ts, et, _v in events_py:
        per_user[u].append((ts, eid, et))
    expect = {}
    for u, evs in per_user.items():
        evs.sort()
        n_views = n_clicked = n_full = 0
        for i, (ts, eid, et) in enumerate(evs):
            if et != "view":
                continue
            n_views += 1
            click = next(
                (e for e in evs[i + 1 :] if e[2] == "click"), None
            )
            if click is None or (click[0] - ts).total_seconds() > 3600:
                continue
            n_clicked += 1
            j = evs.index(click)
            purchase = next(
                (e for e in evs[j + 1 :] if e[2] == "purchase"), None
            )
            if (
                purchase is not None
                and (purchase[0] - click[0]).total_seconds() <= 86400
            ):
                n_full += 1
        if n_views:
            expect[u] = (n_views, n_clicked, n_full)
    got = {
        r.user_id: (r.n_views, r.n_clicked, r.n_full)
        for r in rows(spark, sf_dir, "funnel_pattern_match")
    }
    assert got == expect


def test_event_debounce_vs_brute_force(spark, sf_dir, events_py):
    """Burst chaining recomputed per (user, type): < 300 s from the
    PREVIOUS event extends the burst."""
    per_key = defaultdict(list)
    for u, eid, ts, et, _v in events_py:
        per_key[(u, et)].append((ts, eid))
    kept = defaultdict(int)
    total = defaultdict(int)
    max_burst = defaultdict(int)
    for (u, et), evs in per_key.items():
        evs.sort()
        burst_len = 0
        for i, (ts, eid) in enumerate(evs):
            total[et] += 1
            if i == 0 or (ts - evs[i - 1][0]).total_seconds() >= 300:
                kept[et] += 1
                max_burst[et] = max(max_burst[et], burst_len)
                burst_len = 1
            else:
                burst_len += 1
        max_burst[et] = max(max_burst[et], burst_len)
    for r in rows(spark, sf_dir, "event_debounce_keep_first"):
        assert r.n_kept == kept[r.event_type]
        assert r.n_dropped == total[r.event_type] - kept[r.event_type]
        assert r.max_burst == max_burst[r.event_type]


def test_hll_error_within_theory(spark, sf_dir):
    """512 registers → theoretical rsd 1.04/√512 ≈ 4.6%; assert the
    deterministic md5 run lands within 3 rsd of exact."""
    (r,) = rows(spark, sf_dir, "hll_portable_estimate")
    assert r.m == 512
    assert r.exact_distinct > 0
    assert r.rel_err <= 3 * 1.04 / math.sqrt(512), r


def test_theil_sen_vs_brute_force(spark, sf_dir):
    from dynaledger_spark.plans.queries_timeseries import _daily

    daily = sorted(
        (r.day, r.cents) for r in _daily(spark, sf_dir).collect()
    )
    d0 = daily[0][0]
    pts = [((d - d0).days, c) for d, c in daily]
    slopes = []
    for i in range(len(pts)):
        for j in range(i + 1, len(pts)):
            ti, ci = pts[i]
            tj, cj = pts[j]
            slopes.append(((cj - ci) / (tj - ti), ti, tj))
    slopes.sort()
    med = slopes[(len(slopes) + 1) // 2 - 1][0]
    (r,) = rows(spark, sf_dir, "theil_sen_daily_trend")
    assert r.n_days == len(pts)
    assert r.n_pairs == len(slopes)
    assert r.theil_slope_dollars_per_day == round(med / 100.0, 6)


def test_seasonal_decomposition_identity(spark, sf_dir):
    """revenue == trend + seasonal + residual wherever trend is defined
    (up to the two 6-dp roundings)."""
    out = rows(spark, sf_dir, "seasonal_decompose_dow")
    assert any(r.trend is not None for r in out)
    for r in out:
        if r.trend is None:
            assert r.residual is None
            continue
        recon = r.trend + r.seasonal + r.residual
        assert abs(r.revenue - recon) <= 2e-5, r


def test_cusum_endpoint_is_zero(spark, sf_dir):
    """S_n = n·total − n·total = 0 exactly: the last cusum value must be
    0 and at least one peak flagged."""
    out = rows(spark, sf_dir, "cusum_changepoint")
    assert out[-1].cusum_dollars == 0.0
    assert sum(r.is_peak for r in out) >= 1


def test_benford_shares_normalize(spark, sf_dir):
    out = rows(spark, sf_dir, "benford_first_digit")
    assert {r.digit for r in out} <= set(range(1, 10))
    assert abs(sum(r.obs_share for r in out) - 1.0) <= 1e-9
    assert abs(sum(r.benford_share for r in out) - 1.0) <= 1e-9


def test_decay_engagement_bounds(spark, sf_dir, events_py):
    """Score is positive-bounded by the undecayed sum, and the top user
    matches a brute-force recomputation within float tolerance."""
    per_user = defaultdict(list)
    anchor = max(t[2] for t in events_py)
    for u, eid, ts, et, v in events_py:
        if et in ("click", "view", "purchase"):
            per_user[u].append((ts, v))
    got = rows(spark, sf_dir, "decay_weighted_engagement")
    assert set(per_user) == {r.user_id for r in got}
    for r in got:
        evs = per_user[r.user_id]
        assert r.n_events == len(evs)
        brute = sum(
            v * 0.5 ** ((anchor - ts).total_seconds() / 604800.0)
            for ts, v in evs
        )
        assert abs(r.decay_score - round(brute, 6)) <= 1e-5, r


def test_triplet_invariants(spark, sf_dir):
    from dynaledger_spark.catalog import read_table

    labels = {
        r.vec_id: r.label
        for r in read_table(spark, sf_dir, "embeddings")
        .select("vec_id", "label")
        .collect()
    }
    out = rows(spark, sf_dir, "triplet_sample_contrastive")
    assert out, "expected triplets"
    for r in out:
        assert r.anchor_id % 5 == 0
        assert r.pos_id != r.anchor_id
        assert labels[r.pos_id] == r.anchor_label == labels[r.anchor_id]
        assert labels[r.neg_id] == r.neg_label != r.anchor_label


def test_temperature_resampling_flattens_mixture(spark, sf_dir):
    """T=2 reweighting must shrink the head/tail share ratio and respect
    per-source quotas."""
    out = rows(spark, sf_dir, "temperature_resample_sources")
    tot = sum(r.n_docs for r in out)
    old_shares = {r.source: r.n_docs / tot for r in out}
    new_shares = {r.source: r.new_share for r in out}
    for r in out:
        assert r.selected_n <= r.n_docs
        assert r.selected_n <= r.target_n
    old_ratio = max(old_shares.values()) / min(old_shares.values())
    new_ratio = max(new_shares.values()) / min(new_shares.values())
    assert new_ratio <= old_ratio + 1e-9
