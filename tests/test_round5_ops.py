"""Independent-evidence tests for the round-5 operator families.

Each new family gets a check that does NOT go through the DuckDB oracle:
a brute-force Python recomputation (Theil-Sen), an algebraic invariant
the implementation does not state directly (decomposition identity,
CUSUM endpoint, share normalization), or an accuracy bound against the
exact quantity (HLL error).
"""

from __future__ import annotations

import math

from dynaledger_spark.plans.registry import load_all

REGISTRY = load_all()


def rows(spark, sf_dir, name):
    return REGISTRY[name].build(spark, sf_dir).collect()


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
