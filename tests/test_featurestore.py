"""Feature-store point-in-time join (queries_core.asof_purchase_attribution
over operators/temporal.asof_join): a python brute-force mirror of the
"latest purchase at-or-before the click" semantics, and a plan-shape pin
for the union + running-window form the docstrings claim."""

from __future__ import annotations

import datetime as dt

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark.sql import Row

from dynaledger_spark.plans.registry import load_all

REGISTRY = load_all()

PROP = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

_EPOCH = dt.datetime(2024, 1, 1)


def _write_events(spark, tmp_path_factory, rows):
    """Write a synthetic events.parquet shaped like the testdata."""
    d = tmp_path_factory.mktemp("fs_events")
    spark.createDataFrame(
        [
            Row(
                event_id=i,
                ts=_EPOCH + dt.timedelta(seconds=s),
                user_id=u,
                event_type=t,
                value=float(v),
                props="{}",
            )
            for i, (s, u, t, v) in enumerate(rows)
        ]
    ).write.mode("overwrite").parquet(str(d / "events.parquet"))
    return str(d)


# ---------------------------------------------------------------------------
# Point-in-time join ≡ python brute force
# ---------------------------------------------------------------------------
@PROP
@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=20),  # seconds offset: ties are common
            st.integers(min_value=1, max_value=3),  # user
            st.sampled_from(["purchase", "click"]),
            st.integers(min_value=0, max_value=199),  # value
        ),
        min_size=1,
        max_size=24,
        # one purchase per (user, instant): the latest one is then unique,
        # while a click may still share its instant with a purchase
        unique_by=lambda r: (r[0], r[1], r[2]),
    )
)
def test_pit_join_matches_bruteforce(spark, tmp_path_factory, rows):
    d = _write_events(spark, tmp_path_factory, rows)
    got = {
        r["event_id"]: (r["asof_ts"], r["asof_value"])
        for r in REGISTRY["asof_purchase_attribution"].build(spark, d).collect()
    }

    # python mirror: the same user's latest purchase with ts <= click ts
    want = {}
    for i, (s, u, t, _) in enumerate(rows):
        if t != "click":
            continue
        seen = [(ps, pv) for ps, pu, pt, pv in rows if pt == "purchase" and pu == u and ps <= s]
        if seen:
            ps, pv = max(seen)
            want[i] = (_EPOCH + dt.timedelta(seconds=ps), float(pv))
        else:
            want[i] = (None, None)
    assert got == want


# ---------------------------------------------------------------------------
# Plan shape: the scale claim in the docstrings, pinned
# ---------------------------------------------------------------------------
def test_pit_join_no_range_join(spark, sf_dir):
    from tests.test_plans import _nodes, plan_of

    plan = plan_of(REGISTRY["asof_purchase_attribution"].build(spark, sf_dir))
    # the as-of is the union+window form: no join of any kind, one shuffle
    assert "Join" not in plan and "CartesianProduct" not in plan
    assert "Union" in plan
    assert _nodes(plan, "Exchange") == 1 and "hashpartitioning(user_id" in plan
    assert "unboundedpreceding" in plan.lower()
