"""Property and reference-mirror tests for the late round-4 feature family
(queries_feature): transparent python mirrors for the arithmetic we wrote
ourselves, plus the short-document edge cases the synthetic corpus never
exercises (the ngram_top_bigrams latent-crash class from round-3 advice)."""

from __future__ import annotations

import os
from fractions import Fraction

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

PROP = settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)

# populate QUERY_REGISTRY (queries_feature registers on import through
# load_all — a standalone run of this module would otherwise see an empty
# registry)
from dynaledger_spark.plans.registry import load_all  # noqa: E402

REGISTRY = load_all()

DOC_SCHEMA = "doc_id long, text string, lang string, source string, n_chars long"
EVENT_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)


def _write_docs(spark, tmp_path_factory, rows):
    d = str(tmp_path_factory.mktemp("mlprep_docs"))
    spark.createDataFrame(rows, DOC_SCHEMA).coalesce(1).write.mode(
        "overwrite"
    ).parquet(os.path.join(d, "documents.parquet"))
    return d


def _write_events(spark, tmp_path_factory, rows):
    d = str(tmp_path_factory.mktemp("mlprep_events"))
    spark.createDataFrame(rows, EVENT_SCHEMA).coalesce(1).write.mode(
        "overwrite"
    ).parquet(os.path.join(d, "events.parquet"))
    return d


def _doc(i, text):
    return (i, text, "en", "src0", len(text))


# ---------------------------------------------------------------------------
# TWAP ≡ exact rational reference; degenerate users excluded
# ---------------------------------------------------------------------------
@PROP
@given(
    series=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3),  # user
            st.integers(min_value=0, max_value=10**6),  # second offset
            st.floats(min_value=0.01, max_value=500.0, allow_nan=False),
        ),
        min_size=1,
        max_size=30,
    )
)
def test_twap_matches_rational_reference(spark, tmp_path_factory, series):
    from datetime import datetime, timezone

    base = datetime(2024, 1, 1, tzinfo=timezone.utc)
    rows = [
        (
            i,
            datetime.fromtimestamp(base.timestamp() + sec, tz=timezone.utc),
            u,
            "view",
            round(v, 2),
            "{}",
        )
        for i, (u, sec, v) in enumerate(series)
    ]
    d = _write_events(spark, tmp_path_factory, rows)
    got = {
        r["user_id"]: (r["n_intervals"], r["twap_value"])
        for r in REGISTRY["twap_user_value"].build(spark, d).collect()
    }

    by_user: dict[int, list] = {}
    for i, (u, sec, v) in enumerate(series):
        by_user.setdefault(u, []).append((sec * 10**6, i, round(v, 2)))
    for u, evs in by_user.items():
        evs.sort(key=lambda e: (e[0], e[1]))
        num, den, n = Fraction(0), 0, 0
        for (t0, _, v), (t1, _, _) in zip(evs, evs[1:]):
            dt = t1 - t0
            num += Fraction(v) * dt
            den += dt
            n += 1
        if den == 0:
            assert u not in got  # all-same-timestamp / single-event users drop
        else:
            assert got[u][0] == n
            assert abs(got[u][1] - float(num / den)) < 1e-8
    assert set(got) <= set(by_user)


# ---------------------------------------------------------------------------
# dup-span: exact copies mark 100%, unique docs 0%, short docs survive
# ---------------------------------------------------------------------------
def test_dup_span_copies_and_short_docs(spark, tmp_path_factory):
    dup = " ".join(f"tok{i}" for i in range(12))
    uniq = " ".join(f"only{i}" for i in range(12))
    rows = [
        _doc(0, dup),
        _doc(1, dup),  # exact copy: every 8-gram repeats
        _doc(2, uniq),  # all grams unique
        _doc(3, "a b c"),  # <8 tokens: no grams, must NOT crash
        _doc(4, ""),  # empty text
    ]
    d = _write_docs(spark, tmp_path_factory, rows)
    got = {
        r["doc_id"]: (r["n_grams"], r["dup_gram_frac"], r["has_dup_span"])
        for r in REGISTRY["dup_span_marking"].build(spark, d).collect()
    }
    assert got[0] == (5, 1.0, True)  # 12 tokens -> 5 grams, all duplicated
    assert got[1] == (5, 1.0, True)
    assert got[2] == (5, 0.0, False)
    assert 3 not in got and 4 not in got  # gramless docs emit nothing


# ---------------------------------------------------------------------------
# readability: short/empty docs survive; counts mirror python
# ---------------------------------------------------------------------------
def test_readability_proxy_counts(spark, tmp_path_factory):
    import re

    texts = ["hello world", "a", "strength strength xyz", "aeiou b"]
    d = _write_docs(
        spark, tmp_path_factory, [_doc(i, t) for i, t in enumerate(texts)]
    )
    got = {
        r["doc_id"]: r
        for r in REGISTRY["readability_proxy"].build(spark, d).collect()
    }
    for i, t in enumerate(texts):
        words = t.split(" ")
        r = got[i]
        assert r["n_words"] == len(words)
        assert r["n_syllable_groups"] == len(
            re.findall(r"[aeiouyAEIOUY]+", t)
        )
        assert r["n_long_words"] == sum(1 for w in words if len(w) >= 7)
        assert r["n_pseudo_sentences"] == (len(words) + 19) // 20


# ---------------------------------------------------------------------------
# RFM: partition property — every ordering customer lands in one code
# ---------------------------------------------------------------------------
def test_rfm_partitions_all_customers(spark, sf_dir):
    from pyspark.sql import functions as F

    from dynaledger_spark.catalog import read_table
    seg = REGISTRY["rfm_segmentation"].build(spark, sf_dir)
    agg = seg.agg(F.sum("n_customers").alias("n")).collect()[0]
    n_custs = (
        read_table(spark, sf_dir, "orders")
        .select("o_custkey")
        .distinct()
        .count()
    )
    assert agg["n"] == n_custs
    codes = [r["rfm_code"] for r in seg.select("rfm_code").collect()]
    assert len(codes) == len(set(codes))
    assert all(len(c) == 3 and set(c) <= set("1234") for c in codes)
