"""Property and reference-mirror tests for the late round-4 families
(queries_feature / queries_mlprep): transparent python/numpy mirrors for
the arithmetic we wrote ourselves, plus the short-document edge cases the
synthetic corpus never exercises (the ngram_top_bigrams latent-crash
class from round-3 advice)."""

from __future__ import annotations

import hashlib
import math
import os
from fractions import Fraction

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

PROP = settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)

# populate QUERY_REGISTRY (queries_feature / queries_mlprep register on
# import through load_all — a standalone run of this module would
# otherwise see an empty registry)
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
# feature hashing ≡ python md5-prefix mirror
# ---------------------------------------------------------------------------
@PROP
@given(
    texts=st.lists(
        st.lists(
            st.text(alphabet="abcdefg", min_size=1, max_size=5),
            min_size=1,
            max_size=12,
        ).map(" ".join),
        min_size=1,
        max_size=4,
    )
)
def test_feature_hash_matches_python(spark, tmp_path_factory, texts):
    d = _write_docs(spark, tmp_path_factory, [_doc(i, t) for i, t in enumerate(texts)])
    got = {
        (r["doc_id"], r["bucket"]): r["weight"]
        for r in REGISTRY["feature_hash_vectorize"].build(spark, d).collect()
    }

    want: dict[tuple[int, int], int] = {}
    for i, t in enumerate(texts):
        for w in t.split(" "):
            h = int(hashlib.md5(w.encode()).hexdigest()[:10], 16)
            sgn = 1 if (h & 64) == 0 else -1
            key = (i, h % 64)
            want[key] = want.get(key, 0) + sgn
    assert got == want


# ---------------------------------------------------------------------------
# embedding covariance ≡ numpy population covariance
# ---------------------------------------------------------------------------
@PROP
@given(
    mat=st.lists(
        st.lists(
            st.floats(
                min_value=-4.0, max_value=4.0, allow_nan=False, width=32
            ),
            min_size=3,
            max_size=3,
        ),
        min_size=2,
        max_size=8,
    )
)
def test_embedding_covariance_matches_numpy(spark, tmp_path_factory, mat):
    import numpy as np

    d = str(tmp_path_factory.mktemp("mlprep_emb"))
    rows = [(i, [float(x) for x in v], 0) for i, v in enumerate(mat)]
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(d, "embeddings.parquet")
    )
    got = {
        (r["dim_i"], r["dim_j"]): r["cov"]
        for r in REGISTRY["embedding_covariance"].build(spark, d).collect()
    }
    a = np.array(mat, dtype=np.float32).astype(np.float64)
    want = np.cov(a, rowvar=False, bias=True)  # population covariance
    assert len(got) == 6  # 3*(3+1)/2 upper-triangle cells
    for (i, j), cov in got.items():
        assert abs(cov - want[i - 1, j - 1]) < 1e-9, (i, j, cov, want[i - 1, j - 1])


# ---------------------------------------------------------------------------
# Zipf fit ≡ numpy least squares on the same log-log points
# ---------------------------------------------------------------------------
def test_zipf_fit_matches_numpy(spark, tmp_path_factory):
    import numpy as np

    # Zipf-ish synthetic corpus: word w_k appears ~ N/k times
    words = []
    for k in range(1, 30):
        words += [f"w{k:02d}"] * (300 // k)
    docs = [_doc(0, " ".join(words))]
    d = _write_docs(spark, tmp_path_factory, docs)
    row = REGISTRY["zipf_fit_vocab"].build(spark, d).collect()[0]

    freq: dict[str, int] = {}
    for w in words:
        freq[w] = freq.get(w, 0) + 1
    ranked = sorted(freq.items(), key=lambda kv: (-kv[1], kv[0]))[:500]
    x = np.array([round(math.log(r + 1), 12) for r in range(len(ranked))])
    y = np.array([round(math.log(n), 12) for _, n in ranked])
    slope, intercept = np.polyfit(x, y, 1)
    assert row["n_ranks"] == len(ranked)
    assert abs(row["zipf_slope"] - slope) < 1e-6
    assert abs(row["zipf_intercept"] - intercept) < 1e-6
    # a 1/k corpus must fit slope ≈ -1
    assert -1.2 < row["zipf_slope"] < -0.8


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
# linear attribution conserves attributed purchase value
# ---------------------------------------------------------------------------
def test_attribution_conserves_value(spark, tmp_path_factory):
    from datetime import datetime, timezone

    base = datetime(2024, 3, 1, tzinfo=timezone.utc).timestamp()

    def ev(i, sec, u, typ, v, k):
        return (
            i,
            datetime.fromtimestamp(base + sec, tz=timezone.utc),
            u,
            typ,
            v,
            '{"k": %d}' % k,
        )

    day = 86400
    rows = [
        # user 1: 3 views then a purchase -> 1/3 credit each
        ev(1, 0, 1, "view", 0.0, 0),
        ev(2, 10, 1, "view", 0.0, 1),
        ev(3, 20, 1, "view", 0.0, 5),  # campaign 5 % 4 = 1
        ev(4, 30, 1, "purchase", 90.0, 0),
        # user 2: a view 8 days before the purchase -> OUT of window
        ev(5, 0, 2, "view", 0.0, 2),
        ev(6, 8 * day, 2, "purchase", 50.0, 0),
        # user 3: purchase with no views at all -> unattributed
        ev(7, 0, 3, "purchase", 70.0, 0),
        # user 4: view exactly at purchase ts -> excluded (strict <)
        ev(8, 100, 4, "view", 0.0, 3),
        ev(9, 100, 4, "purchase", 40.0, 0),
    ]
    d = _write_events(spark, tmp_path_factory, rows)
    got = {
        r["campaign"]: (r["n_touches"], r["total_credit"])
        for r in REGISTRY["attribution_linear"].build(spark, d).collect()
    }
    # only user 1's purchase is attributed: campaigns 0, 1 (k=1), 1 (k=5)
    assert set(got) == {0, 1}
    assert got[0][0] == 1 and abs(got[0][1] - 30.0) < 1e-6
    assert got[1][0] == 2 and abs(got[1][1] - 60.0) < 1e-6
    assert abs(sum(c for _, c in got.values()) - 90.0) < 1e-6


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
# link prediction ≡ brute-force common-neighbor mirror
# ---------------------------------------------------------------------------
def test_link_prediction_matches_bruteforce(spark, tmp_path_factory):
    from itertools import combinations

    # baskets repeated twice so every within-basket pair clears support=2
    baskets = {
        1: [1, 2, 3],
        2: [1, 2, 3],
        3: [3, 4],
        4: [3, 4],
        5: [4, 5],
        6: [4, 5],
    }
    rows = []
    from datetime import datetime, timezone

    ship = datetime(2024, 1, 1, tzinfo=timezone.utc)
    ln = 0
    for ok, parts in baskets.items():
        for p in parts:
            ln += 1
            rows.append(
                (ok, p, 1, ln, 1.0, 10.0, 0.0, 0.0, "N", "O", ship)
            )
    d = str(tmp_path_factory.mktemp("mlprep_li"))
    spark.createDataFrame(
        rows,
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int, "
        "l_quantity double, l_extendedprice double, l_discount double, "
        "l_tax double, l_returnflag string, l_linestatus string, "
        "l_shipdate timestamp",
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(d, "lineitem.parquet")
    )

    got = {
        (r["pa"], r["pb"]): r["common_neighbors"]
        for r in REGISTRY["link_prediction_common_neighbors"]
        .build(spark, d)
        .collect()
    }

    # brute-force mirror (support-2 edges, canonical pa < pb)
    from collections import Counter

    pair_support = Counter()
    for parts in baskets.values():
        for a, b in combinations(sorted(set(parts)), 2):
            pair_support[(a, b)] += 1
    edges = {p for p, s in pair_support.items() if s >= 2}
    adj: dict[int, set] = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    want = {}
    for a, b in combinations(sorted(adj), 2):
        if (a, b) in edges:
            continue
        cn = len(adj[a] & adj[b])
        if cn > 0:
            want[(a, b)] = cn
    assert got == want
    assert got, "mirror graph must produce at least one candidate"


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


# ---------------------------------------------------------------------------
# prefix-filter join ≡ brute-force Jaccard (full-recall theorem check)
# ---------------------------------------------------------------------------
@PROP
@given(
    docs=st.lists(
        st.lists(
            st.sampled_from([f"w{i}" for i in range(12)]),
            min_size=6,
            max_size=14,
        ).map(" ".join),
        min_size=2,
        max_size=8,
    )
)
def test_prefix_filter_join_matches_bruteforce(spark, tmp_path_factory, docs):
    d = _write_docs(
        spark, tmp_path_factory, [_doc(i, t) for i, t in enumerate(docs)]
    )
    got = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in REGISTRY["jaccard_prefix_filter_join"].build(spark, d).collect()
    }

    def shingles(t):
        toks = t.split(" ")
        k = 5
        n = max(len(toks) - k, 0)
        return {" ".join(toks[i : i + k]) for i in range(n + 1)}

    want = {}
    sets = {i: shingles(t) for i, t in enumerate(docs)}
    for a in sets:
        for b in sets:
            if a >= b:
                continue
            inter = len(sets[a] & sets[b])
            union = len(sets[a] | sets[b])
            if union and 5 * inter >= 4 * union:
                want[(a, b)] = round(inter / union, 12)
    assert got.keys() == want.keys()
    for k in want:
        assert abs(got[k] - want[k]) < 1e-9
