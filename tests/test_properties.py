"""Property-based tests (hypothesis): random-input invariants for the
operators whose correctness rests on arithmetic we wrote ourselves rather
than on Catalyst — deterministic hash splitting, distributed quantile
index math, and the engine-portable rolling fingerprint.

Each property runs a bounded number of examples against the shared Spark
session (Spark round-trips dominate, so examples are few but adversarial:
hypothesis shrinks any failure to a minimal input).
"""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

PROP = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)

MOD = 1_000_000_007
_H1 = 2654435761
_M32 = 4294967296


# ---------------------------------------------------------------------------
# rolling fingerprint ≡ pure-python fold
# ---------------------------------------------------------------------------
@PROP
@given(
    texts=st.lists(
        st.text(
            alphabet=st.characters(min_codepoint=32, max_codepoint=126),
            min_size=0,
            max_size=80,
        ),
        min_size=1,
        max_size=8,
    )
)
def test_rolling_fingerprint_matches_python(spark, texts):
    from pyspark.sql import functions as F

    from dynaledger_spark.functions.text import rolling_fingerprint

    def ref(s: str) -> int:
        acc = 0
        for ch in s if s else "\x00":  # empty text folds one 0 code
            acc = (acc * 31 + (ord(ch) if s else 0)) % MOD
        return acc

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "id long, text string"
    )
    got = {
        r["id"]: r["fp"]
        for r in df.select(
            "id", rolling_fingerprint(F.col("text")).alias("fp")
        ).collect()
    }
    for i, t in enumerate(texts):
        assert got[i] == ref(t), (t, got[i], ref(t))


# ---------------------------------------------------------------------------
# hash split: total, deterministic, stable under subsetting
# ---------------------------------------------------------------------------
@PROP
@given(
    ids=st.lists(
        st.integers(min_value=0, max_value=2**62), min_size=1, max_size=60, unique=True
    )
)
def test_hash_split_total_and_stable(spark, ids):
    from pyspark.sql import functions as F

    from dynaledger_spark.plans.queries_sampling import _mhash

    bucket = _mhash(F.col("doc_id"), _H1) % 100
    split = (
        F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
    )

    def assign(id_list):
        df = spark.createDataFrame([(i,) for i in id_list], "doc_id long")
        return {
            r["doc_id"]: r["split"]
            for r in df.select("doc_id", split.alias("split")).collect()
        }

    full = assign(ids)
    # total: every row lands in exactly one named split
    assert set(full.values()) <= {"train", "val", "test"}
    assert len(full) == len(ids)
    # stable under subsetting/appends: a row's split never depends on
    # which other rows are present (the property random sampling lacks)
    half = assign(ids[: max(1, len(ids) // 2)])
    for k, v in half.items():
        assert full[k] == v


# ---------------------------------------------------------------------------
# discrete median index arithmetic ≡ numpy on random groups
# ---------------------------------------------------------------------------
@PROP
@given(
    groups=st.dictionaries(
        keys=st.sampled_from(["a", "b", "c"]),
        values=st.lists(
            st.integers(min_value=-(10**6), max_value=10**6), min_size=1, max_size=40
        ),
        min_size=1,
        max_size=3,
    )
)
def test_discrete_median_matches_numpy(spark, groups):
    import numpy as np
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    rows = [
        (g, i, float(v))
        for g, vals in groups.items()
        for i, v in enumerate(vals)
    ]
    df = spark.createDataFrame(rows, "g string, rid long, v double")
    w = W.partitionBy("g").orderBy("v", "rid")
    wp = W.partitionBy("g")
    got = {
        r["g"]: r["v"]
        for r in (
            df.withColumn("rn", F.row_number().over(w))
            .withColumn("n", F.count(F.lit(1)).over(wp))
            .filter(F.expr("rn = (n - 1) div 2 + 1"))
            .collect()
        )
    }
    for g, vals in groups.items():
        arr = np.sort(np.asarray(vals, dtype="float64"), kind="stable")
        assert got[g] == arr[(len(arr) - 1) // 2], (g, vals)


# ---------------------------------------------------------------------------
# connected components ≡ union-find reference on random graphs
# ---------------------------------------------------------------------------
@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    n=st.integers(min_value=1, max_value=24),
    edges=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=23),
            st.integers(min_value=0, max_value=23),
        ),
        max_size=40,
    ),
)
def test_connected_components_matches_union_find(spark, n, edges):
    """Pointer-jumping label propagation must agree with a sequential
    union-find on arbitrary graphs — self-loops, duplicate and reversed
    edges, dangling endpoints (edges touching ids ≥ n are dropped),
    long chains near the iteration bound."""
    from dynaledger_spark.operators.graph import connected_components

    edges = [(a, b) for a, b in edges if a < n and b < n]
    nodes_df = spark.createDataFrame([(i,) for i in range(n)], "id long")
    edges_df = spark.createDataFrame(
        edges or [(0, 0)], "src long, dst long"
    )
    got = {
        r.node: r.component
        for r in connected_components(nodes_df, edges_df, "id").collect()
    }

    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {}
    for i in range(n):
        want[i] = min(j for j in range(n) if find(j) == find(i))
    assert got == want, (n, edges)


# ---------------------------------------------------------------------------
# as-of join ≡ DuckDB native ASOF JOIN on random series
# ---------------------------------------------------------------------------
@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    lefts=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=2),  # key
            st.integers(min_value=0, max_value=1000),  # ts
        ),
        min_size=1,
        max_size=30,
    ),
    rights=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=2),
            st.integers(min_value=0, max_value=1000),
            st.integers(min_value=-100, max_value=100),
        ),
        max_size=30,
    ),
)
def test_asof_join_matches_duckdb_asof(spark, lefts, rights):
    """The union-tag + running-window as-of implementation must agree
    with DuckDB's native ASOF LEFT JOIN (r.ts <= l.ts, latest wins) —
    including keys with no quotes, exact ts ties (inclusive), and
    multiple left rows between right rows."""
    import duckdb

    from dynaledger_spark.operators.temporal import asof_join

    # (key, ts) unique on the right: duplicate right timestamps make
    # "latest" payload ambiguous in ANY asof implementation
    rights = list({(k, t): v for k, t, v in rights}.items())
    rights = [(k, t, v) for (k, t), v in rights]

    left_df = spark.createDataFrame(
        [(i, k, t) for i, (k, t) in enumerate(lefts)], "id long, k long, ts long"
    )
    right_df = spark.createDataFrame(
        rights or [(99, 0, 0)], "k long, ts long, v long"
    )
    got = {
        (r["id"], r["asof_ts"], r["asof_v"])
        for r in asof_join(
            left_df, right_df, on=["k"], payload_cols=["v"]
        ).collect()
    }

    con = duckdb.connect()
    con.register("l", __import__("pandas").DataFrame(
        [(i, k, t) for i, (k, t) in enumerate(lefts)], columns=["id", "k", "ts"]
    ))
    con.register("r", __import__("pandas").DataFrame(
        rights or [(99, 0, 0)], columns=["k", "ts", "v"]
    ))
    want = {
        (int(i), None if __import__("pandas").isna(at) else int(at),
         None if __import__("pandas").isna(av) else int(av))
        for i, at, av in con.sql(
            """SELECT l.id, r.ts AS asof_ts, r.v AS asof_v
               FROM l ASOF LEFT JOIN r ON l.k = r.k AND r.ts <= l.ts"""
        ).fetchall()
    }
    assert got == want, (sorted(got), sorted(want))


# ---------------------------------------------------------------------------
# nanos→micros normalization ≡ DuckDB CAST(TIMESTAMP_NS AS TIMESTAMP)
# ---------------------------------------------------------------------------
@PROP
@given(
    nanos=st.lists(
        st.one_of(
            st.integers(min_value=-(2**62), max_value=2**62),
            st.integers(min_value=-2_000, max_value=2_000),  # hammer the ±1000 boundary
        ),
        min_size=1,
        max_size=40,
    )
)
def test_nanos_truncation_matches_duckdb(spark, tmp_path_factory, nanos):
    """catalog.read_table's `ts div 1000` must equal DuckDB's TIMESTAMP_NS→
    TIMESTAMP cast for the full signed range, incl. pre-epoch values
    (both truncate toward zero — ADVICE r1 flagged this as untested)."""
    import os

    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from dynaledger_spark.catalog import read_table

    d = str(tmp_path_factory.mktemp("nanos"))
    pq.write_table(
        pa.table({"ts": pa.array(nanos, type=pa.timestamp("ns"))}),
        os.path.join(d, "events.parquet"),
    )
    got = [
        r[0]
        for r in read_table(spark, d, "events")
        .selectExpr("unix_micros(ts) AS us")
        .collect()
    ]
    want = [
        r[0]
        for r in duckdb.sql(
            f"SELECT epoch_us(CAST(ts AS TIMESTAMP)) FROM '{d}/events.parquet'"
        ).fetchall()
    ]
    assert got == want


# ---------------------------------------------------------------------------
# salted_join ≡ plain join (inner/left); right/full rejected
# ---------------------------------------------------------------------------
@PROP
@given(
    big=st.lists(st.tuples(st.integers(0, 3), st.integers(0, 100)), max_size=30),
    small=st.lists(st.tuples(st.integers(0, 5), st.integers(0, 100)), max_size=6),
    how=st.sampled_from(["inner", "left"]),
)
def test_salted_join_matches_plain_join(spark, big, small, how):
    from dynaledger_spark.operators.scale import salted_join

    big_df = spark.createDataFrame(big or [(99, 0)], "k long, a long")
    small_df = spark.createDataFrame(small or [(98, 0)], "k long, b long")
    got = sorted(
        tuple(r) for r in salted_join(big_df, small_df, ["k"], n_salts=4, how=how).collect()
    )
    want = sorted(tuple(r) for r in big_df.join(small_df, ["k"], how).collect())
    assert got == want


def test_salted_join_rejects_outer(spark):
    import pytest as _pytest

    from dynaledger_spark.operators.scale import salted_join

    df = spark.range(1).selectExpr("id AS k", "id AS v")
    for how in ("right", "full", "left_anti"):
        with _pytest.raises(ValueError, match="salted_join supports"):
            salted_join(df, df, ["k"], how=how)


# ---------------------------------------------------------------------------
# segmented EWMA ≡ python segmented reference (bitwise) and ≈ strict chain
# ---------------------------------------------------------------------------
def _ewma_chain(vals, alpha=0.2):
    acc = vals[0]
    for x in vals[1:]:
        acc = alpha * x + (1.0 - alpha) * acc
    return acc


def _ewma_segmented_py(vals, seg, alpha=0.2):
    """Pure-python mirror of the segmented fold — same op order, so the
    Spark result must match BITWISE, hot keys included."""
    chunks = [vals[i : i + seg] for i in range(0, len(vals), seg)]
    acc = _ewma_chain(chunks[0], alpha)
    for c in chunks[1:]:
        decay, part = 1.0, 0.0
        for x in c:
            decay = decay * (1.0 - alpha)
            part = alpha * x + (1.0 - alpha) * part
        acc = part + decay * acc
    return acc


@PROP
@given(
    series=st.lists(
        st.tuples(
            st.integers(0, 2),  # user
            st.floats(-1e6, 1e6, allow_nan=False, width=64),
        ),
        min_size=1,
        max_size=60,
    ),
    hot_n=st.integers(500, 2000),
)
def test_ewma_segmented_matches_reference(spark, series, hot_n):
    """One deliberately hot user (hot_n events — many segments) plus
    random small users: Spark's segmented fold must equal the python
    segmented mirror bitwise, and stay within float-linear-recurrence
    drift of the strict sequential chain."""
    import datetime

    from dynaledger_spark.plans.queries_pipeline import EWMA_SEGMENT, ewma_segmented

    t0 = datetime.datetime(2024, 1, 1)
    rows, per_user = [], {}
    hot = [((i * 2654435761) % 1_000_000) / 97.0 for i in range(hot_n)]
    for i, v in enumerate(hot):
        rows.append((999, t0 + datetime.timedelta(seconds=i), i, v))
    per_user[999] = hot
    for i, (u, v) in enumerate(series):
        rows.append((u, t0 + datetime.timedelta(seconds=i), 10_000 + i, v))
        per_user.setdefault(u, []).append(v)
    ev = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_id long, value double"
    )
    got = {
        r["user_id"]: (r["ewma_value"], r["n_events"], r["last_event_id"])
        for r in ewma_segmented(ev).collect()
    }
    assert set(got) == set(per_user)
    for u, vals in per_user.items():
        want = _ewma_segmented_py(vals, EWMA_SEGMENT)
        assert got[u][0] == want, f"user {u}: {got[u][0]!r} != {want!r}"
        assert got[u][1] == len(vals)
        chain = _ewma_chain(vals)
        assert abs(got[u][0] - chain) <= 1e-9 * max(1.0, abs(chain))
    assert got[999][2] == hot_n - 1  # hot user's last event id


# ---------------------------------------------------------------------------
# LTTB tie rules: half-up cent quantization + event_id tiebreak at equal area
# ---------------------------------------------------------------------------
def _lttb_reference(rows, bucket_s=3600):
    """Transparent mirror of the documented parallel-LTTB rules:
    anchors = (int-sum of x)/n and (sum of floor(y*100+0.5))/(100n);
    keep the max-area point per middle bucket, ties -> smallest
    event_id. Same IEEE doubles as both engines."""
    import math
    from collections import defaultdict

    pts = defaultdict(list)  # (et, b) -> [(x, y, event_id)]
    for et, eid, x, y in rows:
        pts[(et, x // bucket_s)].append((float(x), y, eid))
    anchors = {}
    for key, ps in pts.items():
        mx = float(sum(int(p[0]) for p in ps)) / len(ps)
        my = float(sum(int(math.floor(p[1] * 100 + 0.5)) for p in ps)) / (
            len(ps) * 100
        )
        anchors[key] = (mx, my)
    out = {}
    for (et, b), ps in pts.items():
        if (et, b - 1) not in anchors or (et, b + 1) not in anchors:
            continue
        lmx, lmy = anchors[(et, b - 1)]
        rmx, rmy = anchors[(et, b + 1)]
        best = None
        for x, y, eid in ps:
            area = abs((lmx - rmx) * (y - lmy) - (lmx - x) * (rmy - lmy))
            cand = (-area, eid)
            if best is None or cand < best:
                best = cand
        out[(et, b)] = (best[1], -best[0])
    return out


@PROP
@given(
    points=st.lists(
        st.tuples(
            st.integers(0, 2),        # bucket 0..2 (bucket 1 produces output)
            st.integers(0, 3599),     # second within the bucket (dups allowed)
            st.integers(-2000, 2000), # value in half-cents: dyadic .005 ties
        ),
        min_size=3,
        max_size=40,
    )
)
def test_lttb_tie_rules_match_reference(spark, points):
    """Duplicate timestamps and exact half-cent values: the Spark plan's
    half-up quantization and event_id tiebreak must match the
    transparent reference bitwise (locks the empirically-found rule the
    oracle encodes)."""
    import datetime
    import unittest.mock as mock

    from dynaledger_spark.plans import queries_pipeline as qp

    # ensure every bucket 0..2 is populated so bucket 1 emits
    points = points + [(0, 0, 100), (1, 0, 100), (2, 0, 100)]
    epoch = datetime.datetime(2024, 1, 1)
    rows, ref_rows = [], []
    for eid, (b, s, half_cents) in enumerate(points):
        x = b * 3600 + s
        y = half_cents / 200.0
        rows.append(("purchase", eid, epoch + datetime.timedelta(seconds=x), y))
        ref_rows.append(("purchase", eid, x, y))
    ev = spark.createDataFrame(
        rows, "event_type string, event_id long, ts timestamp, value double"
    )
    with mock.patch.object(qp, "_t", lambda spark_, sf_dir_, name_: ev):
        got = {
            (r["event_type"], r["bucket"]): (r["event_id"], r["area"])
            for r in qp.lttb_downsample(spark, "unused").collect()
        }
    assert got == _lttb_reference(ref_rows)


# ---------------------------------------------------------------------------
# native session_window: half-open gap boundary (>= gap starts a new session)
# ---------------------------------------------------------------------------
def _sessions_reference(offsets, gap_s=1800):
    """Inclusive-boundary rule: an event exactly gap after the previous
    still MERGES; sessions split only when the gap is strictly exceeded
    (this test falsified the round-3 `>=` documentation — Spark merges
    touching [t, t+gap] windows)."""
    sessions, cur = [], None
    for off in sorted(offsets):
        if cur is None or off - cur[-1] > gap_s:
            if cur:
                sessions.append(cur)
            cur = [off]
        else:
            cur.append(off)
    if cur:
        sessions.append(cur)
    return [(s[0], s[-1], len(s)) for s in sessions]


@PROP
@given(
    offsets=st.lists(
        # multiples of 600 s: exact 1800 gaps (the tie) arise constantly
        st.integers(0, 30).map(lambda k: k * 600),
        min_size=1,
        max_size=25,
    )
)
def test_session_window_gap_boundary(spark, offsets):
    """F.session_window merges at exactly the gap and splits only past
    it — including duplicate timestamps, which must never split."""
    import datetime

    from pyspark.sql import functions as F

    epoch = datetime.datetime(2024, 1, 1)
    df = spark.createDataFrame(
        [(1, epoch + datetime.timedelta(seconds=o)) for o in offsets],
        "user_id long, ts timestamp",
    )
    got = sorted(
        (
            int((r["w"]["start"] - epoch).total_seconds()),
            int((r["w"]["end"] - epoch).total_seconds()) - 1800,
            r["n"],
        )
        for r in df.groupBy(
            F.session_window("ts", "30 minutes").alias("w")
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    assert got == sorted(_sessions_reference(offsets))


# ---------------------------------------------------------------------------
# Morton interleave and Bloom bit positions vs pure-python references
# ---------------------------------------------------------------------------
@PROP
@given(st.lists(st.tuples(st.integers(0, 255), st.integers(0, 255)),
                min_size=1, max_size=50, unique=True))
def test_morton_code_matches_python(spark, pairs):
    """The generated Spark Morton expression must equal the classic
    bit-interleave for arbitrary 8-bit key pairs, and be monotone in
    the bucket property (same high nibbles → same bucket)."""
    from pyspark.sql import functions as F

    from dynaledger_spark.plans.queries_stats import _MORTON_SPARK

    def morton_py(x, y):
        z = 0
        for i in range(8):
            z |= ((x >> i) & 1) << (2 * i)
            z |= ((y >> i) & 1) << (2 * i + 1)
        return z

    df = spark.createDataFrame(pairs, "xk int, yk int")
    got = {(r["xk"], r["yk"]): r["z"]
           for r in df.withColumn("z", F.expr(_MORTON_SPARK)).collect()}
    for x, y in pairs:
        assert got[(x, y)] == morton_py(x, y)
        assert got[(x, y)] >> 8 == morton_py(x >> 4 << 4, y >> 4 << 4) >> 8


@PROP
@given(st.lists(st.integers(0, 2**31), min_size=1, max_size=40, unique=True))
def test_bloom_positions_match_python(spark, keys):
    """The three Bloom hash positions must match the python mirror for
    arbitrary keys (exact modular arithmetic, no overflow drift)."""
    from pyspark.sql import functions as F

    from dynaledger_spark.plans.queries_approx import _BLOOM_HASHES, _BLOOM_M

    df = spark.createDataFrame([(k,) for k in keys], "k long")
    cols = [
        ((F.col("k") * a + b) % 4294967296 % _BLOOM_M).cast("bigint").alias(f"b{i}")
        for i, (a, b) in enumerate(_BLOOM_HASHES)
    ]
    got = {r["k"]: (r["b0"], r["b1"], r["b2"]) for r in df.select("k", *cols).collect()}
    for k in keys:
        want = tuple((k * a + b) % 4294967296 % _BLOOM_M for a, b in _BLOOM_HASHES)
        assert got[k] == want
