"""Approximate/sketch aggregations over the events table.

The scale path for cardinality and quantile questions: HyperLogLog++
(`approx_count_distinct`) and the GK quantile sketch
(`percentile_approx`) are single-pass, mergeable, fixed-memory — at
100 TB the exact versions below are the ones that stop being feasible
(COUNT(DISTINCT) shuffles every distinct value). Sketch outputs are
engine-specific → rows-only driver checks; error bounds vs the exact
answers are asserted in tests/test_scale.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dynaledger_spark.plans.registry import register


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _t(spark, sf_dir, "events")


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    from dynaledger_spark.catalog import read_table

    return read_table(spark, sf_dir, name)


@register(
    "distinct_users_exact",
    doc="exact COUNT(DISTINCT user_id) per event_type (the sketch baseline)",
    oracle="""
        SELECT event_type,
               COUNT(DISTINCT user_id) AS n_users,
               COUNT(*) AS n_events
        FROM events
        GROUP BY event_type
    """,
)
def distinct_users_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct: expands to a two-phase aggregate (distinct keys
    shuffle). Correct at any scale but shuffle-heavy — the reason the
    sketch variant exists."""
    return (
        _events(spark, sf_dir)
        .groupBy("event_type")
        .agg(
            F.count_distinct("user_id").alias("n_users"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


@register(
    "approx_distinct_users",
    doc="HyperLogLog++ distinct users per event_type (rsd 2%)",
    oracle=None,  # sketch values are engine-specific
)
def approx_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL++ sketch: fixed ~1.5 KB of state per group regardless of
    cardinality, map-side mergeable — the 100 TB answer to n_users.
    Relative error ≤ ~2% (rsd parameter), asserted in tests."""
    return (
        _events(spark, sf_dir)
        .groupBy("event_type")
        .agg(F.approx_count_distinct("user_id", rsd=0.02).alias("n_users_approx"))
    )


@register(
    "value_quantiles_sketch",
    doc="GK-sketch p50/p95/p99 of value per event_type",
    oracle=None,  # sketch interpolation is engine-specific
)
def value_quantiles_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greenwald-Khanna quantile sketch at accuracy 1/10000: single pass,
    bounded memory, mergeable across partitions."""
    return (
        _events(spark, sf_dir)
        .groupBy("event_type")
        .agg(
            F.percentile_approx("value", [0.5, 0.95, 0.99], 10000).alias("q"),
        )
        .select(
            "event_type",
            F.col("q")[0].alias("p50"),
            F.col("q")[1].alias("p95"),
            F.col("q")[2].alias("p99"),
        )
    )


# ---------------------------------------------------------------------------
# Portable GK quantile summary (oracle-exact miniature of the GK scale path)
# ---------------------------------------------------------------------------
# `value_quantiles_sketch` (percentile_approx) is rows-only because
# Spark's GK implementation details (compression schedule, interpolation)
# are engine-specific. This miniature replays the SEMANTICS that matter —
# a bounded eps-approximate summary + the GK query rule "smallest summary
# element whose rank reaches ceil(phi*n)" — with a deterministic
# rank-stride compression both engines reproduce bitwise.
_GK_EPS_DEN = 64  # eps = 1/64 → summary keeps ~64 elements per group


@register(
    "gk_portable_quantiles",
    doc="portable eps=1/64 rank-stride quantile summary beside exact rank quantiles",
    oracle=f"""
        WITH base AS (
            SELECT event_type, value,
                   ROW_NUMBER() OVER (PARTITION BY event_type
                                      ORDER BY value, event_id) AS rn,
                   COUNT(*) OVER (PARTITION BY event_type) AS n
            FROM events
            WHERE value IS NOT NULL
        ),
        strided AS (
            SELECT event_type, value, rn, n,
                   GREATEST(1, CAST(floor(CAST(n AS DOUBLE) / {_GK_EPS_DEN}) AS BIGINT)) AS k
            FROM base
        ),
        kept AS (
            SELECT * FROM strided WHERE (rn - 1) % k = 0 OR rn = n
        ),
        gk AS (
            SELECT event_type, n, k,
                   CAST(COUNT(*) AS BIGINT) AS summary_size,
                   MIN(CASE WHEN CAST(rn AS DOUBLE) >= ceil(0.50 * n) THEN value END) AS p50_gk,
                   MIN(CASE WHEN CAST(rn AS DOUBLE) >= ceil(0.95 * n) THEN value END) AS p95_gk,
                   MIN(CASE WHEN CAST(rn AS DOUBLE) >= ceil(0.99 * n) THEN value END) AS p99_gk
            FROM kept GROUP BY event_type, n, k
        ),
        exact AS (
            SELECT event_type,
                   MIN(CASE WHEN CAST(rn AS DOUBLE) >= ceil(0.50 * n) THEN value END) AS p50_exact,
                   MIN(CASE WHEN CAST(rn AS DOUBLE) >= ceil(0.95 * n) THEN value END) AS p95_exact,
                   MIN(CASE WHEN CAST(rn AS DOUBLE) >= ceil(0.99 * n) THEN value END) AS p99_exact
            FROM base GROUP BY event_type
        )
        SELECT gk.event_type,
               CAST(gk.n AS BIGINT) AS n,
               gk.k AS stride,
               gk.summary_size,
               gk.p50_gk, exact.p50_exact,
               gk.p95_gk, exact.p95_exact,
               gk.p99_gk, exact.p99_exact
        FROM gk JOIN exact ON gk.event_type = exact.event_type
    """,
)
def gk_portable_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PORTABLE Greenwald-Khanna miniature (GK 2001), oracle-exact: the
    checkable twin of `value_quantiles_sketch` (whose percentile_approx
    interpolation is engine-native → rows-only). Summary = deterministic
    rank-stride compression at stride k = max(1, floor(n/64)): the kept
    element at each rank is the rank-th smallest value, so the summary is
    tiebreak-independent; g_i = k, Delta_i = 0 in GK terms. Query = the GK
    rule "smallest summary element with rank >= ceil(phi*n)", whose rank
    error is < k <= eps*n by construction — the boundary semantics
    (phi*n landing exactly on / just past a stride point, duplicate
    values straddling a stride) are exactly what this exercises. Exact
    rank quantiles from the uncompressed ranks sit beside the sketch so
    the eps bound is visible in the output.

    Scale: the stride summary is what a mergeable quantile state looks
    like — ~64 rows per group regardless of n (here built via one window
    pass for oracle parity; the production path is percentile_approx's
    single-pass mergeable state). Quantile values pass through
    unmodified, so both engines agree bitwise.
    """
    from pyspark.sql import Window

    ev = (
        _events(spark, sf_dir)
        .where(F.col("value").isNotNull())
        .select("event_type", "value", "event_id")
    )
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    wn = Window.partitionBy("event_type")
    base = ev.select(
        "event_type",
        "value",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    strided = base.withColumn(
        "k",
        F.greatest(
            F.lit(1).cast("bigint"),
            F.floor(F.col("n").cast("double") / _GK_EPS_DEN).cast("bigint"),
        ),
    )
    kept = strided.where(((F.col("rn") - 1) % F.col("k") == 0) | (F.col("rn") == F.col("n")))

    def _q(phi: float):
        return F.min(
            F.when(
                F.col("rn").cast("double") >= F.ceil(F.lit(phi) * F.col("n")),
                F.col("value"),
            )
        )

    gk = kept.groupBy("event_type", "n", "k").agg(
        F.count(F.lit(1)).cast("bigint").alias("summary_size"),
        _q(0.50).alias("p50_gk"),
        _q(0.95).alias("p95_gk"),
        _q(0.99).alias("p99_gk"),
    )
    exact = base.groupBy("event_type").agg(
        _q(0.50).alias("p50_exact"),
        _q(0.95).alias("p95_exact"),
        _q(0.99).alias("p99_exact"),
    )
    return gk.join(exact, "event_type").select(
        "event_type",
        F.col("n").cast("bigint").alias("n"),
        F.col("k").alias("stride"),
        "summary_size",
        "p50_gk", "p50_exact",
        "p95_gk", "p95_exact",
        "p99_gk", "p99_exact",
    )


# ---------------------------------------------------------------------------
# Portable Bloom filter: build + probe + false-positive accounting (round-4)
# ---------------------------------------------------------------------------
# m = 4096 bits in 63-bit words; k = 3 seeded multiplicative hashes.
# Every step is integer arithmetic both engines replay bitwise, so unlike
# the engine-native sketches (HLL/GK, rows-only) this one is oracle-EXACT.
_BLOOM_M = 4096
_BLOOM_HASHES = ((2654435761, 97), (2246822519, 3), (3266489917, 59))


def _bloom_bits_sql(key: str) -> list[str]:
    return [
        f"CAST(({key} * {a} + {b}) % 4294967296 % {_BLOOM_M} AS BIGINT)"
        for a, b in _BLOOM_HASHES
    ]


@register(
    "bloom_filter_probe",
    doc="portable 4096-bit/3-hash Bloom filter over customers, probed with half-absent keys",
    oracle=f"""
        WITH bits AS (
            {' UNION ALL '.join(
                f"SELECT {b} AS bit FROM customer" for b in _bloom_bits_sql('c_custkey')
            )}
        ),
        bloom AS (
            SELECT bit // 63 AS word_idx,
                   bit_or(CAST(1 AS BIGINT) << CAST(bit % 63 AS INT)) AS word
            FROM bits GROUP BY bit // 63
        ),
        probes AS (
            SELECT DISTINCT o_custkey * 2 AS probe_key FROM orders
        ),
        probe_bits AS (
            SELECT probe_key, u.bit,
                   CAST(u.bit // 63 AS BIGINT) AS word_idx,
                   CAST(u.bit % 63 AS INT) AS bit_in_word
            FROM probes, unnest([{', '.join(_bloom_bits_sql('probe_key'))}]) AS u(bit)
        ),
        hits AS (
            SELECT probe_key,
                   CASE WHEN COUNT(*) FILTER (
                            (bloom.word >> bit_in_word) & 1 = 1) = 3
                        THEN 1 ELSE 0 END AS bloom_positive
            FROM probe_bits LEFT JOIN bloom USING (word_idx)
            GROUP BY probe_key
        ),
        truth AS (
            SELECT h.probe_key, h.bloom_positive,
                   CASE WHEN c.c_custkey IS NULL THEN 0 ELSE 1 END AS actually_present
            FROM hits h LEFT JOIN customer c ON h.probe_key = c.c_custkey
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_probed,
               CAST(SUM(bloom_positive) AS BIGINT) AS n_bloom_positive,
               CAST(SUM(actually_present) AS BIGINT) AS n_actually_present,
               CAST(SUM(CASE WHEN bloom_positive = 1 AND actually_present = 0
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_false_positive,
               CAST(SUM(CASE WHEN bloom_positive = 0 AND actually_present = 1
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_false_negative
        FROM truth
    """,
)
def bloom_filter_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A Bloom filter built, probed, and audited entirely in relational
    operators with PORTABLE hashes — so the whole sketch is oracle-exact
    (the HLL/GK entries stay rows-only because their hashes are
    engine-native). Build: each key sets k=3 of m=4096 bits; the filter
    materializes as ≤64 (word_idx, bit_or word) rows — the associative
    bit_or aggregation IS the filter union, which is how per-partition
    filters merge at scale. Probe: half-absent crafted keys join the
    64-row filter (broadcast-sized at any corpus scale) and report the
    confusion counts. n_false_negative MUST be 0 (Bloom guarantee —
    asserted by both engines agreeing with the exact membership join);
    the false-positive rate is the documented (1−e^{{-kn/m}})^k. This is
    the primitive behind Spark's own runtime bloom-join pruning; here it
    is explicit so the pruning ratio is measurable.
    """
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    bits = None
    for a, b in _BLOOM_HASHES:
        part = cust.select(
            ((F.col("c_custkey") * a + b) % 4294967296 % _BLOOM_M)
            .cast("bigint")
            .alias("bit")
        )
        bits = part if bits is None else bits.unionAll(part)
    bloom = bits.groupBy((F.col("bit") / 63).cast("bigint").alias("word_idx")).agg(
        F.bit_or(
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(bit % 63 AS INT))")
        ).alias("word")
    )
    probes = orders.select((F.col("o_custkey") * 2).alias("probe_key")).distinct()
    bit_arr = F.array(
        *[
            ((F.col("probe_key") * a + b) % 4294967296 % _BLOOM_M).cast("bigint")
            for a, b in _BLOOM_HASHES
        ]
    )
    probe_bits = probes.select(
        "probe_key", F.explode(bit_arr).alias("bit")
    ).select(
        "probe_key",
        (F.col("bit") / 63).cast("bigint").alias("word_idx"),
        (F.col("bit") % 63).cast("int").alias("bit_in_word"),
    )
    hits = (
        probe_bits.join(F.broadcast(bloom), "word_idx", "left")
        .groupBy("probe_key")
        .agg(
            F.when(
                F.sum(
                    F.expr("CAST(shiftright(word, bit_in_word) % 2 = 1 AS INT)")
                )
                == 3,
                1,
            )
            .otherwise(0)
            .alias("bloom_positive")
        )
    )
    truth = hits.join(
        cust.select(F.col("c_custkey").alias("probe_key")), "probe_key", "left_semi"
    ).select("probe_key").withColumn("actually_present", F.lit(1))
    joined = hits.join(truth.select("probe_key", "actually_present"), "probe_key", "left").fillna(
        {"actually_present": 0}
    )
    return joined.agg(
        F.count(F.lit(1)).alias("n_probed"),
        F.sum("bloom_positive").cast("bigint").alias("n_bloom_positive"),
        F.sum("actually_present").cast("bigint").alias("n_actually_present"),
        F.sum(
            ((F.col("bloom_positive") == 1) & (F.col("actually_present") == 0)).cast("bigint")
        ).alias("n_false_positive"),
        F.sum(
            ((F.col("bloom_positive") == 0) & (F.col("actually_present") == 1)).cast("bigint")
        ).alias("n_false_negative"),
    )


# ---------------------------------------------------------------------------
# Portable HyperLogLog (oracle-exact miniature of the HLL++ scale path)
# ---------------------------------------------------------------------------
# 512 registers (p=9) over the repo's portable 40-bit md5-prefix hash.
# Every step is integer-exact or provably bit-identical across engines:
# the register harmonic sum adds 512 dyadic terms 2^-M (M <= 32), which
# is EXACT double arithmetic in any order (41 significant bits < 53), so
# even the floating aggregate is combine-order-independent.
_HLL_M = 512


@register(
    "hll_portable_estimate",
    doc="portable 512-register HyperLogLog distinct-user estimate beside the exact count",
    oracle=f"""
        WITH h AS (
            SELECT ((strpos('0123456789abcdef', substr(md5(CAST(user_id AS VARCHAR)), 1, 1)) - 1) * 68719476736
                  + (strpos('0123456789abcdef', substr(md5(CAST(user_id AS VARCHAR)), 2, 1)) - 1) * 4294967296
                  + (strpos('0123456789abcdef', substr(md5(CAST(user_id AS VARCHAR)), 3, 1)) - 1) * 268435456
                  + (strpos('0123456789abcdef', substr(md5(CAST(user_id AS VARCHAR)), 4, 1)) - 1) * 16777216
                  + (strpos('0123456789abcdef', substr(md5(CAST(user_id AS VARCHAR)), 5, 1)) - 1) * 1048576
                  + (strpos('0123456789abcdef', substr(md5(CAST(user_id AS VARCHAR)), 6, 1)) - 1) * 65536
                  + (strpos('0123456789abcdef', substr(md5(CAST(user_id AS VARCHAR)), 7, 1)) - 1) * 4096
                  + (strpos('0123456789abcdef', substr(md5(CAST(user_id AS VARCHAR)), 8, 1)) - 1) * 256
                  + (strpos('0123456789abcdef', substr(md5(CAST(user_id AS VARCHAR)), 9, 1)) - 1) * 16
                  + (strpos('0123456789abcdef', substr(md5(CAST(user_id AS VARCHAR)), 10, 1)) - 1)) AS h
            FROM events
        ),
        obs AS (SELECT h % {_HLL_M} AS bucket, h // {_HLL_M} AS w FROM h),
        regs AS (
            SELECT bucket,
                   MAX(CASE WHEN w = 0 THEN 32
                            ELSE 31 - CAST(floor(ln(w + 0.5) / ln(2.0)) AS INT)
                       END) AS m_j
            FROM obs GROUP BY bucket
        ),
        allregs AS (
            SELECT u.b AS bucket, COALESCE(regs.m_j, 0) AS m_j
            FROM unnest(range(0, {_HLL_M})) AS u(b)
            LEFT JOIN regs ON regs.bucket = u.b
        ),
        agg AS (
            SELECT SUM(pow(2.0, -m_j)) AS z,
                   CAST(SUM(CASE WHEN m_j = 0 THEN 1 ELSE 0 END) AS BIGINT) AS v
            FROM allregs
        ),
        ex AS (SELECT COUNT(DISTINCT user_id) AS exact_distinct FROM events),
        est AS (
            SELECT z, v, exact_distinct,
                   (0.7213 / (1.0 + 1.079 / {_HLL_M}.0))
                       * {_HLL_M}.0 * {_HLL_M}.0 / z AS raw_u
            FROM agg CROSS JOIN ex
        )
        SELECT CAST({_HLL_M} AS INT) AS m,
               v AS n_zero_registers,
               round(raw_u, 4) AS est_raw,
               round(CASE WHEN raw_u <= 2.5 * {_HLL_M} AND v > 0
                          THEN {_HLL_M}.0 * ln({_HLL_M}.0 / v)
                          ELSE raw_u END, 4) AS est_hll,
               CAST(exact_distinct AS BIGINT) AS exact_distinct,
               CASE WHEN exact_distinct > 0 THEN
                    round(abs(CASE WHEN raw_u <= 2.5 * {_HLL_M} AND v > 0
                                   THEN {_HLL_M}.0 * ln({_HLL_M}.0 / v)
                                   ELSE raw_u END - exact_distinct)
                          / exact_distinct, 6) END AS rel_err
        FROM est
    """,
)
def hll_portable_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A fully PORTABLE HyperLogLog (Flajolet et al. 2007, with the
    small-range linear-counting correction of HLL++): the oracle-exact
    miniature that upgrades the engine-specific `approx_distinct_users`
    sketch evidence — the same role the portable MinHash miniature plays
    for the xxhash64 production path. 512 registers over the repo's
    40-bit md5-prefix hash; rho via floor(ln(w+0.5)/ln 2), which equals
    floor(log2 w) for every integer (≥2e-10 boundary slack vs ~1e-16
    libm error); the harmonic register sum is EXACT double arithmetic
    (512 dyadic terms, 41 significant bits), hence order-independent.
    Estimate and exact COUNT(DISTINCT) emitted side by side with the
    relative error.

    Scale: the register table is the mergeable fixed-memory state — one
    hash aggregate to ≤512 rows regardless of corpus size, exactly the
    shape a 1000-executor rollup wants (map-side partial registers
    combine by MAX). The exact-count column is the part that stops
    scaling; the sketch column is the 100 TB answer.
    """
    ev = _events(spark, sf_dir)
    h = F.expr(
        "CAST(conv(substring(md5(CAST(user_id AS STRING)), 1, 10), 16, 10) AS BIGINT)"
    )
    obs = ev.select(h.alias("h")).select(
        (F.col("h") % _HLL_M).alias("bucket"),
        F.expr(f"h div {_HLL_M}").alias("w"),
    )
    rho = (
        F.when(F.col("w") == 0, F.lit(32))
        .otherwise(
            31 - F.floor(F.log(F.col("w") + 0.5) / F.log(F.lit(2.0))).cast("int")
        )
        .cast("int")
    )
    regs = obs.groupBy("bucket").agg(F.max(rho).alias("m_j"))
    full = (
        spark.range(_HLL_M)
        .select(F.col("id").alias("bucket"))
        .join(regs, "bucket", "left")
        .select(F.coalesce(F.col("m_j"), F.lit(0)).alias("m_j"))
    )
    agg = full.agg(
        F.sum(F.pow(F.lit(2.0), -F.col("m_j"))).alias("z"),
        F.sum(F.when(F.col("m_j") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("v"),
    )
    ex = ev.agg(F.count_distinct("user_id").alias("exact_distinct"))
    raw_u = (
        (0.7213 / (1.0 + 1.079 / float(_HLL_M))) * float(_HLL_M) * float(_HLL_M)
    ) / F.col("z")
    corr_u = F.when(
        (raw_u <= 2.5 * _HLL_M) & (F.col("v") > 0),
        float(_HLL_M) * F.log(float(_HLL_M) / F.col("v")),
    ).otherwise(raw_u)
    return agg.crossJoin(F.broadcast(ex)).select(
        F.lit(_HLL_M).cast("int").alias("m"),
        F.col("v").alias("n_zero_registers"),
        F.round(raw_u, 4).alias("est_raw"),
        F.round(corr_u, 4).alias("est_hll"),
        F.col("exact_distinct").cast("bigint").alias("exact_distinct"),
        # rel_err has no defined value on an empty corpus (exact = 0):
        # NULL under a guard mirrored in the oracle, never ANSI div/0
        F.when(
            F.col("exact_distinct") > 0,
            F.round(
                F.abs(corr_u - F.col("exact_distinct")) / F.col("exact_distinct"), 6
            ),
        ).alias("rel_err"),
    )


# ---------------------------------------------------------------------------
# Portable KMV / theta sketch with set operations (round 8)
# ---------------------------------------------------------------------------
# The third sketch family beside HLL (cardinality) and GK (quantiles):
# K-Minimum-Values — the core of the DataSketches "theta" sketch — is
# the one that supports SET ALGEBRA (union/intersection estimates from
# mergeable fixed-size state). k=64 over the repo's 40-bit md5-prefix
# hash: at sf0.001 every per-type set is smaller than k (sketch == set,
# exact branch), at sf0.01+ the estimator branch engages — both code
# paths are driver-checked. All state is integer until the final
# divisions (IEEE-identical in both engines).
_KMV_K = 64
_KMV_M = 1 << 40  # hash space size for the 40-bit md5 prefix


@register(
    "kmv_theta_sketch_pairs",
    doc=f"portable KMV (theta) sketches, k={_KMV_K}: union/intersection/Jaccard estimates per event-type pair beside exact counts",
    oracle=f"""
        WITH h AS (
            SELECT DISTINCT event_type,
                   user_id,
                   ((strpos('0123456789abcdef', substr(md5(CAST(user_id AS VARCHAR)), 1, 1)) - 1) * 68719476736
                  + (strpos('0123456789abcdef', substr(md5(CAST(user_id AS VARCHAR)), 2, 1)) - 1) * 4294967296
                  + (strpos('0123456789abcdef', substr(md5(CAST(user_id AS VARCHAR)), 3, 1)) - 1) * 268435456
                  + (strpos('0123456789abcdef', substr(md5(CAST(user_id AS VARCHAR)), 4, 1)) - 1) * 16777216
                  + (strpos('0123456789abcdef', substr(md5(CAST(user_id AS VARCHAR)), 5, 1)) - 1) * 1048576
                  + (strpos('0123456789abcdef', substr(md5(CAST(user_id AS VARCHAR)), 6, 1)) - 1) * 65536
                  + (strpos('0123456789abcdef', substr(md5(CAST(user_id AS VARCHAR)), 7, 1)) - 1) * 4096
                  + (strpos('0123456789abcdef', substr(md5(CAST(user_id AS VARCHAR)), 8, 1)) - 1) * 256
                  + (strpos('0123456789abcdef', substr(md5(CAST(user_id AS VARCHAR)), 9, 1)) - 1) * 16
                  + (strpos('0123456789abcdef', substr(md5(CAST(user_id AS VARCHAR)), 10, 1)) - 1)) AS h
            FROM events
        ),
        sk AS (
            -- KMV sketches are sets of DISTINCT HASH VALUES: two users
            -- colliding in the 40-bit hash contribute ONE sketch entry
            -- (matching the Spark side's distinct-on-(event_type, h)).
            SELECT event_type, h FROM (
                SELECT event_type, h,
                       row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
                FROM (SELECT DISTINCT event_type, h FROM h)
            ) WHERE rn <= {_KMV_K}
        ),
        types AS (SELECT DISTINCT event_type FROM events),
        pairs AS (
            SELECT a.event_type AS type_a, b.event_type AS type_b
            FROM types a JOIN types b ON a.event_type < b.event_type
        ),
        u AS (
            SELECT p.type_a, p.type_b, s.h,
                   MAX(CASE WHEN s.event_type = p.type_a THEN 1 ELSE 0 END) AS in_a,
                   MAX(CASE WHEN s.event_type = p.type_b THEN 1 ELSE 0 END) AS in_b
            FROM pairs p JOIN sk s
              ON s.event_type IN (p.type_a, p.type_b)
            GROUP BY p.type_a, p.type_b, s.h
        ),
        kept AS (
            SELECT type_a, type_b, h, in_a, in_b,
                   row_number() OVER (PARTITION BY type_a, type_b ORDER BY h) AS rn,
                   COUNT(*) OVER (PARTITION BY type_a, type_b) AS n_union_sk
            FROM u
        ),
        est AS (
            SELECT type_a, type_b,
                   CAST(MIN(n_union_sk) AS BIGINT) AS n_union_sk,
                   CAST(MAX(CASE WHEN rn = {_KMV_K} THEN h END) AS BIGINT) AS theta_h,
                   CAST(SUM(CASE WHEN rn <= {_KMV_K} AND in_a = 1 AND in_b = 1
                                 THEN 1 ELSE 0 END) AS BIGINT) AS n_common_kept
            FROM kept GROUP BY type_a, type_b
        ),
        ex AS (
            SELECT a.event_type AS type_a, b.event_type AS type_b,
                   CAST(COUNT(DISTINCT CASE WHEN b.user_id IS NOT NULL
                                            THEN a.user_id END) AS BIGINT)
                       AS inter_exact
            FROM (SELECT DISTINCT event_type, user_id FROM events) a
            LEFT JOIN (SELECT DISTINCT event_type, user_id FROM events) b
              ON a.user_id = b.user_id AND a.event_type < b.event_type
            WHERE b.event_type IS NOT NULL
            GROUP BY a.event_type, b.event_type
        ),
        exu AS (
            SELECT p.type_a, p.type_b,
                   (SELECT COUNT(DISTINCT user_id) FROM events e
                    WHERE e.event_type IN (p.type_a, p.type_b)) AS union_exact
            FROM pairs p
        )
        SELECT e.type_a, e.type_b,
               CAST({_KMV_K} AS INT) AS k,
               round(CASE WHEN e.n_union_sk < {_KMV_K}
                          THEN CAST(e.n_union_sk AS DOUBLE)
                          ELSE ({_KMV_K} - 1) * CAST({_KMV_M} AS DOUBLE) / e.theta_h
                     END, 4) AS union_est,
               CAST(exu.union_exact AS BIGINT) AS union_exact,
               round(CASE WHEN e.n_union_sk < {_KMV_K}
                          THEN CAST(e.n_common_kept AS DOUBLE)
                          ELSE CAST(e.n_common_kept AS DOUBLE) / {_KMV_K}
                               * (({_KMV_K} - 1) * CAST({_KMV_M} AS DOUBLE) / e.theta_h)
                     END, 4) AS inter_est,
               COALESCE(ex.inter_exact, 0) AS inter_exact,
               round(CAST(e.n_common_kept AS DOUBLE)
                     / least(e.n_union_sk, {_KMV_K}), 6) AS jaccard_est,
               round(CAST(COALESCE(ex.inter_exact, 0) AS DOUBLE)
                     / exu.union_exact, 6) AS jaccard_exact
        FROM est e
        JOIN exu ON exu.type_a = e.type_a AND exu.type_b = e.type_b
        LEFT JOIN ex ON ex.type_a = e.type_a AND ex.type_b = e.type_b
    """,
)
def kmv_theta_sketch_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Portable K-Minimum-Values sketch (Bar-Yossef et al. 2002; the
    core of the DataSketches theta family) with SET ALGEBRA — the one
    sketch capability HLL lacks: per event type keep the k={k} smallest
    40-bit md5 hashes of its distinct users; for each type pair,
    re-minimize the two sketches into a union sketch, read theta = the
    k-th smallest union hash, and estimate |union| = (k-1)*M/theta_h,
    |intersection| = (common kept / k) * |union|_est, Jaccard = common
    kept / k — each beside its exact twin so the error is visible.
    Sets smaller than k take the exact branch (sketch == set), which is
    the sf0.001 path; the estimator branch is the sf0.01+ path — both
    driver-checked. Everything is integer state until the final IEEE
    divisions, so the whole sketch is oracle-exact (the HLL/GK
    miniature discipline applied to the theta family).

    Scale: a KMV sketch is mergeable fixed-size state — per-partition
    k-smallest combine by re-minimizing, exactly what the rank-window
    over the (type, distinct-hash) aggregate computes here; pair
    algebra then runs on |types|^2 * k rows regardless of corpus size.
    The exact twins are the part that stops scaling (distinct shuffles);
    the sketch columns are the 100 TB answer.
    """
    ev = _events(spark, sf_dir)
    h = F.expr(
        "CAST(conv(substring(md5(CAST(user_id AS STRING)), 1, 10), 16, 10) AS BIGINT)"
    )
    from pyspark.sql import Window as W

    dh = ev.select("event_type", "user_id").distinct().select(
        "event_type", h.alias("h")
    ).distinct()
    sk = (
        dh.withColumn(
            "rn", F.row_number().over(W.partitionBy("event_type").orderBy("h"))
        )
        .filter(F.col("rn") <= _KMV_K)
        .select("event_type", "h")
    )
    types = ev.select("event_type").distinct()
    pairs = (
        types.alias("a")
        .join(
            types.alias("b"),
            F.col("a.event_type") < F.col("b.event_type"),
        )
        .select(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
        )
    )
    u = (
        pairs.join(
            F.broadcast(sk).alias("s"),
            (F.col("s.event_type") == F.col("type_a"))
            | (F.col("s.event_type") == F.col("type_b")),
        )
        .groupBy("type_a", "type_b", "h")
        .agg(
            F.max((F.col("s.event_type") == F.col("type_a")).cast("int")).alias("in_a"),
            F.max((F.col("s.event_type") == F.col("type_b")).cast("int")).alias("in_b"),
        )
    )
    wp = W.partitionBy("type_a", "type_b")
    kept = u.select(
        "type_a", "type_b", "h", "in_a", "in_b",
        F.row_number().over(wp.orderBy("h")).alias("rn"),
        F.count(F.lit(1)).over(wp).alias("n_union_sk"),
    )
    est = kept.groupBy("type_a", "type_b").agg(
        F.min("n_union_sk").cast("bigint").alias("n_union_sk"),
        F.max(F.when(F.col("rn") == _KMV_K, F.col("h"))).cast("bigint").alias("theta_h"),
        F.sum(
            ((F.col("rn") <= _KMV_K) & (F.col("in_a") == 1) & (F.col("in_b") == 1)).cast("int")
        ).cast("bigint").alias("n_common_kept"),
    )
    du = ev.select("event_type", "user_id").distinct()
    ex = (
        du.alias("a")
        .join(
            du.alias("b"),
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
        )
        .agg(F.count_distinct(F.col("a.user_id")).cast("bigint").alias("inter_exact"))
    )
    exu = (
        pairs.join(
            du.select(F.col("event_type").alias("t"), "user_id"),
            (F.col("t") == F.col("type_a")) | (F.col("t") == F.col("type_b")),
        )
        .groupBy("type_a", "type_b")
        .agg(F.count_distinct("user_id").cast("bigint").alias("union_exact"))
    )
    u_est = F.when(
        F.col("n_union_sk") < _KMV_K, F.col("n_union_sk").cast("double")
    ).otherwise(
        (_KMV_K - 1) * float(_KMV_M) / F.col("theta_h")
    )
    i_est = F.when(
        F.col("n_union_sk") < _KMV_K, F.col("n_common_kept").cast("double")
    ).otherwise(
        F.col("n_common_kept").cast("double")
        / _KMV_K
        * ((_KMV_K - 1) * float(_KMV_M) / F.col("theta_h"))
    )
    return (
        est.join(exu, ["type_a", "type_b"])
        .join(ex, ["type_a", "type_b"], "left")
        .select(
            "type_a",
            "type_b",
            F.lit(_KMV_K).cast("int").alias("k"),
            F.round(u_est, 4).alias("union_est"),
            "union_exact",
            F.round(i_est, 4).alias("inter_est"),
            F.coalesce(F.col("inter_exact"), F.lit(0)).cast("bigint").alias("inter_exact"),
            F.round(
                F.col("n_common_kept").cast("double")
                / F.least(F.col("n_union_sk"), F.lit(_KMV_K).cast("bigint")),
                6,
            ).alias("jaccard_est"),
            F.round(
                F.coalesce(F.col("inter_exact"), F.lit(0)).cast("double")
                / F.col("union_exact"),
                6,
            ).alias("jaccard_exact"),
        )
    )


kmv_theta_sketch_pairs.__doc__ = kmv_theta_sketch_pairs.__doc__.format(k=_KMV_K)
