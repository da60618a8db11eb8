"""Feature-store / retail-analytics operators (round-4, batch 5).

The ML-feature-serving patterns a training pipeline needs on top of the
raw event log, none previously covered:

* point-in-time join — enrich serving events with the dimension value
  valid AT the event's timestamp (no future leakage), the feature-store
  correctness primitive (cf. the reference's versioned fact tables,
  balance_sheet_load.sql:9-53, which it rebuilds per ddate instead);
* multi-horizon rolling features — per-entity 7 d / 30 d counts and
  sums at each observation, the classic RFM-style online feature;
* lag-k autocorrelation of an aggregated series (the seasonality probe
  run before choosing feature horizons);
* association rules over the capped co-purchase baskets (support /
  confidence / lift — the recommendation baseline);
* a portable Count-Min sketch with exact-vs-estimate accounting (the
  heavy-hitters primitive whose HLL/GK cousins live in queries_approx);
* median-absolute-deviation outlier days (the robust anomaly monitor
  for the daily revenue series).

Float discipline: everything stays in exact integers (cents, counts,
n·x−S deviation numerators) until one final division rounded at 9;
the only doubles that cross engines are those exact-integer ratios.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from dynaledger_spark.plans.registry import register
from dynaledger_spark.plans.queries_graph import MAX_BASKET, MIN_SUPPORT
from dynaledger_spark.plans.queries_stats import _duck_hex_poly


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    from dynaledger_spark.catalog import read_table

    return read_table(spark, sf_dir, name)


# ---------------------------------------------------------------------------
# Point-in-time join: click events enriched with the tier valid at click time
# ---------------------------------------------------------------------------
@register(
    "pit_join_click_tier",
    doc="point-in-time join: each click tagged with the user tier valid at click time",
    oracle="""
        WITH tiers AS (
            SELECT user_id, event_id, ts,
                   CAST(floor(value / 50.0) AS BIGINT) AS tier,
                   lag(CAST(floor(value / 50.0) AS BIGINT))
                       OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
            FROM events WHERE event_type = 'purchase'
        ),
        changes AS (
            SELECT user_id, ts, event_id, tier FROM tiers
            WHERE prev IS NULL OR tier <> prev
        ),
        dedup AS (
            SELECT user_id, ts, tier FROM changes
            QUALIFY row_number() OVER (PARTITION BY user_id, ts
                                       ORDER BY event_id DESC) = 1
        ),
        clicks AS (
            SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
        )
        SELECT e.event_id, e.user_id, e.ts,
               c.tier AS pit_tier, c.ts AS tier_since
        FROM clicks e ASOF LEFT JOIN dedup c
          ON e.user_id = c.user_id AND e.ts >= c.ts
    """,
)
def pit_join_click_tier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The feature-store correctness primitive: serving-time features
    must be the value valid AT the observation's timestamp — joining
    "current tier" onto historical clicks leaks the future into
    training data. The tier-change stream is the scd2_user_tiers change
    detection (one row per actual change, deduped to the max event_id
    when two changes share a microsecond); the enrich is
    operators/temporal.py:asof_join — a union + one ignoreNulls
    last() window on the shared user_id clustering. No range join, no
    per-row subquery: ONE shuffle co-partitions both streams, and a
    change at the click's own instant applies (right side sorts before
    left at equal ts, matching DuckDB ASOF's >= bound — the oracle is
    DuckDB's NATIVE ASOF JOIN, an independent implementation of the
    same semantics rather than a transliteration).

    At 100 TB: the dimension stream is |changes| rows (tiny next to the
    event log); both sides hash-partition on user_id so the window
    never sees more than one user's merged timeline per task.
    """
    from dynaledger_spark.operators.temporal import asof_join

    ev = _t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    tier = F.floor(F.col("value") / 50.0).cast("bigint")
    tiers = (
        ev.filter(F.col("event_type") == "purchase")
        .select("user_id", "event_id", "ts", tier.alias("tier"))
        .withColumn("prev", F.lag("tier").over(w))
    )
    changes = tiers.filter(F.col("prev").isNull() | (F.col("tier") != F.col("prev")))
    dd = W.partitionBy("user_id", "ts").orderBy(F.col("event_id").desc())
    dedup = (
        changes.withColumn("_rn", F.row_number().over(dd))
        .filter(F.col("_rn") == 1)
        .select("user_id", "ts", "tier")
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    joined = asof_join(
        clicks, dedup, on=["user_id"], payload_cols=["tier"], payload_prefix="pit_"
    )
    return joined.select(
        "event_id",
        "user_id",
        "ts",
        F.col("pit_tier"),
        F.col("pit_ts").alias("tier_since"),
    )


# ---------------------------------------------------------------------------
# Multi-horizon rolling features: 7d / 30d counts + sums at each purchase
# ---------------------------------------------------------------------------
_US_7D = 7 * 86_400 * 1_000_000
_US_30D = 30 * 86_400 * 1_000_000


@register(
    "rolling_purchase_features",
    doc="per-purchase trailing 7d/30d count and cents sum (point-in-time-safe rolling features)",
    oracle=f"""
        WITH p AS (
            SELECT event_id, user_id, ts, epoch_us(ts) AS tus,
                   CAST(round(value * 100) AS BIGINT) AS cents
            FROM events WHERE event_type = 'purchase'
        )
        SELECT event_id, user_id, ts,
               CAST(COUNT(*) OVER w7 AS BIGINT) AS n_7d,
               CAST(SUM(cents) OVER w7 AS BIGINT) AS cents_7d,
               CAST(COUNT(*) OVER w30 AS BIGINT) AS n_30d,
               CAST(SUM(cents) OVER w30 AS BIGINT) AS cents_30d
        FROM p
        WINDOW w7 AS (PARTITION BY user_id ORDER BY tus
                      RANGE BETWEEN {_US_7D} PRECEDING AND CURRENT ROW),
               w30 AS (PARTITION BY user_id ORDER BY tus
                       RANGE BETWEEN {_US_30D} PRECEDING AND CURRENT ROW)
    """,
)
def rolling_purchase_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-window features AS OF each observation — the
    "transactions in the last 7/30 days" columns of every churn/fraud
    model, computed without leakage: each row's window is
    [ts − horizon, ts], microsecond-exact, inclusive both ends. Money
    stays exact integer cents, so no aggregation order can change a
    result — which is also what lets this query use a DIFFERENT
    algorithm from its oracle and still match bitwise.

    Plan — prefix differences, NOT sliding RANGE frames: Spark
    re-aggregates a sliding frame's full buffer for every output row
    (no retractable aggregates), so a hot key with its whole history
    inside one horizon is O(rows²) — the skew probe measured 586× wall
    at 10×+hot-user for the naive frame version. Instead:
    trailing(ts) = cum(≤ ts) − cum(< ts−h). The running totals are an
    incremental UNBOUNDED PRECEDING range frame (O(1)/row, peers
    share the cum by RANGE semantics); cum(< ts−h) comes from a
    strict as-of carry — union each row's two frame-start query points
    with the data rows, sort by (t, side) with query points FIRST at
    equal t (strict <), one ignoreNulls last() per user. Everything is
    linear in rows per user; a hot user is two sorted runs. The DuckDB
    oracle keeps the declarative RANGE-frame formulation, so parity
    cross-checks two independent algorithms.
    """
    ev = _t(spark, sf_dir, "events")
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            "event_id",
            "user_id",
            "ts",
            F.unix_micros("ts").alias("tus"),
            F.round(F.col("value") * 100).cast("bigint").alias("cents"),
        )
    )
    wcum = (
        W.partitionBy("user_id")
        .orderBy("tus")
        .rangeBetween(W.unboundedPreceding, W.currentRow)
    )
    cum = p.select(
        "event_id",
        "user_id",
        "ts",
        "tus",
        F.count(F.lit(1)).over(wcum).alias("cum_n"),
        F.sum("cents").over(wcum).alias("cum_c"),
    )
    cumv = F.struct(F.col("cum_n").alias("n"), F.col("cum_c").alias("c"))
    null_cumv = F.lit(None).cast("struct<n:bigint,c:bigint>")
    data = cum.select(
        "user_id",
        F.col("tus").alias("t"),
        F.lit(1).alias("side"),
        F.lit(None).cast("bigint").alias("qid"),
        F.lit(0).alias("h"),
        cumv.alias("cumv"),
    )
    qpts = [
        cum.select(
            "user_id",
            (F.col("tus") - F.lit(us)).alias("t"),
            F.lit(0).alias("side"),
            F.col("event_id").alias("qid"),
            F.lit(h).alias("h"),
            null_cumv.alias("cumv"),
        )
        for h, us in ((7, _US_7D), (30, _US_30D))
    ]
    u = data.unionByName(qpts[0]).unionByName(qpts[1])
    # query points (side 0) sort BEFORE data rows at equal t -> the carried
    # cum excludes rows at exactly ts-h... which belong IN the frame: strict <
    wseq = (
        W.partitionBy("user_id")
        .orderBy("t", "side")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    carried = u.withColumn("prev", F.last("cumv", ignorenulls=True).over(wseq))
    excl = (
        carried.filter(F.col("side") == 0)
        .groupBy("qid")
        .agg(
            F.max(F.when(F.col("h") == 7, F.col("prev.n"))).alias("x7n"),
            F.max(F.when(F.col("h") == 7, F.col("prev.c"))).alias("x7c"),
            F.max(F.when(F.col("h") == 30, F.col("prev.n"))).alias("x30n"),
            F.max(F.when(F.col("h") == 30, F.col("prev.c"))).alias("x30c"),
        )
    )
    return cum.join(excl, cum["event_id"] == excl["qid"]).select(
        "event_id",
        "user_id",
        "ts",
        (F.col("cum_n") - F.coalesce(F.col("x7n"), F.lit(0))).alias("n_7d"),
        (F.col("cum_c") - F.coalesce(F.col("x7c"), F.lit(0))).alias("cents_7d"),
        (F.col("cum_n") - F.coalesce(F.col("x30n"), F.lit(0))).alias("n_30d"),
        (F.col("cum_c") - F.coalesce(F.col("x30c"), F.lit(0))).alias("cents_30d"),
    )


# ---------------------------------------------------------------------------
# Lag-k autocorrelation of the daily revenue series
# ---------------------------------------------------------------------------
@register(
    "acf_daily_revenue",
    doc="lag 1-7 autocorrelation of daily purchase revenue (exact integer deviation algebra)",
    oracle="""
        WITH daily AS (
            SELECT CAST(ts AS DATE) AS day,
                   CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
            FROM events WHERE event_type = 'purchase' GROUP BY 1
        ),
        stats AS (
            SELECT COUNT(*) AS n, SUM(cents) AS s FROM daily
        ),
        dev AS (
            SELECT day, CAST(CAST(n AS HUGEINT) * cents - s AS HUGEINT) AS dn
            FROM daily CROSS JOIN stats
        ),
        den AS (
            SELECT SUM(CAST(dn AS HUGEINT) * dn) AS d2 FROM dev
        ),
        ks AS (SELECT CAST(unnest(range(1, 8)) AS INTEGER) AS k),
        pairs AS (
            SELECT ks.k, a.dn AS dn_t, b.dn AS dn_lag
            FROM ks CROSS JOIN dev a
            JOIN dev b ON b.day = a.day - ks.k
        )
        SELECT k,
               CAST(COUNT(*) AS BIGINT) AS n_pairs,
               round(CAST(SUM(CAST(dn_t AS HUGEINT) * dn_lag) AS DOUBLE)
                     / CAST((SELECT d2 FROM den) AS DOUBLE), 9) AS acf
        FROM pairs GROUP BY k ORDER BY k
    """,
)
def acf_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The seasonality probe run before choosing feature horizons: is
    daily revenue correlated with itself k days back? Deviations use
    the exact-integer trick — dn = n·x − S (both bigint) is n× the
    mean-deviation and the n² factors cancel in the ACF ratio — so
    numerator and denominator are exact integer sums (DECIMAL(38,0)
    products here, HUGEINT in the oracle) and the ONLY float operation
    is the final division, rounded at 9. Both engines convert the same
    exact integers to double, so even past 2⁵³ they round identically.

    Plan: the series is one aggregated row per day — after the one
    groupBy exchange everything (stats scalar, the 7-lag self-join,
    the denominator) is broadcast-sized. At 100 TB the daily rollup is
    still ~365 rows/year; the expensive exchange is the first groupBy,
    which map-side combines to |days| per partition.
    """
    ev = _t(spark, sf_dir, "events")
    daily = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy(F.to_date("ts").alias("day"))
        .agg(F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("cents"))
    )
    stats = daily.agg(F.count(F.lit(1)).alias("n"), F.sum("cents").alias("s"))
    dev = daily.crossJoin(F.broadcast(stats)).select(
        "day",
        # widen n*cents through decimal(38,0)/HUGEINT before subtracting
        # so dn stays exact even when the product nears int64 (ADVICE r10)
        (F.col("n").cast("decimal(38,0)") * F.col("cents") - F.col("s"))
        .cast("decimal(38,0)")
        .alias("dn"),
    )
    big = F.col("dn").cast("decimal(38,0)")
    den = dev.agg(F.sum(big * big).alias("d2"))
    ks = spark.range(1, 8).select(F.col("id").cast("int").alias("k"))
    a, b = dev.alias("a"), dev.alias("b")
    pairs = (
        a.crossJoin(F.broadcast(ks))
        .join(b, F.col("b.day") == F.date_sub(F.col("a.day"), F.col("k")))
        .select(
            "k",
            F.col("a.dn").cast("decimal(38,0)").alias("dn_t"),
            F.col("b.dn").cast("decimal(38,0)").alias("dn_lag"),
        )
    )
    return (
        pairs.groupBy("k")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum(F.col("dn_t") * F.col("dn_lag")).alias("num"),
        )
        .crossJoin(F.broadcast(den))
        .select(
            "k",
            "n_pairs",
            F.round(
                F.col("num").cast("double") / F.col("d2").cast("double"), 9
            ).alias("acf"),
        )
        .orderBy("k")
    )


# ---------------------------------------------------------------------------
# Association rules over the capped co-purchase baskets
# ---------------------------------------------------------------------------
@register(
    "basket_association_rules",
    doc="co-purchase association rules: support, directional confidence, lift",
    oracle=f"""
        WITH capped AS (
            SELECT l_orderkey, l_partkey FROM (
                SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
            ) QUALIFY row_number() OVER (PARTITION BY l_orderkey
                                         ORDER BY l_partkey) <= {MAX_BASKET}
        ),
        supp AS (
            SELECT a.l_partkey AS pa, b.l_partkey AS pb, COUNT(*) AS support
            FROM capped a JOIN capped b
              ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
            GROUP BY pa, pb HAVING COUNT(*) >= {MIN_SUPPORT}
        ),
        items AS (
            SELECT l_partkey AS part, COUNT(*) AS n_item FROM capped GROUP BY 1
        ),
        tot AS (SELECT COUNT(DISTINCT l_orderkey) AS n_baskets FROM capped)
        SELECT s.pa, s.pb, CAST(s.support AS BIGINT) AS support,
               round(CAST(s.support AS DOUBLE) / ia.n_item, 9) AS conf_ab,
               round(CAST(s.support AS DOUBLE) / ib.n_item, 9) AS conf_ba,
               round(CAST(s.support AS DOUBLE) * t.n_baskets
                     / (CAST(ia.n_item AS DOUBLE) * ib.n_item), 9) AS lift
        FROM supp s
        JOIN items ia ON ia.part = s.pa
        JOIN items ib ON ib.part = s.pb
        CROSS JOIN tot t
    """,
)
def basket_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The recommendation baseline on the same capped baskets as the
    co-purchase graph (queries_graph.py): per canonical pair, support
    (baskets containing both), directional confidence support/n(a), and
    lift = P(ab)/(P(a)·P(b)) — lift > 1 means the pair co-occurs beyond
    chance. All counts share the MAX_BASKET hot-order cap, so the
    quadratic step stays bounded per key; the oracle applies the
    identical cap.

    Plan: pair generation reuses the capped self-join shape (bounded
    ≤ 64²/2 pairs per order); item counts and the 1-row basket total
    broadcast onto the support table — the heavy pair stream shuffles
    ONCE for its groupBy and never again. Ratios are exact-integer
    divisions rounded at 9.
    """
    from dynaledger_spark.catalog import read_table

    li = read_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    w = W.partitionBy("l_orderkey").orderBy("l_partkey")
    capped = (
        li.distinct()
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= MAX_BASKET)
        .drop("rn")
    )
    a, b = capped.alias("a"), capped.alias("b")
    supp = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .select(F.col("a.l_partkey").alias("pa"), F.col("b.l_partkey").alias("pb"))
        .groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).alias("support"))
        .filter(F.col("support") >= MIN_SUPPORT)
    )
    items = capped.groupBy(F.col("l_partkey").alias("part")).agg(
        F.count(F.lit(1)).alias("n_item")
    )
    tot = capped.agg(F.countDistinct("l_orderkey").alias("n_baskets"))
    ia = F.broadcast(items.select(F.col("part").alias("_pa"), F.col("n_item").alias("n_a")))
    ib = F.broadcast(items.select(F.col("part").alias("_pb"), F.col("n_item").alias("n_b")))
    s = F.col("support").cast("double")
    return (
        supp.join(ia, F.col("pa") == F.col("_pa"))
        .join(ib, F.col("pb") == F.col("_pb"))
        .crossJoin(F.broadcast(tot))
        .select(
            "pa",
            "pb",
            "support",
            F.round(s / F.col("n_a"), 9).alias("conf_ab"),
            F.round(s / F.col("n_b"), 9).alias("conf_ba"),
            F.round(
                s * F.col("n_baskets") / (F.col("n_a").cast("double") * F.col("n_b")),
                9,
            ).alias("lift"),
        )
    )


# ---------------------------------------------------------------------------
# Portable Count-Min sketch with exact-vs-estimate accounting
# ---------------------------------------------------------------------------
_CMS_D = 4
_CMS_W = 64


def _cms_spark_hash(seed: int) -> str:
    return (
        f"CAST(conv(substring(md5(concat('{seed}', ':', word)), 1, 10), 16, 10)"
        f" AS BIGINT) % {_CMS_W}"
    )


def _cms_duck_hash(seed: int) -> str:
    inner = f"md5('{seed}' || ':' || word)"
    return f"{_duck_hex_poly(inner, 10)} % {_CMS_W}"


_CMS_DUCK_CASE = " ".join(
    f"WHEN s.seed = {i} THEN {_cms_duck_hash(i)}" for i in range(_CMS_D)
)


@register(
    "cms_heavy_hitters",
    doc=f"Count-Min sketch ({_CMS_D}x{_CMS_W}, portable md5 hashes): top-20 words, exact vs estimate",
    oracle=f"""
        WITH vocab AS (
            SELECT u.w AS word, COUNT(*) AS n
            FROM documents, unnest(string_split(text, ' ')) AS u(w)
            GROUP BY 1
        ),
        hashed AS (
            SELECT word, n, CAST(s.seed AS INTEGER) AS seed,
                   CAST(CASE {_CMS_DUCK_CASE} END AS BIGINT) AS bucket
            FROM vocab CROSS JOIN (SELECT unnest(range({_CMS_D})) AS seed) s
        ),
        sketch AS (
            SELECT seed, bucket, SUM(n) AS cell FROM hashed GROUP BY 1, 2
        ),
        cand AS (
            SELECT word, n FROM vocab ORDER BY n DESC, word ASC LIMIT 20
        )
        SELECT c.word, CAST(c.n AS BIGINT) AS exact_n,
               CAST(MIN(sk.cell) AS BIGINT) AS cms_est,
               CAST(MIN(sk.cell) - c.n AS BIGINT) AS overcount
        FROM cand c
        JOIN hashed h ON h.word = c.word
        JOIN sketch sk ON sk.seed = h.seed AND sk.bucket = h.bucket
        GROUP BY c.word, c.n
    """,
)
def cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min (Cormode & Muthukrishnan 2005) made oracle-exact: the
    4×64 counter grid uses the repo's portable md5-prefix hash per
    row, so both engines build byte-identical sketches and the
    estimate = min over rows is deterministic — overcount ≥ 0 is the
    CMS guarantee, asserted in the property test. Top-20 exact counts
    sit beside the estimates so the sketch's error is observable —
    the point of the query.

    Plan: the sketch is built from the VOCAB aggregate (|vocab| rows),
    not the raw token stream — the ×4 seed explode happens after the
    exact word count, so the token-stream shuffle is paid once and the
    grid is 256 rows, broadcast back onto the 20 candidates. At 100 TB
    the grid size is constant — the sketch's reason to exist; the
    vocab aggregate map-side combines.
    """
    from dynaledger_spark.catalog import read_table

    docs = read_table(spark, sf_dir, "documents")
    vocab = (
        docs.select(F.explode(F.split("text", " ")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    seeds = spark.range(_CMS_D).select(F.col("id").cast("int").alias("seed"))
    bucket = F.when(F.col("seed") == 0, F.expr(_cms_spark_hash(0)))
    for i in range(1, _CMS_D):
        bucket = bucket.when(F.col("seed") == i, F.expr(_cms_spark_hash(i)))
    hashed = vocab.crossJoin(F.broadcast(seeds)).select(
        "word", "n", "seed", bucket.cast("bigint").alias("bucket")
    )
    sketch = hashed.groupBy("seed", "bucket").agg(F.sum("n").alias("cell"))
    cand = vocab.orderBy(F.col("n").desc(), F.col("word").asc()).limit(20)
    return (
        cand.join(hashed.select("word", "seed", "bucket"), "word")
        .join(F.broadcast(sketch), ["seed", "bucket"])
        .groupBy("word", "n")
        .agg(F.min("cell").alias("_est"))
        .select(
            "word",
            F.col("n").cast("bigint").alias("exact_n"),
            F.col("_est").cast("bigint").alias("cms_est"),
            (F.col("_est") - F.col("n")).cast("bigint").alias("overcount"),
        )
    )


# ---------------------------------------------------------------------------
# Kaplan-Meier churn curve over user lifetimes
# ---------------------------------------------------------------------------
_US_HOUR = 3_600_000_000


@register(
    "km_churn_curve",
    doc="Kaplan-Meier survival curve of user lifetime (hours), right-censored at the corpus edge",
    oracle=f"""
        WITH span AS (
            SELECT user_id, min(ts) AS f, max(ts) AS l FROM events GROUP BY 1
        ),
        mx AS (SELECT max(l) AS m FROM span),
        life AS (
            SELECT user_id,
                   (epoch_us(l) - epoch_us(f)) // {_US_HOUR} AS t,
                   l >= (SELECT m FROM mx) - INTERVAL 1 DAY AS censored
            FROM span
        ),
        deaths AS (
            SELECT t, COUNT(*) AS d FROM life WHERE NOT censored GROUP BY 1
        ),
        lc AS (SELECT t, COUNT(*) AS c FROM life GROUP BY 1),
        risk AS (
            SELECT t, SUM(c) OVER (ORDER BY t DESC
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND CURRENT ROW) AS n
            FROM lc
        ),
        curve AS (
            SELECT d.t, d.d, r.n,
                   CASE WHEN d.d = r.n THEN NULL
                        ELSE round(ln(CAST(r.n - d.d AS DOUBLE) / r.n), 12)
                   END AS term
            FROM deaths d JOIN risk r ON r.t = d.t
        ),
        walked AS (
            SELECT t, d, CAST(n AS BIGINT) AS n_at_risk,
                   SUM(term) OVER w AS cum,
                   MAX(CASE WHEN term IS NULL THEN 1 ELSE 0 END) OVER w AS dead
            FROM curve
            WINDOW w AS (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                         AND CURRENT ROW)
        )
        SELECT t, d, n_at_risk,
               CASE WHEN dead = 1 THEN NULL ELSE round(cum, 9) END
                   AS log_survival,
               CASE WHEN dead = 1 THEN 0.0 ELSE round(exp(cum), 9) END
                   AS survival
        FROM walked ORDER BY t
    """,
)
def km_churn_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survival analysis on the event log: the Kaplan-Meier estimator
    of user lifetime (hours between first and last event), with users
    still active in the corpus's final day right-CENSORED — they
    inform the risk sets but never count as churn, the property that
    makes KM the honest churn curve where a naive lifetime histogram
    is biased low. Risk sets and death counts are exact integers (the
    descending cumulative over the lifetime distribution gives
    n_at_risk without a per-t subquery); each step factor enters as
    round(ln((n−d)/n), 12); the survival product is a RUNNING sum of
    those pinned terms over the total t-order (both engines fold the
    same IEEE sequence row-by-row), exponentiated and rounded at 9.
    A step where every at-risk user dies drops the curve to exactly 0
    (NULL log) and the running dead-flag pins it there.

    Plan: one user_id groupBy builds the spans; everything after is
    arithmetic on the aggregated lifetime distribution — |distinct
    lifetimes| rows, broadcast-scale regardless of corpus size. The
    global curve windows sort hundreds of rows, not events.
    """
    ev = _t(spark, sf_dir, "events")
    span = ev.groupBy("user_id").agg(F.min("ts").alias("f"), F.max("ts").alias("l"))
    mx = span.agg(F.max("l").alias("m"))
    life = span.crossJoin(F.broadcast(mx)).select(
        "user_id",
        F.expr(f"(unix_micros(l) - unix_micros(f)) div {_US_HOUR}").alias("t"),
        (F.col("l") >= F.col("m") - F.expr("INTERVAL 1 DAY")).alias("censored"),
    )
    deaths = (
        life.filter(~F.col("censored")).groupBy("t").agg(F.count(F.lit(1)).alias("d"))
    )
    lc = life.groupBy("t").agg(F.count(F.lit(1)).alias("c"))
    w_desc = W.orderBy(F.col("t").desc()).rowsBetween(W.unboundedPreceding, W.currentRow)
    risk = lc.select("t", F.sum("c").over(w_desc).alias("n"))
    curve = deaths.join(risk, "t").select(
        "t",
        "d",
        F.col("n").cast("bigint").alias("n_at_risk"),
        F.when(F.col("d") == F.col("n"), F.lit(None).cast("double"))
        .otherwise(
            F.round(
                F.log((F.col("n") - F.col("d")).cast("double") / F.col("n")), 12
            )
        )
        .alias("term"),
    )
    w_run = W.orderBy("t").rowsBetween(W.unboundedPreceding, W.currentRow)
    walked = curve.select(
        "t",
        "d",
        "n_at_risk",
        F.sum("term").over(w_run).alias("cum"),
        F.max(F.when(F.col("term").isNull(), 1).otherwise(0)).over(w_run).alias(
            "dead"
        ),
    )
    return walked.select(
        "t",
        "d",
        "n_at_risk",
        F.when(F.col("dead") == 1, F.lit(None).cast("double"))
        .otherwise(F.round(F.col("cum"), 9))
        .alias("log_survival"),
        F.when(F.col("dead") == 1, F.lit(0.0))
        .otherwise(F.round(F.exp("cum"), 9))
        .alias("survival"),
    ).orderBy("t")


# ---------------------------------------------------------------------------
# Quantile normalization: value -> empirical-CDF percent rank per type
# ---------------------------------------------------------------------------
@register(
    "quantile_normalize_by_type",
    doc="per-type quantile normalization of event values (empirical-CDF percent rank)",
    oracle="""
        WITH p AS (
            SELECT event_id, event_type,
                   CAST(round(value * 100) AS BIGINT) AS cents
            FROM events
        )
        SELECT event_id, event_type, cents,
               round(percent_rank() OVER (PARTITION BY event_type
                                          ORDER BY cents), 9) AS pct
        FROM p
    """,
)
def quantile_normalize_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-based feature normalization (the rank half of RankGauss):
    each value maps to its within-type percent rank, robust to any
    monotone distortion of the raw scale. percent_rank =
    rows-strictly-below / (n − 1) exactly — ties share the rank — so
    the whole computation is exact integers until one division,
    rounded at 9.

    Plan — empirical CDF, NOT a corpus-sized rank window: a window
    over (type ORDER BY value) puts each type's ENTIRE event stream
    through one sort partition (the skewed-type-key shape
    minmax_scale_events deliberately avoids). Instead aggregate to
    DISTINCT (type, cents) counts — bounded by the value domain, not
    the corpus — run the cumulative/total window on that small table,
    and broadcast the CDF back onto the events. The oracle keeps
    DuckDB's native percent_rank(), so parity cross-checks two
    independent algorithms. n = 1 partitions define pct = 0 (both
    engines' percent_rank convention).
    """
    ev = _t(spark, sf_dir, "events")
    p = ev.select(
        "event_id",
        "event_type",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    counts = p.groupBy("event_type", "cents").agg(F.count(F.lit(1)).alias("cnt"))
    w_below = (
        W.partitionBy("event_type")
        .orderBy("cents")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    w_all = W.partitionBy("event_type")
    cdf = counts.select(
        "event_type",
        "cents",
        F.coalesce(F.sum("cnt").over(w_below), F.lit(0)).alias("below"),
        F.sum("cnt").over(w_all).alias("ntot"),
    )
    return p.join(F.broadcast(cdf), ["event_type", "cents"]).select(
        "event_id",
        "event_type",
        "cents",
        F.when(F.col("ntot") == 1, F.lit(0.0))
        .otherwise(
            F.round(F.col("below").cast("double") / (F.col("ntot") - 1), 9)
        )
        .alias("pct"),
    )


# ---------------------------------------------------------------------------
# MAD outlier days on the daily revenue series
# ---------------------------------------------------------------------------
@register(
    "mad_outlier_days",
    doc="median-absolute-deviation outlier flags for daily revenue (all-integer robust stats)",
    oracle="""
        WITH daily AS (
            SELECT CAST(ts AS DATE) AS day,
                   CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
            FROM events WHERE event_type = 'purchase' GROUP BY 1
        ),
        med AS (
            SELECT cents AS m FROM (
                SELECT cents, day,
                       row_number() OVER (ORDER BY cents, day) AS r,
                       COUNT(*) OVER () AS n
                FROM daily
            ) WHERE r = (n + 1) // 2
        ),
        devs AS (
            SELECT day, cents, abs(cents - m.m) AS dev FROM daily CROSS JOIN med m
        ),
        mad AS (
            SELECT dev AS md FROM (
                SELECT dev, day,
                       row_number() OVER (ORDER BY dev, day) AS r,
                       COUNT(*) OVER () AS n
                FROM devs
            ) WHERE r = (n + 1) // 2
        )
        SELECT strftime(d.day, '%Y-%m-%d') AS day, d.cents,
               CAST(d.dev AS BIGINT) AS dev,
               d.dev * 10000 > 44478 * mad.md AS is_outlier
        FROM devs d CROSS JOIN mad
    """,
)
def mad_outlier_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust daily-revenue anomaly monitor: a day is an outlier when
    |x − median| > 3·1.4826·MAD — the detector that, unlike z-scores
    (zscore_outliers), is not itself dragged by the outliers it hunts.
    Median and MAD are the LOWER median (row (n+1)//2 of the sorted
    run, day as tiebreak), so every quantity is an exact integer and
    the 3·1.4826 threshold is the integer cross-multiplication
    dev·10⁴ > 44478·MAD — no float ever crosses engines.

    Plan: one groupBy builds the daily series; medians come from
    row_number windows over the day-level aggregate (a global sort of
    |days| rows, not events) and broadcast back as 1-row joins. The
    event-level work is a single map-side-combined aggregation.
    """
    ev = _t(spark, sf_dir, "events")
    daily = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy(F.to_date("ts").alias("day"))
        .agg(F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("cents"))
    )

    def lower_median(df: DataFrame, col: str) -> DataFrame:
        return (
            df.withColumn("_r", F.row_number().over(W.orderBy(col, "day")))
            .withColumn("_n", F.count(F.lit(1)).over(W.partitionBy()))
            .filter(F.col("_r") == F.expr("(_n + 1) div 2"))
            .select(F.col(col).alias("_m"))
        )

    med = lower_median(daily, "cents")
    devs = daily.crossJoin(F.broadcast(med)).select(
        "day", "cents", F.abs(F.col("cents") - F.col("_m")).alias("dev")
    )
    mad = lower_median(devs, "dev").select(F.col("_m").alias("_md"))
    return devs.crossJoin(F.broadcast(mad)).select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "cents",
        F.col("dev").cast("bigint").alias("dev"),
        (F.col("dev") * 10000 > 44478 * F.col("_md")).alias("is_outlier"),
    )
