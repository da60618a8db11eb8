"""Behavioral / journey analytics operators (round-5 additions).

The product-analytics family a reference user would reach for after
funnels and sessionization (SURVEY.md §2 stretch): top user journey
paths, MATCH_RECOGNIZE-style time-constrained sequence patterns
(re-expressed as windows — neither Spark nor DuckDB ships
MATCH_RECOGNIZE, so the re-expression IS the portable form),
item-item collaborative-filtering similarity, and semi-additive
period-end balance rollups.

Scale posture: every query is equi-hash windows + hash joins + hash
aggregates — no range joins, no unbounded-FOLLOWING frames (Spark
recomputes those per row; the "next matching event" carry is computed
as a GROWING frame over a descending sort, which Spark evaluates
incrementally), no per-key arrays beyond fixed bounds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from dynaledger_spark.functions.agg import osum
from dynaledger_spark.plans.queries_mlprep import _FOLD, _fold
from dynaledger_spark.plans.registry import register


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    from dynaledger_spark.catalog import read_table

    return read_table(spark, sf_dir, name)


# ---------------------------------------------------------------------------
# Top-k user journey paths (first 5 events per user)
# ---------------------------------------------------------------------------
@register(
    "path_topk_sequences",
    doc="top-20 most common 5-event journey prefixes across users",
    oracle="""
        WITH r AS (
            SELECT user_id, event_type,
                   row_number() OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS rn
            FROM events
        ),
        p AS (
            SELECT user_id, string_agg(event_type, '>' ORDER BY rn) AS path
            FROM r WHERE rn <= 5 GROUP BY user_id
        )
        SELECT path, CAST(COUNT(*) AS BIGINT) AS n_users
        FROM p GROUP BY path
        ORDER BY n_users DESC, path
        LIMIT 20
    """,
)
def path_topk_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The "top conversion paths" report: each user's journey prefix
    (first 5 events in (ts, event_id) order, joined with '>'), counted
    across users, top 20. Spark's collect_list has no intra-group
    ordering guarantee, so the path is assembled by sorting the
    (rn, event_type) structs — the array is bounded at 5 elements by
    construction, so the per-user state is O(1) regardless of key heat.

    Plan: one user_id window (row_number), one user_id hash aggregate
    (the two share the exchange), one path aggregate, TakeOrdered 20.
    """
    ev = _t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    first5 = ev.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 5)
    paths = first5.groupBy("user_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("rn", "event_type"))),
                lambda s: s.event_type,
            ),
            ">",
        ).alias("path")
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_users"))
        .orderBy(F.col("n_users").desc(), F.col("path"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Time-constrained sequence pattern: view -> click(1h) -> purchase(24h)
# ---------------------------------------------------------------------------
# The "next matching event" carry key: (event time, event id) packed into
# one DECIMAL(38,0) so a single window MIN identifies the earliest later
# event of a type. epoch micros (~1.7e15) * 1e10 + event_id stays far
# inside DECIMAL(38); event_id < 1e10 holds beyond any plausible scale
# (1e10 events/user-partition would be a degenerate key anyway).
_KMULT = 10_000_000_000


def _next_key(event_type: str):
    key = F.unix_micros(F.col("ts")).cast("decimal(38,0)") * _KMULT + F.col(
        "event_id"
    )
    wdesc = (
        W.partitionBy("user_id")
        .orderBy(F.col("ts").desc(), F.col("event_id").desc())
        .rowsBetween(W.unboundedPreceding, -1)
    )
    return F.min(F.when(F.col("event_type") == event_type, key)).over(wdesc)


def _k_mic(col: str):
    return F.expr(
        f"CAST(({col} - ({col} % {_KMULT})) / {_KMULT} AS BIGINT)"
    )


def _k_id(col: str):
    return F.expr(f"CAST({col} % {_KMULT} AS BIGINT)")


@register(
    "funnel_pattern_match",
    doc="per-user counts of view->click(<=1h)->purchase(<=24h of click) pattern completions",
    oracle=f"""
        WITH ann AS (
            SELECT user_id, event_id, event_type,
                   CAST(epoch_us(ts) AS HUGEINT) AS mic,
                   min(CASE WHEN event_type = 'click'
                            THEN CAST(epoch_us(ts) AS HUGEINT) * {_KMULT} + event_id END)
                       OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC
                             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS ck,
                   min(CASE WHEN event_type = 'purchase'
                            THEN CAST(epoch_us(ts) AS HUGEINT) * {_KMULT} + event_id END)
                       OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC
                             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pk
            FROM events
        ),
        views AS (
            SELECT user_id, mic AS view_mic,
                   CASE WHEN ck IS NOT NULL
                             AND ck // {_KMULT} <= mic + 3600000000
                        THEN CAST(ck % {_KMULT} AS BIGINT) END AS click_id,
                   CAST(ck // {_KMULT} AS BIGINT) AS click_mic
            FROM ann WHERE event_type = 'view'
        ),
        clicks AS (
            SELECT event_id AS c_id,
                   CAST(pk // {_KMULT} AS BIGINT) AS purchase_mic
            FROM ann WHERE event_type = 'click'
        )
        SELECT user_id,
               CAST(COUNT(*) AS BIGINT) AS n_views,
               CAST(COUNT(click_id) AS BIGINT) AS n_clicked,
               CAST(COUNT(CASE WHEN purchase_mic IS NOT NULL
                                    AND purchase_mic <= click_mic + 86400000000
                               THEN 1 END) AS BIGINT) AS n_full
        FROM views LEFT JOIN clicks ON views.click_id = clicks.c_id
        GROUP BY user_id
        ORDER BY user_id
    """,
)
def funnel_pattern_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATCH_RECOGNIZE re-expressed: for every view, the FIRST click by
    the same user within 1 hour, then the first purchase within 24 hours
    of THAT click (chained constraint — strictly harder than the
    unordered funnel in funnel_view_click_purchase, which only needs
    per-user min timestamps). Per user: views, views clicked-through,
    fully converted chains.

    The "first later event of type T" is one window MIN over a packed
    (micros, event_id) DECIMAL key, computed over a DESCENDING sort with
    a growing [unbounded, -1] frame — Spark evaluates growing frames
    incrementally (O(n) per partition), where the ascending-sort
    [1, unbounded-following] formulation re-aggregates per row (O(n²) on
    a hot user — the exact trap the rolling-features probe measured at
    586×). The purchase-after-click lookup rides the SAME window pass:
    each click row already carries its own next-purchase key, so the
    chain needs one equi-join on click event_id, not a second window.

    Plan: 1 user_id window exchange (both carries share it), 1 hash
    join on event_id, 1 user_id hash aggregate. No range join, no
    per-key arrays; skew-immune at any user heat.
    """
    ev = _t(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "event_type"
    )
    ann = ev.select(
        "user_id",
        "event_id",
        "event_type",
        F.unix_micros("ts").alias("mic"),
        _next_key("click").alias("ck"),
        _next_key("purchase").alias("pk"),
    )
    views = ann.filter(F.col("event_type") == "view").select(
        "user_id",
        F.col("mic").alias("view_mic"),
        F.when(
            F.col("ck").isNotNull()
            & (_k_mic("ck") <= F.col("mic") + 3_600_000_000),
            _k_id("ck"),
        ).alias("click_id"),
        _k_mic("ck").alias("click_mic"),
    )
    clicks = ann.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("c_id"),
        _k_mic("pk").alias("purchase_mic"),
    )
    return (
        views.join(clicks, views["click_id"] == clicks["c_id"], "left")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_views"),
            F.count("click_id").cast("bigint").alias("n_clicked"),
            F.count(
                F.when(
                    F.col("purchase_mic").isNotNull()
                    & (
                        F.col("purchase_mic")
                        <= F.col("click_mic") + 86_400_000_000
                    ),
                    F.lit(1),
                )
            )
            .cast("bigint")
            .alias("n_full"),
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# Item-item collaborative-filtering similarity (cosine over baskets)
# ---------------------------------------------------------------------------
_MIN_COOC = 3
_CF_TOPK = 50


@register(
    "item_cf_cosine",
    doc="top-50 item-item cosine similarities over co-purchase baskets (capped)",
    oracle=f"""
        WITH capped AS (
            SELECT l_orderkey, l_partkey FROM (
                SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
            ) QUALIFY row_number() OVER (PARTITION BY l_orderkey
                                         ORDER BY l_partkey) <= 64
        ),
        deg AS (
            SELECT l_partkey, COUNT(*) AS n FROM capped GROUP BY l_partkey
        ),
        cooc AS (
            SELECT a.l_partkey AS pa, b.l_partkey AS pb, COUNT(*) AS c
            FROM capped a JOIN capped b
              ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
            GROUP BY pa, pb HAVING COUNT(*) >= {_MIN_COOC}
        )
        SELECT pa, pb, CAST(c AS BIGINT) AS cooc,
               round(CAST(c AS DOUBLE)
                     / sqrt(CAST(da.n AS DOUBLE) * db.n), 12) AS cos_sim
        FROM cooc JOIN deg da ON da.l_partkey = pa
                  JOIN deg db ON db.l_partkey = pb
        ORDER BY cos_sim DESC, pa, pb
        LIMIT {_CF_TOPK}
    """,
)
def item_cf_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item collaborative filtering: cosine similarity between
    items over the binary item×basket matrix — cooc(a,b)/√(n_a·n_b) with
    n_x = baskets containing x. The recommender primitive behind
    "customers also bought". Baskets capped at MAX_BASKET=64 distinct
    parts (queries_graph precedent — an uncapped degenerate order is
    quadratic) with the oracle applying the identical cap; counts are
    exact integers, the cosine is one IEEE division rounded at 12.

    Plan: orderkey window cap, one self equi-join on orderkey (pair
    fan-out bounded by the cap), pair hash aggregate; the item-degree
    table (|parts| rows — dimension-sized) broadcasts onto the pair
    stream twice. TakeOrdered 50.
    """
    from dynaledger_spark.plans.queries_graph import MAX_BASKET

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    distinct_lines = li.distinct()
    w = W.partitionBy("l_orderkey").orderBy("l_partkey")
    capped = (
        distinct_lines.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= MAX_BASKET)
        .drop("rn")
    )
    deg = capped.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("n"))
    a, b = capped.alias("a"), capped.alias("b")
    cooc = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .select(
            F.col("a.l_partkey").alias("pa"), F.col("b.l_partkey").alias("pb")
        )
        .groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") >= _MIN_COOC)
    )
    da = F.broadcast(deg.select(F.col("l_partkey").alias("pa"), F.col("n").alias("na")))
    db = F.broadcast(deg.select(F.col("l_partkey").alias("pb"), F.col("n").alias("nb")))
    return (
        cooc.join(da, "pa")
        .join(db, "pb")
        .select(
            "pa",
            "pb",
            F.col("c").cast("bigint").alias("cooc"),
            F.round(
                F.col("c").cast("double")
                / F.sqrt(F.col("na").cast("double") * F.col("nb")),
                12,
            ).alias("cos_sim"),
        )
        .orderBy(F.col("cos_sim").desc(), "pa", "pb")
        .limit(_CF_TOPK)
    )


# ---------------------------------------------------------------------------
# Semi-additive period-end balance rollup
# ---------------------------------------------------------------------------
@register(
    "period_end_balance",
    doc="semi-additive rollup: sum over users of each user's month-end (last) event value",
    oracle=f"""
        WITH ranked AS (
            SELECT user_id, value,
                   strftime(date_trunc('month', ts), '%Y-%m') AS month,
                   row_number() OVER (PARTITION BY user_id, date_trunc('month', ts)
                                      ORDER BY ts DESC, event_id DESC) AS rn
            FROM events
        )
        SELECT month,
               CAST(COUNT(*) AS BIGINT) AS n_users,
               {osum('value', 'total_balance', 2)}
        FROM ranked WHERE rn = 1
        GROUP BY month ORDER BY month
    """,
)
def period_end_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The semi-additive measure pattern (account balances, inventory
    levels): a balance is NOT summable over time, so the month rollup
    takes each user's LAST value in the month (ts desc, event_id desc —
    unique tiebreak) and sums across users only. One row_number window
    on (user_id, month) and one month hash aggregate; the month-grain
    aggregate is calendar-bounded. Sum through the DECIMAL(27,2)
    accumulator (values are 2dp) so combine order can't move the total.
    """
    ev = _t(spark, sf_dir, "events")
    month = F.date_format(F.date_trunc("month", F.col("ts")), "yyyy-MM").alias(
        "month"
    )
    w = W.partitionBy("user_id", F.date_trunc("month", F.col("ts"))).orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    ranked = ev.select("user_id", "value", month, F.row_number().over(w).alias("rn"))
    return (
        ranked.filter(F.col("rn") == 1)
        .groupBy("month")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_users"),
            F.sum(F.col("value").cast("decimal(27,2)"))
            .cast("double")
            .alias("total_balance"),
        )
        .orderBy("month")
    )


# ---------------------------------------------------------------------------
# Telemetry debounce: keep-first within 5-minute same-key bursts
# ---------------------------------------------------------------------------
@register(
    "event_debounce_keep_first",
    doc="debounce events: keep the first of each (user,type) burst (gap >= 5 min starts a new burst)",
    oracle="""
        WITH g AS (
            SELECT user_id, event_type, event_id, ts,
                   CASE WHEN epoch_us(ts)
                             - lag(epoch_us(ts)) OVER (PARTITION BY user_id, event_type
                                                       ORDER BY ts, event_id)
                             >= 300000000 OR lag(ts) OVER (PARTITION BY user_id, event_type
                                                           ORDER BY ts, event_id) IS NULL
                        THEN 1 ELSE 0 END AS new_burst
            FROM events
        ),
        b AS (
            SELECT *, SUM(new_burst) OVER (PARTITION BY user_id, event_type
                                           ORDER BY ts, event_id
                                           ROWS BETWEEN UNBOUNDED PRECEDING
                                           AND CURRENT ROW) AS burst
            FROM g
        ),
        k AS (
            SELECT user_id, event_type, burst,
                   MIN(event_id) AS kept_event_id,
                   COUNT(*) AS burst_n
            FROM b GROUP BY user_id, event_type, burst
        )
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n_kept,
               CAST(SUM(burst_n) - COUNT(*) AS BIGINT) AS n_dropped,
               CAST(MAX(burst_n) AS BIGINT) AS max_burst
        FROM k GROUP BY event_type ORDER BY event_type
    """,
)
def event_debounce_keep_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The telemetry-dedup staple: repeated (user, event_type) firings
    within 5 minutes of the previous one are one logical action — keep
    the burst's first event, count the dropped duplicates. Bursts are
    gaps-and-islands over the event-time lag (islands_user_activity
    precedent, applied to dedup): a lag >= 300 s — or no predecessor —
    starts a new burst; the running sum of starts numbers them. Note
    the chain semantics: a burst extends while CONSECUTIVE events stay
    < 5 min apart, which is the debounce definition (a fixed-window
    variant would re-admit a slow drizzle).

    Plan: one (user_id, event_type) window exchange shared by the lag
    and the running sum, then two hash aggregates. Exact integer
    microsecond arithmetic decides every boundary.
    """
    ev = _t(spark, sf_dir, "events")
    wk = W.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    mic = F.unix_micros(F.col("ts"))
    lag_mic = F.lag(mic).over(wk)
    g = ev.select(
        "user_id",
        "event_type",
        "event_id",
        "ts",
        F.when(
            lag_mic.isNull() | ((mic - lag_mic) >= 300_000_000), 1
        )
        .otherwise(0)
        .alias("new_burst"),
    )
    b = g.withColumn(
        "burst",
        F.sum("new_burst").over(wk.rowsBetween(W.unboundedPreceding, W.currentRow)),
    )
    k = b.groupBy("user_id", "event_type", "burst").agg(
        F.min("event_id").alias("kept_event_id"),
        F.count(F.lit(1)).alias("burst_n"),
    )
    return (
        k.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_kept"),
            (F.sum("burst_n") - F.count(F.lit(1))).cast("bigint").alias("n_dropped"),
            F.max("burst_n").cast("bigint").alias("max_burst"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Exponential time-decay engagement score (feature-store staple)
# ---------------------------------------------------------------------------
@register(
    "decay_weighted_engagement",
    doc="per-user engagement score with 7-day half-life exponential time decay",
    oracle="""
        WITH mx AS (SELECT MAX(ts) AS now_ts FROM events),
        terms AS (
            SELECT user_id,
                   round(value * pow(0.5, (epoch_us(now_ts) - epoch_us(ts))
                                          / 604800000000.0), 12) AS term
            FROM events CROSS JOIN mx
            WHERE event_type IN ('click', 'view', 'purchase')
        )
        SELECT user_id,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               round(CAST(SUM(CAST(term AS DECIMAL(27,12))) AS DOUBLE), 6)
                   AS decay_score
        FROM terms GROUP BY user_id ORDER BY user_id
    """,
)
def decay_weighted_engagement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The recency-weighted engagement feature every ranking model
    consumes: each qualifying event contributes value·2^(−age/7d),
    anchored at the corpus max timestamp so the score is deterministic
    (no wall-clock). Age is exact integer microseconds; the decay term
    is one fixed pow() expression rounded at 12 dp, and the per-user
    sum runs through a DECIMAL(27,12) accumulator — combine order can
    never move the score (the half-life weights span ~10 orders of
    magnitude, exactly where naive float summation diverges between
    engines).

    Plan: 1-row max broadcast, map-side decay terms, one user hash
    aggregate. Linear at any scale; a hot user is one combine chain.
    """
    ev = _t(spark, sf_dir, "events")
    mx = ev.agg(F.max("ts").alias("now_ts"))
    terms = (
        ev.filter(F.col("event_type").isin("click", "view", "purchase"))
        .crossJoin(F.broadcast(mx))
        .select(
            "user_id",
            F.round(
                F.col("value")
                * F.pow(
                    F.lit(0.5),
                    (F.unix_micros("now_ts") - F.unix_micros("ts"))
                    / 604_800_000_000.0,
                ),
                12,
            ).alias("term"),
        )
    )
    return (
        terms.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.round(
                F.sum(F.col("term").cast("decimal(27,12)")).cast("double"), 6
            ).alias("decay_score"),
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# Burstiness of per-user inter-event times
# ---------------------------------------------------------------------------
@register(
    "user_burstiness",
    doc="top-20 bursty users: Goh-Barabási B = (σ/μ − 1)/(σ/μ + 1) of inter-event gaps",
    oracle="""
        WITH gaps AS (
            SELECT user_id,
                   epoch_us(ts) - lag(epoch_us(ts))
                       OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       AS g
            FROM events
        ),
        mom AS (
            SELECT user_id,
                   CAST(COUNT(g) AS BIGINT) AS n_gaps,
                   CAST(SUM(g) AS BIGINT) AS s1,
                   SUM(CAST(g AS HUGEINT) * g) AS s2
            FROM gaps WHERE g IS NOT NULL
            GROUP BY user_id HAVING COUNT(g) >= 5
        ),
        cvs AS (
            SELECT user_id, n_gaps,
                   sqrt(greatest((CAST(s2 AS DOUBLE)
                                  - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
                                    / n_gaps) / n_gaps, 0.0))
                   / (CAST(s1 AS DOUBLE) / n_gaps) AS cv
            FROM mom WHERE s1 > 0
        )
        SELECT user_id, n_gaps,
               round(cv, 9) AS cv,
               round((cv - 1.0) / (cv + 1.0), 9) AS burstiness
        FROM cvs
        ORDER BY burstiness DESC, user_id LIMIT 20
    """,
)
def user_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Goh-Barabási burstiness of each user's event timing: B =
    (CV−1)/(CV+1) over inter-event gaps (exact integer µs; population
    moments from exact (n, Σg, Σg²)). B → −1 is metronomic, 0 is
    Poisson, → +1 is bursty — the signal that separates bots-on-a-timer
    from humans-in-sessions. Users need ≥5 gaps; the variance is
    clamped at 0 before sqrt (catastrophic cancellation on
    near-constant gaps would otherwise produce a tiny negative).
    Top-20 burstiest with a user tiebreak.

    Plan: one user window (lag) + one user hash aggregate sharing the
    exchange; TakeOrdered 20. Hot user = one sorted run, no arrays.
    """
    ev = _t(spark, sf_dir, "events")
    wu = W.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = ev.select(
        "user_id",
        (
            F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(wu)
        ).alias("g"),
    ).filter(F.col("g").isNotNull())
    mom = (
        gaps.groupBy("user_id")
        .agg(
            F.count("g").cast("bigint").alias("n_gaps"),
            F.sum("g").cast("bigint").alias("s1"),
            F.sum((F.col("g").cast("decimal(19,0)") * F.col("g")).cast("decimal(38,0)")).alias("s2"),
        )
        .filter((F.col("n_gaps") >= 5) & (F.col("s1") > 0))
    )
    nd = F.col("n_gaps").cast("double")
    s1d = F.col("s1").cast("double")
    cv = F.sqrt(
        F.greatest(
            (F.col("s2").cast("double") - s1d * s1d / nd) / nd, F.lit(0.0)
        )
    ) / (s1d / nd)
    return (
        mom.select(
            "user_id",
            "n_gaps",
            F.round(cv, 9).alias("cv"),
            F.round((cv - 1.0) / (cv + 1.0), 9).alias("burstiness"),
        )
        .orderBy(F.col("burstiness").desc(), "user_id")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# ALS half-step with fixed item factors (round 8) — integer-exact
# ---------------------------------------------------------------------------
# d=2 item factors are seed-derived rationals x = (3*s1, 2*s2)/12 with
# s1 = partkey*3 % 7 - 3, s2 = partkey*5 % 11 - 5; ratings are integer
# quantities. Scaling the normal equations by 144 makes EVERY
# accumulated term an exact BIGINT: (sum xs xs^T + 9 I) theta = 12 sum
# xs y  (lambda = 1/16 -> 144*lambda = 9), so the per-user 2x2 solve is
# two IEEE divisions of exact integers — bitwise-portable, and the
# integer SUMs are combine-order-independent at any scale.
@register(
    "als_half_step_portable",
    doc="one exact ALS user-factor solve (d=2, fixed seeded item factors, ridge 1/16) per customer",
    oracle="""
        WITH ratings AS (
            SELECT o.o_custkey AS custkey, l.l_partkey AS partkey,
                   CAST(SUM(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS r
            FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
            GROUP BY o.o_custkey, l.l_partkey
        ),
        feats AS (
            SELECT custkey, r,
                   CAST(3 * ((partkey * 3) % 7 - 3) AS BIGINT) AS xs1,
                   CAST(2 * ((partkey * 5) % 11 - 5) AS BIGINT) AS xs2
            FROM ratings
        ),
        sums AS (
            SELECT custkey,
                   CAST(COUNT(*) AS BIGINT) AS n_items,
                   CAST(SUM(xs1 * xs1) + 9 AS BIGINT) AS a11,
                   CAST(SUM(xs1 * xs2) AS BIGINT) AS a12,
                   CAST(SUM(xs2 * xs2) + 9 AS BIGINT) AS a22,
                   CAST(12 * SUM(xs1 * r) AS BIGINT) AS b1,
                   CAST(12 * SUM(xs2 * r) AS BIGINT) AS b2
            FROM feats GROUP BY custkey
        )
        SELECT custkey, n_items,
               round(CAST(a22 * b1 - a12 * b2 AS DOUBLE)
                     / (a11 * a22 - a12 * a12), 9) AS theta1,
               round(CAST(a11 * b2 - a12 * b1 AS DOUBLE)
                     / (a11 * a22 - a12 * a12), 9) AS theta2
        FROM sums
    """,
)
def als_half_step_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One alternation of ALS (Koren/Bell/Volinsky 2009; the
    Zhou et al. 2008 parallel form Spark MLlib implements): with item
    factors FIXED (seed-derived d=2 rationals), each user's factor
    vector has the closed-form ridge solution
    theta_u = (X_u^T X_u + lambda I)^{-1} X_u^T y_u — embarrassingly
    parallel per user, which is exactly why ALS scales where SGD
    factorization doesn't. Ratings = summed order quantities per
    (customer, part). Scaling the normal equations by 144 (item
    factors have denominator 12; lambda = 1/16) turns every
    accumulated term into an exact BIGINT, so the distributed SUMs are
    combine-order-independent and the final 2x2 Cramer solve is two
    IEEE divisions of identical integers — the full half-step is
    oracle-exact, no float accumulation anywhere.

    Scale: one ratings aggregate (orderkey join + (cust, part)
    groupBy), one per-user aggregate to 5 integers, one scan-side
    solve. The real ALS loop alternates this exact shape between users
    and items; driver traffic is zero (factors stay distributed).
    """
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    ratings = (
        li.join(
            orders.select("o_orderkey", "o_custkey"),
            li.l_orderkey == F.col("o_orderkey"),
        )
        .groupBy(
            F.col("o_custkey").alias("custkey"),
            F.col("l_partkey").alias("partkey"),
        )
        .agg(F.sum(F.col("l_quantity").cast("bigint")).cast("bigint").alias("r"))
    )
    feats = ratings.select(
        "custkey",
        "r",
        (3 * ((F.col("partkey") * 3) % 7 - 3)).cast("bigint").alias("xs1"),
        (2 * ((F.col("partkey") * 5) % 11 - 5)).cast("bigint").alias("xs2"),
    )
    sums = feats.groupBy("custkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_items"),
        (F.sum(F.col("xs1") * F.col("xs1")) + 9).cast("bigint").alias("a11"),
        F.sum(F.col("xs1") * F.col("xs2")).cast("bigint").alias("a12"),
        (F.sum(F.col("xs2") * F.col("xs2")) + 9).cast("bigint").alias("a22"),
        (12 * F.sum(F.col("xs1") * F.col("r"))).cast("bigint").alias("b1"),
        (12 * F.sum(F.col("xs2") * F.col("r"))).cast("bigint").alias("b2"),
    )
    det = F.col("a11") * F.col("a22") - F.col("a12") * F.col("a12")
    return sums.select(
        "custkey",
        "n_items",
        F.round(
            (F.col("a22") * F.col("b1") - F.col("a12") * F.col("b2")).cast("double")
            / det,
            9,
        ).alias("theta1"),
        F.round(
            (F.col("a11") * F.col("b2") - F.col("a12") * F.col("b1")).cast("double")
            / det,
            9,
        ).alias("theta2"),
    )


# ---------------------------------------------------------------------------
# Shapley-value channel attribution (round 9)
# ---------------------------------------------------------------------------
@register(
    "shapley_channel_attribution",
    doc="exact Shapley marketing attribution over the pre-conversion channel lattice (integer-exact, one final division)",
    oracle="""
        WITH chan AS (
            SELECT channel,
                   CAST(dense_rank() OVER (ORDER BY channel) - 1 AS BIGINT) AS bit
            FROM (SELECT DISTINCT event_type AS channel FROM events
                  WHERE event_type <> 'purchase')
        ),
        nn AS (SELECT CAST(COUNT(*) AS INT) AS n FROM chan),
        fp AS (
            SELECT user_id, MIN(ts) AS fpts FROM events
            WHERE event_type = 'purchase' GROUP BY user_id
        ),
        touch AS (
            SELECT DISTINCT fp.user_id, c.bit
            FROM fp
            JOIN events e ON e.user_id = fp.user_id AND e.ts < fp.fpts
            JOIN chan c ON c.channel = e.event_type
        ),
        masks AS (
            SELECT fp.user_id,
                   COALESCE(bit_or(CAST(1 AS BIGINT) << CAST(t.bit AS INT)), 0) AS m
            FROM fp LEFT JOIN touch t ON t.user_id = fp.user_id
            GROUP BY fp.user_id
        ),
        tm AS (SELECT m, CAST(COUNT(*) AS BIGINT) AS cnt FROM masks GROUP BY m),
        lat AS (
            SELECT CAST(u.s AS BIGINT) AS s
            FROM nn, unnest(generate_series(0, (CAST(1 AS BIGINT) << n) - 1)) AS u(s)
        ),
        v AS (
            SELECT l.s, CAST(COALESCE(SUM(tm.cnt), 0) AS BIGINT) AS v
            FROM lat l LEFT JOIN tm ON (tm.m & l.s) = tm.m
            GROUP BY l.s
        ),
        contrib AS (
            SELECT c.channel,
                   CAST(SUM(CAST(factorial(bit_count(sv.s)) AS BIGINT)
                            * CAST(factorial(nn.n - 1 - bit_count(sv.s)) AS BIGINT)
                            * (swi.v - sv.v)) AS BIGINT) AS shapley_num
            FROM chan c, nn,
                 v sv
            JOIN v swi ON TRUE
            WHERE (sv.s >> CAST(c.bit AS INT)) & 1 = 0
              AND swi.s = sv.s | (CAST(1 AS BIGINT) << CAST(c.bit AS INT))
            GROUP BY c.channel
        ),
        touched AS (
            SELECT c.channel, CAST(COUNT(DISTINCT t.user_id) AS BIGINT)
                       AS n_converters_touched
            FROM chan c LEFT JOIN touch t ON t.bit = c.bit
            GROUP BY c.channel
        )
        SELECT ct.channel,
               td.n_converters_touched,
               ct.shapley_num,
               ct.shapley_num / CAST(factorial(nn.n) AS DOUBLE) AS shapley
        FROM contrib ct JOIN touched td USING (channel), nn
        ORDER BY ct.channel
    """,
)
def shapley_channel_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT Shapley-value attribution (Shapley 1953; the
    data-driven multi-touch attribution standard, e.g. Zhao et al.
    2018 arXiv:1804.05327) with the reach value function
    v(S) = #converters whose pre-conversion touch set is contained in
    S: each converting user's channel touches BEFORE their first
    purchase form a bitmask; the full coalition lattice (2^n masks,
    n = |channels|, a SCHEMA quantity, 4 here) gets v by a
    subset-containment join; and each channel's Shapley value is the
    factorial-weighted sum of its marginal contributions
    phi_i = sum_{S not∋ i} |S|!(n-1-|S|)!/n! * (v(S+i) - v(S)).
    Everything is BIGINT (counts x factorials) until the single final
    division by n!, so the query is oracle-exact; efficiency
    (sum phi_i = v(N) - v(empty), organic conversions unattributed)
    is pinned in tests/test_round9_ops.py.

    Scale: the corpus-sized work is one groupBy(user) for first-
    purchase times, one distinct (user, channel) pre-conversion touch
    aggregate, and one count per observed mask — all map-side-
    combinable hash aggregates. The lattice (16 rows), the
    containment join (16x16), and the Shapley fold are schema-sized:
    at 100 TB the attribution itself costs the same 256 lattice-pair
    rows it costs here.
    reference: SURVEY §2.11 (behavior tier).
    """
    ev = _t(spark, sf_dir, "events")
    chan = (
        ev.filter(F.col("event_type") != "purchase")
        .select(F.col("event_type").alias("channel"))
        .distinct()
        .select(
            "channel",
            (F.dense_rank().over(W.orderBy("channel")) - 1)
            .cast("bigint")
            .alias("bit"),
        )
    )
    nn = chan.agg(F.count(F.lit(1)).cast("int").alias("n"))
    fp = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min("ts").alias("fpts"))
    )
    touch = (
        fp.join(ev.alias("e"), "user_id")
        .filter(F.col("e.ts") < F.col("fpts"))
        .join(chan, F.col("e.event_type") == F.col("channel"))
        .select("user_id", "bit")
        .distinct()
    )
    masks = (
        fp.join(touch, "user_id", "left")
        .groupBy("user_id")
        .agg(
            F.coalesce(
                F.bit_or(F.expr("shiftleft(CAST(1 AS BIGINT), CAST(bit AS INT))")),
                F.lit(0).cast("bigint"),
            ).alias("m")
        )
    )
    tm = masks.groupBy("m").agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    lat = nn.select(
        F.explode(
            F.sequence(
                F.lit(0).cast("bigint"),
                F.expr("shiftleft(CAST(1 AS BIGINT), n) - 1"),
            )
        ).alias("s")
    )
    v = (
        lat.join(F.broadcast(tm), F.expr("(m & s) = m"), "left")
        .groupBy("s")
        .agg(F.coalesce(F.sum("cnt"), F.lit(0)).cast("bigint").alias("v"))
    )
    sv, swi = v.alias("sv"), v.alias("swi")
    contrib = (
        chan.crossJoin(F.broadcast(nn))
        .join(
            F.broadcast(sv),
            F.expr("(shiftright(sv.s, CAST(bit AS INT)) & 1) = 0"),
        )
        .join(
            F.broadcast(swi),
            F.expr("swi.s = sv.s | shiftleft(CAST(1 AS BIGINT), CAST(bit AS INT))"),
        )
        .groupBy("channel")
        .agg(
            F.sum(
                F.factorial(F.bit_count(F.col("sv.s"))).cast("bigint")
                * F.factorial(F.col("n") - 1 - F.bit_count(F.col("sv.s"))).cast(
                    "bigint"
                )
                * (F.col("swi.v") - F.col("sv.v"))
            )
            .cast("bigint")
            .alias("shapley_num")
        )
    )
    touched = chan.join(touch, "bit", "left").groupBy("channel").agg(
        F.count_distinct("user_id").cast("bigint").alias("n_converters_touched")
    )
    return (
        contrib.join(touched, "channel")
        .crossJoin(F.broadcast(nn))
        .select(
            "channel",
            "n_converters_touched",
            "shapley_num",
            (
                F.col("shapley_num")
                / F.factorial(F.col("n")).cast("double")
            ).alias("shapley"),
        )
        .orderBy("channel")
    )


# ---------------------------------------------------------------------------
# Sequential pattern support (GSP-style subsequences) (round 9)
# ---------------------------------------------------------------------------
_SEQ_MIN_SUPPORT = 2  # users; keeps sf0.001 (15 users) non-vacuous


@register(
    "sequential_pattern_support",
    doc=f"GSP-style sequential pattern support: all length-2/3 event-type subsequence patterns with >= {_SEQ_MIN_SUPPORT} supporting users",
    oracle=f"""
        WITH rnk AS (
            SELECT user_id, event_type,
                   row_number() OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS rn
            FROM events
        ),
        bounds AS (
            SELECT user_id, event_type,
                   MIN(rn) AS mn, MAX(rn) AS mx
            FROM rnk GROUP BY user_id, event_type
        ),
        nu AS (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users FROM events),
        p2 AS (
            SELECT a.event_type AS t1, b.event_type AS t2,
                   CAST(COUNT(*) AS BIGINT) AS n_support
            FROM bounds a JOIN bounds b
              ON a.user_id = b.user_id AND a.mn < b.mx
            GROUP BY a.event_type, b.event_type
        ),
        p3 AS (
            SELECT ac.t1, m.event_type AS t2, ac.t3,
                   CAST(COUNT(DISTINCT m.user_id) AS BIGINT) AS n_support
            FROM (
                SELECT a.user_id, a.event_type AS t1, c.event_type AS t3,
                       a.mn AS mn_a, c.mx AS mx_c
                FROM bounds a JOIN bounds c
                  ON a.user_id = c.user_id AND a.mn + 1 < c.mx
            ) ac
            JOIN rnk m ON m.user_id = ac.user_id
             AND m.rn > ac.mn_a AND m.rn < ac.mx_c
            GROUP BY ac.t1, m.event_type, ac.t3
        ),
        pats AS (
            SELECT t1 || '->' || t2 AS pattern, 2 AS len, n_support FROM p2
            UNION ALL
            SELECT t1 || '->' || t2 || '->' || t3, 3, n_support FROM p3
        )
        SELECT pattern, CAST(len AS INT) AS len, n_support,
               round(CAST(n_support AS DOUBLE) / nu.n_users, 6) AS support_frac
        FROM pats, nu
        WHERE n_support >= {_SEQ_MIN_SUPPORT}
        ORDER BY len, pattern
    """,
)
def sequential_pattern_support(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential pattern mining support counting (the GSP/SPAM family,
    Srikant & Agrawal 1996): a user supports subsequence pattern
    a->b (->c) if events of those types occur in that ORDER in their
    timeline — not necessarily adjacently (path_topk_sequences covers
    the contiguous-prefix form; this is the subsequence form pattern
    mining actually uses). The trick that keeps it corpus-linear: a
    user supports a->b iff min_rank(a) < max_rank(b), and a->b->c iff
    some b-event's rank lies strictly between min_rank(a) and
    max_rank(c) — so support needs only the per-(user, type) rank
    BOUNDS (|types| rows per user) plus one bounded probe of the
    user's events per (a, c) combination, never an O(len²) self-join
    of the timeline. Ranks are row_number over (ts, event_id) — the
    shared unique tiebreak. Patterns with support >= {k} users emit
    (pattern, len, n_support, support_frac); the division by |users|
    is the only non-integer step.

    Scale: the rank window is per-user (hash-partitioned);
    `bounds` is |users| x |types| rows; the p3 probe multiplies each
    event row by at most |types|^2 = 25 (schema-bounded, map-side
    after one user-key shuffle). Output is <= |types|^2 + |types|^3
    rows regardless of corpus size.
    reference: SURVEY §2.11 (behavior tier).
    """
    ev = _t(spark, sf_dir, "events")
    rnk = ev.select(
        "user_id",
        "event_type",
        F.row_number()
        .over(W.partitionBy("user_id").orderBy("ts", "event_id"))
        .alias("rn"),
    )
    bounds = rnk.groupBy("user_id", "event_type").agg(
        F.min("rn").alias("mn"), F.max("rn").alias("mx")
    )
    nu = ev.agg(F.count_distinct("user_id").cast("bigint").alias("n_users"))
    a, b = bounds.alias("a"), bounds.alias("b")
    p2 = (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.mn") < F.col("b.mx")),
        )
        .groupBy(
            F.col("a.event_type").alias("t1"), F.col("b.event_type").alias("t2")
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_support"))
    )
    c = bounds.alias("c")
    ac = a.join(
        c,
        (F.col("a.user_id") == F.col("c.user_id"))
        & (F.col("a.mn") + 1 < F.col("c.mx")),
    ).select(
        F.col("a.user_id").alias("user_id"),
        F.col("a.event_type").alias("t1"),
        F.col("c.event_type").alias("t3"),
        F.col("a.mn").alias("mn_a"),
        F.col("c.mx").alias("mx_c"),
    )
    m = rnk.alias("m")
    p3 = (
        ac.alias("ac")
        .join(
            m,
            (F.col("m.user_id") == F.col("ac.user_id"))
            & (F.col("m.rn") > F.col("mn_a"))
            & (F.col("m.rn") < F.col("mx_c")),
        )
        .groupBy(
            "t1", F.col("m.event_type").alias("t2"), "t3"
        )
        .agg(F.count_distinct(F.col("m.user_id")).cast("bigint").alias("n_support"))
    )
    pats = p2.select(
        F.concat_ws("->", "t1", "t2").alias("pattern"),
        F.lit(2).cast("int").alias("len"),
        "n_support",
    ).unionByName(
        p3.select(
            F.concat_ws("->", "t1", "t2", "t3").alias("pattern"),
            F.lit(3).cast("int").alias("len"),
            "n_support",
        )
    )
    return (
        pats.filter(F.col("n_support") >= _SEQ_MIN_SUPPORT)
        .crossJoin(F.broadcast(nu))
        .select(
            "pattern",
            "len",
            "n_support",
            F.round(F.col("n_support") / F.col("n_users"), 6).alias("support_frac"),
        )
        .orderBy("len", "pattern")
    )


sequential_pattern_support.__doc__ = sequential_pattern_support.__doc__.format(k=_SEQ_MIN_SUPPORT)


# ---------------------------------------------------------------------------
# Markov behavioral anomaly score: per-user mean transition log-likelihood
# ---------------------------------------------------------------------------
@register(
    "markov_sequence_score",
    doc="per-user mean log-likelihood of the event-type sequence under the corpus transition MLE",
    oracle=f"""
        WITH seq AS (
            SELECT user_id, event_type AS cur,
                   lag(event_type) OVER (PARTITION BY user_id
                                         ORDER BY ts, event_id) AS prev
            FROM events
        ),
        pairs AS (
            SELECT user_id, prev, cur, COUNT(*) AS n
            FROM seq WHERE prev IS NOT NULL GROUP BY 1, 2, 3
        ),
        trans AS (
            SELECT prev, cur, SUM(n) AS n_ab FROM pairs GROUP BY 1, 2
        ),
        margins AS (
            SELECT prev, SUM(n_ab) AS n_a FROM trans GROUP BY 1
        ),
        scored AS (
            SELECT p.user_id, p.n,
                   p.n * round(ln(CAST(t.n_ab AS DOUBLE) / m.n_a), 12) AS term
            FROM pairs p
            JOIN trans t ON t.prev = p.prev AND t.cur = p.cur
            JOIN margins m ON m.prev = p.prev
        )
        SELECT user_id,
               CAST(SUM(n) AS BIGINT) AS n_transitions,
               round({_FOLD.format(x='term')}
                     / SUM(n), 9) AS avg_loglik
        FROM scored GROUP BY user_id
    """,
)
def markov_sequence_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral anomaly scoring: each user's event-type sequence is
    scored by the corpus first-order Markov MLE — mean ln P(cur|prev)
    over their transitions. Users whose flows are improbable under the
    crowd's transition matrix (bots, broken clients) score low; the
    complement of event_transition_matrix, which reports the matrix
    itself. ln() takes an exact integer ratio (n_ab/n_a) rounded at
    12; each per-user term is count × pinned-double (exact); per-user
    folds are sorted; the final mean rounds at 9.

    Plan: the per-(user, prev, cur) COUNT collapses the corpus before
    any scoring — a user contributes at most |types|² rows downstream,
    so the per-user fold is bounded at 25 terms no matter how hot the
    key (the segmented-EWMA lesson applied at design time, not
    retrofitted). The pair stream pays its user_id window exchange
    once and feeds its two aggregate consumers; the
    transition matrix and margins come back as broadcasts, so the
    corpus-sized stream never joins by shuffle. A hot user costs one
    sorted run in the lag window — per-row state, no arrays anywhere.
    """
    ev = _t(spark, sf_dir, "events")
    w = F.lag("cur").over(W.partitionBy("user_id").orderBy("ts", "event_id"))
    pairs = (
        ev.select("user_id", "ts", "event_id", F.col("event_type").alias("cur"))
        .withColumn("prev", w)
        .filter(F.col("prev").isNotNull())
        .groupBy("user_id", "prev", "cur")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    trans = pairs.groupBy("prev", "cur").agg(F.sum("n").alias("n_ab"))
    margins = trans.groupBy("prev").agg(F.sum("n_ab").alias("n_a"))
    scored = (
        pairs.join(F.broadcast(trans), ["prev", "cur"])
        .join(F.broadcast(margins), "prev")
        .select(
            "user_id",
            "n",
            (
                F.col("n")
                * F.round(
                    F.log(F.col("n_ab").cast("double") / F.col("n_a")), 12
                )
            ).alias("term"),
        )
    )
    return scored.groupBy("user_id").agg(
        F.sum("n").cast("bigint").alias("n_transitions"),
        F.round(_fold("term") / F.sum("n"), 9).alias("avg_loglik"),
    )
