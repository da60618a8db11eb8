"""Time-series analytics queries: calendar gap-filling and funnel
attribution over the events/orders tables.

The reference's query surface stops at raw aggregates (its Streamlit layer
does chart post-processing client-side — streamlit_app.py:259-303); these
are the engine-side time-series operations that replace such client code
at corpus scale, each oracle-checked.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from dynaledger_spark.plans.queries_core import _t
from dynaledger_spark.plans.registry import register


@register(
    "calendar_fill_daily_revenue",
    doc="gap-filled daily series: dense calendar via sequence+explode, zero-filled",
    oracle="""
        WITH daily AS (
            SELECT CAST(datediff('day', DATE '1970-01-01',
                                 CAST(o_orderdate AS DATE)) AS INT) AS day_n,
                   SUM(CAST(o_totalprice AS DECIMAL(27,6))) AS rev_dec,
                   COUNT(*) AS n_orders
            FROM orders GROUP BY day_n
        ),
        bounds AS (SELECT min(day_n) AS lo, max(day_n) AS hi FROM daily),
        cal AS (
            SELECT CAST(unnest(generate_series(lo, hi)) AS INT) AS day_n
            FROM bounds
        )
        SELECT c.day_n,
               CAST(COALESCE(d.n_orders, 0) AS BIGINT) AS n_orders,
               CAST(COALESCE(d.rev_dec, CAST(0 AS DECIMAL(27,6))) AS DOUBLE)
                 AS revenue
        FROM cal c LEFT JOIN daily d USING (day_n)
    """,
)
def calendar_fill_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regularize an event-dated series onto a dense daily grid (the
    missing-day problem every training-data time series hits): aggregate
    to day grain, take min/max bounds, explode `sequence(lo, hi)` into
    the full calendar, left-join the observations back and zero-fill.
    The calendar side is generated from a 1-row broadcast (never a
    driver loop); the join key is an int day number so the whole thing
    is codegen + one grouping shuffle. Day-scale cardinality (~10^3 at
    any SF) keeps the dense grid trivially small even at 100 TB of
    fact rows."""
    orders = _t(spark, sf_dir, "orders")
    daily = (
        orders.select(
            F.datediff(F.col("o_orderdate").cast("date"), F.lit("1970-01-01"))
            .cast("int")
            .alias("day_n"),
            F.col("o_totalprice").cast("decimal(27,6)").alias("price_dec"),
        )
        .groupBy("day_n")
        .agg(
            F.sum("price_dec").alias("rev_dec"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )
    bounds = daily.agg(
        F.min("day_n").alias("lo"), F.max("day_n").alias("hi")
    )
    cal = bounds.select(
        F.explode(F.sequence("lo", "hi")).alias("day_n")
    ).select(F.col("day_n").cast("int").alias("day_n"))
    return (
        cal.join(daily, "day_n", "left")
        .select(
            "day_n",
            F.coalesce(F.col("n_orders"), F.lit(0)).cast("bigint").alias(
                "n_orders"
            ),
            F.coalesce(
                F.col("rev_dec"), F.lit(0).cast("decimal(27,6)")
            )
            .cast("double")
            .alias("revenue"),
        )
    )


@register(
    "funnel_view_click_purchase",
    doc="ordered funnel: first view → first click after it → first purchase after that",
    oracle="""
        WITH v AS (
            SELECT user_id, min(ts) AS view_ts
            FROM events WHERE event_type = 'view' GROUP BY user_id
        ),
        c AS (
            SELECT e.user_id, min(e.ts) AS click_ts
            FROM events e JOIN v ON e.user_id = v.user_id
            WHERE e.event_type = 'click' AND e.ts >= v.view_ts
            GROUP BY e.user_id
        ),
        p AS (
            SELECT e.user_id, min(e.ts) AS purchase_ts
            FROM events e JOIN c ON e.user_id = c.user_id
            WHERE e.event_type = 'purchase' AND e.ts >= c.click_ts
            GROUP BY e.user_id
        )
        SELECT v.user_id, v.view_ts, c.click_ts, p.purchase_ts,
               p.user_id IS NOT NULL AS converted
        FROM v LEFT JOIN c ON v.user_id = c.user_id
               LEFT JOIN p ON v.user_id = p.user_id
    """,
)
def funnel_view_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-sequence funnel (the event-order-sensitive analytics the
    reference's client layer cannot do): per user, the first view, the
    first click at-or-after it, and the first purchase at-or-after that
    click — a stage only counts when it happens in order. Three hash
    aggregates and the stitching joins all cluster on user_id, so after
    the first shuffle the rest reuses the same partitioning; nulls mark
    funnel drop-off and `converted` flags completion."""
    events = _t(spark, sf_dir, "events")
    v = (
        events.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("view_ts"))
    )
    c = (
        events.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") >= F.col("view_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("click_ts"))
    )
    p = (
        events.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") >= F.col("click_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("purchase_ts"))
    )
    return (
        v.join(c, "user_id", "left")
        .join(p, "user_id", "left")
        .select(
            "user_id",
            "view_ts",
            "click_ts",
            "purchase_ts",
            F.col("purchase_ts").isNotNull().alias("converted"),
        )
    )


# ---------------------------------------------------------------------------
# VWAP-style weighted price index per time bucket (round-4)
# ---------------------------------------------------------------------------
@register(
    "vwap_weekly_priceband",
    doc="quantity-weighted effective unit price per ship week (exact decimal sums)",
    oracle="""
        SELECT date_trunc('week', l_shipdate) AS week_start,
               CAST(COUNT(*) AS BIGINT) AS n_lines,
               CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(27,6)))
                    AS DOUBLE) AS sum_net,
               CAST(SUM(CAST(l_quantity AS DECIMAL(27,6))) AS DOUBLE) AS sum_qty,
               round(CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(27,6)))
                          AS DOUBLE)
                     / CAST(SUM(CAST(l_quantity AS DECIMAL(27,6))) AS DOUBLE), 9)
                   AS vwap
        FROM lineitem GROUP BY date_trunc('week', l_shipdate)
    """,
)
def vwap_weekly_priceband(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VWAP over calendar buckets: Σ(net revenue)/Σ(quantity) per ship
    week — the continuous-aggregate twin of time_bucket_ohlc for a
    weighted measure. Both sums are decimal-exact (net price has ≤4dp —
    2dp price × 2dp discount factor — exactly representable at scale 6),
    the one division runs in double rounded to 9 decimals (the quotient
    is ~10³, so 12 would demand more significant digits than a double
    carries). Single hash aggregate on
    (week) with map-side partials; at 100 TB this is the query a
    materialized rollup table serves.
    """
    from dynaledger_spark.functions.agg import dsum

    li = _t(spark, sf_dir, "lineitem")
    net = F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))
    agg = li.groupBy(
        F.date_trunc("week", F.col("l_shipdate")).alias("week_start")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_lines"),
        dsum(net, "sum_net"),
        dsum(F.col("l_quantity"), "sum_qty"),
    )
    return agg.withColumn(
        "vwap", F.round(F.col("sum_net") / F.col("sum_qty"), 9)
    )


# ---------------------------------------------------------------------------
# Robust outlier detection via median absolute deviation (round-4)
# ---------------------------------------------------------------------------
@register(
    "mad_outlier_summary",
    doc="median/MAD robust outlier counts per event type",
    oracle="""
        WITH med AS (
            SELECT event_type,
                   round(quantile_cont(value, 0.5), 6) AS med
            FROM events GROUP BY event_type
        ),
        mad AS (
            SELECT e.event_type, m.med,
                   round(quantile_cont(abs(e.value - m.med), 0.5), 6) AS mad
            FROM events e JOIN med m USING (event_type)
            GROUP BY e.event_type, m.med
        )
        SELECT e.event_type, a.med, a.mad,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(COUNT(*) FILTER (abs(e.value - a.med) > 3 * a.mad) AS BIGINT)
                   AS n_outliers
        FROM events e JOIN mad a USING (event_type)
        GROUP BY e.event_type, a.med, a.mad
    """,
)
def mad_outlier_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust (median/MAD) outlier detection — the z-score twin
    (zscore_outliers) breaks on heavy tails; MAD does not. Two exact
    median passes (value, then |value − median|) with the medians
    rounded to 6dp immediately: 2dp input data makes the true quantiles
    ≤4dp, so the rounding pins any last-ulp interpolation divergence
    BEFORE the comparison threshold uses it — boundary rows then flag
    identically in both engines. The three aggregates all hash on
    event_type: one exchange, reused. At 100 TB the exact medians
    become t-digest/GK sketches (queries_approx) with the same shape.
    """
    ev = _t(spark, sf_dir, "events")
    med = ev.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), 6).alias("med")
    )
    dev = ev.join(med, "event_type")
    mad = dev.groupBy("event_type", "med").agg(
        F.round(
            F.expr("percentile(abs(value - med), 0.5)"), 6
        ).alias("mad")
    )
    flagged = ev.join(mad, "event_type")
    return flagged.groupBy("event_type", "med", "mad").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.sum(
            (F.abs(F.col("value") - F.col("med")) > 3 * F.col("mad")).cast("bigint")
        ).alias("n_outliers"),
    )


# ---------------------------------------------------------------------------
# Funnel latency: time-to-convert percentiles (round-4)
# ---------------------------------------------------------------------------
@register(
    "time_to_convert_stats",
    doc="first-view → first-purchase latency percentiles across users",
    oracle="""
        WITH firsts AS (
            SELECT user_id,
                   MIN(ts) FILTER (event_type = 'view') AS first_view,
                   MIN(ts) FILTER (event_type = 'purchase') AS first_purchase
            FROM events GROUP BY user_id
        ),
        converted AS (
            SELECT CAST(epoch_us(first_purchase) // 1000000
                        - epoch_us(first_view) // 1000000 AS BIGINT) AS delta_s
            FROM firsts
            WHERE first_view IS NOT NULL AND first_purchase IS NOT NULL
              AND first_purchase >= first_view
        )
        SELECT COUNT(*) AS n_converted,
               round(quantile_cont(delta_s, 0.25), 4) AS p25_s,
               round(quantile_cont(delta_s, 0.50), 4) AS p50_s,
               round(quantile_cont(delta_s, 0.90), 4) AS p90_s
        FROM converted
    """,
)
def time_to_convert_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel latency distribution: one conditional-MIN aggregate per
    user (no self-join of the event stream), truncate both endpoints to
    epoch seconds, then interpolated percentiles over the per-user
    deltas. Deltas are exact integers so the interpolation arithmetic is
    the only float op — rounded at 4dp, far above its ulp. Two
    aggregates: per-user (corpus-sized, map-side combinable) and the
    1-row summary.
    """
    ev = _t(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("fv"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias("fp"),
    )
    conv = firsts.filter(
        F.col("fv").isNotNull() & F.col("fp").isNotNull() & (F.col("fp") >= F.col("fv"))
    ).select(
        (
            F.expr("unix_micros(fp) div 1000000")
            - F.expr("unix_micros(fv) div 1000000")
        ).alias("delta_s")
    )
    return conv.agg(
        F.count(F.lit(1)).alias("n_converted"),
        F.round(F.expr("percentile(delta_s, 0.25)"), 4).alias("p25_s"),
        F.round(F.expr("percentile(delta_s, 0.50)"), 4).alias("p50_s"),
        F.round(F.expr("percentile(delta_s, 0.90)"), 4).alias("p90_s"),
    )


# ---------------------------------------------------------------------------
# Weekly seasonal decomposition (trend / seasonal / residual) — round 5
# ---------------------------------------------------------------------------
_DAILY_DUCK = """
        daily AS (
            SELECT CAST(o_orderdate AS DATE) AS day,
                   CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT))
                        AS BIGINT) AS cents
            FROM orders GROUP BY 1
        )
"""


def _daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily revenue in exact integer cents (shared by the decomposition
    and changepoint queries). |days| rows — calendar-bounded, so the
    global (single-partition) windows downstream are over hundreds of
    rows regardless of corpus size; the only corpus-sized operation is
    this one map-side-combined hash aggregate."""
    od = _t(spark, sf_dir, "orders")
    return od.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("cents")
    )


@register(
    "seasonal_decompose_dow",
    doc="classical decomposition of daily revenue: 7-obs centered trend, day-of-week seasonal, residual",
    oracle=f"""
        WITH {_DAILY_DUCK},
        tr AS (
            SELECT day, cents,
                   CASE WHEN COUNT(*) OVER w7 = 7
                        THEN round(CAST(SUM(cents) OVER w7 AS DOUBLE) / 700.0, 6)
                   END AS trend
            FROM daily
            WINDOW w7 AS (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
        ),
        dv AS (
            SELECT *, isodow(day) - 1 AS dow,
                   round(cents / 100.0 - trend, 6) AS dev
            FROM tr
        ),
        seas AS (
            SELECT dow,
                   round(CAST(SUM(CAST(dev AS DECIMAL(27,6))) AS DOUBLE)
                         / COUNT(dev), 6) AS seasonal
            FROM dv WHERE dev IS NOT NULL GROUP BY dow
        )
        SELECT strftime(day, '%Y-%m-%d') AS day,
               round(cents / 100.0, 2) AS revenue,
               trend,
               seas.seasonal AS seasonal,
               round(dev - seas.seasonal, 6) AS residual
        FROM dv LEFT JOIN seas USING (dow)
        ORDER BY day
    """,
)
def seasonal_decompose_dow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical additive decomposition of the daily revenue series:
    trend = centered moving average over 7 consecutive observations
    (null at the series edges where the window is short), seasonal =
    day-of-week mean of the detrended series, residual = remainder —
    the STL-lite every BI tool ships. Exactness: the series is integer
    cents; trend is one division rounded at 6; detrended values are
    6dp-pinned doubles summed through a DECIMAL accumulator so the
    seasonal mean is combine-order-independent; each output is one
    fixed IEEE expression. Day-of-week is Spark weekday() == DuckDB
    isodow()-1 (both Monday=0).

    Plan: corpus-sized work is ONE hash aggregate to |days| rows; the
    windows and the 7-row seasonal join run on the calendar-bounded
    series.
    """
    daily = _daily(spark, sf_dir)
    w7 = W.orderBy("day").rowsBetween(-3, 3)
    tr = daily.select(
        "day",
        "cents",
        F.when(
            F.count(F.lit(1)).over(w7) == 7,
            F.round(F.sum("cents").over(w7).cast("double") / 700.0, 6),
        ).alias("trend"),
    )
    dv = tr.select(
        "day",
        "cents",
        "trend",
        F.weekday("day").alias("dow"),
        F.round(F.col("cents") / 100.0 - F.col("trend"), 6).alias("dev"),
    )
    seas = (
        dv.filter(F.col("dev").isNotNull())
        .groupBy("dow")
        .agg(
            F.round(
                F.sum(F.col("dev").cast("decimal(27,6)")).cast("double")
                / F.count("dev"),
                6,
            ).alias("seasonal")
        )
    )
    return (
        dv.join(F.broadcast(seas), "dow", "left")
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            F.round(F.col("cents") / 100.0, 2).alias("revenue"),
            "trend",
            "seasonal",
            F.round(F.col("dev") - F.col("seasonal"), 6).alias("residual"),
        )
        .orderBy("day")
    )


# ---------------------------------------------------------------------------
# CUSUM changepoint detection on daily revenue — round 5
# ---------------------------------------------------------------------------
@register(
    "cusum_changepoint",
    doc="CUSUM changepoint scan of daily revenue: fraction-free integer statistic, peak day flagged",
    oracle=f"""
        WITH {_DAILY_DUCK},
        tot AS (
            SELECT CAST(COUNT(*) AS HUGEINT) AS n,
                   CAST(SUM(cents) AS HUGEINT) AS tot_cents
            FROM daily
        ),
        cum AS (
            SELECT day, cents,
                   row_number() OVER (ORDER BY day) AS t,
                   SUM(CAST(cents AS HUGEINT))
                       OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) AS cum_cents
            FROM daily
        ),
        s AS (
            SELECT day, t,
                   n * cum_cents - CAST(t AS HUGEINT) * tot_cents AS s_int, n
            FROM cum CROSS JOIN tot
        ),
        mx AS (SELECT MAX(abs(s_int)) AS m FROM s)
        SELECT strftime(day, '%Y-%m-%d') AS day,
               round(CAST(s_int AS DOUBLE) / (CAST(n AS DOUBLE) * 100.0), 4)
                   AS cusum_dollars,
               CAST(CASE WHEN abs(s_int) = mx.m THEN 1 ELSE 0 END AS INT)
                   AS is_peak
        FROM s CROSS JOIN mx
        ORDER BY day
    """,
)
def cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint scan: S_t = sum_{i<=t}(x_i − μ), the classic
    level-shift detector; the day where |S_t| peaks is the most likely
    changepoint. Computed FRACTION-FREE: multiplying by n clears μ =
    tot/n, so S'_t = n·cum_t − t·tot is exact integer arithmetic end to
    end (DECIMAL(38,0) / HUGEINT) and the peak flag is an exact integer
    comparison — no float ever decides a row. The only doubles are the
    final display scaling, rounded at 4.

    Plan: one corpus-sized hash aggregate to |days| rows, then a growing
    (incremental) prefix-sum window and two 1-row broadcast joins on the
    calendar-bounded series.
    """
    daily = _daily(spark, sf_dir)
    tot = daily.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum("cents").cast("decimal(38,0)").alias("tot_cents"),
    )
    wrun = W.orderBy("day").rowsBetween(W.unboundedPreceding, W.currentRow)
    cum = daily.select(
        "day",
        F.row_number().over(W.orderBy("day")).alias("t"),
        F.sum(F.col("cents").cast("decimal(38,0)")).over(wrun).alias("cum_cents"),
    )
    s = cum.crossJoin(F.broadcast(tot)).select(
        "day",
        (
            F.col("n") * F.col("cum_cents")
            - F.col("t").cast("decimal(38,0)") * F.col("tot_cents")
        ).alias("s_int"),
        "n",
    )
    mx = s.agg(F.max(F.abs(F.col("s_int"))).alias("m"))
    return (
        s.crossJoin(F.broadcast(mx))
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            F.round(
                F.col("s_int").cast("double")
                / (F.col("n").cast("double") * 100.0),
                4,
            ).alias("cusum_dollars"),
            F.when(F.abs(F.col("s_int")) == F.col("m"), 1)
            .otherwise(0)
            .cast("int")
            .alias("is_peak"),
        )
        .orderBy("day")
    )


# ---------------------------------------------------------------------------
# Theil-Sen robust trend of daily revenue — round 5
# ---------------------------------------------------------------------------
@register(
    "theil_sen_daily_trend",
    doc="Theil-Sen robust trend: lower-median pairwise slope of daily revenue",
    oracle=f"""
        WITH {_DAILY_DUCK},
        mn AS (SELECT MIN(day) AS d0 FROM daily),
        pts AS (
            SELECT date_diff('day', mn.d0, day) AS t, cents
            FROM daily CROSS JOIN mn
        ),
        slopes AS (
            SELECT a.t AS ti, b.t AS tj,
                   CAST(b.cents - a.cents AS DOUBLE) / (b.t - a.t) AS slope
            FROM pts a JOIN pts b ON a.t < b.t
        ),
        ranked AS (
            SELECT slope,
                   row_number() OVER (ORDER BY slope, ti, tj) AS rn,
                   COUNT(*) OVER () AS np
            FROM slopes
        )
        SELECT CAST((SELECT COUNT(*) FROM pts) AS BIGINT) AS n_days,
               CAST(np AS BIGINT) AS n_pairs,
               round(slope / 100.0, 6) AS theil_slope_dollars_per_day
        FROM ranked WHERE rn = (np + 1) // 2
    """,
)
def theil_sen_daily_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The robust trend estimator (Theil 1950/Sen 1968): the median of
    all pairwise slopes of the daily revenue series — up to ~29% gross
    outliers cannot move it, unlike the OLS slope (user_value_trend).
    Slopes are exact-integer differences divided once (bit-identical
    doubles both engines); the LOWER median is an exact row_number
    selection with (ti, tj) tiebreaks, so no float comparison is ever
    ambiguous.

    Plan: the corpus collapses to |days| rows first (one hash
    aggregate); the O(|days|²) pair join runs on the calendar-bounded
    series — ~365 days/year is ~66k pairs of integers, driver-trivial
    at ANY corpus size because days, not rows, bound it. The non-equi
    self-join is a deliberate broadcast nested loop over that tiny
    table (whitelisted with the other calendar-bounded plans).
    """
    daily = _daily(spark, sf_dir)
    mn = daily.agg(F.min("day").alias("d0"))
    pts = daily.crossJoin(F.broadcast(mn)).select(
        F.datediff("day", "d0").alias("t"), "cents"
    )
    a, b = pts.alias("a"), pts.alias("b")
    slopes = (
        a.join(F.broadcast(b), F.col("a.t") < F.col("b.t"))
        .select(
            F.col("a.t").alias("ti"),
            F.col("b.t").alias("tj"),
            (
                (F.col("b.cents") - F.col("a.cents")).cast("double")
                / (F.col("b.t") - F.col("a.t"))
            ).alias("slope"),
        )
    )
    # np = C(n_days, 2) BY CONSTRUCTION (the t values are distinct, the
    # pair join keeps exactly every ti < tj), so the old unbounded
    # COUNT(*) OVER () — a second single-task window pass that BUFFERS
    # all C(n,2) rows (~2.9M at sf0.1's 2405-day span; the r13 profile
    # measured it as the query's dominant stage) — is replaced by
    # integer algebra on the 1-row day count. The remaining row_number
    # window is a streaming frame over the same total order: identical
    # rank, identical selected row.
    wall = W.orderBy("slope", "ti", "tj")
    ranked = slopes.select(
        "slope",
        F.row_number().over(wall).alias("rn"),
    )
    nd = daily.agg(F.count(F.lit(1)).cast("bigint").alias("n_days"))
    # integer floor-division, matching the oracle's (np + 1) // 2: a
    # bare `/` on bigints is DOUBLE division in Spark, so with an EVEN
    # pair count the lower-median rank became fractional and matched
    # nothing — 0 rows at any SF whose |days| made C(n,2) even (first
    # seen at sf0.1; both driver-verify SFs happened to be odd)
    return (
        ranked.crossJoin(F.broadcast(nd))
        .withColumn("np", F.expr("n_days * (n_days - 1) div 2"))
        .filter(F.col("rn") == F.expr("(np + 1) div 2"))
        .select(
            "n_days",
            F.col("np").cast("bigint").alias("n_pairs"),
            F.round(F.col("slope") / 100.0, 6).alias(
                "theil_slope_dollars_per_day"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Seasonal-baseline anomaly detection by (day-of-week, hour) — round 5
# ---------------------------------------------------------------------------
@register(
    "anomaly_dow_hour_baseline",
    doc="hourly event volumes z-scored against their (day-of-week, hour) seasonal baseline",
    oracle="""
        WITH hb AS (
            SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
                   CAST(hour(ts) AS INT) AS hr,
                   COUNT(*) AS n_ev
            FROM events GROUP BY 1, 2
        ),
        base AS (
            SELECT isodow(day) - 1 AS dow, hr,
                   COUNT(*) AS k,
                   CAST(SUM(n_ev) AS BIGINT) AS s1,
                   CAST(SUM(n_ev * n_ev) AS BIGINT) AS s2
            FROM hb GROUP BY 1, 2
        )
        SELECT strftime(hb.day, '%Y-%m-%d') AS day, hb.hr AS hr,
               CAST(hb.n_ev AS BIGINT) AS n_events,
               CASE WHEN b.k * b.s2 > b.s1 * b.s1
                    THEN round((hb.n_ev - CAST(b.s1 AS DOUBLE) / b.k)
                               / sqrt(CAST(b.s2 AS DOUBLE) / b.k
                                      - (CAST(b.s1 AS DOUBLE) / b.k)
                                        * (CAST(b.s1 AS DOUBLE) / b.k)), 6)
               END AS z,
               CAST(CASE WHEN b.k * b.s2 > b.s1 * b.s1
                              AND abs((hb.n_ev - CAST(b.s1 AS DOUBLE) / b.k)
                                      / sqrt(CAST(b.s2 AS DOUBLE) / b.k
                                             - (CAST(b.s1 AS DOUBLE) / b.k)
                                               * (CAST(b.s1 AS DOUBLE) / b.k)))
                                  >= 2.5
                         THEN 1 ELSE 0 END AS INT) AS is_anomaly
        FROM hb JOIN base b ON b.dow = isodow(hb.day) - 1 AND b.hr = hb.hr
        ORDER BY day, hr
    """,
)
def anomaly_dow_hour_baseline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ops-monitoring anomaly detection with a seasonal baseline: hourly
    event volume compared to the mean/std of the SAME (day-of-week,
    hour) slot — traffic at Monday 9am is judged against other Monday
    9ams, not the global mean (which would flag every rush hour). The
    baseline moments are exact integer sums; the z-score is one fixed
    IEEE closed form gated by an exact-integer variance>0 test (k·s2 >
    s1², so a degenerate slot can never divide by ~0 noise), rounded at
    6; the ≥2.5 flag re-derives from the same pinned expression.

    Plan: the corpus pays one (day, hour) hash aggregate; the 168-slot
    baseline is a rollup of that table and broadcasts back. Calendar-
    bounded everywhere after the first aggregate.
    """
    from dynaledger_spark.plans.queries_core import _t as _ct  # same helper

    ev = _ct(spark, sf_dir, "events")
    hb = (
        ev.groupBy(
            F.date_trunc("day", F.col("ts")).cast("date").alias("day"),
            F.hour("ts").cast("int").alias("hr"),
        )
        .agg(F.count(F.lit(1)).alias("n_ev"))
    )
    base = hb.groupBy(
        F.weekday("day").alias("dow"), F.col("hr")
    ).agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("n_ev").cast("bigint").alias("s1"),
        F.sum(F.col("n_ev") * F.col("n_ev")).cast("bigint").alias("s2"),
    )
    joined = hb.withColumn("dow", F.weekday("day")).join(
        F.broadcast(base), ["dow", "hr"]
    )
    mean = F.col("s1").cast("double") / F.col("k")
    var = F.col("s2").cast("double") / F.col("k") - mean * mean
    ok = F.col("k") * F.col("s2") > F.col("s1") * F.col("s1")
    z = (F.col("n_ev") - mean) / F.sqrt(var)
    return joined.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "hr",
        F.col("n_ev").cast("bigint").alias("n_events"),
        F.when(ok, F.round(z, 6)).alias("z"),
        F.when(ok & (F.abs(z) >= 2.5), 1).otherwise(0).cast("int").alias(
            "is_anomaly"
        ),
    ).orderBy("day", "hr")
