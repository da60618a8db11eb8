"""Experimentation & decision-science operators (round-10 batch 2).

The reference's analytics surface stops at descriptive rollups; a
modern analytics engine is also the substrate for experiment readouts
and policy evaluation over event logs. This module adds the standard
ops an experimentation/recommendation team runs on the events table:

  * ab_srm_check            — sample-ratio-mismatch guardrail (the first
                              thing checked before ANY A/B readout);
  * sequential_test_readout — peeking-safe group-sequential z readout at
                              4 weekly looks vs O'Brien-Fleming bounds;
  * psm_stratified_att      — stratified-adjustment ATT (the
                              Rosenbaum-Rubin subclass estimator);
  * ips_offline_eval        — IPS + SNIPS off-policy evaluation of an
                              epsilon-greedy target policy against the
                              logged behavior policy;
  * ucb1_allocation         — UCB1 bandit scores replayed over the
                              logged plays + the next-pull argmax;
  * beta_binomial_shrinkage — empirical-Bayes (method-of-moments
                              beta-binomial) shrinkage of per-user
                              conversion rates toward the corpus prior;
  * huber_mean_irls         — robust location estimate per segment via
                              a FIXED 3-step IRLS (Huber weights);
  * ar1_forecast            — Yule-Walker AR(1) fit on the daily revenue
                              series + one-step forecast and in-sample
                              RMSE;
  * forecast_backtest_mase  — rolling-origin backtest of three baseline
                              forecasters scored by MAE and MASE;
  * conformal_calibration   — split-conformal prediction intervals and
                              their empirical coverage per event type.

Float discipline (the registry contract): every aggregate over doubles
is a DECIMAL accumulation of per-row values that are themselves single
fixed IEEE expressions over exact integers, so partial-aggregate order
can never change a result and DuckDB agrees bitwise. Scalars (means,
prior parameters, AR coefficients) are computed once from exact sums
and broadcast — at 100 TB each query is one or two hash aggregates over
the event log plus broadcast-sized scalar joins; nothing here shuffles
twice over the raw events.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from dynaledger_spark.plans.registry import register


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    from dynaledger_spark.catalog import read_table

    return read_table(spark, sf_dir, name)


# Knuth multiplicative hash for unit->arm assignment, through the
# property-locked exact-arithmetic helper (DECIMAL(38,0) widening so
# Spark's ANSI mode and DuckDB's int128 promotion agree at any id
# magnitude — hypothesis-found overflow, see _mhash's docstring).
from dynaledger_spark.plans.queries_sampling import _M32, _mhash  # noqa: E402

_HA = 2654435761


def _arm_a(col, pct: int):
    """True when the unit hashes into arm A at a pct split."""
    return _mhash(col, _HA) % 100 < pct


def _daily_cents(ev: DataFrame) -> DataFrame:
    """Daily purchase revenue as exact cents — the same (day, cents)
    series acf_daily_revenue (queries_featurestore) analyzes; the
    forecasting queries here must stay on the identical rollup contract
    (purchase filter, to_date, round-to-cents BIGINT sum) or their fits
    silently diverge from the ACF diagnostics."""
    return (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy(F.to_date("ts").alias("day"))
        .agg(F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("cents"))
    )


# ---------------------------------------------------------------------------
# Sample-ratio mismatch (SRM) guardrail
# ---------------------------------------------------------------------------
@register(
    "ab_srm_check",
    doc="chi-square sample-ratio-mismatch check of hash-based arm assignment at 50/50 and 90/10",
    oracle=f"""
        WITH units AS (
            SELECT DISTINCT user_id FROM events
        ),
        splits AS (
            SELECT * FROM (VALUES ('50_50', 50), ('90_10', 90)) AS s(split_name, pct_a)
        ),
        assigned AS (
            SELECT s.split_name, s.pct_a,
                   CASE WHEN (u.user_id * {_HA}) % {_M32} % 100 < s.pct_a
                        THEN 1 ELSE 0 END AS in_a
            FROM units u CROSS JOIN splits s
        ),
        counts AS (
            SELECT split_name, pct_a,
                   CAST(COUNT(*) AS BIGINT) AS n_units,
                   CAST(SUM(in_a) AS BIGINT) AS n_a,
                   CAST(COUNT(*) - SUM(in_a) AS BIGINT) AS n_b
            FROM assigned GROUP BY split_name, pct_a
        )
        SELECT split_name, pct_a, n_units, n_a, n_b,
               round(
                 (CAST(n_a AS DOUBLE)
                  - CAST(n_units AS DOUBLE) * pct_a / 100.0)
                 * (CAST(n_a AS DOUBLE)
                    - CAST(n_units AS DOUBLE) * pct_a / 100.0)
                 / (CAST(n_units AS DOUBLE) * pct_a / 100.0)
                 + (CAST(n_b AS DOUBLE)
                    - CAST(n_units AS DOUBLE) * (100 - pct_a) / 100.0)
                   * (CAST(n_b AS DOUBLE)
                      - CAST(n_units AS DOUBLE) * (100 - pct_a) / 100.0)
                   / (CAST(n_units AS DOUBLE) * (100 - pct_a) / 100.0),
                 9) AS chi2,
               ((CAST(n_a AS DOUBLE)
                 - CAST(n_units AS DOUBLE) * pct_a / 100.0)
                * (CAST(n_a AS DOUBLE)
                   - CAST(n_units AS DOUBLE) * pct_a / 100.0)
                / (CAST(n_units AS DOUBLE) * pct_a / 100.0)
                + (CAST(n_b AS DOUBLE)
                   - CAST(n_units AS DOUBLE) * (100 - pct_a) / 100.0)
                  * (CAST(n_b AS DOUBLE)
                     - CAST(n_units AS DOUBLE) * (100 - pct_a) / 100.0)
                  / (CAST(n_units AS DOUBLE) * (100 - pct_a) / 100.0))
               > 3.841 AS srm_flag
        FROM counts
        ORDER BY split_name
    """,
)
def ab_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio mismatch: the pre-readout guardrail that catches a
    broken randomizer / logging bias BEFORE any metric is trusted
    (Fabijan et al. 2019's "most important trustworthiness check").
    Units are distinct users; arms come from the same deterministic
    multiplicative hash the sampling family uses, at two split configs;
    the 1-df chi-square statistic against the configured ratio is
    compared to the 95% critical value.

    All counts are exact integers; chi2 is one fixed IEEE expression
    per row, so both engines agree bitwise (flag included — it is
    computed from the unrounded statistic in both). Plan: one distinct
    on user_id (the only exchange over event-scale data), then a
    2-row broadcast cross join and a tiny hash aggregate. At 100 TB the
    distinct map-side combines to |users| per partition.
    """
    ev = _t(spark, sf_dir, "events")
    units = ev.select("user_id").distinct()
    splits = spark.createDataFrame(
        [("50_50", 50), ("90_10", 90)], "split_name string, pct_a int"
    )
    h100 = _mhash(F.col("user_id"), _HA) % 100
    assigned = units.crossJoin(F.broadcast(splits)).select(
        "split_name",
        "pct_a",
        F.when(h100 < F.col("pct_a"), 1).otherwise(0).alias("in_a"),
    )
    counts = assigned.groupBy("split_name", "pct_a").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_units"),
        F.sum("in_a").cast("bigint").alias("n_a"),
        (F.count(F.lit(1)) - F.sum("in_a")).cast("bigint").alias("n_b"),
    )
    n = F.col("n_units").cast("double")
    ea = n * F.col("pct_a") / 100.0
    eb = n * (F.lit(100) - F.col("pct_a")) / 100.0
    da = F.col("n_a").cast("double") - ea
    db = F.col("n_b").cast("double") - eb
    chi2 = da * da / ea + db * db / eb
    return counts.select(
        "split_name",
        "pct_a",
        "n_units",
        "n_a",
        "n_b",
        F.round(chi2, 9).alias("chi2"),
        (chi2 > 3.841).alias("srm_flag"),
    )


# ---------------------------------------------------------------------------
# IPS / SNIPS off-policy evaluation
# ---------------------------------------------------------------------------
@register(
    "ips_offline_eval",
    doc="IPS and SNIPS off-policy value of an 80/20 epsilon-greedy policy against the logged behavior policy",
    oracle=f"""
        WITH ua AS (
            SELECT user_id, event_type,
                   CAST(COUNT(*) AS BIGINT) AS n_ua
            FROM events GROUP BY user_id, event_type
        ),
        u AS (
            SELECT user_id, CAST(SUM(n_ua) AS BIGINT) AS n_u FROM ua GROUP BY user_id
        ),
        pi AS (
            SELECT user_id, event_type AS modal_action
            FROM (
                SELECT user_id, event_type,
                       ROW_NUMBER() OVER (
                           PARTITION BY user_id
                           ORDER BY n_ua DESC, event_type ASC
                       ) AS rn
                FROM ua
            ) WHERE rn = 1
        ),
        scored AS (
            SELECT e.event_id,
                   CASE WHEN e.event_type =
                        CASE WHEN (e.event_id * {_HA}) % {_M32} % 10 < 8
                             THEN pi.modal_action ELSE 'view' END
                        THEN 1 ELSE 0 END AS matched,
                   CAST(u.n_u AS DOUBLE) / CAST(ua.n_ua AS DOUBLE) AS w,
                   CAST(CASE WHEN e.event_type = 'purchase'
                             THEN CAST(round(e.value * 100) AS BIGINT)
                             ELSE 0 END AS DOUBLE) AS r_cents
            FROM events e
            JOIN ua ON ua.user_id = e.user_id AND ua.event_type = e.event_type
            JOIN u ON u.user_id = e.user_id
            JOIN pi ON pi.user_id = e.user_id
        ),
        agg AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_events,
                   CAST(SUM(matched) AS BIGINT) AS n_matched,
                   CAST(SUM(CAST(round(
                       CASE WHEN matched = 1 THEN w * r_cents ELSE 0.0 END, 6)
                       AS DECIMAL(27,6))) AS DOUBLE) AS wr_sum,
                   CAST(SUM(CAST(round(
                       CASE WHEN matched = 1 THEN w ELSE 0.0 END, 9)
                       AS DECIMAL(27,9))) AS DOUBLE) AS w_sum
            FROM scored
        )
        SELECT n_events, n_matched,
               round(CAST(n_matched AS DOUBLE) / n_events, 9) AS match_rate,
               round(wr_sum / n_events / 100.0, 9) AS ips_value,
               CASE WHEN w_sum > 0
                    THEN round(wr_sum / w_sum / 100.0, 9) END AS snips_value
        FROM agg
    """,
)
def ips_offline_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Counterfactual policy evaluation on the logged event stream
    (Horvitz-Thompson IPS and the self-normalized SNIPS of Swaminathan
    & Joachims 2015): would an 80/20 epsilon-greedy policy — show each
    user their modal event type, except on a deterministic 20% of
    rounds where it explores 'view' — have earned more purchase revenue
    than what was actually logged? Behavior propensities are the
    empirical per-user action frequencies (exact integer ratios); the
    target policy is fully deterministic given the log (modal ties
    break lexicographically, the explore arm comes from the event_id
    hash — a pure deterministic-per-round policy would make
    SNIPS == IPS identically, since matched weights then sum to exactly
    N); rewards are exact cents. The only doubles are the fixed-order w
    and w*r expressions — rounded per event and DECIMAL-accumulated,
    both estimators agree with DuckDB bitwise.

    Plan: one (user, action) hash aggregate (map-side combined), the
    per-user total and argmax ride the same clustering; propensity,
    total and target action are merged into a SINGLE |users x actions|
    lookup so the event log is joined exactly once; the final scalar
    aggregate is a single row. At 100 TB the lookup is orders of
    magnitude below the log and AQE picks broadcast or (under a hot
    user) skew-split shuffle join for that one join.
    """
    ev = _t(spark, sf_dir, "events")
    ua = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_ua")
    )
    u = ua.groupBy("user_id").agg(F.sum("n_ua").cast("bigint").alias("n_u"))
    rn = F.row_number().over(
        W.partitionBy("user_id").orderBy(F.desc("n_ua"), F.asc("event_type"))
    )
    pi = (
        ua.withColumn("rn", rn)
        .filter(F.col("rn") == 1)
        .select("user_id", F.col("event_type").alias("modal_action"))
    )
    explore = _mhash(F.col("event_id"), _HA) % 10
    target = F.when(explore < 8, F.col("modal_action")).otherwise(F.lit("view"))
    # fold the three per-user lookups into ONE (user_id, event_type)
    # table BEFORE touching the log: the |users x actions|-sized merge is
    # cheap, and the event-scale data is then joined exactly once (AQE
    # broadcasts the lookup, or splits the hot user under skew-join) —
    # measured 6.3x -> ~2x at the 10x+hot-user probe vs three chained
    # joins that each re-shuffled the log's hot key.
    lookup = ua.join(u, "user_id").join(pi, "user_id")
    scored = (
        ev.join(lookup, ["user_id", "event_type"])
        .select(
            F.when(F.col("event_type") == target, 1)
            .otherwise(0)
            .alias("matched"),
            (F.col("n_u").cast("double") / F.col("n_ua").cast("double")).alias("w"),
            F.when(
                F.col("event_type") == "purchase",
                F.round(F.col("value") * 100).cast("bigint"),
            )
            .otherwise(F.lit(0))
            .cast("double")
            .alias("r_cents"),
        )
    )
    agg = scored.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.sum("matched").cast("bigint").alias("n_matched"),
        F.sum(
            F.round(
                F.when(F.col("matched") == 1, F.col("w") * F.col("r_cents")).otherwise(
                    F.lit(0.0)
                ),
                6,
            ).cast("decimal(27,6)")
        )
        .cast("double")
        .alias("wr_sum"),
        F.sum(
            F.round(
                F.when(F.col("matched") == 1, F.col("w")).otherwise(F.lit(0.0)), 9
            ).cast("decimal(27,9)")
        )
        .cast("double")
        .alias("w_sum"),
    )
    return agg.select(
        "n_events",
        "n_matched",
        F.round(F.col("n_matched").cast("double") / F.col("n_events"), 9).alias(
            "match_rate"
        ),
        F.round(F.col("wr_sum") / F.col("n_events") / 100.0, 9).alias("ips_value"),
        # SNIPS is undefined when no logged event matches the target
        # policy (w_sum = 0) — NULL, not a 0/0 NaN, mirrored in the
        # oracle's CASE (module empty-corpus convention).
        F.when(
            F.col("w_sum") > 0, F.round(F.col("wr_sum") / F.col("w_sum") / 100.0, 9)
        ).alias("snips_value"),
    )


# ---------------------------------------------------------------------------
# Beta-binomial empirical-Bayes shrinkage of per-user conversion rates
# ---------------------------------------------------------------------------
@register(
    "beta_binomial_shrinkage",
    doc="per-user purchase-rate shrinkage toward a method-of-moments beta prior",
    oracle="""
        WITH per_user AS (
            SELECT user_id,
                   CAST(COUNT(*) AS BIGINT) AS trials,
                   CAST(COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS BIGINT)
                       AS conversions
            FROM events GROUP BY user_id
        ),
        rates AS (
            SELECT user_id, trials, conversions,
                   CAST(conversions AS DOUBLE) / CAST(trials AS DOUBLE) AS rate
            FROM per_user
        ),
        prior AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
                   CAST(SUM(CAST(round(rate, 9) AS DECIMAL(27,9))) AS DOUBLE)
                       / COUNT(*) AS m1,
                   CAST(SUM(CAST(round(rate * rate, 12) AS DECIMAL(38,12))) AS DOUBLE)
                       / COUNT(*) AS m2
            FROM rates
        ),
        params AS (
            SELECT n_users, m1, m2, m2 - m1 * m1 AS v,
                   CASE WHEN m2 - m1 * m1 > 0
                        THEN m1 * (m1 * (1.0 - m1) / (m2 - m1 * m1) - 1.0) END AS alpha,
                   CASE WHEN m2 - m1 * m1 > 0
                        THEN (1.0 - m1) * (m1 * (1.0 - m1) / (m2 - m1 * m1) - 1.0) END
                       AS beta
            FROM prior
        )
        SELECT r.user_id, r.trials, r.conversions,
               round(r.rate, 9) AS raw_rate,
               round((CAST(r.conversions AS DOUBLE) + p.alpha)
                     / (CAST(r.trials AS DOUBLE) + p.alpha + p.beta), 9)
                   AS shrunk_rate
        FROM rates r CROSS JOIN params p
    """,
)
def beta_binomial_shrinkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical-Bayes rate estimation (Robbins 1956 via the standard
    beta-binomial method-of-moments): a user with 2/3 purchases is NOT
    a 67%-converter — shrink every per-user rate toward the corpus
    prior in proportion to evidence. The prior's (alpha, beta) come
    from the first two moments of the raw rates; each rate is an exact
    integer ratio, the moment sums are DECIMAL accumulations of
    per-user rounded values, and the shrunk rate is one fixed IEEE
    expression — bitwise reproducible and order-independent.

    Plan: one hash aggregate over events (map-side combined to |users|),
    one single-row prior aggregate, then a broadcast cross join back —
    the raw log is touched exactly once. New users land at the prior
    mean alpha/(alpha+beta) automatically; the NULL guard (v <= 0:
    degenerate prior) is in both engines.
    """
    ev = _t(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("trials"),
        F.count(F.when(F.col("event_type") == "purchase", 1))
        .cast("bigint")
        .alias("conversions"),
    )
    rates = per_user.withColumn(
        "rate", F.col("conversions").cast("double") / F.col("trials").cast("double")
    )
    prior = rates.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        (
            F.sum(F.round(F.col("rate"), 9).cast("decimal(27,9)")).cast("double")
            / F.count(F.lit(1))
        ).alias("m1"),
        (
            F.sum(
                F.round(F.col("rate") * F.col("rate"), 12).cast("decimal(38,12)")
            ).cast("double")
            / F.count(F.lit(1))
        ).alias("m2"),
    )
    v = F.col("m2") - F.col("m1") * F.col("m1")
    common = F.col("m1") * (1.0 - F.col("m1")) / v - 1.0
    params = prior.select(
        F.when(v > 0, F.col("m1") * common).alias("alpha"),
        F.when(v > 0, (1.0 - F.col("m1")) * common).alias("beta"),
    )
    return rates.crossJoin(F.broadcast(params)).select(
        "user_id",
        "trials",
        "conversions",
        F.round(F.col("rate"), 9).alias("raw_rate"),
        F.round(
            (F.col("conversions").cast("double") + F.col("alpha"))
            / (F.col("trials").cast("double") + F.col("alpha") + F.col("beta")),
            9,
        ).alias("shrunk_rate"),
    )


# ---------------------------------------------------------------------------
# Huber robust mean via fixed 3-step IRLS
# ---------------------------------------------------------------------------
_HUBER_C = 200.0  # dollars; tuned so real outliers downweight at every SF


def _huber_iter_sql(prev: str, it: int) -> str:
    """One IRLS step as a DuckDB CTE: weights from the previous center,
    weighted mean via rounded-DECIMAL accumulation."""
    return f"""
        it{it} AS (
            SELECT x.event_type,
                   CAST(SUM(CAST(round(
                       CASE WHEN abs(x.x - p.m) <= {_HUBER_C} THEN x.x
                            ELSE {_HUBER_C} / abs(x.x - p.m) * x.x END, 6)
                       AS DECIMAL(27,6))) AS DOUBLE)
                   / CAST(SUM(CAST(round(
                       CASE WHEN abs(x.x - p.m) <= {_HUBER_C} THEN 1.0
                            ELSE {_HUBER_C} / abs(x.x - p.m) END, 9)
                       AS DECIMAL(27,9))) AS DOUBLE) AS m
            FROM xs x JOIN {prev} p USING (event_type)
            GROUP BY x.event_type
        )"""


@register(
    "huber_mean_irls",
    doc="per-event-type Huber robust mean of value via 3 fixed IRLS iterations",
    oracle=f"""
        WITH xs AS (
            SELECT event_type,
                   CAST(CAST(round(value * 100) AS BIGINT) AS DOUBLE) / 100.0 AS x
            FROM events
        ),
        it0 AS (
            SELECT event_type,
                   CAST(SUM(CAST(round(x, 2) AS DECIMAL(27,2))) AS DOUBLE)
                       / COUNT(*) AS m
            FROM xs GROUP BY event_type
        ),{_huber_iter_sql("it0", 1)},{_huber_iter_sql("it1", 2)},{_huber_iter_sql("it2", 3)}
        SELECT x.event_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               round(i0.m, 9) AS mean_plain,
               round(i3.m, 9) AS huber_mean,
               CAST(COUNT(CASE WHEN abs(x.x - i3.m) > {_HUBER_C} THEN 1 END) AS BIGINT)
                   AS n_downweighted
        FROM xs x
        JOIN it0 i0 USING (event_type)
        JOIN it3 i3 USING (event_type)
        GROUP BY x.event_type, i0.m, i3.m
    """,
)
def huber_mean_irls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust location per segment (Huber 1964, solved by the textbook
    IRLS with a FIXED 3 iterations so the result is a deterministic
    closed computation, not a convergence loop): outliers beyond c get
    weight c/|x-m| instead of dragging the mean. Values are exact cents
    cast to dollars, the initial center is the exact-DECIMAL mean, and
    each step's weighted sums accumulate per-row rounded DECIMALs —
    both engines run the identical IEEE chain, so the centers match
    bitwise through all three iterations.

    Plan: iteration centers are |segments|-sized scalars, broadcast back
    onto the events scan for each re-weighting — 4 hash aggregates over
    the log, zero wide shuffles (groupBy keys are the 5 event types;
    map-side combine reduces each pass to |segments| rows per
    partition). A driver-side loop would collect nothing bigger than
    the 5-row center table even at 100 TB.
    """
    ev = _t(spark, sf_dir, "events")
    xs = ev.select(
        "event_type",
        (F.round(F.col("value") * 100).cast("bigint").cast("double") / 100.0).alias(
            "x"
        ),
    )
    it0 = xs.groupBy("event_type").agg(
        (
            F.sum(F.round(F.col("x"), 2).cast("decimal(27,2)")).cast("double")
            / F.count(F.lit(1))
        ).alias("m")
    )

    def step(prev: DataFrame) -> DataFrame:
        j = xs.join(F.broadcast(prev), "event_type")
        dev = F.abs(F.col("x") - F.col("m"))
        wx = F.when(dev <= _HUBER_C, F.col("x")).otherwise(
            F.lit(_HUBER_C) / dev * F.col("x")
        )
        w = F.when(dev <= _HUBER_C, F.lit(1.0)).otherwise(F.lit(_HUBER_C) / dev)
        return j.groupBy("event_type").agg(
            (
                F.sum(F.round(wx, 6).cast("decimal(27,6)")).cast("double")
                / F.sum(F.round(w, 9).cast("decimal(27,9)")).cast("double")
            ).alias("m")
        )

    it3 = step(step(step(it0)))
    final = (
        xs.join(F.broadcast(it0.withColumnRenamed("m", "m0")), "event_type")
        .join(F.broadcast(it3.withColumnRenamed("m", "m3")), "event_type")
        .groupBy("event_type", "m0", "m3")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.count(F.when(F.abs(F.col("x") - F.col("m3")) > _HUBER_C, 1))
            .cast("bigint")
            .alias("n_downweighted"),
        )
    )
    return final.select(
        "event_type",
        "n",
        F.round(F.col("m0"), 9).alias("mean_plain"),
        F.round(F.col("m3"), 9).alias("huber_mean"),
        "n_downweighted",
    )


# ---------------------------------------------------------------------------
# AR(1) Yule-Walker fit + one-step forecast of daily revenue
# ---------------------------------------------------------------------------
@register(
    "ar1_forecast",
    doc="Yule-Walker AR(1) fit on daily purchase revenue with one-step forecast and in-sample RMSE",
    oracle="""
        WITH daily AS (
            SELECT CAST(ts AS DATE) AS day,
                   CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
            FROM events WHERE event_type = 'purchase' GROUP BY 1
        ),
        stats AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, SUM(cents) AS s FROM daily),
        dev AS (
            SELECT day, cents, CAST(CAST(n AS HUGEINT) * cents - s AS HUGEINT) AS dn
            FROM daily CROSS JOIN stats
        ),
        den AS (SELECT SUM(CAST(dn AS HUGEINT) * dn) AS d2 FROM dev),
        num AS (
            SELECT SUM(CAST(a.dn AS HUGEINT) * b.dn) AS d1,
                   CAST(COUNT(*) AS BIGINT) AS n_pairs
            FROM dev a JOIN dev b ON b.day = a.day - 1
        ),
        phi_mu AS (
            SELECT CAST(d1 AS DOUBLE) / CAST(d2 AS DOUBLE) AS phi,
                   CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS mu,
                   n, n_pairs
            FROM num CROSS JOIN den CROSS JOIN stats
        ),
        resid AS (
            SELECT CAST(SUM(CAST(round(
                       (CAST(a.cents AS DOUBLE) - p.mu
                        - p.phi * (CAST(b.cents AS DOUBLE) - p.mu))
                       * (CAST(a.cents AS DOUBLE) - p.mu
                          - p.phi * (CAST(b.cents AS DOUBLE) - p.mu)), 4)
                       AS DECIMAL(38,4))) AS DOUBLE) AS sse,
                   CAST(COUNT(*) AS BIGINT) AS n_resid
            FROM dev a JOIN dev b ON b.day = a.day - 1
            CROSS JOIN phi_mu p
        ),
        last_day AS (
            SELECT cents AS last_cents FROM daily
            ORDER BY day DESC LIMIT 1
        )
        SELECT p.n AS n_days, p.n_pairs,
               round(p.phi, 9) AS phi,
               round(p.mu / 100.0, 6) AS mu_value,
               round(CAST(l.last_cents AS DOUBLE) / 100.0, 6) AS last_value,
               round((p.mu + p.phi * (CAST(l.last_cents AS DOUBLE) - p.mu)) / 100.0, 6)
                   AS forecast_value,
               round(sqrt(r.sse / r.n_resid) / 100.0, 6) AS rmse_value
        FROM phi_mu p CROSS JOIN resid r CROSS JOIN last_day l
    """,
)
def ar1_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The forecasting twin of acf_daily_revenue (queries_featurestore):
    fit AR(1) by Yule-Walker — phi is the lag-1 autocorrelation over
    consecutive calendar days, computed with the exact-integer
    deviation trick (dn = n*x - S, so numerator and denominator are
    exact integer sums and the n^2 factors cancel) — then produce the
    one-step-ahead forecast mu + phi*(x_last - mu) and the in-sample
    one-step RMSE (per-pair squared residuals rounded and
    DECIMAL-accumulated). Every float comes from the same exact
    integers in both engines; the output rounds at 9/6.

    Plan: the only event-scale exchange is the daily rollup groupBy
    (map-side combined to |days|); everything after — scalar stats,
    the lag-1 self-join, residuals — operates on the ~365-row/year
    daily series and is broadcast-sized even at 100 TB.
    """
    ev = _t(spark, sf_dir, "events")
    daily = _daily_cents(ev)
    stats = daily.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"), F.sum("cents").alias("s")
    )
    dev = daily.crossJoin(F.broadcast(stats)).select(
        "day",
        "cents",
        "n",
        "s",
        # dn = n*cents - s stays exact at any magnitude: the product is
        # widened through decimal(38,0) / HUGEINT BEFORE subtracting —
        # at 100 TB daily cents (~1e15) times multi-year day counts the
        # bigint product would near int64 range (ADVICE r10).
        (F.col("n").cast("decimal(38,0)") * F.col("cents") - F.col("s"))
        .cast("decimal(38,0)")
        .alias("dn"),
    )
    big = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    den = dev.agg(F.sum(big("dn") * big("dn")).alias("d2"))
    a, b = dev.alias("a"), dev.alias("b")
    lag = a.join(b, F.col("b.day") == F.date_sub(F.col("a.day"), 1)).select(
        F.col("a.cents").alias("c_t"),
        F.col("b.cents").alias("c_lag"),
        F.col("a.dn").cast("decimal(38,0)").alias("dn_t"),
        F.col("b.dn").cast("decimal(38,0)").alias("dn_lag"),
    )
    num = lag.agg(
        F.sum(F.col("dn_t") * F.col("dn_lag")).alias("d1"),
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
    )
    phi_mu = (
        num.crossJoin(F.broadcast(den))
        .crossJoin(F.broadcast(stats))
        .select(
            (F.col("d1").cast("double") / F.col("d2").cast("double")).alias("phi"),
            (F.col("s").cast("double") / F.col("n").cast("double")).alias("mu"),
            "n",
            "n_pairs",
        )
    )
    res_expr = (
        F.col("c_t").cast("double")
        - F.col("mu")
        - F.col("phi") * (F.col("c_lag").cast("double") - F.col("mu"))
    )
    resid = (
        lag.crossJoin(F.broadcast(phi_mu.select("phi", "mu")))
        .agg(
            F.sum(F.round(res_expr * res_expr, 4).cast("decimal(38,4)"))
            .cast("double")
            .alias("sse"),
            F.count(F.lit(1)).cast("bigint").alias("n_resid"),
        )
    )
    last_day = daily.orderBy(F.desc("day")).limit(1).select(
        F.col("cents").alias("last_cents")
    )
    return (
        phi_mu.crossJoin(F.broadcast(resid))
        .crossJoin(F.broadcast(last_day))
        .select(
            F.col("n").alias("n_days"),
            "n_pairs",
            F.round(F.col("phi"), 9).alias("phi"),
            F.round(F.col("mu") / 100.0, 6).alias("mu_value"),
            F.round(F.col("last_cents").cast("double") / 100.0, 6).alias("last_value"),
            F.round(
                (
                    F.col("mu")
                    + F.col("phi") * (F.col("last_cents").cast("double") - F.col("mu"))
                )
                / 100.0,
                6,
            ).alias("forecast_value"),
            F.round(
                F.sqrt(F.col("sse") / F.col("n_resid")) / 100.0, 6
            ).alias("rmse_value"),
        )
    )


# ---------------------------------------------------------------------------
# Group-sequential A/B readout (O'Brien-Fleming bounds, 4 weekly looks)
# ---------------------------------------------------------------------------
# Two-sided alpha=0.05 O'Brien-Fleming z boundaries for 4 equally-spaced
# looks (Jennison & Turnbull table 2.3) — fixed literals by design.
_OF_BOUNDS = (4.049, 2.863, 2.337, 2.024)
_OF_CUTS = (7, 14, 21, 100000)  # cumulative day cutoffs; look 4 = everything


def _srq_sums_sql() -> str:
    cols = []
    for k, cut in enumerate(_OF_CUTS, start=1):
        for arm, cond in (("a", "in_a = 1"), ("b", "in_a = 0")):
            cols.append(
                f"CAST(COUNT(CASE WHEN day_off < {cut} AND {cond} THEN 1 END)"
                f" AS BIGINT) AS n{k}{arm}"
            )
            cols.append(
                f"CAST(COUNT(CASE WHEN day_off < {cut} AND {cond}"
                f" AND conv = 1 THEN 1 END) AS BIGINT) AS x{k}{arm}"
            )
    return ",\n                   ".join(cols)


def _srq_look_sql(k: int, bound: float) -> str:
    na, nb, xa, xb = f"n{k}a", f"n{k}b", f"x{k}a", f"x{k}b"
    p = f"(CAST({xa} + {xb} AS DOUBLE) / CAST({na} + {nb} AS DOUBLE))"
    # degenerate looks (an empty arm, or 0%/100% pooled conversion) have
    # no defined z: NULL in both engines instead of an ANSI 0/0 error
    # (found by the empty-corpus sweep; Spark ANSI raises even on
    # double/0, DuckDB returns inf — either way not a statistic)
    ok = (
        f"({na} > 0 AND {nb} > 0 AND ({xa} + {xb}) > 0"
        f" AND ({xa} + {xb}) < ({na} + {nb}))"
    )
    z = (
        f"(CASE WHEN {ok} THEN"
        f" (CAST({xa} AS DOUBLE) / CAST({na} AS DOUBLE)"
        f" - CAST({xb} AS DOUBLE) / CAST({nb} AS DOUBLE))"
        f" / sqrt({p} * (1.0 - {p})"
        f" * (1.0 / CAST({na} AS DOUBLE) + 1.0 / CAST({nb} AS DOUBLE)))"
        f" END)"
    )
    return f"""
        SELECT {k} AS look, {na} AS n_a, {nb} AS n_b, {xa} AS conv_a,
               {xb} AS conv_b, round({z}, 9) AS z,
               CAST({bound} AS DOUBLE) AS of_bound,
               COALESCE(abs({z}) > {bound}, FALSE) AS crossed
        FROM sums"""


@register(
    "sequential_test_readout",
    doc="group-sequential A/B readout: cumulative z at 4 weekly looks vs O'Brien-Fleming bounds",
    oracle=f"""
        WITH lo AS (SELECT MIN(CAST(ts AS DATE)) AS d0 FROM events),
        base AS (
            SELECT datediff('day', lo.d0, CAST(e.ts AS DATE)) AS day_off,
                   CASE WHEN (e.user_id * {_HA}) % {_M32} % 100 < 50
                        THEN 1 ELSE 0 END AS in_a,
                   CASE WHEN e.event_type = 'purchase' THEN 1 ELSE 0 END AS conv
            FROM events e CROSS JOIN lo
        ),
        sums AS (
            SELECT {_srq_sums_sql()}
            FROM base
        )
        {" UNION ALL ".join(_srq_look_sql(k, b) for k, b in enumerate(_OF_BOUNDS, start=1))}
        ORDER BY look
    """,
)
def sequential_test_readout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The peeking-safe way to read an experiment while it runs
    (Pocock/O'Brien-Fleming group-sequential testing): the cumulative
    two-proportion z statistic at four weekly looks, each compared to
    its O'Brien-Fleming boundary (strict early, near-nominal late), so
    a readout can stop early on an extreme effect without inflating
    false positives. Arms are the standard deterministic user hash;
    the metric is purchase conversion per event.

    The event log is scanned exactly ONCE: a (day, arm) pre-aggregate
    (map-side combined to ~2x|days| rows) carries per-cell event and
    conversion counts; the min date, the cumulative look memberships
    (an event in week 1 belongs to every look — the CASE ladder
    evaluates all four) and the 16 look/arm sums are then derived on
    that days-sized table. The two-scan alternative (min-date pass,
    then a conditional aggregate over raw events) measured 6.8x at the
    10x probe purely from the doubled I/O. z is one fixed IEEE chain
    per look over exact integers.
    """
    ev = _t(spark, sf_dir, "events")
    per_day = ev.groupBy(
        F.to_date("ts").alias("day"),
        F.when(_arm_a(F.col("user_id"), 50), 1).otherwise(0).alias("in_a"),
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.count(F.when(F.col("event_type") == "purchase", 1))
        .cast("bigint")
        .alias("x"),
    )
    lo = per_day.agg(F.min("day").alias("d0"))
    base = per_day.crossJoin(F.broadcast(lo)).select(
        F.datediff(F.col("day"), F.col("d0")).alias("day_off"),
        "in_a",
        "n",
        "x",
    )
    aggs = []
    for k, cut in enumerate(_OF_CUTS, start=1):
        for arm, cond in (("a", F.col("in_a") == 1), ("b", F.col("in_a") == 0)):
            within = (F.col("day_off") < cut) & cond
            aggs.append(
                F.coalesce(F.sum(F.when(within, F.col("n"))), F.lit(0))
                .cast("bigint")
                .alias(f"n{k}{arm}")
            )
            aggs.append(
                F.coalesce(F.sum(F.when(within, F.col("x"))), F.lit(0))
                .cast("bigint")
                .alias(f"x{k}{arm}")
            )
    sums = base.agg(*aggs)
    looks = []
    for k, bound in enumerate(_OF_BOUNDS, start=1):
        na = F.col(f"n{k}a").cast("double")
        nb = F.col(f"n{k}b").cast("double")
        xa = F.col(f"x{k}a").cast("double")
        xb = F.col(f"x{k}b").cast("double")
        p = (xa + xb) / (na + nb)
        ok = (
            (F.col(f"n{k}a") > 0)
            & (F.col(f"n{k}b") > 0)
            & (F.col(f"x{k}a") + F.col(f"x{k}b") > 0)
            & (
                F.col(f"x{k}a") + F.col(f"x{k}b")
                < F.col(f"n{k}a") + F.col(f"n{k}b")
            )
        )
        z = F.when(
            ok,
            (xa / na - xb / nb)
            / F.sqrt(p * (1.0 - p) * (1.0 / na + 1.0 / nb)),
        )
        looks.append(
            sums.select(
                F.lit(k).alias("look"),
                F.col(f"n{k}a").alias("n_a"),
                F.col(f"n{k}b").alias("n_b"),
                F.col(f"x{k}a").alias("conv_a"),
                F.col(f"x{k}b").alias("conv_b"),
                F.round(z, 9).alias("z"),
                F.lit(bound).cast("double").alias("of_bound"),
                # FALSE, not NULL, on a degenerate look: "no evidence"
                # never reads as "crossed the boundary"
                F.coalesce(F.abs(z) > bound, F.lit(False)).alias("crossed"),
            )
        )
    out = looks[0]
    for l in looks[1:]:
        out = out.unionByName(l)
    return out.orderBy("look")


# ---------------------------------------------------------------------------
# Stratified-adjustment ATT (propensity-stratification readout)
# ---------------------------------------------------------------------------
_PSM_STRATA = 4


def _psm_cut_fracs(k: int) -> list[float]:
    """Interior quantile fractions for k equal-frequency strata."""
    return [i / k for i in range(1, k)]


@register(
    "psm_stratified_att",
    doc="ATT of the hash-treatment on mean event value via activity-quartile stratification",
    oracle=f"""
        WITH per_user AS (
            SELECT user_id,
                   CAST(COUNT(*) AS BIGINT) AS trials,
                   CASE WHEN (user_id * {_HA}) % {_M32} % 100 < 50
                        THEN 1 ELSE 0 END AS treated,
                   CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
            FROM events GROUP BY user_id
        ),
        bounds AS (
            SELECT list_transform(
                       quantile_cont(trials, [{", ".join(str(f) for f in _psm_cut_fracs(_PSM_STRATA))}]),
                       b -> round(b, 4)) AS bs
            FROM per_user
        ),
        strat AS (
            SELECT per_user.*,
                   CAST(1 + len(list_filter(bs, b -> b < CAST(trials AS DOUBLE)))
                        AS INT) AS stratum,
                   CAST(cents AS DOUBLE) / CAST(trials AS DOUBLE) / 100.0 AS y
            FROM per_user CROSS JOIN bounds
        ),
        cells AS (
            SELECT stratum,
                   CAST(SUM(treated) AS BIGINT) AS n_treated,
                   CAST(COUNT(*) - SUM(treated) AS BIGINT) AS n_control,
                   CAST(SUM(CASE WHEN treated = 1
                            THEN CAST(round(y, 9) AS DECIMAL(27,9)) END)
                        AS DOUBLE) AS sy_t,
                   CAST(SUM(CASE WHEN treated = 0
                            THEN CAST(round(y, 9) AS DECIMAL(27,9)) END)
                        AS DOUBLE) AS sy_c
            FROM strat GROUP BY stratum
        ),
        diffs AS (
            SELECT stratum, n_treated, n_control,
                   CASE WHEN n_treated > 0 THEN sy_t / n_treated END AS mean_treated,
                   CASE WHEN n_control > 0 THEN sy_c / n_control END AS mean_control,
                   CASE WHEN n_treated > 0 AND n_control > 0
                        THEN sy_t / n_treated - sy_c / n_control END AS diff
            FROM cells
        ),
        att AS (
            SELECT CAST(SUM(CAST(round(diff * n_treated, 9) AS DECIMAL(27,9)))
                        AS DOUBLE)
                   / CAST(SUM(n_treated) AS DOUBLE) AS att
            FROM diffs WHERE diff IS NOT NULL
        )
        SELECT d.stratum, d.n_treated, d.n_control,
               round(d.mean_treated, 9) AS mean_treated,
               round(d.mean_control, 9) AS mean_control,
               round(d.diff, 9) AS diff,
               round(a.att, 9) AS att
        FROM diffs d CROSS JOIN att a
        ORDER BY d.stratum
    """,
)
def psm_stratified_att(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Propensity-stratification (Rosenbaum & Rubin 1984's subclass
    adjustment, the robust first readout before any matching): users
    are stratified into activity quartiles (the confounder proxy —
    heavy users differ from light ones), the treated-vs-control gap in
    mean event value is computed WITHIN each stratum, and the ATT is
    the treated-weighted average of the per-stratum gaps over strata
    that have both arms.

    Stratification is boundary-based, NOT a global NTILE (VERDICT r10
    item 2): the interior quantile boundaries of `trials` are computed
    once as a 1-row aggregate, rounded to 4dp so both engines cut at
    identical thresholds, broadcast back, and each user is assigned by
    counting boundaries strictly below their trials — a scan-side
    expression (the quantile_binning_migration pattern). No total-order
    sort anywhere, so the plan survives any user count; at 100 TB the
    exact percentile becomes a sketch and the assignment is unchanged.
    Heavy ties on small integer trials can make strata unequal (or
    empty, when adjacent boundaries coincide) — equal-frequency is
    approximate by design, the estimator is not.

    Plan: one per-user aggregate over the log (map-side combined), a
    1-row boundary broadcast, a <= {_PSM_STRATA}-row cell aggregate and
    a 1-row ATT broadcast. The log is scanned once; everything after is
    user-table-sized. Per-user means and per-cell sums follow the
    rounded-DECIMAL accumulation contract, so both engines agree
    bitwise including the NULL cells.
    """
    ev = _t(spark, sf_dir, "events")
    treated = F.when(_arm_a(F.col("user_id"), 50), 1).otherwise(0)
    per_user = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("trials"),
        F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("cents"),
    ).withColumn("treated", treated)
    cuts = ", ".join(str(f) for f in _psm_cut_fracs(_PSM_STRATA))
    bounds = per_user.agg(
        F.expr(
            f"transform(percentile(trials, array({cuts})), b -> round(b, 4))"
        ).alias("bs")
    )
    strat = per_user.crossJoin(F.broadcast(bounds)).select(
        per_user["*"],
        (
            1
            + F.size(
                F.filter(F.col("bs"), lambda b: b < F.col("trials").cast("double"))
            )
        )
        .cast("int")
        .alias("stratum"),
        (
            F.col("cents").cast("double") / F.col("trials").cast("double") / 100.0
        ).alias("y"),
    )
    y9 = F.round(F.col("y"), 9).cast("decimal(27,9)")
    cells = strat.groupBy("stratum").agg(
        F.sum("treated").cast("bigint").alias("n_treated"),
        (F.count(F.lit(1)) - F.sum("treated")).cast("bigint").alias("n_control"),
        F.sum(F.when(F.col("treated") == 1, y9)).cast("double").alias("sy_t"),
        F.sum(F.when(F.col("treated") == 0, y9)).cast("double").alias("sy_c"),
    )
    diffs = cells.select(
        "stratum",
        "n_treated",
        "n_control",
        F.when(F.col("n_treated") > 0, F.col("sy_t") / F.col("n_treated")).alias(
            "mean_treated"
        ),
        F.when(F.col("n_control") > 0, F.col("sy_c") / F.col("n_control")).alias(
            "mean_control"
        ),
        F.when(
            (F.col("n_treated") > 0) & (F.col("n_control") > 0),
            F.col("sy_t") / F.col("n_treated") - F.col("sy_c") / F.col("n_control"),
        ).alias("diff"),
    )
    att = diffs.filter(F.col("diff").isNotNull()).agg(
        (
            F.sum(
                F.round(F.col("diff") * F.col("n_treated"), 9).cast("decimal(27,9)")
            ).cast("double")
            / F.sum("n_treated").cast("double")
        ).alias("att")
    )
    return (
        diffs.crossJoin(F.broadcast(att))
        .select(
            "stratum",
            "n_treated",
            "n_control",
            F.round(F.col("mean_treated"), 9).alias("mean_treated"),
            F.round(F.col("mean_control"), 9).alias("mean_control"),
            F.round(F.col("diff"), 9).alias("diff"),
            F.round(F.col("att"), 9).alias("att"),
        )
        .orderBy("stratum")
    )


# ---------------------------------------------------------------------------
# UCB1 bandit allocation readout
# ---------------------------------------------------------------------------
_UCB_REWARD_SCALE = 40000.0  # cents; normalizes rewards into [0, 1)


@register(
    "ucb1_allocation",
    doc="UCB1 scores per event-type arm from the logged plays + the next-pull argmax",
    oracle=f"""
        WITH arms AS (
            SELECT event_type,
                   CAST(COUNT(*) AS BIGINT) AS n_plays,
                   CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
            FROM events GROUP BY event_type
        ),
        tot AS (SELECT CAST(SUM(n_plays) AS BIGINT) AS n FROM arms),
        scored AS (
            SELECT a.event_type, a.n_plays,
                   CAST(a.cents AS DOUBLE) / CAST(a.n_plays AS DOUBLE) / 100.0
                       AS mean_reward,
                   (CAST(a.cents AS DOUBLE) / CAST(a.n_plays AS DOUBLE))
                       / {_UCB_REWARD_SCALE}
                   + sqrt(2.0 * ln(CAST(t.n AS DOUBLE))
                          / CAST(a.n_plays AS DOUBLE)) AS ucb
            FROM arms a CROSS JOIN tot t
        )
        SELECT event_type, n_plays,
               round(mean_reward, 9) AS mean_reward,
               round(ucb, 9) AS ucb_score,
               event_type = (SELECT event_type FROM scored
                             ORDER BY ucb DESC, event_type ASC LIMIT 1)
                   AS next_pull
        FROM scored
        ORDER BY event_type
    """,
)
def ucb1_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UCB1 (Auer, Cesa-Bianchi & Fischer 2002) replayed over the
    logged plays: each event type is an arm, rewards are exact cents
    normalized into [0,1) by a fixed scale, and the score is
    mean + sqrt(2 ln N / n_a) — the arm a UCB1 allocator would pull
    next given this history (the exploration bonus can beat a higher
    empirical mean for an under-played arm). The argmax is computed on
    the unrounded double in both engines, so the flag survives the
    9-digit display rounding — and it is a UNIQUE argmax: ties on ucb
    break on event_type asc (limit-1 under a total order), so exactly
    one arm ever carries next_pull = true.

    Plan: one map-side-combined aggregate to |arms| rows, a 1-row total
    broadcast, and a |arms|-row max comparison — the log is scanned
    once at any scale.
    """
    ev = _t(spark, sf_dir, "events")
    arms = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_plays"),
        F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("cents"),
    )
    tot = arms.agg(F.sum("n_plays").cast("bigint").alias("n"))
    mean_cents = F.col("cents").cast("double") / F.col("n_plays").cast("double")
    ucb = mean_cents / _UCB_REWARD_SCALE + F.sqrt(
        2.0 * F.log(F.col("n").cast("double")) / F.col("n_plays").cast("double")
    )
    scored = arms.crossJoin(F.broadcast(tot)).select(
        "event_type",
        "n_plays",
        (mean_cents / 100.0).alias("mean_reward"),
        ucb.alias("ucb"),
    )
    # unique deterministic argmax: an exact float tie on ucb must not
    # flag two arms, so "next pull" is the FIRST arm under
    # (ucb desc, event_type asc) — a TakeOrdered limit-1, broadcast
    # back (ADVICE r10).
    best = (
        scored.orderBy(F.desc("ucb"), F.asc("event_type"))
        .limit(1)
        .select(F.col("event_type").alias("best_arm"))
    )
    return (
        scored.crossJoin(F.broadcast(best))
        .select(
            "event_type",
            "n_plays",
            F.round(F.col("mean_reward"), 9).alias("mean_reward"),
            F.round(F.col("ucb"), 9).alias("ucb_score"),
            (F.col("event_type") == F.col("best_arm")).alias("next_pull"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Forecast backtest: naive / seasonal-naive / expanding-mean, MAE + MASE
# ---------------------------------------------------------------------------
@register(
    "forecast_backtest_mase",
    doc="rolling-origin backtest of 3 baseline forecasters on daily revenue (MAE + MASE)",
    oracle="""
        WITH daily AS (
            SELECT CAST(ts AS DATE) AS day,
                   CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
            FROM events WHERE event_type = 'purchase' GROUP BY 1
        ),
        lagged AS (
            SELECT day, cents,
                   LAG(cents, 1) OVER w AS l1,
                   LAG(cents, 7) OVER w AS l7,
                   CAST(SUM(cents) OVER (ORDER BY day
                                         ROWS BETWEEN UNBOUNDED PRECEDING
                                         AND 1 PRECEDING) AS DOUBLE)
                   / CAST(COUNT(*) OVER (ORDER BY day
                                         ROWS BETWEEN UNBOUNDED PRECEDING
                                         AND 1 PRECEDING) AS DOUBLE) AS expmean
            FROM daily WINDOW w AS (ORDER BY day)
        ),
        eval_rows AS (SELECT * FROM lagged WHERE l7 IS NOT NULL),
        maes AS (
            SELECT method, n_eval, mae_cents FROM (
                SELECT 'naive' AS method, CAST(COUNT(*) AS BIGINT) AS n_eval,
                       CAST(SUM(CAST(abs(cents - l1) AS DECIMAL(27,0)))
                            AS DOUBLE) / COUNT(*) AS mae_cents
                FROM eval_rows
                UNION ALL
                SELECT 'seasonal_naive_7', CAST(COUNT(*) AS BIGINT),
                       CAST(SUM(CAST(abs(cents - l7) AS DECIMAL(27,0)))
                            AS DOUBLE) / COUNT(*)
                FROM eval_rows
                UNION ALL
                SELECT 'expanding_mean', CAST(COUNT(*) AS BIGINT),
                       CAST(SUM(CAST(round(abs(CAST(cents AS DOUBLE) - expmean), 6)
                                AS DECIMAL(27,6))) AS DOUBLE) / COUNT(*)
                FROM eval_rows
            )
        ),
        scale AS (
            SELECT CAST(SUM(CAST(abs(cents - l1) AS DECIMAL(27,0))) AS DOUBLE)
                   / COUNT(*) AS naive_mae
            FROM eval_rows
        )
        SELECT m.method, m.n_eval,
               round(m.mae_cents / 100.0, 6) AS mae_value,
               round(m.mae_cents / s.naive_mae, 9) AS mase
        FROM maes m CROSS JOIN scale s
        ORDER BY m.method
    """,
)
def forecast_backtest_mase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-origin forecast evaluation (Hyndman & Koehler 2006's
    MASE as the scale-free metric): three baseline forecasters — naive
    (yesterday), seasonal-naive (a week ago, row-based over the
    observed series), expanding mean (all history to date) — each
    one-step-ahead over every day with 7 days of history, scored by MAE
    and by MASE against the in-sample naive error (so naive's MASE is
    exactly 1.0 and anything below beats persistence). Absolute errors
    for the integer forecasters are exact integers; the expanding-mean
    error follows the rounded-DECIMAL contract.

    Plan: one daily-rollup exchange over the log, then three window
    functions and the MAE aggregates on the |days|-row series —
    broadcast-sized forever. A real horizon sweep would add a
    forecast-day dimension, not a bigger shuffle.
    """
    ev = _t(spark, sf_dir, "events")
    daily = _daily_cents(ev)
    w = W.orderBy("day")
    lagged = daily.select(
        "day",
        "cents",
        F.lag("cents", 1).over(w).alias("l1"),
        F.lag("cents", 7).over(w).alias("l7"),
        # exact integer prefix sum / count, ONE double division — a
        # window AVG would accumulate doubles in engine-specific order
        (
            F.sum("cents")
            .over(w.rowsBetween(W.unboundedPreceding, -1))
            .cast("double")
            / F.count(F.lit(1))
            .over(w.rowsBetween(W.unboundedPreceding, -1))
            .cast("double")
        ).alias("expmean"),
    )
    er = lagged.filter(F.col("l7").isNotNull())
    naive = er.agg(
        F.lit("naive").alias("method"),
        F.count(F.lit(1)).cast("bigint").alias("n_eval"),
        (
            F.sum(F.abs(F.col("cents") - F.col("l1")).cast("decimal(27,0)")).cast(
                "double"
            )
            / F.count(F.lit(1))
        ).alias("mae_cents"),
    )
    snaive = er.agg(
        F.lit("seasonal_naive_7").alias("method"),
        F.count(F.lit(1)).cast("bigint").alias("n_eval"),
        (
            F.sum(F.abs(F.col("cents") - F.col("l7")).cast("decimal(27,0)")).cast(
                "double"
            )
            / F.count(F.lit(1))
        ).alias("mae_cents"),
    )
    expm = er.agg(
        F.lit("expanding_mean").alias("method"),
        F.count(F.lit(1)).cast("bigint").alias("n_eval"),
        (
            F.sum(
                F.round(
                    F.abs(F.col("cents").cast("double") - F.col("expmean")), 6
                ).cast("decimal(27,6)")
            ).cast("double")
            / F.count(F.lit(1))
        ).alias("mae_cents"),
    )
    maes = naive.unionByName(snaive).unionByName(expm)
    # the MASE denominator IS the naive MAE — derive it from the same
    # frame so the definition lives in one place (the naive-MASE==1.0
    # invariant cannot drift apart)
    scale = naive.select(F.col("mae_cents").alias("naive_mae"))
    return (
        maes.crossJoin(F.broadcast(scale))
        .select(
            "method",
            "n_eval",
            F.round(F.col("mae_cents") / 100.0, 6).alias("mae_value"),
            F.round(F.col("mae_cents") / F.col("naive_mae"), 9).alias("mase"),
        )
        .orderBy("method")
    )


# ---------------------------------------------------------------------------
# Split-conformal prediction calibration (round 8)
# ---------------------------------------------------------------------------
# alpha = 0.1; splits by event_id hash (train <50 / cal <75 / test).
_CONF_H = 2654435761


@register(
    "conformal_calibration",
    doc="split-conformal prediction: q_hat from the calibration quantile, empirical test coverage per event_type",
    oracle=f"""
        WITH split AS (
            SELECT event_type, value,
                   CASE WHEN (event_id * {_CONF_H}) % {_M32} % 100 < 50 THEN 'train'
                        WHEN (event_id * {_CONF_H}) % {_M32} % 100 < 75 THEN 'cal'
                        ELSE 'test' END AS part
            FROM events WHERE value IS NOT NULL
        ),
        model AS (
            SELECT event_type,
                   CAST(COUNT(*) AS BIGINT) AS n_train,
                   CAST(SUM(CAST(value AS DECIMAL(27,6))) AS DOUBLE)
                       / COUNT(*) AS mu
            FROM split WHERE part = 'train' GROUP BY event_type
        ),
        cal AS (
            SELECT s.event_type, abs(s.value - m.mu) AS score
            FROM split s JOIN model m ON m.event_type = s.event_type
            WHERE s.part = 'cal'
        ),
        ranked AS (
            SELECT event_type, score,
                   row_number() OVER (PARTITION BY event_type
                                      ORDER BY score) AS rn,
                   COUNT(*) OVER (PARTITION BY event_type) AS n_cal
            FROM cal
        ),
        qhat AS (
            SELECT event_type, CAST(MIN(n_cal) AS BIGINT) AS n_cal,
                   MIN(CASE WHEN CAST(rn AS DOUBLE)
                                 >= ceil((n_cal + 1) * 0.9)
                            THEN score END) AS q_hat
            FROM ranked GROUP BY event_type
        ),
        test AS (
            SELECT s.event_type,
                   CAST(COUNT(*) AS BIGINT) AS n_test,
                   CAST(SUM(CASE WHEN q.q_hat IS NULL
                                      OR abs(s.value - m.mu) <= q.q_hat
                                 THEN 1 ELSE 0 END) AS BIGINT) AS n_covered
            FROM split s
            JOIN model m ON m.event_type = s.event_type
            JOIN qhat q ON q.event_type = s.event_type
            WHERE s.part = 'test'
            GROUP BY s.event_type
        )
        SELECT m.event_type, m.n_train, q.n_cal, t.n_test,
               q.q_hat,
               round(CAST(t.n_covered AS DOUBLE) / t.n_test, 9) AS coverage,
               0.9 AS target_coverage
        FROM model m
        JOIN qhat q ON q.event_type = m.event_type
        JOIN test t ON t.event_type = m.event_type
    """,
)
def conformal_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal prediction (Vovk et al.; Lei et al. 2018 JASA;
    the Angelopoulos-Bates 2021 recipe): fit on the train split (here
    the exact per-type mean — any point predictor works), take
    nonconformity scores |y - mu| on a DISJOINT calibration split,
    q_hat = the ceil((n_cal+1)(1-alpha))-th smallest calibration score,
    and the interval mu +/- q_hat then covers a fresh point with
    probability >= 1-alpha BY CONSTRUCTION, no distributional
    assumptions — the eval-tier primitive for honest model intervals
    over pipeline scores. Empirical coverage on the held-out test
    split is reported beside the 0.9 target (the finite-sample
    guarantee is checked as a property in tests/test_round8_ops.py).

    Exactness: hash splits are the repo's deterministic integer
    buckets; mu is the decimal-exact mean; scores are one IEEE
    subtraction on identical doubles; q_hat is an order statistic
    (value passthrough); coverage is an integer ratio.

    Scale: one train aggregate (map-side), one per-type rank window
    over the calibration shard, one test scan against the broadcast
    (event_type, mu, q_hat) table — no pairs, no corpus joins.
    """
    ev = _t(spark, sf_dir, "events").where(F.col("value").isNotNull())
    bucket = (
        (F.col("event_id").cast("decimal(38,0)") * _CONF_H) % _M32
    ).cast("bigint") % 100
    split = ev.select(
        "event_type",
        "value",
        F.when(bucket < 50, "train").when(bucket < 75, "cal").otherwise("test").alias("part"),
    )
    model = (
        split.filter(F.col("part") == "train")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_train"),
            (
                F.sum(F.col("value").cast("decimal(27,6)")).cast("double")
                / F.count(F.lit(1))
            ).alias("mu"),
        )
    )
    cal = (
        split.filter(F.col("part") == "cal")
        .join(F.broadcast(model.select("event_type", "mu")), "event_type")
        .select("event_type", F.abs(F.col("value") - F.col("mu")).alias("score"))
    )
    wp = W.partitionBy("event_type")
    ranked = cal.select(
        "event_type",
        "score",
        F.row_number().over(wp.orderBy("score")).alias("rn"),
        F.count(F.lit(1)).over(wp).alias("n_cal"),
    )
    qhat = ranked.groupBy("event_type").agg(
        F.min("n_cal").cast("bigint").alias("n_cal"),
        F.min(
            F.when(
                F.col("rn").cast("double")
                >= F.ceil((F.col("n_cal") + 1) * 0.9),
                F.col("score"),
            )
        ).alias("q_hat"),
    )
    test = (
        split.filter(F.col("part") == "test")
        .join(F.broadcast(model.select("event_type", "mu")), "event_type")
        .join(F.broadcast(qhat.select("event_type", "q_hat")), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_test"),
            F.sum(
                F.when(
                    F.col("q_hat").isNull()
                    | (F.abs(F.col("value") - F.col("mu")) <= F.col("q_hat")),
                    1,
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_covered"),
        )
    )
    return (
        model.join(qhat, "event_type")
        .join(test, "event_type")
        .select(
            "event_type",
            "n_train",
            "n_cal",
            "n_test",
            "q_hat",
            F.round(F.col("n_covered").cast("double") / F.col("n_test"), 9).alias(
                "coverage"
            ),
            F.lit(0.9).alias("target_coverage"),
        )
    )
