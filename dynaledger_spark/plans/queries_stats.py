"""Statistical / reconciliation operators (round-4 additions).

Beyond the reference's own aggregate inventory (SURVEY.md §2.4 is plain
COUNT/SUM/MAX), these are the descriptive-statistics and data-integrity
operators an analytics engine is expected to ship: correlation, higher
central moments, entropy, mode, weighted means, interpolated quantiles,
order-independent table checksums, bitmask aggregation, snapshot
reconciliation, and gaps-and-islands.

Float discipline (same contract as queries_pipeline): every aggregate
over doubles goes through exact DECIMAL moment sums (order-independent,
so Spark's partial/final combine order can never change the result),
closed forms are ONE fixed IEEE expression evaluated identically in both
engines, and a final 9-12 decimal rounding absorbs last-ulp divergence of
division/sqrt/ln. No UDFs; everything is a hash aggregate or a window —
the shapes that scale to 1000 executors.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from dynaledger_spark.functions.agg import dsum, osum
from dynaledger_spark.plans.registry import register


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    from dynaledger_spark.catalog import read_table

    return read_table(spark, sf_dir, name)


# ---------------------------------------------------------------------------
# Pearson correlation from exact decimal co-moments
# ---------------------------------------------------------------------------
@register(
    "corr_qty_price",
    doc="Pearson corr(quantity, extendedprice) per returnflag via exact decimal co-moments",
    oracle="""
        WITH m AS (
            SELECT l_returnflag, COUNT(*) AS n,
                   CAST(SUM(CAST(l_quantity AS DECIMAL(6,0))) AS DOUBLE) AS sx,
                   CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sy,
                   CAST(SUM(CAST(l_quantity AS DECIMAL(6,0))
                            * CAST(l_quantity AS DECIMAL(6,0))) AS DOUBLE) AS sxx,
                   CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                            * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS syy,
                   CAST(SUM(CAST(l_quantity AS DECIMAL(6,0))
                            * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sxy
            FROM lineitem GROUP BY l_returnflag
        )
        SELECT l_returnflag, n,
               round((n * sxy - sx * sy)
                     / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)), 12)
                   AS corr_qty_price
        FROM m
    """,
)
def corr_qty_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlation without `corr()`: the built-in streams doubles in
    partition order (non-portable last ulps), so the engine computes the
    five co-moments as exact DECIMALs — quantity is integral (≤50 →
    DECIMAL(6,0)), price has 2dp (DECIMAL(18,2)); every product stays
    inside DECIMAL(38) untruncated — and applies the closed form once in
    double. One hash aggregate with map-side partials; associative and
    skew-immune at any scale.
    """
    li = _t(spark, sf_dir, "lineitem")
    x = F.col("l_quantity").cast("decimal(6,0)")
    y = F.col("l_extendedprice").cast("decimal(18,2)")
    m = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).cast("double").alias("sx"),
        F.sum(y).cast("double").alias("sy"),
        F.sum(x * x).cast("double").alias("sxx"),
        F.sum(y * y).cast("double").alias("syy"),
        F.sum(x * y).cast("double").alias("sxy"),
    )
    return m.select(
        "l_returnflag",
        "n",
        F.round(
            F.expr(
                "(n * sxy - sx * sy)"
                " / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy))"
            ),
            12,
        ).alias("corr_qty_price"),
    )


# ---------------------------------------------------------------------------
# Skewness / kurtosis from exact integer power sums
# ---------------------------------------------------------------------------
@register(
    "skew_kurtosis_quantity",
    doc="population skewness + excess kurtosis of quantity per returnflag (exact power sums)",
    oracle="""
        WITH m AS (
            SELECT l_returnflag, COUNT(*) AS n,
                   CAST(SUM(CAST(l_quantity AS DECIMAL(6,0))) AS DOUBLE) AS s1,
                   CAST(SUM(CAST(l_quantity AS DECIMAL(6,0))
                            * CAST(l_quantity AS DECIMAL(6,0))) AS DOUBLE) AS s2,
                   CAST(SUM(CAST(l_quantity AS DECIMAL(6,0))
                            * CAST(l_quantity AS DECIMAL(6,0))
                            * CAST(l_quantity AS DECIMAL(6,0))) AS DOUBLE) AS s3,
                   CAST(SUM(CAST(l_quantity AS DECIMAL(6,0))
                            * CAST(l_quantity AS DECIMAL(6,0))
                            * CAST(l_quantity AS DECIMAL(6,0))
                            * CAST(l_quantity AS DECIMAL(6,0))) AS DOUBLE) AS s4
            FROM lineitem GROUP BY l_returnflag
        )
        SELECT l_returnflag, n,
               round(((s3 / n) - 3 * (s1 / n) * (s2 / n) + 2 * (s1 / n) * (s1 / n) * (s1 / n))
                     / pow((s2 / n) - (s1 / n) * (s1 / n), 1.5), 12) AS skewness,
               round(((s4 / n) - 4 * (s1 / n) * (s3 / n)
                      + 6 * (s1 / n) * (s1 / n) * (s2 / n)
                      - 3 * (s1 / n) * (s1 / n) * (s1 / n) * (s1 / n))
                     / (((s2 / n) - (s1 / n) * (s1 / n))
                        * ((s2 / n) - (s1 / n) * (s1 / n))) - 3, 12) AS excess_kurtosis
        FROM m
    """,
)
def skew_kurtosis_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3rd/4th standardized moments from exact integer power sums —
    quantity is integral so s1..s4 are exact DECIMAL(.,0) integers
    (q⁴ ≤ 6.25e6, no overflow, no scale drift). The central-moment
    expansion runs once in double, identically in both engines;
    pow(x, 1.5) appears in both (correctly-rounded for these magnitudes
    is not guaranteed, hence the 12-decimal rounding). Built-ins
    `skewness()`/`kurtosis()` stream doubles in partition order and are
    deliberately avoided for the oracle-exact path.
    """
    li = _t(spark, sf_dir, "lineitem")
    x = F.col("l_quantity").cast("decimal(6,0)")
    m = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).cast("double").alias("s1"),
        F.sum(x * x).cast("double").alias("s2"),
        F.sum(x * x * x).cast("double").alias("s3"),
        F.sum(x * x * x * x).cast("double").alias("s4"),
    )
    mu = "(s1 / n)"
    m2 = f"((s2 / n) - {mu} * {mu})"
    m3 = f"((s3 / n) - 3 * {mu} * (s2 / n) + 2 * {mu} * {mu} * {mu})"
    m4 = (
        f"((s4 / n) - 4 * {mu} * (s3 / n) + 6 * {mu} * {mu} * (s2 / n)"
        f" - 3 * {mu} * {mu} * {mu} * {mu})"
    )
    return m.select(
        "l_returnflag",
        "n",
        F.round(F.expr(f"{m3} / pow({m2}, 1.5)"), 12).alias("skewness"),
        F.round(F.expr(f"{m4} / ({m2} * {m2}) - 3"), 12).alias("excess_kurtosis"),
    )


# ---------------------------------------------------------------------------
# Shannon entropy with an order-forced fold
# ---------------------------------------------------------------------------
@register(
    "lang_entropy_by_source",
    doc="Shannon entropy (bits) of the language mix per document source",
    oracle="""
        WITH c AS (
            SELECT source, lang, COUNT(*) AS c FROM documents GROUP BY source, lang
        ),
        t AS (
            SELECT source, c,
                   CAST(SUM(c) OVER (PARTITION BY source) AS DOUBLE) AS n
            FROM c
        ),
        terms AS (
            SELECT source, n,
                   round(-(c / n) * ln(c / n) / ln(2.0), 12) AS term
            FROM t
        )
        SELECT source, CAST(n AS BIGINT) AS n_docs,
               round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                                              list_sort(list(term))),
                                 (a, b) -> a + b), 12) AS lang_entropy_bits
        FROM terms GROUP BY source, n
    """,
)
def lang_entropy_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-mixture diagnostics: how language-diverse each source is.
    Exact counts → per-category term −p·log₂p rounded to 12 decimals
    (ln() is ~1-ulp across libm implementations, the rounding pins it) →
    an ORDER-FORCED sorted fold for the sum, the same pattern proven by
    label_centroids. Two exchanges: (source, lang) counts combine
    map-side first (the corpus-sized reduction), then the ~|sources×langs|
    surviving rows re-cluster on source for the window + final fold.
    """
    docs = _t(spark, sf_dir, "documents")
    c = docs.groupBy("source", "lang").agg(F.count(F.lit(1)).alias("c"))
    t = c.withColumn(
        "n", F.sum("c").over(W.partitionBy("source")).cast("double")
    )
    terms = t.select(
        "source",
        "n",
        F.round(
            -(F.col("c") / F.col("n"))
            * F.log(F.col("c") / F.col("n"))
            / F.log(F.lit(2.0)),
            12,
        ).alias("term"),
    )
    return terms.groupBy("source", "n").agg(
        F.round(
            F.aggregate(
                F.array_sort(F.collect_list("term")),
                F.lit(0.0),
                lambda a, b: a + b,
            ),
            12,
        ).alias("lang_entropy_bits")
    ).select(
        "source", F.col("n").cast("bigint").alias("n_docs"), "lang_entropy_bits"
    )


# ---------------------------------------------------------------------------
# Mode (most frequent value) with deterministic tie-break
# ---------------------------------------------------------------------------
@register(
    "mode_priority_by_segment",
    doc="modal order priority per market segment (count desc, value asc tie-break)",
    oracle="""
        WITH c AS (
            SELECT c_mktsegment, o_orderpriority, COUNT(*) AS n_orders
            FROM orders JOIN customer ON o_custkey = c_custkey
            GROUP BY c_mktsegment, o_orderpriority
        )
        SELECT c_mktsegment, o_orderpriority AS modal_priority, n_orders
        FROM c
        QUALIFY row_number() OVER (PARTITION BY c_mktsegment
                                   ORDER BY n_orders DESC, o_orderpriority) = 1
    """,
)
def mode_priority_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mode as count + deterministic rank — `mode()` built-ins break ties
    arbitrarily, so the engine ranks (count DESC, value ASC) and keeps
    rank 1. The join broadcasts customer when small; the window
    partitions on the five-row segment key AFTER aggregation, so the
    sort input is |segments × priorities| (tiny at any corpus scale).
    """
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    c = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("c_mktsegment", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )
    w = W.partitionBy("c_mktsegment").orderBy(
        F.col("n_orders").desc(), F.col("o_orderpriority")
    )
    return (
        c.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "c_mktsegment",
            F.col("o_orderpriority").alias("modal_priority"),
            "n_orders",
        )
    )


# ---------------------------------------------------------------------------
# Weighted mean via exact decimal sums
# ---------------------------------------------------------------------------
@register(
    "weighted_avg_discount",
    doc="quantity-weighted average discount per returnflag (exact decimal sums)",
    oracle=f"""
        SELECT l_returnflag,
               {osum('l_discount * l_quantity', 'sum_wx')},
               {osum('l_quantity', 'sum_w')},
               round(CAST(SUM(CAST(l_discount * l_quantity AS DECIMAL(27,6))) AS DOUBLE)
                     / CAST(SUM(CAST(l_quantity AS DECIMAL(27,6))) AS DOUBLE), 12)
                   AS weighted_avg_discount
        FROM lineitem GROUP BY l_returnflag
    """,
)
def weighted_avg_discount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted mean = Σ(w·x)/Σw with both sums decimal-exact (discount
    2dp × integral quantity → products have ≤2dp, exactly representable
    at scale 6); the single division runs once in double, rounded 12.
    One hash aggregate.
    """
    li = _t(spark, sf_dir, "lineitem")
    wx = F.col("l_discount") * F.col("l_quantity")
    agg = li.groupBy("l_returnflag").agg(
        dsum(wx, "sum_wx"),
        dsum(F.col("l_quantity"), "sum_w"),
    )
    return agg.select(
        "l_returnflag",
        "sum_wx",
        "sum_w",
        F.round(F.col("sum_wx") / F.col("sum_w"), 12).alias("weighted_avg_discount"),
    )


# ---------------------------------------------------------------------------
# Interpolated (continuous) percentiles
# ---------------------------------------------------------------------------
@register(
    "percentile_cont_priceband",
    doc="interpolated p25/p50/p90 of order totalprice per priority",
    oracle="""
        SELECT o_orderpriority, COUNT(*) AS n,
               round(quantile_cont(o_totalprice, 0.25), 4) AS p25,
               round(quantile_cont(o_totalprice, 0.50), 4) AS p50,
               round(quantile_cont(o_totalprice, 0.90), 4) AS p90
        FROM orders GROUP BY o_orderpriority
    """,
)
def percentile_cont_priceband(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous (linearly interpolated) percentiles. Both engines
    define the quantile at rank p·(n−1) with linear interpolation
    between neighbors; the interpolation arithmetic can differ in the
    last ulp, and 2dp input data makes every true quantile
    ≤4dp, so round(…,4) pins it far above the ulp and below data
    granularity. Spark's exact `percentile` is a sort-based aggregate
    per group — at 100 TB swap in approx_percentile or t-digest sketches
    (see queries_approx) rather than widening this exact path.
    """
    orders = _t(spark, sf_dir, "orders")
    return orders.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.expr("percentile(o_totalprice, 0.25)"), 4).alias("p25"),
        F.round(F.expr("percentile(o_totalprice, 0.50)"), 4).alias("p50"),
        F.round(F.expr("percentile(o_totalprice, 0.90)"), 4).alias("p90"),
    )


# ---------------------------------------------------------------------------
# Order-independent table checksum (data-integrity op)
# ---------------------------------------------------------------------------
def _duck_hex_poly(hexpr: str, width: int) -> str:
    """DuckDB lacks conv(hex→int): expand the leading `width` hex chars
    of `hexpr` into an explicit base-16 polynomial (exact BIGINT)."""
    terms = [
        f"(strpos('0123456789abcdef', substr({hexpr}, {i + 1}, 1)) - 1)"
        f" * {16 ** (width - 1 - i)}"
        for i in range(width)
    ]
    return "(" + " + ".join(terms) + ")"


_ROW_STR_SPARK = (
    "concat_ws('|', o_orderkey, o_custkey, o_orderstatus,"
    " CAST(round(o_totalprice * 100) AS BIGINT),"
    " date_format(o_orderdate, 'yyyy-MM-dd HH:mm:ss.SSSSSS'), o_orderpriority)"
)
_ROW_STR_DUCK = (
    "concat_ws('|', o_orderkey, o_custkey, o_orderstatus,"
    " CAST(round(o_totalprice * 100) AS BIGINT),"
    " strftime(o_orderdate, '%Y-%m-%d %H:%M:%S.%f'), o_orderpriority)"
)


@register(
    "table_checksum_orders",
    doc="order-independent md5-sum table checksum per order status",
    oracle=f"""
        SELECT o_orderstatus, COUNT(*) AS n_rows,
               CAST(SUM({_duck_hex_poly(f'md5({_ROW_STR_DUCK})', 10)}) AS BIGINT)
                   AS checksum
        FROM orders GROUP BY o_orderstatus
    """,
)
def table_checksum_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-engine data-integrity fingerprint: canonicalize each row to
    an explicit string (doubles as exact cents, timestamps at fixed
    microsecond format — never engine-default stringification), md5 it,
    take the leading 40 bits as an integer, SUM per group. Addition is
    commutative → the checksum is independent of row order, partitioning
    and merge order, so two engines (or two snapshots of one table) can
    be compared without sorting anything. 40-bit terms keep the BIGINT
    sum overflow-free past 10^12 rows per group.
    """
    orders = _t(spark, sf_dir, "orders")
    h = F.expr(f"CAST(conv(substring(md5({_ROW_STR_SPARK}), 1, 10), 16, 10) AS BIGINT)")
    return orders.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(h).alias("checksum"),
    )


# ---------------------------------------------------------------------------
# Bitmask aggregation
# ---------------------------------------------------------------------------
_EVENT_BITS = {"click": 1, "error": 2, "purchase": 4, "signup": 8, "view": 16}


def _bit_case(col: str) -> str:
    whens = " ".join(
        f"WHEN '{k}' THEN {v}" for k, v in sorted(_EVENT_BITS.items())
    )
    return f"(CASE {col} {whens} ELSE 0 END)"


@register(
    "event_type_bitmask",
    doc="bit_or-aggregated event-type bitmask + popcount per user",
    oracle=f"""
        SELECT user_id,
               bit_or({_bit_case('event_type')}) AS type_mask,
               CAST(bit_count(bit_or({_bit_case('event_type')})) AS INT)
                   AS n_distinct_types
        FROM events GROUP BY user_id
    """,
)
def event_type_bitmask(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-of-small-domain compression: encode each event type as one bit
    and OR them per user — the idiomatic replacement for collect_set on a
    small fixed domain (constant-size state, associative, no array
    shuffle). Popcount recovers the distinct-type count for free.
    """
    ev = _t(spark, sf_dir, "events")
    code = F.expr(_bit_case("event_type"))
    return ev.groupBy("user_id").agg(
        F.bit_or(code).alias("type_mask"),
        F.bit_count(F.bit_or(code)).cast("int").alias("n_distinct_types"),
    )


# ---------------------------------------------------------------------------
# Snapshot reconciliation via full outer join
# ---------------------------------------------------------------------------
@register(
    "full_outer_reconcile_halves",
    doc="full-outer reconciliation of pre/post-1998H2 revenue per customer",
    oracle=f"""
        WITH h1 AS (
            SELECT o_custkey, {osum('o_totalprice', 'rev_h1')}
            FROM orders WHERE o_orderdate < TIMESTAMP '1998-07-01'
            GROUP BY o_custkey
        ),
        h2 AS (
            SELECT o_custkey, {osum('o_totalprice', 'rev_h2')}
            FROM orders WHERE o_orderdate >= TIMESTAMP '1998-07-01'
            GROUP BY o_custkey
        )
        SELECT COALESCE(h1.o_custkey, h2.o_custkey) AS custkey,
               CASE WHEN h1.o_custkey IS NULL THEN 'h2_only'
                    WHEN h2.o_custkey IS NULL THEN 'h1_only'
                    ELSE 'both' END AS presence,
               COALESCE(rev_h1, 0.0) AS rev_h1,
               COALESCE(rev_h2, 0.0) AS rev_h2,
               round(COALESCE(rev_h2, 0.0) - COALESCE(rev_h1, 0.0), 6) AS delta
        FROM h1 FULL OUTER JOIN h2 ON h1.o_custkey = h2.o_custkey
    """,
)
def full_outer_reconcile_halves(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The snapshot-diff operator every warehouse migration needs:
    aggregate the same measure in two partitions of the data, FULL OUTER
    join on the key, classify presence, and emit the delta. Both sides'
    sums are decimal-exact, so the delta subtraction is bit-deterministic.
    One shuffle per side on the same key → the join itself co-locates.
    """
    orders = _t(spark, sf_dir, "orders")
    pivot = F.lit("1998-07-01").cast("timestamp")
    h1 = (
        orders.filter(F.col("o_orderdate") < pivot)
        .groupBy("o_custkey")
        .agg(dsum(F.col("o_totalprice"), "rev_h1"))
    )
    h2 = (
        orders.filter(F.col("o_orderdate") >= pivot)
        .groupBy("o_custkey")
        .agg(dsum(F.col("o_totalprice"), "rev_h2"))
    )
    j = h1.alias("h1").join(
        h2.alias("h2"), F.col("h1.o_custkey") == F.col("h2.o_custkey"), "full_outer"
    )
    return j.select(
        F.coalesce(F.col("h1.o_custkey"), F.col("h2.o_custkey")).alias("custkey"),
        F.when(F.col("h1.o_custkey").isNull(), F.lit("h2_only"))
        .when(F.col("h2.o_custkey").isNull(), F.lit("h1_only"))
        .otherwise(F.lit("both"))
        .alias("presence"),
        F.coalesce(F.col("rev_h1"), F.lit(0.0)).alias("rev_h1"),
        F.coalesce(F.col("rev_h2"), F.lit(0.0)).alias("rev_h2"),
        F.round(
            F.coalesce(F.col("rev_h2"), F.lit(0.0))
            - F.coalesce(F.col("rev_h1"), F.lit(0.0)),
            6,
        ).alias("delta"),
    )


# ---------------------------------------------------------------------------
# Gaps and islands
# ---------------------------------------------------------------------------
@register(
    "islands_user_activity",
    doc="consecutive-day activity islands per user (rank-difference grouping)",
    oracle="""
        WITH days AS (
            SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
        ),
        anchored AS (
            SELECT user_id, d,
                   d - CAST(row_number() OVER (PARTITION BY user_id ORDER BY d)
                            AS INTEGER) AS anchor
            FROM days
        )
        SELECT user_id, CAST(MIN(d) AS VARCHAR) AS island_start,
               CAST(MAX(d) AS VARCHAR) AS island_end,
               COUNT(*) AS n_days
        FROM anchored GROUP BY user_id, anchor
    """,
)
def islands_user_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands by the rank-difference trick: consecutive dates
    share (date − row_number) so a groupBy on that anchor recovers each
    maximal run — no self-join, no iteration. Two exchanges, both the
    right ones: the distinct hashes on (user, day) AFTER map-side
    partial dedup (the big reduction), then the window re-clusters the
    reduced day-level rows on user_id and the final groupBy reuses that
    clustering. Pre-partitioning the raw events by user would make it
    one exchange but ship the full event stream — strictly worse.
    """
    ev = _t(spark, sf_dir, "events")
    days = ev.select("user_id", F.to_date("ts").alias("d")).distinct()
    w = W.partitionBy("user_id").orderBy("d")
    anchored = days.withColumn(
        "anchor", F.date_sub(F.col("d"), F.row_number().over(w).cast("int"))
    )
    return anchored.groupBy("user_id", "anchor").agg(
        F.min("d").cast("string").alias("island_start"),
        F.max("d").cast("string").alias("island_end"),
        F.count(F.lit(1)).alias("n_days"),
    ).drop("anchor")


# ---------------------------------------------------------------------------
# Chi-square independence + Cramér's V (round-4)
# ---------------------------------------------------------------------------
@register(
    "chi_square_segment_priority",
    doc="chi-square independence of (mktsegment × orderpriority) + Cramér's V",
    oracle="""
        WITH cells AS (
            SELECT c_mktsegment AS seg, o_orderpriority AS pri, COUNT(*) AS obs
            FROM orders JOIN customer ON o_custkey = c_custkey
            GROUP BY seg, pri
        ),
        tot AS (
            SELECT seg, pri, obs,
                   SUM(obs) OVER (PARTITION BY seg) AS row_t,
                   SUM(obs) OVER (PARTITION BY pri) AS col_t,
                   SUM(obs) OVER () AS n
            FROM cells
        ),
        terms AS (
            SELECT n,
                   round(CAST((obs - CAST(row_t AS DOUBLE) * col_t / n) AS DOUBLE)
                         * (obs - CAST(row_t AS DOUBLE) * col_t / n)
                         / (CAST(row_t AS DOUBLE) * col_t / n), 9) AS term
            FROM tot
        )
        SELECT CAST(n AS BIGINT) AS n_orders,
               round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                                              list_sort(list(term))),
                                 (a, b) -> a + b), 9) AS chi_square,
               round(sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                                                   list_sort(list(term))),
                                      (a, b) -> a + b) / (n * 4)), 9) AS cramers_v
        FROM terms GROUP BY n
    """,
)
def chi_square_segment_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Categorical-association testing: χ² = Σ (obs−exp)²/exp over the
    5×5 contingency of market segment × order priority, plus Cramér's
    V = sqrt(χ²/(n·(min(r,c)−1))). Expected counts derive from exact
    integer marginals (window sums over the aggregated cells — 25 rows,
    so the windows are free); each cell term is one fixed double
    expression rounded to 9dp, then summed with the order-forced sorted
    fold. The only corpus-sized work is the first count aggregate.
    """
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    cells = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy(
            F.col("c_mktsegment").alias("seg"),
            F.col("o_orderpriority").alias("pri"),
        )
        .agg(F.count(F.lit(1)).alias("obs"))
    )
    tot = cells.select(
        "seg",
        "pri",
        "obs",
        F.sum("obs").over(W.partitionBy("seg")).alias("row_t"),
        F.sum("obs").over(W.partitionBy("pri")).alias("col_t"),
        F.sum("obs").over(W.partitionBy()).alias("n"),
    )
    exp = F.col("row_t").cast("double") * F.col("col_t") / F.col("n")
    terms = tot.select(
        "n",
        F.round((F.col("obs") - exp) * (F.col("obs") - exp) / exp, 9).alias(
            "term"
        ),
    )
    chi = F.aggregate(
        F.array_sort(F.collect_list("term")), F.lit(0.0), lambda a, b: a + b
    )
    return terms.groupBy("n").agg(
        F.round(chi, 9).alias("chi_square"),
        F.round(F.sqrt(chi / (F.col("n") * 4)), 9).alias("cramers_v"),
    ).select(
        F.col("n").cast("bigint").alias("n_orders"), "chi_square", "cramers_v"
    )


# ---------------------------------------------------------------------------
# Cohort retention matrix (round-4)
# ---------------------------------------------------------------------------
@register(
    "cohort_retention_matrix",
    doc="monthly signup-cohort retention: distinct active users per (cohort, offset)",
    oracle="""
        WITH firsts AS (
            SELECT user_id, date_trunc('month', MIN(ts)) AS cohort_month
            FROM events GROUP BY user_id
        ),
        activity AS (
            SELECT DISTINCT e.user_id, f.cohort_month,
                   date_trunc('month', e.ts) AS active_month
            FROM events e JOIN firsts f USING (user_id)
        )
        SELECT cohort_month,
               CAST(datediff('month', cohort_month, active_month) AS INT)
                   AS month_offset,
               COUNT(*) AS n_active_users
        FROM activity
        GROUP BY cohort_month, month_offset
    """,
)
def cohort_retention_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The product-analytics staple: bucket each user by first-activity
    month, then count distinct users active at each month offset. Three
    aggregations, all hashing on user_id or the small (cohort, month)
    key; the cohort table joins back broadcast-sized (|users| rows of
    two columns). Calendar-month offsets use datediff-by-month in both
    engines (timestamps are UTC-pinned by catalog.read_table).
    """
    ev = _t(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.date_trunc("month", F.min("ts")).alias("cohort_month")
    )
    activity = (
        ev.join(firsts, "user_id")
        .select(
            "user_id",
            "cohort_month",
            F.date_trunc("month", F.col("ts")).alias("active_month"),
        )
        .distinct()
    )
    return activity.groupBy(
        "cohort_month",
        F.months_between(F.col("active_month"), F.col("cohort_month"))
        .cast("int")
        .alias("month_offset"),
    ).agg(F.count(F.lit(1)).alias("n_active_users"))


# ---------------------------------------------------------------------------
# Smoothed target encoding (round-4)
# ---------------------------------------------------------------------------
@register(
    "target_encode_priority",
    doc="Bayesian-smoothed target encoding of order priority by totalprice (m=50)",
    oracle="""
        WITH g AS (
            SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(27,6))) AS DOUBLE) AS gs,
                   COUNT(*) AS gn
            FROM orders
        ),
        c AS (
            SELECT o_orderpriority,
                   CAST(SUM(CAST(o_totalprice AS DECIMAL(27,6))) AS DOUBLE) AS cs,
                   COUNT(*) AS cn
            FROM orders GROUP BY o_orderpriority
        )
        SELECT o_orderpriority, cn AS n_orders,
               round((cs + 50 * (gs / gn)) / (cn + 50), 4) AS encoded_value
        FROM c, g
    """,
)
def target_encode_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The classic ML feature transform: replace a category with the
    smoothed mean of the target, enc = (Σy_cat + m·prior)/(n_cat + m),
    prior = global mean, m = 50. Category and global sums are both
    decimal-exact; the blend is one fixed double expression rounded to
    4dp (the encoding is ~10⁵, so deeper rounding would chase digits a
    double does not carry). The global prior joins in as a 1-row
    broadcast — same accepted pattern as tfidf's corpus count. Smoothing
    keeps rare categories near the prior — the leakage-resistant form
    used for high-cardinality features at scale.
    """
    orders = _t(spark, sf_dir, "orders")
    y = F.col("o_totalprice").cast("decimal(27,6)")
    g = orders.agg(
        F.sum(y).cast("double").alias("gs"), F.count(F.lit(1)).alias("gn")
    )
    c = orders.groupBy("o_orderpriority").agg(
        F.sum(y).cast("double").alias("cs"), F.count(F.lit(1)).alias("cn")
    )
    return c.crossJoin(F.broadcast(g)).select(
        "o_orderpriority",
        F.col("cn").alias("n_orders"),
        F.round(
            (F.col("cs") + 50 * (F.col("gs") / F.col("gn")))
            / (F.col("cn") + 50),
            4,
        ).alias("encoded_value"),
    )


# ---------------------------------------------------------------------------
# Blocked entity resolution via edit distance (round-4)
# ---------------------------------------------------------------------------
@register(
    "entity_resolution_blocked",
    doc="blocked fuzzy matching: part-name pairs within a block at levenshtein <= 4",
    oracle="""
        WITH names AS (
            SELECT p_name, MIN(p_partkey) AS canon_key,
                   string_split(p_name, ' ')[2] AS block_key
            FROM part GROUP BY p_name
        )
        SELECT a.p_name AS name_a, b.p_name AS name_b,
               a.canon_key AS key_a, b.canon_key AS key_b,
               CAST(levenshtein(a.p_name, b.p_name) AS INT) AS edit_distance,
               round(1.0 - levenshtein(a.p_name, b.p_name)
                     / CAST(greatest(length(a.p_name), length(b.p_name)) AS DOUBLE),
                     12) AS name_similarity
        FROM names a JOIN names b
          ON a.block_key = b.block_key AND a.p_name < b.p_name
        WHERE levenshtein(a.p_name, b.p_name) <= 4
    """,
)
def entity_resolution_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution with BLOCKING — the shape that makes fuzzy
    matching survive scale: candidate pairs come from an equi-join on a
    cheap block key (here the name's noun; in production a phonetic code
    or sorted-neighborhood key), so the quadratic edit-distance verify
    runs only inside blocks, never across the corpus. Dedup to distinct
    names first (min key as canonical id), then levenshtein ≤ 4 within
    the block — integer metric, identical in both engines; similarity
    normalizes by the longer name. Hot blocks get the same cap treatment
    as LSH buckets (not needed at this vocabulary).
    """
    part = _t(spark, sf_dir, "part")
    names = part.groupBy("p_name").agg(F.min("p_partkey").alias("canon_key"))
    names = names.withColumn(
        "block_key", F.split(F.col("p_name"), " ").getItem(1)
    )
    a, b = names.alias("a"), names.alias("b")
    dist = F.levenshtein(F.col("a.p_name"), F.col("b.p_name"))
    return (
        a.join(
            b,
            (F.col("a.block_key") == F.col("b.block_key"))
            & (F.col("a.p_name") < F.col("b.p_name")),
        )
        .filter(dist <= 4)
        .select(
            F.col("a.p_name").alias("name_a"),
            F.col("b.p_name").alias("name_b"),
            F.col("a.canon_key").alias("key_a"),
            F.col("b.canon_key").alias("key_b"),
            dist.cast("int").alias("edit_distance"),
            F.round(
                1.0
                - dist
                / F.greatest(
                    F.length("a.p_name"), F.length("b.p_name")
                ).cast("double"),
                12,
            ).alias("name_similarity"),
        )
    )


# ---------------------------------------------------------------------------
# Quantile binning + decile migration (round-4)
# ---------------------------------------------------------------------------
def _decile_cte(pred: str, alias: str) -> str:
    return f"""
        {alias}_rev AS (
            SELECT o_custkey,
                   CAST(SUM(CAST(o_totalprice AS DECIMAL(27,6))) AS DOUBLE) AS rev
            FROM orders WHERE {pred} GROUP BY o_custkey
        ),
        {alias}_bounds AS (
            SELECT list_transform(
                       quantile_cont(rev, [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]),
                       b -> round(b, 4)) AS bs
            FROM {alias}_rev
        ),
        {alias}_dec AS (
            SELECT o_custkey,
                   1 + len(list_filter(bs, b -> b < rev)) AS decile
            FROM {alias}_rev, {alias}_bounds
        )"""


@register(
    "quantile_binning_migration",
    doc="revenue decile migration matrix between the two order-date halves",
    oracle=f"""
        WITH {_decile_cte("o_orderdate < TIMESTAMP '1998-07-01'", "h1")},
        {_decile_cte("o_orderdate >= TIMESTAMP '1998-07-01'", "h2")}
        SELECT COALESCE(h1_dec.decile, 0) AS decile_h1,
               COALESCE(h2_dec.decile, 0) AS decile_h2,
               COUNT(*) AS n_customers
        FROM h1_dec FULL OUTER JOIN h2_dec USING (o_custkey)
        GROUP BY decile_h1, decile_h2
    """,
)
def quantile_binning_migration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-frequency binning WITHOUT a global ntile sort: per half,
    compute the 9 interior decile boundaries once (a 1-row aggregate,
    broadcast back) and assign each customer by counting boundaries
    below their revenue — a scan-side expression, so binning scales as a
    map pass instead of a corpus-wide sort (at 100 TB the exact
    quantiles become sketches; assignment is unchanged). Boundaries are
    rounded to 4dp BEFORE assignment so both engines bin against
    identical cutoffs; decile 0 = absent that half. The migration matrix
    is the full-outer join of the two assignments — ≤ 11×11 output rows.
    """
    orders = _t(spark, sf_dir, "orders")
    pivot = F.lit("1998-07-01").cast("timestamp")

    def deciles(pred):
        rev = (
            orders.filter(pred)
            .groupBy("o_custkey")
            .agg(
                F.sum(F.col("o_totalprice").cast("decimal(27,6)"))
                .cast("double")
                .alias("rev")
            )
        )
        bounds = rev.agg(
            F.expr(
                "transform(percentile(rev,"
                " array(0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9)),"
                " b -> round(b, 4))"
            ).alias("bs")
        )
        return rev.crossJoin(F.broadcast(bounds)).select(
            "o_custkey",
            (
                1
                + F.size(F.filter(F.col("bs"), lambda b: b < F.col("rev")))
            ).alias("decile"),
        )

    h1 = deciles(F.col("o_orderdate") < pivot).alias("h1")
    h2 = deciles(F.col("o_orderdate") >= pivot).alias("h2")
    j = h1.join(h2, F.col("h1.o_custkey") == F.col("h2.o_custkey"), "full_outer")
    return j.select(
        F.coalesce(F.col("h1.decile"), F.lit(0)).alias("decile_h1"),
        F.coalesce(F.col("h2.decile"), F.lit(0)).alias("decile_h2"),
    ).groupBy("decile_h1", "decile_h2").agg(
        F.count(F.lit(1)).alias("n_customers")
    )


# ---------------------------------------------------------------------------
# Z-order (Morton) layout statistics (round-4)
# ---------------------------------------------------------------------------
def _morton_terms(x: str, y: str, bits: int = 8):
    spark_t, duck_t = [], []
    for i in range(bits):
        spark_t.append(f"(shiftleft(shiftright({x}, {i}) & 1, {2 * i}))")
        spark_t.append(f"(shiftleft(shiftright({y}, {i}) & 1, {2 * i + 1}))")
        duck_t.append(f"((({x} >> {i}) & 1) << {2 * i})")
        duck_t.append(f"((({y} >> {i}) & 1) << {2 * i + 1})")
    return " + ".join(spark_t), " + ".join(duck_t)


_MORTON_SPARK, _MORTON_DUCK = _morton_terms("xk", "yk")


@register(
    "zorder_bucket_stats",
    doc="Morton (Z-order) interleave of (partkey, suppkey) → per-bucket locality stats",
    oracle=f"""
        WITH keyed AS (
            SELECT l_partkey % 256 AS xk, l_suppkey % 256 AS yk FROM lineitem
        ),
        coded AS (
            SELECT xk, yk, ({_MORTON_DUCK}) AS z FROM keyed
        )
        SELECT CAST(z >> 8 AS INT) AS z_bucket,
               COUNT(*) AS n_rows,
               CAST(MIN(xk) AS INT) AS x_min, CAST(MAX(xk) AS INT) AS x_max,
               CAST(MIN(yk) AS INT) AS y_min, CAST(MAX(yk) AS INT) AS y_max
        FROM coded GROUP BY z_bucket
    """,
)
def zorder_bucket_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-dimensional data layout: interleave the bits of two keys
    into a Morton code and bucket by its high byte — every bucket then
    spans ≤ 1/16 of BOTH key ranges simultaneously (x_max−x_min and
    y_max−y_min ≤ 15, asserted in tests), which is what makes Z-order
    sorted files prunable on either predicate. Pure integer bit
    expressions in both engines; one hash aggregate. A range-sorted
    rewrite optimizes one dimension; this is the layout you switch to
    when two filter columns matter.
    """
    li = _t(spark, sf_dir, "lineitem")
    keyed = li.select(
        (F.col("l_partkey") % 256).alias("xk"),
        (F.col("l_suppkey") % 256).alias("yk"),
    )
    coded = keyed.withColumn("z", F.expr(_MORTON_SPARK))
    return coded.groupBy(
        F.shiftright(F.col("z"), 8).cast("int").alias("z_bucket")
    ).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("xk").cast("int").alias("x_min"),
        F.max("xk").cast("int").alias("x_max"),
        F.min("yk").cast("int").alias("y_min"),
        F.max("yk").cast("int").alias("y_max"),
    )


# ---------------------------------------------------------------------------
# Column profiling (round-4): the DESCRIBE-EXTENDED / dbt-profiler analog
# ---------------------------------------------------------------------------
_PROFILE_COLS = (
    ("l_orderkey", "num"),
    ("l_partkey", "num"),
    ("l_suppkey", "num"),
    ("l_quantity", "num"),
    ("l_extendedprice", "num"),
    ("l_discount", "num"),
    ("l_returnflag", "str"),
    ("l_linestatus", "str"),
)


def _profile_duck() -> str:
    parts = []
    for c, kind in _PROFILE_COLS:
        if kind == "num":
            mn = f"CAST(MIN({c}) AS VARCHAR)"
            mx = f"CAST(MAX({c}) AS VARCHAR)"
        else:
            mn, mx = f"MIN({c})", f"MAX({c})"
        parts.append(f"""
        SELECT '{c}' AS column_name,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(COUNT(*) FILTER ({c} IS NULL) AS BIGINT) AS n_null,
               CAST(COUNT(DISTINCT {c}) AS BIGINT) AS n_distinct,
               {mn} AS min_value,
               {mx} AS max_value
        FROM lineitem""")
    return " UNION ALL ".join(parts)


@register(
    "profile_lineitem_columns",
    doc="per-column profile: rows, nulls, exact distinct, min/max (as strings)",
    oracle=_profile_duck(),
)
def profile_lineitem_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data profiling as a first-class operator (what DESCRIBE EXTENDED
    column stats / dbt-profiler produce): one output row per column with
    row/null/exact-distinct counts and min/max stringified for a uniform
    schema. Spark computes the non-distinct stats for ALL columns in one
    expand-free aggregate and the exact distincts via a melted
    (column, value) double-aggregate — the multi-countDistinct
    single-agg formulation Expands the scan 9x and measured 5x slower;
    the oracle takes the naive per-column UNION (8 scans) and must
    agree, which pins both rewrites as semantics-preserving. At 100 TB
    exact distincts become approx_count_distinct (one expand-free
    aggregate total, documented error). Min/max
    stringify with plain casts — both engines print doubles in
    shortest-repr form, which the comparator already relies on.
    """
    li = _t(spark, sf_dir, "lineitem")
    # Non-distinct stats in ONE expand-free aggregate (a single wide row):
    # putting countDistinct here too would make Catalyst Expand the scan
    # N_distinct_aggs+1 times (9x the data through the shuffle — measured
    # 14-16 s at sf0.1 vs ~2.7 s for this split formulation).
    aggs = []
    for c, kind in _PROFILE_COLS:
        aggs += [
            F.count(F.lit(1)).alias(f"{c}__n"),
            # COALESCE: SUM over an empty table is NULL in Spark while
            # the oracle's COUNT(*) FILTER is 0 — same count on any
            # non-empty input
            F.coalesce(F.sum(F.col(c).isNull().cast("bigint")), F.lit(0))
            .cast("bigint")
            .alias(f"{c}__null"),
            F.min(c).cast("string").alias(f"{c}__min"),
            F.max(c).cast("string").alias(f"{c}__max"),
        ]
    wide = li.agg(*aggs)
    # Exact distincts via melt: (column_name, value) pairs — one explode,
    # two narrow hash aggregates with map-side combine. Distinct-on-string
    # equals distinct-on-typed because every cast here is injective
    # (bigint, shortest-repr double, identity string); NULLs are filtered
    # to match COUNT(DISTINCT c) semantics in both engines.
    melt = (
        li.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(c).alias("column_name"),
                            F.col(c).cast("string").alias("v"),
                        )
                        for c, _ in _PROFILE_COLS
                    ]
                )
            ).alias("r")
        )
        .select("r.*")
        .filter(F.col("v").isNotNull())
    )
    dist = (
        melt.groupBy("column_name", "v")
        .agg(F.lit(1))
        .groupBy("column_name")
        .agg(F.count(F.lit(1)).alias("n_distinct"))
    )
    rows = F.array(
        *[
            F.struct(
                F.lit(c).alias("column_name"),
                F.col(f"{c}__n").alias("n_rows"),
                F.col(f"{c}__null").alias("n_null"),
                F.col(f"{c}__min").alias("min_value"),
                F.col(f"{c}__max").alias("max_value"),
            )
            for c, _ in _PROFILE_COLS
        ]
    )
    base = wide.select(F.explode(rows).alias("r")).select("r.*")
    return base.join(F.broadcast(dist), "column_name", "left").select(
        "column_name",
        "n_rows",
        "n_null",
        F.coalesce("n_distinct", F.lit(0)).cast("bigint").alias("n_distinct"),
        "min_value",
        "max_value",
    )


# ---------------------------------------------------------------------------
# OLAP / BI staples (round-4, batch 2)
# ---------------------------------------------------------------------------
@register(
    "time_rollup_revenue",
    doc="ROLLUP over the time hierarchy (year → quarter → month), exact sums",
    oracle=f"""
        SELECT CAST(year(o_orderdate) AS INT) AS yr,
               CAST(quarter(o_orderdate) AS INT) AS qtr,
               CAST(month(o_orderdate) AS INT) AS mon,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               {osum('o_totalprice', 'revenue')}
        FROM orders
        GROUP BY ROLLUP(year(o_orderdate), quarter(o_orderdate), month(o_orderdate))
    """,
)
def time_rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The OLAP drill-down cube along the calendar hierarchy: one ROLLUP
    pass emits month, quarter, year, and grand-total rows together —
    Spark's Expand operator replicates each row once per grouping set
    BEFORE the single hash aggregate, so subtotals cost one shuffle,
    not four scans (the same property pinned for sales_rollup). Exact
    decimal sums keep every subtotal bit-identical to the oracle.
    """
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.select(
            F.year("o_orderdate").cast("int").alias("yr"),
            F.quarter("o_orderdate").cast("int").alias("qtr"),
            F.month("o_orderdate").cast("int").alias("mon"),
            "o_totalprice",
        )
        .rollup("yr", "qtr", "mon")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum(F.col("o_totalprice"), "revenue"),
        )
    )


@register(
    "sliding_7d_active_users",
    doc="7-day sliding distinct active users per day (explode-to-window, no window-distinct)",
    oracle="""
        WITH user_days AS (
            SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
        ),
        contrib AS (
            SELECT user_id, d + CAST(u.i AS INTEGER) AS target_day
            FROM user_days, unnest(range(0, 7)) AS u(i)
        ),
        bounds AS (SELECT MIN(CAST(ts AS DATE)) AS lo, MAX(CAST(ts AS DATE)) AS hi FROM events)
        SELECT CAST(target_day AS VARCHAR) AS day,
               COUNT(DISTINCT user_id) AS active_users_7d
        FROM contrib, bounds
        WHERE target_day BETWEEN lo AND hi
        GROUP BY target_day
    """,
)
def sliding_7d_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 7-day-active-users metric without COUNT(DISTINCT) OVER (which
    no engine supports in a window): each (user, day) contributes to the
    7 target days it falls inside, then one distinct-count per day. The
    explode is map-side ×7 on the already-deduped user-day table; the
    groupBy is the only shuffle. Clamped to observed days so leading
    edge days match the oracle exactly. Day emitted as string
    (serialization-stable DATE form).
    """
    ev = _t(spark, sf_dir, "events")
    user_days = ev.select("user_id", F.to_date("ts").alias("d")).distinct()
    contrib = user_days.select(
        "user_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(6)), lambda i: F.date_add(F.col("d"), i)
            )
        ).alias("target_day"),
    )
    bounds = ev.agg(
        F.min(F.to_date("ts")).alias("lo"), F.max(F.to_date("ts")).alias("hi")
    )
    clamped = contrib.crossJoin(F.broadcast(bounds)).filter(
        F.col("target_day").between(F.col("lo"), F.col("hi"))
    )
    return clamped.groupBy(
        F.col("target_day").cast("string").alias("day")
    ).agg(F.countDistinct("user_id").alias("active_users_7d"))


@register(
    "event_transition_matrix",
    doc="Markov transition counts/probabilities between consecutive event types per user",
    oracle="""
        WITH ordered AS (
            SELECT user_id, event_type,
                   lead(event_type) OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id) AS next_type,
                   CAST(epoch_us(lead(ts) OVER (PARTITION BY user_id
                                                ORDER BY ts, event_id)) // 1000000
                        - epoch_us(ts) // 1000000 AS BIGINT) AS gap_s
            FROM events
        ),
        pairs AS (
            SELECT event_type, next_type, gap_s FROM ordered
            WHERE next_type IS NOT NULL
        ),
        agg AS (
            SELECT event_type AS from_type, next_type AS to_type,
                   COUNT(*) AS n_transitions,
                   CAST(SUM(CAST(gap_s AS DECIMAL(27,0))) AS BIGINT) AS sum_gap_s
            FROM pairs GROUP BY from_type, next_type
        )
        SELECT from_type, to_type, n_transitions, sum_gap_s,
               round(n_transitions / CAST(SUM(n_transitions)
                     OVER (PARTITION BY from_type) AS DOUBLE), 12) AS p_transition
        FROM agg
    """,
)
def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral modeling: the first-order Markov transition matrix over
    each user's event sequence (lead over the per-user ordering with the
    event_id tiebreak), with exact dwell-time sums between steps.
    Transition probabilities normalize per source state via a window
    over the aggregated |types|² rows — free after the corpus-sized
    lead window + groupBy, which share the user_id clustering.
    """
    ev = _t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    ordered = ev.select(
        "event_type",
        F.lead("event_type").over(w).alias("next_type"),
        (
            F.expr("unix_micros(lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) div 1000000")
            - F.expr("unix_micros(ts) div 1000000")
        ).alias("gap_s"),
    )
    agg = (
        ordered.filter(F.col("next_type").isNotNull())
        .groupBy(
            F.col("event_type").alias("from_type"),
            F.col("next_type").alias("to_type"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_transitions"),
            F.sum(F.col("gap_s").cast("decimal(27,0)")).cast("bigint").alias("sum_gap_s"),
        )
    )
    return agg.withColumn(
        "p_transition",
        F.round(
            F.col("n_transitions")
            / F.sum("n_transitions").over(W.partitionBy("from_type")).cast("double"),
            12,
        ),
    )


@register(
    "revenue_share_by_nation",
    doc="percent-of-total contribution per nation (exact sums, bounded window)",
    oracle=f"""
        WITH per_nation AS (
            SELECT n_name, {osum('o_totalprice', 'revenue')},
                   CAST(COUNT(*) AS BIGINT) AS n_orders
            FROM orders
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            GROUP BY n_name
        )
        SELECT n_name, revenue, n_orders,
               round(revenue / SUM(revenue) OVER (), 12) AS revenue_share
        FROM per_nation
    """,
)
def revenue_share_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contribution analysis: each nation's share of total revenue. The
    share window runs over the ALREADY-AGGREGATED |nations| rows (25),
    so the single-partition window is bounded by the dimension, never
    the fact table; both the numerator and the windowed denominator are
    the same exact decimal sums, making the division bit-deterministic.
    Dimensions broadcast into the fact join.
    """
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    per_nation = (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            dsum(F.col("o_totalprice"), "revenue"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )
    return per_nation.withColumn(
        "revenue_share",
        F.round(F.col("revenue") / F.sum("revenue").over(W.partitionBy()), 12),
    )


@register(
    "pareto_abc_parts",
    doc="ABC (Pareto) classification of parts by cumulative revenue share",
    oracle="""
        WITH per_part AS (
            SELECT l_partkey,
                   SUM(CAST(l_extendedprice * (1 - l_discount)
                       AS DECIMAL(27,6))) AS rev_dec
            FROM lineitem GROUP BY l_partkey
        ),
        ranked AS (
            SELECT l_partkey, rev_dec,
                   CAST(SUM(rev_dec)
                        OVER (ORDER BY rev_dec DESC, l_partkey
                              ROWS UNBOUNDED PRECEDING) * 1000000 AS HUGEINT)
                       AS c,
                   CAST(SUM(rev_dec) OVER () * 1000000 AS HUGEINT) AS t
            FROM per_part
        ),
        scaled AS (
            SELECT l_partkey, rev_dec,
                   (2 * c * 1000000000000 + t) // (2 * t) AS share12
            FROM ranked
        )
        SELECT l_partkey, CAST(rev_dec AS DOUBLE) AS revenue,
               CAST(share12 AS DOUBLE) / 1000000000000.0 AS cum_share,
               CASE WHEN share12 <= 800000000000 THEN 'A'
                    WHEN share12 <= 950000000000 THEN 'B'
                    ELSE 'C' END AS abc_class
        FROM scaled
    """,
)
def pareto_abc_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto/ABC inventory classification: parts ranked by revenue, the
    running share classifies A (top 80% of revenue), B (next 15%), C.
    The running sum orders by (revenue DESC, partkey) — a deterministic
    total order — over the AGGREGATED per-part rows (|parts|, bounded by
    the dimension, not the fact table); cum shares are exact-decimal
    sums (the running sum accumulates in DECIMAL — window sums of
    doubles are engine-internal-order-dependent, DuckDB's uses a
    segment tree) divided once and rounded BEFORE the class thresholds
    so boundary parts classify identically in both engines. The classic
    answer to 'which SKUs deserve exact tracking'.

    The share is rounded in EXACT INTEGER arithmetic, never on a
    double: share12 = round-half-up(cum*10^12/total) via
    (2*c*10^12 + t) // (2*t) on exact micro-cent integers. The first
    version rounded the double ratio at 12 digits and sf0.1 surfaced a
    half-ulp boundary (x = 0.57635519228449993978...) where DuckDB's
    multiply-based round(DOUBLE, 12) returns ...285 while Spark's
    BigDecimal shortest-repr round returns ...284 — with ~20k parts a
    boundary case becomes likely, and no amount of decimal accumulation
    upstream fixes a divergent final rounding. The integer share is
    then converted to double (exact: < 2^53) and the ABC thresholds
    compare integers.
    """
    li = _t(spark, sf_dir, "lineitem")
    net = F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))
    per_part = li.groupBy("l_partkey").agg(
        F.sum(net.cast("decimal(27,6)")).alias("rev_dec")
    )
    w_cum = (
        W.orderBy(F.col("rev_dec").desc(), F.col("l_partkey"))
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    ranked = per_part.select(
        "l_partkey",
        "rev_dec",
        (F.sum("rev_dec").over(w_cum) * 1000000).cast("decimal(38,0)").alias("c"),
        (F.sum("rev_dec").over(W.partitionBy()) * 1000000)
        .cast("decimal(38,0)")
        .alias("t"),
    )
    scaled = ranked.select(
        "l_partkey",
        F.col("rev_dec").cast("double").alias("revenue"),
        F.expr(
            "(2 * c * CAST(1000000000000 AS DECIMAL(13,0)) + t) div (2 * t)"
        ).alias("share12"),
    )
    return scaled.select(
        "l_partkey",
        "revenue",
        (F.col("share12").cast("double") / 1000000000000.0).alias("cum_share"),
        F.when(F.col("share12") <= 800000000000, "A")
        .when(F.col("share12") <= 950000000000, "B")
        .otherwise("C")
        .alias("abc_class"),
    )


# ---------------------------------------------------------------------------
# Full regression family per group (round-4): slope, intercept, R²
# ---------------------------------------------------------------------------
@register(
    "regression_price_by_qty",
    doc="per-returnflag OLS of extendedprice on quantity: slope, intercept, R²",
    oracle="""
        WITH m AS (
            SELECT l_returnflag, COUNT(*) AS n,
                   CAST(SUM(CAST(l_quantity AS DECIMAL(6,0))) AS DOUBLE) AS sx,
                   CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sy,
                   CAST(SUM(CAST(l_quantity AS DECIMAL(6,0))
                            * CAST(l_quantity AS DECIMAL(6,0))) AS DOUBLE) AS sxx,
                   CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                            * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS syy,
                   CAST(SUM(CAST(l_quantity AS DECIMAL(6,0))
                            * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sxy
            FROM lineitem GROUP BY l_returnflag
        )
        SELECT l_returnflag, n,
               round((n * sxy - sx * sy) / (n * sxx - sx * sx), 9) AS slope,
               round((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n, 9)
                   AS intercept,
               round(((n * sxy - sx * sy) * (n * sxy - sx * sy))
                     / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 12) AS r_squared
        FROM m
    """,
)
def regression_price_by_qty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The complete OLS family (slope + intercept + R²) as one hash
    aggregate over the same five exact co-moments as corr_qty_price —
    no MLlib, no iteration, skew-immune. The intercept expression
    re-derives the slope inline so both engines evaluate the IDENTICAL
    double expression tree (naming a subexpression can change rounding);
    9dp rounding for the ~10³-magnitude slope/intercept, 12dp for the
    O(1) R². regr_slope/regr_intercept built-ins stream doubles in
    partition order and are avoided for the oracle-exact path.
    """
    li = _t(spark, sf_dir, "lineitem")
    x = F.col("l_quantity").cast("decimal(6,0)")
    y = F.col("l_extendedprice").cast("decimal(18,2)")
    m = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).cast("double").alias("sx"),
        F.sum(y).cast("double").alias("sy"),
        F.sum(x * x).cast("double").alias("sxx"),
        F.sum(y * y).cast("double").alias("syy"),
        F.sum(x * y).cast("double").alias("sxy"),
    )
    slope = "(n * sxy - sx * sy) / (n * sxx - sx * sx)"
    return m.select(
        "l_returnflag",
        "n",
        F.round(F.expr(slope), 9).alias("slope"),
        F.round(F.expr(f"(sy - {slope} * sx) / n"), 9).alias("intercept"),
        F.round(
            F.expr(
                "((n * sxy - sx * sy) * (n * sxy - sx * sy))"
                " / ((n * sxx - sx * sx) * (n * syy - sy * sy))"
            ),
            12,
        ).alias("r_squared"),
    )


# ---------------------------------------------------------------------------
# Benford first-digit conformance (fraud/data-quality screen) — round 5
# ---------------------------------------------------------------------------
@register(
    "benford_first_digit",
    doc="first-significant-digit distribution of order totals vs Benford's law, with chi-square terms",
    oracle="""
        WITH d AS (
            SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100) AS BIGINT)
                                    AS VARCHAR), 1, 1) AS INT) AS digit
            FROM orders
        ),
        cnt AS (SELECT digit, COUNT(*) AS n FROM d GROUP BY digit),
        tot AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM cnt)
        SELECT digit,
               CAST(n AS BIGINT) AS n_obs,
               round(CAST(n AS DOUBLE) / total, 12) AS obs_share,
               round(log10(1.0 + 1.0 / digit), 12) AS benford_share,
               round((n - total * round(log10(1.0 + 1.0 / digit), 12))
                     * (n - total * round(log10(1.0 + 1.0 / digit), 12))
                     / (total * round(log10(1.0 + 1.0 / digit), 12)), 6)
                   AS chi2_term
        FROM cnt CROSS JOIN tot
        ORDER BY digit
    """,
)
def benford_first_digit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law conformance screen (the classic financial-fraud /
    synthetic-data detector): distribution of the first significant
    digit of order totals vs log10(1 + 1/d), with per-digit chi-square
    contributions. The first digit is taken from the STRING of the exact
    integer cents — no log/floor on floats ever classifies a row, so
    bucket membership is exact in both engines; the Benford share is
    pinned at 12 dp BEFORE entering the chi-square expression so every
    downstream float input is bit-identical. One corpus-sized hash
    aggregate to ≤9 rows + a 1-row broadcast total.
    """
    from dynaledger_spark.catalog import read_table

    od = read_table(spark, sf_dir, "orders")
    digit = F.substring(
        F.round(F.col("o_totalprice") * 100).cast("bigint").cast("string"), 1, 1
    ).cast("int")
    cnt = od.select(digit.alias("digit")).groupBy("digit").agg(
        F.count(F.lit(1)).alias("n")
    )
    tot = cnt.agg(F.sum("n").cast("bigint").alias("total"))
    b = F.round(F.log10(1.0 + 1.0 / F.col("digit")), 12)
    dev = F.col("n") - F.col("total") * b
    return (
        cnt.crossJoin(F.broadcast(tot))
        .select(
            "digit",
            F.col("n").cast("bigint").alias("n_obs"),
            F.round(F.col("n").cast("double") / F.col("total"), 12).alias(
                "obs_share"
            ),
            b.alias("benford_share"),
            F.round(dev * dev / (F.col("total") * b), 6).alias("chi2_term"),
        )
        .orderBy("digit")
    )


# ---------------------------------------------------------------------------
# TPC-H Q1 pricing summary (the canonical analytics anchor) — round 5
# ---------------------------------------------------------------------------
@register(
    "tpch_q1_pricing_summary",
    doc="TPC-H Q1 pricing summary: exact decimal sums/averages by returnflag+linestatus",
    oracle="""
        WITH mx AS (SELECT MAX(l_shipdate) AS m FROM lineitem)
        SELECT l_returnflag, l_linestatus,
               CAST(SUM(CAST(l_quantity AS DECIMAL(6,0))) AS DOUBLE) AS sum_qty,
               CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)))
                         AS DECIMAL(38,6)) AS VARCHAR)
                   AS sum_base_price,
               CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                             * (1 - CAST(l_discount AS DECIMAL(4,2))))
                         AS DECIMAL(38,6)) AS VARCHAR)
                   AS sum_disc_price,
               CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                             * (1 - CAST(l_discount AS DECIMAL(4,2)))
                             * (1 + CAST(l_tax AS DECIMAL(4,2))))
                         AS DECIMAL(38,6)) AS VARCHAR)
                   AS sum_charge,
               round(CAST(SUM(CAST(l_quantity AS DECIMAL(6,0))) AS DOUBLE)
                     / COUNT(*), 9) AS avg_qty,
               round(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
                     / COUNT(*), 9) AS avg_price,
               round(CAST(SUM(CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE)
                     / COUNT(*), 9) AS avg_disc,
               CAST(COUNT(*) AS BIGINT) AS count_order
        FROM lineitem CROSS JOIN mx
        WHERE l_shipdate <= mx.m - INTERVAL 90 DAY
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus
    """,
)
def tpch_q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 verbatim semantics (the industry's most-quoted scan-
    aggregate benchmark), anchored at max(shipdate)−90 days so the
    cutoff is deterministic on any dataset. Every SUM accumulates in
    exact DECIMAL — quantity integral, price 2 dp, the discount/tax
    products at 4/6 dp, all untruncated — so partial-aggregate combine
    order cannot move a result; averages divide once and round at 9.

    The three money sums are EMITTED as the exact DECIMAL (rendered at
    a pinned 6-dp scale) rather than cast to DOUBLE: past ~17
    significant digits Spark's BigDecimal.doubleValue and DuckDB's
    int128/10^scale conversion round to ADJACENT doubles (found by the
    round-11 clean-10x sweep; README "DECIMAL→DOUBLE casts diverge"),
    so the double cast is the one lossy step in an otherwise exact
    pipeline — dropping it makes the result bitwise-stable at any
    magnitude. sum_qty and the round-9 averages stay DOUBLE: their
    magnitudes sit far below the divergence threshold at any realistic
    scale (qty is integral and exact in a double to 2^53).

    Plan: the canonical single-pass hash aggregate with map-side
    partials over a pruned parquet scan (only the 7 referenced columns
    read) — the shape whole-stage codegen exists for.
    """
    from dynaledger_spark.catalog import read_table

    li = read_table(spark, sf_dir, "lineitem")
    mx = li.agg(F.max("l_shipdate").alias("m"))
    qty = F.col("l_quantity").cast("decimal(6,0)")
    price = F.col("l_extendedprice").cast("decimal(18,2)")
    disc = F.col("l_discount").cast("decimal(4,2)")
    tax = F.col("l_tax").cast("decimal(4,2)")

    def money(c):  # exact decimal, canonical fixed-scale text
        return c.cast("decimal(38,6)").cast("string")

    return (
        li.crossJoin(F.broadcast(mx))
        .filter(F.col("l_shipdate") <= F.col("m") - F.expr("INTERVAL 90 DAY"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(qty).cast("double").alias("sum_qty"),
            money(F.sum(price)).alias("sum_base_price"),
            money(F.sum(price * (1 - disc))).alias("sum_disc_price"),
            money(F.sum(price * (1 - disc) * (1 + tax))).alias("sum_charge"),
            F.round(F.sum(qty).cast("double") / F.count(F.lit(1)), 9).alias(
                "avg_qty"
            ),
            F.round(F.sum(price).cast("double") / F.count(F.lit(1)), 9).alias(
                "avg_price"
            ),
            F.round(F.sum(disc).cast("double") / F.count(F.lit(1)), 9).alias(
                "avg_disc"
            ),
            F.count(F.lit(1)).cast("bigint").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


# ---------------------------------------------------------------------------
# Trimmed mean (robust location) per order priority
# ---------------------------------------------------------------------------
@register(
    "trimmed_mean_priority",
    doc="10%-trimmed mean of order value per priority — rank-windowed exact cents",
    oracle="""
        WITH cents AS (
            SELECT o_orderpriority AS priority,
                   CAST(round(o_totalprice * 100) AS BIGINT) AS c,
                   o_orderkey
            FROM orders
        ),
        ranked AS (
            SELECT priority, c,
                   row_number() OVER (PARTITION BY priority
                                      ORDER BY c, o_orderkey) AS rk,
                   COUNT(*) OVER (PARTITION BY priority) AS n
            FROM cents
        )
        SELECT priority,
               CAST(MAX(n) AS BIGINT) AS n_orders,
               CAST(MAX(n) - 2 * (MAX(n) // 10) AS BIGINT) AS n_kept,
               round(CAST(SUM(CASE WHEN rk > n // 10 AND rk <= n - n // 10
                                   THEN c ELSE 0 END) AS DOUBLE)
                     / CAST(MAX(n) - 2 * (MAX(n) // 10) AS DOUBLE) / 100.0,
                     6) AS trimmed_mean
        FROM ranked GROUP BY priority ORDER BY priority
    """,
)
def trimmed_mean_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust location the way financial reporting trims outliers: drop
    the lowest and highest 10% of orders (by exact cents, orderkey
    tiebreak) and average the rest. The kept-sum is an exact integer;
    the mean divides once and rounds at 6. The window rank and count
    share one per-priority exchange.
    """
    o = _t(spark, sf_dir, "orders")
    cents = o.select(
        F.col("o_orderpriority").alias("priority"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("c"),
        "o_orderkey",
    )
    wp = W.partitionBy("priority")
    ranked = cents.select(
        "priority",
        "c",
        F.row_number().over(wp.orderBy("c", "o_orderkey")).alias("rk"),
        F.count(F.lit(1)).over(wp).alias("n"),
    )
    lo = F.floor(F.col("n") / 10)
    kept = F.when((F.col("rk") > lo) & (F.col("rk") <= F.col("n") - lo), F.col("c")).otherwise(0)
    agg = ranked.groupBy("priority").agg(
        F.max("n").cast("bigint").alias("n_orders"),
        (F.max("n") - 2 * F.floor(F.max("n") / 10)).cast("bigint").alias("n_kept"),
        F.sum(kept).alias("_s"),
    )
    return agg.select(
        "priority",
        "n_orders",
        "n_kept",
        F.round(
            F.col("_s").cast("double") / F.col("n_kept").cast("double") / 100.0,
            6,
        ).alias("trimmed_mean"),
    ).orderBy("priority")


# ---------------------------------------------------------------------------
# Two-sample Kolmogorov-Smirnov drift test
# ---------------------------------------------------------------------------
@register(
    "ks_two_sample_values",
    doc="two-sample KS statistic between first/second half-month purchase values",
    oracle="""
        WITH s AS (
            SELECT CASE WHEN day(ts) <= 15 THEN 0 ELSE 1 END AS half,
                   CAST(round(value * 100) AS BIGINT) AS v
            FROM events WHERE event_type = 'purchase'
        ),
        n AS (
            SELECT SUM(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS n0,
                   SUM(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS n1
            FROM s
        ),
        cum AS (
            SELECT v,
                   SUM(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS c0,
                   SUM(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS c1
            FROM s GROUP BY v
        ),
        cdf AS (
            SELECT v,
                   SUM(c0) OVER (ORDER BY v) AS f0,
                   SUM(c1) OVER (ORDER BY v) AS f1
            FROM cum
        ),
        d AS (
            SELECT MAX(abs(CAST(f0 AS HUGEINT) * (SELECT n1 FROM n)
                           - CAST(f1 AS HUGEINT) * (SELECT n0 FROM n)))
                       AS dnum
            FROM cdf
        )
        SELECT CAST((SELECT n0 FROM n) AS BIGINT) AS n_ref,
               CAST((SELECT n1 FROM n) AS BIGINT) AS n_cur,
               round(CAST(dnum AS DOUBLE)
                     / (CAST((SELECT n0 FROM n) AS DOUBLE)
                        * CAST((SELECT n1 FROM n) AS DOUBLE)), 9) AS ks_d,
               round(sqrt(-0.5 * ln(1e-300 + 0.05 / 2.0))
                     * sqrt((CAST((SELECT n0 FROM n) AS DOUBLE)
                             + CAST((SELECT n1 FROM n) AS DOUBLE))
                            / (CAST((SELECT n0 FROM n) AS DOUBLE)
                               * CAST((SELECT n1 FROM n) AS DOUBLE))), 9)
                   AS crit_05
        FROM d
    """,
)
def ks_two_sample_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The nonparametric drift test behind PSI's dashboards: the KS
    statistic D = max|F₀(v) − F₁(v)| between the first- and
    second-half-month purchase value distributions. The supremum runs
    over exact INTEGER cross-multiplied cumulative counts
    (|f₀·n₁ − f₁·n₀| — no float CDFs, so the argmax cannot flip on
    rounding), and only the final D and the α=0.05 critical value
    c(α)·√((n₀+n₁)/(n₀·n₁)) are floats, rounded at 9.

    Plan: one value-grain hash aggregate (conditional counts), one
    ordered window over the DISTINCT value axis (bounded by the value
    domain — ~37k distinct cents here, never the event count), and a
    1-row max. Scale-stable: the window's partition is the value
    domain, the classic "aggregate first, then window the rollup".
    """
    ev = _t(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    s = ev.select(
        F.when(F.dayofmonth("ts") <= 15, 0).otherwise(1).alias("half"),
        F.round(F.col("value") * 100).cast("bigint").alias("v"),
    )
    n = s.agg(
        F.sum(F.when(F.col("half") == 0, 1).otherwise(0)).alias("n0"),
        F.sum(F.when(F.col("half") == 1, 1).otherwise(0)).alias("n1"),
    )
    cum = s.groupBy("v").agg(
        F.sum(F.when(F.col("half") == 0, 1).otherwise(0)).alias("c0"),
        F.sum(F.when(F.col("half") == 1, 1).otherwise(0)).alias("c1"),
    )
    wv = W.orderBy("v").rowsBetween(W.unboundedPreceding, W.currentRow)
    cdf = cum.select(
        F.sum("c0").over(wv).alias("f0"), F.sum("c1").over(wv).alias("f1")
    )
    d = cdf.crossJoin(F.broadcast(n)).agg(
        F.max(
            F.abs(
                F.col("f0").cast("decimal(38,0)") * F.col("n1")
                - F.col("f1").cast("decimal(38,0)") * F.col("n0")
            )
        ).alias("dnum")
    )
    out = d.crossJoin(F.broadcast(n))
    n0d = F.col("n0").cast("double")
    n1d = F.col("n1").cast("double")
    return out.select(
        F.col("n0").cast("bigint").alias("n_ref"),
        F.col("n1").cast("bigint").alias("n_cur"),
        F.round(F.col("dnum").cast("double") / (n0d * n1d), 9).alias("ks_d"),
        F.round(
            F.sqrt(-0.5 * F.log(F.lit(1e-300) + 0.05 / 2.0))
            * F.sqrt((n0d + n1d) / (n0d * n1d)),
            9,
        ).alias("crit_05"),
    )


# ---------------------------------------------------------------------------
# A/B conversion z-test with Wilson intervals
# ---------------------------------------------------------------------------
@register(
    "ab_conversion_ztest",
    doc="two-proportion z-test of buyer-propensity (purchases > views) between user-parity arms",
    oracle="""
        WITH arms AS (
            SELECT user_id % 2 AS arm,
                   SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                       AS nv,
                   SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                       AS np
            FROM events GROUP BY user_id
        ),
        agg AS (
            SELECT arm,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(CASE WHEN np > nv THEN 1 ELSE 0 END) AS BIGINT)
                       AS x
            FROM arms WHERE nv > 0 GROUP BY arm
        ),
        wide AS (
            SELECT a.n AS n0, a.x AS x0, b.n AS n1, b.x AS x1
            FROM agg a, agg b WHERE a.arm = 0 AND b.arm = 1
        )
        SELECT n0, x0, n1, x1,
               round(CAST(x0 AS DOUBLE) / n0, 9) AS rate_a,
               round(CAST(x1 AS DOUBLE) / n1, 9) AS rate_b,
               CASE WHEN x0 + x1 = 0 OR x0 + x1 = n0 + n1 THEN NULL
                    ELSE round((CAST(x1 AS DOUBLE) / n1
                                - CAST(x0 AS DOUBLE) / n0)
                               / sqrt((CAST(x0 + x1 AS DOUBLE) / (n0 + n1))
                                      * (1.0 - CAST(x0 + x1 AS DOUBLE)
                                         / (n0 + n1))
                                      * (1.0 / n0 + 1.0 / n1)), 9)
               END AS z,
               round((CAST(x0 AS DOUBLE) / n0 + 1.9208 / n0
                      - 1.96 * sqrt((CAST(x0 AS DOUBLE) / n0)
                                    * (1.0 - CAST(x0 AS DOUBLE) / n0) / n0
                                    + 0.9604 / (n0 * CAST(n0 AS DOUBLE))))
                     / (1.0 + 3.8416 / n0), 9) AS wilson_lo_a,
               round((CAST(x1 AS DOUBLE) / n1 + 1.9208 / n1
                      - 1.96 * sqrt((CAST(x1 AS DOUBLE) / n1)
                                    * (1.0 - CAST(x1 AS DOUBLE) / n1) / n1
                                    + 0.9604 / (n1 * CAST(n1 AS DOUBLE))))
                     / (1.0 + 3.8416 / n1), 9) AS wilson_lo_b
        FROM wide
    """,
)
def ab_conversion_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The experiment readout: user-parity arms (the deterministic
    stand-in for assignment), per-user buyer propensity (strictly more
    purchases than views — the simple "any purchase" flag saturates to
    100% on this corpus and degenerates the variance), the
    pooled two-proportion z statistic, and each arm's Wilson lower
    bound at 95% (the interval that behaves at small n and extreme
    rates, unlike Wald). Counts are exact integers; every float is one
    fixed closed-form expression rounded at 9 — both engines evaluate
    identical IEEE sequences from identical integers.

    Plan: one per-user conditional-flag aggregate (map-side combined),
    one 2-row arm rollup, one 1×1 combine — the entire statistical
    readout costs a single corpus exchange.
    """
    ev = _t(spark, sf_dir, "events")
    arms = (
        ev.groupBy("user_id")
        .agg(
            F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0)).alias(
                "nv"
            ),
            F.sum(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).alias("np"),
        )
        .filter(F.col("nv") > 0)
        .select((F.col("user_id") % 2).alias("arm"), "nv", "np")
    )
    agg = arms.groupBy("arm").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.when(F.col("np") > F.col("nv"), 1).otherwise(0))
        .cast("bigint")
        .alias("x"),
    )
    a = agg.filter(F.col("arm") == 0).select(
        F.col("n").alias("n0"), F.col("x").alias("x0")
    )
    b = agg.filter(F.col("arm") == 1).select(
        F.col("n").alias("n1"), F.col("x").alias("x1")
    )
    w = a.crossJoin(F.broadcast(b))
    n0 = F.col("n0").cast("double")
    n1 = F.col("n1").cast("double")
    x0 = F.col("x0").cast("double")
    x1 = F.col("x1").cast("double")
    pool = (x0 + x1) / (F.col("n0") + F.col("n1")).cast("double")
    # pooled rate 0 or 1 (every viewer converts at tiny SFs) zeroes the
    # variance -> guard the z statistic with NULL instead of 0/0
    degenerate = (F.col("x0") + F.col("x1") == 0) | (
        F.col("x0") + F.col("x1") == F.col("n0") + F.col("n1")
    )
    z = F.when(degenerate, F.lit(None).cast("double")).otherwise(
        F.round(
            (x1 / n1 - x0 / n0)
            / F.sqrt(pool * (1.0 - pool) * (1.0 / n0 + 1.0 / n1)),
            9,
        )
    )

    def wilson_lo(x, n):
        p = x / n
        return (
            p
            + 1.9208 / n
            - 1.96 * F.sqrt(p * (1.0 - p) / n + 0.9604 / (n * n))
        ) / (1.0 + 3.8416 / n)

    return w.select(
        "n0",
        "x0",
        "n1",
        "x1",
        F.round(x0 / n0, 9).alias("rate_a"),
        F.round(x1 / n1, 9).alias("rate_b"),
        z.alias("z"),
        F.round(wilson_lo(x0, n0), 9).alias("wilson_lo_a"),
        F.round(wilson_lo(x1, n1), 9).alias("wilson_lo_b"),
    )


# ---------------------------------------------------------------------------
# Mann-Whitney U (Wilcoxon rank-sum) with tie correction
# ---------------------------------------------------------------------------
@register(
    "mann_whitney_u_test",
    doc="tie-corrected Mann-Whitney U between first/second half-month purchase values",
    oracle="""
        WITH s AS (
            SELECT CASE WHEN day(ts) <= 15 THEN 0 ELSE 1 END AS half,
                   CAST(round(value * 100) AS BIGINT) AS v
            FROM events WHERE event_type = 'purchase'
        ),
        n AS (
            SELECT CAST(SUM(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS BIGINT)
                       AS na,
                   CAST(SUM(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT)
                       AS nb
            FROM s
        ),
        cnts AS (
            SELECT v,
                   SUM(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS ca,
                   COUNT(*) AS cnt
            FROM s GROUP BY v
        ),
        ranked AS (
            SELECT ca, cnt,
                   SUM(cnt) OVER (ORDER BY v
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND CURRENT ROW) - cnt AS cum_before
            FROM cnts
        ),
        folds AS (
            SELECT CAST(SUM(CAST(ca AS HUGEINT)
                            * (2 * cum_before + cnt + 1)) AS BIGINT) AS ra2,
                   CAST(SUM(CAST(cnt AS HUGEINT) * cnt * cnt - cnt)
                        AS BIGINT) AS ties
            FROM ranked
        )
        SELECT na, nb,
               CAST(ra2 - na * (na + 1) AS BIGINT) AS u2_a,
               ties AS tie_sum,
               round(CAST(ra2 - na * (na + 1) AS DOUBLE) / 2.0
                     - CAST(na AS DOUBLE) * nb / 2.0, 9) AS u_minus_mean,
               round((CAST(ra2 - na * (na + 1) AS DOUBLE)
                      - CAST(na AS DOUBLE) * nb)
                     / (2.0 * sqrt(CAST(na AS DOUBLE) * nb / 12.0
                                   * ((CAST(na AS DOUBLE) + nb + 1.0)
                                      - CAST(ties AS DOUBLE)
                                        / ((CAST(na AS DOUBLE) + nb)
                                           * (CAST(na AS DOUBLE) + nb
                                              - 1.0))))), 9) AS z
        FROM folds, n
    """,
)
def mann_whitney_u_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The rank-based nonparametric complement to ks_two_sample_values,
    on the SAME half-month purchase split: KS tests the largest CDF gap,
    Mann-Whitney tests stochastic dominance (P(A > B) ≠ ½). Values are
    discretized to cents like KS — which both bounds the rank window by
    the value domain AND produces genuine ties, so the tie-corrected
    variance term σ² = nₐn_b/12·((N+1) − Σ(t³−t)/(N(N−1))) is actually
    exercised. Everything up to the final statistic is integer
    arithmetic on DECIMAL(38,0) accumulators — midranks are kept DOUBLED
    (2·midrank = 2·cum_before + cnt + 1, always an integer), so rank
    sums are exact and the only floats are two fixed closed forms
    rounded at 9.

    Plan: one cents-grain hash aggregate, one window over the distinct
    value axis (domain-bounded — "aggregate first, then window the
    rollup", the KS shape), two 1-row folds combined by broadcast. One
    corpus exchange total.
    """
    ev = _t(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    s = ev.select(
        F.when(F.dayofmonth("ts") <= 15, 0).otherwise(1).alias("half"),
        F.round(F.col("value") * 100).cast("bigint").alias("v"),
    )
    n = s.agg(
        F.sum(F.when(F.col("half") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("na"),
        F.sum(F.when(F.col("half") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("nb"),
    )
    cnts = s.groupBy("v").agg(
        F.sum(F.when(F.col("half") == 0, 1).otherwise(0)).alias("ca"),
        F.count(F.lit(1)).alias("cnt"),
    )
    wv = W.orderBy("v").rowsBetween(W.unboundedPreceding, W.currentRow)
    ranked = cnts.select(
        "ca", "cnt", (F.sum("cnt").over(wv) - F.col("cnt")).alias("cum_before")
    )
    folds = ranked.agg(
        F.sum(
            F.col("ca").cast("decimal(38,0)")
            * (2 * F.col("cum_before") + F.col("cnt") + 1)
        )
        .cast("bigint")
        .alias("ra2"),
        F.sum(
            F.col("cnt").cast("decimal(38,0)") * F.col("cnt") * F.col("cnt")
            - F.col("cnt")
        )
        .cast("bigint")
        .alias("ties"),
    )
    w = folds.crossJoin(F.broadcast(n))
    nad = F.col("na").cast("double")
    nbd = F.col("nb").cast("double")
    u2 = F.col("ra2") - F.col("na") * (F.col("na") + 1)
    sigma2 = (
        nad * nbd / 12.0
        * (
            (nad + nbd + 1.0)
            - F.col("ties").cast("double") / ((nad + nbd) * (nad + nbd - 1.0))
        )
    )
    return w.select(
        "na",
        "nb",
        u2.cast("bigint").alias("u2_a"),
        F.col("ties").alias("tie_sum"),
        F.round(u2.cast("double") / 2.0 - nad * nbd / 2.0, 9).alias(
            "u_minus_mean"
        ),
        F.round(
            (u2.cast("double") - nad * nbd) / (2.0 * F.sqrt(sigma2)), 9
        ).alias("z"),
    )


# ---------------------------------------------------------------------------
# CUPED variance-reduced A/B readout
# ---------------------------------------------------------------------------
@register(
    "cuped_adjusted_ab",
    doc="CUPED-adjusted per-arm post-period spend (pre-period value as covariate)",
    oracle="""
        WITH per_user AS (
            SELECT user_id,
                   CAST(SUM(CASE WHEN day(ts) <= 15
                            THEN CAST(round(value * 100) AS BIGINT)
                            ELSE 0 END) AS BIGINT) AS x,
                   CAST(SUM(CASE WHEN day(ts) > 15
                                  AND event_type = 'purchase'
                            THEN CAST(round(value * 100) AS BIGINT)
                            ELSE 0 END) AS BIGINT) AS y
            FROM events GROUP BY user_id
        ),
        arm_agg AS (
            SELECT user_id % 2 AS arm,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(x) AS BIGINT) AS sx,
                   CAST(SUM(y) AS BIGINT) AS sy,
                   CAST(SUM(CAST(x AS HUGEINT) * x) AS BIGINT) AS sxx,
                   CAST(SUM(CAST(x AS HUGEINT) * y) AS BIGINT) AS sxy,
                   CAST(SUM(CAST(y AS HUGEINT) * y) AS BIGINT) AS syy
            FROM per_user GROUP BY arm
        ),
        g AS (
            SELECT CAST(SUM(n) AS BIGINT) AS gn,
                   CAST(SUM(sx) AS BIGINT) AS gsx,
                   CAST(SUM(sy) AS BIGINT) AS gsy,
                   CAST(SUM(sxx) AS BIGINT) AS gsxx,
                   CAST(SUM(sxy) AS BIGINT) AS gsxy,
                   CAST(SUM(syy) AS BIGINT) AS gsyy
            FROM arm_agg
        )
        SELECT arm, n AS n_users,
               round(CAST(sy AS DOUBLE) / n / 100.0, 9) AS mean_post,
               round((CAST(sy AS DOUBLE) / n
                      - ((CAST(gn AS DOUBLE) * gsxy
                          - CAST(gsx AS DOUBLE) * gsy)
                         / (CAST(gn AS DOUBLE) * gsxx
                            - CAST(gsx AS DOUBLE) * gsx))
                        * (CAST(sx AS DOUBLE) / n
                           - CAST(gsx AS DOUBLE) / gn)) / 100.0, 9)
                   AS mean_cuped,
               round((CAST(gn AS DOUBLE) * gsxy
                      - CAST(gsx AS DOUBLE) * gsy)
                     / (CAST(gn AS DOUBLE) * gsxx
                        - CAST(gsx AS DOUBLE) * gsx), 9) AS theta,
               round(((CAST(gn AS DOUBLE) * gsxy
                       - CAST(gsx AS DOUBLE) * gsy)
                      * (CAST(gn AS DOUBLE) * gsxy
                         - CAST(gsx AS DOUBLE) * gsy))
                     / ((CAST(gn AS DOUBLE) * gsxx
                         - CAST(gsx AS DOUBLE) * gsx)
                        * (CAST(gn AS DOUBLE) * gsyy
                           - CAST(gsy AS DOUBLE) * gsy)), 9)
                   AS var_reduction
        FROM arm_agg, g
    """,
)
def cuped_adjusted_ab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED (Deng et al. 2013): shrink each arm's post-period spend by
    the pooled pre-period covariate — Ŷ_arm = Ȳ_arm − θ·(X̄_arm − X̄),
    θ = cov(X,Y)/var(X) — cutting readout variance by ρ² without
    touching the treatment-effect estimate. Pre-period covariate =
    first-half total event value; metric = second-half purchase spend;
    arms by user parity (the ab_conversion_ztest assignment). All
    moments are exact integer sums over cent-quantized per-user totals
    (DECIMAL-accumulated, order-independent); θ, the adjusted means,
    and ρ² are fixed closed forms on those integers, rounded at 9.

    Plan: one per-user conditional aggregate (map-side combined), a
    2-row arm rollup, a 1-row global fold broadcast back onto the arms.
    One corpus exchange total — the readout costs the same as a count.
    """
    ev = _t(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("bigint")
    per_user = ev.groupBy("user_id").agg(
        F.sum(F.when(F.dayofmonth("ts") <= 15, cents).otherwise(0))
        .cast("bigint")
        .alias("x"),
        F.sum(
            F.when(
                (F.dayofmonth("ts") > 15)
                & (F.col("event_type") == "purchase"),
                cents,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("y"),
    )
    big = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    arm_agg = per_user.select(
        (F.col("user_id") % 2).alias("arm"), "x", "y"
    ).groupBy("arm").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(big("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(big("x") * F.col("y")).cast("bigint").alias("sxy"),
        F.sum(big("y") * F.col("y")).cast("bigint").alias("syy"),
    )
    g = arm_agg.agg(
        F.sum("n").cast("bigint").alias("gn"),
        F.sum("sx").cast("bigint").alias("gsx"),
        F.sum("sy").cast("bigint").alias("gsy"),
        F.sum("sxx").cast("bigint").alias("gsxx"),
        F.sum("sxy").cast("bigint").alias("gsxy"),
        F.sum("syy").cast("bigint").alias("gsyy"),
    )
    w = arm_agg.crossJoin(F.broadcast(g))
    gn = F.col("gn").cast("double")
    gsx = F.col("gsx").cast("double")
    gsy = F.col("gsy").cast("double")
    cov_n = gn * F.col("gsxy") - gsx * F.col("gsy")
    varx_n = gn * F.col("gsxx") - gsx * F.col("gsx")
    vary_n = gn * F.col("gsyy") - gsy * F.col("gsy")
    theta = cov_n / varx_n
    return w.select(
        "arm",
        F.col("n").alias("n_users"),
        F.round(F.col("sy").cast("double") / F.col("n") / 100.0, 9).alias(
            "mean_post"
        ),
        F.round(
            (
                F.col("sy").cast("double") / F.col("n")
                - theta
                * (F.col("sx").cast("double") / F.col("n") - gsx / F.col("gn"))
            )
            / 100.0,
            9,
        ).alias("mean_cuped"),
        F.round(theta, 9).alias("theta"),
        F.round(cov_n * cov_n / (varx_n * vary_n), 9).alias("var_reduction"),
    )


# ---------------------------------------------------------------------------
# Weight-of-evidence / information-value binning
# ---------------------------------------------------------------------------
@register(
    "woe_iv_acctbal_urgent",
    doc="per-bin weight-of-evidence of acctbal bands vs has-urgent-order target",
    oracle="""
        WITH tgt AS (
            SELECT c.c_custkey,
                   CAST(floor(c.c_acctbal / 1000.0) AS BIGINT) AS bin,
                   CASE WHEN u.o_custkey IS NOT NULL THEN 1 ELSE 0 END
                       AS event
            FROM customer c
            LEFT JOIN (SELECT DISTINCT o_custkey FROM orders
                       WHERE o_orderpriority = '1-URGENT') u
              ON u.o_custkey = c.c_custkey
        ),
        bins AS (
            SELECT bin,
                   CAST(COUNT(*) AS BIGINT) AS n_customers,
                   CAST(SUM(event) AS BIGINT) AS n_event,
                   CAST(COUNT(*) - SUM(event) AS BIGINT) AS n_nonevent
            FROM tgt GROUP BY bin
        ),
        tot AS (
            SELECT bin, n_customers, n_event, n_nonevent,
                   SUM(n_event) OVER () AS et,
                   SUM(n_nonevent) OVER () AS net,
                   COUNT(*) OVER () AS nb
            FROM bins
        )
        SELECT bin, n_customers, n_event, n_nonevent,
               round(ln(((CAST(n_event AS DOUBLE) + 0.5)
                         / (CAST(et AS DOUBLE) + 0.5 * nb))
                        / ((CAST(n_nonevent AS DOUBLE) + 0.5)
                           / (CAST(net AS DOUBLE) + 0.5 * nb))), 9) AS woe,
               round(((CAST(n_event AS DOUBLE) + 0.5)
                      / (CAST(et AS DOUBLE) + 0.5 * nb)
                      - (CAST(n_nonevent AS DOUBLE) + 0.5)
                        / (CAST(net AS DOUBLE) + 0.5 * nb))
                     * ln(((CAST(n_event AS DOUBLE) + 0.5)
                           / (CAST(et AS DOUBLE) + 0.5 * nb))
                          / ((CAST(n_nonevent AS DOUBLE) + 0.5)
                             / (CAST(net AS DOUBLE) + 0.5 * nb))), 9)
                   AS iv_term
        FROM tot
    """,
)
def woe_iv_acctbal_urgent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-of-evidence encoding — the credit-scoring sibling of
    target_encode_priority: per acctbal band, WOE = ln(P(bin|event) /
    P(bin|non-event)) with 0.5 Laplace smoothing per cell, plus each
    band's information-value term (their sum is the feature's IV). Bin
    counts are exact integers; the totals ride a window over the ~11-row
    bin rollup (integer, order-free), so each output float is one fixed
    ln/divide chain rounded at 9. IV is reported PER BIN, not summed —
    a cross-bin float sum would be the one order-dependent step, so the
    contract leaves the 11-term reduction to the reader.

    Plan: distinct urgent custkeys (fits broadcast), left broadcast
    join onto customers, one bin rollup; the OVER () totals window runs
    on 11 rows. One customer-table exchange total.
    """
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    urgent = (
        o.filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_custkey")
        .distinct()
        .withColumn("event_flag", F.lit(1))
    )
    tgt = c.join(
        F.broadcast(urgent), c.c_custkey == urgent.o_custkey, "left"
    ).select(
        F.floor(F.col("c_acctbal") / 1000.0).cast("bigint").alias("bin"),
        F.coalesce(F.col("event_flag"), F.lit(0)).alias("event"),
    )
    bins = tgt.groupBy("bin").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_customers"),
        F.sum("event").cast("bigint").alias("n_event"),
        (F.count(F.lit(1)) - F.sum("event")).cast("bigint").alias("n_nonevent"),
    )
    wall = W.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    tot = bins.select(
        "*",
        F.sum("n_event").over(wall).alias("et"),
        F.sum("n_nonevent").over(wall).alias("net"),
        F.count(F.lit(1)).over(wall).alias("nb"),
    )
    pe = (F.col("n_event").cast("double") + 0.5) / (
        F.col("et").cast("double") + 0.5 * F.col("nb")
    )
    pne = (F.col("n_nonevent").cast("double") + 0.5) / (
        F.col("net").cast("double") + 0.5 * F.col("nb")
    )
    return tot.select(
        "bin",
        "n_customers",
        "n_event",
        "n_nonevent",
        F.round(F.log(pe / pne), 9).alias("woe"),
        F.round((pe - pne) * F.log(pe / pne), 9).alias("iv_term"),
    )


# ---------------------------------------------------------------------------
# Two-feature OLS via explicit normal equations (Cramer's rule)
# ---------------------------------------------------------------------------
@register(
    "ols_price_qty_discount",
    doc="OLS extendedprice ~ quantity + discount via exact-moment normal equations",
    oracle="""
        WITH m AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(CAST(l_quantity AS DECIMAL(18,0))) AS DOUBLE) AS s1,
                   CAST(SUM(CAST(l_discount AS DECIMAL(8,2))) AS DOUBLE) AS s2,
                   CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
                       AS sy,
                   CAST(SUM(CAST(l_quantity AS DECIMAL(18,0))
                            * CAST(l_quantity AS DECIMAL(18,0))) AS DOUBLE)
                       AS s11,
                   CAST(SUM(CAST(l_quantity AS DECIMAL(18,0))
                            * CAST(l_discount AS DECIMAL(8,2))) AS DOUBLE)
                       AS s12,
                   CAST(SUM(CAST(l_discount AS DECIMAL(8,2))
                            * CAST(l_discount AS DECIMAL(8,2))) AS DOUBLE)
                       AS s22,
                   CAST(SUM(CAST(l_quantity AS DECIMAL(18,0))
                            * CAST(l_extendedprice AS DECIMAL(18,2)))
                        AS DOUBLE) AS s1y,
                   CAST(SUM(CAST(l_discount AS DECIMAL(8,2))
                            * CAST(l_extendedprice AS DECIMAL(18,2)))
                        AS DOUBLE) AS s2y,
                   CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                            * CAST(l_extendedprice AS DECIMAL(18,2)))
                        AS DOUBLE) AS syy
            FROM lineitem
        )
        SELECT n,
               round((sy * (s11 * s22 - s12 * s12)
                      - s1 * (s1y * s22 - s12 * s2y)
                      + s2 * (s1y * s12 - s11 * s2y))
                     / (n * (s11 * s22 - s12 * s12)
                        - s1 * (s1 * s22 - s12 * s2)
                        + s2 * (s1 * s12 - s11 * s2)), 6) AS beta0,
               round((n * (s1y * s22 - s12 * s2y)
                      - sy * (s1 * s22 - s12 * s2)
                      + s2 * (s1 * s2y - s1y * s2))
                     / (n * (s11 * s22 - s12 * s12)
                        - s1 * (s1 * s22 - s12 * s2)
                        + s2 * (s1 * s12 - s11 * s2)), 6) AS beta1,
               round((n * (s11 * s2y - s1y * s12)
                      - s1 * (s1 * s2y - s1y * s2)
                      + sy * (s1 * s12 - s11 * s2))
                     / (n * (s11 * s22 - s12 * s12)
                        - s1 * (s1 * s22 - s12 * s2)
                        + s2 * (s1 * s12 - s11 * s2)), 6) AS beta2,
               round(1.0 - (syy
                            - ((sy * (s11 * s22 - s12 * s12)
                                - s1 * (s1y * s22 - s12 * s2y)
                                + s2 * (s1y * s12 - s11 * s2y))
                               / (n * (s11 * s22 - s12 * s12)
                                  - s1 * (s1 * s22 - s12 * s2)
                                  + s2 * (s1 * s12 - s11 * s2)) * sy
                               + (n * (s1y * s22 - s12 * s2y)
                                  - sy * (s1 * s22 - s12 * s2)
                                  + s2 * (s1 * s2y - s1y * s2))
                                 / (n * (s11 * s22 - s12 * s12)
                                    - s1 * (s1 * s22 - s12 * s2)
                                    + s2 * (s1 * s12 - s11 * s2)) * s1y
                               + (n * (s11 * s2y - s1y * s12)
                                  - s1 * (s1 * s2y - s1y * s2)
                                  + sy * (s1 * s12 - s11 * s2))
                                 / (n * (s11 * s22 - s12 * s12)
                                    - s1 * (s1 * s22 - s12 * s2)
                                    + s2 * (s1 * s12 - s11 * s2)) * s2y))
                           / (syy - sy * sy / n), 9) AS r2
        FROM m
    """,
)
def ols_price_qty_discount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multivariate OLS upgraded from regression_price_by_qty's simple
    slope: extendedprice ~ β₀ + β₁·quantity + β₂·discount, solved by
    Cramer's rule on the 3×3 normal equations. Every moment is an exact
    DECIMAL sum (order-independent across Spark's partial combines);
    the determinant ratios and R² = 1 − SSE/SST are fixed IEEE chains
    on those exact moments — SQL and Spark spell the IDENTICAL
    expression tree, parenthesis for parenthesis, so 6/9-digit rounding
    seals bitwise parity. Distributed linear regression at any corpus
    size is exactly this shape: one map-side-combined moment aggregate,
    then O(p³) driver-free closed-form algebra on a 1-row result.
    """
    li = _t(spark, sf_dir, "lineitem")
    q = F.col("l_quantity").cast("decimal(18,0)")
    d = F.col("l_discount").cast("decimal(8,2)")
    y = F.col("l_extendedprice").cast("decimal(18,2)")
    m = li.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(q).cast("double").alias("s1"),
        F.sum(d).cast("double").alias("s2"),
        F.sum(y).cast("double").alias("sy"),
        F.sum(q * q).cast("double").alias("s11"),
        F.sum(q * d).cast("double").alias("s12"),
        F.sum(d * d).cast("double").alias("s22"),
        F.sum(q * y).cast("double").alias("s1y"),
        F.sum(d * y).cast("double").alias("s2y"),
        F.sum(y * y).cast("double").alias("syy"),
    )
    n = F.col("n").cast("double")
    s1, s2, sy = F.col("s1"), F.col("s2"), F.col("sy")
    s11, s12, s22 = F.col("s11"), F.col("s12"), F.col("s22")
    s1y, s2y, syy = F.col("s1y"), F.col("s2y"), F.col("syy")
    det = (
        n * (s11 * s22 - s12 * s12)
        - s1 * (s1 * s22 - s12 * s2)
        + s2 * (s1 * s12 - s11 * s2)
    )
    b0 = (
        sy * (s11 * s22 - s12 * s12)
        - s1 * (s1y * s22 - s12 * s2y)
        + s2 * (s1y * s12 - s11 * s2y)
    ) / det
    b1 = (
        n * (s1y * s22 - s12 * s2y)
        - sy * (s1 * s22 - s12 * s2)
        + s2 * (s1 * s2y - s1y * s2)
    ) / det
    b2 = (
        n * (s11 * s2y - s1y * s12)
        - s1 * (s1 * s2y - s1y * s2)
        + sy * (s1 * s12 - s11 * s2)
    ) / det
    r2 = 1.0 - (syy - (b0 * sy + b1 * s1y + b2 * s2y)) / (syy - sy * sy / n)
    return m.select(
        "n",
        F.round(b0, 6).alias("beta0"),
        F.round(b1, 6).alias("beta1"),
        F.round(b2, 6).alias("beta2"),
        F.round(r2, 9).alias("r2"),
    )


# ---------------------------------------------------------------------------
# Gains / lift table over score deciles
# ---------------------------------------------------------------------------
@register(
    "lift_gains_deciles",
    doc="cumulative gains and lift of acctbal deciles against the has-urgent-order target",
    oracle="""
        WITH tgt AS (
            SELECT ntile(10) OVER (ORDER BY c.c_acctbal DESC, c.c_custkey)
                       AS decile,
                   CASE WHEN u.o_custkey IS NOT NULL THEN 1 ELSE 0 END
                       AS event
            FROM customer c
            LEFT JOIN (SELECT DISTINCT o_custkey FROM orders
                       WHERE o_orderpriority = '1-URGENT') u
              ON u.o_custkey = c.c_custkey
        ),
        bins AS (
            SELECT decile,
                   CAST(COUNT(*) AS BIGINT) AS n_customers,
                   CAST(SUM(event) AS BIGINT) AS n_event
            FROM tgt GROUP BY decile
        ),
        cum AS (
            SELECT decile, n_customers, n_event,
                   SUM(n_customers) OVER (ORDER BY decile
                                          ROWS BETWEEN UNBOUNDED PRECEDING
                                          AND CURRENT ROW) AS cum_customers,
                   SUM(n_event) OVER (ORDER BY decile
                                      ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND CURRENT ROW) AS cum_event,
                   SUM(n_customers) OVER () AS tot_customers,
                   SUM(n_event) OVER () AS tot_event
            FROM bins
        )
        SELECT CAST(decile AS BIGINT) AS decile, n_customers, n_event,
               CAST(cum_event AS BIGINT) AS cum_event,
               round(CAST(cum_event AS DOUBLE) / tot_event, 9) AS cum_gain,
               round((CAST(cum_event AS DOUBLE) / cum_customers)
                     / (CAST(tot_event AS DOUBLE) / tot_customers), 9)
                   AS cum_lift
        FROM cum
    """,
)
def lift_gains_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The campaign-targeting readout: rank customers by a score
    (acctbal, descending — custkey breaks ties so NTILE is
    deterministic), cut into deciles, and report each prefix's share of
    all targets (cumulative gains) and its precision relative to random
    targeting (cumulative lift). Counts are integers end-to-end; gains
    and lift are single divisions rounded at 9.

    Plan: broadcast the distinct urgent keys onto customers, one global
    NTILE (the decile assignment is a rank — at 100 TB you'd swap it
    for precomputed decile BOUNDARIES from quantile_binning_migration
    and a map-side bucket lookup, trading exact equal-frequency cuts
    for a boundary broadcast), then all windows run on the 10-row
    rollup.
    """
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    urgent = (
        o.filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_custkey")
        .distinct()
        .withColumn("event_flag", F.lit(1))
    )
    scored = c.join(
        F.broadcast(urgent), c.c_custkey == urgent.o_custkey, "left"
    ).select(
        F.ntile(10)
        .over(W.orderBy(F.col("c_acctbal").desc(), F.col("c_custkey")))
        .alias("decile"),
        F.coalesce(F.col("event_flag"), F.lit(0)).alias("event"),
    )
    bins = scored.groupBy("decile").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_customers"),
        F.sum("event").cast("bigint").alias("n_event"),
    )
    wcum = W.orderBy("decile").rowsBetween(W.unboundedPreceding, W.currentRow)
    wall = W.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    cum = bins.select(
        "*",
        F.sum("n_customers").over(wcum).alias("cum_customers"),
        F.sum("n_event").over(wcum).alias("cum_event"),
        F.sum("n_customers").over(wall).alias("tot_customers"),
        F.sum("n_event").over(wall).alias("tot_event"),
    )
    return cum.select(
        F.col("decile").cast("bigint").alias("decile"),
        "n_customers",
        "n_event",
        F.col("cum_event").cast("bigint").alias("cum_event"),
        F.round(
            F.col("cum_event").cast("double") / F.col("tot_event"), 9
        ).alias("cum_gain"),
        F.round(
            (F.col("cum_event").cast("double") / F.col("cum_customers"))
            / (F.col("tot_event").cast("double") / F.col("tot_customers")),
            9,
        ).alias("cum_lift"),
    )


# ---------------------------------------------------------------------------
# Isotonic calibration (pool-adjacent-violators via the minimax identity)
# ---------------------------------------------------------------------------
@register(
    "isotonic_calibration_deciles",
    doc="weighted isotonic fit of urgent-order rate over acctbal deciles (PAV minimax form)",
    oracle="""
        WITH tgt AS (
            SELECT ntile(10) OVER (ORDER BY c.c_acctbal, c.c_custkey)
                       AS decile,
                   CASE WHEN u.o_custkey IS NOT NULL THEN 1 ELSE 0 END
                       AS event
            FROM customer c
            LEFT JOIN (SELECT DISTINCT o_custkey FROM orders
                       WHERE o_orderpriority = '1-URGENT') u
              ON u.o_custkey = c.c_custkey
        ),
        bins AS (
            SELECT CAST(decile AS BIGINT) AS decile,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(event) AS BIGINT) AS e
            FROM tgt GROUP BY decile
        ),
        pre AS (
            SELECT decile, n, e,
                   SUM(n) OVER (ORDER BY decile
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) AS cn,
                   SUM(e) OVER (ORDER BY decile
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) AS ce
            FROM bins
        ),
        avgs AS (
            SELECT j.decile AS j, k.decile AS k,
                   CAST(k.ce - j.ce + j.e AS DOUBLE)
                       / (k.cn - j.cn + j.n) AS seg_avg
            FROM pre j JOIN pre k ON j.decile <= k.decile
        ),
        inner_min AS (
            SELECT a.j, i.decile AS i, MIN(a.seg_avg) AS mn
            FROM avgs a JOIN bins i
              ON a.j <= i.decile AND a.k >= i.decile
            GROUP BY a.j, i.decile
        ),
        iso AS (
            SELECT i AS decile, MAX(mn) AS iso_rate FROM inner_min GROUP BY i
        )
        SELECT b.decile, b.n AS n_customers, b.e AS n_event,
               round(CAST(b.e AS DOUBLE) / b.n, 9) AS raw_rate,
               round(iso.iso_rate, 9) AS iso_rate
        FROM bins b JOIN iso ON iso.decile = b.decile
    """,
)
def isotonic_calibration_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic regression — the standard score-calibration step (map a
    monotone score to well-ordered probabilities) — via the MINIMAX
    identity instead of the sequential pool-adjacent-violators sweep:
    iso(i) = max_{j≤i} min_{k≥i} wavg(e, n over bins j..k). The identity
    is what makes the fit RELATIONAL (three tiny joins over the decile
    rollup) and hence oracle-exact; classic PAV is inherently a
    left-to-right fold. Segment averages are single divisions of exact
    integer prefix-sum differences, so MIN/MAX argbits cannot flip
    between engines.

    Plan: the corpus work is one broadcast target join + one NTILE +
    one 10-row rollup; the O(bins³) minimax algebra runs on 10-row
    inputs (non-equi joins between broadcast-sized rollups — the ONLY
    place a nested-loop join appears, and it's 55×10 rows). At 100 TB
    the bins stay 10 rows; nothing here grows with the corpus.
    """
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    urgent = (
        o.filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_custkey")
        .distinct()
        .withColumn("event_flag", F.lit(1))
    )
    tgt = c.join(
        F.broadcast(urgent), c.c_custkey == urgent.o_custkey, "left"
    ).select(
        F.ntile(10)
        .over(W.orderBy(F.col("c_acctbal"), F.col("c_custkey")))
        .cast("bigint")
        .alias("decile"),
        F.coalesce(F.col("event_flag"), F.lit(0)).alias("event"),
    )
    bins = tgt.groupBy("decile").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("event").cast("bigint").alias("e"),
    )
    wcum = W.orderBy("decile").rowsBetween(W.unboundedPreceding, W.currentRow)
    pre = bins.select(
        "decile",
        "n",
        "e",
        F.sum("n").over(wcum).alias("cn"),
        F.sum("e").over(wcum).alias("ce"),
    )
    j, k = pre.alias("j"), pre.alias("k")
    avgs = j.join(k, F.col("j.decile") <= F.col("k.decile")).select(
        F.col("j.decile").alias("j"),
        F.col("k.decile").alias("k"),
        (
            (F.col("k.ce") - F.col("j.ce") + F.col("j.e")).cast("double")
            / (F.col("k.cn") - F.col("j.cn") + F.col("j.n"))
        ).alias("seg_avg"),
    )
    i = bins.select(F.col("decile").alias("i"))
    inner_min = (
        avgs.join(i, (F.col("j") <= F.col("i")) & (F.col("k") >= F.col("i")))
        .groupBy("j", "i")
        .agg(F.min("seg_avg").alias("mn"))
    )
    iso = inner_min.groupBy("i").agg(F.max("mn").alias("iso_rate"))
    return bins.join(iso, bins.decile == iso.i).select(
        "decile",
        F.col("n").alias("n_customers"),
        F.col("e").alias("n_event"),
        F.round(F.col("e").cast("double") / F.col("n"), 9).alias("raw_rate"),
        F.round("iso_rate", 9).alias("iso_rate"),
    )


# ---------------------------------------------------------------------------
# A/B power analysis / minimum detectable effect
# ---------------------------------------------------------------------------
@register(
    "ab_power_analysis",
    doc="required n per arm (80% power, two-sided 5%) and current MDE for the parity A/B",
    oracle="""
        WITH arms AS (
            SELECT user_id % 2 AS arm,
                   SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                       AS nv,
                   SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                       AS np
            FROM events GROUP BY user_id
        ),
        agg AS (
            SELECT arm,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(CASE WHEN np > nv THEN 1 ELSE 0 END) AS BIGINT)
                       AS x
            FROM arms WHERE nv > 0 GROUP BY arm
        ),
        wide AS (
            SELECT a.n AS n0, a.x AS x0, b.n AS n1, b.x AS x1
            FROM agg a, agg b WHERE a.arm = 0 AND b.arm = 1
        )
        SELECT n0, x0, n1, x1,
               round((1.959963984540054 + 0.8416212335729143)
                     * sqrt((CAST(x0 AS DOUBLE) / n0)
                            * (1.0 - CAST(x0 AS DOUBLE) / n0) / n0
                            + (CAST(x1 AS DOUBLE) / n1)
                              * (1.0 - CAST(x1 AS DOUBLE) / n1) / n1), 9)
                   AS mde_now,
               CASE WHEN CAST(x1 AS DOUBLE) / n1 = CAST(x0 AS DOUBLE) / n0
                    THEN NULL
                    ELSE CAST(ceil(
                        (1.959963984540054 + 0.8416212335729143)
                        * (1.959963984540054 + 0.8416212335729143)
                        * ((CAST(x0 AS DOUBLE) / n0)
                           * (1.0 - CAST(x0 AS DOUBLE) / n0)
                           + (CAST(x1 AS DOUBLE) / n1)
                             * (1.0 - CAST(x1 AS DOUBLE) / n1))
                        / ((CAST(x1 AS DOUBLE) / n1
                            - CAST(x0 AS DOUBLE) / n0)
                           * (CAST(x1 AS DOUBLE) / n1
                              - CAST(x0 AS DOUBLE) / n0))) AS BIGINT)
               END AS n_per_arm_80pct
        FROM wide
    """,
)
def ab_power_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The third leg of the experimentation suite (z-test readout →
    CUPED adjustment → THIS: was the experiment even big enough?):
    the minimum detectable effect at the current sample
    (z_{α/2}+z_β)·√(p₀q₀/n₀ + p₁q₁/n₁) and the per-arm n required for
    80% power at the observed effect. Rates come from the exact
    integer counts of ab_conversion_ztest; the z constants are double
    literals both engines parse identically; ceil on an IEEE-identical
    double is exact. δ=0 degenerates the n formula → NULL guard.

    Plan: identical single-exchange shape as ab_conversion_ztest —
    per-user flags, 2-row rollup, 1×1 combine.
    """
    ev = _t(spark, sf_dir, "events")
    arms = (
        ev.groupBy("user_id")
        .agg(
            F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0)).alias(
                "nv"
            ),
            F.sum(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).alias("np"),
        )
        .filter(F.col("nv") > 0)
        .select((F.col("user_id") % 2).alias("arm"), "nv", "np")
    )
    agg = arms.groupBy("arm").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.when(F.col("np") > F.col("nv"), 1).otherwise(0))
        .cast("bigint")
        .alias("x"),
    )
    a = agg.filter(F.col("arm") == 0).select(
        F.col("n").alias("n0"), F.col("x").alias("x0")
    )
    b = agg.filter(F.col("arm") == 1).select(
        F.col("n").alias("n1"), F.col("x").alias("x1")
    )
    w = a.crossJoin(F.broadcast(b))
    zsum = F.lit(1.959963984540054) + F.lit(0.8416212335729143)
    p0 = F.col("x0").cast("double") / F.col("n0")
    p1 = F.col("x1").cast("double") / F.col("n1")
    mde = zsum * F.sqrt(
        p0 * (1.0 - p0) / F.col("n0") + p1 * (1.0 - p1) / F.col("n1")
    )
    n_req = F.when(p1 == p0, F.lit(None).cast("bigint")).otherwise(
        F.ceil(
            zsum * zsum * (p0 * (1.0 - p0) + p1 * (1.0 - p1))
            / ((p1 - p0) * (p1 - p0))
        ).cast("bigint")
    )
    return w.select(
        "n0",
        "x0",
        "n1",
        "x1",
        F.round(mde, 9).alias("mde_now"),
        n_req.alias("n_per_arm_80pct"),
    )


# ---------------------------------------------------------------------------
# Difference-in-differences readout
# ---------------------------------------------------------------------------
@register(
    "diff_in_diff_readout",
    doc="2x2 difference-in-differences of per-user purchase spend (parity arms x half-month)",
    oracle="""
        WITH cell_user AS (
            SELECT user_id % 2 AS arm,
                   CASE WHEN day(ts) <= 15 THEN 0 ELSE 1 END AS period,
                   user_id,
                   CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                       AS cents
            FROM events WHERE event_type = 'purchase'
            GROUP BY 1, 2, 3
        ),
        cells AS (
            SELECT arm, period,
                   CAST(COUNT(*) AS BIGINT) AS n_users,
                   CAST(SUM(cents) AS BIGINT) AS tot
            FROM cell_user GROUP BY arm, period
        ),
        wide AS (
            SELECT MAX(CASE WHEN arm = 0 AND period = 0
                            THEN CAST(tot AS DOUBLE) / n_users END) AS m00,
                   MAX(CASE WHEN arm = 0 AND period = 1
                            THEN CAST(tot AS DOUBLE) / n_users END) AS m01,
                   MAX(CASE WHEN arm = 1 AND period = 0
                            THEN CAST(tot AS DOUBLE) / n_users END) AS m10,
                   MAX(CASE WHEN arm = 1 AND period = 1
                            THEN CAST(tot AS DOUBLE) / n_users END) AS m11
            FROM cells
        )
        SELECT round(m00 / 100.0, 9) AS ctrl_pre,
               round(m01 / 100.0, 9) AS ctrl_post,
               round(m10 / 100.0, 9) AS treat_pre,
               round(m11 / 100.0, 9) AS treat_post,
               round((m11 - m10) / 100.0, 9) AS treat_delta,
               round((m01 - m00) / 100.0, 9) AS ctrl_delta,
               round(((m11 - m10) - (m01 - m00)) / 100.0, 9) AS did_estimate
        FROM wide
    """,
)
def diff_in_diff_readout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences — the fourth leg of the causal suite
    (z-test, CUPED, power, THIS): the 2×2 of mean per-user purchase
    spend over parity arms × half-month periods, the per-group deltas,
    and the DiD estimate (Δtreat − Δctrl) that nets out the shared time
    trend. Per-user cent totals are exact integers; each cell mean is
    one division, and the estimate is one fixed subtraction chain
    rounded at 9.

    Plan: one (arm, period, user) aggregate riding the user_id hash
    partitioning, a 4-row cell rollup, a 1-row pivot. One corpus
    exchange.
    """
    ev = _t(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    cell_user = (
        ev.select(
            (F.col("user_id") % 2).alias("arm"),
            F.when(F.dayofmonth("ts") <= 15, 0).otherwise(1).alias("period"),
            "user_id",
            F.round(F.col("value") * 100).cast("bigint").alias("cents"),
        )
        .groupBy("arm", "period", "user_id")
        .agg(F.sum("cents").cast("bigint").alias("cents"))
    )
    cells = cell_user.groupBy("arm", "period").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.sum("cents").cast("bigint").alias("tot"),
    )
    mean = F.col("tot").cast("double") / F.col("n_users")
    wide = cells.agg(
        F.max(F.when((F.col("arm") == 0) & (F.col("period") == 0), mean)).alias("m00"),
        F.max(F.when((F.col("arm") == 0) & (F.col("period") == 1), mean)).alias("m01"),
        F.max(F.when((F.col("arm") == 1) & (F.col("period") == 0), mean)).alias("m10"),
        F.max(F.when((F.col("arm") == 1) & (F.col("period") == 1), mean)).alias("m11"),
    )
    return wide.select(
        F.round(F.col("m00") / 100.0, 9).alias("ctrl_pre"),
        F.round(F.col("m01") / 100.0, 9).alias("ctrl_post"),
        F.round(F.col("m10") / 100.0, 9).alias("treat_pre"),
        F.round(F.col("m11") / 100.0, 9).alias("treat_post"),
        F.round((F.col("m11") - F.col("m10")) / 100.0, 9).alias("treat_delta"),
        F.round((F.col("m01") - F.col("m00")) / 100.0, 9).alias("ctrl_delta"),
        F.round(
            ((F.col("m11") - F.col("m10")) - (F.col("m01") - F.col("m00")))
            / 100.0,
            9,
        ).alias("did_estimate"),
    )


# ---------------------------------------------------------------------------
# Fisher LDA quality classifier (round 7)
# ---------------------------------------------------------------------------
@register(
    "fisher_lda_quality",
    doc="Fisher LDA 'is-English' classifier from exact integer moments: weights, threshold, confusion",
    oracle="""
        WITH feats AS (
            SELECT CAST(n_chars AS BIGINT) AS x1,
                   CAST(len(string_split(text, ' ')) AS BIGINT) AS x2,
                   lang = 'en' AS y
            FROM documents
        ),
        m AS (
            SELECT CAST(COUNT(*) FILTER (NOT y) AS BIGINT) AS n0,
                   CAST(COUNT(*) FILTER (y) AS BIGINT) AS n1,
                   CAST(SUM(x1) FILTER (NOT y) AS BIGINT) AS sx1_0,
                   CAST(SUM(x2) FILTER (NOT y) AS BIGINT) AS sx2_0,
                   CAST(SUM(x1) FILTER (y) AS BIGINT) AS sx1_1,
                   CAST(SUM(x2) FILTER (y) AS BIGINT) AS sx2_1,
                   CAST(SUM(x1 * x1) FILTER (NOT y) AS BIGINT) AS s11_0,
                   CAST(SUM(x2 * x2) FILTER (NOT y) AS BIGINT) AS s22_0,
                   CAST(SUM(x1 * x2) FILTER (NOT y) AS BIGINT) AS s12_0,
                   CAST(SUM(x1 * x1) FILTER (y) AS BIGINT) AS s11_1,
                   CAST(SUM(x2 * x2) FILTER (y) AS BIGINT) AS s22_1,
                   CAST(SUM(x1 * x2) FILTER (y) AS BIGINT) AS s12_1
            FROM feats
        ),
        fit AS (
            SELECT *,
                   CASE WHEN n0 > 0 AND n1 > 0 THEN
                       (CAST(s11_0 AS DOUBLE) - CAST(sx1_0 * sx1_0 AS DOUBLE) / n0)
                     + (CAST(s11_1 AS DOUBLE) - CAST(sx1_1 * sx1_1 AS DOUBLE) / n1)
                   END AS a11,
                   CASE WHEN n0 > 0 AND n1 > 0 THEN
                       (CAST(s22_0 AS DOUBLE) - CAST(sx2_0 * sx2_0 AS DOUBLE) / n0)
                     + (CAST(s22_1 AS DOUBLE) - CAST(sx2_1 * sx2_1 AS DOUBLE) / n1)
                   END AS a22,
                   CASE WHEN n0 > 0 AND n1 > 0 THEN
                       (CAST(s12_0 AS DOUBLE) - CAST(sx1_0 * sx2_0 AS DOUBLE) / n0)
                     + (CAST(s12_1 AS DOUBLE) - CAST(sx1_1 * sx2_1 AS DOUBLE) / n1)
                   END AS a12,
                   CASE WHEN n0 > 0 AND n1 > 0 THEN
                       CAST(sx1_1 AS DOUBLE) / n1 - CAST(sx1_0 AS DOUBLE) / n0
                   END AS d1,
                   CASE WHEN n0 > 0 AND n1 > 0 THEN
                       CAST(sx2_1 AS DOUBLE) / n1 - CAST(sx2_0 AS DOUBLE) / n0
                   END AS d2
            FROM m
        ),
        wfit AS (
            SELECT *,
                   CASE WHEN a11 * a22 - a12 * a12 <> 0 THEN
                       (a22 * d1 - a12 * d2) / (a11 * a22 - a12 * a12) END AS w1,
                   CASE WHEN a11 * a22 - a12 * a12 <> 0 THEN
                       (a11 * d2 - a12 * d1) / (a11 * a22 - a12 * a12) END AS w2
            FROM fit
        ),
        model AS (
            SELECT n0, n1, w1, w2,
                   CASE WHEN n0 > 0 AND n1 > 0 THEN
                       (w1 * (CAST(sx1_0 AS DOUBLE) / n0
                              + CAST(sx1_1 AS DOUBLE) / n1)
                        + w2 * (CAST(sx2_0 AS DOUBLE) / n0
                                + CAST(sx2_1 AS DOUBLE) / n1)) / 2 END AS thr
            FROM wfit
        ),
        conf AS (
            SELECT CAST(COUNT(*) FILTER (
                       f.w1 * f.x1 + f.w2 * f.x2 > f.thr AND f.y
                   ) AS BIGINT) AS tp,
                   CAST(COUNT(*) FILTER (
                       f.w1 * f.x1 + f.w2 * f.x2 > f.thr AND NOT f.y
                   ) AS BIGINT) AS fp,
                   CAST(COUNT(*) FILTER (
                       NOT (f.w1 * f.x1 + f.w2 * f.x2 > f.thr) AND f.y
                   ) AS BIGINT) AS fn,
                   CAST(COUNT(*) FILTER (
                       NOT (f.w1 * f.x1 + f.w2 * f.x2 > f.thr) AND NOT f.y
                   ) AS BIGINT) AS tn
            FROM (SELECT feats.*, model.w1, model.w2, model.thr
                  FROM feats CROSS JOIN model) f
        )
        SELECT model.n0 + model.n1 AS n_docs,
               round(model.w1, 12) AS w1,
               round(model.w2, 12) AS w2,
               round(model.thr, 9) AS threshold,
               conf.tp, conf.fp, conf.fn, conf.tn,
               CASE WHEN model.n0 + model.n1 > 0 THEN
                   CAST(conf.tp + conf.tn AS DOUBLE) / (model.n0 + model.n1)
               END AS accuracy
        FROM model CROSS JOIN conf
    """,
)
def fisher_lda_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fisher's linear discriminant (Fisher 1936) as a corpus quality /
    language classifier — the closed-form cousin of the fastText linear
    classifiers CCNet-style pipelines use for quality scoring. Features
    are INTEGERS (n_chars, whitespace word count), label = lang='en';
    the fit needs only per-class integer moment sums (n, Σx, Σx², Σxy),
    so w = S_w⁻¹(μ₁−μ₀) and the midpoint threshold come out of a 2×2
    closed-form inverse whose IEEE expression tree is mirrored verbatim
    in the DuckDB twin — bitwise equal, no iteration, no exp().

    On this synthetic corpus accuracy sits at chance (~0.49): every
    lang draws from the SAME length/vocab distributions (verified:
    per-lang mean chars/words/stopword-frac all within noise), the
    same signal-free property the lang_id family documents. The oracle
    therefore checks the exact fit (weights, threshold, confusion
    counts), not separability — which is the part the engine owns.

    Plan: TWO corpus passes, both one map-side-combined aggregate with
    no shuffle of raw rows — pass 1 reduces to the 12 BIGINT moments
    (1-row broadcast), pass 2 scores each doc against the broadcast
    model and reduces to the confusion counts. At 100 TB the moment
    sums widen to DECIMAL(38,0) (Σx² at ~1e13 per 500 docs here; the
    overflow margin is documented, not load-bearing at test SF).
    reference: SURVEY §2.11 (curation tier); CCNet (Wenzek et al.
    2020) uses a linear classifier in the same pipeline position.
    """
    docs = _t(spark, sf_dir, "documents")
    feats = docs.select(
        F.col("n_chars").cast("bigint").alias("x1"),
        F.size(F.split("text", " ")).cast("bigint").alias("x2"),
        (F.col("lang") == "en").alias("y"),
    )
    yes, no = F.col("y"), ~F.col("y")

    def _csum(expr, cond, name):
        return F.sum(F.when(cond, expr)).cast("bigint").alias(name)

    m = feats.agg(
        F.count(F.when(no, 1)).cast("bigint").alias("n0"),
        F.count(F.when(yes, 1)).cast("bigint").alias("n1"),
        _csum(F.col("x1"), no, "sx1_0"),
        _csum(F.col("x2"), no, "sx2_0"),
        _csum(F.col("x1"), yes, "sx1_1"),
        _csum(F.col("x2"), yes, "sx2_1"),
        _csum(F.col("x1") * F.col("x1"), no, "s11_0"),
        _csum(F.col("x2") * F.col("x2"), no, "s22_0"),
        _csum(F.col("x1") * F.col("x2"), no, "s12_0"),
        _csum(F.col("x1") * F.col("x1"), yes, "s11_1"),
        _csum(F.col("x2") * F.col("x2"), yes, "s22_1"),
        _csum(F.col("x1") * F.col("x2"), yes, "s12_1"),
    )

    def _sc(pre, n):  # Σx² − (Σx)²/n per class, summed — scatter entry
        a, b = pre
        return (
            F.col(f"s{a}{b}_0").cast("double")
            - (F.col(f"sx{a}_0") * F.col(f"sx{b}_0")).cast("double") / F.col("n0")
        ) + (
            F.col(f"s{a}{b}_1").cast("double")
            - (F.col(f"sx{a}_1") * F.col(f"sx{b}_1")).cast("double") / F.col("n1")
        )

    # both classes must be present for any moment ratio to exist: NULL
    # under guards mirrored in the oracle (empty-corpus convention)
    both = (F.col("n0") > 0) & (F.col("n1") > 0)
    fit = m.select(
        "*",
        F.when(both, _sc((1, 1), None)).alias("a11"),
        F.when(both, _sc((2, 2), None)).alias("a22"),
        F.when(both, _sc((1, 2), None)).alias("a12"),
        F.when(
            both,
            F.col("sx1_1").cast("double") / F.col("n1")
            - F.col("sx1_0").cast("double") / F.col("n0"),
        ).alias("d1"),
        F.when(
            both,
            F.col("sx2_1").cast("double") / F.col("n1")
            - F.col("sx2_0").cast("double") / F.col("n0"),
        ).alias("d2"),
    )
    det = F.col("a11") * F.col("a22") - F.col("a12") * F.col("a12")
    wfit = fit.select(
        "*",
        F.when(
            det != 0,
            (F.col("a22") * F.col("d1") - F.col("a12") * F.col("d2")) / det,
        ).alias("w1"),
        F.when(
            det != 0,
            (F.col("a11") * F.col("d2") - F.col("a12") * F.col("d1")) / det,
        ).alias("w2"),
    )
    model = wfit.select(
        "n0",
        "n1",
        "w1",
        "w2",
        F.when(
            both,
            (
                F.col("w1")
                * (
                    F.col("sx1_0").cast("double") / F.col("n0")
                    + F.col("sx1_1").cast("double") / F.col("n1")
                )
                + F.col("w2")
                * (
                    F.col("sx2_0").cast("double") / F.col("n0")
                    + F.col("sx2_1").cast("double") / F.col("n1")
                )
            )
            / 2,
        ).alias("thr"),
    )
    scored = feats.crossJoin(F.broadcast(model))
    pred = F.col("w1") * F.col("x1") + F.col("w2") * F.col("x2") > F.col("thr")
    conf = scored.agg(
        F.count(F.when(pred & yes, 1)).cast("bigint").alias("tp"),
        F.count(F.when(pred & no, 1)).cast("bigint").alias("fp"),
        F.count(F.when(~pred & yes, 1)).cast("bigint").alias("fn"),
        F.count(F.when(~pred & no, 1)).cast("bigint").alias("tn"),
    )
    return (
        model.crossJoin(F.broadcast(conf))
        .select(
            (F.col("n0") + F.col("n1")).alias("n_docs"),
            F.round("w1", 12).alias("w1"),
            F.round("w2", 12).alias("w2"),
            F.round("thr", 9).alias("threshold"),
            "tp",
            "fp",
            "fn",
            "tn",
            F.when(
                F.col("n0") + F.col("n1") > 0,
                (F.col("tp") + F.col("tn")).cast("double")
                / (F.col("n0") + F.col("n1")),
            ).alias("accuracy"),
        )
    )


# ---------------------------------------------------------------------------
# Hill tail-index estimator (round 7)
# ---------------------------------------------------------------------------
_HILL_K = 50


@register(
    "hill_tail_index",
    doc=f"Hill tail-index over doc token counts: top-{_HILL_K} order statistics",
    oracle=f"""
        WITH lens AS (
            SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
            FROM documents
        ),
        top AS (
            SELECT n_tokens FROM lens
            ORDER BY n_tokens DESC LIMIT {_HILL_K + 1}
        ),
        thr AS (SELECT MIN(n_tokens) AS x_thr FROM top),
        terms AS (
            SELECT round(ln(CAST(t.n_tokens AS DOUBLE) / x.x_thr), 12) AS term
            FROM top t CROSS JOIN thr x
        ),
        g AS (
            SELECT round(
                list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                    list_sort(list(term))), (a, b) -> a + b)
                / {_HILL_K}, 9) AS hill_gamma
            FROM terms
        )
        SELECT CAST({_HILL_K} AS BIGINT) AS k,
               (SELECT x_thr FROM thr) AS x_threshold,
               hill_gamma,
               CASE WHEN hill_gamma > 0
                    THEN round(1.0 / hill_gamma, 9) END AS hill_alpha
        FROM g
    """,
)
def hill_tail_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hill estimator (Hill 1975) of the tail index of the document
    length distribution: web-corpus doc lengths are heavy-tailed, and
    the tail exponent decides how length caps and packing bins should
    be sized.
    gamma = (1/k) * sum_(i<=k) ln(X_(i) / X_(k+1)) over the descending
    order statistics; alpha = 1/gamma. Rows TIED at the threshold
    contribute ln(1)=0, so which tied row the LIMIT keeps cannot change
    the sum — the estimate depends only on the top-(k+1) VALUE multiset,
    which is deterministic. ln at 12 dp, sorted fold, gamma at 9,
    alpha from the rounded gamma.

    Plan: the corpus pass is a scan-side token count into a distributed
    TakeOrdered(k+1) — partial top-k per partition, driver heap merge;
    everything after runs on {_HILL_K + 1} rows with the threshold as a
    1-row broadcast. At 100 TB the only corpus-sized work is the scan.
    reference: SURVEY §2.11 (stats/eval tier).
    """
    docs_path = f"{sf_dir}/documents.parquet"
    docs = spark.read.parquet(docs_path)
    lens = docs.select(
        F.size(F.split("text", " ")).cast("bigint").alias("n_tokens")
    )
    top = lens.orderBy(F.col("n_tokens").desc()).limit(_HILL_K + 1)
    thr = top.agg(F.min("n_tokens").alias("x_thr"))
    terms = top.crossJoin(F.broadcast(thr)).select(
        F.round(
            F.log(F.col("n_tokens").cast("double") / F.col("x_thr")), 12
        ).alias("term")
    )
    fold = F.aggregate(
        F.array_sort(F.collect_list("term")),
        F.lit(0.0),
        lambda a, x: a + x,
    )
    g = terms.agg(F.round(fold / _HILL_K, 9).alias("hill_gamma"))
    return g.crossJoin(F.broadcast(thr)).select(
        F.lit(_HILL_K).cast("bigint").alias("k"),
        F.col("x_thr").alias("x_threshold"),
        "hill_gamma",
        # gamma = 0 (empty corpus, or all top-(k+1) lengths tied) has no
        # tail index: NULL under a guard mirrored in the oracle
        F.when(
            F.col("hill_gamma") > 0, F.round(1.0 / F.col("hill_gamma"), 9)
        ).alias("hill_alpha"),
    )


# ---------------------------------------------------------------------------
# Fellegi-Sunter probabilistic record linkage (round 8)
# ---------------------------------------------------------------------------
# Fixed literature-style (m, u) parameters; the log-weights are computed
# ONCE in Python and embedded as identical double literals in both
# engines (no ln() at query time), so the 3-term score sum is a fixed
# IEEE expression: name (m=.95, u=.001), nation (m=.9, u=.04 ~ 1/25),
# balance-bucket (m=.85, u=.1).
_FS_W = {
    "name": (6.856461984594587, -2.9947317732204066),
    "nation": (3.1135153092103742, -2.2617630984737906),
    "bal": (2.1400661634962708, -1.791759469228055),
}
_FS_LINK_T = 5.0


@register(
    "fellegi_sunter_linkage",
    doc="Fellegi-Sunter linkage: blocked A x dirtied-B pairs scored with fixed m/u log-weights",
    oracle=f"""
        WITH a_side AS (
            SELECT c_custkey, c_name, c_nationkey, c_mktsegment,
                   CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS bal_bucket
            FROM customer
        ),
        b_side AS (
            SELECT c_custkey,
                   CASE WHEN c_custkey % 3 = 0 THEN c_name || 'x'
                        ELSE c_name END AS name_b,
                   CASE WHEN c_custkey % 5 = 0
                        THEN CAST((c_nationkey + 1) % 25 AS INTEGER)
                        ELSE c_nationkey END AS nation_b,
                   c_mktsegment,
                   CAST(floor(c_acctbal / 1000.0) AS BIGINT)
                       + CASE WHEN c_custkey % 7 = 0 THEN 1 ELSE 0 END
                       AS bal_bucket_b
            FROM customer
        ),
        scored AS (
            SELECT a.c_custkey AS custkey_a, b.c_custkey AS custkey_b,
                   CAST(a.c_name = b.name_b AS INT) AS agree_name,
                   CAST(a.c_nationkey = b.nation_b AS INT) AS agree_nation,
                   CAST(a.bal_bucket = b.bal_bucket_b AS INT) AS agree_bal,
                   (CASE WHEN a.c_name = b.name_b
                         THEN {_FS_W['name'][0]!r} ELSE {_FS_W['name'][1]!r} END
                    + CASE WHEN a.c_nationkey = b.nation_b
                           THEN {_FS_W['nation'][0]!r} ELSE {_FS_W['nation'][1]!r} END
                    + CASE WHEN a.bal_bucket = b.bal_bucket_b
                           THEN {_FS_W['bal'][0]!r} ELSE {_FS_W['bal'][1]!r} END)
                       AS score
            FROM a_side a JOIN b_side b
              ON a.c_mktsegment = b.c_mktsegment
             AND a.bal_bucket = b.bal_bucket_b
        )
        SELECT custkey_a, custkey_b, agree_name, agree_nation, agree_bal,
               round(score, 9) AS score,
               CASE WHEN score > {_FS_LINK_T!r} THEN 'link'
                    ELSE 'possible' END AS decision,
               CAST(custkey_a = custkey_b AS INT) AS is_true_match
        FROM scored
        WHERE score > 0
    """,
)
def fellegi_sunter_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fellegi-Sunter probabilistic record linkage (Fellegi & Sunter
    1969 JASA; the Splink/record-linkage standard): A = customers, B =
    a deterministically dirtied copy (every 3rd name typo'd, every 5th
    nation shifted, every 7th balance bucket bumped — a corruption
    both engines replay); candidate pairs
    come from BLOCKING on (mktsegment, balance bucket); each pair's
    agreement vector on (name, nation, balance-bucket) is scored with
    fixed (m, u) log-weights ln(m/u) / ln((1-m)/(1-u)) embedded as
    identical double literals, and score > {t} classifies a link. The
    `is_true_match` column (same custkey) makes precision/recall
    readable straight off the output — the bucket-bumped records'
    true pairs fall OUT of the block, the honest cost of single-pass
    blocking that multi-pass deployments fix.

    Exactness: agreements are integer comparisons; the score is a
    fixed-order sum of three double literals — bitwise-identical in
    both engines; no ln() at query time.

    Scale: the pair space is Sigma |block_A| x |block_B| — bounded by
    the blocking key's selectivity, never corpus-quadratic (the
    entity_resolution_blocked / FastSS shape); scoring is a scan-side
    expression on the joined pairs.
    """
    cust = _t(spark, sf_dir, "customer")
    bucket = F.floor(F.col("c_acctbal") / 1000.0).cast("bigint")
    a_side = cust.select(
        F.col("c_custkey").alias("custkey_a"),
        F.col("c_name").alias("name_a"),
        F.col("c_nationkey").alias("nation_a"),
        "c_mktsegment",
        bucket.alias("bal_bucket"),
    )
    b_side = cust.select(
        F.col("c_custkey").alias("custkey_b"),
        F.when(F.col("c_custkey") % 3 == 0, F.concat(F.col("c_name"), F.lit("x")))
        .otherwise(F.col("c_name"))
        .alias("name_b"),
        F.when(
            F.col("c_custkey") % 5 == 0,
            ((F.col("c_nationkey") + 1) % 25).cast("int"),
        )
        .otherwise(F.col("c_nationkey"))
        .alias("nation_b"),
        "c_mktsegment",
        (
            bucket
            + F.when(F.col("c_custkey") % 7 == 0, 1).otherwise(0)
        ).alias("bal_bucket_b"),
    )
    pairs = a_side.join(
        b_side,
        (a_side.c_mktsegment == b_side.c_mktsegment)
        & (F.col("bal_bucket") == F.col("bal_bucket_b")),
    )
    agree_name = F.col("name_a") == F.col("name_b")
    agree_nation = F.col("nation_a") == F.col("nation_b")
    agree_bal = F.col("bal_bucket") == F.col("bal_bucket_b")
    score = (
        F.when(agree_name, F.lit(_FS_W["name"][0])).otherwise(F.lit(_FS_W["name"][1]))
        + F.when(agree_nation, F.lit(_FS_W["nation"][0])).otherwise(
            F.lit(_FS_W["nation"][1])
        )
        + F.when(agree_bal, F.lit(_FS_W["bal"][0])).otherwise(F.lit(_FS_W["bal"][1]))
    )
    return (
        pairs.select(
            "custkey_a",
            "custkey_b",
            agree_name.cast("int").alias("agree_name"),
            agree_nation.cast("int").alias("agree_nation"),
            agree_bal.cast("int").alias("agree_bal"),
            score.alias("score_raw"),
        )
        .filter(F.col("score_raw") > 0)
        .select(
            "custkey_a",
            "custkey_b",
            "agree_name",
            "agree_nation",
            "agree_bal",
            F.round("score_raw", 9).alias("score"),
            F.when(F.col("score_raw") > _FS_LINK_T, "link")
            .otherwise("possible")
            .alias("decision"),
            (F.col("custkey_a") == F.col("custkey_b")).cast("int").alias("is_true_match"),
        )
    )


fellegi_sunter_linkage.__doc__ = fellegi_sunter_linkage.__doc__.format(t=_FS_LINK_T)


# ---------------------------------------------------------------------------
# Entity resolution end-to-end: FS links → components → golden record (r9)
# ---------------------------------------------------------------------------
@register(
    "entity_golden_record",
    doc="MDM golden records: Fellegi-Sunter links -> connected components -> deterministic survivorship per entity cluster",
    oracle=f"""
        WITH a_side AS (
            SELECT c_custkey, c_name, c_nationkey, c_mktsegment,
                   CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS bal_bucket
            FROM customer
        ),
        b_side AS (
            SELECT c_custkey,
                   CASE WHEN c_custkey % 3 = 0 THEN c_name || 'x'
                        ELSE c_name END AS name_b,
                   CASE WHEN c_custkey % 5 = 0
                        THEN CAST((c_nationkey + 1) % 25 AS INTEGER)
                        ELSE c_nationkey END AS nation_b,
                   c_mktsegment,
                   CAST(floor(c_acctbal / 1000.0) AS BIGINT)
                       + CASE WHEN c_custkey % 7 = 0 THEN 1 ELSE 0 END
                       AS bal_bucket_b
            FROM customer
        ),
        links AS (
            SELECT a.c_custkey * 2 AS src, b.c_custkey * 2 + 1 AS dst
            FROM a_side a JOIN b_side b
              ON a.c_mktsegment = b.c_mktsegment
             AND a.bal_bucket = b.bal_bucket_b
            WHERE (CASE WHEN a.c_name = b.name_b
                        THEN {_FS_W['name'][0]!r} ELSE {_FS_W['name'][1]!r} END
                 + CASE WHEN a.c_nationkey = b.nation_b
                        THEN {_FS_W['nation'][0]!r} ELSE {_FS_W['nation'][1]!r} END
                 + CASE WHEN a.bal_bucket = b.bal_bucket_b
                        THEN {_FS_W['bal'][0]!r} ELSE {_FS_W['bal'][1]!r} END)
                   > {_FS_LINK_T!r}
        ),
        bidir AS (
            SELECT src, dst FROM links
            UNION SELECT dst, src FROM links
        ),
        reach AS (
            WITH RECURSIVE r(src, dst) AS (
                SELECT src, dst FROM bidir
                UNION
                SELECT r.src, b.dst FROM r JOIN bidir b ON r.dst = b.src
            ) SELECT * FROM r
        ),
        nodes AS (SELECT DISTINCT src AS node FROM bidir),
        comp AS (
            SELECT n.node,
                   LEAST(n.node, COALESCE(MIN(r.dst), n.node)) AS cluster_id
            FROM nodes n LEFT JOIN reach r ON r.src = n.node
            GROUP BY n.node
        ),
        members AS (
            SELECT comp.cluster_id, comp.node,
                   CAST(comp.node // 2 AS BIGINT) AS base_custkey,
                   CASE WHEN comp.node % 2 = 0 THEN a.c_name ELSE b.name_b END
                       AS name,
                   CASE WHEN comp.node % 2 = 0 THEN a.c_nationkey
                        ELSE b.nation_b END AS nation
            FROM comp
            LEFT JOIN a_side a
              ON comp.node % 2 = 0 AND a.c_custkey = comp.node // 2
            LEFT JOIN b_side b
              ON comp.node % 2 = 1 AND b.c_custkey = comp.node // 2
        )
        SELECT cluster_id,
               CAST(COUNT(*) AS BIGINT) AS n_members,
               CAST(COUNT(DISTINCT base_custkey) AS BIGINT) AS n_customers,
               MIN(name) AS golden_name,
               CAST(MIN(nation) AS INT) AS golden_nation,
               COUNT(DISTINCT base_custkey) = 1 AS pure
        FROM members
        GROUP BY cluster_id
        HAVING COUNT(*) >= 2
        ORDER BY cluster_id
    """,
)
def entity_golden_record(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The master-data-management capstone the linkage score feeds:
    Fellegi-Sunter 'link' decisions (the fellegi_sunter_linkage pair
    set above threshold) become edges between the A-side and dirtied
    B-side records (node id = custkey*2 / custkey*2+1), transitive
    closure groups them into ENTITY CLUSTERS (pointer-jumping
    connected components, operators/graph.py — the DuckDB twin uses a
    recursive CTE), and deterministic survivorship rules produce one
    golden record per multi-member cluster (MIN name / MIN nation —
    priority rules a real MDM system would parameterize). `pure`
    flags clusters that resolve to exactly one underlying customer —
    the linkage-precision signal at the ENTITY level (pair-level
    precision lives in fellegi_sunter_linkage).

    Scale: edges come from the blocked FS join (pair fan-out bounded
    by the (segment, balance-bucket) blocking); components are
    O(log diameter) pointer-jumping rounds, checkpointed; survivorship
    is one hash aggregate per cluster. Nothing is corpus-quadratic.
    reference: SURVEY §2.11 (dedup/linkage tier).
    """
    from dynaledger_spark.operators.graph import connected_components

    cust = _t(spark, sf_dir, "customer")
    a_side = cust.select(
        "c_custkey",
        "c_name",
        "c_nationkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") / 1000.0).cast("bigint").alias("bal_bucket"),
    )
    b_side = cust.select(
        "c_custkey",
        F.when(F.col("c_custkey") % 3 == 0, F.concat(F.col("c_name"), F.lit("x")))
        .otherwise(F.col("c_name"))
        .alias("name_b"),
        F.when(F.col("c_custkey") % 5 == 0, ((F.col("c_nationkey") + 1) % 25).cast("int"))
        .otherwise(F.col("c_nationkey"))
        .alias("nation_b"),
        "c_mktsegment",
        (
            F.floor(F.col("c_acctbal") / 1000.0).cast("bigint")
            + F.when(F.col("c_custkey") % 7 == 0, 1).otherwise(0)
        ).alias("bal_bucket_b"),
    )
    w_name, w_nation, w_bal = _FS_W["name"], _FS_W["nation"], _FS_W["bal"]
    score = (
        F.when(F.col("c_name") == F.col("name_b"), F.lit(w_name[0])).otherwise(
            F.lit(w_name[1])
        )
        + F.when(F.col("c_nationkey") == F.col("nation_b"), F.lit(w_nation[0])).otherwise(
            F.lit(w_nation[1])
        )
        + F.when(F.col("bal_bucket") == F.col("bal_bucket_b"), F.lit(w_bal[0])).otherwise(
            F.lit(w_bal[1])
        )
    )
    links = (
        a_side.alias("a")
        .join(
            b_side.alias("b"),
            (F.col("a.c_mktsegment") == F.col("b.c_mktsegment"))
            & (F.col("a.bal_bucket") == F.col("b.bal_bucket_b")),
        )
        .filter(score > _FS_LINK_T)
        .select(
            (F.col("a.c_custkey") * 2).alias("src"),
            (F.col("b.c_custkey") * 2 + 1).alias("dst"),
        )
    )
    nodes = (
        links.select(F.col("src").alias("id"))
        .unionAll(links.select(F.col("dst").alias("id")))
        .distinct()
    )
    comp = connected_components(nodes, links, node_col="id")
    a_attrs = a_side.select(
        (F.col("c_custkey") * 2).alias("node"),
        F.col("c_name").alias("name"),
        F.col("c_nationkey").alias("nation"),
    )
    b_attrs = b_side.select(
        (F.col("c_custkey") * 2 + 1).alias("node"),
        F.col("name_b").alias("name"),
        F.col("nation_b").alias("nation"),
    )
    members = comp.select(F.col("node"), F.col("component").alias("cluster_id")).join(
        a_attrs.unionByName(b_attrs), "node"
    )
    return (
        members.groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_members"),
            F.count_distinct(F.floor(F.col("node") / 2)).cast("bigint").alias(
                "n_customers"
            ),
            F.min("name").alias("golden_name"),
            F.min("nation").cast("int").alias("golden_nation"),
            (F.count_distinct(F.floor(F.col("node") / 2)) == 1).alias("pure"),
        )
        .filter(F.col("n_members") >= 2)
        .orderBy("cluster_id")
    )
