"""Training-data-pipeline queries, round 3: corpus curation operators.

Beyond the round-1/2 surface (dedup families, text stats, sampling)
these add the remaining steps of a production
pretraining-data pipeline:

  * corpus scoring & filtering — TF-IDF top terms, Gopher-style
    repetition/quality heuristics, z-score outlier flags, per-group
    trend slopes (exact-moment regression);
  * safety & leakage — benchmark n-gram decontamination, regex PII
    redaction with match accounting;
  * dedup at ingest — incremental batch-vs-corpus anti-join;
  * subsetting — quality-weighted sampling, mixture rebalancing to
    target source shares, token-budget quota selection;
  * batch preparation — sliding-window chunking, per-shard greedy
    sequence packing, and the whole pipeline composed end-to-end
    (curation_pipeline_e2e: dedup → quality → decontaminate → sample →
    chunk in ONE Catalyst plan, re-derived wholesale by the oracle);
  * embeddings — int8 quantization with exact checksums, per-label
    centroids (order-forced exact float sums);
  * time series & relational — hourly OHLC rollup (one Exchange),
    linear gap-fill interpolation, interval×interval overlap join
    (exactly-once via first-shared-bucket), SCD2 dimension build,
    fixed-width histograms, sorted distinct-set aggregation, and the
    skew-salted join proven result-identical to the plain join.

Every query here is oracle-exact. The determinism patterns, in
increasing order of subtlety: integer/boolean outputs; single IEEE ops
on int-derived doubles; DECIMAL-accumulated sums (portable ONLY for
short-decimal inputs — DuckDB's double→decimal cast rounds through a
double multiply, so float-derived values need the sorted-fold trick in
label_centroids instead); subtract-then-truncate for timestamp deltas;
centered regressors before second moments (cancellation); and 9-12
decimal rounding only where a final division's last ulp can differ.
No UDFs anywhere — all JVM expression trees plus shuffles Catalyst
plans; plan shapes are pinned in tests/test_plans.py.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from dynaledger_spark.functions.agg import dsum, osum as _osum
from dynaledger_spark.plans.queries_text import _docs
from dynaledger_spark.plans.registry import register


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    from dynaledger_spark.catalog import read_table

    return read_table(spark, sf_dir, name)


def _docs_by_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents hash-partitioned on doc_id: one exchange up front that
    SATISFIES every downstream per-doc clustering — groupBy(doc_id, word),
    groupBy(doc_id), and Window.partitionBy(doc_id) all accept a
    hash(doc_id) distribution (subset rule), so the word-level and
    doc-level aggregations run exchange-free on top (measured: 3
    exchanges → 1 for the quality pipeline)."""
    return spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).repartition(
        F.col("doc_id")
    )


# ---------------------------------------------------------------------------
# TF-IDF top terms per document
# ---------------------------------------------------------------------------
@register(
    "tfidf_top_terms",
    doc="top-3 TF-IDF terms per document (integer-scaled IDF, oracle-exact)",
    oracle="""
        WITH words AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
        ),
        tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM words GROUP BY doc_id, term),
        dfc AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
        n AS (SELECT COUNT(*) AS n_docs FROM documents),
        scored AS (
            SELECT doc_id, term, tf, df,
                   tf * ((n_docs * 1000000) // df) AS tfidf_scaled
            FROM tf JOIN dfc USING (term) CROSS JOIN n
        )
        SELECT doc_id, term, tf, df, tfidf_scaled FROM (
            SELECT *, row_number() OVER (
                PARTITION BY doc_id ORDER BY tfidf_scaled DESC, term) AS rnk
            FROM scored
        ) WHERE rnk <= 3
    """,
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-3 terms by TF-IDF. The IDF is the integer-scaled
    ratio ``(N * 1e6) div df`` instead of ``ln(N/df)`` — rank-equivalent
    for filtering purposes and exactly reproducible in any engine (a
    1-ulp ``ln`` divergence could flip near-tied ranks across engines).

    Plan shape: explode → two hash aggregations (term counts, then
    document frequencies over the *already aggregated* tf table — never
    the raw token stream twice), a broadcast of the 1-row corpus count,
    and a per-doc window top-k (WindowGroupLimit pushes the rank filter
    below the sort at scale).
    """
    docs = _docs_by_id(spark, sf_dir)
    words = docs.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
    tf = words.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfc = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    total = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(dfc, "term")
        .crossJoin(F.broadcast(total))
        .withColumn("tfidf_scaled", F.expr("tf * ((n_docs * 1000000) div df)"))
    )
    w = W.partitionBy("doc_id").orderBy(F.col("tfidf_scaled").desc(), F.col("term"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("doc_id", "term", "tf", "df", "tfidf_scaled")
    )


# ---------------------------------------------------------------------------
# Gopher-style quality / repetition heuristics
# ---------------------------------------------------------------------------
@register(
    "quality_gopher",
    doc="repetition & quality heuristics per doc (distinct ratio, top-word fraction, mean word length) + keep flag",
    oracle="""
        WITH words AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
        ),
        wc AS (SELECT doc_id, word, COUNT(*) AS cnt FROM words GROUP BY doc_id, word),
        per_doc AS (
            SELECT doc_id,
                   SUM(cnt) AS n_words,
                   COUNT(*) AS n_distinct,
                   MAX(cnt) AS top_cnt,
                   SUM(cnt * length(word)) AS sum_len
            FROM wc GROUP BY doc_id
        )
        SELECT doc_id,
               CAST(n_words AS BIGINT) AS n_words,
               CAST(n_distinct AS BIGINT) AS n_distinct_words,
               n_distinct / n_words AS distinct_ratio,
               top_cnt / n_words AS top_word_frac,
               sum_len / n_words AS mean_word_len,
               (n_distinct / n_words >= 0.5
                AND top_cnt / n_words <= 0.12
                AND sum_len / n_words BETWEEN 4.0 AND 6.0) AS keep
        FROM per_doc
    """,
)
def quality_gopher(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition filters (Rae et al. 2021 §A1.1 analogs on
    a word corpus): distinct-word ratio (low → template/boilerplate),
    top-word fraction (high → degenerate repetition), mean word length
    (outliers → non-language). All counts are integer aggregates; each
    ratio is one int→double conversion + one IEEE division, so the
    DuckDB oracle agrees bitwise, `keep` included.

    Plan: ONE exchange. Documents hash-partition on doc_id up front;
    hash(doc_id) satisfies both the (doc_id, word) and the doc_id
    clustering (subset rule), so both aggregations run exchange-free
    on top of it (plan-asserted).
    """
    docs = _docs_by_id(spark, sf_dir)
    words = docs.select("doc_id", F.explode(F.split("text", " ")).alias("word"))
    wc = words.groupBy("doc_id", "word").agg(F.count(F.lit(1)).alias("cnt"))
    per_doc = wc.groupBy("doc_id").agg(
        F.sum("cnt").alias("n_words"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.max("cnt").alias("top_cnt"),
        F.sum(F.col("cnt") * F.length("word")).alias("sum_len"),
    )
    distinct_ratio = F.col("n_distinct") / F.col("n_words")
    top_frac = F.col("top_cnt") / F.col("n_words")
    mean_len = F.col("sum_len") / F.col("n_words")
    return per_doc.select(
        "doc_id",
        F.col("n_words").cast("bigint").alias("n_words"),
        F.col("n_distinct").cast("bigint").alias("n_distinct_words"),
        distinct_ratio.alias("distinct_ratio"),
        top_frac.alias("top_word_frac"),
        mean_len.alias("mean_word_len"),
        (
            (distinct_ratio >= 0.5)
            & (top_frac <= 0.12)
            & (mean_len >= 4.0)
            & (mean_len <= 6.0)
        ).alias("keep"),
    )


# ---------------------------------------------------------------------------
# Benchmark n-gram decontamination
# ---------------------------------------------------------------------------
@register(
    "decontam_ngram_overlap",
    doc="flag training docs sharing 5-gram shingles with a benchmark subset",
    oracle=r"""
        WITH toks AS (
            SELECT doc_id, string_split_regex(text, '\s+') AS t FROM documents
        ),
        sh AS (
            SELECT doc_id,
                   unnest(list_distinct(list_transform(
                       range(1, greatest(len(t) - 4, 1) + 1),
                       i -> array_to_string(t[i:i+4], ' ')))) AS g
            FROM toks
        ),
        bench AS (SELECT DISTINCT g FROM sh WHERE doc_id % 97 = 0),
        hits AS (
            SELECT s.doc_id, COUNT(*) AS n
            FROM sh s JOIN bench b USING (g)
            WHERE s.doc_id % 97 <> 0
            GROUP BY s.doc_id
        )
        SELECT d.doc_id,
               CAST(COALESCE(h.n, 0) AS BIGINT) AS n_contaminated_shingles,
               COALESCE(h.n, 0) > 0 AS is_contaminated
        FROM documents d LEFT JOIN hits h USING (doc_id)
        WHERE d.doc_id % 97 <> 0
    """,
)
def decontam_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-set decontamination: docs with ``doc_id % 97 == 0`` stand in
    for the benchmark corpus; every remaining (training) doc is scored by
    how many of its distinct word-5-gram shingles appear anywhere in the
    benchmark. The benchmark shingle set is broadcast — in production the
    eval suites are a few MB against a 100 TB corpus, so the contaminated
    check is a map-side hash probe per shingle, no shuffle of the corpus.
    """
    from dynaledger_spark.operators.dedup import _shingles

    docs = _docs(spark, sf_dir)
    sh = docs.select("doc_id", F.explode(_shingles(F.col("text"), 5)).alias("g"))
    is_bench = F.col("doc_id") % 97 == 0
    bench = sh.filter(is_bench).select("g").distinct()
    hits = (
        sh.filter(~is_bench)
        .join(F.broadcast(bench), "g")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return (
        docs.filter(~is_bench)
        .select("doc_id")
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n"), F.lit(0).cast("bigint")).alias(
                "n_contaminated_shingles"
            ),
            (F.coalesce(F.col("n"), F.lit(0).cast("bigint")) > 0).alias(
                "is_contaminated"
            ),
        )
    )


# ---------------------------------------------------------------------------
# PII redaction
# ---------------------------------------------------------------------------
_EMAIL_RE = r"[a-z0-9]+@[a-z]+\.[a-z]+"
_PHONE_RE = r"\+1-[0-9]{3}-[0-9]{4}"


@register(
    "pii_redact",
    doc="regex PII scrub (emails, phone numbers) with per-doc match counts",
    oracle=f"""
        SELECT doc_id,
               CAST(len(regexp_extract_all(full_text, '{_EMAIL_RE}')) AS BIGINT)
                   AS n_emails,
               CAST(len(regexp_extract_all(full_text, '\\+1-[0-9]{{3}}-[0-9]{{4}}')) AS BIGINT)
                   AS n_phones,
               md5(regexp_replace(
                       regexp_replace(full_text, '{_EMAIL_RE}', '[EMAIL]', 'g'),
                       '\\+1-[0-9]{{3}}-[0-9]{{4}}', '[PHONE]', 'g')) AS redacted_md5
        FROM (SELECT doc_id,
                     text || ' contact user' || CAST(doc_id AS VARCHAR)
                          || '@mail.com or +1-555-'
                          || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS full_text
              FROM documents)
    """,
)
def pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing pass: count and replace email/phone matches. The
    corpus text is synthetic words, so a deterministic contact line
    derived from doc_id is appended first — the redaction then provably
    fires on every row and the md5 of the scrubbed text cross-checks the
    exact replacement semantics (Spark replaces all matches; DuckDB
    needs the 'g' flag — both sides verified equal). Pure JVM regex
    expressions, one pass over the corpus, trivially data-parallel.
    """
    docs = _docs(spark, sf_dir)
    full = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@mail.com or +1-555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
    )
    redacted = F.regexp_replace(
        F.regexp_replace(full, _EMAIL_RE, "[EMAIL]"), _PHONE_RE, "[PHONE]"
    )
    return docs.select(
        "doc_id",
        F.size(F.regexp_extract_all(full, F.lit(_EMAIL_RE), F.lit(0)))
        .cast("bigint")
        .alias("n_emails"),
        F.size(F.regexp_extract_all(full, F.lit(_PHONE_RE), F.lit(0)))
        .cast("bigint")
        .alias("n_phones"),
        F.md5(redacted).alias("redacted_md5"),
    )


# ---------------------------------------------------------------------------
# Time-bucket OHLC rollup (hypertable-style downsampling)
# ---------------------------------------------------------------------------
@register(
    "time_bucket_ohlc",
    doc="hourly OHLC + volume rollup per event type (first/last by ts, exact sum)",
    oracle=f"""
        WITH b AS (
            SELECT event_type, date_trunc('hour', ts) AS bucket_ts, ts, event_id, value,
                   row_number() OVER (PARTITION BY event_type, date_trunc('hour', ts)
                                      ORDER BY ts, event_id) AS rn_a,
                   row_number() OVER (PARTITION BY event_type, date_trunc('hour', ts)
                                      ORDER BY ts DESC, event_id DESC) AS rn_d
            FROM events
        )
        SELECT event_type, bucket_ts,
               MAX(CASE WHEN rn_a = 1 THEN value END) AS open_value,
               MAX(value) AS high_value,
               MIN(value) AS low_value,
               MAX(CASE WHEN rn_d = 1 THEN value END) AS close_value,
               COUNT(*) AS n_events,
               {_osum('value', 'sum_value')}
        FROM b GROUP BY event_type, bucket_ts
    """,
)
def time_bucket_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous-aggregate rollup: per (event_type,
    hour bucket) the open/high/low/close of `value` plus count and exact
    sum. Open/close are row_number picks ordered by (ts, event_id) — the
    unique tiebreaker keeps both engines deterministic under equal
    timestamps.

    Plan: ONE shuffle. The two windows and the final groupBy all hash on
    (event_type, bucket_ts) — Catalyst plans a single Exchange and runs
    both sorts and the aggregate inside the same stage pipeline.
    """
    ev = _t(spark, sf_dir, "events")
    sel = ev.select(
        "event_type",
        F.date_trunc("hour", F.col("ts")).alias("bucket_ts"),
        "ts",
        "event_id",
        "value",
    )
    keys = [F.col("event_type"), F.col("bucket_ts")]
    w_asc = W.partitionBy(*keys).orderBy(F.col("ts").asc(), F.col("event_id").asc())
    w_desc = W.partitionBy(*keys).orderBy(F.col("ts").desc(), F.col("event_id").desc())
    return (
        sel.withColumn("rn_a", F.row_number().over(w_asc))
        .withColumn("rn_d", F.row_number().over(w_desc))
        .groupBy("event_type", "bucket_ts")
        .agg(
            F.max(F.when(F.col("rn_a") == 1, F.col("value"))).alias("open_value"),
            F.max("value").alias("high_value"),
            F.min("value").alias("low_value"),
            F.max(F.when(F.col("rn_d") == 1, F.col("value"))).alias("close_value"),
            F.count(F.lit(1)).alias("n_events"),
            dsum(F.col("value"), "sum_value"),
        )
    )


# ---------------------------------------------------------------------------
# Skew-salted join, oracle-proven identical to the plain join
# ---------------------------------------------------------------------------
@register(
    "salted_join_segment_revenue",
    doc="hot-key-salted orders⋈customer, aggregated — result-identical to plain join",
    oracle=f"""
        SELECT c.c_mktsegment,
               COUNT(*) AS n_orders,
               {_osum('o.o_totalprice', 'revenue')}
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY c.c_mktsegment
    """,
)
def salted_join_segment_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The explicit skew fix (operators/scale.py:salted_join) under the
    oracle: orders (big side) gets a per-row salt, the 1.5k-row customer
    dim is replicated once per salt, the join key becomes (custkey,
    salt) so a pathological hot customer would spread over 8 reducers.
    The DuckDB twin is the plain join — proving salting changes the
    distribution, never the result. (Here AQE skew-split would suffice;
    salting is for the double-digit-percent hot key an executor can't
    hold even split.)
    """
    from dynaledger_spark.operators.scale import salted_join

    orders = _t(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("c_custkey"), "o_totalprice"
    )
    customer = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    joined = salted_join(orders, customer, on=["c_custkey"], n_salts=8)
    return joined.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_orders"),
        dsum(F.col("o_totalprice"), "revenue"),
    )


# ---------------------------------------------------------------------------
# Embedding int8 quantization
# ---------------------------------------------------------------------------
@register(
    "embedding_quantize_int8",
    doc="symmetric int8 quantization per embedding: scale + exact integer checksums",
    oracle="""
        WITH d AS (
            SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
            FROM embeddings
        ),
        s AS (
            SELECT vec_id, v,
                   list_max(list_transform(v, x -> abs(x))) AS amax
            FROM d
        ),
        q AS (
            SELECT vec_id,
                   CASE WHEN amax > 0 THEN 127.0 / amax ELSE 1.0 END AS q_scale,
                   list_transform(v, x -> greatest(least(CAST(floor(
                       x * (CASE WHEN amax > 0 THEN 127.0 / amax ELSE 1.0 END)
                       + 0.5) AS BIGINT), 127), -127)) AS qv
            FROM s
        )
        SELECT vec_id, q_scale,
               CAST(list_aggregate(qv, 'sum') AS BIGINT) AS q_sum,
               CAST(list_aggregate(list_transform(qv, x -> abs(x)), 'sum') AS BIGINT) AS q_l1,
               CAST(len(qv) AS BIGINT) AS n_dims
        FROM q
    """,
)
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-vector int8 quantization — the storage/bandwidth step
    before ANN serving (4× smaller than float32, dot products in int
    arithmetic). scale = 127/max|x|; q = clamp(floor(x*scale + 0.5)) —
    floor(x+0.5) instead of round() because engines disagree on
    round-half ties, floor never does. Outputs the scale and exact
    integer checksums (sum, L1, dims) so the oracle re-derives every
    quantized value. Pure JVM array expressions, shuffle-free.
    """
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    amax = F.array_max(F.transform(F.col("v"), lambda x: F.abs(x)))
    scale = F.when(F.col("amax") > 0, F.lit(127.0) / F.col("amax")).otherwise(F.lit(1.0))
    qv = F.transform(
        F.col("v"),
        lambda x: F.greatest(
            F.least(F.floor(x * F.col("q_scale") + 0.5).cast("bigint"), F.lit(127).cast("bigint")),
            F.lit(-127).cast("bigint"),
        ),
    )
    return (
        emb.select("vec_id", v.alias("v"))
        .withColumn("amax", amax)
        .withColumn("q_scale", scale)
        .withColumn("qv", qv)
        .select(
            "vec_id",
            "q_scale",
            F.aggregate("qv", F.lit(0).cast("bigint"), lambda a, x: a + x).alias("q_sum"),
            F.aggregate("qv", F.lit(0).cast("bigint"), lambda a, x: a + F.abs(x)).alias("q_l1"),
            F.size("qv").cast("bigint").alias("n_dims"),
        )
    )


# ---------------------------------------------------------------------------
# Corpus-level n-gram language-model counts (top bigrams)
# ---------------------------------------------------------------------------
@register(
    "ngram_top_bigrams",
    doc="corpus top-20 bigrams by frequency (deterministic tiebreak)",
    oracle="""
        WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        grams AS (
            SELECT unnest(list_transform(range(1, greatest(len(t) - 1, 0) + 1),
                          i -> array_to_string(t[i:i+1], ' '))) AS gram
            FROM toks
        )
        SELECT gram, COUNT(*) AS n FROM grams GROUP BY gram
        ORDER BY n DESC, gram ASC LIMIT 20
    """,
)
def ngram_top_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus bigram counts (the building block of n-gram LM stats and
    contamination heuristics), top-20 with (count desc, gram asc)
    tiebreak. Unlike the shingle operators this keeps DUPLICATE grams
    (LM counts, not set membership). Plan: explode → hash aggregate with
    map-side combine → TakeOrderedAndProject (never a global sort).

    A <2-token document emits no grams via the when() guard — the old
    greatest(size-2, -1) form fed sequence(0, -1), which yields a
    DESCENDING [0, -1] (not empty!) and then slice(toks, 0, 2) throws
    'array indices start at 1' at runtime (round-3 advice; current
    testdata never hits it, so this is a latent-crash fix, and the
    DuckDB oracle's range(1, 1) was already empty for that case).
    """
    docs = _docs(spark, sf_dir)
    toks = F.split(F.col("text"), " ")
    grams = F.when(
        F.size(toks) >= 2,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - 2),
            lambda i: F.concat_ws(" ", F.slice(toks, i + 1, 2)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return (
        docs.select(F.explode(grams).alias("gram"))
        .groupBy("gram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("gram").asc())
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Linear gap-fill interpolation over a sparse hourly series
# ---------------------------------------------------------------------------
@register(
    "gap_fill_interpolate",
    doc="dense hourly series per user with linear interpolation of missing hours",
    oracle=f"""
        WITH hourly AS (
            SELECT user_id, date_trunc('hour', ts) AS hour_ts,
                   {_osum('value', 'hour_value')}
            FROM events
            WHERE event_type = 'purchase' AND user_id % 5 = 0
            GROUP BY user_id, date_trunc('hour', ts)
        ),
        cal AS (
            SELECT user_id,
                   unnest(generate_series(MIN(hour_ts), MAX(hour_ts), INTERVAL 1 HOUR))
                       AS hour_ts
            FROM hourly GROUP BY user_id
        ),
        joined AS (
            SELECT c.user_id, c.hour_ts, h.hour_value
            FROM cal c LEFT JOIN hourly h
              ON h.user_id = c.user_id AND h.hour_ts = c.hour_ts
        ),
        ctx AS (
            SELECT user_id, hour_ts, hour_value,
                   last_value(hour_value IGNORE NULLS) OVER w_prev AS prev_val,
                   last_value(CASE WHEN hour_value IS NOT NULL THEN hour_ts END IGNORE NULLS)
                       OVER w_prev AS prev_ts,
                   first_value(hour_value IGNORE NULLS) OVER w_next AS next_val,
                   first_value(CASE WHEN hour_value IS NOT NULL THEN hour_ts END IGNORE NULLS)
                       OVER w_next AS next_ts
            FROM joined
            WINDOW w_prev AS (PARTITION BY user_id ORDER BY hour_ts
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                   w_next AS (PARTITION BY user_id ORDER BY hour_ts
                              ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
        )
        SELECT user_id, hour_ts,
               CASE WHEN hour_value IS NOT NULL THEN hour_value
                    WHEN prev_val IS NULL THEN next_val
                    WHEN next_val IS NULL THEN prev_val
                    ELSE prev_val + (next_val - prev_val)
                         * (CAST(date_diff('hour', prev_ts, hour_ts) AS DOUBLE)
                            / CAST(date_diff('hour', prev_ts, next_ts) AS DOUBLE)) END
                   AS filled_value,
               hour_value IS NULL AS is_interpolated
        FROM ctx
    """,
)
def gap_fill_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap filling with linear interpolation — the
    hypertable `interpolate()` analog: a sparse per-user hourly series
    (purchases of a 20% user cohort, ~19% of calendar hours present at
    every scale factor) is densified with sequence+explode and missing
    hours get prev + (next-prev)·frac. Neighbor lookups are two window
    passes with ignorenulls FIRST/LAST over the same (user_id, hour)
    clustering — no self-joins, no per-gap loops; hour fractions are
    exact integer arithmetic on unix seconds, the lerp is written
    operand-for-operand identically in the oracle.
    """
    ev = _t(spark, sf_dir, "events")
    hourly = (
        ev.filter((F.col("event_type") == "purchase") & (F.col("user_id") % 5 == 0))
        .groupBy("user_id", F.date_trunc("hour", F.col("ts")).alias("hour_ts"))
        .agg(dsum(F.col("value"), "hour_value"))
    )
    cal = (
        hourly.groupBy("user_id")
        .agg(F.min("hour_ts").alias("mn"), F.max("hour_ts").alias("mx"))
        .select(
            "user_id",
            F.explode(F.expr("sequence(mn, mx, interval 1 hour)")).alias("hour_ts"),
        )
    )
    joined = cal.join(hourly, ["user_id", "hour_ts"], "left")
    w_prev = (
        W.partitionBy("user_id").orderBy("hour_ts")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    # the next-known lookup as a RUNNING frame over the DESCENDING order:
    # first(x) over (currentRow → unboundedFollowing) asc is the same
    # value as last(x ignorenulls) over (unboundedPreceding → currentRow)
    # desc, but Spark evaluates an unboundedFollowing frame by
    # re-scanning current→end for every row — O(hours²) per user, and
    # the measured bulk of this query (~1.7 s of 2.0 at sf0.1) — while
    # a running frame is incremental O(hours). Same exchange (identical
    # partitioning), one extra in-partition sort.
    w_next = (
        W.partitionBy("user_id").orderBy(F.col("hour_ts").desc())
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    known_ts = F.when(F.col("hour_value").isNotNull(), F.col("hour_ts"))
    ctx = joined.select(
        "user_id",
        "hour_ts",
        "hour_value",
        F.last("hour_value", ignorenulls=True).over(w_prev).alias("prev_val"),
        F.last(known_ts, ignorenulls=True).over(w_prev).alias("prev_ts"),
        F.last("hour_value", ignorenulls=True).over(w_next).alias("next_val"),
        F.last(known_ts, ignorenulls=True).over(w_next).alias("next_ts"),
    )
    frac = (
        F.expr("(unix_seconds(hour_ts) - unix_seconds(prev_ts)) div 3600").cast("double")
        / F.expr("(unix_seconds(next_ts) - unix_seconds(prev_ts)) div 3600").cast("double")
    )
    filled = (
        F.when(F.col("hour_value").isNotNull(), F.col("hour_value"))
        .when(F.col("prev_val").isNull(), F.col("next_val"))
        .when(F.col("next_val").isNull(), F.col("prev_val"))
        .otherwise(F.col("prev_val") + (F.col("next_val") - F.col("prev_val")) * frac)
    )
    return ctx.select(
        "user_id",
        "hour_ts",
        filled.alias("filled_value"),
        F.col("hour_value").isNull().alias("is_interpolated"),
    )


# ---------------------------------------------------------------------------
# Document chunking: fixed token windows with overlap
# ---------------------------------------------------------------------------
@register(
    "doc_chunk_overlap",
    doc="split documents into 32-token chunks with stride 24 (8-token overlap)",
    oracle="""
        WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        chunks AS (
            SELECT doc_id,
                   unnest(list_transform(
                       range(0, CAST(ceil(greatest(len(t) - 8, 1) / 24.0) AS BIGINT)),
                       i -> struct_pack(chunk_idx := i,
                                        chunk_text := array_to_string(t[i*24+1 : i*24+32], ' '),
                                        n_chunk_tokens := len(t[i*24+1 : i*24+32])))) AS c
            FROM toks
        )
        SELECT doc_id, c.chunk_idx AS chunk_idx, c.chunk_text AS chunk_text,
               CAST(c.n_chunk_tokens AS BIGINT) AS n_chunk_tokens
        FROM chunks
        WHERE c.n_chunk_tokens > 0
    """,
)
def doc_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-sequence chunking: every document becomes overlapping
    32-token windows at stride 24 (8 tokens of context carry-over — the
    standard sliding-window preprocessing for LLM training). Pure
    map-side explode of per-row array slices: no shuffle, scales
    linearly with corpus bytes, and the chunk count per doc is
    ceil((len-overlap)/stride) exactly as the oracle derives it.
    """
    docs = _docs(spark, sf_dir)
    toks = F.split(F.col("text"), " ")
    n_chunks = F.ceil((F.greatest(F.size(toks) - 8, F.lit(1))) / F.lit(24.0)).cast("bigint")
    mk = lambda i: F.struct(  # noqa: E731
        i.alias("chunk_idx"),
        F.array_join(F.slice(toks, (i * 24 + 1).cast("int"), 32), " ").alias("chunk_text"),
        F.size(F.slice(toks, (i * 24 + 1).cast("int"), 32)).cast("bigint").alias("n_chunk_tokens"),
    )
    return (
        docs.select(
            "doc_id",
            F.explode(
                F.transform(F.sequence(F.lit(0).cast("bigint"), n_chunks - 1), mk)
            ).alias("c"),
        )
        .select(
            "doc_id",
            F.col("c.chunk_idx").alias("chunk_idx"),
            F.col("c.chunk_text").alias("chunk_text"),
            F.col("c.n_chunk_tokens").alias("n_chunk_tokens"),
        )
        .filter(F.col("n_chunk_tokens") > 0)
    )


# ---------------------------------------------------------------------------
# Sequence packing: greedy concatenation into fixed-token bins per shard
# ---------------------------------------------------------------------------
@register(
    "pack_sequences",
    doc="greedy sequence packing: per-shard running token count → 1024-token bins",
    oracle="""
        WITH toks AS (
            SELECT doc_id, doc_id % 8 AS shard, len(string_split(text, ' ')) AS n_tokens
            FROM documents
        ),
        cum AS (
            SELECT shard, doc_id, n_tokens,
                   SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS cum_tokens
            FROM toks
        ),
        binned AS (
            SELECT shard, doc_id, n_tokens,
                   CAST((cum_tokens - n_tokens) // 1024 AS BIGINT) AS bin
            FROM cum
        )
        SELECT shard, bin,
               COUNT(*) AS n_docs,
               CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
               MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
        FROM binned GROUP BY shard, bin
    """,
)
def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for training batches: documents concatenate in
    deterministic (doc_id) order until a 1024-token bin fills; a doc
    whose start offset crosses the boundary opens the next bin (greedy
    packing by start offset — integer arithmetic, exactly mirrored by
    the oracle). Packing is per SHARD (doc_id % 8), which is what keeps
    it distributed: the running-sum window parallelizes across shards
    instead of forcing one global ordering — at corpus scale shards map
    to output training files. One shuffle on shard serves the window
    and the bin aggregate.
    """
    docs = _docs(spark, sf_dir)
    toks = docs.select(
        "doc_id",
        (F.col("doc_id") % 8).alias("shard"),
        F.size(F.split(F.col("text"), " ")).cast("bigint").alias("n_tokens"),
    )
    w = (
        W.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    binned = toks.withColumn("cum_tokens", F.sum("n_tokens").over(w)).withColumn(
        "bin", F.expr("(cum_tokens - n_tokens) div 1024")
    )
    return binned.groupBy("shard", "bin").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )


# ---------------------------------------------------------------------------
# Incremental dedup: new batch against the existing corpus
# ---------------------------------------------------------------------------
@register(
    "dedup_incremental_anti",
    doc="incremental batch dedup: incoming docs anti-joined against existing content hashes",
    oracle="""
        SELECT i.doc_id, md5(i.text) AS content_hash
        FROM documents i
        WHERE i.doc_id % 10 = 0
          AND NOT EXISTS (SELECT 1 FROM documents e
                          WHERE e.doc_id % 10 <> 0
                            AND md5(e.text) = md5(i.text))
    """,
)
def dedup_incremental_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The daily-ingest dedup pattern: never re-dedup the corpus — hash
    the INCOMING batch (here: doc_id % 10 == 0 stands in for today's
    crawl) and left-anti join it against the existing corpus's content
    hashes. Cost scales with batch + one shuffle on a 16-byte key over
    the corpus hash table (which at 100 TB is a persisted, bucketed
    hash column — making the anti-join shuffle-free on the corpus side).
    """
    docs = _docs(spark, sf_dir)
    incoming = docs.filter(F.col("doc_id") % 10 == 0).select(
        "doc_id", F.md5("text").alias("content_hash")
    )
    existing = docs.filter(F.col("doc_id") % 10 != 0).select(
        F.md5("text").alias("content_hash")
    )
    return incoming.join(existing, "content_hash", "left_anti").select(
        "doc_id", "content_hash"
    )


# ---------------------------------------------------------------------------
# Quality-weighted deterministic sampling
# ---------------------------------------------------------------------------
@register(
    "quality_weighted_sample",
    doc="deterministic sampling with per-doc rate from a repetition-quality signal",
    oracle="""
        WITH words AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
        ),
        wc AS (SELECT doc_id, word, COUNT(*) AS cnt FROM words GROUP BY doc_id, word),
        per_doc AS (
            SELECT doc_id, SUM(cnt) AS n_words, COUNT(*) AS n_distinct
            FROM wc GROUP BY doc_id
        ),
        rates AS (
            SELECT doc_id,
                   CASE WHEN n_distinct / n_words >= 0.5 THEN 70 ELSE 20 END AS rate
            FROM per_doc
        )
        SELECT d.doc_id, CAST(r.rate AS INT) AS rate
        FROM documents d JOIN rates r USING (doc_id)
        WHERE (d.doc_id * 1103515245 + 777) % 4294967296 % 100 < r.rate
    """,
)
def quality_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation composition: the repetition-quality signal
    (quality_gopher's distinct-word ratio) sets a per-document sampling
    RATE (70% for clean docs, 20% for repetitive ones) and the
    deterministic multiplicative hash (queries_sampling) decides
    membership — upweight good data without ever flickering between
    runs or cluster sizes. One aggregation pass for the signal, then a
    pushed-down hash-threshold filter.
    """
    from dynaledger_spark.plans.queries_sampling import _H2, _M32, _mhash

    docs = _docs_by_id(spark, sf_dir)
    words = docs.select("doc_id", F.explode(F.split("text", " ")).alias("word"))
    wc = words.groupBy("doc_id", "word").agg(F.count(F.lit(1)).alias("cnt"))
    per_doc = wc.groupBy("doc_id").agg(
        F.sum("cnt").alias("n_words"), F.count(F.lit(1)).alias("n_distinct")
    )
    rates = per_doc.select(
        "doc_id",
        F.when(F.col("n_distinct") / F.col("n_words") >= 0.5, 70)
        .otherwise(20)
        .cast("int")
        .alias("rate"),
    )
    h = _mhash(F.col("doc_id"), _H2, 777) % 100
    # probe side: raw scan, not the doc_id-partitioned docs — the rates
    # table broadcasts, so partitioning the probe would be a wasted
    # exchange
    probe = spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).select(
        "doc_id"
    )
    return (
        probe.join(F.broadcast(rates), "doc_id")
        .filter(h < F.col("rate"))
        .select("doc_id", "rate")
    )


# ---------------------------------------------------------------------------
# Interval-overlap join (bucketed, exactly-once by construction)
# ---------------------------------------------------------------------------
@register(
    "interval_overlap_sessions",
    doc="click windows x purchase windows overlapping per user (bucketed interval join)",
    oracle="""
        SELECT c.event_id AS click_id, p.event_id AS purchase_id, c.user_id,
               CAST((epoch_us(least(c.ts + INTERVAL 30 MINUTE, p.ts + INTERVAL 2 HOUR))
                     - epoch_us(greatest(c.ts, p.ts))) // 1000000 AS BIGINT)
                   AS overlap_seconds
        FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click') c
        JOIN (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase') p
          ON c.user_id = p.user_id
         AND c.ts <= p.ts + INTERVAL 2 HOUR
         AND p.ts <= c.ts + INTERVAL 30 MINUTE
    """,
)
def interval_overlap_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """General interval×interval overlap at scale
    (operators/temporal.py:interval_overlap_join): click attention
    windows [ts, ts+30m] against purchase windows [ts, ts+2h] per user.
    Both interval sets explode to hour buckets and hash-join on
    (user, bucket); a pair is emitted only in the bucket of
    max(starts), so the output is exactly-once WITHOUT a distinct
    shuffle. The oracle is the plain theta-join — proving the bucket
    decomposition + first-shared-bucket dedup is lossless and
    duplicate-free.
    """
    from dynaledger_spark.operators.temporal import interval_overlap_join

    ev = _t(spark, sf_dir, "events")
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .select(
            "event_id", "user_id", F.col("ts").alias("c_start"),
            (F.col("ts") + F.expr("INTERVAL 30 MINUTE")).alias("c_end"),
        )
    )
    buys = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("p_event_id"), "user_id",
            F.col("ts").alias("p_start"),
            (F.col("ts") + F.expr("INTERVAL 2 HOUR")).alias("p_end"),
        )
    )
    joined = interval_overlap_join(
        clicks, buys, on=["user_id"],
        a_start="c_start", a_end="c_end", b_start="p_start", b_end="p_end",
    )
    # exact micros first, floor-divide once — truncating each endpoint to
    # seconds before subtracting would be off by one around fractional
    # timestamps (subtract-then-truncate is what the oracle's epoch_us
    # arithmetic does too).
    overlap = F.expr(
        "(unix_micros(least(c_end, p_end)) - unix_micros(greatest(c_start, p_start)))"
        " div 1000000"
    )
    return joined.select(
        F.col("a.event_id").alias("click_id"),
        F.col("p_event_id").alias("purchase_id"),
        F.col("a.user_id").alias("user_id"),
        overlap.cast("bigint").alias("overlap_seconds"),
    )


# ---------------------------------------------------------------------------
# Z-score outlier flagging (exact moments, deterministic sqrt)
# ---------------------------------------------------------------------------
@register(
    "zscore_outliers",
    doc="per-type z-score of event values from exact decimal moments; |z|>3 flag",
    oracle="""
        WITH g AS (
            SELECT event_type,
                   COUNT(*) AS n,
                   CAST(SUM(CAST(value AS DECIMAL(27,6))) AS DOUBLE) AS s1,
                   CAST(SUM(CAST(value * value AS DECIMAL(38,12))) AS DOUBLE) AS s2
            FROM events GROUP BY event_type
        )
        SELECT e.event_id, e.event_type, e.value,
               round((e.value - s1 / n)
                     / sqrt((s2 - (s1 * s1) / n) / (n - 1)), 9) AS zscore,
               abs((e.value - s1 / n) / sqrt((s2 - (s1 * s1) / n) / (n - 1))) > 3.0
                   AS is_outlier
        FROM events e JOIN g USING (event_type)
    """,
)
def zscore_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-cleaning outlier pass: per-type mean/std from exact DECIMAL
    (n, Σx, Σx²) moment sums (order-independent, so partial aggregation
    can't change the result), then a per-row z-score and |z|>3 flag.
    sqrt is correctly rounded under IEEE 754 in both engines, and every
    other step is a fixed-order IEEE expression — the flag itself is
    oracle-exact. The 5-row moments table broadcasts back onto the scan.
    """
    ev = _t(spark, sf_dir, "events")
    v = F.col("value")
    g = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(v.cast("decimal(27,6)")).cast("double").alias("s1"),
        F.sum((v * v).cast("decimal(38,12)")).cast("double").alias("s2"),
    )
    z = F.expr("(value - s1 / n) / sqrt((s2 - (s1 * s1) / n) / (n - 1))")
    return (
        ev.join(F.broadcast(g), "event_type")
        .select(
            "event_id",
            "event_type",
            "value",
            # the raw z can differ from DuckDB by 1 ulp (libm vs JVM
            # division/sqrt sequencing); 9-decimal rounding absorbs it
            # while the flag compares the unrounded value in both engines
            F.round(z, 9).alias("zscore"),
            (F.abs(z) > 3.0).alias("is_outlier"),
        )
    )


# ---------------------------------------------------------------------------
# Label centroids: element-wise embedding aggregation
# ---------------------------------------------------------------------------
@register(
    "label_centroids",
    doc="per-label embedding centroid (element-wise mean), sorted-fold exact sum",
    oracle="""
        WITH dims AS (
            SELECT label, t.i AS dim, CAST(embedding[t.i] AS DOUBLE) AS x
            FROM embeddings, unnest(range(1, len(embedding) + 1)) AS t(i)
        ),
        agg AS (
            SELECT label, dim,
                   list_reduce(list_prepend(0.0, list_sort(list(x))),
                               (a, b) -> a + b) AS s,
                   COUNT(*) AS n_vectors
            FROM dims GROUP BY label, dim
        )
        SELECT label, CAST(dim AS BIGINT) AS dim,
               s / n_vectors AS centroid_val, n_vectors
        FROM agg
    """,
)
def label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Element-wise mean embedding per label — class centroids for
    similarity baselines and IVF seeding. Float sums are order-dependent
    in IEEE arithmetic and a DECIMAL accumulator is NOT portable here
    (DuckDB's double→decimal cast rounds through a double multiply, so
    it disagrees with the JVM's exact BigDecimal path — measured), so
    exactness comes from ordering instead: per (label, dim) the values
    sort ascending and fold sequentially — both engines run the
    identical IEEE addition chain. The per-group collect is bounded by
    vectors-per-label; a production centroid at 100 TB would use plain
    SUM and accept last-ulp nondeterminism — this query exists where
    bitwise reproducibility is the requirement.
    """
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    dims = emb.select(
        "label", F.posexplode(F.col("embedding")).alias("pos", "xf")
    ).select(
        "label",
        (F.col("pos") + 1).cast("bigint").alias("dim"),
        F.col("xf").cast("double").alias("x"),
    )
    agg = dims.groupBy("label", "dim").agg(
        F.aggregate(
            F.array_sort(F.collect_list("x")), F.lit(0.0), lambda a, x: a + x
        ).alias("s"),
        F.count(F.lit(1)).alias("n_vectors"),
    )
    return agg.select(
        "label", "dim", F.expr("s / n_vectors").alias("centroid_val"), "n_vectors"
    )


# ---------------------------------------------------------------------------
# Fixed-width histogram
# ---------------------------------------------------------------------------
@register(
    "value_histogram",
    doc="fixed-width (25.0) histogram of event values per type",
    oracle="""
        SELECT event_type,
               CAST(floor(value / 25.0) AS BIGINT) AS bin,
               25.0 * CAST(floor(value / 25.0) AS BIGINT) AS bin_low,
               COUNT(*) AS n
        FROM events GROUP BY event_type, floor(value / 25.0)
    """,
)
def value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution profiling: fixed-width bins as floor(value/width) —
    a pure expression group key, so the histogram is one map-side
    combined hash aggregation (the same shape at any scale; no sort, no
    per-bin pass). Complements the exact/sketch quantiles with a shape
    the eye can read."""
    ev = _t(spark, sf_dir, "events")
    bin_ = F.floor(F.col("value") / 25.0).cast("bigint")
    return (
        ev.groupBy("event_type", bin_.alias("bin"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "event_type",
            "bin",
            (F.lit(25.0) * F.col("bin")).alias("bin_low"),
            "n",
        )
    )


# ---------------------------------------------------------------------------
# SCD2 dimension build: change detection → validity intervals
# ---------------------------------------------------------------------------
@register(
    "scd2_user_tiers",
    doc="slowly-changing-dimension build: per-user tier change rows with validity intervals",
    oracle="""
        WITH tiers AS (
            SELECT user_id, event_id, ts, CAST(floor(value / 50.0) AS BIGINT) AS tier,
                   lag(CAST(floor(value / 50.0) AS BIGINT))
                       OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_tier
            FROM events WHERE event_type = 'purchase'
        ),
        changes AS (
            SELECT user_id, event_id, ts, tier FROM tiers
            WHERE prev_tier IS NULL OR tier <> prev_tier
        )
        SELECT user_id, tier,
               ts AS effective_from,
               lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   AS effective_to,
               lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                   AS is_current
        FROM changes
    """,
)
def scd2_user_tiers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 slowly-changing dimension from an event history — the
    warehouse pattern behind the reference's versioned fact tables: each
    user's purchase tier (floor(value/50)) becomes validity intervals
    [effective_from, effective_to) with an open current row. Change
    detection (lag) and interval closing (lead) share one (user, time)
    clustering — one shuffle, two window passes, no self-joins; an as-of
    probe on the result is `operators/temporal.py:asof_join`.
    """
    ev = _t(spark, sf_dir, "events")
    tier = F.floor(F.col("value") / 50.0).cast("bigint")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    tiers = (
        ev.filter(F.col("event_type") == "purchase")
        .select("user_id", "event_id", "ts", tier.alias("tier"))
        .withColumn("prev_tier", F.lag("tier").over(w))
    )
    changes = tiers.filter(
        F.col("prev_tier").isNull() | (F.col("tier") != F.col("prev_tier"))
    )
    eff_to = F.lead("ts").over(w)
    return changes.select(
        "user_id",
        "tier",
        F.col("ts").alias("effective_from"),
        eff_to.alias("effective_to"),
        eff_to.isNull().alias("is_current"),
    )


# ---------------------------------------------------------------------------
# Mixture rebalancing: per-source sampling rates to hit target shares
# ---------------------------------------------------------------------------
@register(
    "mixture_rebalance_sample",
    doc="per-source acceptance rates computed from corpus stats to hit a target mixture",
    oracle="""
        WITH weighted AS (
            SELECT source,
                   CASE WHEN TRY_CAST(regexp_extract(source, '[0-9]+') AS INT) % 2 = 0
                        THEN 3 ELSE 1 END AS w,
                   COUNT(*) AS n_s
            FROM documents GROUP BY source
        ),
        tot AS (
            SELECT SUM(n_s) AS n, SUM(w) AS wsum FROM weighted
        ),
        rates AS (
            SELECT source,
                   CAST(least(1000000, (n * w * 1000000) // (wsum * n_s)) AS BIGINT)
                       AS rate_millionths
            FROM weighted CROSS JOIN tot
        )
        SELECT d.doc_id, d.source, r.rate_millionths
        FROM documents d JOIN rates r USING (source)
        WHERE (d.doc_id * 2654435761 + 31) % 4294967296 % 1000000 < r.rate_millionths
    """,
)
def mixture_rebalance_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data mixing: acceptance rates are COMPUTED from corpus statistics
    to steer the sample toward target source shares (here: even-numbered
    sources weighted 3×) — the step after quality filtering in a
    pretraining pipeline, where domains are up/down-weighted to a target
    mixture. rate = min(1, target_share/actual_share), held as exact
    integer millionths; membership is the deterministic multiplicative
    hash. The per-source stats table is tiny and broadcasts; the corpus
    never shuffles.
    """
    from dynaledger_spark.plans.queries_sampling import _H1, _M32, _mhash

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    # try_cast on BOTH sides: a digit-less source name must degrade to
    # NULL -> weight 1 in each engine, not crash one of them (DuckDB's
    # plain CAST('') errors; Spark's would too under ANSI mode)
    w = F.when(
        F.regexp_extract(F.col("source"), "[0-9]+", 0).try_cast("int") % 2 == 0, 3
    ).otherwise(1)
    weighted = docs.groupBy("source").agg(
        F.first(w).alias("w"), F.count(F.lit(1)).alias("n_s")
    )
    tot = weighted.agg(
        F.sum("n_s").alias("n"), F.sum("w").alias("wsum")
    )
    rates = (
        weighted.crossJoin(F.broadcast(tot))
        .select(
            "source",
            F.expr(
                "CAST(least(1000000, (n * w * 1000000) div (wsum * n_s)) AS BIGINT)"
            ).alias("rate_millionths"),
        )
    )
    h = _mhash(F.col("doc_id"), _H1, 31) % 1_000_000
    return (
        docs.select("doc_id", "source")
        .join(F.broadcast(rates), "source")
        .filter(h < F.col("rate_millionths"))
        .select("doc_id", "source", "rate_millionths")
    )


# ---------------------------------------------------------------------------
# Token-budget head: take docs per source until a token budget fills
# ---------------------------------------------------------------------------
@register(
    "token_budget_head",
    doc="deterministic per-source document selection up to a 300-token budget",
    oracle="""
        WITH toks AS (
            SELECT doc_id, source, len(string_split(text, ' ')) AS n_tokens,
                   (doc_id * 1103515245 + 555) % 4294967296 AS h
            FROM documents
        ),
        cum AS (
            SELECT doc_id, source, n_tokens,
                   SUM(n_tokens) OVER (PARTITION BY source ORDER BY h, doc_id
                                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS cum_tokens
            FROM toks
        )
        SELECT doc_id, source, CAST(n_tokens AS BIGINT) AS n_tokens,
               CAST(cum_tokens AS BIGINT) AS cum_tokens
        FROM cum WHERE cum_tokens <= 300
    """,
)
def token_budget_head(spark: SparkSession, sf_dir: str) -> DataFrame:
    """'Take N tokens per domain': documents order by a deterministic
    hash (a reproducible pseudo-random epoch order), a running token
    count accumulates per source, and selection stops where the budget
    fills — the token-budget analog of quota sampling. One shuffle on
    source serves the cumsum window; membership is stable across runs
    and appends only grow the tail.
    """
    from dynaledger_spark.plans.queries_sampling import _H2, _mhash

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    toks = docs.select(
        "doc_id",
        "source",
        F.size(F.split(F.col("text"), " ")).cast("bigint").alias("n_tokens"),
        _mhash(F.col("doc_id"), _H2, 555).alias("h"),
    )
    w = (
        W.partitionBy("source")
        .orderBy("h", "doc_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return (
        toks.withColumn("cum_tokens", F.sum("n_tokens").over(w))
        .filter(F.col("cum_tokens") <= 300)
        .select("doc_id", "source", "n_tokens", "cum_tokens")
    )


# ---------------------------------------------------------------------------
# The whole curation pipeline, composed end-to-end
# ---------------------------------------------------------------------------
@register(
    "curation_pipeline_e2e",
    doc="dedup -> quality filter -> decontaminate -> hash sample -> chunk, one composed plan",
    oracle=r"""
        WITH dedup AS (
            SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY md5(text)
        ),
        survivors0 AS (
            SELECT d.* FROM documents d JOIN dedup USING (doc_id)
        ),
        words AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM survivors0
        ),
        wc AS (SELECT doc_id, word, COUNT(*) AS cnt FROM words GROUP BY doc_id, word),
        quality AS (
            SELECT doc_id FROM (
                SELECT doc_id, COUNT(*) AS n_distinct, SUM(cnt) AS n_words
                FROM wc GROUP BY doc_id)
            WHERE n_distinct / n_words >= 0.4
        ),
        toks AS (SELECT doc_id, string_split_regex(text, '\s+') AS t FROM documents),
        sh AS (
            SELECT doc_id, unnest(list_distinct(list_transform(
                range(1, greatest(len(t) - 4, 1) + 1),
                i -> array_to_string(t[i:i+4], ' ')))) AS g
            FROM toks
        ),
        bench AS (SELECT DISTINCT g FROM sh WHERE doc_id % 97 = 0),
        contaminated AS (
            SELECT DISTINCT s.doc_id FROM sh s JOIN bench b USING (g)
            WHERE s.doc_id % 97 <> 0
        ),
        clean AS (
            SELECT s.doc_id, s.text FROM survivors0 s
            JOIN quality q USING (doc_id)
            WHERE s.doc_id % 97 <> 0
              AND s.doc_id NOT IN (SELECT doc_id FROM contaminated)
              AND (s.doc_id * 2654435761 + 7) % 4294967296 % 100 < 80
        ),
        ct AS (SELECT doc_id, string_split(text, ' ') AS t FROM clean),
        chunks AS (
            SELECT doc_id,
                   unnest(list_transform(
                       range(0, CAST(ceil(greatest(len(t) - 8, 1) / 24.0) AS BIGINT)),
                       i -> struct_pack(chunk_idx := i,
                                        chunk_text := array_to_string(t[i*24+1 : i*24+32], ' '),
                                        n := len(t[i*24+1 : i*24+32])))) AS c
            FROM ct
        )
        SELECT doc_id, c.chunk_idx AS chunk_idx, c.chunk_text AS chunk_text,
               CAST(c.n AS BIGINT) AS n_chunk_tokens
        FROM chunks WHERE c.n > 0
    """,
)
def curation_pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The operators composed into the product they exist for: a cleaned,
    decontaminated, sampled, training-ready chunk stream — exact dedup
    (keep min doc per content hash) → repetition-quality filter
    (distinct ratio ≥ 0.4) → benchmark 5-gram decontamination → 80%
    deterministic hash sample → 32/24 sliding-window chunking. One
    Catalyst plan end-to-end (each stage is a join/filter over the
    last — no materialization barriers), and the DuckDB oracle
    re-derives the entire pipeline, so stage composition is verified,
    not just the stages.
    """
    from dynaledger_spark.operators.dedup import _shingles
    from dynaledger_spark.plans.queries_sampling import _H1, _M32, _mhash

    docs = _docs(spark, sf_dir)
    keepers = (
        docs.groupBy(F.md5("text").alias("_h"))
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    survivors0 = docs.join(keepers, "doc_id")

    words = survivors0.select(
        "doc_id", F.explode(F.split("text", " ")).alias("word")
    )
    per_doc = (
        words.groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_distinct"), F.sum("cnt").alias("n_words"))
    )
    quality = per_doc.filter(
        F.col("n_distinct") / F.col("n_words") >= 0.4
    ).select("doc_id")

    sh = docs.select("doc_id", F.explode(_shingles(F.col("text"), 5)).alias("g"))
    is_bench = F.col("doc_id") % 97 == 0
    bench = sh.filter(is_bench).select("g").distinct()
    contaminated = (
        sh.filter(~is_bench).join(F.broadcast(bench), "g").select("doc_id").distinct()
    )

    clean = (
        survivors0.join(quality, "doc_id")
        .filter(~is_bench)
        .join(contaminated, "doc_id", "left_anti")
        .filter(_mhash(F.col("doc_id"), _H1, 7) % 100 < 80)
        .select("doc_id", "text")
    )

    toks = F.split(F.col("text"), " ")
    n_chunks = F.ceil(
        (F.greatest(F.size(toks) - 8, F.lit(1))) / F.lit(24.0)
    ).cast("bigint")
    mk = lambda i: F.struct(  # noqa: E731
        i.alias("chunk_idx"),
        F.array_join(F.slice(toks, (i * 24 + 1).cast("int"), 32), " ").alias("chunk_text"),
        F.size(F.slice(toks, (i * 24 + 1).cast("int"), 32)).cast("bigint").alias("n_chunk_tokens"),
    )
    return (
        clean.select(
            "doc_id",
            F.explode(
                F.transform(F.sequence(F.lit(0).cast("bigint"), n_chunks - 1), mk)
            ).alias("c"),
        )
        .select(
            "doc_id",
            F.col("c.chunk_idx").alias("chunk_idx"),
            F.col("c.chunk_text").alias("chunk_text"),
            F.col("c.n_chunk_tokens").alias("n_chunk_tokens"),
        )
        .filter(F.col("n_chunk_tokens") > 0)
    )


# ---------------------------------------------------------------------------
# Per-user linear trend: regression slope as an exact-moment aggregate
# ---------------------------------------------------------------------------
@register(
    "user_value_trend",
    doc="per-user least-squares slope of purchase value over time (exact decimal moments)",
    oracle="""
        WITH m AS (
            SELECT user_id, COUNT(*) AS n,
                   CAST(SUM(CAST(epoch_us(ts) // 1000000 - 1704067200 AS DECIMAL(38,0))) AS DOUBLE) AS sx,
                   CAST(SUM(CAST(value AS DECIMAL(27,6))) AS DOUBLE) AS sy,
                   CAST(SUM(CAST(epoch_us(ts) // 1000000 - 1704067200 AS DECIMAL(38,0))
                            * CAST(epoch_us(ts) // 1000000 - 1704067200 AS DECIMAL(38,0))) AS DOUBLE)
                       AS sxx,
                   CAST(SUM(CAST(epoch_us(ts) // 1000000 - 1704067200 AS DECIMAL(38,0))
                            * CAST(value AS DECIMAL(27,6))) AS DOUBLE) AS sxy
            FROM events WHERE event_type = 'purchase' GROUP BY user_id
        )
        SELECT user_id, n,
               round((n * sxy - sx * sy) / (n * sxx - sx * sx), 12) AS slope_per_sec
        FROM m WHERE n >= 2
    """,
)
def user_value_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Least-squares slope of purchase value over time per user — trend
    features for cohort analysis, computed as closed-form regression
    from exact DECIMAL moment sums (n, Σx, Σy, Σx², Σxy): every moment
    is order-independent, the closed form is one fixed IEEE expression,
    and 12-decimal rounding absorbs the final-ulp division divergence.
    x is CENTERED on the 2024-01-01 epoch before the moments — raw epoch
    seconds make Σx² overflow double's exact-integer range and the
    denominator n·Σx²−(Σx)² cancels catastrophically, amplifying the
    decimal→double cast rounding into visible slope divergence
    (measured); centered, every moment is exactly representable.
    No MLlib, no iteration — regression as a hash aggregate with
    map-side partials, the shape that scales.
    """
    ev = _t(spark, sf_dir, "events")
    x = F.expr("CAST(unix_micros(ts) div 1000000 - 1704067200 AS DECIMAL(38,0))")
    y = F.col("value").cast("decimal(27,6)")
    m = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(x).cast("double").alias("sx"),
            F.sum(y).cast("double").alias("sy"),
            F.sum(x * x).cast("double").alias("sxx"),
            F.sum(x * y).cast("double").alias("sxy"),
        )
    )
    return (
        m.filter(F.col("n") >= 2)
        .select(
            "user_id",
            "n",
            F.round(
                F.expr("(n * sxy - sx * sy) / (n * sxx - sx * sx)"), 12
            ).alias("slope_per_sec"),
        )
    )


# ---------------------------------------------------------------------------
# Distinct-set aggregation with deterministic array output
# ---------------------------------------------------------------------------
@register(
    "user_event_type_sets",
    doc="per-user sorted distinct event-type array (deterministic array output)",
    oracle="""
        SELECT user_id,
               array_to_string(list_sort(list(DISTINCT event_type)), ',')
                   AS event_types,
               CAST(len(list(DISTINCT event_type)) AS BIGINT) AS n_types
        FROM events GROUP BY user_id
    """,
)
def user_event_type_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-set aggregation: the event types per user as a SORTED,
    comma-joined string (collect_set order is partition-dependent —
    array_sort makes the value deterministic; the string rendering makes
    it serialization-stable too: raw array columns stringify differently
    depending on whether the session converts results through Arrow, so
    an array output would hash-mismatch under a foreign harness).
    Distinct-inside-aggregate plans as a two-phase hash aggregate.
    """
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        F.array_join(F.array_sort(F.collect_set("event_type")), ",").alias(
            "event_types"
        ),
        F.size(F.collect_set("event_type")).cast("bigint").alias("n_types"),
    )


# ---------------------------------------------------------------------------
# EWMA: sequential recurrence as an ordered fold
# ---------------------------------------------------------------------------
#: Segment length for the EWMA fold. Part of the query contract: the
#: segmented combine reorders float roundings, so a different S produces
#: ulp-different values — the oracle uses the same S. 8 keeps the
#: cross-segment combine exercised even at the driver's sf0.01 oracle
#: run (max ~24 purchases/user there); production would use 1024+.
EWMA_SEGMENT = 8


@register(
    "ewma_user_values",
    doc="exponentially weighted moving average per user (alpha=0.2), segmented-fold exact",
    oracle=f"""
        WITH ranked AS (
            SELECT user_id, event_id, value,
                   row_number() OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS rn
            FROM events WHERE event_type = 'purchase'
        ),
        seg_rows AS (
            SELECT user_id, (rn - 1) // {EWMA_SEGMENT} AS seg,
                   list(value ORDER BY rn) AS vs,
                   list(event_id ORDER BY rn) AS ids
            FROM ranked GROUP BY user_id, (rn - 1) // {EWMA_SEGMENT}
        ),
        seg_partials AS (
            SELECT user_id, seg,
                   list_reduce(list_prepend(CAST(1.0 AS DOUBLE), vs),
                               (a, x) -> a * 0.8) AS decay,
                   list_reduce(list_prepend(CAST(0.0 AS DOUBLE), vs),
                               (a, x) -> 0.2 * x + 0.8 * a) AS part,
                   list_reduce(vs, (a, x) -> 0.2 * x + 0.8 * a) AS self_seeded,
                   len(vs) AS m,
                   ids[len(ids)] AS seg_last
            FROM seg_rows
        ),
        per_user AS (
            SELECT user_id,
                   (list([decay, part] ORDER BY seg))[2:] AS ab_rest,
                   min_by(self_seeded, seg) AS r0,
                   max_by(seg_last, seg) AS last_event_id,
                   CAST(SUM(m) AS BIGINT) AS n_events
            FROM seg_partials GROUP BY user_id
        )
        SELECT user_id, last_event_id,
               list_reduce(list_prepend([r0], ab_rest),
                           (acc, x) -> [x[2] + x[1] * acc[1]])[1] AS ewma_value,
               n_events
        FROM per_user
    """,
)
def ewma_user_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EWMA (α=0.2) of each user's purchase values — the canonical
    SEQUENTIAL recurrence (each output depends on the previous), which
    has no shuffle-free window form.

    Scale-safe segmented formulation: e_i = 0.2·x_i + 0.8·e_{i-1} is a
    linear recurrence, so a run of m values acts on the accumulator as
    acc → decay·acc + part with decay = 0.8^m (built by repeated multiply,
    never pow — pow is not correctly-rounded-portable) and part = the
    same fold seeded with 0. Each per-key series is split into
    EWMA_SEGMENT-row segments by a row_number window; each segment folds
    independently (bounded array, ≤ S rows per aggregation buffer), and
    the per-user combine folds the ordered (decay, part) pairs, seeded
    with segment 0's self-seeded chain. A hot key with 10⁸ events now
    materializes ≤ S-row arrays plus n/S tiny partials — never the whole
    series in one row (round-3 verdict's skewed-key blowup). The combine
    itself could tree-recurse for astronomically hot keys; one level
    bounds 10⁸ events at ~3M 4-double partials, already spillable as
    ordinary rows.

    Bitwise portability: the segmented combine is a DIFFERENT rounding
    order from the strict chain (≈1 ulp/segment drift), so the oracle
    computes the identical segmented form — every step is a correctly-
    rounded IEEE mul/add, which both engines must reproduce exactly.
    Single-segment keys (≤ S events) degenerate to the strict chain.
    Physical plan: the row_number window shuffles on user_id once; both
    downstream aggregations cluster on user_id subsets, so neither adds
    an exchange (asserted in tests/test_plans.py).
    """
    ev = _t(spark, sf_dir, "events")
    return ewma_segmented(ev.filter(F.col("event_type") == "purchase"))


def ewma_segmented(ev: DataFrame, alpha: float = 0.2) -> DataFrame:
    """Segmented EWMA fold over (user_id, ts, event_id, value) rows.

    Split out of the registry query so property tests can drive it with
    synthetic hot-key series (tests/test_properties.py).
    """
    S = EWMA_SEGMENT
    a, b = F.lit(alpha), F.lit(1.0 - alpha)
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    ranked = ev.select("user_id", "ts", "event_id", "value").withColumn(
        "rn", F.row_number().over(w)
    )
    seg_rows = (
        ranked.withColumn("seg", ((F.col("rn") - 1) / S).cast("long"))
        .groupBy("user_id", "seg")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("rn", "value", "event_id"))
            ).alias("rows")
        )
    )
    vs = F.col("rows.value")
    tail = F.slice(vs, 2, F.greatest(F.size(vs) - 1, F.lit(0)))
    seg_partials = seg_rows.select(
        "user_id",
        "seg",
        F.aggregate(vs, F.lit(1.0), lambda acc, x: acc * b).alias("decay"),
        F.aggregate(
            vs, F.lit(0.0), lambda acc, x: a * x + b * acc
        ).alias("part"),
        F.aggregate(
            tail,
            F.element_at(vs, 1),
            lambda acc, x: a * x + b * acc,
        ).alias("self_seeded"),
        F.size(vs).alias("m"),
        F.element_at(F.col("rows.event_id"), -1).alias("seg_last"),
    )
    per_user = seg_partials.groupBy("user_id").agg(
        F.array_sort(
            F.collect_list(F.struct("seg", "decay", "part", "self_seeded", "seg_last"))
        ).alias("ss"),
        F.sum("m").cast("bigint").alias("n_events"),
    )
    ss = F.col("ss")
    rest = F.slice(ss, 2, F.greatest(F.size(ss) - 1, F.lit(0)))
    return per_user.select(
        "user_id",
        F.element_at(ss, -1)["seg_last"].alias("last_event_id"),
        F.aggregate(
            rest,
            F.element_at(ss, 1)["self_seeded"],
            lambda acc, s: s["part"] + s["decay"] * acc,
        ).alias("ewma_value"),
        "n_events",
    )


# ---------------------------------------------------------------------------
# LTTB-style downsampling: the visually-important point per bucket
# ---------------------------------------------------------------------------
@register(
    "lttb_downsample",
    doc="largest-triangle downsample per hour bucket (bucket-mean anchors, parallel form)",
    oracle="""
        WITH pts AS (
            SELECT event_type, event_id,
                   CAST(epoch_us(ts) // 1000000 - 1704067200 AS DOUBLE) AS x,
                   value AS y,
                   CAST((epoch_us(ts) // 1000000 - 1704067200) // 3600 AS BIGINT) AS b
            FROM events
        ),
        means AS (
            SELECT event_type, b,
                   CAST(SUM(CAST(x AS BIGINT)) AS DOUBLE) / COUNT(*) AS mx,
                   CAST(SUM(CAST(floor(y * 100 + 0.5) AS BIGINT)) AS DOUBLE)
                       / (COUNT(*) * 100) AS my
            FROM pts GROUP BY event_type, b
        ),
        ranked AS (
            SELECT p.event_type, p.b, p.event_id, p.y,
                   abs((l.mx - r.mx) * (p.y - l.my)
                       - (l.mx - p.x) * (r.my - l.my)) AS area,
                   row_number() OVER (
                       PARTITION BY p.event_type, p.b
                       ORDER BY abs((l.mx - r.mx) * (p.y - l.my)
                                    - (l.mx - p.x) * (r.my - l.my)) DESC,
                                p.event_id) AS rnk
            FROM pts p
            JOIN means l ON l.event_type = p.event_type AND l.b = p.b - 1
            JOIN means r ON r.event_type = p.event_type AND r.b = p.b + 1
        )
        SELECT event_type, b AS bucket, event_id, y AS kept_value, area
        FROM ranked WHERE rnk = 1
    """,
)
def lttb_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Largest-Triangle downsampling for chart rendering (the hypertable
    `lttb()` analog): per (event_type, hour bucket) keep the point whose
    triangle with the NEIGHBOR BUCKET MEANS has the largest area — the
    parallel form of LTTB (classic LTTB anchors on the previously
    selected point, a sequential dependency; mean anchors decouple the
    buckets so every bucket ranks independently — one join against the
    tiny bucket-means table and one windowed argmax). The mean anchors
    come from exact decimal sums and the area is a fixed IEEE
    expression, so selection (and the tie-break by event_id) is
    identical in both engines; x is centered on the 2024-01-01 epoch so
    the products stay well-conditioned.
    """
    ev = _t(spark, sf_dir, "events")
    pts = ev.select(
        "event_type",
        "event_id",
        F.expr("CAST(unix_micros(ts) div 1000000 - 1704067200 AS DOUBLE)").alias("x"),
        F.col("value").alias("y"),
        F.expr("CAST((unix_micros(ts) div 1000000 - 1704067200) div 3600 AS BIGINT)").alias("b"),
    )
    # anchors from pure-INTEGER sums (seconds; cent-quantized values):
    # integer sums cast to double exactly, and each mean is one IEEE
    # division — a DECIMAL accumulator here would reintroduce the
    # DuckDB double→decimal→double conversion ulp (it flipped one
    # area's 6th decimal at sf0.01 before this)
    means = pts.groupBy("event_type", "b").agg(
        (F.sum(F.col("x").cast("bigint")).cast("double") / F.count(F.lit(1))).alias("mx"),
        (
            F.sum(F.floor(F.col("y") * 100 + 0.5).cast("bigint")).cast("double")
            / (F.count(F.lit(1)) * 100)
        ).alias("my"),
    )
    l = means.select(
        F.col("event_type").alias("l_et"), (F.col("b") + 1).alias("l_b"),
        F.col("mx").alias("l_mx"), F.col("my").alias("l_my"),
    )
    r = means.select(
        F.col("event_type").alias("r_et"), (F.col("b") - 1).alias("r_b"),
        F.col("mx").alias("r_mx"), F.col("my").alias("r_my"),
    )
    joined = pts.join(
        l, (F.col("event_type") == F.col("l_et")) & (F.col("b") == F.col("l_b"))
    ).join(r, (F.col("event_type") == F.col("r_et")) & (F.col("b") == F.col("r_b")))
    area = F.abs(
        (F.col("l_mx") - F.col("r_mx")) * (F.col("y") - F.col("l_my"))
        - (F.col("l_mx") - F.col("x")) * (F.col("r_my") - F.col("l_my"))
    )
    w = W.partitionBy("event_type", "b").orderBy(area.desc(), F.col("event_id"))
    return (
        joined.withColumn("area", area)
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") == 1)
        .select(
            "event_type",
            F.col("b").alias("bucket"),
            "event_id",
            F.col("y").alias("kept_value"),
            # raw double, deliberately NOT rounded: the pre-round areas
            # are bit-identical across engines (integer-exact anchors +
            # fixed IEEE expression), while rounding would DIVERGE at
            # exact decimal ties — cent-quantized inputs make dyadic
            # area values like x.xx90625 reachable, and Spark rounds
            # half-up where DuckDB rounds half-even (hit at sf0.01)
            F.col("area"),
        )
    )


# ---------------------------------------------------------------------------
# DSIR: hashed-feature importance weights for data selection (round 7)
# ---------------------------------------------------------------------------
_DSIR_BUCKETS = 64
_DSIR_TARGET_LANG = "en"


def _dsir_oracle() -> str:
    from dynaledger_spark.plans.queries_stats import _duck_hex_poly

    h = f"{_duck_hex_poly('md5(u.w)', 10)} % {_DSIR_BUCKETS}"
    return f"""
        WITH words AS (
            SELECT doc_id, lang, {h} AS bucket
            FROM documents, unnest(string_split(text, ' ')) AS u(w)
        ),
        raw AS (
            SELECT bucket, COUNT(*) AS r_cnt FROM words GROUP BY bucket
        ),
        tgt AS (
            SELECT bucket, COUNT(*) AS t_cnt FROM words
            WHERE lang = '{_DSIR_TARGET_LANG}' GROUP BY bucket
        ),
        tots AS (
            SELECT CAST(COUNT(*) AS DOUBLE) AS r_tot,
                   CAST(COUNT(*) FILTER (lang = '{_DSIR_TARGET_LANG}')
                        AS DOUBLE) AS t_tot
            FROM words
        ),
        lr AS (
            SELECT raw.bucket,
                   round(ln((coalesce(t_cnt, 0) + 1.0)
                            / (t_tot + {_DSIR_BUCKETS}.0))
                         - ln((r_cnt + 1.0) / (r_tot + {_DSIR_BUCKETS}.0)),
                         12) AS log_ratio
            FROM raw LEFT JOIN tgt USING (bucket), tots
        ),
        db AS (
            SELECT doc_id, bucket, COUNT(*) AS cnt
            FROM words GROUP BY doc_id, bucket
        ),
        terms AS (
            SELECT doc_id, round(cnt * log_ratio, 12) AS term
            FROM db JOIN lr USING (bucket)
        ),
        weights AS (
            SELECT doc_id,
                   round(list_reduce(list_prepend(0.0, list_sort(list(term))),
                                     (a, b) -> a + b), 9) AS dsir_weight
            FROM terms GROUP BY doc_id
        )
        SELECT d.doc_id, d.lang, w.dsir_weight
        FROM weights w JOIN documents d USING (doc_id)
        WHERE d.lang <> '{_DSIR_TARGET_LANG}'
        ORDER BY dsir_weight DESC, d.doc_id
        LIMIT 25
    """


@register(
    "dsir_importance_weights",
    doc=f"DSIR data selection: top-25 non-{_DSIR_TARGET_LANG} docs by hashed-ngram importance weight",
    oracle=None,  # assembled below (needs the hash polynomial)
)
def dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR (Xie et al. 2023, arXiv:2302.03169): select raw-corpus
    documents that LOOK like the target distribution by an importance
    weight computed over hashed n-gram features — the published recipe
    for cheap, scalable data selection. Target = the 'en' slice, raw =
    the whole corpus; features are the repo's portable md5-polynomial
    hash of each token into 64 buckets; bucket log-ratios use +1
    smoothing; a document's weight is Σ_b cnt_b · log(p_t(b)/p_r(b)).

    Plan: ONE token explode feeds three map-side-combined aggregates —
    per-bucket raw counts, per-bucket target counts, per-(doc, bucket)
    counts; the 64-row smoothed log-ratio table joins back as a
    broadcast and each doc's weight folds its ≤64 terms in sorted
    order (bitwise-portable). The totals are a 1-row broadcast. At
    100 TB the corpus is touched twice (bucket stats, then doc terms)
    with every reduction map-side first — no shuffle ever carries
    un-aggregated tokens; top-25 is TakeOrdered.
    reference: SURVEY §2.11 (sampling/curation tier).
    """
    docs = _t(spark, sf_dir, "documents")
    h = F.expr("CAST(conv(substring(md5(word), 1, 10), 16, 10) AS BIGINT)")
    words = docs.select(
        "doc_id", "lang", F.explode(F.split("text", " ")).alias("word")
    ).select("doc_id", "lang", (h % _DSIR_BUCKETS).alias("bucket"))
    raw = words.groupBy("bucket").agg(F.count(F.lit(1)).alias("r_cnt"))
    tgt = (
        words.filter(F.col("lang") == _DSIR_TARGET_LANG)
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("t_cnt"))
    )
    tots = words.agg(
        F.count(F.lit(1)).cast("double").alias("r_tot"),
        F.count(F.when(F.col("lang") == _DSIR_TARGET_LANG, 1))
        .cast("double")
        .alias("t_tot"),
    )
    lr = (
        raw.join(tgt, "bucket", "left")
        .crossJoin(F.broadcast(tots))
        .select(
            "bucket",
            F.round(
                F.log(
                    (F.coalesce(F.col("t_cnt"), F.lit(0)) + 1.0)
                    / (F.col("t_tot") + float(_DSIR_BUCKETS))
                )
                - F.log(
                    (F.col("r_cnt") + 1.0) / (F.col("r_tot") + float(_DSIR_BUCKETS))
                ),
                12,
            ).alias("log_ratio"),
        )
    )
    db = words.groupBy("doc_id", "bucket").agg(F.count(F.lit(1)).alias("cnt"))
    terms = db.join(F.broadcast(lr), "bucket").select(
        "doc_id", F.round(F.col("cnt") * F.col("log_ratio"), 12).alias("term")
    )
    weights = terms.groupBy("doc_id").agg(
        F.round(
            F.aggregate(
                F.array_sort(F.collect_list("term")), F.lit(0.0), lambda a, x: a + x
            ),
            9,
        ).alias("dsir_weight")
    )
    return (
        weights.join(docs.select("doc_id", "lang"), "doc_id")
        .filter(F.col("lang") != _DSIR_TARGET_LANG)
        .select("doc_id", "lang", "dsir_weight")
        .orderBy(F.col("dsir_weight").desc(), "doc_id")
        .limit(25)
    )


from dynaledger_spark.plans.registry import QUERY_REGISTRY as _QR2  # noqa: E402

_QR2["dsir_importance_weights"].oracle = _dsir_oracle()


# ---------------------------------------------------------------------------
# Length-grouped batching (round 7)
# ---------------------------------------------------------------------------
_LGB_SHARDS, _LGB_BATCH = 8, 8


@register(
    "length_grouped_batching",
    doc=f"length-grouped batching: per-shard padding waste, length-sorted vs arrival order",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, doc_id % {_LGB_SHARDS} AS shard,
                   len(string_split(text, ' ')) AS n_tokens
            FROM documents
        ),
        grouped AS (
            SELECT shard, n_tokens,
                   (row_number() OVER (PARTITION BY shard
                                       ORDER BY n_tokens DESC, doc_id) - 1)
                       // {_LGB_BATCH} AS batch
            FROM toks
        ),
        arrival AS (
            SELECT shard, n_tokens,
                   (row_number() OVER (PARTITION BY shard ORDER BY doc_id) - 1)
                       // {_LGB_BATCH} AS batch
            FROM toks
        ),
        gp AS (
            SELECT shard, SUM(pad) AS padded FROM (
                SELECT shard, batch, COUNT(*) * MAX(n_tokens) AS pad
                FROM grouped GROUP BY shard, batch)
            GROUP BY shard
        ),
        ap AS (
            SELECT shard, SUM(pad) AS padded FROM (
                SELECT shard, batch, COUNT(*) * MAX(n_tokens) AS pad
                FROM arrival GROUP BY shard, batch)
            GROUP BY shard
        ),
        base AS (
            SELECT shard, COUNT(*) AS n_docs,
                   CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens
            FROM toks GROUP BY shard
        )
        SELECT b.shard, b.n_docs, b.sum_tokens,
               CAST(gp.padded AS BIGINT) AS grouped_padded,
               CAST(ap.padded AS BIGINT) AS arrival_padded,
               round(1.0 - CAST(gp.padded AS DOUBLE) / ap.padded, 9)
                   AS padding_saved
        FROM base b JOIN gp USING (shard) JOIN ap USING (shard)
        ORDER BY b.shard
    """,
)
def length_grouped_batching(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-grouped batching (the LengthGroupedSampler in standard
    training stacks; "dynamic batching" in fairseq): batches of
    near-equal sequence length waste far fewer pad tokens than
    arrival-order batches, because a batch pads every member to its
    max. Per shard (doc_id % {_LGB_SHARDS} — samplers group within
    loader shards, which is what keeps the sort distributed), documents
    sort by (n_tokens DESC, doc_id) into batches of {_LGB_BATCH}; the
    padded-token bill COUNT(*)*MAX(len) per batch is compared against
    the same documents batched in arrival order. All-integer arithmetic
    except the final saving ratio (one division, 9 dp).

    Plan: ONE exchange on shard serves both rank windows (same
    partitioning, different orderBy) and all three rollups; output is
    {_LGB_SHARDS} rows. At 100 TB shards map to loader files and the
    per-shard sort is the sampler's own cost — no global ordering
    anywhere. reference: SURVEY §2.11 (mlprep tier).
    """
    docs = _docs(spark, sf_dir)
    toks = docs.select(
        "doc_id",
        (F.col("doc_id") % _LGB_SHARDS).alias("shard"),
        F.size(F.split("text", " ")).cast("bigint").alias("n_tokens"),
    )

    def _padded(order_cols, alias):
        w = W.partitionBy("shard").orderBy(*order_cols)
        return (
            toks.withColumn(
                "batch",
                F.floor((F.row_number().over(w) - 1) / _LGB_BATCH),
            )
            .groupBy("shard", "batch")
            .agg((F.count(F.lit(1)) * F.max("n_tokens")).alias("pad"))
            .groupBy("shard")
            .agg(F.sum("pad").cast("bigint").alias(alias))
        )

    gp = _padded([F.col("n_tokens").desc(), F.col("doc_id")], "grouped_padded")
    ap = _padded([F.col("doc_id")], "arrival_padded")
    base = toks.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("sum_tokens"),
    )
    return (
        base.join(gp, "shard")
        .join(ap, "shard")
        .select(
            "shard", "n_docs", "sum_tokens", "grouped_padded",
            "arrival_padded",
            F.round(
                1.0
                - F.col("grouped_padded").cast("double")
                / F.col("arrival_padded"),
                9,
            ).alias("padding_saved"),
        )
        .orderBy("shard")
    )
