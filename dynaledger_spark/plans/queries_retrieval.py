"""Lexical retrieval operators: BM25 ranking, RM3 query expansion and
keyword-in-context concordance over the document corpus.

Float determinism: every BM25 component (idf, tf saturation, length
norm) is derived per term from exact integers (N, df, tf, dl, Σdl), and
the per-document sum over the THREE fixed query terms is written as a
fixed left-to-right expression — never a SUM aggregate over doubles —
so Spark and DuckDB execute the identical IEEE sequence. Scores round
at 9 before the top-k sort.

Scale posture: the tf pass is an explode + (doc_id, term) hash
aggregate filtered to the query terms BEFORE the shuffle (the filter
is pushed inside the generator), so shuffle volume is O(matching
terms), not O(corpus tokens). df/avgdl are broadcast one-row scalars.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from dynaledger_spark.plans.registry import register

QUERY_TERMS = ("hash", "window", "vector")
K1 = 1.2
B = 0.75


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    from dynaledger_spark.catalog import read_table

    return read_table(spark, sf_dir, name)


def _terms_sql() -> str:
    return ", ".join(f"'{t}'" for t in QUERY_TERMS)


# Shared oracle CTE body: per-doc BM25 score for the fixed query terms.
# tf_<term> columns come from one conditional aggregation; the score is a
# fixed-order sum of the three per-term contributions.
def _bm25_oracle_ctes() -> str:
    tf_cols = ",\n                   ".join(
        f"MAX(CASE WHEN term = '{t}' THEN tf END) AS tf_{t}"
        for t in QUERY_TERMS
    )
    df_cols = ",\n                   ".join(
        f"COUNT(CASE WHEN term = '{t}' THEN 1 END) AS df_{t}"
        for t in QUERY_TERMS
    )
    contrib = "\n                   + ".join(
        f"""(CASE WHEN tf_{t} IS NULL THEN 0.0 ELSE
             ln((CAST(n_docs - df_{t} AS DOUBLE) + 0.5)
                / (CAST(df_{t} AS DOUBLE) + 0.5) + 1.0)
             * (CAST(tf_{t} AS DOUBLE) * ({K1} + 1.0))
             / (CAST(tf_{t} AS DOUBLE)
                + {K1} * (1.0 - {B} + {B} * (CAST(dl AS DOUBLE)
                                             / avgdl))) END)"""
        for t in QUERY_TERMS
    )
    return f"""
        toks AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS term
            FROM documents
        ),
        dls AS (
            SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl
            FROM toks GROUP BY doc_id
        ),
        corpus AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(dl) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avgdl
            FROM dls
        ),
        tf AS (
            SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
            FROM toks WHERE term IN ({_terms_sql()})
            GROUP BY doc_id, term
        ),
        dfs AS (
            SELECT {df_cols}
            FROM (SELECT DISTINCT doc_id, term FROM tf)
        ),
        wide AS (
            SELECT doc_id,
                   {tf_cols}
            FROM tf GROUP BY doc_id
        ),
        scored AS (
            SELECT w.doc_id,
                   round({contrib}, 9) AS bm25
            FROM wide w CROSS JOIN dfs CROSS JOIN corpus
            JOIN dls ON dls.doc_id = w.doc_id
        )"""


def _toks_dls_corpus(spark: SparkSession, sf_dir: str):
    """(token stream, per-doc lengths, 1-row corpus stats) — the shared
    derivation behind BM25 scoring AND the RM3 re-ranker: both must see
    the identical tokenization/avgdl or expansion silently diverges
    from its own feedback retrieval."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("term")
    )
    dls = toks.groupBy("doc_id").agg(F.count(F.lit(1)).cast("bigint").alias("dl"))
    corpus = dls.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        (F.sum("dl").cast("double") / F.count(F.lit(1)).cast("double")).alias(
            "avgdl"
        ),
    )
    return toks, dls, corpus


def _bm25_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc BM25 score (docs containing ≥1 query term), rounded at 9."""
    toks, dls, corpus = _toks_dls_corpus(spark, sf_dir)
    tf = (
        toks.filter(F.col("term").isin(*QUERY_TERMS))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
    )
    dfs = tf.select("doc_id", "term").distinct().agg(
        *[
            F.count(F.when(F.col("term") == t, 1)).alias(f"df_{t}")
            for t in QUERY_TERMS
        ]
    )
    wide = tf.groupBy("doc_id").agg(
        *[
            F.max(F.when(F.col("term") == t, F.col("tf"))).alias(f"tf_{t}")
            for t in QUERY_TERMS
        ]
    )
    scored = (
        wide.crossJoin(F.broadcast(dfs))
        .crossJoin(F.broadcast(corpus))
        .join(dls, "doc_id")
    )

    def term_contrib(t: str):
        tf_c = F.col(f"tf_{t}").cast("double")
        df_c = F.col(f"df_{t}").cast("double")
        idf = F.log(
            ((F.col("n_docs").cast("double") - df_c) + 0.5) / (df_c + 0.5) + 1.0
        )
        norm = tf_c + K1 * (
            1.0 - B + B * (F.col("dl").cast("double") / F.col("avgdl"))
        )
        return F.when(F.col(f"tf_{t}").isNull(), F.lit(0.0)).otherwise(
            idf * (tf_c * (K1 + 1.0)) / norm
        )

    score = term_contrib(QUERY_TERMS[0])
    for t in QUERY_TERMS[1:]:
        score = score + term_contrib(t)
    return scored.select("doc_id", F.round(score, 9).alias("bm25"))


# ---------------------------------------------------------------------------
# BM25 top-k
# ---------------------------------------------------------------------------
@register(
    "bm25_topk_docs",
    doc=f"BM25 (k1={K1}, b={B}) top-20 documents for the fixed 3-term query",
    oracle=f"""
        WITH {_bm25_oracle_ctes()}
        SELECT doc_id, bm25 FROM scored
        ORDER BY bm25 DESC, doc_id LIMIT 20
    """,
)
def bm25_topk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The lexical half of the retrieval stack: classic Okapi BM25 with
    the (N − df + 0.5)/(df + 0.5) + 1 idf (Lucene's non-negative
    form). See module docstring for the fixed-order float discipline.
    """
    return (
        _bm25_scores(spark, sf_dir)
        .orderBy(F.col("bm25").desc(), "doc_id")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# KWIC concordance: keyword-in-context windows for a fixed term
# ---------------------------------------------------------------------------
@register(
    "kwic_concordance",
    doc="keyword-in-context: ±3-token windows around every occurrence of 'join'",
    oracle="""
        WITH toks AS (
            SELECT doc_id, string_split(text, ' ') AS arr FROM documents
        ),
        hits AS (
            SELECT doc_id, CAST(u.i AS BIGINT) AS pos, arr
            FROM toks, unnest(range(0, len(arr))) AS u(i)
            WHERE arr[CAST(u.i AS INT) + 1] = 'join'
        )
        SELECT doc_id, pos,
               array_to_string(
                   arr[CAST(greatest(pos - 3, 0) + 1 AS INT)
                       :CAST(least(pos + 3, len(arr) - 1) + 1 AS INT)],
                   ' ') AS context
        FROM hits ORDER BY doc_id, pos LIMIT 25
    """,
)
def kwic_concordance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus-inspection tool linguists and data auditors run
    before trusting a filter rule: every occurrence of the term with
    its ±3-token context window. Positions are 0-based token offsets;
    the window clips at document edges. First 25 hits in (doc_id,
    pos) order — a LIMIT over a sorted explode, which Spark executes
    as TakeOrdered without materializing the full hit list.

    Plan: scan → split once per doc → posexplode filtered to the term
    (predicate inside the generator output, before any shuffle) →
    per-row slice+join. Zero exchanges except the final TakeOrdered.
    """
    d = _t(spark, sf_dir, "documents")
    arr = F.split("text", " ")
    hits = d.select(
        "doc_id", arr.alias("arr"), F.posexplode(arr).alias("pos", "tok")
    ).filter(F.col("tok") == "join")
    start = F.greatest(F.col("pos") - 3, F.lit(0))
    end = F.least(F.col("pos") + 3, F.size("arr") - 1)
    return (
        hits.select(
            "doc_id",
            F.col("pos").cast("bigint").alias("pos"),
            F.array_join(
                F.slice(F.col("arr"), start + 1, end - start + 1), " "
            ).alias("context"),
        )
        .orderBy("doc_id", "pos")
        .limit(25)
    )


from dynaledger_spark.plans.registry import QUERY_REGISTRY as _QRR  # noqa: E402


# ---------------------------------------------------------------------------
# RM3 pseudo-relevance-feedback query expansion
# ---------------------------------------------------------------------------
_RM3_LAMBDA = 0.6  # weight on the original query; 1-lambda on the expansion
_RM3_FB_DOCS = 10
_RM3_EXP_TERMS = 5


def _rm3_oracle() -> str:
    return f"""
        WITH {_bm25_oracle_ctes()},
        fb AS (
            SELECT doc_id FROM scored ORDER BY bm25 DESC, doc_id
            LIMIT {_RM3_FB_DOCS}
        ),
        tf_all AS (
            SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
            FROM toks GROUP BY doc_id, term
        ),
        rm1 AS (
            SELECT t.term,
                   SUM(CAST(round(CAST(t.tf AS DOUBLE) / CAST(d.dl AS DOUBLE), 9)
                       AS DECIMAL(27,9))) AS w_raw
            FROM tf_all t JOIN fb USING (doc_id) JOIN dls d ON d.doc_id = t.doc_id
            WHERE t.term NOT IN ({_terms_sql()}) AND length(t.term) >= 3
            GROUP BY t.term
        ),
        exp5 AS (
            SELECT term, w_raw FROM rm1 ORDER BY w_raw DESC, term
            LIMIT {_RM3_EXP_TERMS}
        ),
        qterms AS (
            SELECT term,
                   {1.0 - _RM3_LAMBDA} * (CAST(w_raw AS DOUBLE)
                       / CAST((SELECT SUM(w_raw) FROM exp5) AS DOUBLE)) AS qw
            FROM exp5
            UNION ALL
            SELECT term, CAST({_RM3_LAMBDA / len(QUERY_TERMS)} AS DOUBLE) AS qw
            FROM (SELECT unnest([{_terms_sql()}]) AS term)
        ),
        dfq AS (
            SELECT term, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
            FROM tf_all WHERE term IN (SELECT term FROM qterms)
            GROUP BY term
        ),
        contrib AS (
            SELECT t.doc_id,
                   round(q.qw * (
                       ln((CAST(c.n_docs AS DOUBLE) - CAST(f.df AS DOUBLE) + 0.5)
                          / (CAST(f.df AS DOUBLE) + 0.5) + 1.0)
                       * (CAST(t.tf AS DOUBLE) * ({K1} + 1.0))
                       / (CAST(t.tf AS DOUBLE)
                          + {K1} * (1.0 - {B} + {B} * (CAST(d.dl AS DOUBLE)
                                                       / c.avgdl)))), 9) AS con
            FROM tf_all t
            JOIN qterms q ON q.term = t.term
            JOIN dfq f ON f.term = t.term
            JOIN dls d ON d.doc_id = t.doc_id
            CROSS JOIN corpus c
        ),
        rm3 AS (
            SELECT doc_id,
                   round(CAST(SUM(CAST(con AS DECIMAL(27,9))) AS DOUBLE), 9)
                       AS rm3_score
            FROM contrib GROUP BY doc_id
        )
        SELECT doc_id, rm3_score,
               CAST(row_number() OVER (ORDER BY rm3_score DESC, doc_id) AS INT)
                   AS rnk
        FROM rm3 ORDER BY rm3_score DESC, doc_id LIMIT 10
    """


@register(
    "rm3_query_expansion",
    doc=f"RM3 pseudo-relevance feedback: BM25 top-{_RM3_FB_DOCS} -> top-{_RM3_EXP_TERMS} expansion terms -> interpolated re-ranking (lambda={_RM3_LAMBDA})",
)
def rm3_query_expansion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RM3 (Lavrenko & Croft 2001 relevance models, the Abdul-Jaleel
    et al. 2004 interpolated form — the standard strong lexical
    baseline): retrieve BM25 top-10 for the fixed 3-term query, build
    the RM1 relevance model over the feedback docs' vocabulary
    (w(t) = sum of per-doc normalized tf, stopword-proxy: terms < 3
    chars and the originals excluded), keep the top-5 expansion terms,
    and re-rank the corpus with the interpolated query
    lambda*MLE(q) + (1-lambda)*RM1 — each term scored by its BM25
    contribution weighted by its query probability.

    Determinism: RM1 weights are DECIMAL sums of per-doc rounded
    ratios (ties in the top-5 break on the term string); the final
    per-doc score is a DECIMAL accumulation of per-(doc, term) rounded
    contributions, each a fixed IEEE chain over exact integers (tf, dl,
    df, N) — bitwise equal to the DuckDB re-derivation including the
    ranking.

    Scale posture: the corpus token stream is NEVER aggregated into a
    full inverted index on the Spark side — pass 1 semi-joins the token
    stream against the broadcast 10-doc feedback set BEFORE the
    (doc, term) aggregate, pass 2 against the broadcast <=8-term
    expanded query, so both shuffles carry only matching tokens (the
    same pushed-filter shape bm25_topk_docs uses for its fixed terms).
    df/avgdl/corpus stats are one-row broadcasts. At 100 TB the
    expensive stage is the pass-2 token scan, which is embarrassingly
    parallel and shuffle-light.
    """
    toks, dls, corpus = _toks_dls_corpus(spark, sf_dir)
    fb = (
        _bm25_scores(spark, sf_dir)
        .orderBy(F.col("bm25").desc(), "doc_id")
        .limit(_RM3_FB_DOCS)
        .select("doc_id")
    )
    # pass 1: tf restricted to the feedback docs (broadcast semi-join
    # before the aggregate)
    tf_fb = (
        toks.join(F.broadcast(fb), "doc_id")
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
    )
    rm1 = (
        tf_fb.filter(
            (~F.col("term").isin(*QUERY_TERMS)) & (F.length("term") >= 3)
        )
        .join(dls, "doc_id")
        .groupBy("term")
        .agg(
            F.sum(
                F.round(
                    F.col("tf").cast("double") / F.col("dl").cast("double"), 9
                ).cast("decimal(27,9)")
            ).alias("w_raw")
        )
    )
    exp5 = rm1.orderBy(F.col("w_raw").desc(), "term").limit(_RM3_EXP_TERMS)
    wsum = exp5.agg(F.sum("w_raw").alias("wsum"))
    expnorm = exp5.crossJoin(F.broadcast(wsum)).select(
        "term",
        (
            F.lit(1.0 - _RM3_LAMBDA)
            * (F.col("w_raw").cast("double") / F.col("wsum").cast("double"))
        ).alias("qw"),
    )
    orig = spark.createDataFrame(
        [(t, _RM3_LAMBDA / len(QUERY_TERMS)) for t in QUERY_TERMS],
        "term string, qw double",
    )
    qterms = expnorm.unionByName(orig)
    # pass 2: tf restricted to the expanded term set (broadcast filter
    # before the aggregate)
    tf_q = (
        toks.join(F.broadcast(qterms.select("term")), "term")
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
    )
    dfq = tf_q.groupBy("term").agg(
        F.countDistinct("doc_id").cast("bigint").alias("df")
    )
    j = (
        tf_q.join(F.broadcast(qterms), "term")
        .join(F.broadcast(dfq), "term")
        .join(dls, "doc_id")
        .crossJoin(F.broadcast(corpus))
    )
    idf = F.log(
        (F.col("n_docs").cast("double") - F.col("df").cast("double") + 0.5)
        / (F.col("df").cast("double") + 0.5)
        + 1.0
    )
    tf_c = F.col("tf").cast("double")
    norm = tf_c + K1 * (1.0 - B + B * (F.col("dl").cast("double") / F.col("avgdl")))
    con = F.round(F.col("qw") * (idf * (tf_c * (K1 + 1.0)) / norm), 9)
    rm3 = (
        j.select("doc_id", con.alias("con"))
        .groupBy("doc_id")
        .agg(
            F.round(F.sum(F.col("con").cast("decimal(27,9)")).cast("double"), 9).alias(
                "rm3_score"
            )
        )
    )
    top = rm3.orderBy(F.col("rm3_score").desc(), "doc_id").limit(10)
    rnk = F.row_number().over(W.orderBy(F.col("rm3_score").desc(), "doc_id"))
    return top.select("doc_id", "rm3_score", rnk.cast("int").alias("rnk"))


_QRR["rm3_query_expansion"].oracle = _rm3_oracle()
