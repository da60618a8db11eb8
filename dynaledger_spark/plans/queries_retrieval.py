"""Lexical + hybrid retrieval operators (round-5 batch 2).

BM25 scoring over the document corpus and reciprocal-rank-fusion of
the lexical ranking with the dense cosine ranking (doc_id ↔ vec_id is
the corpus's 1:1 text/embedding pairing). Together with ann_cosine_topk
/ ann_lsh_bucketed / ann_ivf_topk this completes the retrieval stack a
training-data pipeline uses for decontamination lookups and hard-negative
mining: exact lexical, exact dense, approximate dense, and fused.

Float determinism: every BM25 component (idf, tf saturation, length
norm) is derived per term from exact integers (N, df, tf, dl, Σdl), and
the per-document sum over the THREE fixed query terms is written as a
fixed left-to-right expression — never a SUM aggregate over doubles —
so Spark and DuckDB execute the identical IEEE sequence. RRF adds two
such doubles in fixed order. Scores round at 9 before the top-k sort.

Scale posture: the tf pass is an explode + (doc_id, term) hash
aggregate filtered to the query terms BEFORE the shuffle (the filter
is pushed inside the generator), so shuffle volume is O(matching
terms), not O(corpus tokens). df/avgdl are broadcast one-row scalars.
The fusion join is top-100 × top-100 — broadcast-sized by construction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from dynaledger_spark.plans.queries_vector import _SQ_FOLD_DUCK, _duck_dot
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
# Hybrid fusion: RRF of BM25 rank and dense cosine rank
# ---------------------------------------------------------------------------
@register(
    "rrf_hybrid_topk",
    doc="reciprocal-rank fusion (c=60) of BM25 top-100 and cosine top-100",
    oracle=f"""
        WITH {_bm25_oracle_ctes()},
        lex AS (
            SELECT doc_id,
                   row_number() OVER (ORDER BY bm25 DESC, doc_id) AS r_lex
            FROM scored
            ORDER BY bm25 DESC, doc_id LIMIT 100
        ),
        q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
        cos AS (
            SELECT vec_id AS doc_id,
                   row_number() OVER (ORDER BY cos_sim DESC, vec_id) AS r_dense
            FROM (
                SELECT e.vec_id,
                       {_duck_dot('e.embedding', 'q.qv')}
                       / (sqrt({_SQ_FOLD_DUCK.replace('embedding', 'e.embedding')})
                          * sqrt({_SQ_FOLD_DUCK.replace('embedding', 'q.qv')}))
                           AS cos_sim
                FROM embeddings e, q WHERE e.vec_id <> 0
            )
            ORDER BY cos_sim DESC, doc_id LIMIT 100
        )
        SELECT COALESCE(lex.doc_id, cos.doc_id) AS doc_id,
               lex.r_lex AS r_lex, cos.r_dense AS r_dense,
               round(COALESCE(1.0 / (60.0 + CAST(lex.r_lex AS DOUBLE)), 0.0)
                     + COALESCE(1.0 / (60.0 + CAST(cos.r_dense AS DOUBLE)),
                                0.0), 9) AS rrf
        FROM lex FULL OUTER JOIN cos ON lex.doc_id = cos.doc_id
        ORDER BY rrf DESC, doc_id LIMIT 15
    """,
)
def rrf_hybrid_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid search the way RAG pipelines fuse lexical and dense
    retrievers without score calibration: rank-only reciprocal-rank
    fusion, rrf = Σ 1/(60 + rank). Both input rankings carry a doc_id
    tiebreak so rank assignment is total; the fusion join is top-100 ×
    top-100 (broadcast-sized whatever the corpus size — the scale cost
    lives in the two upstream rankings, each already bounded).
    """
    lex = (
        _bm25_scores(spark, sf_dir)
        .orderBy(F.col("bm25").desc(), "doc_id")
        .limit(100)
        .withColumn(
            "r_lex",
            F.row_number().over(W.orderBy(F.col("bm25").desc(), "doc_id")),
        )
        .select("doc_id", "r_lex")
    )
    from dynaledger_spark.operators.similarity import cosine_topk

    emb = _t(spark, sf_dir, "embeddings")
    qrow = emb.filter(F.col("vec_id") == 0).select("embedding").head()
    if qrow is None:
        # empty embeddings: the dense arm contributes nothing; the
        # fusion degrades to the lexical ranking (oracle: empty cos CTE)
        from pyspark.sql import types as T

        cos = spark.createDataFrame(
            [],
            T.StructType(
                [
                    T.StructField("doc_id", emb.schema["vec_id"].dataType, True),
                    T.StructField("r_dense", T.IntegerType(), True),
                ]
            ),
        )
    else:
        cos = (
            cosine_topk(emb.filter(F.col("vec_id") != 0), list(qrow[0]), k=100)
            .withColumn(
                "r_dense",
                F.row_number().over(W.orderBy(F.col("cos_sim").desc(), "vec_id")),
            )
            .select(F.col("vec_id").alias("doc_id"), "r_dense")
        )
    fused = lex.join(cos, "doc_id", "full_outer")
    rrf = F.coalesce(
        1.0 / (60.0 + F.col("r_lex").cast("double")), F.lit(0.0)
    ) + F.coalesce(1.0 / (60.0 + F.col("r_dense").cast("double")), F.lit(0.0))
    return (
        fused.select(
            "doc_id",
            F.col("r_lex").cast("bigint").alias("r_lex"),
            F.col("r_dense").cast("bigint").alias("r_dense"),
            F.round(rrf, 9).alias("rrf"),
        )
        .orderBy(F.col("rrf").desc(), "doc_id")
        .limit(15)
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


# ---------------------------------------------------------------------------
# nDCG@10 of the lexical ranking against dense-retrieval relevance
# ---------------------------------------------------------------------------
@register(
    "ndcg_lexical_vs_dense",
    doc="nDCG@10 of the BM25 ranking with dense-cosine top-20 as binary relevance",
    oracle=f"""
        WITH {_bm25_oracle_ctes()},
        lex AS (
            SELECT doc_id,
                   row_number() OVER (ORDER BY bm25 DESC, doc_id) AS r
            FROM scored
            ORDER BY bm25 DESC, doc_id LIMIT 10
        ),
        q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
        gold AS (
            SELECT vec_id AS doc_id FROM (
                SELECT e.vec_id,
                       {_duck_dot('e.embedding', 'q.qv')}
                       / (sqrt({_SQ_FOLD_DUCK.replace('embedding', 'e.embedding')})
                          * sqrt({_SQ_FOLD_DUCK.replace('embedding', 'q.qv')}))
                           AS cos_sim
                FROM embeddings e, q WHERE e.vec_id <> 0
            )
            ORDER BY cos_sim DESC, doc_id LIMIT 20
        ),
        terms AS (
            SELECT l.r,
                   round(CASE WHEN g.doc_id IS NOT NULL
                              THEN 1.0 / (ln(CAST(l.r AS DOUBLE) + 1.0)
                                          / ln(2.0))
                              ELSE 0.0 END, 12) AS dcg_term,
                   round(1.0 / (ln(CAST(l.r AS DOUBLE) + 1.0) / ln(2.0)), 12)
                       AS idcg_term
            FROM lex l LEFT JOIN gold g ON g.doc_id = l.doc_id
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS k,
               CAST(SUM(CASE WHEN dcg_term > 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_relevant_in_k,
               round(CAST(SUM(CAST(dcg_term AS DECIMAL(27,12))) AS DOUBLE)
                     / CAST(SUM(CAST(idcg_term AS DECIMAL(27,12))) AS DOUBLE),
                     9) AS ndcg_at_10
        FROM terms
    """,
)
def ndcg_lexical_vs_dense(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The cross-retriever agreement metric RAG evaluations report:
    nDCG@10 of the BM25 ranking, scoring a doc relevant iff the dense
    retriever puts it in its top-20 (binary pseudo-relevance — the
    standard proxy when human labels don't exist). Each 1/log₂(r+1)
    term is rounded at 12 and summed through an exact DECIMAL
    accumulator (order-independent); the ideal DCG here is the same
    10 positions at relevance 1, so the ratio normalizes correctly and
    only the final division rounds at 9.
    """
    from pyspark.sql import Window as W2

    from dynaledger_spark.operators.similarity import cosine_topk

    lex = (
        _bm25_scores(spark, sf_dir)
        .orderBy(F.col("bm25").desc(), "doc_id")
        .limit(10)
        .withColumn(
            "r", F.row_number().over(W2.orderBy(F.col("bm25").desc(), "doc_id"))
        )
        .select("doc_id", "r")
    )
    emb = _t(spark, sf_dir, "embeddings")
    qrow = emb.filter(F.col("vec_id") == 0).select("embedding").head()
    if qrow is None:
        # empty embeddings: no pseudo-relevance labels — every lexical
        # hit scores 0 (oracle: empty gold CTE, LEFT JOIN misses)
        from pyspark.sql import types as T

        gold = spark.createDataFrame(
            [],
            T.StructType(
                [
                    T.StructField("doc_id", emb.schema["vec_id"].dataType, True),
                    T.StructField("rel", T.IntegerType(), True),
                ]
            ),
        )
    else:
        gold = (
            cosine_topk(emb.filter(F.col("vec_id") != 0), list(qrow[0]), k=20)
            .select(F.col("vec_id").alias("doc_id"), F.lit(1).alias("rel"))
        )
    log2r = F.log(F.col("r").cast("double") + 1.0) / F.log(F.lit(2.0))
    terms = lex.join(F.broadcast(gold), "doc_id", "left").select(
        "r",
        F.round(
            F.when(F.col("rel").isNotNull(), 1.0 / log2r).otherwise(F.lit(0.0)),
            12,
        ).alias("dcg_term"),
        F.round(1.0 / log2r, 12).alias("idcg_term"),
    )
    return terms.agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum(F.when(F.col("dcg_term") > 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_relevant_in_k"),
        F.round(
            F.sum(F.col("dcg_term").cast("decimal(27,12)")).cast("double")
            / F.sum(F.col("idcg_term").cast("decimal(27,12)")).cast("double"),
            9,
        ).alias("ndcg_at_10"),
    )


# ---------------------------------------------------------------------------
# MMR diversified rerank (round 7)
# ---------------------------------------------------------------------------
_MMR_POOL, _MMR_K, _MMR_LAMBDA = 20, 10, 0.7  # pool, picks, relevance weight


def _mmr_cos_duck(a: str, b: str) -> str:
    return (
        f"{_duck_dot(a, b)}"
        f" / (sqrt({_SQ_FOLD_DUCK.replace('embedding', a)})"
        f" * sqrt({_SQ_FOLD_DUCK.replace('embedding', b)}))"
    )


def _mmr_oracle() -> str:
    lam, mu = _MMR_LAMBDA, round(1 - _MMR_LAMBDA, 12)
    parts = [
        "q AS MATERIALIZED (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)",
        f"""cands AS MATERIALIZED (
            SELECT e.vec_id, e.embedding,
                   {_mmr_cos_duck('e.embedding', 'q.qv')} AS rel
            FROM embeddings e, q WHERE e.vec_id <> 0
            ORDER BY rel DESC, e.vec_id LIMIT {_MMR_POOL})""",
        f"sel1 AS MATERIALIZED (SELECT vec_id, embedding, rel, 1 AS rk,"
        f" ({lam} * rel) - ({mu} * 0.0) AS score"
        " FROM cands ORDER BY rel DESC, vec_id LIMIT 1)",
    ]
    for t in range(2, _MMR_K + 1):
        sim = _mmr_cos_duck("c.embedding", "s.embedding")
        parts.append(
            f"rem{t} AS MATERIALIZED (SELECT c.vec_id, c.embedding, c.rel,"
            f" MAX({sim}) AS maxsim FROM cands c, sel{t - 1} s"
            f" WHERE c.vec_id NOT IN (SELECT vec_id FROM sel{t - 1})"
            " GROUP BY c.vec_id, c.embedding, c.rel)"
        )
        parts.append(
            f"sel{t} AS MATERIALIZED (SELECT * FROM sel{t - 1} UNION ALL"
            f" SELECT * FROM (SELECT vec_id, embedding, rel, {t} AS rk,"
            f" ({lam} * rel) - ({mu} * maxsim) AS score"
            f" FROM rem{t}"
            f" ORDER BY ({lam} * rel) - ({mu} * maxsim) DESC, vec_id"
            " LIMIT 1))"
        )
    return (
        "WITH " + ",\n".join(parts)
        + f"\nSELECT rk - 1 AS mmr_rank, vec_id, rel AS relevance,"
        f" score AS mmr_score FROM sel{_MMR_K} ORDER BY mmr_rank"
    )


@register(
    "mmr_rerank",
    doc=f"MMR diversified rerank: top-{_MMR_K} of the cosine top-{_MMR_POOL} (lambda={_MMR_LAMBDA})",
    oracle=None,  # assembled below (unrolled greedy rounds)
)
def mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal Marginal Relevance (Carbonell & Goldstein 1998, SIGIR):
    rerank the dense top-20 for the vec_id=0 query so each pick
    maximizes λ·rel(d) − (1−λ)·max_{s∈S} sim(d, s) — the standard
    diversity-aware cut RAG retrieval and hard-negative mining apply
    after ANN. First pick is pure relevance (empty-S max term = 0).

    Exactness: relevance and pairwise similarity are the sequential
    cosine folds; the greedy runs on the COLLECTED 20-row candidate
    block in driver python whose IEEE ops (left-to-right dot folds,
    sqrt, λ-weighted score) mirror the oracle's expression tree
    verbatim, so the unrolled 10-round CTE chain replays the identical
    argmax sequence bitwise. Ties break to the smaller vec_id.

    Plan: the corpus-scale work is ONE scan + TakeOrdered(20) (the
    same shape as ann_cosine_topk); the rerank itself touches 20 rows
    — at 100 TB the pool would come from the partition-pruned IVF/LSH
    probe and MMR's cost stays O(pool²·d), driver-bounded by
    construction. reference: SURVEY §2.11 (retrieval tier).
    """
    import math

    from pyspark.sql import types as T

    _empty_mmr = T.StructType(
        [
            T.StructField("mmr_rank", T.IntegerType(), True),
            T.StructField("vec_id", T.LongType(), True),
            T.StructField("relevance", T.DoubleType(), True),
            T.StructField("mmr_score", T.DoubleType(), True),
        ]
    )
    emb = _t(spark, sf_dir, "embeddings")
    qrow = emb.filter(F.col("vec_id") == 0).head()
    if qrow is None:  # empty corpus: no query, no pool (oracle chain empty)
        return spark.createDataFrame([], _empty_mmr)
    q = [float(v) for v in qrow.embedding]
    nq = 0.0
    for v in q:
        nq += v * v
    dot_q = F.aggregate(
        F.zip_with(
            F.col("embedding"),
            F.array(*[F.lit(v) for v in q]),
            lambda x, c: x.cast("double") * c,
        ),
        F.lit(0.0),
        lambda a, y: a + y,
    )
    sq = F.aggregate(
        F.col("embedding"),
        F.lit(0.0),
        lambda a, x: a + x.cast("double") * x.cast("double"),
    )
    rel = dot_q / (F.sqrt(sq) * F.lit(math.sqrt(nq)))
    cands = (
        emb.filter(F.col("vec_id") != 0)
        .select("vec_id", "embedding", rel.alias("rel"))
        .orderBy(F.desc("rel"), "vec_id")
        .limit(_MMR_POOL)
    )
    block = cands.collect()  # bounded: exactly _MMR_POOL rows
    if not block:  # query exists but candidate pool is empty
        return spark.createDataFrame([], _empty_mmr)
    vecs = {int(r.vec_id): [float(v) for v in r.embedding] for r in block}
    rels = {int(r.vec_id): float(r.rel) for r in block}

    def _cos(a, b):
        d = n1 = n2 = 0.0
        for x, y in zip(a, b):
            d += x * y
            n1 += x * x
            n2 += y * y
        return d / (math.sqrt(n1) * math.sqrt(n2))

    lam, mu = _MMR_LAMBDA, round(1 - _MMR_LAMBDA, 12)
    first = max(rels, key=lambda v: (rels[v], -v))
    picked = [(first, (lam * rels[first]) - (mu * 0.0))]
    chosen = {first}
    for _ in range(1, _MMR_K):
        best = None
        for v in sorted(vecs):
            if v in chosen:
                continue
            maxsim = max(_cos(vecs[v], vecs[s]) for s in chosen)
            score = (lam * rels[v]) - (mu * maxsim)
            if best is None or score > best[1]:
                best = (v, score)
        if best is None:  # pool exhausted before _MMR_K picks
            break
        picked.append(best)
        chosen.add(best[0])
    rankm, scorem = F.lit(None), F.lit(None).cast("double")
    for i, (vid, score) in enumerate(reversed(picked)):
        rk = len(picked) - 1 - i
        rankm = F.when(F.col("vec_id") == vid, rk).otherwise(rankm)
        scorem = F.when(F.col("vec_id") == vid, F.lit(score)).otherwise(scorem)
    return (
        cands.filter(F.col("vec_id").isin([v for v, _ in picked]))
        .select(
            rankm.cast("int").alias("mmr_rank"),
            "vec_id",
            F.col("rel").alias("relevance"),
            scorem.alias("mmr_score"),
        )
        .orderBy("mmr_rank")
    )


from dynaledger_spark.plans.registry import QUERY_REGISTRY as _QRR  # noqa: E402

_QRR["mmr_rerank"].oracle = _mmr_oracle()


# ---------------------------------------------------------------------------
# RAG pipeline end-to-end (round-10, VERDICT r9 item 7): chunk → embed-stub
# → decontaminate → 1-probe cell index → top-k retrieve, one composed plan
# with the oracle re-deriving the WHOLE pipeline (curation_pipeline_e2e's
# proven pattern applied to the retrieval family).
# ---------------------------------------------------------------------------
# chunk_id = doc_id * stride + chunk_idx. The stride bounds the longest
# representable document at stride*24 tokens (~24M words at 1e6) —
# doc_id*1000 collided for any doc past 24k tokens, silently merging two
# documents' feature vectors in BOTH engines (the oracle used the same
# formula, so parity stayed green while results were wrong).
_RAG_CHUNK_STRIDE = 1_000_000

# IVF-list truncation (VERDICT r10 item 7): a probed cell contributes at
# most this many corpus candidates, ranked by embedding energy (n2 desc,
# chunk_id tiebreak). Near-clone-heavy corpora (the clean-10x probe)
# multiply cell sizes ~10x; without the cap every query pairs against
# the whole hot cell. Mirrored exactly in the oracle, so parity holds
# whether or not the cap engages. Recall tradeoff is the standard IVF
# nprobe/list-length one, and it is observable: cells over the cap are
# truncated, never silently dropped.
_RAG_CELL_CAP = 512


def _rag_oracle() -> str:
    from dynaledger_spark.plans.queries_stats import _duck_hex_poly

    poly = _duck_hex_poly("md5(w)", 10)
    return rf"""
        WITH toks AS (
            SELECT doc_id, string_split(text, ' ') AS t FROM documents
        ),
        sht AS (
            SELECT doc_id, string_split_regex(text, '\s+') AS t FROM documents
        ),
        sh AS (
            SELECT doc_id, unnest(list_distinct(list_transform(
                range(1, greatest(len(t) - 4, 1) + 1),
                i -> array_to_string(t[i:i+4], ' ')))) AS g
            FROM sht
        ),
        bench_g AS (SELECT DISTINCT g FROM sh WHERE doc_id % 97 = 0),
        contaminated AS (
            SELECT DISTINCT s.doc_id FROM sh s JOIN bench_g b USING (g)
            WHERE s.doc_id % 97 <> 0
        ),
        raw_chunks AS (
            SELECT doc_id,
                   unnest(list_transform(
                       range(0, CAST(ceil(greatest(len(t) - 8, 1) / 24.0) AS BIGINT)),
                       i -> struct_pack(chunk_idx := i,
                                        chunk_text := array_to_string(t[i*24+1 : i*24+32], ' '),
                                        n := len(t[i*24+1 : i*24+32])))) AS c
            FROM toks
        ),
        chunks AS (
            SELECT doc_id, doc_id * {_RAG_CHUNK_STRIDE} + c.chunk_idx AS chunk_id, c.chunk_text
            FROM raw_chunks WHERE c.n > 0
        ),
        words AS (
            SELECT chunk_id, doc_id, unnest(string_split(chunk_text, ' ')) AS w
            FROM chunks
        ),
        hashed AS (SELECT chunk_id, doc_id, {poly} AS h FROM words),
        feats AS (
            SELECT chunk_id, doc_id, h % 16 AS bucket,
                   CAST(SUM(CASE WHEN (h // 16) % 2 = 0 THEN 1 ELSE -1 END)
                        AS BIGINT) AS val
            FROM hashed GROUP BY chunk_id, doc_id, h % 16
            HAVING SUM(CASE WHEN (h // 16) % 2 = 0 THEN 1 ELSE -1 END) <> 0
        ),
        norms AS (
            SELECT chunk_id, CAST(SUM(val * val) AS BIGINT) AS n2
            FROM feats GROUP BY chunk_id
        ),
        cells AS (
            SELECT chunk_id, doc_id, bucket AS cell FROM (
                SELECT chunk_id, doc_id, bucket,
                       row_number() OVER (PARTITION BY chunk_id
                                          ORDER BY abs(val) DESC, bucket) AS r
                FROM feats) WHERE r = 1
        ),
        qcells AS (SELECT chunk_id, cell FROM cells WHERE doc_id % 97 = 0),
        xcells_all AS (
            SELECT c.chunk_id, c.cell, n.n2
            FROM cells c JOIN norms n USING (chunk_id)
            WHERE c.doc_id % 97 <> 0
              AND c.doc_id NOT IN (SELECT doc_id FROM contaminated)
        ),
        xcells AS (
            SELECT chunk_id, cell FROM (
                SELECT chunk_id, cell,
                       row_number() OVER (PARTITION BY cell
                                          ORDER BY n2 DESC, chunk_id) AS cr
                FROM xcells_all) WHERE cr <= {_RAG_CELL_CAP}
        ),
        dots AS (
            SELECT q.chunk_id AS query_chunk, x.chunk_id AS retrieved_chunk,
                   CAST(SUM(qf.val * xf.val) AS BIGINT) AS dot
            FROM qcells q
            JOIN xcells x ON q.cell = x.cell
            JOIN feats qf ON qf.chunk_id = q.chunk_id
            JOIN feats xf ON xf.chunk_id = x.chunk_id AND xf.bucket = qf.bucket
            GROUP BY q.chunk_id, x.chunk_id
        ),
        scored AS (
            SELECT d.query_chunk, d.retrieved_chunk,
                   d.dot / sqrt(nq.n2 * nx.n2) AS cos
            FROM dots d
            JOIN norms nq ON nq.chunk_id = d.query_chunk
            JOIN norms nx ON nx.chunk_id = d.retrieved_chunk
        )
        SELECT query_chunk, CAST(rnk AS INT) AS rnk, retrieved_chunk,
               round(cos, 12) AS cosine
        FROM (
            SELECT query_chunk, retrieved_chunk, cos,
                   row_number() OVER (PARTITION BY query_chunk
                                      ORDER BY cos DESC, retrieved_chunk) AS rnk
            FROM scored)
        WHERE rnk <= 3
    """


@register(
    "rag_pipeline_e2e",
    doc="RAG retrieval e2e: chunk -> hash-embed -> decontaminate -> 1-probe cell index -> top-3",
    oracle=_rag_oracle(),
)
def rag_pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The retrieval family composed into the pipeline RAG systems run:
    sliding-window chunking (curation_pipeline_e2e's 32/24 chunker) →
    deterministic 16-dim signed feature-hash embeddings (exact BIGINT
    components from the md5 polynomial, so cosine is bit-identical
    cross-engine) → eval-set decontamination (corpus docs sharing any
    5-gram with a benchmark doc are dropped BEFORE indexing, so
    retrieval can never surface contaminated passages) → a 1-probe
    inverted cell index (cell = the embedding's dominant dimension —
    a real IVF structure in miniature) → per-query top-3 by cosine.
    The DuckDB oracle re-derives the WHOLE pipeline, so the stage
    composition is verified, not just the stages.

    Scale posture: bench grams and query-side features are broadcast
    (an eval set is small by construction); the corpus-side work is
    explode → (chunk, bucket) hash aggregate → equi-joins on cell and
    (chunk, bucket) — no all-pairs product anywhere; candidates are
    bounded by the probed cell AND by _RAG_CELL_CAP (per-cell IVF-list
    truncation ranked by embedding energy, mirrored in the oracle), so
    a near-clone-heavy corpus cannot quadratically inflate the pairing
    stage. Exactly like ann_ivf_persisted_topk's partition-pruned cells
    (D=16 here is the oracle-exact miniature; the production path
    raises D/cells and multiprobes).
    """
    from dynaledger_spark.operators.dedup import _shingles

    docs = _t(spark, sf_dir, "documents")
    is_bench = F.col("doc_id") % 97 == 0

    # decontamination grams (doc-level, the curation_pipeline convention)
    sh = docs.select("doc_id", F.explode(_shingles(F.col("text"), 5)).alias("g"))
    bench_g = sh.filter(is_bench).select("g").distinct()
    contaminated = (
        sh.filter(~is_bench).join(F.broadcast(bench_g), "g").select("doc_id").distinct()
    )

    # 32/24 sliding-window chunks, chunk_id = doc_id*stride + idx
    toks = F.split(F.col("text"), " ")
    n_chunks = F.ceil(
        (F.greatest(F.size(toks) - 8, F.lit(1))) / F.lit(24.0)
    ).cast("bigint")
    mk = lambda i: F.struct(  # noqa: E731
        i.alias("chunk_idx"),
        F.array_join(F.slice(toks, (i * 24 + 1).cast("int"), 32), " ").alias("chunk_text"),
        F.size(F.slice(toks, (i * 24 + 1).cast("int"), 32)).alias("n"),
    )
    chunks = (
        docs.select(
            "doc_id",
            F.explode(
                F.transform(F.sequence(F.lit(0).cast("bigint"), n_chunks - 1), mk)
            ).alias("c"),
        )
        .filter(F.col("c.n") > 0)
        .select(
            "doc_id",
            (F.col("doc_id") * _RAG_CHUNK_STRIDE + F.col("c.chunk_idx")).alias(
                "chunk_id"
            ),
            F.col("c.chunk_text").alias("chunk_text"),
        )
    )

    # signed 16-dim feature hashing: exact BIGINT components
    words = chunks.select(
        "chunk_id", "doc_id", F.explode(F.split("chunk_text", " ")).alias("w")
    )
    hashed = words.select(
        "chunk_id",
        "doc_id",
        F.expr("CAST(conv(substring(md5(w), 1, 10), 16, 10) AS BIGINT)").alias("h"),
    )
    sign = F.when((F.expr("h DIV 16") % 2) == 0, F.lit(1)).otherwise(F.lit(-1))
    feats = (
        hashed.select("chunk_id", "doc_id", (F.col("h") % 16).alias("bucket"), sign.alias("s"))
        .groupBy("chunk_id", "doc_id", "bucket")
        .agg(F.sum("s").cast("bigint").alias("val"))
        .filter(F.col("val") != 0)
    )
    norms = feats.groupBy("chunk_id").agg(
        F.sum(F.col("val") * F.col("val")).cast("bigint").alias("n2")
    )
    rw = W.partitionBy("chunk_id").orderBy(F.abs(F.col("val")).desc(), "bucket")
    cells = (
        feats.withColumn("r", F.row_number().over(rw))
        .filter(F.col("r") == 1)
        .select("chunk_id", "doc_id", F.col("bucket").alias("cell"))
    )
    qcells = cells.filter(F.col("doc_id") % 97 == 0).select("chunk_id", "cell")
    # IVF-list truncation: keep the _RAG_CELL_CAP highest-energy corpus
    # chunks per cell (n2 desc, chunk_id tiebreak) — the rank runs in the
    # spillable window sorter over the cell partitioning, so a hot cell
    # never materializes as one aggregation buffer (the LSH bucket-cap
    # discipline, operators/dedup.py).
    cw = W.partitionBy("cell").orderBy(F.col("n2").desc(), "chunk_id")
    xcells = (
        cells.filter(F.col("doc_id") % 97 != 0)
        .join(contaminated, "doc_id", "left_anti")
        .join(norms, "chunk_id")
        .withColumn("cr", F.row_number().over(cw))
        .filter(F.col("cr") <= _RAG_CELL_CAP)
        .select("chunk_id", "cell")
    )

    # 1-probe retrieve: pair on cell, dot over shared buckets (exact ints)
    pairs = (
        F.broadcast(qcells.withColumnRenamed("chunk_id", "query_chunk"))
        .join(xcells.withColumnRenamed("chunk_id", "retrieved_chunk"), "cell")
        .select("query_chunk", "retrieved_chunk")
    )
    qf = feats.select(
        F.col("chunk_id").alias("query_chunk"),
        "bucket",
        F.col("val").alias("qval"),
    )
    xf = feats.select(
        F.col("chunk_id").alias("retrieved_chunk"),
        "bucket",
        F.col("val").alias("xval"),
    )
    dots = (
        pairs.join(F.broadcast(qf), "query_chunk")
        .join(xf, ["retrieved_chunk", "bucket"])
        .groupBy("query_chunk", "retrieved_chunk")
        .agg(F.sum(F.col("qval") * F.col("xval")).cast("bigint").alias("dot"))
    )
    scored = (
        dots.join(
            F.broadcast(norms.select(F.col("chunk_id").alias("query_chunk"),
                                     F.col("n2").alias("nq"))),
            "query_chunk",
        )
        .join(
            norms.select(F.col("chunk_id").alias("retrieved_chunk"),
                         F.col("n2").alias("nx")),
            "retrieved_chunk",
        )
        .select(
            "query_chunk",
            "retrieved_chunk",
            (F.col("dot") / F.sqrt(F.col("nq") * F.col("nx"))).alias("cos"),
        )
    )
    topw = W.partitionBy("query_chunk").orderBy(F.col("cos").desc(), "retrieved_chunk")
    return (
        scored.withColumn("rnk", F.row_number().over(topw))
        .filter(F.col("rnk") <= 3)
        .select(
            "query_chunk",
            F.col("rnk").cast("int").alias("rnk"),
            "retrieved_chunk",
            F.round(F.col("cos"), 12).alias("cosine"),
        )
    )


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
