"""Sparse lexical similarity operators (round 8).

Two capabilities the similarity tier lacked: string-edit-distance
joins (FastSS deletion-neighborhood blocking — the spell-variant /
entity-resolution primitive) and sparse TF-IDF vector similarity
(rare-term-blocked cosine pairs — the sparse complement of the dense
embedding tier and the set-Jaccard shingle tier).

Float discipline: NO floats until the last step. TF-IDF weights are
small exact integers (tf x ilog2-idf, the hll_portable floor(ln(m+0.5)/
ln 2) == floor(log2 m) identity on integers), so dots and norms are
exact BIGINT sums at any corpus scale; the final cosine is one sqrt +
one divide on identical integers — IEEE-identical in both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from dynaledger_spark.plans.queries_text import _docs
from dynaledger_spark.plans.registry import register


# vocabulary contract shared by both queries: lowercase ascii words,
# length-bounded (caps the deletion-neighborhood fan-out at len+1)
_WORD_RE = "^[a-z]+$"
_WLEN_LO, _WLEN_HI = 4, 12
_FASTSS_BUCKET_CAP = 100
# deterministic typo model: every token whose (doc_id + 1-based
# position) is divisible by 13 gets its 2nd char replaced by 'x' —
# the testdata's clean generated vocabulary has no natural typos, so
# the corruption supplies the spell-correction workload (with realistic
# frequencies: each typo type occurs ~1/13th as often as its source)
_TYPO_MOD = 13


@register(
    "fastss_edit1_pairs",
    doc="FastSS deletion-neighborhood join: vocabulary word pairs at edit distance exactly 1 (typo-corrupted token stream)",
    oracle=f"""
        WITH t AS (
            SELECT doc_id, string_split_regex(lower(text), '\\s+') AS toks
            FROM documents
        ),
        stream AS (
            SELECT CASE WHEN (doc_id + u.i) % {_TYPO_MOD} = 0
                             AND regexp_matches(toks[u.i], '{_WORD_RE}')
                             AND length(toks[u.i])
                                 BETWEEN {_WLEN_LO} AND {_WLEN_HI}
                        THEN toks[u.i][1:1] || 'x'
                             || toks[u.i][3:length(toks[u.i])]
                        ELSE toks[u.i] END AS w
            FROM t, unnest(range(1, len(toks) + 1)) AS u(i)
        ),
        words AS (
            SELECT w AS word, CAST(COUNT(*) AS BIGINT) AS n
            FROM stream
            WHERE regexp_matches(w, '{_WORD_RE}')
              AND length(w) BETWEEN {_WLEN_LO} AND {_WLEN_HI}
            GROUP BY w
        ),
        vars AS (
            SELECT word, unnest(list_distinct(list_prepend(word,
                       [word[1:i-1] || word[i+1:length(word)]
                        FOR i IN range(1, length(word) + 1)]))) AS v
            FROM words
        ),
        capped AS (
            SELECT word, v FROM (
                SELECT word, v, COUNT(*) OVER (PARTITION BY v) AS bn FROM vars
            ) WHERE bn <= {_FASTSS_BUCKET_CAP}
        ),
        cand AS (
            SELECT DISTINCT a.word AS word_a, b.word AS word_b
            FROM capped a JOIN capped b ON a.v = b.v AND a.word < b.word
        ),
        ver AS (
            SELECT word_a, word_b FROM cand
            WHERE levenshtein(word_a, word_b) = 1
        )
        SELECT v.word_a, v.word_b, wa.n AS n_a, wb.n AS n_b
        FROM ver v
        JOIN words wa ON wa.word = v.word_a
        JOIN words wb ON wb.word = v.word_b
    """,
)
def fastss_edit1_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FastSS (Bocek et al. 2007, the SymSpell blocking scheme): every
    pair of vocabulary words at Levenshtein distance EXACTLY 1, found
    without an all-pairs comparison. Each word emits its single-char
    deletion neighborhood (the word itself + |word| deletions); two
    words within edit distance 1 necessarily share a neighborhood key,
    so an equi-join on the key has 100% recall and the levenshtein()
    verification (identical Wagner-Fischer integers in both engines)
    restores precision. The spell-variant/entity-resolution primitive
    the dedup tier lacked — shingle Jaccard can't see single-char typos
    in short keys. The token stream is deterministically typo-corrupted
    (every {mod}th (doc_id + position) slot) because the generated
    testdata vocabulary contains no natural misspellings; both engines
    apply the identical corruption, and the pairs recovered are exactly
    the (source word, typo) spell-correction table with frequencies.

    Scale: corruption is a scan-side expression; the neighborhood is
    <= len+1 <= {hi}+1 keys per DISTINCT word (vocabulary-sized, not
    corpus-sized); the join is key-equi with the same degenerate-bucket
    cap as the LSH path (mirrored in the oracle so the query stays
    exact when it engages); verification runs per candidate, never per
    vocabulary pair.
    """
    toks = _docs(spark, sf_dir).select(
        "doc_id",
        F.posexplode(F.split(F.lower(F.col("text")), r"\s+")).alias("pos", "w"),
    )
    corruptible = (
        F.col("w").rlike(_WORD_RE)
        & F.length("w").between(_WLEN_LO, _WLEN_HI)
        & ((F.col("doc_id") + F.col("pos") + 1) % _TYPO_MOD == 0)
    )
    typo = F.concat(
        F.substring("w", 1, 1), F.lit("x"), F.expr("substring(w, 3, length(w))")
    )
    stream = toks.select(F.when(corruptible, typo).otherwise(F.col("w")).alias("w"))
    words = (
        stream.filter(
            F.col("w").rlike(_WORD_RE) & F.length("w").between(_WLEN_LO, _WLEN_HI)
        )
        .groupBy(F.col("w").alias("word"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    variants = F.array_distinct(
        F.concat(
            F.array(F.col("word")),
            F.expr(
                "transform(sequence(1, length(word)),"
                " i -> concat(substring(word, 1, i - 1),"
                "             substring(word, i + 1, length(word))))"
            ),
        )
    )
    vars_ = words.select("word", F.explode(variants).alias("v"))
    vars_ = (
        vars_.withColumn("bn", F.count(F.lit(1)).over(W.partitionBy("v")))
        .filter(F.col("bn") <= _FASTSS_BUCKET_CAP)
        .drop("bn")
    )
    a, b = vars_.alias("a"), vars_.alias("b")
    cand = (
        a.join(b, (F.col("a.v") == F.col("b.v")) & (F.col("a.word") < F.col("b.word")))
        .select(F.col("a.word").alias("word_a"), F.col("b.word").alias("word_b"))
        .distinct()
    )
    ver = cand.filter(F.levenshtein("word_a", "word_b") == 1)
    wa = words.select(F.col("word").alias("word_a"), F.col("n").alias("n_a"))
    wb = words.select(F.col("word").alias("word_b"), F.col("n").alias("n_b"))
    return ver.join(wa, "word_a").join(wb, "word_b").select(
        "word_a", "word_b", "n_a", "n_b"
    )


fastss_edit1_pairs.__doc__ = fastss_edit1_pairs.__doc__.format(mod=_TYPO_MOD, hi=_WLEN_HI)


# ---------------------------------------------------------------------------
# Sparse TF-IDF cosine pairs via rare-term blocking
# ---------------------------------------------------------------------------
# Terms are word 4-grams (the generated unigram vocabulary is ~30 words
# with df ~ |corpus|, so unigram idf is flat; 4-gram terms have a real
# df spectrum at every SF). idf as an INTEGER: ilog2((N+1) // df) —
# trunc division then the hll_portable floor(ln(m+0.5)/ln 2) ==
# floor(log2 m) identity, so the weight tf*idf is a small exact integer
# and dot/norm sums are exact BIGINT at any corpus scale.
_TFIDF_GRAM = 4
_TFIDF_DF_MIN, _TFIDF_DF_BLOCK = 2, 8
_TFIDF_MIN_COS = 0.2


@register(
    "tfidf_cosine_pairs",
    doc=f"sparse TF-IDF cosine over rare-{_TFIDF_GRAM}-gram-blocked doc pairs (integer-exact weights)",
    oracle=f"""
        WITH t AS (
            SELECT doc_id, string_split_regex(lower(text), '\\s+') AS toks
            FROM documents
        ),
        grams AS (
            SELECT doc_id,
                   array_to_string(toks[u.i:u.i + {_TFIDF_GRAM - 1}], ' ') AS term
            FROM t, unnest(range(1, greatest(len(toks) - {_TFIDF_GRAM - 1}, 0) + 1))
                        AS u(i)
        ),
        tf AS (
            SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
            FROM grams GROUP BY doc_id, term
        ),
        df AS (
            SELECT term, CAST(COUNT(*) AS BIGINT) AS df
            FROM tf GROUP BY term HAVING COUNT(*) >= {_TFIDF_DF_MIN}
        ),
        nn AS (SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n FROM tf),
        post AS (
            SELECT tf.doc_id, tf.term, df.df,
                   tf.tf * CAST(floor(ln(((nn.n + 1) // df.df) + 0.5)
                                      / ln(2.0)) AS BIGINT) AS w
            FROM tf JOIN df ON tf.term = df.term CROSS JOIN nn
        ),
        norms AS (
            SELECT doc_id, CAST(SUM(w * w) AS BIGINT) AS nrm
            FROM post GROUP BY doc_id
        ),
        cand AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM post a JOIN post b
              ON a.term = b.term AND a.doc_id < b.doc_id
            WHERE a.df <= {_TFIDF_DF_BLOCK}
        ),
        dots AS (
            SELECT c.doc_a, c.doc_b,
                   CAST(SUM(pa.w * pb.w) AS BIGINT) AS dot,
                   CAST(COUNT(*) AS BIGINT) AS n_shared_terms
            FROM cand c
            JOIN post pa ON pa.doc_id = c.doc_a
            JOIN post pb ON pb.doc_id = c.doc_b AND pb.term = pa.term
            GROUP BY c.doc_a, c.doc_b
        )
        SELECT d.doc_a, d.doc_b, d.n_shared_terms,
               round(CAST(d.dot AS DOUBLE)
                     / sqrt(CAST(na.nrm * nb.nrm AS DOUBLE)), 9) AS cosine
        FROM dots d
        JOIN norms na ON na.doc_id = d.doc_a
        JOIN norms nb ON nb.doc_id = d.doc_b
        WHERE CAST(d.dot AS DOUBLE)
              / sqrt(CAST(na.nrm * nb.nrm AS DOUBLE)) >= {_TFIDF_MIN_COS}
    """,
)
def tfidf_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse-vector document similarity: cosine over integer-exact
    TF-IDF vectors for pairs BLOCKED on rare terms (df <= {block}) —
    the classic IR candidate-generation strategy (a pair sharing only
    ubiquitous terms cannot score high, so rare shared terms drive
    recall; the blocking df range is the documented recall/cost dial).
    Complements the dense-embedding cosine tier and the shingle-set
    Jaccard tier: this is similarity in TERM-WEIGHT space, which sees
    topical overlap that unweighted fixed-length shingles miss. Terms
    are word {gram}-grams because the generated testdata's unigram
    vocabulary is ~30 ubiquitous words (flat idf — no signal).

    Exactness: idf = floor(log2((N+1) div df)) on integers (the
    hll_portable ln(m+0.5) identity), weights tf*idf are small exact
    integers, dots and norms are exact BIGINT sums (order-independent),
    and the single sqrt+divide at the end is correctly-rounded IEEE on
    identical inputs — bitwise-portable at any corpus scale, no decimal
    accumulators needed.

    Scale: postings and norms are (doc, term)-keyed aggregates (one
    shuffle each, map-side combined); candidates come only from terms
    with df in [{lo}, {block}] (per-term pair fan-out <= C({block},2),
    linear in rare-vocabulary size, never corpus-quadratic); the dot
    join fans each candidate pair out by its shared terms only.
    """
    toks = _docs(spark, sf_dir).select(
        "doc_id", F.split(F.lower(F.col("text")), r"\s+").alias("toks")
    )
    grams_arr = F.when(
        F.size("toks") >= _TFIDF_GRAM,
        F.transform(
            F.sequence(F.lit(1), F.size("toks") - (_TFIDF_GRAM - 1)),
            lambda i: F.array_join(F.slice("toks", i, _TFIDF_GRAM), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    tf = (
        toks.select("doc_id", F.explode(grams_arr).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
    )
    df = (
        tf.groupBy("term")
        .agg(F.count(F.lit(1)).cast("bigint").alias("df"))
        .filter(F.col("df") >= _TFIDF_DF_MIN)
    )
    n = tf.agg(F.count_distinct("doc_id").cast("bigint").alias("n"))
    post = (
        tf.join(df, "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            "df",
            (
                F.col("tf")
                * F.floor(
                    F.log(F.expr("((n + 1) div df)") + 0.5) / F.log(F.lit(2.0))
                ).cast("bigint")
            ).alias("w"),
        )
    )
    norms = post.groupBy("doc_id").agg(
        F.sum(F.col("w") * F.col("w")).cast("bigint").alias("nrm")
    )
    rare = post.filter(F.col("df") <= _TFIDF_DF_BLOCK)
    ra, rb = rare.alias("a"), rare.alias("b")
    cand = (
        ra.join(
            rb,
            (F.col("a.term") == F.col("b.term"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    pa = post.select(
        F.col("doc_id").alias("doc_a"), "term", F.col("w").alias("w_a")
    )
    pb = post.select(
        F.col("doc_id").alias("doc_b"), "term", F.col("w").alias("w_b")
    )
    dots = (
        cand.join(pa, "doc_a")
        .join(pb, ["doc_b", "term"])
        .groupBy("doc_a", "doc_b")
        .agg(
            F.sum(F.col("w_a") * F.col("w_b")).cast("bigint").alias("dot"),
            F.count(F.lit(1)).cast("bigint").alias("n_shared_terms"),
        )
    )
    na = norms.select(F.col("doc_id").alias("doc_a"), F.col("nrm").alias("nrm_a"))
    nb = norms.select(F.col("doc_id").alias("doc_b"), F.col("nrm").alias("nrm_b"))
    cosine = F.col("dot").cast("double") / F.sqrt(
        (F.col("nrm_a") * F.col("nrm_b")).cast("double")
    )
    return (
        dots.join(na, "doc_a")
        .join(nb, "doc_b")
        .filter(cosine >= _TFIDF_MIN_COS)
        .select(
            "doc_a",
            "doc_b",
            "n_shared_terms",
            F.round(cosine, 9).alias("cosine"),
        )
    )


tfidf_cosine_pairs.__doc__ = tfidf_cosine_pairs.__doc__.format(block=_TFIDF_DF_BLOCK, lo=_TFIDF_DF_MIN, gram=_TFIDF_GRAM)


# ---------------------------------------------------------------------------
# Self-BLEU-style corpus redundancy (leave-one-out modified precision)
# ---------------------------------------------------------------------------
@register(
    "self_bleu_proxy",
    doc="leave-one-out modified bigram/4-gram precision per doc (Self-BLEU diversity signal)",
    oracle="""
        WITH t AS (
            SELECT doc_id, string_split_regex(lower(text), '\\s+') AS toks
            FROM documents
        ),
        grams AS (
            SELECT doc_id, 2 AS n, array_to_string(toks[u.i:u.i + 1], ' ') AS gram
            FROM t, unnest(range(1, greatest(len(toks) - 1, 0) + 1)) AS u(i)
            UNION ALL
            SELECT doc_id, 4 AS n, array_to_string(toks[u.i:u.i + 3], ' ') AS gram
            FROM t, unnest(range(1, greatest(len(toks) - 3, 0) + 1)) AS u(i)
        ),
        dg AS (
            SELECT doc_id, n, gram, CAST(COUNT(*) AS BIGINT) AS c_doc
            FROM grams GROUP BY doc_id, n, gram
        ),
        cg AS (
            SELECT n, gram, CAST(SUM(c_doc) AS BIGINT) AS c_corpus
            FROM dg GROUP BY n, gram
        )
        SELECT doc_id,
               CAST(SUM(CASE WHEN n = 2 THEN c_doc END) AS BIGINT) AS n_bigrams,
               CAST(SUM(CASE WHEN n = 4 THEN c_doc END) AS BIGINT) AS n_4grams,
               round(CAST(SUM(CASE WHEN n = 2
                                   THEN least(c_doc, c_corpus - c_doc) END)
                          AS DOUBLE)
                     / SUM(CASE WHEN n = 2 THEN c_doc END), 9) AS p2,
               round(CAST(SUM(CASE WHEN n = 4
                                   THEN least(c_doc, c_corpus - c_doc) END)
                          AS DOUBLE)
                     / SUM(CASE WHEN n = 4 THEN c_doc END), 9) AS p4
        FROM dg JOIN cg USING (n, gram)
        GROUP BY doc_id
    """,
)
def self_bleu_proxy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-BLEU (Zhu et al. 2018, Texygen) as a scalable leave-one-out
    statistic: each document's modified n-gram precision against the
    REST of the corpus — clip count = min(c_doc, c_corpus - c_doc), so
    the reference side is "every other document" without materializing
    per-pair comparisons (the original Self-BLEU is corpus-quadratic;
    this is the exact same clipped-precision arithmetic factored
    through corpus totals). High p2/p4 = the doc's phrasing is
    redundant with the corpus (the ~30-word unigram vocabulary makes
    p1 identically 1.0, so the reported orders are 2 and 4, where the
    clip genuinely binds) — the diversity dial generation-quality
    and dedup-aggressiveness decisions read.

    Exactness: counts and clips are integers; the single final divide
    is IEEE-identical in both engines.

    Scale: one gram explode into two map-side-combined aggregates and
    one gram-keyed join back — linear, no pairs anywhere; the skew-heavy
    gram keys (ubiquitous words) are pre-aggregated to (doc, gram)
    grain before the join, so the hot key carries |docs| rows, not
    |occurrences|.
    """
    toks = _docs(spark, sf_dir).select(
        "doc_id", F.split(F.lower(F.col("text")), r"\s+").alias("toks")
    )
    def _grams(nlen: int):
        arr = F.when(
            F.size("toks") >= nlen,
            F.transform(
                F.sequence(F.lit(1), F.size("toks") - (nlen - 1)),
                lambda i: F.array_join(F.slice("toks", i, nlen), " "),
            ),
        ).otherwise(F.array().cast("array<string>"))
        return toks.select(
            "doc_id", F.lit(nlen).alias("n"), F.explode(arr).alias("gram")
        )

    dg = (
        _grams(2).unionByName(_grams(4))
        .groupBy("doc_id", "n", "gram")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c_doc"))
    )
    cg = dg.groupBy("n", "gram").agg(
        F.sum("c_doc").cast("bigint").alias("c_corpus")
    )
    j = dg.join(cg, ["n", "gram"])
    clip = F.least(F.col("c_doc"), F.col("c_corpus") - F.col("c_doc"))

    def _sum_if(nval, col):
        return F.sum(F.when(F.col("n") == nval, col))

    return j.groupBy("doc_id").agg(
        _sum_if(2, F.col("c_doc")).cast("bigint").alias("n_bigrams"),
        _sum_if(4, F.col("c_doc")).cast("bigint").alias("n_4grams"),
        F.round(
            _sum_if(2, clip).cast("double") / _sum_if(2, F.col("c_doc")), 9
        ).alias("p2"),
        F.round(
            _sum_if(4, clip).cast("double") / _sum_if(4, F.col("c_doc")), 9
        ).alias("p4"),
    )
