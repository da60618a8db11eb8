"""Language-model-flavored corpus operators (round-4, batch 3).

The CCNet/Gopher pipeline pieces still missing after queries_feature and
queries_mlprep: unigram-LM quality scoring (the perplexity-filter
proxy), a composed per-source corpus report card, and deterministic
token-dropout augmentation.

Float discipline: ln()-derived terms round at 12 dp before the
sorted-fold sum (lang_entropy precedent); count ratios are one
int→double division rounded at 9; hashes are the portable md5-prefix
integer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from dynaledger_spark.plans.registry import register
from dynaledger_spark.plans.queries_mlprep import _FOLD, _fold


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    from dynaledger_spark.catalog import read_table

    return read_table(spark, sf_dir, name)


# ---------------------------------------------------------------------------
# Unigram-LM quality score (the perplexity-filter proxy)
# ---------------------------------------------------------------------------
@register(
    "unigram_logprob_quality",
    doc="per-doc mean unigram log-probability under the corpus LM (CCNet-style quality)",
    oracle=f"""
        WITH words AS (
            SELECT doc_id, u.w AS word
            FROM documents, unnest(string_split(text, ' ')) AS u(w)
        ),
        tf AS (
            SELECT doc_id, word, COUNT(*) AS cnt FROM words
            GROUP BY doc_id, word
        ),
        vocab AS (SELECT word, COUNT(*) AS n FROM words GROUP BY word),
        total AS (SELECT COUNT(*) AS t FROM words),
        terms AS (
            SELECT tf.doc_id,
                   tf.cnt,
                   tf.cnt * round(ln(CAST(v.n AS DOUBLE) / t.t), 12) AS term
            FROM tf JOIN vocab v USING (word) CROSS JOIN total t
        )
        SELECT doc_id,
               CAST(SUM(cnt) AS BIGINT) AS n_tokens,
               round({_FOLD.format(x='term')}
                     / SUM(cnt), 9) AS avg_logprob
        FROM terms GROUP BY doc_id
    """,
)
def unigram_logprob_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The perplexity quality filter in its SQL-expressible form (CCNet
    scores docs with a KenLM 5-gram; the unigram LM is the exact-oracle
    proxy with the same plumbing): every token's corpus log-probability
    ln(count/total), averaged per document. Template/boilerplate docs
    score HIGH (common words), gibberish scores LOW — both tails get cut
    in curation. ln() rounds at 12 dp per distinct word, each (doc,word)
    term is cnt·logp (exact int × pinned double), and the per-doc fold
    is sorted — bitwise identical across engines; the final division
    rounds at 9.

    Plan: ONE doc_id-clustered exchange drives tf AND the per-doc
    rollup; the zipf-bounded vocabulary (with its 1-row total) joins in
    via broadcast — the corpus never re-shuffles for the lookup. At
    100 TB the vocab may exceed broadcast size: cut it at a frequency
    floor (rare words clamp to the floor probability, standard LM
    smoothing) and it broadcasts again.
    """
    from dynaledger_spark.plans.queries_pipeline import _docs_by_id

    docs = _docs_by_id(spark, sf_dir)
    words = docs.select("doc_id", F.explode(F.split("text", " ")).alias("word"))
    tf = words.groupBy("doc_id", "word").agg(F.count(F.lit(1)).alias("cnt"))
    vocab = words.groupBy("word").agg(F.count(F.lit(1)).alias("n"))
    total = words.agg(F.count(F.lit(1)).alias("t"))
    terms = (
        tf.join(F.broadcast(vocab), "word")
        .crossJoin(F.broadcast(total))
        .select(
            "doc_id",
            "cnt",
            (
                F.col("cnt")
                * F.round(F.log(F.col("n").cast("double") / F.col("t")), 12)
            ).alias("term"),
        )
    )
    return terms.groupBy("doc_id").agg(
        F.sum("cnt").cast("bigint").alias("n_tokens"),
        F.round(_fold("term") / F.sum("cnt"), 9).alias("avg_logprob"),
    )


# ---------------------------------------------------------------------------
# Per-source corpus report card (composed audit)
# ---------------------------------------------------------------------------
@register(
    "corpus_report_by_source",
    doc="per-source report card: volume, exact-dup rate, mean length, mean flesch proxy",
    oracle=r"""
        WITH per_doc AS (
            SELECT doc_id, source, md5(text) AS h,
                   len(string_split(text, ' ')) AS n_words,
                   len(regexp_extract_all(text, '[aeiouyAEIOUY]+')) AS n_syll,
                   (len(string_split(text, ' ')) + 19) // 20 AS n_psent
            FROM documents
        ),
        dupes AS (
            SELECT source, h, COUNT(*) AS n FROM per_doc GROUP BY source, h
        ),
        dup_stats AS (
            SELECT source,
                   SUM(n) AS n_docs,
                   SUM(n) - COUNT(*) AS n_dup_docs
            FROM dupes GROUP BY source
        ),
        flesch AS (
            SELECT source,
                   SUM(n_words) AS sum_words,
                   round(
                       list_reduce(list_prepend(0.0, list_sort(list(
                           round(206.835
                                 - 1.015 * (CAST(n_words AS DOUBLE) / n_psent)
                                 - 84.6 * (CAST(n_syll AS DOUBLE) / n_words),
                                 9)))),
                           (a, b) -> a + b)
                       / COUNT(*), 9) AS mean_flesch
            FROM per_doc WHERE n_words > 0 GROUP BY source
        )
        SELECT d.source,
               CAST(d.n_docs AS BIGINT) AS n_docs,
               CAST(d.n_dup_docs AS BIGINT) AS n_exact_dup_docs,
               round(CAST(d.n_dup_docs AS DOUBLE) / d.n_docs, 9) AS dup_rate,
               round(CAST(f.sum_words AS DOUBLE) / d.n_docs, 9) AS mean_words,
               f.mean_flesch
        FROM dup_stats d JOIN flesch f USING (source)
    """,
)
def corpus_report_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The audit table a curation run opens with: per source, volume,
    exact-duplicate rate (md5 groups beyond their first member), mean
    document length, and mean readability (the readability_proxy flesch,
    folded sorted so the mean is engine-exact). One composed plan: the
    per-doc feature projection is map-side; the dup accounting and the
    flesch fold both aggregate per source. Everything downstream of the
    md5 groupBy is proportional to |sources| — report-card cost does not
    grow with corpus width at any scale.
    """
    docs = _t(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    per_doc = docs.select(
        "doc_id",
        "source",
        F.md5("text").alias("h"),
        F.size(toks).cast("long").alias("n_words"),
        F.size(
            F.regexp_extract_all(F.col("text"), F.lit("[aeiouyAEIOUY]+"), F.lit(0))
        ).cast("long").alias("n_syll"),
        F.floor((F.size(toks) + F.lit(19)).cast("long") / F.lit(20))
        .cast("long")
        .alias("n_psent"),
    )
    dupes = per_doc.groupBy("source", "h").agg(F.count(F.lit(1)).alias("n"))
    dup_stats = dupes.groupBy("source").agg(
        F.sum("n").cast("bigint").alias("n_docs"),
        (F.sum("n") - F.count(F.lit(1))).cast("bigint").alias("n_exact_dup_docs"),
    )
    flesch_term = F.round(
        F.lit(206.835)
        - F.lit(1.015) * (F.col("n_words").cast("double") / F.col("n_psent"))
        - F.lit(84.6) * (F.col("n_syll").cast("double") / F.col("n_words")),
        9,
    )
    flesch = (
        per_doc.filter(F.col("n_words") > 0)
        .select("source", F.col("n_words"), flesch_term.alias("fl"))
        .groupBy("source")
        .agg(
            F.sum("n_words").alias("sum_words"),
            F.round(_fold("fl") / F.count(F.lit(1)), 9).alias("mean_flesch"),
        )
    )
    return dup_stats.join(flesch, "source").select(
        "source",
        "n_docs",
        "n_exact_dup_docs",
        F.round(
            F.col("n_exact_dup_docs").cast("double") / F.col("n_docs"), 9
        ).alias("dup_rate"),
        F.round(F.col("sum_words").cast("double") / F.col("n_docs"), 9).alias(
            "mean_words"
        ),
        "mean_flesch",
    )


# ---------------------------------------------------------------------------
# Deterministic token-dropout augmentation
# ---------------------------------------------------------------------------
_DROP_MOD = 10  # drop every token whose (doc, pos, token) hash lands on 0 mod 10


@register(
    "token_dropout_augment",
    doc="deterministic ~10% token dropout per doc; counts + augmented-text digest",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, string_split(text, ' ') AS t FROM documents
        ),
        kept AS (
            SELECT doc_id,
                   len(t) AS n_orig,
                   [t[i] FOR i IN range(1, len(t) + 1)
                    IF ({{h}}) % {_DROP_MOD} <> 0] AS kept_toks
            FROM toks
        )
        SELECT doc_id,
               CAST(n_orig AS BIGINT) AS n_orig,
               CAST(len(kept_toks) AS BIGINT) AS n_kept,
               md5(array_to_string(kept_toks, ' ')) AS aug_md5
        FROM kept
    """.format(
        h="(strpos('0123456789abcdef', substr(md5(doc_id || ':' || i || ':' || t[i]), 1, 1)) - 1)"
    ),
)
def token_dropout_augment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data augmentation with a reproducibility contract: drop ~10% of
    tokens per document, chosen by a PORTABLE hash of
    (doc_id, position, token) — no RNG, so re-running the pipeline (or
    re-deriving an example for debugging) reproduces the identical
    augmented text byte-for-byte; the md5 digest in the output is the
    cross-engine witness. The hash is the first md5 hex nibble (uniform
    over 16, drop on ≡0 mod 10 → 6/16 nibbles never drop, exact 10%% is
    not the point — determinism is).

    Pure per-row array expressions (filter with the index lambda) — no
    shuffle, scales with corpus bytes like the chunking operators.
    """
    docs = _t(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    kept = F.filter(
        toks,
        lambda t, i: (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat_ws(
                            ":",
                            F.col("doc_id").cast("string"),
                            (i + 1).cast("string"),
                            t,
                        )
                    ),
                    1,
                    1,
                ),
                16,
                10,
            ).cast("int")
            % _DROP_MOD
            != 0
        ),
    )
    return docs.select(
        "doc_id",
        F.size(toks).cast("bigint").alias("n_orig"),
        F.size(kept).cast("bigint").alias("n_kept"),
        F.md5(F.array_join(kept, " ")).alias("aug_md5"),
    )


# ---------------------------------------------------------------------------
# Interpolated bigram-LM document scoring — round 5
# ---------------------------------------------------------------------------
@register(
    "bigram_interpolated_logprob",
    doc="per-doc mean interpolated bigram log-probability (0.7 bigram MLE + 0.3 unigram)",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, string_split(text, ' ') AS t FROM documents
        ),
        pairs AS (
            SELECT doc_id, u.s.p AS prev, u.s.c AS cur
            FROM toks, unnest(list_transform(range(1, len(t)),
                                             i -> {{'p': t[i], 'c': t[i+1]}})) AS u(s)
        ),
        dpc AS (
            SELECT doc_id, prev, cur, COUNT(*) AS cnt
            FROM pairs GROUP BY doc_id, prev, cur
        ),
        big AS (
            SELECT prev, cur, SUM(cnt) AS c_big FROM dpc GROUP BY prev, cur
        ),
        prevc AS (SELECT prev, SUM(c_big) AS c_prev FROM big GROUP BY prev),
        uni AS (
            SELECT u.w AS word, COUNT(*) AS c_uni
            FROM toks, unnest(t) AS u(w) GROUP BY u.w
        ),
        ntok AS (SELECT CAST(SUM(c_uni) AS BIGINT) AS n_tok FROM uni),
        terms AS (
            SELECT dpc.doc_id, dpc.cnt,
                   dpc.cnt * round(ln(0.7 * (CAST(b.c_big AS DOUBLE) / p.c_prev)
                                      + 0.3 * (CAST(un.c_uni AS DOUBLE) / n.n_tok)),
                                   12) AS term
            FROM dpc
            JOIN big b ON b.prev = dpc.prev AND b.cur = dpc.cur
            JOIN prevc p ON p.prev = dpc.prev
            JOIN uni un ON un.word = dpc.cur
            CROSS JOIN ntok n
        )
        SELECT doc_id,
               CAST(SUM(cnt) AS BIGINT) AS n_bigrams,
               round({_FOLD.format(x='term')} / SUM(cnt), 9) AS avg_logprob
        FROM terms GROUP BY doc_id
    """,
)
def bigram_interpolated_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The step up from unigram_logprob_quality toward the KenLM filter
    CCNet actually runs: each transition scores ln(0.7·P(w|prev) +
    0.3·P(w)) — Jelinek-Mercer interpolation, so unseen-in-context words
    back off to their unigram mass instead of -inf. All probabilities
    are ratios of exact integer counts; the interpolation is ONE fixed
    IEEE expression rounded at 12 before the per-doc sorted fold
    (lang_entropy discipline), and the final mean divides once at 9.

    Plan: the pair stream is a lead() window on the doc_id-clustered
    corpus (exchange shared with the per-(doc,prev,cur) aggregate and
    the final per-doc rollup); the bigram/prev/unigram probability
    tables are rollups of that ONE aggregate (pmi_collocations
    precedent — the corpus is never re-paired) and broadcast back onto
    it. At 100 TB the bigram table outgrows broadcast: frequency-floor
    it (rare transitions clamp to the backoff term — standard LM
    pruning) and it broadcasts again.
    """
    from dynaledger_spark.plans.queries_pipeline import _docs_by_id

    docs = _docs_by_id(spark, sf_dir)
    toks = docs.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "word")
    )
    wdoc = W.partitionBy("doc_id").orderBy("pos")
    pairs = toks.select(
        "doc_id",
        F.col("word").alias("prev"),
        F.lead("word").over(wdoc).alias("cur"),
    ).filter(F.col("cur").isNotNull())
    dpc = (
        pairs.groupBy("doc_id", "prev", "cur")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    big = dpc.groupBy("prev", "cur").agg(F.sum("cnt").alias("c_big"))
    prevc = big.groupBy("prev").agg(F.sum("c_big").alias("c_prev"))
    uni = toks.groupBy("word").agg(F.count(F.lit(1)).alias("c_uni"))
    ntok = uni.agg(F.sum("c_uni").cast("bigint").alias("n_tok"))
    p = 0.7 * (F.col("c_big").cast("double") / F.col("c_prev")) + 0.3 * (
        F.col("c_uni").cast("double") / F.col("n_tok")
    )
    terms = (
        dpc.join(F.broadcast(big), ["prev", "cur"])
        .join(F.broadcast(prevc), "prev")
        .join(
            F.broadcast(uni.withColumnRenamed("word", "cur")), "cur"
        )
        .crossJoin(F.broadcast(ntok))
        .select(
            "doc_id",
            "cnt",
            (F.col("cnt") * F.round(F.log(p), 12)).alias("term"),
        )
    )
    return terms.groupBy("doc_id").agg(
        F.sum("cnt").cast("bigint").alias("n_bigrams"),
        F.round(_fold("term") / F.sum("cnt"), 9).alias("avg_logprob"),
    )


# ---------------------------------------------------------------------------
# Deterministic MLM masking plan (BERT-style 15% token masks)
# ---------------------------------------------------------------------------
@register(
    "mlm_mask_positions",
    doc="deterministic 15% MLM mask selection per doc: counts, rate, position checksum",
    oracle="""
        WITH m AS (
            SELECT doc_id,
                   CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
                   list_filter(
                       range(0, len(string_split(text, ' '))),
                       p -> ((((doc_id * 1000003 + p) % 1000000007)
                              * 2654435761) % 1000000007) % 100 < 15
                   ) AS masked
            FROM documents
        )
        SELECT doc_id, n_tokens,
               CAST(len(masked) AS BIGINT) AS n_masked,
               round(CAST(len(masked) AS DOUBLE)
                     / CAST(n_tokens AS DOUBLE), 9) AS mask_rate,
               CAST(COALESCE(list_aggregate(masked, 'sum'), 0) AS BIGINT)
                   AS mask_pos_sum
        FROM m ORDER BY doc_id
    """,
)
def mlm_mask_positions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The mask-selection half of BERT-style MLM data prep, with the
    RNG replaced by a position hash both engines reproduce: token p of
    document d is masked iff h(d, p) mod 100 < 15, where h is two
    multiplicative rounds mod 1e9+7 (operands stay under 2^63 — the
    full 2654435761 multiplier is applied AFTER the first reduction,
    so no overflow at any corpus size). Every aggregate is an integer
    count/sum inside a per-row array fold: the whole query is
    scan-project with ZERO exchanges — it scales embarrassingly.

    The row reports what a masking job needs to audit: token count,
    mask count, realized rate (≈0.15), and the masked-position
    checksum that lets a downstream re-derivation verify alignment
    without shipping the positions.
    """
    d = _t(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    n = F.size(toks)
    masked = F.filter(
        F.sequence(F.lit(0), n - 1),
        lambda p: (
            (
                ((F.col("doc_id") * 1000003 + p) % 1000000007)
                * 2654435761
            )
            % 1000000007
        )
        % 100
        < 15,
    )
    m = d.select(
        "doc_id",
        n.cast("bigint").alias("n_tokens"),
        masked.alias("masked"),
    )
    return m.select(
        "doc_id",
        "n_tokens",
        F.size("masked").cast("bigint").alias("n_masked"),
        F.round(
            F.size("masked").cast("double") / F.col("n_tokens").cast("double"), 9
        ).alias("mask_rate"),
        F.aggregate(
            "masked", F.lit(0).cast("bigint"), lambda acc, p: acc + p
        ).alias("mask_pos_sum"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# BPE merge learning (distributed tokenizer training)
# ---------------------------------------------------------------------------
@register(
    "bpe_learn_merges",
    doc="first 8 BPE merges learned over the corpus word-frequency table",
    oracle=None,  # iterative (one distributed job per merge round) —
    # verified by the exact pure-Python BPE mirror in
    # tests/test_round5b_ops.py
)
def bpe_learn_merges_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer training as a distributed loop (Sennrich et al. 2016,
    re-expressed Spark-first): the corpus collapses to the distinct
    (word, count) table once, then each merge round is ONE job —
    explode adjacent symbol pairs weighted by count, hash-aggregate,
    argmax with a total tiebreak (count desc, then lexicographic), and
    a map-side array-fold merge. Driver state is the merge list;
    per-round shuffle is O(distinct pairs). See operators/bpe.py for
    the scale contract and the non-overlap equivalence argument.
    """
    from dynaledger_spark.operators.bpe import learn_bpe_merges

    return learn_bpe_merges(_t(spark, sf_dir, "documents"), n_merges=8)


@register(
    "bpe_segment_words",
    doc="every distinct word segmented by the 8 learned BPE merges (apply step)",
    oracle=None,  # merges are runtime-learned — verified by the
    # pure-Python apply mirror in tests/test_round5b_ops.py
)
def bpe_segment_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The tokenizer APPLY step paired with bpe_learn_merges: each
    distinct corpus word segmented by the learned merges in rank
    order — n_merges chained map-side array folds, zero shuffles
    beyond the word count. Compression evidence (n_subwords <
    n_chars) is asserted in tests.
    """
    from dynaledger_spark.operators.bpe import apply_bpe_merges

    return apply_bpe_merges(_t(spark, sf_dir, "documents"), n_merges=8)


# ---------------------------------------------------------------------------
# T5-style span-corruption plan (deterministic)
# ---------------------------------------------------------------------------
@register(
    "span_corruption_plan",
    doc="deterministic T5 span-corruption selection: 3-token spans at hash-chosen starts",
    oracle="""
        WITH m AS (
            SELECT doc_id,
                   CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
                   [p FOR p IN range(0, len(string_split(text, ' ')))
                    IF ((((doc_id * 1000003 + p) % 1000000007)
                         * 2654435761) % 1000000007) % 20 = 0] AS starts
            FROM documents
        ),
        c AS (
            SELECT doc_id, n_tokens, starts,
                   list_distinct(flatten(
                       list_transform(starts,
                           p -> [q FOR q IN range(p, least(p + 3, n_tokens))])
                   )) AS covered
            FROM m
        )
        SELECT doc_id, n_tokens,
               CAST(len(starts) AS BIGINT) AS n_spans,
               CAST(len(covered) AS BIGINT) AS n_corrupted,
               round(CAST(len(covered) AS DOUBLE)
                     / CAST(n_tokens AS DOUBLE), 9) AS corrupt_rate,
               CAST(COALESCE(list_aggregate(covered, 'sum'), 0) AS BIGINT)
                   AS covered_pos_sum
        FROM c ORDER BY doc_id
    """,
)
def span_corruption_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5-style span corruption with the RNG replaced by the repo's
    two-round position hash (the mlm_mask_positions rule at rate 1/20):
    each selected position starts a 3-token span, spans clip at the
    document edge and overlapping spans merge (list_distinct of the
    covered-position union). Reports span count, corrupted-token count
    and rate (nominal 3/20 = 15%; the small test-corpus hash domain realizes ~8%), and the covered-position checksum for
    downstream alignment audits. Zero exchanges — per-row array work.
    """
    d = _t(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    n = F.size(toks)
    starts = F.filter(
        F.sequence(F.lit(0), n - 1),
        lambda p: (
            (((F.col("doc_id") * 1000003 + p) % 1000000007) * 2654435761)
            % 1000000007
        )
        % 20
        == 0,
    )
    covered = F.array_distinct(
        F.flatten(
            F.transform(
                starts,
                lambda p: F.sequence(p, F.least(p + 2, n - 1)),
            )
        )
    )
    m = d.select(
        "doc_id",
        n.cast("bigint").alias("n_tokens"),
        starts.alias("starts"),
        covered.alias("covered"),
    )
    return m.select(
        "doc_id",
        "n_tokens",
        F.size("starts").cast("bigint").alias("n_spans"),
        F.size("covered").cast("bigint").alias("n_corrupted"),
        F.round(
            F.size("covered").cast("double") / F.col("n_tokens").cast("double"),
            9,
        ).alias("corrupt_rate"),
        F.aggregate(
            "covered", F.lit(0).cast("bigint"), lambda a, p: a + p
        ).alias("covered_pos_sum"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Oracle-exact BPE miniature: 3 merge rounds re-derived by SQL windows
# ---------------------------------------------------------------------------
def _bpe_round_sql(k: int) -> str:
    """One BPE merge round as SQL CTEs: pair counting, total-order
    argmax, and the non-overlapping left-to-right merge expressed with
    WINDOWS (islands of equal symbols + run parity for the a==b case) —
    a completely different algorithm from the Spark operator's array
    fold, which is exactly what makes the parity check strong
    evidence. s{k} -> s{k+1}.
    """
    p = f"""
        p{k + 1} AS (
            SELECT syms[CAST(u.i AS INT)] AS a,
                   syms[CAST(u.i AS INT) + 1] AS b,
                   CAST(SUM(cnt) AS BIGINT) AS n
            FROM s{k}, unnest(range(1, len(syms))) AS u(i)
            GROUP BY 1, 2
        ),
        b{k + 1} AS (
            SELECT a, b, n FROM p{k + 1} ORDER BY n DESC, a, b LIMIT 1
        ),
        e{k + 1} AS (
            SELECT w, cnt, CAST(u.i AS BIGINT) AS pos,
                   syms[CAST(u.i AS INT)] AS s,
                   len(syms) AS L
            FROM s{k}, unnest(range(1, len(syms) + 1)) AS u(i)
        ),
        r{k + 1} AS (
            SELECT e.*, b.a, b.b, b.a || b.b AS ab,
                   pos - row_number() OVER (PARTITION BY w, s
                                            ORDER BY pos) AS grp,
                   lead(s) OVER (PARTITION BY w ORDER BY pos) AS nxt
            FROM e{k + 1} e, b{k + 1} b
        ),
        h{k + 1} AS (
            SELECT *, MIN(pos) OVER (PARTITION BY w, s, grp) AS run_head
            FROM r{k + 1}
        ),
        st{k + 1} AS (
            SELECT *,
                   (s = a AND nxt = b
                    AND (a <> b OR (pos - run_head) % 2 = 0)) AS start
            FROM h{k + 1}
        ),
        con{k + 1} AS (
            SELECT *, COALESCE(lag(start) OVER (PARTITION BY w
                                                ORDER BY pos), FALSE)
                          AS consumed
            FROM st{k + 1}
        ),
        s{k + 1} AS (
            SELECT w, cnt,
                   list(CASE WHEN start THEN ab ELSE s END
                        ORDER BY pos) AS syms
            FROM con{k + 1} WHERE NOT consumed
            GROUP BY w, cnt
        )"""
    return p


_BPE_PORTABLE_ROUNDS = 3


@register(
    "bpe_portable_merges",
    doc="first 3 BPE merges with the oracle re-deriving every round via SQL windows",
    oracle=f"""
        WITH words AS (
            SELECT u.w AS w, CAST(COUNT(*) AS BIGINT) AS cnt
            FROM documents, unnest(string_split(text, ' ')) AS u(w)
            WHERE length(u.w) > 0 GROUP BY 1
        ),
        s0 AS (SELECT w, cnt, string_split(w, '') AS syms FROM words),
        {','.join(_bpe_round_sql(k) for k in range(_BPE_PORTABLE_ROUNDS))}
        SELECT * FROM (
            SELECT 1 AS merge_rank, a AS left_sym, b AS right_sym,
                   a || b AS merged, n AS pair_count FROM b1
            UNION ALL
            SELECT 2, a, b, a || b, n FROM b2
            UNION ALL
            SELECT 3, a, b, a || b, n FROM b3
        ) ORDER BY merge_rank
    """,
)
def bpe_portable_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The oracle-exact BPE miniature, following the portable-MinHash
    doctrine: the Spark side runs the REAL distributed trainer
    (operators/bpe.py — array-fold merges), while the DuckDB oracle
    re-derives all three rounds with an INDEPENDENT algorithm
    (windowed islands: merge starts where (s, next) matches the argmax
    pair, with run-parity handling the a==b self-pair case; consumed
    positions drop via lag). Hash-identical output across two
    different merge implementations pins the non-overlap semantics the
    python mirror test asserts, but under the driver's gate.
    """
    from dynaledger_spark.operators.bpe import learn_bpe_merges

    return learn_bpe_merges(
        _t(spark, sf_dir, "documents"), n_merges=_BPE_PORTABLE_ROUNDS
    ).select(
        "merge_rank",
        F.col("left").alias("left_sym"),
        F.col("right").alias("right_sym"),
        "merged",
        "pair_count",
    )


# ---------------------------------------------------------------------------
# DoReMi-style excess-loss domain reweighting (round 7)
# ---------------------------------------------------------------------------
_DOREMI_ETA = 50.0


@register(
    "doremi_domain_weights",
    doc="DoReMi-style domain reweighting: softmax over per-source excess unigram-LM loss",
    oracle=f"""
        WITH words AS (
            SELECT source, u.w AS word
            FROM documents, unnest(string_split(text, ' ')) AS u(w)
        ),
        vocab AS (SELECT word, COUNT(*) AS n FROM words GROUP BY word),
        total AS (SELECT COUNT(*) AS t FROM words),
        sw AS (
            SELECT source, word, COUNT(*) AS cnt FROM words
            GROUP BY source, word
        ),
        terms AS (
            SELECT sw.source, sw.cnt,
                   sw.cnt * round(ln(CAST(v.n AS DOUBLE) / t.t), 12) AS term
            FROM sw JOIN vocab v USING (word) CROSS JOIN total t
        ),
        srcloss AS (
            SELECT source,
                   CAST(SUM(cnt) AS BIGINT) AS n_tokens,
                   round(-({_FOLD.format(x='term')}) / SUM(cnt), 12)
                       AS proxy_loss
            FROM terms GROUP BY source
        ),
        ref AS (
            SELECT round(-({_FOLD.format(x='term')}) / SUM(cnt), 12)
                       AS ref_loss
            FROM terms
        ),
        scored AS (
            SELECT s.source, s.n_tokens, s.proxy_loss,
                   greatest(s.proxy_loss - r.ref_loss, 0.0) AS excess,
                   round(exp({_DOREMI_ETA}
                             * greatest(s.proxy_loss - r.ref_loss, 0.0)), 12)
                       AS e
            FROM srcloss s CROSS JOIN ref r
        ),
        norm AS (SELECT {_FOLD.format(x='e')} AS tot FROM scored)
        SELECT s.source, s.n_tokens, s.proxy_loss, s.excess,
               round(s.e / n.tot, 12) AS weight
        FROM scored s CROSS JOIN norm n
        ORDER BY s.source
    """,
)
def doremi_domain_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DoReMi-style domain reweighting (Xie et al. 2023,
    arXiv:2305.10429): upweight the domains where the proxy model's
    loss EXCEEDS the reference — here one multiplicative-weights step
    from uniform, which is exactly a softmax over η·excess. The proxy
    loss is each source's mean unigram-LM surprisal (the repo's
    perplexity-filter proxy, unigram_logprob_quality); the reference
    is the corpus mean; excess clamps at 0 (the published
    min-domain-weight guard). Full DoReMi retrains the proxy between
    steps — with a static proxy, k unit-rate steps collapse to one
    softmax at temperature 1/k, so η=50 here ≡ 50 MW steps; on this
    near-homogeneous corpus (excess ≤ ~0.004 nats) that is what makes
    the weight spread visible rather than ±0.2%.

    Float discipline: ln terms round at 12 before sorted folds
    (per-source term sets are vocab-bounded); exp(η·excess) lands in
    [1, e^0.4] so round(…, 12) absorbs the cross-libm exp ulp the
    repo's parity experiment measured; the 20-element normalizer is a
    sorted fold.

    Plan: ONE token explode feeds vocab/total/(source, word) hash
    aggregates (all map-side-combined); everything after is
    20-row/1-row broadcast combines. At 100 TB: two corpus-weight
    exchanges, no driver state. reference: SURVEY §2.11 (sampling
    tier).
    """
    docs = _t(spark, sf_dir, "documents")
    words = docs.select(
        "source", F.explode(F.split("text", " ")).alias("word")
    )
    vocab = words.groupBy("word").agg(F.count(F.lit(1)).alias("n"))
    total = words.agg(F.count(F.lit(1)).alias("t"))
    sw = words.groupBy("source", "word").agg(F.count(F.lit(1)).alias("cnt"))
    terms = (
        sw.join(F.broadcast(vocab), "word")
        .crossJoin(F.broadcast(total))
        .select(
            "source",
            "cnt",
            (
                F.col("cnt")
                * F.round(F.log(F.col("n").cast("double") / F.col("t")), 12)
            ).alias("term"),
        )
    )
    srcloss = terms.groupBy("source").agg(
        F.sum("cnt").cast("bigint").alias("n_tokens"),
        F.round(-_fold("term") / F.sum("cnt"), 12).alias("proxy_loss"),
    )
    ref = terms.agg(
        F.round(-_fold("term") / F.sum("cnt"), 12).alias("ref_loss")
    )
    scored = srcloss.crossJoin(F.broadcast(ref)).select(
        "source",
        "n_tokens",
        "proxy_loss",
        F.greatest(F.col("proxy_loss") - F.col("ref_loss"), F.lit(0.0)).alias(
            "excess"
        ),
        F.round(
            F.exp(
                _DOREMI_ETA
                * F.greatest(F.col("proxy_loss") - F.col("ref_loss"), F.lit(0.0))
            ),
            12,
        ).alias("e"),
    )
    norm = scored.agg(_fold("e").alias("tot"))
    return (
        scored.crossJoin(F.broadcast(norm))
        .select(
            "source",
            "n_tokens",
            "proxy_loss",
            "excess",
            F.round(F.col("e") / F.col("tot"), 12).alias("weight"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Distinct-n diversity metrics (round 7)
# ---------------------------------------------------------------------------
@register(
    "distinct_ngram_diversity",
    doc="distinct-1/distinct-2 diversity ratios per source (generation-diversity eval)",
    oracle="""
        WITH toks AS (
            SELECT source, string_split(text, ' ') AS t FROM documents
        ),
        unig AS (
            SELECT source, unnest(t) AS g FROM toks
        ),
        big AS (
            SELECT source,
                   unnest(list_transform(range(1, greatest(len(t) - 1, 0) + 1),
                          i -> array_to_string(t[i:i+1], ' '))) AS g
            FROM toks
        ),
        u AS (
            SELECT source, CAST(COUNT(*) AS BIGINT) AS n_unigrams,
                   CAST(COUNT(DISTINCT g) AS BIGINT) AS d_unigrams
            FROM unig GROUP BY source
        ),
        b AS (
            SELECT source, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
                   CAST(COUNT(DISTINCT g) AS BIGINT) AS d_bigrams
            FROM big GROUP BY source
        )
        SELECT u.source, u.n_unigrams, u.d_unigrams,
               CAST(u.d_unigrams AS DOUBLE) / u.n_unigrams AS distinct_1,
               b.n_bigrams, b.d_bigrams,
               CAST(b.d_bigrams AS DOUBLE) / b.n_bigrams AS distinct_2
        FROM u JOIN b ON u.source = b.source
        ORDER BY u.source
    """,
)
def distinct_ngram_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-n (Li et al. 2016, arXiv:1510.03055; the Texygen
    diversity metric): unique-to-total unigram and bigram ratios per
    source — low distinct-n flags template/degenerate slices the way
    it flags mode-collapsed generators, which is exactly the check a
    pipeline runs on synthetic-data sources before mixing them in.
    Counts are exact integers; each ratio is one IEEE division.

    Plan: the token list is built ONCE per doc (scan-side split);
    unigram and bigram streams each feed a (source, gram)
    distinct+count aggregate — two map-side-combined exchanges over
    gram keys, joined on the 20-row source dim. Linear at 100 TB; a
    hot gram collapses in the map-side partial. reference: SURVEY
    §2.11 (curation/eval tier).
    """
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select("source", F.split("text", " ").alias("t"))
    unig = toks.select("source", F.explode("t").alias("g"))
    big = toks.select(
        "source",
        F.explode(
            F.transform(
                F.sequence(
                    F.lit(1), F.greatest(F.size("t") - 1, F.lit(0))
                ),
                lambda i: F.array_join(F.slice("t", i, 2), " "),
            )
        ).alias("g"),
    )
    u = unig.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_unigrams"),
        F.countDistinct("g").cast("bigint").alias("d_unigrams"),
    )
    b = big.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
        F.countDistinct("g").cast("bigint").alias("d_bigrams"),
    )
    return (
        u.join(b, "source")
        .select(
            "source",
            "n_unigrams",
            "d_unigrams",
            (F.col("d_unigrams").cast("double") / F.col("n_unigrams")).alias(
                "distinct_1"
            ),
            "n_bigrams",
            "d_bigrams",
            (F.col("d_bigrams").cast("double") / F.col("n_bigrams")).alias(
                "distinct_2"
            ),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# CCNet perplexity bucketing (round 7)
# ---------------------------------------------------------------------------
@register(
    "ccnet_perplexity_buckets",
    doc="CCNet head/middle/tail buckets: per-lang tertiles of unigram-LM quality",
    oracle=f"""
        WITH words AS (
            SELECT doc_id, u.w AS word
            FROM documents, unnest(string_split(text, ' ')) AS u(w)
        ),
        tf AS (
            SELECT doc_id, word, COUNT(*) AS cnt FROM words
            GROUP BY doc_id, word
        ),
        vocab AS (SELECT word, COUNT(*) AS n FROM words GROUP BY word),
        total AS (SELECT COUNT(*) AS t FROM words),
        terms AS (
            SELECT tf.doc_id,
                   tf.cnt,
                   tf.cnt * round(ln(CAST(v.n AS DOUBLE) / t.t), 12) AS term
            FROM tf JOIN vocab v USING (word) CROSS JOIN total t
        ),
        scores AS (
            SELECT doc_id,
                   CAST(SUM(cnt) AS BIGINT) AS n_tokens,
                   round({_FOLD.format(x='term')} / SUM(cnt), 9) AS avg_logprob
            FROM terms GROUP BY doc_id
        ),
        binned AS (
            SELECT d.lang, s.n_tokens, s.avg_logprob,
                   ntile(3) OVER (PARTITION BY d.lang
                                  ORDER BY s.avg_logprob DESC, s.doc_id)
                       AS tertile
            FROM scores s JOIN documents d USING (doc_id)
        )
        SELECT lang,
               CASE tertile WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
                    ELSE 'tail' END AS bucket,
               COUNT(*) AS n_docs,
               CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
               MAX(avg_logprob) AS best_logprob,
               MIN(avg_logprob) AS worst_logprob
        FROM binned GROUP BY lang, tertile
        ORDER BY lang, tertile
    """,
)
def ccnet_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet's signature curation step (Wenzek et al. 2020, LREC —
    "CCNet: Extracting High Quality Monolingual Datasets from Web Crawl
    Data"): score every document with a per-language LM and split each
    language into HEAD / MIDDLE / TAIL perplexity tertiles — head is
    Wikipedia-like text, tail is the gibberish/boilerplate cut.  The
    score is the repo's oracle-exact perplexity proxy
    (unigram_logprob_quality, reused verbatim so the 9-dp score bits are
    identical in both engines); tertiles come from ntile(3) ordered by
    (score DESC, doc_id), whose ceil/floor group-size split is identical
    in Spark and DuckDB.

    Plan: the scoring pass is unigram_logprob_quality's single
    doc_id-clustered exchange + broadcast vocab; bucketing adds one
    exchange on lang for the ntile window and the rollup reuses it.
    This is the exactness-first miniature: at 100 TB the per-lang sort
    behind ntile is replaced by CCNet's own design — tertile CUTOFFS
    estimated once from a per-lang sample, broadcast, and applied as a
    map-side comparison — with the same output contract.
    reference: SURVEY §2.11 (quality/curation tier).
    """
    scores = unigram_logprob_quality(spark, sf_dir)
    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    binned = scores.join(docs, "doc_id").withColumn(
        "tertile",
        F.ntile(3).over(
            W.partitionBy("lang").orderBy(
                F.col("avg_logprob").desc(), F.col("doc_id")
            )
        ),
    )
    return (
        binned.groupBy("lang", "tertile")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("sum_tokens"),
            F.max("avg_logprob").alias("best_logprob"),
            F.min("avg_logprob").alias("worst_logprob"),
        )
        .select(
            "lang",
            F.when(F.col("tertile") == 1, "head")
            .when(F.col("tertile") == 2, "middle")
            .otherwise("tail")
            .alias("bucket"),
            "n_docs",
            "sum_tokens",
            "best_logprob",
            "worst_logprob",
        )
        .orderBy("lang", F.when(F.col("bucket") == "head", 1)
                 .when(F.col("bucket") == "middle", 2).otherwise(3))
    )


# ---------------------------------------------------------------------------
# Bits-per-byte by source (round 7)
# ---------------------------------------------------------------------------
# ln(2) pinned to the nearest double in BOTH engines (Math.log/ln are only
# 1-ulp-accurate and not guaranteed to agree across runtimes).
_LN2 = "0.6931471805599453"


@register(
    "bits_per_byte_by_source",
    doc="per-source bits-per-UTF8-byte under the corpus unigram LM (Pile metric)",
    oracle=f"""
        WITH words AS (
            SELECT d.source, strlen(d.text) AS n_bytes, u.w AS word
            FROM documents d, unnest(string_split(d.text, ' ')) AS u(w)
        ),
        vocab AS (SELECT word, COUNT(*) AS n FROM words GROUP BY word),
        total AS (SELECT COUNT(*) AS t FROM words),
        bytes_per_source AS (
            SELECT source, CAST(SUM(strlen(text)) AS BIGINT) AS n_bytes
            FROM documents GROUP BY source
        ),
        sw AS (
            SELECT source, word, COUNT(*) AS cnt FROM words
            GROUP BY source, word
        ),
        terms AS (
            SELECT sw.source, sw.cnt,
                   sw.cnt * round(ln(CAST(v.n AS DOUBLE) / t.t), 12) AS term
            FROM sw JOIN vocab v USING (word) CROSS JOIN total t
        ),
        nats AS (
            SELECT source,
                   CAST(SUM(cnt) AS BIGINT) AS n_tokens,
                   round(-({_FOLD.format(x='term')}), 9) AS total_nats
            FROM terms GROUP BY source
        )
        SELECT n.source, n.n_tokens, b.n_bytes,
               round(n.total_nats / ({_LN2} * b.n_bytes), 9)
                   AS bits_per_byte
        FROM nats n JOIN bytes_per_source b USING (source)
        ORDER BY n.source
    """,
)
def bits_per_byte_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bits per UTF-8 byte (Gao et al. 2020, The Pile §4 — the
    tokenizer-independent LM metric): per-token log-probabilities are
    incomparable across tokenizers, so corpus evaluation normalizes
    total negative log-likelihood by the RAW BYTE length instead.
    Under the repo's oracle-exact unigram LM, each source's BPB =
    -sum(ln p) / (ln2 * n_bytes); ln2 is a PINNED double literal in
    both engines (library ln is only 1-ulp accurate and differs across
    runtimes — found by the round-7 exp() parity experiment). Byte
    length via octet_length/strlen, not character length.

    Plan: one token explode into the map-side (source, word) aggregate,
    broadcast vocab join (unigram_logprob_quality's plan at source
    grain), plus a byte rollup on the same scan; 20 rows out.
    reference: SURVEY §2.11 (LM/eval tier).
    """
    from dynaledger_spark.plans.queries_pipeline import _docs_by_id

    docs = _docs_by_id(spark, sf_dir)
    words = docs.select(
        "source", F.explode(F.split("text", " ")).alias("word")
    )
    vocab = words.groupBy("word").agg(F.count(F.lit(1)).alias("n"))
    total = words.agg(F.count(F.lit(1)).alias("t"))
    bytes_per_source = docs.groupBy("source").agg(
        F.sum(F.octet_length("text")).cast("bigint").alias("n_bytes")
    )
    sw = words.groupBy("source", "word").agg(F.count(F.lit(1)).alias("cnt"))
    terms = (
        sw.join(F.broadcast(vocab), "word")
        .crossJoin(F.broadcast(total))
        .select(
            "source",
            "cnt",
            (
                F.col("cnt")
                * F.round(F.log(F.col("n").cast("double") / F.col("t")), 12)
            ).alias("term"),
        )
    )
    nats = terms.groupBy("source").agg(
        F.sum("cnt").cast("bigint").alias("n_tokens"),
        F.round(-_fold("term"), 9).alias("total_nats"),
    )
    return (
        nats.join(bytes_per_source, "source")
        .select(
            "source",
            "n_tokens",
            "n_bytes",
            F.round(
                F.col("total_nats")
                / (F.lit(float(_LN2)) * F.col("n_bytes")),
                9,
            ).alias("bits_per_byte"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Novel n-gram rate (round 7)
# ---------------------------------------------------------------------------
_NOV_N = 3  # token n-gram order


@register(
    "ngram_novelty_rate",
    doc=f"val-split {_NOV_N}-gram novelty vs the train split (instance + distinct rates)",
    oracle=f"""
        WITH labeled AS (
            SELECT doc_id, string_split(text, ' ') AS t,
                   CASE WHEN (doc_id * 2654435761) % 4294967296 % 100 < 80
                        THEN 'train'
                        WHEN (doc_id * 2654435761) % 4294967296 % 100 < 90
                        THEN 'val' ELSE 'test' END AS split
            FROM documents
        ),
        grams AS (
            SELECT split,
                   array_to_string(t[u.i:u.i + {_NOV_N - 1}], ' ') AS gram
            FROM labeled,
                 unnest(range(1, greatest(len(t) - {_NOV_N - 1}, 0) + 1))
                     AS u(i)
        ),
        train_set AS (SELECT DISTINCT gram FROM grams WHERE split = 'train'),
        val_grams AS (SELECT gram FROM grams WHERE split = 'val'),
        flags AS (
            SELECT v.gram,
                   CASE WHEN t.gram IS NULL THEN 1 ELSE 0 END AS novel
            FROM val_grams v LEFT JOIN train_set t USING (gram)
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_val_grams,
               CAST(SUM(novel) AS BIGINT) AS n_novel,
               CASE WHEN COUNT(*) > 0 THEN
                    round(CAST(SUM(novel) AS DOUBLE) / COUNT(*), 9)
               END AS novelty_rate,
               CAST(COUNT(DISTINCT gram) AS BIGINT) AS n_val_distinct,
               CAST(COUNT(DISTINCT CASE WHEN novel = 1 THEN gram END)
                    AS BIGINT) AS n_novel_distinct,
               CASE WHEN COUNT(DISTINCT gram) > 0 THEN
                    round(CAST(COUNT(DISTINCT CASE WHEN novel = 1 THEN gram END)
                               AS DOUBLE)
                          / COUNT(DISTINCT gram), 9)
               END AS distinct_novelty_rate
        FROM flags
    """,
)
def ngram_novelty_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Novel n-gram rate of the validation split against the training
    split — the memorization/generalization screen (GPT-2's eval
    reported 8-gram overlap with WebText for exactly this reason;
    novelty = 1 - overlap): what fraction of val {_NOV_N}-gram
    INSTANCES (and distinct {_NOV_N}-grams) never appear in train. A
    low rate means the split boundary is porous at phrase level even
    when exact/near-dup audits (split_leakage_check,
    near_dup_split_leakage) pass. Splits are the repo's deterministic
    hash assignment.

    Plan: one scan-side gram explode with the split label attached; the
    train DISTINCT set and the val stream meet in ONE left join on the
    gram (both sides shuffle on the gram key once — at 100 TB swap the
    join for the bloom-filter probe, bloom_filter_probe's shape, and
    the val side never shuffles). All-integer except two final
    divisions at 9 dp. reference: SURVEY §2.11 (LM/eval tier).
    """
    from dynaledger_spark.plans.queries_sampling import _H1, _M32, _mhash

    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.split("text", " ").alias("t"),
        (_mhash(F.col("doc_id"), _H1) % 100).alias("b"),
    ).select(
        "t",
        F.when(F.col("b") < 80, "train")
        .when(F.col("b") < 90, "val")
        .otherwise("test")
        .alias("split"),
        F.greatest(F.size("t") - (_NOV_N - 1), F.lit(0)).alias("g"),
    )
    grams = toks.filter(F.col("g") > 0).select(
        "split",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.col("g").cast("int")),
                lambda i: F.array_join(F.slice("t", i, _NOV_N), " "),
            )
        ).alias("gram"),
    )
    train_set = (
        grams.filter(F.col("split") == "train").select("gram").distinct()
    )
    val_grams = grams.filter(F.col("split") == "val").select("gram")
    flags = val_grams.join(
        train_set.withColumn("_hit", F.lit(1)), "gram", "left"
    ).select(
        "gram",
        F.when(F.col("_hit").isNull(), 1).otherwise(0).alias("novel"),
    )
    # rates undefined with zero val grams (empty corpus / empty split):
    # NULL under guards mirrored in the oracle, never ANSI div/0
    return flags.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_val_grams"),
        F.sum("novel").cast("bigint").alias("n_novel"),
        F.when(
            F.count(F.lit(1)) > 0,
            F.round(F.sum("novel").cast("double") / F.count(F.lit(1)), 9),
        ).alias("novelty_rate"),
        F.count_distinct("gram").cast("bigint").alias("n_val_distinct"),
        F.count_distinct(
            F.when(F.col("novel") == 1, F.col("gram"))
        ).cast("bigint").alias("n_novel_distinct"),
        F.when(
            F.count_distinct("gram") > 0,
            F.round(
                F.count_distinct(F.when(F.col("novel") == 1, F.col("gram")))
                .cast("double")
                / F.count_distinct("gram"),
                9,
            ),
        ).alias("distinct_novelty_rate"),
    )


# ---------------------------------------------------------------------------
# PMI collocations
# ---------------------------------------------------------------------------
@register(
    "pmi_collocations",
    doc="top-30 word pairs by pointwise mutual information (positional unigram margins)",
    oracle="""
        WITH toks AS (
            SELECT doc_id, string_split(text, ' ') AS t FROM documents
        ),
        bi AS (
            SELECT t[i] AS w1, t[i + 1] AS w2
            FROM toks, unnest(range(1, len(t))) AS u(i)
        ),
        joint AS (
            SELECT w1, w2, COUNT(*) AS n12 FROM bi GROUP BY 1, 2
        ),
        firsts AS (SELECT w1 AS w, SUM(n12) AS nf FROM joint GROUP BY 1),
        seconds AS (SELECT w2 AS w, SUM(n12) AS ns FROM joint GROUP BY 1),
        tot AS (SELECT SUM(n12) AS t FROM joint)
        SELECT w1, w2, CAST(n12 AS BIGINT) AS n12,
               round(ln(CAST(n12 * t AS DOUBLE) / (CAST(nf AS DOUBLE) * ns)),
                     12) AS pmi
        FROM joint
        JOIN firsts f ON f.w = joint.w1
        JOIN seconds s ON s.w = joint.w2
        CROSS JOIN tot
        WHERE n12 >= 5
        ORDER BY pmi DESC, w1 ASC, w2 ASC LIMIT 30
    """,
)
def pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining: PMI = ln(p(w1,w2)/(p1(w1)·p2(w2))) with
    POSITIONAL margins (count as first word / count as second word over
    the same bigram total), so every probability shares one denominator
    and the ratio reduces to exact integers — n12·T / (nf·ns) — before
    the single ln, rounded at 12. Support floor n12 ≥ 5 cuts the
    low-count PMI pathology (hapax pairs scoring highest).

    Plan: one explode → bigram stream → ONE heavy groupBy; the
    positional margins and the total are rollups of the
    joint table (identical counts by algebra), so the corpus stream is
    aggregated exactly once. Margins broadcast back; top-30 is
    TakeOrdered — no global sort materialization. At 100 TB the
    margins are vocabulary-sized — broadcastable exactly when the
    vocab is (frequency-floor them first, as with the unigram LM).
    """
    docs = _t(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    grams = F.when(
        F.size(toks) >= 2,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - 2),
            lambda i: F.struct(
                F.element_at(toks, i + 1).alias("w1"),
                F.element_at(toks, i + 2).alias("w2"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
    bi = docs.select(F.explode(grams).alias("g")).select("g.w1", "g.w2")
    # the corpus-sized bigram stream is aggregated ONCE; margins and the
    # total are rollups of the joint table (identical counts by algebra)
    joint = bi.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n12"))
    firsts = joint.groupBy(F.col("w1").alias("w")).agg(F.sum("n12").alias("nf"))
    seconds = joint.groupBy(F.col("w2").alias("w")).agg(F.sum("n12").alias("ns"))
    tot = joint.agg(F.sum("n12").alias("t"))
    return (
        joint.filter(F.col("n12") >= 5)
        .join(F.broadcast(firsts), joint["w1"] == firsts["w"])
        .drop("w")
        .join(F.broadcast(seconds), joint["w2"] == seconds["w"])
        .drop("w")
        .crossJoin(F.broadcast(tot))
        .select(
            "w1",
            "w2",
            F.col("n12").cast("bigint").alias("n12"),
            F.round(
                F.log(
                    (F.col("n12") * F.col("t")).cast("double")
                    / (F.col("nf").cast("double") * F.col("ns"))
                ),
                12,
            ).alias("pmi"),
        )
        .orderBy(F.col("pmi").desc(), F.col("w1").asc(), F.col("w2").asc())
        .limit(30)
    )


# ---------------------------------------------------------------------------
# Spearman rank agreement between quality scores (round 7)
# ---------------------------------------------------------------------------
@register(
    "spearman_quality_scores",
    doc="per-source Spearman rho between unigram-LM quality and type-token ratio",
    oracle=f"""
        WITH words AS (
            SELECT doc_id, u.w AS word
            FROM documents, unnest(string_split(text, ' ')) AS u(w)
        ),
        tf AS (
            SELECT doc_id, word, COUNT(*) AS cnt FROM words
            GROUP BY doc_id, word
        ),
        vocab AS (SELECT word, COUNT(*) AS n FROM words GROUP BY word),
        total AS (SELECT COUNT(*) AS t FROM words),
        terms AS (
            SELECT tf.doc_id,
                   tf.cnt,
                   tf.cnt * round(ln(CAST(v.n AS DOUBLE) / t.t), 12) AS term
            FROM tf JOIN vocab v USING (word) CROSS JOIN total t
        ),
        lp AS (
            SELECT doc_id,
                   round({{fold}} / SUM(cnt), 9) AS avg_logprob
            FROM terms GROUP BY doc_id
        ),
        ttr AS (
            SELECT doc_id,
                   CAST(COUNT(DISTINCT word) AS DOUBLE) / COUNT(*) AS ttr
            FROM words GROUP BY doc_id
        ),
        scored AS (
            SELECT d.source, d.doc_id, lp.avg_logprob, ttr.ttr
            FROM documents d JOIN lp USING (doc_id) JOIN ttr USING (doc_id)
        ),
        ranked AS (
            SELECT source,
                   CAST(row_number() OVER (PARTITION BY source
                        ORDER BY avg_logprob, doc_id) AS BIGINT) AS ra,
                   CAST(row_number() OVER (PARTITION BY source
                        ORDER BY ttr, doc_id) AS BIGINT) AS rb
            FROM scored
        ),
        sums AS (
            SELECT source,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(ra) AS BIGINT) AS sa,
                   CAST(SUM(rb) AS BIGINT) AS sb,
                   CAST(SUM(ra * ra) AS BIGINT) AS saa,
                   CAST(SUM(rb * rb) AS BIGINT) AS sbb,
                   CAST(SUM(ra * rb) AS BIGINT) AS sab
            FROM ranked GROUP BY source
        )
        SELECT source, n AS n_docs,
               round(CAST(n * sab - sa * sb AS DOUBLE)
                     / sqrt(CAST(n * saa - sa * sa AS DOUBLE)
                            * CAST(n * sbb - sb * sb AS DOUBLE)), 9)
                   AS spearman_rho
        FROM sums
        ORDER BY source
    """.replace("{fold}", _FOLD.format(x="term")),
)
def spearman_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank agreement (Spearman 1904) between two quality scores — the
    rank-level complement to filter_agreement_kappa's binary agreement:
    before ensembling quality filters, curation pipelines check whether
    they ORDER documents the same way. Score A is the oracle-exact
    unigram-LM quality (unigram_logprob_quality, reused verbatim);
    score B is per-doc type-token ratio (lexical diversity, one exact
    int division). Ranks are row_number over (score, doc_id) — unique
    integer ranks, identical in both engines because the score bits
    are — so every Spearman sum is an exact BIGINT and the rho is one
    closed-form double expression rounded at 9.

    Plan: the scoring pass is unigram_logprob_quality's plan plus one
    (doc, word) distinct count riding the same exchange; ranking is two
    row_number windows per SOURCE (shard-bounded, never global); the
    sums collapse map-side to 20 rows. reference: SURVEY §2.11
    (quality/eval tier).
    """
    from dynaledger_spark.plans.queries_pipeline import _docs_by_id

    docs = _docs_by_id(spark, sf_dir)
    lp = unigram_logprob_quality(spark, sf_dir).select("doc_id", "avg_logprob")
    words = docs.select("doc_id", F.explode(F.split("text", " ")).alias("word"))
    ttr = words.groupBy("doc_id").agg(
        (
            F.count_distinct("word").cast("double") / F.count(F.lit(1))
        ).alias("ttr")
    )
    scored = (
        docs.select("doc_id", "source")
        .join(lp, "doc_id")
        .join(ttr, "doc_id")
    )
    ra = F.row_number().over(
        W.partitionBy("source").orderBy("avg_logprob", "doc_id")
    ).cast("bigint")
    rb = F.row_number().over(
        W.partitionBy("source").orderBy("ttr", "doc_id")
    ).cast("bigint")
    ranked = scored.select("source", ra.alias("ra"), rb.alias("rb"))
    sums = ranked.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("ra").cast("bigint").alias("sa"),
        F.sum("rb").cast("bigint").alias("sb"),
        F.sum(F.col("ra") * F.col("ra")).cast("bigint").alias("saa"),
        F.sum(F.col("rb") * F.col("rb")).cast("bigint").alias("sbb"),
        F.sum(F.col("ra") * F.col("rb")).cast("bigint").alias("sab"),
    )
    n, sa, sb = F.col("n"), F.col("sa"), F.col("sb")
    return sums.select(
        "source",
        n.alias("n_docs"),
        F.round(
            (n * F.col("sab") - sa * sb).cast("double")
            / F.sqrt(
                (n * F.col("saa") - sa * sa).cast("double")
                * (n * F.col("sbb") - sb * sb).cast("double")
            ),
            9,
        ).alias("spearman_rho"),
    ).orderBy("source")
