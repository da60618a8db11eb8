"""ML-prep, privacy, and graph-inference operators (round-4, batch 2).

Six more oracle-exact training-pipeline staples on top of queries_feature:
k-anonymity privacy auditing, exact embedding covariance (the PCA prep
step), Zipf-law fit of the corpus vocabulary, linear multi-touch
attribution, hashing-trick feature vectorization, and common-neighbor
link prediction over the co-purchase graph.

Float discipline: products of FLOAT-widened doubles are EXACT (24-bit
mantissas → 48-bit product ≤ 52), sums of doubles use the sorted-fold
chain (both engines run the identical IEEE addition sequence — the
label_centroids precedent; a DECIMAL accumulator is NOT portable for
full-precision doubles), ln()-derived terms round at 12 dp before
summation (the lang_entropy precedent), and integer arithmetic (hashes,
counts, weights) is exact everywhere.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from dynaledger_spark.plans.registry import register
from dynaledger_spark.plans.queries_graph import _EDGES_DUCK, _edges
from dynaledger_spark.plans.queries_stats import _duck_hex_poly


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    from dynaledger_spark.catalog import read_table

    return read_table(spark, sf_dir, name)


_FOLD = "list_reduce(list_prepend(0.0, list_sort(list({x}))), (a, b) -> a + b)"


def _fold(col: str):
    """Sorted-fold exact double sum (Spark side of the DuckDB _FOLD)."""
    return F.aggregate(
        F.array_sort(F.collect_list(col)), F.lit(0.0), lambda a, x: a + x
    )


# ---------------------------------------------------------------------------
# k-anonymity privacy audit
# ---------------------------------------------------------------------------
@register(
    "k_anonymity_audit",
    doc="quasi-identifier groups below k=5 on (nation, segment, balance band)",
    oracle="""
        SELECT c_nationkey,
               c_mktsegment,
               CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS bal_band,
               COUNT(*) AS group_n
        FROM customer
        GROUP BY c_nationkey, c_mktsegment, floor(c_acctbal / 1000.0)
        HAVING COUNT(*) < 5
    """,
)
def k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Privacy audit for releasable datasets: every quasi-identifier
    combination (nation, market segment, $1000 account-balance band)
    whose population is below k=5 — the groups where a released row could
    be re-identified. The standard pre-release gate for training corpora
    derived from user data; rows in these groups get suppressed or
    generalized (coarser bands) before export.

    One hash aggregate with map-side combine + HAVING — the same shape
    at any scale; the band floor is exact integer arithmetic in both
    engines (negative balances floor toward -inf in both).
    """
    cust = _t(spark, sf_dir, "customer")
    return (
        cust.groupBy(
            "c_nationkey",
            "c_mktsegment",
            F.floor(F.col("c_acctbal") / 1000.0).cast("bigint").alias("bal_band"),
        )
        .agg(F.count(F.lit(1)).alias("group_n"))
        .filter(F.col("group_n") < 5)
    )


# ---------------------------------------------------------------------------
# Exact embedding covariance (PCA prep)
# ---------------------------------------------------------------------------
@register(
    "embedding_covariance",
    doc="exact upper-triangle covariance matrix of the embedding dimensions",
    oracle=f"""
        WITH prods AS (
            SELECT u.i AS dim_i, v.j AS dim_j,
                   CAST(embedding[u.i] AS DOUBLE)
                       * CAST(embedding[v.j] AS DOUBLE) AS xy
            FROM embeddings,
                 unnest(range(1, len(embedding) + 1)) AS u(i),
                 unnest(range(u.i, len(embedding) + 1)) AS v(j)
        ),
        pair_agg AS (
            SELECT dim_i, dim_j, COUNT(*) AS n_vectors,
                   {_FOLD.format(x='xy')} AS sxy
            FROM prods GROUP BY dim_i, dim_j
        ),
        dims AS (
            SELECT t.i AS dim, CAST(embedding[t.i] AS DOUBLE) AS x
            FROM embeddings, unnest(range(1, len(embedding) + 1)) AS t(i)
        ),
        means AS (
            SELECT dim, {_FOLD.format(x='x')} AS s FROM dims GROUP BY dim
        )
        SELECT CAST(p.dim_i AS BIGINT) AS dim_i,
               CAST(p.dim_j AS BIGINT) AS dim_j,
               p.n_vectors,
               round((p.sxy - mi.s * mj.s / p.n_vectors) / p.n_vectors, 12)
                   AS cov
        FROM pair_agg p
        JOIN means mi ON mi.dim = p.dim_i
        JOIN means mj ON mj.dim = p.dim_j
    """,
)
def embedding_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PCA/whitening prep step: the exact d(d+1)/2 upper-triangle
    covariance of the embedding dimensions. Cross-products of
    FLOAT-widened doubles are EXACT (48-bit product mantissa fits a
    double), so only the summation order matters — pinned with the
    sorted-fold chain per (i,j) cell and per-dim mean. The population
    covariance closed form is one fixed IEEE expression rounded at 12 dp.

    Plan: the outer product is generated MAP-SIDE per row (nested
    array transform — no self-join of the vector table on vec_id), then
    ONE hash aggregate over d²/2 cells; the d per-dim sums broadcast
    back onto the cell table. Shuffle volume is O(n·d²) pairs — the
    inherent covariance cost — with map-side partial lists; at 100 TB
    you'd swap the fold for plain SUM (last-ulp nondeterminism) and keep
    the identical plan shape.
    """
    import os

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    # guard the degenerate empty vector: sequence(1, 0) is a DESCENDING
    # [1, 0] in Spark (not empty) and element_at(arr, 0) throws — the
    # oracle's range(1, 1) is empty, so filter to match it.
    emb = emb.filter(F.size("embedding") >= 1)
    arr = F.col("embedding")
    n_dim = F.size(arr)
    pair_structs = F.flatten(
        F.transform(
            F.sequence(F.lit(1), n_dim),
            lambda i: F.transform(
                F.sequence(i, n_dim),
                lambda j: F.struct(
                    i.cast("bigint").alias("dim_i"),
                    j.cast("bigint").alias("dim_j"),
                    (
                        F.element_at(arr, i).cast("double")
                        * F.element_at(arr, j).cast("double")
                    ).alias("xy"),
                ),
            ),
        )
    )
    prods = emb.select(F.explode(pair_structs).alias("p")).select("p.*")
    pair_agg = prods.groupBy("dim_i", "dim_j").agg(
        F.count(F.lit(1)).alias("n_vectors"), _fold("xy").alias("sxy")
    )
    dims = emb.select(
        F.posexplode(F.transform(arr, lambda x: x.cast("double"))).alias(
            "pos", "x"
        )
    ).select((F.col("pos") + 1).cast("bigint").alias("dim"), "x")
    means = dims.groupBy("dim").agg(_fold("x").alias("s"))
    mi = means.select(F.col("dim").alias("dim_i"), F.col("s").alias("si"))
    mj = means.select(F.col("dim").alias("dim_j"), F.col("s").alias("sj"))
    return (
        pair_agg.join(F.broadcast(mi), "dim_i")
        .join(F.broadcast(mj), "dim_j")
        .select(
            "dim_i",
            "dim_j",
            "n_vectors",
            F.round(
                (
                    F.col("sxy")
                    - F.col("si") * F.col("sj") / F.col("n_vectors")
                )
                / F.col("n_vectors"),
                12,
            ).alias("cov"),
        )
    )


# ---------------------------------------------------------------------------
# Zipf-law fit of the corpus vocabulary
# ---------------------------------------------------------------------------
@register(
    "zipf_fit_vocab",
    doc="log-log OLS fit of word frequency vs rank over the top-500 vocabulary",
    oracle=f"""
        WITH freq AS (
            SELECT u.w AS word, COUNT(*) AS n
            FROM documents, unnest(string_split(text, ' ')) AS u(w)
            GROUP BY u.w
        ),
        ranked AS (
            SELECT n, row_number() OVER (ORDER BY n DESC, word ASC) AS rnk
            FROM freq
        ),
        pts AS (
            SELECT round(ln(CAST(rnk AS DOUBLE)), 12) AS x,
                   round(ln(CAST(n AS DOUBLE)), 12) AS y
            FROM ranked WHERE rnk <= 500
        ),
        sums AS (
            SELECT COUNT(*) AS m,
                   {_FOLD.format(x='x')} AS sx,
                   {_FOLD.format(x='y')} AS sy,
                   {_FOLD.format(x='x * y')} AS sxy,
                   {_FOLD.format(x='x * x')} AS sxx
            FROM pts
        )
        SELECT m AS n_ranks,
               CASE WHEN m * sxx - sx * sx <> 0 THEN
                    round((m * sxy - sx * sy) / (m * sxx - sx * sx), 9)
               END AS zipf_slope,
               CASE WHEN m > 0 AND m * sxx - sx * sx <> 0 THEN
                    round((sy - (m * sxy - sx * sy) / (m * sxx - sx * sx) * sx)
                          / m, 9)
               END AS zipf_intercept
        FROM sums
    """,
)
def zipf_fit_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus health check: natural text follows Zipf's law (log-freq ≈
    intercept − slope·log-rank with slope ≈ 1); template/boilerplate or
    synthetic corpora bend the curve. OLS over the top-500
    (rank, frequency) points in log-log space. ln() is ~1-ulp across
    libm implementations, so each term rounds at 12 dp before the
    sorted-fold sums (the lang_entropy precedent); slope and intercept
    are single closed-form expressions rounded at 9.

    The rank row_number is a window over the VOCABULARY (zipf-bounded —
    millions of rows at 100 TB, not corpus-sized) after the word count's
    map-side-combined aggregate; the 500-point OLS reduce is a scalar.
    """
    docs = _t(spark, sf_dir, "documents")
    freq = (
        docs.select(F.explode(F.split("text", " ")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    ranked = freq.withColumn(
        "rnk",
        F.row_number().over(W.orderBy(F.col("n").desc(), F.col("word").asc())),
    ).filter(F.col("rnk") <= 500)
    pts = ranked.select(
        F.round(F.log(F.col("rnk").cast("double")), 12).alias("x"),
        F.round(F.log(F.col("n").cast("double")), 12).alias("y"),
    )
    sums = pts.select(
        "x", "y", (F.col("x") * F.col("y")).alias("xy"),
        (F.col("x") * F.col("x")).alias("xx"),
    ).agg(
        F.count(F.lit(1)).alias("m"),
        _fold("x").alias("sx"),
        _fold("y").alias("sy"),
        _fold("xy").alias("sxy"),
        _fold("xx").alias("sxx"),
    )
    den = F.col("m") * F.col("sxx") - F.col("sx") * F.col("sx")
    slope = (F.col("m") * F.col("sxy") - F.col("sx") * F.col("sy")) / den
    # a <=1-point (or degenerate) vocabulary has no defined fit: NULL
    # under guards mirrored in the oracle, never ANSI div/0
    return sums.select(
        F.col("m").alias("n_ranks"),
        F.when(den != 0, F.round(slope, 9)).alias("zipf_slope"),
        F.when(
            (F.col("m") > 0) & (den != 0),
            F.round((F.col("sy") - slope * F.col("sx")) / F.col("m"), 9),
        ).alias("zipf_intercept"),
    )


# ---------------------------------------------------------------------------
# Linear multi-touch attribution
# ---------------------------------------------------------------------------
@register(
    "attribution_linear",
    doc="purchase value split equally across the user's views in the prior 7 days",
    oracle="""
        WITH touches AS (
            SELECT p.event_id AS purchase_id, p.value,
                   CAST(json_extract_string(v.props, '$.k') AS INT) % 4
                       AS campaign
            FROM events p JOIN events v
              ON v.user_id = p.user_id
             AND v.ts < p.ts
             AND v.ts >= p.ts - INTERVAL 7 DAY
            WHERE p.event_type = 'purchase' AND v.event_type = 'view'
        ),
        credits AS (
            SELECT campaign,
                   round(value / COUNT(*) OVER (PARTITION BY purchase_id), 9)
                       AS credit
            FROM touches
        )
        SELECT campaign, COUNT(*) AS n_touches,
               round(list_reduce(list_prepend(0.0, list_sort(list(credit))),
                                 (a, b) -> a + b), 6) AS total_credit
        FROM credits GROUP BY campaign
    """,
)
def attribution_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear (equal-weight) multi-touch attribution — the complement of
    asof_purchase_attribution's last-touch model: each purchase's value
    is split equally across ALL the user's 'view' touchpoints in the
    preceding 7 days, then rolled up per campaign (views carry their
    campaign as props.k mod 4). Purchases with no qualifying touchpoint
    stay unattributed (inner join) in both engines.

    Per-touch credit is ONE fixed IEEE division rounded at 9; campaign
    totals use the sorted-fold chain. The range join shuffles both
    streams on user_id once; the per-purchase touch count is a window
    over the same clustering. Skew: a bot user's views×purchases blow up
    the range join — at scale, pre-cap touches per (user, week) the way
    the co-purchase basket cap does.
    """
    ev = _t(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id"),
        F.col("ts").alias("p_ts"),
        "value",
    )
    v = ev.filter(F.col("event_type") == "view").select(
        "user_id",
        F.col("ts").alias("v_ts"),
        (
            F.get_json_object("props", "$.k").cast("int") % 4
        ).alias("campaign"),
    )
    touches = p.join(
        v,
        (p["user_id"] == v["user_id"])
        & (F.col("v_ts") < F.col("p_ts"))
        & (F.col("v_ts") >= F.col("p_ts") - F.expr("INTERVAL 7 DAY")),
    ).select("purchase_id", "value", "campaign")
    n_per_purchase = F.count(F.lit(1)).over(W.partitionBy("purchase_id"))
    credits = touches.select(
        "campaign",
        F.round(F.col("value") / n_per_purchase, 9).alias("credit"),
    )
    return credits.groupBy("campaign").agg(
        F.count(F.lit(1)).alias("n_touches"),
        F.round(_fold("credit"), 6).alias("total_credit"),
    )


# ---------------------------------------------------------------------------
# Hashing-trick feature vectorization
# ---------------------------------------------------------------------------
_HASH_WORD_SPARK = "CAST(conv(substring(md5(word), 1, 10), 16, 10) AS BIGINT)"


@register(
    "feature_hash_vectorize",
    doc="signed hashing-trick bag-of-words: 64-bucket feature weights per doc",
    oracle=f"""
        WITH words AS (
            SELECT doc_id, u.w AS word
            FROM documents, unnest(string_split(text, ' ')) AS u(w)
        ),
        hashed AS (
            SELECT doc_id,
                   {_duck_hex_poly("md5(word)", 10)} % 64 AS bucket,
                   CASE WHEN ({_duck_hex_poly("md5(word)", 10)} // 64) % 2 = 0
                        THEN 1 ELSE -1 END AS sgn
            FROM words
        )
        SELECT doc_id, CAST(bucket AS BIGINT) AS bucket,
               CAST(SUM(sgn) AS BIGINT) AS weight
        FROM hashed GROUP BY doc_id, bucket
    """,
)
def feature_hash_vectorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hashing trick (Weinberger et al. 2009): project an unbounded
    vocabulary into a fixed 64-bucket feature space with a signed hash —
    no vocabulary table, no fit step, stream-friendly. The hash is the
    repo's portable md5-prefix integer (exact 40-bit value in both
    engines via the strpos polynomial on the DuckDB side); bucket =
    h mod 64, sign = bit 6. Weights are exact integer sums.

    Plan: explode → ONE hash aggregate on (doc_id, bucket) with map-side
    combine; output is at most 64 rows per doc regardless of vocabulary
    size. This is the scale story of feature hashing itself: memory is
    O(buckets), not O(vocab).
    """
    docs = _t(spark, sf_dir, "documents")
    words = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("word")
    )
    h = F.expr(_HASH_WORD_SPARK)
    return (
        words.select(
            "doc_id",
            (h % 64).cast("bigint").alias("bucket"),
            F.when((h.bitwiseAND(64)) == 0, F.lit(1))
            .otherwise(F.lit(-1))
            .alias("sgn"),
        )
        .groupBy("doc_id", "bucket")
        .agg(F.sum("sgn").cast("bigint").alias("weight"))
    )


# ---------------------------------------------------------------------------
# Common-neighbor link prediction on the co-purchase graph
# ---------------------------------------------------------------------------
_LP_DEG_CAP = 128  # middle-vertex degree cap (max observed at any test SF: 51)


@register(
    "link_prediction_common_neighbors",
    doc="top-30 unlinked part pairs by common co-purchase neighbors (hub cap 128)",
    oracle=f"""
        WITH {_EDGES_DUCK},
        arcs AS (
            SELECT pa AS s, pb AS d FROM edges
            UNION ALL SELECT pb, pa FROM edges
        ),
        mid AS (
            SELECT s FROM arcs GROUP BY s
            HAVING COUNT(*) <= {_LP_DEG_CAP}
        ),
        arcs_ok AS (SELECT a.* FROM arcs a JOIN mid USING (s)),
        cand AS (
            SELECT a.d AS pa, b.d AS pb, COUNT(*) AS common_neighbors
            FROM arcs_ok a JOIN arcs_ok b ON a.s = b.s AND a.d < b.d
            GROUP BY a.d, b.d
        )
        SELECT pa, pb, common_neighbors
        FROM cand c
        WHERE NOT EXISTS (
            SELECT 1 FROM edges e WHERE e.pa = c.pa AND e.pb = c.pb
        )
        ORDER BY common_neighbors DESC, pa ASC, pb ASC LIMIT 30
    """,
)
def link_prediction_common_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction (recommendation candidates): part pairs that are
    NOT co-purchased today but share the most co-purchase neighbors —
    the classic common-neighbors score, the strongest cheap baseline in
    the link-prediction literature. Reuses the capped, support-
    thresholded edge cache from the graph family (hot-basket guard
    included), so the two-hop join is over the pruned edge set.

    Plan: wedge generation is one self-equi-join of the arc list on the
    middle vertex (cost Σ deg²), one hash aggregate, a left-anti join
    against existing edges, and TakeOrderedAndProject for the top-30.
    Σ deg² is only bounded if no super-hub survives: middle vertices
    with degree > {cap} are dropped BEFORE the wedge join (the LSH
    hot-bucket discipline — the 10x+skew probe measured 72x wall from
    one hot vertex before the cap). The cap is far above any test-SF
    degree (max observed 51) so it never engages there, and the ORACLE
    applies the identical cap, so the query stays exact when it does.
    Dropping hub intermediaries is also statistically principled:
    common-neighbor evidence through a hub is weak (Adamic-Adar
    downweights it 1/log deg for the same reason).
    """
    edges = _edges(spark, sf_dir)
    arcs = edges.select(
        F.col("pa").alias("s"), F.col("pb").alias("d")
    ).unionAll(edges.select(F.col("pb").alias("s"), F.col("pa").alias("d")))
    mid = (
        arcs.groupBy("s")
        .agg(F.count(F.lit(1)).alias("deg"))
        .filter(F.col("deg") <= _LP_DEG_CAP)
        .select("s")
    )
    # vocabulary-sized -> broadcast (see adamic_adar's degs note)
    arcs = arcs.join(F.broadcast(mid), "s")
    a, b = arcs.alias("a"), arcs.alias("b")
    cand = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.d") < F.col("b.d")))
        .groupBy(F.col("a.d").alias("pa"), F.col("b.d").alias("pb"))
        .agg(F.count(F.lit(1)).alias("common_neighbors"))
    )
    return (
        cand.join(edges, ["pa", "pb"], "left_anti")
        .orderBy(
            F.col("common_neighbors").desc(), F.col("pa").asc(), F.col("pb").asc()
        )
        .limit(30)
    )


link_prediction_common_neighbors.__doc__ = link_prediction_common_neighbors.__doc__.format(cap=_LP_DEG_CAP)


# ---------------------------------------------------------------------------
# Exact set-similarity join via prefix filtering (PPJoin-style)
# ---------------------------------------------------------------------------
@register(
    "jaccard_prefix_filter_join",
    doc="EXACT shingle-Jaccard >= 0.8 pairs corpus-wide via prefix filtering",
    oracle=r"""
        WITH g0 AS (
            SELECT md5(text) AS h, MIN(doc_id) AS rep
            FROM documents GROUP BY md5(text)
        ),
        members AS (
            SELECT d.doc_id, g.rep
            FROM documents d JOIN g0 g ON md5(d.text) = g.h
        ),
        toks AS (
            SELECT g.rep AS doc_id, string_split_regex(d.text, '\s+') AS t
            FROM g0 g JOIN documents d ON d.doc_id = g.rep
        ),
        s AS (
            SELECT doc_id,
                   list_distinct(list_transform(
                       range(1, greatest(len(t) - 4, 1) + 1),
                       i -> array_to_string(t[i:i+4], ' '))) AS sh
            FROM toks
        ),
        -- naive ALL-PAIRS ground truth over DISTINCT texts (identical
        -- text => identical shingle set, so within-group pairs are
        -- J=1 by identity and expand below; the cross-group truth
        -- stays the independent naive join that proves the prefix
        -- filter dropped nothing)
        verified AS (
            SELECT a.doc_id AS rep_a, b.doc_id AS rep_b,
                   CAST(len(a.sh) AS BIGINT) AS ns_a,
                   CAST(len(b.sh) AS BIGINT) AS ns_b,
                   round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                         / (len(a.sh) + len(b.sh)
                            - len(list_intersect(a.sh, b.sh))), 12) AS jaccard
            FROM s a JOIN s b ON a.doc_id < b.doc_id
            WHERE 5 * len(list_intersect(a.sh, b.sh))
                  >= 4 * (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))
        ),
        cross_pairs AS (
            SELECT least(ma.doc_id, mb.doc_id) AS doc_a,
                   greatest(ma.doc_id, mb.doc_id) AS doc_b,
                   CASE WHEN ma.doc_id <= mb.doc_id THEN v.ns_a
                        ELSE v.ns_b END AS n_sh_a,
                   CASE WHEN ma.doc_id <= mb.doc_id THEN v.ns_b
                        ELSE v.ns_a END AS n_sh_b,
                   v.jaccard
            FROM verified v
            JOIN members ma ON ma.rep = v.rep_a
            JOIN members mb ON mb.rep = v.rep_b
        ),
        within AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   CAST(len(s.sh) AS BIGINT) AS n_sh_a,
                   CAST(len(s.sh) AS BIGINT) AS n_sh_b,
                   round(1.0, 12) AS jaccard
            FROM members a
            JOIN members b ON a.rep = b.rep AND a.doc_id < b.doc_id
            JOIN s ON s.doc_id = a.rep
        )
        SELECT * FROM cross_pairs UNION ALL SELECT * FROM within
    """,
)
def jaccard_prefix_filter_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT corpus-wide set-similarity self-join (Jaccard >= 4/5 on
    word-5-gram shingle sets) with PREFIX FILTERING (Chaudhuri/Xiao
    PPJoin family) instead of LSH: order every doc's shingles by global
    rarity (document frequency, rarest first), keep only the first
    n - ceil(t*n) + 1 as the prefix, and generate candidates from
    prefix-shingle collisions — two sets with Jaccard >= t MUST share a
    prefix element under any global total order, so recall is 100% by
    theorem, not probability (the full-recall exact counterpart to the
    probabilistic minhash_lsh_pairs). The threshold test is the integer
    cross-multiplication 5*|A∩B| >= 4*|A∪B| — no float boundary anywhere.
    (t=0.8 is also where prefix filtering pays: the prefix is ~(1-t)n —
    at t=0.2 the prefix degenerated toward the full set, measured 15-28 s
    at sf0.1 vs 7-12 s here; at t=0.8 the measured candidate volume is
    2,420 raw / 255 verified pairs from 250k shingle rows, so the wall
    is the corpus-wide document-frequency join + rarity window —
    inherent O(total shingles) — not the quadratic tail.)

    The DuckDB oracle is the NAIVE all-pairs join over DISTINCT texts
    (since round 12 it applies the same md5 exact-dup collapse, so the
    clean-10x clone corpus no longer makes it quadratic in clones —
    VERDICT r11 item 5), so the parity check still proves the prefix
    filter dropped nothing; the member-pair expansion is exercised by
    two independent mechanisms (Spark id-joins vs SQL per-group self-
    join) whenever exact dups exist. The collapse is what makes the op
    skew-safe: see the inline comment and SCALE.md's lsh_recall_eval
    post-mortem.

    Plan: shingle df join clusters on the shingle; the per-doc rarity
    ranking window clusters on doc_id; candidates come from the
    prefix-only self-equi-join (prefix length ~ (1-t)n, and rarest-first
    ordering makes prefix collisions scarce); exact verification runs
    only on distinct candidates. At 100 TB add the PPJoin positional
    upper-bound filter to prune candidates further — same plan shape.
    """
    from dynaledger_spark.operators.dedup import _shingles

    docs = _t(spark, sf_dir, "documents")
    # EXACT-DUP COLLAPSE first (the lsh_recall_eval redesign, found by
    # the 10x+skew probe): identical texts form md5 groups, the shingle
    # and prefix work runs on group REPRESENTATIVES only, and member
    # pairs expand from verified rep pairs at the end. Without this, a
    # 3000-dup hot cluster collides in every prefix shingle and the
    # candidate join goes past C(3000,2) WITH shingle arrays attached
    # (measured: >600 s at 10x+skew); collapsed, the cluster is one
    # representative and the expansion joins carry only ids.
    groups = docs.groupBy(F.md5("text").alias("h")).agg(
        F.min("doc_id").alias("rep")
    )
    members = docs.select("doc_id", F.md5("text").alias("h")).join(
        groups, "h"
    ).select("doc_id", "rep")
    rep_docs = docs.join(groups.select("rep"), docs.doc_id == F.col("rep")).select(
        F.col("rep").alias("doc_id"), "text"
    )
    shingled = rep_docs.select(
        "doc_id", _shingles(F.col("text"), 5).alias("sh")
    )
    ex = shingled.select(
        "doc_id", F.size("sh").alias("n"), F.explode("sh").alias("g")
    )
    dfreq = ex.groupBy("g").agg(F.count(F.lit(1)).alias("df"))
    w = W.partitionBy("doc_id").orderBy("df", "g")
    # prefix length for Jaccard t = 4/5: n - ceil(4n/5) + 1, all-integer
    prefix_len = F.col("n") - F.floor((4 * F.col("n") + 4) / 5).cast("long") + 1
    # df is vocabulary-sized -> broadcast, so the corpus-wide shingle
    # stream never shuffles on g for the lookup (frequency-floor the
    # table at 100 TB, the unigram-LM treatment, to keep it so)
    prefix = (
        ex.join(F.broadcast(dfreq), "g")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= prefix_len)
        .select("doc_id", "n", "g", "rn")
    )
    # PPJoin length + positional filters at t = 4/5, exact in integers —
    # the "at 100 TB add the PPJoin positional upper-bound filter" note
    # made real (the lsh_recall_eval r13 redesign: J >= 4/5 forces
    # 5*min(n) >= 4*max(n) and, via the first shared prefix gram in the
    # shared global (df, g) rarity order, I <= 1 + min(n_a - rn_a,
    # n_b - rn_b) while 9I >= 4(n_a + n_b) is required — pairs failing
    # either can never verify, so the verified output is bit-identical).
    a, b = prefix.alias("a"), prefix.alias("b")
    cand_rows = a.join(
        b,
        (F.col("a.g") == F.col("b.g"))
        & (F.col("a.doc_id") < F.col("b.doc_id"))
        & (5 * F.least("a.n", "b.n") >= 4 * F.greatest("a.n", "b.n")),
    ).select(
        F.col("a.doc_id").alias("rep_a"),
        F.col("b.doc_id").alias("rep_b"),
        F.col("a.n").alias("na"),
        F.col("b.n").alias("nb"),
        F.struct(F.col("a.rn").alias("rna"), F.col("b.rn").alias("rnb")).alias("pos"),
    )
    cands = (
        cand_rows.groupBy("rep_a", "rep_b")
        .agg(F.min("na").alias("na"), F.min("nb").alias("nb"),
             F.min("pos").alias("mn"))
        .filter(
            9 * (1 + F.least(F.col("na") - F.col("mn.rna"),
                             F.col("nb") - F.col("mn.rnb")))
            >= 4 * (F.col("na") + F.col("nb"))
        )
        .select("rep_a", "rep_b")
    )
    sa = shingled.select(F.col("doc_id").alias("rep_a"), F.col("sh").alias("sh_a"))
    sb = shingled.select(F.col("doc_id").alias("rep_b"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    verified_cross = (
        cands.join(sa, "rep_a")
        .join(sb, "rep_b")
        .filter(5 * inter >= 4 * union)
        .select(
            "rep_a",
            "rep_b",
            F.size("sh_a").cast("bigint").alias("ns_a"),
            F.size("sh_b").cast("bigint").alias("ns_b"),
            F.round(inter.cast("double") / union, 12).alias("jaccard"),
        )
    )
    # expand rep pairs to member pairs (ids only — no shingle arrays)
    ma = members.select(F.col("doc_id").alias("id_a"), F.col("rep").alias("rep_a"))
    mb = members.select(F.col("doc_id").alias("id_b"), F.col("rep").alias("rep_b"))
    cross = (
        verified_cross.join(ma, "rep_a")
        .join(mb, "rep_b")
        .select(
            F.least("id_a", "id_b").alias("doc_a"),
            F.greatest("id_a", "id_b").alias("doc_b"),
            # stats follow the doc order: swap when the member ids flipped
            F.when(F.col("id_a") <= F.col("id_b"), F.col("ns_a"))
            .otherwise(F.col("ns_b"))
            .alias("n_sh_a"),
            F.when(F.col("id_a") <= F.col("id_b"), F.col("ns_b"))
            .otherwise(F.col("ns_a"))
            .alias("n_sh_b"),
            "jaccard",
        )
    )
    # within-group pairs: identical texts, Jaccard exactly 1
    g1 = members.select("rep", F.col("doc_id").alias("id_a"))
    g2 = members.select("rep", F.col("doc_id").alias("id_b"))
    n_sh = shingled.select(
        F.col("doc_id").alias("rep"), F.size("sh").cast("bigint").alias("ns")
    )
    within = (
        g1.join(g2, "rep")
        .filter(F.col("id_a") < F.col("id_b"))
        .join(n_sh, "rep")
        .select(
            F.col("id_a").alias("doc_a"),
            F.col("id_b").alias("doc_b"),
            F.col("ns").alias("n_sh_a"),
            F.col("ns").alias("n_sh_b"),
            F.round(F.lit(1.0), 12).alias("jaccard"),
        )
    )
    return cross.unionByName(within)


# ---------------------------------------------------------------------------
# Deterministic contrastive triplet mining — round 5
# ---------------------------------------------------------------------------
@register(
    "triplet_sample_contrastive",
    doc="deterministic (anchor, positive, negative) triplets for contrastive training",
    oracle="""
        WITH members AS (
            SELECT vec_id, label,
                   row_number() OVER (PARTITION BY label ORDER BY vec_id) AS rn
            FROM embeddings
        ),
        lcnt AS (SELECT label, COUNT(*) AS cnt FROM members GROUP BY label),
        lrank AS (
            SELECT label, cnt,
                   row_number() OVER (ORDER BY label) AS lr,
                   COUNT(*) OVER () AS nl
            FROM lcnt
        ),
        anchors AS (
            SELECT m.vec_id AS anchor_id, m.label AS anchor_label,
                   COALESCE(lead(m.vec_id) OVER (PARTITION BY m.label ORDER BY m.vec_id),
                            MIN(m.vec_id) OVER (PARTITION BY m.label)) AS pos_id
            FROM members m
        ),
        a_filtered AS (
            SELECT * FROM anchors
            WHERE anchor_id % 5 = 0 AND pos_id <> anchor_id
        ),
        picked AS (
            SELECT a.anchor_id, a.anchor_label, a.pos_id,
                   ((r.lr - 1 + 1 + CAST((a.anchor_id * 2654435761) % 4294967296
                                         % (r.nl - 1) AS BIGINT)) % r.nl) + 1
                       AS neg_lr,
                   CAST((a.anchor_id * 1103515245) % 4294967296 AS BIGINT) AS h2
            FROM a_filtered a JOIN lrank r ON r.label = a.anchor_label
        )
        SELECT p.anchor_id, p.anchor_label, p.pos_id,
               nm.vec_id AS neg_id, nm.label AS neg_label
        FROM picked p
        JOIN lrank nr ON nr.lr = p.neg_lr
        JOIN members nm ON nm.label = nr.label
                       AND nm.rn = 1 + (p.h2 % nr.cnt)
        ORDER BY p.anchor_id
    """,
)
def triplet_sample_contrastive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triplet mining for contrastive/metric learning (the training-data
    op behind embedding fine-tuning): every 5th vector anchors a triplet
    with a same-label positive (the next member by vec_id, wrapping) and
    a hash-chosen different-label negative (label offset and member rank
    both from the portable multiplicative hash, so the assignment is
    byte-reproducible with no RNG — rerunning the pipeline yields the
    same triplets, which is what makes training runs diffable).

    Plan: one label window for ranks, the label directory (≤|labels|
    rows) broadcasts, and the negative lookup is one hash join on
    (label, rank). No shuffle touches the corpus more than once.
    """
    from dynaledger_spark.plans.queries_sampling import _H1, _H2, _M32, _mhash

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet")).select(
        "vec_id", "label"
    )
    wlab = W.partitionBy("label").orderBy("vec_id")
    members = emb.select(
        "vec_id", "label", F.row_number().over(wlab).alias("rn")
    )
    lcnt = members.groupBy("label").agg(F.count(F.lit(1)).alias("cnt"))
    lrank = lcnt.select(
        "label",
        "cnt",
        F.row_number().over(W.orderBy("label")).alias("lr"),
        F.count(F.lit(1)).over(W.partitionBy()).alias("nl"),
    )
    anchors = members.select(
        F.col("vec_id").alias("anchor_id"),
        F.col("label").alias("anchor_label"),
        F.coalesce(
            F.lead("vec_id").over(wlab), F.min("vec_id").over(W.partitionBy("label"))
        ).alias("pos_id"),
    ).filter((F.col("anchor_id") % 5 == 0) & (F.col("pos_id") != F.col("anchor_id")))
    picked = anchors.join(
        F.broadcast(lrank.withColumnRenamed("label", "anchor_label")),
        "anchor_label",
    ).select(
        "anchor_id",
        "anchor_label",
        "pos_id",
        (
            (
                F.col("lr")
                - 1
                + 1
                + _mhash(F.col("anchor_id"), _H1) % (F.col("nl") - 1)
            )
            % F.col("nl")
            + 1
        ).alias("neg_lr"),
        _mhash(F.col("anchor_id"), _H2).alias("h2"),
    )
    neg_dir = F.broadcast(
        lrank.select(F.col("lr").alias("neg_lr"), F.col("label").alias("neg_label"), F.col("cnt").alias("neg_cnt"))
    )
    return (
        picked.join(neg_dir, "neg_lr")
        .join(
            members.select(
                F.col("label").alias("m_label"),
                F.col("rn").alias("neg_rn"),
                F.col("vec_id").alias("neg_id"),
            ),
            (F.col("m_label") == F.col("neg_label"))
            & (F.col("neg_rn") == 1 + F.col("h2") % F.col("neg_cnt")),
        )
        .select("anchor_id", "anchor_label", "pos_id", "neg_id", "neg_label")
        .orderBy("anchor_id")
    )


# ---------------------------------------------------------------------------
# Adamic-Adar link prediction (round 7)
# ---------------------------------------------------------------------------
@register(
    "adamic_adar_link_prediction",
    doc=f"top-30 unlinked part pairs by Adamic-Adar score (1/ln deg per common neighbor)",
    oracle=f"""
        WITH {_EDGES_DUCK},
        arcs AS (
            SELECT pa AS s, pb AS d FROM edges
            UNION ALL SELECT pb, pa FROM edges
        ),
        degs AS (
            SELECT s, CAST(COUNT(*) AS BIGINT) AS deg FROM arcs GROUP BY s
        ),
        arcs_ok AS (
            SELECT a.s, a.d, g.deg FROM arcs a JOIN degs g USING (s)
            WHERE g.deg BETWEEN 2 AND {_LP_DEG_CAP}
        ),
        cand AS (
            SELECT a.d AS pa, b.d AS pb,
                   CAST(COUNT(*) AS BIGINT) AS common_neighbors,
                   CAST(SUM(CAST(round(
                       round(1.0 / ln(CAST(a.deg AS DOUBLE)), 12)
                       * 1000000000000.0) AS BIGINT)) AS BIGINT) AS aa_scaled
            FROM arcs_ok a JOIN arcs_ok b ON a.s = b.s AND a.d < b.d
            GROUP BY a.d, b.d
        )
        SELECT pa, pb, common_neighbors,
               round(CAST(aa_scaled AS DOUBLE) / 1000000000000.0, 9)
                   AS aa_score
        FROM cand c
        WHERE NOT EXISTS (
            SELECT 1 FROM edges e WHERE e.pa = c.pa AND e.pb = c.pb
        )
        ORDER BY aa_score DESC, pa ASC, pb ASC LIMIT 30
    """,
)
def adamic_adar_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adamic-Adar link prediction (Adamic & Adar 2003, "Friends and
    neighbors on the Web") — the principled upgrade to raw common-
    neighbor counting: each shared neighbor z contributes 1/ln(deg(z)),
    so evidence through a promiscuous hub counts for little and a rare
    shared neighbor counts for a lot. This is the weighting that
    justifies the hub CAP in link_prediction_common_neighbors; here the
    downweighting is explicit and the cap only bounds the wedge join's
    worst case (deg in [2, {cap}] — a degree-1 vertex cannot be
    a common neighbor, and ln(1)=0 would divide by zero). Per-neighbor
    terms are FIXED-POINT integers: round(1/ln deg, 12) has twelve
    decimals, so scaling by 1e12 gives an exact BIGINT (every product
    is far below 2^53, so the double arithmetic is exact in both
    engines) — the decimal-cents discipline applied to AA weights. The
    per-pair score is then an order-independent integer SUM, descaled
    and rounded at 9 only at the end.

    Plan: degree table broadcast onto arcs (vocabulary-sized), one
    wedge self-join on the middle vertex, then ONE hash aggregate
    carrying the count and the integer score sum — both map-side
    combinable, exactly link_prediction_common_neighbors' shape. (The
    first draft folded one sorted-array element PER WEDGE: the
    10x+skew probe measured 33.5x over 73M wedges, and a (pa,pb,deg)
    pre-aggregate didn't help because wedge pairs are almost all
    distinct — the fixed-point integer sum is what restores the
    single-exchange shape.) Anti join against existing edges,
    TakeOrderedAndProject(30).
    reference: SURVEY §2.11 (graph tier).
    """
    edges = _edges(spark, sf_dir)
    arcs = edges.select(
        F.col("pa").alias("s"), F.col("pb").alias("d")
    ).unionAll(edges.select(F.col("pb").alias("s"), F.col("pa").alias("d")))
    degs = arcs.groupBy("s").agg(F.count(F.lit(1)).cast("bigint").alias("deg"))
    # degs is vocabulary-sized (one row per part) -> broadcast, so the
    # arc stream never shuffles for the degree lookup (the dfreq
    # precedent in jaccard_prefix_filter_join). The fixed-point term is
    # computed per ARC (1.4M rows at the probe), not per wedge (73M):
    # the wedge join then just carries the ready-made integer.
    degs_ok = F.broadcast(
        degs.filter((F.col("deg") >= 2) & (F.col("deg") <= _LP_DEG_CAP))
    )
    term_scaled = F.round(
        F.round(1.0 / F.log(F.col("deg").cast("double")), 12)
        * 1000000000000.0,
        0,
    ).cast("bigint")
    # both join sides are the IDENTICAL subplan so the self-join reuses
    # one exchange (ReusedExchange) instead of sorting the arc stream
    # twice — the b side's ts column is projected away after the join
    arcs_ok = arcs.join(degs_ok, "s").select("s", "d", term_scaled.alias("ts"))
    a, b = arcs_ok.alias("a"), arcs_ok.alias("b")
    cand = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.d") < F.col("b.d")))
        .select(
            F.col("a.d").alias("pa"), F.col("b.d").alias("pb"), F.col("a.ts").alias("ts"),
        )
        .groupBy("pa", "pb")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("common_neighbors"),
            F.sum("ts").cast("bigint").alias("aa_scaled"),
        )
    )
    return (
        cand.join(_edges(spark, sf_dir), ["pa", "pb"], "left_anti")
        .select(
            "pa", "pb", "common_neighbors",
            F.round(
                F.col("aa_scaled").cast("double") / 1000000000000.0, 9
            ).alias("aa_score"),
        )
        .orderBy(F.col("aa_score").desc(), F.col("pa").asc(), F.col("pb").asc())
        .limit(30)
    )


adamic_adar_link_prediction.__doc__ = adamic_adar_link_prediction.__doc__.format(cap=_LP_DEG_CAP)
