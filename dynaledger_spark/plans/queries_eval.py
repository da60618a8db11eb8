"""Corpus- and model-evaluation statistics (round-4, batch 6).

Three evaluation staples a data/ML platform runs after the pipeline
families already in the registry:

* PMI collocations — the corpus-linguistics ranking of word pairs that
  co-occur beyond chance (the step after raw bigram counts,
  ngram_top_bigrams);
* clustering agreement vs gold labels — purity, Rand index and
  ADJUSTED Rand index of the fixed-centroid assignment
  (centroid_assign_fixed) against the embeddings' gold labels, in
  pure pair-counting integer combinatorics;
* per-dimension mutual information — MI(sign of dim d; label) for every
  embedding dimension, the filter-method feature-selection score.

Float discipline: counts and pair-combinatorics stay exact integers
(DECIMAL(38,0) / HUGEINT products); ln() of exact-integer ratios rounds
at 12 (lang_entropy precedent); per-group folds are sorted; final
ratios round at 9.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from dynaledger_spark.plans.registry import register
from dynaledger_spark.plans.queries_mlprep import _FOLD, _fold
from dynaledger_spark.plans.queries_vector import (
    _CENT_N,
    _centroids,
    _duck_sqdist,
    _emb,
)


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    from dynaledger_spark.catalog import read_table

    return read_table(spark, sf_dir, name)


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
# Clustering agreement vs gold labels: purity, Rand index, adjusted Rand
# ---------------------------------------------------------------------------
def _assign_cte() -> str:
    """The centroid_assign_fixed assignment as a reusable CTE body."""
    cents = _centroids()
    d_exprs = ",\n                   ".join(
        f"{_duck_sqdist('embedding', c)} AS d{i}" for i, c in enumerate(cents)
    )
    least = "least(" + ", ".join(f"d{i}" for i in range(_CENT_N)) + ")"
    chain = (
        "CASE "
        + " ".join(f"WHEN d{i} = m THEN {i}" for i in range(_CENT_N))
        + " END"
    )
    return f"""
        scored AS (
            SELECT vec_id, label,
                   {d_exprs}
            FROM embeddings
        ),
        assigned AS (
            SELECT vec_id, label, {chain} AS cell
            FROM (SELECT *, {least} AS m FROM scored)
        )"""


@register(
    "clustering_eval_ari",
    doc="purity, Rand index and adjusted Rand index of the fixed-centroid clustering vs gold labels",
    oracle=None,  # assembled below (needs the centroid literals)
)
def clustering_eval_ari(spark: SparkSession, sf_dir: str) -> DataFrame:
    """External clustering evaluation (Hubert & Arabie 1985): how well
    do the 8 fixed-centroid cells (centroid_assign_fixed's assignment)
    recover the 10 gold labels? Purity, Rand index and ADJUSTED Rand
    index from the contingency table — every quantity is pair-counting
    integer combinatorics (C(n,2) products as DECIMAL(38,0) here /
    HUGEINT in the oracle; ARI cleared of fractions by cross-
    multiplying with C(N,2)), so the only floats are three final
    divisions rounded at 9.

    Plan: one map-side distance/argmin expression tree (no join — the
    centroids are literals), ONE hash aggregate to the ≤ 8×10
    contingency table, and everything after is driver-scale arithmetic
    on broadcast scalars. The shape survives any corpus size: the
    contingency table is |cells|×|labels| regardless of N.
    """
    emb = _emb(spark, sf_dir)
    cents = _centroids()
    e = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    dists = [
        F.aggregate(
            F.zip_with(
                e,
                F.array(*[F.lit(float(v)) for v in c]),
                lambda x, y: (x - y) * (x - y),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias(f"d{i}")
        for i, c in enumerate(cents)
    ]
    scored = emb.select("label", *dists)
    least = F.least(*[F.col(f"d{i}") for i in range(_CENT_N)])
    assign = F.lit(None).cast("int")
    for i in reversed(range(_CENT_N)):
        assign = F.when(F.col(f"d{i}") == least, F.lit(i)).otherwise(assign)
    cont = (
        scored.select(assign.alias("cell"), "label")
        .groupBy("cell", "label")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    big = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    comb2 = lambda c: (big(c) * (big(c) - 1)) / 2  # noqa: E731
    cells = cont.groupBy("cell").agg(
        F.sum("n").alias("a"), F.max("n").alias("maj")
    )
    labels = cont.groupBy("label").agg(F.sum("n").alias("b"))
    stats = (
        cont.agg(
            F.sum("n").alias("n_total"),
            F.sum(comb2("n")).alias("sum_comb"),
        )
        .crossJoin(
            F.broadcast(
                cells.agg(
                    F.sum(comb2("a")).alias("sum_a"),
                    F.sum("maj").alias("sum_maj"),
                    F.count(F.lit(1)).alias("n_cells"),
                )
            )
        )
        .crossJoin(F.broadcast(labels.agg(F.sum(comb2("b")).alias("sum_b"))))
    )
    comb_n = (big("n_total") * (big("n_total") - 1)) / 2
    ri_num = comb_n + 2 * F.col("sum_comb") - F.col("sum_a") - F.col("sum_b")
    ari_num = 2 * (comb_n * F.col("sum_comb") - F.col("sum_a") * F.col("sum_b"))
    ari_den = comb_n * (F.col("sum_a") + F.col("sum_b")) - 2 * F.col(
        "sum_a"
    ) * F.col("sum_b")
    return stats.select(
        F.col("n_total").cast("bigint").alias("n_vectors"),
        F.col("n_cells").cast("bigint").alias("n_cells"),
        F.round(F.col("sum_maj").cast("double") / F.col("n_total"), 9).alias(
            "purity"
        ),
        F.round(ri_num.cast("double") / comb_n.cast("double"), 9).alias(
            "rand_index"
        ),
        F.round(ari_num.cast("double") / ari_den.cast("double"), 9).alias("ari"),
    )


def _clustering_eval_oracle() -> str:
    return f"""
        WITH {_assign_cte()},
        cont AS (
            SELECT cell, label, COUNT(*) AS n FROM assigned GROUP BY 1, 2
        ),
        cells AS (
            SELECT cell, SUM(n) AS a, MAX(n) AS maj FROM cont GROUP BY 1
        ),
        labels AS (
            SELECT label, SUM(n) AS b FROM cont GROUP BY 1
        ),
        s AS (
            SELECT (SELECT SUM(n) FROM cont) AS n_total,
                   (SELECT SUM(CAST(n AS HUGEINT) * (n - 1) // 2) FROM cont)
                       AS sum_comb,
                   (SELECT SUM(CAST(a AS HUGEINT) * (a - 1) // 2) FROM cells)
                       AS sum_a,
                   (SELECT SUM(maj) FROM cells) AS sum_maj,
                   (SELECT COUNT(*) FROM cells) AS n_cells,
                   (SELECT SUM(CAST(b AS HUGEINT) * (b - 1) // 2) FROM labels)
                       AS sum_b
        )
        SELECT CAST(n_total AS BIGINT) AS n_vectors,
               CAST(n_cells AS BIGINT) AS n_cells,
               round(CAST(sum_maj AS DOUBLE) / n_total, 9) AS purity,
               round(CAST(comb_n + 2 * sum_comb - sum_a - sum_b AS DOUBLE)
                     / CAST(comb_n AS DOUBLE), 9) AS rand_index,
               round(CAST(2 * (comb_n * sum_comb - sum_a * sum_b) AS DOUBLE)
                     / CAST(comb_n * (sum_a + sum_b) - 2 * sum_a * sum_b
                            AS DOUBLE), 9) AS ari
        FROM (
            SELECT *, CAST(n_total AS HUGEINT) * (n_total - 1) // 2 AS comb_n
            FROM s
        )
    """


# ---------------------------------------------------------------------------
# Per-dimension mutual information: MI(sign of dim; label)
# ---------------------------------------------------------------------------
@register(
    "feature_mi_by_dim",
    doc="mutual information between each embedding dimension's sign and the gold label",
    oracle=f"""
        WITH obs AS (
            SELECT CAST(u.i AS INT) AS dim,
                   CAST(embedding[u.i + 1] AS DOUBLE) >= 0 AS pos,
                   label
            FROM embeddings, unnest(range(0, len(embedding))) AS u(i)
        ),
        joint AS (
            SELECT dim, pos, label, COUNT(*) AS n_sl FROM obs GROUP BY 1, 2, 3
        ),
        margins_s AS (
            SELECT dim, pos, SUM(n_sl) AS n_s FROM joint GROUP BY 1, 2
        ),
        margins_l AS (
            SELECT label, COUNT(*) AS n_l FROM embeddings GROUP BY 1
        ),
        tot AS (SELECT COUNT(*) AS n FROM embeddings),
        terms AS (
            SELECT j.dim,
                   j.n_sl * round(ln(CAST(j.n_sl * t.n AS DOUBLE)
                                     / (CAST(ms.n_s AS DOUBLE) * ml.n_l)), 12)
                       AS term
            FROM joint j
            JOIN margins_s ms ON ms.dim = j.dim AND ms.pos = j.pos
            JOIN margins_l ml ON ml.label = j.label
            CROSS JOIN tot t
        )
        SELECT dim,
               round({_FOLD.format(x='term')}
                     / (SELECT n FROM tot), 9) AS mi
        FROM terms GROUP BY dim
    """,
)
def feature_mi_by_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filter-method feature selection: MI(sign(x_d); label) scores how
    much each embedding dimension's sign tells you about the gold
    label — the screening step before training a probe on a subset of
    dimensions. MI = (1/N)·Σ n_sl·ln(N·n_sl/(n_s·n_l)): the ln argument
    is an exact integer ratio (one double division), rounded at 12;
    each term is exact-int × pinned-double; the per-dim fold is sorted;
    the final /N rounds at 9. Zero-count (s,l) combinations contribute
    nothing and are naturally absent from the joint table.

    Plan: one ×64 dimension explode (map-side, no shuffle) into ONE
    hash aggregate on (dim, sign, label) — at most 64·2·|labels| rows
    regardless of corpus size; margins and the scalar total broadcast
    back. The explode is the cost: 64× rows through a partial
    aggregate that collapses immediately. At 100 TB you'd fuse the
    sign extraction into the scan projection (it already is — only
    `embedding` and `label` are read).
    """
    emb = _emb(spark, sf_dir)
    obs = emb.select(
        "label", F.posexplode(F.col("embedding")).alias("dim", "x")
    ).select("label", "dim", (F.col("x").cast("double") >= 0).alias("pos"))
    joint = obs.groupBy("dim", "pos", "label").agg(F.count(F.lit(1)).alias("n_sl"))
    margins_s = joint.groupBy("dim", "pos").agg(F.sum("n_sl").alias("n_s"))
    margins_l = emb.groupBy("label").agg(F.count(F.lit(1)).alias("n_l"))
    tot = emb.agg(F.count(F.lit(1)).alias("n"))
    terms = (
        joint.join(F.broadcast(margins_s), ["dim", "pos"])
        .join(F.broadcast(margins_l), "label")
        .crossJoin(F.broadcast(tot))
        .select(
            "dim",
            (
                F.col("n_sl")
                * F.round(
                    F.log(
                        (F.col("n_sl") * F.col("n")).cast("double")
                        / (F.col("n_s").cast("double") * F.col("n_l"))
                    ),
                    12,
                )
            ).alias("term"),
            "n",
        )
    )
    return terms.groupBy("dim").agg(
        F.round(_fold("term") / F.first("n"), 9).alias("mi")
    )


# ---------------------------------------------------------------------------
# Markov behavioral anomaly score: per-user mean transition log-likelihood
# ---------------------------------------------------------------------------
@register(
    "markov_sequence_score",
    doc="per-user mean log-likelihood of the event-type sequence under the corpus transition MLE",
    oracle=f"""
        WITH seq AS (
            SELECT user_id, event_type AS cur,
                   lag(event_type) OVER (PARTITION BY user_id
                                         ORDER BY ts, event_id) AS prev
            FROM events
        ),
        pairs AS (
            SELECT user_id, prev, cur, COUNT(*) AS n
            FROM seq WHERE prev IS NOT NULL GROUP BY 1, 2, 3
        ),
        trans AS (
            SELECT prev, cur, SUM(n) AS n_ab FROM pairs GROUP BY 1, 2
        ),
        margins AS (
            SELECT prev, SUM(n_ab) AS n_a FROM trans GROUP BY 1
        ),
        scored AS (
            SELECT p.user_id, p.n,
                   p.n * round(ln(CAST(t.n_ab AS DOUBLE) / m.n_a), 12) AS term
            FROM pairs p
            JOIN trans t ON t.prev = p.prev AND t.cur = p.cur
            JOIN margins m ON m.prev = p.prev
        )
        SELECT user_id,
               CAST(SUM(n) AS BIGINT) AS n_transitions,
               round({_FOLD.format(x='term')}
                     / SUM(n), 9) AS avg_loglik
        FROM scored GROUP BY user_id
    """,
)
def markov_sequence_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral anomaly scoring: each user's event-type sequence is
    scored by the corpus first-order Markov MLE — mean ln P(cur|prev)
    over their transitions. Users whose flows are improbable under the
    crowd's transition matrix (bots, broken clients) score low; the
    complement of event_transition_matrix, which reports the matrix
    itself. ln() takes an exact integer ratio (n_ab/n_a) rounded at
    12; each per-user term is count × pinned-double (exact); per-user
    folds are sorted; the final mean rounds at 9.

    Plan: the per-(user, prev, cur) COUNT collapses the corpus before
    any scoring — a user contributes at most |types|² rows downstream,
    so the per-user fold is bounded at 25 terms no matter how hot the
    key (the segmented-EWMA lesson applied at design time, not
    retrofitted). The pair stream pays its user_id window exchange
    once and feeds its two aggregate consumers; the
    transition matrix and margins come back as broadcasts, so the
    corpus-sized stream never joins by shuffle. A hot user costs one
    sorted run in the lag window — per-row state, no arrays anywhere.
    """
    ev = _t(spark, sf_dir, "events")
    w = F.lag("cur").over(W.partitionBy("user_id").orderBy("ts", "event_id"))
    pairs = (
        ev.select("user_id", "ts", "event_id", F.col("event_type").alias("cur"))
        .withColumn("prev", w)
        .filter(F.col("prev").isNotNull())
        .groupBy("user_id", "prev", "cur")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    trans = pairs.groupBy("prev", "cur").agg(F.sum("n").alias("n_ab"))
    margins = trans.groupBy("prev").agg(F.sum("n_ab").alias("n_a"))
    scored = (
        pairs.join(F.broadcast(trans), ["prev", "cur"])
        .join(F.broadcast(margins), "prev")
        .select(
            "user_id",
            "n",
            (
                F.col("n")
                * F.round(
                    F.log(F.col("n_ab").cast("double") / F.col("n_a")), 12
                )
            ).alias("term"),
        )
    )
    return scored.groupBy("user_id").agg(
        F.sum("n").cast("bigint").alias("n_transitions"),
        F.round(_fold("term") / F.sum("n"), 9).alias("avg_loglik"),
    )


# attach the assembled oracle (kept out of the decorator so the literal
# block stays readable)
from dynaledger_spark.plans.registry import QUERY_REGISTRY as _QR  # noqa: E402

_QR["clustering_eval_ari"].oracle = _clustering_eval_oracle()


# ---------------------------------------------------------------------------
# Simplified (centroid-based) silhouette score — round 5
# ---------------------------------------------------------------------------
@register(
    "silhouette_fixed_centroids",
    doc="per-cell simplified silhouette of the fixed-centroid clustering",
    oracle=None,  # assembled below (needs the centroid literals)
)
def silhouette_fixed_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Internal clustering quality to complement the external ARI: the
    simplified silhouette (Hruschka et al.) replaces the O(N²) pairwise
    form with centroid distances — a = distance to the assigned
    centroid, b = distance to the nearest OTHER centroid, s = (b−a)/
    max(a,b) — which is the only silhouette that scales (map-side
    expression tree, no pairwise join). The 8 squared distances are the
    same sequential zip_with folds as clustering_eval_ari (bit-identical
    across engines); a and b are the two smallest after an array sort;
    per-vector s rounds at 9, and the per-cell mean goes through a
    DECIMAL(27,9) accumulator so combine order can't move it.

    Plan: zero joins (centroid literals), one hash aggregate to ≤8
    rows. Survives any corpus size unchanged.
    """
    emb = _emb(spark, sf_dir)
    cents = _centroids()
    e = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    dists = [
        F.aggregate(
            F.zip_with(
                e,
                F.array(*[F.lit(float(v)) for v in c]),
                lambda x, y: (x - y) * (x - y),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias(f"d{i}")
        for i, c in enumerate(cents)
    ]
    scored = emb.select("vec_id", *dists)
    least = F.least(*[F.col(f"d{i}") for i in range(_CENT_N)])
    assign = F.lit(None).cast("int")
    for i in reversed(range(_CENT_N)):
        assign = F.when(F.col(f"d{i}") == least, F.lit(i)).otherwise(assign)
    arr = F.array_sort(F.array(*[F.col(f"d{i}") for i in range(_CENT_N)]))
    a = F.sqrt(arr[0])
    b = F.sqrt(arr[1])
    s = F.round((b - a) / F.greatest(a, b), 9)
    per_vec = scored.select(assign.alias("cell"), s.alias("s"))
    return (
        per_vec.groupBy("cell")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.round(
                F.sum(F.col("s").cast("decimal(27,9)")).cast("double")
                / F.count(F.lit(1)),
                9,
            ).alias("mean_silhouette"),
        )
        .orderBy("cell")
    )


def _silhouette_oracle() -> str:
    cents = _centroids()
    d_exprs = ",\n                   ".join(
        f"{_duck_sqdist('embedding', c)} AS d{i}" for i, c in enumerate(cents)
    )
    least = "least(" + ", ".join(f"d{i}" for i in range(_CENT_N)) + ")"
    chain = (
        "CASE "
        + " ".join(f"WHEN d{i} = m THEN {i}" for i in range(_CENT_N))
        + " END"
    )
    dlist = "[" + ", ".join(f"d{i}" for i in range(_CENT_N)) + "]"
    return f"""
        WITH scored AS (
            SELECT vec_id,
                   {d_exprs}
            FROM embeddings
        ),
        pv AS (
            SELECT {chain} AS cell,
                   round((sqrt(srt[2]) - sqrt(srt[1]))
                         / greatest(sqrt(srt[1]), sqrt(srt[2])), 9) AS s
            FROM (SELECT *, {least} AS m, list_sort({dlist}) AS srt FROM scored)
        )
        SELECT cell,
               CAST(COUNT(*) AS BIGINT) AS n,
               round(CAST(SUM(CAST(s AS DECIMAL(27,9))) AS DOUBLE)
                     / COUNT(*), 9) AS mean_silhouette
        FROM pv GROUP BY cell ORDER BY cell
    """


_QR["silhouette_fixed_centroids"].oracle = _silhouette_oracle()


# ---------------------------------------------------------------------------
# Per-label precision/recall/F1 of the majority-mapped clustering
# ---------------------------------------------------------------------------
@register(
    "cluster_majority_prf",
    doc="per-gold-label precision/recall/F1 of the cell→majority-label classifier",
    oracle=None,  # assembled below (needs the centroid literals)
)
def cluster_majority_prf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The confusion-matrix report card for the fixed-centroid
    clustering turned classifier: each of the 8 cells predicts its
    majority gold label (smallest label wins frequency ties), and
    each of the 10 gold labels gets precision, recall and F1. F1 is
    computed as 2·tp/(pred+actual) directly from the integer counts —
    algebraically equal to the harmonic mean but avoids composing two
    already-rounded floats. Labels no cell predicts (8 cells < 10
    labels forces at least two) carry NULL precision and zero F1.

    Plan: the same single-pass argmin + one contingency aggregate as
    clustering_eval_ari; everything downstream operates on the ≤ 80-row
    contingency table (broadcast joins).
    """
    emb = _emb(spark, sf_dir)
    cents = _centroids()
    e = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    dists = [
        F.aggregate(
            F.zip_with(
                e,
                F.array(*[F.lit(float(v)) for v in c]),
                lambda x, y: (x - y) * (x - y),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias(f"d{i}")
        for i, c in enumerate(cents)
    ]
    scored = emb.select("label", *dists)
    least = F.least(*[F.col(f"d{i}") for i in range(_CENT_N)])
    assign = F.lit(None).cast("int")
    for i in reversed(range(_CENT_N)):
        assign = F.when(F.col(f"d{i}") == least, F.lit(i)).otherwise(assign)
    cont = (
        scored.select(assign.alias("cell"), "label")
        .groupBy("cell", "label")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    wmaj = W.partitionBy("cell").orderBy(F.col("n").desc(), "label")
    maj = (
        cont.withColumn("rn", F.row_number().over(wmaj))
        .filter(F.col("rn") == 1)
        .select("cell", F.col("label").alias("pred_label"))
    )
    pred = (
        cont.join(F.broadcast(maj), "cell")
        .groupBy("pred_label")
        .agg(
            F.sum("n").alias("n_predicted"),
            F.sum(
                F.when(F.col("label") == F.col("pred_label"), F.col("n")).otherwise(0)
            ).alias("tp"),
        )
    )
    act = cont.groupBy("label").agg(F.sum("n").alias("n_actual"))
    joined = act.join(
        F.broadcast(pred), act.label == pred.pred_label, "left"
    )
    tp = F.coalesce(F.col("tp"), F.lit(0))
    pp = F.coalesce(F.col("n_predicted"), F.lit(0))
    return joined.select(
        "label",
        F.col("n_actual").cast("bigint").alias("n_actual"),
        pp.cast("bigint").alias("n_predicted"),
        tp.cast("bigint").alias("tp"),
        F.when(pp == 0, F.lit(None).cast("double"))
        .otherwise(F.round(tp.cast("double") / pp.cast("double"), 9))
        .alias("prec"),
        F.round(tp.cast("double") / F.col("n_actual").cast("double"), 9).alias(
            "recall"
        ),
        F.round(
            2.0 * tp.cast("double") / (pp + F.col("n_actual")).cast("double"), 9
        ).alias("f1"),
    ).orderBy("label")


def _cluster_prf_oracle() -> str:
    return f"""
        WITH {_assign_cte()},
        cont AS (
            SELECT cell, label, COUNT(*) AS n FROM assigned GROUP BY 1, 2
        ),
        maj AS (
            SELECT cell, label AS pred_label FROM (
                SELECT cell, label,
                       row_number() OVER (PARTITION BY cell
                                          ORDER BY n DESC, label) AS rn
                FROM cont
            ) WHERE rn = 1
        ),
        pred AS (
            SELECT m.pred_label,
                   SUM(c.n) AS n_predicted,
                   SUM(CASE WHEN c.label = m.pred_label THEN c.n ELSE 0 END)
                       AS tp
            FROM cont c JOIN maj m ON m.cell = c.cell
            GROUP BY 1
        ),
        act AS (SELECT label, SUM(n) AS n_actual FROM cont GROUP BY 1)
        SELECT a.label,
               CAST(a.n_actual AS BIGINT) AS n_actual,
               CAST(COALESCE(p.n_predicted, 0) AS BIGINT) AS n_predicted,
               CAST(COALESCE(p.tp, 0) AS BIGINT) AS tp,
               CASE WHEN COALESCE(p.n_predicted, 0) = 0 THEN NULL
                    ELSE round(CAST(p.tp AS DOUBLE) / p.n_predicted, 9)
               END AS prec,
               round(CAST(COALESCE(p.tp, 0) AS DOUBLE) / a.n_actual, 9)
                   AS recall,
               round(2.0 * CAST(COALESCE(p.tp, 0) AS DOUBLE)
                     / (COALESCE(p.n_predicted, 0) + a.n_actual), 9) AS f1
        FROM act a LEFT JOIN pred p ON p.pred_label = a.label
        ORDER BY a.label
    """


_QR["cluster_majority_prf"].oracle = _cluster_prf_oracle()


# ---------------------------------------------------------------------------
# Embedding drift report (per-dimension standardized mean shift)
# ---------------------------------------------------------------------------
@register(
    "embedding_drift_report",
    doc="worst-10 embedding dims by standardized mean shift between vec_id-parity halves",
    oracle=f"""
        WITH obs AS (
            SELECT vec_id % 2 AS half, CAST(t.i AS BIGINT) AS dim,
                   CAST(embedding[t.i] AS DOUBLE) AS x
            FROM embeddings, unnest(range(1, len(embedding) + 1)) AS t(i)
        ),
        mom AS (
            SELECT dim, half,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   {_FOLD.format(x='x')} AS s1,
                   {_FOLD.format(x='round(x * x, 12)')} AS s2
            FROM obs GROUP BY dim, half
        ),
        wide AS (
            SELECT a.dim,
                   a.n AS n0, a.s1 AS s10, a.s2 AS s20,
                   b.n AS n1, b.s1 AS s11, b.s2 AS s21
            FROM mom a JOIN mom b ON b.dim = a.dim
            WHERE a.half = 0 AND b.half = 1
        )
        SELECT dim,
               round(s10 / n0, 9) AS mean_ref,
               round(s11 / n1, 9) AS mean_cur,
               round(abs(s10 / n0 - s11 / n1)
                     / sqrt(((s20 - s10 * s10 / n0)
                             + (s21 - s11 * s11 / n1))
                            / (n0 + n1 - 2) + 1e-12), 9) AS std_shift
        FROM wide
        ORDER BY std_shift DESC, dim LIMIT 10
    """,
)
def embedding_drift_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space monitoring between two deployment snapshots
    (vec_id parity stands in for before/after): per-dimension
    standardized mean shift |μ₀−μ₁|/s_pooled, worst 10 dims first —
    the per-feature alarm that catches a retrained encoder silently
    rotating its space. Per-(dim, half) sums use the repo's sorted
    fold (order-independent doubles; x² pinned at 12 first); the
    pooled-variance denominator adds 1e-12 so a constant dimension
    reads as 0 shift instead of 0/0.

    Plan: one posexplode + (dim, half) hash aggregate (map-side
    combined to 128 cells), then a 64-row self-join — broadcast scale.
    """
    emb = _emb(spark, sf_dir)
    obs = emb.select(
        (F.col("vec_id") % 2).alias("half"),
        F.posexplode(F.transform("embedding", lambda x: x.cast("double"))).alias(
            "pos", "x"
        ),
    ).select("half", (F.col("pos") + 1).cast("bigint").alias("dim"), "x")
    mom = obs.groupBy("dim", "half").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        _fold("x").alias("s1"),
        F.aggregate(
            F.array_sort(F.collect_list(F.round(F.col("x") * F.col("x"), 12))),
            F.lit(0.0),
            lambda a, b: a + b,
        ).alias("s2"),
    )
    a = mom.filter(F.col("half") == 0).select(
        "dim",
        F.col("n").alias("n0"),
        F.col("s1").alias("s10"),
        F.col("s2").alias("s20"),
    )
    b = mom.filter(F.col("half") == 1).select(
        "dim",
        F.col("n").alias("n1"),
        F.col("s1").alias("s11"),
        F.col("s2").alias("s21"),
    )
    wide = a.join(b, "dim")
    n0 = F.col("n0").cast("double")
    n1 = F.col("n1").cast("double")
    shift = F.abs(F.col("s10") / n0 - F.col("s11") / n1) / F.sqrt(
        (
            (F.col("s20") - F.col("s10") * F.col("s10") / n0)
            + (F.col("s21") - F.col("s11") * F.col("s11") / n1)
        )
        / (n0 + n1 - 2)
        + 1e-12
    )
    return (
        wide.select(
            "dim",
            F.round(F.col("s10") / n0, 9).alias("mean_ref"),
            F.round(F.col("s11") / n1, 9).alias("mean_cur"),
            F.round(shift, 9).alias("std_shift"),
        )
        .orderBy(F.col("std_shift").desc(), "dim")
        .limit(10)
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
    from dynaledger_spark.plans.queries_lm import unigram_logprob_quality
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


# ---------------------------------------------------------------------------
# Split-conformal prediction calibration (round 8)
# ---------------------------------------------------------------------------
# alpha = 0.1; splits by event_id hash (train <50 / cal <75 / test).
_CONF_H = 2654435761
_CONF_M32 = 4294967296


@register(
    "conformal_calibration",
    doc="split-conformal prediction: q_hat from the calibration quantile, empirical test coverage per event_type",
    oracle=f"""
        WITH split AS (
            SELECT event_type, value,
                   CASE WHEN (event_id * {_CONF_H}) % {_CONF_M32} % 100 < 50 THEN 'train'
                        WHEN (event_id * {_CONF_H}) % {_CONF_M32} % 100 < 75 THEN 'cal'
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
        (F.col("event_id").cast("decimal(38,0)") * _CONF_H) % _CONF_M32
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
