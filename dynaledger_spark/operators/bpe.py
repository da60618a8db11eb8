"""Distributed BPE merge learning (tokenizer training, round-5 batch 6).

The byte-pair-encoding training loop the way Sennrich et al. (2016)
describe it, structured for a cluster:

* the corpus collapses to a (word, count) frequency table ONCE — BPE
  statistics are identical on the collapsed table, and at 100 TB the
  distinct-word table is millions of rows where the token stream is
  trillions;
* each merge round is ONE distributed job: explode adjacent symbol
  pairs weighted by word count, hash-aggregate pair counts, take the
  argmax (deterministic tiebreak: highest count, then lexicographic
  pair) — a bounded 1-row collect;
* the chosen pair is merged into every word's symbol sequence map-side
  (an array fold — no shuffle), and the loop repeats.

Driver-side state is O(n_merges); per-round shuffle is O(distinct
pairs), which BPE theory bounds by the vocabulary, not the corpus.
The per-round localCheckpoint keeps the loop's lineage flat (the
connected-components precedent, operators/graph.py).

Determinism: counts are exact integers, the tiebreak is total, and the
fold-based merge is the same left-to-right scan as the reference
implementation — the pure-Python mirror in tests/test_round5b_ops.py
must (and does) reproduce the merge list exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def _merge_pair(syms, left: str, right: str):
    """Replace every adjacent (left, right) in the symbol array with the
    concatenated symbol, scanning left-to-right (non-overlapping —
    'aaa' under merge (a,a) yields ['aa','a'], like the reference BPE).

    The fold "merge current element into the trailing accumulator
    element when (last == left, s == right)" is equivalent to the
    reference two-pointer scan: a just-merged trailing symbol is
    left+right, which can never string-equal `left` (right is
    non-empty), so a merged symbol never participates in a second
    merge within the same round — exactly the non-overlap rule.
    """
    merged = left + right
    return F.aggregate(
        syms,
        F.array().cast("array<string>"),
        lambda acc, s: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(left))
            & (s == F.lit(right)),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(merged))
            ),
        ).otherwise(F.concat(acc, F.array(s))),
    )


def learn_bpe_merges(
    docs: DataFrame, n_merges: int = 8, return_syms: bool = False
) -> DataFrame:
    """Learn the first `n_merges` BPE merges over the documents' word
    stream. Returns (merge_rank, left, right, merged, pair_count) —
    or, with ``return_syms``, the tuple (merges, final symbol table
    (w, cnt, syms)): the loop's last checkpoint already holds every
    word segmented by all learned merges, so the APPLY step can reuse
    it instead of re-deriving the word table and re-running the merge
    folds (apply_bpe_merges did exactly that through r13 — one full
    re-learn plus n_merges chained folds for a table the learn loop
    had just materialized).
    """
    spark = docs.sparkSession
    words = (
        docs.select(F.explode(F.split("text", " ")).alias("w"))
        .filter(F.length("w") > 0)
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    # `w` rides along untouched (a few bytes/row): the final checkpoint
    # then doubles as the apply step's segmentation table.
    syms = words.select(
        "w", "cnt", F.split("w", "").alias("syms")
    ).localCheckpoint(eager=True)

    out = []
    for rank in range(1, n_merges + 1):
        pairs = (
            syms.filter(F.size("syms") >= 2)
            .select(
                "cnt",
                F.explode(
                    F.transform(
                        F.sequence(F.lit(1), F.size("syms") - 1),
                        lambda k: F.struct(
                            F.element_at(F.col("syms"), k).alias("a"),
                            F.element_at(F.col("syms"), k + 1).alias("b"),
                        ),
                    )
                ).alias("p"),
            )
            .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
            .agg(F.sum("cnt").alias("n"))
        )
        best = pairs.orderBy(F.col("n").desc(), "a", "b").head()
        if best is None:
            break
        out.append((rank, best.a, best.b, best.a + best.b, int(best.n)))
        syms = syms.select(
            "w", "cnt", _merge_pair(F.col("syms"), best.a, best.b).alias("syms")
        ).localCheckpoint(eager=True)

    merges = spark.createDataFrame(
        out,
        "merge_rank INT, left STRING, right STRING, merged STRING,"
        " pair_count BIGINT",
    )
    return (merges, syms) if return_syms else merges


def apply_bpe_merges(docs: DataFrame, n_merges: int = 8) -> DataFrame:
    """Segment every distinct corpus word with the learned merges,
    applied in rank order (the BPE APPLY step). Returns
    (word, cnt, n_chars, n_subwords, segmentation) where segmentation
    joins subwords with '·'.

    The merge list is driver-side (O(n_merges) rows — the same bounded
    contract as learning); application is n_merges chained map-side
    array folds over the distinct-word table, zero shuffles after the
    word count.
    """
    # the learn loop's final checkpoint IS the segmented word table —
    # reuse it instead of re-deriving words and re-folding every merge
    # (r14; halves the query: one corpus pass + 8 checkpointed rounds
    # total, rather than that PLUS a second corpus pass and 8 chained
    # O(len²) array folds per word)
    _, segmented = learn_bpe_merges(docs, n_merges, return_syms=True)
    return segmented.select(
        "w",
        "cnt",
        F.length("w").cast("bigint").alias("n_chars"),
        F.size("syms").cast("bigint").alias("n_subwords"),
        F.array_join("syms", "·").alias("segmentation"),
    ).orderBy("w")
