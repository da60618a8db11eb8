"""The incremental-MinHash subset property: the incremental run's pairs
are exactly the full run's pairs restricted to the new batch."""

from __future__ import annotations

from dynaledger_spark.plans.registry import load_all

REGISTRY = load_all()


# ---------------------------------------------------------------------------
# Incremental MinHash ≡ full run restricted to new-batch pairs
# ---------------------------------------------------------------------------
def test_minhash_incremental_is_exact_subset(spark, sf_dir):
    """The incremental run must produce EXACTLY the full run's pairs
    whose higher id is in the new batch — no pair lost at the bucket
    boundary, none invented."""
    from dynaledger_spark.catalog import read_table

    cutoff = (
        read_table(spark, sf_dir, "documents").agg(
            {"doc_id": "max"}
        ).collect()[0][0]
        * 4
        // 5
    )
    full = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in REGISTRY["minhash_portable_pairs"].build(spark, sf_dir).collect()
    }
    inc = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in REGISTRY["minhash_portable_incremental"]
        .build(spark, sf_dir)
        .collect()
    }
    want = {k: v for k, v in full.items() if max(k) >= cutoff}
    assert inc == want
    assert inc, "testdata must exercise the incremental path"

