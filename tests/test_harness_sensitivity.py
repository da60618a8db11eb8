"""Mutation-sensitivity audit of the oracle-parity gate (VERDICT r8 item 1).

A test you've never seen fail is not yet a test: the remaining
correctness risk in this repo is not a query that fails but a gate that
CANNOT fail. This module proves the DuckDB compare actually reports a
mismatch when the Spark plan is wrong, across ~20 queries sampled from
every family, with two mutation classes:

* PLAN mutations — monkeypatch a module constant the Spark builder reads
  at call time while the oracle SQL (baked at import with the original
  value) stays fixed. This is a REAL semantic perturbation of the plan:
  an off-by-factor sketch size, a moved linkage threshold, a dropped
  propagation round. The gate must fail.
* RESULT mutations — perturb the built DataFrame in ways that mimic
  classic plan bugs: a lost boundary row (dropped/flipped filter), a
  duplicated row (broken dedup), a single-ulp float drift (wrong
  accumulator), swapped rounding, a value swap between rows that
  PRESERVES every per-column multiset (so a column-wise comparator would
  pass — this pins that the gate hashes whole row tuples), a renamed
  column, an off-by-one date. The gate must fail on each.

If any mutation passes the compare, the oracle is too coarse to
distinguish that bug class and must be tightened — that assertion IS the
test. (dbt's --store-failures discipline, reference
run_dbt_pipeline.sh:46-47, applied to the harness itself.)
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dynaledger_spark.plans import (
    queries_approx,
    queries_graph,
    queries_stats,
    queries_text,
)
from dynaledger_spark.plans.registry import load_all

from tests.oracle_compare import compare, duck_connection

QUERY_REGISTRY = load_all()


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duck_connection(sf_dir)
    yield con
    con.close()


def _assert_gate_fires(spark_df, duck, oracle, what: str) -> None:
    """The compare must RAISE; if it passes, the gate is insensitive to
    this bug class — that is the audit finding, reported loudly."""
    with pytest.raises(AssertionError):
        compare(spark_df, duck, oracle)
        pytest.fail(
            f"INSENSITIVE GATE: {what} did not change the compared output — "
            "tighten the oracle (more columns / finer grain) or pick a "
            "mutation that crosses a data boundary"
        )


# ---------------------------------------------------------------------------
# PLAN mutations: monkeypatch a runtime-read constant; the oracle keeps
# the original value.  (query, module, attr, mutated_value)
# ---------------------------------------------------------------------------
PLAN_MUTATIONS = [
    ("kmv_theta_sketch_pairs", queries_approx, "_KMV_K", 32),
    ("gk_portable_quantiles", queries_approx, "_GK_EPS_DEN", 16),
    ("lpa_communities_fixed", queries_graph, "_LPA_ROUNDS", 1),
    ("fellegi_sunter_linkage", queries_stats, "_FS_LINK_T", 0.0),
    ("char_entropy_quality", queries_text, "_ENTROPY_KEEP", 2.0),
    # round-10: a dropped iteration is the classic silent-misconfig bug
    # for TextRank
    ("textrank_keywords", queries_text, "_TR_ROUNDS", 2),
]


@pytest.mark.parametrize(
    "name,module,attr,bad",
    PLAN_MUTATIONS,
    ids=[m[0] for m in PLAN_MUTATIONS],
)
def test_plan_mutation_detected(spark, sf_dir, duck, monkeypatch, name, module, attr, bad):
    spec = QUERY_REGISTRY[name]
    good = getattr(module, attr)
    assert good != bad
    monkeypatch.setattr(module, attr, bad)
    try:
        _assert_gate_fires(
            spec.build(spark, sf_dir), duck, spec.oracle,
            f"{name}: {attr} {good} -> {bad}",
        )
    finally:
        spark.catalog.clearCache()


# ---------------------------------------------------------------------------
# RESULT mutations: perturb the built DataFrame like a plan bug would.
# ---------------------------------------------------------------------------
def _first_col(df, types):
    for f in df.schema.fields:
        if f.dataType.simpleString() in types:
            return f.name
    raise AssertionError(f"no column of type {types} in {df.columns}")


def _drop_one_row(df):
    """A filter that loses one boundary row."""
    return df.limit(df.count() - 1)


def _duplicate_one_row(df):
    """A broken dedup that emits one row twice."""
    return df.unionAll(df.limit(1))


def _ulp_drift(df):
    """A wrong accumulator: every double drifts by ONE ulp (multiply by
    1 + 2^-52).  The gate compares shortest-repr exactly, so even this
    must fire — the strongest float-sensitivity statement available."""
    c = _first_col(df, {"double"})
    return df.withColumn(c, F.col(c) * F.lit(1.0000000000000002))


def _swapped_rounding(df):
    """Coarser rounding than the contract (integer where the contract
    says cents — round(x, 2) would be a no-op on an already
    cents-rounded column, the first insensitivity this audit found)."""
    c = _first_col(df, {"double"})
    return df.withColumn(c, F.round(F.col(c), 0))


def _int_off_by_one(df):
    """An off-by-one in a count/sum."""
    c = _first_col(df, {"bigint", "int"})
    return df.withColumn(c, (F.col(c) + F.lit(1)).cast(dict(df.dtypes)[c]))


def _money_text_tail_bump(df):
    """The decimal-text analog of _ulp_drift (round 12: money sums are
    emitted as exact DECIMAL text, not DOUBLE): a wrong accumulator
    changes trailing digits first, so bump the last digit of the money
    column and the repr-exact gate must fire."""
    c = "sum_charge"
    last = F.substring(F.col(c), -1, 1)
    repl = F.when(last == "9", F.lit("8")).otherwise(F.lit("9"))
    return df.withColumn(
        c,
        F.concat(F.expr(f"substring({c}, 1, length({c}) - 1)"), repl),
    )


def _cross_row_value_swap(df):
    """Swap a column's min and max values between rows: every PER-COLUMN
    multiset is preserved, only row tuples change — a column-wise
    comparator would pass this; the gate must not."""
    c = _first_col(df, {"bigint", "int", "double"})
    lo, hi = df.agg(F.min(c), F.max(c)).first()
    assert lo != hi, f"degenerate column {c}: min == max, pick another query"
    return df.withColumn(
        c,
        F.when(F.col(c) == hi, F.lit(lo))
        .when(F.col(c) == lo, F.lit(hi))
        .otherwise(F.col(c)),
    )


def _rename_column(df):
    """A schema drift (wrong alias)."""
    return df.withColumnRenamed(df.columns[-1], df.columns[-1] + "_x")


def _inject_violation_row(df):
    """A false positive: the plan REPORTS a violation that does not
    exist (a flipped/broken predicate). On the expected-EMPTY validation
    greens (unique_key_check, anti_join_fk) this is the only mutation
    class with any effect — drop/duplicate/drift are no-ops on 0 rows,
    which is exactly the vacuity VERDICT r9 item 6 flags."""
    row = []
    for f in df.schema.fields:
        t = f.dataType.simpleString()
        if t in {"bigint", "int", "smallint"}:
            row.append(99)
        elif t == "double":
            row.append(99.0)
        else:
            row.append("zz_violation")
    one = df.sparkSession.createDataFrame([tuple(row)], df.schema)
    return df.unionAll(one)


def _date_off_by_one(df):
    """An off-by-one date parse."""
    for f in df.schema.fields:
        if f.dataType.simpleString() in {"date", "timestamp", "timestamp_ntz"}:
            if f.dataType.simpleString() == "date":
                return df.withColumn(f.name, F.date_add(F.col(f.name), 1))
            return df.withColumn(
                f.name, F.col(f.name) + F.expr("INTERVAL 1 DAY")
            )
    raise AssertionError(f"no date/timestamp column in {df.columns}")


RESULT_MUTATIONS = [
    ("fact_build", _ulp_drift),
    ("priority_sample_subset_sum", _int_off_by_one),
    ("entity_golden_record", _drop_one_row),
    ("statement_query", _drop_one_row),
    ("dedup_exact", _duplicate_one_row),
    ("tpch_q3_shipping_priority", _swapped_rounding),
    ("topk_customers", _cross_row_value_swap),
    ("date_rollup", _int_off_by_one),
    ("hash_split_train_val", _rename_column),
    ("minhash_portable_pairs", _drop_one_row),
    ("tpch_q1_pricing_summary", _ulp_drift),
    ("cohort_retention_matrix", _date_off_by_one),
    # VERDICT r9 items 1 + 6: the de-vacuated EXCEPT and the validation
    # family — 0-row greens are only non-vacuous if a false-positive
    # violation row makes the gate fire.
    ("inactive_customers_except", _drop_one_row),
    ("unique_key_check", _inject_violation_row),
    ("anti_join_fk", _inject_violation_row),
    ("validation_summary", _int_off_by_one),
    # round-10
    ("rendezvous_hash_shard", _int_off_by_one),
    # round-12: the decimal-text money emit, the boundary-scored RFM
    # rewrite and the distributed round-robin rank must all still be
    # constrained by their gates
    ("tpch_q1_pricing_summary", _money_text_tail_bump),
    ("rfm_segmentation", _drop_one_row),
    ("shard_round_robin", _int_off_by_one),
]


@pytest.mark.parametrize(
    "name,mutate",
    RESULT_MUTATIONS,
    ids=[f"{m[0]}-{m[1].__name__}" for m in RESULT_MUTATIONS],
)
def test_result_mutation_detected(spark, sf_dir, duck, name, mutate):
    spec = QUERY_REGISTRY[name]
    df = spec.build(spark, sf_dir)
    try:
        _assert_gate_fires(mutate(df), duck, spec.oracle, f"{name}: {mutate.__name__}")
    finally:
        spark.catalog.clearCache()


def test_unmutated_queries_still_pass(spark, sf_dir, duck):
    """Control arm: the same gate passes the UNMUTATED plans — so the
    failures above are caused by the mutations, not by the harness."""
    for name in ("fact_build", "kmv_theta_sketch_pairs", "char_entropy_quality"):
        spec = QUERY_REGISTRY[name]
        compare(spec.build(spark, sf_dir), duck, spec.oracle)
        spark.catalog.clearCache()
