"""Physical-plan assertions: the plans must be the ones a 1000-executor
cluster wants — broadcasts for dims, pushdown into scans, map-side partial
aggregation, Arrow (never row-at-a-time) Python, no cartesian products.

These guard against regressions Catalyst can't save us from: a dropped
broadcast hint, a filter moved behind a Python stage, an accidental
crossJoin.
"""

from __future__ import annotations

import contextlib
import io

import pytest

from dynaledger_spark.plans.registry import load_all

REGISTRY = load_all()


def plan_of(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode=mode)
    return buf.getvalue()


@pytest.fixture(scope="module")
def built(spark, sf_dir):
    """Built (unexecuted) DataFrames of every registered query. Built
    ONCE per module — both the plan-text assertions and the
    logical-plan lints read from here."""
    return {name: spec.build(spark, sf_dir) for name, spec in REGISTRY.items()}


@pytest.fixture(scope="module")
def plans(built):
    """Physical plan text of every registered query."""
    return {name: plan_of(df) for name, df in built.items()}


def test_no_row_at_a_time_python_anywhere(plans):
    """Python appears only as Arrow-vectorized stages (MapInPandas /
    ArrowEvalPython); BatchEvalPython (pickled row loop) must never show."""
    for name, plan in plans.items():
        assert "BatchEvalPython" not in plan, f"{name} uses row-at-a-time Python"


def test_no_cartesian_products(plans):
    allowed = (
        "tfidf_top_terms",  # 1-row broadcast of the corpus count
        "mixture_rebalance_sample",  # 1-row broadcast of corpus totals
        "copurchase_triangles",  # 1-row × 1-row scalar-metric combine
        "target_encode_priority",  # 1-row broadcast of the global prior
        "quantile_binning_migration",  # 1-row broadcast of decile bounds
        "sliding_7d_active_users",  # 1-row broadcast of the date bounds
        "rfm_segmentation",  # 1-row broadcast of the recency anchor date
        "minhash_portable_incremental",  # 1-row broadcast of the id cutoff
        "hll_portable_estimate",  # 1-row broadcast of the exact count
        "priority_sample_subset_sum",  # 1-row broadcast of tau (the k+1-th priority)
        "cusum_changepoint",  # 1-row broadcasts of totals and the peak
        "benford_first_digit",  # 1-row broadcast of the grand total
        "temperature_resample_sources",  # 1-row broadcasts of corpus totals
        "mann_whitney_u_test",  # 1-row broadcast of the group sizes
        "cuped_adjusted_ab",  # 1-row broadcast of the pooled moments
        "bootstrap_mean_ci",  # 1-row broadcasts of the CI order statistics
        "isotonic_calibration_deciles",  # 10-row minimax non-equi joins
        "ab_power_analysis",  # 1-row × 1-row arm combine
        "tpch_q1_pricing_summary",  # 1-row broadcast of the shipdate anchor
        "rendezvous_hash_shard",  # 9-row broadcast of the shard ring
        "shard_round_robin",  # ≤1024-row bucket-offset inequality self-join (grid-sized)
        "theil_sen_daily_trend",  # calendar-bounded |days|x|days| pair loop
        "ks_two_sample_values",  # 1-row sample-size broadcasts
        "ab_conversion_ztest",  # 1-row × 1-row arm-stats combine
        "tpch_q22_global_sales_opportunity",  # 1-row broadcast of the avg balance
        "tpch_q11_important_stock",  # 1-row broadcast of the global total
        "dsir_importance_weights",  # 1-row broadcast of the corpus totals
        "unimax_allocation",  # 1-row broadcasts of budget and waterline
        "fisher_lda_quality",  # 1-row broadcasts of the fitted model
        "hill_tail_index",  # 1-row broadcast of the tail threshold over k+1 rows
        "lsh_recall_eval",  # 1-row truth/found/hit metric combines
        "kmv_theta_sketch_pairs",  # |types|^2-row pair table fanned over k-row sketches
    )
    for name, plan in plans.items():
        assert "CartesianProduct" not in plan, f"{name} cross-joins"
        assert "BroadcastNestedLoopJoin" not in plan or name in allowed, (
            f"{name} nested-loop joins"
        )
    # A stale allowlist entry would quietly widen the lint's blind spot.
    stale = [
        n for n in allowed
        if n not in plans or "BroadcastNestedLoopJoin" not in plans[n]
    ]
    assert not stale, f"allowlisted names with no nested-loop join: {stale}"


def test_fact_build_plan_shape(plans):
    plan = plans["fact_build"]
    # nation is a broadcast dim
    assert "BroadcastHashJoin" in plan
    # the orderstatus filter reaches the parquet scan
    assert "PushedFilters: [" in plan and "o_orderstatus" in plan
    # group-sum runs as hash aggregation with a partial phase
    assert plan.count("HashAggregate") >= 2


def test_statement_query_pushes_filters(plans):
    plan = plans["statement_query"]
    assert "PushedFilters" in plan
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan


def test_anti_join_is_anti(plans):
    assert "LeftAnti" in plans["anti_join_fk"]


def test_broadcast_lookup_broadcasts(plans):
    assert "BroadcastHashJoin" in plans["broadcast_lookup_default"]


def test_dedup_exact_partial_agg(plans):
    # map-side partial aggregation before the exchange: exactly the shape
    # that makes hash-dedup scale (combine before shuffle)
    plan = plans["dedup_exact"]
    assert plan.count("HashAggregate") >= 2
    assert "hashpartitioning" in plan


def test_column_pruning_reaches_scan(spark, sf_dir):
    """A 2-column projection must not read all 5 document columns."""
    from dynaledger_spark.plans.registry import QUERY_REGISTRY

    df = QUERY_REGISTRY["doc_fingerprint"].build(spark, sf_dir)
    plan = plan_of(df)
    scan = plan[plan.index("Scan parquet") :]
    read_schema = scan[scan.index("ReadSchema") : scan.index("\n", scan.index("ReadSchema"))]
    assert "text" in read_schema and "doc_id" in read_schema
    assert "lang" not in read_schema and "source" not in read_schema


def test_topk_uses_take_ordered(plans):
    # ORDER BY + LIMIT must compile to TakeOrderedAndProject, not a global sort
    assert "TakeOrderedAndProject" in plans["topk_customers"]


def test_partition_pruning_on_partitioned_write(spark, sf_dir, tmp_path):
    """§4: quarters-as-partition-columns must actually prune — a filter on
    the partition column becomes a PartitionFilter, not a data filter."""
    from pyspark.sql import functions as F

    from dynaledger_spark.catalog import read_table
    from dynaledger_spark.sources.parquet_io import write_partitioned

    path = str(tmp_path / "events_parted")
    events = read_table(spark, sf_dir, "events")
    write_partitioned(events, path, partition_col="event_type")
    df = spark.read.parquet(path).filter(F.col("event_type") == "purchase")
    plan = plan_of(df)
    # the predicate lands in PartitionFilters (resolved from directory
    # names at planning time), and the scan schema no longer carries the
    # partition column as data
    assert "PartitionFilters: [isnotnull(event_type" in plan
    assert "(event_type" in plan and "= purchase)" in plan
    scan = plan[plan.index("Scan parquet") :]
    read_schema = scan[scan.index("ReadSchema") : scan.index("\n", scan.index("ReadSchema"))]
    assert "event_type" not in read_schema


def test_whole_stage_codegen_on_text_path(spark, sf_dir):
    # the text features are JVM expressions: they must run inside codegen.
    # AQE defers codegen stitching until execution, so plan with AQE off
    # for the assertion ('*(n)' markers in simple mode).
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        df = REGISTRY["text_quality"].build(spark, sf_dir)
        assert "*(" in plan_of(df, mode="simple")
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_hash_sampling_is_shuffle_free(plans):
    """Deterministic hash split/sample are pure scan-side projection and
    filter — zero exchanges, so they scale linearly with input."""
    for name in ("hash_split_train_val", "stratified_sample_docs"):
        plan = plans[name]
        assert "Exchange" not in plan, name


def _nodes(plan: str, node: str) -> int:
    """Count physical nodes in a formatted explain (the '(n) Node' detail
    headers — the tree section prints every node a second time)."""
    import re

    return len(re.findall(rf"\(\d+\) {node}\b", plan))


def test_ohlc_single_exchange(plans):
    """time_bucket_ohlc: both row_number windows and the final aggregate
    hash on (event_type, bucket_ts) — Catalyst must plan exactly ONE hash
    Exchange (the scale claim in its docstring)."""
    plan = plans["time_bucket_ohlc"]
    assert _nodes(plan, "Exchange") == 1


def test_tfidf_topk_window_group_limit(plans):
    """tfidf_top_terms: rank<=3 pushes below the per-doc sort, the
    document-frequency side broadcasts, and the corpus count joins as a
    1-row broadcast (never a shuffled cross join)."""
    plan = plans["tfidf_top_terms"]
    assert "WindowGroupLimit" in plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_decontam_benchmark_broadcasts(plans):
    """decontam_ngram_overlap: the benchmark shingle set must broadcast
    (map-side probe of the corpus) and the benchmark subset filter must
    reach the parquet scan."""
    plan = plans["decontam_ngram_overlap"]
    assert "BroadcastHashJoin" in plan
    assert "(doc_id" in plan and "% 97)" in plan  # pushed modulo filter


def test_salted_join_no_nested_loop(plans):
    """salted_join_segment_revenue: salting keeps the join an equi hash
    join on (key, salt) with map-side partial aggregation after."""
    plan = plans["salted_join_segment_revenue"]
    assert "CartesianProduct" not in plan
    assert "partial_" in plan


def test_bigram_topk_uses_take_ordered(plans):
    """ngram_top_bigrams: ORDER BY count LIMIT 20 must compile to
    TakeOrderedAndProject over a partial-aggregated count — no global
    sort of the gram table."""
    plan = plans["ngram_top_bigrams"]
    assert "TakeOrderedAndProject" in plan
    assert "partial_count" in plan or "partial_" in plan


def test_gap_fill_windows_share_clustering(plans):
    """gap_fill_interpolate: the prev/next ignorenulls windows sort the
    same (user_id, hour_ts) clustering — Catalyst must not add a second
    hash Exchange for the second window direction."""
    plan = plans["gap_fill_interpolate"]
    assert _nodes(plan, "Window") <= 2
    assert "BatchEvalPython" not in plan


def test_interval_overlap_is_hash_join(plans):
    """interval_overlap_sessions: the bucketed decomposition must plan an
    equi hash join (SortMergeJoin/ShuffledHashJoin/BroadcastHashJoin) on
    (user, bucket) — never a nested-loop over the interval sets."""
    plan = plans["interval_overlap_sessions"]
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert any(j in plan for j in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin"))


def test_zscore_moments_broadcast_back(plans):
    """zscore_outliers: the 5-row per-type moments join back as a
    broadcast; the moment sums aggregate with a partial phase."""
    plan = plans["zscore_outliers"]
    assert "BroadcastHashJoin" in plan
    assert "partial_" in plan


def test_quality_pipeline_single_exchange(plans):
    """quality_gopher / quality_weighted_sample: the up-front hash(doc_id)
    partitioning must satisfy both the (doc, word) and per-doc
    clusterings — exactly ONE exchange in the whole plan."""
    for name in ("quality_gopher", "quality_weighted_sample"):
        assert _nodes(plans[name], "Exchange") == 1, name


def test_ewma_single_exchange(plans):
    """Segmented EWMA: row_number window shuffles on user_id once; the
    (user, seg) and user aggregations cluster on subsets of that key and
    must not add exchanges — the scale claim in its docstring."""
    plan = plans["ewma_user_values"]
    assert _nodes(plan, "Exchange") == 1
    # bounded arrays: the collect_list groups on (user_id, seg), never
    # the whole per-user series
    assert "collect_list" in plan


# ---------------------------------------------------------------------------
# Round-4 operator plan shapes
# ---------------------------------------------------------------------------
def test_stats_moments_single_exchange(plans):
    """The exact-moment aggregates (corr, skew/kurt, weighted mean,
    checksum, bitmask, VWAP) are each ONE hash
    aggregate: exactly one shuffle Exchange, partial aggregation
    map-side."""
    for name in (
        "corr_qty_price",
        "skew_kurtosis_quantity",
        "weighted_avg_discount",
        "table_checksum_orders",
        "event_type_bitmask",
        "vwap_weekly_priceband",
    ):
        plan = plans[name]
        assert _nodes(plan, "Exchange") == 1, name
        assert "partial" in plan.lower() or "HashAggregate" in plan, name


def test_type_token_ratio_single_exchange(plans):
    """type_token_ratio rides the _docs_by_id partitioning: the word- and
    doc-level aggregations share ONE exchange."""
    assert _nodes(plans["type_token_ratio"], "Exchange") == 1


def test_bloom_probe_broadcasts_filter(plans):
    """bloom_filter_probe: the <=66-row filter must broadcast to the
    probe side (never shuffle the probes against it)."""
    assert "BroadcastHashJoin" in plans["bloom_filter_probe"]


def test_tokenize_vocab_broadcasts(plans):
    """tokenize_to_ids: the vocabulary lookup must be a broadcast hash
    probe — a shuffled join on the token would move the whole exploded
    corpus."""
    assert "BroadcastHashJoin" in plans["tokenize_to_ids"]


def test_zorder_single_exchange(plans):
    """Morton coding is scan-side; the per-bucket stats are one hash
    aggregate."""
    assert _nodes(plans["zorder_bucket_stats"], "Exchange") == 1


def test_twap_single_exchange(plans):
    """twap_user_value: the lead() window and the per-user aggregate share
    the hash(user_id) clustering — ONE exchange end to end."""
    assert _nodes(plans["twap_user_value"], "Exchange") == 1


def test_minmax_scale_broadcasts_ranges(plans):
    """minmax_scale_events: the per-type range table must broadcast back
    onto the fact scan (a window formulation would shuffle the whole
    table on the low-cardinality, skew-prone event_type)."""
    assert "BroadcastHashJoin" in plans["minmax_scale_events"]


def test_event_trigram_take_ordered(plans):
    """event_trigram_top's top-25 must be TakeOrderedAndProject, never a
    global sort of all trigram counts."""
    assert "TakeOrderedAndProject" in plans["event_trigram_top"]


def test_dup_span_two_exchanges_no_join(plans):
    """dup_span_marking: ONE gram-hash exchange serves both the
    (gram, doc) pre-aggregate and the global-frequency window (subset
    rule), and the per-doc rollup is the only other shuffle — the
    join-back formulation (3 exchanges + join) must not come back."""
    p = plans["dup_span_marking"]
    assert _nodes(p, "Exchange") == 2
    assert "Join" not in p


# Queries allowed an UNPARTITIONED window (single-partition global sort
# in WindowExec). One legitimate class only: the window input is a
# post-aggregation series bounded by the calendar / decile grid / vocab
# cut, never corpus-sized.
# Anything NOT listed here that grows an unpartitioned window fails the
# lint — a new query cannot silently global-sort a corpus.
GLOBAL_WINDOW_WHITELIST = {
    # bounded: daily / calendar rollup series (≤ |days| rows)
    "seasonal_decompose_dow", "cusum_changepoint",
    "theil_sen_daily_trend",
    # bounded: post-aggregation grids (deciles, per-group stats, ranks
    # over an already-reduced result)
    "bootstrap_mean_ci", "woe_iv_acctbal_urgent", "lift_gains_deciles",
    "isotonic_calibration_deciles", "vocab_build_topn",
    "tokenize_to_ids", "chi_square_segment_priority",
    "revenue_share_by_nation", "pareto_abc_parts",
    # bounded: the UniMax waterfill windows run on the 20-row per-source
    # aggregate (|sources|, never corpus-sized)
    "unimax_allocation",
    # bounded: rank transform over the two A/B samples' value column
    # (events.value measurements, one global ECDF/rank by construction)
    "ks_two_sample_values", "mann_whitney_u_test",
}


def _unpartitioned_windows(df) -> int:
    """Count Window nodes with an empty partitionSpec in the optimized
    logical plan (the thing WindowExec warns about at runtime)."""
    n = 0
    stack = [df._jdf.queryExecution().optimizedPlan()]
    while stack:
        node = stack.pop()
        if node.nodeName() == "Window" and node.partitionSpec().isEmpty():
            n += 1
        it = node.children().iterator()
        while it.hasNext():
            stack.append(it.next())
    return n


def test_no_unpartitioned_window_outside_whitelist(built):
    offenders = {
        name for name, df in built.items()
        if name not in GLOBAL_WINDOW_WHITELIST and _unpartitioned_windows(df)
    }
    assert not offenders, (
        f"unpartitioned (single-partition) Window in: {sorted(offenders)} — "
        "either partition the window or whitelist with a boundedness "
        "justification"
    )


def test_global_window_whitelist_is_current(built):
    """Every whitelisted name must still exist AND still use a global
    window — stale entries would quietly widen the lint's blind spot."""
    stale = {
        n for n in GLOBAL_WINDOW_WHITELIST
        if n not in built or not _unpartitioned_windows(built[n])
    }
    assert not stale, f"whitelist entries no longer using a global window: {sorted(stale)}"


def test_tpch_plan_shapes(plans):
    """The TPC-H family's plans must be the warehouse-scale ones:
    top-k as TakeOrdered (never a global sort), selective filters
    pushed into the parquet scans, nation/region as broadcasts, the
    Q13 LEFT join and Q22 anti join preserved."""
    # top-k queries: per-partition heap + driver merge, not Sort+Limit
    for name in (
        "tpch_q3_shipping_priority",
        "tpch_q10_returned_items",
        "tpch_q18_large_volume_customers",
    ):
        assert "TakeOrderedAndProject" in plans[name], f"{name} global-sorts its top-k"
    # Q6 is the pure scan-aggregate: no join anywhere, shipdate pushed
    q6 = plans["tpch_q6_forecast_revenue"]
    assert "Join" not in q6
    assert "PushedFilters" in q6 and "l_shipdate" in q6
    # selective dimension filters reach their scans
    assert "c_mktsegment" in plans["tpch_q3_shipping_priority"]
    assert "o_orderdate" in plans["tpch_q5_local_supplier_volume"]
    assert "p_brand" in plans["tpch_q17_small_quantity_revenue"]
    # nation/region dims ride broadcast joins
    for name in (
        "tpch_q5_local_supplier_volume",
        "tpch_q7_volume_shipping",
        "tpch_q8_market_share",
        "tpch_q10_returned_items",
    ):
        assert "BroadcastHashJoin" in plans[name], f"{name} lost its dim broadcast"
    # Q13's filtered LEFT join keeps order-less customers
    assert "LeftOuter" in plans["tpch_q13_order_count_distribution"]
    # Q22's NOT EXISTS decorrelates to an anti join
    assert "LeftAnti" in plans["tpch_q22_global_sales_opportunity"]
    # --- the adapted nine (round 7) ---
    # Q2: tie-preserving argmin rejoin, top-100 as TakeOrdered, the
    # part-class filter pushed into the part scan
    q2 = plans["tpch_q2_min_cost_supplier"]
    assert "TakeOrderedAndProject" in q2
    assert "EqualTo(p_type,STANDARD)" in q2
    # Q4: EXISTS compiles to a left_semi, the problem-line marker and
    # the quarter slice both pushed into their scans
    q4 = plans["tpch_q4_order_priority"]
    assert "LeftSemi" in q4
    assert "EqualTo(l_returnflag,R)" in q4
    assert "GreaterThanOrEqual(o_orderdate" in q4
    # Q9: the product-family LIKE reaches the part scan as a pushed
    # StringContains; nation rides a broadcast
    q9 = plans["tpch_q9_product_type_profit"]
    assert "StringContains(p_name,red)" in q9
    assert "BroadcastHashJoin" in q9
    # Q12: the year slice prunes the lineitem scan
    assert "GreaterThanOrEqual(l_shipdate,1997-01-01" in plans["tpch_q12_priority_pivot"]
    # Q16: NOT IN over the non-null key compiles to a left_anti, the
    # size set pushed as an In filter
    q16 = plans["tpch_q16_parts_supplier_count"]
    assert "LeftAnti" in q16
    assert "In(p_size" in q16
    # Q19: THE disjunctive-pushdown pin — Catalyst must extract the
    # per-table residuals of the OR-of-ANDs into BOTH scans (quantity
    # ranges onto lineitem, brand/size onto part)
    q19 = plans["tpch_q19_disjunctive_revenue"]
    assert "Or(Or(And(GreaterThanOrEqual(l_quantity,1.0)" in q19
    assert "EqualTo(p_brand,Brand#1)" in q19
    # Q20: nested-aggregate gate stays a left_semi; the part-family
    # prefix and the nation set pushed
    q20 = plans["tpch_q20_promotion_suppliers"]
    assert "LeftSemi" in q20
    assert "StringStartsWith(p_name,red)" in q20
    assert "In(n_name" in q20
    # Q21: the semi + anti self-join pair both survive, count top-100
    # is TakeOrdered, the returnflag/orderstatus markers pushed
    q21 = plans["tpch_q21_waiting_suppliers"]
    assert "LeftSemi" in q21 and "LeftAnti" in q21
    assert "TakeOrderedAndProject" in q21
    assert "EqualTo(o_orderstatus,F)" in q21


def test_lsh_recall_eval_broadcasts_df_table(plans):
    """lsh_recall_eval: the shingle document-frequency table joins as a
    broadcast (the corpus-wide shingle stream must not shuffle on the
    gram for the rarity lookup), and the final metric combine is
    broadcast-sized."""
    plan = plans["lsh_recall_eval"]
    assert "BroadcastExchange" in plan
    assert "BroadcastHashJoin" in plan


def test_dpp_reaches_fact_scan(spark, sf_dir):
    """dpp_partition_pruned_join's whole point: the dim's runtime keys
    must appear as a dynamicpruning subquery in the partitioned fact
    scan (I/O pruned at execution, not by a copied literal predicate)."""
    import shutil
    import tempfile

    from dynaledger_spark.plans.queries_core import _dpp_parts

    root = tempfile.mkdtemp(prefix="dl_dpp_plan_")
    try:
        df = _dpp_parts(spark, sf_dir, root)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "dynamicpruning" in plan.lower()
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_unpersist_discipline(spark, sf_dir):
    """VERDICT r9 item 3: an embedding application that calls registry
    builds directly (no harness clearCache) must not accumulate cached
    blocks for the life of its session.  Build + fully materialize the
    formerly persisting queries, drop the results, and assert the
    SparkContext holds zero persistent RDDs — builders do not persist,
    and their localCheckpoint blocks drain once the results are
    garbage-collected."""
    import gc

    def persistent_ids() -> set[int]:
        # Keys of the live, weak-valued map. getPersistentRDDs() would
        # return a snapshot of STRONG references that py4j keeps bound
        # until the Python proxy's release reaches the JVM; a System.gc()
        # in between keeps every listed RDD alive.
        keys = spark.sparkContext._jsc.sc().persistentRdds().keys().mkString(",")
        return {int(k) for k in keys.split(",") if k}

    spark.catalog.clearCache()
    gc.collect()
    # Other tests' module-scoped fixtures (e.g. `plans`) hold built
    # DataFrames ALIVE — their localCheckpoint RDDs are strongly
    # referenced and legitimately uncollectable here.  Snapshot them and
    # assert on the DELTA: nothing built in THIS test may survive.
    base_ids = persistent_ids()
    persisters = [
        "copurchase_triangles", "anomaly_dow_hour_baseline",
        "cusum_changepoint", "theil_sen_daily_trend",
        "pagerank_portable_fixedpoint", "kmv_theta_sketch_pairs",
        "lpa_communities_fixed",
    ]
    for name in persisters:
        df = REGISTRY[name].build(spark, sf_dir)
        assert df.count() >= 0
        del df
    gc.collect()
    # The unbounded leak class: CacheManager holds STRONG references to
    # cached plans, so an unreleased persist() lives for the session's
    # lifetime. This must be empty purely from the release hooks.
    cm = spark._jsparkSession.sharedState().cacheManager()
    assert cm.isEmpty(), (
        "CacheManager still holds cached plans after dropping the "
        f"results of {len(persisters)} builds — a builder persists "
        "and never releases it"
    )
    # localCheckpoint residue (pagerank/LPA/k-core iteration rounds) is
    # ContextCleaner-owned: persistentRdds holds them WEAKLY, so once
    # the Python wrappers detach and the JVM GCs, the entries drain on
    # their own — bounded wait, no clearCache.
    import time

    jvm = spark.sparkContext._jvm

    def new_ids():
        return persistent_ids() - base_ids

    # 90s: at the tail of a full-suite run the ContextCleaner's weak-ref
    # queue can lag tens of seconds behind System.gc() (observed once at
    # 30s on a 23-minute loaded session; passes in seconds when quiet).
    # The CacheManager assertion above is the strong-reference leak
    # check; this block only waits out the cleaner.
    deadline = time.time() + 90
    leaked = new_ids()
    while leaked and time.time() < deadline:
        gc.collect()
        jvm.System.gc()
        jvm.System.runFinalization()
        time.sleep(0.5)
        leaked = new_ids()
    assert not leaked, (
        f"{len(leaked)} persistent RDDs from this test's builds remain "
        "after GC — localCheckpoint blocks are not being reclaimed "
        "(strongly referenced somewhere?)"
    )


def test_round9_query_plan_shapes(plans):
    """Round-9 additions: the corpus-sized join must be hash/equi (the
    FS blocking join equi on (segment, bucket)); priority sampling's
    top-(k+1) must be a TakeOrderedAndProject (per-partition top-k +
    driver merge — the shape that samples 100 TB without a shuffle),
    and nothing cartesian anywhere (the 1-row BNLJs are whitelisted in
    test_no_cartesian_products)."""
    for name in ("entity_golden_record", "priority_sample_subset_sum"):
        assert "CartesianProduct" not in plans[name], name
    assert "TakeOrderedAndProject" in plans["priority_sample_subset_sum"]
    # the equi join planned as a hash join (broadcast at test SF; the
    # keys, not the strategy, are what survive a 1000-executor scale-up)
    plan = plans["entity_golden_record"]
    assert (
        "BroadcastHashJoin" in plan
        or "SortMergeJoin" in plan
        or "ShuffledHashJoin" in plan
    )
