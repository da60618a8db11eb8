"""Core relational queries — SURVEY.md §2 operators on the driver testdata.

Each query re-expresses a reference operator Spark-first (DataFrame API,
Catalyst-optimizable). Reference citations are in each docstring so parity
can be checked against SURVEY.md §2 / the reference sources.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from dynaledger_spark.plans.registry import register


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    from dynaledger_spark.catalog import read_table

    return read_table(spark, sf_dir, name)


from dynaledger_spark.functions.agg import dsum, osum as _osum  # noqa: E402


@register(
    "exists_bulk_orders",
    doc="correlated EXISTS subquery → decorrelated semi-join by Catalyst",
    oracle="""
        SELECT o.o_orderkey, o.o_totalprice
        FROM orders o
        WHERE EXISTS (SELECT 1 FROM lineitem l
                      WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity >= 49)
    """,
)
def exists_bulk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS through the SQL pass-through surface: Catalyst
    decorrelates it into a left-semi hash join (no per-row re-execution —
    the rewrite Snowflake did remotely for the reference's arbitrary-SQL
    endpoint, done in-process here)."""
    _t(spark, sf_dir, "orders").createOrReplaceTempView("_q_orders")
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("_q_lineitem")
    return spark.sql(
        """
        SELECT o.o_orderkey, o.o_totalprice
        FROM _q_orders o
        WHERE EXISTS (SELECT 1 FROM _q_lineitem l
                      WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity >= 49)
        """
    )


@register(
    "converting_users_intersect",
    doc="INTERSECT: users who both clicked and purchased",
    oracle="""
        SELECT user_id FROM events WHERE event_type = 'click'
        INTERSECT
        SELECT user_id FROM events WHERE event_type = 'purchase'
    """,
)
def converting_users_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set intersection — planned as a distinct + left-semi join."""
    events = _t(spark, sf_dir, "events")
    clicks = events.filter(F.col("event_type") == "click").select("user_id")
    buys = events.filter(F.col("event_type") == "purchase").select("user_id")
    return clicks.intersect(buys)


@register(
    "event_type_pivot",
    doc="pivot event_type to columns: per-user counts + exact sums per type",
    oracle=f"""
        SELECT user_id,
               CAST(COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS BIGINT) AS click_n,
               CAST(COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS BIGINT) AS purchase_n,
               CAST(COUNT(CASE WHEN event_type = 'view' THEN 1 END) AS BIGINT) AS view_n,
               {_osum("CASE WHEN event_type = 'purchase' THEN value ELSE 0 END", 'purchase_value')}
        FROM events
        GROUP BY user_id
    """,
)
def event_type_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide-format per-user features via conditional aggregation — the
    explicit form of pivot (fixed column set → one pass, no second
    distinct-values job, map-side partial aggregation intact)."""
    events = _t(spark, sf_dir, "events")
    et = F.col("event_type")
    return events.groupBy("user_id").agg(
        F.count(F.when(et == "click", 1)).alias("click_n"),
        F.count(F.when(et == "purchase", 1)).alias("purchase_n"),
        F.count(F.when(et == "view", 1)).alias("view_n"),
        dsum(F.when(et == "purchase", F.col("value")).otherwise(0.0), "purchase_value"),
    )


@register(
    "inactive_customers_except",
    doc="set difference: customer keys minus H1-1996 ordering keys (EXCEPT)",
    oracle="""
        SELECT c_custkey FROM customer
        EXCEPT
        SELECT o_custkey AS c_custkey FROM orders
        WHERE o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate <  TIMESTAMP '1996-07-01'
    """,
)
def inactive_customers_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT (distinct set difference). Catalyst plans it as a left-anti
    join after aggregation — same cost shape as the J3 anti-join but with
    set semantics. The right side is bounded to H1-1996 orderers so the
    difference is NON-EMPTY at every verify SF (68 rows at sf0.001, 717
    at sf0.01 — VERDICT r9 item 1: the unbounded form returned 0 rows at
    both verify SFs, making its green vacuous)."""
    customer = _t(spark, sf_dir, "customer").select("c_custkey")
    orders = (
        _t(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1996-07-01").cast("timestamp"))
        )
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    return customer.subtract(orders)


@register(
    "range_attribution_windows",
    doc="point-in-interval join (bucketed, no nested loop): clicks in 2h post-purchase windows",
    oracle=f"""
        SELECT p.event_id AS purchase_id,
               COUNT(*) AS n_clicks,
               {_osum('c.value', 'click_value')}
        FROM (SELECT user_id, event_id, ts AS start_ts,
                     ts + INTERVAL 2 HOUR AS end_ts
              FROM events WHERE event_type = 'purchase') p
        JOIN (SELECT user_id, ts, value FROM events WHERE event_type = 'click') c
          ON c.user_id = p.user_id AND c.ts BETWEEN p.start_ts AND p.end_ts
        GROUP BY p.event_id
    """,
)
def range_attribution_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval join at scale (operators/temporal.py:range_join_bucketed):
    intervals explode into hour buckets, points hash-join on
    (user, bucket), exact BETWEEN filters locally — never a per-key
    nested loop. The oracle is the plain theta-join, proving the bucket
    decomposition is lossless.
    """
    from dynaledger_spark.operators.temporal import range_join_bucketed

    events = _t(spark, sf_dir, "events")
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("start_ts"),
        (F.col("ts") + F.expr("INTERVAL 2 HOURS")).alias("end_ts"),
    )
    clicks = events.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "value"
    )
    return (
        range_join_bucketed(
            clicks, purchases, on=["user_id"],
            point_ts="ts", start_ts="start_ts", end_ts="end_ts", bucket="1 hour",
        )
        .groupBy("purchase_id")
        .agg(
            F.count(F.lit(1)).alias("n_clicks"),
            dsum(F.col("value"), "click_value"),
        )
    )


@register(
    "sales_rollup",
    doc="ROLLUP(nation, year) subtotals + grand total over the order star",
    oracle=f"""
        SELECT n.n_name AS nation,
               CAST(year(o.o_orderdate) AS INT) AS order_year,
               COUNT(*) AS n_orders,
               {_osum('o.o_totalprice', 'revenue')}
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        GROUP BY ROLLUP(nation, order_year)
    """,
)
def sales_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical subtotals in one pass: rollup(nation, year) computes
    (nation, year), (nation), and () aggregates with a single shuffle —
    Spark expands the grouping sets map-side rather than re-scanning per
    level.
    """
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    return (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .select(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("int").alias("order_year"),
            "o_totalprice",
        )
        .rollup("nation", "order_year")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum(F.col("o_totalprice"), "revenue"),
        )
    )


@register(
    "asof_purchase_attribution",
    doc="as-of join: each click enriched with the user's latest prior purchase",
    oracle="""
        SELECT c.event_id, c.user_id, c.ts,
               p.ts AS asof_ts, p.value AS asof_value
        FROM (SELECT * FROM events WHERE event_type = 'click') c
        ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
          ON c.user_id = p.user_id AND p.ts <= c.ts
    """,
)
def asof_purchase_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time attribution (operators/temporal.py): every click gets
    the same user's most recent purchase at-or-before it — the feature-
    store join that must never leak the future. Union-tag + running
    window: one shuffle on user_id, no range explosion, no UDF. Oracle
    is DuckDB's native ASOF LEFT JOIN.
    """
    from dynaledger_spark.operators.temporal import asof_join

    events = _t(spark, sf_dir, "events")
    clicks = events.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "value"
    )
    return asof_join(clicks, purchases, on=["user_id"], payload_cols=["value"])


# ---------------------------------------------------------------------------
# Flagship: the dbt fact-table pattern (J2 + W1 + P2 + A2 + O1)
# reference: models/fact_data_load/balance_sheet_load.sql:22-53
# ---------------------------------------------------------------------------
@register(
    "fact_build",
    doc="3-way star join + filter + dense_rank + group-sum (dbt fact model shape)",
    oracle=f"""
        WITH ranked AS (
            SELECT o.o_orderkey, c.c_custkey, c.c_name, n.n_name AS nation,
                   CAST(year(o.o_orderdate) AS INT) AS order_year,
                   l.l_extendedprice * (1 - l.l_discount) AS net_price,
                   DENSE_RANK() OVER (
                       PARTITION BY c.c_custkey ORDER BY o.o_orderdate DESC
                   ) AS rn
            FROM orders o
            JOIN customer c ON o.o_custkey = c.c_custkey
            JOIN nation n ON c.c_nationkey = n.n_nationkey
            JOIN lineitem l ON l.l_orderkey = o.o_orderkey
            WHERE o.o_orderstatus = 'F'
        )
        SELECT o_orderkey, c_custkey, c_name, nation, order_year, rn,
               {_osum('net_price', 'total_value')},
               COUNT(*) AS n_lines
        FROM ranked
        GROUP BY o_orderkey, c_custkey, c_name, nation, order_year, rn
    """,
)
def fact_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-table builder: filter → star join → dense_rank → group-sum.

    Mirrors balance_sheet_load.sql:22-53 (num⋈sub⋈pre, stmt filter,
    DENSE_RANK versioning, SUM(value) GROUP BY). Spark notes: nation is a
    broadcast dim; the orders⋈lineitem join shuffles on the join key once
    and the groupBy reuses that clustering; dense_rank is deterministic
    under date ties.
    """
    # The one exchange this plan needs is placed BEFORE the joins, keyed
    # by o_custkey (≡ c_custkey on every inner-joined row): the window's
    # clustering is then already satisfied, the groupBy (whose keys
    # include the partition key) reuses it too, and the join/window/agg
    # chain runs fully parallel instead of inside the single scan task —
    # the previous shape shuffled the (wider, 4×-larger) joined rows
    # after the joins for the same single exchange (guide §2.3/§2.4).
    orders = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .repartition(F.col("o_custkey"))
    )
    customer = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    lineitem = _t(spark, sf_dir, "lineitem")

    joined = (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(lineitem, F.col("l_orderkey") == F.col("o_orderkey"))
        .select(
            "o_orderkey",
            "o_custkey",
            "c_custkey",
            "c_name",
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("int").alias("order_year"),
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("net_price"),
            "o_orderdate",
        )
    )
    # partition by o_custkey, not c_custkey: identical groups (inner
    # equi-join), but expressed in the stream side's attribute so the
    # upstream repartition satisfies the window without a new exchange
    w = W.partitionBy("o_custkey").orderBy(F.col("o_orderdate").desc())
    return (
        joined.withColumn("rn", F.dense_rank().over(w))
        .groupBy(
            "o_orderkey", "o_custkey", "c_custkey", "c_name", "nation",
            "order_year", "rn",
        )
        .agg(dsum(F.col("net_price"), "total_value"), F.count(F.lit(1)).alias("n_lines"))
        .drop("o_custkey")
    )


# ---------------------------------------------------------------------------
# J1/O1: interactive statement query (3-way join, projection, multi-key sort)
# reference: backend/main.py:163-177
# ---------------------------------------------------------------------------
@register(
    "statement_query",
    doc="3-way equi-join + projection + multi-key ORDER BY (GET /get-financial-data)",
    oracle="""
        SELECT o.o_orderkey, c.c_name, n.n_name AS nation,
               CAST(year(o.o_orderdate) AS INT) AS order_year,
               o.o_totalprice, o.o_orderpriority
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        ORDER BY o.o_orderkey
    """,
)
def statement_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sub⋈pre⋈num statement query analog (backend/main.py:163-177)."""
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    return (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .select(
            "o_orderkey",
            "c_name",
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("int").alias("order_year"),
            "o_totalprice",
            "o_orderpriority",
        )
        .orderBy("o_orderkey")
    )


# ---------------------------------------------------------------------------
# J3: anti-join FK integrity test
# reference: tests/num_validation/test_foreign_key_integrity.sql:1-5
# ---------------------------------------------------------------------------
@register(
    "anti_join_fk",
    doc="LEFT JOIN + IS NULL probe rewritten as left_anti (FK integrity)",
    oracle="""
        SELECT p.p_partkey, p.p_name
        FROM part p
        WHERE NOT EXISTS (SELECT 1 FROM lineitem l WHERE l.l_partkey = p.p_partkey)
    """,
)
def anti_join_fk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rows violating referential integrity: parts never referenced by
    lineitem. Reference writes LEFT JOIN … WHERE right IS NULL
    (test_foreign_key_integrity.sql:1-5); Spark's left_anti is the same
    plan without materializing the null side.
    """
    part = _t(spark, sf_dir, "part")
    lineitem = _t(spark, sf_dir, "lineitem")
    return part.join(
        lineitem, part.p_partkey == lineitem.l_partkey, "left_anti"
    ).select("p_partkey", "p_name")


# ---------------------------------------------------------------------------
# J4/P14: broadcast lookup join with UNKNOWN default
# reference: ext_zip_convert_into_json_store.py:76-77
# ---------------------------------------------------------------------------
@register(
    "broadcast_lookup_default",
    doc="broadcast dim lookup + coalesce default (cik→ticker with UNKNOWN)",
    oracle="""
        SELECT s.s_suppkey, s.s_name,
               COALESCE(n.n_name, 'UNKNOWN') AS nation
        FROM supplier s
        LEFT JOIN nation n
          ON s.s_nationkey = n.n_nationkey AND n.n_regionkey < 4
    """,
)
def broadcast_lookup_default(spark: SparkSession, sf_dir: str) -> DataFrame:
    """12k-row ticker lookup analog: broadcast hash join, misses default to
    'UNKNOWN' (ext_zip_convert_into_json_store.py:76-77). The extra
    n_regionkey predicate manufactures real misses so the default path is
    exercised.
    """
    supplier = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation").filter(F.col("n_regionkey") < 4)
    return (
        supplier.join(
            F.broadcast(nation),
            supplier.s_nationkey == nation.n_nationkey,
            "left",
        )
        .select(
            "s_suppkey",
            "s_name",
            F.coalesce(F.col("n_name"), F.lit("UNKNOWN")).alias("nation"),
        )
    )


# ---------------------------------------------------------------------------
# J6: lateral flatten (unnest join)
# reference: load_json_data_snowflake.py:227-228 (LATERAL FLATTEN)
# ---------------------------------------------------------------------------
@register(
    "flatten_explode",
    doc="LATERAL FLATTEN → posexplode of an array column",
    oracle="""
        SELECT vec_id,
               CAST(generate_subscripts(embedding, 1) - 1 AS INT) AS pos,
               CAST(unnest(embedding) AS DOUBLE) AS val
        FROM embeddings
        WHERE vec_id < 500
    """,
)
def flatten_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row per array element with ordinal — Snowflake LATERAL FLATTEN
    (load_json_data_snowflake.py:227-228) as posexplode. float→double cast
    is exact widening, so values hash identically in any engine.
    """
    emb = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 500)
    return emb.select(
        "vec_id", F.posexplode("embedding").alias("pos", "val")
    ).select(
        "vec_id", F.col("pos").cast("int").alias("pos"), F.col("val").cast("double").alias("val")
    )


# ---------------------------------------------------------------------------
# P11/P7: JSON path extraction + try_cast coercion
# reference: load_json_data_snowflake.py:153-161 (raw_json:"x"::TYPE);
#            zip_ext_and_parq_store.py:132-147 (to_numeric errors='coerce')
# ---------------------------------------------------------------------------
@register(
    "json_extract_cast",
    doc="JSON path extract + ::TYPE cast with coerce-to-null on failure",
    oracle="""
        SELECT event_id,
               json_extract_string(props, '$.k') AS k_raw,
               TRY_CAST(
                   CASE WHEN event_id % 7 = 0
                        THEN json_extract_string(props, '$.k') || 'x'
                        ELSE json_extract_string(props, '$.k') END
                   AS BIGINT) AS k_val
        FROM events
    """,
)
def json_extract_cast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VARIANT path extraction (`raw_json:"k"::BIGINT`) ≈ get_json_object +
    try_cast; every 7th row is corrupted to exercise coerce-to-null
    (pandas errors='coerce', zip_ext_and_parq_store.py:132-147).
    """
    events = _t(spark, sf_dir, "events")
    k_raw = F.get_json_object("props", "$.k")
    dirty = F.when(F.col("event_id") % 7 == 0, F.concat(k_raw, F.lit("x"))).otherwise(k_raw)
    return events.select(
        "event_id",
        k_raw.alias("k_raw"),
        dirty.try_cast("bigint").alias("k_val"),
    )


# ---------------------------------------------------------------------------
# J7: MERGE INTO dedup-upsert → window dedup
# reference: load_json_data_snowflake.py:165-187
# ---------------------------------------------------------------------------
@register(
    "merge_dedup_latest",
    doc="MERGE-style dedup: keep latest row per key via row_number window",
    oracle="""
        SELECT user_id, event_id, event_type, value
        FROM (
            SELECT user_id, event_id, event_type, value,
                   ROW_NUMBER() OVER (
                       PARTITION BY user_id ORDER BY ts DESC, event_id DESC
                   ) AS rn
            FROM events
        ) WHERE rn = 1
    """,
)
def merge_dedup_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snowflake MERGE dedup-by-key (load_json_data_snowflake.py:165-187)
    without mutable storage: row_number over (key, recency desc) and keep
    rn=1, then overwrite. event_id tiebreaker keeps it deterministic.
    """
    events = _t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    return (
        events.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_id", "event_type", "value")
    )


# ---------------------------------------------------------------------------
# A4: GROUP BY + HAVING duplicate detection
# reference: tests/pre_validation/test_unique_identifier.sql:1-8
# ---------------------------------------------------------------------------
@register(
    "dup_detection",
    doc="GROUP BY key HAVING COUNT(*)>1 (duplicate-key probe)",
    oracle="""
        SELECT user_id, event_type, COUNT(*) AS n
        FROM events
        GROUP BY user_id, event_type
        HAVING COUNT(*) > 1
    """,
)
def dup_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """test_unique_identifier.sql:1-8 as groupBy + filter on count."""
    events = _t(spark, sf_dir, "events")
    return (
        events.groupBy("user_id", "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 1)
    )


# ---------------------------------------------------------------------------
# A5: unique-key check (expected-empty violations)
# reference: models/staging/schema.yml:96 (unique sub.adsh)
# ---------------------------------------------------------------------------
@register(
    "unique_key_check",
    doc="dbt `unique` test: keys with count>1 (empty when clean)",
    oracle="""
        SELECT o_orderkey, COUNT(*) AS n
        FROM orders GROUP BY o_orderkey HAVING COUNT(*) > 1
    """,
)
def unique_key_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dbt unique test on the PK (schema.yml:96) — violations DataFrame."""
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_orderkey")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 1)
    )


# ---------------------------------------------------------------------------
# P18-P23: validation predicate suite (regex / range / set / null / length)
# reference: models/staging/schema.yml + singular tests (SURVEY §2.2)
# ---------------------------------------------------------------------------
@register(
    "validation_summary",
    doc="dbt-style data-quality checks: one row per rule with violation count",
    oracle="""
        SELECT 'acctbal_range' AS rule, COUNT(*) AS n_violations
            FROM customer WHERE c_acctbal NOT BETWEEN -500 AND 9000
        UNION ALL
        SELECT 'mktsegment_domain', COUNT(*) FROM customer
            WHERE c_mktsegment NOT IN
                ('AUTOMOBILE','BUILDING','FURNITURE','MACHINERY','HOUSEHOLD')
        UNION ALL
        SELECT 'orderstatus_domain', COUNT(*) FROM orders
            WHERE o_orderstatus NOT IN ('F','O','P')
        UNION ALL
        SELECT 'lang_regex', COUNT(*) FROM documents
            WHERE NOT regexp_matches(lang, '^[a-z]{2}$')
        UNION ALL
        SELECT 'text_len_range', COUNT(*) FROM documents
            WHERE length(text) NOT BETWEEN 1 AND 400
        UNION ALL
        SELECT 'name_not_null', COUNT(*) FROM customer WHERE c_name IS NULL
    """,
)
def validation_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dbt test suite (schema.yml regex/range/accepted_values/not_null,
    SURVEY §2.2 P18-P23) as composable violation counters with
    warn-severity semantics: report counts, never fail the pipeline.
    """
    customer = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    documents = _t(spark, sf_dir, "documents")

    def rule(df: DataFrame, name: str, bad) -> DataFrame:
        return (
            df.filter(bad)
            .agg(F.count(F.lit(1)).alias("n_violations"))
            .select(F.lit(name).alias("rule"), "n_violations")
        )

    segs = ["AUTOMOBILE", "BUILDING", "FURNITURE", "MACHINERY", "HOUSEHOLD"]
    checks = [
        rule(customer, "acctbal_range", ~F.col("c_acctbal").between(-500, 9000)),
        rule(customer, "mktsegment_domain", ~F.col("c_mktsegment").isin(segs)),
        rule(orders, "orderstatus_domain", ~F.col("o_orderstatus").isin("F", "O", "P")),
        rule(documents, "lang_regex", ~F.col("lang").rlike("^[a-z]{2}$")),
        rule(documents, "text_len_range", ~F.length("text").between(1, 400)),
        rule(customer, "name_not_null", F.col("c_name").isNull()),
    ]
    out = checks[0]
    for c in checks[1:]:
        out = out.unionByName(c)
    return out


# ---------------------------------------------------------------------------
# O3/A3: top-k by aggregated measure
# reference: streamlit_app.py:275-287 (groupby-sum + nlargest(10))
# ---------------------------------------------------------------------------
@register(
    "topk_customers",
    doc="group-sum + deterministic top-k (client-side pandas made engine-side)",
    oracle=f"""
        SELECT c.c_custkey, c.c_name,
               {_osum('o.o_totalprice', 'revenue')},
               COUNT(*) AS n_orders
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY c.c_custkey, c.c_name
        ORDER BY revenue DESC, c_custkey
        LIMIT 10
    """,
)
def topk_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 customers by revenue (streamlit_app.py:275-287 made a real
    distributed operator: partial-agg + TakeOrderedAndProject, no full sort).
    """
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    return (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .groupBy("c_custkey", "c_name")
        .agg(
            dsum(F.col("o_totalprice"), "revenue"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(10)
    )


@register(
    "bottomk_suppliers",
    doc="bottom-k by measure (sort asc + limit; streamlit tail(10))",
    oracle="""
        SELECT s_suppkey, s_name, s_acctbal
        FROM supplier
        ORDER BY s_acctbal ASC, s_suppkey
        LIMIT 10
    """,
)
def bottomk_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bottom-k = orderBy asc + limit (streamlit_app.py:285-287 tail)."""
    supplier = _t(spark, sf_dir, "supplier")
    return (
        supplier.select("s_suppkey", "s_name", "s_acctbal")
        .orderBy(F.col("s_acctbal").asc(), F.col("s_suppkey"))
        .limit(10)
    )


# ---------------------------------------------------------------------------
# U1: UNION ALL by column name
# reference: zip_ext_and_parq_store.py:236-303 (pd.concat across quarters)
# ---------------------------------------------------------------------------
@register(
    "union_by_name",
    doc="unionByName across differently-ordered projections (pd.concat)",
    oracle="""
        SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
            WHERE o_orderstatus = 'F'
        UNION ALL
        SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
            WHERE o_orderstatus = 'P'
    """,
)
def union_by_name(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-partition concat by name (zip_ext_and_parq_store.py:269):
    columns intentionally projected in different orders to prove
    name-based (not positional) alignment.
    """
    orders = _t(spark, sf_dir, "orders")
    a = orders.filter(F.col("o_orderstatus") == "F").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    b = orders.filter(F.col("o_orderstatus") == "P").select(
        "o_totalprice", "o_orderkey", "o_orderstatus"
    )
    return a.unionByName(b)


# ---------------------------------------------------------------------------
# P15/P18: date parse + calendar grouping
# reference: ext_zip_convert_into_json_store.py:79-89 (yyyymmdd int → date);
#            tests/num_validation/test_date_validity.sql:1-5
# ---------------------------------------------------------------------------
@register(
    "date_rollup",
    doc="date extraction + calendar rollup with exact integral sums",
    oracle="""
        SELECT CAST(year(l_shipdate) AS INT) AS ship_year,
               CAST(month(l_shipdate) AS INT) AS ship_month,
               COUNT(*) AS n_lines,
               CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
        FROM lineitem
        GROUP BY 1, 2
    """,
)
def date_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """yyyymmdd handling (P15) as native date functions + calendar group."""
    lineitem = _t(spark, sf_dir, "lineitem")
    return (
        lineitem.groupBy(
            F.year("l_shipdate").cast("int").alias("ship_year"),
            F.month("l_shipdate").cast("int").alias("ship_month"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(F.col("l_quantity").cast("bigint")).alias("sum_qty"),
        )
    )


@register(
    "date_validity",
    doc="date-validity predicate: yyyymmdd int round-trip check",
    oracle="""
        SELECT l_orderkey, l_linenumber,
               CAST(strftime(l_shipdate, '%Y%m%d') AS INT) AS ship_yyyymmdd
        FROM lineitem
        WHERE length(strftime(l_shipdate, '%Y%m%d')) = 8
          AND year(l_shipdate) BETWEEN 1900 AND 2100
    """,
)
def date_validity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LENGTH(CAST(ddate AS STRING)) = 8 validity (test_date_validity.sql:1-5)
    + fy range check (schema.yml:192-195), emitting the yyyymmdd int form
    the reference stores dates in.
    """
    lineitem = _t(spark, sf_dir, "lineitem")
    yyyymmdd = F.date_format("l_shipdate", "yyyyMMdd")
    return (
        lineitem.filter(
            (F.length(yyyymmdd) == 8) & F.year("l_shipdate").between(1900, 2100)
        )
        .select(
            "l_orderkey",
            "l_linenumber",
            yyyymmdd.cast("int").alias("ship_yyyymmdd"),
        )
    )


# ---------------------------------------------------------------------------
# A1/A6: scalar aggregates + latest-partition discovery
# reference: backend/main.py:50-57; load_json_data_snowflake.py:41-57
# ---------------------------------------------------------------------------
@register(
    "scalar_stats",
    doc="COUNT(*) probe + MAX latest-partition discovery as one summary row",
    oracle="""
        SELECT COUNT(*) AS n_orders,
               COUNT(DISTINCT o_custkey) AS n_customers,
               CAST(MAX(year(o_orderdate)) AS INT) AS latest_year,
               CAST(MIN(year(o_orderdate)) AS INT) AS earliest_year
        FROM orders
    """,
)
def scalar_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-count availability probe (backend/main.py:50-57) + MAX-over-
    partition-values latest discovery (load_json_data_snowflake.py:41-57).
    """
    orders = _t(spark, sf_dir, "orders")
    return orders.agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.countDistinct("o_custkey").alias("n_customers"),
        F.max(F.year("o_orderdate")).cast("int").alias("latest_year"),
        F.min(F.year("o_orderdate")).cast("int").alias("earliest_year"),
    )


# ---------------------------------------------------------------------------
# D2: conditional routing (CASE-routed aggregation, pivot shape)
# reference: ext_zip_convert_into_json_store.py:133-139
# ---------------------------------------------------------------------------
@register(
    "conditional_routing",
    doc="stmt-type routing as CASE-conditional aggregation (BS/CF/IC → columns)",
    oracle=f"""
        SELECT user_id,
               {_osum("CASE WHEN event_type = 'purchase' THEN value ELSE 0 END", 'purchase_value', 2)},
               {_osum("CASE WHEN event_type = 'error' THEN value ELSE 0 END", 'error_value', 2)},
               CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS n_signups,
               COUNT(*) AS n_events
        FROM events
        GROUP BY user_id
    """,
)
def conditional_routing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """if stmt=='BS'/'CF'/'IC' routing (ext_zip_convert_into_json_store.py:
    133-139) as when()-conditional aggregation — one pass, no per-row loop.
    """
    events = _t(spark, sf_dir, "events")
    val = F.col("value")
    return events.groupBy("user_id").agg(
        dsum(F.when(F.col("event_type") == "purchase", val).otherwise(F.lit(0.0)), "purchase_value", 2),
        dsum(F.when(F.col("event_type") == "error", val).otherwise(F.lit(0.0)), "error_value", 2),
        F.sum(F.when(F.col("event_type") == "signup", 1).otherwise(0)).alias("n_signups"),
        F.count(F.lit(1)).alias("n_events"),
    )


# ---------------------------------------------------------------------------
# D1: group-to-document assembly (the reverse of flatten)
# reference: ext_zip_convert_into_json_store.py:92-139
# ---------------------------------------------------------------------------
@register(
    "doc_assembly",
    doc="group-to-nested-JSON document assembly (collect_list(struct) + to_json)",
    oracle="""
        WITH it AS (
            SELECT l_orderkey, l_linenumber, l_partkey,
                   CAST(l_quantity AS BIGINT) AS qty,
                   CAST(CAST(l_extendedprice AS DECIMAL(18,2)) AS VARCHAR)
                     AS price,
                   struct_pack(line := l_linenumber, part := l_partkey,
                       qty := CAST(l_quantity AS BIGINT),
                       price := CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                                     AS VARCHAR)) AS item
            FROM lineitem)
        SELECT o_orderkey,
               CAST(to_json(struct_pack(order_id := o_orderkey,
                    status := o_orderstatus,
                    items := list(item ORDER BY l_linenumber, l_partkey,
                                  qty, price))) AS VARCHAR) AS doc
        FROM orders JOIN it ON o_orderkey = l_orderkey
        GROUP BY o_orderkey, o_orderstatus
    """,
)
def doc_assembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-filing JSON assembly (ext_zip_convert_into_json_store.py:92-139).

    The reference loops per filing over chunked scans — O(filings×rows).
    Spark-first this is one hash aggregate: groupBy(order) →
    sort_array(collect_list(struct(...))) → to_json. sort_array makes the
    array order deterministic (the loop's implicit file order).

    Oracle-exact JSON: raw doubles are NOT portably renderable (engines
    disagree on scientific-notation thresholds and shortest-roundtrip
    digits), so quantities ride as BIGINT (values are integral) and money
    as a fixed DECIMAL(18,2) string — byte-identical in Spark and DuckDB,
    and the better document contract anyway. Array order mirrors
    sort_array's full lexicographic struct compare on both sides.
    """
    lineitem = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    lines = lineitem.select(
        "l_orderkey",
        F.struct(
            F.col("l_linenumber").alias("line"),
            F.col("l_partkey").alias("part"),
            F.col("l_quantity").cast("bigint").alias("qty"),
            F.col("l_extendedprice")
            .cast("decimal(18,2)")
            .cast("string")
            .alias("price"),
        ).alias("item"),
    )
    docs = lines.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_list("item")).alias("items")
    )
    return (
        orders.join(docs, orders.o_orderkey == docs.l_orderkey)
        .select(
            "o_orderkey",
            F.to_json(
                F.struct(
                    F.col("o_orderkey").alias("order_id"),
                    F.col("o_orderstatus").alias("status"),
                    F.col("items"),
                )
            ).alias("doc"),
        )
    )


# ---------------------------------------------------------------------------
# Window extras: running aggregates + sessionization
# (beyond the reference's single dense_rank — stock Spark windows)
# ---------------------------------------------------------------------------
@register(
    "running_window",
    doc="running count + exact running sum per key (ROWS frame, unique ordering)",
    oracle="""
        SELECT event_id, user_id,
               COUNT(*) OVER w AS running_events,
               CAST(SUM(CAST(value AS DECIMAL(27,2))) OVER w AS DOUBLE) AS running_value
        FROM events
        WINDOW w AS (
            PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
        )
    """,
)
def running_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running aggregates with an explicit ROWS frame and a unique
    (ts, event_id) ordering — deterministic under timestamp ties.
    """
    events = _t(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return events.select(
        "event_id",
        "user_id",
        F.count(F.lit(1)).over(w).alias("running_events"),
        F.sum(F.col("value").cast("decimal(27,2)")).over(w).cast("double").alias("running_value"),
    )


@register(
    "sessionization",
    doc="gap-based sessionization via lag + cumulative session ids",
    oracle="""
        WITH flagged AS (
            SELECT user_id, event_id, ts,
                   CASE WHEN lag(ts) OVER w IS NULL
                             OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
                        THEN 1 ELSE 0 END AS new_session
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        sessions AS (
            SELECT user_id, event_id,
                   SUM(new_session) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS session_id
            FROM flagged
        )
        SELECT user_id,
               CAST(MAX(session_id) AS BIGINT) AS n_sessions,
               COUNT(*) AS n_events
        FROM sessions GROUP BY user_id
    """,
)
def sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionize an event stream with a 30-minute inactivity gap:
    lag(ts) → gap flag → running sum as session id. One shuffle on
    user_id serves both windows and the final aggregate.
    """
    events = _t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    epoch = F.col("ts").cast("double")
    prev_epoch = F.lag(epoch).over(w)
    flagged = events.select(
        "user_id",
        "event_id",
        "ts",
        F.when(
            prev_epoch.isNull() | ((epoch - prev_epoch) > 1800), F.lit(1)
        ).otherwise(F.lit(0)).alias("new_session"),
    )
    wsum = w.rowsBetween(W.unboundedPreceding, W.currentRow)
    sessions = flagged.select(
        "user_id",
        "event_id",
        F.sum("new_session").over(wsum).alias("session_id"),
    )
    return sessions.groupBy("user_id").agg(
        F.max("session_id").cast("bigint").alias("n_sessions"),
        F.count(F.lit(1)).alias("n_events"),
    )


# ---------------------------------------------------------------------------
# §3.2: arbitrary-SQL pass-through
# reference: backend/main.py:109-134
# ---------------------------------------------------------------------------
@register(
    "sql_passthrough",
    doc="user SQL executed verbatim by Catalyst against registered views",
    oracle="""
        SELECT r.r_name AS region, COUNT(*) AS n_nations
        FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
        GROUP BY r.r_name
    """,
)
def sql_passthrough(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POST /execute-custom-query (backend/main.py:109-134): the user's SQL
    string goes straight to spark.sql; Catalyst replaces Snowflake's
    parser/analyzer/optimizer.
    """
    from dynaledger_spark.catalog import load_tables, sql

    load_tables(spark, sf_dir, tables=("nation", "region"))
    return sql(
        spark,
        """
        SELECT r.r_name AS region, COUNT(*) AS n_nations
        FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
        GROUP BY r.r_name
        """,
    )


# ---------------------------------------------------------------------------
# ORC source/sink: the third columnar format (after parquet + JSON docs).
# ---------------------------------------------------------------------------
@register(
    "orc_roundtrip_revenue",
    doc="ORC sink + scan roundtrip: write orders as ORC, aggregate from the ORC copy",
    oracle="""
        SELECT o_orderstatus,
               COUNT(*) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(27,6))) AS DOUBLE)
                 AS revenue
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1995-01-01'
        GROUP BY o_orderstatus
    """,
)
def orc_roundtrip_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Format coverage beyond parquet/TSV/JSON: orders written as ORC
    (Spark-native columnar writer) and the aggregate computed FROM THE
    ORC COPY — the oracle over the original parquet proves the roundtrip
    is lossless (types, timestamps, doubles). The date filter is pushed
    into the ORC scan the same way as parquet (vectorized reader +
    predicate pushdown), so a user can point any registry pipeline at
    ORC data unchanged."""
    import shutil
    import tempfile

    orders = _t(spark, sf_dir, "orders")
    path = tempfile.mkdtemp(prefix="dl_orc_")
    try:
        orders.write.mode("overwrite").orc(path)
        back = spark.read.orc(path)
        return (
            back.filter(F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp"))
            .groupBy("o_orderstatus")
            .agg(
                F.count(F.lit(1)).alias("n_orders"),
                F.sum(F.col("o_totalprice").cast("decimal(27,6)"))
                .cast("double")
                .alias("revenue"),
            )
            .localCheckpoint(eager=True)  # detach from the temp dir
        )
    finally:
        shutil.rmtree(path, ignore_errors=True)


# ---------------------------------------------------------------------------
# Bucketed co-located join: the shuffle-free large-large join layout.
# ---------------------------------------------------------------------------
@register(
    "bucketed_colocated_join",
    doc="write orders+lineitem co-bucketed on orderkey, join with ZERO Exchange, aggregate",
    oracle="""
        SELECT o.o_orderpriority,
               CAST(COUNT(*) AS BIGINT) AS n_lines,
               CAST(SUM(CAST(l.l_quantity AS DECIMAL(27,6))) AS DOUBLE)
                 AS sum_qty,
               CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                             AS DECIMAL(27,6))) AS DOUBLE) AS revenue
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        WHERE o.o_orderstatus = 'F'
        GROUP BY o.o_orderpriority
    """,
)
def bucketed_colocated_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB large-large join layout as a driver-checked query:
    orders and lineitem written as co-bucketed tables (same key, same
    bucket count, sorted buckets — operators/scale.write_bucketed),
    then joined THROUGH THE BUCKETED LAYOUT. When both sides are too
    big to broadcast — the 100 TB case — Catalyst sees matching hash
    distributions on both scans and plans a SortMergeJoin with NO
    Exchange on either side (plan-asserted with broadcast disabled in
    tests/test_scale.py::test_bucketed_join_no_shuffle and for this
    very query in test_bucketed_registry_query_plan): the shuffle is
    paid once at write time and never again for a recurring fact-fact
    join — the Spark analog of the reference keeping per-quarter
    tables pre-organized for their joins (S10/S11 DDL + J2's join
    shape). At toy SF, AQE correctly broadcasts the small side instead;
    bucketing is the fallback distribution, not a pin. The oracle runs
    the identical join over the raw parquet, proving the bucketed
    layout changes the PLAN, never the result. Table names carry the
    SF tag so scales don't clobber each other; the write is an
    idempotent overwrite.
    """
    import os

    from dynaledger_spark.functions.agg import dsum
    from dynaledger_spark.operators.scale import bucketed_join, write_bucketed

    tag = os.path.basename(os.path.normpath(sf_dir)).replace(".", "_")
    t_ord, t_li = f"bkt_orders_{tag}", f"bkt_lineitem_{tag}"
    write_bucketed(
        _t(spark, sf_dir, "orders"), t_ord, ["o_orderkey"],
        n_buckets=8, sort_cols=["o_orderkey"],
    )
    write_bucketed(
        _t(spark, sf_dir, "lineitem").withColumnRenamed("l_orderkey", "o_orderkey"),
        t_li, ["o_orderkey"], n_buckets=8, sort_cols=["o_orderkey"],
    )
    joined = bucketed_join(spark, t_ord, t_li, ["o_orderkey"])
    return (
        joined.filter(F.col("o_orderstatus") == "F")
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_lines"),
            dsum(F.col("l_quantity"), "sum_qty"),
            dsum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Schema evolution: mergeSchema read across parquet generations.
# ---------------------------------------------------------------------------
@register(
    "schema_evolution_merge_read",
    doc="two parquet generations (v2 adds a column), one mergeSchema scan, NULL-safe aggregate",
    oracle="""
        WITH unioned AS (
            SELECT event_id, event_type, CAST(NULL AS DOUBLE) AS value
            FROM events WHERE event_id % 2 = 0
            UNION ALL
            SELECT event_id, event_type, value
            FROM events WHERE event_id % 2 = 1
        )
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(COUNT(value) AS BIGINT) AS n_with_value,
               CAST(SUM(CAST(value AS DECIMAL(27,6))) AS DOUBLE) AS sum_value
        FROM unioned GROUP BY event_type
    """,
)
def schema_evolution_merge_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The lake-evolution path every long-lived 100 TB dataset hits:
    generation v1 of a table lacks a column later generations carry.
    Half the events are written with the v1 schema (no `value`), half
    with v2, into sibling directories; ONE `mergeSchema=true` scan
    reads both generations with the union schema (v1 rows NULL-filled)
    and the aggregate is NULL-safe — COUNT(value) counts only v2 rows,
    the decimal-exact SUM ignores the NULL generation. The oracle
    replays the same union with an explicit NULL column, proving the
    merged read is semantically a schema-aligned UNION (reference
    parallel: the loader's error-tolerant schema-matched COPY, S7,
    extended to cross-generation layout). Scale note: mergeSchema's
    footer reconciliation is a planning-time cost per file — at lake
    scale, pin the merged schema in the catalog instead; the read path
    and NULL semantics are identical either way, which is what this
    query pins.
    """
    import shutil
    import tempfile

    ev = _t(spark, sf_dir, "events")
    root = tempfile.mkdtemp(prefix="dl_schevo_")
    try:
        ev.filter(F.col("event_id") % 2 == 0).select(
            "event_id", "event_type"
        ).write.mode("overwrite").parquet(f"{root}/gen=v1")
        ev.filter(F.col("event_id") % 2 == 1).select(
            "event_id", "event_type", "value"
        ).write.mode("overwrite").parquet(f"{root}/gen=v2")
        merged = spark.read.option("mergeSchema", "true").parquet(
            f"{root}/gen=v1", f"{root}/gen=v2"
        )
        return (
            merged.groupBy("event_type")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_rows"),
                F.count("value").cast("bigint").alias("n_with_value"),
                F.sum(F.col("value").cast("decimal(27,6)"))
                .cast("double")
                .alias("sum_value"),
            )
            .localCheckpoint(eager=True)  # detach from the temp dirs
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


# ---------------------------------------------------------------------------
# Dynamic partition pruning over a partitioned fact layout.
# ---------------------------------------------------------------------------
def _dpp_parts(spark: SparkSession, sf_dir: str, root: str):
    """Write the partitioned fact + dim, return the UN-checkpointed
    joined plan (shared by the registry builder and the plan test —
    the test asserts `dynamicpruning` reaches the fact scan)."""
    from dynaledger_spark.functions.agg import dsum

    ev = _t(spark, sf_dir, "events")
    fact_src = ev.select("event_id", "user_id", "value", "event_type")
    fact_src.write.mode("overwrite").partitionBy("event_type").parquet(
        f"{root}/events_part"
    )
    dim_src = ev.select("event_type").distinct().select(
        "event_type", F.length("event_type").alias("name_len")
    )
    dim_src.write.mode("overwrite").parquet(f"{root}/event_dim")
    # explicit schemas: a 0-row input writes zero data files and schema
    # inference would fail — with the schema pinned the empty round
    # trips cleanly (empty-corpus contract); DPP itself is unaffected
    fact = spark.read.schema(fact_src.schema).parquet(f"{root}/events_part")
    dim = (
        spark.read.schema(dim_src.schema)
        .parquet(f"{root}/event_dim")
        .filter(F.col("name_len") <= 5)
    )
    return (
        fact.join(dim.select("event_type"), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            dsum(F.col("value"), "sum_value"),
        )
    )


@register(
    "dpp_partition_pruned_join",
    doc="partitioned fact x filtered dim: dynamic partition pruning keeps unneeded partitions unread",
    oracle="""
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(SUM(CAST(value AS DECIMAL(27,6))) AS DOUBLE) AS sum_value
        FROM events
        WHERE length(event_type) <= 5
        GROUP BY event_type
    """,
)
def dpp_partition_pruned_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The partition-layout counterpart of bucketed_colocated_join:
    the fact written `partitionBy(event_type)`, the dim filtered on an
    attribute only IT carries (name_len <= 5 — a value the fact side
    cannot constant-fold), joined on the partition column. Catalyst's
    DYNAMIC PARTITION PRUNING turns the dim's filtered keys into a
    runtime subquery inside the fact scan's PartitionFilters
    (plan-asserted in tests/test_plans.py::test_dpp_reaches_fact_scan),
    so at 100 TB the fact reads ONLY the 3 surviving partitions — the
    star-schema technique that makes a selective dim filter prune
    petabytes of fact I/O without any manual predicate copying. The
    oracle replays the semantic result (filter + aggregate over the
    raw table), proving layout and pruning change I/O, never answers.
    """
    import shutil
    import tempfile

    root = tempfile.mkdtemp(prefix="dl_dpp_")
    try:
        return _dpp_parts(spark, sf_dir, root).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)


@register(
    "map_functions_props",
    doc="MapType surface: from_json to map, sorted keys, element lookup, size",
    oracle="""
        SELECT event_id,
               array_to_string(list_sort(json_keys(props)), ',') AS prop_keys,
               CAST(json_extract(props, '$.k') AS BIGINT) AS k_value,
               CAST(len(json_keys(props)) AS INT) AS n_props
        FROM events
    """,
)
def map_functions_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MapType side of the semi-structured surface (flatten/explode
    and struct paths are covered by J6/P11): parse the JSON props into
    a typed map<string,bigint>, then map_keys / element_at / size —
    all JVM expressions in one codegen span. Keys ship sorted-joined as
    a string because raw map columns have no canonical cross-engine
    ordering; scalars derived from the map do."""
    events = _t(spark, sf_dir, "events")
    m = F.from_json(F.col("props"), "map<string,bigint>")
    return events.select(
        "event_id",
        F.array_join(F.array_sort(F.map_keys(m)), ",").alias("prop_keys"),
        F.element_at(m, "k").alias("k_value"),
        F.size(m).cast("int").alias("n_props"),
    )
