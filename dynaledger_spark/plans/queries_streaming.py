"""Streaming queries over the `events` table.

Each runs a real Structured Streaming query to completion with
`Trigger.AvailableNow` and returns the drained result as a batch
DataFrame, so the driver's comparison machinery (and the DuckDB oracle,
where expressible) applies unchanged.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession

from dynaledger_spark.plans.registry import register


class _stream_partitions:
    """Temporarily shrink shuffle partitions for a streaming run.

    The state store allocates one instance per shuffle partition per
    operator; for the bench-scale streams 8 partitions cut fixed
    per-batch overhead ~4× without changing results. On a real cluster
    this knob would instead match executor count.
    """

    def __init__(self, spark: SparkSession, n: int = 8):
        self.spark, self.n = spark, n

    def __enter__(self):
        self.old = self.spark.conf.get("spark.sql.shuffle.partitions")
        self.spark.conf.set("spark.sql.shuffle.partitions", str(self.n))

    def __exit__(self, *exc):
        self.spark.conf.set("spark.sql.shuffle.partitions", self.old)


@register(
    "stream_windowed_counts",
    doc="Structured Streaming tumbling-window count+sum, AvailableNow drain",
    oracle="""
        SELECT date_trunc('minute', ts) AS window_start,
               event_type,
               COUNT(*) AS n_events,
               CAST(SUM(CAST(value AS DECIMAL(27,6))) AS DOUBLE) AS sum_value
        FROM events
        GROUP BY date_trunc('minute', ts), event_type
    """,
)
def stream_windowed_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-minute tumbling windows per event_type via readStream →
    watermark → window agg → memory sink (complete mode). Same answer as
    the batch GROUP BY — the oracle proves it. At scale the sink becomes
    partitioned parquet/Kafka and the memory table goes away.
    """
    from dynaledger_spark.streaming import (
        events_stream,
        run_available_now,
        windowed_event_counts,
    )

    stream = events_stream(spark, sf_dir, glob="events.parquet")
    agg = windowed_event_counts(stream)
    name = f"stream_wc_{uuid.uuid4().hex[:8]}"
    with _stream_partitions(spark):
        return run_available_now(agg, name, output_mode="complete")


@register(
    "stream_stream_join",
    doc="stream-stream event-time interval join (clicks x purchases), AvailableNow drain",
    oracle="""
        SELECT c.event_id AS click_id, c.user_id, c.ts AS click_ts,
               p.event_id AS purchase_id, p.ts AS purchase_ts,
               p.value AS purchase_value
        FROM (SELECT * FROM events WHERE event_type = 'click') c
        JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
          ON c.user_id = p.user_id
         AND p.ts <= c.ts
         AND p.ts >= c.ts - INTERVAL 2 HOUR
    """,
)
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two watermarked streams joined on user with an event-time range —
    the join state Spark must hold is bounded by watermark + window, so
    it runs forever on a live source. Drained with AvailableNow it
    reproduces the batch theta-join bitwise (the oracle checks it).
    """
    from pyspark.sql import functions as F

    from dynaledger_spark.streaming import (
        events_stream,
        run_available_now,
        stream_stream_attribution,
    )

    stream = events_stream(spark, sf_dir, glob="events.parquet")
    clicks = stream.filter(F.col("event_type") == "click")
    purchases = stream.filter(F.col("event_type") == "purchase")
    joined = stream_stream_attribution(clicks, purchases)
    name = f"stream_ssj_{uuid.uuid4().hex[:8]}"
    with _stream_partitions(spark):
        return run_available_now(joined, name, output_mode="append")


@register(
    "stream_sessionization",
    doc="stateful per-user sessionization (applyInPandasWithState, event-time timeout)",
    oracle=None,  # arbitrary stateful streaming — rows-only driver check
)
def stream_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream purchase events through the custom stateful sessionizer
    and close sessions by event-time timeout as the watermark advances.
    One data microbatch + the no-data timeout batch: the timeout path
    still fires (the final watermark closes every gap-expired session —
    output is identical to the 2-batch replay, verified), while the
    multi-batch state-carry behavior is pinned in unit tests where its
    extra microbatch scheduling cost belongs. Purchase-only because this
    entry demonstrates the CUSTOM operator (applyInPandasWithState) —
    its cost is the Python emission of one row per session, and the
    full corpus at sf0.1 is ~95k sessions of microbatch overhead; the
    native `stream_session_windows` twin is the full-corpus default
    path. Sessions still open at end-of-replay stay in state, as they
    would on a live stream.
    """
    from dynaledger_spark.catalog import read_table
    from dynaledger_spark.streaming import (
        events_stream,
        replay_as_batches,
        run_available_now,
        sessionize_stream,
    )

    events = (
        read_table(spark, sf_dir, "events")
        .filter("event_type = 'purchase'")
        .select("event_id", "ts", "user_id", "event_type", "value", "props")
    )
    landing = tempfile.mkdtemp(prefix="dl_sessions_")
    try:
        # nanos already normalized by read_table → write micros timestamps
        replay_as_batches(events, landing, n_batches=1)
        from pyspark.sql import types as T

        schema = T.StructType(
            [
                T.StructField("event_id", T.LongType()),
                T.StructField("ts", T.TimestampType()),
                T.StructField("user_id", T.LongType()),
                T.StructField("event_type", T.StringType()),
                T.StructField("value", T.DoubleType()),
                T.StructField("props", T.StringType()),
            ]
        )
        stream = events_stream(spark, landing, schema=schema, max_files_per_trigger=1)
        sessions = sessionize_stream(stream, gap="30 minutes")
        name = f"stream_sess_{uuid.uuid4().hex[:8]}"
        with _stream_partitions(spark):
            out = run_available_now(sessions, name, output_mode="append")
        # The memory sink buffers result rows in the driver JVM — the
        # landing dir can be deleted without a round-trip through Python
        # (a collect + createDataFrame here cost seconds at sf0.1).
        return out
    finally:
        shutil.rmtree(landing, ignore_errors=True)


@register(
    "stream_upsert_materialize",
    doc="foreachBatch MERGE: latest-row-per-user gold table, bucket-scoped rewrites",
    oracle="""
        SELECT user_id, ts, event_type, value FROM (
            SELECT user_id, ts, event_type, value,
                   row_number() OVER (PARTITION BY user_id
                       ORDER BY ts DESC, event_id DESC) AS rn
            FROM events
        ) WHERE rn = 1
    """,
)
def stream_upsert_materialize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming MERGE INTO (the reference's J7 upsert,
    load_json_data_snowflake.py:165-187, maintained incrementally):
    events replayed as 2 microbatches upsert a parquet gold table keyed
    by user, newest (ts, event_id) wins. The table is hash-bucketed and
    each batch rewrites only the buckets it touches (dynamic partition
    overwrite) — merge cost ∝ touched partitions, not table size, which
    is the vanilla-Spark shape of a transaction-log MERGE. The final
    table equals batch latest-per-key (the oracle).
    """
    from pyspark.sql import functions as F

    from dynaledger_spark.catalog import read_table
    from dynaledger_spark.streaming import (
        events_stream,
        replay_as_batches,
        run_upsert_materialize,
    )

    events = read_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    root = tempfile.mkdtemp(prefix="dl_upsert_")
    landing, gold, ckpt = f"{root}/landing", f"{root}/gold", f"{root}/ckpt"
    replay_as_batches(events, landing, n_batches=2)
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    stream = events_stream(spark, landing, schema=schema, max_files_per_trigger=1)
    with _stream_partitions(spark):
        run_upsert_materialize(
            stream, gold, ckpt,
            keys=["user_id"], order_col="ts", tiebreak_col="event_id",
        )
    from dynaledger_spark.streaming.ingest import is_dir_table

    if not is_dir_table(spark, gold):
        # empty input: no microbatch ever merged, so no gold table was
        # materialized — the latest-per-key of nothing is the typed
        # empty table (oracle yields 0 rows too)
        shutil.rmtree(root, ignore_errors=True)
        return spark.createDataFrame([], schema).select(
            "user_id", "ts", "event_type", "value"
        )
    out = (
        spark.read.parquet(gold)
        .select("user_id", "ts", "event_type", "value")
        .localCheckpoint(eager=True)  # detach from the temp dir before cleanup
    )
    shutil.rmtree(root, ignore_errors=True)
    return out


@register(
    "stream_dedup_within_watermark",
    doc="dropDuplicatesWithinWatermark: bounded-state streaming dedup by user",
    oracle="SELECT DISTINCT user_id FROM events",
)
def stream_dedup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The bounded-state twin of stream_dedup_docs: state rows expire
    once the watermark passes their event time + delay, so memory is
    O(keys seen per horizon), not O(stream lifetime) — the only dedup
    that survives an unbounded stream. With the delay spanning this
    corpus drain the emitted set equals batch DISTINCT (the oracle);
    on a live stream, duplicates farther apart than the horizon would
    intentionally re-emit.
    """
    from pyspark.sql import functions as F

    from dynaledger_spark.streaming import events_stream, run_available_now

    stream = events_stream(spark, sf_dir, glob="events.parquet")
    deduped = (
        stream.select("user_id", "ts")
        .withWatermark("ts", "30 days")
        .dropDuplicatesWithinWatermark(["user_id"])
        .select("user_id")
    )
    name = f"stream_ddw_{uuid.uuid4().hex[:8]}"
    with _stream_partitions(spark):
        return run_available_now(deduped, name, output_mode="append")


@register(
    "stream_static_enrich",
    doc="stream-static broadcast join: purchase stream enriched with customer dims",
    oracle="""
        SELECT e.event_id, e.ts, e.user_id, c.c_name,
               n.n_name AS nation, e.value
        FROM events e
        JOIN customer c ON e.user_id = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        WHERE e.event_type = 'purchase'
    """,
)
def stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The canonical streaming-ETL enrichment: a live event stream joined
    against slowly-changing dimension tables. The static side
    (customer ⋈ nation) is broadcast, so the join is stateless — no
    watermark, no state store, each microbatch hash-probes the same
    broadcast map — and append mode emits exactly the batch-join rows
    (the oracle proves it). At scale the dimension refresh is just
    re-reading the table between batches; stream side never shuffles.
    """
    from pyspark.sql import functions as F

    from dynaledger_spark.catalog import read_table
    from dynaledger_spark.streaming import events_stream, run_available_now

    stream = events_stream(spark, sf_dir, glob="events.parquet")
    purchases = stream.filter(F.col("event_type") == "purchase")
    dims = (
        read_table(spark, sf_dir, "customer")
        .join(
            F.broadcast(read_table(spark, sf_dir, "nation")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select("c_custkey", "c_name", F.col("n_name").alias("nation"))
    )
    enriched = purchases.join(
        F.broadcast(dims), purchases.user_id == dims.c_custkey
    ).select("event_id", "ts", "user_id", "c_name", "nation", "value")
    name = f"stream_enrich_{uuid.uuid4().hex[:8]}"
    with _stream_partitions(spark):
        return run_available_now(enriched, name, output_mode="append")


@register(
    "stream_dedup_docs",
    doc="streaming exact dedup: state-store distinct over the doc stream",
    oracle="SELECT DISTINCT text FROM documents",
)
def stream_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`dropDuplicates` on a streaming source: the state store remembers
    every key seen so far, so each distinct text is emitted exactly once
    no matter how input is batched — the streaming half of dedup_exact.
    Projecting to the key column BEFORE dedup keeps both the state rows
    and the output deterministic. Unbounded streams cap state with
    `dropDuplicatesWithinWatermark`; this corpus drain needs no horizon.
    """
    from pyspark.sql import types as T

    from dynaledger_spark.streaming import run_available_now

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    )
    # directory-layout tables (documents.parquet/part-*.parquet, the
    # at-scale layout): descend instead of leaf-file glob-filtering,
    # which would silently match zero files (round-11 10x sweep find).
    # Layout detection goes through the shared Hadoop-FS helper so
    # object-store sf_dirs are detected too (ADVICE r11 item 3).
    import os

    from dynaledger_spark.streaming.ingest import is_dir_table

    doc_path = os.path.join(sf_dir, "documents.parquet")
    if is_dir_table(spark, doc_path):
        stream = spark.readStream.schema(schema).parquet(doc_path)
    else:
        stream = (
            spark.readStream.schema(schema)
            .option("pathGlobFilter", "documents.parquet")
            .parquet(sf_dir)
        )
    deduped = stream.select("text").dropDuplicates(["text"])
    name = f"stream_dedup_{uuid.uuid4().hex[:8]}"
    with _stream_partitions(spark):
        return run_available_now(deduped, name, output_mode="append")


@register(
    "stream_time_bucket_ohlc",
    doc="streaming hourly OHLC continuous aggregate (min_by/max_by open/close), AvailableNow drain",
    oracle="""
        WITH b AS (
            SELECT event_type, date_trunc('hour', ts) AS bucket_ts, ts, event_id, value,
                   row_number() OVER (PARTITION BY event_type, date_trunc('hour', ts)
                                      ORDER BY ts, event_id) AS rn_a,
                   row_number() OVER (PARTITION BY event_type, date_trunc('hour', ts)
                                      ORDER BY ts DESC, event_id DESC) AS rn_d
            FROM events
        )
        SELECT event_type, bucket_ts,
               MAX(CASE WHEN rn_a = 1 THEN value END) AS open_value,
               MAX(value) AS high_value,
               MIN(value) AS low_value,
               MAX(CASE WHEN rn_d = 1 THEN value END) AS close_value,
               COUNT(*) AS n_events,
               CAST(SUM(CAST(value AS DECIMAL(27,6))) AS DOUBLE) AS sum_value
        FROM b GROUP BY event_type, bucket_ts
    """,
)
def stream_time_bucket_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The continuous-aggregate form of `time_bucket_ohlc`: open/close
    become `min_by`/`max_by` over the unique (ts, event_id) ordering key
    — unlike row_number these are true aggregates, so the same rollup
    runs incrementally on a live stream with watermark-bounded state
    (one row of state per open bucket). Drained with AvailableNow it
    must reproduce the batch window formulation bitwise — the oracle is
    the identical SQL the batch query verifies against.
    """
    from pyspark.sql import functions as F

    from dynaledger_spark.functions.agg import dsum
    from dynaledger_spark.streaming import events_stream, run_available_now

    stream = events_stream(spark, sf_dir, glob="events.parquet")
    key = F.struct(F.col("ts"), F.col("event_id"))
    agg = (
        stream.withWatermark("ts", "2 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.min_by("value", key).alias("open_value"),
            F.max("value").alias("high_value"),
            F.min("value").alias("low_value"),
            F.max_by("value", key).alias("close_value"),
            F.count(F.lit(1)).alias("n_events"),
            dsum(F.col("value"), "sum_value"),
        )
        .select(
            "event_type",
            F.col("w.start").alias("bucket_ts"),
            "open_value",
            "high_value",
            "low_value",
            "close_value",
            "n_events",
            "sum_value",
        )
    )
    name = f"stream_ohlc_{uuid.uuid4().hex[:8]}"
    with _stream_partitions(spark):
        return run_available_now(agg, name, output_mode="complete")


@register(
    "stream_session_windows",
    doc="native session_window streaming aggregation (30-min gap), AvailableNow drain",
    oracle="""
        WITH flagged AS (
            SELECT user_id, event_id, ts, value,
                   CASE WHEN lag(ts) OVER w IS NULL
                             OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                                > 1800 * 1000000
                        THEN 1 ELSE 0 END AS new_session
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        sessions AS (
            SELECT user_id, event_id, ts, value,
                   SUM(new_session) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
            FROM flagged
        )
        SELECT user_id, MIN(ts) AS session_start, MAX(ts) AS session_last_event,
               COUNT(*) AS n_events,
               CAST(SUM(CAST(value AS DECIMAL(27,6))) AS DOUBLE) AS session_value
        FROM sessions GROUP BY user_id, sid
    """,
)
def stream_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark's NATIVE session windows (`F.session_window`) — the
    built-in alternative to the custom applyInPandasWithState
    sessionizer (`stream_sessionization`): the state store merges
    per-event windows [t, t+gap] as they arrive, INCLUSIVE at the
    boundary — an event landing exactly `gap` after the previous one
    still merges, so sessions split only when the gap is STRICTLY
    exceeded and the oracle's lag condition is `>`. (Round 3 documented
    `>=` from runs on random-microsecond data where exact-gap pairs
    can't occur; the round-4 hypothesis suite
    test_session_window_gap_boundary found the true boundary rule.)
    Watermark bounds session state; drained with AvailableNow it
    reproduces the batch gap-split bitwise.
    """
    from pyspark.sql import functions as F

    from dynaledger_spark.functions.agg import dsum
    from dynaledger_spark.streaming import events_stream, run_available_now

    stream = events_stream(spark, sf_dir, glob="events.parquet")
    agg = (
        stream.withWatermark("ts", "2 minutes")
        .groupBy(
            F.session_window(F.col("ts"), "30 minutes").alias("w"), "user_id"
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum(F.col("value"), "session_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            (F.col("w.end") - F.expr("INTERVAL 30 MINUTES")).alias(
                "session_last_event"
            ),
            "n_events",
            "session_value",
        )
    )
    name = f"stream_sw_{uuid.uuid4().hex[:8]}"
    with _stream_partitions(spark):
        return run_available_now(agg, name, output_mode="complete")


@register(
    "stream_anomaly_zscore",
    doc="stream scoring vs broadcast batch thresholds: purchases beyond mean ± 3σ per type",
    oracle="""
        WITH mom AS (
            SELECT event_type,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                       AS s1,
                   SUM(CAST(CAST(round(value * 100) AS BIGINT) AS HUGEINT)
                       * CAST(round(value * 100) AS BIGINT)) AS s2
            FROM events GROUP BY 1
        ),
        thr AS (
            SELECT event_type,
                   CAST(s1 AS DOUBLE) / n AS mu,
                   sqrt((CAST(s2 AS DOUBLE)
                         - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n)
                        / n) AS sigma
            FROM mom
        )
        SELECT e.event_id, e.event_type, e.value,
               round((CAST(round(e.value * 100) AS BIGINT) - t.mu)
                     / t.sigma, 6) AS z
        FROM events e JOIN thr t ON t.event_type = e.event_type
        WHERE abs(CAST(round(e.value * 100) AS BIGINT) - t.mu)
              > 3.0 * t.sigma
    """,
)
def stream_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-scoring-on-a-stream, the inference-serving pattern: per-type
    (μ, σ) thresholds are fit BATCH-side from exact integer moments,
    broadcast onto the live stream, and each microbatch flags events
    beyond 3σ statelessly — no watermark, no state store, the
    stream side never shuffles. The oracle is the batch formulation
    over the same corpus, so append-mode output must equal the batch
    answer row-for-row (σ > 0 for every type on this data, so the
    boundary arithmetic is identical IEEE in both engines).
    """
    from pyspark.sql import functions as F

    from dynaledger_spark.catalog import read_table
    from dynaledger_spark.streaming import events_stream, run_available_now

    ev = read_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("bigint")
    mom = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(cents).cast("bigint").alias("s1"),
        F.sum((cents.cast("decimal(19,0)") * cents).cast("decimal(38,0)")).alias(
            "s2"
        ),
    )
    nd = F.col("n").cast("double")
    s1d = F.col("s1").cast("double")
    thr = mom.select(
        "event_type",
        (s1d / nd).alias("mu"),
        F.sqrt((F.col("s2").cast("double") - s1d * s1d / nd) / nd).alias(
            "sigma"
        ),
    )
    stream = events_stream(spark, sf_dir, glob="events.parquet")
    scored = stream.join(F.broadcast(thr), "event_type").filter(
        F.abs(cents - F.col("mu")) > 3.0 * F.col("sigma")
    )
    out = scored.select(
        "event_id",
        "event_type",
        "value",
        F.round((cents - F.col("mu")) / F.col("sigma"), 6).alias("z"),
    )
    name = f"stream_zscore_{uuid.uuid4().hex[:8]}"
    with _stream_partitions(spark):
        return run_available_now(out, name, output_mode="append")
