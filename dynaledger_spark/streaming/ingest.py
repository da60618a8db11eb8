"""Structured Streaming ingest + stateful operators over the events table.

The reference is batch-only (SURVEY.md §2.9: every DAG is manually
triggered, `schedule_interval=None`), so this module is the engine's
forward-looking ingest path: the same landing-directory pattern the
reference polls with S3 listings (s3_data_checker.py:7-14,
load_json_data_snowflake.py:30-59) becomes a file-source stream consumed
with `Trigger.AvailableNow` — batch-like cost, streaming semantics, exactly
-once file tracking via the checkpoint log.

Scale posture (100 TB / 1000 executors):
  * the file source only lists + tracks names; per-microbatch work is a
    normal partitioned parquet scan, so executor parallelism is identical
    to batch;
  * watermark + windowed aggregation keeps state bounded by (windows in
    flight x keys), not by stream length;
  * sessionization state is per-user and evicted by event-time timeout —
    the `applyInPandasWithState` operator holds only open sessions;
  * swap the directory for Kafka and nothing downstream changes.
"""

from __future__ import annotations

from typing import Iterator

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from dynaledger_spark.functions.agg import dsum

def is_dir_table(spark: SparkSession, path: str) -> bool:
    """True iff `path` is a DIRECTORY-layout parquet table, resolved
    through the Hadoop FileSystem abstraction so HDFS/S3 landing dirs
    (the at-scale norm) are detected too — `os.path.isdir` sees only
    the driver's local disk, which would silently re-engage the
    zero-row leaf-glob path on an object store (ADVICE r11 items 2-3).
    The path's own scheme picks the filesystem (s3a://, hdfs://, plain
    local); a gateway failure falls back to the local check rather
    than guessing."""
    try:
        jvm = spark._jvm
        hpath = jvm.org.apache.hadoop.fs.Path(path)
        fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
        return bool(fs.isDirectory(hpath))
    except Exception:
        import os

        return os.path.isdir(path)


def list_table_files(spark: SparkSession, path: str, suffix: str = ".parquet") -> list[str]:
    """Names of the data files directly under a table path, resolved
    through the Hadoop FileSystem abstraction (same reasoning as
    :func:`is_dir_table`: an `os.listdir` would see only the driver's
    local disk, so a compaction sizing pass against an S3/HDFS table
    would silently count zero source files — VERDICT r12 residual).
    A non-directory path (single-file table) returns [path] when it
    matches the suffix. Local `os.listdir` is the gateway-failure
    fallback only."""
    try:
        jvm = spark._jvm
        hpath = jvm.org.apache.hadoop.fs.Path(path)
        fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
        if not fs.isDirectory(hpath):
            return [path] if path.endswith(suffix) else []
        return sorted(
            st.getPath().getName()
            for st in fs.listStatus(hpath)
            if st.isFile() and st.getPath().getName().endswith(suffix)
        )
    except Exception:
        import os

        if not os.path.isdir(path):
            return [path] if path.endswith(suffix) else []
        return sorted(f for f in os.listdir(path) if f.endswith(suffix))


# The driver's events.parquet timestamp physical type has varied across
# testdata generations: TIMESTAMP(NANOS) (reads as a plain long under
# spark.sql.legacy.parquet.nanosAsLong) through round 2, TIMESTAMP(MICROS,
# isAdjustedToUTC=false) (reads as TIMESTAMP_NTZ) from round 3. The
# streaming source needs an explicit schema, so `events_stream` probes the
# batch reader's resolved schema (a footer read, no data scan) and
# normalizes ts to TimestampType either way.
EVENTS_RAW_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.LongType()),  # epoch nanos (rounds 1-2 files)
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def events_stream(
    spark: SparkSession,
    landing_dir: str,
    schema: T.StructType | None = None,
    max_files_per_trigger: int | None = None,
    glob: str | None = None,
) -> DataFrame:
    """File-source stream over a landing directory of event parquet files.

    Explicit schema (streaming requires it; we'd declare it anyway —
    SURVEY.md §1.3 bans inference). Nanos-long `ts` is normalized to a
    microsecond timestamp at the source, same truncation DuckDB applies.
    `glob` restricts the listing (the source needs a directory path).
    """
    # Self-sufficient under a foreign SparkSession: TIMESTAMP(NANOS)
    # parquet needs nanosAsLong even with an explicit long schema
    # (runtime-settable; same defensive set as catalog.read_table).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # `glob` names the table within the landing dir. pathGlobFilter
    # matches LEAF FILE names only — when the table is a Spark-written
    # DIRECTORY (<glob>/part-*.parquet, the normal at-scale layout, and
    # the 10x probe's), no leaf matches and the stream silently reads 0
    # rows (round-11 10x sweep find). Descend into the directory and
    # drop the filter instead.
    import os

    if glob is not None and is_dir_table(spark, os.path.join(landing_dir, glob)):
        landing_dir = os.path.join(landing_dir, glob)
        glob = None
    if schema is None:
        # Probe the resolved batch schema (footer read) so the declared
        # stream schema matches whichever timestamp physical type these
        # files carry — long epoch-nanos or TIMESTAMP_NTZ micros.
        probe = spark.read
        if glob is not None:
            probe = probe.option("pathGlobFilter", glob)
        try:
            probed_ts = probe.parquet(landing_dir).schema["ts"].dataType
        except Exception:
            probed_ts = None
        schema = EVENTS_RAW_SCHEMA
        if probed_ts is not None and not isinstance(probed_ts, T.LongType):
            schema = T.StructType(
                [
                    T.StructField(f.name, probed_ts if f.name == "ts" else f.dataType)
                    for f in EVENTS_RAW_SCHEMA.fields
                ]
            )
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    if glob is not None:
        reader = reader.option("pathGlobFilter", glob)
    df = reader.parquet(landing_dir)
    if isinstance(df.schema["ts"].dataType, T.LongType):
        df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    elif isinstance(df.schema["ts"].dataType, T.TimestampNTZType):
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def windowed_event_counts(
    events: DataFrame,
    window_duration: str = "1 minute",
    watermark_delay: str = "2 minutes",
) -> DataFrame:
    """Tumbling-window count + exact sum per (window, event_type).

    The watermark bounds state: windows older than (max event time −
    delay) are finalized and evicted. Works identically on a batch
    DataFrame (watermark is a no-op there) — one definition, two runtimes.
    """
    return (
        events.withWatermark("ts", watermark_delay)
        .groupBy(F.window("ts", window_duration).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum(F.col("value"), "sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def run_available_now(stream_df: DataFrame, query_name: str, output_mode: str = "complete") -> DataFrame:
    """Drain everything currently in the source and return the result.

    `Trigger.AvailableNow` processes all available input (in rate-limited
    microbatches if the source sets them) then stops — the streaming
    equivalent of a batch run, with checkpointable exactly-once semantics.
    Memory sink is for tests/interactive use; production would
    `writeStream.format('parquet')` with a checkpoint dir.
    """
    q = (
        stream_df.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return stream_df.sparkSession.table(query_name)


def replay_as_batches(
    df: DataFrame,
    landing_dir: str,
    n_batches: int,
    ts_col: str = "ts",
    max_rows: int = 1_000_000,
) -> str:
    """Write a batch DataFrame as N time-ordered landing files.

    Test/replay harness: file order (modification time) follows event
    time, so a `maxFilesPerTrigger=1` stream sees watermarks advance the
    way a live source would. Stand-in for Kafka in this container.

    Fixture-sized inputs (<= max_rows) keep the GLOBAL-SORT ntile split:
    exact equal-count batches, single partition, fine for tests — and
    batch boundaries are part of the streaming queries' watermark
    semantics, so the test split must stay byte-stable. Corpus-sized
    inputs take the SCALE path instead: equal TIME-RANGE buckets
    assigned scan-side from one (min, max) aggregate — no global sort,
    no single-task shuffle, and file order still follows event time
    (time-range buckets are if anything MORE faithful to a live
    source's arrival order than row-count ntile). Empty buckets still
    write a (0-row) landing file so the trigger count is preserved.
    """
    n_rows = df.count()
    if n_rows > max_rows:
        # lo/hi computed with the SAME epoch arithmetic the bucketing
        # expression uses (cast('double') on both sides) — a python
        # lo.timestamp() interprets a naive datetime in host-local TZ
        # and can push frac negative under TIMESTAMP_NTZ or a
        # session-TZ/host-TZ mismatch, silently dropping rows from the
        # 1..n bucket loop (ADVICE r9 item 2).
        lo, hi = df.agg(
            F.min(F.col(ts_col).cast("double")),
            F.max(F.col(ts_col).cast("double")),
        ).first()
        span = max(float(hi) - float(lo), 1e-9)
        frac = (F.col(ts_col).cast("double") - F.lit(float(lo))) / F.lit(span)
        bucketed = df.withColumn(
            "_b",
            F.greatest(
                F.lit(1),
                F.least(
                    F.lit(n_batches),
                    (F.floor(frac * n_batches) + 1).cast("int"),
                ),
            ),
        ).localCheckpoint()
        written = 0
        for i in range(1, n_batches + 1):
            part = bucketed.filter(F.col("_b") == i).drop("_b")
            written += part.count()
            part.write.mode("append").parquet(landing_dir)
        assert written == n_rows, (
            f"time-range bucketing dropped rows: wrote {written} of "
            f"{n_rows} — bucket expression out of [1, {n_batches}]"
        )
        return landing_dir
    if n_batches == 1:
        # no ordering needed for a single landing file — skip the
        # global-sort ntile (a single-partition window, fine for a test
        # harness but pure waste when there is nothing to split).
        df.coalesce(1).write.mode("append").parquet(landing_dir)
        return landing_dir
    # checkpointed once, so every batch filter sees the same ntile
    # assignment (a recompute could break ts ties differently)
    bucketed = df.withColumn(
        "_b", F.ntile(n_batches).over(Window.orderBy(ts_col))
    ).localCheckpoint()
    for i in range(1, n_batches + 1):
        (
            bucketed.filter(F.col("_b") == i)
            .drop("_b")
            .coalesce(1)
            .write.mode("append")
            .parquet(landing_dir)
        )
    return landing_dir


def stream_stream_attribution(
    clicks: DataFrame,
    purchases: DataFrame,
    window: str = "2 hours",
    watermark_delay: str = "10 minutes",
) -> DataFrame:
    """Stream-stream inner join: each click pairs with same-user purchases
    at-or-before it within `window` of event time.

    The hardest Structured Streaming operator: both sides are unbounded,
    so the event-time range condition + watermarks are what let Spark
    evict join state (a purchase older than watermark+window can never
    match a future click and is dropped). Drained with AvailableNow the
    result equals the batch theta-join — the registry oracle proves it.
    """
    c = clicks.withWatermark("ts", watermark_delay).alias("c")
    p = purchases.withWatermark("ts", watermark_delay).alias("p")
    return c.join(
        p,
        F.expr(
            f"""
            c.user_id = p.user_id AND
            p.ts <= c.ts AND
            p.ts >= c.ts - INTERVAL {window}
            """
        ),
    ).select(
        F.col("c.event_id").alias("click_id"),
        F.col("c.user_id").alias("user_id"),
        F.col("c.ts").alias("click_ts"),
        F.col("p.event_id").alias("purchase_id"),
        F.col("p.ts").alias("purchase_ts"),
        F.col("p.value").alias("purchase_value"),
    )


# ---------------------------------------------------------------------------
# Custom stateful operator: event-time sessionization
# ---------------------------------------------------------------------------
SESSION_SCHEMA = (
    "user_id long, session_start timestamp, session_end timestamp, "
    "n_events int, sum_value double"
)
_STATE_SCHEMA = "start_us long, last_us long, n int, total double"
_US = 1_000_000


def _gap_to_us(gap: str) -> int:
    qty, unit = gap.split()
    mult = {"second": 1, "seconds": 1, "minute": 60, "minutes": 60, "hour": 3600, "hours": 3600}[unit]
    return int(qty) * mult * _US


def sessionize_stream(
    events: DataFrame,
    gap: str = "10 minutes",
    watermark_delay: str = "0 seconds",
) -> DataFrame:
    """Per-user sessions with an inactivity gap, as arbitrary stateful
    processing (`applyInPandasWithState`, event-time timeout).

    A session closes when no event arrives for `gap` of *event time*: the
    state row carries (start, last, n, sum) and an event-time timeout at
    last+gap; when the watermark passes it, the operator is invoked with
    `state.hasTimedOut` and emits the closed session. Only open sessions
    occupy memory — state is O(active users), not O(events).
    """
    import numpy as np
    import pandas as pd  # local: executors import lazily

    gap_us = _gap_to_us(gap)

    def _emit(key: tuple, closed: list[tuple[int, int, int, float]]) -> "pd.DataFrame":
        # columnar construction: one vectorized to_datetime per field, not
        # a pd.Timestamp object per session (thousands per key per batch).
        s_us = np.fromiter((c[0] for c in closed), dtype="int64", count=len(closed))
        e_us = np.fromiter((c[1] for c in closed), dtype="int64", count=len(closed))
        return pd.DataFrame(
            {
                "user_id": np.full(len(closed), key[0], dtype="int64"),
                "session_start": pd.to_datetime(s_us, unit="us"),
                "session_end": pd.to_datetime(e_us, unit="us"),
                "n_events": np.fromiter(
                    (c[2] for c in closed), dtype="int32", count=len(closed)
                ),
                "sum_value": np.fromiter(
                    (c[3] for c in closed), dtype="float64", count=len(closed)
                ),
            }
        )

    def fn(
        key: tuple, pdfs: Iterator["pd.DataFrame"], state: GroupState
    ) -> Iterator["pd.DataFrame"]:
        if state.hasTimedOut:
            start_us, last_us, n, total = state.get
            state.remove()
            yield _emit(key, [(start_us, last_us, n, total)])
            return

        parts = [p for p in pdfs if len(p)]
        if not parts:
            return
        ts = np.concatenate([p["ts"].astype("int64").to_numpy() // 1000 for p in parts])
        vals = np.concatenate([p["value"].to_numpy(dtype="float64") for p in parts])
        order = np.argsort(ts, kind="stable")
        ts, vals = ts[order], vals[order]

        # split the batch into gap-separated runs (vectorized)
        cut = np.flatnonzero(np.diff(ts) > gap_us) + 1
        starts = np.concatenate(([0], cut))
        ends = np.concatenate((cut, [len(ts)]))  # exclusive
        runs = [
            (int(ts[s]), int(ts[e - 1]), int(e - s), float(vals[s:e].sum()))
            for s, e in zip(starts, ends)
        ]

        # merge the carried-over open session with the first run if contiguous
        closed: list[tuple[int, int, int, float]] = []
        if state.exists:
            s0, l0, n0, t0 = state.get
            if runs and runs[0][0] - l0 <= gap_us:
                r = runs[0]
                runs[0] = (min(s0, r[0]), max(l0, r[1]), n0 + r[2], t0 + r[3])
            else:
                closed.append((s0, l0, n0, t0))

        closed.extend(runs[:-1])  # every run with an observed gap after it
        start_us, last_us, n, total = runs[-1]
        state.update((start_us, last_us, n, total))
        state.setTimeoutTimestamp((last_us + gap_us) // 1000)  # ms epoch
        if closed:
            yield _emit(key, closed)

    return (
        events.withWatermark("ts", watermark_delay)
        .groupBy("user_id")
        .applyInPandasWithState(
            fn,
            outputStructType=SESSION_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


# ---------------------------------------------------------------------------
# foreachBatch upsert materialization (streaming MERGE without Delta)
# ---------------------------------------------------------------------------
def run_upsert_materialize(
    stream_df: DataFrame,
    table_path: str,
    checkpoint_dir: str,
    keys: list[str],
    order_col: str,
    tiebreak_col: str,
    n_buckets: int = 64,
) -> None:
    """Maintain a parquet "gold" table as LATEST-ROW-PER-KEY under a
    stream of updates — the reference's MERGE INTO upsert
    (load_json_data_snowflake.py:165-187, J7) kept incrementally by
    `foreachBatch` instead of re-run wholesale.

    Scale design: the gold table is partitioned by a hash bucket of the
    key. Each microbatch (1) window-dedups itself, (2) reads back ONLY
    the buckets it touches (partition pruning on the filter), (3)
    re-dedups the union, and (4) rewrites ONLY those buckets via dynamic
    partition overwrite. Merge cost is ∝ touched partitions, never table
    size — the vanilla-Spark shape of what Delta/Iceberg MERGE does with
    a transaction log. Exactly-once per input file via the stream
    checkpoint; the batch is localCheckpoint'ed so the overwrite never
    reads the path it is replacing.
    """
    from pyspark.sql.utils import AnalysisException

    key_cols = [F.col(k) for k in keys]

    def _latest(df: DataFrame) -> DataFrame:
        w = Window.partitionBy(*keys).orderBy(
            F.col(order_col).desc(), F.col(tiebreak_col).desc()
        )
        return (
            df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        newest = _latest(batch_df).withColumn(
            "_bucket", F.pmod(F.hash(*key_cols), F.lit(n_buckets))
        )
        touched = [r["_bucket"] for r in newest.select("_bucket").distinct().collect()]
        try:
            current = spark.read.parquet(table_path).filter(
                F.col("_bucket").isin(touched)
            )
            merged = _latest(newest.unionByName(current))
        except AnalysisException:  # first batch: table doesn't exist yet
            merged = newest
        # materialize before overwriting the files it was read from
        merged = merged.localCheckpoint(eager=True)
        old_mode = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        try:
            merged.write.mode("overwrite").partitionBy("_bucket").parquet(table_path)
        finally:
            spark.conf.set("spark.sql.sources.partitionOverwriteMode", old_mode)

    q = (
        stream_df.writeStream.foreachBatch(merge)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
