"""Structured Streaming shell over the batch transforms (SURVEY §2.10).

The reference's 'streaming' is external micro-batching: a Lambda assigns
``[START_LOG_ID, END_LOG_ID]`` ranges and a container processes one slice
(scripts/run_incremental_batch.py:29-41), with watermarks tracked by hand
(``MAX(last_seen)`` + ``timestamp > :last_time``, src/db/pattern_ops.py:12-46)
and exactly-once faked by idempotent upserts (src/db/log_ops.py:47-81).

Spark-native mapping:
- slice range          → file-source offsets / Trigger.AvailableNow catch-up
- hand watermarks      → ``withWatermark`` + append mode
- scoring body         → ``pipelines.score_batch`` per micro-batch
                         (``run_incremental_pipeline``): the same embed,
                         assign, idempotent sinks and anomaly pass as the
                         slice driver, with the history tagged by batch id
- batch_order status   → the checkpoint's commit log (S9)

Every transformation is the SAME function used in batch (operators/*,
pipelines.score_batch) — the stream shells only wire sources and sinks.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import apply_runtime_conf
from ..sources.tables import merge_parquet, normalize_nano_ts, put_tagged


def read_events_stream(
    spark: SparkSession, sf_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-source stream over the events table, read in place, with the
    schema and ts normalization of the batch loader (``load_table``)."""
    apply_runtime_conf(spark)
    # a glob matching only the table: the file source requires a plain
    # path to be a directory, and testdata keeps every table as one file
    # in a shared dir (a table directory matches the glob too)
    src = f"{sf_dir.rstrip('/')}/event[s].parquet"
    reader = spark.readStream.schema(spark.read.parquet(src).schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return normalize_nano_ts(reader.parquet(src), "events")


def windowed_volume(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Streaming tumbling-window volume per event_type (T3/T5): the
    streaming twin of ``relational.hourly_volume`` with late-data handling
    the reference can't express (its late rows silently skew history)."""
    return (
        events.withColumn("ts_tz", F.col("ts").cast("timestamp"))
        .withWatermark("ts_tz", watermark)
        .groupBy(F.window("ts_tz", "1 hour").alias("win"), F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("cnt"), F.sum("value").alias("sum_value"))
        .select(
            F.col("win.start").alias("hour"),
            "event_type",
            "cnt",
            "sum_value",
        )
    )


def run_incremental_pipeline(spark: SparkSession, sf_dir: str, work_dir: str) -> None:
    """The reference's incremental scoring batch (SURVEY §3.1) as ONE
    streaming query with AvailableNow catch-up: each micro-batch of the
    rows ``R.scorable`` keeps runs the slice driver's
    ``pipelines.score_batch`` tagged with its ``batch_id``. The checkpoint
    (``<work_dir>/_checkpoint``) is the commit marker; a replayed batch
    (foreachBatch is at-least-once) appends no key twice, replaces its own
    history file and opens no incident twice."""
    # pipelines imports pyspark.ml, which the other stream shells skip
    from ..operators.relational import scorable
    from ..pipelines import score_batch

    def process(batch_df: DataFrame, batch_id: int) -> None:
        score_batch(batch_df.sparkSession, batch_df, work_dir, str(batch_id))

    events = read_events_stream(spark, sf_dir).filter(scorable())
    q = (
        events.writeStream.foreachBatch(process)
        .option("checkpointLocation", os.path.join(work_dir, "_checkpoint"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def run_windowed_volume(
    spark: SparkSession, sf_dir: str, out_dir: str
) -> None:
    """Streaming windowed aggregation to a parquet sink.

    Append output mode: a window is emitted exactly once, after the
    watermark closes it — so the sink never sees partial counts. The sink
    itself writes each micro-batch as the one file
    ``volume/<batch_id>.parquet`` (``put_tagged``), so a replayed batch
    (foreachBatch is at-least-once) replaces its file instead of
    duplicating rows.
    """
    vol = windowed_volume(read_events_stream(spark, sf_dir))

    def write(df: DataFrame, bid: int) -> None:
        put_tagged(df, f"{out_dir}/volume", str(bid))

    q = (
        vol.writeStream.foreachBatch(write)
        .outputMode("append")
        .option("checkpointLocation", os.path.join(out_dir, "_checkpoint_vol"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def session_volume(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours"
) -> DataFrame:
    """Streaming sessionization via ``session_window`` (the native twin of
    the batch gaps-and-islands ``relational.sessionize``): a session closes
    after ``gap`` of silence, emitted once the watermark passes."""
    return (
        events.withColumn("ts_tz", F.col("ts").cast("timestamp"))
        .withWatermark("ts_tz", watermark)
        .groupBy(F.session_window("ts_tz", gap).alias("win"), F.col("user_id"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("win.start").alias("session_start"),
            F.col("win.end").alias("session_end"),
            "user_id",
            "n_events",
        )
    )


def correlated_pairs_stream(
    events: DataFrame,
    left_type: str = "signup",
    right_type: str = "error",
    watermark: str = "2 hours",
    lookback_sec: int = 3600,
    how: str = "inner",
) -> DataFrame:
    """Stream-stream join: every ``right_type`` event paired with the
    same user's ``left_type`` events from the preceding ``lookback_sec``.

    The streaming form of the batch as-of/interval join family
    (operators/relational.py asof_last_event): both sides are the SAME
    watermarked stream filtered two ways, joined on user + a time-range
    predicate. The range bound plus the watermark lets Spark expire join
    state — without it, stream-stream state grows forever; this is the
    canonical scalable shape (state ∝ users active within the lookback,
    not stream length).

    ``how='left_outer'`` additionally emits every unmatched left event
    with NULL right columns once its join state expires (the streaming
    "signup that never errored" report); ``'right_outer'`` emits the
    symmetric right-null rows instead (errors no signup preceded), and
    ``'full_outer'`` emits both. Emission
    timing is driven by state eviction — semantics probed and pinned in
    tests/test_louter_twin.py: matches emit immediately (the per-batch
    join runs BEFORE that batch's eviction), null-emits fire in the
    batch whose eviction watermark first exceeds the row's matchable
    horizon (l_ts + lookback on the left, r_ts itself on the right —
    including a trailing no-data batch after the last input batch), and
    unmatched state that never expires is discarded at availableNow
    termination.
    """
    from pyspark.sql import functions as F

    # watermarks require tz-aware TIMESTAMP (session tz is pinned UTC by the
    # session factory, so the cast is a pure type relabel)
    base = events.withColumn("ts", F.col("ts").cast("timestamp")).withWatermark(
        "ts", watermark
    )
    left = base.filter(F.col("event_type") == left_type).select(
        F.col("user_id").alias("l_user"),
        F.col("event_id").alias("l_event_id"),
        F.col("ts").alias("l_ts"),
    )
    right = base.filter(F.col("event_type") == right_type).select(
        F.col("user_id").alias("r_user"),
        F.col("event_id").alias("r_event_id"),
        F.col("ts").alias("r_ts"),
    )
    if how not in ("inner", "left_outer", "right_outer", "full_outer"):
        raise ValueError(
            "how must be 'inner', 'left_outer', 'right_outer' or"
            " 'full_outer'"
        )
    return left.join(
        right,
        (F.col("l_user") == F.col("r_user"))
        & (F.col("l_ts") <= F.col("r_ts"))
        & (F.col("l_ts") >= F.col("r_ts") - F.expr(f"INTERVAL {lookback_sec} SECONDS")),
        how,
    )


def merge_sink(out_dir: str, key: str = "event_id"):
    """foreachBatch MERGE sink over ``{out_dir}/data``: the update-capable
    sibling of the scoring stream's insert-only sink
    (``sources.tables.upsert_parquet``). Each micro-batch is one
    ``sources.tables.merge_parquet`` (WHEN MATCHED update, WHEN NOT MATCHED
    insert), so a target holding a column the batch lacks raises, as does an
    unreadable one, instead of being replaced.

    Replay-idempotent on at-least-once delivery: re-merging the same batch
    updates rows to the values they already hold and inserts nothing new.
    On a table format (Delta/Iceberg) this whole sink is one MERGE INTO
    with snapshot isolation; the rename swap is the plain-parquet stand-in.
    """

    def write(batch_df: DataFrame, batch_id: int) -> None:
        merge_parquet(batch_df.sparkSession, f"{out_dir}/data", batch_df, key)

    return write
