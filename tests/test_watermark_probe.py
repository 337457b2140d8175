"""Watermark-lag probe (VERDICT r5 #3).

``_windowed_volume_twin_oracle`` (queries_streaming.py) unrolls Spark's
watermark trajectory with an EMPIRICALLY PINNED scheduler detail: the
watermark computed from micro-batch 0's max event time does not filter
micro-batch 1's input (admission lags one batch) but does govern the
late filter from batch 2 on and the eviction that emits closed windows.
That is an implementation detail of Structured Streaming's micro-batch
planner, not a documented contract — a Spark upgrade could legally shift
it and the oracle would silently assert stale semantics.

This probe plants timestamps that make the three pinned behaviors
observable in the emitted set and fails with a recalibration message
naming the oracle when any of them shifts:

- batch 0: events at 01:15 and 10:30  → watermark_0 = 08:30
- batch 1: event at 01:30 — OLDER than watermark_0. One-batch lag ⇒
  admitted (window [01:00,02:00) emits cnt=2); zero lag ⇒ dropped
  (cnt=1 or no emission).
- batch 2: event at 01:45 — must be dropped (late under watermark_0),
  and must NOT re-emit the already-closed window.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def _us(hour: int, minute: int) -> int:
    # a fixed day, micros since epoch
    base = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
    return base + (hour * 3600 + minute * 60) * 1_000_000


def test_watermark_one_batch_lag_probe(spark):
    from logstream_processing_service_spark.streaming.drive import (
        run_deterministic_batches,
    )
    from logstream_processing_service_spark.streaming.pipeline import (
        windowed_volume,
    )

    schema = "ts_us long, event_type string, value double"
    mk = lambda rows: spark.createDataFrame(rows, schema)  # noqa: E731
    slices = [
        mk([(_us(1, 15), "a", 1.0), (_us(10, 30), "a", 1.0)]),
        mk([(_us(1, 30), "a", 1.0)]),
        mk([(_us(1, 45), "a", 1.0)]),
    ]
    captured = run_deterministic_batches(
        spark,
        slices,
        lambda s: windowed_volume(
            s.withColumn("ts", F.timestamp_micros(F.col("ts_us"))),
            watermark="2 hours",
        ),
        output_mode="append",
    )
    rows = sorted(
        (r["hour"].hour, r["cnt"], r["_batch"]) for r in captured.collect()
    )

    recal = (
        "Structured Streaming's watermark scheduling changed under this "
        "Spark version — recalibrate _windowed_volume_twin_oracle and "
        "_session_twin_oracle in queries_streaming.py (the pinned "
        "one-batch admission lag no longer holds). Observed emissions "
        f"(hour, cnt, _batch): {rows}"
    )
    # exactly one window emitted: [01:00,02:00) with BOTH the batch-0
    # and the batch-1 row (admission lag), WITHOUT the batch-2 late row
    if len(rows) != 1:
        pytest.fail(recal)
    hour, cnt, batch = rows[0]
    if hour != 1 or cnt != 2:
        pytest.fail(recal)
    # the emission lands when batch 1's completion evicts the window;
    # a shift here changes per-batch capture grouping, not the final
    # set — still worth a loud flag
    if batch != 1:
        pytest.fail(recal)


def _run_join_probe(spark, max_row_type: str) -> list[tuple[int, int]]:
    """3-batch correlated_pairs_stream fixture with one 20:00 row of
    ``max_row_type`` in batch 0 (the only row anywhere near the top of
    the time range) — whether and how that row advances the watermark
    is exactly what discriminates the candidate semantics."""
    from logstream_processing_service_spark.streaming.drive import (
        run_deterministic_batches,
    )
    from logstream_processing_service_spark.streaming.pipeline import (
        correlated_pairs_stream,
    )

    schema = "ts_us long, user_id long, event_type string, event_id long"
    mk = lambda rows: spark.createDataFrame(rows, schema)  # noqa: E731
    slices = [
        mk([
            (_us(1, 0), 1, "signup", 1),
            (_us(1, 10), 1, "error", 2),
            (_us(20, 0), 9, max_row_type, 100),
        ]),
        mk([(_us(10, 0), 2, "signup", 3), (_us(10, 5), 2, "error", 4)]),
        mk([
            (_us(17, 0), 3, "signup", 5),
            (_us(17, 5), 3, "error", 6),
            (_us(19, 0), 4, "signup", 7),
            (_us(19, 5), 4, "error", 8),
        ]),
    ]
    captured = run_deterministic_batches(
        spark,
        slices,
        lambda s: correlated_pairs_stream(
            s.withColumn("ts", F.timestamp_micros(F.col("ts_us"))),
            watermark="2 hours",
            lookback_sec=3600,
        ),
        output_mode="append",
    )
    return sorted(
        (r["l_event_id"], r["r_event_id"]) for r in captured.collect()
    )


def test_join_watermark_filtered_max_combine_probe(spark):
    """_stream_join_twin_oracle (queries_streaming.py) pins the join
    watermark as the MAX batch-0 event time OVER THE TWO JOINED TYPES:
    the single logical EventTimeWatermark node branches into one
    physical instance per join input, the type filters are pushed below
    the instances (the predicate doesn't touch the event-time column),
    and the instances' reports combine into the shared node's watermark
    by MAX. Two fixture variants separate this from both rejected
    models; if a Spark upgrade shifts ANY of it, this fails with a
    recalibration message instead of letting the oracle silently
    assert stale semantics.

    Variant A — the 20:00 row is an UNRELATED type ('view'): it must
    advance NOTHING (filters below the instances), watermark stays at
    08:05, and the 17:00/17:05 batch-2 pair IS emitted. The rejected
    all-rows-max model predicts 18:00 and drops it.

    Variant B — the 20:00 row is a 'signup': it drags the SHARED node
    to 18:00 through max-combine, so 17:00/17:05 is dropped on BOTH
    sides even though the error-side instance only ever saw 10:05. The
    rejected min-combine / per-side model predicts 08:05 and admits it.
    19:00/19:05 emits in both variants (non-vacuity control).
    """
    recal = (
        "Structured Streaming's watermark placement changed under this "
        "Spark version — recalibrate _stream_join_twin_oracle in "
        "queries_streaming.py (the filtered max-combine pin no longer "
        "holds). Observed pairs: variant A (view-typed max row) {a}, "
        "variant B (signup-typed max row) {b}"
    )
    a = _run_join_probe(spark, "view")
    b = _run_join_probe(spark, "signup")
    if a != [(1, 2), (3, 4), (5, 6), (7, 8)] or b != [(1, 2), (3, 4), (7, 8)]:
        pytest.fail(recal.format(a=a, b=b))
