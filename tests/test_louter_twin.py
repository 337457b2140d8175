"""Stream-stream LEFT OUTER join semantics — probed, pinned, rehearsed
(the r7 catalog candidate extending stream_join_twin's inner-join row
to the outer-join state machine: null-emission on state eviction).

Pinned rules, each discriminated by the probe fixture below (on top of
the inner twin's filtered max-combine watermark pin):

1. matched pairs emit immediately in the batch where both sides meet —
   the per-batch JOIN runs BEFORE that batch's eviction, so a left
   whose state is due for eviction still matches a right arriving in
   the same batch (probe arm u5);
2. an unmatched left null-emits in the batch whose eviction watermark
   first exceeds l_ts + lookback; eviction during batch b uses the
   watermark from batches ≤ b−1 — one batch AHEAD of the late-input
   filter's ≤ b−2 lag, so a left can be admitted and evict-emitted in
   the same batch (probe arm u3);
3. after the last input batch, a trailing NO-DATA batch runs one final
   eviction under the all-batches watermark (probe arm u6);
4. unmatched lefts whose state never expires are discarded silently at
   availableNow termination (probe arm u8).

Because matches always beat eviction (rule 1), the emitted SET needs
only two arms: the inner twin's match conditions, plus null rows for
admitted never-matched lefts with l_ts + lookback < the final
watermark — the per-batch eviction schedule only affects WHICH batch a
null lands in, which the twin deliberately does not project.
"""

from __future__ import annotations

import pytest
pytestmark = pytest.mark.slow  # tiered run: see pytest.ini (r13 VERDICT #1)

from pyspark.sql import functions as F

from .conftest import SF_DIR
from .oracle_harness import compare_one, duckdb_conn

_DELAY_H = 480     # the inner twin's 20-day delay — arms at sf0.01:
_LOOKBACK_S = 6 * 3600  # 175 pairs, 387 null-emits, 1231 silent-tail,
_N = 3                  # 233 late-dropped signups (measured)


def _us(h: int, m: int) -> int:
    return 1_704_067_200_000_000 + (h * 3600 + m * 60) * 1_000_000


def test_louter_semantics_probe(spark):
    """One fixture exercising rules 1-4 with a 2h watermark / 1h
    lookback; fails with a recalibration message if Spark's outer-join
    eviction machinery shifts."""
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
            # rule 1: signup 7 is evictable under b2's eviction
            # watermark (05:30 < 06:00) yet matched by the error
            # arriving IN b2 — join runs first
            (_us(4, 30), 5, "signup", 7),
            (_us(1, 0), 1, "signup", 1), (_us(1, 10), 1, "error", 2),
            (_us(5, 0), 9, "error", 90),    # b0 joined-type max 05:00 →
            # b2's late-input filter sits at 03:00 (w over batches ≤ 0)
        ]),
        # an ERROR at 08:00 (rights never null-emit) drags b2's
        # eviction watermark (w over batches ≤ 1) to 06:00
        mk([(_us(8, 0), 8, "error", 80)]),
        mk([
            (_us(5, 0), 5, "error", 8),     # completes rule 1's pair
            # rule 2: admitted (03:30 > 03:00 late filter) then
            # evict-emitted in the SAME batch (04:30 < 06:00)
            (_us(3, 30), 3, "signup", 61),
            # rule 3: survives b2's eviction (07:30 ≥ 06:00); only the
            # trailing no-data batch's all-batches watermark (10:00,
            # from the 12:00 signup below) catches it
            (_us(6, 30), 7, "signup", 63),
            # rule 4: 10:30 clears even the final watermark → silent
            (_us(9, 30), 6, "signup", 62),
            # the final-watermark driver; itself silent (13:00 ≥ 10:00)
            (_us(12, 0), 10, "signup", 81),
        ]),
    ]
    captured = run_deterministic_batches(
        spark,
        slices,
        lambda s: correlated_pairs_stream(
            s.withColumn("ts", F.timestamp_micros(F.col("ts_us"))),
            watermark="2 hours",
            lookback_sec=3600,
            how="left_outer",
        ),
        output_mode="append",
    )
    key = lambda t: tuple(-1 if x is None else x for x in t)  # noqa: E731
    got = sorted(
        (
            (r["l_event_id"], r["r_event_id"], r["_batch"])
            for r in captured.collect()
        ),
        key=key,
    )
    want = sorted(
        [(1, 2, 0), (7, 8, 2), (61, None, 2), (63, None, 3)], key=key
    )
    if got != want:
        pytest.fail(
            "Structured Streaming's outer-join eviction semantics "
            "changed under this Spark version — recalibrate the oracle "
            f"in tests/test_louter_twin.py. Observed: {got}"
        )


def test_louter_twin_hash_matches_oracle(spark):
    """Full driver-harness parity on the real events table at the
    driver's SF — runs the REGISTERED catalog fn (queries_streaming
    hoisted the rehearsal in r7)."""
    from logstream_processing_service_spark.queries_streaming import (
        _louter_oracle,
        q_louter_twin,
    )

    con = duckdb_conn(SF_DIR)
    r = compare_one(
        spark, con, "louter_twin", q_louter_twin, _louter_oracle(), SF_DIR
    )
    assert r["status"] == "OK", r


def test_fouter_right_eviction_probe(spark):
    """full_outer adds the symmetric right-null arm: an error's state
    evicts when r_ts < the eviction watermark (no lookback slack — it
    only matches signups AT OR BEFORE it, so once the watermark passes
    it no future signup can qualify), with the same same-batch and
    trailing no-data emission mechanics as the left side."""
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
            (_us(1, 0), 1, "signup", 1), (_us(1, 10), 1, "error", 2),
            (_us(1, 30), 9, "error", 90),   # evicts in b1 (01:30 < 03:00)
            (_us(5, 0), 19, "error", 91),   # b0 max; evicts in b2 (< 10:00)
        ]),
        mk([(_us(12, 0), 8, "error", 80)]),  # drags b2's eviction wm to
        # 10:00; itself ≥ 10:00 → silent tail
        mk([
            (_us(4, 0), 12, "error", 92),   # admitted (> 03:00 late
            # filter) then evict-emitted same batch (04:00 < 10:00)
            (_us(3, 30), 3, "signup", 61),  # the left arm still fires
        ]),
    ]
    captured = run_deterministic_batches(
        spark,
        slices,
        lambda s: correlated_pairs_stream(
            s.withColumn("ts", F.timestamp_micros(F.col("ts_us"))),
            watermark="2 hours",
            lookback_sec=3600,
            how="full_outer",
        ),
        output_mode="append",
    )
    key = lambda t: tuple(-1 if x is None else x for x in t)  # noqa: E731
    got = sorted(
        (
            (r["l_event_id"], r["r_event_id"], r["_batch"])
            for r in captured.collect()
        ),
        key=key,
    )
    want = sorted(
        [
            (1, 2, 0), (None, 90, 1), (None, 91, 2), (None, 92, 2),
            (61, None, 2),
        ],
        key=key,
    )
    if got != want:
        pytest.fail(
            "Structured Streaming's full-outer eviction semantics "
            "changed under this Spark version — recalibrate the oracle "
            f"in tests/test_louter_twin.py. Observed: {got}"
        )


def test_fouter_twin_hash_matches_oracle(spark):
    """Full driver-harness parity for how='full_outer' via the
    registered catalog fn."""
    from logstream_processing_service_spark.queries_streaming import (
        _fouter_oracle,
        q_fouter_twin,
    )

    con = duckdb_conn(SF_DIR)
    r = compare_one(
        spark, con, "fouter_twin", q_fouter_twin, _fouter_oracle(), SF_DIR
    )
    assert r["status"] == "OK", r


def test_router_right_arm_only(spark):
    """right_outer = the fouter fixture's matched + right-null rows,
    with NO left-null rows — same pinned eviction rules, one arm."""
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
            (_us(1, 0), 1, "signup", 1), (_us(1, 10), 1, "error", 2),
            (_us(1, 30), 9, "error", 90),
            (_us(5, 0), 19, "error", 91),
        ]),
        mk([(_us(8, 0), 8, "error", 80)]),
        mk([
            (_us(4, 0), 12, "error", 92),
            (_us(3, 30), 3, "signup", 61),  # unmatched LEFT: must NOT
            # null-emit under right_outer
        ]),
    ]
    captured = run_deterministic_batches(
        spark,
        slices,
        lambda s: correlated_pairs_stream(
            s.withColumn("ts", F.timestamp_micros(F.col("ts_us"))),
            watermark="2 hours",
            lookback_sec=3600,
            how="right_outer",
        ),
        output_mode="append",
    )
    key = lambda t: tuple(-1 if x is None else x for x in t)  # noqa: E731
    got = sorted(
        (
            (r["l_event_id"], r["r_event_id"])
            for r in captured.collect()
        ),
        key=key,
    )
    want = sorted(
        [(1, 2), (None, 90), (None, 91), (None, 92)], key=key
    )
    assert got == want


def test_router_twin_hash_matches_oracle(spark):
    """Full driver-harness parity for how='right_outer' — the r8 queue
    candidate completing the stream-stream join family (inner r6,
    left/full r7, right r8)."""
    from logstream_processing_service_spark.queries_streaming import (
        _router_oracle,
        q_router_twin,
    )

    con = duckdb_conn(SF_DIR)
    r = compare_one(
        spark, con, "router_twin", q_router_twin, _router_oracle(), SF_DIR
    )
    assert r["status"] == "OK", r
