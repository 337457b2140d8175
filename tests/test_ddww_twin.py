"""dropDuplicatesWithinWatermark semantics — probed, pinned, and
rehearsed as an oracle-paired twin (the r7 catalog candidate for the
NATIVE watermarked-dedup state machine; streaming/dedup.py's registry
twin covers the custom foreachBatch form).

Pinned rules (each discriminated by the probe below; organic micros
data never lands on the untested boundary-equality cases):

1. per dedup key, the FIRST processed row is emitted and its event
   time T is stored; later duplicates are suppressed and do NOT
   extend T (a suppressed 07:30 duplicate of a 01:00 row leaves
   expiry at 01:00 + delay);
2. "first processed" = input-file order within the micro-batch (the
   single-mapper batches this harness writes preserve it through the
   shuffle), NOT min event time;
3. state evicts at a batch boundary when T + delay < watermark —
   a key whose T + delay still clears the watermark keeps
   suppressing (T < watermark alone does NOT evict);
4. input rows with ts < watermark are dropped entirely (no emission,
   no state);
5. the watermark carries the same one-batch lag the other stream
   twins pin: the value governing batch b derives from batches
   ≤ b − 2 (batch 1 runs under the initial zero watermark).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from .conftest import SF_DIR
from .oracle_harness import compare_one, duckdb_conn

_DELAY_H = 168  # 7 days: every oracle arm non-vacuous at sf0.01
# (e0=740, e1=10 first-emissions; 683 evictions; 2556 late drops;
# 454 re-admissions; 37 keys suppressed by live state — measured)
_N_BATCHES = 3


def _us(h: int, m: int) -> int:
    return 1_704_067_200_000_000 + (h * 3600 + m * 60) * 1_000_000


def _run(spark, slices):
    from logstream_processing_service_spark.streaming.drive import (
        run_deterministic_batches,
    )

    def xform(s):
        return (
            s.withColumn("ts", F.timestamp_micros(F.col("ts_us")))
            .withWatermark("ts", "2 hours")
            .dropDuplicatesWithinWatermark(["k"])
            .select("k", "event_id")
        )

    cap = run_deterministic_batches(spark, slices, xform, output_mode="append")
    return sorted((r["k"], r["event_id"], r["_batch"]) for r in cap.collect())


def test_ddww_semantics_probe(spark):
    """One fixture exercising all five pinned rules; fails with a
    recalibration message naming the oracle builder if Spark's
    dedup-state machine shifts under an upgrade."""
    schema = "ts_us long, k string, event_id long"
    mk = lambda rows: spark.createDataFrame(rows, schema)  # noqa: E731
    slices = [
        mk([
            (_us(6, 45), "w", 2), (_us(5, 30), "w", 1),  # rule 2: file order
            (_us(6, 0), "x", 11),   # rule 3: T+delay=08:00 > wm 07:00 → live
            (_us(4, 30), "y", 12),  # rule 3: T+delay=06:30 < 07:00 → evicted
            (_us(1, 0), "a", 13),
            (_us(9, 0), "hi", 14),  # drives the watermark: 09:00 − 2h
        ]),
        mk([
            (_us(7, 30), "a", 21),  # rule 5: suppressed under the zero wm
            (_us(8, 55), "pad", 22),
        ]),
        mk([
            (_us(8, 0), "x", 31),   # suppressed: x still live
            (_us(8, 10), "y", 32),  # emitted: y evicted (rule 3)
            (_us(8, 30), "a", 33),  # emitted: a evicted; rule 1 — the
            # suppressed 07:30 duplicate did NOT extend a's T=01:00
            (_us(5, 0), "z", 34),   # rule 4: late (< 07:00) → dropped
        ]),
    ]
    got = _run(spark, slices)
    want = [
        ("a", 13, 0), ("a", 33, 2), ("hi", 14, 0), ("pad", 22, 1),
        ("w", 2, 0), ("x", 11, 0), ("y", 12, 0), ("y", 32, 2),
    ]
    if got != want:
        pytest.fail(
            "dropDuplicatesWithinWatermark state semantics changed under "
            "this Spark version — recalibrate the oracle rules in "
            f"tests/test_ddww_twin.py. Observed: {got}"
        )


def test_ddww_twin_hash_matches_oracle(spark):
    """Full driver-harness parity on the real events table at the
    driver's SF via the registered catalog fn (hoisted in r7)."""
    from logstream_processing_service_spark.queries_streaming import (
        _ddww_oracle,
        q_ddww_twin,
    )

    con = duckdb_conn(SF_DIR)
    r = compare_one(spark, con, "ddww_twin", q_ddww_twin, _ddww_oracle(), SF_DIR)
    assert r["status"] == "OK", r
