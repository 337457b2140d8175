"""Deterministically drive a stateful streaming transformation over an
explicit micro-batch split, capturing every batch's output — the harness
that makes applyInPandasWithState / transformWithState operators
driver-checkable (the generalization of the registry-twin pattern in
streaming/dedup.py: that sink is a foreachBatch fn and could be called
directly; arbitrary stateful TRANSFORMATIONS need a real streaming query,
which this module runs with availableNow + maxFilesPerTrigger=1).

Batch boundaries: each slice is written as its own single-file parquet
directory; the data files' mtimes are then SET EXPLICITLY in batch order
(os.utime, strictly increasing whole seconds), which is the order
FileStreamSource processes them under maxFilesPerTrigger=1 — so
micro-batch b contains exactly slice b's rows. Pinning mtimes (rather
than relying on sequential write completion, the pre-r13 form) both
hardens the ordering contract and lets the slice writes run CONCURRENTLY
(guide §2.6 — independent jobs overlap; the writes share scan work and
executor tails). Output capture is a foreachBatch parquet sink that tags
rows with ``_batch``, so callers can reconstruct per-batch emissions
(append ops) or final state (update ops) without depending on sink row
order.

State-partition sizing (r13, guide §2.2/§2.5): a stateful micro-batch
pays per-partition state-store open/commit on EVERY batch, so running a
bounded twin stream at the session's batch shuffle parallelism multiplies
fixed state-store cost by partitions × stores × batches (measured 14.5 s
→ 3.8 s on the stream-join twin at sf0.1, identical output). The stream's
shuffle-partition count is therefore derived from the STAGED INPUT SIZE
(~32 MB of input per state partition, clamped to [1, defaultParallelism])
— scale-adaptive, not a local-mode constant: a 100× corpus raises the
derived count toward the cluster's parallelism. The session's batch
setting is restored after the stream finishes.
"""

from __future__ import annotations

import os
import shutil
import time
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import fan_out, scratch_dir

# ~bytes of staged micro-batch input per state partition: state volume for
# these bounded twins tracks input volume, and partitions far below this
# size are pure per-store fixed cost (open + delta commit per batch).
_STATE_PARTITION_BYTES = 32 * 1024 * 1024


def _stream_shuffle_partitions(
    spark: SparkSession, src: str, min_partitions: int | None = None
) -> int:
    """Input-size-derived state-partition count for the twin stream (see
    module docstring). ``min_partitions``: floor for transforms that do
    real per-key Python compute inside the batch (grouped-map operators
    like denstream — collapsing them to 1-2 partitions serializes the
    per-group work; measured +30% on the denstream twin)."""
    total = 0
    for dirpath, _dirs, files in os.walk(src):
        for f in files:
            if not f.startswith(("_", ".")):
                total += os.path.getsize(os.path.join(dirpath, f))
    cpus = spark.sparkContext.defaultParallelism
    floor = max(1, min(cpus, min_partitions or 1))
    return max(floor, min(cpus, -(-total // _STATE_PARTITION_BYTES)))


def run_deterministic_batches(
    spark: SparkSession,
    slices: list[DataFrame],
    transform: Callable[[DataFrame], DataFrame],
    output_mode: str = "update",
    min_partitions: int | None = None,
) -> DataFrame:
    """Run ``transform`` (a streaming DataFrame -> DataFrame stateful op)
    over micro-batches defined by ``slices`` (processed in list order)
    and return the captured output with an extra ``_batch`` long column.
    The stream's schema is the first slice's; an empty ``slices`` raises
    ``ValueError`` before anything is written.

    The returned frame is materialized (the stream has finished); all
    work happens at call time. The source/checkpoint dir is removed
    when the call returns; the captured output lives in its own
    ``session.scratch_dir``, new per call, because the returned frame
    reads it lazily (no collect/re-upload round trip through the
    driver), so it stays until the process exits."""
    if not slices:
        raise ValueError("run_deterministic_batches: `slices` is empty")
    work = scratch_dir("stream_twin")
    src = f"{work}/src"
    out = f"{scratch_dir('stream_twin_out')}/out"
    try:
        # independent single-file writes: run them concurrently and pin
        # batch order via explicit mtimes afterwards (module docstring)
        def _write(b: int, sl: DataFrame):
            return lambda: sl.coalesce(1).write.mode("overwrite").parquet(f"{src}/batch={b}")

        fan_out(spark, *(_write(b, sl) for b, sl in enumerate(slices)))
        base = time.time()
        for b in range(len(slices)):
            for f in os.listdir(f"{src}/batch={b}"):
                if not f.startswith(("_", ".")):
                    t = base + b
                    os.utime(os.path.join(f"{src}/batch={b}", f), (t, t))

        def capture(batch_df: DataFrame, batch_id: int) -> None:
            batch_df.withColumn("_batch", F.lit(batch_id)).write.mode(
                "append"
            ).parquet(out)

        stream = (
            spark.readStream.schema(slices[0].schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(f"{src}/batch=*")
        )
        parts = _stream_shuffle_partitions(spark, src, min_partitions)
        prev = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", str(parts))
        try:
            q = (
                transform(stream)
                .writeStream.foreachBatch(capture)
                .outputMode(output_mode)
                .option("checkpointLocation", f"{work}/_ckpt")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", prev)
        return spark.read.parquet(out)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def last_batch_per_key(captured: DataFrame, key_col: str = "key") -> DataFrame:
    """For update-mode census outputs (one row per key per batch): keep
    each key's row from the last micro-batch it appeared in."""
    from pyspark.sql import Window

    w = Window.partitionBy(key_col).orderBy(F.desc("_batch"))
    return (
        captured.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "_batch")
    )
