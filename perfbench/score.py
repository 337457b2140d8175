"""``score_microbatch``: the service's incremental scoring path.

Set-up trains a small seed model with ``run_training_batch`` and scores
one warm-up slice (the first batch creates the sink targets, a different
code path, and compiles the scoring plans). The traced run's set-up also
audits the model with ``run_quality_validation`` (the service's
validation step before it serves), so the quality layer is measured; the
untraced run leaves the audit out to keep a run short. The timed loop is
closed with one caller: ``run_incremental_batch`` over consecutive
``event_id`` slices, each submitted after the previous batch commits.
The embedding sink, the volume history and the incidents grow batch over
batch, and the generator plants a volume burst in the last virtual batch
of every slice so incidents open.
"""

from __future__ import annotations

import bisect
import os
import statistics

import checks
from generator import BUCKET, Spec

TRAIN_LIMIT = 300  # error/signup rows the seed model is trained on
TRAIN_K = 8
SCORE_LO = 1000  # first scored id, past the training rows
SLICE = 2500  # ids per micro-batch (~1,000 error/signup logs)
MAX_SLICES = 24  # more than a traced run scores at 2 s per batch
MIN_BATCHES = 2
MIN_TRACED_PAIRS = 1  # keeps a traced run well inside its time limit


def spec() -> Spec:
    bursts = tuple(SCORE_LO + (i + 1) * SLICE - BUCKET for i in range(MAX_SLICES))
    return Spec(rows=SCORE_LO + MAX_SLICES * SLICE, templates=TRAIN_K,
                burst_buckets=bursts)


def _files(path: str) -> int:
    return sum(
        1 for _, _, fs in os.walk(path) for f in fs
        if f.endswith(".parquet") and not f.startswith((".", "_"))
    )


class ScoreMicrobatch:
    name = "score_microbatch"

    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.svc = os.path.join(ctx.work, "svc")
        self.next_slice = 0
        self.batches: list[dict] = []  # every scored slice, in order

    def setup(self, spark) -> None:
        from logstream_processing_service_spark import pipelines as P

        P.run_training_batch(spark, self.ctx.data, self.svc, limit=TRAIN_LIMIT, k=TRAIN_K)
        if self.ctx.trace:
            P.run_quality_validation(spark, self.svc, sample=0)
        self.op(spark)  # warm-up batch

    def op(self, spark, repeat: bool = False) -> dict:
        from logstream_processing_service_spark import pipelines as P

        if self.next_slice >= MAX_SLICES:
            raise RuntimeError("generated input exhausted")
        lo = SCORE_LO + self.next_slice * SLICE
        hi = lo + SLICE - 1  # BETWEEN is inclusive
        self.next_slice += 1
        files0 = _files(self.svc)
        out = P.run_incremental_batch(spark, self.ctx.data, self.svc, lo, hi)
        ids = self.ctx.truth["interesting_ids"]
        want = bisect.bisect_right(ids, hi) - bisect.bisect_left(ids, lo)
        rec = {"batch": len(self.batches), "hi": hi, "scored": out["scored"],
               "incidents": out["incidents"], "want": want}
        self.batches.append(rec)
        rec["counters"] = {
            "sources.rows_kept": out["scored"],
            "operators.similarity.pairs": out["scored"] * TRAIN_K,
            "pipelines.files_written": _files(self.svc) - files0,
        }
        return rec

    def trace_counters(self, rec: dict) -> None:
        """Counters read outside the op (traced run only)."""
        import pyarrow.parquet as pq

        hist = pq.ParquetDataset(os.path.join(self.svc, "volume_history"))
        rec["counters"]["operators.relational.history_rows"] = sum(
            f.metadata.num_rows for f in hist.fragments)

    def typical(self, secs: list[float]) -> float:
        return statistics.median(secs)

    def done(self, ops: list[dict]) -> bool:
        return len(ops) >= (MIN_TRACED_PAIRS if self.ctx.trace else MIN_BATCHES)

    def check(self, spark, ops: list[dict]) -> set[int]:
        """Indices of ``ops`` whose output is wrong."""
        bad = set()
        for i, op in enumerate(ops):
            r = op.get("result")
            if r is not None and r["scored"] != r["want"]:
                bad.add(i)
        if checks.duplicate_ids(os.path.join(self.svc, "log_embeddings")):
            bad |= set(range(len(ops)))
        expected = checks.expected_incidents(
            os.path.join(self.svc, "volume_history"),
            [b["hi"] // BUCKET for b in self.batches],
        )
        for i, op in enumerate(ops):
            r = op.get("result")
            if r is not None and r["incidents"] != len(expected[r["batch"]]):
                bad.add(i)
        opened = set().union(*expected) if expected else set()
        if opened != checks.stored_incidents(os.path.join(self.svc, "incidents")) and ops:
            bad.add(len(ops) - 1)
        self.ctx.info["incidents_opened"] = len(opened)
        return bad
