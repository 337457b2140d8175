"""Per-layer instrumentation for the traced run, and the metric tables.

Spans wrap the program's public layer functions (patched module
attributes, see :mod:`spans`); the embedding UDF is swapped for a timed
copy that reports rows, seconds and bytes through Spark accumulators; a
``StreamingQueryListener`` keeps every micro-batch progress report; and
the Spark event log gives jobs, stages and task metrics per operation.

Per-layer values are means per traced operation (a scoring micro-batch,
or one stream-twin query), except the layers that only run in set-up
(``ml.clustering``, ``pipelines.staging_s``, ``pipelines.promote_s``,
``ml.quality``), which are totals over the traced set-up, and
``session.start_s``. Ratios are ratios of totals. A layer that a workload
does not run reads 0.
"""

from __future__ import annotations

import datetime
import json
import math
import statistics
import threading
import time

import pandas as pd
from pyspark.sql.streaming import StreamingQueryListener

from eventlog import EventLog, window_totals
from spans import Tracer, descendants, group_id, self_times

# (name, unit, better) — the end-to-end metrics every workload reports
END_TO_END = [
    ("setup_s", "s", "lower"),
    ("op_s", "s", "lower"),
]

# Each group names the end-to-end metric it should move, and where.
PER_LAYER = [
    # fixed cost per operation -> op_s on score_microbatch (and stream_twins)
    ("spark.jobs", "count", "lower"),
    ("spark.stages", "count", "lower"),
    ("spark.tasks", "count", "lower"),
    ("spark.driver_gap_s", "s", "lower"),
    ("spark.slot_util", "ratio", "higher"),
    # task work -> op_s on both workloads
    ("spark.task_run_s", "s", "lower"),
    ("spark.task_cpu_s", "s", "lower"),
    ("spark.gc_s", "s", "lower"),
    ("spark.shuffle_read_bytes", "B", "lower"),
    ("spark.shuffle_write_bytes", "B", "lower"),
    # scan, embed, assign, build, sink -> op_s on score_microbatch
    ("sources.rows_read", "count", "lower"),
    ("sources.rows_kept", "count", "higher"),
    ("sources.keep_ratio", "ratio", "higher"),
    ("sources.bytes_read", "B", "lower"),
    ("ml.embedding.rows", "count", "lower"),
    ("ml.embedding.udf_s", "s", "lower"),
    ("ml.embedding.arrow_bytes", "B", "lower"),
    ("operators.similarity.build_s", "s", "lower"),
    ("operators.similarity.pairs", "count", "lower"),
    ("operators.relational.build_s", "s", "lower"),
    ("operators.relational.calls", "count", "lower"),
    ("operators.relational.history_rows", "count", "lower"),
    ("pipelines.sink_s", "s", "lower"),
    ("pipelines.sink_rows_written", "count", "lower"),
    ("pipelines.target_rows_scanned", "count", "lower"),
    ("pipelines.files_written", "count", "lower"),
    # seed-model training and audit -> setup_s on score_microbatch
    ("ml.clustering.fit_s", "s", "lower"),
    ("ml.clustering.jobs", "count", "lower"),
    ("pipelines.staging_s", "s", "lower"),
    ("pipelines.promote_s", "s", "lower"),
    ("ml.quality.silhouette_s", "s", "lower"),
    # micro-batch phases and state -> op_s on stream_twins
    ("streaming.microbatches", "count", "lower"),
    ("streaming.add_batch_ms", "ms", "lower"),
    ("streaming.wal_commit_ms", "ms", "lower"),
    ("streaming.commit_offsets_ms", "ms", "lower"),
    ("streaming.query_planning_ms", "ms", "lower"),
    ("streaming.state_commit_ms", "ms", "lower"),
    ("streaming.state_rows", "count", "lower"),
    ("streaming.state_memory_bytes", "B", "lower"),
    # -> setup_s on both workloads
    ("session.start_s", "s", "lower"),
    ("trace.overhead_frac", "ratio", "lower"),
]
UNITS = {n: u for n, u, _ in END_TO_END + PER_LAYER}

# operators.relational functions that pipelines reaches through ``R``
RELATIONAL = (
    "scan_slice", "mine_patterns", "batch_volume", "volume_zscore",
    "flag_anomalies", "open_incident_upsert",
)


def _timed_udf(func, rows, secs, nbytes):
    from pyspark.sql import functions as F
    from pyspark.sql.types import ArrayType, FloatType

    def embed(texts: pd.Series) -> pd.Series:
        t0 = time.perf_counter()
        out = func(texts)
        secs.add(time.perf_counter() - t0)
        rows.add(len(texts))
        nbytes.add(int(texts.str.len().sum()) + sum(v.nbytes for v in out))
        return out

    return F.pandas_udf(embed, ArrayType(FloatType()))


class EmbeddingProbe:
    """Swaps ``pipelines.hash_featurizer`` for a copy whose UDF counts rows,
    time and the text + vector bytes it exchanges with the JVM inside the
    Python worker, while the tracer is enabled."""

    def __init__(self, tracer: Tracer, sc, pipelines) -> None:
        self.rows = sc.accumulator(0)
        self.secs = sc.accumulator(0.0)
        self.nbytes = sc.accumulator(0)
        orig = pipelines.hash_featurizer

        def featurizer(*args, **kwargs):
            udf = orig(*args, **kwargs)
            if not tracer.enabled:
                return udf
            return _timed_udf(udf.func, self.rows, self.secs, self.nbytes)

        pipelines.hash_featurizer = featurizer

    def read(self) -> dict[str, float]:
        return {"ml.embedding.rows": self.rows.value, "ml.embedding.udf_s": self.secs.value,
                "ml.embedding.arrow_bytes": self.nbytes.value}


def instrument(tracer: Tracer, sc) -> EmbeddingProbe:
    """Wrap the public layer functions the workloads reach."""
    from logstream_processing_service_spark import pipelines as P
    from logstream_processing_service_spark import queries_streaming as QS
    from logstream_processing_service_spark.ml import quality as Q
    from logstream_processing_service_spark.operators import relational as R

    for attr, name in (
        ("embed_events", "ml.embedding.embed_events"),
        ("upsert_parquet", "pipelines.upsert_parquet"),
        ("stage_to_csv", "pipelines.stage_to_csv"),
        ("read_staged_csv", "pipelines.read_staged_csv"),
        ("fit_kmeans_centroids", "ml.clustering.fit_kmeans_centroids"),
        ("assign_nearest_centroid", "operators.similarity.assign_nearest_centroid"),
    ):
        tracer.wrap(P, attr, name)
    for m in ("save_centroids", "save_manifest", "load_centroids", "load_manifest", "promote"):
        tracer.wrap(P.ModelStore, m, f"pipelines.ModelStore.{m}")
    for fn in RELATIONAL:
        tracer.wrap(R, fn, f"operators.relational.{fn}")
    for fn in ("quality_report", "silhouette"):
        tracer.wrap(Q, fn, f"ml.quality.{fn}")
    tracer.wrap(QS, "run_deterministic_batches", "streaming.run_deterministic_batches")
    return EmbeddingProbe(tracer, sc, P)


class ProgressListener(StreamingQueryListener):
    """Keeps every micro-batch progress report (durations and state
    operators) with its trigger start time in seconds since the epoch."""

    def __init__(self) -> None:
        super().__init__()
        self._lock = threading.Lock()
        self.progress: list[dict] = []

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = json.loads(event.progress.json)
        ts = datetime.datetime.strptime(p["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ")
        p["_t"] = ts.replace(tzinfo=datetime.timezone.utc).timestamp()
        with self._lock:
            self.progress.append(p)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass

    def settle(self, quiet_s: float = 0.5, timeout_s: float = 5.0) -> None:
        """Wait until no report has arrived for ``quiet_s`` (the listener
        bus delivers asynchronously)."""
        deadline = time.time() + timeout_s
        n = -1
        while time.time() < deadline:
            with self._lock:
                cur = len(self.progress)
            if cur == n:
                return
            n = cur
            time.sleep(quiet_s)

    def in_window(self, lo: float, hi: float) -> list[dict]:
        with self._lock:
            return [p for p in self.progress if lo <= p["_t"] <= hi]


def streaming_totals(progress: list[dict]) -> dict[str, float]:
    def dur(key):
        return sum(p["durationMs"].get(key, 0) for p in progress)

    ops = [s for p in progress for s in p.get("stateOperators", [])]
    return {
        "streaming.microbatches": len(progress),
        "streaming.add_batch_ms": dur("addBatch"),
        "streaming.wal_commit_ms": dur("walCommit"),
        "streaming.commit_offsets_ms": dur("commitOffsets"),
        "streaming.query_planning_ms": dur("queryPlanning"),
        "streaming.state_commit_ms": sum(s.get("commitTimeMs", 0) for s in ops),
        "streaming.state_rows": sum(s.get("numRowsTotal", 0) for s in ops),
        "streaming.state_memory_bytes": sum(s.get("memoryUsedBytes", 0) for s in ops),
    }


def microbatch_p50_ms(progress: list[dict]) -> float:
    return statistics.median(p["durationMs"]["triggerExecution"] for p in progress)


def _span_sum(spans, ids, st, prefixes, self_time=True) -> tuple[float, int]:
    hit = [s for s in spans if s["id"] in ids and s["name"].startswith(prefixes)]
    secs = sum(st[s["id"]] if self_time else s["end"] - s["start"] for s in hit)
    return secs, len(hit)


def layer_metrics(tracer: Tracer, log: EventLog, ops: list[dict], setup: dict | None,
                  cores: int, listener: ProgressListener | None,
                  session_start_s: float) -> dict[str, float]:
    """Turn spans, event log, listener reports and per-op counters into
    the PER_LAYER metrics. ``ops`` are op records (see run.run_op);
    ``setup`` is the traced set-up span, if any."""
    spans = tracer.spans
    st = self_times(spans)
    traced = [o for o in ops if o["traced"]]
    n = max(len(traced), 1)
    tot: dict[str, float] = {name: 0.0 for name, _, _ in PER_LAYER}
    span_time = 0.0
    for op in traced:
        lo, hi = op["start"], op["end"]
        span_time += hi - lo
        w = window_totals(log, lo, hi, cores)
        for k, name in (("jobs", "spark.jobs"), ("stages", "spark.stages"),
                        ("tasks", "spark.tasks"), ("driver_gap_s", "spark.driver_gap_s"),
                        ("run_s", "spark.task_run_s"), ("cpu_s", "spark.task_cpu_s"),
                        ("gc_s", "spark.gc_s"),
                        ("shuffle_read_bytes", "spark.shuffle_read_bytes"),
                        ("shuffle_write_bytes", "spark.shuffle_write_bytes"),
                        ("input_rows", "sources.rows_read"),
                        ("input_bytes", "sources.bytes_read")):
            tot[name] += w[k]
        ids = descendants(spans, op["span"])
        secs, calls = _span_sum(spans, ids, st, ("operators.relational.",))
        tot["operators.relational.build_s"] += secs
        tot["operators.relational.calls"] += calls
        tot["operators.similarity.build_s"] += _span_sum(
            spans, ids, st, ("operators.similarity.",))[0]
        sink = [s for s in spans if s["id"] in ids and s["name"] == "pipelines.upsert_parquet"]
        tot["pipelines.sink_s"] += sum(s["end"] - s["start"] for s in sink)
        groups = {group_id(i) for s in sink for i in descendants(spans, s["id"])}
        sw = window_totals(log, lo, hi, cores, groups)
        tot["pipelines.sink_rows_written"] += sw["output_rows"]
        tot["pipelines.target_rows_scanned"] += sw["input_rows"]
        for k, v in op.get("counters", {}).items():
            tot[k] += v
        if listener is not None:
            for k, v in streaming_totals(listener.in_window(lo, hi)).items():
                tot[k] += v
    out = {k: v / n for k, v in tot.items()}
    out["spark.slot_util"] = tot["spark.task_run_s"] / max(span_time * cores, 1e-9)
    out["sources.keep_ratio"] = tot["sources.rows_kept"] / max(tot["sources.rows_read"], 1)

    if setup is not None:
        ids = descendants(spans, setup["id"])
        fit = [s for s in spans if s["id"] in ids and s["name"].startswith("ml.clustering.")]
        out["ml.clustering.fit_s"] = sum(s["end"] - s["start"] for s in fit)
        fit_groups = {group_id(i) for s in fit for i in descendants(spans, s["id"])}
        out["ml.clustering.jobs"] = window_totals(
            log, setup["start"], setup["end"], cores, fit_groups)["jobs"]
        out["pipelines.staging_s"] = _span_sum(
            spans, ids, st, ("pipelines.stage_to_csv", "pipelines.read_staged_csv"), False)[0]
        out["pipelines.promote_s"] = _span_sum(
            spans, ids, st, ("pipelines.ModelStore.promote",), False)[0]
        out["ml.quality.silhouette_s"] = _span_sum(
            spans, ids, st, ("ml.quality.silhouette",), False)[0]
    out["session.start_s"] = session_start_s
    # ops run in pairs of one untraced and one traced run, in alternating
    # order so that a warmer second run biases half the pairs each way
    ratios = [
        (b["seconds"] / a["seconds"]) ** (1 if b["traced"] else -1)
        for a, b in zip(ops[::2], ops[1::2])
    ]
    if ratios:
        out["trace.overhead_frac"] = math.exp(statistics.fmean(map(math.log, ratios))) - 1.0
    return out
