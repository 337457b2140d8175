"""Stateful semantic grouping (SURVEY M3/T4): the reference's evolving
nearest-centroid store (src/ml/vector_engine.py:21-45 — argmin Minkowski
p=1.5, mint a new group beyond threshold 0.35) hosted in Structured
Streaming keyed state via ``applyInPandasWithState``.

Semantics note (SURVEY §7 'hard parts'): the reference's centroid minting is
order-dependent and global. Keyed state shards the store by a partition key
(here ``event_type``/app); within a key, rows are processed in a stable
order (sorted by id) so re-runs are deterministic. A truly global store
would serialize the whole stream through one task — the sharded form is the
scalable re-expression, and the one the batch oracle mirrors per key.
"""

from __future__ import annotations

from collections.abc import Iterable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.streaming.stateful_processor import StatefulProcessor
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

THRESHOLD = 0.35  # reference: src/ml/vector_engine.py:8
P = 1.5  # Minkowski order: src/ml/vector_engine.py:13-19

OUTPUT_SCHEMA = StructType(
    [
        StructField("key", StringType()),
        StructField("row_id", LongType()),
        StructField("group_id", LongType()),
        StructField("dist", DoubleType()),
    ]
)

# state: flattened centroid matrix + the ids they were minted from
STATE_SCHEMA = StructType(
    [
        StructField("ids", StringType()),      # comma-joined group ids
        StructField("flat", StringType()),     # comma-joined row-major floats
        StructField("dim", LongType()),
    ]
)


def semantic_group_fn(
    key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
):
    """Per-key online centroid assignment. Rows assigned to the nearest
    stored centroid if within THRESHOLD, else mint a new group seeded at the
    row's vector (reference: vector_engine.py:29-43)."""
    if state.exists:
        ids_s, flat_s, dim = state.get
        ids = [int(x) for x in ids_s.split(",")] if ids_s else []
        cents = (
            # np.fromstring(sep=",") is removed in numpy 2.x
            np.fromiter(map(float, flat_s.split(",")), dtype=np.float64).reshape(
                len(ids), int(dim)
            )
            if ids
            else np.zeros((0, 0))
        )
    else:
        ids, cents, dim = [], None, 0

    out_rows = []
    for pdf in pdfs:
        pdf = pdf.sort_values("row_id")  # stable order => deterministic state
        for _, row in pdf.iterrows():
            vec = np.asarray(row["embedding"], dtype=np.float64)
            if dim == 0:
                dim = len(vec)
                cents = np.zeros((0, dim))
            if len(ids):
                d = np.power(np.power(np.abs(cents - vec), P).sum(axis=1), 1 / P)
                j = int(np.argmin(d))
                best = float(d[j])
            else:
                j, best = -1, float("inf")
            if best < THRESHOLD:
                gid = ids[j]
            else:
                gid = int(row["row_id"])  # mint: sem_grp_{log_id} analogue
                ids.append(gid)
                cents = np.vstack([cents, vec])
                best = 0.0
            out_rows.append((str(key[0]), int(row["row_id"]), gid, best))

    state.update(
        (
            ",".join(str(i) for i in ids),
            ",".join(f"{x:.17g}" for x in np.asarray(cents).ravel()),
            int(dim),
        )
    )
    yield pd.DataFrame(out_rows, columns=["key", "row_id", "group_id", "dist"])


def semantic_grouping_stream(embedded: DataFrame, key_col: str = "event_type") -> DataFrame:
    """Wire the stateful grouping over a streaming DataFrame with columns
    (key_col, row_id, embedding array<float>)."""
    return (
        embedded.groupBy(key_col)
        .applyInPandasWithState(
            semantic_group_fn,
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


# ---------------------------------------------------------------------------
# Count-based windows (SURVEY T5 / §4 'needs custom work' #3): Spark's
# streaming windows are time-based; the reference's 100-log virtual batches
# are COUNT-based. True arrival-count windows need keyed state.
# ---------------------------------------------------------------------------

COUNT_WINDOW_SCHEMA = StructType(
    [
        StructField("key", StringType()),
        StructField("window_idx", LongType()),
        StructField("n_events", LongType()),
        StructField("first_id", LongType()),
        StructField("last_id", LongType()),
    ]
)

COUNT_STATE_SCHEMA = StructType(
    [
        StructField("n_total", LongType()),   # events consumed so far
        StructField("buf_n", LongType()),     # events in the open window
        StructField("buf_first", LongType()),
    ]
)


def count_window_fn(window_size: int):
    """Build the stateful per-key function: emit one row per COMPLETED
    window of ``window_size`` events; the open remainder stays in state
    across micro-batches (exactly the reference's 100-log batches,
    scripts/run_training_batch.py:218, but arrival-driven)."""

    def fn(key: tuple, pdfs, state: GroupState):
        import pandas as pd

        n_total, buf_n, buf_first = state.get if state.exists else (0, 0, -1)
        out = []
        for pdf in pdfs:
            pdf = pdf.sort_values("row_id")  # deterministic within a batch
            for rid in pdf["row_id"]:
                rid = int(rid)
                if buf_n == 0:
                    buf_first = rid
                buf_n += 1
                n_total += 1
                if buf_n == window_size:
                    out.append(
                        (str(key[0]), (n_total - 1) // window_size, buf_n, buf_first, rid)
                    )
                    buf_n, buf_first = 0, -1
        state.update((n_total, buf_n, buf_first))
        yield pd.DataFrame(
            out, columns=["key", "window_idx", "n_events", "first_id", "last_id"]
        )

    return fn


def count_window_stream(
    df: DataFrame, key_col: str = "event_type", window_size: int = 100
) -> DataFrame:
    """Arrival-count tumbling windows per key over a stream with columns
    (key_col, row_id)."""
    return df.groupBy(key_col).applyInPandasWithState(
        count_window_fn(window_size),
        outputStructType=COUNT_WINDOW_SCHEMA,
        stateStructType=COUNT_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# ---------------------------------------------------------------------------
# transformWithState (Spark 4.x StatefulProcessor): the modern typed-state
# replacement for applyInPandasWithState. Hosts the reference's micro-cluster
# decay (DenStream decaying_factor, src/ml/model.py:12; SURVEY T6) as an
# exponentially-fading per-key volume the stream maintains across batches —
# the streaming twin of operators.relational.decayed_volume.
# ---------------------------------------------------------------------------

DECAY_OUTPUT_SCHEMA = StructType(
    [
        StructField("key", StringType()),
        StructField("decayed_volume", DoubleType()),
        StructField("n_batch", LongType()),
        StructField("last_ts_us", LongType()),
    ]
)

# reference: river's DenStream fades micro-cluster weight as 2^(-λ·Δt);
# decaying_factor λ=0.0005 (src/ml/model.py:12). Δt here in seconds.
DECAY_LAMBDA = 0.0005


def decay_step(
    weight: float, last_us: int | None, batch_max_us: int, n_new: int, lam: float = DECAY_LAMBDA
) -> float:
    """One fading update: age the carried weight to the new batch's clock,
    then add the new arrivals at full weight. Pure so the unit test can
    check the math without a streaming query."""
    if last_us is not None and batch_max_us > last_us:
        weight *= 2.0 ** (-lam * (batch_max_us - last_us) / 1_000_000.0)
    return weight + float(n_new)


class DecayedVolumeProcessor(StatefulProcessor):
    """StatefulProcessor maintaining a fading per-key event volume.

    Typed ValueState (weight, last_ts_us) replaces the string-packed state
    applyInPandasWithState forces above — this is the API to prefer on
    Spark ≥4.0 (RocksDB state store backed, supports timers/TTL).
    """

    def init(self, handle) -> None:
        self._state = handle.getValueState(
            "decayed",
            StructType(
                [
                    StructField("weight", DoubleType()),
                    StructField("last_us", LongType()),
                ]
            ),
        )

    def handleInputRows(self, key, rows, timerValues):
        weight, last_us = (
            self._state.get() if self._state.exists() else (0.0, None)
        )
        n, batch_max_us = 0, 0
        for pdf in rows:
            n += len(pdf)
            if len(pdf):
                batch_max_us = max(batch_max_us, int(pdf["ts_us"].max()))
        if last_us is not None:
            batch_max_us = max(batch_max_us, last_us)
        weight = decay_step(weight, last_us, batch_max_us, n)
        self._state.update((float(weight), int(batch_max_us)))
        yield pd.DataFrame(
            {
                "key": [str(key[0])],
                "decayed_volume": [float(weight)],
                "n_batch": [n],
                "last_ts_us": [int(batch_max_us)],
            }
        )

    def close(self) -> None:
        pass


def has_transform_with_state_runtime() -> bool:
    """transformWithStateInPandas drives a Python state-server over
    protobuf; a broken/absent google.protobuf crashes the worker at runtime
    (not at import). Probe it up front so callers can pick the fallback."""
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


DECAY_STATE_SCHEMA = StructType(
    [
        StructField("weight", DoubleType()),
        StructField("last_us", LongType()),
    ]
)


def _decay_apply_fn(key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState):
    """applyInPandasWithState twin of DecayedVolumeProcessor — identical
    math (shared decay_step), legacy GroupState plumbing."""
    weight, last_us = state.get if state.exists else (0.0, None)
    n, batch_max_us = 0, 0
    for pdf in pdfs:
        n += len(pdf)
        if len(pdf):
            batch_max_us = max(batch_max_us, int(pdf["ts_us"].max()))
    if last_us is not None:
        batch_max_us = max(batch_max_us, last_us)
    weight = decay_step(weight, last_us, batch_max_us, n)
    state.update((float(weight), int(batch_max_us)))
    yield pd.DataFrame(
        {
            "key": [str(key[0])],
            "decayed_volume": [float(weight)],
            "n_batch": [n],
            "last_ts_us": [int(batch_max_us)],
        }
    )


def decayed_volume_stream(
    df: DataFrame, key_col: str = "event_type"
) -> DataFrame:
    """Fading volume per key over a stream with columns (key_col, ts_us).

    Emits one row per key per micro-batch: the decayed running volume after
    folding that batch in. Prefers the Spark 4 transformWithStateInPandas
    operator (typed state, RocksDB-backed, timers/TTL available); falls back
    to applyInPandasWithState where the TWS python runtime (protobuf) is
    unavailable. Both paths share decay_step, so semantics are identical.
    """
    if has_transform_with_state_runtime():
        return df.groupBy(key_col).transformWithStateInPandas(
            statefulProcessor=DecayedVolumeProcessor(),
            outputStructType=DECAY_OUTPUT_SCHEMA,
            outputMode="append",
            timeMode="none",
        )
    return df.groupBy(key_col).applyInPandasWithState(
        _decay_apply_fn,
        outputStructType=DECAY_OUTPUT_SCHEMA,
        stateStructType=DECAY_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# ---------------------------------------------------------------------------
# Streaming DenStream (M7, the reference's actual algorithm — river's
# DenStream inside its training loop): micro-cluster state packed as JSON
# per key, carried across micro-batches. ml/denstream.py owns the math;
# this is the applyInPandasWithState wiring. Batch-replay == micro-batch
# replay is asserted in tests/test_denstream.py via the same JSON state
# round trip this function performs.
# ---------------------------------------------------------------------------

DENSTREAM_STATE_SCHEMA = StructType([StructField("model", StringType())])

DENSTREAM_OUTPUT_SCHEMA = StructType(
    [
        StructField("key", StringType()),
        StructField("n_core", LongType()),
        StructField("n_outlier", LongType()),
        StructField("n_offline_clusters", LongType()),
        StructField("total_weight", DoubleType()),
    ]
)


def denstream_fn(key: tuple, pdfs, state: GroupState):
    import numpy as np
    import pandas as pd

    from ..ml import denstream as DS

    model = (
        DS.DenStream.from_json(state.get[0]) if state.exists else DS.DenStream()
    )
    for pdf in pdfs:
        pdf = pdf.sort_values("ts_s", kind="mergesort")
        if len(pdf):
            X = np.stack(pdf["vec"].to_numpy()).astype(float)
            DS.run_sequence(X, pdf["ts_s"].to_numpy(dtype=float), model=model)
    state.update((model.to_json(),))
    labels = model.offline_clusters()
    yield pd.DataFrame(
        [
            (
                str(key[0]),
                len(model.p),
                len(model.o),
                len(set(labels)),
                round(sum(m.w for m in model.p), 6),
            )
        ],
        columns=[
            "key", "n_core", "n_outlier", "n_offline_clusters", "total_weight",
        ],
    )


def denstream_stream(df: DataFrame, key_col: str = "key") -> DataFrame:
    """Per-key streaming density clustering over (key, vec, ts_s) rows;
    emits the micro-cluster census per key each micro-batch (update mode:
    the census is a running summary, not an append log)."""
    return df.groupBy(key_col).applyInPandasWithState(
        denstream_fn,
        outputStructType=DENSTREAM_OUTPUT_SCHEMA,
        stateStructType=DENSTREAM_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# ---------------------------------------------------------------------------
# Streaming EWMA volume monitor (T4/T6 × the r9 ewma_control_chart): the
# per-micro-batch volume smoothed by s_b = α·n_b + (1−α)·s_prev — the
# ops-monitor statistic that damps single-batch spikes but tracks
# sustained shifts. State carries (s, batches_seen); a key updates only
# on batches where it appears (the GroupState invocation contract).
# ---------------------------------------------------------------------------

EWMA_STREAM_ALPHA = 0.3

EWMA_STREAM_STATE_SCHEMA = StructType(
    [
        StructField("s", DoubleType()),
        StructField("batches_seen", LongType()),
    ]
)

EWMA_STREAM_OUTPUT_SCHEMA = StructType(
    [
        StructField("key", StringType()),
        StructField("ewma", DoubleType()),
        StructField("n_batch", LongType()),
        StructField("batches_seen", LongType()),
    ]
)


def _ewma_apply_fn(key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState):
    """EWMA over per-batch counts: first observed batch seeds s = n
    (the ewma_control_chart s_0 = y_0 convention); later batches fold
    s = α·n + (1−α)·s. Pure float ops in a fixed order — the chained-CTE
    oracle replays them bit-for-bit."""
    s, seen = state.get if state.exists else (None, 0)
    n = 0
    for pdf in pdfs:
        n += len(pdf)
    y = float(n)
    s = y if seen == 0 else EWMA_STREAM_ALPHA * y + (1.0 - EWMA_STREAM_ALPHA) * s
    seen = int(seen) + 1
    state.update((float(s), seen))
    yield pd.DataFrame(
        {
            "key": [str(key[0])],
            "ewma": [float(s)],
            "n_batch": [n],
            "batches_seen": [seen],
        }
    )


def ewma_volume_stream(df: DataFrame, key_col: str = "event_type") -> DataFrame:
    """Per-key EWMA of micro-batch volumes over a stream with a
    ``key_col`` column. Emits one running-state row per key per batch."""
    return df.groupBy(key_col).applyInPandasWithState(
        _ewma_apply_fn,
        outputStructType=EWMA_STREAM_OUTPUT_SCHEMA,
        stateStructType=EWMA_STREAM_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
