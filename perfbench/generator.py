"""Seeded log generator for the benchmark.

Writes an ``events.parquet`` with the testdata ``events`` schema
(event_id, ts, user_id, event_type, value, props) into a directory that
the program then reads as its ``sf_dir``. ``props`` stays JSON with an
int ``"k"`` and adds a ``"msg"`` drawn from a template set, so the
embedding text carries cluster structure.

The properties the engine depends on are explicit knobs of :class:`Spec`:
row count, the share of error/signup rows, template count (clusters and
shared text), user-key skew, planted volume bursts, the share of late
(out-of-order) rows and the parquet row-group size. The same spec and
seed give byte-identical data.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

INTERESTING = ("error", "signup")
OTHER = ("click", "view", "purchase")
BUCKET = 100  # ids per virtual batch in the volume history (batch_volume)
BURST_ROWS = 60  # rows of one template planted in a burst bucket
TEMPLATE_WORDS = 14
USER_KEYS = 1500
LATE_MAX_S = 1800.0
START_TS_US = 1_704_067_200_000_000  # 2024-01-01 UTC
GAP_US = 2_000_000  # mean gap between consecutive events

_SHARED = "service request handler reported status for tenant".split()
_WORDS = (
    "disk quota exceeded volume mount timeout retry socket refused upstream "
    "gateway token expired session created account verified email password "
    "reset cache miss eviction shard leader election replica lag queue "
    "backlog worker crashed heap memory pressure certificate rotation "
    "billing invoice payment declined webhook delivered signup referral "
    "campaign mobile desktop region europe asia latency spike throttled"
).split()


@dataclass(frozen=True)
class Spec:
    rows: int
    interesting_share: float = 0.4
    templates: int = 8  # interesting templates; each is bound to one level
    user_skew: float = 1.2  # Zipf exponent of user_id
    late_share: float = 0.05
    row_group_rows: int = 10_000
    # first ids of the virtual batches (BUCKET ids each) that get a burst
    burst_buckets: tuple[int, ...] = field(default=())


def templates(rng: np.random.Generator, spec: Spec) -> list[tuple[str, str]]:
    """(level, message) per interesting template, then 4 for other levels.
    Every message starts with the same shared words (text shared across
    clusters) followed by template-specific words."""
    out = []
    n_own = TEMPLATE_WORDS - 3
    for t in range(spec.templates + 4):
        level = INTERESTING[t % 2] if t < spec.templates else OTHER[t % 3]
        words = _SHARED[: 3] + list(rng.choice(_WORDS, size=n_own, replace=False))
        out.append((level, " ".join(words) + f" t{t}"))
    return out


def generate(spec: Spec, seed: int) -> tuple[pa.Table, dict]:
    """Build the events table; also return ground truth used by checks:
    ``interesting_ids`` (sorted event_ids of error/signup rows)."""
    rng = np.random.default_rng(seed)
    tmpl = templates(rng, spec)
    n = spec.rows
    ids = np.arange(n, dtype=np.int64)

    interesting = rng.random(n) < spec.interesting_share
    t_idx = np.where(
        interesting,
        rng.integers(0, spec.templates, n),
        spec.templates + rng.integers(0, 4, n),
    )
    for b in spec.burst_buckets:
        lo = b - b % BUCKET
        hot = int(rng.integers(0, spec.templates))
        pos = lo + rng.choice(BUCKET, size=BURST_ROWS, replace=False)
        pos = pos[pos < n]
        t_idx[pos] = hot
    levels = np.array([lv for lv, _ in tmpl], dtype=object)[t_idx]
    msgs = [m for _, m in tmpl]

    ranks = rng.zipf(spec.user_skew, n)
    user_id = (ranks - 1) % USER_KEYS

    ts = START_TS_US + ids * GAP_US + rng.integers(0, GAP_US, n)
    late = rng.random(n) < spec.late_share
    ts = ts - late * (rng.random(n) * LATE_MAX_S * 1e6).astype(np.int64)

    value = np.round(rng.lognormal(2.0, 1.0, n), 2)
    k = rng.integers(0, 100, n)
    props = [
        json.dumps({"k": int(kk), "msg": msgs[ti]}) for kk, ti in zip(k, t_idx)
    ]
    table = pa.table(
        {
            "event_id": pa.array(ids),
            "ts": pa.array(ts, type=pa.timestamp("us")),
            "user_id": pa.array(user_id.astype(np.int64)),
            "event_type": pa.array(levels.tolist(), type=pa.string()),
            "value": pa.array(value),
            "props": pa.array(props, type=pa.string()),
        }
    )
    is_int = np.isin(levels, INTERESTING)
    return table, {"interesting_ids": ids[is_int]}


def write(spec: Spec, seed: int, out_dir: str) -> dict:
    """Write ``out_dir/events.parquet`` and return the ground truth."""
    table, truth = generate(spec, seed)
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(
        table, os.path.join(out_dir, "events.parquet"),
        row_group_size=spec.row_group_rows,
    )
    return truth
