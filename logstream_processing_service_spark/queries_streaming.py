"""Driver-visible twins for the stateful streaming operators (SURVEY A9 /
T4 / T5 / T6 — the one §2 region that had zero driver rows until the r4
registry twin proved the pattern): each query drives the REAL streaming
operator (applyInPandasWithState / transformWithState) over a
deterministic micro-batch split of the events table via
streaming/drive.py, and the oracle UNROLLS the same per-batch state
recurrence into a DuckDB CTE chain — state carry, batch clocks, and
in-batch ordering included.

Batch split convention: batch b = event_id % 3, processed 0 → 1 → 2
(file mtime order under maxFilesPerTrigger=1); within a batch the
operators sort by their row key, so the arrival sequence — and therefore
every window boundary and decay step — is fully determined.
``_event_slices`` builds that split for every twin.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .catalog import _t, spec
from .streaming.drive import last_batch_per_key, run_deterministic_batches

N_BATCHES = 3
COUNT_WINDOW_SIZE = 100


def _event_slices(events: DataFrame, *cols) -> list[DataFrame]:
    """The twins' micro-batch split: slice b holds the ``events`` rows
    with ``event_id % N_BATCHES == b``, projected to ``cols``."""
    return [
        events.filter(F.col("event_id") % N_BATCHES == b).select(*cols)
        for b in range(N_BATCHES)
    ]


def _count_window_oracle(n_batches: int = N_BATCHES, w: int = COUNT_WINDOW_SIZE) -> str:
    """Arrival-count windows, unrolled: the arrival sequence per key is
    (batch asc, row_id asc) — batch = event_id % n, in-batch order is the
    operator's own sort — so window membership is pure arithmetic on the
    arrival position. Only COMPLETED windows are emitted (the open
    remainder stays in operator state, exactly as the stream leaves it)."""
    return f"""
    WITH seq AS (
        SELECT event_type AS key, event_id AS id,
               row_number() OVER (
                   PARTITION BY event_type
                   ORDER BY (event_id % {n_batches}), event_id
               ) - 1 AS pos
        FROM events
    ),
    win AS (
        SELECT key, CAST(pos // {w} AS BIGINT) AS window_idx,
               CAST(count(*) AS BIGINT) AS n_events,
               arg_min(id, pos) AS first_id,
               arg_max(id, pos) AS last_id
        FROM seq GROUP BY 1, 2
    )
    SELECT key, window_idx, n_events, first_id, last_id
    FROM win WHERE n_events = {w}
    ORDER BY key, window_idx
    """


@spec(
    "count_window_stream_twin",
    _count_window_oracle(),
    "T5", "A9", "streaming", "stateful",
)
def q_count_window_stream_twin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drive the ACTUAL count_window_stream operator (streaming/state.py
    count_window_fn over applyInPandasWithState) through a real
    availableNow streaming query on 3 deterministic micro-batches; return
    every completed 100-event window per event_type. The oracle recomputes
    window membership from the deterministic arrival order."""
    from .streaming.state import count_window_stream

    slices = _event_slices(
        _t(spark, sf_dir, "events"),
        F.col("event_type").alias("key"),
        F.col("event_id").alias("row_id"),
    )
    captured = run_deterministic_batches(
        spark,
        slices,
        lambda s: count_window_stream(s, "key", COUNT_WINDOW_SIZE),
        output_mode="append",
    )
    return captured.select(
        "key", "window_idx", "n_events", "first_id", "last_id"
    ).orderBy("key", "window_idx")


def _decay_chain_oracle(n_batches: int = N_BATCHES) -> str:
    """decay_step unrolled as a chained CTE fold, one hop per micro-batch:
    w_b = w_{b-1} * 2^(-λ·(clock_b - clock_{b-1})/1e6) + n_b with
    clock_b = greatest(batch max ts, clock_{b-1}) — EXACTLY the
    sequential association the stream computes, so the doubles match
    bit-for-bit (same libm pow on both engines), not just to rounding."""
    lam = 0.0005  # streaming/state.py DECAY_LAMBDA (river DenStream)
    ctes = [
        f"""ev AS (
        SELECT event_type AS key, epoch_us(ts) AS us,
               CAST(event_id % {n_batches} AS INT) AS b
        FROM events
    ),
    pb AS (SELECT key, b, count(*) AS n, max(us) AS mx FROM ev GROUP BY 1, 2),
    s0 AS (
        SELECT k.key, CAST(p.n AS DOUBLE) AS w, p.mx AS clk
        FROM (SELECT DISTINCT key FROM pb) k
        LEFT JOIN pb p ON p.key = k.key AND p.b = 0
    )"""
    ]
    for b in range(1, n_batches):
        prev = f"s{b - 1}"
        ctes.append(
            f"""s{b} AS (
        SELECT {prev}.key,
               CASE WHEN p.n IS NULL THEN {prev}.w
                    WHEN {prev}.w IS NULL THEN CAST(p.n AS DOUBLE)
                    ELSE {prev}.w * pow(2.0, -{lam} *
                         (greatest(p.mx, {prev}.clk) - {prev}.clk)
                         / 1000000.0) + p.n
               END AS w,
               CASE WHEN p.n IS NULL THEN {prev}.clk
                    WHEN {prev}.clk IS NULL THEN p.mx
                    ELSE greatest(p.mx, {prev}.clk)
               END AS clk
        FROM {prev} LEFT JOIN pb p ON p.key = {prev}.key AND p.b = {b}
    )"""
        )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT key, round(w, 4) AS decayed_volume, clk AS last_ts_us
    FROM s{n_batches - 1} ORDER BY key
    """
    )


@spec(
    "decayed_volume_stream_twin",
    _decay_chain_oracle(),
    "T6", "T4", "streaming", "stateful",
)
def q_decayed_volume_stream_twin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drive the ACTUAL decayed_volume_stream operator (transformWithState
    DecayedVolumeProcessor, or its applyInPandasWithState twin where the
    TWS protobuf runtime is absent — shared decay_step math either way)
    over 3 deterministic micro-batches; return each key's final fading
    volume and state clock. The oracle unrolls the per-batch decay
    recurrence as a chained CTE fold."""
    from .streaming.state import decayed_volume_stream

    slices = _event_slices(
        _t(spark, sf_dir, "events"),
        F.col("event_type").alias("key"),
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
    )
    captured = run_deterministic_batches(
        spark,
        slices,
        lambda s: decayed_volume_stream(s, "key"),
        # the operator emits one running-state row per key per batch and
        # declares Append internally; the final state is still the last
        # batch's row per key
        output_mode="append",
    )
    final = last_batch_per_key(captured, "key")
    return final.select(
        "key",
        F.round("decayed_volume", 4).alias("decayed_volume"),
        "last_ts_us",
    ).orderBy("key")


DENSTREAM_CAP = 3000  # deterministic slice: DenStream is a per-point
# Python sequence per key; the census twin proves streaming state carry,
# not bulk throughput (ml/denstream.py owns the scale story via
# distributed per-key applyInPandas)


@spec(
    "denstream_stream_twin",
    None,  # density clustering census: not SQL-expressible (rows-only)
    "M7", "T4", "streaming", "stateful", "rows-only",
)
def q_denstream_stream_twin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drive the ACTUAL denstream_stream operator (JSON-packed
    micro-cluster state across applyInPandasWithState batches) over 3
    deterministic micro-batches of a capped events slice; return each
    key's final micro-cluster census. Parity with the one-shot sequential
    replay is asserted in tests/test_denstream.py; the driver row proves
    the streaming path runs end-to-end under the vanilla session."""
    from .streaming.state import denstream_stream

    events = _t(spark, sf_dir, "events").filter(F.col("event_id") < DENSTREAM_CAP)
    slices = _event_slices(
        events,
        F.col("event_type").alias("key"),
        F.array(
            F.col("value").cast("double"),
            (F.col("user_id") % 100).cast("double"),
        ).alias("vec"),
        F.col("event_id").cast("double").alias("ts_s"),
    )
    # grouped-map CPU floor (r14 A/B, VERDICT #6): DenStream does real
    # per-key Python work inside each batch, so its keys need their own
    # tasks — but the r13 full-parallelism floor re-paid the state-store
    # fan-out that input-derived sizing sheds (5 keys × 32 stores × 3
    # batches = 27 idle stores per batch). A floor of n_keys keeps the
    # per-key compute spread at a fraction of the store cost: interleaved
    # A/B 5.19 s vs 5.60 s median, captured output byte-identical. The
    # distinct count is one job over the capped (≤3k-row) slice.
    n_keys = events.select("event_type").distinct().count()
    captured = run_deterministic_batches(
        spark,
        slices,
        lambda s: denstream_stream(s, "key"),
        output_mode="update",
        min_partitions=min(n_keys, spark.sparkContext.defaultParallelism),
    )
    final = last_batch_per_key(captured, "key")
    return final.select(
        "key",
        "n_core",
        "n_outlier",
        "n_offline_clusters",
        F.round("total_weight", 4).alias("total_weight"),
    ).orderBy("key")


def _windowed_volume_twin_oracle(n_batches: int = N_BATCHES) -> str:
    """Spark's watermark semantics unrolled for the batch split,
    EMPIRICALLY PINNED against the live stream's _batch-tagged capture:
    the watermark advances with a one-batch lag (the value computed from
    batch 0's max event time governs batch 2's late filter and the
    eviction at the END of batch 1 — batch 1's own input is still
    admitted under the prior watermark). Every batch spans the same time
    range, so the watermark never advances past max(batch-0 ts) − 2h.
    Net emitted set: windows with end <= that watermark, containing
    batch-0 AND batch-1 rows; batch 2's late rows are dropped and the
    open tail windows are discarded at availableNow termination. All
    emissions land in micro-batch 1 (asserted in the capture during
    development; the driver hash checks the final set)."""
    return f"""
    WITH ev AS (
        SELECT epoch_us(ts) AS us, date_trunc('hour', ts) AS hour,
               event_type, value, CAST(event_id % {n_batches} AS INT) AS b
        FROM events
    ),
    wm AS (SELECT max(us) - 7200000000 AS w FROM ev WHERE b = 0)
    SELECT hour, event_type,
           CAST(count(*) AS BIGINT) AS cnt,
           round(sum(value), 2) AS sum_value
    FROM ev, wm
    WHERE b IN (0, 1) AND epoch_us(hour + INTERVAL 1 HOUR) <= w
    GROUP BY 1, 2
    ORDER BY 1, 2
    """


@spec(
    "windowed_volume_stream_twin",
    _windowed_volume_twin_oracle(),
    "T3", "T5", "streaming", "watermark",
)
def q_windowed_volume_stream_twin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drive the ACTUAL windowed_volume streaming operator (tumbling
    1-hour windows, 2-hour watermark, append mode) over 3 deterministic
    micro-batches; return every window the stream EMITS. The oracle
    unrolls the watermark trajectory — this driver row hash-checks
    Spark's late-data dropping and window-finalization gating end to
    end, the T3/T5 semantics the reference's hand watermark cannot
    express."""
    from .streaming.pipeline import windowed_volume

    slices = _event_slices(
        _t(spark, sf_dir, "events"),
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        "event_type", "value",
    )
    captured = run_deterministic_batches(
        spark,
        slices,
        lambda s: windowed_volume(
            s.withColumn("ts", F.timestamp_micros(F.col("ts_us"))),
            watermark="2 hours",
        ),
        output_mode="append",
    )
    return (
        captured.select(
            "hour", "event_type", "cnt",
            F.round("sum_value", 2).alias("sum_value"),
        )
        .orderBy("hour", "event_type")
    )


def _session_twin_oracle(n_batches: int = N_BATCHES) -> str:
    """session_window unrolled as gaps-and-islands over the ACCEPTED rows
    (batches 0 and 1 — same one-batch watermark lag as
    windowed_volume_stream_twin), emitting sessions whose end (last
    event + gap) the batch-0 watermark has passed. Cross-batch session
    merging falls out naturally: islands are computed over the union,
    exactly like the operator's state before eviction."""
    gap_us = 30 * 60 * 1_000_000
    return f"""
    WITH ev AS (
        SELECT epoch_us(ts) AS us, user_id,
               CAST(event_id % {n_batches} AS INT) AS b
        FROM events
    ),
    acc AS (SELECT user_id, us FROM ev WHERE b IN (0, 1)),
    brk AS (
        SELECT user_id, us,
               CASE WHEN us - lag(us) OVER w > {gap_us}
                    OR lag(us) OVER w IS NULL THEN 1 ELSE 0 END AS new_s
        FROM acc WINDOW w AS (PARTITION BY user_id ORDER BY us)
    ),
    isl AS (
        SELECT user_id, us,
               sum(new_s) OVER (PARTITION BY user_id ORDER BY us
                                ROWS UNBOUNDED PRECEDING) AS sid
        FROM brk
    ),
    ses AS (
        SELECT user_id, min(us) AS st, max(us) + {gap_us} AS en,
               CAST(count(*) AS BIGINT) AS n_events
        FROM isl GROUP BY user_id, sid
    ),
    wm AS (SELECT max(us) - 7200000000 AS w FROM ev WHERE b = 0)
    SELECT make_timestamp(st) AS session_start,
           make_timestamp(en) AS session_end,
           user_id, n_events
    FROM ses, wm WHERE en <= w
    ORDER BY user_id, session_start
    """


@spec(
    "session_volume_stream_twin",
    _session_twin_oracle(),
    "T4", "T5", "streaming", "session-window",
)
def q_session_volume_stream_twin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drive the ACTUAL session_volume streaming operator (native
    session_window, 30-min gap, 2-hour watermark, append mode) over 3
    deterministic micro-batches; return every session the stream emits.
    The oracle rebuilds the sessions as gaps-and-islands over the
    accepted row set and applies the pinned watermark gate — cross-batch
    session merging included."""
    from .streaming.pipeline import session_volume

    slices = _event_slices(
        _t(spark, sf_dir, "events"),
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        "user_id",
    )
    captured = run_deterministic_batches(
        spark,
        slices,
        lambda s: session_volume(
            s.withColumn("ts", F.timestamp_micros(F.col("ts_us")))
        ),
        output_mode="append",
    )
    return captured.select(
        "session_start", "session_end", "user_id", "n_events"
    ).orderBy("user_id", "session_start")


# -- stream-stream join twin (T3-join: the third stateful-streaming family
# after windowed aggregation and arbitrary state — join STATE with
# watermark-driven eviction) -------------------------------------------------

_JOIN_LOOKBACK_S = 6 * 3600
_JOIN_DELAY_H = 480  # 20 days: admits most of batch 2 so EVERY arm below
# carries weight (a 2h delay lates-out batch 2 entirely and the eviction
# arms of the oracle would be vacuously green — verified empirically)


def _stream_join_twin_oracle(n_batches: int = N_BATCHES) -> str:
    """Stream-stream inner-join semantics unrolled for the batch split,
    under the SAME empirically-pinned one-batch watermark lag as
    windowed_volume_stream_twin (guarded by tests/test_watermark_probe.py):
    the watermark w derived from batch 0 governs batch 2's late filter and
    the join-state eviction at the end of batch 1. Emission arms:

    - both sides in batches {0,1}: admitted under the prior (zero)
      watermark, matched while both in state → always emitted;
    - signup in {0,1}, error in batch 2: error admitted iff e_ts ≥ w,
      signup still in state iff s_ts + lookback ≥ w (a signup older than
      that can no longer match any in-bound error and was evicted);
    - error in {0,1}, signup in batch 2: signup admitted iff s_ts ≥ w,
      error still in state iff e_ts ≥ w (errors match only signups at or
      before them, so an error below w is unmatchable and evicted);
    - both in batch 2: both admitted (both ≥ w) → matched in-batch.

    w is the max event time over batch-0 rows OF THE TWO JOINED TYPES
    (signup/error) — NOT the all-rows max and NOT the min of per-side
    maxima. Mechanism, pinned by the adversarial probes in
    tests/test_watermark_probe.py: the operator applies withWatermark
    once BEFORE the two event_type filters, so both join inputs carry
    physical instances of the SAME logical EventTimeWatermark node;
    the optimizer pushes each type filter below its physical instance
    (the predicate does not reference the event-time column), so each
    instance tracks only its own type's max — a 20:00 row of an
    UNRELATED type advances nothing (probe A) — and the two instances'
    reports combine into ONE node watermark by MAX, not the
    multipleWatermarkPolicy min that governs DISTINCT nodes — a 20:00
    row on either joined side drags BOTH sides' late filters up to
    18:00 (probe B + threshold sweep: pairs at 17:00/17:05,
    17:30/18:30, 09:00/09:30 and a 10:30 late-error against held state
    all drop; 19:00/19:05 emits).

    History: the first pin here ("all-rows max, filters not pushed")
    was wrong in MECHANISM but observationally equivalent on the
    driver's dense event data, where every type's batch-0 max lands
    within seconds of the global max; the sf0.1 discrimination run
    that rejected min-of-per-side-maxima could not separate
    all-rows-max from max-over-joined-types. The sparse probes above
    separate all three; this oracle now pins the true one.

    At sf0.01 every arm is non-vacuous: 92 / 30 / 32 / 21 pairs
    (both01 / signup-state / error-state / both2) — measured during
    development, hash-checked in total by the driver."""
    lb_us = _JOIN_LOOKBACK_S * 1_000_000
    delay_us = _JOIN_DELAY_H * 3600 * 1_000_000
    return f"""
    WITH ev AS (
        SELECT epoch_us(ts) AS us, user_id, event_type, event_id,
               CAST(event_id % {n_batches} AS INT) AS b
        FROM events
    ),
    wm AS (SELECT max(us) - {delay_us} AS w FROM ev
           WHERE b = 0 AND event_type IN ('signup', 'error')),
    s AS (SELECT user_id, us AS s_us, event_id AS s_id, b AS sb
          FROM ev WHERE event_type = 'signup'),
    e AS (SELECT user_id, us AS e_us, event_id AS e_id, b AS eb
          FROM ev WHERE event_type = 'error'),
    j AS (
        SELECT s.user_id, s_id, e_id, s_us, e_us, sb, eb
        FROM s JOIN e USING (user_id)
        WHERE e_us >= s_us AND e_us <= s_us + {lb_us}
    )
    SELECT user_id, s_id AS signup_id, e_id AS error_id,
           CAST((e_us - s_us) // 1000000 AS BIGINT) AS lag_s
    FROM j, wm
    WHERE (sb <= 1 AND eb <= 1)
       OR (sb <= 1 AND eb = 2 AND e_us >= w AND s_us + {lb_us} >= w)
       OR (sb = 2 AND eb <= 1 AND s_us >= w AND e_us >= w)
       OR (sb = 2 AND eb = 2 AND s_us >= w AND e_us >= w)
    ORDER BY user_id, signup_id, error_id
    """


@spec(
    "stream_join_twin",
    _stream_join_twin_oracle(),
    "T3", "streaming", "stream-stream-join",
)
def q_stream_join_twin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drive the ACTUAL correlated_pairs_stream stream-stream inner join
    (streaming/pipeline.py) — signup ⋈ error on user within a 6h lookback,
    20-day watermark, append mode — over 3 deterministic micro-batches;
    return every pair the stream EMITS. The oracle unrolls admission AND
    join-state eviction, so this driver row hash-checks Spark's
    stream-stream join state machine end to end."""
    return _outer_join_twin(spark, sf_dir, "inner")


# ---------------------------------------------------------------------------
# Outer-join stream twins (r7): the louter/fouter state machines pinned
# by tests/test_louter_twin.py's probes. Same 20-day watermark / 6h
# lookback / 3-batch split as stream_join_twin; the oracle adds the
# null-emission arms (admitted never-matched rows whose state the final
# watermark evicts — membership only, per-batch schedule not projected).
# ---------------------------------------------------------------------------


def _louter_oracle(
    delay_h: int = _JOIN_DELAY_H,
    lb_s: int = _JOIN_LOOKBACK_S,
    n: int = N_BATCHES,
) -> str:
    """Inner-twin match arms + the null arm: admitted never-matched
    lefts whose l_ts + lookback falls below the ALL-BATCHES watermark
    (the trailing no-data batch fires that final eviction, so
    membership needs no per-batch schedule)."""
    lb = lb_s * 1_000_000
    d = delay_h * 3600 * 1_000_000
    return f"""
    WITH ev AS (
        SELECT epoch_us(ts) AS us, user_id, event_type, event_id,
               CAST(event_id % {n} AS INT) AS b
        FROM events
    ),
    wm AS (SELECT max(us) - {d} AS w FROM ev
           WHERE b = 0 AND event_type IN ('signup', 'error')),
    wf AS (SELECT max(us) - {d} AS w3 FROM ev
           WHERE event_type IN ('signup', 'error')),
    s AS (SELECT user_id, us AS s_us, event_id AS s_id, b AS sb
          FROM ev WHERE event_type = 'signup'),
    e AS (SELECT user_id, us AS e_us, event_id AS e_id, b AS eb
          FROM ev WHERE event_type = 'error'),
    j AS (
        SELECT s.user_id, s_id, e_id, s_us, e_us, sb, eb
        FROM s JOIN e USING (user_id)
        WHERE e_us >= s_us AND e_us <= s_us + {lb}
    ),
    matched AS (
        SELECT user_id, s_id, e_id, s_us, e_us
        FROM j, wm
        WHERE (sb <= 1 AND eb <= 1)
           OR (sb <= 1 AND eb = 2 AND e_us >= w AND s_us + {lb} >= w)
           OR (sb = 2 AND eb <= 1 AND s_us >= w AND e_us >= w)
           OR (sb = 2 AND eb = 2 AND s_us >= w AND e_us >= w)
    ),
    adm_s AS (SELECT s.* FROM s, wm WHERE sb <= 1 OR s_us >= w),
    nulls AS (
        SELECT a.user_id, a.s_id
        FROM adm_s a, wf
        WHERE a.s_us + {lb} < wf.w3
          AND NOT EXISTS (SELECT 1 FROM matched m WHERE m.s_id = a.s_id)
    )
    SELECT user_id, s_id AS signup_id, e_id AS error_id,
           CAST((e_us - s_us) // 1000000 AS BIGINT) AS lag_s
    FROM matched
    UNION ALL
    SELECT user_id, s_id, CAST(NULL AS BIGINT), CAST(NULL AS BIGINT)
    FROM nulls
    ORDER BY user_id, signup_id, error_id
    """


def _outer_join_twin(
    spark: SparkSession, sf_dir: str, how: str
) -> DataFrame:
    """Shared driver body for the stream-stream join twins: ``how`` is the
    join mode. ``user_id`` is the coalesce of both sides because a
    right-null row has no l_user; on an inner join it is l_user."""
    from .streaming.pipeline import correlated_pairs_stream

    slices = _event_slices(
        _t(spark, sf_dir, "events"),
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        "user_id", "event_type", "event_id",
    )
    captured = run_deterministic_batches(
        spark,
        slices,
        lambda s: correlated_pairs_stream(
            s.withColumn("ts", F.timestamp_micros(F.col("ts_us"))),
            watermark=f"{_JOIN_DELAY_H} hours",
            lookback_sec=_JOIN_LOOKBACK_S,
            how=how,
        ),
        output_mode="append",
    )
    return captured.select(
        F.coalesce(F.col("l_user"), F.col("r_user")).alias("user_id"),
        F.col("l_event_id").alias("signup_id"),
        F.col("r_event_id").alias("error_id"),
        F.expr("(unix_micros(r_ts) - unix_micros(l_ts)) div 1000000")
        .cast("bigint")
        .alias("lag_s"),
    ).orderBy("user_id", "signup_id", "error_id")


@spec(
    "louter_twin",
    _louter_oracle(),
    "T3", "T7", "streaming", "stream-stream-join", "outer",
)
def q_louter_twin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """stream_join_twin with how='left_outer': unmatched signups
    null-emit when join-state eviction passes them by. Probe-pinned
    rules in tests/test_louter_twin.py (match-beats-eviction, the
    b−1 eviction clock vs b−2 admission clock, the trailing no-data
    eviction batch, silent discard at availableNow termination)."""
    return _outer_join_twin(spark, sf_dir, "left_outer")


def _fouter_oracle(
    delay_h: int = _JOIN_DELAY_H,
    lb_s: int = _JOIN_LOOKBACK_S,
    n: int = N_BATCHES,
) -> str:
    """Left-outer oracle + the symmetric right-null arm: admitted
    never-matched errors with r_ts below the final watermark (no
    lookback slack — an error only matches signups at or before it)."""
    base = _louter_oracle(delay_h, lb_s, n)
    head, tail = base.rsplit("ORDER BY", 1)
    return f"""{head}
    UNION ALL
    SELECT a.user_id, CAST(NULL AS BIGINT), a.e_id, CAST(NULL AS BIGINT)
    FROM e a, wm, wf
    WHERE (a.eb <= 1 OR a.e_us >= wm.w)
      AND a.e_us < wf.w3
      AND NOT EXISTS (SELECT 1 FROM matched m WHERE m.e_id = a.e_id)
    ORDER BY {tail}
    """


@spec(
    "fouter_twin",
    _fouter_oracle(),
    "T3", "T7", "streaming", "stream-stream-join", "outer",
)
def q_fouter_twin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """stream_join_twin with how='full_outer': both null arms — evicted
    unmatched signups AND evicted unmatched errors."""
    return _outer_join_twin(spark, sf_dir, "full_outer")


# ---------------------------------------------------------------------------
# dropDuplicatesWithinWatermark twin (r7): Spark's NATIVE watermarked
# dedup state machine, rules pinned by tests/test_ddww_twin.py's probe
# (first-processed wins and its event time is FROZEN; eviction at
# T + delay < watermark; late rows dropped; one-batch watermark lag).
# ---------------------------------------------------------------------------

_DDWW_DELAY_H = 168  # 7 days: every oracle arm non-vacuous at sf0.01


def _ddww_oracle(delay_h: int = _DDWW_DELAY_H, n: int = N_BATCHES) -> str:
    """The pinned rules unrolled for the (event_id % n) batch split,
    keyed on (user_id, event_type). Winner per (key, batch) = min
    event_id (slices are written sorted by event_id, so file order IS
    event_id order)."""
    d_us = delay_h * 3600 * 1_000_000
    return f"""
    WITH ev AS (
        SELECT event_id, epoch_us(ts) AS us, user_id, event_type,
               CAST(event_id % {n} AS INT) AS b
        FROM events
    ),
    wm AS (SELECT max(us) - {d_us} AS w2 FROM ev WHERE b = 0),
    e0 AS (SELECT user_id, event_type, min(event_id) AS id,
                  arg_min(us, event_id) AS t
           FROM ev WHERE b = 0 GROUP BY 1, 2),
    e1 AS (SELECT v.user_id, v.event_type, min(v.event_id) AS id,
                  arg_min(v.us, v.event_id) AS t
           FROM ev v
           WHERE b = 1 AND NOT EXISTS (
               SELECT 1 FROM e0
               WHERE e0.user_id = v.user_id
                 AND e0.event_type = v.event_type)
           GROUP BY 1, 2),
    st AS (SELECT * FROM e0 UNION ALL SELECT * FROM e1),
    live AS (SELECT s.* FROM st s, wm WHERE s.t + {d_us} >= wm.w2),
    e2 AS (SELECT v.user_id, v.event_type, min(v.event_id) AS id
           FROM ev v, wm
           WHERE v.b = 2 AND v.us >= wm.w2 AND NOT EXISTS (
               SELECT 1 FROM live l
               WHERE l.user_id = v.user_id
                 AND l.event_type = v.event_type)
           GROUP BY 1, 2)
    SELECT user_id, event_type, id AS event_id, 0 AS batch FROM e0
    UNION ALL
    SELECT user_id, event_type, id, 1 FROM e1
    UNION ALL
    SELECT user_id, event_type, id, 2 FROM e2
    ORDER BY user_id, event_type, batch
    """


@spec(
    "ddww_twin",
    _ddww_oracle(),
    "T7", "streaming", "watermarked-dedup", "native-state",
)
def q_ddww_twin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drive Spark's NATIVE dropDuplicatesWithinWatermark over the
    3-batch split of events keyed on (user_id, event_type), 7-day
    delay; the oracle unrolls first-wins admission, frozen expiry
    times, batch-boundary eviction, and late-drop — so this driver row
    hash-checks the built-in watermarked-dedup state machine end to
    end (streaming/dedup.py's registry twin covers the custom
    foreachBatch form)."""
    # each slice file in event_id order: the oracle's first-wins admission
    # takes the min event_id per key and batch
    slices = [
        sl.orderBy("event_id")
        for sl in _event_slices(
            _t(spark, sf_dir, "events"),
            F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
            "user_id", "event_type", "event_id",
        )
    ]
    cap = run_deterministic_batches(
        spark,
        slices,
        lambda st: st.withColumn("ts", F.timestamp_micros(F.col("ts_us")))
        .withWatermark("ts", f"{_DDWW_DELAY_H} hours")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select("user_id", "event_type", "event_id"),
        output_mode="append",
    )
    return cap.select(
        "user_id", "event_type", "event_id",
        F.col("_batch").cast("int").alias("batch"),
    ).orderBy("user_id", "event_type", "batch")


# ---------------------------------------------------------------------------
# r8 registration (rehearsed r7): right-outer completes the
# stream-stream join family (inner r6, left/full r7, right r8).
# ---------------------------------------------------------------------------


def _router_oracle(
    delay_h: int = _JOIN_DELAY_H,
    lb_s: int = _JOIN_LOOKBACK_S,
    n: int = N_BATCHES,
) -> str:
    """Matched arms + ONLY the right-null arm (an unmatched signup must
    NOT null-emit under right_outer — probe-pinned in
    tests/test_louter_twin.py::test_router_right_arm_only)."""
    base = _louter_oracle(delay_h, lb_s, n)
    head, _ = base.split("adm_s AS", 1)
    return f"""{head}matched_out AS (
        SELECT user_id, s_id AS signup_id, e_id AS error_id,
               CAST((e_us - s_us) // 1000000 AS BIGINT) AS lag_s
        FROM matched
    )
    SELECT * FROM matched_out
    UNION ALL
    SELECT a.user_id, CAST(NULL AS BIGINT), a.e_id, CAST(NULL AS BIGINT)
    FROM e a, wm, wf
    WHERE (a.eb <= 1 OR a.e_us >= wm.w)
      AND a.e_us < wf.w3
      AND NOT EXISTS (SELECT 1 FROM matched m WHERE m.e_id = a.e_id)
    ORDER BY user_id, signup_id, error_id
    """


@spec(
    "router_twin",
    _router_oracle(),
    "T3", "T7", "streaming", "stream-stream-join", "outer",
)
def q_router_twin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """stream_join_twin with how='right_outer': evicted unmatched
    errors null-emit; unmatched signups are silent (the unmatched-LEFT
    silence is probe-pinned in tests/test_louter_twin.py)."""
    return _outer_join_twin(spark, sf_dir, "right_outer")


# ---------------------------------------------------------------------------
# r10 queue (rehearsed in r9, registered in r10)
# ---------------------------------------------------------------------------


def ewma_stream_twin_oracle(n_batches: int = N_BATCHES) -> str:
    """Chained-CTE fold of the streaming EWMA recurrence (s seeds at the
    key's FIRST observed batch; absent batches don't update — the
    GroupState invocation contract). α via repr() CAST AS DOUBLE."""
    from .streaming.state import EWMA_STREAM_ALPHA

    a_ = f"CAST({EWMA_STREAM_ALPHA!r} AS DOUBLE)"
    a1 = f"CAST({1.0 - EWMA_STREAM_ALPHA!r} AS DOUBLE)"
    ctes = [
        f"""pb AS (
        SELECT event_type AS key, CAST(event_id % {n_batches} AS INT) AS b,
               CAST(count(*) AS DOUBLE) AS y
        FROM events GROUP BY 1, 2
    ),
    seq AS (
        SELECT key, b, y,
               row_number() OVER (PARTITION BY key ORDER BY b) AS rn
        FROM pb
    ),
    r1 AS (SELECT key, rn, y, y AS s FROM seq WHERE rn = 1)"""
    ]
    for i in range(2, n_batches + 1):
        ctes.append(
            f"""r{i} AS (
        SELECT f.key, f.rn, f.y, {a_} * f.y + {a1} * r{i - 1}.s AS s
        FROM seq f JOIN r{i - 1} ON f.key = r{i - 1}.key WHERE f.rn = {i}
    )"""
        )
    unioned = " UNION ALL ".join(
        f"SELECT * FROM r{i}" for i in range(1, n_batches + 1)
    )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f""",
    unioned AS ({unioned}),
    final AS (
        SELECT key, s, rn,
               row_number() OVER (PARTITION BY key ORDER BY rn DESC) AS rev
        FROM unioned
    )
    SELECT key, round(s, 6) AS ewma, CAST(rn AS BIGINT) AS batches_seen
    FROM final WHERE rev = 1 ORDER BY key
    """
    )


@spec(
    "ewma_volume_stream_twin",
    ewma_stream_twin_oracle(),
    "T4", "T6", "streaming", "stateful", "ewma",
)
def q_ewma_volume_stream_twin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drive the ACTUAL ewma_volume_stream stateful operator over 3
    deterministic micro-batches; return each key's final smoothed
    volume and observed-batch count. The oracle unrolls the per-batch
    EWMA recurrence as a chained CTE fold (the decayed_volume twin
    discipline). r10 queue, rehearsed r9 (tests/test_ewma_stream.py)."""
    from .streaming.state import ewma_volume_stream

    captured = run_deterministic_batches(
        spark,
        _event_slices(_t(spark, sf_dir, "events"), F.col("event_type").alias("key")),
        lambda s: ewma_volume_stream(s, "key"),
        output_mode="append",
    )
    final = last_batch_per_key(captured, "key")
    return final.select(
        "key", F.round("ewma", 6).alias("ewma"), "batches_seen"
    ).orderBy("key")
