"""Core relational operators of the log-analytics engine.

Each function is a pure ``DataFrame -> DataFrame`` transform mirroring one
capability of the reference (file:line citations into /root/reference in each
docstring). The ``events`` testdata table plays the role of the reference's
``logs`` table (log_id→event_id, level→event_type, cluster key→user_id,
parsed_data→props).

Scale notes are inline: each transform states its shuffle shape and why it
holds at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# Scans / filters / projections (SURVEY §2.2 P1-P9, §2.7 O1-O2)
# ---------------------------------------------------------------------------

INTERESTING_TYPES = ("error", "signup")  # reference: level IN ('error','warning')


def scorable(
    levels: tuple[str, ...] = INTERESTING_TYPES,
    level_col: str = "event_type",
    ids: Column | None = None,
) -> Column:
    """The rows the scoring service takes: an interesting level with a
    payload to embed. The slice scan passes its id range as ``ids``, and-ed
    in between the two, so its pushed filters read level, range, payload;
    the scoring stream keeps rows by the predicate alone."""
    kept = F.col(level_col).isin(*levels)
    if ids is not None:
        kept = kept & ids
    return kept & F.col("props").isNotNull()


def scan_slice(
    df: DataFrame,
    id_col: str = "event_id",
    levels: tuple[str, ...] = INTERESTING_TYPES,
    level_col: str = "event_type",
    lo: int = 100,
    hi: int = 5000,
    limit: int | None = 500,
) -> DataFrame:
    """Batch-slice scan: the reference's incremental fetch.

    Reference: ``SELECT * FROM logs WHERE log_id BETWEEN :start AND :end AND
    level IN ('error','warning') AND cluster_id IS NULL ORDER BY log_id ASC``
    (scripts/run_incremental_batch.py:59-65).

    Scale: all three predicates (IN-list, BETWEEN, NOT NULL) push down to the
    parquet scan (row-group min/max skipping on the id range); the ORDER BY +
    LIMIT becomes a TakeOrdered, not a total sort.
    """
    out = df.filter(
        scorable(levels, level_col, F.col(id_col).between(lo, hi))
    ).orderBy(id_col)
    return out.limit(limit) if limit else out


def watermark_bounds(df: DataFrame, ts_col: str = "ts") -> DataFrame:
    """Scalar watermark fetch (high/low/count in one pass).

    Reference: ``fetch_min_timestamp`` (src/db/log_ops.py:17-41) and
    ``MAX(last_seen)`` (src/db/pattern_ops.py:13-16).

    Scale: single partial+final aggregate, no data movement beyond one row
    per partition.
    """
    return df.agg(
        F.max(ts_col).alias("max_ts"),
        F.min(ts_col).alias("min_ts"),
        F.count(F.lit(1)).alias("n_rows"),
    )


# ---------------------------------------------------------------------------
# Scalar functions (SURVEY §2.3 F1-F9)
# ---------------------------------------------------------------------------


def log_templates(df: DataFrame) -> DataFrame:
    """Template text composition + JSON flattening.

    Reference: ``concat_ws(' | ', source, level, message, parsed_data)``
    (src/db/pattern_ops.py:31) and the README-promised-but-unimplemented JSON
    key extraction (README.md:62) — implemented for real with
    ``get_json_object``.

    Scale: pure narrow projection — whole-stage codegen, no shuffle.
    """
    return df.select(
        F.col("event_id"),
        F.col("user_id"),
        F.concat_ws(
            " | ",
            F.col("event_type"),
            F.substring(F.col("props"), 1, 20),
        ).alias("log_template"),
        F.regexp_extract(F.col("props"), r'"k": (\d+)', 1)
        .cast("int")
        .alias("k_value"),
    )


def json_key_volume(df: DataFrame) -> DataFrame:
    """Flatten the JSON payload and aggregate on an extracted key (F9 + A1)."""
    k = F.get_json_object(F.col("props"), "$.k").cast("int")
    return (
        df.select((k % 10).alias("k_mod"), F.col("value"))
        .groupBy("k_mod")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.round(F.avg("value"), 4).alias("avg_value"),
        )
    )


# ---------------------------------------------------------------------------
# Aggregations (SURVEY §2.5 A1-A8) + count-window bucketing (F5/T5)
# ---------------------------------------------------------------------------


def batch_volume(
    df: DataFrame,
    key_col: str = "user_id",
    id_col: str = "event_id",
    batch_size: int = 100,
) -> DataFrame:
    """Per-(cluster, virtual-batch) volume counts.

    Reference: ``SELECT cluster_id, log_id/100 AS batch_id, COUNT(*) …
    GROUP BY cluster_id, batch_id`` (scripts/run_training_batch.py:221-227)
    and the per-batch count feeding cluster_volume_history
    (src/db/incident_ops.py:52-61).

    Scale: one hash shuffle on (key, batch); partial aggregation map-side
    combines before the exchange, so shuffle volume is bounded by group
    cardinality, not row count.
    """
    return (
        df.groupBy(
            F.col(key_col).alias("cluster_id"),
            F.floor(F.col(id_col) / batch_size).alias("batch_id"),
        )
        .agg(F.count(F.lit(1)).alias("log_count"))
    )


def value_counts_topk(df: DataFrame, col: str = "event_type", k: int = 3) -> DataFrame:
    """Top-k values by frequency with deterministic tie-break.

    Reference: ``df.cluster_id.value_counts().head(3)``
    (scripts/validate_quality.py:106).

    Scale: agg shuffles only distinct values; orderBy+limit is TakeOrdered.
    """
    return (
        df.groupBy(F.col(col))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.col(col))
        .limit(k)
    )


def distinct_actors(df: DataFrame) -> DataFrame:
    """Exact + approximate distinct counts per event type.

    Reference: ``history_df.cluster_id.nunique()`` (src/db/incident_ops.py:88,
    src/ml/volume_analyzer.py:111). The approx (HLL) variant is the 100 TB
    path; the exact one is the oracle-checked one.
    """
    return (
        df.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n_users"))
        .orderBy("event_type")
    )


def crosstab_counts(df: DataFrame) -> DataFrame:
    """Cross-tabulation via conditional aggregation.

    Reference: ``pd.crosstab(truth, cluster_id)``
    (scripts/visualise_results.py:27).

    Scale: single shuffle on the row key; pivot columns are conditional
    counts, no second pass.
    """
    return (
        df.groupBy("event_type")
        .agg(
            F.sum(F.when(F.col("value") < 50, 1).otherwise(0)).alias("lo"),
            F.sum(F.when((F.col("value") >= 50) & (F.col("value") < 150), 1).otherwise(0)).alias("mid"),
            F.sum(F.when(F.col("value") >= 150, 1).otherwise(0)).alias("hi"),
        )
        .orderBy("event_type")
    )


def hourly_volume(df: DataFrame, ts_col: str = "ts") -> DataFrame:
    """Tumbling time-window volume (streaming T5's batch twin).

    Reference: count-based micro-batching (scripts/run_training_batch.py:218);
    our engine's native window is time-based — this is the batch-SQL
    equivalent of ``groupBy(F.window(ts, '1 hour'))``.
    """
    return (
        df.groupBy(
            F.date_trunc("hour", F.col(ts_col)).alias("hour"),
            F.col("event_type"),
        )
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
    )


def decayed_volume(
    df: DataFrame,
    ts_col: str = "ts",
    key_col: str = "user_id",
    half_life_hours: float = 24.0,
) -> DataFrame:
    """Exponentially time-decayed volume per key (DenStream decay analogue).

    Reference: DenStream ``decaying_factor=0.0005`` ages micro-clusters
    (src/ml/model.py:12); SURVEY T6 — no Spark builtin, expressed as an
    exp(-λ·age) weighted aggregate.

    Scale: the decay weight is computed per-row pre-shuffle; the aggregate
    itself is an ordinary partial+final sum.
    """
    lam = 0.6931471805599453 / (half_life_hours * 3600.0)
    # Age relative to the global max timestamp (the "now" of the batch).
    # A one-row aggregate broadcast-joined in, NOT an unpartitioned window
    # (which would collapse the whole table onto one task at scale).
    now = df.agg(F.max(ts_col).alias("_now"))
    # exact integer microseconds (ntz → tz-aware under UTC session tz), then
    # double seconds — identical arithmetic to the oracle's epoch_us()
    age_sec = (
        F.unix_micros(F.col("_now").cast("timestamp"))
        - F.unix_micros(F.col(ts_col).cast("timestamp"))
    ) / F.lit(1000000.0)
    weight = F.exp(-F.lit(lam) * age_sec)
    return (
        df.crossJoin(F.broadcast(now))
        .groupBy(F.col(key_col).alias("cluster_id"))
        .agg(F.round(F.sum(weight), 4).alias("decayed_count"))
    )


# ---------------------------------------------------------------------------
# Window functions (SURVEY §2.6 W1-W6, §2.9 M8/M10)
# ---------------------------------------------------------------------------


def volume_history_window(volume: DataFrame, window_size: int = 5) -> DataFrame:
    """Last-N volume entries per cluster (top-N-per-group).

    Reference: ``ROW_NUMBER() OVER (PARTITION BY cluster_id ORDER BY
    batch_timestamp DESC) rn … WHERE rn <= :window_size``
    (src/db/cluster_ops.py:39-53).

    Scale: one shuffle on cluster_id; Spark ≥3.5 pushes the rank limit into
    the sort (InferWindowGroupLimit) so each partition keeps only N rows.
    """
    w = Window.partitionBy("cluster_id").orderBy(
        F.desc("batch_id"), F.desc("log_count")
    )
    return (
        volume.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= window_size)
        .select("cluster_id", "batch_id", "log_count", "rn")
    )


def volume_zscore(volume: DataFrame, window_size: int = 5) -> DataFrame:
    """Rolling volume features: velocity, rolling mean, z-score deviation.

    Reference: per-cluster ``[current_volume, velocity, rolling_avg,
    deviation]`` (src/ml/volume_analyzer.py:27-73): velocity =
    counts[-1]-counts[-2] (:55-60), rolling_avg = np.mean (:62-63), deviation
    = (cur-avg)/(np.std+1e-5) (:65-68) — np.std is POPULATION std, so
    ``stddev_pop`` here. Groups with fewer than ``window_size`` points are
    skipped (:47-49).

    Scale: all four features come from ONE window spec → one shuffle on
    cluster_id, one sort, streaming frame evaluation. The reference loops
    per-group in Python; this is whole-stage-codegen'd.
    """
    w = Window.partitionBy("cluster_id").orderBy("batch_id")
    frame = w.rowsBetween(-(window_size - 1), 0)
    counted = Window.partitionBy("cluster_id")
    out = (
        volume.withColumn("velocity", F.col("log_count") - F.lag("log_count", 1).over(w))
        .withColumn("rolling_avg", F.avg("log_count").over(frame))
        .withColumn("rolling_std", F.stddev_pop("log_count").over(frame))
        .withColumn(
            "deviation",
            (F.col("log_count") - F.col("rolling_avg"))
            / (F.col("rolling_std") + F.lit(1e-5)),
        )
        .withColumn("n_points", F.count(F.lit(1)).over(counted))
        .withColumn("seq", F.row_number().over(w))
        .filter((F.col("n_points") >= window_size) & (F.col("seq") >= window_size))
        .select(
            "cluster_id",
            "batch_id",
            "log_count",
            "velocity",
            F.round("rolling_avg", 4).alias("rolling_avg"),
            F.round("deviation", 4).alias("deviation"),
        )
    )
    return out


def flag_anomalies(
    features: DataFrame,
    z_threshold: float = -1.0,
    max_anomalies: int = 3,
    ratio_guard: float = 0.3,
) -> DataFrame:
    """Relative z-score anomaly flagging with cap + miscalibration guard.

    Reference: flag score z < −1.0 vs batch mean/std
    (src/ml/volume_analyzer.py:126-141), cap at 3 (:93, :143-147), skip all
    if flagged/evaluated > 0.3 (src/db/incident_ops.py:87-97). The "score"
    here is the native deviation feature (lower = more anomalous volume
    spike direction is encoded by sign).

    Fully lazy: the batch statistics and the ratio guard are unpartitioned
    window aggregates in the plan, NOT a driver-side count() branch — so
    the operator composes into streaming foreachBatch and stays one job at
    any scale. Its input is one row per cluster after the first window, and
    on an input that is already one partition no window needs an exchange.
    """
    latest = Window.partitionBy("cluster_id").orderBy(F.desc("batch_id"))
    everything = Window.partitionBy()
    per_cluster = (
        features.withColumn("rn", F.row_number().over(latest))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    # score: the reference's IsolationForest scores are "lower = more
    # anomalous" (volume_analyzer.py:117-119); mirrored here by -|deviation|.
    flagged = (
        per_cluster.withColumn("score", -F.abs(F.col("deviation")))
        .withColumn("_mu", F.avg("score").over(everything))
        .withColumn("_sigma", F.stddev_pop("score").over(everything))
        .withColumn("_n", F.count(F.lit(1)).over(everything))
        .withColumn(
            "rel_z", (F.col("score") - F.col("_mu")) / (F.col("_sigma") + F.lit(1e-9))
        )
        .filter(F.col("rel_z") < z_threshold)
    )
    guarded = (
        flagged.withColumn("_nf", F.count(F.lit(1)).over(everything))
        # miscalibration guard (incident_ops.py:87-97): if too many clusters
        # flag at once, trust nothing and emit no incidents
        .filter(F.col("_nf") <= F.lit(ratio_guard) * F.col("_n"))
    )
    return (
        guarded.orderBy("score", "cluster_id")
        .limit(max_anomalies)
        .select("cluster_id", "batch_id", "log_count", F.round("score", 4).alias("score"))
    )


def robust_anomaly_stats(events: DataFrame, k: float = 3.0) -> DataFrame:
    """Median/MAD outlier report per event_type — the robust twin of the
    mean/std z-score path: one contaminated batch shifts a mean and
    inflates a std (masking the very outliers under test), while the
    median and the median-absolute-deviation have a 50% breakdown point.
    Flags |x − med| > k · 1.4826 · MAD (1.4826 scales MAD to σ under
    normality — the standard robust-z convention).

    Scale shape: three narrow (event_type, value) passes — median, MAD,
    flag count — each reducing map-side to |event_type| rows, with the
    tiny stat frames broadcast back between passes (the MAD needs the
    median first and the flags need the MAD: the dependency chain is
    inherent, not a plan artifact). ``percentile`` is exact interpolated,
    the DuckDB ``quantile_cont`` twin (interpolation commutes with
    power-of-two scaling, so the doubles agree bit-for-bit).
    """
    # the tiny per-type stat frames are persisted: both are consumed by
    # two downstream branches, and without materialization each consumer
    # re-runs the whole upstream pass (6 fact scans instead of the 3 the
    # dependency chain requires)
    med = (
        events.groupBy("event_type")
        .agg(F.percentile("value", F.lit(0.5)).alias("med"))
        # cache: caller-owned (repo contract — bench/driver clear per query)
        .persist()
    )
    dev = events.join(F.broadcast(med), "event_type").withColumn(
        "_ad", F.abs(F.col("value") - F.col("med"))
    )
    stats = (
        dev.groupBy("event_type")
        .agg(
            F.first("med").alias("med"),
            F.percentile("_ad", F.lit(0.5)).alias("mad"),
            F.count(F.lit(1)).alias("n"),
        )
        # cache: caller-owned (repo contract — bench/driver clear per query)
        .persist()
    )
    flagged = (
        dev.join(
            F.broadcast(stats.select("event_type", F.col("mad").alias("_mad"))),
            "event_type",
        )
        .filter(F.col("_ad") > F.lit(k) * F.lit(1.4826) * F.col("_mad"))
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_outliers"))
    )
    return (
        stats.join(flagged, "event_type", "left")
        .select(
            "event_type",
            F.round("med", 6).alias("med"),
            F.round("mad", 6).alias("mad"),
            "n",
            F.coalesce("n_outliers", F.lit(0)).cast("bigint").alias(
                "n_outliers"
            ),
            F.round(
                F.coalesce("n_outliers", F.lit(0)) / F.col("n").cast("double"),
                6,
            ).alias("outlier_rate"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Joins (SURVEY §2.4 J1-J3) + upsert semantics (S6/S7)
# ---------------------------------------------------------------------------


def mine_patterns(df: DataFrame, since_ts=None) -> DataFrame:
    """One representative row per cluster + total volume ("pattern mining").

    Reference: ``logs l JOIN (SELECT cluster_id, MIN(log_id) AS first_log,
    COUNT(*) AS total FROM logs GROUP BY cluster_id HAVING cluster_id IS NOT
    NULL) t ON l.cluster_id=t.cluster_id AND l.log_id=t.first_log``
    (src/db/pattern_ops.py:28-65); the incremental variant adds
    ``timestamp > :last_time`` (:43).

    Scale: one aggregate. ``min_by`` carries the first row's columns
    through it, so the fact table is shuffled once, partially aggregated
    map-side, and never joined back to its own aggregate.
    """
    base = df.filter(F.col("user_id").isNotNull())
    if since_ts is not None:
        base = base.filter(F.col("ts") > F.lit(since_ts))
    agg = base.groupBy("user_id").agg(
        F.min_by(F.struct("event_type", "props", "ts"), "event_id").alias("first"),
        F.count(F.lit(1)).alias("incident_count"),
    )
    return agg.select(
        F.col("user_id").alias("cluster_id"),
        F.concat_ws(" | ", "first.event_type", "first.props").alias("log_template"),
        "incident_count",
        F.col("first.ts").alias("last_seen"),
    )


# the incidents table the batch and the streaming anomaly passes append to
INCIDENTS_DDL = "cluster_id int, status string, created_at timestamp"


def open_incident_upsert(
    candidates: DataFrame,
    incidents: DataFrame,
    open_statuses: tuple[str, ...] = ("OPEN", "NEW"),
) -> DataFrame:
    """Set-oriented incident dedup-upsert split (insert-set vs touch-set).

    Reference: per-row ``SELECT 1 FROM incidents WHERE cluster_id=:cid AND
    status IN ('OPEN','NEW') LIMIT 1`` then branch insert/update
    (src/db/incident_ops.py:7-41). Re-expressed as ONE anti-join (rows to
    insert) unioned with ONE semi-join (rows to touch) — a single pass
    instead of an RPC per cluster.

    Scale: the incident table is small → broadcast; zero shuffle of the
    candidate side.
    """
    open_inc = incidents.filter(F.col("status").isin(*open_statuses)).select("cluster_id").distinct()
    to_insert = candidates.join(F.broadcast(open_inc), "cluster_id", "left_anti").withColumn(
        "action", F.lit("insert")
    )
    to_touch = candidates.join(F.broadcast(open_inc), "cluster_id", "left_semi").withColumn(
        "action", F.lit("update")
    )
    return to_insert.unionByName(to_touch)


# ---------------------------------------------------------------------------
# Set operations (SURVEY §2.8) + multidimensional aggregates (§2.5 note)
# ---------------------------------------------------------------------------


def actor_setops(df: DataFrame) -> DataFrame:
    """UNION / INTERSECT / EXCEPT cardinalities over per-type actor sets.

    The reference has no set operations (SURVEY §2.8); Spark's are free and
    exposed here: actors who error vs actors who sign up. One row out.

    Scale: each distinct is a partial-agg'd shuffle on user_id; the three
    scalar counts then combine driver-free via crossJoin of 1-row frames.
    """
    err = df.filter(F.col("event_type") == "error").select("user_id").distinct()
    sig = df.filter(F.col("event_type") == "signup").select("user_id").distinct()
    n_union = err.unionByName(sig).distinct().agg(F.count(F.lit(1)).alias("n_union"))
    n_inter = err.intersect(sig).agg(F.count(F.lit(1)).alias("n_intersect"))
    n_only = err.exceptAll(sig).agg(F.count(F.lit(1)).alias("n_error_only"))
    return n_union.crossJoin(n_inter).crossJoin(n_only)


def rollup_volume(df: DataFrame) -> DataFrame:
    """Daily volume with ROLLUP subtotals (per type+day, per type, grand).

    Scale: rollup expands grouping sets BEFORE the shuffle with partial
    aggregation per set — one exchange regardless of how many levels.
    """
    return (
        df.rollup(F.col("event_type"), F.to_date(F.col("ts")).alias("day"))
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
    )


def cube_volume(df: DataFrame) -> DataFrame:
    """CUBE over (event_type, actor cohort): all 4 grouping sets in one pass."""
    return (
        df.cube(F.col("event_type"), (F.col("user_id") % 10).alias("cohort"))
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.round(F.avg("value"), 4).alias("avg_value"),
        )
    )


def upsert_append(new: DataFrame, existing: DataFrame, key: str = "log_id") -> DataFrame:
    """Idempotent insert: ON CONFLICT DO NOTHING as an anti-join.

    Reference: ``INSERT INTO log_embeddings … ON CONFLICT (log_id) DO
    NOTHING`` (src/db/log_ops.py:47-55).
    """
    return new.join(existing.select(key).distinct(), key, "left_anti")


def keyed_overwrite(
    base: DataFrame, updates: DataFrame, key: str, col: str
) -> DataFrame:
    """Join-and-overwrite: UPDATE … WHERE key = :k as a left join + coalesce.

    Reference: ``UPDATE logs SET cluster_id=:c WHERE log_id=:id`` executed
    per row (src/db/log_ops.py:58-81); here one broadcast join updates the
    whole batch.
    """
    upd = updates.select(F.col(key), F.col(col).alias("_new_val"))
    out = base.join(F.broadcast(upd), key, "left")
    return out.withColumn(col, F.coalesce(F.col("_new_val"), F.col(col))).drop("_new_val")


def sessionize(
    df: DataFrame,
    gap_minutes: int = 30,
    key_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
) -> DataFrame:
    """Per-actor sessionization (gaps-and-islands): a new session starts
    after a silence longer than ``gap_minutes``.

    The reference approximates sessions with fixed 100-row virtual batches
    (F5); real session semantics are the log-analytics upgrade, and the
    streaming twin is ``F.session_window`` (streaming/pipeline.py).

    Scale: one shuffle keyed by actor for the window pass, then the same
    partitioning is REUSED by the session aggregation (no second exchange —
    groupBy(key, session_idx) is a prefix of the window partitioning).
    """
    w = Window.partitionBy(key_col).orderBy(ts_col, id_col)
    # exact integer microseconds (matches the oracle's epoch_us; second-level
    # date_diff would count boundary crossings, not elapsed time)
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    prev_us = F.lag(us).over(w)
    gap_us = F.lit(gap_minutes * 60 * 1_000_000)
    # >= : an event exactly `gap` after the last one opens a NEW session —
    # the same closed-open boundary Structured Streaming's session_window
    # uses, so batch and streaming sessionization agree event-for-event
    new_flag = F.when(
        prev_us.isNull() | ((us - prev_us) >= gap_us), F.lit(1)
    ).otherwise(F.lit(0))
    sessions = df.withColumn("_new", new_flag).withColumn(
        "session_idx",
        F.sum("_new").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return (
        sessions.groupBy(key_col, "session_idx")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min(ts_col).alias("session_start"),
            F.max(ts_col).alias("session_end"),
            F.round(
                (F.max(us) - F.min(us)) / F.lit(1_000_000.0), 6
            ).alias("duration_sec"),
        )
    )


def session_gap_sweep(
    df: DataFrame,
    gaps_minutes: tuple[int, ...] = (5, 15, 30, 60, 120),
    key_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
) -> DataFrame:
    """Sessionization quality sweep: per candidate gap, the corpus-wide
    session census (total sessions, active users, events per session) —
    the report an operator reads to CHOOSE the gap before running
    ``sessionize`` for real.

    One pass for ALL gaps: sessions-at-gap-g = per-user firsts + the
    inter-event deltas >= g, so a single lag window (ONE shuffle on the
    actor key — the same exchange sessionize pays for one gap) followed
    by one global conditional aggregate answers every gap; per-gap
    columns unpivot to rows driver-free via ``stack``. Naive per-gap
    sessionize would pay |gaps| shuffles and |gaps| session-grain
    aggregations for a report this computes in-expression.
    """
    w = Window.partitionBy(key_col).orderBy(ts_col, id_col)
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    delta = (us - F.lag(us).over(w)).alias("delta_us")
    deltas = df.select(F.col(key_col), delta)
    # >= boundary matches sessionize/session_window (closed-open)
    aggs = []
    for g in gaps_minutes:
        g_us = g * 60 * 1_000_000
        aggs.append(
            F.sum(
                (
                    F.col("delta_us").isNull()
                    | (F.col("delta_us") >= F.lit(g_us))
                ).cast("bigint")
            ).alias(f"s{g}")
        )
    totals = deltas.agg(
        F.count(F.lit(1)).alias("n_events"),
        F.count_distinct(F.col(key_col)).alias("n_users"),
        *aggs,
    )
    stack_expr = ", ".join(f"{g}, s{g}" for g in gaps_minutes)
    return (
        totals.selectExpr(
            "n_events",
            "n_users",
            f"stack({len(gaps_minutes)}, {stack_expr}) "
            "AS (gap_minutes, n_sessions)",
        )
        .select(
            F.col("gap_minutes").cast("int").alias("gap_minutes"),
            F.col("n_sessions").cast("bigint").alias("n_sessions"),
            F.col("n_users").cast("bigint").alias("n_users"),
            F.round(
                F.col("n_events").cast("double") / F.col("n_sessions"), 6
            ).alias("avg_events_per_session"),
        )
        .orderBy("gap_minutes")
    )


def asof_last_event(
    df: DataFrame,
    probe_type: str = "error",
    build_type: str = "signup",
) -> DataFrame:
    """As-of join: for every ``probe_type`` event, the most recent
    ``build_type`` event of the same actor at-or-before its timestamp.

    SURVEY §2.4 notes the reference has no as-of/range joins; this is the
    canonical log-analytics use ("which signup preceded this error?").
    Spark has no ASOF JOIN operator — re-expressed as ONE pass: a
    RANGE-framed running max over the union stream, partitioned by actor.
    The range frame (not rows) makes ties at identical timestamps match
    DuckDB's ``ASOF JOIN ... ON e.ts >= s.ts`` exactly.

    Scale: one shuffle on user_id total — strictly cheaper than the
    join+re-aggregate alternative (two shuffles), and no build-side
    broadcast requirement.
    """
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts")
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    )
    build_ts = F.when(F.col("event_type") == build_type, F.col("ts"))
    us = lambda c: F.unix_micros(c.cast("timestamp"))  # noqa: E731
    return (
        df.withColumn("last_build_ts", F.max(build_ts).over(w))
        .filter(F.col("event_type") == probe_type)
        .select(
            "event_id",
            "user_id",
            "ts",
            F.col("last_build_ts").alias("last_signup_ts"),
            F.round(
                (us(F.col("ts")) - us(F.col("last_build_ts"))) / F.lit(1_000_000.0), 6
            ).alias("lag_sec"),
        )
    )


def value_percentiles(df: DataFrame) -> DataFrame:
    """Exact interpolated percentiles of ``value`` per event type (p50/p90/
    p99) + the HLL-style approximate path note: at 100 TB swap ``percentile``
    for ``approx_percentile`` (t-digest, mergeable, one pass) — the exact
    form is the oracle-checked one.
    """
    pcts = F.percentile("value", F.array(F.lit(0.5), F.lit(0.9), F.lit(0.99)))
    return (
        df.groupBy("event_type")
        .agg(
            F.round(pcts[0], 4).alias("p50"),
            F.round(pcts[1], 4).alias("p90"),
            F.round(pcts[2], 4).alias("p99"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("event_type")
    )


def salted_join(
    fact: DataFrame,
    dim: DataFrame,
    key: str,
    salt_col_source: str,
    n_salt: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Skew-safe equi-join: salt the fact side, replicate the dim side.

    For joins where ``key`` is heavily skewed and the dim side is too big to
    broadcast: the hot key's rows spread over ``n_salt`` tasks instead of
    one straggler. Salt is DETERMINISTIC (hash of a fact-side unique column,
    not rand()) so retries and re-runs are stable. AQE's skew-join split
    covers sort-merge cases adaptively; this is the explicit form for when
    the skew is known up front (e.g. the null/default cluster id).

    Scale: shuffle keys become (key, salt); dim grows ×n_salt rows (not
    bytes×n_salt on the wire per task — each task reads one replica).
    """
    salted_fact = fact.withColumn(
        "_salt", F.pmod(F.xxhash64(F.col(salt_col_source)), F.lit(n_salt))
    )
    replicas = dim.withColumn(
        "_salt", F.explode(F.array(*[F.lit(i) for i in range(n_salt)]))
    )
    out = salted_fact.join(replicas, [key, "_salt"], how)
    return out.drop("_salt")


def events_in_maintenance_windows(df: DataFrame, windows: DataFrame) -> DataFrame:
    """Range/interval join: events falling inside any [win_start, win_end)
    window (SURVEY §2.4 'not present' — the classic ops question "which
    errors happened during a deploy window?").

    Scale: the window table is small by nature → broadcast nested-loop
    with the range predicate; the fact side is never shuffled. For two
    LARGE interval sets the strategy is bucketized overlap join (split
    intervals into fixed-size time buckets, equi-join on bucket, re-check
    the range) — same shape as the LSH band trick.
    """
    w = F.broadcast(windows)
    return (
        df.join(
            w,
            (F.col("ts") >= F.col("win_start")) & (F.col("ts") < F.col("win_end")),
        )
        .select("event_id", "event_type", "ts", "win_id")
    )


def value_histogram(df: DataFrame, n_bins: int = 20, lo: float = 0.0, hi: float = 200.0) -> DataFrame:
    """Fixed-width histogram of ``value`` (profiling primitive).

    Bin arithmetic is plain floor math (identical in any SQL dialect);
    out-of-range rows clamp into the edge bins like width_bucket does.
    """
    width = (hi - lo) / n_bins
    bin_ = F.least(
        F.greatest(F.floor((F.col("value") - F.lit(lo)) / F.lit(width)), F.lit(0)),
        F.lit(n_bins - 1),
    )
    return (
        df.groupBy(bin_.alias("bin"))
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.round(F.min("value"), 4).alias("bin_min"),
            F.round(F.max("value"), 4).alias("bin_max"),
        )
        .orderBy("bin")
    )


def funnel_stages(
    events: DataFrame,
    steps: tuple[str, ...] = ("signup", "view", "purchase"),
) -> DataFrame:
    """Ordered funnel analysis: how many users completed step 1, then
    step 2 AFTER step 1, then step 3 after that — strict event-order
    sequence matching, the product-analytics primitive a bag-of-events
    count can't express (a user who purchased before signing up is NOT a
    stage-3 conversion).

    Plan: non-funnel events are filtered BEFORE the one user-keyed
    exchange; each user's step sequence folds in-row through an integer
    state machine (advance on step == state+1 over the (ts, event_id)-
    ordered list — one pass, no joins-per-step, no window). The final
    per-stage rollup is a single tiny aggregate. The k-join SQL funnel
    runs k shuffles; this shape runs one at any k.
    """
    step_map = F.lit(0)
    for i, s in enumerate(reversed(steps)):
        step_map = F.when(
            F.col("event_type") == s, F.lit(len(steps) - i)
        ).otherwise(step_map)
    mapped = events.select(
        "user_id", "ts", "event_id", step_map.cast("int").alias("step")
    ).filter(F.col("step") > 0)
    per_user = (
        mapped.groupBy("user_id")
        .agg(
            F.expr(
                "transform(array_sort(collect_list(struct(ts, event_id, "
                "step))), e -> e.step)"
            ).alias("seq")
        )
        .select(
            "user_id",
            F.expr(
                "aggregate(seq, 0, (a, x) -> a + (CASE WHEN x = a + 1 "
                "THEN 1 ELSE 0 END))"
            ).alias("max_stage"),
        )
    )
    k = len(steps)
    # coalesce: a slice with ZERO funnel events still reports k stages of
    # 0 users (a global agg over an empty frame sums to NULL, not 0)
    sums = per_user.agg(
        *[
            F.coalesce(
                F.sum(F.when(F.col("max_stage") >= s, 1).otherwise(0)),
                F.lit(0),
            )
            .cast("bigint")
            .alias(f"_s{s}")
            for s in range(1, k + 1)
        ]
    )
    stack_args = ", ".join(f"{s}, _s{s}" for s in range(1, k + 1))
    return sums.select(
        F.expr(f"stack({k}, {stack_args}) AS (stage, n_users)")
    ).select(F.col("stage").cast("int"), F.col("n_users").cast("bigint"))


def scd2_history(
    df: DataFrame,
    key_col: str = "user_id",
    attr_col: str = "event_type",
    ts_col: str = "ts",
    id_col: str = "event_id",
) -> DataFrame:
    """Slowly-changing-dimension Type-2: collapse each key's event stream
    into validity intervals [valid_from, valid_to) per observed state,
    opening a new version only when the attribute actually changes.

    The reference keeps only current state and overwrites in place
    (keyed UPDATE, src/db/incident_ops.py); SCD2 is the warehouse answer
    to "what was this user's state WHEN the incident fired" — the history
    the overwrite destroys. Output: one row per (key, state run) with
    version numbers and an is_current flag.

    Plan: ONE exchange on the key — lag() to detect change points,
    lead()/row_number() over the filtered change stream; both windows
    share the same (key, ts, id) sort order so the sorter runs once.
    Per-key state is bounded by the run count, never materializing the
    raw stream anywhere but the sort — at 100 TB this is exactly one
    shuffle of the fact table, same cost as any per-key window.
    Determinism: ties on ts break by the unique event id.
    """
    w = Window.partitionBy(key_col).orderBy(ts_col, id_col)
    changes = (
        df.select(key_col, attr_col, ts_col, id_col)
        .withColumn("_prev", F.lag(attr_col).over(w))
        .filter(~F.col("_prev").eqNullSafe(F.col(attr_col)))
    )
    return changes.select(
        F.col(key_col),
        F.col(attr_col).alias("state"),
        F.col(ts_col).alias("valid_from"),
        F.lead(ts_col).over(w).alias("valid_to"),
        F.lead(ts_col).over(w).isNull().cast("int").alias("is_current"),
        F.row_number().over(w).cast("int").alias("version"),
    )


def range_join_bucketed(
    points: DataFrame,
    intervals: DataFrame,
    point_ts: str = "ts",
    lo_col: str = "win_start",
    hi_col: str = "win_end",
    bucket_minutes: int = 60,
) -> DataFrame:
    """Point-in-interval join for LARGE interval sets — the bucketized
    overlap strategy `events_in_maintenance_windows` documents for when
    broadcast is impossible (both sides big).

    Each interval is exploded to the fixed-width time buckets it overlaps
    (an interval of length L covers ceil(L/W)+1 buckets); each point has
    exactly ONE bucket, so the bucket equi-join followed by the exact
    range re-check emits every matching pair exactly once — no dedup
    pass. Same shape as the LSH band trick: turn a range predicate into
    an equi-key Spark can hash-partition, never a broadcast nested loop.

    Scale: shuffle cost is |points| + sum(interval spans)/W rows; pick W
    near the median interval length so the replication factor stays ~2.
    Skewed buckets (a burst hour) are AQE skew-split like any hot key.
    """
    bucket = lambda c: (  # noqa: E731
        F.unix_micros(c.cast("timestamp")) / F.lit(60_000_000 * bucket_minutes)
    ).cast("bigint")
    exploded = intervals.select(
        "*",
        F.explode(
            F.sequence(bucket(F.col(lo_col)), bucket(F.col(hi_col)))
        ).alias("_bucket"),
    )
    pts = points.withColumn("_bucket", bucket(F.col(point_ts)))
    return (
        pts.join(exploded, "_bucket")
        .filter((F.col(point_ts) >= F.col(lo_col)) & (F.col(point_ts) < F.col(hi_col)))
        .drop("_bucket")
    )


def resample_ffill(df: DataFrame, ts_col: str = "ts") -> DataFrame:
    """Regular-grid resampling with forward fill: hourly buckets per
    event_type over the GLOBAL observed span, empty buckets carrying the
    last observed hourly average (NULL before the first observation).

    The warehouse answer to pandas ``resample('1h').mean().ffill()`` —
    the gap-filling step every time-series feature pipeline needs before
    a fixed-step model sees the data (reference: the anomaly detector's
    window_size=5 rolling features assume a gapless series,
    src/ml/volume_analyzer.py).

    Scale: one (event_type, hour) aggregation; the grid is built from a
    broadcast 2-row bound scalar crossed with the distinct-type frame
    (|types| × |hours| rows — the OUTPUT grain, nothing quadratic); the
    forward fill is one window over that grain. Skew-free: partitions by
    event_type only at the already-aggregated hourly grain.
    """
    ev = df.select(
        "event_type",
        F.date_trunc("hour", F.col(ts_col)).alias("h"),
        "value",
    )
    hourly = ev.groupBy("event_type", "h").agg(
        F.count(F.lit(1)).alias("n"), F.avg("value").alias("av")
    )
    bounds = ev.agg(F.min("h").alias("h0"), F.max("h").alias("h1"))
    types = ev.select("event_type").distinct()
    grid = types.crossJoin(F.broadcast(bounds)).select(
        "event_type",
        F.explode(
            F.sequence("h0", "h1", F.expr("INTERVAL 1 HOUR"))
        ).alias("h"),
    )
    joined = grid.join(hourly, ["event_type", "h"], "left")
    w = (
        Window.partitionBy("event_type")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return joined.select(
        "event_type",
        F.col("h").alias("hour_ts"),
        F.coalesce(F.col("n"), F.lit(0)).cast("bigint").alias("n_events"),
        F.round(F.last("av", ignorenulls=True).over(w), 6).alias("value_ffill"),
        F.col("n").isNull().alias("gap_filled"),
    )


def rolling_median(df: DataFrame, frame: int = 5) -> DataFrame:
    """Exact rolling median of ``value`` over the last ``frame`` events
    per user (ordered by ts, event_id) — the robust twin of the rolling
    mean in volume_zscore, and the window shape Spark has no built-in
    exact aggregate for.

    Implementation: collect the frame into an in-row array, sort, take
    (arr[(n+1) div 2] + arr[n div 2 + 1]) / 2 — interpolating on even
    counts exactly like DuckDB's windowed median over DOUBLE. The frame
    is a small constant, so the array never exceeds ``frame`` elements
    per row: state is O(frame), the window shuffles once on user_id.
    """
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-(frame - 1), 0)
    )
    arr = F.sort_array(F.collect_list("value").over(w))
    n = F.size(arr)
    lo = F.element_at(arr, ((n + 1) / 2).cast("int"))
    hi = F.element_at(arr, (n / 2).cast("int") + 1)
    return df.select(
        "event_id",
        "user_id",
        "value",
        F.round((lo + hi) / 2, 6).alias("rolling_median"),
    )


def activity_islands(df: DataFrame, ts_col: str = "ts") -> DataFrame:
    """Gaps-and-islands: contiguous runs of hourly activity per user —
    the classic island id = hour_index − dense_rank trick, fully
    window-expressible (one user_id exchange; the island GROUP BY reuses
    the same partitioning).

    Output: one row per (user_id, island) with start/end hour, length in
    hours, and total events inside the island.
    """
    hours = (
        df.select(
            "user_id", F.date_trunc("hour", F.col(ts_col)).alias("h")
        )
        .groupBy("user_id", "h")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .withColumn(
            "hour_idx",
            (F.unix_timestamp("h") / F.lit(3600)).cast("bigint"),
        )
    )
    w = Window.partitionBy("user_id").orderBy("hour_idx")
    islands = hours.withColumn(
        "island", F.col("hour_idx") - F.row_number().over(w)
    )
    return (
        islands.groupBy("user_id", "island")
        .agg(
            F.min("h").alias("start_hour"),
            F.max("h").alias("end_hour"),
            F.count(F.lit(1)).cast("bigint").alias("n_hours"),
            F.sum("n_events").cast("bigint").alias("n_events"),
        )
        .drop("island")
    )


def mean_shift_scores(
    df: DataFrame, ts_col: str = "ts", frame: int = 6
) -> DataFrame:
    """Sliding mean-shift changepoint score per event_type: |avg of the
    last ``frame`` hourly counts − avg of the previous ``frame``|,
    normalized by the pooled std over the full 2×frame window. The
    window-expressible changepoint detector (CUSUM's recursion is not a
    SQL window; this is the standard sliding twin monitoring pipelines
    deploy). One event_type exchange; both frame averages share it.
    """
    hourly = (
        df.select("event_type", F.date_trunc("hour", F.col(ts_col)).alias("h"))
        .groupBy("event_type", "h")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    order = Window.partitionBy("event_type").orderBy("h")
    recent = order.rowsBetween(-(frame - 1), 0)
    prior = order.rowsBetween(-(2 * frame - 1), -frame)
    both = order.rowsBetween(-(2 * frame - 1), 0)
    out = hourly.select(
        "event_type",
        F.col("h").alias("hour_ts"),
        F.col("cnt").cast("bigint").alias("cnt"),
        F.count(F.lit(1)).over(both).alias("_n"),
        F.avg("cnt").over(recent).alias("_ma"),
        F.avg("cnt").over(prior).alias("_mb"),
        F.stddev_pop("cnt").over(both).alias("_sd"),
    )
    # score only where both frames are full; NULL during warm-up
    return out.select(
        "event_type",
        "hour_ts",
        "cnt",
        F.round(
            F.when(
                F.col("_n") >= 2 * frame,
                F.abs(F.col("_ma") - F.col("_mb"))
                / (F.col("_sd") + F.lit(1e-9)),
            ),
            6,
        ).alias("shift_score"),
    )
