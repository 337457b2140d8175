"""Driver-contract queries: log-analytics relational operators (SURVEY §2.2,
§2.3, §2.5, §2.6, §2.7 and the M8/M10 native anomaly features) over the
``events`` table (the ``logs`` analogue).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .catalog import _t, spec
from .operators import relational as R
from .session import scratch_dir

# ---------------------------------------------------------------------------
# P1-P5 / O1-O2: slice scan with pushed predicates
# ---------------------------------------------------------------------------


@spec(
    "scan_slice",
    """
    SELECT event_id, ts, user_id, event_type, value
    FROM events
    WHERE event_type IN ('error','signup')
      AND event_id BETWEEN 100 AND 5000
      AND props IS NOT NULL
    ORDER BY event_id
    LIMIT 500
    """,
    "P3", "P4", "P5", "O1", "O2",
)
def q_scan_slice(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return R.scan_slice(ev).select("event_id", "ts", "user_id", "event_type", "value")


@spec(
    "watermark_bounds",
    "SELECT max(ts) AS max_ts, min(ts) AS min_ts, count(*) AS n_rows FROM events",
    "S3", "A3",
)
def q_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    return R.watermark_bounds(_t(spark, sf_dir, "events"))


# ---------------------------------------------------------------------------
# F1-F9: scalar functions / JSON flattening
# ---------------------------------------------------------------------------


@spec(
    "log_templates",
    """
    SELECT event_id, user_id,
           concat_ws(' | ', event_type, substr(props, 1, 20)) AS log_template,
           CAST(regexp_extract(props, '"k": (\\d+)', 1) AS INT) AS k_value
    FROM events
    """,
    "F1", "F3", "F7", "F9",
)
def q_log_templates(spark: SparkSession, sf_dir: str) -> DataFrame:
    return R.log_templates(_t(spark, sf_dir, "events"))


@spec(
    "json_key_volume",
    """
    SELECT CAST(regexp_extract(props, '"k": (\\d+)', 1) AS INT) % 10 AS k_mod,
           count(*) AS cnt,
           round(avg(value), 4) AS avg_value
    FROM events
    GROUP BY 1
    """,
    "F9", "A1",
)
def q_json_key_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    return R.json_key_volume(_t(spark, sf_dir, "events"))


# ---------------------------------------------------------------------------
# A1/A4/F5: grouped counts and virtual batches
# ---------------------------------------------------------------------------

_VOLUME_SQL = """
    SELECT user_id AS cluster_id,
           CAST(floor(event_id / 100) AS BIGINT) AS batch_id,
           count(*) AS log_count
    FROM events
    GROUP BY 1, 2
"""


@spec("batch_volume", _VOLUME_SQL, "A1", "A4", "F5", "T5")
def q_batch_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    return R.batch_volume(_t(spark, sf_dir, "events"))


@spec(
    "value_counts_topk",
    """
    SELECT event_type, count(*) AS cnt
    FROM events GROUP BY event_type
    ORDER BY cnt DESC, event_type
    LIMIT 3
    """,
    "A5", "O3",
)
def q_value_counts_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return R.value_counts_topk(_t(spark, sf_dir, "events"))


@spec(
    "distinct_actors",
    """
    SELECT event_type, count(DISTINCT user_id) AS n_users
    FROM events GROUP BY event_type ORDER BY event_type
    """,
    "A6",
)
def q_distinct_actors(spark: SparkSession, sf_dir: str) -> DataFrame:
    return R.distinct_actors(_t(spark, sf_dir, "events"))


@spec(
    "crosstab_counts",
    """
    SELECT event_type,
           CAST(sum(CASE WHEN value < 50 THEN 1 ELSE 0 END) AS BIGINT) AS lo,
           CAST(sum(CASE WHEN value >= 50 AND value < 150 THEN 1 ELSE 0 END) AS BIGINT) AS mid,
           CAST(sum(CASE WHEN value >= 150 THEN 1 ELSE 0 END) AS BIGINT) AS hi
    FROM events GROUP BY event_type ORDER BY event_type
    """,
    "A7",
)
def q_crosstab_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return R.crosstab_counts(_t(spark, sf_dir, "events"))


@spec(
    "hourly_volume",
    """
    SELECT date_trunc('hour', ts) AS hour, event_type,
           count(*) AS cnt, round(sum(value), 2) AS sum_value
    FROM events GROUP BY 1, 2
    """,
    "A4", "T5",
)
def q_hourly_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    return R.hourly_volume(_t(spark, sf_dir, "events"))


@spec(
    "decayed_volume",
    """
    WITH now_t AS (SELECT max(ts) AS _now FROM events)
    SELECT user_id AS cluster_id,
           round(sum(exp(-(ln(2)/(24.0*3600.0))
                         * ((epoch_us(_now) - epoch_us(ts)) / 1000000.0))), 4)
             AS decayed_count
    FROM events, now_t
    GROUP BY 1
    """,
    "T6",
)
def q_decayed_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    return R.decayed_volume(_t(spark, sf_dir, "events"))


# ---------------------------------------------------------------------------
# W1-W6 + M8/M10: volume history windows, rolling features, anomaly flags
# ---------------------------------------------------------------------------


@spec(
    "volume_history_window",
    f"""
    WITH volume AS ({_VOLUME_SQL})
    SELECT cluster_id, batch_id, log_count, rn FROM (
        SELECT *, CAST(row_number() OVER (
            PARTITION BY cluster_id ORDER BY batch_id DESC, log_count DESC
        ) AS INT) AS rn
        FROM volume
    ) WHERE rn <= 5
    """,
    "W1", "W6", "flagship",
)
def q_volume_history_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    return R.volume_history_window(R.batch_volume(_t(spark, sf_dir, "events")))


_ZSCORE_SQL = f"""
    WITH volume AS ({_VOLUME_SQL}),
    feat AS (
        SELECT cluster_id, batch_id, log_count,
               log_count - lag(log_count, 1) OVER w AS velocity,
               avg(log_count) OVER (w ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS rolling_avg,
               stddev_pop(log_count) OVER (w ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS rolling_std,
               count(*) OVER (PARTITION BY cluster_id) AS n_points,
               row_number() OVER w AS seq
        FROM volume
        WINDOW w AS (PARTITION BY cluster_id ORDER BY batch_id)
    )
    SELECT cluster_id, batch_id, log_count, velocity,
           round(rolling_avg, 4) AS rolling_avg,
           round((log_count - rolling_avg) / (rolling_std + 1e-5), 4) AS deviation
    FROM feat
    WHERE n_points >= 5 AND seq >= 5
"""


@spec("volume_zscore", _ZSCORE_SQL, "W2", "W3", "W4", "W5", "M8")
def q_volume_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    return R.volume_zscore(R.batch_volume(_t(spark, sf_dir, "events")))


# ---------------------------------------------------------------------------
# J1/J2/P6: pattern mining + incident upsert split
# ---------------------------------------------------------------------------

_PATTERNS_SQL = """
    SELECT l.user_id AS cluster_id,
           concat_ws(' | ', l.event_type, l.props) AS log_template,
           t.incident_count,
           l.ts AS last_seen
    FROM events l
    JOIN (
        SELECT user_id, min(event_id) AS first_event, count(*) AS incident_count
        FROM events WHERE user_id IS NOT NULL GROUP BY user_id
    ) t ON l.user_id = t.user_id AND l.event_id = t.first_event
    WHERE l.user_id IS NOT NULL
"""


@spec("pattern_mining", _PATTERNS_SQL, "J1", "A2")
def q_pattern_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    return R.mine_patterns(_t(spark, sf_dir, "events"))


@spec(
    "pattern_mining_incremental",
    """
    SELECT l.user_id AS cluster_id,
           concat_ws(' | ', l.event_type, l.props) AS log_template,
           t.incident_count,
           l.ts AS last_seen
    FROM events l
    JOIN (
        SELECT user_id, min(event_id) AS first_event, count(*) AS incident_count
        FROM events
        WHERE user_id IS NOT NULL AND ts > TIMESTAMP '2024-01-10 00:00:00'
        GROUP BY user_id
    ) t ON l.user_id = t.user_id AND l.event_id = t.first_event
    WHERE l.user_id IS NOT NULL AND l.ts > TIMESTAMP '2024-01-10 00:00:00'
    """,
    "J1", "P6", "T3",
)
def q_pattern_mining_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    import datetime

    wm = datetime.datetime(2024, 1, 10)
    return R.mine_patterns(_t(spark, sf_dir, "events"), since_ts=wm)


@spec(
    "incident_upsert_split",
    """
    WITH candidates AS (
        SELECT user_id AS cluster_id, count(*) AS log_count
        FROM events WHERE event_type = 'error' GROUP BY user_id
    ),
    open_inc AS (
        -- synthetic "open incidents": users whose minimum error event_id is even
        SELECT DISTINCT user_id AS cluster_id
        FROM (SELECT user_id, min(event_id) AS m FROM events
              WHERE event_type = 'error' GROUP BY user_id)
        WHERE m % 2 = 0
    )
    SELECT c.cluster_id, c.log_count, 'insert' AS action
    FROM candidates c WHERE c.cluster_id NOT IN (SELECT cluster_id FROM open_inc)
    UNION ALL
    SELECT c.cluster_id, c.log_count, 'update' AS action
    FROM candidates c WHERE c.cluster_id IN (SELECT cluster_id FROM open_inc)
    """,
    "J2", "S6", "T7",
)
def q_incident_upsert_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    ev = _t(spark, sf_dir, "events")
    errors = ev.filter(F.col("event_type") == "error")
    candidates = errors.groupBy(F.col("user_id").alias("cluster_id")).agg(
        F.count(F.lit(1)).alias("log_count")
    )
    incidents = (
        errors.groupBy("user_id")
        .agg(F.min("event_id").alias("m"))
        .filter(F.col("m") % 2 == 0)
        .select(F.col("user_id").alias("cluster_id"), F.lit("OPEN").alias("status"))
    )
    return R.open_incident_upsert(candidates, incidents)


@spec(
    "upsert_append_dedup",
    """
    -- idempotent insert: new batch minus already-present keys (S6)
    SELECT e.event_id, e.user_id, e.event_type
    FROM events e
    WHERE e.event_id BETWEEN 0 AND 2999
      AND e.event_id NOT IN (SELECT event_id FROM events WHERE event_id % 3 = 0)
    """,
    "S6", "T7",
)
def q_upsert_append_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    ev = _t(spark, sf_dir, "events")
    new = ev.filter(F.col("event_id").between(0, 2999)).select(
        "event_id", "user_id", "event_type"
    )
    existing = ev.filter(F.col("event_id") % 3 == 0)
    return R.upsert_append(new, existing, key="event_id")


@spec(
    "keyed_overwrite",
    """
    -- UPDATE logs SET cluster_id=:c WHERE log_id=:id, set-oriented (S7/J3)
    SELECT e.event_id,
           coalesce(u.new_type, e.event_type) AS event_type
    FROM events e
    LEFT JOIN (
        SELECT event_id, 'reclassified' AS new_type
        FROM events WHERE event_type = 'error' AND value > 150
    ) u USING (event_id)
    """,
    "S7", "J3",
)
def q_keyed_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    ev = _t(spark, sf_dir, "events")
    updates = (
        ev.filter((F.col("event_type") == "error") & (F.col("value") > 150))
        .select("event_id", F.lit("reclassified").alias("event_type"))
    )
    return R.keyed_overwrite(
        ev.select("event_id", "event_type"), updates, key="event_id", col="event_type"
    )


# ---------------------------------------------------------------------------
# §2.8 set operations + §2.5 multidimensional aggregates (Spark freebies the
# reference lacks, exposed as first-class operators)
# ---------------------------------------------------------------------------


@spec(
    "actor_setops",
    """
    SELECT
      (SELECT count(*) FROM (
          SELECT DISTINCT user_id FROM events WHERE event_type = 'error'
          UNION
          SELECT DISTINCT user_id FROM events WHERE event_type = 'signup'
      )) AS n_union,
      (SELECT count(*) FROM (
          SELECT DISTINCT user_id FROM events WHERE event_type = 'error'
          INTERSECT
          SELECT DISTINCT user_id FROM events WHERE event_type = 'signup'
      )) AS n_intersect,
      (SELECT count(*) FROM (
          SELECT DISTINCT user_id FROM events WHERE event_type = 'error'
          EXCEPT
          SELECT DISTINCT user_id FROM events WHERE event_type = 'signup'
      )) AS n_error_only
    """,
    "setops",
)
def q_actor_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    return R.actor_setops(_t(spark, sf_dir, "events"))


@spec(
    "rollup_volume",
    """
    SELECT event_type, CAST(ts AS DATE) AS day,
           count(*) AS cnt, round(sum(value), 4) AS sum_value
    FROM events
    GROUP BY ROLLUP(event_type, CAST(ts AS DATE))
    """,
    "rollup", "A-ext",
)
def q_rollup_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    return R.rollup_volume(_t(spark, sf_dir, "events"))


@spec(
    "cube_volume",
    """
    SELECT event_type, user_id % 10 AS cohort,
           count(*) AS cnt, round(avg(value), 4) AS avg_value
    FROM events
    GROUP BY CUBE(event_type, user_id % 10)
    """,
    "cube", "A-ext",
)
def q_cube_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    return R.cube_volume(_t(spark, sf_dir, "events"))


@spec(
    "user_sessions",
    """
    WITH flagged AS (
        SELECT user_id, event_id, ts,
               CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                         OR epoch_us(ts) - lag(epoch_us(ts)) OVER w >= 1800000000
                    THEN 1 ELSE 0 END AS _new
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    numbered AS (
        -- CAST: DuckDB sum(INTEGER) is HUGEINT, which pandas-style fetches
        -- turn into float64 ("3.0") while Spark's window sum is BIGINT ("3")
        SELECT user_id, ts,
               CAST(sum(_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_idx
        FROM flagged
    )
    SELECT user_id, session_idx, count(*) AS n_events,
           min(ts) AS session_start, max(ts) AS session_end,
           round((max(epoch_us(ts)) - min(epoch_us(ts))) / 1000000.0, 6)
             AS duration_sec
    FROM numbered GROUP BY user_id, session_idx
    """,
    "sessionization", "W-ext", "T5",
)
def q_user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    return R.sessionize(_t(spark, sf_dir, "events"))


def _session_gap_sweep_oracle(
    gaps: tuple[int, ...] = (5, 15, 30, 60, 120)
) -> str:
    per_gap = ",\n               ".join(
        f"sum(CASE WHEN delta_us IS NULL OR delta_us >= "
        f"{g * 60 * 1_000_000} THEN 1 ELSE 0 END) AS s{g}"
        for g in gaps
    )
    arms = "\n    UNION ALL\n".join(
        f"""    SELECT CAST({g} AS INT) AS gap_minutes,
           CAST(s{g} AS BIGINT) AS n_sessions,
           CAST(n_users AS BIGINT) AS n_users,
           round(CAST(n_events AS DOUBLE) / s{g}, 6)
               AS avg_events_per_session
    FROM t"""
        for g in gaps
    )
    return f"""
    WITH d AS (
        SELECT user_id,
               epoch_us(ts) - lag(epoch_us(ts)) OVER
                   (PARTITION BY user_id ORDER BY ts, event_id) AS delta_us
        FROM events
    ),
    t AS (
        SELECT count(*) AS n_events,
               count(DISTINCT user_id) AS n_users,
               {per_gap}
        FROM d
    )
{arms}
    ORDER BY gap_minutes
    """


@spec(
    "session_gap_sweep",
    _session_gap_sweep_oracle(),
    "sessionization", "W-ext", "sweep",
)
def q_session_gap_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-gap sessionization census in ONE pass (one actor-keyed
    window + one global conditional aggregate answers every candidate
    gap) — the report that tunes the gap before sessionize runs for
    real."""
    return R.session_gap_sweep(_t(spark, sf_dir, "events"))


@spec(
    "asof_signup_before_error",
    """
    SELECT e.event_id, e.user_id, e.ts, s.ts AS last_signup_ts,
           round((epoch_us(e.ts) - epoch_us(s.ts)) / 1000000.0, 6) AS lag_sec
    FROM (SELECT * FROM events WHERE event_type = 'error') e
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'signup') s
      ON e.user_id = s.user_id AND e.ts >= s.ts
    """,
    "asof-join", "J-ext",
)
def q_asof_signup_before_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    return R.asof_last_event(_t(spark, sf_dir, "events"))


@spec(
    "value_percentiles",
    """
    SELECT event_type,
           round(quantile_cont(value, 0.5), 4) AS p50,
           round(quantile_cont(value, 0.9), 4) AS p90,
           round(quantile_cont(value, 0.99), 4) AS p99,
           count(*) AS n
    FROM events GROUP BY event_type ORDER BY event_type
    """,
    "A-ext", "percentile",
)
def q_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    return R.value_percentiles(_t(spark, sf_dir, "events"))


@spec(
    "orders_with_error_events",
    """
    -- EXISTS semi-join with the BIG side as probe (J2 at warehouse shape)
    SELECT o.o_orderkey, o.o_orderdate, o.o_totalprice
    FROM orders o
    WHERE EXISTS (
        SELECT 1 FROM events e
        WHERE e.user_id = o.o_custkey % 20 AND e.event_type = 'error'
          AND e.value > 190
    )
    """,
    "J2", "semi-join",
)
def q_orders_with_error_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    orders = _t(spark, sf_dir, "orders")
    ev = _t(spark, sf_dir, "events")
    flagged_users = (
        ev.filter((F.col("event_type") == "error") & (F.col("value") > 190))
        .select("user_id")
        .distinct()
    )
    return (
        orders.withColumn("_k", F.col("o_custkey") % 20)
        .join(F.broadcast(flagged_users), F.col("_k") == F.col("user_id"), "left_semi")
        .select("o_orderkey", "o_orderdate", "o_totalprice")
    )


@spec("distinct_actors_approx", None, "A6", "rows-only", "scale-twin")
def q_distinct_actors_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL approximate distinct (the 100 TB swap-in for countDistinct):
    mergeable sketches, one pass, no exact-distinct shuffle. Rows-only
    check (approximation is engine-specific by design)."""
    from pyspark.sql import functions as F

    return (
        _t(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.approx_count_distinct("user_id", rsd=0.02).alias("n_users_approx"))
        .orderBy("event_type")
    )


@spec("value_percentiles_approx", None, "A-ext", "rows-only", "scale-twin")
def q_value_percentiles_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_percentile (t-digest-style, mergeable) — the 100 TB swap-in
    for exact interpolated percentiles."""
    from pyspark.sql import functions as F

    p = F.percentile_approx("value", F.array(F.lit(0.5), F.lit(0.9), F.lit(0.99)), 10000)
    return (
        _t(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.round(p[0], 4).alias("p50"),
            F.round(p[1], 4).alias("p90"),
            F.round(p[2], 4).alias("p99"),
        )
        .orderBy("event_type")
    )


@spec(
    "events_in_windows",
    """
    WITH b AS (SELECT min(ts) AS t0 FROM events),
    w AS (
        SELECT CAST(r.range AS INT) AS win_id,
               t0 + INTERVAL (3 * r.range) DAY AS win_start,
               t0 + INTERVAL (3 * r.range + 1) DAY AS win_end
        FROM b, range(10) r
    )
    SELECT e.event_id, e.event_type, e.ts, w.win_id
    FROM events e JOIN w ON e.ts >= w.win_start AND e.ts < w.win_end
    """,
    "range-join", "J-ext",
)
def q_events_in_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    ev = _t(spark, sf_dir, "events")
    base = ev.agg(F.min("ts").alias("t0"))
    wins = (
        base.select(F.explode(F.sequence(F.lit(0), F.lit(9))).alias("win_id"), "t0")
        .select(
            "win_id",
            F.expr("timestampadd(DAY, 3 * win_id, t0)").alias("win_start"),
            F.expr("timestampadd(DAY, 3 * win_id + 1, t0)").alias("win_end"),
        )
    )
    return R.events_in_maintenance_windows(ev, wins)


@spec(
    "value_histogram",
    """
    SELECT CAST(least(greatest(floor(value / 10.0), 0), 19) AS BIGINT) AS bin,
           count(*) AS cnt,
           round(min(value), 4) AS bin_min,
           round(max(value), 4) AS bin_max
    FROM events GROUP BY 1 ORDER BY 1
    """,
    "histogram", "A-ext",
)
def q_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    return R.value_histogram(_t(spark, sf_dir, "events"))


@spec(
    "merge_events_upsert",
    """
    WITH t AS (
        SELECT event_id, event_type, round(value, 6) AS value
        FROM events WHERE event_id % 10 < 6
    ),
    s AS (
        SELECT event_id, event_type, round(value + 1, 6) AS value
        FROM events WHERE event_id % 10 >= 4
    )
    SELECT COALESCE(t.event_id, s.event_id) AS event_id,
           CASE WHEN s.event_id IS NOT NULL THEN s.event_type
                ELSE t.event_type END AS event_type,
           CASE WHEN s.event_id IS NOT NULL THEN s.value
                ELSE t.value END AS value
    FROM t FULL OUTER JOIN s ON t.event_id = s.event_id
    """,
    "S6", "merge", "T7",
)
def q_merge_events_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the MERGE sinks (sources/tables.py merge_full, which
    merge_parquet and streaming/pipeline.py merge_sink persist through the
    one sources/tables.py swap_in): WHEN MATCHED UPDATE + WHEN NOT MATCHED
    INSERT over overlapping event slices — the full-outer one-pass clause
    evaluation both sinks write, here exposed oracle-paired so the DuckDB
    oracle checks MERGE semantics directly.

    Reference parity: the dual embedding-upsert/cluster-update write,
    src/db/log_ops.py:66-81."""
    from pyspark.sql import functions as F

    from .sources.tables import merge_full

    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.round(F.col("value"), 6).alias("value"),
    )
    target = ev.filter(F.col("event_id") % 10 < 6)
    source = ev.filter(F.col("event_id") % 10 >= 4).withColumn(
        "value", F.round(F.col("value") + 1, 6)
    )
    return merge_full(target, source, "event_id")


def _robust_anomaly_oracle(k: float = 3.0) -> str:
    # the SAME folded double constant on both sides: Catalyst folds
    # k*1.4826 in binary; injecting the Python product (identical IEEE
    # multiply) keeps the flag comparison bit-for-bit aligned
    kk = repr(k * 1.4826)
    return f"""
    WITH med AS (
        SELECT event_type, quantile_cont(value, 0.5) AS med
        FROM events GROUP BY event_type
    ),
    dev AS (
        SELECT e.event_type, m.med, abs(e.value - m.med) AS ad
        FROM events e JOIN med m USING (event_type)
    ),
    st AS (
        SELECT event_type, any_value(med) AS med,
               quantile_cont(ad, 0.5) AS mad, count(*) AS n
        FROM dev GROUP BY event_type
    ),
    fl AS (
        SELECT dev.event_type, count(*) AS n_outliers
        FROM dev JOIN st USING (event_type)
        WHERE dev.ad > {kk} * st.mad
        GROUP BY dev.event_type
    )
    SELECT st.event_type, round(st.med, 6) AS med, round(st.mad, 6) AS mad,
           CAST(st.n AS BIGINT) AS n,
           CAST(COALESCE(fl.n_outliers, 0) AS BIGINT) AS n_outliers,
           round(COALESCE(fl.n_outliers, 0) / CAST(st.n AS DOUBLE), 6)
               AS outlier_rate
    FROM st LEFT JOIN fl USING (event_type)
    """


@spec(
    "robust_anomaly_stats",
    _robust_anomaly_oracle(),
    "M9-robust", "median-mad",
)
def q_robust_anomaly_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return R.robust_anomaly_stats(_t(spark, sf_dir, "events"))


def _funnel_oracle(steps: tuple[str, ...] = ("signup", "view", "purchase")) -> str:
    arms = " ".join(
        f"WHEN event_type = '{s}' THEN {i + 1}" for i, s in enumerate(steps)
    )
    in_list = ", ".join(f"'{s}'" for s in steps)
    k = len(steps)
    return f"""
    WITH m AS (
        SELECT user_id, ts, event_id, CASE {arms} ELSE 0 END AS step
        FROM events WHERE event_type IN ({in_list})
    ),
    o AS (
        SELECT user_id, list(step ORDER BY ts, event_id) AS seq
        FROM m GROUP BY user_id
    ),
    f AS (
        SELECT user_id,
               list_reduce(list_prepend(0, seq),
                   (a, x) -> a + CASE WHEN x = a + 1 THEN 1 ELSE 0 END)
                   AS max_stage
        FROM o
    )
    SELECT CAST(s.range AS INT) AS stage,
           CAST(sum(CASE WHEN f.max_stage >= s.range THEN 1 ELSE 0 END)
                AS BIGINT) AS n_users
    FROM range(1, {k + 1}) s LEFT JOIN f ON true
    GROUP BY 1
    """


@spec("funnel_stages", _funnel_oracle(), "sequence", "funnel", "A-ext")
def q_funnel_stages(spark: SparkSession, sf_dir: str) -> DataFrame:
    return R.funnel_stages(_t(spark, sf_dir, "events"))


@spec("distinct_actors_hll_registry", None, "A6-approx", "sketch-registry", "rows-only")
def q_distinct_actors_hll_registry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable HLL registry → per-type + grand-total distinct estimates
    (rows-only: DataSketches estimates have no DuckDB twin; ≤5% relative
    error vs exact is asserted in tests/test_training_ops.py)."""
    from .operators.sketches import hll_daily_registry, hll_rollup

    return hll_rollup(hll_daily_registry(_t(spark, sf_dir, "events")))


@spec("value_quantiles_kll_registry", None, "A8-approx", "sketch-registry", "rows-only")
def q_value_quantiles_kll_registry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable KLL quantile registry → per-type + grand-total p50/p90/p99
    (rows-only: DataSketches estimates have no DuckDB twin; rank error
    vs exact percentiles is asserted in tests/test_training_ops.py)."""
    from .operators.sketches import kll_daily_registry, kll_rollup

    return kll_rollup(kll_daily_registry(_t(spark, sf_dir, "events")))


def _cm_user_counts_oracle() -> str:
    """Full DuckDB reproduction of the sparse count-min pipeline — the
    hash is the portable 48-bit md5, so build, merge, and point-query
    are bit-identical across engines (no rows-only concession needed,
    unlike the binary DataSketches registries)."""
    from .operators.sketches import CM_WIDTH, _cm_cell_sql

    cell = _cm_cell_sql("item", "r", CM_WIDTH)
    return f"""
    WITH depth_t AS (SELECT CAST(range AS INT) AS r FROM range(5)),
    base AS (
        SELECT event_type AS key, CAST(ts AS DATE) AS day,
               CAST(user_id AS STRING) AS item
        FROM events
    ),
    reg AS (
        SELECT key, day, r, CAST({cell} AS INT) AS c, count(*) AS cnt
        FROM base, depth_t GROUP BY 1, 2, 3, 4
    ),
    merged AS (
        SELECT key, r, c, sum(cnt) AS cnt FROM reg GROUP BY 1, 2, 3
    ),
    items AS (
        SELECT DISTINCT event_type AS key,
               CAST(user_id AS STRING) AS item
        FROM events WHERE user_id < 20
    ),
    probes AS (
        SELECT key, item, r, CAST({cell} AS INT) AS c
        FROM items, depth_t
    ),
    est AS (
        SELECT p.key, p.item,
               CAST(min(coalesce(m.cnt, 0)) AS BIGINT) AS cm_est
        FROM probes p LEFT JOIN merged m
          ON m.key = p.key AND m.r = p.r AND m.c = p.c
        GROUP BY 1, 2
    ),
    exact AS (
        SELECT event_type AS key, CAST(user_id AS STRING) AS item,
               CAST(count(*) AS BIGINT) AS exact_cnt
        FROM events WHERE user_id < 20 GROUP BY 1, 2
    )
    SELECT e.key, e.item, e.exact_cnt, est.cm_est,
           CAST(est.cm_est - e.exact_cnt AS BIGINT) AS overcount
    FROM exact e JOIN est ON e.key = est.key AND e.item = est.item
    ORDER BY 1, 2
    """


@spec(
    "cm_user_counts",
    _cm_user_counts_oracle(),
    "sketch-registry", "count-min", "engine-ext",
)
def q_cm_user_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch registry end-to-end (VERDICT r5 #7): build the
    per-(event_type, day) sparse CM registry over events, merge across
    days, point-query per-user event counts for user_id < 20, and report
    estimate vs exact with the overcount (≥ 0 always; ≤ ε·N w.p. 1−δ,
    bound asserted in tests/test_mg.py). Oracle-paired bit-for-bit via
    the portable md5 hash."""
    from pyspark.sql import functions as F

    from .operators.sketches import cm_daily_registry, cm_estimate, cm_merge

    ev = _t(spark, sf_dir, "events")
    merged = cm_merge(cm_daily_registry(ev))
    items = (
        ev.filter(F.col("user_id") < 20)
        .select(
            F.col("event_type").alias("key"),
            F.col("user_id").cast("string").alias("item"),
        )
        .distinct()
    )
    est = cm_estimate(merged, items)
    exact = (
        ev.filter(F.col("user_id") < 20)
        .groupBy(
            F.col("event_type").alias("key"),
            F.col("user_id").cast("string").alias("item"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("exact_cnt"))
    )
    return (
        exact.join(est, ["key", "item"])
        .select(
            "key",
            "item",
            "exact_cnt",
            "cm_est",
            (F.col("cm_est") - F.col("exact_cnt"))
            .cast("bigint")
            .alias("overcount"),
        )
        .orderBy("key", "item")
    )


@spec(
    "bloom_point_lookup",
    """
    SELECT event_id, event_type, round(value, 2) AS value
    FROM events WHERE user_id = 7 ORDER BY event_id
    """,
    "data-skipping", "bloom-index", "engine-ext",
)
def q_bloom_point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point lookup through the bloom file index: stage events into a
    hash-scattered 8-file layout (each user's rows in ONE file, ranges
    overlapping — the layout min/max stats cannot skip on), build the
    per-file sparse bloom, scan ONLY the surviving files. The oracle is
    the plain equality query — pruning is a superset filter plus exact
    re-filter, so answers are identical by construction; the pruning
    ratio itself is asserted in tests/test_maintenance.py."""
    from pyspark.sql import functions as F

    from .operators.maintenance import (
        build_bloom_file_index,
        read_bloom_pruned,
    )

    out = f"{scratch_dir('bloomidx')}/events"
    ev = _t(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    ev.repartition(8, "user_id").write.parquet(out)
    idx = build_bloom_file_index(spark, out, "user_id")
    hit = read_bloom_pruned(spark, idx, "user_id", 7)
    assert hit is not None  # user 7 exists at every test SF
    return hit.select(
        "event_id", "event_type", F.round("value", 2).alias("value")
    ).orderBy("event_id")


@spec(
    "snapshot_cdc_twin",
    """
    WITH a AS (
        SELECT event_id, event_type, round(value, 2) AS value
        FROM events WHERE event_id % 4 IN (0, 1)
    ),
    b AS (
        SELECT event_id, event_type,
               CASE WHEN event_id % 3 = 0 AND event_id % 4 = 0
                    THEN round(value, 2) + 100 ELSE round(value, 2) END
                   AS value
        FROM events WHERE event_id % 4 IN (0, 2)
    )
    SELECT a.event_id, a.event_type, a.value, 'delete' AS _change_type
    FROM a LEFT JOIN b ON a.event_id = b.event_id WHERE b.event_id IS NULL
    UNION ALL
    SELECT b.event_id, b.event_type, b.value, 'insert'
    FROM b LEFT JOIN a ON a.event_id = b.event_id WHERE a.event_id IS NULL
    UNION ALL
    SELECT a.event_id, a.event_type, a.value, 'update_preimage'
    FROM a JOIN b ON a.event_id = b.event_id
    WHERE a.value <> b.value OR a.event_type <> b.event_type
    UNION ALL
    SELECT b.event_id, b.event_type, b.value, 'update_postimage'
    FROM a JOIN b ON a.event_id = b.event_id
    WHERE a.value <> b.value OR a.event_type <> b.event_type
    ORDER BY event_id, _change_type
    """,
    "txlog", "cdc", "engine-ext",
)
def q_snapshot_cdc_twin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change data feed between two txlog snapshots (Delta-CDF shape):
    commit state A, overwrite with state B (a planted mix of deletes,
    inserts, updates, and unchanged rows), then snapshot_diff with a key
    — the emitted insert/delete/update_pre+postimage rows hash-match the
    oracle's direct reconstruction of the two states. The append-lineage
    O(delta) fast path and vacuum-surviving restore are covered in
    tests/test_txlog.py."""
    from pyspark.sql import functions as F

    from .operators import txlog as TX

    t = scratch_dir("cdc")
    ev = _t(spark, sf_dir, "events").select(
        "event_id", "event_type", F.round("value", 2).alias("value")
    )
    a = ev.filter(F.col("event_id") % 4 < 2)
    b = ev.filter((F.col("event_id") % 4).isin(0, 2)).withColumn(
        "value",
        F.when(
            (F.col("event_id") % 3 == 0) & (F.col("event_id") % 4 == 0),
            F.col("value") + 100,
        ).otherwise(F.col("value")),
    )
    TX.commit(t, a)
    TX.commit(t, b)
    return TX.snapshot_diff(spark, t, 0, 1, key="event_id").orderBy(
        "event_id", "_change_type"
    )


@spec("user_retention_theta", None, "sketch-registry", "theta", "rows-only")
def q_user_retention_theta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-over-day actor retention from a mergeable Theta-sketch registry
    (rows-only: DataSketches intersection estimates have no DuckDB twin;
    accuracy vs exact self-join intersection is asserted in
    tests/test_training_ops.py)."""
    from .operators.sketches import retention_report, theta_daily_registry

    return retention_report(theta_daily_registry(_t(spark, sf_dir, "events")))


@spec(
    "scd2_user_state",
    """
    WITH ordered AS (
        SELECT user_id, event_type, ts, event_id,
               lag(event_type) OVER
                   (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        FROM events
    ), changes AS (
        SELECT user_id, event_type, ts, event_id FROM ordered
        WHERE prev IS DISTINCT FROM event_type
    )
    SELECT user_id, event_type AS state, ts AS valid_from,
           lead(ts) OVER w AS valid_to,
           CAST(lead(ts) OVER w IS NULL AS INT) AS is_current,
           CAST(row_number() OVER w AS INT) AS version
    FROM changes
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
    "scd2", "W-ext", "S7",
)
def q_scd2_user_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    return R.scd2_history(_t(spark, sf_dir, "events"))


@spec(
    "events_in_windows_bucketed",
    """
    -- naive range join: DuckDB's IEJoin handles sf0.01; the Spark side
    -- must produce identical pairs via the bucketized equi-join
    WITH b AS (SELECT min(ts) AS t0 FROM events),
    w AS (
        SELECT CAST(r.range AS INT) AS win_id,
               t0 + INTERVAL ((r.range * 97) % 7919) MINUTE AS win_start,
               t0 + INTERVAL ((r.range * 97) % 7919 + 30 + (r.range % 13) * 15)
                   MINUTE AS win_end
        FROM b, range(400) r
    )
    SELECT w.win_id, count(*) AS n_events,
           CAST(sum(CASE WHEN e.event_type = 'error' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_errors
    FROM events e JOIN w ON e.ts >= w.win_start AND e.ts < w.win_end
    GROUP BY w.win_id ORDER BY w.win_id
    """,
    "range-join", "J-ext", "bucketized",
)
def q_events_in_windows_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """400 overlapping deterministic windows — too many for the broadcast
    nested loop to stay honest at scale; exercises the bucketized
    overlap join (equi-join on time bucket + exact re-check)."""
    from pyspark.sql import functions as F

    ev = _t(spark, sf_dir, "events")
    base = ev.agg(F.min("ts").alias("t0"))
    wins = (
        base.select(
            F.explode(F.sequence(F.lit(0), F.lit(399))).alias("win_id"), "t0"
        )
        .select(
            F.col("win_id").cast("int").alias("win_id"),
            F.expr(
                "timestampadd(MINUTE, CAST((win_id * 97) % 7919 AS INT), t0)"
            ).alias("win_start"),
            F.expr(
                "timestampadd(MINUTE, CAST((win_id * 97) % 7919 + 30 "
                "+ (win_id % 13) * 15 AS INT), t0)"
            ).alias("win_end"),
        )
    )
    joined = R.range_join_bucketed(ev, wins)
    return (
        joined.groupBy("win_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
            .cast("bigint")
            .alias("n_errors"),
        )
        .orderBy("win_id")
    )


@spec(
    "hourly_resample_ffill",
    """
    WITH ev AS (
        SELECT event_type, date_trunc('hour', ts) AS h, value FROM events
    ),
    hourly AS (
        SELECT event_type, h, count(*) AS n, avg(value) AS av
        FROM ev GROUP BY 1, 2
    ),
    b AS (SELECT min(h) AS h0, max(h) AS h1 FROM ev),
    types AS (SELECT DISTINCT event_type FROM ev),
    grid AS (
        SELECT event_type, unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h
        FROM types, b
    ),
    j AS (
        SELECT g.event_type, g.h, hourly.n, hourly.av
        FROM grid g LEFT JOIN hourly USING (event_type, h)
    )
    SELECT event_type, h AS hour_ts,
           CAST(coalesce(n, 0) AS BIGINT) AS n_events,
           round(last_value(av IGNORE NULLS) OVER (
               PARTITION BY event_type ORDER BY h
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ), 6) AS value_ffill,
           n IS NULL AS gap_filled
    FROM j
    """,
    "timeseries", "W-ext",
)
def q_hourly_resample_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-filled hourly resampling with forward fill — the pandas
    resample().mean().ffill() twin at warehouse grain."""
    return R.resample_ffill(_t(spark, sf_dir, "events"))


@spec(
    "rolling_median_value",
    """
    SELECT event_id, user_id, value,
           round(median(value) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN 4 PRECEDING AND CURRENT ROW
           ), 6) AS rolling_median
    FROM events
    """,
    "W-ext", "robust",
)
def q_rolling_median_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact rolling median per user (5-event frame): sorted in-row frame
    array with even-count interpolation matching DuckDB's windowed
    median over DOUBLE."""
    return R.rolling_median(_t(spark, sf_dir, "events"))


@spec("join_overlap_theta", None, "sketch-registry", "theta", "rows-only")
def q_join_overlap_theta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-shuffle join selectivity from two Theta sketches: distinct
    l_partkey of lineitem vs partkeys of BRAND#1-filtered part — the
    estimate a planner wants BEFORE committing to a shuffle. Accuracy vs
    the exact twin is asserted in tests/test_sketches_join.py."""
    from .operators.sketches import join_key_overlap_estimate

    li = _t(spark, sf_dir, "lineitem").select("l_partkey")
    pt = _t(spark, sf_dir, "part").filter("p_brand = 'Brand#1'").select(
        "p_partkey"
    )
    return join_key_overlap_estimate(li, "l_partkey", pt, "p_partkey")


@spec(
    "activity_islands",
    """
    WITH hours AS (
        SELECT user_id, date_trunc('hour', ts) AS h, count(*) AS n_events
        FROM events GROUP BY 1, 2
    ),
    idx AS (
        SELECT user_id, h, n_events,
               CAST(epoch(h) / 3600 AS BIGINT) AS hour_idx
        FROM hours
    ),
    isl AS (
        SELECT user_id, h, n_events,
               hour_idx - row_number() OVER (
                   PARTITION BY user_id ORDER BY hour_idx
               ) AS island
        FROM idx
    )
    SELECT user_id, min(h) AS start_hour, max(h) AS end_hour,
           CAST(count(*) AS BIGINT) AS n_hours,
           CAST(sum(n_events) AS BIGINT) AS n_events
    FROM isl GROUP BY user_id, island
    """,
    "W-ext", "sessionization",
)
def q_activity_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: contiguous hourly-activity runs per user via the
    hour_idx - row_number island id."""
    return R.activity_islands(_t(spark, sf_dir, "events"))


@spec(
    "mean_shift_scores",
    """
    WITH hourly AS (
        SELECT event_type, date_trunc('hour', ts) AS h, count(*) AS cnt
        FROM events GROUP BY 1, 2
    )
    SELECT event_type, h AS hour_ts, CAST(cnt AS BIGINT) AS cnt,
           round(CASE WHEN count(*) OVER (
                     PARTITION BY event_type ORDER BY h
                     ROWS BETWEEN 11 PRECEDING AND CURRENT ROW) >= 12
               THEN abs(
                   avg(cnt) OVER (PARTITION BY event_type ORDER BY h
                       ROWS BETWEEN 5 PRECEDING AND CURRENT ROW)
                   - avg(cnt) OVER (PARTITION BY event_type ORDER BY h
                       ROWS BETWEEN 11 PRECEDING AND 6 PRECEDING))
                   / (stddev_pop(cnt) OVER (PARTITION BY event_type ORDER BY h
                       ROWS BETWEEN 11 PRECEDING AND CURRENT ROW) + 1e-9)
               END, 6) AS shift_score
    FROM hourly
    """,
    "W-ext", "changepoint", "monitoring",
)
def q_mean_shift_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding mean-shift changepoint score over hourly volume per
    event_type (6h-vs-6h frames, pooled-std normalized, NULL warm-up)."""
    return R.mean_shift_scores(_t(spark, sf_dir, "events"))


@spec(
    "snapshot_timetravel_twin",
    """
    SELECT 0 AS version, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM documents WHERE length(source) = 4
    UNION ALL
    SELECT 1 AS version, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM documents
    """,
    "north-star", "txlog", "time-travel",
)
def q_snapshot_timetravel_twin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drive the ACTUAL transaction log (operators/txlog.py) end-to-end:
    commit the short-named sources as snapshot v0, append the rest as v1,
    then aggregate BOTH snapshots via time-travel reads. The oracle
    recomputes each snapshot's stats from the base table, so the hash
    match proves manifest isolation and append lineage."""
    from pyspark.sql import functions as F

    from .operators import txlog as TX

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    t = scratch_dir("txlog_twin")
    TX.commit(t, docs.filter(F.length("source") == 4))
    TX.commit(t, docs.filter(F.length("source") != 4), mode="append")
    out = []
    for v in (0, 1):
        out.append(
            TX.read_snapshot(spark, t, version=v).agg(
                F.lit(v).alias("version"),
                F.count(F.lit(1)).alias("n_docs"),
                F.sum("n_chars").cast("bigint").alias("total_chars"),
            )
        )
    return out[0].unionByName(out[1])


@spec(
    "weekly_heavy_actors", None,
    "sketch-registry", "misra-gries", "windowed", "rows-only",
)
def q_weekly_heavy_actors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-week frequent actors from the daily Misra-Gries registry
    (the drift_window composition for the heavy-hitter question):
    per anchor day, pointwise-summed summaries -> top-5 with
    [est_lower, est_upper] bounds. Rows-only: MG summary contents are
    partition-order state; the bound/emergence contract is asserted in
    tests/test_mg.py."""
    from pyspark.sql import functions as F  # noqa: F401

    from .operators.sketches import mg_daily_registry, windowed_heavy_hitters

    return windowed_heavy_hitters(
        mg_daily_registry(_t(spark, sf_dir, "events")), top_k=5
    )


@spec(
    "optimize_prune_twin",
    """
    SELECT event_id, user_id, round(value, 2) AS value
    FROM events WHERE user_id BETWEEN 10 AND 30 ORDER BY event_id
    """,
    "txlog", "optimize", "data-skipping", "engine-ext",
)
def q_optimize_prune_twin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming-accrete -> OPTIMIZE -> log-only-skip lifecycle,
    driver-checked: 3 micro-batch commits of events, optimize_table into
    2 user_id-clustered files with manifest stats, then answer a range
    probe through read_snapshot_pruned_box (scan planned from the manifest
    alone — no footer reads). The oracle is the plain filter; pruning is
    a superset + exact re-filter, so answers are identical by
    construction, and the file-skip ratio is asserted in
    tests/test_txlog.py."""
    from pyspark.sql import functions as F

    from .operators import txlog as TX

    t = scratch_dir("optprune")
    ev = _t(spark, sf_dir, "events").select(
        "event_id", "user_id", F.round("value", 2).alias("value")
    )
    sink = TX.streaming_commit_sink(t)
    for b in range(3):
        sink(ev.filter(F.col("event_id") % 3 == b), b)
    TX.optimize_table(
        spark, t, target_files=2, sort_col="user_id", stats_cols=("user_id",)
    )
    return TX.read_snapshot_pruned_box(
        spark, t, {"user_id": (10, 30)}
    ).orderBy("event_id")


@spec(
    "branch_wap_twin",
    """
    SELECT event_id, event_type, round(value, 2) AS value
    FROM events WHERE event_id % 5 IN (0, 1)
    ORDER BY event_id
    """,
    "txlog", "branching", "write-audit-publish", "engine-ext",
)
def q_branch_wap_twin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write-audit-publish through txlog branching: fork → branch-append
    → merge over real events; the merged parent snapshot must equal the
    plain union of the two slices. Branch isolation, conflict rules,
    vacuum pinning, and the merge-rebase fuzzer live in
    tests/test_branches.py; this driver row hash-checks the fork/merge
    file-ledger arithmetic end to end."""
    from pyspark.sql import functions as F

    from .operators import txlog as TX

    t = scratch_dir("wap")
    ev = _t(spark, sf_dir, "events").select(
        "event_id", "event_type", F.round("value", 2).alias("value")
    )
    TX.commit(t, ev.filter(F.col("event_id") % 5 == 0))
    b = TX.create_branch(t, "ingest")
    TX.commit(b, ev.filter(F.col("event_id") % 5 == 1), mode="append")
    TX.merge_branch(t, "ingest")
    return TX.read_snapshot(spark, t).orderBy("event_id")


@spec(
    "hll_rolling_distinct",
    None,
    "sketch-registry", "A6-approx", "T5", "rows-only",
)
def q_hll_rolling_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day distinct actors served ENTIRELY from the daily
    (key, day) HLL registry — the 100 TB form of
    trends.rolling_distinct_users (raw events are scanned once to build
    the registry; the window rollup touches only KB sketches).
    Rows-only: DataSketches estimates have no DuckDB twin; ≤5% accuracy
    vs the exact set-union twin is asserted per cell in
    tests/test_training_ops.py, and streamed-refresh == one-shot
    equality in tests/test_matview.py."""
    from .operators.sketches import hll_daily_registry, hll_rolling_distinct

    return hll_rolling_distinct(
        hll_daily_registry(_t(spark, sf_dir, "events"))
    )


@spec(
    "bloom_semi_join",
    """
    SELECT l_orderkey,
           CAST(count(*) AS BIGINT) AS n_items,
           CAST(sum(l_quantity) AS DOUBLE) AS sum_qty
    FROM lineitem
    WHERE l_orderkey IN (
        SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT'
    )
    GROUP BY l_orderkey
    ORDER BY l_orderkey
    """,
    "J2-ext", "bloom", "semi-join", "runtime-filter",
)
def q_bloom_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-prefiltered left semi join: lineitem ⋉ urgent orders, then
    a per-order rollup. The fact side is filtered through a bit-packed
    SQL bloom built from the key side BEFORE the semi-join exchange —
    at 100 TB the shuffle carries ~1/4 of lineitem instead of all of it
    (the whole point of the operator; plan-pinned: the O(k) packed-word
    bit-test probe sits under the LeftSemi join). The bloom is a superset
    filter + exact semi pass, so results are identical to the plain
    semi join by construction — which is exactly what the oracle runs.
    Money sum is exact DECIMAL cast to DOUBLE at the end."""
    from pyspark.sql import functions as F

    from .operators.maintenance import bloom_semi_join

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    urgent = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_orderkey")
    )
    kept = bloom_semi_join(li, urgent, "l_orderkey", "o_orderkey")
    return (
        kept.groupBy("l_orderkey")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_items"),
            F.sum("l_quantity").cast("double").alias("sum_qty"),
        )
        .orderBy("l_orderkey")
    )


@spec(
    "bucketed_join_twin",
    """
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_items,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
               AS revenue
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY 1 ORDER BY 1
    """,
    "J1-ext", "layout", "bucketing", "engine-ext",
)
def q_bucketed_join_twin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-located big join via table bucketing: lineitem and orders are
    staged ONCE as bucketed, bucket-sorted managed tables on the
    orderkey, and the equi-join then runs with ZERO exchange on the
    join side — the shuffle of the biggest table moved from every query
    to write time, which is THE discipline for repeated 100 TB joins
    (plan-pinned: no Exchange below the SortMergeJoin, bucketed scan
    honored). Eager caveat: the staging write runs at fn() build time
    (the bloom_point_lookup precedent); the oracle is the plain parquet
    join — bucketing is pure layout, results identical by
    construction."""
    import re

    from .operators.layout import (
        bucketed_join_priority_revenue,
        stage_bucketed_join_tables,
    )

    tag = re.sub(r"[^A-Za-z0-9_]", "_", sf_dir.rstrip("/").rsplit("/", 1)[-1])
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice"
    )
    od = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    li_t, od_t = stage_bucketed_join_tables(spark, li, od, tag=tag)
    return bucketed_join_priority_revenue(spark, li_t, od_t)


@spec(
    "salted_join_twin",
    """
    WITH dim AS (
        SELECT user_id, CAST(count(*) AS BIGINT) AS user_n
        FROM events GROUP BY 1
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(user_n) AS BIGINT) AS sum_user_n
    FROM events JOIN dim USING (user_id)
    GROUP BY 1 ORDER BY 1
    """,
    "J-ext", "skew", "salting", "engine-ext",
)
def q_salted_join_twin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The explicit skew-salting join under the driver hash: the fact
    side salts on pmod(xxhash64(event_id), 8) and the dim side
    replicates ×8, so a hot join key's rows spread over 8 tasks instead
    of one straggler — the known-skew form of what AQE's skew split
    does adaptively (relational.salted_join; deterministic salt, never
    rand(), so retries are stable). Salting is pure partitioning: the
    (key, salt) inner join equals the plain key join row-for-row, which
    is exactly what the oracle runs. Exact BIGINT aggregates."""
    from pyspark.sql import functions as F

    from .operators.relational import salted_join

    ev = _t(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type"
    )
    dim = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("user_n")
    )
    joined = salted_join(ev, dim, "user_id", salt_col_source="event_id",
                         n_salt=8)
    return (
        joined.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.sum("user_n").cast("bigint").alias("sum_user_n"),
        )
        .orderBy("event_type")
    )


from .operators.matching import fellegi_sunter_oracle_sql  # noqa: E402


@spec(
    "record_linkage_fs",
    fellegi_sunter_oracle_sql(),
    "matching", "J-ext", "entity-resolution",
)
def q_record_linkage_fs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fellegi–Sunter probabilistic record linkage over nation-blocked
    customer pairs: agreement-pattern log-likelihood scores
    (log2(m/u) per field), match/possible classification — one
    block-keyed exchange, weights folded as plan constants."""
    from .operators.matching import fellegi_sunter_pairs

    return fellegi_sunter_pairs(_t(spark, sf_dir, "customer"))
