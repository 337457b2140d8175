"""Incremental materialized-view maintenance: delta-only refresh,
fallback triggers, idempotence."""

from __future__ import annotations

import pytest
pytestmark = pytest.mark.slow  # tiered run: see pytest.ini (r13 VERDICT #1)


from pyspark.sql import functions as F

from logstream_processing_service_spark.operators import txlog as TX
from logstream_processing_service_spark.operators.matview import (
    ViewSpec,
    read_matview,
    refresh_matview,
)

SPEC = ViewSpec(group_cols=("k",), sum_cols=("v",), minmax_cols=("v",))


def _mk(spark, rows):
    return spark.createDataFrame(rows, "k string, v double")


def _served(spark, view_dir):
    return {
        (r["k"], r["cnt"], r["sum_v"], r["min_v"], r["max_v"])
        for r in read_matview(spark, view_dir, SPEC).collect()
    }


def test_incremental_equals_full(spark, tmp_path):
    t, v = str(tmp_path / "t"), str(tmp_path / "v")
    TX.commit(t, _mk(spark, [("a", 1.5), ("b", 2.0)]))
    assert refresh_matview(spark, v, t, SPEC)["mode"] == "full"
    TX.commit(t, _mk(spark, [("a", 3.25), ("c", 7.0)]), mode="append")
    info = refresh_matview(spark, v, t, SPEC)
    assert info["mode"] == "incremental"
    # compare against a from-scratch view over the same base
    v2 = str(tmp_path / "v2")
    refresh_matview(spark, v2, t, SPEC)
    assert _served(spark, v) == _served(spark, v2)
    assert ("a", 2, 4.75, 1.5, 3.25) in _served(spark, v)


def test_noop_and_replay(spark, tmp_path):
    t, v = str(tmp_path / "t"), str(tmp_path / "v")
    TX.commit(t, _mk(spark, [("a", 1.0)]))
    refresh_matview(spark, v, t, SPEC)
    info = refresh_matview(spark, v, t, SPEC)  # nothing new
    assert info["mode"] == "noop"
    assert len(TX.history(v)) == 1  # true no-op: no extra view version


def test_overwrite_triggers_full_recompute(spark, tmp_path):
    t, v = str(tmp_path / "t"), str(tmp_path / "v")
    TX.commit(t, _mk(spark, [("a", 1.0), ("a", 2.0)]))
    refresh_matview(spark, v, t, SPEC)
    # overwrite retracts rows — incremental merge would be WRONG
    TX.commit(t, _mk(spark, [("b", 5.0)]), mode="overwrite")
    info = refresh_matview(spark, v, t, SPEC)
    assert info["mode"] == "full"
    assert _served(spark, v) == {("b", 1, 5.0, 5.0, 5.0)}


def test_vacuumed_base_manifest_triggers_full(spark, tmp_path):
    t, v = str(tmp_path / "t"), str(tmp_path / "v")
    TX.commit(t, _mk(spark, [("a", 1.0)]))
    refresh_matview(spark, v, t, SPEC)
    for i in range(3):
        TX.commit(t, _mk(spark, [("a", float(i))]), mode="append")
    # drop the manifest the view's base_version points at
    TX.vacuum(t, retain_last=1, min_age_seconds=0)
    info = refresh_matview(spark, v, t, SPEC)
    assert info["mode"] == "full"  # correctness never depends on history
    v2 = str(tmp_path / "v2")
    refresh_matview(spark, v2, t, SPEC)
    assert _served(spark, v) == _served(spark, v2)


def test_windowed_drift_detects_planted_week_shift(spark, tmp_path):
    """Incremental windowed drift monitor (driftwindow.py): two calm
    weeks then a shifted third week — anchors whose current window
    covers the shifted week must flag large PSI/KS/mean-shift while
    calm anchors stay near zero; N incremental refreshes must serve the
    same report as one full commit+refresh."""
    import datetime

    from pyspark.sql import functions as F

    from logstream_processing_service_spark.operators import txlog as TX
    from logstream_processing_service_spark.operators.driftwindow import (
        DriftGrid,
        prepare_drift_rows,
        refresh_drift_view,
        windowed_drift,
    )

    t0 = datetime.datetime(2024, 3, 1)
    rows = []
    for day in range(21):
        shift = 100.0 if day >= 14 else 0.0  # third week drifts
        for i in range(40):
            v = 10.0 + (i * 7) % 50 + shift
            rows.append(
                ("a", t0 + datetime.timedelta(days=day, minutes=i), 1, v, "{}")
            )
    schema = (
        "event_type string, ts timestamp, user_id long, value double,"
        " props string"
    )
    ev = spark.createDataFrame(rows, schema).selectExpr("1 as event_id", "*")
    grid = DriftGrid(lo=0.0, hi=200.0, bins=20, window_days=7)

    # incremental path: one commit per week
    tdir, vdir = str(tmp_path / "t"), str(tmp_path / "v")
    for wk in range(3):
        lo = t0 + datetime.timedelta(days=7 * wk)
        hi = t0 + datetime.timedelta(days=7 * (wk + 1))
        TX.commit(
            tdir,
            prepare_drift_rows(
                ev.filter((F.col("ts") >= lo) & (F.col("ts") < hi)), grid
            ),
            mode="append" if wk else "overwrite",
        )
        info = refresh_drift_view(spark, vdir, tdir)
        if wk > 0:
            assert info["mode"] == "incremental", info
    got = windowed_drift(spark, vdir, grid).collect()

    # full path: single commit
    tdir2, vdir2 = str(tmp_path / "t2"), str(tmp_path / "v2")
    TX.commit(tdir2, prepare_drift_rows(ev, grid), mode="overwrite")
    refresh_drift_view(spark, vdir2, tdir2)
    want = windowed_drift(spark, vdir2, grid).collect()
    assert [r.asDict() for r in got] == [r.asDict() for r in want]

    by_day = {r["day"].day: r for r in got}
    # anchor day 14 (2024-03-14): current = days 8..14 (calm), ref = 1..7
    calm = by_day[14]
    assert calm["psi"] < 0.05 and calm["ks_stat"] < 0.1, calm
    # anchor day 21 (2024-03-21): current = days 15..21 (shifted)
    hot = by_day[21]
    assert hot["psi"] > 1.0, hot
    assert hot["ks_stat"] > 0.9, hot
    assert hot["mean_shift"] > 90, hot


def test_matview_hll_measures_incremental_equals_full(spark, tmp_path, sf_dir):
    """Approx-distinct measures ride the incremental view: HLL register
    state is max-merged, so 3 incremental refreshes estimate IDENTICALLY
    to a full recompute, and the estimate tracks the exact distinct
    count within HLL error."""
    from pyspark.sql import functions as F

    from logstream_processing_service_spark.operators import txlog as TX
    from logstream_processing_service_spark.operators.matview import (
        ViewSpec,
        read_matview,
        refresh_matview,
    )
    from logstream_processing_service_spark.sources import load_table

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value", "user_id"
    )
    spec = ViewSpec(
        group_cols=("event_type",),
        sum_cols=("value",),
        hll_cols=("user_id",),
    )

    t1, v1 = str(tmp_path / "t1"), str(tmp_path / "v1")
    for b in range(3):
        TX.commit(
            t1,
            ev.filter(F.col("event_id") % 3 == b).drop("event_id"),
            mode="append" if b else "overwrite",
        )
        info = refresh_matview(spark, v1, t1, spec)
        if b > 0:
            assert info["mode"] == "incremental", info
    inc = {r["event_type"]: r for r in read_matview(spark, v1, spec).collect()}

    t2, v2 = str(tmp_path / "t2"), str(tmp_path / "v2")
    TX.commit(t2, ev.drop("event_id"), mode="overwrite")
    refresh_matview(spark, v2, t2, spec)
    full = {r["event_type"]: r for r in read_matview(spark, v2, spec).collect()}
    assert inc.keys() == full.keys()
    for k in inc:
        assert (
            inc[k]["approx_distinct_user_id"]
            == full[k]["approx_distinct_user_id"]
        ), k

    exact = {
        r["event_type"]: r["n"]
        for r in ev.groupBy("event_type")
        .agg(F.count_distinct("user_id").alias("n"))
        .collect()
    }
    for k, n in exact.items():
        est = inc[k]["approx_distinct_user_id"]
        assert abs(est - n) / n < 0.05, (k, est, n)
