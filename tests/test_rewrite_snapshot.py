"""Optimistic concurrency of ``txlog.rewrite_snapshot``, the one rewrite
verb behind OPTIMIZE and every registry compaction: an append that lands
between the rewrite's snapshot read and its commit must raise
CommitConflict, and the appended rows must survive in the latest
snapshot (never silently dropped by the rewrite)."""

from __future__ import annotations

import datetime as dt

import pytest

from logstream_processing_service_spark.operators import txlog as TX


def _optimize_case(spark, t):
    TX.commit(t, spark.range(0, 2))
    TX.commit(t, spark.range(2, 4), mode="append")
    return (
        lambda: TX.optimize_table(
            spark, t, target_files=1, sort_col="id", stats_cols=("id",)
        ),
        spark.range(4, 5),
    )


def _cm_case(spark, t):
    from logstream_processing_service_spark.operators.sketches import (
        cm_compact_registry,
        cm_daily_registry,
    )

    def events(users):
        return spark.createDataFrame(
            [("click", dt.datetime(2024, 1, 1, 12), u) for u in users],
            "event_type string, ts timestamp, user_id long",
        )

    TX.commit(t, cm_daily_registry(events([1, 2, 3])))
    return (
        lambda: cm_compact_registry(spark, t),
        cm_daily_registry(events([4, 5])),
    )


def _tombstone_case(spark, t):
    from logstream_processing_service_spark.operators.retrieval import doc_tf

    postings = doc_tf(
        spark.createDataFrame(
            [(1, "alpha beta gamma"), (2, "beta delta"), (3, "alpha zeta")],
            "doc_id long, text string",
        )
    )
    TX.commit(t, postings)
    dead = spark.createDataFrame([(2,)], "doc_id long")
    TX.commit(t, TX.tombstones(dead, postings, "doc_id", "tc"), mode="append")
    return (
        lambda: TX.rewrite_snapshot(
            spark, t, lambda s: TX.live_rows(s, "doc_id", "tc").coalesce(1)
        ),
        TX.tombstones(
            spark.createDataFrame([(3,)], "doc_id long"),
            postings, "doc_id", "tc",
        ),
    )


@pytest.mark.parametrize(
    "case",
    [_optimize_case, _cm_case, _tombstone_case],
    ids=["optimize_table", "cm_compact_registry", "tombstone_compaction"],
)
def test_rewrite_conflicts_on_concurrent_append(
    spark, tmp_path, monkeypatch, case
):
    t = str(tmp_path / "tbl")
    rewrite, appended = case(spark, t)
    real_read = TX.read_snapshot

    def read_then_append(spark_, table_dir, version=None):
        snap = real_read(spark_, table_dir, version=version)
        TX.commit(table_dir, appended, mode="append")
        return snap

    monkeypatch.setattr(TX, "read_snapshot", read_then_append)
    with pytest.raises(TX.CommitConflict):
        rewrite()
    monkeypatch.undo()
    assert appended.exceptAll(TX.read_snapshot(spark, t)).count() == 0
