"""Count-min registry under ingest — rehearsed r14 catalog candidate
`cm_incremental_twin` (counter algebra: per-slice cell frames commit as
txlog versions; merge-on-read = cell-wise SUM, so sum(slice sketches)
== one-shot sketch on the union, bit-for-bit)."""

from __future__ import annotations

import pytest
pytestmark = pytest.mark.slow  # tiered run: see pytest.ini (r13 VERDICT #1)


from .conftest import SF_DIR, SF_DIR_ORACLE
from .oracle_harness import compare_one, duckdb_conn


@pytest.mark.parametrize("sf_dir", [SF_DIR, SF_DIR_ORACLE])
def test_cm_incremental_hash_matches_one_shot_oracle(spark, sf_dir):
    from logstream_processing_service_spark.queries_relational import (
        _cm_user_counts_oracle,
        q_cm_incremental_twin,
    )

    con = duckdb_conn(sf_dir)
    r = compare_one(
        spark, con, "cm_incremental_twin", q_cm_incremental_twin,
        _cm_user_counts_oracle(), sf_dir,
    )
    assert r["status"] == "OK", r


@pytest.mark.parametrize("sf_dir", [SF_DIR, SF_DIR_ORACLE])
def test_cm_lifecycle_hash_matches_surviving_slice_oracle(spark, sf_dir):
    from logstream_processing_service_spark.queries_relational import (
        cm_lifecycle_oracle_sql,
        q_cm_lifecycle_twin,
    )

    con = duckdb_conn(sf_dir)
    r = compare_one(
        spark, con, "cm_lifecycle_twin", q_cm_lifecycle_twin,
        cm_lifecycle_oracle_sql(), sf_dir,
    )
    assert r["status"] == "OK", r


def test_delete_by_negation_then_compact_is_cell_identical(spark, tmp_path):
    """The turnstile algebra at cell grain: commit three slices,
    retract the third by negation, compact — the registry must equal
    the one-shot registry over the surviving slices CELL-FOR-CELL
    (zero-count cells dropped by the fold), and the pre-compact
    versions stay time-travelable."""
    from pyspark.sql import functions as F

    from logstream_processing_service_spark.operators import txlog as TX
    from logstream_processing_service_spark.operators.sketches import (
        cm_compact_registry,
        cm_daily_registry,
        cm_delete_slice,
    )
    from logstream_processing_service_spark.sources import load_table

    ev = load_table(spark, SF_DIR_ORACLE, "events")
    t = str(tmp_path / "cmlc")
    for b in range(3):
        TX.commit(
            t,
            cm_daily_registry(ev.filter(F.col("event_id") % 3 == b)),
            mode="overwrite" if b == 0 else "append",
        )
    cm_delete_slice(ev.filter(F.col("event_id") % 3 == 2), t)
    v = cm_compact_registry(spark, t)
    assert v == 4
    compacted = TX.read_snapshot(spark, t)
    one_shot = cm_daily_registry(ev.filter(F.col("event_id") % 3 < 2))
    assert compacted.exceptAll(one_shot).count() == 0
    assert one_shot.exceptAll(compacted).count() == 0
    # pre-compact snapshot (with the retraction rows) still readable
    assert TX.read_snapshot(spark, t, version=3).count() > compacted.count()


def test_slice_sum_is_cell_identical_to_one_shot(spark, tmp_path):
    """The algebra itself, at registry grain: the merged incremental
    registry equals cm_merge of the one-shot registry — every (key, r,
    c) cell, not just the estimates (estimates take a min over depth
    rows and could mask a single wrong cell)."""
    from pyspark.sql import functions as F

    from logstream_processing_service_spark.operators.sketches import (
        cm_daily_registry,
        cm_incremental_registry,
        cm_merge,
    )
    from logstream_processing_service_spark.sources import load_table

    ev = load_table(spark, SF_DIR_ORACLE, "events")
    merged = cm_incremental_registry(
        ev.filter(F.col("event_id") % 2 == 0),
        ev.filter(F.col("event_id") % 2 == 1),
        str(tmp_path / "cmreg"),
    )
    one_shot = cm_merge(cm_daily_registry(ev))
    assert merged.exceptAll(one_shot).count() == 0
    assert one_shot.exceptAll(merged).count() == 0
