"""Bucketed co-located join — r9 catalog candidate
`bucketed_join_twin`: stage lineitem/orders as bucketed, bucket-sorted
managed tables on the orderkey, then prove the equi-join runs with
ZERO exchange on the join side (the shuffle moved to write time — the
big-join discipline at 100 TB). Results are identical to the plain
parquet join by construction."""

from __future__ import annotations

import pytest

from logstream_processing_service_spark.operators.layout import (
    bucketed_join_priority_revenue,
    stage_bucketed_join_tables,
)
from logstream_processing_service_spark.sources import load_table

from .conftest import SF_DIR, SF_DIR_ORACLE
from .oracle_harness import compare_one, duckdb_conn


def _stage(spark, sf_dir, tag):
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice"
    )
    od = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    return stage_bucketed_join_tables(spark, li, od, tag=tag)


_ORACLE = """
SELECT o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_items,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
           AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY 1 ORDER BY 1
"""


@pytest.mark.parametrize("sf_dir", [SF_DIR, SF_DIR_ORACLE])
def test_bucketed_join_hash_matches_oracle(spark, sf_dir):
    tag = sf_dir.rstrip("/").rsplit("sf", 1)[-1].replace(".", "_")
    li_t, od_t = _stage(spark, sf_dir, tag)
    con = duckdb_conn(sf_dir)
    r = compare_one(
        spark,
        con,
        "bucketed_join_twin",
        lambda s, sf: bucketed_join_priority_revenue(s, li_t, od_t),
        _ORACLE,
        sf_dir,
    )
    assert r["status"] == "OK", r


def test_bucketed_join_plan_has_no_join_side_exchange(spark):
    """THE point of the layout: both scans are pre-bucketed on the join
    key, so the SortMergeJoin consumes them with no Exchange on either
    input; the only exchange left is the tiny per-priority aggregate."""
    li_t, od_t = _stage(spark, SF_DIR, "plan")
    # at test scale AQE would BROADCAST the tiny orders side (correct
    # there, pointless at 100 TB where both sides are huge) — disable
    # broadcast to pin the two-big-tables regime the layout exists for
    thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = bucketed_join_priority_revenue(spark, li_t, od_t)
        plan = df._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)
    assert "SortMergeJoin" in plan
    join_part = plan.split("SortMergeJoin", 1)[1]
    # below the join: bucketed scans only — zero Exchange
    assert "Exchange" not in join_part, join_part
    # above the join: exactly the aggregate's hash shuffle + the output
    # order's range shuffle — nothing feeding the join itself
    assert plan.count("Exchange") == 2
    assert "SelectedBucketsCount" in plan  # reader honored the buckets


def test_bucketed_database_lives_in_a_scratch_dir(spark):
    """The database is created once per session catalog in a
    ``session.scratch_dir`` (under ``TMPDIR``, removed at exit), not at a
    fixed path every process on the machine shares; a restage reuses it
    and replaces the table's files."""
    import os
    import tempfile
    from urllib.parse import urlparse

    def location() -> str:
        return urlparse(spark.catalog.getDatabase("bucketdb").locationUri).path

    li_t, _ = _stage(spark, SF_DIR, "loc")
    loc = location()
    assert loc.startswith(tempfile.gettempdir() + os.sep)
    assert os.path.basename(loc).startswith("bucketdb_")
    _stage(spark, SF_DIR, "loc")
    assert location() == loc
    assert os.listdir(os.path.join(loc, li_t.split(".", 1)[1]))
