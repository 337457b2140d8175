"""txlog RESTORE (rollback): a restore is a new commit that points at the
restored version's files, checked against a DuckDB oracle at both SFs."""

from __future__ import annotations

import pytest

from .conftest import SF_DIR, SF_DIR_ORACLE
from .oracle_harness import compare_one, duckdb_conn

# After RESTORE TO v0 the latest read must equal the v0 slice; the
# rolled-over v1 must stay time-travelable with its full contents.
_RESTORE_ORACLE = """
    SELECT 'restored_latest' AS state, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM documents WHERE length(source) = 4
    UNION ALL
    SELECT 'rolled_over_v1' AS state, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM documents
    ORDER BY state
"""


def _restore_report(spark, sf_dir: str, t: str):
    """Commit v0, append v1, RESTORE TO v0, then read both the restored
    latest and the rolled-over v1."""
    from pyspark.sql import functions as F

    from logstream_processing_service_spark.operators import txlog as TX
    from logstream_processing_service_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    TX.commit(t, docs.filter(F.length("source") == 4))
    TX.commit(t, docs.filter(F.length("source") != 4), mode="append")
    assert TX.restore(t, 0) == 2
    latest = TX.read_snapshot(spark, t).agg(
        F.lit("restored_latest").alias("state"),
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
    )
    rolled = TX.read_snapshot(spark, t, version=1).agg(
        F.lit("rolled_over_v1").alias("state"),
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
    )
    return latest.unionByName(rolled).orderBy("state")


@pytest.mark.parametrize("sf_dir", [SF_DIR, SF_DIR_ORACLE])
def test_restore_twin_hash_matches_oracle(spark, sf_dir, tmp_path):
    con = duckdb_conn(sf_dir)
    r = compare_one(
        spark, con, "snapshot_restore_twin",
        lambda s, d: _restore_report(s, d, str(tmp_path / "tbl")),
        _RESTORE_ORACLE, sf_dir,
    )
    assert r["status"] == "OK", r


def test_restore_is_a_commit_not_a_rewrite(spark, tmp_path):
    """restore(v0) creates v2 whose manifest points at v0's FILES
    (no data copied), history stays intact (v1 time-travelable), and a
    subsequent append builds on the restored state."""
    from logstream_processing_service_spark.operators import txlog as TX

    a = spark.createDataFrame([(1, "x"), (2, "y")], "id long, v string")
    b = spark.createDataFrame([(3, "z")], "id long, v string")
    t = str(tmp_path / "tbl")
    TX.commit(t, a)
    TX.commit(t, b, mode="append")
    v2 = TX.restore(t, 0)
    assert v2 == 2
    assert TX._manifest(t, 2)["files"] == TX._manifest(t, 0)["files"]
    assert TX.read_snapshot(spark, t).count() == 2          # restored
    assert TX.read_snapshot(spark, t, version=1).count() == 3  # history
    TX.commit(t, b, mode="append")
    assert TX.read_snapshot(spark, t).count() == 3  # append on restored
