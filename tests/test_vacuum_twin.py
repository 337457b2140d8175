"""txlog VACUUM (unreferenced-file GC): optimize makes the old dirs
unreferenced, vacuum retain-1 collects them, and the live read is
intact, checked against a DuckDB oracle at both SFs."""

from __future__ import annotations

import os

import pytest

from .conftest import SF_DIR, SF_DIR_ORACLE
from .oracle_harness import compare_one, duckdb_conn

# Post-vacuum latest must still equal the full table, and the removed
# counts are fixed by construction: three versions (commit, append,
# optimize rewrite) with retain_last=1 drop 2 manifests and 2 data dirs.
_VACUUM_ORACLE = """
    SELECT 'post_vacuum_latest' AS state, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM documents
    UNION ALL
    SELECT 'removed_data_dirs' AS state, CAST(2 AS BIGINT) AS n,
           CAST(NULL AS BIGINT) AS total_chars
    UNION ALL
    SELECT 'removed_manifests' AS state, CAST(2 AS BIGINT) AS n,
           CAST(NULL AS BIGINT) AS total_chars
    ORDER BY state
"""


def _vacuum_report(spark, sf_dir: str, t: str):
    """Commit v0, append v1, OPTIMIZE into one file (v2), then VACUUM with
    retain_last=1 and no age floor (nothing else writes the table)."""
    from pyspark.sql import functions as F

    from logstream_processing_service_spark.operators import txlog as TX
    from logstream_processing_service_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    TX.commit(t, docs.filter(F.length("source") == 4))
    TX.commit(t, docs.filter(F.length("source") != 4), mode="append")
    TX.optimize_table(spark, t, target_files=1)
    rep = TX.vacuum(t, retain_last=1, min_age_seconds=0.0)
    assert rep["skipped_recent_dirs"] == 0, rep
    latest = TX.read_snapshot(spark, t).agg(
        F.lit("post_vacuum_latest").alias("state"),
        F.count(F.lit(1)).alias("n"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
    )
    counters = spark.createDataFrame(
        [
            ("removed_data_dirs", rep["removed_data_dirs"], None),
            ("removed_manifests", rep["removed_manifests"], None),
        ],
        "state string, n long, total_chars long",
    )
    return latest.unionByName(counters).orderBy("state")


@pytest.mark.parametrize("sf_dir", [SF_DIR, SF_DIR_ORACLE])
def test_vacuum_twin_hash_matches_oracle(spark, sf_dir, tmp_path):
    con = duckdb_conn(sf_dir)
    r = compare_one(
        spark, con, "snapshot_vacuum_twin",
        lambda s, d: _vacuum_report(s, d, str(tmp_path / "tbl")),
        _VACUUM_ORACLE, sf_dir,
    )
    assert r["status"] == "OK", r


def test_vacuum_keeps_files_a_restore_re_referenced(spark, tmp_path):
    """The restore-pin interplay at the twin's grain: restore(v0)
    re-references v0's files in the NEW latest manifest, so a vacuum
    that drops the v0/v1 manifests must still keep v0's data dir — the
    restored read survives the GC."""
    from logstream_processing_service_spark.operators import txlog as TX

    a = spark.createDataFrame([(1, "x"), (2, "y")], "id long, v string")
    b = spark.createDataFrame([(3, "z")], "id long, v string")
    t = str(tmp_path / "tbl")
    TX.commit(t, a)
    TX.commit(t, b, mode="append")
    TX.restore(t, 0)  # v2 references v0's files
    rep = TX.vacuum(t, retain_last=1, min_age_seconds=0.0)
    assert rep["removed_manifests"] == 2          # v0, v1 manifests
    # v0's dir is pinned by v2; only v1's append dir is collectable
    assert rep["removed_data_dirs"] == 1
    assert TX.read_snapshot(spark, t).count() == 2
    # the pinned dir physically survives
    kept = {
        os.path.dirname(f) for f in TX._manifest(t, 2)["files"]
    }
    for d in kept:
        assert os.path.isdir(d)
