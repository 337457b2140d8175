"""Z-order layout payoff: interleaved clustering bounds BOTH dimensions per
file, so manifest-stats pruning skips on either, while a 1-D sort layout
prunes on its sort key only. The box-pruned read is checked against a
DuckDB oracle at both SFs."""

from __future__ import annotations

import pytest

from .conftest import SF_DIR, SF_DIR_ORACLE
from .oracle_harness import compare_one, duckdb_conn

_BOX_ORACLE = """
    SELECT event_id, user_id, round(value, 2) AS value
    FROM events
    WHERE user_id BETWEEN 10 AND 30
      AND round(value, 2) BETWEEN 100 AND 300
    ORDER BY event_id
"""


def _zorder_box_read(spark, sf_dir: str, t: str):
    """Commit events clustered on interleave(user_id, value) with per-file
    stats on both dimensions, then answer a 2-D box probe through
    ``read_snapshot_pruned_box``."""
    from pyspark.sql import functions as F

    from logstream_processing_service_spark.operators import txlog as TX
    from logstream_processing_service_spark.operators.layout import morton2
    from logstream_processing_service_spark.sources import load_table

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", F.round("value", 2).alias("value")
    )
    clustered = (
        ev.withColumn(
            "_z",
            morton2(
                "CAST(user_id % 65536 AS BIGINT)",
                "CAST(CAST(floor(value) AS BIGINT) % 65536 AS BIGINT)",
            ),
        )
        .repartitionByRange(16, "_z")
        .sortWithinPartitions("_z")
        .drop("_z")
    )
    TX.commit_with_stats(t, clustered, stats_cols=("user_id", "value"))
    return TX.read_snapshot_pruned_box(
        spark, t, {"user_id": (10, 30), "value": (100.0, 300.0)}
    ).orderBy("event_id")


@pytest.mark.parametrize("sf_dir", [SF_DIR, SF_DIR_ORACLE])
def test_zorder_prune_twin_hash_matches_oracle(spark, sf_dir, tmp_path):
    con = duckdb_conn(sf_dir)
    r = compare_one(
        spark, con, "zorder_prune_twin",
        lambda s, d: _zorder_box_read(s, d, str(tmp_path / "tbl")),
        _BOX_ORACLE, sf_dir,
    )
    assert r["status"] == "OK", r


def _kept_files(table_dir, box):
    from logstream_processing_service_spark.operators import txlog as TX

    man = TX._manifest(table_dir, TX._versions(table_dir)[-1])
    stats = man.get("file_stats") or {}
    kept = 0
    for f in man["files"]:
        st = stats.get(f)
        drop = False
        if st is not None:
            for c, (lo, hi) in box.items():
                if st.get(f"min_{c}") is None:
                    continue
                if st[f"max_{c}"] < lo or st[f"min_{c}"] > hi:
                    drop = True
                    break
        if not drop:
            kept += 1
    return kept, len(man["files"])


def test_zorder_prunes_both_dims_where_1d_sort_cannot(spark, tmp_path):
    """The layout comparison the box read relies on: under the same
    per-file stats, the z-clustered layout skips files on the
    NON-LEADING dimension too, while the user_id-sorted layout keeps
    every file for a value-only probe (each of its files spans the
    full value range)."""
    from pyspark.sql import functions as F

    from logstream_processing_service_spark.operators import txlog as TX
    from logstream_processing_service_spark.operators.layout import morton2
    from logstream_processing_service_spark.sources import load_table

    ev = load_table(spark, SF_DIR, "events").select(
        "event_id", "user_id", F.round("value", 2).alias("value")
    )
    zt, st = str(tmp_path / "z"), str(tmp_path / "s")
    z = morton2(
        "CAST(user_id % 65536 AS BIGINT)",
        "CAST(CAST(floor(value) AS BIGINT) % 65536 AS BIGINT)",
    )
    TX.commit_with_stats(
        zt,
        ev.withColumn("_z", z)
        .repartitionByRange(16, "_z")
        .sortWithinPartitions("_z")
        .drop("_z"),
        stats_cols=("user_id", "value"),
    )
    TX.commit_with_stats(
        st,
        ev.repartitionByRange(16, "user_id")
        .sortWithinPartitions("user_id"),
        stats_cols=("user_id", "value"),
    )
    value_box = {"value": (100.0, 300.0)}
    kept_z, total_z = _kept_files(zt, value_box)
    kept_s, total_s = _kept_files(st, value_box)
    assert kept_s == total_s          # 1-D layout: value probe keeps all
    assert kept_z < total_z           # z layout: value probe skips files
    # and the 2-D box keeps strictly fewer than either 1-D probe alone
    box = {"user_id": (10, 30), "value": (100.0, 300.0)}
    kept_z2, _ = _kept_files(zt, box)
    assert kept_z2 <= kept_z
    # pruned read == plain filtered read, row for row
    pruned = TX.read_snapshot_pruned_box(spark, zt, box)
    plain = TX.read_snapshot(spark, zt).filter(
        F.col("user_id").between(10, 30)
        & F.col("value").between(100.0, 300.0)
    )
    assert pruned.exceptAll(plain).count() == 0
    assert plain.exceptAll(pruned).count() == 0
