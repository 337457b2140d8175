"""IVF vector index under ingest — rehearsed r14 catalog candidate
`ann_ivf_incremental_twin` (the bm25/LSH incremental-registry
discipline applied to the third index family)."""

from __future__ import annotations

import pytest
pytestmark = pytest.mark.slow  # tiered run: see pytest.ini (r13 VERDICT #1)


from .conftest import SF_DIR, SF_DIR_ORACLE
from .oracle_harness import compare_one, duckdb_conn


@pytest.mark.parametrize("sf_dir", [SF_DIR, SF_DIR_ORACLE])
def test_ann_ivf_incremental_hash_matches_frozen_centroid_oracle(
    spark, sf_dir
):
    from logstream_processing_service_spark.queries_vector import (
        ann_ivf_incremental_oracle_sql,
        q_ann_ivf_incremental_twin,
    )

    con = duckdb_conn(sf_dir)
    r = compare_one(
        spark, con, "ann_ivf_incremental_twin", q_ann_ivf_incremental_twin,
        ann_ivf_incremental_oracle_sql(), sf_dir,
    )
    assert r["status"] == "OK", r


def test_delta_commit_is_delta_grain_and_probe_sees_both(spark, tmp_path):
    """(a) v1 carries ONLY the delta vectors' assignments (the
    O(|delta|) ingest contract); (b) a probe finds its nearest
    neighbor whether that neighbor arrived in the base or the delta
    commit."""
    from pyspark.sql import functions as F

    from logstream_processing_service_spark.operators import txlog as TX
    from logstream_processing_service_spark.operators.similarity import (
        ann_ivf_incremental,
    )

    def vec(seed, dim=8):
        return [float((seed * (i + 3)) % 7) / 7.0 + 0.1 for i in range(dim)]

    base_rows = [(i, vec(i), "a" if i % 2 else "b") for i in range(1, 9)]
    delta_rows = [(100, [x * 1.001 for x in vec(3)], "a"),
                  (101, [x * 1.001 for x in vec(4)], "b")]
    base = spark.createDataFrame(
        base_rows, "vec_id long, embedding array<double>, label string"
    )
    delta = spark.createDataFrame(
        delta_rows, "vec_id long, embedding array<double>, label string"
    )
    queries = spark.createDataFrame(
        [(3, vec(3)), (100, vec(100))],
        "vec_id long, embedding array<double>",
    )
    t = str(tmp_path / "reg")
    out = ann_ivf_incremental(base, delta, t, queries, k=3, nprobe=2)
    rows = out.collect()
    v1_files = sorted(
        set(TX._manifest(t, 1)["files"]) - set(TX._manifest(t, 0)["files"])
    )
    v1 = spark.read.parquet(*v1_files)
    assert set(
        r["vec_id"] for r in v1.select("vec_id").distinct().collect()
    ) == {100, 101}
    top = {r["q_id"]: r["vec_id"] for r in rows if r["rank"] == 1}
    # query 3's top hit is its near-clone from the DELTA commit
    assert top[3] == 100


@pytest.mark.parametrize("sf_dir", [SF_DIR, SF_DIR_ORACLE])
def test_ann_ivf_lifecycle_hash_matches_post_delete_oracle(spark, sf_dir):
    """Probes over the compacted registry (plain scan) must equal the
    frozen-centroid batch IVF over the post-delete corpus — the vector
    index's delete + compact verbs are exact."""
    from logstream_processing_service_spark.queries_vector import (
        ann_ivf_lifecycle_oracle_sql,
        q_ann_ivf_lifecycle_twin,
    )

    con = duckdb_conn(sf_dir)
    r = compare_one(
        spark, con, "ann_ivf_lifecycle_twin", q_ann_ivf_lifecycle_twin,
        ann_ivf_lifecycle_oracle_sql(), sf_dir,
    )
    assert r["status"] == "OK", r


def test_ivf_compaction_folds_tombstones_and_preserves_time_travel(
    spark, tmp_path
):
    """After compaction: fewer files than merged v2, zero tombstones,
    zero rows for deleted vectors; v2's tombstone-aware read equals
    the compacted read; the deleted vector never appears in probe
    results."""
    from pyspark.sql import functions as F

    from logstream_processing_service_spark.operators import txlog as TX
    from logstream_processing_service_spark.operators.similarity import (
        ann_ivf_lifecycle,
    )

    def vec(seed, dim=8):
        return [float((seed * (i + 3)) % 7) / 7.0 + 0.1 for i in range(dim)]

    base = spark.createDataFrame(
        [(i, vec(i), i % 2) for i in range(1, 9)],
        "vec_id long, embedding array<double>, label int",
    )
    delta = spark.createDataFrame(
        [(100, [x * 1.001 for x in vec(3)], 1)],
        "vec_id long, embedding array<double>, label int",
    )
    dels = spark.createDataFrame([(3,)], "vec_id long")
    queries = spark.createDataFrame(
        [(3, vec(3))], "vec_id long, embedding array<double>"
    )
    t = str(tmp_path / "reg")
    out = ann_ivf_lifecycle(base, delta, dels, t, queries, k=3, nprobe=2)
    hits = [r["vec_id"] for r in out.collect()]
    assert 100 in hits          # the delta near-clone is served
    assert 3 not in hits        # the deleted vector is gone
    assert len(TX._manifest(t, 3)["files"]) < len(TX._manifest(t, 2)["files"])
    compacted = TX.read_snapshot(spark, t)
    assert compacted.filter(F.col("v_bucket") < 0).count() == 0
    assert compacted.filter("vec_id = 3").count() == 0
    v2 = TX.live_rows(
        TX.read_snapshot(spark, t, version=2), "vec_id", "v_bucket"
    )
    a = sorted((r["vec_id"], r["v_bucket"]) for r in v2.collect())
    b = sorted((r["vec_id"], r["v_bucket"]) for r in compacted.collect())
    assert a == b
