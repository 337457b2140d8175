"""IVF vector index under ingest (``similarity.ann_ivf_incremental``): the
bm25/LSH incremental-registry discipline applied to the third index
family."""

from __future__ import annotations

import pytest
pytestmark = pytest.mark.slow  # tiered run: see pytest.ini (r13 VERDICT #1)


from .conftest import SF_DIR, SF_DIR_ORACLE
from .oracle_harness import compare_one, duckdb_conn


def _incremental_probe(spark, sf_dir: str, t: str):
    """Base vectors (vec_id % 5 != 0) committed v0 with centroids frozen on
    them, delta vectors appended v1, probes for vec_id < 10 over the
    merged read."""
    from pyspark.sql import functions as F

    from logstream_processing_service_spark.operators.similarity import (
        ann_ivf_incremental,
    )
    from logstream_processing_service_spark.sources import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    return ann_ivf_incremental(
        emb.filter(F.col("vec_id") % 5 != 0),
        emb.filter(F.col("vec_id") % 5 == 0),
        t, emb.filter(F.col("vec_id") < 10), k=5, nprobe=2,
    )


def _frozen_centroid_oracle() -> str:
    """Batch IVF with centroids frozen on the base slice and assignment
    over the full corpus: what the merged registry read must equal."""
    from logstream_processing_service_spark.functions import vector as V
    from logstream_processing_service_spark.queries_vector import DIM

    return f"""
    WITH base AS (SELECT * FROM embeddings WHERE vec_id % 5 <> 0),
    cent_dim AS (
        SELECT label, i, avg(CAST(embedding[i] AS DOUBLE)) AS m
        FROM base, range(1, {DIM + 1}) t(i)
        GROUP BY label, i
    ),
    centroids AS (
        SELECT label, list(m ORDER BY i) AS centroid FROM cent_dim GROUP BY label
    ),
    v_assign AS (
        SELECT vec_id, embedding, bucket FROM (
            SELECT e.vec_id, e.embedding, c.label AS bucket,
                   row_number() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY round({V.minkowski_sql_duckdb("e.embedding", "c.centroid", DIM, 2.0)}, 9), c.label
                   ) AS rn
            FROM embeddings e, centroids c
        ) WHERE rn = 1
    ),
    q AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings WHERE vec_id < 10),
    q_probe AS (
        SELECT q_id, q_emb, bucket FROM (
            SELECT q.q_id, q.q_emb, c.label AS bucket,
                   row_number() OVER (
                       PARTITION BY q.q_id
                       ORDER BY round({V.minkowski_sql_duckdb("q.q_emb", "c.centroid", DIM, 2.0)}, 9), c.label
                   ) AS rn
            FROM q, centroids c
        ) WHERE rn <= 2
    ),
    scored AS (
        SELECT p.q_id, v.vec_id,
               round({V.cosine_sql_duckdb("p.q_emb", "v.embedding", DIM)}, 9) AS cos
        FROM v_assign v JOIN q_probe p ON v.bucket = p.bucket
        WHERE v.vec_id <> p.q_id
    )
    SELECT q_id, CAST(rank AS INT) AS rank, vec_id, round(cos, 6) AS cos FROM (
        SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rank
        FROM scored
    ) WHERE rank <= 5
    """


@pytest.mark.parametrize("sf_dir", [SF_DIR, SF_DIR_ORACLE])
def test_ann_ivf_incremental_hash_matches_frozen_centroid_oracle(
    spark, sf_dir, tmp_path
):
    con = duckdb_conn(sf_dir)
    r = compare_one(
        spark, con, "ann_ivf_incremental_twin",
        lambda s, d: _incremental_probe(s, d, str(tmp_path / "reg")),
        _frozen_centroid_oracle(), sf_dir,
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
