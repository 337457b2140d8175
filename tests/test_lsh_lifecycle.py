"""Dedup-registry lifecycle completion — rehearsed r14 catalog
candidate `lsh_compaction_twin` (add / delete / COMPACT on the LSH
band-key registry, the bm25_compaction_twin discipline on the dedup
index)."""

from __future__ import annotations

import pytest

from .conftest import SF_DIR, SF_DIR_ORACLE
from .oracle_harness import compare_one, duckdb_conn


@pytest.mark.parametrize("sf_dir", [SF_DIR, SF_DIR_ORACLE])
def test_lsh_lifecycle_hash_matches_post_delete_oracle(spark, sf_dir):
    """Pairs from the compacted registry (plain scan, no tombstone
    filtering left) must equal the from-scratch batch LSH over the
    post-delete union corpus — compaction is a pure physical rewrite
    of the dedup index."""
    from logstream_processing_service_spark.queries_text import (
        lsh_lifecycle_oracle_sql,
        q_lsh_compaction_twin,
    )

    con = duckdb_conn(sf_dir)
    r = compare_one(
        spark, con, "lsh_compaction_twin", q_lsh_compaction_twin,
        lsh_lifecycle_oracle_sql(), sf_dir,
    )
    assert r["status"] == "OK", r


def test_lsh_compaction_folds_tombstones_and_preserves_time_travel(
    spark, tmp_path
):
    """After compaction: (a) fewer files than the merged v2; (b) zero
    tombstone rows and zero keys for deleted docs; (c) v2's
    tombstone-aware read equals the compacted read (snapshot
    isolation); (d) the verbatim cross-commit pair among LIVE docs
    survives while pairs involving the deleted doc are gone."""
    from pyspark.sql import functions as F

    from logstream_processing_service_spark.operators import txlog as TX
    from logstream_processing_service_spark.operators.dedup import (
        lsh_registry_lifecycle_pairs,
    )

    body = " ".join(f"w{i}" for i in range(30))
    base = spark.createDataFrame(
        [(1, body), (2, body), (4, "totally different words here friend")],
        "doc_id long, text string",
    )
    delta = spark.createDataFrame([(5, body)], "doc_id long, text string")
    dels = spark.createDataFrame([(2,)], "doc_id long")
    t = str(tmp_path / "reg")
    pairs = lsh_registry_lifecycle_pairs(base, delta, dels, t)
    got = [(r["d1"], r["d2"], r["jaccard"]) for r in pairs.collect()]
    # doc 2 (deleted) pairs with nobody; the live verbatim pair survives
    assert got == [(1, 5, 1.0)]
    assert len(TX._manifest(t, 3)["files"]) < len(TX._manifest(t, 2)["files"])
    compacted = TX.read_snapshot(spark, t)
    assert compacted.filter(F.col("band") < 0).count() == 0
    assert compacted.filter("doc_id = 2").count() == 0
    v2 = TX.live_rows(TX.read_snapshot(spark, t, version=2), "doc_id", "band")
    a = sorted(tuple(r) for r in v2.collect())
    b = sorted(tuple(r) for r in compacted.collect())
    assert a == b
