"""Incremental BM25 posting-registry maintenance over the txlog —
rehearsed r12 catalog candidate `bm25_incremental_twin`."""

from __future__ import annotations

import pytest

from .conftest import SF_DIR, SF_DIR_ORACLE
from .oracle_harness import compare_one, duckdb_conn


@pytest.mark.parametrize("sf_dir", [SF_DIR, SF_DIR_ORACLE])
def test_bm25_incremental_hash_matches_batch_oracle(spark, sf_dir):
    """The incrementally-merged registry must reproduce the
    from-scratch BM25 ranking EXACTLY (same scores to 6 dp, same
    tie-breaks) — the oracle is the full-corpus batch build."""
    from logstream_processing_service_spark.operators.retrieval import (
        bm25_oracle_sql,
    )
    from logstream_processing_service_spark.queries_text import (
        q_bm25_incremental_twin,
    )

    con = duckdb_conn(sf_dir)
    r = compare_one(
        spark, con, "bm25_incremental_twin", q_bm25_incremental_twin,
        bm25_oracle_sql(), sf_dir,
    )
    assert r["status"] == "OK", r


def test_delta_commit_writes_only_delta_postings(spark, tmp_path):
    """The append commit must carry ONLY the delta docs' postings (the
    incremental contract: delta cost never re-tokenizes the base) —
    checked via the manifest file lists: v1 adds files, keeps v0's, and
    the v1-only files contain exactly the delta docs' posting rows."""
    from logstream_processing_service_spark.operators.retrieval import (
        bm25_incremental_index,
        doc_tf,
    )
    from logstream_processing_service_spark.operators import txlog as TX
    from logstream_processing_service_spark.sources import load_table
    from pyspark.sql import functions as F

    t = str(tmp_path / "registry")
    docs = load_table(spark, SF_DIR, "documents")
    base = docs.filter(F.col("doc_id") % 5 != 0)
    delta = docs.filter(F.col("doc_id") % 5 == 0)
    merged = bm25_incremental_index(base, delta, t)

    hist = TX.history(t)
    assert len(hist) == 2
    v0_files = set(hist[0]["files"])
    v1_files = set(hist[1]["files"])
    assert v0_files < v1_files  # merge-on-read: base files carried forward
    new_files = sorted(v1_files - v0_files)
    delta_read = spark.read.parquet(*new_files)
    expect = doc_tf(delta)
    assert delta_read.count() == expect.count()
    assert delta_read.exceptAll(expect).count() == 0
    # merged registry == union of both posting builds
    assert merged.count() == doc_tf(base).count() + expect.count()


def test_merged_stats_derive_not_stale(spark, tmp_path):
    """df/N/avgdl are derived from the merged postings, so a doc-count
    probe through bm25_topk must see the FULL corpus N — guard against
    the stored-stats staleness class."""
    from logstream_processing_service_spark.operators.retrieval import (
        bm25_incremental_index,
    )
    from logstream_processing_service_spark.sources import load_table
    from pyspark.sql import functions as F

    t = str(tmp_path / "registry")
    docs = load_table(spark, SF_DIR, "documents")
    base = docs.filter(F.col("doc_id") % 5 != 0)
    delta = docs.filter(F.col("doc_id") % 5 == 0)
    registry = bm25_incremental_index(base, delta, t)
    n_docs = registry.select("doc_id").distinct().count()
    assert n_docs == docs.count()
