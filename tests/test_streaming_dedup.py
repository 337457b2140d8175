"""Streaming MinHash-LSH dedup registry: cross-batch suppression,
in-batch first-wins, and replay idempotence."""

from __future__ import annotations

import pytest
pytestmark = pytest.mark.slow  # tiered run: see pytest.ini (r13 VERDICT #1)


from logstream_processing_service_spark.streaming.dedup import minhash_dedup_sink

A = "the quick brown fox jumps over the lazy dog near the river bank today"
B = "completely different content about parquet files and shuffle exchanges"
C = "a third unrelated passage that discusses watermark semantics at length"


def _batch(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _kept_ids(spark, out):
    return sorted(
        r["doc_id"]
        for r in spark.read.parquet(f"{out}/kept").select("doc_id").collect()
    )


def test_minhash_dedup_sink_cross_batch_and_replay(spark, tmpdir):
    out = f"{tmpdir}/dd"
    sink = minhash_dedup_sink(out)

    # batch 0: doc 2 duplicates doc 1 (same text) -> in-batch first-wins
    sink(_batch(spark, [(1, A), (2, A), (3, B)]), 0)
    assert _kept_ids(spark, out) == [1, 3]
    dropped0 = {
        (r["doc_id"], r["dup_of"])
        for r in spark.read.parquet(f"{out}/dropped").collect()
    }
    assert dropped0 == {(2, 1)}

    # batch 1: doc 4 duplicates accepted doc 1 (prior-registry hit);
    # doc 5 is new content -> kept
    sink(_batch(spark, [(4, A), (5, C)]), 1)
    assert _kept_ids(spark, out) == [1, 3, 5]
    dropped = {
        (r["doc_id"], r["dup_of"])
        for r in spark.read.parquet(f"{out}/dropped").collect()
    }
    assert dropped == {(2, 1), (4, 1)}

    reg_before = sorted(
        map(tuple, spark.read.parquet(f"{out}/registry/data").collect())
    )

    # replay batch 1 (at-least-once delivery): nothing changes — the batch
    # must not collide with the registry rows it minted itself
    sink(_batch(spark, [(4, A), (5, C)]), 1)
    assert _kept_ids(spark, out) == [1, 3, 5]
    reg_after = sorted(
        map(tuple, spark.read.parquet(f"{out}/registry/data").collect())
    )
    assert reg_before == reg_after, "registry must be replay-stable"

    # the registry holds band keys only for ACCEPTED docs
    holders = {
        r["first_doc_id"]
        for r in spark.read.parquet(f"{out}/registry/data").collect()
    }
    assert holders <= {1, 3, 5}


def test_minhash_dedup_sink_chain_collapses_to_head(spark, tmpdir):
    """One-pass rule: in one batch, 2 dups 1 and is dropped; a doc that
    collides only with 2's buckets is still dropped (chain head survives)."""
    out = f"{tmpdir}/dd2"
    sink = minhash_dedup_sink(out)
    sink(_batch(spark, [(1, A), (2, A), (3, A)]), 0)
    assert _kept_ids(spark, out) == [1]
    dropped = {
        (r["doc_id"], r["dup_of"])
        for r in spark.read.parquet(f"{out}/dropped").collect()
    }
    assert dropped == {(2, 1), (3, 1)}


def test_minhash_dedup_sink_under_real_stream(spark, tmpdir):
    """Wired into readStream + availableNow: same results as direct calls."""
    import os

    src = f"{tmpdir}/src"
    out = f"{tmpdir}/dd3"
    os.makedirs(src)
    schema = "doc_id long, text string"

    def run_stream():
        q = (
            spark.readStream.schema(schema)
            .parquet(src)
            .writeStream.foreachBatch(minhash_dedup_sink(out))
            .option("checkpointLocation", f"{out}/_ckpt")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    _batch(spark, [(1, A), (2, A), (3, B)]).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    run_stream()
    _batch(spark, [(4, A), (5, C)]).coalesce(1).write.mode("append").parquet(src)
    run_stream()
    assert _kept_ids(spark, out) == [1, 3, 5]
