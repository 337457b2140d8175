"""Streaming near-duplicate suppression: a MinHash-LSH bucket registry
maintained across micro-batches.

The batch dedup family (operators/dedup.py) answers "which documents in
this corpus duplicate each other"; a training-data INGEST pipeline needs
the online form — "drop each arriving document that near-duplicates
anything already accepted". Structured Streaming cannot chain the two
stateful groupings this needs (per-bucket first-wins, then per-doc
any-bucket-hit), so the operator lives in ``foreachBatch`` with the
registry as an explicit parquet table — the same batch-incremental shape
as ``merge_sink`` and the scoring stream, read and swapped with the same verbs
(``sources.tables.read_parquet_or_empty`` / ``swap_in``, so a crashed
swap is recovered on the next batch), and the shape that ports directly
to a Delta/Iceberg MERGE at scale.

Semantics: candidate = LSH band-key collision (``MINHASH_BANDS`` bands of
``MINHASH_PERMS``/bands rows — the same blocking as
``minhash_lsh_pairs``). A batch document is dropped if any of its band
keys is already in the registry (dup of the earliest prior holder), or if
a smaller-id document in the SAME batch shares a band key. One-pass chain
rule (same as ``semantic_dedup``): a doc dropped for colliding with an
in-batch doc that was itself dropped stays dropped — chains collapse to
their head, at least one member of every dup group survives. No exact
Jaccard verify online: storing shingle sets per bucket would make the
registry corpus-sized; the registry holds only (band, bkey, first_doc_id,
batch_id) — a few dozen bytes per accepted doc. Run the batch
``minhash_lsh_pairs`` (with its true-Jaccard verify) over the accepted
set periodically to audit the false-positive rate.

Scale shape: per micro-batch — one doc_id-keyed aggregate for signatures,
one (band, bkey) shuffle against the registry (broadcast-able while the
registry is small; hash join once it isn't), one (band, bkey) in-batch
first-wins aggregate. Registry updates are append-only rows merged by
``swap_in``; at 100 TB the registry is a bucketed table and the collision
probe is a bucket-local join.

Replay idempotence (at-least-once foreachBatch): registry rows carry the
``batch_id`` that minted them; a replayed batch filters the registry to
rows with ``batch_id < current`` — exactly the state the batch saw the
first time — recomputes the same survivors, overwrites only its own
``_batch`` partition of the accepted/dropped outputs, and re-merges the
same registry rows (first-writer-wins on (band, bkey)).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.dedup import minhash_band_keys
from ..sources.tables import read_parquet_or_empty, swap_in

REGISTRY_SCHEMA = "band int, bkey string, first_doc_id long, batch_id long"


def minhash_dedup_sink(
    out_dir: str,
    n: int = 3,
    bands: int | None = None,
    max_doc_freq: int = 500,
):
    """foreachBatch sink: accept only documents whose LSH band keys are all
    unseen; maintain the bucket registry. Writes
    ``{out_dir}/kept`` and ``{out_dir}/dropped`` (both partitioned by
    ``_batch``) and ``{out_dir}/registry/data``.

    ``max_doc_freq`` is the per-BATCH hot-shingle cap (at ingest time only
    the batch is visible); pass 0 to disable when results must not depend
    on how the stream was sliced into batches (the batch-twin parity
    query does)."""

    def write(batch_df: DataFrame, batch_id: int) -> None:
        from concurrent.futures import ThreadPoolExecutor

        spark = batch_df.sparkSession
        reg_path = f"{out_dir}/registry/data"
        # band keys feed FIVE consumers across the batch's write actions
        # (prior probe, survivor anti-join, in-batch first-wins,
        # registry delta) — unpersisted, each action re-derived the whole
        # shingle→minhash pipeline over the batch text (r13, guide §5:
        # reuse + recompute-cost justify the pin). Narrow rows: ~bands
        # per doc. cache: NOT caller-owned — batch-scoped, released in
        # the finally below even when a write action fails (r14, so a
        # failed batch cannot leak its caches into later micro-batches).
        bk = minhash_band_keys(batch_df, n, bands, max_doc_freq).persist()
        dropped = None
        try:
            reg = read_parquet_or_empty(spark, reg_path, REGISTRY_SCHEMA)
            # replay guard: see exactly the registry this batch saw first time
            reg_eff = reg.filter(F.col("batch_id") < batch_id)
            prior = (
                bk.join(reg_eff, ["band", "bkey"])
                .groupBy("doc_id")
                .agg(F.min("first_doc_id").alias("dup_of"))
            )
            survivors = bk.join(prior, "doc_id", "left_anti")
            firsts = survivors.groupBy("band", "bkey").agg(
                F.min("doc_id").alias("keep_id")
            )
            in_batch = (
                survivors.join(firsts, ["band", "bkey"])
                .filter(F.col("doc_id") != F.col("keep_id"))
                .groupBy("doc_id")
                .agg(F.min("keep_id").alias("dup_of"))
            )
            # dropped anchors both output writes AND the kept-side registry
            # delta — pin it so the chain-rule aggregates run once (r13).
            # cache: NOT caller-owned — batch-scoped, unpersisted in the
            # finally below.
            dropped = prior.unionByName(in_batch).persist()
            kept = batch_df.join(dropped, "doc_id", "left_anti")

            sc = spark.conf
            prev = sc.get("spark.sql.sources.partitionOverwriteMode", "static")
            sc.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
            try:
                # the dropped write runs FIRST and alone: it materializes
                # the bk and dropped caches exactly once (concurrent
                # first-use would duplicate the shingle pipeline work)
                (
                    dropped.withColumn("_batch", F.lit(batch_id))
                    .write.mode("overwrite")
                    .partitionBy("_batch")
                    .parquet(f"{out_dir}/dropped")
                )

                # kept output and registry merge are INDEPENDENT actions
                # over the now-cached frames — overlap them (guide §2.6)
                # so the batch pays one write latency, not two. The
                # registry swap only renames after its staging write
                # completes, and the kept write never reads reg_path, so
                # the overlap cannot order-skew either output.
                new_entries = (
                    bk.join(kept.select("doc_id"), "doc_id")
                    .groupBy("band", "bkey")
                    .agg(F.min("doc_id").alias("first_doc_id"))
                    .withColumn("batch_id", F.lit(batch_id))
                )
                merged = reg_eff.unionByName(
                    new_entries.join(reg_eff, ["band", "bkey"], "left_anti")
                )

                def _write_kept() -> None:
                    (
                        kept.withColumn("_batch", F.lit(batch_id))
                        .write.mode("overwrite")
                        .partitionBy("_batch")
                        .parquet(f"{out_dir}/kept")
                    )

                with ThreadPoolExecutor(max_workers=2) as pool:
                    fk = pool.submit(_write_kept)
                    fr = pool.submit(swap_in, merged, reg_path)
                    fk.result()
                    fr.result()
            finally:
                sc.set("spark.sql.sources.partitionOverwriteMode", prev)
        finally:
            bk.unpersist()
            if dropped is not None:
                dropped.unpersist()

    return write
