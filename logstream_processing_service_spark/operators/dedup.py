"""Deduplication operators for large-scale training-data pipelines.

The reference's only dedup is key-based (ON CONFLICT DO NOTHING,
src/db/log_ops.py:53 → exact dedup here). The fuzzy family (MinHash-LSH,
SimHash, n-gram Jaccard) is the north-star extension, built so that:

- every hash is integer arithmetic over the dual-dialect 48-bit md5 hash
  (functions/text.py) → bit-identical in the DuckDB oracle;
- candidate generation NEVER goes O(N²): MinHash bands / SimHash bands /
  shingle inverted-index joins block first, verify after;
- hot shingles are frequency-capped (classic stop-shingle guard) so one
  boilerplate phrase cannot create a quadratic join blowup at 100 TB.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import text as T
from ..session import cut_lineage

# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------


def dedup_exact(documents: DataFrame) -> DataFrame:
    """Exact-text dedup: keeper = min doc_id per distinct text.

    Scale: shuffle on a 48-bit text hash instead of the full text (bytes on
    the wire ∝ hash, not document size); full-text equality is implied at
    test scale and re-checked within groups at production scale.
    """
    return (
        documents.select(
            F.col("doc_id"), F.expr(T.hash48_sql("text", dialect="spark")).alias("text_h")
        )
        .groupBy("text_h")
        .agg(
            F.min("doc_id").alias("keep_id"),
            F.count(F.lit(1)).alias("dup_count"),
        )
        .select("keep_id", "dup_count")
    )


# ---------------------------------------------------------------------------
# Shingle table (shared by Jaccard + MinHash)
# ---------------------------------------------------------------------------


def shingle_table(
    documents: DataFrame, n: int = 3, max_doc_freq: int = 500
) -> DataFrame:
    """Distinct (doc_id, shingle-HASH) rows with hot-shingle frequency cap.

    Shingle identity is the 48-bit rolling combination of per-word md5
    hashes (functions/text.py ``shingle_hash_array_sql``) — shingle strings
    are never materialized. Two scale effects: the scan does one short-word
    md5 instead of building + hashing a ~|doc|-byte string per shingle, and
    every downstream exchange (the df-window here, inverted-index joins,
    minhash aggs) carries 8-byte longs.

    Distinct-per-document is computed IN-ROW (``array_distinct`` before the
    explode): equivalent to a global distinct because (doc_id, s) can only
    repeat within one document's array, and it removes the widest exchange
    from every dedup plan. With the frequency cap off, the shingle table is
    exchange-free — it streams straight from the scan at any scale.

    The cap itself is SKEW-SAFE: document frequency comes from a
    ``groupBy("s")`` aggregate (map-side partial combine means a boilerplate
    shingle present in 50% of all docs contributes at most one partial row
    per map task to the shuffle — never millions of rows to one reducer,
    which is what a ``Window.partitionBy("s")`` count would do), and the
    over-cap key set — tiny by definition (each survivor appears in > cap
    docs, so there are at most N_docs·avg_shingles/cap of them) — comes
    back as a broadcast anti-join, which adds NO exchange on the big side.
    """
    wh = documents.select(
        "doc_id",
        F.expr(
            T.word_hash_array_sql(T.words_sql("text", "spark"), "spark")
        ).alias("wh"),
    )
    sh = wh.select(
        "doc_id",
        F.explode(
            F.array_distinct(F.expr(T.shingle_hash_array_sql("wh", n)))
        ).alias("s"),
    )
    if max_doc_freq:
        hot = (
            sh.groupBy("s")
            .agg(F.count(F.lit(1)).alias("_df"))
            .filter(F.col("_df") > max_doc_freq)
            .select("s")
        )
        sh = sh.join(F.broadcast(hot), "s", "left_anti")
    return sh


def ngram_jaccard_pairs(
    documents: DataFrame,
    n: int = 3,
    threshold: float = 0.5,
    max_doc_freq: int = 500,
) -> DataFrame:
    """All pairs with word-n-gram Jaccard ≥ threshold, via inverted-index
    join (shingle equality) — never a cross join.

    Scale: the join is keyed on shingle; the frequency cap bounds each key's
    group size, so worst-case candidate pairs per shingle ≤ cap². Pair
    aggregation shuffles on (d1, d2). The capped shingle stream is
    persisted — three consumers (per-doc sizes + both inverted-index join
    sides); un-materialized each re-runs the md5 shingle scan (AQE
    exchange reuse does not apply: the consumers sit under differently-
    keyed exchanges). At 100 TB stage it to parquet instead.
    """
    # cache: caller-owned (repo contract — bench/driver clear per query)
    sh = shingle_table(documents, n, max_doc_freq).persist()
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.select(F.col("doc_id").alias("d1"), "s")
    b = sh.select(F.col("doc_id").alias("d2"), "s")
    inter = (
        a.join(b, "s")
        .filter(F.col("d1") < F.col("d2"))
        .groupBy("d1", "d2")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    s1 = sizes.select(F.col("doc_id").alias("d1"), F.col("n_sh").alias("n1"))
    s2 = sizes.select(F.col("doc_id").alias("d2"), F.col("n_sh").alias("n2"))
    return (
        inter.join(F.broadcast(s1), "d1")
        .join(F.broadcast(s2), "d2")
        .withColumn(
            "jaccard",
            F.round(
                F.col("inter") / (F.col("n1") + F.col("n2") - F.col("inter")), 4
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("d1", "d2", "jaccard")
    )


# ---------------------------------------------------------------------------
# MinHash + LSH banding
# ---------------------------------------------------------------------------


def minhash_signatures(
    documents: DataFrame,
    n: int = 3,
    max_doc_freq: int = 500,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """Per-doc MinHash signature (16 perms over 48-bit shingle hashes).

    The shingle hash IS the minhash input — no second hashing pass; the 16
    linear perms are integer ops over the already-materialized long.
    ``shingles`` overrides the internally-built (doc_id, s) frame — the
    seam the incremental registry uses to apply its FROZEN hot-shingle
    filter (see :func:`lsh_frozen_hot`).
    """
    sh = (
        shingles
        if shingles is not None
        else shingle_table(documents, n, max_doc_freq)
    )
    h = F.col("s")
    aggs = [
        F.min((F.lit(a) * h + F.lit(b)) % F.lit(T.MINHASH_PRIME)).alias(f"mh_{j}")
        for j, (a, b) in enumerate(T.MINHASH_PERMS)
    ]
    return sh.groupBy("doc_id").agg(*aggs)


def minhash_band_keys(
    documents: DataFrame,
    n: int = 3,
    bands: int | None = None,
    max_doc_freq: int = 500,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """(doc_id, band, bkey) LSH band keys from per-doc MinHash signatures —
    the blocking keys shared by batch pair-generation and the streaming
    dedup registry (streaming/dedup.py). One posexplode over the band-key
    array, so the signature subtree appears once in the plan.

    ``max_doc_freq=0`` disables the hot-shingle cap — required when band
    keys must be reproducible regardless of how the corpus is sliced into
    micro-batches (a per-batch doc-frequency cap depends on the slicing).
    The incremental registries recover the cap WITHOUT breaking that
    reproducibility by passing a pre-filtered ``shingles`` frame built
    against a frozen base-corpus hot list (:func:`lsh_frozen_hot`).
    """
    bands = bands or T.MINHASH_BANDS
    rows = len(T.MINHASH_PERMS) // bands
    sig = minhash_signatures(documents, n, max_doc_freq, shingles=shingles)
    keys = F.array(
        *[
            F.concat_ws("_", *[F.col(f"mh_{bi * rows + r}") for r in range(rows)])
            for bi in range(bands)
        ]
    )
    return sig.select("doc_id", F.posexplode(keys).alias("band", "bkey"))


def minhash_lsh_pairs(
    documents: DataFrame,
    n: int = 3,
    threshold: float = 0.8,
    bands: int | None = None,
    max_bucket: int = 2000,
) -> DataFrame:
    """Near-dup pairs: LSH band blocking over MinHash signatures, verified
    with TRUE n-gram Jaccard ≥ threshold.

    Scale: this is THE dedup path at 100 TB — signatures are one narrow row
    per doc; banding shuffles on (band_idx, band_key); only candidate pairs
    (a vanishing fraction) pay the verify join.
    """
    bands = bands or T.MINHASH_BANDS
    rows = len(T.MINHASH_PERMS) // bands
    # ONE shared subtree for every branch: scan→word-hash→shingle-hash→
    # explode→groupBy(doc_id)→collect_set. The only exchange over the full
    # shingle stream is keyed on doc_id — effectively unique keys, so NO
    # skew (the old form shuffled on the shingle itself for a df-window,
    # where one boilerplate shingle present in half the corpus lands every
    # row on a single task). ReuseExchange serves the hot-key pass, the
    # signature branch and the verify branch from the same shuffle files,
    # so the wide text column is read and shingled ONCE.
    doc_sets = (
        shingle_table(documents, n, max_doc_freq=0)
        .groupBy("doc_id")
        .agg(F.collect_set("s").alias("ss"))
        # cache: caller-owned (repo contract — bench/driver clear per query)
        .persist()  # 4 consumers (hot, signatures, both verify sides):
        # AQE ReuseExchange recovers only some branches (measured 2 of 4
        # at sf0.1); the pinned doc-set frame guarantees ONE md5 pass
    )
    # hot shingles (doc frequency > 500) from the exploded sets: map-side
    # partial aggregation compresses each hot key to one row per task; the
    # over-cap survivors are few by definition, collected into a single-row
    # array and broadcast into every doc row.
    hot = (
        doc_sets.select(F.explode("ss").alias("s"))
        .groupBy("s")
        .agg(F.count(F.lit(1)).alias("_df"))
        .filter(F.col("_df") > 500)
        .agg(F.collect_list("s").alias("_hot"))
    )
    # minhash is computed IN-ROW over the doc's capped shingle set (16
    # array_min/transform passes) — no extra exchange at all for the
    # signature branch. Same formula as the oracle: min((a·s + b) mod P).
    def _perm(a: int, b: int):
        return lambda x: (F.lit(a) * x + F.lit(b)) % F.lit(T.MINHASH_PRIME)

    sig = (
        doc_sets.crossJoin(F.broadcast(hot))
        .withColumn(
            "ssf",
            F.array_except(
                "ss", F.coalesce(F.col("_hot"), F.array().cast("array<bigint>"))
            ),
        )
        .filter(F.size("ssf") > 0)
        .select(
            "doc_id",
            *[
                F.array_min(F.transform(F.col("ssf"), _perm(a, b))).alias(f"mh_{j}")
                for j, (a, b) in enumerate(T.MINHASH_PERMS)
            ],
        )
    )
    # one posexplode over an array of band keys: the signature subtree
    # (shingle explode → 16-way agg) appears ONCE in the plan, not per band
    keys = F.array(
        *[
            F.concat_ws("_", *[F.col(f"mh_{bi * rows + r}") for r in range(rows)])
            for bi in range(bands)
        ]
    )
    banded = sig.select(
        "doc_id", F.posexplode(keys).alias("band", "bkey")
    )
    # candidate pairs by grouping, not a self-join: ONE shuffle on
    # (band,bkey) and the signature subtree appears once in the plan.
    # In-bucket pair expansion is array math; max_bucket guards the
    # quadratic blow-up of a degenerate bucket (boilerplate-heavy corpora).
    # Skipping a mega-bucket costs recall on that band only; the oracle
    # applies the same cap, so parity holds by construction.
    groups = (
        banded.groupBy("band", "bkey")
        .agg(F.array_sort(F.collect_list("doc_id")).alias("ids"))
        .filter(F.size("ids").between(2, max_bucket))
    )
    combos = F.expr(
        "flatten(transform(ids, (x, i) -> "
        "transform(slice(ids, i+2, size(ids)-i-1), y -> struct(x AS d1, y AS d2))))"
    )
    candidates = (
        groups.select(F.explode(combos).alias("p"))
        .select("p.d1", "p.d2")
        .distinct()
    )
    # verify candidates with TRUE uncapped n-gram Jaccard via per-doc
    # distinct-shingle sets: two narrow joins ∝ candidates, instead of an
    # all-pairs inverted-index pass — the property that makes this the
    # 100 TB dedup path (candidate pairs are a vanishing fraction).
    # Sets hold 48-bit shingle HASHES, not strings: 8-byte elements on the
    # shuffle wire and long (not string) intersection; the oracle intersects
    # the same hashes, so parity is by construction (a cross-shingle hash
    # collision inside one pair has probability ~2^-48 per shingle²).
    # doc_sets is the same frame the signature branch consumed —
    # ReuseExchange serves both from one shuffle.
    joined = candidates.join(
        doc_sets.select(F.col("doc_id").alias("d1"), F.col("ss").alias("s1")), "d1"
    ).join(
        doc_sets.select(F.col("doc_id").alias("d2"), F.col("ss").alias("s2")), "d2"
    )
    inter = F.size(F.array_intersect("s1", "s2"))
    jac = F.round(inter / (F.size("s1") + F.size("s2") - inter), 4)
    return (
        joined.select("d1", "d2", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def lsh_frozen_hot(
    base_docs: DataFrame,
    table_dir: str,
    n: int = 3,
    hot_df: int = 500,
    shingles: DataFrame | None = None,
):
    """Compute the hot-shingle list on the BASE corpus, commit it as
    registry METADATA (a txlog table under ``<table_dir>/_hotmeta``),
    and return (meta_dir, frozen_hot_frame read back from the commit).

    Why this exists — the r13 third-decade finding: the incremental
    registry's ``max_doc_freq=0`` signatures (required so band keys
    don't depend on how the corpus is sliced into commits) remove the
    hot-shingle cap the batch path has, and on a corpus with
    corpus-wide boilerplate shingles the minhash degenerates — a
    shingle in >10% of docs captures the min under many permutations,
    forming giant CROSS-FAMILY buckets whose in-bucket pair expansion
    is quadratic. Measured: candidate pairs 43k → 4.3M → 424M across
    three decades (α ≈ 2), wall-clock 3.6 s → 7.7 s → 529 s.

    The fix is the IVF precedent (ann_ivf_incremental freezes
    centroids on the base): freeze the hot list ON THE BASE COMMIT as
    registry metadata. Every later delta filters its shingles against
    the SAME frozen list before signaturing — slicing-independent
    (the list never depends on delta composition) AND capped (the
    degenerate buckets never form). Like centroids, the list reflects
    the base distribution; refreshing it is a scheduled REBUILD of the
    registry, not an ingest verb. The list is shingle-hash-grain
    (≤ |docs|·shingles/hot_df entries by the pigeonhole bound — KBs),
    broadcast into every signature job."""
    import os as _os

    from . import txlog as TX

    meta_dir = _os.path.join(table_dir, "_hotmeta")
    hot = (
        (
            shingles
            if shingles is not None
            else shingle_table(base_docs, n, max_doc_freq=0)
        )
        .groupBy("s")
        .agg(F.count(F.lit(1)).alias("_df"))
        .filter(F.col("_df") > hot_df)
        .select("s")
    )
    TX.commit(meta_dir, hot, mode="overwrite")
    return meta_dir, TX.read_snapshot(base_docs.sparkSession, meta_dir)


def _frozen_capped_keys(
    docs: DataFrame, frozen_hot: DataFrame, n: int = 3
) -> DataFrame:
    """Band keys from signatures over the doc's shingles MINUS the
    frozen hot list (broadcast anti-join — no exchange added to the
    shingle stream)."""
    sh = shingle_table(docs, n, max_doc_freq=0).join(
        F.broadcast(frozen_hot), "s", "left_anti"
    )
    return minhash_band_keys(docs, n, max_doc_freq=0, shingles=sh)


def lsh_incremental_pairs(
    base_docs: DataFrame,
    delta_docs: DataFrame,
    table_dir: str,
    threshold: float = 0.8,
    max_bucket: int = 2000,
    assume_disjoint: bool = True,
) -> DataFrame:
    """Near-dup pairs over an INCREMENTALLY-maintained LSH band-key
    registry — the daily-crawl workflow at 100 TB: the standing
    corpus's band keys are committed once (v0), each ingest appends
    ONLY the delta docs' keys (v1, merge-on-read), and candidate
    generation runs on the merged registry — the base corpus is never
    re-shingled or re-signatured. The bm25_incremental_index
    discipline applied to the dedup index.

    Signatures use ``max_doc_freq=0`` shingle streams filtered against
    a hot-shingle list FROZEN on the base commit
    (:func:`lsh_frozen_hot` — registry metadata, the IVF
    frozen-centroid precedent): a df cap computed per commit would
    make band keys depend on how the corpus was sliced into commits,
    but an uncapped signature degenerates on boilerplate-hot corpora
    (measured α ≈ 2 in candidates across three decades). The frozen
    list is both slicing-independent and capped; its refresh is a
    scheduled registry rebuild, not an ingest verb.

    Verification joins TRUE uncapped Jaccard over per-doc shingle-hash
    sets of the union corpus, restricted to candidate ids (two narrow
    joins ∝ candidates — at scale the verify side re-shingles only the
    vanishing candidate fraction via a semi-join pushdown on doc_id).

    Output: (d1, d2, jaccard) — hash-matches the from-scratch batch
    LSH over the union corpus (the staleness-free-by-construction
    proof, same as the bm25 twin).

    Precondition (``assume_disjoint=True``, the default — the
    bm25_incremental_index append-only-new-docs scope, r12-advice fix:
    now stated rather than silent): base and delta doc_ids must be
    DISJOINT, or the duplicated doc's band keys sit in the registry
    twice — inflating bucket sizes and pairing the doc with itself.
    An UPDATE is delete + append, not a second append. Pass
    ``assume_disjoint=False`` for overlap-tolerant reads: the registry
    read and the union spine dedupe (one extra exchange each), making
    re-ingest of an unchanged doc idempotent; a doc_id re-ingested
    with DIFFERENT text is undefined under both modes (the registry's
    key contract).
    """
    from . import txlog as TX

    spark = base_docs.sparkSession
    # ONE shingle pass per corpus side (r13, guide §2.4/§5): the hot
    # list, the base signatures, and the verify's doc-set side all
    # consume the same (doc_id, s) stream — unpersisted, the base text
    # was scanned and md5-shingled three times (hot, keys, verify).
    # cache: caller-owned (repo contract — bench/driver clear per query)
    sh_base = shingle_table(base_docs, 3, max_doc_freq=0).persist()
    sh_delta = shingle_table(delta_docs, 3, max_doc_freq=0).persist()
    _, frozen = lsh_frozen_hot(base_docs, table_dir, shingles=sh_base)
    TX.commit(
        table_dir,
        minhash_band_keys(
            base_docs, 3, max_doc_freq=0,
            shingles=sh_base.join(F.broadcast(frozen), "s", "left_anti"),
        ),
        mode="overwrite",
    )
    TX.commit(
        table_dir,
        minhash_band_keys(
            delta_docs, 3, max_doc_freq=0,
            shingles=sh_delta.join(F.broadcast(frozen), "s", "left_anti"),
        ),
        mode="append",
    )
    banded = TX.read_snapshot(spark, table_dir)
    if not assume_disjoint:
        banded = banded.distinct()
    union_docs = base_docs.unionByName(delta_docs)
    union_sh = sh_base.unionByName(sh_delta)
    if not assume_disjoint:
        union_docs = union_docs.dropDuplicates(["doc_id"])
        # identical-text-on-collision precondition (docstring: re-ingest
        # with DIFFERENT text is undefined): for byte-identical
        # redeliveries both sides shingle to the same (doc_id, s) set, so
        # this dedup yields exactly the one live version's shingles. A
        # different-text collision would merge BOTH versions' shingles
        # here while union_docs keeps one row — that input is outside the
        # registry's key contract, not a supported state.
        union_sh = union_sh.dropDuplicates(["doc_id", "s"])
    return _lsh_pairs_from_registry(
        banded, union_docs, threshold, max_bucket, shingles=union_sh
    )


def _lsh_pairs_from_registry(
    banded: DataFrame,
    corpus_docs: DataFrame,
    threshold: float,
    max_bucket: int,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """Candidate generation + true-Jaccard verify from a (doc_id, band,
    bkey) registry read — shared by the merge-on-read path
    (:func:`lsh_incremental_pairs`) and the compacted plain-scan path
    (:func:`lsh_registry_lifecycle_pairs`) so the two can never
    disagree on pair semantics. ``corpus_docs`` must be exactly the
    LIVE corpus the registry describes (verification re-shingles only
    candidate docs via the join pushdown). ``shingles`` overrides the
    internally-built (doc_id, s) stream — the seam that lets callers
    share one shingle pass (collect_set absorbs any duplicate rows, so
    the override cannot change the verify sets)."""
    groups = (
        banded.groupBy("band", "bkey")
        .agg(F.array_sort(F.collect_list("doc_id")).alias("ids"))
        .filter(F.size("ids").between(2, max_bucket))
    )
    combos = F.expr(
        "flatten(transform(ids, (x, i) -> "
        "transform(slice(ids, i+2, size(ids)-i-1), y -> struct(x AS d1, y AS d2))))"
    )
    candidates = (
        groups.select(F.explode(combos).alias("p"))
        .select("p.d1", "p.d2")
        .distinct()
    )
    doc_sets = (
        (
            shingles
            if shingles is not None
            else shingle_table(corpus_docs, n=3, max_doc_freq=0)
        )
        .groupBy("doc_id")
        .agg(F.collect_set("s").alias("ss"))
    )
    joined = candidates.join(
        doc_sets.select(F.col("doc_id").alias("d1"), F.col("ss").alias("s1")),
        "d1",
    ).join(
        doc_sets.select(F.col("doc_id").alias("d2"), F.col("ss").alias("s2")),
        "d2",
    )
    inter = F.size(F.array_intersect("s1", "s2"))
    jac = F.round(inter / (F.size("s1") + F.size("s2") - inter), 4)
    return (
        joined.select("d1", "d2", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
        .orderBy("d1", "d2")
    )


def lsh_registry_lifecycle_pairs(
    base_docs: DataFrame,
    delta_docs: DataFrame,
    delete_ids: DataFrame,
    table_dir: str,
    threshold: float = 0.8,
    max_bucket: int = 2000,
) -> DataFrame:
    """Near-dup pairs after the FULL dedup-registry lifecycle — the
    r14 completion of the incremental story: base band keys committed
    v0, delta keys appended v1 (:func:`lsh_incremental_pairs`'s
    merge-on-read ingest), doc-grain tombstones appended v2
    (``txlog.tombstones`` with sentinel ``band = -1``, which cannot
    collide with real band indexes ≥ 0), and ``txlog.rewrite_snapshot``
    folds all three into a rewritten v3 of the ``live_rows``; candidate
    generation then reads the PLAIN compacted scan (no tombstone
    filtering left in the plan). Hash-matching the
    from-scratch batch LSH over the post-delete union corpus proves
    compaction is a pure physical rewrite of the dedup index — same
    pairs, same Jaccards, fewer files.

    Precondition: base/delta doc_ids disjoint (the
    lsh_incremental_pairs contract); delete_ids may hit either side.

    Scale: each lifecycle verb is O(its own delta) — band keys for new
    docs, one tombstone row per delete, and compaction's one
    background rewrite of live keys (8-byte ids + short band keys,
    never document text). Verification re-shingles only candidate
    docs of the live corpus.
    """
    from . import txlog as TX

    spark = base_docs.sparkSession
    _, frozen = lsh_frozen_hot(base_docs, table_dir)
    base_keys = _frozen_capped_keys(base_docs, frozen)
    TX.commit(table_dir, base_keys, mode="overwrite")
    TX.commit(
        table_dir, _frozen_capped_keys(delta_docs, frozen),
        mode="append",
    )
    TX.commit(
        table_dir,
        TX.tombstones(delete_ids, base_keys, "doc_id", "band"),
        mode="append",
    )
    TX.rewrite_snapshot(
        spark, table_dir,
        lambda snap: TX.live_rows(snap, "doc_id", "band").coalesce(1),
    )
    banded = TX.read_snapshot(spark, table_dir)  # plain scan: v3 only
    live_docs = base_docs.unionByName(delta_docs).join(
        delete_ids.select("doc_id"), "doc_id", "left_anti"
    )
    return _lsh_pairs_from_registry(banded, live_docs, threshold, max_bucket)


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash_table(documents: DataFrame) -> DataFrame:
    """32-bit SimHash per doc over distinct word-3-gram shingle hashes
    (majority vote per bit) — all integer arithmetic, dual-dialect
    reproducible.

    Shingles (not single words) are the feature set: on corpora with a
    narrow vocabulary, word-level simhashes collapse (every doc shares most
    words); 3-gram shingles keep the fingerprint discriminative.

    The rolling shingle hash is re-mixed through md5 for the bit votes
    (``md5(CAST(s AS STRING))``): simhash needs per-bit independence, and
    the rolling combination's low bits are additively correlated across
    overlapping shingles. One md5 over a ≤15-char digit string per shingle
    row — still far cheaper than building the shingle string it replaces.
    """
    sh = shingle_table(documents, n=3, max_doc_freq=0).withColumn(
        "h", F.expr(T.hash48_sql("CAST(s AS STRING)", dialect="spark"))
    )
    bit_sums = [
        F.sum(F.expr(f"(h div {1 << i}) % 2")).alias(f"b{i}")
        for i in range(T.SIMHASH_BITS)
    ]
    per_doc = sh.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_feat"), *bit_sums
    )
    sim = T.simhash_from_wordhash_sums(
        [F.col(f"b{i}") for i in range(T.SIMHASH_BITS)], F.col("n_feat")
    )
    return per_doc.select("doc_id", sim.alias("simhash"))


def simhash_near_dup_pairs(documents: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Pairs with SimHash Hamming distance ≤ max_hamming via band blocking
    (4×8-bit bands: any pair within distance 3 shares ≥1 exact band —
    pigeonhole — so blocking is lossless for the threshold).
    """
    sim = simhash_table(documents)
    # posexplode band values: one simhash-agg subtree per join side, not
    # one per band branch (union-of-selects would replicate the agg 4×)
    bvals = F.array(
        *[
            F.expr(f"(simhash div {1 << (8 * bi)}) % 256")
            for bi in range(T.SIMHASH_BANDS)
        ]
    )
    banded = sim.select(
        "doc_id", "simhash", F.posexplode(bvals).alias("band", "bval")
    )
    a = banded.select(
        F.col("doc_id").alias("d1"), F.col("simhash").alias("h1"), "band", "bval"
    )
    b = banded.select(
        F.col("doc_id").alias("d2"), F.col("simhash").alias("h2"), "band", "bval"
    )
    return (
        a.join(b, ["band", "bval"])
        .filter(F.col("d1") < F.col("d2"))
        .select("d1", "d2", F.bit_count(F.col("h1").bitwiseXOR(F.col("h2"))).alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def duplicate_spans(
    documents: DataFrame, n: int = 10, min_docs: int = 2
) -> DataFrame:
    """Substring-level duplication audit: per document, the fraction of its
    ``n``-word spans that also occur in at least ``min_docs - 1`` OTHER
    documents.

    This is the span/substring grain of dedup (the
    deduplicate-text-datasets family): whole-document MinHash misses a
    boilerplate paragraph pasted into thousands of otherwise-unique pages;
    span-level counting surfaces exactly those. n=10 words is a span long
    enough that incidental overlap is rare.

    Scale shape: identical to the shingle plans — hashed spans (longs, no
    strings), one exchange for the span-frequency window, then a per-doc
    re-aggregation. In-row distinct means a span repeated inside ONE doc
    counts once, so the frequency really is a document frequency.

    Skew note: span document-frequency comes from a ``groupBy("s")``
    aggregate (map-side combine: a boilerplate span in half the corpus is
    one partial row per task on the wire, where a ``Window.partitionBy``
    count would land every occurrence on one task).

    For the default ``min_docs=2`` the plan uses the same
    attribution-in-the-aggregate trick as ``paragraph_dedup``: a NON-dup
    span (df == 1) lives in exactly one document, and ``min(doc_id)`` in
    the df aggregate IS that document — so per-doc unique-span counts come
    straight out of the (already reduced) aggregate, and ``n_dup = n_spans
    − n_uniq``. Per-doc totals are a ``groupBy(doc_id)`` count over the
    SAME shingle stream, which is ``persist()``-ed so the md5 word-hash
    scan — the CPU-dominant part of the plan — executes exactly ONCE; both
    consumers are columnar ``InMemoryTableScan``s over (doc_id, s) longs.
    (An un-materialized two-branch form re-hashes the whole corpus: the
    branches prune differently, so ReuseExchange can never apply. At
    100 TB the same one-scan shape holds by staging ``shingle_table`` to
    parquet instead of the block-manager cache.) For ``min_docs > 2`` a
    df<min_docs span can span several docs, so the general form falls back
    to the flag join — already single-scan, no cache needed.
    """
    sh = shingle_table(documents, n, max_doc_freq=0)
    if min_docs == 2:
        # cache: caller-owned (repo contract — bench/driver clear per query)
        sh = sh.persist()
        totals = sh.groupBy("doc_id").agg(
            F.count(F.lit(1)).alias("n_spans")
        )
        uniq = (
            sh.groupBy("s")
            .agg(F.count(F.lit(1)).alias("_df"), F.min("doc_id").alias("doc_id"))
            .filter(F.col("_df") == 1)
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("_n_uniq"))
        )
        return (
            totals.join(uniq, "doc_id", "left")
            .select(
                "doc_id",
                "n_spans",
                (F.col("n_spans") - F.coalesce(F.col("_n_uniq"), F.lit(0)))
                .cast("bigint")
                .alias("n_dup_spans"),
            )
            .withColumn(
                "dup_span_ratio",
                F.round(
                    F.col("n_dup_spans") / F.col("n_spans").cast("double"), 6
                ),
            )
        )
    dup_keys = (
        sh.groupBy("s")
        .agg(F.count(F.lit(1)).alias("_df"))
        .filter(F.col("_df") >= min_docs)
        .select("s", F.lit(1).alias("_dup"))
    )
    # the left join carries the dup flag back to every span row (the
    # dup_keys side is already hash-partitioned on s by its aggregate, so
    # only the span stream pays an exchange, and AQE splits any hot key);
    # ONE per-doc aggregate then yields both counts — no window anywhere.
    flagged = sh.join(dup_keys, "s", "left")
    return (
        flagged.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.count("_dup").alias("n_dup_spans"),
        )
        .select(
            "doc_id",
            "n_spans",
            "n_dup_spans",
            F.round(
                F.col("n_dup_spans") / F.col("n_spans").cast("double"), 6
            ).alias("dup_span_ratio"),
        )
    )


def span_dup_profile(
    documents: DataFrame, lengths: tuple[int, ...] = (8, 16, 32)
) -> DataFrame:
    """Multi-grain span duplication profile: per document, the LONGEST span
    length (from ``lengths``, geometric) at which the doc still contains at
    least one span that also occurs in another document — the cheap
    distributed approximation of "longest duplicated substring" (the
    suffix-array dedup family, Lee et al. 2022): a doc whose
    ``max_dup_span_len`` is 32 carries a ≥32-word verbatim block from
    elsewhere; 0 means no 8-word span is shared at all.

    Scale shape: ONE scan hashes words once (let-bound md5 array — see
    functions/text.py let_sql) and emits the distinct shingles of ALL
    grains as (n, s) structs through a single explode — k span lengths do
    NOT cost k scans. One (n, s)-keyed aggregate with the same
    attribution-in-the-aggregate trick as ``duplicate_spans``: a span with
    df == 1 attributes its uniqueness to its only holder via min(doc_id),
    so has-dup per (doc, n) is ``n_spans > n_uniq`` with no instance-grain
    join; in-row totals ride a second cheap projection of the same scan.
    """
    wh_sql = T.word_hash_array_sql(T.words_sql("text", "spark"), "spark")
    inst_body = (
        "flatten(array("
        + ",".join(
            f"transform(array_distinct({T.shingle_hash_array_sql('wh', n)}),"
            f" s -> struct({n} AS n, s AS s))"
            for n in lengths
        )
        + "))"
    )
    inst = documents.select(
        "doc_id",
        F.explode(F.expr(T.let_sql(wh_sql, "wh", inst_body))).alias("u"),
    ).select("doc_id", F.col("u.n").cast("bigint").alias("n"), "u.s")
    uniq = (
        inst.groupBy("n", "s")
        .agg(F.count(F.lit(1)).alias("_df"), F.min("doc_id").alias("doc_id"))
        .filter(F.col("_df") == 1)
        .groupBy("doc_id", "n")
        .agg(F.count(F.lit(1)).alias("_n_uniq"))
    )
    tot_body = (
        "array("
        + ",".join(
            f"struct({n} AS n,"
            f" size(array_distinct({T.shingle_hash_array_sql('wh', n)})) AS t)"
            for n in lengths
        )
        + ")"
    )
    totals = documents.select(
        "doc_id",
        F.explode(F.expr(T.let_sql(wh_sql, "wh", tot_body))).alias("u"),
    ).select(
        "doc_id",
        F.col("u.n").cast("bigint").alias("n"),
        F.col("u.t").cast("bigint").alias("t"),
    )
    per = totals.join(uniq, ["doc_id", "n"], "left")
    return per.groupBy("doc_id").agg(
        F.max(
            F.when(
                F.col("t") > F.coalesce(F.col("_n_uniq"), F.lit(0)), F.col("n")
            ).otherwise(F.lit(0))
        )
        .cast("bigint")
        .alias("max_dup_span_len")
    )


def decontaminate_report(
    documents: DataFrame,
    n: int = 5,
    strata_col: str = "lang",
    test_threshold_hex: str = "1a",
    salt: str = "split-v1",
) -> DataFrame:
    """Benchmark-decontamination audit: per stratum, how many TRAIN docs
    share at least one word n-gram with any EVAL doc.

    The standard LLM-curation step the reference lacks entirely: before
    training, every document that overlaps the held-out eval split (here
    the deterministic md5 split from operators/sampling.py, so the whole
    report is oracle-reproducible) must be flagged/dropped, else eval is
    contaminated. n=5 word shingles is the usual contamination grain —
    long enough that incidental overlap is rare, short enough to catch
    paraphrase-free copying.

    Scale shape: the eval side of the shingle join is the benchmark suite —
    tiny by construction (threshold/256 of the corpus, and a real benchmark
    is KBs) — so AQE broadcasts it; the train side streams through one
    semi-join keyed on the shingle string. No window, no cross join; the
    only wide op is the distinct on (doc_id, shingle).
    """
    from .sampling import deterministic_split

    labeled = deterministic_split(
        documents, "doc_id", test_threshold_hex, salt
    ).select("doc_id", strata_col, "text", "split")
    wh = labeled.select(
        "doc_id",
        "split",
        F.expr(
            T.word_hash_array_sql(T.words_sql("text", "spark"), "spark")
        ).alias("wh"),
    )
    sh = wh.select(
        "doc_id",
        "split",
        F.explode(
            F.array_distinct(F.expr(T.shingle_hash_array_sql("wh", n)))
        ).alias("s"),
    # cache: caller-owned (repo contract — bench/driver clear per query)
    ).persist()  # two consumers (eval set + train semi-join): one md5 scan
    eval_sh = sh.filter(F.col("split") == "test").select("s").distinct()
    contaminated = (
        sh.filter(F.col("split") == "train")
        .join(eval_sh, "s", "left_semi")
        .select("doc_id")
        .distinct()
        .withColumn("_cont", F.lit(1))
    )
    return (
        labeled.filter(F.col("split") == "train")
        .join(contaminated, "doc_id", "left")
        .groupBy(strata_col)
        .agg(
            F.count(F.lit(1)).alias("n_train"),
            F.sum(F.coalesce(F.col("_cont"), F.lit(0))).alias("n_contaminated"),
        )
        .orderBy(strata_col)
    )


def contamination_overlap(
    documents: DataFrame,
    n: int = 5,
    test_threshold_hex: str = "1a",
    salt: str = "split-v1",
) -> DataFrame:
    """Per-document contamination SCORE: for every TRAIN document, the
    fraction of its distinct word n-grams that also occur anywhere in the
    EVAL split — the graded upgrade of ``decontaminate_report``'s binary
    flag (the GPT-3 appendix-C style overlap measure: pipelines drop above
    a ratio threshold rather than on any single shared n-gram).

    Scale shape: the eval n-gram set is benchmark-sized → broadcast; the
    train shingle stream takes ONE left join carrying only a presence flag
    and ONE doc-keyed aggregate — same exchange budget as
    ``duplicate_spans``'s general form. No window, no distinct at instance
    grain (shingles are already distinct-in-doc from ``shingle_table``'s
    in-row array_distinct).
    """
    from .sampling import split_bucket

    # the split label is a PURE FUNCTION of doc_id (keyed md5 hash), so it
    # is recomputed in-row on the shingle stream — no corpus-grain join.
    # persist(): the eval branch and the train branch both consume this
    # stream; un-materialized each re-runs the md5 shingle scan (the
    # duplicate_spans lesson — at 100 TB stage to parquet instead)
    sh = (
        shingle_table(documents, n, max_doc_freq=0)
        .withColumn(
            "split",
            F.when(
                split_bucket("doc_id", salt) < test_threshold_hex, "test"
            ).otherwise("train"),
        )
        # cache: caller-owned (repo contract — bench/driver clear per query)
        .persist()
    )
    eval_sh = (
        sh.filter(F.col("split") == "test")
        .select("s")
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    return (
        sh.filter(F.col("split") == "train")
        .join(F.broadcast(eval_sh), "s", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.coalesce(F.col("_hit"), F.lit(0)))
            .cast("bigint")
            .alias("n_matched"),
        )
        .withColumn(
            "overlap_ratio",
            F.round(F.col("n_matched") / F.col("n_grams").cast("double"), 6),
        )
    )


def dedup_keep_table(
    documents: DataFrame,
    n: int = 3,
    threshold: float = 0.8,
    quality_col: str = "n_chars",
) -> DataFrame:
    """Quality-aware keep/drop partition of the WHOLE corpus: resolve
    MinHash-LSH near-dup clusters, then keep the highest-QUALITY member of
    each cluster (``quality_col`` DESC, doc_id ASC tie-break) instead of
    ``dedup_clusters``'s arbitrary min-id keeper — the decision table a
    curation pipeline actually joins against before training (near-dup
    groups usually contain one clean original and N degraded copies; id
    order has no reason to pick the clean one).

    Every document gets a row: singletons keep themselves (keep=true,
    cluster_size=1). Scale shape: the per-cluster argmax is a ``max_by``
    aggregate over the cluster table only (no window over the corpus),
    and the join strategy for decision-table-back-onto-corpus is left to
    AQE — on web crawls, near-dup clusters routinely cover 30–50% of all
    documents, so ``decided`` is O(corpus) rows and a mandatory broadcast
    would OOM at 100 TB; AQE broadcasts it only when the measured size is
    actually small, and falls back to a shuffled hash join (both sides
    keyed on doc_id) otherwise.
    """
    pairs = minhash_lsh_pairs(documents, n=n, threshold=threshold)
    cc = connected_components(pairs)
    clustered = cc.select(
        F.col("node").alias("doc_id"), F.col("label").alias("cluster_id")
    ).join(documents.select("doc_id", quality_col), "doc_id")
    keepers = clustered.groupBy("cluster_id").agg(
        F.expr(
            f"max_by(doc_id, struct({quality_col}, -doc_id))"
        ).alias("_keeper"),
        F.count(F.lit(1)).alias("cluster_size"),
    )
    decided = clustered.join(keepers, "cluster_id").select(
        "doc_id",
        "cluster_id",
        "cluster_size",
        (F.col("doc_id") == F.col("_keeper")).alias("keep"),
    )
    return (
        documents.select("doc_id")
        .join(decided, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("cluster_id", F.col("doc_id")).alias("cluster_id"),
            F.coalesce("cluster_size", F.lit(1)).cast("bigint").alias(
                "cluster_size"
            ),
            F.coalesce("keep", F.lit(True)).alias("keep"),
        )
    )


def connected_components(pairs: DataFrame, max_iter: int = 25) -> DataFrame:
    """Connected components over an undirected pair list (d1, d2) →
    (node, label) where label = min node id reachable (the canonical id).

    Iterative min-label propagation: each round every node takes the min
    of its own label and its neighbors' labels; rounds needed = graph
    diameter (duplicate clusters are shallow — a handful of rounds). Each
    round is one shuffle join keyed on node; lineage is cut per round
    (``session.cut_lineage``) so the plan stays O(1) deep. This is the
    dedup-cluster primitive (MapReduce-CC in the Kwak/small-star family);
    a 100 TB corpus runs the same loop with the same per-round cost.

    The loop stops early the first round no label changes. The
    changed-probe IS the round's materialization action (r14, VERDICT
    #2): it is a full ``count()`` over the changed rows, so it computes
    every partition of the cut round (no take-style partial scan that
    would leave uncut partitions behind). Under the local cut the round's
    join+agg, its block materialization and the convergence answer share
    ONE job instead of a checkpoint job plus a probe job per round.
    """
    # the edge list is cut ONCE: without this, every round's join would
    # re-execute the entire upstream pairs job (for dedup_clusters, the
    # full LSH candidate+verify pipeline) because exchange reuse never
    # spans actions. Under the local cut, round 1's probe job materializes
    # sym and labels along with the first step (two fewer standalone
    # jobs); later rounds read the cut blocks.
    sym = cut_lineage(
        pairs.select(F.col("d1").alias("src"), F.col("d2").alias("dst"))
        .union(pairs.select(F.col("d2").alias("src"), F.col("d1").alias("dst")))
    )
    labels = cut_lineage(
        sym.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
    )
    for _ in range(max_iter):
        neigh = (
            sym.join(labels, sym["dst"] == labels["node"])
            .groupBy("src")
            .agg(F.min("label").alias("nlabel"))
        )
        stepped = (
            labels.join(neigh, labels["node"] == neigh["src"], "left")
            .select(
                labels["node"].alias("node"),
                F.col("label").alias("old"),
                F.least(
                    F.col("label"), F.coalesce("nlabel", F.col("label"))
                ).alias("mid"),
            )
        )
        # pointer jump (label <- label of my label): combined with the
        # neighbor step this converges in O(log diameter) rounds, so
        # max_iter=25 covers any component a dedup graph can realistically
        # produce (diameter ~2^25 would be needed to exhaust it).
        # ONE lineage cut per round (r14, VERDICT #2): the pointer-jump
        # self-join duplicates the un-cut stepped subtree inside the
        # round's single materialization job, which costs less than the
        # extra per-round checkpoint job it replaces (A/B on the
        # contraction twin: 7.57 s vs 8.14 s median, identical labels —
        # checkpoint placement is semantics-free).
        ptr = stepped.select(
            F.col("node").alias("pnode"), F.col("mid").alias("plabel")
        )
        updated = cut_lineage(
            stepped.join(ptr, stepped["mid"] == ptr["pnode"], "left")
            .select(
                "node",
                "old",
                F.least(
                    F.col("mid"), F.coalesce("plabel", F.col("mid"))
                ).alias("label"),
            )
        )
        # changed-probe folded into the materialization (docstring): the
        # full count computes (and under the local cut keeps) every
        # partition of `updated` in the one job.
        changed = updated.filter(F.col("label") != F.col("old")).count()
        labels = updated.select("node", "label")
        if changed == 0:
            return labels
    raise RuntimeError(
        f"connected_components did not converge in {max_iter} rounds; "
        "raise max_iter (a silent partial closure would mis-assign "
        "canonical ids)"
    )


def dedup_clusters(
    documents: DataFrame, n: int = 3, threshold: float = 0.8
) -> DataFrame:
    """Resolve MinHash-LSH near-dup pairs into duplicate CLUSTERS and a
    canonical keeper per cluster — the step that turns pairwise dedup
    output into an actionable keep/drop list.

    Output: one row per document that belongs to a duplicate cluster —
    (doc_id, canonical_id = min doc_id in its component, cluster_size,
    is_keeper). Documents with no near-dup stay out of the list (they are
    trivially keepers); joining this table back to the corpus with a left
    join + coalesce gives the full keep/drop partition.
    """
    pairs = minhash_lsh_pairs(documents, n=n, threshold=threshold)
    cc = connected_components(pairs)
    w = Window.partitionBy("label")
    return (
        cc.withColumn("cluster_size", F.count(F.lit(1)).over(w))
        .select(
            F.col("node").alias("doc_id"),
            F.col("label").alias("canonical_id"),
            "cluster_size",
            (F.col("node") == F.col("label")).alias("is_keeper"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Paragraph-grain dedup (MassiveText / RefinedWeb style)
# ---------------------------------------------------------------------------


def paragraph_dedup(
    documents: DataFrame,
    mode: str = "newline",
    block_words: int = 10,
) -> DataFrame:
    """Paragraph-grain exact dedup: keep the globally FIRST occurrence of
    every distinct paragraph, report per document how many of its paragraphs
    are removable repeats.

    The grain between whole-document dedup (``dedup_exact``) and sliding
    spans (``duplicate_spans``): a boilerplate footer pasted into thousands
    of pages is invisible to document hashing and over-counted by
    overlapping spans; paragraph hashing removes exactly the repeated block.
    "First" is lexicographic (doc_id, para_idx), encoded as ONE int64 so the
    arg-min is a plain ``min`` aggregate both engines compute identically.

    ``mode="newline"`` splits on newlines (real corpora);
    ``mode="block"`` uses non-overlapping ``block_words``-word chunks
    (non-degenerate on single-line corpora — see functions/text.py).

    Scale: ONE pass over the exploded paragraph stream. The encoded order
    key makes the instance-grain flag join unnecessary: ``min(ord)`` per
    paragraph hash IS (first doc_id · 2²⁰ + idx), so ``first_ord div 2²⁰``
    recovers which doc holds each first occurrence, and
    ``n_dup = n_paras − n_firsts`` at doc grain. Per-doc totals come from
    an in-row ``size(paragraphs)`` that never explodes or hashes anything.
    So: paragraphs are hashed exactly once, ship as 8-byte longs, the
    first-occurrence pass is a map-side-combined ``groupBy(h)`` (a
    paragraph repeated in half the corpus is one partial row per task),
    and the only join is doc-grain × doc-grain — no ``Window`` and no
    instance-grain shuffle join anywhere.
    """
    paras = T.paragraphs_sql("text", "spark", mode=mode, block_words=block_words)
    totals = documents.select(
        "doc_id", F.size(F.expr(paras)).cast("bigint").alias("n_paras")
    )
    inst = documents.select(
        "doc_id", F.posexplode(F.expr(paras)).alias("para_idx", "para")
    ).select(
        F.expr(T.hash48_sql("para", dialect="spark")).alias("h"),
        (F.col("doc_id") * F.lit(1048576).cast("long") + F.col("para_idx"))
        .alias("ord"),
    )
    firsts_per_doc = (
        inst.groupBy("h")
        .agg(F.min("ord").alias("first_ord"))
        .select(F.expr("first_ord div 1048576").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_firsts"))
    )
    return (
        totals.join(firsts_per_doc, "doc_id", "left")
        .select(
            "doc_id",
            "n_paras",
            (F.col("n_paras") - F.coalesce(F.col("n_firsts"), F.lit(0)))
            .cast("bigint")
            .alias("n_dup_paras"),
        )
        .withColumn(
            "dup_para_frac",
            F.col("n_dup_paras").cast("double") / F.col("n_paras"),
        )
    )


def cross_source_dup_matrix(
    documents: DataFrame, n: int = 3, threshold: float = 0.8
) -> DataFrame:
    """Provenance view of near-duplication: for every (unordered) pair of
    sources, how many MinHash near-dup pairs span them — the report that
    tells a curator WHICH feeds copy from each other (syndication,
    mirrors, scraper overlap) vs which merely self-duplicate
    (source_a = source_b rows).

    Scale shape: the pair list is the (small) dedup output; attaching the
    two source labels is two joins against a skinny (doc_id, source)
    projection — broadcast when the pair list is small, shuffled hash
    joins otherwise (AQE picks); the final matrix aggregate is
    |sources|² rows at most.
    """
    pairs = minhash_lsh_pairs(documents, n=n, threshold=threshold)
    src = documents.select("doc_id", "source")
    labeled = (
        pairs.join(
            src.select(
                F.col("doc_id").alias("d1"), F.col("source").alias("_s1")
            ),
            "d1",
        )
        .join(
            src.select(
                F.col("doc_id").alias("d2"), F.col("source").alias("_s2")
            ),
            "d2",
        )
        .select(
            F.least("_s1", "_s2").alias("source_a"),
            F.greatest("_s1", "_s2").alias("source_b"),
        )
    )
    return (
        labeled.groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("n_dup_pairs"))
        .orderBy("source_a", "source_b")
    )


def decontaminate_report_bloom(
    documents: DataFrame,
    n: int = 5,
    strata_col: str = "lang",
    test_threshold_hex: str = "1a",
    salt: str = "split-v1",
    m_bits: int = 1 << 20,
    k_hashes: int = 5,
) -> DataFrame:
    """``decontaminate_report`` with a BLOOM-FILTER pre-filter — identical
    output, different scale envelope: the eval n-gram set is compressed
    into an ``m_bits``-bit filter (bit-packed ``array<long>``, built and
    probed entirely in Spark SQL — no UDF, no per-row Python), so the
    train side pays an in-row probe instead of a join, and only
    bloom-POSITIVE (doc, shingle) pairs enter the exact verify semi-join
    that removes false positives.

    Why this exists: the broadcast semi-join form carries the eval set as
    join-hash-table rows (~8 B per n-gram plus overhead); the bloom form
    carries m/8 bytes TOTAL (1% fp ≈ 10 bits per n-gram — 12 MB for a
    10M-n-gram benchmark suite). Double hashing g_i = (h1 + i·h2) mod m
    (Kirsch-Mitzenmacher 2006) derives all ``k_hashes`` probes from the
    one 48-bit shingle hash already computed.

    The filter is BUILT in pure Spark SQL (bit_or aggregate over
    bit-packed words) and PROBED by an Arrow-batched numpy closure: the
    word array rides the task closure once per task. The first version
    cross-joined the words in as an array<long> column — Spark copies
    the array value into EVERY joined row, which measured 10× slower
    than the closure form (the same lesson as ann_pq's LUT: constants go
    in closures, never in joined columns).

    The exact verify makes the result EQUAL to ``decontaminate_report``
    (same oracle), so the bloom layer can never change answers — only
    costs. Superset/fp-rate properties are asserted in tests.
    """
    from .sampling import split_bucket

    sh = (
        shingle_table(documents, n, max_doc_freq=0)
        .withColumn(
            "split",
            F.when(
                split_bucket("doc_id", salt) < test_threshold_hex, "test"
            ).otherwise("train"),
        )
        # cache: caller-owned (repo contract — bench/driver clear per query)
        .persist()
    )
    eval_bits = bloom_word_bits(
        sh.filter(F.col("split") == "test").select("s").distinct(),
        m_bits,
        k_hashes,
    )
    words = _collect_bloom_words(eval_bits, m_bits)

    return _bloom_decontaminate_report(
        documents, sh, words, strata_col, test_threshold_hex, salt,
        m_bits, k_hashes,
    )


def bloom_word_bits(
    shingles: DataFrame, m_bits: int = 1 << 20, k_hashes: int = 5
) -> DataFrame:
    """Bit-packed bloom words (w, bits) from a distinct shingle-hash
    frame ``shingles(s)`` — built entirely in Spark SQL (double
    hashing, bit_or aggregate). This IS the storable form of the
    filter: a bloom is a bit array, so the union of two filters is the
    bitwise OR of their word frames — which makes (w, bits) a natural
    txlog registry payload whose merge-on-read is one
    groupBy(w).bit_or(bits) (:func:`decontaminate_bloom_incremental`).
    ≤ m_bits/64 rows regardless of corpus size."""
    h1 = F.col("s") % m_bits
    h2 = (F.col("s") % (m_bits - 1)) + 1  # never 0 → probes never collapse
    probe_pos = [
        ((h1 + F.lit(i) * h2) % m_bits).alias(f"_p{i}")
        for i in range(k_hashes)
    ]
    return (
        shingles.select(*probe_pos)
        .select(
            F.explode(
                F.array(*[F.col(f"_p{i}") for i in range(k_hashes)])
            ).alias("pos")
        )
        .select(
            F.expr("pos div 64").alias("w"),
            F.expr("shiftleft(1L, cast(pos % 64 as int))").alias("m"),
        )
        .groupBy("w")
        .agg(F.expr("bit_or(m)").alias("bits"))
    )


def _collect_bloom_words(word_bits: DataFrame, m_bits: int) -> "np.ndarray":
    """Collect a (w, bits) frame into the dense closure array the
    Arrow-batched probe carries (bounded: m_bits/64 rows max)."""
    words = np.zeros(m_bits // 64, dtype=np.uint64)
    for r in word_bits.collect():
        # Spark's bit_or returns a SIGNED long, so any word with bit 63 set
        # arrives as a negative Python int; mask to the unsigned 64-bit
        # range BEFORE the np.uint64 cast (negative-int -> uint64 is
        # deprecated on numpy 1.26 and an OverflowError on numpy >= 2.0).
        words[int(r["w"])] = np.uint64(r["bits"] & 0xFFFFFFFFFFFFFFFF)
    return words


def _bloom_decontaminate_report(
    documents: DataFrame,
    sh: DataFrame,
    words: "np.ndarray",
    strata_col: str,
    test_threshold_hex: str,
    salt: str,
    m_bits: int,
    k_hashes: int,
) -> DataFrame:
    """Probe + exact-verify + per-stratum report — shared by the
    one-shot bloom path (:func:`decontaminate_report_bloom`) and the
    incremental registry (:func:`decontaminate_bloom_incremental`), so
    the two can never disagree on decontamination semantics."""
    from .sampling import split_bucket

    @F.pandas_udf("boolean")
    def probe(s: pd.Series) -> pd.Series:
        x = s.to_numpy(dtype=np.uint64)
        h1 = x % np.uint64(m_bits)
        h2 = x % np.uint64(m_bits - 1) + np.uint64(1)
        ok = np.ones(len(x), dtype=bool)
        for i in range(k_hashes):
            pos = (h1 + np.uint64(i) * h2) % np.uint64(m_bits)
            w = words[(pos >> np.uint64(6)).astype(np.int64)]
            ok &= ((w >> (pos & np.uint64(63))) & np.uint64(1)) != 0
        return pd.Series(ok)

    train = sh.filter(F.col("split") == "train")
    candidates = train.filter(probe(F.col("s")))
    eval_sh = sh.filter(F.col("split") == "test").select("s").distinct()
    contaminated = (
        candidates.join(eval_sh, "s", "left_semi")  # exact verify: no fp
        .select("doc_id")
        .distinct()
        .withColumn("_cont", F.lit(1))
    )
    labeled_docs = documents.select(
        "doc_id", strata_col,
        F.when(
            split_bucket("doc_id", salt) < test_threshold_hex, "test"
        ).otherwise("train").alias("split"),
    )
    return (
        labeled_docs.filter(F.col("split") == "train")
        .join(contaminated, "doc_id", "left")
        .groupBy(strata_col)
        .agg(
            F.count(F.lit(1)).alias("n_train"),
            F.sum(F.coalesce(F.col("_cont"), F.lit(0))).alias("n_contaminated"),
        )
        .orderBy(strata_col)
    )


def decontaminate_bloom_incremental(
    documents: DataFrame,
    table_dir: str,
    n: int = 5,
    strata_col: str = "lang",
    test_threshold_hex: str = "1a",
    salt: str = "split-v1",
    m_bits: int = 1 << 20,
    k_hashes: int = 5,
) -> DataFrame:
    """The decontamination bloom as a SKETCH REGISTRY under eval-suite
    growth — the fourth registry family after bm25/LSH/IVF, with the
    OPPOSITE merge algebra: a bloom filter is a bit array, so the
    union of two filters is the bitwise OR of their (w, bits) word
    frames. The first eval slice's words are committed v0, a newly
    arrived eval slice's words APPENDED v1 (each commit ≤ m_bits/64
    rows — KBs, not corpus-sized), and the merge-on-read is ONE
    groupBy(w).bit_or(bits) over the merged scan. No tombstones, no
    disjointness precondition — OR is idempotent, so overlapping or
    re-ingested eval sets are harmless by algebra (contrast the
    posting registries' disjoint-doc_id contracts). Deleting an eval
    set is the one verb blooms cannot do (bits are shared);
    that path is a rebuild, stated loudly here.

    Probe + exact verify + report are shared with the one-shot path
    (:func:`_bloom_decontaminate_report`), so the result equals
    ``decontaminate_report`` over the FULL eval split — the hash match
    proves the registry composes under eval growth.

    Scale: each eval-suite release appends one KB-grain word frame;
    the train corpus is probed in-row against the OR-merged closure
    array. At 100 TB the filter rides task closures (12 MB at 10M
    n-grams), never a join.
    """
    from . import txlog as TX
    from .sampling import split_bucket

    sh = (
        shingle_table(documents, n, max_doc_freq=0)
        .withColumn(
            "split",
            F.when(
                split_bucket("doc_id", salt) < test_threshold_hex, "test"
            ).otherwise("train"),
        )
        # cache: caller-owned (repo contract)
        .persist()
    )
    ev = sh.filter(F.col("split") == "test")
    slice1 = ev.filter(F.col("doc_id") % 2 == 0).select("s").distinct()
    slice2 = ev.filter(F.col("doc_id") % 2 == 1).select("s").distinct()
    TX.commit(
        table_dir, bloom_word_bits(slice1, m_bits, k_hashes),
        mode="overwrite",
    )
    TX.commit(
        table_dir, bloom_word_bits(slice2, m_bits, k_hashes), mode="append"
    )
    merged = (
        TX.read_snapshot(documents.sparkSession, table_dir)
        .groupBy("w")
        .agg(F.expr("bit_or(bits)").alias("bits"))
    )
    words = _collect_bloom_words(merged, m_bits)
    return _bloom_decontaminate_report(
        documents, sh, words, strata_col, test_threshold_hex, salt,
        m_bits, k_hashes,
    )


# ---------------------------------------------------------------------------
# Substring-grain exact dedup (whole-document containment)
# ---------------------------------------------------------------------------


def substring_containment_pairs(
    documents: DataFrame,
    n: int = 3,
    max_df: int = 5000,
) -> DataFrame:
    """Whole-document exact-substring dedup: (contained_id, container_id)
    pairs where the contained document's WORD SEQUENCE appears contiguously
    inside the container's — the dedup grain between exact-doc equality
    (``dedup_exact``) and shared-span profiling (``duplicate_spans``): a
    short article quoted wholesale inside a digest is a full-containment
    duplicate that neither of those surfaces as such. Suffix-array
    substring dedup (Lee et al. 2022, "Deduplicating Training Data Makes
    Language Models Better") is the char-grain sequential analogue; this
    is its distributed word-grain form.

    Blocking (never all-pairs): if A ⊑ B then EVERY n-shingle of A is a
    shingle of B — so A's globally RAREST shingle (min document
    frequency, shingle-hash tie-break) is a complete blocking key:
    candidates(A) = docs sharing that one shingle, |candidates(A)| =
    df(rarest) - 1, minimal over all of A's shingles by construction.
    Verification is exact and char-cheap: word sequences re-joined with
    single spaces and flanking-space sentinels turn word-subsequence
    containment into plain ``contains()`` (the sentinels pin word
    boundaries: 'ab cd' never matches inside 'xab cd'). Identical texts
    count as mutual containment resolved to the lower-id container.

    Scale shape: one groupBy(s) for document frequency (map-side partial
    combine — a boilerplate shingle contributes one row per map task, not
    df rows to one reducer), one groupBy(doc_id) struct-min for the
    rarest key, one s-keyed candidate join bounded per doc by ``max_df``,
    and two skinny id-keyed joins to bring in the normalized texts for
    the final filter. Docs whose rarest shingle has df > ``max_df``
    (every shingle boilerplate — pathological) are EXCLUDED from the
    contained side, mirrored exactly in the oracle; raise ``max_df`` to
    widen coverage. Docs with fewer than ``n`` words carry only the
    zero-padded short-doc shingle and are excluded from the contained
    side (``dedup_exact`` still catches their identical twins).
    """
    norm = documents.select(
        "doc_id",
        F.expr(T.words_sql("text", "spark")).alias("w"),
    ).select(
        "doc_id",
        F.concat(F.lit(" "), F.concat_ws(" ", "w"), F.lit(" ")).alias("ns"),
        F.size("w").alias("nw"),
    )
    # 3 consumers of the shingle stream (df agg, rarest join, candidate
    # b-side) — pin it so the md5 shingle scan runs once: 3.3s → 2.0s at
    # sf0.1 (same measured rationale as ngram_jaccard_pairs; at 100 TB
    # stage it to parquet). Persisting `norm` as well measured neutral
    # (±5%) while pinning corpus-sized text — deliberately not cached.
    # cache: caller-owned (repo contract — bench/driver clear per query)
    sh = shingle_table(documents, n, max_doc_freq=0).persist()
    dfreq = sh.groupBy("s").agg(F.count(F.lit(1)).alias("df"))
    rarest = (
        sh.join(dfreq, "s")
        .groupBy("doc_id")
        .agg(F.min(F.struct("df", "s")).alias("m"))
        .select("doc_id", F.col("m.s").alias("s"), F.col("m.df").alias("df"))
        .filter(F.col("df") <= max_df)
        # contained side must have >= n real words (short docs carry only
        # the padded shingle, which is not a real blocking key)
        .join(norm.filter(F.col("nw") >= n).select("doc_id"), "doc_id")
    )
    cand = (
        rarest.select(F.col("doc_id").alias("a"), "s")
        .join(sh.select(F.col("doc_id").alias("b"), "s"), "s")
        .filter(F.col("a") != F.col("b"))
        .select("a", "b")
        .distinct()
    )
    # length prefilter on SKINNY columns before any text joins: the
    # final predicate implies len(ns_a) <= len(ns_b) (containment needs
    # it; the mutual-equality arm has equal lengths), so dropping
    # longer-than-container candidates here halves the text payload the
    # verify join sorts/shuffles — the cost that dominates when a corpus
    # carries large duplicate families (the scale100 study's spill).
    lens = norm.select("doc_id", F.length("ns").alias("len"))
    cand = (
        cand.join(lens.select(F.col("doc_id").alias("a"),
                              F.col("len").alias("len_a")), "a")
        .join(lens.select(F.col("doc_id").alias("b"),
                          F.col("len").alias("len_b")), "b")
        .filter(F.col("len_a") <= F.col("len_b"))
        .select("a", "b")
    )
    na = norm.select(F.col("doc_id").alias("a"), F.col("ns").alias("ns_a"))
    nb = norm.select(F.col("doc_id").alias("b"), F.col("ns").alias("ns_b"))
    return (
        cand.join(na, "a")
        .join(nb, "b")
        .filter(
            F.col("ns_b").contains(F.col("ns_a"))
            & (
                (F.length("ns_a") < F.length("ns_b"))
                | ((F.col("ns_a") == F.col("ns_b")) & (F.col("a") > F.col("b")))
            )
        )
        .select(
            F.col("a").alias("contained_id"),
            F.col("b").alias("container_id"),
        )
        .orderBy("contained_id", "container_id")
    )


def snapshot_diff(
    old: DataFrame, new: DataFrame, key_col: str = "doc_id"
) -> DataFrame:
    """Corpus snapshot delta: per document id, whether the new snapshot
    ``added`` / ``removed`` / ``changed`` / kept it ``unchanged`` — the
    primitive an incremental curation pipeline runs between crawl
    snapshots to reprocess ONLY the delta (re-dedup, re-score, re-shard
    the changed slice) instead of the full corpus.

    Scale shape: both sides reduce to (id, 48-bit content fingerprint)
    at the scan — the full-outer join shuffles 16-byte rows, never text;
    AQE picks the strategy. Change detection is fingerprint equality
    (2^-48 collision odds per pair; re-verify texts on the 'changed' set
    downstream if bytes matter).
    """
    o = old.select(
        F.col(key_col).alias("id"),
        F.expr(T.hash48_sql("text", dialect="spark")).alias("old_fp"),
    )
    n = new.select(
        F.col(key_col).alias("id"),
        F.expr(T.hash48_sql("text", dialect="spark")).alias("new_fp"),
    )
    return (
        o.join(n, "id", "full_outer")
        .select(
            F.col("id").alias(key_col),
            F.when(F.col("old_fp").isNull(), "added")
            .when(F.col("new_fp").isNull(), "removed")
            .when(F.col("old_fp") != F.col("new_fp"), "changed")
            .otherwise("unchanged")
            .alias("status"),
            "old_fp",
            "new_fp",
        )
        .orderBy(key_col)
    )


def dup_shingle_profile(documents: DataFrame, n: int = 5) -> DataFrame:
    """Per-document duplicate-n-gram exposure (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better", §4's
    duplicate-text measurement): for every doc, how many of its n-gram
    positions carry a shingle that also occurs in at least one OTHER
    document, and the resulting duplicate fraction. This is the
    diagnostic that tells you how much near-duplicate text a dedup pass
    would remove BEFORE you run it.

    Pinned semantics: positions count WITH multiplicity (a doc repeating
    a cross-doc shingle 3 times has 3 duplicated positions); "duplicated"
    means corpus document-frequency ≥ 2 over DISTINCT docs; shingle
    identity is the 48-bit rolling word-md5 combination every dedup
    operator here shares (functions/text.py) — strings never
    materialize, exchanges carry 8-byte longs.

    Scale shape: in-row shingling from one scan; df table via
    groupBy(shingle) on the in-row-distinct (doc, s) rows (map-side
    combine, skew-safe — same argument as shingle_table); one join of
    the position stream against the df table on the long key; one
    doc-grain aggregate.
    """
    wh = documents.select(
        "doc_id",
        F.expr(
            T.word_hash_array_sql(T.words_sql("text", "spark"), "spark")
        ).alias("wh"),
    )
    pos = wh.select(
        "doc_id",
        F.explode(F.expr(T.shingle_hash_array_sql("wh", n))).alias("s"),
    )
    df_tbl = (
        wh.select(
            "doc_id",
            F.explode(
                F.array_distinct(F.expr(T.shingle_hash_array_sql("wh", n)))
            ).alias("s"),
        )
        .groupBy("s")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    per_doc = (
        pos.join(df_tbl, "s")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_shingles"),
            F.sum((F.col("df") >= 2).cast("bigint")).alias("n_dup"),
        )
    )
    return per_doc.select(
        "doc_id",
        "n_shingles",
        "n_dup",
        F.round(
            F.col("n_dup").cast("double") / F.col("n_shingles").cast("double"),
            6,
        ).alias("dup_frac"),
    ).orderBy("doc_id")


def dup_shingle_profile_oracle_sql(n: int = 5) -> str:
    """DuckDB twin over the same portable shingle hashes; the fraction
    divides two exact BIGINTs, so values hash bit-for-bit."""
    wh = T.word_hash_array_sql(T.words_sql("text", "duckdb"), "duckdb")
    sh = T.shingle_hash_array_sql("wh", n, "duckdb")
    return f"""
    WITH wh AS (SELECT doc_id, {wh} AS wh FROM documents),
    pos AS (SELECT doc_id, unnest({sh}) AS s FROM wh),
    dd AS (
        SELECT DISTINCT doc_id, s
        FROM (SELECT doc_id, unnest({sh}) AS s FROM wh)
    ),
    dft AS (SELECT s, CAST(count(*) AS BIGINT) AS df FROM dd GROUP BY 1)
    SELECT pos.doc_id,
           CAST(count(*) AS BIGINT) AS n_shingles,
           CAST(sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dup,
           round(CAST(sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
                 / CAST(count(*) AS DOUBLE), 6) AS dup_frac
    FROM pos JOIN dft ON pos.s = dft.s
    GROUP BY pos.doc_id
    ORDER BY pos.doc_id
    """


def shingle_containment_pairs(
    documents: DataFrame,
    n: int = 3,
    threshold: float = 0.8,
    max_doc_freq: int = 500,
) -> DataFrame:
    """All pairs with word-n-gram set CONTAINMENT ≥ threshold in either
    direction — Broder's asymmetric resemblance: C(A→B) = |sh(A) ∩
    sh(B)| / |sh(A)|. The quote-detection complement of the symmetric
    operators: a short document reproduced inside a much longer one
    scores containment ≈ 1 while Jaccard dilutes to |A|/|B| (below any
    useful threshold), and `substring_containment_pairs` only fires on
    EXACT byte-level inclusion — this catches lightly-edited inclusion.

    Emits (d1, d2, cont_ab, cont_ba) with d1 < d2, where cont_ab is the
    containment of d1's shingle set in d2 and cont_ba the reverse;
    either ≥ threshold qualifies the pair.

    Scale — PREFIX FILTERING (the PPJoin principle, Xiao et al. 2008),
    not the raw inverted-index join: order shingles globally by
    (df asc, hash asc); if C(A→B) ≥ t, at most (1−t)·|A| of A's
    shingles lie outside B, so A's first ⌊(1−t)·|A|⌋ + 1 shingles in
    that order — its RAREST ones — must intersect B (pigeonhole).
    Candidate pairs therefore come from joining only each doc's rarest
    prefix against the inverted index, and the exact intersection is
    then counted per CANDIDATE pair (pair-keyed joins), never for all
    df² co-occurrences. Measured: the raw join was α = 1.24 on the
    constant-vocab 10x decade (every df grows linearly → Σ df²
    quadratic — exactly the corpus shape boilerplate-heavy crawls
    have); the prefix filter joins only low-df shingles, and the
    df-cap stays as the loud backstop. The filter's power is 1 − t of
    each doc (pigeonhole is tight): at the quote-detection default
    t = 0.8 the prefix is the rarest 20%; driving t toward 0.5
    degenerates toward the full inverted-index join — inherent to
    EXACT set-similarity joins (loose thresholds admit nearly everything),
    so for exploratory low-t sweeps use dup_shingle_profile /
    minhash-LSH instead.

    The prefix bound is computed in EXACT integer arithmetic:
    qualifying pairs satisfy inter ≥ t·|A|, hence inter ≥ ⌈t·|A|⌉
    (integers), so at most |A| − ⌈t·|A|⌉ shingles fall outside B and a
    prefix of |A| − ⌈t·|A|⌉ + 1 must intersect B. The naive float form
    ⌊(1−t)·|A|⌋+1 is one short whenever (1−t)·|A| is an exact integer
    (1.0−0.8 = 0.19999…, so any |A| divisible by 5 at t=0.8 — i.e.
    exactly the exact-threshold quote-inclusion case); the product is
    rounded to 9 dp before ⌈⌉ so sub-nano float drift can only ever
    widen the prefix, never shrink it. The qualifying filter compares
    UNROUNDED containment (both here and in the oracle) so the
    pigeonhole premise is the same predicate the output filter applies;
    the emitted cont_ab/cont_ba columns stay rounded to 4 dp for
    display/hash stability.

    The shingle table is persisted (4 plan references: sizes, df, the
    inverted index, the pair-keyed intersection). Cache lifecycle is
    caller-owned per the repo contract — bench/driver clear caches per
    query; long-lived sessions calling this repeatedly should
    spark.catalog.clearCache() between corpora.
    """
    sh = shingle_table(documents, n, max_doc_freq).persist()
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    dft = sh.groupBy("s").agg(F.count(F.lit(1)).alias("df"))
    ranked = (
        sh.join(dft, "s")
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("doc_id").orderBy("df", "s")
            ),
        )
        .join(sizes, "doc_id")
    )
    prefix = ranked.filter(
        F.col("rn")
        <= F.col("n_sh")
        - F.ceil(F.round(F.lit(float(threshold)) * F.col("n_sh"), 9))
        + 1
    ).select("doc_id", "s")
    cand = (
        prefix.select(F.col("doc_id").alias("da"), "s")
        .join(sh.select(F.col("doc_id").alias("db"), "s"), "s")
        .filter(F.col("da") != F.col("db"))
        .select(
            F.least("da", "db").alias("d1"),
            F.greatest("da", "db").alias("d2"),
        )
        .distinct()
    )
    inter = (
        cand.join(sh.select(F.col("doc_id").alias("d1"), "s"), "d1")
        .join(sh.select(F.col("doc_id").alias("d2"), "s"), ["d2", "s"])
        .groupBy("d1", "d2")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    s1 = sizes.select(F.col("doc_id").alias("d1"), F.col("n_sh").alias("n1"))
    s2 = sizes.select(F.col("doc_id").alias("d2"), F.col("n_sh").alias("n2"))
    return (
        inter.join(s1, "d1")
        .join(s2, "d2")
        .filter(
            (F.col("inter") / F.col("n1") >= threshold)
            | (F.col("inter") / F.col("n2") >= threshold)
        )
        .withColumn("cont_ab", F.round(F.col("inter") / F.col("n1"), 4))
        .withColumn("cont_ba", F.round(F.col("inter") / F.col("n2"), 4))
        .select("d1", "d2", "cont_ab", "cont_ba")
    )


def shingle_containment_oracle_sql(
    n: int = 3, threshold: float = 0.8, max_doc_freq: int = 500
) -> str:
    """DuckDB twin over the same portable 48-bit shingle hashes, with
    the same df-cap; containment divides exact BIGINTs. The qualifying
    filter compares UNROUNDED containment (same IEEE-double division
    as the Spark side, so the predicate is bit-identical); the emitted
    columns are rounded 4 dp like the Spark side."""
    wh = T.word_hash_array_sql(T.words_sql("text", "duckdb"), "duckdb")
    sh = T.shingle_hash_array_sql("wh", n, "duckdb")
    return f"""
    WITH wh AS (SELECT doc_id, {wh} AS wh FROM documents),
    sh_all AS (
        SELECT DISTINCT doc_id, unnest({sh}) AS s FROM wh
    ),
    sh AS (
        SELECT doc_id, s FROM (
            SELECT doc_id, s, count(*) OVER (PARTITION BY s) AS _df
            FROM sh_all
        ) WHERE _df <= {max_doc_freq}
    ),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS inter
        FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT d1, d2,
           round(inter * 1.0 / s1.n_sh, 4) AS cont_ab,
           round(inter * 1.0 / s2.n_sh, 4) AS cont_ba
    FROM inter
    JOIN sizes s1 ON d1 = s1.doc_id
    JOIN sizes s2 ON d2 = s2.doc_id
    WHERE inter * 1.0 / s1.n_sh >= {threshold}
       OR inter * 1.0 / s2.n_sh >= {threshold}
    ORDER BY d1, d2
    """


def novelty_scores(
    documents: DataFrame, n: int = 5, max_doc_freq: int = 500
) -> DataFrame:
    """Per-document shingle NOVELTY under ingestion order: the fraction
    of a doc's distinct n-gram shingles whose FIRST occurrence (minimum
    doc_id) is this document — the contribution score a dedup-aware
    sampler ranks by (a page that only repeats earlier shingles adds
    nothing to a training mix; the complement of dup_shingle_profile's
    "how duplicated am I" is "what do I add"). First-arrival semantics
    match the dedup keep rule (min doc_id wins), so novelty ≈ the mass
    an exact shingle-grain dedup would retain from each doc.

    Output: (doc_id, n_shingles, n_novel, novelty) over distinct
    shingles; exact BIGINT counts, fraction rounded 6 dp.

    Scale: the shared ``shingle_table`` scan + first-arrival via
    min(doc_id) OVER (PARTITION BY shingle) — the analytic lands the
    first-arrival doc on every (shingle, doc) row in ONE
    shingle-keyed exchange, so there is no min-aggregate + probe join
    and no persist (the char_window_dup_profile plan lesson, measured
    here too: 3.6 → 3.1 s at sf0.1, 7.7 → 5.6 s at 50k docs vs the
    r9 groupBy+join plan); shuffles carry (shingle, doc) longs only.
    """
    sh = shingle_table(documents, n, max_doc_freq)
    first = F.min("doc_id").over(Window.partitionBy("s"))
    return (
        sh.withColumn("first_doc", first)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_shingles"),
            F.sum(
                F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_novel"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_novel",
            F.round(
                F.col("n_novel").cast("double")
                / F.col("n_shingles").cast("double"),
                6,
            ).alias("novelty"),
        )
        .orderBy("doc_id")
    )


def novelty_scores_oracle_sql(n: int = 5, max_doc_freq: int = 500) -> str:
    """DuckDB twin over the same portable shingle hashes + df-cap;
    exact BIGINT counts divide in double, 6-dp round."""
    wh = T.word_hash_array_sql(T.words_sql("text", "duckdb"), "duckdb")
    sh = T.shingle_hash_array_sql("wh", n, "duckdb")
    return f"""
    WITH wh AS (SELECT doc_id, {wh} AS wh FROM documents),
    sh_all AS (
        SELECT DISTINCT doc_id, unnest({sh}) AS s FROM wh
    ),
    sh AS (
        SELECT doc_id, s FROM (
            SELECT doc_id, s, count(*) OVER (PARTITION BY s) AS _df
            FROM sh_all
        ) WHERE _df <= {max_doc_freq}
    ),
    first AS (SELECT s, min(doc_id) AS first_doc FROM sh GROUP BY 1)
    SELECT sh.doc_id,
           CAST(count(*) AS BIGINT) AS n_shingles,
           CAST(sum(CASE WHEN first_doc = sh.doc_id THEN 1 ELSE 0 END)
                AS BIGINT) AS n_novel,
           round(CAST(sum(CASE WHEN first_doc = sh.doc_id THEN 1 ELSE 0
                          END) AS DOUBLE)
                 / CAST(count(*) AS DOUBLE), 6) AS novelty
    FROM sh JOIN first ON sh.s = first.s
    GROUP BY sh.doc_id
    ORDER BY sh.doc_id
    """


def lsh_quality_report(
    documents: DataFrame,
    n: int = 3,
    threshold: float = 0.8,
    bands: int | None = None,
    max_bucket: int = 2000,
) -> DataFrame:
    """Per-band AUDIT of the MinHash-LSH configuration — the
    measure-don't-guess companion to ``minhash_lsh_pairs``: for every
    band, how many buckets actually blocked (size ≥ 2, ≤ cap), how many
    candidate pairs the band generated, how many survive the TRUE
    n-gram-Jaccard ≥ threshold verify, and the band's candidate
    precision. A band whose precision collapses is wasting verify work
    (too few rows per band for the threshold); uniformly-high precision
    with low candidate counts says bands can be widened. The s-curve
    math says P(band match) = J^rows — this measures it on YOUR corpus.

    Output: (band, n_buckets, n_candidates, n_true, precision) — 4 rows
    under the default 16-perm/4-band config; exact BIGINT counts.

    Scale: identical subtrees to minhash_lsh_pairs (ONE persisted
    doc-set frame, in-row signatures, (band,bkey) grouping with the
    mega-bucket cap, verify joins ∝ candidates); the only addition is
    keeping the band id on candidate pairs, so the audit costs what the
    dedup pass costs.
    """
    bands = bands or T.MINHASH_BANDS
    rows = len(T.MINHASH_PERMS) // bands
    doc_sets = (
        shingle_table(documents, n, max_doc_freq=0)
        .groupBy("doc_id")
        .agg(F.collect_set("s").alias("ss"))
        # cache: caller-owned (repo contract — bench/driver clear per query)
        .persist()  # 4 consumers: hot, signatures, both verify sides
    )
    hot = (
        doc_sets.select(F.explode("ss").alias("s"))
        .groupBy("s")
        .agg(F.count(F.lit(1)).alias("_df"))
        .filter(F.col("_df") > 500)
        .agg(F.collect_list("s").alias("_hot"))
    )

    def _perm(a: int, b: int):
        return lambda x: (F.lit(a) * x + F.lit(b)) % F.lit(T.MINHASH_PRIME)

    sig = (
        doc_sets.crossJoin(F.broadcast(hot))
        .withColumn(
            "ssf",
            F.array_except(
                "ss", F.coalesce(F.col("_hot"), F.array().cast("array<bigint>"))
            ),
        )
        .filter(F.size("ssf") > 0)
        .select(
            "doc_id",
            *[
                F.array_min(F.transform(F.col("ssf"), _perm(a, b))).alias(f"mh_{j}")
                for j, (a, b) in enumerate(T.MINHASH_PERMS)
            ],
        )
    )
    keys = F.array(
        *[
            F.concat_ws("_", *[F.col(f"mh_{bi * rows + r}") for r in range(rows)])
            for bi in range(bands)
        ]
    )
    banded = sig.select("doc_id", F.posexplode(keys).alias("band", "bkey"))
    groups = (
        banded.groupBy("band", "bkey")
        .agg(F.array_sort(F.collect_list("doc_id")).alias("ids"))
        .filter(F.size("ids").between(2, max_bucket))
    )
    combos = F.expr(
        "flatten(transform(ids, (x, i) -> "
        "transform(slice(ids, i+2, size(ids)-i-1), y -> struct(x AS d1, y AS d2))))"
    )
    # keep the band id: a pair found by two bands counts in BOTH (the
    # audit measures per-band yield, not deduped work)
    cand = groups.select(
        "band", F.explode(combos).alias("p")
    ).select("band", "p.d1", "p.d2")
    bucket_counts = groups.groupBy("band").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_buckets")
    )
    s1 = doc_sets.select(F.col("doc_id").alias("d1"), F.col("ss").alias("ss1"))
    s2 = doc_sets.select(F.col("doc_id").alias("d2"), F.col("ss").alias("ss2"))
    inter = F.size(F.array_intersect("ss1", "ss2")).cast("double")
    union = (
        F.size("ss1").cast("double") + F.size("ss2").cast("double")
        - F.size(F.array_intersect("ss1", "ss2")).cast("double")
    )
    verified = (
        cand.join(s1, "d1")
        .join(s2, "d2")
        .select(
            "band",
            (F.round(inter / union, 4) >= F.lit(threshold)).alias("is_true"),
        )
    )
    per_band = verified.groupBy("band").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_candidates"),
        F.sum(F.when(F.col("is_true"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_true"),
    )
    return (
        bucket_counts.join(per_band, "band", "left")
        .select(
            F.col("band").cast("int").alias("band"),
            "n_buckets",
            F.coalesce("n_candidates", F.lit(0)).cast("bigint").alias(
                "n_candidates"
            ),
            F.coalesce("n_true", F.lit(0)).cast("bigint").alias("n_true"),
            F.round(
                F.coalesce("n_true", F.lit(0)).cast("double")
                / F.coalesce("n_candidates", F.lit(1)).cast("double"),
                6,
            ).alias("precision"),
        )
        .orderBy("band")
    )


def char_window_dup_profile(
    documents: DataFrame, window: int = 40, hash_keys: bool = False
) -> DataFrame:
    """EXACT character-grain substring duplication profile — the
    char-grain complement of the word-grain shingle family
    (dup_shingle_profile / shingle_containment_pairs). Lee et al. 2022
    ("Deduplicating Training Data Makes Language Models Better")
    showed char-grain EXACT substring dedup removes near-verbatim
    boilerplate that word-shingle Jaccard misses (markup runs, number
    tables, whitespace-variant paste-ups). Their tool is a suffix
    array; the distributed equivalent is stride-1 fixed-length
    windows: two documents share a ``window``-char substring IFF they
    share a length-``window`` window, so window equality is EXACT
    substring detection at that grain, not an approximation.

    Per doc over its DISTINCT windows: (doc_id, n_windows,
    n_dup_windows, max_window_df, dup_ratio) where n_dup_windows
    counts windows appearing in ≥2 docs (window doc-frequency from the
    whole corpus), dup_ratio = n_dup_windows / n_windows (6 dp, NULL
    for docs shorter than ``window``).

    Scale: one in-row transform+array_distinct expansion (≤ doc_len
    rows per doc, no join to build), then exactly TWO exchanges: the
    doc-frequency is a count() OVER (PARTITION BY w) analytic — the
    df lands on every (doc, window) row in the same pass, so there is
    NO probe join back and no persist (measured vs the
    novelty_scores-style groupBy+join plan: 6.8 → 3.5 s at sf0.1,
    23.7 → 6.5 s at 50k docs, alpha 0.58 → 0.27 — the join plan
    shuffles the long frame three times, this shuffles it once plus
    the doc-grain rollup). Keys are the raw 40-char windows by default;
    ``hash_keys=True`` swaps the shuffle key for xxhash64(window) —
    8-byte longs instead of 40-char strings through the one analytic
    exchange, in-row transform unchanged. A/B-MEASURED r12 (one-off
    A/B, min of 2 warm reps; the query's bench rows are in the
    PERF_r13.json / PERF_r14.json ledgers): hashed/raw = 0.889 at
    5k docs (3.30→2.93 s), 0.851 at 50k (6.67→5.68 s), 0.788 at 500k
    (31.5→24.8 s) — the win GROWS with scale because the exchange is
    byte-volume-bound. The registered form keeps RAW keys anyway: the
    operator's contract is Lee-et-al EXACT substring detection, and at
    the corpus size where the 21% matters (~10^12 windows at 100 TB)
    the 64-bit birthday bound expects ~10^4 colliding window pairs —
    silently inflated df counts exactly where exactness is the selling
    point. hash_keys is the documented opt-in for approximate-df
    profiling runs, not the default.
    """
    arr = F.when(
        F.length("text") >= window,
        F.array_distinct(
            F.expr(
                f"transform(sequence(1, length(text) - {window} + 1), "
                f"i -> substring(text, i, {window}))"
            )
        ),
    ).otherwise(F.expr("array()"))
    wins = documents.select("doc_id", F.explode(arr).alias("w"))
    if hash_keys:
        wins = wins.select("doc_id", F.xxhash64("w").alias("w"))
    return _window_profile(wins, documents.select("doc_id"))


def _window_profile(wins: DataFrame, doc_spine: DataFrame) -> DataFrame:
    """Doc-grain duplication profile from a (doc_id, w) distinct-window
    frame: window doc-frequency as ONE count() OVER (PARTITION BY w)
    analytic (the df lands on every row in the same exchange — no
    probe join back), one doc rollup, left join onto the spine so
    windowless docs keep their zero row. Shared by the batch profile
    and the incremental-registry read so the two cannot drift."""
    prof = wins.withColumn(
        "wdf", F.count(F.lit(1)).over(Window.partitionBy("w"))
    )
    per_doc = (
        prof
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_windows"),
            F.sum(F.when(F.col("wdf") >= 2, 1).otherwise(0))
            .cast("bigint")
            .alias("n_dup_windows"),
            F.max("wdf").cast("int").alias("max_window_df"),
        )
    )
    return (
        doc_spine
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_windows", F.lit(0)).cast("bigint").alias(
                "n_windows"
            ),
            F.coalesce("n_dup_windows", F.lit(0)).cast("bigint").alias(
                "n_dup_windows"
            ),
            "max_window_df",
            F.when(
                F.col("n_windows") > 0,
                F.round(
                    F.col("n_dup_windows").cast("double")
                    / F.col("n_windows").cast("double"),
                    6,
                ),
            ).alias("dup_ratio"),
        )
        .orderBy("doc_id")
    )


def char_window_hash_table(
    documents: DataFrame, window: int = 40
) -> DataFrame:
    """(doc_id, h) distinct 48-bit window hashes — the posting unit of
    the INCREMENTAL char-grain dedup registry. Keys are the portable
    md5-based hash48 (both engines compute it, unlike xxhash64), so a
    registry read hash-matches a DuckDB twin exactly even through
    collisions; 8-byte rows on disk instead of 40-char strings (the
    measured 21%-at-500k shuffle lever, here applied to STORAGE —
    a raw-key registry would be ~5x the corpus's own bytes at
    window=40). The two-level transform keeps ONE md5 per window
    (lambda CSE limits — the r1 shingle-hash lesson; hash48_sql inlined
    in a lambda would run 12 md5s per window). 48-bit birthday honesty:
    at per-registry ~2^24 windows collisions appear — same caveat class
    as merkle_corpus_tree; the REGISTERED batch profile keeps raw keys.
    """
    # conv() over the first 12 md5 hex digits: the same 48-bit value as
    # the shared hex fold in ONE codegen'd call per window (hash48_sql
    # dialect="spark" rationale; the DuckDB oracle keeps the fold)
    arr = F.when(
        F.length("text") >= window,
        F.array_distinct(
            F.expr(
                f"transform(sequence(1, length(text) - {window} + 1),"
                f" i -> CAST(conv(substring(md5(substring(text, i,"
                f" {window})), 1, 12), 16, 10) AS BIGINT))"
            )
        ),
    ).otherwise(F.expr("array()").cast("array<bigint>"))
    return documents.select("doc_id", F.explode(arr).alias("w"))


def char_window_incremental_profile(
    base_docs: DataFrame,
    delta_docs: DataFrame,
    table_dir: str,
    window: int = 40,
    assume_disjoint: bool = True,
) -> DataFrame:
    """Char-grain duplication profile over an INCREMENTALLY-maintained
    window registry — the lsh_incremental discipline at char grain:
    the base corpus's (doc, window-hash) postings are committed v0,
    each ingest appends ONLY the delta docs' postings (v1,
    merge-on-read), and the profile runs on the merged read. The base
    corpus is never re-windowed.

    The load-bearing contrast with the LSH registry: window
    doc-frequency is CORPUS-DEPENDENT, so it is NOT stored — the df
    analytic recomputes over the merged read every time (the bm25
    derive-stats-from-postings discipline; a stored df would be stale
    the moment a delta lands). What IS slicing-independent — the
    per-doc distinct window-hash set — is exactly what the registry
    persists. Hash-matching the from-scratch batch profile on the
    union corpus proves the split is right.

    Scale: ingest cost O(|delta| windows); the read is the same
    one-analytic-exchange plan as the batch profile, now over 8-byte
    posting rows it did not have to recompute.

    Precondition (``assume_disjoint=True``, the default — the
    bm25_incremental_index append-only-new-docs scope, r12-advice fix:
    now stated rather than silent): base and delta doc_ids must be
    DISJOINT, or the duplicated doc holds its postings twice (every
    repeated window's df inflates) and the union spine duplicates its
    output row. An UPDATE is delete + append, not a second append.
    Pass ``assume_disjoint=False`` for overlap-tolerant reads: the
    merged read dedupes on (doc_id, w) and the spine on doc_id (one
    extra exchange each), making re-ingest of an unchanged doc
    idempotent; a doc_id re-ingested with DIFFERENT text is undefined
    under both modes (the registry's key contract).
    """
    from . import txlog as TX

    spark = base_docs.sparkSession
    TX.commit(
        table_dir, char_window_hash_table(base_docs, window),
        mode="overwrite",
    )
    TX.commit(
        table_dir, char_window_hash_table(delta_docs, window),
        mode="append",
    )
    wins = TX.read_snapshot(spark, table_dir)
    spine = base_docs.select("doc_id").unionByName(
        delta_docs.select("doc_id")
    )
    if not assume_disjoint:
        wins = wins.distinct()
        spine = spine.distinct()
    return _window_profile(wins, spine)


def char_window_hash_oracle_sql(window: int = 40) -> str:
    """DuckDB twin of the hashed-key profile on the union corpus: same
    ONE-md5-per-window digit fold (subquery binding instead of the
    lambda), same distinct-within-doc, df >= 2, 6-dp ratio."""
    hexsum = "+".join(
        f"(instr('0123456789abcdef', substr(y,{j},1))-1)*CAST({w} AS BIGINT)"
        for j, w in T._HEX_WEIGHTS
    )
    return f"""
    WITH w AS (
        SELECT DISTINCT doc_id, {hexsum} AS w
        FROM (
            SELECT doc_id,
                   md5(substr(text, CAST(i AS INT), {window})) AS y
            FROM documents, LATERAL (
                SELECT unnest(generate_series(
                    1, greatest(length(text) - {window} + 1, 0))) AS i)
        )
    ),
    df AS (SELECT w, count(*) AS wdf FROM w GROUP BY 1),
    per AS (
        SELECT doc_id,
               CAST(count(*) AS BIGINT) AS n_windows,
               CAST(sum(CASE WHEN wdf >= 2 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_dup_windows,
               CAST(max(wdf) AS INT) AS max_window_df
        FROM w JOIN df USING (w) GROUP BY 1
    )
    SELECT d.doc_id,
           coalesce(n_windows, 0) AS n_windows,
           coalesce(n_dup_windows, 0) AS n_dup_windows,
           max_window_df,
           CASE WHEN n_windows > 0
                THEN round(CAST(n_dup_windows AS DOUBLE)
                           / CAST(n_windows AS DOUBLE), 6)
           END AS dup_ratio
    FROM documents d LEFT JOIN per USING (doc_id)
    ORDER BY d.doc_id
    """


def char_window_dup_oracle_sql(window: int = 40) -> str:
    """DuckDB twin: LATERAL generate_series window expansion (empty
    for docs shorter than ``window``), same distinct-within-doc,
    df ≥ 2 and 6-dp ratio."""
    return f"""
    WITH w AS (
        SELECT DISTINCT doc_id, substr(text, CAST(i AS INT), {window}) AS w
        FROM documents, LATERAL (
            SELECT unnest(generate_series(
                1, greatest(length(text) - {window} + 1, 0))) AS i)
    ),
    df AS (SELECT w, count(*) AS wdf FROM w GROUP BY 1),
    per AS (
        SELECT doc_id,
               CAST(count(*) AS BIGINT) AS n_windows,
               CAST(sum(CASE WHEN wdf >= 2 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_dup_windows,
               CAST(max(wdf) AS INT) AS max_window_df
        FROM w JOIN df USING (w) GROUP BY 1
    )
    SELECT d.doc_id,
           coalesce(n_windows, 0) AS n_windows,
           coalesce(n_dup_windows, 0) AS n_dup_windows,
           max_window_df,
           CASE WHEN n_windows > 0
                THEN round(CAST(n_dup_windows AS DOUBLE)
                           / CAST(n_windows AS DOUBLE), 6)
           END AS dup_ratio
    FROM documents d LEFT JOIN per USING (doc_id)
    ORDER BY d.doc_id
    """


def sample_threshold(sample_fraction: float) -> int:
    """Per-10000 keyed-hash sample threshold, shared by the sweep
    operator and its DuckDB oracle so the predicate can never drift.
    round(), not int(): truncation under-samples any fraction whose
    ·10000 is not exactly representable (0.3 -> 2999, one bucket off).
    """
    if not 0 < sample_fraction <= 1:
        raise ValueError("sample_fraction must be in (0, 1]")
    return round(sample_fraction * 10000)


ADAPTIVE_SWEEP_TARGET = 450
"""Reference corpus size for the N-adaptive sweep sample: p =
min(1, sqrt(target/N)) holds the expected within-sample pair count at
the level of a ``target``-doc exact sweep regardless of corpus size
(within-sample Σdf'² ≈ p²·Σdf², and p² = target/N cancels one factor
of N from any super-linear pair exponent). 450 makes the sf0.1 bench
point (5 000 docs) land at exactly the r11-registered 0.3 fraction —
threshold 3000 — so round-over-round bench comparison stays clean."""


def adaptive_sweep_threshold_sql(
    count_expr: str, target_docs: int = ADAPTIVE_SWEEP_TARGET
) -> str:
    """Per-10000 N-ADAPTIVE sample threshold as a SQL fragment shared
    verbatim by the Spark operator and the DuckDB oracle (the
    sample_threshold() discipline, lifted in-plan so a STATIC oracle
    string can mirror a corpus-size-dependent fraction): thresh =
    least(10000, round(1e4·sqrt(target/N))). Every step is an IEEE
    correctly-rounded double op on identical inputs (N is the same
    count of the same table on both engines), and round-half-away-
    from-zero agrees between Spark's round() and DuckDB's round(), so
    both engines derive the identical integer without any value ever
    crossing engines. round(), not floor(): sqrt(0.09)·1e4 sits one
    ulp around 3000.0 and floor would make the threshold hostage to
    that ulp's direction (deterministic but needlessly ugly — the r10
    int()-truncation advice, one level up)."""
    # CAST(... AS DOUBLE) explicitly: a bare `450.0` literal is DECIMAL
    # on both engines and decimal-division scale rules differ — the
    # whole derivation must stay in IEEE doubles end to end.
    return (
        f"least(CAST(10000 AS BIGINT), CAST(round("
        f"1e4 * sqrt(CAST({target_docs} AS DOUBLE) / ({count_expr})), 0)"
        f" AS BIGINT))"
    )


def jaccard_threshold_sweep(
    documents: DataFrame,
    n: int = 3,
    max_doc_freq: int = 500,
    sample_fraction: float | None = None,
    adaptive_target: int | None = None,
    salt: str = "sweep-v1",
) -> DataFrame:
    """Similarity HISTOGRAM over every co-shingle document pair — the
    dedup-threshold picking audit: before running a dedup pass at
    threshold τ you look at the pair-similarity distribution (a clean
    corpus is bimodal: a mass of incidental-overlap pairs near 0 and a
    near-dup spike near 1; τ goes in the valley). Pairs are exactly
    ``ngram_jaccard_pairs`` at threshold 0 (every pair sharing ≥ 1
    capped shingle), bucketed into 10 Jaccard deciles.

    Output: (band_lo, n_pairs, cum_pairs_ge) — cum_pairs_ge counts
    pairs at-or-above the band, i.e. the SIZE of the dedup workload a
    threshold in that band would produce; jaccard = 1.0 lands in the
    top band (floor clamped to 9).

    Scale: the pair frame is the documented inverted-index join (df
    cap bounds per-key fan-out); the histogram collapses it to 10 rows
    before anything leaves the executors, and the cumulative sum is a
    10-row window — the sweep costs ONE decile aggregate more than
    computing the pairs at all. BUT an exact ALL-pairs sweep is
    inherently Σ df² in the shingle frequency distribution — measured
    on the 10× synthetic corpus (whose repeated 3-grams push df past
    every cap tier): 1.13 M pairs / 4.7 s at 5k docs → 112.7 M pairs /
    80 s at 50k docs at cap 500 (α ≈ 1.24, super-linear BY
    CONSTRUCTION), with the cap acting as a cliff (cap 50 → 8 k pairs /
    5.4 s), not a dial. At 100 TB do NOT raise the cap or sweep the
    full corpus: sweep a deterministic md5 doc SAMPLE (compose with
    operators.sampling — whole-doc sampling keeps the pair-similarity
    distribution unbiased and cuts pair cost by p²); the full-corpus
    exact sweep is a small-corpus / per-shard diagnostic — OR pass
    ``sample_fraction``: a deterministic keyed-hash WHOLE-DOC sample
    (the train_test_split md5 discipline, portable to the oracle), so
    the swept pair space is the p² within-sample pairs and the
    histogram SHAPE stays unbiased (pair sampling would bias toward
    high-df docs; doc sampling does not). Measured at the 10× corpus:
    cap-500 exact 80.5 s → fraction 0.1 ≈ first-decade cost.

    Measured third decade (r11, fraction 0.3 on the 100× corpus):
    α_100x = 1.6 — a FIXED sample fraction inherits the exact sweep's
    super-linear exponent; p² is a constant factor, not an exponent
    fix. The scale-safe default (r12, implemented as
    ``adaptive_target``): shrink the fraction with corpus size,
    p = min(1, sqrt(target/N)) — the within-sample pair count stays at
    the level of a ``target``-doc exact sweep at ANY corpus size
    (p²·Σdf² cancels one factor of N), so the sweep's asymptote is the
    linear corpus count + the sqrt(target·N)-doc shingle pass, and the
    histogram SHAPE stays unbiased at any p (whole-doc sampling). N is
    derived IN-PLAN (a parquet-footer-cheap count broadcast as a 1-row
    frame), and the threshold arithmetic is the shared
    :func:`adaptive_sweep_threshold_sql` fragment, so the static
    DuckDB oracle derives the identical integer from its own count of
    the same table. Measured third decade (r12, target 450 ⇒ p
    0.95/0.3/0.095/0.03 across the four decades): see ROADMAP — the
    exponent drops from 1.6 to the linear floor.
    """
    if sample_fraction is not None and adaptive_target is not None:
        raise ValueError(
            "pass sample_fraction (fixed) or adaptive_target (N-adaptive),"
            " not both"
        )
    h = T.hash48_sql(f"concat('{salt}:', cast(doc_id as string))")
    if adaptive_target is not None:
        nd = documents.agg(F.count(F.lit(1)).alias("_nd"))
        thr = F.expr(adaptive_sweep_threshold_sql("_nd", adaptive_target))
        documents = (
            documents.crossJoin(F.broadcast(nd))
            .filter(F.expr(f"({h}) % 10000") < thr)
            .drop("_nd")
        )
    elif sample_fraction is not None:
        thresh = sample_threshold(sample_fraction)
        documents = documents.filter(F.expr(f"({h}) % 10000 < {thresh}"))
    pairs = ngram_jaccard_pairs(
        documents, n=n, threshold=0.0, max_doc_freq=max_doc_freq
    )
    band = F.least(
        F.floor(F.col("jaccard") * 10).cast("int"), F.lit(9)
    ).alias("band")
    hist = pairs.select(band).groupBy("band").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs")
    )
    w = (
        Window.orderBy(F.desc("band"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        hist.withColumn(
            "cum_pairs_ge", F.sum("n_pairs").over(w).cast("bigint")
        )
        .select(
            F.round(F.col("band") / 10.0, 1).alias("band_lo"),
            "n_pairs",
            "cum_pairs_ge",
        )
        .orderBy("band_lo")
    )


# ---------------------------------------------------------------------------
# Shared-affix (prefix/suffix) profile at char grain — r12 queue rehearsal
# ---------------------------------------------------------------------------

AFFIX_LADDER = (4, 8, 16, 32, 64)


def shared_affix_profile(
    documents: DataFrame, ladder: tuple[int, ...] = AFFIX_LADDER
) -> DataFrame:
    """Longest shared PREFIX and SUFFIX per document, at power-of-two
    char grain — the complement of the fixed-length interior-window
    signal (:func:`char_window_dup_profile`): boilerplate headers and
    footers (licence blocks, nav chrome, sig lines) concentrate at
    document EDGES, where a stride-1 interior window pays for positions
    that never matter. For each rung L in ``ladder`` a document "shares
    its L-prefix" when ≥ 1 other document has the identical first L
    chars (docs shorter than L cannot share an L-affix by definition);
    the profile reports the LONGEST sharing rung and the sharer count
    at that rung, per side.

    Output (doc-grain): (doc_id, max_prefix_len, n_prefix_sharers,
    max_suffix_len, n_suffix_sharers) — max_*_len is 0 when no rung
    shares; lengths are exact w.r.t. the ladder (a 23-char true common
    prefix reports rung 16 — the honest cap that keeps the operator a
    hash aggregate instead of a suffix-array build; the stride-1
    operator covers interior exactness).

    Scale: explode to (doc, side, rung) grain — 2·|ladder| rows per doc
    with SHORT keys (≤ 64 chars, never the full text) — then ONE
    exchange on the affix key for the sharer count (window analytic,
    the char_window discipline) and one doc-grain rollup: two shuffles
    total, both on bounded-width keys, vs |ladder| separate
    full-frame window passes for the naive per-rung plan. The
    lexicographic-neighbor sort (the suffix-array route to EXACT
    max-LCP) is the escalation path when rung resolution isn't enough.
    """
    rungs = ",".join(str(x) for x in ladder)
    affixes = documents.select(
        "doc_id",
        F.explode(
            F.expr(
                f"""flatten(transform(array({rungs}), L -> array(
                    struct('p' AS side, L AS rung,
                           CASE WHEN length(text) >= L
                                THEN substring(text, 1, L) END AS k),
                    struct('s' AS side, L AS rung,
                           CASE WHEN length(text) >= L
                                THEN substring(reverse(text), 1, L) END
                               AS k))))"""
            )
        ).alias("a"),
    ).select("doc_id", "a.side", "a.rung", "a.k")
    counted = affixes.withColumn(
        "sharers",
        F.when(
            F.col("k").isNotNull(),
            F.count(F.lit(1)).over(Window.partitionBy("side", "rung", "k"))
            - F.lit(1),
        ).otherwise(F.lit(0)),
    )
    best = (
        counted.groupBy("doc_id")
        .pivot("side", ["p", "s"])
        .agg(
            F.max(
                F.when(F.col("sharers") > 0, F.col("rung")).otherwise(0)
            ).alias("len"),
            F.max_by(
                F.col("sharers"),
                F.when(F.col("sharers") > 0, F.col("rung")).otherwise(0),
            ).alias("n"),
        )
    )
    return (
        documents.select("doc_id")
        .join(best, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("p_len", F.lit(0)).cast("int").alias("max_prefix_len"),
            F.when(F.col("p_len") > 0, F.col("p_n"))
            .otherwise(0)
            .cast("bigint")
            .alias("n_prefix_sharers"),
            F.coalesce("s_len", F.lit(0)).cast("int").alias("max_suffix_len"),
            F.when(F.col("s_len") > 0, F.col("s_n"))
            .otherwise(0)
            .cast("bigint")
            .alias("n_suffix_sharers"),
        )
        .orderBy("doc_id")
    )


def shared_affix_oracle_sql(ladder: tuple[int, ...] = AFFIX_LADDER) -> str:
    """DuckDB twin: same rung explode, same per-affix sharer count,
    same longest-sharing-rung rollup (arg_max over the rung ranking)."""
    rungs = ", ".join(str(x) for x in ladder)
    return f"""
    WITH rungs AS (SELECT unnest([{rungs}]) AS rung),
    affixes AS (
        SELECT d.doc_id, s.side, r.rung,
               CASE WHEN length(d.text) >= r.rung THEN
                   CASE WHEN s.side = 'p'
                        THEN substr(d.text, 1, r.rung)
                        ELSE substr(reverse(d.text), 1, r.rung) END
               END AS k
        FROM documents d
        CROSS JOIN rungs r
        CROSS JOIN (SELECT unnest(['p', 's']) AS side) s
    ),
    counted AS (
        SELECT doc_id, side, rung,
               CASE WHEN k IS NOT NULL THEN
                   count(*) OVER (PARTITION BY side, rung, k) - 1
               ELSE 0 END AS sharers
        FROM affixes
    ),
    best AS (
        SELECT doc_id, side,
               max(CASE WHEN sharers > 0 THEN rung ELSE 0 END) AS len,
               arg_max(sharers,
                       CASE WHEN sharers > 0 THEN rung ELSE 0 END) AS n
        FROM counted GROUP BY 1, 2
    )
    SELECT d.doc_id,
           CAST(coalesce(p.len, 0) AS INT) AS max_prefix_len,
           CAST(CASE WHEN p.len > 0 THEN p.n ELSE 0 END AS BIGINT)
               AS n_prefix_sharers,
           CAST(coalesce(s.len, 0) AS INT) AS max_suffix_len,
           CAST(CASE WHEN s.len > 0 THEN s.n ELSE 0 END AS BIGINT)
               AS n_suffix_sharers
    FROM documents d
    LEFT JOIN (SELECT * FROM best WHERE side = 'p') p ON d.doc_id = p.doc_id
    LEFT JOIN (SELECT * FROM best WHERE side = 's') s ON d.doc_id = s.doc_id
    ORDER BY d.doc_id
    """


def lcp_neighbor_profile(
    documents: DataFrame,
    cap: int = 64,
    mode: str = "first_char",
    num_partitions: int | None = None,
) -> DataFrame:
    """EXACT longest-common-prefix with ANY other document, capped at
    ``cap`` chars — the suffix-array escalation path the rung ladder
    (:func:`shared_affix_profile`) names: where the ladder reports
    power-of-two resolution, this reports the exact char count, via the
    classic sorted-order property that the maximum LCP over a corpus is
    attained at a LEXICOGRAPHIC NEIGHBOR (for sorted s1 ≤ s2 ≤ s3,
    lcp(s1,s3) = min(lcp(s1,s2), lcp(s2,s3))), so one sort + lag/lead
    replaces all-pairs comparison.

    Distribution WITHOUT a global single-partition sort — two modes:

    ``mode="first_char"`` (default, the registered r12 form): partition
    by the FIRST CHARACTER — any pair with lcp ≥ 1 shares it, so
    cross-partition pairs have lcp 0 and per-partition sorted neighbors
    are exactly the global sorted neighbors that matter. Exact by
    construction at partition depth 1, ONE hash exchange, but
    parallelism is bounded by the leading-char alphabet (≤256) and a
    corpus skewed onto one leading token (e.g. everything starts
    "the ") serializes onto one task.

    ``mode="range"`` (the r13 skew escalation, measured by a one-off
    skew A/B; bench rows in the PERF_r13.json / PERF_r14.json ledgers):
    ``repartitionByRange`` on the FULL truncated
    key — the range partitioner's sampled boundaries split a shared
    prefix across as many partitions as needed, so parallelism is
    unbounded and skew-immune, and the result is STILL EXACT (no
    floor-k accuracy trade): in-partition sorted neighbors are global
    neighbors except at the ≤ 2·P partition-boundary rows, which get a
    second tiny lag/lead pass over the boundary frame alone
    (first(p)/last(p) per partition, globally sorted: last(p)'s
    boundary-frame lead is exactly first(p+1), the one missing true
    neighbor; the spurious within-partition boundary pair
    (first(p), last(p)) can never exceed the true in-partition
    neighbor value by prefix-chain monotonicity
    lcp(s1,s3) = min(lcp(s1,s2), lcp(s2,s3)), so greatest() of the two
    passes is the exact answer). Cost: one range exchange + one narrow
    pid hash exchange of (doc_id, key) rows + a broadcast join of the
    2·P-row boundary corrections. Prefer it whenever the leading-char
    histogram is skewed or ≥256-way parallelism is not enough; both
    modes hash-match the same oracle (asserted in
    tests/test_lcp_neighbor.py).

    The lcp itself uses prefix-equality monotonicity — the indicator
    [i ≤ min(len(a), len(b)) AND substr(a,1,i) = substr(b,1,i)] is 1
    exactly for i ≤ lcp, so indicator SUMS are capped lcps (the length
    gate matters: substr saturates past a string's end, so two
    IDENTICAL short keys would otherwise stay "equal" up to cap) — in
    a TWO-LEVEL probe: count matched 8-char BLOCKS first (cap/8
    compares), then extend char-by-char from the 8·B floor via a
    seeded fold whose accumulator only advances while still matching
    (8 more compares). Measured at 50k docs: 16 prefix compares beat
    the flat 64-compare sum 8.07 → 2.12 s end-to-end, bit-identical;
    the plain one-level sum is the readable reference form.

    Output (doc-grain): (doc_id, max_lcp) — 0 means no other document
    shares even the first character.

    Scale: one projection to (doc_id, first-char, cap-char key) — key
    width bounded at ``cap``, never full text — one exchange on the
    first-char key with an in-partition sort, two lag/lead probes, one
    rollup. The sort is Spark's shuffle-sort on bounded-width keys;
    nothing quadratic, nothing single-partition.
    """
    key = F.substring(F.col("text"), 1, cap).alias("k")

    def lcp(a: str, b: str):
        blocks = (
            f"aggregate(sequence(1, {cap // 8}), 0, (acc, j) -> acc + "
            f"(CASE WHEN 8*j <= least(length({a}), length({b})) "
            f"AND substring({a}, 1, 8*j) = substring({b}, 1, 8*j) "
            f"THEN 1 ELSE 0 END))"
        )
        return F.expr(
            f"aggregate(sequence(1, 8), 8 * ({blocks}), (acc, d) -> acc + "
            f"(CASE WHEN acc + 1 <= least(length({a}), length({b})) "
            f"AND substring({a}, 1, acc + 1) = substring({b}, 1, acc + 1) "
            f"THEN 1 ELSE 0 END))"
        )

    def probe():
        # greatest of the lag/lead lcps; reads pk/nk/k from the enclosing
        # select (null neighbor -> 0)
        return (
            F.greatest(
                F.when(F.col("pk").isNotNull(), lcp("k", "pk")).otherwise(0),
                F.when(F.col("nk").isNotNull(), lcp("k", "nk")).otherwise(0),
            )
            .cast("int")
            .alias("max_lcp")
        )

    if mode == "first_char":
        part = F.substring(F.col("text"), 1, 1).alias("c1")
        frame = documents.select("doc_id", part, key)
        w = Window.partitionBy("c1").orderBy("k", "doc_id")
        probed = frame.select(
            "doc_id",
            "k",
            F.lag("k").over(w).alias("pk"),
            F.lead("k").over(w).alias("nk"),
        )
        probed = probed.select("doc_id", probe())
        return probed.orderBy("doc_id")

    if mode != "range":
        raise ValueError(f"unknown lcp_neighbor_profile mode: {mode!r}")

    spark = documents.sparkSession
    n_parts = num_partitions or int(
        spark.conf.get("spark.sql.shuffle.partitions", "200")
    )
    frame = documents.select("doc_id", key)
    # range exchange on the full key: sampled boundaries split skewed
    # prefixes across partitions; pid is stamped AFTER the exchange so the
    # window's hash exchange groups exactly the range partitions
    ranged = frame.repartitionByRange(n_parts, "k", "doc_id").withColumn(
        "pid", F.spark_partition_id()
    )
    wp = Window.partitionBy("pid").orderBy("k", "doc_id")
    wall = Window.partitionBy("pid")
    staged = ranged.select(
        "doc_id",
        "k",
        F.lag("k").over(wp).alias("pk"),
        F.lead("k").over(wp).alias("nk"),
        F.row_number().over(wp).alias("rn"),
        F.count(F.lit(1)).over(wall).alias("cnt"),
    )
    # persist: the boundary branch and the final join BOTH consume this
    # frame, and re-deriving it would re-run repartitionByRange with an
    # INDEPENDENT boundary sampling — the two branches could then disagree
    # on where partitions end, and boundary corrections would patch the
    # wrong rows. One materialization pins one partitioning (and one scan).
    # Cache lifecycle is caller-owned (repo contract).
    inpart = staged.select(
        "doc_id", "k", "rn", "cnt", probe()
    ).persist()
    # boundary frame: first/last row of every partition (≤ 2·P rows).
    # Sorted globally, last(p)'s lead is first(p+1) — the one neighbor the
    # in-partition pass missed; the spurious (first(p), last(p)) pairs are
    # dominated by the in-partition values (chain monotonicity), so the
    # final greatest() stays exact.
    boundary = inpart.filter((F.col("rn") == 1) | (F.col("rn") == F.col("cnt")))
    wb = Window.orderBy("k", "doc_id")
    bprobed = boundary.select(
        "doc_id",
        "k",
        F.lag("k").over(wb).alias("pk"),
        F.lead("k").over(wb).alias("nk"),
    )
    bfix = bprobed.select("doc_id", probe().alias("b_lcp"))
    fixed = inpart.join(F.broadcast(bfix), "doc_id", "left").select(
        "doc_id",
        F.greatest("max_lcp", F.coalesce("b_lcp", F.lit(0)))
        .cast("int")
        .alias("max_lcp"),
    )
    return fixed.orderBy("doc_id")


def lcp_neighbor_oracle_sql(cap: int = 64) -> str:
    """DuckDB twin: same first-char partition, same (key, doc_id) sort,
    same two-level block-then-char probe (list_prepend seeds the fold's
    accumulator with the 8·B block floor)."""

    def blocks(other: str) -> str:
        return f"""CAST(list_sum(list_transform(range(1, {cap // 8} + 1),
            j -> CASE WHEN 8*j <= least(length(k), length({other}))
                 AND substr(k, 1, CAST(8*j AS INT))
                     = substr({other}, 1, CAST(8*j AS INT))
                 THEN 1 ELSE 0 END)) AS BIGINT)"""

    def ext(other: str) -> str:
        return f"""list_reduce(list_prepend(8 * ({blocks(other)}),
            range(1, 9)), (acc, d) -> acc +
            CASE WHEN acc + 1 <= least(length(k), length({other}))
                 AND substr(k, 1, CAST(acc + 1 AS INT))
                     = substr({other}, 1, CAST(acc + 1 AS INT))
                 THEN 1 ELSE 0 END)"""

    return f"""
    WITH frame AS (
        SELECT doc_id, substr(text, 1, 1) AS c1, substr(text, 1, {cap}) AS k
        FROM documents
    ),
    probed AS (
        SELECT doc_id, k,
               lag(k) OVER (PARTITION BY c1 ORDER BY k, doc_id) AS pk,
               lead(k) OVER (PARTITION BY c1 ORDER BY k, doc_id) AS nk
        FROM frame
    )
    SELECT doc_id,
           CAST(greatest(
               CASE WHEN pk IS NOT NULL THEN {ext("pk")} ELSE 0 END,
               CASE WHEN nk IS NOT NULL THEN {ext("nk")} ELSE 0 END
           ) AS INT) AS max_lcp
    FROM probed
    ORDER BY doc_id
    """
