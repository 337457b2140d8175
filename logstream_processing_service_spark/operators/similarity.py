"""Similarity search over embedding columns (north-star LLM-pipeline ops).

The reference's only vector op is nearest-centroid assignment with mutable
centroid state (src/ml/vector_engine.py:21-45). Batch re-expression here:

- ``assign_nearest_centroid``: per-row argmin over one broadcast centroid
  array — the reference's scoring-path semantics (no centroid minting; the
  incremental script discards minted centroids anyway, see SURVEY §3.1 step 7).
- ``ann_bruteforce``: exact top-k cosine neighbors for a query set.
- ``ann_ivf``: IVF-style two-stage search — probe the nearest coarse
  centroids, then search only those buckets. This is the 100 TB path: the
  bucket assignment is a broadcast join, and the fine search touches
  ``nprobe/nlist`` of the data instead of all of it.

All distance math is codegen'd Spark SQL (functions/vector.py) — no Python
in the hot path.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import vector as V


def label_centroids(embeddings: DataFrame, dim: int = 64) -> DataFrame:
    """Per-label mean vector (the batch analogue of the reference's evolving
    centroid store, src/ml/vector_engine.py:47-52). Aggregates per-dimension
    with posexplode→avg→collect: one shuffle keyed by (label, dim)."""
    exploded = embeddings.select(
        "label", F.posexplode(F.col("embedding")).alias("i", "x")
    )
    per_dim = exploded.groupBy("label", "i").agg(
        F.avg(F.col("x").cast("double")).alias("m")
    )
    return (
        per_dim.groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("i", "m"))).alias("s"))
        .select(
            "label", F.transform(F.col("s"), lambda e: e["m"]).alias("centroid")
        )
    )


def assign_nearest_centroid(
    embeddings: DataFrame,
    centroids: DataFrame,
    p: float = 1.5,
    threshold: float | None = None,
) -> DataFrame:
    """Nearest-centroid assignment: argmin Minkowski(p) over the centroids
    (reference: src/ml/vector_engine.py:21-45, threshold 0.35). Keeps the
    input columns and adds ``assigned_label`` and ``dist``.

    Scale: the centroids (thousands at most) are gathered into one array
    row and broadcast, and each row takes ``array_min`` over its
    (dist, label) pairs, so the ranking is per-row: the fact side is
    neither shuffled nor windowed. Ties go to the lower label.
    """
    cs = centroids.coalesce(1).agg(
        F.collect_list(F.struct("label", "centroid")).alias("_cs")
    )
    nearest = F.array_min(F.transform("_cs", lambda c: F.struct(
        F.round(V.minkowski(F.col("embedding"), c["centroid"], p), 9).alias("dist"),
        c["label"].alias("label"),
    )))
    # its own projection, so the fields below read one argmin per row
    best = embeddings.crossJoin(F.broadcast(cs)).select(
        *embeddings.columns, nearest.alias("_best")
    )
    dist, label = F.round("_best.dist", 6), F.col("_best.label")
    if threshold is not None:
        # reference semantics: beyond the threshold a NEW group is minted
        # (vector_engine.py:36-43); batch form marks them unassigned (-1)
        label = F.when(dist < threshold, label).otherwise(F.lit(-1))
    return best.select(
        *embeddings.columns, label.alias("assigned_label"), dist.alias("dist")
    )


def ann_bruteforce(
    embeddings: DataFrame, queries: DataFrame, k: int = 5
) -> DataFrame:
    """Exact top-k cosine neighbors per query (the correctness baseline).

    Scale: query set broadcast; candidates ranked per query via window.
    Cost is |Q|×N — the right tool for small query batches; for large Q use
    ``ann_ivf``.
    """
    q = queries.select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    scored = (
        embeddings.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("q_id"))
        .withColumn(
            "cos", F.round(V.cosine(F.col("q_emb"), F.col("embedding")), 9)
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cos"), F.col("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "rank", "vec_id", F.round("cos", 6).alias("cos"))
    )


def ann_ivf(
    embeddings: DataFrame,
    centroids: DataFrame,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 2,
) -> DataFrame:
    """IVF two-stage ANN: coarse-quantize all vectors to their nearest
    centroid bucket, probe the ``nprobe`` nearest buckets per query, search
    only those buckets.

    Tuning card (measured recall@10 vs exact cosine top-10 on the
    synthetic embeddings at sf0.001 AND sf0.01, driver-visible as
    ``ann_recall_report`` and floor-pinned in tests/test_ann_recall.py):
    nprobe=2 → 0.35, nprobe=4 → 0.62, nprobe=8 → 0.95 — the
    recall-vs-compute curve an operator actually tunes: scanned
    fraction grows ~nprobe/nlist while recall saturates, so start at
    nprobe ≈ nlist/2 for recall-critical paths and halve until the
    latency budget binds. For recall ≈ 1.0 at higher build cost, use
    ``ann_hnsw`` (ef=60 measures 1.0 on the same corpus).

    Scale: the coarse pass is a broadcast join (centroids are tiny); the
    fine pass joins on bucket id → only ~nprobe/nlist of the corpus is
    scanned per query. At 100 TB the bucket assignment would be precomputed
    and stored partition-by-bucket so the probe prunes parquet partitions.
    """
    bucketed = _nearest_buckets(
        embeddings, centroids, "vec_id", "embedding", 1, "v_bucket"
    )
    return _ivf_probe(bucketed, centroids, queries, k, nprobe)


def _nearest_buckets(
    df: DataFrame,
    centroids: DataFrame,
    id_col: str,
    emb_col: str,
    n: int,
    out: str,
) -> DataFrame:
    """Nearest-``n`` coarse buckets per row (broadcast centroid cross +
    row_number) — the IVF assignment primitive shared by the one-shot
    path (:func:`ann_ivf`) and the incremental registry
    (:func:`ann_ivf_incremental`)."""
    cent = F.broadcast(
        centroids.select(F.col("label").alias("bucket"), "centroid")
    )
    cand = df.crossJoin(cent).withColumn(
        "_d", F.round(V.minkowski(F.col(emb_col), F.col("centroid"), 2.0), 9)
    )
    w = Window.partitionBy(id_col).orderBy("_d", "bucket")
    return (
        cand.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= n)
        .select(df["*"], F.col("bucket").alias(out))
    )


def _ivf_probe(
    bucketed: DataFrame,
    centroids: DataFrame,
    queries: DataFrame,
    k: int,
    nprobe: int,
) -> DataFrame:
    """Probe stage shared by :func:`ann_ivf` and the registry read:
    nprobe nearest buckets per query, exact cosine inside them, top-k."""
    q = queries.select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    probed = _nearest_buckets(q, centroids, "q_id", "q_emb", nprobe, "q_bucket")
    scored = (
        bucketed.join(
            F.broadcast(probed), F.col("v_bucket") == F.col("q_bucket")
        )
        .filter(F.col("vec_id") != F.col("q_id"))
        .withColumn("cos", F.round(V.cosine(F.col("q_emb"), F.col("embedding")), 9))
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cos"), F.col("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "rank", "vec_id", F.round("cos", 6).alias("cos"))
    )


def ann_ivf_incremental(
    base_emb: DataFrame,
    delta_emb: DataFrame,
    table_dir: str,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 2,
) -> DataFrame:
    """The VECTOR index under ingest — the bm25/LSH incremental-registry
    discipline applied to IVF: coarse centroids are FROZEN from the
    base corpus (the realistic index lifecycle: structure trained once
    on the standing corpus), the base vectors' bucket assignments are
    committed as txlog v0, each ingest assigns ONLY the delta vectors
    to the same frozen centroids and APPENDS them (v1, merge-on-read),
    and probes search the merged registry. Because assignment is
    per-row against fixed centroids, the incremental read is exactly
    the from-scratch assignment of the union — hash-matched against
    the batch IVF oracle (frozen-centroid CTE) to prove the ingest
    path composes; re-clustering (centroid refresh + full reassign) is
    the index's compaction-analogue, a scheduled rebuild, not the
    ingest path.

    Output: (q_id, rank, vec_id, cos) — the :func:`ann_ivf` contract.

    Scale: each ingest costs O(|delta| · nlist) broadcast-centroid
    compares and writes O(|delta|) registry rows; the standing corpus
    is never re-embedded or re-assigned. The registry is the
    bucket-partitioned layout ann_ivf's docstring names: at 100 TB,
    store it partitioned by v_bucket so probes prune to
    ~nprobe/nlist of the files (ann_ivfpq_index proves that pruning
    shape with partition-level tests).
    """
    from . import txlog as TX

    spark = base_emb.sparkSession
    # centroids consumed by three plans (two commits + the probe):
    # persist so the (label, dim) aggregate runs once. Cache lifecycle
    # is caller-owned (repo contract).
    cent = label_centroids(base_emb).persist()
    TX.commit(
        table_dir,
        _nearest_buckets(base_emb, cent, "vec_id", "embedding", 1, "v_bucket")
        .select("vec_id", "embedding", "v_bucket"),
        mode="overwrite",
    )
    TX.commit(
        table_dir,
        _nearest_buckets(delta_emb, cent, "vec_id", "embedding", 1, "v_bucket")
        .select("vec_id", "embedding", "v_bucket"),
        mode="append",
    )
    bucketed = TX.read_snapshot(spark, table_dir)
    return _ivf_probe(bucketed, cent, queries, k, nprobe)


def embedding_near_dup_pairs(
    embeddings: DataFrame, threshold: float = 0.4, self_join_cap: int | None = 100_000
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (vec_id1 < vec_id2, cos ≥ t).

    The brute-force form is O(N²) — correct and oracle-checkable at test
    scale, and GUARDED: above ``self_join_cap`` rows it refuses to run
    (100k² = 10¹⁰ cosines is already a cluster-day) and points at the
    production path. The 100 TB path is LSH blocking
    (``embedding_near_dup_lsh``) / IVF (``ann_ivf``); the threshold
    semantics stay identical. Pass ``self_join_cap=None`` to force an
    uncapped run.
    """
    if self_join_cap is not None:
        n = embeddings.count()
        if n > self_join_cap:
            raise ValueError(
                f"embedding_near_dup_pairs is an O(N²) baseline: {n} rows > "
                f"cap {self_join_cap}. Use embedding_near_dup_lsh (banded "
                "LSH + exact verify) at scale, or pass self_join_cap=None."
            )
    a = embeddings.select(F.col("vec_id").alias("id1"), F.col("embedding").alias("e1"))
    b = embeddings.select(F.col("vec_id").alias("id2"), F.col("embedding").alias("e2"))
    pairs = (
        a.join(b, F.col("id1") < F.col("id2"))
        .withColumn("cos", F.round(V.cosine(F.col("e1"), F.col("e2")), 6))
        .filter(F.col("cos") >= threshold)
        .select("id1", "id2", "cos")
    )
    return pairs


def embedding_near_dup_lsh(
    embeddings: DataFrame, threshold: float = 0.3, max_bucket: int = 2000
) -> DataFrame:
    """Embedding near-dup via random-hyperplane LSH blocking + exact-cosine
    verify — the 100 TB path that replaces ``embedding_near_dup_pairs``'s
    O(N²) self-join.

    Blocking: 16-bit hyperplane signature, 4×4-bit bands; any pair agreeing
    on a full band meets in one shuffle keyed by (band, bval). Verify: exact
    cosine on the (small) candidate set only — ~6% of all pairs at this
    band width on the test corpus. Recall is the standard LSH trade-off;
    the DuckDB oracle mirrors the same blocking so the check is exact.
    """
    # Banding runs over (vec_id, sig) ONLY — the 384-float embedding never
    # rides the banding shuffle (4× replicated), and candidate pairs are
    # deduplicated across bands BEFORE the verify, so a pair agreeing on two
    # bands pays the (interpreted, higher-order-aggregate) cosine once, not
    # twice. Pair expansion is in-bucket array math, same as the minhash
    # path. The verify then joins the narrow candidate list back to the
    # vectors: per-pair work is a single dot (norms precomputed per vector).
    sig = embeddings.select(
        "vec_id", V.lsh_signature(F.col("embedding")).alias("sig")
    )
    bvals = F.array(
        *[
            F.expr(f"(sig div {1 << (V.LSH_BAND_BITS * bi)}) % {1 << V.LSH_BAND_BITS}")
            for bi in range(V.LSH_BANDS)
        ]
    )
    # max_bucket is the quadratic-blowup guard: a degenerate bucket (e.g.
    # a corpus of near-identical vectors all sharing a band value) would
    # otherwise expand |bucket|²/2 candidate pairs. Skipped buckets mean
    # skipped recall for that band, never wrong results — and the DuckDB
    # oracle applies the same cap, so parity holds by construction.
    groups = (
        sig.select("vec_id", F.posexplode(bvals).alias("band", "bval"))
        .groupBy("band", "bval")
        .agg(F.array_sort(F.collect_list("vec_id")).alias("ids"))
        .filter(F.size("ids").between(2, max_bucket))
    )
    combos = F.expr(
        "flatten(transform(ids, (x, i) -> "
        "transform(slice(ids, i+2, size(ids)-i-1), y -> struct(x AS id1, y AS id2))))"
    )
    candidates = (
        groups.select(F.explode(combos).alias("p"))
        .select("p.id1", "p.id2")
        .distinct()
    )
    vecs = embeddings.select(
        "vec_id", "embedding", V.norm(F.col("embedding")).alias("nrm")
    )
    joined = candidates.join(
        vecs.select(
            F.col("vec_id").alias("id1"),
            F.col("embedding").alias("e1"),
            F.col("nrm").alias("n1"),
        ),
        "id1",
    ).join(
        vecs.select(
            F.col("vec_id").alias("id2"),
            F.col("embedding").alias("e2"),
            F.col("nrm").alias("n2"),
        ),
        "id2",
    )
    cos = V.dot(F.col("e1"), F.col("e2")) / (F.col("n1") * F.col("n2"))
    return (
        joined.withColumn("cos", F.round(cos, 6))
        .filter(F.col("cos") >= threshold)
        .select("id1", "id2", "cos")
    )


def _train_sample(embeddings: DataFrame, sample_n: int, salt: str):
    """Deterministic, engine-portable training sample for driver-side
    centroid/codebook fitting: the top-``sample_n`` vectors by
    md5(salt:vec_id) order, vec_id tie-break (the ``stratified_sample``
    machinery, operators/sampling.py). A vec_id PREFIX would be the
    oldest corner of an ingestion-monotone corpus and bias the trained
    model whenever id correlates with source/time (r7 VERDICT #4 — the
    same bias argument as the reference's LIMIT-based sampling,
    scripts/validate_quality.py:68, which SURVEY §5 criticizes). The
    hash order is reproducible run-to-run, identical in any engine, and
    the selection is a distributed TakeOrdered — never a full sort."""
    from .sampling import split_bucket

    rows = (
        embeddings.orderBy(split_bucket("vec_id", salt), "vec_id")
        .limit(sample_n)
        .select("embedding")
        .collect()
    )
    return np.asarray([r["embedding"] for r in rows], dtype=np.float64)


def semantic_dedup(
    embeddings: DataFrame,
    n_clusters: int = 64,
    threshold: float = 0.4,
    sample_n: int = 2048,
    max_cluster: int = 4000,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): k-means the embedding space, then
    within each cluster drop every vector that is ≥ ``threshold`` cosine to
    a higher-priority kept vector. Priority follows the paper: keep the
    member FARTHEST from its centroid (maximizes retained diversity),
    vec_id as the tie-break. Returns the full decision table
    (vec_id, cluster, centroid_dist, keep).

    Scale shape: clustering is what makes semantic dedup tractable — the
    within-cluster pair expansion is O(Σ|c|²), so SIZE ``n_clusters`` TO
    THE CORPUS: n_clusters ≈ N / 5_000 (≤5k members per cluster keeps the
    in-row pair expansion ≤ 25M struct comparisons per cluster task; the
    paper uses 50k clusters for LAION-440M, i.e. ~9k per cluster). The
    default 64 fits the sf0.1 test corpus only — at 100 TB pass
    n_clusters explicitly; ``max_cluster`` guards degenerate clusters
    exactly like the LSH ``max_bucket`` and makes under-clustering fail
    loudly (oversized clusters are excluded, shrinking the output).
    Centroids are trained driver-side on a deterministic ``sample_n``
    sample drawn by PORTABLE md5 order over vec_id (the
    ``stratified_sample`` machinery, operators/sampling.py) — NOT a
    vec_id prefix: ids are ingestion-monotone, so a prefix is the
    oldest corner of the corpus and biases centroids whenever id
    correlates with source/time (r7 VERDICT #4; the same bias argument
    as the reference's LIMIT-based validate_quality.py:68 sampling).
    The hash order is reproducible run-to-run and engine-portable,
    and the top-``sample_n`` selection is a distributed
    TakeOrdered, not a full sort. Centroids are dimension-sized state
    riding as a closure constant; assignment is ONE Arrow pass; pair
    expansion is in-cluster
    array math over (id, priority) structs ONLY — embeddings never ride
    the cluster shuffle; the exact-cosine verify joins the narrow candidate
    list back to vectors, norms precomputed, same as the LSH verify.
    """
    X = _train_sample(embeddings, sample_n, "semdedup-centroids-v1")
    C = _train_pq_numpy(X, 1, n_clusters)[0]

    @F.pandas_udf("struct<cluster:int, cdist:double>")
    def assign(s: pd.Series) -> pd.DataFrame:
        Xb = np.asarray(s.tolist(), dtype=np.float64)
        d2 = _sq_dists(Xb, C)
        cl = d2.argmin(1)
        return pd.DataFrame(
            {
                "cluster": cl.astype(np.int32),
                "cdist": np.sqrt(d2[np.arange(len(cl)), cl]),
            }
        )

    asg = embeddings.select(
        "vec_id", "embedding", assign("embedding").alias("_a")
    ).select("vec_id", "embedding", "_a.cluster", "_a.cdist")
    thin = asg.select("vec_id", "cluster", "cdist")
    # members sorted by priority (centroid_dist DESC, vec_id ASC): pair
    # expansion emits (keeper-priority id1, lower-priority id2)
    groups = (
        thin.groupBy("cluster")
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct((-F.col("cdist")).alias("nk"), F.col("vec_id").alias("id"))
                )
            ).alias("mem")
        )
        .filter(F.size("mem").between(2, max_cluster))
        .select("cluster", F.expr("transform(mem, e -> e.id)").alias("ids"))
    )
    combos = F.expr(
        "flatten(transform(ids, (x, i) -> "
        "transform(slice(ids, i+2, size(ids)-i-1), y -> struct(x AS id1, y AS id2))))"
    )
    cand = groups.select(F.explode(combos).alias("p")).select("p.id1", "p.id2")
    vecs = embeddings.select(
        "vec_id", "embedding", V.norm(F.col("embedding")).alias("nrm")
    )
    verified = (
        cand.join(
            vecs.select(
                F.col("vec_id").alias("id1"),
                F.col("embedding").alias("e1"),
                F.col("nrm").alias("n1"),
            ),
            "id1",
        )
        .join(
            vecs.select(
                F.col("vec_id").alias("id2"),
                F.col("embedding").alias("e2"),
                F.col("nrm").alias("n2"),
            ),
            "id2",
        )
        .withColumn(
            "cos",
            F.round(V.dot(F.col("e1"), F.col("e2")) / (F.col("n1") * F.col("n2")), 6),
        )
        .filter(F.col("cos") >= threshold)
    )
    # one-pass rule (standard SemDeDup implementations): a vector is
    # dropped iff it is the lower-priority side of ANY qualifying pair —
    # whether or not that higher-priority member is itself dropped. A
    # similarity chain a–b–c therefore keeps only its head even when
    # cos(a,c) < threshold; the head of any chain is never an id2, so at
    # least one member of every dup group survives.
    dropped = verified.select(F.col("id2").alias("vec_id")).distinct()
    return (
        thin.join(dropped.withColumn("_d", F.lit(1)), "vec_id", "left")
        .select(
            "vec_id",
            "cluster",
            F.round("cdist", 6).alias("centroid_dist"),
            F.col("_d").isNull().alias("keep"),
        )
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ) ANN — memory-compressed scale path
# ---------------------------------------------------------------------------


def train_pq_codebooks(
    embeddings: DataFrame,
    m: int = 16,
    k: int = 256,
    sample_n: int = 2048,
    iters: int = 10,
):
    """Train PQ codebooks (Jégou et al. 2011): split the vector into ``m``
    subvectors, k-means each subspace to ``k`` centroids.

    Fully deterministic: the training sample is ``sample_n`` vectors in
    portable md5-hash order (``_train_sample`` — unbiased under
    id/source correlation, bounded driver-side collect, same precedent
    as the IVF probe bucket list), init is evenly-spaced rows of that
    sample, and Lloyd runs a fixed ``iters`` rounds. Returns an
    (m, k, dim/m) numpy array — dimension-sized state that broadcasts to
    every executor as a closure constant.
    """
    X = _train_sample(embeddings, sample_n, "pq-train-v1")
    return _train_pq_numpy(X, m, k, iters)


def _sq_dists(X, C):
    """Pairwise squared L2 distances (n, k) via the matmul expansion
    ‖x‖² − 2x·c + ‖c‖² — one BLAS gemm instead of an (n, k, d) broadcast
    tensor (~10× faster and O(n·k) memory instead of O(n·k·d)). Shared by
    every PQ/IVF/cluster assignment AND the test replicas, so argmin
    results are bit-identical across operator and oracle code paths."""
    x2 = (X * X).sum(1)
    c2 = (C * C).sum(1)
    # clamp: cancellation can yield ~-1e-14 for x ≈ c, and sqrt(neg) = NaN
    return np.maximum(x2[:, None] - 2.0 * (X @ C.T) + c2[None, :], 0.0)


def _train_pq_numpy(X, m: int, k: int, iters: int = 10):
    """Deterministic per-subspace Lloyd k-means over an in-memory sample
    (the numpy core shared by raw-vector and residual codebook training)."""
    n, d = X.shape
    if d % m != 0:
        raise ValueError(f"dim {d} not divisible by m={m}")
    sub = d // m
    books = np.empty((m, k, sub))
    for j in range(m):
        Xj = X[:, j * sub : (j + 1) * sub]
        cent = Xj[np.linspace(0, n - 1, k).astype(int)].copy()
        for _ in range(iters):
            assign = _sq_dists(Xj, cent).argmin(1)
            # vectorized Lloyd update (no per-cluster Python loop)
            sums = np.zeros((k, sub))
            np.add.at(sums, assign, Xj)
            counts = np.bincount(assign, minlength=k).astype(np.float64)
            nz = counts > 0
            cent[nz] = sums[nz] / counts[nz, None]
        books[j] = cent
    return books


def ann_pq(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    m: int = 16,
    n_centroids: int = 256,
    codebooks=None,
    max_queries: int = 10_000,
) -> DataFrame:
    """PQ asymmetric-distance (ADC) top-k: scan the CODES (m bytes/vector),
    score each against a per-query lookup table, exact-rank by approximate
    L2 — the memory-bound scale path where even IVF's probed buckets are
    too big to hold raw floats.

    Driver-side bound: the LUT stack is O(|Q|·m·n_centroids) float64 on
    the driver AND in every task's closure — |Q|=10k queries at m=16,
    k=256 is ~330 MB, the practical ceiling. The ``max_queries`` guard
    fails loudly past it (mirror of ``embedding_near_dup_pairs``'s row
    cap); for larger query sets, chunk the query side and union, or flip
    to the symmetric form (encode queries too and join code-to-code).

    Scale shape: ONE Arrow-batched pass over the corpus encodes each vector
    and scores it against every query's LUT in the same vectorized numpy
    step (the LUT stack — |Q|·m·n_centroids doubles — rides along as a
    closure constant, NOT as a joined column: carrying a 32 KB LUT array on
    every candidate row was measured 4× slower). The pass emits |Q| skinny
    (q_idx, adc) rows per vector; the only shuffle is the per-query top-k
    window. At 100 TB the stored codes table is ~3% the size of the float
    table, so a code-only rescan is ~30× cheaper IO.
    """
    if codebooks is None:
        codebooks = train_pq_codebooks(embeddings, m=m, k=n_centroids)
    m, kk, sub = codebooks.shape
    books = codebooks
    qrows = (
        queries.select("vec_id", "embedding").limit(max_queries + 1).collect()
    )
    if len(qrows) > max_queries:
        raise ValueError(
            f"ann_pq: query side exceeds max_queries={max_queries}; the "
            "per-query LUT stack is O(|Q|*m*n_centroids) driver/closure "
            "memory — chunk the query set and union the results"
        )
    q_ids = [int(r["vec_id"]) for r in qrows]
    luts = np.empty((len(qrows), m, kk))
    for qi, r in enumerate(qrows):
        qv = np.asarray(r["embedding"], dtype=np.float64)
        for j in range(m):
            qj = qv[j * sub : (j + 1) * sub]
            luts[qi, j] = ((books[j] - qj) ** 2).sum(1)
    n_q = len(q_ids)
    jj = np.arange(m)

    @F.pandas_udf("array<double>")
    def adc_all(s: pd.Series) -> pd.Series:
        X = np.asarray(s.tolist(), dtype=np.float64)
        codes = np.empty((len(X), m), dtype=np.int64)
        for j in range(m):
            Xj = X[:, j * sub : (j + 1) * sub]
            codes[:, j] = _sq_dists(Xj, books[j]).argmin(1)
        # (n, Q): for each query, sum the per-subspace LUT entries
        out = np.stack(
            [luts[qi][jj[None, :], codes].sum(1) for qi in range(n_q)], 1
        )
        return pd.Series(list(out))

    q_id_arr = F.array(*[F.lit(q) for q in q_ids])
    scored = (
        embeddings.select(
            "vec_id", F.posexplode(adc_all("embedding")).alias("qi", "adc")
        )
        .withColumn("q_id", F.element_at(q_id_arr, F.col("qi") + 1))
        .filter(F.col("vec_id") != F.col("q_id"))
    )
    w = Window.partitionBy("q_id").orderBy("adc", "vec_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "rank", "vec_id", F.round("adc", 6).alias("adc_dist"))
    )


def ann_ivf_pq(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    m: int = 16,
    n_centroids: int = 256,
    nprobe: int = 2,
    sample_n: int = 2048,
    coarse: DataFrame | None = None,
    max_queries: int = 2_000,
) -> DataFrame:
    """IVF+PQ (Jégou et al. 2011 §IV): coarse-quantize each vector to its
    nearest centroid, PQ-encode the RESIDUAL (x − centroid), and score a
    query only against vectors in its ``nprobe`` nearest buckets via the
    per-(query, bucket) ADC lookup table — the composition used by every
    production billion-vector index (FAISS IVFPQ).

    Residual encoding is what makes the composition worth it on clustered
    corpora: residuals concentrate near zero, so the same 256-centroid
    codebooks quantize them more finely than raw vectors. On THIS synthetic
    corpus the label clusters barely separate, so the probe is the recall
    bottleneck (global recall@5 ≈ 0.36 at nprobe=2/5, rising to ≈ 0.62 at
    nprobe=nlist) while quantization quality matches flat PQ (recall ≈ 0.68
    against the exact-L2-within-probed-buckets oracle) — both measured and
    the latter asserted in tests/test_pq.py.

    Scale shape: ONE Arrow-batched pass over the corpus assigns the bucket,
    encodes the residual, and ADC-scores it against exactly the queries
    probing that bucket (non-probed pairs cost nothing but an inf skipped
    by a codegen filter — never materialized as rows past the explode).
    Coarse centroids, codebooks, and the (query × probed-bucket) LUT stack
    ride as closure constants — dimension-sized state, no fat joined
    columns. The LUT stack here is a dense (|Q|, nlist, m, k) array because
    the demo nlist is tiny; at a real nlist (2¹⁶) key it by the |Q|·nprobe
    probed pairs only — the dense form's O(|Q|·nlist·m·k) driver/closure
    memory is why ``max_queries`` here is tighter than ``ann_pq``'s (2k
    queries × 16 buckets × 16 × 256 float64 ≈ 2.7 GB is already past
    comfortable closure size; the guard fails loudly well before).
    At 100 TB the bucket+codes table would be
    materialized PARTITIONED BY bucket (``build_ivfpq_index``, probed by
    ``search_ivfpq_index``) so the probe prunes partition directories
    before IO — the streaming-compute form here shows the semantics.
    """
    if coarse is None:
        coarse = label_centroids(embeddings)
    crows = sorted(coarse.collect(), key=lambda r: r["label"])
    C = np.asarray([r["centroid"] for r in crows], dtype=np.float64)
    nlist = len(crows)
    nprobe = min(nprobe, nlist)

    X = _train_sample(embeddings, sample_n, "pq-residual-v1")
    assign = _sq_dists(X, C).argmin(1)
    books = _train_pq_numpy(X - C[assign], m, n_centroids)
    mm, kk, sub = books.shape

    qrows = (
        queries.select("vec_id", "embedding").limit(max_queries + 1).collect()
    )
    if len(qrows) > max_queries:
        raise ValueError(
            f"ann_ivf_pq: query side exceeds max_queries={max_queries}; "
            "the dense LUT stack is O(|Q|*nlist*m*n_centroids) "
            "driver/closure memory — chunk the query set, or materialize "
            "the index (build_ivfpq_index) and probe it (search_ivfpq_index)"
        )
    q_ids = [int(r["vec_id"]) for r in qrows]
    n_q = len(q_ids)
    Q = np.asarray([r["embedding"] for r in qrows], dtype=np.float64)
    qd2 = _sq_dists(Q, C)
    probe_mask = np.zeros((n_q, nlist), dtype=bool)
    luts = np.full((n_q, nlist, mm, kk), np.inf)
    for qi in range(n_q):
        for b in np.argsort(qd2[qi], kind="stable")[:nprobe]:
            probe_mask[qi, b] = True
            r = Q[qi] - C[b]
            for j in range(mm):
                luts[qi, b, j] = ((books[j] - r[j * sub : (j + 1) * sub]) ** 2).sum(1)

    @F.pandas_udf("array<double>")
    def adc_probe(s: pd.Series) -> pd.Series:
        Xb = np.asarray(s.tolist(), dtype=np.float64)
        b = _sq_dists(Xb, C).argmin(1)
        R = Xb - C[b]
        codes = np.empty((len(Xb), mm), dtype=np.int64)
        for j in range(mm):
            Rj = R[:, j * sub : (j + 1) * sub]
            codes[:, j] = _sq_dists(Rj, books[j]).argmin(1)
        out = np.full((len(Xb), n_q), np.inf)
        for qi in range(n_q):
            sel = probe_mask[qi][b]
            if sel.any():
                lut_sel = luts[qi, b[sel]]  # (n_sel, m, k)
                vals = np.take_along_axis(lut_sel, codes[sel][:, :, None], 2)
                out[sel, qi] = vals[:, :, 0].sum(1)
        return pd.Series(list(out))

    q_id_arr = F.array(*[F.lit(q) for q in q_ids])
    scored = (
        embeddings.select(
            "vec_id", F.posexplode(adc_probe("embedding")).alias("qi", "adc")
        )
        .filter(F.col("adc") != F.lit(float("inf")))
        .withColumn("q_id", F.element_at(q_id_arr, F.col("qi") + 1))
        .filter(F.col("vec_id") != F.col("q_id"))
    )
    w = Window.partitionBy("q_id").orderBy("adc", "vec_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "rank", "vec_id", F.round("adc", 6).alias("adc_dist"))
    )


def embedding_int8_report(embeddings: DataFrame) -> DataFrame:
    """Symmetric int8 quantization audit: per vector, the max-abs scale, the
    worst per-dimension reconstruction error, and the reconstruction MSE of
    ``q = clip(round(x / scale), -127, 127)``; ``recon = q * scale``.

    Why it's a first-class operator: storing a 100 TB float32 embedding
    corpus as int8 + one scale per vector is a 4× IO cut for every ANN /
    near-dup pass over it, and whether that's safe is exactly what this
    report measures (max_abs_err vs the near-dup cosine margin). The same
    arithmetic is the per-vector half of PQ's codebook quantization.

    Scale shape: pure in-row array arithmetic (transform/aggregate), zero
    shuffle, no Python — streams off the scan at any scale.
    """
    scale_sql = "array_max(transform(embedding, x -> abs(x))) / 127.0d"
    q = (
        "transform(embedding, x -> greatest(least(round(x / _scale), 127.0d),"
        " -127.0d))"
    )
    err = "zip_with(embedding, _q, (x, v) -> abs(x - v * _scale))"
    return (
        embeddings.select(
            "vec_id", "embedding", F.expr(scale_sql).alias("_scale")
        )
        .filter(F.col("_scale") > 0)
        .withColumn("_q", F.expr(q))
        .withColumn("_err", F.expr(err))
        .select(
            "vec_id",
            F.round("_scale", 9).alias("scale"),
            F.round(F.expr("array_max(_err)"), 9).alias("max_abs_err"),
            F.round(
                F.expr(
                    "aggregate(_err, 0.0d, (a, e) -> a + e * e)"
                    " / size(_err)"
                ),
                12,
            ).alias("mse"),
        )
    )


def build_ivfpq_index(
    embeddings: DataFrame,
    centroids: DataFrame,
    path: str,
    m: int = 16,
    n_centroids: int = 256,
    sample_n: int = 2048,
):
    """Materialize the production ANN layout: IVF partitioning × PQ codes.
    Each vector is coarse-assigned to its nearest centroid bucket, its
    RESIDUAL (x − centroid) is PQ-encoded to ``m`` small ints, and the
    (vec_id, codes) table is written PARTITIONED BY bucket. Returns the
    residual codebooks (the trained state a caller persists beside the
    index; ``search_ivfpq_index`` needs them back).

    This is the composition FAISS IVFPQ stores in RAM, expressed as a
    parquet layout: at 100 TB the float corpus never gets re-read — probes
    prune bucket directories (PartitionFilters) and the scan IO is the
    codes table, ~m/(4·dim) of the float bytes (16/256 = 6% at dim=64,
    and row-group column pruning drops the rest).

    One Arrow pass assigns + encodes (coarse centroids and codebooks ride
    as closure constants); the only exchange is the partitioned write's
    file routing.
    """
    crows = sorted(centroids.collect(), key=lambda r: r["label"])
    C = np.asarray([r["centroid"] for r in crows], dtype=np.float64)
    labels = np.asarray([int(r["label"]) for r in crows])

    X = _train_sample(embeddings, sample_n, "pq-residual-v1")
    assign = _sq_dists(X, C).argmin(1)
    books = _train_pq_numpy(X - C[assign], m, n_centroids)
    mm, kk, sub = books.shape

    @F.pandas_udf("struct<bucket:int, codes:array<int>>")
    def enc(s: pd.Series) -> pd.DataFrame:
        Xb = np.asarray(s.tolist(), dtype=np.float64)
        b = _sq_dists(Xb, C).argmin(1)
        R = Xb - C[b]
        codes = np.empty((len(Xb), mm), dtype=np.int32)
        for j in range(mm):
            Rj = R[:, j * sub : (j + 1) * sub]
            codes[:, j] = _sq_dists(Rj, books[j]).argmin(1)
        return pd.DataFrame(
            {"bucket": labels[b].astype(np.int32), "codes": list(codes)}
        )

    (
        embeddings.select("vec_id", enc("embedding").alias("_e"))
        .select("vec_id", "_e.bucket", "_e.codes")
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(path)
    )
    return books


def search_ivfpq_index(
    spark,
    path: str,
    centroids: DataFrame,
    books,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 2,
    max_queries: int = 2_000,
) -> DataFrame:
    """Probe a materialized IVF+PQ index: rank ``nprobe`` buckets per
    query, scan ONLY those bucket partitions of the CODES table, and
    ADC-score codes against per-(query, probed-bucket) LUTs. Same
    semantics as the in-memory ``ann_ivf_pq``; the difference is what the
    cluster reads — pruned partitions of m-int codes instead of the float
    corpus.

    LUTs are keyed by the |Q|·nprobe probed pairs only (not dense over
    nlist), so closure memory is O(|Q|·nprobe·m·k); ``max_queries``
    guards it exactly like ``ann_ivf_pq``.
    """
    crows = sorted(centroids.collect(), key=lambda r: r["label"])
    C = np.asarray([r["centroid"] for r in crows], dtype=np.float64)
    labels = [int(r["label"]) for r in crows]
    lab_to_idx = {lab: i for i, lab in enumerate(labels)}
    mm, kk, sub = books.shape

    qrows = (
        queries.select("vec_id", "embedding").limit(max_queries + 1).collect()
    )
    if len(qrows) > max_queries:
        raise ValueError(
            f"search_ivfpq_index: query side exceeds max_queries="
            f"{max_queries}; chunk the query set and union"
        )
    q_ids = [int(r["vec_id"]) for r in qrows]
    n_q = len(q_ids)
    Q = np.asarray([r["embedding"] for r in qrows], dtype=np.float64)
    qd2 = _sq_dists(Q, C)
    # sparse LUTs: only the probed (query, bucket) pairs exist
    luts: dict[tuple[int, int], np.ndarray] = {}
    probed_buckets: set[int] = set()
    for qi in range(n_q):
        for bi in np.argsort(qd2[qi], kind="stable")[:nprobe]:
            bi = int(bi)
            probed_buckets.add(labels[bi])
            r = Q[qi] - C[bi]
            lut = np.empty((mm, kk))
            for j in range(mm):
                lut[j] = ((books[j] - r[j * sub : (j + 1) * sub]) ** 2).sum(1)
            luts[(qi, bi)] = lut

    index = spark.read.parquet(path)
    scoped = index.filter(F.col("bucket").isin(sorted(probed_buckets)))
    jj = np.arange(mm)

    @F.pandas_udf("array<double>")
    def adc(bucket: pd.Series, codes: pd.Series) -> pd.Series:
        cd = np.asarray(codes.tolist(), dtype=np.int64)
        bk = bucket.to_numpy()
        out = np.full((len(cd), n_q), np.inf)
        for lab in np.unique(bk):
            bi = lab_to_idx[int(lab)]
            sel = bk == lab
            csel = cd[sel]
            for qi in range(n_q):
                lut = luts.get((qi, bi))
                if lut is not None:
                    out[sel, qi] = lut[jj[None, :], csel].sum(1)
        return pd.Series(list(out))

    q_id_arr = F.array(*[F.lit(q) for q in q_ids])
    scored = (
        scoped.select(
            "vec_id", F.posexplode(adc("bucket", "codes")).alias("qi", "adc")
        )
        .filter(F.col("adc") != F.lit(float("inf")))
        .withColumn("q_id", F.element_at(q_id_arr, F.col("qi") + 1))
        .filter(F.col("vec_id") != F.col("q_id"))
    )
    w = Window.partitionBy("q_id").orderBy("adc", "vec_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "rank", "vec_id", F.round("adc", 6).alias("adc_dist"))
    )


# ---------------------------------------------------------------------------
# Distributed PCA over the embedding corpus
# ---------------------------------------------------------------------------


def pca_model(
    embeddings: DataFrame, emb_col: str = "embedding", k: int = 8
):
    """Exact PCA of the embedding corpus, computed the distributed way: a
    single Arrow-batched pass produces one (n, Σx, XᵀX) moment partial PER
    TASK, the d²+d moment cells are summed by a grouped aggregate (never
    on the driver), and only the d×d covariance — KBs, corpus-size-
    independent — reaches the driver for the numpy eigensolve.

    Why moments and not gram-matrix-on-driver: XᵀX partials are additive,
    so the full pass is one map + one tiny keyed aggregate — the same
    mergeable-sketch shape as the HLL registry; the driver never sees a
    row count proportional to the corpus.

    Sign convention: each eigenvector is flipped so its largest-magnitude
    coordinate is positive — removes the ±v eigensolver ambiguity, making
    the model reproducible across runs and partitionings (up to float
    summation order).

    Returns (mean, components[k×d], eigenvalues[d], var_explained[d]) as
    numpy arrays; eigenvalues/var_explained cover ALL d components so
    callers can audit the cutoff choice.
    """
    import numpy as np
    import pandas as pd

    d = embeddings.select(F.size(emb_col).alias("d")).first()["d"]

    def moments(batches):
        n = 0
        s = np.zeros(d)
        m = np.zeros((d, d))
        for pdf in batches:
            X = np.stack(pdf[emb_col].to_numpy()).astype(np.float64)
            n += X.shape[0]
            s += X.sum(axis=0)
            m += X.T @ X
        if n:
            yield pd.DataFrame(
                {"n": [n], "s": [s.tolist()], "m": [m.ravel().tolist()]}
            )

    partials = embeddings.select(emb_col).mapInPandas(
        moments, schema="n long, s array<double>, m array<double>"
    )
    # distributed moment-cell sum in ONE aggregate (cell 0 = n, cells
    # 1..d = Σx, d+1.. = XᵀX) — a second action on `partials` would
    # re-run the whole moment pass
    cells = (
        partials.select(
            F.posexplode(
                F.concat(
                    F.array(F.col("n").cast("double")), F.col("s"), F.col("m")
                )
            ).alias("i", "v")
        )
        .groupBy("i")
        .agg(F.sum("v").alias("v"))
    )
    flat = np.zeros(1 + d + d * d)
    for r in cells.collect():  # exactly 1+d+d² rows
        flat[r["i"]] = r["v"]
    total_n = flat[0]
    mean = flat[1 : d + 1] / total_n
    cov = flat[d + 1 :].reshape(d, d) / total_n - np.outer(mean, mean)
    eigvals, eigvecs = np.linalg.eigh(cov)
    order = np.argsort(eigvals)[::-1]
    eigvals = np.maximum(eigvals[order], 0.0)
    eigvecs = eigvecs[:, order]
    for j in range(d):
        if eigvecs[np.argmax(np.abs(eigvecs[:, j])), j] < 0:
            eigvecs[:, j] = -eigvecs[:, j]
    var_explained = eigvals / max(eigvals.sum(), 1e-300)
    return mean, eigvecs[:, :k].T.copy(), eigvals, var_explained


def embedding_pca_report(
    embeddings: DataFrame, emb_col: str = "embedding", k: int = 8
) -> DataFrame:
    """Per-component PCA audit of the embedding corpus: eigenvalue,
    variance-explained, cumulative variance, plus the corpus-wide
    reconstruction RMSE using the top-(component+1) subspace — the table
    that answers "how many PCA dimensions does this embedding column
    actually need" before committing to a truncated index layout
    (Matryoshka-style dimension cuts, IVF on projected vectors).

    Two passes over the corpus: the moment pass in ``pca_model`` and one
    projection pass for the per-k reconstruction errors (a single
    Arrow-batched UDF computes all k prefix-RMSEs at once — the k
    subspaces are nested, so error_j is a running sum over components).
    Outputs are rounded (6 dp) so the report is stable across partition
    layouts (float summation order).
    """
    import numpy as np
    import pandas as pd

    mean, comps, eigvals, var_exp = pca_model(embeddings, emb_col, k)

    @F.pandas_udf("array<double>")
    def sq_err_prefixes(s: pd.Series) -> pd.Series:
        X = np.stack(s.to_numpy()).astype(np.float64) - mean
        # projections onto each component: (rows, k)
        P = X @ comps.T
        total = (X * X).sum(axis=1)
        # nested subspaces: residual_j = ||x||² - Σ_{i<=j} p_i²
        cum = np.cumsum(P * P, axis=1)
        res = np.maximum(total[:, None] - cum, 0.0)
        return pd.Series(list(res))

    errs = (
        embeddings.select(sq_err_prefixes(F.col(emb_col)).alias("e"))
        .select(F.posexplode("e").alias("component", "sq"))
        .groupBy("component")
        .agg(F.avg("sq").alias("mse"))
    )
    meta = embeddings.sparkSession.createDataFrame(
        [
            (
                j,
                float(eigvals[j]),
                float(var_exp[j]),
                float(var_exp[: j + 1].sum()),
            )
            for j in range(k)
        ],
        "component int, eigenvalue double, var_explained double, cum_var double",
    )
    return (
        meta.join(errs, "component")
        .select(
            "component",
            F.round("eigenvalue", 6).alias("eigenvalue"),
            F.round("var_explained", 6).alias("var_explained"),
            F.round("cum_var", 6).alias("cum_var"),
            F.round(F.sqrt("mse"), 6).alias("recon_rmse"),
        )
        .orderBy("component")
    )


def mmr_rerank(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    pool: int = 50,
    lam: float = 0.7,
) -> DataFrame:
    """Maximal Marginal Relevance rerank (Carbonell & Goldstein 1998) —
    the RAG-serving step after retrieval: from each query's exact
    top-``pool`` cosine candidates, greedily select ``k`` balancing
    relevance against redundancy,

        mmr(d) = λ·rel(d) − (1−λ)·max_{s∈S} sim(d, s),

    so near-duplicate passages don't crowd the context window (pure
    top-k hands an LLM the same quote five times; MMR hands it five
    DIFFERENT relevant passages).

    Output: (q_id, mmr_rank, vec_id, rel, score) — score is the MMR
    objective at selection time, rel the plain cosine.

    Determinism: rel and pairwise sims are quantized to 9 dp before the
    greedy argmax, vec_id breaks ties — bit-stable under any executor
    layout (the HNSW _dist discipline). Rows-only in the catalog: the
    greedy loop has no SQL twin; an exact numpy replica + a planted
    redundant-passage fixture pin it in tests/test_mmr.py.

    Scale: candidate generation is the broadcast-query exact top-pool
    (swap in ann_ivf/ann_hnsw upstream for corpus scale — the contract
    is just (q_id, vec_id, rel)); the greedy pass is one Arrow-batched
    applyInPandas per query over ≤ pool candidates — O(k·pool) flops on
    a (pool, dim) matrix per query, queries distributed across tasks,
    nothing collected.
    """
    import pandas as pd

    cand = ann_bruteforce(embeddings, queries, k=pool).select(
        "q_id", "vec_id", F.col("cos").alias("rel")
    )
    withv = cand.join(
        embeddings.select("vec_id", "embedding"), "vec_id"
    ).select("q_id", "vec_id", "rel", "embedding")

    lam_f = float(lam)
    k_i = int(k)
    out_schema = (
        "q_id long, mmr_rank int, vec_id long, rel double, score double"
    )

    def greedy(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("vec_id").reset_index(drop=True)
        ids = pdf["vec_id"].to_numpy()
        rel = pdf["rel"].to_numpy(dtype=np.float64)
        X = np.asarray(pdf["embedding"].tolist(), dtype=np.float64)
        nrm = np.linalg.norm(X, axis=1)
        nrm[nrm == 0.0] = 1.0
        U = X / nrm[:, None]
        S = np.round(U @ U.T, 9)  # quantized pairwise sims
        n = len(ids)
        chosen: list[int] = []
        best_sim = np.full(n, -np.inf)
        rows = []
        for r in range(min(k_i, n)):
            if chosen:
                score = lam_f * rel - (1.0 - lam_f) * best_sim
            else:
                score = lam_f * rel
            score = np.round(score, 9)
            score[chosen] = -np.inf
            # argmax with vec_id tie-break: ids are sorted ascending,
            # so the FIRST max index is the smallest vec_id
            i = int(np.argmax(score))
            rows.append(
                (
                    int(pdf["q_id"].iloc[0]),
                    r + 1,
                    int(ids[i]),
                    float(rel[i]),
                    float(score[i]),
                )
            )
            chosen.append(i)
            best_sim = np.maximum(best_sim, S[:, i])
        return pd.DataFrame(
            rows, columns=["q_id", "mmr_rank", "vec_id", "rel", "score"]
        )

    return (
        withv.groupBy("q_id")
        .applyInPandas(greedy, out_schema)
        .orderBy("q_id", "mmr_rank")
    )


def embedding_drift_report(embeddings: DataFrame) -> DataFrame:
    """Embedding-space drift diagnostic: per-label centroid shift from
    the GLOBAL corpus centroid plus norm statistics — the fleet-health
    report an embedding pipeline watches across model or corpus
    versions (a label whose centroid walks away from the corpus mean,
    or whose norms inflate, signals upstream distribution change before
    any downstream metric moves).

    Output: (label, n, centroid_shift, avg_norm, norm_ratio) —
    centroid_shift = ‖c_label − c_global‖₂ over per-dimension means,
    norm_ratio = label mean norm / corpus mean norm; 6-dp rounds AFTER
    all aggregation (per-dim double means carry summation-order ulps;
    the nearest_centroid oracle proved this grain hash-stable at 9 dp).

    Scale: two posexplode aggregates keyed by (label, dim) and (dim) —
    shuffle volume is labels×dim + dim rows, never corpus-sized; the
    dim-grain join is a broadcast.
    """
    exploded = embeddings.select(
        "label", F.posexplode(F.col("embedding")).alias("i", "x")
    ).select("label", "i", F.col("x").cast("double").alias("x"))
    per_label = exploded.groupBy("label", "i").agg(
        F.avg("x").alias("c")
    )
    global_ = exploded.groupBy("i").agg(F.avg("x").alias("g"))
    shift = (
        per_label.join(F.broadcast(global_), "i")
        .groupBy("label")
        .agg(
            F.sqrt(F.sum((F.col("c") - F.col("g")) * (F.col("c") - F.col("g"))))
            .alias("_shift")
        )
    )
    nrm = V.norm(F.col("embedding"))
    stats = embeddings.groupBy("label").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.avg(nrm).alias("_avg_norm"),
    )
    gnorm = embeddings.agg(F.avg(nrm).alias("_g_norm"))
    return (
        stats.join(shift, "label")
        .crossJoin(F.broadcast(gnorm))
        .select(
            "label",
            "n",
            F.round("_shift", 6).alias("centroid_shift"),
            F.round("_avg_norm", 6).alias("avg_norm"),
            F.round(F.col("_avg_norm") / F.col("_g_norm"), 6).alias(
                "norm_ratio"
            ),
        )
        .orderBy("label")
    )


def hard_negative_mining(
    embeddings: DataFrame, queries: DataFrame, k: int = 5
) -> DataFrame:
    """Contrastive-training pair mining: for every query vector, the k
    HARD NEGATIVES (most-similar vectors with a DIFFERENT label — the
    near-miss impostors a contrastive loss learns the most from) and
    the k HARD POSITIVES (least-similar vectors with the SAME label —
    the far-flung in-class examples that stretch the margin). The
    standard batch-mining step for triplet/InfoNCE fine-tuning
    (Schroff et al. 2015, FaceNet §3.2's semi-hard selection, done
    corpus-wide).

    Output: (q_id, kind 'neg'|'pos', rank, vec_id, label, cos) — exact
    cosine, deterministic (cos, vec_id) tiebreak, 6-dp display round.

    Scale: the query frame broadcasts (the ann_bruteforce shape — this
    is the exact-scoring baseline; swap ann_ivf/ann_hnsw upstream for
    candidate generation at corpus scale); both rankings partition by
    (q_id, same-label flag), so ONE exchange serves the two windows.
    """
    q = queries.select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("q_emb"),
        F.col("label").alias("q_label"),
    )
    scored = (
        embeddings.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            "vec_id",
            "label",
            (F.col("label") == F.col("q_label")).alias("same"),
            F.round(V.cosine(F.col("q_emb"), F.col("embedding")), 9).alias(
                "cos"
            ),
        )
    )
    w_neg = Window.partitionBy("q_id", "same").orderBy(
        F.desc("cos"), F.col("vec_id")
    )
    w_pos = Window.partitionBy("q_id", "same").orderBy(
        F.asc("cos"), F.col("vec_id")
    )
    ranked = scored.select(
        "*",
        F.row_number().over(w_neg).alias("_rn_neg"),
        F.row_number().over(w_pos).alias("_rn_pos"),
    )
    neg = ranked.filter(~F.col("same") & (F.col("_rn_neg") <= k)).select(
        "q_id",
        F.lit("neg").alias("kind"),
        F.col("_rn_neg").cast("int").alias("rank"),
        "vec_id",
        "label",
        F.round("cos", 6).alias("cos"),
    )
    pos = ranked.filter(F.col("same") & (F.col("_rn_pos") <= k)).select(
        "q_id",
        F.lit("pos").alias("kind"),
        F.col("_rn_pos").cast("int").alias("rank"),
        "vec_id",
        "label",
        F.round("cos", 6).alias("cos"),
    )
    return neg.unionByName(pos).orderBy("q_id", "kind", "rank")
