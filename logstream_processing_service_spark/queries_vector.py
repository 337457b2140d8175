"""Driver-contract queries: vector/similarity operators over ``embeddings``
(SURVEY §2.9 M3/J4 + north-star ANN)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .catalog import _t, spec
from .functions import vector as V
from .operators import similarity as S
from .session import scratch_dir

DIM = 64

_CENTROIDS_CTE = f"""
    cent_dim AS (
        SELECT label, i, avg(CAST(embedding[i] AS DOUBLE)) AS m
        FROM embeddings, range(1, {DIM + 1}) t(i)
        GROUP BY label, i
    ),
    centroids AS (
        SELECT label, list(m ORDER BY i) AS centroid FROM cent_dim GROUP BY label
    )
"""


@spec(
    "nearest_centroid",
    f"""
    WITH {_CENTROIDS_CTE},
    scored AS (
        SELECT e.vec_id, c.label AS c_label,
               round({V.minkowski_sql_duckdb("e.embedding", "c.centroid", DIM, 1.5)}, 9) AS dist
        FROM embeddings e, centroids c
    )
    SELECT vec_id, c_label AS assigned_label, round(dist, 6) AS dist FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist, c_label) AS rn
        FROM scored
    ) WHERE rn = 1
    """,
    "M3", "J4",
)
def q_nearest_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    return S.assign_nearest_centroid(emb, S.label_centroids(emb)).select(
        "vec_id", "assigned_label", "dist"
    )


@spec(
    "ann_bruteforce",
    f"""
    WITH q AS (
        SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings WHERE vec_id < 10
    ),
    scored AS (
        SELECT q.q_id, e.vec_id,
               round({V.cosine_sql_duckdb("q.q_emb", "e.embedding", DIM)}, 9) AS cos
        FROM embeddings e, q WHERE e.vec_id <> q.q_id
    )
    SELECT q_id, CAST(rank AS INT) AS rank, vec_id, round(cos, 6) AS cos FROM (
        SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rank
        FROM scored
    ) WHERE rank <= 5
    """,
    "similarity", "bench",
)
def q_ann_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    emb = _t(spark, sf_dir, "embeddings")
    return S.ann_bruteforce(emb, emb.filter(F.col("vec_id") < 10), k=5)


@spec(
    "ann_ivf",
    f"""
    WITH {_CENTROIDS_CTE},
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
    """,
    "similarity",
)
def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    emb = _t(spark, sf_dir, "embeddings")
    return S.ann_ivf(
        emb, S.label_centroids(emb), emb.filter(F.col("vec_id") < 10), k=5, nprobe=2
    )


@spec(
    "embedding_near_dup",
    f"""
    SELECT a.vec_id AS id1, b.vec_id AS id2,
           round({V.cosine_sql_duckdb("a.embedding", "b.embedding", DIM)}, 6) AS cos
    FROM embeddings a, embeddings b
    WHERE a.vec_id < b.vec_id
      AND round({V.cosine_sql_duckdb("a.embedding", "b.embedding", DIM)}, 6) >= 0.4
    """,
    "dedup", "similarity",
)
def q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return S.embedding_near_dup_pairs(_t(spark, sf_dir, "embeddings"), threshold=0.4)


@spec(
    "embedding_norm_stats",
    f"""
    SELECT label, count(*) AS n,
           round(avg({V.norm_sql_duckdb("embedding", DIM)}), 6) AS avg_norm,
           round(min({V.norm_sql_duckdb("embedding", DIM)}), 6) AS min_norm,
           round(max({V.norm_sql_duckdb("embedding", DIM)}), 6) AS max_norm
    FROM embeddings GROUP BY label ORDER BY label
    """,
    "vector",
)
def q_embedding_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    emb = _t(spark, sf_dir, "embeddings")
    n = V.norm(F.col("embedding"))
    return (
        emb.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg(n), 6).alias("avg_norm"),
            F.round(F.min(n), 6).alias("min_norm"),
            F.round(F.max(n), 6).alias("max_norm"),
        )
        .orderBy("label")
    )


def _lsh_near_dup_oracle(threshold: float = 0.3, max_bucket: int = 2000) -> str:
    sig_sql = V.lsh_signature_sql_duckdb("embedding", DIM)
    band_selects = " UNION ALL ".join(
        f"SELECT vec_id, embedding, {bi} AS band, "
        f"(sig // {1 << (V.LSH_BAND_BITS * bi)}) % {1 << V.LSH_BAND_BITS} AS bval FROM sig"
        for bi in range(V.LSH_BANDS)
    )
    return f"""
    WITH sig AS (
        SELECT vec_id, embedding, {sig_sql} AS sig FROM embeddings
    ),
    banded AS ({band_selects}),
    sized AS (
        SELECT *, count(*) OVER (PARTITION BY band, bval) AS bsz FROM banded
    ),
    cand AS (
        SELECT DISTINCT a.vec_id AS id1, b.vec_id AS id2,
               round({V.cosine_sql_duckdb("a.embedding", "b.embedding", DIM)}, 6) AS cos
        FROM sized a JOIN sized b ON a.band = b.band AND a.bval = b.bval
        WHERE a.vec_id < b.vec_id AND a.bsz <= {max_bucket}
    )
    SELECT id1, id2, cos FROM cand WHERE cos >= {threshold}
    """


@spec("embedding_near_dup_lsh", _lsh_near_dup_oracle(), "vector", "dedup", "lsh")
def q_embedding_near_dup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return S.embedding_near_dup_lsh(_t(spark, sf_dir, "embeddings"), threshold=0.3)


@spec("ann_pq", None, "similarity", "pq", "rows-only")
def q_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ-ADC approximate top-k (rows-only: the codebooks are trained
    k-means state, not SQL-expressible; recall vs exact L2 is asserted in
    tests/test_pq.py)."""
    from pyspark.sql import functions as F

    emb = _t(spark, sf_dir, "embeddings")
    return S.ann_pq(emb, emb.filter(F.col("vec_id") < 10), k=5)


@spec("semantic_dedup", None, "dedup", "similarity", "rows-only")
def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup cluster-then-prune decision table (rows-only: k-means
    centroids are trained state; an exact numpy replica of the whole
    pipeline is asserted in tests/test_semantic_dedup.py)."""
    return S.semantic_dedup(_t(spark, sf_dir, "embeddings"))


@spec("ann_ivf_pq", None, "similarity", "pq", "ivf", "rows-only")
def q_ann_ivf_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF+PQ residual-encoded probe search (rows-only: trained k-means
    codebooks; recall vs exact L2 asserted in tests/test_pq.py)."""
    from pyspark.sql import functions as F

    emb = _t(spark, sf_dir, "embeddings")
    return S.ann_ivf_pq(emb, emb.filter(F.col("vec_id") < 10), k=5, nprobe=2)


@spec(
    "embedding_int8_report",
    """
    WITH s AS (
        SELECT vec_id, embedding,
               CAST(list_max(list_transform(embedding, x -> abs(x)))
                    AS DOUBLE) / CAST(127 AS DOUBLE) AS scale
        FROM embeddings
    ),
    e AS (
        SELECT vec_id, scale,
               list_transform(embedding,
                   x -> abs(x - least(greatest(round(x / scale),
                                               CAST(-127 AS DOUBLE)),
                                      CAST(127 AS DOUBLE)) * scale)) AS err
        FROM s WHERE scale > 0
    )
    SELECT vec_id,
           round(scale, 9) AS scale,
           round(list_max(err), 9) AS max_abs_err,
           round(list_sum(list_transform(err, v -> v * v)) / len(err), 12)
               AS mse
    FROM e
    """,
    "north-star", "quantization", "storage",
)
def q_embedding_int8_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    return S.embedding_int8_report(_t(spark, sf_dir, "embeddings"))


@spec("ann_ivfpq_index", None, "similarity", "pq", "ivf", "index", "rows-only")
def q_ann_ivfpq_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized IVF+PQ: build the partitioned codes index into a temp
    dir, then probe it — the end-to-end storage-layout path (rows-only:
    trained codebooks; equality with the in-memory ann_ivf_pq and the
    partition-pruning proof are asserted in tests/test_pq.py)."""
    from pyspark.sql import functions as F

    from .operators.similarity import (
        build_ivfpq_index,
        label_centroids,
        search_ivfpq_index,
    )

    emb = _t(spark, sf_dir, "embeddings")
    cents = label_centroids(emb)
    path = scratch_dir("ivfpq_index")
    books = build_ivfpq_index(emb, cents, path, m=8, n_centroids=16)
    return search_ivfpq_index(
        spark, path, cents, books, emb.filter(F.col("vec_id") < 10), k=5,
        nprobe=2,
    )


@spec("embedding_pca", None, "vector", "pca", "rows-only")
def q_embedding_pca(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed-moment PCA audit (eigensolve on a d×d covariance only;
    no corpus-sized data ever reaches the driver). Rows-only: DuckDB has
    no eigensolver — correctness is pinned by tests/test_pca.py (exact
    parity vs an in-memory numpy PCA at test scale, orthonormality,
    partitioning invariance)."""
    return S.embedding_pca_report(_t(spark, sf_dir, "embeddings"), k=8)


@spec("ann_hnsw", None, "similarity", "hnsw", "rows-only")
def q_ann_hnsw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HNSW graph ANN, same contract as ann_bruteforce (rows-only: graph
    construction is seeded-stochastic navigable-small-world state, not
    SQL-expressible; recall >= 0.85 vs exact and the exhaustive-beam ==
    exact property are asserted in tests/test_hnsw.py). At corpus scale
    the graph is the ROUTING index — see ann_ivf_hnsw."""
    from pyspark.sql import functions as F

    from .operators import hnsw as H

    emb = _t(spark, sf_dir, "embeddings")
    # ef_construction=32: recall≈0.98 on this corpus (vs 1.0 at 64) at
    # half the driver build cost — the build runs at fn() time per bench
    # round, and the graph is a routing-scale artifact, not the product
    return H.ann_hnsw(emb, emb.filter(F.col("vec_id") < 10), k=5,
                      ef_construction=32)


@spec("ann_ivf_hnsw", None, "similarity", "hnsw", "ivf", "rows-only")
def q_ann_ivf_hnsw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF fine pass with HNSW centroid routing (the SPANN/DiskANN-shaped
    composition for 100 TB: graph over centroids replaces the brute-force
    nlist scan per query; routing parity vs the scan path asserted in
    tests/test_hnsw.py)."""
    from pyspark.sql import functions as F

    from .operators import hnsw as H
    from .operators.similarity import label_centroids

    emb = _t(spark, sf_dir, "embeddings")
    return H.ann_ivf_hnsw(
        emb, label_centroids(emb), emb.filter(F.col("vec_id") < 10),
        k=5, nprobe=2,
    )


@spec(
    "ann_hnsw_registry", None,
    "similarity", "hnsw", "index", "txlog", "rows-only",
)
def q_ann_hnsw_registry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Durable incremental HNSW (VERDICT r5 #5): build over the first
    third of the corpus, persist via the txlog registry, grow it with
    two insert_hnsw commits (paper's insert algorithm, same PCG64
    stream), then serve from the LOADED graph. Rows-only: seeded graph
    state is not SQL-expressible — rebuild==incremental bit-parity, the
    append-only id contract, and the recall floor are asserted in
    tests/test_hnsw.py."""
    import numpy as np
    from pyspark.sql import functions as F

    from .operators import hnsw as H

    emb = _t(spark, sf_dir, "embeddings")
    n = emb.count()
    c1, c2 = n // 3, 2 * n // 3
    d = scratch_dir("hnsw_registry")
    idx = H.build_hnsw(
        emb.filter(F.col("vec_id") < c1), M=8, ef_construction=32, seed=0
    )
    H.save_hnsw(spark, idx, d)
    H.insert_hnsw(
        spark, d, emb.filter((F.col("vec_id") >= c1) & (F.col("vec_id") < c2))
    )
    H.insert_hnsw(spark, d, emb.filter(F.col("vec_id") >= c2))
    grown = H.load_hnsw(spark, d)

    out_schema = "q_id long, rank int, vec_id long, cos double"
    import pandas as pd

    def probe(batches):
        for pdf in batches:
            rows = []
            for qid, e in zip(pdf["vec_id"], pdf["embedding"]):
                hits = grown.search(
                    np.asarray(e, dtype=np.float64), 5, ef=60,
                    exclude_id=int(qid),
                )
                for r, (vid, cos) in enumerate(hits, start=1):
                    rows.append((int(qid), r, int(vid), round(cos, 6)))
            yield pd.DataFrame(
                rows, columns=["q_id", "rank", "vec_id", "cos"]
            )

    return (
        emb.filter(F.col("vec_id") < 10)
        .select("vec_id", "embedding")
        .mapInPandas(probe, out_schema)
        .orderBy("q_id", "rank")
    )


# ---------------------------------------------------------------------------
# r7 registrations: ColBERT-style late-interaction retrieval
# ---------------------------------------------------------------------------


from .operators.retrieval import maxsim_oracle_sql as _maxsim_oracle_sql  # noqa: E402


@spec(
    "maxsim_search",
    _maxsim_oracle_sql(),
    "retrieval", "late-interaction", "maxsim",
)
def q_maxsim_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ColBERT maxsim top-10 per query over hash token embeddings:
    per-query-token MAX similarity against each doc's token set, summed
    across query tokens (Khattab & Zaharia 2020 scoring). Vocabulary-
    grain embedding compute; partial (query, qtok, doc) MAX combine
    before the single corpus exchange. Integer-unit flooring makes the
    sum associative, so the DuckDB twin hash-matches bit-for-bit."""
    from .operators.retrieval import maxsim_topk

    return maxsim_topk(_t(spark, sf_dir, "documents"))


@spec(
    "maxsim_search_routed",
    None,
    "retrieval", "late-interaction", "plaid", "rows-only",
)
def q_maxsim_search_routed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PLAID-routed approximate maxsim: doc tokens bucket to nearest
    frequency-anchor; query tokens probe only their n_probe buckets.
    Rows-only: the EXACT operator is its oracle — n_probe == n_anchors
    degeneration equals maxsim_topk bit-for-bit (pinned in
    tests/test_maxsim_oracle.py), and measured pruning is ~2.2× at 50k
    docs, growing with corpus."""
    from .operators.retrieval import maxsim_topk_routed

    return maxsim_topk_routed(_t(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# r8 registration (rehearsed r7): the ANN accuracy surface — recall@k
# of every approximate index against the exact baseline, as one
# driver-visible report.
# ---------------------------------------------------------------------------


@spec(
    "ann_recall_report",
    None,
    "similarity", "ann", "recall", "rows-only",
)
def q_ann_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(method, recall_at_k, n_queries, k): brute-force (recall 1 by
    construction — the self-check row), the IVF nprobe LADDER (2/4/8 —
    the recall-vs-compute trade-off curve an operator actually tunes;
    measured ~0.35/0.62/0.95 on the synthetic embeddings) and HNSW
    (ef=60, measured 1.0) against the exact top-10. Rows-only: recall
    is a property of the index, not SQL-expressible; per-method floors
    are pinned in tests. Recall is computed DISTRIBUTED — the approx
    and exact hit sets join on (q_id, vec_id), never collected.
    """
    from pyspark.sql import functions as F

    from .operators.hnsw import ann_hnsw
    from .operators.similarity import (
        _ivf_probe,
        _nearest_buckets,
        ann_bruteforce,
        label_centroids,
    )

    k = 10
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 20)
    # cache: caller-owned (repo contract — bench/driver clear per query)
    exact = ann_bruteforce(emb, q, k=k).select("q_id", "vec_id").persist()
    n_exact = exact.count()
    n_q = q.count()

    # r13: the nprobe LADDER shares one persisted coarse assignment —
    # bucket assignment does not depend on nprobe, so computing it per
    # rung paid the |emb| × nlist broadcast-cross + argmin window three
    # times (guide §2.4: two operations keyed the same way share one
    # exchange). cents likewise persists (consumed by the assignment
    # and by every rung's query-side probe). Each rung is then exactly
    # ann_ivf's probe stage over the shared frames — identical results
    # by construction. The bruteforce rung reuses the persisted exact
    # frame (it IS the same computation — pure subtree reuse).
    # cache: caller-owned (repo contract — bench/driver clear per query)
    cents = label_centroids(emb).persist()
    bucketed = _nearest_buckets(
        emb, cents, "vec_id", "embedding", 1, "v_bucket"
    ).persist()
    methods = {
        "bruteforce": exact,
        "ivf_nprobe2": _ivf_probe(bucketed, cents, q, k, 2),
        "ivf_nprobe4": _ivf_probe(bucketed, cents, q, k, 4),
        "ivf_nprobe8": _ivf_probe(bucketed, cents, q, k, 8),
        "hnsw_ef60": ann_hnsw(emb, q, k=k, ef_search=60),
    }
    out = None
    for name, hits in methods.items():
        inter = hits.select("q_id", "vec_id").join(
            exact, ["q_id", "vec_id"], "left_semi"
        )
        row = inter.agg(
            F.round(F.count(F.lit(1)) / F.lit(float(n_exact)), 4).alias(
                "recall_at_k"
            )
        ).select(
            F.lit(name).alias("method"),
            "recall_at_k",
            F.lit(n_q).cast("bigint").alias("n_queries"),
            F.lit(k).cast("int").alias("k"),
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("method")


@spec("mmr_rerank", None, "similarity", "rag-serving", "rows-only")
def q_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR diversified rerank of each query's exact top-50 candidates
    (λ=0.7, k=10) — the RAG-serving step that keeps near-duplicate
    passages from crowding the context window. Rows-only: the greedy
    selection has no SQL twin; an exact numpy replica and a planted
    redundant-passage fixture pin it (tests/test_mmr.py). One
    Arrow-batched grouped pass per query, nothing collected."""
    from pyspark.sql import functions as F

    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 20)
    return S.mmr_rerank(emb, q, k=10, pool=50, lam=0.7)


@spec(
    "embedding_drift_report",
    f"""
    WITH ex AS (
        SELECT label, i, CAST(embedding[i] AS DOUBLE) AS x
        FROM embeddings, range(1, {DIM + 1}) t(i)
    ),
    per_label AS (
        SELECT label, i, avg(x) AS c FROM ex GROUP BY 1, 2
    ),
    gmean AS (SELECT i, avg(x) AS g FROM ex GROUP BY 1),
    shift AS (
        SELECT label, sqrt(sum((c - g) * (c - g))) AS _shift
        FROM per_label JOIN gmean USING (i) GROUP BY label
    ),
    stats AS (
        SELECT label, CAST(count(*) AS BIGINT) AS n,
               avg({V.norm_sql_duckdb("embedding", DIM)}) AS _avg_norm
        FROM embeddings GROUP BY label
    ),
    gnorm AS (
        SELECT avg({V.norm_sql_duckdb("embedding", DIM)}) AS _g_norm
        FROM embeddings
    )
    SELECT label, n,
           round(_shift, 6) AS centroid_shift,
           round(_avg_norm, 6) AS avg_norm,
           round(_avg_norm / _g_norm, 6) AS norm_ratio
    FROM stats JOIN shift USING (label) CROSS JOIN gnorm
    ORDER BY label
    """,
    "vector", "drift", "M5-ext",
)
def q_embedding_drift_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid shift from the corpus centroid + norm
    statistics — the embedding-pipeline drift dashboard (a label whose
    centroid walks or whose norms inflate signals upstream change
    before downstream metrics move). Two (label, dim)-grain aggregates;
    shuffle volume is labels×dim, never corpus-sized."""
    return S.embedding_drift_report(_t(spark, sf_dir, "embeddings"))


@spec(
    "hard_negative_mining",
    f"""
    WITH q AS (
        SELECT vec_id AS q_id, embedding AS q_emb, label AS q_label
        FROM embeddings WHERE vec_id < 10
    ),
    scored AS (
        SELECT q.q_id, e.vec_id, e.label,
               (e.label = q.q_label) AS same,
               round({V.cosine_sql_duckdb("q.q_emb", "e.embedding", DIM)}, 9) AS cos
        FROM embeddings e, q WHERE e.vec_id <> q.q_id
    ),
    ranked AS (
        SELECT *,
               row_number() OVER (PARTITION BY q_id, same
                                  ORDER BY cos DESC, vec_id) AS rn_neg,
               row_number() OVER (PARTITION BY q_id, same
                                  ORDER BY cos ASC, vec_id) AS rn_pos
        FROM scored
    )
    SELECT q_id, 'neg' AS kind, CAST(rn_neg AS INT) AS rank, vec_id, label,
           round(cos, 6) AS cos
    FROM ranked WHERE NOT same AND rn_neg <= 5
    UNION ALL
    SELECT q_id, 'pos' AS kind, CAST(rn_pos AS INT) AS rank, vec_id, label,
           round(cos, 6) AS cos
    FROM ranked WHERE same AND rn_pos <= 5
    ORDER BY q_id, kind, rank
    """,
    "similarity", "training", "north-star",
)
def q_hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive pair mining: k hardest negatives (nearest
    other-label) + k hardest positives (farthest same-label) per query
    vector — exact cosine baseline with a broadcast query frame; swap
    the ANN lanes upstream for corpus-scale candidate generation."""
    from pyspark.sql import functions as F

    emb = _t(spark, sf_dir, "embeddings")
    return S.hard_negative_mining(emb, emb.filter(F.col("vec_id") < 10), k=5)
