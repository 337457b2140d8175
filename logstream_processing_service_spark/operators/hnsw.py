"""HNSW approximate nearest neighbor (Malkov & Yashunin 2016,
arXiv:1603.09320) — native numpy, no external ANN library.

Reference parity note: the reference's only vector search is the
nearest-centroid scan in src/ml/vector_engine.py:18-30; HNSW is the
north-star ANN component a retrieval/dedup pipeline needs once the
vector count makes brute-force routing the bottleneck.

Role at 100 TB (the honest scale story): a single HNSW graph cannot hold
a 100 TB corpus, and production systems don't ask it to — the graph is
the ROUTING index (SPANN/DiskANN pattern): build HNSW over the IVF
centroids (thousands to millions of rows — driver-bounded the same way
the PQ codebooks and k-means samples already are), route each query to
its nprobe cells via graph search instead of a brute-force scan over
nlist, then run the distributed fine pass over only those cells'
partitions. ``ann_hnsw`` is the graph itself (exact-index small-N
serving + the quality baseline); ``ann_ivf_hnsw`` is the composition.

Implementation notes:
- Cosine metric via normalized vectors (distance = 1 − dot), matching
  operators/similarity.py's ranking.
- Level draw, insertion order, and tie-breaks (by node id) are fully
  deterministic under ``seed`` — same inputs, same graph, same results.
- Neighbor selection uses the paper's Algorithm 4 heuristic (a candidate
  is kept only if it is closer to the query than to every already-kept
  neighbor), which is what keeps the graph navigable on clustered data.
- Search is the standard best-first beam (Algorithm 2) with ``ef``
  dynamic candidates.
"""

from __future__ import annotations

import heapq
import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# The exact C kernel np.einsum("ij,j->i", ...) dispatches to (einsumfunc
# forwards the call verbatim when optimize=False); binding it once keeps
# the hot _dist path free of the Python dispatch wrapper. Arithmetic —
# and thus the graph — is bit-identical; falls back to the public API if
# the private location ever moves.
try:  # numpy 1.x
    from numpy.core._multiarray_umath import c_einsum as _c_einsum
except ImportError:  # pragma: no cover - numpy 2.x relocation
    _c_einsum = np.einsum


DMAT_MAX_NODES = 4096  # node-node distance-matrix precompute cap:
# n² float64 is 134 MB at the cap (driver-trivial), 20 GB at the
# max_index_rows guard — beyond the cap construction falls back to the
# identical per-call einsum path, so the cap is a speed knob, never a
# semantics knob.


class HNSWIndex:
    def __init__(self, M: int = 8, ef_construction: int = 64, seed: int = 0):
        self.M = M
        self.M0 = 2 * M  # level-0 degree cap (paper's Mmax0)
        self.ef_construction = ef_construction
        self.ml = 1.0 / math.log(M)
        self.seed = seed  # persisted in hnsw_meta; compaction rebuilds with it
        self.rng = np.random.default_rng(seed)
        self.vecs: np.ndarray | None = None  # (n, d) L2-normalized
        self.ids: list[int] = []
        self.levels: list[int] = []
        self.links: list[list[list[int]]] = []  # links[node][level] -> nbrs
        self.entry: int = -1
        self.max_level: int = -1
        # node-node distance matrix (build/insert accelerator, never
        # persisted): row i IS _dist(vecs[i], all-nodes) — computed with
        # the SAME per-row einsum call, so every lookup is bit-identical
        # to the per-call path (einsum "ij,j->i" evaluates each output
        # row independently; batch membership cannot change a row)
        self._dmat: np.ndarray | None = None

    # -- distances (1 - cosine on normalized vectors) ---------------------

    def _dist(self, q: np.ndarray, idx) -> np.ndarray:
        # einsum (one fixed per-row summation order, no BLAS batch-shape
        # dispatch) + 1e-12 quantization: BLAS gemv can produce 1-ulp
        # different dots for the SAME row depending on the batch it rides
        # in, which breaks the (dist, node) tie order for duplicate
        # vectors (caught by the hypothesis fuzzer). Quantizing at 1e-12
        # collapses any residual wobble; real ranking margins are orders
        # of magnitude larger, and true ties break by node id.
        # (1.0 - ...).round(12) invokes the same C kernels as
        # np.round(np.einsum(...)) but skips the fromnumeric/einsumfunc
        # Python wrappers — measurable at ~600k calls per 2000-node build.
        return (1.0 - _c_einsum("ij,j->i", self.vecs[idx], q)).round(12)

    def _dist_i(self, qi: int, idx) -> np.ndarray:
        """_dist with the query given as a NODE INDEX: a distance-matrix
        row slice when the matrix is live, the identical einsum call
        otherwise. Only construction paths use it — every construction
        query is a node vector; runtime search queries stay vectors."""
        if self._dmat is not None:
            return self._dmat[qi, idx]
        return self._dist(self.vecs[qi], idx)

    def _compute_dmat(self) -> None:
        """(Re)compute the node-node distance matrix, or drop it past the
        DMAT_MAX_NODES cap. Each row uses the exact _dist kernel (one
        einsum row-sum + round(12)), so lookups are bit-identical to
        per-call evaluation — verified by the build-parity A/B and the
        insert==rebuild suite."""
        n = 0 if self.vecs is None else len(self.vecs)
        if n == 0 or n > DMAT_MAX_NODES:
            self._dmat = None
            return
        D = np.empty((n, n), dtype=np.float64)
        for i in range(n):
            D[i] = (
                1.0 - _c_einsum("ij,j->i", self.vecs, self.vecs[i])
            ).round(12)
        self._dmat = D

    # -- construction -----------------------------------------------------

    def build(self, ids: list[int], X: np.ndarray) -> "HNSWIndex":
        n = len(ids)
        norms = np.linalg.norm(X, axis=1, keepdims=True)
        norms[norms == 0] = 1.0
        self.vecs = (X / norms).astype(np.float64)
        self.ids = list(ids)
        self._compute_dmat()
        draws = self.rng.random(n)
        for i in range(n):
            self._insert(i, int(-math.log(max(draws[i], 1e-300)) * self.ml))
        self._dmat = None  # construction-only state: free n² bytes
        return self

    def _search_layer(self, q: np.ndarray, entry: int, ef: int, level: int,
                      qi: int | None = None):
        """Best-first beam at one level. Returns [(dist, node)] sorted.

        The entry distance goes through the same vectorized _dist path as
        every neighbor batch: mixing numpy's scalar dot with its BLAS
        matrix path can differ by 1 ulp, which breaks the (dist, node)
        tie order for duplicate vectors (caught by the hypothesis
        fuzzer). ``qi``: the query's node index when the query is a node
        (construction) — routes through the distance matrix when live."""
        row = (
            self._dmat[qi]
            if qi is not None and self._dmat is not None
            else None
        )
        if row is not None:
            d0 = float(row[entry])
        elif qi is not None:
            d0 = float(self._dist_i(qi, [entry])[0])
        else:
            d0 = float(self._dist(q, [entry])[0])
        visited = {entry}
        cand = [(d0, entry)]  # min-heap by distance
        best: list[tuple[float, int]] = [(-d0, entry)]  # max-heap (neg)
        while cand:
            d, c = heapq.heappop(cand)
            if d > -best[0][0]:
                break
            nbrs = [
                x for x in self.links[c][level] if x not in visited
            ]
            if not nbrs:
                continue
            visited.update(nbrs)
            if row is not None:
                ds = row[nbrs]
            elif qi is not None:
                ds = self._dist_i(qi, nbrs)
            else:
                ds = self._dist(q, nbrs)
            for x, dx in zip(nbrs, ds):
                dx = float(dx)
                if len(best) < ef or dx < -best[0][0]:
                    heapq.heappush(cand, (dx, x))
                    heapq.heappush(best, (-dx, x))
                    if len(best) > ef:
                        heapq.heappop(best)
        return sorted(((-nd, x) for nd, x in best), key=lambda t: (t[0], t[1]))

    def _select_heuristic(self, q: np.ndarray, cands, m: int):
        """Algorithm 4: keep a candidate only if it is closer to q than to
        every already-selected neighbor (diversity pruning).

        Vectorization (r13): one ``_dist`` batch per SELECTED node over
        the remaining candidates, instead of one per CANDIDATE over the
        selected set (which dominated the build profile at 306k numpy
        invocations for a 2000-node graph). Bit-identical: the pairwise
        dot d(c, s) is the same einsum row-sum either way (elementwise
        IEEE multiplication is commutative and the j-order reduction is
        unchanged), and "candidate c pruned iff some earlier-selected s
        has d(c, s) < d(c, q)" is evaluated eagerly at selection time
        rather than lazily at visit time — same comparisons, same kept
        set, same order."""
        out: list[tuple[float, int]] = []
        k = len(cands)
        pruned = np.zeros(k, dtype=bool)
        cd = np.fromiter((d for d, _ in cands), dtype=np.float64, count=k)
        ci = [c for _, c in cands]
        for i in range(k):
            if len(out) >= m:
                break
            if pruned[i]:
                continue
            out.append((cd[i], ci[i]))
            if i + 1 < k:
                # the pruning query is the SELECTED NODE ci[i] — always a
                # node index, so the matrix row serves it when live
                if self._dmat is not None:
                    ds = self._dmat[ci[i]][ci[i + 1:]]
                else:
                    ds = self._dist(self.vecs[ci[i]], ci[i + 1:])
                pruned[i + 1:] |= ds < cd[i + 1:]
        return out

    def _insert(self, i: int, level: int) -> None:
        self.levels.append(level)
        self.links.append([[] for _ in range(level + 1)])
        if self.entry < 0:
            self.entry, self.max_level = i, level
            return
        q = self.vecs[i]
        ep = self.entry
        for lv in range(self.max_level, level, -1):
            ep = self._search_layer(q, ep, 1, lv, qi=i)[0][1]
        for lv in range(min(level, self.max_level), -1, -1):
            cands = self._search_layer(q, ep, self.ef_construction, lv, qi=i)
            m = self.M0 if lv == 0 else self.M
            chosen = self._select_heuristic(q, cands, m)
            for d, c in chosen:
                self.links[i][lv].append(c)
                self.links[c][lv].append(i)
                cap = self.M0 if lv == 0 else self.M
                if len(self.links[c][lv]) > cap:
                    # re-select c's neighbors with the same heuristic
                    nd = self._dist_i(c, self.links[c][lv])
                    pairs = sorted(
                        zip(map(float, nd), self.links[c][lv]),
                        key=lambda t: (t[0], t[1]),
                    )
                    self.links[c][lv] = [
                        x for _, x in self._select_heuristic(
                            self.vecs[c], pairs, cap
                        )
                    ]
            ep = cands[0][1]
        if level > self.max_level:
            self.entry, self.max_level = i, level

    # -- serving ----------------------------------------------------------

    def search(self, q: np.ndarray, k: int, ef: int = 50,
               exclude_id: int | None = None):
        """Top-k (id, cosine) for one query vector."""
        nq = np.linalg.norm(q)
        qn = q / nq if nq > 0 else q
        ep = self.entry
        for lv in range(self.max_level, 0, -1):
            ep = self._search_layer(qn, ep, 1, lv)[0][1]
        found = self._search_layer(qn, ep, max(ef, k + 1), 0)
        out = []
        for d, node in found:
            vid = self.ids[node]
            if exclude_id is not None and vid == exclude_id:
                continue
            out.append((vid, 1.0 - d))
            if len(out) == k:
                break
        return out


MAX_INDEX_ROWS = 50_000  # driver-build guard. Memory is not the binding
# constraint — BUILD THROUGHPUT is: this pure-Python/numpy insert loop
# measures ~50-60 inserts/s at d=64, ef_construction=64 (~15 min at the
# guard), which is the honest cost of a from-scratch graph without a C
# library. The scale path is ann_ivf_hnsw — the graph over the CENTROID
# set (thousands of rows, built once per index lifetime) routes queries
# while the corpus stays distributed; a flat graph beyond the guard
# should use a native HNSW build (faiss/hnswlib) behind this same API.


def build_hnsw(
    embeddings: DataFrame,
    M: int = 8,
    ef_construction: int = 64,
    seed: int = 0,
    max_index_rows: int = MAX_INDEX_ROWS,
) -> HNSWIndex:
    """Collect (vec_id, embedding) with a loud bound and build the graph
    driver-side — the PQ-codebook/k-means-sample pattern: the MODEL is
    driver-sized, serving is distributed."""
    n = embeddings.count()
    if n > max_index_rows:
        raise ValueError(
            f"build_hnsw over {n} rows exceeds max_index_rows="
            f"{max_index_rows}: a corpus this large routes through "
            "ann_ivf_hnsw (HNSW over centroids) instead of a flat graph"
        )
    rows = embeddings.select("vec_id", "embedding").collect()
    rows.sort(key=lambda r: r["vec_id"])  # insertion order is part of the
    # determinism contract — collect() order is not stable across plans
    ids = [int(r["vec_id"]) for r in rows]
    X = np.array([r["embedding"] for r in rows], dtype=np.float64)
    return HNSWIndex(M=M, ef_construction=ef_construction, seed=seed).build(
        ids, X
    )


def ann_hnsw(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    M: int = 8,
    ef_construction: int = 64,
    ef_search: int = 60,
    seed: int = 0,
) -> DataFrame:
    """HNSW ANN with the same output contract as ann_bruteforce
    (q_id, rank, vec_id, cos): graph built driver-side once, searches
    distributed over the query frame via an Arrow-batched mapInPandas
    (the graph rides the closure like the PQ LUTs — measured faster than
    carrying index state through a join in the ann_pq lesson).

    Tuning card (measured recall@10 vs exact cosine top-10 on the
    synthetic embeddings at sf0.001 AND sf0.01, driver-visible as
    ``ann_recall_report``, floor-pinned in tests/test_ann_recall.py):
    ef_search=60 → recall 1.0, vs the IVF nprobe ladder's
    0.35/0.62/0.95 at nprobe 2/4/8 — HNSW buys exactness at the cost of
    a driver-sized graph build (guarded at ``max_index_rows``; beyond
    that, route through ``ann_ivf_hnsw``'s SPANN shape). ef_search is
    the runtime knob: recall falls with it (≈0.98 at ef=32 on this
    corpus) while search cost is ~O(ef·log n)."""
    index = build_hnsw(
        embeddings, M=M, ef_construction=ef_construction, seed=seed
    )
    out_schema = "q_id long, rank int, vec_id long, cos double"

    def probe(batches):
        for pdf in batches:
            rows = []
            for qid, emb in zip(pdf["vec_id"], pdf["embedding"]):
                hits = index.search(
                    np.asarray(emb, dtype=np.float64),
                    k,
                    ef=ef_search,
                    exclude_id=int(qid),
                )
                for r, (vid, cos) in enumerate(hits, start=1):
                    rows.append((int(qid), r, int(vid), round(cos, 6)))
            yield pd.DataFrame(
                rows, columns=["q_id", "rank", "vec_id", "cos"]
            )

    return (
        queries.select("vec_id", "embedding")
        .mapInPandas(probe, out_schema)
        .orderBy("q_id", "rank")
    )


def ann_ivf_hnsw(
    embeddings: DataFrame,
    centroids: DataFrame,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 2,
    ef_search: int = 32,
    seed: int = 0,
) -> DataFrame:
    """IVF with HNSW centroid routing — the 100 TB composition: coarse
    assignment and the fine pass stay exactly ann_ivf's distributed
    joins, but each query's nprobe cells come from a graph search over
    the centroid set instead of a brute-force scan of all nlist
    centroids (the routing cost that dominates once nlist reaches the
    10⁵-10⁶ a 100 TB corpus needs). Centroids are KBs-MBs, so the graph
    build is trivially driver-bounded."""
    from pyspark.sql import Window

    from ..functions import vector as V

    cent_rows = centroids.select(
        F.col("label").cast("long").alias("vec_id"),
        F.col("centroid").alias("embedding"),
    )
    index = build_hnsw(cent_rows, M=8, ef_construction=64, seed=seed)

    def route(batches):
        for pdf in batches:
            rows = []
            for qid, emb in zip(pdf["vec_id"], pdf["embedding"]):
                hits = index.search(
                    np.asarray(emb, dtype=np.float64), nprobe, ef=ef_search
                )
                for vid, _ in hits:
                    rows.append((int(qid), int(vid)))
            yield pd.DataFrame(rows, columns=["q_id", "q_bucket"])

    probed = (
        queries.select("vec_id", "embedding")
        .mapInPandas(route, "q_id long, q_bucket long")
        .join(
            queries.select(
                F.col("vec_id").alias("q_id"),
                F.col("embedding").alias("q_emb"),
            ),
            "q_id",
        )
    )
    cent_b = F.broadcast(
        centroids.select(F.col("label").alias("bucket"), "centroid")
    )
    cand = embeddings.crossJoin(cent_b).withColumn(
        "_d", F.round(V.minkowski(F.col("embedding"), F.col("centroid"), 2.0), 9)
    )
    w = Window.partitionBy("vec_id").orderBy("_d", "bucket")
    bucketed = (
        cand.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("vec_id", "embedding", F.col("bucket").alias("v_bucket"))
    )
    scored = (
        bucketed.join(
            F.broadcast(probed), F.col("v_bucket") == F.col("q_bucket")
        )
        .filter(F.col("vec_id") != F.col("q_id"))
        .withColumn(
            "cos", F.round(V.cosine(F.col("q_emb"), F.col("embedding")), 9)
        )
    )
    w2 = Window.partitionBy("q_id").orderBy(F.desc("cos"), F.col("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .select("q_id", "rank", "vec_id", F.round("cos", 6).alias("cos"))
    )


# ---------------------------------------------------------------------------
# Registry: persistence + incremental insert (VERDICT r5 #5)
# ---------------------------------------------------------------------------
#
# The graph is a ROUTING-scale artifact (centroids / small-N serving), so
# persistence is the txlog registry pattern shared with ann_ivfpq_index
# and the streaming BM25 index: the node table (id, level, vector, links)
# is a txlog snapshot; entry point, caps, and the RNG midstream state
# ride in the manifest's application metadata. Each insert batch commits
# a NEW snapshot (inserts rewire existing nodes' neighbor lists, so the
# node set is rewritten — MBs at routing scale, and readers keep snapshot
# isolation while a rebuild lands).
#
# Incremental == rebuild, EXACTLY: level draws come from one PCG64
# stream (numpy Generator sequential draws are stream-stable, asserted
# in tests), and the monotone-id contract below makes batch-concat order
# identical to the full rebuild's sorted-id insertion order. So N
# insert_hnsw calls produce bit-for-bit the graph one build_hnsw over
# the union would — the matview_refresh_twin shape, for graph state.


def _index_state(index: HNSWIndex) -> dict:
    import json

    return {
        "hnsw_meta": json.dumps(
            {
                "M": index.M,
                "ef_construction": index.ef_construction,
                "seed": index.seed,
                "entry": index.entry,
                "max_level": index.max_level,
                "rng_state": index.rng.bit_generator.state,
            }
        )
    }


def _node_frame(spark, index: HNSWIndex):
    """The node table (vec_id, level, vec, links) as ONE-partition
    DataFrame, built through an Arrow table instead of pickled Python
    rows (guide §4.1/§6): the graph is a codebook-scale artifact
    (≤ max_index_rows), so a 32-partition local relation paid 32 tiny
    parquet files and a row-pickling pass per snapshot commit — measured
    2.5 s → 0.3 s per save at 666 nodes, bit-identical rows.

    An index constructed but never built has ``vecs is None`` — treat it
    as zero rows (the old row-list path returned an empty frame for
    ids=[]; iterating None raised TypeError instead)."""
    import pyarrow as pa

    if index.vecs is None:
        tbl = pa.table(
            {
                "vec_id": pa.array([], pa.int64()),
                "level": pa.array([], pa.int32()),
                "vec": pa.array([], pa.list_(pa.float64())),
                "links": pa.array([], pa.list_(pa.list_(pa.int32()))),
            }
        )
        return spark.createDataFrame(tbl).coalesce(1)
    tbl = pa.table(
        {
            "vec_id": pa.array([int(i) for i in index.ids], pa.int64()),
            "level": pa.array([int(v) for v in index.levels], pa.int32()),
            "vec": pa.array(
                [v.tolist() for v in index.vecs], pa.list_(pa.float64())
            ),
            "links": pa.array(
                [[list(map(int, l)) for l in ls] for ls in index.links],
                pa.list_(pa.list_(pa.int32())),
            ),
        }
    )
    return spark.createDataFrame(tbl).coalesce(1)


def save_hnsw(spark, index: HNSWIndex, index_dir: str) -> int:
    """Persist the graph as a txlog snapshot: one row per node
    (vec_id, level, unit vector, per-level neighbor lists as node
    POSITIONS in sorted-id order — positions are stable because ids only
    grow)."""
    from . import txlog as TX

    return TX.commit(
        index_dir,
        _node_frame(spark, index),
        mode="overwrite",
        extra=_index_state(index),
    )


def load_hnsw(spark, index_dir: str) -> HNSWIndex:
    """Reconstruct the graph from the latest snapshot + manifest meta."""
    import json

    from . import txlog as TX

    versions = TX._versions(index_dir)
    if not versions:
        raise ValueError(f"no committed HNSW snapshot under {index_dir}")
    meta = json.loads(TX._manifest(index_dir, versions[-1])["hnsw_meta"])
    rows = TX.read_snapshot(spark, index_dir).collect()
    rows.sort(key=lambda r: r["vec_id"])
    # pre-r8 manifests predate the persisted seed; they were all built
    # with the default seed=0, so the fallback preserves their parity.
    index = HNSWIndex(
        M=meta["M"],
        ef_construction=meta["ef_construction"],
        seed=int(meta.get("seed", 0)),
    )
    index.rng.bit_generator.state = meta["rng_state"]
    index.ids = [int(r["vec_id"]) for r in rows]
    index.levels = [int(r["level"]) for r in rows]
    index.links = [
        [[int(n) for n in lvl] for lvl in r["links"]] for r in rows
    ]
    index.vecs = np.array([r["vec"] for r in rows], dtype=np.float64)
    index.entry = meta["entry"]
    index.max_level = meta["max_level"]
    return index


def insert_hnsw_batch(index: HNSWIndex, ids: list[int], X: np.ndarray) -> None:
    """Insert a batch with the paper's insert algorithm (the same
    ``_insert`` construction uses), continuing the index's RNG stream.

    Monotone-id contract: every new id must exceed the current max id
    and the batch must be fed sorted — that makes the cumulative
    insertion order equal to a full rebuild's sorted-id order, which is
    what the rebuild==incremental parity guarantee rests on. Out-of-order
    ids need a rebuild (build_hnsw) by design."""
    if not ids:
        return
    sids = sorted(int(i) for i in ids)
    if sids != [int(i) for i in ids]:
        raise ValueError("insert_hnsw_batch: batch ids must be sorted")
    if index.ids and sids[0] <= index.ids[-1]:
        raise ValueError(
            f"insert_hnsw_batch: new ids start at {sids[0]} but the index "
            f"already holds ids up to {index.ids[-1]} — the registry is "
            "append-only on id; rebuild for out-of-order ids"
        )
    norms = np.linalg.norm(X, axis=1, keepdims=True)
    norms[norms == 0] = 1.0
    Xn = (X / norms).astype(np.float64)
    base = len(index.ids)
    index.vecs = Xn if index.vecs is None else np.vstack([index.vecs, Xn])
    index.ids.extend(sids)
    index._compute_dmat()  # construction accelerator over the grown set
    draws = index.rng.random(len(sids))
    for j in range(len(sids)):
        index._insert(
            base + j, int(-math.log(max(draws[j], 1e-300)) * index.ml)
        )
    index._dmat = None  # construction-only state: free n² bytes


def insert_hnsw(spark, index_dir: str, embeddings: DataFrame) -> int:
    """Load → insert batch → commit: the durable incremental-insert step.
    Returns the new snapshot version."""
    index = load_hnsw(spark, index_dir)
    rows = embeddings.select("vec_id", "embedding").collect()
    rows.sort(key=lambda r: r["vec_id"])
    insert_hnsw_batch(
        index,
        [int(r["vec_id"]) for r in rows],
        np.array([r["embedding"] for r in rows], dtype=np.float64),
    )
    return save_hnsw(spark, index, index_dir)
