"""Graph operators: PageRank by distributed power iteration.

Reference parity note: the reference has no graph layer; this extends the
engine the same way dedup_clusters' connected components did — the other
standard iterative-graph primitive a corpus/recommendation pipeline needs
(link-graph quality weights for web corpora, co-occurrence importance for
catalog data).

Scale design: each iteration is ONE edge→rank equi-join plus ONE dst-keyed
aggregation — the Pregel message-passing step expressed relationally, so
Catalyst/AQE handle skew and the edge frame partitioning is reused across
iterations (persisted once). Ranks are cut per iteration
(session.cut_lineage): the lineage would otherwise grow by a join+agg per
step and replan from scratch (the same discipline as
dedup.connected_components).
Damping handles rank mass exactly because the co-order graph is
undirected (every node has out-degree >= 1; no dangling-mass term).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import cut_lineage

DAMPING = 0.85
N_ITER = 8


def co_order_edges(lineitem: DataFrame) -> DataFrame:
    """Simple undirected co-purchase graph: parts appearing in the same
    order, deduplicated to one edge per unordered pair, emitted in both
    directions.

    Pair formation is IN-ROW (guide §2.3/§2.4 — one collect_set exchange
    keyed on the order, then array combinatorics), not a self-join: the
    former items⋈items plan paid a (l_orderkey, l_partkey) distinct
    exchange PLUS a broadcast of the whole item list; collect_set dedups
    (o, p) for free inside the same single exchange, and array_sort makes
    the in-row expansion emit each unordered pair exactly once (strict <
    holds because set elements are distinct). Per-order item lists are
    small (TPC-H ~4), so the expansion is bounded per key. The pair
    distinct is the one remaining exchange — identical edge set to the
    self-join form."""
    items = lineitem.groupBy(F.col("l_orderkey").alias("o")).agg(
        F.array_sort(F.collect_set("l_partkey")).alias("ps")
    )
    combos = F.expr(
        "flatten(transform(ps, (x, i) -> "
        "transform(slice(ps, i+2, size(ps)-i-1), "
        "y -> struct(x AS p1, y AS p2))))"
    )
    und = (
        items.select(F.explode(combos).alias("p"))
        .select("p.p1", "p.p2")
        .distinct()
    )
    return und.select(
        F.col("p1").alias("src"), F.col("p2").alias("dst")
    ).unionByName(und.select(F.col("p2").alias("src"), F.col("p1").alias("dst")))


def pagerank(
    edges: DataFrame,
    n_iter: int = N_ITER,
    damping: float = DAMPING,
    symmetric: bool = False,
) -> DataFrame:
    """PageRank over a directed edge list (src, dst): the unit-weight case
    of :func:`weighted_pagerank` (a node shares its rank equally over its
    out-edges). Returns (node, degree, rank_scaled) with degree = out-degree
    (BIGINT) and rank_scaled = rank x |V| rounded at 6 dp (x|V| keeps the
    magnitudes comparable across graph sizes)."""
    return weighted_pagerank(
        edges.withColumn("w", F.lit(1).cast("bigint")), n_iter, damping, symmetric
    ).withColumnRenamed("strength", "degree")


def pagerank_oracle_sql(n_iter: int = N_ITER, damping: float = DAMPING) -> str:
    """DuckDB twin with the power iteration UNROLLED into chained CTEs
    (standard SQL forbids aggregation in a recursive term): same uniform
    start, same damping, same scaled rounding."""
    d = damping
    ctes = [
        """
    items AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
    und AS (
        SELECT DISTINCT a.p AS p1, b.p AS p2
        FROM items a JOIN items b ON a.o = b.o AND a.p < b.p
    ),
    edges AS (
        SELECT p1 AS src, p2 AS dst FROM und
        UNION ALL
        SELECT p2 AS src, p1 AS dst FROM und
    ),
    deg AS (SELECT src AS node, count(*) AS outdeg FROM edges GROUP BY 1),
    nv AS (SELECT count(*) AS n FROM deg),
    r0 AS (SELECT node, 1.0 / n AS rank FROM deg, nv)
    """.strip()
    ]
    for i in range(n_iter):
        ctes.append(
            f"""
    r{i + 1} AS (
        SELECT deg.node,
               (1.0 - {d}) / n + {d} * coalesce(m.in_mass, 0.0) AS rank
        FROM deg
        LEFT JOIN (
            SELECT e.dst, sum(r.rank / dg.outdeg) AS in_mass
            FROM edges e
            JOIN r{i} r ON e.src = r.node
            JOIN deg dg ON e.src = dg.node
            GROUP BY e.dst
        ) m ON deg.node = m.dst
        CROSS JOIN nv
    )""".strip()
        )
    body = ",\n".join(ctes)
    return f"""
    WITH {body}
    SELECT r.node, CAST(deg.outdeg AS BIGINT) AS degree,
           round(r.rank * n, 6) AS rank_scaled
    FROM r{n_iter} r JOIN deg USING (node) CROSS JOIN nv
    """


def weighted_pagerank(
    edges: DataFrame,
    n_iter: int = N_ITER,
    damping: float = DAMPING,
    symmetric: bool = False,
) -> DataFrame:
    """PageRank over a WEIGHTED directed edge list (src, dst, w) by
    ``n_iter`` power-iteration steps from the uniform start: each node
    distributes its rank proportionally to outgoing edge weight — the
    update rule of TextRank (Mihalcea & Tarau 2004, eq. 2). Each step is
    ONE edge→rank equi-join plus ONE dst-keyed aggregation over the
    persisted edges, and lineage is cut once per step
    (``session.cut_lineage``). An r14 A/B measured fusing two power
    steps per cut slower (median 7.34 s vs 6.76 s): the chain materializes
    tighter with one join+agg per cut.

    Returns (node, strength, rank_scaled): strength = Σ outgoing w
    (BIGINT — callers pass integer co-occurrence counts), rank_scaled =
    rank × |V| at 6 dp. Every node must have out-strength ≥ 1 (true for
    any symmetrized edge list); dangling-node redistribution is
    intentionally out of scope and guarded by construction here.

    ``symmetric=True`` additionally asserts every node has IN-degree >= 1
    (also true for any symmetrized edge list): then the per-iteration
    contrib aggregate already contains every node, and the
    nodes⋈contrib left join that re-attaches zero-in-mass nodes is
    skipped — each iteration becomes exactly ONE exchange (the dst-keyed
    message aggregation), the relational Pregel floor (guide §2.4). A
    node with no in-edges would be silently dropped under this flag, so
    only set it for symmetrized inputs; results are bit-identical there
    (in_mass is never NULL, so the coalesce was a no-op)."""
    # cache: caller-owned (repo contract — bench/driver clear per query)
    edges = edges.persist()
    outw = edges.groupBy("src").agg(F.sum("w").alias("outw"))
    # cache: caller-owned (repo contract — bench/driver clear per query)
    nodes = outw.select(F.col("src").alias("node"), "outw").persist()
    n = nodes.count()  # scalar: |V| (node-list cardinality, bounded)
    if n == 0:
        # empty edge list (e.g. every pair fell under a weight floor):
        # the uniform start 1/n is undefined — return the empty result
        # frame instead of a driver-side ZeroDivisionError
        edges.unpersist()
        return nodes.select(
            "node",
            F.col("outw").cast("bigint").alias("strength"),
            F.lit(0.0).alias("rank_scaled"),
        )
    # outw is STATIC across iterations: attach it to the edge list once
    # (guide §2.4 — don't re-establish the same join every step) instead of
    # re-joining ranks⋈nodes per iteration.
    # cache: caller-owned (repo contract — bench/driver clear per query)
    edeg = edges.join(
        nodes.select(F.col("node").alias("src"), "outw"), "src"
    ).persist()
    ranks = nodes.select("node", F.lit(1.0 / n).alias("rank"))
    for it in range(n_iter):
        contrib = (
            edeg.join(ranks.withColumnRenamed("node", "src"), "src")
            .groupBy("dst")
            .agg(
                F.sum(
                    (F.col("rank") / F.col("outw")) * F.col("w")
                ).alias("in_mass")
            )
        )
        if symmetric:
            # every node receives mass: derive the next rank frame from
            # contrib directly — no re-attachment join (see docstring)
            nxt = contrib.select(
                F.col("dst").alias("node"),
                (
                    F.lit((1.0 - damping) / n)
                    + F.lit(damping) * F.col("in_mass")
                ).alias("rank"),
            )
        else:
            nxt = (
                nodes.select("node")
                .join(contrib.withColumnRenamed("dst", "node"), "node", "left")
                .select(
                    "node",
                    (
                        F.lit((1.0 - damping) / n)
                        + F.lit(damping)
                        * F.coalesce(F.col("in_mass"), F.lit(0.0))
                    ).alias("rank"),
                )
            )
        ranks = cut_lineage(nxt)
    # NOTE: edges/edeg are intentionally NOT unpersisted here — with the
    # local cut the whole iteration chain is lazy, so the caches first
    # materialize at the CALLER's action and an in-function unpersist
    # would drop them before they were ever used (each materialization
    # job would then re-derive the edges⋈outw subtree). Cache lifecycle
    # is caller-owned (repo contract — bench/driver clear per query).
    return ranks.join(nodes, "node").select(
        "node",
        F.col("outw").cast("bigint").alias("strength"),
        F.round(F.col("rank") * n, 6).alias("rank_scaled"),
    )


def incremental_components(spark, assign_dir: str, new_edges: DataFrame) -> int:
    """Incrementally maintain a connected-components assignment table
    (node, label; label = min reachable node id — the dedup_clusters
    canonical-id contract) under EDGE-BATCH arrivals, via contraction:

    1. map each new edge endpoint to its current label (two joins at
       |new edges| grain; unseen nodes contract to themselves),
    2. run batch CC (dedup.connected_components) on the CONTRACTED edge
       list — its size is |new edges| and its diameter is the diameter
       of the NEW merge structure, not the corpus graph's,
    3. remap the stored assignment through the resulting label→label
       moves (one join, no iteration) and append the new nodes,
    4. commit the assignment as the next txlog snapshot (optimistic
       concurrency; readers keep snapshot isolation mid-rewrite).

    Why the labels stay canonical: every stored label IS the min id of
    its component, so the contracted graph's min-label result equals the
    min over the merged components' full membership.

    At 100 TB this is the difference between re-running diameter×
    full-edge-list shuffle rounds per ingest batch (the batch
    dedup_clusters cost) and paying CC only on the delta plus ONE linear
    remap of the assignment table. Equality with the batch recompute is
    asserted per-batch in tests and end-to-end by the
    components_incremental_twin driver row."""
    from . import txlog as TX
    from .dedup import connected_components

    have = TX._versions(assign_dir)
    assign = TX.read_snapshot(spark, assign_dir) if have else None
    e = new_edges.select("d1", "d2")
    if assign is not None:
        a1 = assign.select(
            F.col("node").alias("d1"), F.col("label").alias("_l1")
        )
        a2 = assign.select(
            F.col("node").alias("d2"), F.col("label").alias("_l2")
        )
        e = (
            e.join(a1, "d1", "left")
            .join(a2, "d2", "left")
            .select(
                F.coalesce("_l1", F.col("d1")).alias("d1"),
                F.coalesce("_l2", F.col("d2")).alias("d2"),
            )
        )
    # edges inside one existing component contract to self-loops: drop
    contracted = e.filter(F.col("d1") != F.col("d2"))
    cc = connected_components(contracted)
    if assign is None:
        return TX.commit(assign_dir, cc)

    moves = cc.select(
        F.col("node").alias("_old_label"), F.col("label").alias("_new_label")
    )
    remapped = (
        assign.join(
            moves, assign["label"] == moves["_old_label"], "left"
        )
        .select(
            "node",
            F.coalesce("_new_label", F.col("label")).alias("label"),
        )
    )
    old_nodes = assign.select("node")
    fresh = cc.join(old_nodes, "node", "left_anti")
    new_assign = remapped.unionByName(fresh)
    return TX.commit(
        assign_dir, new_assign, expected_version=TX._versions(assign_dir)[-1]
    )


def serve_components(spark, assign_dir: str) -> DataFrame:
    """Read the maintained assignment and derive the dedup_clusters
    report shape: (doc_id, canonical_id, cluster_size, is_keeper)."""
    from pyspark.sql import Window

    from . import txlog as TX

    assign = TX.read_snapshot(spark, assign_dir)
    w = Window.partitionBy("canonical_id")
    return (
        assign.select(
            F.col("node").alias("doc_id"),
            F.col("label").alias("canonical_id"),
        )
        .withColumn("cluster_size", F.count(F.lit(1)).over(w).cast("bigint"))
        .withColumn("is_keeper", F.col("doc_id") == F.col("canonical_id"))
        .orderBy("doc_id")
    )


def label_propagation(
    edges: DataFrame, n_iter: int = 4
) -> DataFrame:
    """Synchronous weighted label propagation (Raghavan et al. 2007,
    made deterministic): every node starts as its own label; each step
    it adopts the incoming-neighbor label with the largest edge-weight
    mass, ties broken by the lexicographically smallest label. A fixed
    iteration count and total tie order make the run reproducible AND
    SQL-unrollable — the community twin of the pagerank/textrank
    oracles. Expects the symmetric (src, dst, w) edge list the other
    graph operators use.

    Why not connected components: CC fuses everything reachable; LPA
    keeps weakly-bridged clusters apart because labels must win by
    weight MASS, not mere reachability — the community structure a
    co-occurrence graph actually has.

    Scale: one join + one (dst, label) aggregate + one argmax window
    per iteration, all bounded by |edges|; labels are cut per step so
    the plan does not grow with n_iter.
    """
    from pyspark.sql import Window

    # cache: caller-owned (repo contract — bench/driver clear per query)
    edges = edges.persist()
    labels = cut_lineage(
        edges.select(F.col("src").alias("node")).distinct()
        .select("node", F.col("node").alias("label"))
    )
    for _ in range(n_iter):
        mass = (
            edges.join(labels, edges["src"] == labels["node"])
            .groupBy(F.col("dst"), F.col("label"))
            .agg(F.sum("w").alias("m"))
        )
        wpick = Window.partitionBy("dst").orderBy(
            F.desc("m"), F.asc("label")
        )
        pick = (
            mass.withColumn("rn", F.row_number().over(wpick))
            .filter(F.col("rn") == 1)
            .select(F.col("dst").alias("node"), F.col("label").alias("nl"))
        )
        labels = cut_lineage(
            labels.join(pick, "node", "left").select(
                "node",
                F.coalesce(F.col("nl"), F.col("label")).alias("label"),
            )
        )
    wsz = Window.partitionBy("label")
    return labels.select(
        "node",
        F.col("label").alias("community"),
        F.count(F.lit(1)).over(wsz).cast("bigint").alias("community_size"),
    )


def triangle_census(edges: DataFrame, min_weight: int = 1) -> DataFrame:
    """Per-node triangle count + local clustering coefficient over an
    undirected edge list — the graph-density diagnostic a co-occurrence
    or link graph needs (community cohesion, spam-farm detection in web
    link graphs; Watts & Strogatz 1998 for the coefficient).

    Input: directed/symmetrized (src, dst, w) as cooccurrence_edges
    emits (both directions present) — reduced internally to unique
    a < b edges.

    Scale — DEGREE ORIENTATION (the standard distributed-triangle
    trick, cf. Suri & Vassilvitskii 2011's MapReduce form): orient every
    edge from its lower-(degree, node) endpoint to the higher one; the
    oriented graph is acyclic and every triangle has exactly ONE node
    with two outgoing edges, so wedges generated per node are bounded by
    its ORIENTED out-degree — Σ out_deg² is minimized by routing wedge
    formation through low-degree endpoints (a star hub of degree 10⁶
    generates ZERO wedges instead of 10¹²). The wedge list then
    semi-joins the edge set (one equi-join), counting each triangle
    once. The DuckDB oracle enumerates a < b < c directly — different
    plan, identical exact counts.

    Output: (word, degree, n_triangles, clustering) for every node of
    degree ≥ 2, clustering = 2T/(d(d−1)) rounded 6 dp.
    """
    e = (
        edges.filter(F.col("w") >= min_weight)
        .filter(F.col("src") < F.col("dst"))
        .select(F.col("src").alias("a"), F.col("dst").alias("b"))
        .distinct()
    )
    deg = (
        e.select(F.col("a").alias("n"))
        .unionAll(e.select(F.col("b").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).cast("bigint").alias("d"))
    )
    da = deg.select(F.col("n").alias("a"), F.col("d").alias("da"))
    db = deg.select(F.col("n").alias("b"), F.col("d").alias("db"))
    # orient low-(deg, node) -> high-(deg, node)
    oriented = (
        e.join(da, "a")
        .join(db, "b")
        .select(
            F.when(
                (F.col("da") < F.col("db"))
                | ((F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))),
                F.struct(F.col("a").alias("s"), F.col("b").alias("t")),
            )
            .otherwise(
                F.struct(F.col("b").alias("s"), F.col("a").alias("t"))
            )
            .alias("o")
        )
        .select("o.s", "o.t")
    )
    w1 = oriented.select(F.col("s"), F.col("t").alias("x"))
    w2 = oriented.select(F.col("s"), F.col("t").alias("y"))
    wedges = (
        w1.join(w2, "s")
        .filter(F.col("x") < F.col("y"))
        .select(
            "s",
            F.col("x").alias("wa"),
            F.col("y").alias("wb"),
        )
    )
    closing = e.select(F.col("a").alias("wa"), F.col("b").alias("wb"))
    tris = wedges.join(closing, ["wa", "wb"])  # each triangle exactly once
    per_node = (
        tris.select(F.col("s").alias("n"))
        .unionAll(tris.select(F.col("wa").alias("n")))
        .unionAll(tris.select(F.col("wb").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_triangles"))
    )
    return (
        deg.filter(F.col("d") >= 2)
        .join(per_node, "n", "left")
        .select(
            F.col("n").alias("word"),
            F.col("d").alias("degree"),
            F.coalesce("n_triangles", F.lit(0)).cast("bigint").alias(
                "n_triangles"
            ),
            F.round(
                F.lit(2.0)
                * F.coalesce("n_triangles", F.lit(0))
                / (F.col("d") * (F.col("d") - F.lit(1))),
                6,
            ).alias("clustering"),
        )
        .orderBy("word")
    )


def kcore_decomposition(
    edges: DataFrame, k: int = 3, max_iters: int = 8
) -> DataFrame:
    """The k-CORE of an undirected graph (Seidman 1983): the maximal
    subgraph where every node keeps degree ≥ k, computed by iterative
    peeling — drop sub-k nodes, re-count, repeat until fixpoint. The
    graph-curation primitive behind "dense vocabulary nucleus"
    extraction and spam-farm detection (a node's coreness is far more
    tamper-resistant than its raw degree).

    Input: SYMMETRIZED edges (src, dst[, w]) — the cooccurrence_edges /
    co_order_edges contract (each undirected edge present in both
    directions), so degree is a plain count per src. Output:
    (node, core_degree) for k-core members, core_degree = degree INSIDE
    the core.

    Scale: each peel round is one node-keyed count + two semi-joins of
    the edge list against the (shrinking, broadcastable-after-round-1)
    keep set — O(|edges|) per round, vocab-grain for word graphs. Peeling
    converges in O(peel depth) rounds (1-2 on real co-occurrence graphs:
    removal cascades are shallow because degree distributions are
    heavy-tailed); ``max_iters`` is the loud guard — the operator RAISES
    rather than returning a non-fixpoint (the connected_components
    convention), and the oracle unrolls the same bound (a converged core
    is stable under extra peels, so equal bounds give equal answers).
    Each round's lineage is cut, and its edge ``count()`` is the job that
    materializes it.
    """
    def one_peel(frame: DataFrame) -> DataFrame:
        # One peel step, shared by the loop body and the convergence
        # probe so the fixpoint check can never drift from the peel.
        keep = (
            frame.groupBy("src")
            .agg(F.count(F.lit(1)).alias("_d"))
            .filter(F.col("_d") >= k)
            .select("src")
        )
        return frame.join(keep, "src", "left_semi").join(
            keep.select(F.col("src").alias("dst")), "dst", "left_semi"
        )

    cur = cut_lineage(edges.select("src", "dst"))
    prev_edges = cur.count()
    converged = False
    for _ in range(max_iters):
        nxt = cut_lineage(one_peel(cur))
        n = nxt.count()
        cur = nxt
        if n == prev_edges:
            converged = True
            break
        prev_edges = n
    if not converged:
        # All max_iters peels strictly shrank — the result may STILL be
        # the fixpoint (peel depth exactly max_iters). One extra
        # convergence probe: count what a further peel would keep,
        # WITHOUT cutting it. Equal → cur is stable and matches
        # the oracle's max_iters-level unroll; smaller → genuinely
        # deeper than the bound, raise. This makes the usable peel
        # depth exactly max_iters, same as documented and unrolled.
        n = one_peel(cur).count()
        if n != prev_edges:
            raise RuntimeError(
                f"kcore_decomposition: no fixpoint within {max_iters} "
                f"peels (edges still shrinking at {n}) — raise max_iters "
                "in BOTH the operator and the unrolled oracle"
            )
    return (
        cur.groupBy("src")
        .agg(F.count(F.lit(1)).cast("bigint").alias("core_degree"))
        .select(F.col("src").alias("node"), "core_degree")
        .orderBy("node")
    )


def kcore_oracle_sql(
    edge_cte: str, k: int = 3, max_iters: int = 8
) -> str:
    """DuckDB twin: the peel unrolled ``max_iters`` times over an
    ``edge_cte`` that must yield SYMMETRIZED (src, dst) rows. Extra
    peels past the fixpoint are no-ops, so the fixed unroll equals the
    Spark loop whenever the loop converges (and the loop RAISES when it
    would not).

    Every CTE is ``AS MATERIALIZED``: DuckDB inlines CTEs by default,
    and each unrolled level references the previous one TWICE (the two
    endpoint joins) — inlining makes the plan re-derive the whole edge
    pipeline 2^max_iters times (measured: a 5-minute hang at 500 docs
    where the materialized form runs in milliseconds)."""
    ctes = [f"e0 AS MATERIALIZED ({edge_cte})"]
    for i in range(max_iters):
        ctes.append(
            f"""k{i} AS MATERIALIZED (
        SELECT src AS n FROM e{i} GROUP BY 1 HAVING count(*) >= {k}
    )"""
        )
        ctes.append(
            f"""e{i + 1} AS MATERIALIZED (
        SELECT e.src, e.dst FROM e{i} e
        JOIN k{i} x ON e.src = x.n JOIN k{i} y ON e.dst = y.n
    )"""
        )
    last = f"e{max_iters}"
    return (
        "WITH " + ",\n    ".join(ctes) + f"""
    SELECT src AS node, CAST(count(*) AS BIGINT) AS core_degree
    FROM {last} GROUP BY 1 ORDER BY 1
    """
    )
