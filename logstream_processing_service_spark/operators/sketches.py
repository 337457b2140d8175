"""Mergeable-sketch operators (Apache DataSketches via Spark SQL builtins).

The 100 TB pattern these enable: distinct-count questions are answered
from PRE-AGGREGATED sketch tables, never by re-scanning raw events. A
daily job reduces each (key, day) slice to a KB-sized HLL sketch; any
later rollup — per key over a year, global over everything — is a
sketch UNION, milliseconds over megabytes instead of a shuffle over
terabytes. Sketches are commutative+associative (true map-side combine)
and closed under union, which exact distinct sets are not.

Reference parity: the reference computes ``nunique()`` driver-side over
fetched frames (src/ml/volume_analyzer.py:111, src/db/incident_ops.py:88)
— the sketch registry is its scale-correct replacement, with
``relational.distinct_actors`` as the exact twin the oracle checks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def hll_daily_registry(
    events: DataFrame,
    key_col: str = "event_type",
    actor_col: str = "user_id",
    lg_k: int = 12,
) -> DataFrame:
    """The incremental state table: one HLL sketch per (key, day).

    One shuffle keyed on (key, day) with full map-side partial
    aggregation; each output row is ~2^lg_k bytes regardless of row
    count. Persist this table daily; never rebuild history.
    """
    return (
        events.groupBy(
            F.col(key_col).alias("key"), F.to_date("ts").alias("day")
        )
        .agg(F.expr(f"hll_sketch_agg({actor_col}, {lg_k})").alias("sketch"))
    )


def hll_rollup(registry: DataFrame) -> DataFrame:
    """Roll the registry up to per-key distinct estimates + a grand total
    row (key = NULL) — pure sketch unions over the tiny registry, no raw
    data touched. ``allowDifferentLgConfigK=true`` lets registries built
    at different precisions merge (union degrades to the coarser one).
    """
    per_key = registry.groupBy("key").agg(
        F.expr(
            "hll_sketch_estimate(hll_union_agg(sketch, true))"
        ).cast("bigint").alias("approx_distinct"),
        F.count(F.lit(1)).alias("n_sketches"),
    )
    total = registry.agg(
        F.lit(None).cast("string").alias("key"),
        F.expr(
            "hll_sketch_estimate(hll_union_agg(sketch, true))"
        ).cast("bigint").alias("approx_distinct"),
        F.count(F.lit(1)).alias("n_sketches"),
    )
    return per_key.unionByName(total).orderBy(F.col("key").asc_nulls_last())


def hll_rolling_distinct(
    registry: DataFrame, window_days: int = 7
) -> DataFrame:
    """Trailing-window distinct actors from the daily HLL registry — the
    100 TB form of ``trends.rolling_distinct_users``: the window's
    inputs are KB-sized sketches at (key, day) grain (union is
    associative, so the registry can be built map-side over raw events
    and this rollup never touches them again). The exact set-union
    operator is the oracle this is accuracy-tested against (≤5%
    relative error at lg_k=12, tests/test_sketches.py).

    RANGE frame over the epoch-day index — calendar-day semantics
    matching the exact twin (missing days contribute nothing).
    """
    from pyspark.sql import Window

    w = (
        Window.partitionBy("key")
        .orderBy("day_x")
        .rangeBetween(-(window_days - 1), 0)
    )
    return (
        registry.withColumn(
            "day_x",
            F.datediff(F.col("day"), F.lit("1970-01-01")).cast("bigint"),
        )
        .withColumn(
            "approx_win",
            F.hll_sketch_estimate(
                F.hll_union_agg(F.col("sketch"), F.lit(True)).over(w)
            ).cast("bigint"),
        )
        .select(
            "key",
            "day",
            F.hll_sketch_estimate("sketch").cast("bigint").alias("approx_day"),
            "approx_win",
        )
        .orderBy("key", "day")
    )


def kll_daily_registry(
    events: DataFrame,
    key_col: str = "event_type",
    value_col: str = "value",
    k: int = 200,
) -> DataFrame:
    """Quantile twin of ``hll_daily_registry``: one KLL sketch of
    ``value_col`` per (key, day). Same contract — KB-sized rows,
    commutative/associative map-side combine, closed under merge — so
    percentile questions over any key/time slice are answered from the
    registry, never by re-sorting raw events (an exact percentile is a
    global sort; a KLL merge is milliseconds over megabytes).

    KLL (Karnin-Lang-Liberty 2016) gives rank error ~1.65/k at k=200 ≈
    0.8% — tails included, which reservoir sampling cannot promise.
    """
    return (
        events.filter(F.col(value_col).isNotNull())
        .groupBy(F.col(key_col).alias("key"), F.to_date("ts").alias("day"))
        .agg(
            F.expr(
                f"kll_sketch_agg_double({value_col}, {k})"
            ).alias("sketch")
        )
    )


def kll_rollup(
    registry: DataFrame, quantiles: tuple[float, ...] = (0.5, 0.9, 0.99)
) -> DataFrame:
    """Merge the registry to per-key quantile estimates + a grand-total
    row (key = NULL) — sketch merges over the tiny registry only."""
    qcols = [
        F.round(
            F.expr(f"kll_sketch_get_quantile_double(_m, {q}d)"), 6
        ).alias(f"p{int(q * 100)}")
        for q in quantiles
    ]
    per_key = (
        registry.groupBy("key")
        .agg(
            F.expr("kll_merge_agg_double(sketch)").alias("_m"),
            F.count(F.lit(1)).alias("n_sketches"),
        )
        .select(
            "key",
            F.expr("kll_sketch_get_n_double(_m)").alias("n_values"),
            *qcols,
            "n_sketches",
        )
    )
    total = (
        registry.agg(
            F.expr("kll_merge_agg_double(sketch)").alias("_m"),
            F.count(F.lit(1)).alias("n_sketches"),
        )
        .select(
            F.lit(None).cast("string").alias("key"),
            F.expr("kll_sketch_get_n_double(_m)").alias("n_values"),
            *qcols,
            "n_sketches",
        )
    )
    return per_key.unionByName(total).orderBy(F.col("key").asc_nulls_last())


def theta_daily_registry(
    events: DataFrame, actor_col: str = "user_id", lg_k: int = 12
) -> DataFrame:
    """Set-operation twin of the HLL registry: one Theta sketch of active
    actors per day. Theta sketches estimate INTERSECTIONS and DIFFERENCES,
    not just unions — the primitive behind retention / churn / overlap
    questions that HLL cannot answer (HLL only unions)."""
    return events.groupBy(F.to_date("ts").alias("day")).agg(
        F.expr(f"theta_sketch_agg({actor_col}, {lg_k})").alias("sketch")
    )


def retention_report(registry: DataFrame) -> DataFrame:
    """Day-over-day actor retention from the theta registry alone: for
    each consecutive day pair, |active(d)|, |active(d+1)|, the estimated
    intersection, and the retention rate — a self-join of KB-sized sketch
    rows, no raw-event rescans. The exact form of this query is a
    COUNT(DISTINCT) over a self-joined event table — two shuffles of the
    full actor stream; this reads a registry thousands of times smaller.
    """
    a = registry.select(
        F.col("day").alias("day"), F.col("sketch").alias("s_a")
    )
    b = registry.select(
        F.date_sub(F.col("day"), 1).alias("day"), F.col("sketch").alias("s_b")
    )
    return (
        a.join(b, "day")
        .select(
            "day",
            F.expr("cast(theta_sketch_estimate(s_a) as bigint)").alias(
                "n_day"
            ),
            F.expr("cast(theta_sketch_estimate(s_b) as bigint)").alias(
                "n_next"
            ),
            F.expr(
                "cast(theta_sketch_estimate("
                "theta_intersection(s_a, s_b)) as bigint)"
            ).alias("n_retained"),
        )
        .withColumn(
            "retention",
            F.round(
                F.col("n_retained") / F.greatest(F.col("n_day"), F.lit(1)), 4
            ),
        )
        .orderBy("day")
    )


# ---------------------------------------------------------------------------
# Frequent items (Misra-Gries) — the sketch family member Spark's
# DataSketches builtins don't cover. Mergeable summaries per Agarwal et
# al. 2013: per-partition MG dicts (bounded k entries), merged by
# pointwise sum; per-partition decrement totals carry the error bound.
# The 100 TB use: boilerplate/top-domain/hot-token detection where exact
# value_counts over the item domain would shuffle billions of distinct
# keys — MG shuffles at most k rows per partition, period.
# ---------------------------------------------------------------------------


def mg_partials(df: DataFrame, item_col: str, k: int = 64) -> DataFrame:
    """Per-partition Misra-Gries summaries via one Arrow pass: ≤k
    (item, cnt) rows per partition plus one (item=NULL, cnt=err) row
    carrying that partition's total decrement. cnt is a LOWER bound on
    the partition-local true count; true ≤ cnt + err always.

    Stream-order note: MG contents depend on row order within each
    partition, so this is deterministic for a fixed file layout but not
    across layouts — which is fine: the bounds hold for EVERY order, and
    the coverage guarantee (any item with true share > 1/(k+1) survives)
    is order-free.
    """
    import pandas as pd

    def summarize(batches):
        counts: dict[str, int] = {}
        err = 0
        for pdf in batches:
            for item in pdf[item_col]:
                if item is None:
                    continue
                if item in counts:
                    counts[item] += 1
                elif len(counts) < k:
                    counts[item] = 1
                else:
                    # decrement-all: drop zeros, charge one error unit
                    err += 1
                    dead = []
                    for it in counts:
                        counts[it] -= 1
                        if counts[it] == 0:
                            dead.append(it)
                    for it in dead:
                        del counts[it]
        out = pd.DataFrame(
            {"item": list(counts) + [None], "cnt": list(counts.values()) + [err]}
        )
        yield out

    return df.select(F.col(item_col).alias(item_col)).mapInPandas(
        summarize, "item string, cnt bigint"
    )


def mg_topk(partials: DataFrame, k: int = 64) -> DataFrame:
    """Merge per-partition summaries → global top-k with bounds.

    Pointwise sum per item (≤ k·P rows into the shuffle), total error =
    sum of partition decrements; report [est_lower, est_upper] where
    upper = lower + total_err. Everything after the partials is
    KB-sized — the registry property the HLL/KLL/Theta twins share.
    """
    err_total = (
        partials.filter(F.col("item").isNull())
        .agg(F.coalesce(F.sum("cnt"), F.lit(0)).alias("err"))
    )
    merged = (
        partials.filter(F.col("item").isNotNull())
        .groupBy("item")
        .agg(F.sum("cnt").alias("est_lower"))
        .orderBy(F.desc("est_lower"), "item")
        .limit(k)
    )
    return (
        merged.crossJoin(F.broadcast(err_total))
        .select(
            "item",
            "est_lower",
            (F.col("est_lower") + F.col("err")).alias("est_upper"),
        )
        .orderBy(F.desc("est_lower"), "item")
    )


def heavy_hitter_words(documents: DataFrame, k: int = 64) -> DataFrame:
    """Corpus-scale hot-token report: MG over the exploded word stream.
    The exact twin (value_counts over words) shuffles every distinct word;
    this shuffles ≤ k rows per partition. Coverage: any word with share
    > 1/(k+1) of the stream is guaranteed present (asserted with planted
    boilerplate in tests/test_mg.py)."""
    from ..functions import text as T

    words = documents.select(
        F.explode(T.words(F.col("text"))).alias("word")
    )
    return mg_topk(mg_partials(words, "word", k), k)


def join_key_overlap_estimate(
    left: DataFrame,
    lkey: str,
    right: DataFrame,
    rkey: str,
    lg_k: int = 14,
) -> DataFrame:
    """Pre-shuffle join planning: estimate |distinct(lkey) ∩ distinct(rkey)|
    from two KB-sized Theta sketches instead of shuffling either side —
    the "how selective is this join?" question answered at sketch cost
    (each side aggregates map-side into ONE sketch row; the intersection
    is a driver-sized cross of two rows). Returns one row:
    (n_left_keys, n_right_keys, n_overlap_est, overlap_frac)."""
    sl = left.agg(F.expr(f"theta_sketch_agg({lkey}, {lg_k})").alias("s_l"))
    sr = right.agg(F.expr(f"theta_sketch_agg({rkey}, {lg_k})").alias("s_r"))
    both = sl.crossJoin(F.broadcast(sr))
    return both.select(
        F.expr("cast(theta_sketch_estimate(s_l) as bigint)").alias(
            "n_left_keys"
        ),
        F.expr("cast(theta_sketch_estimate(s_r) as bigint)").alias(
            "n_right_keys"
        ),
        F.expr(
            "cast(theta_sketch_estimate(theta_intersection(s_l, s_r)) "
            "as bigint)"
        ).alias("n_overlap_est"),
        F.round(
            F.expr(
                "theta_sketch_estimate(theta_intersection(s_l, s_r)) / "
                "greatest(theta_sketch_estimate(s_l), 1.0)"
            ),
            4,
        ).alias("overlap_frac"),
    )


def mg_topk_per_group(
    df: DataFrame, group_col: str, item_col: str, k: int = 16
) -> DataFrame:
    """Per-GROUP Misra-Gries frequent items: one MG summary per group via
    ``applyInPandas`` (the per-domain vocabulary monitor — which terms
    dominate each source, with the same lower/upper-bound contract as
    the global mg_topk).

    Scale: one shuffle on the group key; per-group state is O(k)
    regardless of group size, so a group with billions of rows costs the
    same memory as a tiny one (contrast an exact per-group count, whose
    state is the group's vocabulary). Output ≤ k+ rows per group:
    (group, item, est_lower, est_upper).
    """
    import pandas as pd

    def summarize(pdf: pd.DataFrame) -> pd.DataFrame:
        g = pdf[group_col].iloc[0]
        counts: dict[str, int] = {}
        err = 0
        for item in pdf[item_col]:
            if item is None:
                continue
            if item in counts:
                counts[item] += 1
            elif len(counts) < k:
                counts[item] = 1
            else:
                err += 1
                dead = []
                for it in counts:
                    counts[it] -= 1
                    if counts[it] == 0:
                        dead.append(it)
                for it in dead:
                    del counts[it]
        items = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        return pd.DataFrame(
            {
                group_col: [g] * len(items),
                "item": [it for it, _ in items],
                "est_lower": [c for _, c in items],
                "est_upper": [c + err for _, c in items],
            }
        )

    return (
        df.select(group_col, F.col(item_col).alias(item_col))
        .groupBy(group_col)
        .applyInPandas(
            summarize,
            f"{group_col} string, item string, est_lower bigint, "
            "est_upper bigint",
        )
    )


# ---------------------------------------------------------------------------
# Count-min sketch registry (VERDICT r5 #7) — point-query twin of the
# Misra-Gries family above: MG answers "which items are frequent",
# CM answers "how often is THIS item" for arbitrary items, with the
# (ε, δ) overestimate bound est ∈ [true, true + ε·N] w.p. ≥ 1−δ
# (Cormode & Muthukrishnan 2005; ε = e/width, δ = e^−depth).
#
# Representation: SPARSE and RELATIONAL — a sketch is rows of
# (key, day, r, c, cnt) rather than a dense binary blob. That keeps
# every operation inside the SQL engine: build is one explode-free
# cross join with a tiny depth table + one grouped count (full map-side
# combine); merge across days/registries is a grouped SUM (counter
# matrices add element-wise); a point query is a broadcast join + MIN.
# Row bound per (key, day): min(distinct items · depth, depth · width).
# The hash is the portable 48-bit md5 (functions/text.py hash48_sql),
# so the ENTIRE pipeline — build, rollup, estimate — is reproducible
# bit-for-bit in the DuckDB oracle, unlike the binary DataSketches
# registries above (rows-only by necessity).
# ---------------------------------------------------------------------------

CM_DEPTH = 5
CM_WIDTH = 256


def _cm_cell_sql(item_sql: str, r_sql: str, width: int) -> str:
    """Engine-portable column index for depth row r: a 16-bit integer
    parsed from md5('cm:<item>')'s r-th DISJOINT 4-hex-char window,
    mod width. One md5 per item covers depth ≤ 8 rows (8 × 16 = 128
    bits), and each cell parses only 4 hex digits — measured 3× faster
    than the first-cut hash48-per-(item, r) form, whose 12-digit parse
    × depth dominated the build. Disjoint md5 bit-windows are
    independent hashes (not Kirsch-Mitzenmacher derived pairs), so the
    (ε, δ) bound's independence assumption holds. Identical text runs
    in Spark SQL and DuckDB (the sampling-module portability
    contract); width must be ≤ 2^16."""
    assert width <= (1 << 16), "cm width exceeds the 16-bit cell hash"
    md5 = f"md5(concat('cm:', {item_sql}))"
    return _cm_cell_from_md5_sql(md5, r_sql, width)


def _cm_cell_from_md5_sql(
    md5_sql: str, r_sql: str, width: int, dialect: str = "shared"
) -> str:
    """The cell parse over an ALREADY-COMPUTED md5 hex expression — lets
    the Spark build hoist ONE md5 per item above the depth crossJoin
    instead of recomputing it per (item, r) output row (the fingerprint
    md5-hoist pattern; measured 5.8 → 1.7 s cold / ~12% warm on the
    sf0.1 registry build). ``_cm_cell_sql`` delegates here, so the
    portable oracle text is unchanged. ``dialect="spark"`` parses the
    4-hex window with one conv() call instead of the 4-term fold —
    identical value (the hash48 conv rationale, functions/text.py);
    DuckDB keeps the shared fold."""
    if dialect == "spark":
        return (
            f"(CAST(conv(substring({md5_sql}, 4*({r_sql})+1, 4), 16, 10)"
            f" AS INT) % {width})"
        )
    terms = "+".join(
        f"(instr('0123456789abcdef', substr({md5_sql}, 4*({r_sql})+{j}, 1))-1)"
        f"*{16 ** (4 - j)}"
        for j in range(1, 5)
    )
    return f"(({terms}) % {width})"


def cm_daily_registry(
    events: DataFrame,
    key_col: str = "event_type",
    item_col: str = "user_id",
    depth: int = CM_DEPTH,
    width: int = CM_WIDTH,
) -> DataFrame:
    """One sparse CM sketch per (key, day): rows (key, day, r, c, cnt).

    Scale shape: the depth table (5 rows) broadcast-nested-loop joins
    onto the scan (no exchange), then ONE shuffle keyed
    (key, day, r, c) with map-side partial counts — the same single
    shuffle hll_daily_registry pays, at depth× the pre-combine row
    count."""
    spark = events.sparkSession
    depth_t = F.broadcast(
        spark.range(depth).select(F.col("id").cast("int").alias("r"))
    )
    base = events.select(
        F.col(key_col).alias("key"),
        F.to_date("ts").alias("day"),
        # md5 hoisted ABOVE the depth crossJoin: one hash per event, not
        # one per (event, r) row (see _cm_cell_from_md5_sql)
        F.expr(
            f"md5(concat('cm:', CAST({item_col} AS STRING)))"
        ).alias("_h"),
    )
    base = _spread_for_cpu(base)
    return (
        base.crossJoin(depth_t)
        .select(
            "key",
            "day",
            "r",
            F.expr(_cm_cell_from_md5_sql("_h", "r", width, dialect="spark"))
            .cast("int")
            .alias("c"),
        )
        .groupBy("key", "day", "r", "c")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def _spread_for_cpu(df: DataFrame) -> DataFrame:
    """Round-robin repartition ONLY when the scan yields fewer
    partitions than half the cores: the cell hash is a CPU-heavy
    projection, and a small-file table (the test corpus is one parquet
    file → 2 input splits) would serialize it on 2 of 32 cores. A real
    multi-file table at scale already has ≥cores splits, so this is a
    no-op there — never an unconditional shuffle of the fact stream."""
    sc = df.sparkSession.sparkContext
    cores = sc.defaultParallelism
    if df.rdd.getNumPartitions() < max(2, cores // 2):
        return df.repartition(cores)
    return df


def cm_merge(registry: DataFrame, by: tuple[str, ...] = ("key",)) -> DataFrame:
    """Merge sketches by summing counters — across days (rollup), or
    across independently-built registries (union first, then merge):
    CM counter matrices are closed under addition."""
    return registry.groupBy(*by, "r", "c").agg(F.sum("cnt").alias("cnt"))


def cm_estimate(
    merged: DataFrame,
    items: DataFrame,
    depth: int = CM_DEPTH,
    width: int = CM_WIDTH,
) -> DataFrame:
    """Point-query estimates: for each (key, item) in ``items``, the min
    counter over the item's depth cells (absent cell ⇒ 0). The merged
    sketch is ≤ |key|·depth·width rows — broadcast; the query never
    touches raw events."""
    spark = merged.sparkSession
    depth_t = F.broadcast(
        spark.range(depth).select(F.col("id").cast("int").alias("r"))
    )
    probes = (
        items.select("key", F.col("item").cast("string").alias("item"))
        .crossJoin(depth_t)
        .select(
            "key",
            "item",
            "r",
            F.expr(_cm_cell_sql("item", "r", width)).cast("int").alias("c"),
        )
    )
    return (
        probes.join(F.broadcast(merged), ["key", "r", "c"], "left")
        .select(
            "key", "item", F.coalesce("cnt", F.lit(0)).alias("cnt")
        )
        .groupBy("key", "item")
        .agg(F.min("cnt").cast("bigint").alias("cm_est"))
    )


def prepare_cm_rows(
    events: DataFrame,
    key_col: str = "event_type",
    item_col: str = "user_id",
    depth: int = CM_DEPTH,
    width: int = CM_WIDTH,
) -> DataFrame:
    """Project raw events to CM cell grain (key, day, r, c) — the commit
    payload for an INCREMENTALLY-maintained registry: commit these rows
    to a txlog table and refresh a matview with ``cm_view_spec()``; the
    registry then advances O(delta-files) per commit exactly like the
    drift view (CM counters are pure counts, so the matview's mergeable-
    aggregate contract applies verbatim). Parity with the one-shot
    ``cm_daily_registry`` is asserted in tests/test_mg.py."""
    spark = events.sparkSession
    depth_t = F.broadcast(
        spark.range(depth).select(F.col("id").cast("int").alias("r"))
    )
    return (
        _spread_for_cpu(
            events.select(
                F.col(key_col).alias("key"),
                F.to_date("ts").alias("day"),
                # same md5-above-the-crossJoin hoist as cm_daily_registry
                F.expr(
                    f"md5(concat('cm:', CAST({item_col} AS STRING)))"
                ).alias("_h"),
            )
        )
        .crossJoin(depth_t)
        .select(
            "key",
            "day",
            "r",
            F.expr(_cm_cell_from_md5_sql("_h", "r", width, dialect="spark"))
            .cast("int")
            .alias("c"),
        )
    )


def cm_view_spec():
    """Matview spec over prepare_cm_rows output: the count per cell IS
    the sketch."""
    from .matview import ViewSpec

    return ViewSpec(group_cols=("key", "day", "r", "c"))


def cm_incremental_registry(
    base_events: DataFrame,
    delta_events: DataFrame,
    table_dir: str,
    key_col: str = "event_type",
    item_col: str = "user_id",
    depth: int = CM_DEPTH,
    width: int = CM_WIDTH,
) -> DataFrame:
    """The count-min registry under INGEST — the counter-algebra member
    of the registry-family matrix: postings merge by append (+tombstone
    deletes), the decontamination bloom by bitwise OR (idempotent), CM
    counter matrices by cell-wise SUM. Each arriving event slice is
    reduced to its own sparse (key, day, r, c, cnt) cell frame and
    COMMITTED as one txlog version (KB-grain: ≤ |keys|·days·depth·width
    rows regardless of slice size); the merge-on-read is one
    groupBy-sum over the merged scan (:func:`cm_merge` — counters are
    closed under addition), so sum(per-slice registries) is cell-for-
    cell identical to the one-shot registry over the union.

    PRECONDITION (the r12-advice discipline, stated at birth): the
    committed slices must PARTITION the event stream — each event
    counted in exactly one slice. Addition is not idempotent, so
    re-ingesting a slice double-counts (contrast the bloom registry,
    whose OR tolerates overlap by algebra). The natural ingest contract
    (one commit per arriving batch) satisfies this for free; exact
    de-duplication of replayed batches belongs to the txlog layer
    (idempotent upsert), not the sketch.

    Returns the merged (key, r, c, cnt) counter frame. Scale: commits
    are sketch-grain forever; the estimate path broadcasts the merged
    sketch and never rescans raw events (module docstring's 100 TB
    pattern, now maintained incrementally instead of rebuilt)."""
    from . import txlog as TX

    TX.commit(
        table_dir,
        cm_daily_registry(base_events, key_col, item_col, depth, width),
        mode="overwrite",
    )
    TX.commit(
        table_dir,
        cm_daily_registry(delta_events, key_col, item_col, depth, width),
        mode="append",
    )
    return cm_merge(
        TX.read_snapshot(base_events.sparkSession, table_dir)
    )


def cm_delete_slice(
    events: DataFrame,
    table_dir: str,
    key_col: str = "event_type",
    item_col: str = "user_id",
    depth: int = CM_DEPTH,
    width: int = CM_WIDTH,
) -> int:
    """The CM registry's DELETE verb — the turnstile property counters
    have and the other registries lack: because cells merge by SUM, a
    slice is retracted EXACTLY by appending its NEGATED cell frame
    (cnt -> -cnt); the merge-on-read then cancels its contribution
    cell-for-cell, with no tombstone read path and no rebuild (contrast
    postings: doc-grain tombstones + anti-join at read; bloom: no
    delete at all — shared bits force a rebuild). PRECONDITION: the
    retracted slice must previously have been committed exactly once
    (retracting an uncommitted slice drives counters negative — CM
    estimates stay safe because min() over garbage is still an upper
    bound only for non-negative sketches, so the caller owns slice
    bookkeeping; the natural ledger is one commit per ingest batch,
    one retraction per backed-out batch)."""
    from . import txlog as TX

    neg = cm_daily_registry(events, key_col, item_col, depth, width)
    return TX.commit(
        table_dir,
        neg.withColumn("cnt", (-F.col("cnt")).cast("bigint")),
        mode="append",
    )


def cm_compact_registry(
    spark, table_dir: str, target_files: int = 1
) -> int:
    """The CM registry's COMPACT verb: fold the accumulated per-slice
    (and retraction) cell frames into one summed frame and commit it as
    an overwrite version — after compaction readers scan one small file
    with no groupBy-sum fan-in over many versions. Cells whose folded
    count is ZERO (fully retracted) are DROPPED, so a compacted
    registry is cell-for-cell identical to a one-shot registry over the
    surviving slices (asserted in tests/test_cm_incremental.py). The
    rewrite is ``txlog.rewrite_snapshot``, so a slice commit landing
    mid-fold is a CommitConflict, never silently dropped."""
    from . import txlog as TX

    def fold(merged: DataFrame) -> DataFrame:
        return (
            merged.groupBy("key", "day", "r", "c")
            .agg(F.sum("cnt").cast("bigint").alias("cnt"))
            .filter(F.col("cnt") != 0)
            .coalesce(target_files)
        )

    return TX.rewrite_snapshot(spark, table_dir, fold)


def mg_daily_registry(
    events: DataFrame,
    item_col: str = "user_id",
    k: int = 64,
) -> DataFrame:
    """Mergeable frequent-items registry: one Misra-Gries summary per
    DAY — rows (day, item, cnt) plus one (day, NULL, err) row carrying
    that day's total decrement. The windowed twin of the HLL/KLL/CM
    daily registries: per-day state is O(k) regardless of row count
    (one shuffle on day, applyInPandas), and summaries MERGE by
    pointwise sum with errors adding — so any trailing-window question
    is answered from the registry alone."""
    import pandas as pd

    def summarize(pdf: pd.DataFrame) -> pd.DataFrame:
        day = pdf["day"].iloc[0]
        counts: dict[str, int] = {}
        err = 0
        for item in pdf["item"]:
            if item is None:
                continue
            if item in counts:
                counts[item] += 1
            elif len(counts) < k:
                counts[item] = 1
            else:
                err += 1
                dead = []
                for it in counts:
                    counts[it] -= 1
                    if counts[it] == 0:
                        dead.append(it)
                for it in dead:
                    del counts[it]
        return pd.DataFrame(
            {
                "day": [day] * (len(counts) + 1),
                "item": list(counts) + [None],
                "cnt": list(counts.values()) + [err],
            }
        )

    return (
        events.select(
            F.to_date("ts").alias("day"),
            F.col(item_col).cast("string").alias("item"),
        )
        .groupBy("day")
        .applyInPandas(summarize, "day date, item string, cnt bigint")
    )


def windowed_heavy_hitters(
    registry: DataFrame, window_days: int = 7, top_k: int = 16
) -> DataFrame:
    """Trailing-window frequent items from the daily MG registry (the
    drift_window composition, for the heavy-hitter question): per anchor
    day, pointwise-sum the window's summaries and report the top
    ``top_k`` items with [est_lower, est_upper] — upper = lower + the
    window's summed decrements, so true window counts always lie in the
    interval (each day's true ≤ cnt + err, and absent days contribute
    ≤ err). Everything runs at registry grain (≤ (k+1)·days rows) — the
    anchor range join and ranking never touch raw events."""
    from pyspark.sql import Window

    W = window_days
    anchors = registry.select(F.col("day").alias("d")).distinct()
    joined = anchors.join(
        registry,
        (F.col("day") >= F.date_sub(F.col("d"), W - 1))
        & (F.col("day") <= F.col("d")),
    )
    sums = (
        joined.filter(F.col("item").isNotNull())
        .groupBy("d", "item")
        .agg(F.sum("cnt").alias("est_lower"))
    )
    errs = (
        joined.filter(F.col("item").isNull())
        .groupBy("d")
        .agg(F.coalesce(F.sum("cnt"), F.lit(0)).alias("err"))
    )
    w = Window.partitionBy("d").orderBy(F.desc("est_lower"), "item")
    return (
        sums.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_k)
        .join(errs, "d", "left")
        .select(
            F.col("d").alias("day"),
            F.col("rank").cast("int").alias("rank"),
            "item",
            "est_lower",
            (F.col("est_lower") + F.coalesce("err", F.lit(0))).alias(
                "est_upper"
            ),
        )
        .orderBy("day", "rank")
    )
