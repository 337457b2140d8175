"""Table maintenance: small-file compaction (the lakehouse OPTIMIZE).

Reference parity note: the reference appends to SQLite/Postgres and never
manages physical layout; a parquet-backed engine at 100 TB lives or dies
by it — streaming sinks and incremental batches leave thousands of
KB-sized files per partition, and every downstream scan then pays one
task + one footer read per file.

Scale design: sizing comes from the file listing (no data read); the
rewrite is one job — a round-robin ``repartition(n)`` for plain bin
packing, or ``repartitionByRange(sort_col)`` + in-partition sort to
(re)establish clustering while compacting (the OPTIMIZE ... ZORDER
analogue; pair with operators/layout.py write_zordered for 2-D keys).

Swap semantics: the rewrite is swapped in with ``sources.tables.swap_in``,
the one rename-swap every parquet sink uses. Its contract lives there: the
table path is absent for the instant between two renames, readers must not
race a compaction, and the caller owns single-writer scheduling (exactly
Delta OPTIMIZE's contract, which takes a table lock). A crash in that
window strands the data under ``<path>._old``; ``compact_parquet`` calls
``recover_swap`` before it reads, which restores it. For concurrent readers
use the txlog (operators/txlog.py): commit the compacted files as a new
snapshot and let pinned manifests provide the atomicity a filesystem
rename cannot.
"""

from __future__ import annotations

import math
import os

from pyspark.sql import SparkSession

from ..sources.tables import recover_swap, swap_in


def _parquet_files(path: str) -> list[tuple[str, int]]:
    out = []
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet") and not f.startswith("."):
                p = os.path.join(root, f)
                out.append((p, os.path.getsize(p)))
    return out


def compact_parquet(
    spark: SparkSession,
    path: str,
    target_bytes: int = 128 * 1024 * 1024,
    sort_col: str | None = None,
    cluster_cols: tuple[str, str] | None = None,
    curve: str = "hilbert",
) -> dict:
    """Rewrite ``path`` so files are ~``target_bytes`` each; returns a
    stats dict (files/bytes before and after). ``sort_col`` additionally
    range-partitions + sorts, so min/max footer stats become disjoint
    across files and stat-based pruning works after compaction.
    ``cluster_cols`` instead clusters on a 2-D space-filling curve
    (``curve`` = 'hilbert' or 'morton') — the OPTIMIZE ... ZORDER form:
    compaction and multi-dimensional re-clustering in the same single
    rewrite."""
    if sort_col is not None and cluster_cols is not None:
        raise ValueError("pass sort_col OR cluster_cols, not both")
    recover_swap(path)
    before = _parquet_files(path)
    if not before:
        raise ValueError(f"no parquet files under {path}")
    total = sum(sz for _, sz in before)
    n_files = max(1, math.ceil(total / target_bytes))
    df = spark.read.parquet(path)
    if cluster_cols is not None:
        from .layout import morton2, with_hilbert

        a, b = cluster_cols
        if curve == "hilbert":
            keyed = with_hilbert(df, a, b, "_k")
        elif curve == "morton":
            keyed = df.withColumn("_k", morton2(a, b))
        else:
            raise ValueError("curve must be 'hilbert' or 'morton'")
        out = (
            keyed.repartitionByRange(n_files, "_k")
            .sortWithinPartitions("_k")
            .drop("_k")
        )
    elif sort_col is not None:
        out = df.repartitionByRange(n_files, sort_col).sortWithinPartitions(
            sort_col
        )
    else:
        out = df.repartition(n_files)
    swap_in(out, path)
    after = _parquet_files(path)
    return {
        "files_before": len(before),
        "files_after": len(after),
        "bytes_before": total,
        "bytes_after": sum(sz for _, sz in after),
        "target_bytes": target_bytes,
    }


def build_file_stats_index(
    spark: SparkSession, path: str, cols: list[str]
):
    """Data-skipping index: per-file min/max/null-count for ``cols`` (the
    Delta add-file stats / Iceberg manifest-metrics analogue) as a tiny
    DataFrame keyed by file path.

    Scale: ONE distributed scan, column-pruned to the indexed columns,
    aggregated by input_file_name() — map-side partials mean the shuffle
    carries |files| × |cols| rows. The index is metadata-sized; persist
    it next to the table (or in a txlog manifest) and refresh per commit.
    """
    from pyspark.sql import functions as F

    df = spark.read.parquet(path).select(*cols).withColumn(
        "_file", F.input_file_name()
    )
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in cols:
        aggs += [
            F.min(c).alias(f"min_{c}"),
            F.max(c).alias(f"max_{c}"),
            F.sum(F.col(c).isNull().cast("long")).alias(f"nulls_{c}"),
        ]
    return df.groupBy("_file").agg(*aggs)


# ---------------------------------------------------------------------------
# Bloom-filter file index — the point-lookup data-skipping structure
# (Delta bloom index / parquet column bloom analogue). min/max stats
# (build_file_stats_index) prune RANGE predicates on clustered layouts;
# for an EQUALITY probe on a column the layout does NOT sort by (hash-
# scattered user ids, doc ids after compaction), every file's [min, max]
# spans the probe and stats prune nothing — a bloom per file does.
# ---------------------------------------------------------------------------

BLOOM_M = 1 << 20  # fixed bit-space: positions are portable across files
BLOOM_K = 5        # probes per key; fp = (1 - e^(-k*n/m))^k


def _bloom_positions(key_sql: str, k: int = BLOOM_K, m: int = BLOOM_M) -> str:
    """SQL array of the k bit positions for a STRING-typed key expression
    (portable 48-bit md5 per probe — the sampling-module hash family,
    salted per probe)."""
    from ..functions.text import hash48_sql

    elems = ", ".join(
        "CAST(("
        # dialect="spark": conv() computes the identical 48-bit value as
        # the shared fold (functions/text.py), so positions in indexes
        # persisted by older builds still match — this is Spark-only SQL
        + hash48_sql(f"concat('bloom{i}:', {key_sql})", dialect="spark")
        + f") % {m} AS INT)"
        for i in range(k)
    )
    return f"array({elems})"


def _bloom_positions_fast(col_sql: str, k: int, m: int) -> str:
    """In-query bloom positions: per-probe-seeded xxhash64 over the RAW
    column (one JVM hash per probe — no md5, no string concat). NOT
    portable across engines/files: use only where build and probe live
    in the same plan (bloom_semi_join); persisted indexes keep the
    md5-based ``_bloom_positions`` so positions survive re-reads."""
    elems = ", ".join(
        f"CAST(pmod(xxhash64({i}, {col_sql}), {m}) AS INT)"
        for i in range(k)
    )
    return f"array({elems})"


def build_bloom_file_index(
    spark: SparkSession,
    path: str,
    col: str,
    k: int = BLOOM_K,
    m: int = BLOOM_M,
):
    """Per-file SPARSE bloom: the sorted set of set-bit positions for
    ``col`` (≤ min(k·n_distinct, m) ints per file — metadata-sized, and
    exact set semantics make membership checks plain array ops).

    Scale: ONE column-pruned scan; explode(×k) feeds a single
    groupBy(_file) whose collect_set partial-aggregates map-side, so the
    exchange carries per-file position SETS, not row-grain positions.
    Persist next to the table (or in a txlog manifest); refresh per
    commit like the stats index."""
    from pyspark.sql import functions as F

    return (
        spark.read.parquet(path)
        .select(
            F.input_file_name().alias("_file"),
            F.explode(
                F.expr(_bloom_positions(f"CAST({col} AS STRING)", k, m))
            ).alias("pos"),
        )
        .groupBy("_file")
        .agg(F.sort_array(F.collect_set("pos")).alias("bloom"))
    )


def bloom_prune_files(index_df, col_value, k: int = BLOOM_K, m: int = BLOOM_M) -> list[str]:
    """Files that MAY contain ``col_value``: all k probe positions set.
    No false negatives (every file actually containing the value
    survives); false positives at rate (1 − e^(−k·n/m))^k cost only a
    wasted file scan, never a wrong answer."""
    from pyspark.sql import functions as F

    # The probe value rides in as F.lit() on a column, NEVER as an
    # interpolated SQL literal: Spark's parser applies backslash escape
    # sequences to string literals ('a\nb' parses to a newline), so a key
    # containing a backslash would hash differently at probe time than the
    # build side's CAST(col AS STRING) — pruning the file that holds it
    # and silently dropping rows. Hashing the same expression over a
    # literal-valued column sees the raw bytes on both sides.
    probe = F.expr(_bloom_positions("_probe_v", k, m))
    rows = (
        index_df.withColumn("_probe_v", F.lit(str(col_value)))
        .withColumn("_probe", probe)
        .filter(
            F.size(F.array_except(F.col("_probe"), F.col("bloom"))) == 0
        )
        .select("_file")
        .collect()
    )
    return [r["_file"] for r in rows]


def read_bloom_pruned(
    spark: SparkSession, index_df, col: str, col_value, k: int = BLOOM_K,
    m: int = BLOOM_M,
):
    """Scan only the bloom-surviving files, then re-apply the EXACT
    equality (the index is a superset filter — answers are identical to
    a full scan, only cheaper). A provable miss returns an EMPTY
    DataFrame with the table schema (schema read from one indexed file's
    footer, no row data touched), so callers can chain DataFrame ops
    without a None check. Raises ValueError on an empty index (no files
    → no schema to produce)."""
    from pyspark.sql import functions as F

    files = bloom_prune_files(index_df, col_value, k, m)
    if not files:
        any_file = index_df.select("_file").first()
        if any_file is None:
            raise ValueError(
                "read_bloom_pruned: empty bloom index — no files to "
                "derive the table schema from"
            )
        # a true miss: the value is provably absent — empty frame with
        # the table schema (footer-only read), no data touched
        return (
            spark.read.parquet(any_file["_file"])
            .limit(0)
            .filter(F.lit(False))
        )
    return spark.read.parquet(*files).filter(
        F.col(col).cast("string") == str(col_value)
    )


def bloom_semi_join(
    fact: DataFrame,
    dim_keys: DataFrame,
    fact_key: str,
    dim_key: str | None = None,
    k: int = BLOOM_K,
    m: int = BLOOM_M,
) -> DataFrame:
    """Exact LEFT SEMI join with a bloom pre-filter on the fact side —
    the shuffle REDUCER for the case where the dim key set is too large
    to broadcast as a hash relation but its bloom fits anywhere
    (m bits ≈ m/8 bytes; the sparse set-bit array below is ≤ m ints).

    Shape: ONE aggregate folds the dim keys into bit-packed 64-bit
    words (explode positions → bit_or per word, map-side combined; the
    sparse words collect driver-side BOUNDED at m/64 rows — the
    decontaminate_bloom precedent) and the dense ``array<long>`` rides
    a one-row broadcast onto the fact. The probe is a JVM ``forall``
    bit test — O(k) element_at lookups per row. (The first form of
    this operator kept the bloom as a sorted set-bit-position ARRAY
    and probed with array_except, which rebuilds the set's hash table
    PER FACT ROW — O(|set bits|) per row; at sf0.1 that was 2,440 s
    where the bit-test form is sub-second. Caught by the r8 full
    bench; the plan pin in tests/test_maintenance.py now asserts the
    bit-test form and the absence of array_except.)

    Rows failing any of the k probe positions drop BEFORE the
    semi-join exchange — at bloom false-positive rate p, the shuffle
    carries |matching| + p·|rest| rows instead of |fact|. The exact
    semi join then removes false positives, so the result is IDENTICAL
    to a plain semi join by construction (the read_bloom_pruned
    contract at row grain).

    Probe and build hash the same RAW column expression with the same
    per-probe-seeded xxhash64 (``_bloom_positions_fast`` — this bloom
    lives and dies inside one plan, so the md5 portability convention
    would only buy 5 md5 computations per fact row; the ADVICE-r6
    lesson still applies: both sides hash column bytes, never an
    interpolated SQL literal).

    Type canonicalization (ADVICE-r8): Spark's xxhash64 hashes INT and
    BIGINT (and STRING) through different code paths, so hashing a raw
    INT fact key against a BIGINT dim key would set/probe DIFFERENT
    positions — false negatives the exact semi join can never recover.
    When the two key dtypes differ, BOTH sides are cast to STRING (the
    universal canonical) before hashing; same-typed keys hash raw (the
    fast path). The bloom stays a superset filter either way.
    """
    from pyspark.sql import functions as F

    dim_key = dim_key or fact_key
    fact_type = dict(fact.dtypes).get(fact_key)
    dim_type = dict(dim_keys.dtypes).get(dim_key)
    if fact_type != dim_type:
        fact_expr = f"CAST({fact_key} AS STRING)"
        dim_expr = f"CAST({dim_key} AS STRING)"
    else:
        fact_expr, dim_expr = fact_key, dim_key
    # ceil, not floor: a partial last word must still exist or probes
    # landing in it element_at out of range → NULL forall → silently
    # dropped matches (ADVICE-r8).
    n_words = (m + 63) // 64
    sparse = (
        dim_keys.select(
            F.explode(
                F.expr(_bloom_positions_fast(dim_expr, k, m))
            ).alias("pos")
        )
        .select(
            F.expr("pos div 64").alias("w"),
            F.expr("shiftleft(1L, cast(pos % 64 as int))").alias("b"),
        )
        .groupBy("w")
        .agg(F.expr("bit_or(b)").alias("bits"))
        .collect()  # bounded: at most m/64 = 16384 rows
    )
    words = [0] * n_words
    for r in sparse:
        words[int(r["w"])] = int(r["bits"])
    bits_df = fact.sparkSession.createDataFrame(
        [(words,)], "_bloom_words array<long>"
    )
    probe_sql = _bloom_positions_fast(fact_expr, k, m)
    bit_test = (
        f"forall({probe_sql}, p -> "
        "(element_at(_bloom_words, cast(p div 64 as int) + 1)"
        " & shiftleft(1L, cast(p % 64 as int))) != 0)"
    )
    pre = (
        fact.crossJoin(F.broadcast(bits_df))
        .filter(F.expr(bit_test))
        .drop("_bloom_words")
    )
    return pre.join(
        dim_keys.select(F.col(dim_key).alias(fact_key)).distinct(),
        fact_key,
        "left_semi",
    )
