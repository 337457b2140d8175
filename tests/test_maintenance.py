"""Small-file compaction: fewer files, identical data, optional
re-clustering that restores footer-stat pruning."""

from __future__ import annotations

import glob

import pyarrow.parquet as pq
from pyspark.sql import functions as F


def _files_overlapping(index_df, col: str, lo, hi) -> list[str]:
    """Files whose indexed [min, max] for ``col`` intersects [lo, hi]:
    the skipping decision a stats-aware reader makes from
    ``build_file_stats_index``'s frame."""
    rows = index_df.filter(
        ~((F.col(f"max_{col}") < lo) | (F.col(f"min_{col}") > hi))
    ).select("_file").collect()
    return [r["_file"] for r in rows]


def test_compact_reduces_files_and_preserves_data(spark, tmp_path):
    from logstream_processing_service_spark.operators.maintenance import (
        compact_parquet,
    )

    path = str(tmp_path / "tbl")
    df = spark.range(20000).select(
        F.col("id"), (F.col("id") % 97).alias("k")
    )
    df.repartition(64).write.parquet(path)  # 64 tiny files
    assert len(glob.glob(f"{path}/part-*.parquet")) == 64
    before = {(r["id"], r["k"]) for r in spark.read.parquet(path).collect()}

    stats = compact_parquet(spark, path, target_bytes=64 * 1024)
    assert stats["files_before"] == 64
    assert stats["files_after"] < 16
    assert len(glob.glob(f"{path}/part-*.parquet")) == stats["files_after"]
    after = {(r["id"], r["k"]) for r in spark.read.parquet(path).collect()}
    assert after == before


def test_compact_with_sort_restores_pruning(spark, tmp_path):
    from logstream_processing_service_spark.operators.maintenance import (
        compact_parquet,
    )

    path = str(tmp_path / "tbl2")
    # scrambled writes: every file spans the whole id range
    spark.range(1 << 14).select(
        F.expr("CAST(abs(hash(id)) % 10000 AS BIGINT)").alias("x")
    ).repartition(32).write.parquet(path)

    def overlapping_files(lo, hi):
        n = 0
        for f in glob.glob(f"{path}/part-*.parquet"):
            md = pq.ParquetFile(f).metadata
            mins, maxs = [], []
            for rg in range(md.num_row_groups):
                c = md.row_group(rg).column(0)
                mins.append(c.statistics.min)
                maxs.append(c.statistics.max)
            if not (max(maxs) < lo or min(mins) > hi):
                n += 1
        return n

    files0 = len(glob.glob(f"{path}/part-*.parquet"))
    assert overlapping_files(4000, 4500) == files0  # no pruning possible
    stats = compact_parquet(spark, path, target_bytes=16 * 1024, sort_col="x")
    files1 = stats["files_after"]
    assert 1 < files1 < files0
    # after sorted compaction a narrow slice touches a minority of files
    assert overlapping_files(4000, 4500) <= max(2, files1 // 3)


def test_file_stats_index_prunes_and_stays_correct(spark, tmp_path):
    from logstream_processing_service_spark.operators.maintenance import (
        build_file_stats_index,
        compact_parquet,
    )

    path = str(tmp_path / "tbl3")
    spark.range(1 << 14).select(
        F.expr("CAST(abs(hash(id)) % 10000 AS BIGINT)").alias("x"),
        (F.col("id") % 7).alias("y"),
    ).repartition(32).write.parquet(path)
    # cluster on x so the index can actually skip
    compact_parquet(spark, path, target_bytes=16 * 1024, sort_col="x")

    idx = build_file_stats_index(spark, path, ["x", "y"])
    n_files = idx.count()
    assert n_files > 2
    hit = _files_overlapping(idx, "x", 4000, 4500)
    assert 0 < len(hit) <= max(2, n_files // 3)  # real skipping
    # the index is a superset filter: the skipped files hold no match
    got = spark.read.parquet(*hit).filter(F.col("x").between(4000, 4500)).count()
    want = (
        spark.read.parquet(path).filter(F.col("x").between(4000, 4500)).count()
    )
    assert got == want > 0
    # null counting: y never null, so nulls_y == 0 everywhere
    assert idx.filter(F.col("nulls_y") != 0).count() == 0


def test_compact_with_2d_clustering(spark, tmp_path):
    """OPTIMIZE-ZORDER form: compaction re-clusters on the space-filling
    curve so BOTH dimensions prune afterward, from a scrambled layout."""
    from logstream_processing_service_spark.operators.maintenance import (
        build_file_stats_index,
        compact_parquet,
    )

    path = str(tmp_path / "tbl2d")
    spark.range(1 << 14).select(
        F.expr("CAST(abs(hash(id, 1)) % 4096 AS BIGINT)").alias("x"),
        F.expr("CAST(abs(hash(id, 2)) % 4096 AS BIGINT)").alias("y"),
    ).repartition(32).write.parquet(path)
    before = spark.read.parquet(path).count()

    stats = compact_parquet(
        spark, path, target_bytes=12 * 1024, cluster_cols=("x", "y")
    )
    assert spark.read.parquet(path).count() == before
    n_files = stats["files_after"]
    assert n_files > 3
    idx = build_file_stats_index(spark, path, ["x", "y"])
    # a 1/16-wide slice on EITHER dim must skip a meaningful fraction of
    # files (with ~2^k files each bounds both dims to ~half/quarter range;
    # the exact count wobbles with range-sampling boundaries)
    for col in ("x", "y"):
        assert len(_files_overlapping(idx, col, 1024, 1279)) <= (2 * n_files) // 3
    with pytest.raises(ValueError):
        compact_parquet(
            spark, path, sort_col="x", cluster_cols=("x", "y")
        )


import pytest  # noqa: E402


def test_compact_crash_recovery(spark, tmp_path):
    """A crash between the two swap renames leaves the table absent and
    the data under '._old'; the next compact (or recover_swap)
    restores it instead of failing on the missing path."""
    import os
    import shutil

    from logstream_processing_service_spark.operators import maintenance as M
    from logstream_processing_service_spark.sources.tables import recover_swap

    path = str(tmp_path / "tbl")
    spark.range(100).repartition(8).write.parquet(path)
    # simulate the crash window: table renamed away, new files not yet in
    os.rename(path, path + "._old")
    shutil.os.makedirs(path + "._staged")
    assert not os.path.exists(path)
    assert recover_swap(path) is True
    assert not os.path.exists(path + "._staged")
    assert spark.read.parquet(path).count() == 100
    # and compact_parquet itself self-heals when called on the wreck
    os.rename(path, path + "._old")
    stats = M.compact_parquet(spark, path, target_bytes=1 << 30)
    assert stats["files_after"] == 1
    assert spark.read.parquet(path).count() == 100
    assert recover_swap(path) is False  # clean state: no-op


def test_bloom_file_index_point_lookup(spark, sf_dir, tmp_path):
    """Bloom file index: hash-scattered layout (every file's id RANGE
    spans the probe, so min/max stats prune NOTHING), yet the bloom
    prunes to exactly the files holding the id — no false negatives,
    answers identical to a full scan, and a provably-absent id touches
    zero data."""
    from pyspark.sql import functions as F

    from logstream_processing_service_spark.operators.maintenance import (
        bloom_prune_files,
        build_bloom_file_index,
        build_file_stats_index,
        read_bloom_pruned,
    )
    from logstream_processing_service_spark.sources import load_table

    out = str(tmp_path / "ev")
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type"
    )
    # hash-partitioned: each user's rows land in ONE of 8 files, but the
    # files' user_id ranges all overlap
    ev.repartition(8, "user_id").write.parquet(out)

    # a MID-RANGE id: an extreme-valued probe could be pruned by min/max
    # stats too, which would blunt the bloom-vs-stats contrast below
    probe = ev.selectExpr(
        "percentile_approx(user_id, 0.5) AS p"
    ).first()["p"]
    truth_files = {
        r["_f"]
        for r in spark.read.parquet(out)
        .filter(F.col("user_id") == probe)
        .select(F.input_file_name().alias("_f"))
        .distinct()
        .collect()
    }
    assert len(truth_files) == 1  # hash layout: one file holds the user

    idx = build_bloom_file_index(spark, out, "user_id").cache()
    n_files = idx.count()
    assert n_files >= 6  # hash partitions with rows (some may be empty)

    got_files = set(bloom_prune_files(idx, probe))
    assert truth_files.issubset(got_files)          # no false negatives
    assert len(got_files) < n_files                  # it actually prunes
    # and it prunes at least as hard as min/max stats on this
    # hash-scattered layout (with a large id domain the stats ranges
    # fully overlap and stats prune nothing; the small test domain lets
    # them prune some — bloom must still be the tighter filter)
    stats = build_file_stats_index(spark, out, ["user_id"])
    assert len(got_files) <= len(_files_overlapping(stats, "user_id", probe, probe))

    want = sorted(
        tuple(r)
        for r in spark.read.parquet(out)
        .filter(F.col("user_id") == probe)
        .collect()
    )
    got = sorted(
        tuple(r)
        for r in read_bloom_pruned(spark, idx, "user_id", probe).collect()
    )
    assert got == want and len(got) > 0

    # absent key: provably missing -> empty frame with the table schema,
    # chainable without a None check (ADVICE r6)
    miss = read_bloom_pruned(spark, idx, "user_id", 10**15)
    assert miss.count() == 0
    assert miss.columns == spark.read.parquet(out).columns
    assert miss.filter("user_id > 0").count() == 0  # chains fine
    idx.unpersist()


def test_bloom_index_string_keys_with_quotes(spark, tmp_path):
    """String keys containing SQL quotes must hash, not break the probe
    expression (the probe value is interpolated into SQL text)."""
    from logstream_processing_service_spark.operators.maintenance import (
        bloom_prune_files,
        build_bloom_file_index,
        read_bloom_pruned,
    )

    out = str(tmp_path / "t")
    spark.createDataFrame(
        [("o'brien", 1), ("plain", 2), ("it's", 3)], "name string, v long"
    ).repartition(2, "name").write.parquet(out)
    idx = build_bloom_file_index(spark, out, "name")
    files = bloom_prune_files(idx, "o'brien")
    assert files  # present key survives
    got = read_bloom_pruned(spark, idx, "name", "o'brien").collect()
    assert [(r["name"], r["v"]) for r in got] == [("o'brien", 1)]


def test_bloom_index_string_keys_with_backslashes(spark, tmp_path):
    """Keys containing backslash escape sequences must hash identically
    at build and probe time (ADVICE r6: a SQL-literal probe would parse
    'a\\nb' to a newline and PRUNE the file holding the raw value — a
    silent false negative; the F.lit probe sees the raw bytes)."""
    from logstream_processing_service_spark.operators.maintenance import (
        bloom_prune_files,
        build_bloom_file_index,
        read_bloom_pruned,
    )

    keys = [r"a\nb", r"c:\temp\new", r"mix'\q", "\\", r"\0\x41"]
    rows = [(k, i) for i, k in enumerate(keys)] + [("plain", 99)]
    out = str(tmp_path / "t")
    spark.createDataFrame(rows, "name string, v long").repartition(
        3, "name"
    ).write.parquet(out)
    idx = build_bloom_file_index(spark, out, "name").cache()
    for i, k in enumerate(keys):
        assert bloom_prune_files(idx, k), k  # never a false negative
        got = read_bloom_pruned(spark, idx, "name", k).collect()
        assert [(r["name"], r["v"]) for r in got] == [(k, i)], k
    idx.unpersist()


def test_bloom_semi_join_exact_and_prefilters_before_exchange(spark, sf_dir):
    """r8 candidate `bloom_semi_join`: result identical to a plain left
    semi join (superset filter + exact pass), and the physical plan
    shows the bloom probe FILTER on the fact side feeding the join —
    the shuffle carries pre-filtered rows only."""
    from pyspark.sql import functions as F

    from logstream_processing_service_spark.operators.maintenance import (
        bloom_semi_join,
    )
    from logstream_processing_service_spark.sources import load_table

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity"
    )
    urgent = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    ).select("o_orderkey")

    got = bloom_semi_join(li, urgent, "l_orderkey", "o_orderkey")
    want = li.join(
        urgent.select(F.col("o_orderkey").alias("l_orderkey")).distinct(),
        "l_orderkey",
        "left_semi",
    )
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )
    n_all, n_kept = li.count(), got.count()
    assert 0 < n_kept < n_all  # the filter is non-vacuous at every SF

    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" in plan
    # the bloom probe must be the O(k)-per-row packed-word bit test,
    # NEVER the array_except set-difference form (array_except rebuilds
    # the set-bit array's hash table per fact row — O(|set bits|) per
    # row, measured 2,440s vs sub-second at sf0.1; r8 bench finding)
    assert "element_at" in plan and "forall" in plan.lower()
    assert "array_except" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan


def test_bloom_semi_join_mixed_key_types_no_false_negatives(spark):
    """ADVICE-r8 (medium): Spark's xxhash64 hashes INT and BIGINT (and
    STRING) differently, so hashing raw mismatched-typed keys would set
    and probe DIFFERENT bloom positions — silent false negatives the
    exact semi join cannot recover. bloom_semi_join canonicalizes both
    sides to STRING when dtypes differ; the result must equal a plain
    semi join for int-vs-bigint and string-vs-bigint key pairs."""
    from pyspark.sql import functions as F

    from logstream_processing_service_spark.operators.maintenance import (
        bloom_semi_join,
    )

    fact = spark.range(2000).select(
        F.col("id").cast("int").alias("k"), (F.col("id") % 7).alias("v")
    )
    dim_long = spark.range(0, 2000, 3).select(F.col("id").alias("dk"))
    want = sorted(
        map(
            tuple,
            fact.join(
                dim_long.select(F.col("dk").cast("int").alias("k")),
                "k",
                "left_semi",
            ).collect(),
        )
    )
    # int fact key vs bigint dim key
    got = bloom_semi_join(fact, dim_long, "k", "dk")
    assert sorted(map(tuple, got.collect())) == want and want
    # string fact key vs bigint dim key
    fact_s = fact.select(F.col("k").cast("string").alias("k"), "v")
    got_s = bloom_semi_join(fact_s, dim_long, "k", "dk")
    assert sorted(
        (int(r["k"]), r["v"]) for r in got_s.collect()
    ) == want


def test_bloom_semi_join_m_not_multiple_of_64(spark):
    """ADVICE-r8 (low): m//64 truncated the packed-word array, so probes
    in the partial last word read out of range -> NULL forall -> dropped
    matches. With ceil words, an odd m keeps the exact-semi contract."""
    from pyspark.sql import functions as F

    from logstream_processing_service_spark.operators.maintenance import (
        bloom_semi_join,
    )

    fact = spark.range(5000).select(F.col("id").alias("k"))
    dim = spark.range(0, 5000, 2).select(F.col("id").alias("k"))
    got = bloom_semi_join(fact, dim, "k", "k", k=5, m=1001)
    want = fact.join(dim.distinct(), "k", "left_semi")
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )
    assert got.count() == 2500
