"""Transaction log: snapshot isolation, time travel, append lineage,
optimistic-concurrency conflicts, vacuum."""

from __future__ import annotations

import pytest
pytestmark = pytest.mark.slow  # tiered run: see pytest.ini (r13 VERDICT #1)

from pyspark.sql import functions as F


def _ids(df):
    return sorted(r["id"] for r in df.collect())


def test_time_travel_and_snapshot_isolation(spark, tmp_path):
    from logstream_processing_service_spark.operators import txlog as TX

    t = str(tmp_path / "tbl")
    v0 = TX.commit(t, spark.range(5))
    v1 = TX.commit(t, spark.range(10, 13))
    assert (v0, v1) == (0, 1)
    assert _ids(TX.read_snapshot(spark, t)) == [10, 11, 12]
    assert _ids(TX.read_snapshot(spark, t, version=0)) == [0, 1, 2, 3, 4]
    # a frame pinned at v1 keeps reading v1 even after a later commit
    pinned = TX.read_snapshot(spark, t)
    TX.commit(t, spark.range(100, 101))
    assert _ids(pinned) == [10, 11, 12]
    assert _ids(TX.read_snapshot(spark, t)) == [100]
    assert [m["version"] for m in TX.history(t)] == [0, 1, 2]


def test_append_lineage(spark, tmp_path):
    from logstream_processing_service_spark.operators import txlog as TX

    t = str(tmp_path / "tbl")
    TX.commit(t, spark.range(3))
    TX.commit(t, spark.range(3, 6), mode="append")
    TX.commit(t, spark.range(6, 8), mode="append")
    assert _ids(TX.read_snapshot(spark, t)) == list(range(8))
    assert _ids(TX.read_snapshot(spark, t, version=1)) == list(range(6))


def test_optimistic_concurrency_conflict(spark, tmp_path):
    from logstream_processing_service_spark.operators import txlog as TX

    t = str(tmp_path / "tbl")
    base = TX.commit(t, spark.range(3))
    # writer A commits on top of v0
    TX.commit(t, spark.range(10, 12), expected_version=base)
    # writer B also based on v0: must conflict, not clobber
    with pytest.raises(TX.CommitConflict):
        TX.commit(t, spark.range(20, 22), expected_version=base)
    assert _ids(TX.read_snapshot(spark, t)) == [10, 11]
    # B retries on the current version and succeeds
    TX.commit(t, spark.range(20, 22), expected_version=1)
    assert _ids(TX.read_snapshot(spark, t)) == [20, 21]


def test_vacuum_drops_unreferenced_data(spark, tmp_path):
    import os

    from logstream_processing_service_spark.operators import txlog as TX

    t = str(tmp_path / "tbl")
    for i in range(4):
        TX.commit(t, spark.range(i * 10, i * 10 + 2))
    assert len(os.listdir(os.path.join(t, "data"))) == 4
    # default retention refuses to touch fresh dirs (in-flight-commit
    # protection): manifests go, data stays until it ages out
    cautious = TX.vacuum(t, retain_last=2)
    assert cautious["removed_data_dirs"] == 0
    assert cautious["skipped_recent_dirs"] == 2
    stats = TX.vacuum(t, retain_last=2, min_age_seconds=0)
    assert stats["removed_manifests"] == 0  # already dropped above
    assert stats["removed_data_dirs"] == 2
    # retained snapshots still read fine; vacuumed ones are gone
    assert _ids(TX.read_snapshot(spark, t, version=3)) == [30, 31]
    assert _ids(TX.read_snapshot(spark, t, version=2)) == [20, 21]
    with pytest.raises(ValueError):
        TX.read_snapshot(spark, t, version=0)


def test_streaming_commit_sink_exactly_once(spark, tmp_path):
    from logstream_processing_service_spark.operators import txlog as TX

    t = str(tmp_path / "stream_tbl")
    sink = TX.streaming_commit_sink(t)
    sink(spark.range(3), 0)
    sink(spark.range(3, 6), 1)
    # crash-replay of batch 1: must be a no-op, not a duplicate append
    sink(spark.range(3, 6), 1)
    sink(spark.range(6, 8), 2)
    assert _ids(TX.read_snapshot(spark, t)) == list(range(8))
    assert [m.get("batch_id") for m in TX.history(t)] == [0, 1, 2]


def test_merge_commit_transactional(spark, tmp_path):
    from logstream_processing_service_spark.operators import txlog as TX

    t = str(tmp_path / "merge_tbl")
    base = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "id LONG, v STRING"
    )
    TX.commit(t, base)
    src = spark.createDataFrame([(2, "B2"), (4, "d")], "id LONG, v STRING")
    v = TX.merge_commit(spark, t, src, "id")
    assert v == 1
    got = {
        (r["id"], r["v"]) for r in TX.read_snapshot(spark, t).collect()
    }
    assert got == {(1, "a"), (2, "B2"), (3, "c"), (4, "d")}
    # the pre-merge snapshot is still time-travelable
    old = {
        (r["id"], r["v"]) for r in TX.read_snapshot(spark, t, 0).collect()
    }
    assert old == {(1, "a"), (2, "b"), (3, "c")}


def test_append_rejects_incompatible_schema(spark, tmp_path):
    from logstream_processing_service_spark.operators import txlog as TX

    t = str(tmp_path / "schema_tbl")
    TX.commit(t, spark.createDataFrame([(1, "a")], "id LONG, v STRING"))
    with pytest.raises(ValueError, match="schema"):
        TX.commit(
            t,
            spark.createDataFrame([(2, 3.5)], "id LONG, v DOUBLE"),
            mode="append",
        )
    # overwrite evolves the schema explicitly; history keeps both
    TX.commit(t, spark.createDataFrame([(2, 3.5)], "id LONG, v DOUBLE"))
    assert [m["schema"][1][1] for m in TX.history(t)] == ["string", "double"]


def test_streaming_commit_sink_under_real_stream(spark, tmp_path):
    """The txlog sink wired into readStream + availableNow: each
    micro-batch becomes a committed snapshot; restarting the stream with
    the same checkpoint does not duplicate data (exactly-once via the
    batch-id guard AND the checkpoint), and history records batch ids."""
    import os

    from logstream_processing_service_spark.operators import txlog as TX

    src = str(tmp_path / "src")
    t = str(tmp_path / "tbl")
    os.makedirs(src)
    schema = "id long"

    def run_stream():
        q = (
            spark.readStream.schema(schema)
            .parquet(src)
            .writeStream.foreachBatch(TX.streaming_commit_sink(t))
            .option("checkpointLocation", str(tmp_path / "_ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    spark.range(3).coalesce(1).write.mode("append").parquet(src)
    run_stream()
    spark.range(3, 7).coalesce(1).write.mode("append").parquet(src)
    run_stream()
    assert _ids(TX.read_snapshot(spark, t)) == list(range(7))
    # re-running with nothing new: no extra version
    n_versions = len(TX.history(t))
    run_stream()
    assert len(TX.history(t)) == n_versions
    assert sorted(m.get("batch_id") for m in TX.history(t)) == [0, 1]


def test_commit_race_threads_exactly_one_winner_per_version(spark, tmp_path):
    """Genuine concurrency: N threads commit simultaneously with no
    expected_version. The os.link commit point guarantees version numbers
    are unique and every manifest is wholly one writer's — losers raced
    onto the next number or surfaced CommitConflict, and the final
    history is a clean linear chain."""
    import threading

    from logstream_processing_service_spark.operators import txlog as TX

    t = str(tmp_path / "race_tbl")
    TX.commit(t, spark.range(1))
    errors, results = [], []
    lock = threading.Lock()

    def writer(tag):
        try:
            v = TX.commit(
                t,
                spark.createDataFrame([(tag,)], "id LONG"),
            )
            with lock:
                results.append((tag, v))
        except TX.CommitConflict:
            with lock:
                errors.append(tag)

    threads = [threading.Thread(target=writer, args=(i,)) for i in range(6)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    hist = TX.history(t)
    versions = [m["version"] for m in hist]
    assert versions == sorted(set(versions))  # unique, linear
    # every successful writer owns exactly the version it was told
    for tag, v in results:
        assert _ids(TX.read_snapshot(spark, t, version=v)) == [tag]
    assert len(results) + len(errors) == 6
    assert len(results) >= 1


def test_replay_skipped_after_vacuum_via_hwm(spark, tmp_path):
    """ADVICE r4: the exactly-once check must survive vacuum. The manifest
    high-water-mark carries the max committed batch id forward, so a
    replayed batch whose own manifest was vacuumed is STILL a no-op."""
    from logstream_processing_service_spark.operators import txlog as TX

    t = str(tmp_path / "hwm_tbl")
    sink = TX.streaming_commit_sink(t)
    for b in range(4):
        sink(spark.range(b * 2, b * 2 + 2), b)
    # vacuum away the manifests that recorded batches 0 and 1
    TX.vacuum(t, retain_last=2, min_age_seconds=0)
    assert [m.get("batch_id") for m in TX.history(t)] == [2, 3]
    before = _ids(TX.read_snapshot(spark, t))
    sink(spark.range(0, 2), 0)  # replay of a vacuumed batch
    sink(spark.range(2, 4), 1)
    assert _ids(TX.read_snapshot(spark, t)) == before
    # HWM is carried by every manifest, including non-streaming commits
    TX.commit(t, spark.range(100, 101), mode="append")
    sink(spark.range(0, 2), 3)  # replay across an interleaved commit
    assert TX.history(t)[-1]["last_batch_id"] == 3


def test_streaming_commit_sink_per_app_hwm(spark, tmp_path):
    """ADVICE r5: the HWM is keyed per txn app id (Delta txnAppId), so
    (a) two independent streams into one table don't shadow each other's
    watermarks, and (b) a checkpoint reset can opt into a new app id and
    its restarted batch 0 is NOT silently dropped."""
    from logstream_processing_service_spark.operators import txlog as TX

    t = str(tmp_path / "tbl")
    df = lambda v: spark.createDataFrame([(v,)], "x long")  # noqa: E731

    a = TX.streaming_commit_sink(t, txn_app_id="stream-a")
    b = TX.streaming_commit_sink(t, txn_app_id="stream-b")
    a(df(1), 0)
    a(df(2), 1)
    # stream-b starts at batch 0: must commit even though stream-a's HWM
    # is already 1 (the legacy shared HWM would drop it)
    b(df(10), 0)
    assert TX.read_snapshot(spark, t).count() == 3

    # replay within one app is still a no-op
    a(df(999), 1)
    assert TX.read_snapshot(spark, t).count() == 3

    # checkpoint reset, SAME app id: batches restart at 0 and are
    # dropped (documented) — a NEW app id opts back in
    a(df(3), 0)
    assert TX.read_snapshot(spark, t).count() == 3
    a2 = TX.streaming_commit_sink(t, txn_app_id="stream-a-ckpt2")
    a2(df(3), 0)
    assert TX.read_snapshot(spark, t).count() == 4

    # per-app HWMs survive vacuum (they ride in every manifest)
    TX.vacuum(t, retain_last=1, min_age_seconds=0.0)
    m = TX._manifest(t, TX._versions(t)[-1])
    assert m["txn_hwms"] == {
        "stream-a": 1,
        "stream-b": 0,
        "stream-a-ckpt2": 0,
    }


def test_snapshot_diff_append_fast_path(spark, tmp_path):
    """Append lineage: the diff IS the added files — insert rows only,
    no comparison compute."""
    from logstream_processing_service_spark.operators import txlog as TX

    t = str(tmp_path / "tbl")
    TX.commit(t, spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string"))
    TX.commit(t, spark.createDataFrame([(3, "c")], "id long, v string"),
              mode="append")
    d = TX.snapshot_diff(spark, t, 0, 1).collect()
    assert [(r["id"], r["v"], r["_change_type"]) for r in d] == [
        (3, "c", "insert")
    ]
    # identical versions -> empty diff
    assert TX.snapshot_diff(spark, t, 1, 1).count() == 0


def test_snapshot_diff_keyed_cdc(spark, tmp_path):
    """General (overwrite) diff with a key: inserts, deletes, and
    update_pre/postimage pairs — the Delta-CDF consumer contract."""
    from logstream_processing_service_spark.operators import txlog as TX

    t = str(tmp_path / "tbl")
    TX.commit(
        t,
        spark.createDataFrame(
            [(1, "a"), (2, "b"), (3, "c")], "id long, v string"
        ),
    )
    TX.commit(
        t,
        spark.createDataFrame(
            [(2, "B"), (3, "c"), (4, "d")], "id long, v string"
        ),
    )  # overwrite: 1 deleted, 2 updated, 3 unchanged, 4 inserted
    d = sorted(
        (r["id"], r["v"], r["_change_type"])
        for r in TX.snapshot_diff(spark, t, 0, 1, key="id").collect()
    )
    assert d == [
        (1, "a", "delete"),
        (2, "B", "update_postimage"),
        (2, "b", "update_preimage"),
        (4, "d", "insert"),
    ]
    # unkeyed fallback: bag-semantics insert/delete rows
    d2 = sorted(
        (r["id"], r["v"], r["_change_type"])
        for r in TX.snapshot_diff(spark, t, 0, 1).collect()
    )
    assert d2 == [
        (1, "a", "delete"),
        (2, "B", "insert"),
        (2, "b", "delete"),
        (4, "d", "insert"),
    ]


def test_snapshot_diff_keyed_cdc_null_key(spark, tmp_path):
    """NULL keys pair null-safely (ADVICE r6): an unchanged NULL-keyed
    row is OMITTED from the feed, a changed one emits a proper
    update_pre/postimage pair — not a spurious delete+insert."""
    from logstream_processing_service_spark.operators import txlog as TX

    t = str(tmp_path / "tbl")
    TX.commit(
        t,
        spark.createDataFrame(
            [(None, "keep"), (1, "a")], "id long, v string"
        ),
    )
    # unchanged NULL row, changed non-NULL row
    TX.commit(
        t,
        spark.createDataFrame(
            [(None, "keep"), (1, "A")], "id long, v string"
        ),
    )
    d = sorted(
        (r["id"], r["v"], r["_change_type"])
        for r in TX.snapshot_diff(spark, t, 0, 1, key="id").collect()
    )
    assert d == [(1, "A", "update_postimage"), (1, "a", "update_preimage")]

    # and a CHANGED NULL-keyed row updates in place
    TX.commit(
        t,
        spark.createDataFrame(
            [(None, "changed"), (1, "A")], "id long, v string"
        ),
    )
    d2 = sorted(
        (str(r["id"]), r["v"], r["_change_type"])
        for r in TX.snapshot_diff(spark, t, 1, 2, key="id").collect()
    )
    assert d2 == [
        ("None", "changed", "update_postimage"),
        ("None", "keep", "update_preimage"),
    ]


def test_restore_to_version(spark, tmp_path):
    """RESTORE: a new commit pointing at the old files — no data copy,
    history preserved, restored files protected from vacuum, streaming
    HWMs carried forward."""
    from logstream_processing_service_spark.operators import txlog as TX

    t = str(tmp_path / "tbl")
    df = lambda *rows: spark.createDataFrame(list(rows), "id long")  # noqa: E731
    TX.commit(t, df((1,), (2,)))
    sink = TX.streaming_commit_sink(t, mode="overwrite", txn_app_id="s")
    sink(df((9,)), 0)  # v1 via stream
    v = TX.restore(t, 0)
    assert v == 2
    assert sorted(r["id"] for r in TX.read_snapshot(spark, t).collect()) == [1, 2]
    # time travel to the restored-over version still works
    assert [r["id"] for r in TX.read_snapshot(spark, t, 1).collect()] == [9]
    # HWM carried: replaying batch 0 after restore is still a no-op
    sink(df((99,)), 0)
    assert sorted(r["id"] for r in TX.read_snapshot(spark, t).collect()) == [1, 2]
    # vacuum keeps the restored (v0-referenced) data alive
    TX.vacuum(t, retain_last=1, min_age_seconds=0.0)
    assert sorted(r["id"] for r in TX.read_snapshot(spark, t).collect()) == [1, 2]


def test_manifest_file_stats_pruning(spark, tmp_path):
    """Iceberg/Delta-shaped data skipping off the LOG: commit_with_stats
    records per-file min/max in the manifest (O(new files) per commit,
    carried forward on appends); read_snapshot_pruned_box plans the scan
    from manifest stats alone and answers identically to a full scan."""
    from pyspark.sql import functions as F

    from logstream_processing_service_spark.operators import txlog as TX

    t = str(tmp_path / "tbl")
    # three append commits of disjoint id ranges, one file each
    for lo, hi in [(0, 100), (100, 200), (200, 300)]:
        TX.commit_with_stats(
            t,
            spark.range(lo, hi).coalesce(1).select(
                F.col("id"), (F.col("id") % 7).alias("y")
            ),
            stats_cols=("id",),
            mode="append" if lo else "overwrite",
        )
    man = TX._manifest(t, TX._versions(t)[-1])
    assert len(man["files"]) == 3
    assert len(man["file_stats"]) == 3  # append carried stats forward

    pruned = TX.read_snapshot_pruned_box(spark, t, {"id": (120, 180)})
    # only the middle file is scanned
    files_read = {
        r["_f"]
        for r in pruned.select(F.input_file_name().alias("_f"))
        .distinct()
        .collect()
    }
    assert len(files_read) == 1
    want = sorted(
        r["id"]
        for r in TX.read_snapshot(spark, t)
        .filter(F.col("id").between(120, 180))
        .collect()
    )
    assert sorted(r["id"] for r in pruned.collect()) == want

    # out-of-range probe: zero files, empty result, correct schema
    none = TX.read_snapshot_pruned_box(spark, t, {"id": (10_000, 20_000)})
    assert none.count() == 0 and set(none.columns) == {"id", "y"}


def test_optimize_table_compacts_with_stats(spark, tmp_path):
    """OPTIMIZE over a streaming-accreted table: many small files fold
    into few clustered ones as a NEW version (old snapshot still
    time-travelable), manifest stats enable log-only pruning after."""
    from pyspark.sql import functions as F

    from logstream_processing_service_spark.operators import txlog as TX

    t = str(tmp_path / "tbl")
    sink = TX.streaming_commit_sink(t)
    for b in range(6):  # 6 micro-batches -> >= 6 files
        sink(spark.range(b * 50, (b + 1) * 50).repartition(2), b)
    before = TX._manifest(t, TX._versions(t)[-1])["files"]
    assert len(before) >= 6
    want = _ids(TX.read_snapshot(spark, t))

    v = TX.optimize_table(
        spark, t, target_files=2, sort_col="id", stats_cols=("id",)
    )
    man = TX._manifest(t, v)
    assert len(man["files"]) == 2
    assert _ids(TX.read_snapshot(spark, t)) == want
    # pre-optimize snapshot still readable
    assert _ids(TX.read_snapshot(spark, t, v - 1)) == want
    # range clustering + manifest stats -> one-file scans from the log
    pruned = TX.read_snapshot_pruned_box(spark, t, {"id": (10, 40)})
    files_read = {
        r["_f"]
        for r in pruned.select(F.input_file_name().alias("_f"))
        .distinct()
        .collect()
    }
    assert len(files_read) == 1
    assert _ids(pruned) == list(range(10, 41))


def test_schema_evolution_add_column(spark, tmp_path):
    """merge_schema=True append may ADD columns: old rows read NULL in
    the new column, the manifest pins the merged column order, and
    pre-evolution snapshots still read with their own schema."""
    from logstream_processing_service_spark.operators import txlog as TX

    t = str(tmp_path / "tbl")
    TX.commit(t, spark.range(3).select("id", F.lit("a").alias("src")))
    new = spark.range(10, 12).select(
        "id", F.lit("b").alias("src"), F.lit(1.5).alias("score")
    )
    # without the flag: loud error naming it
    with pytest.raises(ValueError, match="merge_schema"):
        TX.commit(t, new, mode="append")
    TX.commit(t, new, mode="append", merge_schema=True)

    cur = TX.read_snapshot(spark, t)
    assert cur.columns == ["id", "src", "score"]
    rows = {r["id"]: r["score"] for r in cur.collect()}
    assert rows[0] is None and rows[10] == 1.5
    # time travel: v0 predates the evolution and keeps its 2-col schema
    assert TX.read_snapshot(spark, t, version=0).columns == ["id", "src"]


def test_schema_evolution_writer_may_omit_columns(spark, tmp_path):
    """A merge_schema append that OMITS an existing column is legal —
    the omitted column reads NULL from the new files."""
    from logstream_processing_service_spark.operators import txlog as TX

    t = str(tmp_path / "tbl")
    TX.commit(t, spark.range(2).select("id", F.lit("x").alias("src")))
    TX.commit(t, spark.range(5, 7).select("id"), mode="append",
              merge_schema=True)
    cur = TX.read_snapshot(spark, t)
    assert cur.columns == ["id", "src"]
    rows = {r["id"]: r["src"] for r in cur.collect()}
    assert rows[0] == "x" and rows[5] is None


def test_schema_evolution_rejects_type_change(spark, tmp_path):
    from logstream_processing_service_spark.operators import txlog as TX

    t = str(tmp_path / "tbl")
    TX.commit(t, spark.range(2).select("id", F.lit(1).alias("v")))
    retyped = spark.range(2, 4).select("id", F.lit("s").alias("v"))
    with pytest.raises(ValueError, match="cannot change column 'v'"):
        TX.commit(t, retyped, mode="append", merge_schema=True)


def test_schema_evolution_sticky_and_optimize_normalizes(spark, tmp_path):
    """The evolved flag rides forward through later same-schema appends
    (files stay mixed), and an OPTIMIZE rewrite normalizes the table
    back to uniform files (flag cleared)."""
    from logstream_processing_service_spark.operators import txlog as TX

    t = str(tmp_path / "tbl")
    TX.commit(t, spark.range(3).select("id"))
    TX.commit(t, spark.range(3, 5).select("id", F.lit(2.0).alias("score")),
              mode="append", merge_schema=True)
    TX.commit(t, spark.range(5, 6).select("id", F.lit(3.0).alias("score")),
              mode="append")
    assert TX.history(t)[-1].get("evolved") is True
    before = {r["id"]: r["score"] for r in TX.read_snapshot(spark, t).collect()}
    TX.optimize_table(spark, t, target_files=1)
    man = TX.history(t)[-1]
    assert not man.get("evolved")
    after = {r["id"]: r["score"] for r in TX.read_snapshot(spark, t).collect()}
    assert after == before


def test_schema_evolution_cdc_in_latest_schema(spark, tmp_path):
    """snapshot_diff across an evolution emits the feed in v_to's
    schema, null-filling the column v_from predates."""
    from logstream_processing_service_spark.operators import txlog as TX

    t = str(tmp_path / "tbl")
    v0 = TX.commit(t, spark.range(2).select("id"))
    v1 = TX.commit(t, spark.range(10, 12).select(
        "id", F.lit(7.0).alias("score")), mode="append", merge_schema=True)
    feed = TX.snapshot_diff(spark, t, v0, v1)
    assert feed.columns == ["id", "score", "_change_type"]
    got = {(r["id"], r["score"], r["_change_type"]) for r in feed.collect()}
    assert got == {(10, 7.0, "insert"), (11, 7.0, "insert")}


def test_null_pruned_read_skips_complete_files(spark, tmp_path):
    """IS NULL probes skip files whose manifest null count is zero;
    results match the full-scan answer and the skip actually happens
    (asserted via the scanned file set in the plan)."""
    from logstream_processing_service_spark.operators import txlog as TX

    t = str(tmp_path / "tbl")
    clean = spark.range(100).select(
        "id", F.col("id").cast("double").alias("score")
    )
    holey = spark.range(100, 140).select(
        "id",
        F.when(F.col("id") % 7 == 0, None).otherwise(
            F.col("id").cast("double")
        ).alias("score"),
    )
    TX.commit_with_stats(t, clean.coalesce(1), stats_cols=("score",))
    TX.commit_with_stats(
        t, holey.coalesce(1), stats_cols=("score",), mode="append"
    )
    pruned = TX.read_snapshot_null_pruned(spark, t, "score")
    full = TX.read_snapshot(spark, t).filter(F.col("score").isNull())
    assert sorted(r["id"] for r in pruned.collect()) == sorted(
        r["id"] for r in full.collect()
    )
    # the clean file is not in the pruned scan
    man = TX.history(t)[-1]
    clean_files = [
        f for f, st in man["file_stats"].items() if st["nulls_score"] == 0
    ]
    assert clean_files
    scanned = {f.split("/")[-1] for f in pruned.inputFiles()}
    for f in clean_files:
        assert f.split("/")[-1] not in scanned
    # and the full scan does include it (the assertion above is not
    # vacuous)
    assert {f.split("/")[-1] for f in full.inputFiles()} >= {
        f.split("/")[-1] for f in clean_files
    }
