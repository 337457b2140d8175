"""Scoring-batch fan-out: one materialization of the scored slice feeds
every sink, its caches are released, a retried slice leaves the volume
history and the incidents as they were, the scoring stream ends where the
slice driver does, and the service-owned sink targets fail loudly when
unreadable (default tier; the end-to-end pipeline suite in
test_pipelines.py is ``slow``)."""

from __future__ import annotations

import json
import os
import shutil

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from logstream_processing_service_spark import pipelines as P

from .conftest import SF_DIR

EMPTY_LO = 10**12  # above every event_id


@pytest.fixture(scope="module")
def trained(spark, tmp_path_factory):
    """A service work dir holding only the trained model, to be copied."""
    work = str(tmp_path_factory.mktemp("trained"))
    P.run_training_batch(spark, SF_DIR, work, limit=200, k=4)
    return work


@pytest.fixture(scope="module")
def work_dir(trained, tmp_path_factory):
    work = str(tmp_path_factory.mktemp("fanout_run") / "svc")
    shutil.copytree(trained, work)
    return work


def _persisted_ids(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def _files(root: str) -> dict[str, float]:
    return {
        os.path.join(d, f): os.stat(os.path.join(d, f)).st_mtime_ns
        for d, _, fs in os.walk(root) for f in fs
    }


def _emb_rows(spark, work_dir: str) -> int:
    return spark.read.parquet(os.path.join(work_dir, "log_embeddings")).count()


def _anomaly_state(spark, work_dir: str) -> tuple[list, set[int]]:
    """The sorted volume history rows and the opened incidents' clusters."""
    hist = spark.read.parquet(os.path.join(work_dir, "volume_history"))
    rows = hist.select("cluster_id", "batch_id", "log_count").collect()
    inc_path = os.path.join(work_dir, "incidents")
    incidents = (
        {r["cluster_id"] for r in spark.read.parquet(inc_path).collect()}
        if os.path.exists(inc_path) else set()
    )
    return sorted(map(tuple, rows)), incidents


def test_scoring_embeds_the_slice_once(spark, work_dir, monkeypatch):
    rows = spark.sparkContext.accumulator(0)
    orig = P.hash_featurizer

    def counted(*args, **kwargs):
        from pyspark.sql import functions as F
        from pyspark.sql.types import ArrayType, FloatType

        func = orig(*args, **kwargs).func

        def embed(texts: pd.Series) -> pd.Series:
            rows.add(len(texts))
            return func(texts)

        return F.pandas_udf(embed, ArrayType(FloatType()))

    monkeypatch.setattr(P, "hash_featurizer", counted)
    before_ids = _persisted_ids(spark)
    out = P.run_incremental_batch(spark, SF_DIR, work_dir, start_id=0, end_id=999)
    assert out["scored"] > 0
    # one materialization, and the assignment keeps the embedded rows
    # instead of joining back to them: each scored row is embedded once
    assert rows.value == out["scored"]
    assert _persisted_ids(spark) - before_ids == set()

    # re-running the slice adds nothing to the idempotent sink, and it
    # neither re-counts its volume history nor opens another incident
    n = _emb_rows(spark, work_dir)
    state = _anomaly_state(spark, work_dir)
    P.run_incremental_batch(spark, SF_DIR, work_dir, start_id=0, end_id=999)
    assert _emb_rows(spark, work_dir) == n
    assert _anomaly_state(spark, work_dir) == state


def test_scoring_batch_job_budget(spark, trained, tmp_path):
    """One slice is scored in at most 15 Spark jobs, every one of them in
    the caller's job group, the concurrent sinks' jobs too: no small side
    (the centroids, the pattern aggregate, the anomaly statistics) is
    shuffled or joined back, the centroid table is read with its known
    schema, and one aggregate gives the count and the key bounds. This
    first slice creates the pattern table; a batch that adds no pattern
    and opens no incident runs 14."""
    import uuid

    work = str(tmp_path / "svc")
    shutil.copytree(trained, work)
    sc = spark.sparkContext
    group = f"scoring-budget-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "one scoring batch")
    try:
        out = P.run_incremental_batch(spark, SF_DIR, work, start_id=0, end_id=999)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert out["scored"] > 0
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert len(jobs) <= 15, sorted(jobs)


def test_scoring_batch_compile_budget(spark, trained, tmp_path):
    """A steady-state batch compiles at most 8 generated classes: the
    session's codegen cache holds what the previous batch of the same
    shape compiled. What remains are the plans whose per-batch literals
    codegen inlines (the slice bounds, the embeddings upsert's key
    range). Spark's default 100-entry cache recompiled about 100 per
    batch. Two slices warm up: the first creates the sink targets and
    the second is the first to read them, each with plans of its own."""
    work = str(tmp_path / "svc")
    shutil.copytree(trained, work)
    jvm = spark.sparkContext._jvm
    compiles = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    for lo in (0, 300):
        P.run_incremental_batch(spark, SF_DIR, work, start_id=lo, end_id=lo + 299)
    before = compiles.getCount()
    out = P.run_incremental_batch(spark, SF_DIR, work, start_id=600, end_id=899)
    assert out["scored"] > 0
    assert compiles.getCount() - before <= 8


def _planted_burst(spark, work_dir: str):
    """No slice of the small fixture bursts, so the anomaly pass runs on a
    planted history in the scored history's column types: ten steady
    clusters, one of which bursts in its fifth virtual batch."""
    from pyspark.sql import functions as F

    hist = spark.read.parquet(os.path.join(work_dir, "volume_history"))
    rows = [(c, b, 1000 if (c, b) == (0, 4) else 10) for c in range(10) for b in range(5)]
    return spark.createDataFrame(rows, ["cluster_id", "batch_id", "log_count"]).select(
        *(F.col(f.name).cast(f.dataType) for f in hist.schema)
    )


def test_incidents_keep_the_cluster_id_type_they_are_written_with(spark, trained, tmp_path):
    """Every service table stores ``cluster_id`` as int32, and the pinned
    incidents schema reads the incidents back as written: same type, same
    rows, so the upsert's anti-join compares the keys without a cast."""
    from logstream_processing_service_spark.operators.relational import INCIDENTS_DDL

    work = str(tmp_path / "svc")
    shutil.copytree(trained, work)
    P.run_incremental_batch(spark, SF_DIR, work, start_id=0, end_id=999)
    for table in ("log_embeddings", "log_patterns_incr", "volume_history"):
        schema = pq.read_table(os.path.join(work, table)).schema
        assert schema.field("cluster_id").type == pa.int32(), table

    anomaly_dir = str(tmp_path / "anomaly")
    assert P.anomaly_pass(spark, _planted_burst(spark, work), anomaly_dir, "burst") == 1

    inc_path = os.path.join(anomaly_dir, "incidents")
    assert pq.read_table(inc_path).schema.field("cluster_id").type == pa.int32()
    pinned = spark.read.schema(INCIDENTS_DDL).parquet(inc_path)
    as_written = spark.read.parquet(inc_path)
    assert pinned.dtypes == as_written.dtypes
    assert sorted(map(tuple, pinned.collect())) == sorted(map(tuple, as_written.collect()))


def test_small_tables_get_a_file_only_with_rows(spark, trained, tmp_path):
    """The pattern and incident tables gain a file only when a batch adds
    rows to them, so a replayed slice or anomaly pass adds no file to
    either, and neither holds a 0-row file."""
    work = str(tmp_path / "svc")
    shutil.copytree(trained, work)
    P.run_incremental_batch(spark, SF_DIR, work, start_id=0, end_id=999)
    anomaly_dir = str(tmp_path / "anomaly")
    burst = _planted_burst(spark, work)
    assert P.anomaly_pass(spark, burst, anomaly_dir, "burst") == 1

    small = [os.path.join(work, "log_patterns_incr"), os.path.join(anomaly_dir, "incidents")]
    files = [_files(path) for path in small]
    assert all(files)
    P.run_incremental_batch(spark, SF_DIR, work, start_id=0, end_id=999)
    assert P.anomaly_pass(spark, burst, anomaly_dir, "burst") == 0
    assert [_files(path) for path in small] == files
    for path in files:
        for f in path:
            if f.endswith(".parquet"):
                assert pq.ParquetFile(f).metadata.num_rows > 0, f


def test_failed_sink_fails_the_batch_after_the_others_finish(
    spark, trained, tmp_path, monkeypatch
):
    """When one of the concurrent sinks raises, the batch raises only
    after the other two have finished: the cache is released, no commit
    marker is written, and a replay of the slice ends with the tables a
    clean run writes."""
    clean, failed = str(tmp_path / "clean"), str(tmp_path / "failed")
    shutil.copytree(trained, clean)
    shutil.copytree(trained, failed)
    P.run_incremental_batch(spark, SF_DIR, clean, start_id=0, end_id=999)

    def broken(*args, **kwargs):
        raise RuntimeError("embeddings sink down")

    before_ids = _persisted_ids(spark)
    monkeypatch.setattr(P, "upsert_parquet", broken)
    with pytest.raises(RuntimeError, match="embeddings sink down"):
        P.run_incremental_batch(spark, SF_DIR, failed, start_id=0, end_id=999)
    monkeypatch.undo()
    assert _persisted_ids(spark) - before_ids == set()
    assert not os.path.exists(os.path.join(failed, "batch_status.json"))
    # the pattern refresh and the anomaly pass ran to their end
    assert os.path.isdir(os.path.join(failed, "log_patterns_incr"))
    assert os.path.exists(os.path.join(failed, "volume_history", "0-999.parquet"))

    P.run_incremental_batch(spark, SF_DIR, failed, start_id=0, end_id=999)
    assert _service_state(spark, failed) == _service_state(spark, clean)


def test_quality_audit_reads_embeddings_with_a_pinned_schema(spark, trained, tmp_path):
    """``log_embeddings`` holds training's 5-column files and the scoring
    batch's 9-column ones. The audit reads the columns it uses with their
    written types whichever footer Spark would sample, and the read runs
    no schema-inference job."""
    import glob
    import uuid

    from pyspark.sql.types import StructType

    work = str(tmp_path / "svc")
    shutil.copytree(trained, work)
    P.run_incremental_batch(spark, SF_DIR, work, start_id=0, end_id=999)
    files = glob.glob(os.path.join(work, "log_embeddings", "*.parquet"))
    assert {len(pq.read_schema(f)) for f in files} == {5, 9}

    sc = spark.sparkContext
    group = f"audit-read-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "audit read")
    try:
        emb = P.read_audit_embeddings(spark, work)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []
    assert emb.schema == StructType.fromDDL(P.AUDIT_EMBEDDINGS_DDL)
    assert emb.count() == sum(pq.ParquetFile(f).metadata.num_rows for f in files)


def test_empty_slice_writes_nothing_and_releases_cache(spark, work_dir):
    files = _files(work_dir)
    before_ids = _persisted_ids(spark)
    out = P.run_incremental_batch(spark, SF_DIR, work_dir, EMPTY_LO, EMPTY_LO + 10)
    assert out == {"scored": 0, "incidents": 0}
    assert _files(work_dir) == files
    assert _persisted_ids(spark) - before_ids == set()


def test_commit_marker_survives_crash_mid_write(spark, work_dir, monkeypatch):
    marker = os.path.join(work_dir, "batch_status.json")
    P.run_incremental_batch(spark, SF_DIR, work_dir, start_id=0, end_id=499)
    with open(marker) as fh:
        assert json.load(fh)["end_id"] == 499

    def torn_dump(obj, fh, **kwargs):
        fh.write(json.dumps(obj)[:12])
        raise OSError("disk full")

    monkeypatch.setattr(json, "dump", torn_dump)
    with pytest.raises(OSError, match="disk full"):
        P.run_incremental_batch(spark, SF_DIR, work_dir, start_id=500, end_id=999)
    monkeypatch.undo()
    with open(marker) as fh:
        status = json.load(fh)
    assert (status["status"], status["end_id"]) == ("COMPLETED", 499)

    # the crash came after the history and incident writes: the retry of
    # the uncommitted slice must leave both as the crashed run left them
    state = _anomaly_state(spark, work_dir)
    P.run_incremental_batch(spark, SF_DIR, work_dir, start_id=500, end_id=999)
    assert _anomaly_state(spark, work_dir) == state
    with open(marker) as fh:
        status = json.load(fh)
    assert (status["status"], status["end_id"]) == ("COMPLETED", 999)


def test_upsert_raises_on_unreadable_target(spark, tmp_path):
    """A junk file in the target makes every sink raise before it writes:
    the scoring upsert and the streaming MERGE sink. Neither may append
    without the anti-join or replace the target with the batch."""
    from logstream_processing_service_spark.streaming.pipeline import merge_sink

    new = spark.range(3).withColumnRenamed("id", "event_id")
    sinks = {
        "upsert_parquet": lambda out: P.upsert_parquet(spark, new, f"{out}/data"),
        "merge_sink": lambda out: merge_sink(out)(new, 0),
    }
    for name, write in sinks.items():
        target = tmp_path / name / "data"
        target.mkdir(parents=True)
        (target / "part-0.parquet").write_bytes(b"not a parquet file")
        with pytest.raises(Exception, match="FAILED_READ_FILE"):
            write(str(tmp_path / name))
        assert sorted(os.listdir(target)) == ["part-0.parquet"], name


def test_upsert_first_write_creates_target(spark, tmp_path):
    target = str(tmp_path / "sink")
    new = spark.range(3).withColumnRenamed("id", "event_id")
    P.upsert_parquet(spark, new, target)
    P.upsert_parquet(spark, new, target)
    assert spark.read.parquet(target).count() == 3


def _service_state(spark, work_dir: str) -> dict:
    def rows(table: str, *cols: str) -> list:
        df = spark.read.parquet(os.path.join(work_dir, table))
        return sorted(map(tuple, df.select(*(cols or df.columns)).collect()))

    history, incidents = _anomaly_state(spark, work_dir)
    return {
        "log_embeddings": rows("log_embeddings", "event_id", "cluster_id"),
        "log_patterns_incr": rows("log_patterns_incr"),
        "volume_history": history,
        "incidents": incidents,
    }


def test_stream_scores_like_the_slice_driver(spark, trained, tmp_path):
    """The scoring stream runs the slice driver's body: over the same rows
    both end with the same sinks, history and incidents, and neither
    embeds an interesting row that has no props to embed."""
    from logstream_processing_service_spark.streaming.pipeline import (
        run_incremental_pipeline,
    )

    events = pq.read_table(os.path.join(SF_DIR, "events.parquet"))
    last = events.slice(events.num_rows - 1).to_pylist()[0]
    bare_id = max(events.column("event_id").to_pylist()) + 1
    bare = {**last, "event_id": bare_id, "event_type": "error", "props": None}
    sf_dir = tmp_path / "sf"
    sf_dir.mkdir()
    pq.write_table(
        pa.concat_tables([events, pa.Table.from_pylist([bare], schema=events.schema)]),
        sf_dir / "events.parquet",
    )

    # the model is trained on the first 200 interesting rows, which the copy
    # shares with SF_DIR
    slice_dir, stream_dir = str(tmp_path / "slice"), str(tmp_path / "stream")
    shutil.copytree(trained, slice_dir)
    shutil.copytree(trained, stream_dir)

    out = P.run_incremental_batch(spark, str(sf_dir), slice_dir, 0, bare_id)
    run_incremental_pipeline(spark, str(sf_dir), stream_dir)

    want = _service_state(spark, slice_dir)
    assert out["scored"] > 0 and out["incidents"] == len(want["incidents"])
    assert bare_id not in {r[0] for r in want["log_embeddings"]}
    assert _service_state(spark, stream_dir) == want


def test_events_stream_reads_the_table_in_place(spark, tmp_path, monkeypatch):
    """The events stream reads the table where it lies: it stages nothing
    in the temp dir, has the batch loader's columns and types, and streams
    every row."""
    import tempfile

    from logstream_processing_service_spark.sources import load_table
    from logstream_processing_service_spark.streaming.pipeline import (
        read_events_stream,
    )

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    stream = read_events_stream(spark, SF_DIR)
    assert not any(tmp_path.iterdir())
    batch = load_table(spark, SF_DIR, "events")
    assert stream.dtypes == batch.dtypes

    q = (
        stream.writeStream.format("memory")
        .queryName("events_in_place")
        .option("checkpointLocation", str(tmp_path / "_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert spark.table("events_in_place").count() == batch.count()
