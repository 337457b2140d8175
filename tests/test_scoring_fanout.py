"""Scoring-batch fan-out: one materialization of the scored slice feeds
every sink, its caches are released, a retried slice leaves the volume
history and the incidents as they were, and the service-owned sink targets
fail loudly when unreadable (default tier; the end-to-end pipeline suite
in test_pipelines.py is ``slow``)."""

from __future__ import annotations

import json
import os

import pandas as pd
import pytest

from logstream_processing_service_spark import pipelines as P

from .conftest import SF_DIR

EMPTY_LO = 10**12  # above every event_id


@pytest.fixture(scope="module")
def work_dir(spark, tmp_path_factory):
    work = str(tmp_path_factory.mktemp("fanout_run"))
    P.run_training_batch(spark, SF_DIR, work, limit=200, k=4)
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
    # one materialization: the assign join reads the embedding twice at most
    assert rows.value <= 2 * out["scored"]
    assert _persisted_ids(spark) - before_ids == set()

    # re-running the slice adds nothing to the idempotent sink, and it
    # neither re-counts its volume history nor opens another incident
    n = _emb_rows(spark, work_dir)
    state = _anomaly_state(spark, work_dir)
    P.run_incremental_batch(spark, SF_DIR, work_dir, start_id=0, end_id=999)
    assert _emb_rows(spark, work_dir) == n
    assert _anomaly_state(spark, work_dir) == state


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
    the batch upsert and the streaming upsert and MERGE sinks. None may
    append without the anti-join or replace the target with the batch."""
    from logstream_processing_service_spark.streaming.pipeline import (
        merge_sink,
        upsert_sink,
    )

    new = spark.range(3).withColumnRenamed("id", "event_id")
    sinks = {
        "upsert_parquet": lambda out: P.upsert_parquet(spark, new, f"{out}/data"),
        "upsert_sink": lambda out: upsert_sink(out)(new, 0),
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
