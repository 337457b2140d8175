"""Crash recovery of the parquet sinks: every sink that rename-swaps its
target (``sources.tables.swap_in``) must survive a crash between the two
renames. Batch 0 commits, batch 1 crashes with the target renamed to
``._old`` and the new data still under ``._staged``, batch 2 runs: the rows
committed before the crash survive and no swap leftovers remain. The
replace-by-tag history verb (``put_tagged``) is held to the same bar."""

from __future__ import annotations

import os

import duckdb
import pytest

from logstream_processing_service_spark.operators.maintenance import compact_parquet
from logstream_processing_service_spark.sources.tables import merge_parquet, put_tagged
from logstream_processing_service_spark.streaming.dedup import minhash_dedup_sink
from logstream_processing_service_spark.streaming.pipeline import merge_sink

SCHEMA = "id long, v string"
ROWS = [[(1, "a"), (2, "b")], [(3, "c")], [(4, "d")]]

A = "the quick brown fox jumps over the lazy dog near the river bank today"
B = "completely different content about parquet files and shuffle exchanges"
C = "a third unrelated passage that discusses watermark semantics at length"
D = "one more distinct document describing broadcast joins and skew hints"
DOCS = [[(1, A), (2, B)], [(3, C)], [(4, A + " again"), (5, D)]]


def _merge_parquet(spark, root, batch_id):
    df = spark.createDataFrame(ROWS[batch_id], SCHEMA)
    merge_parquet(spark, f"{root}/data", df, key="id")


def _merge_sink(spark, root, batch_id):
    merge_sink(root, key="id")(spark.createDataFrame(ROWS[batch_id], SCHEMA), batch_id)


def _compact(spark, root, batch_id):
    """Each batch compacts what the earlier batches appended, then appends
    its own rows; batch 1 crashes in its compaction, before its append."""
    if batch_id:
        compact_parquet(spark, f"{root}/data", target_bytes=1 << 30)
    spark.createDataFrame(ROWS[batch_id], SCHEMA).write.mode("append").parquet(
        f"{root}/data"
    )


def _dedup(spark, root, batch_id):
    docs = spark.createDataFrame(DOCS[batch_id], "doc_id long, text string")
    minhash_dedup_sink(root, max_doc_freq=0)(docs, batch_id)


def _rows(spark, path):
    return sorted(map(tuple, spark.read.parquet(path).collect()))


def _check_rows(spark, root):
    assert _rows(spark, f"{root}/data") == [(1, "a"), (2, "b"), (4, "d")]


def _check_dedup(spark, root):
    reg = spark.read.parquet(f"{root}/registry/data")
    assert {r["first_doc_id"] for r in reg.filter("batch_id = 0").collect()} == {1, 2}
    dropped = spark.read.parquet(f"{root}/dropped").collect()
    assert (4, 1) in {(r["doc_id"], r["dup_of"]) for r in dropped}


@pytest.mark.parametrize(
    "sink, check",
    [
        (_merge_parquet, _check_rows),
        (_merge_sink, _check_rows),
        (_dedup, _check_dedup),
        (_compact, _check_rows),
    ],
    ids=["merge_parquet", "merge_sink", "minhash_dedup_sink", "compact_parquet"],
)
def test_swap_crash_keeps_committed_rows(spark, tmp_path, monkeypatch, sink, check):
    root = str(tmp_path / "sink")
    sink(spark, root, 0)

    rename = os.rename
    crashed = []

    def crash_once(src, dst, *args, **kwargs):
        if str(src).endswith("._staged") and not crashed:
            crashed.append(src)
            raise OSError("simulated crash between the swap renames")
        return rename(src, dst, *args, **kwargs)

    monkeypatch.setattr(os, "rename", crash_once)
    with pytest.raises(OSError, match="simulated crash"):
        sink(spark, root, 1)
    monkeypatch.undo()
    assert crashed

    sink(spark, root, 2)
    check(spark, root)
    leftovers = [
        os.path.join(d, name)
        for d, dirs, _ in os.walk(root)
        for name in dirs
        if name.endswith(("._old", "._staged"))
    ]
    assert not leftovers


@pytest.mark.parametrize(
    "sink", [_merge_parquet, _merge_sink], ids=["merge_parquet", "merge_sink"]
)
def test_merge_refuses_target_with_extra_column(spark, tmp_path, sink):
    """A MERGE target with a column the batch lacks must raise and stay as
    it was; reading it with the batch schema would drop the column and the
    swap would delete it from every row."""
    root = str(tmp_path / "sink")
    old = [(1, "a", "x"), (2, "b", "y")]
    spark.createDataFrame(old, SCHEMA + ", extra string").write.parquet(f"{root}/data")
    with pytest.raises(ValueError, match="schema mismatch"):
        sink(spark, root, 1)
    assert _rows(spark, f"{root}/data") == old
    assert sorted(os.listdir(root)) == ["data"]


def test_put_tagged_replaces_by_tag(spark, tmp_path, monkeypatch):
    """One flat file per tag: a second put of a tag replaces its file, a
    new tag adds one, and DuckDB's flat ``*.parquet`` glob reads the rows
    Spark reads. A crash in the rename keeps the tag's previous file; the
    next put (here an empty frame, which still writes its schema) drops
    the stale staging dir."""
    hist = str(tmp_path / "hist")

    def put(rows, tag):
        put_tagged(spark.createDataFrame(rows, SCHEMA), hist, tag)

    put(ROWS[0], "0-9")
    put(ROWS[1], "0-9")
    assert os.listdir(hist) == ["0-9.parquet"]
    assert _rows(spark, hist) == [(3, "c")]
    put(ROWS[2], "10-19")
    assert sorted(os.listdir(hist)) == ["0-9.parquet", "10-19.parquet"]
    assert _rows(spark, hist) == [(3, "c"), (4, "d")]
    glob = duckdb.sql(f"SELECT id, v FROM read_parquet('{hist}/*.parquet')")
    assert sorted(glob.fetchall()) == _rows(spark, hist)

    def crash(src, dst, *args, **kwargs):
        raise OSError("simulated crash in the rename")

    monkeypatch.setattr(os, "rename", crash)
    with pytest.raises(OSError, match="simulated crash"):
        put(ROWS[0], "0-9")
    monkeypatch.undo()
    assert os.path.isdir(hist + "._staged")
    assert _rows(spark, hist) == [(3, "c"), (4, "d")]

    put([], "20-29")
    assert not os.path.exists(hist + "._staged")
    assert sorted(os.listdir(hist)) == ["0-9.parquet", "10-19.parquet", "20-29.parquet"]
    assert _rows(spark, hist) == [(3, "c"), (4, "d")]
    with pytest.raises(ValueError, match="visible file"):
        put(ROWS[0], "_hidden")
