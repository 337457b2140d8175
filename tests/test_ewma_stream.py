"""Streaming EWMA volume monitor — rehearsed r10 catalog candidate
`ewma_volume_stream_twin` (the stateful twin of r9's
ewma_control_chart at micro-batch grain)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from logstream_processing_service_spark.sources import load_table
from logstream_processing_service_spark.streaming.drive import (
    last_batch_per_key,
    run_deterministic_batches,
)
from logstream_processing_service_spark.streaming.state import (
    EWMA_STREAM_ALPHA,
    ewma_volume_stream,
)

from .conftest import SF_DIR, SF_DIR_ORACLE
from .oracle_harness import compare_one, duckdb_conn

N_BATCHES = 3


def _twin(spark, sf_dir):
    from logstream_processing_service_spark.queries_streaming import (
        q_ewma_volume_stream_twin,
    )

    return q_ewma_volume_stream_twin(spark, sf_dir)


def ewma_volume_stream_key(s):
    return ewma_volume_stream(s, "key")


def _oracle(n_batches: int = N_BATCHES) -> str:
    from logstream_processing_service_spark.queries_streaming import (
        ewma_stream_twin_oracle,
    )

    return ewma_stream_twin_oracle(n_batches)


@pytest.mark.parametrize("sf_dir", [SF_DIR, SF_DIR_ORACLE])
def test_ewma_stream_twin_matches_chained_fold(spark, sf_dir):
    con = duckdb_conn(sf_dir)
    r = compare_one(
        spark, con, "ewma_volume_stream_twin", _twin, _oracle(), sf_dir
    )
    assert r["status"] == "OK", r


def test_state_carries_across_batches(spark):
    """Three hand-built batches for one key (counts 10, 20, 0-absent):
    s = 10 after b0, 0.3*20+0.7*10 = 13 after b1; the key absent from
    b2 keeps batches_seen = 2 (GroupState only fires on data)."""
    rows_b0 = [("k",)] * 10
    rows_b1 = [("k",)] * 20
    rows_b2 = [("other",)] * 5
    slices = [
        spark.createDataFrame(rows, "key string")
        for rows in (rows_b0, rows_b1, rows_b2)
    ]
    captured = run_deterministic_batches(
        spark, slices, ewma_volume_stream_key, "append"
    )
    final = {r["key"]: r for r in
             last_batch_per_key(captured, "key").collect()}
    assert final["k"]["batches_seen"] == 2
    assert round(final["k"]["ewma"], 6) == 13.0
    assert final["other"]["batches_seen"] == 1 and final["other"]["ewma"] == 5.0
