"""Registry lifecycle completion — rehearsed r13 catalog candidates
`bm25_compaction_twin` (add/delete/COMPACT) and
`char_window_incremental_twin` (char-grain postings, df derived at
read)."""

from __future__ import annotations

import pytest
pytestmark = pytest.mark.slow  # tiered run: see pytest.ini (r13 VERDICT #1)


from .conftest import SF_DIR, SF_DIR_ORACLE
from .oracle_harness import compare_one, duckdb_conn


@pytest.mark.parametrize("sf_dir", [SF_DIR, SF_DIR_ORACLE])
def test_compaction_hash_matches_post_delete_oracle(spark, sf_dir):
    """Search over the compacted registry (plain scan, no tombstone
    filtering) must equal the post-delete batch rebuild — compaction
    is a pure physical rewrite."""
    from logstream_processing_service_spark.queries_text import (
        bm25_delete_oracle_sql,
        q_bm25_compaction_twin,
    )

    con = duckdb_conn(sf_dir)
    r = compare_one(
        spark, con, "bm25_compaction_twin", q_bm25_compaction_twin,
        bm25_delete_oracle_sql(), sf_dir,
    )
    assert r["status"] == "OK", r


def test_compaction_folds_tombstones_and_preserves_time_travel(
    spark, tmp_path
):
    """After compaction: (a) the new snapshot has FEWER files than the
    merged v1 and (b) contains zero tombstone rows; (c) the
    pre-compaction v1 is still time-travelable and its tombstone-aware
    read equals the compacted read (snapshot isolation)."""
    from logstream_processing_service_spark.operators import txlog as TX
    from logstream_processing_service_spark.operators.retrieval import (
        bm25_incremental_delete,
    )

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma alpha"),
            (2, "beta delta"),
            (3, "alpha epsilon zeta eta theta"),
        ],
        "doc_id long, text string",
    )
    dels = spark.createDataFrame([(2,)], "doc_id long")
    t = str(tmp_path / "reg")
    bm25_incremental_delete(docs, dels, t)
    v2 = TX.rewrite_snapshot(
        spark, t, lambda s: TX.live_rows(s, "doc_id", "tc").coalesce(1)
    )
    assert v2 == 2
    assert len(TX._manifest(t, 2)["files"]) < len(TX._manifest(t, 1)["files"])
    compacted = TX.read_snapshot(spark, t)
    assert compacted.filter("tc < 0").count() == 0
    assert compacted.filter("doc_id = 2").count() == 0
    # time travel: v1's tombstone-aware read == the compacted read
    v1 = TX.live_rows(TX.read_snapshot(spark, t, version=1), "doc_id", "tc")
    a = sorted(tuple(r) for r in v1.collect())
    b = sorted(tuple(r) for r in compacted.collect())
    assert a == b


@pytest.mark.parametrize("sf_dir", [SF_DIR, SF_DIR_ORACLE])
def test_char_window_incremental_hash_matches_batch_oracle(spark, sf_dir):
    from logstream_processing_service_spark.operators.dedup import (
        char_window_hash_oracle_sql,
    )
    from logstream_processing_service_spark.queries_text import (
        q_char_window_incremental_twin,
    )

    con = duckdb_conn(sf_dir)
    r = compare_one(
        spark, con, "char_window_incremental_twin",
        q_char_window_incremental_twin,
        char_window_hash_oracle_sql(), sf_dir,
    )
    assert r["status"] == "OK", r


def test_char_window_delta_commit_is_delta_grain_and_df_fresh(
    spark, tmp_path
):
    """(a) v1 carries only the delta docs' window postings; (b) the df
    analytic sees CROSS-COMMIT duplication — a delta doc repeating a
    base doc's window must show dup windows on BOTH docs (stored df
    would miss it: the base doc's rows predate the delta)."""
    from logstream_processing_service_spark.operators import txlog as TX
    from logstream_processing_service_spark.operators.dedup import (
        char_window_incremental_profile,
    )

    body = "x" * 10 + "shared-window-content-" * 4  # > 40 chars
    base = spark.createDataFrame(
        [(1, body), (2, "completely different text " * 4)],
        "doc_id long, text string",
    )
    delta = spark.createDataFrame([(3, body)], "doc_id long, text string")
    t = str(tmp_path / "reg")
    prof = {r["doc_id"]: r for r in
            char_window_incremental_profile(base, delta, t).collect()}
    v1_files = sorted(
        set(TX._manifest(t, 1)["files"]) - set(TX._manifest(t, 0)["files"])
    )
    v1 = spark.read.parquet(*v1_files)
    assert set(
        r["doc_id"] for r in v1.select("doc_id").distinct().collect()
    ) == {3}
    assert prof[1]["n_dup_windows"] == prof[1]["n_windows"]  # all shared
    assert prof[3]["n_dup_windows"] == prof[3]["n_windows"]
    assert prof[1]["max_window_df"] == 2
    assert prof[2]["n_dup_windows"] == 0


def test_char_window_incremental_overlap_modes(spark, tmp_path):
    """r12-advice regression: a doc_id present in BOTH base and delta
    double-counts under the default disjoint precondition (postings and
    spine row duplicated — now DOCUMENTED); assume_disjoint=False
    dedupes the merged read + spine, hash-matching the batch profile
    over the deduplicated union (idempotent re-ingest)."""
    from logstream_processing_service_spark.operators.dedup import (
        char_window_dup_profile,
        char_window_incremental_profile,
    )

    body = "shared-window-content-" * 4  # > 40 chars
    other = "completely different text " * 4
    base = spark.createDataFrame(
        [(1, body), (2, other)], "doc_id long, text string"
    )
    delta = spark.createDataFrame(
        [(2, other), (3, body)], "doc_id long, text string"  # 2 re-ingested
    )
    t = str(tmp_path / "reg")
    safe = char_window_incremental_profile(
        base, delta, t, assume_disjoint=False
    )
    union_dedup = spark.createDataFrame(
        [(1, body), (2, other), (3, body)], "doc_id long, text string"
    )
    batch = char_window_dup_profile(union_dedup)
    got = sorted(tuple(r) for r in safe.collect())
    want = sorted(tuple(r) for r in batch.collect())
    assert got == want
    # the default path trusts the precondition: the overlapping doc's
    # spine row duplicates (4 rows, not 3) — the sharp edge the
    # docstring now states
    t2 = str(tmp_path / "reg2")
    dup = char_window_incremental_profile(base, delta, t2)
    assert dup.count() == 4


def test_lsh_incremental_overlap_dedupes_when_not_disjoint(
    spark, tmp_path
):
    """r12-advice regression: under overlap the default mode pairs the
    re-ingested doc with itself (its band keys sit in the registry
    twice); assume_disjoint=False dedupes registry and union, yielding
    exactly the batch answer with no self-pairs."""
    from logstream_processing_service_spark.operators.dedup import (
        lsh_incremental_pairs,
    )

    body = " ".join(f"w{i}" for i in range(30))
    other = "totally different words here friend"
    base = spark.createDataFrame(
        [(1, body), (2, other)], "doc_id long, text string"
    )
    delta = spark.createDataFrame(
        [(2, other), (3, body)], "doc_id long, text string"
    )
    t = str(tmp_path / "reg")
    got = [
        (r["d1"], r["d2"], r["jaccard"])
        for r in lsh_incremental_pairs(
            base, delta, t, assume_disjoint=False
        ).collect()
    ]
    assert got == [(1, 3, 1.0)]
    # default mode on the same overlap: the re-ingested doc self-pairs
    t2 = str(tmp_path / "reg2")
    dup = [
        (r["d1"], r["d2"])
        for r in lsh_incremental_pairs(base, delta, t2).collect()
    ]
    assert (2, 2) in dup
