"""Behavior tests for retrieval (BM25, chunking), fuzzy matching, and
perceptual image hashing. Oracle parity for the same operators runs in
test_oracle_parity.py; these pin semantics the oracle can't express
(guards, completeness vs brute force, hand-computed fixtures)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# BM25
# ---------------------------------------------------------------------------


def test_bm25_ranks_matching_doc_first(spark):
    from logstream_processing_service_spark.operators.retrieval import bm25_topk

    docs = spark.createDataFrame(
        [
            (0, "apple banana apple banana apple"),
            (1, "apple cherry plum plum plum plum plum plum"),
            (2, "cherry plum date fig grape melon kiwi lime"),
            (3, "unrelated words entirely different tokens here now ok"),
        ],
        "doc_id LONG, text STRING",
    )
    out = bm25_topk(docs, queries=("apple banana",), k=4).collect()
    by_rank = {r["rank"]: r for r in out}
    # doc 0 has both terms with high tf and short length -> rank 1
    assert by_rank[1]["doc_id"] == 0
    # doc 3 contains neither term -> absent
    assert all(r["doc_id"] != 3 for r in out)
    # scores non-increasing in rank
    scores = [by_rank[i]["score"] for i in sorted(by_rank)]
    assert scores == sorted(scores, reverse=True)


def test_bm25_k_bound_and_query_ids(spark):
    from logstream_processing_service_spark.operators.retrieval import (
        SEARCH_QUERIES,
        bm25_topk,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = bm25_topk(docs, k=3)
    rows = out.collect()
    assert len(rows) == 3 * len(SEARCH_QUERIES)
    assert {r["query_id"] for r in rows} == set(range(len(SEARCH_QUERIES)))


# ---------------------------------------------------------------------------
# Chunking
# ---------------------------------------------------------------------------


def test_chunk_overlap_property(spark):
    from logstream_processing_service_spark.operators.retrieval import (
        chunk_documents,
    )

    text = " ".join(f"w{i}" for i in range(80))
    docs = spark.createDataFrame([(0, text)], "doc_id LONG, text STRING")
    rows = sorted(
        chunk_documents(docs, chunk_tokens=32, overlap=8).collect(),
        key=lambda r: r["chunk_idx"],
    )
    # stride 24 over 80 tokens -> starts 0,24,48,72
    assert [r["start_tok"] for r in rows] == [0, 24, 48, 72]
    assert [r["n_toks"] for r in rows] == [32, 32, 32, 8]
    # consecutive full chunks overlap by exactly `overlap` tokens
    a = rows[0]["chunk_text"].split(" ")
    b = rows[1]["chunk_text"].split(" ")
    assert a[-8:] == b[:8]
    # chunks reconstruct the doc: union of tokens in order
    recon = a + b[8:]
    assert recon == text.split(" ")[:56]


def test_chunk_empty_doc_and_guard(spark):
    from logstream_processing_service_spark.operators.retrieval import (
        chunk_documents,
    )

    docs = spark.createDataFrame(
        [(0, ""), (1, "one two")], "doc_id LONG, text STRING"
    )
    rows = chunk_documents(docs).collect()
    assert {r["doc_id"] for r in rows} == {1}
    with pytest.raises(ValueError):
        chunk_documents(docs, chunk_tokens=8, overlap=8)


# ---------------------------------------------------------------------------
# Fuzzy matching (SymSpell delete-neighborhood blocking)
# ---------------------------------------------------------------------------


def _lev(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(
                min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
            )
        prev = cur
    return prev[-1]


def test_fuzzy_pairs_complete_vs_bruteforce(spark):
    """The blocking must lose NO pair: compare against the quadratic
    Python form on a corpus with substitutions, inserts, deletes,
    transposition-ish edits, and exact dups."""
    from logstream_processing_service_spark.operators.matching import (
        fuzzy_pairs,
    )

    rng = np.random.default_rng(7)
    base = ["alpha", "bravo", "charli", "delta", "echo12"]
    keys = []
    for i in range(60):
        s = base[i % len(base)]
        op = i % 4
        if op == 1 and len(s) > 2:  # substitution
            j = int(rng.integers(len(s)))
            s = s[:j] + "x" + s[j + 1:]
        elif op == 2:  # insertion
            j = int(rng.integers(len(s) + 1))
            s = s[:j] + "q" + s[j:]
        elif op == 3 and len(s) > 2:  # deletion
            j = int(rng.integers(len(s)))
            s = s[:j] + s[j + 1:]
        keys.append((i, s))

    for d in (1, 2):
        df = spark.createDataFrame(keys, "id LONG, key STRING")
        got = {
            (r["id_a"], r["id_b"], r["ed"])
            for r in fuzzy_pairs(df, "id", "key", max_ed=d).collect()
        }
        want = {
            (i, j, _lev(a, b))
            for i, a in keys
            for j, b in keys
            if i < j and _lev(a, b) <= d
        }
        assert got == want, f"max_ed={d}"


def test_fuzzy_pairs_guards(spark):
    from logstream_processing_service_spark.operators.matching import (
        fuzzy_pairs,
    )

    df = spark.createDataFrame([(1, "x" * 100)], "id LONG, key STRING")
    with pytest.raises(ValueError):
        fuzzy_pairs(df, "id", "key", max_ed=3)
    with pytest.raises(Exception) as exc:
        fuzzy_pairs(df, "id", "key", max_ed=1).collect()
    assert "normalized key" in str(exc.value)


# ---------------------------------------------------------------------------
# Perceptual image hash
# ---------------------------------------------------------------------------


def test_dhash_bytes_handcomputed():
    from logstream_processing_service_spark.operators.multimodal import (
        dhash_bytes,
    )

    # 8x9 image equal to the sampling grid: gradient increasing in x ->
    # every adjacent comparison is True -> all bytes 0xff
    px = np.tile(np.arange(9) * 10, (8, 1))
    assert dhash_bytes(px) == "ff" * 8
    # decreasing -> all False
    assert dhash_bytes(px[:, ::-1].copy()) == "00" * 8
    # single step up at the last column of the grid -> LSB of each byte
    px2 = np.zeros((8, 9), dtype=np.int64)
    px2[:, 8] = 5
    assert dhash_bytes(px2) == "01" * 8


def test_dhash_scale_invariance_and_color():
    """The perceptual property: the same content at 2x resolution hashes
    identically (nearest-neighbor sampling hits the same gradient), and
    the BT.601 luma branch accepts color input."""
    from logstream_processing_service_spark.operators.multimodal import (
        dhash_bytes,
    )

    x = np.arange(18)[None, :] * 5 + np.arange(16)[:, None] * 3
    small = x[::2, ::2]
    assert dhash_bytes(small) == dhash_bytes(x)
    rgb = np.stack([small, small, small], axis=-1)
    assert dhash_bytes(rgb) == dhash_bytes(small)


def test_image_dhash_groups_exact_dups(spark):
    """Two byte-identical PNGs must land in one dHash group."""
    from logstream_processing_service_spark.operators.multimodal import (
        image_dhash,
        synthetic_png_gradient,
    )

    png_a = synthetic_png_gradient(20, 15, 7)
    png_b = synthetic_png_gradient(20, 15, 7)  # identical content
    png_c = synthetic_png_gradient(20, 15, 7 + 128)  # shifted wrap points
    rows = [(0, png_a), (1, png_b), (2, png_c)]
    media = spark.createDataFrame(
        rows, "doc_id LONG, payload BINARY"
    ).select(
        "doc_id",
        "payload",
        F.struct(F.lit("image/png").alias("media_type")).alias("meta"),
    )
    out = {r["doc_id"]: r for r in image_dhash(media).collect()}
    assert out[0]["dhash"] == out[1]["dhash"]
    assert out[0]["n_same"] >= 2


# ---------------------------------------------------------------------------
# Time-series resampling (operators/relational.py) — planted-gap fixture
# ---------------------------------------------------------------------------


def test_resample_ffill_gap_semantics(spark):
    from datetime import datetime

    from logstream_processing_service_spark.operators.relational import (
        resample_ffill,
    )

    rows = [
        # type a: hours 0 and 3 observed -> hours 1, 2 gap-filled with 10.0
        (datetime(2024, 1, 1, 0, 15), "a", 8.0),
        (datetime(2024, 1, 1, 0, 45), "a", 12.0),
        (datetime(2024, 1, 1, 3, 30), "a", 99.0),
        # type b: first observation at hour 2 -> hours 0, 1 stay NULL
        (datetime(2024, 1, 1, 2, 10), "b", 5.0),
    ]
    ev = spark.createDataFrame(
        rows, "ts TIMESTAMP, event_type STRING, value DOUBLE"
    )
    out = {
        (r["event_type"], r["hour_ts"].hour): r
        for r in resample_ffill(ev).collect()
    }
    assert len(out) == 8  # 2 types x hours 0..3 (global span)
    assert out[("a", 0)]["value_ffill"] == 10.0
    assert not out[("a", 0)]["gap_filled"]
    for hr in (1, 2):
        assert out[("a", hr)]["value_ffill"] == 10.0
        assert out[("a", hr)]["gap_filled"]
        assert out[("a", hr)]["n_events"] == 0
    assert out[("a", 3)]["value_ffill"] == 99.0
    # leading gap: no value to carry -> NULL, still flagged filled
    assert out[("b", 0)]["value_ffill"] is None
    assert out[("b", 1)]["value_ffill"] is None
    assert out[("b", 2)]["value_ffill"] == 5.0


# ---------------------------------------------------------------------------
# Hybrid RRF fusion
# ---------------------------------------------------------------------------


def test_rrf_rewards_agreement(spark):
    """A doc present in BOTH candidate pools must outrank a doc that tops
    only one pool when the solo ranks aren't dominant — the defining RRF
    property — and every fused score must equal 1/(60+ra) + 1/(60+rb)."""
    from logstream_processing_service_spark.operators.retrieval import (
        bm25_topk,
        hybrid_search_rrf,
        tfidf_cosine_topk,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    qs = ("fast table scan",)
    a = {r["doc_id"]: r["rank"] for r in bm25_topk(docs, qs, k=50).collect()}
    b = {
        r["doc_id"]: r["rank"]
        for r in tfidf_cosine_topk(docs, qs, k=50).collect()
    }
    fused = {
        r["doc_id"]: (r["rank"], r["score"])
        for r in hybrid_search_rrf(docs, qs, k=50).collect()
    }
    for d, (rank, score) in fused.items():
        want = 0.0
        if d in a:
            want += 1.0 / (60 + a[d])
        if d in b:
            want += 1.0 / (60 + b[d])
        assert abs(score - round(want, 6)) < 1e-9, d
    # the fused top-1 appears in both pools (agreement dominates here)
    top1 = min(fused, key=lambda d: fused[d][0])
    assert top1 in a and top1 in b


def test_activity_islands_planted(spark):
    from datetime import datetime

    from logstream_processing_service_spark.operators.relational import (
        activity_islands,
    )

    rows = [
        # user 1: hours 0,1,2 then a gap, then hour 5 -> islands [0-2], [5]
        (datetime(2024, 1, 1, 0, 5), 1),
        (datetime(2024, 1, 1, 0, 55), 1),
        (datetime(2024, 1, 1, 1, 30), 1),
        (datetime(2024, 1, 1, 2, 10), 1),
        (datetime(2024, 1, 1, 5, 0), 1),
        # user 2: single hour
        (datetime(2024, 1, 1, 3, 20), 2),
    ]
    ev = spark.createDataFrame(rows, "ts TIMESTAMP, user_id LONG")
    out = sorted(
        activity_islands(ev).collect(),
        key=lambda r: (r["user_id"], r["start_hour"]),
    )
    assert len(out) == 3
    a, b, c = out
    assert (a["user_id"], a["n_hours"], a["n_events"]) == (1, 3, 4)
    assert a["start_hour"].hour == 0 and a["end_hour"].hour == 2
    assert (b["user_id"], b["n_hours"], b["n_events"]) == (1, 1, 1)
    assert b["start_hour"].hour == 5
    assert (c["user_id"], c["n_hours"], c["n_events"]) == (2, 1, 1)


def test_mean_shift_detects_level_change(spark):
    """A volume step (5/hour -> 50/hour) must score highest exactly at
    the shift frontier, and warm-up rows stay NULL."""
    from datetime import datetime, timedelta

    from logstream_processing_service_spark.operators.relational import (
        mean_shift_scores,
    )

    rows = []
    t0 = datetime(2024, 1, 1)
    for hr in range(24):
        n = 5 if hr < 12 else 50
        for i in range(n):
            rows.append((t0 + timedelta(hours=hr, minutes=i % 60), "click"))
    ev = spark.createDataFrame(rows, "ts TIMESTAMP, event_type STRING")
    out = sorted(
        mean_shift_scores(ev).collect(), key=lambda r: r["hour_ts"]
    )
    assert len(out) == 24
    # first 11 hours: window not full -> NULL
    assert all(r["shift_score"] is None for r in out[:11])
    scores = {r["hour_ts"].hour: r["shift_score"] for r in out[11:]}
    # the peak score lands when the recent frame is fully post-shift and
    # the prior frame fully pre-shift: hour 17 (12..17 vs 6..11)
    assert max(scores, key=scores.get) == 17
    # steady state (all-same frames) scores ~0 before the shift
    assert scores[11] < 0.01


def test_fuzzy_pairs_max_bucket_guard(spark):
    from logstream_processing_service_spark.operators.matching import (
        fuzzy_pairs,
    )

    df = spark.createDataFrame(
        [(i, "same") for i in range(50)] + [(99, "other")],
        "id LONG, key STRING",
    )
    with pytest.raises(Exception) as exc:
        fuzzy_pairs(df, "id", "key", max_ed=1, max_bucket=10).collect()
    assert "quadratic" in str(exc.value)
    # without the cap the quadratic output IS the correct answer
    out = fuzzy_pairs(df, "id", "key", max_ed=1).collect()
    assert len(out) == 50 * 49 // 2


def test_image_dhash_jpeg_branch(spark):
    """image_dhash's image/jpeg branch decodes through the native codec:
    two identical-content JPEGs share a hash group."""
    from logstream_processing_service_spark.operators.jpegcodec import (
        synthetic_jpeg_blocks,
    )
    from logstream_processing_service_spark.operators.multimodal import (
        image_dhash,
    )

    j1 = synthetic_jpeg_blocks(32, 24, seed=9)
    j2 = synthetic_jpeg_blocks(32, 24, seed=9)
    j3 = synthetic_jpeg_blocks(32, 24, seed=140)
    media = spark.createDataFrame(
        [(0, j1), (1, j2), (2, j3)], "doc_id LONG, payload BINARY"
    ).select(
        "doc_id",
        "payload",
        F.struct(F.lit("image/jpeg").alias("media_type")).alias("meta"),
    )
    out = {r["doc_id"]: r for r in image_dhash(media).collect()}
    assert out[0]["dhash"] == out[1]["dhash"]
    assert out[0]["n_same"] >= 2


def test_cli_list_and_validation(capsys):
    """CLI: list prints every catalog query; unknown names exit 2 without
    starting Spark."""
    from logstream_processing_service_spark.__main__ import main
    from logstream_processing_service_spark.catalog import all_specs

    assert main(["list"]) == 0
    out = capsys.readouterr().out
    for s in all_specs():
        assert s.name in out
    assert main(["run", "definitely_not_a_query"]) == 2


def test_resample_ffill_matches_pandas(spark):
    """The docstring's claim made literal: resample_ffill equals pandas
    resample('1h').mean().ffill() on the global hourly grid, per type."""
    from datetime import datetime, timedelta

    import numpy as np
    import pandas as pd

    from logstream_processing_service_spark.operators.relational import (
        resample_ffill,
    )

    rng = np.random.default_rng(13)
    t0 = datetime(2024, 3, 1)
    rows = []
    for _ in range(200):
        rows.append(
            (
                t0 + timedelta(minutes=int(rng.integers(0, 48 * 60))),
                f"t{int(rng.integers(3))}",
                float(np.round(rng.uniform(0, 100), 2)),
            )
        )
    df = spark.createDataFrame(rows, "ts TIMESTAMP, event_type STRING, value DOUBLE")
    got = {
        (r["event_type"], r["hour_ts"]): (r["n_events"], r["value_ffill"])
        for r in resample_ffill(df).collect()
    }

    pdf = pd.DataFrame(rows, columns=["ts", "event_type", "value"])
    lo = pdf["ts"].dt.floor("h").min()
    hi = pdf["ts"].dt.floor("h").max()
    grid = pd.date_range(lo, hi, freq="h")
    for et, sub in pdf.groupby("event_type"):
        hourly = (
            sub.set_index("ts")["value"].resample("1h").mean().reindex(grid)
        )
        counts = (
            sub.set_index("ts")["value"].resample("1h").count().reindex(grid)
        ).fillna(0)
        filled = hourly.ffill()
        for h in grid:
            n, v = got[(et, h.to_pydatetime())]
            assert n == int(counts[h])
            if pd.isna(filled[h]):
                assert v is None
            else:
                assert abs(v - round(float(filled[h]), 6)) < 1e-9
    assert len(got) == 3 * len(grid)
