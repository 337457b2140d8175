"""Decontamination bloom as a sketch registry under eval-suite growth —
rehearsed r14 catalog candidate `bloom_incremental_twin` (bloom union =
bitwise OR of word frames; idempotent, overlap-tolerant merge)."""

from __future__ import annotations

import pytest
pytestmark = pytest.mark.slow  # tiered run: see pytest.ini (r13 VERDICT #1)


from .conftest import SF_DIR, SF_DIR_ORACLE
from .oracle_harness import compare_one, duckdb_conn


@pytest.mark.parametrize("sf_dir", [SF_DIR, SF_DIR_ORACLE])
def test_bloom_incremental_hash_matches_exact_oracle(spark, sf_dir):
    from logstream_processing_service_spark.queries_text import (
        _decontaminate_oracle,
        q_bloom_incremental_twin,
    )

    con = duckdb_conn(sf_dir)
    r = compare_one(
        spark, con, "bloom_incremental_twin", q_bloom_incremental_twin,
        _decontaminate_oracle(), sf_dir,
    )
    assert r["status"] == "OK", r


@pytest.mark.parametrize("sf_dir", [SF_DIR, SF_DIR_ORACLE])
def test_bloom_rebuild_matches_retained_slice_oracle(spark, sf_dir):
    from logstream_processing_service_spark.queries_text import (
        bloom_rebuild_oracle_sql,
        q_bloom_rebuild_twin,
    )

    con = duckdb_conn(sf_dir)
    r = compare_one(
        spark, con, "bloom_rebuild_twin", q_bloom_rebuild_twin,
        bloom_rebuild_oracle_sql(), sf_dir,
    )
    assert r["status"] == "OK", r


def test_rebuild_overwrites_but_history_stays_travelable(spark, tmp_path):
    """delete-as-rebuild at the registry grain: after the overwrite,
    the latest filter equals a fresh slice-1-only filter bit-for-bit,
    and the pre-delete (slice1|slice2) filter is still readable at its
    version."""
    from pyspark.sql import functions as F

    from logstream_processing_service_spark.operators import txlog as TX
    from logstream_processing_service_spark.operators.dedup import (
        _collect_bloom_words,
        bloom_word_bits,
    )

    m_bits = 1 << 12
    s_all = spark.createDataFrame(
        [(s,) for s in range(2000, 2080)], "s long"
    )
    s1 = s_all.filter(F.col("s") % 2 == 0)
    s2 = s_all.filter(F.col("s") % 2 == 1)
    d = str(tmp_path / "bloomrb")
    TX.commit(d, bloom_word_bits(s1, m_bits), mode="overwrite")
    TX.commit(d, bloom_word_bits(s2, m_bits), mode="append")
    TX.commit(d, bloom_word_bits(s1, m_bits), mode="overwrite")  # rebuild
    latest = _collect_bloom_words(
        TX.read_snapshot(spark, d).groupBy("w").agg(
            F.expr("bit_or(bits)").alias("bits")
        ),
        m_bits,
    )
    fresh1 = _collect_bloom_words(bloom_word_bits(s1, m_bits), m_bits)
    assert (latest == fresh1).all()
    pre = _collect_bloom_words(
        TX.read_snapshot(spark, d, version=1).groupBy("w").agg(
            F.expr("bit_or(bits)").alias("bits")
        ),
        m_bits,
    )
    both = _collect_bloom_words(bloom_word_bits(s_all, m_bits), m_bits)
    assert (pre == both).all()


def test_or_merge_equals_one_shot_filter_and_tolerates_overlap(spark, tmp_path):
    """The OR-merged registry words equal the one-shot filter built on
    the union shingle set — including when the two committed slices
    OVERLAP (idempotent OR; the property the posting registries must
    forbid by precondition, the bloom gets by algebra)."""
    from pyspark.sql import functions as F

    from logstream_processing_service_spark.operators import txlog as TX
    from logstream_processing_service_spark.operators.dedup import (
        _collect_bloom_words,
        bloom_word_bits,
    )

    m_bits = 1 << 12
    s_all = spark.createDataFrame(
        [(s,) for s in range(1000, 1060)], "s long"
    )
    s1 = s_all.filter(F.col("s") < 1040)          # overlaps s2 on 20 rows
    s2 = s_all.filter(F.col("s") >= 1020)
    d = str(tmp_path / "bloom-reg")
    TX.commit(d, bloom_word_bits(s1, m_bits), mode="overwrite")
    TX.commit(d, bloom_word_bits(s2, m_bits), mode="append")
    merged = (
        TX.read_snapshot(spark, d)
        .groupBy("w")
        .agg(F.expr("bit_or(bits)").alias("bits"))
    )
    got = _collect_bloom_words(merged, m_bits)
    want = _collect_bloom_words(bloom_word_bits(s_all, m_bits), m_bits)
    assert (got == want).all()
