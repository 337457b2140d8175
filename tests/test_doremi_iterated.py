"""Full DoReMi multiplicative-weights loop (re-weighted mixture per
round) — rehearsed r13 catalog candidate `doremi_iterated`."""

from __future__ import annotations

import math

import pytest
pytestmark = pytest.mark.slow  # tiered run: see pytest.ini (r13 VERDICT #1)


from logstream_processing_service_spark.operators.curation import (
    doremi_iterated,
)

from .conftest import SF_DIR, SF_DIR_ORACLE
from .oracle_harness import compare_one, duckdb_conn


@pytest.mark.parametrize("sf_dir", [SF_DIR, SF_DIR_ORACLE])
def test_iterated_hash_matches_unrolled_oracle(spark, sf_dir):
    from logstream_processing_service_spark import catalog
    from logstream_processing_service_spark.queries_curation import (
        q_doremi_iterated,
    )

    con = duckdb_conn(sf_dir)
    r = compare_one(
        spark, con, "doremi_iterated", q_doremi_iterated,
        catalog.oracle_sql()["doremi_iterated"], sf_dir,
    )
    assert r["status"] == "OK", r
    spark.catalog.clearCache()


def test_mixture_reweighting_shrinks_outlier_excess(spark):
    """The whole point of iterating: as the mixture moves toward the
    upweighted outlier domain, the outlier's excess against the
    round-T mixture must be SMALLER than its round-1 (uniform-mixture)
    excess — the static signal the one-shot tilt uses. Weights still
    favour the outlier, and sum to ~1."""
    rows = []
    for i in range(40):
        rows.append((i, "news", "the market rose today on steady trade volume"))
    for i in range(40, 80):
        rows.append((i, "blogs", "the market fell today on steady trade volume"))
    for i in range(80, 100):
        rows.append((i, "code", "def f x return x plus one end def"))
    docs = spark.createDataFrame(rows, "doc_id long, source string, text string")
    one = {r["source"]: r for r in doremi_iterated(docs, t_rounds=1).collect()}
    three = {r["source"]: r for r in doremi_iterated(docs, t_rounds=3).collect()}
    spark.catalog.clearCache()
    # outlier still the heaviest domain after 3 rounds
    assert three["code"]["domain_weight"] > three["news"]["domain_weight"]
    assert three["code"]["domain_weight"] > three["blogs"]["domain_weight"]
    # the re-weighted mixture moved TOWARD code: its final-round excess
    # is below its uniform-mixture excess
    assert three["code"]["excess_kl"] < one["code"]["excess_kl"]
    assert math.isclose(
        sum(r["domain_weight"] for r in three.values()), 1.0, abs_tol=3e-6
    )


def test_uniform_corpus_is_a_fixed_point(spark):
    """Identical domains: zero excess every round, weights pinned at
    exactly 1/nd through all T rounds (the MW fixed point survives the
    smoothing and the micro-unit snaps exactly)."""
    rows = [(i, f"s{i % 4}", "alpha beta gamma delta") for i in range(80)]
    docs = spark.createDataFrame(rows, "doc_id long, source string, text string")
    out = doremi_iterated(docs, t_rounds=3).collect()
    spark.catalog.clearCache()
    for r in out:
        assert r["excess_kl"] == 0.0
        assert r["domain_weight"] == 0.25


def test_qm_zero_guard_is_identical_cross_engine(spark):
    """r12-advice regression: the mixture snap q_µ can round to 0 for
    a token whose every containing domain has tiny weight and huge n
    (ws·c/n < 5e-7) — unguarded, Spark yields ln(Infinity)→garbage
    bigint while DuckDB ERRORS on CAST(round(inf)), so the engines
    diverge instead of failing loudly. The greatest(q_µ, 1) clamp must
    produce the SAME finite micro-nat BIGINT on both engines (and be a
    no-op for q_µ ≥ 1). Expressions below are pinned copies of
    curation.doremi_iterated and its oracle's ex-block."""
    import duckdb
    from pyspark.sql import functions as F

    rows = [(1, 2000000, 0), (1, 2000000, 1), (3, 1000, 7),
            (40, 100, 123456789)]
    sdf = spark.createDataFrame(rows, "c bigint, n bigint, qm bigint")
    p = F.col("c").cast("double") / F.col("n")
    qm_safe = F.greatest(F.col("qm"), F.lit(1).cast("bigint"))
    got = [
        r["term"]
        for r in sdf.select(
            F.round(
                p * F.log(p * F.lit(1e12) / qm_safe) * F.lit(1e6), 0
            ).cast("bigint").alias("term")
        ).collect()
    ]
    con = duckdb.connect()
    want = [
        con.execute(
            f"""SELECT CAST(round(
                CAST({c} AS DOUBLE) / {n}
                * ln(CAST({c} AS DOUBLE) / {n} * 1e12
                     / greatest(CAST({qm} AS BIGINT), CAST(1 AS BIGINT)))
                * 1e6, 0) AS BIGINT)"""
        ).fetchone()[0]
        for c, n, qm in rows
    ]
    assert got == want
    assert all(abs(t) < 10**15 for t in got)  # finite, sane micro-nats


def test_oracle_carries_qm_guard_every_round():
    """Every unrolled ex-block must clamp identically — a single
    unguarded round re-opens the divergence."""
    from logstream_processing_service_spark.operators.curation import (
        doremi_iterated_oracle_sql,
    )

    sql = doremi_iterated_oracle_sql(t_rounds=3)
    assert sql.count("greatest(qm, CAST(1 AS BIGINT))") == 3
