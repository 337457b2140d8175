"""Merkle corpus integrity tree + snapshot diff — rehearsed r12
catalog candidate `merkle_integrity_diff`."""

from __future__ import annotations

import pytest
pytestmark = pytest.mark.slow  # tiered run: see pytest.ini (r13 VERDICT #1)


from logstream_processing_service_spark.operators.curation import (
    merkle_corpus_tree,
    merkle_integrity_diff,
)

from .conftest import SF_DIR, SF_DIR_ORACLE
from .oracle_harness import compare_one, duckdb_conn


@pytest.mark.parametrize("sf_dir", [SF_DIR, SF_DIR_ORACLE])
def test_merkle_diff_hash_matches_oracle(spark, sf_dir):
    from logstream_processing_service_spark import catalog
    from logstream_processing_service_spark.queries_curation import (
        q_merkle_integrity_diff,
    )

    con = duckdb_conn(sf_dir)
    r = compare_one(
        spark, con, "merkle_integrity_diff", q_merkle_integrity_diff,
        catalog.oracle_sql()["merkle_integrity_diff"], sf_dir,
    )
    assert r["status"] == "OK", r
    spark.catalog.clearCache()


def test_tree_composes_and_identical_snapshots_agree(spark):
    """Structural invariants: parent xor == xor of children at every
    level, the root counts every doc once, and the diff of a snapshot
    against itself has differs = false on EVERY node."""
    from functools import reduce

    from logstream_processing_service_spark.sources import load_table

    docs = load_table(spark, SF_DIR, "documents")
    rows = merkle_corpus_tree(docs).collect()
    by_level = {}
    for r in rows:
        by_level.setdefault(r["level"], {})[r["node_id"]] = r
    assert max(by_level) == 2 and list(by_level[2]) == [0]
    assert by_level[2][0]["n_docs"] == docs.count()
    for lvl in (1, 2):
        for nid, r in by_level[lvl].items():
            kids = [
                c for c in by_level[lvl - 1].values()
                if c["node_id"] // 8 == nid
            ]
            assert kids
            assert r["n_docs"] == sum(c["n_docs"] for c in kids)
            assert r["node_hash"] == reduce(
                lambda a, b: a ^ b, (c["node_hash"] for c in kids)
            )
    same = merkle_integrity_diff(docs, docs).collect()
    assert same and all(not r["differs"] for r in same)
    spark.catalog.clearCache()


def test_single_doc_change_localizes_to_one_path(spark):
    """Flipping ONE document's text must flip exactly one leaf, its
    ancestor bucket, and the root — log-fanout localization — while
    every other node certifies untouched."""
    from pyspark.sql import functions as F

    from logstream_processing_service_spark.sources import load_table

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    mutated = docs.select(
        "doc_id",
        F.when(F.col("doc_id") == 7, F.lit("tampered!"))
        .otherwise(F.col("text"))
        .alias("text"),
    )
    out = merkle_integrity_diff(docs, mutated).collect()
    diffs = [r for r in out if r["differs"]]
    assert len(diffs) == 3  # leaf + level-1 bucket + root
    assert sorted(r["level"] for r in diffs) == [0, 1, 2]
    leaf, mid, root = sorted(diffs, key=lambda r: r["level"])
    assert leaf["node_id"] // 8 == mid["node_id"]
    assert root["node_id"] == 0
    # counts unchanged — only content moved
    for r in diffs:
        assert r["n_docs_old"] == r["n_docs_new"]
    spark.catalog.clearCache()


def test_xor_patch_identity_enables_incremental_maintenance(spark):
    """The property the r13-queue incremental-maintenance entry will
    operationalize: because node hashes are xor folds, the NEW tree is
    computable from the OLD tree and the delta alone —
    new_hash = old_hash XOR xor(removed row hashes) XOR xor(added row
    hashes) per touched leaf (a changed doc is remove+add) — O(delta),
    no corpus rescan. Verified here against the full rebuild."""
    from pyspark.sql import functions as F

    from logstream_processing_service_spark.functions import text as T
    from logstream_processing_service_spark.operators.curation import (
        merkle_corpus_tree,
    )
    from logstream_processing_service_spark.sources import load_table

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    new = docs.filter(F.col("doc_id") % 7 != 1).select(
        "doc_id",
        F.when(F.col("doc_id") % 5 == 2, F.concat(F.col("text"), F.lit("!")))
        .otherwise(F.col("text"))
        .alias("text"),
    )
    old_tree = {
        (r["level"], r["node_id"]): r["node_hash"]
        for r in merkle_corpus_tree(docs).collect()
    }
    full_new = {
        (r["level"], r["node_id"]): r["node_hash"]
        for r in merkle_corpus_tree(new).collect()
    }

    def rowhash_frame(df):
        shard = (
            F.expr(
                T.hash48_sql("concat('manifest-v1:', cast(doc_id as string))")
            )
            % 64
        ).cast("int")
        rowh = F.expr(
            T.hash48_sql(
                "concat('merkle-v1:', cast(doc_id as string), ':', "
                "coalesce(text, ''))"
            )
        )
        return df.select(
            "doc_id", shard.alias("shard"), rowh.alias("h")
        ).collect()

    o = {r["doc_id"]: r for r in rowhash_frame(docs)}
    n = {r["doc_id"]: r for r in rowhash_frame(new)}
    # delta = rows whose (id, hash) pair changed on either side
    patch: dict[int, int] = {}
    for d, r in o.items():
        if d not in n or n[d]["h"] != r["h"]:
            patch[r["shard"]] = patch.get(r["shard"], 0) ^ r["h"]
    for d, r in n.items():
        if d not in o or o[d]["h"] != r["h"]:
            patch[r["shard"]] = patch.get(r["shard"], 0) ^ r["h"]
    assert patch  # the edit set is non-empty by construction

    patched = dict(old_tree)
    for shard, px in patch.items():
        for level, node in ((0, shard), (1, shard // 8), (2, 0)):
            key = (level, node)
            patched[key] = patched.get(key, 0) ^ px
    # a leaf emptied entirely would need row-count bookkeeping to drop;
    # this fixture never empties a shard, matching the entry's scope
    assert patched == full_new


@pytest.mark.parametrize("sf_dir", [SF_DIR, SF_DIR_ORACLE])
def test_merkle_tree_update_hash_matches_full_rebuild_oracle(spark, sf_dir):
    """The incremental xor-patch must reproduce the from-scratch tree
    of the NEW snapshot row-for-row — the O(delta) maintenance claim as
    a hash-checked equality, at both SFs."""
    from logstream_processing_service_spark import catalog
    from logstream_processing_service_spark.queries_curation import (
        q_merkle_tree_update,
    )

    con = duckdb_conn(sf_dir)
    r = compare_one(
        spark, con, "merkle_tree_update", q_merkle_tree_update,
        catalog.oracle_sql()["merkle_tree_update"], sf_dir,
    )
    assert r["status"] == "OK", r
    spark.catalog.clearCache()


def test_update_drops_emptied_shards_and_adds_new_ones(spark):
    """Edge cases the identity test's fixture sidesteps: removing ALL
    docs of a shard must DROP its leaf (and recount ancestors), and
    docs landing in a previously-empty shard must CREATE the leaf —
    both verified against the full rebuild."""
    from pyspark.sql import functions as F

    from logstream_processing_service_spark.functions import text as T
    from logstream_processing_service_spark.operators.curation import (
        merkle_corpus_tree,
        merkle_tree_update,
    )

    # 40 docs; compute their shards, then delete every doc of ONE
    # shard and add docs that hash into a shard empty in OLD
    rows = [(i, f"text number {i}") for i in range(40)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    shard_of = {
        r["doc_id"]: r["s"]
        for r in docs.select(
            "doc_id",
            (
                F.expr(
                    T.hash48_sql(
                        "concat('manifest-v1:', cast(doc_id as string))"
                    )
                )
                % 64
            ).cast("int").alias("s"),
        ).collect()
    }
    victim_shard = shard_of[0]
    keep = [i for i in shard_of if shard_of[i] != victim_shard]
    # find candidate new ids landing in a shard no old doc occupies
    occupied = set(shard_of.values())
    probe = spark.createDataFrame(
        [(i,) for i in range(1000, 1400)], "doc_id long"
    ).select(
        "doc_id",
        (
            F.expr(
                T.hash48_sql("concat('manifest-v1:', cast(doc_id as string))")
            )
            % 64
        ).cast("int").alias("s"),
    )
    fresh = [
        r["doc_id"] for r in probe.collect() if r["s"] not in occupied
    ][:2]
    assert fresh, "probe range found no empty shard (adjust fixture)"

    new_rows = [(i, f"text number {i}") for i in keep] + [
        (i, "brand new") for i in fresh
    ]
    new = spark.createDataFrame(new_rows, "doc_id long, text string")
    got = {
        (r["level"], r["node_id"]): (r["node_hash"], r["n_docs"])
        for r in merkle_tree_update(docs, new).collect()
    }
    want = {
        (r["level"], r["node_id"]): (r["node_hash"], r["n_docs"])
        for r in merkle_corpus_tree(new).collect()
    }
    assert got == want
    assert (0, victim_shard) not in got  # emptied leaf dropped
    spark.catalog.clearCache()
