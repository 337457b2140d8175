"""Branching over the txlog (operators/txlog.py create_branch /
merge_branch / delete_branch) — Nessie/Delta-branch semantics on the
same manifest mechanics, so every existing operator works on a branch
dir unchanged.

Reference tie: the reference's blue/green model deployment
(scripts/run_training_batch.py:240-257, the staging→production atomic
swap with a backup slot) is branch-and-swap at artifact grain; this
generalizes it to DATA: fork, write in isolation, merge-or-discard —
with vacuum unable to break either lineage.
"""

from __future__ import annotations

import os

import pytest
pytestmark = pytest.mark.slow  # tiered run: see pytest.ini (r13 VERDICT #1)


from logstream_processing_service_spark.operators import txlog as TX


def _df(spark, rows, schema="k int, v string"):
    return spark.createDataFrame(rows, schema)


def _vals(spark, table_dir, version=None, branch_dir=None):
    d = branch_dir or table_dir
    return sorted(
        (r["k"], r["v"])
        for r in TX.read_snapshot(spark, d, version=version).collect()
    )


@pytest.fixture()
def table(spark, tmp_path):
    t = str(tmp_path / "tbl")
    TX.commit(t, _df(spark, [(1, "a"), (2, "b")]))
    return t


def test_branch_isolation_both_directions(spark, table):
    b = TX.create_branch(table, "dev")
    TX.commit(b, _df(spark, [(3, "c")]), mode="append")
    TX.commit(table, _df(spark, [(9, "z")]), mode="append")
    assert _vals(spark, table) == [(1, "a"), (2, "b"), (9, "z")]
    assert _vals(spark, b) == [(1, "a"), (2, "b"), (3, "c")]
    assert TX.list_branches(table) == ["dev"]


def test_branch_time_travel_and_history(spark, table):
    b = TX.create_branch(table, "dev")
    TX.commit(b, _df(spark, [(3, "c")]), mode="append")
    assert _vals(spark, b, version=0) == [(1, "a"), (2, "b")]
    modes = [m["mode"] for m in TX.history(b)]
    assert modes == ["branch", "append"]


def test_fast_forward_merge(spark, table):
    b = TX.create_branch(table, "dev")
    TX.commit(b, _df(spark, [(3, "c")]), mode="append")
    TX.commit(b, _df(spark, [(4, "d")]), mode="append")
    v = TX.merge_branch(table, "dev")
    assert _vals(spark, table) == [(1, "a"), (2, "b"), (3, "c"), (4, "d")]
    man = TX.history(table)[-1]
    assert man["version"] == v and man["mode"] == "merge"
    assert man["merged_from"]["branch"] == "dev"
    # branch lineage is untouched and still readable
    assert _vals(spark, b) == [(1, "a"), (2, "b"), (3, "c"), (4, "d")]


def test_append_rebase_merge(spark, table):
    b = TX.create_branch(table, "dev")
    TX.commit(b, _df(spark, [(3, "c")]), mode="append")
    TX.commit(table, _df(spark, [(9, "z")]), mode="append")
    TX.merge_branch(table, "dev")
    assert _vals(spark, table) == [
        (1, "a"), (2, "b"), (3, "c"), (9, "z"),
    ]


def test_merge_conflict_on_parent_overwrite(spark, table):
    b = TX.create_branch(table, "dev")
    TX.commit(b, _df(spark, [(3, "c")]), mode="append")
    TX.commit(table, _df(spark, [(7, "q")]), mode="overwrite")
    with pytest.raises(TX.MergeConflict, match="rewrote or dropped"):
        TX.merge_branch(table, "dev")


def test_merge_conflict_on_branch_overwrite(spark, table):
    b = TX.create_branch(table, "dev")
    TX.commit(b, _df(spark, [(3, "c")]), mode="overwrite")
    TX.commit(table, _df(spark, [(9, "z")]), mode="append")
    with pytest.raises(TX.MergeConflict):
        TX.merge_branch(table, "dev")


def test_merge_carries_schema_evolution(spark, table):
    b = TX.create_branch(table, "dev")
    TX.commit(
        b,
        _df(spark, [(3, "c", 1.5)], "k int, v string, w double"),
        mode="append",
        merge_schema=True,
    )
    TX.commit(table, _df(spark, [(9, "z")]), mode="append")
    TX.merge_branch(table, "dev")
    df = TX.read_snapshot(spark, table)
    assert [f.name for f in df.schema.fields] == ["k", "v", "w"]
    rows = {r["k"]: r["w"] for r in df.collect()}
    assert rows == {1: None, 2: None, 9: None, 3: 1.5}


def test_merge_schema_type_conflict_refuses(spark, table):
    b = TX.create_branch(table, "dev")
    TX.commit(
        b,
        _df(spark, [(3, "c", 5)], "k int, v string, w int"),
        mode="append",
        merge_schema=True,
    )
    TX.commit(
        table,
        _df(spark, [(9, "z", 1.5)], "k int, v string, w double"),
        mode="append",
        merge_schema=True,
    )
    with pytest.raises(TX.MergeConflict, match="schema conflict"):
        TX.merge_branch(table, "dev")


def test_merge_takes_hwm_max(spark, table):
    TX.commit(table, _df(spark, [(5, "e")]), mode="append",
              batch_id=3, txn_app_id="s1")
    b = TX.create_branch(table, "dev")
    TX.commit(b, _df(spark, [(6, "f")]), mode="append",
              batch_id=7, txn_app_id="s1")
    TX.commit(b, _df(spark, [(7, "g")]), mode="append",
              batch_id=1, txn_app_id="s2")
    TX.merge_branch(table, "dev")
    man = TX.history(table)[-1]
    assert man["txn_hwms"] == {"s1": 7, "s2": 1}


def test_parent_vacuum_keeps_branch_pinned_files(spark, table):
    b = TX.create_branch(table, "dev")
    # parent rewrites everything, then vacuums hard: only the fork pin
    # should keep the original files alive
    TX.commit(table, _df(spark, [(9, "z")]), mode="overwrite")
    TX.commit(table, _df(spark, [(10, "y")]), mode="overwrite")
    rep = TX.vacuum(table, retain_last=1, min_age_seconds=0.0)
    # v1's overwrite dir is unreferenced and goes; v0's dir is
    # branch-pinned and MUST survive even though no retained parent
    # manifest lists it
    assert rep["removed_data_dirs"] == 1
    assert _vals(spark, b) == [(1, "a"), (2, "b")]


def test_branch_vacuum_keeps_parent_merged_files(spark, table):
    b = TX.create_branch(table, "dev")
    TX.commit(b, _df(spark, [(3, "c")]), mode="append")
    TX.merge_branch(table, "dev")
    # branch churns and vacuums its own lineage: the merged parent still
    # references the branch's first append — it must survive
    TX.commit(b, _df(spark, [(4, "d")]), mode="overwrite")
    TX.commit(b, _df(spark, [(5, "e")]), mode="overwrite")
    TX.vacuum(b, retain_last=1, min_age_seconds=0.0)
    assert _vals(spark, table) == [(1, "a"), (2, "b"), (3, "c")]


def test_delete_unmerged_branch_removes_everything(spark, table):
    b = TX.create_branch(table, "dev")
    TX.commit(b, _df(spark, [(3, "c")]), mode="append")
    rep = TX.delete_branch(table, "dev")
    assert rep["kept_shared_dirs"] == 0
    assert TX.list_branches(table) == []
    assert not os.path.exists(b)
    assert _vals(spark, table) == [(1, "a"), (2, "b")]


def test_delete_merged_branch_keeps_shared_data(spark, table):
    b = TX.create_branch(table, "dev")
    TX.commit(b, _df(spark, [(3, "c")]), mode="append")
    TX.merge_branch(table, "dev")
    rep = TX.delete_branch(table, "dev")
    assert rep["kept_shared_dirs"] == 1
    assert TX.list_branches(table) == []
    # lineage gone, shared data still serves the merged parent
    assert _vals(spark, table) == [(1, "a"), (2, "b"), (3, "c")]


def test_create_existing_branch_refuses(spark, table):
    TX.create_branch(table, "dev")
    with pytest.raises(ValueError, match="already exists"):
        TX.create_branch(table, "dev")


def test_branch_from_old_version(spark, table):
    TX.commit(table, _df(spark, [(9, "z")]), mode="append")
    b = TX.create_branch(table, "old", from_version=0)
    assert _vals(spark, b) == [(1, "a"), (2, "b")]


def test_branch_of_branch(spark, table):
    b = TX.create_branch(table, "dev")
    TX.commit(b, _df(spark, [(3, "c")]), mode="append")
    bb = TX.create_branch(b, "feature")
    TX.commit(bb, _df(spark, [(4, "d")]), mode="append")
    TX.merge_branch(b, "feature")
    assert _vals(spark, b) == [(1, "a"), (2, "b"), (3, "c"), (4, "d")]
    assert _vals(spark, table) == [(1, "a"), (2, "b")]


def test_write_audit_publish_composition(spark, table):
    """The WAP pattern end-to-end: stream micro-batches into a branch
    via the exactly-once sink, audit with constraint_report, publish
    with merge_branch — the parent never sees unaudited data, and a
    replayed batch on the branch is a no-op."""
    from logstream_processing_service_spark.operators.analytics import (
        constraint_report,
    )

    b = TX.create_branch(table, "ingest")
    sink = TX.streaming_commit_sink(b, mode="append", txn_app_id="wap")
    sink(_df(spark, [(3, "c")]), 0)
    sink(_df(spark, [(4, "d")]), 1)
    sink(_df(spark, [(4, "d-replay")]), 1)  # replay: exactly-once no-op
    assert _vals(spark, b) == [(1, "a"), (2, "b"), (3, "c"), (4, "d")]
    # parent is untouched while the audit runs
    assert _vals(spark, table) == [(1, "a"), (2, "b")]
    audit = constraint_report(
        {"staged": TX.read_snapshot(spark, b)},
        [
            {"kind": "not_null", "table": "staged", "column": "v"},
            {"kind": "unique", "table": "staged", "columns": ["k"]},
        ],
    )
    assert all(r["passed"] for r in audit.collect())
    TX.merge_branch(table, "ingest")
    assert _vals(spark, table) == [(1, "a"), (2, "b"), (3, "c"), (4, "d")]
    # the publish carried the exactly-once HWM to the parent
    assert TX.history(table)[-1]["txn_hwms"] == {"wap": 1}


def test_branch_wap_twin_hash_matches_oracle(spark):
    """Driver-harness rehearsal (row count + schema + value hash) at the
    driver's SF for the REGISTERED `branch_wap_twin` catalog fn
    (hoisted to queries_relational.py in r7)."""
    from logstream_processing_service_spark import catalog
    from logstream_processing_service_spark.queries_relational import (
        q_branch_wap_twin,
    )

    from .conftest import SF_DIR_ORACLE
    from .oracle_harness import compare_one, duckdb_conn

    oracle = {s.name: s.oracle for s in catalog.all_specs()}["branch_wap_twin"]
    con = duckdb_conn(SF_DIR_ORACLE)
    r = compare_one(
        spark, con, "branch_wap_twin", q_branch_wap_twin, oracle,
        SF_DIR_ORACLE,
    )
    assert r["status"] == "OK", r


# ---------------------------------------------------------------------------
# operation-sequence fuzz vs an in-memory model (the txlog ledger-fuzzer
# pattern applied to branch semantics)
# ---------------------------------------------------------------------------

def test_fuzz_branch_sequences_against_model(spark, tmp_path):
    """Random append/create/merge/delete/vacuum sequences applied to the
    real log AND a dict-based model; after every sequence, main and every
    live branch must read back exactly the model's multiset. Appends only
    (no overwrites), so every merge is fast-forward or append-rebase and
    must succeed — any MergeConflict here is a bug by construction."""
    import random

    for seed in range(6):
        rng = random.Random(100 + seed)
        t = str(tmp_path / f"fz{seed}")
        TX.commit(t, _df(spark, [(0, "base")]))
        model = {"__main__": {(0, "base")}}
        branches: dict[str, set] = {}
        forks: dict[str, set] = {}
        nxt = 1
        for _ in range(10):
            # biased toward branch-append/merge interleavings so
            # merge→append→merge on one branch (the double-merge
            # duplication bug's shape) occurs in most sequences
            ops = ["append_main", "append_branch", "append_branch",
                   "create", "merge", "merge", "delete", "vacuum"]
            op = rng.choice(ops)
            if op == "create" and len(branches) < 3:
                name = f"b{len(forks)}_{seed}"
                TX.create_branch(t, name)
                branches[name] = set(model["__main__"])
                forks[name] = set(model["__main__"])
            elif op == "append_main":
                row = (nxt, f"m{nxt}")
                nxt += 1
                TX.commit(t, _df(spark, [row]), mode="append")
                model["__main__"].add(row)
            elif op == "append_branch" and branches:
                name = rng.choice(sorted(branches))
                row = (nxt, f"b{nxt}")
                nxt += 1
                TX.commit(
                    TX._branch_dir(t, name), _df(spark, [row]), mode="append"
                )
                branches[name].add(row)
            elif op == "merge" and branches:
                name = rng.choice(sorted(branches))
                TX.merge_branch(t, name)
                # append-rebase: main gains the branch-added rows
                model["__main__"] |= branches[name] - forks[name]
            elif op == "delete" and branches:
                name = rng.choice(sorted(branches))
                TX.delete_branch(t, name)
                del branches[name]
                del forks[name]
            elif op == "vacuum":
                TX.vacuum(t, retain_last=1, min_age_seconds=0.0)
        assert _vals(spark, t) == sorted(model["__main__"]), seed
        for name, want in branches.items():
            got = _vals(spark, TX._branch_dir(t, name))
            assert got == sorted(want), (seed, name)


def test_merge_same_branch_twice_does_not_duplicate(spark, table):
    """Merging, appending more to the SAME branch, and merging again
    must add only the new rows — the first merge's files are already in
    the parent head and must not be re-added (a real row-duplication
    bug found by reviewing the fuzzer's model)."""
    b = TX.create_branch(table, "dev")
    TX.commit(b, _df(spark, [(3, "c")]), mode="append")
    TX.commit(table, _df(spark, [(9, "z")]), mode="append")
    TX.merge_branch(table, "dev")
    TX.commit(b, _df(spark, [(4, "d")]), mode="append")
    TX.merge_branch(table, "dev")
    assert _vals(spark, table) == [
        (1, "a"), (2, "b"), (3, "c"), (4, "d"), (9, "z"),
    ]
