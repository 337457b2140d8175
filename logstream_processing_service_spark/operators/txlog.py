"""Minimal table transaction log: versioned snapshots, time travel,
optimistic concurrency, vacuum — the Delta/Iceberg core mechanics on
plain parquet + JSON manifests.

Reference parity note: the reference's keyed overwrite destroys history
(src/db/log_ops.py UPDATE in place); scd2_history recovers history at the
ROW grain — this module recovers it at the TABLE grain: every commit is
a new immutable snapshot, readers pin a manifest and can never observe a
half-written table, and old snapshots stay queryable until vacuumed.

Mechanics (all filesystem-portable):
- Data files are immutable: each commit writes its files into a fresh
  ``data/c<commit-uuid>/`` directory; nothing is ever rewritten.
- A manifest ``_log/v<N>.json`` lists the data files of snapshot N.
- Commit = write manifest to a temp name, then ``os.link`` it to the
  final name — link fails if v<N> exists, which IS the optimistic
  concurrency check (two writers racing on the same version: exactly one
  wins; the loser retries on top of N).
- Reads list ``_log/`` and load the requested (default: max) manifest.
- Vacuum deletes data directories referenced by NO retained manifest.

Scale: the log holds one small JSON per commit (file lists — the same
metadata scale as Delta); data-file IO is whatever the write itself
costs. On object stores, swap ``os.link`` for a put-if-absent."""

from __future__ import annotations

import json
import os
import shutil
import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


class CommitConflict(Exception):
    """Another writer committed this version first — reread and retry."""


def _log_dir(table_dir: str) -> str:
    return os.path.join(table_dir, "_log")


def _versions(table_dir: str) -> list[int]:
    d = _log_dir(table_dir)
    if not os.path.isdir(d):
        return []
    out = []
    for f in os.listdir(d):
        if f.startswith("v") and f.endswith(".json") and "._tmp" not in f:
            out.append(int(f[1:-5]))
    return sorted(out)


def _manifest(table_dir: str, version: int) -> dict:
    with open(os.path.join(_log_dir(table_dir), f"v{version}.json")) as fh:
        return json.load(fh)


def _merge_schemas(
    prev: list[tuple[str, str]], cur: list[tuple[str, str]]
) -> list[tuple[str, str]]:
    """Delta-style additive schema merge: columns match by NAME; common
    columns must keep their exact type (widening/retyping needs a full
    rewrite via mode='overwrite' — silently up-casting existing files
    would change what old snapshots read); new columns append after the
    existing ones in writer order; columns the writer omits stay (their
    values read as NULL from the new files)."""
    prev_types = dict(prev)
    for name, typ in cur:
        if name in prev_types and prev_types[name] != typ:
            raise ValueError(
                f"schema evolution cannot change column '{name}' from "
                f"{prev_types[name]} to {typ} — rewrite with "
                "mode='overwrite' to retype"
            )
    prev_names = {n for n, _ in prev}
    return list(prev) + [(n, t) for n, t in cur if n not in prev_names]


def commit(
    table_dir: str,
    df: DataFrame,
    mode: str = "overwrite",
    expected_version: int | None = None,
    batch_id: int | None = None,
    extra: dict | None = None,
    txn_app_id: str | None = None,
    merge_schema: bool = False,
) -> int:
    """Write ``df`` as the next snapshot. ``mode='append'`` carries the
    previous snapshot's files forward; ``'overwrite'`` starts fresh.
    ``expected_version`` (optimistic concurrency): the snapshot this
    commit was based on — raises CommitConflict if someone else already
    committed on top of it. ``txn_app_id`` (Delta's txnAppId pattern):
    record ``batch_id`` under a per-application high-water-mark in
    ``txn_hwms`` so multiple independent streams (or a stream restarted with a
    fresh checkpoint under a NEW app id) each track their own replay
    watermark. ``merge_schema`` (Delta's mergeSchema): an append may ADD
    columns (and may omit existing ones); the manifest records the merged
    schema and flags the table as evolved so readers union file footers —
    type changes still fail loudly (see _merge_schemas)."""
    if mode not in ("overwrite", "append"):
        raise ValueError("mode must be 'overwrite' or 'append'")
    os.makedirs(_log_dir(table_dir), exist_ok=True)
    seen = _versions(table_dir)
    current = seen[-1] if seen else -1
    if expected_version is not None and expected_version != current:
        raise CommitConflict(
            f"based on v{expected_version} but table is at v{current}"
        )
    new_version = current + 1

    schema_out = [(f.name, f.dataType.simpleString()) for f in df.schema]
    evolved = False
    if mode == "append" and current >= 0:
        prev_man = _manifest(table_dir, current)
        prev_schema = prev_man.get("schema")
        cur_schema = schema_out
        # an already-evolved table stays evolved: its files are mixed-
        # schema until an overwrite (e.g. optimize_table) normalizes them
        evolved = bool(prev_man.get("evolved"))
        if prev_schema is not None:
            prev_t = [tuple(x) for x in prev_schema]
            if prev_t != cur_schema:
                if not merge_schema:
                    raise ValueError(
                        f"append schema {cur_schema} incompatible with "
                        f"snapshot v{current} schema {prev_schema} — pass "
                        "merge_schema=True to add columns, or commit "
                        "mode='overwrite' to rewrite"
                    )
                schema_out = _merge_schemas(prev_t, cur_schema)
                evolved = True
            elif evolved:
                schema_out = prev_t

    cid = uuid.uuid4().hex[:12]
    data_dir = os.path.join(table_dir, "data", f"c{cid}")
    df.write.mode("error").parquet(data_dir)
    new_files = sorted(
        os.path.join(data_dir, f)
        for f in os.listdir(data_dir)
        if f.endswith(".parquet")
    )
    files = list(new_files)
    if mode == "append" and current >= 0:
        files = _manifest(table_dir, current)["files"] + files

    # streaming high-water-mark: the max batch_id ever committed rides in
    # EVERY manifest (Delta's txn pattern), so exactly-once replay checks
    # survive vacuum — scanning retained history would forget a replayed
    # batch whose own manifest was vacuumed
    prev_hwm = _manifest(table_dir, current).get("last_batch_id") if current >= 0 else None
    hwm = prev_hwm
    if batch_id is not None and txn_app_id is None:
        hwm = batch_id if prev_hwm is None else max(prev_hwm, batch_id)

    # per-application HWMs (Delta txnAppId): the whole dict rides forward
    # in every manifest so any app's watermark survives vacuum
    txn_hwms = dict(
        _manifest(table_dir, current).get("txn_hwms") or {}
    ) if current >= 0 else {}
    if batch_id is not None and txn_app_id is not None:
        prev = txn_hwms.get(txn_app_id)
        txn_hwms[txn_app_id] = (
            batch_id if prev is None else max(prev, batch_id)
        )

    manifest = {
        "version": new_version,
        "mode": mode,
        "commit_id": cid,
        "files": files,
        "schema": schema_out,
    }
    if evolved:
        manifest["evolved"] = True
    if batch_id is not None:
        manifest["batch_id"] = batch_id
    if hwm is not None:
        manifest["last_batch_id"] = hwm
    if txn_hwms:
        manifest["txn_hwms"] = txn_hwms
    if extra:
        # application metadata (e.g. matview base-version bookkeeping);
        # reserved manifest keys win on collision
        manifest = {**extra, **manifest}
    tmp = os.path.join(_log_dir(table_dir), f"v{new_version}._tmp{cid}.json")
    final = os.path.join(_log_dir(table_dir), f"v{new_version}.json")
    with open(tmp, "w") as fh:
        json.dump(manifest, fh)
    try:
        os.link(tmp, final)  # atomic create-if-absent: the commit point
    except FileExistsError:
        shutil.rmtree(data_dir)
        raise CommitConflict(f"v{new_version} was committed concurrently") from None
    finally:
        os.remove(tmp)
    return new_version


def read_snapshot(
    spark: SparkSession, table_dir: str, version: int | None = None
) -> DataFrame:
    """Read snapshot ``version`` (default: latest). Pins the manifest's
    file list, so concurrent commits never change what this frame sees."""
    seen = _versions(table_dir)
    if not seen:
        raise ValueError(f"no committed version under {table_dir}")
    v = seen[-1] if version is None else version
    if v not in seen:
        raise ValueError(f"version {v} not found (have {seen})")
    man = _manifest(table_dir, v)
    files = man["files"]
    if not files:
        raise ValueError(f"snapshot v{v} is empty")
    if man.get("evolved"):
        # mixed-schema files: union the footers (columns absent from a
        # file read as NULL) and pin the manifest's column order so the
        # frame's schema is version-stable regardless of file order.
        # Non-evolved tables keep the cheap single-footer path.
        df = spark.read.option("mergeSchema", "true").parquet(*files)
        return df.select(*[name for name, _ in man["schema"]])
    return spark.read.parquet(*files)


def history(table_dir: str) -> list[dict]:
    return [_manifest(table_dir, v) for v in _versions(table_dir)]


def vacuum(
    table_dir: str, retain_last: int = 2, min_age_seconds: float = 3600.0
) -> dict:
    """Drop manifests older than the last ``retain_last`` and delete data
    directories no retained manifest references.

    ``min_age_seconds`` (Delta's retention-period rule) protects in-flight
    commits: ``commit()`` writes its data directory BEFORE linking the
    manifest, so an unreferenced-but-recent directory may belong to a
    commit that is about to become visible — deleting it would yield a
    committed manifest pointing at missing files. Only directories whose
    mtime is older than the threshold are eligible. Setting it to 0 is
    safe only with no concurrent writers."""
    import time

    seen = _versions(table_dir)
    keep_versions = seen[-retain_last:]
    kept_dirs = set()
    for v in keep_versions:
        for f in _manifest(table_dir, v)["files"]:
            kept_dirs.add(os.path.dirname(f))
    # cross-lineage pins: branches fork-pin parent files, and a merged
    # parent references files under a branch's data root — neither
    # lineage's vacuum may delete the other's pins (see _external_refs)
    kept_dirs |= _external_refs(table_dir)
    removed_manifests = 0
    for v in seen:
        if v not in keep_versions:
            os.remove(os.path.join(_log_dir(table_dir), f"v{v}.json"))
            removed_manifests += 1
    removed_dirs = 0
    skipped_recent = 0
    now = time.time()
    data_root = os.path.join(table_dir, "data")
    if os.path.isdir(data_root):
        for d in os.listdir(data_root):
            p = os.path.join(data_root, d)
            if p not in kept_dirs:
                if now - os.path.getmtime(p) < min_age_seconds:
                    skipped_recent += 1  # possibly an in-flight commit
                    continue
                shutil.rmtree(p)
                removed_dirs += 1
    return {
        "removed_manifests": removed_manifests,
        "removed_data_dirs": removed_dirs,
        "skipped_recent_dirs": skipped_recent,
        "retained_versions": keep_versions,
    }


def streaming_commit_sink(
    table_dir: str, mode: str = "append", txn_app_id: str | None = None
):
    """foreachBatch sink committing each micro-batch as a table version,
    EXACTLY-ONCE: every manifest carries a high-water-mark of committed
    batch ids (batch ids are monotonically increasing per stream), so a
    replayed batch (restart after crash, before checkpoint advance) is
    recognized even after vacuum removed the manifest that originally
    recorded it — the Delta ``txn`` app-transaction pattern on this log.

    ``txn_app_id`` keys the HWM per application (Delta's txnAppId): pass
    a stable id per logical stream. A stream RESTARTED WITH A FRESH
    CHECKPOINT resets its batch ids to 0 — under the same app id the HWM
    would silently drop every batch, so a fresh checkpoint must opt into
    a NEW app id (that is the caller's deliberate exactly-once decision,
    exactly as in Delta). Without an app id the legacy single-stream
    ``last_batch_id`` is used; in both cases an HWM skip is logged
    loudly rather than silent (ADVICE r5: silent drop after checkpoint
    reset looked like data loss)."""
    import logging

    log = logging.getLogger(__name__)

    def write(batch_df: DataFrame, batch_id: int) -> None:
        seen = _versions(table_dir)
        if seen:
            m = _manifest(table_dir, seen[-1])
            if txn_app_id is not None:
                hwm = (m.get("txn_hwms") or {}).get(txn_app_id)
            else:
                hwm = m.get("last_batch_id")
            if hwm is not None and batch_id <= hwm:
                # already durably committed: replay is a no-op — but say
                # so, because a checkpoint reset under a reused app id
                # hits this path for EVERY batch (use a new app id)
                log.warning(
                    "streaming_commit_sink(%s): skipping batch %d <= "
                    "HWM %d for app id %r — expected only during replay "
                    "after a crash; if this repeats for every batch the "
                    "checkpoint was reset and the stream needs a new "
                    "txn_app_id",
                    table_dir,
                    batch_id,
                    hwm,
                    txn_app_id,
                )
                return
        commit(
            table_dir,
            batch_df,
            mode=mode,
            batch_id=batch_id,
            txn_app_id=txn_app_id,
        )

    return write


def snapshot_diff(
    spark: SparkSession,
    table_dir: str,
    v_from: int,
    v_to: int,
    key: str | None = None,
) -> DataFrame:
    """Change data feed between two snapshots (the Delta CDF / Iceberg
    changelog primitive): every row that differs, tagged
    ``_change_type`` ∈ {insert, delete, update_preimage,
    update_postimage}.

    Scale shape, two tiers:
    - APPEND LINEAGE (files(v_from) ⊆ files(v_to), the common case for
      a log table): the diff IS the added files — read ONLY those,
      O(delta), no comparison compute at all.
    - General (overwrites/merges between the versions): without a key,
      two ``exceptAll`` passes (bag semantics, so duplicate rows diff
      correctly); with a ``key``, ONE full-outer shuffle join on the key
      comparing whole-row structs — the honest minimum for an arbitrary
      rewrite, and the keyed form is what downstream CDC consumers want
      (update_pre/postimage pairs instead of delete+insert).

    The keyed form assumes ``key`` is unique per snapshot (the usual CDC
    contract); duplicate keys would multiply through the full-outer join
    — use the unkeyed bag-semantics form for non-unique keys. NULL keys
    pair null-safely (``<=>``), so an unchanged NULL-keyed row is omitted
    like any other; MULTIPLE NULL-keyed rows are a duplicate-key
    situation and fall under the same caveat.
    """
    for v in (v_from, v_to):
        if v not in _versions(table_dir):
            raise ValueError(f"version {v} not found under {table_dir}")
    man_to = _manifest(table_dir, v_to)
    a_files = _manifest(table_dir, v_from)["files"]
    b_files = man_to["files"]
    if set(a_files) <= set(b_files):
        added = [f for f in b_files if f not in set(a_files)]
        base = read_snapshot(spark, table_dir, v_from)
        if not added:
            return base.limit(0).withColumn(
                "_change_type", F.lit("insert")
            )
        if man_to.get("evolved"):
            # emit the feed in v_to's (latest) schema — Delta-CDF
            # convention under schema evolution; columns a pre-evolution
            # added file lacks read as NULL
            adf = spark.read.option("mergeSchema", "true").parquet(*added)
            for name, typ in man_to["schema"]:
                if name not in adf.columns:
                    adf = adf.withColumn(name, F.lit(None).cast(typ))
            adf = adf.select(*[name for name, _ in man_to["schema"]])
        else:
            adf = spark.read.parquet(*added)
        return adf.withColumn("_change_type", F.lit("insert"))

    a = read_snapshot(spark, table_dir, v_from)
    b = read_snapshot(spark, table_dir, v_to)
    if a.columns != b.columns:
        # schema evolved between the versions: compare in v_to's schema,
        # null-filling columns v_from predates (the CDF-in-latest-schema
        # convention) — a row whose new column went NULL→value diffs as
        # update_pre/postimage, which is exactly what happened
        for name, typ in man_to["schema"]:
            if name not in a.columns:
                a = a.withColumn(name, F.lit(None).cast(typ))
        a = a.select(*[name for name, _ in man_to["schema"]])
    return _frame_cdf(a, b, key)


def _frame_cdf(a: DataFrame, b: DataFrame, key: str | None) -> DataFrame:
    """The general two-frame change feed (see snapshot_diff): bag-
    semantics exceptAll without a key; ONE keyed full-outer struct
    comparison with one."""
    if key is None:
        ins = b.exceptAll(a).withColumn("_change_type", F.lit("insert"))
        dels = a.exceptAll(b).withColumn("_change_type", F.lit("delete"))
        return ins.unionByName(dels)

    cols = a.columns
    a_s = a.select(F.col(key).alias("_ka"), F.struct(*cols).alias("_a"))
    b_s = b.select(F.col(key).alias("_kb"), F.struct(*cols).alias("_b"))
    # eqNullSafe: a plain equi-join never matches NULL keys, which would
    # emit an unchanged NULL-keyed row as a spurious delete+insert pair;
    # <=> keeps it an equi-join (hashable) while pairing NULL with NULL
    j = a_s.join(b_s, F.col("_ka").eqNullSafe(F.col("_kb")), "full_outer")
    tagged = j.select(
        F.explode(
            F.when(
                F.col("_a").isNull(),
                F.array(F.struct(F.lit("insert").alias("_t"), F.col("_b").alias("_r"))),
            )
            .when(
                F.col("_b").isNull(),
                F.array(F.struct(F.lit("delete").alias("_t"), F.col("_a").alias("_r"))),
            )
            .when(
                F.col("_a") != F.col("_b"),
                F.array(
                    F.struct(F.lit("update_preimage").alias("_t"), F.col("_a").alias("_r")),
                    F.struct(F.lit("update_postimage").alias("_t"), F.col("_b").alias("_r")),
                ),
            )
            # unchanged rows: the when-chain yields NULL and explode()
            # emits nothing — no otherwise branch needed
        ).alias("_e")
    )
    return tagged.select(
        *[F.col(f"_e._r.{c}").alias(c) for c in cols],
        F.col("_e._t").alias("_change_type"),
    )


def restore(table_dir: str, version: int) -> int:
    """RESTORE TABLE TO VERSION: commit a NEW version whose manifest
    points at the old snapshot's files — no data is copied or rewritten,
    history is preserved (a restore is itself an auditable commit, and
    the restored-over versions stay time-travelable until vacuumed).
    The re-referenced files are protected from vacuum by being in the
    newest manifest."""
    import json as _json

    seen = _versions(table_dir)
    if version not in seen:
        raise ValueError(f"version {version} not found (have {seen})")
    src = _manifest(table_dir, version)
    new_version = seen[-1] + 1
    manifest = {
        "version": new_version,
        "mode": "restore",
        "restored_from": version,
        "commit_id": uuid.uuid4().hex[:12],
        "files": src["files"],
        "schema": src.get("schema"),
    }
    if src.get("evolved"):
        manifest["evolved"] = True
    # carry the streaming HWMs forward: a restore must not reopen
    # exactly-once windows
    latest = _manifest(table_dir, seen[-1])
    for k in ("last_batch_id", "txn_hwms"):
        if latest.get(k) is not None:
            manifest[k] = latest[k]
    cid = manifest["commit_id"]
    tmp = os.path.join(_log_dir(table_dir), f"v{new_version}._tmp{cid}.json")
    final = os.path.join(_log_dir(table_dir), f"v{new_version}.json")
    with open(tmp, "w") as fh:
        _json.dump(manifest, fh)
    try:
        os.link(tmp, final)
    except FileExistsError:
        raise CommitConflict(
            f"v{new_version} was committed concurrently"
        ) from None
    finally:
        os.remove(tmp)
    return new_version


def commit_with_stats(
    table_dir: str,
    df: DataFrame,
    stats_cols: tuple[str, ...],
    mode: str = "overwrite",
    **commit_kwargs,
) -> int:
    """commit() + Iceberg/Delta-style per-file column stats in the
    manifest: after the data lands, ONE column-pruned scan of the NEW
    files (O(delta), grouped by input_file_name) records min/max/nulls
    per file under ``file_stats``. Append commits carry the previous
    manifest's stats forward, so the full file-stats map is always in
    the LATEST manifest — scan planning never opens parquet footers.
    """
    import json as _json

    spark = df.sparkSession
    seen_before = set(_versions(table_dir))
    prev_stats = {}
    if seen_before and mode == "append":
        prev_stats = _manifest(table_dir, max(seen_before)).get(
            "file_stats"
        ) or {}
    v = commit(table_dir, df, mode=mode, **commit_kwargs)
    man = _manifest(table_dir, v)
    prev_files = set(prev_stats)
    new_files = [f for f in man["files"] if f not in prev_files]
    stats = dict(prev_stats)
    if new_files:
        sdf = (
            spark.read.parquet(*new_files)
            .select(*stats_cols)
            .withColumn("_file", F.input_file_name())
        )
        aggs = []
        for c in stats_cols:
            aggs += [
                F.min(c).alias(f"min_{c}"),
                F.max(c).alias(f"max_{c}"),
                F.sum(F.col(c).isNull().cast("long")).alias(f"nulls_{c}"),
            ]
        for r in sdf.groupBy("_file").agg(*aggs).collect():
            # input_file_name returns a URI; manifest paths are plain —
            # normalize to the manifest's form
            path = r["_file"]
            if path.startswith("file://"):
                path = path[len("file:"):]
                while path.startswith("//"):
                    path = path[1:]
            stats[path] = {
                k: r[k] for k in r.asDict() if k != "_file"
            }
    # attach stats by rewriting the just-committed manifest in place —
    # safe: the commit point (os.link) already happened and the stats are
    # derived metadata; a reader that raced sees a manifest without
    # ``file_stats`` and simply cannot prune
    man["file_stats"] = stats
    with open(
        os.path.join(_log_dir(table_dir), f"v{v}.json"), "w"
    ) as fh:
        _json.dump(man, fh)
    return v


def read_snapshot_pruned_box(
    spark: SparkSession,
    table_dir: str,
    box: dict,
    version: int | None = None,
) -> DataFrame:
    """Snapshot read that skips files from MANIFEST stats alone for a
    conjunctive box predicate ``{col: (lo, hi), ...}`` (one entry is a
    range probe): a file is skipped when ANY dimension's recorded
    [min, max] cannot intersect its range, then the exact predicate
    re-applies on the kept scan, so answers equal the plain filtered
    read by construction. Files or columns without recorded stats are
    conservatively read. Planning cost is the manifest alone (KBs) — no
    footer reads, no listing. This is the read side the Z-order layout
    exists for: interleaving bounds EVERY clustered dimension within
    each file, so a 2-D box prunes on both columns where a 1-D sort
    layout prunes on its sort key only."""
    seen = _versions(table_dir)
    if not seen:
        raise ValueError(f"no committed version under {table_dir}")
    v = seen[-1] if version is None else version
    man = _manifest(table_dir, v)
    stats = man.get("file_stats") or {}
    keep = []
    for f in man["files"]:
        st = stats.get(f)
        drop = False
        if st is not None:
            for c, (lo, hi) in box.items():
                if st.get(f"min_{c}") is None:
                    continue  # unknown column stats: cannot prune on it
                if st[f"max_{c}"] < lo or st[f"min_{c}"] > hi:
                    drop = True
                    break
        if not drop:
            keep.append(f)
    pred = None
    for c, (lo, hi) in box.items():
        term = F.col(c).between(lo, hi)
        pred = term if pred is None else (pred & term)
    if not keep:
        return read_snapshot(spark, table_dir, v).filter(F.lit(False))
    if man.get("evolved"):
        kept = spark.read.option("mergeSchema", "true").parquet(*keep)
        kept = kept.select(*[name for name, _ in man["schema"]])
    else:
        kept = spark.read.parquet(*keep)
    return kept.filter(pred)


def rewrite_snapshot(
    spark: SparkSession,
    table_dir: str,
    fold: Callable[[DataFrame], DataFrame],
    stats_cols: tuple[str, ...] = (),
) -> int:
    """Commit ``fold(latest snapshot)`` as a new overwrite version — the
    one rewrite verb behind OPTIMIZE and every registry compaction. The
    pre-rewrite snapshot stays time-travelable until vacuumed, and an
    interrupted rewrite leaves only an orphan data directory for vacuum
    (the commit point is the atomic manifest link). Non-empty
    ``stats_cols`` records per-file manifest stats (commit_with_stats).

    Optimistic concurrency: the base version is captured FIRST, the read
    is pinned to exactly that version, and the commit is checked against
    it. Reading "latest" and looking the version up afterwards leaves a
    window in which a concurrent append passes the check while the
    rewritten frame, pinned to the older snapshot, silently drops the
    appended rows; pinning read and check to the same version turns that
    interleaving into a CommitConflict."""
    base = _versions(table_dir)[-1]
    rewritten = fold(read_snapshot(spark, table_dir, version=base))
    if stats_cols:
        return commit_with_stats(
            table_dir,
            rewritten,
            stats_cols=stats_cols,
            mode="overwrite",
            expected_version=base,
        )
    return commit(
        table_dir, rewritten, mode="overwrite", expected_version=base
    )


def tombstones(
    delete_ids: DataFrame, like: DataFrame, key: str, sentinel: str
) -> DataFrame:
    """Key-grain DELETE markers in ``like``'s schema: one row per
    deleted ``key`` with ``sentinel = -1`` and a typed NULL in every
    other column, ready to APPEND to a registry whose real rows keep
    ``sentinel >= 0``. Writing is O(|deletes|), never O(|rows of the
    deleted keys|); :func:`live_rows` is the matching read."""
    cols = []
    for f in like.schema:
        if f.name == key:
            cols.append(F.col(key))
        else:
            fill = -1 if f.name == sentinel else None
            cols.append(F.lit(fill).cast(f.dataType).alias(f.name))
    return delete_ids.select(*cols)


def live_rows(snapshot: DataFrame, key: str, sentinel: str) -> DataFrame:
    """The tombstone-aware read of a registry snapshot: drop the
    tombstones (``sentinel < 0``) and every row of a tombstoned ``key``
    with one anti-join. Filter first, then anti-join, so the sentinel
    predicate reaches the scans. Merge-on-read and compaction both use
    it, so the two can never disagree on what 'live' means."""
    dead = snapshot.filter(F.col(sentinel) < 0).select(key)
    return snapshot.filter(F.col(sentinel) >= 0).join(dead, key, "left_anti")


def optimize_table(
    spark: SparkSession,
    table_dir: str,
    target_files: int = 1,
    sort_col: str | None = None,
    stats_cols: tuple[str, ...] = (),
) -> int:
    """Delta OPTIMIZE for a txlog table: rewrite the current snapshot's
    files into ``target_files`` (optionally range-clustered on
    ``sort_col`` so stats pruning works afterward) and commit the result
    as a NEW version through :func:`rewrite_snapshot` (snapshot
    isolation, time travel, crash safety and the OCC check come from
    there).

    A streaming ingest (streaming_commit_sink) accretes one small file
    per micro-batch; this is the companion job that folds them back into
    scan-efficient files, with manifest stats so read_snapshot_pruned_box
    skips from the log."""

    def fold(df: DataFrame) -> DataFrame:
        if sort_col is not None:
            return df.repartitionByRange(target_files, F.col(sort_col))
        return df.coalesce(target_files)

    return rewrite_snapshot(spark, table_dir, fold, stats_cols)


# ---------------------------------------------------------------------------
# Branching (Nessie / Delta-branch shaped refs over the same log mechanics)
# ---------------------------------------------------------------------------
#
# A branch IS a table_dir: ``<table>/_branches/<name>`` gets its own
# ``_log`` whose v0 manifest pins the parent snapshot's files (no copy),
# so every existing operator — commit, read_snapshot, time travel,
# snapshot_diff, restore, streaming sinks, matviews — works on a branch
# unchanged. Fork metadata lives in an immutable ``FORK.json`` next to
# the branch log (v0 may be vacuumed; the fork record must survive).
#
# Merge semantics (the Delta OCC rules at branch grain):
# - FAST-FORWARD when the parent head is still the fork version: the
#   parent adopts the branch head manifest wholesale.
# - APPEND REBASE when BOTH lineages only accumulated files since the
#   fork (checked structurally: each head's file set ⊇ the fork's file
#   set — an overwrite/compaction breaks the superset and correctly
#   refuses): merged files = parent head + branch-added; schemas merge
#   additively (type conflicts refuse); per-app streaming HWMs take the
#   per-key max so exactly-once windows never reopen.
# - Anything else raises MergeConflict with the rewrite prescription.
#
# Data files never move: a merged parent manifest may reference files
# under the branch's data root. vacuum() is cross-reference aware in both
# directions (see _external_refs) so neither lineage can delete the
# other's pinned files.


class MergeConflict(Exception):
    """Branch and parent diverged in a way auto-merge cannot reconcile."""


def _branches_root(table_dir: str) -> str:
    return os.path.join(table_dir, "_branches")


def _branch_dir(table_dir: str, name: str) -> str:
    if not name or not all(c.isalnum() or c in "-_." for c in name):
        raise ValueError(f"invalid branch name: {name!r}")
    return os.path.join(_branches_root(table_dir), name)


def list_branches(table_dir: str) -> list[str]:
    root = _branches_root(table_dir)
    if not os.path.isdir(root):
        return []
    return sorted(
        n for n in os.listdir(root)
        if os.path.isfile(os.path.join(root, n, "FORK.json"))
    )


def _fork_record(branch_dir: str) -> dict:
    with open(os.path.join(branch_dir, "FORK.json")) as fh:
        return json.load(fh)


def _write_manifest_linked(table_dir: str, manifest: dict) -> int:
    """tmp-write + os.link create-if-absent — the same commit point
    commit() uses, for manifests built from metadata instead of a df."""
    v = manifest["version"]
    cid = manifest["commit_id"]
    tmp = os.path.join(_log_dir(table_dir), f"v{v}._tmp{cid}.json")
    final = os.path.join(_log_dir(table_dir), f"v{v}.json")
    os.makedirs(_log_dir(table_dir), exist_ok=True)
    with open(tmp, "w") as fh:
        json.dump(manifest, fh)
    try:
        os.link(tmp, final)
    except FileExistsError:
        raise CommitConflict(f"v{v} was committed concurrently") from None
    finally:
        os.remove(tmp)
    return v


def create_branch(
    table_dir: str, name: str, from_version: int | None = None
) -> str:
    """Fork ``name`` off the parent snapshot (default: head). Zero-copy:
    the branch's v0 manifest lists the parent's files. Returns the branch
    dir — a full table_dir for every other operator in this module."""
    bdir = _branch_dir(table_dir, name)
    seen = _versions(table_dir)
    if not seen:
        raise ValueError(f"no committed version under {table_dir}")
    base = seen[-1] if from_version is None else from_version
    if base not in seen:
        raise ValueError(f"version {base} not found (have {seen})")
    man = _manifest(table_dir, base)
    os.makedirs(bdir, exist_ok=True)
    fork_path = os.path.join(bdir, "FORK.json")
    fork = {
        "parent": os.path.abspath(table_dir),
        "version": base,
        "files": man["files"],
        "schema": man.get("schema"),
    }
    tmp = fork_path + f"._tmp{uuid.uuid4().hex[:8]}"
    with open(tmp, "w") as fh:
        json.dump(fork, fh)
    try:
        os.link(tmp, fork_path)  # create-if-absent: branch names are unique
    except FileExistsError:
        raise ValueError(f"branch {name!r} already exists") from None
    finally:
        os.remove(tmp)
    v0 = {
        "version": 0,
        "mode": "branch",
        "commit_id": uuid.uuid4().hex[:12],
        "files": man["files"],
        "schema": man.get("schema"),
        "forked_from": {"version": base},
    }
    for k in ("evolved", "last_batch_id", "txn_hwms"):
        if man.get(k) is not None:
            v0[k] = man[k]
    _write_manifest_linked(bdir, v0)
    return bdir


def _merged_hwms(a: dict, b: dict) -> dict:
    """Streaming exactly-once metadata under merge: per-app max — a
    merge must never reopen a replay window on either lineage."""
    out = {}
    if a.get("last_batch_id") is not None or b.get("last_batch_id") is not None:
        out["last_batch_id"] = max(
            x for x in (a.get("last_batch_id"), b.get("last_batch_id"))
            if x is not None
        )
    hwms = dict(a.get("txn_hwms") or {})
    for app, hwm in (b.get("txn_hwms") or {}).items():
        hwms[app] = hwm if app not in hwms else max(hwms[app], hwm)
    if hwms:
        out["txn_hwms"] = hwms
    return out


def merge_branch(table_dir: str, name: str) -> int:
    """Merge branch ``name`` into the parent as a new parent version.
    Fast-forward if the parent has not moved since the fork; append
    rebase if both lineages only added files; MergeConflict otherwise.
    The branch stays usable afterwards (its lineage is untouched) —
    retire it with delete_branch() when done."""
    bdir = _branch_dir(table_dir, name)
    if not os.path.isfile(os.path.join(bdir, "FORK.json")):
        raise ValueError(f"no branch {name!r} under {table_dir}")
    fork = _fork_record(bdir)
    bseen = _versions(bdir)
    bman = _manifest(bdir, bseen[-1])
    seen = _versions(table_dir)
    head = seen[-1]
    hman = _manifest(table_dir, head)

    merged_from = {
        "branch": name,
        "branch_version": bman["version"],
        "fork_version": fork["version"],
    }
    if head == fork["version"]:
        manifest = {
            "version": head + 1,
            "mode": "merge",
            "commit_id": uuid.uuid4().hex[:12],
            "files": bman["files"],
            "schema": bman.get("schema"),
            "merged_from": merged_from,
            **_merged_hwms(hman, bman),
        }
        if bman.get("evolved"):
            manifest["evolved"] = True
        return _write_manifest_linked(table_dir, manifest)

    fork_files = set(fork["files"])
    head_files = set(hman["files"])
    branch_files = set(bman["files"])
    if not (fork_files <= head_files and fork_files <= branch_files):
        raise MergeConflict(
            f"cannot auto-merge branch {name!r}: a lineage rewrote or "
            "dropped fork-time files (overwrite/compaction/delete since "
            f"fork v{fork['version']}) — re-apply the branch changes on "
            "a fresh fork of the current head"
        )
    # exclude files the parent ALREADY has, not just fork-time files: a
    # branch merged once and merged again would otherwise re-add its
    # first batch's files and duplicate rows (found by the sequence
    # fuzzer's model review; pinned by test_merge_same_branch_twice)
    branch_added = [
        f for f in bman["files"]
        if f not in fork_files and f not in head_files
    ]
    ps, bs = hman.get("schema"), bman.get("schema")
    if ps is not None and bs is not None:
        try:
            schema = _merge_schemas(
                [tuple(x) for x in ps], [tuple(x) for x in bs]
            )
        except ValueError as e:
            raise MergeConflict(f"schema conflict merging {name!r}: {e}") from None
    else:
        schema = ps or bs
    evolved = bool(hman.get("evolved") or bman.get("evolved")) or (
        ps is not None and bs is not None and ps != bs
    )
    manifest = {
        "version": head + 1,
        "mode": "merge",
        "commit_id": uuid.uuid4().hex[:12],
        "files": hman["files"] + branch_added,
        "schema": schema,
        "merged_from": merged_from,
        **_merged_hwms(hman, bman),
    }
    if evolved:
        manifest["evolved"] = True
    return _write_manifest_linked(table_dir, manifest)


def delete_branch(table_dir: str, name: str) -> dict:
    """Retire a branch: its log (and fork record) go away, ending the
    lineage. Data directories under the branch survive if ANY other
    manifest still references them (a merged parent does); orphaned ones
    are removed. The branch stub directory remains while shared data
    lives in it — parent OPTIMIZE/vacuum eventually rewrites those files
    and a later delete_branch (or vacuum) clears the stub."""
    bdir = _branch_dir(table_dir, name)
    if not os.path.isfile(os.path.join(bdir, "FORK.json")):
        raise ValueError(f"no branch {name!r} under {table_dir}")
    refs = _all_referenced_dirs(table_dir, skip_branch=name)
    shutil.rmtree(_log_dir(bdir), ignore_errors=True)
    os.remove(os.path.join(bdir, "FORK.json"))
    bdata = os.path.join(bdir, "data")
    kept = 0
    if os.path.isdir(bdata):
        for d in os.listdir(bdata):
            p = os.path.join(bdata, d)
            if p in refs:
                kept += 1
            else:
                shutil.rmtree(p)
        if not os.listdir(bdata):
            os.rmdir(bdata)
    if not os.listdir(bdir):
        os.rmdir(bdir)
    return {"kept_shared_dirs": kept}


def _all_referenced_dirs(table_dir: str, skip_branch: str | None = None) -> set[str]:
    """Every data directory referenced by ANY manifest of the parent or
    any of its branches — the global pin set for cross-lineage cleanup."""
    refs: set[str] = set()
    for v in _versions(table_dir):
        for f in _manifest(table_dir, v)["files"]:
            refs.add(os.path.dirname(f))
    for b in list_branches(table_dir):
        if b == skip_branch:
            continue
        bdir = _branch_dir(table_dir, b)
        for v in _versions(bdir):
            for f in _manifest(bdir, v)["files"]:
                refs.add(os.path.dirname(f))
    return refs


def _external_refs(table_dir: str) -> set[str]:
    """Dirs vacuum(table_dir) must NOT delete even though its own retained
    manifests don't reference them: files pinned by the other lineages.

    - Parent side: every manifest of every branch (a fork pins parent
      files for the branch's whole life).
    - Branch side: every manifest of the parent and sibling branches (a
      merge makes the parent reference files under this branch's data
      root)."""
    refs: set[str] = set()
    for b in list_branches(table_dir):
        bdir = _branch_dir(table_dir, b)
        for v in _versions(bdir):
            for f in _manifest(bdir, v)["files"]:
                refs.add(os.path.dirname(f))
    fork_path = os.path.join(table_dir, "FORK.json")
    if os.path.isfile(fork_path):
        parent = _fork_record(table_dir)["parent"]
        if os.path.isdir(os.path.join(parent, "_log")):
            # pin parent + SIBLING references; this branch's own manifests
            # must stay out of the set, or its own vacuum could never
            # free its superseded data dirs
            me = os.path.basename(os.path.abspath(table_dir))
            refs |= _all_referenced_dirs(parent, skip_branch=me)
    return refs
