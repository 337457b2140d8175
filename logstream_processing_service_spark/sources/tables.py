"""Parquet table scans (SURVEY §2.1 S1/S2).

Reference: ``fetch_logs_batch`` pulls whole SQL result sets into driver
memory via ``pd.read_sql`` (src/db/log_ops.py:5-14). Here a scan is a lazy,
column-pruned, predicate-pushed parquet read — Catalyst only materializes
what downstream operators need, which is what makes the same code viable at
100 TB (row-group skipping + partition pruning instead of a full fetch).
"""

from __future__ import annotations

import os
import shutil

import pyarrow as pa
from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import LongType, StructType

from ..session import apply_runtime_conf

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

# Columns stored as parquet TIMESTAMP(NANOS): Spark (with nanosAsLong) reads
# them as LongType nanoseconds; convert back to a tz-free timestamp at
# microsecond precision — exactly how DuckDB reads the same files.
_NANO_TS_COLS: dict[str, tuple[str, ...]] = {
    "events": ("ts",),
    "orders": ("o_orderdate",),
    "lineitem": ("l_shipdate",),
}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one testdata table; normalize nano-timestamp columns."""
    apply_runtime_conf(spark)
    return normalize_nano_ts(
        spark.read.parquet(f"{sf_dir.rstrip('/')}/{name}.parquet"), name
    )


def normalize_nano_ts(df: DataFrame, name: str) -> DataFrame:
    """Turn table ``name``'s nano-timestamp columns, where ``df`` (a batch
    or a streaming read of that table) holds them as LongType, into
    tz-free microsecond timestamps; other columns pass through."""
    for col in _NANO_TS_COLS.get(name, ()):
        field = next((f for f in df.schema.fields if f.name == col), None)
        if field is not None and isinstance(field.dataType, LongType):
            # integer division: the ns value (~1.7e18) exceeds double precision,
            # so a float divide would corrupt the microseconds
            df = df.withColumn(
                col,
                F.timestamp_micros(F.expr(f"{col} div 1000")).cast("timestamp_ntz"),
            )
    return df


def register_views(spark: SparkSession, sf_dir: str, tables: list[str] | None = None) -> None:
    """Register each table as a temp view so transforms can use spark.sql."""
    for name in tables or TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


def jdbc_table(
    spark: SparkSession,
    url: str,
    table: str,
    partition_column: str | None = None,
    num_partitions: int = 32,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
    **options: str,
) -> DataFrame:
    """Production-source swap for the reference's Postgres tables (S1):
    the same transforms run over JDBC by replacing ``load_table`` with this.

    Reads are range-partitioned on ``partition_column`` (the reference's
    ``log_id BETWEEN`` batch slicing, generalized) so the scan parallelizes
    across executors instead of one driver-side ``pd.read_sql`` fetch
    (src/db/log_ops.py:5-14). Predicates/projections still push down to the
    database via Catalyst's JDBC rules. Exercised end-to-end against the
    embedded Derby engine Spark ships (tests/test_jdbc.py: round trip,
    8-way range-partitioned scan, PushedFilters, append); parquet is the
    hot path in this environment.
    """
    reader = (
        spark.read.format("jdbc").option("url", url).option("dbtable", table)
    )
    if partition_column is not None:
        if lower_bound is None or upper_bound is None:
            raise ValueError("range partitioning needs lower_bound/upper_bound")
        reader = (
            reader.option("partitionColumn", partition_column)
            .option("numPartitions", str(num_partitions))
            .option("lowerBound", str(lower_bound))
            .option("upperBound", str(upper_bound))
        )
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.load()


def recover_swap(path: str) -> bool:
    """Repair a rename-swap that crashed. If ``path`` is missing but
    ``<path>._old`` exists, the crash happened between the two renames of
    ``swap_in``: restore the backup. A leftover ``._old`` next to a present
    table (crash before the backup was removed) and a leftover ``._staged``
    (an uncommitted write) are dropped. Returns True if the backup was
    restored. ``read_parquet_or_empty`` calls it before every read."""
    path = path.rstrip("/")
    staged, backup = path + "._staged", path + "._old"
    recovered = False
    if not os.path.exists(path) and os.path.isdir(backup):
        os.rename(backup, path)
        recovered = True
    for stale in (staged, backup):
        if os.path.isdir(stale):
            shutil.rmtree(stale)
    return recovered


def swap_in(df: DataFrame, path: str) -> None:
    """Replace the parquet table at ``path`` with ``df`` (the ModelStore
    blue/green move, T8, run_training_batch.py:243-257): write
    ``<path>._staged``, rename the table to ``<path>._old``, rename the
    staged dir into place, drop the backup. ``df`` may read ``path``
    lazily: nothing is renamed until its write has succeeded.

    Call it after ``recover_swap`` (or a ``read_*`` verb here) on the same
    path: a stale ``._old`` makes the first rename fail, and ``df`` is bound
    to the table before any repair, so it does not repair by itself.

    The swap is two renames, so the table is absent for the instant
    between them, and a crash there leaves the data under ``._old`` —
    ``recover_swap`` restores it. Readers must not race a swap; the caller
    owns single-writer scheduling. On Delta/Iceberg this is one commit."""
    path = path.rstrip("/")
    staged, backup = path + "._staged", path + "._old"
    df.write.mode("overwrite").parquet(staged)
    moved = os.path.exists(path)
    if moved:
        os.rename(path, backup)
    os.rename(staged, path)  # crash between the renames: see recover_swap
    if moved:
        shutil.rmtree(backup)


def put_tagged(df: DataFrame, path: str, tag: str) -> None:
    """Write ``df`` as the one flat file ``<path>/<tag>.parquet``, so a
    replayed batch replaces its rows instead of appending them twice. The
    single part file (an empty frame writes one with its schema) is staged
    under ``<path>._staged`` and renamed into place, an atomic replace; a
    crash before the rename keeps the tag's previous file."""
    if "/" in tag or tag.startswith((".", "_")):
        raise ValueError(f"tag must name a visible file in {path}: {tag!r}")
    path = path.rstrip("/")
    staged = path + "._staged"
    df.coalesce(1).write.mode("overwrite").parquet(staged)
    (part,) = [f for f in os.listdir(staged) if f.startswith("part-")]
    os.makedirs(path, exist_ok=True)
    os.rename(os.path.join(staged, part), os.path.join(path, f"{tag}.parquet"))
    shutil.rmtree(staged)


def read_parquet_or_empty(
    spark: SparkSession, path: str, schema: StructType | str
) -> DataFrame:
    """Read a table this service writes itself, with its known schema (no
    inference job). A missing table is the first write and reads as an
    empty frame; any other failure (an unreadable file) raises, so a sink
    never mistakes a broken target for an empty one. A crashed swap is
    repaired first (``recover_swap``)."""
    return _read_or_empty(spark, spark.read.schema(schema), path, schema)


def read_merge_target(
    spark: SparkSession, path: str, schema: StructType | str
) -> DataFrame:
    """``read_parquet_or_empty`` for a MERGE target: the table is read with
    the schema its own files carry, and ``schema`` shapes only the empty
    frame of a first write. A target holding a column the batch lacks then
    fails ``merge_full``'s column check; a read pinned to the batch schema
    would drop that column, and the swap would delete it from every row."""
    return _read_or_empty(spark, spark.read, path, schema)


def _read_or_empty(spark, reader, path, schema) -> DataFrame:
    recover_swap(path)
    try:
        return reader.parquet(path)
    except AnalysisException as e:
        if e.getCondition() != "PATH_NOT_FOUND":
            raise
        return spark.createDataFrame([], schema)


def upsert_parquet(
    spark: SparkSession,
    new: DataFrame,
    target: str,
    key: str = "event_id",
    key_range: tuple | None = None,
) -> None:
    """S6: ON CONFLICT DO NOTHING as anti-join append (idempotent sink,
    src/db/log_ops.py:47-55). ``unseen_rows`` gives the rows appended."""
    unseen_rows(spark, new, target, key, key_range).write.mode("append").parquet(target)


def unseen_rows(
    spark: SparkSession,
    new: DataFrame,
    target: str,
    key: str,
    key_range: tuple | None = None,
) -> DataFrame:
    """The rows of ``new`` whose ``key`` the parquet table ``target`` does
    not hold yet, one per key: the insert set of ON CONFLICT DO NOTHING.

    Only the key is read, with its known type: the rows the training and
    the scoring path append carry different column sets. A missing target
    is the first write; an unreadable one raises instead of appending
    without the anti-join. ``key_range``, the inclusive (min, max) of
    ``new``'s keys, limits the read to the keys that can collide: the
    filter is pushed into the scan, so parquet's row-group statistics skip
    the files that hold only keys outside it, as a primary-key index
    would.
    """
    existing = read_parquet_or_empty(spark, target, StructType([new.schema[key]]))
    if key_range is not None:
        existing = existing.filter(F.col(key).between(*key_range))
    return new.dropDuplicates([key]).join(existing, key, "left_anti")


def append_rows(
    spark: SparkSession, rows: list, schema: StructType | str, target: str
) -> None:
    """Append rows the driver holds to ``target`` as one parquet file, and
    write nothing when there are none: an empty frame's append still adds
    a file, which every later read of the table lists and opens.

    The rows reach Spark as one Arrow table, a local relation. A list of
    Python rows would become a Python RDD, whose write runs a Python
    worker per partition: 4 to 8 s for three rows on 4 cores, against
    0.2 s this way."""
    if rows:
        if isinstance(schema, str):
            schema = StructType.fromDDL(schema)
        table = pa.Table.from_pylist(
            [dict(zip(schema.names, r)) for r in rows], to_arrow_schema(schema)
        )
        spark.createDataFrame(table, schema).coalesce(1).write.mode("append").parquet(target)


def merge_parquet(
    spark: SparkSession,
    target: str,
    updates: DataFrame,
    key: str,
) -> None:
    """MERGE INTO for plain parquet: WHEN MATCHED update (source row wins),
    WHEN NOT MATCHED insert — the reference's dual write (embedding upsert +
    cluster_id update in one txn, src/db/log_ops.py:66-81) as one
    set-oriented sink. The target is read with its own schema
    (``read_merge_target``, which first recovers a swap that crashed) and
    the merged result is swapped in whole (``swap_in``); on Delta/Iceberg
    this whole function is one MERGE INTO.
    """
    existing = read_merge_target(spark, target, updates.schema)
    swap_in(merge_full(existing, updates, key), target)


def merge_full(
    target_df: DataFrame,
    source: DataFrame,
    key: str,
    when_matched: str = "update",
    matched_condition=None,
    when_not_matched_insert: bool = True,
    not_matched_by_source_delete: bool = False,
) -> DataFrame:
    """Delta-style MERGE as a pure DataFrame transform: full set of clauses —
    WHEN MATCHED [AND cond] UPDATE or DELETE, WHEN NOT MATCHED INSERT,
    WHEN NOT MATCHED BY SOURCE DELETE. Returns the merged frame; pair with
    ``swap_in`` (or a table format's MERGE INTO) to persist.

    ``matched_condition`` is an optional callable receiving the joined
    frame (target columns as ``t.*``, source as ``s.*``) and returning a
    boolean Column — e.g. only update when the source row is newer:
    ``lambda j: F.col("s.updated_at") > F.col("t.updated_at")``.

    Scale shape: ONE full-outer shuffle join on the key carries every
    clause; each output row is a per-row CASE over the two sides — no
    per-clause rescans of the target, which is the difference between one
    pass and four at 100 TB. Source rows are key-deduped first (last-writer
    ambiguity resolved deterministically by max over the row struct).
    """
    if when_matched not in ("update", "delete", None):
        raise ValueError(f"when_matched must be update/delete/None: {when_matched!r}")
    cols = target_df.columns
    if source.columns != cols:
        raise ValueError(f"schema mismatch: {source.columns} vs {cols}")
    # deterministic key-dedup of the source (max struct = last writer wins
    # under any partitioning)
    dk = (
        source.groupBy(key)
        .agg(F.max(F.struct(*[c for c in cols if c != key])).alias("_r"))
        .select(key, "_r.*")
    )
    t = target_df.alias("t")
    s = dk.alias("s")
    j = t.join(s, F.col(f"t.{key}") == F.col(f"s.{key}"), "full_outer")
    t_present = F.col(f"t.{key}").isNotNull()
    s_present = F.col(f"s.{key}").isNotNull()
    matched = t_present & s_present
    cond = matched_condition(j) if matched_condition is not None else F.lit(True)

    keep = F.lit(False)
    use_source = F.lit(False)
    # target-only rows survive unless NOT MATCHED BY SOURCE deletes them
    keep = keep | (t_present & ~s_present & F.lit(not not_matched_by_source_delete))
    # source-only rows insert
    keep = keep | (~t_present & s_present & F.lit(when_not_matched_insert))
    use_source = use_source | (~t_present & s_present)
    if when_matched == "update":
        keep = keep | matched
        use_source = use_source | (matched & cond)
    elif when_matched == "delete":
        keep = keep | (matched & ~cond)
    else:
        keep = keep | matched
    return j.filter(keep).select(
        *[
            F.when(use_source, F.col(f"s.{c}")).otherwise(F.col(f"t.{c}")).alias(c)
            for c in cols
        ]
    )
