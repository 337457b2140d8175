"""Physical data layout: Z-order (Morton) clustering for multi-dimensional
scan locality.

Reference parity note: the reference service scans its SQLite/Postgres
tables linearly (src/db/connection.py); at 100 TB the dominant cost is
which bytes a scan can SKIP. A table sorted on one key prunes row groups
on that key only; interleaving the bits of two keys (the Delta/Iceberg
OPTIMIZE ZORDER technique, Morton 1966) bounds BOTH keys within every
file, so parquet min/max statistics prune 2-D box predicates on either
or both dimensions.

Scale design: the z-value is pure in-row bit arithmetic (no shuffle);
the layout write is ONE range repartition on z (Spark samples range
bounds — skew-tolerant) plus an in-partition sort that feeds the parquet
writer directly. Reading back needs nothing special: pushed-down
min/max filters skip files/row groups — the benefit shows up in any
engine that reads parquet statistics.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..session import scratch_dir


def _spread_sql(x: str, dialect: str) -> str:
    """Interleave-ready bit spread of a 16-bit int (abcd… -> a0b0c0d0…),
    the magic-mask ladder — identical integer semantics in both engines."""
    shl = (
        (lambda e, n: f"shiftleft({e}, {n})")
        if dialect == "spark"
        else (lambda e, n: f"({e} << {n})")
    )
    e = f"({x} & 65535)"
    for shift, mask in ((8, 0x00FF00FF), (4, 0x0F0F0F0F), (2, 0x33333333), (1, 0x55555555)):
        e = f"(({e} | {shl(e, shift)}) & {mask})"
    return e


def morton2_sql(a: str, b: str, dialect: str) -> str:
    """32-bit Morton code of two 16-bit values: bits of ``a`` on even
    positions, ``b`` on odd."""
    sa = _spread_sql(a, dialect)
    sb = _spread_sql(b, dialect)
    if dialect == "spark":
        return f"({sa} | shiftleft({sb}, 1))"
    return f"({sa} | ({sb} << 1))"


def morton2(a: str, b: str) -> Column:
    return F.expr(morton2_sql(a, b, "spark"))


def write_zordered(
    df: DataFrame, path: str, col_a: str, col_b: str, n_files: int = 16
) -> None:
    """Write ``df`` as parquet clustered on interleave(col_a, col_b):
    range-repartition on the z-value (sampled bounds — no single-task
    sort, no fixed-width bucket skew), sort within each partition, write.
    Both columns must already be 16-bit-ranged ints (callers bin/scale —
    binning choice is a layout policy, not mechanics)."""
    z = morton2(col_a, col_b).alias("_z")
    (
        df.withColumn("_z", z)
        .repartitionByRange(n_files, "_z")
        .sortWithinPartitions("_z")
        .drop("_z")
        .write.mode("overwrite")
        .parquet(path)
    )


def zorder_bucket_stats(events: DataFrame) -> DataFrame:
    """Catalog-facing twin of the layout math: z-code each event on
    (user_id, floor(value)) 16-bit dims, aggregate per 4096-wide z bucket (the synthetic ids/values span ~18 bits).
    Verifying these counts against the oracle proves the interleave
    arithmetic bit-for-bit — the part of the layout a SQL oracle CAN see
    (the file-skipping benefit is proven separately in tests against real
    parquet footer statistics)."""
    z = F.expr(
        morton2_sql(
            "CAST(user_id % 65536 AS BIGINT)",
            "CAST(CAST(floor(value) AS BIGINT) % 65536 AS BIGINT)",
            "spark",
        )
    )
    return (
        events.select(z.alias("z"))
        .groupBy(F.expr("CAST(z DIV 4096 AS BIGINT)").alias("z_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("z").cast("bigint").alias("z_min"),
            F.max("z").cast("bigint").alias("z_max"),
        )
        .orderBy("z_bucket")
    )


def zorder_bucket_stats_oracle_sql() -> str:
    z = morton2_sql(
        "CAST(user_id % 65536 AS BIGINT)",
        "CAST(CAST(floor(value) AS BIGINT) % 65536 AS BIGINT)",
        "duckdb",
    )
    return f"""
    WITH zc AS (SELECT {z} AS z FROM events)
    SELECT CAST(z // 4096 AS BIGINT) AS z_bucket,
           CAST(count(*) AS BIGINT) AS n,
           CAST(min(z) AS BIGINT) AS z_min,
           CAST(max(z) AS BIGINT) AS z_max
    FROM zc GROUP BY 1 ORDER BY 1
    """


HILBERT_ORDER = 16  # bits per dimension


def with_hilbert(
    df: DataFrame, col_a: str, col_b: str, out: str = "_h",
    order: int = HILBERT_ORDER,
) -> DataFrame:
    """Add the Hilbert-curve index of two ``order``-bit ints as column
    ``out`` — the locality-superior alternative to morton2 (adjacent
    curve positions are always adjacent in space, so per-file bounding
    boxes are tighter on average than Z-order's; see the comparison in
    tests/test_layout.py).

    The standard xy2d walk (per-level quadrant rotation) is staged as
    NAMED columns per level — nesting it as one Column expression
    re-expands the x/y subtrees ~4× per level (4^order nodes, driver
    OOM before anything runs; measured). With named references the tree
    stays linear and whole-stage codegen folds the CASE ladder.

    Inputs are masked to ``order`` bits (mirroring morton2's ``& 65535``):
    negative or wider values would otherwise walk the quadrant rotation
    with garbage high bits and silently destroy clustering quality —
    callers bucketing arbitrary longs should mod/hash into range
    explicitly, as zorder_bucket_stats does."""
    from pyspark.sql import functions as F

    mask = (1 << order) - 1
    cur = df.withColumn(
        "_hx", F.col(col_a).cast("long").bitwiseAND(F.lit(mask))
    ).withColumn(
        "_hy", F.col(col_b).cast("long").bitwiseAND(F.lit(mask))
    ).withColumn(out, F.lit(0).cast("long"))
    s = 1 << (order - 1)
    while s > 0:
        rx = F.when(F.col("_hx").bitwiseAND(F.lit(s)) > 0, 1).otherwise(0)
        ry = F.when(F.col("_hy").bitwiseAND(F.lit(s)) > 0, 1).otherwise(0)
        cur = (
            cur.withColumn("_rx", rx)
            .withColumn("_ry", ry)
            .withColumn(
                out,
                F.col(out)
                + F.lit(s * s).cast("long")
                * ((F.lit(3) * F.col("_rx")).bitwiseXOR(F.col("_ry"))),
            )
            .withColumn(
                "_nx",
                F.when(
                    F.col("_ry") == 0,
                    F.when(
                        F.col("_rx") == 1, F.lit(s - 1) - F.col("_hy")
                    ).otherwise(F.col("_hy")),
                ).otherwise(F.col("_hx")),
            )
            .withColumn(
                "_ny",
                F.when(
                    F.col("_ry") == 0,
                    F.when(
                        F.col("_rx") == 1, F.lit(s - 1) - F.col("_hx")
                    ).otherwise(F.col("_hx")),
                ).otherwise(F.col("_hy")),
            )
            .withColumn("_hx", F.col("_nx"))
            .withColumn("_hy", F.col("_ny"))
        )
        s >>= 1
    return cur.drop("_hx", "_hy", "_rx", "_ry", "_nx", "_ny")


def write_hilbert(
    df: DataFrame, path: str, col_a: str, col_b: str, n_files: int = 16,
    order: int = HILBERT_ORDER,
) -> None:
    """write_zordered's Hilbert twin: range-repartition + sort on the
    Hilbert index."""
    (
        with_hilbert(df, col_a, col_b, "_h", order)
        .repartitionByRange(n_files, "_h")
        .sortWithinPartitions("_h")
        .drop("_h")
        .write.mode("overwrite")
        .parquet(path)
    )


# ---------------------------------------------------------------------------
# Bucketed co-located join (r8 session, r9 queue)
# ---------------------------------------------------------------------------


def stage_bucketed_join_tables(
    spark,
    lineitem: DataFrame,
    orders: DataFrame,
    n_buckets: int = 8,
    database: str = "bucketdb",
    tag: str = "t",
) -> tuple[str, str]:
    """Stage both join sides as BUCKETED, bucket-sorted managed tables
    on the join key — Spark's pre-shuffled layout: each table's files
    are hash-partitioned by key at WRITE time, so an equi-join of two
    tables bucketed the same way needs NO exchange at read time. This
    is THE big-join discipline at 100 TB: the shuffle of the largest
    table happens once, at ingest, not per query. Returns the two table
    names.

    The managed-table database is created once per session catalog,
    at a ``session.scratch_dir`` location, so the staging depends on
    neither the session's working directory nor a path shared with
    other processes. A database the catalog already holds keeps the
    location it was created with."""
    import shutil
    from urllib.parse import urlparse
    from urllib.request import url2pathname

    if not spark.catalog.databaseExists(database):
        spark.sql(
            f"CREATE DATABASE {database} LOCATION '{scratch_dir('bucketdb')}'"
        )
    uri = spark.catalog.getDatabase(database).locationUri
    location = url2pathname(urlparse(uri).path)
    li_t = f"{database}.li_bucketed_{tag}"
    od_t = f"{database}.orders_bucketed_{tag}"
    # idempotent restage: saveAsTable refuses to adopt a managed table
    # dir the catalog does not know (LOCATION_ALREADY_EXISTS), so drop
    # both halves and whatever a failed write left on disk
    for t in (li_t, od_t):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(
            f"{location}/{t.split('.', 1)[1]}", ignore_errors=True
        )
    (
        lineitem.write.mode("overwrite")
        .bucketBy(n_buckets, "l_orderkey")
        .sortBy("l_orderkey")
        .format("parquet")
        .saveAsTable(li_t)
    )
    (
        orders.write.mode("overwrite")
        .bucketBy(n_buckets, "o_orderkey")
        .sortBy("o_orderkey")
        .format("parquet")
        .saveAsTable(od_t)
    )
    return li_t, od_t


def bucketed_join_priority_revenue(
    spark, li_table: str, od_table: str
) -> DataFrame:
    """The query the layout pays for: lineitem ⋈ orders on orderkey →
    per-priority item count + revenue, reading the bucketed tables. The
    join side of the plan must contain ZERO Exchange (bucket layouts
    align; pinned in tests/test_plans.py) — the only shuffle left is
    the 5-row priority aggregate. Money sum is exact DECIMAL cast to
    DOUBLE at the end."""
    li = spark.table(li_table)
    od = spark.table(od_table)
    joined = li.join(od, li["l_orderkey"] == od["o_orderkey"])
    return (
        joined.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_items"),
            # money convention: per-row DECIMAL(18,2) cast, EXACT sum,
            # DOUBLE at the end — a raw double sum is summation-order
            # dependent and diverges from the oracle in the last bits
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("revenue"),
        )
        .orderBy("o_orderpriority")
    )
