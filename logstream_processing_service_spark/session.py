"""SparkSession factory.

The reference has no engine of its own (SQL strings go to Postgres —
src/db/connection.py:10-19); here the session IS the engine, so the factory
centralizes the configuration that matters at 100 TB:

- AQE on (runtime re-plan: broadcast conversion, partition coalescing,
  skew-join splitting).
- Shuffle partitions sized to the local core count for tests; on a real
  cluster AQE coalesces from a high initial number.
- Arrow enabled so any unavoidable Python stage is vectorized.
- UTC session timezone so timestamp semantics are deployment-independent.
- ``nanosAsLong`` because the shared testdata parquet uses TIMESTAMP(NANOS),
  which Spark does not read natively (loaders convert back to timestamps).
- A codegen cache sized to the engine's working set. Spark keeps compiled
  generated classes in one JVM-wide cache of 100 entries, but one scoring
  micro-batch needs about 100 distinct classes, so at 100 every batch
  evicted what the previous one compiled and recompiled 100 to 117 of them;
  at ``CODEGEN_CACHE_ENTRIES`` a steady-state batch compiles 4. The conf is
  static (the first use of the code generator fixes it), so only
  ``get_spark`` can set it; a session made elsewhere keeps 100 entries and
  gets the same results, only slower.
"""

from __future__ import annotations

import atexit
import functools
import os
import shutil
import tempfile
import threading
from collections.abc import Callable
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.util import inheritable_thread_target

# Conf that must hold on ANY session running this engine (including a session
# created by an external driver) — all runtime-settable.
RUNTIME_CONF: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # split packing: 1 MB open-cost estimate (realistic for compacted
    # parquet on fast storage; the 4 MB default stops small inputs from
    # splitting to the session's minPartitionNum and leaves cores idle)
    "spark.sql.files.openCostInBytes": "1048576",
}


# spark.sql.codegen.cache.maxEntries (Spark's default: 100), chosen from
# measured working sets of distinct generated classes (4 cores, cache
# unbounded): the scoring service's training, warm-up batch and 6 batches
# compile 233, and each later batch adds 4 single-use ones (its literals).
# Catalog sweeps fit no size: a one-pass `bench.py` at sf0.1 compiles 3,635
# distinct classes, and the default test tier fills even 2000 entries
# (4,869 compiles). 2000 holds every repeated loop (the scoring batch, the
# stream shell, `bench.py --reps` on a subset) about 8 times over, while
# single-use classes age out least recently used first. `bench.py`'s JVM
# Metaspace at exit read 254 MB, against 238 MB at 100 entries.
CODEGEN_CACHE_ENTRIES = 2000


def apply_runtime_conf(spark: SparkSession) -> SparkSession:
    """Apply the engine's runtime-settable conf to an existing session."""
    for k, v in RUNTIME_CONF.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            # Never fail a query because a conf key is locked down.
            pass
    return spark


def get_spark(
    app_name: str = "logstream-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or f"local[{cpus}]"
    shuffle = shuffle_partitions or cpus

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.sql.files.maxPartitionBytes", "128m")
        .config("spark.ui.enabled", "false")
        # ReservedCodeCacheSize: whole-stage codegen emits a new class per
        # plan, and a long session running 100+ distinct queries (the
        # bench, the driver's correctness sweep) fills the JVM's default
        # 240 MB JIT code cache — once full the compiler is disabled and
        # LATER queries silently run interpreted (the "late-run drift"
        # class adjudicated in the r4-r6 ABAB tables). 512 MB keeps the
        # JIT alive for the whole sweep.
        .config(
            "spark.driver.extraJavaOptions",
            "-Duser.timezone=UTC -XX:ReservedCodeCacheSize=512m",
        )
        # static and JVM-global, so never in RUNTIME_CONF, whose
        # apply_runtime_conf would swallow the refusal to set it
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
    )
    for k, v in RUNTIME_CONF.items():
        builder = builder.config(k, v)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    return apply_runtime_conf(spark)


def cut_lineage(df: DataFrame) -> DataFrame:
    """Truncate ``df``'s lineage between rounds of an iterative operator.

    This is the engine's one lineage-cut policy; the session decides it:

    - With a checkpoint dir set on the context (``spark.checkpoint.dir``
      or ``setCheckpointDir``), the cut is a reliable
      ``checkpoint(eager=True)``. Rounds land in that storage and survive
      executor loss. It stays eager because a lazy reliable checkpoint
      recomputes the round to write it.
    - Otherwise the cut is ``localCheckpoint(eager=False)``: executor-local
      blocks with no recompute fallback, and no job of its own. The next
      action over the frame computes the round and keeps its blocks in the
      same job, so callers make that action a full one (``count()``, not a
      ``limit``/``take`` probe that leaves partitions uncomputed).
    """
    if df.sparkSession.sparkContext.getCheckpointDir() is not None:
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=False)


_scratch_root: str | None = None


def scratch_dir(kind: str) -> str:
    """A new, empty directory for on-disk query state (a txlog table, a
    registry, an index, a stream's source and sink).

    This is the engine's one policy for where such state lives and how
    long it lasts. The first call in a process makes one root under
    ``tempfile.gettempdir()`` (so ``TMPDIR`` is honoured) and registers
    its removal at interpreter exit; every call returns a fresh
    ``<kind>_*`` dir inside it. The dir is never reused and stays until
    the process exits, because a returned DataFrame reads it lazily.
    Concurrent processes get distinct roots, so none can clear
    another's state.
    """
    global _scratch_root
    if _scratch_root is None:
        _scratch_root = tempfile.mkdtemp(prefix="logstream_")
        atexit.register(shutil.rmtree, _scratch_root, ignore_errors=True)
    return tempfile.mkdtemp(prefix=f"{kind}_", dir=_scratch_root)


def fan_out(spark: SparkSession, *fns: Callable[[], Any]) -> list:
    """Run each zero-argument callable on its own thread and return their
    results in argument order.

    This is the engine's one way to overlap independent Spark actions,
    such as sinks that read one cached frame and each write their own
    table. A plain thread starts its JVM side with no local properties, so
    its jobs would escape the caller's job group: ``getJobIdsForGroup``
    would not count them and cancelling the group would not stop them.
    Each thread here runs under ``pyspark.util.inheritable_thread_target``
    and so keeps the caller's job group, description, tags and any other
    local property, such as a stream's batch properties inside
    ``foreachBatch``. The wrapper is made once per thread because it
    copies the properties when it is made; the threads then do not share
    one mutable copy, into which Spark SQL writes each query's execution
    id.

    Every thread is joined before the first failure, in argument order, is
    re-raised, so a caller's ``finally`` never releases a cache that a
    running sibling still reads.
    """
    results: list = [None] * len(fns)
    errors: list[BaseException | None] = [None] * len(fns)

    def run(i: int) -> None:
        try:
            results[i] = fns[i]()
        except BaseException as e:  # re-raised in the caller's thread
            errors[i] = e

    threads = [
        threading.Thread(target=inheritable_thread_target(spark)(functools.partial(run, i)))
        for i in range(len(fns))
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    for e in errors:
        if e is not None:
            raise e
    return results
