"""Service benchmark for the log engine.

    python3 perfbench/run.py --workload score_microbatch --seed 1 --seconds 5 --trace 0

Generates seeded log inputs, sets up a local Spark session on every core
of this process (``SPARK_GRAFT_CPUS`` = the affinity-mask size), runs one
workload as a closed loop with one caller for ``--seconds`` (at least a
minimum amount of work), checks the outputs outside the timed window,
and prints two JSON lines: the workload's named metrics with the
environment, then the result line
``{"correct", "attempted", "failed", "metrics"}``.

``--trace 0`` reports the end-to-end metrics (tracing off). ``--trace 1``
turns on the Spark event log, spans and the streaming listener and
reports the per-layer metrics instead; its operations run in pairs of
one untraced and one traced run, so ``trace.overhead_frac`` compares the
two.

End-to-end metrics (both workloads):
- ``setup_s``: session start, set-up and warm-up (not input generation).
- ``op_s``: typical wall time of one operation — the median scoring
  micro-batch (``batch_p50_s``), or the geometric mean over the stream-twin
  queries (their costs differ, so a median would hinge on one twin).
The first JSON line adds per-workload names (``batch_p50_s``,
``scored_per_s``, ``twins_total_s``, ``microbatch_p50_ms``), the Spark
JVM's peak RSS (``jvm_peak_rss_mb``, VmHWM) and ``failed_frac``; RSS
(GC timing) and logs per second (logs per slice differ by seed) spread
too much across seeds to be bounded. Failed operations and failed output
checks are counted in ``failed``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
PACKAGE = "logstream_processing_service_spark"


class Ctx:
    def __init__(self, args) -> None:
        self.workload = args.workload
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.cores = len(os.sched_getaffinity(0))
        self.work = str(BENCH / ".work" / f"{args.workload}-{args.seed}-{os.getpid()}")
        self.data = os.path.join(self.work, "data")
        self.truth: dict = {}
        self.info: dict = {}


def _environment(ctx: Ctx) -> None:
    """Keep every file the run writes inside the work dir, size Spark to
    this process's cores and let Python workers import the program and
    the benchmark."""
    tmp = os.path.join(ctx.work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(ctx.cores)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp}"
    paths = [str(ROOT), str(BENCH), os.environ.get("PYTHONPATH", "")]
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in paths if p)
    sys.path[:0] = [str(ROOT)]
    import tempfile

    tempfile.tempdir = tmp


def _jvm_hwm_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM not found")


def _descendants(pid: int) -> set[int]:
    out: set[int] = set()
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except FileNotFoundError:
        return out
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as fh:
                kids = [int(k) for k in fh.read().split()]
        except FileNotFoundError:
            continue
        for k in kids:
            out |= {k} | _descendants(k)
    return out


def _stop(spark) -> None:
    """Stop the session, then wait for the JVM and the Python workers it
    started (they exit when the JVM closes their pipes)."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    workers = _descendants(proc.pid) if proc is not None else set()
    spark.stop()
    gateway.shutdown()
    if proc is None:
        return
    proc.stdin.close()
    proc.wait(timeout=60)
    deadline = time.time() + 30
    while workers and time.time() < deadline:
        workers = {p for p in workers if _alive(p)}
        time.sleep(0.1)
    for p in workers:
        os.kill(p, signal.SIGKILL)


def _alive(pid: int) -> bool:
    """Running and not a zombie (an orphan's reaper may be slow)."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (FileNotFoundError, ProcessLookupError):
        return False


def run_op(wl, spark, tracer, probe, traced: bool, repeat: bool = False) -> dict:
    tracer.enabled = traced
    rec: dict = {"traced": traced, "span": None, "result": None, "counters": {}}
    emb0 = probe.read() if probe else {}
    rec["start"] = time.time()
    p0 = time.perf_counter()
    try:
        with tracer.span("op") as sp:
            if sp is not None:
                rec["span"] = sp["id"]
            rec["result"] = wl.op(spark, repeat)
    except Exception:  # one failed operation must not end the run
        traceback.print_exc()
    rec["seconds"] = time.perf_counter() - p0
    rec["end"] = time.time()
    tracer.enabled = False
    if rec["result"] is not None:
        rec["counters"] = dict(rec["result"].pop("counters", {}))
        if traced:
            if hasattr(wl, "trace_counters"):
                wl.trace_counters(rec)
            for k, v in probe.read().items():
                rec["counters"][k] = v - emb0[k]
    return rec


def measure(ctx: Ctx, wl, spark, tracer, probe) -> list[dict]:
    """Closed loop, one caller: run until ``--seconds`` have passed and the
    workload's minimum work is done. A traced run makes pairs of one
    untraced and one traced operation (for stream_twins, the same twin
    twice), alternating which goes first."""
    ops: list[dict] = []
    t_end = time.perf_counter() + ctx.seconds
    while True:
        if ctx.trace:
            first = len(ops) % 4 == 2
            ops.append(run_op(wl, spark, tracer, probe, traced=first))
            ops.append(run_op(wl, spark, tracer, probe, traced=not first, repeat=True))
        else:
            ops.append(run_op(wl, spark, tracer, probe, traced=False))
        if time.perf_counter() >= t_end and wl.done(ops[::2] if ctx.trace else ops):
            return ops


def named_metrics(wl, good: list[dict], e2e: dict, rss: float, progress: list[dict]) -> dict:
    """Per-workload metric names. A few batches support no
    tail percentile (it needs ten samples beyond it), so the sample count
    is given instead."""
    secs = [o["seconds"] for o in good]
    out = {"setup_s": (e2e["setup_s"], "s"), "jvm_peak_rss_mb": (rss, "MB")}
    if wl.name == "score_microbatch":
        out["batch_p50_s"] = (statistics.median(secs), "s")
        out["batch_samples"] = (len(secs), "count")
        scored = sum(o["result"]["scored"] for o in good)
        out["scored_per_s"] = (scored / sum(secs), "1/s")
    else:
        from layers import microbatch_p50_ms

        out["twins_total_s"] = (sum(secs), "s")
        out["microbatch_p50_ms"] = (microbatch_p50_ms(progress), "ms")
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["score_microbatch", "stream_twins"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    if not (ROOT / PACKAGE).is_dir():
        print(f"error: the program ({PACKAGE}/) is not next to perfbench/", file=sys.stderr)
        return 2

    ctx = Ctx(args)
    shutil.rmtree(ctx.work, ignore_errors=True)
    _environment(ctx)
    try:
        return _run(ctx)
    finally:
        shutil.rmtree(ctx.work, ignore_errors=True)


def _run(ctx: Ctx) -> int:
    import generator
    import layers
    import score
    import twins
    from spans import Tracer

    mod = score if ctx.workload == "score_microbatch" else twins
    ctx.truth = generator.write(mod.spec(), ctx.seed, ctx.data)

    t0 = time.perf_counter()
    import pyspark

    from logstream_processing_service_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(ctx.work, "warehouse"),
    }
    log_dir = os.path.join(ctx.work, "eventlog")
    if ctx.trace:
        os.makedirs(log_dir)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{log_dir}",
            "spark.eventLog.compress": "false",
        })
    spark = get_spark("perfbench", extra_conf=conf)
    try:
        spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - t0
        tracer = Tracer(spark.sparkContext)
        probe = layers.instrument(tracer, spark.sparkContext) if ctx.trace else None
        wl = score.ScoreMicrobatch(ctx) if mod is score else twins.StreamTwins(ctx)
        listener = None
        if mod is twins:
            listener = layers.ProgressListener()
            spark.streams.addListener(listener)

        tracer.enabled = ctx.trace
        with tracer.span("setup") as setup_span:
            wl.setup(spark)
        tracer.enabled = False
        setup_s = time.perf_counter() - t0

        ops = measure(ctx, wl, spark, tracer, probe)
        progress = []  # micro-batch reports of the untraced operations
        if listener is not None:
            listener.settle()
            progress = [p for o in ops if not o["traced"]
                        for p in listener.in_window(o["start"], o["end"])]
        bad = wl.check(spark, ops)
        rss = _jvm_hwm_mb(spark)
    finally:
        _stop(spark)

    failed = sum(1 for i, o in enumerate(ops) if o["result"] is None or i in bad)
    good = [o for o in ops if o["result"] is not None and not o["traced"]]
    secs = [o["seconds"] for o in good]
    e2e = {"setup_s": setup_s, "op_s": wl.typical(secs) if secs else float("nan")}
    if ctx.trace:
        from eventlog import read_dir

        metrics = layers.layer_metrics(
            tracer, read_dir(log_dir), ops, setup_span, ctx.cores, listener, session_s)
    else:
        metrics = e2e
    import pyarrow

    info = {
        "workload": ctx.workload, "seed": ctx.seed, "trace": int(ctx.trace),
        "env": {"cores": ctx.cores, "spark": pyspark.__version__,
                "pyarrow": pyarrow.__version__, "python": sys.version.split()[0]},
        "named": {k: {"value": v, "unit": u} for k, (v, u) in named_metrics(wl, good, e2e, rss, progress).items()},
        "op_seconds": [round(o["seconds"], 4) for o in ops],
        "failed_frac": failed / max(len(ops), 1),
        **ctx.info,
    }
    print(json.dumps(info))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": layers.UNITS[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
