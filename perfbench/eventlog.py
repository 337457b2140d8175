"""Spark event-log reader: jobs, stages and task metrics per time window.

The traced run turns on Spark's event log; after the session stops, this
module reads it back and sums task metrics over the jobs submitted inside
a window (one operation, or one span via its job group). Streaming jobs
carry the query's run id as their job group, so windows, not groups, are
what ties them to an operation.
"""

from __future__ import annotations

import glob
import json
import os
from dataclasses import dataclass, field

from spans import covered


@dataclass
class Job:
    job_id: int
    group: str | None
    start: float  # seconds since the epoch
    end: float | None = None
    stages: list[int] = field(default_factory=list)


@dataclass
class StageTotals:
    tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    input_rows: int = 0
    input_bytes: int = 0
    output_rows: int = 0


@dataclass
class EventLog:
    jobs: list[Job]
    stages: dict[int, StageTotals]


def _add_task(st: StageTotals, ev: dict) -> None:
    m = ev.get("Task Metrics") or {}
    st.tasks += 1
    st.run_s += m.get("Executor Run Time", 0) / 1e3
    st.cpu_s += m.get("Executor CPU Time", 0) / 1e9
    st.gc_s += m.get("JVM GC Time", 0) / 1e3
    rd = m.get("Shuffle Read Metrics") or {}
    st.shuffle_read_bytes += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
    st.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
    inp = m.get("Input Metrics") or {}
    st.input_rows += inp.get("Records Read", 0)
    st.input_bytes += inp.get("Bytes Read", 0)
    st.output_rows += (m.get("Output Metrics") or {}).get("Records Written", 0)


def parse_lines(lines) -> EventLog:
    jobs: dict[int, Job] = {}
    stages: dict[int, StageTotals] = {}
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            jobs[ev["Job ID"]] = Job(
                ev["Job ID"], props.get("spark.jobGroup.id"),
                ev["Submission Time"] / 1e3, stages=list(ev.get("Stage IDs", [])),
            )
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]].end = ev["Completion Time"] / 1e3
        elif kind == "SparkListenerTaskEnd":
            _add_task(stages.setdefault(ev["Stage ID"], StageTotals()), ev)
    return EventLog(sorted(jobs.values(), key=lambda j: j.job_id), stages)


def read_dir(log_dir: str) -> EventLog:
    """Read every event-log file under ``log_dir`` (plain or rolling v2)."""
    paths = [
        p for p in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
        if os.path.isfile(p) and "appstatus" not in os.path.basename(p)
        and not p.endswith(".crc")
    ]
    lines: list[str] = []
    for p in sorted(paths):
        with open(p) as fh:
            lines.extend(fh)
    return parse_lines(lines)


def window_totals(log: EventLog, lo: float, hi: float, cores: int,
                  groups: set[str] | None = None) -> dict[str, float]:
    """Sum the jobs submitted in [lo, hi] (and, if ``groups`` is given,
    only those whose job group is in it)."""
    jobs = [j for j in log.jobs if lo <= j.start <= hi
            and (groups is None or j.group in groups)]
    # a stage belongs to the first job listing it; later jobs that list it
    # skipped it (reused shuffle output)
    owner: dict[int, int] = {}
    for j in log.jobs:
        for s in j.stages:
            owner.setdefault(s, j.job_id)
    ids = {j.job_id for j in jobs}
    ran = {s for j in jobs for s in j.stages if s in log.stages and owner[s] in ids}
    tot = StageTotals()
    for s in ran:
        st = log.stages[s]
        for k in vars(tot):
            setattr(tot, k, getattr(tot, k) + getattr(st, k))
    span = max(hi - lo, 1e-9)
    busy = covered([(j.start, j.end if j.end is not None else hi) for j in jobs], lo, hi)
    return {
        "jobs": len(jobs),
        "stages": len(ran),
        "driver_gap_s": span - busy,
        "slot_util": tot.run_s / (span * cores),
        **vars(tot),
    }
