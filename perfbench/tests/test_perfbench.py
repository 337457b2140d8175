"""Unit tests of the benchmark's own pieces (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

import pytest

BENCH = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(BENCH))

import eventlog  # noqa: E402
import generator  # noqa: E402
import layers  # noqa: E402
from spans import covered, self_times  # noqa: E402

SPEC = generator.Spec(rows=3_000, burst_buckets=(1_000,), row_group_rows=500)


def test_generator_is_deterministic(tmp_path):
    a, ta = generator.generate(SPEC, 11)
    b, tb = generator.generate(SPEC, 11)
    assert a.equals(b)
    assert (ta["interesting_ids"] == tb["interesting_ids"]).all()
    assert not a.equals(generator.generate(SPEC, 12)[0])
    generator.write(SPEC, 11, tmp_path / "x")
    generator.write(SPEC, 11, tmp_path / "y")
    assert (tmp_path / "x/events.parquet").read_bytes() == (tmp_path / "y/events.parquet").read_bytes()


def test_generator_schema_and_knobs():
    table, truth = generator.generate(SPEC, 3)
    assert table.column_names == ["event_id", "ts", "user_id", "event_type", "value", "props"]
    props = [json.loads(p) for p in table.column("props").to_pylist()]
    assert all(isinstance(p["k"], int) and p["msg"] for p in props)
    types = table.column("event_type").to_pylist()
    burst = types[1_000:1_100]
    assert sum(t in generator.INTERESTING for t in burst) >= generator.BURST_ROWS
    assert len(truth["interesting_ids"]) == sum(t in generator.INTERESTING for t in types)
    ts = table.column("ts").cast("int64").to_pylist()
    assert any(b < a for a, b in zip(ts, ts[1:]))  # late rows arrive out of order


def _ev(kind, **kw):
    return json.dumps({"Event": kind, **kw})


def _task(stage, run_ms, cpu_ns, rows, out_rows=0):
    return _ev("SparkListenerTaskEnd", **{
        "Stage ID": stage,
        "Task Metrics": {
            "Executor Run Time": run_ms, "Executor CPU Time": cpu_ns, "JVM GC Time": 5,
            "Shuffle Read Metrics": {"Remote Bytes Read": 1, "Local Bytes Read": 10},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 7},
            "Input Metrics": {"Bytes Read": 100, "Records Read": rows},
            "Output Metrics": {"Records Written": out_rows},
        },
    })


FIXTURE = [
    _ev("SparkListenerLogStart", **{"Spark Version": "4.1.2"}),
    _ev("SparkListenerJobStart", **{"Job ID": 0, "Submission Time": 10_000,
                                    "Stage IDs": [0, 1], "Properties": {"spark.jobGroup.id": "g1"}}),
    _task(0, 400, 300_000_000, 50),
    _task(0, 600, 500_000_000, 50),
    _task(1, 1000, 900_000_000, 0, out_rows=20),
    _ev("SparkListenerJobEnd", **{"Job ID": 0, "Completion Time": 11_000}),
    # job 1 lists stage 1 again: skipped (its shuffle output is reused)
    _ev("SparkListenerJobStart", **{"Job ID": 1, "Submission Time": 12_000,
                                    "Stage IDs": [1, 2], "Properties": {}}),
    _task(2, 500, 100_000_000, 5),
    _ev("SparkListenerJobEnd", **{"Job ID": 1, "Completion Time": 12_500}),
    "",
]


def test_eventlog_parser_on_fixture(tmp_path):
    log = eventlog.parse_lines(FIXTURE)
    assert [j.group for j in log.jobs] == ["g1", None]
    w = eventlog.window_totals(log, 10.0, 14.0, cores=2)
    assert (w["jobs"], w["stages"], w["tasks"]) == (2, 3, 4)
    assert w["run_s"] == pytest.approx(2.5)
    assert w["cpu_s"] == pytest.approx(1.8)
    assert w["gc_s"] == pytest.approx(0.02)
    assert (w["input_rows"], w["output_rows"], w["shuffle_read_bytes"]) == (105, 20, 44)
    assert w["driver_gap_s"] == pytest.approx(4.0 - 1.0 - 0.5)
    assert w["slot_util"] == pytest.approx(2.5 / (4.0 * 2))
    # job 1 alone: stage 1 belongs to job 0, so only stage 2 counts
    late = eventlog.window_totals(log, 11.5, 14.0, cores=2)
    assert (late["jobs"], late["stages"], late["tasks"]) == (1, 1, 1)
    grouped = eventlog.window_totals(log, 0.0, 20.0, cores=2, groups={"g1"})
    assert (grouped["jobs"], grouped["tasks"]) == (1, 3)
    # the reader takes the rolling (v2) directory layout
    d = tmp_path / "eventlog_v2_local-1"
    d.mkdir()
    (d / "events_1_local-1").write_text("\n".join(FIXTURE))
    (d / "appstatus_local-1").write_text("")
    assert len(eventlog.read_dir(str(tmp_path)).jobs) == 2


def test_span_self_time_arithmetic():
    spans = [
        {"id": 0, "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "parent": 0, "start": 1.0, "end": 4.0},
        {"id": 2, "parent": 1, "start": 2.0, "end": 3.0},
        {"id": 3, "parent": 0, "start": 3.5, "end": 6.0},  # overlaps span 1
        {"id": 4, "parent": 0, "start": 9.0, "end": 12.0},  # runs past its parent
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - (6.0 - 1.0) - (10.0 - 9.0))
    assert st[1] == pytest.approx(3.0 - 1.0)
    assert st[2] == pytest.approx(1.0)
    assert st[4] == pytest.approx(3.0)
    assert covered([], 0.0, 1.0) == 0.0


def test_benchmark_json_lists_the_reported_metrics():
    spec = json.loads((BENCH.parent / "BENCHMARK.json").read_text())
    assert [(m["name"], m["unit"], m["better"]) for m in spec["end_to_end"]] == layers.END_TO_END
    assert [(m["name"], m["unit"], m["better"]) for m in spec["per_layer"]] == layers.PER_LAYER
