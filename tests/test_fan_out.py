"""``session.fan_out``: concurrent callables whose Spark jobs stay in the
caller's job group, results in argument order, and a failure re-raised
only after every sibling has finished."""

from __future__ import annotations

import sys
import threading
import time
import uuid

import pytest

from logstream_processing_service_spark.session import fan_out


def _clear_group(sc) -> None:
    sc.setLocalProperty("spark.jobGroup.id", None)
    sc.setLocalProperty("spark.job.description", None)


def test_results_come_back_in_argument_order(spark):
    # the first callable finishes last
    out = fan_out(spark, lambda: time.sleep(0.3) or "a", lambda: "b", lambda: 3)
    assert out == ["a", "b", 3]
    assert fan_out(spark) == []

    # more threads than cores, switching often: no result lands in
    # another's slot
    def work(i: int):
        def run():
            sum(range(10_000))
            return i

        return run

    prev = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        assert fan_out(spark, *(work(i) for i in range(32))) == list(range(32))
    finally:
        sys.setswitchinterval(prev)


def test_first_failure_is_raised_after_the_others_finish(spark):
    finished = []

    def slow(tag: str, secs: float):
        def run():
            time.sleep(secs)
            finished.append(tag)

        return run

    def fails(msg: str):
        def run():
            raise ValueError(msg)

        return run

    with pytest.raises(ValueError, match="first"):
        fan_out(spark, slow("x", 0.2), fails("first"), fails("second"), slow("y", 1.0))
    assert sorted(finished) == ["x", "y"]


def _jobs_in_group(sc, run) -> int:
    group = f"fan-out-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "fan-out probe")
    try:
        run(group)
    finally:
        _clear_group(sc)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_threads_carry_the_callers_job_group_and_description(spark):
    sc = spark.sparkContext

    def probe():
        return (
            sc.getLocalProperty("spark.jobGroup.id"),
            sc.getLocalProperty("spark.job.description"),
            spark.range(10).count(),
        )

    def in_threads(group):
        assert fan_out(spark, probe, probe) == [(group, "fan-out probe", 10)] * 2

    per_call = _jobs_in_group(sc, lambda group: probe())
    assert per_call > 0
    assert _jobs_in_group(sc, in_threads) == 2 * per_call

    # a plain thread starts outside the group: its jobs are not counted
    def in_plain_thread(group):
        t = threading.Thread(target=probe)
        t.start()
        t.join(60)
        assert not t.is_alive()

    assert _jobs_in_group(sc, in_plain_thread) == 0


def test_threads_do_not_share_local_properties(spark):
    """A property one thread sets (as Spark SQL sets each query's execution
    id) is seen neither by its sibling nor by the caller."""
    sc = spark.sparkContext
    key = "logstream.fan_out.probe"
    sc.setLocalProperty(key, "caller")
    set_by_a = threading.Event()

    def a():
        sc.setLocalProperty(key, "a")
        set_by_a.set()
        return sc.getLocalProperty(key)

    def b():
        set_by_a.wait(10)
        return sc.getLocalProperty(key)

    try:
        assert fan_out(spark, a, b) == ["a", "caller"]
        assert sc.getLocalProperty(key) == "caller"
    finally:
        sc.setLocalProperty(key, None)
