"""In-memory spans around calls into the program's layers.

The traced run wraps public layer functions by patching module attributes
from the benchmark (the program is not edited). Each span records a name,
start, end and parent, and gets its own Spark job group so the event log
ties jobs to the span that submitted them.
"""

from __future__ import annotations

import functools
import time
from contextlib import contextmanager


def group_id(span_id: int) -> str:
    return f"perfbench-span-{span_id}"


class Tracer:
    def __init__(self, sc) -> None:
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.enabled = False

    def _set_group(self, span_id: int | None, name: str = "") -> None:
        if span_id is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(group_id(span_id), name)

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        rec = {"id": len(self.spans), "name": name, "parent": parent,
               "start": time.time(), "end": None}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        self._set_group(rec["id"], name)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self._set_group(parent, self.spans[parent]["name"] if parent is not None else "")

    def wrap(self, owner: object, attr: str, name: str) -> None:
        """Replace ``owner.attr`` by a wrapper that runs it inside a span."""
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        setattr(owner, attr, traced)


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> duration minus the part of its interval that its direct
    children cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {
        s["id"]: (s["end"] - s["start"])
        - covered(children.get(s["id"], []), s["start"], s["end"])
        for s in spans
    }


def descendants(spans: list[dict], root: int) -> set[int]:
    """``root`` and every span below it (spans are in start order)."""
    out = {root}
    for s in spans:
        if s["parent"] in out:
            out.add(s["id"])
    return out
