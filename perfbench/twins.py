"""``stream_twins``: the catalog's stream twins that read only ``events``.

Each twin drives a real Structured Streaming query (file source, state
store, checkpoint commits) over a deterministic micro-batch split of the
generated table. Set-up runs each twin once, cold; the timed loop then
runs the twins in a fixed order, one caller, each started after the
previous one finished, in whole rounds (at least two, or one of traced
pairs); the result is forced with a ``noop`` sink. Each twin's output is
checked against its catalog oracle in DuckDB.
"""

from __future__ import annotations

import statistics

import checks
from generator import Spec

# One twin per state mechanism: event-time windows with a watermark
# (state-store aggregation) and transformWithState dedup. The session,
# stream-join and denstream twins are left out to keep a run short.
TWINS = (
    "windowed_volume_stream_twin",
    "ddww_twin",
)
ROWS = 4_000
MIN_ROUNDS = 2  # the first timed round is still warming up


def spec() -> Spec:
    return Spec(rows=ROWS, row_group_rows=1_000, burst_buckets=(1_000, 3_000))


class StreamTwins:
    name = "stream_twins"

    def __init__(self, ctx) -> None:
        from logstream_processing_service_spark.catalog import all_specs

        self.ctx = ctx
        self.specs = {s.name: s for s in all_specs() if s.name in TWINS}
        self.next = 0
        self.last: str | None = None

    def setup(self, spark) -> None:
        for name in TWINS:  # warm-up: one cold run of each twin
            self._run(spark, name)

    def _run(self, spark, name: str):
        df = self.specs[name].fn(spark, self.ctx.data)
        df.write.format("noop").mode("overwrite").save()
        return df

    def op(self, spark, repeat: bool = False) -> dict:
        if not repeat:
            self.last = TWINS[self.next % len(TWINS)]
            self.next += 1
        df = self._run(spark, self.last)
        return {"twin": self.last, "df": df, "counters": {"sources.rows_kept": ROWS}}

    def typical(self, secs: list[float]) -> float:
        return statistics.geometric_mean(secs)

    def done(self, ops: list[dict]) -> bool:
        rounds = 1 if self.ctx.trace else MIN_ROUNDS
        return self.next >= rounds * len(TWINS) and self.next % len(TWINS) == 0

    def check(self, spark, ops: list[dict]) -> set[int]:
        con = checks.events_conn(self.ctx.data)
        bad = set()
        for i, op in enumerate(ops):
            r = op.get("result")
            if r is None:
                continue
            df, s = r.pop("df"), self.specs[r["twin"]]
            rows = [tuple(x) for x in df.collect()]
            if not checks.matches_oracle(con, s.oracle, df.columns, rows):
                bad.add(i)
        return bad
