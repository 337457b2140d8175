"""Windowed drift monitoring maintained incrementally off the txlog —
the production form of ``analytics.drift_report`` (VERDICT r5 #4).

``drift_report`` is a one-shot gate: split the stream at its midpoint,
compare halves. A deployed monitor instead asks, EVERY day, "did this
week's distribution drift from last week's?" — and at 100 TB it cannot
rescan history per question. This module keeps the answer O(delta):

- The ONLY table-scale state is a materialized view at
  ``(event_type, day, bin)`` grain (operators/matview.py): mergeable
  counts + decimal value sums, refreshed from just the files each txlog
  commit added. For D days, T types, B bins that is D·T·B rows — KB
  scale regardless of fact-table size.
- The report derives per-anchor-day sliding-week PSI / binned-KS /
  mean-shift from the view alone: a few joins over a KB-sized frame.
  Every heavy-scan concern (pushdown, shuffle, skew) lives in the view
  refresh, which is one partial aggregate per delta.

Design constraint that falls out of incrementality: the bin grid must
be FIXED a priori (``DriftGrid.lo / hi / bins``). ``drift_report`` fits
its bins to the observed global min/max — fine for a one-shot, but an
incremental view can never re-bin history when a new extremum arrives.
Out-of-range values clamp to the edge bins (so the grid degrades, never
breaks); pick the grid from domain knowledge, as production monitors do
(reference tie: src/ml/volume_analyzer.py:27-73 fixes its
rolling-window parameters up front for the same reason).

KS here is the BINNED statistic (max ECDF gap evaluated on the grid
boundaries), the standard monitoring approximation — exact KS needs
per-value state, which is what the one-shot ``drift_report`` provides
and what its docstring's KLL swap covers at scale.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from . import txlog as TX
from .matview import ViewSpec, refresh_matview


@dataclass(frozen=True)
class DriftGrid:
    lo: float
    hi: float
    bins: int = 20
    window_days: int = 7

    @property
    def width(self) -> float:
        return (self.hi - self.lo) / float(self.bins)


def drift_view_spec() -> ViewSpec:
    """The matview spec backing the monitor: count + decimal value sum
    per (event_type, day, bin)."""
    return ViewSpec(
        group_cols=("event_type", "day", "bin"), sum_cols=("v",)
    )


def prepare_drift_rows(events: DataFrame, grid: DriftGrid) -> DataFrame:
    """Project raw events to the view's input grain. Runs inside the
    commit path (before txlog append), so the view's partial aggregate
    sees pre-binned rows — one narrow projection, no shuffle."""
    v = F.col("value").cast("double")
    raw_bin = F.floor((v - F.lit(grid.lo)) / F.lit(grid.width)).cast("int")
    return events.select(
        "event_type",
        F.date_trunc("day", F.col("ts").cast("timestamp")).alias("day"),
        F.least(
            F.greatest(raw_bin, F.lit(0)), F.lit(grid.bins - 1)
        ).alias("bin"),
        v.alias("v"),
    )


def refresh_drift_view(
    spark: SparkSession, view_dir: str, table_dir: str
) -> dict:
    """Advance the drift view to the base table's latest snapshot —
    O(files added since last refresh). The base table stores the
    OUTPUT of prepare_drift_rows."""
    return refresh_matview(spark, view_dir, table_dir, drift_view_spec())


def windowed_drift(
    spark: SparkSession, view_dir: str, grid: DriftGrid
) -> DataFrame:
    """Serve the monitor: for every anchor day d in the view, compare
    the trailing week (d-6..d, CURRENT) against the week before
    (d-13..d-7, REFERENCE) per event_type — PSI (Laplace-smoothed, as
    drift_report), binned KS, decimal-exact mean shift. Anchors where
    either window is empty for a type are omitted.

    Everything below runs on the D·T·B-row view: the cross joins and
    range joins are deliberate and KB-sized (anchors × types × bins is
    the REPORT's cardinality, not the data's)."""
    W = grid.window_days
    view = TX.read_snapshot(spark, view_dir).select(
        "event_type", "day", "bin", "cnt", F.col("sum_v").alias("s")
    )
    anchors = view.select(F.col("day").alias("d")).distinct()
    types = view.select("event_type").distinct()
    bins = spark.range(grid.bins).select(F.col("id").cast("int").alias("bin"))

    def window_agg(lo_off: int, hi_off: int, tag: str) -> DataFrame:
        cond = (
            F.col("day")
            >= F.col("d") - F.expr(f"INTERVAL {lo_off} DAY")
        ) & (F.col("day") <= F.col("d") - F.expr(f"INTERVAL {hi_off} DAY"))
        return (
            anchors.join(view, cond)
            .groupBy("d", "event_type", "bin")
            .agg(
                F.sum("cnt").alias(f"n_{tag}_bin"),
                F.sum("s").alias(f"s_{tag}_bin"),
            )
        )

    cur = window_agg(W - 1, 0, "cur")
    ref = window_agg(2 * W - 1, W, "ref")
    dense = anchors.crossJoin(types).crossJoin(bins)
    j = (
        dense.join(cur, ["d", "event_type", "bin"], "left")
        .join(ref, ["d", "event_type", "bin"], "left")
        .select(
            "d",
            "event_type",
            "bin",
            F.coalesce("n_cur_bin", F.lit(0)).alias("n_cur_bin"),
            F.coalesce("n_ref_bin", F.lit(0)).alias("n_ref_bin"),
            F.coalesce("s_cur_bin", F.lit(0).cast("decimal(27,6)")).alias(
                "s_cur_bin"
            ),
            F.coalesce("s_ref_bin", F.lit(0).cast("decimal(27,6)")).alias(
                "s_ref_bin"
            ),
        )
    )
    tot = j.groupBy("d", "event_type").agg(
        F.sum("n_cur_bin").alias("n_cur"),
        F.sum("n_ref_bin").alias("n_ref"),
        F.sum("s_cur_bin").alias("s_cur"),
        F.sum("s_ref_bin").alias("s_ref"),
    )
    jt = j.join(tot, ["d", "event_type"]).filter(
        (F.col("n_cur") > 0) & (F.col("n_ref") > 0)
    )
    b = float(grid.bins)
    p_cur = (F.col("n_cur_bin") + F.lit(0.5)) / (F.col("n_cur") + F.lit(0.5 * b))
    p_ref = (F.col("n_ref_bin") + F.lit(0.5)) / (F.col("n_ref") + F.lit(0.5 * b))
    psi = jt.groupBy("d", "event_type").agg(
        F.round(F.sum((p_cur - p_ref) * F.log(p_cur / p_ref)), 6).alias("psi")
    )
    w = Window.partitionBy("d", "event_type").orderBy("bin")
    ks = (
        jt.withColumn(
            "gap",
            F.abs(
                F.sum("n_cur_bin").over(w).cast("double") / F.col("n_cur")
                - F.sum("n_ref_bin").over(w).cast("double") / F.col("n_ref")
            ),
        )
        .groupBy("d", "event_type")
        .agg(F.round(F.max("gap"), 6).alias("ks_stat"))
    )
    return (
        tot.filter((F.col("n_cur") > 0) & (F.col("n_ref") > 0))
        .join(psi, ["d", "event_type"])
        .join(ks, ["d", "event_type"])
        .select(
            F.col("d").alias("day"),
            "event_type",
            F.col("n_ref").cast("bigint").alias("n_ref"),
            F.col("n_cur").cast("bigint").alias("n_cur"),
            "psi",
            "ks_stat",
            F.round(
                F.col("s_cur").cast("double") / F.col("n_cur")
                - F.col("s_ref").cast("double") / F.col("n_ref"),
                6,
            ).alias("mean_shift"),
        )
        .orderBy("day", "event_type")
    )
