"""Misra-Gries frequent-items: bounds + coverage vs exact counts.

The MG invariants hold for ANY stream order and partitioning:
  * est_lower ≤ true count ≤ est_upper for every reported item
  * any item with true count > N/(k+1) appears in the summary
Both are asserted against exact word counts; a planted boilerplate
corpus checks the hot item surfaces with tight bounds.
"""

from __future__ import annotations

import pyspark.sql.functions as F

from logstream_processing_service_spark.functions import text as T
from logstream_processing_service_spark.operators import sketches as SK
from logstream_processing_service_spark.sources import load_table


def _exact_counts(docs):
    return {
        r["word"]: r["n"]
        for r in docs.select(F.explode(T.words(F.col("text"))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }


def test_mg_bounds_and_coverage_real_corpus(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    k = 64
    got = {
        r["item"]: (r["est_lower"], r["est_upper"])
        for r in SK.heavy_hitter_words(docs, k=k).collect()
    }
    exact = _exact_counts(docs)
    n_stream = sum(exact.values())
    for item, (lo, hi) in got.items():
        assert lo <= exact[item] <= hi, (item, lo, exact[item], hi)
    # coverage guarantee: share > 1/(k+1) ⇒ the merged summary holds it.
    # (top-k display truncation cannot drop one: its merged lower bound
    # beats any non-frequent item's upper bound for k·P ≪ N/(k+1))
    must_have = {w for w, n in exact.items() if n > n_stream / (k + 1)}
    assert must_have <= set(got), must_have - set(got)


def test_mg_planted_boilerplate(spark):
    rows = [(i, "cookie banner accept terms " + f"unique{i} filler{i}") for i in range(400)]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = {r["item"]: r for r in SK.heavy_hitter_words(docs, k=8).collect()}
    for w in ("cookie", "banner", "accept", "terms"):
        assert w in out
        assert out[w]["est_lower"] <= 400 <= out[w]["est_upper"]


def test_mg_partials_bounded_size(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(F.explode(T.words(F.col("text"))).alias("word"))
    n_parts = words.rdd.getNumPartitions()
    partials = SK.mg_partials(words, "word", k=32)
    # ≤ k item rows + 1 error row per partition — the shuffle stays KB-sized
    assert partials.count() <= (32 + 1) * n_parts


def test_cm_sketch_bound_and_merge(spark):
    """Count-min guarantees: (a) NEVER undercounts; (b) overcount is
    <= eps*N (eps = e/width) for >= (1-delta) of items (delta =
    e^-depth); (c) merging per-day sketches == building one sketch over
    the union (counter matrices add element-wise)."""
    import math

    from pyspark.sql import functions as F

    from logstream_processing_service_spark.operators.sketches import (
        CM_DEPTH,
        CM_WIDTH,
        cm_daily_registry,
        cm_estimate,
        cm_merge,
    )

    # planted zipf-ish stream over 2 days: item i appears 500//(i+1)
    # times on each day
    rows = []
    for day in ("2024-01-01", "2024-01-02"):
        for i in range(200):
            rows += [("a", f"{day} 12:00:00", i)] * (500 // (i + 1))
    ev = spark.createDataFrame(
        rows, "event_type string, ts string, user_id long"
    ).withColumn("ts", F.col("ts").cast("timestamp"))

    reg = cm_daily_registry(ev)
    merged = cm_merge(reg)
    items = ev.select(
        F.col("event_type").alias("key"),
        F.col("user_id").cast("string").alias("item"),
    ).distinct()
    est = {
        (r["key"], r["item"]): r["cm_est"]
        for r in cm_estimate(merged, items).collect()
    }
    exact = {
        (r["key"], r["item"]): r["n"]
        for r in ev.groupBy(
            F.col("event_type").alias("key"),
            F.col("user_id").cast("string").alias("item"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    n_total = sum(exact.values())
    eps = math.e / CM_WIDTH
    delta = math.exp(-CM_DEPTH)
    over = []
    for k, true in exact.items():
        assert est[k] >= true, (k, est[k], true)  # never undercounts
        over.append(est[k] - true)
    frac_ok = sum(o <= eps * n_total for o in over) / len(over)
    assert frac_ok >= 1 - delta, (frac_ok, 1 - delta)

    # merge == single build over the union
    one = cm_merge(
        cm_daily_registry(ev.withColumn("ts", F.lit("2024-01-01 00:00:00").cast("timestamp")))
    )
    a = sorted(tuple(r) for r in merged.collect())
    b = sorted(tuple(r) for r in one.collect())
    assert a == b


def test_cm_registry_incremental_refresh_parity(spark, tmp_path, sf_dir):
    """The CM registry maintained O(delta) through the txlog+matview
    machinery (3 incremental refreshes) equals the one-shot
    cm_daily_registry over the union — counters are counts, so the
    mergeable-aggregate contract applies verbatim."""
    from pyspark.sql import functions as F

    from logstream_processing_service_spark.operators import txlog as TX
    from logstream_processing_service_spark.operators.matview import (
        refresh_matview,
    )
    from logstream_processing_service_spark.operators.sketches import (
        cm_daily_registry,
        cm_view_spec,
        prepare_cm_rows,
    )
    from logstream_processing_service_spark.sources import load_table

    ev = load_table(spark, sf_dir, "events")
    tdir, vdir = str(tmp_path / "t"), str(tmp_path / "v")
    for b in range(3):
        TX.commit(
            tdir,
            prepare_cm_rows(ev.filter(F.col("event_id") % 3 == b)),
            mode="append" if b else "overwrite",
        )
        info = refresh_matview(spark, vdir, tdir, cm_view_spec())
        if b > 0:
            assert info["mode"] == "incremental", info
    got = sorted(
        (r["key"], str(r["day"]), r["r"], r["c"], int(r["cnt"]))
        for r in TX.read_snapshot(spark, vdir).collect()
    )
    want = sorted(
        (r["key"], str(r["day"]), r["r"], r["c"], int(r["cnt"]))
        for r in cm_daily_registry(ev).collect()
    )
    assert got == want and len(got) > 0


def test_windowed_heavy_hitters_bounds_and_emergence(spark):
    """Sliding-week frequent items from the daily MG registry: the
    bounds contain exact window counts, and an actor heavy ONLY in the
    second week emerges exactly for anchors whose window covers it."""
    from pyspark.sql import functions as F

    from logstream_processing_service_spark.operators.sketches import (
        mg_daily_registry,
        windowed_heavy_hitters,
    )

    rows = []
    for day in range(14):
        date = f"2024-05-{day + 1:02d} 12:00:00"
        for i in range(30):            # background noise actors
            rows.append((date, 1000 + (day * 31 + i * 7) % 97))
        rows.append((date, 1))         # always-heavy actor: 50/day
        rows += [(date, 1)] * 49
        if day >= 7:
            rows += [(date, 2)] * 80   # emerges in week 2 only
    ev = spark.createDataFrame(rows, "ts string, user_id long").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    reg = mg_daily_registry(ev, k=32)
    out = windowed_heavy_hitters(reg, window_days=7, top_k=5)
    by_anchor = {}
    for r in out.collect():
        by_anchor.setdefault(r["day"].day, {})[r["item"]] = r

    # anchor day 7 (window 1..7): actor 1 on top, actor 2 absent
    assert "1" in by_anchor[7] and by_anchor[7]["1"]["rank"] == 1
    assert "2" not in by_anchor[7]
    # anchor day 14 (window 8..14): actor 2 overtakes actor 1
    assert by_anchor[14]["2"]["rank"] == 1
    # bounds contain the exact window counts
    assert by_anchor[14]["2"]["est_lower"] <= 7 * 80 <= by_anchor[14]["2"]["est_upper"]
    assert by_anchor[7]["1"]["est_lower"] <= 7 * 50 <= by_anchor[7]["1"]["est_upper"]
