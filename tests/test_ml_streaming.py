"""Tests for the non-oracle layers: ML (clustering, quality, embedding),
streaming (windowed volume, idempotent sink, stateful grouping), and
multimodal plumbing."""

from __future__ import annotations

import os
import re
import shutil

import pytest
pytestmark = pytest.mark.slow  # tiered run: see pytest.ini (r13 VERDICT #1)

from pyspark.sql import functions as F

from .conftest import SF_DIR


def _events(spark):
    from logstream_processing_service_spark.sources import load_table

    return load_table(spark, SF_DIR, "events")


def _emb(spark):
    from logstream_processing_service_spark.sources import load_table

    return load_table(spark, SF_DIR, "embeddings")


# --- ML ---------------------------------------------------------------------


def test_hash_featurizer_deterministic(spark):
    from logstream_processing_service_spark.ml.embedding import hash_featurizer
    from logstream_processing_service_spark.sources import load_table

    docs = load_table(spark, SF_DIR, "documents").limit(20)
    f = hash_featurizer(32)
    a = docs.select("doc_id", f(F.col("text")).alias("e")).collect()
    b = docs.select("doc_id", f(F.col("text")).alias("e")).collect()
    assert a == b
    assert all(len(r["e"]) == 32 for r in a)
    # unit norm (or zero for empty docs)
    import math

    for r in a:
        n = math.sqrt(sum(x * x for x in r["e"]))
        assert abs(n - 1.0) < 1e-5 or n == 0.0


def test_kmeans_assign_shapes(spark):
    from logstream_processing_service_spark.ml.clustering import train_and_assign

    out = train_and_assign(_emb(spark), k=5)
    rows = out.collect()
    assert len(rows) == _emb(spark).count()
    assert set(out.columns) == {"vec_id", "assigned_label", "dist"}
    assert {r["assigned_label"] for r in rows} <= set(range(5))


def test_homogeneity_perfect_and_random(spark):
    from logstream_processing_service_spark.ml.quality import (
        homogeneity_completeness,
    )

    emb = _emb(spark)
    # perfect: cluster == truth → h = c = v = 1
    perfect = emb.select(F.col("label").alias("truth"), F.col("label").alias("cluster"))
    r = homogeneity_completeness(perfect, "truth", "cluster").first()
    assert r["homogeneity"] == pytest.approx(1.0)
    assert r["completeness"] == pytest.approx(1.0)
    # single cluster: h = 0 (nothing separated), c = 1 (nothing split)
    single = emb.select(F.col("label").alias("truth"), F.lit(0).alias("cluster"))
    r2 = homogeneity_completeness(single, "truth", "cluster").first()
    assert r2["homogeneity"] == pytest.approx(0.0, abs=1e-9)
    assert r2["completeness"] == pytest.approx(1.0)


def test_silhouette_runs(spark):
    from logstream_processing_service_spark.ml.clustering import train_and_assign
    from logstream_processing_service_spark.ml.quality import silhouette

    emb = _emb(spark)
    assigned = train_and_assign(emb, k=5).join(emb, "vec_id")
    s = silhouette(assigned)
    assert -1.0 <= s <= 1.0


def test_isolation_forest_gated(spark):
    from logstream_processing_service_spark.ml.anomaly import (
        isolation_forest_scores,
    )
    from logstream_processing_service_spark.operators.relational import (
        batch_volume,
        volume_zscore,
    )

    feats = volume_zscore(batch_volume(_events(spark)))
    try:
        import sklearn  # noqa: F401

        has_sklearn = True
    except ImportError:
        has_sklearn = False
    if has_sklearn:
        out = isolation_forest_scores(feats)
        assert out.count() > 0
    else:
        with pytest.raises(NotImplementedError):
            isolation_forest_scores(feats)


# --- Streaming --------------------------------------------------------------


def test_streaming_windowed_volume_matches_batch(spark, tmp_path):
    from logstream_processing_service_spark.streaming.pipeline import (
        run_windowed_volume,
    )

    run_windowed_volume(spark, SF_DIR, str(tmp_path))
    # one flat <batch_id>.parquet per micro-batch (put_tagged), no partitions
    vol_dir = f"{tmp_path}/volume"
    names = os.listdir(vol_dir)
    assert names and all(
        n.endswith(".parquet") and os.path.isfile(os.path.join(vol_dir, n))
        for n in names
    )
    out = spark.read.parquet(vol_dir)
    batch = (
        _events(spark)
        .groupBy(F.date_trunc("hour", "ts").alias("hour"), "event_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    # append mode emits each window exactly ONCE, after the 2h watermark
    # closes it — so the sink must (a) contain no duplicate (hour, type)
    # keys and (b) match the batch aggregation on every closed window;
    # windows newer than max_ts - watermark are legitimately still open.
    rows = out.collect()
    got = {(r["hour"], r["event_type"]): r["cnt"] for r in rows}
    assert len(got) == len(rows), "append sink re-emitted a window"
    max_ts = _events(spark).agg(F.max("ts")).collect()[0][0]
    want = {
        (r["hour"], r["event_type"]): r["cnt"]
        for r in batch.collect()
        if (max_ts - r["hour"]).total_seconds() > 3 * 3600  # 2h mark + 1h window
    }
    # compare on wallclock (streaming window is tz-aware, batch ntz)
    got_n = {(str(k[0]).replace("+00:00", ""), k[1]): v for k, v in got.items()}
    want_n = {(str(k[0]), k[1]): v for k, v in want.items()}
    assert want_n.items() <= got_n.items()
    # and nothing in the sink disagrees with batch
    all_want = {
        (str(r["hour"]), r["event_type"]): r["cnt"] for r in batch.collect()
    }
    for k, v in got_n.items():
        assert all_want.get(k) == v, k


def test_streaming_scoring_replay(spark, tmp_path):
    from logstream_processing_service_spark.pipelines import run_training_batch
    from logstream_processing_service_spark.streaming.pipeline import (
        run_incremental_pipeline,
    )

    run_training_batch(spark, SF_DIR, str(tmp_path), limit=200, k=4)
    hist_dir = f"{tmp_path}/volume_history"
    trained = set(os.listdir(hist_dir))

    def state():
        emb = spark.read.parquet(f"{tmp_path}/log_embeddings")
        hist = spark.read.parquet(hist_dir).select("cluster_id", "batch_id", "log_count")
        inc = (
            spark.read.parquet(f"{tmp_path}/incidents").collect()
            if os.path.exists(f"{tmp_path}/incidents") else []
        )
        return (
            sorted(r["event_id"] for r in emb.select("event_id").collect()),
            sorted(map(tuple, hist.collect())),
            sorted(r["cluster_id"] for r in inc),
        )

    run_incremental_pipeline(spark, SF_DIR, str(tmp_path))
    emb_ids, hist_rows, incidents = state()
    assert emb_ids and len(set(emb_ids)) == len(emb_ids)
    # the scoring batch's flat layout: one <batch_id>.parquet per micro-batch
    names = set(os.listdir(hist_dir)) - trained
    assert names and all(
        re.fullmatch(r"\d+\.parquet", n) and os.path.isfile(os.path.join(hist_dir, n))
        for n in names
    )
    # anomaly cap: at most 3 incidents minted per micro-batch
    assert len(incidents) <= 3 * len(names)
    if incidents:
        inc = spark.read.parquet(f"{tmp_path}/incidents")
        assert inc.filter(F.col("status") != "NEW").count() == 0

    # a lost checkpoint replays every micro-batch: the sinks skip the keys
    # they hold, each batch replaces its own history file and finds its
    # incidents already open
    shutil.rmtree(f"{tmp_path}/_checkpoint")
    run_incremental_pipeline(spark, SF_DIR, str(tmp_path))
    assert state() == (emb_ids, hist_rows, incidents)


def test_stateful_semantic_grouping(spark, tmp_path):
    from logstream_processing_service_spark.ml.embedding import hash_featurizer
    from logstream_processing_service_spark.streaming.pipeline import (
        read_events_stream,
    )
    from logstream_processing_service_spark.streaming.state import (
        semantic_grouping_stream,
    )

    events = read_events_stream(spark, SF_DIR)
    embedded = events.select(
        "event_type",
        F.col("event_id").alias("row_id"),
        hash_featurizer(16)(F.col("props")).alias("embedding"),
    )
    out_q = (
        semantic_grouping_stream(embedded)
        .writeStream.format("memory")
        .queryName("semgrp")
        .outputMode("append")
        .option("checkpointLocation", f"{tmp_path}/_ckpt")
        .trigger(availableNow=True)
        .start()
    )
    out_q.awaitTermination()
    res = spark.sql("SELECT * FROM semgrp")
    n = res.count()
    assert n == _events(spark).count()
    # every row got a group; groups per key are minted deterministically
    assert res.filter(F.col("group_id").isNull()).count() == 0
    # assigned rows are within threshold of their centroid or are minters
    assert res.filter((F.col("dist") >= 0.35) & (F.col("dist") > 0)).count() == 0


def test_streaming_vs_batch_clustering_agreement(spark, tmp_path):
    """DenStream-divergence parity experiment (documented in
    ml/clustering.py): the reference clusters with an order-dependent
    online algorithm (ε 0.9, assign threshold 0.35); this engine replaces
    it with (a) streaming keyed online centroids (applyInPandasWithState,
    same 0.35 threshold) and (b) batch KMeans refit. This test runs BOTH
    on the same fixture stream and records their pairwise co-assignment
    agreement (Rand index), so the documented divergence has a number
    instead of a hand-wave. The floor is intentionally loose — the two
    algorithms are different by design; the metric is the deliverable.
    """
    import itertools
    import random

    from logstream_processing_service_spark.ml.clustering import train_and_assign
    from logstream_processing_service_spark.ml.embedding import hash_featurizer
    from logstream_processing_service_spark.streaming.pipeline import (
        read_events_stream,
    )
    from logstream_processing_service_spark.streaming.state import (
        semantic_grouping_stream,
    )

    feat = hash_featurizer(16)
    events = read_events_stream(spark, SF_DIR)
    embedded = events.select(
        "event_type",
        F.col("event_id").alias("row_id"),
        feat(F.col("props")).alias("embedding"),
    )
    q = (
        semantic_grouping_stream(embedded)
        .writeStream.format("memory")
        .queryName("semgrp_parity")
        .outputMode("append")
        .option("checkpointLocation", f"{tmp_path}/_ckpt_parity")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    stream_rows = {
        r["row_id"]: (r["key"], r["group_id"])
        for r in spark.sql("SELECT row_id, key, group_id FROM semgrp_parity").collect()
    }

    batch = _events(spark).select(
        F.col("event_id").alias("vec_id"), feat(F.col("props")).alias("embedding")
    )
    n_stream_groups = len(set(stream_rows.values()))
    # match k to the number of groups the online path minted — the fair
    # comparison is same-granularity clusterings, not 158-vs-10
    assigned = train_and_assign(batch, k=min(200, max(2, n_stream_groups)))
    batch_rows = {r["vec_id"]: r["assigned_label"] for r in assigned.collect()}

    ids = sorted(set(stream_rows) & set(batch_rows))
    assert len(ids) == len(stream_rows) == len(batch_rows)
    sample = random.Random(7).sample(ids, min(400, len(ids)))
    agree = total = 0
    for a, b in itertools.combinations(sample, 2):
        same_stream = stream_rows[a] == stream_rows[b]
        same_batch = batch_rows[a] == batch_rows[b]
        agree += same_stream == same_batch
        total += 1
    rand_index = agree / total
    print(f"\nstreaming-vs-batch clustering Rand index: {rand_index:.4f} "
          f"({n_stream_groups} stream groups, {len(ids)} rows)")
    # measured 0.9726 on the sf0.001 fixture (deterministic: seeded sample,
    # seeded KMeans, deterministic hash featurizer)
    assert rand_index > 0.9, rand_index


# --- Multimodal -------------------------------------------------------------


def test_multimodal_pipeline(spark):
    from logstream_processing_service_spark.operators.multimodal import (
        decode_media,
        media_feature_pipeline,
    )
    from logstream_processing_service_spark.sources import load_table

    docs = load_table(spark, SF_DIR, "documents").limit(50)
    out = media_feature_pipeline(docs)
    rows = out.collect()
    assert len(rows) == 50
    for r in rows:
        assert len(r["features"]) == 16
        assert abs(sum(r["features"]) - 1.0) < 1e-5
        assert r["n_bytes"] > 0
    # r4: PNG and baseline-JPEG decode are REAL — malformed bytes fail
    # loudly on both; MP4 stays the gated type (never fake)
    with pytest.raises(ValueError):
        decode_media(b"\x89PNG...", "image/png")
    with pytest.raises(ValueError):
        decode_media(b"\xff\xd8\xff", "image/jpeg")
    with pytest.raises(NotImplementedError):
        decode_media(b"\x00", "video/mp4")


class TestFeatureLayer:
    """M4/M5/M6: vectorization, standardization, one-hot (ml/features.py)."""

    def test_standardize_moments(self, spark, sf_dir):
        from logstream_processing_service_spark.ml.features import standardize
        from logstream_processing_service_spark.sources import load_table

        ev = load_table(spark, sf_dir, "events").select("event_id", "value")
        z = standardize(ev, ["value"])
        row = z.agg(
            F.round(F.avg("value_z"), 4).alias("mu"),
            F.round(F.stddev_pop("value_z"), 2).alias("sd"),
        ).first()
        assert abs(row["mu"]) < 1e-3
        assert abs(row["sd"] - 1.0) < 0.01

    def test_onehot_partitions_rows(self, spark, sf_dir):
        from logstream_processing_service_spark.ml.features import EVENT_TYPES, onehot
        from logstream_processing_service_spark.sources import load_table

        ev = load_table(spark, sf_dir, "events").select("event_id", "event_type")
        oh = onehot(ev, "event_type")
        # each row has exactly one hot bit (all sf categories are known)
        hot = sum(F.col(f"event_type_{c}") for c in EVENT_TYPES)
        assert oh.filter(hot != 1).count() == 0

    def test_mllib_feature_pipeline(self, spark, sf_dir):
        from logstream_processing_service_spark.ml.embedding import hash_featurizer
        from logstream_processing_service_spark.ml.features import fit_mllib_features
        from logstream_processing_service_spark.sources import load_table

        ev = (
            load_table(spark, sf_dir, "events")
            .limit(200)
            .withColumn("embedding", hash_featurizer(16)(F.col("props")))
        )
        model, work = fit_mllib_features(ev)
        out = model.transform(work)
        first = out.select("features").first()["features"]
        # 5 one-hot + 1 keep-bucket + 1 numeric + 16 embedding dims
        assert first.size == 5 + 1 + 1 + 16


def test_streaming_sessions_match_batch(spark, tmp_path):
    from logstream_processing_service_spark.operators.relational import sessionize
    from logstream_processing_service_spark.streaming.pipeline import (
        read_events_stream,
        session_volume,
    )

    q = (
        session_volume(read_events_stream(spark, SF_DIR))
        .writeStream.format("memory")
        .queryName("sessions")
        .outputMode("append")
        .option("checkpointLocation", f"{tmp_path}/_ckpt_sess")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # append mode only emits sessions SEALED by the final watermark
    # (max_ts - 2h); compare batch vs streaming on those, and require the
    # streaming output to be a subset of the batch sessions overall
    events = _events(spark)
    max_ts = events.agg(F.max("ts")).first()[0]
    import datetime

    cutoff = max_ts - datetime.timedelta(hours=2, minutes=30)
    want = sessionize(events)
    want_sealed = {
        (r["user_id"], str(r["session_start"])): r["n_events"]
        for r in want.filter(F.col("session_end") < F.lit(cutoff)).collect()
    }
    got_all = {
        (r["user_id"], str(r["session_start"]).replace("+00:00", "")): r["n_events"]
        for r in spark.sql("SELECT * FROM sessions").collect()
    }
    missing = {k: v for k, v in want_sealed.items() if got_all.get(k) != v}
    assert missing == {}
    # nothing emitted that batch doesn't know about
    want_all = {
        (r["user_id"], str(r["session_start"])): r["n_events"] for r in want.collect()
    }
    extra = {k: v for k, v in got_all.items() if want_all.get(k) != v}
    assert extra == {}


def test_multimodal_resize_and_frames(spark):
    from logstream_processing_service_spark.operators.multimodal import (
        frame_sample,
        resize_media,
        with_binary_payload,
    )
    from logstream_processing_service_spark.sources import load_table

    media = with_binary_payload(load_table(spark, SF_DIR, "documents").limit(30))
    resized = resize_media(media, width=8, height=8)
    rows = resized.collect()
    assert len(rows) == 30
    assert all(len(r["payload"]) == 64 for r in rows)
    frames = frame_sample(media, every_n_bytes=64, max_frames=4)
    fr = frames.collect()
    assert len(fr) > 30  # rows explode
    per_doc = {}
    for r in fr:
        per_doc.setdefault(r["doc_id"], []).append(r["frame_idx"])
    assert all(sorted(v) == list(range(len(v))) and len(v) <= 4 for v in per_doc.values())


def test_viz_prep_and_gate(spark):
    from logstream_processing_service_spark.ml.visualize import (
        purity_heatmap_data,
        tsne_projection,
    )

    emb = _emb(spark).withColumn("cluster", F.col("vec_id") % 7)
    prep = purity_heatmap_data(emb, "label", "cluster", top_k=5)
    rows = prep.collect()
    assert len(rows) > 0
    assert {r["cluster"] for r in rows} <= set(range(7))
    # M13 is no longer sklearn-gated: the native exact t-SNE (ml/tsne.py)
    # projects the sample on either path; deep coverage in tests/test_tsne.py
    Y = tsne_projection(emb, sample=60)
    assert Y.shape[1] == 2 and len(Y) > 0


def test_streaming_count_windows(spark, tmp_path):
    from logstream_processing_service_spark.streaming.pipeline import (
        read_events_stream,
    )
    from logstream_processing_service_spark.streaming.state import (
        count_window_stream,
    )

    events = read_events_stream(spark, SF_DIR).select(
        "event_type", F.col("event_id").alias("row_id")
    )
    q = (
        count_window_stream(events, window_size=50)
        .writeStream.format("memory")
        .queryName("cntwin")
        .outputMode("append")
        .option("checkpointLocation", f"{tmp_path}/_ckpt_cw")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.sql("SELECT * FROM cntwin").collect()
    assert len(got) > 0
    # every completed window holds exactly 50 events, windows are
    # consecutive per key, and boundaries match the batch rank computation
    from pyspark.sql import Window as W

    batch = (
        _events(spark)
        .select("event_type", F.col("event_id").alias("row_id"))
        .withColumn(
            "rnk",
            F.row_number().over(
                W.partitionBy("event_type").orderBy("row_id")
            ),
        )
        .withColumn("window_idx", F.floor((F.col("rnk") - 1) / 50))
        .groupBy("event_type", "window_idx")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("row_id").alias("first_id"),
            F.max("row_id").alias("last_id"),
        )
        .filter(F.col("n") == 50)
    )
    want = {
        (r["event_type"], r["window_idx"]): (r["first_id"], r["last_id"])
        for r in batch.collect()
    }
    got_m = {
        (r["key"], r["window_idx"]): (r["first_id"], r["last_id"]) for r in got
    }
    assert got_m == want


def test_streaming_dedup_with_watermark(spark, tmp_path):
    from logstream_processing_service_spark.streaming.pipeline import (
        deduped_stream,
        read_events_stream,
    )

    # duplicate the stream by unioning it with itself: dedup must collapse
    # every event back to one occurrence
    ev = read_events_stream(spark, SF_DIR)
    doubled = ev.union(ev)
    q = (
        deduped_stream(doubled)
        .writeStream.format("memory")
        .queryName("dedup_stream")
        .outputMode("append")
        .option("checkpointLocation", f"{tmp_path}/_ckpt_dd")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.sql("SELECT count(*) AS n, count(DISTINCT event_id) AS d FROM dedup_stream").first()
    assert got["n"] == got["d"]
    assert got["n"] == _events(spark).count()


def test_decay_step_math():
    from logstream_processing_service_spark.streaming.state import decay_step

    # first batch: no decay, weight = arrivals
    assert decay_step(0.0, None, 10_000_000, 7) == 7.0
    # one half-life later (2^(-λ·Δt) with λ=0.0005 → half-life 2000 s)
    w = decay_step(8.0, 0, 2_000_000_000, 0)
    assert abs(w - 4.0) < 1e-9
    # decay then add
    w = decay_step(8.0, 0, 2_000_000_000, 3)
    assert abs(w - 7.0) < 1e-9
    # clock never goes backwards: same-timestamp batch does not decay
    assert decay_step(5.0, 100, 100, 2) == 7.0


def test_streaming_decayed_volume_transform_with_state(spark, tmp_path):
    from logstream_processing_service_spark.streaming.pipeline import (
        read_events_stream,
    )
    from logstream_processing_service_spark.streaming.state import (
        decayed_volume_stream,
    )

    events = read_events_stream(spark, SF_DIR).select(
        "event_type", F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us")
    )
    q = (
        decayed_volume_stream(events)
        .writeStream.format("memory")
        .queryName("decayvol")
        .outputMode("append")
        .option("checkpointLocation", f"{tmp_path}/_ckpt_dv")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.sql(
        "SELECT key, max(decayed_volume) AS w, sum(n_batch) AS n "
        "FROM decayvol GROUP BY key"
    ).collect()
    want = {
        r["event_type"]: r["n"]
        for r in _events(spark).groupBy("event_type").count().withColumnRenamed("count", "n").collect()
    }
    assert {r["key"] for r in got} == set(want)
    for r in got:
        # every arrival entered the state exactly once...
        assert r["n"] == want[r["key"]]
        # ...and the fading weight can never exceed the raw arrival count
        assert 0.0 < r["w"] <= r["n"] + 1e-9


def test_stream_stream_interval_join_matches_batch(spark, tmp_path):
    from logstream_processing_service_spark.streaming.pipeline import (
        correlated_pairs_stream,
        read_events_stream,
    )

    q = (
        correlated_pairs_stream(read_events_stream(spark, SF_DIR))
        .writeStream.format("memory")
        .queryName("sspairs")
        .outputMode("append")
        .option("checkpointLocation", f"{tmp_path}/_ckpt_ss")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.sql("SELECT count(*) AS n FROM sspairs").first()["n"]

    ev = _events(spark)
    left = ev.filter("event_type = 'signup'").selectExpr(
        "user_id AS l_user", "event_id AS l_event_id", "ts AS l_ts"
    )
    right = ev.filter("event_type = 'error'").selectExpr(
        "user_id AS r_user", "event_id AS r_event_id", "ts AS r_ts"
    )
    want = left.join(
        right,
        (F.col("l_user") == F.col("r_user"))
        & (F.col("l_ts") <= F.col("r_ts"))
        & (F.col("l_ts") >= F.col("r_ts") - F.expr("INTERVAL 3600 SECONDS")),
    ).count()
    assert got == want > 0


def test_run_deterministic_batches_empty_output_is_materialized(spark, monkeypatch):
    """ADVICE r5: a transform that emits zero rows must return a frame
    that survives the harness's temp-dir cleanup (the old lazy
    `.limit(0)` over the deleted capture dir failed on any later
    action). No slices at all is an error: there is no stream schema."""
    from pyspark.sql import functions as F

    from logstream_processing_service_spark.streaming import drive
    from logstream_processing_service_spark.streaming.drive import (
        run_deterministic_batches,
    )

    schema = "k string, v long"
    slices = [
        spark.createDataFrame([("a", 1), ("b", 2)], schema),
        spark.createDataFrame([("c", 3)], schema),
    ]
    captured = run_deterministic_batches(
        spark,
        slices,
        lambda s: s.filter(F.col("v") > 100),  # filters everything out
        output_mode="append",
    )
    # any action after return must work — the frame is local, not a scan
    assert captured.count() == 0
    assert set(captured.columns) == {"k", "v", "_batch"}

    made = []
    monkeypatch.setattr(drive, "scratch_dir", made.append)
    with pytest.raises(ValueError):
        run_deterministic_batches(spark, [], lambda s: s, output_mode="append")
    assert not made  # raised before any scratch dir was made
