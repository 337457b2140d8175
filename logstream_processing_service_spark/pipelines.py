"""End-to-end pipelines: the reference's three entry points as thin
drivers over the operator layers (SURVEY §3, §7 step 5).

Reference entry points:
- ``scripts/run_training_batch.py:76-257``  → :func:`run_training_batch`
- ``scripts/run_incremental_batch.py:28-112`` → :func:`run_incremental_batch`
- ``scripts/validate_quality.py:59-112``    → :func:`run_quality_validation`

Each reference step keeps its SURVEY §2 operator id in comments so the
mapping is auditable. The reference's per-row loops become one declarative
plan per stage; its per-row DB transactions become set-oriented parquet
upserts; its pickled model state becomes a versioned parquet model store
with the same blue/green promote semantics (T8,
run_training_batch.py:243-257).

Table mapping (TESTDATA ``events`` plays the reference's ``logs``):
log_id→event_id, level→event_type (interesting levels = error/signup),
message+parsed_data→props, cluster_id→assigned cluster label.
"""

from __future__ import annotations

import datetime
import json
import os
import shutil
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, FloatType

from .ml.clustering import CENTROIDS_DDL, fit_kmeans_centroids
from .ml.embedding import hash_featurizer
from .operators import relational as R
from .operators.similarity import assign_nearest_centroid
from .session import fan_out
from .sources import load_table
from .sources.tables import (
    append_rows,
    put_tagged,
    read_parquet_or_empty,
    unseen_rows,
    upsert_parquet,
)

CENTROID_THRESHOLD = 0.35  # src/ml/vector_engine.py:8
EMBED_DIM = 64  # test stand-in for the 384-dim MiniLM space


def compose_text(df: DataFrame) -> DataFrame:
    """F3: the reference's '{message}. Parsed: {parsed_data}' template
    (scripts/run_incremental_batch.py:77)."""
    return df.withColumn(
        "text",
        F.format_string(
            "%s. Parsed: %s", F.col("event_type"), F.coalesce("props", F.lit(""))
        ),
    )


def embed_events(df: DataFrame, dim: int = EMBED_DIM) -> DataFrame:
    """M1/M2: embedding column via Arrow-batched pandas_udf."""
    return compose_text(df).withColumn("embedding", hash_featurizer(dim)(F.col("text")))


# ---------------------------------------------------------------------------
# Model store: S10 persistence + T8 blue/green promote
# ---------------------------------------------------------------------------


class ModelStore:
    """Versioned model state on parquet with atomic blue/green promotion.

    Reference: joblib pickles under ``scripts/models/{staging,production}``
    with an ``os.rename`` swap + backup (run_training_batch.py:30-36,
    243-257; src/ml/model.py:18-46). Same layout here; the artifacts are
    parquet tables (centroids) + a JSON manifest instead of pickles, so
    they are readable by any Spark cluster, not one Python process.
    """

    def __init__(self, root: str) -> None:
        self.root = root
        self.staging = os.path.join(root, "staging")
        self.production = os.path.join(root, "production")
        self.backup = os.path.join(root, "backup")

    def save_centroids(self, centroids: DataFrame, stage: bool = True) -> None:
        target = self.staging if stage else self.production
        centroids.write.mode("overwrite").parquet(os.path.join(target, "centroids"))

    def save_manifest(self, meta: dict, stage: bool = True) -> None:
        target = self.staging if stage else self.production
        os.makedirs(target, exist_ok=True)
        with open(os.path.join(target, "manifest.json"), "w") as fh:
            json.dump({**meta, "saved_at": time.time()}, fh)

    def load_centroids(self, spark: SparkSession) -> DataFrame:
        return spark.read.schema(CENTROIDS_DDL).parquet(
            os.path.join(self.production, "centroids")
        )

    def load_manifest(self) -> dict:
        with open(os.path.join(self.production, "manifest.json")) as fh:
            return json.load(fh)

    def promote(self) -> None:
        """Atomic blue/green swap: production→backup, staging→production
        (run_training_batch.py:243-257)."""
        if os.path.exists(self.production):
            if os.path.exists(self.backup):
                shutil.rmtree(self.backup)
            os.rename(self.production, self.backup)
        os.rename(self.staging, self.production)


# ---------------------------------------------------------------------------
# CSV staging: S4 (append sink) / S5 (scan) / F6 (array<->json round trip)
# ---------------------------------------------------------------------------


def stage_to_csv(df: DataFrame, path: str) -> None:
    """Crash-safe staging buffer (run_training_batch.py:109-152). The
    embedding array is JSON-encoded per the reference's CSV serialization
    (run_training_batch.py:143-145, F6)."""
    df.select(
        "event_id",
        "event_type",
        "text",
        F.to_json("embedding").alias("embedding_json"),
    ).write.mode("overwrite").option("header", True).csv(path)


def read_staged_csv(spark: SparkSession, path: str) -> DataFrame:
    """S5 + F6 decode (run_training_batch.py:156, 163)."""
    df = spark.read.option("header", True).csv(
        path, schema="event_id bigint, event_type string, text string, embedding_json string"
    )
    return df.withColumn(
        "embedding", F.from_json("embedding_json", ArrayType(FloatType()))
    ).drop("embedding_json")


def write_commit_marker(work_dir: str, record: dict) -> None:
    """S9: replace ``batch_status.json`` atomically. The record goes to a
    temp file in the same directory first, so a crash mid-write leaves the
    previous marker intact."""
    path = os.path.join(work_dir, "batch_status.json")
    tmp = path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(record, fh)
        fh.flush()
        os.fsync(fh.fileno())
    os.replace(tmp, path)


# ---------------------------------------------------------------------------
# Entry point 1: training batch (SURVEY §3.2)
# ---------------------------------------------------------------------------


def run_training_batch(
    spark: SparkSession,
    sf_dir: str,
    work_dir: str,
    limit: int = 5000,
    k: int = 8,
    dim: int = EMBED_DIM,
) -> dict:
    """Initial training: scan → embed → fit → assign → bulk load → patterns
    → volume history → promote model (run_training_batch.py:76-257).

    The reference's sequential learn_one loop (:121-150) becomes fit (one
    distributed KMeans) + transform (one broadcast nearest-centroid pass);
    its CSV buffer + bulk txn (:109-191) stays as a real CSV staging hop to
    exercise S4/S5, then one set-oriented upsert.
    """
    store = ModelStore(os.path.join(work_dir, "models"))

    # Scan: P3 filter + O1 order + O2 limit (run_training_batch.py:87)
    events = load_table(spark, sf_dir, "events")
    batch = (
        events.filter(F.col("event_type").isin(*R.INTERESTING_TYPES))
        .orderBy("event_id")
        .limit(limit)
    )

    # M1/M2 embed → S4 CSV staging → S5 read-back (crash-safe buffer)
    staged_path = os.path.join(work_dir, "staging_csv")
    stage_to_csv(embed_events(batch, dim), staged_path)
    staged = read_staged_csv(spark, staged_path)

    # M7 fit: distributed KMeans refit as the global-clustering path;
    # ml/denstream.py provides the reference's actual fading-micro-cluster
    # algorithm (per-key applyInPandas / applyInPandasWithState)
    centroids = fit_kmeans_centroids(staged, k=k)

    # score path: broadcast nearest-centroid (M3 batch form); S6/S7 bulk
    # load: embeddings + assignments in ONE set-oriented upsert
    emb_table = (
        assign_nearest_centroid(staged, centroids, threshold=None)
        .drop("dist")
        .withColumnRenamed("assigned_label", "cluster_id")
    )
    upsert_parquet(spark, emb_table, os.path.join(work_dir, "log_embeddings"))

    # J1/A2 pattern mining over the clustered slice (run_training_batch.py:211)
    clustered = emb_table.select(
        "event_id", F.col("cluster_id").alias("user_id"), "event_type",
        F.col("text").alias("props"), F.lit(None).cast("timestamp_ntz").alias("ts"),
    )
    patterns = R.mine_patterns(clustered)
    patterns.write.mode("overwrite").parquet(os.path.join(work_dir, "log_patterns"))

    # A4/F5 volume history (run_training_batch.py:213-241)
    volume = R.batch_volume(clustered.select("user_id", "event_id"))
    volume.write.mode("overwrite").parquet(os.path.join(work_dir, "volume_history"))

    # S10 persist to staging + T8 blue/green promote
    store.save_centroids(centroids, stage=True)
    store.save_manifest({"k": k, "dim": dim, "trained_on": limit}, stage=True)
    store.promote()

    # materialize counts BEFORE dropping the CSV buffer (their plans read it)
    n_trained, n_patterns = staged.count(), patterns.count()
    shutil.rmtree(staged_path)  # run_training_batch.py:194

    return {
        "trained": n_trained,
        "clusters": k,
        "patterns": n_patterns,
        "model_dir": store.production,
    }


# ---------------------------------------------------------------------------
# Entry point 2: incremental scoring batch (SURVEY §3.1)
# ---------------------------------------------------------------------------


def anomaly_pass(
    spark: SparkSession, volume: DataFrame, work_dir: str, batch_tag: str
) -> int:
    """The anomaly pass of the scoring batch and the stream
    (incident_ops.py:44-105): history write → W1-W5 features → M10 flag →
    J2 incident upsert split → insert append. Returns the incidents opened.
    ``volume`` replaces the history file tagged ``batch_tag``
    (``put_tagged``), so a replayed batch leaves the history as it was and
    finds the clusters it flags already open. The history (one row per
    cluster per 100-id virtual batch: 508 at the end of a traced
    ``score_microbatch`` run, read whole until a bounded tail lands) and
    the incidents are small, so each is read as one partition, which meets
    every window's and the distinct's distribution: nothing is shuffled."""
    hist_path = os.path.join(work_dir, "volume_history")
    put_tagged(volume, hist_path, batch_tag)
    history = spark.read.schema(volume.schema).parquet(hist_path).coalesce(1)
    flagged = R.flag_anomalies(R.volume_zscore(history))

    inc_path = os.path.join(work_dir, "incidents")
    incidents = read_parquet_or_empty(spark, inc_path, R.INCIDENTS_DDL).coalesce(1)
    actions = R.open_incident_upsert(flagged.select("cluster_id"), incidents)
    # collect: bounded, flag_anomalies flags at most max_anomalies (3)
    # clusters per batch. Collected BEFORE the append, because the plan
    # reads inc_path and would anti-join the new rows away afterwards.
    inserts = actions.filter(F.col("action") == "insert").select("cluster_id").collect()
    created_at = datetime.datetime.now(datetime.timezone.utc)
    append_rows(
        spark, [(r.cluster_id, "NEW", created_at) for r in inserts], R.INCIDENTS_DDL, inc_path
    )
    return len(inserts)


def score_batch(
    spark: SparkSession,
    events: DataFrame,
    work_dir: str,
    tag: str,
    dim: int = EMBED_DIM,
) -> dict:
    """The scoring body of the slice driver and the scoring stream
    (run_incremental_batch.py:66-101): embed → assign → upsert → pattern
    refresh → anomaly pass over ``events``, rows already kept by
    ``R.scorable``; ``tag`` names the batch's volume history file.

    The scored rows are persisted once. One aggregate, the only action
    that runs the embed → assign plan, gives their count (for the
    empty-batch exit and the result) and their ``event_id`` bounds (for
    the embeddings upsert, which then reads only the target keys that can
    collide). The three sinks each read only the cache and write their
    own table, so they run concurrently through ``session.fan_out``,
    under the caller's job group, longest first: the anomaly pass, the
    embeddings upsert, the pattern refresh. ``fan_out`` joins all three
    before it re-raises a failure, so ``finally`` releases the cache only
    after every sink has stopped reading it. The assignment labels the
    embedded rows in place (each is embedded once), and no small side is
    shuffled: the centroids are one broadcast row, the patterns one
    aggregate, the anomaly pass one partition. The two small tables,
    patterns and incidents, get a file only when the batch adds rows to
    them. The tables the service writes itself are read with their known
    schema, so no schema-inference job runs. A replayed batch is
    idempotent: the sinks skip the keys they hold and ``anomaly_pass``
    replaces the batch's history file.

    In a ``get_spark`` session a steady-state batch reuses the generated
    classes the previous batch compiled (``session.CODEGEN_CACHE_ENTRIES``).
    The plans that inline per-batch literals still compile each batch: the
    slice driver's ``R.scan_slice`` stage, with the slice's ``event_id``
    bounds, and the embeddings upsert's key-range read.
    """
    store = ModelStore(os.path.join(work_dir, "models"))
    centroids = store.load_centroids(spark)  # state load, §3.1 step 2

    # embed + nearest-centroid with the 0.35 mint threshold (M3); batch
    # semantics: beyond-threshold rows stay unassigned (-1) — matching the
    # reference's scoring path, which discards minted centroids (§3.1 step 7)
    # cache: NOT caller-owned — batch-scoped, released in the `finally` below
    scored = (
        assign_nearest_centroid(
            embed_events(events, dim), centroids, threshold=CENTROID_THRESHOLD
        )
        .drop("dist")
        .withColumnRenamed("assigned_label", "cluster_id")
        .persist()
    )
    try:
        n_scored, lo, hi = scored.agg(
            F.count(F.lit(1)), F.min("event_id"), F.max("event_id")
        ).first()
        if n_scored == 0:  # empty-batch early exit (:69-71)
            return {"scored": 0, "incidents": 0}

        def upsert_embeddings() -> None:
            # T2/S6 idempotent sink (vs per-row txn log_ops.py:66-81). A key
            # outside [lo, hi] cannot collide with the batch. The cached rows
            # keep the slice scan's input splits, so coalesce: one file per
            # batch, whose statistics the next batches' key reads skip.
            upsert_parquet(
                spark, scored.coalesce(1), os.path.join(work_dir, "log_embeddings"),
                key_range=(lo, hi),
            )

        clustered = scored.select(
            "event_id", F.col("cluster_id").alias("user_id"), "event_type",
            F.col("text").alias("props"), "ts",
        ).filter(F.col("user_id") >= 0)

        def refresh_patterns() -> None:
            # pattern refresh above the watermark (S8 + P6, pattern_ops.py:12-46)
            path = os.path.join(work_dir, "log_patterns_incr")
            patterns = R.mine_patterns(clustered)
            # collect: bounded, at most one new pattern per centroid
            fresh = unseen_rows(spark, patterns, path, "cluster_id").collect()
            append_rows(spark, fresh, patterns.schema, path)

        # anomaly pass (incident_ops.py:44-105), one history file per batch
        volume = R.batch_volume(clustered.select("user_id", "event_id"))
        n_new, _, _ = fan_out(
            spark,
            lambda: anomaly_pass(spark, volume, work_dir, tag),
            upsert_embeddings,
            refresh_patterns,
        )
        return {"scored": n_scored, "incidents": n_new}
    finally:
        scored.unpersist()


def run_incremental_batch(
    spark: SparkSession,
    sf_dir: str,
    work_dir: str,
    start_id: int,
    end_id: int,
    dim: int = EMBED_DIM,
) -> dict:
    """Incremental scoring of one id slice: slice scan → ``score_batch``
    → commit (run_incremental_batch.py:28-112). The per-row loop (:76-93)
    is one declarative plan; the per-row write txn (:66-81 in log_ops) is
    one idempotent upsert. The scoring stream
    (``streaming.pipeline.run_incremental_pipeline``) runs the same
    ``score_batch`` per micro-batch, with its checkpoint as the commit
    marker.

    A retried slice (the reference reruns any slice not COMPLETED,
    run_incremental_batch.py:29-41) is idempotent: its history file is
    tagged ``"{start_id}-{end_id}"``. An empty slice writes nothing, not
    even the marker.
    """
    # P3/P4/P5 + O1 slice scan (run_incremental_batch.py:59-65)
    events = load_table(spark, sf_dir, "events")
    batch = R.scan_slice(events, lo=start_id, hi=end_id, limit=None)
    out = score_batch(spark, batch, work_dir, f"{start_id}-{end_id}", dim)
    if out["scored"]:
        # S9 commit marker (vs UPDATE batch_order, run_incremental_batch.py:103-110)
        write_commit_marker(
            work_dir,
            {
                "start_id": start_id,
                "end_id": end_id,
                "status": "COMPLETED",
                "scored": out["scored"],
                "ts": time.time(),
            },
        )
    return out


# ---------------------------------------------------------------------------
# Entry point 3: quality validation (SURVEY §3.3)
# ---------------------------------------------------------------------------


# The log_embeddings columns the quality audit uses, as both writers store
# them. Training writes 5-column files and score_batch 9-column ones, so a
# bare read's columns depend on the footer Spark samples, and it runs a
# schema-inference job.
AUDIT_EMBEDDINGS_DDL = (
    "event_id bigint, event_type string, embedding array<float>, cluster_id int"
)


def read_audit_embeddings(spark: SparkSession, work_dir: str) -> DataFrame:
    """``log_embeddings`` read with ``AUDIT_EMBEDDINGS_DDL`` (no job)."""
    return spark.read.schema(AUDIT_EMBEDDINGS_DDL).parquet(
        os.path.join(work_dir, "log_embeddings")
    )


def run_quality_validation(
    spark: SparkSession, work_dir: str, sample: int = 2000
) -> dict:
    """Clustering-quality audit (validate_quality.py:59-112): purity
    (homogeneity/completeness vs source+'_'+level truth) exactly +
    distributed silhouette — no 2000-row cap needed, kept as an optional
    sample for reference parity."""
    from .ml.quality import quality_report, silhouette

    scored = read_audit_embeddings(spark, work_dir)
    if sample:
        scored = scored.orderBy("event_id").limit(sample)
    # truth = source+"_"+level (validate_quality.py:17); events have one
    # categorical, so truth = event_type
    audit = quality_report(
        scored.withColumn("truth", F.col("event_type")), "truth", "cluster_id"
    ).first()
    sil = silhouette(scored, emb_col="embedding", cluster_col="cluster_id")
    sil_verdict = "PASS" if sil > 0.4 else ("WARN" if sil > 0.1 else "FAIL")
    return {
        "homogeneity": audit["homogeneity"],
        "completeness": audit["completeness"],
        "v_measure": audit["v_measure"],
        "purity_verdict": audit["verdict"],
        "silhouette": round(sil, 6),
        "silhouette_verdict": sil_verdict,
    }
