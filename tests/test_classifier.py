"""Quality-classifier distillation: the linear model must actually learn
the rule surface (held-out AUC floor), and scoring must be a pure
projection consistent with the trained decision rule."""

from __future__ import annotations

import pyspark.sql.functions as F

from logstream_processing_service_spark.ml import classifier as C
from logstream_processing_service_spark.sources import load_table


def test_report_metrics_and_auc_floor(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    m = {r["metric"]: r["value"] for r in C.quality_classifier_report(docs).collect()}
    assert m["auc_test"] >= 0.9, m
    # beats the majority-class baseline on the held-out split
    majority = max(m["base_rate_test"], 1 - m["base_rate_test"])
    assert m["accuracy_test"] >= majority - 0.05, m
    assert m["n_train"] + m["n_test"] == docs.count()
    assert m["n_features"] >= 10


def test_split_is_deterministic_and_leak_free(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    f1 = C.quality_training_frame(docs).select("doc_id", "split")
    f2 = C.quality_training_frame(docs).select("doc_id", "split")
    assert f1.exceptAll(f2).count() == 0
    # both splits non-trivial
    counts = dict(
        (r["split"], r["n"])
        for r in f1.groupBy("split").agg(F.count("*").alias("n")).collect()
    )
    assert counts.get("train", 0) > 0 and counts.get("test", 0) > 0
