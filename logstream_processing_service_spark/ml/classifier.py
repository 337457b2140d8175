"""Quality-classifier training: distill the heuristic curation rules into
a learned model over the one-scan feature matrix.

The production pattern (fastText/CCNet-style quality filters, GPT-3's
WebText-similarity classifier): heuristic or seed labels supervise a
cheap linear model whose scores then drive corpus filtering at a grain
the hard rules can't express. Here the Gopher-rules verdict
(curation.gopher_filter_report) is the weak label and
textanalysis.quality_feature_matrix supplies the features — feature/rule
overlap is intentional (distillation), and the held-out AUC measures how
learnable the rule surface is.

Scale shape: the feature matrix is one zero-exchange scan; the label
join is doc-keyed; MLlib LogisticRegression fits by L-BFGS over
treeAggregate'd gradient partials — each iteration is one map-side
reduction of a 13-float vector, no per-row driver traffic. Scoring is a
broadcast of the coefficient vector into a single projection. This is
the textbook 100 TB linear-model loop (the reference fits sklearn
IsolationForest driver-side on a fetched frame —
src/ml/volume_analyzer.py:17-24 — which caps at driver memory).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_EXCLUDE = {"doc_id", "source", "lang", "pred_lang"}


def quality_training_frame(documents: DataFrame) -> DataFrame:
    """(doc_id, features..., label, split): the matrix + weak label +
    leak-free deterministic split, ready for any fitter."""
    from ..operators.curation import gopher_filter_report
    from ..operators.sampling import deterministic_split
    from ..operators.textanalysis import quality_feature_matrix

    fm = quality_feature_matrix(documents)
    labels = gopher_filter_report(documents).select(
        "doc_id", F.col("passes_gopher").cast("double").alias("label")
    )
    out = fm.join(labels, "doc_id")
    return deterministic_split(out, "doc_id", salt="quality-clf-v1")


def feature_columns(frame: DataFrame) -> list[str]:
    return [
        f.name
        for f in frame.schema.fields
        if f.name not in _EXCLUDE | {"label", "split"}
        and f.dataType.typeName() in ("long", "integer", "double", "float")
    ]


def train_quality_classifier(
    documents: DataFrame, max_iter: int = 60, reg_param: float = 0.01
):
    """Fit LR on the train split; returns (model, assembler, frame)."""
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.feature import VectorAssembler

    frame = quality_training_frame(documents).na.fill(0.0)
    cols = feature_columns(frame)
    assembler = VectorAssembler(inputCols=cols, outputCol="features")
    lr = LogisticRegression(
        maxIter=max_iter,
        regParam=reg_param,
        standardization=True,
        labelCol="label",
        featuresCol="features",
    )
    train = assembler.transform(frame.filter(F.col("split") == "train"))
    model = lr.fit(train)
    return model, assembler, frame


def quality_classifier_report(documents: DataFrame) -> DataFrame:
    """Train + evaluate, emitting the (metric, value) audit table a
    curation run logs next to its dataset card: held-out AUC/accuracy,
    split sizes, base rate, and feature count. Rows-only for the driver
    (L-BFGS float reductions aren't bit-stable across partitionings);
    the ≥0.9 held-out AUC floor is asserted in tests/test_classifier.py.
    """
    from pyspark.ml.evaluation import BinaryClassificationEvaluator

    model, assembler, frame = train_quality_classifier(documents)
    test = assembler.transform(frame.filter(F.col("split") == "test"))
    scored = model.transform(test)
    auc = BinaryClassificationEvaluator(
        labelCol="label", rawPredictionCol="rawPrediction"
    ).evaluate(scored)
    agg = scored.agg(
        F.count(F.lit(1)).alias("n_test"),
        F.avg((F.col("prediction") == F.col("label")).cast("double")).alias("acc"),
        F.avg("label").alias("base_rate"),
    ).collect()[0]
    n_train = frame.filter(F.col("split") == "train").count()
    spark = documents.sparkSession
    rows = [
        ("auc_test", float(auc)),
        ("accuracy_test", float(agg["acc"])),
        ("base_rate_test", float(agg["base_rate"])),
        ("n_train", float(n_train)),
        ("n_test", float(agg["n_test"])),
        ("n_features", float(len(assembler.getInputCols()))),
        ("n_lbfgs_iters", float(model.summary.totalIterations)),
    ]
    return spark.createDataFrame(rows, "metric string, value double")
