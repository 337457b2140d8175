"""Feature vectorization / scaling / encoding (SURVEY M4/M5/M6).

Reference: feature rows are python dicts of 384 ``vec_i`` floats + 3
categoricals (src/ml/pipeline.py:12-26), standardized by river's incremental
StandardScaler (:29-40) and one-hot encoded with a dynamically growing vocab
(:34-37, README.md:61).

Spark re-expression, two interchangeable paths:

- **native SQL** (oracle-checkable): z-score standardization from global
  aggregates (population std — the reference's np/river semantics), one-hot
  via pivot with an explicit category list (the batch analogue of
  ``handleInvalid="keep"``: unseen categories become all-zeros).
- **MLlib** (pipeline-grade): StringIndexer → OneHotEncoder →
  VectorAssembler → StandardScaler, emitting one assembled vector column
  for downstream estimators. The reference's "incremental" scaling is a
  single-process artifact; refit-per-batch in ``foreachBatch`` is the
  streaming twin (SURVEY M5 mapping).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


def standardize(df: DataFrame, cols: list[str]) -> DataFrame:
    """Z-score standardization against GLOBAL mean/std_pop, as one broadcast
    scalar-aggregate join (no window over the full table, no driver round
    trip). Population std matches the reference's numpy/river semantics
    (SURVEY A8 parity note)."""
    stats = df.agg(
        *[F.avg(c).alias(f"_mu_{c}") for c in cols],
        *[F.stddev_pop(c).alias(f"_sd_{c}") for c in cols],
    )
    out = df.crossJoin(F.broadcast(stats))
    for c in cols:
        out = out.withColumn(
            f"{c}_z",
            F.round(
                (F.col(c) - F.col(f"_mu_{c}")) / (F.col(f"_sd_{c}") + F.lit(1e-12)),
                6,
            ),
        )
    return out.drop(*[f"_mu_{c}" for c in cols], *[f"_sd_{c}" for c in cols])


def onehot(df: DataFrame, col: str, categories: tuple[str, ...] = EVENT_TYPES) -> DataFrame:
    """Explicit-vocab one-hot columns (M6). A fixed category list keeps the
    output schema stable across batches — the distributed answer to river's
    grow-on-unseen encoder, whose dynamic schema cannot exist in a columnar
    plan. Unseen values ⇒ all zeros (``handleInvalid='keep'`` analogue)."""
    out = df
    for cat in categories:
        out = out.withColumn(
            f"{col}_{cat}", (F.col(col) == cat).cast("int")
        )
    return out


def fit_mllib_features(
    df: DataFrame,
    cat_cols: tuple[str, ...] = ("event_type",),
    num_cols: tuple[str, ...] = ("value",),
    emb_col: str | None = "embedding",
):
    """MLlib feature pipeline (M5/M6 at the estimator boundary): returns the
    fitted PipelineModel; ``.transform(df)`` adds a ``features`` vector.

    StringIndexer(handleInvalid='keep') + OneHotEncoder reproduce the
    dynamic-vocab behavior at fit time; StandardScaler(withMean=True) is the
    distributed twin of river's running-moments scaler.
    """
    from pyspark.ml import Pipeline
    from pyspark.ml.feature import (
        OneHotEncoder,
        StandardScaler,
        StringIndexer,
        VectorAssembler,
    )

    stages = []
    vec_inputs: list[str] = []
    for c in cat_cols:
        stages.append(
            StringIndexer(inputCol=c, outputCol=f"{c}_idx", handleInvalid="keep")
        )
        # dropLast=False: river's encoder keeps every category level
        stages.append(
            OneHotEncoder(inputCol=f"{c}_idx", outputCol=f"{c}_oh", dropLast=False)
        )
        vec_inputs.append(f"{c}_oh")
    vec_inputs.extend(num_cols)

    work = df
    if emb_col is not None:
        from pyspark.ml.functions import array_to_vector

        work = df.withColumn(
            "_emb_vec", array_to_vector(F.col(emb_col).cast("array<double>"))
        )
        vec_inputs.append("_emb_vec")

    stages.append(VectorAssembler(inputCols=vec_inputs, outputCol="_raw"))
    stages.append(
        StandardScaler(
            inputCol="_raw", outputCol="features", withMean=True, withStd=True
        )
    )
    model = Pipeline(stages=stages).fit(work)
    return model, work
