"""Distributed gradient-boosted forecasting.

The reference trains LightGBM on the driver after ``toPandas()`` on the
FULL feature table (gold_feature.py.py:53-67) — a hard scalability cliff:
at 100 TB the collect cannot happen. Two Spark-native replacements, same
model family (GBT regression, RMSE objective, ~100 trees):

1. ``train_predict_global`` — MLlib ``GBTRegressor`` on the distributed
   frame; predictions via ``model.transform`` (no collect anywhere).
2. ``train_predict_per_group`` — one model per entity via
   ``applyInPandas`` grouped-map (Arrow-batched): each group's pandas
   frame fits in one task; 54 stores → 54 parallel tasks. This matches
   per-entity forecasting practice when entities have divergent dynamics.
   Uses sklearn's GradientBoostingRegressor when available (import-gated;
   the container may not ship it) and falls back to a closed-form
   per-group linear ridge fit in pure numpy — the point is the
   distributed-training plumbing, not the specific booster.
"""

from __future__ import annotations

from collections.abc import Sequence

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from grocery_store_sales_forecasting_etl_pipeline_spark.pipeline.gold import (
    FEATURE_COLS,
    LABEL_COL,
)

PREDICTION_COL = "predicted_transactions"


def train_predict_global(
    features: DataFrame,
    feature_cols: Sequence[str] = FEATURE_COLS,
    label_col: str = LABEL_COL,
    max_iter: int = 100,
    max_depth: int = 5,
    train_partitions: int | None = None,
) -> DataFrame:
    """MLlib GBTRegressor trained on the distributed feature frame;
    returns the input plus ``predicted_transactions``
    (reference M1-M3 → SURVEY.md §2.11 mapping).

    The assembled frame is persisted before ``fit`` so (a) the upstream
    feature pipeline (window functions over the fact table) is computed
    once, not once for training and again for the prediction pass, and
    (b) boosting iterations hit cached blocks. Pass ``train_partitions``
    when the feature frame is small relative to the cluster: every GBT
    iteration runs several jobs (one per tree level), so a 28k-row frame
    in 32 partitions pays ~50 jobs × 32 near-empty tasks of pure
    scheduler overhead; a handful of right-sized partitions halves wall
    time. Leave None at real scale — there the default partitioning is
    the right one. Feature columns must be numeric or boolean; they are
    cast to double before assembly.
    """
    from pyspark.ml.feature import VectorAssembler
    from pyspark.ml.regression import GBTRegressor

    # VectorAssembler casts a non-double input to a column named after its
    # random uid, so each call generated new code text and compiled it
    # again; the same casts under fixed names keep the text stable
    doubles = {f"__f_{c}": F.col(c).cast("double") for c in feature_cols}
    assembler = VectorAssembler(
        inputCols=list(doubles), outputCol="__features", handleInvalid="keep"
    )
    assembled = assembler.transform(features.withColumns(doubles)).drop(*doubles)
    if train_partitions is not None:
        assembled = assembled.repartition(train_partitions)
    assembled = assembled.persist()
    try:
        model = GBTRegressor(
            featuresCol="__features",
            labelCol=label_col,
            maxIter=max_iter,
            maxDepth=max_depth,
            seed=42,
        ).fit(assembled)
        pred = (
            model.transform(assembled)
            .withColumn(PREDICTION_COL, F.col("prediction"))
            .drop("__features", "prediction")
        )
        # Materialize before the cache is released, or the returned frame
        # recomputes the feature pipeline uncached; this cuts the lineage,
        # and unlike persist() its blocks go when the caller drops the frame.
        return pred.localCheckpoint(eager=True)
    finally:
        assembled.unpersist()


def train_predict_per_group(
    features: DataFrame,
    group_col: str = "store_nbr",
    feature_cols: Sequence[str] = FEATURE_COLS,
    label_col: str = LABEL_COL,
) -> DataFrame:
    """Per-entity model via ``applyInPandas`` grouped-map: train + predict
    inside each group's Arrow batch. One shuffle on the group key; model
    state never leaves the executor."""
    import numpy as np
    import pandas as pd

    from pyspark.sql.types import DoubleType, StructField, StructType

    feature_cols = list(feature_cols)
    # copy — StructType.add mutates in place, which would corrupt the
    # input frame's cached schema object
    out_schema = StructType(
        list(features.schema.fields) + [StructField(PREDICTION_COL, DoubleType())]
    )

    def fit_predict(pdf: pd.DataFrame) -> pd.DataFrame:
        X = pdf[feature_cols].to_numpy(dtype="float64")
        y = pdf[label_col].to_numpy(dtype="float64")
        try:
            from sklearn.ensemble import GradientBoostingRegressor

            model = GradientBoostingRegressor(n_estimators=100, random_state=42)
            pred = model.fit(X, y).predict(X)
        except ImportError:
            # ridge closed form: (XᵀX + λI)⁻¹ Xᵀy with bias term
            Xb = np.hstack([X, np.ones((len(X), 1))])
            lam = 1e-3 * np.eye(Xb.shape[1])
            beta = np.linalg.solve(Xb.T @ Xb + lam, Xb.T @ y)
            pred = Xb @ beta
        out = pdf.copy()
        out[PREDICTION_COL] = pred
        return out

    return features.groupBy(group_col).applyInPandas(fit_predict, schema=out_schema)
