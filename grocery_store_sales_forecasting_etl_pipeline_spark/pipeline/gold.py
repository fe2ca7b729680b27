"""Gold feature layer (reference gold_feature.py.py:9-51) — weekly
aggregation + lag/rolling features, semantics-exact; the forecast stage
is delegated to ml/forecast.py (distributed, replacing the reference's
driver-side LightGBM collect at gold_feature.py.py:54 — the scalability
cliff SURVEY.md §3 flags).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from grocery_store_sales_forecasting_etl_pipeline_spark.operators import quality as Q

OUTPUT_TABLE = "analytics.sales_forecast_features"

FEATURE_COLS = (
    "prev_week_transactions",
    "prev2_week_transactions",
    "mean_last4_weeks",
    "had_holiday",
    "avg_oil_price",
)
LABEL_COL = "weekly_transactions"


def build_features(sales_cleaned: DataFrame) -> DataFrame:
    """Silver → weekly feature frame (reference gold_feature.py.py:11-51).

    Plan: one shuffle for the (store, year, week) aggregate, one for the
    per-store window; the three window expressions share a single Window
    node. ``first()`` dims are functionally dependent on store_nbr, so
    the arbitrary pick is value-stable.
    """
    sales_weekly = (
        sales_cleaned.withColumn("week", F.weekofyear(F.col("date")))
        .withColumn("year", F.year(F.col("date")))
        .groupBy("store_nbr", "year", "week")
        .agg(
            F.sum("transactions").alias("weekly_transactions"),
            F.first("city").alias("city"),
            F.first("state").alias("state"),
            F.first("type").alias("store_type"),
            F.first("cluster").alias("store_cluster"),
            F.max("is_holiday").alias("had_holiday"),
            F.avg("dcoilwtico").alias("avg_oil_price"),
        )
    )
    w = Window.partitionBy("store_nbr").orderBy("year", "week")
    sales_weekly = (
        sales_weekly.withColumn(
            "prev_week_transactions", F.lag("weekly_transactions", 1).over(w)
        )
        .withColumn("prev2_week_transactions", F.lag("weekly_transactions", 2).over(w))
        .withColumn(
            "mean_last4_weeks",
            F.avg("weekly_transactions").over(w.rowsBetween(-4, -1)),
        )
        .na.drop(subset=["prev_week_transactions", "prev2_week_transactions", "mean_last4_weeks"])
    )
    # casts (reference gold_feature.py.py:43-51)
    return (
        sales_weekly.withColumn("had_holiday", F.col("had_holiday").cast("int"))
        .withColumn("avg_oil_price", F.col("avg_oil_price").cast("double"))
        .withColumn("prev_week_transactions", F.col("prev_week_transactions").cast("double"))
        .withColumn("prev2_week_transactions", F.col("prev2_week_transactions").cast("double"))
        .withColumn("mean_last4_weeks", F.col("mean_last4_weeks").cast("double"))
        .withColumn("weekly_transactions", F.col("weekly_transactions").cast("double"))
    )


def run(spark: SparkSession, with_forecast: bool = True) -> Q.QualityObservation:
    """Silver table → features (+ distributed GBT predictions) →
    ``analytics.sales_forecast_features`` partitioned by year (the
    reference writes a year-partitioned Delta path AND the tests read a
    table; we always register the table — SURVEY.md §1). Returns the
    quality handle the write fills in; it is attached after the forecast
    so that the GBT fit's own jobs cannot fire it."""
    features = build_features(spark.table("processed.sales_cleaned"))
    if with_forecast:
        from grocery_store_sales_forecasting_etl_pipeline_spark.ml.forecast import (
            train_predict_global,
        )

        features = train_predict_global(features)
    features, handle = Q.observe_quality(
        features,
        no_null_cols=(*FEATURE_COLS, LABEL_COL),
        min_bounds={LABEL_COL: 0.0},
        sum_cols=(LABEL_COL,),
        name="gold",
    )
    features.write.mode("overwrite").partitionBy("year").format("parquet").saveAsTable(
        OUTPUT_TABLE
    )
    return handle
