"""Catalog teardown shared by the pipeline test modules."""

from __future__ import annotations

from grocery_store_sales_forecasting_etl_pipeline_spark.sources.catalog import DATABASES


def drop_all(spark) -> None:
    """Tear down the medallion databases (test isolation)."""
    for db in DATABASES:
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
