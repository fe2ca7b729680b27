"""Catalog bootstrap (reference grocery_setup.sql.py:1-29).

The reference creates a Unity Catalog 3-level namespace
(``grocery_catalog.{raw,processed,analytics,logs}``); portable Spark has a
2-level namespace, so each schema becomes a database and tables resolve as
``<db>.<table>`` (SURVEY.md §1 'Spark mapping')."""

from __future__ import annotations

from pyspark.sql import SparkSession

DATABASES = ("raw", "processed", "analytics", "logs")

ERROR_LOG_TABLE = "logs.etl_errors"

_ERROR_LOG_DDL = """
CREATE TABLE IF NOT EXISTS {table} (
  error_message STRING,
  error_time TIMESTAMP,
  stage STRING,
  source_file STRING
) USING PARQUET
"""


def bootstrap(spark: SparkSession) -> None:
    """Create the medallion databases + the append-only error-log table
    (reference grocery_setup.sql.py:15-29)."""
    for db in DATABASES:
        spark.sql(f"CREATE DATABASE IF NOT EXISTS {db}")
    spark.sql(_ERROR_LOG_DDL.format(table=ERROR_LOG_TABLE))


