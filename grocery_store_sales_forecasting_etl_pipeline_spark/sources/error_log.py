"""Structured ETL error logging (reference E1,
bronze_ingestion.py.py:32-46; table DDL grocery_setup.sql.py:24-29)."""

from __future__ import annotations

import threading

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StringType, StructField, StructType, TimestampType

from grocery_store_sales_forecasting_etl_pipeline_spark.sources import catalog

ERROR_SCHEMA = StructType(
    [
        StructField("error_message", StringType(), True),
        StructField("error_time", TimestampType(), True),
        StructField("stage", StringType(), True),
        StructField("source_file", StringType(), True),
    ]
)

# Concurrent appends to one parquet path share FileOutputCommitter's
# ``_temporary`` directory, and the first two race to create the table.
_AUDIT_LOCK = threading.Lock()


def append_audit(df: DataFrame, table: str) -> None:
    """Append ``df`` to a shared audit table (``logs.etl_errors``,
    ``logs.quarantine``), one writer at a time."""
    with _AUDIT_LOCK:
        df.write.mode("append").saveAsTable(table)


def log_error(
    spark: SparkSession,
    message: str,
    stage: str,
    source_file: str | None = None,
    table: str = catalog.ERROR_LOG_TABLE,
) -> None:
    """Append one structured error row (same shape as the reference's
    error_df, with error_time = current_timestamp())."""
    row = spark.createDataFrame(
        [(message, None, stage, source_file)], schema=ERROR_SCHEMA
    ).withColumn("error_time", F.current_timestamp())
    append_audit(row, table)
