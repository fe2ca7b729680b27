"""JSONL (newline-delimited JSON) source/sink with corrupt-record
quarantine — the dominant interchange format of LLM training-data
pipelines (one document per line: text + metadata + nested fields).

Engine extension beyond the reference's CSV-only surface
(bronze_ingestion.py.py:12-46): same quarantine contract as
``csv_ingest`` (PERMISSIVE read, ``_corrupt_record`` split), but JSON
adds the semi-structured capabilities CSV lacks — nested structs,
arrays, and maps land as native Spark types declared in the explicit
schema.

Scale notes: schema is always explicit (JSON inference samples or scans
the input — never on 100 TB); JSONL splits by line, so a single huge
file still parallelizes; compressed inputs (.gz) are NOT splittable —
at scale prefer many moderately-sized files (or zstd-in-frame) so every
executor gets work.
"""

from __future__ import annotations

from functools import partial

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from grocery_store_sales_forecasting_etl_pipeline_spark.sources.csv_ingest import (
    CORRUPT_COL,
    _overwrite,
    _with_corrupt_capture,
    write_split,
)
from grocery_store_sales_forecasting_etl_pipeline_spark.sources.error_log import log_error


def read_jsonl_permissive(spark: SparkSession, path: str, schema: StructType) -> DataFrame:
    """JSONL with explicit schema, corrupt-line capture, and source-file
    lineage column. Malformed lines (bad JSON, type mismatch under
    PERMISSIVE null-out rules) surface in ``_corrupt_record``."""
    return (
        spark.read.option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .schema(_with_corrupt_capture(schema))
        .json(path)
        .withColumn("source_file", F.col("_metadata.file_path"))
    )


def ingest_jsonl(
    spark: SparkSession,
    path: str,
    schema: StructType,
    table: str,
    quarantine_table: str | None = None,
    stage: str = "bronze_ingestion_jsonl",
) -> tuple[int, int]:
    """JSONL → bronze with the same quarantine/error-log contract as
    ``csv_ingest.ingest_csv``: clean rows overwrite ``table``, corrupt
    raw lines append to ``quarantine_table``, failures log a structured
    row to logs.etl_errors and re-raise. Returns (clean, quarantined)."""
    try:
        df = read_jsonl_permissive(spark, path, schema)
        return write_split(df, partial(_overwrite, table, False), quarantine_table, stage=stage)
    except Exception as exc:  # noqa: BLE001 — same contract as reference E1
        log_error(spark, str(exc), stage=stage, source_file=path)
        raise


def write_jsonl(df: DataFrame, path: str, n_files: int | None = None) -> None:
    """DataFrame → JSONL directory. ``n_files`` controls output file
    count (coalesce — narrow, no shuffle) for downstream consumers that
    want bounded file sizes."""
    out = df.coalesce(n_files) if n_files else df
    out.write.mode("overwrite").json(path)
