"""CSV → bronze ingestion with corrupt-record quarantine
(reference bronze_ingestion.py.py:12-46, S1-S4).

The reference relies on Databricks-only ``badRecordsPath``; OSS Spark
re-expresses it (SURVEY.md §2.1 S3): read PERMISSIVE with a
``_corrupt_record`` column, split the frame — clean rows to the bronze
table, corrupt raw lines to a quarantine table. ``write_split`` is the
only split, for the full load (``ingest_csv``, an overwrite), the daily
load (``prepare_clean``, the caller's upsert) and JSONL: two filters
over one cached read, where the clean write observes the clean and
corrupt counts as it goes and the corrupt rows are appended from the
cache afterwards, only when there are any and the write succeeded.

Scale notes: schema is always explicit (never inferSchema — that is a
full extra pass over 100 TB). A full load is one write job per source
(plus one append for a source with corrupt rows), fully parallel over
the file's splits, and ``pipeline/bronze`` runs the sources' jobs
concurrently rather than in the reference's one-after-another loop.
A daily load runs no count job: its counts ride the upsert's stage write.
"""

from __future__ import annotations

from collections.abc import Callable
from functools import partial

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql.types import StringType, StructField, StructType

from grocery_store_sales_forecasting_etl_pipeline_spark.sources.error_log import (
    append_audit,
    log_error,
)

CORRUPT_COL = "_corrupt_record"


def _with_corrupt_capture(schema: StructType) -> StructType:
    if any(f.name == CORRUPT_COL for f in schema.fields):
        return schema
    return StructType(list(schema.fields) + [StructField(CORRUPT_COL, StringType(), True)])


def read_csv_permissive(spark: SparkSession, path: str, schema: StructType) -> DataFrame:
    """S1+S2+S4: header CSV with explicit schema, corrupt-record capture,
    and source-file lineage column."""
    return (
        spark.read.option("header", True)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .schema(_with_corrupt_capture(schema))
        .csv(path)
        .withColumn("source_file", F.col("_metadata.file_path"))
    )


def _corrupt_rows(df: DataFrame, stage: str) -> DataFrame:
    """The quarantine rows of a permissive read: raw line, source file,
    timestamp and stage."""
    return df.filter(F.col(CORRUPT_COL).isNotNull()).select(
        F.col(CORRUPT_COL).alias("raw_record"),
        F.col("source_file"),
        F.current_timestamp().alias("quarantined_at"),
        F.lit(stage).alias("stage"),
    )


def _clean_rows(df: DataFrame, by_date: bool) -> DataFrame:
    """The clean rows of a permissive read; ``by_date`` parses ``date``
    and adds the ``year``/``month`` partition columns."""
    clean = df.filter(F.col(CORRUPT_COL).isNull()).drop(CORRUPT_COL)
    if by_date:
        clean = (
            clean.withColumn("date", F.to_date(F.col("date").cast("string"), "yyyy-MM-dd"))
            .withColumn("year", F.year("date"))
            .withColumn("month", F.month("date"))
        )
    return clean


def _overwrite(table: str, partitioned: bool, clean: DataFrame) -> None:
    """The full load's write step: overwrite ``table`` with ``clean``,
    partitioned by year/month when ``partitioned``."""
    writer = clean.write.mode("overwrite").format("parquet")
    if partitioned:
        writer = writer.partitionBy("year", "month")
    writer.saveAsTable(table)


def write_split(
    df: DataFrame,
    write: Callable[[DataFrame], int | None],
    quarantine_table: str | None = None,
    partition_by_date: bool = False,
    stage: str = "bronze_ingestion",
) -> tuple[int, int]:
    """Hand the clean rows of the permissive read ``df`` to ``write`` (an
    overwrite or an upsert) and append its corrupt rows to
    ``quarantine_table``. Returns (rows_written, quarantined_rows), where
    rows_written is what ``write`` returns, or the clean rows when it
    returns None.

    An ``Observation`` on the cached read, below the clean filter, counts
    clean and corrupt rows while ``write`` runs. The corrupt rows are then
    appended from the cache, only when there are any, so a failed write
    quarantines nothing and a retry does not record the same rows twice.
    """
    # cache: every branch of ``write`` and the append read one parse of the
    # file. An uncached read parses only the columns a branch needs, so a
    # branch that needs only ``date`` would take a corrupt line for a clean
    # row, and Spark rejects corrupt-column-only queries on it outright.
    df = df.cache()
    try:
        counts = Observation()
        corrupt = F.col(CORRUPT_COL).isNotNull()
        observed = df.observe(
            counts,
            F.count(F.when(~corrupt, 1)).alias("clean"),
            F.count(F.when(corrupt, 1)).alias("corrupt"),
        )
        written = write(_clean_rows(observed, partition_by_date))
        metrics = counts.get
        n_quarantined = metrics["corrupt"] if quarantine_table is not None else 0
        if n_quarantined:
            append_audit(_corrupt_rows(df, stage), quarantine_table)
        return (metrics["clean"] if written is None else written), n_quarantined
    finally:
        df.unpersist()


def ingest_csv(
    spark: SparkSession,
    path: str,
    schema: StructType,
    table: str,
    quarantine_table: str | None = None,
    partition_by_date: bool = False,
    stage: str = "bronze_ingestion",
) -> tuple[int, int]:
    """Reference ``load_to_bronze`` (bronze_ingestion.py.py:12-46) with
    OSS quarantine. Returns (clean_rows, quarantined_rows).

    - clean rows → overwrite ``table`` (partitioned by year/month of its
      ``date`` column when ``partition_by_date``)
    - corrupt rows (raw line + source file + timestamp) → append
      ``quarantine_table`` after the clean write (``write_split``)
    - any failure → structured row in logs.etl_errors, then re-raise
      (reference bronze_ingestion.py.py:32-46)
    """
    try:
        df = read_csv_permissive(spark, path, schema)
        write = partial(_overwrite, table, partition_by_date)
        return write_split(df, write, quarantine_table, partition_by_date, stage)
    except Exception as exc:  # noqa: BLE001 — reference logs then re-raises any failure
        log_error(spark, str(exc), stage=stage, source_file=path)
        raise


def prepare_clean(
    spark: SparkSession,
    path: str,
    schema: StructType,
    write: Callable[[DataFrame], int],
    quarantine_table: str | None = None,
    partition_by_date: bool = False,
    stage: str = "bronze_ingestion",
) -> tuple[int, int]:
    """The daily twin of ``ingest_csv``: the clean rows of ``path`` go to
    the caller's ``write`` step (a ``maintenance`` upsert into an existing
    table, ``pipeline/bronze.run_incremental``) instead of an overwrite.
    Returns (rows_written as ``write`` counts them, quarantined_rows).

    Same split (``write_split``), same contract: corrupt rows append to
    ``quarantine_table`` only after ``write`` succeeds, and any failure
    logs a structured row to logs.etl_errors, then re-raises.
    """
    try:
        df = read_csv_permissive(spark, path, schema)
        return write_split(df, write, quarantine_table, partition_by_date, stage)
    except Exception as exc:  # noqa: BLE001 — reference logs then re-raises any failure
        log_error(spark, str(exc), stage=stage, source_file=path)
        raise
