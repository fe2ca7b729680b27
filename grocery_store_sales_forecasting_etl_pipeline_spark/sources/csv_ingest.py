"""CSV → bronze ingestion with corrupt-record quarantine
(reference bronze_ingestion.py.py:12-46, S1-S4).

The reference relies on Databricks-only ``badRecordsPath``; OSS Spark
re-expresses it (SURVEY.md §2.1 S3): read PERMISSIVE with a
``_corrupt_record`` column, split the frame — clean rows to the bronze
table, corrupt raw lines to a quarantine table. The split is two
filters over one cached read: the clean write observes the clean and
corrupt counts as it goes, and the corrupt rows are appended from the
cache afterwards, only when there are any.

Scale notes: schema is always explicit (never inferSchema — that is a
full extra pass over 100 TB). A full load is one write job per source
(plus one append for a source with corrupt rows), fully parallel over
the file's splits, and ``pipeline/bronze`` runs the sources' jobs
concurrently rather than in the reference's one-after-another loop.
"""

from __future__ import annotations

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


def prepare_clean(
    spark: SparkSession,
    path: str,
    schema: StructType,
    quarantine_table: str | None = None,
    partition_by_date: bool = False,
    stage: str = "bronze_ingestion",
) -> tuple[DataFrame, int]:
    """Read + quarantine-split WITHOUT writing the clean side: returns
    ``(clean_df, n_quarantined)`` for callers that route clean rows into
    an upsert instead of an overwrite (the incremental daily-batch path,
    ``pipeline/bronze.run_incremental``).

    The read is cached only across the quarantine count/write (Spark
    rejects corrupt-column-only queries on an uncached CSV read —
    UNSUPPORTED_FEATURE.QUERY_ONLY_CORRUPT_RECORD_COLUMN) and unpersisted
    before returning: the clean frame recomputes from the file when the
    caller's upsert materializes it, so no cache entry outlives this call
    in a long-running orchestrator. Daily batches are small by
    construction; the second scan is the right trade.
    """
    try:
        df = read_csv_permissive(spark, path, schema).cache()
        n_quarantined = 0
        try:
            if quarantine_table is not None:
                corrupt = _corrupt_rows(df, stage)
                n_quarantined = corrupt.count()
                if n_quarantined:
                    append_audit(corrupt, quarantine_table)
        finally:
            df.unpersist()
        return _clean_rows(df, partition_by_date and "date" in df.columns), n_quarantined
    except Exception as exc:  # noqa: BLE001 — reference logs then re-raises any failure
        log_error(spark, str(exc), stage=stage, source_file=path)
        raise


def write_split(
    df: DataFrame,
    table: str,
    quarantine_table: str | None = None,
    partition_by_date: bool = False,
    stage: str = "bronze_ingestion",
) -> tuple[int, int]:
    """Overwrite ``table`` with the clean rows of the permissive read
    ``df`` and append its corrupt rows to ``quarantine_table``. Returns
    (clean_rows, quarantined_rows).

    One write job: an ``Observation`` on the cached read, below the
    clean filter, counts clean and corrupt rows while the clean write
    runs. The corrupt rows are then appended from the cache, only when
    there are any, so a failed clean write quarantines nothing and a
    retry does not record the same rows twice.
    """
    # cache: the append reads the corrupt rows back from memory, and
    # Spark rejects corrupt-column-only queries on an uncached read
    df = df.cache()
    by_date = partition_by_date and "date" in df.columns
    try:
        counts = Observation()
        corrupt = F.col(CORRUPT_COL).isNotNull()
        observed = df.observe(
            counts,
            F.count(F.when(~corrupt, 1)).alias("clean"),
            F.count(F.when(corrupt, 1)).alias("corrupt"),
        )
        clean = _clean_rows(observed, by_date)
        writer = clean.write.mode("overwrite").format("parquet")
        if by_date:
            writer = writer.partitionBy("year", "month")
        writer.saveAsTable(table)
        metrics = counts.get
        n_quarantined = metrics["corrupt"] if quarantine_table is not None else 0
        if n_quarantined:
            append_audit(_corrupt_rows(df, stage), quarantine_table)
        return metrics["clean"], n_quarantined
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

    - clean rows → overwrite ``table`` (partitioned by year/month when a
      date column exists and ``partition_by_date``)
    - corrupt rows (raw line + source file + timestamp) → append
      ``quarantine_table`` after the clean write (``write_split``)
    - any failure → structured row in logs.etl_errors, then re-raise
      (reference bronze_ingestion.py.py:32-46)
    """
    try:
        df = read_csv_permissive(spark, path, schema)
        return write_split(df, table, quarantine_table, partition_by_date, stage)
    except Exception as exc:  # noqa: BLE001 — reference logs then re-raises any failure
        log_error(spark, str(exc), stage=stage, source_file=path)
        raise
