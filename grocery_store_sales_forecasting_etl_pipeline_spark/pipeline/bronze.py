"""Bronze ingestion (reference bronze_ingestion.py.py:50-139).

Declares the six Kaggle-shaped source schemas verbatim (SURVEY.md §1) and
ingests each CSV to ``raw.<name>`` with corrupt-record quarantine to
``logs.quarantine`` — the OSS replacement for badRecordsPath (S3).

The reference ingests its sources one after another; here every source
runs on its own thread. At sf0.1 each source's write is a small job, so
the stage is bound by job latency, not data, and overlapping the
sources' jobs is what shortens it."""

from __future__ import annotations

import os
from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor
from functools import partial

from pyspark.sql import SparkSession
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)
from pyspark.util import inheritable_thread_target

from grocery_store_sales_forecasting_etl_pipeline_spark.sources import maintenance
from grocery_store_sales_forecasting_etl_pipeline_spark.sources.csv_ingest import (
    ingest_csv,
    prepare_clean,
)


def _s(*fields: tuple[str, type]) -> StructType:
    return StructType([StructField(n, t(), True) for n, t in fields])


# reference bronze_ingestion.py.py:52-91 (schemas are load-bearing: dates
# arrive as strings and are parsed downstream)
STORES_SCHEMA = _s(
    ("store_nbr", IntegerType),
    ("city", StringType),
    ("state", StringType),
    ("type", StringType),
    ("cluster", IntegerType),
)
SAMPLE_SUBMISSION_SCHEMA = _s(("id", IntegerType), ("sales", DoubleType))
OIL_SCHEMA = _s(("date", StringType), ("dcoilwtico", DoubleType))
HOLIDAYS_EVENTS_SCHEMA = _s(
    ("date", StringType),
    ("type", StringType),
    ("locale", StringType),
    ("locale_name", StringType),
    ("description", StringType),
    ("transferred", StringType),
)
TRANSACTIONS_SCHEMA = _s(
    ("date", StringType),
    ("store_nbr", IntegerType),
    ("transactions", IntegerType),
)
TEST_SCHEMA = _s(
    ("id", IntegerType),
    ("date", StringType),
    ("store_nbr", IntegerType),
    ("family", StringType),
    ("onpromotion", IntegerType),
)

# (name, schema, partitioned-by-date) — reference bronze_ingestion.py.py:95-139
SOURCES: tuple[tuple[str, StructType, bool], ...] = (
    ("stores", STORES_SCHEMA, False),
    ("sample_submission", SAMPLE_SUBMISSION_SCHEMA, False),
    ("oil", OIL_SCHEMA, True),
    ("holidays_events", HOLIDAYS_EVENTS_SCHEMA, True),
    ("transactions", TRANSACTIONS_SCHEMA, True),
    ("test", TEST_SCHEMA, True),
)

QUARANTINE_TABLE = "logs.quarantine"

# natural key per source — what an incremental re-delivery upserts on.
# run_incremental uses partition_upsert ONLY when the partition column
# (date) is part of the key, so its key-stability contract holds by
# construction; key-without-date sources (test: keyed on id but
# date-partitioned) take merge_upsert instead — a corrected date there
# re-homes the row across partitions, which a partition-scoped rewrite
# would silently duplicate.
SOURCE_KEYS: dict[str, tuple[str, ...]] = {
    "stores": ("store_nbr",),
    "sample_submission": ("id",),
    "oil": ("date",),
    "holidays_events": ("date", "type", "locale", "locale_name", "description"),
    "transactions": ("date", "store_nbr"),
    "test": ("id",),
}


def _ingest_concurrently(
    spark: SparkSession, ingests: dict[str, Callable[[], tuple[int, int]]]
) -> dict[str, tuple[int, int]]:
    """Run every source's ingest on its own thread and wait for all of
    them. Each thread inherits the caller's job group, description and
    tags, so every source's jobs carry them. Returns the results in
    ``ingests`` order; when sources failed, raises the first failure in
    that order once the others have finished."""
    if not ingests:
        return {}
    with ThreadPoolExecutor(max_workers=len(ingests)) as pool:
        futures = {
            name: pool.submit(inheritable_thread_target(spark)(ingest))
            for name, ingest in ingests.items()
        }
    return {name: future.result() for name, future in futures.items()}


def run(spark: SparkSession, source_dir: str) -> dict[str, tuple[int, int]]:
    """Ingest every source CSV under ``source_dir`` (``<name>.csv``) to
    ``raw.<name>``, all sources at once (one write job each, plus one
    quarantine append for a source with corrupt rows). Returns
    {name: (clean_rows, quarantined_rows)} in ``SOURCES`` order.

    A missing or failing source is error-logged and raised, matching the
    reference's fail-visibly behavior, but only after the other sources
    have finished: one failure no longer stops the sources after it."""
    return _ingest_concurrently(
        spark,
        {
            name: partial(
                ingest_csv,
                spark,
                path=f"{source_dir}/{name}.csv",
                schema=schema,
                table=f"raw.{name}",
                quarantine_table=QUARANTINE_TABLE,
                partition_by_date=by_date,
            )
            for name, schema, by_date in SOURCES
        },
    )


def _upsert_source(
    spark: SparkSession, path: str, name: str, schema: StructType, by_date: bool
) -> tuple[int, int]:
    """Upsert one delivered file into ``raw.<name>``; see ``run_incremental``."""
    table = f"raw.{name}"
    if not spark.catalog.tableExists(table):
        return ingest_csv(spark, path, schema, table, QUARANTINE_TABLE, partition_by_date=by_date)
    keys = list(SOURCE_KEYS[name])
    if by_date and "date" in keys:
        # partition column in the key => keys can't move partitions
        upsert = partial(
            maintenance.partition_upsert, spark, table, keys=keys, partition_cols=("year", "month")
        )
    else:
        upsert = partial(maintenance.merge_upsert, spark, table, keys=keys)
    return prepare_clean(spark, path, schema, upsert, QUARANTINE_TABLE, partition_by_date=by_date)


def run_incremental(
    spark: SparkSession, source_dir: str, batch_date
) -> dict[str, tuple[int, int]]:
    """Ingest ONE daily folder ``<source_dir>/YYYY/MM/DD/<name>.csv``
    (docx §Source layout), upserting into the existing ``raw.*`` tables,
    every delivered source at once:

    - date-partitioned facts → ``partition_upsert`` keyed on the natural
      key (only the touched year/month partitions rewrite; a re-delivered
      batch replays idempotently and corrected values win)
    - dimensions → ``merge_upsert`` on the natural key
    - a source whose ``raw.<name>`` does not exist yet is loaded by
      ``ingest_csv``, the full run's write (one write job, plus one
      quarantine append when it has corrupt rows)
    - a source absent from the day's folder is skipped (sources deliver
      on their own cadence), unlike the full run where absence raises
    - corrupt rows go to ``logs.quarantine`` only after the source's
      write succeeds (``csv_ingest.prepare_clean``, the same split as the
      full run), so a failed source quarantines nothing
    - a failing source is raised after the other sources have finished

    Returns {name: (rows_written, rows_quarantined)} for present
    sources, in ``SOURCES`` order, where rows_written counts rows
    PHYSICALLY WRITTEN by the branch taken — the whole post-merge table
    for ``merge_upsert`` (its portable path rewrites the table), only the
    affected partitions for ``partition_upsert``, the clean rows of the
    initial load on table creation. It is a write-cost metric, not "rows
    changed".
    Local existence probe is an ``os.path`` check; on an object store
    this is the same single LIST the reader would do anyway.
    """
    day_dir = f"{source_dir}/{batch_date:%Y/%m/%d}"
    return _ingest_concurrently(
        spark,
        {
            name: partial(_upsert_source, spark, f"{day_dir}/{name}.csv", name, schema, by_date)
            for name, schema, by_date in SOURCES
            if os.path.exists(f"{day_dir}/{name}.csv")
        },
    )
