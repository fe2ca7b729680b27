"""Shared table loaders for registered queries.

``events.parquet``'s ``ts`` physical type has varied across driver data
generations: TIMESTAMP(NANOS) (which Spark 4 refuses to read natively —
we read nanos as long via the legacy conf and rebuild micros, matching
DuckDB's own nanos→micros truncation) and plain TIMESTAMP(MICROS)
without the UTC-adjusted flag (which Spark reads directly as
TIMESTAMP_NTZ). ``events()`` branches on the landed dtype so either
generation yields the same TIMESTAMP_NTZ column.

Per-session DataFrame cache: a ``spark.read.parquet(path)`` call does
driver-side work (file listing + footer schema read + py4j round trips)
EVEN when repeated on an unchanged path in a warm session — measured at
sf0.1 on 4 cores, a fresh handle costs 62–139 ms per table against
at most ~1 ms for a cache hit, and a bench pass re-creates each
base-table frame inside every timed build (~2.5 reads/query). The cache
memoizes the LAZY DataFrame handle per (session, sf_dir, name) —
plan/metadata reuse only, exactly what a catalog table (or the guide §6
file-listing cache) provides. No data or results are cached: every
action on the returned frame recomputes from the parquet files, and
separate builds create fresh downstream plans (cross-action shuffle
reuse requires the SAME physical plan object, which sharing a leaf
relation does not create). A caller that rewrites files under an
already-read path mid-session must use a new ``sf_dir`` or session.
"""

from __future__ import annotations

import weakref

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

_TABLE_CACHE: weakref.WeakKeyDictionary[SparkSession, dict[tuple[str, str], DataFrame]] = (
    weakref.WeakKeyDictionary()
)


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    per_session = _TABLE_CACHE.setdefault(spark, {})
    key = (sf_dir, name)
    df = per_session.get(key)
    if df is None:
        df = _load(spark, sf_dir, name)
        per_session[key] = df
    elif name == "events":
        # r11 ADVICE: a cache hit used to skip events()'s session-conf
        # pins, so a test probe (or any code) unsetting nanosAsLong or
        # the UTC session TZ mid-session would make later actions on
        # the cached nanos-generation frame replan under the changed
        # conf. Re-pin on every hit — two cheap py4j conf sets, no jobs.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    return df


def _load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        return events(spark, sf_dir)
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def events(spark: SparkSession, sf_dir: str) -> DataFrame:
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # timestamp_micros produces TIMESTAMP (LTZ), and PySpark's collect
    # converts LTZ to Python datetimes via the PROCESS timezone — so a
    # driver running under TZ=America/New_York would see shifted wall
    # clocks while the oracle's naive timestamps never move. Pin the
    # session TZ to UTC and cast to TIMESTAMP_NTZ: the cast snapshots
    # the UTC wall clock into a TZ-independent type (NTZ collects
    # without any local-TZ conversion).
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    df = spark.read.parquet(f"{sf_dir}/events.parquet")
    return df.withColumn("ts", _ts_as_ntz(df))


def _ts_as_ntz(df: DataFrame):
    """Normalize whatever physical type ``ts`` landed as to TIMESTAMP_NTZ
    (UTC session assumed pinned by the caller)."""
    from pyspark.sql.types import LongType

    if isinstance(df.schema["ts"].dataType, LongType):
        # nanos-as-long generation; integer DIV — float division loses
        # precision above 2^53 ns
        return F.timestamp_micros(F.expr("ts DIV 1000")).cast("timestamp_ntz")
    return F.col("ts").cast("timestamp_ntz")
