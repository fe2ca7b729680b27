"""Table sinks: path-based and BUCKETED writers plus incremental loads
(reference S6-S9 + the bucketing scale path SURVEY.md §4).

Bucketing is the 100 TB co-location story: two tables bucketed by the
same key into the same bucket count join with NO exchange on either side
(Catalyst sees compatible output partitioning) — at petabyte fact-fact
joins this removes the dominant shuffle entirely. Partitioning remains
the pruning story (year/month dirs → partition pruning)."""

from __future__ import annotations

import importlib.util
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession


def delta_enabled(spark: SparkSession) -> bool:
    """True when this session can actually write Delta: the
    ``delta-spark`` package is importable AND the session was built with
    the Delta SQL extension (importability alone is not enough — without
    the extension/catalog confs the write fails at commit time)."""
    if importlib.util.find_spec("delta") is None:
        return False
    ext = spark.conf.get("spark.sql.extensions", "") or ""
    return "DeltaSparkSessionExtension" in ext


def resolve_format(df: DataFrame, fmt: str | None) -> str:
    """Format-pluggable sink policy (reference writes
    ``format("delta")`` unconditionally, bronze_ingestion.py.py:27-29):
    an explicit ``fmt`` wins; ``None`` selects delta when the session
    supports it, else parquet — so the same pipeline code gets
    OPTIMIZE/VACUUM/MERGE-capable tables where delta-spark is installed
    and portable parquet everywhere else."""
    return fmt if fmt is not None else ("delta" if delta_enabled(df.sparkSession) else "parquet")


def write_path(
    df: DataFrame,
    path: str,
    partition_by: Sequence[str] = (),
    mode: str = "overwrite",
    fmt: str | None = "parquet",
) -> None:
    """S9: path-based sink (object-store layouts); URI parameterized
    rather than hard-coded (reference gold_feature.py.py:71).
    ``fmt=None`` → delta when available."""
    w = df.write.mode(mode).format(resolve_format(df, fmt))
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.save(path)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_by: Sequence[str],
    n_buckets: int,
    sort_by: Sequence[str] = (),
    mode: str = "overwrite",
) -> None:
    """Hash-bucketed (optionally sorted) managed table. Join two tables
    bucketed by the same keys/count and Catalyst plans a SortMergeJoin
    with ZERO exchanges (see tests/test_plans.py bucketed-join guard).
    Sorting within buckets additionally removes the join's sort step."""
    w = df.write.mode(mode).format("parquet").bucketBy(n_buckets, *bucket_by)
    if sort_by:
        w = w.sortBy(*sort_by)
    w.saveAsTable(table)


def load_incremental(
    spark: SparkSession, paths: Sequence[str], fmt: str = "parquet"
) -> DataFrame:
    """Multi-batch incremental load (docx §Source daily YYYY/MM/DD dirs):
    schema-tolerant unionByName across batches — later batches may add
    columns; missing ones null-fill."""
    out: DataFrame | None = None
    for p in paths:
        df = spark.read.format(fmt).load(p)
        out = df if out is None else out.unionByName(df, allowMissingColumns=True)
    return out
