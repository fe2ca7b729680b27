"""SparkSession factory.

Replaces the reference's implicit Databricks session
(``SparkSession.builder.getOrCreate()`` at bronze_ingestion.py.py:6) with an
explicit, portable local factory. Scale-relevant defaults are set here once
so every entry point (tests, bench, driver contract) gets the same plan
behavior:

- AQE on (runtime shuffle-partition coalescing, skew-join splitting,
  broadcast-join demotion/promotion) — SURVEY.md §4.
- Arrow on (vectorized toPandas / pandas_udf batches).
- ``spark.sql.shuffle.partitions`` sized for the test harness; on a real
  cluster AQE coalesces from this initial number, so a moderately large
  initial value is the right default at 100 TB too (AQE shrinks, it never
  grows beyond this for non-skew cases).
- session timezone pinned to UTC so date/timestamp semantics are stable
  across environments and match the DuckDB oracle.
- a codegen cache large enough for the engine's working set, so each
  generated class compiles once per session instead of once per pass.
  Spark keeps compiled classes in one LRU per JVM, keyed by source text
  and sized by a static conf read when the JVM first generates code; it
  holds 100 by default. Only a JVM whose first session ``get_spark``
  built gets the larger cache: the driver contract's vanilla session,
  and ``tools/verify_contract.py`` keep Spark's default.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"))
DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "*")


def _default_driver_mem() -> str:
    """Half of physical RAM in GiB, clamped to [4g, 32g].

    Keeps the single-JVM local heap inside RAM on small boxes while giving
    the 100x scale probe enough headroom on large ones.
    """
    try:
        ram_bytes = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
        gib = max(4, min(32, ram_bytes // (2 * 1024**3)))
    except (ValueError, OSError, AttributeError):
        gib = 8
    return f"{gib}g"


def get_spark(
    app_name: str = "grocery-engine",
    master: str | None = None,
    shuffle_partitions: int = DEFAULT_SHUFFLE_PARTITIONS,
    warehouse_dir: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    On a real cluster, pass ``master=None`` with externally-managed deploy
    config; locally defaults to ``local[$SPARK_GRAFT_CPUS]``.
    """
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.session.timeZone", "UTC")
        # columnar parquet scans read only the pruned columns; keep the
        # default vectorized reader explicitly on so .explain shows it
        .config("spark.sql.parquet.enableVectorizedReader", "true")
        # joins under this size auto-broadcast; dims in this engine are
        # region/nation/supplier/part-sized, far below 64 MB
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # local mode runs driver AND all 32 task slots in ONE JVM — an
        # 8g heap OOM-killed the SparkContext checkpointing a 58M-edge
        # graph at the 100x probe while the box sat at 125 GiB free;
        # size the heap to the machine: half of physical RAM, capped at
        # 32g, floored at 4g (override via SPARK_GRAFT_DRIVER_MEM)
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", _default_driver_mem()))
        .config("spark.ui.enabled", "false")
        # ContextCleaner reclaims shuffle files / broadcast / checkpoint
        # blocks only when the DRIVER JVM garbage-collects — and a large
        # heap under the default 30min periodicGC may simply never GC in
        # a long session, so a few hundred query executions accumulate
        # state until everything slows down (measured: 5-15x per-query
        # inflation by the tail of a 158-query full-registry bench).
        # Force a periodic driver GC so cleanup actually runs.
        .config("spark.cleaner.periodicGC.interval", "2min")
        # Spark's LRU of compiled classes holds 100 by default, fewer than
        # one pass compiles (measured with the cache unbounded, 4 cores):
        # 136 distinct classes in a perfbench eager_build pass, 165 in a
        # medallion_dag backfill plus 37 on the first daily batch, and
        # 5,352 in one bench.py registry pass at sf0.1. At 100 that pass
        # compiled 7,901 times and each warm eager_build pass recompiled
        # 107-129 classes. A power of two above the registry's count
        # ends that; the cached classes cost Metaspace (243 MB after the
        # registry pass, against 197 MB at 100).
        .config("spark.sql.codegen.cache.maxEntries", "8192")
    )
    if master is not None:
        builder = builder.master(master)
    elif not os.environ.get("SPARK_MASTER"):
        builder = builder.master(f"local[{DEFAULT_CPUS}]")
    if warehouse_dir:
        builder = builder.config("spark.sql.warehouse.dir", warehouse_dir)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
