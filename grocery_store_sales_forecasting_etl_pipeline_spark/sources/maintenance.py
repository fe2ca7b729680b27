"""Table maintenance: keyed upserts (the MERGE analog) on plain parquet
tables, and the SCD2 history merge.

The reference docx declares intent the notebooks never implement
(docx §"Data Write": "upsert to Silver" — SURVEY.md §4): the code
actually full-overwrites. This module supplies the real operations:

- ``merge_upsert``: keyed MERGE = target ∖ updates (left-anti) ∪ updates.
  Correct but rewrites the table — use for dims/small tables.
- ``partition_upsert``: the 100 TB path — only partitions present in the
  update batch are read and rewritten. Their values are collected and
  filter the target as literals, so the scan lists only those
  partitions, and the write is a dynamic partition overwrite. A daily
  1-partition update to a 3-year table costs 1/1000th of the full
  rewrite.
- ``scd2_merge``: fold a full dimension snapshot into a type-2 history.

Both upserts overwrite through ``rewrite_staged``: the new rows go to a
stage table, which is then ``insertInto``'d over the table.
"""

from __future__ import annotations

import operator
import threading
import uuid
from collections.abc import Sequence
from functools import reduce

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Observation, SparkSession

# partitionOverwriteMode is session-global and insertInto reads it when it
# plans: a concurrent caller restoring "static" mid-insert would turn a
# partition-scoped overwrite into a wipe of every other partition. Spark
# 4.1's insertInto ignores the per-write option, and
# writeTo().overwritePartitions() rejects v1 tables, so the flip and the
# insert are serialized instead.
_OVERWRITE_MODE_LOCK = threading.Lock()
_OVERWRITE_MODE = "spark.sql.sources.partitionOverwriteMode"


def rewrite_staged(spark: SparkSession, table: str, df: DataFrame, dynamic: bool = False) -> int:
    """Overwrite ``table`` with ``df`` through a stage table; returns the
    rows written, counted by an ``Observation`` on the stage write.

    ``df`` may read ``table`` (an upsert's merged plan does), so it is
    materialized first: a cache is no barrier, since lost blocks would
    recompute from the half-overwritten table. The insert selects the
    table's columns by name and keeps its schema and partitioning;
    ``dynamic`` overwrites only the partitions present in ``df``. The
    stage name is unique per call, so concurrent rewrites of one table
    never share a stage, and the stage is always dropped."""
    stage = f"{table}__stage_{uuid.uuid4().hex[:12]}"
    rows = Observation()
    try:
        df.observe(rows, F.count(F.lit(1)).alias("n")).write.mode("overwrite").format(
            "parquet"
        ).saveAsTable(stage)
        columns = spark.table(table).columns
        with _OVERWRITE_MODE_LOCK:
            prev = spark.conf.get(_OVERWRITE_MODE, "static")
            spark.conf.set(_OVERWRITE_MODE, "dynamic" if dynamic else "static")
            try:
                spark.table(stage).select(*columns).write.mode("overwrite").insertInto(table)
            finally:
                spark.conf.set(_OVERWRITE_MODE, prev)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {stage}")
    return rows.get["n"]


def merge_upsert(
    spark: SparkSession, table: str, updates: DataFrame, keys: Sequence[str]
) -> int:
    """Keyed upsert: rows in ``updates`` replace same-key rows in
    ``table``; new keys insert. Returns the new row count.

    One left-anti shuffle on the keys + union + a full ``rewrite_staged``.
    """
    target = spark.table(table)
    missing = set(target.columns) ^ set(updates.columns)
    if missing:
        raise ValueError(f"upsert schema mismatch on columns: {sorted(missing)}")
    kept = target.join(updates.select(*keys), on=list(keys), how="left_anti")
    return rewrite_staged(spark, table, kept.unionByName(updates))


def partition_upsert(
    spark: SparkSession,
    table: str,
    updates: DataFrame,
    keys: Sequence[str],
    partition_cols: Sequence[str],
) -> int:
    """Partition-scoped upsert: merge ``updates`` into only the
    partitions they touch, leaving every other partition unread and
    unwritten (dynamic partition overwrite —
    ``partitionOverwriteMode=dynamic``). One job collects the batch's
    partition values to the driver.

    Returns rows written. ``partition_cols`` must be the table's
    partitioning; update rows must carry them.

    Key-stability contract: a key is assumed to stay in its partition
    (the norm for date-partitioned facts, where the partition column is
    part of the key). If an update row re-homes an existing key to a
    DIFFERENT partition, the stale copy in the old partition survives —
    only affected partitions are scanned. ``pipeline.bronze`` routes a
    table here only when its date partition is part of its key
    (``SOURCE_KEYS``), so no key can move.
    """
    # the affected-partition set is small by construction (a daily batch
    # touches a few partitions): collected, it filters the target by
    # literals, which prunes the scan to those partitions at planning
    # time. A semi-join against the batch's distinct does not: dynamic
    # partition pruning needs a selective predicate on the batch side.
    affected = updates.select(*partition_cols).distinct().collect()
    in_batch = F.lit(False)
    for row in affected:
        in_batch = in_batch | reduce(
            operator.and_, (F.col(c) == v for c, v in zip(partition_cols, row))
        )
    target = spark.table(table)
    kept = target.filter(in_batch).join(updates.select(*keys), on=list(keys), how="left_anti")
    merged = kept.unionByName(updates.select(*target.columns))
    return rewrite_staged(spark, table, merged, dynamic=True)


def scd2_merge(
    current: DataFrame,
    snapshot: DataFrame,
    keys: Sequence[str],
    version: int,
    *,
    validate: bool = False,
) -> DataFrame:
    """Type-2 slowly-changing-dimension merge: fold a new full snapshot
    of a dimension into an SCD2 history table (attribute columns +
    ``valid_from``/``valid_to`` version stamps, ``valid_to IS NULL`` =
    open row). Per natural key:

    - attributes unchanged → the open row passes through untouched
    - attributes changed → the open row closes (``valid_to = version``)
      and a new open row starts (``valid_from = version``)
    - key absent from the snapshot → the open row closes (deletion)
    - key new in the snapshot → a new open row starts
    - already-closed rows are immutable history and pass through

    All snapshot attribute columns are tracked (null-safe comparison).
    The upsert pipeline (``merge_upsert``) keeps latest-only; this is
    the history-preserving variant a warehouse needs for
    point-in-time joins ("what segment was this customer in when the
    order shipped?").

    PRECONDITION: the natural key is unique in ``snapshot``, and
    ``current`` has at most one open row per key — duplicates fan out
    through the full-outer join and emit conflicting history rows.
    Pass ``validate=True`` to assert both with two cheap key-only
    aggregates before the merge (two extra jobs, so off by default;
    the single-join merge plan itself is unchanged either way).

    Scale notes: ONE equi-join of the open rows against the snapshot on
    the natural key, then a conditional array-explode emits 1-2 rows
    per key — branching via a union of filters would re-execute the
    join once per branch (4 scans). Closed history is unioned back
    without being read beyond its scan; at 100 TB, partition the
    history table by ``valid_to IS NULL`` so the merge reads only the
    open slice.
    """
    from functools import reduce
    from operator import or_

    attrs = [c for c in snapshot.columns if c not in keys]
    if validate:
        dup_snap = (
            snapshot.groupBy(*keys).count().filter(F.col("count") > 1).limit(1).collect()
        )
        if dup_snap:
            raise ValueError(
                f"scd2_merge: snapshot has duplicate natural keys, e.g. "
                f"{dup_snap[0].asDict()}"
            )
        dup_open = (
            current.filter(F.col("valid_to").isNull())
            .groupBy(*keys)
            .count()
            .filter(F.col("count") > 1)
            .limit(1)
            .collect()
        )
        if dup_open:
            raise ValueError(
                f"scd2_merge: current has multiple OPEN rows for a key, e.g. "
                f"{dup_open[0].asDict()}"
            )
    if not attrs:
        raise ValueError(
            "snapshot has no attribute columns beyond the keys — nothing "
            "to track; SCD2 needs at least one tracked attribute"
        )
    expected = [*keys, *attrs, "valid_from", "valid_to"]
    if sorted(current.columns) != sorted(expected):
        raise ValueError(
            f"current SCD2 columns {sorted(current.columns)} != {sorted(expected)}"
        )
    open_rows = current.filter(F.col("valid_to").isNull()).withColumn(
        "__in_cur", F.lit(1)
    )
    closed_rows = current.filter(F.col("valid_to").isNotNull())
    snap = snapshot.select(
        *[F.col(k) for k in keys],
        *[F.col(a).alias(f"__s_{a}") for a in attrs],
        F.lit(1).alias("__in_new"),
    )
    j = open_rows.join(snap, list(keys), "full_outer")
    in_cur = F.col("__in_cur").isNotNull()
    in_new = F.col("__in_new").isNotNull()
    changed = reduce(
        or_, [~F.col(a).eqNullSafe(F.col(f"__s_{a}")) for a in attrs]
    )
    ver = F.lit(version).cast("long")
    null_ver = F.lit(None).cast("long")
    cur_open = F.struct(
        *[F.col(a).alias(a) for a in attrs],
        F.col("valid_from").alias("valid_from"),
        F.col("valid_to").alias("valid_to"),
    )
    cur_closed = F.struct(
        *[F.col(a).alias(a) for a in attrs],
        F.col("valid_from").alias("valid_from"),
        ver.alias("valid_to"),
    )
    new_open = F.struct(
        *[F.col(f"__s_{a}").alias(a) for a in attrs],
        ver.alias("valid_from"),
        null_ver.alias("valid_to"),
    )
    out = (
        F.when(in_cur & in_new & ~changed, F.array(cur_open))
        .when(in_cur & in_new & changed, F.array(cur_closed, new_open))
        .when(in_cur & ~in_new, F.array(cur_closed))
        .otherwise(F.array(new_open))
    )
    merged = j.select(
        *[F.col(k) for k in keys], F.explode(out).alias("__r")
    ).select(*keys, "__r.*")
    return closed_rows.select(*merged.columns).unionByName(merged)
