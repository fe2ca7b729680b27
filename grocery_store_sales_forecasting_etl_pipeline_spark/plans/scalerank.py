"""Scale-safe exact ranking / order-statistic building blocks.

An unpartitioned ``Window.orderBy`` over a fact-scale frame is a
single-task global sort — the one plan shape that cannot survive a 100×
scale-up. Every helper here computes the SAME exact integer ranks /
cumulative counts with a two-pass boundary-assignment scheme instead
(the ``nation_balance_quantile_map`` pattern, driver-hash-green in r7):

  pass 1  fold the fact rows to a COARSE value-bucket histogram — a
          domain-bounded frame (thousands of rows for any realistic
          value domain) — and take the cumulative bucket offsets there;
          the only unpartitioned window left runs on that bounded frame.
  pass 2  broadcast the offsets back and finish the rank inside each
          bucket with a PARTITIONED window (parallel across buckets).

The results are exact (same integers a global row_number would assign),
deterministic (total orders include the caller's tie-break columns), and
shuffle value-bucket-partitioned instead of single-partition.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window

__all__ = [
    "counts_to_cum",
    "value_cum_counts",
    "grouped_value_cum_counts",
    "bucketed_row_number",
    "ranked_points",
]


def _bucket(value_col: str, coarse_div: int) -> Column:
    # floor-division keeps the bucket id monotone in the value for
    # negatives too (floor(-5/10) = -1 < floor(5/10) = 0)
    return F.floor(F.col(value_col) / F.lit(coarse_div)).cast("long")


def counts_to_cum(
    vc: DataFrame, value_col: str, coarse_div: int, count_col: str = "c"
) -> DataFrame:
    """Add a ``cum`` column (count of rows with value <= this row's
    value) to a PRE-AGGREGATED value-grain frame ``vc`` holding one row
    per distinct value with its row count in ``count_col``. All other
    columns pass through. No global sort — see the module docstring.
    """
    src = vc.withColumn("_b", _bucket(value_col, coarse_div))
    bc = src.groupBy("_b").agg(F.sum(count_col).cast("long").alias("_bc"))
    # bounded frame: one row per coarse bucket — the unpartitioned
    # window here is over the bucket DOMAIN, not the data
    w_off = Window.orderBy("_b").rowsBetween(Window.unboundedPreceding, -1)
    off = bc.select(
        "_b", F.coalesce(F.sum("_bc").over(w_off), F.lit(0)).cast("long").alias("_off")
    )
    w_in = (
        Window.partitionBy("_b")
        .orderBy(value_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        # A/B sf1: 2.08 s with, 2.75 s without the hint
        src.join(F.broadcast(off), "_b")
        .withColumn(
            "cum",
            (F.col("_off") + F.sum(count_col).over(w_in)).cast("long"),
        )
        .drop("_b", "_off")
    )


def value_cum_counts(
    df: DataFrame, value_col: str, coarse_div: int
) -> DataFrame:
    """Value-grain cumulative counts without a global sort.

    Returns one row per distinct ``value_col`` with columns
    ``(value_col, c, cum)`` where ``c`` is the row count at that value
    and ``cum`` the count of rows with value <= it — the frame every
    exact order statistic (quantile edge, VaR, plotting position) reads
    from. ``coarse_div`` sets the bucket width of the pass-1 histogram;
    pick it so (value range / coarse_div) is a few thousand buckets.
    """
    vc = df.groupBy(value_col).agg(F.count("*").cast("long").alias("c"))
    return counts_to_cum(vc, value_col, coarse_div).select(value_col, "c", "cum")


def grouped_value_cum_counts(
    df: DataFrame, group_cols: list[str], value_col: str, coarse_div: int
) -> DataFrame:
    """Per-group value-grain cumulative counts without per-group
    fact-scale sorts — the grouped sibling of :func:`value_cum_counts`.

    A ``Window.partitionBy(group).orderBy(value)`` row_number over a
    fact frame is only as parallel as the GROUP cardinality: with 3
    groups, 3 tasks sort everything, and a 10× scale-up lands 10× rows
    on each (the quantile_bracket_audit sf1 pathology). Here the fact
    rows fold to a (group, value) histogram first (map-side combine),
    bucket offsets come from the bounded (group × bucket) frame, and the
    within-bucket cumulative is partitioned by (group, bucket) —
    parallel across buckets regardless of group cardinality.

    Returns one row per (group, distinct value):
    ``(*group_cols, value_col, c, cum)`` with ``c`` the row count at
    that value and ``cum`` the count of group rows with value <= it.
    """
    vc = df.groupBy(*group_cols, value_col).agg(
        F.count("*").cast("long").alias("c")
    )
    src = vc.withColumn("_b", _bucket(value_col, coarse_div))
    bc = src.groupBy(*group_cols, "_b").agg(F.sum("c").cast("long").alias("_bc"))
    w_off = (
        Window.partitionBy(*group_cols)
        .orderBy("_b")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    off = bc.select(
        *group_cols,
        "_b",
        F.coalesce(F.sum("_bc").over(w_off), F.lit(0)).cast("long").alias("_off"),
    )
    w_in = (
        Window.partitionBy(*group_cols, "_b")
        .orderBy(value_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        src.join(off, [*group_cols, "_b"])
        .withColumn("cum", (F.col("_off") + F.sum("c").over(w_in)).cast("long"))
        .drop("_b", "_off")
        .select(*group_cols, value_col, "c", "cum")
    )


def bucketed_row_number(
    df: DataFrame,
    value_col: str,
    tiebreak_cols: list[str],
    coarse_div: int,
    descending: bool = False,
    rank_col: str = "rn",
) -> DataFrame:
    """Exact 1-based global row_number over
    ``ORDER BY value_col [DESC], *tiebreak_cols`` without a global sort.

    Adds ``rank_col`` to ``df``. Pass-1 bucket offsets come from the
    coarse histogram (bounded); pass-2 is a row_number PARTITIONED by
    bucket — parallel, with per-task size ~ rows / n_buckets.
    """
    src = df.withColumn("_b", _bucket(value_col, coarse_div))
    bc = src.groupBy("_b").agg(F.count("*").cast("long").alias("_bc"))
    order_b = F.col("_b").desc() if descending else F.col("_b").asc()
    w_off = Window.orderBy(order_b).rowsBetween(Window.unboundedPreceding, -1)
    off = bc.select(
        "_b", F.coalesce(F.sum("_bc").over(w_off), F.lit(0)).cast("long").alias("_off")
    )
    in_order = [
        F.col(value_col).desc() if descending else F.col(value_col).asc()
    ] + [F.col(c).asc() for c in tiebreak_cols]
    w_in = Window.partitionBy("_b").orderBy(*in_order)
    return (
        src.join(off, "_b")
        .withColumn(
            rank_col,
            (F.col("_off") + F.row_number().over(w_in)).cast("long"),
        )
        .drop("_b", "_off")
    )


def ranked_points(
    cum_df: DataFrame, value_col: str, chunk: int = 65536
) -> DataFrame:
    """Regenerate the (value, rank) pairs — one row per ORIGINAL fact
    row, rank ``i`` running 1..n over ascending value — from a
    :func:`value_cum_counts` frame, fully distributed.

    For plotting-position statistics (Q-Q, Weibull probability plots)
    the per-row quantity depends only on (value, i), and any permutation
    of i within a value's tie-range yields the same multiset — so the
    pairs can be rebuilt from the value grain instead of ranking the
    fact rows. A two-level sequence-explode (value → rank-chunks →
    ranks) keeps every generator task at <= ``chunk`` output rows even
    when one value holds billions of ties.
    """
    lo = (F.col("cum") - F.col("c") + 1).alias("_lo")
    chunks = cum_df.select(
        value_col,
        F.col("cum").alias("_hi"),
        F.explode(F.sequence(lo, F.col("cum"), F.lit(chunk))).alias("_cs"),
    )
    # spread the chunk grain before the expensive explode so one
    # heavily-tied value doesn't pin all its chunks to one task
    chunks = chunks.repartition(F.col("_cs"))
    return chunks.select(
        value_col,
        F.explode(
            F.sequence(
                F.col("_cs"),
                F.least(F.col("_cs") + F.lit(chunk - 1), F.col("_hi")),
            )
        ).alias("i"),
    )
