"""Aggregation operators (reference A1-A8 generalized:
gold_feature.py.py:15-24, test_data_quality.py.py:76-93).

Everything here compiles to Catalyst HashAggregate with partial (map-side)
combine — the shuffle moves pre-aggregated partials, not raw rows. Money
sums go through exact decimal so results are order-independent (required
for both run-to-run stability and oracle hash-parity; see
plans/relational.py).
"""

from __future__ import annotations

from collections.abc import Sequence

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame


def money_sum(col: str, scale: int = 2) -> Column:
    """Order-independent sum of a currency column: cast to exact decimal,
    sum, surface as double."""
    return F.sum(F.col(col).cast(f"decimal(18,{scale})")).cast("double")


def conditional_count(cond: Column) -> Column:
    return F.count(F.when(cond, F.lit(1)))


def rollup_agg(df: DataFrame, keys: Sequence[str], aggs: dict[str, Column]) -> DataFrame:
    """ROLLUP over keys — subtotal rows carry nulls in the rolled-up key
    plus grouping-id for disambiguation."""
    # grouping_id must be produced by the grouping aggregate itself
    return df.rollup(*keys).agg(
        F.grouping_id(*keys).cast("long").alias("grouping_id"),
        *[c.alias(name) for name, c in aggs.items()],
    )


def cube_agg(df: DataFrame, keys: Sequence[str], aggs: dict[str, Column]) -> DataFrame:
    """CUBE over keys — all 2^n grouping sets in one pass (Catalyst
    expands then aggregates; still a single shuffle)."""
    return df.cube(*keys).agg(
        F.grouping_id(*keys).cast("long").alias("grouping_id"),
        *[c.alias(name) for name, c in aggs.items()],
    )
