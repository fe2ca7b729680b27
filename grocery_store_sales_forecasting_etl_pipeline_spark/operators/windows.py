"""Window operators (reference W1-W4 generalized: gold_feature.py.py:27-38;
the gold layer's own lag/rolling features live in ``pipeline/gold.py``)."""

from __future__ import annotations

from collections.abc import Sequence

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window


def topk_per_group(
    df: DataFrame, partition_by: Sequence[str], order_by: Sequence, k: int
) -> DataFrame:
    """Deterministic per-group top-k via row_number filter.

    Scales as one shuffle + per-partition sort; for very hot groups AQE
    skew handling splits the partition. ``order_by`` must break ties.
    """
    w = Window.partitionBy(*partition_by).orderBy(*order_by)
    return df.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") <= k).drop("__rn")
