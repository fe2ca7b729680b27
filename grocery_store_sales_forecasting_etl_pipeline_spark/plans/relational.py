"""Relational operator queries (reference-parity surface, SURVEY.md §2).

Each query exercises one operator family from the reference, re-expressed
over the driver's TPC-H-ish tables. Builders are pure DataFrame-API: scans
stay lazy, filters/projections are declared up front so Catalyst pushes
them into the parquet scan, joins are broadcast where the build side is a
dim table.

Determinism rules (driver hash-matches against DuckDB at sf0.01):
- float outputs rounded to 2dp at the output boundary on BOTH sides;
- integer-valued computed columns cast to BIGINT on both sides;
- no ``first()`` aggregates unless functionally dependent on the keys;
- top-k always carries a unique tie-break column.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from grocery_store_sales_forecasting_etl_pipeline_spark.plans._tables import table as _t
from grocery_store_sales_forecasting_etl_pipeline_spark.plans.registry import register


# ---------------------------------------------------------------------------
# Flagship: weekly aggregation + lag/rolling window features
# (reference gold_feature.py.py:13-40 — A1/A2/A5, W1-W4, T1/T2/T4, D3)
# ---------------------------------------------------------------------------

_WEEKLY_LAG_ORACLE = """
WITH weekly AS (
  SELECT
    l_suppkey                                              AS suppkey,
    CAST(year(CAST(l_shipdate AS DATE)) AS BIGINT)         AS year,
    CAST(weekofyear(CAST(l_shipdate AS DATE)) AS BIGINT)   AS week,
    round(sum(l_quantity), 2)                              AS weekly_qty,
    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
             (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS weekly_revenue,
    count(*)                                               AS n_items
  FROM lineitem
  GROUP BY 1, 2, 3
)
SELECT * FROM (
  SELECT
    suppkey, year, week, weekly_qty, weekly_revenue, n_items,
    lag(weekly_qty, 1) OVER w                                                AS prev_week_qty,
    lag(weekly_qty, 2) OVER w                                                AS prev2_week_qty,
    round(avg(weekly_qty) OVER (w ROWS BETWEEN 4 PRECEDING AND 1 PRECEDING), 2) AS mean_last4_weeks
  FROM weekly
  WINDOW w AS (PARTITION BY suppkey ORDER BY year, week)
)
WHERE prev_week_qty IS NOT NULL
  AND prev2_week_qty IS NOT NULL
  AND mean_last4_weeks IS NOT NULL
"""


@register("weekly_lag_features", oracle=_WEEKLY_LAG_ORACLE, tags=("agg", "window", "flagship"))
def weekly_lag_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly shipped quantity/revenue per supplier with lag-1/lag-2 and
    trailing-4-week mean — the reference's gold feature shape
    (gold_feature.py.py:13-40) on lineitem.

    Scale notes: one shuffle for the group-by on (suppkey, year, week),
    one shuffle for the window on suppkey; AQE coalesces post-shuffle
    partitions. All expressions are JVM built-ins inside whole-stage
    codegen; the three window functions share a single Window physical
    node (same partition/order spec).
    """
    li = _t(spark, sf_dir, "lineitem")
    ship = F.to_date("l_shipdate")
    weekly = (
        li.groupBy(
            F.col("l_suppkey").alias("suppkey"),
            F.year(ship).cast("long").alias("year"),
            F.weekofyear(ship).cast("long").alias("week"),
        )
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("weekly_qty"),
            # money math in exact decimal: float sums are order-dependent at
            # the last bit, which flips round(x, 2) at cent boundaries and
            # breaks hash-parity with the oracle (and run-to-run stability)
            F.sum(
                F.col("l_extendedprice").cast("decimal(18,2)")
                * (F.lit(1) - F.col("l_discount").cast("decimal(18,2)"))
            )
            .cast("double")
            .alias("weekly_revenue"),
            F.count("*").alias("n_items"),
        )
    )
    w = Window.partitionBy("suppkey").orderBy("year", "week")
    return (
        weekly.withColumn("prev_week_qty", F.lag("weekly_qty", 1).over(w))
        .withColumn("prev2_week_qty", F.lag("weekly_qty", 2).over(w))
        .withColumn(
            "mean_last4_weeks",
            F.round(F.avg("weekly_qty").over(w.rowsBetween(-4, -1)), 2),
        )
        .na.drop(subset=["prev_week_qty", "prev2_week_qty", "mean_last4_weeks"])
    )


# ---------------------------------------------------------------------------
# 3-chained left equi-join enrichment (reference silver_processing.py.py:49-54
# — J1-J3, P6, P7, P9)
# ---------------------------------------------------------------------------

_DIM_ENRICH_ORACLE = """
SELECT
  o.o_orderkey,
  o.o_custkey,
  round(o.o_totalprice, 2)                       AS total_price,
  coalesce(c.c_mktsegment, 'UNKNOWN')            AS mktsegment,
  coalesce(n.n_name, 'UNKNOWN')                  AS nation,
  coalesce(r.r_name, 'UNKNOWN')                  AS region,
  CASE WHEN o.o_orderpriority = '1-URGENT' THEN TRUE ELSE FALSE END AS is_urgent
FROM orders o
LEFT JOIN customer c ON o.o_custkey = c.c_custkey
LEFT JOIN nation n   ON c.c_nationkey = n.n_nationkey
LEFT JOIN region r   ON n.n_regionkey = r.r_regionkey
"""


@register("dim_enrich_join", oracle=_DIM_ENRICH_ORACLE, tags=("join",))
def dim_enrich_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact enriched through a chain of left equi-joins to three dims with
    null-coalesce fill — the reference silver join chain
    (silver_processing.py.py:49-54).

    Scale notes: all three dims are broadcast (the planner broadcasts
    any side under the session's 64 MB threshold; customer/nation/region
    are orders-of-magnitude smaller than the fact), so the whole chain
    is broadcast-hash-joins with ZERO shuffles of the fact table — the
    plan a 100 TB fact requires.
    """
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    return (
        orders.join(customer, orders.o_custkey == customer.c_custkey, "left")
        .join(nation, customer.c_nationkey == nation.n_nationkey, "left")
        .join(region, nation.n_regionkey == region.r_regionkey, "left")
        .select(
            "o_orderkey",
            "o_custkey",
            F.round("o_totalprice", 2).alias("total_price"),
            F.coalesce("c_mktsegment", F.lit("UNKNOWN")).alias("mktsegment"),
            F.coalesce("n_name", F.lit("UNKNOWN")).alias("nation"),
            F.coalesce("r_name", F.lit("UNKNOWN")).alias("region"),
            F.when(F.col("o_orderpriority") == "1-URGENT", F.lit(True))
            .otherwise(F.lit(False))
            .alias("is_urgent"),
        )
    )


# ---------------------------------------------------------------------------
# Keyed dedup with deterministic survivor (reference D1,
# silver_processing.py.py:16 — oracle-safe via row_number)
# ---------------------------------------------------------------------------

_KEYED_DEDUP_ORACLE = """
SELECT user_id, event_type, event_id, ts, round(value, 2) AS value
FROM (
  SELECT user_id, event_type, event_id, ts, value,
         row_number() OVER (PARTITION BY user_id, event_type
                            ORDER BY ts, event_id) AS rn
  FROM events
)
WHERE rn = 1
"""


@register("keyed_dedup", oracle=_KEYED_DEDUP_ORACLE, tags=("dedup",))
def keyed_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep the earliest event per (user_id, event_type) — the engine's
    deterministic form of the reference's ``dropDuplicates(keys)``
    (silver_processing.py.py:16), with an explicit (ts, event_id)
    survivor order instead of arbitrary-survivor semantics.

    Scale notes: one shuffle on the dedup key; the row_number window and
    the filter fuse into a single stage. At 100 TB this beats
    ``dropDuplicates`` when a survivor policy matters, and AQE handles
    skewed keys.
    """
    events = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    return (
        events.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_type", "event_id", "ts", F.round("value", 2).alias("value"))
    )


# ---------------------------------------------------------------------------
# Projection / filter / predicate / cast block (P1-P9)
# ---------------------------------------------------------------------------

_FILTER_PROJECT_ORACLE = """
SELECT
  p_partkey,
  upper(p_brand)                                   AS brand,
  CAST(p_size AS BIGINT)                           AS size,
  round(p_retailprice, 2)                          AS retail_price,
  CASE WHEN p_size >= 30 THEN 'LARGE'
       WHEN p_size >= 10 THEN 'MEDIUM'
       ELSE 'SMALL' END                            AS size_class,
  CAST(round(p_retailprice) AS BIGINT)             AS price_int
FROM part
WHERE p_retailprice > 900.0 AND p_type IS NOT NULL
"""


@register("filter_project_cast", oracle=_FILTER_PROJECT_ORACLE, tags=("project", "filter"))
def filter_project_cast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Projection + predicate + conditional + cast block (reference P1-P9,
    e.g. silver_processing.py.py:32-43).

    Scale notes: the filter and the 4-column projection reach the parquet
    scan (PushedFilters + pruned ReadSchema) — the scan never reads
    p_name/p_type payloads it doesn't need.
    """
    part = _t(spark, sf_dir, "part")
    return part.filter((F.col("p_retailprice") > 900.0) & F.col("p_type").isNotNull()).select(
        "p_partkey",
        F.upper("p_brand").alias("brand"),
        F.col("p_size").cast("long").alias("size"),
        F.round("p_retailprice", 2).alias("retail_price"),
        F.when(F.col("p_size") >= 30, F.lit("LARGE"))
        .when(F.col("p_size") >= 10, F.lit("MEDIUM"))
        .otherwise(F.lit("SMALL"))
        .alias("size_class"),
        F.round("p_retailprice", 0).cast("long").alias("price_int"),
    )


# ---------------------------------------------------------------------------
# Whole-table (no-group) aggregate (A6-A8, dict-style aggs in
# test_data_quality.py.py:76,89)
# ---------------------------------------------------------------------------

_GLOBAL_AGG_ORACLE = """
SELECT
  count(*)                                    AS n_rows,
  count(DISTINCT o_custkey)                   AS n_customers,
  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)            AS sum_price,
  round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / count(*), 2) AS avg_price,
  round(min(o_totalprice), 2)                 AS min_price,
  round(max(o_totalprice), 2)                 AS max_price
FROM orders
"""


@register("global_agg", oracle=_GLOBAL_AGG_ORACLE, tags=("agg",))
def global_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-table min/max/sum/avg/count + count-distinct (reference A6-A8).

    Scale notes: partial aggregation map-side, single-row final — no
    full-table shuffle; count(distinct) expands to a two-stage aggregate
    planned by Catalyst.
    """
    orders = _t(spark, sf_dir, "orders")
    return orders.agg(
        F.count("*").alias("n_rows"),
        F.countDistinct("o_custkey").alias("n_customers"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("sum_price"),
        F.round(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double") / F.count("*"), 2
        ).alias("avg_price"),
        F.round(F.min("o_totalprice"), 2).alias("min_price"),
        F.round(F.max("o_totalprice"), 2).alias("max_price"),
    )


# ---------------------------------------------------------------------------
# Sort + top-k with deterministic tie-break (SURVEY §2.10 extension)
# ---------------------------------------------------------------------------

_TOPK_ORACLE = """
SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS total_price, o_orderpriority
FROM orders
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 25
"""


@register("topk_orders", oracle=_TOPK_ORACLE, tags=("sort",))
def topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-25 orders by price, orderkey tie-break.

    Scale notes: Spark plans TakeOrderedAndProject — per-partition heap
    top-k then a k-row merge at the driver; no global sort of the table.
    """
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(25)
        .select(
            "o_orderkey",
            "o_custkey",
            F.round("o_totalprice", 2).alias("total_price"),
            "o_orderpriority",
        )
    )
