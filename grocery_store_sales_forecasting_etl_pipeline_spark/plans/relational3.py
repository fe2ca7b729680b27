"""Relational operator queries, batch 3: pivot, cube, functionally-
dependent first/any_value aggregates, value-range window frames, and the
raw-SQL entry surface (spark.sql)."""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from grocery_store_sales_forecasting_etl_pipeline_spark.operators import aggregates as agg_ops
from grocery_store_sales_forecasting_etl_pipeline_spark.plans._tables import table as _t
from grocery_store_sales_forecasting_etl_pipeline_spark.plans.registry import register

# ---------------------------------------------------------------------------
# Pivot (wide conditional-aggregation matrix)
# ---------------------------------------------------------------------------

_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_P_ALIASES = ("urgent", "high", "medium", "not_specified", "low")

_PIVOT_ORACLE = """
SELECT
  o_orderstatus,
  {cols}
FROM orders
GROUP BY o_orderstatus
""".format(
    cols=",\n  ".join(
        f"count(CASE WHEN o_orderpriority = '{p}' THEN 1 END) AS n_{a}"
        for p, a in zip(_PRIORITIES, _P_ALIASES)
    )
)


@register("pivot_priority_matrix", oracle=_PIVOT_ORACLE, tags=("agg", "pivot"))
def pivot_priority_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Status × priority count matrix via ``pivot`` with an explicit
    value list (explicit values keep the plan single-pass — without them
    Spark runs an extra distinct job to discover columns).

    Scale notes: pivot with explicit values compiles to the same
    single-shuffle conditional-aggregate plan as the CASE-sum oracle.
    """
    orders = _t(spark, sf_dir, "orders")
    pivoted = (
        orders.groupBy("o_orderstatus")
        .pivot("o_orderpriority", list(_PRIORITIES))
        .agg(F.count(F.lit(1)))
    )
    renamed = pivoted.select(
        "o_orderstatus",
        *[F.coalesce(F.col(f"`{p}`"), F.lit(0)).alias(f"n_{a}") for p, a in zip(_PRIORITIES, _P_ALIASES)],
    )
    return renamed


# ---------------------------------------------------------------------------
# CUBE (all grouping sets)
# ---------------------------------------------------------------------------

_CUBE_ORACLE = """
SELECT
  l_returnflag,
  l_linestatus,
  CAST(grouping_id(l_returnflag, l_linestatus) AS BIGINT) AS grouping_id,
  count(*)                  AS n_items,
  round(sum(l_quantity), 2) AS sum_qty
FROM lineitem
GROUP BY CUBE(l_returnflag, l_linestatus)
"""


@register("cube_volume", oracle=_CUBE_ORACLE, tags=("agg",))
def cube_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (returnflag, linestatus): all 4 grouping sets in one
    hash-aggregate pass (operators/aggregates.py:cube_agg)."""
    li = _t(spark, sf_dir, "lineitem")
    return agg_ops.cube_agg(
        li,
        ["l_returnflag", "l_linestatus"],
        {
            "n_items": F.count("*"),
            "sum_qty": F.round(F.sum("l_quantity"), 2),
        },
    )


# ---------------------------------------------------------------------------
# first/any_value over functionally-dependent attributes (reference A3)
# ---------------------------------------------------------------------------

_FD_FIRST_ORACLE = """
SELECT
  o.o_custkey,
  count(*)           AS n_orders,
  min(c.c_name)      AS cust_name,       -- FD on custkey: min == first
  min(c.c_mktsegment) AS mktsegment
FROM orders o
JOIN customer c ON o.o_custkey = c.c_custkey
GROUP BY o.o_custkey
"""


@register("fd_first_agg", oracle=_FD_FIRST_ORACLE, tags=("agg",))
def fd_first_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``first()`` carrying functionally-dependent attributes through a
    group-by — the reference's pattern for store dims
    (gold_feature.py.py:18-21). first() is order-arbitrary in Spark, but
    FD columns make any survivor identical (SURVEY.md §5 gotcha — the
    oracle uses min(), equal by FD).
    """
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("o_custkey")
        .agg(
            F.count("*").alias("n_orders"),
            F.first("c_name").alias("cust_name"),
            F.any_value("c_mktsegment").alias("mktsegment"),
        )
    )


# ---------------------------------------------------------------------------
# Value-range window frame (RANGE BETWEEN on numeric ordering)
# ---------------------------------------------------------------------------

_RANGE_FRAME_ORACLE = """
SELECT
  user_id,
  event_id,
  round(value, 2) AS value,
  count(*) OVER (PARTITION BY user_id ORDER BY value
                 RANGE BETWEEN 5.0 PRECEDING AND CURRENT ROW) AS n_within_5,
  CAST(sum(CAST(value AS DECIMAL(18,6)))
       OVER (PARTITION BY user_id ORDER BY value
             RANGE BETWEEN 5.0 PRECEDING AND CURRENT ROW) AS DOUBLE) AS sum_within_5
FROM events
WHERE event_type = 'view'
"""


@register("range_frame_window", oracle=_RANGE_FRAME_ORACLE, tags=("window",))
def range_frame_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-frame window: for each view event, how many/much of the same
    user's events fall within 5.0 below its value — a value-distance
    frame, not a row-count frame (engine extension of reference W4).
    Decimal sum keeps the frame aggregate order-independent.
    """
    ev = _t(spark, sf_dir, "events").filter(F.col("event_type") == "view")
    # fractional RANGE offsets aren't expressible through the Python
    # Window API (int boundaries only) — use the SQL frame syntax
    frame = (
        "OVER (PARTITION BY user_id ORDER BY value "
        "RANGE BETWEEN 5.0 PRECEDING AND CURRENT ROW)"
    )
    return ev.select(
        "user_id",
        "event_id",
        F.round("value", 2).alias("value"),
        F.expr(f"count(*) {frame}").alias("n_within_5"),
        F.expr(f"CAST(sum(CAST(value AS DECIMAL(18,6))) {frame} AS DOUBLE)").alias(
            "sum_within_5"
        ),
    )


# ---------------------------------------------------------------------------
# Raw-SQL entry surface: the engine runs SQL strings over registered views
# ---------------------------------------------------------------------------

_SQL_TEXT = """
WITH nation_rev AS (
  SELECT
    n.n_name AS nation,
    CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
    count(*) AS n_orders
  FROM orders o
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n   ON c.c_nationkey = n.n_nationkey
  GROUP BY n.n_name
)
SELECT nation, revenue, n_orders,
       CAST(rank() OVER (ORDER BY revenue DESC, nation) AS BIGINT) AS revenue_rank
FROM nation_rev
"""


@register("sql_nation_revenue", oracle=_SQL_TEXT, tags=("sql",))
def sql_nation_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL-string entry point (S12 analog): ANSI SQL text over
    registered views — the IDENTICAL string is the DuckDB oracle, proving
    the engine's SQL surface is dialect-portable for ANSI constructs.
    """
    for t in ("orders", "customer", "nation"):
        _t(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(_SQL_TEXT)
