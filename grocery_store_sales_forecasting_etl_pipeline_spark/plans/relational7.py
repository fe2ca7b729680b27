"""Relational operator queries, batch 7: multi-join star shapes.

The reference's join surface is a 3-dim enrichment chain
(silver_processing.py.py:49-53); a general engine must also handle the
deep star/snowflake joins of TPC-H — many dims, two fact tables, join
ordering and broadcast selection doing the heavy lifting:

- Q5 shape → ``region_nation_revenue``  (6-table snowflake, local join)
- Q8 shape → ``nation_market_share``    (conditional-agg market share)
- Q10 shape → ``returned_item_customers`` (fact-fact join + dim chain,
  grouped top-k)

Scale notes common to all three: region/nation/customer/supplier are
dims (broadcast; zero shuffle for their joins); only the
lineitem ⋈ orders fact-fact edge shuffles, on the orderkey both sides
already produce. Catalyst reorders the dim joins below the fact join so
dim filters (region name, date range) prune before the expensive edge.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from grocery_store_sales_forecasting_etl_pipeline_spark.plans._tables import table as _t
from grocery_store_sales_forecasting_etl_pipeline_spark.plans.registry import register
from grocery_store_sales_forecasting_etl_pipeline_spark.plans.relational5 import _revenue_dec

_DEC = "decimal(18,2)"


# ---------------------------------------------------------------------------
# Q5 shape: 6-table snowflake, revenue by nation for one region+year,
# with the "local" twist (customer and supplier in the SAME nation)
# ---------------------------------------------------------------------------

_REGION_NATION_ORACLE = """
SELECT n_name,
       CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
                      (1 - CAST(l_discount AS DECIMAL(18,2)))), 2) AS DOUBLE)
         AS revenue
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate <  TIMESTAMP '1997-01-01'
GROUP BY n_name
"""


@register("region_nation_revenue", oracle=_REGION_NATION_ORACLE, tags=("join", "agg", "tpch"))
def region_nation_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: revenue by nation for ASIA-local 1996 commerce —
    six tables, with the non-key equi-condition c_nationkey =
    s_nationkey making it a snowflake rather than a chain.

    Scale notes: region→nation prunes the supplier dim BEFORE the fact
    edge; customer/supplier/nation/region all broadcast; the only
    shuffle is lineitem ⋈ orders. The date filter pushes into the
    orders scan (PushedFilters), shrinking the shuffle's build side.
    """
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    )
    l = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        l.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(
            s,
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(n, F.col("s_nationkey") == F.col("n_nationkey"))
        .join(r, F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("n_name")
        .agg(F.round(F.sum(_revenue_dec()), 2).cast("double").alias("revenue"))
    )


# ---------------------------------------------------------------------------
# Q8 shape: market share via conditional aggregation over a join tree
# ---------------------------------------------------------------------------

_MARKET_SHARE_ORACLE = """
WITH all_sales AS (
  SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
         CAST(l_extendedprice AS DECIMAL(18,2)) *
           (1 - CAST(l_discount AS DECIMAL(18,2)))       AS volume,
         n_name                                          AS supp_nation
  FROM lineitem
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation   ON s_nationkey = n_nationkey
  JOIN region   ON n_regionkey = r_regionkey
  WHERE r_name = 'EUROPE'
)
SELECT o_year,
       round(CAST(sum(CASE WHEN supp_nation = 'GERMANY' THEN volume
                       ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
             / CAST(sum(volume) AS DOUBLE), 6)           AS mkt_share,
       CAST(round(sum(volume), 2) AS DOUBLE)             AS total_volume
FROM all_sales
GROUP BY o_year
"""


@register("nation_market_share", oracle=_MARKET_SHARE_ORACLE, tags=("join", "agg", "tpch"))
def nation_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: Germany's yearly share of EUROPE-supplied volume
    — a join tree feeding a conditional aggregate (share = CASE-summed
    numerator over total), the canonical "market share" pattern.

    Scale notes: one fact-fact shuffle; the share needs NO second pass —
    numerator and denominator are two aggregates over the same groups.
    Both sums are exact decimals cast to double before the one IEEE
    division, so the 6dp ratio is engine-stable.
    """
    l = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    volume = _revenue_dec()
    german = F.when(F.col("n_name") == "GERMANY", volume).otherwise(
        F.lit(0).cast(_DEC)
    )
    return (
        l.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(n, F.col("s_nationkey") == F.col("n_nationkey"))
        .join(r, F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy(F.year("o_orderdate").cast("long").alias("o_year"))
        .agg(
            F.round(
                F.sum(german).cast("double") / F.sum(volume).cast("double"), 6
            ).alias("mkt_share"),
            F.round(F.sum(volume), 2).cast("double").alias("total_volume"),
        )
    )


# ---------------------------------------------------------------------------
# Q10 shape: returned-item customers, grouped top-k
# ---------------------------------------------------------------------------

_RETURNED_ORACLE = """
SELECT c_custkey, c_name, n_name,
       CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
                      (1 - CAST(l_discount AS DECIMAL(18,2)))), 2) AS DOUBLE)
         AS lost_revenue
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1997-01-01'
  AND o_orderdate <  TIMESTAMP '1997-07-01'
GROUP BY c_custkey, c_name, n_name
ORDER BY lost_revenue DESC, c_custkey
LIMIT 20
"""


@register("returned_item_customers", oracle=_RETURNED_ORACLE, tags=("join", "agg", "sort", "tpch"))
def returned_item_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: top-20 customers by revenue lost to returns in
    1997H1 — fact-fact join, dim chain, group, ordered top-k with a
    unique tie-break (c_custkey).

    Scale notes: the returnflag and date filters push into both fact
    scans before the shuffle; the top-k compiles to
    TakeOrderedAndProject (no global sort of the grouped result).
    """
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-07-01 00:00:00").cast("timestamp"))
    )
    l = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = _t(spark, sf_dir, "nation")
    return (
        l.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(n, F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.round(F.sum(_revenue_dec()), 2).cast("double").alias("lost_revenue"))
        .orderBy(F.desc("lost_revenue"), F.asc("c_custkey"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Salted skew join (scale machinery surfaced under the contract)
# ---------------------------------------------------------------------------

_SALTED_JOIN_ORACLE = """
SELECT
  o.o_orderpriority,
  CAST(count(*) AS BIGINT) AS n_lines,
  CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2)) *
           (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
WHERE o.o_orderstatus = 'F'
GROUP BY o.o_orderpriority
"""


@register("salted_skew_join", oracle=_SALTED_JOIN_ORACLE, tags=("join", "scale"))
def salted_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The fact-fact lineitem ⋈ orders join routed through
    ``operators/joins.salted_join`` (8 salts): hot orderkeys spread over
    8 tasks instead of one, then the priority rollup. Salting is
    result-transparent — the oracle is the plain join — which is exactly
    the point: the contract pins that the skew machinery changes the
    EXECUTION, never the answer (operators/joins.py:63; AQE handles
    sort-merge skew, salting covers hash-aggregate feeds and bucketed
    inputs AQE can't split).

    Scale notes: right side replicated 8× (orders is the smaller fact),
    left shuffled on (key, salt) — per-task rows bounded by
    hot_key_rows / 8; exact decimal money math for hash parity.
    """
    from grocery_store_sales_forecasting_etl_pipeline_spark.operators.joins import salted_join

    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    orders = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey", "o_orderpriority")
        .withColumnRenamed("o_orderkey", "l_orderkey")
    )
    joined = salted_join(li, orders, on="l_orderkey", n_salts=8, how="inner")
    return joined.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_lines"),
        F.sum(
            F.col("l_extendedprice").cast("decimal(18,2)")
            * (F.lit(1) - F.col("l_discount").cast("decimal(18,2)"))
        )
        .cast("double")
        .alias("revenue"),
    )
