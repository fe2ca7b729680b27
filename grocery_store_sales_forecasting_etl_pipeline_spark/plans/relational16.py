"""Relational operator queries, batch 16: the remaining distinctive
TPC-H join shapes the registry didn't yet exercise.

The reference's join surface is the 3-dim enrichment chain
(silver_processing.py.py:49-53); batches 7/8 added the Q5/Q8/Q10 star
shapes. This batch completes the classic decision-support patterns:

- Q7 shape  → ``nation_pair_trade``       (dual-role dim: the SAME
  nation table joined twice under different aliases, OR'd pair filter)
- Q9 shape  → ``product_type_profit``     (profit expression spanning
  two fact-side columns and a dim column, grouped by nation × year)
- Q13 shape → ``customer_order_distribution`` (filtered LEFT join +
  two-level aggregation: per-customer count, then a histogram of counts)
- Q19 shape → ``brand_size_disjunctive_rev``  (join whose residual is a
  3-branch disjunction of brand/size/quantity predicates)

Scale notes common to all four: every dim (nation, part, customer-side
build in Q13 stays fact-sized — see its note) broadcasts; the only
shuffles are the fact-fact lineitem ⋈ orders edge and the final
aggregations, which partial-aggregate map-side. Disjunctive residuals
(Q19) stay INSIDE the join condition so the join itself prunes rows —
Catalyst additionally extracts the common ``p_partkey`` equi-key, so it
plans as a broadcast hash join with a post-filter, not a BNLJ.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from grocery_store_sales_forecasting_etl_pipeline_spark.plans._tables import table as _t
from grocery_store_sales_forecasting_etl_pipeline_spark.plans.registry import register
from grocery_store_sales_forecasting_etl_pipeline_spark.plans.relational5 import _revenue_dec

_DEC = "decimal(18,2)"


# ---------------------------------------------------------------------------
# Q7 shape: nation-pair trade volume (nation dim joined twice)
# ---------------------------------------------------------------------------

_NATION_PAIR_ORACLE = """
SELECT supp_nation, cust_nation, l_year,
       CAST(round(sum(volume), 2) AS DOUBLE) AS trade_volume
FROM (
  SELECT n1.n_name AS supp_nation,
         n2.n_name AS cust_nation,
         CAST(year(l_shipdate) AS BIGINT) AS l_year,
         CAST(l_extendedprice AS DECIMAL(18,2)) *
           (1 - CAST(l_discount AS DECIMAL(18,2))) AS volume
  FROM lineitem
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation n1 ON s_nationkey = n1.n_nationkey
  JOIN nation n2 ON c_nationkey = n2.n_nationkey
  WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
      OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
    AND l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate <  TIMESTAMP '1998-01-01'
) shipping
GROUP BY supp_nation, cust_nation, l_year
"""


@register("nation_pair_trade", oracle=_NATION_PAIR_ORACLE, tags=("join", "agg", "tpch"))
def nation_pair_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: bilateral trade volume between two nations by ship
    year. The nation dim participates TWICE under different aliases
    (supplier side and customer side), with a disjunctive cross-alias
    pair filter that can't be pushed below either single join.

    Scale notes: both nation copies broadcast (two independent
    BroadcastHashJoins, no self-join shuffle); supplier and customer
    broadcast; the ship-date range pushes into the lineitem scan so the
    fact-fact shuffle carries only the two filtered years.
    """
    l = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    o = _t(spark, sf_dir, "orders")
    s = _t(spark, sf_dir, "supplier")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    n1 = n.select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = n.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    return (
        l.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(n1, F.col("s_nationkey") == F.col("n1_key"))
        .join(n2, F.col("c_nationkey") == F.col("n2_key"))
        .filter(pair)
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("long").alias("l_year"),
        )
        .agg(F.round(F.sum(_revenue_dec()), 2).cast("double").alias("trade_volume"))
    )


# ---------------------------------------------------------------------------
# Q9 shape: profit by supplier nation × order year
# ---------------------------------------------------------------------------

# The generator ships no partsupp table (TESTDATA.md), so supply cost is
# proxied by the part's retail price — the SHAPE (profit expression
# mixing fact columns with a dim column, aggregated over nation × year)
# is what's under test, not the TPC-H constants.
_PRODUCT_PROFIT_ORACLE = """
SELECT nation, o_year, CAST(round(sum(amount), 2) AS DOUBLE) AS sum_profit
FROM (
  SELECT n_name AS nation,
         CAST(year(o_orderdate) AS BIGINT) AS o_year,
         CAST(l_extendedprice AS DECIMAL(18,2)) *
           (1 - CAST(l_discount AS DECIMAL(18,2)))
           - CAST(p_retailprice AS DECIMAL(18,2)) *
             CAST(l_quantity AS DECIMAL(18,2)) AS amount
  FROM lineitem
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN part     ON l_partkey = p_partkey
  JOIN nation   ON s_nationkey = n_nationkey
  WHERE p_name LIKE '%gear%'
) profit
GROUP BY nation, o_year
"""


@register("product_type_profit", oracle=_PRODUCT_PROFIT_ORACLE, tags=("join", "agg", "tpch"))
def product_type_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: profit (revenue minus cost-proxy) by supplier
    nation and order year, restricted to parts whose name matches a
    substring. Exercises an arithmetic expression spanning two tables'
    columns evaluated per joined row, then aggregated two levels up.

    Scale notes: the part-name LIKE filter prunes the part dim BEFORE
    broadcast (the broadcast carries only matching parts, and the join
    itself then prunes the fact rows); supplier/nation broadcast; one
    fact-fact shuffle. All arithmetic is decimal-exact until the output
    round/cast, so the oracle hash is order-independent.
    """
    l = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    s = _t(spark, sf_dir, "supplier")
    p = _t(spark, sf_dir, "part").filter(F.col("p_name").like("%gear%"))
    n = _t(spark, sf_dir, "nation")
    amount = _revenue_dec() - F.col("p_retailprice").cast(_DEC) * F.col("l_quantity").cast(_DEC)
    return (
        l.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(p, F.col("l_partkey") == F.col("p_partkey"))
        .join(n, F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("long").alias("o_year"),
        )
        .agg(F.round(F.sum(amount), 2).cast("double").alias("sum_profit"))
    )


# ---------------------------------------------------------------------------
# Q13 shape: distribution of per-customer order counts (filtered left join)
# ---------------------------------------------------------------------------

_CUSTDIST_ORACLE = """
SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
FROM (
  SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS c_count
  FROM customer
  LEFT JOIN orders ON c_custkey = o_custkey
                  AND o_orderpriority <> '1-URGENT'
  GROUP BY c_custkey
) c_orders
GROUP BY c_count
"""


@register(
    "customer_order_distribution", oracle=_CUSTDIST_ORACLE, tags=("join", "agg", "tpch")
)
def customer_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: how many customers placed exactly N (non-urgent)
    orders, including N = 0. The predicate must live in the LEFT join's
    ON clause — filtering orders after the join would drop the zero
    -order customers that are the query's point.

    Scale notes: the left join shuffles both sides on custkey (customer
    is a fact-scale table at 100 TB — NOT broadcast); the first
    aggregation reuses that exact partitioning (no second shuffle — the
    groupBy key equals the join key), and only the tiny histogram
    aggregation re-shuffles, on ≤ a few hundred distinct counts.
    count(o_orderkey) counts non-null matches only, so unmatched
    customers land in bucket 0 in both engines.
    """
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return (
        c.join(
            o,
            (F.col("c_custkey") == F.col("o_custkey"))
            & (F.col("o_orderpriority") != "1-URGENT"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
        .groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
    )


# ---------------------------------------------------------------------------
# Q19 shape: disjunctive brand/size/quantity residual inside the join
# ---------------------------------------------------------------------------

_DISJUNCTIVE_ORACLE = """
SELECT CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
                      (1 - CAST(l_discount AS DECIMAL(18,2)))), 2) AS DOUBLE)
         AS revenue,
       CAST(count(*) AS BIGINT) AS n_lines
FROM lineitem
JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
       AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
       AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#3'  AND p_size BETWEEN 1 AND 15
       AND l_quantity BETWEEN 20 AND 30)
"""


@register(
    "brand_size_disjunctive_rev", oracle=_DISJUNCTIVE_ORACLE, tags=("join", "agg", "tpch")
)
def brand_size_disjunctive_rev(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: revenue from lineitem ⋈ part where the residual
    is a 3-branch disjunction mixing dim predicates (brand, size) with
    fact predicates (quantity) — the canonical "OR across both sides"
    join the optimizer must not turn into a cartesian product.

    Scale notes: Catalyst extracts the common ``p_partkey`` equi-key, so
    this plans as a BroadcastHashJoin with the disjunction as a post-join
    filter — verify with ``.explain()``: no BroadcastNestedLoopJoin. The
    single-side implications (p_brand ∈ {12,23,3}, p_size ≤ 15,
    l_quantity ≤ 30) are derivable filter weakenings; we state them
    explicitly so they PUSH INTO both scans (PushedFilters) instead of
    relying on the optimizer to infer them.
    """
    branches = (
        (F.col("p_brand") == "Brand#12")
        & F.col("p_size").between(1, 5)
        & F.col("l_quantity").between(1, 11)
    ) | (
        (F.col("p_brand") == "Brand#23")
        & F.col("p_size").between(1, 10)
        & F.col("l_quantity").between(10, 20)
    ) | (
        (F.col("p_brand") == "Brand#3")
        & F.col("p_size").between(1, 15)
        & F.col("l_quantity").between(20, 30)
    )
    # single-side weakenings, stated explicitly so they reach the scans
    l = _t(spark, sf_dir, "lineitem").filter(F.col("l_quantity").between(1, 30))
    p = _t(spark, sf_dir, "part").filter(
        F.col("p_brand").isin("Brand#12", "Brand#23", "Brand#3")
        & (F.col("p_size").between(1, 15))
    )
    return (
        l.join(p, F.col("p_partkey") == F.col("l_partkey"))
        .filter(branches)
        .agg(
            F.round(F.sum(_revenue_dec()), 2).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )
