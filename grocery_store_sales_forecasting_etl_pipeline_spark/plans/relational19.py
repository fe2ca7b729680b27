"""Round-5 additions, batch 19: the remaining TPC-H query shapes —
correlated-minimum selection (Q2), single-scan band aggregate (Q6),
grouped distinct-count with a NOT-IN exclusion (Q16), and a
having-filtered semi-join back to the fact (Q18).

The generator ships no partsupp table, so the Q2/Q16 shapes run over
the (part, supplier) relationships lineitem itself witnesses — the
SHAPES (correlated min, NOT-IN anti-join under a grouped distinct
count) are what's under test, not the TPC-H constants. Money math is
decimal-exact to the output boundary as everywhere in this repo.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from grocery_store_sales_forecasting_etl_pipeline_spark.plans._tables import table as _t
from grocery_store_sales_forecasting_etl_pipeline_spark.plans.registry import register

_DEC = "decimal(18,2)"


# ---------------------------------------------------------------------------
# Q2 shape: correlated minimum — cheapest supplier per part
# ---------------------------------------------------------------------------

_CHEAPEST_ORACLE = """
WITH offer AS (
  SELECT l_partkey AS partkey, l_suppkey AS suppkey,
         min(CAST(round(l_extendedprice * 100) AS BIGINT)
             // CAST(l_quantity AS BIGINT)) AS unit_cents
  FROM lineitem
  GROUP BY l_partkey, l_suppkey
)
SELECT o.partkey, p_name,
       o.suppkey AS cheapest_suppkey, s_name, n_name AS supp_nation,
       o.unit_cents
FROM offer o
JOIN part     ON o.partkey = p_partkey
JOIN supplier ON o.suppkey = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
WHERE o.unit_cents = (
    SELECT min(unit_cents) FROM offer i WHERE i.partkey = o.partkey
  )
  AND o.suppkey = (
    SELECT min(suppkey) FROM offer i
    WHERE i.partkey = o.partkey AND i.unit_cents = o.unit_cents
  )
  AND p_size <= 10
"""


@register("cheapest_supplier_per_part", oracle=_CHEAPEST_ORACLE, tags=("join", "window", "tpch"))
def cheapest_supplier_per_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: for each (small) part, the supplier offering the
    lowest observed unit price — the correlated-subquery-on-minimum
    pattern, de-correlated into a per-part window rank (exact integer
    floor-cents unit price; suppkey tie-break makes the pick total).

    Scale notes: the (part, supplier) offer table is one map-side
    -combined aggregate off the fact scan; the min-selection is a
    window over partkey — same shuffle key the aggregate just produced,
    so AQE coalesces without a second exchange; dims broadcast after
    the p_size filter prunes. The oracle keeps the textbook correlated
    form (tie broken by min suppkey among the min-price offers) — the
    de-correlation is a plan choice, not a semantics change.
    """
    li = _t(spark, sf_dir, "lineitem")
    offer = (
        li.select(
            F.col("l_partkey").alias("partkey"),
            F.col("l_suppkey").alias("suppkey"),
            F.expr(
                "CAST(round(l_extendedprice * 100) AS BIGINT)"
                " DIV CAST(l_quantity AS BIGINT)"
            ).alias("uc"),
        )
        .groupBy("partkey", "suppkey")
        .agg(F.min("uc").alias("unit_cents"))
    )
    w = Window.partitionBy("partkey").orderBy("unit_cents", "suppkey")
    best = (
        offer.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    p = _t(spark, sf_dir, "part").filter(F.col("p_size") <= 10)
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    return (
        best.join(p, F.col("partkey") == F.col("p_partkey"))
        .join(s, F.col("suppkey") == F.col("s_suppkey"))
        .join(n, F.col("s_nationkey") == F.col("n_nationkey"))
        .select(
            "partkey",
            "p_name",
            F.col("suppkey").alias("cheapest_suppkey"),
            "s_name",
            F.col("n_name").alias("supp_nation"),
            "unit_cents",
        )
    )


# ---------------------------------------------------------------------------
# Q6 shape: single-scan band-predicate aggregate
# ---------------------------------------------------------------------------

_BAND_ORACLE = """
SELECT CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
                      CAST(l_discount AS DECIMAL(18,2))), 2) AS DOUBLE)
         AS promo_revenue,
       CAST(count(*) AS BIGINT) AS n_lines
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01'
  AND l_shipdate <  TIMESTAMP '1998-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
"""


@register("discount_band_revenue", oracle=_BAND_ORACLE, tags=("agg", "tpch"))
def discount_band_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: revenue impact of a discount band in one year —
    a pure single-scan aggregate whose entire cost is how much the
    scan prunes. The point at 100 TB: every predicate (date range,
    discount band, quantity cap) must reach the parquet reader as a
    PushedFilter, and with date-partitioned layout the year range
    becomes partition pruning — zero shuffle, one map-side-combined
    scalar.
    """
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
            & F.col("l_discount").between(0.05, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice").cast(_DEC) * F.col("l_discount").cast(_DEC)),
                2,
            )
            .cast("double")
            .alias("promo_revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


# ---------------------------------------------------------------------------
# Q16 shape: grouped distinct-count with NOT-IN exclusion
# ---------------------------------------------------------------------------

_SUPPCNT_ORACLE = """
SELECT p_type, p_size,
       CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE p_brand <> 'Brand#1'
  AND p_size IN (1, 4, 9, 16, 25, 36, 49)
  AND l_suppkey NOT IN (
    SELECT s_suppkey FROM supplier WHERE s_acctbal < 0
  )
GROUP BY p_type, p_size
"""


@register("part_supplier_counts", oracle=_SUPPCNT_ORACLE, tags=("join", "agg", "tpch"))
def part_supplier_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: how many distinct suppliers serve each
    (type, size) part segment, excluding a supplier denylist — grouped
    COUNT DISTINCT under dim filters plus a NOT-IN anti-join.

    Scale notes: the denylist subquery (negative-balance suppliers) is
    dim-sized → broadcast LEFT ANTI join, which is exactly NOT IN here
    because s_suppkey is non-null by construction (the NULL-semantics
    trap of NOT IN only bites nullable subquery columns). The distinct
    aggregate expands (type, size, suppkey) then counts — two shuffles
    with map-side partials; part prunes before its broadcast.
    """
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & F.col("p_size").isin(1, 4, 9, 16, 25, 36, 49)
    )
    deny = _t(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0).select(
        "s_suppkey"
    )
    return (
        li.join(deny, F.col("l_suppkey") == F.col("s_suppkey"), "left_anti")
        .join(p, F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_type", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
    )


# ---------------------------------------------------------------------------
# Q18 shape: HAVING-filtered keys semi-joined back to the facts
# ---------------------------------------------------------------------------

_LARGE_ORDERS_ORACLE = """
WITH big AS (
  SELECT l_orderkey
  FROM lineitem
  GROUP BY l_orderkey
  HAVING sum(CAST(l_quantity AS BIGINT)) > 250
)
SELECT c_name, o.o_orderkey, o.o_orderdate,
       CAST(round(CAST(o.o_totalprice AS DECIMAL(18,2)), 2) AS DOUBLE)
         AS totalprice,
       CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_qty
FROM orders o
JOIN big      ON o.o_orderkey = big.l_orderkey
JOIN customer ON o.o_custkey = c_custkey
JOIN lineitem ON o.o_orderkey = lineitem.l_orderkey
GROUP BY c_name, o.o_orderkey, o.o_orderdate, o.o_totalprice
"""


@register("large_quantity_orders", oracle=_LARGE_ORDERS_ORACLE, tags=("join", "agg", "tpch"))
def large_quantity_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: orders whose total line quantity exceeds a
    threshold (250 — selective at EVERY scale factor: per-order line
    counts are fixed by the generator, so the qualifying fraction does
    not grow with data volume; the r5 sf1 probe showed threshold 150
    qualifying 39% of orders and blowing the report join up 16x), re-joined to orders/customer/lineitem for the report —
    the aggregate-then-semi-join-back pattern (a HAVING filter used as
    a key generator).

    Scale notes: the HAVING aggregate and the final per-order aggregate
    share the orderkey shuffle key with the fact-fact join, so the
    whole plan runs in one partitioning lineage (AQE reuses it);
    customer broadcasts. The qualifying-key set is tiny but NOT
    broadcast by hint — at 100 TB its size is data-dependent, so the
    plan lets AQE pick broadcast vs shuffle at runtime from the
    measured size.
    """
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("long")).alias("q"))
        .filter(F.col("q") > 250)
        .select(F.col("l_orderkey").alias("big_orderkey"))
    )
    return (
        o.join(big, F.col("o_orderkey") == F.col("big_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("c_name", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(F.sum(F.col("l_quantity").cast("long")).alias("total_qty"))
        .select(
            "c_name",
            "o_orderkey",
            "o_orderdate",
            F.round(F.col("o_totalprice").cast(_DEC), 2).cast("double").alias("totalprice"),
            "total_qty",
        )
    )
