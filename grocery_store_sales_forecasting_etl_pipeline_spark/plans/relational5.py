"""Relational operator queries, batch 5: subquery decorrelation shapes.

The reference has no subqueries (SURVEY.md §2.3 note: only left equi-joins),
but a general engine must cover the classic correlated-subquery query
shapes — EXISTS / NOT EXISTS, correlated scalar aggregates, and
CTE-with-scalar-max — because they are what Catalyst's
``RewriteCorrelatedScalarSubquery`` / ``RewritePredicateSubquery`` rules
decorrelate into joins. Each query here is written directly in the
decorrelated DataFrame form (semi/anti/aggregate-join) — the plan Spark
would produce anyway — while the DuckDB oracle states the correlated
original, proving the rewrite is semantics-preserving.

Shapes (TPC-H analogues, adapted to the driver's synthetic columns —
``lineitem`` lacks commit/receipt dates, so "late" means shipped >60 days
after the order date):

- Q4  → ``exists_late_orders``    (EXISTS  → left-semi join)
- Q11 → ``important_parts``       (HAVING > scalar-subquery of global agg)
- Q15 → ``top_revenue_supplier``  (CTE + scalar max equality)
- Q17 → ``small_qty_revenue``     (correlated scalar avg → aggregate-join)
- Q21 → ``lone_late_supplier``    (EXISTS + NOT EXISTS → semi + anti join)

Determinism: money sums in decimal(18,2) (exact, order-independent) cast
to double at the boundary; ``l_quantity`` is integral so double avg is
exact; both engines compare identical IEEE doubles.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from grocery_store_sales_forecasting_etl_pipeline_spark.plans._tables import table as _t
from grocery_store_sales_forecasting_etl_pipeline_spark.plans.registry import register

_DEC = "decimal(18,2)"


def _revenue_dec() -> F.Column:
    """Exact-decimal per-row revenue: extendedprice * (1 - discount)."""
    return F.col("l_extendedprice").cast(_DEC) * (
        F.lit(1).cast(_DEC) - F.col("l_discount").cast(_DEC)
    )


# ---------------------------------------------------------------------------
# Q4 shape: EXISTS → left-semi join
# ---------------------------------------------------------------------------

_EXISTS_LATE_ORACLE = """
SELECT o_orderpriority, count(*) AS n_orders
FROM orders o
WHERE EXISTS (
  SELECT 1 FROM lineitem l
  WHERE l.l_orderkey = o.o_orderkey
    AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
)
GROUP BY o_orderpriority
"""


@register("exists_late_orders", oracle=_EXISTS_LATE_ORACLE, tags=("join", "subquery", "tpch"))
def exists_late_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-priority count of orders with ≥1 late lineitem (TPC-H Q4
    shape). The correlated EXISTS (non-equi correlation on the order
    date) is a LEFT SEMI join in the engine — one probe per order, no
    duplicate inflation, no distinct needed.

    Scale notes: semi join shuffles both sides on orderkey once; the
    non-equi residual (shipdate > orderdate + 60d) evaluates inside the
    join, so no post-join filter pass. Both tables are fact-sized — no
    broadcast; AQE picks sort-merge.
    """
    o = _t(spark, sf_dir, "orders")
    l = _t(spark, sf_dir, "lineitem")
    has_late = o.join(
        l,
        (l["l_orderkey"] == o["o_orderkey"])
        & (l["l_shipdate"] > o["o_orderdate"] + F.expr("INTERVAL 60 DAY")),
        "left_semi",
    )
    return has_late.groupBy("o_orderpriority").agg(F.count("*").alias("n_orders"))


# ---------------------------------------------------------------------------
# Q11 shape: HAVING > scalar subquery over the same aggregate
# ---------------------------------------------------------------------------

_IMPORTANT_PARTS_ORACLE = """
WITH partval AS (
  SELECT l_partkey,
         sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
             (1 - CAST(l_discount AS DECIMAL(18,2)))) AS value_dec
  FROM lineitem
  GROUP BY l_partkey
)
SELECT l_partkey AS partkey,
       CAST(round(value_dec, 2) AS DOUBLE) AS part_value
FROM partval
WHERE CAST(value_dec AS DOUBLE) >
      (SELECT CAST(sum(value_dec) AS DOUBLE) * 0.00065 FROM partval)
"""


@register("important_parts", oracle=_IMPORTANT_PARTS_ORACLE, tags=("agg", "subquery", "tpch"))
def important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parts whose revenue exceeds 0.065% of global revenue (TPC-H Q11
    shape). The scalar subquery over the SAME aggregation decorrelates
    to: aggregate once, global-agg the result, broadcast the 1-row
    threshold back as a cross join.

    Scale notes: the per-part aggregate is computed ONCE and reused for
    both branches (vs the naive plan aggregating lineitem twice); the
    threshold side is 1 row — broadcast nested loop, no shuffle. Exact
    decimal sums make the > comparison engine-stable.
    """
    l = _t(spark, sf_dir, "lineitem")
    partval = l.groupBy("l_partkey").agg(F.sum(_revenue_dec()).alias("value_dec"))
    threshold = partval.agg(
        (F.sum("value_dec").cast("double") * F.lit(0.00065)).alias("__thresh")
    )
    return (
        partval.join(threshold)
        .filter(F.col("value_dec").cast("double") > F.col("__thresh"))
        .select(
            F.col("l_partkey").alias("partkey"),
            F.round("value_dec", 2).cast("double").alias("part_value"),
        )
    )


# ---------------------------------------------------------------------------
# Q15 shape: CTE + scalar max equality
# ---------------------------------------------------------------------------

_TOP_SUPPLIER_ORACLE = """
WITH revenue AS (
  SELECT l_suppkey AS suppkey,
         sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
             (1 - CAST(l_discount AS DECIMAL(18,2)))) AS total_dec
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
    AND l_shipdate <  TIMESTAMP '1998-01-01'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name,
       CAST(round(total_dec, 2) AS DOUBLE) AS total_revenue
FROM supplier JOIN revenue ON s_suppkey = suppkey
WHERE total_dec = (SELECT max(total_dec) FROM revenue)
"""


@register("top_revenue_supplier", oracle=_TOP_SUPPLIER_ORACLE, tags=("agg", "subquery", "tpch"))
def top_revenue_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier(s) with the maximum 1997 revenue (TPC-H Q15 shape).
    The view-then-scalar-max decorrelates to: aggregate once, take the
    1-row max, broadcast it back for the equality filter.

    Scale notes: ``revenue`` is supplier-cardinality (small); computed
    once, reused for max and filter. Equality on exact decimals — no
    float-max tie ambiguity. The supplier dim joins broadcast.
    """
    l = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    rev = (
        l.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
        )
        .groupBy(F.col("l_suppkey").alias("suppkey"))
        .agg(F.sum(_revenue_dec()).alias("total_dec"))
    )
    mx = rev.agg(F.max("total_dec").alias("__max_dec"))
    return (
        rev.join(mx)
        .filter(F.col("total_dec") == F.col("__max_dec"))
        .join(s, F.col("suppkey") == F.col("s_suppkey"))
        .select(
            "s_suppkey",
            "s_name",
            F.round("total_dec", 2).cast("double").alias("total_revenue"),
        )
    )


# ---------------------------------------------------------------------------
# Q17 shape: correlated scalar avg → aggregate-join
# ---------------------------------------------------------------------------

_SMALL_QTY_ORACLE = """
SELECT CAST(round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
                  / 7.0, 2) AS DOUBLE) AS avg_yearly
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE p_brand = 'Brand#23'
  AND l_quantity < (
    SELECT 0.5 * avg(l2.l_quantity)
    FROM lineitem l2
    WHERE l2.l_partkey = p_partkey
  )
"""


@register("small_qty_revenue", oracle=_SMALL_QTY_ORACLE, tags=("agg", "subquery", "tpch"))
def small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue from unusually-small-quantity lineitems of one brand
    (TPC-H Q17 shape). The correlated scalar ``avg`` per part
    decorrelates to a per-part aggregate joined back on partkey.

    Scale notes: per-part avg is one shuffle at part cardinality; the
    brand filter is pushed to the part scan and the brand dim side
    broadcasts, so lineitem is scanned once and probed twice map-side.
    ``l_quantity`` is integral → double avg is exact on both engines.
    """
    l = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#23")
    half_avg = l.groupBy("l_partkey").agg(
        (F.lit(0.5) * F.avg("l_quantity")).alias("__half_avg")
    )
    small = (
        l.join(p, F.col("l_partkey") == F.col("p_partkey"))
        .join(half_avg.withColumnRenamed("l_partkey", "__pk"), F.col("l_partkey") == F.col("__pk"))
        .filter(F.col("l_quantity") < F.col("__half_avg"))
    )
    return small.agg(
        F.round(
            F.sum(F.col("l_extendedprice").cast(_DEC)).cast("double") / F.lit(7.0), 2
        )
        .cast("double")
        .alias("avg_yearly")
    )


# ---------------------------------------------------------------------------
# Q21 shape: EXISTS + NOT EXISTS → semi join + anti join
# ---------------------------------------------------------------------------

_LONE_LATE_ORACLE = """
SELECT s_name, count(*) AS numwait
FROM supplier
JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
JOIN orders    ON o_orderkey = l1.l_orderkey
WHERE o_orderstatus = 'F'
  AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
  AND EXISTS (
    SELECT 1 FROM lineitem l2
    WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey
  )
  AND NOT EXISTS (
    SELECT 1 FROM lineitem l3
    WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
      AND l3.l_shipdate > o_orderdate + INTERVAL 60 DAY
  )
GROUP BY s_name
"""


@register("lone_late_supplier", oracle=_LONE_LATE_ORACLE, tags=("join", "subquery", "tpch"))
def lone_late_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suppliers solely responsible for late multi-supplier finished
    orders (TPC-H Q21 shape): EXISTS another supplier's lineitem in the
    order, NOT EXISTS another supplier's LATE lineitem. In the engine:
    the late set is materialized once, then semi-joined (other-supplier
    lineitem exists) and anti-joined (no other late supplier) against
    itself.

    Scale notes: the l3 subquery's correlation on o_orderdate is
    order-local, so the anti-join probes the ALREADY-REDUCED late set,
    not raw lineitem — the dominant cost is two orderkey shuffles of
    the late subset. Supplier dim joins broadcast.
    """
    o_f = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    l = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")

    late = (
        l.join(o_f, F.col("l_orderkey") == F.col("o_orderkey"))
        .filter(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAY"))
        .select("l_orderkey", "l_suppkey")
    )
    others = l.select(
        F.col("l_orderkey").alias("__ok"), F.col("l_suppkey").alias("__sk")
    )
    late_others = late.select(
        F.col("l_orderkey").alias("__lok"), F.col("l_suppkey").alias("__lsk")
    )
    multi = late.join(
        others,
        (F.col("l_orderkey") == F.col("__ok")) & (F.col("l_suppkey") != F.col("__sk")),
        "left_semi",
    )
    sole = multi.join(
        late_others,
        (F.col("l_orderkey") == F.col("__lok")) & (F.col("l_suppkey") != F.col("__lsk")),
        "left_anti",
    )
    return (
        sole.join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
    )
