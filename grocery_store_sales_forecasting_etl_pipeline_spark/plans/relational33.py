"""Round-5 additions, batch 33: the two remaining classical TPC-H
query shapes — Q12 (late-shipment priority pivot over a fact-fact
join) and Q20 (nested semi-join with a correlated share threshold).

The generator's schema lacks Q12's l_shipmode/l_commitdate/
l_receiptdate and Q20's partsupp entirely, so both shapes are
re-expressed over the columns that exist while keeping the plan
structure that makes them canonical: Q12's selective line filter +
orders join + conditional two-column pivot, and Q20's part-name
semi-filter -> per-(part,supplier) aggregate -> correlated per-part
threshold -> semi-join back up to the supplier dimension.

Determinism: money/quantity sums use the exact centi-unit BIGINT
idiom (see relational21.py); the Q20 dominance test compares
2*supplier_qty > part_total in exact integers, so the 0.5 boundary
can never float-flip between engines.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from grocery_store_sales_forecasting_etl_pipeline_spark.plans._tables import table as _t
from grocery_store_sales_forecasting_etl_pipeline_spark.plans.registry import register

# ---------------------------------------------------------------------------
# Late-shipment priority pivot (TPC-H Q12 shape)
# ---------------------------------------------------------------------------

_LATE_PRIORITY_ORACLE = """
SELECT l_returnflag,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
WHERE l_shipdate >= TIMESTAMP '1997-01-01'
  AND l_shipdate <  TIMESTAMP '1998-01-01'
  AND datediff('day', o_orderdate, l_shipdate) > 90
GROUP BY l_returnflag
"""


@register("late_ship_priority_matrix", oracle=_LATE_PRIORITY_ORACLE, tags=("join", "agg"))
def late_ship_priority_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: among 1997-shipped lines that went out more
    than 90 days after their order date, how many came from
    high-priority (1-URGENT/2-HIGH) vs lower-priority orders, per
    return flag — the "are urgent orders actually shipping late?"
    operations pivot. (The reference schema has no
    shipmode/commitdate/receiptdate, so the lateness predicate is
    order-to-ship lag and the grouping key is l_returnflag; the plan
    shape — selective line filter, orders join, conditional
    two-column pivot — is Q12's.)

    Scale notes: the ship-date range pushes to the lineitem scan
    (~1/5 of the fact); the lag predicate needs o_orderdate so it
    filters post-join. Both sides are facts, so this is the shuffle
    join Q12 is famous for — each side exchanges on orderkey with
    only 3 projected columns, and AQE picks shuffle-hash vs
    sort-merge by the filtered sizes. The pivot folds map-side into
    |returnflags| rows.
    """
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    filtered = li.filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    ).select("l_orderkey", "l_shipdate", "l_returnflag")
    joined = filtered.join(
        orders.select("o_orderkey", "o_orderdate", "o_orderpriority"),
        filtered.l_orderkey == F.col("o_orderkey"),
    ).filter(F.datediff(F.col("l_shipdate"), F.col("o_orderdate")) > 90)
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return joined.groupBy("l_returnflag").agg(
        F.sum(F.when(high, F.lit(1)).otherwise(F.lit(0)))
        .cast("long")
        .alias("high_line_count"),
        F.sum(F.when(high, F.lit(0)).otherwise(F.lit(1)))
        .cast("long")
        .alias("low_line_count"),
    )


# ---------------------------------------------------------------------------
# Dominant suppliers of a part family (TPC-H Q20 shape)
# ---------------------------------------------------------------------------

_DOMINANT_ORACLE = """
WITH ps AS (
  SELECT l_partkey, l_suppkey,
         CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT) AS cqty
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
    AND l_shipdate <  TIMESTAMP '1998-01-01'
    AND l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'small %')
  GROUP BY l_partkey, l_suppkey
),
dom AS (
  SELECT l_partkey, l_suppkey
  FROM (SELECT l_partkey, l_suppkey, cqty,
               sum(cqty) OVER (PARTITION BY l_partkey) AS part_cqty
        FROM ps)
  WHERE 2 * cqty > part_cqty
)
SELECT s_name,
       CAST(count(*) AS BIGINT) AS n_parts_dominated,
       CAST(min(l_partkey) AS BIGINT) AS example_partkey
FROM dom
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
WHERE n_name IN ('NATION_1', 'NATION_2', 'NATION_3', 'NATION_4', 'NATION_5')
GROUP BY s_name
"""


@register("part_dominant_suppliers", oracle=_DOMINANT_ORACLE, tags=("join", "agg", "window"))
def part_dominant_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: suppliers (in a named set of nations) that
    shipped MORE THAN HALF of a part family's 1997 volume for at
    least one part — the single-source supply-risk screen. The
    reference schema has no partsupp/ps_availqty, so the correlated
    threshold ("availqty > 0.5 * shipped qty") becomes "supplier's
    shipped qty > 0.5 * the part's total shipped qty", which keeps
    Q20's nested structure: name-filtered part semi-join, keyed
    aggregate, correlated per-part comparison, then up to the
    supplier dimension.

    Scale notes: the part-name filter runs on the part dim and only
    surviving KEYS broadcast into a semi-join on the date-pruned
    lineitem scan — the fact never shuffles for part filtering. The
    (part,supp) aggregate is the one fact-grain shuffle; the
    per-part total is a window over the already-reduced aggregate
    (second, much smaller exchange). Dominance compares exact
    centi-quantity BIGINTs, so the 0.5 boundary is engine-stable.
    supplier and nation broadcast. Output is bounded by |dominated
    parts| <= |part family|.
    """
    li = _t(spark, sf_dir, "lineitem")
    part_keys = (
        _t(spark, sf_dir, "part").filter(F.col("p_name").like("small %")).select("p_partkey")
    )
    ps = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
        )
        .join(part_keys, li.l_partkey == F.col("p_partkey"), "left_semi")
        .select(
            "l_partkey",
            "l_suppkey",
            F.round(F.col("l_quantity") * 100).cast("long").alias("cqty_row"),
        )
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum("cqty_row").cast("long").alias("cqty"))
    )
    part_total = F.sum("cqty").over(Window.partitionBy("l_partkey"))
    dom = ps.withColumn("part_cqty", part_total).filter(
        2 * F.col("cqty") > F.col("part_cqty")
    )
    sup = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name", "s_nationkey")
    nat = (
        _t(spark, sf_dir, "nation")
        .filter(F.col("n_name").isin(*[f"NATION_{i}" for i in range(1, 6)]))
        .select("n_nationkey")
    )
    return (
        dom.join(sup, dom.l_suppkey == sup.s_suppkey)
        .join(nat, sup.s_nationkey == F.col("n_nationkey"))
        .groupBy("s_name")
        .agg(
            F.count("*").cast("long").alias("n_parts_dominated"),
            F.min("l_partkey").cast("long").alias("example_partkey"),
        )
    )
