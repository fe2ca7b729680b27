"""Round-5 additions, batch 36: cross-grain reconciliation — does the
order header's total equal the sum of its line charges? The
invoice-vs-ledger audit every billing/ETL pipeline runs, and the one
audit class the registry lacked (header↔detail value reconciliation,
vs batch 32's sequence integrity and batch 35's key integrity).

The generator's o_totalprice is in fact INDEPENDENT of the lineitem
charges (0 orders reconcile, 257 are childless at sf0.01), so on this
data the audit reports a full deviation distribution — exactly what
makes it a non-trivial contract row: the buckets, counts, and drift
sums must match the oracle over real spread, not over all-zeros.

Determinism: all money in exact integer centi-cent products (the
relational21 idiom squared out to discount AND tax); bucket edges via
integer cross-multiplication, never float division.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from grocery_store_sales_forecasting_etl_pipeline_spark.plans._tables import table as _t
from grocery_store_sales_forecasting_etl_pipeline_spark.plans.registry import register

# line charge in 8-implied-decimal integers:
#   round(extprice*100) * (100 - round(disc*100)) * (100 + round(tax*100))
# then half-up re-rounded to cents with +5e5 // 1e6 (positive values),
# exact and identical in both engines. Headroom: |row| <= ~1e13, so a
# per-order BIGINT sum holds to ~1e5 lines/order.
_RECON_ORACLE = """
WITH ls AS (
  SELECT l_orderkey,
         CAST(count(*) AS BIGINT) AS n_lines,
         (sum(CAST(round(l_extendedprice * 100) AS BIGINT)
              * (100 - CAST(round(l_discount * 100) AS BIGINT))
              * (100 + CAST(round(l_tax * 100) AS BIGINT))) + 500000)
           // 1000000 AS charge_cents
  FROM lineitem GROUP BY 1
),
j AS (
  SELECT o_orderkey,
         CAST(round(o_totalprice * 100) AS BIGINT) AS total_cents,
         n_lines, charge_cents,
         CASE
           WHEN n_lines IS NULL THEN 'no_lines'
           WHEN total_cents = charge_cents THEN 'exact'
           WHEN abs(total_cents - charge_cents) * 100 <= total_cents
             THEN 'within_1pct'
           WHEN abs(total_cents - charge_cents) * 10 <= total_cents
             THEN 'within_10pct'
           ELSE 'over_10pct'
         END AS bucket
  FROM orders LEFT JOIN ls ON o_orderkey = l_orderkey
)
SELECT bucket,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(CASE WHEN charge_cents IS NULL THEN 0
                     ELSE abs(total_cents - charge_cents) END) AS BIGINT)
         AS abs_drift_cents,
       CAST(min(o_orderkey) AS BIGINT) AS example_orderkey
FROM j GROUP BY bucket
"""


@register("order_total_reconciliation", oracle=_RECON_ORACLE, tags=("join", "agg", "quality"))
def order_total_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Header↔detail reconciliation: per order, the header total vs
    the exact sum of line charges (extprice·(1−disc)·(1+tax)),
    classified into exact / within-1% / within-10% / over-10% /
    no-lines buckets with the total absolute drift per bucket — the
    invoice-vs-ledger audit. A healthy warehouse is all 'exact'; this
    generator's headers are independent of their lines, so the audit
    surfaces a full deviation distribution (and 257 childless orders
    at sf0.01) — either way the report is non-empty and hashable.

    Scale notes: one lineitem fold to order grain (map-side partials,
    exact integer centi-cent products), then an order-grain LEFT join
    — both sides are order-grain, so this is one shuffle each under
    AQE (or co-located for free if both tables are bucketed by
    orderkey). Bucketing compares integers
    cross-multiplied — no float ever enters. Output ≤ 5 rows.
    """
    li = _t(spark, sf_dir, "lineitem")
    # the per-order sum stays in LONG (≤7 lines × ≤1e13/row — see the
    # headroom note above); the half-up cents re-round is an exact
    # decimal floor because Spark's / on longs is a double divide
    ls = li.groupBy("l_orderkey").agg(
        F.count("*").cast("long").alias("n_lines"),
        F.floor(
            (
                F.sum(
                    F.round(F.col("l_extendedprice") * 100).cast("long")
                    * (F.lit(100) - F.round(F.col("l_discount") * 100).cast("long"))
                    * (F.lit(100) + F.round(F.col("l_tax") * 100).cast("long"))
                ).cast("decimal(38,0)")
                + F.lit(500000)
            )
            / F.lit(1000000)
        )
        .cast("long")
        .alias("charge_cents"),
    )
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("total_cents"),
    )
    j = o.join(ls, o.o_orderkey == ls.l_orderkey, "left")
    diff = F.abs(F.col("total_cents") - F.col("charge_cents"))
    bucket = (
        F.when(F.col("n_lines").isNull(), F.lit("no_lines"))
        .when(F.col("total_cents") == F.col("charge_cents"), F.lit("exact"))
        .when(diff * 100 <= F.col("total_cents"), F.lit("within_1pct"))
        .when(diff * 10 <= F.col("total_cents"), F.lit("within_10pct"))
        .otherwise(F.lit("over_10pct"))
    )
    return (
        j.select("o_orderkey", "total_cents", "charge_cents", bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            F.sum(
                F.when(F.col("charge_cents").isNull(), F.lit(0)).otherwise(
                    F.abs(F.col("total_cents") - F.col("charge_cents"))
                )
            )
            .cast("long")
            .alias("abs_drift_cents"),
            F.min("o_orderkey").cast("long").alias("example_orderkey"),
        )
    )
