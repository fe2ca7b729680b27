"""Round-5 additions, batch 31: open-order backlog aging, a
difference-in-differences promo uplift estimate, and duplicate-invoice
detection.

Backlog aging is the operations report (how old is the unshipped
queue?); DiD is the causal-flavored promo read (did PROMO parts grow
FASTER than the baseline across the cutoff, not just grow?);
duplicate-invoice groups are the billing-audit classic — rows that
agree on every business attribute but carry different surrogate keys
(the inverse of keyed dedup, which trusts the key).

Determinism: ages in integer days bucketed by integer division against
a broadcast anchor; DiD is one closed-form expression over four exact
cent sums; duplicate groups compare exact integer cents and dates.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from grocery_store_sales_forecasting_etl_pipeline_spark.plans._tables import table as _t
from grocery_store_sales_forecasting_etl_pipeline_spark.plans.registry import register

# ---------------------------------------------------------------------------
# Open-order backlog aging
# ---------------------------------------------------------------------------

_AGING_ORACLE = """
WITH anchor AS (SELECT max(o_orderdate) AS mx FROM orders),
a AS (
  SELECT o.o_orderstatus AS status,
         least(CAST(date_diff('day', o.o_orderdate, anchor.mx) AS BIGINT) // 90, 7)
           AS age_bucket,
         CAST(round(o.o_totalprice * 100) AS BIGINT) AS cents
  FROM orders o, anchor
  WHERE o.o_orderstatus <> 'F'
)
SELECT status, age_bucket,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(cents) AS BIGINT) AS backlog_cents
FROM a GROUP BY status, age_bucket
"""


@register("orders_backlog_aging", oracle=_AGING_ORACLE, tags=("agg",))
def orders_backlog_aging(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backlog aging report: non-finalized orders bucketed by age in
    90-day bands (capped at 2 years) against the corpus-max order date,
    with order counts and the money stuck in each band — the
    operations read that turns 'we have open orders' into 'we have
    $2M stuck past 9 months'.

    Scale notes: the status filter pushes to the scan; the anchor is a
    1-row broadcast; bucketing is integer division (map-only) and the
    rollup folds to |statuses| x 8 rows with map-side partials.
    """
    o = _t(spark, sf_dir, "orders")
    anchor = o.agg(F.max("o_orderdate").alias("mx"))
    a = (
        o.filter(F.col("o_orderstatus") != "F")
        .crossJoin(anchor)
        .select(
            F.col("o_orderstatus").alias("status"),
            F.least(
                F.expr("CAST(datediff(mx, o_orderdate) AS BIGINT) DIV 90"), F.lit(7)
            ).alias("age_bucket"),
            F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        )
    )
    return a.groupBy("status", "age_bucket").agg(
        F.count("*").cast("long").alias("n_orders"),
        F.sum("cents").cast("long").alias("backlog_cents"),
    )


# ---------------------------------------------------------------------------
# Promo uplift (difference-in-differences)
# ---------------------------------------------------------------------------

_DID_CUTOFF = "1998-01-01"

_DID_ORACLE = f"""
WITH r AS (
  SELECT CASE WHEN p.p_type = 'PROMO' THEN 1 ELSE 0 END AS is_promo,
         CASE WHEN l.l_shipdate >= TIMESTAMP '{_DID_CUTOFF}' THEN 1 ELSE 0 END
           AS is_after,
         CAST(round(l.l_extendedprice * 100) AS BIGINT) AS cents
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
),
g AS (
  SELECT is_promo, is_after,
         CAST(count(*) AS BIGINT) AS n_lines,
         CAST(sum(cents) AS BIGINT) AS cents
  FROM r GROUP BY is_promo, is_after
),
w AS (
  SELECT
    max(CASE WHEN is_promo = 1 AND is_after = 0 THEN cents * 1.0 / n_lines END) AS pb,
    max(CASE WHEN is_promo = 1 AND is_after = 1 THEN cents * 1.0 / n_lines END) AS pa,
    max(CASE WHEN is_promo = 0 AND is_after = 0 THEN cents * 1.0 / n_lines END) AS cb,
    max(CASE WHEN is_promo = 0 AND is_after = 1 THEN cents * 1.0 / n_lines END) AS ca
  FROM g
)
SELECT g.is_promo, g.is_after, g.n_lines, g.cents,
       round(g.cents * 1.0 / g.n_lines, 4) AS mean_cents,
       round((w.pa - w.pb) - (w.ca - w.cb), 4) AS did_estimate
FROM g, w
"""


@register("promo_uplift_did", oracle=_DID_ORACLE, tags=("agg", "stats"))
def promo_uplift_did(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences promo uplift: mean line revenue of
    PROMO vs non-PROMO parts, before vs after the 1998 cutoff; the DiD
    estimate (Δpromo − Δcontrol) strips the market-wide shift the
    naive before/after comparison confuses with promo effect. Each of
    the four cells is reported alongside the single shared estimate.

    Scale notes: ONE scan, broadcast part lookup, fold to the 4-cell
    grain with map-side partials; every mean is one division of exact
    cents by an exact count, and the DiD combines the four cell means
    in a single closed-form expression replicated identically in both
    engines.
    """
    li = _t(spark, sf_dir, "lineitem")
    pt = _t(spark, sf_dir, "part")
    r = (
        li.join(pt.select("p_partkey", "p_type"), li.l_partkey == pt.p_partkey)
        .select(
            F.when(F.col("p_type") == "PROMO", F.lit(1)).otherwise(F.lit(0)).alias("is_promo"),
            F.when(
                F.col("l_shipdate") >= F.lit(f"{_DID_CUTOFF} 00:00:00").cast("timestamp"),
                F.lit(1),
            )
            .otherwise(F.lit(0))
            .alias("is_after"),
            F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents"),
        )
    )
    g = r.groupBy("is_promo", "is_after").agg(
        F.count("*").cast("long").alias("n_lines"),
        F.sum("cents").cast("long").alias("cents"),
    )

    def cell(promo, after):
        return F.max(
            F.when(
                (F.col("is_promo") == promo) & (F.col("is_after") == after),
                F.col("cents") * 1.0 / F.col("n_lines"),
            )
        )

    w = g.agg(
        cell(1, 0).alias("pb"), cell(1, 1).alias("pa"),
        cell(0, 0).alias("cb"), cell(0, 1).alias("ca"),
    )
    return g.crossJoin(w).select(
        "is_promo",
        "is_after",
        "n_lines",
        "cents",
        F.round(F.col("cents") * 1.0 / F.col("n_lines"), 4).alias("mean_cents"),
        F.round((F.col("pa") - F.col("pb")) - (F.col("ca") - F.col("cb")), 4).alias(
            "did_estimate"
        ),
    )


# ---------------------------------------------------------------------------
# Duplicate-invoice detection
# ---------------------------------------------------------------------------

_DUPINV_ORACLE = """
WITH g AS (
  SELECT o_custkey, o_orderdate,
         CAST(count(*) AS BIGINT) AS n_orders,
         CAST(count(DISTINCT CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS n_amounts,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS total_cents,
         CAST(min(o_orderkey) AS BIGINT) AS first_orderkey,
         CAST(max(o_orderkey) AS BIGINT) AS last_orderkey
  FROM orders
  GROUP BY o_custkey, o_orderdate
  HAVING count(*) > 1
)
SELECT o_custkey, o_orderdate, n_orders, n_amounts, total_cents,
       first_orderkey, last_orderkey,
       CAST(CASE WHEN n_amounts < n_orders THEN 1 ELSE 0 END AS BIGINT)
         AS has_identical_amounts
FROM g
"""


@register("duplicate_invoice_groups", oracle=_DUPINV_ORACLE, tags=("agg", "quality"))
def duplicate_invoice_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Billing audit: customers with MULTIPLE orders on the same day —
    the double-submission screen keyed dedup cannot see because each
    submission got its own surrogate key. Groups where distinct amounts
    < order count (two orders for the exact same cents) carry the
    strongest double-billing signal and are flagged.

    Scale notes: ONE shuffle on the composite business key with
    map-side partials (groups shrink before the shuffle); the HAVING
    keeps only multi-member groups, so output is bounded by the
    anomaly rate, not the table. Amounts compare as exact cents.
    """
    o = _t(spark, sf_dir, "orders")
    g = (
        o.select(
            "o_custkey",
            "o_orderdate",
            F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
            "o_orderkey",
        )
        .groupBy("o_custkey", "o_orderdate")
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            F.countDistinct("cents").cast("long").alias("n_amounts"),
            F.sum("cents").cast("long").alias("total_cents"),
            F.min("o_orderkey").cast("long").alias("first_orderkey"),
            F.max("o_orderkey").cast("long").alias("last_orderkey"),
        )
        .filter(F.col("n_orders") > 1)
    )
    return g.select(
        "o_custkey",
        "o_orderdate",
        "n_orders",
        "n_amounts",
        "total_cents",
        "first_orderkey",
        "last_orderkey",
        F.when(F.col("n_amounts") < F.col("n_orders"), F.lit(1))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("has_identical_amounts"),
    )
