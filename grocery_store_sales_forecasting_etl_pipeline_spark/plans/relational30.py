"""Round-5 additions, batch 30: quarter-over-quarter growth, the
event-lateness (watermark-sizing) audit, and brand repeat-purchase
rates.

Growth rates are the last missing BI staple (level vs trend vs
GROWTH); the lateness audit is the batch-side measurement that SIZES
the streaming family's watermarks (how late does data actually
arrive?); repeat rate is the loyalty metric grocery category managers
live by.

Determinism: growth is one closed-form division of exact cent sums
per row; lateness is integer microsecond arithmetic over a per-user
running max; repeat rates divide exact customer counts.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from grocery_store_sales_forecasting_etl_pipeline_spark.plans._tables import table as _t
from grocery_store_sales_forecasting_etl_pipeline_spark.plans.registry import register

# ---------------------------------------------------------------------------
# Quarter-over-quarter growth per region
# ---------------------------------------------------------------------------

_QOQ_ORACLE = """
WITH q AS (
  SELECT r.r_name AS region,
         CAST(year(o.o_orderdate) * 10 + quarter(o.o_orderdate) AS BIGINT) AS yq,
         CAST(count(*) AS BIGINT) AS n_orders,
         CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS rev_cents
  FROM orders o
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  JOIN region r ON n.n_regionkey = r.r_regionkey
  GROUP BY 1, 2
),
g AS (
  SELECT region, yq, n_orders, rev_cents,
         lag(rev_cents) OVER (PARTITION BY region ORDER BY yq) AS prev_cents
  FROM q
)
SELECT region, yq, n_orders, rev_cents, prev_cents,
       CASE WHEN prev_cents IS NULL THEN NULL
            ELSE round((rev_cents - prev_cents) * 1.0 / prev_cents, 4)
       END AS qoq_growth
FROM g
"""


@register("region_quarter_growth", oracle=_QOQ_ORACLE, tags=("agg", "window"))
def region_quarter_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quarter-over-quarter revenue growth per region — the growth-rate
    read (level vs trend vs GROWTH) every exec dashboard leads with;
    first quarters report NULL rather than a fake zero.

    Scale notes: ONE shuffle folds orders to the (region, quarter)
    grain (dims broadcast onto the fact); the lag window runs over a
    calendar-bounded frame (|regions| x quarters), |regions|-way
    parallel. Growth is one closed-form division of exact cent sums.
    """
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    na = _t(spark, sf_dir, "nation")
    re = _t(spark, sf_dir, "region")
    dim = (
        c.select("c_custkey", "c_nationkey")
        .join(na.select("n_nationkey", "n_regionkey"),
              F.col("c_nationkey") == F.col("n_nationkey"))
        .join(re.select("r_regionkey", F.col("r_name").alias("region")),
              F.col("n_regionkey") == F.col("r_regionkey"))
        .select("c_custkey", "region")
    )
    q = (
        o.select(
            "o_custkey",
            (F.year("o_orderdate") * 10 + F.quarter("o_orderdate")).cast("long").alias("yq"),
            F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        )
        .join(dim, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("region", "yq")
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            F.sum("cents").cast("long").alias("rev_cents"),
        )
    )
    w = Window.partitionBy("region").orderBy("yq")
    g = q.withColumn("prev_cents", F.lag("rev_cents").over(w))
    return g.select(
        "region",
        "yq",
        "n_orders",
        "rev_cents",
        "prev_cents",
        F.when(F.col("prev_cents").isNull(), F.lit(None).cast("double"))
        .otherwise(
            F.round((F.col("rev_cents") - F.col("prev_cents")) * 1.0 / F.col("prev_cents"), 4)
        )
        .alias("qoq_growth"),
    )


# ---------------------------------------------------------------------------
# Event lateness audit (watermark sizing)
# ---------------------------------------------------------------------------

_LATENESS_ORACLE = """
WITH p AS (
  SELECT user_id, event_id, epoch_us(ts) AS us,
         date_trunc('hour', ts) AS hour
  FROM events
),
l AS (
  SELECT hour,
         greatest(CAST(coalesce(max(us) OVER (PARTITION BY user_id
                  ORDER BY event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), us) - us
                  AS BIGINT), 0) AS late_us
  FROM p
)
SELECT hour,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CASE WHEN late_us > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_late,
       CAST(max(late_us) // 1000000 AS BIGINT) AS max_lateness_s,
       round(sum(CASE WHEN late_us > 0 THEN 1 ELSE 0 END) * 1.0 / count(*), 4)
         AS late_frac
FROM l GROUP BY hour
"""


@register("event_lateness_audit", oracle=_LATENESS_ORACLE, tags=("events", "window"))
def event_lateness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-orderness audit: treating event_id as arrival order, how
    far each event's timestamp lags the latest timestamp its user has
    already delivered — per event-hour, the late fraction and the
    worst lateness in seconds. This is the measurement that SIZES the
    streaming family's watermarks: a watermark below max_lateness_s
    silently drops rows, one far above it holds state for nothing.

    Scale notes: ONE shuffle partitions events by user for the running
    max over arrival order (per-user frames parallelize; a GLOBAL
    running max would be a single-partition scan of the stream); the
    hour rollup is calendar-bounded. NULL running max (each user's
    first arrival) clamps to lateness 0 via greatest.

    The first event per user has NULL running-max; greatest(NULL-diff)
    semantics differ across engines, so the NULL is coalesced before
    the clamp on both sides.
    """
    e = _t(spark, sf_dir, "events")
    p = e.select(
        "user_id",
        "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
        F.date_trunc("hour", F.col("ts")).cast("timestamp_ntz").alias("hour"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    l = p.select(
        "hour",
        F.greatest(
            (F.coalesce(F.max("us").over(w), F.col("us")) - F.col("us")).cast("long"),
            F.lit(0),
        ).alias("late_us"),
    )
    return l.groupBy("hour").agg(
        F.count("*").cast("long").alias("n_events"),
        F.sum(F.when(F.col("late_us") > 0, F.lit(1)).otherwise(F.lit(0)))
        .cast("long")
        .alias("n_late"),
        F.expr("CAST(max(late_us) DIV 1000000 AS BIGINT)").alias("max_lateness_s"),
        F.round(
            F.sum(F.when(F.col("late_us") > 0, F.lit(1)).otherwise(F.lit(0)))
            * 1.0
            / F.count("*"),
            4,
        ).alias("late_frac"),
    )


# ---------------------------------------------------------------------------
# Brand repeat-purchase rate
# ---------------------------------------------------------------------------

_REPEAT_ORACLE = """
WITH cb AS (
  SELECT p.p_brand AS brand, o.o_custkey,
         CAST(count(DISTINCT o.o_orderkey) AS BIGINT) AS n_orders
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN part p ON l.l_partkey = p.p_partkey
  GROUP BY 1, 2
)
SELECT brand,
       CAST(count(*) AS BIGINT) AS n_buyers,
       CAST(sum(CASE WHEN n_orders >= 2 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_repeat,
       round(sum(CASE WHEN n_orders >= 2 THEN 1 ELSE 0 END) * 1.0 / count(*), 4)
         AS repeat_rate
FROM cb GROUP BY brand
"""


@register("brand_repeat_rate", oracle=_REPEAT_ORACLE, tags=("join", "agg"))
def brand_repeat_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Loyalty read: per brand, how many customers ever bought it and
    what fraction came back for a second ORDER containing it — the
    repeat-purchase rate category managers rank assortments by.

    Scale notes: the brand lookup broadcasts onto the fact; the fact
    folds to (brand, customer) grain with a distinct-order count (one
    shuffle; partial_count(distinct orderkey) stays map-side until the
    final fold); the brand rollup reduces the customer-grain frame to
    |brands| rows. The fact-fact orderkey join resolves custkey — the
    co-partitioned shape.
    """
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    pt = _t(spark, sf_dir, "part")
    cb = (
        li.select("l_orderkey", "l_partkey")
        .join(pt.select("p_partkey", F.col("p_brand").alias("brand")),
              F.col("l_partkey") == F.col("p_partkey"))
        .join(o.select("o_orderkey", "o_custkey"), F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("brand", "o_custkey")
        .agg(F.countDistinct("o_orderkey").cast("long").alias("n_orders"))
    )
    return cb.groupBy("brand").agg(
        F.count("*").cast("long").alias("n_buyers"),
        F.sum(F.when(F.col("n_orders") >= 2, F.lit(1)).otherwise(F.lit(0)))
        .cast("long")
        .alias("n_repeat"),
        F.round(
            F.sum(F.when(F.col("n_orders") >= 2, F.lit(1)).otherwise(F.lit(0)))
            * 1.0
            / F.count("*"),
            4,
        ).alias("repeat_rate"),
    )
