"""Round-5 additions, batch 26: discount lift ladder, event-type
audience overlap, basket-size distribution, and the weekday x hour
activity heatmap.

Four more retail/ops staples over the same tables: the discount ladder
is the promotion-effectiveness read (does a deeper discount move more
units?); audience overlap is the cross-channel Jaccard every marketing
tool shows; basket size is THE grocery distribution; the weekday/hour
heatmap is the traffic fingerprint behind staffing and cache warming.

Determinism discipline as everywhere: exact integer counts and cents,
lift/share/Jaccard as single closed-form divisions at the boundary,
day-of-week via an explicitly aligned ISO formula (engines disagree on
week-start conventions, so neither engine's native numbering is
trusted).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from grocery_store_sales_forecasting_etl_pipeline_spark.plans._tables import table as _t
from grocery_store_sales_forecasting_etl_pipeline_spark.plans.registry import register

# ---------------------------------------------------------------------------
# Discount lift ladder
# ---------------------------------------------------------------------------

_LIFT_ORACLE = """
WITH lvl AS (
  SELECT CAST(round(l_discount * 100) AS BIGINT) AS discount_pct,
         CAST(count(*) AS BIGINT) AS n_lines,
         CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS total_qty,
         CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
           AS revenue_cents
  FROM lineitem GROUP BY 1
),
base AS (
  SELECT n_lines AS b_lines, total_qty AS b_qty
  FROM lvl WHERE discount_pct = 0
)
SELECT discount_pct, n_lines, total_qty, revenue_cents,
       round(total_qty * 1.0 / n_lines, 4) AS qty_per_line,
       round((total_qty * 1.0 / n_lines) / (base.b_qty * 1.0 / base.b_lines), 4)
         AS qty_lift
FROM lvl, base
"""


@register("discount_quantity_lift", oracle=_LIFT_ORACLE, tags=("agg", "stats"))
def discount_quantity_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Promotion-effectiveness ladder: for each discount level, the
    average units per line item and its lift over the zero-discount
    baseline — the first read a pricing analyst takes before any
    elasticity model.

    Scale notes: ONE shuffle folds line items to the ~11-row discount
    grain (map-side partials absorb everything); the baseline is a
    1-row broadcast of the SAME folded frame (checkpointed, so the
    fact scan runs once). Lift is a ratio of two exact-integer means,
    computed once per output row with the identical op order in both
    engines.
    """
    li = _t(spark, sf_dir, "lineitem")
    lvl = (
        li.groupBy(
            F.round(F.col("l_discount") * 100).cast("long").alias("discount_pct")
        )
        .agg(
            F.count("*").cast("long").alias("n_lines"),
            F.sum(F.round("l_quantity").cast("long")).cast("long").alias("total_qty"),
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("long"))
            .cast("long")
            .alias("revenue_cents"),
        )
        .localCheckpoint(eager=False)  # A/B sf1: 1.07 s with, 1.55 s without
    )
    base = lvl.filter(F.col("discount_pct") == 0).select(
        F.col("n_lines").alias("b_lines"), F.col("total_qty").alias("b_qty")
    )
    per_line = F.col("total_qty") * 1.0 / F.col("n_lines")
    base_per_line = F.col("b_qty") * 1.0 / F.col("b_lines")
    return lvl.crossJoin(base).select(
        "discount_pct",
        "n_lines",
        "total_qty",
        "revenue_cents",
        F.round(per_line, 4).alias("qty_per_line"),
        F.round(per_line / base_per_line, 4).alias("qty_lift"),
    )


# ---------------------------------------------------------------------------
# Event-type audience overlap
# ---------------------------------------------------------------------------

_OVERLAP_ORACLE = """
WITH tu AS (SELECT DISTINCT event_type, user_id FROM events),
sz AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_users
       FROM tu GROUP BY event_type),
pairs AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b,
         CAST(count(*) AS BIGINT) AS n_both
  FROM tu a JOIN tu b ON a.user_id = b.user_id AND a.event_type < b.event_type
  GROUP BY 1, 2
)
SELECT p.type_a, p.type_b, sa.n_users AS n_a, sb.n_users AS n_b, p.n_both,
       round(p.n_both * 1.0 / (sa.n_users + sb.n_users - p.n_both), 4)
         AS jaccard
FROM pairs p
JOIN sz sa ON sa.event_type = p.type_a
JOIN sz sb ON sb.event_type = p.type_b
"""


@register("event_audience_overlap", oracle=_OVERLAP_ORACLE, tags=("join", "agg"))
def event_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience overlap matrix: for every pair of event types, how many
    users did both and the Jaccard of their audiences — the
    cross-channel read behind 'do purchasers also click?'.

    Scale notes: the stream collapses to DISTINCT (type, user) FIRST
    (one shuffle with partial dedup), so the self-join fans out per
    user by their distinct-TYPE count — bounded by |event_types|, never
    by event volume; output is at most C(|types|, 2) rows at any scale.
    The distinct frame feeds the sizes, and the pair join — it is
    checkpointed once (multi-derivation rule: it is user-grain x
    |types|, the smallest frame in the plan). Type-grain sizes
    broadcast back onto the pair counts.
    """
    e = _t(spark, sf_dir, "events")
    # A/B sf0.1: 0.32 s with, 0.38 s without
    tu = e.select("event_type", "user_id").distinct().localCheckpoint(eager=False)
    sz = tu.groupBy("event_type").agg(F.count("*").cast("long").alias("n_users"))
    a = tu.select(F.col("event_type").alias("type_a"), "user_id")
    b = tu.select(F.col("event_type").alias("type_b"), "user_id")
    pairs = (
        a.join(b, "user_id")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count("*").cast("long").alias("n_both"))
    )
    return (
        pairs.join(
            sz.select(F.col("event_type").alias("type_a"), F.col("n_users").alias("n_a")),
            "type_a",
        )
        .join(
            sz.select(F.col("event_type").alias("type_b"), F.col("n_users").alias("n_b")),
            "type_b",
        )
        .select(
            "type_a",
            "type_b",
            "n_a",
            "n_b",
            "n_both",
            F.round(
                F.col("n_both") * 1.0 / (F.col("n_a") + F.col("n_b") - F.col("n_both")),
                4,
            ).alias("jaccard"),
        )
    )


# ---------------------------------------------------------------------------
# Basket-size distribution
# ---------------------------------------------------------------------------

_BASKET_ORACLE = """
WITH b AS (
  SELECT o.o_custkey, l.l_orderkey, c.c_mktsegment AS segment,
         CAST(count(*) AS BIGINT) AS basket_lines
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  GROUP BY 1, 2, 3
),
d AS (
  SELECT segment, basket_lines, CAST(count(*) AS BIGINT) AS n_orders
  FROM b GROUP BY segment, basket_lines
),
t AS (SELECT segment, CAST(sum(n_orders) AS BIGINT) AS seg_orders
      FROM d GROUP BY segment)
SELECT d.segment, d.basket_lines, d.n_orders,
       round(d.n_orders * 1.0 / t.seg_orders, 4) AS share
FROM d JOIN t ON d.segment = t.segment
"""


@register("basket_size_distribution", oracle=_BASKET_ORACLE, tags=("join", "agg"))
def basket_size_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE grocery distribution: how many line items a basket (order)
    carries, per market segment, with each size's share of the
    segment's orders — the curve assortment and checkout planning read
    first.

    Scale notes: the fact folds to order grain FIRST (one shuffle of
    the key-only projection with map-side partials — joining the raw
    fact to the order dim before folding measured 2.9x at 10x data;
    fold-then-join is flat), then the order-grain counts join the
    order-grain (orderkey, segment) dim on their shared key — the
    co-partitioned fact-fact shape that bucketing/AQE handles at
    100 TB. The (segment, size) distribution is bounded by
    max-basket-size x |segments| rows, and the segment totals derive
    from THAT tiny frame.
    """
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    counts = (
        li.select("l_orderkey")
        .groupBy("l_orderkey")
        .agg(F.count("*").cast("long").alias("basket_lines"))
    )
    dim = o.select("o_orderkey", "o_custkey").join(
        c.select("c_custkey", F.col("c_mktsegment").alias("segment")),
        F.col("o_custkey") == F.col("c_custkey"),
    ).select("o_orderkey", "segment")
    b = counts.join(dim, F.col("l_orderkey") == F.col("o_orderkey"))
    d = b.groupBy("segment", "basket_lines").agg(F.count("*").cast("long").alias("n_orders"))
    t = d.groupBy("segment").agg(F.sum("n_orders").cast("long").alias("seg_orders"))
    return d.join(t, "segment").select(
        "segment",
        "basket_lines",
        "n_orders",
        F.round(F.col("n_orders") * 1.0 / F.col("seg_orders"), 4).alias("share"),
    )


# ---------------------------------------------------------------------------
# Weekday x hour activity heatmap
# ---------------------------------------------------------------------------

# ISO day numbering built explicitly from a known-epoch formula so no
# engine's native week-start convention is trusted: 1970-01-01 was a
# Thursday, so isodow = ((days_since_epoch + 3) % 7) + 1.
_HEATMAP_ORACLE = """
WITH e AS (
  SELECT ((CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS BIGINT)
           + 3) % 7) + 1 AS isodow,
         CAST(hour(ts) AS BIGINT) AS hr
  FROM events
),
h AS (
  SELECT isodow, hr, CAST(count(*) AS BIGINT) AS n_events
  FROM e GROUP BY isodow, hr
),
t AS (SELECT CAST(sum(n_events) AS BIGINT) AS total FROM h)
SELECT isodow, hr, n_events,
       round(n_events * 1.0 / t.total, 4) AS share
FROM h, t
"""


@register("weekday_hour_activity_heatmap", oracle=_HEATMAP_ORACLE, tags=("agg", "events"))
def weekday_hour_activity_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Traffic fingerprint: event counts and corpus share per (ISO
    weekday, hour-of-day) cell — the 7x24 heatmap behind staffing,
    batch scheduling, and cache-warming windows.

    Scale notes: map-only time decomposition (the ISO weekday comes
    from an explicit epoch formula — engines disagree on native
    week-start numbering, so neither side's dayofweek is used), then
    ONE shuffle to the ≤168-row cell grain with map-side partials; the
    grand total derives from the same cell frame.
    """
    e = _t(spark, sf_dir, "events")
    h = (
        e.select(
            ((F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01").cast("date")) + 3)
             % 7 + 1)
            .cast("long")
            .alias("isodow"),
            F.hour("ts").cast("long").alias("hr"),
        )
        .groupBy("isodow", "hr")
        .agg(F.count("*").cast("long").alias("n_events"))
    )
    t = h.agg(F.sum("n_events").cast("long").alias("total"))
    return h.crossJoin(t).select(
        "isodow",
        "hr",
        "n_events",
        F.round(F.col("n_events") * 1.0 / F.col("total"), 4).alias("share"),
    )
