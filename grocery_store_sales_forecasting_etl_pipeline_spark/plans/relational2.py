"""Relational operator queries, batch 2: semi/anti joins, rollup/cube,
as-of join, range join, conditional aggregation, string/date functions,
set ops, ranking windows, percentiles, and two TPC-H-style analytics
queries. Extends the reference surface per SURVEY.md §2.3/§2.4/§2.8-2.10.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from grocery_store_sales_forecasting_etl_pipeline_spark.operators import (
    aggregates as agg_ops,
    joins as join_ops,
    windows as win_ops,
)
from grocery_store_sales_forecasting_etl_pipeline_spark.plans._tables import table as _t
from grocery_store_sales_forecasting_etl_pipeline_spark.plans.registry import register

# ---------------------------------------------------------------------------
# Left-semi / left-anti joins (engine extension of reference J1-J3)
# ---------------------------------------------------------------------------

_SEMI_ANTI_ORACLE = """
WITH with_orders AS (
  SELECT c_mktsegment, count(*) AS n_with_orders
  FROM customer c
  WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
  GROUP BY c_mktsegment
),
without_orders AS (
  SELECT c_mktsegment, count(*) AS n_without_orders
  FROM customer c
  WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
  GROUP BY c_mktsegment
)
SELECT
  coalesce(w.c_mktsegment, wo.c_mktsegment) AS mktsegment,
  coalesce(w.n_with_orders, 0)              AS n_with_orders,
  coalesce(wo.n_without_orders, 0)          AS n_without_orders
FROM with_orders w
FULL OUTER JOIN without_orders wo ON w.c_mktsegment = wo.c_mktsegment
"""


@register("semi_anti_join", oracle=_SEMI_ANTI_ORACLE, tags=("join",))
def semi_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per market segment: customers with orders (left-semi) vs without
    (left-anti), full-outer recombined.

    Scale notes: semi/anti shuffle only the join key of the right side
    (orders reduced to o_custkey); the two branch aggregates are partial
    map-side. The final full-outer join is segment-cardinality (tiny).
    """
    customer = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").select(F.col("o_custkey").alias("c_custkey"))
    with_o = (
        join_ops.semi_join(customer, orders, "c_custkey")
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_with_orders"))
    )
    without_o = (
        join_ops.anti_join(customer, orders, "c_custkey")
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_without_orders"))
    )
    wo = without_o.withColumnRenamed("c_mktsegment", "seg2")
    return (
        with_o.join(wo, with_o.c_mktsegment == wo.seg2, "full_outer")
        .select(
            F.coalesce("c_mktsegment", "seg2").alias("mktsegment"),
            F.coalesce("n_with_orders", F.lit(0)).alias("n_with_orders"),
            F.coalesce("n_without_orders", F.lit(0)).alias("n_without_orders"),
        )
    )


# ---------------------------------------------------------------------------
# ROLLUP aggregation (engine extension of reference A1 — SURVEY §2.4)
# ---------------------------------------------------------------------------

_ROLLUP_ORACLE = """
SELECT
  o_orderpriority,
  o_orderstatus,
  CAST(grouping_id(o_orderpriority, o_orderstatus) AS BIGINT) AS grouping_id,
  count(*) AS n_orders,
  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_revenue
FROM orders
GROUP BY ROLLUP(o_orderpriority, o_orderstatus)
"""


@register("rollup_revenue", oracle=_ROLLUP_ORACLE, tags=("agg",))
def rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order counts/revenue by (priority, status) with ROLLUP subtotals
    and grand total.

    Scale notes: Catalyst expands rollup to grouping sets inside one
    hash aggregate — a single shuffle regardless of how many subtotal
    levels; no re-scan per level.
    """
    orders = _t(spark, sf_dir, "orders")
    return agg_ops.rollup_agg(
        orders,
        ["o_orderpriority", "o_orderstatus"],
        {
            "n_orders": F.count("*"),
            "total_revenue": agg_ops.money_sum("o_totalprice"),
        },
    )


# ---------------------------------------------------------------------------
# As-of join (engine extension — SURVEY §2.3 note on as-of enrichment)
# ---------------------------------------------------------------------------

_ASOF_ORACLE = """
WITH purchases AS (
  SELECT user_id, event_id, ts, value FROM events WHERE event_type = 'purchase'
),
clicks AS (
  -- dedupe equal-ts clicks deterministically (keep max event_id)
  SELECT user_id, event_id, ts, value FROM (
    SELECT *, row_number() OVER (PARTITION BY user_id, ts ORDER BY event_id DESC) rn
    FROM events WHERE event_type = 'click'
  ) WHERE rn = 1
)
SELECT
  p.user_id,
  p.event_id,
  p.ts,
  round(p.value, 2)       AS purchase_value,
  c.event_id              AS click_event_id,
  round(c.value, 2)       AS click_value
FROM purchases p
ASOF LEFT JOIN clicks c
  ON p.user_id = c.user_id AND p.ts >= c.ts
"""


@register("asof_click_attribution", oracle=_ASOF_ORACLE, tags=("join", "asof"))
def asof_click_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Attach to each purchase the most recent click at-or-before it by
    the same user — backward as-of join, the canonical time-series
    enrichment the reference lacks (SURVEY §2.3: forward-fill design
    note).

    Scale notes: implemented as union + forward-fill window
    (operators/joins.py:asof_join) — one shuffle on user_id, no row
    explosion; both sides may be arbitrarily large, unlike a nested-loop
    range join.
    """
    events = _t(spark, sf_dir, "events")
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "user_id", "event_id", "ts", "value"
    )
    clicks = win_ops.topk_per_group(
        events.filter(F.col("event_type") == "click").select("user_id", "event_id", "ts", "value"),
        partition_by=["user_id", "ts"],
        order_by=[F.col("event_id").desc()],
        k=1,
    )
    joined = join_ops.asof_join(
        purchases,
        clicks,
        keys=["user_id"],
        left_ts="ts",
        right_ts="ts",
        right_values=["event_id", "value"],
        suffix="_click",
    )
    return joined.select(
        "user_id",
        "event_id",
        "ts",
        F.round("value", 2).alias("purchase_value"),
        F.col("event_id_click").alias("click_event_id"),
        F.round("value_click", 2).alias("click_value"),
    )


# ---------------------------------------------------------------------------
# Range (non-equi) join to a bucket table (SURVEY §2.3 extension)
# ---------------------------------------------------------------------------

_RANGE_JOIN_ORACLE = """
WITH buckets(bucket, lo, hi) AS (
  VALUES ('low', 0.0, 10.0), ('mid', 10.0, 30.0), ('high', 30.0, 1e9)
)
SELECT b.bucket, count(*) AS n_events,
       CAST(sum(CAST(e.value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
FROM events e
JOIN buckets b ON e.value >= b.lo AND e.value < b.hi
GROUP BY b.bucket
"""


@register("range_bucket_join", oracle=_RANGE_JOIN_ORACLE, tags=("join", "range"))
def range_bucket_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucket event values through a non-equi range join to a tiny bounds
    table, then aggregate per bucket.

    Scale notes: the bounds table is broadcast, so the non-equi condition
    runs as BroadcastNestedLoopJoin against 3 rows — O(n·3) comparisons,
    no shuffle of the fact. Value sums use exact decimal at 6dp (event
    values carry more precision than money).
    """
    events = _t(spark, sf_dir, "events")
    buckets = spark.createDataFrame(
        [("low", 0.0, 10.0), ("mid", 10.0, 30.0), ("high", 30.0, 1e9)],
        "bucket string, lo double, hi double",
    )
    return (
        join_ops.range_join(events, buckets, "value")
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n_events"),
            agg_ops.money_sum("value", scale=6).alias("sum_value"),
        )
    )


# ---------------------------------------------------------------------------
# Conditional aggregation (CASE-filtered measures; SURVEY §2.4 extension)
# ---------------------------------------------------------------------------

_COND_AGG_ORACLE = """
SELECT
  o_orderstatus,
  count(*)                                                            AS n_orders,
  count(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 END)            AS n_urgent,
  CAST(sum(CASE WHEN o_orderpriority = '1-URGENT'
           THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE)   AS urgent_revenue,
  CAST(sum(CASE WHEN o_orderpriority <> '1-URGENT'
           THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE)   AS other_revenue
FROM orders
GROUP BY o_orderstatus
"""


@register("conditional_agg", oracle=_COND_AGG_ORACLE, tags=("agg",))
def conditional_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Status-level aggregates with CASE-filtered measures — N filtered
    metrics in ONE scan/shuffle instead of N scans.
    """
    orders = _t(spark, sf_dir, "orders")
    urgent = F.col("o_orderpriority") == "1-URGENT"
    dec_price = F.col("o_totalprice").cast("decimal(18,2)")
    return orders.groupBy("o_orderstatus").agg(
        F.count("*").alias("n_orders"),
        agg_ops.conditional_count(urgent).alias("n_urgent"),
        F.sum(F.when(urgent, dec_price)).cast("double").alias("urgent_revenue"),
        F.sum(F.when(~urgent, dec_price)).cast("double").alias("other_revenue"),
    )


# ---------------------------------------------------------------------------
# String function block (SURVEY §2.8 — engine exposes full surface)
# ---------------------------------------------------------------------------

_STRING_FUNCS_ORACLE = """
SELECT
  c_custkey,
  upper(c_name)                                   AS name_upper,
  lower(c_mktsegment)                             AS segment_lower,
  substr(c_name, 1, 8)                            AS name_prefix,
  c_name || '/' || c_mktsegment                   AS name_seg,
  CAST(length(c_name) AS BIGINT)                  AS name_len,
  regexp_replace(c_name, '[0-9]+', '#', 'g')      AS name_masked,
  split_part(c_name, '#', 1)                      AS name_stem,
  trim(lpad(c_mktsegment, 12, ' '))               AS segment_trimmed,
  CASE WHEN c_name LIKE '%1%' THEN TRUE ELSE FALSE END AS has_one
FROM customer
"""


@register("string_funcs", oracle=_STRING_FUNCS_ORACLE, tags=("functions", "string"))
def string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar string-function block: case mapping, substring, concat,
    length, regex masking, token extraction, pad/trim, LIKE predicate.

    Scale notes: all JVM built-ins inside whole-stage codegen — zero
    Python; this entire projection fuses with the parquet scan.
    """
    c = _t(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.upper("c_name").alias("name_upper"),
        F.lower("c_mktsegment").alias("segment_lower"),
        F.substring("c_name", 1, 8).alias("name_prefix"),
        F.concat_ws("/", "c_name", "c_mktsegment").alias("name_seg"),
        F.length("c_name").cast("long").alias("name_len"),
        F.regexp_replace("c_name", "[0-9]+", "#").alias("name_masked"),
        F.split_part(F.col("c_name"), F.lit("#"), F.lit(1)).alias("name_stem"),
        F.trim(F.lpad("c_mktsegment", 12, " ")).alias("segment_trimmed"),
        F.col("c_name").like("%1%").alias("has_one"),
    )


# ---------------------------------------------------------------------------
# Date/time function block (reference T1-T5 generalized)
# ---------------------------------------------------------------------------

_DATE_FUNCS_ORACLE = """
SELECT
  o_orderkey,
  CAST(o_orderdate AS DATE)                                    AS order_date,
  CAST(year(o_orderdate) AS BIGINT)                            AS y,
  CAST(month(o_orderdate) AS BIGINT)                           AS m,
  CAST(quarter(o_orderdate) AS BIGINT)                         AS q,
  CAST(weekofyear(CAST(o_orderdate AS DATE)) AS BIGINT)        AS iso_week,
  CAST(dayofweek(o_orderdate) + 1 AS BIGINT)                   AS dow,
  CAST(date_trunc('week', o_orderdate) AS DATE)                AS week_start,
  last_day(CAST(o_orderdate AS DATE))                          AS month_end,
  CAST(datediff('day', DATE '1995-01-01', o_orderdate) AS BIGINT) AS days_since_95,
  CAST(o_orderdate AS DATE) + 30                               AS due_date
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-01-01'
"""


@register("date_funcs", oracle=_DATE_FUNCS_ORACLE, tags=("functions", "datetime"))
def date_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/time scalar block: parts extraction, ISO week, day-of-week,
    truncation, month-end, date arithmetic (reference T1-T5 + engine
    extensions). Note DuckDB's dayofweek is 0-based Sunday; Spark's is
    1-based — the oracle compensates.

    Scale notes: the timestamp >= filter pushes into the parquet scan as
    a min/max row-group filter.
    """
    o = _t(spark, sf_dir, "orders")
    d = F.to_date("o_orderdate")
    return o.filter(F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp")).select(
        "o_orderkey",
        d.alias("order_date"),
        F.year(d).cast("long").alias("y"),
        F.month(d).cast("long").alias("m"),
        F.quarter(d).cast("long").alias("q"),
        F.weekofyear(d).cast("long").alias("iso_week"),
        F.dayofweek(d).cast("long").alias("dow"),
        F.date_trunc("week", "o_orderdate").cast("date").alias("week_start"),
        F.last_day(d).alias("month_end"),
        F.datediff(d, F.lit("1995-01-01").cast("date")).cast("long").alias("days_since_95"),
        F.date_add(d, 30).alias("due_date"),
    )


# ---------------------------------------------------------------------------
# Set operations (SURVEY §2.9 — engine exposes union/intersect/except)
# ---------------------------------------------------------------------------

_SET_OPS_ORACLE = """
SELECT c_custkey FROM customer WHERE c_mktsegment = 'AUTOMOBILE'
UNION
SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
EXCEPT
SELECT c_custkey FROM customer WHERE c_acctbal < 0
"""


@register("set_ops", oracle=_SET_OPS_ORACLE, tags=("setops",))
def set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(AUTOMOBILE ∪ BUILDING) ∖ negative-balance customers — distinct
    set semantics (UNION/EXCEPT).

    Scale notes: Catalyst plans distinct-union as one hash aggregate;
    EXCEPT becomes left-anti after dedup — both single-shuffle on the
    key.
    """
    c = _t(spark, sf_dir, "customer")
    auto = c.filter(F.col("c_mktsegment") == "AUTOMOBILE").select("c_custkey")
    building = c.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    negative = c.filter(F.col("c_acctbal") < 0).select("c_custkey")
    return auto.union(building).distinct().exceptAll(negative.distinct())


# ---------------------------------------------------------------------------
# Ranking + running totals in one window stage (SURVEY §2.6 extension)
# ---------------------------------------------------------------------------

_RANKED_RUNNING_ORACLE = """
SELECT user_id, event_id, round(value, 2) AS value,
       CAST(row_number() OVER w AS BIGINT) AS row_num,
       CAST(rank() OVER wv AS BIGINT)       AS rnk,
       CAST(dense_rank() OVER wv AS BIGINT) AS dense_rnk,
       round(sum(value) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
         AS running_value
FROM events
WHERE event_type = 'purchase'
WINDOW w  AS (PARTITION BY user_id ORDER BY ts, event_id),
       wv AS (PARTITION BY user_id ORDER BY value DESC, event_id)
"""


@register("ranked_running", oracle=_RANKED_RUNNING_ORACLE, tags=("window",))
def ranked_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user purchase sequence: time-ordered row_number + cumulative
    value, and value-ranked rank/dense_rank.

    Scale notes: two window specs share the user_id partitioning — one
    shuffle, two sorts. Running sum of doubles is sequential within the
    partition, hence deterministic.
    """
    events = _t(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    w_time = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w_val = Window.partitionBy("user_id").orderBy(F.col("value").desc(), "event_id")
    return events.select(
        "user_id",
        "event_id",
        F.round("value", 2).alias("value"),
        F.row_number().over(w_time).cast("long").alias("row_num"),
        F.rank().over(w_val).cast("long").alias("rnk"),
        F.dense_rank().over(w_val).cast("long").alias("dense_rnk"),
        F.round(
            F.sum("value").over(w_time.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
            2,
        ).alias("running_value"),
    )


# ---------------------------------------------------------------------------
# Exact percentiles per group (SURVEY §2.4 extension)
# ---------------------------------------------------------------------------

_PERCENTILES_ORACLE = """
SELECT
  o_orderpriority,
  count(*)                                              AS n_orders,
  round(quantile_cont(CAST(o_totalprice AS DOUBLE), 0.5), 2)  AS median_price,
  round(quantile_cont(CAST(o_totalprice AS DOUBLE), 0.9), 2)  AS p90_price,
  round(min(o_totalprice), 2)                           AS min_price,
  round(max(o_totalprice), 2)                           AS max_price
FROM orders
GROUP BY o_orderpriority
"""


@register("group_percentiles", oracle=_PERCENTILES_ORACLE, tags=("agg",))
def group_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact median/p90 per priority (linear interpolation — Spark
    ``percentile`` and DuckDB ``quantile_cont`` agree).

    Scale notes: exact percentile requires the group's values on one
    node; at 100 TB prefer ``percentile_approx`` (mergeable sketch,
    bounded memory) — exposed in the engine but not oracle-checkable
    since sketches differ across engines.
    """
    o = _t(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_orders"),
        F.round(F.percentile("o_totalprice", 0.5), 2).alias("median_price"),
        F.round(F.percentile("o_totalprice", 0.9), 2).alias("p90_price"),
        F.round(F.min("o_totalprice"), 2).alias("min_price"),
        F.round(F.max("o_totalprice"), 2).alias("max_price"),
    )


# ---------------------------------------------------------------------------
# TPC-H Q1-style pricing summary (A1-A8 composite)
# ---------------------------------------------------------------------------

_PRICING_SUMMARY_ORACLE = """
SELECT
  l_returnflag,
  l_linestatus,
  round(sum(l_quantity), 2)                                        AS sum_qty,
  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)      AS sum_base_price,
  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
           (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)     AS sum_disc_price,
  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
           (1 - CAST(l_discount AS DECIMAL(18,2))) *
           (1 + CAST(l_tax AS DECIMAL(18,2)))) AS DOUBLE)          AS sum_charge,
  round(sum(l_quantity) / count(*), 2)                             AS avg_qty,
  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / count(*), 2) AS avg_price,
  round(CAST(sum(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / count(*), 4)      AS avg_disc,
  count(*)                                                         AS count_order
FROM lineitem
WHERE CAST(l_shipdate AS DATE) <= DATE '2000-09-02'
GROUP BY l_returnflag, l_linestatus
"""


@register("pricing_summary", oracle=_PRICING_SUMMARY_ORACLE, tags=("agg", "tpch"))
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped pricing summary: multi-measure hash aggregate over
    filtered lineitem with derived expressions.

    Scale notes: partial aggregation means the shuffle carries ≤
    (flags × statuses) rows per map task; the ship-date filter pushes to
    parquet row-group pruning. All money math exact-decimal.
    """
    li = _t(spark, sf_dir, "lineitem")
    price = F.col("l_extendedprice").cast("decimal(18,2)")
    disc = F.col("l_discount").cast("decimal(18,2)")
    tax = F.col("l_tax").cast("decimal(18,2)")
    return (
        li.filter(F.to_date("l_shipdate") <= F.lit("2000-09-02").cast("date"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.sum(price).cast("double").alias("sum_base_price"),
            F.sum(price * (F.lit(1) - disc)).cast("double").alias("sum_disc_price"),
            F.sum(price * (F.lit(1) - disc) * (F.lit(1) + tax)).cast("double").alias("sum_charge"),
            F.round(F.sum("l_quantity") / F.count("*"), 2).alias("avg_qty"),
            F.round(F.sum(price).cast("double") / F.count("*"), 2).alias("avg_price"),
            F.round(F.sum(disc).cast("double") / F.count("*"), 4).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


# ---------------------------------------------------------------------------
# TPC-H Q3-style shipping priority (join + agg + top-k composite)
# ---------------------------------------------------------------------------

_SHIPPING_PRIORITY_ORACLE = """
SELECT
  l.l_orderkey,
  CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2)) *
           (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
  CAST(o.o_orderdate AS DATE) AS order_date,
  o.o_orderpriority
FROM customer c
JOIN orders o    ON c.c_custkey = o.o_custkey
JOIN lineitem l  ON l.l_orderkey = o.o_orderkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < TIMESTAMP '1998-03-15'
  AND CAST(l.l_shipdate AS DATE) > DATE '1998-03-15'
GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
ORDER BY revenue DESC, l.l_orderkey
LIMIT 10
"""


@register("shipping_priority", oracle=_SHIPPING_PRIORITY_ORACLE, tags=("join", "agg", "tpch"))
def shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-shaped: revenue of unshipped lineitems for one segment's
    orders, top-10 by revenue.

    Scale notes: customer filter prunes before the join (broadcast);
    lineitem joins orders on the shuffle key both sides already need for
    the group-by — Catalyst reuses the exchange. Top-10 via
    TakeOrderedAndProject, no global sort.
    """
    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp")
    )
    li = _t(spark, sf_dir, "lineitem").filter(
        F.to_date("l_shipdate") > F.lit("1998-03-15").cast("date")
    )
    price = F.col("l_extendedprice").cast("decimal(18,2)")
    disc = F.col("l_discount").cast("decimal(18,2)")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(price * (F.lit(1) - disc)).cast("double").alias("revenue"))
        .select(
            "l_orderkey",
            "revenue",
            F.to_date("o_orderdate").alias("order_date"),
            "o_orderpriority",
        )
        .orderBy(F.col("revenue").desc(), "l_orderkey")
        .limit(10)
    )
