"""Round-6 additions, batch 45: event-time enrichment and dwell
analytics — a NEAREST as-of join (backward + forward candidates, the
closer one wins within a tolerance; completes the as-of family whose
backward-only member is asof_click_attribution), inter-purchase gap
percentiles per customer cohort (the repeat-purchase cadence metric),
and per-event-type dwell-time percentiles computed at VALUE grain
(the bounded-domain exact-percentile discipline — no per-type global
sort).

Determinism discipline: as-of candidate selection is total-ordered by
(ts, kind, event_id); every gap is an exact integer of seconds; exact
percentiles come from cumulative counts over bounded value grains
with integer target positions — no engine percentile functions, whose
interpolation rules differ.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from grocery_store_sales_forecasting_etl_pipeline_spark.plans._tables import table as _t
from grocery_store_sales_forecasting_etl_pipeline_spark.plans.registry import register

# ---------------------------------------------------------------------------
# Nearest as-of join: closest click to each purchase (either direction)
# ---------------------------------------------------------------------------

_NEAREST_TOL_S = 1800  # tolerance: 30 minutes either way

_NEAREST_ORACLE = f"""
WITH u AS (
  SELECT user_id, event_id, ts,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS is_p
  FROM events WHERE event_type IN ('click', 'purchase')
),
w AS (
  SELECT user_id, event_id, ts, is_p,
         last_value(CASE WHEN is_p = 0 THEN ts END IGNORE NULLS) OVER (
           PARTITION BY user_id ORDER BY ts, is_p, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_click,
         first_value(CASE WHEN is_p = 0 THEN ts END IGNORE NULLS) OVER (
           PARTITION BY user_id ORDER BY ts, is_p, event_id
           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_click
  FROM u
),
p AS (
  SELECT user_id, event_id,
         CAST(date_diff('second', prev_click, ts) AS BIGINT) AS back_gap,
         CAST(date_diff('second', ts, next_click) AS BIGINT) AS fwd_gap
  FROM w WHERE is_p = 1
)
SELECT user_id, event_id,
       CASE
         WHEN back_gap IS NOT NULL AND back_gap <= {_NEAREST_TOL_S}
              AND (fwd_gap IS NULL OR back_gap <= fwd_gap OR fwd_gap > {_NEAREST_TOL_S})
           THEN 'back'
         WHEN fwd_gap IS NOT NULL AND fwd_gap <= {_NEAREST_TOL_S} THEN 'fwd'
       END AS direction,
       CASE
         WHEN back_gap IS NOT NULL AND back_gap <= {_NEAREST_TOL_S}
              AND (fwd_gap IS NULL OR back_gap <= fwd_gap OR fwd_gap > {_NEAREST_TOL_S})
           THEN back_gap
         WHEN fwd_gap IS NOT NULL AND fwd_gap <= {_NEAREST_TOL_S} THEN fwd_gap
       END AS gap_seconds
FROM p
"""


@register("nearest_click_join", oracle=_NEAREST_ORACLE, tags=("join", "asof", "events"))
def nearest_click_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAREST-event as-of join: for every purchase, the closest click
    by the same user in EITHER direction within a 30-minute tolerance
    — the two-sided sibling of asof_click_attribution (backward-only),
    needed when the enriching stream may lag OR lead the fact (sensor
    alignment, clickstream clock skew). Ties prefer the backward
    candidate (the causal one).

    Determinism: the union frame is total-ordered by (ts, is_purchase,
    event_id) — a click at exactly the purchase timestamp sorts BEFORE
    the purchase, so it is a backward candidate with gap 0 and never
    double-counts forward; gaps are exact integer seconds; the
    direction CASE is identical in both engines.

    Scale notes: the canonical distributed as-of shape — ONE shuffle
    on user_id for the union + two-directional ignore-nulls window
    pass (no row explosion, no range join); both candidate columns
    come from the same sorted pass. Tolerance filtering happens after,
    as pure projection.
    """
    e = _t(spark, sf_dir, "events")
    u = e.filter(F.col("event_type").isin("click", "purchase")).select(
        "user_id",
        "event_id",
        "ts",
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("is_p"),
    )
    order = [F.col("ts"), F.col("is_p"), F.col("event_id")]
    w_back = (
        Window.partitionBy("user_id")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_fwd = (
        Window.partitionBy("user_id")
        .orderBy(*order)
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    click_ts = F.when(F.col("is_p") == 0, F.col("ts"))
    w = u.select(
        "user_id",
        "event_id",
        "ts",
        "is_p",
        F.last(click_ts, ignorenulls=True).over(w_back).alias("prev_click"),
        F.first(click_ts, ignorenulls=True).over(w_fwd).alias("next_click"),
    )
    p = w.filter(F.col("is_p") == 1).select(
        "user_id",
        "event_id",
        (F.unix_timestamp("ts") - F.unix_timestamp("prev_click"))
        .cast("long")
        .alias("back_gap"),
        (F.unix_timestamp("next_click") - F.unix_timestamp("ts"))
        .cast("long")
        .alias("fwd_gap"),
    )
    back_ok = F.col("back_gap").isNotNull() & (F.col("back_gap") <= _NEAREST_TOL_S)
    fwd_ok = F.col("fwd_gap").isNotNull() & (F.col("fwd_gap") <= _NEAREST_TOL_S)
    back_wins = back_ok & (
        F.col("fwd_gap").isNull()
        | (F.col("back_gap") <= F.col("fwd_gap"))
        | (F.col("fwd_gap") > _NEAREST_TOL_S)
    )
    return p.select(
        "user_id",
        "event_id",
        F.when(back_wins, "back").when(fwd_ok, "fwd").alias("direction"),
        F.when(back_wins, F.col("back_gap"))
        .when(fwd_ok, F.col("fwd_gap"))
        .alias("gap_seconds"),
    )


# ---------------------------------------------------------------------------
# Inter-purchase gap percentiles per market segment
# ---------------------------------------------------------------------------

_REPEAT_GAP_ORACLE = """
WITH o AS (
  SELECT c.c_mktsegment AS segment, o.o_custkey AS custkey,
         CAST(o.o_orderdate AS DATE) AS d
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
),
g AS (
  SELECT segment,
         CAST(date_diff('day', lag(d) OVER (PARTITION BY custkey ORDER BY d),
                        d) AS BIGINT) AS gap
  FROM o
),
v AS (
  SELECT segment, gap, CAST(count(*) AS BIGINT) AS n
  FROM g WHERE gap IS NOT NULL GROUP BY 1, 2
),
c AS (
  SELECT segment, gap, n,
         sum(n) OVER (PARTITION BY segment ORDER BY gap
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         sum(n) OVER (PARTITION BY segment) AS tot
  FROM v
)
SELECT segment,
       CAST(max(tot) AS BIGINT) AS n_gaps,
       CAST(min(CASE WHEN cum >= (tot + 1) // 2 THEN gap END) AS BIGINT)
         AS median_lo_days,
       CAST(min(CASE WHEN cum >= (tot + 2) // 2 THEN gap END) AS BIGINT)
         AS median_hi_days,
       CAST(min(CASE WHEN cum * 10 >= tot * 9 THEN gap END) AS BIGINT)
         AS p90_days
FROM c GROUP BY segment
"""


@register("repeat_purchase_gap_percentiles", oracle=_REPEAT_GAP_ORACLE, tags=("stats", "window", "agg"))
def repeat_purchase_gap_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeat-purchase cadence per market segment: exact median (both
    middle positions) and p90 of the days between a customer's
    consecutive orders — the retention heartbeat metric (a segment
    whose p90 gap stretches is churning before the revenue shows it).

    Determinism: gaps are exact integer day counts from one lag window
    per customer; percentiles are selected from per-segment cumulative
    counts at integer target positions (p90 via the cross-multiplied
    cum*10 >= tot*9, never a float rate — the r4 rule), so no engine
    percentile interpolation is involved.

    Scale notes: one shuffle on custkey for the lag window (the
    customer dim joins broadcast), then gaps fold to (segment, gap)
    VALUE grain — day-gaps are calendar-bounded, so the percentile
    windows run over a few-thousand-row frame at any data scale (the
    rank-statistics discipline, partitioned by 5 segments).
    """
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    j = o.join(
        c.select("c_custkey", "c_mktsegment"),
        F.col("o_custkey") == F.col("c_custkey"),
    ).select(
        F.col("c_mktsegment").alias("segment"),
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderdate").cast("date").alias("d"),
    )
    w = Window.partitionBy("custkey").orderBy("d")
    g = j.select(
        "segment", F.datediff(F.col("d"), F.lag("d").over(w)).cast("long").alias("gap")
    ).filter(F.col("gap").isNotNull())
    v = g.groupBy("segment", "gap").agg(F.count("*").cast("long").alias("n"))
    w_cum = (
        Window.partitionBy("segment")
        .orderBy("gap")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cfr = v.select(
        "segment",
        "gap",
        F.sum("n").over(w_cum).alias("cum"),
        F.sum("n").over(Window.partitionBy("segment")).alias("tot"),
    )
    return cfr.groupBy("segment").agg(
        F.max("tot").cast("long").alias("n_gaps"),
        F.min(F.when(F.col("cum") >= F.floor((F.col("tot") + 1) / 2), F.col("gap")))
        .cast("long")
        .alias("median_lo_days"),
        F.min(F.when(F.col("cum") >= F.floor((F.col("tot") + 2) / 2), F.col("gap")))
        .cast("long")
        .alias("median_hi_days"),
        F.min(F.when(F.col("cum") * 10 >= F.col("tot") * 9, F.col("gap")))
        .cast("long")
        .alias("p90_days"),
    )


# ---------------------------------------------------------------------------
# Dwell-time percentiles per event type (value-grain exact percentiles)
# ---------------------------------------------------------------------------

_DWELL_SESSION_GAP_S = 1800

_DWELL_ORACLE = f"""
WITH s AS (
  SELECT event_type,
         CAST(date_diff('second', ts,
              lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))
              AS BIGINT) AS dwell
  FROM events
),
d AS (
  SELECT event_type, dwell FROM s
  WHERE dwell IS NOT NULL AND dwell <= {_DWELL_SESSION_GAP_S}
),
v AS (
  SELECT event_type, dwell, CAST(count(*) AS BIGINT) AS n
  FROM d GROUP BY 1, 2
),
c AS (
  SELECT event_type, dwell, n,
         sum(n) OVER (PARTITION BY event_type ORDER BY dwell
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         sum(n) OVER (PARTITION BY event_type) AS tot
  FROM v
)
SELECT event_type,
       CAST(max(tot) AS BIGINT) AS n_dwells,
       CAST(min(CASE WHEN cum >= (tot + 1) // 2 THEN dwell END) AS BIGINT)
         AS median_lo_s,
       CAST(min(CASE WHEN cum >= (tot + 2) // 2 THEN dwell END) AS BIGINT)
         AS median_hi_s,
       CAST(min(CASE WHEN cum * 10 >= tot * 9 THEN dwell END) AS BIGINT)
         AS p90_s
FROM c GROUP BY event_type
"""


@register("event_dwell_percentiles", oracle=_DWELL_ORACLE, tags=("stats", "events", "window"))
def event_dwell_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dwell time after each event type: exact median and p90 of the
    seconds until the user's NEXT event, counting only within-session
    gaps (<= 30 min) — the engagement readout that tells a product
    which step users stall on. Dwell attribution is to the event the
    user was ON (lead window), the product-analytics convention.

    Determinism: dwell is an exact integer-second lead difference with
    (ts, event_id) ordering; percentiles select from cumulative counts
    at integer positions (cross-multiplied p90), no interpolation.

    Scale notes: one user-keyed shuffle for the lead window, then the
    session-gap filter BOUNDS the value domain at 1,800 distinct
    seconds — the percentile windows run on a <= |types| x 1800 frame
    at any data scale instead of per-type global sorts (the value-
    grain exact-percentile discipline).
    """
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = e.select(
        "event_type",
        (F.unix_timestamp(F.lead("ts").over(w)) - F.unix_timestamp("ts"))
        .cast("long")
        .alias("dwell"),
    )
    d = s.filter(
        F.col("dwell").isNotNull() & (F.col("dwell") <= _DWELL_SESSION_GAP_S)
    )
    v = d.groupBy("event_type", "dwell").agg(F.count("*").cast("long").alias("n"))
    w_cum = (
        Window.partitionBy("event_type")
        .orderBy("dwell")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cfr = v.select(
        "event_type",
        "dwell",
        F.sum("n").over(w_cum).alias("cum"),
        F.sum("n").over(Window.partitionBy("event_type")).alias("tot"),
    )
    return cfr.groupBy("event_type").agg(
        F.max("tot").cast("long").alias("n_dwells"),
        F.min(F.when(F.col("cum") >= F.floor((F.col("tot") + 1) / 2), F.col("dwell")))
        .cast("long")
        .alias("median_lo_s"),
        F.min(F.when(F.col("cum") >= F.floor((F.col("tot") + 2) / 2), F.col("dwell")))
        .cast("long")
        .alias("median_hi_s"),
        F.min(F.when(F.col("cum") * 10 >= F.col("tot") * 9, F.col("dwell")))
        .cast("long")
        .alias("p90_s"),
    )
