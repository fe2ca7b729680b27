"""Streaming-shaped operators checked in batch mode (Structured
Streaming's unified API: the same plan runs on static frames — here the
DuckDB oracle can then verify semantics)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from grocery_store_sales_forecasting_etl_pipeline_spark.plans._tables import table as _t
from grocery_store_sales_forecasting_etl_pipeline_spark.plans.registry import register
from grocery_store_sales_forecasting_etl_pipeline_spark.streaming import events as ev

# Spark session_window merges events whose [ts, ts+gap) windows overlap —
# i.e. a new session starts when the gap to the previous event is >= gap.
# The oracle expresses the same thing as gaps-and-islands.
_SESSION_ORACLE = """
WITH e AS (
  SELECT user_id, event_id, ts, value,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
  FROM events
),
flags AS (
  SELECT *, CASE WHEN prev_ts IS NULL OR ts - prev_ts >= INTERVAL 5 MINUTE
                 THEN 1 ELSE 0 END AS new_s
  FROM e
),
isl AS (
  SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING) AS sid
  FROM flags
)
SELECT user_id,
       min(ts)  AS session_start,
       count(*) AS n_events,
       round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 4) AS session_value
FROM isl
GROUP BY user_id, sid
"""


@register("sessionize_events", oracle=_SESSION_ORACLE, tags=("streaming", "window"))
def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user sessionization with a 5-minute inactivity gap
    (``session_window`` — streaming/events.py:sessionize). Identical
    code path serves the streaming facade; here checked in batch against
    a gaps-and-islands oracle.

    Scale notes: session windows are a stateful agg keyed by
    (user, session) — one shuffle on user_id; in streaming the watermark
    evicts closed sessions so state is bounded by the active-session set.
    """
    return ev.sessionize(_t(spark, sf_dir, "events"), gap="5 minutes")


# ---------------------------------------------------------------------------
# Stream-stream interval join (checked in batch; stream==batch in pytest)
# ---------------------------------------------------------------------------

_INTERVAL_JOIN_ORACLE = """
WITH c AS (SELECT user_id, event_id, ts FROM events WHERE event_type = 'click'),
p AS (SELECT user_id, event_id, ts, value FROM events WHERE event_type = 'purchase')
SELECT
  c.user_id                         AS l_user_id,
  c.event_id                        AS l_event_id,
  c.ts                              AS l_ts,
  p.event_id                        AS r_event_id,
  p.ts                              AS r_ts,
  p.value                           AS r_value,
  CAST(date_diff('second', c.ts, p.ts) AS BIGINT) AS gap_seconds
FROM c JOIN p
  ON c.user_id = p.user_id
 AND c.ts <= p.ts
 AND c.ts >= p.ts - INTERVAL 1 HOUR
"""


@register("click_purchase_interval", oracle=_INTERVAL_JOIN_ORACLE, tags=("streaming", "join"))
def click_purchase_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every (click, purchase) pair for a user where the click precedes
    the purchase by at most one hour — the stream-stream interval join
    (streaming/events.py:interval_join), here run in batch mode where
    the DuckDB oracle can verify it; pytest additionally pins
    stream==batch on the same plan with watermarked state.

    Unlike asof_click_attribution (latest click only), this is the
    many-to-many attribution window — and in streaming form the
    two-sided time-range predicate is what lets Spark evict buffered
    rows once the watermark passes ts + lookback (state stays bounded).

    Scale notes: one shuffle per side on the equi-key; the range
    predicate evaluates post-join within co-partitioned groups.
    """
    import pyspark.sql.functions as F

    evts = _t(spark, sf_dir, "events")
    clicks = evts.filter(F.col("event_type") == "click").select("user_id", "event_id", "ts")
    purchases = evts.filter(F.col("event_type") == "purchase").select(
        "user_id", "event_id", "ts", "value"
    )
    joined = ev.interval_join(
        clicks, purchases, key="user_id", lookback="1 hour", prefixes=("l", "r")
    )
    return joined.select(
        "l_user_id",
        "l_event_id",
        "l_ts",
        "r_event_id",
        "r_ts",
        "r_value",
        (F.unix_timestamp("r_ts") - F.unix_timestamp("l_ts")).cast("long").alias(
            "gap_seconds"
        ),
    )


_INTERVAL_JOIN_OUTER_ORACLE = """
WITH c AS (SELECT user_id, event_id, ts FROM events WHERE event_type = 'click'),
p AS (SELECT user_id, event_id, ts, value FROM events WHERE event_type = 'purchase')
SELECT
  c.user_id                         AS l_user_id,
  c.event_id                        AS l_event_id,
  c.ts                              AS l_ts,
  p.event_id                        AS r_event_id,
  p.ts                              AS r_ts,
  p.value                           AS r_value,
  CAST(date_diff('second', c.ts, p.ts) AS BIGINT) AS gap_seconds
FROM c LEFT JOIN p
  ON c.user_id = p.user_id
 AND c.ts <= p.ts
 AND c.ts >= p.ts - INTERVAL 1 HOUR
"""


@register(
    "click_purchase_interval_outer",
    oracle=_INTERVAL_JOIN_OUTER_ORACLE,
    tags=("streaming", "join"),
)
def click_purchase_interval_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """leftOuter mode of the stream-stream interval join: every click,
    paired with each purchase it precedes by at most one hour, or
    null-padded when no purchase follows — the unconverted-click view
    (streaming/events.py:interval_join ``how="leftOuter"``).

    In streaming form an unmatched click is emitted only once the
    watermark passes click_ts + lookback (a match could still arrive
    before that), so the drained-stream result is a prefix-subset of
    this batch result — pytest pins that containment; the DuckDB LEFT
    JOIN oracle pins the full batch semantics here.

    Scale notes: same state-bound rule as the inner mode; the outer
    tail adds no state, only deferred emission at watermark advance.
    """
    import pyspark.sql.functions as F

    evts = _t(spark, sf_dir, "events")
    clicks = evts.filter(F.col("event_type") == "click").select("user_id", "event_id", "ts")
    purchases = evts.filter(F.col("event_type") == "purchase").select(
        "user_id", "event_id", "ts", "value"
    )
    joined = ev.interval_join(
        clicks,
        purchases,
        key="user_id",
        lookback="1 hour",
        prefixes=("l", "r"),
        how="leftOuter",
    )
    return joined.select(
        "l_user_id",
        "l_event_id",
        "l_ts",
        "r_event_id",
        "r_ts",
        "r_value",
        (F.unix_timestamp("r_ts") - F.unix_timestamp("l_ts")).cast("long").alias(
            "gap_seconds"
        ),
    )


# ---------------------------------------------------------------------------
# Per-user running outlier scoring (z against all prior events)
# ---------------------------------------------------------------------------

# Cross-engine float parity: both sides derive z from the SAME integer
# sufficient statistics (value in cents, cumulative n/s/q over PRIOR rows)
# with the SAME double expression tree, so every intermediate double is
# bit-identical in Spark and DuckDB — including the var > 0 comparison.
_WELFORD_ORACLE = """
WITH c AS (
  SELECT user_id, event_id, ts, value,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events
),
s AS (
  SELECT user_id, event_id, ts, value, cents,
         count(cents) OVER w AS n_prior,
         CAST(coalesce(sum(cents) OVER w, 0) AS DOUBLE) AS s_prior,
         CAST(coalesce(sum(cents * cents) OVER w, 0) AS DOUBLE) AS q_prior
  FROM c
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
),
z AS (
  SELECT *,
         CASE WHEN n_prior >= 2
                   AND (q_prior - s_prior * s_prior / n_prior) / (n_prior - 1) > 0
              THEN (CAST(cents AS DOUBLE) - s_prior / n_prior)
                   / sqrt((q_prior - s_prior * s_prior / n_prior) / (n_prior - 1))
              ELSE 0.0 END AS zraw
  FROM s
)
SELECT user_id, event_id, ts, value,
       round(zraw, 4) AS zscore,
       CAST(CASE WHEN abs(zraw) > 3.0 THEN 1 ELSE 0 END AS BIGINT) AS is_outlier
FROM z
"""


@register("stateful_outlier_scores", oracle=_WELFORD_ORACLE, tags=("streaming", "window"))
def stateful_outlier_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each event's z-score against the sample statistics of all PRIOR
    same-user events, ordered by (ts, event_id), flagged at |z| > 3 —
    the quantity a stateful streaming operator would keep incrementally
    (Welford running n/mean/M2 per user across micro-batches).

    Numerics: z derives from integer sufficient statistics — value in
    cents, cumulative (n, Σc, Σc²) over the prior-rows frame — with the
    same double expression tree as the oracle, so parity is bit-exact
    rather than tolerance-based (the repo's exact-stat correlation
    pattern).

    Scale notes: ONE shuffle on user_id; the three cumulative aggregates
    share a single window frame so Spark evaluates them in one Window
    node pass. In streaming form state is three numbers per key.
    """
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    e = _t(spark, sf_dir, "events").withColumn(
        "cents", F.round(F.col("value") * 100).cast("long")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    n = F.count("cents").over(w)
    s = F.coalesce(F.sum("cents").over(w), F.lit(0)).cast("double")
    q = F.coalesce(F.sum(F.col("cents") * F.col("cents")).over(w), F.lit(0)).cast(
        "double"
    )
    var = (q - s * s / n) / (n - 1)
    zraw = F.when(
        (n >= 2) & (var > 0),
        (F.col("cents").cast("double") - s / n) / F.sqrt(var),
    ).otherwise(F.lit(0.0))
    return e.select(
        "user_id",
        "event_id",
        "ts",
        "value",
        F.round(zraw, 4).alias("zscore"),
        F.when(F.abs(zraw) > 3.0, F.lit(1)).otherwise(F.lit(0)).cast("long").alias(
            "is_outlier"
        ),
    )


# ---------------------------------------------------------------------------
# Tumbling-window aggregate (batch contract for streaming/events.py)
# ---------------------------------------------------------------------------

# Spark's F.window and DuckDB's time_bucket both align buckets to
# midnight for intervals that divide 24h, and the events timestamps are
# NTZ on both sides, so 6-hour bucket boundaries agree in any session TZ.
_TIME_BUCKETS_ORACLE = """
SELECT time_bucket(INTERVAL 6 HOUR, ts) AS window_start,
       time_bucket(INTERVAL 6 HOUR, ts) + INTERVAL 6 HOUR AS window_end,
       event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 4) AS sum_value
FROM events
GROUP BY 1, 2, 3
"""


@register("event_time_buckets", oracle=_TIME_BUCKETS_ORACLE, tags=("streaming", "window"))
def event_time_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 6-hour window counts + exact-decimal value sums per
    event type — THE core Structured Streaming aggregate
    (streaming/events.py:windowed_counts), run in batch mode where the
    DuckDB ``time_bucket`` oracle can verify it; pytest separately pins
    stream==batch on the same helper with watermarked state.

    Scale notes: one shuffle keyed on (window, event_type) with
    map-side partial aggregation; in streaming form the watermark
    evicts closed windows so state is bounded by the open-window set.
    The decimal accumulator keeps the sum order-independent — the
    property that makes the result checkable at all.
    """
    return ev.windowed_counts(_t(spark, sf_dir, "events"), window="6 hours")


# ---------------------------------------------------------------------------
# Sliding (hopping) window aggregate
# ---------------------------------------------------------------------------

# A 6h window hopping every 3h puts each event in exactly 2 windows:
# starts time_bucket(3h, ts) and time_bucket(3h, ts) - 3h. The oracle
# materializes that membership with a 2-row unnest cross join. Both
# engines align 3h buckets to midnight on NTZ timestamps.
_SLIDING_ORACLE = """
SELECT time_bucket(INTERVAL 3 HOUR, ts) - k * INTERVAL 3 HOUR AS window_start,
       time_bucket(INTERVAL 3 HOUR, ts) - k * INTERVAL 3 HOUR
         + INTERVAL 6 HOUR AS window_end,
       event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 4) AS sum_value
FROM events CROSS JOIN (SELECT unnest([0, 1]) AS k) hops
GROUP BY 1, 2, 3
"""


@register("event_sliding_windows", oracle=_SLIDING_ORACLE, tags=("streaming", "window"))
def event_sliding_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window aggregate: 6-hour windows hopping every 3 hours
    (each event counted in size/slide = 2 overlapping windows) — the
    trend-smoothing companion to ``event_time_buckets``'s tumbling
    windows, and the second core Structured Streaming window shape
    (``streaming/events.py:windowed_counts`` with ``slide=``; pytest
    pins stream==batch for the sliding form too).

    Scale notes: Spark expands each row to its window memberships
    BEFORE the shuffle, so the aggregate is still one shuffle with
    map-side partials — state and traffic scale with size/slide
    (here 2×), which is the knob to watch at 100 TB (a 24h window
    sliding every minute would be a 1440× explosion; prefer tumbling
    partials rolled up to the sliding grain for such ratios). In
    streaming form the watermark evicts windows whose end precedes it,
    bounding state to the open-window set per type.
    """
    return ev.windowed_counts(
        _t(spark, sf_dir, "events"), window="6 hours", slide="3 hours"
    )


# ---------------------------------------------------------------------------
# Stream-static dimension enrichment
# ---------------------------------------------------------------------------

_ENRICH_ORACLE = """
SELECT c.c_nationkey AS nationkey, e.event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CAST(round(e.value * 100) AS BIGINT)) AS BIGINT)
         AS value_cents
FROM events e JOIN customer c ON e.user_id = c.c_custkey
GROUP BY 1, 2
"""


@register("event_dim_enrichment", oracle=_ENRICH_ORACLE, tags=("streaming", "join"))
def event_dim_enrichment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: events enriched with the static customer
    dimension (user_id = custkey) and rolled up to per-(nation,
    event_type) counts and exact-cents value sums — the micro-batch
    dim-enrichment every streaming pipeline starts with
    (streaming/events.py:enrich_with_dim; stream==batch pinned in
    tests/test_streaming.py::test_stream_static_enrich_matches_batch).

    Scale notes: the static dim side broadcasts per micro-batch (no
    stream-side watermark or state, unlike stream-stream joins), so
    the stream never shuffles on the join key; the rollup carries
    map-side partials. Values aggregate in exact integer cents — a
    double sum across a shuffle would be partition-order dependent.
    """
    import pyspark.sql.functions as F

    e = _t(spark, sf_dir, "events")
    c = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_nationkey"
    )
    joined = ev.enrich_with_dim(e, c, on="user_id", how="inner")
    return joined.groupBy(
        F.col("c_nationkey").alias("nationkey"), "event_type"
    ).agg(
        F.count("*").cast("long").alias("n_events"),
        F.sum(F.round(F.col("value") * 100).cast("long"))
        .cast("long")
        .alias("value_cents"),
    )
