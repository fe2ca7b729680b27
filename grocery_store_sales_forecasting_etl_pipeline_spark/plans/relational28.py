"""Round-5 additions, batch 28: strict-order windowed funnel,
label-centroid embedding similarity, and purchase velocity flags.

The windowed funnel adds TIMEOUT semantics the min-timestamp funnel
(``signup_purchase_funnel``) lacks — each hop must land within 7 days
of the previous one, the ClickHouse-windowFunnel read; the centroid
matrix is the embedding-drift audit between labeled groups (are class
clusters collapsing?); velocity flags are the classic fraud rule (too
many purchases inside a trailing hour), exercising the TIME-range
window frame (its value-range sibling is ``range_frame_window``).

Determinism discipline: funnel hops compare exact timestamps; centroid
sums accumulate integer micros with DECIMAL(38,0) dot products; the
velocity threshold is an integer count over a microsecond RANGE frame.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from grocery_store_sales_forecasting_etl_pipeline_spark.plans._tables import table as _t
from grocery_store_sales_forecasting_etl_pipeline_spark.plans.registry import register

# ---------------------------------------------------------------------------
# Strict-order windowed funnel (signup -> click -> purchase, 7d hops)
# ---------------------------------------------------------------------------

_HOP_DAYS = 7

_FUNNEL_ORACLE = f"""
WITH s AS (
  SELECT user_id, min(ts) AS t0 FROM events
  WHERE event_type = 'signup' GROUP BY user_id
),
c AS (
  SELECT e.user_id, min(e.ts) AS t1
  FROM events e JOIN s ON e.user_id = s.user_id
  WHERE e.event_type = 'click'
    AND e.ts > s.t0 AND e.ts <= s.t0 + INTERVAL {_HOP_DAYS} DAY
  GROUP BY e.user_id
),
p AS (
  SELECT e.user_id, min(e.ts) AS t2
  FROM events e JOIN c ON e.user_id = c.user_id
  WHERE e.event_type = 'purchase'
    AND e.ts > c.t1 AND e.ts <= c.t1 + INTERVAL {_HOP_DAYS} DAY
  GROUP BY e.user_id
)
SELECT CAST(count(*) AS BIGINT) AS n_signup,
       CAST(count(c.t1) AS BIGINT) AS n_click_7d,
       CAST(count(p.t2) AS BIGINT) AS n_purchase_7d,
       round(count(c.t1) * 1.0 / count(*), 4) AS click_rate,
       round(count(p.t2) * 1.0 / count(*), 4) AS purchase_rate
FROM s LEFT JOIN c ON s.user_id = c.user_id
       LEFT JOIN p ON s.user_id = p.user_id
"""


@register("event_funnel_windowed", oracle=_FUNNEL_ORACLE, tags=("events", "join"))
def event_funnel_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed funnel with timeout (the ClickHouse-windowFunnel read):
    a user converts a hop only if the FIRST qualifying next-step event
    lands within 7 days of the previous hop's anchor — signup, then
    click within 7d of signup, then purchase within 7d of that click.
    The min-timestamp funnel (signup_purchase_funnel) has no timeout,
    so it overcounts stale conversions; this is the campaign-window
    variant marketing actually reports.

    Scale notes: each hop is a user-keyed conditional-min aggregate —
    the event stream shuffles on user_id once per hop (3 shuffles on
    the SAME key, so co-partitioning carries through; no row-level
    self-joins); the hop frames are user-grain and the output is one
    row. The previous hop's anchors re-join the stream broadcast-or-
    shuffle by AQE's size estimate.
    """
    e = _t(spark, sf_dir, "events")
    hop = F.expr(f"INTERVAL {_HOP_DAYS} DAY")
    s = e.filter(F.col("event_type") == "signup").groupBy("user_id").agg(F.min("ts").alias("t0"))
    c = (
        e.filter(F.col("event_type") == "click")
        .join(s, "user_id")
        .filter((F.col("ts") > F.col("t0")) & (F.col("ts") <= F.col("t0") + hop))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter((F.col("ts") > F.col("t1")) & (F.col("ts") <= F.col("t1") + hop))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    out = s.join(c, "user_id", "left").join(p, "user_id", "left")
    return out.agg(
        F.count("*").cast("long").alias("n_signup"),
        F.count("t1").cast("long").alias("n_click_7d"),
        F.count("t2").cast("long").alias("n_purchase_7d"),
        F.round(F.count("t1") * 1.0 / F.count("*"), 4).alias("click_rate"),
        F.round(F.count("t2") * 1.0 / F.count("*"), 4).alias("purchase_rate"),
    )


# ---------------------------------------------------------------------------
# Label-centroid embedding similarity matrix
# ---------------------------------------------------------------------------

_CENTROID_ORACLE = """
WITH e AS (
  SELECT label,
         unnest(list_transform(embedding,
                x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT))) AS vm,
         unnest(range(0, len(embedding))) AS dim
  FROM embeddings
),
c AS (
  SELECT CAST(label AS BIGINT) AS label, dim,
         CAST(sum(vm) AS BIGINT) AS s,
         CAST(count(*) AS BIGINT) AS n
  FROM e GROUP BY label, dim
),
d AS (
  SELECT a.label AS label_a, b.label AS label_b,
         sum(CAST(a.s AS HUGEINT) * b.s) AS dot_ab,
         sum(CAST(a.s AS HUGEINT) * a.s) AS dot_aa,
         sum(CAST(b.s AS HUGEINT) * b.s) AS dot_bb,
         CAST(max(a.n) AS BIGINT) AS n_a,
         CAST(max(b.n) AS BIGINT) AS n_b
  FROM c a JOIN c b ON a.dim = b.dim AND a.label < b.label
  GROUP BY a.label, b.label
)
SELECT label_a, label_b, n_a, n_b,
       round(CAST(dot_ab AS DOUBLE)
             / (sqrt(CAST(dot_aa AS DOUBLE)) * sqrt(CAST(dot_bb AS DOUBLE))), 6)
         AS centroid_cosine
FROM d
"""


@register("label_centroid_similarity", oracle=_CENTROID_ORACLE, tags=("similarity", "stats"))
def label_centroid_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-separation audit: the cosine similarity between the mean
    embedding (centroid) of every pair of labels — high off-diagonal
    cosines flag collapsing classes before a classifier or ANN index is
    trained on the column. Centroid direction is scale-invariant, so
    unnormalized SUM vectors stand in for means exactly (the 1/n
    factors cancel in the cosine).

    Determinism: components integerize to micros once; per-(label, dim)
    sums are exact BIGINTs; the dot products accumulate those sums in
    DECIMAL(38,0)/HUGEINT over the dim-keyed pair join (sum² ~ 1e17 per
    dim crosses BIGINT quickly); the one float expression per output
    row is two correctly-rounded sqrts and a division, identical op
    order both engines.

    Scale notes: one posexplode + (label, dim)-keyed fold reduces the
    corpus to |labels| x |dims| rows; the pair join and cosine run on
    that constant-size frame. No vector ever reaches the driver.
    """
    emb = _t(spark, sf_dir, "embeddings")
    e = emb.select(
        F.col("label").cast("long").alias("label"),
        F.posexplode("embedding").alias("dim", "v"),
    ).select(
        "label",
        "dim",
        F.round(F.col("v").cast("double") * 1000000).cast("long").alias("vm"),
    )
    c = e.groupBy("label", "dim").agg(
        F.sum("vm").cast("long").alias("s"),
        F.count("*").cast("long").alias("n"),
    )
    a = c.select(
        F.col("label").alias("label_a"),
        "dim",
        F.col("s").alias("s_a"),
        F.col("n").alias("n_a0"),
    )
    b = c.select(
        F.col("label").alias("label_b"),
        "dim",
        F.col("s").alias("s_b"),
        F.col("n").alias("n_b0"),
    )
    dec = "decimal(19,0)"
    d = (
        a.join(b, "dim")
        .filter(F.col("label_a") < F.col("label_b"))
        .groupBy("label_a", "label_b")
        .agg(
            F.sum(F.col("s_a").cast(dec) * F.col("s_b").cast(dec)).alias("dot_ab"),
            F.sum(F.col("s_a").cast(dec) * F.col("s_a").cast(dec)).alias("dot_aa"),
            F.sum(F.col("s_b").cast(dec) * F.col("s_b").cast(dec)).alias("dot_bb"),
            F.max("n_a0").cast("long").alias("n_a"),
            F.max("n_b0").cast("long").alias("n_b"),
        )
    )
    return d.select(
        "label_a",
        "label_b",
        "n_a",
        "n_b",
        F.round(
            F.col("dot_ab").cast("double")
            / (F.sqrt(F.col("dot_aa").cast("double")) * F.sqrt(F.col("dot_bb").cast("double"))),
            6,
        ).alias("centroid_cosine"),
    )


# ---------------------------------------------------------------------------
# Purchase velocity flags (trailing-hour fraud rule)
# ---------------------------------------------------------------------------

_VELOCITY_N = 3  # >= N purchases within the trailing hour flags

_VELOCITY_ORACLE = f"""
WITH p AS (
  SELECT user_id, epoch_us(ts) AS us
  FROM events WHERE event_type = 'purchase'
),
w AS (
  SELECT user_id,
         CAST(count(*) OVER (PARTITION BY user_id ORDER BY us
              RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW) AS BIGINT)
           AS burst
  FROM p
)
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_purchases,
       CAST(max(burst) AS BIGINT) AS max_burst,
       CAST(sum(CASE WHEN burst >= {_VELOCITY_N} THEN 1 ELSE 0 END) AS BIGINT)
         AS n_flagged
FROM w GROUP BY user_id
"""


@register("purchase_velocity_flags", oracle=_VELOCITY_ORACLE, tags=("window", "events"))
def purchase_velocity_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Velocity fraud rule: for every purchase, how many purchases the
    same user made in the trailing hour (inclusive); purchases whose
    trailing-hour count reaches 3 are flagged — the TIME-range window
    frame (microsecond RANGE bounds over the epoch), completing the
    frame family next to the value-range ``range_frame_window`` and
    the row-count frames.

    Scale notes: the event-type filter pushes to the scan; ONE shuffle
    partitions purchases by user for the RANGE window (frame state is
    bounded by purchases-per-hour, not history length); the user-grain
    rollup reuses the same partitioning. Epoch microseconds come from
    the UTC-pinned NTZ timestamp, so the frame is TZ-independent.
    """
    e = _t(spark, sf_dir, "events")
    p = e.filter(F.col("event_type") == "purchase").select(
        "user_id",
        # ts is TIMESTAMP_NTZ under the loader's UTC-pinned session;
        # cast through LTZ to reach unix_micros (same instant under UTC)
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("us")
        .rangeBetween(-3_600_000_000, Window.currentRow)
    )
    b = p.select("user_id", F.count("*").over(w).cast("long").alias("burst"))
    return b.groupBy("user_id").agg(
        F.count("*").cast("long").alias("n_purchases"),
        F.max("burst").cast("long").alias("max_burst"),
        F.sum(F.when(F.col("burst") >= _VELOCITY_N, F.lit(1)).otherwise(F.lit(0)))
        .cast("long")
        .alias("n_flagged"),
    )
