"""Round-5 additions, batch 23: robust (MAD) outlier screening, an
embedding dimension-quality audit, the Zipf vocabulary-coverage curve,
and multi-step purchase path attribution.

Four shapes the engine didn't have yet: double-pass exact medians
(robust statistics without a single float until the boundary), a
per-dimension reduction over exploded vectors with overflow-safe
decimal accumulation, a global top-k + cumulative-share curve, and
gap-grouped event paths (each click assigned to the NEXT purchase via
a running purchase counter).

Determinism discipline as everywhere: medians as two-middle integer
sums (never an interpolated float), money in integer cents, vector
components in integer micros with DECIMAL(38,0)/HUGEINT squared sums
(the ANSI-overflow rule), total orderings with a unique-key tail.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from grocery_store_sales_forecasting_etl_pipeline_spark.plans._tables import table as _t
from grocery_store_sales_forecasting_etl_pipeline_spark.plans.registry import register

# ---------------------------------------------------------------------------
# Nation-level robust (MAD) balance outliers
# ---------------------------------------------------------------------------

# Exact integer medians: m2 = sum of the two middle elements of the
# (cents, custkey)-ordered group (the single middle counted twice when
# n is odd), so m2 = 2*median with no interpolation. Deviations are
# dev = |2*cents - m2| = 2*|cents - median|; their two-middle sum mad2
# equals 4*MAD. The classic |x - med| > 3*MAD screen is then the pure
# integer test 2*dev > 3*mad2.
_MAD_ORACLE = """
WITH bal AS (
  SELECT n.n_name AS nation, c.c_custkey,
         CAST(round(c.c_acctbal * 100) AS BIGINT) AS cents
  FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
),
r1 AS (
  SELECT nation, c_custkey, cents,
         row_number() OVER (PARTITION BY nation ORDER BY cents, c_custkey) AS rn,
         count(*) OVER (PARTITION BY nation) AS n
  FROM bal
),
m AS (
  SELECT nation,
         CAST(sum(CASE WHEN rn = (n + 1) // 2 THEN cents ELSE 0 END)
            + sum(CASE WHEN rn = n // 2 + 1 THEN cents ELSE 0 END) AS BIGINT) AS m2
  FROM r1 GROUP BY nation
),
dev AS (
  SELECT r1.nation, r1.c_custkey, r1.cents,
         abs(2 * r1.cents - m.m2) AS dev
  FROM r1 JOIN m ON r1.nation = m.nation
),
r2 AS (
  SELECT nation, cents, dev,
         row_number() OVER (PARTITION BY nation ORDER BY dev, c_custkey) AS rn,
         count(*) OVER (PARTITION BY nation) AS n
  FROM dev
),
mad AS (
  SELECT nation,
         CAST(sum(CASE WHEN rn = (n + 1) // 2 THEN dev ELSE 0 END)
            + sum(CASE WHEN rn = n // 2 + 1 THEN dev ELSE 0 END) AS BIGINT) AS mad2
  FROM r2 GROUP BY nation
)
SELECT r2.nation,
       CAST(max(r2.n) AS BIGINT) AS n_customers,
       CAST(max(m.m2) AS BIGINT) AS median_cents_x2,
       CAST(max(mad.mad2) AS BIGINT) AS mad_cents_x4,
       CAST(sum(CASE WHEN 2 * r2.dev > 3 * mad.mad2 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_outliers,
       CAST(max(r2.dev) AS BIGINT) AS max_dev_x2
FROM r2 JOIN mad ON r2.nation = mad.nation JOIN m ON r2.nation = m.nation
GROUP BY r2.nation
"""


@register("nation_balance_mad_outliers", oracle=_MAD_ORACLE, tags=("window", "stats"))
def nation_balance_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier screen: per nation, customers whose account
    balance deviates from the nation median by more than 3 median
    absolute deviations — the MAD rule that, unlike the z-score screen
    (``supplier_qty_zscore``), is immune to the outliers it hunts.

    Every statistic is an exact integer: medians are two-middle sums
    (m2 = 2*median, mad2 = 4*MAD), and the 3-MAD test is the integer
    cross-multiplication 2*dev > 3*mad2 — no float enters the plan.

    Scale notes: two rank passes over the customer-grain frame, both
    shuffling on the nation key (25-way parallel; each nation sorts in
    one task — at billions of customers per nation swap the two-middle
    rank for a two-pass percentile-bracket count, the
    winsorized_price_stats pattern, for the same exact medians). The
    median/MAD frames are nation-grain broadcasts back onto the
    deviation frame.
    """
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    bal = c.join(
        n.select("n_nationkey", F.col("n_name").alias("nation")),
        c.c_nationkey == n.n_nationkey,
    ).select(
        "nation",
        "c_custkey",
        F.round(F.col("c_acctbal") * 100).cast("long").alias("cents"),
    )
    wn = Window.partitionBy("nation")
    r1 = bal.select(
        "nation",
        "c_custkey",
        "cents",
        F.row_number().over(wn.orderBy("cents", "c_custkey")).alias("rn"),
        F.count("*").over(wn).alias("n"),
    )
    mid_lo = F.expr("(n + 1) DIV 2")
    mid_hi = F.expr("n DIV 2 + 1")
    # The nation-grain median frame m is consumed twice (the deviation
    # join and the output) — checkpoint it so the customer-grain rank
    # pass runs once.
    m = r1.groupBy("nation").agg(
        (
            F.sum(F.when(F.col("rn") == mid_lo, F.col("cents")).otherwise(F.lit(0)))
            + F.sum(F.when(F.col("rn") == mid_hi, F.col("cents")).otherwise(F.lit(0)))
        )
        .cast("long")
        .alias("m2")
    ).localCheckpoint(eager=False)  # A/B sf0.1: 0.70 s with, 1.08 s without
    # A/B sf1: 1.03 s with, 1.26 s without the hint
    dev = r1.join(F.broadcast(m), "nation").select(
        "nation",
        "c_custkey",
        F.abs(2 * F.col("cents") - F.col("m2")).alias("dev"),
    )
    r2 = dev.select(
        "nation",
        "dev",
        F.row_number().over(wn.orderBy("dev", "c_custkey")).alias("rn"),
        F.count("*").over(wn).alias("n"),
    )
    mad = r2.groupBy("nation").agg(
        (
            F.sum(F.when(F.col("rn") == mid_lo, F.col("dev")).otherwise(F.lit(0)))
            + F.sum(F.when(F.col("rn") == mid_hi, F.col("dev")).otherwise(F.lit(0)))
        )
        .cast("long")
        .alias("mad2")
    )
    return (
        # A/B sf1 (6 runs a side pooled): 1.00 s with, 1.20 s without the hint
        r2.join(F.broadcast(mad), "nation")
        .join(m, "nation")
        .groupBy("nation")
        .agg(
            F.max("n").cast("long").alias("n_customers"),
            F.max("m2").cast("long").alias("median_cents_x2"),
            F.max("mad2").cast("long").alias("mad_cents_x4"),
            F.sum(
                F.when(2 * F.col("dev") > 3 * F.col("mad2"), F.lit(1)).otherwise(F.lit(0))
            )
            .cast("long")
            .alias("n_outliers"),
            F.max("dev").cast("long").alias("max_dev_x2"),
        )
    )


# ---------------------------------------------------------------------------
# Embedding dimension-quality audit
# ---------------------------------------------------------------------------

# Components are scaled to integer micros once (float -> double is
# exact; *1e6 and half-away round agree across engines). Squared sums
# accumulate in DECIMAL(38,0)/HUGEINT — micros² is 1e12 per row, which
# crosses the BIGINT ANSI-overflow line at ~9M rows per dimension (the
# Σx² lesson in BASELINE.md).
_DIM_AUDIT_ORACLE = """
WITH e AS (
  SELECT unnest(embedding) AS v,
         unnest(range(0, len(embedding))) AS dim
  FROM embeddings
),
s AS (
  SELECT CAST(dim AS BIGINT) AS dim,
         CAST(count(*) AS BIGINT) AS n_vals,
         CAST(sum(CASE WHEN vm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero,
         CAST(sum(vm) AS BIGINT) AS sum_micro,
         sum(CAST(vm AS HUGEINT) * vm) AS sumsq
  FROM (SELECT dim, CAST(round(CAST(v AS DOUBLE) * 1000000) AS BIGINT) AS vm FROM e)
  GROUP BY dim
)
SELECT dim, n_vals, n_zero, sum_micro,
       round(sum_micro * 1.0 / n_vals, 4) AS mean_micro,
       round((CAST(sumsq AS DOUBLE)
              - CAST(sum_micro AS DOUBLE) * CAST(sum_micro AS DOUBLE) / n_vals)
             / n_vals, 4) AS var_micro
FROM s
"""


@register("embedding_dim_audit", oracle=_DIM_AUDIT_ORACLE, tags=("similarity", "stats"))
def embedding_dim_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension embedding quality audit: count, exact-zero count,
    and mean/variance of every vector dimension — the screen that
    catches dead dimensions (all-zero), collapsed dimensions (near-zero
    variance), and scale drift before an ANN index is built over the
    column.

    Scale notes: one posexplode fans each vector into (dim, value)
    rows; the dim-keyed aggregate reduces them with map-side partials
    into |dims| rows at any data scale — no shuffle wider than the
    (dim, partial-tuple) frame. Components are integerized to micros
    once; squared sums accumulate in DECIMAL(38,0) (BIGINT Σx² overflows
    past ~9M rows/dim at micro scale), and the two float divisions
    happen once per output row from exact accumulators.
    """
    emb = _t(spark, sf_dir, "embeddings")
    e = emb.select(F.posexplode("embedding").alias("dim", "v")).select(
        F.col("dim").cast("long").alias("dim"),
        F.round(F.col("v").cast("double") * 1000000).cast("long").alias("vm"),
    )
    s = e.groupBy("dim").agg(
        F.count("*").cast("long").alias("n_vals"),
        F.sum(F.when(F.col("vm") == 0, F.lit(1)).otherwise(F.lit(0)))
        .cast("long")
        .alias("n_zero"),
        F.sum("vm").cast("long").alias("sum_micro"),
        F.sum(F.col("vm").cast("decimal(19,0)") * F.col("vm").cast("decimal(19,0)")).alias(
            "sumsq"
        ),
    )
    return s.select(
        "dim",
        "n_vals",
        "n_zero",
        "sum_micro",
        F.round(F.col("sum_micro") * 1.0 / F.col("n_vals"), 4).alias("mean_micro"),
        F.round(
            (
                F.col("sumsq").cast("double")
                - F.col("sum_micro").cast("double")
                * F.col("sum_micro").cast("double")
                / F.col("n_vals")
            )
            / F.col("n_vals"),
            4,
        ).alias("var_micro"),
    )


# ---------------------------------------------------------------------------
# Vocabulary coverage curve (Zipf head)
# ---------------------------------------------------------------------------

_COVERAGE_RANKS = (1, 2, 5, 10, 20, 50, 100, 1000)
_TOPK = max(_COVERAGE_RANKS)

_COVERAGE_ORACLE = f"""
WITH tok AS (
  SELECT unnest(string_split(text, ' ')) AS token
  FROM documents WHERE text IS NOT NULL
),
cnt AS (SELECT token, CAST(count(*) AS BIGINT) AS token_count FROM tok GROUP BY token),
total AS (SELECT CAST(sum(token_count) AS BIGINT) AS t FROM cnt),
top AS (
  SELECT token, token_count,
         row_number() OVER (ORDER BY token_count DESC, token) AS vocab_rank
  FROM cnt ORDER BY token_count DESC, token LIMIT {_TOPK}
),
cum AS (
  SELECT vocab_rank, token, token_count,
         CAST(sum(token_count) OVER (ORDER BY vocab_rank
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS cum_tokens
  FROM top
)
SELECT vocab_rank, token, token_count, cum_tokens,
       round(cum_tokens * 1.0 / total.t, 4) AS cum_share
FROM cum, total
WHERE vocab_rank IN {_COVERAGE_RANKS}
"""


@register("vocab_coverage_curve", oracle=_COVERAGE_ORACLE, tags=("text", "stats"))
def vocab_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf head coverage: what fraction of all corpus tokens the top-1,
    top-2, ... top-1000 vocabulary items cover — the curve that sizes
    tokenizer vocabularies and predicts OOV rates before training one.

    Scale notes: token counts reduce corpus-wide with map-side partials
    (vocabulary-sized frame); the global top-k is TakeOrderedAndProject
    (per-partition heaps, never a full sort of the vocabulary); the
    cumulative window then runs over at most 1000 rows. The grand total
    is a second reduction of the SAME counts frame, recomputed (a
    checkpoint measured flat at sf0.1 and sf1). Ties break on
    the token string, so the curve is a pure function of the data.
    """
    d = _t(spark, sf_dir, "documents")
    tok = (
        d.filter(F.col("text").isNotNull())
        .select(F.explode_outer(F.split("text", " ")).alias("token"))
        .filter(F.col("token").isNotNull())
    )
    cnt = tok.groupBy("token").agg(F.count("*").cast("long").alias("token_count"))
    total = cnt.agg(F.sum("token_count").cast("long").alias("t"))
    top = cnt.orderBy(F.desc("token_count"), F.asc("token")).limit(_TOPK)
    w = Window.orderBy(F.desc("token_count"), F.asc("token"))
    cum = top.select(
        F.row_number().over(w).alias("vocab_rank"),
        "token",
        "token_count",
        F.sum("token_count")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("long")
        .alias("cum_tokens"),
    )
    return (
        cum.filter(F.col("vocab_rank").isin(list(_COVERAGE_RANKS)))
        .crossJoin(total)
        .select(
            F.col("vocab_rank").cast("long").alias("vocab_rank"),
            "token",
            "token_count",
            "cum_tokens",
            F.round(F.col("cum_tokens") * 1.0 / F.col("t"), 4).alias("cum_share"),
        )
    )


# ---------------------------------------------------------------------------
# Purchase path attribution
# ---------------------------------------------------------------------------

_ATTRIB_ORACLE = """
WITH ce AS (
  SELECT user_id, event_id, ts, event_type,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events WHERE event_type IN ('click', 'purchase')
),
g AS (
  SELECT user_id, event_type, cents,
         CAST(coalesce(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
              OVER (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS grp,
         CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
              OVER (PARTITION BY user_id) AS BIGINT) AS n_purchases
  FROM ce
),
per_grp AS (
  SELECT user_id, grp, max(n_purchases) AS n_purchases,
         CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT)
           AS n_clicks,
         CAST(sum(CASE WHEN event_type = 'purchase' THEN cents ELSE 0 END) AS BIGINT)
           AS purchase_cents
  FROM g GROUP BY user_id, grp
)
SELECT user_id,
       CAST(max(n_purchases) AS BIGINT) AS n_purchases,
       CAST(sum(CASE WHEN grp < n_purchases AND n_clicks > 0 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_converting,
       CAST(sum(CASE WHEN grp < n_purchases AND n_clicks > 0
                     THEN purchase_cents ELSE 0 END) AS BIGINT) AS attributed_cents,
       CAST(sum(CASE WHEN grp < n_purchases THEN purchase_cents ELSE 0 END)
            AS BIGINT) AS purchase_cents,
       CAST(sum(CASE WHEN grp >= n_purchases THEN n_clicks ELSE 0 END) AS BIGINT)
         AS orphan_clicks,
       CAST(sum(CASE WHEN grp < n_purchases THEN n_clicks ELSE 0 END) AS BIGINT)
         AS path_clicks
FROM per_grp GROUP BY user_id
"""


@register("purchase_attribution_paths", oracle=_ATTRIB_ORACLE, tags=("window", "events"))
def purchase_attribution_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-step path attribution: every click is assigned to the NEXT
    purchase in the user's time-ordered stream (a running purchase
    counter gap-groups the stream); per user the audit reports how many
    purchases had at least one preceding click since the previous
    purchase (converting), the revenue those paths carry, and the
    clicks left dangling after the last purchase — the path-level view
    the last-touch as-of join (``asof_click_attribution``) collapses.

    Scale notes: one shuffle partitions the filtered click/purchase
    stream by user for the running-counter window (the event-type
    filter pushes to the scan); both rollups (path grain, then user
    grain) are partial-aggregated on the same user key, so no second
    wide shuffle. Money stays in integer cents throughout.
    """
    e = _t(spark, sf_dir, "events")
    ce = e.filter(F.col("event_type").isin("click", "purchase")).select(
        "user_id",
        "event_id",
        "ts",
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    is_p = F.when(F.col("event_type") == "purchase", F.lit(1)).otherwise(F.lit(0))
    w_ord = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    g = ce.select(
        "user_id",
        "event_type",
        "cents",
        F.coalesce(F.sum(is_p).over(w_ord), F.lit(0)).cast("long").alias("grp"),
        F.sum(is_p).over(Window.partitionBy("user_id")).cast("long").alias("n_purchases"),
    )
    per_grp = g.groupBy("user_id", "grp").agg(
        F.max("n_purchases").alias("n_purchases"),
        F.sum(F.when(F.col("event_type") == "click", F.lit(1)).otherwise(F.lit(0)))
        .cast("long")
        .alias("n_clicks"),
        F.sum(F.when(F.col("event_type") == "purchase", F.col("cents")).otherwise(F.lit(0)))
        .cast("long")
        .alias("purchase_cents"),
    )
    in_path = F.col("grp") < F.col("n_purchases")
    converting = in_path & (F.col("n_clicks") > 0)
    return per_grp.groupBy("user_id").agg(
        F.max("n_purchases").cast("long").alias("n_purchases"),
        F.sum(F.when(converting, F.lit(1)).otherwise(F.lit(0)))
        .cast("long")
        .alias("n_converting"),
        F.sum(F.when(converting, F.col("purchase_cents")).otherwise(F.lit(0)))
        .cast("long")
        .alias("attributed_cents"),
        F.sum(F.when(in_path, F.col("purchase_cents")).otherwise(F.lit(0)))
        .cast("long")
        .alias("purchase_cents"),
        F.sum(F.when(~in_path, F.col("n_clicks")).otherwise(F.lit(0)))
        .cast("long")
        .alias("orphan_clicks"),
        F.sum(F.when(in_path, F.col("n_clicks")).otherwise(F.lit(0)))
        .cast("long")
        .alias("path_clicks"),
    )
