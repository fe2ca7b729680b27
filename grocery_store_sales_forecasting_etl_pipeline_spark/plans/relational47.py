"""Round-6 additions, batch 47: the model-evaluation family — the
offline metrics a training pipeline computes to grade a scoring model
before it ships: ROC AUC from the rank statistic (discount as a
predictor of returns), a decile gains/lift table (the campaign-targeting
readout), calibration reliability bins (does a predicted probability
mean what it says), and mutual information between two categoricals
(the model-free association screen that, unlike chi-square, is zero
exactly when the features are independent).

No model artifact is needed: each metric is exercised against a
deterministic score derived from the data itself (discount, total
price percent-rank), so the metric machinery — which is the operator
under test — gets full oracle coverage.

Determinism discipline: every count is BIGINT; the AUC numerator
accumulates in DECIMAL(38,0)/HUGEINT (the ship_delay_ks_test overflow
rule — at 10^12 rows per class the pair count is ~10^24); predicted
probabilities are exact rationals of ROW_NUMBER ranks so bin means
derive from integer rank sums, not float accumulations; MI/entropy
terms use the log-sum form ln(n_ij)+ln(N)-ln(n_i)-ln(n_j) (no
n_ij*N product to overflow) and sum <= 25 doubles before a single
6dp rounding (noise ~1e-15 of the value, the price-index precedent).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from grocery_store_sales_forecasting_etl_pipeline_spark.plans._tables import table as _t
from grocery_store_sales_forecasting_etl_pipeline_spark.plans.scalerank import (
    bucketed_row_number,
)
from grocery_store_sales_forecasting_etl_pipeline_spark.plans.registry import register

# ---------------------------------------------------------------------------
# ROC AUC from the rank statistic
# ---------------------------------------------------------------------------

_AUC_ORACLE = """
WITH per AS (
  SELECT CAST(round(l_discount * 100) AS INTEGER) AS score,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS n1
  FROM lineitem
  GROUP BY 1
),
pc AS (
  SELECT score, n1, n - n1 AS n0,
         CAST(coalesce(sum(n - n1) OVER (ORDER BY score
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS cum0
  FROM per
),
tot AS (
  SELECT CAST(sum(n1) AS BIGINT) AS n_pos,
         CAST(sum(n0) AS BIGINT) AS n_neg,
         sum(CAST(n1 AS HUGEINT) * CAST(2 * cum0 + n0 AS HUGEINT)) AS num2
  FROM pc
)
SELECT n_pos, n_neg,
       round(CAST(num2 AS DOUBLE) / (2.0 * n_pos * n_neg), 6) AS auc,
       round(CAST(num2 AS DOUBLE) / (1.0 * n_pos * n_neg) - 1.0, 6) AS gini
FROM tot
"""


@register("discount_return_auc", oracle=_AUC_ORACLE, tags=("stats", "ml-eval"))
def discount_return_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROC AUC of discount as a predictor of line returns, computed from
    the grouped rank statistic: AUC = P(score_pos > score_neg) +
    0.5 * P(tie). With the score quantized to integer percent the
    whole curve collapses to one tiny per-score frame — per score s:
    n1_s positives, n0_s negatives, and the doubled pair count
    n1_s * (2 * cum_n0_below + n0_s) counts each beaten negative twice
    and each tied negative once. Gini = 2*AUC - 1.

    Numerics: the doubled numerator accumulates in DECIMAL(38,0)
    (Spark) / HUGEINT (DuckDB) — at 10^12 rows per class the pair
    count is ~10^24, far past BIGINT; the single double division and
    6dp rounding happen once at the output boundary with the same
    expression tree on both sides.

    Scale notes: ONE map-side-combinable fact fold to an 11-row
    score frame; the cumulative window and final aggregate run on
    that frame. Nothing downstream of the fold is fact-grain, so the
    operator is a single shuffle of 11 partial rows per task.
    """
    li = _t(spark, sf_dir, "lineitem").select(
        F.round(F.col("l_discount") * 100).cast("int").alias("score"),
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("pos"),
    )
    per = li.groupBy("score").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("pos").cast("long").alias("n1"),
    )
    w = Window.orderBy("score").rowsBetween(Window.unboundedPreceding, -1)
    pc = per.select(
        "score",
        "n1",
        (F.col("n") - F.col("n1")).alias("n0"),
        F.coalesce(
            F.sum(F.col("n") - F.col("n1")).over(w), F.lit(0).cast("long")
        ).alias("cum0"),
    )
    tot = pc.agg(
        F.sum("n1").cast("long").alias("n_pos"),
        F.sum("n0").cast("long").alias("n_neg"),
        F.sum(
            F.col("n1").cast("decimal(19,0)")
            * (2 * F.col("cum0") + F.col("n0")).cast("decimal(19,0)")
        ).alias("num2"),
    )
    return tot.select(
        "n_pos",
        "n_neg",
        F.round(
            F.col("num2").cast("double")
            / (F.lit(2.0) * F.col("n_pos") * F.col("n_neg")),
            6,
        ).alias("auc"),
        F.round(
            F.col("num2").cast("double")
            / (F.lit(1.0) * F.col("n_pos") * F.col("n_neg"))
            - F.lit(1.0),
            6,
        ).alias("gini"),
    )


# ---------------------------------------------------------------------------
# Decile gains / lift table
# ---------------------------------------------------------------------------

_GAINS_ORACLE = """
WITH lab AS (
  SELECT o.o_orderkey, o.o_totalprice,
         CASE WHEN r.l_orderkey IS NULL THEN 0 ELSE 1 END AS pos
  FROM orders o
  LEFT JOIN (SELECT DISTINCT l_orderkey FROM lineitem
             WHERE l_returnflag = 'R') r
    ON o.o_orderkey = r.l_orderkey
),
dec AS (
  SELECT pos,
         ntile(10) OVER (ORDER BY o_totalprice DESC, o_orderkey) AS decile
  FROM lab
),
per AS (
  SELECT decile,
         CAST(count(*) AS BIGINT) AS n_orders,
         CAST(sum(pos) AS BIGINT) AS n_pos
  FROM dec GROUP BY decile
),
cum AS (
  SELECT *,
         CAST(sum(n_pos) OVER (ORDER BY decile
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS cum_pos,
         CAST(sum(n_pos) OVER () AS BIGINT) AS tot_pos,
         CAST(sum(n_orders) OVER () AS BIGINT) AS tot_n
  FROM per
)
SELECT decile, n_orders, n_pos,
       round(CAST(n_pos AS DOUBLE) / n_orders, 6) AS pos_rate,
       round(CAST(cum_pos AS DOUBLE) / tot_pos, 6) AS cum_capture,
       round((CAST(n_pos AS DOUBLE) / n_orders)
             / (CAST(tot_pos AS DOUBLE) / tot_n), 6) AS lift
FROM cum
"""


@register("model_gains_table", oracle=_GAINS_ORACLE, tags=("stats", "ml-eval", "window"))
def model_gains_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile gains/lift table: orders ranked by total price (the
    deterministic stand-in score), split into NTILE(10) deciles with an
    orderkey tie-break, against the label "order contains a returned
    line". Per decile: positive rate, cumulative capture (share of all
    positives found by that depth), and lift vs the base rate — the
    table a campaign targeter reads to pick a contact depth.

    Label derivation is join-key-friendly: lineitem folds to distinct
    returned orderkeys (map-side combinable), then a left join back to
    orders on the natural co-partition key.

    Scale notes: exact deciles need exact global ranks, but NOT a
    global sort — ranks come from the scalerank two-pass (coarse $100
    price-bucket offsets on a bounded frame, then a row_number
    PARTITIONED by bucket), and each row's NTILE bucket is the standard
    ntile formula applied to its exact rank: with base = n/10 and
    rem = n%10, the first rem deciles hold base+1 rows. Identical
    integer decile assignment to the oracle's ntile(10), no
    single-partition sort anywhere. Everything after the decile column
    is a 10-row frame.
    """
    o = _t(spark, sf_dir, "orders")
    ret = (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_returnflag") == "R")
        .select("l_orderkey")
        .distinct()
        .withColumn("pos1", F.lit(1))
    )
    lab = o.join(ret, o.o_orderkey == ret.l_orderkey, "left").select(
        "o_orderkey",
        "o_totalprice",
        F.coalesce(F.col("pos1"), F.lit(0)).alias("pos"),
    )
    ranked = bucketed_row_number(
        lab, "o_totalprice", ["o_orderkey"], coarse_div=100, descending=True
    )
    tot = lab.agg(F.count("*").cast("long").alias("n_all"))
    base = F.floor(F.col("n_all") / 10)
    rem = F.col("n_all") % 10
    cut = rem * (base + 1)
    dec = ranked.crossJoin(tot).select(
        "pos",
        F.when(F.col("rn") <= cut, F.floor((F.col("rn") - 1) / (base + 1)) + 1)
        .otherwise(rem + F.floor((F.col("rn") - cut - 1) / base) + 1)
        .cast("int")
        .alias("decile"),
    )
    per = dec.groupBy("decile").agg(
        F.count("*").cast("long").alias("n_orders"),
        F.sum("pos").cast("long").alias("n_pos"),
    )
    w_cum = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_all = Window.partitionBy()
    cum = per.select(
        "decile",
        "n_orders",
        "n_pos",
        F.sum("n_pos").over(w_cum).cast("long").alias("cum_pos"),
        F.sum("n_pos").over(w_all).cast("long").alias("tot_pos"),
        F.sum("n_orders").over(w_all).cast("long").alias("tot_n"),
    )
    return cum.select(
        "decile",
        "n_orders",
        "n_pos",
        F.round(F.col("n_pos").cast("double") / F.col("n_orders"), 6).alias(
            "pos_rate"
        ),
        F.round(F.col("cum_pos").cast("double") / F.col("tot_pos"), 6).alias(
            "cum_capture"
        ),
        F.round(
            (F.col("n_pos").cast("double") / F.col("n_orders"))
            / (F.col("tot_pos").cast("double") / F.col("tot_n")),
            6,
        ).alias("lift"),
    )


# ---------------------------------------------------------------------------
# Calibration reliability bins
# ---------------------------------------------------------------------------

_CALIB_ORACLE = """
WITH lab AS (
  SELECT o.o_orderkey, o.o_totalprice,
         CASE WHEN r.l_orderkey IS NULL THEN 0 ELSE 1 END AS pos
  FROM orders o
  LEFT JOIN (SELECT DISTINCT l_orderkey FROM lineitem
             WHERE l_returnflag = 'R') r
    ON o.o_orderkey = r.l_orderkey
),
rk AS (
  SELECT pos,
         CAST(row_number() OVER (ORDER BY o_totalprice, o_orderkey) AS BIGINT) - 1
           AS rn0,
         CAST(count(*) OVER () AS BIGINT) AS n_all
  FROM lab
),
b AS (
  SELECT pos, rn0, n_all,
         least(CAST(floor((CAST(rn0 AS DOUBLE) / (n_all - 1)) * 10) AS BIGINT),
               9) AS bin
  FROM rk
)
SELECT bin,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(pos) AS BIGINT) AS n_pos,
       round(CAST(sum(rn0) AS DOUBLE) / count(*) / (any_value(n_all) - 1), 6)
         AS mean_pred,
       round(CAST(sum(pos) AS DOUBLE) / count(*), 6) AS frac_pos,
       round(CAST(sum(pos) AS DOUBLE) / count(*)
             - CAST(sum(rn0) AS DOUBLE) / count(*) / (any_value(n_all) - 1), 6)
         AS calib_gap
FROM b
GROUP BY bin
"""


@register("calibration_bins", oracle=_CALIB_ORACLE, tags=("stats", "ml-eval", "window"))
def calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibration reliability table: the percent-rank of order total
    price (an exact-rational "predicted probability" in [0,1]) bucketed
    into 10 equal-width bins, vs the observed positive rate of the
    has-returned-line label. calib_gap = observed - predicted per bin
    is the reliability-diagram residual.

    Numerics: the prediction is (row_number-1)/(N-1) — an exact
    rational of integers — so the per-bin mean prediction derives from
    an INTEGER rank sum (sum(rn0)/n/(N-1)), never a float
    accumulation; both engines evaluate the identical division tree.
    The bin id floors a double computed from the same integers, so the
    boundary rows land identically on both sides.

    Scale notes: exact ranks come from the scalerank two-pass (coarse
    price-bucket offsets on a bounded frame + partitioned within-bucket
    row_number — no single-partition sort); the rest is a 10-row frame.
    The label join is the shared distinct-returned-orderkeys fold on
    the natural key.
    """
    o = _t(spark, sf_dir, "orders")
    ret = (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_returnflag") == "R")
        .select("l_orderkey")
        .distinct()
        .withColumn("pos1", F.lit(1))
    )
    lab = o.join(ret, o.o_orderkey == ret.l_orderkey, "left").select(
        "o_orderkey",
        "o_totalprice",
        F.coalesce(F.col("pos1"), F.lit(0)).alias("pos"),
    )
    tot = lab.agg(F.count("*").cast("long").alias("n_all"))
    rk = (
        bucketed_row_number(
            lab, "o_totalprice", ["o_orderkey"], coarse_div=100
        )
        .crossJoin(tot)
        .select("pos", (F.col("rn") - 1).alias("rn0"), "n_all")
    )
    b = rk.select(
        "pos",
        "rn0",
        "n_all",
        F.least(
            F.floor((F.col("rn0").cast("double") / (F.col("n_all") - 1)) * 10).cast(
                "long"
            ),
            F.lit(9).cast("long"),
        ).alias("bin"),
    )
    per = b.groupBy("bin").agg(
        F.count("*").cast("long").alias("n_orders"),
        F.sum("pos").cast("long").alias("n_pos"),
        F.sum("rn0").cast("long").alias("sum_rn0"),
        F.first("n_all").alias("n_all"),
    )
    mean_pred = (
        F.col("sum_rn0").cast("double") / F.col("n_orders") / (F.col("n_all") - 1)
    )
    frac_pos = F.col("n_pos").cast("double") / F.col("n_orders")
    return per.select(
        "bin",
        "n_orders",
        "n_pos",
        F.round(mean_pred, 6).alias("mean_pred"),
        F.round(frac_pos, 6).alias("frac_pos"),
        F.round(frac_pos - mean_pred, 6).alias("calib_gap"),
    )


# ---------------------------------------------------------------------------
# Mutual information between two categoricals
# ---------------------------------------------------------------------------

_MI_ORACLE = """
WITH cells AS (
  SELECT c.c_mktsegment AS segment, o.o_orderpriority AS priority,
         CAST(count(*) AS BIGINT) AS n_ij
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
  GROUP BY 1, 2
),
m AS (
  SELECT segment, priority, n_ij,
         CAST(sum(n_ij) OVER (PARTITION BY segment) AS BIGINT) AS n_i,
         CAST(sum(n_ij) OVER (PARTITION BY priority) AS BIGINT) AS n_j,
         CAST(sum(n_ij) OVER () AS BIGINT) AS n
  FROM cells
),
terms AS (
  SELECT n,
         n_ij * (ln(n_ij) + ln(n) - ln(n_i) - ln(n_j)) AS mi_term,
         CASE WHEN segment = min(segment) OVER (PARTITION BY priority)
              THEN n_j * ln(n_j) ELSE 0 END AS hj_term,
         CASE WHEN priority = min(priority) OVER (PARTITION BY segment)
              THEN n_i * ln(n_i) ELSE 0 END AS hi_term,
         n_ij * ln(n_ij) AS hij_term
  FROM m
)
SELECT any_value(n) AS n,
       round(ln(any_value(n)) - sum(hi_term) / any_value(n), 6) AS h_segment,
       round(ln(any_value(n)) - sum(hj_term) / any_value(n), 6) AS h_priority,
       round(ln(any_value(n)) - sum(hij_term) / any_value(n), 6) AS h_joint,
       round(sum(mi_term) / any_value(n), 6) AS mutual_info,
       round((sum(mi_term) / any_value(n))
             / sqrt((ln(any_value(n)) - sum(hi_term) / any_value(n))
                    * (ln(any_value(n)) - sum(hj_term) / any_value(n))), 6)
         AS nmi
FROM terms
"""


@register(
    "segment_priority_mutual_info",
    oracle=_MI_ORACLE,
    tags=("stats", "ml-eval"),
)
def segment_priority_mutual_info(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information between customer market segment and order
    priority (orders joined to customer), with marginal/joint entropies
    and the normalized MI (sqrt-entropy normalization) — the model-free
    feature-association screen. Unlike chi-square (see
    priority_status_chi2's densification), empty cells contribute
    exactly 0 to MI by the 0*ln(0)=0 convention, so no densification is
    needed — documented here because the r5 advice made the distinction
    load-bearing.

    Numerics: the log-sum form ln(n_ij)+ln(n)-ln(n_i)-ln(n_j) never
    forms the n_ij*n product (which overflows BIGINT at ~3e9 rows);
    entropies come from integer-count folds of n*ln(n) terms; the <= 25
    cell terms sum before ONE 6dp rounding (double-order noise ~1e-15
    of the value — the price-index precedent). Marginal entropy terms
    are emitted once per level via a min-over-partition guard so the
    single final aggregate needs no second pass.

    Scale notes: one fact fold to the (segment x priority) cell frame
    (map-side combinable), window marginals on the <= 25-row frame, one
    global aggregate. The customer join is a plain key join that
    co-partitions with orders at scale.
    """
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    cells = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy(
            F.col("c_mktsegment").alias("segment"),
            F.col("o_orderpriority").alias("priority"),
        )
        .agg(F.count("*").cast("long").alias("n_ij"))
    )
    m = cells.select(
        "segment",
        "priority",
        "n_ij",
        F.sum("n_ij").over(Window.partitionBy("segment")).cast("long").alias("n_i"),
        F.sum("n_ij").over(Window.partitionBy("priority")).cast("long").alias("n_j"),
        F.sum("n_ij").over(Window.partitionBy()).cast("long").alias("n"),
    )
    terms = m.select(
        "n",
        (
            F.col("n_ij")
            * (
                F.log(F.col("n_ij"))
                + F.log(F.col("n"))
                - F.log(F.col("n_i"))
                - F.log(F.col("n_j"))
            )
        ).alias("mi_term"),
        F.when(
            F.col("segment")
            == F.min("segment").over(Window.partitionBy("priority")),
            F.col("n_j") * F.log(F.col("n_j")),
        )
        .otherwise(F.lit(0.0))
        .alias("hj_term"),
        F.when(
            F.col("priority")
            == F.min("priority").over(Window.partitionBy("segment")),
            F.col("n_i") * F.log(F.col("n_i")),
        )
        .otherwise(F.lit(0.0))
        .alias("hi_term"),
        (F.col("n_ij") * F.log(F.col("n_ij"))).alias("hij_term"),
    )
    n = F.first("n")
    h_seg = F.log(F.first("n")) - F.sum("hi_term") / F.first("n")
    h_pri = F.log(F.first("n")) - F.sum("hj_term") / F.first("n")
    h_joint = F.log(F.first("n")) - F.sum("hij_term") / F.first("n")
    mi = F.sum("mi_term") / F.first("n")
    return terms.agg(
        n.alias("n"),
        F.round(h_seg, 6).alias("h_segment"),
        F.round(h_pri, 6).alias("h_priority"),
        F.round(h_joint, 6).alias("h_joint"),
        F.round(mi, 6).alias("mutual_info"),
        F.round(mi / F.sqrt(h_seg * h_pri), 6).alias("nmi"),
    )
