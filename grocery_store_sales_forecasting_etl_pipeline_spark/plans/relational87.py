"""Round-6 additions, batch 87: decision thresholds, risk-model
backtesting, asymmetric performance ratios, and median-quadrant
dependence — the Youden-J optimal threshold for the discount→return
classifier (the cut the ROC table (discount_return_auc) never names:
where TPR−FPR peaks, selected by EXACT integer cross-multiplication),
the Kupiec POF + Christoffersen independence backtest of a 95% VaR on
daily revenue changes (the regulatory pair: right NUMBER of
exceptions AND no clustering), the Omega and Sortino ratios of weekly
revenue changes (gain/loss asymmetry and downside-only risk — the
numbers a mean/variance summary hides when the loss tail is fat), and
Blomqvist's β between line quantity and price (the median-quadrant
correlation: sign agreement about the two medians — O(n) exact, the
dependence screen that runs at fact-table scale where rank
correlations need a sort).

Determinism discipline: thresholds and medians are exact integer
order statistics; the Youden argmax maximizes the INTEGER
n_neg·TP − n_pos·FP (never a float difference) with a smallest-
threshold tie-break; backtest exception/transition counts are exact
with every ln-term zero-guarded; omega/sortino fold integer
gain/loss/square sums in HUGEINT/DECIMAL(38,0); one rounding per
output float.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from grocery_store_sales_forecasting_etl_pipeline_spark.plans._tables import table as _t
from grocery_store_sales_forecasting_etl_pipeline_spark.plans.registry import register

_DEC = "decimal(38,0)"

# ---------------------------------------------------------------------------
# Youden-J optimal threshold: discount → return flag
# ---------------------------------------------------------------------------

_YOUDEN_ORACLE = """
WITH per AS (
  SELECT CAST(round(l_discount * 100) AS BIGINT) AS score,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS n1
  FROM lineitem GROUP BY score
),
sfx AS (
  SELECT score,
         CAST(sum(n1) OVER (ORDER BY score DESC
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS tp,
         CAST(sum(n - n1) OVER (ORDER BY score DESC
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS fp,
         CAST(sum(n1) OVER () AS BIGINT) AS n_pos,
         CAST(sum(n - n1) OVER () AS BIGINT) AS n_neg
  FROM per
),
best AS (
  SELECT score, tp, fp, n_pos, n_neg,
         row_number() OVER (ORDER BY CAST(n_neg AS HUGEINT) * tp
                                     - CAST(n_pos AS HUGEINT) * fp DESC,
                            score) AS rn
  FROM sfx
)
SELECT score AS threshold_cents, n_pos, n_neg, tp, fp,
       round(CAST(tp AS DOUBLE) / n_pos, 6) AS tpr,
       round(CAST(fp AS DOUBLE) / n_neg, 6) AS fpr,
       round(CAST(tp AS DOUBLE) / n_pos - CAST(fp AS DOUBLE) / n_neg, 6) AS youden_j
FROM best WHERE rn = 1
"""


@register("discount_return_youden", oracle=_YOUDEN_ORACLE, tags=("stats", "ml-eval"))
def discount_return_youden(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Youden-J optimal operating point for the discount→return
    classifier (positive = returnflag 'R', classify positive when
    discount ≥ threshold): the threshold maximizing TPR − FPR, i.e.
    the point of discount_return_auc's ROC furthest above the
    diagonal. J > 0 quantifies the best achievable balanced decision;
    the threshold itself is what a returns-triage rule would deploy.

    Determinism: TP/FP come from descending cumulative sums on the
    11-level score value-count frame; the argmax maximizes the exact
    integer n_neg·TP − n_pos·FP (HUGEINT cross-products — identical
    to maximizing the float J without ever comparing floats),
    tie-broken toward the smallest threshold; divisions happen once
    in the output row.

    Scale notes: one lineitem scan folding map-side onto the
    discount-domain frame; windows run over 11 rows.
    """
    per = (
        _t(spark, sf_dir, "lineitem")
        .select(
            F.round(F.col("l_discount") * 100).cast("long").alias("score"),
            F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("pos"),
        )
        .groupBy("score")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum("pos").cast("long").alias("n1"),
        )
    )
    w_sfx = Window.orderBy(F.desc("score")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_all = Window.partitionBy()
    sfx = per.select(
        "score",
        F.sum("n1").over(w_sfx).cast("long").alias("tp"),
        F.sum(F.col("n") - F.col("n1")).over(w_sfx).cast("long").alias("fp"),
        F.sum("n1").over(w_all).cast("long").alias("n_pos"),
        F.sum(F.col("n") - F.col("n1")).over(w_all).cast("long").alias("n_neg"),
    )
    key = F.col("n_neg").cast(_DEC) * F.col("tp") - F.col("n_pos").cast(_DEC) * F.col("fp")
    best = sfx.select(
        "score",
        "tp",
        "fp",
        "n_pos",
        "n_neg",
        F.row_number().over(Window.orderBy(key.desc(), F.asc("score"))).alias("rn"),
    ).filter(F.col("rn") == 1)
    tpr = F.col("tp").cast("double") / F.col("n_pos")
    fpr = F.col("fp").cast("double") / F.col("n_neg")
    return best.select(
        F.col("score").alias("threshold_cents"),
        "n_pos",
        "n_neg",
        "tp",
        "fp",
        F.round(tpr, 6).alias("tpr"),
        F.round(fpr, 6).alias("fpr"),
        F.round(tpr - fpr, 6).alias("youden_j"),
    )


# ---------------------------------------------------------------------------
# VaR backtest: Kupiec POF + Christoffersen independence
# ---------------------------------------------------------------------------

_KUPIEC_ORACLE = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS d,
         sum(CAST(round(o_totalprice * 100) AS BIGINT)) // 100 AS dollars
  FROM orders GROUP BY d
),
chg AS (
  SELECT d, dollars - lag(dollars) OVER (ORDER BY d) AS x
  FROM daily QUALIFY x IS NOT NULL
),
rn AS (
  SELECT d, x,
         CAST(row_number() OVER (ORDER BY d) AS BIGINT) AS i,
         CAST(count(*) OVER () AS BIGINT) AS n
  FROM chg
),
tv AS (
  SELECT x, CAST(count(*) AS BIGINT) AS c
  FROM rn WHERE 4 * i <= 3 * n GROUP BY x
),
tcw AS (
  SELECT x,
         CAST(sum(c) OVER (ORDER BY x
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
         CAST(sum(c) OVER () AS BIGINT) AS m
  FROM tv
),
var95 AS (SELECT min(CASE WHEN 20 * cum >= m THEN x END) AS v,
                 max(m) AS n_train FROM tcw),
test AS (
  SELECT rn.i, CASE WHEN rn.x < var95.v THEN 1 ELSE 0 END AS e
  FROM rn CROSS JOIN var95 WHERE 4 * rn.i > 3 * rn.n
),
seq AS (
  SELECT e, lag(e) OVER (ORDER BY i) AS pe FROM test
),
cnts AS (
  SELECT CAST(count(*) AS BIGINT) AS nt,
         CAST(sum(e) AS BIGINT) AS xx,
         CAST(sum(CASE WHEN pe = 0 AND e = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n00,
         CAST(sum(CASE WHEN pe = 0 AND e = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n01,
         CAST(sum(CASE WHEN pe = 1 AND e = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n10,
         CAST(sum(CASE WHEN pe = 1 AND e = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n11
  FROM seq
),
lr AS (
  SELECT nt, xx, n00, n01, n10, n11,
         -2.0 * ((nt - xx) * ln(0.95) + xx * ln(0.05)
                 - CASE WHEN nt - xx > 0
                        THEN (nt - xx) * ln((CAST(nt AS DOUBLE) - xx) / nt) ELSE 0.0 END
                 - CASE WHEN xx > 0
                        THEN xx * ln(CAST(xx AS DOUBLE) / nt) ELSE 0.0 END) AS lr_pof,
         -2.0 * (CASE WHEN n00 + n10 > 0 AND n01 + n11 > 0 AND n00 + n01 + n10 + n11 > 0
                      THEN (n00 + n10) * ln(1.0 - CAST(n01 + n11 AS DOUBLE)
                                                  / (n00 + n01 + n10 + n11))
                           + (n01 + n11) * ln(CAST(n01 + n11 AS DOUBLE)
                                              / (n00 + n01 + n10 + n11))
                      ELSE 0.0 END
                 - CASE WHEN n00 > 0 THEN n00 * ln(CAST(n00 AS DOUBLE) / (n00 + n01))
                        ELSE 0.0 END
                 - CASE WHEN n01 > 0 THEN n01 * ln(CAST(n01 AS DOUBLE) / (n00 + n01))
                        ELSE 0.0 END
                 - CASE WHEN n10 > 0 THEN n10 * ln(CAST(n10 AS DOUBLE) / (n10 + n11))
                        ELSE 0.0 END
                 - CASE WHEN n11 > 0 THEN n11 * ln(CAST(n11 AS DOUBLE) / (n10 + n11))
                        ELSE 0.0 END) AS lr_ind
  FROM cnts
)
SELECT (SELECT n_train FROM var95) AS n_train,
       lr.nt AS n_test,
       (SELECT v FROM var95) AS var95_dollars,
       lr.xx AS n_exceptions,
       round(CAST(lr.xx AS DOUBLE) / lr.nt, 6) AS exception_rate,
       round(lr.lr_pof, 6) AS lr_pof,
       round(lr.lr_ind, 6) AS lr_independence
FROM lr
"""


@register("daily_change_var_backtest", oracle=_KUPIEC_ORACLE, tags=("stats", "ml-eval"))
def daily_change_var_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kupiec POF + Christoffersen independence backtest of a 95% VaR
    for daily revenue changes: VaR = the exact 5th percentile of the
    first 75% of days (by calendar), exceptions = test days whose
    change falls strictly below it. LR_POF tests whether the
    exception RATE is 5% (χ²₁); LR_independence tests whether
    exceptions CLUSTER (χ²₁ on the first-order transition matrix) —
    the pair regulators require together, because a model can pass on
    rate while failing on clustering. Completes the registered
    order_value_var_es (in-sample VaR/ES) with out-of-sample
    validation.

    Determinism: the 75/25 split and the 5% quantile are
    cross-multiplied integer selections (4i ≤ 3n, 20·cum ≥ m);
    exception and transition counts are exact integers; every ln-term
    is zero-guarded so empty cells contribute exactly 0 (the
    0·ln 0 = 0 convention); two rounded doubles.

    Scale notes: daily fold map-side onto the calendar-bounded frame;
    all windows run over thousands of rows at most.
    """
    o = _t(spark, sf_dir, "orders")
    daily = (
        o.select(
            F.col("o_orderdate").cast("date").alias("d"),
            F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        )
        .groupBy("d")
        .agg(F.expr("sum(cents) DIV 100").alias("dollars"))
    )
    w_d = Window.orderBy("d")
    w_all = Window.partitionBy()
    chg = daily.select(
        "d", (F.col("dollars") - F.lag("dollars").over(w_d)).alias("x")
    ).filter(F.col("x").isNotNull())
    rn = chg.select(
        "x",
        F.row_number().over(w_d.orderBy("d")).cast("long").alias("i"),
        F.count("*").over(w_all).cast("long").alias("n"),
    )
    tv = (
        rn.filter(F.lit(4) * F.col("i") <= F.lit(3) * F.col("n"))
        .groupBy("x")
        .agg(F.count("*").cast("long").alias("c"))
    )
    w_cum = Window.orderBy("x").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tcw = tv.select(
        "x",
        F.sum("c").over(w_cum).cast("long").alias("cum"),
        F.sum("c").over(w_all).cast("long").alias("m"),
    )
    var95 = tcw.agg(
        F.min(F.when(F.lit(20) * F.col("cum") >= F.col("m"), F.col("x"))).alias("v"),
        F.max("m").alias("n_train"),
    )
    test = (
        rn.crossJoin(var95)
        .filter(F.lit(4) * F.col("i") > F.lit(3) * F.col("n"))
        .select("i", F.when(F.col("x") < F.col("v"), 1).otherwise(0).alias("e"))
    )
    seq = test.select("e", F.lag("e").over(Window.orderBy("i")).alias("pe"))
    cnts = seq.agg(
        F.count("*").cast("long").alias("nt"),
        F.sum("e").cast("long").alias("xx"),
        F.sum(F.when((F.col("pe") == 0) & (F.col("e") == 0), 1).otherwise(0))
        .cast("long")
        .alias("n00"),
        F.sum(F.when((F.col("pe") == 0) & (F.col("e") == 1), 1).otherwise(0))
        .cast("long")
        .alias("n01"),
        F.sum(F.when((F.col("pe") == 1) & (F.col("e") == 0), 1).otherwise(0))
        .cast("long")
        .alias("n10"),
        F.sum(F.when((F.col("pe") == 1) & (F.col("e") == 1), 1).otherwise(0))
        .cast("long")
        .alias("n11"),
    )
    nt_d = F.col("nt").cast("double")
    xx = F.col("xx")
    lr_pof = F.lit(-2.0) * (
        (F.col("nt") - xx) * F.log(F.lit(0.95))
        + xx * F.log(F.lit(0.05))
        - F.when(
            F.col("nt") - xx > 0,
            (F.col("nt") - xx) * F.log((nt_d - xx) / F.col("nt")),
        ).otherwise(F.lit(0.0))
        - F.when(xx > 0, xx * F.log(xx.cast("double") / F.col("nt"))).otherwise(
            F.lit(0.0)
        )
    )
    ntr = F.col("n00") + F.col("n01") + F.col("n10") + F.col("n11")
    n_e = F.col("n01") + F.col("n11")
    n_ne = F.col("n00") + F.col("n10")
    lr_ind = F.lit(-2.0) * (
        F.when(
            (n_ne > 0) & (n_e > 0) & (ntr > 0),
            n_ne * F.log(F.lit(1.0) - n_e.cast("double") / ntr)
            + n_e * F.log(n_e.cast("double") / ntr),
        ).otherwise(F.lit(0.0))
        - F.when(
            F.col("n00") > 0,
            F.col("n00") * F.log(F.col("n00").cast("double") / (F.col("n00") + F.col("n01"))),
        ).otherwise(F.lit(0.0))
        - F.when(
            F.col("n01") > 0,
            F.col("n01") * F.log(F.col("n01").cast("double") / (F.col("n00") + F.col("n01"))),
        ).otherwise(F.lit(0.0))
        - F.when(
            F.col("n10") > 0,
            F.col("n10") * F.log(F.col("n10").cast("double") / (F.col("n10") + F.col("n11"))),
        ).otherwise(F.lit(0.0))
        - F.when(
            F.col("n11") > 0,
            F.col("n11") * F.log(F.col("n11").cast("double") / (F.col("n10") + F.col("n11"))),
        ).otherwise(F.lit(0.0))
    )
    return cnts.crossJoin(var95).select(
        "n_train",
        F.col("nt").alias("n_test"),
        F.col("v").alias("var95_dollars"),
        F.col("xx").alias("n_exceptions"),
        F.round(xx.cast("double") / F.col("nt"), 6).alias("exception_rate"),
        F.round(lr_pof, 6).alias("lr_pof"),
        F.round(lr_ind, 6).alias("lr_independence"),
    )


# ---------------------------------------------------------------------------
# Omega + Sortino ratios of weekly revenue changes
# ---------------------------------------------------------------------------

_OMEGA_ORACLE = """
WITH weekly AS (
  SELECT CAST(date_trunc('week', o_orderdate) AS DATE) AS week_start,
         sum(CAST(round(o_totalprice * 100) AS BIGINT)) // 100 AS dollars
  FROM orders GROUP BY week_start
),
chg AS (
  SELECT dollars - lag(dollars) OVER (ORDER BY week_start) AS d
  FROM weekly QUALIFY d IS NOT NULL
),
g AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(d) AS BIGINT) AS net,
         CAST(sum(CASE WHEN d > 0 THEN d ELSE 0 END) AS BIGINT) AS gains,
         CAST(sum(CASE WHEN d < 0 THEN -d ELSE 0 END) AS BIGINT) AS losses,
         CAST(sum(CASE WHEN d < 0 THEN CAST(d AS HUGEINT) * d ELSE 0 END)
              AS DECIMAL(38,0)) AS down2
  FROM chg
)
SELECT n AS n_changes, gains AS gains_dollars, losses AS losses_dollars,
       round(CAST(gains AS DOUBLE) / losses, 6) AS omega_ratio,
       round(CAST(net AS DOUBLE) / sqrt(CAST(n AS DOUBLE) * CAST(down2 AS DOUBLE)), 6)
         AS sortino_ratio
FROM g
"""


@register("weekly_change_omega_sortino", oracle=_OMEGA_ORACLE, tags=("stats",))
def weekly_change_omega_sortino(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Omega and Sortino ratios of week-over-week revenue changes at
    threshold 0: Omega = Σgains/Σlosses (the COMPLETE gain/loss
    asymmetry — uses every moment at once), Sortino = mean change /
    downside deviation (risk counted only when it hurts). The pair
    order_value_var_es can't substitute for: VaR/ES describe the loss
    TAIL, these price growth against it. Written as Σd/√(n·Σd₋²) so
    the two exact integer sums meet in one expression.

    Determinism: gains, losses, net, and the downside square sum are
    exact integers (HUGEINT squares → DECIMAL(38,0)); each ratio is
    one rounded double.

    Scale notes: weekly fold map-side; one lag window over hundreds of
    rows.
    """
    o = _t(spark, sf_dir, "orders")
    weekly = (
        o.select(
            F.date_trunc("week", "o_orderdate").cast("date").alias("week_start"),
            F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        )
        .groupBy("week_start")
        .agg(F.expr("sum(cents) DIV 100").alias("dollars"))
    )
    w = Window.orderBy("week_start")
    chg = weekly.select(
        (F.col("dollars") - F.lag("dollars").over(w)).alias("d")
    ).filter(F.col("d").isNotNull())
    g = chg.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("d").cast("long").alias("net"),
        F.sum(F.when(F.col("d") > 0, F.col("d")).otherwise(0)).cast("long").alias("gains"),
        F.sum(F.when(F.col("d") < 0, -F.col("d")).otherwise(0))
        .cast("long")
        .alias("losses"),
        F.sum(
            F.when(F.col("d") < 0, F.col("d").cast(_DEC) * F.col("d").cast(_DEC)).otherwise(
                F.lit(0).cast(_DEC)
            )
        )
        .cast(_DEC)
        .alias("down2"),
    )
    return g.select(
        F.col("n").alias("n_changes"),
        F.col("gains").alias("gains_dollars"),
        F.col("losses").alias("losses_dollars"),
        F.round(F.col("gains").cast("double") / F.col("losses"), 6).alias("omega_ratio"),
        F.round(
            F.col("net").cast("double")
            / F.sqrt(F.col("n").cast("double") * F.col("down2").cast("double")),
            6,
        ).alias("sortino_ratio"),
    )


# ---------------------------------------------------------------------------
# Blomqvist's beta: quantity vs extended price (median quadrants)
# ---------------------------------------------------------------------------

_BLOMQVIST_ORACLE = """
WITH li AS (
  SELECT CAST(l_quantity AS BIGINT) AS qty,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS price
  FROM lineitem
),
vq AS (SELECT qty AS v, CAST(count(*) AS BIGINT) AS c FROM li GROUP BY qty),
cq AS (
  SELECT v, CAST(sum(c) OVER (ORDER BY v
       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
       CAST(sum(c) OVER () AS BIGINT) AS n
  FROM vq
),
mq AS (SELECT min(CASE WHEN 2 * cum >= n THEN v END) AS m FROM cq),
vp AS (SELECT price AS v, CAST(count(*) AS BIGINT) AS c FROM li GROUP BY price),
cp AS (
  SELECT v, CAST(sum(c) OVER (ORDER BY v
       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
       CAST(sum(c) OVER () AS BIGINT) AS n
  FROM vp
),
mp AS (SELECT min(CASE WHEN 2 * cum >= n THEN v END) AS m FROM cp),
g AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         max(mq.m) AS med_qty, max(mp.m) AS med_price,
         CAST(sum(CASE WHEN (li.qty > mq.m AND li.price > mp.m)
                         OR (li.qty < mq.m AND li.price < mp.m)
                  THEN 1 ELSE 0 END) AS BIGINT) AS conc,
         CAST(sum(CASE WHEN (li.qty > mq.m AND li.price < mp.m)
                         OR (li.qty < mq.m AND li.price > mp.m)
                  THEN 1 ELSE 0 END) AS BIGINT) AS disc
  FROM li CROSS JOIN mq CROSS JOIN mp
)
SELECT n AS n_lines, med_qty, med_price AS med_price_cents,
       conc AS n_concordant, disc AS n_discordant,
       round((CAST(conc AS DOUBLE) - disc) / (CAST(conc AS DOUBLE) + disc), 6)
         AS blomqvist_beta
FROM g
"""


@register("qty_price_blomqvist_beta", oracle=_BLOMQVIST_ORACLE, tags=("stats",))
def qty_price_blomqvist_beta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blomqvist's β (median-quadrant correlation) between line
    quantity and extended price: split the plane at the two exact
    medians, β = (concordant − discordant)/(concordant + discordant)
    over the four quadrants (on-median points sit out). The O(n)
    dependence screen that needs NO ranking of the fact table — two
    value-count medians and one counting pass — so unlike Spearman/
    Kendall it runs at full fact-table scale with only domain-bounded
    shuffles. (This driver's synthetic generator draws extendedprice
    independently of quantity — measured β ≈ 0.005 at sf0.01 — so the
    query doubles as a generator-independence audit; on real retail
    data where extendedprice = qty × unit price, β is strongly
    positive.)

    Determinism: both medians are exact lower order statistics off
    integer value-count frames; quadrant counts are exact integers
    with strict inequalities (ties excluded per the standard
    definition); one division.

    Scale notes: two map-side value-count folds (quantity domain ~50
    values; price domain distinct-bounded) and one broadcast-scalar
    counting scan — no fact-table sort or window anywhere.
    """
    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").cast("long").alias("qty"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("price"),
    )

    def _median(df: DataFrame, col: str) -> DataFrame:
        # bucketed-prefix median: a global cumulative window over a
        # near-unique value domain (price: ~n distinct) is a
        # single-task sort; splitting the prefix into a tiny global
        # bucket window (v DIV 65536, ~hundreds of rows) plus
        # PARTITIONED within-bucket cumulative windows keeps every big
        # sort parallel (measured 15.3s -> 6.0s at sf1).
        v = df.groupBy(F.col(col).alias("v")).agg(
            F.count("*").cast("long").alias("c")
        ).withColumn("b", F.expr("v DIV 65536"))
        bs = v.groupBy("b").agg(F.sum("c").cast("long").alias("bc"))
        w_b = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, -1)
        w_all = Window.partitionBy()
        bp = bs.select(
            "b",
            F.coalesce(F.sum("bc").over(w_b), F.lit(0)).cast("long").alias("pre"),
            F.sum("bc").over(w_all).cast("long").alias("n"),
        )
        w_in = (
            Window.partitionBy("b")
            .orderBy("v")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        cw = v.join(bp, "b").select(
            "v",
            (F.col("pre") + F.sum("c").over(w_in)).cast("long").alias("cum"),
            "n",
        )
        return cw.agg(
            F.min(F.when(F.lit(2) * F.col("cum") >= F.col("n"), F.col("v"))).alias("m")
        )

    mq = _median(li, "qty").select(F.col("m").alias("mq"))
    mp = _median(li, "price").select(F.col("m").alias("mp"))
    conc = (
        (F.col("qty") > F.col("mq")) & (F.col("price") > F.col("mp"))
    ) | ((F.col("qty") < F.col("mq")) & (F.col("price") < F.col("mp")))
    disc = (
        (F.col("qty") > F.col("mq")) & (F.col("price") < F.col("mp"))
    ) | ((F.col("qty") < F.col("mq")) & (F.col("price") > F.col("mp")))
    g = (
        li.crossJoin(mq)
        .crossJoin(mp)
        .agg(
            F.count("*").cast("long").alias("n"),
            F.max("mq").alias("med_qty"),
            F.max("mp").alias("med_price"),
            F.sum(F.when(conc, 1).otherwise(0)).cast("long").alias("conc"),
            F.sum(F.when(disc, 1).otherwise(0)).cast("long").alias("disc"),
        )
    )
    return g.select(
        F.col("n").alias("n_lines"),
        "med_qty",
        F.col("med_price").alias("med_price_cents"),
        F.col("conc").alias("n_concordant"),
        F.col("disc").alias("n_discordant"),
        F.round(
            (F.col("conc").cast("double") - F.col("disc"))
            / (F.col("conc").cast("double") + F.col("disc")),
            6,
        ).alias("blomqvist_beta"),
    )
