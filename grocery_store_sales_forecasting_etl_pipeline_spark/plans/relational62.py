"""Round-6 additions, batch 62: tail risk and parametric fits — a
two-component Gaussian mixture fitted by TWO fixed EM iterations in
pure relational algebra (the "is this distribution secretly two
populations" screen, with deterministic quartile initialization),
the Hill tail-index estimator (how heavy is the price tail — decides
whether means are even stable), a Weibull fit of inter-order gaps by
probability-plot regression (the aging/clustering refinement of the
exponential Q-Q screen: shape < 1 bursty, > 1 regularizing), and
Value-at-Risk / Expected Shortfall of order value (the finance-
standard tail pair, as exact order statistics).

Determinism discipline: EM runs on the (value, count) frame with
quartile-anchored init and exactly two update passes; every
responsibility is exp of a double derived from exact integers with
identical trees (cross-engine sum-order noise ~1e-12 relative,
emitted at dollar-2dp / 6dp tolerances orders of magnitude above
it); Hill/Weibull/VaR use exact integer order statistics with ln the
documented libm exception; ES means divide HUGEINT/DECIMAL sums.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from grocery_store_sales_forecasting_etl_pipeline_spark.plans._tables import table as _t
from grocery_store_sales_forecasting_etl_pipeline_spark.plans.registry import register
from grocery_store_sales_forecasting_etl_pipeline_spark.plans.scalerank import (
    ranked_points, value_cum_counts,
)

# ---------------------------------------------------------------------------
# Two-component Gaussian mixture, 2 EM iterations
# ---------------------------------------------------------------------------

_GMM_ORACLE = """
WITH x AS (
  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS v FROM orders
),
vc AS (SELECT v, CAST(count(*) AS BIGINT) AS c FROM x GROUP BY v),
rk AS (
  SELECT v, c,
         CAST(sum(c) OVER (ORDER BY v
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS cum,
         CAST(sum(c) OVER () AS BIGINT) AS n
  FROM vc
),
init AS (
  SELECT CAST(min(CASE WHEN 4 * cum >= n THEN v END) AS DOUBLE) AS mu1,
         CAST(min(CASE WHEN 4 * cum >= 3 * n THEN v END) AS DOUBLE) AS mu2,
         (SELECT sqrt((CAST(sum(CAST(v AS HUGEINT) * v * c) AS DOUBLE)
                       - CAST(sum(CAST(v AS HUGEINT) * c) AS DOUBLE)
                         * CAST(sum(CAST(v AS HUGEINT) * c) AS DOUBLE)
                         / sum(c))
                      / (sum(c) - 1)) FROM vc) AS sg,
         0.5 AS pi1
  FROM rk
),
e1 AS (
  SELECT vc.v, vc.c,
         i.pi1 * exp(-((vc.v - i.mu1) * (vc.v - i.mu1))
                     / (2 * i.sg * i.sg)) / i.sg AS w1,
         (1 - i.pi1) * exp(-((vc.v - i.mu2) * (vc.v - i.mu2))
                     / (2 * i.sg * i.sg)) / i.sg AS w2
  FROM vc CROSS JOIN init i
),
m1 AS (
  SELECT sum(c * (w1 / (w1 + w2))) AS n1,
         sum(c * (w1 / (w1 + w2)) * v) AS s1,
         sum(c * (w1 / (w1 + w2)) * v * v) AS q1,
         sum(c * (1 - w1 / (w1 + w2))) AS n2,
         sum(c * (1 - w1 / (w1 + w2)) * v) AS s2,
         sum(c * (1 - w1 / (w1 + w2)) * v * v) AS q2,
         CAST(sum(c) AS BIGINT) AS n
  FROM e1
),
p1 AS (
  SELECT n1 / n AS pi1, s1 / n1 AS mu1, sqrt(q1 / n1 - (s1/n1)*(s1/n1)) AS sg1,
         s2 / n2 AS mu2, sqrt(q2 / n2 - (s2/n2)*(s2/n2)) AS sg2, n
  FROM m1
),
e2 AS (
  SELECT vc.v, vc.c,
         p.pi1 * exp(-((vc.v - p.mu1) * (vc.v - p.mu1))
                     / (2 * p.sg1 * p.sg1)) / p.sg1 AS w1,
         (1 - p.pi1) * exp(-((vc.v - p.mu2) * (vc.v - p.mu2))
                     / (2 * p.sg2 * p.sg2)) / p.sg2 AS w2
  FROM vc CROSS JOIN p1 p
),
m2 AS (
  SELECT sum(c * (w1 / (w1 + w2))) AS n1,
         sum(c * (w1 / (w1 + w2)) * v) AS s1,
         sum(c * (w1 / (w1 + w2)) * v * v) AS q1,
         sum(c * (1 - w1 / (w1 + w2))) AS n2,
         sum(c * (1 - w1 / (w1 + w2)) * v) AS s2,
         sum(c * (1 - w1 / (w1 + w2)) * v * v) AS q2,
         CAST(sum(c) AS BIGINT) AS n
  FROM e2
)
SELECT n AS n_orders,
       round(n1 / n, 6) AS pi_1,
       round(s1 / n1 / 100, 2) AS mu_1_dollars,
       round(sqrt(q1 / n1 - (s1/n1)*(s1/n1)) / 100, 2) AS sigma_1_dollars,
       round(s2 / n2 / 100, 2) AS mu_2_dollars,
       round(sqrt(q2 / n2 - (s2/n2)*(s2/n2)) / 100, 2) AS sigma_2_dollars
FROM m2
"""


@register("price_gmm2_em", oracle=_GMM_ORACLE, tags=("stats", "ml-eval"))
def price_gmm2_em(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-component Gaussian mixture over order value, fitted by
    exactly TWO EM iterations in pure relational algebra: quartile-
    anchored initialization (exact order statistics, shared initial σ),
    then E-step responsibilities and M-step moment updates as folds
    over the (value, count) frame. Two fixed iterations is the
    CONTRACT (a deterministic screen, not a convergence loop): it is
    enough to split a genuinely bimodal column while keeping the
    output a pure function of the data.

    Numerics: responsibilities are exp() of doubles derived from exact
    integers with identical trees; the weighted-moment folds carry
    ~1e-12 relative cross-engine sum-order noise, emitted at dollar
    2dp / 6dp — four orders of magnitude of headroom (module
    preamble). Initialization is integer cross-multiplied quartiles.

    Scale notes: the fact folds once to the value-count frame
    (price-domain bounded); each EM iteration is one broadcast of a
    1-row parameter frame and one fold over the value frame — 2
    iterations = 2 passes, no driver loop, no fact re-scan.
    """
    o = _t(spark, sf_dir, "orders")
    d38 = "decimal(38,0)"
    x = o.select(F.round(F.col("o_totalprice") * 100).cast("long").alias("v"))
    vc = x.groupBy("v").agg(F.count("*").cast("long").alias("c"))
    vc = vc.localCheckpoint(eager=False)  # A/B sf1: 1.40 s with, 1.87 s without
    w_cum = Window.orderBy("v").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    rk = vc.select(
        "v",
        F.sum("c").over(w_cum).cast("long").alias("cum"),
        F.sum("c").over(Window.partitionBy()).cast("long").alias("n"),
    )
    quarts = rk.agg(
        F.min(F.when(4 * F.col("cum") >= F.col("n"), F.col("v")))
        .cast("double")
        .alias("mu1"),
        F.min(F.when(4 * F.col("cum") >= 3 * F.col("n"), F.col("v")))
        .cast("double")
        .alias("mu2"),
    )
    sg0 = vc.agg(
        F.sqrt(
            (
                F.sum(F.col("v").cast(d38) * F.col("v") * F.col("c")).cast("double")
                - F.sum(F.col("v").cast(d38) * F.col("c")).cast("double")
                * F.sum(F.col("v").cast(d38) * F.col("c")).cast("double")
                / F.sum("c")
            )
            / (F.sum("c") - 1)
        ).alias("sg")
    )
    init = quarts.crossJoin(sg0).withColumn("pi1", F.lit(0.5))

    def em_pass(params: DataFrame, two_sigma: bool) -> DataFrame:
        joined = vc.crossJoin(params)
        if two_sigma:
            w1 = (
                F.col("pi1")
                * F.exp(
                    -((F.col("v") - F.col("mu1")) * (F.col("v") - F.col("mu1")))
                    / (2 * F.col("sg1") * F.col("sg1"))
                )
                / F.col("sg1")
            )
            w2 = (
                (1 - F.col("pi1"))
                * F.exp(
                    -((F.col("v") - F.col("mu2")) * (F.col("v") - F.col("mu2")))
                    / (2 * F.col("sg2") * F.col("sg2"))
                )
                / F.col("sg2")
            )
        else:
            w1 = (
                F.col("pi1")
                * F.exp(
                    -((F.col("v") - F.col("mu1")) * (F.col("v") - F.col("mu1")))
                    / (2 * F.col("sg") * F.col("sg"))
                )
                / F.col("sg")
            )
            w2 = (
                (1 - F.col("pi1"))
                * F.exp(
                    -((F.col("v") - F.col("mu2")) * (F.col("v") - F.col("mu2")))
                    / (2 * F.col("sg") * F.col("sg"))
                )
                / F.col("sg")
            )
        r1 = w1 / (w1 + w2)
        return joined.agg(
            F.sum(F.col("c") * r1).alias("n1"),
            F.sum(F.col("c") * r1 * F.col("v")).alias("s1"),
            F.sum(F.col("c") * r1 * F.col("v") * F.col("v")).alias("q1"),
            F.sum(F.col("c") * (1 - r1)).alias("n2"),
            F.sum(F.col("c") * (1 - r1) * F.col("v")).alias("s2"),
            F.sum(F.col("c") * (1 - r1) * F.col("v") * F.col("v")).alias("q2"),
            F.sum("c").cast("long").alias("n"),
        )

    m1 = em_pass(init, two_sigma=False)
    p1 = m1.select(
        (F.col("n1") / F.col("n")).alias("pi1"),
        (F.col("s1") / F.col("n1")).alias("mu1"),
        F.sqrt(
            F.col("q1") / F.col("n1")
            - (F.col("s1") / F.col("n1")) * (F.col("s1") / F.col("n1"))
        ).alias("sg1"),
        (F.col("s2") / F.col("n2")).alias("mu2"),
        F.sqrt(
            F.col("q2") / F.col("n2")
            - (F.col("s2") / F.col("n2")) * (F.col("s2") / F.col("n2"))
        ).alias("sg2"),
    )
    m2 = em_pass(p1, two_sigma=True)
    return m2.select(
        F.col("n").alias("n_orders"),
        F.round(F.col("n1") / F.col("n"), 6).alias("pi_1"),
        F.round(F.col("s1") / F.col("n1") / 100, 2).alias("mu_1_dollars"),
        F.round(
            F.sqrt(
                F.col("q1") / F.col("n1")
                - (F.col("s1") / F.col("n1")) * (F.col("s1") / F.col("n1"))
            )
            / 100,
            2,
        ).alias("sigma_1_dollars"),
        F.round(F.col("s2") / F.col("n2") / 100, 2).alias("mu_2_dollars"),
        F.round(
            F.sqrt(
                F.col("q2") / F.col("n2")
                - (F.col("s2") / F.col("n2")) * (F.col("s2") / F.col("n2"))
            )
            / 100,
            2,
        ).alias("sigma_2_dollars"),
    )


# ---------------------------------------------------------------------------
# Hill tail-index estimator
# ---------------------------------------------------------------------------

_HILL_ORACLE = """
WITH x AS (
  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS v,
         o_orderkey
  FROM orders
),
topk AS (
  SELECT v FROM x ORDER BY v DESC, o_orderkey LIMIT 101
),
rk AS (
  SELECT v, CAST(row_number() OVER (ORDER BY v DESC) AS BIGINT) AS i
  FROM topk
),
h AS (
  SELECT sum(CASE WHEN i <= 100 THEN ln(v) ELSE 0 END) / 100
           - max(CASE WHEN i = 101 THEN ln(v) END) AS hill
  FROM rk
)
SELECT CAST(100 AS BIGINT) AS k,
       round(hill, 6) AS hill_h,
       round(1 / hill, 4) AS tail_alpha
FROM h
"""


@register("price_hill_tail_index", oracle=_HILL_ORACLE, tags=("stats",))
def price_hill_tail_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hill estimator of the order-value tail index over the top
    k=100 order statistics: H = mean(ln x_(i)) - ln x_(k+1), tail
    exponent α = 1/H. α <= 2 means infinite variance (sample means of
    money columns never stabilize — every mean-based KPI upstream is
    suspect); α > 4 means a tame tail. The extreme-value screen that
    decides whether winsorized_price_stats is optional or mandatory.

    Numerics: the top-(k+1) values are exact integers chosen by
    TakeOrderedAndProject with an orderkey tie-break (the tie-break
    cannot change the VALUE multiset); ln is the documented libm
    exception; 100 terms sum before one 6dp rounding.

    Scale notes: distributed top-k (no global sort materialization),
    then 101-row arithmetic.
    """
    o = _t(spark, sf_dir, "orders")
    x = o.select(
        F.round(F.col("o_totalprice") * 100).cast("long").alias("v"),
        "o_orderkey",
    )
    topk = x.orderBy(F.desc("v"), "o_orderkey").limit(101).select("v")
    rk = topk.select(
        "v",
        F.row_number().over(Window.orderBy(F.desc("v"))).cast("long").alias("i"),
    )
    h = rk.agg(
        (
            F.sum(F.when(F.col("i") <= 100, F.log("v")).otherwise(F.lit(0.0))) / 100
            - F.max(F.when(F.col("i") == 101, F.log("v")))
        ).alias("hill")
    )
    return h.select(
        F.lit(100).cast("long").alias("k"),
        F.round(F.col("hill"), 6).alias("hill_h"),
        F.round(F.lit(1.0) / F.col("hill"), 4).alias("tail_alpha"),
    )


# ---------------------------------------------------------------------------
# Weibull probability-plot fit of inter-order gaps
# ---------------------------------------------------------------------------

_WEIBULL_ORACLE = """
WITH gaps AS (
  SELECT date_diff('day', lag(CAST(o_orderdate AS DATE))
                     OVER (PARTITION BY o_custkey
                           ORDER BY o_orderdate, o_orderkey),
                   CAST(o_orderdate AS DATE)) AS g
  FROM orders
),
gg AS (SELECT CAST(g AS BIGINT) AS g FROM gaps WHERE g IS NOT NULL AND g >= 1),
rk AS (
  SELECT g,
         CAST(row_number() OVER (ORDER BY g) AS BIGINT) AS i,
         CAST(count(*) OVER () AS BIGINT) AS n
  FROM gg
),
pts AS (
  SELECT ln(CAST(g AS DOUBLE)) AS x,
         ln(-ln(1 - CAST(i AS DOUBLE) / (n + 1))) AS y
  FROM rk
),
st AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy, sum(x * x) AS sxx
  FROM pts
),
fit AS (
  SELECT n,
         (n * sxy - sx * sy) / (n * sxx - sx * sx) AS shape_k,
         (sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n AS icept
  FROM st
)
SELECT n AS n_gaps,
       round(shape_k, 6) AS weibull_shape,
       round(exp(-icept / shape_k), 4) AS weibull_scale_days
FROM fit
"""


@register("order_gap_weibull_fit", oracle=_WEIBULL_ORACLE, tags=("stats", "timeseries"))
def order_gap_weibull_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weibull fit of customer inter-order gaps by probability-plot
    regression: ln(-ln(1-F)) on ln(gap) at exact plotting positions
    i/(n+1); the slope is the shape k, the intercept gives the scale.
    k < 1 means reorder hazard DECREASES with time (bursty — strike
    while hot), k > 1 means it increases (depletion-driven — time the
    reminder); k = 1 collapses to the exponential the Q-Q screen
    tested. Zero-day gaps (same-day orders) are excluded — ln(0) — on
    both sides.

    Numerics: gaps and ranks are exact integers; the double ln/regression
    trees are identical; the closed-form slope/intercept round once.

    Scale notes: same shape as order_gap_exponential_qq — one
    user-keyed lag window, then the (g, i) plotting pairs rebuilt from
    the bounded day-gap value grain (scalerank.value_cum_counts +
    chunked ranked_points — no global sort), one sufficient-statistics
    fold.
    """
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    gaps = o.select(
        F.datediff(
            F.col("o_orderdate").cast("date"),
            F.lag(F.col("o_orderdate").cast("date")).over(w),
        ).alias("g")
    ).filter(F.col("g").isNotNull() & (F.col("g") >= 1))
    gg = gaps.select(F.col("g").cast("long").alias("g"))
    cc = value_cum_counts(gg, "g", coarse_div=64)
    tot = cc.agg(F.sum("c").cast("long").alias("n"))
    pts = (
        ranked_points(cc, "g")
        .crossJoin(tot)
        .select(
            F.log(F.col("g").cast("double")).alias("x"),
            F.log(
                -F.log(1 - F.col("i").cast("double") / (F.col("n") + 1))
            ).alias("y"),
        )
    )
    st = pts.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    fit = st.select(
        "n",
        slope.alias("shape_k"),
        ((F.col("sy") - slope * F.col("sx")) / F.col("n")).alias("icept"),
    )
    return fit.select(
        F.col("n").alias("n_gaps"),
        F.round(F.col("shape_k"), 6).alias("weibull_shape"),
        F.round(F.exp(-F.col("icept") / F.col("shape_k")), 4).alias(
            "weibull_scale_days"
        ),
    )


# ---------------------------------------------------------------------------
# Value-at-Risk / Expected Shortfall
# ---------------------------------------------------------------------------

_VAR_ES_ORACLE = """
WITH x AS (
  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS v, o_orderkey
  FROM orders
),
rk AS (
  SELECT v,
         CAST(row_number() OVER (ORDER BY v, o_orderkey) AS BIGINT) AS i,
         CAST(count(*) OVER () AS BIGINT) AS n
  FROM x
),
sel AS (
  SELECT any_value(n) AS n,
         CAST(max(CASE WHEN i = (95 * n + 99) // 100 THEN v END) AS BIGINT)
           AS var95,
         CAST(sum(CASE WHEN i > (95 * n + 99) // 100
                       THEN CAST(v AS HUGEINT) ELSE 0 END) AS HUGEINT) AS tail_s,
         CAST(sum(CASE WHEN i > (95 * n + 99) // 100 THEN 1 ELSE 0 END)
              AS BIGINT) AS tail_n
  FROM rk
)
SELECT n AS n_orders, var95 AS var95_cents, tail_n,
       round(CAST(tail_s AS DOUBLE) / tail_n / 100, 2) AS es95_dollars,
       round(CAST(tail_s AS DOUBLE) / tail_n / var95, 6) AS es_to_var_ratio
FROM sel
"""


@register("order_value_var_es", oracle=_VAR_ES_ORACLE, tags=("stats",))
def order_value_var_es(spark: SparkSession, sf_dir: str) -> DataFrame:
    """95% Value-at-Risk and Expected Shortfall of order value: the
    exact order statistic at rank ceil(0.95·n) and the mean of
    everything strictly above it — the coherent tail pair (ES tells
    you how bad "bad" is, which VaR alone hides). The ES/VaR ratio is
    the one-number heaviness readout next to the Hill α.

    Numerics: the VaR rank is the integer formula (95n+99)//100; the
    tail sum is HUGEINT/DECIMAL; one division and rounding each at
    the boundary.

    Scale notes: both the VaR order statistic and the tail sum are
    pure functions of the value-grain cumulative counts (ranks above
    r* split into "all rows with v > var95" plus the cum95 - r*
    boundary ties AT var95, whose sum is var95 times that count), so
    the whole pair computes from scalerank.value_cum_counts — coarse
    bucket offsets on a bounded frame + partitioned within-bucket
    cumulative, no global sort — and two small folds over the value
    grain. No fact-grain second pass, no joins.
    """
    o = _t(spark, sf_dir, "orders")
    d38 = "decimal(38,0)"
    x = o.select(F.round(F.col("o_totalprice") * 100).cast("long").alias("v"))
    # A/B sf1: 1.91 s with, 2.37 s without
    cc = value_cum_counts(x, "v", coarse_div=10000).localCheckpoint(eager=False)
    tot = cc.agg(F.sum("c").cast("long").alias("n"))
    var_rank = F.floor((95 * F.col("n") + 99) / 100)
    sel1 = cc.crossJoin(tot).agg(
        F.first("n").alias("n"),
        F.min(F.when(F.col("cum") >= var_rank, F.col("v")))
        .cast("long")
        .alias("var95"),
        F.min(F.when(F.col("cum") >= var_rank, F.col("cum")))
        .cast("long")
        .alias("cum95"),
    )
    sel = cc.crossJoin(sel1).agg(
        F.first("n").alias("n"),
        F.first("var95").alias("var95"),
        F.first("cum95").alias("cum95"),
        F.sum(
            F.when(
                F.col("v") > F.col("var95"), F.col("v").cast(d38) * F.col("c")
            ).otherwise(F.lit(0).cast(d38))
        ).alias("gt_s"),
    )
    r_star = F.floor((95 * F.col("n") + 99) / 100)
    tail_n = (F.col("n") - r_star).cast("long")
    tail_s = F.col("gt_s") + F.col("var95").cast(d38) * (F.col("cum95") - r_star)
    return sel.select(
        F.col("n").alias("n_orders"),
        F.col("var95").alias("var95_cents"),
        tail_n.alias("tail_n"),
        F.round(tail_s.cast("double") / tail_n / 100, 2).alias("es95_dollars"),
        F.round(tail_s.cast("double") / tail_n / F.col("var95"), 6).alias(
            "es_to_var_ratio"
        ),
    )
