"""Round-6 additions, batch 80: rank-based functional dependence,
holdout-free forecast scoring, distribution distance, and series
randomness — Chatterjee's ξ coefficient between daily order traffic
and daily revenue (the 2020 rank correlation that detects ANY
functional dependence, not just monotone: ξ≈0 independent, ξ≈1
y = f(x) exactly), a forecast-evaluation suite for the seasonal-naive
method on weekly revenue (sMAPE, wMAPE, and Theil's U2 against the
random-walk benchmark — U2 < 1 is the only number that says the
method beats "tomorrow equals today"), the Jensen-Shannon divergence
between every pair of customer segments' brand-mix distributions (the
symmetric, bounded, always-finite cousin of KL — its square root is a
metric), and the turning-point test for randomness on the weekly
revenue series (counts local extrema; an i.i.d. series has exactly
2(n-2)/3 of them in expectation — too few means trend, too many means
oscillation).

Determinism discipline: Chatterjee's ranks are exact integer
cumulative counts off a value-count identity (l_i = n - r_i + t_i, no
descending RANGE window needed), with x-ties broken by the
deterministic (x, y, day) sort both engines share; the |Δrank| sum
and the Σ l(n-l) denominator accumulate in DECIMAL(38,0); wMAPE's
numerator/denominator are exact integer dollars with one division at
the boundary; JS terms use the p·ln(2p/(p+q)) form with explicit
zero-cell guards after densifying brand × segment; turning points
compare SIGNS of consecutive differences (overflow-free at any
revenue magnitude) and every float is rounded once at the output.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from grocery_store_sales_forecasting_etl_pipeline_spark.plans._tables import table as _t
from grocery_store_sales_forecasting_etl_pipeline_spark.plans.registry import register
from grocery_store_sales_forecasting_etl_pipeline_spark.plans.relational15 import (
    _WEEKLY_CTE,
    _weekly_dollars,
)


# ---------------------------------------------------------------------------
# Chatterjee's ξ: daily order count → daily revenue
# ---------------------------------------------------------------------------

_XI_ORACLE = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS d,
         CAST(count(*) AS BIGINT) AS x,
         sum(CAST(round(o_totalprice * 100) AS BIGINT)) // 100 AS y
  FROM orders GROUP BY d
),
nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM daily),
r AS (
  SELECT d, x, y,
         CAST(count(*) OVER (ORDER BY y
              RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS r_i,
         CAST(count(*) OVER (PARTITION BY y) AS BIGINT) AS t_i
  FROM daily
),
s AS (
  SELECT r_i, t_i,
         lag(r_i) OVER (ORDER BY x, y, d) AS r_prev
  FROM r
),
agg AS (
  SELECT max(nn.n) AS n,
         CAST(sum(CAST(abs(s.r_i - s.r_prev) AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS num,
         CAST(sum(CAST(nn.n - s.r_i + s.t_i AS DECIMAL(38,0))
                  * CAST(s.r_i - s.t_i AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS den
  FROM s CROSS JOIN nn
)
SELECT n AS n_days,
       CAST(num AS BIGINT) AS sum_abs_rank_steps,
       den AS denom_pairs,
       round(1.0 - CAST(n AS DOUBLE) * CAST(num AS DOUBLE)
                   / (2.0 * CAST(den AS DOUBLE)), 6) AS xi
FROM agg
"""


@register("daily_traffic_revenue_xi", oracle=_XI_ORACLE, tags=("stats",))
def daily_traffic_revenue_xi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chatterjee's ξ coefficient (2020) measuring how much daily
    revenue is a FUNCTION of daily order traffic: sort days by order
    count, take the y-ranks of revenue, and score 1 − n·Σ|Δrank| /
    (2·Σ l(n−l)) with the ties-general denominator. Unlike Pearson or
    Spearman (both already registered), ξ detects non-monotone
    dependence and converges to 0 under independence, 1 under exact
    functional dependence.

    Determinism: r_i = #{y_j ≤ y_i} is a RANGE-frame cumulative count
    (ties included); l_i = #{y_j ≥ y_i} is derived exactly as
    n − r_i + t_i from the per-value tie count t_i, so no descending
    window is needed; x-ties are broken by the shared deterministic
    (x, y, day) sort (Chatterjee's randomized tie-break replaced by a
    fixed one — documented estimator variant, identical both sides);
    both accumulations run in DECIMAL(38,0) (Σ l(n−l) is O(n³), past
    BIGINT at ~3e6 rows) and ξ is one rounded double. denom_pairs is
    emitted as DECIMAL(38,0) — the ship_delay_ks_test rule: never cast
    an internally-HUGEINT sum back to BIGINT at the boundary.

    Scale notes: the day-level fold is a map-side combine onto a
    domain-bounded frame (one row per calendar day), so the global
    rank/lag windows run over thousands of rows regardless of input
    size — the single-task window is on the aggregate, never the fact.
    """
    daily = (
        _t(spark, sf_dir, "orders")
        .select(
            F.col("o_orderdate").cast("date").alias("d"),
            F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        )
        .groupBy("d")
        .agg(
            F.count("*").cast("long").alias("x"),
            F.expr("sum(cents) DIV 100").alias("y"),
        )
    )
    w_cum = Window.orderBy("y").rangeBetween(Window.unboundedPreceding, Window.currentRow)
    w_tie = Window.partitionBy("y")
    r = daily.select(
        "d",
        "x",
        "y",
        F.count("*").over(w_cum).cast("long").alias("r_i"),
        F.count("*").over(w_tie).cast("long").alias("t_i"),
    )
    w_x = Window.orderBy("x", "y", "d")
    s = r.select("r_i", "t_i", F.lag("r_i").over(w_x).alias("r_prev"))
    n_df = daily.agg(F.count("*").cast("long").alias("n"))
    agg = s.crossJoin(n_df).agg(
        F.max("n").alias("n"),
        F.sum(F.abs(F.col("r_i") - F.col("r_prev")).cast("decimal(38,0)")).alias("num"),
        F.sum(
            (F.col("n") - F.col("r_i") + F.col("t_i")).cast("decimal(38,0)")
            * (F.col("r_i") - F.col("t_i")).cast("decimal(38,0)")
        ).alias("den"),
    )
    return agg.select(
        F.col("n").alias("n_days"),
        F.col("num").cast("long").alias("sum_abs_rank_steps"),
        F.col("den").cast("decimal(38,0)").alias("denom_pairs"),
        F.round(
            F.lit(1.0)
            - F.col("n").cast("double")
            * F.col("num").cast("double")
            / (F.lit(2.0) * F.col("den").cast("double")),
            6,
        ).alias("xi"),
    )


# ---------------------------------------------------------------------------
# Seasonal-naive forecast evaluation: sMAPE / wMAPE / Theil's U2
# ---------------------------------------------------------------------------

_FCEVAL_ORACLE = _WEEKLY_CTE + """,
seq AS (
  SELECT week_start, dollars,
         lag(dollars, 1) OVER (ORDER BY week_start) AS a1,
         lag(dollars, 4) OVER (ORDER BY week_start) AS a4
  FROM weekly
),
ev AS (
  SELECT * FROM seq WHERE a4 IS NOT NULL AND a1 IS NOT NULL AND a1 > 0
)
SELECT CAST(count(*) AS BIGINT) AS n_eval_weeks,
       CAST(sum(abs(a4 - dollars)) AS BIGINT) AS abs_err_dollars,
       CAST(sum(dollars) AS BIGINT) AS actual_dollars,
       round(CAST(sum(abs(a4 - dollars)) AS DOUBLE)
             / CAST(sum(dollars) AS DOUBLE), 6) AS wmape,
       round(sum(2.0 * abs(a4 - dollars)
                 / (abs(CAST(a4 AS DOUBLE)) + abs(CAST(dollars AS DOUBLE))))
             / CAST(count(*) AS DOUBLE), 6) AS smape,
       round(sqrt(sum(((CAST(a4 AS DOUBLE) - dollars) / a1)
                      * ((CAST(a4 AS DOUBLE) - dollars) / a1))
                  / sum(((CAST(dollars AS DOUBLE) - a1) / a1)
                        * ((CAST(dollars AS DOUBLE) - a1) / a1))), 6) AS theil_u2
FROM ev
"""


@register("weekly_forecast_theil_eval", oracle=_FCEVAL_ORACLE, tags=("stats", "ml"))
def weekly_forecast_theil_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast-evaluation suite for the seasonal-naive method
    (f_t = a_{t-4}) on weekly revenue: sMAPE (the symmetric percentage
    error), wMAPE (volume-weighted — the retail planner's headline
    number), and Theil's U2 against the naive random walk — the ratio
    that is < 1 exactly when the seasonal method beats "next week
    equals this week". Complements weekly_forecast_baselines (MASE):
    U2 benchmarks RELATIVE squared error, MASE absolute error.

    Determinism: wMAPE's numerator and denominator are exact integer
    dollar sums emitted alongside (one division at the boundary);
    sMAPE is written as sum/count (not avg) so both engines share the
    same tree; U2's relative errors divide by the lagged actual before
    squaring, and evaluation weeks require both lags defined with
    a1 > 0. Floats rounded once.

    Scale notes: the weekly fold is map-side onto a domain-bounded
    frame; the lag windows run over hundreds of rows.
    """
    weekly = _weekly_dollars(spark, sf_dir)
    w = Window.orderBy("week_start")
    seq = weekly.select(
        "dollars",
        F.lag("dollars", 1).over(w).alias("a1"),
        F.lag("dollars", 4).over(w).alias("a4"),
    )
    ev = seq.filter(F.col("a4").isNotNull() & F.col("a1").isNotNull() & (F.col("a1") > 0))
    err = F.abs(F.col("a4") - F.col("dollars"))
    rel_f = (F.col("a4").cast("double") - F.col("dollars")) / F.col("a1")
    rel_n = (F.col("dollars").cast("double") - F.col("a1")) / F.col("a1")
    return ev.agg(
        F.count("*").cast("long").alias("n_eval_weeks"),
        F.sum(err).cast("long").alias("abs_err_dollars"),
        F.sum("dollars").cast("long").alias("actual_dollars"),
        F.round(
            F.sum(err).cast("double") / F.sum("dollars").cast("double"), 6
        ).alias("wmape"),
        F.round(
            F.sum(
                F.lit(2.0)
                * err
                / (F.abs(F.col("a4").cast("double")) + F.abs(F.col("dollars").cast("double")))
            )
            / F.count("*").cast("double"),
            6,
        ).alias("smape"),
        F.round(
            F.sqrt(F.sum(rel_f * rel_f) / F.sum(rel_n * rel_n)), 6
        ).alias("theil_u2"),
    )


# ---------------------------------------------------------------------------
# Jensen-Shannon divergence between segment brand mixes
# ---------------------------------------------------------------------------

_JS_ORACLE = """
WITH base AS (
  SELECT c.c_mktsegment AS seg, p.p_brand AS brand,
         CAST(count(*) AS BIGINT) AS n
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN part p ON l.l_partkey = p.p_partkey
  GROUP BY seg, brand
),
dense AS (
  SELECT s.seg, b.brand, coalesce(x.n, 0) AS n
  FROM (SELECT DISTINCT seg FROM base) s
  CROSS JOIN (SELECT DISTINCT brand FROM base) b
  LEFT JOIN base x ON x.seg = s.seg AND x.brand = b.brand
),
tot AS (SELECT seg, CAST(sum(n) AS BIGINT) AS nt FROM dense GROUP BY seg),
pairs AS (
  SELECT a.seg AS seg_a, b.seg AS seg_b, ta.nt AS n_a, tb.nt AS n_b,
         CAST(a.n AS DOUBLE) / ta.nt AS p,
         CAST(b.n AS DOUBLE) / tb.nt AS q
  FROM dense a
  JOIN dense b ON a.brand = b.brand AND a.seg < b.seg
  JOIN tot ta ON ta.seg = a.seg
  JOIN tot tb ON tb.seg = b.seg
),
agg AS (
  SELECT seg_a, seg_b, max(n_a) AS n_a, max(n_b) AS n_b,
         sum(CASE WHEN p > 0 THEN 0.5 * p * ln(2.0 * p / (p + q)) ELSE 0.0 END
             + CASE WHEN q > 0 THEN 0.5 * q * ln(2.0 * q / (p + q)) ELSE 0.0 END)
           AS js
  FROM pairs GROUP BY seg_a, seg_b
)
SELECT seg_a, seg_b, n_a AS lines_a, n_b AS lines_b,
       round(js, 6) AS js_nats,
       round(sqrt(greatest(js, 0.0)), 6) AS js_distance
FROM agg
"""


@register("segment_brand_js_divergence", oracle=_JS_ORACLE, tags=("stats",))
def segment_brand_js_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen-Shannon divergence between every pair of customer
    segments' brand-mix distributions (share of lineitems per part
    brand). JS is the symmetric, always-finite cousin of KL (bounded
    by ln 2), and √JS is a true metric — the right pairwise distance
    for a segment-similarity dashboard. Complements
    segment_price_hellinger: Hellinger compares price SHAPES, JS
    compares brand MIXES.

    Determinism: the segment × brand contingency table is densified
    (cross join of observed levels, zero-filled) before shares are
    formed, so the pair join never silently drops a one-sided brand;
    zero cells route through explicit p>0 / q>0 guards with the
    p·ln(2p/(p+q)) form; one rounding per output float, sqrt clamped
    at 0 against representation noise.

    Scale notes: three fact-side joins (orders on orderkey, customer
    on custkey — both co-partitioned shuffles; part lookup is
    broadcast-sized per brand projection), then a map-side fold onto
    the 125-cell segment × brand frame; everything after is
    driver-trivial.
    """
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    base = (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(p, F.col("l_partkey") == F.col("p_partkey"))
        .groupBy(F.col("c_mktsegment").alias("seg"), F.col("p_brand").alias("brand"))
        .agg(F.count("*").cast("long").alias("n"))
        .localCheckpoint(eager=False)  # A/B sf0.1: 1.40 s with, 1.67 s without
    )
    dense = (
        base.select("seg").distinct()
        .crossJoin(base.select("brand").distinct())
        .join(base, ["seg", "brand"], "left")
        .select("seg", "brand", F.coalesce(F.col("n"), F.lit(0)).alias("n"))
    )
    tot = dense.groupBy("seg").agg(F.sum("n").cast("long").alias("nt"))
    a = dense.alias("a").join(tot.alias("ta"), F.col("a.seg") == F.col("ta.seg"))
    b = dense.alias("b").join(tot.alias("tb"), F.col("b.seg") == F.col("tb.seg"))
    pairs = a.join(
        b,
        (F.col("a.brand") == F.col("b.brand")) & (F.col("a.seg") < F.col("b.seg")),
    ).select(
        F.col("a.seg").alias("seg_a"),
        F.col("b.seg").alias("seg_b"),
        F.col("ta.nt").alias("n_a"),
        F.col("tb.nt").alias("n_b"),
        (F.col("a.n").cast("double") / F.col("ta.nt")).alias("p"),
        (F.col("b.n").cast("double") / F.col("tb.nt")).alias("q"),
    )
    term_p = F.when(
        F.col("p") > 0,
        F.lit(0.5) * F.col("p") * F.log(F.lit(2.0) * F.col("p") / (F.col("p") + F.col("q"))),
    ).otherwise(F.lit(0.0))
    term_q = F.when(
        F.col("q") > 0,
        F.lit(0.5) * F.col("q") * F.log(F.lit(2.0) * F.col("q") / (F.col("p") + F.col("q"))),
    ).otherwise(F.lit(0.0))
    agg = pairs.groupBy("seg_a", "seg_b").agg(
        F.max("n_a").alias("n_a"),
        F.max("n_b").alias("n_b"),
        F.sum(term_p + term_q).alias("js"),
    )
    return agg.select(
        "seg_a",
        "seg_b",
        F.col("n_a").alias("lines_a"),
        F.col("n_b").alias("lines_b"),
        F.round("js", 6).alias("js_nats"),
        F.round(F.sqrt(F.greatest(F.col("js"), F.lit(0.0))), 6).alias("js_distance"),
    )


# ---------------------------------------------------------------------------
# Turning-point randomness test on weekly revenue
# ---------------------------------------------------------------------------

_TP_ORACLE = _WEEKLY_CTE + """,
seq AS (
  SELECT week_start, dollars,
         lag(dollars) OVER (ORDER BY week_start) AS prev,
         lead(dollars) OVER (ORDER BY week_start) AS nxt
  FROM weekly
),
agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CASE WHEN prev IS NOT NULL AND nxt IS NOT NULL
                        AND sign(dollars - prev) * sign(nxt - dollars) < 0
                   THEN 1 ELSE 0 END) AS BIGINT) AS t
  FROM seq
)
SELECT n AS n_weeks, t AS n_turning_points,
       round(2.0 * (n - 2) / 3.0, 6) AS expected_tp,
       round((t - 2.0 * (n - 2) / 3.0)
             / sqrt((16.0 * n - 29.0) / 90.0), 6) AS z_stat
FROM agg
"""


@register("weekly_revenue_turning_points", oracle=_TP_ORACLE, tags=("stats", "audit"))
def weekly_revenue_turning_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Turning-point test for randomness on the weekly revenue series:
    count weeks that are strict local extrema (sign of the step in ≠
    sign of the step out). An i.i.d. series has E[T] = 2(n−2)/3 and
    Var[T] = (16n−29)/90; z far below 0 means trending/persistent, far
    above means over-oscillating (e.g. alternating promo weeks). The
    cheapest whole-series randomness screen next to the runs test
    (daily_return_runs_test) — this one is sensitive to smoothness,
    not to the median split.

    Determinism: turning points compare SIGNS of consecutive integer
    differences — never the product of the differences themselves, so
    no overflow at any revenue magnitude; ties (flat steps) are not
    turning points by the strict-inequality definition on both sides;
    the z statistic is one rounded double.

    Scale notes: weekly fold is map-side onto a domain-bounded frame;
    the lag/lead window runs over hundreds of rows.
    """
    weekly = _weekly_dollars(spark, sf_dir)
    w = Window.orderBy("week_start")
    seq = weekly.select(
        "dollars",
        F.lag("dollars").over(w).alias("prev"),
        F.lead("dollars").over(w).alias("nxt"),
    )
    agg = seq.agg(
        F.count("*").cast("long").alias("n"),
        F.sum(
            F.when(
                F.col("prev").isNotNull()
                & F.col("nxt").isNotNull()
                & (
                    F.signum((F.col("dollars") - F.col("prev")).cast("double"))
                    * F.signum((F.col("nxt") - F.col("dollars")).cast("double"))
                    < 0
                ),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("t"),
    )
    exp_t = F.lit(2.0) * (F.col("n") - 2) / F.lit(3.0)
    return agg.select(
        F.col("n").alias("n_weeks"),
        F.col("t").alias("n_turning_points"),
        F.round(exp_t, 6).alias("expected_tp"),
        F.round(
            (F.col("t") - exp_t)
            / F.sqrt((F.lit(16.0) * F.col("n") - 29.0) / F.lit(90.0)),
            6,
        ).alias("z_stat"),
    )
