"""Round-6 additions, batch 70: process control, ordered-alternative
testing, robust location, and time-series feature strength — an EWMA
control chart over daily revenue (the memoryful chart that catches
small sustained shifts Shewhart misses, computed as a TRUE recursion
via an ordered list fold), the Jonckheere-Terpstra test for a monotone
price trend across the five ordered order-priority levels (the
ordered-alternative ANOVA that Kruskal-Wallis throws power away on),
exact 5%-trimmed and winsorized means of order value (robust location
with order-statistic tail handling, computed exactly on the value
-count frame), and STL-style trend/seasonal strength features of
weekly revenue (Hyndman's F_trend / F_seasonal — the two numbers that
summarize "is this series trend-y, seasonal, or noise").

Determinism discipline: the EWMA recursion folds an ORDERED window
array with the identical lambda text in both engines (sequential,
bit-identical); Jonckheere's 2J is an exact integer fold over the
value-count frame (DECIMAL(38,0)/HUGEINT) with the documented no-ties
variance approximation as the one double tree; trimmed/winsorized
sums are exact decimal arithmetic on monotone cumulative frames;
STL components are exact integer scalings (53·y − Σwindow) with
doubles only in the final variance ratios, accumulated sequentially.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from grocery_store_sales_forecasting_etl_pipeline_spark.plans._tables import table as _t
from grocery_store_sales_forecasting_etl_pipeline_spark.plans.registry import register

# ---------------------------------------------------------------------------
# EWMA control chart on daily revenue
# ---------------------------------------------------------------------------

_EWMA_ORACLE = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         sum(CAST(round(o_totalprice * 100) AS BIGINT)) // 100 AS v
  FROM orders GROUP BY day
),
stats AS (
  SELECT day, v,
         CAST(count(*) OVER () AS BIGINT) AS n,
         CAST(sum(CAST(v AS HUGEINT)) OVER () AS DECIMAL(38,0)) AS sv,
         CAST(sum(CAST(v AS HUGEINT) * v) OVER () AS DECIMAL(38,0)) AS svv,
         list(CAST(v AS DOUBLE)) OVER (ORDER BY day
              ROWS BETWEEN 59 PRECEDING AND CURRENT ROW) AS arr
  FROM daily
),
e AS (
  SELECT day, v, n,
         CAST(sv AS DOUBLE) / n AS mu,
         sqrt((CAST(svv AS DOUBLE) - CAST(sv AS DOUBLE) * sv / n) / n)
           AS sigma,
         list_reduce(arr, (acc, x) -> 0.2 * x + 0.8 * acc) AS z
  FROM stats
)
SELECT day, v AS dollars, round(z, 4) AS ewma,
       round(mu + 3.0 * sigma * sqrt(0.2 / 1.8), 4) AS ucl,
       round(mu - 3.0 * sigma * sqrt(0.2 / 1.8), 4) AS lcl,
       CASE WHEN z > mu + 3.0 * sigma * sqrt(0.2 / 1.8)
              OR z < mu - 3.0 * sigma * sqrt(0.2 / 1.8)
            THEN 1 ELSE 0 END AS out_of_control
FROM e
"""


@register("daily_revenue_ewma_chart", oracle=_EWMA_ORACLE,
          tags=("timeseries", "monitoring"))
def daily_revenue_ewma_chart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EWMA control chart over daily revenue (λ = 0.2, 3σ steady-state
    limits): z_t = λ·x_t + (1−λ)·z_{t−1}, the memoryful statistic that
    flags a sustained 0.5σ shift in a handful of days where a Shewhart
    chart (event_rate_anomaly's style) needs a 3σ spike. The recursion
    is truncated at 60 days of memory ((1−λ)^60 < 1.6e-6 — below the
    output rounding grain), which turns an unbounded recursion into a
    bounded ordered-window fold.

    Determinism: daily dollars, n, Σv, Σv² are exact integers
    (DECIMAL(38,0)/HUGEINT); the EWMA is a SEQUENTIAL left fold over
    the window's ordered value list with the identical lambda text in
    both engines (init = oldest element — both engines' fold-from
    -first semantics), so z is bit-identical; μ, σ, and the limits are
    one shared double tree, rounded at the boundary.

    Scale notes: the fact folds map-side to the calendar-bounded
    daily frame; the 60-element list windows and the fold run over
    those ~thousands of rows in one sorted pass. One fact scan.
    """
    daily = (
        _t(spark, sf_dir, "orders")
        .select(
            F.col("o_orderdate").cast("date").alias("day"),
            F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        )
        .groupBy("day")
        .agg(F.expr("sum(cents) DIV 100").alias("v"))
    )
    dec = "decimal(38,0)"
    w_all = Window.partitionBy()
    w_arr = Window.orderBy("day").rowsBetween(-59, 0)
    vd = F.col("v").cast(dec)
    stats = daily.select(
        "day",
        "v",
        F.count("*").over(w_all).cast("long").alias("n"),
        F.sum(vd).over(w_all).cast(dec).alias("sv"),
        F.sum(vd * F.col("v")).over(w_all).cast(dec).alias("svv"),
        F.collect_list(F.col("v").cast("double")).over(w_arr).alias("arr"),
    )
    mu = F.col("sv").cast("double") / F.col("n")
    sigma = F.sqrt(
        (F.col("svv").cast("double") - F.col("sv").cast("double") * F.col("sv") / F.col("n"))
        / F.col("n")
    )
    e = stats.select(
        "day",
        "v",
        mu.alias("mu"),
        sigma.alias("sigma"),
        F.expr(
            "aggregate(slice(arr, 2, size(arr)), element_at(arr, 1), "
            "(acc, x) -> 0.2 * x + 0.8 * acc)"
        ).alias("z"),
    )
    width = F.lit(3.0) * F.col("sigma") * F.sqrt(F.lit(0.2) / F.lit(1.8))
    return e.select(
        "day",
        F.col("v").alias("dollars"),
        F.round(F.col("z"), 4).alias("ewma"),
        F.round(F.col("mu") + width, 4).alias("ucl"),
        F.round(F.col("mu") - width, 4).alias("lcl"),
        F.when(
            (F.col("z") > F.col("mu") + width) | (F.col("z") < F.col("mu") - width),
            1,
        )
        .otherwise(0)
        .alias("out_of_control"),
    )


# ---------------------------------------------------------------------------
# Jonckheere-Terpstra ordered trend across order priorities
# ---------------------------------------------------------------------------

_JT_PRIOS = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")


def _jt_sql() -> str:
    cnt_cols = ",\n         ".join(
        f"CAST(sum(CASE WHEN prio = '{p}' THEN 1 ELSE 0 END) AS BIGINT) AS c{i}"
        for i, p in enumerate(_JT_PRIOS, 1)
    )
    cum_cols = ",\n         ".join(
        f"CAST(COALESCE(sum(c{i}) OVER (ORDER BY cents ROWS BETWEEN "
        f"UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS HUGEINT) AS lt{i}"
        for i in range(1, 6)
    )
    contrib_terms = []
    for h in range(2, 6):
        inner = " + ".join(f"(2 * lt{g} + c{g})" for g in range(1, h))
        contrib_terms.append(f"CAST(c{h} AS HUGEINT) * ({inner})")
    contrib = " + ".join(contrib_terms)
    n_terms = " + ".join(f"n{g}" for g in range(1, 6))
    nsq_terms = " + ".join(f"CAST(n{g} AS HUGEINT) * n{g}" for g in range(1, 6))
    var_terms = " + ".join(
        f"CAST(n{g} AS HUGEINT) * n{g} * (2 * n{g} + 3)" for g in range(1, 6)
    )
    totals = ",\n         ".join(
        f"CAST(sum(c{g}) AS BIGINT) AS n{g}" for g in range(1, 6)
    )
    return f"""
WITH x AS (
  SELECT o_orderpriority AS prio,
         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders
),
v AS (
  SELECT cents,
         {cnt_cols}
  FROM x GROUP BY cents
),
c AS (
  SELECT cents, c1, c2, c3, c4, c5,
         {cum_cols}
  FROM v
),
folds AS (
  SELECT CAST(sum({contrib}) AS DECIMAL(38,0)) AS j2,
         {totals}
  FROM c
),
s AS (
  SELECT j2, ({n_terms}) AS n,
         ({nsq_terms}) AS nsq,
         ({var_terms}) AS vg
  FROM folds
)
SELECT CAST(n AS BIGINT) AS n_orders, j2,
       CAST(CAST(n AS HUGEINT) * n - nsq AS DECIMAL(38,0)) AS e4,
       round((2.0 * CAST(j2 AS DOUBLE)
              - CAST(CAST(n AS HUGEINT) * n - nsq AS DOUBLE))
             / (2.0 * sqrt((CAST(n AS DOUBLE) * n * (2.0 * n + 3.0)
                            - CAST(vg AS DOUBLE)) / 72.0)), 4) AS jt_z
FROM s
"""


_JT_ORACLE = _jt_sql()


@register("priority_price_jonckheere", oracle=_JT_ORACLE, tags=("stats",))
def priority_price_jonckheere(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jonckheere-Terpstra test for a MONOTONE order-value trend across
    the five ordered priority levels (1-URGENT < … < 5-LOW): J =
    Σ_{g<h} U_{gh}, the sum of pairwise Mann-Whitney counts, against
    the ordered alternative — where Kruskal-Wallis
    (priority_price_kruskal_wallis) only asks "are the groups
    different", J-T asks "do values RISE along the ordering", buying
    power exactly when the business question is directional. Ties
    count half (J reported as the exact integer 2J).

    Determinism: 2J folds exactly over the value-count frame — per
    value, Σ_h c_h·Σ_{g<h}(2·cum<_g + c_g) in DECIMAL(38,0)/HUGEINT
    (J ~ N²/4 crosses BIGINT past ~6e9 rows); E[J] is the exact
    integer (N² − Σn_g²) quarter (reported ×4); only z divides, using
    the documented no-ties variance (N²(2N+3) − Σn_g²(2n_g+3))/72 —
    a conservative approximation under the price domain's light ties.

    Scale notes: one fact scan folds to the money-domain value-count
    frame with five pivoted counters; the cumulative windows and the
    final fold run over that bounded frame.
    """
    o = _t(spark, sf_dir, "orders")
    dec = "decimal(38,0)"
    x = o.select(
        F.col("o_orderpriority").alias("prio"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    cnts = [
        F.sum(F.when(F.col("prio") == p, 1).otherwise(0))
        .cast("long")
        .alias(f"c{i}")
        for i, p in enumerate(_JT_PRIOS, 1)
    ]
    v = x.groupBy("cents").agg(*cnts)
    w_lt = Window.orderBy("cents").rowsBetween(Window.unboundedPreceding, -1)
    c = v.select(
        "cents",
        *[F.col(f"c{i}") for i in range(1, 6)],
        *[
            F.coalesce(F.sum(f"c{i}").over(w_lt), F.lit(0))
            .cast(dec)
            .alias(f"lt{i}")
            for i in range(1, 6)
        ],
    )
    contrib = None
    for h in range(2, 6):
        inner = None
        for g in range(1, h):
            term = F.lit(2) * F.col(f"lt{g}") + F.col(f"c{g}")
            inner = term if inner is None else inner + term
        t = F.col(f"c{h}").cast(dec) * inner
        contrib = t if contrib is None else contrib + t
    folds = c.agg(
        F.sum(contrib).cast(dec).alias("j2"),
        *[F.sum(f"c{g}").cast("long").alias(f"n{g}") for g in range(1, 6)],
    )
    n = sum(F.col(f"n{g}") for g in range(1, 6))
    nsq = sum(F.col(f"n{g}").cast(dec) * F.col(f"n{g}") for g in range(1, 6))
    vg = sum(
        F.col(f"n{g}").cast(dec) * F.col(f"n{g}") * (F.lit(2) * F.col(f"n{g}") + 3)
        for g in range(1, 6)
    )
    e4 = (n.cast(dec) * n - nsq).cast(dec)
    z = (
        F.lit(2.0) * F.col("j2").cast("double") - e4.cast("double")
    ) / (
        F.lit(2.0)
        * F.sqrt(
            (n.cast("double") * n * (F.lit(2.0) * n + 3.0) - vg.cast("double"))
            / 72.0
        )
    )
    return folds.select(
        n.cast("long").alias("n_orders"),
        F.col("j2"),
        e4.alias("e4"),
        F.round(z, 4).alias("jt_z"),
    )


# ---------------------------------------------------------------------------
# Exact trimmed and winsorized means of order value
# ---------------------------------------------------------------------------

_TRIMMED_ORACLE = """
WITH x AS (
  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders
),
v AS (
  SELECT cents, CAST(count(*) AS BIGINT) AS cnt FROM x GROUP BY cents
),
c AS (
  SELECT cents, cnt,
         CAST(sum(cnt) OVER w AS BIGINT) AS cum,
         CAST(sum(CAST(cnt AS HUGEINT) * cents) OVER w AS DECIMAL(38,0))
           AS scum,
         CAST(sum(cnt) OVER () AS BIGINT) AS n,
         CAST(sum(CAST(cnt AS HUGEINT) * cents) OVER () AS DECIMAL(38,0))
           AS stot
  FROM v
  WINDOW w AS (ORDER BY cents ROWS BETWEEN UNBOUNDED PRECEDING
               AND CURRENT ROW)
),
k AS (SELECT *, n // 20 AS kt FROM c),
sel AS (
  SELECT max(n) AS n, max(kt) AS kt, max(stot) AS stot,
         min(CASE WHEN cum >= kt + 1 THEN cents END) AS lo,
         min(CASE WHEN cum >= kt + 1 THEN cum END) AS c_lo,
         min(CASE WHEN cum >= kt + 1 THEN scum END) AS s_lo,
         min(CASE WHEN cum >= n - kt THEN cents END) AS hi,
         min(CASE WHEN cum >= n - kt THEN cum END) AS c_hi,
         min(CASE WHEN cum >= n - kt THEN scum END) AS s_hi
  FROM k
),
m AS (
  SELECT n, kt, lo, hi, stot,
         s_hi - s_lo + CAST(lo AS HUGEINT) * (c_lo - kt)
           - CAST(hi AS HUGEINT) * (c_hi - (n - kt)) AS tsum
  FROM sel
)
SELECT n AS n_orders, kt AS k_trimmed, lo AS lo_cents, hi AS hi_cents,
       round(CAST(stot AS DOUBLE) / n, 4) AS mean_cents,
       round(CAST(tsum AS DOUBLE) / (n - 2 * kt), 4) AS trimmed_mean_cents,
       round(CAST(tsum + CAST(kt AS HUGEINT) * lo + CAST(kt AS HUGEINT) * hi
                  AS DOUBLE) / n, 4) AS winsorized_mean_cents
FROM m
"""


@register("order_value_trimmed_stats", oracle=_TRIMMED_ORACLE, tags=("stats",))
def order_value_trimmed_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 5%-trimmed and winsorized means of order value: drop (or
    clamp to the 5th/95th order statistics) the k = ⌊n/20⌋ smallest
    and largest observations and average the rest — the robust
    location pair between the raw mean (whale-dominated) and the
    median (throws away 98% of the data). huber_weekly_mean iterates
    a soft version; this is the closed-form exact one, computed
    without sorting individual rows.

    Determinism: everything up to the final divisions is exact — the
    value-count frame's cumulative count and cumulative cents-sum
    (DECIMAL(38,0)/HUGEINT) are monotone, so the rank-(k+1) and
    rank-(n−k) boundary values are exact order statistics and the
    straddling tie blocks contribute exact partial counts
    (S(hi) − S(lo) + lo·(C(lo) − k) − hi·(C(hi) − (n−k))); the three
    means divide once and round once.

    Scale notes: one fact scan folds to the money-domain value-count
    frame; the cumulative windows and the 1-row selection fold run on
    that bounded frame.
    """
    o = _t(spark, sf_dir, "orders")
    dec = "decimal(38,0)"
    v = (
        o.select(F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"))
        .groupBy("cents")
        .agg(F.count("*").cast("long").alias("cnt"))
    )
    w_cum = Window.orderBy("cents").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_all = Window.partitionBy()
    c = v.select(
        "cents",
        "cnt",
        F.sum("cnt").over(w_cum).cast("long").alias("cum"),
        F.sum(F.col("cnt").cast(dec) * F.col("cents")).over(w_cum).cast(dec).alias("scum"),
        F.sum("cnt").over(w_all).cast("long").alias("n"),
        F.sum(F.col("cnt").cast(dec) * F.col("cents")).over(w_all).cast(dec).alias("stot"),
    ).withColumn("kt", F.expr("n DIV 20"))
    sel = c.agg(
        F.max("n").alias("n"),
        F.max("kt").alias("kt"),
        F.max("stot").alias("stot"),
        F.min(F.when(F.col("cum") >= F.col("kt") + 1, F.col("cents"))).alias("lo"),
        F.min(F.when(F.col("cum") >= F.col("kt") + 1, F.col("cum"))).alias("c_lo"),
        F.min(F.when(F.col("cum") >= F.col("kt") + 1, F.col("scum"))).alias("s_lo"),
        F.min(F.when(F.col("cum") >= F.col("n") - F.col("kt"), F.col("cents"))).alias("hi"),
        F.min(F.when(F.col("cum") >= F.col("n") - F.col("kt"), F.col("cum"))).alias("c_hi"),
        F.min(F.when(F.col("cum") >= F.col("n") - F.col("kt"), F.col("scum"))).alias("s_hi"),
    )
    tsum = (
        F.col("s_hi")
        - F.col("s_lo")
        + F.col("lo").cast(dec) * (F.col("c_lo") - F.col("kt"))
        - F.col("hi").cast(dec) * (F.col("c_hi") - (F.col("n") - F.col("kt")))
    )
    m = sel.select(
        "n", "kt", "lo", "hi", "stot", tsum.alias("tsum")
    )
    wsum = F.col("tsum") + F.col("kt").cast(dec) * F.col("lo") + F.col("kt").cast(dec) * F.col("hi")
    return m.select(
        F.col("n").alias("n_orders"),
        F.col("kt").alias("k_trimmed"),
        F.col("lo").alias("lo_cents"),
        F.col("hi").alias("hi_cents"),
        F.round(F.col("stot").cast("double") / F.col("n"), 4).alias("mean_cents"),
        F.round(F.col("tsum").cast("double") / (F.col("n") - 2 * F.col("kt")), 4).alias(
            "trimmed_mean_cents"
        ),
        F.round(wsum.cast("double") / F.col("n"), 4).alias("winsorized_mean_cents"),
    )


# ---------------------------------------------------------------------------
# STL-style trend / seasonal strength of weekly revenue
# ---------------------------------------------------------------------------

_STL_ORACLE = """
WITH weekly AS (
  SELECT CAST(date_trunc('week', o_orderdate) AS DATE) AS week_start,
         sum(CAST(round(o_totalprice * 100) AS BIGINT)) // 100 AS y
  FROM orders GROUP BY week_start
),
tr AS (
  SELECT week_start, y, weekofyear(week_start) AS woy,
         CAST(sum(y) OVER (ORDER BY week_start
              ROWS BETWEEN 26 PRECEDING AND 26 FOLLOWING) AS BIGINT) AS ts,
         CAST(count(*) OVER (ORDER BY week_start
              ROWS BETWEEN 26 PRECEDING AND 26 FOLLOWING) AS BIGINT) AS tc
  FROM weekly
),
d AS (
  SELECT week_start, woy,
         CAST(53 * y - ts AS BIGINT) AS d53
  FROM tr WHERE tc = 53
),
sea AS (
  SELECT woy, CAST(sum(d53) AS BIGINT) AS ssum,
         CAST(count(*) AS BIGINT) AS c
  FROM d GROUP BY woy
),
r AS (
  SELECT d.week_start,
         CAST(d.d53 AS DOUBLE) / 53.0 AS det,
         (CAST(s.c AS DOUBLE) * d.d53 - s.ssum) / (53.0 * s.c) AS rem,
         CAST(d.d53 AS DOUBLE) / 53.0 - CAST(s.ssum AS DOUBLE) / (53.0 * s.c)
           AS dum
  FROM d JOIN sea s ON d.woy = s.woy
),
acc AS (
  SELECT CAST(count(*) OVER w AS BIGINT) AS n,
         sum(det) OVER w AS sd, sum(det * det) OVER w AS sdd,
         sum(rem) OVER w AS sr, sum(rem * rem) OVER w AS srr,
         row_number() OVER (ORDER BY week_start DESC) AS rev
  FROM r
  WINDOW w AS (ORDER BY week_start ROWS BETWEEN UNBOUNDED PRECEDING
               AND CURRENT ROW)
),
f AS (
  SELECT n,
         (srr - sr * sr / n) / n AS var_r,
         (sdd - sd * sd / n) / n AS var_d
  FROM acc WHERE rev = 1
),
pk AS (
  SELECT woy,
         row_number() OVER (ORDER BY CAST(ssum AS DOUBLE) / c DESC, woy)
           AS rn
  FROM sea
)
SELECT f.n AS n_weeks_used,
       round(CASE WHEN 1.0 - var_r / var_d > 0.0
                  THEN 1.0 - var_r / var_d ELSE 0.0 END, 4) AS f_seasonal,
       pk.woy AS peak_week_of_year
FROM f CROSS JOIN pk WHERE pk.rn = 1
"""


@register("weekly_stl_strength", oracle=_STL_ORACLE,
          tags=("timeseries",))
def weekly_stl_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STL-style seasonal-strength feature of weekly revenue
    (Hyndman's F_seasonal): detrend with a centered 53-week moving
    average (full windows only), estimate the seasonal component as
    the week-of-year mean of the detrended series, and report
    F_s = max(0, 1 − Var(remainder)/Var(detrended)) — 0 means the
    "seasonality" is noise, near 1 means week-of-year explains nearly
    all non-trend variation — plus the peak seasonal week-of-year.
    median_polish_revenue fits row+column effects on a small grid;
    this is the series-feature summary a forecasting pipeline uses to
    CHOOSE whether a seasonal model is worth fitting.

    Determinism: the detrended series is kept EXACT as the integer
    53·y − Σwindow (full 53-week windows only), the seasonal means
    are exact integer (Σd53, count) pairs, and the remainder
    (c·d53 − Σ)/(53c) is a double built from exact integers; the
    variance sums accumulate through a SEQUENTIAL cumulative window
    (same fold order both engines); the peak week ranks on the exact
    -integer-derived mean with woy tie-break. One rounding.

    Scale notes: the fact folds to the calendar-bounded weekly frame;
    the rolling windows, the ≤53-row seasonal frame, and the variance
    walk never grow with fact rows. Assumes the observed weekly frame
    is gapless (calendar_gap_audit checks that premise) — row windows
    then equal calendar windows.
    """
    weekly = (
        _t(spark, sf_dir, "orders")
        .select(
            F.date_trunc("week", "o_orderdate").cast("date").alias("week_start"),
            F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        )
        .groupBy("week_start")
        .agg(F.expr("sum(cents) DIV 100").alias("y"))
    )
    w_tr = Window.orderBy("week_start").rowsBetween(-26, 26)
    tr = weekly.select(
        "week_start",
        "y",
        F.weekofyear("week_start").alias("woy"),
        F.sum("y").over(w_tr).cast("long").alias("ts"),
        F.count("*").over(w_tr).cast("long").alias("tc"),
    )
    d = tr.filter(F.col("tc") == 53).select(
        "week_start",
        "woy",
        (F.lit(53) * F.col("y") - F.col("ts")).cast("long").alias("d53"),
    )
    sea = d.groupBy("woy").agg(
        F.sum("d53").cast("long").alias("ssum"),
        F.count("*").cast("long").alias("c"),
    )
    r = d.join(sea, "woy").select(
        "week_start",
        (F.col("d53").cast("double") / 53.0).alias("det"),
        (
            (F.col("c").cast("double") * F.col("d53") - F.col("ssum"))
            / (F.lit(53.0) * F.col("c"))
        ).alias("rem"),
    )
    w_cum = Window.orderBy("week_start").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    acc = r.select(
        F.count("*").over(w_cum).cast("long").alias("n"),
        F.sum("det").over(w_cum).alias("sd"),
        F.sum(F.col("det") * F.col("det")).over(w_cum).alias("sdd"),
        F.sum("rem").over(w_cum).alias("sr"),
        F.sum(F.col("rem") * F.col("rem")).over(w_cum).alias("srr"),
        F.row_number().over(Window.orderBy(F.desc("week_start"))).alias("rev"),
    ).filter(F.col("rev") == 1)
    var_r = (F.col("srr") - F.col("sr") * F.col("sr") / F.col("n")) / F.col("n")
    var_d = (F.col("sdd") - F.col("sd") * F.col("sd") / F.col("n")) / F.col("n")
    f = acc.select("n", var_r.alias("var_r"), var_d.alias("var_d"))
    pk = sea.select(
        "woy",
        F.row_number()
        .over(
            Window.orderBy(
                (F.col("ssum").cast("double") / F.col("c")).desc(), F.asc("woy")
            )
        )
        .alias("rn"),
    ).filter(F.col("rn") == 1)
    fs = F.lit(1.0) - F.col("var_r") / F.col("var_d")
    return f.crossJoin(pk).select(
        F.col("n").alias("n_weeks_used"),
        F.round(F.when(fs > 0.0, fs).otherwise(0.0), 4).alias("f_seasonal"),
        F.col("woy").alias("peak_week_of_year"),
    )
