"""Round-6 additions, batch 75: predictive causality, queueing
profile, price-law auditing, and calendar effects — a Granger test of
whether daily click volume predicts next-day purchase volume beyond
purchase history alone (the F-test on nested lag regressions that
upgrades click_purchase_hourly_ccf's correlation to "does it add
forecasting information"), a session concurrency profile via the
classic +1/−1 interval sweep (max and time-average concurrent
sessions — the capacity numbers a serving fleet is actually sized
by), a law-of-one-price audit of cross-nation unit-price dispersion
per part (the parts whose price varies most by supplier nation —
arbitrage or data error, either way worth a look), and the month-end
revenue lift (do the last three calendar days of the month outspend
the rest — the payday/budget-flush effect with a Welch t alongside).

Determinism discipline: all regression moments, sweep deltas, and
cell sums are exact integers (DECIMAL(38,0)/HUGEINT); the nested-OLS
coefficients, F, CV, and Welch t are identical double trees (the
cross-nation CV accumulates through per-part SEQUENTIAL windows
ordered by nation); the sweep orders (ts, delta) with departures
before arrivals at ties, making concurrency exact; one rounding per
output.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from grocery_store_sales_forecasting_etl_pipeline_spark.plans._tables import table as _t
from grocery_store_sales_forecasting_etl_pipeline_spark.plans.registry import register

# ---------------------------------------------------------------------------
# Granger test: daily clicks -> next-day purchases
# ---------------------------------------------------------------------------

_GRANGER_ORACLE = """
WITH d AS (
  SELECT CAST(ts AS DATE) AS day,
         CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
              AS BIGINT) AS x,
         CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
              AS BIGINT) AS y
  FROM events GROUP BY day
),
p AS (
  SELECT y, lag(y) OVER (ORDER BY day) AS yl,
         lag(x) OVER (ORDER BY day) AS xl
  FROM d QUALIFY yl IS NOT NULL
),
s AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         sum(CAST(yl AS HUGEINT)) AS s1, sum(CAST(xl AS HUGEINT)) AS s2,
         sum(CAST(yl AS HUGEINT) * yl) AS s11,
         sum(CAST(yl AS HUGEINT) * xl) AS s12,
         sum(CAST(xl AS HUGEINT) * xl) AS s22,
         sum(CAST(y AS HUGEINT)) AS sy,
         sum(CAST(y AS HUGEINT) * yl) AS sy1,
         sum(CAST(y AS HUGEINT) * xl) AS sy2,
         sum(CAST(y AS HUGEINT) * y) AS syy
  FROM p
),
f AS (
  SELECT n,
         CAST(n AS DOUBLE) * (CAST(s11 AS DOUBLE) * CAST(s22 AS DOUBLE)
                              - CAST(s12 AS DOUBLE) * CAST(s12 AS DOUBLE))
         - CAST(s1 AS DOUBLE) * (CAST(s1 AS DOUBLE) * CAST(s22 AS DOUBLE)
                                 - CAST(s12 AS DOUBLE) * CAST(s2 AS DOUBLE))
         + CAST(s2 AS DOUBLE) * (CAST(s1 AS DOUBLE) * CAST(s12 AS DOUBLE)
                                 - CAST(s11 AS DOUBLE) * CAST(s2 AS DOUBLE))
           AS det,
         CAST(sy AS DOUBLE) * (CAST(s11 AS DOUBLE) * CAST(s22 AS DOUBLE)
                               - CAST(s12 AS DOUBLE) * CAST(s12 AS DOUBLE))
         - CAST(s1 AS DOUBLE) * (CAST(sy1 AS DOUBLE) * CAST(s22 AS DOUBLE)
                                 - CAST(s12 AS DOUBLE) * CAST(sy2 AS DOUBLE))
         + CAST(s2 AS DOUBLE) * (CAST(sy1 AS DOUBLE) * CAST(s12 AS DOUBLE)
                                 - CAST(s11 AS DOUBLE) * CAST(sy2 AS DOUBLE))
           AS det_a,
         CAST(n AS DOUBLE) * (CAST(sy1 AS DOUBLE) * CAST(s22 AS DOUBLE)
                              - CAST(s12 AS DOUBLE) * CAST(sy2 AS DOUBLE))
         - CAST(sy AS DOUBLE) * (CAST(s1 AS DOUBLE) * CAST(s22 AS DOUBLE)
                                 - CAST(s12 AS DOUBLE) * CAST(s2 AS DOUBLE))
         + CAST(s2 AS DOUBLE) * (CAST(s1 AS DOUBLE) * CAST(sy2 AS DOUBLE)
                                 - CAST(sy1 AS DOUBLE) * CAST(s2 AS DOUBLE))
           AS det_b,
         CAST(n AS DOUBLE) * (CAST(s11 AS DOUBLE) * CAST(sy2 AS DOUBLE)
                              - CAST(sy1 AS DOUBLE) * CAST(s12 AS DOUBLE))
         - CAST(s1 AS DOUBLE) * (CAST(s1 AS DOUBLE) * CAST(sy2 AS DOUBLE)
                                 - CAST(sy1 AS DOUBLE) * CAST(s2 AS DOUBLE))
         + CAST(sy AS DOUBLE) * (CAST(s1 AS DOUBLE) * CAST(s12 AS DOUBLE)
                                 - CAST(s11 AS DOUBLE) * CAST(s2 AS DOUBLE))
           AS det_c,
         CAST(syy AS DOUBLE) AS syy_d, CAST(sy AS DOUBLE) AS sy_d,
         CAST(sy1 AS DOUBLE) AS sy1_d, CAST(sy2 AS DOUBLE) AS sy2_d,
         CAST(s1 AS DOUBLE) AS s1_d, CAST(s11 AS DOUBLE) AS s11_d
  FROM s
),
u AS (
  SELECT n,
         syy_d - (det_a / det) * sy_d - (det_b / det) * sy1_d
               - (det_c / det) * sy2_d AS rss_u,
         det_c / det AS b_click,
         syy_d - ((sy_d - ((n * sy1_d - s1_d * sy_d)
                           / (n * s11_d - s1_d * s1_d)) * s1_d) / n) * sy_d
               - ((n * sy1_d - s1_d * sy_d)
                  / (n * s11_d - s1_d * s1_d)) * sy1_d AS rss_r
  FROM f WHERE det <> 0.0
    AND n * s11_d - s1_d * s1_d <> 0.0
)
SELECT n AS n_days, round(b_click, 6) AS click_coef,
       round(rss_r, 2) AS rss_restricted,
       round(rss_u, 2) AS rss_unrestricted,
       round(CASE WHEN rss_u > 0.0
             THEN (rss_r - rss_u) / (rss_u / (n - 3)) END, 4)
         AS granger_f
FROM u
"""


@register("click_purchase_granger", oracle=_GRANGER_ORACLE,
          tags=("timeseries", "stats"))
def click_purchase_granger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Granger test of daily clicks predicting next-day purchases:
    compare the restricted AR(1) regression y_t ~ y_{t−1} to the
    unrestricted y_t ~ y_{t−1} + x_{t−1} and read F = (RSS_r −
    RSS_u)/(RSS_u/(n−3)) — clicks "Granger-cause" purchases when
    yesterday's clicks improve the forecast BEYOND what purchase
    momentum already knew. click_purchase_hourly_ccf reads the raw
    lead-lag correlation; this is the incremental-information test
    (one lag, the 30-day window's honest capacity).

    Determinism: the daily frame and all ten regression moments are
    exact integers (HUGEINT/DECIMAL — Σy·yl crosses BIGINT past ~3e9
    events/day); both OLS solves (3×3 Cramer and the closed 2×2) and
    F are one shared double tree; det = 0 or RSS_u ≤ 0 emit NULL.

    Scale notes: one events scan folds map-side to the
    calendar-bounded daily frame; everything after is a ~30-row walk.
    """
    ev = _t(spark, sf_dir, "events")
    d = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
        .cast("long")
        .alias("x"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("long")
        .alias("y"),
    )
    w = Window.orderBy("day")
    p = d.select(
        "y",
        F.lag("y").over(w).alias("yl"),
        F.lag("x").over(w).alias("xl"),
    ).filter(F.col("yl").isNotNull())
    dec = "decimal(38,0)"
    yl = F.col("yl").cast(dec)
    xl = F.col("xl").cast(dec)
    yy = F.col("y").cast(dec)
    s = p.agg(
        F.count("*").cast("long").alias("n"),
        F.sum(yl).cast(dec).alias("s1"),
        F.sum(xl).cast(dec).alias("s2"),
        F.sum(yl * F.col("yl")).cast(dec).alias("s11"),
        F.sum(yl * F.col("xl")).cast(dec).alias("s12"),
        F.sum(xl * F.col("xl")).cast(dec).alias("s22"),
        F.sum(yy).cast(dec).alias("sy"),
        F.sum(yy * F.col("yl")).cast(dec).alias("sy1"),
        F.sum(yy * F.col("xl")).cast(dec).alias("sy2"),
        F.sum(yy * F.col("y")).cast(dec).alias("syy"),
    )

    def D(c):
        return F.col(c).cast("double")

    n_d = F.col("n").cast("double")
    det = (
        n_d * (D("s11") * D("s22") - D("s12") * D("s12"))
        - D("s1") * (D("s1") * D("s22") - D("s12") * D("s2"))
        + D("s2") * (D("s1") * D("s12") - D("s11") * D("s2"))
    )
    det_a = (
        D("sy") * (D("s11") * D("s22") - D("s12") * D("s12"))
        - D("s1") * (D("sy1") * D("s22") - D("s12") * D("sy2"))
        + D("s2") * (D("sy1") * D("s12") - D("s11") * D("sy2"))
    )
    det_b = (
        n_d * (D("sy1") * D("s22") - D("s12") * D("sy2"))
        - D("sy") * (D("s1") * D("s22") - D("s12") * D("s2"))
        + D("s2") * (D("s1") * D("sy2") - D("sy1") * D("s2"))
    )
    det_c = (
        n_d * (D("s11") * D("sy2") - D("sy1") * D("s12"))
        - D("s1") * (D("s1") * D("sy2") - D("sy1") * D("s2"))
        + D("sy") * (D("s1") * D("s12") - D("s11") * D("s2"))
    )
    b_r = (n_d * D("sy1") - D("s1") * D("sy")) / (n_d * D("s11") - D("s1") * D("s1"))
    a_r = (D("sy") - b_r * D("s1")) / F.col("n")
    u = s.filter((det != 0.0) & (n_d * D("s11") - D("s1") * D("s1") != 0.0)).select(
        "n",
        (D("syy") - (det_a / det) * D("sy") - (det_b / det) * D("sy1")
         - (det_c / det) * D("sy2")).alias("rss_u"),
        (det_c / det).alias("b_click"),
        (D("syy") - a_r * D("sy") - b_r * D("sy1")).alias("rss_r"),
    )
    return u.select(
        F.col("n").alias("n_days"),
        F.round("b_click", 6).alias("click_coef"),
        F.round("rss_r", 2).alias("rss_restricted"),
        F.round("rss_u", 2).alias("rss_unrestricted"),
        F.round(
            F.when(
                F.col("rss_u") > 0.0,
                (F.col("rss_r") - F.col("rss_u"))
                / (F.col("rss_u") / (F.col("n") - 3)),
            ),
            4,
        ).alias("granger_f"),
    )


# ---------------------------------------------------------------------------
# Session concurrency profile via the +1/-1 interval sweep
# ---------------------------------------------------------------------------

_CONCURRENCY_ORACLE = """
WITH e AS (
  SELECT user_id, ts,
         CASE WHEN date_diff('microsecond',
              lag(ts) OVER (PARTITION BY user_id ORDER BY ts),
              ts) > 300000000
              OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
         THEN 1 ELSE 0 END AS brk
  FROM events
),
sid AS (
  SELECT user_id, ts,
         CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY ts
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS s
  FROM e
),
sess AS (
  SELECT user_id, s, min(ts) AS t0, max(ts) AS t1
  FROM sid GROUP BY user_id, s
),
sweep AS (
  SELECT t0 AS t, CAST(1 AS BIGINT) AS delta FROM sess
  UNION ALL
  SELECT t1 AS t, CAST(-1 AS BIGINT) AS delta FROM sess
),
walk AS (
  SELECT t, delta,
         CAST(sum(delta) OVER (ORDER BY t, delta
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS conc
  FROM sweep
),
mx AS (
  SELECT max(conc) AS max_conc FROM walk
),
arg AS (
  SELECT min(t) AS peak_ts FROM walk, mx WHERE walk.conc = mx.max_conc
),
agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n_sessions,
         CAST(sum(date_diff('microsecond', t0, t1)) AS BIGINT) AS tot_us,
         CAST(date_diff('microsecond', min(t0), max(t1)) AS BIGINT)
           AS span_us
  FROM sess
)
SELECT agg.n_sessions, mx.max_conc, arg.peak_ts,
       round(CAST(agg.tot_us AS DOUBLE) / agg.span_us, 4)
         AS avg_concurrency,
       round(CAST(agg.span_us AS DOUBLE) / 3600000000.0, 4) AS span_hours
FROM agg CROSS JOIN mx CROSS JOIN arg
"""


@register("session_concurrency_profile", oracle=_CONCURRENCY_ORACLE,
          tags=("streaming", "timeseries"))
def session_concurrency_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concurrency profile of user sessions (5-minute-gap
    sessionization, matching ``streaming.events.sessionize``): the
    classic +1/−1 interval sweep yields the MAX concurrent sessions
    (with the earliest time it is attained), and the time-average
    concurrency Σdurations/span — Little's L, which the sweep makes
    exact rather than sampled. sessionize_events counts and sizes
    sessions; this reads how many are open AT ONCE — the number a
    connection pool or serving fleet is actually sized by. Ties order
    departures before arrivals (delta −1 < +1), so a back-to-back
    boundary never double-counts.

    Determinism: session bounds, sweep deltas, the running
    concurrency, and its argmax are exact integers over a total
    (ts, delta) order; the two divisions round once.

    Scale notes: sessionization is per-user windows (parallel); the
    sweep walks the SESSION-grain frame (two rows per session — far
    smaller than events), one global sorted pass; documented as this
    query's scale ceiling.
    """
    ev = _t(spark, sf_dir, "events")
    w_u = Window.partitionBy("user_id").orderBy("ts")
    gap_us = 300_000_000
    e = ev.select(
        "user_id",
        "ts",
        F.when(
            F.lag("ts").over(w_u).isNull()
            | (
                F.unix_micros(F.col("ts").cast("timestamp"))
                - F.unix_micros(F.lag("ts").over(w_u).cast("timestamp"))
                > gap_us
            ),
            1,
        )
        .otherwise(0)
        .alias("brk"),
    )
    w_cum = Window.partitionBy("user_id").orderBy("ts").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    sid = e.select(
        "user_id", "ts", F.sum("brk").over(w_cum).cast("long").alias("s")
    )
    sess = sid.groupBy("user_id", "s").agg(
        F.min("ts").alias("t0"), F.max("ts").alias("t1")
    ).localCheckpoint(eager=False)  # A/B sf1: 7.27 s with, 8.49 s without
    sweep = sess.select(F.col("t0").alias("t"), F.lit(1).cast("long").alias("delta")).unionAll(
        sess.select(F.col("t1").alias("t"), F.lit(-1).cast("long").alias("delta"))
    )
    w_sweep = Window.orderBy("t", "delta").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    walk = sweep.select(
        "t", F.sum("delta").over(w_sweep).cast("long").alias("conc")
    )
    mx = walk.agg(F.max("conc").alias("max_conc"))
    arg = walk.crossJoin(mx).filter(
        F.col("conc") == F.col("max_conc")
    ).agg(F.min("t").alias("peak_ts"))
    us = lambda c: F.unix_micros(F.col(c).cast("timestamp"))
    agg = sess.agg(
        F.count("*").cast("long").alias("n_sessions"),
        F.sum(us("t1") - us("t0")).cast("long").alias("tot_us"),
        (F.max(us("t1")) - F.min(us("t0"))).cast("long").alias("span_us"),
    )
    return (
        agg.crossJoin(mx)
        .crossJoin(arg)
        .select(
            "n_sessions",
            "max_conc",
            "peak_ts",
            F.round(
                F.col("tot_us").cast("double") / F.col("span_us"), 4
            ).alias("avg_concurrency"),
            F.round(F.col("span_us").cast("double") / 3.6e9, 4).alias("span_hours"),
        )
    )


# ---------------------------------------------------------------------------
# Law-of-one-price audit: cross-nation unit-price dispersion per part
# ---------------------------------------------------------------------------

_LOOP_ORACLE = """
WITH pn AS (
  SELECT l.l_partkey AS part, s.s_nationkey AS nation,
         CAST(sum(CAST(round(100.0 * l.l_extendedprice / l.l_quantity)
                       AS BIGINT)) AS BIGINT) AS sc,
         CAST(count(*) AS BIGINT) AS c
  FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
  WHERE l.l_quantity > 0
  GROUP BY part, nation
),
m AS (
  SELECT part, nation, CAST(sc AS DOUBLE) / c AS mean_cents
  FROM pn
),
acc AS (
  SELECT part,
         CAST(count(*) OVER w AS BIGINT) AS k,
         sum(mean_cents) OVER w AS sm,
         sum(mean_cents * mean_cents) OVER w AS smm,
         min(mean_cents) OVER w AS mn,
         max(mean_cents) OVER w AS mx,
         row_number() OVER (PARTITION BY part ORDER BY nation DESC) AS rev
  FROM m
  WINDOW w AS (PARTITION BY part ORDER BY nation
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
pf AS (
  SELECT part, k, sm / k AS mom,
         sqrt((smm - sm * sm / k) / k) / (sm / k) AS cv,
         (mx - mn) / mn AS spread
  FROM acc WHERE rev = 1 AND k >= 3
),
rk AS (
  SELECT part, k, mom, cv, spread,
         CAST(row_number() OVER (ORDER BY cv DESC, part) AS BIGINT) AS rnk
  FROM pf
)
SELECT part, k AS n_nations, round(mom, 2) AS mean_unit_cents,
       round(cv, 6) AS cross_nation_cv, round(spread, 6) AS max_min_spread,
       rnk
FROM rk WHERE rnk <= 20
"""


@register("part_price_dispersion_audit", oracle=_LOOP_ORACLE,
          tags=("audit", "stats"))
def part_price_dispersion_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Law-of-one-price audit: the 20 parts whose mean unit price
    varies MOST across supplier nations (coefficient of variation of
    the per-nation means, parts sold in ≥3 nations), with the
    max/min spread alongside. Economics says arbitrage should keep
    these near zero; persistent dispersion is either market friction
    worth exploiting or a data-quality defect worth fixing —
    money_precision_audit checks the cents, this checks the
    economics.

    Determinism: per-(part, nation) sums and counts are exact
    integers; the nation means are identical double ratios; the
    cross-nation moments accumulate through per-part SEQUENTIAL
    windows ordered by nation (same fold order both engines); the
    rank tie-breaks on part.

    Scale notes: the fact folds map-side to the (part × nation)
    grain after a broadcast supplier join; per-part windows span ≤25
    rows each; top-20 is one TakeOrdered.
    """
    li = _t(spark, sf_dir, "lineitem")
    sup = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    pn = (
        li.filter(F.col("l_quantity") > 0)
        .select("l_partkey", "l_suppkey", "l_extendedprice", "l_quantity")
        .join(sup, F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy(F.col("l_partkey").alias("part"), F.col("s_nationkey").alias("nation"))
        .agg(
            F.sum(
                F.round(F.lit(100.0) * F.col("l_extendedprice") / F.col("l_quantity"))
                .cast("long")
            )
            .cast("long")
            .alias("sc"),
            F.count("*").cast("long").alias("c"),
        )
    )
    m = pn.select(
        "part", "nation", (F.col("sc").cast("double") / F.col("c")).alias("mean_cents")
    )
    w = (
        Window.partitionBy("part")
        .orderBy("nation")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    acc = m.select(
        "part",
        F.count("*").over(w).cast("long").alias("k"),
        F.sum("mean_cents").over(w).alias("sm"),
        F.sum(F.col("mean_cents") * F.col("mean_cents")).over(w).alias("smm"),
        F.min("mean_cents").over(w).alias("mn"),
        F.max("mean_cents").over(w).alias("mx"),
        F.row_number()
        .over(Window.partitionBy("part").orderBy(F.desc("nation")))
        .alias("rev"),
    ).filter((F.col("rev") == 1) & (F.col("k") >= 3))
    mom = F.col("sm") / F.col("k")
    pf = acc.select(
        "part",
        "k",
        mom.alias("mom"),
        (
            F.sqrt((F.col("smm") - F.col("sm") * F.col("sm") / F.col("k")) / F.col("k"))
            / mom
        ).alias("cv"),
        ((F.col("mx") - F.col("mn")) / F.col("mn")).alias("spread"),
    )
    rk = pf.select(
        "part",
        "k",
        "mom",
        "cv",
        "spread",
        F.row_number().over(Window.orderBy(F.desc("cv"), F.asc("part"))).cast("long").alias("rnk"),
    ).filter(F.col("rnk") <= 20)
    return rk.select(
        "part",
        F.col("k").alias("n_nations"),
        F.round("mom", 2).alias("mean_unit_cents"),
        F.round("cv", 6).alias("cross_nation_cv"),
        F.round("spread", 6).alias("max_min_spread"),
        "rnk",
    )


# ---------------------------------------------------------------------------
# Month-end revenue lift
# ---------------------------------------------------------------------------

_MONTH_END_ORACLE = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         sum(CAST(round(o_totalprice * 100) AS BIGINT)) // 100 AS v
  FROM orders GROUP BY day
),
f AS (
  SELECT day, v,
         CASE WHEN dayofmonth(day)
                   >= dayofmonth(last_day(day)) - 2
              THEN 1 ELSE 0 END AS me
  FROM daily
),
s AS (
  SELECT me, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(v AS HUGEINT)) AS DECIMAL(38,0)) AS sv,
         CAST(sum(CAST(v AS HUGEINT) * v) AS DECIMAL(38,0)) AS svv
  FROM f GROUP BY me
),
m AS (
  SELECT me, n, CAST(sv AS DOUBLE) / n AS mean,
         (CAST(svv AS DOUBLE) - CAST(sv AS DOUBLE) * sv / n) / (n - 1)
           AS var
  FROM s
),
p AS (
  SELECT max(CASE WHEN me = 1 THEN n END) AS n_end,
         max(CASE WHEN me = 0 THEN n END) AS n_oth,
         max(CASE WHEN me = 1 THEN mean END) AS m_end,
         max(CASE WHEN me = 0 THEN mean END) AS m_oth,
         max(CASE WHEN me = 1 THEN var END) AS v_end,
         max(CASE WHEN me = 0 THEN var END) AS v_oth
  FROM m
)
SELECT n_end AS n_end_days, n_oth AS n_other_days,
       round(m_end, 2) AS end_mean_dollars,
       round(m_oth, 2) AS other_mean_dollars,
       round(m_end / m_oth, 4) AS lift,
       round((m_end - m_oth) / sqrt(v_end / n_end + v_oth / n_oth), 4)
         AS welch_t
FROM p
"""


@register("month_end_lift", oracle=_MONTH_END_ORACLE,
          tags=("timeseries", "stats"))
def month_end_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-end revenue lift: compare mean DAILY revenue over the
    last three calendar days of each month (month-length aware via
    last_day) against all other days — the payday/budget-flush
    calendar effect, with the ratio lift and a Welch t for whether it
    clears day-to-day noise. weekday_revenue_anova reads the weekly
    cycle; this reads the monthly one.

    Determinism: daily dollars and both cells' (n, Σ, Σ²) are exact
    integers (DECIMAL(38,0)/HUGEINT); the month-end flag is exact
    date arithmetic; means, lift, and Welch t are one shared double
    tree rounded at the boundary.

    Scale notes: one fact scan folds to the calendar-bounded daily
    frame, then to 2 cells.
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
    f = daily.select(
        "v",
        F.when(
            F.dayofmonth("day") >= F.dayofmonth(F.last_day("day")) - 2, 1
        )
        .otherwise(0)
        .alias("me"),
    )
    dec = "decimal(38,0)"
    vd = F.col("v").cast(dec)
    s = f.groupBy("me").agg(
        F.count("*").cast("long").alias("n"),
        F.sum(vd).cast(dec).alias("sv"),
        F.sum(vd * F.col("v")).cast(dec).alias("svv"),
    )
    mean = F.col("sv").cast("double") / F.col("n")
    var = (
        F.col("svv").cast("double") - F.col("sv").cast("double") * F.col("sv") / F.col("n")
    ) / (F.col("n") - 1)
    m = s.select("me", "n", mean.alias("mean"), var.alias("var"))

    def cell(mv, col):
        return F.max(F.when(F.col("me") == mv, F.col(col)))

    p = m.agg(
        cell(1, "n").alias("n_end"),
        cell(0, "n").alias("n_oth"),
        cell(1, "mean").alias("m_end"),
        cell(0, "mean").alias("m_oth"),
        cell(1, "var").alias("v_end"),
        cell(0, "var").alias("v_oth"),
    )
    return p.select(
        F.col("n_end").alias("n_end_days"),
        F.col("n_oth").alias("n_other_days"),
        F.round("m_end", 2).alias("end_mean_dollars"),
        F.round("m_oth", 2).alias("other_mean_dollars"),
        F.round(F.col("m_end") / F.col("m_oth"), 4).alias("lift"),
        F.round(
            (F.col("m_end") - F.col("m_oth"))
            / F.sqrt(F.col("v_end") / F.col("n_end") + F.col("v_oth") / F.col("n_oth")),
            4,
        ).alias("welch_t"),
    )
