"""Round-6 additions, batch 66: graph centrality and lead-lag
dependence — a 2-iteration integer HITS (hubs/authorities) over the
supplier-part bipartite graph (which parts sit at the center of the
supply web, beyond raw degree — the Kleinberg twin of
supplier_graph_pagerank), an hourly click→purchase cross-correlation
function at lags −6..+6 (does click volume LEAD purchase volume, and
by how many hours — the lead-lag question ACF can't answer because it
is one series), a 12-week rolling Pearson correlation between shipped
quantity and revenue (is the price-mix relationship stable or
regime-switching — the windowed twin of the global Kendall), and the
Durbin-Watson autocorrelation test on weekly-revenue OLS residuals
(are the trend model's errors independent — the diagnostic that
decides whether forecast_linear_trend's confidence claims mean
anything).

Determinism discipline: HITS scores are EXACT integers (unnormalized
power iteration folds in DECIMAL(38,0)/HUGEINT, ranked on the integer
— no float enters a rank); CCF and rolling-corr sufficient statistics
are exact integer sums (HUGEINT cross products); Durbin-Watson is the
one documented double-sum statistic (residuals are rational in the
exact OLS coefficients; the ratio is scale-invariant and rounded at 4
— the ~1e-15 relative cross-engine double-fold noise is 11 orders
below the rounding grain).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from grocery_store_sales_forecasting_etl_pipeline_spark.plans._tables import table as _t
from grocery_store_sales_forecasting_etl_pipeline_spark.plans.registry import register

# ---------------------------------------------------------------------------
# 2-iteration integer HITS on the supplier-part bipartite graph
# ---------------------------------------------------------------------------

_HITS_ORACLE = """
WITH edges AS (
  SELECT DISTINCT l_suppkey AS s, l_partkey AS p FROM lineitem
),
a1 AS (
  SELECT p, CAST(count(*) AS BIGINT) AS deg FROM edges GROUP BY p
),
h1 AS (
  SELECT e.s, CAST(sum(CAST(a1.deg AS HUGEINT)) AS DECIMAL(38,0)) AS hub
  FROM edges e JOIN a1 ON e.p = a1.p GROUP BY e.s
),
a2 AS (
  SELECT e.p, CAST(sum(CAST(h1.hub AS HUGEINT)) AS DECIMAL(38,0)) AS auth
  FROM edges e JOIN h1 ON e.s = h1.s GROUP BY e.p
),
tot AS (SELECT CAST(sum(CAST(auth AS HUGEINT)) AS DECIMAL(38,0)) AS t FROM a2),
rk AS (
  SELECT a2.p AS partkey, a1.deg AS n_suppliers, a2.auth AS authority2,
         round(CAST(a2.auth AS DOUBLE) / CAST(tot.t AS DOUBLE), 8)
           AS auth_share,
         CAST(row_number() OVER (ORDER BY a2.auth DESC, a2.p) AS BIGINT)
           AS rnk
  FROM a2 JOIN a1 ON a2.p = a1.p CROSS JOIN tot
)
SELECT partkey, n_suppliers, authority2, auth_share, rnk
FROM rk WHERE rnk <= 20
"""


@register("supplier_part_hits", oracle=_HITS_ORACLE, tags=("graph",))
def supplier_part_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two half-iterations of Kleinberg's HITS over the supplier-part
    bipartite graph (edges = distinct (suppkey, partkey) pairs traded):
    with hubs initialized to 1, authority¹(p) = degree, hub¹(s) =
    Σ authority¹ over s's parts, authority²(p) = Σ hub¹ over p's
    suppliers — the top-20 parts by authority². A part scores high not
    by HAVING many suppliers but by having many WELL-CONNECTED
    suppliers; pagerank (supplier_graph_pagerank) asks this of the
    supplier projection, HITS asks it of the bipartite structure
    directly.

    Determinism: the unnormalized power iteration stays in exact
    integers — hub and authority folds accumulate DECIMAL(38,0)/
    HUGEINT (authority² ≤ E² crosses BIGINT once the edge set passes
    ~3e9); ranking is on the exact integer with partkey tie-break; the
    share normalization is the only double, at the output boundary.

    Scale notes: the fact collapses to the DISTINCT edge set first
    (domain-bounded: |S|·|P| regardless of fact rows); both iterations
    are edge-grain keyed folds + joins that shuffle the edge set, not
    the fact; top-20 is TakeOrderedAndProject. One fact scan.
    """
    li = _t(spark, sf_dir, "lineitem")
    dec = "decimal(38,0)"
    edges = (
        li.select(F.col("l_suppkey").alias("s"), F.col("l_partkey").alias("p"))
        .distinct()
        .localCheckpoint(eager=False)  # A/B sf0.1: 1.68 s with, 2.78 s without
    )
    a1 = edges.groupBy("p").agg(F.count("*").cast("long").alias("deg"))
    h1 = (
        edges.join(a1, "p")
        .groupBy("s")
        .agg(F.sum(F.col("deg").cast(dec)).cast(dec).alias("hub"))
    )
    a2 = (
        edges.join(h1, "s")
        .groupBy("p")
        .agg(F.sum(F.col("hub")).cast(dec).alias("auth"))
    )
    tot = a2.agg(F.sum("auth").cast(dec).alias("t"))
    rk = (
        a2.join(a1, "p")
        .crossJoin(tot)
        .select(
            F.col("p").alias("partkey"),
            F.col("deg").alias("n_suppliers"),
            F.col("auth").alias("authority2"),
            F.round(F.col("auth").cast("double") / F.col("t").cast("double"), 8)
            .alias("auth_share"),
            F.row_number()
            .over(Window.orderBy(F.desc("auth"), F.asc("p")))
            .cast("long")
            .alias("rnk"),
        )
    )
    return rk.filter(F.col("rnk") <= 20)


# ---------------------------------------------------------------------------
# Hourly click -> purchase cross-correlation (lags -6..+6)
# ---------------------------------------------------------------------------

_CCF_LAGS = tuple(range(-6, 7))

_CCF_ORACLE = """
WITH h AS (
  SELECT time_bucket(INTERVAL 1 HOUR, ts) AS hr,
         CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
              AS BIGINT) AS c,
         CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
              AS BIGINT) AS p
  FROM events GROUP BY hr
),
pairs AS (
""" + "\n  UNION ALL\n".join(
    f"""  SELECT CAST({k} AS BIGINT) AS lag, a.c AS x, b.p AS y
  FROM h a JOIN h b ON b.hr = a.hr + ({k}) * INTERVAL 1 HOUR""" for k in _CCF_LAGS
) + """
),
s AS (
  SELECT lag, CAST(count(*) AS BIGINT) AS n,
         sum(CAST(x AS HUGEINT)) AS sx, sum(CAST(y AS HUGEINT)) AS sy,
         sum(CAST(x AS HUGEINT) * y) AS sxy,
         sum(CAST(x AS HUGEINT) * x) AS sxx,
         sum(CAST(y AS HUGEINT) * y) AS syy
  FROM pairs GROUP BY lag
)
SELECT lag, n AS n_pairs,
       round((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
             / sqrt((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                    * (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)),
             6) AS ccf
FROM s
"""


@register("click_purchase_hourly_ccf", oracle=_CCF_ORACLE,
          tags=("timeseries", "stats"))
def click_purchase_hourly_ccf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-correlation function between hourly click counts and
    hourly purchase counts at lags −6..+6 hours: ccf(k) = corr(clicks
    at hour t, purchases at hour t+k). A peak at positive k means
    clicks LEAD purchases by k hours — the statistic that sizes
    attribution windows (asof_click_attribution picks per-event
    matches; this measures the aggregate lag structure they should be
    bounded by).

    Determinism: hourly counts are exact BIGINTs from one fold (both
    event types pivot in the same pass); per-lag sufficient statistics
    accumulate in HUGEINT/DECIMAL(38,0); the Pearson tree is textually
    identical to weekly_revenue_acf's, rounded once. The hour bucket
    is the TZ-safe midnight-aligned time_bucket == F.window
    equivalence pinned by event_time_buckets.

    Scale notes: one fact scan folds to the calendar-bounded hourly
    frame (~720 rows at ANY scale); the 13 lag self-joins and folds
    run on that tiny frame (one side broadcast). Gap hours pair only
    where both endpoints exist, mirrored by the inner join.
    """
    e = _t(spark, sf_dir, "events")
    h = (
        e.groupBy(F.window("ts", "1 hour").alias("win"))
        .agg(
            F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
            .cast("long")
            .alias("c"),
            F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
            .cast("long")
            .alias("p"),
        )
        .select(F.col("win.start").cast("timestamp_ntz").alias("hr"), "c", "p")
        .localCheckpoint(eager=False)  # A/B sf0.1: 0.76 s with, 1.29 s without
    )
    dec = "decimal(38,0)"
    a = h.select(F.col("hr").alias("hr_a"), F.col("c").alias("x"))
    b = h.select(F.col("hr").alias("hr_b"), F.col("p").alias("y"))
    frames = []
    for k in _CCF_LAGS:
        frames.append(
            a.join(
                b,
                F.col("hr_b") == F.expr(f"hr_a + ({k}) * INTERVAL '1' HOUR"),
            ).select(F.lit(k).cast("long").alias("lag"), "x", "y")
        )
    pairs = frames[0]
    for f in frames[1:]:
        pairs = pairs.unionAll(f)
    xd = F.col("x").cast(dec)
    yd = F.col("y").cast(dec)
    s = pairs.groupBy("lag").agg(
        F.count("*").cast("long").alias("n"),
        F.sum(xd).alias("sx"),
        F.sum(yd).alias("sy"),
        F.sum(xd * F.col("y")).alias("sxy"),
        F.sum(xd * F.col("x")).alias("sxx"),
        F.sum(yd * F.col("y")).alias("syy"),
    )
    n_d = F.col("n").cast("double")
    ccf = (n_d * F.col("sxy").cast("double") - F.col("sx").cast("double") * F.col("sy")) / F.sqrt(
        (n_d * F.col("sxx").cast("double") - F.col("sx").cast("double") * F.col("sx"))
        * (n_d * F.col("syy").cast("double") - F.col("sy").cast("double") * F.col("sy"))
    )
    return s.select("lag", F.col("n").alias("n_pairs"), F.round(ccf, 6).alias("ccf"))


# ---------------------------------------------------------------------------
# 12-week rolling Pearson: shipped quantity vs revenue
# ---------------------------------------------------------------------------

_ROLLING_CORR_ORACLE = """
WITH weekly AS (
  SELECT CAST(date_trunc('week', l_shipdate) AS DATE) AS week_start,
         CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT) AS q,
         CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                       AS BIGINT)) AS BIGINT) AS r
  FROM lineitem GROUP BY week_start
),
win AS (
  SELECT week_start,
         CAST(count(*) OVER w AS BIGINT) AS n,
         sum(CAST(q AS HUGEINT)) OVER w AS sx,
         sum(CAST(r AS HUGEINT)) OVER w AS sy,
         sum(CAST(q AS HUGEINT) * r) OVER w AS sxy,
         sum(CAST(q AS HUGEINT) * q) OVER w AS sxx,
         sum(CAST(r AS HUGEINT) * r) OVER w AS syy
  FROM weekly
  WINDOW w AS (ORDER BY week_start ROWS BETWEEN 11 PRECEDING AND CURRENT ROW)
)
SELECT week_start,
       round((12.0 * sxy - CAST(sx AS DOUBLE) * sy)
             / sqrt((12.0 * sxx - CAST(sx AS DOUBLE) * sx)
                    * (12.0 * syy - CAST(sy AS DOUBLE) * sy)), 6)
         AS rolling_corr
FROM win WHERE n = 12
"""


@register("rolling_qty_revenue_corr", oracle=_ROLLING_CORR_ORACLE,
          tags=("timeseries", "stats"))
def rolling_qty_revenue_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """12-week rolling Pearson correlation between weekly shipped
    quantity and weekly revenue. The global correlation
    (weekly_qty_revenue_kendall) says the two series track on average;
    the rolling window shows WHEN they decouple — a falling window is
    a price-mix regime change (revenue moving without volume), the
    alert retail finance actually wants.

    Determinism: weekly quantity (centi-units) and revenue (cents) are
    exact integer sums; all five windowed sufficient statistics
    accumulate in HUGEINT/DECIMAL(38,0) (Σq·r crosses BIGINT from
    ~sf10 weekly volumes); the Pearson tree is the acf/ccf one with n
    pinned to the full 12-row windows the WHERE keeps. One rounding.

    Scale notes: one fact scan folds to the calendar-bounded weekly
    frame; the rolling windows run over those ~360 rows in one sorted
    pass. Partial windows (first 11 weeks) are excluded exactly.
    """
    li = _t(spark, sf_dir, "lineitem")
    dec = "decimal(38,0)"
    weekly = (
        li.select(
            F.date_trunc("week", "l_shipdate").cast("date").alias("week_start"),
            F.round(F.col("l_quantity") * 100).cast("long").alias("qc"),
            F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100)
            .cast("long")
            .alias("rc"),
        )
        .groupBy("week_start")
        .agg(
            F.sum("qc").cast("long").alias("q"),
            F.sum("rc").cast("long").alias("r"),
        )
    )
    w = Window.orderBy("week_start").rowsBetween(-11, 0)
    qd = F.col("q").cast(dec)
    rd = F.col("r").cast(dec)
    win = weekly.select(
        "week_start",
        F.count("*").over(w).cast("long").alias("n"),
        F.sum(qd).over(w).alias("sx"),
        F.sum(rd).over(w).alias("sy"),
        F.sum(qd * F.col("r")).over(w).alias("sxy"),
        F.sum(qd * F.col("q")).over(w).alias("sxx"),
        F.sum(rd * F.col("r")).over(w).alias("syy"),
    )
    corr = (F.lit(12.0) * F.col("sxy").cast("double") - F.col("sx").cast("double") * F.col("sy")) / F.sqrt(
        (F.lit(12.0) * F.col("sxx").cast("double") - F.col("sx").cast("double") * F.col("sx"))
        * (F.lit(12.0) * F.col("syy").cast("double") - F.col("sy").cast("double") * F.col("sy"))
    )
    return win.filter(F.col("n") == 12).select(
        "week_start", F.round(corr, 6).alias("rolling_corr")
    )


# ---------------------------------------------------------------------------
# Durbin-Watson test on weekly-revenue OLS residuals
# ---------------------------------------------------------------------------

_DW_ORACLE = """
WITH weekly AS (
  SELECT CAST(date_trunc('week', o_orderdate) AS DATE) AS week_start,
         sum(CAST(round(o_totalprice * 100) AS BIGINT)) // 100 AS y
  FROM orders GROUP BY week_start
),
t AS (
  SELECT y,
         CAST(date_diff('day', (SELECT min(week_start) FROM weekly),
                        week_start) // 7 AS BIGINT) AS t,
         week_start
  FROM weekly
),
s AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         sum(CAST(t AS HUGEINT)) AS st, sum(CAST(y AS HUGEINT)) AS sy,
         sum(CAST(t AS HUGEINT) * y) AS sty,
         sum(CAST(t AS HUGEINT) * t) AS stt
  FROM t
),
coef AS (
  SELECT n,
         (CAST(n AS DOUBLE) * sty - CAST(st AS DOUBLE) * sy)
           / (CAST(n AS DOUBLE) * stt - CAST(st AS DOUBLE) * st) AS b,
         (CAST(sy AS DOUBLE) - (CAST(n AS DOUBLE) * sty - CAST(st AS DOUBLE) * sy)
           / (CAST(n AS DOUBLE) * stt - CAST(st AS DOUBLE) * st)
           * CAST(st AS DOUBLE)) / n AS a
  FROM s
),
e AS (
  SELECT t.week_start,
         CAST(t.y AS DOUBLE) - coef.a - coef.b * t.t AS e,
         coef.n AS n, coef.b AS slope
  FROM t CROSS JOIN coef
),
d AS (
  SELECT week_start, e, n, slope,
         e - lag(e) OVER (ORDER BY week_start) AS de
  FROM e
)
SELECT max(n) AS n_weeks,
       round(max(slope), 4) AS ols_slope,
       round(sum(de * de) / sum(e * e), 4) AS durbin_watson
FROM d
"""


@register("weekly_trend_durbin_watson", oracle=_DW_ORACLE,
          tags=("timeseries", "stats"))
def weekly_trend_durbin_watson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Durbin-Watson statistic Σ(e_t − e_{t−1})² / Σe_t² on the
    residuals of the weekly-revenue OLS trend (same exact-sufficient-
    statistic fit as forecast_linear_trend). DW ≈ 2 means independent
    errors; DW → 0 means positive autocorrelation — the diagnostic
    that says whether the trend line's standard errors (and every
    forecast interval built on them) are honest.

    Determinism: the OLS coefficients come from exact HUGEINT
    sufficient statistics; residuals are one double tree in those
    exact inputs. DW is the registry's one documented double-SUM
    statistic: a scale-invariant ratio over ~360 comparable-magnitude
    terms, where cross-engine fold-order noise is ~1e-15 relative —
    11 orders below the 4-decimal rounding grain (the same acceptance
    as the ln() family). Week index t is an exact integer
    (days-from-first-week // 7).

    Scale notes: one fact scan to the calendar-bounded weekly frame;
    the OLS fold is one row; residual + lag run in one sorted pass
    over ~360 rows. The min-week scalar joins via broadcast, never a
    driver collect.
    """
    o = _t(spark, sf_dir, "orders")
    dec = "decimal(38,0)"
    weekly = (
        o.select(
            F.date_trunc("week", "o_orderdate").cast("date").alias("week_start"),
            F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        )
        .groupBy("week_start")
        .agg(F.expr("sum(cents) DIV 100").alias("y"))
        .localCheckpoint(eager=False)  # A/B sf0.1: 0.78 s with, 0.90 s without
    )
    w0 = weekly.agg(F.min("week_start").alias("w0"))
    t = weekly.crossJoin(w0).select(
        "week_start",
        "y",
        F.expr("CAST(datediff(week_start, w0) DIV 7 AS BIGINT)").alias("t"),
    )
    td = F.col("t").cast(dec)
    yd = F.col("y").cast(dec)
    s = t.agg(
        F.count("*").cast("long").alias("n"),
        F.sum(td).alias("st"),
        F.sum(yd).alias("sy"),
        F.sum(td * F.col("y")).alias("sty"),
        F.sum(td * F.col("t")).alias("stt"),
    )
    n_d = F.col("n").cast("double")
    b = (n_d * F.col("sty").cast("double") - F.col("st").cast("double") * F.col("sy")) / (
        n_d * F.col("stt").cast("double") - F.col("st").cast("double") * F.col("st")
    )
    a = (F.col("sy").cast("double") - b * F.col("st").cast("double")) / F.col("n")
    coef = s.select("n", b.alias("b"), a.alias("a"))
    e = t.crossJoin(coef).select(
        "week_start",
        (F.col("y").cast("double") - F.col("a") - F.col("b") * F.col("t")).alias("e"),
        "n",
        F.col("b").alias("slope"),
    )
    d = e.select(
        "e",
        "n",
        "slope",
        (F.col("e") - F.lag("e").over(Window.orderBy("week_start"))).alias("de"),
    )
    return d.agg(
        F.max("n").alias("n_weeks"),
        F.round(F.max("slope"), 4).alias("ols_slope"),
        F.round(F.sum(F.col("de") * F.col("de")) / F.sum(F.col("e") * F.col("e")), 4)
        .alias("durbin_watson"),
    )
