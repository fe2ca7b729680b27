"""Round-6 additions, batch 88: demand-aggregation scaling, robust
profiling, tail asymmetry, and regression structural break — Taylor's
power law across parts (does demand variance scale as mean^b? b = 1
Poisson-independent, b → 2 synchronized/clustered — THE exponent that
decides how much safety stock pooling actually saves), a per-segment
robust quartile profile (trimean, midhinge, coefficient of quartile
variation — the outlier-immune summary table a segment dashboard
should print instead of mean ± std), the tail asymmetry of weekly
revenue changes (mean of the top 5% vs |mean of the bottom 5%| — are
surges bigger than crashes?), and the Chow test for a structural
break in the weekly revenue trend at the sample midpoint (did the
LINE change, slope or level — the regression twin of the
nonparametric Pettitt/changepoint screens already registered).

Determinism discipline: per-part demand moments are exact integer
(Σq, Σq² in HUGEINT/DECIMAL(38,0)); the log-log OLS folds ln-terms
once per part under the documented libm policy; quartiles and tail
cutoffs are cross-multiplied integer order statistics; Chow's SSRs
come from exact integer sufficient statistics (Σt, Σt², Σty, Σy, Σy²
per half) combined in identical closed-form double trees; one
rounding per output float.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from grocery_store_sales_forecasting_etl_pipeline_spark.plans._tables import table as _t
from grocery_store_sales_forecasting_etl_pipeline_spark.plans.registry import register

_DEC = "decimal(38,0)"

# ---------------------------------------------------------------------------
# Taylor's power law: per-part weekly demand variance vs mean
# ---------------------------------------------------------------------------

_TAYLOR_ORACLE = """
WITH wk AS (
  SELECT l_partkey AS pk,
         CAST(date_trunc('week', l_shipdate) AS DATE) AS w,
         CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS q
  FROM lineitem GROUP BY pk, w
),
per AS (
  SELECT pk, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(q) AS BIGINT) AS sq,
         CAST(sum(CAST(q AS HUGEINT) * q) AS DECIMAL(38,0)) AS sq2
  FROM wk GROUP BY pk
),
mv AS (
  SELECT pk,
         CAST(sq AS DOUBLE) / n AS mean_q,
         (CAST(n AS DOUBLE) * CAST(sq2 AS DOUBLE) - CAST(sq AS DOUBLE) * sq)
           / (CAST(n AS DOUBLE) * (n - 1)) AS var_q
  FROM per WHERE n >= 8
),
pts AS (
  SELECT ln(mean_q) AS x, ln(var_q) AS y FROM mv WHERE var_q > 0
),
ols AS (
  SELECT CAST(count(*) AS BIGINT) AS k,
         sum(x) AS sx, sum(y) AS sy, sum(x * x) AS sxx, sum(x * y) AS sxy
  FROM pts
)
SELECT k AS n_parts,
       round((k * sxy - sx * sy) / (k * sxx - sx * sx), 4) AS taylor_exponent,
       round((sy - (k * sxy - sx * sy) / (k * sxx - sx * sx) * sx) / k, 4)
         AS taylor_intercept
FROM ols
"""


@register("part_demand_taylor_law", oracle=_TAYLOR_ORACLE, tags=("stats", "ml"))
def part_demand_taylor_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Taylor's power law across parts: regress ln(variance) on
    ln(mean) of each part's weekly shipped quantity (parts with ≥ 8
    active weeks and positive variance). The exponent b is the
    demand-clustering number: b = 1 means parts fluctuate like
    independent Poisson streams (pooling inventory across parts cuts
    safety stock ∝ √k), b → 2 means fluctuations are synchronized
    and pooling saves almost nothing. The aggregation-design
    complement to the per-part ADI/CV² classification already
    registered (intermittency batch).

    Determinism: per-part moments are exact integers (Σq² in HUGEINT/
    DECIMAL(38,0)); active weeks only (zero-weeks omitted — the
    standard ecology convention, documented); each part contributes
    exactly two ln terms (libm policy) and the OLS closed form rounds
    once. The slope expression is textually shared with
    zipf_slope_audit's fold.

    Scale notes: the (part × week) fold shuffles on partkey with
    map-side combine; the moment fold is per-part; the OLS fold is a
    1-row reduce over the parts frame.
    """
    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_partkey").alias("pk"),
        F.date_trunc("week", "l_shipdate").cast("date").alias("w"),
        F.col("l_quantity").cast("long").alias("qv"),
    )
    wk = li.groupBy("pk", "w").agg(F.sum("qv").cast("long").alias("q"))
    per = wk.groupBy("pk").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("q").cast("long").alias("sq"),
        F.sum(F.col("q").cast(_DEC) * F.col("q").cast(_DEC)).cast(_DEC).alias("sq2"),
    )
    mean_q = F.col("sq").cast("double") / F.col("n")
    var_q = (
        F.col("n").cast("double") * F.col("sq2").cast("double")
        - F.col("sq").cast("double") * F.col("sq")
    ) / (F.col("n").cast("double") * (F.col("n") - 1))
    mv = per.filter(F.col("n") >= 8).select(
        mean_q.alias("mean_q"), var_q.alias("var_q")
    )
    pts = mv.filter(F.col("var_q") > 0).select(
        F.log("mean_q").alias("x"), F.log("var_q").alias("y")
    )
    ols = pts.agg(
        F.count("*").cast("long").alias("k"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    slope = (F.col("k") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("k") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return ols.select(
        F.col("k").alias("n_parts"),
        F.round(slope, 4).alias("taylor_exponent"),
        F.round((F.col("sy") - slope * F.col("sx")) / F.col("k"), 4).alias(
            "taylor_intercept"
        ),
    )


# ---------------------------------------------------------------------------
# Per-segment robust quartile profile
# ---------------------------------------------------------------------------

_ROBUST_ORACLE = """
WITH s AS (
  SELECT c.c_mktsegment AS seg,
         CAST(round(o.o_totalprice * 100) AS BIGINT) AS cents
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
),
v AS (SELECT seg, cents, CAST(count(*) AS BIGINT) AS c FROM s GROUP BY seg, cents),
cw AS (
  SELECT seg, cents,
         CAST(sum(c) OVER (PARTITION BY seg ORDER BY cents
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
         CAST(sum(c) OVER (PARTITION BY seg) AS BIGINT) AS n
  FROM v
),
q AS (
  SELECT seg, max(n) AS n,
         min(CASE WHEN 4 * cum >= n THEN cents END) AS q1,
         min(CASE WHEN 2 * cum >= n THEN cents END) AS q2,
         min(CASE WHEN 4 * cum >= 3 * n THEN cents END) AS q3
  FROM cw GROUP BY seg
)
SELECT seg AS segment, n AS n_orders,
       q1 AS q1_cents, q2 AS median_cents, q3 AS q3_cents,
       round((q1 + 2.0 * q2 + q3) / 4.0, 1) AS trimean_cents,
       round((q1 + q3) / 2.0, 1) AS midhinge_cents,
       round((CAST(q3 AS DOUBLE) - q1) / (CAST(q3 AS DOUBLE) + q1), 6)
         AS quartile_cv
FROM q
"""


@register("segment_robust_profile", oracle=_ROBUST_ORACLE, tags=("stats", "agg"))
def segment_robust_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-segment robust order-value profile: exact quartiles plus
    Tukey's trimean (Q1+2·median+Q3)/4, the midhinge, and the
    coefficient of quartile variation (Q3−Q1)/(Q3+Q1) — the
    outlier-immune replacements for mean, midrange, and CV. The
    grocery dashboard row: one promo mega-order moves a segment's
    mean and CV arbitrarily but cannot move any number here.

    Determinism: every quartile is a smallest-value cross-multiplied
    integer order statistic on the per-segment value-count frame;
    trimean/midhinge end in .0/.5/.25 exactly (one /4.0 division);
    the CQV divides once.

    Scale notes: the join shuffles on custkey; value-count folds are
    map-side per segment; quartile selection runs on distinct cents.
    """
    o = _t(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    s = o.join(c, F.col("o_custkey") == F.col("c_custkey")).select(
        F.col("c_mktsegment").alias("seg"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    v = s.groupBy("seg", "cents").agg(F.count("*").cast("long").alias("c"))
    w_cum = (
        Window.partitionBy("seg")
        .orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_seg = Window.partitionBy("seg")
    cw = v.select(
        "seg",
        "cents",
        F.sum("c").over(w_cum).cast("long").alias("cum"),
        F.sum("c").over(w_seg).cast("long").alias("n"),
    )
    q = cw.groupBy("seg").agg(
        F.max("n").alias("n"),
        F.min(
            F.when(F.lit(4) * F.col("cum") >= F.col("n"), F.col("cents"))
        ).alias("q1"),
        F.min(
            F.when(F.lit(2) * F.col("cum") >= F.col("n"), F.col("cents"))
        ).alias("q2"),
        F.min(
            F.when(F.lit(4) * F.col("cum") >= F.lit(3) * F.col("n"), F.col("cents"))
        ).alias("q3"),
    )
    return q.select(
        F.col("seg").alias("segment"),
        F.col("n").alias("n_orders"),
        F.col("q1").alias("q1_cents"),
        F.col("q2").alias("median_cents"),
        F.col("q3").alias("q3_cents"),
        F.round((F.col("q1") + F.lit(2.0) * F.col("q2") + F.col("q3")) / F.lit(4.0), 1)
        .alias("trimean_cents"),
        F.round((F.col("q1") + F.col("q3")) / F.lit(2.0), 1).alias("midhinge_cents"),
        F.round(
            (F.col("q3").cast("double") - F.col("q1"))
            / (F.col("q3").cast("double") + F.col("q1")),
            6,
        ).alias("quartile_cv"),
    )


# ---------------------------------------------------------------------------
# Tail asymmetry of weekly revenue changes
# ---------------------------------------------------------------------------

_TAIL_ASYM_ORACLE = """
WITH weekly AS (
  SELECT CAST(date_trunc('week', o_orderdate) AS DATE) AS week_start,
         sum(CAST(round(o_totalprice * 100) AS BIGINT)) // 100 AS dollars
  FROM orders GROUP BY week_start
),
chg AS (
  SELECT dollars - lag(dollars) OVER (ORDER BY week_start) AS d
  FROM weekly QUALIFY d IS NOT NULL
),
v AS (SELECT d, CAST(count(*) AS BIGINT) AS c FROM chg GROUP BY d),
cw AS (
  SELECT d, c,
         CAST(sum(c) OVER (ORDER BY d
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
         CAST(sum(c) OVER () AS BIGINT) AS n
  FROM v
),
cuts AS (
  SELECT max(CASE WHEN 20 * cum <= n THEN d END) AS lo,
         min(CASE WHEN 20 * (n - cum) < n THEN d END) AS hi
  FROM cw
),
tails AS (
  SELECT CAST(sum(CASE WHEN chg.d <= cuts.lo THEN 1 ELSE 0 END) AS BIGINT) AS n_lo,
         CAST(sum(CASE WHEN chg.d <= cuts.lo THEN chg.d ELSE 0 END) AS BIGINT) AS s_lo,
         CAST(sum(CASE WHEN chg.d >= cuts.hi THEN 1 ELSE 0 END) AS BIGINT) AS n_hi,
         CAST(sum(CASE WHEN chg.d >= cuts.hi THEN chg.d ELSE 0 END) AS BIGINT) AS s_hi,
         CAST(count(*) AS BIGINT) AS n
  FROM chg CROSS JOIN cuts
)
SELECT n AS n_changes, n_lo AS n_left_tail, n_hi AS n_right_tail,
       round(CAST(-s_lo AS DOUBLE) / n_lo, 1) AS es_left_dollars,
       round(CAST(s_hi AS DOUBLE) / n_hi, 1) AS es_right_dollars,
       round((CAST(s_hi AS DOUBLE) / n_hi) / (CAST(-s_lo AS DOUBLE) / n_lo), 6)
         AS tail_asymmetry
FROM tails
"""


@register("weekly_change_tail_asymmetry", oracle=_TAIL_ASYM_ORACLE, tags=("stats",))
def weekly_change_tail_asymmetry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tail asymmetry of week-over-week revenue changes: the expected
    shortfall of the RIGHT tail (mean of changes at/above the 95th
    percentile) over that of the LEFT (|mean| at/below the 5th) —
    > 1 means surges outsize crashes, < 1 the reverse. Moment
    skewness answers with one cube that any single week can hijack;
    this is the two-sided, trimmed-to-the-tails version
    (order_value_var_es does the left tail of the LEVEL distribution;
    this compares both tails of the CHANGES).

    Determinism: tail cutoffs are cross-multiplied integer order
    statistics (largest d with 20·cum ≤ n; smallest d with
    20·(n−cum) < n — each tail holds ≥ ⌈n/20⌉ members by
    construction); tail sums/counts are exact integers; two divisions
    and one ratio at the boundary.

    Scale notes: weekly fold map-side; value-count cutoff selection
    and the broadcast-scalar tail fold run on the calendar-bounded
    change frame.
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
    chg = (
        weekly.select((F.col("dollars") - F.lag("dollars").over(w)).alias("d"))
        .filter(F.col("d").isNotNull())
    )
    v = chg.groupBy("d").agg(F.count("*").cast("long").alias("c"))
    w_cum = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    w_all = Window.partitionBy()
    cw = v.select(
        "d",
        F.sum("c").over(w_cum).cast("long").alias("cum"),
        F.sum("c").over(w_all).cast("long").alias("n"),
    )
    cuts = cw.agg(
        F.max(F.when(F.lit(20) * F.col("cum") <= F.col("n"), F.col("d"))).alias("lo"),
        F.min(
            F.when(F.lit(20) * (F.col("n") - F.col("cum")) < F.col("n"), F.col("d"))
        ).alias("hi"),
    )
    t = chg.crossJoin(cuts).agg(
        F.sum(F.when(F.col("d") <= F.col("lo"), 1).otherwise(0)).cast("long").alias("n_lo"),
        F.sum(F.when(F.col("d") <= F.col("lo"), F.col("d")).otherwise(0))
        .cast("long")
        .alias("s_lo"),
        F.sum(F.when(F.col("d") >= F.col("hi"), 1).otherwise(0)).cast("long").alias("n_hi"),
        F.sum(F.when(F.col("d") >= F.col("hi"), F.col("d")).otherwise(0))
        .cast("long")
        .alias("s_hi"),
        F.count("*").cast("long").alias("n"),
    )
    es_l = (-F.col("s_lo")).cast("double") / F.col("n_lo")
    es_r = F.col("s_hi").cast("double") / F.col("n_hi")
    return t.select(
        F.col("n").alias("n_changes"),
        F.col("n_lo").alias("n_left_tail"),
        F.col("n_hi").alias("n_right_tail"),
        F.round(es_l, 1).alias("es_left_dollars"),
        F.round(es_r, 1).alias("es_right_dollars"),
        F.round(es_r / es_l, 6).alias("tail_asymmetry"),
    )


# ---------------------------------------------------------------------------
# Chow structural-break test on the weekly revenue trend
# ---------------------------------------------------------------------------

_CHOW_ORACLE = """
WITH weekly AS (
  SELECT CAST(date_trunc('week', o_orderdate) AS DATE) AS week_start,
         sum(CAST(round(o_totalprice * 100) AS BIGINT)) // 100 AS dollars
  FROM orders GROUP BY week_start
),
idx AS (
  SELECT dollars AS y,
         CAST(row_number() OVER (ORDER BY week_start) AS BIGINT) AS t,
         CAST(count(*) OVER () AS BIGINT) AS n
  FROM weekly
),
halves AS (
  SELECT CASE WHEN 2 * t <= n THEN 0 ELSE 1 END AS half,
         CAST(count(*) AS BIGINT) AS k,
         CAST(sum(t) AS DECIMAL(38,0)) AS st,
         CAST(sum(CAST(t AS HUGEINT) * t) AS DECIMAL(38,0)) AS stt,
         CAST(sum(y) AS DECIMAL(38,0)) AS sy,
         CAST(sum(CAST(y AS HUGEINT) * y) AS DECIMAL(38,0)) AS syy,
         CAST(sum(CAST(t AS HUGEINT) * y) AS DECIMAL(38,0)) AS sty
  FROM idx GROUP BY half
),
ssr AS (
  SELECT half, k,
         (CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / k)
         - (CAST(sty AS DOUBLE) - CAST(st AS DOUBLE) * CAST(sy AS DOUBLE) / k)
           * (CAST(sty AS DOUBLE) - CAST(st AS DOUBLE) * CAST(sy AS DOUBLE) / k)
           / (CAST(stt AS DOUBLE) - CAST(st AS DOUBLE) * CAST(st AS DOUBLE) / k)
           AS ssr_h,
         st, stt, sy, syy, sty
  FROM halves
),
full_ AS (
  SELECT CAST(sum(k) AS BIGINT) AS n,
         CAST(sum(st) AS DECIMAL(38,0)) AS st,
         CAST(sum(stt) AS DECIMAL(38,0)) AS stt,
         CAST(sum(sy) AS DECIMAL(38,0)) AS sy,
         CAST(sum(syy) AS DECIMAL(38,0)) AS syy,
         CAST(sum(sty) AS DECIMAL(38,0)) AS sty,
         sum(ssr_h) AS ssr_split
  FROM ssr
),
stat AS (
  SELECT n, ssr_split,
         (CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / n)
         - (CAST(sty AS DOUBLE) - CAST(st AS DOUBLE) * CAST(sy AS DOUBLE) / n)
           * (CAST(sty AS DOUBLE) - CAST(st AS DOUBLE) * CAST(sy AS DOUBLE) / n)
           / (CAST(stt AS DOUBLE) - CAST(st AS DOUBLE) * CAST(st AS DOUBLE) / n)
           AS ssr_full
  FROM full_
)
SELECT n AS n_weeks,
       round(ssr_full, 2) AS ssr_full,
       round(ssr_split, 2) AS ssr_split,
       round(((ssr_full - ssr_split) / 2.0)
             / (ssr_split / (n - 4.0)), 6) AS chow_f
FROM stat
"""


@register("weekly_trend_chow_test", oracle=_CHOW_ORACLE, tags=("stats", "timeseries"))
def weekly_trend_chow_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chow test for a structural break in the weekly revenue trend at
    the sample midpoint: fit y = a + b·t by OLS on the full series and
    on each half, and F-test the SSR reduction — F = ((SSR_full −
    SSR₁ − SSR₂)/2)/((SSR₁+SSR₂)/(n−4)), F₂,ₙ₋₄ under no break. The
    REGRESSION structural-break test: Pettitt and the binary-segment
    changepoint ask whether the LEVEL jumped; Chow asks whether the
    fitted LINE (level or slope) changed — a pure slope kink that
    level tests miss entirely shows up here.

    Determinism: all five sufficient statistics per half are exact
    integers (HUGEINT products → DECIMAL(38,0)); each SSR is the
    closed form Syy − Sxy²/Sxx on centered moments, written as one
    identical double tree; the F statistic rounds once.

    Scale notes: the weekly fold is map-side; the halves fold is a
    2-group aggregate; no window larger than the calendar frame.
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
    w_ord = Window.orderBy("week_start")
    w_all = Window.partitionBy()
    idx = weekly.select(
        F.col("dollars").alias("y"),
        F.row_number().over(w_ord).cast("long").alias("t"),
        F.count("*").over(w_all).cast("long").alias("n"),
    )
    halves = idx.groupBy(
        F.when(F.lit(2) * F.col("t") <= F.col("n"), 0).otherwise(1).alias("half")
    ).agg(
        F.count("*").cast("long").alias("k"),
        F.sum("t").cast(_DEC).alias("st"),
        F.sum(F.col("t").cast(_DEC) * F.col("t").cast(_DEC)).cast(_DEC).alias("stt"),
        F.sum("y").cast(_DEC).alias("sy"),
        F.sum(F.col("y").cast(_DEC) * F.col("y").cast(_DEC)).cast(_DEC).alias("syy"),
        F.sum(F.col("t").cast(_DEC) * F.col("y").cast(_DEC)).cast(_DEC).alias("sty"),
    )

    def _ssr(k):
        syy_c = F.col("syy").cast("double") - F.col("sy").cast("double") * F.col(
            "sy"
        ).cast("double") / k
        sty_c = F.col("sty").cast("double") - F.col("st").cast("double") * F.col(
            "sy"
        ).cast("double") / k
        stt_c = F.col("stt").cast("double") - F.col("st").cast("double") * F.col(
            "st"
        ).cast("double") / k
        return syy_c - sty_c * sty_c / stt_c

    ssr = halves.select("k", "st", "stt", "sy", "syy", "sty", _ssr(F.col("k")).alias("ssr_h"))
    full_ = ssr.agg(
        F.sum("k").cast("long").alias("n"),
        F.sum("st").cast(_DEC).alias("st"),
        F.sum("stt").cast(_DEC).alias("stt"),
        F.sum("sy").cast(_DEC).alias("sy"),
        F.sum("syy").cast(_DEC).alias("syy"),
        F.sum("sty").cast(_DEC).alias("sty"),
        F.sum("ssr_h").alias("ssr_split"),
    )
    stat = full_.select("n", "ssr_split", _ssr(F.col("n")).alias("ssr_full"))
    return stat.select(
        F.col("n").alias("n_weeks"),
        F.round("ssr_full", 2).alias("ssr_full"),
        F.round("ssr_split", 2).alias("ssr_split"),
        F.round(
            ((F.col("ssr_full") - F.col("ssr_split")) / F.lit(2.0))
            / (F.col("ssr_split") / (F.col("n") - F.lit(4.0))),
            6,
        ).alias("chow_f"),
    )
