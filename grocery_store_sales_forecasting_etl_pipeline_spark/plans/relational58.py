"""Round-6 additions, batch 58: shape-constrained and effect-size
analytics — isotonic regression of weekly revenue (the monotone
least-squares fit, computed exactly via the minimax formula in pure
relational algebra — no PAVA loop), the two-sample effect-size family
(Cohen's d for magnitude-in-SD-units, Cliff's delta for the
distribution-free ordinal effect), a periodogram of weekly revenue
(which cycle length dominates — the frequency-domain twin of the ACF),
and a calendar-gap audit (which expected business days are simply
missing — the absence-detection no per-row audit can see).

Determinism discipline: isotonic fits are minimax over prefix-sum
rationals of exact cents (identical double trees, compared not
accumulated); Cliff's delta comes from value-domain cumulative counts
(pure integers until one division); periodogram trig sums use libm
cos/sin on exact integer arguments (the documented ln-exception
policy) with 4dp rounding; the calendar spine is generate_series /
sequence on DATE — no timestamp arithmetic to drift across TZ.
"""

from __future__ import annotations

import math

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from grocery_store_sales_forecasting_etl_pipeline_spark.plans._tables import table as _t
from grocery_store_sales_forecasting_etl_pipeline_spark.plans.registry import register

# ---------------------------------------------------------------------------
# Isotonic regression of weekly revenue (minimax closed form)
# ---------------------------------------------------------------------------

_ISOTONIC_ORACLE = """
WITH weekly AS (
  SELECT CAST(date_trunc('week', o_orderdate) AS DATE) AS week_start,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM orders GROUP BY 1
),
idx AS (
  SELECT week_start, cents,
         CAST(row_number() OVER (ORDER BY week_start) AS BIGINT) AS i,
         CAST(sum(cents) OVER (ORDER BY week_start
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS HUGEINT) AS ps
  FROM weekly
),
-- mean of y[j..k] = (ps[k] - ps[j-1]) / (k - j + 1); minimax:
-- fit_i = max_{j<=i} min_{k>=i} mean(j..k). O(n^2), not O(n^3):
-- sm(j,i) = min_{k>=i} mean(j..k) is a suffix-min over k within each
-- j, and fit_i = max over the (j, k=i) cells of that same frame.
pairs AS (
  SELECT j.i AS j, k.i AS k,
         (CAST(k.ps AS DOUBLE) - coalesce(jm.ps, 0)) / (k.i - j.i + 1)
           AS mean_jk
  FROM idx j
  JOIN idx k ON k.i >= j.i
  LEFT JOIN idx jm ON jm.i = j.i - 1
),
sm AS (
  SELECT j, k,
         min(mean_jk) OVER (PARTITION BY j ORDER BY k DESC
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS suff_min
  FROM pairs
),
fit AS (
  SELECT k AS i, max(suff_min) AS fit FROM sm GROUP BY k
)
SELECT w.week_start, w.cents AS revenue_cents,
       round(f.fit, 4) AS isotonic_fit_cents
FROM fit f JOIN idx w ON w.i = f.i
"""


@register("weekly_isotonic_trend", oracle=_ISOTONIC_ORACLE, tags=("timeseries", "stats"))
def weekly_isotonic_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic (monotone non-decreasing) least-squares fit of weekly
    revenue, computed EXACTLY by the minimax identity
    fit_i = max_{j<=i} min_{k>=i} mean(y[j..k]) instead of the
    sequential pool-adjacent-violators loop — the identity makes a
    shape-constrained regression a pure relational expression. The fit
    answers "if revenue is fundamentally growing, what is the best
    monotone summary?" — and its residuals flag the weeks that violate
    the growth story.

    Numerics: segment means are rationals of HUGEINT/DECIMAL prefix
    sums of exact cents; both engines form the same doubles and only
    COMPARE them (min/max never accumulates), so the fit is
    engine-identical before its single 4dp rounding.

    Scale notes: the fact folds to the calendar-bounded weekly frame
    first; the minimax is evaluated in O(n²) — the (j,k) segment-mean
    triangle with a per-j suffix-min window, then a per-k max — never
    the naive O(n³) triple join (measured 25x slower at ~350 weeks).
    The frame is calendar-bounded, so at 100 TB only the first fold
    grows. The classic PAVA loop would be a driver-side sequential
    dependency; the minimax form is not.
    """
    o = _t(spark, sf_dir, "orders")
    weekly = o.groupBy(
        F.date_trunc("week", "o_orderdate").cast("date").alias("week_start")
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("cents")
    )
    d38 = "decimal(38,0)"
    w_cum = Window.orderBy("week_start").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    idx = weekly.select(
        "week_start",
        "cents",
        F.row_number().over(Window.orderBy("week_start")).cast("long").alias("i"),
        F.sum(F.col("cents").cast(d38)).over(w_cum).alias("ps"),
    )
    j_f = idx.select(F.col("i").alias("j"))
    k_f = idx.select(F.col("i").alias("k"), F.col("ps").alias("ps_k"))
    jm = idx.select((F.col("i") + 1).alias("j"), F.col("ps").alias("ps_jm1"))
    pairs = (
        j_f.join(k_f, F.col("k") >= F.col("j"))
        .join(jm, "j", "left")
        .select(
            "j",
            "k",
            (
                (
                    F.col("ps_k").cast("double")
                    - F.coalesce(F.col("ps_jm1").cast("double"), F.lit(0.0))
                )
                / (F.col("k") - F.col("j") + 1)
            ).alias("mean_jk"),
        )
    )
    w_suff = (
        Window.partitionBy("j")
        .orderBy(F.desc("k"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    sm = pairs.select(
        "j", "k", F.min("mean_jk").over(w_suff).alias("suff_min")
    )
    fit = sm.groupBy(F.col("k").alias("i")).agg(F.max("suff_min").alias("fit"))
    w_out = idx.select("i", "week_start", F.col("cents").alias("revenue_cents"))
    return fit.join(w_out, "i").select(
        "week_start",
        "revenue_cents",
        F.round(F.col("fit"), 4).alias("isotonic_fit_cents"),
    )


# ---------------------------------------------------------------------------
# Two-sample effect sizes (Cohen's d + Cliff's delta)
# ---------------------------------------------------------------------------

_EFFECT_ORACLE = """
WITH x AS (
  SELECT l_returnflag AS g,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
  FROM lineitem WHERE l_returnflag IN ('R', 'N')
),
st AS (
  SELECT g, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(cents AS HUGEINT)) AS HUGEINT) AS s,
         CAST(sum(CAST(cents AS HUGEINT) * cents) AS HUGEINT) AS q
  FROM x GROUP BY g
),
piv AS (
  SELECT max(CASE WHEN g = 'R' THEN n END) AS n1,
         max(CASE WHEN g = 'R' THEN CAST(s AS DOUBLE) END) AS s1,
         max(CASE WHEN g = 'R' THEN CAST(q AS DOUBLE) END) AS q1,
         max(CASE WHEN g = 'N' THEN n END) AS n2,
         max(CASE WHEN g = 'N' THEN CAST(s AS DOUBLE) END) AS s2,
         max(CASE WHEN g = 'N' THEN CAST(q AS DOUBLE) END) AS q2
  FROM st
),
vc AS (
  SELECT cents,
         CAST(sum(CASE WHEN g = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS c1,
         CAST(sum(CASE WHEN g = 'N' THEN 1 ELSE 0 END) AS BIGINT) AS c0
  FROM x GROUP BY cents
),
cum AS (
  SELECT c1, c0,
         CAST(coalesce(sum(c0) OVER (ORDER BY cents
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS cum0_below,
         CAST(sum(c0) OVER () AS BIGINT) AS n0_all
  FROM vc
),
cliff AS (
  SELECT sum(CAST(c1 AS HUGEINT) * cum0_below) AS gt,
         sum(CAST(c1 AS HUGEINT) * (n0_all - cum0_below - c0)) AS lt
  FROM cum
)
SELECT piv.n1, piv.n2,
       round((piv.s1 / piv.n1 - piv.s2 / piv.n2)
             / sqrt((((piv.q1 - piv.s1 * piv.s1 / piv.n1))
                     + ((piv.q2 - piv.s2 * piv.s2 / piv.n2)))
                    / (piv.n1 + piv.n2 - 2)) , 6) AS cohens_d,
       round((CAST(cliff.gt AS DOUBLE) - CAST(cliff.lt AS DOUBLE))
             / (CAST(piv.n1 AS DOUBLE) * piv.n2), 6) AS cliffs_delta
FROM piv CROSS JOIN cliff
"""


@register("price_effect_sizes", oracle=_EFFECT_ORACLE, tags=("stats",))
def price_effect_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Effect sizes for the returned-vs-kept price comparison: Cohen's
    d (mean gap in pooled-SD units — the magnitude the t-test's
    p-value hides) and Cliff's delta (P(X>Y) - P(X<Y) — the ordinal,
    outlier-proof effect). Reporting both is the stats-reform
    standard: welch_price_ttest says whether the gap is real, this
    query says whether it is big enough to matter.

    Numerics: d uses the pooled-variance closed form over
    HUGEINT/DECIMAL sufficient statistics; delta counts greater/less
    pairs EXACTLY via the value-domain cumulative frame (the AUC
    grouping trick — ties contribute to neither side), staying integer
    until one division.

    Scale notes: two folds — group sufficient stats and the
    (value)-keyed count frame (price-domain bounded) — plus a
    cumulative window over the value frame; no fact-grain self-join
    for the O(n²) pair counts.
    """
    li = _t(spark, sf_dir, "lineitem")
    x = li.filter(F.col("l_returnflag").isin("R", "N")).select(
        F.col("l_returnflag").alias("g"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents"),
    )
    d38 = "decimal(38,0)"
    st = x.groupBy("g").agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.col("cents").cast(d38)).alias("s"),
        F.sum(F.col("cents").cast(d38) * F.col("cents")).alias("q"),
    )
    piv = st.agg(
        F.max(F.when(F.col("g") == "R", F.col("n"))).alias("n1"),
        F.max(F.when(F.col("g") == "R", F.col("s").cast("double"))).alias("s1"),
        F.max(F.when(F.col("g") == "R", F.col("q").cast("double"))).alias("q1"),
        F.max(F.when(F.col("g") == "N", F.col("n"))).alias("n2"),
        F.max(F.when(F.col("g") == "N", F.col("s").cast("double"))).alias("s2"),
        F.max(F.when(F.col("g") == "N", F.col("q").cast("double"))).alias("q2"),
    )
    vc = x.groupBy("cents").agg(
        F.sum(F.when(F.col("g") == "R", 1).otherwise(0)).cast("long").alias("c1"),
        F.sum(F.when(F.col("g") == "N", 1).otherwise(0)).cast("long").alias("c0"),
    )
    w = Window.orderBy("cents").rowsBetween(Window.unboundedPreceding, -1)
    cum = vc.select(
        "c1",
        "c0",
        F.coalesce(F.sum("c0").over(w), F.lit(0).cast("long")).alias("cum0_below"),
        F.sum("c0").over(Window.partitionBy()).cast("long").alias("n0_all"),
    )
    cliff = cum.agg(
        F.sum(F.col("c1").cast(d38) * F.col("cum0_below")).alias("gt"),
        F.sum(
            F.col("c1").cast(d38)
            * (F.col("n0_all") - F.col("cum0_below") - F.col("c0"))
        ).alias("lt"),
    )
    d = (
        F.col("s1") / F.col("n1") - F.col("s2") / F.col("n2")
    ) / F.sqrt(
        (
            (F.col("q1") - F.col("s1") * F.col("s1") / F.col("n1"))
            + (F.col("q2") - F.col("s2") * F.col("s2") / F.col("n2"))
        )
        / (F.col("n1") + F.col("n2") - 2)
    )
    return piv.crossJoin(cliff).select(
        "n1",
        "n2",
        F.round(d, 6).alias("cohens_d"),
        F.round(
            (F.col("gt").cast("double") - F.col("lt").cast("double"))
            / (F.col("n1").cast("double") * F.col("n2")),
            6,
        ).alias("cliffs_delta"),
    )


# ---------------------------------------------------------------------------
# Weekly revenue periodogram
# ---------------------------------------------------------------------------

_PERIODOGRAM_ORACLE = """
WITH weekly AS (
  SELECT CAST(date_trunc('week', o_orderdate) AS DATE) AS week_start,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM orders GROUP BY 1
),
idx AS (
  SELECT cents,
         CAST(row_number() OVER (ORDER BY week_start) AS BIGINT) - 1 AS t,
         CAST(count(*) OVER () AS BIGINT) AS n,
         CAST(sum(cents) OVER () AS HUGEINT) AS s_all
  FROM weekly
),
ks AS (SELECT unnest(range(1, 9)) AS k),
terms AS (
  SELECT ks.k, idx.n,
         (CAST(idx.cents AS DOUBLE) - CAST(idx.s_all AS DOUBLE) / idx.n)
           * cos(2 * pi() * ks.k * idx.t / idx.n) AS ct,
         (CAST(idx.cents AS DOUBLE) - CAST(idx.s_all AS DOUBLE) / idx.n)
           * sin(2 * pi() * ks.k * idx.t / idx.n) AS st
  FROM idx CROSS JOIN ks
),
power AS (
  SELECT k, any_value(n) AS n,
         sum(ct) AS c, sum(st) AS s
  FROM terms GROUP BY k
),
rel AS (
  SELECT k, n,
         (c * c + s * s) / sum(c * c + s * s) OVER () AS share
  FROM power
)
SELECT k AS harmonic,
       round(CAST(n AS DOUBLE) / k, 2) AS period_weeks,
       round(share, 6) AS power_share,
       CAST(CASE WHEN row_number() OVER (ORDER BY round(share, 6) DESC, k) = 1
            THEN 1 ELSE 0 END AS BIGINT) AS is_dominant
FROM rel
"""


@register(
    "weekly_revenue_periodogram", oracle=_PERIODOGRAM_ORACLE, tags=("timeseries",)
)
def weekly_revenue_periodogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Periodogram of mean-centered weekly revenue at harmonics 1-8:
    RELATIVE spectral power |Σ y·e^{-2πikt/n}|² as a share of the
    8-harmonic total, dominant harmonic flagged — the frequency-domain
    twin of weekly_revenue_acf (the ACF says "correlated at lag 4";
    this says "a ~13-week cycle carries X% of the low-frequency
    power"). Input to choosing the seasonal period for Holt-Winters
    instead of assuming it.

    Numerics: the centered series and trig arguments derive from exact
    integers; cos/sin are the documented libm exception. ABSOLUTE
    power is cents²-scaled (~1e16) where the cross-engine trig-sum
    order noise (~1e-16 relative) is ABSOLUTE units — unroundable —
    so the contract emits the scale-free power SHARE, where the same
    noise is 1e-16 relative against 6dp rounding (measured: raw
    powers differed by 8 in 5.4e16 before the normalization). The
    dominant flag compares the rounded shares (tie → lower harmonic).

    Scale notes: one fact fold to the weekly frame; the 8-harmonic
    fan-out is a map-only cross with a literal range; everything
    downstream is an 8-row frame.
    """
    o = _t(spark, sf_dir, "orders")
    weekly = o.groupBy(
        F.date_trunc("week", "o_orderdate").cast("date").alias("week_start")
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("cents")
    )
    d38 = "decimal(38,0)"
    idx = weekly.select(
        "cents",
        (F.row_number().over(Window.orderBy("week_start")) - 1)
        .cast("long")
        .alias("t"),
        F.count("*").over(Window.partitionBy()).cast("long").alias("n"),
        F.sum(F.col("cents").cast(d38)).over(Window.partitionBy()).alias("s_all"),
    )
    ks = [F.lit(k) for k in range(1, 9)]
    terms = idx.select(
        F.explode(F.array(*[k.cast("long") for k in ks])).alias("k"),
        "cents",
        "t",
        "n",
        "s_all",
    ).select(
        "k",
        "n",
        (
            (F.col("cents").cast("double") - F.col("s_all").cast("double") / F.col("n"))
            * F.cos(2 * F.lit(math.pi) * F.col("k") * F.col("t") / F.col("n"))
        ).alias("ct"),
        (
            (F.col("cents").cast("double") - F.col("s_all").cast("double") / F.col("n"))
            * F.sin(2 * F.lit(math.pi) * F.col("k") * F.col("t") / F.col("n"))
        ).alias("st"),
    )
    power = terms.groupBy("k").agg(
        F.first("n").alias("n"),
        F.sum("ct").alias("c"),
        F.sum("st").alias("s"),
    )
    raw = F.col("c") * F.col("c") + F.col("s") * F.col("s")
    rel = power.select(
        "k",
        "n",
        (raw / F.sum(raw).over(Window.partitionBy())).alias("share"),
    )
    scored = rel.select(
        F.col("k").alias("harmonic"),
        F.round(F.col("n").cast("double") / F.col("k"), 2).alias("period_weeks"),
        F.round(F.col("share"), 6).alias("power_share"),
    )
    w_best = Window.orderBy(F.desc("power_share"), F.asc("harmonic"))
    return scored.select(
        "harmonic",
        "period_weeks",
        "power_share",
        F.when(F.row_number().over(w_best) == 1, 1)
        .otherwise(0)
        .cast("long")
        .alias("is_dominant"),
    )


# ---------------------------------------------------------------------------
# Calendar gap audit
# ---------------------------------------------------------------------------

_CALENDAR_GAP_ORACLE = """
WITH days AS (
  SELECT DISTINCT CAST(l_shipdate AS DATE) AS d FROM lineitem
),
bounds AS (
  SELECT min(d) AS lo, max(d) AS hi FROM days
),
spine AS (
  SELECT CAST(unnest(generate_series(bounds.lo, bounds.hi,
                                     INTERVAL 1 DAY)) AS DATE) AS d
  FROM bounds
),
missing AS (
  SELECT s.d FROM spine s LEFT JOIN days x ON s.d = x.d
  WHERE x.d IS NULL
),
per_month AS (
  SELECT CAST(year(d) * 100 + month(d) AS BIGINT) AS ym,
         CAST(count(*) AS BIGINT) AS missing_days,
         CAST(min(d) AS DATE) AS first_missing,
         CAST(max(d) AS DATE) AS last_missing
  FROM missing GROUP BY 1
)
SELECT * FROM per_month
"""


@register("calendar_gap_audit", oracle=_CALENDAR_GAP_ORACLE, tags=("profiling", "agg"))
def calendar_gap_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar completeness audit: the full day spine from first to
    last ship-date, anti-joined against observed ship-days, grouped by
    month — the audit that detects ABSENT data (a dropped ingestion
    day, a dead upstream) which no per-row quality gate can see,
    because the defect is the rows that aren't there.

    Scale notes: the fact reduces to distinct days first (calendar-
    bounded), the spine generates from two scalars via sequence(), and
    the anti-join runs day-frame vs day-frame — thousands of rows at
    any fact scale. An empty result (no gaps) is itself the passing
    verdict.
    """
    li = _t(spark, sf_dir, "lineitem")
    days = li.select(F.col("l_shipdate").cast("date").alias("d")).distinct()
    days = days.localCheckpoint(eager=False)  # A/B sf1: 0.45 s with, 0.68 s without
    bounds = days.agg(F.min("d").alias("lo"), F.max("d").alias("hi"))
    spine = bounds.select(
        F.explode(F.sequence(F.col("lo"), F.col("hi"))).alias("d")
    )
    missing = spine.join(days, "d", "left_anti")
    return missing.groupBy(
        (F.year("d") * 100 + F.month("d")).cast("long").alias("ym")
    ).agg(
        F.count("*").cast("long").alias("missing_days"),
        F.min("d").alias("first_missing"),
        F.max("d").alias("last_missing"),
    )
