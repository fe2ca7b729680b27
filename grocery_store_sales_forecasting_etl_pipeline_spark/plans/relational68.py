"""Round-6 additions, batch 68: survival analysis, paired-flag testing,
multiple-testing control, and demand elasticity — a Kaplan-Meier
product-limit life table for time-to-repeat-purchase (with censoring at
the dataset horizon — the estimator that reads "how long until the
second order" without throwing away one-order customers), McNemar's
test on the paired return/deep-discount line flags (do the two flags
DISAGREE symmetrically — the paired complement of batch-67's kappa),
a Benjamini-Hochberg FDR sweep over per-brand return-rate z-tests
(25 brands = 25 chances for a false "this brand has a return problem";
BH controls the expected fraction of false alarms), and a per-brand
log-log price-elasticity OLS over the weekly frame (the slope
ε = d ln q / d ln p that pricing decisions actually consume).

Determinism discipline: life-table counts, contingency cells, and
per-brand (k, n) are exact integer folds; KM survival uses the
documented log-sum form exp(Σ ln(1−d/n)) over a SEQUENTIAL cumulative
window (ascending week — both engines fold in the same order; ln's
last-ulp cross-engine noise is ~1e-14, 8 orders below the rounding
grain); the normal tail probability uses the Abramowitz-Stegun 7.1.26
polynomial (|err| < 1.5e-7) written as a TEXTUALLY IDENTICAL Horner
tree in both engines so BH accept/reject decisions agree bit-for-bit;
elasticity sufficient statistics accumulate through cumulative windows
ordered by week (deterministic sequential double folds), rounded once.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, SparkSession, Window

from grocery_store_sales_forecasting_etl_pipeline_spark.plans._tables import table as _t
from grocery_store_sales_forecasting_etl_pipeline_spark.plans.registry import register

# ---------------------------------------------------------------------------
# Kaplan-Meier life table: weeks from first to second order
# ---------------------------------------------------------------------------

_KM_ORACLE = """
WITH o AS (
  SELECT o_custkey AS cust, CAST(o_orderdate AS DATE) AS d, o_orderkey AS k
  FROM orders
),
ranked AS (
  SELECT cust, d,
         row_number() OVER (PARTITION BY cust ORDER BY d, k) AS r
  FROM o
),
per AS (
  SELECT cust,
         min(CASE WHEN r = 1 THEN d END) AS d1,
         min(CASE WHEN r = 2 THEN d END) AS d2
  FROM ranked WHERE r <= 2 GROUP BY cust
),
horizon AS (SELECT max(CAST(o_orderdate AS DATE)) AS dmax FROM orders),
subj AS (
  SELECT CASE WHEN p.d2 IS NOT NULL
              THEN CAST(date_diff('day', p.d1, p.d2) // 7 AS BIGINT)
              ELSE CAST(date_diff('day', p.d1, h.dmax) // 7 AS BIGINT)
         END AS t,
         CASE WHEN p.d2 IS NOT NULL THEN 1 ELSE 0 END AS ev
  FROM per p CROSS JOIN horizon h
),
life AS (
  SELECT t, CAST(sum(ev) AS BIGINT) AS d,
         CAST(sum(1 - ev) AS BIGINT) AS c
  FROM subj GROUP BY t
),
risk AS (
  SELECT t, d, c,
         CAST(sum(d + c) OVER () AS BIGINT)
         - CAST(COALESCE(sum(d + c) OVER (ORDER BY t
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS n
  FROM life
),
km AS (
  SELECT t, n, d, c,
         max(CASE WHEN d >= n THEN 1 ELSE 0 END) OVER (ORDER BY t
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS dead,
         sum(CASE WHEN d < n THEN ln(1.0 - CAST(d AS DOUBLE) / n)
                  ELSE 0.0 END) OVER (ORDER BY t
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS logsum,
         sum(CAST(d AS DOUBLE) / n) OVER (ORDER BY t
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS hazard
  FROM risk
)
SELECT t AS week, n AS n_risk, d AS n_event, c AS n_censored,
       round(CASE WHEN dead = 1 THEN 0.0 ELSE exp(logsum) END, 6)
         AS km_survival,
       round(hazard, 6) AS na_cum_hazard
FROM km
"""


@register("repeat_purchase_kaplan_meier", oracle=_KM_ORACLE,
          tags=("stats", "timeseries"))
def repeat_purchase_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier product-limit life table for weeks-to-repeat
    -purchase: subjects are customers with ≥1 order, the event is the
    SECOND order, and one-order customers are right-censored at the
    dataset horizon (max order date) — exactly the customers a naive
    "average gap among repeaters" silently drops, biasing retention
    optimistic. Emits per week: at-risk count, events, censorings, the
    KM survival Ŝ(t) = Π(1 − d/n), and the Nelson-Aalen cumulative
    hazard Σ d/n. repeat_purchase_gap_percentiles reads the gaps of
    those who DID repeat; this reads the probability law of repeating
    at all.

    Determinism: the life table is an exact integer fold (events,
    censorings, at-risk via a cumulative integer window); Ŝ(t) is the
    documented log-sum form exp(Σ ln(1−d/n)) over a sequential
    ascending-week window — both engines fold the same ~hundreds of
    terms in the same order, and a d = n week collapses survival to an
    exact 0 via an integer flag (ln(0) is never evaluated). One
    rounding at the boundary.

    Scale notes: the per-customer first/second-order fold shuffles
    orders once on custkey (map-side partial top-2 via row_number over
    the custkey-ordered window); the life table and every window after
    it live on the calendar-bounded week grain (~hundreds of rows on
    one partition — bounded regardless of fact size). One fact scan
    plus a 1-row horizon broadcast.
    """
    o = _t(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("cust"),
        F.col("o_orderdate").cast("date").alias("d"),
        F.col("o_orderkey").alias("k"),
    )
    ranked = o.select(
        "cust",
        "d",
        F.row_number().over(Window.partitionBy("cust").orderBy("d", "k")).alias("r"),
    ).filter(F.col("r") <= 2)
    per = ranked.groupBy("cust").agg(
        F.min(F.when(F.col("r") == 1, F.col("d"))).alias("d1"),
        F.min(F.when(F.col("r") == 2, F.col("d"))).alias("d2"),
    )
    horizon = o.agg(F.max("d").alias("dmax"))
    subj = per.crossJoin(horizon).select(
        F.when(
            F.col("d2").isNotNull(),
            F.expr("CAST(datediff(d2, d1) DIV 7 AS BIGINT)"),
        )
        .otherwise(F.expr("CAST(datediff(dmax, d1) DIV 7 AS BIGINT)"))
        .alias("t"),
        F.when(F.col("d2").isNotNull(), 1).otherwise(0).alias("ev"),
    )
    life = subj.groupBy("t").agg(
        F.sum("ev").cast("long").alias("d"),
        F.sum(F.lit(1) - F.col("ev")).cast("long").alias("c"),
    )
    w_prev = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    risk = life.select(
        "t",
        "d",
        "c",
        (
            F.sum(F.col("d") + F.col("c")).over(Window.partitionBy()).cast("long")
            - F.coalesce(
                F.sum(F.col("d") + F.col("c")).over(w_prev), F.lit(0)
            ).cast("long")
        ).alias("n"),
    )
    w_cum = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    d_over_n = F.col("d").cast("double") / F.col("n")
    km = risk.select(
        "t",
        "n",
        "d",
        "c",
        F.max(F.when(F.col("d") >= F.col("n"), 1).otherwise(0)).over(w_cum).alias("dead"),
        F.sum(
            F.when(F.col("d") < F.col("n"), F.log(F.lit(1.0) - d_over_n)).otherwise(0.0)
        )
        .over(w_cum)
        .alias("logsum"),
        F.sum(d_over_n).over(w_cum).alias("hazard"),
    )
    return km.select(
        F.col("t").alias("week"),
        F.col("n").alias("n_risk"),
        F.col("d").alias("n_event"),
        F.col("c").alias("n_censored"),
        F.round(
            F.when(F.col("dead") == 1, F.lit(0.0)).otherwise(F.exp(F.col("logsum"))), 6
        ).alias("km_survival"),
        F.round(F.col("hazard"), 6).alias("na_cum_hazard"),
    )


# ---------------------------------------------------------------------------
# McNemar's paired test on the return / deep-discount flags
# ---------------------------------------------------------------------------

_MCNEMAR_ORACLE = """
WITH f AS (
  SELECT CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS r,
         CASE WHEN CAST(round(l_discount * 100) AS BIGINT) >= 5
              THEN 1 ELSE 0 END AS deep
  FROM lineitem
),
s AS (
  SELECT CAST(sum(CASE WHEN r = 1 AND deep = 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n10,
         CAST(sum(CASE WHEN r = 0 AND deep = 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n01
  FROM f
)
SELECT n10, n01, n10 + n01 AS n_discordant,
       round(CAST(CAST(n10 - n01 AS HUGEINT) * (n10 - n01) AS DOUBLE)
             / (n10 + n01), 6) AS mcnemar_chi2,
       round(CAST(CAST(abs(n10 - n01) - 1 AS HUGEINT)
                  * (abs(n10 - n01) - 1) AS DOUBLE)
             / (n10 + n01), 6) AS mcnemar_chi2_cc,
       CASE WHEN CAST(CAST(abs(n10 - n01) - 1 AS HUGEINT)
                      * (abs(n10 - n01) - 1) AS DOUBLE)
                 / (n10 + n01) > 3.841459 THEN 1 ELSE 0 END AS significant_05
FROM s
"""


@register("return_discount_mcnemar", oracle=_MCNEMAR_ORACLE,
          tags=("stats", "audit"))
def return_discount_mcnemar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNemar's test on the paired (returned, deeply-discounted) line
    flags: χ² = (n10 − n01)²/(n10 + n01) over the DISCORDANT cells
    only, plus the Edwards continuity-corrected variant and a fixed
    -critical-value decision at α = 0.05 (χ²₁ = 3.841459). Kappa
    (batch 67) measures agreement strength; McNemar asks whether the
    two flags' marginal rates differ — n10 ≫ n01 means "returned but
    not discounted" dominates "discounted but not returned", i.e. the
    discount flag under-covers the return flag, not just noisily.

    Determinism: the discordant cells are one exact integer fold;
    squared differences accumulate in DECIMAL(38,0)/HUGEINT before the
    single double division; the decision compares that double to a
    fixed literal identically on both sides.

    Scale notes: one fact scan, one map-side-combinable 1-row fold.
    """
    li = _t(spark, sf_dir, "lineitem")
    dec = "decimal(38,0)"
    f = li.select(
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("r"),
        F.when(F.round(F.col("l_discount") * 100).cast("long") >= 5, 1)
        .otherwise(0)
        .alias("deep"),
    )
    s = f.agg(
        F.sum(F.when((F.col("r") == 1) & (F.col("deep") == 0), 1).otherwise(0))
        .cast("long")
        .alias("n10"),
        F.sum(F.when((F.col("r") == 0) & (F.col("deep") == 1), 1).otherwise(0))
        .cast("long")
        .alias("n01"),
    )
    diff = F.col("n10") - F.col("n01")
    chi2 = (diff.cast(dec) * diff).cast("double") / (F.col("n10") + F.col("n01"))
    cc_base = F.abs(diff) - 1
    chi2_cc = (cc_base.cast(dec) * cc_base).cast("double") / (
        F.col("n10") + F.col("n01")
    )
    return s.select(
        "n10",
        "n01",
        (F.col("n10") + F.col("n01")).alias("n_discordant"),
        F.round(chi2, 6).alias("mcnemar_chi2"),
        F.round(chi2_cc, 6).alias("mcnemar_chi2_cc"),
        F.when(chi2_cc > 3.841459, 1).otherwise(0).alias("significant_05"),
    )


# ---------------------------------------------------------------------------
# Benjamini-Hochberg FDR over per-brand return-rate z-tests
# ---------------------------------------------------------------------------

# Abramowitz & Stegun 7.1.26 erfc polynomial, |err| < 1.5e-7 — written as
# one Horner tree used TEXTUALLY IDENTICALLY in both engines so the BH
# accept/reject comparisons see bit-identical p-values.
_ERFC_SQL = (
    "(1.0 / (1.0 + 0.3275911 * ({x}))) * (0.254829592 + (1.0 / (1.0 + 0.3275911 * ({x}))) * "
    "(-0.284496736 + (1.0 / (1.0 + 0.3275911 * ({x}))) * (1.421413741 + "
    "(1.0 / (1.0 + 0.3275911 * ({x}))) * (-1.453152027 + (1.0 / (1.0 + 0.3275911 * ({x}))) "
    "* 1.061405429)))) * exp(-({x}) * ({x}))"
)


def _erfc(x: Column) -> Column:
    """A&S 7.1.26 erfc(x) for x ≥ 0 — the same Horner tree as _ERFC_SQL."""
    t = F.lit(1.0) / (F.lit(1.0) + F.lit(0.3275911) * x)
    poly = t * (
        F.lit(0.254829592)
        + t
        * (
            F.lit(-0.284496736)
            + t * (F.lit(1.421413741) + t * (F.lit(-1.453152027) + t * F.lit(1.061405429)))
        )
    )
    return poly * F.exp(-x * x)


_FDR_ALPHA = 0.05

_FDR_ORACLE = f"""
WITH b AS (
  SELECT p.p_brand AS brand, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT)
           AS k
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
  GROUP BY p.p_brand
),
pool AS (
  SELECT brand, n, k,
         CAST(sum(n) OVER () AS BIGINT) AS nn,
         CAST(sum(k) OVER () AS BIGINT) AS kk,
         CAST(count(*) OVER () AS BIGINT) AS m
  FROM b
),
z AS (
  SELECT brand, n, k, m,
         (CAST(k AS DOUBLE) / n - CAST(kk AS DOUBLE) / nn)
         / sqrt((CAST(kk AS DOUBLE) / nn) * (1.0 - CAST(kk AS DOUBLE) / nn) / n)
           AS zs
  FROM pool
),
pv AS (
  SELECT brand, n, k, m, zs,
         {_ERFC_SQL.format(x="abs(zs) / sqrt(2.0)")} AS p
  FROM z
),
rk AS (
  SELECT brand, n, k, m, zs, p,
         CAST(row_number() OVER (ORDER BY p, brand) AS BIGINT) AS rnk
  FROM pv
),
dec AS (
  SELECT brand, n, k, zs, p, rnk, {_FDR_ALPHA} * rnk / m AS crit,
         max(CASE WHEN p <= {_FDR_ALPHA} * rnk / m THEN rnk ELSE 0 END)
           OVER () AS kmax
  FROM rk
)
SELECT brand, n AS n_lines, k AS n_returns,
       round(CAST(k AS DOUBLE) / n, 6) AS return_rate,
       round(zs, 4) AS z_score,
       round(p, 8) AS p_two_sided,
       rnk AS bh_rank,
       round(crit, 8) AS bh_critical,
       CASE WHEN rnk <= kmax THEN 1 ELSE 0 END AS rejected
FROM dec
"""


@register("brand_return_fdr", oracle=_FDR_ORACLE, tags=("stats", "audit"))
def brand_return_fdr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benjamini-Hochberg FDR sweep over per-brand return-rate two
    -sided z-tests against the pooled rate: 25 brands means 25 chances
    to cry wolf at α = 0.05, and BH caps the EXPECTED false-discovery
    fraction instead of Bonferroni's family-wise paranoia — reject the
    brands ranked 1..k* where k* = max{{i : p(i) ≤ α·i/m}}.
    segment_return_ztest tests ONE contrast; this is the screening
    version every brand-level monitoring dashboard actually needs.

    Determinism: per-brand (k, n) and the pooled totals are exact
    integer folds; z and the A&S 7.1.26 tail probability (|err| <
    1.5e-7, documented) are TEXTUALLY IDENTICAL double trees in both
    engines, so the BH comparisons p ≤ α·i/m agree bit-for-bit; ranks
    tie-break on brand.

    Scale notes: the fact joins the (partkey → brand) projection
    broadcast (two columns — a few MB even at 100 TB part counts) and
    folds map-side to 25 brand rows; every window after runs on those
    25 rows. One fact scan.
    """
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    b = (
        li.select("l_partkey", "l_returnflag")
        .join(p, F.col("l_partkey") == F.col("p_partkey"))
        .groupBy(F.col("p_brand").alias("brand"))
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum(F.when(F.col("l_returnflag") == "R", 1).otherwise(0))
            .cast("long")
            .alias("k"),
        )
    )
    w_all = Window.partitionBy()
    pool = b.select(
        "brand",
        "n",
        "k",
        F.sum("n").over(w_all).cast("long").alias("nn"),
        F.sum("k").over(w_all).cast("long").alias("kk"),
        F.count("*").over(w_all).cast("long").alias("m"),
    )
    p0 = F.col("kk").cast("double") / F.col("nn")
    zs = (F.col("k").cast("double") / F.col("n") - p0) / F.sqrt(
        p0 * (F.lit(1.0) - p0) / F.col("n")
    )
    pv = pool.select(
        "brand", "n", "k", "m", zs.alias("zs")
    ).select(
        "brand",
        "n",
        "k",
        "m",
        "zs",
        _erfc(F.abs(F.col("zs")) / F.sqrt(F.lit(2.0))).alias("p"),
    )
    rk = pv.select(
        "brand",
        "n",
        "k",
        "m",
        "zs",
        "p",
        F.row_number().over(Window.orderBy("p", "brand")).cast("long").alias("rnk"),
    )
    crit = F.lit(_FDR_ALPHA) * F.col("rnk") / F.col("m")
    dec_f = rk.select(
        "brand",
        "n",
        "k",
        "zs",
        "p",
        "rnk",
        crit.alias("crit"),
        F.max(F.when(F.col("p") <= crit, F.col("rnk")).otherwise(0))
        .over(w_all)
        .alias("kmax"),
    )
    return dec_f.select(
        "brand",
        F.col("n").alias("n_lines"),
        F.col("k").alias("n_returns"),
        F.round(F.col("k").cast("double") / F.col("n"), 6).alias("return_rate"),
        F.round(F.col("zs"), 4).alias("z_score"),
        F.round(F.col("p"), 8).alias("p_two_sided"),
        F.col("rnk").alias("bh_rank"),
        F.round(F.col("crit"), 8).alias("bh_critical"),
        F.when(F.col("rnk") <= F.col("kmax"), 1).otherwise(0).alias("rejected"),
    )


# ---------------------------------------------------------------------------
# Per-brand log-log price elasticity over the weekly frame
# ---------------------------------------------------------------------------

_ELASTICITY_ORACLE = """
WITH wk AS (
  SELECT p.p_brand AS brand,
         CAST(date_trunc('week', l.l_shipdate) AS DATE) AS week,
         CAST(sum(CAST(round(l.l_quantity) AS BIGINT)) AS BIGINT) AS qty,
         CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)) AS BIGINT)
           AS cents
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
  GROUP BY brand, week
),
xy AS (
  SELECT brand, week,
         ln(CAST(cents AS DOUBLE) / (100.0 * qty)) AS x,
         ln(CAST(qty AS DOUBLE)) AS y
  FROM wk WHERE qty > 0 AND cents > 0
),
cum AS (
  SELECT brand, week,
         CAST(count(*) OVER w AS BIGINT) AS n,
         sum(x) OVER w AS sx, sum(y) OVER w AS sy,
         sum(x * y) OVER w AS sxy, sum(x * x) OVER w AS sxx,
         sum(y * y) OVER w AS syy
  FROM xy
  WINDOW w AS (PARTITION BY brand ORDER BY week
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
  QUALIFY row_number() OVER (PARTITION BY brand ORDER BY week DESC) = 1
)
SELECT brand, n AS n_weeks,
       round((n * sxy - sx * sy) / (n * sxx - sx * sx), 4) AS elasticity,
       round((n * sxy - sx * sy) * (n * sxy - sx * sy)
             / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS fit_r2
FROM cum
"""


@register("brand_price_elasticity", oracle=_ELASTICITY_ORACLE,
          tags=("stats", "timeseries"))
def brand_price_elasticity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-brand log-log price elasticity of demand: OLS slope of
    ln(weekly quantity) on ln(weekly average price) — the ε in
    q ∝ p^ε that says how many percent demand moves per percent of
    price, with the fit R² alongside so a near-zero-variance price
    series reads as "no information" rather than a confident 0.
    brand_price_indices tracks WHAT prices did; this reads what demand
    did IN RESPONSE.

    Determinism: the weekly (qty, cents) frame is an exact integer
    fold; x = ln(price), y = ln(qty) are identical per-row double
    trees; the OLS sufficient statistics accumulate through a
    CUMULATIVE window ordered by week (sequential same-order double
    folds in both engines, unlike a shuffle-order groupBy sum), the
    last row per brand carries the totals, and slope/R² are rounded
    once. Degenerate variance emits NULL on both sides.

    Scale notes: the fact folds map-side to the (brand × week) frame
    (calendar-bounded: 25 brands × weeks regardless of fact rows)
    after a broadcast join to the two-column part projection; the
    cumulative windows partition by brand (parallel) over that tiny
    frame. One fact scan.
    """
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    wk = (
        li.select("l_partkey", "l_shipdate", "l_quantity", "l_extendedprice")
        .join(p, F.col("l_partkey") == F.col("p_partkey"))
        .groupBy(
            F.col("p_brand").alias("brand"),
            F.date_trunc("week", "l_shipdate").cast("date").alias("week"),
        )
        .agg(
            F.sum(F.round(F.col("l_quantity")).cast("long")).cast("long").alias("qty"),
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("long"))
            .cast("long")
            .alias("cents"),
        )
    )
    xy = wk.filter((F.col("qty") > 0) & (F.col("cents") > 0)).select(
        "brand",
        "week",
        F.log(F.col("cents").cast("double") / (F.lit(100.0) * F.col("qty"))).alias("x"),
        F.log(F.col("qty").cast("double")).alias("y"),
    )
    w = (
        Window.partitionBy("brand")
        .orderBy("week")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = xy.select(
        "brand",
        "week",
        F.count("*").over(w).cast("long").alias("n"),
        F.sum("x").over(w).alias("sx"),
        F.sum("y").over(w).alias("sy"),
        F.sum(F.col("x") * F.col("y")).over(w).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).over(w).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).over(w).alias("syy"),
        F.row_number()
        .over(Window.partitionBy("brand").orderBy(F.desc("week")))
        .alias("rn"),
    ).filter(F.col("rn") == 1)
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den_x = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    den_y = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    return cum.select(
        "brand",
        F.col("n").alias("n_weeks"),
        F.round(num / den_x, 4).alias("elasticity"),
        F.round(num * num / (den_x * den_y), 6).alias("fit_r2"),
    )
