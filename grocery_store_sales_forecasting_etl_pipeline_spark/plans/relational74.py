"""Round-6 additions, batch 74: diffusion modeling, bounded
distribution distance, parametric shape checking, and concentration
crossing points — a Bass diffusion fit to weekly new-customer adoption
(the p/q/m innovation-imitation model behind every "when does growth
peak" product forecast, fit by the discrete-Bass quadratic regression
n_t = a + b·C + c·C² solved in closed form by Cramer's rule), the
Hellinger distance between AUTOMOBILE and HOUSEHOLD order-value
histograms over pooled-decile buckets (the bounded, symmetric,
√-space distribution metric PSI is an unbounded cousin of), a
log-normal method-of-moments fit to order values with fitted-vs-actual
mean and median ratios (is the value distribution log-normal ENOUGH
for the multiplicative models that assume it), and the exact Pareto
crossing of per-customer revenue (the smallest customer count whose
revenue share reaches 80% — the literal 80/20 number, plus the top-10%
share).

Determinism discipline: adoption counts and all seven Bass power sums
are exact integers in DECIMAL(38,0) (Σx⁴ holds to ~10⁹ customers);
the 3×3 Cramer determinants, the quadratic root for m, and both
distance/shape statistics are identical double trees; histogram
buckets and the Pareto crossing use exact order-statistic edges and
integer cross-multiplied comparisons (5·cum ≥ 4·total — no float
share ever compared); one rounding per output.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from grocery_store_sales_forecasting_etl_pipeline_spark.plans._tables import table as _t
from grocery_store_sales_forecasting_etl_pipeline_spark.plans.registry import register

# ---------------------------------------------------------------------------
# Bass diffusion fit to weekly new-customer adoption
# ---------------------------------------------------------------------------

_BASS_ORACLE = """
WITH first AS (
  SELECT o_custkey, min(CAST(date_trunc('week', o_orderdate) AS DATE))
           AS w0
  FROM orders GROUP BY o_custkey
),
adopt AS (
  SELECT w0 AS week, CAST(count(*) AS BIGINT) AS n_new
  FROM first GROUP BY w0
),
walk AS (
  SELECT week, n_new,
         CAST(sum(n_new) OVER (ORDER BY week ROWS BETWEEN UNBOUNDED
              PRECEDING AND CURRENT ROW) - n_new AS BIGINT) AS x
  FROM adopt
),
s AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(x AS HUGEINT)) AS DECIMAL(38,0)) AS sx,
         CAST(sum(CAST(x AS HUGEINT) * x) AS DECIMAL(38,0)) AS sxx,
         CAST(sum(CAST(CAST(x AS HUGEINT) * x AS HUGEINT) * x)
              AS DECIMAL(38,0)) AS sxxx,
         CAST(sum(CAST(CAST(CAST(x AS HUGEINT) * x AS HUGEINT) * x
                       AS HUGEINT) * x) AS DECIMAL(38,0)) AS sxxxx,
         CAST(sum(CAST(n_new AS HUGEINT)) AS DECIMAL(38,0)) AS sy,
         CAST(sum(CAST(n_new AS HUGEINT) * x) AS DECIMAL(38,0)) AS sxy,
         CAST(sum(CAST(CAST(n_new AS HUGEINT) * x AS HUGEINT) * x)
              AS DECIMAL(38,0)) AS sxxy
  FROM walk
),
d AS (
  SELECT n,
         CAST(n AS DOUBLE) * (CAST(sxx AS DOUBLE) * CAST(sxxxx AS DOUBLE)
                              - CAST(sxxx AS DOUBLE) * CAST(sxxx AS DOUBLE))
         - CAST(sx AS DOUBLE) * (CAST(sx AS DOUBLE) * CAST(sxxxx AS DOUBLE)
                                 - CAST(sxxx AS DOUBLE) * CAST(sxx AS DOUBLE))
         + CAST(sxx AS DOUBLE) * (CAST(sx AS DOUBLE) * CAST(sxxx AS DOUBLE)
                                  - CAST(sxx AS DOUBLE) * CAST(sxx AS DOUBLE))
           AS det,
         CAST(sy AS DOUBLE) * (CAST(sxx AS DOUBLE) * CAST(sxxxx AS DOUBLE)
                               - CAST(sxxx AS DOUBLE) * CAST(sxxx AS DOUBLE))
         - CAST(sx AS DOUBLE) * (CAST(sxy AS DOUBLE) * CAST(sxxxx AS DOUBLE)
                                 - CAST(sxxx AS DOUBLE) * CAST(sxxy AS DOUBLE))
         + CAST(sxx AS DOUBLE) * (CAST(sxy AS DOUBLE) * CAST(sxxx AS DOUBLE)
                                  - CAST(sxx AS DOUBLE) * CAST(sxxy AS DOUBLE))
           AS det_a,
         CAST(n AS DOUBLE) * (CAST(sxy AS DOUBLE) * CAST(sxxxx AS DOUBLE)
                              - CAST(sxxx AS DOUBLE) * CAST(sxxy AS DOUBLE))
         - CAST(sy AS DOUBLE) * (CAST(sx AS DOUBLE) * CAST(sxxxx AS DOUBLE)
                                 - CAST(sxxx AS DOUBLE) * CAST(sxx AS DOUBLE))
         + CAST(sxx AS DOUBLE) * (CAST(sx AS DOUBLE) * CAST(sxxy AS DOUBLE)
                                  - CAST(sxy AS DOUBLE) * CAST(sxx AS DOUBLE))
           AS det_b,
         CAST(n AS DOUBLE) * (CAST(sxx AS DOUBLE) * CAST(sxxy AS DOUBLE)
                              - CAST(sxy AS DOUBLE) * CAST(sxxx AS DOUBLE))
         - CAST(sx AS DOUBLE) * (CAST(sx AS DOUBLE) * CAST(sxxy AS DOUBLE)
                                 - CAST(sxy AS DOUBLE) * CAST(sxx AS DOUBLE))
         + CAST(sy AS DOUBLE) * (CAST(sx AS DOUBLE) * CAST(sxxx AS DOUBLE)
                                 - CAST(sxx AS DOUBLE) * CAST(sxx AS DOUBLE))
           AS det_c
  FROM s
),
coef AS (
  SELECT n, det_a / det AS a, det_b / det AS b, det_c / det AS c
  FROM d WHERE det <> 0.0
)
SELECT n AS n_weeks, round(a, 6) AS bass_a, round(b, 6) AS bass_b,
       round(c, 8) AS bass_c,
       round(CASE WHEN c < 0.0 AND b * b - 4.0 * a * c >= 0.0
             THEN (-b - sqrt(b * b - 4.0 * a * c)) / (2.0 * c) END, 2)
         AS bass_m,
       round(CASE WHEN c < 0.0 AND b * b - 4.0 * a * c >= 0.0
             THEN a / ((-b - sqrt(b * b - 4.0 * a * c)) / (2.0 * c)) END, 6)
         AS bass_p,
       round(CASE WHEN c < 0.0 AND b * b - 4.0 * a * c >= 0.0
             THEN a / ((-b - sqrt(b * b - 4.0 * a * c)) / (2.0 * c)) + b END,
             6) AS bass_q
FROM coef
"""


@register("bass_diffusion_fit", oracle=_BASS_ORACLE,
          tags=("timeseries", "ml"))
def bass_diffusion_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bass diffusion model fit to weekly new-customer adoption: the
    discrete Bass identity n_t = p·m + (q − p)·C_{t−1} − (q/m)·C²_{t−1}
    is a quadratic regression of new adopters on cumulative adopters,
    so OLS on (1, C, C²) recovers (a, b, c) in closed form — Cramer's
    rule on the 3×3 normal equations — and the structural parameters
    follow: m (market potential) is the positive root of c·m² + b·m +
    a = 0, p = a/m (innovation), q = p + b (imitation). q ≫ p is
    word-of-mouth growth; m near the observed customer count means
    the market is saturating. cohort_ltv_curve reads value AFTER
    adoption; Bass models adoption itself.

    Determinism: the adoption walk and all seven power sums (Σx…Σx⁴,
    Σy, Σxy, Σx²y) are exact integers in DECIMAL(38,0) (x⁴ holds to
    ~10⁹ cumulative customers); determinants and the root are one
    shared double tree; a degenerate fit (det = 0, c ≥ 0, or negative
    discriminant) emits NULL structural parameters on both sides.

    Scale notes: one custkey fold finds first-order weeks; everything
    after lives on the calendar-bounded weekly frame.
    """
    o = _t(spark, sf_dir, "orders")
    first = o.groupBy("o_custkey").agg(
        F.min(F.date_trunc("week", "o_orderdate").cast("date")).alias("w0")
    )
    adopt = first.groupBy(F.col("w0").alias("week")).agg(
        F.count("*").cast("long").alias("n_new")
    )
    w_cum = Window.orderBy("week").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    walk = adopt.select(
        "week",
        "n_new",
        (F.sum("n_new").over(w_cum) - F.col("n_new")).cast("long").alias("x"),
    )
    dec = "decimal(38,0)"
    xd = F.col("x").cast(dec)
    yd = F.col("n_new").cast(dec)
    s = walk.agg(
        F.count("*").cast("long").alias("n"),
        F.sum(xd).cast(dec).alias("sx"),
        F.sum(xd * F.col("x")).cast(dec).alias("sxx"),
        F.sum((xd * F.col("x")).cast(dec) * F.col("x")).cast(dec).alias("sxxx"),
        F.sum(((xd * F.col("x")).cast(dec) * F.col("x")).cast(dec) * F.col("x"))
        .cast(dec)
        .alias("sxxxx"),
        F.sum(yd).cast(dec).alias("sy"),
        F.sum(yd * F.col("x")).cast(dec).alias("sxy"),
        F.sum((yd * F.col("x")).cast(dec) * F.col("x")).cast(dec).alias("sxxy"),
    )

    def D(c):
        return F.col(c).cast("double")

    n_d = F.col("n").cast("double")
    det = (
        n_d * (D("sxx") * D("sxxxx") - D("sxxx") * D("sxxx"))
        - D("sx") * (D("sx") * D("sxxxx") - D("sxxx") * D("sxx"))
        + D("sxx") * (D("sx") * D("sxxx") - D("sxx") * D("sxx"))
    )
    det_a = (
        D("sy") * (D("sxx") * D("sxxxx") - D("sxxx") * D("sxxx"))
        - D("sx") * (D("sxy") * D("sxxxx") - D("sxxx") * D("sxxy"))
        + D("sxx") * (D("sxy") * D("sxxx") - D("sxx") * D("sxxy"))
    )
    det_b = (
        n_d * (D("sxy") * D("sxxxx") - D("sxxx") * D("sxxy"))
        - D("sy") * (D("sx") * D("sxxxx") - D("sxxx") * D("sxx"))
        + D("sxx") * (D("sx") * D("sxxy") - D("sxy") * D("sxx"))
    )
    det_c = (
        n_d * (D("sxx") * D("sxxy") - D("sxy") * D("sxxx"))
        - D("sx") * (D("sx") * D("sxxy") - D("sxy") * D("sxx"))
        + D("sy") * (D("sx") * D("sxxx") - D("sxx") * D("sxx"))
    )
    d = s.select(
        "n",
        det.alias("det"),
        det_a.alias("det_a"),
        det_b.alias("det_b"),
        det_c.alias("det_c"),
    ).filter(F.col("det") != 0.0)
    coef = d.select(
        "n",
        (F.col("det_a") / F.col("det")).alias("a"),
        (F.col("det_b") / F.col("det")).alias("b"),
        (F.col("det_c") / F.col("det")).alias("c"),
    )
    disc = F.col("b") * F.col("b") - F.lit(4.0) * F.col("a") * F.col("c")
    ok = (F.col("c") < 0.0) & (disc >= 0.0)
    m_root = (-F.col("b") - F.sqrt(disc)) / (F.lit(2.0) * F.col("c"))
    return coef.select(
        F.col("n").alias("n_weeks"),
        F.round("a", 6).alias("bass_a"),
        F.round("b", 6).alias("bass_b"),
        F.round("c", 8).alias("bass_c"),
        F.round(F.when(ok, m_root), 2).alias("bass_m"),
        F.round(F.when(ok, F.col("a") / m_root), 6).alias("bass_p"),
        F.round(F.when(ok, F.col("a") / m_root + F.col("b")), 6).alias("bass_q"),
    )


# ---------------------------------------------------------------------------
# Hellinger distance between segment order-value histograms
# ---------------------------------------------------------------------------

_HELLINGER_ORACLE = """
WITH x AS (
  SELECT c.c_mktsegment AS seg,
         CAST(round(o.o_totalprice * 100) AS BIGINT) AS cents
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
  WHERE c.c_mktsegment IN ('AUTOMOBILE', 'HOUSEHOLD')
),
v AS (
  SELECT cents,
         CAST(sum(CASE WHEN seg = 'AUTOMOBILE' THEN 1 ELSE 0 END) AS BIGINT)
           AS ca,
         CAST(sum(CASE WHEN seg = 'HOUSEHOLD' THEN 1 ELSE 0 END) AS BIGINT)
           AS cb
  FROM x GROUP BY cents
),
c AS (
  SELECT cents, ca, cb,
         CAST(sum(ca + cb) OVER (ORDER BY cents ROWS BETWEEN UNBOUNDED
              PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
         CAST(sum(ca + cb) OVER () AS BIGINT) AS n
  FROM v
),
edges AS (
  SELECT d.q, min(CASE WHEN c.cum >= (d.q * c.n + 9) // 10
                       THEN c.cents END) AS edge
  FROM c CROSS JOIN (SELECT unnest(range(1, 10)) AS q) d
  GROUP BY d.q
),
bucketed AS (
  SELECT v.cents, v.ca, v.cb,
         CAST(sum(CASE WHEN e.edge < v.cents THEN 1 ELSE 0 END) AS BIGINT)
           AS bucket
  FROM v CROSS JOIN edges e
  GROUP BY v.cents, v.ca, v.cb
),
h AS (
  SELECT bucket, CAST(sum(ca) AS BIGINT) AS ba, CAST(sum(cb) AS BIGINT) AS bb
  FROM bucketed GROUP BY bucket
),
tot AS (
  SELECT bucket, ba, bb,
         CAST(sum(ba) OVER () AS BIGINT) AS na,
         CAST(sum(bb) OVER () AS BIGINT) AS nb
  FROM h
)
SELECT max(na) AS n_automobile, max(nb) AS n_household,
       CAST(count(*) AS BIGINT) AS n_buckets,
       round(sum(sqrt((CAST(ba AS DOUBLE) / na)
                      * (CAST(bb AS DOUBLE) / nb))), 6)
         AS bhattacharyya,
       round(sqrt(1.0 - CASE WHEN sum(sqrt((CAST(ba AS DOUBLE) / na)
                                           * (CAST(bb AS DOUBLE) / nb))) > 1.0
                        THEN 1.0
                        ELSE sum(sqrt((CAST(ba AS DOUBLE) / na)
                                      * (CAST(bb AS DOUBLE) / nb))) END), 6)
         AS hellinger
FROM tot
"""


@register("segment_price_hellinger", oracle=_HELLINGER_ORACLE, tags=("stats",))
def segment_price_hellinger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hellinger distance between AUTOMOBILE and HOUSEHOLD order-value
    distributions over pooled-decile buckets: H = √(1 − Σ√(p_i·q_i)),
    the BOUNDED [0,1] symmetric distance whose unbounded log-ratio
    cousin price_psi_drift already tracks — Hellinger stays finite
    when a bucket empties, making it the safer alerting metric, and
    the Bhattacharyya coefficient Σ√(pq) is reported alongside as the
    overlap reading. Buckets are the POOLED exact deciles, so both
    histograms use identical, data-driven, order-statistic edges.

    Determinism: bucket edges are exact order statistics; bucket
    assignment counts edges strictly below each value (integer);
    bucket masses are exact integers; the √-sum is an
    order-independent double fold over ≤10 buckets, clamped at 1
    before the outer √ (the 1e-16 overshoot guard), rounded once.

    Scale notes: one fact scan folds to the money-domain value-count
    frame after a broadcast segment join; edges and buckets are
    9-row/10-row frames.
    """
    o = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    x = (
        o.select("o_custkey", F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .filter(F.col("c_mktsegment").isin("AUTOMOBILE", "HOUSEHOLD"))
    )
    v = x.groupBy("cents").agg(
        F.sum(F.when(F.col("c_mktsegment") == "AUTOMOBILE", 1).otherwise(0))
        .cast("long")
        .alias("ca"),
        F.sum(F.when(F.col("c_mktsegment") == "HOUSEHOLD", 1).otherwise(0))
        .cast("long")
        .alias("cb"),
    )
    w_cum = Window.orderBy("cents").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    c = v.select(
        "cents",
        F.sum(F.col("ca") + F.col("cb")).over(w_cum).cast("long").alias("cum"),
        F.sum(F.col("ca") + F.col("cb")).over(Window.partitionBy()).cast("long").alias("n"),
    )
    deciles = spark.range(1, 10).select(F.col("id").cast("long").alias("q"))
    edges = (
        c.crossJoin(deciles)
        .groupBy("q")
        .agg(
            F.min(
                F.when(
                    F.col("cum") >= F.floor((F.col("q") * F.col("n") + 9) / 10),
                    F.col("cents"),
                )
            ).alias("edge")
        )
    )
    bucketed = (
        v.crossJoin(edges)
        .groupBy("cents", "ca", "cb")
        .agg(
            F.sum(F.when(F.col("edge") < F.col("cents"), 1).otherwise(0))
            .cast("long")
            .alias("bucket")
        )
    )
    h = bucketed.groupBy("bucket").agg(
        F.sum("ca").cast("long").alias("ba"),
        F.sum("cb").cast("long").alias("bb"),
    )
    tot = h.select(
        "bucket",
        "ba",
        "bb",
        F.sum("ba").over(Window.partitionBy()).cast("long").alias("na"),
        F.sum("bb").over(Window.partitionBy()).cast("long").alias("nb"),
    )
    bc = F.sum(
        F.sqrt(
            (F.col("ba").cast("double") / F.col("na"))
            * (F.col("bb").cast("double") / F.col("nb"))
        )
    )
    return tot.groupBy().agg(
        F.max("na").alias("n_automobile"),
        F.max("nb").alias("n_household"),
        F.count("*").cast("long").alias("n_buckets"),
        F.round(bc, 6).alias("bhattacharyya"),
        F.round(
            F.sqrt(F.lit(1.0) - F.when(bc > 1.0, F.lit(1.0)).otherwise(bc)), 6
        ).alias("hellinger"),
    )


# ---------------------------------------------------------------------------
# Log-normal method-of-moments fit to order values
# ---------------------------------------------------------------------------

_LOGNORMAL_ORACLE = """
WITH v AS (
  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
         CAST(count(*) AS BIGINT) AS c
  FROM orders WHERE o_totalprice > 0 GROUP BY cents
),
acc AS (
  SELECT CAST(sum(c) OVER w AS BIGINT) AS n,
         sum(c * ln(CAST(cents AS DOUBLE))) OVER w AS sl,
         sum(c * ln(CAST(cents AS DOUBLE)) * ln(CAST(cents AS DOUBLE)))
           OVER w AS sll,
         CAST(sum(CAST(c AS HUGEINT) * cents) OVER w AS DECIMAL(38,0))
           AS sv,
         CAST(sum(c) OVER () AS BIGINT) AS ntot,
         row_number() OVER (ORDER BY cents DESC) AS rev
  FROM v
  WINDOW w AS (ORDER BY cents ROWS BETWEEN UNBOUNDED PRECEDING
               AND CURRENT ROW)
),
med AS (
  SELECT min(cents) AS med_cents FROM (
    SELECT cents,
           CAST(sum(c) OVER (ORDER BY cents ROWS BETWEEN UNBOUNDED
                PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
           CAST(sum(c) OVER () AS BIGINT) AS n
    FROM v
  ) WHERE cum >= (n + 1) // 2
),
fit AS (
  SELECT acc.n, acc.sl / acc.n AS mu,
         (acc.sll - acc.sl * acc.sl / acc.n) / acc.n AS s2,
         CAST(acc.sv AS DOUBLE) / acc.n AS actual_mean,
         med.med_cents AS actual_median
  FROM acc CROSS JOIN med WHERE acc.rev = 1
)
SELECT n AS n_orders, round(mu, 6) AS mu_log,
       round(sqrt(s2), 6) AS sigma_log,
       round(exp(mu + s2 / 2.0) / actual_mean, 4) AS fitted_mean_ratio,
       round(exp(mu) / actual_median, 4) AS fitted_median_ratio
FROM fit
"""


@register("order_value_lognormal_fit", oracle=_LOGNORMAL_ORACLE, tags=("stats",))
def order_value_lognormal_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-normal fit of the order-value distribution by moments of
    logs (μ̂ = mean ln x, σ̂ = sd ln x) with the two ratios that
    CHECK the fit: exp(μ̂ + σ̂²/2)/actual-mean and exp(μ̂)/actual
    -median. Both ≈ 1 means log-normal is an adequate generative
    story (so multiplicative shocks, Gibrat-style); a median ratio
    near 1 with a mean ratio well below 1 is the classic signature of
    a tail HEAVIER than log-normal — exactly what
    price_hill_tail_index then quantifies.

    Determinism: the value-count frame is exact; Σc·ln v and its
    square accumulate through a SEQUENTIAL cumulative window
    (identical fold order both engines); the actual mean is an exact
    integer ratio and the median an exact order statistic; four
    roundings at the boundary.

    Scale notes: one fact scan to the money-domain value-count frame;
    everything after is bounded by the price domain.
    """
    o = _t(spark, sf_dir, "orders")
    dec = "decimal(38,0)"
    v = (
        o.filter(F.col("o_totalprice") > 0)
        .select(F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"))
        .groupBy("cents")
        .agg(F.count("*").cast("long").alias("c"))
    )
    w_cum = Window.orderBy("cents").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    w_all = Window.partitionBy()
    lnv = F.log(F.col("cents").cast("double"))
    acc = v.select(
        F.sum("c").over(w_cum).cast("long").alias("n"),
        F.sum(F.col("c") * lnv).over(w_cum).alias("sl"),
        F.sum(F.col("c") * lnv * lnv).over(w_cum).alias("sll"),
        F.sum(F.col("c").cast(dec) * F.col("cents")).over(w_cum).cast(dec).alias("sv"),
        F.row_number().over(Window.orderBy(F.desc("cents"))).alias("rev"),
    ).filter(F.col("rev") == 1)
    med = (
        v.select(
            "cents",
            F.sum("c").over(w_cum).cast("long").alias("cum"),
            F.sum("c").over(w_all).cast("long").alias("n"),
        )
        .filter(F.col("cum") >= F.expr("(n + 1) DIV 2"))
        .agg(F.min("cents").alias("med_cents"))
    )
    fit = acc.crossJoin(med).select(
        "n",
        (F.col("sl") / F.col("n")).alias("mu"),
        ((F.col("sll") - F.col("sl") * F.col("sl") / F.col("n")) / F.col("n")).alias("s2"),
        (F.col("sv").cast("double") / F.col("n")).alias("actual_mean"),
        F.col("med_cents").alias("actual_median"),
    )
    return fit.select(
        F.col("n").alias("n_orders"),
        F.round("mu", 6).alias("mu_log"),
        F.round(F.sqrt("s2"), 6).alias("sigma_log"),
        F.round(
            F.exp(F.col("mu") + F.col("s2") / 2.0) / F.col("actual_mean"), 4
        ).alias("fitted_mean_ratio"),
        F.round(F.exp(F.col("mu")) / F.col("actual_median"), 4).alias(
            "fitted_median_ratio"
        ),
    )


# ---------------------------------------------------------------------------
# Pareto crossing of per-customer revenue
# ---------------------------------------------------------------------------

_PARETO_ORACLE = """
WITH cust AS (
  SELECT o_custkey,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS cents
  FROM orders GROUP BY o_custkey
),
v AS (
  SELECT cents, CAST(count(*) AS BIGINT) AS c FROM cust GROUP BY cents
),
c AS (
  SELECT cents, c,
         CAST(sum(c) OVER w AS BIGINT) AS cum,
         CAST(sum(CAST(c AS HUGEINT) * cents) OVER w AS DECIMAL(38,0))
           AS scum,
         CAST(sum(c) OVER () AS BIGINT) AS n,
         CAST(sum(CAST(c AS HUGEINT) * cents) OVER () AS DECIMAL(38,0))
           AS stot
  FROM v
  WINDOW w AS (ORDER BY cents DESC ROWS BETWEEN UNBOUNDED PRECEDING
               AND CURRENT ROW)
),
k80 AS (
  -- smallest top-customer count whose revenue share reaches 80%:
  -- ONLY the first crossing block (prev cum still below 80%) solves
  -- scum_prev + j*cents >= 0.8*stot in integers; members of that
  -- equal-revenue block are interchangeable
  SELECT min(cum - c + CAST(ceil((0.8 * CAST(stot AS DOUBLE)
              - CAST(scum - CAST(c AS HUGEINT) * cents AS DOUBLE))
              / cents) AS BIGINT)) AS k
  FROM c WHERE 5 * scum >= 4 * stot
    AND 5 * (scum - CAST(c AS HUGEINT) * cents) < 4 * stot
),
k10 AS (
  SELECT max(n) AS n, max(stot) AS stot, (max(n) + 9) // 10 AS kt FROM c
),
top10 AS (
  SELECT k10.kt,
         min(CASE WHEN c.cum >= k10.kt
             THEN CAST(c.scum - CAST(c.cum - k10.kt AS HUGEINT) * c.cents
                  AS DECIMAL(38,0)) END) AS s_top
  FROM c CROSS JOIN k10
  GROUP BY k10.kt
)
SELECT k10.n AS n_customers, k80.k AS k80_customers,
       round(CAST(k80.k AS DOUBLE) / k10.n, 6) AS k80_share_of_customers,
       k10.kt AS top10pct_customers,
       round(CAST(top10.s_top AS DOUBLE) / CAST(k10.stot AS DOUBLE), 6)
         AS top10pct_revenue_share
FROM k10 CROSS JOIN k80 CROSS JOIN top10
"""


@register("revenue_pareto_crossing", oracle=_PARETO_ORACLE, tags=("stats",))
def revenue_pareto_crossing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The exact Pareto crossing of customer revenue: the smallest
    number of top customers whose combined revenue reaches 80% of the
    total (the literal "80/20" number) and the revenue share of the
    top 10% of customers. revenue_lorenz_deciles draws the whole
    curve; these are the two scalar crossings an account-coverage
    plan actually budgets with. Within the crossing value block,
    equal-revenue customers are interchangeable, so the count is
    solved exactly inside the block (no whole-block over-count).

    Determinism: per-customer revenue, the descending value-count
    frame, and both cumulative walks are exact integers
    (DECIMAL(38,0)/HUGEINT); the 80% crossing test cross-multiplies
    integers (5·cum ≥ 4·total — no float share compared); only the
    two output shares divide, once.

    Scale notes: one custkey fold, then the money-domain value-count
    frame carries everything.
    """
    o = _t(spark, sf_dir, "orders")
    dec = "decimal(38,0)"
    cust = o.groupBy("o_custkey").agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).cast("long").alias("cents")
    )
    v = cust.groupBy("cents").agg(F.count("*").cast("long").alias("c"))
    w_desc = Window.orderBy(F.desc("cents")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_all = Window.partitionBy()
    c = v.select(
        "cents",
        "c",
        F.sum("c").over(w_desc).cast("long").alias("cum"),
        F.sum(F.col("c").cast(dec) * F.col("cents")).over(w_desc).cast(dec).alias("scum"),
        F.sum("c").over(w_all).cast("long").alias("n"),
        F.sum(F.col("c").cast(dec) * F.col("cents")).over(w_all).cast(dec).alias("stot"),
    )
    scum_prev = F.col("scum") - F.col("c").cast(dec) * F.col("cents")
    k80 = c.filter(
        (F.lit(5) * F.col("scum") >= F.lit(4) * F.col("stot"))
        & (F.lit(5) * scum_prev < F.lit(4) * F.col("stot"))
    ).agg(
        F.min(
            F.col("cum")
            - F.col("c")
            + F.ceil(
                (F.lit(0.8) * F.col("stot").cast("double") - scum_prev.cast("double"))
                / F.col("cents")
            ).cast("long")
        ).alias("k")
    )
    k10 = c.agg(
        F.max("n").alias("n"),
        F.max("stot").alias("stot"),
        F.expr("(max(n) + 9) DIV 10").alias("kt"),
    )
    top10 = (
        c.crossJoin(k10.select("kt"))
        .filter(F.col("cum") >= F.col("kt"))
        .agg(
            F.min(
                (
                    F.col("scum")
                    - (F.col("cum") - F.col("kt")).cast(dec) * F.col("cents")
                ).cast(dec)
            ).alias("s_top")
        )
    )
    return (
        k10.crossJoin(k80)
        .crossJoin(top10)
        .select(
            F.col("n").alias("n_customers"),
            F.col("k").alias("k80_customers"),
            F.round(F.col("k").cast("double") / F.col("n"), 6).alias(
                "k80_share_of_customers"
            ),
            F.col("kt").alias("top10pct_customers"),
            F.round(
                F.col("s_top").cast("double") / F.col("stot").cast("double"), 6
            ).alias("top10pct_revenue_share"),
        )
    )
