"""Round-6 additions, batch 77: exact two-sample energy distance,
ordinal-pattern complexity, conformal calibration, and load shaping —
the energy distance between BUILDING and FURNITURE order values
computed EXACTLY (Σ|x−y| folds in closed form over the merged
value-count frame — the E-statistic usually Monte-Carlo'd, here
integer-exact), the permutation entropy of weekly revenue (how
predictable is the ordinal pattern of consecutive triples — the
nonlinear-dynamics complement to ACF and Hurst), a split-conformal
coverage audit of the seasonal-naive weekly forecast (does the
calibrated 90% interval actually cover 90% on held-out weeks — the
distribution-free guarantee every forecast SLA should quote), and the
hour-of-day × weekday event load profile with peak-to-average ratios
(the capacity-planning shape behind session_concurrency_profile's
peak).

Determinism discipline: Σ|x−y| and both within-sample terms fold as
exact integers over cumulative value-count frames (the |·| kernel
needs only prefix counts and prefix sums — no pairwise anything);
ordinal patterns, conformal quantile ranks, and load counts are exact
integers; entropies and ratios are identical double trees over ≤8 /
≤168-term folds, rounded once.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from grocery_store_sales_forecasting_etl_pipeline_spark.plans._tables import table as _t
from grocery_store_sales_forecasting_etl_pipeline_spark.plans.registry import register

# ---------------------------------------------------------------------------
# Exact two-sample energy distance: BUILDING vs FURNITURE order values
# ---------------------------------------------------------------------------

_ENERGY_ORACLE = """
WITH x AS (
  SELECT c.c_mktsegment AS seg,
         CAST(round(o.o_totalprice * 100) AS BIGINT) AS cents
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
  WHERE c.c_mktsegment IN ('BUILDING', 'FURNITURE')
),
v AS (
  SELECT cents,
         CAST(sum(CASE WHEN seg = 'BUILDING' THEN 1 ELSE 0 END) AS BIGINT)
           AS ca,
         CAST(sum(CASE WHEN seg = 'FURNITURE' THEN 1 ELSE 0 END) AS BIGINT)
           AS cb
  FROM x GROUP BY cents
),
c AS (
  SELECT cents, ca, cb,
         CAST(COALESCE(sum(ca) OVER wp, 0) AS HUGEINT) AS pa,
         CAST(COALESCE(sum(cb) OVER wp, 0) AS HUGEINT) AS pb,
         CAST(COALESCE(sum(CAST(ca AS HUGEINT) * cents) OVER wp, 0)
              AS DECIMAL(38,0)) AS sa,
         CAST(COALESCE(sum(CAST(cb AS HUGEINT) * cents) OVER wp, 0)
              AS DECIMAL(38,0)) AS sb,
         CAST(sum(ca) OVER () AS BIGINT) AS n,
         CAST(sum(cb) OVER () AS BIGINT) AS m,
         CAST(sum(CAST(ca AS HUGEINT) * cents) OVER () AS DECIMAL(38,0))
           AS ta,
         CAST(sum(CAST(cb AS HUGEINT) * cents) OVER () AS DECIMAL(38,0))
           AS tb
  FROM v
  WINDOW wp AS (ORDER BY cents ROWS BETWEEN UNBOUNDED PRECEDING
                AND 1 PRECEDING)
),
-- sum over pairs of |u - w|: for each value v with count c in sample B,
-- against sample A: c * (pa*v - sa + (ta - sa) - (n - pa)*v)
folds AS (
  SELECT
    CAST(sum(CAST(cb AS HUGEINT)
             * (pa * cents - sa + (ta - sa) - (n - pa) * cents))
         AS DECIMAL(38,0)) AS sxy,
    CAST(sum(CAST(ca AS HUGEINT)
             * (pa * cents - sa + (ta - sa) - (n - pa) * cents))
         AS DECIMAL(38,0)) AS sxx,
    CAST(sum(CAST(cb AS HUGEINT)
             * (pb * cents - sb + (tb - sb) - (m - pb) * cents))
         AS DECIMAL(38,0)) AS syy,
    max(n) AS n, max(m) AS m
  FROM c
)
SELECT n AS n_building, m AS n_furniture,
       round(CAST(sxy AS DOUBLE) / (CAST(n AS DOUBLE) * m), 4) AS exy,
       round(CAST(sxx AS DOUBLE) / (CAST(n AS DOUBLE) * n), 4) AS exx,
       round(CAST(syy AS DOUBLE) / (CAST(m AS DOUBLE) * m), 4) AS eyy,
       round(2.0 * CAST(sxy AS DOUBLE) / (CAST(n AS DOUBLE) * m)
             - CAST(sxx AS DOUBLE) / (CAST(n AS DOUBLE) * n)
             - CAST(syy AS DOUBLE) / (CAST(m AS DOUBLE) * m), 6)
         AS energy_distance
FROM folds
"""


@register("segment_value_energy_distance", oracle=_ENERGY_ORACLE,
          tags=("stats",))
def segment_value_energy_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample energy distance between BUILDING and FURNITURE
    order values: D = 2·E|X−Y| − E|X−X'| − E|Y−Y'| ≥ 0, zero iff the
    distributions are equal — the metric behind energy statistics and
    MMD-style two-sample testing, usually estimated by sampling pairs.
    Here each Σ|u−w| folds in CLOSED FORM over the merged value-count
    frame (for a probe value v, Σ|x−v| = prefix-count·v − prefix-sum
    + (total-sum − prefix-sum) − (rest-count)·v), so the statistic is
    integer-exact at any scale. CvM (segment_value_cvm) weights by
    EDF position; energy distance weights by the values themselves —
    it feels mean shifts CvM's rank view discounts. E|X−X'| uses all
    n² ordered pairs (diagonal zeros included), documented.

    Determinism: every fold is exact integer (DECIMAL(38,0)/HUGEINT —
    pair sums cross BIGINT early: n·mean·n terms); the three
    expectations and D divide once.

    Scale notes: one fact scan with a broadcast segment join to the
    money-domain value-count frame; the closed-form fold replaces an
    O(n²) pair space with one sorted cumulative pass.
    """
    o = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    dec = "decimal(38,0)"
    x = (
        o.select("o_custkey", F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .filter(F.col("c_mktsegment").isin("BUILDING", "FURNITURE"))
    )
    v = x.groupBy("cents").agg(
        F.sum(F.when(F.col("c_mktsegment") == "BUILDING", 1).otherwise(0))
        .cast("long")
        .alias("ca"),
        F.sum(F.when(F.col("c_mktsegment") == "FURNITURE", 1).otherwise(0))
        .cast("long")
        .alias("cb"),
    )
    wp = Window.orderBy("cents").rowsBetween(Window.unboundedPreceding, -1)
    w_all = Window.partitionBy()
    c = v.select(
        "cents",
        "ca",
        "cb",
        F.coalesce(F.sum("ca").over(wp), F.lit(0)).cast(dec).alias("pa"),
        F.coalesce(F.sum("cb").over(wp), F.lit(0)).cast(dec).alias("pb"),
        F.coalesce(F.sum(F.col("ca").cast(dec) * F.col("cents")).over(wp), F.lit(0))
        .cast(dec)
        .alias("sa"),
        F.coalesce(F.sum(F.col("cb").cast(dec) * F.col("cents")).over(wp), F.lit(0))
        .cast(dec)
        .alias("sb"),
        F.sum("ca").over(w_all).cast("long").alias("n"),
        F.sum("cb").over(w_all).cast("long").alias("m"),
        F.sum(F.col("ca").cast(dec) * F.col("cents")).over(w_all).cast(dec).alias("ta"),
        F.sum(F.col("cb").cast(dec) * F.col("cents")).over(w_all).cast(dec).alias("tb"),
    )
    abs_vs_a = (
        F.col("pa") * F.col("cents")
        - F.col("sa")
        + (F.col("ta") - F.col("sa"))
        - (F.col("n") - F.col("pa")) * F.col("cents")
    )
    abs_vs_b = (
        F.col("pb") * F.col("cents")
        - F.col("sb")
        + (F.col("tb") - F.col("sb"))
        - (F.col("m") - F.col("pb")) * F.col("cents")
    )
    folds = c.agg(
        F.sum(F.col("cb").cast(dec) * abs_vs_a).cast(dec).alias("sxy"),
        F.sum(F.col("ca").cast(dec) * abs_vs_a).cast(dec).alias("sxx"),
        F.sum(F.col("cb").cast(dec) * abs_vs_b).cast(dec).alias("syy"),
        F.max("n").alias("n"),
        F.max("m").alias("m"),
    )
    n_d = F.col("n").cast("double")
    m_d = F.col("m").cast("double")
    exy = F.col("sxy").cast("double") / (n_d * F.col("m"))
    exx = F.col("sxx").cast("double") / (n_d * F.col("n"))
    eyy = F.col("syy").cast("double") / (m_d * F.col("m"))
    return folds.select(
        F.col("n").alias("n_building"),
        F.col("m").alias("n_furniture"),
        F.round(exy, 4).alias("exy"),
        F.round(exx, 4).alias("exx"),
        F.round(eyy, 4).alias("eyy"),
        F.round(F.lit(2.0) * exy - exx - eyy, 6).alias("energy_distance"),
    )


# ---------------------------------------------------------------------------
# Permutation entropy of weekly revenue (order-3 ordinal patterns)
# ---------------------------------------------------------------------------

_PERM_ENTROPY_ORACLE = """
WITH weekly AS (
  SELECT CAST(date_trunc('week', o_orderdate) AS DATE) AS week_start,
         sum(CAST(round(o_totalprice * 100) AS BIGINT)) // 100 AS y
  FROM orders GROUP BY week_start
),
tri AS (
  SELECT y AS y0,
         lead(y, 1) OVER (ORDER BY week_start) AS y1,
         lead(y, 2) OVER (ORDER BY week_start) AS y2
  FROM weekly QUALIFY y1 IS NOT NULL AND y2 IS NOT NULL
),
pat AS (
  SELECT CAST(CASE WHEN y1 > y0 THEN 1 ELSE 0 END
              + 2 * CASE WHEN y2 > y0 THEN 1 ELSE 0 END
              + 4 * CASE WHEN y2 > y1 THEN 1 ELSE 0 END AS BIGINT)
           AS pattern
  FROM tri
),
cnt AS (
  SELECT pattern, CAST(count(*) AS BIGINT) AS c FROM pat GROUP BY pattern
),
tot AS (
  SELECT pattern, c, CAST(sum(c) OVER () AS BIGINT) AS n,
         CAST(count(*) OVER () AS BIGINT) AS k
  FROM cnt
)
SELECT max(n) AS n_triples, max(k) AS n_patterns,
       round(-sum((CAST(c AS DOUBLE) / n) * ln(CAST(c AS DOUBLE) / n)), 6)
         AS perm_entropy,
       round(-sum((CAST(c AS DOUBLE) / n) * ln(CAST(c AS DOUBLE) / n))
             / ln(6.0), 6) AS normalized_entropy
FROM tot
"""


@register("weekly_permutation_entropy", oracle=_PERM_ENTROPY_ORACLE,
          tags=("timeseries", "stats"))
def weekly_permutation_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Permutation entropy (order 3) of weekly revenue: encode each
    consecutive triple by its ordinal pattern (the three pairwise >
    comparisons — ties collapse deterministically to the ≤ branch)
    and read the Shannon entropy of the pattern distribution,
    normalized by ln 6. Near 1 = the up/down microstructure is
    featureless noise; well below 1 = recurring ordinal motifs a
    forecaster can exploit even when the ACF is flat — the
    nonlinear-dynamics complement to nation_weekly_acf1 and
    weekly_revenue_hurst.

    Determinism: patterns and counts are exact integers; the entropy
    is a log-sum over ≤8 pattern rows (exact-integer-derived terms,
    O(1) magnitudes — shuffle-fold noise is 1e-16 against a 1e-6
    rounding grain), rounded once.

    Scale notes: the fact folds to the calendar-bounded weekly frame;
    the triple windows and the ≤8-row entropy fold are trivial.
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
    w = Window.orderBy("week_start")
    tri = weekly.select(
        F.col("y").alias("y0"),
        F.lead("y", 1).over(w).alias("y1"),
        F.lead("y", 2).over(w).alias("y2"),
    ).filter(F.col("y1").isNotNull() & F.col("y2").isNotNull())
    pat = tri.select(
        (
            F.when(F.col("y1") > F.col("y0"), 1).otherwise(0)
            + F.lit(2) * F.when(F.col("y2") > F.col("y0"), 1).otherwise(0)
            + F.lit(4) * F.when(F.col("y2") > F.col("y1"), 1).otherwise(0)
        )
        .cast("long")
        .alias("pattern")
    )
    cnt = pat.groupBy("pattern").agg(F.count("*").cast("long").alias("c"))
    tot = cnt.select(
        "pattern",
        "c",
        F.sum("c").over(Window.partitionBy()).cast("long").alias("n"),
        F.count("*").over(Window.partitionBy()).cast("long").alias("k"),
    )
    p = F.col("c").cast("double") / F.col("n")
    return tot.groupBy().agg(
        F.max("n").alias("n_triples"),
        F.max("k").alias("n_patterns"),
        F.round(-F.sum(p * F.log(p)), 6).alias("perm_entropy"),
        F.round(-F.sum(p * F.log(p)) / F.log(F.lit(6.0)), 6).alias(
            "normalized_entropy"
        ),
    )


# ---------------------------------------------------------------------------
# Split-conformal coverage audit of the seasonal-naive weekly forecast
# ---------------------------------------------------------------------------

_CONFORMAL_ORACLE = """
WITH weekly AS (
  SELECT CAST(date_trunc('week', o_orderdate) AS DATE) AS week_start,
         sum(CAST(round(o_totalprice * 100) AS BIGINT)) // 100 AS y
  FROM orders GROUP BY week_start
),
r AS (
  SELECT week_start,
         abs(y - lag(y, 52) OVER (ORDER BY week_start)) AS ae,
         CAST(row_number() OVER (ORDER BY week_start) AS BIGINT) AS rn,
         CAST(count(*) OVER () AS BIGINT) AS nw
  FROM weekly QUALIFY lag(y, 52) OVER (ORDER BY week_start) IS NOT NULL
),
split AS (
  SELECT ae,
         CAST(row_number() OVER (ORDER BY week_start) AS BIGINT) AS i,
         CAST(count(*) OVER () AS BIGINT) AS nr
  FROM r
),
cal AS (
  SELECT ae FROM split WHERE i <= (4 * nr) // 5
),
tst AS (
  SELECT ae FROM split WHERE i > (4 * nr) // 5
),
q AS (
  SELECT min(ae) AS q90 FROM (
    SELECT ae,
           CAST(row_number() OVER (ORDER BY ae, ae) AS BIGINT) AS rk,
           CAST(count(*) OVER () AS BIGINT) AS nc
    FROM cal
  ) WHERE rk >= CAST(ceil(0.9 * (nc + 1)) AS BIGINT)
),
cov AS (
  SELECT CAST(count(*) AS BIGINT) AS n_test,
         CAST(sum(CASE WHEN tst.ae <= q.q90 THEN 1 ELSE 0 END) AS BIGINT)
           AS covered
  FROM tst CROSS JOIN q
)
SELECT (SELECT CAST(count(*) AS BIGINT) FROM cal) AS n_calibration,
       cov.n_test, q.q90 AS q90_dollars,
       round(CAST(cov.covered AS DOUBLE) / cov.n_test, 6) AS test_coverage
FROM cov CROSS JOIN q
"""


@register("conformal_coverage_audit", oracle=_CONFORMAL_ORACLE,
          tags=("ml", "timeseries"))
def conformal_coverage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal coverage audit of the seasonal-naive weekly
    forecast (ŷ_t = y_{t−52}): calibrate the 90% interval half-width
    as the ⌈0.9·(n+1)⌉-th order statistic of the first 80% of
    absolute residuals (time-ordered split — no leakage), then audit
    EMPIRICAL coverage on the held-out last 20%. Conformal's promise
    is distribution-free ≥90% coverage; a test coverage well below
    that means the residual distribution SHIFTED between the periods
    — the miscalibration alarm weekly_forecast_baselines' MASE can't
    raise. calibration_bins audits a classifier's probabilities; this
    audits a forecaster's intervals.

    Determinism: residuals, the 80/20 time split, the conformal rank,
    and the coverage count are exact integers; one division.

    Scale notes: everything lives on the calendar-bounded weekly
    frame after one fact fold.
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
    w = Window.orderBy("week_start")
    r = weekly.select(
        "week_start",
        F.abs(F.col("y") - F.lag("y", 52).over(w)).alias("ae"),
    ).filter(F.col("ae").isNotNull())
    split = r.select(
        "ae",
        F.row_number().over(Window.orderBy("week_start")).cast("long").alias("i"),
        F.count("*").over(Window.partitionBy()).cast("long").alias("nr"),
    )
    cal = split.filter(F.col("i") <= F.expr("(4 * nr) DIV 5")).select("ae")
    tst = split.filter(F.col("i") > F.expr("(4 * nr) DIV 5")).select("ae")
    q = (
        cal.select(
            "ae",
            F.row_number().over(Window.orderBy("ae", "ae")).cast("long").alias("rk"),
            F.count("*").over(Window.partitionBy()).cast("long").alias("nc"),
        )
        .filter(F.col("rk") >= F.ceil(F.lit(0.9) * (F.col("nc") + 1)).cast("long"))
        .agg(F.min("ae").alias("q90"))
    )
    cov = tst.crossJoin(q).agg(
        F.count("*").cast("long").alias("n_test"),
        F.sum(F.when(F.col("ae") <= F.col("q90"), 1).otherwise(0))
        .cast("long")
        .alias("covered"),
        F.max("q90").alias("q90"),
    )
    ncal = cal.agg(F.count("*").cast("long").alias("n_calibration"))
    return cov.crossJoin(ncal).select(
        "n_calibration",
        "n_test",
        F.col("q90").alias("q90_dollars"),
        F.round(F.col("covered").cast("double") / F.col("n_test"), 6).alias(
            "test_coverage"
        ),
    )


# ---------------------------------------------------------------------------
# Hour-of-day x weekday event load profile
# ---------------------------------------------------------------------------

_LOAD_PROFILE_ORACLE = """
WITH h AS (
  SELECT isodow(ts) AS dow, CAST(hour(ts) AS BIGINT) AS hr,
         CAST(count(*) AS BIGINT) AS c
  FROM events GROUP BY dow, hr
),
d AS (
  SELECT dow, hr, c,
         CAST(sum(c) OVER (PARTITION BY dow) AS BIGINT) AS day_total,
         CAST(count(*) OVER (PARTITION BY dow) AS BIGINT) AS n_hours,
         row_number() OVER (PARTITION BY dow ORDER BY c DESC, hr) AS rk
  FROM h
)
SELECT CAST(dow AS BIGINT) AS iso_weekday, hr AS peak_hour,
       c AS peak_count, day_total,
       round(CAST(c AS DOUBLE) * n_hours / day_total, 4)
         AS peak_to_average
FROM d WHERE rk = 1
"""


@register("event_load_peak_profile", oracle=_LOAD_PROFILE_ORACLE,
          tags=("timeseries", "streaming"))
def event_load_peak_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-day × ISO-weekday event load profile: for each weekday,
    the peak hour, its event count, the day-of-week total, and the
    peak-to-average ratio over that weekday's OBSERVED hours — the
    load-shape summary capacity planning reads next to
    session_concurrency_profile's instantaneous peak (a PAR near 1
    means flat load and easy autoscaling; a high PAR means the fleet
    is sized for one hour a day).

    Determinism: the 7×24-bounded cell frame is an exact integer
    fold; the peak rank tie-breaks on hour; one division per row.

    Scale notes: one events scan folds map-side to ≤168 cells;
    everything after is bounded.
    """
    ev = _t(spark, sf_dir, "events")
    h = ev.groupBy(
        (F.expr("weekday(ts)") + 1).cast("long").alias("dow"),
        F.hour("ts").cast("long").alias("hr"),
    ).agg(F.count("*").cast("long").alias("c"))
    w_d = Window.partitionBy("dow")
    d = h.select(
        "dow",
        "hr",
        "c",
        F.sum("c").over(w_d).cast("long").alias("day_total"),
        F.count("*").over(w_d).cast("long").alias("n_hours"),
        F.row_number()
        .over(Window.partitionBy("dow").orderBy(F.desc("c"), F.asc("hr")))
        .alias("rk"),
    ).filter(F.col("rk") == 1)
    return d.select(
        F.col("dow").alias("iso_weekday"),
        F.col("hr").alias("peak_hour"),
        F.col("c").alias("peak_count"),
        "day_total",
        F.round(
            F.col("c").cast("double") * F.col("n_hours") / F.col("day_total"), 4
        ).alias("peak_to_average"),
    )
