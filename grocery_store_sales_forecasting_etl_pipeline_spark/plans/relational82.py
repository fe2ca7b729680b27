"""Round-6 additions, batch 82: dependence beyond correlation,
quantile-forecast scoring, nonparametric scale, and distributional
effect profiling — exact distance correlation between weekly order
traffic and weekly revenue (Székely's dCor: 0 IFF independent, the
test Pearson/Spearman/Kendall all fail against non-monotone
dependence; exact O(n²) double-centering on the aggregated weekly
frame), a holdout pinball-loss evaluation of empirical-quantile
forecasts (train on the first 75% of weeks, score q10/q50/q90 on the
rest — the loss that is minimized in expectation exactly by the true
quantile), the Ansari-Bradley two-sample scale test between customer
segments (do two segments differ in SPREAD of order value, median
effects removed by rank folding), and the Doksum shift function
between the same two segments (the decile-by-decile quantile
difference — WHERE in the distribution one segment pays more, not
just whether it does on average).

Determinism discipline: every pairwise distance sum, rank score, and
quantile is exact integer arithmetic — distance sums in
DECIMAL(38,0)/HUGEINT (row sums then sum-of-products), Ansari scores
as doubled integer scores off doubled midranks, pinball losses scaled
×10 so τ ∈ {0.1, 0.5, 0.9} stays integer, quantiles as smallest-value
integer-rank order statistics; each output float rounds once.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from grocery_store_sales_forecasting_etl_pipeline_spark.plans._tables import table as _t
from grocery_store_sales_forecasting_etl_pipeline_spark.plans.registry import register
from grocery_store_sales_forecasting_etl_pipeline_spark.plans.scalerank import (
    counts_to_cum,
)

# ---------------------------------------------------------------------------
# Exact distance correlation: weekly order count vs weekly revenue
# ---------------------------------------------------------------------------

_DCORR_ORACLE = """
WITH w AS (
  SELECT CAST(date_trunc('week', o_orderdate) AS DATE) AS wk,
         CAST(count(*) AS BIGINT) AS x,
         sum(CAST(round(o_totalprice * 100) AS BIGINT)) // 100 AS y
  FROM orders GROUP BY wk
),
rowsums AS (
  SELECT a.wk,
         CAST(sum(CAST(abs(a.x - b.x) AS HUGEINT)) AS DECIMAL(38,0)) AS ra,
         CAST(sum(CAST(abs(a.y - b.y) AS HUGEINT)) AS DECIMAL(38,0)) AS rb,
         CAST(sum(CAST(abs(a.x - b.x) AS HUGEINT)
                  * CAST(abs(a.y - b.y) AS HUGEINT)) AS DECIMAL(38,0)) AS tab,
         CAST(sum(CAST(abs(a.x - b.x) AS HUGEINT)
                  * CAST(abs(a.x - b.x) AS HUGEINT)) AS DECIMAL(38,0)) AS taa,
         CAST(sum(CAST(abs(a.y - b.y) AS HUGEINT)
                  * CAST(abs(a.y - b.y) AS HUGEINT)) AS DECIMAL(38,0)) AS tbb
  FROM w a CROSS JOIN w b GROUP BY a.wk
),
agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(tab) AS DECIMAL(38,0)) AS t1ab,
         CAST(sum(taa) AS DECIMAL(38,0)) AS t1aa,
         CAST(sum(tbb) AS DECIMAL(38,0)) AS t1bb,
         CAST(sum(CAST(ra AS HUGEINT) * CAST(rb AS HUGEINT)) AS DECIMAL(38,0)) AS t2ab,
         CAST(sum(CAST(ra AS HUGEINT) * CAST(ra AS HUGEINT)) AS DECIMAL(38,0)) AS t2aa,
         CAST(sum(CAST(rb AS HUGEINT) * CAST(rb AS HUGEINT)) AS DECIMAL(38,0)) AS t2bb,
         CAST(sum(ra) AS DECIMAL(38,0)) AS sa,
         CAST(sum(rb) AS DECIMAL(38,0)) AS sb
  FROM rowsums
),
v AS (
  SELECT n, sa, sb,
         CAST(t1ab AS DOUBLE) / (CAST(n AS DOUBLE) * n)
           - 2.0 * CAST(t2ab AS DOUBLE) / (CAST(n AS DOUBLE) * n * n)
           + CAST(sa AS DOUBLE) * CAST(sb AS DOUBLE)
             / (CAST(n AS DOUBLE) * n * n * n) AS dcov2,
         CAST(t1aa AS DOUBLE) / (CAST(n AS DOUBLE) * n)
           - 2.0 * CAST(t2aa AS DOUBLE) / (CAST(n AS DOUBLE) * n * n)
           + CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE)
             / (CAST(n AS DOUBLE) * n * n * n) AS dvarx,
         CAST(t1bb AS DOUBLE) / (CAST(n AS DOUBLE) * n)
           - 2.0 * CAST(t2bb AS DOUBLE) / (CAST(n AS DOUBLE) * n * n)
           + CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE)
             / (CAST(n AS DOUBLE) * n * n * n) AS dvary
  FROM agg
)
SELECT n AS n_weeks, sa AS sum_dist_x, sb AS sum_dist_y,
       round(dcov2, 6) AS dcov2,
       round(sqrt(sqrt(greatest(dcov2, 0.0) * greatest(dcov2, 0.0)
                       / greatest(dvarx * dvary, 1e-300))), 6) AS dcor
FROM v
"""


@register("weekly_traffic_revenue_dcorr", oracle=_DCORR_ORACLE, tags=("stats",))
def weekly_traffic_revenue_dcorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Székely's distance correlation between weekly order count and
    weekly revenue, computed EXACTLY from the O(n²) pairwise distance
    sums on the weekly frame: dCov² = T1/n² − 2T2/n³ + S_a·S_b/n⁴ per
    the double-centering identity, dCor = √(dCov²/√(dVarX·dVarY)).
    dCor = 0 characterizes independence — the only registered
    dependence measure with that property (ξ detects functional
    dependence; Pearson/Spearman/Kendall only monotone).

    Determinism: x, y are integers so every pairwise distance is an
    integer; per-row distance sums accumulate HUGEINT→DECIMAL(38,0)
    and the sum-of-products T2 multiplies as HUGEINT (DuckDB) /
    DECIMAL(38,0) (Spark) — |Δy| ≲ 1e10 at 100 TB keeps T2 ≤ 1e33,
    inside both; dCov² and the variances are single double trees,
    dCor written as √√(dCov²²/(dVarX·dVarY)) with a 1e-300 floor so a
    constant series yields 0 not NaN; floats rounded once.

    Scale notes: the weekly fold is a map-side combine; the O(n²)
    cross join is over the AGGREGATED frame (hundreds of rows — ~2e5
    pairs), never the fact table, so the quadratic cost is bounded by
    the calendar, not the data volume.
    """
    o = _t(spark, sf_dir, "orders")
    w = (
        o.select(
            F.date_trunc("week", "o_orderdate").cast("date").alias("wk"),
            F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        )
        .groupBy("wk")
        .agg(
            F.count("*").cast("long").alias("x"),
            F.expr("sum(cents) DIV 100").alias("y"),
        )
    )
    a = w.alias("a")
    b = w.alias("b")
    dx = F.abs(F.col("a.x") - F.col("b.x")).cast("decimal(38,0)")
    dy = F.abs(F.col("a.y") - F.col("b.y")).cast("decimal(38,0)")
    rowsums = (
        a.crossJoin(b)
        .groupBy(F.col("a.wk").alias("wk"))
        .agg(
            F.sum(dx).alias("ra"),
            F.sum(dy).alias("rb"),
            F.sum(dx * dy).alias("tab"),
            F.sum(dx * dx).alias("taa"),
            F.sum(dy * dy).alias("tbb"),
        )
    )
    agg = rowsums.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("tab").cast("decimal(38,0)").alias("t1ab"),
        F.sum("taa").cast("decimal(38,0)").alias("t1aa"),
        F.sum("tbb").cast("decimal(38,0)").alias("t1bb"),
        F.sum(F.col("ra") * F.col("rb")).cast("decimal(38,0)").alias("t2ab"),
        F.sum(F.col("ra") * F.col("ra")).cast("decimal(38,0)").alias("t2aa"),
        F.sum(F.col("rb") * F.col("rb")).cast("decimal(38,0)").alias("t2bb"),
        F.sum("ra").cast("decimal(38,0)").alias("sa"),
        F.sum("rb").cast("decimal(38,0)").alias("sb"),
    )
    n_d = F.col("n").cast("double")

    def centered(t1, t2, s1, s2):
        return (
            F.col(t1).cast("double") / (n_d * F.col("n"))
            - F.lit(2.0) * F.col(t2).cast("double") / (n_d * F.col("n") * F.col("n"))
            + F.col(s1).cast("double")
            * F.col(s2).cast("double")
            / (n_d * F.col("n") * F.col("n") * F.col("n"))
        )

    v = agg.select(
        "n",
        "sa",
        "sb",
        centered("t1ab", "t2ab", "sa", "sb").alias("dcov2"),
        centered("t1aa", "t2aa", "sa", "sa").alias("dvarx"),
        centered("t1bb", "t2bb", "sb", "sb").alias("dvary"),
    )
    return v.select(
        F.col("n").alias("n_weeks"),
        F.col("sa").alias("sum_dist_x"),
        F.col("sb").alias("sum_dist_y"),
        F.round("dcov2", 6).alias("dcov2"),
        F.round(
            F.sqrt(
                F.sqrt(
                    F.greatest(F.col("dcov2"), F.lit(0.0))
                    * F.greatest(F.col("dcov2"), F.lit(0.0))
                    / F.greatest(F.col("dvarx") * F.col("dvary"), F.lit(1e-300))
                )
            ),
            6,
        ).alias("dcor"),
    )


# ---------------------------------------------------------------------------
# Holdout pinball-loss evaluation of empirical-quantile forecasts
# ---------------------------------------------------------------------------

_PINBALL_ORACLE = """
WITH weekly AS (
  SELECT CAST(date_trunc('week', o_orderdate) AS DATE) AS week_start,
         sum(CAST(round(o_totalprice * 100) AS BIGINT)) // 100 AS dollars
  FROM orders GROUP BY week_start
),
rn AS (
  SELECT dollars,
         CAST(row_number() OVER (ORDER BY week_start) AS BIGINT) AS i,
         CAST(count(*) OVER () AS BIGINT) AS n
  FROM weekly
),
train AS (SELECT dollars FROM rn WHERE 4 * i <= 3 * n),
test AS (SELECT dollars FROM rn WHERE 4 * i > 3 * n),
tv AS (
  SELECT dollars, CAST(count(*) AS BIGINT) AS c FROM train GROUP BY dollars
),
tcw AS (
  SELECT dollars,
         CAST(sum(c) OVER (ORDER BY dollars
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
         CAST(sum(c) OVER () AS BIGINT) AS m
  FROM tv
),
taus AS (SELECT * FROM (VALUES (1), (5), (9)) t(tau10)),
q AS (
  SELECT t.tau10,
         min(CASE WHEN 10 * w.cum >= t.tau10 * w.m THEN w.dollars END) AS q_dollars,
         max(w.m) AS n_train
  FROM tcw w CROSS JOIN taus t GROUP BY t.tau10
)
SELECT round(q.tau10 / 10.0, 1) AS tau,
       q.n_train, q.q_dollars,
       CAST(count(*) AS BIGINT) AS n_test,
       CAST(sum(CASE WHEN s.dollars >= q.q_dollars
                THEN q.tau10 * (s.dollars - q.q_dollars)
                ELSE (10 - q.tau10) * (q.q_dollars - s.dollars) END) AS BIGINT)
         AS pinball_x10_dollars,
       round(CAST(sum(CASE WHEN s.dollars >= q.q_dollars
                      THEN q.tau10 * (s.dollars - q.q_dollars)
                      ELSE (10 - q.tau10) * (q.q_dollars - s.dollars) END) AS DOUBLE)
             / (10.0 * count(*)), 4) AS mean_pinball
FROM test s CROSS JOIN q
GROUP BY q.tau10, q.n_train, q.q_dollars
"""


@register("weekly_quantile_pinball_eval", oracle=_PINBALL_ORACLE, tags=("stats", "ml"))
def weekly_quantile_pinball_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holdout evaluation of constant quantile forecasts for weekly
    revenue under the pinball (quantile) loss: train = the first 75%
    of weeks (by calendar), forecast = the exact empirical q10/q50/q90
    of the training weeks, scored on the held-out 25%. Pinball loss is
    the proper scoring rule for quantiles — the τ-quantile minimizes
    it in expectation — so these three rows are the baseline any
    probabilistic demand forecast must beat (complements
    weekly_forecast_baselines' point-forecast MASE).

    Determinism: the 75/25 split is the integer cross-multiplication
    4·i ≤ 3·n on the week row_number (no float rate); each training
    quantile is the smallest value whose cumulative count clears the
    cross-multiplied rank 10·cum ≥ τ10·m; losses are scaled ×10 so
    every pinball term is an exact integer (τ10 ∈ {1,5,9}); one
    division for the mean.

    Scale notes: weekly fold map-side; quantile selection runs on the
    training value-count frame; the test join broadcasts three rows.
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
    rn = weekly.select(
        "dollars",
        F.row_number().over(w_ord).cast("long").alias("i"),
        F.count("*").over(w_all).cast("long").alias("n"),
    )
    train = rn.filter(F.lit(4) * F.col("i") <= F.lit(3) * F.col("n")).select("dollars")
    test = rn.filter(F.lit(4) * F.col("i") > F.lit(3) * F.col("n")).select("dollars")
    tv = train.groupBy("dollars").agg(F.count("*").cast("long").alias("c"))
    w_cum = Window.orderBy("dollars").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    tcw = tv.select(
        "dollars",
        F.sum("c").over(w_cum).cast("long").alias("cum"),
        F.sum("c").over(w_all).cast("long").alias("m"),
    )
    # a VALUES frame carries size statistics, so the planner broadcasts it
    taus = spark.sql("SELECT * FROM VALUES (1), (5), (9) AS t(tau10)")
    q = (
        tcw.crossJoin(taus)
        .groupBy("tau10")
        .agg(
            F.min(
                F.when(
                    F.lit(10) * F.col("cum") >= F.col("tau10") * F.col("m"),
                    F.col("dollars"),
                )
            ).alias("q_dollars"),
            F.max("m").alias("n_train"),
        )
    )
    loss = F.when(
        F.col("dollars") >= F.col("q_dollars"),
        F.col("tau10") * (F.col("dollars") - F.col("q_dollars")),
    ).otherwise((F.lit(10) - F.col("tau10")) * (F.col("q_dollars") - F.col("dollars")))
    return (
        test.crossJoin(q)
        .groupBy("tau10", "n_train", "q_dollars")
        .agg(
            F.count("*").cast("long").alias("n_test"),
            F.sum(loss).cast("long").alias("pinball_x10_dollars"),
            F.round(
                F.sum(loss).cast("double") / (F.lit(10.0) * F.count("*")), 4
            ).alias("mean_pinball"),
        )
        .select(
            F.round(F.col("tau10") / F.lit(10.0), 1).alias("tau"),
            "n_train",
            "q_dollars",
            "n_test",
            "pinball_x10_dollars",
            "mean_pinball",
        )
    )


# ---------------------------------------------------------------------------
# Ansari-Bradley two-sample scale test: order value by segment
# ---------------------------------------------------------------------------

_ANSARI_ORACLE = """
WITH s AS (
  SELECT c.c_mktsegment AS seg,
         CAST(round(o.o_totalprice * 100) AS BIGINT) AS cents
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
  WHERE c.c_mktsegment IN ('AUTOMOBILE', 'HOUSEHOLD')
),
ranked AS (
  SELECT seg,
         2 * CAST(count(*) OVER (ORDER BY cents
             RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         - CAST(count(*) OVER (PARTITION BY cents) AS BIGINT) + 1 AS r2,
         CAST(count(*) OVER () AS BIGINT) AS nn
  FROM s
),
scored AS (
  SELECT seg, nn, (nn + 1) - abs(r2 - (nn + 1)) AS s2
  FROM ranked
),
g AS (
  SELECT max(nn) AS nn,
         CAST(sum(CASE WHEN seg = 'AUTOMOBILE' THEN 1 ELSE 0 END) AS BIGINT) AS m,
         CAST(sum(CASE WHEN seg = 'AUTOMOBILE' THEN s2 ELSE 0 END) AS BIGINT) AS w2
  FROM scored
)
SELECT nn AS n_total, m AS n_auto, w2 AS ab_score_x2,
       round(CASE WHEN nn % 2 = 0
                  THEN CAST(m AS DOUBLE) * (nn + 2) / 4.0
                  ELSE CAST(m AS DOUBLE) * (nn + 1) * (nn + 1) / (4.0 * nn)
             END, 6) AS expected_x1,
       round((w2 / 2.0 -
              CASE WHEN nn % 2 = 0
                   THEN CAST(m AS DOUBLE) * (nn + 2) / 4.0
                   ELSE CAST(m AS DOUBLE) * (nn + 1) * (nn + 1) / (4.0 * nn) END)
             / sqrt(CASE WHEN nn % 2 = 0
                    THEN CAST(m AS DOUBLE) * (nn - m) * (nn + 2) * (nn - 2)
                         / (48.0 * (nn - 1))
                    ELSE CAST(m AS DOUBLE) * (nn - m) * (nn + 1)
                         * (3.0 + nn * CAST(nn AS DOUBLE)) / (48.0 * nn * nn) END),
             6) AS z_stat
FROM g
"""


@register("segment_value_ansari_bradley", oracle=_ANSARI_ORACLE, tags=("stats",))
def segment_value_ansari_bradley(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ansari-Bradley two-sample test for a SCALE difference in order
    value between the AUTOMOBILE and HOUSEHOLD segments: rank the
    pooled values, fold ranks toward the middle (score = min(rank,
    N+1−rank)), and z-score AUTOMOBILE's score sum against its null
    mean/variance (exact parity-split formulas). Small scores = tails,
    large = center — so a LOW z means AUTOMOBILE's values are more
    spread out. The rank cousin of brown_forsythe_variance_test, free
    of any moment assumption.

    Determinism: midranks and folded scores are carried doubled
    (R2 = 2·cum − ties + 1, S2 = (N+1) − |R2 − (N+1)|), exact integers
    end to end; the null moments use the standard no-tie formulas
    (cent-grain values make ties negligible — documented
    approximation, identical on both sides); z is one rounded double.

    Scale notes: the orders-customer join shuffles on custkey; the
    doubled midrank (and hence the folded score) is constant within a
    cents tie group, so the pooled ranking folds to the VALUE grain —
    per-cents (total, AUTOMOBILE) counts, cumulative via
    scalerank.counts_to_cum (coarse-bucket offsets on a bounded frame
    + partitioned within-bucket cumulative, no single-partition sort)
    — and the score sum weights each value's score by its AUTOMOBILE
    count. No fact-grain window anywhere.
    """
    o = _t(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    s = (
        o.join(c, F.col("o_custkey") == F.col("c_custkey"))
        .filter(F.col("c_mktsegment").isin("AUTOMOBILE", "HOUSEHOLD"))
        .select(
            F.col("c_mktsegment").alias("seg"),
            F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        )
    )
    vc = s.groupBy("cents").agg(
        F.count("*").cast("long").alias("c"),
        F.sum(F.when(F.col("seg") == "AUTOMOBILE", 1).otherwise(0))
        .cast("long")
        .alias("c_auto"),
    )
    cum = counts_to_cum(vc, "cents", coarse_div=10000)
    tot = cum.agg(F.sum("c").cast("long").alias("nn"))
    # doubled midrank 2*cum - c + 1 and folded score, constant per value
    r2 = F.lit(2) * F.col("cum") - F.col("c") + 1
    s2 = (F.col("nn") + 1) - F.abs(r2 - (F.col("nn") + 1))
    g = cum.crossJoin(tot).agg(
        F.max("nn").alias("nn"),
        F.sum("c_auto").cast("long").alias("m"),
        F.sum(F.col("c_auto") * s2).cast("long").alias("w2"),
    )
    nn_d = F.col("nn").cast("double")
    m_d = F.col("m").cast("double")
    even = F.col("nn") % 2 == 0
    expected = F.when(even, m_d * (F.col("nn") + 2) / F.lit(4.0)).otherwise(
        m_d * (F.col("nn") + 1) * (F.col("nn") + 1) / (F.lit(4.0) * F.col("nn"))
    )
    variance = F.when(
        even,
        m_d
        * (F.col("nn") - F.col("m"))
        * (F.col("nn") + 2)
        * (F.col("nn") - 2)
        / (F.lit(48.0) * (F.col("nn") - 1)),
    ).otherwise(
        m_d
        * (F.col("nn") - F.col("m"))
        * (F.col("nn") + 1)
        * (F.lit(3.0) + F.col("nn") * nn_d)
        / (F.lit(48.0) * F.col("nn") * F.col("nn"))
    )
    return g.select(
        F.col("nn").alias("n_total"),
        F.col("m").alias("n_auto"),
        F.col("w2").alias("ab_score_x2"),
        F.round(expected, 6).alias("expected_x1"),
        F.round(
            (F.col("w2") / F.lit(2.0) - expected) / F.sqrt(variance), 6
        ).alias("z_stat"),
    )


# ---------------------------------------------------------------------------
# Doksum shift function: AUTOMOBILE vs HOUSEHOLD order-value deciles
# ---------------------------------------------------------------------------

_SHIFT_ORACLE = """
WITH s AS (
  SELECT c.c_mktsegment AS seg,
         CAST(round(o.o_totalprice * 100) AS BIGINT) AS cents
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
  WHERE c.c_mktsegment IN ('AUTOMOBILE', 'HOUSEHOLD')
),
v AS (
  SELECT seg, cents, CAST(count(*) AS BIGINT) AS c
  FROM s GROUP BY seg, cents
),
cw AS (
  SELECT seg, cents,
         CAST(sum(c) OVER (PARTITION BY seg ORDER BY cents
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
         CAST(sum(c) OVER (PARTITION BY seg) AS BIGINT) AS n
  FROM v
),
deciles AS (SELECT * FROM (VALUES (1),(2),(3),(4),(5),(6),(7),(8),(9)) t(k)),
q AS (
  SELECT d.k, w.seg, max(w.n) AS n,
         min(CASE WHEN 10 * w.cum >= d.k * w.n THEN w.cents END) AS q_cents
  FROM cw w CROSS JOIN deciles d GROUP BY d.k, w.seg
)
SELECT a.k AS decile,
       a.n AS n_auto, b.n AS n_house,
       a.q_cents AS q_auto_cents, b.q_cents AS q_house_cents,
       b.q_cents - a.q_cents AS shift_cents
FROM q a JOIN q b ON a.k = b.k
WHERE a.seg = 'AUTOMOBILE' AND b.seg = 'HOUSEHOLD'
"""


@register("segment_value_shift_function", oracle=_SHIFT_ORACLE, tags=("stats",))
def segment_value_shift_function(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Doksum's shift function between the AUTOMOBILE and HOUSEHOLD
    segments' order-value distributions: the exact decile-by-decile
    quantile difference Δ(k) = q_house(k) − q_auto(k) for k = 10%…90%.
    A constant Δ across deciles means a pure location shift; Δ growing
    with k means the difference lives in the upper tail — the
    distribution-level effect profile a single mean difference
    (welch_price_ttest) or even a KS distance cannot show.

    Determinism: both quantile ladders are smallest-value integer-rank
    order statistics (10·cum ≥ k·n cross-multiplied) on per-segment
    value-count frames; every output is an exact integer.

    Scale notes: the join shuffles on custkey; value-count folds are
    map-side per segment; decile selection runs on the distinct-cents
    frame and the final join is 9 rows against 9.
    """
    o = _t(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    s = (
        o.join(c, F.col("o_custkey") == F.col("c_custkey"))
        .filter(F.col("c_mktsegment").isin("AUTOMOBILE", "HOUSEHOLD"))
        .select(
            F.col("c_mktsegment").alias("seg"),
            F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        )
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
    # a range frame carries size statistics, so the planner broadcasts it
    deciles = spark.range(1, 10).selectExpr("CAST(id AS INT) AS k")
    q = (
        cw.crossJoin(deciles)
        .groupBy("k", "seg")
        .agg(
            F.max("n").alias("n"),
            F.min(
                F.when(
                    F.lit(10) * F.col("cum") >= F.col("k") * F.col("n"),
                    F.col("cents"),
                )
            ).alias("q_cents"),
        )
    )
    a = q.filter(F.col("seg") == "AUTOMOBILE").alias("a")
    b = q.filter(F.col("seg") == "HOUSEHOLD").alias("b")
    return a.join(b, F.col("a.k") == F.col("b.k")).select(
        F.col("a.k").alias("decile"),
        F.col("a.n").alias("n_auto"),
        F.col("b.n").alias("n_house"),
        F.col("a.q_cents").alias("q_auto_cents"),
        F.col("b.q_cents").alias("q_house_cents"),
        (F.col("b.q_cents") - F.col("a.q_cents")).alias("shift_cents"),
    )
