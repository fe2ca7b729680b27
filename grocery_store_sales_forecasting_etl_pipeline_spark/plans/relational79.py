"""Round-6 additions, batch 79: SLA percentiles, distribution-free
interval estimation, robust shape, and categorical association — the
order-to-ship SLA table per priority (exact p50/p90/p99 lag and the
30-day attainment share — the numbers an operations SLA is written
in), a distribution-free confidence interval for the median order
value from order statistics (the binomial-rank CI that needs no
variance estimate and no bootstrap), quantile-based skewness and
kurtosis (Bowley and Moors — the octile shape measures a heavy tail
can't hijack the way it hijacks moment skewness), and the Cramér's V
+ Goodman-Kruskal λ association pair for order priority × customer
segment (V says HOW STRONG beyond χ²'s yes/no; λ says how much
knowing the segment actually improves a priority guess — and λ is
EXACT integer arithmetic end to end).

Determinism discipline: every percentile and CI bound is an exact
order statistic selected by integer rank on value-count frames; the
contingency table, λ's numerator/denominator, and all counts are
exact integers (DECIMAL(38,0)/HUGEINT in the χ² expectations); V and
the shape ratios are identical double trees rounded once.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from grocery_store_sales_forecasting_etl_pipeline_spark.plans._tables import table as _t
from grocery_store_sales_forecasting_etl_pipeline_spark.plans.registry import register

# ---------------------------------------------------------------------------
# Order-to-ship SLA percentiles per priority
# ---------------------------------------------------------------------------

_SLA_ORACLE = """
WITH lag_ AS (
  SELECT o.o_orderpriority AS prio,
         CAST(date_diff('day', CAST(o.o_orderdate AS DATE),
                        CAST(l.l_shipdate AS DATE)) AS BIGINT) AS lag_days
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
),
v AS (
  SELECT prio, lag_days, CAST(count(*) AS BIGINT) AS c
  FROM lag_ GROUP BY prio, lag_days
),
cw AS (
  SELECT prio, lag_days, c,
         CAST(sum(c) OVER w AS BIGINT) AS cum,
         CAST(sum(c) OVER (PARTITION BY prio) AS BIGINT) AS n,
         CAST(sum(CASE WHEN lag_days <= 30 THEN c ELSE 0 END)
              OVER (PARTITION BY prio) AS BIGINT) AS within30
  FROM v
  WINDOW w AS (PARTITION BY prio ORDER BY lag_days
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT prio AS priority, max(n) AS n_lines,
       min(CASE WHEN cum >= (n + 1) // 2 THEN lag_days END) AS p50_days,
       min(CASE WHEN 10 * cum >= 9 * n THEN lag_days END) AS p90_days,
       min(CASE WHEN 100 * cum >= 99 * n THEN lag_days END) AS p99_days,
       round(CAST(max(within30) AS DOUBLE) / max(n), 6) AS within_30d_share
FROM cw GROUP BY prio
"""


@register("priority_ship_sla", oracle=_SLA_ORACLE, tags=("stats", "audit"))
def priority_ship_sla(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-to-ship SLA table per order priority: exact p50/p90/p99
    of the order-date → ship-date lag in days, plus the share shipped
    within 30 days — the attainment numbers an operations SLA quotes
    (and the first place a priority system that ISN'T actually
    prioritizing shows up: identical percentiles across 1-URGENT and
    5-LOW). repeat_purchase_gap_percentiles reads customer cadence;
    this reads fulfillment latency.

    Determinism: lags and the value-count frame are exact integers;
    each percentile is the smallest value whose cumulative count
    reaches the integer rank (cross-multiplied — 10·cum ≥ 9·n, never
    a float rank); one division for the attainment share.

    Scale notes: the fact joins orders on orderkey (co-partitioned
    shuffle), folds map-side to the (priority × lag-day) value-count
    frame (domain-bounded), and every window after partitions by
    priority.
    """
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate", "o_orderpriority")
    lag_ = li.join(o, F.col("l_orderkey") == F.col("o_orderkey")).select(
        F.col("o_orderpriority").alias("prio"),
        F.datediff(
            F.col("l_shipdate").cast("date"), F.col("o_orderdate").cast("date")
        )
        .cast("long")
        .alias("lag_days"),
    )
    v = lag_.groupBy("prio", "lag_days").agg(F.count("*").cast("long").alias("c"))
    w_cum = (
        Window.partitionBy("prio")
        .orderBy("lag_days")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_p = Window.partitionBy("prio")
    cw = v.select(
        "prio",
        "lag_days",
        F.sum("c").over(w_cum).cast("long").alias("cum"),
        F.sum("c").over(w_p).cast("long").alias("n"),
        F.sum(F.when(F.col("lag_days") <= 30, F.col("c")).otherwise(0))
        .over(w_p)
        .cast("long")
        .alias("within30"),
    )
    return cw.groupBy(F.col("prio").alias("priority")).agg(
        F.max("n").alias("n_lines"),
        F.min(
            F.when(F.col("cum") >= F.expr("(n + 1) DIV 2"), F.col("lag_days"))
        ).alias("p50_days"),
        F.min(
            F.when(F.lit(10) * F.col("cum") >= F.lit(9) * F.col("n"), F.col("lag_days"))
        ).alias("p90_days"),
        F.min(
            F.when(
                F.lit(100) * F.col("cum") >= F.lit(99) * F.col("n"), F.col("lag_days")
            )
        ).alias("p99_days"),
        F.round(F.max("within30").cast("double") / F.max("n"), 6).alias(
            "within_30d_share"
        ),
    )


# ---------------------------------------------------------------------------
# Distribution-free CI for the median order value
# ---------------------------------------------------------------------------

_MEDIAN_CI_ORACLE = """
WITH v AS (
  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
         CAST(count(*) AS BIGINT) AS c
  FROM orders GROUP BY cents
),
cw AS (
  SELECT cents, c,
         CAST(sum(c) OVER (ORDER BY cents ROWS BETWEEN UNBOUNDED
              PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
         CAST(sum(c) OVER () AS BIGINT) AS n
  FROM v
),
ranks AS (
  SELECT n,
         CAST(floor((n - 1.959964 * sqrt(CAST(n AS DOUBLE))) / 2.0)
              AS BIGINT) AS lo_rank,
         CAST(ceil(1.0 + (n + 1.959964 * sqrt(CAST(n AS DOUBLE))) / 2.0)
              AS BIGINT) AS hi_rank
  FROM (SELECT max(n) AS n FROM cw)
)
SELECT r.n AS n_orders,
       min(CASE WHEN cw.cum >= (r.n + 1) // 2 THEN cw.cents END)
         AS median_cents,
       min(CASE WHEN cw.cum >= r.lo_rank THEN cw.cents END) AS ci_lo_cents,
       min(CASE WHEN cw.cum >= r.hi_rank THEN cw.cents END) AS ci_hi_cents,
       r.lo_rank, r.hi_rank
FROM cw CROSS JOIN ranks r
GROUP BY r.n, r.lo_rank, r.hi_rank
"""


@register("median_ci_order_stats", oracle=_MEDIAN_CI_ORACLE, tags=("stats",))
def median_ci_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-free 95% confidence interval for the median order
    value from order statistics: the interval between ranks
    ⌊(n − 1.96√n)/2⌋ and ⌈1 + (n + 1.96√n)/2⌉ covers the true median
    with ≥95% probability for ANY continuous distribution — the
    binomial-rank CI (normal-approximate ranks, documented) that
    needs no variance estimate, no bootstrap, and no distributional
    assumption. The robust companion to order_value_trimmed_stats:
    that shifts the ESTIMATE, this quantifies its uncertainty.

    Determinism: the rank bounds come from one double tree evaluated
    identically on both sides, then floored/ceiled to exact integers;
    the median and both CI bounds are exact order statistics on the
    value-count frame.

    Scale notes: one fact scan to the money-domain value-count frame;
    the selection fold is one pass.
    """
    o = _t(spark, sf_dir, "orders")
    v = (
        o.select(F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"))
        .groupBy("cents")
        .agg(F.count("*").cast("long").alias("c"))
    )
    w_cum = Window.orderBy("cents").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cw = v.select(
        "cents",
        F.sum("c").over(w_cum).cast("long").alias("cum"),
        F.sum("c").over(Window.partitionBy()).cast("long").alias("n"),
    )
    n_d = F.col("n").cast("double")
    ranks = cw.agg(F.max("n").alias("n")).select(
        "n",
        F.floor((F.col("n") - F.lit(1.959964) * F.sqrt(n_d)) / 2.0)
        .cast("long")
        .alias("lo_rank"),
        F.ceil(F.lit(1.0) + (F.col("n") + F.lit(1.959964) * F.sqrt(n_d)) / 2.0)
        .cast("long")
        .alias("hi_rank"),
    )
    return (
        cw.crossJoin(ranks.withColumnRenamed("n", "nr"))
        .groupBy("nr", "lo_rank", "hi_rank")
        .agg(
            F.min(
                F.when(F.col("cum") >= F.expr("(nr + 1) DIV 2"), F.col("cents"))
            ).alias("median_cents"),
            F.min(F.when(F.col("cum") >= F.col("lo_rank"), F.col("cents"))).alias(
                "ci_lo_cents"
            ),
            F.min(F.when(F.col("cum") >= F.col("hi_rank"), F.col("cents"))).alias(
                "ci_hi_cents"
            ),
        )
        .select(
            F.col("nr").alias("n_orders"),
            "median_cents",
            "ci_lo_cents",
            "ci_hi_cents",
            "lo_rank",
            "hi_rank",
        )
    )


# ---------------------------------------------------------------------------
# Quantile-based shape: Bowley skewness and Moors kurtosis
# ---------------------------------------------------------------------------

_SHAPE_ORACLE = """
WITH v AS (
  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
         CAST(count(*) AS BIGINT) AS c
  FROM orders GROUP BY cents
),
cw AS (
  SELECT cents,
         CAST(sum(c) OVER (ORDER BY cents ROWS BETWEEN UNBOUNDED
              PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
         CAST(sum(c) OVER () AS BIGINT) AS n
  FROM v
),
oct AS (
  SELECT d.q,
         min(CASE WHEN 8 * cw.cum >= d.q * cw.n THEN cw.cents END) AS e
  FROM cw CROSS JOIN (SELECT unnest(range(1, 8)) AS q) d
  GROUP BY d.q
),
p AS (
  SELECT max(CASE WHEN q = 1 THEN e END) AS e1,
         max(CASE WHEN q = 2 THEN e END) AS e2,
         max(CASE WHEN q = 3 THEN e END) AS e3,
         max(CASE WHEN q = 4 THEN e END) AS e4,
         max(CASE WHEN q = 5 THEN e END) AS e5,
         max(CASE WHEN q = 6 THEN e END) AS e6,
         max(CASE WHEN q = 7 THEN e END) AS e7
  FROM oct
)
SELECT e1 AS octile1_cents, e2 AS q1_cents, e4 AS median_cents,
       e6 AS q3_cents, e7 AS octile7_cents,
       round(CAST(e6 + e2 - 2 * e4 AS DOUBLE) / (e6 - e2), 6)
         AS bowley_skewness,
       round(CAST((e7 - e5) + (e3 - e1) AS DOUBLE) / (e6 - e2), 6)
         AS moors_kurtosis
FROM p
"""


@register("order_value_quantile_shape", oracle=_SHAPE_ORACLE, tags=("stats",))
def order_value_quantile_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile-based shape of the order-value distribution: Bowley
    skewness (Q3 + Q1 − 2·median)/(Q3 − Q1) and Moors kurtosis
    ((E7−E5) + (E3−E1))/(E6−E2) from exact octiles — the shape
    measures a single whale order CANNOT move, unlike
    order_value_moments' third and fourth moments (which a heavy tail
    owns outright). Moors ≈ 1.23 is the normal reference; higher
    means fatter octile tails.

    Determinism: all seven octiles are exact order statistics
    selected by cross-multiplied integer ranks (8·cum ≥ q·n) on the
    value-count frame; the two ratios divide once.

    Scale notes: one fact scan to the money-domain value-count frame;
    the octile fold is a 7-row broadcast cross join.
    """
    o = _t(spark, sf_dir, "orders")
    v = (
        o.select(F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"))
        .groupBy("cents")
        .agg(F.count("*").cast("long").alias("c"))
    )
    w_cum = Window.orderBy("cents").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cw = v.select(
        "cents",
        F.sum("c").over(w_cum).cast("long").alias("cum"),
        F.sum("c").over(Window.partitionBy()).cast("long").alias("n"),
    )
    octs = spark.range(1, 8).select(F.col("id").cast("long").alias("q"))
    oct_f = (
        cw.crossJoin(octs)
        .groupBy("q")
        .agg(
            F.min(
                F.when(
                    F.lit(8) * F.col("cum") >= F.col("q") * F.col("n"), F.col("cents")
                )
            ).alias("e")
        )
    )

    def e(q):
        return F.max(F.when(F.col("q") == q, F.col("e")))

    p = oct_f.agg(
        e(1).alias("e1"),
        e(2).alias("e2"),
        e(3).alias("e3"),
        e(4).alias("e4"),
        e(5).alias("e5"),
        e(6).alias("e6"),
        e(7).alias("e7"),
    )
    return p.select(
        F.col("e1").alias("octile1_cents"),
        F.col("e2").alias("q1_cents"),
        F.col("e4").alias("median_cents"),
        F.col("e6").alias("q3_cents"),
        F.col("e7").alias("octile7_cents"),
        F.round(
            (F.col("e6") + F.col("e2") - 2 * F.col("e4")).cast("double")
            / (F.col("e6") - F.col("e2")),
            6,
        ).alias("bowley_skewness"),
        F.round(
            ((F.col("e7") - F.col("e5")) + (F.col("e3") - F.col("e1"))).cast("double")
            / (F.col("e6") - F.col("e2")),
            6,
        ).alias("moors_kurtosis"),
    )


# ---------------------------------------------------------------------------
# Cramér's V and Goodman-Kruskal lambda: priority x segment
# ---------------------------------------------------------------------------

_ASSOC_ORACLE = """
WITH t AS (
  SELECT o.o_orderpriority AS prio, c.c_mktsegment AS seg,
         CAST(count(*) AS BIGINT) AS n
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
  GROUP BY prio, seg
),
-- densified table: zero cells contribute (0-E)^2/E = E to chi2
dense AS (
  SELECT p.prio, s.seg, COALESCE(t.n, 0) AS n
  FROM (SELECT DISTINCT prio FROM t) p
  CROSS JOIN (SELECT DISTINCT seg FROM t) s
  LEFT JOIN t ON t.prio = p.prio AND t.seg = s.seg
),
m AS (
  SELECT prio, seg, n,
         CAST(sum(n) OVER (PARTITION BY prio) AS BIGINT) AS rn,
         CAST(sum(n) OVER (PARTITION BY seg) AS BIGINT) AS cn,
         CAST(sum(n) OVER () AS BIGINT) AS tot
  FROM dense
),
chi AS (
  SELECT sum((CAST(n AS DOUBLE)
              - CAST(rn AS DOUBLE) * cn / tot)
             * (CAST(n AS DOUBLE) - CAST(rn AS DOUBLE) * cn / tot)
             / (CAST(rn AS DOUBLE) * cn / tot)) AS chi2,
         max(tot) AS tot,
         CAST(count(DISTINCT prio) AS BIGINT) AS r,
         CAST(count(DISTINCT seg) AS BIGINT) AS c
  FROM m
),
lam AS (
  SELECT (SELECT CAST(sum(col_max) AS BIGINT)
          FROM (SELECT seg, max(n) AS col_max FROM dense GROUP BY seg))
           AS sum_col_max,
         (SELECT CAST(max(rn) AS BIGINT)
          FROM (SELECT prio, sum(n) AS rn FROM dense GROUP BY prio))
           AS overall_max
)
SELECT chi.tot AS n_orders, chi.r AS n_priorities, chi.c AS n_segments,
       round(chi.chi2, 4) AS chi2,
       round(sqrt(chi.chi2 / (chi.tot
             * (CASE WHEN chi.r < chi.c THEN chi.r ELSE chi.c END - 1))),
             6) AS cramers_v,
       lam.sum_col_max, lam.overall_max,
       round(CAST(lam.sum_col_max - lam.overall_max AS DOUBLE)
             / (chi.tot - lam.overall_max), 6) AS gk_lambda
FROM chi CROSS JOIN lam
"""


@register("priority_segment_association", oracle=_ASSOC_ORACLE,
          tags=("stats",))
def priority_segment_association(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Categorical association between order priority and customer
    segment: Cramér's V (the [0,1]-normalized χ² — HOW STRONG, where
    priority_status_chi2 only answers "dependent?") and
    Goodman-Kruskal λ (predicting priority FROM segment: the
    proportional reduction in guessing error versus always guessing
    the modal priority — λ = 0 means the segment tells you nothing
    actionable even if χ² is "significant" at scale, the classic
    big-n trap). λ's numerator and denominator are EXACT integers:
    Σ per-segment modal counts minus the global modal row total.

    Determinism: the contingency table and all marginals are exact
    integer folds; χ² expectation terms are identical double trees
    over the ≤25-cell frame (order-independent at the 1e-16 level
    against rounding at 4); λ is exact integers divided once; V is
    one √ tree.

    Scale notes: one fact scan with a broadcast segment join folds
    map-side to ≤25 cells; everything after is bounded.
    """
    o = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    t = (
        o.select("o_custkey", "o_orderpriority")
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy(
            F.col("o_orderpriority").alias("prio"),
            F.col("c_mktsegment").alias("seg"),
        )
        .agg(F.count("*").cast("long").alias("n"))
    ).localCheckpoint(eager=False)  # A/B sf1: 1.00 s with, 1.25 s without
    # densify: zero cells contribute (0-E)^2/E = E (the batch-34 advice)
    dense = (
        t.select("prio").distinct()
        .crossJoin(t.select("seg").distinct())
        .join(t, ["prio", "seg"], "left")
        .select("prio", "seg", F.coalesce(F.col("n"), F.lit(0)).alias("n"))
        .localCheckpoint(eager=False)  # A/B sf0.1: 0.58 s with, 0.74 s without
    )
    w_r = Window.partitionBy("prio")
    w_c = Window.partitionBy("seg")
    w_all = Window.partitionBy()
    m = dense.select(
        "prio",
        "seg",
        "n",
        F.sum("n").over(w_r).cast("long").alias("rn"),
        F.sum("n").over(w_c).cast("long").alias("cn"),
        F.sum("n").over(w_all).cast("long").alias("tot"),
    )
    exp = F.col("rn").cast("double") * F.col("cn") / F.col("tot")
    chi = m.agg(
        F.sum((F.col("n").cast("double") - exp) * (F.col("n") - exp) / exp).alias("chi2"),
        F.max("tot").alias("tot"),
        F.countDistinct("prio").cast("long").alias("r"),
        F.countDistinct("seg").cast("long").alias("c"),
    )
    lam = (
        dense.groupBy("seg")
        .agg(F.max("n").alias("col_max"))
        .agg(F.sum("col_max").cast("long").alias("sum_col_max"))
    )
    row_max = (
        dense.groupBy("prio")
        .agg(F.sum("n").alias("rn"))
        .agg(F.max("rn").cast("long").alias("overall_max"))
    )
    return (
        chi.crossJoin(lam)
        .crossJoin(row_max)
        .select(
            F.col("tot").alias("n_orders"),
            F.col("r").alias("n_priorities"),
            F.col("c").alias("n_segments"),
            F.round("chi2", 4).alias("chi2"),
            F.round(
                F.sqrt(
                    F.col("chi2")
                    / (F.col("tot") * (F.least("r", "c") - 1))
                ),
                6,
            ).alias("cramers_v"),
            "sum_col_max",
            "overall_max",
            F.round(
                (F.col("sum_col_max") - F.col("overall_max")).cast("double")
                / (F.col("tot") - F.col("overall_max")),
                6,
            ).alias("gk_lambda"),
        )
    )
