"""Round-6 additions, batch 81: the nonparametric location/trend/
randomness quartet — Mood's median test across order priorities (the
k-sample location test that only needs counts above the grand median,
robust to any value distribution), the Friedman test on weekday ranks
within complete calendar weeks (the repeated-measures ANOVA twin:
does weekday move revenue once each week is its own block?), the
Cox-Stuart trend test on weekly revenue (a sign test on first-half /
second-half pairs — the simplest distribution-free trend detector),
and the Bartels rank von Neumann ratio (the rank version of the
successive-difference randomness test — sensitive to serial
dependence the runs test misses).

Determinism discipline: the grand median and every rank are exact
integer order statistics off value-count identities (avg ranks carried
as exact integer DOUBLED ranks R2 = 2·cum − ties + 1, so tie-averaged
ranks never touch a float until the final statistic); all squared rank
accumulations run in DECIMAL(38,0); sign pairs compare integers; each
output float is one rounded double with textually identical trees on
both engines.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from grocery_store_sales_forecasting_etl_pipeline_spark.plans._tables import table as _t
from grocery_store_sales_forecasting_etl_pipeline_spark.plans.registry import register
from grocery_store_sales_forecasting_etl_pipeline_spark.plans.relational15 import (
    _WEEKLY_CTE,
    _weekly_dollars,
)


# ---------------------------------------------------------------------------
# Mood's median test: order value by priority
# ---------------------------------------------------------------------------

_MOOD_ORACLE = """
WITH c AS (
  SELECT o_orderpriority AS prio,
         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders
),
v AS (SELECT cents, CAST(count(*) AS BIGINT) AS cnt FROM c GROUP BY cents),
cw AS (
  SELECT cents,
         CAST(sum(cnt) OVER (ORDER BY cents
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
         CAST(sum(cnt) OVER () AS BIGINT) AS n
  FROM v
),
med AS (SELECT min(CASE WHEN cum >= (n + 1) // 2 THEN cents END) AS m FROM cw),
g AS (
  SELECT c.prio, CAST(count(*) AS BIGINT) AS n_i,
         CAST(sum(CASE WHEN c.cents > med.m THEN 1 ELSE 0 END) AS BIGINT) AS a_i,
         max(med.m) AS m
  FROM c CROSS JOIN med GROUP BY c.prio
),
t AS (SELECT CAST(sum(n_i) AS BIGINT) AS n, CAST(sum(a_i) AS BIGINT) AS a FROM g)
SELECT g.prio AS priority, g.n_i AS n_orders, g.a_i AS n_above, g.m AS grand_median_cents,
       round(CAST(g.n_i AS DOUBLE) * t.a / t.n, 6) AS exp_above,
       round((g.a_i - CAST(g.n_i AS DOUBLE) * t.a / t.n)
             * (g.a_i - CAST(g.n_i AS DOUBLE) * t.a / t.n)
             / (CAST(g.n_i AS DOUBLE) * t.a / t.n)
           + ((g.n_i - g.a_i) - CAST(g.n_i AS DOUBLE) * (t.n - t.a) / t.n)
             * ((g.n_i - g.a_i) - CAST(g.n_i AS DOUBLE) * (t.n - t.a) / t.n)
             / (CAST(g.n_i AS DOUBLE) * (t.n - t.a) / t.n), 6) AS chi2_contrib
FROM g CROSS JOIN t
"""


@register("priority_value_mood_median", oracle=_MOOD_ORACLE, tags=("stats",))
def priority_value_mood_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mood's median test for order value across the five order
    priorities: exact grand (lower) median of o_totalprice in cents,
    then the 2×k contingency of above-median vs at-or-below counts per
    priority, emitting each priority's observed/expected above-median
    count and its χ² contribution (sum them for the k−1 df statistic).
    The coarsest, most assumption-free of the k-sample location tests
    — pairs with priority_price_kruskal_wallis (rank-based) and
    weekday_revenue_anova (moment-based).

    Determinism: the grand median is the smallest value whose
    cumulative count reaches ⌈n/2⌉ on an integer value-count frame;
    group counts are exact BIGINTs; expected counts and contributions
    are identical double trees rounded once (squares spelled as d*d —
    no power() divergence).

    Scale notes: the value-count fold is map-side; the cumulative
    window runs over distinct cent values; the group fold is a
    5-partition shuffle; the median joins in as a broadcast scalar.
    """
    c = _t(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("prio"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    v = c.groupBy("cents").agg(F.count("*").cast("long").alias("cnt"))
    w_cum = Window.orderBy("cents").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    w_all = Window.partitionBy()
    cw = v.select(
        "cents",
        F.sum("cnt").over(w_cum).cast("long").alias("cum"),
        F.sum("cnt").over(w_all).cast("long").alias("n"),
    )
    med = cw.agg(
        F.min(
            F.when(F.col("cum") >= F.expr("(n + 1) DIV 2"), F.col("cents"))
        ).alias("m")
    )
    g = (
        c.crossJoin(med)
        .groupBy("prio")
        .agg(
            F.count("*").cast("long").alias("n_i"),
            F.sum(F.when(F.col("cents") > F.col("m"), 1).otherwise(0))
            .cast("long")
            .alias("a_i"),
            F.max("m").alias("m"),
        )
    )
    t = g.agg(
        F.sum("n_i").cast("long").alias("n"), F.sum("a_i").cast("long").alias("a")
    )
    exp_a = F.col("n_i").cast("double") * F.col("a") / F.col("n")
    exp_b = F.col("n_i").cast("double") * (F.col("n") - F.col("a")) / F.col("n")
    d_a = F.col("a_i") - exp_a
    d_b = (F.col("n_i") - F.col("a_i")) - exp_b
    return g.crossJoin(t).select(
        F.col("prio").alias("priority"),
        F.col("n_i").alias("n_orders"),
        F.col("a_i").alias("n_above"),
        F.col("m").alias("grand_median_cents"),
        F.round(exp_a, 6).alias("exp_above"),
        F.round(d_a * d_a / exp_a + d_b * d_b / exp_b, 6).alias("chi2_contrib"),
    )


# ---------------------------------------------------------------------------
# Friedman test: weekday effect within complete calendar weeks
# ---------------------------------------------------------------------------

_FRIEDMAN_ORACLE = """
WITH daily AS (
  SELECT CAST(date_trunc('week', o_orderdate) AS DATE) AS wk,
         CAST(isodow(CAST(o_orderdate AS DATE)) AS BIGINT) AS dow,
         sum(CAST(round(o_totalprice * 100) AS BIGINT)) // 100 AS dollars
  FROM orders GROUP BY wk, dow
),
full_wk AS (
  SELECT wk FROM daily GROUP BY wk HAVING count(*) = 7
),
blocks AS (
  SELECT d.wk, d.dow, d.dollars FROM daily d JOIN full_wk f ON d.wk = f.wk
),
ranked AS (
  SELECT wk, dow,
         2 * CAST(count(*) OVER (PARTITION BY wk ORDER BY dollars
             RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         - CAST(count(*) OVER (PARTITION BY wk, dollars) AS BIGINT) + 1 AS r2
  FROM blocks
),
per_dow AS (
  SELECT dow, CAST(count(*) AS BIGINT) AS n_blocks,
         CAST(sum(r2) AS BIGINT) AS rank_sum_x2
  FROM ranked GROUP BY dow
),
stat AS (
  SELECT max(n_blocks) AS n,
         CAST(sum(CAST(rank_sum_x2 AS DECIMAL(38,0))
                  * CAST(rank_sum_x2 AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS ss
  FROM per_dow
)
SELECT p.dow AS weekday_iso, p.n_blocks, p.rank_sum_x2,
       round(CAST(p.rank_sum_x2 AS DOUBLE) / (2.0 * p.n_blocks), 6) AS mean_rank,
       round(3.0 * CAST(s.ss AS DOUBLE) / (CAST(s.n AS DOUBLE) * 7.0 * 8.0)
             - 3.0 * CAST(s.n AS DOUBLE) * 8.0, 6) AS friedman_chi2
FROM per_dow p CROSS JOIN stat s
"""


@register("weekday_block_friedman", oracle=_FRIEDMAN_ORACLE, tags=("stats",))
def weekday_block_friedman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Friedman rank test for a weekday effect on daily revenue,
    blocking by calendar week: within each COMPLETE week (all 7 days
    traded) rank the days by revenue, sum ranks per weekday, and form
    χ²_F = 12/(nk(k+1))·ΣR_j² − 3n(k+1) with k = 7. The blocked twin
    of weekday_revenue_anova — week-to-week level shifts cancel by
    construction, so only the WITHIN-week ordering speaks.

    Determinism: tie-averaged ranks are carried as exact integer
    doubled ranks R2 = 2·cum − ties + 1 (cumulative RANGE count minus
    the per-value tie count), so ΣR_j = ΣR2/2 is exact and the χ²
    reduction 3·Σ(R2sum)²/(n·k(k+1)) − 3n(k+1) touches floats once;
    the squared rank-sum accumulates in DECIMAL(38,0) (O(n²·k³) —
    past BIGINT at ~40k blocks); weekday is ISO (Monday=1) on both
    engines (Spark weekday()+1 == DuckDB isodow).

    Scale notes: the day fold is map-side onto a domain-bounded frame;
    ranking windows partition by week (thousands of tiny partitions,
    no global sort); the final fold is 7 rows.
    """
    o = _t(spark, sf_dir, "orders")
    daily = (
        o.select(
            F.date_trunc("week", "o_orderdate").cast("date").alias("wk"),
            (F.weekday(F.col("o_orderdate").cast("date")) + 1)
            .cast("long")
            .alias("dow"),
            F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        )
        .groupBy("wk", "dow")
        .agg(F.expr("sum(cents) DIV 100").alias("dollars"))
    )
    full_wk = daily.groupBy("wk").agg(F.count("*").alias("nd")).filter(F.col("nd") == 7)
    blocks = daily.join(full_wk.select("wk"), "wk")
    w_cum = (
        Window.partitionBy("wk")
        .orderBy("dollars")
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_tie = Window.partitionBy("wk", "dollars")
    ranked = blocks.select(
        "dow",
        (
            F.lit(2) * F.count("*").over(w_cum).cast("long")
            - F.count("*").over(w_tie).cast("long")
            + 1
        ).alias("r2"),
    )
    per_dow = ranked.groupBy("dow").agg(
        F.count("*").cast("long").alias("n_blocks"),
        F.sum("r2").cast("long").alias("rank_sum_x2"),
    )
    stat = per_dow.agg(
        F.max("n_blocks").alias("n"),
        F.sum(
            F.col("rank_sum_x2").cast("decimal(38,0)")
            * F.col("rank_sum_x2").cast("decimal(38,0)")
        ).alias("ss"),
    )
    return per_dow.crossJoin(stat).select(
        F.col("dow").alias("weekday_iso"),
        "n_blocks",
        "rank_sum_x2",
        F.round(
            F.col("rank_sum_x2").cast("double") / (F.lit(2.0) * F.col("n_blocks")), 6
        ).alias("mean_rank"),
        F.round(
            F.lit(3.0)
            * F.col("ss").cast("double")
            / (F.col("n").cast("double") * F.lit(7.0) * F.lit(8.0))
            - F.lit(3.0) * F.col("n").cast("double") * F.lit(8.0),
            6,
        ).alias("friedman_chi2"),
    )


# ---------------------------------------------------------------------------
# Cox-Stuart trend test on weekly revenue
# ---------------------------------------------------------------------------

_COX_STUART_ORACLE = _WEEKLY_CTE + """,
rn AS (
  SELECT dollars,
         CAST(row_number() OVER (ORDER BY week_start) AS BIGINT) AS i,
         CAST(count(*) OVER () AS BIGINT) AS n
  FROM weekly
),
pairs AS (
  SELECT a.dollars AS x1, b.dollars AS x2
  FROM rn a JOIN rn b ON b.i = a.i + (a.n + 1) // 2
  WHERE a.i <= a.n // 2
)
SELECT max(rn.n) AS n_weeks,
       CAST(sum(CASE WHEN p.x2 <> p.x1 THEN 1 ELSE 0 END) AS BIGINT) AS n_pairs,
       CAST(sum(CASE WHEN p.x2 > p.x1 THEN 1 ELSE 0 END) AS BIGINT) AS n_plus,
       CAST(sum(CASE WHEN p.x2 < p.x1 THEN 1 ELSE 0 END) AS BIGINT) AS n_minus,
       round((sum(CASE WHEN p.x2 > p.x1 THEN 1 ELSE 0 END)
              - sum(CASE WHEN p.x2 <> p.x1 THEN 1 ELSE 0 END) / 2.0)
             / sqrt(sum(CASE WHEN p.x2 <> p.x1 THEN 1 ELSE 0 END) / 4.0), 6) AS z_stat
FROM pairs p CROSS JOIN (SELECT max(n) AS n FROM rn) rn
"""


@register("weekly_revenue_cox_stuart", oracle=_COX_STUART_ORACLE, tags=("stats",))
def weekly_revenue_cox_stuart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cox-Stuart trend test on weekly revenue: pair week i with week
    i + ⌈n/2⌉ (the middle week sits out when n is odd), count sign-ups
    vs sign-downs, and z-score the plus count against Binomial(m, ½).
    The sign-test-grade trend detector — zero distributional
    assumptions, complements Mann-Kendall (which uses ALL O(n²) pairs;
    Cox-Stuart uses the n/2 maximally-separated ones).

    Determinism: pairing is an integer rank self-join (row_number over
    the unique week_start order — no ties possible); tied pairs are
    excluded per the standard definition; counts are exact BIGINTs and
    z is one rounded double.

    Scale notes: the weekly fold is map-side onto a domain-bounded
    frame; the self-join runs over hundreds of rows.
    """
    weekly = _weekly_dollars(spark, sf_dir)
    w = Window.orderBy("week_start")
    w_all = Window.partitionBy()
    rn = weekly.select(
        "dollars",
        F.row_number().over(w).cast("long").alias("i"),
        F.count("*").over(w_all).cast("long").alias("n"),
    )
    a = rn.alias("a")
    b = rn.alias("b")
    pairs = a.join(
        b,
        F.col("b.i") == F.col("a.i") + F.expr("(a.n + 1) DIV 2"),
    ).filter(F.col("a.i") <= F.expr("a.n DIV 2")).select(
        F.col("a.dollars").alias("x1"),
        F.col("b.dollars").alias("x2"),
    )
    n_df = rn.agg(F.max("n").alias("n"))
    m = F.sum(F.when(F.col("x2") != F.col("x1"), 1).otherwise(0))
    plus = F.sum(F.when(F.col("x2") > F.col("x1"), 1).otherwise(0))
    return pairs.crossJoin(n_df).agg(
        F.max("n").alias("n_weeks"),
        m.cast("long").alias("n_pairs"),
        plus.cast("long").alias("n_plus"),
        F.sum(F.when(F.col("x2") < F.col("x1"), 1).otherwise(0))
        .cast("long")
        .alias("n_minus"),
        F.round((plus - m / F.lit(2.0)) / F.sqrt(m / F.lit(4.0)), 6).alias("z_stat"),
    )


# ---------------------------------------------------------------------------
# Bartels rank von Neumann ratio on weekly revenue
# ---------------------------------------------------------------------------

_BARTELS_ORACLE = _WEEKLY_CTE + """,
ranked AS (
  SELECT week_start,
         2 * CAST(count(*) OVER (ORDER BY dollars
             RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         - CAST(count(*) OVER (PARTITION BY dollars) AS BIGINT) + 1 AS r2,
         CAST(count(*) OVER () AS BIGINT) AS n
  FROM weekly
),
seq AS (
  SELECT r2, n, lead(r2) OVER (ORDER BY week_start) AS r2_next
  FROM ranked
),
agg AS (
  SELECT max(n) AS n,
         CAST(sum(CASE WHEN r2_next IS NOT NULL
                  THEN CAST(r2 - r2_next AS DECIMAL(38,0))
                       * CAST(r2 - r2_next AS DECIMAL(38,0)) END)
              AS DECIMAL(38,0)) AS num4,
         CAST(sum(CAST(r2 - (n + 1) AS DECIMAL(38,0))
                  * CAST(r2 - (n + 1) AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS den4
  FROM seq
)
SELECT n AS n_weeks,
       round(CAST(num4 AS DOUBLE) / CAST(den4 AS DOUBLE), 6) AS rvn,
       round((CAST(num4 AS DOUBLE) / CAST(den4 AS DOUBLE) - 2.0)
             / sqrt(4.0 * (n - 2.0) * (5.0 * n * n - 2.0 * n - 9.0)
                    / (5.0 * n * (n + 1.0) * (n - 1.0) * (n - 1.0))), 6) AS z_stat
FROM agg
"""


@register("weekly_revenue_bartels_rank", oracle=_BARTELS_ORACLE, tags=("stats",))
def weekly_revenue_bartels_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bartels rank von Neumann ratio on weekly revenue: replace the
    series by its ranks, take RVN = Σ(r_i − r_{i+1})² / Σ(r_i − r̄)²,
    and z-score against E[RVN] = 2 with the exact finite-sample
    variance 4(n−2)(5n²−2n−9)/(5n(n+1)(n−1)²). RVN ≪ 2 means positive
    serial dependence (trending/sticky), ≫ 2 rapid alternation — the
    rank-robust cousin of the Durbin-Watson statistic already
    registered on the trend residuals.

    Determinism: tie-averaged ranks carried as exact integer doubled
    ranks (R2 = 2·cum − ties + 1); mean doubled rank is exactly n+1,
    so both quadratic forms are integer sums accumulated in
    DECIMAL(38,0) (num4/den4 = 4× the rank sums — the ratio cancels
    the 4); two rounded doubles out.

    Scale notes: weekly fold map-side; all windows over hundreds of
    rows.
    """
    weekly = _weekly_dollars(spark, sf_dir)
    w_cum = Window.orderBy("dollars").rangeBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_tie = Window.partitionBy("dollars")
    w_all = Window.partitionBy()
    ranked = weekly.select(
        "week_start",
        (
            F.lit(2) * F.count("*").over(w_cum).cast("long")
            - F.count("*").over(w_tie).cast("long")
            + 1
        ).alias("r2"),
        F.count("*").over(w_all).cast("long").alias("n"),
    )
    w_seq = Window.orderBy("week_start")
    seq = ranked.select("r2", "n", F.lead("r2").over(w_seq).alias("r2_next"))
    agg = seq.agg(
        F.max("n").alias("n"),
        F.sum(
            F.when(
                F.col("r2_next").isNotNull(),
                (F.col("r2") - F.col("r2_next")).cast("decimal(38,0)")
                * (F.col("r2") - F.col("r2_next")).cast("decimal(38,0)"),
            )
        ).alias("num4"),
        F.sum(
            (F.col("r2") - (F.col("n") + 1)).cast("decimal(38,0)")
            * (F.col("r2") - (F.col("n") + 1)).cast("decimal(38,0)")
        ).alias("den4"),
    )
    rvn = F.col("num4").cast("double") / F.col("den4").cast("double")
    n_d = F.col("n").cast("double")
    return agg.select(
        F.col("n").alias("n_weeks"),
        F.round(rvn, 6).alias("rvn"),
        F.round(
            (rvn - F.lit(2.0))
            / F.sqrt(
                F.lit(4.0)
                * (n_d - 2.0)
                * (F.lit(5.0) * n_d * n_d - F.lit(2.0) * n_d - 9.0)
                / (F.lit(5.0) * n_d * (n_d + 1.0) * (n_d - 1.0) * (n_d - 1.0))
            ),
            6,
        ).alias("z_stat"),
    )
