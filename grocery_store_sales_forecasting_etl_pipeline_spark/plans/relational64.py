"""Round-6 additions, batch 64: distribution-shape and trend testing —
the Mann-Kendall monotone-trend test on weekly revenue (the
nonparametric twin of theil_sen_weekly_trend: S-statistic sign fold
with tie-corrected variance), a Kruskal-Wallis k-sample rank test of
order value across the five priorities (the nonparametric twin of
weekday_revenue_anova: does ANY priority shift the price distribution,
no normality assumed), a Gumbel extreme-value fit to monthly peak
daily revenue (block-maxima method of moments — the capacity-planning
question "how big is a 1-in-12-months day?"), and exact higher moments
(skewness, excess kurtosis, Jarque-Bera) of order value per priority
from integer power sums.

Determinism discipline (batch-27/39 rules): the MK S statistic is an
exact BIGINT sign fold over a calendar-bounded pair frame; KW ranks
are integer twice-midranks accumulated in DECIMAL(38,0)/HUGEINT;
Gumbel moments come from exact dollar sums (HUGEINT squares); the
moment query carries Σx..Σx⁴ as DECIMAL(38,0)/HUGEINT over
floor-dollar values (x⁴ ≤ 9.2e22 per row keeps the sum inside 38
digits past 1e14 rows); every double expression is one textually
identical tree on both sides, rounded once at the boundary.
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

# Euler–Mascheroni constant (Gumbel mean = mu + gamma*beta)
_EULER_GAMMA = "0.5772156649015329"


# ---------------------------------------------------------------------------
# Mann-Kendall monotone trend test on weekly revenue
# ---------------------------------------------------------------------------

_MANN_KENDALL_ORACLE = _WEEKLY_CTE + """,
pairs AS (
  SELECT CAST(sum(CASE WHEN b.dollars > a.dollars THEN 1
                       WHEN b.dollars < a.dollars THEN -1 ELSE 0 END)
              AS BIGINT) AS s,
         CAST(count(*) AS BIGINT) AS n_pairs
  FROM weekly a JOIN weekly b ON a.week_start < b.week_start
),
ties AS (
  SELECT CAST(COALESCE(sum(CAST(t AS HUGEINT) * (t - 1) * (2 * t + 5)), 0)
              AS DECIMAL(38,0)) AS tie_term
  FROM (SELECT CAST(count(*) AS BIGINT) AS t FROM weekly GROUP BY dollars)
  WHERE t > 1
),
n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM weekly)
SELECT n.n AS n_weeks, pairs.s AS s_stat, ties.tie_term AS tie_term,
       round(CAST(pairs.s AS DOUBLE) / (CAST(n.n AS DOUBLE) * (n.n - 1) / 2.0),
             6) AS mk_tau,
       round((CAST(pairs.s AS DOUBLE)
              - CAST(CASE WHEN pairs.s > 0 THEN 1
                          WHEN pairs.s < 0 THEN -1 ELSE 0 END AS DOUBLE))
             / sqrt((CAST(n.n AS DOUBLE) * (n.n - 1) * (2 * n.n + 5)
                     - CAST(ties.tie_term AS DOUBLE)) / 18.0), 4) AS z_stat
FROM pairs, ties, n
"""


@register("weekly_revenue_mann_kendall", oracle=_MANN_KENDALL_ORACLE,
          tags=("timeseries", "stats"))
def weekly_revenue_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall monotone-trend test on the weekly revenue series:
    S = Σ_{i<j} sign(x_j − x_i), the MK tau = S / (n(n−1)/2), and the
    tie-corrected normal z with continuity correction. theil_sen gives
    the robust SLOPE; this gives the hypothesis TEST — "is revenue
    drifting at all?" with no linearity or normality assumption. The
    standard pre-screen before fitting any trend model.

    Determinism: weekly dollars are exact integers (cents summed, DIV
    100); S is a BIGINT sign fold; the tie term t(t−1)(2t+5)
    accumulates in DECIMAL(38,0); tau and z are single double trees
    rounded once. Continuity correction subtracts sign(S).

    Scale notes: the fact folds to the calendar-bounded weekly frame
    (~360 rows at ANY data scale) with map-side partials; the O(n²)
    pair join runs on that tiny frame (≤65k pairs), broadcast on one
    side — the fact itself is scanned exactly once.
    """
    # A/B sf1: 0.57 s with, 1.17 s without
    weekly = _weekly_dollars(spark, sf_dir).localCheckpoint(eager=False)
    a = weekly.select(
        F.col("week_start").alias("ws_a"), F.col("dollars").alias("x_a")
    )
    b = weekly.select(
        F.col("week_start").alias("ws_b"), F.col("dollars").alias("x_b")
    )
    pairs = (
        a.join(b, F.col("ws_a") < F.col("ws_b"))
        .agg(
            F.sum(
                F.when(F.col("x_b") > F.col("x_a"), 1)
                .when(F.col("x_b") < F.col("x_a"), -1)
                .otherwise(0)
            )
            .cast("long")
            .alias("s"),
            F.count("*").cast("long").alias("n_pairs"),
        )
    )
    dec = "decimal(38,0)"
    ties = (
        weekly.groupBy("dollars")
        .agg(F.count("*").cast("long").alias("t"))
        .filter(F.col("t") > 1)
        .agg(
            F.coalesce(
                F.sum(
                    F.col("t").cast(dec)
                    * (F.col("t") - 1)
                    * (F.lit(2) * F.col("t") + 5)
                ),
                F.lit(0),
            )
            .cast(dec)
            .alias("tie_term")
        )
    )
    n = weekly.agg(F.count("*").cast("long").alias("n"))
    j = pairs.crossJoin(ties).crossJoin(n)
    n_d = F.col("n").cast("double")
    s_d = F.col("s").cast("double")
    cc = F.when(F.col("s") > 0, 1).when(F.col("s") < 0, -1).otherwise(0)
    z = (s_d - cc.cast("double")) / F.sqrt(
        (n_d * (F.col("n") - 1) * (F.lit(2) * F.col("n") + 5)
         - F.col("tie_term").cast("double"))
        / F.lit(18.0)
    )
    return j.select(
        F.col("n").alias("n_weeks"),
        F.col("s").alias("s_stat"),
        F.col("tie_term"),
        F.round(s_d / (n_d * (F.col("n") - 1) / F.lit(2.0)), 6).alias("mk_tau"),
        F.round(z, 4).alias("z_stat"),
    )


# ---------------------------------------------------------------------------
# Kruskal-Wallis: order value across the five order priorities
# ---------------------------------------------------------------------------

_KRUSKAL_ORACLE = """
WITH x AS (
  SELECT o_orderpriority AS prio,
         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders
),
g AS (
  SELECT cents, prio, CAST(count(*) AS BIGINT) AS c
  FROM x GROUP BY cents, prio
),
v AS (
  SELECT cents, CAST(sum(c) AS HUGEINT) AS t,
         CAST(COALESCE(sum(sum(c)) OVER (ORDER BY cents
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS HUGEINT) AS cum_before
  FROM g GROUP BY cents
),
r AS (
  SELECT g.prio, g.c,
         CAST(2 * v.cum_before + v.t + 1 AS HUGEINT) AS r2
  FROM g JOIN v ON g.cents = v.cents
),
grp AS (
  SELECT prio, CAST(sum(c) AS BIGINT) AS n_j,
         CAST(sum(CAST(c AS HUGEINT) * r2) AS DECIMAL(38,0)) AS r2_sum
  FROM r GROUP BY prio
),
tie AS (
  SELECT CAST(COALESCE(sum(t * t * t - t), 0) AS DECIMAL(38,0)) AS tie_sum,
         CAST(sum(t) AS BIGINT) AS n
  FROM v
),
h AS (
  SELECT round(
           3.0 / (CAST(tie.n AS DOUBLE) * (tie.n + 1))
           * (SELECT sum(CAST(r2_sum AS DOUBLE) * CAST(r2_sum AS DOUBLE)
                         / CAST(n_j AS DOUBLE)) FROM grp)
           - 3.0 * (tie.n + 1), 4) AS h_raw,
         round((3.0 / (CAST(tie.n AS DOUBLE) * (tie.n + 1))
           * (SELECT sum(CAST(r2_sum AS DOUBLE) * CAST(r2_sum AS DOUBLE)
                         / CAST(n_j AS DOUBLE)) FROM grp)
           - 3.0 * (tie.n + 1))
           / (1.0 - CAST(tie.tie_sum AS DOUBLE)
              / (CAST(tie.n AS DOUBLE) * tie.n * tie.n - tie.n)), 4) AS h_adj
  FROM tie
)
SELECT grp.prio, grp.n_j, grp.r2_sum,
       round(CAST(grp.r2_sum AS DOUBLE) / (2.0 * grp.n_j), 2) AS mean_midrank,
       h.h_raw, h.h_adj
FROM grp, h
"""


@register("priority_price_kruskal_wallis", oracle=_KRUSKAL_ORACLE,
          tags=("stats",))
def priority_price_kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal-Wallis H test of order value across the five order
    priorities: per-priority rank sums and mean midranks, the H
    statistic, and the tie-corrected H — the k-sample generalization
    of ship_delay_rank_sum and the rank-based twin of
    weekday_revenue_anova. Order values are heavy-tailed; the rank
    test is the screen that doesn't care.

    Determinism: ranks are integer twice-midranks on the VALUE-COUNT
    frame (2*cum_before + t + 1 — .5 midranks never touch a float);
    rank sums accumulate c·r2 in DECIMAL(38,0)/HUGEINT (crosses BIGINT
    near n≈2e9, exactly the width the r4 u2_r fix mandated); the tie
    term t³−t likewise; H and H/C are single double trees rounded
    once. mean_midrank = r2_sum/(2·n_j) halves the doubling at the
    output boundary only. The five TPC-H priority literals are pinned
    in the pivot (same set the oracle GROUP BY discovers); a priority
    outside the set would fold into no column — guarded by n == Σn_j
    in the invariant test.

    Scale notes: the priorities pivot into five conditional count
    columns AT the value-count fold, so the plan is one fact scan, one
    keyed fold to price-domain grain, and NO join back to fact grain.
    The cumulative rank offset is a two-level bucketed cumsum ($1000
    buckets: a tiny bucket-offset window plus parallel within-bucket
    windows partitioned by bucket) — the single-partition global
    window the naive rank would need never materializes. Measured at
    sf0.1: 27.7s (fact-grain join-back + decimal windows) → this form;
    the value frame is bounded by the PRICE DOMAIN, not row count.
    """
    o = _t(spark, sf_dir, "orders")
    dec = "decimal(38,0)"
    prios = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    x = o.select(
        F.col("o_orderpriority").alias("prio"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    v5 = x.groupBy("cents").agg(
        F.count("*").cast("long").alias("t"),
        *[
            F.sum(F.when(F.col("prio") == p, 1).otherwise(0))
            .cast("long")
            .alias(f"c{i}")
            for i, p in enumerate(prios)
        ],
    )
    v5 = v5.withColumn("bucket", F.expr("cents DIV 100000"))
    boff = (
        v5.groupBy("bucket")
        .agg(F.sum("t").alias("bt"))
        .select(
            "bucket",
            F.coalesce(
                F.sum("bt").over(
                    Window.orderBy("bucket").rowsBetween(
                        Window.unboundedPreceding, -1
                    )
                ),
                F.lit(0),
            ).alias("bucket_before"),
        )
    )
    w_local = Window.partitionBy("bucket").orderBy("cents").rowsBetween(
        Window.unboundedPreceding, -1
    )
    v = v5.join(boff, "bucket").withColumn(
        "r2",
        F.lit(2)
        * (F.col("bucket_before") + F.coalesce(F.sum("t").over(w_local), F.lit(0)))
        + F.col("t")
        + 1,
    )
    td = F.col("t").cast(dec)
    s = v.agg(
        F.sum("t").cast("long").alias("n"),
        F.sum(td * F.col("t") * F.col("t") - F.col("t")).cast(dec).alias("tie_sum"),
        *[
            F.sum(F.col(f"c{i}")).cast("long").alias(f"n{i}")
            for i in range(len(prios))
        ],
        *[
            F.sum(F.col(f"c{i}").cast(dec) * F.col("r2")).cast(dec).alias(f"r{i}")
            for i in range(len(prios))
        ],
    )
    n_d = F.col("n").cast("double")
    s_r2 = None
    for i in range(len(prios)):
        term = (
            F.col(f"r{i}").cast("double")
            * F.col(f"r{i}").cast("double")
            / F.col(f"n{i}").cast("double")
        )
        s_r2 = term if s_r2 is None else s_r2 + term
    h_raw = F.lit(3.0) / (n_d * (F.col("n") + 1)) * s_r2 - F.lit(3.0) * (
        F.col("n") + 1
    )
    h_adj = h_raw / (
        F.lit(1.0)
        - F.col("tie_sum").cast("double")
        / (n_d * F.col("n") * F.col("n") - F.col("n"))
    )
    wide = s.select(
        *[F.col(f"n{i}") for i in range(len(prios))],
        *[F.col(f"r{i}") for i in range(len(prios))],
        F.round(h_raw, 4).alias("h_raw"),
        F.round(h_adj, 4).alias("h_adj"),
    )
    stacked = wide.select(
        F.expr(
            "stack({n}, {args}) AS (prio, n_j, r2_sum)".format(
                n=len(prios),
                args=", ".join(
                    f"'{p}', n{i}, r{i}" for i, p in enumerate(prios)
                ),
            )
        ),
        "h_raw",
        "h_adj",
    )
    return stacked.select(
        "prio",
        "n_j",
        F.col("r2_sum").cast(dec).alias("r2_sum"),
        F.round(F.col("r2_sum").cast("double") / (F.lit(2.0) * F.col("n_j")), 2)
        .alias("mean_midrank"),
        "h_raw",
        "h_adj",
    )


# ---------------------------------------------------------------------------
# Gumbel fit to monthly maxima of daily revenue (block maxima / MoM)
# ---------------------------------------------------------------------------

_GUMBEL_ORACLE = """
WITH daily AS (
  SELECT o_orderdate AS d,
         sum(CAST(round(o_totalprice * 100) AS BIGINT)) // 100 AS dollars
  FROM orders GROUP BY d
),
blocks AS (
  SELECT CAST(date_trunc('month', d) AS DATE) AS month_start,
         max(dollars) AS block_max
  FROM daily GROUP BY month_start
),
s AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(block_max AS HUGEINT)) AS DECIMAL(38,0)) AS sx,
         CAST(sum(CAST(block_max AS HUGEINT) * block_max) AS DECIMAL(38,0))
           AS sxx
  FROM blocks
)
SELECT n AS n_blocks,
       round(CAST(sx AS DOUBLE) / n, 2) AS mean_max,
       round(sqrt((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n)
                  / (n - 1)), 2) AS sd_max,
       round(sqrt((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n)
                  / (n - 1)) * sqrt(6.0) / pi(), 2) AS beta,
       round(CAST(sx AS DOUBLE) / n
             - sqrt((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n)
                    / (n - 1)) * sqrt(6.0) / pi() * {g}, 2) AS mu,
       round((CAST(sx AS DOUBLE) / n
             - sqrt((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n)
                    / (n - 1)) * sqrt(6.0) / pi() * {g})
             - sqrt((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n)
                    / (n - 1)) * sqrt(6.0) / pi() * ln(ln(12.0 / 11.0)), 2)
         AS return_level_12
FROM s
""".format(g=_EULER_GAMMA)


@register("monthly_max_gumbel_fit", oracle=_GUMBEL_ORACLE,
          tags=("timeseries", "stats"))
def monthly_max_gumbel_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gumbel extreme-value fit to monthly maxima of daily revenue by
    the block-maxima method of moments: β̂ = s·√6/π, μ̂ = x̄ − γβ̂
    (γ = Euler–Mascheroni), and the 12-block return level
    μ̂ − β̂·ln(ln(12/11)) — "how big a peak day should capacity
    planning expect once a year?". Hill/Weibull (batch 62) fit the
    TAIL of all values; this fits the distribution of block EXTREMES —
    the Fisher–Tippett domain where daily sums land.

    Determinism: daily dollars are exact integers (cents summed, DIV
    100); block maxima are exact; Σx and Σx² over the ~84 blocks
    accumulate in HUGEINT/DECIMAL(38,0); every emitted statistic is a
    single textually identical double tree (sample variance, n−1)
    rounded once. γ is a shared 16-digit literal.

    Scale notes: the fact folds to the calendar-bounded daily frame
    (~2.4k rows at ANY scale) with map-side partials, then to ~84
    monthly blocks; the moment fold is one row. One fact scan total.
    """
    o = _t(spark, sf_dir, "orders")
    dec = "decimal(38,0)"
    daily = (
        o.select(
            F.col("o_orderdate").alias("d"),
            F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        )
        .groupBy("d")
        .agg(F.expr("sum(cents) DIV 100").alias("dollars"))
    )
    blocks = (
        daily.select(
            F.date_trunc("month", "d").cast("date").alias("month_start"),
            "dollars",
        )
        .groupBy("month_start")
        .agg(F.max("dollars").alias("block_max"))
    )
    s = blocks.agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.col("block_max").cast(dec)).cast(dec).alias("sx"),
        F.sum(F.col("block_max").cast(dec) * F.col("block_max"))
        .cast(dec)
        .alias("sxx"),
    )
    n_d = F.col("n").cast("double")
    mean = F.col("sx").cast("double") / F.col("n")
    sd = F.sqrt(
        (F.col("sxx").cast("double") - F.col("sx").cast("double") * F.col("sx") / F.col("n"))
        / (F.col("n") - 1)
    )
    beta = sd * F.sqrt(F.lit(6.0)) / F.lit(3.141592653589793)
    mu = mean - beta * F.lit(float(_EULER_GAMMA))
    rl12 = mu - beta * F.log(F.log(F.lit(12.0) / F.lit(11.0)))
    return s.select(
        F.col("n").alias("n_blocks"),
        F.round(mean, 2).alias("mean_max"),
        F.round(sd, 2).alias("sd_max"),
        F.round(beta, 2).alias("beta"),
        F.round(mu, 2).alias("mu"),
        F.round(rl12, 2).alias("return_level_12"),
    )


# ---------------------------------------------------------------------------
# Exact higher moments of order value per priority (skew/kurtosis/JB)
# ---------------------------------------------------------------------------

_MOMENTS_ORACLE = """
WITH x AS (
  SELECT o_orderpriority AS prio,
         CAST(round(o_totalprice * 100) AS BIGINT) // 100 AS v
  FROM orders
),
s AS (
  SELECT prio, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(v AS HUGEINT)) AS DECIMAL(38,0)) AS s1,
         CAST(sum(CAST(v AS HUGEINT) * v) AS DECIMAL(38,0)) AS s2,
         CAST(sum(CAST(v AS HUGEINT) * v * v) AS DECIMAL(38,0)) AS s3,
         CAST(sum(CAST(v AS HUGEINT) * v * v * v) AS DECIMAL(38,0)) AS s4
  FROM x GROUP BY prio
),
m AS (
  SELECT prio, n, s1,
         CAST(s1 AS DOUBLE) / n AS m1,
         CAST(s2 AS DOUBLE) / n
           - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n) AS m2,
         CAST(s3 AS DOUBLE) / n
           - 3.0 * (CAST(s1 AS DOUBLE) / n) * (CAST(s2 AS DOUBLE) / n)
           + 2.0 * (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)
             * (CAST(s1 AS DOUBLE) / n) AS m3,
         CAST(s4 AS DOUBLE) / n
           - 4.0 * (CAST(s1 AS DOUBLE) / n) * (CAST(s3 AS DOUBLE) / n)
           + 6.0 * (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)
             * (CAST(s2 AS DOUBLE) / n)
           - 3.0 * (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)
             * (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n) AS m4
  FROM s
)
SELECT prio, n,
       round(m1, 2) AS mean_dollars,
       round(m3 / (m2 * sqrt(m2)), 6) AS skewness,
       round(m4 / (m2 * m2) - 3.0, 6) AS excess_kurtosis,
       round(CAST(n AS DOUBLE) / 6.0
             * ((m3 / (m2 * sqrt(m2))) * (m3 / (m2 * sqrt(m2)))
                + (m4 / (m2 * m2) - 3.0) * (m4 / (m2 * m2) - 3.0) / 4.0), 2)
         AS jarque_bera
FROM m
"""


@register("order_value_moments", oracle=_MOMENTS_ORACLE, tags=("stats",))
def order_value_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact third and fourth standardized moments of order value per
    priority — skewness g1 = m3/m2^1.5, excess kurtosis g2 = m4/m2²−3,
    and the Jarque-Bera normality statistic n/6·(g1² + g2²/4). The
    shape diagnostics the parametric tests upstream (Welch t, ANOVA)
    silently assume away; JB is the gate that says whether their
    normal-theory p-values are trustworthy at all.

    Determinism: values are floor-dollars (exact cents sums, //100 per
    row — the relational15 idiom that sidesteps double .5 rounding);
    the power sums Σv..Σv⁴ are exact DECIMAL(38,0)/HUGEINT integers
    (v⁴ ≤ 9.2e22 per row keeps Σ inside 38 digits past 1e14 rows —
    sf ≈ 1e8, far beyond 100 TB); central moments expand from raw
    moments in ONE textually identical double tree per column, rounded
    once at the boundary.

    Scale notes: one fact scan, one 5-group fold with map-side
    partials, no shuffle beyond the 5-row exchange. The moment
    expansion is driver-free arithmetic on 5 rows.
    """
    o = _t(spark, sf_dir, "orders")
    dec = "decimal(38,0)"
    x = o.select(
        F.col("o_orderpriority").alias("prio"),
        F.expr("CAST(round(o_totalprice * 100) AS BIGINT) DIV 100").alias("v"),
    )
    # per-row powers stay in LONG (v ≤ 5.5e5 dollars so v³ ≤ 1.7e17 fits;
    # v⁴ would overflow, so it is the one decimal multiply: (v²)ᵈᵉᶜ · v²);
    # only the SUMS accumulate in DECIMAL(38,0) — the r5 two-level rule
    v = F.col("v")
    s = x.groupBy("prio").agg(
        F.count("*").cast("long").alias("n"),
        F.sum(v.cast(dec)).cast(dec).alias("s1"),
        F.sum((v * v).cast(dec)).cast(dec).alias("s2"),
        F.sum((v * v * v).cast(dec)).cast(dec).alias("s3"),
        F.sum((v * v).cast(dec) * (v * v)).cast(dec).alias("s4"),
    )
    n_d = F.col("n").cast("double")
    m1 = F.col("s1").cast("double") / F.col("n")
    m2 = F.col("s2").cast("double") / F.col("n") - m1 * m1
    m3 = (
        F.col("s3").cast("double") / F.col("n")
        - F.lit(3.0) * m1 * (F.col("s2").cast("double") / F.col("n"))
        + F.lit(2.0) * m1 * m1 * m1
    )
    m4 = (
        F.col("s4").cast("double") / F.col("n")
        - F.lit(4.0) * m1 * (F.col("s3").cast("double") / F.col("n"))
        + F.lit(6.0) * m1 * m1 * (F.col("s2").cast("double") / F.col("n"))
        - F.lit(3.0) * m1 * m1 * m1 * m1
    )
    g1 = m3 / (m2 * F.sqrt(m2))
    g2 = m4 / (m2 * m2) - F.lit(3.0)
    jb = n_d / F.lit(6.0) * (g1 * g1 + g2 * g2 / F.lit(4.0))
    return s.select(
        "prio",
        "n",
        F.round(m1, 2).alias("mean_dollars"),
        F.round(g1, 6).alias("skewness"),
        F.round(g2, 6).alias("excess_kurtosis"),
        F.round(jb, 2).alias("jarque_bera"),
    )
