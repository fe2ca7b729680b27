"""Round-6 additions, batch 53: distribution-comparison completions —
the population stability index (the model-monitoring drift metric,
with data-dependent decile edges taken from the reference period),
the Brown-Forsythe variance-homogeneity test (the robust Levene
variant — the precondition check for the ANOVA this repo already
ships), Welch's unequal-variance t-test (the two-sample mean test
that doesn't need that precondition), and the Cochran-Armitage trend
test (ordinal dose vs binary response — is return probability
MONOTONE in order priority, not merely dependent on it).

Determinism discipline: PSI edges are exact order statistics at
integer ranks ((k*N+9)//10) pivoted into ONE broadcast row so bin
assignment is pure map-side integer comparison; Brown-Forsythe
medians are lower medians computed on the (group, cents) value-domain
frame (no fact-grain window over 3 skewed partitions); every test
statistic is a single double tree over DECIMAL(38,0)/HUGEINT integer
sufficient statistics, rounded once.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from grocery_store_sales_forecasting_etl_pipeline_spark.plans._tables import table as _t
from grocery_store_sales_forecasting_etl_pipeline_spark.plans.registry import register
from grocery_store_sales_forecasting_etl_pipeline_spark.plans.scalerank import (
    value_cum_counts,
)

# ---------------------------------------------------------------------------
# Population stability index
# ---------------------------------------------------------------------------

_PSI_ORACLE = """
WITH base AS (
  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
         o_orderkey,
         CASE WHEN o_orderdate < TIMESTAMP '1998-01-01' THEN 'a' ELSE 'b' END
           AS period
  FROM orders
),
a AS (SELECT cents, o_orderkey FROM base WHERE period = 'a'),
rk AS (
  SELECT cents,
         CAST(row_number() OVER (ORDER BY cents, o_orderkey) AS BIGINT) AS rn,
         CAST(count(*) OVER () AS BIGINT) AS n
  FROM a
),
edges AS (
  SELECT max(CASE WHEN rn = (1 * n + 9) // 10 THEN cents END) AS e1,
         max(CASE WHEN rn = (2 * n + 9) // 10 THEN cents END) AS e2,
         max(CASE WHEN rn = (3 * n + 9) // 10 THEN cents END) AS e3,
         max(CASE WHEN rn = (4 * n + 9) // 10 THEN cents END) AS e4,
         max(CASE WHEN rn = (5 * n + 9) // 10 THEN cents END) AS e5,
         max(CASE WHEN rn = (6 * n + 9) // 10 THEN cents END) AS e6,
         max(CASE WHEN rn = (7 * n + 9) // 10 THEN cents END) AS e7,
         max(CASE WHEN rn = (8 * n + 9) // 10 THEN cents END) AS e8,
         max(CASE WHEN rn = (9 * n + 9) // 10 THEN cents END) AS e9
  FROM rk
),
binned AS (
  SELECT b.period,
         CAST((CASE WHEN b.cents > e.e1 THEN 1 ELSE 0 END)
            + (CASE WHEN b.cents > e.e2 THEN 1 ELSE 0 END)
            + (CASE WHEN b.cents > e.e3 THEN 1 ELSE 0 END)
            + (CASE WHEN b.cents > e.e4 THEN 1 ELSE 0 END)
            + (CASE WHEN b.cents > e.e5 THEN 1 ELSE 0 END)
            + (CASE WHEN b.cents > e.e6 THEN 1 ELSE 0 END)
            + (CASE WHEN b.cents > e.e7 THEN 1 ELSE 0 END)
            + (CASE WHEN b.cents > e.e8 THEN 1 ELSE 0 END)
            + (CASE WHEN b.cents > e.e9 THEN 1 ELSE 0 END) AS BIGINT) AS bin
  FROM base b CROSS JOIN edges e
),
per AS (
  SELECT bin,
         CAST(sum(CASE WHEN period = 'a' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
         CAST(sum(CASE WHEN period = 'b' THEN 1 ELSE 0 END) AS BIGINT) AS n_b
  FROM binned GROUP BY bin
),
t AS (
  SELECT bin, n_a, n_b,
         CAST(sum(n_a) OVER () AS BIGINT) AS tot_a,
         CAST(sum(n_b) OVER () AS BIGINT) AS tot_b
  FROM per
),
terms AS (
  SELECT bin, n_a, n_b,
         ((n_b + 0.5) / (tot_b + 5.0) - (n_a + 0.5) / (tot_a + 5.0))
         * (ln(n_b + 0.5) - ln(tot_b + 5.0) - ln(n_a + 0.5) + ln(tot_a + 5.0))
           AS psi_term
  FROM t
)
SELECT bin, n_a, n_b,
       round(psi_term, 6) AS psi_term,
       round(sum(psi_term) OVER (), 6) AS psi_total
FROM terms
"""


@register("price_psi_drift", oracle=_PSI_ORACLE, tags=("stats", "ml-eval", "window"))
def price_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population stability index of order value between the
    pre-1998 reference period and the rest: bins are the REFERENCE
    period's exact deciles (the industry convention — edges freeze
    with the model), both periods are binned against them, and
    PSI = Σ (p_b - p_a)·ln(p_b/p_a) with 0.5/5 Laplace smoothing so an
    empty current-period bin cannot blow up the log. The 0.1/0.25
    PSI alert thresholds every scorecard-monitoring runbook quotes
    apply to psi_total.

    Numerics: decile edges are exact order statistics at integer ranks
    (k·N+9)//10 over (cents, orderkey) — no float quantiles; the edge
    row pivots to ONE broadcast row so bin assignment is nine integer
    comparisons inside codegen; the psi terms are identical double
    trees (ln in subtraction form) over exact counts, rounded once.

    Scale notes: the edge at rank r under ORDER BY (cents, orderkey)
    depends only on the value-grain cumulative counts (the orderkey
    tie-break never changes WHICH cents value holds rank r), so edges
    come from scalerank.value_cum_counts — coarse $100-bucket offsets
    on a bounded frame + partitioned within-bucket cumulative, no
    single-partition sort. Bin assignment is map-only against the
    broadcast edge row and the fold is 10 rows. No per-row joins, no
    fact-grain second shuffle.
    """
    o = _t(spark, sf_dir, "orders")
    base = o.select(
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        "o_orderkey",
        F.when(
            F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"),
            F.lit("a"),
        )
        .otherwise(F.lit("b"))
        .alias("period"),
    )
    a = base.filter(F.col("period") == "a")
    cc = value_cum_counts(a.select("cents"), "cents", coarse_div=10000)
    tot = cc.agg(F.sum("c").cast("long").alias("n"))
    edges = cc.crossJoin(tot).agg(
        *[
            F.min(
                F.when(
                    F.col("cum") >= F.floor((k * F.col("n") + 9) / 10),
                    F.col("cents"),
                )
            ).alias(f"e{k}")
            for k in range(1, 10)
        ]
    )
    bin_expr = sum(
        F.when(F.col("cents") > F.col(f"e{k}"), 1).otherwise(0) for k in range(1, 10)
    )
    binned = base.crossJoin(edges).select(
        "period", bin_expr.cast("long").alias("bin")
    )
    per = binned.groupBy("bin").agg(
        F.sum(F.when(F.col("period") == "a", 1).otherwise(0))
        .cast("long")
        .alias("n_a"),
        F.sum(F.when(F.col("period") == "b", 1).otherwise(0))
        .cast("long")
        .alias("n_b"),
    )
    w_all = Window.partitionBy()
    t = per.select(
        "bin",
        "n_a",
        "n_b",
        F.sum("n_a").over(w_all).cast("long").alias("tot_a"),
        F.sum("n_b").over(w_all).cast("long").alias("tot_b"),
    )
    psi_term = (
        (F.col("n_b") + 0.5) / (F.col("tot_b") + 5.0)
        - (F.col("n_a") + 0.5) / (F.col("tot_a") + 5.0)
    ) * (
        F.log(F.col("n_b") + 0.5)
        - F.log(F.col("tot_b") + 5.0)
        - F.log(F.col("n_a") + 0.5)
        + F.log(F.col("tot_a") + 5.0)
    )
    terms = t.select("bin", "n_a", "n_b", psi_term.alias("psi_term"))
    return terms.select(
        "bin",
        "n_a",
        "n_b",
        F.round(F.col("psi_term"), 6).alias("psi_term"),
        F.round(F.sum("psi_term").over(w_all), 6).alias("psi_total"),
    )


# ---------------------------------------------------------------------------
# Brown-Forsythe variance-homogeneity test
# ---------------------------------------------------------------------------

_BF_ORACLE = """
WITH x AS (
  SELECT l_returnflag AS g,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
  FROM lineitem
),
vc AS (
  SELECT g, cents, CAST(count(*) AS BIGINT) AS c FROM x GROUP BY g, cents
),
cum AS (
  SELECT g, cents, c,
         CAST(sum(c) OVER (PARTITION BY g ORDER BY cents
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
         CAST(sum(c) OVER (PARTITION BY g) AS BIGINT) AS n_g
  FROM vc
),
med AS (
  SELECT g, CAST(min(cents) AS BIGINT) AS m
  FROM cum WHERE cum >= (n_g + 1) // 2
  GROUP BY g
),
z AS (
  SELECT x.g, abs(x.cents - med.m) AS z
  FROM x JOIN med ON x.g = med.g
),
st AS (
  SELECT g, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(z AS HUGEINT)) AS HUGEINT) AS s,
         CAST(sum(CAST(z AS HUGEINT) * z) AS HUGEINT) AS q
  FROM z GROUP BY g
),
tot AS (
  SELECT CAST(count(*) AS BIGINT) AS k,
         CAST(sum(n) AS BIGINT) AS n_tot,
         sum(CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n) AS ssb_part,
         CAST(sum(s) AS DOUBLE) AS s_all,
         CAST(sum(q) AS DOUBLE) AS q_all
  FROM st
)
SELECT k AS k_groups, n_tot,
       CAST(k - 1 AS BIGINT) AS df1,
       CAST(n_tot - k AS BIGINT) AS df2,
       round(((ssb_part - s_all * s_all / n_tot) / (k - 1))
             / ((q_all - ssb_part) / (n_tot - k)), 6) AS f_bf
FROM tot
"""


@register("brown_forsythe_variance_test", oracle=_BF_ORACLE, tags=("stats",))
def brown_forsythe_variance_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown-Forsythe test for variance homogeneity of line price
    across return flags: a one-way ANOVA F on the absolute deviations
    from each group's MEDIAN (the robust Levene variant) — the
    precondition screen for returnflag_price_anova, whose F statistic
    assumes the within-group variances it tests are equal.

    Numerics: group medians are lower medians computed on the
    (group, cents) value-count frame — integer in, integer out — so
    the deviations z = |cents - median| are exact BIGINTs; the F
    statistic is one double tree over DECIMAL(38,0)/HUGEINT sums of z
    and z² (the ANOVA overflow rule), rounded once.

    Scale notes: the median comes from a value-domain cumulative
    window (price-domain bounded), NOT a fact-grain window over 3
    skewed group partitions; medians broadcast back onto the scan; the
    sufficient-statistics fold is map-side combinable to 3 rows.
    Two fact scans total (value counts; deviation fold).
    """
    li = _t(spark, sf_dir, "lineitem")
    x = li.select(
        F.col("l_returnflag").alias("g"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents"),
    )
    vc = x.groupBy("g", "cents").agg(F.count("*").cast("long").alias("c"))
    w_cum = (
        Window.partitionBy("g")
        .orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = vc.select(
        "g",
        "cents",
        F.sum("c").over(w_cum).cast("long").alias("cum"),
        F.sum("c").over(Window.partitionBy("g")).cast("long").alias("n_g"),
    )
    med = (
        cum.filter(F.col("cum") >= F.floor((F.col("n_g") + 1) / 2))
        .groupBy("g")
        .agg(F.min("cents").cast("long").alias("m"))
    )
    z = x.join(med, "g").select(
        "g", F.abs(F.col("cents") - F.col("m")).alias("z")
    )
    d38 = "decimal(38,0)"
    st = z.groupBy("g").agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.col("z").cast(d38)).alias("s"),
        F.sum(F.col("z").cast(d38) * F.col("z")).alias("q"),
    )
    tot = st.agg(
        F.count("*").cast("long").alias("k"),
        F.sum("n").cast("long").alias("n_tot"),
        F.sum(
            F.col("s").cast("double") * F.col("s").cast("double") / F.col("n")
        ).alias("ssb_part"),
        F.sum("s").cast("double").alias("s_all"),
        F.sum("q").cast("double").alias("q_all"),
    )
    return tot.select(
        F.col("k").alias("k_groups"),
        "n_tot",
        (F.col("k") - 1).cast("long").alias("df1"),
        (F.col("n_tot") - F.col("k")).cast("long").alias("df2"),
        F.round(
            (
                (F.col("ssb_part") - F.col("s_all") * F.col("s_all") / F.col("n_tot"))
                / (F.col("k") - 1)
            )
            / ((F.col("q_all") - F.col("ssb_part")) / (F.col("n_tot") - F.col("k"))),
            6,
        ).alias("f_bf"),
    )


# ---------------------------------------------------------------------------
# Welch's unequal-variance t-test
# ---------------------------------------------------------------------------

_WELCH_ORACLE = """
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
p AS (
  SELECT max(CASE WHEN g = 'R' THEN n END) AS n1,
         max(CASE WHEN g = 'R' THEN CAST(s AS DOUBLE) END) AS s1,
         max(CASE WHEN g = 'R' THEN CAST(q AS DOUBLE) END) AS q1,
         max(CASE WHEN g = 'N' THEN n END) AS n2,
         max(CASE WHEN g = 'N' THEN CAST(s AS DOUBLE) END) AS s2,
         max(CASE WHEN g = 'N' THEN CAST(q AS DOUBLE) END) AS q2
  FROM st
),
d AS (
  SELECT n1, n2,
         s1 / n1 - s2 / n2 AS mean_diff,
         ((q1 - s1 * s1 / n1) / (n1 - 1)) / n1 AS v1,
         ((q2 - s2 * s2 / n2) / (n2 - 1)) / n2 AS v2
  FROM p
)
SELECT n1, n2,
       round(mean_diff / 100, 4) AS mean_diff_dollars,
       round(mean_diff / sqrt(v1 + v2), 6) AS t_welch,
       round((v1 + v2) * (v1 + v2)
             / (v1 * v1 / (n1 - 1) + v2 * v2 / (n2 - 1)), 4) AS df_welch
FROM d
"""


@register("welch_price_ttest", oracle=_WELCH_ORACLE, tags=("stats",))
def welch_price_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance t-test of mean line price, returned
    ('R') vs not-returned ('N') lines, with the Welch-Satterthwaite
    effective degrees of freedom — the two-sample mean test that stays
    valid when brown_forsythe_variance_test rejects homogeneity
    (pooled-variance t would not).

    Numerics: both groups reduce to integer sufficient statistics
    (n, Σc, Σc² in DECIMAL(38,0)/HUGEINT); the t statistic and df are
    single identical double trees, rounded once.

    Scale notes: one filtered fact fold (map-side combinable) to a
    2-row frame, pivoted by conditional aggregation — no joins, no
    windows over data grain.
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
    p = st.agg(
        F.max(F.when(F.col("g") == "R", F.col("n"))).alias("n1"),
        F.max(F.when(F.col("g") == "R", F.col("s").cast("double"))).alias("s1"),
        F.max(F.when(F.col("g") == "R", F.col("q").cast("double"))).alias("q1"),
        F.max(F.when(F.col("g") == "N", F.col("n"))).alias("n2"),
        F.max(F.when(F.col("g") == "N", F.col("s").cast("double"))).alias("s2"),
        F.max(F.when(F.col("g") == "N", F.col("q").cast("double"))).alias("q2"),
    )
    mean_diff = F.col("s1") / F.col("n1") - F.col("s2") / F.col("n2")
    v1 = ((F.col("q1") - F.col("s1") * F.col("s1") / F.col("n1")) / (F.col("n1") - 1)) / F.col("n1")
    v2 = ((F.col("q2") - F.col("s2") * F.col("s2") / F.col("n2")) / (F.col("n2") - 1)) / F.col("n2")
    d = p.select(
        "n1",
        "n2",
        mean_diff.alias("mean_diff"),
        v1.alias("v1"),
        v2.alias("v2"),
    )
    return d.select(
        "n1",
        "n2",
        F.round(F.col("mean_diff") / 100, 4).alias("mean_diff_dollars"),
        F.round(
            F.col("mean_diff") / F.sqrt(F.col("v1") + F.col("v2")), 6
        ).alias("t_welch"),
        F.round(
            (F.col("v1") + F.col("v2"))
            * (F.col("v1") + F.col("v2"))
            / (
                F.col("v1") * F.col("v1") / (F.col("n1") - 1)
                + F.col("v2") * F.col("v2") / (F.col("n2") - 1)
            ),
            4,
        ).alias("df_welch"),
    )


# ---------------------------------------------------------------------------
# Cochran-Armitage trend test
# ---------------------------------------------------------------------------

_TREND_ORACLE = """
WITH lab AS (
  SELECT CAST(substr(o.o_orderpriority, 1, 1) AS BIGINT) AS s,
         CASE WHEN r.l_orderkey IS NULL THEN 0 ELSE 1 END AS pos
  FROM orders o
  LEFT JOIN (SELECT DISTINCT l_orderkey FROM lineitem
             WHERE l_returnflag = 'R') r
    ON o.o_orderkey = r.l_orderkey
),
per AS (
  SELECT s, CAST(count(*) AS BIGINT) AS n_i,
         CAST(sum(pos) AS BIGINT) AS r_i
  FROM lab GROUP BY s
),
agg AS (
  SELECT CAST(sum(n_i) AS BIGINT) AS n,
         CAST(sum(r_i) AS BIGINT) AS r,
         CAST(sum(CAST(s AS HUGEINT) * r_i) AS HUGEINT) AS sr,
         CAST(sum(CAST(s AS HUGEINT) * n_i) AS HUGEINT) AS sn,
         CAST(sum(CAST(s AS HUGEINT) * s * n_i) AS HUGEINT) AS sn2
  FROM per
),
zc AS (
  SELECT n, r,
         (CAST(n AS DOUBLE) * CAST(sr AS DOUBLE)
            - CAST(r AS DOUBLE) * CAST(sn AS DOUBLE))
         * sqrt(CAST(n AS DOUBLE))
         / sqrt(CAST(r AS DOUBLE) * (n - r)
                * (CAST(n AS DOUBLE) * CAST(sn2 AS DOUBLE)
                   - CAST(sn AS DOUBLE) * CAST(sn AS DOUBLE))) AS z
  FROM agg
)
SELECT n AS n_orders, r AS n_pos,
       round(z, 6) AS z_trend,
       round(z * z, 6) AS chi2_trend
FROM zc
"""


@register("priority_return_trend_test", oracle=_TREND_ORACLE, tags=("stats",))
def priority_return_trend_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran-Armitage trend test: is the probability an order
    contains a returned line MONOTONE in its priority rank (the leading
    digit of o_orderpriority as the ordinal score)? The trend test
    spends its single degree of freedom on the ordered alternative,
    which the ordinary chi-square (priority_status_chi2) dilutes over
    all deviations — the standard dose-response screen.

    Numerics: the statistic reduces to the integer sufficient
    statistics (N, R, Σs·r_i, Σs·n_i, Σs²·n_i) in
    DECIMAL(38,0)/HUGEINT, combined in ONE identical double tree
    z = (N·Σsr - R·Σsn)·sqrt(N) / sqrt(R(N-R)(N·Σs²n - (Σsn)²)),
    rounded once; z² is the 1-df chi-square.

    Scale notes: the label fold is the shared distinct-returned-
    orderkeys aggregation; the per-priority fold is map-side
    combinable to 5 rows; everything else is scalar arithmetic.
    """
    o = _t(spark, sf_dir, "orders")
    ret = (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_returnflag") == "R")
        .select("l_orderkey")
        .distinct()
        .withColumn("pos1", F.lit(1))
    )
    lab = o.join(ret, o.o_orderkey == ret.l_orderkey, "left").select(
        F.substring("o_orderpriority", 1, 1).cast("long").alias("s"),
        F.coalesce(F.col("pos1"), F.lit(0)).alias("pos"),
    )
    per = lab.groupBy("s").agg(
        F.count("*").cast("long").alias("n_i"),
        F.sum("pos").cast("long").alias("r_i"),
    )
    d38 = "decimal(38,0)"
    agg = per.agg(
        F.sum("n_i").cast("long").alias("n"),
        F.sum("r_i").cast("long").alias("r"),
        F.sum(F.col("s").cast(d38) * F.col("r_i")).alias("sr"),
        F.sum(F.col("s").cast(d38) * F.col("n_i")).alias("sn"),
        F.sum(F.col("s").cast(d38) * F.col("s") * F.col("n_i")).alias("sn2"),
    )
    z = (
        (
            F.col("n").cast("double") * F.col("sr").cast("double")
            - F.col("r").cast("double") * F.col("sn").cast("double")
        )
        * F.sqrt(F.col("n").cast("double"))
        / F.sqrt(
            F.col("r").cast("double")
            * (F.col("n") - F.col("r"))
            * (
                F.col("n").cast("double") * F.col("sn2").cast("double")
                - F.col("sn").cast("double") * F.col("sn").cast("double")
            )
        )
    )
    zc = agg.select("n", "r", z.alias("z"))
    return zc.select(
        F.col("n").alias("n_orders"),
        F.col("r").alias("n_pos"),
        F.round(F.col("z"), 6).alias("z_trend"),
        F.round(F.col("z") * F.col("z"), 6).alias("chi2_trend"),
    )
