"""Round-6 additions, batch 67: count modeling, agreement, and
distribution alignment — a negative-binomial method-of-moments fit to
per-customer order counts (the overdispersion-aware count model that
replaces Poisson the moment var > mean), Cohen's kappa between the
"returned" and "shipped-late" line flags (chance-corrected agreement —
the statistic that distinguishes "both flags fire a lot" from "the
flags actually co-vary"), a per-nation decile map of customer balances
onto the pooled distribution (quantile normalization — the feature
-alignment transform, reported as the decile shift table), and the
Pettitt rank-based change-point test on weekly revenue (WHERE did the
level shift, with a distribution-free p — the hypothesis-test twin of
the CUSUM screen).

Determinism discipline: NB and kappa are exact integer contingency/
moment folds (DECIMAL(38,0)/HUGEINT squares) with divisions only at
the boundary; quantile deciles are exact order statistics selected on
value-count frames by integer rank ceil(q·n/10) = (q·n+9)//10; Pettitt
ranks are integer twice-midranks and the U statistic stays integer —
only the exponential tail approximation is a double, in one identical
tree.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from grocery_store_sales_forecasting_etl_pipeline_spark.plans._tables import table as _t
from grocery_store_sales_forecasting_etl_pipeline_spark.plans.registry import register

# ---------------------------------------------------------------------------
# Negative-binomial fit to per-customer order counts
# ---------------------------------------------------------------------------

_NBINOM_ORACLE = """
WITH per AS (
  SELECT c.c_custkey, CAST(count(o.o_orderkey) AS BIGINT) AS k
  FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
  GROUP BY c.c_custkey
),
s AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(k AS HUGEINT)) AS DECIMAL(38,0)) AS sk,
         CAST(sum(CAST(k AS HUGEINT) * k) AS DECIMAL(38,0)) AS skk,
         CAST(sum(CASE WHEN k = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero
  FROM per
)
SELECT n AS n_customers, CAST(sk AS BIGINT) AS total_orders, n_zero,
       round(CAST(sk AS DOUBLE) / n, 6) AS mean_orders,
       round((CAST(skk AS DOUBLE) - CAST(sk AS DOUBLE) * sk / n) / (n - 1), 6)
         AS var_orders,
       round(((CAST(skk AS DOUBLE) - CAST(sk AS DOUBLE) * sk / n) / (n - 1))
             / (CAST(sk AS DOUBLE) / n), 6) AS dispersion_index,
       round(CASE WHEN (CAST(skk AS DOUBLE) - CAST(sk AS DOUBLE) * sk / n)
                       / (n - 1) > CAST(sk AS DOUBLE) / n
         THEN (CAST(sk AS DOUBLE) / n) * (CAST(sk AS DOUBLE) / n)
              / ((CAST(skk AS DOUBLE) - CAST(sk AS DOUBLE) * sk / n) / (n - 1)
                 - CAST(sk AS DOUBLE) / n) END, 4) AS nb_r,
       round(CASE WHEN (CAST(skk AS DOUBLE) - CAST(sk AS DOUBLE) * sk / n)
                       / (n - 1) > CAST(sk AS DOUBLE) / n
         THEN (CAST(sk AS DOUBLE) / n)
              / ((CAST(skk AS DOUBLE) - CAST(sk AS DOUBLE) * sk / n) / (n - 1))
         END, 6) AS nb_p
FROM s
"""


@register("order_count_nbinom_fit", oracle=_NBINOM_ORACLE, tags=("stats",))
def order_count_nbinom_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Negative-binomial method-of-moments fit to the distribution of
    orders per customer (zero-order customers included via the left
    join — the zeros are exactly what Poisson gets wrong): r̂ =
    m²/(v−m), p̂ = m/v, plus the dispersion index v/m that justifies
    the model choice. The count-modeling prior behind demand frequency
    (croston_demand_forecast models the nonzero gaps; this models the
    customer-level count law).

    Determinism: n, Σk, Σk², and the zero count are exact integers
    (Σk² in DECIMAL(38,0)/HUGEINT); mean/variance/r/p are single
    double trees (sample variance, n−1) rounded once; the
    underdispersed case (v ≤ m) emits NULL r/p on both sides.

    Scale notes: the orders fact folds BY KEY with map-side partials
    after an equi-join to the customer dim (shuffle on custkey, the
    join both engines need for the zeros); the moment fold is one row.
    """
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    dec = "decimal(38,0)"
    per = (
        c.select("c_custkey")
        .join(
            o.select("o_custkey", "o_orderkey"),
            F.col("o_custkey") == F.col("c_custkey"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").cast("long").alias("k"))
    )
    kd = F.col("k").cast(dec)
    s = per.agg(
        F.count("*").cast("long").alias("n"),
        F.sum(kd).cast(dec).alias("sk"),
        F.sum(kd * F.col("k")).cast(dec).alias("skk"),
        F.sum(F.when(F.col("k") == 0, 1).otherwise(0)).cast("long").alias("n_zero"),
    )
    n_d = F.col("n").cast("double")
    mean = F.col("sk").cast("double") / F.col("n")
    var = (F.col("skk").cast("double") - F.col("sk").cast("double") * F.col("sk") / F.col("n")) / (
        F.col("n") - 1
    )
    return s.select(
        F.col("n").alias("n_customers"),
        F.col("sk").cast("long").alias("total_orders"),
        "n_zero",
        F.round(mean, 6).alias("mean_orders"),
        F.round(var, 6).alias("var_orders"),
        F.round(var / mean, 6).alias("dispersion_index"),
        F.round(F.when(var > mean, mean * mean / (var - mean)), 4).alias("nb_r"),
        F.round(F.when(var > mean, mean / var), 6).alias("nb_p"),
    )


# ---------------------------------------------------------------------------
# Cohen's kappa: returned flag vs shipped-late flag
# ---------------------------------------------------------------------------

_KAPPA_ORACLE = """
WITH f AS (
  SELECT CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS r,
         CASE WHEN CAST(round(l_discount * 100) AS BIGINT) >= 5
              THEN 1 ELSE 0 END AS deep
  FROM lineitem
),
s AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CASE WHEN r = 1 AND deep = 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n11,
         CAST(sum(CASE WHEN r = 1 AND deep = 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n10,
         CAST(sum(CASE WHEN r = 0 AND deep = 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n01,
         CAST(sum(CASE WHEN r = 0 AND deep = 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n00
  FROM f
)
SELECT n AS n_lines, n11, n10, n01, n00,
       round(CAST(n11 + n00 AS DOUBLE) / n, 6) AS p_observed,
       round((CAST(CAST(n11 + n10 AS HUGEINT) * (n11 + n01) AS DOUBLE)
              + CAST(CAST(n01 + n00 AS HUGEINT) * (n10 + n00) AS DOUBLE))
             / (CAST(n AS DOUBLE) * n), 6) AS p_expected,
       round((CAST(n11 + n00 AS DOUBLE) / n
              - (CAST(CAST(n11 + n10 AS HUGEINT) * (n11 + n01) AS DOUBLE)
                 + CAST(CAST(n01 + n00 AS HUGEINT) * (n10 + n00) AS DOUBLE))
                / (CAST(n AS DOUBLE) * n))
             / (1.0
                - (CAST(CAST(n11 + n10 AS HUGEINT) * (n11 + n01) AS DOUBLE)
                   + CAST(CAST(n01 + n00 AS HUGEINT) * (n10 + n00) AS DOUBLE))
                  / (CAST(n AS DOUBLE) * n)), 6) AS kappa
FROM s
"""


@register("return_discount_kappa", oracle=_KAPPA_ORACLE, tags=("stats", "audit"))
def return_discount_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa between two binary line-item "raters": returned
    (l_returnflag = 'R') and deeply discounted (discount ≥ 5%, compared
    on exact integer percent points round(l_discount·100) ≥ 5 so both
    engines branch on the same integer, never on a raw double).
    κ = (p_o − p_e)/(1 − p_e) corrects raw agreement for chance — two
    flags that each fire 30% of the time agree ~58% by luck alone;
    kappa is what's left after that luck is removed. The
    label-quality statistic for any pipeline using one flag as a proxy
    label for the other (priority_status_chi2 asks "independent?";
    kappa asks "interchangeable?").

    Determinism: the 2×2 contingency is one exact integer fold;
    marginal products accumulate in HUGEINT/DECIMAL (n·n crosses
    BIGINT past ~3e9 rows); p_o, p_e, κ are textually identical double
    trees rounded once.

    Scale notes: one fact scan, one 1-row fold, map-side combinable.
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
        F.count("*").cast("long").alias("n"),
        F.sum(F.when((F.col("r") == 1) & (F.col("deep") == 1), 1).otherwise(0))
        .cast("long")
        .alias("n11"),
        F.sum(F.when((F.col("r") == 1) & (F.col("deep") == 0), 1).otherwise(0))
        .cast("long")
        .alias("n10"),
        F.sum(F.when((F.col("r") == 0) & (F.col("deep") == 1), 1).otherwise(0))
        .cast("long")
        .alias("n01"),
        F.sum(F.when((F.col("r") == 0) & (F.col("deep") == 0), 1).otherwise(0))
        .cast("long")
        .alias("n00"),
    )
    n_d = F.col("n").cast("double")
    po = (F.col("n11") + F.col("n00")).cast("double") / F.col("n")
    pe = (
        ((F.col("n11") + F.col("n10")).cast(dec) * (F.col("n11") + F.col("n01")))
        .cast("double")
        + ((F.col("n01") + F.col("n00")).cast(dec) * (F.col("n10") + F.col("n00")))
        .cast("double")
    ) / (n_d * F.col("n"))
    return s.select(
        F.col("n").alias("n_lines"),
        "n11",
        "n10",
        "n01",
        "n00",
        F.round(po, 6).alias("p_observed"),
        F.round(pe, 6).alias("p_expected"),
        F.round((po - pe) / (F.lit(1.0) - pe), 6).alias("kappa"),
    )


# ---------------------------------------------------------------------------
# Per-nation decile map of customer balance onto the pooled distribution
# ---------------------------------------------------------------------------

_QUANTILE_MAP_ORACLE = """
WITH x AS (
  SELECT c_nationkey AS nation,
         CAST(round(c_acctbal * 100) AS BIGINT) AS cents
  FROM customer
),
nv AS (
  SELECT nation, cents, CAST(count(*) AS BIGINT) AS c
  FROM x GROUP BY nation, cents
),
nc AS (
  SELECT nation, cents,
         CAST(sum(c) OVER (PARTITION BY nation ORDER BY cents
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS cum,
         CAST(sum(c) OVER (PARTITION BY nation) AS BIGINT) AS n
  FROM nv
),
deciles AS (SELECT unnest(range(1, 10)) AS q),
nq AS (
  SELECT nc.nation, d.q,
         min(CASE WHEN nc.cum >= (d.q * nc.n + 9) // 10 THEN nc.cents END)
           AS nation_cents
  FROM nc CROSS JOIN deciles d
  GROUP BY nc.nation, d.q
),
pv AS (
  SELECT cents, CAST(count(*) AS BIGINT) AS c FROM x GROUP BY cents
),
pc AS (
  SELECT cents,
         CAST(sum(c) OVER (ORDER BY cents
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS cum,
         CAST(sum(c) OVER () AS BIGINT) AS n
  FROM pv
),
pq AS (
  SELECT d.q,
         min(CASE WHEN pc.cum >= (d.q * pc.n + 9) // 10 THEN pc.cents END)
           AS pooled_cents
  FROM pc CROSS JOIN deciles d
  GROUP BY d.q
)
SELECT nq.nation, nq.q AS decile, nq.nation_cents, pq.pooled_cents,
       nq.nation_cents - pq.pooled_cents AS shift_cents
FROM nq JOIN pq ON nq.q = pq.q
"""


@register("nation_balance_quantile_map", oracle=_QUANTILE_MAP_ORACLE,
          tags=("stats", "ml"))
def nation_balance_quantile_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile-normalization map of customer account balance per
    nation: each nation's exact deciles next to the pooled deciles and
    the shift between them — the lookup table that aligns a skewed
    per-group feature onto the global distribution (the tabular
    sibling of batch-48's target encoding, and the transform to apply
    before any cross-nation balance comparison). A nation with large
    positive shifts at every decile is uniformly richer, not just in
    the tail.

    Determinism: deciles are exact order statistics — the smallest
    value whose cumulative count reaches rank ceil(q·n/10) =
    (q·n+9)//10 on the VALUE-COUNT frame (tie-independent, no float
    rank); the shift is integer cents subtraction.

    Scale notes: both cumulative frames live on the balance-domain
    value grain (bounded by the price domain, not row count); the
    nation frame windows partition BY NATION (parallel); the 9-row
    decile list cross-joins tiny frames only.
    """
    c = _t(spark, sf_dir, "customer")
    x = c.select(
        F.col("c_nationkey").alias("nation"),
        F.round(F.col("c_acctbal") * 100).cast("long").alias("cents"),
    )
    deciles = spark.range(1, 10).select(F.col("id").cast("long").alias("q"))
    w_nat = (
        Window.partitionBy("nation")
        .orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    nv = x.groupBy("nation", "cents").agg(F.count("*").cast("long").alias("c"))
    nc = nv.select(
        "nation",
        "cents",
        F.sum("c").over(w_nat).cast("long").alias("cum"),
        F.sum("c").over(Window.partitionBy("nation")).cast("long").alias("n"),
    )
    nq = (
        nc.crossJoin(deciles)
        .groupBy("nation", "q")
        .agg(
            F.min(
                F.when(
                    F.col("cum") >= F.floor((F.col("q") * F.col("n") + 9) / 10),
                    F.col("cents"),
                )
            ).alias("nation_cents")
        )
    )
    w_pool = Window.orderBy("cents").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    pv = x.groupBy("cents").agg(F.count("*").cast("long").alias("c"))
    pc = pv.select(
        "cents",
        F.sum("c").over(w_pool).cast("long").alias("cum"),
        F.sum("c").over(Window.partitionBy()).cast("long").alias("n"),
    )
    pq = (
        pc.crossJoin(deciles)
        .groupBy("q")
        .agg(
            F.min(
                F.when(
                    F.col("cum") >= F.floor((F.col("q") * F.col("n") + 9) / 10),
                    F.col("cents"),
                )
            ).alias("pooled_cents")
        )
    )
    return (
        nq.join(pq, "q")
        .select(
            "nation",
            F.col("q").alias("decile"),
            "nation_cents",
            "pooled_cents",
            (F.col("nation_cents") - F.col("pooled_cents")).alias("shift_cents"),
        )
    )


# ---------------------------------------------------------------------------
# Pettitt change-point test on weekly revenue
# ---------------------------------------------------------------------------

_PETTITT_ORACLE = """
WITH weekly AS (
  SELECT CAST(date_trunc('week', o_orderdate) AS DATE) AS week_start,
         sum(CAST(round(o_totalprice * 100) AS BIGINT)) // 100 AS dollars
  FROM orders GROUP BY week_start
),
v AS (
  SELECT dollars, CAST(count(*) AS BIGINT) AS t FROM weekly GROUP BY dollars
),
r2v AS (
  SELECT dollars,
         CAST(2 * (COALESCE(sum(t) OVER (ORDER BY dollars
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)) + t + 1
           AS BIGINT) AS r2
  FROM v
),
rw AS (
  SELECT w.week_start, r2v.r2,
         CAST(row_number() OVER (ORDER BY w.week_start) AS BIGINT) AS t,
         CAST(count(*) OVER () AS BIGINT) AS n
  FROM weekly w JOIN r2v ON w.dollars = r2v.dollars
),
u AS (
  SELECT week_start, t, n,
         CAST(sum(r2) OVER (ORDER BY week_start
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              - t * (n + 1) AS BIGINT) AS ut
  FROM rw
),
best AS (
  SELECT week_start, ut, n,
         row_number() OVER (ORDER BY abs(ut) DESC, week_start) AS rn
  FROM u WHERE t < n
)
SELECT n AS n_weeks, week_start AS change_week, ut AS u_at_change,
       CAST(abs(ut) AS BIGINT) AS u_abs,
       round(2.0 * exp(-6.0 * CAST(abs(ut) AS DOUBLE) * abs(ut)
             / (CAST(n AS DOUBLE) * n * n + CAST(n AS DOUBLE) * n)), 6)
         AS approx_p
FROM best WHERE rn = 1
"""


@register("weekly_revenue_pettitt", oracle=_PETTITT_ORACLE,
          tags=("timeseries", "stats"))
def weekly_revenue_pettitt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pettitt rank-based change-point test on weekly revenue: the
    split week maximizing |U_t|, where U_t = 2·Σ_{i≤t}R_i − t(n+1)
    equals the pairwise sign sum Σ_{i≤t}Σ_{j>t} sign(x_i − x_j) exactly
    (midranks make the identity hold under ties), with the standard
    tail approximation p ≈ 2·exp(−6U²/(n³+n²)). weekly_revenue_changepoint screens by mean shift;
    Pettitt is the distribution-free TEST — where did the level move,
    and is the move larger than rank noise.

    Determinism: midranks are integer twice-midranks from the value
    -count frame; U_t = Σr2_{i≤t} − t(n+1) stays an exact BIGINT; the
    argmax breaks ties on the earliest week; only
    the exponential approximation is a double, one identical tree,
    rounded once. The boundary t = n (U_n ≡ 0 by construction) is
    excluded on both sides.

    Scale notes: the fact folds to the calendar-bounded weekly frame;
    ranks, the cumulative U walk, and the argmax all run over those
    ~360 rows in one sorted pass each.
    """
    weekly = (
        _t(spark, sf_dir, "orders")
        .select(
            F.date_trunc("week", "o_orderdate").cast("date").alias("week_start"),
            F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        )
        .groupBy("week_start")
        .agg(F.expr("sum(cents) DIV 100").alias("dollars"))
    )
    v = weekly.groupBy("dollars").agg(F.count("*").cast("long").alias("t"))
    w_before = Window.orderBy("dollars").rowsBetween(Window.unboundedPreceding, -1)
    r2v = v.select(
        "dollars",
        (
            F.lit(2) * F.coalesce(F.sum("t").over(w_before), F.lit(0))
            + F.col("t")
            + 1
        )
        .cast("long")
        .alias("r2"),
    )
    rw = weekly.join(r2v, "dollars").select(
        "week_start",
        "r2",
        F.row_number().over(Window.orderBy("week_start")).cast("long").alias("t"),
        F.count("*").over(Window.partitionBy()).cast("long").alias("n"),
    )
    w_cum = Window.orderBy("week_start").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    u = rw.select(
        "week_start",
        "t",
        "n",
        (F.sum("r2").over(w_cum) - F.col("t") * (F.col("n") + 1))
        .cast("long")
        .alias("ut"),
    )
    best = (
        u.filter(F.col("t") < F.col("n"))
        .select(
            "week_start",
            "ut",
            "n",
            F.row_number()
            .over(Window.orderBy(F.abs(F.col("ut")).desc(), F.asc("week_start")))
            .alias("rn"),
        )
        .filter(F.col("rn") == 1)
    )
    n_d = F.col("n").cast("double")
    u_abs_d = F.abs(F.col("ut")).cast("double")
    return best.select(
        F.col("n").alias("n_weeks"),
        F.col("week_start").alias("change_week"),
        F.col("ut").alias("u_at_change"),
        F.abs(F.col("ut")).cast("long").alias("u_abs"),
        F.round(
            F.lit(2.0)
            * F.exp(
                F.lit(-6.0)
                * u_abs_d
                * F.abs(F.col("ut"))
                / (n_d * F.col("n") * F.col("n") + n_d * F.col("n"))
            ),
            6,
        ).alias("approx_p"),
    )
