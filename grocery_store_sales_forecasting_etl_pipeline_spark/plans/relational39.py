"""Round-6 additions, batch 39: the rank-statistics family — the
nonparametric siblings of the existing moment-based screens. A
Mann-Whitney rank-sum test (location shift without normality, vs the
KS test's whole-shape distance), a Spearman rank correlation (monotone
association where Pearson sees only linear), and a Kendall tau-b
(concordance with explicit tie handling, exact by construction).

Reference parity: the reference pipeline's analytics layer stops at
means/sums (notebook cells, reference ETL step 3); these are the
extension-surface statistics a forecasting user reaches for when the
demand distribution is skewed — rank tests are the standard screen
before trusting a mean-based uplift readout.

Determinism discipline (the batch-27/37 rules): every rank is carried
as an INTEGER twice-midrank (2*midrank = 2*cum_before + ties + 1, so
.5 midranks never touch a float), every pair count is an exact
integer, cross-products accumulate in DECIMAL(38,0)/HUGEINT, and each
statistic becomes a double exactly once — in a single closed-form
expression evaluated from identical exact inputs in both engines —
then rounds at the output boundary.
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
# Mann-Whitney rank-sum: ship delay of returned vs kept line items
# ---------------------------------------------------------------------------

_RANKSUM_ORACLE = """
WITH d AS (
  SELECT CAST(date_diff('day', o.o_orderdate, l.l_shipdate) AS BIGINT) AS delay,
         l.l_returnflag AS flag
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  WHERE l.l_returnflag IN ('R', 'N')
),
g AS (
  SELECT delay,
         CAST(sum(CASE WHEN flag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS c_r,
         CAST(sum(CASE WHEN flag = 'N' THEN 1 ELSE 0 END) AS BIGINT) AS c_n
  FROM d GROUP BY delay
),
c AS (
  SELECT delay, c_r, c_n,
         CAST(c_r + c_n AS HUGEINT) AS t,
         CAST(COALESCE(sum(c_r + c_n) OVER (ORDER BY delay
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS HUGEINT)
           AS cum_before,
         CAST(sum(c_r) OVER () AS HUGEINT) AS n_r,
         CAST(sum(c_n) OVER () AS HUGEINT) AS n_n
  FROM g
),
s AS (
  SELECT max(n_r) AS n_r, max(n_n) AS n_n,
         sum(CAST(c_r AS HUGEINT) * (2 * cum_before + t + 1)) AS s2_r,
         sum(t * t * t - t) AS tie_sum
  FROM c
)
SELECT CAST(n_r AS BIGINT) AS n_r,
       CAST(n_n AS BIGINT) AS n_n,
       CAST(s2_r - n_r * (n_r + 1) AS DECIMAL(38,0)) AS u2_r,
       CAST(tie_sum AS DECIMAL(38,0)) AS tie_sum,
       round((CAST(s2_r - n_r * (n_r + 1) AS DOUBLE) - CAST(n_r AS DOUBLE) * n_n)
             / (2.0 * sqrt(CAST(n_r AS DOUBLE) * n_n / 12.0
                 * ((n_r + n_n + 1)
                    - CAST(tie_sum AS DOUBLE)
                      / (CAST(n_r + n_n AS DOUBLE) * (n_r + n_n - 1))))), 4)
         AS z_approx
FROM s
"""


@register("ship_delay_rank_sum", oracle=_RANKSUM_ORACLE, tags=("stats", "join"))
def ship_delay_rank_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney/Wilcoxon rank-sum test between the ship-delay
    distributions of returned (R) vs kept (N) line items: the U
    statistic (doubled, so ties never produce a .5), the tie
    correction term, and the normal-approximation z — the
    location-shift screen that needs no normality assumption (the KS
    sibling answers "any shape change?"; this answers "did the typical
    delay move?").

    Determinism: twice-midrank 2*cum_before + t + 1 is integer per
    value; S2 = sum(c_r * r2) and the tie term t^3 - t accumulate in
    DECIMAL(38,0)/HUGEINT (S2 crosses BIGINT once N passes ~2e9, the
    same cliff the KS d_star hit); u2_r = 2*U_R is EMITTED as
    DECIMAL(38,0) — a BIGINT output cast would overflow at exactly the
    sample sizes the internal width was chosen for. z is one
    closed-form double expression over exact inputs, rounded once.

    Scale notes: identical shape to ship_delay_ks_test — the fact-fact
    join runs on the shared orderkey, then delays fold to VALUE grain
    (calendar-bounded support, a few hundred rows at any data scale)
    with map-side partials; the rank windows sort that provably tiny
    frame, never the fact. One scan each side of the join, one fold,
    one 5-column row out.
    """
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    d = (
        li.filter(F.col("l_returnflag").isin("R", "N"))
        .select("l_orderkey", "l_shipdate", "l_returnflag")
        .join(
            o.select("o_orderkey", "o_orderdate"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .select(
            F.datediff(F.col("l_shipdate"), F.col("o_orderdate"))
            .cast("long")
            .alias("delay"),
            F.col("l_returnflag").alias("flag"),
        )
    )
    g = d.groupBy("delay").agg(
        F.sum(F.when(F.col("flag") == "R", 1).otherwise(0)).cast("long").alias("c_r"),
        F.sum(F.when(F.col("flag") == "N", 1).otherwise(0)).cast("long").alias("c_n"),
    )
    dec = "decimal(38,0)"
    w_before = Window.orderBy("delay").rowsBetween(Window.unboundedPreceding, -1)
    w_all = Window.partitionBy()
    c = g.select(
        "c_r",
        (F.col("c_r") + F.col("c_n")).cast(dec).alias("t"),
        F.coalesce(
            F.sum(F.col("c_r") + F.col("c_n")).over(w_before), F.lit(0)
        )
        .cast(dec)
        .alias("cum_before"),
        F.sum("c_r").over(w_all).cast(dec).alias("n_r"),
        F.sum("c_n").over(w_all).cast(dec).alias("n_n"),
    )
    s = c.agg(
        F.max("n_r").alias("n_r"),
        F.max("n_n").alias("n_n"),
        F.sum(
            F.col("c_r").cast(dec) * (F.lit(2) * F.col("cum_before") + F.col("t") + 1)
        ).alias("s2_r"),
        F.sum(F.col("t") * F.col("t") * F.col("t") - F.col("t")).alias("tie_sum"),
    )
    n_r_d = F.col("n_r").cast("double")
    n_n_d = F.col("n_n").cast("double")
    u2_d = (F.col("s2_r") - F.col("n_r") * (F.col("n_r") + 1)).cast("double")
    n_tot = F.col("n_r") + F.col("n_n")
    z = (u2_d - n_r_d * n_n_d) / (
        F.lit(2.0)
        * F.sqrt(
            n_r_d * n_n_d / F.lit(12.0)
            * (
                (n_tot + 1).cast("double")
                - F.col("tie_sum").cast("double")
                / (n_tot.cast("double") * (n_tot - 1).cast("double"))
            )
        )
    )
    return s.select(
        F.col("n_r").cast("long").alias("n_r"),
        F.col("n_n").cast("long").alias("n_n"),
        (F.col("s2_r") - F.col("n_r") * (F.col("n_r") + 1)).cast(dec).alias("u2_r"),
        F.col("tie_sum").cast(dec).alias("tie_sum"),
        F.round(z, 4).alias("z_approx"),
    )


# ---------------------------------------------------------------------------
# Spearman rank correlation: customer balance vs total spend
# ---------------------------------------------------------------------------

_SPEARMAN_ORACLE = """
WITH xy AS (
  SELECT c.c_custkey,
         CAST(round(c.c_acctbal * 100) AS BIGINT) AS x,
         CAST(sum(round(o.o_totalprice * 100)) AS BIGINT) AS y
  FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
  GROUP BY 1, 2
),
r AS (
  SELECT
    CAST(2 * rank() OVER (ORDER BY x) + count(*) OVER (PARTITION BY x) - 1
         AS HUGEINT) AS rx2,
    CAST(2 * rank() OVER (ORDER BY y) + count(*) OVER (PARTITION BY y) - 1
         AS HUGEINT) AS ry2
  FROM xy
),
s AS (
  SELECT CAST(count(*) AS HUGEINT) AS n,
         sum(rx2) AS sx, sum(ry2) AS sy,
         sum(rx2 * rx2) AS sxx, sum(ry2 * ry2) AS syy,
         sum(rx2 * ry2) AS sxy
  FROM r
)
SELECT CAST(n AS BIGINT) AS n,
       round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                    * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                       - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6)
         AS spearman_rho
FROM s
"""


@register("acctbal_spend_spearman", oracle=_SPEARMAN_ORACLE, tags=("stats", "join", "window"))
def acctbal_spend_spearman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between a customer's account balance
    and their total order spend — the monotone-association screen
    (Pearson on midranks): robust to the heavy right tail of spend
    that makes the raw-value correlation meaningless.

    Determinism: both variables are exact cents integers; midranks are
    carried doubled (2*rank + ties - 1, an integer identity for the
    average row_number among ties), so ties never produce a .5;
    sufficient statistics sum in DECIMAL(38,0)/HUGEINT (sum of rx2^2
    is ~4n^3 — BIGINT dies at ~1e6 rows, 38 digits hold past 1e9);
    rho is ONE closed-form double expression over those exact sums,
    rounded once at the boundary.

    Scale notes: one customer-grain fold (orders groupBy custkey,
    map-side combinable, broadcast-joined to the dim), then ranking
    WITHOUT a global sort: the doubled midrank is constant within a
    tie group — 2·rank + ties − 1 = 2·cum − c + 1 on the value grain —
    so each variable's midrank map comes from scalerank
    .value_cum_counts (coarse-bucket offsets on a bounded frame +
    partitioned within-bucket cumulative) and joins back on the value.
    Two value-keyed shuffles of the customer-grain frame, no
    single-partition stage; only the five sufficient sums leave.
    """
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    xy = (
        o.groupBy("o_custkey")
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100)).cast("long").alias("y")
        )
        .join(
            c.select(
                "c_custkey",
                F.round(F.col("c_acctbal") * 100).cast("long").alias("x"),
            ),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .select("x", "y")
        .localCheckpoint(eager=False)  # A/B sf1: 2.06 s with, 2.40 s without
    )
    dec = "decimal(38,0)"
    midrank2 = (F.lit(2) * F.col("cum") - F.col("c") + 1).cast(dec)
    cx = value_cum_counts(xy.select("x"), "x", coarse_div=10000).select(
        "x", midrank2.alias("rx2")
    )
    cy = value_cum_counts(xy.select("y"), "y", coarse_div=1000000).select(
        "y", midrank2.alias("ry2")
    )
    r = xy.join(cx, "x").join(cy, "y").select("rx2", "ry2")
    s = r.agg(
        F.count("*").cast(dec).alias("n"),
        F.sum("rx2").alias("sx"),
        F.sum("ry2").alias("sy"),
        F.sum(F.col("rx2") * F.col("rx2")).alias("sxx"),
        F.sum(F.col("ry2") * F.col("ry2")).alias("syy"),
        F.sum(F.col("rx2") * F.col("ry2")).alias("sxy"),
    )
    n_d = F.col("n").cast("double")
    rho = (n_d * F.col("sxy").cast("double") - F.col("sx").cast("double") * F.col("sy").cast("double")) / F.sqrt(
        (n_d * F.col("sxx").cast("double") - F.col("sx").cast("double") * F.col("sx").cast("double"))
        * (n_d * F.col("syy").cast("double") - F.col("sy").cast("double") * F.col("sy").cast("double"))
    )
    return s.select(
        F.col("n").cast("long").alias("n"),
        F.round(rho, 6).alias("spearman_rho"),
    )


# ---------------------------------------------------------------------------
# Kendall tau-b: weekly quantity vs weekly revenue concordance
# ---------------------------------------------------------------------------

_KENDALL_ORACLE = """
WITH w AS (
  SELECT CAST(l_shipdate AS DATE)
           - CAST((dayofweek(CAST(l_shipdate AS DATE)) + 6) % 7 AS INTEGER)
           AS week_start,
         CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS qty,
         CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS rev
  FROM lineitem GROUP BY 1
),
p AS (
  SELECT a.qty AS qa, a.rev AS ra, b.qty AS qb, b.rev AS rb
  FROM w a JOIN w b ON a.week_start < b.week_start
),
s AS (
  SELECT
    CAST(count(*) AS BIGINT) AS n_pairs,
    CAST(sum(CASE WHEN (qa - qb) * (ra - rb) > 0 THEN 1 ELSE 0 END) AS BIGINT)
      AS concordant,
    CAST(sum(CASE WHEN (qa - qb) * (ra - rb) < 0 THEN 1 ELSE 0 END) AS BIGINT)
      AS discordant,
    CAST(sum(CASE WHEN qa = qb AND ra <> rb THEN 1 ELSE 0 END) AS BIGINT) AS tie_x,
    CAST(sum(CASE WHEN ra = rb AND qa <> qb THEN 1 ELSE 0 END) AS BIGINT) AS tie_y,
    CAST(sum(CASE WHEN qa = qb AND ra = rb THEN 1 ELSE 0 END) AS BIGINT) AS tie_xy
  FROM p
)
SELECT n_pairs, concordant, discordant, tie_x, tie_y, tie_xy,
       round((concordant - discordant)
             / sqrt(CAST(n_pairs - tie_x - tie_xy AS DOUBLE)
                    * CAST(n_pairs - tie_y - tie_xy AS DOUBLE)), 6) AS tau_b
FROM s
"""


@register("weekly_qty_revenue_kendall", oracle=_KENDALL_ORACLE, tags=("stats", "agg"))
def weekly_qty_revenue_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall tau-b between weekly shipped quantity and weekly
    revenue: exact concordant/discordant/tied pair counts over all
    week pairs plus the tie-adjusted tau — concordance is the rank
    statistic whose exactness is FREE here because every count is an
    integer comparison, no midranks needed.

    Determinism: weeks anchor to Monday by modular dayofweek
    arithmetic (the cohort_retention idiom — date_trunc('week')
    returns different types across engines); quantity and revenue
    fold to exact integers; every pair classification is an integer
    sign test; tau_b is one closed-form double over six exact counts.

    Scale notes: the fact folds to WEEK grain first (map-side
    combinable, calendar-bounded — a 20-year corpus is ~1,040 rows at
    ANY data scale), so the O(w^2) pair self-join is a few hundred
    thousand comparisons of a broadcast-sized frame forever; the fact
    itself is scanned exactly once. This is the safe shape for
    quadratic statistics: collapse to bounded grain BEFORE going
    pairwise (the same discipline as the KS/rank-sum value grain).
    """
    li = _t(spark, sf_dir, "lineitem")
    monday = F.date_sub(
        F.col("l_shipdate").cast("date"),
        (F.dayofweek(F.col("l_shipdate").cast("date")) + F.lit(5)) % F.lit(7),
    )
    # both self-join sides derive from this calendar-bounded week frame
    w = li.groupBy(monday.alias("week_start")).agg(
        F.sum(F.round(F.col("l_quantity")).cast("long")).cast("long").alias("qty"),
        F.sum(F.round(F.col("l_extendedprice") * 100).cast("long"))
        .cast("long")
        .alias("rev"),
    ).localCheckpoint(eager=False)  # A/B sf1: 1.42 s with, 1.73 s without
    a = w.select(
        F.col("week_start").alias("ws_a"), F.col("qty").alias("qa"), F.col("rev").alias("ra")
    )
    b = w.select(
        F.col("week_start").alias("ws_b"), F.col("qty").alias("qb"), F.col("rev").alias("rb")
    )
    p = a.join(b, F.col("ws_a") < F.col("ws_b"))
    sign = (F.col("qa") - F.col("qb")) * (F.col("ra") - F.col("rb"))
    s = p.agg(
        F.count("*").cast("long").alias("n_pairs"),
        F.sum(F.when(sign > 0, 1).otherwise(0)).cast("long").alias("concordant"),
        F.sum(F.when(sign < 0, 1).otherwise(0)).cast("long").alias("discordant"),
        F.sum(
            F.when((F.col("qa") == F.col("qb")) & (F.col("ra") != F.col("rb")), 1).otherwise(0)
        )
        .cast("long")
        .alias("tie_x"),
        F.sum(
            F.when((F.col("ra") == F.col("rb")) & (F.col("qa") != F.col("qb")), 1).otherwise(0)
        )
        .cast("long")
        .alias("tie_y"),
        F.sum(
            F.when((F.col("qa") == F.col("qb")) & (F.col("ra") == F.col("rb")), 1).otherwise(0)
        )
        .cast("long")
        .alias("tie_xy"),
    )
    tau = (F.col("concordant") - F.col("discordant")) / F.sqrt(
        (F.col("n_pairs") - F.col("tie_x") - F.col("tie_xy")).cast("double")
        * (F.col("n_pairs") - F.col("tie_y") - F.col("tie_xy")).cast("double")
    )
    return s.select(
        "n_pairs",
        "concordant",
        "discordant",
        "tie_x",
        "tie_y",
        "tie_xy",
        F.round(tau, 6).alias("tau_b"),
    )
