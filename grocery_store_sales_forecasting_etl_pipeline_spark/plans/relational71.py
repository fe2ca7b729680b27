"""Round-6 additions, batch 71: multiresolution analysis, sampling
design, run statistics, and rank concordance — an exact-integer Haar
wavelet energy decomposition of weekly revenue (which TIMESCALE the
variance lives at: week-to-week noise, monthly cycles, or quarterly
swings — the dyadic, exactly-computable cousin of the periodogram), a
Neyman-allocation stratified-sampling plan over nations with
largest-remainder integer apportionment (the design that minimizes
estimator variance for a fixed budget, rounded the way parliaments
round seats), weekly revenue streak/record statistics (longest rise,
longest fall, record highs/lows — the order-structure features a
momentum narrative actually quantifies), and Kendall's coefficient of
concordance W across weeks ranking brands (do the weekly brand
leaderboards AGREE — the m-judges generalization of the pairwise rank
correlations).

Determinism discipline: Haar coefficients are exact integer
half-block differences with DECIMAL(38,0) squared energy; streaks and
records are pure integer gaps-and-islands; Kendall's W uses exact
twice-midranks with the exact tie correction, integer to the final
division; Neyman's σ_h comes from exact integer moment folds with the
allocation's fractional parts compared through identical double trees
and ties broken on the nation key.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from grocery_store_sales_forecasting_etl_pipeline_spark.plans._tables import table as _t
from grocery_store_sales_forecasting_etl_pipeline_spark.plans.registry import register

# ---------------------------------------------------------------------------
# Haar wavelet energy decomposition of weekly revenue
# ---------------------------------------------------------------------------

_HAAR_N = 256  # dyadic analysis window: first 256 observed weeks
_HAAR_LEVELS = 8

_HAAR_ORACLE = f"""
WITH weekly AS (
  SELECT CAST(date_trunc('week', o_orderdate) AS DATE) AS week_start,
         sum(CAST(round(o_totalprice * 100) AS BIGINT)) // 100 AS y
  FROM orders GROUP BY week_start
),
idx AS (
  SELECT y, CAST(row_number() OVER (ORDER BY week_start) - 1 AS BIGINT) AS i
  FROM weekly QUALIFY i < {_HAAR_N}
),
lv AS (SELECT unnest(range(1, {_HAAR_LEVELS} + 1)) AS lvl),
cells AS (
  SELECT lv.lvl, idx.i // (1 << lv.lvl) AS b,
         (idx.i // (1 << (lv.lvl - 1))) % 2 AS side, idx.y
  FROM idx CROSS JOIN lv
),
coef AS (
  SELECT lvl, b,
         CAST(sum(CASE WHEN side = 0 THEN y ELSE -y END) AS HUGEINT) AS d
  FROM cells GROUP BY lvl, b
),
en AS (
  SELECT lvl, CAST(count(*) AS BIGINT) AS n_coeffs,
         CAST(sum(d * d) AS DECIMAL(38,0)) AS energy
  FROM coef GROUP BY lvl
),
tot AS (
  SELECT lvl, n_coeffs, energy,
         CAST(sum(energy) OVER () AS DECIMAL(38,0)) AS etot
  FROM en
)
SELECT lvl AS level, CAST(1 << lvl AS BIGINT) AS scale_weeks, n_coeffs,
       energy, round(CAST(energy AS DOUBLE) / CAST(etot AS DOUBLE), 6)
         AS energy_share
FROM tot
"""


@register("weekly_revenue_haar_energy", oracle=_HAAR_ORACLE,
          tags=("timeseries",))
def weekly_revenue_haar_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Haar wavelet energy decomposition of the first 256 observed
    weeks of revenue: at level j the (unnormalized) detail coefficient
    of each 2^j-week block is (sum of first half) − (sum of second
    half), and the per-level energy Σd² says which timescale the
    series' variation concentrates at — level 1-2 energy is
    week-to-week noise, level 5-6 (~8-16-week scale) is seasonal
    swing, level 8 is secular drift. weekly_revenue_periodogram asks
    the same question in doubles via sin/cos; Haar answers it in
    EXACT integers (the determinism-first spectral screen), at the
    cost of dyadic frequency resolution.

    Determinism: dollars, block sums, and coefficients are exact
    integers; Σd² accumulates in DECIMAL(38,0)/HUGEINT and is emitted
    as the exact decimal; only the energy share divides, once.

    Scale notes: the fact folds to the calendar-bounded weekly frame;
    the 256-week dyadic window × 8 levels is a 2048-row cell frame
    regardless of fact size. One fact scan.
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
    idx = weekly.select(
        "y",
        (F.row_number().over(Window.orderBy("week_start")) - 1)
        .cast("long")
        .alias("i"),
    ).filter(F.col("i") < _HAAR_N)
    lv = spark.range(1, _HAAR_LEVELS + 1).select(F.col("id").cast("long").alias("lvl"))
    cells = idx.crossJoin(lv).select(
        "lvl",
        F.expr("i DIV (1 << CAST(lvl AS INT))").alias("b"),
        F.expr("(i DIV (1 << CAST(lvl - 1 AS INT))) % 2").alias("side"),
        "y",
    )
    dec = "decimal(38,0)"
    coef = cells.groupBy("lvl", "b").agg(
        F.sum(F.when(F.col("side") == 0, F.col("y")).otherwise(-F.col("y")))
        .cast(dec)
        .alias("d")
    )
    en = coef.groupBy("lvl").agg(
        F.count("*").cast("long").alias("n_coeffs"),
        F.sum(F.col("d") * F.col("d")).cast(dec).alias("energy"),
    )
    tot = en.select(
        "lvl",
        "n_coeffs",
        "energy",
        F.sum("energy").over(Window.partitionBy()).cast(dec).alias("etot"),
    )
    return tot.select(
        F.col("lvl").alias("level"),
        F.expr("CAST(1 << CAST(lvl AS INT) AS BIGINT)").alias("scale_weeks"),
        "n_coeffs",
        "energy",
        F.round(
            F.col("energy").cast("double") / F.col("etot").cast("double"), 6
        ).alias("energy_share"),
    )


# ---------------------------------------------------------------------------
# Neyman-allocation stratified sampling plan over nations
# ---------------------------------------------------------------------------

_NEYMAN_N = 1000

_NEYMAN_ORACLE = f"""
WITH x AS (
  SELECT c_nationkey AS nation,
         CAST(round(c_acctbal * 100) AS BIGINT) AS v
  FROM customer
),
s AS (
  SELECT nation, CAST(count(*) AS BIGINT) AS nh,
         CAST(sum(CAST(v AS HUGEINT)) AS DECIMAL(38,0)) AS sv,
         CAST(sum(CAST(v AS HUGEINT) * v) AS DECIMAL(38,0)) AS svv
  FROM x GROUP BY nation
),
w AS (
  SELECT nation, nh,
         nh * sqrt((CAST(svv AS DOUBLE) - CAST(sv AS DOUBLE) * sv / nh) / nh)
           AS wh
  FROM s
),
a AS (
  SELECT nation, nh, wh,
         {_NEYMAN_N} * wh / sum(wh) OVER () AS alloc_exact
  FROM w
),
fl AS (
  SELECT nation, nh, wh, alloc_exact,
         CAST(floor(alloc_exact) AS BIGINT) AS base,
         alloc_exact - floor(alloc_exact) AS frac
  FROM a
),
rk AS (
  SELECT nation, nh, wh, alloc_exact, base, frac,
         CAST(row_number() OVER (ORDER BY frac DESC, nation) AS BIGINT)
           AS rnk,
         CAST({_NEYMAN_N} - sum(base) OVER () AS BIGINT) AS leftover
  FROM fl
)
SELECT nation, nh AS n_customers,
       round(wh / nh, 4) AS sigma_cents,
       round(alloc_exact, 6) AS alloc_exact,
       base + CASE WHEN rnk <= leftover THEN 1 ELSE 0 END AS alloc_n
FROM rk
"""


@register("nation_neyman_allocation", oracle=_NEYMAN_ORACLE,
          tags=("stats", "sampling"))
def nation_neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman-optimal stratified sampling plan for estimating mean
    account balance with a budget of 1000 samples: each nation's
    allocation is proportional to N_h·σ_h (big AND volatile strata
    earn samples; a huge-but-uniform stratum doesn't), with the
    fractional plan converted to integers by LARGEST-REMAINDER
    apportionment (floor everyone, hand the leftover units to the
    largest fractional parts) so the integers sum to exactly 1000.
    kfold_assignment_audit checks a random design; this COMPUTES the
    optimal one.

    Determinism: per-stratum N, Σv, Σv² are exact integers
    (DECIMAL(38,0)/HUGEINT); σ_h, the weights, and the fractional
    allocations are identical double trees; the apportionment ranks
    fractional parts with a nation tie-break, making the integer plan
    unique on both sides.

    Scale notes: one dimension scan folds map-side to ~25 stratum
    rows; every window after runs on that frame.
    """
    c = _t(spark, sf_dir, "customer")
    dec = "decimal(38,0)"
    x = c.select(
        F.col("c_nationkey").alias("nation"),
        F.round(F.col("c_acctbal") * 100).cast("long").alias("v"),
    )
    vd = F.col("v").cast(dec)
    s = x.groupBy("nation").agg(
        F.count("*").cast("long").alias("nh"),
        F.sum(vd).cast(dec).alias("sv"),
        F.sum(vd * F.col("v")).cast(dec).alias("svv"),
    )
    wh = F.col("nh") * F.sqrt(
        (F.col("svv").cast("double") - F.col("sv").cast("double") * F.col("sv") / F.col("nh"))
        / F.col("nh")
    )
    w_all = Window.partitionBy()
    a = s.select("nation", "nh", wh.alias("wh")).select(
        "nation",
        "nh",
        "wh",
        (F.lit(_NEYMAN_N) * F.col("wh") / F.sum("wh").over(w_all)).alias("alloc_exact"),
    )
    fl = a.select(
        "nation",
        "nh",
        "wh",
        "alloc_exact",
        F.floor("alloc_exact").cast("long").alias("base"),
        (F.col("alloc_exact") - F.floor("alloc_exact")).alias("frac"),
    )
    rk = fl.select(
        "nation",
        "nh",
        "wh",
        "alloc_exact",
        "base",
        "frac",
        F.row_number()
        .over(Window.orderBy(F.desc("frac"), F.asc("nation")))
        .cast("long")
        .alias("rnk"),
        (F.lit(_NEYMAN_N) - F.sum("base").over(w_all)).cast("long").alias("leftover"),
    )
    return rk.select(
        "nation",
        F.col("nh").alias("n_customers"),
        F.round(F.col("wh") / F.col("nh"), 4).alias("sigma_cents"),
        F.round(F.col("alloc_exact"), 6).alias("alloc_exact"),
        (
            F.col("base")
            + F.when(F.col("rnk") <= F.col("leftover"), 1).otherwise(0)
        ).alias("alloc_n"),
    )


# ---------------------------------------------------------------------------
# Weekly revenue streaks and records
# ---------------------------------------------------------------------------

_STREAKS_ORACLE = """
WITH weekly AS (
  SELECT CAST(date_trunc('week', o_orderdate) AS DATE) AS week_start,
         sum(CAST(round(o_totalprice * 100) AS BIGINT)) // 100 AS y
  FROM orders GROUP BY week_start
),
d AS (
  SELECT week_start, y,
         CAST(row_number() OVER (ORDER BY week_start) AS BIGINT) AS rn,
         CASE WHEN y > lag(y) OVER (ORDER BY week_start) THEN 1
              WHEN y < lag(y) OVER (ORDER BY week_start) THEN -1
              ELSE 0 END AS s,
         CASE WHEN y > COALESCE(max(y) OVER (ORDER BY week_start
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
              THEN 1 ELSE 0 END AS rec_hi,
         CASE WHEN y < COALESCE(min(y) OVER (ORDER BY week_start
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
              9223372036854775807) THEN 1 ELSE 0 END AS rec_lo
  FROM weekly
),
isl AS (
  SELECT s, rn - row_number() OVER (PARTITION BY s ORDER BY rn) AS grp
  FROM d WHERE s <> 0
),
runs AS (
  SELECT s, grp, CAST(count(*) AS BIGINT) AS run_len
  FROM isl GROUP BY s, grp
)
SELECT (SELECT CAST(count(*) AS BIGINT) FROM d) AS n_weeks,
       COALESCE((SELECT max(run_len) FROM runs WHERE s = 1), 0)
         AS longest_up_streak,
       COALESCE((SELECT max(run_len) FROM runs WHERE s = -1), 0)
         AS longest_down_streak,
       (SELECT CAST(sum(rec_hi) AS BIGINT) FROM d WHERE rn > 1)
         AS n_record_highs,
       (SELECT CAST(sum(rec_lo) AS BIGINT) FROM d WHERE rn > 1)
         AS n_record_lows
"""


@register("weekly_revenue_streaks", oracle=_STREAKS_ORACLE,
          tags=("timeseries",))
def weekly_revenue_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-structure features of weekly revenue: the longest
    consecutive-rise and consecutive-fall streaks (gaps-and-islands
    over the week-over-week sign) and the number of record highs/lows
    after week one (running-extremum breaks). daily_return_runs_test
    asks whether the SIGN SEQUENCE is random; this reports the
    concrete streak/record magnitudes a "9 straight up-weeks" claim
    is checked against. Flat weeks break streaks (sign 0 belongs to
    neither run family).

    Determinism: everything is exact integers — signs, island keys
    (rn − per-sign row_number), run lengths, and record counts from
    strict running-extremum comparisons.

    Scale notes: the fact folds to the calendar-bounded weekly frame;
    the sign/island windows run over those ~360 rows in one sorted
    pass, consumed by four tiny folds.
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
    w_ord = Window.orderBy("week_start")
    w_prev = Window.orderBy("week_start").rowsBetween(Window.unboundedPreceding, -1)
    d = weekly.select(
        "week_start",
        "y",
        F.row_number().over(w_ord).cast("long").alias("rn"),
        F.when(F.col("y") > F.lag("y").over(w_ord), 1)
        .when(F.col("y") < F.lag("y").over(w_ord), -1)
        .otherwise(0)
        .alias("s"),
        F.when(
            F.col("y") > F.coalesce(F.max("y").over(w_prev), F.lit(-1)), 1
        )
        .otherwise(0)
        .alias("rec_hi"),
        F.when(
            F.col("y")
            < F.coalesce(F.min("y").over(w_prev), F.lit(9223372036854775807)),
            1,
        )
        .otherwise(0)
        .alias("rec_lo"),
    )
    runs = (
        d.filter(F.col("s") != 0)
        .select(
            "s",
            (
                F.col("rn")
                - F.row_number().over(Window.partitionBy("s").orderBy("rn"))
            ).alias("grp"),
        )
        .groupBy("s", "grp")
        .agg(F.count("*").cast("long").alias("run_len"))
    )
    streaks = runs.groupBy().agg(
        F.coalesce(
            F.max(F.when(F.col("s") == 1, F.col("run_len"))), F.lit(0)
        ).alias("longest_up_streak"),
        F.coalesce(
            F.max(F.when(F.col("s") == -1, F.col("run_len"))), F.lit(0)
        ).alias("longest_down_streak"),
    )
    recs = d.groupBy().agg(
        F.count("*").cast("long").alias("n_weeks"),
        F.sum(F.when(F.col("rn") > 1, F.col("rec_hi")).otherwise(0))
        .cast("long")
        .alias("n_record_highs"),
        F.sum(F.when(F.col("rn") > 1, F.col("rec_lo")).otherwise(0))
        .cast("long")
        .alias("n_record_lows"),
    )
    return recs.crossJoin(streaks).select(
        "n_weeks",
        "longest_up_streak",
        "longest_down_streak",
        "n_record_highs",
        "n_record_lows",
    )


# ---------------------------------------------------------------------------
# Kendall's W: concordance of weekly brand revenue rankings
# ---------------------------------------------------------------------------

_KENDALL_W_ORACLE = """
WITH wk AS (
  SELECT p.p_brand AS brand,
         CAST(date_trunc('week', l.l_shipdate) AS DATE) AS week,
         CAST(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100)
                       AS BIGINT)) AS BIGINT) AS cents
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
  GROUP BY brand, week
),
kk AS (SELECT CAST(count(DISTINCT brand) AS BIGINT) AS k FROM wk),
full_weeks AS (
  SELECT week FROM wk GROUP BY week
  HAVING count(*) = (SELECT k FROM kk)
),
r AS (
  SELECT wk.week, wk.brand,
         CAST(2 * rank() OVER (PARTITION BY wk.week ORDER BY wk.cents)
              + count(*) OVER (PARTITION BY wk.week, wk.cents) - 1
              AS BIGINT) AS r2,
         CAST(count(*) OVER (PARTITION BY wk.week, wk.cents) AS BIGINT) AS t
  FROM wk JOIN full_weeks f ON wk.week = f.week
),
rb AS (
  SELECT brand, CAST(sum(r2) AS BIGINT) AS r2b FROM r GROUP BY brand
),
agg AS (
  SELECT (SELECT CAST(count(*) AS BIGINT) FROM r) // (SELECT k FROM kk)
           AS m,
         (SELECT k FROM kk) AS k,
         (SELECT CAST(sum(CAST(r2b AS HUGEINT) * r2b) AS DECIMAL(38,0))
          FROM rb) AS sr2,
         -- per-row (t^2 - 1) sums to exactly t^3 - t per tie group
         (SELECT CAST(sum(CAST(t AS HUGEINT) * t - 1) AS BIGINT) FROM r)
           AS st
)
SELECT m AS n_weeks, k AS n_brands,
       round((3.0 * CAST(sr2 AS DOUBLE)
              - 3.0 * CAST(m AS DOUBLE) * m * k * (k + 1) * (k + 1))
             / (CAST(m AS DOUBLE) * m * k * (CAST(k AS DOUBLE) * k - 1)
                - CAST(m AS DOUBLE) * st), 6) AS kendall_w,
       round(CAST(m AS DOUBLE) * (k - 1)
             * (3.0 * CAST(sr2 AS DOUBLE)
                - 3.0 * CAST(m AS DOUBLE) * m * k * (k + 1) * (k + 1))
             / (CAST(m AS DOUBLE) * m * k * (CAST(k AS DOUBLE) * k - 1)
                - CAST(m AS DOUBLE) * st), 4) AS chi2_approx
FROM agg
"""


@register("weekly_brand_kendall_w", oracle=_KENDALL_W_ORACLE,
          tags=("stats", "timeseries"))
def weekly_brand_kendall_w(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall's coefficient of concordance W across weeks ranking
    brands by revenue: m weeks are m judges each ranking the k brands,
    and W ∈ [0,1] reads how much the weekly leaderboards agree (1 =
    identical ranking every week, 0 = no agreement beyond chance),
    with the tie-corrected denominator and the χ² ≈ m(k−1)W
    approximation. weekly_brand_topk_stability tracks top-k set churn
    between adjacent weeks; W is the single-number, all-ranks,
    all-weeks concordance statistic. Only COMPLETE weeks (all k
    brands present) enter, keeping every judge's ranking full.

    Determinism: ranks are exact twice-midranks (2·min_rank + t − 1)
    from integer revenue; ΣR², the tie correction Σ(t³−t), and all
    counts fold exactly (DECIMAL(38,0)/HUGEINT); W and χ² are one
    double tree each, rounded once.

    Scale notes: the fact folds map-side to the (brand × week) frame
    (calendar-bounded) after a broadcast join to the part projection;
    ranking windows partition by week (parallel) over ≤k rows each.
    One fact scan, one localCheckpoint of the tiny frame.
    """
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    dec = "decimal(38,0)"
    wk = (
        li.select("l_partkey", "l_shipdate", "l_extendedprice", "l_discount")
        .join(p, F.col("l_partkey") == F.col("p_partkey"))
        .groupBy(
            F.col("p_brand").alias("brand"),
            F.date_trunc("week", "l_shipdate").cast("date").alias("week"),
        )
        .agg(
            F.sum(
                F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100)
                .cast("long")
            )
            .cast("long")
            .alias("cents")
        )
        .localCheckpoint(eager=False)  # A/B sf1: 3.29 s with, 6.56 s without
    )
    k_frame = wk.agg(F.countDistinct("brand").cast("long").alias("k"))
    full_weeks = (
        wk.groupBy("week")
        .agg(F.count("*").alias("nb"))
        .crossJoin(k_frame)
        .filter(F.col("nb") == F.col("k"))
        .select("week")
    )
    base = wk.join(full_weeks, "week")
    r = base.select(
        "week",
        "brand",
        (
            F.lit(2) * F.rank().over(Window.partitionBy("week").orderBy("cents"))
            + F.count("*").over(Window.partitionBy("week", "cents"))
            - 1
        )
        .cast("long")
        .alias("r2"),
        F.count("*").over(Window.partitionBy("week", "cents")).cast("long").alias("t"),
    )
    rb = r.groupBy("brand").agg(F.sum("r2").cast("long").alias("r2b"))
    # per-row (t^2 - 1) sums to exactly t^3 - t per tie group, collapsing
    # the tie correction into the same fold as the row count
    glob = r.agg(
        F.count("*").cast("long").alias("nr"),
        F.sum(F.col("t").cast(dec) * F.col("t") - 1).cast("long").alias("st"),
    )
    agg = (
        glob.crossJoin(k_frame)
        .crossJoin(rb.agg(F.sum(F.col("r2b").cast(dec) * F.col("r2b")).cast(dec).alias("sr2")))
        .withColumn("m", F.expr("nr DIV k"))
    )
    m_d = F.col("m").cast("double")
    k_d = F.col("k").cast("double")
    num = (
        F.lit(3.0) * F.col("sr2").cast("double")
        - F.lit(3.0) * m_d * F.col("m") * F.col("k") * (F.col("k") + 1) * (F.col("k") + 1)
    )
    den = m_d * F.col("m") * F.col("k") * (k_d * F.col("k") - 1) - m_d * F.col("st")
    return agg.select(
        F.col("m").alias("n_weeks"),
        F.col("k").alias("n_brands"),
        F.round(num / den, 6).alias("kendall_w"),
        F.round(m_d * (F.col("k") - 1) * num / den, 4).alias("chi2_approx"),
    )
