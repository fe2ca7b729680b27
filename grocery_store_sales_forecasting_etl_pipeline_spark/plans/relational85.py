"""Round-6 additions, batch 85: point-process dispersion, extreme-
value clustering, inequality shape, and ordinal association — the
hourly event dispersion audit per event type (Fano factor var/mean
over a ZERO-DENSIFIED hour spine, plus the lag-1 Allan variance ratio
— both exactly 1 for a Poisson stream, the first numbers an eventing
SLO reads to tell bursty from steady), the extremal index of daily
revenue by runs declustering (do extreme days arrive alone or in
clusters? θ ≈ 1 independent extremes, θ ≪ 1 clustered — the number
that corrects any block-maxima return-period estimate), the Lorenz
asymmetry coefficient of customer spend (WHICH side of the
distribution drives the Gini: S < 1 many-small-customers, S > 1
few-giants), and the Goodman-Kruskal γ + Somers' D ordinal
association between order priority and line discount (the
ordinal-by-ordinal strength-and-direction pair that χ²-family
measures throw away the ordering for).

Determinism discipline: the hour spine is an integer epoch-hour
sequence (no timestamp arithmetic crosses an engine boundary);
variance numerators use the n·Σc² − (Σc)² integer identity in
HUGEINT/DECIMAL(38,0); the 95th-percentile threshold and below-mean
splits are cross-multiplied integer comparisons (n·x vs total — no
float mean); concordant/discordant pair counts fold the tiny joint
value-count frame exactly; one rounding per output float.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from grocery_store_sales_forecasting_etl_pipeline_spark.plans._tables import table as _t
from grocery_store_sales_forecasting_etl_pipeline_spark.plans.registry import register

_DEC = "decimal(38,0)"

# ---------------------------------------------------------------------------
# Hourly event dispersion: Fano factor + Allan variance per event type
# ---------------------------------------------------------------------------

_FANO_ORACLE = """
WITH ev AS (
  SELECT event_type, epoch_us(ts) // 3600000000 AS h FROM events
),
bounds AS (
  SELECT min(h) AS h0, max(h) AS h1 FROM ev
),
spine AS (
  SELECT t.event_type, g.h
  FROM (SELECT DISTINCT event_type FROM ev) t
  CROSS JOIN (SELECT unnest(range((SELECT h0 FROM bounds),
                                  (SELECT h1 FROM bounds) + 1)) AS h) g
),
cnt AS (
  SELECT s.event_type, s.h, CAST(coalesce(c.c, 0) AS BIGINT) AS c
  FROM spine s
  LEFT JOIN (SELECT event_type, h, CAST(count(*) AS BIGINT) AS c
             FROM ev GROUP BY event_type, h) c
    ON c.event_type = s.event_type AND c.h = s.h
),
seq AS (
  SELECT event_type, c,
         lead(c) OVER (PARTITION BY event_type ORDER BY h) AS c_next
  FROM cnt
),
g AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS n_hours,
         CAST(sum(c) AS BIGINT) AS n_events,
         CAST(sum(CAST(c AS HUGEINT) * c) AS DECIMAL(38,0)) AS sc2,
         CAST(sum(CASE WHEN c_next IS NOT NULL
                  THEN CAST(c_next - c AS HUGEINT) * (c_next - c) END)
              AS DECIMAL(38,0)) AS sd2,
         CAST(sum(CASE WHEN c_next IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_pairs
  FROM seq GROUP BY event_type
)
SELECT event_type, n_hours, n_events,
       round((CAST(n_hours AS DOUBLE) * CAST(sc2 AS DOUBLE)
              - CAST(n_events AS DOUBLE) * n_events)
             / (CAST(n_hours AS DOUBLE) * (n_hours - 1))
             / (CAST(n_events AS DOUBLE) / n_hours), 6) AS fano_factor,
       round(CAST(sd2 AS DOUBLE) / (2.0 * n_pairs)
             / (CAST(n_events AS DOUBLE) / n_hours), 6) AS allan_ratio
FROM g
"""


@register("hourly_event_dispersion", oracle=_FANO_ORACLE, tags=("stats", "events"))
def hourly_event_dispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly dispersion audit per event type over a ZERO-DENSIFIED
    epoch-hour spine: the Fano factor (variance/mean of hourly counts
    — exactly 1 for Poisson arrivals, > 1 bursty, < 1 regularized) and
    the lag-1 Allan variance ratio (mean squared consecutive-hour
    difference / 2 / mean — the drift-insensitive twin that stays
    near 1 under slow level changes where the Fano factor inflates).
    Reading them together separates true burstiness from trend:
    Fano ≫ Allan means slow drift, both ≫ 1 means real clumping.
    event_rate_anomaly flags individual hours; this characterizes the
    PROCESS.

    Determinism: hours are integer epoch-hours (micros DIV 3600e6 —
    TZ-free on the NTZ-normalized loader); missing hours are
    densified to exact zero via the integer spine; both variance
    numerators are integer identities (n·Σc² − (Σc)², Σ(Δc)²) in
    HUGEINT/DECIMAL(38,0); two divisions at the boundary.

    Scale notes: the (type × hour) fold is map-side; the spine is
    calendar-bounded (types × hours, independent of event volume);
    the lead window partitions per type.
    """
    ev = _t(spark, sf_dir, "events").select(
        "event_type",
        F.expr("unix_micros(cast(ts as timestamp)) DIV 3600000000").alias("h"),
    )
    bounds = ev.agg(F.min("h").alias("h0"), F.max("h").alias("h1"))
    spine = (
        ev.select("event_type")
        .distinct()
        .crossJoin(bounds)
        .select("event_type", F.explode(F.sequence("h0", "h1")).alias("h"))
    )
    c = ev.groupBy("event_type", "h").agg(F.count("*").cast("long").alias("c"))
    cnt = spine.join(c, ["event_type", "h"], "left").select(
        "event_type", "h", F.coalesce(F.col("c"), F.lit(0)).cast("long").alias("c")
    )
    w = Window.partitionBy("event_type").orderBy("h")
    seq = cnt.select("event_type", "c", F.lead("c").over(w).alias("c_next"))
    g = seq.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_hours"),
        F.sum("c").cast("long").alias("n_events"),
        F.sum(F.col("c").cast(_DEC) * F.col("c").cast(_DEC)).cast(_DEC).alias("sc2"),
        F.sum(
            F.when(
                F.col("c_next").isNotNull(),
                (F.col("c_next") - F.col("c")).cast(_DEC)
                * (F.col("c_next") - F.col("c")).cast(_DEC),
            )
        )
        .cast(_DEC)
        .alias("sd2"),
        F.sum(F.when(F.col("c_next").isNotNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_pairs"),
    )
    nh_d = F.col("n_hours").cast("double")
    ne_d = F.col("n_events").cast("double")
    mean = ne_d / F.col("n_hours")
    return g.select(
        "event_type",
        "n_hours",
        "n_events",
        F.round(
            (nh_d * F.col("sc2").cast("double") - ne_d * F.col("n_events"))
            / (nh_d * (F.col("n_hours") - 1))
            / mean,
            6,
        ).alias("fano_factor"),
        F.round(
            F.col("sd2").cast("double") / (F.lit(2.0) * F.col("n_pairs")) / mean, 6
        ).alias("allan_ratio"),
    )


# ---------------------------------------------------------------------------
# Extremal index of daily revenue (runs declustering)
# ---------------------------------------------------------------------------

_EXTREMAL_ORACLE = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS d,
         sum(CAST(round(o_totalprice * 100) AS BIGINT)) // 100 AS dollars
  FROM orders GROUP BY d
),
v AS (SELECT dollars, CAST(count(*) AS BIGINT) AS c FROM daily GROUP BY dollars),
cw AS (
  SELECT dollars,
         CAST(sum(c) OVER (ORDER BY dollars
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
         CAST(sum(c) OVER () AS BIGINT) AS n
  FROM v
),
thr AS (
  SELECT min(CASE WHEN 100 * cum >= 95 * n THEN dollars END) AS u,
         max(n) AS n_days
  FROM cw
),
exc AS (
  SELECT d.d,
         lag(d.d) OVER (ORDER BY d.d) AS prev_d
  FROM daily d CROSS JOIN thr
  WHERE d.dollars > thr.u
),
g AS (
  SELECT CAST(count(*) AS BIGINT) AS n_exceed,
         CAST(sum(CASE WHEN prev_d IS NULL
                        OR date_diff('day', prev_d, d) > 2
                  THEN 1 ELSE 0 END) AS BIGINT) AS n_clusters
  FROM exc
)
SELECT thr.n_days, thr.u AS threshold_dollars, g.n_exceed, g.n_clusters,
       round(CAST(g.n_clusters AS DOUBLE) / g.n_exceed, 6) AS extremal_index
FROM g CROSS JOIN thr
"""


@register("daily_revenue_extremal_index", oracle=_EXTREMAL_ORACLE, tags=("stats",))
def daily_revenue_extremal_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extremal index of daily revenue by runs declustering: days
    above the exact 95th-percentile threshold form clusters whenever
    consecutive exceedances are ≤ 2 days apart; θ̂ = clusters/
    exceedances. θ ≈ 1 means extreme days strike independently; θ ≪ 1
    means they arrive in runs — in which case monthly_max_gumbel_fit's
    return periods are optimistic by the factor 1/θ (the effective
    number of independent extremes is θ·n). The dependence correction
    the registered block-maxima and Hill-tail fits silently assume
    away.

    Determinism: the threshold is the smallest value whose cumulative
    count clears the cross-multiplied 95% rank on the integer
    value-count frame (strict > keeps the exceedance set exact); the
    run split compares integer day gaps; θ divides once.

    Scale notes: the daily fold is map-side onto a calendar-bounded
    frame; exceedance windows run over ≤ 5% of those rows.
    """
    o = _t(spark, sf_dir, "orders")
    daily = (
        o.select(
            F.col("o_orderdate").cast("date").alias("d"),
            F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        )
        .groupBy("d")
        .agg(F.expr("sum(cents) DIV 100").alias("dollars"))
    )
    v = daily.groupBy("dollars").agg(F.count("*").cast("long").alias("c"))
    w_cum = Window.orderBy("dollars").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_all = Window.partitionBy()
    cw = v.select(
        "dollars",
        F.sum("c").over(w_cum).cast("long").alias("cum"),
        F.sum("c").over(w_all).cast("long").alias("n"),
    )
    thr = cw.agg(
        F.min(
            F.when(F.lit(100) * F.col("cum") >= F.lit(95) * F.col("n"), F.col("dollars"))
        ).alias("u"),
        F.max("n").alias("n_days"),
    )
    exc = (
        daily.crossJoin(thr)
        .filter(F.col("dollars") > F.col("u"))
        .select("d")
    )
    w_d = Window.orderBy("d")
    runs = exc.select("d", F.lag("d").over(w_d).alias("prev_d"))
    g = runs.agg(
        F.count("*").cast("long").alias("n_exceed"),
        F.sum(
            F.when(
                F.col("prev_d").isNull()
                | (F.datediff(F.col("d"), F.col("prev_d")) > 2),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_clusters"),
    )
    return g.crossJoin(thr).select(
        "n_days",
        F.col("u").alias("threshold_dollars"),
        "n_exceed",
        "n_clusters",
        F.round(
            F.col("n_clusters").cast("double") / F.col("n_exceed"), 6
        ).alias("extremal_index"),
    )


# ---------------------------------------------------------------------------
# Lorenz asymmetry of customer spend
# ---------------------------------------------------------------------------

_LORENZ_ASYM_ORACLE = """
WITH spend AS (
  SELECT o_custkey,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM orders GROUP BY o_custkey
),
tot AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(cents) AS DECIMAL(38,0)) AS total
  FROM spend
),
g AS (
  SELECT max(tot.n) AS n, max(tot.total) AS total,
         CAST(sum(CASE WHEN CAST(s.cents AS HUGEINT) * tot.n
                            < CAST(tot.total AS HUGEINT) THEN 1 ELSE 0 END)
              AS BIGINT) AS m_below,
         CAST(sum(CASE WHEN CAST(s.cents AS HUGEINT) * tot.n
                            < CAST(tot.total AS HUGEINT) THEN s.cents ELSE 0 END)
              AS DECIMAL(38,0)) AS spend_below
  FROM spend s CROSS JOIN tot
)
SELECT n AS n_customers, CAST(total AS BIGINT) AS total_cents,
       m_below AS n_below_mean,
       round(CAST(m_below AS DOUBLE) / n, 6) AS pop_share_below_mean,
       round(CAST(spend_below AS DOUBLE) / CAST(total AS DOUBLE), 6)
         AS spend_share_below_mean,
       round(CAST(m_below AS DOUBLE) / n
             + CAST(spend_below AS DOUBLE) / CAST(total AS DOUBLE), 6)
         AS lorenz_asymmetry
FROM g
"""


@register("customer_spend_lorenz_asymmetry", oracle=_LORENZ_ASYM_ORACLE, tags=("stats",))
def customer_spend_lorenz_asymmetry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lorenz asymmetry coefficient of per-customer spend: S = F(μ) +
    L(μ) — the population share below the mean plus the spend share
    they hold (the discrete, non-interpolated variant; documented).
    S = 1 means the Lorenz curve is symmetric; S < 1 says inequality
    is driven by a mass of SMALL customers, S > 1 by a few GIANTS —
    the direction revenue_lorenz_deciles' Gini cannot tell apart (two
    distributions with identical Gini can sit on opposite sides of 1).

    Determinism: "below the mean" is the cross-multiplied integer
    comparison cents·n < total (no float mean ever materializes);
    counts and spend sums are exact integers; three divisions at the
    boundary.

    Scale notes: per-customer fold shuffles on custkey; the
    below-mean fold is a map-side combine against a broadcast 1-row
    total.
    """
    spend = (
        _t(spark, sf_dir, "orders")
        .select(
            "o_custkey",
            F.round(F.col("o_totalprice") * 100).cast("long").alias("c"),
        )
        .groupBy("o_custkey")
        .agg(F.sum("c").cast("long").alias("cents"))
    )
    tot = spend.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("cents").cast(_DEC).alias("total"),
    )
    below = F.col("cents").cast(_DEC) * F.col("n").cast(_DEC) < F.col("total")
    g = spend.crossJoin(tot).agg(
        F.max("n").alias("n"),
        F.max("total").alias("total"),
        F.sum(F.when(below, 1).otherwise(0)).cast("long").alias("m_below"),
        F.sum(F.when(below, F.col("cents")).otherwise(0)).cast(_DEC).alias("spend_below"),
    )
    pop_share = F.col("m_below").cast("double") / F.col("n")
    spend_share = F.col("spend_below").cast("double") / F.col("total").cast("double")
    return g.select(
        F.col("n").alias("n_customers"),
        F.col("total").cast("long").alias("total_cents"),
        F.col("m_below").alias("n_below_mean"),
        F.round(pop_share, 6).alias("pop_share_below_mean"),
        F.round(spend_share, 6).alias("spend_share_below_mean"),
        F.round(pop_share + spend_share, 6).alias("lorenz_asymmetry"),
    )


# ---------------------------------------------------------------------------
# Goodman-Kruskal gamma + Somers' D: priority vs discount (ordinal)
# ---------------------------------------------------------------------------

_GAMMA_ORACLE = """
WITH base AS (
  SELECT o.o_orderpriority AS x,
         CAST(round(l.l_discount * 100) AS BIGINT) AS y
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
),
cells AS (
  SELECT x, y, CAST(count(*) AS BIGINT) AS c FROM base GROUP BY x, y
),
pairs AS (
  SELECT CAST(sum(CASE WHEN (a.x < b.x AND a.y < b.y)
                         OR (a.x > b.x AND a.y > b.y)
                  THEN CAST(a.c AS HUGEINT) * b.c ELSE 0 END) AS DECIMAL(38,0)) AS c2,
         CAST(sum(CASE WHEN (a.x < b.x AND a.y > b.y)
                         OR (a.x > b.x AND a.y < b.y)
                  THEN CAST(a.c AS HUGEINT) * b.c ELSE 0 END) AS DECIMAL(38,0)) AS d2,
         CAST(sum(CASE WHEN a.x = b.x AND a.y <> b.y
                  THEN CAST(a.c AS HUGEINT) * b.c ELSE 0 END) AS DECIMAL(38,0)) AS tx2
  FROM cells a CROSS JOIN cells b
)
SELECT c2 AS concordant_x2,
       d2 AS discordant_x2,
       tx2 AS tied_x_only_x2,
       round((CAST(c2 AS DOUBLE) - CAST(d2 AS DOUBLE))
             / (CAST(c2 AS DOUBLE) + CAST(d2 AS DOUBLE)), 6) AS gk_gamma,
       round((CAST(c2 AS DOUBLE) - CAST(d2 AS DOUBLE))
             / (CAST(c2 AS DOUBLE) + CAST(d2 AS DOUBLE) + CAST(tx2 AS DOUBLE)), 6)
         AS somers_d_y_given_x
FROM pairs
"""


@register("priority_discount_ordinal_assoc", oracle=_GAMMA_ORACLE, tags=("stats",))
def priority_discount_ordinal_assoc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Goodman-Kruskal γ and Somers' D between order priority (ordinal
    1-URGENT … 5-LOW) and line discount (ordinal cents): γ =
    (C−D)/(C+D) ignores all ties — the cleanest "do higher-priority
    orders get deeper discounts" direction — while Somers' D(Y|X)
    re-admits pairs tied on Y only, making it the asymmetric
    predictive version (discount as response). Complements
    priority_segment_association's Cramér's V (nominal strength, no
    direction) and the registered Kendall τ-b (symmetric tie
    handling) with the ordinal directional pair.

    Determinism: both statistics fold the 5×11 joint value-count
    frame — every pair class (concordant/discordant/tied-X-only)
    counts exactly as HUGEINT cell-count products summed in
    DECIMAL(38,0) (each unordered pair counted twice; the doubled
    counts are emitted as-is — the ×2 cancels in both ratios and
    halving a DECIMAL at the boundary is engine-divergent); the
    priorities' lexicographic order IS their
    ordinal order ('1-URGENT' < … < '5-LOW'); two divisions out.

    Scale notes: the fact join shuffles on orderkey; the fold onto 55
    cells is map-side; the cell cross join is 3k pairs regardless of
    data volume.
    """
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_discount")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    base = li.join(o, F.col("l_orderkey") == F.col("o_orderkey")).select(
        F.col("o_orderpriority").alias("x"),
        F.round(F.col("l_discount") * 100).cast("long").alias("y"),
    )
    cells = base.groupBy("x", "y").agg(F.count("*").cast("long").alias("c"))
    a = cells.alias("a")
    b = cells.alias("b")
    prod = F.col("a.c").cast(_DEC) * F.col("b.c").cast(_DEC)
    conc = (
        (F.col("a.x") < F.col("b.x")) & (F.col("a.y") < F.col("b.y"))
    ) | ((F.col("a.x") > F.col("b.x")) & (F.col("a.y") > F.col("b.y")))
    disc = (
        (F.col("a.x") < F.col("b.x")) & (F.col("a.y") > F.col("b.y"))
    ) | ((F.col("a.x") > F.col("b.x")) & (F.col("a.y") < F.col("b.y")))
    tx = (F.col("a.x") == F.col("b.x")) & (F.col("a.y") != F.col("b.y"))
    pairs = a.crossJoin(b).agg(
        F.sum(F.when(conc, prod).otherwise(F.lit(0).cast(_DEC))).cast(_DEC).alias("c2"),
        F.sum(F.when(disc, prod).otherwise(F.lit(0).cast(_DEC))).cast(_DEC).alias("d2"),
        F.sum(F.when(tx, prod).otherwise(F.lit(0).cast(_DEC))).cast(_DEC).alias("tx2"),
    )
    c_d = F.col("c2").cast("double")
    d_d = F.col("d2").cast("double")
    t_d = F.col("tx2").cast("double")
    return pairs.select(
        F.col("c2").alias("concordant_x2"),
        F.col("d2").alias("discordant_x2"),
        F.col("tx2").alias("tied_x_only_x2"),
        F.round((c_d - d_d) / (c_d + d_d), 6).alias("gk_gamma"),
        F.round((c_d - d_d) / (c_d + d_d + t_d), 6).alias("somers_d_y_given_x"),
    )
