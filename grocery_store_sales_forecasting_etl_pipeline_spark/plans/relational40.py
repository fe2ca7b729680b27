"""Round-6 additions, batch 40: the inventory-planning family the
grocery forecasting user runs AFTER the demand forecast — ABC
revenue classification (which parts deserve attention), Croston's
method (the standard forecast for INTERMITTENT demand, where
EWMA/Holt over mostly-zero weeks systematically under-forecasts),
discount arc elasticity (how quantity responds to price bands), and
safety-stock / reorder-point computation (the number the forecast
actually feeds).

Reference parity: the reference stops at the GBT weekly forecast;
these are the classical operations research layer downstream of it —
each is a registered query with a DuckDB oracle.

Determinism discipline: revenue/quantity fold to exact cents/unit
integers; the ABC cut-offs compare integer cross-products (cum*100 <=
80*total), never float shares; Croston folds an ordered array with
alpha = 0.5 (exponent-shift multiplies, pinned-order additions — the
forecast_ewma/holt idiom); elasticity and safety stock are single
closed-form double expressions over exact sums, rounded once.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from grocery_store_sales_forecasting_etl_pipeline_spark.plans._tables import table as _t
from grocery_store_sales_forecasting_etl_pipeline_spark.plans.registry import register

# ---------------------------------------------------------------------------
# ABC revenue classification
# ---------------------------------------------------------------------------

_ABC_ORACLE = """
WITH pr AS (
  SELECT l_partkey AS partkey,
         CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT))
              AS BIGINT) AS rev
  FROM lineitem GROUP BY 1
),
c AS (
  SELECT partkey, rev,
         CAST(sum(rev) OVER (ORDER BY rev DESC, partkey
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS HUGEINT) AS cum,
         CAST(sum(rev) OVER () AS HUGEINT) AS total
  FROM pr
),
k AS (
  SELECT CASE WHEN cum * 100 <= 80 * total THEN 'A'
              WHEN cum * 100 <= 95 * total THEN 'B'
              ELSE 'C' END AS abc_class,
         rev, total
  FROM c
)
SELECT abc_class,
       CAST(count(*) AS BIGINT) AS n_parts,
       CAST(sum(rev) AS BIGINT) AS class_revenue,
       round(sum(rev) / CAST(max(total) AS DOUBLE), 6) AS revenue_share
FROM k GROUP BY abc_class
"""


@register("part_abc_classes", oracle=_ABC_ORACLE, tags=("agg", "window"))
def part_abc_classes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC inventory classification: parts ranked by discounted
    revenue, class A = the head making up the first 80% of cumulative
    revenue, B = next 15%, C = the tail — the attention-allocation
    split every planner starts from (count-A is small, revenue-A is
    dominant). A part is classed by the cumulative total INCLUDING its
    own revenue, ties broken by partkey so the cut is total-ordered.

    Determinism: revenue folds to exact cents; the class cut compares
    integer cross-products (cum*100 vs 80*total in HUGEINT/decimal —
    never a float share), so boundary parts class identically in both
    engines; the only float is the output share, rounded once.

    Scale notes: ONE fact scan folds to part grain (map-side
    combinable, catalog-bounded — orders of magnitude below the fact);
    the cumulative window orders that part-grain frame (the
    distributed form is range-partitioned prefix sums, the
    customer_spend_deciles shape); the output is a 3-row rollup.
    """
    li = _t(spark, sf_dir, "lineitem")
    pr = li.groupBy(F.col("l_partkey").alias("partkey")).agg(
        F.sum(
            F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100).cast(
                "long"
            )
        )
        .cast("long")
        .alias("rev")
    )
    dec = "decimal(38,0)"
    w_cum = Window.orderBy(F.col("rev").desc(), "partkey").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    c = pr.select(
        "rev",
        F.sum(F.col("rev").cast(dec)).over(w_cum).alias("cum"),
        F.sum(F.col("rev").cast(dec)).over(Window.partitionBy()).alias("total"),
    )
    k = c.select(
        F.when(F.col("cum") * 100 <= F.col("total") * 80, "A")
        .when(F.col("cum") * 100 <= F.col("total") * 95, "B")
        .otherwise("C")
        .alias("abc_class"),
        "rev",
        "total",
    )
    return k.groupBy("abc_class").agg(
        F.count("*").cast("long").alias("n_parts"),
        F.sum("rev").cast("long").alias("class_revenue"),
        F.round(
            F.sum("rev").cast("double") / F.max("total").cast("double"), 6
        ).alias("revenue_share"),
    )


# ---------------------------------------------------------------------------
# Croston's method for intermittent demand
# ---------------------------------------------------------------------------

_CROSTON_MIN_DEMANDS = 3

_CROSTON_ORACLE = f"""
WITH base AS (
  SELECT l_partkey AS partkey,
         CAST(l_shipdate AS DATE)
           - CAST((dayofweek(CAST(l_shipdate AS DATE)) + 6) % 7 AS INTEGER)
           AS week_start,
         CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS qty
  FROM lineitem GROUP BY 1, 2
),
idx AS (
  SELECT partkey, qty,
         date_diff('day', min(week_start) OVER (PARTITION BY partkey), week_start)
           // 7 AS w
  FROM base
),
seq AS (
  SELECT partkey, qty, w,
         w - lag(w) OVER (PARTITION BY partkey ORDER BY w) AS gap,
         row_number() OVER (PARTITION BY partkey ORDER BY w) AS i,
         count(*) OVER (PARTITION BY partkey) AS n
  FROM idx
),
arr AS (
  SELECT partkey, CAST(max(n) AS BIGINT) AS n_demand_weeks,
         list(list_value(CAST(qty AS DOUBLE), CAST(gap AS DOUBLE)) ORDER BY i)
           AS pairs
  FROM seq GROUP BY partkey HAVING max(n) >= {_CROSTON_MIN_DEMANDS}
),
f AS (
  SELECT partkey, n_demand_weeks,
         list_reduce(
           list_prepend(list_value(pairs[1][1], pairs[2][2]), pairs[3:]),
           (acc, x) -> list_value(x[1] * 0.5 + acc[1] * 0.5,
                                  x[2] * 0.5 + acc[2] * 0.5)
         ) AS st
  FROM arr
)
SELECT partkey, n_demand_weeks,
       round(st[1], 6) AS croston_size,
       round(st[2], 6) AS croston_interval,
       round(st[1] / st[2], 6) AS croston_forecast
FROM f
"""


@register("croston_demand_forecast", oracle=_CROSTON_ORACLE, tags=("ml", "timeseries"))
def croston_demand_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Croston's method per part: separate EWMA smoothing (alpha = 0.5)
    of the nonzero demand SIZES and of the INTERVALS between demand
    weeks; forecast = size / interval, the demand-rate estimate. This
    is THE standard forecast for intermittent series (a part selling
    in a few weeks per year), where plain EWMA over the mostly-zero
    weekly series decays toward zero right after each demand spike.

    Spec pinned for parity: demand weeks are Monday-anchored; the
    week index is relative to the part's FIRST demand week; the size
    state initializes to the first demand, the interval state to the
    first observed gap (second row); the fold consumes rows 3..n. A
    part needs >= 3 demand weeks to produce a forecast.

    Engine-parity design: the recurrence folds an ordered array of
    (size, gap) pairs with a TWO-ELEMENT array state in
    ``F.aggregate`` mirrored by DuckDB ``list_reduce`` with a
    prepended init state (the forecast_holt_linear idiom); alpha = 0.5
    keeps every multiply an exponent shift, so both engines add the
    same numbers in the same order — bit-exact.

    Scale notes: one fold to (part, week) grain (map-side combinable),
    one shuffle to group each part's demand series; state per group is
    |demand weeks| doubles — the per-entity sequential-recurrence
    escape hatch, bounded by series length, never corpus size.
    """
    li = _t(spark, sf_dir, "lineitem")
    monday = F.date_sub(
        F.col("l_shipdate").cast("date"),
        (F.dayofweek(F.col("l_shipdate").cast("date")) + F.lit(5)) % F.lit(7),
    )
    base = li.groupBy(
        F.col("l_partkey").alias("partkey"), monday.alias("week_start")
    ).agg(F.sum(F.round("l_quantity").cast("long")).cast("long").alias("qty"))
    w_part = Window.partitionBy("partkey")
    idx = base.select(
        "partkey",
        "qty",
        (
            F.datediff(F.col("week_start"), F.min("week_start").over(w_part)) / 7
        )
        .cast("long")
        .alias("w"),
    )
    w_ord = Window.partitionBy("partkey").orderBy("w")
    seq = idx.select(
        "partkey",
        "qty",
        "w",
        (F.col("w") - F.lag("w").over(w_ord)).alias("gap"),
        F.row_number().over(w_ord).alias("i"),
        F.count("*").over(w_part).alias("n"),
    )
    arr = (
        seq.groupBy("partkey")
        .agg(
            F.max("n").cast("long").alias("n_demand_weeks"),
            F.transform(
                F.sort_array(F.collect_list(F.struct("i", "qty", "gap"))),
                lambda r: F.array(
                    r["qty"].cast("double"), r["gap"].cast("double")
                ),
            ).alias("pairs"),
        )
        .filter(F.col("n_demand_weeks") >= _CROSTON_MIN_DEMANDS)
    )
    init = F.array(
        F.element_at(F.element_at("pairs", 1), 1),
        F.element_at(F.element_at("pairs", 2), 2),
    )
    st = F.aggregate(
        F.slice(F.col("pairs"), 3, F.size("pairs") - 2),
        init,
        lambda acc, x: F.array(
            F.element_at(x, 1) * F.lit(0.5) + F.element_at(acc, 1) * F.lit(0.5),
            F.element_at(x, 2) * F.lit(0.5) + F.element_at(acc, 2) * F.lit(0.5),
        ),
    )
    return arr.select(
        "partkey",
        "n_demand_weeks",
        F.round(F.element_at(st, 1), 6).alias("croston_size"),
        F.round(F.element_at(st, 2), 6).alias("croston_interval"),
        F.round(F.element_at(st, 1) / F.element_at(st, 2), 6).alias(
            "croston_forecast"
        ),
    )


# ---------------------------------------------------------------------------
# Discount arc elasticity
# ---------------------------------------------------------------------------

_ELASTICITY_ORACLE = """
WITH b AS (
  SELECT CAST(round(l_discount * 100) AS BIGINT) AS band,
         CAST(count(*) AS BIGINT) AS n_lines,
         CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS qty,
         CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT))
              AS BIGINT) AS rev_cents
  FROM lineitem GROUP BY 1
),
p AS (
  SELECT band, n_lines, qty,
         rev_cents / CAST(qty AS DOUBLE) AS unit_price,
         qty / CAST(n_lines AS DOUBLE) AS qty_per_line,
         lag(band) OVER (ORDER BY band) AS prev_band,
         lag(rev_cents / CAST(qty AS DOUBLE)) OVER (ORDER BY band) AS prev_price,
         lag(qty / CAST(n_lines AS DOUBLE)) OVER (ORDER BY band) AS prev_qpl
  FROM b
)
SELECT prev_band AS band_lo, band AS band_hi,
       round(prev_price, 4) AS price_lo,
       round(unit_price, 4) AS price_hi,
       round(prev_qpl, 4) AS qty_lo,
       round(qty_per_line, 4) AS qty_hi,
       round(((qty_per_line - prev_qpl) / ((qty_per_line + prev_qpl) / 2))
             / ((unit_price - prev_price) / ((unit_price + prev_price) / 2)), 4)
         AS arc_elasticity
FROM p WHERE prev_band IS NOT NULL
"""


@register("discount_arc_elasticity", oracle=_ELASTICITY_ORACLE, tags=("stats", "agg"))
def discount_arc_elasticity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arc (midpoint) price elasticity between adjacent discount
    bands: percent change in average line quantity over percent change
    in average discounted unit price — the price-response readout a
    promo planner wants, computed WITHOUT logarithms (ln differs in
    the last ulp across engines; the midpoint formula uses only
    ratios of exact sums).

    Scale notes: ONE fact scan folds to the <= 12-row discount-band
    grain with map-side partials; the adjacent-band lag is a window
    over those 12 rows. The elasticity of TPC-H's generator is ~0 by
    construction (discount is drawn independently of quantity) — the
    audit reports that honestly rather than assuming a demand curve.
    """
    li = _t(spark, sf_dir, "lineitem")
    b = li.groupBy(
        F.round(F.col("l_discount") * 100).cast("long").alias("band")
    ).agg(
        F.count("*").cast("long").alias("n_lines"),
        F.sum(F.round("l_quantity").cast("long")).cast("long").alias("qty"),
        F.sum(
            F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100).cast(
                "long"
            )
        )
        .cast("long")
        .alias("rev_cents"),
    )
    w = Window.orderBy("band")
    unit_price = F.col("rev_cents") / F.col("qty").cast("double")
    qpl = F.col("qty") / F.col("n_lines").cast("double")
    p = b.select(
        "band",
        unit_price.alias("unit_price"),
        qpl.alias("qty_per_line"),
        F.lag("band").over(w).alias("prev_band"),
        F.lag(unit_price).over(w).alias("prev_price"),
        F.lag(qpl).over(w).alias("prev_qpl"),
    )
    arc = (
        (F.col("qty_per_line") - F.col("prev_qpl"))
        / ((F.col("qty_per_line") + F.col("prev_qpl")) / 2)
    ) / (
        (F.col("unit_price") - F.col("prev_price"))
        / ((F.col("unit_price") + F.col("prev_price")) / 2)
    )
    return p.filter(F.col("prev_band").isNotNull()).select(
        F.col("prev_band").alias("band_lo"),
        F.col("band").alias("band_hi"),
        F.round("prev_price", 4).alias("price_lo"),
        F.round("unit_price", 4).alias("price_hi"),
        F.round("prev_qpl", 4).alias("qty_lo"),
        F.round("qty_per_line", 4).alias("qty_hi"),
        F.round(arc, 4).alias("arc_elasticity"),
    )


# ---------------------------------------------------------------------------
# Safety stock / reorder point per brand
# ---------------------------------------------------------------------------

_Z_SERVICE = 1.645  # ~95% service level
_LEAD_WEEKS = 2

_SAFETY_ORACLE = f"""
WITH wk AS (
  SELECT p.p_brand AS brand,
         CAST(l.l_shipdate AS DATE)
           - CAST((dayofweek(CAST(l.l_shipdate AS DATE)) + 6) % 7 AS INTEGER)
           AS week_start,
         CAST(sum(CAST(round(l.l_quantity) AS BIGINT)) AS BIGINT) AS qty
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
  GROUP BY 1, 2
),
span AS (
  SELECT CAST(date_diff('day', min(week_start), max(week_start)) // 7 + 1
              AS HUGEINT) AS s
  FROM wk
),
agg AS (
  SELECT brand,
         CAST(count(*) AS BIGINT) AS n_demand_weeks,
         CAST(sum(CAST(qty AS HUGEINT)) AS HUGEINT) AS sq,
         CAST(sum(CAST(qty AS HUGEINT) * qty) AS HUGEINT) AS sqq
  FROM wk GROUP BY brand
)
SELECT brand, n_demand_weeks,
       CAST(s AS BIGINT) AS span_weeks,
       round(CAST(sq AS DOUBLE) / CAST(s AS DOUBLE), 4) AS mean_weekly_qty,
       round(sqrt((CAST(sqq AS DOUBLE)
                   - CAST(sq AS DOUBLE) * CAST(sq AS DOUBLE) / CAST(s AS DOUBLE))
                  / (CAST(s AS DOUBLE) - 1)), 4) AS std_weekly_qty,
       round({_Z_SERVICE} * sqrt({_LEAD_WEEKS})
             * sqrt((CAST(sqq AS DOUBLE)
                     - CAST(sq AS DOUBLE) * CAST(sq AS DOUBLE) / CAST(s AS DOUBLE))
                    / (CAST(s AS DOUBLE) - 1)), 4) AS safety_stock,
       round(CAST(sq AS DOUBLE) / CAST(s AS DOUBLE) * {_LEAD_WEEKS}
             + {_Z_SERVICE} * sqrt({_LEAD_WEEKS})
             * sqrt((CAST(sqq AS DOUBLE)
                     - CAST(sq AS DOUBLE) * CAST(sq AS DOUBLE) / CAST(s AS DOUBLE))
                    / (CAST(s AS DOUBLE) - 1)), 4) AS reorder_point
FROM agg CROSS JOIN span
"""


@register("brand_safety_stock", oracle=_SAFETY_ORACLE, tags=("agg", "stats"))
def brand_safety_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Safety stock and reorder point per brand at a 95% service level
    (z = 1.645) over a 2-week lead time: mean and standard
    deviation of WEEKLY demand — with zero-demand weeks counted, via
    the corpus-wide calendar span, not just the observed weeks (the
    classic intermittency mistake that understates variance... and
    overstates the mean) — then ss = z * sigma * sqrt(L) and
    ROP = mu * L + ss.

    Determinism: weekly quantities are exact integers; sum and
    sum-of-squares accumulate in DECIMAL(38,0)/HUGEINT (qty^2 sums
    cross BIGINT at scale — the r5 ANSI-overflow lesson); the span is
    a single integer; every output is one closed-form double over
    those exact values, rounded once.

    Scale notes: one fact scan with the part dim broadcast folds to
    (brand, week) grain map-side; the span is a 1-row global min/max
    crossJoined back broadcast; output is brand-cardinality (25 rows).
    """
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    monday = F.date_sub(
        F.col("l_shipdate").cast("date"),
        (F.dayofweek(F.col("l_shipdate").cast("date")) + F.lit(5)) % F.lit(7),
    )
    wk = (
        li.join(
            p.select("p_partkey", "p_brand"),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .groupBy(F.col("p_brand").alias("brand"), monday.alias("week_start"))
        .agg(F.sum(F.round("l_quantity").cast("long")).cast("long").alias("qty"))
    )
    wk = wk.localCheckpoint(eager=False)  # A/B sf1: 1.85 s with, 2.33 s without
    dec = "decimal(38,0)"
    span = wk.agg(
        (
            (F.datediff(F.max("week_start"), F.min("week_start")) / 7).cast("long") + 1
        )
        .cast(dec)
        .alias("s")
    )
    agg = wk.groupBy("brand").agg(
        F.count("*").cast("long").alias("n_demand_weeks"),
        F.sum(F.col("qty").cast(dec)).alias("sq"),
        F.sum(F.col("qty").cast(dec) * F.col("qty")).alias("sqq"),
    )
    j = agg.crossJoin(span)
    s_d = F.col("s").cast("double")
    sq_d = F.col("sq").cast("double")
    sqq_d = F.col("sqq").cast("double")
    var = (sqq_d - sq_d * sq_d / s_d) / (s_d - 1)
    std = F.sqrt(var)
    ss = F.lit(_Z_SERVICE) * F.sqrt(F.lit(float(_LEAD_WEEKS))) * std
    return j.select(
        "brand",
        "n_demand_weeks",
        F.col("s").cast("long").alias("span_weeks"),
        F.round(sq_d / s_d, 4).alias("mean_weekly_qty"),
        F.round(std, 4).alias("std_weekly_qty"),
        F.round(ss, 4).alias("safety_stock"),
        F.round(sq_d / s_d * _LEAD_WEEKS + ss, 4).alias("reorder_point"),
    )
