"""Round-6 additions, batch 60: weighted order statistics and
process-assumption screens — the weighted median (the order statistic
that answers "the price of the median UNIT sold", not the median
line), a two-proportion z-test (the direct A/B significance primitive
the Wilson bands and trend test bracket but never state), an
exponential Q-Q correlation of customer inter-order gaps (is the
order process a Poisson renewal — the assumption behind every
exponential-smoothing and hazard model upstream), and per-customer
seasonality entropy (who shops year-round vs in bursts).

Determinism discipline: weighted medians select by integer
cross-multiplication (2*cumw >= totw) on the value-count frame —
no float rates; the z-test is one double tree over BIGINT counts;
the Q-Q correlation pairs integer day-gaps with -ln(1-i/(n+1))
theoretical quantiles at exact integer ranks; entropies use the
n·ln(n) fold form over <= 12 cells.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from grocery_store_sales_forecasting_etl_pipeline_spark.plans._tables import table as _t
from grocery_store_sales_forecasting_etl_pipeline_spark.plans.registry import register
from grocery_store_sales_forecasting_etl_pipeline_spark.plans.scalerank import (
    ranked_points, value_cum_counts,
)

# ---------------------------------------------------------------------------
# Weighted median price per brand
# ---------------------------------------------------------------------------

_WMEDIAN_ORACLE = """
WITH x AS (
  SELECT p.p_brand AS brand,
         CAST(round(l.l_extendedprice * 100) AS BIGINT) AS cents,
         CAST(round(l.l_quantity * 100) AS BIGINT) AS w
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
),
vc AS (
  SELECT brand, cents,
         CAST(count(*) AS BIGINT) AS c,
         CAST(sum(w) AS HUGEINT) AS wsum
  FROM x GROUP BY brand, cents
),
cum AS (
  SELECT brand, cents, c, wsum,
         CAST(sum(c) OVER pw AS BIGINT) AS cumc,
         CAST(sum(wsum) OVER pw AS HUGEINT) AS cumw,
         CAST(sum(c) OVER (PARTITION BY brand) AS BIGINT) AS totc,
         CAST(sum(wsum) OVER (PARTITION BY brand) AS HUGEINT) AS totw
  FROM vc
  WINDOW pw AS (PARTITION BY brand ORDER BY cents
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT brand,
       any_value(totc) AS n_lines,
       CAST(min(CASE WHEN 2 * cumc >= totc + 1 THEN cents END) AS BIGINT)
         AS median_cents,
       CAST(min(CASE WHEN 2 * cumw >= totw THEN cents END) AS BIGINT)
         AS weighted_median_cents
FROM cum
GROUP BY brand
"""


@register(
    "brand_weighted_median_price", oracle=_WMEDIAN_ORACLE, tags=("stats", "window")
)
def brand_weighted_median_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted median line price per brand, next to the plain
    median: the weighted median answers "what does the median UNIT
    sold cost" — when cheap items sell in bulk the two diverge, and
    the gap is the volume-mix signal a pricing analyst reads. Both are
    exact lower medians selected on the value-count frame: plain at
    2·cum_count >= n+1, weighted at 2·cum_weight >= total_weight —
    pure integer cross-multiplications (HUGEINT/DECIMAL weights).

    Scale notes: one fold to the (brand, price) value-count frame
    (price-domain bounded), a per-brand cumulative window over it, and
    a brand-grain selection fold. No fact-grain windows; the weighted
    selection adds zero passes over the plain one.
    """
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    d38 = "decimal(38,0)"
    x = li.join(
        p.select("p_partkey", "p_brand"),
        li.l_partkey == F.col("p_partkey"),
    ).select(
        F.col("p_brand").alias("brand"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents"),
        F.round(F.col("l_quantity") * 100).cast("long").alias("w"),
    )
    vc = x.groupBy("brand", "cents").agg(
        F.count("*").cast("long").alias("c"),
        F.sum(F.col("w").cast(d38)).alias("wsum"),
    )
    pw = (
        Window.partitionBy("brand")
        .orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wb = Window.partitionBy("brand")
    cum = vc.select(
        "brand",
        "cents",
        F.sum("c").over(pw).cast("long").alias("cumc"),
        F.sum("wsum").over(pw).alias("cumw"),
        F.sum("c").over(wb).cast("long").alias("totc"),
        F.sum("wsum").over(wb).alias("totw"),
    )
    return cum.groupBy("brand").agg(
        F.first("totc").alias("n_lines"),
        F.min(F.when(2 * F.col("cumc") >= F.col("totc") + 1, F.col("cents")))
        .cast("long")
        .alias("median_cents"),
        F.min(F.when(2 * F.col("cumw") >= F.col("totw"), F.col("cents")))
        .cast("long")
        .alias("weighted_median_cents"),
    )


# ---------------------------------------------------------------------------
# Two-proportion z-test
# ---------------------------------------------------------------------------

_PROP_ZTEST_ORACLE = """
WITH lab AS (
  SELECT c.c_mktsegment AS segment,
         CASE WHEN r.l_orderkey IS NULL THEN 0 ELSE 1 END AS pos
  FROM orders o
  JOIN customer c ON o.o_custkey = c.c_custkey
  LEFT JOIN (SELECT DISTINCT l_orderkey FROM lineitem
             WHERE l_returnflag = 'R') r
    ON o.o_orderkey = r.l_orderkey
  WHERE c.c_mktsegment IN ('BUILDING', 'MACHINERY')
),
st AS (
  SELECT segment, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(pos) AS BIGINT) AS x
  FROM lab GROUP BY segment
),
piv AS (
  SELECT max(CASE WHEN segment = 'BUILDING' THEN n END) AS n1,
         max(CASE WHEN segment = 'BUILDING' THEN x END) AS x1,
         max(CASE WHEN segment = 'MACHINERY' THEN n END) AS n2,
         max(CASE WHEN segment = 'MACHINERY' THEN x END) AS x2
  FROM st
)
SELECT n1, x1, n2, x2,
       round(CAST(x1 AS DOUBLE) / n1 - CAST(x2 AS DOUBLE) / n2, 6)
         AS rate_diff,
       round((CAST(x1 AS DOUBLE) / n1 - CAST(x2 AS DOUBLE) / n2)
             / sqrt((CAST(x1 + x2 AS DOUBLE) / (n1 + n2))
                    * (1 - CAST(x1 + x2 AS DOUBLE) / (n1 + n2))
                    * (1.0 / n1 + 1.0 / n2)), 6) AS z_pooled
FROM piv
"""


@register("segment_return_ztest", oracle=_PROP_ZTEST_ORACLE, tags=("stats",))
def segment_return_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test (pooled variance) of the has-returned-line
    rate, BUILDING vs MACHINERY segments — the direct A/B significance
    primitive: the monthly Wilson bands show each rate's uncertainty
    and the trend test scans an ordinal factor, but the pairwise
    "is rate A different from rate B" question is answered by exactly
    this statistic, and an experimentation platform issues it more
    than any other.

    Numerics: one double tree over four BIGINT counts — pooled rate,
    its variance, the z — rounded once. Segment literals are fixed on
    both sides so the contract is deterministic.

    Scale notes: the shared distinct-returned fold plus one filtered
    segment fold to a 2-row frame, pivoted by conditional aggregation;
    no windows, no data-grain second shuffle.
    """
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    ret = (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_returnflag") == "R")
        .select("l_orderkey")
        .distinct()
        .withColumn("pos1", F.lit(1))
    )
    lab = (
        o.join(c, o.o_custkey == c.c_custkey)
        .filter(F.col("c_mktsegment").isin("BUILDING", "MACHINERY"))
        .join(ret, o.o_orderkey == ret.l_orderkey, "left")
        .select(
            F.col("c_mktsegment").alias("segment"),
            F.coalesce(F.col("pos1"), F.lit(0)).alias("pos"),
        )
    )
    st = lab.groupBy("segment").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("pos").cast("long").alias("x"),
    )
    piv = st.agg(
        F.max(F.when(F.col("segment") == "BUILDING", F.col("n"))).alias("n1"),
        F.max(F.when(F.col("segment") == "BUILDING", F.col("x"))).alias("x1"),
        F.max(F.when(F.col("segment") == "MACHINERY", F.col("n"))).alias("n2"),
        F.max(F.when(F.col("segment") == "MACHINERY", F.col("x"))).alias("x2"),
    )
    p1 = F.col("x1").cast("double") / F.col("n1")
    p2 = F.col("x2").cast("double") / F.col("n2")
    pp = (F.col("x1") + F.col("x2")).cast("double") / (F.col("n1") + F.col("n2"))
    return piv.select(
        "n1",
        "x1",
        "n2",
        "x2",
        F.round(p1 - p2, 6).alias("rate_diff"),
        F.round(
            (p1 - p2)
            / F.sqrt(
                pp * (1 - pp) * (F.lit(1.0) / F.col("n1") + F.lit(1.0) / F.col("n2"))
            ),
            6,
        ).alias("z_pooled"),
    )


# ---------------------------------------------------------------------------
# Exponential Q-Q correlation of inter-order gaps
# ---------------------------------------------------------------------------

_QQ_ORACLE = """
WITH gaps AS (
  SELECT o_custkey,
         date_diff('day', lag(CAST(o_orderdate AS DATE))
                     OVER (PARTITION BY o_custkey
                           ORDER BY o_orderdate, o_orderkey),
                   CAST(o_orderdate AS DATE)) AS g
  FROM orders
),
gg AS (SELECT CAST(g AS BIGINT) AS g FROM gaps WHERE g IS NOT NULL),
rk AS (
  SELECT g,
         CAST(row_number() OVER (ORDER BY g) AS BIGINT) AS i,
         CAST(count(*) OVER () AS BIGINT) AS n
  FROM gg
),
pts AS (
  SELECT g, -ln(1 - CAST(i AS DOUBLE) / (n + 1)) AS q
  FROM rk
),
st AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(g) AS HUGEINT) AS sx,
         sum(q) AS sy,
         sum(g * q) AS sxy,
         CAST(sum(CAST(g AS HUGEINT) * g) AS HUGEINT) AS sxx,
         sum(q * q) AS syy
  FROM pts
)
SELECT n AS n_gaps,
       round(CAST(sx AS DOUBLE) / n, 4) AS mean_gap_days,
       round((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
             / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                  * (CAST(n AS DOUBLE) * syy - sy * sy)), 6)
         AS qq_correlation
FROM st
"""


@register("order_gap_exponential_qq", oracle=_QQ_ORACLE, tags=("stats", "timeseries"))
def order_gap_exponential_qq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponential Q-Q correlation of customer inter-order gaps: the
    pooled day-gaps, rank-paired against the exponential theoretical
    quantiles -ln(1 - i/(n+1)), scored by Pearson correlation — the
    one-number probability-plot test of "is ordering a Poisson renewal
    process". High correlation licenses exponential hazard / Croston
    -style models upstream; a low one says the gaps have structure
    (batching, seasonality) those models will miss.

    Numerics: gaps are exact integer days; ranks are exact (gap-value
    ties broken by position never change the SORTED pairing, so the
    correlation is rank-stable); the theoretical quantile is one libm
    ln per row (documented exception); sums carry HUGEINT/DECIMAL on
    the integer side and ~1e-12 relative double-order noise on the
    theoretical side against 6dp rounding.

    Scale notes: one user-keyed lag window; then, because the
    plotting-position term depends only on (gap value, rank) and rank
    permutations within a tie change nothing, the (g, i) pairs are
    REBUILT from the bounded day-gap value grain
    (scalerank.value_cum_counts + ranked_points' chunked two-level
    sequence-explode — fully parallel, no global sort, generator tasks
    capped at 64k rows even for billion-row tie groups), then one
    sufficient-statistics fold.
    """
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    gaps = o.select(
        F.datediff(
            F.col("o_orderdate").cast("date"),
            F.lag(F.col("o_orderdate").cast("date")).over(w),
        ).alias("g")
    ).filter(F.col("g").isNotNull())
    gg = gaps.select(F.col("g").cast("long").alias("g"))
    cc = value_cum_counts(gg, "g", coarse_div=64)
    tot = cc.agg(F.sum("c").cast("long").alias("n"))
    pts = (
        ranked_points(cc, "g")
        .crossJoin(tot)
        .select(
            "g",
            (-F.log(1 - F.col("i").cast("double") / (F.col("n") + 1))).alias("q"),
        )
    )
    d38 = "decimal(38,0)"
    st = pts.agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.col("g").cast(d38)).alias("sx"),
        F.sum("q").alias("sy"),
        F.sum(F.col("g") * F.col("q")).alias("sxy"),
        F.sum(F.col("g").cast(d38) * F.col("g")).alias("sxx"),
        F.sum(F.col("q") * F.col("q")).alias("syy"),
    )
    return st.select(
        F.col("n").alias("n_gaps"),
        F.round(F.col("sx").cast("double") / F.col("n"), 4).alias("mean_gap_days"),
        F.round(
            (
                F.col("n").cast("double") * F.col("sxy")
                - F.col("sx").cast("double") * F.col("sy")
            )
            / F.sqrt(
                (
                    F.col("n").cast("double") * F.col("sxx").cast("double")
                    - F.col("sx").cast("double") * F.col("sx").cast("double")
                )
                * (
                    F.col("n").cast("double") * F.col("syy")
                    - F.col("sy") * F.col("sy")
                )
            ),
            6,
        ).alias("qq_correlation"),
    )


# ---------------------------------------------------------------------------
# Per-customer seasonality entropy
# ---------------------------------------------------------------------------

_SEASON_ENTROPY_ORACLE = """
WITH m AS (
  SELECT o_custkey, CAST(month(o_orderdate) AS BIGINT) AS mo,
         CAST(count(*) AS BIGINT) AS c
  FROM orders GROUP BY 1, 2
),
st AS (
  SELECT o_custkey,
         CAST(sum(c) AS BIGINT) AS n_orders,
         CAST(count(*) AS BIGINT) AS n_months,
         sum(c * ln(c)) AS clogc
  FROM m GROUP BY o_custkey
)
SELECT o_custkey, n_orders, n_months,
       round(ln(n_orders) - clogc / n_orders, 4) AS month_entropy,
       round((ln(n_orders) - clogc / n_orders) / ln(12), 4)
         AS seasonality_score
FROM st WHERE n_orders >= 5
"""


@register(
    "customer_seasonality_entropy",
    oracle=_SEASON_ENTROPY_ORACLE,
    tags=("stats", "agg"),
)
def customer_seasonality_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer calendar-month entropy of order placement
    (customers with >= 5 orders): 0 means all orders land in one month
    (a pure seasonal shopper), ln(12)-normalized 1 means uniform
    year-round ordering. The score segments the base for campaign
    timing — pair with cohort_retention to see WHETHER seasonal
    shoppers churn differently.

    Numerics: entropy uses the n·ln(n) fold form over <= 12 integer
    cells per customer; the normalization constant ln(12) is the same
    libm literal on both sides; one 4dp rounding per column.

    Scale notes: one (customer, month) fold (map-side combinable,
    bounded 12 cells per customer) then a customer-grain fold — the
    same two-level shape as the FD audit; no windows.
    """
    o = _t(spark, sf_dir, "orders")
    m = o.groupBy(
        "o_custkey", F.month("o_orderdate").cast("long").alias("mo")
    ).agg(F.count("*").cast("long").alias("c"))
    st = m.groupBy("o_custkey").agg(
        F.sum("c").cast("long").alias("n_orders"),
        F.count("*").cast("long").alias("n_months"),
        F.sum(F.col("c") * F.log(F.col("c"))).alias("clogc"),
    )
    h = F.log(F.col("n_orders")) - F.col("clogc") / F.col("n_orders")
    return st.filter(F.col("n_orders") >= 5).select(
        "o_custkey",
        "n_orders",
        "n_months",
        F.round(h, 4).alias("month_entropy"),
        F.round(h / F.log(F.lit(12.0)), 4).alias("seasonality_score"),
    )
