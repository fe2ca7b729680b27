"""Round-6 additions, batch 49: inventory-economics closures and the
changepoint screen — EOQ (the classic sqrt lot-size formula, per
brand), newsvendor stock levels at two service fractiles (exact
order-statistic selection, no float quantile interpolation), a
single-changepoint scan over weekly revenue (binary-segmentation SSE
argmin — the screen a monitoring pipeline runs before alerting on a
"trend"), and the ABC x XYZ planning matrix (revenue concentration
crossed with demand variability — the 9-cell grid that decides which
parts get safety stock vs make-to-order).

Determinism discipline: demand in exact centi-units (quantity * 100
rounded to BIGINT), squared-term prefix sums in DECIMAL(38,0)/HUGEINT
(weekly cents squared crosses BIGINT far below target scale — the
ship_delay_ks_test rule), quantile ranks from pure integer ceil
formulas ((n+1)//2, (9n+9)//10), ABC class boundaries by integer
cross-multiplication (cum*100 <= 80*total, the part_abc_classes
idiom), and the changepoint argmin over doubles that both engines
derive from identical integer inputs with identical expression trees.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from grocery_store_sales_forecasting_etl_pipeline_spark.plans._tables import table as _t
from grocery_store_sales_forecasting_etl_pipeline_spark.plans.registry import register

# ---------------------------------------------------------------------------
# Economic order quantity per brand
# ---------------------------------------------------------------------------

_EOQ_ORACLE = """
WITH d AS (
  SELECT p.p_brand AS brand,
         CAST(sum(CAST(round(l.l_quantity * 100) AS BIGINT)) AS BIGINT)
           AS demand_centi
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
  GROUP BY 1
),
pp AS (
  SELECT p_brand AS brand,
         CAST(sum(CAST(round(p_retailprice * 100) AS BIGINT)) AS BIGINT)
           AS price_cents,
         CAST(count(*) AS BIGINT) AS n_parts
  FROM part GROUP BY 1
)
SELECT d.brand, d.demand_centi, pp.n_parts,
       round(CAST(pp.price_cents AS DOUBLE) / pp.n_parts / 100, 4)
         AS avg_unit_price,
       round(sqrt(2.0 * (CAST(d.demand_centi AS DOUBLE) / 100) * 100.0
                  / (0.2 * (CAST(pp.price_cents AS DOUBLE) / pp.n_parts / 100))),
             4) AS eoq_units
FROM d JOIN pp ON d.brand = pp.brand
"""


@register("brand_eoq", oracle=_EOQ_ORACLE, tags=("inventory", "agg", "join"))
def brand_eoq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Economic order quantity per brand: EOQ = sqrt(2*D*K/h) with
    annual demand D from shipped quantities, a fixed ordering cost
    K = 100, and holding cost h = 20% of the brand's average unit
    retail price — the classic Harris/Wilson lot-size formula, the
    baseline every replenishment policy is judged against.

    Numerics: demand accumulates in exact centi-units (BIGINT); the
    average price is one rational of integer cents; the EOQ expression
    is a single identical double tree on both sides, rounded once.

    Scale notes: one fact fold keyed by partkey->brand (the part join
    broadcasts — part is a dimension), one dimension fold, and a
    25-row join. Nothing after the fact fold is fact-grain.
    """
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    d = (
        li.join(p.select("p_partkey", "p_brand"),
                li.l_partkey == F.col("p_partkey"))
        .groupBy(F.col("p_brand").alias("brand"))
        .agg(
            F.sum(F.round(F.col("l_quantity") * 100).cast("long"))
            .cast("long")
            .alias("demand_centi")
        )
    )
    pp = p.groupBy(F.col("p_brand").alias("pbrand")).agg(
        F.sum(F.round(F.col("p_retailprice") * 100).cast("long"))
        .cast("long")
        .alias("price_cents"),
        F.count("*").cast("long").alias("n_parts"),
    )
    avg_price = F.col("price_cents").cast("double") / F.col("n_parts") / 100
    return (
        d.join(pp, d.brand == pp.pbrand)
        .select(
            "brand",
            "demand_centi",
            "n_parts",
            F.round(avg_price, 4).alias("avg_unit_price"),
            F.round(
                F.sqrt(
                    F.lit(2.0)
                    * (F.col("demand_centi").cast("double") / 100)
                    * F.lit(100.0)
                    / (F.lit(0.2) * avg_price)
                ),
                4,
            ).alias("eoq_units"),
        )
    )


# ---------------------------------------------------------------------------
# Newsvendor stock levels (exact order-statistic fractiles)
# ---------------------------------------------------------------------------

_NEWSVENDOR_ORACLE = """
WITH wd AS (
  SELECT p.p_brand AS brand,
         CAST(date_trunc('week', l.l_shipdate) AS DATE) AS week_start,
         CAST(sum(CAST(round(l.l_quantity * 100) AS BIGINT)) AS BIGINT)
           AS demand_centi
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
  GROUP BY 1, 2
),
rk AS (
  SELECT brand, demand_centi,
         CAST(row_number() OVER (PARTITION BY brand
              ORDER BY demand_centi, week_start) AS BIGINT) AS rn,
         CAST(count(*) OVER (PARTITION BY brand) AS BIGINT) AS n_weeks
  FROM wd
)
SELECT brand,
       any_value(n_weeks) AS n_weeks,
       CAST(max(CASE WHEN rn = (n_weeks + 1) // 2 THEN demand_centi END)
            AS BIGINT) AS stock_p50_centi,
       CAST(max(CASE WHEN rn = (9 * n_weeks + 9) // 10 THEN demand_centi END)
            AS BIGINT) AS stock_p90_centi
FROM rk
GROUP BY brand
"""


@register(
    "brand_newsvendor_stock",
    oracle=_NEWSVENDOR_ORACLE,
    tags=("inventory", "window", "agg"),
)
def brand_newsvendor_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newsvendor stock levels per brand: the exact type-1 (ceiling)
    order statistics of weekly demand at the 50% and 90% service
    fractiles — the quantity a single-period stocking decision reads
    straight off the empirical demand distribution. Exact selection,
    not interpolation: rank ceil(q*n) computed with the integer
    formulas (n+1)//2 and (9n+9)//10, so no float quantile semantics
    can diverge between engines.

    Scale notes: one (brand, week) fact fold (map-side combinable),
    then a per-brand window over the calendar-bounded weekly frame —
    ~100 rows per brand regardless of fact size. The week tie-break in
    the rank order cannot change the selected VALUE (ties share the
    demand value).
    """
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    wd = (
        li.join(p.select("p_partkey", "p_brand"),
                li.l_partkey == F.col("p_partkey"))
        .groupBy(
            F.col("p_brand").alias("brand"),
            F.date_trunc("week", "l_shipdate").cast("date").alias("week_start"),
        )
        .agg(
            F.sum(F.round(F.col("l_quantity") * 100).cast("long"))
            .cast("long")
            .alias("demand_centi")
        )
    )
    w = Window.partitionBy("brand").orderBy("demand_centi", "week_start")
    rk = wd.select(
        "brand",
        "demand_centi",
        F.row_number().over(w).cast("long").alias("rn"),
        F.count("*")
        .over(Window.partitionBy("brand"))
        .cast("long")
        .alias("n_weeks"),
    )
    return rk.groupBy("brand").agg(
        F.first("n_weeks").alias("n_weeks"),
        F.max(
            F.when(
                F.col("rn") == F.floor((F.col("n_weeks") + 1) / 2),
                F.col("demand_centi"),
            )
        )
        .cast("long")
        .alias("stock_p50_centi"),
        F.max(
            F.when(
                F.col("rn") == F.floor((9 * F.col("n_weeks") + 9) / 10),
                F.col("demand_centi"),
            )
        )
        .cast("long")
        .alias("stock_p90_centi"),
    )


# ---------------------------------------------------------------------------
# Single changepoint over weekly revenue (binary segmentation step)
# ---------------------------------------------------------------------------

_CHANGEPOINT_ORACLE = """
WITH weekly AS (
  SELECT CAST(date_trunc('week', o_orderdate) AS DATE) AS week_start,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM orders GROUP BY 1
),
pre AS (
  SELECT week_start, cents,
         CAST(row_number() OVER (ORDER BY week_start) AS BIGINT) AS k,
         CAST(sum(cents) OVER (ORDER BY week_start
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS HUGEINT) AS s,
         CAST(sum(CAST(cents AS HUGEINT) * cents) OVER (ORDER BY week_start
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS HUGEINT) AS q,
         CAST(count(*) OVER () AS BIGINT) AS n,
         CAST(sum(cents) OVER () AS HUGEINT) AS s_n,
         CAST(sum(CAST(cents AS HUGEINT) * cents) OVER () AS HUGEINT) AS q_n
  FROM weekly
),
costs AS (
  SELECT week_start AS split_week, k, n,
         CAST(q_n AS DOUBLE) - CAST(s_n AS DOUBLE) * CAST(s_n AS DOUBLE) / n
           AS sse_full,
         (CAST(q AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / k)
         + (CAST(q_n - q AS DOUBLE)
            - CAST(s_n - s AS DOUBLE) * CAST(s_n - s AS DOUBLE) / (n - k))
           AS sse_split
  FROM pre WHERE k < n
)
SELECT split_week, n AS n_weeks,
       round(sse_full, 4) AS sse_full,
       round(sse_split, 4) AS sse_best,
       round(1.0 - sse_split / sse_full, 6) AS var_explained
FROM costs
ORDER BY sse_split, split_week
LIMIT 1
"""


@register(
    "weekly_revenue_changepoint",
    oracle=_CHANGEPOINT_ORACLE,
    tags=("timeseries", "window"),
)
def weekly_revenue_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-changepoint detection over weekly revenue: the binary-
    segmentation step — for every split position, the sum of squared
    errors of the two mean-level segments, minimized (ties to the
    earliest week). Emits the split week, the full-series SSE, the best
    split SSE, and the variance explained — the screen that separates
    "the mean shifted" from "it's noise" before a monitor alerts.

    Numerics: prefix sums of cents and cents^2 accumulate in
    DECIMAL(38,0)/HUGEINT (weekly cents^2 crosses BIGINT at ~sf10);
    every per-split cost is the same double tree of those integers on
    both sides, so the argmin ordering is engine-identical; one
    rounding at the output boundary.

    Scale notes: one fact fold to the calendar-bounded weekly frame;
    the O(n) split costs come from ONE prefix-sum window pass (no
    n x n self-join); the argmin is a sort of ~100 rows.
    """
    o = _t(spark, sf_dir, "orders")
    weekly = o.groupBy(
        F.date_trunc("week", "o_orderdate").cast("date").alias("week_start")
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("cents")
    )
    d38 = "decimal(38,0)"
    w_cum = Window.orderBy("week_start").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_all = Window.partitionBy()
    sq = (F.col("cents").cast(d38) * F.col("cents")).alias("sq")
    pre = weekly.select(
        "week_start",
        "cents",
        F.row_number().over(Window.orderBy("week_start")).cast("long").alias("k"),
        F.sum(F.col("cents").cast(d38)).over(w_cum).alias("s"),
        F.sum(F.col("cents").cast(d38) * F.col("cents")).over(w_cum).alias("q"),
        F.count("*").over(w_all).cast("long").alias("n"),
        F.sum(F.col("cents").cast(d38)).over(w_all).alias("s_n"),
        F.sum(F.col("cents").cast(d38) * F.col("cents")).over(w_all).alias("q_n"),
    )
    sse_full = (
        F.col("q_n").cast("double")
        - F.col("s_n").cast("double") * F.col("s_n").cast("double") / F.col("n")
    )
    sse_split = (
        F.col("q").cast("double")
        - F.col("s").cast("double") * F.col("s").cast("double") / F.col("k")
    ) + (
        (F.col("q_n") - F.col("q")).cast("double")
        - (F.col("s_n") - F.col("s")).cast("double")
        * (F.col("s_n") - F.col("s")).cast("double")
        / (F.col("n") - F.col("k"))
    )
    costs = pre.filter(F.col("k") < F.col("n")).select(
        F.col("week_start").alias("split_week"),
        F.col("n").alias("n_weeks"),
        sse_full.alias("sse_full_raw"),
        sse_split.alias("sse_split_raw"),
    )
    best = costs.withColumn(
        "pick",
        F.row_number().over(Window.orderBy("sse_split_raw", "split_week")),
    ).filter(F.col("pick") == 1)
    return best.select(
        "split_week",
        "n_weeks",
        F.round(F.col("sse_full_raw"), 4).alias("sse_full"),
        F.round(F.col("sse_split_raw"), 4).alias("sse_best"),
        F.round(
            F.lit(1.0) - F.col("sse_split_raw") / F.col("sse_full_raw"), 6
        ).alias("var_explained"),
    )


# ---------------------------------------------------------------------------
# ABC x XYZ planning matrix
# ---------------------------------------------------------------------------

_ABC_XYZ_ORACLE = """
WITH pr AS (
  SELECT l_partkey AS partkey,
         CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT))
              AS BIGINT) AS rev
  FROM lineitem GROUP BY 1
),
abc AS (
  SELECT partkey, rev,
         CASE WHEN CAST(sum(rev) OVER (ORDER BY rev DESC, partkey
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS HUGEINT)
                   * 100 <= 80 * CAST(sum(rev) OVER () AS HUGEINT) THEN 'A'
              WHEN CAST(sum(rev) OVER (ORDER BY rev DESC, partkey
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS HUGEINT)
                   * 100 <= 95 * CAST(sum(rev) OVER () AS HUGEINT) THEN 'B'
              ELSE 'C' END AS abc_class
  FROM pr
),
wd AS (
  SELECT l_partkey AS partkey,
         CAST(date_trunc('week', l_shipdate) AS DATE) AS week_start,
         CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT) AS d
  FROM lineitem GROUP BY 1, 2
),
cv AS (
  SELECT partkey,
         CAST(count(*) AS BIGINT) AS n_weeks,
         CAST(sum(d) AS BIGINT) AS s,
         CAST(sum(CAST(d AS HUGEINT) * d) AS HUGEINT) AS q
  FROM wd GROUP BY 1
),
xyz AS (
  SELECT partkey,
         CASE WHEN n_weeks < 2 THEN 'Z'
              WHEN sqrt((CAST(q AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                         / n_weeks) / (n_weeks - 1))
                   / (CAST(s AS DOUBLE) / n_weeks) < 0.5 THEN 'X'
              WHEN sqrt((CAST(q AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                         / n_weeks) / (n_weeks - 1))
                   / (CAST(s AS DOUBLE) / n_weeks) < 1.0 THEN 'Y'
              ELSE 'Z' END AS xyz_class
  FROM cv
)
SELECT a.abc_class, x.xyz_class,
       CAST(count(*) AS BIGINT) AS n_parts,
       CAST(sum(a.rev) AS BIGINT) AS class_revenue
FROM abc a JOIN xyz x ON a.partkey = x.partkey
GROUP BY 1, 2
"""


@register(
    "abc_xyz_matrix", oracle=_ABC_XYZ_ORACLE, tags=("inventory", "window", "agg")
)
def abc_xyz_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ABC x XYZ planning matrix: revenue concentration classes
    (A/B/C at the 80/95% cumulative-share boundaries, integer
    cross-multiplied like part_abc_classes) crossed with demand
    variability classes (X/Y/Z at coefficient-of-variation 0.5/1.0
    over the part's observed weekly demand; parts with fewer than two
    demand weeks are Z by definition). The 9-cell grid is the standard
    inventory-policy router: AX gets automated reorder, CZ gets
    make-to-order.

    Numerics: CV derives from integer sufficient statistics (centi-unit
    demand, HUGEINT/DECIMAL(38,0) squared sums) with the identical
    double tree on both sides, so the 0.5/1.0 class boundaries compare
    the same doubles; ABC boundaries never leave integer arithmetic.

    Scale notes: two fact folds (part revenue; (part, week) demand),
    both map-side combinable and part-bounded; the ABC cumulative
    window sorts the part-grain frame (dimension-sized); the final join
    and cross-tab are part-grain. CV over OBSERVED weeks only —
    documented, matching the oracle.
    """
    li = _t(spark, sf_dir, "lineitem")
    d38 = "decimal(38,0)"
    pr = li.groupBy(F.col("l_partkey").alias("partkey")).agg(
        F.sum(
            F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100).cast(
                "long"
            )
        )
        .cast("long")
        .alias("rev")
    )
    w_cum = Window.orderBy(F.desc("rev"), F.asc("partkey")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_all = Window.partitionBy()
    abc = pr.select(
        "partkey",
        "rev",
        F.when(
            F.sum("rev").over(w_cum).cast(d38) * 100
            <= F.lit(80) * F.sum("rev").over(w_all).cast(d38),
            F.lit("A"),
        )
        .when(
            F.sum("rev").over(w_cum).cast(d38) * 100
            <= F.lit(95) * F.sum("rev").over(w_all).cast(d38),
            F.lit("B"),
        )
        .otherwise(F.lit("C"))
        .alias("abc_class"),
    )
    wd = li.groupBy(
        F.col("l_partkey").alias("pk2"),
        F.date_trunc("week", "l_shipdate").cast("date").alias("week_start"),
    ).agg(
        F.sum(F.round(F.col("l_quantity") * 100).cast("long"))
        .cast("long")
        .alias("d")
    )
    cv = wd.groupBy("pk2").agg(
        F.count("*").cast("long").alias("n_weeks"),
        F.sum("d").cast("long").alias("s"),
        F.sum(F.col("d").cast(d38) * F.col("d")).alias("q"),
    )
    cv_expr = F.sqrt(
        (
            F.col("q").cast("double")
            - F.col("s").cast("double") * F.col("s").cast("double") / F.col("n_weeks")
        )
        / (F.col("n_weeks") - 1)
    ) / (F.col("s").cast("double") / F.col("n_weeks"))
    xyz = cv.select(
        "pk2",
        F.when(F.col("n_weeks") < 2, F.lit("Z"))
        .when(cv_expr < 0.5, F.lit("X"))
        .when(cv_expr < 1.0, F.lit("Y"))
        .otherwise(F.lit("Z"))
        .alias("xyz_class"),
    )
    return (
        abc.join(xyz, abc.partkey == xyz.pk2)
        .groupBy("abc_class", "xyz_class")
        .agg(
            F.count("*").cast("long").alias("n_parts"),
            F.sum("rev").cast("long").alias("class_revenue"),
        )
    )
