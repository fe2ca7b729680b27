"""Round-6 additions, batch 69: fuzzy entity resolution, topographic
peak detection, whole-shape two-sample testing, and inequality
decomposition — blocked Levenshtein near-match pairs over the part-name
domain (the classic ER candidate generator: block on the product noun,
edit-distance the full name), weekly-revenue peak detection with exact
TOPOGRAPHIC PROMINENCE (a peak matters by how far you must descend
before reaching higher ground, not by raw height — the mountaineering
definition, computed exactly in integer dollars), the two-sample
Cramér-von Mises test between market segments' order values (the
whole-shape EDF test that weights the body where KS only reads the
extreme gap), and the Theil inequality index of customer revenue
decomposed BETWEEN and WITHIN nations (the entropy-based index whose
decomposition is exact — Gini's never is).

Determinism discipline: Levenshtein distances and prominences are
exact integers; the CvM statistic accumulates (cumA·m − cumB·n)² over
the ordered value-count frame through a SEQUENTIAL cumulative window
(cum counts exact in DECIMAL(38,0)/HUGEINT, the square in double —
identical casts, identical fold order, bit-identical sums); Theil's
Σ cnt·(x/μ)·ln(x/μ) folds the same way per nation with the documented
log-sum discipline; one rounding at each output boundary.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from grocery_store_sales_forecasting_etl_pipeline_spark.plans._tables import table as _t
from grocery_store_sales_forecasting_etl_pipeline_spark.plans.registry import register

# ---------------------------------------------------------------------------
# Blocked Levenshtein near-match pairs over part names
# ---------------------------------------------------------------------------

_FUZZY_ORACLE = """
WITH names AS (
  SELECT p_name AS name, regexp_extract(p_name, '(\\S+)$', 1) AS noun,
         CAST(count(*) AS BIGINT) AS n_parts
  FROM part GROUP BY p_name
)
SELECT a.name AS name_a, b.name AS name_b, a.noun AS block_noun,
       CAST(levenshtein(a.name, b.name) AS BIGINT) AS edit_distance,
       a.n_parts AS n_parts_a, b.n_parts AS n_parts_b
FROM names a JOIN names b ON a.noun = b.noun AND a.name < b.name
WHERE levenshtein(a.name, b.name) <= 3
"""


@register("part_name_fuzzy_pairs", oracle=_FUZZY_ORACLE,
          tags=("similarity", "audit"))
def part_name_fuzzy_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy-match candidate pairs over the part-name domain:
    names sharing the trailing product noun (the blocking key) whose
    full-string Levenshtein distance is ≤ 3 — the entity-resolution
    candidate generator for catalog dedup ("red gear" vs "hot gear"
    survive; cross-noun pairs are never even compared).
    blocking_quality_audit scores a blocking scheme's recall/cost;
    this is the matcher that runs inside the blocks.

    Determinism: pairing operates on the DISTINCT-name grain with a
    canonical name_a < name_b orientation; Levenshtein is the exact
    dynamic-programming edit distance (identical definition in both
    engines) and every output is an integer.

    Scale notes: the fact collapses to the name domain first (bounded
    by the catalog's vocabulary, not part rows), so the quadratic
    lives inside noun blocks of a domain-bounded frame — the blocked
    equi-join shuffles on the noun key and never forms the
    all-pairs cross product. One dimension scan.
    """
    p = _t(spark, sf_dir, "part")
    names = p.groupBy(F.col("p_name").alias("name")).agg(
        F.count("*").cast("long").alias("n_parts")
    ).withColumn("noun", F.regexp_extract("name", r"(\S+)$", 1))
    a = names.select(
        F.col("name").alias("name_a"),
        F.col("noun").alias("block_noun"),
        F.col("n_parts").alias("n_parts_a"),
    )
    b = names.select(
        F.col("name").alias("name_b"),
        F.col("noun").alias("noun_b"),
        F.col("n_parts").alias("n_parts_b"),
    )
    return (
        a.join(
            b,
            (F.col("block_noun") == F.col("noun_b"))
            & (F.col("name_a") < F.col("name_b")),
        )
        .withColumn(
            "edit_distance", F.levenshtein("name_a", "name_b").cast("long")
        )
        .filter(F.col("edit_distance") <= 3)
        .select(
            "name_a", "name_b", "block_noun", "edit_distance",
            "n_parts_a", "n_parts_b",
        )
    )


# ---------------------------------------------------------------------------
# Weekly-revenue peaks with exact topographic prominence
# ---------------------------------------------------------------------------

_PEAKS_ORACLE = """
WITH weekly AS (
  SELECT CAST(date_trunc('week', o_orderdate) AS DATE) AS week_start,
         sum(CAST(round(o_totalprice * 100) AS BIGINT)) // 100 AS v
  FROM orders GROUP BY week_start
),
idx AS (
  SELECT week_start, v,
         CAST(row_number() OVER (ORDER BY week_start) AS BIGINT) AS rn
  FROM weekly
),
peaks AS (
  SELECT week_start, v, rn
  FROM (
    SELECT week_start, v, rn,
           lag(v) OVER (ORDER BY rn) AS pv,
           lead(v) OVER (ORDER BY rn) AS nv
    FROM idx
  ) WHERE v > pv AND v > nv
),
bounds AS (
  SELECT p.rn AS prn, p.week_start, p.v,
         max(CASE WHEN w.rn < p.rn AND w.v > p.v THEN w.rn END) AS lb,
         min(CASE WHEN w.rn > p.rn AND w.v > p.v THEN w.rn END) AS rb
  FROM peaks p CROSS JOIN idx w
  GROUP BY p.rn, p.week_start, p.v
),
saddles AS (
  SELECT b.prn, b.week_start, b.v, b.lb, b.rb,
         min(CASE WHEN w.rn > COALESCE(b.lb, 0) AND w.rn < b.prn
                  THEN w.v END) AS lmin,
         min(CASE WHEN w.rn < COALESCE(b.rb, 1152921504606846976)
                       AND w.rn > b.prn THEN w.v END) AS rmin,
         min(CASE WHEN w.rn <> b.prn THEN w.v END) AS gmin
  FROM bounds b CROSS JOIN idx w
  GROUP BY b.prn, b.week_start, b.v, b.lb, b.rb
),
prom AS (
  SELECT week_start, v,
         v - CASE WHEN lb IS NOT NULL AND rb IS NOT NULL
                    THEN CASE WHEN lmin > rmin THEN lmin ELSE rmin END
                  WHEN lb IS NOT NULL THEN lmin
                  WHEN rb IS NOT NULL THEN rmin
                  ELSE gmin END AS prominence
  FROM saddles
)
SELECT week_start AS peak_week, v AS peak_dollars,
       CAST(prominence AS BIGINT) AS prominence_dollars,
       CAST(row_number() OVER (ORDER BY prominence DESC, week_start)
            AS BIGINT) AS rnk
FROM prom
QUALIFY rnk <= 10
"""


@register("weekly_revenue_peaks", oracle=_PEAKS_ORACLE,
          tags=("timeseries",))
def weekly_revenue_peaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 weekly-revenue peaks ranked by exact topographic
    prominence: for each strict local maximum, find the nearest higher
    week on each side, take the minimum (saddle) of each intervening
    gap, and subtract the HIGHER saddle — how far revenue had to fall
    before exceeding this peak. A holiday spike scores by how deep the
    surrounding troughs are, where raw ranking (topk_orders) would
    list three adjacent weeks of one bump as three "peaks". The global
    maximum uses the wet-prominence convention (peak minus series
    minimum); plateau and boundary weeks are not peaks (strict > on
    both neighbors).

    Determinism: revenue is integer dollars, prominence an exact
    integer difference; the rank tie-breaks on week.

    Scale notes: the fact folds to the calendar-bounded weekly frame;
    the nearest-higher and saddle searches are two aggregated cross
    joins of (few peaks) × (bounded weeks) — O(weeks²) on a frame
    whose size does not grow with fact rows.
    """
    weekly = (
        _t(spark, sf_dir, "orders")
        .select(
            F.date_trunc("week", "o_orderdate").cast("date").alias("week_start"),
            F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        )
        .groupBy("week_start")
        .agg(F.expr("sum(cents) DIV 100").alias("v"))
    )
    idx = weekly.select(
        "week_start",
        "v",
        F.row_number().over(Window.orderBy("week_start")).cast("long").alias("rn"),
    )
    w_rn = Window.orderBy("rn")
    peaks = (
        idx.select(
            "week_start",
            "v",
            "rn",
            F.lag("v").over(w_rn).alias("pv"),
            F.lead("v").over(w_rn).alias("nv"),
        )
        .filter((F.col("v") > F.col("pv")) & (F.col("v") > F.col("nv")))
        .select("week_start", "v", "rn")
    )
    w_all = idx.select(
        F.col("rn").alias("wrn"), F.col("v").alias("wv")
    )
    bounds = (
        peaks.withColumnRenamed("rn", "prn")
        .crossJoin(w_all)
        .groupBy("prn", "week_start", "v")
        .agg(
            F.max(
                F.when((F.col("wrn") < F.col("prn")) & (F.col("wv") > F.col("v")), F.col("wrn"))
            ).alias("lb"),
            F.min(
                F.when((F.col("wrn") > F.col("prn")) & (F.col("wv") > F.col("v")), F.col("wrn"))
            ).alias("rb"),
        )
    )
    big = F.lit(1152921504606846976)
    saddles = (
        bounds.crossJoin(w_all)
        .groupBy("prn", "week_start", "v", "lb", "rb")
        .agg(
            F.min(
                F.when(
                    (F.col("wrn") > F.coalesce(F.col("lb"), F.lit(0)))
                    & (F.col("wrn") < F.col("prn")),
                    F.col("wv"),
                )
            ).alias("lmin"),
            F.min(
                F.when(
                    (F.col("wrn") < F.coalesce(F.col("rb"), big))
                    & (F.col("wrn") > F.col("prn")),
                    F.col("wv"),
                )
            ).alias("rmin"),
            F.min(F.when(F.col("wrn") != F.col("prn"), F.col("wv"))).alias("gmin"),
        )
    )
    key = (
        F.when(
            F.col("lb").isNotNull() & F.col("rb").isNotNull(),
            F.greatest("lmin", "rmin"),
        )
        .when(F.col("lb").isNotNull(), F.col("lmin"))
        .when(F.col("rb").isNotNull(), F.col("rmin"))
        .otherwise(F.col("gmin"))
    )
    prom = saddles.select(
        "week_start", "v", (F.col("v") - key).cast("long").alias("prominence")
    )
    return (
        prom.select(
            F.col("week_start").alias("peak_week"),
            F.col("v").alias("peak_dollars"),
            F.col("prominence").alias("prominence_dollars"),
            F.row_number()
            .over(Window.orderBy(F.desc("prominence"), F.asc("week_start")))
            .cast("long")
            .alias("rnk"),
        )
        .filter(F.col("rnk") <= 10)
    )


# ---------------------------------------------------------------------------
# Two-sample Cramér-von Mises: BUILDING vs MACHINERY order values
# ---------------------------------------------------------------------------

_CVM_ORACLE = """
WITH x AS (
  SELECT c.c_mktsegment AS seg,
         CAST(round(o.o_totalprice * 100) AS BIGINT) AS cents
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
  WHERE c.c_mktsegment IN ('BUILDING', 'MACHINERY')
),
v AS (
  SELECT cents,
         CAST(sum(CASE WHEN seg = 'BUILDING' THEN 1 ELSE 0 END) AS BIGINT)
           AS ca,
         CAST(sum(CASE WHEN seg = 'MACHINERY' THEN 1 ELSE 0 END) AS BIGINT)
           AS cb
  FROM x GROUP BY cents
),
c AS (
  SELECT cents, ca, cb,
         CAST(sum(ca) OVER w AS HUGEINT) AS cuma,
         CAST(sum(cb) OVER w AS HUGEINT) AS cumb,
         CAST(sum(ca) OVER () AS BIGINT) AS n,
         CAST(sum(cb) OVER () AS BIGINT) AS m
  FROM v
  WINDOW w AS (ORDER BY cents ROWS BETWEEN UNBOUNDED PRECEDING
               AND CURRENT ROW)
),
s AS (
  SELECT cents, n, m,
         sum(CAST(ca + cb AS DOUBLE)
             * CAST(cuma * m - cumb * n AS DOUBLE)
             * CAST(cuma * m - cumb * n AS DOUBLE)) OVER
           (ORDER BY cents ROWS BETWEEN UNBOUNDED PRECEDING
            AND CURRENT ROW) AS acc,
         row_number() OVER (ORDER BY cents DESC) AS rev
  FROM c
)
SELECT n AS n_building, m AS n_machinery,
       round(acc / (CAST(n + m AS DOUBLE) * (n + m) * n * m), 6) AS cvm_t,
       CASE WHEN acc / (CAST(n + m AS DOUBLE) * (n + m) * n * m) > 0.461
            THEN 1 ELSE 0 END AS reject_05
FROM s WHERE rev = 1
"""


@register("segment_value_cvm", oracle=_CVM_ORACLE, tags=("stats",))
def segment_value_cvm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Cramér-von Mises test between BUILDING and MACHINERY
    order-value distributions: T = nm/N² · Σ over all observations of
    (F̂_A − F̂_B)², the whole-shape EDF distance that integrates the
    squared gap across the body where KS (ship_delay_ks_test) reads
    only the single worst point — a mid-distribution shift KS barely
    sees moves CvM directly. Decision at the asymptotic α = 0.05
    critical value 0.461.

    Determinism: per-value counts and cumulative counts are exact
    integers (HUGEINT/DECIMAL — cum·m crosses BIGINT past ~3e9 rows
    per sample); each term (cumA·m − cumB·n)² is the square of an
    exactly-computed integer cast once to double, accumulated through
    a SEQUENTIAL cumulative window over the ordered value frame —
    identical fold order in both engines, bit-identical sums — and
    the tie-safe value-count formulation makes midranks unnecessary.
    One rounding; the decision compares the same double to a literal.

    Scale notes: one fact scan folds to the money-domain value-count
    frame after a broadcast join to the customer segment projection;
    every window after runs on that bounded frame.
    """
    o = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    dec = "decimal(38,0)"
    x = (
        o.select("o_custkey", F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .filter(F.col("c_mktsegment").isin("BUILDING", "MACHINERY"))
    )
    v = x.groupBy("cents").agg(
        F.sum(F.when(F.col("c_mktsegment") == "BUILDING", 1).otherwise(0))
        .cast("long")
        .alias("ca"),
        F.sum(F.when(F.col("c_mktsegment") == "MACHINERY", 1).otherwise(0))
        .cast("long")
        .alias("cb"),
    )
    w_cum = Window.orderBy("cents").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_all = Window.partitionBy()
    c = v.select(
        "cents",
        "ca",
        "cb",
        F.sum("ca").over(w_cum).cast(dec).alias("cuma"),
        F.sum("cb").over(w_cum).cast(dec).alias("cumb"),
        F.sum("ca").over(w_all).cast("long").alias("n"),
        F.sum("cb").over(w_all).cast("long").alias("m"),
    )
    d = (F.col("cuma") * F.col("m") - F.col("cumb") * F.col("n")).cast("double")
    s = c.select(
        "cents",
        "n",
        "m",
        F.sum((F.col("ca") + F.col("cb")).cast("double") * d * d)
        .over(w_cum)
        .alias("acc"),
        F.row_number().over(Window.orderBy(F.desc("cents"))).alias("rev"),
    ).filter(F.col("rev") == 1)
    nn = (F.col("n") + F.col("m")).cast("double")
    t_stat = F.col("acc") / (nn * (F.col("n") + F.col("m")) * F.col("n") * F.col("m"))
    return s.select(
        F.col("n").alias("n_building"),
        F.col("m").alias("n_machinery"),
        F.round(t_stat, 6).alias("cvm_t"),
        F.when(t_stat > 0.461, 1).otherwise(0).alias("reject_05"),
    )


# ---------------------------------------------------------------------------
# Theil inequality index of customer revenue, decomposed by nation
# ---------------------------------------------------------------------------

_THEIL_ORACLE = """
WITH cust AS (
  SELECT c.c_nationkey AS nation,
         CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS cents
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
  GROUP BY c.c_custkey, c.c_nationkey
),
v AS (
  SELECT nation, cents, CAST(count(*) AS BIGINT) AS cnt
  FROM cust WHERE cents > 0 GROUP BY nation, cents
),
g AS (
  SELECT nation, cents, cnt,
         CAST(sum(cnt) OVER pn AS BIGINT) AS ng,
         CAST(sum(CAST(cnt AS HUGEINT) * cents) OVER pn AS DECIMAL(38,0))
           AS sg
  FROM v
  WINDOW pn AS (PARTITION BY nation)
),
t AS (
  SELECT nation, ng, sg,
         sum(cnt * (CAST(cents AS DOUBLE) * ng / CAST(sg AS DOUBLE))
             * ln(CAST(cents AS DOUBLE) * ng / CAST(sg AS DOUBLE))) OVER
           (PARTITION BY nation ORDER BY cents
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS acc,
         row_number() OVER (PARTITION BY nation ORDER BY cents DESC) AS rev
  FROM g
),
nat AS (
  SELECT nation, ng, sg, acc / ng AS theil_within
  FROM t WHERE rev = 1
),
tot AS (
  SELECT nation, ng, sg, theil_within,
         CAST(sum(ng) OVER () AS BIGINT) AS n,
         CAST(sum(sg) OVER () AS DECIMAL(38,0)) AS s
  FROM nat
)
SELECT nation, ng AS n_customers, CAST(sg AS BIGINT) AS total_cents,
       round(theil_within, 6) AS theil_within,
       round((CAST(sg AS DOUBLE) / CAST(s AS DOUBLE))
             * ln((CAST(sg AS DOUBLE) / CAST(s AS DOUBLE))
                  / (CAST(ng AS DOUBLE) / n)), 6) AS between_term,
       round((CAST(sg AS DOUBLE) / CAST(s AS DOUBLE)) * theil_within, 6)
         AS within_contrib
FROM tot
"""


@register("nation_revenue_theil", oracle=_THEIL_ORACLE, tags=("stats",))
def nation_revenue_theil(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-T inequality index of per-customer revenue decomposed by
    nation: per nation the within-nation index T_g = (1/N_g) Σ
    (x/μ_g)·ln(x/μ_g), its income-share-weighted contribution
    s_g·T_g, and the between-nation term s_g·ln(s_g/p_g) — the three
    add up EXACTLY to total inequality (Σ within_contrib + Σ
    between_term = T_total), the decomposition revenue_lorenz_deciles'
    Gini cannot provide. A nation with a large between term is rich
    per-capita; a large within contribution means its inequality is
    internal.

    Determinism: customer revenue folds to exact integer cents; the
    per-nation value-count frame carries exact N_g and Σcents
    (DECIMAL(38,0)/HUGEINT); the log terms are identical double trees
    accumulated through a SEQUENTIAL cumulative window ordered by
    cents within nation (same fold order both engines), divided and
    rounded once at the boundary.

    Scale notes: the custkey fold shuffles orders once; the value
    -count frame is money-domain bounded and partitioned by nation
    (parallel windows); the nation summary is ~25 rows. One fact
    scan, one dimension broadcast.
    """
    o = _t(spark, sf_dir, "orders")
    cust_dim = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    dec = "decimal(38,0)"
    cust = (
        o.select("o_custkey", F.round(F.col("o_totalprice") * 100).cast("long").alias("pc"))
        .join(cust_dim, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy(F.col("c_custkey"), F.col("c_nationkey").alias("nation"))
        .agg(F.sum("pc").cast("long").alias("cents"))
    )
    v = (
        cust.filter(F.col("cents") > 0)
        .groupBy("nation", "cents")
        .agg(F.count("*").cast("long").alias("cnt"))
    )
    w_nat = Window.partitionBy("nation")
    g = v.select(
        "nation",
        "cents",
        "cnt",
        F.sum("cnt").over(w_nat).cast("long").alias("ng"),
        F.sum(F.col("cnt").cast(dec) * F.col("cents")).over(w_nat).cast(dec).alias("sg"),
    )
    ratio = F.col("cents").cast("double") * F.col("ng") / F.col("sg").cast("double")
    w_cum = (
        Window.partitionBy("nation")
        .orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    t = g.select(
        "nation",
        "ng",
        "sg",
        F.sum(F.col("cnt") * ratio * F.log(ratio)).over(w_cum).alias("acc"),
        F.row_number()
        .over(Window.partitionBy("nation").orderBy(F.desc("cents")))
        .alias("rev"),
    ).filter(F.col("rev") == 1)
    nat = t.select(
        "nation", "ng", "sg", (F.col("acc") / F.col("ng")).alias("theil_within")
    )
    w_all = Window.partitionBy()
    tot = nat.select(
        "nation",
        "ng",
        "sg",
        "theil_within",
        F.sum("ng").over(w_all).cast("long").alias("n"),
        F.sum("sg").over(w_all).cast(dec).alias("s"),
    )
    share = F.col("sg").cast("double") / F.col("s").cast("double")
    pop = F.col("ng").cast("double") / F.col("n")
    return tot.select(
        "nation",
        F.col("ng").alias("n_customers"),
        F.col("sg").cast("long").alias("total_cents"),
        F.round(F.col("theil_within"), 6).alias("theil_within"),
        F.round(share * F.log(share / pop), 6).alias("between_term"),
        F.round(share * F.col("theil_within"), 6).alias("within_contrib"),
    )
