"""Round-5 additions, batch 18: composite training-data ops — entity
resolution carried through to the golden record, classical seasonal
decomposition of the revenue series, bigram-collocation mining (PMI
lift), and deterministic negative sampling for recommender training.

Determinism discipline as in relational15/17: exact integer sufficient
statistics everywhere (counts, cents, hash draws, cluster labels); any
float is ONE closed-form expression over those integers, written with
identical association in both engines.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from grocery_store_sales_forecasting_etl_pipeline_spark.plans._tables import table as _t
from grocery_store_sales_forecasting_etl_pipeline_spark.plans.registry import register

# ---------------------------------------------------------------------------
# Entity resolution → golden record (survivorship)
# ---------------------------------------------------------------------------

# Same pair semantics as fuzzy_name_pairs (same nation, lev ≤ 1); the
# oracle re-derives the clusters with the recursive min-label CTE proven
# on dedup_components, then applies the same survivorship rules. arg_min
# on the UNIQUE custkey makes the canonical-attribute pick tie-free.
_GOLDEN_ORACLE = """
WITH RECURSIVE pairs AS (
  SELECT a.c_custkey AS u, b.c_custkey AS v
  FROM customer a JOIN customer b
    ON a.c_nationkey = b.c_nationkey
   AND a.c_custkey < b.c_custkey
  WHERE levenshtein(a.c_name, b.c_name) <= 1
),
edges AS (
  SELECT u, v FROM pairs UNION SELECT v, u FROM pairs
),
nodes AS (SELECT DISTINCT u AS node FROM edges),
walk(node, reach) AS (
  SELECT node, node FROM nodes
  UNION
  SELECT w.node, e.v FROM walk w JOIN edges e ON e.u = w.reach
),
clusters AS (
  SELECT node, min(reach) AS cluster_id FROM walk GROUP BY node
)
SELECT cluster_id,
       CAST(count(*) AS BIGINT)                         AS n_members,
       arg_min(c_name, c_custkey)                       AS canonical_name,
       CAST(max(round(c_acctbal, 2)) AS DOUBLE)         AS max_acctbal
FROM clusters JOIN customer ON node = c_custkey
GROUP BY cluster_id
"""


@register("entity_golden_record", oracle=_GOLDEN_ORACLE, tags=("dedup", "graph", "join"))
def entity_golden_record(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end entity resolution: fuzzy candidate pairs (deletion
    -neighborhood blocking + capped levenshtein, the fuzzy_name_pairs
    machinery) → connected components (large-star/small-star) → one
    GOLDEN RECORD per matched cluster via survivorship rules
    (canonical name from the lowest-key member — tie-free because the
    key is unique; most-favorable balance via max). The master-data
    -management composite a dedup pipeline actually ships.

    Scale notes: blocking keeps the pair space near-linear; CC is
    O(log n) rounds of two shuffles each (operators/graph); the
    survivorship agg is one node-grain shuffle keyed by cluster. The
    oracle replays CC as a recursive min-label CTE — plan choice
    differs, semantics don't.
    """
    from grocery_store_sales_forecasting_etl_pipeline_spark.operators.graph import (
        connected_components,
    )
    from grocery_store_sales_forecasting_etl_pipeline_spark.plans.relational9 import (
        fuzzy_name_pairs,
    )

    edges = fuzzy_name_pairs(spark, sf_dir).select(
        F.col("custkey_1").cast("long").alias("id_1"),
        F.col("custkey_2").cast("long").alias("id_2"),
    )
    cc = connected_components(edges)  # (node, component)
    c = _t(spark, sf_dir, "customer")
    return (
        cc.join(c, cc["node"] == c["c_custkey"])
        .groupBy(F.col("component").alias("cluster_id"))
        .agg(
            F.count("*").cast("long").alias("n_members"),
            F.min_by("c_name", "c_custkey").alias("canonical_name"),
            F.max(F.round("c_acctbal", 2)).cast("double").alias("max_acctbal"),
        )
    )


# ---------------------------------------------------------------------------
# Seasonal decomposition of weekly revenue (trend / seasonal / residual)
# ---------------------------------------------------------------------------

_SEASONAL_ORACLE = """
WITH weekly AS (
  SELECT CAST(date_trunc('week', o_orderdate) AS DATE) AS week_start,
         sum(CAST(round(o_totalprice * 100) AS BIGINT)) // 100 AS dollars
  FROM orders GROUP BY week_start
),
tr AS (
  SELECT week_start, dollars,
         CASE WHEN count(*) OVER w = 5
              THEN sum(dollars) OVER w // 5 END AS trend_dollars
  FROM weekly
  WINDOW w AS (ORDER BY week_start ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING)
),
seas AS (
  SELECT CAST(weekofyear(week_start) AS BIGINT) AS woy,
         CAST(sum(dollars - trend_dollars) AS DOUBLE)
           / count(*)                             AS seasonal
  FROM tr WHERE trend_dollars IS NOT NULL
  GROUP BY woy
)
SELECT week_start, dollars, trend_dollars,
       round(seasonal, 4) AS seasonal,
       round(CAST(dollars - trend_dollars AS DOUBLE) - seasonal, 4) AS residual
FROM tr JOIN seas ON CAST(weekofyear(week_start) AS BIGINT) = woy
WHERE trend_dollars IS NOT NULL
"""


@register(
    "weekly_seasonal_decompose", oracle=_SEASONAL_ORACLE, tags=("window", "timeseries")
)
def weekly_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical additive decomposition of the weekly revenue series:
    trend = centered 5-week moving average (exact floor-dollar integer,
    NULL at the edges where the window is partial), seasonal = mean
    detrended value per ISO week-of-year, residual = remainder — the
    diagnostic a forecasting pipeline runs before choosing features
    (complements forecast_ewma / forecast_holt_linear / the CUSUM and
    ACF audits over the same series).

    Scale notes: the weekly aggregate is the only fact-scale shuffle;
    the trend window and the season join run over the tiny weekly frame
    (a single in-memory partition even at 100 TB — weeks, not rows);
    the seasonal index table is ≤53 rows, broadcast. Floats appear as
    one closed-form division (Σdetrended / count) and one subtraction,
    identically associated in both engines.
    """
    from grocery_store_sales_forecasting_etl_pipeline_spark.plans.relational15 import (
        _weekly_dollars,
    )

    weekly = _weekly_dollars(spark, sf_dir)
    w = Window.orderBy("week_start").rowsBetween(-2, 2)
    tr = weekly.select(
        "week_start",
        "dollars",
        F.when(F.count("*").over(w) == 5, (F.sum("dollars").over(w)))
        .alias("_wsum"),
    ).select(
        "week_start",
        "dollars",
        F.expr("_wsum DIV 5").alias("trend_dollars"),
    )
    detr = tr.filter(F.col("trend_dollars").isNotNull())
    seas = detr.groupBy(
        F.weekofyear("week_start").cast("long").alias("woy")
    ).agg(
        (
            F.sum(F.col("dollars") - F.col("trend_dollars")).cast("double")
            / F.count("*")
        ).alias("seasonal")
    )
    return (
        detr.join(
            seas,
            F.weekofyear("week_start").cast("long") == F.col("woy"),
        )
        .select(
            "week_start",
            "dollars",
            "trend_dollars",
            F.round("seasonal", 4).alias("seasonal"),
            F.round(
                (F.col("dollars") - F.col("trend_dollars")).cast("double")
                - F.col("seasonal"),
                4,
            ).alias("residual"),
        )
    )


# ---------------------------------------------------------------------------
# Bigram collocation mining (log-free PMI lift)
# ---------------------------------------------------------------------------

# PMI is log(p_xy/(p_x·p_y)); ranking by the LOG-FREE lift
# c_xy·N_uni²/(N_bi·c_x·c_y) is the same order (log is monotone) and
# bit-reproducible. One closed-form double, identical association.
_PMI_ORACLE = """
WITH t AS (
  SELECT string_split_regex(trim(text), '\\s+') AS tk
  FROM documents WHERE text IS NOT NULL AND trim(text) <> ''
),
uni AS (
  SELECT unnest(tk) AS w FROM t
),
ucnt AS (SELECT w, CAST(count(*) AS BIGINT) AS c FROM uni GROUP BY w),
utot AS (SELECT CAST(sum(c) AS BIGINT) AS n_uni FROM ucnt),
bi AS (
  SELECT unnest(list_transform(range(1, len(tk)),
                i -> tk[i] || ' ' || tk[i + 1])) AS bg
  FROM t
),
bcnt AS (SELECT bg, CAST(count(*) AS BIGINT) AS c_xy FROM bi GROUP BY bg),
btot AS (SELECT CAST(sum(c_xy) AS BIGINT) AS n_bi FROM bcnt),
scored AS (
  SELECT str_split(bg, ' ')[1] AS w1, str_split(bg, ' ')[2] AS w2, c_xy,
         u1.c AS c1, u2.c AS c2,
         (CAST(c_xy AS DOUBLE) * n_uni * n_uni)
           / (CAST(n_bi AS DOUBLE) * u1.c * u2.c) AS lift
  FROM bcnt
  JOIN ucnt u1 ON str_split(bg, ' ')[1] = u1.w
  JOIN ucnt u2 ON str_split(bg, ' ')[2] = u2.w
  CROSS JOIN utot CROSS JOIN btot
  WHERE c_xy >= 5
)
SELECT w1, w2, c_xy, c1, c2, round(lift, 6) AS lift
FROM scored
ORDER BY lift DESC, c_xy DESC, w1, w2
LIMIT 30
"""


@register("bigram_pmi_topk", oracle=_PMI_ORACLE, tags=("text",))
def bigram_pmi_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-30 bigram collocations by pointwise-mutual-information lift
    (log-free; see oracle comment) with a minimum-support cut — the
    phrase-mining pass a tokenizer/vocab pipeline runs to decide merge
    candidates. Counts are corpus-global exact integers.

    Scale notes: tokens are materialized ONCE per doc (r4 perf
    learning: never shingle from an inline split — the expression
    re-evaluates per gram), bigrams built from the materialized array
    and exploded with explode_outer to suppress the
    InferFiltersFromGenerate re-inlining; the (gram) aggregates
    partial-aggregate map-side; unigram counts broadcast into the
    scored join (vocab ≪ corpus); top-k is TakeOrderedAndProject.
    """
    d = _t(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull() & (F.trim("text") != "")
    )
    toks = d.select(F.split(F.trim("text"), r"\s+").alias("tk"))
    uni = toks.select(F.explode_outer("tk").alias("w"))
    # u1/u2/n_uni derive from ucnt and n_bi from bcnt (14.8 s vs 3.5 s at
    # sf1 when both checkpoints landed)
    ucnt = (
        uni.groupBy("w")
        .agg(F.count("*").cast("long").alias("c"))
        .localCheckpoint(eager=False)  # A/B sf0.1: 0.78 s with, 0.92 s without
    )
    utot = ucnt.agg(F.sum("c").cast("long").alias("n_uni"))
    bi = toks.select(
        F.explode_outer(
            F.expr(
                "transform(sequence(1, size(tk) - 1), "
                "i -> concat(element_at(tk, i), ' ', element_at(tk, i + 1)))"
            )
        ).alias("bg")
    ).filter(F.col("bg").isNotNull())
    bcnt = (
        bi.groupBy("bg")
        .agg(F.count("*").cast("long").alias("c_xy"))
        .localCheckpoint(eager=False)  # A/B sf0.1: 0.81 s with, 1.32 s without
    )
    btot = bcnt.agg(F.sum("c_xy").cast("long").alias("n_bi"))
    u1 = ucnt.select(F.col("w").alias("w1"), F.col("c").alias("c1"))
    u2 = ucnt.select(F.col("w").alias("w2"), F.col("c").alias("c2"))
    scored = (
        bcnt.filter(F.col("c_xy") >= 5)
        .select(
            F.split_part(F.col("bg"), F.lit(" "), F.lit(1)).alias("w1"),
            F.split_part(F.col("bg"), F.lit(" "), F.lit(2)).alias("w2"),
            "c_xy",
        )
        .join(u1, "w1")
        .join(u2, "w2")
        .crossJoin(utot)
        .crossJoin(btot)
        .withColumn(
            "lift",
            (F.col("c_xy").cast("double") * F.col("n_uni") * F.col("n_uni"))
            / (F.col("n_bi").cast("double") * F.col("c1") * F.col("c2")),
        )
    )
    return (
        scored.orderBy(F.desc("lift"), F.desc("c_xy"), "w1", "w2")
        .limit(30)
        .select("w1", "w2", "c_xy", "c1", "c2", F.round("lift", 6).alias("lift"))
    )


# ---------------------------------------------------------------------------
# Deterministic negative sampling (recommender training pairs)
# ---------------------------------------------------------------------------

_NEG_DRAWS = 4

_NEG_ORACLE = f"""
WITH pos AS (
  SELECT DISTINCT o.o_custkey AS custkey, l.l_suppkey AS suppkey
  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
),
ns AS (SELECT CAST(count(*) AS BIGINT) AS n_supp FROM supplier),
cand AS (
  SELECT c_custkey AS custkey, i.i AS draw,
         ('0x' || substr(md5(CAST(c_custkey AS VARCHAR) || '-'
                             || CAST(i.i AS VARCHAR)), 1, 6))::BIGINT
           % n_supp AS neg_suppkey
  FROM customer CROSS JOIN ns
  CROSS JOIN (SELECT unnest(range(1, {_NEG_DRAWS} + 1)) AS i) i
)
SELECT custkey, CAST(draw AS BIGINT) AS draw, neg_suppkey
FROM cand
ANTI JOIN pos ON cand.custkey = pos.custkey
            AND cand.neg_suppkey = pos.suppkey
"""


@register("negative_sample_pairs", oracle=_NEG_ORACLE, tags=("sampling", "join"))
def negative_sample_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic negative sampling for recommender training: per
    customer, 4 hash-drawn candidate suppliers, minus any the customer
    actually transacted with (anti-join on the positive edge set).
    Draws are a pure function of (custkey, draw index), so the
    negatives are reproducible across runs, engines, and partitionings
    — no RNG state, no driver-side sampling.

    Scale notes: candidates are O(customers × k) via an exploded
    sequence — NEVER a customer × supplier cross join; the supplier
    count is one broadcast scalar; the anti-join shuffles on the
    (custkey, suppkey) pair key both sides already carry (the positive
    set is edge-scale but the anti-join is the standard shuffled hash
    join, skew-safe under AQE). Suppkeys are contiguous 0..n-1 in the
    generator, so modulo maps draws uniformly onto real suppliers.
    """
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    pos = (
        o.join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .select(
            F.col("o_custkey").alias("p_custkey"),
            F.col("l_suppkey").alias("p_suppkey"),
        )
        .distinct()
    )
    ns = _t(spark, sf_dir, "supplier").agg(F.count("*").cast("long").alias("n_supp"))
    cand = (
        c.crossJoin(ns)
        .select(
            F.col("c_custkey").alias("custkey"),
            F.explode(F.sequence(F.lit(1), F.lit(_NEG_DRAWS))).alias("draw"),
            F.col("n_supp"),
        )
        .select(
            "custkey",
            F.col("draw").cast("long").alias("draw"),
            (
                F.conv(
                    F.substring(
                        F.md5(
                            F.concat(
                                F.col("custkey").cast("string"),
                                F.lit("-"),
                                F.col("draw").cast("string"),
                            )
                        ),
                        1,
                        6,
                    ),
                    16,
                    10,
                ).cast("long")
                % F.col("n_supp")
            ).alias("neg_suppkey"),
        )
    )
    return cand.join(
        pos,
        (F.col("custkey") == F.col("p_custkey"))
        & (F.col("neg_suppkey") == F.col("p_suppkey")),
        "left_anti",
    )
