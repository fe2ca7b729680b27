"""Round-6 additions, batch 72: survival comparison, sequential
change detection, market concentration, and lexical richness — the
log-rank test between BUILDING-segment and other customers'
repeat-purchase survival curves (the hypothesis test batch-68's
Kaplan-Meier curves were drawn for: do the two segments repeat at the
same rate, accounting for censoring), a tabular CUSUM chart on daily
revenue computed via the exact cumulative-minus-running-extremum
identity (S⁺_t = cum_t − min_{j≤t} cum_j — the recursion-free form of
Page's recursive max(0, ·) chart), supplier revenue concentration per
nation (HHI and CR4 — the antitrust pair that says whether a nation's
supply base is a competitive field or a duopoly), and Yule's K
characteristic of the corpus token distribution (the
sample-size-invariant repeat-rate statistic of vocabulary richness,
exact from the frequency spectrum).

Determinism discipline: life-table counts, concentration numerators,
and the frequency spectrum are exact integer folds (DECIMAL(38,0)/
HUGEINT squares); the log-rank E and V accumulate through SEQUENTIAL
cumulative windows over the bounded week frame; CUSUM's running
extrema are order-independent min/max over doubles built from exact
integer prefix sums; one rounding at each boundary.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from grocery_store_sales_forecasting_etl_pipeline_spark.plans._tables import table as _t
from grocery_store_sales_forecasting_etl_pipeline_spark.plans.registry import register

# ---------------------------------------------------------------------------
# Log-rank test: BUILDING vs other segments' repeat-purchase survival
# ---------------------------------------------------------------------------

_LOGRANK_ORACLE = """
WITH o AS (
  SELECT o_custkey AS cust, CAST(o_orderdate AS DATE) AS d, o_orderkey AS k
  FROM orders
),
ranked AS (
  SELECT cust, d,
         row_number() OVER (PARTITION BY cust ORDER BY d, k) AS r
  FROM o
),
per AS (
  SELECT cust,
         min(CASE WHEN r = 1 THEN d END) AS d1,
         min(CASE WHEN r = 2 THEN d END) AS d2
  FROM ranked WHERE r <= 2 GROUP BY cust
),
horizon AS (SELECT max(CAST(o_orderdate AS DATE)) AS dmax FROM orders),
subj AS (
  SELECT CASE WHEN c.c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END AS g,
         CASE WHEN p.d2 IS NOT NULL
              THEN CAST(date_diff('day', p.d1, p.d2) // 7 AS BIGINT)
              ELSE CAST(date_diff('day', p.d1, h.dmax) // 7 AS BIGINT)
         END AS t,
         CASE WHEN p.d2 IS NOT NULL THEN 1 ELSE 0 END AS ev
  FROM per p
  JOIN customer c ON p.cust = c.c_custkey
  CROSS JOIN horizon h
),
life AS (
  SELECT t,
         CAST(sum(CASE WHEN g = 1 THEN ev ELSE 0 END) AS BIGINT) AS d1,
         CAST(sum(CASE WHEN g = 1 THEN 1 - ev ELSE 0 END) AS BIGINT) AS c1,
         CAST(sum(CASE WHEN g = 0 THEN ev ELSE 0 END) AS BIGINT) AS d0,
         CAST(sum(CASE WHEN g = 0 THEN 1 - ev ELSE 0 END) AS BIGINT) AS c0
  FROM subj GROUP BY t
),
risk AS (
  SELECT t, d1, d0,
         CAST(sum(d1 + c1) OVER () AS BIGINT)
         - CAST(COALESCE(sum(d1 + c1) OVER (ORDER BY t
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS n1,
         CAST(sum(d0 + c0) OVER () AS BIGINT)
         - CAST(COALESCE(sum(d0 + c0) OVER (ORDER BY t
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS n0
  FROM life
),
acc AS (
  SELECT sum(CAST(d1 AS DOUBLE)) OVER w AS o1,
         sum(CAST(d1 + d0 AS DOUBLE) * n1 / (n1 + n0)) OVER w AS e1,
         sum(CASE WHEN n1 + n0 > 1 THEN
             CAST(d1 + d0 AS DOUBLE) * n1 * n0 * (n1 + n0 - d1 - d0)
             / (CAST(n1 + n0 AS DOUBLE) * (n1 + n0) * (n1 + n0 - 1))
             ELSE 0.0 END) OVER w AS v,
         row_number() OVER (ORDER BY t DESC) AS rev,
         CAST(sum(d1) OVER () AS BIGINT) AS tot_d1,
         CAST(sum(d0) OVER () AS BIGINT) AS tot_d0
  FROM risk WHERE d1 + d0 > 0
  WINDOW w AS (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
               AND CURRENT ROW)
)
SELECT tot_d1 AS events_building, tot_d0 AS events_other,
       round(e1, 4) AS expected_building,
       round(CASE WHEN v > 0.0 THEN (o1 - e1) / sqrt(v) END, 4)
         AS logrank_z,
       round(CASE WHEN v > 0.0 THEN (o1 - e1) * (o1 - e1) / v END, 4)
         AS logrank_chi2
FROM acc WHERE rev = 1
"""


@register("repeat_purchase_logrank", oracle=_LOGRANK_ORACLE,
          tags=("stats", "timeseries"))
def repeat_purchase_logrank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-rank test comparing repeat-purchase survival between
    BUILDING-segment customers and everyone else: at each event week,
    the observed BUILDING events are compared to the hypergeometric
    expectation d_t·n1_t/n_t given the at-risk sets, and
    χ² = (O−E)²/V reads whether the two segments' time-to-second-order
    distributions differ — censoring-aware, where a naive repeat-rate
    comparison silently drops one-order customers.
    repeat_purchase_kaplan_meier DRAWS the pooled curve; this TESTS
    the group contrast.

    Determinism: the two-group life table and at-risk walks are exact
    integer folds; E and the hypergeometric variance accumulate
    through a SEQUENTIAL cumulative window over the bounded week
    frame (identical fold order both engines); z and χ² round once.

    Scale notes: one orders shuffle on custkey for the top-2 fold, a
    broadcast join to the customer segment projection, then
    everything lives on the calendar-bounded week frame.
    """
    o = _t(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("cust"),
        F.col("o_orderdate").cast("date").alias("d"),
        F.col("o_orderkey").alias("k"),
    )
    ranked = o.select(
        "cust",
        "d",
        F.row_number().over(Window.partitionBy("cust").orderBy("d", "k")).alias("r"),
    ).filter(F.col("r") <= 2)
    per = ranked.groupBy("cust").agg(
        F.min(F.when(F.col("r") == 1, F.col("d"))).alias("d1"),
        F.min(F.when(F.col("r") == 2, F.col("d"))).alias("d2"),
    )
    horizon = o.agg(F.max("d").alias("dmax"))
    seg = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    subj = (
        per.join(seg, F.col("cust") == F.col("c_custkey"))
        .crossJoin(horizon)
        .select(
            F.when(F.col("c_mktsegment") == "BUILDING", 1).otherwise(0).alias("g"),
            F.when(
                F.col("d2").isNotNull(),
                F.expr("CAST(datediff(d2, d1) DIV 7 AS BIGINT)"),
            )
            .otherwise(F.expr("CAST(datediff(dmax, d1) DIV 7 AS BIGINT)"))
            .alias("t"),
            F.when(F.col("d2").isNotNull(), 1).otherwise(0).alias("ev"),
        )
    )
    life = subj.groupBy("t").agg(
        F.sum(F.when(F.col("g") == 1, F.col("ev")).otherwise(0)).cast("long").alias("d1"),
        F.sum(F.when(F.col("g") == 1, 1 - F.col("ev")).otherwise(0)).cast("long").alias("c1"),
        F.sum(F.when(F.col("g") == 0, F.col("ev")).otherwise(0)).cast("long").alias("d0"),
        F.sum(F.when(F.col("g") == 0, 1 - F.col("ev")).otherwise(0)).cast("long").alias("c0"),
    )
    w_all = Window.partitionBy()
    w_prev = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    risk = life.select(
        "t",
        "d1",
        "d0",
        (
            F.sum(F.col("d1") + F.col("c1")).over(w_all).cast("long")
            - F.coalesce(F.sum(F.col("d1") + F.col("c1")).over(w_prev), F.lit(0)).cast("long")
        ).alias("n1"),
        (
            F.sum(F.col("d0") + F.col("c0")).over(w_all).cast("long")
            - F.coalesce(F.sum(F.col("d0") + F.col("c0")).over(w_prev), F.lit(0)).cast("long")
        ).alias("n0"),
    ).filter(F.col("d1") + F.col("d0") > 0)
    w_cum = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    nt = F.col("n1") + F.col("n0")
    dt = F.col("d1") + F.col("d0")
    acc = risk.select(
        F.sum(F.col("d1").cast("double")).over(w_cum).alias("o1"),
        F.sum(dt.cast("double") * F.col("n1") / nt).over(w_cum).alias("e1"),
        F.sum(
            F.when(
                nt > 1,
                dt.cast("double")
                * F.col("n1")
                * F.col("n0")
                * (nt - dt)
                / (nt.cast("double") * nt * (nt - 1)),
            ).otherwise(0.0)
        )
        .over(w_cum)
        .alias("v"),
        F.row_number().over(Window.orderBy(F.desc("t"))).alias("rev"),
        F.sum("d1").over(w_all).cast("long").alias("tot_d1"),
        F.sum("d0").over(w_all).cast("long").alias("tot_d0"),
    ).filter(F.col("rev") == 1)
    # v = 0 (every at-risk subject events at one time — seen in the key
    # -duplicating scale probe) degenerates the statistic: NULL, not 0/0,
    # on both sides (ANSI double division by zero is an error in Spark 4)
    return acc.select(
        F.col("tot_d1").alias("events_building"),
        F.col("tot_d0").alias("events_other"),
        F.round(F.col("e1"), 4).alias("expected_building"),
        F.round(
            F.when(
                F.col("v") > 0.0,
                (F.col("o1") - F.col("e1")) / F.sqrt(F.col("v")),
            ),
            4,
        ).alias("logrank_z"),
        F.round(
            F.when(
                F.col("v") > 0.0,
                (F.col("o1") - F.col("e1")) * (F.col("o1") - F.col("e1")) / F.col("v"),
            ),
            4,
        ).alias("logrank_chi2"),
    )


# ---------------------------------------------------------------------------
# Tabular CUSUM on daily revenue via the running-extremum identity
# ---------------------------------------------------------------------------

_CUSUM_ORACLE = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         sum(CAST(round(o_totalprice * 100) AS BIGINT)) // 100 AS v
  FROM orders GROUP BY day
),
s AS (
  SELECT day, v,
         CAST(sum(v) OVER w AS BIGINT) AS sv,
         CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS t,
         CAST(count(*) OVER () AS BIGINT) AS n,
         CAST(sum(CAST(v AS HUGEINT)) OVER () AS DECIMAL(38,0)) AS tot,
         CAST(sum(CAST(v AS HUGEINT) * v) OVER () AS DECIMAL(38,0)) AS totsq
  FROM daily
  WINDOW w AS (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING
               AND CURRENT ROW)
),
c AS (
  SELECT day, v, t,
         CAST(tot AS DOUBLE) / n AS mu,
         sqrt((CAST(totsq AS DOUBLE) - CAST(tot AS DOUBLE) * tot / n) / n)
           AS sigma,
         CAST(sv AS DOUBLE)
           - t * (CAST(tot AS DOUBLE) / n
                  + 0.5 * sqrt((CAST(totsq AS DOUBLE)
                                - CAST(tot AS DOUBLE) * tot / n) / n)) AS cp,
         CAST(sv AS DOUBLE)
           - t * (CAST(tot AS DOUBLE) / n
                  - 0.5 * sqrt((CAST(totsq AS DOUBLE)
                                - CAST(tot AS DOUBLE) * tot / n) / n)) AS cm
  FROM s
),
r AS (
  SELECT day, v, sigma,
         cp - least(0.0, min(cp) OVER (ORDER BY day
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS s_plus,
         greatest(0.0, max(cm) OVER (ORDER BY day
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) - cm
           AS s_minus
  FROM c
)
SELECT day, v AS dollars, round(s_plus, 4) AS s_plus,
       round(s_minus, 4) AS s_minus,
       CASE WHEN s_plus > 4.0 * sigma THEN 1 ELSE 0 END AS alarm_hi,
       CASE WHEN s_minus > 4.0 * sigma THEN 1 ELSE 0 END AS alarm_lo
FROM r
"""


@register("daily_revenue_cusum", oracle=_CUSUM_ORACLE,
          tags=("timeseries", "monitoring"))
def daily_revenue_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tabular CUSUM chart on daily revenue (k = 0.5σ reference, h =
    4σ decision interval): Page's recursive S⁺_t = max(0, S⁺_{t−1} +
    x_t − μ − k) computed in CLOSED FORM as cum_t − min_{j≤t} cum_j
    over the drift-adjusted prefix sums — the identity that turns a
    sequential recursion into two order-independent window extrema.
    The EWMA chart (daily_revenue_ewma_chart) weights recent history
    smoothly; CUSUM accumulates ALL drift since the last reset and is
    the optimal detector for a sustained step change.

    Determinism: daily dollars and their prefix sums are exact
    integers; μ, σ, and the drift-adjusted walks are one shared
    double tree; running min/max are ORDER-INDEPENDENT extrema (no
    fold-order sensitivity at all); alarms compare to 4σ identically.

    Scale notes: one fact scan folds to the calendar-bounded daily
    frame; all windows run over those ~thousands of rows in one
    sorted pass.
    """
    daily = (
        _t(spark, sf_dir, "orders")
        .select(
            F.col("o_orderdate").cast("date").alias("day"),
            F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        )
        .groupBy("day")
        .agg(F.expr("sum(cents) DIV 100").alias("v"))
    )
    dec = "decimal(38,0)"
    w_cum = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    w_all = Window.partitionBy()
    vd = F.col("v").cast(dec)
    s = daily.select(
        "day",
        "v",
        F.sum("v").over(w_cum).cast("long").alias("sv"),
        F.row_number().over(Window.orderBy("day")).cast("long").alias("t"),
        F.count("*").over(w_all).cast("long").alias("n"),
        F.sum(vd).over(w_all).cast(dec).alias("tot"),
        F.sum(vd * F.col("v")).over(w_all).cast(dec).alias("totsq"),
    )
    mu = F.col("tot").cast("double") / F.col("n")
    sigma = F.sqrt(
        (F.col("totsq").cast("double") - F.col("tot").cast("double") * F.col("tot") / F.col("n"))
        / F.col("n")
    )
    c = s.select(
        "day",
        "v",
        "t",
        sigma.alias("sigma"),
        (F.col("sv").cast("double") - F.col("t") * (mu + F.lit(0.5) * sigma)).alias("cp"),
        (F.col("sv").cast("double") - F.col("t") * (mu - F.lit(0.5) * sigma)).alias("cm"),
    )
    r = c.select(
        "day",
        "v",
        "sigma",
        (
            F.col("cp") - F.least(F.lit(0.0), F.min("cp").over(w_cum))
        ).alias("s_plus"),
        (
            F.greatest(F.lit(0.0), F.max("cm").over(w_cum)) - F.col("cm")
        ).alias("s_minus"),
    )
    return r.select(
        "day",
        F.col("v").alias("dollars"),
        F.round("s_plus", 4).alias("s_plus"),
        F.round("s_minus", 4).alias("s_minus"),
        F.when(F.col("s_plus") > F.lit(4.0) * F.col("sigma"), 1).otherwise(0).alias("alarm_hi"),
        F.when(F.col("s_minus") > F.lit(4.0) * F.col("sigma"), 1).otherwise(0).alias("alarm_lo"),
    )


# ---------------------------------------------------------------------------
# Supplier revenue concentration per nation: HHI and CR4
# ---------------------------------------------------------------------------

_HHI_ORACLE = """
WITH sup AS (
  SELECT s.s_nationkey AS nation, l.l_suppkey AS supp,
         CAST(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100)
                       AS BIGINT)) AS BIGINT) AS cents
  FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
  GROUP BY nation, supp
),
tot AS (
  SELECT nation, supp, cents,
         CAST(sum(CAST(cents AS HUGEINT)) OVER (PARTITION BY nation)
              AS DECIMAL(38,0)) AS ntot,
         CAST(count(*) OVER (PARTITION BY nation) AS BIGINT) AS ns,
         row_number() OVER (PARTITION BY nation
                            ORDER BY cents DESC, supp) AS rk
  FROM sup
)
SELECT nation, CAST(max(ns) AS BIGINT) AS n_suppliers,
       round(10000.0 * sum((CAST(cents AS DOUBLE) / CAST(ntot AS DOUBLE))
                           * (CAST(cents AS DOUBLE) / CAST(ntot AS DOUBLE))),
             2) AS hhi,
       round(sum(CASE WHEN rk <= 4
                      THEN CAST(cents AS DOUBLE) / CAST(ntot AS DOUBLE)
                      ELSE 0.0 END), 6) AS cr4
FROM tot GROUP BY nation
"""


@register("nation_supplier_concentration", oracle=_HHI_ORACLE,
          tags=("stats", "audit"))
def nation_supplier_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier revenue concentration within each supplier nation:
    the Herfindahl-Hirschman index (Σ share², ×10000 — the antitrust
    scale where >2500 reads "highly concentrated") and CR4 (top-4
    suppliers' combined share). nation_brand_diversity reads entropy
    (how EVEN); HHI/CR4 read dominance (how CAPTURED) — a nation can
    have high vocabulary-style diversity and still route 80% of
    revenue through four suppliers.

    Determinism: per-supplier revenue and nation totals are exact
    integers (DECIMAL(38,0)/HUGEINT); shares are identical double
    trees; CR4's top-4 ranks tie-break on suppkey; HHI is a SUM OF
    SQUARES of shares, order-independent to the 1e-16 doubles level
    and rounded at 2 (HHI) / 6 (CR4) — 10+ orders above the fold
    noise.

    Scale notes: the fact folds map-side to the (nation × supplier)
    grain after a broadcast join to the supplier nation projection;
    windows partition by nation over supplier-count-bounded frames.
    One fact scan.
    """
    li = _t(spark, sf_dir, "lineitem")
    sup = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    dec = "decimal(38,0)"
    per = (
        li.select("l_suppkey", "l_extendedprice", "l_discount")
        .join(sup, F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy(
            F.col("s_nationkey").alias("nation"), F.col("l_suppkey").alias("supp")
        )
        .agg(
            F.sum(
                F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100)
                .cast("long")
            )
            .cast("long")
            .alias("cents")
        )
    )
    w_nat = Window.partitionBy("nation")
    tot = per.select(
        "nation",
        "supp",
        "cents",
        F.sum(F.col("cents").cast(dec)).over(w_nat).cast(dec).alias("ntot"),
        F.count("*").over(w_nat).cast("long").alias("ns"),
        F.row_number()
        .over(Window.partitionBy("nation").orderBy(F.desc("cents"), F.asc("supp")))
        .alias("rk"),
    )
    share = F.col("cents").cast("double") / F.col("ntot").cast("double")
    return tot.groupBy("nation").agg(
        F.max("ns").cast("long").alias("n_suppliers"),
        F.round(F.lit(10000.0) * F.sum(share * share), 2).alias("hhi"),
        F.round(
            F.sum(F.when(F.col("rk") <= 4, share).otherwise(0.0)), 6
        ).alias("cr4"),
    )


# ---------------------------------------------------------------------------
# Yule's K characteristic of the corpus token distribution
# ---------------------------------------------------------------------------

_YULE_ORACLE = """
WITH tok AS (
  SELECT unnest(string_split_regex(trim(text), '\\s+')) AS token
  FROM documents
),
freq AS (
  SELECT token, CAST(count(*) AS BIGINT) AS f
  FROM tok WHERE token <> '' GROUP BY token
),
spec AS (
  SELECT f AS m, CAST(count(*) AS BIGINT) AS vm FROM freq GROUP BY f
),
s AS (
  SELECT CAST(sum(CAST(m AS HUGEINT) * vm) AS DECIMAL(38,0)) AS n,
         CAST(sum(CAST(m AS HUGEINT) * m * vm) AS DECIMAL(38,0)) AS smm,
         CAST(sum(vm) AS BIGINT) AS vocab,
         CAST(sum(CASE WHEN m = 1 THEN vm ELSE 0 END) AS BIGINT) AS v1
  FROM spec
)
SELECT CAST(n AS BIGINT) AS n_tokens, vocab, v1 AS hapax_count,
       round(10000.0 * (CAST(smm AS DOUBLE) - CAST(n AS DOUBLE))
             / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)), 4) AS yule_k,
       round(CAST(v1 AS DOUBLE) / vocab, 6) AS hapax_share
FROM s
"""


@register("corpus_yule_k", oracle=_YULE_ORACLE, tags=("text",))
def corpus_yule_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Yule's K characteristic of the corpus vocabulary: K = 10⁴·
    (Σm²·V(m) − N)/N² over the frequency SPECTRUM (V(m) = number of
    tokens occurring exactly m times) — the repeat-rate statistic
    that, unlike a raw type-token ratio, is approximately invariant
    to corpus size, so it compares corpora of different lengths
    honestly. High K = repetitive vocabulary; low K = rich. Reported
    with the hapax share (V(1)/vocab), the tail-mass complement that
    lang_vocab_chao1 extrapolates from.

    Determinism: tokenization is the repo's standard whitespace split
    (relational65's convention); the spectrum, N, Σm²V(m), vocab, and
    V(1) are exact integers (DECIMAL(38,0)/HUGEINT — Σm²V(m) crosses
    BIGINT once a token passes ~3e9 occurrences); K divides once.

    Scale notes: the token explosion folds map-side to the
    vocabulary-bounded frequency frame, then to the tiny spectrum
    frame (distinct frequencies ≤ O(√N)); one documents scan.
    """
    docs = _t(spark, sf_dir, "documents")
    dec = "decimal(38,0)"
    tok = docs.select(
        F.explode_outer(F.split(F.trim("text"), r"\s+")).alias("token")
    ).filter(F.col("token") != "")
    freq = tok.groupBy("token").agg(F.count("*").cast("long").alias("f"))
    spec = freq.groupBy(F.col("f").alias("m")).agg(
        F.count("*").cast("long").alias("vm")
    )
    md = F.col("m").cast(dec)
    s = spec.agg(
        F.sum(md * F.col("vm")).cast(dec).alias("n"),
        F.sum(md * F.col("m") * F.col("vm")).cast(dec).alias("smm"),
        F.sum("vm").cast("long").alias("vocab"),
        F.sum(F.when(F.col("m") == 1, F.col("vm")).otherwise(0)).cast("long").alias("v1"),
    )
    n_d = F.col("n").cast("double")
    return s.select(
        F.col("n").cast("long").alias("n_tokens"),
        "vocab",
        F.col("v1").alias("hapax_count"),
        F.round(
            F.lit(10000.0) * (F.col("smm").cast("double") - n_d) / (n_d * n_d), 4
        ).alias("yule_k"),
        F.round(F.col("v1").cast("double") / F.col("vocab"), 6).alias("hapax_share"),
    )
