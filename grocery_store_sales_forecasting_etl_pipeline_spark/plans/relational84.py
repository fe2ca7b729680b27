"""Round-6 additions, batch 84: embedding-geometry audits and
second-order change/shape testing — the embedding anisotropy audit
(mean pairwise dot over mean squared norm via the sum-vector identity
— the "is this embedding space collapsing toward a cone" number that
degrades retrieval long before accuracy metrics notice), the
participation ratio of the embedding covariance ((Σλ)²/Σλ² computed
EXACTLY from integer Gram/moment sums without any eigensolver — the
effective number of dimensions actually in use), the Inclan-Tiao
CUSUM-of-squares variance changepoint on day-over-day revenue
changes (weekly_revenue_pettitt/changepoint find LEVEL shifts; this
finds the week volatility regime-switched), and the Cucconi
location-scale test between two customer segments (the single
rank test that catches location AND scale shifts jointly — squared
ranks and squared contra-ranks, with the exact null correlation).

Determinism discipline: embeddings quantize to the repo's q =
round(v·1e6) integer grid (relational76 convention) so every Gram,
norm, and sum-vector accumulation is exact integer
(HUGEINT/DECIMAL(38,0)); the CUSUM ratio D_k compares identical
double trees with a deterministic (|D| desc, day asc) argmax;
Cucconi's squared midranks stay integer as doubled ranks; one
rounding per output float.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from grocery_store_sales_forecasting_etl_pipeline_spark.plans._tables import table as _t
from grocery_store_sales_forecasting_etl_pipeline_spark.plans.registry import register
from grocery_store_sales_forecasting_etl_pipeline_spark.plans.relational76 import _QDIM, _qdim_spark
from grocery_store_sales_forecasting_etl_pipeline_spark.plans.scalerank import (
    counts_to_cum,
)

_DEC = "decimal(38,0)"


# ---------------------------------------------------------------------------
# Embedding anisotropy: mean pairwise dot / mean squared norm
# ---------------------------------------------------------------------------

_ANISO_ORACLE = f"""
WITH qd AS ({_QDIM}),
dims AS (
  SELECT dim, CAST(sum(CAST(q AS HUGEINT)) AS DECIMAL(38,0)) AS s
  FROM qd GROUP BY dim
),
norms AS (
  SELECT CAST(sum(CAST(q AS HUGEINT) * q) AS DECIMAL(38,0)) AS t,
         CAST(count(DISTINCT vec_id) AS BIGINT) AS n,
         CAST(count(DISTINCT dim) AS BIGINT) AS d
  FROM qd
),
u AS (
  SELECT CAST(sum(CAST(s AS HUGEINT) * CAST(s AS HUGEINT)) AS DECIMAL(38,0)) AS u2
  FROM dims
)
SELECT norms.n AS n_vectors, norms.d AS n_dims,
       norms.t AS sum_sq_norms, u.u2 AS sum_vector_norm_sq,
       round((CAST(u.u2 AS DOUBLE) - CAST(norms.t AS DOUBLE))
             / ((norms.n - 1.0) * CAST(norms.t AS DOUBLE)), 6) AS anisotropy,
       round(CAST(u.u2 AS DOUBLE) / (CAST(norms.n AS DOUBLE) * CAST(norms.t AS DOUBLE)),
             6) AS mean_direction_share
FROM norms CROSS JOIN u
"""


@register("embedding_anisotropy_audit", oracle=_ANISO_ORACLE, tags=("similarity", "ml"))
def embedding_anisotropy_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding anisotropy audit via the sum-vector identity: with
    s = Σᵢvᵢ and T = Σᵢ‖vᵢ‖², the mean pairwise dot product over all
    i≠j pairs is (‖s‖² − T)/(n(n−1)), so anisotropy = mean pairwise
    dot / mean squared norm = (‖s‖² − T)/((n−1)·T) — near 0 for an
    isotropic cloud, near 1 when all vectors crowd into a cone (the
    representation-collapse signature that silently breaks
    cosine-based retrieval and dedup). mean_direction_share =
    ‖s‖²/(n·T) is the companion "energy along the mean direction"
    share. No pair is ever materialized — two scans of the exploded
    frame, O(n·d) total.

    Determinism: on the q = round(v·1e6) integer grid, per-dim sums,
    squared norms, and ‖s‖² are exact integers (HUGEINT products →
    DECIMAL(38,0) sums; S_k ≤ n·3e6 keeps S_k² inside HUGEINT up to
    n ~ 4e12 vectors); two divisions at the boundary.

    Scale notes: both folds are map-side combines onto frames bounded
    by d (64) and 1 row; no shuffle exceeds the dimension count.
    """
    qd = _qdim_spark(spark, sf_dir)
    dims = qd.groupBy("dim").agg(F.sum(F.col("q").cast(_DEC)).alias("s"))
    norms = qd.agg(
        F.sum(F.col("q").cast(_DEC) * F.col("q").cast(_DEC)).cast(_DEC).alias("t"),
        F.countDistinct("vec_id").cast("long").alias("n"),
        F.countDistinct("dim").cast("long").alias("d"),
    )
    u = dims.agg(F.sum(F.col("s") * F.col("s")).cast(_DEC).alias("u2"))
    t_d = F.col("t").cast("double")
    u_d = F.col("u2").cast("double")
    return norms.crossJoin(u).select(
        F.col("n").alias("n_vectors"),
        F.col("d").alias("n_dims"),
        F.col("t").alias("sum_sq_norms"),
        F.col("u2").alias("sum_vector_norm_sq"),
        F.round((u_d - t_d) / ((F.col("n") - F.lit(1.0)) * t_d), 6).alias("anisotropy"),
        F.round(u_d / (F.col("n").cast("double") * t_d), 6).alias(
            "mean_direction_share"
        ),
    )


# ---------------------------------------------------------------------------
# Participation ratio (effective rank) of the embedding covariance
# ---------------------------------------------------------------------------

_PR_ORACLE = f"""
WITH qd AS ({_QDIM}),
nn AS (SELECT CAST(count(DISTINCT vec_id) AS BIGINT) AS n,
              CAST(count(DISTINCT dim) AS BIGINT) AS d FROM qd),
sums AS (
  SELECT dim, CAST(sum(CAST(q AS HUGEINT)) AS DECIMAL(38,0)) AS s
  FROM qd GROUP BY dim
),
gram AS (
  SELECT a.dim AS k, b.dim AS l,
         CAST(sum(CAST(a.q AS HUGEINT) * b.q) AS DECIMAL(38,0)) AS p
  FROM qd a JOIN qd b ON a.vec_id = b.vec_id
  GROUP BY a.dim, b.dim
),
m AS (
  SELECT g.k, g.l,
         CAST(nn.n AS HUGEINT) * CAST(g.p AS HUGEINT)
           - CAST(sa.s AS HUGEINT) * CAST(sb.s AS HUGEINT) AS mkl
  FROM gram g
  JOIN sums sa ON sa.dim = g.k
  JOIN sums sb ON sb.dim = g.l
  CROSS JOIN nn
),
acc AS (
  SELECT CAST(sum(CASE WHEN k = l THEN mkl ELSE 0 END) AS DECIMAL(38,0)) AS tr,
         sum(CAST(mkl AS DOUBLE) * CAST(mkl AS DOUBLE)) AS frob2
  FROM m
)
SELECT nn.n AS n_vectors, nn.d AS n_dims, acc.tr AS trace_scaled,
       round(CAST(acc.tr AS DOUBLE) * CAST(acc.tr AS DOUBLE) / acc.frob2, 4)
         AS participation_ratio,
       round(CAST(acc.tr AS DOUBLE) * CAST(acc.tr AS DOUBLE)
             / (acc.frob2 * nn.d), 6) AS effective_dim_share
FROM acc CROSS JOIN nn
"""


@register("embedding_participation_ratio", oracle=_PR_ORACLE, tags=("similarity", "ml"))
def embedding_participation_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Participation ratio (effective rank) of the embedding
    covariance: PR = (Σλ)²/Σλ² = trace(C)²/‖C‖²_F, computed with NO
    eigensolver — trace and Frobenius norm come straight from the
    d×d scaled scatter matrix M = n·P − s·sᵀ (P the Gram moment
    Σᵢqᵢqᵢᵀ, s the sum vector), whose scale factor n² cancels in the
    ratio. PR ≈ d means variance spread across all dimensions; PR ≪ d
    means a few directions carry everything (embedding_power_iteration
    finds the top direction; this counts how many MATTER — the
    whitening/compression decision number).

    Determinism: on the q-integer grid, P, s, and M are exact
    integers (HUGEINT products, DECIMAL(38,0) sums; M_kl ≲ n·d·q² —
    inside HUGEINT for n ≲ 1e9 vectors at q ≤ 3e6); ‖M‖²_F squares M
    as doubles (M² ~ 1e37 would overflow DECIMAL(38,0) in corner
    cases — the ratio is reported to 4dp where the double sum's
    1e-16 relative fold noise is invisible); trace is exact.

    Scale notes: the Gram fold self-joins the exploded frame on
    vec_id — co-partitioned by vec_id, map-side combinable onto the
    d² = 4096-cell frame; everything downstream is dimension-bounded.
    """
    # A/B sf0.1: 1.12 s with, 4.20 s without
    qd = _qdim_spark(spark, sf_dir).drop("label").localCheckpoint(eager=False)
    nn = qd.agg(
        F.countDistinct("vec_id").cast("long").alias("n"),
        F.countDistinct("dim").cast("long").alias("d"),
    )
    sums = qd.groupBy("dim").agg(F.sum(F.col("q").cast(_DEC)).alias("s"))
    a = qd.alias("a")
    b = qd.alias("b")
    # two-level accumulation (the r5 overflow/codegen pattern): per-task
    # LONG partials keep the 20M-row hot pass in whole-stage codegen
    # (measured 2.7x vs all-DECIMAL at sf0.1), the DECIMAL outer sum
    # keeps the total exact at any vector count. Per-task partial bound:
    # (vectors per task) * q_max^2 ~ 1e6 * 4e12 / 4096 cells -- orders
    # of magnitude inside BIGINT.
    gram = (
        a.join(b, F.col("a.vec_id") == F.col("b.vec_id"))
        .select(
            F.col("a.dim").alias("k"),
            F.col("b.dim").alias("l"),
            (F.col("a.q") * F.col("b.q")).alias("prod"),
            F.spark_partition_id().alias("pid"),
        )
        .groupBy("k", "l", "pid")
        .agg(F.sum("prod").alias("partial"))
        .groupBy("k", "l")
        .agg(F.sum(F.col("partial").cast(_DEC)).cast(_DEC).alias("p"))
    )
    sa = sums.select(F.col("dim").alias("k"), F.col("s").alias("s_k"))
    sb = sums.select(F.col("dim").alias("l"), F.col("s").alias("s_l"))
    m = (
        gram.join(sa, "k")
        .join(sb, "l")
        .crossJoin(nn)
        .select(
            "k",
            "l",
            (
                F.col("n").cast(_DEC) * F.col("p")
                - F.col("s_k") * F.col("s_l")
            ).alias("mkl"),
        )
    )
    acc = m.agg(
        F.sum(F.when(F.col("k") == F.col("l"), F.col("mkl")).otherwise(F.lit(0).cast(_DEC)))
        .cast(_DEC)
        .alias("tr"),
        F.sum(F.col("mkl").cast("double") * F.col("mkl").cast("double")).alias("frob2"),
    )
    tr_d = F.col("tr").cast("double")
    return acc.crossJoin(nn).select(
        F.col("n").alias("n_vectors"),
        F.col("d").alias("n_dims"),
        F.col("tr").alias("trace_scaled"),
        F.round(tr_d * tr_d / F.col("frob2"), 4).alias("participation_ratio"),
        F.round(tr_d * tr_d / (F.col("frob2") * F.col("d")), 6).alias(
            "effective_dim_share"
        ),
    )


# ---------------------------------------------------------------------------
# Inclan-Tiao CUSUM-of-squares variance changepoint on daily changes
# ---------------------------------------------------------------------------

_IT_ORACLE = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS d,
         sum(CAST(round(o_totalprice * 100) AS BIGINT)) // 100 AS dollars
  FROM orders GROUP BY d
),
diffs AS (
  SELECT d, dollars - lag(dollars) OVER (ORDER BY d) AS x
  FROM daily QUALIFY x IS NOT NULL
),
cum AS (
  SELECT d,
         CAST(sum(CAST(x AS HUGEINT) * x) OVER (ORDER BY d
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS DECIMAL(38,0)) AS ck,
         CAST(row_number() OVER (ORDER BY d) AS BIGINT) AS k,
         CAST(count(*) OVER () AS BIGINT) AS n
  FROM diffs
),
dk AS (
  SELECT d, k, n,
         abs(CAST(ck AS DOUBLE)
             / CAST(max(ck) OVER () AS DOUBLE)
             - CAST(k AS DOUBLE) / n) AS absd
  FROM cum
),
best AS (
  SELECT d, k, n, absd,
         row_number() OVER (ORDER BY absd DESC, d) AS rn
  FROM dk
)
SELECT n AS n_diffs, d AS changepoint_day, k AS changepoint_k,
       round(absd, 6) AS max_abs_d,
       round(absd * sqrt(n / 2.0), 6) AS it_stat
FROM best WHERE rn = 1
"""


@register("daily_revenue_variance_changepoint", oracle=_IT_ORACLE, tags=("stats", "audit"))
def daily_revenue_variance_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inclan-Tiao CUSUM-of-squares variance changepoint on
    day-over-day revenue changes: D_k = C_k/C_n − k/n over the
    cumulative sum of squared changes, argmax |D_k| locates the day
    the VOLATILITY regime switched, and IT = max|D_k|·√(n/2) is the
    test statistic (≈ Kolmogorov null: reject ≳ 1.358 at 5%).
    weekly_revenue_pettitt and weekly_revenue_changepoint find level
    shifts; this is the second-moment changepoint — a promo cadence
    change or demand-mix shift shows here first.

    Determinism: differencing the daily integer series centers it
    without estimating a mean; squared changes accumulate
    HUGEINT→DECIMAL(38,0) (x² crosses BIGINT once |x| > 3e9 dollars/
    day); D_k divides exact integers in one identical double tree and
    the argmax tie-breaks on the earlier day.

    Scale notes: the daily fold is map-side onto a calendar-bounded
    frame; windows run over thousands of rows.
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
    w_ord = Window.orderBy("d")
    diffs = daily.select(
        "d", (F.col("dollars") - F.lag("dollars").over(w_ord)).alias("x")
    ).filter(F.col("x").isNotNull())
    w_cum = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    w_all = Window.partitionBy()
    cum = diffs.select(
        "d",
        F.sum(F.col("x").cast(_DEC) * F.col("x").cast(_DEC))
        .over(w_cum)
        .cast(_DEC)
        .alias("ck"),
        F.row_number().over(w_ord).cast("long").alias("k"),
        F.count("*").over(w_all).cast("long").alias("n"),
    )
    dk = cum.select(
        "d",
        "k",
        "n",
        F.abs(
            F.col("ck").cast("double") / F.max("ck").over(w_all).cast("double")
            - F.col("k").cast("double") / F.col("n")
        ).alias("absd"),
    )
    best = dk.select(
        "d",
        "k",
        "n",
        "absd",
        F.row_number().over(Window.orderBy(F.desc("absd"), F.asc("d"))).alias("rn"),
    ).filter(F.col("rn") == 1)
    return best.select(
        F.col("n").alias("n_diffs"),
        F.col("d").alias("changepoint_day"),
        F.col("k").alias("changepoint_k"),
        F.round("absd", 6).alias("max_abs_d"),
        F.round(F.col("absd") * F.sqrt(F.col("n") / F.lit(2.0)), 6).alias("it_stat"),
    )


# ---------------------------------------------------------------------------
# Cucconi location-scale test: AUTOMOBILE vs HOUSEHOLD order values
# ---------------------------------------------------------------------------

_CUCCONI_ORACLE = """
WITH s AS (
  SELECT c.c_mktsegment AS seg,
         CAST(round(o.o_totalprice * 100) AS BIGINT) AS cents
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
  WHERE c.c_mktsegment IN ('AUTOMOBILE', 'HOUSEHOLD')
),
ranked AS (
  SELECT seg,
         2 * CAST(count(*) OVER (ORDER BY cents
             RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         - CAST(count(*) OVER (PARTITION BY cents) AS BIGINT) + 1 AS r2,
         CAST(count(*) OVER () AS BIGINT) AS nn
  FROM s
),
g AS (
  SELECT max(nn) AS nn,
         CAST(sum(CASE WHEN seg = 'AUTOMOBILE' THEN 1 ELSE 0 END) AS BIGINT) AS n1,
         CAST(sum(CASE WHEN seg = 'AUTOMOBILE'
                  THEN CAST(r2 AS HUGEINT) * r2 ELSE 0 END) AS DECIMAL(38,0)) AS sr2,
         CAST(sum(CASE WHEN seg = 'AUTOMOBILE'
                  THEN CAST(2 * (nn + 1) - r2 AS HUGEINT) * (2 * (nn + 1) - r2)
                  ELSE 0 END) AS DECIMAL(38,0)) AS sc2
  FROM ranked
),
uv AS (
  SELECT nn, n1, nn - n1 AS n2,
         (6.0 * CAST(sr2 AS DOUBLE) / 4.0
          - CAST(n1 AS DOUBLE) * (nn + 1) * (2.0 * nn + 1))
         / sqrt(CAST(n1 AS DOUBLE) * (nn - n1) * (nn + 1) * (2.0 * nn + 1)
                * (8.0 * nn + 11.0) / 5.0) AS u,
         (6.0 * CAST(sc2 AS DOUBLE) / 4.0
          - CAST(n1 AS DOUBLE) * (nn + 1) * (2.0 * nn + 1))
         / sqrt(CAST(n1 AS DOUBLE) * (nn - n1) * (nn + 1) * (2.0 * nn + 1)
                * (8.0 * nn + 11.0) / 5.0) AS v,
         2.0 * (CAST(nn AS DOUBLE) * nn - 4.0)
           / ((2.0 * nn + 1) * (8.0 * nn + 11.0)) - 1.0 AS rho
  FROM g
)
SELECT nn AS n_total, n1 AS n_auto, n2 AS n_house,
       round(u, 6) AS u_stat, round(v, 6) AS v_stat,
       round(rho, 6) AS rho,
       round((u * u + v * v - 2.0 * rho * u * v)
             / (2.0 * (1.0 - rho * rho)), 6) AS cucconi_c
FROM uv
"""


@register("segment_value_cucconi", oracle=_CUCCONI_ORACLE, tags=("stats",))
def segment_value_cucconi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cucconi location-scale test between AUTOMOBILE and HOUSEHOLD
    order values: U standardizes the sum of SQUARED ranks of sample 1,
    V the sum of squared CONTRA-ranks (N+1−R)², and
    C = (U² + V² − 2ρUV)/(2(1−ρ²)) with the exact null correlation
    ρ = 2(N²−4)/((2N+1)(8N+11)) − 1. One statistic, jointly sensitive
    to mean AND variance shifts — the single-number alternative to
    running rank-sum (location) and Ansari-Bradley (scale) separately;
    null C ~ Exp(1), reject ≳ 3.

    Determinism: squared midranks accumulate as doubled-rank squares
    (ΣR² = ΣR2²/4, exact HUGEINT/DECIMAL(38,0) integers); U, V, ρ, C
    are identical double trees rounded once.

    Scale notes: orders-customer join shuffles on custkey; the doubled
    midrank is constant within a cents tie group, so the pooled
    ranking folds to the VALUE grain — per-cents (total, AUTOMOBILE)
    counts, cumulative via scalerank.counts_to_cum (coarse-bucket
    offsets on a bounded frame + partitioned within-bucket cumulative,
    no single-partition sort) — and the squared-rank sums weight each
    value's (doubled) rank square by its AUTOMOBILE count. No
    fact-grain window anywhere.
    """
    o = _t(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    s = (
        o.join(c, F.col("o_custkey") == F.col("c_custkey"))
        .filter(F.col("c_mktsegment").isin("AUTOMOBILE", "HOUSEHOLD"))
        .select(
            F.col("c_mktsegment").alias("seg"),
            F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        )
    )
    vc = s.groupBy("cents").agg(
        F.count("*").cast("long").alias("c"),
        F.sum(F.when(F.col("seg") == "AUTOMOBILE", 1).otherwise(0))
        .cast("long")
        .alias("c_auto"),
    )
    cum = counts_to_cum(vc, "cents", coarse_div=10000)
    tot = cum.agg(F.sum("c").cast("long").alias("nn"))
    r2 = F.lit(2) * F.col("cum") - F.col("c") + 1  # doubled midrank per value
    contra = F.lit(2) * (F.col("nn") + 1) - r2
    g = cum.crossJoin(tot).agg(
        F.max("nn").alias("nn"),
        F.sum("c_auto").cast("long").alias("n1"),
        F.sum(F.col("c_auto").cast(_DEC) * r2.cast(_DEC) * r2.cast(_DEC))
        .cast(_DEC)
        .alias("sr2"),
        F.sum(F.col("c_auto").cast(_DEC) * contra.cast(_DEC) * contra.cast(_DEC))
        .cast(_DEC)
        .alias("sc2"),
    )
    nn_d = F.col("nn").cast("double")
    n1_d = F.col("n1").cast("double")
    denom = F.sqrt(
        n1_d
        * (F.col("nn") - F.col("n1"))
        * (F.col("nn") + 1)
        * (F.lit(2.0) * F.col("nn") + 1)
        * (F.lit(8.0) * F.col("nn") + 11.0)
        / F.lit(5.0)
    )
    mean = n1_d * (F.col("nn") + 1) * (F.lit(2.0) * F.col("nn") + 1)
    u = (F.lit(6.0) * F.col("sr2").cast("double") / F.lit(4.0) - mean) / denom
    v = (F.lit(6.0) * F.col("sc2").cast("double") / F.lit(4.0) - mean) / denom
    rho = (
        F.lit(2.0)
        * (nn_d * F.col("nn") - F.lit(4.0))
        / ((F.lit(2.0) * F.col("nn") + 1) * (F.lit(8.0) * F.col("nn") + 11.0))
        - F.lit(1.0)
    )
    uv = g.select(
        "nn",
        "n1",
        (F.col("nn") - F.col("n1")).alias("n2"),
        u.alias("u"),
        v.alias("v"),
        rho.alias("rho"),
    )
    return uv.select(
        F.col("nn").alias("n_total"),
        F.col("n1").alias("n_auto"),
        F.col("n2").alias("n_house"),
        F.round("u", 6).alias("u_stat"),
        F.round("v", 6).alias("v_stat"),
        F.round("rho", 6).alias("rho"),
        F.round(
            (F.col("u") * F.col("u") + F.col("v") * F.col("v")
             - F.lit(2.0) * F.col("rho") * F.col("u") * F.col("v"))
            / (F.lit(2.0) * (F.lit(1.0) - F.col("rho") * F.col("rho"))),
            6,
        ).alias("cucconi_c"),
    )
