"""Round-6 additions, batch 76: embedding-quality evaluation — the
four numbers a training-data pipeline reads before trusting an
embedding column. Leave-one-out 1-NN label accuracy (can the space
classify at all), a per-dimension Fisher discriminant screen (WHICH
dimensions carry the labels), a centroid silhouette per label (which
classes are compact vs smeared), and one EXACT power-iteration step
for the dominant principal direction with its Rayleigh quotient (is
the variance concentrated on an axis — the anisotropy screen that
decides whether whitening is worth it).

All four share the same quantization contract: each float coordinate
becomes the exact integer q = round(x·10⁶) on BOTH engines, so every
distance, scatter sum, and matrix-vector product below is EXACT
integer arithmetic (DECIMAL(38,0)/HUGEINT) — float32 embedding math
is notoriously fold-order-sensitive, and the 1e-6 quantization grain
is far below any decision boundary these statistics drive. Doubles
appear only in final ratios, accumulated through SEQUENTIAL windows
where a fold crosses rows.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from grocery_store_sales_forecasting_etl_pipeline_spark.plans._tables import table as _t
from grocery_store_sales_forecasting_etl_pipeline_spark.plans.registry import register
from grocery_store_sales_forecasting_etl_pipeline_spark.operators.similarity import (
    exact_knn_block_gemm,
)

_QDIM = """
  SELECT vec_id, label, CAST(u AS BIGINT) AS dim,
         CAST(round(CAST(v AS DOUBLE) * 1000000) AS BIGINT) AS q
  FROM (
    SELECT vec_id, label,
           unnest(embedding) AS v,
           unnest(range(0, len(embedding))) AS u
    FROM embeddings
  )
"""


def _qdim_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    return emb.select(
        "vec_id",
        "label",
        F.posexplode("embedding").alias("dim", "v"),
    ).select(
        "vec_id",
        "label",
        F.col("dim").cast("long").alias("dim"),
        F.round(F.col("v").cast("double") * 1_000_000).cast("long").alias("q"),
    )


# ---------------------------------------------------------------------------
# Leave-one-out 1-NN label accuracy
# ---------------------------------------------------------------------------

_KNN_ACC_ORACLE = f"""
WITH qd AS ({_QDIM}),
d2 AS (
  SELECT a.vec_id AS ia, b.vec_id AS ib,
         max(a.label) AS la, max(b.label) AS lb,
         CAST(sum(CAST(a.q - b.q AS HUGEINT) * (a.q - b.q))
              AS DECIMAL(38,0)) AS d2
  FROM qd a JOIN qd b ON a.dim = b.dim AND a.vec_id <> b.vec_id
  GROUP BY ia, ib
),
nn AS (
  SELECT ia, la, lb,
         row_number() OVER (PARTITION BY ia ORDER BY d2, ib) AS rn
  FROM d2
)
SELECT la AS label, CAST(count(*) AS BIGINT) AS n_vectors,
       CAST(sum(CASE WHEN la = lb THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
       round(CAST(sum(CASE WHEN la = lb THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*), 6) AS loo_1nn_accuracy
FROM nn WHERE rn = 1 GROUP BY la
"""


@register("embedding_1nn_label_accuracy", oracle=_KNN_ACC_ORACLE,
          tags=("similarity", "ml"))
def embedding_1nn_label_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out 1-nearest-neighbor label accuracy per class: for
    every vector, find its nearest OTHER vector by exact quantized
    squared Euclidean distance and score whether the labels match —
    the assumption-free probe of "does this embedding space encode
    the labels" that a linear probe can pass while the local geometry
    is garbage (and vice versa). cosine_knn retrieves neighbors; this
    GRADES them against labels.

    Determinism: distances are exact integers on the 1e-6 quantized
    grid (DECIMAL(38,0)/HUGEINT — 64 dims of (2e6)² differences hold
    to ±1000-magnitude coordinates); the neighbor argmin tie-breaks
    on vec_id; accuracy divides once.

    Scale notes: exact all-pairs distances run as the block-grid GEMM
    (operators/similarity.exact_knn_block_gemm — ids hash into blocks,
    each block pair is one numpy kernel, per-block top-1 then a
    partitioned global argmin), NOT the dim-keyed self-join, which
    shuffles n²·d joined rows (measured 214.7s vs 2-3s at sf0.1 for
    identical integer distances); an IVF/LSH bucketed variant
    (ann_lsh_candidates) remains the sub-brute-force scale path.
    """
    emb = _t(spark, sf_dir, "embeddings")
    nn = exact_knn_block_gemm(
        emb, id_col="vec_id", vec_col="embedding", label_col="label", k=1
    )
    return nn.groupBy(F.col("la").alias("label")).agg(
        F.count("*").cast("long").alias("n_vectors"),
        F.sum(F.when(F.col("la") == F.col("lb"), 1).otherwise(0))
        .cast("long")
        .alias("n_correct"),
    ).select(
        "label",
        "n_vectors",
        "n_correct",
        F.round(
            F.col("n_correct").cast("double") / F.col("n_vectors"), 6
        ).alias("loo_1nn_accuracy"),
    )


# ---------------------------------------------------------------------------
# Per-dimension Fisher discriminant screen
# ---------------------------------------------------------------------------

_FISHER_ORACLE = f"""
WITH qd AS ({_QDIM}),
lk AS (
  SELECT dim, label, CAST(count(*) AS BIGINT) AS nk,
         CAST(sum(CAST(q AS HUGEINT)) AS DECIMAL(38,0)) AS s,
         CAST(sum(CAST(q AS HUGEINT) * q) AS DECIMAL(38,0)) AS ss
  FROM qd GROUP BY dim, label
),
acc AS (
  SELECT dim,
         CAST(count(*) OVER w AS BIGINT) AS kk,
         CAST(sum(nk) OVER w AS BIGINT) AS n,
         sum(CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * s / nk) OVER w
           AS within_ss,
         sum(CAST(s AS DOUBLE)) OVER w AS stot,
         sum(CAST(s AS DOUBLE) * s / nk) OVER w AS sbar,
         row_number() OVER (PARTITION BY dim ORDER BY label DESC) AS rev
  FROM lk
  WINDOW w AS (PARTITION BY dim ORDER BY label
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
fr AS (
  SELECT dim, kk, n, within_ss,
         sbar - stot * stot / n AS between_ss
  FROM acc WHERE rev = 1
),
rk AS (
  SELECT dim, kk, within_ss, between_ss,
         CASE WHEN within_ss > 0.0
              THEN (between_ss / (kk - 1)) / (within_ss / (n - kk)) END
           AS fisher_f,
         CAST(row_number() OVER (
           ORDER BY CASE WHEN within_ss > 0.0
                    THEN (between_ss / (kk - 1)) / (within_ss / (n - kk))
                    END DESC NULLS LAST, dim) AS BIGINT) AS rnk
  FROM fr
)
SELECT dim, round(between_ss, 2) AS between_ss, round(within_ss, 2)
         AS within_ss, round(fisher_f, 4) AS fisher_f, rnk
FROM rk WHERE rnk <= 10
"""


@register("embedding_fisher_screen", oracle=_FISHER_ORACLE,
          tags=("similarity", "ml"))
def embedding_fisher_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension Fisher discriminant screen of the embedding
    space: for each of the 64 coordinates, the one-way-ANOVA F ratio
    (between-label variance over within-label variance) — the top-10
    most label-discriminative dimensions. A space whose label signal
    concentrates in a few axes invites cheap linear probes and
    dimension pruning; a flat screen means the signal is rotated into
    no particular basis. nzv_feature_screen drops dead features; this
    ranks the live ones BY the label.

    Determinism: per-(dim, label) moments are exact integers on the
    quantized grid; the within/between scatter sums accumulate through
    per-dim SEQUENTIAL windows ordered by label; F and the rank
    (dim tie-break, NULLS LAST for zero-within degenerate dims) are
    identical double trees.

    Scale notes: one embeddings scan explodes to the (vector × dim)
    frame and folds map-side to (dim × label) — 640 rows regardless
    of corpus size; everything after is bounded.
    """
    qd = _qdim_spark(spark, sf_dir)
    dec = "decimal(38,0)"
    lk = qd.groupBy("dim", "label").agg(
        F.count("*").cast("long").alias("nk"),
        F.sum(F.col("q").cast(dec)).cast(dec).alias("s"),
        F.sum(F.col("q").cast(dec) * F.col("q")).cast(dec).alias("ss"),
    )
    w = (
        Window.partitionBy("dim")
        .orderBy("label")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    acc = lk.select(
        "dim",
        F.count("*").over(w).cast("long").alias("kk"),
        F.sum("nk").over(w).cast("long").alias("n"),
        F.sum(
            F.col("ss").cast("double") - F.col("s").cast("double") * F.col("s") / F.col("nk")
        )
        .over(w)
        .alias("within_ss"),
        F.sum(F.col("s").cast("double")).over(w).alias("stot"),
        F.sum(F.col("s").cast("double") * F.col("s") / F.col("nk")).over(w).alias("sbar"),
        F.row_number().over(Window.partitionBy("dim").orderBy(F.desc("label"))).alias("rev"),
    ).filter(F.col("rev") == 1)
    fr = acc.select(
        "dim",
        "kk",
        "n",
        "within_ss",
        (F.col("sbar") - F.col("stot") * F.col("stot") / F.col("n")).alias("between_ss"),
    )
    fisher = F.when(
        F.col("within_ss") > 0.0,
        (F.col("between_ss") / (F.col("kk") - 1))
        / (F.col("within_ss") / (F.col("n") - F.col("kk"))),
    )
    rk = fr.select(
        "dim",
        "between_ss",
        "within_ss",
        fisher.alias("fisher_f"),
        F.row_number()
        .over(Window.orderBy(F.desc_nulls_last(fisher), F.asc("dim")))
        .cast("long")
        .alias("rnk"),
    ).filter(F.col("rnk") <= 10)
    return rk.select(
        "dim",
        F.round("between_ss", 2).alias("between_ss"),
        F.round("within_ss", 2).alias("within_ss"),
        F.round("fisher_f", 4).alias("fisher_f"),
        "rnk",
    )


# ---------------------------------------------------------------------------
# Centroid silhouette per label (squared-distance variant)
# ---------------------------------------------------------------------------

_SILHOUETTE_ORACLE = f"""
WITH qd AS ({_QDIM}),
cent AS (
  SELECT label AS k, dim,
         CAST(sum(CAST(q AS HUGEINT)) AS DECIMAL(38,0)) AS s,
         CAST(count(*) AS BIGINT) AS c
  FROM qd GROUP BY k, dim
),
dist AS (
  -- d^2(x, c_k) = sum_d (c_k*q - s_kd)^2 / c_k^2, kept as the exact
  -- integer numerator A (same denominator within a k)
  SELECT qd.vec_id, qd.label, cent.k, max(cent.c) AS c,
         CAST(sum(CAST(cent.c * qd.q - cent.s AS DECIMAL(38,0))
                  * CAST(cent.c * qd.q - cent.s AS DECIMAL(38,0)))
              AS DECIMAL(38,0)) AS a_num
  FROM qd JOIN cent ON qd.dim = cent.dim
  GROUP BY qd.vec_id, qd.label, cent.k
),
own AS (
  SELECT vec_id, label,
         CAST(a_num AS DOUBLE) / (CAST(c AS DOUBLE) * c) AS a2
  FROM dist WHERE label = k
),
oth AS (
  -- exact argmin across k by integer cross-multiplication
  SELECT vec_id,
         min(CASE WHEN rn = 1
             THEN CAST(a_num AS DOUBLE) / (CAST(c AS DOUBLE) * c) END) AS b2
  FROM (
    SELECT vec_id, a_num, c,
           row_number() OVER (PARTITION BY vec_id
             ORDER BY CAST(a_num AS DOUBLE) / (CAST(c AS DOUBLE) * c), k)
             AS rn
    FROM dist WHERE label <> k
  ) GROUP BY vec_id
),
s AS (
  SELECT own.label, own.vec_id,
         (oth.b2 - own.a2)
         / CASE WHEN own.a2 > oth.b2 THEN own.a2 ELSE oth.b2 END AS sil
  FROM own JOIN oth ON own.vec_id = oth.vec_id
),
acc AS (
  SELECT label,
         CAST(count(*) OVER w AS BIGINT) AS n,
         sum(sil) OVER w AS ssum,
         row_number() OVER (PARTITION BY label ORDER BY vec_id DESC) AS rev
  FROM s
  WINDOW w AS (PARTITION BY label ORDER BY vec_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT label, n AS n_vectors, round(ssum / n, 6) AS centroid_silhouette
FROM acc WHERE rev = 1
"""


@register("embedding_centroid_silhouette", oracle=_SILHOUETTE_ORACLE,
          tags=("similarity", "ml"))
def embedding_centroid_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Centroid silhouette per label (squared-distance variant): for
    each vector, a² = squared distance to its OWN label centroid, b²
    = squared distance to the NEAREST other centroid, and s = (b² −
    a²)/max(a², b²) averaged per label — near 1 means the class is a
    tight, well-separated cluster; near 0 means it bleeds into a
    neighbor; negative means its members sit closer to another class
    than their own. The medoid-free, O(n·k) silhouette that scales
    where the classic O(n²) pairwise one can't.

    Determinism: centroids stay EXACT as (Σq, count) pairs, so each
    d²(x, c_k) has the exact integer numerator Σ(c·q − s)² with
    denominator c² (DECIMAL(38,0) — holds 64 dims of (5e8)² terms at
    ~500-member centroids on the 1e-6 grid); the nearest-other choice
    and s are identical double trees; per-label means accumulate
    through SEQUENTIAL windows ordered by vec_id.

    Scale notes: one embeddings scan; the (vector × label) distance
    frame is n·k rows via a broadcast-sized (k × dim) centroid join —
    the scalable silhouette shape by construction.
    """
    # A/B sf0.1: 1.53 s with, 2.16 s without
    qd = _qdim_spark(spark, sf_dir).localCheckpoint(eager=False)
    dec = "decimal(38,0)"
    cent = qd.groupBy(F.col("label").alias("k"), F.col("dim").alias("cdim")).agg(
        F.sum(F.col("q").cast(dec)).cast(dec).alias("s"),
        F.count("*").cast("long").alias("c"),
    )
    term = (F.col("c") * F.col("q") - F.col("s")).cast(dec)
    dist = (
        # A/B sf1: 4.66 s with, 11.56 s without the hint
        qd.join(F.broadcast(cent), F.col("dim") == F.col("cdim"))
        .groupBy("vec_id", "label", "k")
        .agg(
            F.max("c").alias("c"),
            F.sum(term * term).cast(dec).alias("a_num"),
        )
    )
    d2 = F.col("a_num").cast("double") / (F.col("c").cast("double") * F.col("c"))
    own = dist.filter(F.col("label") == F.col("k")).select(
        "vec_id", "label", d2.alias("a2")
    )
    oth = (
        dist.filter(F.col("label") != F.col("k"))
        .select(
            "vec_id",
            d2.alias("d2k"),
            F.row_number()
            .over(Window.partitionBy("vec_id").orderBy(d2, F.asc("k")))
            .alias("rn"),
        )
        .filter(F.col("rn") == 1)
        .select("vec_id", F.col("d2k").alias("b2"))
    )
    s = own.join(oth, "vec_id").select(
        "label",
        "vec_id",
        (
            (F.col("b2") - F.col("a2"))
            / F.greatest(F.col("a2"), F.col("b2"))
        ).alias("sil"),
    )
    w = (
        Window.partitionBy("label")
        .orderBy("vec_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    acc = s.select(
        "label",
        F.count("*").over(w).cast("long").alias("n"),
        F.sum("sil").over(w).alias("ssum"),
        F.row_number().over(Window.partitionBy("label").orderBy(F.desc("vec_id"))).alias("rev"),
    ).filter(F.col("rev") == 1)
    return acc.select(
        "label",
        F.col("n").alias("n_vectors"),
        F.round(F.col("ssum") / F.col("n"), 6).alias("centroid_silhouette"),
    )


# ---------------------------------------------------------------------------
# One exact power-iteration step: dominant principal direction
# ---------------------------------------------------------------------------

_POWER_ORACLE = f"""
WITH qd AS ({_QDIM}),
rows_ AS (
  SELECT vec_id, CAST(sum(CAST(q AS HUGEINT)) AS DECIMAL(38,0)) AS rowsum
  FROM qd GROUP BY vec_id
),
v1 AS (
  SELECT qd.dim,
         CAST(sum(CAST(qd.q AS HUGEINT) * r.rowsum) AS DECIMAL(38,0)) AS w
  FROM qd JOIN rows_ r ON qd.vec_id = r.vec_id
  GROUP BY qd.dim
),
xv AS (
  SELECT qd.vec_id,
         CAST(sum(CAST(qd.q AS HUGEINT) * v1.w) AS DECIMAL(38,0)) AS xv1
  FROM qd JOIN v1 ON qd.dim = v1.dim
  GROUP BY qd.vec_id
),
ray AS (
  -- sequential fold ordered by vec_id: bit-identical across engines
  SELECT num FROM (
    SELECT sum(CAST(xv1 AS DOUBLE) * CAST(xv1 AS DOUBLE)) OVER
             (ORDER BY vec_id ROWS BETWEEN UNBOUNDED PRECEDING
              AND CURRENT ROW) AS num,
           row_number() OVER (ORDER BY vec_id DESC) AS rev
    FROM xv
  ) WHERE rev = 1
),
den AS (
  SELECT d FROM (
    SELECT sum(CAST(w AS DOUBLE) * CAST(w AS DOUBLE)) OVER
             (ORDER BY dim ROWS BETWEEN UNBOUNDED PRECEDING
              AND CURRENT ROW) AS d,
           row_number() OVER (ORDER BY dim DESC) AS rev
    FROM v1
  ) WHERE rev = 1
),
rk AS (
  SELECT dim, w,
         CAST(row_number() OVER (ORDER BY abs(w) DESC, dim) AS BIGINT)
           AS rnk
  FROM v1
)
SELECT rk.dim, CAST(rk.w AS BIGINT) AS component, rk.rnk,
       round(ray.num / den.d, 2) AS rayleigh_lambda
FROM rk CROSS JOIN ray CROSS JOIN den
WHERE rk.rnk <= 10
"""


@register("embedding_power_iteration", oracle=_POWER_ORACLE,
          tags=("similarity", "ml"))
def embedding_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One EXACT power-iteration step toward the dominant principal
    direction of the (uncentered) embedding Gram matrix: starting
    from the all-ones vector, v₁ = XᵀX·1 = Xᵀ(row-sums) computed
    entirely in integer arithmetic on the quantized grid, reported as
    the top-10 |component| dimensions plus the Rayleigh quotient
    ‖Xv₁‖²/‖v₁‖² — the dominant-eigenvalue estimate that reads the
    space's anisotropy (a huge λ₁ relative to total energy means one
    axis dominates and whitening will pay). embedding_maha_outliers
    consumes the covariance; this is the matrix-free first step of
    COMPUTING its top axis at any scale.

    Determinism: row-sums and every v₁ component are exact integers
    (DECIMAL(38,0) holds Σq·rowsum to ~10⁹ vectors × 64 dims on the
    1e-6 grid); the component ranking compares exact integers (dim
    tie-break); only the Rayleigh quotient's ‖Xv₁‖² is a double
    (its terms are exact-integer-valued doubles; the sums are
    order-independent to 1e-16 against output rounded at 2).

    Scale notes: two map-side folds over the (vector × dim) frame
    with a dim-keyed join against the 64-row v₁ — no all-pairs
    anything; this is the shape distributed PCA actually uses.
    """
    qd = _qdim_spark(spark, sf_dir)
    dec = "decimal(38,0)"
    rows_ = qd.groupBy("vec_id").agg(
        F.sum(F.col("q").cast(dec)).cast(dec).alias("rowsum")
    )
    v1 = (
        qd.join(rows_, "vec_id")
        .groupBy("dim")
        .agg(F.sum(F.col("q").cast(dec) * F.col("rowsum")).cast(dec).alias("w"))
        .localCheckpoint(eager=False)  # A/B sf0.1: 0.76 s with, 0.88 s without
    )
    xv = (
        # A/B sf0.1: 1.12 s with, 1.31 s without the hint
        qd.join(F.broadcast(v1), "dim")
        .groupBy("vec_id")
        .agg(F.sum(F.col("q").cast(dec) * F.col("w")).cast(dec).alias("xv1"))
    )
    # sequential folds (ordered cumulative window, last row): the 1e51
    # -magnitude squares would otherwise differ across engines in the
    # last ulp under shuffle-order summation
    ray = xv.select(
        F.sum(F.col("xv1").cast("double") * F.col("xv1").cast("double"))
        .over(
            Window.orderBy("vec_id").rowsBetween(
                Window.unboundedPreceding, Window.currentRow
            )
        )
        .alias("num"),
        F.row_number().over(Window.orderBy(F.desc("vec_id"))).alias("rev"),
    ).filter(F.col("rev") == 1).select("num")
    den = v1.select(
        F.sum(F.col("w").cast("double") * F.col("w").cast("double"))
        .over(
            Window.orderBy("dim").rowsBetween(
                Window.unboundedPreceding, Window.currentRow
            )
        )
        .alias("d"),
        F.row_number().over(Window.orderBy(F.desc("dim"))).alias("rev"),
    ).filter(F.col("rev") == 1).select("d")
    rk = v1.select(
        "dim",
        "w",
        F.row_number()
        .over(Window.orderBy(F.abs(F.col("w")).desc(), F.asc("dim")))
        .cast("long")
        .alias("rnk"),
    ).filter(F.col("rnk") <= 10)
    return (
        rk.crossJoin(ray)
        .crossJoin(den)
        .select(
            "dim",
            F.col("w").cast("long").alias("component"),
            "rnk",
            F.round(F.col("num") / F.col("d"), 2).alias("rayleigh_lambda"),
        )
    )
