"""Round-6 additions, batch 48: the feature-encoding family — the
categorical-to-numeric transforms a tabular training pipeline applies
before a model sees the data, each with its leakage/collision audit:
leave-one-out target encoding (the encoding that avoids self-leakage
by construction), weight-of-evidence + information value (the credit
-scoring standard for binning categorical predictors), hashed feature
crosses with a collision audit (the hashing-trick tradeoff made
measurable), and a hash-based k-fold assignment audit (is the fold
split balanced on the label, the silent killer of CV estimates).

Determinism discipline: encodings derive from integer cent sums
(DECIMAL(38,0)/HUGEINT accumulation — a cent-scale sum at 10^12 rows
crosses BIGINT) with a single double division; WOE uses the log-sum
form ln(n1)-ln(N1)-ln(n0)+ln(N0) so no count product can overflow;
hash buckets and folds come from md5 prefixes (bit-exact in both
engines, append-stable, partition-independent).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from grocery_store_sales_forecasting_etl_pipeline_spark.plans._tables import table as _t
from grocery_store_sales_forecasting_etl_pipeline_spark.plans.registry import register

# ---------------------------------------------------------------------------
# Leave-one-out target encoding
# ---------------------------------------------------------------------------

_LOO_ORACLE = """
WITH g AS (
  SELECT o_orderpriority AS priority,
         sum(CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS HUGEINT)) AS s,
         CAST(count(*) AS BIGINT) AS n
  FROM orders GROUP BY 1
)
SELECT o.o_orderkey,
       g.priority,
       CAST(round(o.o_totalprice * 100) AS BIGINT) AS cents,
       CASE WHEN g.n > 1
            THEN round(CAST(g.s - CAST(round(o.o_totalprice * 100) AS BIGINT)
                            AS DOUBLE) / (g.n - 1), 4)
       END AS enc_loo
FROM orders o JOIN g ON o.o_orderpriority = g.priority
"""


@register("target_encoding_loo", oracle=_LOO_ORACLE, tags=("ml-eval", "agg", "join"))
def target_encoding_loo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out target encoding of order priority against the
    order's own total price (in cents): each row's encoding is the mean
    target of all OTHER rows in its category, (sum_g - x_i)/(n_g - 1) —
    the construction that removes self-leakage without needing fold
    machinery. Categories of size 1 encode NULL (no peers), mirrored on
    both sides.

    Numerics: category sums accumulate in DECIMAL(38,0) (DuckDB
    HUGEINT) — cent-scale sums cross BIGINT at ~10^12 rows — and the
    encoding is one double division of exact integers.

    Scale notes: the category stats are a map-side-combinable fold to a
    5-row frame broadcast back onto the fact scan — NOT a window
    partitioned by the 5-value category, which would shuffle the whole
    table into 5 skewed partitions. The encoded output streams out of
    the scan join.
    """
    o = _t(spark, sf_dir, "orders").withColumn(
        "cents", F.round(F.col("o_totalprice") * 100).cast("long")
    )
    g = o.groupBy(F.col("o_orderpriority").alias("priority")).agg(
        F.sum(F.col("cents").cast("decimal(38,0)")).alias("s"),
        F.count("*").cast("long").alias("n"),
    )
    return (
        # A/B sf1: 1.51 s with, 3.97 s without the hint
        o.join(F.broadcast(g), o.o_orderpriority == g.priority)
        .select(
            "o_orderkey",
            "priority",
            "cents",
            F.when(
                F.col("n") > 1,
                F.round(
                    (F.col("s") - F.col("cents")).cast("double") / (F.col("n") - 1),
                    4,
                ),
            ).alias("enc_loo"),
        )
    )


# ---------------------------------------------------------------------------
# Weight of evidence + information value
# ---------------------------------------------------------------------------

_WOE_ORACLE = """
WITH lab AS (
  SELECT o.o_orderkey, c.c_mktsegment AS segment,
         CASE WHEN r.l_orderkey IS NULL THEN 0 ELSE 1 END AS pos
  FROM orders o
  JOIN customer c ON o.o_custkey = c.c_custkey
  LEFT JOIN (SELECT DISTINCT l_orderkey FROM lineitem
             WHERE l_returnflag = 'R') r
    ON o.o_orderkey = r.l_orderkey
),
per AS (
  SELECT segment,
         CAST(sum(pos) AS BIGINT) AS n_pos,
         CAST(count(*) - sum(pos) AS BIGINT) AS n_neg
  FROM lab GROUP BY segment
),
t AS (
  SELECT *,
         CAST(sum(n_pos) OVER () AS BIGINT) AS tot_pos,
         CAST(sum(n_neg) OVER () AS BIGINT) AS tot_neg
  FROM per
),
w AS (
  SELECT segment, n_pos, n_neg,
         CASE WHEN n_pos > 0 AND n_neg > 0
              THEN ln(n_pos) - ln(tot_pos) - ln(n_neg) + ln(tot_neg)
         END AS woe_raw,
         CAST(n_pos AS DOUBLE) / tot_pos
           - CAST(n_neg AS DOUBLE) / tot_neg AS dist_gap
  FROM t
)
SELECT segment, n_pos, n_neg,
       round(woe_raw, 6) AS woe,
       round(dist_gap * woe_raw, 6) AS iv_term,
       round(sum(dist_gap * woe_raw) OVER (), 6) AS total_iv
FROM w
"""


@register("woe_iv_audit", oracle=_WOE_ORACLE, tags=("ml-eval", "stats"))
def woe_iv_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight of evidence per market segment against the
    has-returned-line label, with each segment's information-value term
    and the feature's total IV (the credit-scoring screen: IV < 0.02 is
    useless, > 0.5 suspicious). WOE = ln(P(seg|pos)/P(seg|neg)) in the
    log-sum form ln(n1)-ln(N1)-ln(n0)+ln(N0) — no count product to
    overflow — NULL for one-sided segments (none here, but mirrored).

    Scale notes: the label fold is the shared
    distinct-returned-orderkeys aggregation on the natural join key;
    the segment fold is map-side combinable to a 5-row frame; totals
    and the IV sum are windows over that frame. One fact-grain shuffle
    (the distinct), one dim join, nothing segment-skewed.
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
        .join(ret, o.o_orderkey == ret.l_orderkey, "left")
        .select(
            F.col("c_mktsegment").alias("segment"),
            F.coalesce(F.col("pos1"), F.lit(0)).alias("pos"),
        )
    )
    per = lab.groupBy("segment").agg(
        F.sum("pos").cast("long").alias("n_pos"),
        (F.count("*") - F.sum("pos")).cast("long").alias("n_neg"),
    )
    w_all = Window.partitionBy()
    t = per.select(
        "segment",
        "n_pos",
        "n_neg",
        F.sum("n_pos").over(w_all).cast("long").alias("tot_pos"),
        F.sum("n_neg").over(w_all).cast("long").alias("tot_neg"),
    )
    woe_raw = F.when(
        (F.col("n_pos") > 0) & (F.col("n_neg") > 0),
        F.log(F.col("n_pos"))
        - F.log(F.col("tot_pos"))
        - F.log(F.col("n_neg"))
        + F.log(F.col("tot_neg")),
    )
    dist_gap = (
        F.col("n_pos").cast("double") / F.col("tot_pos")
        - F.col("n_neg").cast("double") / F.col("tot_neg")
    )
    w = t.select(
        "segment",
        "n_pos",
        "n_neg",
        woe_raw.alias("woe_raw"),
        dist_gap.alias("dist_gap"),
    )
    return w.select(
        "segment",
        "n_pos",
        "n_neg",
        F.round(F.col("woe_raw"), 6).alias("woe"),
        F.round(F.col("dist_gap") * F.col("woe_raw"), 6).alias("iv_term"),
        F.round(
            F.sum(F.col("dist_gap") * F.col("woe_raw")).over(w_all), 6
        ).alias("total_iv"),
    )


# ---------------------------------------------------------------------------
# Hashed feature crosses + collision audit
# ---------------------------------------------------------------------------

_CROSS_ORACLE = """
WITH x AS (
  SELECT c.c_mktsegment || '|' || o.o_orderpriority || '|' || n.n_name AS crossk
  FROM orders o
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
),
per_cross AS (
  SELECT crossk,
         CAST(('0x' || substr(md5(crossk), 1, 6))::BIGINT % 256 AS BIGINT)
           AS bucket,
         CAST(count(*) AS BIGINT) AS n_rows
  FROM x GROUP BY 1
),
per_bucket AS (
  SELECT bucket,
         CAST(count(*) AS BIGINT) AS c_crosses,
         CAST(sum(n_rows) AS BIGINT) AS b_rows
  FROM per_cross GROUP BY bucket
)
SELECT CAST(sum(c_crosses) AS BIGINT) AS n_crosses,
       CAST(count(*) AS BIGINT) AS buckets_used,
       CAST(sum(CASE WHEN c_crosses > 1 THEN c_crosses ELSE 0 END) AS BIGINT)
         AS colliding_crosses,
       CAST(max(c_crosses) AS BIGINT) AS max_bucket_crosses,
       CAST(sum(CASE WHEN c_crosses > 1 THEN b_rows ELSE 0 END) AS BIGINT)
         AS rows_in_collisions,
       round(CAST(sum(CASE WHEN c_crosses > 1 THEN c_crosses ELSE 0 END)
                  AS DOUBLE) / sum(c_crosses), 6) AS collision_rate
FROM per_bucket
"""


@register("hashed_feature_crosses", oracle=_CROSS_ORACLE, tags=("ml-eval", "agg"))
def hashed_feature_crosses(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hashing trick made auditable: the 3-way categorical cross
    (segment x priority x customer nation) is hashed into 256 buckets
    (md5-prefix mod — bit-exact in both engines), and the audit reports
    how many distinct crosses collide and how many fact rows sit in
    colliding buckets — the quantity that decides whether 2^8 hash
    features are enough or gradient interference will blur the model.

    Scale notes: one fact fold to the distinct-cross frame (bounded by
    the category-cardinality product, not the row count), a second fold
    over its <= 256 buckets, one summary row. The dim joins are plain
    key joins; nothing downstream of the first fold is fact-grain.
    """
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    x = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(n, c.c_nationkey == n.n_nationkey)
        .select(
            F.concat_ws(
                "|", F.col("c_mktsegment"), F.col("o_orderpriority"), F.col("n_name")
            ).alias("crossk")
        )
    )
    per_cross = x.groupBy("crossk").agg(F.count("*").cast("long").alias("n_rows"))
    per_cross = per_cross.select(
        "crossk",
        "n_rows",
        (F.conv(F.substring(F.md5(F.col("crossk")), 1, 6), 16, 10).cast("long") % 256)
        .cast("long")
        .alias("bucket"),
    )
    per_bucket = per_cross.groupBy("bucket").agg(
        F.count("*").cast("long").alias("c_crosses"),
        F.sum("n_rows").cast("long").alias("b_rows"),
    )
    coll = F.when(F.col("c_crosses") > 1, F.col("c_crosses")).otherwise(F.lit(0))
    return per_bucket.agg(
        F.sum("c_crosses").cast("long").alias("n_crosses"),
        F.count("*").cast("long").alias("buckets_used"),
        F.sum(coll).cast("long").alias("colliding_crosses"),
        F.max("c_crosses").cast("long").alias("max_bucket_crosses"),
        F.sum(F.when(F.col("c_crosses") > 1, F.col("b_rows")).otherwise(F.lit(0)))
        .cast("long")
        .alias("rows_in_collisions"),
        F.round(
            F.sum(coll).cast("double") / F.sum("c_crosses"), 6
        ).alias("collision_rate"),
    )


# ---------------------------------------------------------------------------
# Hash k-fold assignment audit
# ---------------------------------------------------------------------------

_KFOLD_ORACLE = """
WITH lab AS (
  SELECT o.o_orderkey,
         CASE WHEN r.l_orderkey IS NULL THEN 0 ELSE 1 END AS pos
  FROM orders o
  LEFT JOIN (SELECT DISTINCT l_orderkey FROM lineitem
             WHERE l_returnflag = 'R') r
    ON o.o_orderkey = r.l_orderkey
),
f AS (
  SELECT pos,
         CAST(('0x' || substr(md5('fold:' || CAST(o_orderkey AS VARCHAR)), 1, 6))
              ::BIGINT % 5 AS BIGINT) AS fold
  FROM lab
),
per AS (
  SELECT fold,
         CAST(count(*) AS BIGINT) AS n_orders,
         CAST(sum(pos) AS BIGINT) AS n_pos
  FROM f GROUP BY fold
),
t AS (
  SELECT *,
         CAST(sum(n_pos) OVER () AS BIGINT) AS tot_pos,
         CAST(sum(n_orders) OVER () AS BIGINT) AS tot_n
  FROM per
)
SELECT fold, n_orders, n_pos,
       round(CAST(n_pos AS DOUBLE) / n_orders, 6) AS pos_rate,
       round(CAST(n_pos AS DOUBLE) / n_orders
             - CAST(tot_pos AS DOUBLE) / tot_n, 6) AS dev_from_base
FROM t
"""


@register("kfold_assignment_audit", oracle=_KFOLD_ORACLE, tags=("ml-eval", "agg"))
def kfold_assignment_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-based 5-fold CV assignment (md5 of the salted order key —
    append-stable, engine-portable, no RNG state) audited for label
    balance: per fold, the positive rate of the has-returned-line label
    and its deviation from the base rate. A fold whose deviation is
    large relative to sqrt(p(1-p)/n_fold) signals the hash is
    confounded with the label pathway — the audit a CV pipeline runs
    before trusting its variance estimates.

    Scale notes: fold assignment is a map-only expression on the scan;
    the label fold is the shared distinct-returned-orderkeys
    aggregation; everything after the 5-row fold frame is trivial.
    """
    o = _t(spark, sf_dir, "orders")
    ret = (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_returnflag") == "R")
        .select("l_orderkey")
        .distinct()
        .withColumn("pos1", F.lit(1))
    )
    lab = o.join(ret, o.o_orderkey == ret.l_orderkey, "left").select(
        "o_orderkey",
        F.coalesce(F.col("pos1"), F.lit(0)).alias("pos"),
    )
    f = lab.select(
        "pos",
        (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit("fold:"), F.col("o_orderkey").cast("string"))),
                    1,
                    6,
                ),
                16,
                10,
            ).cast("long")
            % 5
        )
        .cast("long")
        .alias("fold"),
    )
    per = f.groupBy("fold").agg(
        F.count("*").cast("long").alias("n_orders"),
        F.sum("pos").cast("long").alias("n_pos"),
    )
    w_all = Window.partitionBy()
    t = per.select(
        "fold",
        "n_orders",
        "n_pos",
        F.sum("n_pos").over(w_all).cast("long").alias("tot_pos"),
        F.sum("n_orders").over(w_all).cast("long").alias("tot_n"),
    )
    return t.select(
        "fold",
        "n_orders",
        "n_pos",
        F.round(F.col("n_pos").cast("double") / F.col("n_orders"), 6).alias(
            "pos_rate"
        ),
        F.round(
            F.col("n_pos").cast("double") / F.col("n_orders")
            - F.col("tot_pos").cast("double") / F.col("tot_n"),
            6,
        ).alias("dev_from_base"),
    )
