"""Round-5 additions, batch 21: promotion revenue share (TPC-H Q14
shape), idle high-balance customers (TPC-H Q22 shape), corpus-global
boilerplate detection, and a MinHash estimator-accuracy audit.

The first two close out the classic TPC-H query shapes expressible on
this dataset (conditional share over a fact-dim join; scalar-subquery
threshold + anti-join). The last two extend the training-data surface:
CCNet-style boilerplate flagging by corpus document frequency, and the
sketch-accuracy audit (estimated vs exact Jaccard on LSH candidates)
that every production dedup pipeline runs before trusting its bands.

Determinism discipline as everywhere: money in exact integer
centi-cents, thresholds as integer cross-multiplications, floats only
as one closed-form expression over exact integers at the boundary.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

import grocery_store_sales_forecasting_etl_pipeline_spark.operators.dedup as dd
from grocery_store_sales_forecasting_etl_pipeline_spark.plans._tables import table as _t
from grocery_store_sales_forecasting_etl_pipeline_spark.plans.registry import register

# ---------------------------------------------------------------------------
# Promotion revenue share (TPC-H Q14 shape)
# ---------------------------------------------------------------------------

# Revenue in exact integer "centi-cents": round(extprice*100) carries
# the 2 price decimals, (100 - round(discount*100)) the 2 discount
# decimals — the product is an exact 4-implied-decimal integer, so the
# per-month sums are order-independent. Headroom: |row| <= 1e9, so the
# BIGINT sum holds to ~1e9 rows per month; beyond that accumulate in
# DECIMAL(38,0) (see BASELINE.md ANSI-overflow note).
_PROMO_ORACLE = """
WITH r AS (
  SELECT CAST(year(l_shipdate) * 100 + month(l_shipdate) AS BIGINT) AS ship_month,
         p_type,
         CAST(round(l_extendedprice * 100) AS BIGINT)
           * (100 - CAST(round(l_discount * 100) AS BIGINT)) AS ccents
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
    AND l_shipdate <  TIMESTAMP '1998-01-01'
)
SELECT ship_month,
       CAST(sum(CASE WHEN p_type = 'PROMO' THEN ccents ELSE 0 END) AS BIGINT)
         AS promo_ccents,
       CAST(sum(ccents) AS BIGINT) AS total_ccents,
       round(sum(CASE WHEN p_type = 'PROMO' THEN ccents ELSE 0 END) * 1.0
             / sum(ccents), 4) AS promo_share
FROM r
GROUP BY ship_month
"""


@register("promo_revenue_share", oracle=_PROMO_ORACLE, tags=("join", "agg"))
def promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: per ship-month of 1997, the fraction of
    discounted revenue coming from PROMO-type parts — a conditional
    share over a fact-dim join.

    Scale notes: the ship-date filter pushes to the parquet scan; part
    is the small side and broadcasts (fact never shuffles for the
    join); the month group-by aggregates with map-side partials into
    ~12 rows. The share is one float division over two exact integer
    sums, computed once per output row.
    """
    li = _t(spark, sf_dir, "lineitem")
    pt = _t(spark, sf_dir, "part")
    r = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
        )
        .join(pt.select("p_partkey", "p_type"), li.l_partkey == pt.p_partkey)
        .select(
            (F.year("l_shipdate") * 100 + F.month("l_shipdate"))
            .cast("long")
            .alias("ship_month"),
            "p_type",
            (
                F.round(F.col("l_extendedprice") * 100).cast("long")
                * (F.lit(100) - F.round(F.col("l_discount") * 100).cast("long"))
            ).alias("ccents"),
        )
    )
    promo = F.sum(F.when(F.col("p_type") == "PROMO", F.col("ccents")).otherwise(F.lit(0)))
    total = F.sum("ccents")
    return r.groupBy("ship_month").agg(
        promo.cast("long").alias("promo_ccents"),
        total.cast("long").alias("total_ccents"),
        F.round(promo * 1.0 / total, 4).alias("promo_share"),
    )


# ---------------------------------------------------------------------------
# Idle high-balance customers (TPC-H Q22 shape)
# ---------------------------------------------------------------------------

# The above-average test is the integer cross-multiplication
# cents * n_pos > sum_cents — exact in both engines, no float average
# whose last-ulp could flip a boundary customer.
_IDLE_ORACLE = """
WITH bal AS (
  SELECT c_custkey, c_mktsegment,
         CAST(round(c_acctbal * 100) AS BIGINT) AS cents
  FROM customer
),
stats AS (
  SELECT CAST(sum(cents) AS BIGINT) AS s, CAST(count(*) AS BIGINT) AS c
  FROM bal WHERE cents > 0
),
idle AS (
  SELECT b.c_mktsegment, b.cents
  FROM bal b, stats
  WHERE b.cents * stats.c > stats.s
    AND NOT EXISTS (
      SELECT 1 FROM orders o
      WHERE o.o_custkey = b.c_custkey
        AND o.o_orderdate >= TIMESTAMP '2000-01-01'
    )
)
SELECT c_mktsegment,
       CAST(count(*) AS BIGINT) AS n_customers,
       CAST(sum(cents) AS BIGINT) AS total_cents
FROM idle
GROUP BY c_mktsegment
"""


@register("idle_customer_balance", oracle=_IDLE_ORACLE, tags=("join", "agg"))
def idle_customer_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: customers whose account balance is above the
    positive-balance average but who have placed no order since
    2000-01-01, counted and totalled per market segment — the
    scalar-subquery threshold + anti-join pattern.

    Scale notes: the threshold is a 1-row broadcast (no second scan of
    the filtered side — the stats frame reuses the bal projection);
    the anti-join shuffles on custkey with the date filter pushed to
    the orders scan, so only post-cutoff orders ever reach the join; the
    segment rollup is a few-row map-side aggregate.
    """
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    bal = cust.select(
        "c_custkey",
        "c_mktsegment",
        F.round(F.col("c_acctbal") * 100).cast("long").alias("cents"),
    )
    stats = bal.filter(F.col("cents") > 0).agg(
        F.sum("cents").cast("long").alias("s"), F.count("*").cast("long").alias("c")
    )
    recent = orders.filter(
        F.col("o_orderdate") >= F.lit("2000-01-01 00:00:00").cast("timestamp")
    ).select(F.col("o_custkey").alias("c_custkey"))
    idle = (
        bal.crossJoin(stats)
        .filter(F.col("cents") * F.col("c") > F.col("s"))
        .join(recent, "c_custkey", "left_anti")
    )
    return idle.groupBy("c_mktsegment").agg(
        F.count("*").cast("long").alias("n_customers"),
        F.sum("cents").cast("long").alias("total_cents"),
    )


# ---------------------------------------------------------------------------
# Corpus-global boilerplate flags (CCNet-style DF screen)
# ---------------------------------------------------------------------------

# A shingle is boilerplate when it appears in >= 1% of ALL documents —
# a FRACTION, not an absolute count, so the screen is scale-invariant
# (the Q18 selectivity lesson). Integer cross-multiply: df * 100 >= n.
_BOILER_ORACLE = """
WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
sh AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(range(1, len(tk)),
                i -> tk[i] || ' ' || tk[i + 1]))) AS shingle
  FROM t
),
n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
df AS (SELECT shingle, CAST(count(*) AS BIGINT) AS df FROM sh GROUP BY shingle)
SELECT sh.doc_id,
       CAST(count(*) AS BIGINT) AS n_grams,
       CAST(sum(CASE WHEN df.df * 100 >= n.n_docs THEN 1 ELSE 0 END) AS BIGINT)
         AS n_boiler,
       round(sum(CASE WHEN df.df * 100 >= n.n_docs THEN 1 ELSE 0 END) * 1.0
             / count(*), 4) AS boiler_pct
FROM sh JOIN df ON sh.shingle = df.shingle, n
GROUP BY sh.doc_id
"""


@register("doc_boilerplate_flags", oracle=_BOILER_ORACLE, tags=("text", "quality"))
def doc_boilerplate_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style boilerplate screen: a word-bigram shingle is
    boilerplate when it appears in at least 1% of all documents; each
    document reports its distinct-shingle count, boilerplate-shingle
    count, and boilerplate fraction — the pre-training curation signal
    for template/navigation text.

    Scale notes: the DF frame is vocabulary-sized (grams, not
    documents) and joins back to the shingle frame on the shingle key
    — at corpus scale that join shuffles both sides on the gram, the
    same Σ-df cost shape as the inverted index; the doc-grain rollup
    then reuses nothing wider than (doc_id, flag). The 1% threshold is
    a fraction of the corpus (integer cross-multiplied against a 1-row
    broadcast count), so the screen's selectivity is scale-invariant.
    The wide exploded shingle frame is recomputed per consumer, not
    checkpointed (BASELINE.md r5 wide-frame rule).
    """
    d = _t(spark, sf_dir, "documents")
    t = d.select("doc_id", F.split("text", " ").alias("tk"))
    sh = (
        t.select(
            "doc_id",
            F.explode_outer(
                F.array_distinct(
                    F.expr(
                        "transform(sequence(1, size(tk) - 1), "
                        "i -> concat(element_at(tk, i), ' ', element_at(tk, i + 1)))"
                    )
                )
            ).alias("shingle"),
        )
        .filter(F.col("shingle").isNotNull())
        .withColumn("shingle", F.xxhash64("shingle"))
    )
    n = d.agg(F.count("*").cast("long").alias("n_docs"))
    df_frame = sh.groupBy("shingle").agg(F.count("*").cast("long").alias("df"))
    flagged = sh.join(df_frame, "shingle").crossJoin(n)
    boiler = F.sum(
        F.when(F.col("df") * 100 >= F.col("n_docs"), F.lit(1)).otherwise(F.lit(0))
    )
    return flagged.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_grams"),
        boiler.cast("long").alias("n_boiler"),
        F.round(boiler * 1.0 / F.count("*"), 4).alias("boiler_pct"),
    )


# ---------------------------------------------------------------------------
# MinHash estimator-accuracy audit
# ---------------------------------------------------------------------------

_N_HASHES = 8
_BAND_SIZE = 2


def _minhash_audit_sql() -> str:
    sig_cols = ", ".join(
        f"min(md5('{i}:' || shingle)) AS mh_{i}" for i in range(_N_HASHES)
    )
    n_bands = _N_HASHES // _BAND_SIZE
    band_selects = " UNION ALL ".join(
        "SELECT doc_id, {bi} AS band_idx, md5({concat}) AS band_hash FROM sig".format(
            bi=bi,
            concat=" || '|' || ".join(
                f"mh_{bi * _BAND_SIZE + j}" for j in range(_BAND_SIZE)
            ),
        )
        for bi in range(n_bands)
    )
    match_sum = " + ".join(
        f"(CASE WHEN sa.mh_{i} = sb.mh_{i} THEN 1 ELSE 0 END)" for i in range(_N_HASHES)
    )
    return f"""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
sh AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(range(1, len(tk)),
                i -> tk[i] || ' ' || tk[i + 1]))) AS shingle
  FROM t
),
sig AS (SELECT doc_id, {sig_cols} FROM sh GROUP BY doc_id),
bands AS ({band_selects}),
pairs AS (
  SELECT DISTINCT a.doc_id AS id_1, b.doc_id AS id_2
  FROM bands a
  JOIN bands b ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
              AND a.doc_id < b.doc_id
),
inter AS (
  SELECT p.id_1, p.id_2, CAST(count(*) AS BIGINT) AS inter
  FROM pairs p
  JOIN sh a ON a.doc_id = p.id_1
  JOIN sh b ON b.doc_id = p.id_2 AND b.shingle = a.shingle
  GROUP BY p.id_1, p.id_2
),
sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS sz FROM sh GROUP BY doc_id)
SELECT p.id_1, p.id_2,
       CAST({match_sum} AS BIGINT) AS mh_matches,
       coalesce(i.inter, 0) AS inter,
       s1.sz + s2.sz - coalesce(i.inter, 0) AS union_sz,
       round(abs(({match_sum}) * (s1.sz + s2.sz - coalesce(i.inter, 0))
                 - {_N_HASHES} * coalesce(i.inter, 0)) * 1.0
             / ({_N_HASHES} * (s1.sz + s2.sz - coalesce(i.inter, 0))), 4) AS abs_err
FROM pairs p
JOIN sig sa ON sa.doc_id = p.id_1
JOIN sig sb ON sb.doc_id = p.id_2
LEFT JOIN inter i ON i.id_1 = p.id_1 AND i.id_2 = p.id_2
JOIN sizes s1 ON s1.doc_id = p.id_1
JOIN sizes s2 ON s2.doc_id = p.id_2
"""


@register("minhash_accuracy_audit", oracle=_minhash_audit_sql(), tags=("text", "dedup"))
def minhash_accuracy_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-accuracy audit for the MinHash-LSH dedup path: for every
    banded candidate pair, the number of matching signature components
    (the estimator) next to the EXACT shingle intersection and union,
    and the absolute error |m/8 − inter/union| — the calibration a
    production pipeline runs before trusting its band thresholds.

    Scale notes: the candidate list is banding-bounded (Σ bucket²,
    never n²), so the exact-verification joins fan the corpus shingle
    frame out only along surviving pairs — the same verify-the-sliver
    shape as near_dup_verify. Signature/size frames are doc-grain.
    All comparisons are integer; the single float division happens
    once per output row from exact integers.
    """
    d = _t(spark, sf_dir, "documents")
    sigs = dd.minhash_signatures(d, "doc_id", "text", k=2, n_hashes=_N_HASHES)
    cands = dd.lsh_candidate_pairs(sigs, "doc_id", n_hashes=_N_HASHES, band_size=_BAND_SIZE)

    t = d.select("doc_id", F.split("text", " ").alias("tk"))
    sh = (
        t.select(
            "doc_id",
            F.explode_outer(
                F.array_distinct(
                    F.expr(
                        "transform(sequence(1, size(tk) - 1), "
                        "i -> concat(element_at(tk, i), ' ', element_at(tk, i + 1)))"
                    )
                )
            ).alias("shingle"),
        )
        .filter(F.col("shingle").isNotNull())
        .withColumn("shingle", F.xxhash64("shingle"))
    )
    sizes = sh.groupBy("doc_id").agg(F.count("*").cast("long").alias("sz"))

    sa = sigs.select(
        F.col("doc_id").alias("id_1"), *[F.col(f"mh_{i}").alias(f"a_{i}") for i in range(_N_HASHES)]
    )
    sb = sigs.select(
        F.col("doc_id").alias("id_2"), *[F.col(f"mh_{i}").alias(f"b_{i}") for i in range(_N_HASHES)]
    )
    match_sum = sum(
        F.when(F.col(f"a_{i}") == F.col(f"b_{i}"), 1).otherwise(0)
        for i in range(_N_HASHES)
    )

    shb = sh.select(
        F.col("doc_id").alias("b_doc"), F.col("shingle").alias("shingle_b")
    )
    inter = (
        cands.join(sh.select(F.col("doc_id").alias("id_1"), "shingle"), "id_1")
        .join(
            shb,
            (F.col("id_2") == F.col("b_doc"))
            & (F.col("shingle") == F.col("shingle_b")),
        )
        .groupBy("id_1", "id_2")
        .agg(F.count("*").cast("long").alias("inter"))
    )
    joined = (
        cands.join(sa, "id_1")
        .join(sb, "id_2")
        .join(inter, ["id_1", "id_2"], "left")
        .join(sizes.select(F.col("doc_id").alias("id_1"), F.col("sz").alias("sz1")), "id_1")
        .join(sizes.select(F.col("doc_id").alias("id_2"), F.col("sz").alias("sz2")), "id_2")
        .withColumn("inter", F.coalesce(F.col("inter"), F.lit(0)))
        .withColumn("union_sz", F.col("sz1") + F.col("sz2") - F.col("inter"))
    )
    m = match_sum
    return joined.select(
        "id_1",
        "id_2",
        m.cast("long").alias("mh_matches"),
        "inter",
        "union_sz",
        F.round(
            F.abs(m * F.col("union_sz") - _N_HASHES * F.col("inter"))
            * 1.0
            / (_N_HASHES * F.col("union_sz")),
            4,
        ).alias("abs_err"),
    )
