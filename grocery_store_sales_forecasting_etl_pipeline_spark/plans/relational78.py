"""Round-6 additions, batch 78: training-data pipeline operators —
a deterministic contrastive-pair sampler over the document corpus
(ring-hash candidate selection: every run, every engine, the same
positive/negative pairs — reproducible contrastive training data
without a random seed in sight), a label-noise screen over the
embedding table (k-NN consensus: vectors whose neighbors disagree
with their label are the mislabeling suspects every curation loop
triages), the brand repeat-purchase share (which brands RETAIN buyers
— the loyalty table), and the token bigram entropy rate of the corpus
(H(next|prev) — the compressibility/quality proxy that separates
natural text from boilerplate and from noise).

Determinism discipline: ring positions are md5-derived integers (the
repo's standard engine-portable hash), candidate selection is exact
rank arithmetic, consensus counts and repeat counts are exact
integers; the entropy folds follow the established
user_transition_entropy discipline (exact counts, c·ln c terms from
identical double trees, rounded at 4 — fold noise is 1e-16 against a
1e-4 grain).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from grocery_store_sales_forecasting_etl_pipeline_spark.plans._tables import table as _t
from grocery_store_sales_forecasting_etl_pipeline_spark.plans.registry import register
from grocery_store_sales_forecasting_etl_pipeline_spark.plans.scalerank import (
    bucketed_row_number,
)
from grocery_store_sales_forecasting_etl_pipeline_spark.operators.similarity import (
    exact_knn_block_gemm,
)

# ---------------------------------------------------------------------------
# Deterministic contrastive-pair sampler over documents
# ---------------------------------------------------------------------------

_RING_WINDOW = 20

_PAIRS_ORACLE = f"""
WITH ring AS (
  SELECT doc_id, lang,
         CAST(row_number() OVER (ORDER BY md5(CAST(doc_id AS VARCHAR)),
                                 doc_id) AS BIGINT) AS rnk
  FROM documents
),
offs AS (SELECT unnest(range(1, {_RING_WINDOW} + 1)) AS off),
cand AS (
  SELECT a.doc_id, a.lang, a.rnk, b.doc_id AS cand_id, b.lang AS cand_lang,
         o.off
  FROM ring a CROSS JOIN offs o
  JOIN ring b ON b.rnk = a.rnk + o.off
),
best AS (
  SELECT doc_id, lang,
         min(CASE WHEN cand_lang = lang THEN off END) AS pos_off,
         min(CASE WHEN cand_lang <> lang THEN off END) AS neg_off
  FROM cand GROUP BY doc_id, lang
),
pairs AS (
  SELECT b.doc_id, b.lang,
         max(CASE WHEN c.off = b.pos_off AND c.cand_lang = b.lang
                  THEN c.cand_id END) AS positive_id,
         max(b.pos_off) AS pos_off,
         max(CASE WHEN c.off = b.neg_off AND c.cand_lang <> b.lang
                  THEN c.cand_id END) AS negative_id,
         max(b.neg_off) AS neg_off
  FROM best b JOIN cand c ON b.doc_id = c.doc_id
  GROUP BY b.doc_id, b.lang
)
SELECT doc_id, lang, positive_id, CAST(pos_off AS BIGINT) AS pos_off,
       negative_id, CAST(neg_off AS BIGINT) AS neg_off
FROM pairs
WHERE positive_id IS NOT NULL AND negative_id IS NOT NULL
"""


@register("contrastive_pair_sampler", oracle=_PAIRS_ORACLE,
          tags=("text", "ml", "sampling"))
def contrastive_pair_sampler(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic contrastive training pairs over documents: place
    every doc on a ring ordered by md5(doc_id), and for each anchor
    take the NEAREST following ring neighbor of the same language as
    the positive and the nearest of a different language as the
    negative (search window {_RING_WINDOW}; anchors finding neither
    are dropped). The md5 ring is a seedless shuffle — uncorrelated
    with content, identical on every engine and every run — so the
    emitted training set is exactly reproducible, the property a
    random sampler only gets by threading seeds through every worker.

    Determinism: ring ranks are exact row numbers over (md5, doc_id);
    candidate offsets, the per-anchor argmins, and the pair pull-back
    are exact integer operations throughout.

    Scale notes: the ring join is equi on rank+offset (the anchor
    frame × {_RING_WINDOW} offsets — linear, never all-pairs); the
    ring ranks come from ``scalerank.bucketed_row_number`` over 1024
    md5-prefix buckets, so no step sorts the corpus in one task.
    Anchors near the ring's end may lack candidates (no wraparound) —
    documented.
    """
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.md5(F.col("doc_id").cast("string")).alias("_h")
    )
    # the first 8 hex digits as a number order the ring like the md5
    # string does; the full md5, then doc_id, break its ties
    docs = docs.withColumn("_hv", F.conv(F.substring("_h", 1, 8), 16, 10).cast("long"))
    ring = bucketed_row_number(
        docs, "_hv", ["_h", "doc_id"], coarse_div=1 << 22, rank_col="rnk"
    ).select("doc_id", "lang", "rnk")
    offs = spark.range(1, _RING_WINDOW + 1).select(F.col("id").cast("long").alias("off"))
    b = ring.select(
        F.col("rnk").alias("brnk"),
        F.col("doc_id").alias("cand_id"),
        F.col("lang").alias("cand_lang"),
    )
    cand = (
        ring.crossJoin(offs)
        .withColumn("brnk", F.col("rnk") + F.col("off"))
        .join(b, "brnk")
        .select("doc_id", "lang", "cand_id", "cand_lang", "off")
    )
    best = cand.groupBy("doc_id", "lang").agg(
        F.min(F.when(F.col("cand_lang") == F.col("lang"), F.col("off"))).alias("pos_off"),
        F.min(F.when(F.col("cand_lang") != F.col("lang"), F.col("off"))).alias("neg_off"),
    )
    pairs = (
        best.join(cand, ["doc_id", "lang"])
        .groupBy("doc_id", "lang")
        .agg(
            F.max(
                F.when(
                    (F.col("off") == F.col("pos_off"))
                    & (F.col("cand_lang") == F.col("lang")),
                    F.col("cand_id"),
                )
            ).alias("positive_id"),
            F.max("pos_off").cast("long").alias("pos_off"),
            F.max(
                F.when(
                    (F.col("off") == F.col("neg_off"))
                    & (F.col("cand_lang") != F.col("lang")),
                    F.col("cand_id"),
                )
            ).alias("negative_id"),
            F.max("neg_off").cast("long").alias("neg_off"),
        )
    )
    return pairs.filter(
        F.col("positive_id").isNotNull() & F.col("negative_id").isNotNull()
    ).select("doc_id", "lang", "positive_id", "pos_off", "negative_id", "neg_off")


# ---------------------------------------------------------------------------
# Embedding label-noise screen via k-NN consensus
# ---------------------------------------------------------------------------

_NOISE_ORACLE = """
WITH qd AS (
  SELECT vec_id, label, CAST(u AS BIGINT) AS dim,
         CAST(round(CAST(v AS DOUBLE) * 1000000) AS BIGINT) AS q
  FROM (
    SELECT vec_id, label,
           unnest(embedding) AS v,
           unnest(range(0, len(embedding))) AS u
    FROM embeddings
  )
),
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
),
cons AS (
  SELECT ia, max(la) AS label,
         CAST(sum(CASE WHEN la = lb THEN 1 ELSE 0 END) AS BIGINT) AS agree
  FROM nn WHERE rn <= 5 GROUP BY ia
)
SELECT label, CAST(count(*) AS BIGINT) AS n_vectors,
       CAST(sum(CASE WHEN agree <= 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_suspect,
       round(CAST(sum(agree) AS DOUBLE) / (5.0 * count(*)), 4)
         AS mean_consensus
FROM cons GROUP BY label
"""


@register("embedding_label_noise_screen", oracle=_NOISE_ORACLE,
          tags=("similarity", "ml", "audit"))
def embedding_label_noise_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-noise screen by 5-NN consensus: for each vector, count
    how many of its 5 nearest neighbors (exact quantized distances)
    share its label; vectors with ≤1 agreeing neighbor are flagged as
    mislabeling SUSPECTS, reported per label with the mean consensus.
    The confident-learning-style triage every labeled-data curation
    loop runs before training — embedding_1nn_label_accuracy grades
    the SPACE, this points at individual bad LABELS (a label whose
    class has high accuracy but a fat suspect count has a dirty
    annotation batch, not a bad embedding).

    Determinism: distances are exact integers on the 1e-6 grid; the
    top-5 ranks tie-break on vec_id; consensus counts are exact; one
    division per label.

    Scale notes: shares embedding_1nn_label_accuracy's block-grid GEMM
    (operators/similarity.exact_knn_block_gemm, k=5 — per-block top-5
    then a partitioned global top-5, identical exact integer distances
    at ~100× the dim-keyed self-join's throughput); the LSH/IVF bucket
    variants are the sub-brute-force scale path.
    """
    emb = _t(spark, sf_dir, "embeddings")
    nn = exact_knn_block_gemm(
        emb, id_col="vec_id", vec_col="embedding", label_col="label", k=5
    )
    cons = nn.groupBy("ia").agg(
        F.max("la").alias("label"),
        F.sum(F.when(F.col("la") == F.col("lb"), 1).otherwise(0))
        .cast("long")
        .alias("agree"),
    )
    return cons.groupBy("label").agg(
        F.count("*").cast("long").alias("n_vectors"),
        F.sum(F.when(F.col("agree") <= 1, 1).otherwise(0))
        .cast("long")
        .alias("n_suspect"),
        F.round(
            F.sum("agree").cast("double") / (F.lit(5.0) * F.count("*")), 4
        ).alias("mean_consensus"),
    )


# ---------------------------------------------------------------------------
# Brand repeat-purchase share
# ---------------------------------------------------------------------------

_REPEAT_ORACLE = """
WITH bc AS (
  SELECT p.p_brand AS brand, o.o_custkey AS cust,
         CAST(count(DISTINCT l.l_orderkey) AS BIGINT) AS n_orders
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN part p ON l.l_partkey = p.p_partkey
  GROUP BY brand, cust
)
SELECT brand, CAST(count(*) AS BIGINT) AS n_customers,
       CAST(sum(CASE WHEN n_orders >= 2 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_repeat,
       round(CAST(sum(CASE WHEN n_orders >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*), 6) AS repeat_share,
       round(avg(CAST(n_orders AS DOUBLE)), 4) AS avg_orders_per_customer
FROM bc GROUP BY brand
"""


@register("brand_repeat_share", oracle=_REPEAT_ORACLE, tags=("stats",))
def brand_repeat_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brand loyalty table: per brand, the share of its buyers who
    purchased it in TWO OR MORE distinct orders, plus the average
    orders per buyer. A high-revenue brand with a low repeat share is
    acquisition-driven (fragile); a modest brand with a high repeat
    share is a retention asset — empirical_bayes_return_rates reads
    quality risk, this reads attachment.

    Determinism: the (brand, customer) distinct-order counts are
    exact integers; shares and the average divide once (avg over
    ≤customers-per-brand integer counts — exact-int-derived doubles,
    1e-16 fold noise against a 1e-4 grain).

    Scale notes: the fact joins the order custkey (shuffle on
    orderkey) and the broadcast brand projection, then folds map-side
    to the (brand × customer) grain and again to 25 brand rows.
    """
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    bc = (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(p, F.col("l_partkey") == F.col("p_partkey"))
        .groupBy(F.col("p_brand").alias("brand"), F.col("o_custkey").alias("cust"))
        .agg(F.countDistinct("l_orderkey").cast("long").alias("n_orders"))
    )
    return bc.groupBy("brand").agg(
        F.count("*").cast("long").alias("n_customers"),
        F.sum(F.when(F.col("n_orders") >= 2, 1).otherwise(0))
        .cast("long")
        .alias("n_repeat"),
        F.round(
            F.sum(F.when(F.col("n_orders") >= 2, 1).otherwise(0)).cast("double")
            / F.count("*"),
            6,
        ).alias("repeat_share"),
        F.round(F.avg(F.col("n_orders").cast("double")), 4).alias(
            "avg_orders_per_customer"
        ),
    )


# ---------------------------------------------------------------------------
# Token bigram entropy rate of the corpus
# ---------------------------------------------------------------------------

_BIGRAM_ENTROPY_ORACLE = """
WITH tok AS (
  SELECT doc_id, u AS pos, t AS token
  FROM (
    SELECT doc_id,
           unnest(string_split_regex(trim(text), '\\s+')) AS t,
           unnest(range(0, len(string_split_regex(trim(text), '\\s+'))))
             AS u
    FROM documents
  ) WHERE t <> ''
),
bg AS (
  SELECT token AS w1,
         lead(token) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
  FROM tok QUALIFY w2 IS NOT NULL
),
uni AS (
  SELECT w1, CAST(count(*) AS BIGINT) AS c FROM bg GROUP BY w1
),
big AS (
  SELECT w1, w2, CAST(count(*) AS BIGINT) AS c FROM bg GROUP BY w1, w2
),
s AS (
  SELECT (SELECT CAST(sum(c) AS BIGINT) FROM uni) AS n,
         (SELECT sum(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE))) FROM uni)
           AS uclc,
         (SELECT sum(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE))) FROM big)
           AS bclc,
         (SELECT CAST(count(*) AS BIGINT) FROM uni) AS v1,
         (SELECT CAST(count(*) AS BIGINT) FROM big) AS v2
)
SELECT n AS n_bigrams, v1 AS vocab_unigram, v2 AS vocab_bigram,
       round(ln(CAST(n AS DOUBLE)) - uclc / n, 4) AS h_unigram,
       round((ln(CAST(n AS DOUBLE)) - bclc / n)
             - (ln(CAST(n AS DOUBLE)) - uclc / n), 4) AS entropy_rate,
       round(1.0 - ((ln(CAST(n AS DOUBLE)) - bclc / n)
                    - (ln(CAST(n AS DOUBLE)) - uclc / n))
                   / (ln(CAST(n AS DOUBLE)) - uclc / n), 4) AS redundancy
FROM s
"""


@register("token_bigram_entropy_rate", oracle=_BIGRAM_ENTROPY_ORACLE,
          tags=("text", "stats"))
def token_bigram_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token bigram entropy rate of the corpus: H(next | prev) =
    H(bigram) − H(first-token marginal) over within-document adjacent
    token pairs, with the redundancy 1 − H(next|prev)/H(unigram) —
    the compressibility proxy that separates natural prose
    (redundancy well above 0) from shuffled-token noise (near 0) and
    from boilerplate (near 1). The corpus-level quality gate a
    training-data pipeline applies before paying to train on text;
    doc_bigram_surprisal scores individual documents, this scores the
    CORPUS.

    Determinism: bigram and marginal counts are exact integers; each
    entropy uses the log-sum form ln N − (Σc·ln c)/N with
    exact-integer-derived c·ln c terms (fold noise 1e-16 against the
    1e-4 rounding grain — the user_transition_entropy discipline).

    Scale notes: the token explosion folds map-side to the
    vocabulary-bounded bigram and marginal frames; the three folds
    after are frame-bounded. One documents scan.
    """
    docs = _t(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        F.posexplode(F.split(F.trim("text"), r"\s+")).alias("pos", "token"),
    ).filter(F.col("token") != "")
    w = Window.partitionBy("doc_id").orderBy("pos")
    bg = tok.select(
        F.col("token").alias("w1"),
        F.lead("token").over(w).alias("w2"),
    # A/B sf1: 2.81 s with, 3.31 s without
    ).filter(F.col("w2").isNotNull()).localCheckpoint(eager=False)
    uni = bg.groupBy("w1").agg(F.count("*").cast("long").alias("c"))
    big = bg.groupBy("w1", "w2").agg(F.count("*").cast("long").alias("c"))
    clc = F.sum(F.col("c").cast("double") * F.log(F.col("c").cast("double")))
    s = (
        uni.agg(
            F.sum("c").cast("long").alias("n"),
            clc.alias("uclc"),
            F.count("*").cast("long").alias("v1"),
        )
        .crossJoin(big.agg(clc.alias("bclc"), F.count("*").cast("long").alias("v2")))
    )
    n_d = F.col("n").cast("double")
    h1 = F.log(n_d) - F.col("uclc") / F.col("n")
    h2 = F.log(n_d) - F.col("bclc") / F.col("n")
    rate = h2 - h1
    return s.select(
        F.col("n").alias("n_bigrams"),
        F.col("v1").alias("vocab_unigram"),
        F.col("v2").alias("vocab_bigram"),
        F.round(h1, 4).alias("h_unigram"),
        F.round(rate, 4).alias("entropy_rate"),
        F.round(F.lit(1.0) - rate / h1, 4).alias("redundancy"),
    )
