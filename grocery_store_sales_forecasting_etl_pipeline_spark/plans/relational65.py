"""Round-6 additions, batch 65: corpus keyword induction and linkage
audits — Dunning log-likelihood-ratio keywords per language (the
G²-test keyword extractor that corpus pipelines use where PMI
over-rewards rare terms), Chao1 vocabulary-richness estimation per
language (how much vocabulary the sample HASN'T seen — the coverage
planner's capture-recapture twin for words), a record-linkage blocking
quality audit (reduction ratio + largest-block share of a candidate
blocking key — the metric that decides whether fuzzy matching is
feasible before any pair is compared), and week-over-week Jaccard
stability of the top-10 revenue brands (is the leaderboard signal or
churn — the rank-stability metric behind trending/alerting).

Determinism discipline: LLR expected counts are exact integer products
compared/divided inside ONE textually identical double tree (ln only
over a ratio of doubles, same shape both engines); the
overrepresentation gate cross-multiplies DECIMAL integers, never
rates; Chao1 and blocking are pure integer folds with one division at
the boundary; top-k brand ranks are exact integer revenue-cents ranks
with brand tie-breaks — no float ever enters a rank.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from grocery_store_sales_forecasting_etl_pipeline_spark.plans._tables import table as _t
from grocery_store_sales_forecasting_etl_pipeline_spark.plans.registry import register

# ---------------------------------------------------------------------------
# Dunning LLR keywords per language
# ---------------------------------------------------------------------------

_LLR_ORACLE = """
WITH tok AS (
  SELECT lang, unnest(string_split_regex(trim(text), '\\s+')) AS token
  FROM documents WHERE text IS NOT NULL AND trim(text) <> ''
),
tl AS (
  SELECT lang, token, CAST(count(*) AS BIGINT) AS a
  FROM tok GROUP BY lang, token
),
lt AS (
  SELECT lang, CAST(sum(a) AS BIGINT) AS big_a FROM tl GROUP BY lang
),
tt AS (
  SELECT token, CAST(sum(a) AS BIGINT) AS cf FROM tl GROUP BY token
),
gt AS (SELECT CAST(sum(a) AS BIGINT) AS n FROM tl),
j AS (
  SELECT tl.lang, tl.token, tl.a, tt.cf - tl.a AS b,
         lt.big_a, gt.n - lt.big_a AS big_b, gt.n AS n
  FROM tl JOIN tt ON tl.token = tt.token
  JOIN lt ON tl.lang = lt.lang CROSS JOIN gt
),
g2 AS (
  SELECT lang, token, a, b,
         round(2.0 * (
           CASE WHEN a > 0 THEN CAST(a AS DOUBLE)
             * ln((CAST(a AS DOUBLE) * n) / (CAST(big_a AS DOUBLE) * (a + b)))
             ELSE 0.0 END
           + CASE WHEN b > 0 THEN CAST(b AS DOUBLE)
             * ln((CAST(b AS DOUBLE) * n) / (CAST(big_b AS DOUBLE) * (a + b)))
             ELSE 0.0 END), 4) AS llr_g2
  FROM j
  WHERE CAST(a AS HUGEINT) * big_b > CAST(b AS HUGEINT) * big_a
),
rk AS (
  SELECT lang, token, a AS cf_in, b AS cf_out, llr_g2,
         CAST(row_number() OVER (PARTITION BY lang
              ORDER BY llr_g2 DESC, token) AS BIGINT) AS rnk
  FROM g2
)
SELECT lang, token, cf_in, cf_out, llr_g2, rnk
FROM rk WHERE rnk <= 10
"""


@register("lang_llr_keywords", oracle=_LLR_ORACLE, tags=("text",))
def lang_llr_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dunning log-likelihood-ratio keywords: for each language, the
    10 tokens whose frequency inside that language most exceeds their
    frequency elsewhere, scored by the G² statistic
    2·(a·ln(a·N/(A·(a+b))) + b·ln(b·N/(B·(a+b)))) over the 2×2
    contingency of (token, language). The keyword extractor corpus
    pipelines prefer over PMI (bigram_pmi_topk) because G² scales with
    evidence instead of exploding on hapaxes — cf. Dunning (1993).

    Determinism: counts a, b, A, B, N are exact BIGINTs; the
    overrepresentation gate a·B > b·A cross-multiplies in
    HUGEINT/DECIMAL (never compares float rates); G² is ONE textually
    identical double tree (ln over a ratio of doubles) rounded to 4
    decimals BEFORE ranking, with token as the tie-break — the
    round-then-rank idiom of doc_query_likelihood_topk.

    Scale notes: the (lang, token) fold is the postings shape with
    map-side partials; token totals and language totals are
    vocab-bounded and 5-row frames; the rank window partitions by
    language over the keyword-candidate sliver. One tokenize pass.
    """
    d = _t(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull() & (F.trim("text") != "")
    )
    tok = d.select(
        "lang", F.explode_outer(F.split(F.trim("text"), r"\s+")).alias("token")
    ).filter(F.col("token").isNotNull())
    tl = tok.groupBy("lang", "token").agg(F.count("*").cast("long").alias("a"))
    tl = tl.localCheckpoint(eager=False)  # A/B sf1: 0.73 s with, 0.99 s without
    lt = tl.groupBy("lang").agg(F.sum("a").cast("long").alias("big_a"))
    tt = tl.groupBy("token").agg(F.sum("a").cast("long").alias("cf"))
    gt = tl.agg(F.sum("a").cast("long").alias("n"))
    dec = "decimal(38,0)"
    j = (
        tl.join(tt, "token")
        .join(lt, "lang")
        .crossJoin(gt)
        .select(
            "lang",
            "token",
            "a",
            (F.col("cf") - F.col("a")).alias("b"),
            "big_a",
            (F.col("n") - F.col("big_a")).alias("big_b"),
            "n",
        )
    )
    a_d = F.col("a").cast("double")
    b_d = F.col("b").cast("double")
    g2 = (
        j.filter(
            F.col("a").cast(dec) * F.col("big_b")
            > F.col("b").cast(dec) * F.col("big_a")
        )
        .select(
            "lang",
            "token",
            "a",
            "b",
            F.round(
                F.lit(2.0)
                * (
                    F.when(
                        F.col("a") > 0,
                        a_d
                        * F.log(
                            (a_d * F.col("n"))
                            / (F.col("big_a").cast("double") * (F.col("a") + F.col("b")))
                        ),
                    ).otherwise(0.0)
                    + F.when(
                        F.col("b") > 0,
                        b_d
                        * F.log(
                            (b_d * F.col("n"))
                            / (F.col("big_b").cast("double") * (F.col("a") + F.col("b")))
                        ),
                    ).otherwise(0.0)
                ),
                4,
            ).alias("llr_g2"),
        )
    )
    rk = g2.select(
        "lang",
        "token",
        F.col("a").alias("cf_in"),
        F.col("b").alias("cf_out"),
        "llr_g2",
        F.row_number()
        .over(Window.partitionBy("lang").orderBy(F.desc("llr_g2"), F.asc("token")))
        .cast("long")
        .alias("rnk"),
    )
    return rk.filter(F.col("rnk") <= 10)


# ---------------------------------------------------------------------------
# Chao1 vocabulary richness per language
# ---------------------------------------------------------------------------

_CHAO1_ORACLE = """
WITH tok AS (
  SELECT lang, unnest(string_split_regex(trim(text), '\\s+')) AS token
  FROM documents WHERE text IS NOT NULL AND trim(text) <> ''
),
cf AS (
  SELECT lang, token, CAST(count(*) AS BIGINT) AS cf
  FROM tok GROUP BY lang, token
),
s AS (
  SELECT lang,
         CAST(count(*) AS BIGINT) AS v_obs,
         CAST(sum(CASE WHEN cf = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
         CAST(sum(CASE WHEN cf = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2,
         CAST(sum(cf) AS BIGINT) AS n_tokens
  FROM cf GROUP BY lang
)
SELECT lang, n_tokens, v_obs, f1, f2,
       round(v_obs + CAST(f1 AS DOUBLE) * (f1 - 1) / (2.0 * (f2 + 1)), 2)
         AS chao1,
       round(1.0 - CAST(f1 AS DOUBLE) / n_tokens, 6) AS good_turing_coverage
FROM s
"""


@register("lang_vocab_chao1", oracle=_CHAO1_ORACLE, tags=("text",))
def lang_vocab_chao1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chao1 nonparametric vocabulary-richness estimate per language:
    V̂ = V_obs + f1(f1−1)/(2(f2+1)) from singleton/doubleton counts
    (bias-corrected form), plus the Good-Turing coverage 1 − f1/N —
    how much of the language's vocabulary the corpus has actually
    captured. customer_capture_recapture asks this about ENTITIES via
    two samples; Chao1 asks it about VOCABULARY from one sample's
    abundance spectrum — the pre-training corpus question "will more
    of this source still teach new words?".

    Determinism: v_obs, f1, f2, N are exact BIGINT folds over the
    (lang, token) frequency frame; Chao1 and coverage are single
    divisions at the output boundary.

    Scale notes: one tokenize pass to the postings-shaped (lang,
    token) fold with map-side partials; the abundance fold is
    vocab-bounded; output is 5 rows. No joins at all.
    """
    d = _t(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull() & (F.trim("text") != "")
    )
    tok = d.select(
        "lang", F.explode_outer(F.split(F.trim("text"), r"\s+")).alias("token")
    ).filter(F.col("token").isNotNull())
    cf = tok.groupBy("lang", "token").agg(F.count("*").cast("long").alias("cf"))
    s = cf.groupBy("lang").agg(
        F.count("*").cast("long").alias("v_obs"),
        F.sum(F.when(F.col("cf") == 1, 1).otherwise(0)).cast("long").alias("f1"),
        F.sum(F.when(F.col("cf") == 2, 1).otherwise(0)).cast("long").alias("f2"),
        F.sum("cf").cast("long").alias("n_tokens"),
    )
    chao1 = F.col("v_obs") + F.col("f1").cast("double") * (F.col("f1") - 1) / (
        F.lit(2.0) * (F.col("f2") + 1)
    )
    cov = F.lit(1.0) - F.col("f1").cast("double") / F.col("n_tokens")
    return s.select(
        "lang",
        "n_tokens",
        "v_obs",
        "f1",
        "f2",
        F.round(chao1, 2).alias("chao1"),
        F.round(cov, 6).alias("good_turing_coverage"),
    )


# ---------------------------------------------------------------------------
# Record-linkage blocking quality audit
# ---------------------------------------------------------------------------

_BLOCKING_ORACLE = """
WITH b AS (
  SELECT c_nationkey, c_mktsegment, CAST(count(*) AS BIGINT) AS sz
  FROM customer GROUP BY c_nationkey, c_mktsegment
),
s AS (
  SELECT CAST(sum(sz) AS BIGINT) AS n,
         CAST(count(*) AS BIGINT) AS n_blocks,
         CAST(sum(CAST(sz AS HUGEINT) * (sz - 1) / 2) AS DECIMAL(38,0))
           AS candidate_pairs,
         CAST(max(sz) AS BIGINT) AS max_block
  FROM b
)
SELECT n AS n_records, n_blocks, candidate_pairs,
       CAST(CAST(n AS HUGEINT) * (n - 1) / 2 AS DECIMAL(38,0)) AS total_pairs,
       round(1.0 - CAST(candidate_pairs AS DOUBLE)
             / (CAST(n AS DOUBLE) * (n - 1) / 2.0), 6) AS reduction_ratio,
       max_block,
       round(CAST(max_block AS DOUBLE) / n, 6) AS max_block_share
FROM s
"""


@register("blocking_quality_audit", oracle=_BLOCKING_ORACLE,
          tags=("dedup", "audit"))
def blocking_quality_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Record-linkage blocking audit for the (nation, market segment)
    candidate blocking key on customers: the reduction ratio
    1 − Σ_b C(sz_b,2)/C(n,2) (what fraction of the all-pairs
    comparison space the blocking eliminates) and the largest-block
    share (the skew that decides whether the surviving comparisons
    parallelize). The go/no-go arithmetic run BEFORE any fuzzy matcher
    (fuzzy_name_pairs, near_dup_verify) is launched — a blocking key
    with RR < 0.99 or one giant block means the match job is
    infeasible at scale, and this query is how you find out for the
    price of one GROUP BY.

    Determinism: block sizes are exact BIGINTs; pair counts
    sz(sz−1)/2 accumulate in HUGEINT/DECIMAL(38,0) (sz² crosses BIGINT
    once a block passes ~4.3e9 records); RR and share are single
    divisions rounded at the boundary.

    Scale notes: one scan, one keyed fold with map-side partials, one
    1-row global fold. The all-pairs denominator is computed
    arithmetically, never materialized — the entire audit costs
    O(distinct blocks).
    """
    c = _t(spark, sf_dir, "customer")
    dec = "decimal(38,0)"
    b = c.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count("*").cast("long").alias("sz")
    )
    s = b.agg(
        F.sum("sz").cast("long").alias("n"),
        F.count("*").cast("long").alias("n_blocks"),
        F.sum(F.col("sz").cast(dec) * (F.col("sz") - 1) / 2)
        .cast(dec)
        .alias("candidate_pairs"),
        F.max("sz").cast("long").alias("max_block"),
    )
    n_d = F.col("n").cast("double")
    return s.select(
        F.col("n").alias("n_records"),
        "n_blocks",
        "candidate_pairs",
        (F.col("n").cast(dec) * (F.col("n") - 1) / 2).cast(dec).alias("total_pairs"),
        F.round(
            F.lit(1.0)
            - F.col("candidate_pairs").cast("double") / (n_d * (F.col("n") - 1) / F.lit(2.0)),
            6,
        ).alias("reduction_ratio"),
        "max_block",
        F.round(F.col("max_block").cast("double") / F.col("n"), 6).alias(
            "max_block_share"
        ),
    )


# ---------------------------------------------------------------------------
# Week-over-week top-10 brand stability (Jaccard of consecutive top sets)
# ---------------------------------------------------------------------------

_TOPK_STABILITY_ORACLE = """
WITH wb AS (
  SELECT CAST(date_trunc('week', l.l_shipdate) AS DATE) AS week_start,
         p.p_brand AS brand,
         CAST(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100)
                       AS BIGINT)) AS BIGINT) AS cents
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
  GROUP BY week_start, brand
),
rk AS (
  SELECT week_start, brand,
         row_number() OVER (PARTITION BY week_start
                            ORDER BY cents DESC, brand) AS rn
  FROM wb
),
top AS (SELECT week_start, brand FROM rk WHERE rn <= 10),
sizes AS (
  SELECT week_start, CAST(count(*) AS BIGINT) AS n_top
  FROM top GROUP BY week_start
),
inter AS (
  SELECT a.week_start, CAST(count(*) AS BIGINT) AS i
  FROM top a JOIN top b
    ON a.brand = b.brand AND b.week_start = a.week_start + INTERVAL 7 DAY
  GROUP BY a.week_start
)
SELECT sa.week_start,
       CAST(sa.week_start + INTERVAL 7 DAY AS DATE) AS next_week,
       sa.n_top AS n_top_a, sb.n_top AS n_top_b,
       COALESCE(inter.i, 0) AS n_common,
       round(CAST(COALESCE(inter.i, 0) AS DOUBLE)
             / (sa.n_top + sb.n_top - COALESCE(inter.i, 0)), 6) AS jaccard
FROM sizes sa
JOIN sizes sb ON sb.week_start = sa.week_start + INTERVAL 7 DAY
LEFT JOIN inter ON inter.week_start = sa.week_start
"""


@register("weekly_brand_topk_stability", oracle=_TOPK_STABILITY_ORACLE,
          tags=("timeseries", "rank"))
def weekly_brand_topk_stability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week Jaccard stability of the top-10 revenue brands:
    for every pair of consecutive shipping weeks, |top_w ∩ top_{w+1}| /
    |top_w ∪ top_{w+1}|. A leaderboard that churns (low Jaccard) is
    noise and should not page anyone; one that moves rarely makes
    every move a signal — the rank-stability metric behind trending
    and alerting thresholds.

    Determinism: per-week ranks are EXACT integer revenue-cents ranks
    with brand as tie-break (no float enters a rank); intersection and
    set sizes are integer counts; Jaccard is one division at the
    boundary. Weeks missing a successor emit nothing; consecutive
    weeks with disjoint tops emit 0 via the outer-joined intersection.

    Scale notes: the fact joins the 25-brand dimension broadcast, then
    folds to the calendar-bounded (week, brand) frame (≤360·25 rows at
    ANY scale) with map-side partials; ranks, self-join, and the
    stability join all run on that tiny frame. One fact scan.
    """
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    wb = (
        li.select(
            "l_partkey",
            F.date_trunc("week", "l_shipdate").cast("date").alias("week_start"),
            F.round(
                F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
            )
            .cast("long")
            .alias("cents"),
        )
        .join(p.select("p_partkey", F.col("p_brand").alias("brand")),
              F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("week_start", "brand")
        .agg(F.sum("cents").cast("long").alias("cents"))
    )
    rk = wb.select(
        "week_start",
        "brand",
        F.row_number()
        .over(
            Window.partitionBy("week_start").orderBy(F.desc("cents"), F.asc("brand"))
        )
        .alias("rn"),
    )
    top = rk.filter(F.col("rn") <= 10).select("week_start", "brand")
    top = top.localCheckpoint(eager=False)  # A/B sf1: 2.59 s with, 3.16 s without
    sizes = top.groupBy("week_start").agg(F.count("*").cast("long").alias("n_top"))
    a = top.select(F.col("week_start").alias("ws"), "brand")
    b = top.select(F.col("week_start").alias("ws_next"), F.col("brand").alias("brand_b"))
    inter = (
        a.join(
            b,
            (F.col("brand") == F.col("brand_b"))
            & (F.col("ws_next") == F.date_add(F.col("ws"), 7)),
        )
        .groupBy("ws")
        .agg(F.count("*").cast("long").alias("i"))
    )
    sa = sizes.select(F.col("week_start"), F.col("n_top").alias("n_top_a"))
    sb = sizes.select(
        F.col("week_start").alias("wk_b"), F.col("n_top").alias("n_top_b")
    )
    out = (
        sa.join(sb, F.col("wk_b") == F.date_add(F.col("week_start"), 7))
        .join(inter, F.col("ws") == F.col("week_start"), "left")
        .select(
            "week_start",
            F.date_add(F.col("week_start"), 7).alias("next_week"),
            "n_top_a",
            "n_top_b",
            F.coalesce(F.col("i"), F.lit(0)).alias("n_common"),
            F.round(
                F.coalesce(F.col("i"), F.lit(0)).cast("double")
                / (F.col("n_top_a") + F.col("n_top_b") - F.coalesce(F.col("i"), F.lit(0))),
                6,
            ).alias("jaccard"),
        )
    )
    return out
