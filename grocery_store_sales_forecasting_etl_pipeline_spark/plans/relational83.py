"""Round-6 additions, batch 83: paired nonparametric testing, welfare
inequality, design-effect accounting, and unseen-mass estimation —
the Wilcoxon signed-rank test on year-over-year weekly revenue pairs
(each week paired with the week exactly 364 days later, so weekday
alignment is preserved; the paired twin of the rank-sum test already
registered), the Atkinson inequality index (ε = 1) of per-customer
spend (the welfare-economics index with an explicit aversion
parameter: 1 − geometric/arithmetic mean — "what fraction of total
spend could be discarded if it were spread evenly"), the Kish
effective sample size of order-value weights per nation (the survey
design-effect number: value-weighted estimates over a nation behave
like n_eff ≪ n independent draws when spend is concentrated), and
Good-Turing frequency smoothing on the document corpus (the
frequency-of-frequencies estimator of UNSEEN mass p₀ = V₁/N and the
discounted r* = (r+1)·V(r+1)/V(r) — the language-model smoothing
number a token-pipeline quality gate reads).

Determinism discipline: signed ranks are doubled integer midranks
over |d| value counts; Atkinson's geometric mean uses one Σln fold
rounded once at the boundary; Kish sums squares in
HUGEINT/DECIMAL(38,0); Good-Turing works entirely on the exact
integer frequency spectrum with one division per output.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from grocery_store_sales_forecasting_etl_pipeline_spark.plans._tables import table as _t
from grocery_store_sales_forecasting_etl_pipeline_spark.plans.registry import register

# ---------------------------------------------------------------------------
# Wilcoxon signed-rank test on YoY weekly revenue pairs
# ---------------------------------------------------------------------------

_WILCOXON_ORACLE = """
WITH weekly AS (
  SELECT CAST(date_trunc('week', o_orderdate) AS DATE) AS week_start,
         sum(CAST(round(o_totalprice * 100) AS BIGINT)) // 100 AS dollars
  FROM orders GROUP BY week_start
),
pairs AS (
  SELECT b.dollars - a.dollars AS d
  FROM weekly a JOIN weekly b ON b.week_start = a.week_start + INTERVAL 364 DAY
  WHERE b.dollars <> a.dollars
),
ranked AS (
  SELECT d,
         2 * CAST(count(*) OVER (ORDER BY abs(d)
             RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         - CAST(count(*) OVER (PARTITION BY abs(d)) AS BIGINT) + 1 AS r2,
         CAST(count(*) OVER () AS BIGINT) AS m
  FROM pairs
),
g AS (
  SELECT max(m) AS m,
         CAST(sum(CASE WHEN d > 0 THEN r2 ELSE 0 END) AS BIGINT) AS wplus2,
         CAST(sum(CASE WHEN d > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_up
  FROM ranked
)
SELECT m AS n_pairs, n_up, wplus2 AS w_plus_x2,
       round(CAST(m AS DOUBLE) * (m + 1) / 4.0, 6) AS expected_w,
       round((wplus2 / 2.0 - CAST(m AS DOUBLE) * (m + 1) / 4.0)
             / sqrt(CAST(m AS DOUBLE) * (m + 1) * (2.0 * m + 1) / 24.0), 6) AS z_stat
FROM g
"""


@register("weekly_yoy_wilcoxon_signed_rank", oracle=_WILCOXON_ORACLE, tags=("stats",))
def weekly_yoy_wilcoxon_signed_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilcoxon signed-rank test for year-over-year growth in weekly
    revenue: pair each week with the week exactly 364 days (52 weeks)
    later — weekday alignment preserved, so seasonality cancels within
    the pair — rank the |differences|, and z-score the positive-rank
    sum W⁺ against its null m(m+1)/4. The paired, magnitude-aware
    upgrade of weekly_revenue_cox_stuart's sign test: a consistent
    small uplift across many weeks registers here even when each
    week's change is individually unremarkable.

    Determinism: the pairing join is on exact dates (week_start + 364
    days); zero differences are dropped per the standard definition;
    tie-averaged ranks of |d| are doubled integers (R2 = 2·cum − ties
    + 1) so W⁺ = W2/2 is exact; the null variance uses the no-tie
    formula (cent-grain differences make rank ties negligible —
    documented, identical both sides); z is one rounded double.

    Scale notes: weekly fold map-side; the self-join and ranking run
    over hundreds of rows.
    """
    o = _t(spark, sf_dir, "orders")
    weekly = (
        o.select(
            F.date_trunc("week", "o_orderdate").cast("date").alias("week_start"),
            F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        )
        .groupBy("week_start")
        .agg(F.expr("sum(cents) DIV 100").alias("dollars"))
        .localCheckpoint(eager=False)  # A/B sf0.1: 0.48 s with, 0.59 s without
    )
    a = weekly.alias("a")
    b = weekly.alias("b")
    pairs = (
        a.join(b, F.col("b.week_start") == F.date_add(F.col("a.week_start"), 364))
        .filter(F.col("b.dollars") != F.col("a.dollars"))
        .select((F.col("b.dollars") - F.col("a.dollars")).alias("d"))
    )
    w_cum = Window.orderBy(F.abs(F.col("d"))).rangeBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_tie = Window.partitionBy(F.abs(F.col("d")))
    w_all = Window.partitionBy()
    ranked = pairs.select(
        "d",
        (
            F.lit(2) * F.count("*").over(w_cum).cast("long")
            - F.count("*").over(w_tie).cast("long")
            + 1
        ).alias("r2"),
        F.count("*").over(w_all).cast("long").alias("m"),
    )
    g = ranked.agg(
        F.max("m").alias("m"),
        F.sum(F.when(F.col("d") > 0, F.col("r2")).otherwise(0))
        .cast("long")
        .alias("wplus2"),
        F.sum(F.when(F.col("d") > 0, 1).otherwise(0)).cast("long").alias("n_up"),
    )
    m_d = F.col("m").cast("double")
    expected = m_d * (F.col("m") + 1) / F.lit(4.0)
    return g.select(
        F.col("m").alias("n_pairs"),
        "n_up",
        F.col("wplus2").alias("w_plus_x2"),
        F.round(expected, 6).alias("expected_w"),
        F.round(
            (F.col("wplus2") / F.lit(2.0) - expected)
            / F.sqrt(m_d * (F.col("m") + 1) * (F.lit(2.0) * F.col("m") + 1) / F.lit(24.0)),
            6,
        ).alias("z_stat"),
    )


# ---------------------------------------------------------------------------
# Atkinson inequality index (ε = 1) of per-customer spend
# ---------------------------------------------------------------------------

_ATKINSON_ORACLE = """
WITH spend AS (
  SELECT o_custkey, CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM orders GROUP BY o_custkey
),
s AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(cents) AS DECIMAL(38,0)) AS tot,
         sum(ln(CAST(cents AS DOUBLE))) AS sum_ln
  FROM spend
)
SELECT n AS n_customers, CAST(tot AS BIGINT) AS total_cents,
       round(1.0 - exp(sum_ln / n) / (CAST(tot AS DOUBLE) / n), 6) AS atkinson_e1
FROM s
"""


@register("customer_spend_atkinson", oracle=_ATKINSON_ORACLE, tags=("stats",))
def customer_spend_atkinson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Atkinson inequality index with aversion ε = 1 over per-customer
    total spend: A₁ = 1 − geometric_mean/arithmetic_mean. Unlike the
    Gini (nation_spend_gini) and Theil (nation_revenue_theil) already
    registered, Atkinson has a direct welfare reading — the fraction
    of total spend that could be given up if the remainder were spread
    perfectly evenly with no welfare loss at aversion ε. ε = 1 weights
    the bottom of the distribution hardest, so A₁ is the index that
    moves when SMALL customers get smaller.

    Determinism: counts and the total are exact integers
    (DECIMAL(38,0) total — per-customer cents sums can cross BIGINT
    in aggregate); the geometric mean is one Σln fold over positive
    integers divided once inside exp (ln's cross-engine last-ulp
    noise is absorbed by the single 6dp rounding; the repo accepts
    this for log-sum statistics — relational62's lognormal fit set
    the precedent).

    Scale notes: the per-customer fold shuffles on custkey with
    map-side partial sums; the final fold is one row.
    """
    spend = (
        _t(spark, sf_dir, "orders")
        .select(
            "o_custkey",
            F.round(F.col("o_totalprice") * 100).cast("long").alias("c"),
        )
        .groupBy("o_custkey")
        .agg(F.sum("c").cast("long").alias("cents"))
    )
    s = spend.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("cents").cast("decimal(38,0)").alias("tot"),
        F.sum(F.log(F.col("cents").cast("double"))).alias("sum_ln"),
    )
    return s.select(
        F.col("n").alias("n_customers"),
        F.col("tot").cast("long").alias("total_cents"),
        F.round(
            F.lit(1.0)
            - F.exp(F.col("sum_ln") / F.col("n"))
            / (F.col("tot").cast("double") / F.col("n")),
            6,
        ).alias("atkinson_e1"),
    )


# ---------------------------------------------------------------------------
# Kish effective sample size per nation (order-value weights)
# ---------------------------------------------------------------------------

_KISH_ORACLE = """
WITH w AS (
  SELECT n.n_name AS nation,
         CAST(round(o.o_totalprice * 100) AS BIGINT) AS cents
  FROM orders o
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
),
g AS (
  SELECT nation, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(cents) AS DECIMAL(38,0)) AS sw,
         CAST(sum(CAST(cents AS HUGEINT) * cents) AS DECIMAL(38,0)) AS sw2
  FROM w GROUP BY nation
)
SELECT nation, n AS n_orders, CAST(sw AS BIGINT) AS sum_cents,
       sw2 AS sum_sq_cents,
       round(CAST(sw AS DOUBLE) * CAST(sw AS DOUBLE) / CAST(sw2 AS DOUBLE), 4)
         AS kish_neff,
       round(CAST(sw AS DOUBLE) * CAST(sw AS DOUBLE)
             / (CAST(sw2 AS DOUBLE) * n), 6) AS weight_efficiency
FROM g
"""


@register("nation_order_kish_neff", oracle=_KISH_ORACLE, tags=("stats", "audit"))
def nation_order_kish_neff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kish effective sample size of order-value weights per nation:
    n_eff = (Σw)²/Σw², the survey-statistics number that says how many
    EQUAL-weight orders a value-weighted per-nation estimate is really
    worth; the efficiency ratio n_eff/n ∈ (0, 1] drops as spend
    concentrates in a few large orders. The design-effect complement
    of nation_supplier_concentration's HHI (n_eff = 1/HHI in share
    terms) applied to the demand side.

    Determinism: Σw exact in DECIMAL(38,0), Σw² via HUGEINT (DuckDB) /
    DECIMAL(38,0) (Spark) products — cents ~1e7 makes w² ~1e14, past
    BIGINT at ~1e5 orders per nation; two rounded doubles.

    Scale notes: the two dimension joins broadcast; the per-nation
    fold is a map-side combine onto 25 groups.
    """
    o = _t(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    w = (
        o.join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(n, F.col("c_nationkey") == F.col("n_nationkey"))
        .select(
            F.col("n_name").alias("nation"),
            F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        )
    )
    dec = "decimal(38,0)"
    g = w.groupBy("nation").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("cents").cast(dec).alias("sw"),
        F.sum(F.col("cents").cast(dec) * F.col("cents").cast(dec)).cast(dec).alias("sw2"),
    )
    sw_d = F.col("sw").cast("double")
    sw2_d = F.col("sw2").cast("double")
    return g.select(
        "nation",
        F.col("n").alias("n_orders"),
        F.col("sw").cast("long").alias("sum_cents"),
        F.col("sw2").alias("sum_sq_cents"),
        F.round(sw_d * sw_d / sw2_d, 4).alias("kish_neff"),
        F.round(sw_d * sw_d / (sw2_d * F.col("n")), 6).alias("weight_efficiency"),
    )


# ---------------------------------------------------------------------------
# Good-Turing smoothing on the corpus frequency spectrum
# ---------------------------------------------------------------------------

_GOOD_TURING_ORACLE = """
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
freq AS (
  SELECT w1, w2, CAST(count(*) AS BIGINT) AS f
  FROM bg GROUP BY w1, w2
),
spec AS (
  SELECT f AS r, CAST(count(*) AS BIGINT) AS vr FROM freq GROUP BY f
),
tot AS (
  SELECT CAST(sum(CAST(r AS HUGEINT) * vr) AS DECIMAL(38,0)) AS n FROM spec
),
lowr AS (
  SELECT s.r, s.vr, nxt.vr AS vr_next, CAST(tot.n AS DECIMAL(38,0)) AS n
  FROM spec s
  LEFT JOIN spec nxt ON nxt.r = s.r + 1
  CROSS JOIN tot
  WHERE s.r <= 5
)
SELECT r, vr AS n_types,
       CAST(CAST(r AS HUGEINT) * vr AS BIGINT) AS observed_tokens,
       round(CAST(r AS DOUBLE) * vr / CAST(n AS DOUBLE), 6) AS raw_mass,
       round((r + 1.0) * coalesce(vr_next, 0) / vr, 6) AS r_star,
       round((r + 1.0) * coalesce(vr_next, 0) / CAST(n AS DOUBLE), 6) AS gt_mass
FROM lowr
"""


@register("bigram_good_turing_estimates", oracle=_GOOD_TURING_ORACLE, tags=("text", "stats"))
def bigram_good_turing_estimates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Good-Turing frequency smoothing on the corpus BIGRAM spectrum:
    for each low count r = 1…5, the smoothed count r* = (r+1)·V(r+1)/
    V(r) and the Good-Turing probability mass (r+1)·V(r+1)/N assigned
    to ALL bigram types seen r times. The r = 1 row's raw mass V₁/N
    is the Good-Turing estimate of the UNSEEN-type mass p₀ — the
    number that says how much of the next shard's bigram vocabulary a
    dedup/LM pipeline has never observed (the smoothing complement of
    lang_vocab_chao1's richness extrapolation and corpus_yule_k's
    repeat rate). Bigrams, not unigrams, because this synthetic
    corpus's unigram vocabulary is closed (every token occurs ≥ 26
    times at sf0.01) — the bigram tail is where the rare-event mass
    lives, exactly as in real LM training data.

    Determinism: the frequency spectrum is exact integers off the
    repo's standard whitespace tokenization and within-document
    adjacency (the token_bigram_entropy_rate convention); N
    accumulates in HUGEINT/DECIMAL(38,0); r*, raw and GT mass each
    divide once. Rows exist only for OCCUPIED r ≤ 5 (an empty
    spectrum row cannot be smoothed), so the row count is
    data-adaptive by design.

    Scale notes: the token explosion folds map-side to the
    vocabulary-bounded bigram frequency frame, then to the tiny
    spectrum; the r↔r+1 self-join runs on ≤ O(√N) spectrum rows.
    """
    docs = _t(spark, sf_dir, "documents")
    dec = "decimal(38,0)"
    tok = docs.select(
        "doc_id",
        F.posexplode(F.split(F.trim("text"), r"\s+")).alias("pos", "token"),
    ).filter(F.col("token") != "")
    w = Window.partitionBy("doc_id").orderBy("pos")
    bg = tok.select(
        F.col("token").alias("w1"),
        F.lead("token").over(w).alias("w2"),
    ).filter(F.col("w2").isNotNull())
    freq = bg.groupBy("w1", "w2").agg(F.count("*").cast("long").alias("f"))
    spec = freq.groupBy(F.col("f").alias("r")).agg(F.count("*").cast("long").alias("vr"))
    tot = spec.agg(F.sum(F.col("r").cast(dec) * F.col("vr")).cast(dec).alias("n"))
    nxt = spec.select(F.col("r").alias("r_nxt"), F.col("vr").alias("vr_next"))
    lowr = (
        spec.filter(F.col("r") <= 5)
        .join(nxt, F.col("r_nxt") == F.col("r") + 1, "left")
        .crossJoin(tot)
    )
    n_d = F.col("n").cast("double")
    return lowr.select(
        "r",
        F.col("vr").alias("n_types"),
        (F.col("r").cast(dec) * F.col("vr")).cast("long").alias("observed_tokens"),
        F.round(F.col("r").cast("double") * F.col("vr") / n_d, 6).alias("raw_mass"),
        F.round(
            (F.col("r") + F.lit(1.0)) * F.coalesce(F.col("vr_next"), F.lit(0)) / F.col("vr"),
            6,
        ).alias("r_star"),
        F.round(
            (F.col("r") + F.lit(1.0)) * F.coalesce(F.col("vr_next"), F.lit(0)) / n_d, 6
        ).alias("gt_mass"),
    )
