"""Round-6 additions, batch 61: behavioral predictability and the
second classical retrieval scorer — per-user transition entropy (how
predictable is a user's next action given their current one — the
conditional-entropy behavioral fingerprint), weekday revenue ANOVA
(does day-of-week structure exist at the daily grain — the calendar
twin of returnflag_price_anova), maximum drawdown of weekly revenue
(the finance-standard worst peak-to-trough decline, with the peak and
trough weeks named), and Dirichlet-smoothed query likelihood (the
language-modeling retrieval scorer that complements doc_bm25_topk —
same fixed query, different ranking theory).

Determinism discipline: transition entropies use the n·ln(n) fold
form over per-user count cells; the ANOVA F reuses the exact
sufficient-statistic closed form (HUGEINT/DECIMAL second moments of
daily cents); drawdown is pure integer running-max arithmetic with
deterministic argmax tie-breaks (earliest week); query likelihood is
a per-(doc, term) ln of exact integer rationals summed over exactly
three terms.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from grocery_store_sales_forecasting_etl_pipeline_spark.plans._tables import table as _t
from grocery_store_sales_forecasting_etl_pipeline_spark.plans.registry import register

_QL_TERMS = ("spark", "table", "window")
_QL_MU = 2000.0

# ---------------------------------------------------------------------------
# Per-user transition entropy
# ---------------------------------------------------------------------------

_TRANSITION_ENTROPY_ORACLE = """
WITH seq AS (
  SELECT user_id, event_type AS cur,
         lead(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS nxt
  FROM events
),
tr AS (
  SELECT user_id, cur, nxt, CAST(count(*) AS BIGINT) AS c
  FROM seq WHERE nxt IS NOT NULL
  GROUP BY user_id, cur, nxt
),
rowst AS (
  SELECT user_id, cur,
         CAST(sum(c) AS BIGINT) AS n_cur,
         sum(c * ln(c)) AS clogc
  FROM tr GROUP BY user_id, cur
),
us AS (
  SELECT user_id,
         CAST(sum(n_cur) AS BIGINT) AS n_transitions,
         sum(n_cur * (ln(n_cur) - clogc / n_cur)) AS weighted_h
  FROM rowst GROUP BY user_id
)
SELECT user_id, n_transitions,
       round(weighted_h / n_transitions, 4) AS conditional_entropy,
       round((weighted_h / n_transitions) / ln(5), 4) AS predictability_score
FROM us WHERE n_transitions >= 10
"""


@register(
    "user_transition_entropy",
    oracle=_TRANSITION_ENTROPY_ORACLE,
    tags=("events", "stats", "window"),
)
def user_transition_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional entropy of each user's event-type transitions,
    H(next | current) = Σ_cur p(cur)·H(next|cur), for users with >= 10
    transitions, normalized by ln(5) (the event-type alphabet). Near 0
    means the next action is determined by the current one (scripted
    clients, rigid funnels); near 1 means memoryless wandering — the
    per-user refinement of event_markov_stationary's global chain and
    the cousin of event_cadence_regularity's timing fingerprint.

    Numerics: every entropy term is the n·ln(n) fold form over exact
    per-user transition counts (<= 25 cells per user); the weighting
    collapses algebraically to one division per user; 4dp rounding.

    Scale notes: one user-keyed shuffle (the lead window), a
    (user, cur, next) fold bounded at 25 cells per user, then two
    user-grain folds. Nothing re-shuffles at fact grain.
    """
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "user_id",
        F.col("event_type").alias("cur"),
        F.lead("event_type").over(w).alias("nxt"),
    ).filter(F.col("nxt").isNotNull())
    tr = seq.groupBy("user_id", "cur", "nxt").agg(
        F.count("*").cast("long").alias("c")
    )
    rowst = tr.groupBy("user_id", "cur").agg(
        F.sum("c").cast("long").alias("n_cur"),
        F.sum(F.col("c") * F.log(F.col("c"))).alias("clogc"),
    )
    us = rowst.groupBy("user_id").agg(
        F.sum("n_cur").cast("long").alias("n_transitions"),
        F.sum(
            F.col("n_cur")
            * (F.log(F.col("n_cur")) - F.col("clogc") / F.col("n_cur"))
        ).alias("weighted_h"),
    )
    h = F.col("weighted_h") / F.col("n_transitions")
    return us.filter(F.col("n_transitions") >= 10).select(
        "user_id",
        "n_transitions",
        F.round(h, 4).alias("conditional_entropy"),
        F.round(h / F.log(F.lit(5.0)), 4).alias("predictability_score"),
    )


# ---------------------------------------------------------------------------
# Weekday revenue ANOVA
# ---------------------------------------------------------------------------

_WEEKDAY_ANOVA_ORACLE = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS d,
         CAST(isodow(CAST(o_orderdate AS DATE)) AS BIGINT) AS dow,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM orders GROUP BY 1, 2
),
st AS (
  SELECT dow,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(cents AS HUGEINT)) AS HUGEINT) AS s,
         CAST(sum(CAST(cents AS HUGEINT) * cents) AS HUGEINT) AS q
  FROM daily GROUP BY dow
),
tot AS (
  SELECT CAST(count(*) AS BIGINT) AS k,
         CAST(sum(n) AS BIGINT) AS n_tot,
         sum(CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n) AS ssb_part,
         CAST(sum(s) AS DOUBLE) AS s_all,
         CAST(sum(q) AS DOUBLE) AS q_all
  FROM st
)
SELECT k AS k_weekdays, n_tot AS n_days,
       CAST(k - 1 AS BIGINT) AS df1,
       CAST(n_tot - k AS BIGINT) AS df2,
       round(((ssb_part - s_all * s_all / n_tot) / (k - 1))
             / ((q_all - ssb_part) / (n_tot - k)), 6) AS f_stat
FROM tot
"""


@register("weekday_revenue_anova", oracle=_WEEKDAY_ANOVA_ORACLE, tags=("stats",))
def weekday_revenue_anova(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA of DAILY revenue across ISO weekdays: does
    day-of-week explain daily revenue variance — the calendar-grain
    screen that decides whether weekday seasonality belongs in the
    forecast features (weekly_lag_features) or is noise. Same exact
    sufficient-statistic F machinery as returnflag_price_anova, at the
    grain where the weekday question actually lives.

    Numerics: daily cents are exact; second moments in
    HUGEINT/DECIMAL(38,0); the F is one identical closed-form tree.
    ISO weekday (Mon=1) on both sides: Spark dayofweek is Sun=1, so
    the Spark side uses the (dayofweek+5)%7+1 remap.

    Scale notes: one fact fold to the calendar-bounded daily frame,
    one 7-row fold, scalar arithmetic.
    """
    o = _t(spark, sf_dir, "orders")
    d = F.col("o_orderdate").cast("date")
    daily = o.groupBy(
        d.alias("d"),
        (((F.dayofweek(d) + 5) % 7) + 1).cast("long").alias("dow"),
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("cents")
    )
    d38 = "decimal(38,0)"
    st = daily.groupBy("dow").agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.col("cents").cast(d38)).alias("s"),
        F.sum(F.col("cents").cast(d38) * F.col("cents")).alias("q"),
    )
    tot = st.agg(
        F.count("*").cast("long").alias("k"),
        F.sum("n").cast("long").alias("n_tot"),
        F.sum(
            F.col("s").cast("double") * F.col("s").cast("double") / F.col("n")
        ).alias("ssb_part"),
        F.sum("s").cast("double").alias("s_all"),
        F.sum("q").cast("double").alias("q_all"),
    )
    return tot.select(
        F.col("k").alias("k_weekdays"),
        F.col("n_tot").alias("n_days"),
        (F.col("k") - 1).cast("long").alias("df1"),
        (F.col("n_tot") - F.col("k")).cast("long").alias("df2"),
        F.round(
            (
                (F.col("ssb_part") - F.col("s_all") * F.col("s_all") / F.col("n_tot"))
                / (F.col("k") - 1)
            )
            / ((F.col("q_all") - F.col("ssb_part")) / (F.col("n_tot") - F.col("k"))),
            6,
        ).alias("f_stat"),
    )


# ---------------------------------------------------------------------------
# Maximum drawdown of weekly revenue
# ---------------------------------------------------------------------------

_DRAWDOWN_ORACLE = """
WITH weekly AS (
  SELECT CAST(date_trunc('week', o_orderdate) AS DATE) AS week_start,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM orders GROUP BY 1
),
run AS (
  SELECT week_start, cents,
         CAST(max(cents) OVER (ORDER BY week_start
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS run_max
  FROM weekly
),
dd AS (
  SELECT week_start, cents, run_max, run_max - cents AS drawdown
  FROM run
),
best AS (
  SELECT week_start AS trough_week, cents AS trough_cents,
         run_max AS peak_cents, drawdown,
         row_number() OVER (ORDER BY drawdown DESC, week_start) AS rn
  FROM dd
)
SELECT trough_week, trough_cents, peak_cents,
       drawdown AS max_drawdown_cents,
       round(CAST(drawdown AS DOUBLE) / peak_cents, 6) AS drawdown_frac
FROM best WHERE rn = 1
"""


@register(
    "weekly_revenue_max_drawdown", oracle=_DRAWDOWN_ORACLE, tags=("timeseries",)
)
def weekly_revenue_max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum drawdown of the weekly revenue series: the worst
    peak-to-trough decline (running max minus current, maximized; tie
    to the earliest trough week) — the finance-standard tail-risk
    summary that a volatility number understates, here applied to the
    revenue stream an operator actually loses sleep over.

    Numerics: pure integer running-max arithmetic until the single
    fraction at the boundary; the argmax orders by (drawdown DESC,
    week) — both integers/dates, no float ordering.

    Scale notes: one fact fold to the weekly frame, one running-max
    window, a top-1 selection over ~100 rows.
    """
    o = _t(spark, sf_dir, "orders")
    weekly = o.groupBy(
        F.date_trunc("week", "o_orderdate").cast("date").alias("week_start")
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("cents")
    )
    w_run = Window.orderBy("week_start").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    dd = weekly.select(
        "week_start",
        "cents",
        F.max("cents").over(w_run).cast("long").alias("run_max"),
    ).withColumn("drawdown", F.col("run_max") - F.col("cents"))
    best = dd.withColumn(
        "rn", F.row_number().over(Window.orderBy(F.desc("drawdown"), "week_start"))
    ).filter(F.col("rn") == 1)
    return best.select(
        F.col("week_start").alias("trough_week"),
        F.col("cents").alias("trough_cents"),
        F.col("run_max").alias("peak_cents"),
        F.col("drawdown").alias("max_drawdown_cents"),
        F.round(
            F.col("drawdown").cast("double") / F.col("run_max"), 6
        ).alias("drawdown_frac"),
    )


# ---------------------------------------------------------------------------
# Dirichlet-smoothed query likelihood retrieval
# ---------------------------------------------------------------------------

_QL_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS token
  FROM documents WHERE text IS NOT NULL AND trim(text) <> ''
),
dlen AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS len FROM tok GROUP BY doc_id
),
cf AS (
  SELECT token, CAST(count(*) AS BIGINT) AS cf FROM tok
  WHERE token IN {_QL_TERMS!r}
  GROUP BY token
),
ctot AS (SELECT CAST(count(*) AS BIGINT) AS c FROM tok),
tf AS (
  SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf FROM tok
  WHERE token IN {_QL_TERMS!r}
  GROUP BY doc_id, token
),
qterms AS (SELECT unnest({list(_QL_TERMS)!r}) AS token),
scored AS (
  SELECT d.doc_id,
         sum(ln((coalesce(t.tf, 0) + {_QL_MU} * cf.cf / ctot.c)
                / (d.len + {_QL_MU}))) AS score
  FROM dlen d
  CROSS JOIN qterms q
  JOIN cf ON q.token = cf.token
  CROSS JOIN ctot
  LEFT JOIN tf t ON t.doc_id = d.doc_id AND t.token = q.token
  GROUP BY d.doc_id
)
SELECT doc_id, round(score, 6) AS ql_score
FROM scored
ORDER BY ql_score DESC, doc_id
LIMIT 20
"""


@register("doc_query_likelihood_topk", oracle=_QL_ORACLE, tags=("text", "similarity"))
def doc_query_likelihood_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dirichlet-smoothed query-likelihood retrieval: top-20 documents
    for the same fixed query as doc_bm25_topk, scored by
    Σ ln((tf + μ·P(w|corpus)) / (len_d + μ)), μ=2000 — the
    language-modeling ranking theory next to BM25's probabilistic one.
    Running both scorers over one corpus is how retrieval pipelines
    build rank-fusion candidates (see hybrid_rrf_search), so the
    second scorer is a first-class operator, not a variant.

    Numerics: every score term is a single ln of an exact integer
    rational (tf, cf, C, len all exact counts; μ a shared literal);
    exactly |q|=3 terms sum per doc before 6dp rounding; ties in the
    top-20 break on doc_id.

    Scale notes: one tokenize pass feeds doc lengths, corpus term
    frequencies (3-row, broadcast) and per-doc tf for the query terms
    only (filter pushed to the explode); the scoring join is doc-grain
    x 3; top-k is TakeOrderedAndProject.
    """
    d = _t(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull() & (F.trim("text") != "")
    )
    tok = d.select(
        "doc_id", F.explode_outer(F.split(F.trim("text"), r"\s+")).alias("token")
    ).filter(F.col("token").isNotNull())
    dlen = tok.groupBy("doc_id").agg(F.count("*").cast("long").alias("len"))
    cf = (
        tok.filter(F.col("token").isin(*_QL_TERMS))
        .groupBy("token")
        .agg(F.count("*").cast("long").alias("cf"))
    )
    ctot = tok.agg(F.count("*").cast("long").alias("c"))
    tf = (
        tok.filter(F.col("token").isin(*_QL_TERMS))
        .groupBy("doc_id", "token")
        .agg(F.count("*").cast("long").alias("tf"))
    )
    qterms = cf.select("token", "cf")  # query terms present in corpus
    scored = (
        dlen.crossJoin(qterms)
        .crossJoin(ctot)
        .join(tf, ["doc_id", "token"], "left")
        .groupBy("doc_id")
        .agg(
            F.sum(
                F.log(
                    (
                        F.coalesce(F.col("tf"), F.lit(0))
                        + F.lit(_QL_MU) * F.col("cf") / F.col("c")
                    )
                    / (F.col("len") + F.lit(_QL_MU))
                )
            ).alias("score")
        )
    )
    return (
        scored.select("doc_id", F.round(F.col("score"), 6).alias("ql_score"))
        .orderBy(F.desc("ql_score"), "doc_id")
        .limit(20)
    )
