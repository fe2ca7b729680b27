"""Round-6 additions, batch 42: four analytic closures over existing
families — the stationary distribution of the event-transition Markov
chain (power iteration, the steady-state the transition matrix only
implies), a Theil-Sen robust trend (median-of-slopes, the outlier-
immune sibling of the OLS trend), reciprocal-rank-fusion hybrid
retrieval (BM25 x char-trigram, the standard two-ranker combiner used
in hard-negative mining), and empirical-Bayes shrinkage of per-part
return rates (beta-prior partial pooling — small-sample rates pulled
toward the corpus prior).

Determinism discipline: transition probabilities are exact integer
ratios and the 12-step power iteration runs in both engines from the
same exact matrix (float noise ~1e-15 against a 6dp boundary);
Theil-Sen slopes are exact-integer ratios whose SORTED median is
engine-independent; RRF ranks come from total-ordered (score, id)
sorts of closed-form scores; the shrinkage prior uses explicit
(sum, sum-of-squares) moment formulas, never an engine's var_samp.
"""

from __future__ import annotations

import math

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from grocery_store_sales_forecasting_etl_pipeline_spark.plans._tables import table as _t
from grocery_store_sales_forecasting_etl_pipeline_spark.plans.registry import register

# ---------------------------------------------------------------------------
# Stationary distribution of the event-type Markov chain
# ---------------------------------------------------------------------------

_MARKOV_ITERS = 12


def _markov_oracle() -> str:
    chain = []
    for k in range(_MARKOV_ITERS):
        chain.append(
            f"p{k + 1} AS (SELECT e.t AS state, sum(p{k}.p * e.prob) AS p\n"
            f"  FROM p{k} JOIN e ON p{k}.state = e.f GROUP BY 1)"
        )
    joined = ",\n".join(chain)
    last = f"p{_MARKOV_ITERS}"
    return f"""
WITH seq AS (
  SELECT user_id, event_type,
         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS prev_type
  FROM events
),
c AS (
  SELECT prev_type AS f, event_type AS t, CAST(count(*) AS BIGINT) AS n
  FROM seq WHERE prev_type IS NOT NULL GROUP BY 1, 2
),
states AS (SELECT DISTINCT f AS state FROM c),
e AS (
  SELECT f, t, n * 1.0 / sum(n) OVER (PARTITION BY f) AS prob
  FROM c WHERE t IN (SELECT state FROM states)
),
outdeg AS (
  SELECT f AS state, CAST(sum(n) AS BIGINT) AS n_out
  FROM c WHERE t IN (SELECT state FROM states) GROUP BY f
),
p0 AS (
  SELECT state, 1.0 / (SELECT count(*) FROM states) AS p FROM states
),
{joined}
SELECT o.state, o.n_out, round(coalesce({last}.p, 0), 6) AS stationary_prob
FROM outdeg o LEFT JOIN {last} ON o.state = {last}.state
"""


@register("event_markov_stationary", oracle=_markov_oracle(), tags=("stats", "events", "graph"))
def event_markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stationary distribution of the first-order event-type Markov
    chain (the long-run fraction of time a user journey spends in each
    event type): 12 power-iteration steps from the uniform vector over
    the row-stochastic transition matrix. The state space is the set
    of types observed as transition SOURCES, with targets restricted
    to it (keeps the matrix stochastic without dangling-mass leaks).
    Completes event_transitions — the matrix it emits only IMPLIES
    this steady state.

    Determinism: transition counts are exact integers and P's rows are
    exact ratios; the iteration's float products accumulate ~1e-15
    cross-engine noise over 12 steps against a 6dp output boundary.
    The python-side fold visits source states in sorted order; the
    rounding is floor(x*1e6+0.5)/1e6, the engines' half-away rule.

    Scale notes: the DISTRIBUTED work is the user-timeline lag window
    (one user-keyed shuffle over the fact) and the |types|^2 count
    fold — identical cost to event_transitions. The matrix itself is
    SCHEMA-bounded (event vocabularies are tens of types, never
    data-scaled), so closing it on the driver is the IVF-centroid
    pattern: collect a provably tiny frame, iterate, return literals.
    """
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "event_type", F.lag("event_type").over(w).alias("prev_type")
    ).filter(F.col("prev_type").isNotNull())
    c = (
        seq.groupBy(F.col("prev_type").alias("f"), F.col("event_type").alias("t"))
        .agg(F.count("*").cast("long").alias("n"))
        .collect()
    )
    states = sorted({r["f"] for r in c})
    sset = set(states)
    edges = [(r["f"], r["t"], r["n"]) for r in c if r["t"] in sset]
    rowsum = {s: 0 for s in states}
    for f, _, n in edges:
        rowsum[f] += n
    prob: dict[str, list[tuple[str, float]]] = {s: [] for s in states}
    for f, t, n in edges:
        prob[f].append((t, n / rowsum[f]))
    pi = {s: 1.0 / len(states) for s in states}
    for _ in range(_MARKOV_ITERS):
        nxt = {s: 0.0 for s in states}
        for f in states:  # sorted source order pins the fold
            pf = pi[f]
            for t, p in sorted(prob[f]):
                nxt[t] += pf * p
        pi = nxt
    rows = [
        (s, int(rowsum[s]), math.floor(pi[s] * 1e6 + 0.5) / 1e6) for s in states
    ]
    return spark.createDataFrame(
        rows, "state string, n_out long, stationary_prob double"
    )


# ---------------------------------------------------------------------------
# Theil-Sen robust weekly revenue trend
# ---------------------------------------------------------------------------

_THEILSEN_ORACLE = """
WITH w AS (
  SELECT CAST(date_diff('day',
           (SELECT min(CAST(l_shipdate AS DATE)
                   - CAST((dayofweek(CAST(l_shipdate AS DATE)) + 6) % 7 AS INTEGER))
            FROM lineitem),
           CAST(l_shipdate AS DATE)
             - CAST((dayofweek(CAST(l_shipdate AS DATE)) + 6) % 7 AS INTEGER))
           // 7 AS BIGINT) AS x,
         CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS y
  FROM lineitem GROUP BY 1
),
p AS (
  SELECT (b.y - a.y) / CAST(b.x - a.x AS DOUBLE) AS slope
  FROM w a JOIN w b ON a.x < b.x
),
r AS (
  SELECT slope, row_number() OVER (ORDER BY slope) AS rn,
         count(*) OVER () AS m
  FROM p
),
med AS (
  SELECT avg(slope) AS ts_slope FROM r
  WHERE rn IN ((m + 1) // 2, (m + 2) // 2)
),
s AS (
  SELECT CAST(count(*) AS HUGEINT) AS n,
         CAST(sum(CAST(x AS HUGEINT)) AS HUGEINT) AS sx,
         CAST(sum(CAST(y AS HUGEINT)) AS HUGEINT) AS sy,
         CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
         CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy
  FROM w
)
SELECT CAST(s.n AS BIGINT) AS n_weeks,
       CAST(s.n * (s.n - 1) / 2 AS BIGINT) AS n_pairs,
       round(med.ts_slope, 4) AS ts_slope,
       round(CAST(s.n * s.sxy - s.sx * s.sy AS DOUBLE)
             / CAST(s.n * s.sxx - s.sx * s.sx AS DOUBLE), 4) AS ols_slope
FROM s CROSS JOIN med
"""


@register("theil_sen_weekly_trend", oracle=_THEILSEN_ORACLE, tags=("stats", "timeseries"))
def theil_sen_weekly_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen estimator of the weekly-revenue trend: the MEDIAN of
    all pairwise slopes between week points (cents/week), beside the
    OLS slope — the robust trend that one promo-spike week cannot
    drag, the standard screen when the OLS trend and the consensus
    trend disagree.

    Determinism: week indexes and weekly cents are exact integers, so
    every pairwise slope is the same exact-ratio double in both
    engines; the median picks row_number middles of the SORTED slope
    list (equal values are interchangeable), and the even-count case
    averages two identical-valued doubles identically. OLS sufficient
    sums stay in DECIMAL(38,0)/HUGEINT end to end (n*Sxy crosses
    BIGINT early at cent scale).

    Scale notes: the quadratic stage runs on the CALENDAR-bounded week
    grain (~100 rows at any data scale, the Kendall discipline); the
    fact fold is map-side combined.
    """
    li = _t(spark, sf_dir, "lineitem")
    monday = F.date_sub(
        F.col("l_shipdate").cast("date"),
        (F.dayofweek(F.col("l_shipdate").cast("date")) + F.lit(5)) % F.lit(7),
    )
    wk = li.groupBy(monday.alias("week_start")).agg(
        F.sum(F.round(F.col("l_extendedprice") * 100).cast("long"))
        .cast("long")
        .alias("y")
    )
    w0 = Window.partitionBy()
    w = wk.select(
        (F.datediff(F.col("week_start"), F.min("week_start").over(w0)) / 7)
        .cast("long")
        .alias("x"),
        "y",
    )
    a = w.select(F.col("x").alias("xa"), F.col("y").alias("ya"))
    b = w.select(F.col("x").alias("xb"), F.col("y").alias("yb"))
    p = a.join(b, F.col("xa") < F.col("xb")).select(
        ((F.col("yb") - F.col("ya")) / (F.col("xb") - F.col("xa")).cast("double")).alias(
            "slope"
        )
    )
    r = p.select(
        "slope",
        F.row_number().over(Window.orderBy("slope")).alias("rn"),
        F.count("*").over(Window.partitionBy()).alias("m"),
    )
    # integer middle indices: (m+1)//2 and (m+2)//2 (1-based; equal when odd)
    med = r.filter(
        (F.col("rn") == F.floor((F.col("m") + 1) / 2))
        | (F.col("rn") == F.floor((F.col("m") + 2) / 2))
    ).agg(F.avg("slope").alias("ts_slope"))
    dec = "decimal(38,0)"
    s = w.agg(
        F.count("*").cast(dec).alias("n"),
        F.sum(F.col("x").cast(dec)).alias("sx"),
        F.sum(F.col("y").cast(dec)).alias("sy"),
        F.sum(F.col("x").cast(dec) * F.col("x")).alias("sxx"),
        F.sum(F.col("x").cast(dec) * F.col("y")).alias("sxy"),
    )
    return s.crossJoin(med).select(
        F.col("n").cast("long").alias("n_weeks"),
        (F.col("n") * (F.col("n") - 1) / 2).cast("long").alias("n_pairs"),
        F.round("ts_slope", 4).alias("ts_slope"),
        F.round(
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
            / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double"),
            4,
        ).alias("ols_slope"),
    )


# ---------------------------------------------------------------------------
# Hybrid retrieval: reciprocal-rank fusion of BM25 and char-trigram rankers
# ---------------------------------------------------------------------------

_RRF_TERMS = ("spark", "table", "window")
_RRF_QUERY = "spark table window"
_RRF_K = 60
_RRF_DEPTH = 100
_RRF_TOPK = 10
_RRF_CAP = 240  # chars of document text the trigram ranker sees

_RRF_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS token
  FROM documents WHERE text IS NOT NULL AND trim(text) <> ''
),
dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM tok GROUP BY doc_id),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(dl) AS BIGINT) AS sum_dl FROM dl),
tf AS (
  SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
  FROM tok WHERE token IN ('spark', 'table', 'window')
  GROUP BY doc_id, token
),
dft AS (SELECT token, CAST(count(*) AS BIGINT) AS dft FROM tf GROUP BY token),
sc AS (
  SELECT tf.doc_id, tf.token,
         ((n_docs - dft + 0.5) / (dft + 0.5))
           * (tf.tf * 2.2)
           / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl * n_docs / sum_dl)) AS s
  FROM tf
  JOIN dl  ON tf.doc_id = dl.doc_id
  JOIN dft ON tf.token = dft.token
  CROSS JOIN tot
),
bscore AS (
  SELECT doc_id,
         coalesce(sum(CASE WHEN token = 'spark'  THEN s END), 0)
           + coalesce(sum(CASE WHEN token = 'table'  THEN s END), 0)
           + coalesce(sum(CASE WHEN token = 'window' THEN s END), 0) AS score
  FROM sc GROUP BY doc_id
),
brank AS (
  SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS rk
  FROM bscore QUALIFY rk <= {_RRF_DEPTH}
),
tg AS (
  SELECT doc_id,
         list_distinct(list_transform(
           range(1, length(substr(text, 1, {_RRF_CAP})) - 1),
           i -> substr(text, 1, {_RRF_CAP})[i : i + 2])) AS g
  FROM documents WHERE text IS NOT NULL AND trim(text) <> ''
),
q AS (
  SELECT list_distinct(list_transform(range(1, length('{_RRF_QUERY}') - 1),
                                      i -> '{_RRF_QUERY}'[i : i + 2])) AS qg
),
tscore AS (
  SELECT doc_id,
         CAST(len(list_intersect(g, q.qg)) AS BIGINT) AS n_shared,
         CAST(len(g) AS BIGINT) AS ng, CAST(len(q.qg) AS BIGINT) AS nq
  FROM tg, q
),
trank AS (
  SELECT doc_id,
         row_number() OVER (
           ORDER BY n_shared * 1.0 / (ng + nq - n_shared) DESC, doc_id) AS rk
  FROM tscore WHERE n_shared > 0 QUALIFY rk <= {_RRF_DEPTH}
),
fused AS (
  SELECT coalesce(b.doc_id, t.doc_id) AS doc_id,
         b.rk AS bm25_rank, t.rk AS trigram_rank,
         coalesce(1.0 / ({_RRF_K} + b.rk), 0)
           + coalesce(1.0 / ({_RRF_K} + t.rk), 0) AS rrf
  FROM brank b FULL OUTER JOIN trank t ON b.doc_id = t.doc_id
)
SELECT doc_id, bm25_rank, trigram_rank, round(rrf, 6) AS rrf_score
FROM fused
ORDER BY rrf DESC, doc_id
LIMIT {_RRF_TOPK}
"""


@register("hybrid_rrf_search", oracle=_RRF_ORACLE, tags=("text", "retrieval", "search"))
def hybrid_rrf_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion of two retrieval rankers over the corpus
    — BM25 (token-level, the doc_bm25_topk scorer) and character-
    trigram Jaccard against the query string (char-level, survives
    spelling noise) — RRF(d) = sum over rankers of 1/(60 + rank_d),
    fused over each ranker's top-100, top-10 out. The standard hybrid
    combiner for corpus search and hard-negative mining: rank fusion
    needs no score calibration between heterogeneous rankers.

    Determinism: both rankers' scores are closed-form doubles over
    exact integer stats (log-free BM25 rational; trigram Jaccard
    ratio); ranks come from total-ordered (score DESC, doc_id) sorts;
    the RRF sum adds two exact reciprocals in fixed order. The trigram
    ranker reads the first 240 chars per document — bounding the
    per-doc gram set at ANY document length (the 100 TB cap; heads
    identify a document as well as full bodies for query matching).

    Scale notes: the BM25 leg is ONE (doc_id) aggregation over a
    single tokenize pass — per-doc length and the per-term tf counts
    come out of the same groupBy, and the corpus stats (n_docs,
    sum_dl, per-term document frequencies) fold that frame to one
    broadcast row — no localCheckpoint, no dl ⋈ tf ⋈ dft joins (the
    previous two-checkpoint shape paid the tokenize shuffle twice:
    8.3s → ~4s solo at sf0.1). The trigram leg is map-only array
    expressions with the query gram set inlined as a literal; both
    rank stages are top-k over bounded frames, and the fusion joins
    two <= 100-row frames.
    """
    d = _t(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull() & (F.trim("text") != "")
    )
    tok = d.select(
        "doc_id", F.explode(F.split(F.trim("text"), r"\s+")).alias("token")
    )
    perdoc = tok.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("dl"),
        *[
            F.sum(F.when(F.col("token") == t, 1).otherwise(0))
            .cast("long")
            .alias(f"tf_{t}")
            for t in _RRF_TERMS
        ],
    )
    stats = perdoc.agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("dl").cast("long").alias("sum_dl"),
        *[
            F.sum((F.col(f"tf_{t}") > 0).cast("long"))
            .cast("long")
            .alias(f"dft_{t}")
            for t in _RRF_TERMS
        ],
    )
    any_term = None
    for t in _RRF_TERMS:
        cond = F.col(f"tf_{t}") > 0
        any_term = cond if any_term is None else any_term | cond
    # identical double arithmetic to the oracle's sc CTE, term by term,
    # summed in fixed term order; absent terms contribute exactly 0.0
    # (the oracle's coalesce(sum(CASE ...), 0))
    score = None
    for t in _RRF_TERMS:
        tf_t, dft_t = F.col(f"tf_{t}"), F.col(f"dft_{t}")
        piece = F.when(
            tf_t > 0,
            ((F.col("n_docs") - dft_t + 0.5) / (dft_t + 0.5))
            * (tf_t * 2.2)
            / (
                tf_t
                + 1.2
                * (0.25 + 0.75 * F.col("dl") * F.col("n_docs") / F.col("sum_dl"))
            ),
        ).otherwise(F.lit(0.0))
        score = piece if score is None else score + piece
    brank = (
        perdoc.filter(any_term)
        .crossJoin(stats)
        .select("doc_id", score.alias("score"))
        .withColumn(
            "rk", F.row_number().over(Window.orderBy(F.col("score").desc(), "doc_id"))
        )
        .filter(F.col("rk") <= _RRF_DEPTH)
        .select("doc_id", F.col("rk").alias("bm25_rank"))
    )
    q_grams = sorted({_RRF_QUERY[i : i + 3] for i in range(len(_RRF_QUERY) - 2)})
    qg = F.array(*[F.lit(x) for x in q_grams])
    # r12: materialize the head and the gram array in their OWN
    # projections (the r4 inline-k-gram rule): the previous inline
    # `transform(..., i -> substring(substring(text, 1, cap), i, 3))`
    # re-evaluated the inner substring per lambda element, and the
    # n_shared filter's predicate pushdown re-inlined the ENTIRE gram
    # build into the scan filter — the gram expression ran twice per
    # row (plan showed two transform() trees). Measured solo at sf0.1:
    # gram leg 4.1s -> 1.8s, tscore alone 2.4s -> 0.93s.
    tg = (
        d.select("doc_id", F.substring(F.col("text"), 1, _RRF_CAP).alias("h"))
        .select(
            "doc_id",
            F.expr(
                "transform(sequence(1, length(h) - 2), i -> substring(h, i, 3))"
            ).alias("g0"),
        )
        .select("doc_id", F.array_distinct("g0").alias("g"))
    )
    tscore = tg.select(
        "doc_id",
        F.size(F.array_intersect(F.col("g"), qg)).cast("long").alias("n_shared"),
        F.size("g").cast("long").alias("ng"),
    )
    jac = F.col("n_shared") * 1.0 / (F.col("ng") + len(q_grams) - F.col("n_shared"))
    # rank ALL docs then filter: jac = 0 exactly when n_shared = 0 and
    # jac > 0 otherwise, so every zero-share doc sorts strictly after
    # every sharing doc — the sharing docs' row_numbers are identical
    # to the filter-first shape, and the combined filter keeps exactly
    # the same rows (asserted row-equal in the A/B). Filtering FIRST
    # pushed `n_shared > 0` below the projection and re-ran the gram
    # build in the scan filter; WindowGroupLimit still bounds the
    # rank sort to per-partition top-k either way.
    trank = (
        tscore.withColumn(
            "rk", F.row_number().over(Window.orderBy(jac.desc(), "doc_id"))
        )
        .filter((F.col("rk") <= _RRF_DEPTH) & (F.col("n_shared") > 0))
        .select("doc_id", F.col("rk").alias("trigram_rank"))
    )
    fused = brank.join(trank, "doc_id", "full_outer").select(
        "doc_id",
        "bm25_rank",
        "trigram_rank",
        (
            F.coalesce(1.0 / (F.lit(_RRF_K) + F.col("bm25_rank")), F.lit(0.0))
            + F.coalesce(1.0 / (F.lit(_RRF_K) + F.col("trigram_rank")), F.lit(0.0))
        ).alias("rrf"),
    )
    return (
        fused.orderBy(F.col("rrf").desc(), "doc_id")
        .limit(_RRF_TOPK)
        .select(
            "doc_id",
            "bm25_rank",
            "trigram_rank",
            F.round("rrf", 6).alias("rrf_score"),
        )
    )


# ---------------------------------------------------------------------------
# Empirical-Bayes shrinkage of per-part return rates
# ---------------------------------------------------------------------------

_EB_ORACLE = """
WITH pr AS (
  SELECT l_partkey AS partkey,
         CAST(count(*) AS BIGINT) AS n_lines,
         CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT)
           AS n_returns
  FROM lineitem GROUP BY 1
),
mom AS (
  SELECT count(*) AS k,
         sum(n_returns * 1.0 / n_lines) AS sp,
         sum((n_returns * 1.0 / n_lines) * (n_returns * 1.0 / n_lines)) AS spp
  FROM pr
),
prior AS (
  SELECT (sp / k) AS m,
         ((sp / k) * (1 - sp / k))
           / ((spp - sp * sp / k) / (k - 1)) - 1 AS kappa
  FROM mom
)
SELECT pr.partkey, pr.n_lines, pr.n_returns,
       round(pr.n_returns * 1.0 / pr.n_lines, 6) AS raw_rate,
       round((pr.n_returns + prior.m * prior.kappa)
             / (pr.n_lines + prior.kappa), 6) AS shrunk_rate
FROM pr CROSS JOIN prior
"""


@register("empirical_bayes_return_rates", oracle=_EB_ORACLE, tags=("stats", "agg"))
def empirical_bayes_return_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical-Bayes (beta-prior) shrinkage of per-part return
    rates: the method-of-moments prior Beta(m*kappa, (1-m)*kappa) fit
    from the across-part rate mean/variance, then every part's rate is
    partially pooled as (r + m*kappa)/(n + kappa) — a part with 3
    lines no longer swings between 0% and 67% return rate; a part with
    3,000 lines keeps its own signal. The standard small-sample
    ranking fix for rate leaderboards.

    Determinism: per-part rates are exact-integer ratios; the prior
    moments use EXPLICIT sum / sum-of-squares formulas (never an
    engine's var_samp, whose accumulation algorithms differ); the
    rate-sum float noise (~1e-13 over part cardinality) passes through
    kappa into a 6dp-rounded output with orders-of-magnitude headroom.
    Assumes the rate variance is positive and below m(1-m) — true for
    any non-degenerate corpus; a degenerate all-equal-rates corpus
    would need a kappa guard, documented rather than silently clamped.

    Scale notes: ONE fact scan folds to part grain (map-side
    combinable); the prior is a 1-row second-level fold over the
    part-grain frame, crossJoined back as a broadcast literal.
    """
    li = _t(spark, sf_dir, "lineitem")
    pr = (
        li.groupBy(F.col("l_partkey").alias("partkey"))
        .agg(
            F.count("*").cast("long").alias("n_lines"),
            F.sum(F.when(F.col("l_returnflag") == "R", 1).otherwise(0))
            .cast("long")
            .alias("n_returns"),
        )
    )
    rate = F.col("n_returns") * 1.0 / F.col("n_lines")
    mom = pr.agg(
        F.count("*").alias("k"),
        F.sum(rate).alias("sp"),
        F.sum(rate * rate).alias("spp"),
    )
    m = F.col("sp") / F.col("k")
    v = (F.col("spp") - F.col("sp") * F.col("sp") / F.col("k")) / (F.col("k") - 1)
    prior = mom.select(m.alias("m"), (m * (1 - m) / v - 1).alias("kappa"))
    return pr.crossJoin(prior).select(
        "partkey",
        "n_lines",
        "n_returns",
        F.round(rate, 6).alias("raw_rate"),
        F.round(
            (F.col("n_returns") + F.col("m") * F.col("kappa"))
            / (F.col("n_lines") + F.col("kappa")),
            6,
        ).alias("shrunk_rate"),
    )
