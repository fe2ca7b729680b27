"""Round-6 additions, batch 63: dependence beyond correlation and
feature hygiene — upper-tail dependence of price and quantity (do
extremes co-occur even when correlation says nothing — the copula
quantity risk teams actually need), Church-Gale term burstiness (which
vocabulary terms clump into few documents vs spread evenly — the
lexical statistic behind stopword and keyword induction), a
near-zero-variance feature screen (the caret-style pre-modeling gate
that drops degenerate columns), and per-nation lag-1 autocorrelation
of weekly revenue (which MARKETS carry momentum — the grouped twin of
the global ACF).

Determinism discipline: tail exceedance thresholds are exact order
statistics by integer cross-multiplication; burstiness VMRs come from
integer tf sufficient statistics (HUGEINT/DECIMAL squares); the NZV
ratios are single divisions of BIGINT counts; grouped ACF reuses the
exact pair-Pearson sufficient-statistic machinery per nation.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from grocery_store_sales_forecasting_etl_pipeline_spark.plans._tables import table as _t
from grocery_store_sales_forecasting_etl_pipeline_spark.plans.registry import register

# ---------------------------------------------------------------------------
# Upper-tail dependence (price vs quantity)
# ---------------------------------------------------------------------------

_TAIL_DEP_ORACLE = """
WITH x AS (
  SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS p,
         CAST(round(l_quantity * 100) AS BIGINT) AS q
  FROM lineitem
),
pv AS (
  SELECT p AS v, CAST(count(*) AS BIGINT) AS c FROM x GROUP BY p
),
pc AS (
  SELECT v,
         CAST(sum(c) OVER (ORDER BY v
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS cum,
         CAST(sum(c) OVER () AS BIGINT) AS n
  FROM pv
),
qv AS (
  SELECT q AS v, CAST(count(*) AS BIGINT) AS c FROM x GROUP BY q
),
qc AS (
  SELECT v,
         CAST(sum(c) OVER (ORDER BY v
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS cum,
         CAST(sum(c) OVER () AS BIGINT) AS n
  FROM qv
),
th AS (
  SELECT (SELECT min(CASE WHEN cum >= (95 * n + 99) // 100 THEN v END)
          FROM pc) AS p95,
         (SELECT min(CASE WHEN cum >= (95 * n + 99) // 100 THEN v END)
          FROM qc) AS q95
),
cnt AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CASE WHEN x.p > th.p95 THEN 1 ELSE 0 END) AS BIGINT) AS np,
         CAST(sum(CASE WHEN x.q > th.q95 THEN 1 ELSE 0 END) AS BIGINT) AS nq,
         CAST(sum(CASE WHEN x.p > th.p95 AND x.q > th.q95 THEN 1 ELSE 0 END)
              AS BIGINT) AS nboth,
         any_value(th.p95) AS p95, any_value(th.q95) AS q95
  FROM x CROSS JOIN th
)
SELECT n AS n_lines, p95 AS p95_cents, q95 AS q95_centi, np, nq, nboth,
       round(CAST(nboth AS DOUBLE) / np, 6) AS lambda_upper,
       round((CAST(nboth AS DOUBLE) * n) / (CAST(np AS DOUBLE) * nq), 6)
         AS exceedance_lift
FROM cnt
"""


@register("price_qty_tail_dependence", oracle=_TAIL_DEP_ORACLE, tags=("stats",))
def price_qty_tail_dependence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical upper-tail dependence of line price and quantity:
    λ_U = P(quantity > q95 | price > p95) with both thresholds as
    exact 95th-percentile order statistics, plus the exceedance lift
    vs independence. Correlation summarizes the middle of a joint
    distribution; λ_U answers whether EXTREMES co-occur — the quantity
    that decides if a stress scenario should shock both columns at
    once. Complements price_qty_partial_corr: near-zero correlation
    with positive tail lift is exactly the case correlation misses.

    Numerics: thresholds are exact integer order statistics selected
    on the VALUE-COUNT frame — the smallest value whose cumulative
    count reaches rank (95n+99)//100 (identical to the rank selection,
    tie-independent); all exceedance counts are BIGINTs; two divisions
    at the boundary.

    Scale notes: the thresholds come from two value-domain cumulative
    frames (the brown_forsythe median discipline — a bare
    row_number-over-everything rank sorted the 6M-row fact TWICE in a
    single partition and measured 26s/7.8x at the 10x probe; the
    value-count form is 2.8s/1.1x), broadcast as one scalar row, then
    ONE conditional fold over the fact scan.
    """
    li = _t(spark, sf_dir, "lineitem")
    x = li.select(
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("p"),
        F.round(F.col("l_quantity") * 100).cast("long").alias("q"),
    )

    def p95_of(col: str):
        vc = x.groupBy(F.col(col).alias("v")).agg(
            F.count("*").cast("long").alias("c")
        )
        w_cum = Window.orderBy("v").rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
        cum = vc.select(
            "v",
            F.sum("c").over(w_cum).cast("long").alias("cum"),
            F.sum("c").over(Window.partitionBy()).cast("long").alias("n"),
        )
        return cum.agg(
            F.min(
                F.when(
                    F.col("cum") >= F.floor((95 * F.col("n") + 99) / 100),
                    F.col("v"),
                )
            ).alias(f"{col}95")
        )

    th = p95_of("p").crossJoin(p95_of("q"))
    cnt = x.crossJoin(th).agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.when(F.col("p") > F.col("p95"), 1).otherwise(0))
        .cast("long")
        .alias("np"),
        F.sum(F.when(F.col("q") > F.col("q95"), 1).otherwise(0))
        .cast("long")
        .alias("nq"),
        F.sum(
            F.when((F.col("p") > F.col("p95")) & (F.col("q") > F.col("q95")), 1)
            .otherwise(0)
        )
        .cast("long")
        .alias("nboth"),
        F.first("p95").alias("p95"),
        F.first("q95").alias("q95"),
    )
    return cnt.select(
        F.col("n").alias("n_lines"),
        F.col("p95").alias("p95_cents"),
        F.col("q95").alias("q95_centi"),
        "np",
        "nq",
        "nboth",
        F.round(F.col("nboth").cast("double") / F.col("np"), 6).alias(
            "lambda_upper"
        ),
        F.round(
            (F.col("nboth").cast("double") * F.col("n"))
            / (F.col("np").cast("double") * F.col("nq")),
            6,
        ).alias("exceedance_lift"),
    )


# ---------------------------------------------------------------------------
# Church-Gale term burstiness
# ---------------------------------------------------------------------------

_BURSTINESS_ORACLE = """
WITH tok AS (
  SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS token
  FROM documents WHERE text IS NOT NULL AND trim(text) <> ''
),
tf AS (
  SELECT token, doc_id, CAST(count(*) AS BIGINT) AS tf
  FROM tok GROUP BY token, doc_id
),
st AS (
  SELECT token,
         CAST(count(*) AS BIGINT) AS df,
         CAST(sum(tf) AS BIGINT) AS cf,
         CAST(sum(CAST(tf AS HUGEINT) * tf) AS HUGEINT) AS qf
  FROM tf GROUP BY token
),
rk AS (
  SELECT token, df, cf, qf,
         CAST(row_number() OVER (ORDER BY df DESC, token) AS BIGINT) AS rnk
  FROM st
)
SELECT token, df, cf, rnk,
       round(CAST(cf AS DOUBLE) / df, 4) AS mean_tf,
       round(CASE WHEN df > 1 THEN
         ((CAST(qf AS DOUBLE) - CAST(cf AS DOUBLE) * cf / df) / (df - 1))
         / (CAST(cf AS DOUBLE) / df) END, 4) AS burstiness_vmr
FROM rk WHERE rnk <= 50
"""


@register("term_burstiness_topk", oracle=_BURSTINESS_ORACLE, tags=("text",))
def term_burstiness_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Church-Gale burstiness for the 50 highest-df terms: the
    variance-to-mean ratio of a term's within-document frequency,
    computed over the documents that contain it. VMR near 1 is a
    Poisson "function word" (spreads evenly — stopword candidate);
    VMR >> 1 is a bursty "content word" (clumps into few documents —
    keyword candidate). The lexical statistic that separates the two
    roles WITHOUT a stopword list — which is how corpus pipelines
    bootstrap one.

    Numerics: (df, cf, Σtf²) are exact integers (HUGEINT/DECIMAL for
    the square sum); mean and VMR are identical rational trees; df=1
    terms emit NULL VMR on both sides; top-k ties break on token.

    Scale notes: the (token, doc) fold is the standard postings shape
    (map-side combinable); the per-token fold is vocab-bounded; top-k
    is TakeOrderedAndProject.
    """
    d = _t(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull() & (F.trim("text") != "")
    )
    tok = d.select(
        "doc_id", F.explode_outer(F.split(F.trim("text"), r"\s+")).alias("token")
    ).filter(F.col("token").isNotNull())
    tf = tok.groupBy("token", "doc_id").agg(F.count("*").cast("long").alias("tf"))
    d38 = "decimal(38,0)"
    st = tf.groupBy("token").agg(
        F.count("*").cast("long").alias("df"),
        F.sum("tf").cast("long").alias("cf"),
        F.sum(F.col("tf").cast(d38) * F.col("tf")).alias("qf"),
    )
    rk = st.select(
        "token",
        "df",
        "cf",
        "qf",
        F.row_number()
        .over(Window.orderBy(F.desc("df"), F.asc("token")))
        .cast("long")
        .alias("rnk"),
    ).filter(F.col("rnk") <= 50)
    mean_tf = F.col("cf").cast("double") / F.col("df")
    vmr = F.when(
        F.col("df") > 1,
        (
            (
                F.col("qf").cast("double")
                - F.col("cf").cast("double") * F.col("cf") / F.col("df")
            )
            / (F.col("df") - 1)
        )
        / (F.col("cf").cast("double") / F.col("df")),
    )
    return rk.select(
        "token",
        "df",
        "cf",
        "rnk",
        F.round(mean_tf, 4).alias("mean_tf"),
        F.round(vmr, 4).alias("burstiness_vmr"),
    )


# ---------------------------------------------------------------------------
# Near-zero-variance feature screen
# ---------------------------------------------------------------------------

_NZV_ORACLE = """
WITH feats AS (
  SELECT 'o_orderpriority' AS feature, o_orderpriority AS v FROM orders
  UNION ALL
  SELECT 'o_orderstatus', o_orderstatus FROM orders
  UNION ALL
  SELECT 'order_year', CAST(year(o_orderdate) AS VARCHAR) FROM orders
),
per AS (
  SELECT feature, v, CAST(count(*) AS BIGINT) AS c
  FROM feats GROUP BY feature, v
),
rk AS (
  SELECT feature, c,
         CAST(row_number() OVER (PARTITION BY feature ORDER BY c DESC, c)
              AS BIGINT) AS rnk,
         CAST(count(*) OVER (PARTITION BY feature) AS BIGINT) AS n_distinct,
         CAST(sum(c) OVER (PARTITION BY feature) AS BIGINT) AS n_rows
  FROM per
)
SELECT feature,
       any_value(n_distinct) AS n_distinct,
       any_value(n_rows) AS n_rows,
       round(CAST(max(CASE WHEN rnk = 1 THEN c END) AS DOUBLE)
             / max(CASE WHEN rnk = 2 THEN c END), 4) AS freq_ratio,
       round(CAST(any_value(n_distinct) AS DOUBLE)
             / any_value(n_rows) * 100, 6) AS pct_unique,
       CAST(CASE WHEN CAST(max(CASE WHEN rnk = 1 THEN c END) AS DOUBLE)
                      / max(CASE WHEN rnk = 2 THEN c END) > 19
                  AND CAST(any_value(n_distinct) AS DOUBLE)
                      / any_value(n_rows) * 100 < 10
            THEN 1 ELSE 0 END AS BIGINT) AS near_zero_variance
FROM rk
GROUP BY feature
"""


@register("nzv_feature_screen", oracle=_NZV_ORACLE, tags=("ml-eval", "profiling"))
def nzv_feature_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-zero-variance feature screen (the caret convention): per
    candidate feature, the frequency ratio of the most common to the
    second-most-common value and the percent of unique values; a
    feature is flagged NZV when freq_ratio > 19 AND pct_unique < 10 —
    a column that is almost constant adds variance to resampling
    estimates while carrying no signal, and this gate removes it
    before any model sees it.

    Scale notes: a 3-way map-only feature unpivot into a
    (feature, value)-keyed fold (level-bounded), then a window top-2
    on the tiny level frame. Same shape as split_gain_screen without
    the label join.
    """
    o = _t(spark, sf_dir, "orders")
    feats = o.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("o_orderpriority").alias("feature"),
                    F.col("o_orderpriority").alias("v"),
                ),
                F.struct(
                    F.lit("o_orderstatus").alias("feature"),
                    F.col("o_orderstatus").alias("v"),
                ),
                F.struct(
                    F.lit("order_year").alias("feature"),
                    F.year("o_orderdate").cast("string").alias("v"),
                ),
            )
        ).alias("f")
    ).select("f.feature", "f.v")
    per = feats.groupBy("feature", "v").agg(F.count("*").cast("long").alias("c"))
    wf = Window.partitionBy("feature")
    rk = per.select(
        "feature",
        "c",
        F.row_number()
        .over(Window.partitionBy("feature").orderBy(F.desc("c"), F.asc("c")))
        .cast("long")
        .alias("rnk"),
        F.count("*").over(wf).cast("long").alias("n_distinct"),
        F.sum("c").over(wf).cast("long").alias("n_rows"),
    )
    top1 = F.max(F.when(F.col("rnk") == 1, F.col("c")))
    top2 = F.max(F.when(F.col("rnk") == 2, F.col("c")))
    g = rk.groupBy("feature").agg(
        F.first("n_distinct").alias("n_distinct"),
        F.first("n_rows").alias("n_rows"),
        top1.alias("t1"),
        top2.alias("t2"),
    )
    freq_ratio = F.col("t1").cast("double") / F.col("t2")
    pct_unique = F.col("n_distinct").cast("double") / F.col("n_rows") * 100
    return g.select(
        "feature",
        "n_distinct",
        "n_rows",
        F.round(freq_ratio, 4).alias("freq_ratio"),
        F.round(pct_unique, 6).alias("pct_unique"),
        F.when((freq_ratio > 19) & (pct_unique < 10), 1)
        .otherwise(0)
        .cast("long")
        .alias("near_zero_variance"),
    )


# ---------------------------------------------------------------------------
# Per-nation lag-1 ACF of weekly revenue
# ---------------------------------------------------------------------------

_NATION_ACF_ORACLE = """
WITH weekly AS (
  SELECT n.n_name AS nation,
         CAST(date_trunc('week', o.o_orderdate) AS DATE) AS week_start,
         CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS cents
  FROM orders o
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  GROUP BY 1, 2
),
led AS (
  SELECT nation, cents AS x,
         lead(cents) OVER (PARTITION BY nation ORDER BY week_start) AS y
  FROM weekly
),
st AS (
  SELECT nation, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(x AS HUGEINT)) AS HUGEINT) AS sx,
         CAST(sum(CAST(y AS HUGEINT)) AS HUGEINT) AS sy,
         CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy,
         CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
         CAST(sum(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy
  FROM led WHERE y IS NOT NULL
  GROUP BY nation
)
SELECT nation, n AS n_pairs,
       round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                  * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                     - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6)
         AS acf1
FROM st
"""


@register("nation_weekly_acf1", oracle=_NATION_ACF_ORACLE, tags=("timeseries", "agg"))
def nation_weekly_acf1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1 autocorrelation of weekly revenue PER customer nation —
    the grouped twin of weekly_revenue_acf: the global series averages
    momentum away; this query finds which markets individually carry
    week-over-week persistence (forecastable with lag features) and
    which are white noise (don't bother). Exactly the segmentation a
    per-group forecaster (forecast_per_group) should be gated on.

    Numerics: the same exact pair-Pearson sufficient-statistic
    machinery as weekly_revenue_acf, per nation — HUGEINT/DECIMAL
    second moments of exact weekly cents, one identical double tree,
    6dp rounding.

    Scale notes: one fact fold to the (nation, week) frame (calendar x
    dimension bounded), a per-nation lead window over that tiny frame,
    and a 25-row sufficient-statistics fold.
    """
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    weekly = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(n, c.c_nationkey == F.col("n_nationkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.date_trunc("week", "o_orderdate").cast("date").alias("week_start"),
        )
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("cents")
        )
    )
    w = Window.partitionBy("nation").orderBy("week_start")
    led = weekly.select(
        "nation",
        F.col("cents").alias("x"),
        F.lead("cents").over(w).alias("y"),
    ).filter(F.col("y").isNotNull())
    d38 = "decimal(38,0)"
    st = led.groupBy("nation").agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.col("x").cast(d38)).alias("sx"),
        F.sum(F.col("y").cast(d38)).alias("sy"),
        F.sum(F.col("x").cast(d38) * F.col("y")).alias("sxy"),
        F.sum(F.col("x").cast(d38) * F.col("x")).alias("sxx"),
        F.sum(F.col("y").cast(d38) * F.col("y")).alias("syy"),
    )
    nn = F.col("n").cast("double")
    return st.select(
        "nation",
        F.col("n").alias("n_pairs"),
        F.round(
            (
                nn * F.col("sxy").cast("double")
                - F.col("sx").cast("double") * F.col("sy").cast("double")
            )
            / F.sqrt(
                (
                    nn * F.col("sxx").cast("double")
                    - F.col("sx").cast("double") * F.col("sx").cast("double")
                )
                * (
                    nn * F.col("syy").cast("double")
                    - F.col("sy").cast("double") * F.col("sy").cast("double")
                )
            ),
            6,
        ).alias("acf1"),
    )
