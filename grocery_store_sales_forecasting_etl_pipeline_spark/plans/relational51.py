"""Round-6 additions, batch 51: second-order text and similarity
statistics — per-document bigram surprisal (the conditional-LM
perplexity proxy, one order above doc_unigram_surprisal), supplier
set-overlap Jaccard (who ships the same catalog — the co-occurrence
similarity used for substitution analysis), nation-level brand
diversity indices (Simpson / Shannon / effective-count, the
concentration metrics ecology and antitrust share), and the weekly
revenue PACF at lags 1-3 (Durbin-Levinson closed form over the same
pair-Pearson ACF the acf query emits — the statistic that separates
AR(1) momentum from genuine higher-order structure).

Determinism discipline: all counts exact BIGINT; Simpson's n(n-1)
products and the PACF sufficient statistics accumulate in
DECIMAL(38,0)/HUGEINT; every log/exp/sqrt double tree is textually
identical on both sides and rounds once at the boundary (the
doc_unigram_surprisal "ln exception" policy); Jaccard is a single
division of integers.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from grocery_store_sales_forecasting_etl_pipeline_spark.plans._tables import table as _t
from grocery_store_sales_forecasting_etl_pipeline_spark.plans.registry import register
from grocery_store_sales_forecasting_etl_pipeline_spark.plans.relational15 import (
    _WEEKLY_CTE,
    _weekly_dollars,
)

# ---------------------------------------------------------------------------
# Per-document bigram surprisal
# ---------------------------------------------------------------------------

_BIGRAM_SURPRISAL_ORACLE = """
WITH t AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS tk
  FROM documents WHERE text IS NOT NULL AND trim(text) <> ''
),
uni AS (SELECT unnest(tk) AS w FROM t),
ucnt AS (SELECT w, CAST(count(*) AS BIGINT) AS c1 FROM uni GROUP BY w),
vocab AS (SELECT CAST(count(*) AS BIGINT) AS v FROM ucnt),
bi AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(tk)),
                i -> tk[i] || ' ' || tk[i + 1])) AS bg
  FROM t
),
bcnt AS (SELECT bg, CAST(count(*) AS BIGINT) AS c_xy FROM bi GROUP BY bg),
sc AS (
  SELECT b.doc_id,
         CAST(count(*) AS BIGINT) AS n_bigrams,
         sum(-log2((bc.c_xy + 1)
                   / CAST(u.c1 + vocab.v AS DOUBLE))) AS s
  FROM bi b
  JOIN bcnt bc ON b.bg = bc.bg
  JOIN ucnt u ON str_split(b.bg, ' ')[1] = u.w
  CROSS JOIN vocab
  GROUP BY b.doc_id
)
SELECT doc_id, n_bigrams,
       round(s / n_bigrams, 4) AS mean_bigram_surprisal_bits
FROM sc
"""


@register(
    "doc_bigram_surprisal",
    oracle=_BIGRAM_SURPRISAL_ORACLE,
    tags=("text", "quality"),
)
def doc_bigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document mean bigram surprisal (bits) under the corpus's own
    add-1-smoothed conditional model P(w2|w1) = (c(w1 w2)+1)/(c(w1)+V)
    — one order above doc_unigram_surprisal: a document of common words
    in UNUSUAL sequence scores high here while scoring low there, the
    gap a fluency-based quality filter keys on. Documents with fewer
    than two tokens have no bigrams and drop out (both engines, by join
    construction).

    Log policy: the per-term -log2 of an exact integer ratio is the
    documented ln exception; the per-doc mean divides by an exact count
    and rounds at 4dp (sum noise bounded by document length).

    Scale notes: tokens materialize once per doc (r4 perf learning),
    bigrams come from the materialized array with explode_outer
    (InferFiltersFromGenerate suppression); the bigram-count and
    w1-count frames are vocab-bounded (each feeds the scoring join AND
    its own totals), and join back on the
    inverted-postings shape — token-keyed, co-partitioned, map-side
    combinable. Nothing is corpus-grain after the folds.
    """
    d = _t(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull() & (F.trim("text") != "")
    )
    toks = d.select("doc_id", F.split(F.trim("text"), r"\s+").alias("tk"))
    uni = toks.select(F.explode_outer("tk").alias("w"))
    ucnt = uni.groupBy("w").agg(F.count("*").cast("long").alias("c1"))
    vocab = ucnt.agg(F.count("*").cast("long").alias("v"))
    bi = toks.select(
        "doc_id",
        F.explode_outer(
            F.expr(
                "transform(sequence(1, size(tk) - 1), "
                "i -> concat(element_at(tk, i), ' ', element_at(tk, i + 1)))"
            )
        ).alias("bg"),
    ).filter(F.col("bg").isNotNull())
    bcnt = bi.groupBy("bg").agg(F.count("*").cast("long").alias("c_xy"))
    sc = (
        bi.join(bcnt, "bg")
        .join(
            ucnt,
            F.split_part(F.col("bg"), F.lit(" "), F.lit(1)) == F.col("w"),
        )
        .crossJoin(vocab)
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_bigrams"),
            F.sum(
                -F.log2(
                    (F.col("c_xy") + 1) / (F.col("c1") + F.col("v")).cast("double")
                )
            ).alias("s"),
        )
    )
    return sc.select(
        "doc_id",
        "n_bigrams",
        F.round(F.col("s") / F.col("n_bigrams"), 4).alias(
            "mean_bigram_surprisal_bits"
        ),
    )


# ---------------------------------------------------------------------------
# Supplier set-overlap Jaccard
# ---------------------------------------------------------------------------

_SUPPLIER_JACCARD_ORACLE = """
WITH sp AS (
  SELECT DISTINCT l_suppkey AS s, l_partkey AS p FROM lineitem
),
sz AS (SELECT s, CAST(count(*) AS BIGINT) AS a FROM sp GROUP BY s),
inter AS (
  SELECT x.s AS s1, y.s AS s2, CAST(count(*) AS BIGINT) AS i
  FROM sp x JOIN sp y ON x.p = y.p AND x.s < y.s
  GROUP BY 1, 2
),
j AS (
  SELECT i.s1, i.s2, i.i AS n_shared,
         z1.a AS n_parts_1, z2.a AS n_parts_2,
         round(CAST(i.i AS DOUBLE) / (z1.a + z2.a - i.i), 6) AS jaccard
  FROM inter i
  JOIN sz z1 ON i.s1 = z1.s
  JOIN sz z2 ON i.s2 = z2.s
)
SELECT * FROM j
ORDER BY jaccard DESC, s1, s2
LIMIT 20
"""


@register(
    "supplier_overlap_jaccard",
    oracle=_SUPPLIER_JACCARD_ORACLE,
    tags=("similarity", "join", "agg"),
)
def supplier_overlap_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 supplier pairs by Jaccard similarity of their shipped
    part sets — the set-overlap screen for substitutable suppliers,
    computed by the postings self-join (pairs generated per shared
    part, the MinHash-free exact baseline). Deterministic ties broken
    by the (s1, s2) key.

    Scale notes: the pair generation is blocked by part — cost is
    Σ_p d_p², bounded by per-part supplier fan-out, not |suppliers|²
    (the doc_ngram_jaccard df-cap pattern applies verbatim if a part's
    supplier list explodes; here TPC-H fan-out is bounded by design).
    The distinct fold and both count folds are map-side combinable;
    the size join broadcasts the supplier-grain frame; top-k is
    TakeOrderedAndProject.
    """
    li = _t(spark, sf_dir, "lineitem")
    sp = li.select(
        F.col("l_suppkey").alias("s"), F.col("l_partkey").alias("p")
    ).distinct().localCheckpoint(eager=False)  # A/B sf1: 5.36 s with, 6.24 s without
    sz = sp.groupBy("s").agg(F.count("*").cast("long").alias("a"))
    x = sp.select(F.col("s").alias("s1"), F.col("p").alias("p1"))
    y = sp.select(F.col("s").alias("s2"), F.col("p").alias("p2"))
    inter = (
        x.join(y, (F.col("p1") == F.col("p2")) & (F.col("s1") < F.col("s2")))
        .groupBy("s1", "s2")
        .agg(F.count("*").cast("long").alias("n_shared"))
    )
    z1 = sz.select(F.col("s").alias("s1"), F.col("a").alias("n_parts_1"))
    z2 = sz.select(F.col("s").alias("s2"), F.col("a").alias("n_parts_2"))
    j = (
        inter.join(z1, "s1")
        .join(z2, "s2")
        .select(
            "s1",
            "s2",
            "n_shared",
            "n_parts_1",
            "n_parts_2",
            F.round(
                F.col("n_shared").cast("double")
                / (F.col("n_parts_1") + F.col("n_parts_2") - F.col("n_shared")),
                6,
            ).alias("jaccard"),
        )
    )
    return j.orderBy(F.desc("jaccard"), "s1", "s2").limit(20)


# ---------------------------------------------------------------------------
# Nation-level brand diversity indices
# ---------------------------------------------------------------------------

_DIVERSITY_ORACLE = """
WITH mix AS (
  SELECT n.n_name AS nation, p.p_brand AS brand,
         CAST(count(*) AS BIGINT) AS c
  FROM lineitem l
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN nation n ON s.s_nationkey = n.n_nationkey
  JOIN part p ON l.l_partkey = p.p_partkey
  GROUP BY 1, 2
),
agg AS (
  SELECT nation,
         CAST(sum(c) AS BIGINT) AS n_lines,
         CAST(count(*) AS BIGINT) AS n_brands,
         sum(CAST(c AS HUGEINT) * (c - 1)) AS pairsum,
         sum(c * ln(c)) AS clogc
  FROM mix GROUP BY nation
)
SELECT nation, n_lines, n_brands,
       round(CAST(pairsum AS DOUBLE)
             / (CAST(n_lines AS DOUBLE) * (n_lines - 1)), 6) AS simpson,
       round(ln(n_lines) - clogc / n_lines, 6) AS shannon,
       round(exp(ln(n_lines) - clogc / n_lines), 4) AS effective_brands
FROM agg
"""


@register(
    "nation_brand_diversity", oracle=_DIVERSITY_ORACLE, tags=("stats", "agg", "join")
)
def nation_brand_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brand-mix diversity per supplier nation: Simpson's index (the
    probability two random lines share a brand — the concentration twin
    of HHI), Shannon entropy, and the effective brand count exp(H) —
    the assortment-breadth readout a category manager compares across
    markets.

    Numerics: Simpson's pair sum Σ c(c-1) accumulates in
    DECIMAL(38,0)/HUGEINT (c² crosses BIGINT at ~3e9 lines per cell);
    Shannon uses the n·ln(n) fold form (ln(N) - Σc·ln(c)/N) with one
    6dp rounding; the exp tree is identical text on both sides.

    Scale notes: one fact fold to the (nation, brand) cell frame after
    two broadcast dim joins — map-side combinable, cell-bounded; the
    index arithmetic runs on the 25-row nation frame.
    """
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    p = _t(spark, sf_dir, "part")
    d38 = "decimal(38,0)"
    mix = (
        li.join(s.select("s_suppkey", "s_nationkey"),
                li.l_suppkey == F.col("s_suppkey"))
        .join(n.select("n_nationkey", "n_name"),
              F.col("s_nationkey") == F.col("n_nationkey"))
        .join(p.select("p_partkey", "p_brand"),
              li.l_partkey == F.col("p_partkey"))
        .groupBy(F.col("n_name").alias("nation"), F.col("p_brand").alias("brand"))
        .agg(F.count("*").cast("long").alias("c"))
    )
    agg = mix.groupBy("nation").agg(
        F.sum("c").cast("long").alias("n_lines"),
        F.count("*").cast("long").alias("n_brands"),
        F.sum(F.col("c").cast(d38) * (F.col("c") - 1)).alias("pairsum"),
        F.sum(F.col("c") * F.log(F.col("c"))).alias("clogc"),
    )
    shannon = F.log(F.col("n_lines")) - F.col("clogc") / F.col("n_lines")
    return agg.select(
        "nation",
        "n_lines",
        "n_brands",
        F.round(
            F.col("pairsum").cast("double")
            / (F.col("n_lines").cast("double") * (F.col("n_lines") - 1)),
            6,
        ).alias("simpson"),
        F.round(shannon, 6).alias("shannon"),
        F.round(F.exp(shannon), 4).alias("effective_brands"),
    )


# ---------------------------------------------------------------------------
# Weekly revenue PACF (Durbin-Levinson closed form, lags 1-3)
# ---------------------------------------------------------------------------

_PACF_ORACLE = _WEEKLY_CTE + """,
led AS (
  SELECT dollars AS x,
         lead(dollars, 1) OVER (ORDER BY week_start) AS y1,
         lead(dollars, 2) OVER (ORDER BY week_start) AS y2,
         lead(dollars, 3) OVER (ORDER BY week_start) AS y3
  FROM weekly
),
pairs AS (
  SELECT 1 AS lag, x, y1 AS y FROM led WHERE y1 IS NOT NULL
  UNION ALL
  SELECT 2, x, y2 FROM led WHERE y2 IS NOT NULL
  UNION ALL
  SELECT 3, x, y3 FROM led WHERE y3 IS NOT NULL
),
stats AS (
  SELECT lag, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(x AS HUGEINT)) AS HUGEINT) AS sx,
         CAST(sum(CAST(y AS HUGEINT)) AS HUGEINT) AS sy,
         CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy,
         CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
         CAST(sum(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy
  FROM pairs GROUP BY lag
),
rs AS (
  SELECT lag,
         (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
            - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
         / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                 - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
              * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                 - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) AS r
  FROM stats
),
piv AS (
  SELECT max(CASE WHEN lag = 1 THEN r END) AS r1,
         max(CASE WHEN lag = 2 THEN r END) AS r2,
         max(CASE WHEN lag = 3 THEN r END) AS r3
  FROM rs
),
dl AS (
  SELECT r1, r2, r3,
         (r2 - r1 * r1) / (1 - r1 * r1) AS phi2
  FROM piv
),
dl2 AS (
  SELECT r1, r2, r3, phi2,
         r1 - phi2 * r1 AS a21
  FROM dl
)
SELECT round(r1, 6) AS acf1,
       round(r2, 6) AS acf2,
       round(r3, 6) AS acf3,
       round(r1, 6) AS pacf1,
       round(phi2, 6) AS pacf2,
       round((r3 - a21 * r2 - phi2 * r1)
             / (1 - a21 * r1 - phi2 * r2), 6) AS pacf3
FROM dl2
"""


@register("weekly_revenue_pacf", oracle=_PACF_ORACLE, tags=("timeseries", "window"))
def weekly_revenue_pacf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial autocorrelation of the weekly revenue series at lags
    1-3 via the Durbin-Levinson closed form over the same pair-Pearson
    autocorrelations weekly_revenue_acf emits: pacf1 = r1,
    pacf2 = (r2 - r1²)/(1 - r1²), pacf3 from the order-2 prediction
    coefficients — the statistic an AR-order selection reads (PACF
    cutting off after lag k ⇒ AR(k)).

    Numerics: the sufficient statistics per lag accumulate in
    DECIMAL(38,0)/HUGEINT (the acf overflow rule); the r values and
    the whole DL recursion are textually identical double trees on
    both sides, with rounding only at the output boundary.

    Scale notes: identical shape to weekly_revenue_acf — the fact scan
    folds to the weekly frame before any window; the three lag pairs
    explode map-only from one lead() pass; everything downstream is a
    3-row frame.
    """
    weekly = _weekly_dollars(spark, sf_dir)
    w = Window.orderBy("week_start")
    led = weekly.select(
        F.col("dollars").alias("x"),
        *[F.lead("dollars", k).over(w).alias(f"y{k}") for k in (1, 2, 3)],
    )
    pairs = (
        led.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(k).cast("long").alias("lag"),
                            F.col("x"),
                            F.col(f"y{k}").alias("y"),
                        )
                        for k in (1, 2, 3)
                    ]
                )
            ).alias("p")
        )
        .select("p.lag", "p.x", "p.y")
        .filter(F.col("y").isNotNull())
    )
    d38 = "decimal(38,0)"
    dx = F.col("x").cast(d38)
    dy = F.col("y").cast(d38)
    stats = pairs.groupBy("lag").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(dx).alias("sx"),
        F.sum(dy).alias("sy"),
        F.sum(dx * F.col("y")).alias("sxy"),
        F.sum(dx * F.col("x")).alias("sxx"),
        F.sum(dy * F.col("y")).alias("syy"),
    )
    n = F.col("n").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxy = F.col("sxy").cast("double")
    sxx, syy = F.col("sxx").cast("double"), F.col("syy").cast("double")
    rs = stats.select(
        "lag",
        (
            (n * sxy - sx * sy)
            / F.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))
        ).alias("r"),
    )
    piv = rs.agg(
        F.max(F.when(F.col("lag") == 1, F.col("r"))).alias("r1"),
        F.max(F.when(F.col("lag") == 2, F.col("r"))).alias("r2"),
        F.max(F.when(F.col("lag") == 3, F.col("r"))).alias("r3"),
    )
    phi2 = (F.col("r2") - F.col("r1") * F.col("r1")) / (
        1 - F.col("r1") * F.col("r1")
    )
    dl2 = piv.select("r1", "r2", "r3", phi2.alias("phi2")).select(
        "r1",
        "r2",
        "r3",
        "phi2",
        (F.col("r1") - F.col("phi2") * F.col("r1")).alias("a21"),
    )
    return dl2.select(
        F.round(F.col("r1"), 6).alias("acf1"),
        F.round(F.col("r2"), 6).alias("acf2"),
        F.round(F.col("r3"), 6).alias("acf3"),
        F.round(F.col("r1"), 6).alias("pacf1"),
        F.round(F.col("phi2"), 6).alias("pacf2"),
        F.round(
            (F.col("r3") - F.col("a21") * F.col("r2") - F.col("phi2") * F.col("r1"))
            / (1 - F.col("a21") * F.col("r1") - F.col("phi2") * F.col("r2")),
            6,
        ).alias("pacf3"),
    )
