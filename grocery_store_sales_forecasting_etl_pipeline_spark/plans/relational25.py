"""Round-5 additions, batch 25: customer quartile migration between
periods, character-trigram fuzzy name search, rare-category collapse,
and the monthly seasonality index.

The migration matrix is the change-detection counterpart of
``rfm_segments`` (where did last period's top-spend quartile go?); the
trigram search is typo-tolerant retrieval over a name vocabulary (the
char-level sibling of the token inverted index); rare-category
collapse is the standard featurization guard against high-cardinality
categorical tails; the seasonality index is the grocery-forecasting
primitive (month revenue vs its year's average).

Determinism discipline as everywhere: money in integer cents, quartile
ranks over total orderings, thresholds as integer cross-multiplications
against corpus counts (scale-invariant fractions, never absolute
cutoffs), single closed-form float divisions at the output boundary.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from grocery_store_sales_forecasting_etl_pipeline_spark.plans._tables import table as _t
from grocery_store_sales_forecasting_etl_pipeline_spark.plans.registry import register

# ---------------------------------------------------------------------------
# Spend-quartile migration matrix
# ---------------------------------------------------------------------------

_CUTOFF = "1998-01-01"

_MIGRATION_ORACLE = f"""
WITH spend AS (
  SELECT c.c_mktsegment AS segment, o.o_custkey AS custkey,
         CASE WHEN o.o_orderdate < TIMESTAMP '{_CUTOFF}' THEN 'a' ELSE 'b' END
           AS period,
         CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
  GROUP BY c.c_mktsegment, o.o_custkey,
           CASE WHEN o.o_orderdate < TIMESTAMP '{_CUTOFF}' THEN 'a' ELSE 'b' END
),
qa AS (
  SELECT segment, custkey,
         ntile(4) OVER (PARTITION BY segment ORDER BY cents DESC, custkey) AS q
  FROM spend WHERE period = 'a'
),
qb AS (
  SELECT segment, custkey,
         ntile(4) OVER (PARTITION BY segment ORDER BY cents DESC, custkey) AS q
  FROM spend WHERE period = 'b'
)
SELECT coalesce(qa.segment, qb.segment) AS segment,
       CAST(coalesce(qa.q, 0) AS BIGINT) AS q_from,
       CAST(coalesce(qb.q, 0) AS BIGINT) AS q_to,
       CAST(count(*) AS BIGINT) AS n_customers
FROM qa FULL OUTER JOIN qb ON qa.segment = qb.segment AND qa.custkey = qb.custkey
GROUP BY 1, 2, 3
"""


@register("rfm_migration_matrix", oracle=_MIGRATION_ORACLE, tags=("window", "rank"))
def rfm_migration_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer spend-quartile migration: each customer's per-segment
    spend quartile in the pre-1998 period vs the post-1998 period,
    rolled to a (from, to) transition matrix — quartile 0 marks
    customers absent from a period, so churn (q_from>0, q_to=0) and
    acquisition (q_from=0) fall out as matrix margins.

    Scale notes: ONE shuffle folds orders to (segment, customer,
    period) grain; each period's quartile window is |segments|-way
    parallel with a unique-key tie tail (the rfm_segments rule); the
    migration join is customer-grain on (segment, custkey) and the
    output is at most |segments| * 25 rows at any data scale.
    """
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    spend = (
        o.select(
            "o_custkey",
            F.when(
                F.col("o_orderdate") < F.lit(f"{_CUTOFF} 00:00:00").cast("timestamp"),
                F.lit("a"),
            )
            .otherwise(F.lit("b"))
            .alias("period"),
            F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        )
        .join(
            c.select(
                F.col("c_custkey").alias("custkey"),
                F.col("c_mktsegment").alias("segment"),
            ),
            F.col("o_custkey") == F.col("custkey"),
        )
        .groupBy("segment", "custkey", "period")
        .agg(F.sum("cents").cast("long").alias("cents"))
    )
    w = Window.partitionBy("segment").orderBy(F.desc("cents"), F.asc("custkey"))
    qa = spend.filter(F.col("period") == "a").select(
        "segment", "custkey", F.ntile(4).over(w).alias("q_a")
    )
    qb = spend.filter(F.col("period") == "b").select(
        F.col("segment").alias("segment_b"),
        F.col("custkey").alias("custkey_b"),
        F.ntile(4).over(w).alias("q_b"),
    )
    joined = qa.join(
        qb,
        (qa.segment == qb.segment_b) & (qa.custkey == qb.custkey_b),
        "full_outer",
    )
    return (
        joined.select(
            F.coalesce(F.col("segment"), F.col("segment_b")).alias("segment"),
            F.coalesce(F.col("q_a"), F.lit(0)).cast("long").alias("q_from"),
            F.coalesce(F.col("q_b"), F.lit(0)).cast("long").alias("q_to"),
        )
        .groupBy("segment", "q_from", "q_to")
        .agg(F.count("*").cast("long").alias("n_customers"))
    )


# ---------------------------------------------------------------------------
# Character-trigram fuzzy name search
# ---------------------------------------------------------------------------

_FUZZY_QUERY = "red wodget"  # deliberate typo of "red widget"
_FUZZY_TOPK = 10

_FUZZY_ORACLE = f"""
WITH names AS (SELECT DISTINCT p_name FROM part),
grams AS (
  SELECT p_name,
         list_distinct(list_transform(range(1, length(p_name) - 1),
                                      i -> p_name[i : i + 2])) AS g
  FROM names
),
q AS (
  SELECT list_distinct(list_transform(range(1, length('{_FUZZY_QUERY}') - 1),
                                      i -> '{_FUZZY_QUERY}'[i : i + 2])) AS qg
),
scored AS (
  SELECT p_name,
         CAST(len(g) AS BIGINT) AS n_name_grams,
         CAST(len(list_intersect(g, q.qg)) AS BIGINT) AS n_shared,
         CAST(len(q.qg) AS BIGINT) AS n_query_grams
  FROM grams, q
)
SELECT p_name, n_name_grams, n_shared,
       round(n_shared * 1.0 / (n_name_grams + n_query_grams - n_shared), 4)
         AS jaccard
FROM scored
WHERE n_shared > 0
ORDER BY jaccard DESC, p_name
LIMIT {_FUZZY_TOPK}
"""


@register("char_trigram_fuzzy_search", oracle=_FUZZY_ORACLE, tags=("text", "search"))
def char_trigram_fuzzy_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typo-tolerant name search: every distinct part name is scored
    against the (misspelled) query 'red wodget' by character-trigram
    Jaccard, returning the top matches — the char-level retrieval
    sibling of the token inverted index that survives spelling noise
    exact lookup can't.

    Scale notes: names collapse to DISTINCT first (vocabulary grain —
    bounded by the name space, not row count); trigram sets build as
    codegen'd array expressions with the query's gram set inlined as a
    literal (a broadcast of size |query|); scoring is map-only
    array_intersect, and the top-k is TakeOrderedAndProject — no global
    sort of the vocabulary. Ties break on the name string.
    """
    p = _t(spark, sf_dir, "part")
    q_grams = sorted(
        {_FUZZY_QUERY[i : i + 3] for i in range(len(_FUZZY_QUERY) - 2)}
    )
    names = p.select("p_name").distinct()
    grams = names.select(
        "p_name",
        F.array_distinct(
            F.expr(
                "transform(sequence(1, length(p_name) - 2), i -> substring(p_name, i, 3))"
            )
        ).alias("g"),
    )
    qg = F.array(*[F.lit(x) for x in q_grams])
    scored = grams.select(
        "p_name",
        F.size("g").cast("long").alias("n_name_grams"),
        F.size(F.array_intersect(F.col("g"), qg)).cast("long").alias("n_shared"),
    )
    out = scored.filter(F.col("n_shared") > 0).select(
        "p_name",
        "n_name_grams",
        "n_shared",
        F.round(
            F.col("n_shared")
            * 1.0
            / (F.col("n_name_grams") + F.lit(len(q_grams)) - F.col("n_shared")),
            4,
        ).alias("jaccard"),
    )
    return out.orderBy(F.desc("jaccard"), F.asc("p_name")).limit(_FUZZY_TOPK)


# ---------------------------------------------------------------------------
# Rare-category collapse
# ---------------------------------------------------------------------------

# A category is rare when it covers < 1.5% of parts — a FRACTION of the
# table (integer cross-multiplied), so the collapse is scale-invariant.
_COLLAPSE_ORACLE = """
WITH cnt AS (
  SELECT p_name AS category, CAST(count(*) AS BIGINT) AS n
  FROM part GROUP BY p_name
),
tot AS (SELECT CAST(sum(n) AS BIGINT) AS t FROM cnt),
mapped AS (
  SELECT CASE WHEN cnt.n * 1000 < tot.t * 15 THEN '__other__' ELSE cnt.category END
           AS category,
         cnt.n,
         CASE WHEN cnt.n * 1000 < tot.t * 15 THEN 1 ELSE 0 END AS is_rare
  FROM cnt, tot
)
SELECT category,
       CAST(sum(n) AS BIGINT) AS n_parts,
       CAST(count(*) AS BIGINT) AS n_raw_categories,
       CAST(max(is_rare) AS BIGINT) AS collapsed
FROM mapped GROUP BY category
"""


@register("group_rare_category_collapse", oracle=_COLLAPSE_ORACLE, tags=("agg", "quality"))
def group_rare_category_collapse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Featurization guard: part-name categories covering under 1.5% of
    the table collapse into '__other__'; the output distribution keeps
    each surviving category's part count and how many raw categories it
    absorbed — the high-cardinality-tail treatment every categorical
    encoder applies before one-hot/target encoding.

    Scale notes: ONE shuffle to category grain (vocabulary-sized frame
    with map-side partials); the total is a 1-row broadcast onto that
    frame; the remap + re-aggregate shuffles only the vocabulary. The
    1.5% threshold is an integer cross-multiplication against the
    corpus count — a scale-invariant fraction, never an absolute cutoff
    (the Q18 selectivity rule).
    """
    p = _t(spark, sf_dir, "part")
    cnt = p.groupBy(F.col("p_name").alias("category")).agg(
        F.count("*").cast("long").alias("n")
    )
    tot = cnt.agg(F.sum("n").cast("long").alias("t"))
    mapped = cnt.crossJoin(tot).select(
        F.when(F.col("n") * 1000 < F.col("t") * 15, F.lit("__other__"))
        .otherwise(F.col("category"))
        .alias("category"),
        "n",
        F.when(F.col("n") * 1000 < F.col("t") * 15, F.lit(1))
        .otherwise(F.lit(0))
        .alias("is_rare"),
    )
    return mapped.groupBy("category").agg(
        F.sum("n").cast("long").alias("n_parts"),
        F.count("*").cast("long").alias("n_raw_categories"),
        F.max("is_rare").cast("long").alias("collapsed"),
    )


# ---------------------------------------------------------------------------
# Monthly seasonality index
# ---------------------------------------------------------------------------

_SEASONALITY_ORACLE = """
WITH m AS (
  SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
         CAST(month(o_orderdate) AS BIGINT) AS mon,
         CAST(count(*) AS BIGINT) AS n_orders,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS rev_cents
  FROM orders GROUP BY 1, 2
),
y AS (
  SELECT yr, CAST(sum(rev_cents) AS BIGINT) AS year_cents,
         CAST(count(*) AS BIGINT) AS n_months
  FROM m GROUP BY yr
)
SELECT m.yr, m.mon, m.n_orders, m.rev_cents, y.year_cents,
       round(m.rev_cents * 1.0 * y.n_months / y.year_cents, 4) AS seasonal_index
FROM m JOIN y ON m.yr = y.yr
"""


@register("orders_seasonality_index", oracle=_SEASONALITY_ORACLE, tags=("agg", "forecast"))
def orders_seasonality_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly seasonality index: each month's revenue relative to its
    year's monthly average (index > 1 = peak month) — the
    classical-decomposition input a grocery demand forecaster
    multiplies back onto trend forecasts. Partial years normalize by
    their OBSERVED month count, not 12, so the index stays centered
    at 1.

    Scale notes: ONE shuffle folds orders to month grain (map-side
    partials); after that every frame is calendar-bounded (~12 rows per
    year), so the year rollup and join-back are constant-size. The
    month frame feeds both derivations and is localCheckpoint'ed (the
    multi-derivation rule for small shared frames).
    """
    o = _t(spark, sf_dir, "orders")
    m = (
        o.groupBy(
            F.year("o_orderdate").cast("long").alias("yr"),
            F.month("o_orderdate").cast("long").alias("mon"),
        )
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("rev_cents"),
        )
        .localCheckpoint(eager=False)  # A/B sf1: 0.49 s with, 0.79 s without
    )
    y = m.groupBy("yr").agg(
        F.sum("rev_cents").cast("long").alias("year_cents"),
        F.count("*").cast("long").alias("n_months"),
    )
    return m.join(y, "yr").select(
        "yr",
        "mon",
        "n_orders",
        "rev_cents",
        "year_cents",
        F.round(
            F.col("rev_cents") * 1.0 * F.col("n_months") / F.col("year_cents"), 4
        ).alias("seasonal_index"),
    )
