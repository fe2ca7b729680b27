"""Round-5 additions, third batch: phrase inverted index, winsorized
robust statistics, fixed-round k-core peeling, and a key-skew report —
search/robust-stats/graph/ops shapes beyond the reference's aggregate
core (SURVEY.md §2.4/§2.8 extensions; the reference's gold layer stops
at plain groupBy aggregates, ``notebooks/gold_feature.py.py:14-24``).

Registry determinism contract throughout: integer arithmetic wherever a
value crosses a shuffle, explicit ordering on every concatenation and
top-k tie, floats only at the output boundary behind ``round``.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from grocery_store_sales_forecasting_etl_pipeline_spark.functions.text import (
    shingles_from_tokens,
    tokens,
)
from grocery_store_sales_forecasting_etl_pipeline_spark.plans._tables import table as _t
from grocery_store_sales_forecasting_etl_pipeline_spark.plans.registry import register

# ---------------------------------------------------------------------------
# Phrase (word-trigram) inverted index
# ---------------------------------------------------------------------------

_IDX_MIN_DF = 2

_IDX_ORACLE = f"""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
g AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(range(1, len(tk) - 1),
                i -> array_to_string(tk[i:i+2], ' ')))) AS gram
  FROM t
)
SELECT gram, CAST(count(*) AS BIGINT) AS df,
       string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS postings
FROM g GROUP BY gram HAVING count(*) >= {_IDX_MIN_DF}
"""


@register("inverted_index_postings", oracle=_IDX_ORACLE, tags=("text", "index"))
def inverted_index_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-trigram phrase inverted index: for every trigram appearing
    in ≥ 2 documents, its document frequency and the sorted posting
    list — the search-index build step of a corpus pipeline (the doc →
    gram explode inverted into gram → doc lists). Posting lists are
    comma-serialized in ascending doc order so the result crosses the
    driver boundary (array cells cannot; see registry notes).

    Scale notes: one shuffle (the gram groupBy with map-side partial
    lists); the token array is materialized in its own projection
    before the gram lambda (the re-evaluation trap pinned in
    functions/text.shingles_from_tokens) and exploded with
    explode_outer so Catalyst does not re-inline the gram expression
    into the scan filter. Trigram df is naturally bounded (no
    stop-gram hot keys at trigram length), so no skew salt is needed;
    a unigram index would want the df-cap treatment jaccard_pairs has.
    """
    d = _t(spark, sf_dir, "documents").select(
        "doc_id", tokens("text").alias("tk")
    )
    g = d.select(
        "doc_id",
        F.explode_outer(shingles_from_tokens(F.col("tk"), 3)).alias("gram"),
    ).where(F.col("gram").isNotNull())
    # ^ explode_outer (not explode) suppresses the InferFiltersFrom
    # Generate re-inline, and the explicit isNotNull drops the sentinel
    # row a sub-3-token document would emit — which the oracle's unnest
    # never produces (same convention as doc_novelty / winnowing)
    return (
        g.groupBy("gram")
        .agg(
            F.count("*").cast("long").alias("df"),
            F.concat_ws(
                ",",
                F.transform(
                    F.sort_array(F.collect_list("doc_id")),
                    lambda x: x.cast("string"),
                ),
            ).alias("postings"),
        )
        .where(F.col("df") >= _IDX_MIN_DF)
    )


# ---------------------------------------------------------------------------
# Winsorized robust price statistics
# ---------------------------------------------------------------------------

# Closed-form winsorization from the rank structure: with dense 0-based
# ranks rn over n values, exactly p05idx values sit below the p05 value
# and (n-1-p95idx) above the p95 value, so
#   winsor_sum = sum(cents | p05idx <= rn <= p95idx)
#              + p05 * p05idx + p95 * (n - 1 - p95idx)
# — ONE window pass and ONE aggregation, no clamp-and-rescan. All terms
# are BIGINT; the mean divides once at the output boundary with the
# identical expression in both engines.
_WINSOR_ORACLE = """
WITH v AS (
  SELECT l_returnflag,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
         row_number() OVER (PARTITION BY l_returnflag ORDER BY
           CAST(round(l_extendedprice * 100) AS BIGINT)) - 1 AS rn,
         count(*) OVER (PARTITION BY l_returnflag) AS n
  FROM lineitem
),
a AS (
  SELECT l_returnflag, CAST(max(n) AS BIGINT) AS n,
         max(CASE WHEN rn = (n - 1) * 5  // 100 THEN cents END) AS p05_cents,
         max(CASE WHEN rn = (n - 1) * 95 // 100 THEN cents END) AS p95_cents,
         CAST(max((n - 1) * 5 // 100) AS BIGINT) AS lo_idx,
         CAST(max((n - 1) * 95 // 100) AS BIGINT) AS hi_idx,
         CAST(sum(CASE WHEN rn >= (n - 1) * 5 // 100
                        AND rn <= (n - 1) * 95 // 100
                       THEN cents ELSE 0 END) AS BIGINT) AS mid_sum
  FROM v GROUP BY l_returnflag
)
SELECT l_returnflag, n, p05_cents, p95_cents,
       mid_sum + p05_cents * lo_idx + p95_cents * (n - 1 - hi_idx)
         AS winsor_sum_cents,
       round((mid_sum + p05_cents * lo_idx + p95_cents * (n - 1 - hi_idx))
             / n / 100.0, 2) AS winsor_mean
FROM a
"""


@register("winsorized_price_stats", oracle=_WINSOR_ORACLE, tags=("agg", "robust"))
def winsorized_price_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5/95-winsorized price statistics per return flag: the robust
    mean with tails clamped to the exact rank-selected p05/p95 values
    — outlier-resistant aggregates for quality monitoring, computed in
    closed form from the rank structure (one window pass + one
    aggregation; see the derivation above the oracle) instead of the
    naive clamp-and-rescan two-pass.

    Engine-parity design: quantiles are integer rank selection (same
    convention as quantile_bracket_audit), the winsorized sum is pure
    BIGINT, and the single output division runs the identical
    expression in both engines.

    Scale notes: one shuffle (the per-flag rank window — the sort you
    cannot avoid for exact quantiles; at 100 TB the sketch-audited
    quantile_bracket_audit path is the cheap alternative), then the
    aggregate collapses to |flags| rows with map-side partials.
    """
    li = _t(spark, sf_dir, "lineitem")
    cents = F.round(F.col("l_extendedprice") * 100).cast("long")
    w = Window.partitionBy("l_returnflag").orderBy("cents")
    r = li.select(F.col("l_returnflag"), cents.alias("cents")).select(
        "l_returnflag",
        "cents",
        (F.row_number().over(w) - 1).alias("rn"),
        F.count("*").over(Window.partitionBy("l_returnflag")).alias("n"),
    )
    lo_idx = F.expr("(n - 1) * 5 DIV 100")
    hi_idx = F.expr("(n - 1) * 95 DIV 100")
    a = r.groupBy("l_returnflag").agg(
        F.max("n").cast("long").alias("n"),
        F.max(F.when(F.col("rn") == lo_idx, F.col("cents"))).alias("p05_cents"),
        F.max(F.when(F.col("rn") == hi_idx, F.col("cents"))).alias("p95_cents"),
        F.max(lo_idx).cast("long").alias("_lo_idx"),
        F.max(hi_idx).cast("long").alias("_hi_idx"),
        F.sum(
            F.when(
                (F.col("rn") >= lo_idx) & (F.col("rn") <= hi_idx), F.col("cents")
            ).otherwise(0)
        ).cast("long").alias("_mid_sum"),
    )
    wsum = (
        F.col("_mid_sum")
        + F.col("p05_cents") * F.col("_lo_idx")
        + F.col("p95_cents") * (F.col("n") - 1 - F.col("_hi_idx"))
    )
    return a.select(
        "l_returnflag",
        "n",
        "p05_cents",
        "p95_cents",
        wsum.alias("winsor_sum_cents"),
        F.round(wsum / F.col("n") / 100.0, 2).alias("winsor_mean"),
    )


# ---------------------------------------------------------------------------
# Fixed-round k-core peeling of the customer-supplier graph
# ---------------------------------------------------------------------------

_KCORE_K = 25
_KCORE_ROUNDS = 3


def _kcore_oracle() -> str:
    from grocery_store_sales_forecasting_etl_pipeline_spark.plans.relational10 import (
        CS_GRAPH_ESET_SQL,
    )

    head = f"""
WITH {CS_GRAPH_ESET_SQL},
e0 AS (SELECT 2 * c AS u, 2 * s + 1 AS v FROM eset)"""
    rounds = []
    for i in range(_KCORE_ROUNDS):
        rounds.append(f"""
d{i} AS (
  SELECT n, count(*) AS d
  FROM (SELECT u AS n FROM e{i} UNION ALL SELECT v AS n FROM e{i}) GROUP BY n
),
k{i} AS (SELECT n FROM d{i} WHERE d >= {_KCORE_K}),
e{i + 1} AS (
  SELECT e{i}.u, e{i}.v FROM e{i}
  JOIN k{i} a ON a.n = e{i}.u JOIN k{i} b ON b.n = e{i}.v
)""")
        # noqa: the unrolled CTE chain mirrors operators/graph.kcore_peel
    last = _KCORE_ROUNDS
    return (
        head
        + ","
        + ",".join(rounds)
        + f""",
df AS (
  SELECT n, CAST(count(*) AS BIGINT) AS d
  FROM (SELECT u AS n FROM e{last} UNION ALL SELECT v AS n FROM e{last})
  GROUP BY n
)
SELECT (n - 1) // 2 AS suppkey, d AS degree
FROM df WHERE n % 2 = 1
"""
    )


@register("supplier_kcore", oracle=_kcore_oracle(), tags=("graph",))
def supplier_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier degrees after 3 rounds of k-core peeling (k = 25) of
    the undirected customer-supplier transaction graph: casual
    customers (fewer than 25 distinct suppliers) peel away first, and
    each supplier's surviving degree measures its embedding in the
    dense trading core — the iterative vertex-filter graph shape
    (``operators/graph.kcore_peel``), completing the graph suite next
    to connected components (label collapse), PageRank (diffusion) and
    the triangle census (enumeration).

    Engine-parity design: peeling is pure integer degree thresholds —
    no floats anywhere — so the fixed-round result is bit-exact; the
    oracle unrolls the identical rounds as a CTE chain (same device as
    supplier_graph_pagerank).
    """
    from grocery_store_sales_forecasting_etl_pipeline_spark.operators.graph import kcore_peel
    from grocery_store_sales_forecasting_etl_pipeline_spark.plans.relational10 import (
        cs_graph_edges,
        supplier_side,
    )

    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    core = kcore_peel(cs_graph_edges(o, li), k=_KCORE_K, rounds=_KCORE_ROUNDS)
    return supplier_side(core, "degree")


# ---------------------------------------------------------------------------
# Key-skew report (heavy hitters with exact shares)
# ---------------------------------------------------------------------------

_SKEW_TOP = 20

_SKEW_ORACLE = f"""
WITH g AS (
  SELECT l_suppkey AS suppkey, CAST(count(*) AS BIGINT) AS n_rows
  FROM lineitem GROUP BY l_suppkey
),
t AS (SELECT CAST(sum(n_rows) AS BIGINT) AS total FROM g),
r AS (
  SELECT suppkey, n_rows, (n_rows * 1000000) // t.total AS share_ppm,
         row_number() OVER (ORDER BY n_rows DESC, suppkey) AS rank
  FROM g, t
)
SELECT CAST(rank AS BIGINT) AS rank, suppkey, n_rows, share_ppm
FROM r WHERE rank <= {_SKEW_TOP}
"""


@register("key_skew_report", oracle=_SKEW_ORACLE, tags=("agg", "ops"))
def key_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 heaviest supplier keys in the fact table with exact
    parts-per-million shares — the skew diagnostic you run BEFORE
    choosing a join/agg strategy at 100 TB (a key above a few percent
    wants the salted-join path, see salted_skew_join; ppm is integer
    floor division so the report is bit-exact).

    Scale notes: the groupBy reduces to key-grain with map-side
    partials; the top-20 is sort+limit over the aggregated domain
    (TakeOrderedAndProject — distributed per-partition top-k, never a
    single-task global sort of all keys), with the total joined back
    as a one-row broadcast. Ties break on key id, so ranks are stable.
    """
    li = _t(spark, sf_dir, "lineitem")
    g = li.groupBy(F.col("l_suppkey").alias("suppkey")).agg(
        F.count("*").cast("long").alias("n_rows")
    )
    t = g.agg(F.sum("n_rows").cast("long").alias("total"))
    top = (
        g.crossJoin(t)
        .select(
            "suppkey",
            "n_rows",
            F.expr("n_rows * 1000000 DIV total").alias("share_ppm"),
        )
        .orderBy(F.col("n_rows").desc(), "suppkey")
        .limit(_SKEW_TOP)
    )
    wr = Window.orderBy(F.col("n_rows").desc(), "suppkey")
    return top.select(
        F.row_number().over(wr).cast("long").alias("rank"),
        "suppkey",
        "n_rows",
        "share_ppm",
    )
