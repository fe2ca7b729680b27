"""Round-5 additions, batch 17: training-data retrieval & sampling ops —
BM25-family ranked retrieval over the document corpus, rolling
distinct-user reach, integer-exact weighted sampling, and multi-source
BFS reach over the transaction graph.

Cross-engine determinism discipline (see relational15's preamble): every
sufficient statistic is an exact integer (token counts, doc lengths,
md5-derived uniforms, hop depths); floats appear only as ONE closed-form
expression evaluated over those integers at the output boundary, written
with identical association in the Spark builder and the DuckDB oracle so
both engines produce the same IEEE doubles bit-for-bit. Where a sum of
float terms would be shuffle-order-dependent (BM25's per-term scores),
the terms are pivoted to fixed columns and added in a fixed order.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from grocery_store_sales_forecasting_etl_pipeline_spark.plans._tables import table as _t
from grocery_store_sales_forecasting_etl_pipeline_spark.plans.registry import register

# ---------------------------------------------------------------------------
# BM25-style ranked retrieval (log-free rational IDF)
# ---------------------------------------------------------------------------

# Classic BM25 idf is ln((N-df+0.5)/(df+0.5)); ln differs in the last
# ulp across engines (r3 evidence), so we rank by the LOG-FREE rational
# idf (N-df+0.5)/(df+0.5) — a strictly monotone transform per term,
# keeping the per-term ranking (and for these 3 rare-ish terms the
# combined ranking behavior) while staying bit-reproducible. k1=1.2,
# b=0.75 (the standard constants).
_BM25_TERMS = ("spark", "table", "window")

_BM25_ORACLE = """
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
s AS (
  SELECT tf.doc_id, tf.token, tf.tf, dl.dl,
         ((n_docs - dft + 0.5) / (dft + 0.5))
           * (tf.tf * 2.2)
           / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl * n_docs / sum_dl)) AS s
  FROM tf
  JOIN dl  ON tf.doc_id = dl.doc_id
  JOIN dft ON tf.token = dft.token
  CROSS JOIN tot
),
agg AS (
  SELECT doc_id, min(dl) AS dl,
         CAST(coalesce(sum(CASE WHEN token = 'spark'  THEN tf END), 0) AS BIGINT) AS tf_spark,
         CAST(coalesce(sum(CASE WHEN token = 'table'  THEN tf END), 0) AS BIGINT) AS tf_table,
         CAST(coalesce(sum(CASE WHEN token = 'window' THEN tf END), 0) AS BIGINT) AS tf_window,
         coalesce(sum(CASE WHEN token = 'spark'  THEN s END), 0)
           + coalesce(sum(CASE WHEN token = 'table'  THEN s END), 0)
           + coalesce(sum(CASE WHEN token = 'window' THEN s END), 0) AS score
  FROM s GROUP BY doc_id
)
SELECT doc_id, dl, tf_spark, tf_table, tf_window,
       round(score, 6) AS bm25
FROM agg
ORDER BY score DESC, doc_id
LIMIT 20
"""


@register("doc_bm25_topk", oracle=_BM25_ORACLE, tags=("text", "retrieval"))
def doc_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25-style ranked retrieval: top-20 documents for the query
    {spark, table, window} — tf-saturation × length-normalization ×
    rarity, the standard lexical-retrieval scorer a training-data
    pipeline uses for corpus search and hard-negative mining. IDF is
    the log-free rational (N-df+0.5)/(df+0.5) so the score is a single
    closed-form double over exact integer stats (see module preamble).

    Scale notes: one tokenize-explode feeding BOTH the doc-length
    aggregate and the term-frequency aggregate (the same (doc, token)
    shuffle shape every TF stage in textops pays); the per-term df and
    corpus totals are tiny frames cross-joined in as broadcasts; the
    final top-k is TakeOrderedAndProject (per-partition heaps, no
    global sort). Per-term scores are pivoted to fixed columns and
    added in fixed order — a shuffle-order float sum would not be
    deterministic.
    """
    d = _t(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull() & (F.trim("text") != "")
    )
    tok = d.select(
        "doc_id", F.explode(F.split(F.trim("text"), r"\s+")).alias("token")
    )
    # tot derives from dl: without the checkpoint it re-runs the tokenize
    dl = (
        tok.groupBy("doc_id")
        .agg(F.count("*").cast("long").alias("dl"))
        .localCheckpoint(eager=False)  # A/B sf1: 1.48 s with, 1.73 s without
    )
    tot = dl.agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("dl").cast("long").alias("sum_dl"),
    )
    tf = (
        tok.filter(F.col("token").isin(*_BM25_TERMS))
        .groupBy("doc_id", "token")
        .agg(F.count("*").cast("long").alias("tf"))
    )
    dft = tf.groupBy("token").agg(F.count("*").cast("long").alias("dft"))
    s = (
        tf.join(dl, "doc_id")
        .join(dft, "token")
        .crossJoin(tot)
        .withColumn(
            "s",
            ((F.col("n_docs") - F.col("dft") + F.lit(0.5)) / (F.col("dft") + F.lit(0.5)))
            * (F.col("tf") * F.lit(2.2))
            / (
                F.col("tf")
                + F.lit(1.2)
                * (
                    F.lit(0.25)
                    + F.lit(0.75) * F.col("dl") * F.col("n_docs") / F.col("sum_dl")
                )
            ),
        )
    )

    def _term(col: str, t: str) -> F.Column:
        return F.coalesce(F.sum(F.when(F.col("token") == t, F.col(col))), F.lit(0))

    agg = s.groupBy("doc_id").agg(
        F.min("dl").alias("dl"),
        _term("tf", "spark").cast("long").alias("tf_spark"),
        _term("tf", "table").cast("long").alias("tf_table"),
        _term("tf", "window").cast("long").alias("tf_window"),
        (
            F.coalesce(F.sum(F.when(F.col("token") == "spark", F.col("s"))), F.lit(0.0))
            + F.coalesce(F.sum(F.when(F.col("token") == "table", F.col("s"))), F.lit(0.0))
            + F.coalesce(F.sum(F.when(F.col("token") == "window", F.col("s"))), F.lit(0.0))
        ).alias("score"),
    )
    return (
        agg.orderBy(F.desc("score"), "doc_id")
        .limit(20)
        .select(
            "doc_id", "dl", "tf_spark", "tf_table", "tf_window",
            F.round("score", 6).alias("bm25"),
        )
    )


# ---------------------------------------------------------------------------
# Rolling 7-day distinct-user reach
# ---------------------------------------------------------------------------

_ROLLING_DISTINCT_ORACLE = """
WITH pairs AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
),
spine AS (SELECT DISTINCT day AS d FROM pairs)
SELECT d AS day,
       CAST(count(DISTINCT CASE WHEN p.day = s.d THEN p.user_id END) AS BIGINT)
         AS active_1d,
       CAST(count(DISTINCT p.user_id) AS BIGINT) AS active_7d
FROM spine s JOIN pairs p ON p.day BETWEEN s.d - 6 AND s.d
GROUP BY d
"""


@register(
    "rolling_distinct_users", oracle=_ROLLING_DISTINCT_ORACLE, tags=("window", "events")
)
def rolling_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily and trailing-7-day distinct active users — the DAU/WAU
    reach metric. COUNT(DISTINCT) over a sliding frame is the one
    window aggregate Spark's window functions cannot express (distinct
    is disallowed in a frame), so the operator is re-expressed as a
    date-spine range join over the DEDUPLICATED (user, day) grain.

    Scale notes: the dedup to (user, day) happens FIRST — the range
    join then fans each pair out at most 7×, independent of raw event
    volume. The date spine is O(days) and broadcasts, so the join is a
    broadcast nested-loop over a tiny build side, not a shuffle; the
    final count-distinct shuffles on day with AQE handling the
    per-day skew. At 100 TB the (user, day) dedup is the only
    event-scale shuffle.
    """
    ev = _t(spark, sf_dir, "events")
    pairs = ev.select(
        "user_id", F.col("ts").cast("date").alias("day")
    ).distinct()
    spine = pairs.select(F.col("day").alias("d")).distinct()
    j = pairs.join(
        spine,
        (F.col("day") <= F.col("d")) & (F.col("day") >= F.date_sub(F.col("d"), 6)),
    )
    return (
        j.groupBy("d")
        .agg(
            F.count_distinct(
                F.when(F.col("day") == F.col("d"), F.col("user_id"))
            ).alias("active_1d"),
            F.count_distinct("user_id").alias("active_7d"),
        )
        .select(F.col("d").alias("day"), "active_1d", "active_7d")
    )


# ---------------------------------------------------------------------------
# Weighted Bernoulli sample (integer cross-multiplied — bit-exact)
# ---------------------------------------------------------------------------

# Inclusion rule: keep order i iff u24(i) * Σw < k · w_i · 2^24, i.e.
# P(keep) = min(1, k·w_i/Σw) — Poisson/Bernoulli sampling proportional
# to size with expected sample weight k·E[w]. Never compare float rates
# (r4 learning): cross-multiply in DECIMAL(38,0)/HUGEINT, bit-exact in
# both engines. u24 is the first 6 md5 hex digits of the key.
_WSAMPLE_K = 200

_WSAMPLE_ORACLE = f"""
WITH w AS (
  SELECT o_orderkey,
         CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
         ('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 6))::BIGINT AS u24
  FROM orders
),
tot AS (SELECT CAST(sum(cents) AS BIGINT) AS sum_w FROM w)
SELECT o_orderkey, cents
FROM w CROSS JOIN tot
WHERE CAST(u24 AS HUGEINT) * CAST(sum_w AS HUGEINT)
    < CAST({_WSAMPLE_K} AS HUGEINT) * CAST(cents AS HUGEINT) * 16777216
"""


@register("weighted_order_sample", oracle=_WSAMPLE_ORACLE, tags=("sampling",))
def weighted_order_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted Bernoulli sample of orders, inclusion
    probability proportional to order value (expected ~200 value-weighted
    draws) — the probability-proportional-to-size sampler a datamix
    pipeline uses to oversample high-value strata. Membership is a pure
    function of the key (md5 uniform) and the exact global weight total,
    so the sample is stable across runs, engines, and partitionings.

    Scale notes: one exact global sum (map-side partials → scalar),
    broadcast back; the predicate is then a scalar DECIMAL(38,0)
    cross-multiplication inside codegen — no float rates (a cent-scale
    Σw at 100 TB × a 24-bit uniform overflows BIGINT, hence decimal;
    r5 overflow learning applied at design time). No shuffle beyond
    the scalar aggregate; the sample streams out of the scan.
    """
    o = _t(spark, sf_dir, "orders")
    w = o.select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        F.conv(F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 6), 16, 10)
        .cast("long")
        .alias("u24"),
    )
    tot = w.agg(F.sum("cents").cast("long").alias("sum_w"))
    d38 = "decimal(38,0)"
    return (
        w.crossJoin(tot)
        .filter(
            F.col("u24").cast(d38) * F.col("sum_w").cast(d38)
            < F.lit(_WSAMPLE_K).cast(d38) * F.col("cents").cast(d38) * F.lit(16777216)
        )
        .select("o_orderkey", "cents")
    )


# ---------------------------------------------------------------------------
# Multi-source BFS reach over the customer-supplier graph
# ---------------------------------------------------------------------------

# Node encoding shared with pagerank/kcore (relational10.CS_GRAPH_ESET_SQL):
# customers even (2c), suppliers odd (2s+1). Seeds: suppliers with
# suppkey < 5 that appear in the edge set. The oracle replays the BFS as
# a depth-bounded recursive CTE — UNION (not UNION ALL) dedups the
# (node, depth) frontier each step, so the recursion is bounded by
# nodes × depths even on this dense bipartite graph.
_BFS_DEPTH = 3

_BFS_ORACLE = f"""
WITH RECURSIVE eset AS (
  SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
),
und AS (
  SELECT 2 * c AS u, 2 * s + 1 AS v FROM eset
  UNION ALL
  SELECT 2 * s + 1 AS u, 2 * c AS v FROM eset
),
walk(v, depth) AS (
  SELECT DISTINCT 2 * s + 1 AS v, 0 AS depth FROM eset WHERE s < 5
  UNION
  SELECT und.v, walk.depth + 1
  FROM walk JOIN und ON und.u = walk.v
  WHERE walk.depth < {_BFS_DEPTH}
)
SELECT CASE WHEN v % 2 = 1 THEN 'supplier' ELSE 'customer' END AS side,
       CAST(CASE WHEN v % 2 = 1 THEN (v - 1) // 2 ELSE v // 2 END AS BIGINT)
         AS node_key,
       CAST(min(depth) AS BIGINT) AS depth
FROM walk
GROUP BY v
"""


@register("supplier_reach_bfs", oracle=_BFS_ORACLE, tags=("graph", "join"))
def supplier_reach_bfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minimum hop distance (≤3) from the seed suppliers (suppkey < 5)
    to every reachable node of the undirected customer-supplier
    transaction graph — multi-source BFS, the reachability/influence
    primitive next to the diffusion (pagerank), peeling (k-core), and
    labeling (connected components) operators. Depth 1 = the seeds'
    customers, depth 2 = competing suppliers, depth 3 = THEIR customers.

    Scale notes: see ``operators/graph.bfs_depths`` — per-round cost is
    degree(frontier) with an anti-join against the settled set; exact
    integer depths make the result engine/partitioning-invariant. The
    oracle is the same traversal as a depth-bounded ``WITH RECURSIVE``
    (UNION-dedup per step).
    """
    from grocery_store_sales_forecasting_etl_pipeline_spark.operators.graph import (
        bfs_depths,
    )
    from grocery_store_sales_forecasting_etl_pipeline_spark.plans.relational10 import (
        cs_graph_edges,
    )

    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    edges = cs_graph_edges(o, li)
    seeds = (
        li.filter(F.col("l_suppkey") < 5)
        .select((F.col("l_suppkey") * 2 + 1).cast("long").alias("v"))
        .distinct()
    )
    reached = bfs_depths(edges, seeds, max_depth=_BFS_DEPTH)
    return reached.select(
        F.when(F.col("v") % 2 == 1, F.lit("supplier"))
        .otherwise(F.lit("customer"))
        .alias("side"),
        F.when(F.col("v") % 2 == 1, F.expr("(v - 1) DIV 2"))
        .otherwise(F.expr("v DIV 2"))
        .cast("long")
        .alias("node_key"),
        F.col("depth").cast("long").alias("depth"),
    )
