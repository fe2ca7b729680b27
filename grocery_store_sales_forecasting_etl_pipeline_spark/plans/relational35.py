"""Round-5 additions, batch 35: operational diagnostics for the
join layer — referential-integrity orphan audit, join-key skew
diagnostics (the pre-salting screen), and exact interpolated group
percentiles.

These are the queries an operator runs BEFORE scaling a pipeline to
100 TB: orphaned foreign keys break inner-join row accounting, and a
skewed join key is the #1 cause of straggler tasks — measuring
max/p99 rows-per-key tells you whether to salt before the job ever
runs.

Determinism: orphan and skew outputs are exact integer counts with
deterministic example keys; percentiles use the shared linear-
interpolation definition (Spark ``percentile`` == DuckDB
``quantile_cont``) over 2-decimal money, rounded at the boundary.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from grocery_store_sales_forecasting_etl_pipeline_spark.plans._tables import table as _t
from grocery_store_sales_forecasting_etl_pipeline_spark.plans.registry import register

# ---------------------------------------------------------------------------
# Referential-integrity orphan audit (all fact->dim FKs in one result)
# ---------------------------------------------------------------------------

_ORPHAN_ORACLE = """
SELECT 'lineitem.l_orderkey->orders' AS fk,
       CAST(count(*) AS BIGINT) AS n_orphans,
       CAST(min(l_orderkey) AS BIGINT) AS example_key
FROM lineitem WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders)
UNION ALL
SELECT 'lineitem.l_partkey->part', CAST(count(*) AS BIGINT),
       CAST(min(l_partkey) AS BIGINT)
FROM lineitem WHERE l_partkey NOT IN (SELECT p_partkey FROM part)
UNION ALL
SELECT 'lineitem.l_suppkey->supplier', CAST(count(*) AS BIGINT),
       CAST(min(l_suppkey) AS BIGINT)
FROM lineitem WHERE l_suppkey NOT IN (SELECT s_suppkey FROM supplier)
UNION ALL
SELECT 'orders.o_custkey->customer', CAST(count(*) AS BIGINT),
       CAST(min(o_custkey) AS BIGINT)
FROM orders WHERE o_custkey NOT IN (SELECT c_custkey FROM customer)
"""


@register("fk_orphan_audit", oracle=_ORPHAN_ORACLE, tags=("join", "quality"))
def fk_orphan_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit: for every fact->dim foreign key,
    the number of fact rows whose key has NO dim row (orphans that
    silently vanish from inner joins), with a deterministic example
    key. A clean warehouse reports four zero rows — the audit's value
    is that it NEVER silently passes a broken one.

    Scale notes: each relation is a left ANTI join with the dim side
    broadcast (dim keys only — the fact never shuffles), folded to a
    single count row. The orders->customer leg broadcasts customer
    keys; at a scale where customer stops fitting in a broadcast,
    AQE falls back to a shuffled anti join and the query stays
    correct. NOT IN vs anti-join NULL semantics don't diverge here
    because every key column is non-nullable in the schema contract.
    """

    def leg(fact: str, fk: str, dim: str, pk: str, label: str) -> DataFrame:
        f = _t(spark, sf_dir, fact).select(fk)
        d = _t(spark, sf_dir, dim).select(pk)
        orphans = f.join(d, f[fk] == d[pk], "left_anti")
        return orphans.agg(
            F.count("*").cast("long").alias("n_orphans"),
            F.min(fk).cast("long").alias("example_key"),
        ).select(F.lit(label).alias("fk"), "n_orphans", "example_key")

    return (
        leg("lineitem", "l_orderkey", "orders", "o_orderkey", "lineitem.l_orderkey->orders")
        .unionByName(leg("lineitem", "l_partkey", "part", "p_partkey", "lineitem.l_partkey->part"))
        .unionByName(
            leg("lineitem", "l_suppkey", "supplier", "s_suppkey", "lineitem.l_suppkey->supplier")
        )
        .unionByName(
            leg("orders", "o_custkey", "customer", "c_custkey", "orders.o_custkey->customer")
        )
    )


# ---------------------------------------------------------------------------
# Join-key skew diagnostics (the pre-salting screen)
# ---------------------------------------------------------------------------

_SKEW_ORACLE = """
WITH per_key AS (
  SELECT 'lineitem.l_partkey' AS key_col, l_partkey AS key, count(*) AS n
  FROM lineitem GROUP BY 2
  UNION ALL
  SELECT 'lineitem.l_suppkey', l_suppkey, count(*) FROM lineitem GROUP BY 2
  UNION ALL
  SELECT 'orders.o_custkey', o_custkey, count(*) FROM orders GROUP BY 2
)
, marked AS (
  SELECT key_col, key, n,
         max(n) OVER (PARTITION BY key_col) AS mx
  FROM per_key
)
SELECT key_col,
       CAST(count(*) AS BIGINT) AS n_keys,
       CAST(sum(n) AS BIGINT) AS n_rows,
       CAST(max(n) AS BIGINT) AS max_rows_per_key,
       round(max(n) * count(*) * 1.0 / sum(n), 4) AS skew_factor,
       CAST(min(CASE WHEN n = mx THEN key END) AS BIGINT) AS hottest_key
FROM marked GROUP BY key_col
"""


@register("join_key_skew_diagnostics", oracle=_SKEW_ORACLE, tags=("agg", "quality"))
def join_key_skew_diagnostics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew screen: for each frequently-joined key, the
    max rows-per-key, the skew factor (max/mean — 1.0 means perfectly
    uniform; a shuffle join's slowest task scales with this), and the
    hottest key itself (smallest key among ties). Run this BEFORE a
    big join: a skew factor in the hundreds means salting or an AQE
    skew-join threshold is mandatory at scale. (Sibling of
    relational12's key_skew_report, which ranks the top-20 keys of
    ONE column; this one compares skew ACROSS candidate join keys.)

    Scale notes: each key fold is one map-combined shuffle to key
    grain; the per-key frames then fold to ONE row each (max + count
    + sum partials). The hottest-key tie-break is a conditional min
    over the key frame — no second scan of the fact, no window over
    fact grain. Legs union as separate subtrees (different grouping
    keys can't share a shuffle); each leg prunes to its single key
    column at the scan.
    """

    def leg(table: str, key: str, label: str) -> DataFrame:
        per_key = (
            _t(spark, sf_dir, table)
            .groupBy(F.col(key).alias("key"))
            .agg(F.count("*").alias("n"))
        )
        # fold to one row: stats + conditional-min hottest key via a
        # max_by-free, tie-stable construction (min key among max-n)
        stats = per_key.agg(
            F.count("*").cast("long").alias("n_keys"),
            F.sum("n").cast("long").alias("n_rows"),
            F.max("n").cast("long").alias("max_rows_per_key"),
            F.min(F.struct((-F.col("n")).alias("neg_n"), F.col("key"))).alias("_top"),
        )
        return stats.select(
            F.lit(label).alias("key_col"),
            "n_keys",
            "n_rows",
            "max_rows_per_key",
            F.round(
                F.col("max_rows_per_key") * F.col("n_keys") * F.lit(1.0) / F.col("n_rows"),
                4,
            ).alias("skew_factor"),
            F.col("_top.key").cast("long").alias("hottest_key"),
        )

    return (
        leg("lineitem", "l_partkey", "lineitem.l_partkey")
        .unionByName(leg("lineitem", "l_suppkey", "lineitem.l_suppkey"))
        .unionByName(leg("orders", "o_custkey", "orders.o_custkey"))
    )


# ---------------------------------------------------------------------------
# Exact interpolated group percentiles
# ---------------------------------------------------------------------------

_PCTL_ORACLE = """
SELECT l_returnflag,
       CAST(count(*) AS BIGINT) AS n_rows,
       round(quantile_cont(l_extendedprice, 0.25), 4) AS p25,
       round(quantile_cont(l_extendedprice, 0.50), 4) AS p50,
       round(quantile_cont(l_extendedprice, 0.75), 4) AS p75,
       round(quantile_cont(l_extendedprice, 0.99), 4) AS p99
FROM lineitem GROUP BY l_returnflag
"""


@register("group_percentiles_exact", oracle=_PCTL_ORACLE, tags=("agg", "stats"))
def group_percentiles_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact linear-interpolated percentiles of line price per return
    flag — the distribution summary approx_percentile trades away.
    Spark's ``percentile`` and DuckDB's ``quantile_cont`` share the
    same definition (sort, rank = q*(n-1), linear interpolation), so
    the values cross-check exactly on 2-decimal inputs.

    Scale notes: exact percentiles need the full value multiset per
    group — Spark aggregates a per-group sorted buffer (memory bound
    by group size, fine for |returnflag| groups of fact scale on
    executors with spill; for high-cardinality groups switch to
    approx_percentile or a two-pass histogram refinement). One scan,
    one shuffle of (flag, price) partial buffers.
    """
    li = _t(spark, sf_dir, "lineitem")
    pct = F.expr(
        "percentile(l_extendedprice, array(0.25D, 0.50D, 0.75D, 0.99D))"
    ).alias("_p")
    return (
        li.groupBy("l_returnflag")
        .agg(F.count("*").cast("long").alias("n_rows"), pct)
        .select(
            "l_returnflag",
            "n_rows",
            F.round(F.col("_p")[0], 4).alias("p25"),
            F.round(F.col("_p")[1], 4).alias("p50"),
            F.round(F.col("_p")[2], 4).alias("p75"),
            F.round(F.col("_p")[3], 4).alias("p99"),
        )
    )
