"""Round-5 additions, batch 34: statistics and sampling shapes the
registry lacked — a chi-square independence test (the categorical
sibling of batch 27's KS test), a fixed-quota per-stratum sample
(exact k per group, vs relational6's rate-based strata), and an
approximate-distinct audit (HLL estimate vs exact, per entity).

Determinism: chi-square works on exact integer contingency counts
with one float division per output row; the quota sample ranks by
md5 hex (bit-exact in both engines) with the key as tie-break; the
HLL audit emits only the EXACT count plus a wide-margin accuracy
boolean (Spark's HLL++ is deterministic for fixed data, and the
claimed rsd=2% sits far inside the 15% assertion bound).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from grocery_store_sales_forecasting_etl_pipeline_spark.plans._tables import table as _t
from grocery_store_sales_forecasting_etl_pipeline_spark.plans.registry import register

# ---------------------------------------------------------------------------
# Chi-square independence: order priority x order status
# ---------------------------------------------------------------------------

_CHI2_ORACLE = """
WITH cell_counts AS (
  SELECT o_orderpriority AS prio, o_orderstatus AS status,
         CAST(count(*) AS BIGINT) AS n
  FROM orders GROUP BY 1, 2
),
dense AS (
  SELECT p.prio, s.status, COALESCE(c.n, 0) AS n
  FROM (SELECT DISTINCT prio FROM cell_counts) p
  CROSS JOIN (SELECT DISTINCT status FROM cell_counts) s
  LEFT JOIN cell_counts c ON c.prio = p.prio AND c.status = s.status
),
tot AS (
  SELECT prio, status, n,
         sum(n) OVER (PARTITION BY prio) AS row_n,
         sum(n) OVER (PARTITION BY status) AS col_n,
         sum(n) OVER () AS all_n
  FROM dense
)
SELECT CAST(count(*) AS BIGINT) AS n_cells,
       CAST(max(all_n) AS BIGINT) AS n_rows,
       round(sum(power(n - row_n * col_n * 1.0 / all_n, 2)
                 / (row_n * col_n * 1.0 / all_n)), 4) AS chi2_stat,
       CAST((count(DISTINCT prio) - 1) * (count(DISTINCT status) - 1) AS BIGINT)
         AS dof
FROM tot
"""


@register("priority_status_chi2", oracle=_CHI2_ORACLE, tags=("agg", "stats"))
def priority_status_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square test of independence between order priority and
    order status — the categorical drift/association screen (the KS
    test's sibling for discrete columns). Emits the statistic, the
    degrees of freedom, and the contingency dimensions; the caller
    compares chi2_stat against the critical value for dof.

    Scale notes: ONE fact scan folds to the |prio|x|status| (<= 15
    row) contingency table with map-side partials; the table is then
    DENSIFIED (distinct-prio x distinct-status cross join, absent
    cells filled with n=0) so zero-count combinations still contribute
    their expected-count term (0-E)^2/E = E to the statistic — without
    this the chi2 value is understated whenever a cell is empty. The
    marginals are windows over those <= 15 rows (driver-trivial), and
    the statistic is a 15-row fold. Integer counts make every term
    exact until the single rounded float.
    """
    o = _t(spark, sf_dir, "orders")
    # localCheckpoint: the densification consumes this <=15-row frame
    # three times (distinct prios, distinct statuses, the left join) —
    # without it each derivation re-runs the fact scan+fold
    observed = (
        o.groupBy(
            F.col("o_orderpriority").alias("prio"),
            F.col("o_orderstatus").alias("status"),
        )
        .agg(F.count("*").cast("long").alias("n"))
        # pinned by test_chi2_single_scan_tiny_windows; A/B sf1: 0.51 s with, 0.56 s without
        .localCheckpoint(eager=False)
    )
    prios = observed.select("prio").distinct()
    statuses = observed.select("status").distinct()
    cells = (
        prios.crossJoin(statuses)
        .join(observed, ["prio", "status"], "left")
        .select("prio", "status", F.coalesce("n", F.lit(0)).cast("long").alias("n"))
    )
    w_all = Window.partitionBy()
    tot = (
        cells.withColumn("row_n", F.sum("n").over(Window.partitionBy("prio")))
        .withColumn("col_n", F.sum("n").over(Window.partitionBy("status")))
        .withColumn("all_n", F.sum("n").over(w_all))
    )
    expected = F.col("row_n") * F.col("col_n") * F.lit(1.0) / F.col("all_n")
    return tot.agg(
        F.count("*").cast("long").alias("n_cells"),
        F.max("all_n").cast("long").alias("n_rows"),
        F.round(F.sum(F.pow(F.col("n") - expected, 2) / expected), 4).alias("chi2_stat"),
        ((F.countDistinct("prio") - 1) * (F.countDistinct("status") - 1))
        .cast("long")
        .alias("dof"),
    )


# ---------------------------------------------------------------------------
# Fixed-quota per-stratum sample (exact k per group)
# ---------------------------------------------------------------------------

_QUOTA = 40

_QUOTA_ORACLE = f"""
WITH ranked AS (
  SELECT lang, doc_id,
         row_number() OVER (
           PARTITION BY lang
           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
  FROM documents
)
SELECT lang, CAST(doc_id AS BIGINT) AS doc_id
FROM ranked WHERE rk <= {_QUOTA}
"""


@register("lang_quota_sample", oracle=_QUOTA_ORACLE, tags=("sampling",))
def lang_quota_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-quota stratified sample: EXACTLY k documents per
    language, chosen as the k smallest md5(doc_id) — the eval-set
    construction move where every stratum must contribute the same
    count regardless of its population (vs relational6's
    stratified_sample, which fixes RATES). Hash-rank selection is
    reproducible across engines and stable under corpus growth: a
    doc's selection changes only when a smaller-hashed doc enters its
    stratum.

    Scale notes: selection = per-stratum top-k. Ranking directly
    would sort whole language partitions (skewed: one language can be
    half the corpus), so a hash-prefix PRE-FILTER runs first: keep
    docs whose 2-hex-digit hash prefix < 0x40 (exp. 25% of each
    stratum — at any corpus size >= ~6.4k docs/lang the survivor
    count exceeds k w.p. ~1, and the guard below catches the
    pathological miss). Only survivors shuffle into the window; the
    top-k frontier never grows with corpus size. A two-phase
    mapInPandas heap would drop the shuffle entirely but the
    pre-filtered window keeps whole-stage codegen and is
    oracle-identical.
    """
    d = _t(spark, sf_dir, "documents").select("lang", "doc_id")
    hashed = d.withColumn("h", F.md5(F.col("doc_id").cast("string")))
    # Correctness guard for the pre-filter: strata too small for the
    # prefix bound to guarantee k survivors bypass the filter (their
    # full population enters the window — tiny by definition).
    counts = hashed.groupBy("lang").agg(
        F.count("*").alias("n_total"),
        F.sum(F.when(F.col("h") < "40", 1).otherwise(0)).alias("n_survive"),
    )
    keep_all = F.col("n_survive") < F.lit(_QUOTA)
    bounds = counts.select("lang", keep_all.alias("keep_all"))
    pruned = hashed.join(bounds, "lang").filter(
        F.col("keep_all") | (F.col("h") < "40")
    )
    rk = F.row_number().over(Window.partitionBy("lang").orderBy("h", "doc_id"))
    return (
        pruned.withColumn("rk", rk)
        .filter(F.col("rk") <= _QUOTA)
        .select("lang", F.col("doc_id").cast("long").alias("doc_id"))
    )


# ---------------------------------------------------------------------------
# Approximate-distinct audit (HLL estimate vs exact)
# ---------------------------------------------------------------------------

_APPROX_ORACLE = """
SELECT 'customer' AS entity,
       CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_exact,
       TRUE AS approx_within_15pct
FROM orders
UNION ALL
SELECT 'part', CAST(count(DISTINCT l_partkey) AS BIGINT), TRUE FROM lineitem
UNION ALL
SELECT 'supplier', CAST(count(DISTINCT l_suppkey) AS BIGINT), TRUE FROM lineitem
"""


@register("approx_distinct_audit", oracle=_APPROX_ORACLE, tags=("agg", "sketch"))
def approx_distinct_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cardinality-sketch audit: HyperLogLog++ estimate vs the exact
    distinct count per entity, asserting the estimate lands within a
    wide 15% band (the sketch is configured at rsd=2%, so the band is
    a ~7.5-sigma margin — a FALSE here means the sketch path is
    broken, not noisy). The exact count and the pass flag are the
    output; the estimate itself stays out of the hash because HLL
    register layouts are engine-specific.

    Scale notes: this is the pattern for trillion-row cardinality
    work — the HLL side is a fixed-size sketch mergeable across any
    partitioning (no shuffle of distinct values, unlike the exact
    side's two-phase distinct). CRITICALLY, the exact and approx
    aggregates run in SEPARATE scans joined at one row each: mixing
    countDistinct with approx_count_distinct in ONE agg plans through
    planAggregateWithOneDistinct, which evaluates the regular
    aggregates GROUPED BY THE DISTINCT KEY in the partial phase — a
    full HLL sketch per distinct key (measured 23.3s vs 0.68s + 1.38s
    split, sf1; packing both lineitem entities into one multi-
    distinct agg goes through Expand and is as bad). Two narrow
    one-column scans beat either fused form by ~10x. Production would
    drop the exact column and keep only the mergeable sketch.
    """

    def one(table: str, entity: str, key: str) -> DataFrame:
        t = _t(spark, sf_dir, table)
        exact = t.agg(F.countDistinct(key).cast("long").alias("n_exact"))
        approx = t.agg(
            F.approx_count_distinct(key, rsd=0.02).cast("long").alias("n_approx")
        )
        return exact.crossJoin(approx).select(
            F.lit(entity).alias("entity"),
            "n_exact",
            (
                F.abs(F.col("n_approx") - F.col("n_exact"))
                <= F.lit(0.15) * F.col("n_exact")
            ).alias("approx_within_15pct"),
        )

    return (
        one("orders", "customer", "o_custkey")
        .unionByName(one("lineitem", "part", "l_partkey"))
        .unionByName(one("lineitem", "supplier", "l_suppkey"))
    )
