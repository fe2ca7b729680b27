"""Round-5 additions, batch 27: a two-sample Kolmogorov-Smirnov test,
part reorder cycles, ordered priority-sequence digests, and the
train/val/test split leakage audit.

The KS test is the distribution-level sibling of the chi-square drift
buckets (EDF distance instead of binned contributions); reorder cycles
are the replenishment read grocery demand planning starts from; the
sequence digest exercises ORDERED string aggregation (an operator
family of its own — engines disagree on default aggregation order, so
the ordering is pinned explicitly on both sides); the leakage audit
composes two existing components — MinHash-LSH candidate pairs and the
md5 split assignment — into the check every training pipeline must run
before trusting a held-out set.

Determinism discipline: EDF comparisons as integer cross-products in
DECIMAL(38,0)/HUGEINT (cum * n crosses BIGINT at ~1e12-row samples),
medians as two-middle integer sums, sequences ordered by
(date, unique key), split membership by md5-prefix compare.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

import grocery_store_sales_forecasting_etl_pipeline_spark.operators.dedup as dd
from grocery_store_sales_forecasting_etl_pipeline_spark.plans._tables import table as _t
from grocery_store_sales_forecasting_etl_pipeline_spark.plans.registry import register

# ---------------------------------------------------------------------------
# Two-sample KS test: ship delay of returned vs kept line items
# ---------------------------------------------------------------------------

_KS_ORACLE = """
WITH d AS (
  SELECT CAST(date_diff('day', o.o_orderdate, l.l_shipdate) AS BIGINT) AS delay,
         l.l_returnflag AS flag
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  WHERE l.l_returnflag IN ('R', 'N')
),
g AS (
  SELECT delay,
         CAST(sum(CASE WHEN flag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS c_r,
         CAST(sum(CASE WHEN flag = 'N' THEN 1 ELSE 0 END) AS BIGINT) AS c_n
  FROM d GROUP BY delay
),
c AS (
  SELECT delay,
         CAST(sum(c_r) OVER (ORDER BY delay
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS HUGEINT) AS cum_r,
         CAST(sum(c_n) OVER (ORDER BY delay
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS HUGEINT) AS cum_n,
         CAST(sum(c_r) OVER () AS HUGEINT) AS n_r,
         CAST(sum(c_n) OVER () AS HUGEINT) AS n_n
  FROM g
),
s AS (
  SELECT delay, abs(cum_r * n_n - cum_n * n_r) AS diff, n_r, n_n FROM c
)
SELECT CAST(max(n_r) AS BIGINT) AS n_r,
       CAST(max(n_n) AS BIGINT) AS n_n,
       CAST(max(diff) AS DECIMAL(38,0)) AS d_star,
       CAST(min(CASE WHEN diff = (SELECT max(diff) FROM s) THEN delay END) AS BIGINT)
         AS delay_at_max,
       round(CAST(max(diff) AS DOUBLE) / (CAST(max(n_r) AS DOUBLE) * max(n_n)), 6)
         AS ks_d
FROM s
"""


@register("ship_delay_ks_test", oracle=_KS_ORACLE, tags=("stats", "join"))
def ship_delay_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov distance between the ship-delay
    distributions of returned (R) vs kept (N) line items: the maximum
    EDF gap, where it occurs, and the normalized D statistic — the
    whole-distribution drift test that catches shape changes binned
    chi-square smears out.

    Determinism: the EDF comparison is the integer cross-product
    |cum_r * n_n - cum_n * n_r| accumulated in DECIMAL(38,0)/HUGEINT
    (cum * n crosses BIGINT once both samples pass ~3e9 rows), so the
    max and its argmin-delay are exact; the single division to D
    happens once at the boundary. d_star is EMITTED as DECIMAL(38,0)
    too — a BIGINT output cast would itself overflow at exactly the
    sample sizes the internal HUGEINT math was chosen to survive.

    Scale notes: the fact-fact join runs on the shared orderkey (the
    co-partitioned/bucketed join shape — see the bucketed-join plan
    guard); delays then fold to value grain (calendar-bounded support,
    a few hundred rows at ANY data scale) with map-side partials, so
    the EDF windows sort a provably tiny frame.
    """
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    d = (
        li.filter(F.col("l_returnflag").isin("R", "N"))
        .select("l_orderkey", "l_shipdate", "l_returnflag")
        .join(o.select("o_orderkey", "o_orderdate"), F.col("l_orderkey") == F.col("o_orderkey"))
        .select(
            F.datediff(F.col("l_shipdate"), F.col("o_orderdate")).cast("long").alias("delay"),
            F.col("l_returnflag").alias("flag"),
        )
    )
    g = d.groupBy("delay").agg(
        F.sum(F.when(F.col("flag") == "R", F.lit(1)).otherwise(F.lit(0)))
        .cast("long")
        .alias("c_r"),
        F.sum(F.when(F.col("flag") == "N", F.lit(1)).otherwise(F.lit(0)))
        .cast("long")
        .alias("c_n"),
    )
    w_cum = Window.orderBy("delay").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    w_all = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    dec = "decimal(38,0)"
    c = g.select(
        "delay",
        F.sum("c_r").over(w_cum).cast(dec).alias("cum_r"),
        F.sum("c_n").over(w_cum).cast(dec).alias("cum_n"),
        F.sum("c_r").over(w_all).cast(dec).alias("n_r"),
        F.sum("c_n").over(w_all).cast(dec).alias("n_n"),
    )
    s = c.select(
        "delay",
        F.abs(F.col("cum_r") * F.col("n_n") - F.col("cum_n") * F.col("n_r")).alias("diff"),
        "n_r",
        "n_n",
    )
    mx = s.agg(F.max("diff").alias("mx"))
    return (
        s.crossJoin(mx)
        .agg(
            F.max("n_r").cast("long").alias("n_r"),
            F.max("n_n").cast("long").alias("n_n"),
            F.max("diff").cast("decimal(38,0)").alias("d_star"),
            F.min(F.when(F.col("diff") == F.col("mx"), F.col("delay")))
            .cast("long")
            .alias("delay_at_max"),
            F.round(
                F.max("diff").cast("double")
                / (F.max("n_r").cast("double") * F.max("n_n")),
                6,
            ).alias("ks_d"),
        )
    )


# ---------------------------------------------------------------------------
# Part reorder cycles
# ---------------------------------------------------------------------------

_REORDER_MIN_DATES = 4

_REORDER_ORACLE = f"""
WITH pd AS (
  SELECT DISTINCT l.l_partkey AS partkey, o.o_orderdate AS od
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
),
gaps AS (
  SELECT partkey,
         CAST(date_diff('day', lag(od) OVER w, od) AS BIGINT) AS gap
  FROM pd WINDOW w AS (PARTITION BY partkey ORDER BY od)
),
gg AS (SELECT partkey, gap FROM gaps WHERE gap IS NOT NULL),
r AS (
  SELECT partkey, gap,
         row_number() OVER (PARTITION BY partkey ORDER BY gap) AS rn,
         count(*) OVER (PARTITION BY partkey) AS n
  FROM gg
)
SELECT partkey,
       CAST(max(n) + 1 AS BIGINT) AS n_dates,
       CAST(sum(gap) AS BIGINT) AS span_days,
       round(sum(gap) * 1.0 / max(n), 4) AS mean_gap,
       CAST(sum(CASE WHEN rn = (n + 1) // 2 THEN gap ELSE 0 END)
          + sum(CASE WHEN rn = n // 2 + 1 THEN gap ELSE 0 END) AS BIGINT)
         AS median_gap_x2
FROM r
GROUP BY partkey
HAVING max(n) + 1 >= {_REORDER_MIN_DATES}
"""


@register("part_reorder_cycles", oracle=_REORDER_ORACLE, tags=("window", "stats"))
def part_reorder_cycles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replenishment cycles: for every part ordered on at least 4
    distinct dates, the gaps between consecutive order dates — span,
    mean gap (exact: gaps telescope to span/n), and the exact
    two-middle integer median gap (the MAD-batch convention) — the
    reorder-frequency read demand planning starts from.

    Scale notes: the fact-fact join runs on the shared orderkey; the
    DISTINCT (part, date) fold bounds the windowed frame by
    |parts| x |calendar| regardless of fact volume; both the lag pass
    and the median rank pass partition on partkey (|parts|-way
    parallel). Every statistic is an exact integer; the one division
    is closed-form per output row.
    """
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    pd = (
        li.select("l_orderkey", F.col("l_partkey").alias("partkey"))
        .join(o.select("o_orderkey", F.col("o_orderdate").alias("od")),
              F.col("l_orderkey") == F.col("o_orderkey"))
        .select("partkey", "od")
        .distinct()
    )
    w = Window.partitionBy("partkey").orderBy("od")
    gaps = pd.select(
        "partkey",
        F.datediff(F.col("od"), F.lag("od").over(w)).cast("long").alias("gap"),
    ).filter(F.col("gap").isNotNull())
    wp = Window.partitionBy("partkey")
    r = gaps.select(
        "partkey",
        "gap",
        F.row_number().over(wp.orderBy("gap")).alias("rn"),
        F.count("*").over(wp).alias("n"),
    )
    mid_lo = F.expr("(n + 1) DIV 2")
    mid_hi = F.expr("n DIV 2 + 1")
    return (
        r.groupBy("partkey")
        .agg(
            (F.max("n") + 1).cast("long").alias("n_dates"),
            F.sum("gap").cast("long").alias("span_days"),
            F.round(F.sum("gap") * 1.0 / F.max("n"), 4).alias("mean_gap"),
            (
                F.sum(F.when(F.col("rn") == mid_lo, F.col("gap")).otherwise(F.lit(0)))
                + F.sum(F.when(F.col("rn") == mid_hi, F.col("gap")).otherwise(F.lit(0)))
            )
            .cast("long")
            .alias("median_gap_x2"),
        )
        .filter(F.col("n_dates") >= _REORDER_MIN_DATES)
    )


# ---------------------------------------------------------------------------
# Ordered priority-sequence digests
# ---------------------------------------------------------------------------

_SEQ_MAX_ORDERS = 8

_SEQ_ORACLE = f"""
WITH r AS (
  SELECT o_custkey,
         substr(o_orderpriority, 1, 1) AS pri,
         o_orderdate, o_orderkey,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_orderdate, o_orderkey) AS rn
  FROM orders
),
seq AS (
  SELECT o_custkey,
         string_agg(pri, '' ORDER BY o_orderdate, o_orderkey) AS pattern
  FROM r WHERE rn <= {_SEQ_MAX_ORDERS}
  GROUP BY o_custkey
)
SELECT pattern,
       CAST(length(pattern) AS BIGINT) AS pattern_len,
       CAST(count(*) AS BIGINT) AS n_customers
FROM seq GROUP BY pattern
"""


@register("customer_priority_sequences", oracle=_SEQ_ORACLE, tags=("window", "agg"))
def customer_priority_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-sequence digests: each customer's first 8 orders reduce
    to the string of their priority digits in strict (date, orderkey)
    order; patterns are counted corpus-wide — the behavioral-motif
    mining that needs ORDERED string aggregation, an operator where
    engines disagree by default (DuckDB's string_agg takes an ORDER BY;
    Spark has no ordered agg, so the sequence is built by sorting a
    collected struct array — both orders pinned to the same total key).

    Scale notes: one shuffle partitions orders by customer (rank +
    collect in the same window pass family); per-group state is capped
    at 8 structs by the rank filter BEFORE collecting, so skewed
    customers can't blow up the sort buffer; the pattern rollup is
    bounded by the customer count.
    """
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    r = o.select(
        "o_custkey",
        F.substring("o_orderpriority", 1, 1).alias("pri"),
        "o_orderdate",
        "o_orderkey",
        F.row_number().over(w).alias("rn"),
    ).filter(F.col("rn") <= _SEQ_MAX_ORDERS)
    seq = r.groupBy("o_custkey").agg(
        F.concat_ws(
            "",
            F.transform(
                F.sort_array(F.collect_list(F.struct("o_orderdate", "o_orderkey", "pri"))),
                lambda s: s["pri"],
            ),
        ).alias("pattern")
    )
    return seq.groupBy("pattern").agg(
        F.length("pattern").cast("long").alias("pattern_len"),
        F.count("*").cast("long").alias("n_customers"),
    )


# ---------------------------------------------------------------------------
# Train/val/test split leakage audit
# ---------------------------------------------------------------------------

_LK_N_HASHES = 8
_LK_BAND_SIZE = 2
_LK_TRAIN_HI = "cc"
_LK_VAL_HI = "e6"


def _leakage_sql() -> str:
    sig_cols = ", ".join(
        f"min(md5('{i}:' || shingle)) AS mh_{i}" for i in range(_LK_N_HASHES)
    )
    n_bands = _LK_N_HASHES // _LK_BAND_SIZE
    band_selects = " UNION ALL ".join(
        "SELECT doc_id, {bi} AS band_idx, md5({concat}) AS band_hash FROM sig".format(
            bi=bi,
            concat=" || '|' || ".join(
                f"mh_{bi * _LK_BAND_SIZE + j}" for j in range(_LK_BAND_SIZE)
            ),
        )
        for bi in range(n_bands)
    )
    return f"""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
sh AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(range(1, len(tk)),
                i -> tk[i] || ' ' || tk[i + 1]))) AS shingle
  FROM t
),
sig AS (SELECT doc_id, {sig_cols} FROM sh GROUP BY doc_id),
bands AS ({band_selects}),
pairs AS (
  SELECT DISTINCT a.doc_id AS id_1, b.doc_id AS id_2
  FROM bands a
  JOIN bands b ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
              AND a.doc_id < b.doc_id
),
sp AS (
  SELECT doc_id,
         CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '{_LK_TRAIN_HI}'
                THEN 'train'
              WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '{_LK_VAL_HI}'
                THEN 'val'
              ELSE 'test' END AS split
  FROM documents
)
SELECT least(s1.split, s2.split) AS split_a,
       greatest(s1.split, s2.split) AS split_b,
       CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(sum(CASE WHEN s1.split <> s2.split THEN 1 ELSE 0 END) AS BIGINT)
         AS n_leaking
FROM pairs p
JOIN sp s1 ON s1.doc_id = p.id_1
JOIN sp s2 ON s2.doc_id = p.id_2
GROUP BY 1, 2
"""


@register("split_leakage_audit", oracle=_leakage_sql(), tags=("text", "dedup", "quality"))
def split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split leakage audit: MinHash-LSH near-duplicate candidate pairs
    crossed with the deterministic md5 train/val/test assignment —
    every off-diagonal cell is eval contamination (a near-duplicate of
    a training document sitting in the held-out set), the check that
    must gate any claimed eval number. Composes the banding dedup and
    hash-split components end to end.

    Scale notes: candidates come from the banding self-equi-join
    (Σ bucket², never n²); the split assignment is a map-only
    expression, joined to the candidate list on doc_id — the join fans
    the corpus only along surviving pairs (the verify-the-sliver
    shape). Output is at most 6 rows at any scale.
    """
    d = _t(spark, sf_dir, "documents")
    sigs = dd.minhash_signatures(d, "doc_id", "text", k=2, n_hashes=_LK_N_HASHES)
    # the executed plan shows documents.parquet 4x, but ReusedExchange
    # already dedupes the banding subtree — a localCheckpoint here
    # measured SLOWER at sf0.1 AND sf1 (1.04->1.42 / 1.62->2.18): the
    # scan-count audit over-reports when exchanges are reused, so the
    # frame is left unmaterialized on purpose
    cands = dd.lsh_candidate_pairs(
        sigs, "doc_id", n_hashes=_LK_N_HASHES, band_size=_LK_BAND_SIZE
    )
    h = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
    sp = d.select(
        "doc_id",
        F.when(h < _LK_TRAIN_HI, "train")
        .when(h < _LK_VAL_HI, "val")
        .otherwise("test")
        .alias("split"),
    )
    joined = (
        cands.join(
            sp.select(F.col("doc_id").alias("id_1"), F.col("split").alias("s1")), "id_1"
        )
        .join(sp.select(F.col("doc_id").alias("id_2"), F.col("split").alias("s2")), "id_2")
    )
    return joined.groupBy(
        F.least("s1", "s2").alias("split_a"),
        F.greatest("s1", "s2").alias("split_b"),
    ).agg(
        F.count("*").cast("long").alias("n_pairs"),
        F.sum(F.when(F.col("s1") != F.col("s2"), F.lit(1)).otherwise(F.lit(0)))
        .cast("long")
        .alias("n_leaking"),
    )
