"""Round-5 additions, second batch: sampled triangle census over the
dedup candidate graph, CDC-style snapshot diff, clamped running-balance
fold, Z-order layout audit, market-basket pair support, and a
quantile-sketch audit — analytics shapes past the reference's aggregate
core (SURVEY.md §2.4/§2.8 extensions; the reference's gold layer stops
at plain groupBy aggregates, ``notebooks/gold_feature.py.py:14-24``).

Registry determinism contract throughout: integer/decimal arithmetic
wherever a value crosses a shuffle; sampling and tie-breaks decided by
md5 prefixes / explicit id order, never engine RNG; floats only at the
output boundary behind ``round``.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from grocery_store_sales_forecasting_etl_pipeline_spark.functions.layout import morton_sql, scale16_sql
from grocery_store_sales_forecasting_etl_pipeline_spark.plans._tables import table as _t
from grocery_store_sales_forecasting_etl_pipeline_spark.plans.registry import register
from grocery_store_sales_forecasting_etl_pipeline_spark.operators.sizing import (
    plan_bytes,
    record_gate,
)
from grocery_store_sales_forecasting_etl_pipeline_spark.plans.scalerank import (
    grouped_value_cum_counts,
)

# Crossover for quantile_bracket_audit's exact-side shape (A/B in its
# docstring + BASELINE.md r10): the 3-task per-flag sort wins up to sf1
# (106 MB lineitem), the (flag, cents) histogram wins 6x at sf10
# (1.07 GB) — 512 MB sits between the measured points.
_QUANTILE_HISTO_MIN_INPUT_BYTES = 512 * 1024 * 1024

# ---------------------------------------------------------------------------
# DOULION-sampled triangle census over the MinHash candidate graph
# ---------------------------------------------------------------------------

# Deterministic p = 1/4 edge sample: keep a pair when the first hex
# digit of md5("id_1|id_2") is < '4'. A triangle survives iff all three
# edges do (p^3), so estimate = 64 * sampled count — Tsourakakis et al.,
# "DOULION: Counting Triangles in Massive Graphs with a Coin" (KDD'09).
# The md5 coin makes the sampled graph — and therefore the count —
# bit-identical in any engine, so the ESTIMATE itself is hash-matched
# while still exercising the approximate-counting scale path.
_TRI_SAMPLE_P_NUM = 4  # keep 4 of 16 first-hex-digit values


def _tri_keep_sql(u: str, v: str, dialect: str = "duckdb") -> str:
    st = {"spark": "STRING", "duckdb": "VARCHAR"}[dialect]
    return (
        f"substr(md5(CAST({u} AS {st}) || '|' || CAST({v} AS {st})), 1, 1)"
        f" < '{_TRI_SAMPLE_P_NUM:x}'"
    )


def _triangle_oracle() -> str:
    from grocery_store_sales_forecasting_etl_pipeline_spark.plans.textops import _minhash_sql

    scale = (16 // _TRI_SAMPLE_P_NUM) ** 3
    return f"""
WITH pairs AS ({_minhash_sql()}),
e AS (SELECT id_1 AS u, id_2 AS v FROM pairs),
s AS (SELECT u, v FROM e WHERE {_tri_keep_sql('u', 'v')}),
deg AS (
  SELECT n, CAST(count(*) AS BIGINT) AS d
  FROM (SELECT u AS n FROM s UNION ALL SELECT v AS n FROM s) GROUP BY n
),
o AS (
  SELECT CASE WHEN da.d < db.d OR (da.d = db.d AND s.u < s.v)
              THEN s.u ELSE s.v END AS src,
         CASE WHEN da.d < db.d OR (da.d = db.d AND s.u < s.v)
              THEN s.v ELSE s.u END AS dst,
         CASE WHEN da.d < db.d OR (da.d = db.d AND s.u < s.v)
              THEN db.d ELSE da.d END AS ddst
  FROM s JOIN deg da ON da.n = s.u JOIN deg db ON db.n = s.v
),
w AS (
  SELECT e1.dst AS p, e2.dst AS q
  FROM o e1 JOIN o e2 ON e1.src = e2.src
   AND (e1.ddst < e2.ddst OR (e1.ddst = e2.ddst AND e1.dst < e2.dst))
),
t AS (SELECT CAST(count(*) AS BIGINT) AS c
      FROM w JOIN o ON o.src = w.p AND o.dst = w.q),
agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n_pairs,
         CAST(coalesce(sum(CASE WHEN {_tri_keep_sql('u', 'v')}
                                THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_sampled
  FROM e
)
SELECT agg.n_pairs, agg.n_sampled, t.c AS tri_sampled,
       CAST(t.c * {scale} AS BIGINT) AS tri_estimate
FROM agg, t
"""


@register("dedup_triangle_census", oracle=_triangle_oracle(), tags=("graph", "dedup"))
def dedup_triangle_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle census of the MinHash-LSH candidate-pair graph under a
    deterministic 1/4 DOULION edge sample — the transitivity audit for
    dedup clustering (triangle-dense candidate neighborhoods really are
    template families; triangle-free ones are banding noise), and the
    third graph operator next to connected components and PageRank.

    Scale notes: the md5 edge coin thins the graph BEFORE any join, so
    the wedge stage pays p^2 of the full cost and the estimate is
    unbiased at 1/p^3 (DOULION, KDD'09). Triangle enumeration itself is
    degree-oriented (``operators/graph.triangles``): out-degrees are
    O(sqrt(m)), bounding wedges at O(m^1.5) regardless of hub skew. The
    coin is a pure hash of the pair ids — no RNG — so the sampled count
    is bit-exact across engines and partitionings.
    """
    from grocery_store_sales_forecasting_etl_pipeline_spark.operators.graph import triangles
    from grocery_store_sales_forecasting_etl_pipeline_spark.plans.textops import doc_minhash_lsh

    # pairs feed both the stats aggregate and the triangle stage
    # A/B sf0.1: 2.12 s with, 2.95 s without
    pairs = doc_minhash_lsh(spark, sf_dir).localCheckpoint(eager=False)
    keep = F.expr(_tri_keep_sql("id_1", "id_2", "spark"))
    stats = pairs.agg(
        F.count("*").cast("long").alias("n_pairs"),
        F.coalesce(
            F.sum(F.when(keep, 1).otherwise(0)), F.lit(0)
        ).cast("long").alias("n_sampled"),
    )
    tri = triangles(
        pairs.where(keep).select(
            F.col("id_1").alias("u"), F.col("id_2").alias("v")
        )
    )
    scale = (16 // _TRI_SAMPLE_P_NUM) ** 3
    tcount = tri.agg(F.count("*").cast("long").alias("tri_sampled"))
    return stats.crossJoin(tcount).select(
        "n_pairs",
        "n_sampled",
        "tri_sampled",
        (F.col("tri_sampled") * scale).cast("long").alias("tri_estimate"),
    )


# ---------------------------------------------------------------------------
# CDC-style snapshot diff of derived per-customer activity
# ---------------------------------------------------------------------------

_DIFF_ORACLE = """
WITH g AS (
  SELECT o_custkey AS custkey,
         CAST(sum(CASE WHEN o_orderdate >= TIMESTAMP '1995-01-01'
                        AND o_orderdate <  TIMESTAMP '1997-01-01'
                       THEN 1 ELSE 0 END) AS BIGINT) AS old_orders,
         CAST(sum(CASE WHEN o_orderdate >= TIMESTAMP '1997-01-01'
                        AND o_orderdate <  TIMESTAMP '1999-01-01'
                       THEN 1 ELSE 0 END) AS BIGINT) AS new_orders,
         CAST(sum(CASE WHEN o_orderdate >= TIMESTAMP '1995-01-01'
                        AND o_orderdate <  TIMESTAMP '1997-01-01'
                       THEN CAST(round(o_totalprice * 100) AS BIGINT)
                       ELSE 0 END) AS BIGINT) AS old_cents,
         CAST(sum(CASE WHEN o_orderdate >= TIMESTAMP '1997-01-01'
                        AND o_orderdate <  TIMESTAMP '1999-01-01'
                       THEN CAST(round(o_totalprice * 100) AS BIGINT)
                       ELSE 0 END) AS BIGINT) AS new_cents
  FROM orders GROUP BY o_custkey
)
SELECT custkey,
       CASE WHEN old_orders = 0 THEN 'added'
            WHEN new_orders = 0 THEN 'removed'
            WHEN old_orders <> new_orders OR old_cents <> new_cents
                 THEN 'changed'
            ELSE 'stable' END AS change_type,
       old_orders, new_orders, old_cents, new_cents
FROM g
WHERE old_orders > 0 OR new_orders > 0
"""


@register("customer_activity_diff", oracle=_DIFF_ORACLE, tags=("agg", "maintenance"))
def customer_activity_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff of the derived per-customer activity table between
    two consecutive two-year windows (1995-96 vs 1997-98), classifying
    every customer as added / removed / changed / stable — the
    change-data-capture shape that feeds incremental downstream syncs,
    completing the maintenance family (SCD2 history, incremental
    aggregate merge).

    Scale notes: both snapshots come out of ONE fact scan as
    conditional aggregates — never a self-join of two materialized
    snapshots, so there is exactly one shuffle (the customer groupBy,
    map-side combined) and the diff classification is a map-only
    projection on the aggregate. Money is summed in exact integer
    cents, so 'changed' can never flip on float noise.
    """
    lo_old, hi_old = "1995-01-01", "1997-01-01"
    lo_new, hi_new = "1997-01-01", "1999-01-01"
    o = _t(spark, sf_dir, "orders")
    d = F.col("o_orderdate")
    in_old = (d >= F.lit(lo_old).cast("timestamp")) & (
        d < F.lit(hi_old).cast("timestamp")
    )
    in_new = (d >= F.lit(lo_new).cast("timestamp")) & (
        d < F.lit(hi_new).cast("timestamp")
    )
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    g = o.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.sum(F.when(in_old, 1).otherwise(0)).cast("long").alias("old_orders"),
        F.sum(F.when(in_new, 1).otherwise(0)).cast("long").alias("new_orders"),
        F.sum(F.when(in_old, cents).otherwise(0)).cast("long").alias("old_cents"),
        F.sum(F.when(in_new, cents).otherwise(0)).cast("long").alias("new_cents"),
    )
    return g.where(
        (F.col("old_orders") > 0) | (F.col("new_orders") > 0)
    ).select(
        "custkey",
        F.when(F.col("old_orders") == 0, "added")
        .when(F.col("new_orders") == 0, "removed")
        .when(
            (F.col("old_orders") != F.col("new_orders"))
            | (F.col("old_cents") != F.col("new_cents")),
            "changed",
        )
        .otherwise("stable")
        .alias("change_type"),
        "old_orders",
        "new_orders",
        "old_cents",
        "new_cents",
    )


# ---------------------------------------------------------------------------
# Clamped running balance (non-associative integer fold)
# ---------------------------------------------------------------------------

# Inventory semantics: returns restock (+qty), shipments draw down
# (-qty), and the balance clamps at zero — max(0, bal + delta) is NOT
# associative, so no distributed sum can compute it; it is the integer
# sibling of the EWMA/Holt ordered-fold family. State = [balance, peak],
# all BIGINT, so the fold is bit-exact in any engine. DuckDB list_reduce
# has no init argument: the init state is prepended as the first
# element of a list of [delta, ignored] pairs (same device as the Holt
# oracle, mlops.py).
_CLAMP_ORACLE = """
WITH d AS (
  SELECT l_suppkey AS suppkey, strftime(l_shipdate, '%Y-%m') AS mo,
         CAST(sum(CASE WHEN l_returnflag = 'R'
                       THEN CAST(l_quantity AS BIGINT)
                       ELSE -CAST(l_quantity AS BIGINT) END) AS BIGINT) AS delta
  FROM lineitem GROUP BY 1, 2
),
s AS (
  SELECT suppkey, CAST(count(*) AS BIGINT) AS n_months,
         list(delta ORDER BY mo) AS ds
  FROM d GROUP BY suppkey
),
f AS (
  SELECT suppkey, n_months,
         list_reduce(
           list_prepend(
             list_value(CAST(0 AS BIGINT), CAST(0 AS BIGINT)),
             list_transform(ds, x -> list_value(x, CAST(0 AS BIGINT)))
           ),
           (acc, x) -> list_value(
             greatest(CAST(0 AS BIGINT), acc[1] + x[1]),
             greatest(acc[2], greatest(CAST(0 AS BIGINT), acc[1] + x[1]))
           )
         ) AS st
  FROM s
)
SELECT suppkey, n_months, st[1] AS final_balance, st[2] AS peak_balance
FROM f
"""


@register("supplier_clamped_balance", oracle=_CLAMP_ORACLE, tags=("agg", "timeseries"))
def supplier_clamped_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-supplier zero-clamped running inventory balance over monthly
    net flows (returns +qty, shipments -qty), reporting the final and
    peak balances — the canonical NON-associative recurrence
    (max(0, bal + delta)) that distributed partial sums cannot express,
    folded per entity with a two-element BIGINT state exactly like the
    EWMA/Holt family but in pure integer arithmetic.

    Scale notes: one shuffle groups each supplier's pre-aggregated
    monthly series (map-side combine on (supplier, month) first, so the
    fold state is |months| longs — bounded by calendar span, never by
    row count). The fold itself is a JVM-side ``F.aggregate`` over the
    sorted array; no Python, no UDF, no driver collect.
    """
    li = _t(spark, sf_dir, "lineitem")
    qty = F.col("l_quantity").cast("long")
    d = li.groupBy(
        F.col("l_suppkey").alias("suppkey"),
        F.date_format("l_shipdate", "yyyy-MM").alias("mo"),
    ).agg(
        F.sum(
            F.when(F.col("l_returnflag") == "R", qty).otherwise(-qty)
        ).cast("long").alias("delta")
    )
    s = d.groupBy("suppkey").agg(
        F.count("*").cast("long").alias("n_months"),
        F.transform(
            F.sort_array(F.collect_list(F.struct("mo", "delta"))),
            lambda r: r["delta"],
        ).alias("ds"),
    )
    zero = F.lit(0).cast("long")

    def step(acc, x):
        nb = F.greatest(zero, acc[0] + x)
        return F.array(nb, F.greatest(acc[1], nb))

    st = F.aggregate("ds", F.array(zero, zero), step)
    return s.select(
        "suppkey",
        "n_months",
        st[0].alias("final_balance"),
        st[1].alias("peak_balance"),
    )


# ---------------------------------------------------------------------------
# Z-order layout audit
# ---------------------------------------------------------------------------

def _z_oracle() -> str:
    sx = scale16_sql("pk", "pk_lo0", "pk_hi0", "duckdb")
    sy = scale16_sql("sk", "sk_lo0", "sk_hi0", "duckdb")
    return f"""
WITH r AS (
  SELECT CAST(l_partkey AS BIGINT) AS pk, CAST(l_suppkey AS BIGINT) AS sk
  FROM lineitem
),
mm AS (
  SELECT min(pk) AS pk_lo0, max(pk) AS pk_hi0,
         min(sk) AS sk_lo0, max(sk) AS sk_hi0
  FROM r
),
z AS (
  SELECT pk, sk, {morton_sql(sx, sy, "duckdb")} AS zv
  FROM r, mm
)
SELECT CAST(zv // 268435456 AS BIGINT) AS bucket,
       CAST(count(*) AS BIGINT) AS n_rows,
       min(pk) AS pk_lo, max(pk) AS pk_hi,
       min(sk) AS sk_lo, max(sk) AS sk_hi
FROM z GROUP BY bucket
"""


@register("zorder_layout_audit", oracle=_z_oracle(), tags=("layout",))
def zorder_layout_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton (Z-order) interleave of RANGE-NORMALIZED (partkey,
    suppkey) bucketed into 16 fixed z-ranges, reporting each bucket's
    row count and its bounding box in BOTH source dimensions — the
    audit that shows why a Z-ordered file layout lets min/max
    statistics prune on either key (OPTIMIZE ZORDER-style clustering;
    the reference's tables cluster only by ingest order).

    The per-column range normalization (functions/layout.scale16_sql)
    is load-bearing: interleaving RAW values lets the wide dimension
    own every high bit, so a narrow dimension (100 suppliers vs 20k
    parts) never influences coarse z-ranges and gets NO pruning —
    measured directly in tests/test_zorder_layout.py against real
    parquet footer statistics, which also pin the end-to-end write
    path (repartitionByRange(zv) + sortWithinPartitions).

    Scale notes: the interleave stays pure bit arithmetic from one
    mask table for both engines — map-only whole-stage codegen after a
    one-row min/max frame broadcast (no driver collect); because the
    scaled coordinates span the full 16 bits, bucket boundaries are
    FIXED (zv DIV 2^28), needing no second aggregation pass. The same
    zv expression is what you'd range-partition the sink by.
    """
    li = _t(spark, sf_dir, "lineitem")
    r = li.select(
        F.col("l_partkey").cast("long").alias("pk"),
        F.col("l_suppkey").cast("long").alias("sk"),
    )
    mm = r.agg(
        F.min("pk").alias("pk_lo0"),
        F.max("pk").alias("pk_hi0"),
        F.min("sk").alias("sk_lo0"),
        F.max("sk").alias("sk_hi0"),
    )
    sx = scale16_sql("pk", "pk_lo0", "pk_hi0", "spark")
    sy = scale16_sql("sk", "sk_lo0", "sk_hi0", "spark")
    z = r.crossJoin(mm).select(
        "pk",
        "sk",
        F.expr(morton_sql(sx, sy, "spark")).alias("zv"),
    )
    return z.groupBy(
        F.expr("zv DIV 268435456").cast("long").alias("bucket")
    ).agg(
        F.count("*").cast("long").alias("n_rows"),
        F.min("pk").alias("pk_lo"),
        F.max("pk").alias("pk_hi"),
        F.min("sk").alias("sk_lo"),
        F.max("sk").alias("sk_hi"),
    )


# ---------------------------------------------------------------------------
# Market-basket brand pair support
# ---------------------------------------------------------------------------

_BASKET_ORACLE = """
WITH ob AS (
  SELECT DISTINCT l.l_orderkey AS ok, p.p_brand AS brand
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
),
bc AS (SELECT brand, CAST(count(*) AS BIGINT) AS n FROM ob GROUP BY brand),
tot AS (SELECT CAST(count(DISTINCT ok) AS BIGINT) AS n_orders FROM ob),
pc AS (
  SELECT a.brand AS brand_1, b.brand AS brand_2,
         CAST(count(*) AS BIGINT) AS pair_orders
  FROM ob a JOIN ob b ON a.ok = b.ok AND a.brand < b.brand
  GROUP BY 1, 2
)
SELECT pc.brand_1, pc.brand_2, pc.pair_orders,
       b1.n AS brand_1_orders, b2.n AS brand_2_orders, tot.n_orders
FROM pc
JOIN bc b1 ON b1.brand = pc.brand_1
JOIN bc b2 ON b2.brand = pc.brand_2
CROSS JOIN tot
"""


@register("brand_basket_pairs", oracle=_BASKET_ORACLE, tags=("join", "agg"))
def brand_basket_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence at the brand level: for every pair
    of brands appearing in the same order, the co-occurrence support
    plus both marginals and the order total — the exact integer
    numerators/denominators of confidence and lift, left unreduced so
    no cross-engine division ever happens.

    Scale notes: baskets collapse to DISTINCT (order, brand) first, so
    the within-order self-join fans out by basket *brand* count
    (bounded by the brand vocabulary, ≤ items per order), not line
    count; the output space is at most C(|brands|, 2) rows at ANY data
    scale — aggregate-then-pair is what keeps basket analysis flat at
    100 TB. Brand lookup is a broadcast dim join; marginals join back
    broadcast too.
    """
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    # ONE shuffle to order grain (collect_set folds the distinct into
    # the same aggregate), then pairs are generated INSIDE each basket
    # array — ≤ C(|basket|, 2) rows per order, no order-keyed self-join
    # (the join shape paid a 5.4M-row sort-merge at sf0.1 for the same
    # 300-row answer; this one is 2.0s -> ~0.5s). Baskets are bounded
    # by items-per-order, so the generated array is tiny at any scale.
    baskets = (
        li.join(p, li["l_partkey"] == p["p_partkey"])
        .groupBy(F.col("l_orderkey").alias("ok"))
        .agg(F.sort_array(F.collect_set("p_brand")).alias("bs"))
        .localCheckpoint(eager=False)  # A/B sf1: 10.46 s with, 13.67 s without
    )
    pair_gen = F.expr(
        "flatten(transform(bs, (x, i) -> "
        "transform(slice(bs, i + 2, size(bs)), "
        "y -> struct(x AS brand_1, y AS brand_2))))"
    )
    pc = (
        baskets.select(F.explode(pair_gen).alias("pr"))
        .groupBy(F.col("pr.brand_1").alias("brand_1"), F.col("pr.brand_2").alias("brand_2"))
        .agg(F.count("*").cast("long").alias("pair_orders"))
    )
    bc = (
        baskets.select(F.explode("bs").alias("brand"))
        .groupBy("brand")
        .agg(F.count("*").cast("long").alias("n"))
    )
    tot = baskets.agg(F.count("*").cast("long").alias("n_orders"))
    b1 = bc.select(F.col("brand").alias("brand_1"), F.col("n").alias("brand_1_orders"))
    b2 = bc.select(F.col("brand").alias("brand_2"), F.col("n").alias("brand_2_orders"))
    return (
        pc.join(b1, "brand_1")
        .join(b2, "brand_2")
        .crossJoin(tot)
        .select(
            "brand_1",
            "brand_2",
            "pair_orders",
            "brand_1_orders",
            "brand_2_orders",
            "n_orders",
        )
    )


# ---------------------------------------------------------------------------
# Quantile sketch audit (exact brackets around approx_percentile)
# ---------------------------------------------------------------------------

# Exact quantile convention shared by both engines: 0-based index
# (n-1)*p//100 into the value-ordered sequence — pure integer selection,
# no interpolation, no float. The Spark side ALSO runs its GK sketch
# (percentile_approx, accuracy 10000 => rank error <= n/10000) and
# audits it against the exact ±1%-rank bracket — >100x headroom, so the
# boolean is deterministic, the same audit device as hll_distinct_audit.
_QUANTILE_ORACLE = """
WITH v AS (
  SELECT l_returnflag,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
         row_number() OVER (PARTITION BY l_returnflag ORDER BY
           CAST(round(l_extendedprice * 100) AS BIGINT)) - 1 AS rn,
         count(*) OVER (PARTITION BY l_returnflag) AS n
  FROM lineitem
)
SELECT l_returnflag, CAST(max(n) AS BIGINT) AS n,
       max(CASE WHEN rn = (n - 1) * 50 // 100 THEN cents END) AS p50_cents,
       max(CASE WHEN rn = (n - 1) * 95 // 100 THEN cents END) AS p95_cents,
       TRUE AS approx_ok
FROM v GROUP BY l_returnflag
"""


@register("quantile_bracket_audit", oracle=_QUANTILE_ORACLE, tags=("agg", "sketch"))
def quantile_bracket_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact p50/p95 of line-item price per return flag by integer rank
    selection, with the GK quantile sketch (``percentile_approx``)
    audited against the exact ±1%-rank bracket — the quantile sibling
    of ``hll_distinct_audit``: at 100 TB you persist the mergeable
    sketch and let the audit band certify it, instead of paying a
    global sort per percentile question.

    Engine-parity design: the exact quantile is the value at 0-based
    rank (n-1)*p//100 of the ordered sequence — integer selection, so
    ties and floats can't diverge; the sketch (rank error n/10000)
    must land inside the p±1% exact bracket, 100x headroom, making the
    audit boolean deterministic rather than flaky.

    Scale notes (r10 rewrite): the exact side is rank SELECTION, not
    ranking — it never needs a row_number over the fact frame. The
    flag-partitioned shape (`row_number() OVER (PARTITION BY
    l_returnflag ORDER BY cents)`) is only as parallel as the flag
    cardinality: 3 flags = 3 tasks sort EVERYTHING, and a 10× scale-up
    lands 10× rows on each single task. The scale shape folds the fact
    rows to a (flag, cents) histogram (map-side combine), takes
    per-flag cumulative counts via the bucketed two-pass scheme
    (scalerank.grouped_value_cum_counts — parallel across value
    buckets), and the 6 needed ranks select their values by
    `cum - c <= r < cum` against an 18-row broadcast rank frame; its
    sketch side is a second pruned 2-column scan + mergeable agg (no
    sort). The shapes swap winners with scale because the histogram
    only starts REDUCING once row count outgrows the bounded cents
    domain — measured A/B (BASELINE.md r10): sort shape 1.6/6.4/61.2s
    at sf0.1/sf1/sf10 vs histogram shape 4.4/11.2/10.2s — so the
    builder gates on input size (threshold 512 MB between the 106 MB
    sf1 sort win and the 1.07 GB sf10 histogram 6× win). Both shapes
    produce identical integers (same parity contract, same oracle).
    """
    li = _t(spark, sf_dir, "lineitem")
    cents = F.round(F.col("l_extendedprice") * 100).cast("long")
    v = li.select(F.col("l_returnflag"), cents.alias("cents"))

    size = plan_bytes(li)
    small = size < _QUANTILE_HISTO_MIN_INPUT_BYTES
    record_gate(
        "quantile_bracket_audit", size, "per_flag_sort" if small else "histogram"
    )
    if small:
        # small-input shape: per-flag sort is 3 comfortable in-memory
        # tasks here and beats the histogram machinery (A/B above)
        w = Window.partitionBy("l_returnflag").orderBy("cents")
        r = v.select(
            "l_returnflag",
            "cents",
            (F.row_number().over(w) - 1).alias("rn"),
            F.count("*").over(Window.partitionBy("l_returnflag")).alias("n"),
        )

        def pick_rn(p: int):
            return F.max(
                F.when(
                    F.col("rn") == F.expr(f"(n - 1) * {p} DIV 100"), F.col("cents")
                )
            )

        exact = r.groupBy("l_returnflag").agg(
            F.max("n").cast("long").alias("n"),
            pick_rn(50).alias("p50_cents"),
            pick_rn(95).alias("p95_cents"),
            pick_rn(49).alias("_p49"),
            pick_rn(51).alias("_p51"),
            pick_rn(94).alias("_p94"),
            pick_rn(96).alias("_p96"),
            F.percentile_approx("cents", [0.5, 0.95], 10000).alias("ap"),
        )
        return exact.select(
            "l_returnflag",
            "n",
            "p50_cents",
            "p95_cents",
            (
                F.element_at("ap", 1)
                .cast("long")
                .between(F.col("_p49"), F.col("_p51"))
                & F.element_at("ap", 2)
                .cast("long")
                .between(F.col("_p94"), F.col("_p96"))
            ).alias("approx_ok"),
        )

    # scale shape: value-grain cumulative counts, no fact-scale sort
    cum = grouped_value_cum_counts(v, ["l_returnflag"], "cents", 65536)
    nf = cum.groupBy("l_returnflag").agg(F.max("cum").cast("long").alias("n"))
    pcts = (49, 50, 51, 94, 95, 96)
    ranks = nf.select(
        "l_returnflag",
        "n",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(p).alias("p"),
                        F.expr(f"(n - 1) * {p} DIV 100").alias("r"),
                    )
                    for p in pcts
                ]
            )
        ).alias("pr"),
    ).select("l_returnflag", "n", "pr.p", "pr.r")
    # the 0-based rank-r value is the one whose cumulative range covers
    # r — identical to the ordered-multiset selection the oracle does
    sel = cum.join(ranks, "l_returnflag").filter(
        (F.col("r") >= F.col("cum") - F.col("c")) & (F.col("r") < F.col("cum"))
    )

    def pick(p: int):
        return F.max(F.when(F.col("p") == p, F.col("cents")))

    exact = sel.groupBy("l_returnflag").agg(
        F.max("n").cast("long").alias("n"),
        pick(50).alias("p50_cents"),
        pick(95).alias("p95_cents"),
        pick(49).alias("_p49"),
        pick(51).alias("_p51"),
        pick(94).alias("_p94"),
        pick(96).alias("_p96"),
    )
    # sketch side: mergeable GK agg straight off the pruned scan
    sketch = v.groupBy("l_returnflag").agg(
        F.percentile_approx("cents", [0.5, 0.95], 10000).alias("ap")
    )
    return exact.join(sketch, "l_returnflag").select(
        "l_returnflag",
        "n",
        "p50_cents",
        "p95_cents",
        (
            F.element_at("ap", 1).cast("long").between(F.col("_p49"), F.col("_p51"))
            & F.element_at("ap", 2).cast("long").between(F.col("_p94"), F.col("_p96"))
        ).alias("approx_ok"),
    )
