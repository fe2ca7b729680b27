"""Relational operator queries, batch 8: ML feature scaling and
event-funnel analysis.

- ``supplier_qty_zscore``: per-group standardization (z-score) — the
  feature-scaling step in front of any ML stage (SURVEY §2.11), done
  distributed instead of sklearn-on-driver. Statistics are computed
  over INTEGRAL quantities so the double sums are exact and the z-score
  is engine-deterministic down to the final IEEE divide/sqrt.
- ``signup_purchase_funnel``: ordered-step conversion over the events
  stream — the min-timestamp-per-step formulation (step B counts only
  if it happens AFTER step A), one aggregation pass, no self-join.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from grocery_store_sales_forecasting_etl_pipeline_spark.plans._tables import table as _t
from grocery_store_sales_forecasting_etl_pipeline_spark.plans.registry import register
from grocery_store_sales_forecasting_etl_pipeline_spark.operators.sizing import (
    gated_broadcast as _gbcast,
)

# ---------------------------------------------------------------------------
# Per-group z-score standardization
# ---------------------------------------------------------------------------

_ZSCORE_ORACLE = """
WITH stats AS (
  SELECT l_suppkey,
         sum(l_quantity)                 AS s1,
         sum(l_quantity * l_quantity)    AS s2,
         count(*)                        AS n
  FROM lineitem
  GROUP BY l_suppkey
)
SELECT l_orderkey, l_linenumber, l_suppkey,
       round(l_quantity, 2) AS qty,
       round((l_quantity - s1 / n)
             / sqrt(s2 / n - (s1 / n) * (s1 / n)), 6) AS qty_z
FROM lineitem JOIN stats USING (l_suppkey)
WHERE l_suppkey <= 10
"""


@register("supplier_qty_zscore", oracle=_ZSCORE_ORACLE, tags=("agg", "ml", "window"))
def supplier_qty_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-supplier z-score of order quantities (population stddev via
    the sum/sum-of-squares identity, so ONE aggregation pass computes
    every group's mean and variance).

    Scale notes: expressed as window aggregates over the supplier
    partition — one shuffle, and the row stays joined to its statistics
    without a separate stats table + join. Quantities are integral ≤50,
    so s1/s2 are exact in doubles up to 2⁵³ — the z-score is
    bit-deterministic across engines; the sum/sumsq identity holds
    exactly for the same reason (catastrophic cancellation needs
    non-integral mass).
    """
    l = _t(spark, sf_dir, "lineitem").filter(F.col("l_suppkey") <= 10)
    w = Window.partitionBy("l_suppkey")
    q = F.col("l_quantity")
    s1 = F.sum(q).over(w)
    s2 = F.sum(q * q).over(w)
    n = F.count("*").over(w)
    mean = s1 / n
    z = (q - mean) / F.sqrt(s2 / n - mean * mean)
    return l.select(
        "l_orderkey",
        "l_linenumber",
        "l_suppkey",
        F.round(q, 2).alias("qty"),
        F.round(z, 6).alias("qty_z"),
    )


# ---------------------------------------------------------------------------
# Ordered-step funnel conversion
# ---------------------------------------------------------------------------

_FUNNEL_ORACLE = """
WITH per_user AS (
  SELECT user_id,
         min(CASE WHEN event_type = 'view'     THEN ts END) AS t_view,
         min(CASE WHEN event_type = 'signup'   THEN ts END) AS t_signup,
         min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
  FROM events
  GROUP BY user_id
)
SELECT
  count(*)                                               AS n_users,
  CAST(count(t_view) AS BIGINT)                          AS step_view,
  CAST(sum(CASE WHEN t_signup > t_view THEN 1 ELSE 0 END) AS BIGINT)
                                                         AS step_signup,
  CAST(sum(CASE WHEN t_purchase > t_signup AND t_signup > t_view
                THEN 1 ELSE 0 END) AS BIGINT)            AS step_purchase
FROM per_user
"""


@register("signup_purchase_funnel", oracle=_FUNNEL_ORACLE, tags=("agg", "events"))
def signup_purchase_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """view → signup → purchase funnel: a user advances a step only if
    its FIRST occurrence is strictly after the first occurrence of the
    previous step (min-timestamp formulation).

    Scale notes: one groupBy(user) with conditional min aggregates —
    no per-step self-joins (the naive funnel is k-1 joins over the
    event log; this is one shuffle regardless of k). NULL timestamps
    (step never reached) propagate false through the > comparisons on
    both engines.
    """
    ev = _t(spark, sf_dir, "events")
    t_of = lambda s: F.min(F.when(F.col("event_type") == s, F.col("ts")))  # noqa: E731
    per_user = ev.groupBy("user_id").agg(
        t_of("view").alias("t_view"),
        t_of("signup").alias("t_signup"),
        t_of("purchase").alias("t_purchase"),
    )
    sign_ok = F.col("t_signup") > F.col("t_view")
    purch_ok = (F.col("t_purchase") > F.col("t_signup")) & sign_ok
    return per_user.agg(
        F.count("*").alias("n_users"),
        F.count("t_view").alias("step_view"),
        F.sum(F.when(sign_ok, 1).otherwise(0)).cast("long").alias("step_signup"),
        F.sum(F.when(purch_ok, 1).otherwise(0)).cast("long").alias("step_purchase"),
    )


# ---------------------------------------------------------------------------
# Unpivot (wide → long)
# ---------------------------------------------------------------------------

_UNPIVOT_ORACLE = """
WITH wide AS (
  SELECT o_orderpriority,
         CAST(round(sum(CASE WHEN o_orderstatus = 'F' THEN CAST(o_totalprice AS DECIMAL(18,2)) END), 2) AS DOUBLE) AS f_total,
         CAST(round(sum(CASE WHEN o_orderstatus = 'O' THEN CAST(o_totalprice AS DECIMAL(18,2)) END), 2) AS DOUBLE) AS o_total,
         CAST(round(sum(CASE WHEN o_orderstatus = 'P' THEN CAST(o_totalprice AS DECIMAL(18,2)) END), 2) AS DOUBLE) AS p_total
  FROM orders
  GROUP BY o_orderpriority
)
SELECT o_orderpriority, status_col, total
FROM wide
UNPIVOT (total FOR status_col IN (f_total, o_total, p_total))
"""


@register("unpivot_status_totals", oracle=_UNPIVOT_ORACLE, tags=("agg", "pivot"))
def unpivot_status_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide → long: per-priority totals by order status pivoted wide
    (conditional aggregation), then melted back with ``unpivot`` —
    the inverse of pivot_priority_matrix, completing the reshape pair.

    Scale notes: unpivot is a narrow projection (each input row emits k
    rows map-side, no shuffle); the only exchange is the aggregation
    that built the wide table. NULL cells (status absent for a
    priority) are dropped by both engines' UNPIVOT by default —
    value-filtering semantics the oracle shares.
    """
    o = _t(spark, sf_dir, "orders")
    status_total = lambda s: (  # noqa: E731
        F.round(
            F.sum(F.when(F.col("o_orderstatus") == s, F.col("o_totalprice").cast("decimal(18,2)"))),
            2,
        ).cast("double")
    )
    wide = o.groupBy("o_orderpriority").agg(
        status_total("F").alias("f_total"),
        status_total("O").alias("o_total"),
        status_total("P").alias("p_total"),
    )
    return wide.unpivot(
        ids=["o_orderpriority"],
        values=["f_total", "o_total", "p_total"],
        variableColumnName="status_col",
        valueColumnName="total",
    ).where(F.col("total").isNotNull())


# ---------------------------------------------------------------------------
# Higher-order array functions (transform / filter / aggregate / zip)
# ---------------------------------------------------------------------------

_ARRAY_HOF_ORACLE = """
SELECT vec_id,
       CAST(len(list_filter(CAST(embedding AS DOUBLE[]), x -> x > 0.0)) AS BIGINT)
         AS n_positive,
       round(list_aggregate(list_transform(CAST(embedding AS DOUBLE[]),
                                           x -> x * x), 'sum'), 6)
         AS sq_norm,
       round(list_aggregate(list_transform(CAST(embedding AS DOUBLE[]),
                                           x -> least(greatest(x, -0.5), 0.5)),
                            'sum'), 6)
         AS clipped_sum
FROM embeddings
"""


@register("array_hof_funcs", oracle=_ARRAY_HOF_ORACLE, tags=("functions", "array"))
def array_hof_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array functions over the embedding column:
    ``filter`` (positive-component count), ``transform`` + ``aggregate``
    (squared norm), and clipping (transform with greatest/least) —
    Spark's lambda surface mirrored by DuckDB's list_* family.

    Determinism note: both engines fold the transformed list
    left-to-right, and float32 values squared/summed in double are
    exact per element — the sums agree at 6dp.

    Scale notes: all three are per-row JVM lambda expressions inside
    codegen — map-only, no shuffle, no Python.
    """
    emb = _t(spark, sf_dir, "embeddings")
    dv = "transform(embedding, x -> CAST(x AS DOUBLE))"
    return emb.select(
        "vec_id",
        F.expr(f"size(filter({dv}, x -> x > 0.0D))").cast("long").alias("n_positive"),
        F.round(
            F.expr(f"aggregate(transform({dv}, x -> x * x), 0.0D, (a, v) -> a + v)"), 6
        ).alias("sq_norm"),
        F.round(
            F.expr(
                f"aggregate(transform({dv}, x -> least(greatest(x, -0.5D), 0.5D)), "
                "0.0D, (a, v) -> a + v)"
            ),
            6,
        ).alias("clipped_sum"),
    )


# ---------------------------------------------------------------------------
# Cohort retention matrix
# ---------------------------------------------------------------------------

_COHORT_ORACLE = """
WITH firsts AS (
  SELECT user_id, CAST(min(ts) AS DATE) AS first_day
  FROM events
  GROUP BY user_id
)
SELECT
  first_day - CAST((dayofweek(first_day) + 6) % 7 AS INTEGER) AS cohort_start,
  CAST(date_diff('day', first_day, CAST(ts AS DATE)) // 7 AS BIGINT) AS week_offset,
  CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_users
FROM events e JOIN firsts f ON e.user_id = f.user_id
GROUP BY 1, 2
"""


@register("cohort_retention", oracle=_COHORT_ORACLE, tags=("agg", "events", "timeseries"))
def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users bucketed by the Monday of their
    first-event week, counted distinct per whole-week offset since their
    first day. Week offsets are integer day-arithmetic (days // 7), not
    calendar weekofyear — identical on every engine and immune to ISO
    year-boundary drift.

    Scale notes: two shuffles — per-user min (map-side combinable) and
    the cohort-cell distinct count; the firsts table is user-cardinality
    and joins back broadcast at dim size. The Monday anchor uses modular
    dayofweek arithmetic (with DuckDB's 0-based Sunday adjusted) rather
    than date_trunc('week'), which returns different types across
    engines.
    """
    ev = _t(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(F.min("ts").cast("date").alias("first_day"))
    # Monday anchor: subtract (dow + 5) % 7 days, Spark dayofweek is
    # 1=Sunday..7=Saturday -> Monday offset = (dayofweek + 5) % 7
    monday = F.date_sub(
        F.col("first_day"), (F.dayofweek("first_day") + F.lit(5)) % F.lit(7)
    )
    joined = ev.join(firsts, "user_id")
    return (
        joined.groupBy(
            monday.alias("cohort_start"),
            F.expr("CAST(datediff(CAST(ts AS DATE), first_day) DIV 7 AS BIGINT)").alias(
                "week_offset"
            ),
        )
        .agg(F.countDistinct("user_id").alias("n_users"))
    )


# ---------------------------------------------------------------------------
# INTERSECT (completing the set-op triple with set_ops' UNION/EXCEPT)
# ---------------------------------------------------------------------------

_INTERSECT_ORACLE = """
SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996
INTERSECT
SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1998
"""


@register("intersect_customers", oracle=_INTERSECT_ORACLE, tags=("setops",))
def intersect_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers active in BOTH 1996 and 1998 — INTERSECT distinct
    semantics (Catalyst plans it as dedup + left-semi, one shuffle on
    the key; the year filters push to the scans)."""
    o = _t(spark, sf_dir, "orders")
    y96 = o.filter(F.year("o_orderdate") == 1996).select("o_custkey")
    y98 = o.filter(F.year("o_orderdate") == 1998).select("o_custkey")
    return y96.intersect(y98)


# ---------------------------------------------------------------------------
# GROUPING SETS (arbitrary, non-hierarchical — beyond cube_volume's CUBE
# and rollup_revenue's ROLLUP)
# ---------------------------------------------------------------------------

_GSETS_ORACLE = """
SELECT
  l_returnflag,
  l_linestatus,
  CAST(grouping_id(l_returnflag, l_linestatus) AS BIGINT) AS gid,
  count(*)                  AS n_items,
  round(sum(l_quantity), 2) AS sum_qty
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
"""


@register("grouping_sets_volume", oracle=_GSETS_ORACLE, tags=("agg",))
def grouping_sets_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary GROUPING SETS ((returnflag), (linestatus)) — two
    independent single-column breakdowns in one pass, a shape neither
    ROLLUP nor CUBE expresses (completes SURVEY §2.4's grouping-sets
    family with cube_volume / rollup_revenue).

    Scale notes: Catalyst plans one Expand (2× row multiplier, map-side)
    feeding a single partial+final HashAggregate — one shuffle keyed on
    the null-extended grouping tuple, vs two scans + a union for the
    naive formulation. grouping_id disambiguates which set each output
    row belongs to.
    """
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupingSets(
            [["l_returnflag"], ["l_linestatus"]], "l_returnflag", "l_linestatus"
        )
        .agg(
            F.grouping_id("l_returnflag", "l_linestatus").alias("gid"),
            F.count("*").alias("n_items"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        )
    )


# ---------------------------------------------------------------------------
# Column-level data profiling (the DQ audit behind the quality gates)
# ---------------------------------------------------------------------------

# (name, typed-min/max SQL expression, stringified-value SQL expression)
# o_totalprice goes through DECIMAL(12,2) before stringifying: double →
# varchar formatting diverges across engines (scientific notation
# thresholds); decimal renders identically everywhere.
_PROFILE_COLS = (
    ("o_orderkey", "o_orderkey"),
    ("o_custkey", "o_custkey"),
    ("o_totalprice", "CAST(o_totalprice AS DECIMAL(12,2))"),
    ("o_orderdate", "CAST(o_orderdate AS DATE)"),
    ("o_orderpriority", "o_orderpriority"),
)

# min/max are TYPED (numeric/date order), stringified after — matching
# the Spark side's padded-sort-key-then-strip trick; a lexicographic min
# over the value strings would rank "10.50" before "9.99"
_PROFILE_ORACLE = "\nUNION ALL\n".join(
    f"""SELECT '{name}' AS col_name,
       CAST(count(*) AS BIGINT)               AS n_rows,
       CAST(count({typed}) AS BIGINT)         AS n_nonnull,
       CAST(count(DISTINCT {typed}) AS BIGINT) AS n_distinct,
       CAST(min({typed}) AS VARCHAR)          AS min_val,
       CAST(max({typed}) AS VARCHAR)          AS max_val
FROM orders"""
    for name, typed in _PROFILE_COLS
)


@register("table_profile", oracle=_PROFILE_ORACLE, tags=("quality",))
def table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-level table profile (row/null/distinct counts, min/max)
    for a representative column set of ``orders`` — the profiling sweep
    a data-quality system runs before choosing gate thresholds
    (operators/quality.py holds the gates; this is the audit that
    parameterizes them).

    Scale notes: one map-only unpivot (``stack`` → Expand, |cols|× row
    multiplier of NARROW (name, value) pairs — how every distributed
    profiler pays for exact distincts) then a single aggregation keyed
    on col_name. Exact count(DISTINCT) plans as the standard two-phase
    expand; at 100 TB swap in approx_count_distinct per column in ONE
    pass (tests/test_sketches.py pins its error envelope) — exact here
    because the oracle must hash-match. min/max must follow NUMERIC
    order, but the unpivoted values are strings (lexicographic would
    rank "10.50" before "9.99"), so the numeric columns aggregate over
    a zero-padded fixed-width sort key that makes the two orders agree,
    unpadded on output — keeping the profile to ONE scan.
    """
    o = _t(spark, sf_dir, "orders")
    # lexicographic == numeric for the numeric columns only when
    # zero-padded to a fixed width (wide enough for any value in them);
    # date/priority strings already order correctly. Pad for ordering,
    # strip for display.
    pads = frozenset({"o_orderkey", "o_custkey", "o_totalprice"})
    # Width contract: every padded value must fit — lpad TRUNCATES wider
    # input, which would silently corrupt min/max. 14 covers DECIMAL(12,2)
    # (13 chars incl. the point) and keys < 10^14; the guard below turns
    # any violation into a loud error instead of a wrong answer.
    pad_width = 14
    stack_args = []
    for name, _ in _PROFILE_COLS:
        if name == "o_totalprice":
            val = "CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS STRING)"
        elif name == "o_orderdate":
            val = "CAST(CAST(o_orderdate AS DATE) AS STRING)"
        else:
            val = f"CAST({name} AS STRING)"
        stack_args.append(f"'{name}', {val}")
    unpivot = o.selectExpr(
        f"stack({len(_PROFILE_COLS)}, {', '.join(stack_args)}) AS (col_name, val)"
    )
    pad_expr = F.when(
        F.col("col_name").isin(*pads),
        F.when(F.length("val") <= pad_width, F.lpad("val", pad_width, "0")).otherwise(
            F.raise_error(
                F.concat(
                    F.lit(f"table_profile: value wider than pad_width={pad_width}: "),
                    F.col("val"),
                )
            ).cast("string")
        ),
    ).otherwise(F.col("val"))
    prof = (
        unpivot.withColumn("ord", pad_expr)
        .groupBy("col_name")
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            F.count("val").cast("long").alias("n_nonnull"),
            F.count_distinct("val").cast("long").alias("n_distinct"),
            F.min("ord").alias("min_pad"),
            F.max("ord").alias("max_pad"),
        )
    )
    strip = lambda c: F.when(  # noqa: E731
        F.col("col_name").isin(*pads),
        F.regexp_replace(c, "^0+(?=\\d)", ""),
    ).otherwise(c)
    return prof.select(
        "col_name",
        "n_rows",
        "n_nonnull",
        "n_distinct",
        strip(F.col("min_pad")).alias("min_val"),
        strip(F.col("max_pad")).alias("max_val"),
    )


# ---------------------------------------------------------------------------
# Exact-statistic correlation (corr/covar without float-sum drift)
# ---------------------------------------------------------------------------

_CORR_ORACLE = """
WITH joined AS (
  SELECT n.n_name,
         CAST(l.l_quantity AS BIGINT)              AS x,
         CAST(round(l.l_extendedprice) AS BIGINT)  AS y
  FROM lineitem l
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN nation n   ON s.s_nationkey = n.n_nationkey
),
s AS (
  SELECT n_name,
         count(*)    AS n,
         sum(x)      AS sx,
         sum(y)      AS sy,
         sum(x * x)  AS sxx,
         sum(x * y)  AS sxy,
         sum(y * y)  AS syy
  FROM joined GROUP BY n_name
)
SELECT n_name,
  CAST(n AS BIGINT) AS n_items,
  round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
         - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
           * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                  - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6)
    AS corr_qty_price,
  round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
         - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1)), 4)
    AS covar_qty_price
FROM s
"""


@register("nation_qty_price_corr", oracle=_CORR_ORACLE, tags=("agg", "ml"))
def nation_qty_price_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation Pearson correlation + sample covariance between line
    quantity and (whole-dollar) extended price — the statistical
    profiling pass behind feature selection, computed from EXACT
    integer sufficient statistics rather than ``F.corr``: the built-in
    accumulates doubles in partition order, so its last ulp differs
    run-to-run and engine-to-engine; integer Σx/Σy/Σxx/Σxy/Σyy are
    order-free, and the closed form then applies identical IEEE ops on
    identical inputs in any engine.

    Scale notes: supplier⋈nation is dim-sized and BROADCAST, so
    lineitem never shuffles for the join; the stats aggregate is one
    shuffle of 25 nation partials with map-side combine. Whole-dollar y
    keeps Σy² under 2^63 to ~10 TB per group; past that, promote the
    two squared-sum columns to decimal(38,0) — same plan shape.
    """
    li = _t(spark, sf_dir, "lineitem")
    sup = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nat = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    # A/B sf0.1: 1.01 s with, 1.40 s without the hint
    dim = _gbcast(sup.join(nat, sup.s_nationkey == nat.n_nationkey))
    j = li.join(dim, li.l_suppkey == dim.s_suppkey).select(
        "n_name",
        F.col("l_quantity").cast("long").alias("x"),
        F.round("l_extendedprice").cast("long").alias("y"),
    )
    x, y = F.col("x"), F.col("y")
    s = j.groupBy("n_name").agg(
        F.count("*").cast("long").alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(x * x).alias("sxx"),
        F.sum(x * y).alias("sxy"),
        F.sum(y * y).alias("syy"),
    )
    nd = F.col("n").cast("double")
    sx, sy, sxx, sxy, syy = (F.col(c).cast("double") for c in ("sx", "sy", "sxx", "sxy", "syy"))
    num = nd * sxy - sx * sy
    return s.select(
        "n_name",
        F.col("n").alias("n_items"),
        F.round(
            num / (F.sqrt(nd * sxx - sx * sx) * F.sqrt(nd * syy - sy * sy)), 6
        ).alias("corr_qty_price"),
        F.round(num / (nd * (nd - F.lit(1.0))), 4).alias("covar_qty_price"),
    )


# ---------------------------------------------------------------------------
# SCD2 dimension history (type-2 merge of a changed snapshot)
# ---------------------------------------------------------------------------

# deterministic second snapshot derived from customer: every 10th key
# changes segment (string reverse), every 97th key is deleted, every
# 101st key reappears as a brand-new key (+10M) — exercising all four
# SCD2 branches with no synthetic data.
_SCD2_ORACLE = """
WITH cust AS (SELECT c_custkey, c_mktsegment, c_nationkey FROM customer),
v2 AS (
  SELECT c_custkey,
         CASE WHEN c_custkey % 10 = 0 THEN reverse(c_mktsegment)
              ELSE c_mktsegment END AS c_mktsegment,
         c_nationkey
  FROM cust WHERE c_custkey % 97 <> 0
  UNION ALL
  SELECT c_custkey + 10000000, c_mktsegment, c_nationkey
  FROM cust WHERE c_custkey % 101 = 0
),
j AS (
  SELECT coalesce(a.c_custkey, b.c_custkey) AS k,
         a.c_custkey AS ck1, b.c_custkey AS ck2,
         a.c_mktsegment AS seg1, a.c_nationkey AS nat1,
         b.c_mktsegment AS seg2, b.c_nationkey AS nat2
  FROM cust a FULL JOIN v2 b ON a.c_custkey = b.c_custkey
)
SELECT k AS c_custkey, seg1 AS c_mktsegment, nat1 AS c_nationkey,
       CAST(1 AS BIGINT) AS valid_from, CAST(NULL AS BIGINT) AS valid_to
FROM j WHERE ck1 IS NOT NULL AND ck2 IS NOT NULL
        AND seg1 = seg2 AND nat1 = nat2
UNION ALL
SELECT k, seg1, nat1, CAST(1 AS BIGINT), CAST(2 AS BIGINT)
FROM j WHERE ck1 IS NOT NULL AND ck2 IS NOT NULL
        AND (seg1 <> seg2 OR nat1 <> nat2)
UNION ALL
SELECT k, seg2, nat2, CAST(2 AS BIGINT), CAST(NULL AS BIGINT)
FROM j WHERE ck1 IS NOT NULL AND ck2 IS NOT NULL
        AND (seg1 <> seg2 OR nat1 <> nat2)
UNION ALL
SELECT k, seg1, nat1, CAST(1 AS BIGINT), CAST(2 AS BIGINT)
FROM j WHERE ck1 IS NOT NULL AND ck2 IS NULL
UNION ALL
SELECT k, seg2, nat2, CAST(2 AS BIGINT), CAST(NULL AS BIGINT)
FROM j WHERE ck1 IS NULL
"""


@register("scd2_customer_history", oracle=_SCD2_ORACLE, tags=("pipeline",))
def scd2_customer_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 slowly-changing-dimension merge
    (sources/maintenance.scd2_merge) of a deterministically-derived
    second customer snapshot into the v1 history: changed keys close
    their open row and start a new one, deleted keys close, new keys
    open — the point-in-time dimension history the reference's
    latest-only upsert pipeline (merge_upsert) cannot answer.

    Scale notes: one full-outer equi-join on the natural key + a
    conditional array-explode emitting 1-2 rows per key — the
    branch-per-case union formulation the oracle uses would re-execute
    the join per branch (5 scans there, 1 here).
    """
    from grocery_store_sales_forecasting_etl_pipeline_spark.sources.maintenance import (
        scd2_merge,
    )

    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_nationkey"
    )
    v1 = cust.withColumn("valid_from", F.lit(1).cast("long")).withColumn(
        "valid_to", F.lit(None).cast("long")
    )
    v2 = cust.withColumn(
        "c_mktsegment",
        F.when(
            F.col("c_custkey") % 10 == 0, F.reverse("c_mktsegment")
        ).otherwise(F.col("c_mktsegment")),
    ).filter(F.col("c_custkey") % 97 != 0)
    adds = cust.filter(F.col("c_custkey") % 101 == 0).withColumn(
        "c_custkey", F.col("c_custkey") + 10_000_000
    )
    hist = scd2_merge(v1, v2.unionByName(adds), keys=["c_custkey"], version=2)
    return hist.select(
        "c_custkey", "c_mktsegment", "c_nationkey", "valid_from", "valid_to"
    )


# ---------------------------------------------------------------------------
# Point-in-time join against the SCD2 history
# ---------------------------------------------------------------------------

# as-of version per order: first half of the order-date range reads the
# dimension AT version 1, second half at version 2 — deterministic and
# derivable in both engines (split at the calendar midpoint 1995-06-01).
_PIT_SPLIT_DATE = "1995-06-01"

_PIT_ORACLE = f"""
WITH hist AS ({_SCD2_ORACLE}
),
o AS (
  SELECT o_orderkey, o_custkey,
         CASE WHEN CAST(o_orderdate AS DATE) < DATE '{_PIT_SPLIT_DATE}'
              THEN 1 ELSE 2 END AS as_of_v
  FROM orders WHERE o_orderkey % 50 = 0
)
SELECT o.o_orderkey, o.o_custkey, CAST(o.as_of_v AS BIGINT) AS as_of_v,
       h.c_mktsegment AS segment_at_order
FROM o JOIN hist h
  ON o.o_custkey = h.c_custkey
 AND h.valid_from <= o.as_of_v
 AND (h.valid_to IS NULL OR o.as_of_v < h.valid_to)
"""


@register("scd2_pit_join", oracle=_PIT_ORACLE, tags=("pipeline", "join"))
def scd2_pit_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time join: each (sampled) order reads the customer
    dimension AS OF its own version (orders before mid-1995 see v1,
    after see v2), via interval containment against the SCD2 history's
    ``valid_from``/``valid_to`` stamps — the query pattern SCD2 exists
    for, and the one a latest-only dimension silently gets wrong
    (training-data lens: label/feature joins must read dimensions as of
    the EVENT time or they leak the future).

    Scale notes: equi-join on the natural key carries the work; the
    interval predicate rides along as a join residual, so this is a
    plain hash/sort-merge join, not a range join — per key the history
    has O(versions) rows, so the residual scan is tiny and the plan is
    the dim-enrich plan with one extra filter. History is
    dim-sized → broadcast.
    """
    hist = scd2_customer_history(spark, sf_dir)
    o = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 50 == 0)
        .select(
            "o_orderkey",
            "o_custkey",
            F.when(
                F.col("o_orderdate").cast("date") < F.lit(_PIT_SPLIT_DATE).cast("date"),
                1,
            )
            .otherwise(2)
            .cast("long")
            .alias("as_of_v"),
        )
    )
    cond = (
        (o.o_custkey == hist.c_custkey)
        & (hist.valid_from <= o.as_of_v)
        & (hist.valid_to.isNull() | (o.as_of_v < hist.valid_to))
    )
    return o.join(hist, cond).select(
        "o_orderkey",
        "o_custkey",
        "as_of_v",
        F.col("c_mktsegment").alias("segment_at_order"),
    )
