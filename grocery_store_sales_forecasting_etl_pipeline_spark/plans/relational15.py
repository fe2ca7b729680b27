"""Round-5 additions, statistical-audit batch: autocorrelation of the
weekly revenue series, a contingency-table independence audit, and
per-nation Gini concentration — the distribution-diagnostics layer over
the same facts the reporting queries aggregate.

All three follow the repo's exact-sufficient-statistics discipline: every
accumulation is BIGINT (floor-dollar scaling where squares would overflow
cents), and floats appear only as ONE closed-form expression at the
output boundary, so both engines evaluate the identical IEEE expression
tree over identical integers and the driver hash is bit-stable.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from grocery_store_sales_forecasting_etl_pipeline_spark.plans._tables import table as _t
from grocery_store_sales_forecasting_etl_pipeline_spark.plans.registry import register

# ---------------------------------------------------------------------------
# Weekly revenue autocorrelation (ACF lags 1..4)
# ---------------------------------------------------------------------------


# the weekly floor-dollar series every weekly-revenue query imports from
# here (cents summed exactly, then integer-divided by 100; Spark DIV ==
# DuckDB // on non-negatives)
_WEEKLY_CTE = """
WITH weekly AS (
  SELECT CAST(date_trunc('week', o_orderdate) AS DATE) AS week_start,
         sum(CAST(round(o_totalprice * 100) AS BIGINT)) // 100 AS dollars
  FROM orders GROUP BY week_start
)"""


def _weekly_dollars(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    return (
        o.select(
            F.date_trunc("week", "o_orderdate").cast("date").alias("week_start"),
            F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        )
        .groupBy("week_start")
        .agg(F.expr("sum(cents) DIV 100").alias("dollars"))
    )


# floor-dollars: weekly cents sums are exact BIGINT, then DIV 100 keeps
# Σx² for a ~350-point series safely inside BIGINT (cents² would not).
_ACF_LAGS = (1, 2, 3, 4)

_ACF_ORACLE = _WEEKLY_CTE + """,
led AS (
  SELECT dollars AS x,
         lead(dollars, 1) OVER w AS y1,
         lead(dollars, 2) OVER w AS y2,
         lead(dollars, 3) OVER w AS y3,
         lead(dollars, 4) OVER w AS y4
  FROM weekly WINDOW w AS (ORDER BY week_start)
),
pairs AS (
  SELECT 1 AS lag, x, y1 AS y FROM led WHERE y1 IS NOT NULL
  UNION ALL SELECT 2, x, y2 FROM led WHERE y2 IS NOT NULL
  UNION ALL SELECT 3, x, y3 FROM led WHERE y3 IS NOT NULL
  UNION ALL SELECT 4, x, y4 FROM led WHERE y4 IS NOT NULL
),
stats AS (
  -- HUGEINT accumulation: Σx² for a dollar-scaled series overflows
  -- BIGINT from ~sf1 (measured 4.1e18 at sf0.1); exact to 1e38
  SELECT lag, CAST(count(*) AS BIGINT) AS n,
         sum(CAST(x AS HUGEINT)) AS sx, sum(CAST(y AS HUGEINT)) AS sy,
         sum(CAST(x AS HUGEINT) * y) AS sxy,
         sum(CAST(x AS HUGEINT) * x) AS sxx,
         sum(CAST(y AS HUGEINT) * y) AS syy
  FROM pairs GROUP BY lag
)
SELECT CAST(lag AS BIGINT) AS lag, n AS n_pairs,
       round((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
             / sqrt((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                    * (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)),
             6) AS acf
FROM stats
"""


@register("weekly_revenue_acf", oracle=_ACF_ORACLE, tags=("timeseries", "stats"))
def weekly_revenue_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation of the weekly revenue series at lags 1–4 — the
    seasonality diagnostic that tells the forecast family (OLS / EWMA /
    Holt / backtest) which lags carry signal.

    Engine-parity design: the series is floor-DOLLARS (weekly cents
    summed exactly, then integer-divided by 100) and the six sufficient
    statistics per lag accumulate in DECIMAL(38,0) / HUGEINT — exact
    integer arithmetic with 1e38 headroom (BIGINT overflows from ~sf1:
    Σx² measured 4.1e18 at sf0.1 and ANSI mode throws); the Pearson r
    is ONE closed-form double expression over those integers, identical
    in both engines, rounded at the boundary.

    Scale notes: the fact scan reduces to |weeks| rows before any
    window; the lead() window is over that tiny aggregated series (a
    single-partition sort of ~hundreds of rows — the same deliberate
    choice as the forecast queries), and the lag fan-out is a map-only
    4-struct explode. At 100 TB nothing upstream of the weekly
    aggregate changes.
    """
    weekly = _weekly_dollars(spark, sf_dir)
    w = Window.orderBy("week_start")
    led = weekly.select(
        F.col("dollars").alias("x"),
        *[F.lead("dollars", k).over(w).alias(f"y{k}") for k in _ACF_LAGS],
    )
    pairs = led.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(k).cast("long").alias("lag"),
                        F.col("x"),
                        F.col(f"y{k}").alias("y"),
                    )
                    for k in _ACF_LAGS
                ]
            )
        ).alias("p")
    ).select("p.lag", "p.x", "p.y").filter(F.col("y").isNotNull())
    # DECIMAL(38,0) accumulation — exact like BIGINT but with 1e38
    # headroom: Σx² for the dollar series overflows long from ~sf1
    # (measured 4.1e18 at sf0.1, ANSI mode throws); DuckDB side uses
    # HUGEINT, both exact, both feeding the same double formula
    dx = F.col("x").cast("decimal(38,0)")
    dy = F.col("y").cast("decimal(38,0)")
    stats = pairs.groupBy("lag").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(dx).alias("sx"),
        F.sum(dy).alias("sy"),
        F.sum(dx * F.col("y")).alias("sxy"),
        F.sum(dx * F.col("x")).alias("sxx"),
        F.sum(dy * F.col("y")).alias("syy"),
    )
    n, sx, sy = F.col("n").cast("double"), F.col("sx").cast("double"), F.col("sy").cast("double")
    sxy, sxx, syy = F.col("sxy").cast("double"), F.col("sxx").cast("double"), F.col("syy").cast("double")
    return stats.select(
        "lag",
        F.col("n").alias("n_pairs"),
        F.round(
            (n * sxy - sx * sy) / F.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)),
            6,
        ).alias("acf"),
    )


# ---------------------------------------------------------------------------
# Contingency-table independence audit (status x priority)
# ---------------------------------------------------------------------------

_INDEP_ORACLE = """
WITH cells AS (
  SELECT o_orderstatus AS status, o_orderpriority AS priority,
         CAST(count(*) AS BIGINT) AS observed
  FROM orders GROUP BY status, priority
),
margins AS (
  SELECT status, priority, observed,
         sum(observed) OVER (PARTITION BY status) AS row_total,
         sum(observed) OVER (PARTITION BY priority) AS col_total,
         sum(observed) OVER () AS n
  FROM cells
)
SELECT status, priority, observed,
       CAST(row_total AS BIGINT) AS row_total,
       CAST(col_total AS BIGINT) AS col_total,
       CAST(n * observed - row_total * col_total AS BIGINT) AS dev_n
FROM margins
"""


@register("priority_status_independence", oracle=_INDEP_ORACLE, tags=("agg", "stats"))
def priority_status_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contingency-table independence audit for (status, priority): each
    cell's observed count against its margins, with the EXACT integer
    deviation ``dev_n = n·observed − row_total·col_total`` (the
    chi-square numerator scaled by n, sign showing over/under
    -representation; dev_n = 0 for every cell ⇔ perfect independence).

    Kept fully integer — the chi-square statistic itself is
    dev_n²/(n·row·col) summed over cells, a float the CALLER derives;
    emitting exact integers sidesteps cross-engine float-sum ordering
    entirely (the repo's sufficient-statistics discipline). Bound:
    dev_n's products grow ~n²/|cells|, so the BIGINT output is exact to
    ~1.2e10 orders; past that, emit dev_n DIV n (same sign/ordering
    information, n× more headroom) or widen to decimal(38,0).

    Scale notes: one fact scan to a |cells|-row frame; margins are
    window sums OVER THE CELLS (15 rows), not the facts — the fact
    table is never re-scanned for row/column totals.
    """
    o = _t(spark, sf_dir, "orders")
    cells = (
        o.select(
            F.col("o_orderstatus").alias("status"),
            F.col("o_orderpriority").alias("priority"),
        )
        .groupBy("status", "priority")
        .agg(F.count(F.lit(1)).cast("long").alias("observed"))
    )
    w_row = Window.partitionBy("status")
    w_col = Window.partitionBy("priority")
    w_all = Window.partitionBy()
    m = cells.select(
        "status",
        "priority",
        "observed",
        F.sum("observed").over(w_row).cast("long").alias("row_total"),
        F.sum("observed").over(w_col).cast("long").alias("col_total"),
        F.sum("observed").over(w_all).cast("long").alias("n"),
    )
    return m.select(
        "status",
        "priority",
        "observed",
        "row_total",
        "col_total",
        (F.col("n") * F.col("observed") - F.col("row_total") * F.col("col_total"))
        .cast("long")
        .alias("dev_n"),
    )


# ---------------------------------------------------------------------------
# Per-nation customer-spend Gini concentration
# ---------------------------------------------------------------------------

_GINI_ORACLE = """
WITH spend AS (
  SELECT c.c_nationkey AS nationkey, o.o_custkey AS custkey,
         sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS cents
  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
  GROUP BY nationkey, custkey
),
ranked AS (
  SELECT nationkey, cents,
         row_number() OVER (PARTITION BY nationkey
                            ORDER BY cents, custkey) AS rnk
  FROM spend
),
stats AS (
  -- HUGEINT: Σ rank·cents grows ~n² per group and crosses BIGINT at
  -- ~4M customers/nation; exact to 1e38
  SELECT nationkey, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(cents) AS BIGINT) AS total,
         sum(CAST(rnk AS HUGEINT) * cents) AS weighted
  FROM ranked GROUP BY nationkey
)
SELECT nationkey, n AS n_customers, total AS total_cents,
       round((2.0 * weighted - (CAST(n AS DOUBLE) + 1) * total)
             / (CAST(n AS DOUBLE) * total), 6) AS gini
FROM stats
"""


@register("nation_spend_gini", oracle=_GINI_ORACLE, tags=("agg", "stats"))
def nation_spend_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation Gini coefficient of customer spend — the inequality /
    concentration diagnostic (0 = spend spread evenly, →1 = one
    customer dominates), the distributional complement of the Pareto
    80% cut (nation_revenue_pareto).

    Determinism: rank ties among equal spends are broken by custkey,
    and Σ rank·cents is invariant to order WITHIN an equal-spend run,
    so the integer sufficient statistics (n, Σx, Σ rank·x) are exact in
    both engines (Σ rank·x accumulates in DECIMAL(38,0)/HUGEINT — it
    grows ~n² per group); the Gini is one closed-form double expression.

    Scale notes: per-nation window rank is |nations|-way parallel over
    the compact (nation, customer) aggregate, not the fact table; for
    billion-customer groups swap row_number for the two-pass
    rank-from-sort-structure used in winsorized_price_stats — the
    Σ rank·x statistic is unchanged.
    """
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    spend = (
        o.select(
            "o_custkey",
            F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        )
        .join(
            c.select(
                F.col("c_custkey").alias("custkey"),
                F.col("c_nationkey").alias("nationkey"),
            ),
            F.col("o_custkey") == F.col("custkey"),
        )
        .groupBy("nationkey", "custkey")
        .agg(F.sum("cents").cast("long").alias("cents"))
    )
    w = Window.partitionBy("nationkey").orderBy("cents", "custkey")
    ranked = spend.select(
        "nationkey", "cents", F.row_number().over(w).cast("long").alias("rnk")
    )
    stats = ranked.groupBy("nationkey").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("cents").cast("long").alias("total"),
        # decimal: Σ rank·cents grows ~n² per group (BIGINT dies at ~4M
        # customers/nation; decimal exact to 1e38)
        F.sum(F.col("rnk").cast("decimal(38,0)") * F.col("cents")).alias("weighted"),
    )
    n_d, total_d = F.col("n").cast("double"), F.col("total").cast("double")
    return stats.select(
        "nationkey",
        F.col("n").alias("n_customers"),
        F.col("total").alias("total_cents"),
        F.round(
            (F.lit(2.0) * F.col("weighted").cast("double") - (n_d + F.lit(1.0)) * total_d)
            / (n_d * total_d),
            6,
        ).alias("gini"),
    )


# ---------------------------------------------------------------------------
# Pairwise correlation matrix over lineitem numeric columns
# ---------------------------------------------------------------------------

# integer scalings (qty as-is, price in floor-dollars, discount/tax in
# basis points) keep per-row products small; accumulation is
# DECIMAL(38,0)/HUGEINT because Σ price² alone crosses BIGINT at ~2.5B
# rows (measured 2.2e15 at sf0.1) — decimal holds exactly to ~1e38
_CORR_VARS = (
    ("qty", "CAST(l_quantity AS BIGINT)"),
    ("price_usd", "CAST(round(l_extendedprice * 100) AS BIGINT) // 100"),
    ("disc_bp", "CAST(round(l_discount * 10000) AS BIGINT)"),
    ("tax_bp", "CAST(round(l_tax * 10000) AS BIGINT)"),
)


def _corr_oracle() -> str:
    sel = ",\n         ".join(f"{expr} AS {name}" for name, expr in _CORR_VARS)
    pairs = [
        (a, b) for i, (a, _) in enumerate(_CORR_VARS) for b, _ in [p for p in _CORR_VARS[i + 1:]]
    ]
    stats = ",\n         ".join(
        [f"CAST(count(*) AS BIGINT) AS n"]
        + [f"sum(CAST({a} AS HUGEINT)) AS s_{a}" for a, _ in _CORR_VARS]
        + [f"sum(CAST({a} AS HUGEINT) * {a}) AS ss_{a}" for a, _ in _CORR_VARS]
        + [f"sum(CAST({a} AS HUGEINT) * {b}) AS sp_{a}_{b}" for a, b in pairs]
    )
    arms = "\n  UNION ALL ".join(
        f"SELECT '{a}' AS var_1, '{b}' AS var_2, n, "
        f"round((CAST(n AS DOUBLE) * sp_{a}_{b} - CAST(s_{a} AS DOUBLE) * s_{b})"
        f" / sqrt((CAST(n AS DOUBLE) * ss_{a} - CAST(s_{a} AS DOUBLE) * s_{a})"
        f" * (CAST(n AS DOUBLE) * ss_{b} - CAST(s_{b} AS DOUBLE) * s_{b})), 6)"
        f" AS corr FROM stats"
        for a, b in pairs
    )
    return f"""
WITH base AS (
  SELECT {sel}
  FROM lineitem
),
stats AS (
  SELECT {stats}
  FROM base
)
{arms}
"""


@register("lineitem_corr_matrix", oracle=_corr_oracle(), tags=("agg", "stats"))
def lineitem_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlation matrix (long form: var_1, var_2, n,
    corr) over lineitem's numeric columns — the feature-screening
    profile an ML pipeline runs before training (collinearity /
    leakage checks).

    Engine-parity design: ALL C(4,2)=6 pairs come from ONE aggregation
    pass collecting the 15 integer sufficient statistics (n, 4 sums,
    4 sums-of-squares, 6 cross-products) — columns integer-scaled
    (floor-dollars, basis points) and accumulated in DECIMAL(38,0)/
    HUGEINT (Σ price² crosses BIGINT at ~2.5B rows; decimal is exact to
    ~3e28 rows); each corr is one closed-form double expression over
    those integers, evaluated identically in both engines. A naive
    ``df.stat.corr`` loop would scan the fact 6 times and accumulate
    in floats.

    Scale notes: map-side partial aggregation reduces the scan to one
    15-number state per mapper; the 6-row output is a driver-trivial
    projection of the single global state.
    """
    li = _t(spark, sf_dir, "lineitem")
    base = li.selectExpr(
        *[f"{expr.replace('//', 'DIV')} AS {name}" for name, expr in _CORR_VARS]
    )
    names = [n for n, _ in _CORR_VARS]
    pairs = [(a, b) for i, a in enumerate(names) for b in names[i + 1:]]
    # two-level exact accumulation: per-partition partials in LONG (a
    # 128 MB scan partition holds ~1M rows, Σ price² ≈ 4e15 — far inside
    # BIGINT), then the handful of partials sum in DECIMAL(38,0). Long
    # partials keep whole-stage codegen on the hot 60M-row pass; an
    # all-decimal aggregate measured 3.8× slower at sf10 (45s vs 12s).
    # Exactness is unaffected: integer addition is associative, so the
    # partial/final split cannot change the result.
    part_aggs = (
        [F.count(F.lit(1)).cast("long").alias("n")]
        + [F.sum(a).cast("long").alias(f"s_{a}") for a in names]
        + [F.sum(F.col(a) * F.col(a)).cast("long").alias(f"ss_{a}") for a in names]
        + [F.sum(F.col(a) * F.col(b)).cast("long").alias(f"sp_{a}_{b}") for a, b in pairs]
    )
    partials = base.groupBy(F.spark_partition_id().alias("__pid")).agg(*part_aggs)
    metric_cols = [c for c in partials.columns if c != "__pid"]
    stats = partials.agg(
        *[
            (
                F.sum("n").cast("long").alias("n")
                if c == "n"
                else F.sum(F.col(c).cast("decimal(38,0)")).alias(c)
            )
            for c in metric_cols
        ]
        # the 6 unioned arms each re-derive this one-row frame
    ).localCheckpoint(eager=False)  # A/B sf0.1: 1.16 s with, 1.50 s without
    arm_rows = []
    for a, b in pairs:
        n = F.col("n").cast("double")
        sa, sb = F.col(f"s_{a}").cast("double"), F.col(f"s_{b}").cast("double")
        ssa, ssb = F.col(f"ss_{a}").cast("double"), F.col(f"ss_{b}").cast("double")
        sp = F.col(f"sp_{a}_{b}").cast("double")
        arm_rows.append(
            stats.select(
                F.lit(a).alias("var_1"),
                F.lit(b).alias("var_2"),
                F.col("n"),
                F.round(
                    (n * sp - sa * sb)
                    / F.sqrt((n * ssa - sa * sa) * (n * ssb - sb * sb)),
                    6,
                ).alias("corr"),
            )
        )
    out = arm_rows[0]
    for r in arm_rows[1:]:
        out = out.unionByName(r)
    return out


# ---------------------------------------------------------------------------
# Benford first-digit audit
# ---------------------------------------------------------------------------

_BENFORD_ORACLE = """
WITH digits AS (
  SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1)
              AS BIGINT) AS digit
  FROM orders WHERE o_totalprice >= 1
)
SELECT digit, CAST(count(*) AS BIGINT) AS n,
       CAST(count(*) * 1000000 // (SELECT count(*) FROM digits) AS BIGINT)
         AS ppm
FROM digits GROUP BY digit
"""


@register("totalprice_benford_digits", oracle=_BENFORD_ORACLE, tags=("agg", "quality"))
def totalprice_benford_digits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leading-digit distribution of order totals (Benford screen): digit
    1-9 with exact counts and floor-ppm shares — the anomaly /
    fabricated-data audit auditors run on financial columns. (TPC-H
    prices are uniform-ish, NOT Benford-distributed; the audit reports,
    it does not gate.)

    Scale notes: map-only digit extraction (string head of the integer
    part — no log10 float), one 9-group aggregate; the global total for
    shares rides the same aggregate via a window, not a second scan.
    Integer floor division (ppm) keeps the output float-free.
    """
    o = _t(spark, sf_dir, "orders")
    digits = o.filter(F.col("o_totalprice") >= 1).select(
        F.substring(F.floor("o_totalprice").cast("long").cast("string"), 1, 1)
        .cast("long")
        .alias("digit")
    )
    counts = digits.groupBy("digit").agg(F.count(F.lit(1)).cast("long").alias("n"))
    w_all = Window.partitionBy()
    return counts.select(
        "digit",
        "n",
        F.expr("n * 1000000").cast("long").alias("_num"),
        F.sum("n").over(w_all).cast("long").alias("_tot"),
    ).selectExpr("digit", "n", "_num DIV _tot AS ppm")


# ---------------------------------------------------------------------------
# Monotonic-ID completeness audit (gap detection without a global sort)
# ---------------------------------------------------------------------------

_GAP_BUCKET = 10_000

_IDGAP_ORACLE = f"""
WITH keys AS (SELECT DISTINCT o_orderkey AS k FROM orders),
bucketed AS (
  SELECT k, k // {_GAP_BUCKET} AS bucket,
         lag(k) OVER (PARTITION BY k // {_GAP_BUCKET} ORDER BY k) AS prev_k
  FROM keys
),
within AS (
  SELECT bucket,
         CAST(count(*) AS BIGINT) AS n_keys,
         CAST(min(k) AS BIGINT) AS min_key,
         CAST(max(k) AS BIGINT) AS max_key,
         CAST(coalesce(sum(k - prev_k - 1), 0) AS BIGINT) AS missing_within,
         CAST(coalesce(max(k - prev_k - 1), 0) AS BIGINT) AS largest_gap
  FROM bucketed GROUP BY bucket
)
SELECT CAST(bucket AS BIGINT) AS bucket, n_keys, min_key, max_key,
       missing_within, largest_gap,
       CAST(coalesce(min_key - lag(max_key) OVER (ORDER BY bucket) - 1, 0)
         AS BIGINT) AS boundary_missing
FROM within
"""


@register("orderkey_gap_audit", oracle=_IDGAP_ORACLE, tags=("quality", "window"))
def orderkey_gap_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monotonic-ID completeness audit: per 10k-key bucket, how many
    orderkeys are missing inside the bucket (sum and largest run) and
    across the boundary from the previous bucket — the CDC / ingest
    completeness check ("did we lose a range of records?").

    Scale notes: the classic formulation (lag over ORDER BY key) is a
    GLOBAL sort; here the lag windows are PARTITIONED by key-bucket, so
    gap detection runs |buckets|-way parallel over one scan, and only
    the |buckets|-row aggregate passes through the final single-row
    -per-bucket boundary window (the concurrent_sessions_peak two-level
    pattern). TPC-H orderkeys are sparse BY DESIGN (8 of every 32), so
    the audit reports real structural gaps, not an empty result.
    """
    o = _t(spark, sf_dir, "orders")
    keys = o.select(F.col("o_orderkey").alias("k")).distinct()
    bucketed = keys.select(
        "k", F.expr(f"k DIV {_GAP_BUCKET}").alias("bucket")
    ).withColumn(
        "prev_k", F.lag("k").over(Window.partitionBy("bucket").orderBy("k"))
    )
    gap = F.col("k") - F.col("prev_k") - 1
    within = bucketed.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n_keys"),
        F.min("k").cast("long").alias("min_key"),
        F.max("k").cast("long").alias("max_key"),
        F.coalesce(F.sum(gap), F.lit(0)).cast("long").alias("missing_within"),
        F.coalesce(F.max(gap), F.lit(0)).cast("long").alias("largest_gap"),
    )
    w = Window.orderBy("bucket")
    return within.select(
        F.col("bucket").cast("long").alias("bucket"),
        "n_keys",
        "min_key",
        "max_key",
        "missing_within",
        "largest_gap",
        F.coalesce(F.col("min_key") - F.lag("max_key").over(w) - 1, F.lit(0))
        .cast("long")
        .alias("boundary_missing"),
    )


# ---------------------------------------------------------------------------
# CUSUM drift detection over the weekly revenue series
# ---------------------------------------------------------------------------

_CUSUM_ORACLE = _WEEKLY_CTE + """,
param AS (
  SELECT *,
         sum(dollars) OVER () // count(*) OVER () AS mu
  FROM weekly
),
pref AS (
  SELECT week_start, dollars, mu,
         sum(dollars - mu - mu // 20) OVER (ORDER BY week_start
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p_up,
         sum(mu - mu // 20 - dollars) OVER (ORDER BY week_start
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p_dn
  FROM param
),
runmin AS (
  SELECT *,
         min(p_up) OVER (ORDER BY week_start
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS m_up,
         min(p_dn) OVER (ORDER BY week_start
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS m_dn
  FROM pref
)
SELECT week_start, CAST(dollars AS BIGINT) AS dollars,
       CAST(p_up - least(CAST(0 AS BIGINT), m_up) AS BIGINT) AS cusum_up,
       CAST(p_dn - least(CAST(0 AS BIGINT), m_dn) AS BIGINT) AS cusum_down,
       (p_up - least(CAST(0 AS BIGINT), m_up)) > mu // 2
         OR (p_dn - least(CAST(0 AS BIGINT), m_dn)) > mu // 2 AS alarm
FROM runmin
"""


@register("weekly_revenue_cusum", oracle=_CUSUM_ORACLE, tags=("timeseries", "stats"))
def weekly_revenue_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sided CUSUM drift detector over weekly revenue: cumulative
    upward/downward deviation from the series mean (slack k = μ/20,
    alarm at h = μ/2) — the change-point screen a training-data
    pipeline runs on ingest volume before a distribution shift poisons
    a model refresh.

    Recurrence→window identity: the textbook CUSUM is the sequential
    clamp S_t = max(0, S_{t−1} + d_t), which distributed sums cannot
    reorder — but its closed form is S_t = P_t − min(0, min_{j≤t} P_j)
    (prefix sum minus running minimum), so the whole detector becomes
    TWO stacked window functions over the tiny weekly aggregate: no
    fold, no UDF, exact integers end to end (contrast
    supplier_clamped_balance, which keeps the explicit fold where
    per-entity state must stay opaque).

    Scale notes: the fact scan reduces to |weeks| rows first; both
    windows run over that single-partition frame (deliberate, as in the
    forecast family). μ, k, h derive from window totals — no second
    scan, no driver collect.
    """
    weekly = _weekly_dollars(spark, sf_dir)
    param = weekly.select(
        "week_start",
        "dollars",
        F.expr("sum(dollars) OVER () DIV count(*) OVER ()").alias("mu"),
    )
    w_run = Window.orderBy("week_start").rowsBetween(Window.unboundedPreceding, 0)
    pref = param.select(
        "week_start",
        "dollars",
        "mu",
        F.sum(F.expr("dollars - mu - mu DIV 20")).over(w_run).alias("p_up"),
        F.sum(F.expr("mu - mu DIV 20 - dollars")).over(w_run).alias("p_dn"),
    )
    runmin = pref.select(
        "*",
        F.min("p_up").over(w_run).alias("m_up"),
        F.min("p_dn").over(w_run).alias("m_dn"),
    )
    zero = F.lit(0).cast("long")
    cu = (F.col("p_up") - F.least(zero, F.col("m_up"))).cast("long")
    cd = (F.col("p_dn") - F.least(zero, F.col("m_dn"))).cast("long")
    h = F.expr("mu DIV 2")
    return runmin.select(
        "week_start",
        F.col("dollars").cast("long").alias("dollars"),
        cu.alias("cusum_up"),
        cd.alias("cusum_down"),
        ((cu > h) | (cd > h)).alias("alarm"),
    )
