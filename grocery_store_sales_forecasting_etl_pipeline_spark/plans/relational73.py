"""Round-6 additions, batch 73: causal contrast, price rigidity,
product retention, and reliability curves — a difference-in-differences
estimate of BUILDING-segment order value across the dataset's
median-date split (the 2×2 cell contrast that nets out both the group
difference and the common time trend — the workhorse quasi-experiment
readout), a price-stickiness profile over part weekly price spells
(how long does a price LAST — the micro price-rigidity statistic),
the classic day-k retention curve from the events stream (is a user
seen again exactly k days after first touch — the D1/D7 numbers every
product dashboard leads with), and the mean-residual-life curve of
order interarrival gaps (given a customer is already t days quiet,
how much LONGER until the next order — the reliability curve that
tells churn models whether silence is ominous or normal).

Determinism discipline: every cell count/sum/sumsq, spell length,
retention numerator, and tail sum is an exact integer fold
(DECIMAL(38,0)/HUGEINT); the median-date and decile thresholds are
exact order statistics on value-count frames; means, variances, and
the DiD t divide once at the boundary with identical double trees.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from grocery_store_sales_forecasting_etl_pipeline_spark.plans._tables import table as _t
from grocery_store_sales_forecasting_etl_pipeline_spark.plans.registry import register

# ---------------------------------------------------------------------------
# Difference-in-differences: BUILDING order value across the median split
# ---------------------------------------------------------------------------

_DID_ORACLE = """
WITH o AS (
  SELECT CASE WHEN c.c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END AS g,
         CAST(o.o_orderdate AS DATE) AS d,
         CAST(round(o.o_totalprice * 100) AS BIGINT) AS cents
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
),
dv AS (
  SELECT d, CAST(count(*) AS BIGINT) AS cnt FROM o GROUP BY d
),
med AS (
  SELECT min(d) AS mdate FROM (
    SELECT d,
           CAST(sum(cnt) OVER (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING
                AND CURRENT ROW) AS BIGINT) AS cum,
           CAST(sum(cnt) OVER () AS BIGINT) AS n
    FROM dv
  ) WHERE cum >= (n + 1) // 2
),
cells AS (
  SELECT o.g, CASE WHEN o.d > m.mdate THEN 1 ELSE 0 END AS post,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(o.cents AS HUGEINT)) AS DECIMAL(38,0)) AS s,
         CAST(sum(CAST(o.cents AS HUGEINT) * o.cents) AS DECIMAL(38,0)) AS ss
  FROM o CROSS JOIN med m
  GROUP BY o.g, post
),
m AS (
  SELECT g, post, n, CAST(s AS DOUBLE) / n AS mean,
         (CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * s / n) / (n - 1) / n
           AS mvar
  FROM cells
),
p AS (
  SELECT max(CASE WHEN g = 1 AND post = 0 THEN mean END) AS t_pre,
         max(CASE WHEN g = 1 AND post = 1 THEN mean END) AS t_post,
         max(CASE WHEN g = 0 AND post = 0 THEN mean END) AS c_pre,
         max(CASE WHEN g = 0 AND post = 1 THEN mean END) AS c_post,
         sum(mvar) AS se2,
         max(CASE WHEN g = 1 AND post = 0 THEN n END) AS n_t_pre,
         max(CASE WHEN g = 1 AND post = 1 THEN n END) AS n_t_post,
         max(CASE WHEN g = 0 AND post = 0 THEN n END) AS n_c_pre,
         max(CASE WHEN g = 0 AND post = 1 THEN n END) AS n_c_post
  FROM m
)
SELECT n_t_pre, n_t_post, n_c_pre, n_c_post,
       round(t_pre, 2) AS treated_pre_mean,
       round(t_post, 2) AS treated_post_mean,
       round(c_pre, 2) AS control_pre_mean,
       round(c_post, 2) AS control_post_mean,
       round((t_post - t_pre) - (c_post - c_pre), 4) AS did_cents,
       round(sqrt(se2), 4) AS did_se,
       round(((t_post - t_pre) - (c_post - c_pre)) / sqrt(se2), 4) AS did_t
FROM p
"""


@register("segment_value_did", oracle=_DID_ORACLE, tags=("stats",))
def segment_value_did(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences contrast of mean order value:
    treated = BUILDING-segment customers, control = everyone else,
    post = orders strictly after the dataset's (lower-)median order
    date. DiD = (T̄post − T̄pre) − (C̄post − C̄pre) nets out both the
    permanent group gap and the common time trend — the readout a
    promo/policy evaluation wants where a raw before/after confounds
    trend with effect. SE is the Welch-style root sum of the four
    cells' mean variances; promo_halo_effect measures a window around
    events, this is the period-level quasi-experimental frame.

    Determinism: the median date is an exact order statistic on the
    date value-count frame; all four cells fold exact (n, Σ, Σ²) in
    DECIMAL(38,0)/HUGEINT; means/variances/t are one shared double
    tree rounded at the boundary.

    Scale notes: one fact scan with a broadcast segment join; the
    date frame is calendar-bounded, the cells are 4 rows.
    """
    o = (
        _t(spark, sf_dir, "orders")
        .select(
            "o_custkey",
            F.col("o_orderdate").cast("date").alias("d"),
            F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        )
        .join(
            _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .select(
            F.when(F.col("c_mktsegment") == "BUILDING", 1).otherwise(0).alias("g"),
            "d",
            "cents",
        )
    )
    dec = "decimal(38,0)"
    dv = o.groupBy("d").agg(F.count("*").cast("long").alias("cnt"))
    w_cum = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    med = (
        dv.select(
            "d",
            F.sum("cnt").over(w_cum).cast("long").alias("cum"),
            F.sum("cnt").over(Window.partitionBy()).cast("long").alias("n"),
        )
        .filter(F.col("cum") >= F.expr("(n + 1) DIV 2"))
        .agg(F.min("d").alias("mdate"))
    )
    cd = F.col("cents").cast(dec)
    cells = (
        o.crossJoin(med)
        .groupBy("g", F.when(F.col("d") > F.col("mdate"), 1).otherwise(0).alias("post"))
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum(cd).cast(dec).alias("s"),
            F.sum(cd * F.col("cents")).cast(dec).alias("ss"),
        )
    )
    mean = F.col("s").cast("double") / F.col("n")
    mvar = (
        (F.col("ss").cast("double") - F.col("s").cast("double") * F.col("s") / F.col("n"))
        / (F.col("n") - 1)
        / F.col("n")
    )
    m = cells.select("g", "post", "n", mean.alias("mean"), mvar.alias("mvar"))

    def cell(gv, pv, col):
        return F.max(
            F.when((F.col("g") == gv) & (F.col("post") == pv), F.col(col))
        )

    p = m.agg(
        cell(1, 0, "mean").alias("t_pre"),
        cell(1, 1, "mean").alias("t_post"),
        cell(0, 0, "mean").alias("c_pre"),
        cell(0, 1, "mean").alias("c_post"),
        F.sum("mvar").alias("se2"),
        cell(1, 0, "n").alias("n_t_pre"),
        cell(1, 1, "n").alias("n_t_post"),
        cell(0, 0, "n").alias("n_c_pre"),
        cell(0, 1, "n").alias("n_c_post"),
    )
    did = (F.col("t_post") - F.col("t_pre")) - (F.col("c_post") - F.col("c_pre"))
    return p.select(
        "n_t_pre",
        "n_t_post",
        "n_c_pre",
        "n_c_post",
        F.round("t_pre", 2).alias("treated_pre_mean"),
        F.round("t_post", 2).alias("treated_post_mean"),
        F.round("c_pre", 2).alias("control_pre_mean"),
        F.round("c_post", 2).alias("control_post_mean"),
        F.round(did, 4).alias("did_cents"),
        F.round(F.sqrt("se2"), 4).alias("did_se"),
        F.round(did / F.sqrt("se2"), 4).alias("did_t"),
    )


# ---------------------------------------------------------------------------
# Part price stickiness: weekly price spell lengths
# ---------------------------------------------------------------------------

_STICKY_ORACLE = """
WITH pw AS (
  SELECT l_partkey AS part,
         CAST(date_trunc('week', l_shipdate) AS DATE) AS week,
         min(CAST(round(100.0 * l_extendedprice / l_quantity) AS BIGINT))
           AS unit_cents
  FROM lineitem WHERE l_quantity > 0
  GROUP BY part, week
),
chg AS (
  SELECT part, week, unit_cents,
         CASE WHEN lag(unit_cents) OVER w IS NULL
                OR unit_cents <> lag(unit_cents) OVER w
              THEN 1 ELSE 0 END AS brk
  FROM pw WINDOW w AS (PARTITION BY part ORDER BY week)
),
sp AS (
  SELECT part,
         CAST(sum(brk) OVER (PARTITION BY part ORDER BY week
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS spell_id,
         brk
  FROM chg
),
spl AS (
  SELECT part, spell_id, CAST(count(*) AS BIGINT) AS len
  FROM sp GROUP BY part, spell_id
),
lv AS (
  SELECT len, CAST(count(*) AS BIGINT) AS c FROM spl GROUP BY len
),
med AS (
  SELECT min(len) AS med_len FROM (
    SELECT len,
           CAST(sum(c) OVER (ORDER BY len ROWS BETWEEN UNBOUNDED PRECEDING
                AND CURRENT ROW) AS BIGINT) AS cum,
           CAST(sum(c) OVER () AS BIGINT) AS n
    FROM lv
  ) WHERE cum >= (n + 1) // 2
),
parts AS (SELECT CAST(count(DISTINCT part) AS BIGINT) AS n_parts FROM pw),
spells AS (
  SELECT CAST(sum(c) AS BIGINT) AS n_spells,
         CAST(sum(CAST(len AS HUGEINT) * c) AS BIGINT) AS n_part_weeks
  FROM lv
)
SELECT parts.n_parts, spells.n_spells, spells.n_part_weeks,
       round(CAST(spells.n_part_weeks AS DOUBLE) / spells.n_spells, 4)
         AS avg_spell_weeks,
       med.med_len AS median_spell_weeks,
       round(CAST(spells.n_spells - parts.n_parts AS DOUBLE)
             / spells.n_part_weeks, 6) AS change_rate
FROM parts CROSS JOIN spells CROSS JOIN med
"""


@register("part_price_stickiness", oracle=_STICKY_ORACLE,
          tags=("timeseries", "stats"))
def part_price_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Price-rigidity profile of the catalog: per part and observed
    week take the minimum unit price (cents), split each part's week
    sequence into SPELLS of constant price (gaps-and-islands on the
    price-change flag), and report the spell-length distribution —
    average and median spell, plus the change rate (changes per
    part-week, the Calvo-style frequency whose inverse is expected
    price duration). brand_price_indices tracks the price LEVEL; this
    reads how often the level MOVES at the part grain.

    Determinism: unit cents are a rounded double ratio computed
    identically on both sides then folded with exact MIN; spells,
    lengths, and the median spell are exact integers (the median an
    order statistic on the length value-count frame); two divisions
    at the boundary. Consecutive OBSERVED weeks count as adjacent
    (unobserved part-weeks don't break a spell) — documented.

    Scale notes: the fact folds map-side to the (part × week) frame;
    spell windows partition by part (parallel, calendar-bounded per
    part); the length spectrum is tiny. One fact scan.
    """
    li = _t(spark, sf_dir, "lineitem")
    pw = (
        li.filter(F.col("l_quantity") > 0)
        .groupBy(
            F.col("l_partkey").alias("part"),
            F.date_trunc("week", "l_shipdate").cast("date").alias("week"),
        )
        .agg(
            F.min(
                F.round(F.lit(100.0) * F.col("l_extendedprice") / F.col("l_quantity"))
                .cast("long")
            ).alias("unit_cents")
        )
    )
    w_part = Window.partitionBy("part").orderBy("week")
    chg = pw.select(
        "part",
        "week",
        F.when(
            F.lag("unit_cents").over(w_part).isNull()
            | (F.col("unit_cents") != F.lag("unit_cents").over(w_part)),
            1,
        )
        .otherwise(0)
        .alias("brk"),
    )
    w_cum = Window.partitionBy("part").orderBy("week").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    sp = chg.select(
        "part", F.sum("brk").over(w_cum).cast("long").alias("spell_id")
    )
    spl = sp.groupBy("part", "spell_id").agg(F.count("*").cast("long").alias("len"))
    lv = spl.groupBy("len").agg(F.count("*").cast("long").alias("c"))
    dec = "decimal(38,0)"
    w_lcum = Window.orderBy("len").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    med = (
        lv.select(
            "len",
            F.sum("c").over(w_lcum).cast("long").alias("cum"),
            F.sum("c").over(Window.partitionBy()).cast("long").alias("n"),
        )
        .filter(F.col("cum") >= F.expr("(n + 1) DIV 2"))
        .agg(F.min("len").alias("med_len"))
    )
    parts = pw.agg(F.countDistinct("part").cast("long").alias("n_parts"))
    spells = lv.agg(
        F.sum("c").cast("long").alias("n_spells"),
        F.sum(F.col("len").cast(dec) * F.col("c")).cast("long").alias("n_part_weeks"),
    )
    return (
        parts.crossJoin(spells)
        .crossJoin(med)
        .select(
            "n_parts",
            "n_spells",
            "n_part_weeks",
            F.round(
                F.col("n_part_weeks").cast("double") / F.col("n_spells"), 4
            ).alias("avg_spell_weeks"),
            F.col("med_len").alias("median_spell_weeks"),
            F.round(
                (F.col("n_spells") - F.col("n_parts")).cast("double")
                / F.col("n_part_weeks"),
                6,
            ).alias("change_rate"),
        )
    )


# ---------------------------------------------------------------------------
# Day-k retention curve from the events stream
# ---------------------------------------------------------------------------

_RETENTION_KS = (1, 3, 7, 14)

_RETENTION_ORACLE = f"""
WITH ud AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
),
first AS (
  SELECT user_id, min(day) AS d0 FROM ud GROUP BY user_id
),
ks AS (SELECT unnest([{", ".join(str(k) for k in _RETENTION_KS)}]) AS k),
r AS (
  SELECT ks.k, f.user_id,
         CASE WHEN EXISTS (
           SELECT 1 FROM ud
           WHERE ud.user_id = f.user_id
             AND ud.day = f.d0 + CAST(ks.k AS INTEGER)
         ) THEN 1 ELSE 0 END AS retained
  FROM first f CROSS JOIN ks
)
SELECT k AS day_k, CAST(count(*) AS BIGINT) AS n_users,
       CAST(sum(retained) AS BIGINT) AS n_retained,
       round(CAST(sum(retained) AS DOUBLE) / count(*), 6) AS retention
FROM r GROUP BY k
"""


@register("event_retention_curve", oracle=_RETENTION_ORACLE,
          tags=("timeseries", "streaming"))
def event_retention_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic day-k retention from the events stream: a user counts
    as day-k retained iff they have ANY event exactly k calendar days
    after their first-seen day (the strict product-analytics
    definition — "within k days" is a different, looser curve), for
    k ∈ {{1, 3, 7, 14}}. user_transition_entropy reads what users do;
    this reads whether they come BACK.

    Determinism: the (user, day) frame is an exact distinct fold; the
    retained flag is an equi-join hit on exact date arithmetic; one
    division per k at the boundary.

    Scale notes: events fold to the (user × active-day) grain
    map-side; first-day is one user-keyed fold; the day-k probes are
    an equi-join on (user, day) against the 4-row k list — the whole
    query shuffles the user-day frame, never raw events, and the join
    is key-partitioned (no per-user scan despite the correlated
    EXISTS spelling in the oracle).
    """
    ev = _t(spark, sf_dir, "events")
    ud = ev.select(
        "user_id", F.col("ts").cast("date").alias("day")
    ).distinct().localCheckpoint(eager=False)  # A/B sf1: 1.04 s with, 1.34 s without
    first = ud.groupBy("user_id").agg(F.min("day").alias("d0"))
    # a VALUES frame carries size statistics, so the planner broadcasts it
    ks = spark.sql(
        f"SELECT * FROM VALUES {', '.join(f'({k}L)' for k in _RETENTION_KS)} AS t(k)"
    )
    probes = first.crossJoin(ks).select(
        "user_id", "k", F.expr("date_add(d0, CAST(k AS INT))").alias("target")
    )
    # left join on (user_id, target-day): a hit means an event exactly
    # k days after first touch; a semi-join would drop the miss rows
    # the denominator needs
    joined = probes.join(
        ud.withColumnRenamed("day", "target").withColumn("hit", F.lit(1)),
        ["user_id", "target"],
        "left",
    )
    return (
        joined.groupBy(F.col("k").alias("day_k"))
        .agg(
            F.count("*").cast("long").alias("n_users"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0))).cast("long").alias("n_retained"),
        )
        .select(
            "day_k",
            "n_users",
            "n_retained",
            F.round(
                F.col("n_retained").cast("double") / F.col("n_users"), 6
            ).alias("retention"),
        )
    )


# ---------------------------------------------------------------------------
# Mean residual life of order interarrival gaps
# ---------------------------------------------------------------------------

_MRL_ORACLE = """
WITH o AS (
  SELECT o_custkey AS cust, CAST(o_orderdate AS DATE) AS d, o_orderkey AS k
  FROM orders
),
g AS (
  SELECT CAST(date_diff('day',
              lag(d) OVER (PARTITION BY cust ORDER BY d, k), d) AS BIGINT)
           AS gap
  FROM o QUALIFY gap IS NOT NULL
),
v AS (
  SELECT gap, CAST(count(*) AS BIGINT) AS c FROM g GROUP BY gap
),
cumf AS (
  SELECT gap, c,
         CAST(sum(c) OVER w AS BIGINT) AS cum,
         CAST(sum(CAST(c AS HUGEINT) * gap) OVER w AS DECIMAL(38,0)) AS scum,
         CAST(sum(c) OVER () AS BIGINT) AS n,
         CAST(sum(CAST(c AS HUGEINT) * gap) OVER () AS DECIMAL(38,0)) AS stot
  FROM v
  WINDOW w AS (ORDER BY gap ROWS BETWEEN UNBOUNDED PRECEDING
               AND CURRENT ROW)
),
deciles AS (SELECT unnest(range(1, 10)) AS q),
thr AS (
  SELECT d.q,
         min(CASE WHEN cumf.cum >= (d.q * cumf.n + 9) // 10
                  THEN cumf.gap END) AS t,
         min(CASE WHEN cumf.cum >= (d.q * cumf.n + 9) // 10
                  THEN cumf.cum END) AS cum_t,
         min(CASE WHEN cumf.cum >= (d.q * cumf.n + 9) // 10
                  THEN cumf.scum END) AS scum_t,
         max(cumf.n) AS n, max(cumf.stot) AS stot
  FROM cumf CROSS JOIN deciles d
  GROUP BY d.q
)
SELECT q AS decile, t AS threshold_days,
       CAST(n - cum_t AS BIGINT) AS n_tail,
       round(CASE WHEN n - cum_t > 0
             THEN (CAST(stot - scum_t AS DOUBLE)
                   - CAST(t AS DOUBLE) * (n - cum_t)) / (n - cum_t)
             END, 4) AS mrl_days
FROM thr
"""


@register("order_gap_mean_residual_life", oracle=_MRL_ORACLE,
          tags=("stats", "timeseries"))
def order_gap_mean_residual_life(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean-residual-life curve of order interarrival gaps: at each
    gap decile threshold t, MRL(t) = E[gap − t | gap > t] — given a
    customer is already t days quiet, the EXPECTED additional wait.
    Rising MRL means the quiet get quieter (heavy tail — silence is
    ominous); flat means memoryless (order_gap_exponential_qq's
    hypothesis); falling means overdue customers are about to order.
    The churn-model companion to repeat_purchase_kaplan_meier.

    Determinism: gaps, the value-count frame, cumulative counts and
    gap-sums (DECIMAL(38,0)/HUGEINT), and the decile thresholds
    (rank ⌈q·n/10⌉ order statistics) are exact; MRL divides once per
    decile; an empty strict tail (t = max gap) emits NULL on both
    sides.

    Scale notes: one custkey-partitioned lag over orders, then the
    gap-domain value-count frame carries everything; the decile cross
    join touches 9 rows.
    """
    o = _t(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("cust"),
        F.col("o_orderdate").cast("date").alias("d"),
        F.col("o_orderkey").alias("k"),
    )
    w_c = Window.partitionBy("cust").orderBy("d", "k")
    g = o.select(
        F.datediff(F.col("d"), F.lag("d").over(w_c)).cast("long").alias("gap")
    ).filter(F.col("gap").isNotNull())
    dec = "decimal(38,0)"
    v = g.groupBy("gap").agg(F.count("*").cast("long").alias("c"))
    w_cum = Window.orderBy("gap").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    w_all = Window.partitionBy()
    cumf = v.select(
        "gap",
        "c",
        F.sum("c").over(w_cum).cast("long").alias("cum"),
        F.sum(F.col("c").cast(dec) * F.col("gap")).over(w_cum).cast(dec).alias("scum"),
        F.sum("c").over(w_all).cast("long").alias("n"),
        F.sum(F.col("c").cast(dec) * F.col("gap")).over(w_all).cast(dec).alias("stot"),
    )
    deciles = spark.range(1, 10).select(F.col("id").cast("long").alias("q"))
    rank = F.floor((F.col("q") * F.col("n") + 9) / 10)
    thr = (
        cumf.crossJoin(deciles)
        .groupBy("q")
        .agg(
            F.min(F.when(F.col("cum") >= rank, F.col("gap"))).alias("t"),
            F.min(F.when(F.col("cum") >= rank, F.col("cum"))).alias("cum_t"),
            F.min(F.when(F.col("cum") >= rank, F.col("scum"))).alias("scum_t"),
            F.max("n").alias("n"),
            F.max("stot").alias("stot"),
        )
    )
    tail = F.col("n") - F.col("cum_t")
    return thr.select(
        F.col("q").alias("decile"),
        F.col("t").alias("threshold_days"),
        tail.cast("long").alias("n_tail"),
        F.round(
            F.when(
                tail > 0,
                (
                    (F.col("stot") - F.col("scum_t")).cast("double")
                    - F.col("t").cast("double") * tail
                )
                / tail,
            ),
            4,
        ).alias("mrl_days"),
    )
