"""Round-6 additions, batch 57: metering and decision completions —
a time-weighted average of a step-function metric per user (the
billing/metering integral: what a value was ON AVERAGE OVER TIME, not
over samples), a numeric split-point screen (the information-gain
scan a decision tree runs over a continuous feature, at bounded
decile candidates), one-item association rules with confidence and
lift (the ranked Apriori output on top of the raw pair counts
brand_basket_pairs leaves unreduced), and the Pythagorean mean
spectrum (arithmetic / geometric / harmonic — each the correct
average for a different question about the same money column).

Determinism discipline: the TWA integral is exact — cents x
microsecond products summed in DECIMAL(38,0)/HUGEINT, one division at
the boundary; split candidates are exact order statistics pivoted to
one broadcast row (the price_psi_drift machinery) with entropy terms
zero-guarded identically; rule metrics are single divisions of BIGINT
counts; geometric/harmonic means use ln/reciprocal folds under the
documented ~1e-13 noise-vs-4dp-rounding bound.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from grocery_store_sales_forecasting_etl_pipeline_spark.plans._tables import table as _t
from grocery_store_sales_forecasting_etl_pipeline_spark.plans.registry import register
from grocery_store_sales_forecasting_etl_pipeline_spark.plans.scalerank import (
    value_cum_counts,
)

# ---------------------------------------------------------------------------
# Time-weighted average value per user (step-function integral)
# ---------------------------------------------------------------------------

_TWA_ORACLE = """
WITH e AS (
  SELECT user_id, epoch_us(ts) AS us,
         CAST(round(value * 100) AS BIGINT) AS cents,
         lead(epoch_us(ts)) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS nxt
  FROM events
),
seg AS (
  SELECT user_id, cents, nxt - us AS dur
  FROM e WHERE nxt IS NOT NULL
),
st AS (
  SELECT user_id,
         CAST(count(*) AS BIGINT) AS n_segments,
         CAST(sum(CAST(dur AS HUGEINT)) AS HUGEINT) AS total_us,
         CAST(sum(CAST(cents AS HUGEINT) * dur) AS HUGEINT) AS weighted
  FROM seg GROUP BY user_id
)
SELECT user_id, n_segments,
       round(CAST(total_us AS DOUBLE) / 1000000, 2) AS span_seconds,
       round(CAST(weighted AS DOUBLE) / CAST(total_us AS DOUBLE) / 100, 4)
         AS twa_value
FROM st WHERE total_us > 0
"""


@register("user_value_twa", oracle=_TWA_ORACLE, tags=("events", "window"))
def user_value_twa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average of each user's `value` treated as a step
    function between events — the metering integral: each value holds
    from its event until the next one, and the average is weighted by
    HOW LONG it held, not how often it was sampled. This is the
    billing-grade aggregate (cloud metering, position-weighted
    exposure) that a plain AVG silently gets wrong whenever sampling
    is irregular — which the cadence query shows it is.

    Numerics: the integral is exact — cents x microsecond-duration
    products accumulate in DECIMAL(38,0)/HUGEINT (a month-long segment
    at 10^5 cents is ~2.6e17 per term) — and the single division +
    rounding happens at the boundary. Zero-span users (all events at
    one instant) are excluded on both sides.

    Scale notes: ONE shuffle on user_id (the lead window), then a
    user-grain fold; no joins. The streaming twin is a
    transformWithState timer flush; the batch form here is the
    contract for it.
    """
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    base = e.select(
        "user_id",
        us.alias("us"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
        F.lead(us).over(w).alias("nxt"),
    )
    seg = base.filter(F.col("nxt").isNotNull()).select(
        "user_id", "cents", (F.col("nxt") - F.col("us")).alias("dur")
    )
    d38 = "decimal(38,0)"
    st = seg.groupBy("user_id").agg(
        F.count("*").cast("long").alias("n_segments"),
        F.sum(F.col("dur").cast(d38)).alias("total_us"),
        F.sum(F.col("cents").cast(d38) * F.col("dur")).alias("weighted"),
    )
    return st.filter(F.col("total_us") > 0).select(
        "user_id",
        "n_segments",
        F.round(F.col("total_us").cast("double") / 1000000, 2).alias(
            "span_seconds"
        ),
        F.round(
            F.col("weighted").cast("double") / F.col("total_us").cast("double") / 100,
            4,
        ).alias("twa_value"),
    )


# ---------------------------------------------------------------------------
# Numeric split-point screen (information gain at decile candidates)
# ---------------------------------------------------------------------------


def _entropy_sql(p: str) -> str:
    return (
        f"(CASE WHEN {p} > 0 THEN -({p}) * ln({p}) ELSE 0 END"
        f" + CASE WHEN 1 - ({p}) > 0 THEN -(1 - ({p})) * ln(1 - ({p})) ELSE 0 END)"
    )


_SPLIT_POINT_ORACLE = f"""
WITH lab AS (
  SELECT CAST(round(o.o_totalprice * 100) AS BIGINT) AS cents,
         o.o_orderkey,
         CASE WHEN r.l_orderkey IS NULL THEN 0 ELSE 1 END AS pos
  FROM orders o
  LEFT JOIN (SELECT DISTINCT l_orderkey FROM lineitem
             WHERE l_returnflag = 'R') r
    ON o.o_orderkey = r.l_orderkey
),
rk AS (
  SELECT cents,
         CAST(row_number() OVER (ORDER BY cents, o_orderkey) AS BIGINT) AS rn,
         CAST(count(*) OVER () AS BIGINT) AS n
  FROM lab
),
edges AS (
  SELECT k,
         max(CASE WHEN rn = (k * n + 9) // 10 THEN cents END) AS edge
  FROM rk CROSS JOIN (SELECT unnest(range(1, 10)) AS k)
  GROUP BY k
),
counts AS (
  SELECT e.k, any_value(e.edge) AS edge,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(l.pos) AS BIGINT) AS p,
         CAST(sum(CASE WHEN l.cents <= e.edge THEN 1 ELSE 0 END) AS BIGINT)
           AS n_l,
         CAST(sum(CASE WHEN l.cents <= e.edge THEN l.pos ELSE 0 END) AS BIGINT)
           AS p_l
  FROM lab l CROSS JOIN edges e
  GROUP BY e.k
),
gains AS (
  SELECT k, edge, n_l, n - n_l AS n_r,
         {_entropy_sql('CAST(p AS DOUBLE) / n')}
         - (CAST(n_l AS DOUBLE) / n)
           * {_entropy_sql('CAST(p_l AS DOUBLE) / n_l')}
         - (CAST(n - n_l AS DOUBLE) / n)
           * {_entropy_sql('CAST(p - p_l AS DOUBLE) / (n - n_l)')} AS gain
  FROM counts
)
SELECT k AS candidate, edge AS split_cents, n_l, n_r,
       round(gain, 6) AS info_gain,
       CAST(CASE WHEN row_number() OVER (ORDER BY round(gain, 6) DESC, k) = 1
            THEN 1 ELSE 0 END AS BIGINT) AS is_best
FROM gains
"""


@register(
    "numeric_split_point_screen", oracle=_SPLIT_POINT_ORACLE, tags=("ml-eval", "stats")
)
def numeric_split_point_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The decision-tree split scan for a CONTINUOUS feature: candidate
    split points are order-value deciles (exact order statistics —
    bounded candidates, the standard histogram-tree approximation of
    scanning every value), and each candidate reports its binary
    information gain on the has-return label, with the argmax flagged
    (ties to the smaller decile). Companion to split_gain_screen's
    categorical multiway splits.

    Numerics: edges are exact rank statistics pivoted to one broadcast
    row (price_psi_drift machinery); per-candidate counts are one
    map-side 9-way conditional fold; entropy terms zero-guard p∈{0,1}
    with identical CASE trees; the best flag compares 6dp-rounded
    gains so the argmax is decided on the same values both engines
    emit.

    Scale notes: edges depend only on value-grain cumulative counts
    (the orderkey tie-break never changes which cents value holds a
    rank), so they come from scalerank.value_cum_counts — coarse
    bucket offsets on a bounded frame + partitioned within-bucket
    cumulative, no single-partition sort — then ONE fact scan
    computing all nine candidate counts simultaneously (a 9-term
    conditional aggregate, not nine scans), then 9-row arithmetic.
    """
    o = _t(spark, sf_dir, "orders")
    ret = (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_returnflag") == "R")
        .select("l_orderkey")
        .distinct()
        .withColumn("pos1", F.lit(1))
    )
    lab = o.join(ret, o.o_orderkey == ret.l_orderkey, "left").select(
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        "o_orderkey",
        F.coalesce(F.col("pos1"), F.lit(0)).alias("pos"),
    )
    cc = value_cum_counts(lab.select("cents"), "cents", coarse_div=10000)
    tot = cc.agg(F.sum("c").cast("long").alias("n"))
    edges = cc.crossJoin(tot).agg(
        *[
            F.min(
                F.when(
                    F.col("cum") >= F.floor((k * F.col("n") + 9) / 10),
                    F.col("cents"),
                )
            ).alias(f"e{k}")
            for k in range(1, 10)
        ]
    )
    folded = lab.crossJoin(edges).agg(
        F.count("*").cast("long").alias("n"),
        F.sum("pos").cast("long").alias("p"),
        *[
            F.sum(F.when(F.col("cents") <= F.col(f"e{k}"), 1).otherwise(0))
            .cast("long")
            .alias(f"nl{k}")
            for k in range(1, 10)
        ],
        *[
            F.sum(
                F.when(F.col("cents") <= F.col(f"e{k}"), F.col("pos")).otherwise(0)
            )
            .cast("long")
            .alias(f"pl{k}")
            for k in range(1, 10)
        ],
        *[F.first(F.col(f"e{k}")).alias(f"edge{k}") for k in range(1, 10)],
    )
    rows = folded.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(k).cast("long").alias("candidate"),
                        F.col(f"edge{k}").alias("split_cents"),
                        F.col(f"nl{k}").alias("n_l"),
                        F.col(f"pl{k}").alias("p_l"),
                        F.col("n").alias("n"),
                        F.col("p").alias("p"),
                    )
                    for k in range(1, 10)
                ]
            )
        ).alias("s")
    ).select("s.*")

    def entropy(p):
        return F.when(p > 0, -p * F.log(p)).otherwise(F.lit(0.0)) + F.when(
            (1 - p) > 0, -(1 - p) * F.log(1 - p)
        ).otherwise(F.lit(0.0))

    n = F.col("n")
    gain = (
        entropy(F.col("p").cast("double") / n)
        - (F.col("n_l").cast("double") / n)
        * entropy(F.col("p_l").cast("double") / F.col("n_l"))
        - ((n - F.col("n_l")).cast("double") / n)
        * entropy(
            (F.col("p") - F.col("p_l")).cast("double") / (n - F.col("n_l"))
        )
    )
    g = rows.select(
        "candidate",
        "split_cents",
        "n_l",
        (F.col("n") - F.col("n_l")).alias("n_r"),
        F.round(gain, 6).alias("info_gain"),
    )
    w_best = Window.orderBy(F.desc("info_gain"), F.asc("candidate"))
    return g.select(
        "candidate",
        "split_cents",
        "n_l",
        "n_r",
        "info_gain",
        F.when(F.row_number().over(w_best) == 1, 1)
        .otherwise(0)
        .cast("long")
        .alias("is_best"),
    )


# ---------------------------------------------------------------------------
# One-item association rules (confidence / lift, ranked)
# ---------------------------------------------------------------------------

_RULES_ORACLE = """
WITH baskets AS (
  SELECT DISTINCT l.l_orderkey AS o, p.p_brand AS b
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
),
nb AS (SELECT b, CAST(count(*) AS BIGINT) AS n_b FROM baskets GROUP BY b),
tot AS (SELECT CAST(count(DISTINCT o) AS BIGINT) AS n FROM baskets),
pairs AS (
  SELECT x.b AS antecedent, y.b AS consequent,
         CAST(count(*) AS BIGINT) AS n_both
  FROM baskets x JOIN baskets y ON x.o = y.o AND x.b <> y.b
  GROUP BY 1, 2
),
rules AS (
  SELECT p.antecedent, p.consequent, p.n_both,
         a.n_b AS n_antecedent, c.n_b AS n_consequent,
         CAST(p.n_both AS DOUBLE) / a.n_b AS conf,
         (CAST(p.n_both AS DOUBLE) * tot.n)
           / (CAST(a.n_b AS DOUBLE) * c.n_b) AS lift
  FROM pairs p
  JOIN nb a ON p.antecedent = a.b
  JOIN nb c ON p.consequent = c.b
  CROSS JOIN tot
  WHERE p.n_both >= 10
)
SELECT antecedent, consequent, n_both, n_antecedent, n_consequent,
       round(conf, 6) AS confidence,
       round(lift, 6) AS lift
FROM rules
ORDER BY lift DESC, confidence DESC, antecedent, consequent
LIMIT 20
"""


@register("brand_association_rules", oracle=_RULES_ORACLE, tags=("agg", "join"))
def brand_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranked one-item association rules A ⇒ B over brand baskets:
    confidence P(B|A), lift P(B|A)/P(B), minimum co-support 10, top-20
    by (lift, confidence) with key tie-breaks — the reduced, ranked
    Apriori output on top of the raw integer counts
    brand_basket_pairs deliberately leaves unreduced.

    Scale notes: baskets fold to ONE brand-set array per order (one
    shuffle, set size bounded by |brands|), pairs explode MAP-SIDE
    from the array, and the pair fold is map-side combinable with
    output bounded by |brands|² — no basket self-join. (The
    distinct-then-self-join shape re-shuffles the basket frame and
    measured 30s/16x at the 10x probe; the array form is 3.9s/2x.)
    Marginals broadcast into the rule join; top-k is
    TakeOrderedAndProject. The support floor is applied to the integer
    count before any division.
    """
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    bs = (
        li.join(p.select("p_partkey", "p_brand"),
                li.l_partkey == F.col("p_partkey"))
        .groupBy(F.col("l_orderkey").alias("o"))
        .agg(F.collect_set("p_brand").alias("bs"))
        .localCheckpoint(eager=False)  # A/B sf1: 12.05 s with, 15.59 s without
    )
    nb = bs.select(F.explode("bs").alias("b")).groupBy("b").agg(
        F.count("*").cast("long").alias("n_b")
    )
    tot = bs.agg(F.count("*").cast("long").alias("n"))
    pairs = (
        bs.select(
            F.explode_outer(
                F.expr(
                    "flatten(transform(bs, x -> "
                    "transform(filter(bs, y -> y != x), "
                    "y -> struct(x AS antecedent, y AS consequent))))"
                )
            ).alias("pr")
        )
        .filter(F.col("pr").isNotNull())
        .select("pr.antecedent", "pr.consequent")
        .groupBy("antecedent", "consequent")
        .agg(F.count("*").cast("long").alias("n_both"))
        .filter(F.col("n_both") >= 10)
    )
    a = nb.select(F.col("b").alias("antecedent"), F.col("n_b").alias("n_antecedent"))
    c = nb.select(F.col("b").alias("consequent"), F.col("n_b").alias("n_consequent"))
    rules = (
        pairs.join(a, "antecedent")
        .join(c, "consequent")
        .crossJoin(tot)
        .select(
            "antecedent",
            "consequent",
            "n_both",
            "n_antecedent",
            "n_consequent",
            F.round(
                F.col("n_both").cast("double") / F.col("n_antecedent"), 6
            ).alias("confidence"),
            F.round(
                (F.col("n_both").cast("double") * F.col("n"))
                / (F.col("n_antecedent").cast("double") * F.col("n_consequent")),
                6,
            ).alias("lift"),
        )
    )
    return rules.orderBy(
        F.desc("lift"), F.desc("confidence"), "antecedent", "consequent"
    ).limit(20)


# ---------------------------------------------------------------------------
# Pythagorean mean spectrum
# ---------------------------------------------------------------------------

_MEANS_ORACLE = """
WITH x AS (
  SELECT o_orderpriority AS priority,
         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders
),
st AS (
  SELECT priority,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(cents AS HUGEINT)) AS HUGEINT) AS s,
         sum(ln(cents)) AS slog,
         sum(1.0 / cents) AS sinv
  FROM x GROUP BY priority
)
SELECT priority, n,
       round(CAST(s AS DOUBLE) / n / 100, 4) AS arithmetic_mean,
       round(exp(slog / n) / 100, 4) AS geometric_mean,
       round(n / sinv / 100, 4) AS harmonic_mean
FROM st
"""


@register("order_value_mean_spectrum", oracle=_MEANS_ORACLE, tags=("stats", "agg"))
def order_value_mean_spectrum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Pythagorean mean spectrum of order value per priority:
    arithmetic (total / count — the revenue question), geometric
    (exp of mean log — the typical-order question, robust to the
    right tail), harmonic (the rate question — correct when averaging
    ratios). AM >= GM >= HM always; the GAP between them is itself a
    skewness readout. The geometric mean is the one statistic in this
    family a naive AVG user reaches for last and needs most.

    Numerics: AM comes from exact HUGEINT/DECIMAL cents; GM and HM are
    ln/reciprocal double folds under the documented ~1e-13 order-noise
    vs 4dp rounding bound (cents > 0 always — money_precision_audit
    pins non_positive = 0).

    Scale notes: ONE map-side-combinable fold to five
    sufficient-statistic rows; no joins, no windows.
    """
    o = _t(spark, sf_dir, "orders")
    x = o.select(
        F.col("o_orderpriority").alias("priority"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    d38 = "decimal(38,0)"
    st = x.groupBy("priority").agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.col("cents").cast(d38)).alias("s"),
        F.sum(F.log(F.col("cents"))).alias("slog"),
        F.sum(F.lit(1.0) / F.col("cents")).alias("sinv"),
    )
    return st.select(
        "priority",
        "n",
        F.round(F.col("s").cast("double") / F.col("n") / 100, 4).alias(
            "arithmetic_mean"
        ),
        F.round(F.exp(F.col("slog") / F.col("n")) / 100, 4).alias(
            "geometric_mean"
        ),
        F.round(F.col("n") / F.col("sinv") / 100, 4).alias("harmonic_mean"),
    )
