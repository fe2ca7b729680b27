"""Round-6 additions, batch 54: behavioral and structural regularity —
per-user event-cadence statistics (gap CV, burstiness, lag-1 gap
autocorrelation — the bot-vs-human fingerprint), an embedding
sign-sketch audit (how well 1-bit-per-dimension Hamming distance
tracks true cosine — the quantization decision behind every binary
ANN index), bipartite degree assortativity of the supplier-part graph
(do high-degree suppliers ship high-degree parts), and a line-count
overdispersion screen (variance-to-mean ratio per priority — the
Poisson-assumption check behind every count model).

Determinism discipline: gaps are exact integer microseconds with
DECIMAL(38,0)/HUGEINT squared sums; the cosine is the proven 4dp
parity kernel (embedding_dup_pairs precedent) and the audit
correlation runs on its x10^4 INTEGER image so the Pearson is exact;
degrees are BIGINTs with decimal cross-products; one rounding per
output column.
"""

from __future__ import annotations

import math

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from grocery_store_sales_forecasting_etl_pipeline_spark.plans._tables import table as _t
from grocery_store_sales_forecasting_etl_pipeline_spark.plans.registry import register

# ---------------------------------------------------------------------------
# Per-user event cadence regularity
# ---------------------------------------------------------------------------

_CADENCE_ORACLE = """
WITH e AS (
  SELECT user_id, epoch_us(ts) AS us,
         lead(epoch_us(ts)) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS nxt
  FROM events
),
g AS (
  SELECT user_id, nxt - us AS gap,
         lead(nxt - us) OVER (PARTITION BY user_id ORDER BY us) AS gap_next
  FROM e WHERE nxt IS NOT NULL
),
st AS (
  SELECT user_id,
         CAST(count(*) AS BIGINT) AS n_gaps,
         CAST(sum(CAST(gap AS HUGEINT)) AS HUGEINT) AS s,
         CAST(sum(CAST(gap AS HUGEINT) * gap) AS HUGEINT) AS q,
         CAST(count(gap_next) AS BIGINT) AS np,
         CAST(sum(CASE WHEN gap_next IS NOT NULL
                       THEN CAST(gap AS HUGEINT) ELSE 0 END) AS HUGEINT) AS px,
         CAST(sum(CASE WHEN gap_next IS NOT NULL
                       THEN CAST(gap_next AS HUGEINT) ELSE 0 END) AS HUGEINT) AS py,
         CAST(sum(CASE WHEN gap_next IS NOT NULL
                       THEN CAST(gap AS HUGEINT) * gap_next ELSE 0 END)
              AS HUGEINT) AS pxy,
         CAST(sum(CASE WHEN gap_next IS NOT NULL
                       THEN CAST(gap AS HUGEINT) * gap ELSE 0 END)
              AS HUGEINT) AS pxx,
         CAST(sum(CASE WHEN gap_next IS NOT NULL
                       THEN CAST(gap_next AS HUGEINT) * gap_next ELSE 0 END)
              AS HUGEINT) AS pyy
  FROM g GROUP BY user_id
),
d AS (
  SELECT user_id, n_gaps, np,
         CAST(s AS DOUBLE) / n_gaps AS mu,
         sqrt((CAST(q AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n_gaps)
              / (n_gaps - 1)) AS sigma,
         CAST(np AS DOUBLE) * CAST(pxy AS DOUBLE)
           - CAST(px AS DOUBLE) * CAST(py AS DOUBLE) AS cnum,
         (CAST(np AS DOUBLE) * CAST(pxx AS DOUBLE)
           - CAST(px AS DOUBLE) * CAST(px AS DOUBLE))
         * (CAST(np AS DOUBLE) * CAST(pyy AS DOUBLE)
           - CAST(py AS DOUBLE) * CAST(py AS DOUBLE)) AS cden
  FROM st WHERE n_gaps >= 5
)
SELECT user_id, n_gaps,
       round(mu / 1000000, 4) AS mean_gap_s,
       round(sigma / mu, 4) AS cv_gap,
       round((sigma - mu) / (sigma + mu), 4) AS burstiness,
       CASE WHEN cden > 0 THEN round(cnum / sqrt(cden), 4) END
         AS gap_lag1_autocorr
FROM d
"""


@register("event_cadence_regularity", oracle=_CADENCE_ORACLE, tags=("events", "window"))
def event_cadence_regularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user event-cadence fingerprint (users with >= 5 inter-event
    gaps): mean gap, coefficient of variation, burstiness
    (σ-μ)/(σ+μ) — -1 metronomic, 0 Poisson, →1 bursty — and the lag-1
    autocorrelation of consecutive gaps. The combination separates
    scripted clients (CV≈0, autocorr undefined-or-high) from organic
    humans (bursty, weakly correlated) — the standard behavioral
    bot screen.

    Numerics: gaps are exact integer microseconds
    (unix_micros on the NTZ-pinned ts — TZ-safe); all squared and
    cross sums accumulate in DECIMAL(38,0)/HUGEINT; σ, CV, burstiness
    and the Pearson are identical double trees; zero-variance pair
    sets emit NULL autocorrelation on both sides.

    Scale notes: one shuffle on user_id; both lead() windows share the
    same partition ordering so Spark evaluates them in one Window
    node; the fold to per-user sufficient statistics is user-grain.
    """
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    base = e.select("user_id", "ts", "event_id", us.alias("us"))
    g0 = base.select(
        "user_id",
        "us",
        (F.lead("us").over(w) - F.col("us")).alias("gap"),
    ).filter(F.col("gap").isNotNull())
    w2 = Window.partitionBy("user_id").orderBy("us")
    g = g0.select(
        "user_id", "gap", F.lead("gap").over(w2).alias("gap_next")
    )
    d38 = "decimal(38,0)"
    has_next = F.col("gap_next").isNotNull()
    z38 = F.lit(0).cast(d38)
    st = g.groupBy("user_id").agg(
        F.count("*").cast("long").alias("n_gaps"),
        F.sum(F.col("gap").cast(d38)).alias("s"),
        F.sum(F.col("gap").cast(d38) * F.col("gap")).alias("q"),
        F.count("gap_next").cast("long").alias("np"),
        F.sum(F.when(has_next, F.col("gap").cast(d38)).otherwise(z38)).alias("px"),
        F.sum(F.when(has_next, F.col("gap_next").cast(d38)).otherwise(z38)).alias(
            "py"
        ),
        F.sum(
            F.when(has_next, F.col("gap").cast(d38) * F.col("gap_next")).otherwise(
                z38
            )
        ).alias("pxy"),
        F.sum(
            F.when(has_next, F.col("gap").cast(d38) * F.col("gap")).otherwise(z38)
        ).alias("pxx"),
        F.sum(
            F.when(
                has_next, F.col("gap_next").cast(d38) * F.col("gap_next")
            ).otherwise(z38)
        ).alias("pyy"),
    )
    mu = F.col("s").cast("double") / F.col("n_gaps")
    sigma = F.sqrt(
        (
            F.col("q").cast("double")
            - F.col("s").cast("double") * F.col("s").cast("double") / F.col("n_gaps")
        )
        / (F.col("n_gaps") - 1)
    )
    cnum = F.col("np").cast("double") * F.col("pxy").cast("double") - F.col(
        "px"
    ).cast("double") * F.col("py").cast("double")
    cden = (
        F.col("np").cast("double") * F.col("pxx").cast("double")
        - F.col("px").cast("double") * F.col("px").cast("double")
    ) * (
        F.col("np").cast("double") * F.col("pyy").cast("double")
        - F.col("py").cast("double") * F.col("py").cast("double")
    )
    d = st.filter(F.col("n_gaps") >= 5).select(
        "user_id",
        "n_gaps",
        mu.alias("mu"),
        sigma.alias("sigma"),
        cnum.alias("cnum"),
        cden.alias("cden"),
    )
    return d.select(
        "user_id",
        "n_gaps",
        F.round(F.col("mu") / 1000000, 4).alias("mean_gap_s"),
        F.round(F.col("sigma") / F.col("mu"), 4).alias("cv_gap"),
        F.round(
            (F.col("sigma") - F.col("mu")) / (F.col("sigma") + F.col("mu")), 4
        ).alias("burstiness"),
        F.when(
            F.col("cden") > 0, F.round(F.col("cnum") / F.sqrt(F.col("cden")), 4)
        ).alias("gap_lag1_autocorr"),
    )


# ---------------------------------------------------------------------------
# Embedding sign-sketch Hamming audit
# ---------------------------------------------------------------------------

_SIGN_SKETCH_ORACLE = """
WITH v AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
),
pa AS (
  SELECT vec_id, e FROM v WHERE vec_id % 25 = 0 ORDER BY vec_id LIMIT 20
),
pb AS (
  SELECT vec_id, e FROM v WHERE vec_id % 25 = 7 ORDER BY vec_id LIMIT 20
),
pairs AS (
  SELECT a.vec_id AS id_1, b.vec_id AS id_2,
         CAST(list_sum(list_transform(range(1, len(a.e) + 1),
              i -> CASE WHEN (a.e[i] > 0) <> (b.e[i] > 0)
                        THEN 1 ELSE 0 END)) AS BIGINT) AS hamming,
         round(list_cosine_similarity(a.e, b.e), 4) AS cosine_sim
  FROM pa a CROSS JOIN pb b
),
sc AS (
  SELECT id_1, id_2, hamming, cosine_sim,
         round(cos(pi() * hamming / 64), 4) AS sketch_estimate,
         CAST(round(cosine_sim * 10000) AS BIGINT) AS c4
  FROM pairs
),
corr AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(hamming) AS HUGEINT) AS sx,
         CAST(sum(c4) AS HUGEINT) AS sy,
         CAST(sum(CAST(hamming AS HUGEINT) * c4) AS HUGEINT) AS sxy,
         CAST(sum(CAST(hamming AS HUGEINT) * hamming) AS HUGEINT) AS sxx,
         CAST(sum(CAST(c4 AS HUGEINT) * c4) AS HUGEINT) AS syy
  FROM sc
)
SELECT sc.id_1, sc.id_2, sc.hamming, sc.cosine_sim, sc.sketch_estimate,
       round((CAST(corr.n AS DOUBLE) * CAST(corr.sxy AS DOUBLE)
              - CAST(corr.sx AS DOUBLE) * CAST(corr.sy AS DOUBLE))
             / sqrt((CAST(corr.n AS DOUBLE) * CAST(corr.sxx AS DOUBLE)
                     - CAST(corr.sx AS DOUBLE) * CAST(corr.sx AS DOUBLE))
                  * (CAST(corr.n AS DOUBLE) * CAST(corr.syy AS DOUBLE)
                     - CAST(corr.sy AS DOUBLE) * CAST(corr.sy AS DOUBLE))), 6)
         AS hamming_cosine_corr
FROM sc CROSS JOIN corr
"""


@register(
    "sign_sketch_hamming_audit",
    oracle=_SIGN_SKETCH_ORACLE,
    tags=("similarity", "ml-eval"),
)
def sign_sketch_hamming_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audit of the 1-bit-per-dimension sign sketch: over a
    deterministic sample grid of vector pairs, the Hamming distance
    between sign patterns vs the true cosine, the SRP-theoretic
    estimate cos(π·h/d), and the fleet-wide Pearson correlation
    between Hamming and cosine — the single number that decides
    whether a binary index can pre-filter candidates for this
    embedding distribution (|corr| near 1) or not.

    Numerics: the cosine is the proven 4dp cross-engine parity kernel
    (embedding_dup_pairs precedent); the audit correlation runs on its
    x10^4 INTEGER image (exact after 4dp rounding) against the integer
    Hamming distance, so the Pearson derives entirely from
    DECIMAL(38,0)/HUGEINT sufficient statistics.

    Scale notes: the audit panel is the 20 smallest qualifying ids per
    side (TakeOrderedAndProject top-k — bounded at ANY corpus size; a
    bare modulus filter grew pairs quadratically, 5.5x at the 10x
    probe); each pair's fold is one fixed-order zip_with kernel in
    codegen; the correlation is a window-free scalar aggregate
    broadcast back onto the panel.
    """
    emb = _t(spark, sf_dir, "embeddings")
    # bounded audit panel: 20 smallest qualifying ids per side (a
    # TakeOrderedAndProject top-k, no global sort) — a bare modulus
    # filter grows linearly per side and QUADRATICALLY in pairs
    # (measured 5.5x at the 10x probe before the cap)
    a = (
        emb.filter(F.col("vec_id") % 25 == 0)
        .select(F.col("vec_id").alias("id_1"), F.col("embedding").alias("ea"))
        .orderBy("id_1")
        .limit(20)
    )
    b = (
        emb.filter(F.col("vec_id") % 25 == 7)
        .select(F.col("vec_id").alias("id_2"), F.col("embedding").alias("eb"))
        .orderBy("id_2")
        .limit(20)
    )
    dot = "aggregate(zip_with(ea, eb, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), 0D, (acc, v) -> acc + v)"
    na = "aggregate(ea, 0D, (acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE))"
    nb = "aggregate(eb, 0D, (acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE))"
    ham = (
        "aggregate(zip_with(ea, eb, (x, y) -> "
        "CASE WHEN (x > 0) != (y > 0) THEN 1L ELSE 0L END), 0L, (acc, v) -> acc + v)"
    )
    pairs = a.crossJoin(b).select(
        "id_1",
        "id_2",
        F.expr(ham).cast("long").alias("hamming"),
        F.round(F.expr(f"({dot}) / sqrt(({na}) * ({nb}))"), 4).alias("cosine_sim"),
    )
    sc = pairs.select(
        "id_1",
        "id_2",
        "hamming",
        "cosine_sim",
        F.round(
            F.cos(F.lit(math.pi) * F.col("hamming") / 64), 4
        ).alias("sketch_estimate"),
        F.round(F.col("cosine_sim") * 10000).cast("long").alias("c4"),
    ).localCheckpoint(eager=False)  # A/B sf1: 0.41 s with, 0.49 s without
    d38 = "decimal(38,0)"
    corr = sc.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("hamming").cast(d38).alias("sx"),
        F.sum("c4").cast(d38).alias("sy"),
        F.sum(F.col("hamming").cast(d38) * F.col("c4")).alias("sxy"),
        F.sum(F.col("hamming").cast(d38) * F.col("hamming")).alias("sxx"),
        F.sum(F.col("c4").cast(d38) * F.col("c4")).alias("syy"),
    )
    r = (
        F.col("n").cast("double") * F.col("sxy").cast("double")
        - F.col("sx").cast("double") * F.col("sy").cast("double")
    ) / F.sqrt(
        (
            F.col("n").cast("double") * F.col("sxx").cast("double")
            - F.col("sx").cast("double") * F.col("sx").cast("double")
        )
        * (
            F.col("n").cast("double") * F.col("syy").cast("double")
            - F.col("sy").cast("double") * F.col("sy").cast("double")
        )
    )
    return sc.crossJoin(corr).select(
        "id_1",
        "id_2",
        "hamming",
        "cosine_sim",
        "sketch_estimate",
        F.round(r, 6).alias("hamming_cosine_corr"),
    )


# ---------------------------------------------------------------------------
# Bipartite degree assortativity (supplier-part graph)
# ---------------------------------------------------------------------------

_ASSORT_ORACLE = """
WITH ed AS (
  SELECT DISTINCT l_suppkey AS s, l_partkey AS p FROM lineitem
),
ds AS (SELECT s, CAST(count(*) AS BIGINT) AS deg_s FROM ed GROUP BY s),
dp AS (SELECT p, CAST(count(*) AS BIGINT) AS deg_p FROM ed GROUP BY p),
j AS (
  SELECT ds.deg_s AS x, dp.deg_p AS y
  FROM ed JOIN ds ON ed.s = ds.s JOIN dp ON ed.p = dp.p
),
st AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(x AS HUGEINT)) AS HUGEINT) AS sx,
         CAST(sum(CAST(y AS HUGEINT)) AS HUGEINT) AS sy,
         CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy,
         CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
         CAST(sum(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy
  FROM j
)
SELECT n AS n_edges,
       round(CAST(sx AS DOUBLE) / n, 4) AS mean_supplier_degree,
       round(CAST(sy AS DOUBLE) / n, 4) AS mean_part_degree,
       round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                  * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                     - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6)
         AS degree_assortativity
FROM st
"""


@register(
    "supplier_part_assortativity", oracle=_ASSORT_ORACLE, tags=("graph", "stats")
)
def supplier_part_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bipartite degree assortativity of the supplier-part shipping
    graph: the Pearson correlation, over EDGES, between the supplier
    endpoint's degree and the part endpoint's degree. Positive means
    broad-catalog suppliers ship widely-sourced parts (a dense core —
    resilient to single-supplier loss); negative means hubs pair with
    leaves (a hub-and-spoke supply chain — fragile). The
    network-science summary the graph family (pagerank, k-core, BFS
    reach) was missing.

    Numerics: degrees are exact edge-fold counts; the correlation is
    the standard DECIMAL(38,0)/HUGEINT sufficient-statistics Pearson
    with one identical double tree, rounded once.

    Scale notes: one distinct fold to the edge list, two degree folds
    (map-side combinable), and two joins on the degree frames, which
    carry no hint: they are supplier/part-grain and grow with the data,
    so the planner and AQE pick the join from their sizes. The final
    Pearson is a scalar aggregate. The edge list never self-joins —
    cost is linear in edges, unlike the pairwise Jaccard sibling.
    """
    li = _t(spark, sf_dir, "lineitem")
    ed = (
        li.select(F.col("l_suppkey").alias("s"), F.col("l_partkey").alias("p"))
        .distinct()
        .localCheckpoint(eager=False)  # A/B sf0.1: 1.62 s with, 1.98 s without
    )
    ds = ed.groupBy("s").agg(F.count("*").cast("long").alias("deg_s"))
    dp = ed.groupBy("p").agg(F.count("*").cast("long").alias("deg_p"))
    j = (
        ed.join(ds, "s")
        .join(dp, "p")
        .select(F.col("deg_s").alias("x"), F.col("deg_p").alias("y"))
    )
    d38 = "decimal(38,0)"
    st = j.agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.col("x").cast(d38)).alias("sx"),
        F.sum(F.col("y").cast(d38)).alias("sy"),
        F.sum(F.col("x").cast(d38) * F.col("y")).alias("sxy"),
        F.sum(F.col("x").cast(d38) * F.col("x")).alias("sxx"),
        F.sum(F.col("y").cast(d38) * F.col("y")).alias("syy"),
    )
    return st.select(
        F.col("n").alias("n_edges"),
        F.round(F.col("sx").cast("double") / F.col("n"), 4).alias(
            "mean_supplier_degree"
        ),
        F.round(F.col("sy").cast("double") / F.col("n"), 4).alias(
            "mean_part_degree"
        ),
        F.round(
            (
                F.col("n").cast("double") * F.col("sxy").cast("double")
                - F.col("sx").cast("double") * F.col("sy").cast("double")
            )
            / F.sqrt(
                (
                    F.col("n").cast("double") * F.col("sxx").cast("double")
                    - F.col("sx").cast("double") * F.col("sx").cast("double")
                )
                * (
                    F.col("n").cast("double") * F.col("syy").cast("double")
                    - F.col("sy").cast("double") * F.col("sy").cast("double")
                )
            ),
            6,
        ).alias("degree_assortativity"),
    )


# ---------------------------------------------------------------------------
# Line-count overdispersion screen
# ---------------------------------------------------------------------------

_VMR_ORACLE = """
WITH oc AS (
  SELECT l_orderkey, CAST(count(*) AS BIGINT) AS c
  FROM lineitem GROUP BY l_orderkey
),
lc AS (
  SELECT o.o_orderpriority AS priority,
         CAST(coalesce(oc.c, 0) AS BIGINT) AS n_lines
  FROM orders o LEFT JOIN oc ON o.o_orderkey = oc.l_orderkey
),
st AS (
  SELECT priority,
         CAST(count(*) AS BIGINT) AS n_orders,
         CAST(sum(n_lines) AS BIGINT) AS s,
         CAST(sum(CAST(n_lines AS HUGEINT) * n_lines) AS HUGEINT) AS q
  FROM lc GROUP BY priority
)
SELECT priority, n_orders,
       round(CAST(s AS DOUBLE) / n_orders, 4) AS mean_lines,
       round((CAST(q AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n_orders)
             / (n_orders - 1), 4) AS var_lines,
       round(((CAST(q AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n_orders)
              / (n_orders - 1)) / (CAST(s AS DOUBLE) / n_orders), 4) AS vmr
FROM st
"""


@register("order_linecount_dispersion", oracle=_VMR_ORACLE, tags=("stats", "agg"))
def order_linecount_dispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Variance-to-mean ratio of lines-per-order within each priority —
    the overdispersion screen: VMR ≈ 1 is Poisson (independent line
    arrivals), VMR > 1 clumped, VMR < 1 regularized (e.g. a line cap).
    This is the assumption check behind any Poisson count model or
    Poisson-derived sampling plan on this data, and the left join
    counts zero-line orders honestly.

    Scale notes: lineitem pre-aggregates to order grain FIRST (map-side
    combinable fold — joining raw lines to orders and grouping the
    joined fact was measured 6.7x at the 10x probe; folding first cut
    it to the natural co-keyed order-grain join), then a priority-keyed
    fold to 5 sufficient-statistic rows (q in DECIMAL(38,0)/HUGEINT);
    no windows, no data-grain second shuffle.
    """
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    oc = li.groupBy("l_orderkey").agg(F.count("*").cast("long").alias("c"))
    lc = (
        o.join(oc, o.o_orderkey == oc.l_orderkey, "left")
        .select(
            F.col("o_orderpriority").alias("priority"),
            F.coalesce(F.col("c"), F.lit(0)).cast("long").alias("n_lines"),
        )
    )
    d38 = "decimal(38,0)"
    st = lc.groupBy("priority").agg(
        F.count("*").cast("long").alias("n_orders"),
        F.sum("n_lines").cast("long").alias("s"),
        F.sum(F.col("n_lines").cast(d38) * F.col("n_lines")).alias("q"),
    )
    mean = F.col("s").cast("double") / F.col("n_orders")
    var = (
        F.col("q").cast("double")
        - F.col("s").cast("double") * F.col("s").cast("double") / F.col("n_orders")
    ) / (F.col("n_orders") - 1)
    return st.select(
        "priority",
        "n_orders",
        F.round(mean, 4).alias("mean_lines"),
        F.round(var, 4).alias("var_lines"),
        F.round(var / mean, 4).alias("vmr"),
    )
