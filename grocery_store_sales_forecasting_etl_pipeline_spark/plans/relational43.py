"""Round-6 additions, batch 43: two sketch-family completions and an
iterative outlier procedure — a Bloom-filter join pre-filter audit
(measured false-positive rate vs the theoretical bound: the sketch
behind the runtime bloom joins the plan guards already pin), a KMV
(k-minimum-values) bottom-k sketch with its Jaccard estimator (the
set-similarity sketch HLL/CMS/minhash don't give: one signature serves
distinct-count AND overlap), and a 3-round extreme-studentized-
deviate (ESD) sweep over weekly revenue (iterative remove-and-retest,
the shape single-pass z-scores can't express because the first
outlier inflates the std that tests the second).

Determinism discipline: every hash position/rank is an md5-derived
integer; set memberships and intersection counts are exact; the only
floats are closed-form per-row expressions (one exp() in the Bloom
theory bound — the documented ln-family exception) rounded once; ESD
argmax selection tie-breaks on week so round membership is total-
ordered.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from grocery_store_sales_forecasting_etl_pipeline_spark.plans._tables import table as _t
from grocery_store_sales_forecasting_etl_pipeline_spark.plans.registry import register

# ---------------------------------------------------------------------------
# Bloom-filter join pre-filter audit
# ---------------------------------------------------------------------------

_BLOOM_M = 1 << 20  # bits
_BLOOM_K = 3  # hash functions

_BLOOM_ORACLE = f"""
WITH build AS (
  SELECT DISTINCT o_orderkey AS k FROM orders
  WHERE o_orderpriority = '1-URGENT'
    AND o_orderdate >= DATE '1997-01-01' AND o_orderdate < DATE '1998-01-01'
),
bits AS (
  SELECT DISTINCT pos FROM (
    SELECT unnest(list_value(
      ('0x' || substr(md5(CAST(k AS VARCHAR) || '#0'), 1, 8))::BIGINT % {_BLOOM_M},
      ('0x' || substr(md5(CAST(k AS VARCHAR) || '#1'), 1, 8))::BIGINT % {_BLOOM_M},
      ('0x' || substr(md5(CAST(k AS VARCHAR) || '#2'), 1, 8))::BIGINT % {_BLOOM_M}
    )) AS pos FROM build
  )
),
probe AS (SELECT DISTINCT l_orderkey AS k FROM lineitem),
ppos AS (
  SELECT k, unnest(list_value(
    ('0x' || substr(md5(CAST(k AS VARCHAR) || '#0'), 1, 8))::BIGINT % {_BLOOM_M},
    ('0x' || substr(md5(CAST(k AS VARCHAR) || '#1'), 1, 8))::BIGINT % {_BLOOM_M},
    ('0x' || substr(md5(CAST(k AS VARCHAR) || '#2'), 1, 8))::BIGINT % {_BLOOM_M}
  )) AS pos FROM probe
),
hits AS (
  SELECT p.k, count(*) AS n_hit
  FROM ppos p JOIN bits b ON p.pos = b.pos
  GROUP BY p.k
),
passed AS (SELECT k FROM hits WHERE n_hit = {_BLOOM_K}),
truth AS (SELECT k FROM probe WHERE k IN (SELECT k FROM build)),
s AS (
  SELECT (SELECT CAST(count(*) AS BIGINT) FROM build) AS n_build,
         (SELECT CAST(count(*) AS BIGINT) FROM probe) AS n_probe,
         (SELECT CAST(count(*) AS BIGINT) FROM truth) AS n_true,
         (SELECT CAST(count(*) AS BIGINT) FROM passed) AS n_pass,
         (SELECT CAST(count(*) AS BIGINT) FROM bits) AS n_set_bits
)
SELECT n_build, n_probe, n_true, n_pass, n_set_bits,
       CAST(n_pass - n_true AS BIGINT) AS n_false_pos,
       round((n_pass - n_true) * 1.0 / (n_probe - n_true), 6) AS fp_rate,
       round(pow(1 - exp(-{_BLOOM_K}.0 * n_build / {_BLOOM_M}), {_BLOOM_K}), 6)
         AS fp_theory
FROM s
"""


@register("bloom_filter_join_audit", oracle=_BLOOM_ORACLE, tags=("sketch", "join", "quality"))
def bloom_filter_join_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter join pre-filter, audited: build a k=3, m=2^20
    Bloom filter over the selective side's keys (urgent 1997 orders),
    probe every distinct lineitem orderkey, and report the measured
    false-positive rate against the theoretical (1 - e^(-kn/m))^k —
    the sketch behind runtime bloom-join pruning, here surfaced as an
    auditable operator so a user can size m/k for THEIR key cardinality
    before trusting the pre-filter at 100 TB.

    Determinism: bit positions are md5-derived integers mod m; a probe
    passes iff all k positions are set — exact set membership, exact
    counts; the single exp() in the theory bound is one closed-form
    double per the ln-exception policy, rounded once.

    Scale notes: the set-bit frame is bounded by k*n_build (the Bloom
    premise is a SELECTIVE build side, so it broadcasts — the same
    regime where a real bloom join pays off); the probe explodes x3
    map-side and joins the broadcast bit set, then folds per key. The
    distinct-key grains are the only shuffles. When the build side is
    NOT selective the operator still runs (AQE shuffles the bit join)
    but the audit itself will tell you the filter is useless — that is
    the point of the audit.
    """
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    build = (
        o.filter(
            (F.col("o_orderpriority") == "1-URGENT")
            & (F.col("o_orderdate") >= "1997-01-01")
            & (F.col("o_orderdate") < "1998-01-01")
        )
        .select(F.col("o_orderkey").alias("k"))
        .distinct()
    )

    def positions(frame: DataFrame) -> DataFrame:
        pos = F.array(
            *[
                (
                    F.conv(
                        F.substring(
                            F.md5(F.concat(F.col("k").cast("string"), F.lit(f"#{j}"))),
                            1,
                            8,
                        ),
                        16,
                        10,
                    ).cast("long")
                    % _BLOOM_M
                )
                for j in range(_BLOOM_K)
            ]
        )
        return frame.select("k", F.explode(pos).alias("pos"))

    bits = positions(build).select("pos").distinct()
    # A/B sf1: 5.62 s with, 6.94 s without
    probe = li.select(F.col("l_orderkey").alias("k")).distinct().localCheckpoint(
        eager=False
    )
    # ONE consumer of the probe-key grain: hit counts, truth flag, and
    # the three probe-side totals fold in a single per-key frame (three
    # separate agg consumers re-read the checkpointed frame and run
    # three jobs — measured 20.3s -> fixed at the sf1 probe)
    hits = (
        positions(probe)
        .join(bits, "pos")
        .groupBy("k")
        .agg(F.count("*").alias("n_hit"))
    )
    perkey = (
        probe.join(hits, "k", "left")
        .join(build.select("k", F.lit(1).alias("is_true")), "k", "left")
        .select(
            F.when(F.col("n_hit") == _BLOOM_K, 1).otherwise(0).alias("passed"),
            F.coalesce(F.col("is_true"), F.lit(0)).alias("is_true"),
        )
    )
    probe_tot = perkey.agg(
        F.count("*").cast("long").alias("n_probe"),
        F.sum("passed").cast("long").alias("n_pass"),
        F.sum("is_true").cast("long").alias("n_true"),
    )
    s = (
        build.agg(F.count("*").cast("long").alias("n_build"))
        .crossJoin(probe_tot)
        .crossJoin(bits.agg(F.count("*").cast("long").alias("n_set_bits")))
    )
    theory = F.pow(
        1 - F.exp(F.lit(-float(_BLOOM_K)) * F.col("n_build") / F.lit(_BLOOM_M)),
        F.lit(_BLOOM_K),
    )
    return s.select(
        "n_build",
        "n_probe",
        "n_true",
        "n_pass",
        "n_set_bits",
        (F.col("n_pass") - F.col("n_true")).cast("long").alias("n_false_pos"),
        F.round(
            (F.col("n_pass") - F.col("n_true"))
            * 1.0
            / (F.col("n_probe") - F.col("n_true")),
            6,
        ).alias("fp_rate"),
        F.round(theory, 6).alias("fp_theory"),
    )


# ---------------------------------------------------------------------------
# KMV (bottom-k) sketch Jaccard audit
# ---------------------------------------------------------------------------

_KMV_K = 256

_KMV_ORACLE = f"""
WITH a AS (
  SELECT DISTINCT o_custkey AS k FROM orders
  WHERE o_orderdate >= DATE '1996-01-01' AND o_orderdate < DATE '1997-01-01'
),
b AS (
  SELECT DISTINCT o_custkey AS k FROM orders
  WHERE o_orderdate >= DATE '1997-01-01' AND o_orderdate < DATE '1998-01-01'
),
ha AS (
  SELECT k, md5(CAST(k AS VARCHAR)) AS h,
         row_number() OVER (ORDER BY md5(CAST(k AS VARCHAR))) AS rn
  FROM a QUALIFY rn <= {_KMV_K}
),
hb AS (
  SELECT k, md5(CAST(k AS VARCHAR)) AS h,
         row_number() OVER (ORDER BY md5(CAST(k AS VARCHAR))) AS rn
  FROM b QUALIFY rn <= {_KMV_K}
),
un AS (
  SELECT h, row_number() OVER (ORDER BY h) AS rn FROM (
    SELECT DISTINCT h FROM (SELECT h FROM ha UNION ALL SELECT h FROM hb)
  ) QUALIFY rn <= {_KMV_K}
),
est AS (
  SELECT CAST(count(*) AS BIGINT) AS n_shared
  FROM un WHERE h IN (SELECT h FROM ha) AND h IN (SELECT h FROM hb)
),
ex AS (
  SELECT (SELECT CAST(count(*) AS BIGINT) FROM a) AS n_a,
         (SELECT CAST(count(*) AS BIGINT) FROM b) AS n_b,
         (SELECT CAST(count(*) AS BIGINT) FROM a WHERE k IN (SELECT k FROM b))
           AS n_intersect
)
SELECT n_a, n_b, n_intersect,
       CAST(n_a + n_b - n_intersect AS BIGINT) AS n_union,
       round(n_intersect * 1.0 / (n_a + n_b - n_intersect), 6) AS exact_jaccard,
       CAST({_KMV_K} AS BIGINT) AS kmv_k,
       CAST(est.n_shared AS BIGINT) AS kmv_shared,
       round(est.n_shared * 1.0 / {_KMV_K}, 6) AS kmv_estimate
FROM ex CROSS JOIN est
"""


@register("kmv_jaccard_audit", oracle=_KMV_ORACLE, tags=("sketch", "stats"))
def kmv_jaccard_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (k-minimum-values / bottom-k) sketch Jaccard estimate
    between the 1996 and 1997 active-customer sets, beside the exact
    answer — the set-overlap sketch the family was missing: one
    bottom-256-hashes signature per set supports union (merge
    signatures), distinct-count, AND Jaccard, with error ~1/sqrt(k).
    The estimator is |bottom_k(A∪B) ∩ S_A ∩ S_B| / k.

    Determinism: signatures are the k lexicographically smallest md5
    hex digests (distinct keys hash distinctly; ties impossible at
    md5 width), so both engines select identical signatures; every
    count is exact; the two output ratios round once.

    Scale notes: per-set signatures are bottom-k selections over the
    distinct-key grain — TakeOrdered-shaped, k rows out regardless of
    set size, which is the whole point: at 100 TB the signatures (256
    hashes each) travel as broadcast literals while the exact
    intersection below exists only to grade them. The exact leg is one
    distinct + semi-join per year (the audit's cost, not the sketch's).
    """
    o = _t(spark, sf_dir, "orders")

    def year_keys(y: int) -> DataFrame:
        return (
            o.filter(
                (F.col("o_orderdate") >= f"{y}-01-01")
                & (F.col("o_orderdate") < f"{y + 1}-01-01")
            )
            .select(F.col("o_custkey").alias("k"))
            .distinct()
            .localCheckpoint(eager=False)  # A/B sf0.1: 0.62 s with, 0.86 s without
        )

    a, b = year_keys(1996), year_keys(1997)

    def signature(frame: DataFrame) -> DataFrame:
        h = frame.select(F.md5(F.col("k").cast("string")).alias("h"))
        return (
            h.withColumn("rn", F.row_number().over(Window.orderBy("h")))
            .filter(F.col("rn") <= _KMV_K)
            .select("h")
        )

    sa, sb = signature(a), signature(b)
    un = (
        sa.unionAll(sb)
        .distinct()
        .withColumn("rn", F.row_number().over(Window.orderBy("h")))
        .filter(F.col("rn") <= _KMV_K)
        .select("h")
    )
    shared = (
        un.join(sa, "h", "left_semi")
        .join(sb, "h", "left_semi")
        .agg(F.count("*").cast("long").alias("kmv_shared"))
    )
    n_a = a.agg(F.count("*").cast("long").alias("n_a"))
    n_b = b.agg(F.count("*").cast("long").alias("n_b"))
    n_i = a.join(b, "k", "left_semi").agg(
        F.count("*").cast("long").alias("n_intersect")
    )
    s = n_a.crossJoin(n_b).crossJoin(n_i).crossJoin(shared)
    return s.select(
        "n_a",
        "n_b",
        "n_intersect",
        (F.col("n_a") + F.col("n_b") - F.col("n_intersect"))
        .cast("long")
        .alias("n_union"),
        F.round(
            F.col("n_intersect")
            * 1.0
            / (F.col("n_a") + F.col("n_b") - F.col("n_intersect")),
            6,
        ).alias("exact_jaccard"),
        F.lit(_KMV_K).cast("long").alias("kmv_k"),
        "kmv_shared",
        F.round(F.col("kmv_shared") * 1.0 / _KMV_K, 6).alias("kmv_estimate"),
    )


# ---------------------------------------------------------------------------
# Iterative ESD outlier sweep over weekly revenue
# ---------------------------------------------------------------------------

_ESD_ROUNDS = 3
_ESD_Z = 3.0


def _esd_oracle() -> str:
    stages = []
    prev_excl = ""
    for i in range(1, _ESD_ROUNDS + 1):
        excl = " AND ".join(
            f"w.x <> (SELECT x FROM m{j})" for j in range(1, i)
        )
        where = f"WHERE {excl}" if excl else ""
        stages.append(f"""
s{i} AS (
  SELECT CAST(count(*) AS HUGEINT) AS n,
         CAST(sum(CAST(y AS HUGEINT)) AS HUGEINT) AS sy,
         CAST(sum(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy
  FROM w {where.replace('w.x', 'x')}
),
m{i} AS (
  SELECT w.x, w.y,
         (w.y - CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))
           / sqrt((CAST(syy AS DOUBLE)
                   - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))
                  / (CAST(n AS DOUBLE) - 1)) AS z
  FROM w CROSS JOIN s{i} {where}
  ORDER BY abs((w.y - CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))
           / sqrt((CAST(syy AS DOUBLE)
                   - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))
                  / (CAST(n AS DOUBLE) - 1))) DESC, w.x
  LIMIT 1
)""")
        prev_excl = excl
    body = ",".join(stages)
    outs = " UNION ALL ".join(
        f"SELECT {i} AS esd_round, x AS week_start, y AS revenue_cents, "
        f"round(z, 4) AS z_score, abs(z) > {_ESD_Z} AS is_outlier FROM m{i}"
        for i in range(1, _ESD_ROUNDS + 1)
    )
    return f"""
WITH base AS (
  SELECT CAST(l_shipdate AS DATE)
           - CAST((dayofweek(CAST(l_shipdate AS DATE)) + 6) % 7 AS INTEGER) AS x,
         CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS y
  FROM lineitem GROUP BY 1
),
w AS (SELECT * FROM base),
{body}
SELECT * FROM ({outs})
"""


@register("weekly_esd_outliers", oracle=_esd_oracle(), tags=("stats", "timeseries", "quality"))
def weekly_esd_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three-round extreme-studentized-deviate sweep over weekly
    revenue: each round computes mean/std over the REMAINING weeks,
    emits the week with the largest |z| (tie-break week), removes it,
    and repeats — the iterative procedure that finds the second
    outlier a single-pass z-score misses because the first one
    inflated the std (masking). is_outlier applies the fixed |z| > 3
    cut per round (the z-threshold ESD variant; t-quantile lambdas
    would need a distribution table, documented as out of scope).

    Determinism: weekly cents are exact integers; each round's
    mean/std comes from DECIMAL(38,0)/HUGEINT sufficient sums in one
    closed-form double; argmax selection orders by (|z| DESC, week) —
    total-ordered, so round membership is identical across engines.

    Scale notes: all three rounds run on the CALENDAR-bounded week
    frame (localCheckpointed once, ~100 rows at any data scale); the
    fact folds to that grain in ONE map-side-combined scan. Iterative
    remove-and-recompute is safe exactly because the iteration state
    is grain-bounded, never data-bounded.
    """
    li = _t(spark, sf_dir, "lineitem")
    monday = F.date_sub(
        F.col("l_shipdate").cast("date"),
        (F.dayofweek(F.col("l_shipdate").cast("date")) + F.lit(5)) % F.lit(7),
    )
    w = (
        li.groupBy(monday.alias("x"))
        .agg(
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("long"))
            .cast("long")
            .alias("y")
        )
        .localCheckpoint(eager=False)  # A/B sf0.1: 1.07 s with, 1.87 s without
    )
    dec = "decimal(38,0)"
    remaining = w
    outs = []
    for i in range(1, _ESD_ROUNDS + 1):
        s = remaining.agg(
            F.count("*").cast(dec).alias("n"),
            F.sum(F.col("y").cast(dec)).alias("sy"),
            F.sum(F.col("y").cast(dec) * F.col("y")).alias("syy"),
        )
        n_d = F.col("n").cast("double")
        mean = F.col("sy").cast("double") / n_d
        std = F.sqrt(
            (F.col("syy").cast("double") - F.col("sy").cast("double") * F.col("sy").cast("double") / n_d)
            / (n_d - 1)
        )
        z = (F.col("y") - mean) / std
        m = (
            remaining.crossJoin(s)
            .select("x", "y", z.alias("z"))
            .orderBy(F.abs(F.col("z")).desc(), "x")
            .limit(1)
            .localCheckpoint(eager=False)  # A/B sf1: 1.58 s with, 1.90 s without
        )
        outs.append(
            m.select(
                F.lit(i).cast("int").alias("esd_round"),
                F.col("x").alias("week_start"),
                F.col("y").alias("revenue_cents"),
                F.round("z", 4).alias("z_score"),
                (F.abs(F.col("z")) > _ESD_Z).alias("is_outlier"),
            )
        )
        remaining = remaining.join(m.select("x"), "x", "left_anti")
    out = outs[0]
    for o_df in outs[1:]:
        out = out.unionAll(o_df)
    return out
