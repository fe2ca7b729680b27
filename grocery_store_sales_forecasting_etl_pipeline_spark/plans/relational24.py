"""Round-5 additions, batch 24: distribution drift between order
cohorts (two-sample chi-square buckets), a Wilson-lower-bound quality
league table per document source, the language-ID confusion matrix
with per-language precision/recall/F1, and error-burst detection over
hourly event rates.

These are the monitoring/evaluation counterparts to the batch-21..23
analytics: drift detection is what a 100 TB pipeline runs between
dataset versions before retraining; the Wilson bound is how you rank
sources with wildly different sample counts without small-n lies; the
confusion matrix turns the langid heuristic from a per-doc column into
an evaluated classifier; burst detection is the ops-side anomaly gate.

Determinism discipline: all counts exact integers; chi-square/Wilson
are single closed-form float expressions written with IDENTICAL
operation order in both engines (each IEEE op is deterministic, sqrt is
correctly rounded); burst flags are integer cross-multiplications.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from grocery_store_sales_forecasting_etl_pipeline_spark.functions import text as T
from grocery_store_sales_forecasting_etl_pipeline_spark.plans._tables import table as _t
from grocery_store_sales_forecasting_etl_pipeline_spark.plans.registry import register

# ---------------------------------------------------------------------------
# Order-value distribution drift (two-sample chi-square buckets)
# ---------------------------------------------------------------------------

_BUCKET_CENTS = 2_500_000  # $25k-wide value bands
_N_BUCKETS = 20

_DRIFT_ORACLE = f"""
WITH o AS (
  SELECT least(CAST(round(o_totalprice * 100) AS BIGINT) // {_BUCKET_CENTS},
               {_N_BUCKETS - 1}) AS bucket,
         CASE WHEN o_orderdate < TIMESTAMP '1998-01-01' THEN 'a' ELSE 'b' END
           AS period
  FROM orders
),
b AS (
  SELECT bucket,
         CAST(sum(CASE WHEN period = 'a' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
         CAST(sum(CASE WHEN period = 'b' THEN 1 ELSE 0 END) AS BIGINT) AS n_b
  FROM o GROUP BY bucket
),
t AS (
  SELECT bucket, n_a, n_b,
         CAST(sum(n_a) OVER () AS BIGINT) AS tot_a,
         CAST(sum(n_b) OVER () AS BIGINT) AS tot_b
  FROM b
)
SELECT bucket, n_a, n_b,
       round((n_a - tot_a * 1.0 * (n_a + n_b) / (tot_a + tot_b))
             * (n_a - tot_a * 1.0 * (n_a + n_b) / (tot_a + tot_b))
             / (tot_a * 1.0 * (n_a + n_b) / (tot_a + tot_b)), 4) AS chi2_a,
       round((n_b - tot_b * 1.0 * (n_a + n_b) / (tot_a + tot_b))
             * (n_b - tot_b * 1.0 * (n_a + n_b) / (tot_a + tot_b))
             / (tot_b * 1.0 * (n_a + n_b) / (tot_a + tot_b)), 4) AS chi2_b
FROM t
"""


@register("order_value_drift_buckets", oracle=_DRIFT_ORACLE, tags=("agg", "stats"))
def order_value_drift_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample distribution drift: order values bucketed into fixed
    $25k bands, compared between the 1995-1997 cohort and the 1998+
    cohort; each band reports both observed counts and its two
    chi-square contributions (observed vs expected-under-no-drift) —
    the per-bucket breakdown a drift monitor alerts on, left unsummed
    so no cross-engine float accumulation order exists.

    Scale notes: map-only bucketing (the band is integer division of
    exact cents, capped — scale-invariant edges, not data-dependent
    quantiles), ONE shuffle to the ≤20-row bucket grain with map-side
    partials, then window totals over the constant-size frame. The
    chi-square terms are closed-form per output row from exact integer
    counts.
    """
    o = _t(spark, sf_dir, "orders")
    b = (
        o.select(
            F.least(
                F.expr(f"CAST(round(o_totalprice * 100) AS BIGINT) DIV {_BUCKET_CENTS}"),
                F.lit(_N_BUCKETS - 1),
            ).alias("bucket"),
            F.when(
                F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"),
                F.lit("a"),
            )
            .otherwise(F.lit("b"))
            .alias("period"),
        )
        .groupBy("bucket")
        .agg(
            F.sum(F.when(F.col("period") == "a", F.lit(1)).otherwise(F.lit(0)))
            .cast("long")
            .alias("n_a"),
            F.sum(F.when(F.col("period") == "b", F.lit(1)).otherwise(F.lit(0)))
            .cast("long")
            .alias("n_b"),
        )
    )
    w_all = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    t = b.select(
        "bucket",
        "n_a",
        "n_b",
        F.sum("n_a").over(w_all).cast("long").alias("tot_a"),
        F.sum("n_b").over(w_all).cast("long").alias("tot_b"),
    )
    # expected count under no drift, written with the same op order as
    # the oracle so every IEEE intermediate matches bit-for-bit
    e_a = F.col("tot_a") * 1.0 * (F.col("n_a") + F.col("n_b")) / (F.col("tot_a") + F.col("tot_b"))
    e_b = F.col("tot_b") * 1.0 * (F.col("n_a") + F.col("n_b")) / (F.col("tot_a") + F.col("tot_b"))
    return t.select(
        "bucket",
        "n_a",
        "n_b",
        F.round((F.col("n_a") - e_a) * (F.col("n_a") - e_a) / e_a, 4).alias("chi2_a"),
        F.round((F.col("n_b") - e_b) * (F.col("n_b") - e_b) / e_b, 4).alias("chi2_b"),
    )


# ---------------------------------------------------------------------------
# Source quality league table (Wilson lower bound)
# ---------------------------------------------------------------------------

_WILSON_Z = "1.96"

_WILSON_ORACLE = f"""
WITH s AS (
  SELECT source,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END) AS BIGINT) AS n_pass
  FROM documents GROUP BY source
)
SELECT source, n_docs, n_pass,
       round(n_pass * 1.0 / n_docs, 4) AS pass_rate,
       round((n_pass * 1.0 / n_docs + {_WILSON_Z} * {_WILSON_Z} / (2.0 * n_docs)
              - {_WILSON_Z} * sqrt((n_pass * 1.0 / n_docs
                                    * (1.0 - n_pass * 1.0 / n_docs)
                                    + {_WILSON_Z} * {_WILSON_Z} / (4.0 * n_docs))
                                   / n_docs))
             / (1.0 + {_WILSON_Z} * {_WILSON_Z} / n_docs), 4) AS wilson_lb
FROM s
"""


@register("source_quality_wilson", oracle=_WILSON_ORACLE, tags=("text", "stats"))
def source_quality_wilson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source document quality league table: the fraction of each
    source's documents passing the length gate (n_chars >= 300), ranked
    by the Wilson 95% lower bound instead of the raw rate — the bound
    is what keeps a 3-for-3 source from outranking a 960-for-1000 one.

    Scale notes: ONE map-side-combined shuffle to source grain; output
    is |sources| rows at any data scale. The Wilson expression is one
    closed-form float formula per output row over exact integer (k, n),
    written with identical op order in both engines (sqrt is correctly
    rounded IEEE, so the whole expression is bit-deterministic).
    """
    d = _t(spark, sf_dir, "documents")
    s = d.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(F.when(F.col("n_chars") >= 300, F.lit(1)).otherwise(F.lit(0)))
        .cast("long")
        .alias("n_pass"),
    )
    z = float(_WILSON_Z)
    p = F.col("n_pass") * 1.0 / F.col("n_docs")
    n = F.col("n_docs")
    wilson = (
        p
        + F.lit(z) * F.lit(z) / (F.lit(2.0) * n)
        - F.lit(z)
        * F.sqrt((p * (F.lit(1.0) - p) + F.lit(z) * F.lit(z) / (F.lit(4.0) * n)) / n)
    ) / (F.lit(1.0) + F.lit(z) * F.lit(z) / n)
    return s.select(
        "source",
        "n_docs",
        "n_pass",
        F.round(p, 4).alias("pass_rate"),
        F.round(wilson, 4).alias("wilson_lb"),
    )


# ---------------------------------------------------------------------------
# Language-ID confusion matrix
# ---------------------------------------------------------------------------


def _confusion_sql() -> str:
    score_cols = []
    for lang, words in T.LANG_MARKERS.items():
        hits = " + ".join(
            f"(CASE WHEN list_contains(dt, '{w}') THEN 1 ELSE 0 END)" for w in words
        )
        score_cols.append(f"({hits}) AS s_{lang}")
    when_chain = " ".join(
        f"WHEN s_{lang} = best THEN '{lang}'" for lang in T.LANG_MARKERS
    )
    greatest = ", ".join(f"s_{lang}" for lang in T.LANG_MARKERS)
    return f"""
WITH t AS (
  SELECT lang, list_distinct(string_split(text, ' ')) AS dt FROM documents
),
scored AS (SELECT lang, {", ".join(score_cols)} FROM t),
best AS (SELECT *, greatest({greatest}) AS best FROM scored),
pred AS (
  SELECT lang AS labeled,
         CASE WHEN best = 0 THEN 'und' {when_chain} ELSE 'und' END AS detected
  FROM best
),
pairs AS (
  SELECT labeled, detected, CAST(count(*) AS BIGINT) AS n
  FROM pred GROUP BY labeled, detected
),
lab AS (SELECT labeled AS lang, CAST(sum(n) AS BIGINT) AS n_labeled FROM pairs GROUP BY labeled),
det AS (SELECT detected AS lang, CAST(sum(n) AS BIGINT) AS n_detected FROM pairs GROUP BY detected),
tp AS (SELECT labeled AS lang, CAST(sum(n) AS BIGINT) AS tp
       FROM pairs WHERE labeled = detected GROUP BY labeled)
SELECT coalesce(lab.lang, det.lang) AS lang,
       coalesce(lab.n_labeled, 0) AS n_labeled,
       coalesce(det.n_detected, 0) AS n_detected,
       coalesce(tp.tp, 0) AS tp,
       CASE WHEN coalesce(det.n_detected, 0) = 0 THEN NULL
            ELSE round(coalesce(tp.tp, 0) * 1.0 / det.n_detected, 4) END AS precision,
       CASE WHEN coalesce(lab.n_labeled, 0) = 0 THEN NULL
            ELSE round(coalesce(tp.tp, 0) * 1.0 / lab.n_labeled, 4) END AS recall,
       CASE WHEN coalesce(lab.n_labeled, 0) + coalesce(det.n_detected, 0) = 0 THEN NULL
            ELSE round(2.0 * coalesce(tp.tp, 0)
                       / (coalesce(lab.n_labeled, 0) + coalesce(det.n_detected, 0)), 4)
       END AS f1
FROM lab
FULL OUTER JOIN det ON lab.lang = det.lang
LEFT JOIN tp ON coalesce(lab.lang, det.lang) = tp.lang
"""


@register("langid_confusion_matrix", oracle=_confusion_sql(), tags=("text", "stats"))
def langid_confusion_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Evaluation of the marker-word language-ID heuristic against the
    labeled ``lang`` column: per language, labeled/detected/true-positive
    counts and precision/recall/F1 — turning ``doc_quality_langid``'s
    per-document prediction into a measured classifier (the 'und'
    fallback shows up as a zero-recall row, not a silent gap).

    Scale notes: language scoring is codegen'd array-intersect map work
    (no UDF); ONE shuffle folds the corpus to (labeled, detected) pairs
    — a ≤(|langs|+1)² frame that is localCheckpoint'ed before fanning
    into the three marginal views (multi-derivation rule), so the
    corpus scan runs once. All metric divisions are closed-form per
    output row from exact integers; zero denominators yield NULL
    (which the driver canonicalizer handles).
    """
    d = _t(spark, sf_dir, "documents")
    pred = d.select(
        F.col("lang").alias("labeled"), T.langid("text").alias("detected")
    )
    pairs = (
        pred.groupBy("labeled", "detected")
        .agg(F.count("*").cast("long").alias("n"))
        .localCheckpoint(eager=False)  # A/B sf0.1: 0.62 s with, 1.08 s without
    )
    lab = pairs.groupBy(F.col("labeled").alias("lang")).agg(
        F.sum("n").cast("long").alias("n_labeled")
    )
    det = pairs.groupBy(F.col("detected").alias("lang")).agg(
        F.sum("n").cast("long").alias("n_detected")
    )
    tp = (
        pairs.filter(F.col("labeled") == F.col("detected"))
        .groupBy(F.col("labeled").alias("lang"))
        .agg(F.sum("n").cast("long").alias("tp"))
    )
    joined = (
        lab.join(det, "lang", "full_outer")
        .join(tp, "lang", "left")
        .select(
            "lang",
            F.coalesce(F.col("n_labeled"), F.lit(0)).cast("long").alias("n_labeled"),
            F.coalesce(F.col("n_detected"), F.lit(0)).cast("long").alias("n_detected"),
            F.coalesce(F.col("tp"), F.lit(0)).cast("long").alias("tp"),
        )
    )
    return joined.select(
        "lang",
        "n_labeled",
        "n_detected",
        "tp",
        F.when(F.col("n_detected") == 0, F.lit(None).cast("double"))
        .otherwise(F.round(F.col("tp") * 1.0 / F.col("n_detected"), 4))
        .alias("precision"),
        F.when(F.col("n_labeled") == 0, F.lit(None).cast("double"))
        .otherwise(F.round(F.col("tp") * 1.0 / F.col("n_labeled"), 4))
        .alias("recall"),
        F.when(F.col("n_labeled") + F.col("n_detected") == 0, F.lit(None).cast("double"))
        .otherwise(
            F.round(2.0 * F.col("tp") / (F.col("n_labeled") + F.col("n_detected")), 4)
        )
        .alias("f1"),
    )


# ---------------------------------------------------------------------------
# Error-burst windows
# ---------------------------------------------------------------------------

_BURST_ORACLE = """
WITH h AS (
  SELECT date_trunc('hour', ts) AS hour,
         CAST(count(*) AS BIGINT) AS n_events,
         CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT)
           AS n_errors
  FROM events GROUP BY date_trunc('hour', ts)
),
w AS (
  SELECT hour, n_events, n_errors,
         CAST(coalesce(sum(n_events) OVER (ORDER BY hour
              ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS base_events,
         CAST(coalesce(sum(n_errors) OVER (ORDER BY hour
              ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS base_errors
  FROM h
)
SELECT hour, n_events, n_errors, base_events, base_errors,
       CAST(CASE WHEN base_events > 0
                  AND n_errors * base_events > 3 * base_errors * n_events
            THEN 1 ELSE 0 END AS BIGINT) AS is_burst
FROM w
"""


@register("error_burst_windows", oracle=_BURST_ORACLE, tags=("window", "events"))
def error_burst_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Error-burst detection: hourly event and error counts, each hour
    compared against its trailing 24-observed-hour baseline; an hour is
    a burst when its error RATE exceeds 3x the baseline rate — tested
    as the integer cross-multiplication n_err*base_ev > 3*base_err*n_ev,
    so no float rate ever exists to disagree across engines.

    Scale notes: ONE shuffle folds events to hour grain (map-side
    partials absorb the fan-in); after that the frame is bounded by the
    CALENDAR, so the unpartitioned trailing window sorts a provably
    tiny frame (the customer_survival_curve argument). ROWS (observed
    hours), not RANGE — gap hours don't stretch the baseline, and the
    semantics match exactly across engines.
    """
    e = _t(spark, sf_dir, "events")
    # date_trunc returns TIMESTAMP (LTZ) even for NTZ input; cast back
    # to NTZ under the loader-pinned UTC session so collect() never
    # converts through the process timezone (the TZ-probe rule).
    h = e.groupBy(
        F.date_trunc("hour", F.col("ts")).cast("timestamp_ntz").alias("hour")
    ).agg(
        F.count("*").cast("long").alias("n_events"),
        F.sum(F.when(F.col("event_type") == "error", F.lit(1)).otherwise(F.lit(0)))
        .cast("long")
        .alias("n_errors"),
    )
    w = Window.orderBy("hour").rowsBetween(-24, -1)
    t = h.select(
        "hour",
        "n_events",
        "n_errors",
        F.coalesce(F.sum("n_events").over(w), F.lit(0)).cast("long").alias("base_events"),
        F.coalesce(F.sum("n_errors").over(w), F.lit(0)).cast("long").alias("base_errors"),
    )
    return t.select(
        "hour",
        "n_events",
        "n_errors",
        "base_events",
        "base_errors",
        F.when(
            (F.col("base_events") > 0)
            & (
                F.col("n_errors") * F.col("base_events")
                > 3 * F.col("base_errors") * F.col("n_events")
            ),
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("is_burst"),
    )
