"""Round-5 additions, batch 22: RFM customer segmentation, an
empirical customer-lifetime survival curve, event trigram sequence
mining, and MassiveText-style repeated-passage (chunk) deduplication.

The first two are the retail-analytics staples the reference's gold
layer feeds (segment marketing, churn): RFM assigns every customer a
(recency, frequency, monetary) quartile code; the survival curve is
the no-censoring Kaplan-Meier over order-history lifetimes. The third
extends the event-sequence family past the first-order Markov
transitions (``event_transitions``) to 3-step paths. The fourth is the
positional-chunk dedup pass from the MassiveText/Gopher curation
recipe: unlike ``doc_novelty`` (distinct-gram first occurrence at doc
grain), it splits each document into fixed non-overlapping token
passages and keeps only the globally FIRST occurrence of each passage
— the operator that removes repeated boilerplate even when it repeats
*inside* one document.

Determinism discipline as everywhere: money in integer cents, ranks
over total orderings (unique key as the final sort column), counts and
day-diffs as exact integers, floats only as one closed-form division
at the output boundary.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from grocery_store_sales_forecasting_etl_pipeline_spark.plans._tables import table as _t
from grocery_store_sales_forecasting_etl_pipeline_spark.plans.registry import register

# ---------------------------------------------------------------------------
# RFM segmentation
# ---------------------------------------------------------------------------

# ntile ties are resolved by the unique custkey tail of each ordering,
# so quartile assignment is a pure function of the data in both
# engines (the customer_spend_deciles determinism rule).
_RFM_ORACLE = """
WITH anchor AS (SELECT max(o_orderdate) AS mx FROM orders),
cust AS (
  SELECT c.c_custkey, c.c_mktsegment AS segment,
         CAST(date_diff('day', max(o.o_orderdate), anchor.mx) AS BIGINT)
           AS recency_days,
         CAST(count(*) AS BIGINT) AS frequency,
         CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS monetary_cents
  FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey, anchor
  GROUP BY c.c_custkey, c.c_mktsegment, anchor.mx
),
q AS (
  SELECT segment, monetary_cents,
         ntile(4) OVER (PARTITION BY segment
                        ORDER BY recency_days ASC, c_custkey) AS r_q,
         ntile(4) OVER (PARTITION BY segment
                        ORDER BY frequency DESC, c_custkey) AS f_q,
         ntile(4) OVER (PARTITION BY segment
                        ORDER BY monetary_cents DESC, c_custkey) AS m_q
  FROM cust
)
SELECT segment, CAST(r_q AS BIGINT) AS r_q, CAST(f_q AS BIGINT) AS f_q,
       CAST(m_q AS BIGINT) AS m_q,
       CAST(count(*) AS BIGINT) AS n_customers,
       CAST(sum(monetary_cents) AS BIGINT) AS monetary_cents
FROM q GROUP BY segment, r_q, f_q, m_q
"""


@register("rfm_segments", oracle=_RFM_ORACLE, tags=("window", "rank", "agg"))
def rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: every ordering customer gets per-market-segment
    quartiles of Recency (days since last order, vs the corpus-max
    order date), Frequency (order count) and Monetary (lifetime spend),
    rolled up to segment-code grain — the classic campaign-targeting
    cube (quartile 1 = most recent / most frequent / highest spend).

    Scale notes: ONE shuffle folds orders to customer grain (map-side
    partials absorb the fan-in); the max-date anchor is a 1-row
    broadcast. The three ntile windows share one per-segment sort
    (same partition key), so the customer-grain frame shuffles once
    more — |segments|-way parallel, with the same dominant-segment
    caveat and rank-structure fallback documented on
    customer_spend_deciles. Output is at most |segments| * 64 rows at
    any data scale.
    """
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    anchor = o.agg(F.max("o_orderdate").alias("mx"))
    cust = (
        o.select(
            "o_custkey",
            "o_orderdate",
            F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        )
        .join(
            c.select(
                F.col("c_custkey").alias("custkey"),
                F.col("c_mktsegment").alias("segment"),
            ),
            F.col("o_custkey") == F.col("custkey"),
        )
        .groupBy("segment", "custkey")
        .agg(
            F.max("o_orderdate").alias("last_order"),
            F.count("*").cast("long").alias("frequency"),
            F.sum("cents").cast("long").alias("monetary_cents"),
        )
        .crossJoin(anchor)
        .withColumn(
            "recency_days", F.datediff(F.col("mx"), F.col("last_order")).cast("long")
        )
    )
    quart = cust.select(
        "segment",
        "monetary_cents",
        F.ntile(4)
        .over(Window.partitionBy("segment").orderBy(F.asc("recency_days"), F.asc("custkey")))
        .cast("long")
        .alias("r_q"),
        F.ntile(4)
        .over(Window.partitionBy("segment").orderBy(F.desc("frequency"), F.asc("custkey")))
        .cast("long")
        .alias("f_q"),
        F.ntile(4)
        .over(
            Window.partitionBy("segment").orderBy(F.desc("monetary_cents"), F.asc("custkey"))
        )
        .cast("long")
        .alias("m_q"),
    )
    return quart.groupBy("segment", "r_q", "f_q", "m_q").agg(
        F.count("*").cast("long").alias("n_customers"),
        F.sum("monetary_cents").cast("long").alias("monetary_cents"),
    )


# ---------------------------------------------------------------------------
# Customer-lifetime survival curve
# ---------------------------------------------------------------------------

_SURVIVAL_ORACLE = """
WITH life AS (
  SELECT o_custkey,
         CAST(date_diff('day', min(o_orderdate), max(o_orderdate)) AS BIGINT) // 7
           AS lifetime_weeks
  FROM orders GROUP BY o_custkey
),
d AS (SELECT lifetime_weeks, CAST(count(*) AS BIGINT) AS n_customers
      FROM life GROUP BY lifetime_weeks),
s AS (
  SELECT lifetime_weeks, n_customers,
         CAST(sum(n_customers) OVER (ORDER BY lifetime_weeks DESC
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS n_surviving,
         CAST(sum(n_customers) OVER () AS BIGINT) AS total
  FROM d
)
SELECT lifetime_weeks, n_customers, n_surviving,
       round(n_surviving * 1.0 / total, 4) AS survival_pct
FROM s
"""


@register("customer_survival_curve", oracle=_SURVIVAL_ORACLE, tags=("window", "agg"))
def customer_survival_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical customer-lifetime survival curve (Kaplan-Meier with no
    censoring): lifetime = whole weeks between a customer's first and
    last order; for each observed lifetime t the curve reports how many
    customers reached exactly t and how many survived AT LEAST t — the
    churn-analysis primitive behind retention cohorts.

    Scale notes: orders fold to customer grain in one shuffle, then to
    lifetime grain in a second — after which the frame is bounded by
    the CALENDAR (one row per distinct week count, ≤ a few hundred at
    any data scale), so the two unpartitioned windows (reverse running
    sum, grand total) sort a provably tiny frame; the single-partition
    window that is a straggler on data-sized frames is safe here by
    construction.
    """
    o = _t(spark, sf_dir, "orders")
    life = (
        o.groupBy("o_custkey")
        .agg(
            F.min("o_orderdate").alias("mn"),
            F.max("o_orderdate").alias("mx"),
        )
        .select(
            F.expr("CAST(datediff(mx, mn) AS BIGINT) DIV 7").alias("lifetime_weeks")
        )
    )
    d = life.groupBy("lifetime_weeks").agg(
        F.count("*").cast("long").alias("n_customers")
    )
    w_rev = (
        Window.orderBy(F.desc("lifetime_weeks"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return d.select(
        "lifetime_weeks",
        "n_customers",
        F.sum("n_customers").over(w_rev).cast("long").alias("n_surviving"),
        F.round(
            F.sum("n_customers").over(w_rev)
            * 1.0
            / F.sum("n_customers").over(w_all),
            4,
        ).alias("survival_pct"),
    )


# ---------------------------------------------------------------------------
# Event trigram sequences
# ---------------------------------------------------------------------------

_TRIGRAM_ORACLE = """
WITH s AS (
  SELECT event_type AS e1,
         lead(event_type, 1) OVER w AS e2,
         lead(event_type, 2) OVER w AS e3
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
c AS (
  SELECT e1, e2, e3, CAST(count(*) AS BIGINT) AS n
  FROM s WHERE e2 IS NOT NULL AND e3 IS NOT NULL
  GROUP BY e1, e2, e3
)
SELECT e1, e2, e3, n,
       round(n * 1.0 / (SELECT sum(n) FROM c), 4) AS share
FROM c
"""


@register("event_trigram_sequences", oracle=_TRIGRAM_ORACLE, tags=("window", "events"))
def event_trigram_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-step behavioral sequences: for every user's time-ordered event
    stream, count each consecutive (e1 -> e2 -> e3) event-type trigram
    corpus-wide with its share of all trigrams — the second-order
    extension of the first-order Markov matrix in ``event_transitions``
    (funnels like view -> click -> purchase fall out directly).

    Scale notes: one shuffle partitions events by user for the lead
    window (ts, event_id is a total order — event_id breaks same-ts
    ties identically in any engine); the trigram rollup is bounded by
    |event_types|^3 rows at ANY data scale, so the final aggregate and
    its grand-total broadcast are constant-size. No self-joins — both
    leads come from the same single sort.
    """
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = e.select(
        F.col("event_type").alias("e1"),
        F.lead("event_type", 1).over(w).alias("e2"),
        F.lead("event_type", 2).over(w).alias("e3"),
    ).filter(F.col("e2").isNotNull() & F.col("e3").isNotNull())
    c = s.groupBy("e1", "e2", "e3").agg(F.count("*").cast("long").alias("n"))
    total = c.agg(F.sum("n").alias("t"))
    return c.crossJoin(total).select(
        "e1",
        "e2",
        "e3",
        "n",
        F.round(F.col("n") * 1.0 / F.col("t"), 4).alias("share"),
    )


# ---------------------------------------------------------------------------
# Repeated-passage (chunk) dedup stats
# ---------------------------------------------------------------------------

_CHUNK = 10  # tokens per non-overlapping passage

_PASSAGE_ORACLE = f"""
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS tk
  FROM documents WHERE text IS NOT NULL
),
c AS (
  SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_tok,
         list_transform(range(0, CAST(ceil(len(tk) / {_CHUNK}.0) AS BIGINT)),
             i -> array_to_string(tk[(i * {_CHUNK} + 1):(i * {_CHUNK} + {_CHUNK})], ' '))
           AS chunks
  FROM t
),
e AS (
  SELECT doc_id, n_tok,
         unnest(chunks) AS chunk,
         unnest(range(0, len(chunks))) AS pos
  FROM c
),
r AS (
  SELECT doc_id, n_tok,
         least({_CHUNK}, n_tok - pos * {_CHUNK}) AS chunk_toks,
         row_number() OVER (PARTITION BY chunk ORDER BY doc_id, pos) AS rn
  FROM e
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_chunks,
       CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(sum(CASE WHEN rn = 1 THEN chunk_toks ELSE 0 END) AS BIGINT)
         AS kept_tokens,
       round(sum(CASE WHEN rn = 1 THEN chunk_toks ELSE 0 END) * 1.0 / n_tok, 4)
         AS kept_frac
FROM r GROUP BY doc_id, n_tok
"""


@register("passage_dedup_stats", oracle=_PASSAGE_ORACLE, tags=("text", "dedup"))
def passage_dedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MassiveText-style repeated-passage dedup: each document is split
    into non-overlapping 10-token passages; a passage survives only at
    its globally FIRST occurrence (corpus order = (doc_id, position),
    so a passage repeated WITHIN one document also drops). Per
    document: passage count, surviving passages, surviving token mass,
    and the kept fraction — the curation signal that removes templated
    boilerplate symmetric-pair dedup never sees.

    Scale notes: the passage frame is ~n_tokens/10 rows (an order of
    magnitude smaller than shingle frames); first-occurrence is ONE
    window over the passage-hash partition (min over (doc_id, pos)) —
    the doc_novelty shape, no groupBy-min + join-back double scan —
    then one doc-keyed rollup. Passages are carried as 128-bit md5
    keys, never the raw text, so the shuffle width is constant per
    passage; explode_outer suppresses InferFiltersFromGenerate
    re-inlining the chunk builder into the scan filter (the
    benchmark_decontam lesson). Passages shuffle as 128-bit md5 keys
    (not 64-bit xxhash64): at the 100 TB target the corpus holds
    billions of chunks, where 64-bit birthday collisions are expected
    (~50% at 5e9 keys) and would silently merge distinct passages;
    md5's 2^128 space keeps the corpus-wide collision probability
    below ~1e-18 at that scale while the shuffle key stays constant
    width (32 hex chars).
    """
    d = _t(spark, sf_dir, "documents")
    t = d.filter(F.col("text").isNotNull()).select(
        "doc_id", F.split("text", " ").alias("tk")
    )
    c = t.select(
        "doc_id",
        F.size("tk").cast("long").alias("n_tok"),
        F.expr(
            f"transform(sequence(0, CAST(ceil(size(tk) / {_CHUNK}.0) AS INT) - 1), "
            f"i -> slice(tk, i * {_CHUNK} + 1, {_CHUNK}))"
        ).alias("chunks"),
    )
    e = (
        c.select("doc_id", "n_tok", F.posexplode_outer("chunks").alias("pos", "chunk"))
        .filter(F.col("chunk").isNotNull())
        .select(
            "doc_id",
            "n_tok",
            "pos",
            F.least(F.lit(_CHUNK), F.col("n_tok") - F.col("pos") * _CHUNK).alias(
                "chunk_toks"
            ),
            F.md5(F.concat_ws(" ", F.col("chunk"))).alias("chunk_key"),
        )
    )
    rn = F.row_number().over(
        Window.partitionBy("chunk_key").orderBy("doc_id", "pos")
    )
    r = e.select("doc_id", "n_tok", "chunk_toks", rn.alias("rn"))
    kept = F.sum(F.when(F.col("rn") == 1, F.lit(1)).otherwise(F.lit(0)))
    kept_toks = F.sum(F.when(F.col("rn") == 1, F.col("chunk_toks")).otherwise(F.lit(0)))
    return r.groupBy("doc_id", "n_tok").agg(
        F.count("*").cast("long").alias("n_chunks"),
        kept.cast("long").alias("n_kept"),
        kept_toks.cast("long").alias("kept_tokens"),
        F.round(kept_toks * 1.0 / F.col("n_tok"), 4).alias("kept_frac"),
    ).drop("n_tok")
