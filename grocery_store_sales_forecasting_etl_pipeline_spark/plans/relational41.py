"""Round-6 additions, batch 41: scale-native statistics for the
training-data pipeline — a Poisson bootstrap (the ONE bootstrap that
works in a single distributed scan: per-replicate Poisson(1) weights
instead of resampling), a Zipf-slope audit of the token frequency
distribution, a per-document unigram-LM surprisal score (the
perplexity-proxy quality filter), and per-source type/token
vocabulary statistics (vocab growth, hapax mass).

Determinism discipline: bootstrap weights come from an INTEGER
threshold ladder over the 24-bit md5 uniform (no float CDF compares —
the weighted_order_sample rule); replicate means are exact-integer
ratios and the 32-element moment fold is order-pinned through
``F.aggregate``/``list_reduce``; the two log-based scores are the
documented exception to the no-ln rule — each output is rounded at
4dp with error budgets ~1e-10 (ulp-level libm divergence times
bounded term counts), far inside the rounding quantum.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from grocery_store_sales_forecasting_etl_pipeline_spark.plans._tables import table as _t
from grocery_store_sales_forecasting_etl_pipeline_spark.plans.registry import register

# ---------------------------------------------------------------------------
# Poisson bootstrap CI for the mean order value
# ---------------------------------------------------------------------------

_B = 32  # bootstrap replicates
# Poisson(1) CDF as 24-bit thresholds rendered as 6-hex-char LOWERCASE
# string literals: weight k iff the 6-char md5 slice < t[k] (slice >=
# t[7] -> weight 8, total tail mass ~1e-5). Lowercase hex compares
# lexicographically in the same order as numerically (digits < a-f) and
# VARCHAR comparison is bit-exact in both engines — no hex->int conv on
# the hot path (conv() cost ~1.2s over 4.8M rows at sf0.1). One md5 per
# (order, hash-group) yields FOUR independent 24-bit slices (chars
# 1-6/7-12/13-18/19-24 of the 32-hex digest), so 8 md5s cover the 32
# replicates: b = 4*g + j. Literals generated once from math.exp(-1).
_POIS_T = ["5e2d59", "bc5ab2", "eb715e", "fb2398", "ff1026", "ffd90f", "fffa8b", "ffff54"]

_POIS_CASE_SQL = " ".join(
    f"WHEN u6 < '{t}' THEN {k}" for k, t in enumerate(_POIS_T)
)

_BOOTSTRAP_ORACLE = f"""
WITH h AS (
  SELECT CAST(round(o.o_totalprice * 100) AS BIGINT) AS cents,
         g.g,
         md5(CAST(o.o_orderkey AS VARCHAR) || '-'
             || CAST(g.g AS VARCHAR)) AS h
  FROM orders o CROSS JOIN (SELECT unnest(range(0, {_B} // 4)) AS g) g
),
w AS (
  SELECT cents, 4 * g + j.j AS b, substr(h, 1 + 6 * j.j, 6) AS u6
  FROM h CROSS JOIN (SELECT unnest(range(0, 4)) AS j) j
),
rep AS (
  SELECT b,
         CAST(sum(CAST((CASE {_POIS_CASE_SQL} ELSE 8 END) AS HUGEINT) * cents)
              AS HUGEINT) AS swx,
         CAST(sum(CASE {_POIS_CASE_SQL} ELSE 8 END) AS HUGEINT) AS sw
  FROM w GROUP BY b
),
m AS (
  SELECT list(CAST(swx AS DOUBLE) / CAST(sw AS DOUBLE) ORDER BY b) AS means
  FROM rep
),
base AS (
  SELECT CAST(count(*) AS BIGINT) AS n_orders,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS HUGEINT) AS tot
  FROM orders
),
s AS (
  SELECT n_orders,
         CAST(tot AS DOUBLE) / n_orders AS point_mean,
         list_reduce(list_prepend(0.0, means), (acc, x) -> acc + x) AS sm,
         list_reduce(list_prepend(0.0, means), (acc, x) -> acc + x * x) AS smm
  FROM base CROSS JOIN m
)
SELECT n_orders,
       CAST({_B} AS BIGINT) AS n_replicates,
       round(point_mean, 4) AS point_mean_cents,
       round(sqrt((smm - sm * sm / {_B}) / ({_B} - 1)), 4) AS boot_se_cents,
       round(point_mean - 1.96 * sqrt((smm - sm * sm / {_B}) / ({_B} - 1)), 4)
         AS ci_lo_cents,
       round(point_mean + 1.96 * sqrt((smm - sm * sm / {_B}) / ({_B} - 1)), 4)
         AS ci_hi_cents
FROM s
"""


@register("order_mean_bootstrap", oracle=_BOOTSTRAP_ORACLE, tags=("stats", "sampling"))
def order_mean_bootstrap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson bootstrap standard error and 95% CI for the mean order
    value: each of the 32 replicates weights every order by an
    independent Poisson(1) draw — the resample-free bootstrap that
    runs in ONE distributed scan (classic large-scale technique: at
    n >> B the multinomial bootstrap converges to independent
    Poisson(1) weights, so no sampling pass per replicate is needed).

    Determinism: the Poisson draw is a threshold ladder over 24-bit
    slices of md5(orderkey-group) compared as lowercase 6-hex-char
    strings (weights 0..8, tail mass ~1e-5 capped — identical CASE in
    both engines, no float CDF compare, no hex->int conversion);
    per-replicate sums are exact HUGEINT/decimal, replicate means
    exact-integer ratios, and the 32-element moment fold is
    order-pinned (sorted by replicate id) so even the double additions
    are bit-exact across engines.

    Scale notes: one md5 per (order, hash-group) feeds FOUR replicates
    (24-bit digest slices), so the hash work is x8 not x32 per order —
    and the four slices aggregate as WIDE conditional-sum columns over
    the x8 frame instead of exploding to x32 rows (a Generate of
    struct arrays is not whole-stage-codegen'd; measured 6.3s -> 2.7s
    at sf0.1). Accumulation is two-level for exactness without losing
    codegen: LONG partials per (scan partition, hash-group) — bounded
    by 8·max_cents·rows_per_partition, far inside 2^63 at any split
    size — then an exact DECIMAL(38,0) outer sum; the tiny 8-row wide
    frame reshapes to the 32 (b, swx, sw) replicates at the end. At
    100 TB this is the only bootstrap shape that is not IO-bound.
    """
    o = _t(spark, sf_dir, "orders")
    dec = "decimal(38,0)"
    w8 = (
        o.select(
            "o_orderkey",
            F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
            F.explode(F.sequence(F.lit(0), F.lit(_B // 4 - 1))).alias("g"),
        )
        .select(
            "cents",
            "g",
            F.md5(
                F.concat(
                    F.col("o_orderkey").cast("string"),
                    F.lit("-"),
                    F.col("g").cast("string"),
                )
            ).alias("h"),
        )
        .select(
            "cents",
            "g",
            *[
                F.col("h").substr(F.lit(6 * j + 1), F.lit(6)).alias(f"u{j}")
                for j in range(4)
            ],
        )
    )

    def _ladder(col):
        wgt = F.when(col < _POIS_T[0], 0)
        for k, t in enumerate(_POIS_T[1:], start=1):
            wgt = wgt.when(col < t, k)
        return wgt.otherwise(8)

    partial_aggs = []
    for j in range(4):
        wj = _ladder(F.col(f"u{j}")).cast("long")
        partial_aggs += [
            F.sum(wj * F.col("cents")).alias(f"swx{j}"),
            F.sum(wj).alias(f"sw{j}"),
        ]
    partials = w8.groupBy(
        F.spark_partition_id().alias("pid"), "g"
    ).agg(*partial_aggs)
    wide_cols = [f"{p}{j}" for j in range(4) for p in ("swx", "sw")]
    rep_wide = partials.groupBy("g").agg(
        *[F.sum(F.col(c).cast(dec)).alias(c) for c in wide_cols]
    )
    rep = rep_wide.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        (F.col("g") * 4 + F.lit(j)).alias("b"),
                        F.col(f"swx{j}").alias("swx"),
                        F.col(f"sw{j}").alias("sw"),
                    )
                    for j in range(4)
                ]
            )
        ).alias("r")
    ).select("r.b", "r.swx", "r.sw")
    m = rep.agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("b", "swx", "sw"))),
            lambda r: r["swx"].cast("double") / r["sw"].cast("double"),
        ).alias("means")
    )
    base = o.agg(
        F.count("*").cast("long").alias("n_orders"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .cast(dec)
        .alias("tot"),
    )
    s = base.crossJoin(m).select(
        "n_orders",
        (F.col("tot").cast("double") / F.col("n_orders")).alias("point_mean"),
        F.aggregate("means", F.lit(0.0), lambda acc, x: acc + x).alias("sm"),
        F.aggregate("means", F.lit(0.0), lambda acc, x: acc + x * x).alias("smm"),
    )
    se = F.sqrt(
        (F.col("smm") - F.col("sm") * F.col("sm") / _B) / F.lit(_B - 1)
    )
    return s.select(
        "n_orders",
        F.lit(_B).cast("long").alias("n_replicates"),
        F.round("point_mean", 4).alias("point_mean_cents"),
        F.round(se, 4).alias("boot_se_cents"),
        F.round(F.col("point_mean") - 1.96 * se, 4).alias("ci_lo_cents"),
        F.round(F.col("point_mean") + 1.96 * se, 4).alias("ci_hi_cents"),
    )


# ---------------------------------------------------------------------------
# Zipf slope of the token frequency distribution
# ---------------------------------------------------------------------------

_ZIPF_K = 500

_ZIPF_ORACLE = f"""
WITH tok AS (
  SELECT unnest(string_split(text, ' ')) AS token
  FROM documents WHERE text IS NOT NULL
),
cnt AS (
  SELECT token, CAST(count(*) AS BIGINT) AS n
  FROM tok GROUP BY token
),
rk AS (
  SELECT token, n,
         row_number() OVER (ORDER BY n DESC, token) AS r
  FROM cnt QUALIFY r <= {_ZIPF_K}
),
xy AS (
  SELECT ln(CAST(r AS DOUBLE)) AS x, ln(CAST(n AS DOUBLE)) AS y FROM rk
),
s AS (
  SELECT count(*) AS k, sum(x) AS sx, sum(y) AS sy,
         sum(x * x) AS sxx, sum(x * y) AS sxy
  FROM xy
)
SELECT CAST(k AS BIGINT) AS k_tokens,
       (SELECT max(n) FROM rk) AS top_count,
       round((k * sxy - sx * sy) / (k * sxx - sx * sx), 4) AS zipf_slope,
       round((sy - (k * sxy - sx * sy) / (k * sxx - sx * sx) * sx) / k, 4)
         AS zipf_intercept
FROM s
"""


@register("zipf_slope_audit", oracle=_ZIPF_ORACLE, tags=("text", "stats"))
def zipf_slope_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law audit of the corpus token distribution: OLS slope of
    log-frequency on log-rank over the top-500 tokens — natural
    language sits near slope -1; a corpus of templated or synthetic
    text drifts away. The fixed-law sibling of the Benford audit, for
    text.

    Log policy (documented exception to the no-ln rule): x and y are
    ln of EXACT integers (rank, count); libm ulp divergence across
    engines is ~1e-16 relative per term, the 500-term sufficient sums
    keep absolute error ~1e-10, and the slope rounds at 4dp — five
    orders of magnitude of headroom. The SUMS are float, but over only
    500 terms.

    Scale notes: one corpus scan explodes tokens to a vocab-grain
    count (map-side combinable, token-keyed shuffle); the top-k
    ranking runs on the vocab-bounded count frame (the topk_orders
    TakeOrderedAndProject shape at k=500); the regression is a fold
    over 500 rows.
    """
    d = _t(spark, sf_dir, "documents")
    cnt = (
        d.filter(F.col("text").isNotNull())
        .select(F.explode_outer(F.split("text", " ")).alias("token"))
        .filter(F.col("token").isNotNull())
        .groupBy("token")
        .agg(F.count("*").cast("long").alias("n"))
    )
    rk = (
        cnt.withColumn(
            "r", F.row_number().over(Window.orderBy(F.col("n").desc(), "token"))
        )
        .filter(F.col("r") <= _ZIPF_K)
    )
    xy = rk.select(
        F.log(F.col("r").cast("double")).alias("x"),
        F.log(F.col("n").cast("double")).alias("y"),
    )
    s = xy.agg(
        F.count("*").alias("k"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    top = rk.agg(F.max("n").alias("top_count"))
    slope = (F.col("k") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("k") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return s.crossJoin(top).select(
        F.col("k").cast("long").alias("k_tokens"),
        "top_count",
        F.round(slope, 4).alias("zipf_slope"),
        F.round((F.col("sy") - slope * F.col("sx")) / F.col("k"), 4).alias(
            "zipf_intercept"
        ),
    )


# ---------------------------------------------------------------------------
# Per-document unigram surprisal (perplexity-proxy quality score)
# ---------------------------------------------------------------------------

_SURPRISAL_ORACLE = """
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS token
  FROM documents WHERE text IS NOT NULL
),
cnt AS (
  SELECT token, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY token
),
tot AS (
  SELECT CAST(sum(c) AS BIGINT) AS n, CAST(count(*) AS BIGINT) AS v FROM cnt
),
sc AS (
  SELECT t.doc_id,
         count(*) AS n_tokens,
         sum(-log2((c.c + 1) / CAST(tot.n + tot.v AS DOUBLE))) AS s
  FROM tok t JOIN cnt c ON t.token = c.token CROSS JOIN tot
  GROUP BY t.doc_id
)
SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
       round(s / n_tokens, 4) AS mean_surprisal_bits
FROM sc
"""


@register("doc_unigram_surprisal", oracle=_SURPRISAL_ORACLE, tags=("text", "quality"))
def doc_unigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document mean token surprisal (bits) under the corpus's own
    add-1-smoothed unigram language model — the cheap perplexity proxy
    used as a quality filter in large-corpus curation (documents full
    of rare junk tokens score HIGH surprisal; boilerplate scores
    low; both tails get reviewed). Self-scored: the LM is the corpus
    itself, so no external model ships with the query.

    Log policy: -log2((c+1)/(N+V)) per token is the ln exception
    again — each term is a libm call on an exact integer ratio, the
    per-doc mean divides by an exact count, and the 4dp rounding
    absorbs the ~1e-11 cross-engine sum noise (term counts bounded by
    document length).

    Scale notes: two token-keyed shuffles — the vocab count
    (map-side combinable) and the score join (token-grain, both sides
    co-partitioned on token) — then one doc-keyed fold; the (N, V)
    scalars broadcast. The count frame is vocab-bounded; nothing
    concentrates on the driver. At 100 TB the score join is the
    standard inverted-postings shape.
    """
    d = _t(spark, sf_dir, "documents")
    tok = (
        d.filter(F.col("text").isNotNull())
        .select("doc_id", F.explode_outer(F.split("text", " ")).alias("token"))
        .filter(F.col("token").isNotNull())
    )
    cnt = tok.groupBy("token").agg(F.count("*").cast("long").alias("c"))
    tot = cnt.agg(
        F.sum("c").cast("long").alias("n"), F.count("*").cast("long").alias("v")
    )
    sc = (
        tok.join(cnt, "token")
        .crossJoin(tot)
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_tokens"),
            F.sum(
                -F.log2(
                    (F.col("c") + 1) / (F.col("n") + F.col("v")).cast("double")
                )
            ).alias("s"),
        )
    )
    return sc.select(
        "doc_id",
        "n_tokens",
        F.round(F.col("s") / F.col("n_tokens"), 4).alias("mean_surprisal_bits"),
    )


# ---------------------------------------------------------------------------
# Per-source type/token vocabulary statistics
# ---------------------------------------------------------------------------

_TTR_ORACLE = """
WITH tok AS (
  SELECT source, unnest(string_split(text, ' ')) AS token
  FROM documents WHERE text IS NOT NULL
),
st AS (
  SELECT source, token, CAST(count(*) AS BIGINT) AS c
  FROM tok GROUP BY 1, 2
),
agg AS (
  SELECT source,
         CAST(sum(c) AS BIGINT) AS n_tokens,
         CAST(count(*) AS BIGINT) AS vocab_size,
         CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax_count
  FROM st GROUP BY source
),
docs AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs
  FROM documents WHERE text IS NOT NULL GROUP BY source
)
SELECT a.source, d.n_docs, a.n_tokens, a.vocab_size, a.hapax_count,
       round(a.vocab_size * 1.0 / a.n_tokens, 6) AS ttr,
       round(a.hapax_count * 1.0 / a.vocab_size, 6) AS hapax_share
FROM agg a JOIN docs d ON a.source = d.source
"""


@register("source_type_token_stats", oracle=_TTR_ORACLE, tags=("text", "quality", "agg"))
def source_type_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source type/token statistics: token mass, vocabulary size,
    hapax legomena count, type-token ratio, and hapax share — the
    vocabulary-health readout that separates rich natural text (high
    hapax share) from templated or deduplicated-to-death sources
    (tiny vocab, low hapax mass). Companion to vocab_coverage_curve
    (which sweeps rank depth) at the per-source comparison grain.

    Determinism: everything is exact integer counts until the two
    output ratios, each rounded once.

    Scale notes: one corpus scan to (source, token) grain (map-side
    combinable token-keyed shuffle), one source-grain rollup (a
    handful of rows), one broadcast join for the doc counts. The
    (source, token) frame is vocab-x-sources bounded.
    """
    d = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    tok = d.select("source", F.explode_outer(F.split("text", " ")).alias("token")).filter(
        F.col("token").isNotNull()
    )
    st = tok.groupBy("source", "token").agg(F.count("*").cast("long").alias("c"))
    agg = st.groupBy("source").agg(
        F.sum("c").cast("long").alias("n_tokens"),
        F.count("*").cast("long").alias("vocab_size"),
        F.sum(F.when(F.col("c") == 1, 1).otherwise(0)).cast("long").alias("hapax_count"),
    )
    docs = d.groupBy("source").agg(F.count("*").cast("long").alias("n_docs"))
    return (
        agg.join(docs, "source")
        .select(
            "source",
            "n_docs",
            "n_tokens",
            "vocab_size",
            "hapax_count",
            F.round(F.col("vocab_size") * 1.0 / F.col("n_tokens"), 6).alias("ttr"),
            F.round(F.col("hapax_count") * 1.0 / F.col("vocab_size"), 6).alias(
                "hapax_share"
            ),
        )
    )
