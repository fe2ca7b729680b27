"""Relational operator queries, batch 4: JSON extraction, array
aggregation, math scalar block, document chunking (LLM-pipeline op), and
regex-based token estimation — completing SURVEY.md §2.8's 'engine
exposes Spark's full built-in surface' commitment."""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from grocery_store_sales_forecasting_etl_pipeline_spark.plans._tables import table as _t
from grocery_store_sales_forecasting_etl_pipeline_spark.plans.registry import register

# ---------------------------------------------------------------------------
# JSON extraction + aggregation
# ---------------------------------------------------------------------------

_JSON_ORACLE = """
SELECT
  event_type,
  count(*)                                              AS n_events,
  CAST(sum(CAST(props->>'k' AS BIGINT)) AS BIGINT)      AS sum_k,
  round(sum(CAST(props->>'k' AS BIGINT)) * 1.0 / count(*), 4) AS avg_k,
  CAST(max(CAST(props->>'k' AS BIGINT)) AS BIGINT)      AS max_k
FROM events
GROUP BY event_type
"""


@register("json_extract_agg", oracle=_JSON_ORACLE, tags=("functions", "json"))
def json_extract_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON path extraction from a string payload column + aggregation
    (``get_json_object``) — semi-structured columns are first-class.

    Scale notes: extraction is a JVM scalar inside codegen; for hot
    multi-field access prefer one ``from_json`` with an explicit schema
    over repeated path extraction (one parse vs N).
    """
    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return ev.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.sum(k).alias("sum_k"),
        F.round(F.sum(k) / F.count("*"), 4).alias("avg_k"),
        F.max(k).alias("max_k"),
    )


# ---------------------------------------------------------------------------
# Array aggregation (collect_list/set with deterministic ordering)
# ---------------------------------------------------------------------------

_ARRAY_AGG_ORACLE = """
SELECT
  user_id,
  array_to_string(array_agg(event_id ORDER BY event_id), ',')          AS event_ids,
  CAST(len(array_agg(event_id)) AS BIGINT)                             AS n_events,
  array_to_string(array_agg(DISTINCT event_type ORDER BY event_type), ',') AS types
FROM events
WHERE user_id < 1020
GROUP BY user_id
"""


@register("array_agg_ops", oracle=_ARRAY_AGG_ORACLE, tags=("agg", "array"))
def array_agg_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array-building aggregates: per-user sorted event-id list and
    distinct type set. ``collect_list`` order is execution-dependent —
    ``sort_array`` makes the result deterministic (same rule as the
    oracle's ORDER BY inside array_agg). The arrays are serialized to
    comma-joined strings at the output boundary so the driver's
    canonicalizer (pandas sort + hash) can order the rows — list-typed
    cells are unhashable there. ``array_agg_arrays`` in
    tests/test_oracle_parity.py covers the array-typed output itself.
    """
    ev = _t(spark, sf_dir, "events").filter(F.col("user_id") < 1020)
    ids_sorted = F.sort_array(F.collect_list("event_id"))
    return ev.groupBy("user_id").agg(
        F.array_join(F.transform(ids_sorted, lambda x: x.cast("string")), ",").alias(
            "event_ids"
        ),
        F.count("*").alias("n_events"),
        F.array_join(F.sort_array(F.collect_set("event_type")), ",").alias("types"),
    )


# Functions applied to AGGREGATED arrays (distinct surface from
# array_agg_ops, which only builds+serializes): element_at / slice /
# reverse / array_distinct / array_contains / higher-order fold, all on
# the collect_list result, with every array serialized or reduced to a
# scalar at the output boundary. r3 evidence: list-typed cells crash the
# driver canonicalizer even in rows-only mode ("unhashable type: 'list'"),
# so the registered form must never emit an array column — the
# array-typed variant lives in tests/test_oracle_parity.py only.
_ARRAY_AGG_ARRAYS_ORACLE = """
WITH a AS (
  SELECT l_suppkey,
         array_agg(CAST(l_quantity AS BIGINT)
                   ORDER BY CAST(l_quantity AS BIGINT)) AS qtys
  FROM lineitem
  GROUP BY l_suppkey
)
SELECT
  l_suppkey,
  CAST(len(qtys) AS BIGINT)                                AS n_qty,
  CAST(len(list_distinct(qtys)) AS BIGINT)                 AS n_distinct_qty,
  qtys[1]                                                  AS qty_min,
  qtys[-1]                                                 AS qty_max,
  array_to_string(list_slice(list_reverse(qtys), 1, 3), ',') AS top3_qty,
  list_contains(qtys, 50)                                  AS has_qty50,
  CAST(list_sum(qtys) AS BIGINT)                           AS sum_qty
FROM a
"""


@register("array_agg_arrays", oracle=_ARRAY_AGG_ARRAYS_ORACLE, tags=("agg", "array"))
def array_agg_arrays(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array functions over an aggregated array: per-supplier sorted
    quantity vector, then element_at (min/max), slice-of-reverse (top-3),
    array_distinct cardinality, membership, and a higher-order
    ``F.aggregate`` fold — all JVM-side on the collect_list result, with
    arrays serialized/reduced before the driver boundary (its
    canonicalizer cannot hash list cells)."""
    li = _t(spark, sf_dir, "lineitem")
    qty = F.col("l_quantity").cast("long")
    agg = li.groupBy("l_suppkey").agg(
        F.sort_array(F.collect_list(qty)).alias("qtys")
    )
    qtys = F.col("qtys")
    return agg.select(
        "l_suppkey",
        F.size(qtys).cast("long").alias("n_qty"),
        F.size(F.array_distinct(qtys)).cast("long").alias("n_distinct_qty"),
        F.element_at(qtys, 1).alias("qty_min"),
        F.element_at(qtys, -1).alias("qty_max"),
        F.array_join(
            F.transform(F.slice(F.reverse(qtys), 1, 3), lambda x: x.cast("string")),
            ",",
        ).alias("top3_qty"),
        F.array_contains(qtys, F.lit(50).cast("long")).alias("has_qty50"),
        F.aggregate(qtys, F.lit(0).cast("long"), lambda acc, x: acc + x).alias(
            "sum_qty"
        ),
    )


# Array-typed variant — pytest-only (NOT registered): the external
# harness's canonicalizer cannot hash list cells even in rows-only mode
# (CORRECTNESS_r03 "unhashable type: 'list'"), so array-typed outputs
# never cross the driver boundary. tests/test_oracle_parity.py compares
# this against its oracle with the local harness, which serializes lists.


# ---------------------------------------------------------------------------
# Math scalar block
# ---------------------------------------------------------------------------

_MATH_ORACLE = """
SELECT
  p_partkey,
  round(abs(p_retailprice - 1000.0), 2)     AS abs_diff,
  CAST(ceil(p_retailprice) AS BIGINT)       AS ceil_price,
  CAST(floor(p_retailprice) AS BIGINT)      AS floor_price,
  round(sqrt(p_retailprice), 6)             AS sqrt_price,
  round(ln(p_retailprice), 6)               AS ln_price,
  round(pow(p_retailprice / 1000.0, 3), 6)  AS pow_price,
  CAST(p_size % 7 AS BIGINT)                AS size_mod7,
  CAST(sign(p_retailprice - 1000.0) AS BIGINT) AS price_sign
FROM part
WHERE p_retailprice > 0
"""


@register("math_funcs", oracle=_MATH_ORACLE, tags=("functions", "math"))
def math_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Math scalar block: abs/ceil/floor/sqrt/ln/pow/mod/sign (IEEE
    doubles agree with DuckDB's libm at 6dp on this domain)."""
    p = _t(spark, sf_dir, "part")
    price = F.col("p_retailprice")
    return p.filter(price > 0).select(
        "p_partkey",
        F.round(F.abs(price - 1000.0), 2).alias("abs_diff"),
        F.ceil(price).cast("long").alias("ceil_price"),
        F.floor(price).cast("long").alias("floor_price"),
        F.round(F.sqrt(price), 6).alias("sqrt_price"),
        F.round(F.log(price), 6).alias("ln_price"),
        F.round(F.pow(price / 1000.0, 3), 6).alias("pow_price"),
        (F.col("p_size") % 7).cast("long").alias("size_mod7"),
        F.signum(price - 1000.0).cast("long").alias("price_sign"),
    )


# ---------------------------------------------------------------------------
# Document chunking (LLM training-data op: fixed-size overlapping chunks)
# ---------------------------------------------------------------------------

_CHUNK_SIZE = 50
_CHUNK_STRIDE = 40

_CHUNK_ORACLE = f"""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
idx AS (
  SELECT doc_id, tk, unnest(range(0, greatest(1, CAST(ceil((len(tk) - {_CHUNK_SIZE}) * 1.0 / {_CHUNK_STRIDE}) AS BIGINT) + 1))) AS chunk_idx
  FROM t
)
SELECT
  doc_id,
  CAST(chunk_idx AS BIGINT) AS chunk_idx,
  array_to_string(list_slice(tk, chunk_idx * {_CHUNK_STRIDE} + 1,
                             chunk_idx * {_CHUNK_STRIDE} + {_CHUNK_SIZE}), ' ') AS chunk_text,
  CAST(len(list_slice(tk, chunk_idx * {_CHUNK_STRIDE} + 1,
                      chunk_idx * {_CHUNK_STRIDE} + {_CHUNK_SIZE})) AS BIGINT) AS n_tokens
FROM idx
WHERE chunk_idx * {_CHUNK_STRIDE} + 1 <= len(tk)
"""


@register("doc_chunking", oracle=_CHUNK_ORACLE, tags=("text",))
def doc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size overlapping token chunks (size 50, stride 40) — the
    standard LLM training-data windowing op, entirely JVM-side
    (sequence + slice + posexplode; no Python).

    Scale notes: map-only with bounded row expansion (≤ n_tokens/stride
    chunks per doc); chunk arrays never leave the JVM.
    """
    d = _t(spark, sf_dir, "documents")
    tk = F.split(F.col("text"), " ")
    n = F.size(tk)
    n_chunks = F.greatest(
        F.lit(1),
        F.ceil((n - F.lit(_CHUNK_SIZE)) / F.lit(_CHUNK_STRIDE)).cast("long") + 1,
    )
    chunked = d.select(
        "doc_id",
        tk.alias("tk"),
        F.posexplode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_idx", "_i"),
    ).filter(F.col("chunk_idx") * _CHUNK_STRIDE + 1 <= F.size("tk"))
    chunk = F.slice(F.col("tk"), F.col("chunk_idx") * _CHUNK_STRIDE + 1, _CHUNK_SIZE)
    return chunked.select(
        "doc_id",
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        F.array_join(chunk, " ").alias("chunk_text"),
        F.size(chunk).cast("long").alias("n_tokens"),
    )


# ---------------------------------------------------------------------------
# Regex (BPE-ish) token estimation
# ---------------------------------------------------------------------------

_BPE_PATTERN = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"

_BPE_ORACLE = f"""
SELECT
  doc_id,
  CAST(len(string_split(text, ' ')) AS BIGINT)                    AS ws_tokens,
  CAST(len(regexp_extract_all(text, '{_BPE_PATTERN}')) AS BIGINT) AS re_tokens,
  CAST(ceil(length(text) / 4.0) AS BIGINT)                        AS byte_est_tokens
FROM documents
"""


@register("token_estimates", oracle=_BPE_ORACLE, tags=("text",))
def token_estimates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three token-count estimators per document: whitespace split,
    BPE-ish regex segmentation (letters/digits/punct runs), and the
    chars/4 rule of thumb — the standard triad for corpus sizing."""
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(F.split("text", " ")).cast("long").alias("ws_tokens"),
        F.regexp_count("text", F.lit(_BPE_PATTERN)).cast("long").alias("re_tokens"),
        F.ceil(F.length("text") / 4.0).cast("long").alias("byte_est_tokens"),
    )


# ---------------------------------------------------------------------------
# Map scalar functions (build → inspect → transform → serialize)
# ---------------------------------------------------------------------------

_MAP_FUNCS_ORACLE = """
WITH c AS (
  SELECT user_id, event_type, count(*) AS cnt
  FROM events WHERE user_id < 1020 GROUP BY 1, 2
)
SELECT user_id,
  CAST(count(*) AS BIGINT)                                   AS n_types,
  string_agg(event_type, ',' ORDER BY event_type)            AS types_str,
  string_agg(event_type || ':' || cnt, ',' ORDER BY event_type) AS counts_str,
  CAST(max(cnt) AS BIGINT)                                   AS max_type_count,
  CAST(sum(CASE WHEN cnt > 1 THEN 1 ELSE 0 END) AS BIGINT)   AS n_frequent,
  CAST(coalesce(sum(CASE WHEN event_type = 'click' THEN cnt END), 0) AS BIGINT)
                                                             AS click_count,
  CAST(2 * sum(cnt) AS BIGINT)                               AS double_total
FROM c GROUP BY user_id
"""


@register("map_funcs", oracle=_MAP_FUNCS_ORACLE, tags=("functions", "map"))
def map_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-typed scalar surface: build a per-user event_type→count map
    (``map_from_entries`` over a SORTED entry array — map iteration
    order is insertion order, so sorting first makes every derived
    output deterministic), then inspect and transform it with
    ``map_keys`` / ``map_values`` / ``map_entries`` / ``element_at`` /
    ``map_filter`` / ``transform_values``, serializing each result to a
    scalar or string before the driver boundary (the canonicalizer can
    hash neither maps nor arrays). The oracle computes the same values
    relationally — maps are a Spark-side representation choice, not a
    semantic one.
    """
    ev = _t(spark, sf_dir, "events").filter(F.col("user_id") < 1020)
    cnt = ev.groupBy("user_id", "event_type").agg(
        F.count("*").cast("long").alias("cnt")
    )
    agg = cnt.groupBy("user_id").agg(
        F.map_from_entries(
            F.array_sort(F.collect_list(F.struct("event_type", "cnt")))
        ).alias("m")
    )
    m = F.col("m")
    return agg.select(
        "user_id",
        F.size(m).cast("long").alias("n_types"),
        F.array_join(F.map_keys(m), ",").alias("types_str"),
        F.array_join(
            F.transform(
                F.map_entries(m),
                lambda e: F.concat_ws(":", e["key"], e["value"].cast("string")),
            ),
            ",",
        ).alias("counts_str"),
        F.array_max(F.map_values(m)).alias("max_type_count"),
        F.size(F.map_filter(m, lambda k, v: v > 1)).cast("long").alias("n_frequent"),
        F.coalesce(F.element_at(m, F.lit("click")), F.lit(0).cast("long")).alias(
            "click_count"
        ),
        F.aggregate(
            F.map_values(F.transform_values(m, lambda k, v: v * 2)),
            F.lit(0).cast("long"),
            lambda a, x: a + x,
        ).alias("double_total"),
    )


# ---------------------------------------------------------------------------
# Bitwise scalar functions (§2.8 surface: and/or/xor/shifts/bit_count)
# ---------------------------------------------------------------------------

_BITWISE_ORACLE = """
SELECT o_orderkey,
       CAST(o_orderkey & 255 AS BIGINT)               AS and_mask,
       CAST(o_orderkey | 4096 AS BIGINT)              AS or_flag,
       CAST(xor(o_orderkey, o_custkey) AS BIGINT)     AS xor_keys,
       CAST(o_orderkey << 3 AS BIGINT)                AS shl3,
       CAST(o_orderkey >> 2 AS BIGINT)                AS shr2,
       CAST(bit_count(o_orderkey) AS BIGINT)          AS popcount,
       CAST(~o_orderkey AS BIGINT)                    AS bnot
FROM orders WHERE o_orderkey % 37 = 0
"""


@register("bitwise_funcs", oracle=_BITWISE_ORACLE, tags=("scalar",))
def bitwise_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise scalar surface (and/or/xor/shifts/popcount/complement)
    over integer keys — the §2.8 family member used by the engine's own
    fingerprint code (SimHash bands use bit_count(xor) at
    operators/dedup.py) exposed as a contract query in its own right.

    Scale notes: map-only codegen'd integer ops fused with the pruned,
    filter-pushed scan; zero shuffles.
    """
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 37 == 0)
    k = F.col("o_orderkey")
    return o.select(
        "o_orderkey",
        k.bitwiseAND(F.lit(255)).cast("long").alias("and_mask"),
        k.bitwiseOR(F.lit(4096)).cast("long").alias("or_flag"),
        k.bitwiseXOR(F.col("o_custkey")).cast("long").alias("xor_keys"),
        F.shiftleft(k, 3).cast("long").alias("shl3"),
        F.shiftright(k, 2).cast("long").alias("shr2"),
        F.bit_count(k).cast("long").alias("popcount"),
        F.bitwise_not(k).cast("long").alias("bnot"),
    )


# ---------------------------------------------------------------------------
# Regexp scalar functions (extract / extract_all / count / replace)
# ---------------------------------------------------------------------------

_REGEXP_ORACLE = r"""
SELECT o_orderkey,
       o_orderpriority,
       regexp_extract(o_orderpriority, '(\d+)', 1)              AS prio_num,
       regexp_replace(o_orderpriority, '[AEIOU]', '_', 'g')     AS devoweled,
       CAST(len(regexp_extract_all(o_orderpriority, '[A-Z]')) AS BIGINT)
                                                                AS n_upper,
       CASE WHEN regexp_matches(o_orderpriority, '^\d-')
            THEN 1 ELSE 0 END                                   AS has_rank_prefix
FROM orders WHERE o_orderkey % 53 = 0
"""


@register("regexp_funcs", oracle=_REGEXP_ORACLE, tags=("scalar",))
def regexp_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regexp scalar surface (extract group, global replace, per-char
    match count, anchor match) over the priority label — §2.8
    coverage for the pattern family PII redaction and text gates build
    on. Patterns are deliberately engine-portable (digit classes and
    literal anchors — identical under Java regex and RE2).

    Scale notes: map-only codegen'd regex ops on the pruned scan; zero
    shuffles. Count-of-matches is expressed as length of extract_all
    rather than regexp_count to pin identical empty-match semantics in
    both engines.
    """
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 53 == 0)
    c = F.col("o_orderpriority")
    return o.select(
        "o_orderkey",
        "o_orderpriority",
        F.regexp_extract(c, r"(\d+)", 1).alias("prio_num"),
        F.regexp_replace(c, "[AEIOU]", "_").alias("devoweled"),
        F.size(F.regexp_extract_all(c, F.lit("[A-Z]"), F.lit(0)))
        .cast("long")
        .alias("n_upper"),
        F.when(c.rlike(r"^\d-"), 1).otherwise(0).alias("has_rank_prefix"),
    )
