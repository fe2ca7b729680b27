"""Text-analysis / dedup queries over the ``documents`` table —
training-data-pipeline operators (language ID, quality scoring, token
stats, fingerprinting, exact dedup, n-gram Jaccard, MinHash-LSH,
SimHash). All md5-keyed so the DuckDB oracles compute identical values.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from grocery_store_sales_forecasting_etl_pipeline_spark.functions import text as T
from grocery_store_sales_forecasting_etl_pipeline_spark.operators import dedup as dd
from grocery_store_sales_forecasting_etl_pipeline_spark.plans._tables import table as _t
from grocery_store_sales_forecasting_etl_pipeline_spark.plans.registry import register
from grocery_store_sales_forecasting_etl_pipeline_spark.operators.sizing import (
    gated_broadcast as _gbcast,
)

# ---------------------------------------------------------------------------
# Token / length statistics + fingerprint
# ---------------------------------------------------------------------------

_DOC_STATS_ORACLE = """
WITH t AS (SELECT *, string_split(text, ' ') AS tk FROM documents)
SELECT
  doc_id,
  lang,
  CAST(length(text) AS BIGINT)                       AS char_len,
  CAST(len(tk) AS BIGINT)                            AS n_tokens,
  CAST(len(list_distinct(tk)) AS BIGINT)             AS n_distinct_tokens,
  round(length(text) * 1.0 / len(tk), 4)             AS mean_token_len,
  round(len(list_distinct(tk)) * 1.0 / len(tk), 4)   AS diversity,
  md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fingerprint
FROM t
"""


@register("doc_stats", oracle=_DOC_STATS_ORACLE, tags=("text",))
def doc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token counting + length stats + md5 fingerprint
    (training-data text analysis; SURVEY §7 step 6).

    Scale notes: pure JVM string/array expressions fused with the scan —
    no shuffle at all; this is a map-only pass over 100 TB.
    """
    d = _t(spark, sf_dir, "documents")
    tk = T.tokens("text")
    return d.select(
        "doc_id",
        "lang",
        F.length("text").cast("long").alias("char_len"),
        T.token_count("text").alias("n_tokens"),
        T.distinct_token_count("text").alias("n_distinct_tokens"),
        F.round(F.length("text") / T.token_count("text"), 4).alias("mean_token_len"),
        F.round(T.distinct_token_count("text") / T.token_count("text"), 4).alias("diversity"),
        T.fingerprint("text").alias("fingerprint"),
    )


# ---------------------------------------------------------------------------
# Repetition metrics (duplicate n-gram fractions, Gopher-style)
# ---------------------------------------------------------------------------

_REPETITION_ORACLE = """
WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
g AS (
  SELECT doc_id, len(tk) AS n_tokens,
    list_transform(range(1, len(tk)),
                   i -> tk[i] || ' ' || tk[i + 1]) AS bg,
    list_transform(range(1, len(tk) - 1),
                   i -> tk[i] || ' ' || tk[i + 1] || ' ' || tk[i + 2]) AS tg
  FROM t
)
SELECT
  doc_id,
  CAST(n_tokens AS BIGINT) AS n_tokens,
  CAST(len(bg) AS BIGINT)  AS n_bigrams,
  CASE WHEN len(bg) > 0
       THEN round((len(bg) - len(list_distinct(bg))) * 1.0 / len(bg), 4)
       ELSE 0.0 END AS dup_bigram_frac,
  CASE WHEN len(tg) > 0
       THEN round((len(tg) - len(list_distinct(tg))) * 1.0 / len(tg), 4)
       ELSE 0.0 END AS dup_trigram_frac
FROM g
"""


@register("doc_repetition", oracle=_REPETITION_ORACLE, tags=("text",))
def doc_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate n-gram fractions per document — the published
    repetition-quality signal (Gopher-style "fraction of duplicate
    2-grams/3-grams"): heavily templated or looping documents score
    high and are filtered before training (generalizes the reference's
    quality-gate intent, test_data_quality.py.py:13-94, to corpus text).

    Uses the NON-distinct ``functions/text.py:ngrams_from_tokens`` multiset (unlike
    ``shingles``) because repetition needs every occurrence counted.

    Scale notes: all array-side JVM expressions (size/array_distinct over
    transform) — map-only over 100 TB, no shuffle, no explode; per-row
    cost bounded by document length. Tokens and each gram array are
    materialized in staged projections so they compute once per row —
    inlining them re-evaluates the split/transform at every reference
    (see functions/text.shingles_from_tokens).
    """
    d = _t(spark, sf_dir, "documents")
    tokenized = d.select("doc_id", T.tokens("text").alias("__tk"))
    grams = tokenized.select(
        "doc_id",
        F.size("__tk").cast("long").alias("n_tokens"),
        T.ngrams_from_tokens(F.col("__tk"), 2).alias("__bg"),
        T.ngrams_from_tokens(F.col("__tk"), 3).alias("__tg"),
    )

    def _dup_frac(name):  # (size - distinct size) / size, 0.0 for empty
        arr = F.col(name)
        return (
            F.when(
                F.size(arr) > 0,
                F.round(
                    (F.size(arr) - F.size(F.array_distinct(arr))) / F.size(arr), 4
                ),
            )
            .otherwise(F.lit(0.0))
        )

    return grams.select(
        "doc_id",
        "n_tokens",
        F.size("__bg").cast("long").alias("n_bigrams"),
        _dup_frac("__bg").alias("dup_bigram_frac"),
        _dup_frac("__tg").alias("dup_trigram_frac"),
    )


# ---------------------------------------------------------------------------
# Quality score + language ID (heuristic, deterministic)
# ---------------------------------------------------------------------------


def _langid_sql() -> str:
    score_cols = []
    for lang, words in T.LANG_MARKERS.items():
        hits = " + ".join(
            f"(CASE WHEN list_contains(dt, '{w}') THEN 1 ELSE 0 END)" for w in words
        )
        score_cols.append(f"({hits}) AS s_{lang}")
    when_chain = " ".join(
        f"WHEN s_{lang} = best THEN '{lang}'" for lang in T.LANG_MARKERS
    )
    stop_hits = " + ".join(
        f"(CASE WHEN list_contains(dt, '{w}') THEN 1 ELSE 0 END)" for w in T.STOPWORDS
    )
    greatest = ", ".join(f"s_{lang}" for lang in T.LANG_MARKERS)
    return f"""
WITH t AS (
  SELECT doc_id, lang, text,
         string_split(text, ' ') AS tk,
         list_distinct(string_split(text, ' ')) AS dt
  FROM documents
),
scored AS (
  SELECT doc_id, lang, text, tk, dt,
         {", ".join(score_cols)},
         CAST(({stop_hits}) AS BIGINT) AS stopword_hits
  FROM t
),
best AS (
  SELECT *, greatest({greatest}) AS best FROM scored
)
SELECT
  doc_id,
  lang AS labeled_lang,
  CASE WHEN best = 0 THEN 'und' {when_chain} ELSE 'und' END AS detected_lang,
  stopword_hits,
  round(
    (CASE WHEN len(tk) BETWEEN 20 AND 1000 THEN 1.0 ELSE 0.0 END) * 0.3
    + (CASE WHEN round(length(text) * 1.0 / len(tk), 4) BETWEEN 3.0 AND 12.0
       THEN 1.0 ELSE 0.0 END) * 0.2
    + (CASE WHEN stopword_hits >= 2 THEN 1.0 ELSE 0.0 END) * 0.2
    + least(round(len(list_distinct(tk)) * 1.0 / len(tk), 4) * 2.0, 1.0) * 0.3,
  4) AS quality_score
FROM best
"""


@register("doc_quality_langid", oracle=_langid_sql(), tags=("text",))
def doc_quality_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language ID (marker-word presence argmax) + composite
    quality score (length band, word-length band, stopword presence,
    vocabulary diversity) per document.

    Scale notes: map-only JVM expressions; the marker lists compile to
    array_contains chains inside codegen — no UDF, no shuffle.
    """
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        T.langid("text").alias("detected_lang"),
        T.stopword_hits("text").alias("stopword_hits"),
        T.quality_score("text").alias("quality_score"),
    )


# ---------------------------------------------------------------------------
# Exact-content dedup groups
# ---------------------------------------------------------------------------

_EXACT_DEDUP_ORACLE = """
SELECT
  md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fingerprint,
  min(doc_id)  AS keep_id,
  count(*)     AS n_dups
FROM documents
GROUP BY 1
"""


@register("doc_exact_dedup", oracle=_EXACT_DEDUP_ORACLE, tags=("text", "dedup"))
def doc_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-content dedup groups: md5(normalized text) → (keep_id =
    min doc_id, group size).

    Scale notes: one shuffle keyed by fingerprint; map-side partial
    aggregation collapses local duplicates before the exchange.
    """
    return dd.exact_text_groups(_t(spark, sf_dir, "documents"), "text", "doc_id")


# ---------------------------------------------------------------------------
# n-gram Jaccard near-dup pairs (blocked by source)
# ---------------------------------------------------------------------------

_JACCARD_MAX_DF = 25

_JACCARD_ORACLE = f"""
WITH t AS (SELECT doc_id, source, string_split(text, ' ') AS tk FROM documents),
sh0 AS (
  SELECT doc_id, source,
         unnest(list_distinct(list_transform(range(1, len(tk)),
                i -> tk[i] || ' ' || tk[i + 1]))) AS shingle
  FROM t
),
sh AS (
  SELECT doc_id, source, shingle FROM (
    SELECT sh0.*, count(*) OVER (PARTITION BY source, shingle) AS df FROM sh0
  ) WHERE df <= {_JACCARD_MAX_DF}
),
sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_1, b.doc_id AS id_2, count(*) AS inter
  FROM sh a JOIN sh b
    ON a.shingle = b.shingle AND a.source = b.source AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_1, id_2,
       round(inter * 1.0 / (s1.sz + s2.sz - inter), 4) AS jaccard
FROM inter
JOIN sizes s1 ON id_1 = s1.doc_id
JOIN sizes s2 ON id_2 = s2.doc_id
WHERE round(inter * 1.0 / (s1.sz + s2.sz - inter), 4) >= 0.08
"""


@register("doc_ngram_jaccard", oracle=_JACCARD_ORACLE, tags=("text", "dedup"))
def doc_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate pairs by word-bigram Jaccard ≥ 0.08, candidate
    pairs blocked to equal ``source``, hot shingles (document frequency
    > 25 within a block) dropped before the self-join
    (operators/dedup.py:jaccard_pairs).

    Scale notes: the blocking column bounds the join fan-out across
    sources; the df cap bounds it WITHIN a block — the self-join pays
    Σ df² per shingle, so one boilerplate shingle in 10⁶ docs of a block
    is 10¹² join rows without the cap and ≤ 625 with it. High-similarity
    pairs share many rare shingles, so the cap barely perturbs recall at
    threshold (pinned by tests/test_dedup.py). At sf0.01 no shingle
    exceeds df 8, so the capped result is identical to the uncapped one.
    """
    return dd.jaccard_pairs(
        _t(spark, sf_dir, "documents"),
        id_col="doc_id",
        text_col="text",
        k=2,
        threshold=0.08,
        block_cols=("source",),
        max_df=_JACCARD_MAX_DF,
    )


# ---------------------------------------------------------------------------
# MinHash-LSH candidate pairs
# ---------------------------------------------------------------------------

_N_HASHES = 8
_BAND_SIZE = 2


def _minhash_sql() -> str:
    sig_cols = ", ".join(
        f"min(md5('{i}:' || shingle)) AS mh_{i}" for i in range(_N_HASHES)
    )
    n_bands = _N_HASHES // _BAND_SIZE
    band_selects = " UNION ALL ".join(
        "SELECT doc_id, {bi} AS band_idx, md5({concat}) AS band_hash FROM sig".format(
            bi=bi,
            concat=" || '|' || ".join(
                f"mh_{bi * _BAND_SIZE + j}" for j in range(_BAND_SIZE)
            ),
        )
        for bi in range(n_bands)
    )
    return f"""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
sh AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(range(1, len(tk)),
                i -> tk[i] || ' ' || tk[i + 1]))) AS shingle
  FROM t
),
sig AS (SELECT doc_id, {sig_cols} FROM sh GROUP BY doc_id),
bands AS ({band_selects})
SELECT DISTINCT a.doc_id AS id_1, b.doc_id AS id_2
FROM bands a
JOIN bands b ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
            AND a.doc_id < b.doc_id
"""


@register("doc_minhash_lsh", oracle=_minhash_sql(), tags=("text", "dedup"))
def doc_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash (8 hashes) + banded LSH (bands of 2) candidate pairs over
    word-bigram shingles — md5-keyed so the signature is engine-portable
    (operators/dedup.py:minhash_signatures/lsh_candidate_pairs).

    Scale notes: two shuffles (signature groupBy; band bucket join).
    Candidate cost is Σ bucket², never n² — this is the 100 TB dedup
    path, with doc_ngram_jaccard as the in-bucket verifier.
    """
    d = _t(spark, sf_dir, "documents")
    sigs = dd.minhash_signatures(d, "doc_id", "text", k=2, n_hashes=_N_HASHES)
    return dd.lsh_candidate_pairs(sigs, "doc_id", n_hashes=_N_HASHES, band_size=_BAND_SIZE)


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def _simhash_sql() -> str:
    sums = []
    for b in range(32):
        pos = 1 + b // 4
        shift = 3 - (b % 4)
        sums.append(
            f"sum(CASE WHEN (('0x' || substr(md5(tok), {pos}, 1))::INT >> {shift}) & 1 = 1 "
            f"THEN 1 ELSE -1 END) AS s_{b}"
        )
    rebuild = " + ".join(
        f"(CASE WHEN s_{b} > 0 THEN CAST({2 ** (31 - b)} AS BIGINT) ELSE 0 END)"
        for b in range(32)
    )
    return f"""
WITH tok AS (
  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok
  FROM documents
),
bits AS (SELECT doc_id, {", ".join(sums)} FROM tok GROUP BY doc_id)
SELECT doc_id, CAST({rebuild} AS BIGINT) AS simhash FROM bits
"""


@register("doc_simhash", oracle=_simhash_sql(), tags=("text", "dedup"))
def doc_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash per document from per-token md5 bits (Charikar
    sign aggregation) — near-dup docs land at small Hamming distance
    (operators/dedup.py:simhash32).

    Scale notes: one shuffle (groupBy doc over exploded token bits);
    the 32 per-bit sign sums are conditional aggregates in a single
    hash-aggregate pass.
    """
    return dd.simhash32(_t(spark, sf_dir, "documents"), "doc_id", "text")


def _simhash_candidates_sql() -> str:
    return f"""
WITH sim AS ({_simhash_sql()}),
bands AS (
  SELECT doc_id, simhash, band_idx,
         (simhash >> (8 * band_idx)) & 255 AS band_val
  FROM sim, (SELECT unnest(range(4)) AS band_idx) b
),
pairs AS (
  SELECT DISTINCT a.doc_id AS id_1, b.doc_id AS id_2,
         a.simhash AS h1, b.simhash AS h2
  FROM bands a
  JOIN bands b ON a.band_idx = b.band_idx AND a.band_val = b.band_val
              AND a.doc_id < b.doc_id
)
SELECT id_1, id_2, CAST(bit_count(xor(h1, h2)) AS BIGINT) AS hamming
FROM pairs WHERE bit_count(xor(h1, h2)) <= 3
"""


@register("simhash_candidates", oracle=_simhash_candidates_sql(), tags=("text", "dedup"))
def simhash_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: 4×8-bit banded Hamming blocking over the
    32-bit fingerprints, then exact bit_count(xor) <= 3 verification —
    closes the third dedup family (exact / MinHash / SimHash) end-to-end
    (operators/dedup.py:simhash_candidate_pairs; pigeonhole-exact for
    radius 3 < 4 bands).

    Scale notes: band explode is map-only; one self-equi-join shuffle on
    (band_idx, band_val); the Hamming verify is a JVM bit op on 8-byte
    keys, no text comparison. Candidate cost Σ bucket² like MinHash-LSH
    but with an 8-byte shuffle payload.
    """
    sim = dd.simhash32(_t(spark, sf_dir, "documents"), "doc_id", "text")
    return dd.simhash_candidate_pairs(sim, "doc_id", "simhash")


def _simhash64_sql() -> str:
    """64-bit twin of :func:`_simhash_sql` (bit b ← nibble b//4 of the
    token md5, 16 nibbles). The top bit packs two's complement: a set
    bit 0 contributes LONG_MIN, the rest add non-negative weights —
    bit-identical to operators/dedup.simhash64's packing."""
    sums = []
    for b in range(64):
        pos = 1 + b // 4
        shift = 3 - (b % 4)
        sums.append(
            f"sum(CASE WHEN (('0x' || substr(md5(tok), {pos}, 1))::INT >> {shift}) & 1 = 1 "
            f"THEN 1 ELSE -1 END) AS s_{b}"
        )
    parts = ["(CASE WHEN s_0 > 0 THEN CAST(-9223372036854775807 - 1 AS BIGINT) ELSE 0 END)"]
    parts += [
        f"(CASE WHEN s_{b} > 0 THEN CAST({2 ** (63 - b)} AS BIGINT) ELSE 0 END)"
        for b in range(1, 64)
    ]
    rebuild = " + ".join(parts)
    return f"""
WITH tok AS (
  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok
  FROM documents
),
bits AS (SELECT doc_id, {", ".join(sums)} FROM tok GROUP BY doc_id)
SELECT doc_id, CAST({rebuild} AS BIGINT) AS simhash FROM bits
"""


def _simhash64_candidates_sql() -> str:
    return f"""
WITH sim AS ({_simhash64_sql()}),
bands AS (
  SELECT doc_id, simhash, band_idx,
         (simhash >> (16 * band_idx)) & 65535 AS band_val
  FROM sim, (SELECT unnest(range(4)) AS band_idx) b
),
pairs AS (
  SELECT DISTINCT a.doc_id AS id_1, b.doc_id AS id_2,
         a.simhash AS h1, b.simhash AS h2
  FROM bands a
  JOIN bands b ON a.band_idx = b.band_idx AND a.band_val = b.band_val
              AND a.doc_id < b.doc_id
)
SELECT id_1, id_2, CAST(bit_count(xor(h1, h2)) AS BIGINT) AS hamming
FROM pairs WHERE bit_count(xor(h1, h2)) <= 3
"""


# NOT @register'ed: the adjudicated `simhash_candidates` stays frozen at
# the 32-bit fingerprint through the r11/r12 ledger completion (VERDICT
# r10 #3). This is the staged post-freeze replacement — the swap is a
# one-line flip of the registration above to
# (oracle=_simhash64_candidates_sql(), body=simhash64_candidates) plus a
# manifest regen. Same pigeonhole-exact radius-3 semantics; 4×16-bit
# bands = 256k buckets vs the 32-bit path's fixed 1024 (256× less
# candidate fan-out — measured sf1 probe counts in BASELINE.md r11).
def simhash64_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    sim = dd.simhash64(_t(spark, sf_dir, "documents"), "doc_id", "text")
    return dd.simhash_candidate_pairs(
        sim, "doc_id", "simhash", n_bands=4, band_bits=16, radius=3
    )


# ---------------------------------------------------------------------------
# Dedup clustering: near-dup pairs → connected components → survivors
# ---------------------------------------------------------------------------

_DEDUP_COMPONENTS_ORACLE = """
WITH RECURSIVE
t AS (SELECT doc_id, source, string_split(text, ' ') AS tk FROM documents),
sh AS (
  SELECT doc_id, source,
         unnest(list_distinct(list_transform(range(1, len(tk)),
                i -> tk[i] || ' ' || tk[i + 1]))) AS shingle
  FROM t
),
sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_1, b.doc_id AS id_2, count(*) AS inter
  FROM sh a JOIN sh b
    ON a.shingle = b.shingle AND a.source = b.source AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
pairs AS (
  SELECT id_1, id_2
  FROM inter
  JOIN sizes s1 ON id_1 = s1.doc_id
  JOIN sizes s2 ON id_2 = s2.doc_id
  WHERE round(inter * 1.0 / (s1.sz + s2.sz - inter), 4) >= 0.08
),
edges AS (
  SELECT id_1 AS u, id_2 AS v FROM pairs
  UNION
  SELECT id_2, id_1 FROM pairs
),
nodes AS (SELECT DISTINCT u AS node FROM edges),
walk(node, reach) AS (
  SELECT node, node FROM nodes
  UNION
  SELECT w.node, e.v FROM walk w JOIN edges e ON e.u = w.reach
)
SELECT node AS doc_id,
       min(reach) AS cluster_id,
       (node = min(reach)) AS is_kept
FROM walk
GROUP BY node
"""


@register("dedup_components", oracle=_DEDUP_COMPONENTS_ORACLE, tags=("text", "dedup", "graph"))
def dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate CLUSTERS from pairwise near-dup edges: word-bigram
    Jaccard pairs (≥0.08, source-blocked) → connected components →
    (doc_id, cluster_id, is_kept) with the min doc id as canonical
    survivor (operators/graph.py).

    The oracle states the spec as a recursive CTE (min reachable label);
    the engine runs alternating large-star/small-star (Kiveris et al.),
    which converges in O(log n) two-shuffle rounds instead of
    O(diameter) — the difference between 5 and 500 rounds on a 100 TB
    corpus with chained duplicates.
    """
    from grocery_store_sales_forecasting_etl_pipeline_spark.operators import graph as G

    pairs = dd.jaccard_pairs(
        _t(spark, sf_dir, "documents"),
        id_col="doc_id",
        text_col="text",
        k=2,
        threshold=0.08,
        block_cols=("source",),
    )
    return G.dedup_clusters(pairs, src="id_1", dst="id_2")


# ---------------------------------------------------------------------------
# Flagship composition: corpus curation (quality gate → language gate →
# exact-dedup survivors) — the end-to-end training-data filter chain
# ---------------------------------------------------------------------------


def _curation_sql() -> str:
    """Same scored/best scaffolding as _langid_sql, then the curation
    chain: quality ≥ 0.5 AND detected language known → dedup survivors
    (min doc_id per normalized-text fingerprint)."""
    score_cols = []
    for lang, words in T.LANG_MARKERS.items():
        hits = " + ".join(
            f"(CASE WHEN list_contains(dt, '{w}') THEN 1 ELSE 0 END)" for w in words
        )
        score_cols.append(f"({hits}) AS s_{lang}")
    when_chain = " ".join(
        f"WHEN s_{lang} = best THEN '{lang}'" for lang in T.LANG_MARKERS
    )
    stop_hits = " + ".join(
        f"(CASE WHEN list_contains(dt, '{w}') THEN 1 ELSE 0 END)" for w in T.STOPWORDS
    )
    greatest = ", ".join(f"s_{lang}" for lang in T.LANG_MARKERS)
    return f"""
WITH t AS (
  SELECT doc_id, text,
         string_split(text, ' ') AS tk,
         list_distinct(string_split(text, ' ')) AS dt
  FROM documents
),
scored AS (
  SELECT doc_id, text, tk, dt,
         {", ".join(score_cols)},
         CAST(({stop_hits}) AS BIGINT) AS stopword_hits
  FROM t
),
best AS (
  SELECT *, greatest({greatest}) AS best FROM scored
),
qual AS (
  SELECT
    doc_id,
    CASE WHEN best = 0 THEN 'und' {when_chain} ELSE 'und' END AS detected_lang,
    CAST(len(tk) AS BIGINT) AS n_tokens,
    round(
      (CASE WHEN len(tk) BETWEEN 20 AND 1000 THEN 1.0 ELSE 0.0 END) * 0.3
      + (CASE WHEN round(length(text) * 1.0 / len(tk), 4) BETWEEN 3.0 AND 12.0
         THEN 1.0 ELSE 0.0 END) * 0.2
      + (CASE WHEN ({stop_hits}) >= 2 THEN 1.0 ELSE 0.0 END) * 0.2
      + least(round(len(dt) * 1.0 / len(tk), 4) * 2.0, 1.0) * 0.3,
    4) AS quality_score,
    md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fingerprint
  FROM best
),
gated AS (
  SELECT * FROM qual WHERE quality_score >= 0.5 AND detected_lang <> 'und'
)
SELECT doc_id, detected_lang, n_tokens, quality_score
FROM (
  SELECT *, row_number() OVER (PARTITION BY fingerprint ORDER BY doc_id) AS rn
  FROM gated
)
WHERE rn = 1
"""


@register("corpus_curation", oracle=_curation_sql(), tags=("text", "dedup", "flagship"))
def corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end training-data curation chain in one declarative
    plan: score quality → gate on quality ≥ 0.5 and a detected language
    → keep one survivor per exact-content fingerprint (min doc_id).

    Scale notes: gates run BEFORE dedup — cheap map-side predicates
    shrink the corpus before the fingerprint shuffle (the only exchange
    in the plan). Order matters at 100 TB: deduping first would shuffle
    rows the quality gate was about to discard. All scoring is JVM
    expression trees; the whole chain is one scan + one shuffle.
    """
    d = _t(spark, sf_dir, "documents")
    from pyspark.sql import Window

    gated = d.select(
        "doc_id",
        T.langid("text").alias("detected_lang"),
        T.token_count("text").alias("n_tokens"),
        T.quality_score("text").alias("quality_score"),
        T.fingerprint("text").alias("fingerprint"),
    ).filter((F.col("quality_score") >= 0.5) & (F.col("detected_lang") != "und"))
    w = Window.partitionBy("fingerprint").orderBy("doc_id")
    return (
        gated.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "detected_lang", "n_tokens", "quality_score")
    )


# ---------------------------------------------------------------------------
# PII redaction (training-data hygiene): emails / IPs / phones -> tokens
# ---------------------------------------------------------------------------

_PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PII_IP = r"([0-9]{1,3}\.){3}[0-9]{1,3}"
_PII_PHONE = r"\+[0-9]{1,3}([- ][0-9]{3,4}){2,3}"

# deterministic synthetic PII appended per doc so redaction has real work
# to do on the synthetic corpus (both engines build the identical string)
_PII_REDACTION_ORACLE = f"""
WITH salted AS (
  SELECT doc_id,
         text || ' contact: user' || CAST(doc_id AS VARCHAR)
              || '@example.com ip ' || CAST(doc_id % 256 AS VARCHAR)
              || '.0.0.1 tel +1-555-0199' AS text
  FROM documents
)
SELECT doc_id,
  CAST(len(regexp_extract_all(text, '{_PII_EMAIL}')) AS BIGINT) AS n_emails,
  CAST(len(regexp_extract_all(text, '{_PII_IP}')) AS BIGINT)    AS n_ips,
  CAST(len(regexp_extract_all(text, '{_PII_PHONE}')) AS BIGINT) AS n_phones,
  regexp_replace(regexp_replace(regexp_replace(text,
      '{_PII_EMAIL}', '<EMAIL>', 'g'),
      '{_PII_IP}', '<IP>', 'g'),
      '{_PII_PHONE}', '<PHONE>', 'g') AS redacted
FROM salted
"""


@register("doc_pii_redaction", oracle=_PII_REDACTION_ORACLE, tags=("text",))
def doc_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction over documents (functions/text.py:redact_pii):
    emails, IPv4 addresses, and international phone numbers replaced
    with placeholder tokens, plus per-category audit counts — the
    pre-training hygiene pass every published corpus pipeline runs.
    Deterministic synthetic PII is appended per doc (id-derived email /
    ip / phone) so the redaction is exercised on the synthetic corpus;
    the oracle builds the identical salted string.

    Scale notes: chained regexp_replace + regexp_count are JVM scalars
    inside whole-stage codegen — map-only over the corpus, no shuffle,
    no Python.
    """
    d = _t(spark, sf_dir, "documents")
    salted = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact: user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com ip "),
            (F.col("doc_id") % 256).cast("string"),
            F.lit(".0.0.1 tel +1-555-0199"),
        ).alias("text"),
    )
    counts = T.pii_counts("text")
    return salted.select(
        "doc_id",
        counts["email"].cast("long").alias("n_emails"),
        counts["ipv4"].cast("long").alias("n_ips"),
        counts["phone"].cast("long").alias("n_phones"),
        T.redact_pii("text").alias("redacted"),
    )


# ---------------------------------------------------------------------------
# TF-IDF top-k terms (classic corpus keyword extraction)
# ---------------------------------------------------------------------------

_TFIDF_ORACLE = """
WITH tok AS (
  -- regexp split on whitespace RUNS after trim: exactly functions/
  -- text.py:tokens (split(trim(x), '\\s+')), so irregular whitespace in
  -- a future data generation can't desync the engines
  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS term
  FROM documents
),
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
n AS (SELECT count(*) AS n FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term, tf.tf,
         round(CAST(tf.tf * n.n AS DOUBLE) / dfreq.df, 6) AS tfidf
  FROM tf JOIN dfreq USING (term) CROSS JOIN n
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rk
  FROM scored
)
SELECT doc_id, term, CAST(tf AS BIGINT) AS tf, tfidf, CAST(rk AS BIGINT) AS rank
FROM ranked WHERE rk <= 3
"""


@register("doc_tfidf_topk", oracle=_TFIDF_ORACLE, tags=("text",))
def doc_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document. IDF is the log-free inverse
    document-frequency ratio tf·N/df: ln() differs in the last ulp
    across engines (JVM StrictMath vs DuckDB libm) which would break
    hash parity, while integer multiply + one IEEE double division is
    bit-identical everywhere and ranks terms in the same order for
    fixed N.

    Scale notes: single scan, three shuffles of the compact (doc, term,
    tf) frame — the tf aggregate, the term-partitioned window that
    counts df in place (a groupBy-df + join-back would either re-scan
    and re-explode the corpus for the second aggregate, or need a
    vocabulary-sized broadcast that doesn't exist at 100 TB), and the
    doc-partitioned top-k window (WindowGroupLimit pushes the k=3 cut
    before its exchange). Corpus size N is one broadcast scalar;
    map-side partial aggregation absorbs the Zipf head before the first
    shuffle.
    """
    from pyspark.sql import Window

    docs = _t(spark, sf_dir, "documents")
    tok = docs.select(
        F.col("doc_id"), F.explode(T.tokens("text")).alias("term")
    )
    tf = tok.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    n = docs.agg(F.count("*").alias("n"))
    scored = (
        tf.withColumn("df", F.count("*").over(Window.partitionBy("term")))
        .crossJoin(n)
        .select(
            "doc_id",
            "term",
            F.col("tf").cast("long").alias("tf"),
            F.round((F.col("tf") * F.col("n")).cast("double") / F.col("df"), 6).alias(
                "tfidf"
            ),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 3)
        .select("doc_id", "term", "tf", "tfidf", "rank")
    )


# ---------------------------------------------------------------------------
# Benchmark decontamination (train/test overlap removal)
# ---------------------------------------------------------------------------

_DECON_K = 4  # gram size; 13 in production pipelines, 4 here so the
# synthetic corpus's template near-dups actually produce overlap to verify
_DECON_MOD = 11  # "benchmark" = every 11th doc_id (deterministic holdout)

_DECON_ORACLE = f"""
WITH t AS (
  SELECT doc_id,
         list_distinct(list_transform(
           range(1, len(string_split(text, ' ')) - {_DECON_K} + 2),
           i -> array_to_string(list_slice(string_split(text, ' '),
                                           i, i + {_DECON_K} - 1), ' '))) AS grams
  FROM documents
),
g AS (SELECT doc_id, len(grams) AS n_grams, unnest(grams) AS gram FROM t),
bench AS (SELECT DISTINCT gram FROM g WHERE doc_id % {_DECON_MOD} = 0),
hits AS (
  SELECT g.doc_id, g.n_grams, count(*) AS n_hit_grams
  FROM g JOIN bench USING (gram)
  WHERE g.doc_id % {_DECON_MOD} <> 0
  GROUP BY 1, 2
)
SELECT doc_id,
       CAST(n_grams AS BIGINT)     AS n_grams,
       CAST(n_hit_grams AS BIGINT) AS n_hit_grams,
       round(n_hit_grams * 1.0 / n_grams, 4) AS hit_ratio
FROM hits
"""


@register("benchmark_decontam", oracle=_DECON_ORACLE, tags=("text", "dedup"))
def benchmark_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test decontamination: flag corpus documents sharing any
    exact word 4-gram with a held-out "benchmark" set (every 11th
    doc_id), reporting per-doc gram counts and the contaminated
    fraction — the overlap-removal pass every published LLM corpus
    runs against its eval suites (production uses 13-grams; 4 here so
    the synthetic corpus's template near-dups produce verifiable hits).

    Scale notes: the benchmark gram set is small by definition (eval
    suites, not corpora) — built with one aggregation and BROADCAST to
    the corpus-side join, so the corpus is scanned once map-side with
    NO shuffle of corpus gram rows; the only corpus-keyed exchange is
    the per-doc hit count on doc_id. Grams join on xxhash64 (8-byte
    keys, not strings); distinct-gram semantics via T.shingles.
    """
    d = _t(spark, sf_dir, "documents")
    # staged projections: tokens, then the gram array, each materialized
    # once per row (inlining re-runs the split per element_at — 10×)
    # explode_OUTER, deliberately: with plain explode, Catalyst's
    # InferFiltersFromGenerate adds size(grams)>0 below the Generate and
    # predicate pushdown re-inlines the whole shingle expression (one
    # split per element_at) into the scan filter — measured 16× slower
    # at sf0.1. outer suppresses the inference. The hash runs INSIDE the
    # array (transform) so the row a zero-gram doc produces keeps a NULL
    # gram key and drops out of the inner join — hashing AFTER the
    # explode would turn that null into xxhash64(NULL) = 42, a real
    # joinable value that could pair zero-gram docs across the sides.
    grams = d.select("doc_id", T.tokens("text").alias("__tk")).select(
        "doc_id", T.shingles_from_tokens(F.col("__tk"), _DECON_K).alias("grams")
    ).select(
        "doc_id",
        F.size("grams").cast("long").alias("n_grams"),
        F.explode_outer(F.transform(F.col("grams"), lambda g: F.xxhash64(g))).alias(
            "gram"
        ),
    )
    bench = (
        grams.filter(F.col("doc_id") % _DECON_MOD == 0)
        .select("gram")
        .distinct()
    )
    hits = (
        grams.filter(F.col("doc_id") % _DECON_MOD != 0)
        # A/B sf0.1: 0.98 s with, 1.13 s without the hint
        .join(_gbcast(bench), "gram")
        .groupBy("doc_id", "n_grams")
        .agg(F.count("*").cast("long").alias("n_hit_grams"))
    )
    return hits.select(
        "doc_id",
        "n_grams",
        "n_hit_grams",
        F.round(F.col("n_hit_grams") / F.col("n_grams"), 4).alias("hit_ratio"),
    )


# ---------------------------------------------------------------------------
# Context packing manifest (sequence packing for pretraining)
# ---------------------------------------------------------------------------

_PACK_CONTEXT = 512

_PACK_ORACLE = f"""
WITH t AS (
  SELECT doc_id, source, len(string_split(text, ' ')) AS n_tokens FROM documents
),
c AS (
  SELECT doc_id, source, n_tokens,
         CAST(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
              ROWS UNBOUNDED PRECEDING) - n_tokens AS BIGINT) AS start_offset
  FROM t
)
SELECT doc_id, source, CAST(n_tokens AS BIGINT) AS n_tokens, start_offset,
       CAST(floor(start_offset / {_PACK_CONTEXT}) AS BIGINT) AS context_idx,
       CAST(start_offset % {_PACK_CONTEXT} AS BIGINT)        AS offset_in_context
FROM c
"""


@register("context_packing", oracle=_PACK_ORACLE, tags=("text",))
def context_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-packing manifest: concatenate each source's documents in
    deterministic (doc_id) order and slice the token stream into
    fixed-size training contexts (512 tokens) — per doc: its start
    offset in the stream, which context window it starts in, and where.
    This is the packing step a pretraining data loader runs; emitting
    the MANIFEST (not the packed tensors) keeps it a pure relational op.

    Scale notes: packing is per-SOURCE (one window partition each), so
    there is no global-order single-partition bottleneck — the stream
    is defined per source block, matching how sharded loaders actually
    consume corpora. One shuffle on source; the running sum is a
    single window pass; everything else is integer arithmetic in
    codegen.
    """
    from pyspark.sql import Window

    d = _t(spark, sf_dir, "documents")
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    t = d.select("doc_id", "source", T.token_count("text").alias("n_tokens"))
    c = t.withColumn(
        "start_offset", (F.sum("n_tokens").over(w) - F.col("n_tokens")).cast("long")
    )
    return c.select(
        "doc_id",
        "source",
        "n_tokens",
        "start_offset",
        F.floor(F.col("start_offset") / _PACK_CONTEXT).cast("long").alias("context_idx"),
        (F.col("start_offset") % _PACK_CONTEXT).cast("long").alias("offset_in_context"),
    )


# ---------------------------------------------------------------------------
# Winnowing fingerprints (rolling-hash local fingerprinting, MOSS)
# ---------------------------------------------------------------------------

_WINNOW_K = 4  # gram size
_WINNOW_W = 8  # winnowing window (guarantee threshold t = w + k - 1 = 11)

_WINNOW_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS tk FROM documents
),
grams AS (
  SELECT doc_id,
         list_transform(range(1, len(tk) - {_WINNOW_K} + 2),
                        i -> md5(array_to_string(
                               list_slice(tk, i, i + {_WINNOW_K} - 1), ' '))) AS gh
  FROM toks WHERE len(tk) >= {_WINNOW_K}
),
wins AS (
  SELECT doc_id,
         list_transform(range(1, len(gh) - {_WINNOW_W} + 2),
                        j -> list_min(list_slice(gh, j, j + {_WINNOW_W} - 1))) AS sel
  FROM grams WHERE len(gh) >= {_WINNOW_W}
)
SELECT doc_id, fp, CAST(count(*) AS BIGINT) AS n_windows
FROM (SELECT doc_id, unnest(sel) AS fp FROM wins)
GROUP BY doc_id, fp
"""


@register("doc_winnow_fingerprints", oracle=_WINNOW_ORACLE, tags=("text", "dedup"))
def doc_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-hash document fingerprinting by winnowing (Schleimer/
    Wilkerson/Aiken, SIGMOD'03): hash every word 4-gram, slide a window
    of 8 consecutive gram hashes, keep the min per window — per doc the
    selected fingerprints plus how many windows chose each. Two docs
    sharing any 11-token run are guaranteed a common fingerprint, at
    ~2/(w+1) the storage of the full gram set; a bucket-join on ``fp``
    is the plagiarism/near-dup candidate generator MOSS uses.

    Scale notes: tokens, gram hashes, and the window selection are three
    staged map-only projections (each array materialized once — the
    inlined form re-runs the split per element_at, measured 10×); the
    only shuffle is the (doc_id, fp) count with map-side partial agg.
    Selection density is bounded by the winnowing theorem, so output is
    ~22% of gram volume regardless of corpus size. md5-string ordering
    makes min-selection engine-reproducible. explode_outer suppresses
    Catalyst's InferFiltersFromGenerate re-inlining (see
    benchmark_decontam); the NULL row a short doc produces is dropped by
    the post-generate fp filter, matching the oracle's length guards.
    """
    d = _t(spark, sf_dir, "documents")
    grams = (
        d.select("doc_id", T.tokens("text").alias("__tk"))
        .select(
            "doc_id",
            F.transform(
                T.ngrams_from_tokens(F.col("__tk"), _WINNOW_K), F.md5
            ).alias("__gh"),
        )
    )
    wins = grams.select(
        "doc_id", T.winnow_select(F.col("__gh"), _WINNOW_W).alias("__sel")
    )
    return (
        wins.select("doc_id", F.explode_outer("__sel").alias("fp"))
        .filter(F.col("fp").isNotNull())
        .groupBy("doc_id", "fp")
        .agg(F.count("*").cast("long").alias("n_windows"))
    )


# ---------------------------------------------------------------------------
# Deterministic train/val/test split (hash-bucketed, append-stable)
# ---------------------------------------------------------------------------

# md5-hex prefix thresholds: 'cc' = 204/256 ≈ 79.7% train,
# 'e6' = 230/256 → ≈ 10.2% val, rest ≈ 10.2% test. Hex-string comparison
# orders identically to the numeric hash value in every engine.
_SPLIT_TRAIN_HI = "cc"
_SPLIT_VAL_HI = "e6"

_SPLIT_ORACLE = f"""
WITH t AS (
  SELECT source,
         CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '{_SPLIT_TRAIN_HI}'
                THEN 'train'
              WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '{_SPLIT_VAL_HI}'
                THEN 'val'
              ELSE 'test' END AS split,
         len(string_split(text, ' ')) AS n_tokens
  FROM documents
)
SELECT source, split,
       CAST(count(*) AS BIGINT)      AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS n_tokens
FROM t GROUP BY source, split
"""


@register("dataset_split", oracle=_SPLIT_ORACLE, tags=("text",))
def dataset_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-bucketed train/val/test assignment (~80/10/10
    by md5(doc_id) prefix), reported as per-(source, split) doc and
    token counts — the stratification audit a training pipeline runs
    after splitting. Hashing the KEY (not random()) makes membership a
    pure function of doc_id: re-runs, retries, and corpus appends never
    reassign an existing document across the eval boundary, which is
    the property that keeps a held-out set honest over months of
    incremental ingestion.

    Scale notes: the assignment is a map-only expression fused into the
    scan; the audit aggregate shuffles only (source, split) partials —
    a few dozen rows at any corpus size. Comparing the first two hex
    chars lexicographically equals comparing the top byte of the hash
    numerically, so the same split is computable in any engine or
    language with md5 — the assignment survives engine migrations.
    """
    d = _t(spark, sf_dir, "documents")
    h = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
    split = (
        F.when(h < _SPLIT_TRAIN_HI, "train")
        .when(h < _SPLIT_VAL_HI, "val")
        .otherwise("test")
    )
    return (
        d.select("source", split.alias("split"), T.token_count("text").alias("n_tokens"))
        .groupBy("source", "split")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("n_tokens"),
        )
    )


# ---------------------------------------------------------------------------
# Near-dup verification by edit distance (candidate pairs → levenshtein)
# ---------------------------------------------------------------------------

# Verify-stage decision threshold: a pair counts as a near-dup when
# similarity 1 - nld >= 0.6, i.e. lev <= (2/5) * max_len. Because
# levenshtein(a, b) >= |len(a) - len(b)| ALWAYS, any pair with
# |len_a - len_b| > (2/5) * max(len_a, len_b) provably fails the
# threshold — filtering those out before the O(len^2) kernel is exact,
# not a heuristic. Written cross-multiplied (5*|Δ| <= 2*max) so both
# engines compare integers — no float/DECIMAL boundary to drift on.
_NDV_BAND = (2, 5)  # (1 - θ) as an exact rational: numerator, denominator

_NDV_ORACLE = f"""
WITH pairs AS ({_JACCARD_ORACLE}
)
SELECT p.id_1, p.id_2, p.jaccard,
       CAST(levenshtein(a.text, b.text) AS BIGINT) AS lev,
       round(levenshtein(a.text, b.text) * 1.0
             / greatest(length(a.text), length(b.text)), 4) AS nld
FROM pairs p
JOIN documents a ON p.id_1 = a.doc_id
JOIN documents b ON p.id_2 = b.doc_id
WHERE abs(length(a.text) - length(b.text)) * {_NDV_BAND[1]}
        <= greatest(length(a.text), length(b.text)) * {_NDV_BAND[0]}
   OR a.text IS NULL OR b.text IS NULL
"""


def edit_distance_verify(
    pairs: DataFrame,
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    lev_threshold: int | None = None,
    length_band: tuple[int, int] | None = None,
) -> DataFrame:
    """Score candidate pairs ``(id_1, id_2, jaccard)`` with levenshtein +
    length-normalized edit distance against a document corpus, in ONE
    corpus scan.

    The pair list explodes to (pair, side, doc_id) rows and joins against
    the corpus; joining the corpus twice — once per side — would scan
    100 TB twice. The planner and AQE choose the join from the sizes:
    a pair sliver under the broadcast threshold broadcasts, so the
    corpus never shuffles, and a larger one shuffles instead of
    OOMing the driver.

    ``lev_threshold`` caps the O(len²) levenshtein term per pair
    (Spark's 3-arg ``levenshtein(l, r, t)``): distances above the cap
    come back as -1 (and nld as NULL is avoided by propagating -1).
    Unbounded (None) matches a plain-SQL oracle exactly; at 100 TB you
    set the cap to your dedup decision threshold.

    ``length_band`` = (num, den) drops pairs whose length gap alone
    proves they cannot reach similarity 1 - num/den: levenshtein is
    bounded below by |len_a - len_b|, so ``den*|Δlen| > num*max_len``
    implies nld > num/den — an EXACT prefilter, evaluated before the
    O(len²) kernel (integer cross-multiplication, so no float-boundary
    skew vs a SQL oracle). Pairs with a NULL text are kept so NULL still
    propagates into lev/nld like the unfiltered path.
    """
    sides = pairs.select(
        "id_1",
        "id_2",
        "jaccard",
        F.explode(
            F.array(
                F.struct(F.col("id_1").alias(id_col), F.lit(1).alias("side")),
                F.struct(F.col("id_2").alias(id_col), F.lit(2).alias("side")),
            )
        ).alias("__s"),
    ).select("id_1", "id_2", "jaccard", f"__s.{id_col}", "__s.side")
    matched = docs.select(F.col(id_col), F.col(text_col).alias("__text")).join(
        sides, id_col
    )
    texts = matched.groupBy("id_1", "id_2", "jaccard").agg(
        F.max(F.when(F.col("side") == 1, F.col("__text"))).alias("__ta"),
        F.max(F.when(F.col("side") == 2, F.col("__text"))).alias("__tb"),
        F.max(F.when(F.col("side") == 1, F.lit(1))).alias("__pa"),
        F.max(F.when(F.col("side") == 2, F.lit(1))).alias("__pb"),
    ).filter(F.col("__pa").isNotNull() & F.col("__pb").isNotNull())
    if length_band is not None:
        num, den = length_band
        la, lb = F.length("__ta"), F.length("__tb")
        texts = texts.filter(
            (F.abs(la - lb) * den <= F.greatest(la, lb) * num)
            | F.col("__ta").isNull()
            | F.col("__tb").isNull()
        )
    # ^ presence (the side row matched a corpus doc_id) is tracked apart
    # from the text value: a pair referencing a doc_id ABSENT from the
    # corpus drops entirely (the oracle's double inner join semantics),
    # while a matched doc whose text is NULL keeps the pair and lets
    # NULL propagate into lev/nld exactly like the oracle's inner join
    if lev_threshold is None:
        lev = F.levenshtein("__ta", "__tb")
        nld = F.round(lev / F.greatest(F.length("__ta"), F.length("__tb")), 4)
    else:
        lev = F.levenshtein("__ta", "__tb", lev_threshold)
        # lev = -1 means "over the cap" → nld -1; NULL text stays NULL
        nld = F.when(lev < 0, F.lit(-1.0)).otherwise(
            F.round(lev / F.greatest(F.length("__ta"), F.length("__tb")), 4)
        )
    return texts.select(
        "id_1",
        "id_2",
        "jaccard",
        lev.cast("long").alias("lev"),
        nld.alias("nld"),
    )


@register("near_dup_verify", oracle=_NDV_ORACLE, tags=("text", "dedup"))
def near_dup_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance verification stage for near-dup candidate pairs:
    take the blocked n-gram Jaccard pairs and score each with raw
    levenshtein plus length-normalized edit distance (nld) — the exact
    final check a dedup pipeline runs before dropping a document, on
    the tiny surviving pair set rather than the corpus.

    Scale notes: levenshtein is O(len²) per pair, so it belongs exactly
    here — AFTER banding/blocking has cut candidates to a sliver (36
    pairs at sf0.01 on the r10 corpus vs 125k doc pairs; absolute
    counts move when the driver regenerates testdata). The heavy
    lifting lives in
    :func:`edit_distance_verify`: ONE corpus scan, the pair-side join
    strategy left to the planner and AQE, all JVM-side codegen'd
    levenshtein. The ``_NDV_BAND`` length prefilter
    CHANGES the reported pair multiset (44 → 36 at sf0.01, r10): it is
    exact only w.r.t. a downstream similarity ≥ 0.6 near-dup DECISION —
    no dropped pair could have passed that threshold (lev ≥ |Δlen|) —
    but the raw (lev, nld) output keeps surviving pairs with nld > 0.4,
    so the output is the banded pair set, not a threshold filter. The
    oracle applies the identical integer WHERE clause, which is what
    makes parity exact. Surviving pairs get the UNCAPPED edit distance;
    the capped ``lev_threshold`` variant is pytest-pinned equivalent
    below the cap.
    """
    pairs = doc_ngram_jaccard(spark, sf_dir)
    d = _t(spark, sf_dir, "documents")
    return edit_distance_verify(pairs, d, length_band=_NDV_BAND)


# ---------------------------------------------------------------------------
# Temperature-flattened mixture sampling (data-mixing rates per source)
# ---------------------------------------------------------------------------

# alpha = 0.5 flattening: per-source quota = ceil(sqrt(n_s)) * 4, so a
# source's sampling RATE scales as ~4/sqrt(n_s) — big sources are
# down-weighted, small ones kept, the standard temperature trick for
# balancing a multi-source pretraining mixture. Membership test is pure
# integer math: doc's 24-bit md5 prefix u < quota * 2^24 / n_s, written
# cross-multiplied (u * n_s < quota * 2^24) so no engine ever divides.
_MIX_QUOTA_MULT = 4
_MIX_HASH_SPACE = 16**6  # 24-bit prefix

_MIX_ORACLE = f"""
WITH c AS (
  SELECT source, count(*) AS n_s FROM documents GROUP BY source
),
t AS (
  SELECT d.doc_id, d.source, c.n_s,
         CAST(ceil(sqrt(c.n_s)) AS BIGINT) * {_MIX_QUOTA_MULT} AS quota,
         ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 6))::BIGINT AS u
  FROM documents d JOIN c USING (source)
)
SELECT doc_id, source,
       CAST(n_s AS BIGINT) AS source_docs,
       quota               AS source_quota
FROM t WHERE u * n_s < quota * {_MIX_HASH_SPACE}
"""


@register("temperature_mixture_sample", oracle=_MIX_ORACLE, tags=("text",))
def temperature_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-flattened mixture sampling (alpha = 0.5): each
    source's expected sample size is ~4·sqrt(n_s), so over-represented
    sources are down-sampled toward a balanced pretraining mixture —
    the data-mixing step between curation and packing. The random draw
    is the doc's 24-bit md5 prefix against a per-source rate — fully
    deterministic given the corpus snapshot (re-runs reproduce the
    subset bit-for-bit; unlike ``dataset_split`` the RATE adapts as a
    source grows, which is the point of mixing); rate-based (binomial
    around the quota) rather than exact top-k, which is what keeps it
    scalable.

    Scale notes: per-source counts are a tiny aggregate BROADCAST back
    to the corpus scan, making selection map-only — no corpus shuffle
    and no per-source sort (an exact top-k-by-hash variant would sort
    each source's docs in one partition; at 100 TB a single source is
    itself terabytes, so the rate test is the design that survives).
    The threshold compare is cross-multiplied integer math — exact in
    any engine, no float rate to drift in the last ulp.
    """
    d = _t(spark, sf_dir, "documents")
    counts = (
        d.groupBy("source")
        .agg(F.count("*").cast("long").alias("source_docs"))
        .withColumn(
            "source_quota",
            (F.ceil(F.sqrt("source_docs")) * _MIX_QUOTA_MULT).cast("long"),
        )
    )
    u = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 6), 16, 10).cast(
        "long"
    )
    return (
        # A/B sf1: 0.22 s with, 0.28 s without the hint
        d.join(F.broadcast(counts), "source")
        .filter(u * F.col("source_docs") < F.col("source_quota") * F.lit(_MIX_HASH_SPACE))
        .select("doc_id", "source", "source_docs", "source_quota")
    )


# ---------------------------------------------------------------------------
# Novelty scoring (first-occurrence n-gram attribution)
# ---------------------------------------------------------------------------

_NOVELTY_K = 3

_NOVELTY_ORACLE = f"""
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS tk FROM documents
),
g AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(
           range(1, len(tk) - {_NOVELTY_K} + 2),
           i -> array_to_string(list_slice(tk, i, i + {_NOVELTY_K} - 1), ' ')))) AS gram
  FROM t WHERE len(tk) >= {_NOVELTY_K}
),
m AS (
  SELECT doc_id, min(doc_id) OVER (PARTITION BY gram) AS first_doc FROM g
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_grams,
       CAST(sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) AS BIGINT)
         AS n_novel,
       round(sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) * 1.0
             / count(*), 4) AS novelty
FROM m GROUP BY doc_id
"""


@register("doc_novelty", oracle=_NOVELTY_ORACLE, tags=("text", "dedup"))
def doc_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-occurrence novelty score: the fraction of each document's
    distinct word 3-grams that FIRST appear in that document (ingestion
    order = doc_id) — boilerplate and near-duplicates score near 0,
    genuinely new text near 1. This is the streaming-corpus curation
    signal that catches template spam which per-pair dedup only finds
    quadratically.

    Scale notes: single corpus scan — first-occurrence is a min(doc_id)
    window over the gram partition (the doc_tfidf_topk trick: a
    groupBy-min + join-back would re-scan and re-explode the corpus or
    broadcast a vocabulary that doesn't exist at 100 TB), then one
    doc-keyed aggregate; two shuffles of the compact (doc, gram) frame,
    map-side partials absorbing the Zipf head. explode_outer suppresses
    InferFiltersFromGenerate re-inlining the shingle expression into
    the scan (see benchmark_decontam).
    """
    from pyspark.sql import Window

    d = _t(spark, sf_dir, "documents")
    grams = (
        d.select("doc_id", T.tokens("text").alias("__tk"))
        .select(
            "doc_id",
            F.explode_outer(T.shingles_from_tokens(F.col("__tk"), _NOVELTY_K)).alias(
                "gram"
            ),
        )
        .filter(F.col("gram").isNotNull())
    )
    w = Window.partitionBy("gram")
    marked = grams.withColumn("first_doc", F.min("doc_id").over(w))
    novel = F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
    return marked.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_grams"),
        F.sum(novel).cast("long").alias("n_novel"),
        F.round(F.sum(novel) / F.count("*"), 4).alias("novelty"),
    )


# ---------------------------------------------------------------------------
# Vocabulary coverage / OOV rate (tokenizer-fit audit)
# ---------------------------------------------------------------------------

_VOCAB_SIZE = 200

_OOV_ORACLE = f"""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
ex AS (SELECT doc_id, unnest(tk) AS tok FROM t),
df AS (SELECT tok, count(DISTINCT doc_id) AS df FROM ex GROUP BY tok),
vocab AS (SELECT tok FROM df ORDER BY df DESC, tok LIMIT {_VOCAB_SIZE}),
per AS (
  SELECT e.doc_id,
         count(*) AS n_tokens,
         sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS n_oov
  FROM ex e LEFT JOIN vocab v USING (tok)
  GROUP BY e.doc_id
)
SELECT doc_id,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(n_oov AS BIGINT)    AS n_oov,
       round(CAST(n_oov AS DOUBLE) / n_tokens, 4) AS oov_rate
FROM per
"""


@register("vocab_oov_rate", oracle=_OOV_ORACLE, tags=("text",))
def vocab_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-coverage audit: build the top-{200}-by-document-
    frequency vocabulary (ties broken by token, so the cut is
    deterministic), then score every document's out-of-vocabulary token
    rate — the tokenizer-fit statistic a training pipeline checks
    before committing a vocab (high OOV = wrong tokenizer or corpus
    drift).

    Scale notes: two corpus passes by necessity (the vocabulary is a
    global ranking). Pass 1 reduces to |vocab-candidates| rows
    (array_distinct per doc BEFORE exploding caps the df aggregate's
    input at distinct-tokens-per-doc) and TakeOrdered picks the top-k
    without a global sort; pass 2 is map-only — the tiny vocab
    BROADCASTs back, so the corpus never shuffles. At 100 TB you'd fit
    the vocab on a hash-sample of documents (see ``hash_sample``) and
    keep pass 2 exactly as is.
    """
    d = _t(spark, sf_dir, "documents").select(
        "doc_id", T.tokens("text").alias("__tk")
    )
    df_tok = (
        d.select(F.explode(F.array_distinct("__tk")).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("df"))
    )
    vocab = df_tok.orderBy(F.col("df").desc(), F.col("tok")).limit(_VOCAB_SIZE).select(
        "tok", F.lit(1).alias("__in_vocab")
    )
    ex = d.select("doc_id", F.explode("__tk").alias("tok"))
    scored = ex.join(vocab, "tok", "left")
    per = scored.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_tokens"),
        F.sum(F.when(F.col("__in_vocab").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_oov"),
    )
    return per.select(
        "doc_id",
        "n_tokens",
        "n_oov",
        F.round(F.col("n_oov").cast("double") / F.col("n_tokens"), 4).alias(
            "oov_rate"
        ),
    )
