"""Deduplication operators: exact, keyed, n-gram Jaccard, MinHash-LSH,
SimHash (SURVEY.md §7 step 6 — training-data-pipeline core).

Scale design
------------
- Exact dedup: hash-groupBy on an md5 fingerprint — one shuffle keyed by
  the fingerprint, arbitrarily parallel; survivor = min(id)
  (deterministic).
- Jaccard: shingle-explode + equi-join on (block, shingle). The blocking
  column bounds the join fan-out; at 100 TB you block on a coarse
  partition (source/domain/date) or on LSH bands (below) — never an
  unblocked token join.
- MinHash-LSH: md5-keyed minimum per permutation seed (Broder), banded
  into buckets (one shuffle per stage); candidate pairs only form inside
  a bucket, turning O(n²) into O(Σ bucket²).
- SimHash: per-token 64-bit hash, sign-aggregated per bit (Charikar);
  entirely JVM expression trees, no Python.

All hashing is md5-based so results are engine-portable (the DuckDB
oracles compute the identical signatures in SQL).
"""

from __future__ import annotations

import sys
from collections.abc import Sequence

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window

from grocery_store_sales_forecasting_etl_pipeline_spark.functions import text as T
from grocery_store_sales_forecasting_etl_pipeline_spark.operators.sizing import (
    plan_bytes as _plan_bytes,
    record_gate as _record_gate,
)


def exact_text_groups(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Exact-content dedup groups: normalize → md5 fingerprint → group.
    Returns (fingerprint, keep_id, n_dups) — keep_id = min id survives."""
    return (
        df.select(T.fingerprint(text_col).alias("fingerprint"), F.col(id_col))
        .groupBy("fingerprint")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count("*").cast("long").alias("n_dups"),
        )
    )


def _shingle_rows(
    df: DataFrame, id_col: str, text_col: str, k: int, block_cols: Sequence[str]
) -> DataFrame:
    # a small input file is ONE split → the CPU-heavy shingle explosion
    # would run in a single task; spread it across the cluster first.
    # Guarded: when the input already has enough splits (the 100 TB case)
    # a repartition here would be a full shuffle of all document text for
    # nothing, so only widen when actually under-split.
    parallelism = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < parallelism:
        df = df.repartition(parallelism)
    # tokenize into a materialized column FIRST: shingling from the raw
    # text expression re-runs the split inside every element_at (k full
    # splits per gram — O(len²) per doc, measured 10× slower at sf0.1)
    tokenized = df.select(
        F.col(id_col),
        *[F.col(c) for c in block_cols],
        T.tokens(text_col).alias("__tk"),
    )
    return tokenized.select(
        F.col(id_col),
        *[F.col(c) for c in block_cols],
        F.explode(T.shingles_from_tokens(F.col("__tk"), k)).alias("shingle"),
    )


# Input size past which the capped shingle frame is materialized instead
# of recomputed per consumer (see the A/B note inside jaccard_pairs):
# measured crossover sits between 6.8 MB (sf1 docs: recompute 7.2s beats
# checkpoint 8.5s) and 84 MB (sf10 docs: checkpoint 67s beats recompute
# 209s — 3.1x).
_SHINGLE_MATERIALIZE_MIN_INPUT_BYTES = 32 * 1024 * 1024


def jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 2,
    threshold: float = 0.8,
    block_cols: Sequence[str] = (),
    max_df: int | None = None,
    materialize_shingles: bool | None = None,
) -> DataFrame:
    """Near-duplicate pairs by word-k-gram Jaccard similarity ≥ threshold.

    Returns (id_1, id_2, jaccard) with id_1 < id_2, jaccard rounded 4dp.
    ``block_cols`` restrict candidate pairs to equal blocks — mandatory at
    scale (see module docstring).

    ``max_df`` drops shingles whose document frequency within a block
    exceeds the cap BEFORE the self-join, and computes sizes over the
    capped shingle space so the Jaccard stays internally consistent
    (standard stop-shingle removal). The self-join pays Σ df² per
    shingle; without a cap one boilerplate shingle shared by 10⁶ docs in
    a block is 10¹² join rows — the cap bounds every shingle's
    contribution at df ≤ max_df, i.e. O(vocab · max_df²) total, while
    true near-dups (which share many RARE shingles) keep their pairs.
    Recall at threshold is pinned by tests/test_dedup.py.

    ``materialize_shingles=None`` auto-gates the shingle checkpoint on
    ``df``'s plan size estimate (``sizing.plan_bytes``); True/False
    force one shape.
    """
    sh = _shingle_rows(df, id_col, text_col, k, block_cols)
    # join on a 64-bit shingle hash instead of the string: halves the
    # shuffle width and compare cost. Collisions would miscount an
    # intersection only if two DISTINCT shingles collide within one
    # blocked pair's shingle set — P ≈ (distinct shingles)²/2⁶⁵,
    # negligible at any realistic corpus vocabulary.
    sh = sh.withColumn("shingle", F.xxhash64("shingle"))
    if max_df is not None:
        # shingles are distinct per doc, so count per (block, shingle) IS
        # document frequency; one extra shuffle on the same key the
        # intersection join uses
        w_df = Window.partitionBy(*block_cols, "shingle")
        sh = (
            sh.withColumn("__df", F.count("*").over(w_df))
            .filter(F.col("__df") <= max_df)
            .drop("__df")
        )
    # `sh` feeds sizes AND both self-join sides; whether to materialize it
    # depends on input size (A/B sf1: 8.5 s with, 7.2 s without).
    if materialize_shingles is None:
        size = _plan_bytes(df)
        materialize_shingles = size >= _SHINGLE_MATERIALIZE_MIN_INPUT_BYTES
        _record_gate(
            "jaccard_pairs.shingle_checkpoint",
            size,
            "localCheckpoint" if materialize_shingles else "recompute",
        )
    if materialize_shingles:
        sh = sh.localCheckpoint(eager=False)  # A/B sf10: 67.1 s with, 209.3 s without
    sizes = sh.groupBy(id_col).agg(F.count("*").cast("long").alias("sz"))
    a = sh.alias("a")
    b = sh.alias("b")
    join_cond = (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")) & (
        F.col("a.shingle") == F.col("b.shingle")
    )
    for c in block_cols:
        join_cond = join_cond & (F.col(f"a.{c}") == F.col(f"b.{c}"))
    inter = (
        a.join(b, join_cond)
        .groupBy(
            F.col(f"a.{id_col}").alias("id_1"),
            F.col(f"b.{id_col}").alias("id_2"),
        )
        .agg(F.count("*").cast("long").alias("inter"))
    )
    s1 = sizes.select(F.col(id_col).alias("id_1"), F.col("sz").alias("sz1"))
    s2 = sizes.select(F.col(id_col).alias("id_2"), F.col("sz").alias("sz2"))
    return (
        inter.join(s1, "id_1")
        .join(s2, "id_2")
        .withColumn(
            "jaccard",
            F.round(F.col("inter") / (F.col("sz1") + F.col("sz2") - F.col("inter")), 4),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_1", "id_2", "jaccard")
    )


def _minhash_col(seed: int) -> Column:
    """One MinHash 'permutation': lexicographic min of md5(seed:shingle).
    md5 is uniform, so min-over-md5 ranks shingles in an effectively
    random, seed-dependent order — the classic hash-min estimator."""
    return F.min(F.md5(F.concat(F.lit(f"{seed}:"), F.col("shingle"))))


def minhash_signatures(
    df: DataFrame, id_col: str, text_col: str, k: int = 2, n_hashes: int = 8
) -> DataFrame:
    """Per-document MinHash signature: (id, mh_0 … mh_{n-1}).
    One explode + one groupBy — a single shuffle keyed by id."""
    sh = _shingle_rows(df, id_col, text_col, k, ())
    return sh.groupBy(id_col).agg(
        *[_minhash_col(i).alias(f"mh_{i}") for i in range(n_hashes)]
    )


def _cap_band_buckets(
    bands: DataFrame, bucket_cols: Sequence[str], max_bucket: int
) -> DataFrame:
    """Drop rows belonging to band buckets larger than ``max_bucket``
    BEFORE a banded self-join — the standard LSH defense against
    skew-degenerate buckets (a bucket of b members contributes b² join
    work; template-heavy corpora concentrate fingerprints, measured
    r11: 113.6M probed candidates at sf1 where a uniform corpus yields
    ~19.5M). Capping is NOT silent: one log line states the cap per
    build, and the recall contract changes explicitly — a pair is
    emitted iff SOME band it agrees on has an in-cap bucket, so the
    pigeonhole exactness of radius-banded search degrades only for
    pairs ALL of whose agreeing bands are oversized (those are exactly
    the boilerplate clusters a dedup pipeline handles by exact-dup
    pre-collapse, not pairwise search)."""
    print(
        "spark_graft.sizing: gate banded_join.bucket_cap: "
        f"max_bucket={max_bucket} on ({', '.join(bucket_cols)})",
        file=sys.stderr,
    )
    w = Window.partitionBy(*bucket_cols)
    return (
        bands.withColumn("__bsz", F.count("*").over(w))
        .filter(F.col("__bsz") <= max_bucket)
        .drop("__bsz")
    )


def lsh_candidate_pairs(
    signatures: DataFrame,
    id_col: str,
    n_hashes: int = 8,
    band_size: int = 2,
    max_bucket: int | None = None,
) -> DataFrame:
    """Banded LSH: hash each band of the signature to a bucket, emit
    distinct candidate pairs sharing any band bucket.

    Two shuffles (band explode → bucket groupBy-join; pair distinct).
    Bucket join is self-equi-join on (band_idx, band_hash), so cost is
    Σ bucket_size² — tune n_hashes/band_size for the similarity floor
    you care about (P(candidate) = 1-(1-j^band_size)^n_bands).

    ``max_bucket`` (default None = exact, the registered behavior)
    activates the skew cap: buckets above the cap are excluded from
    the join (see :func:`_cap_band_buckets` for the recall contract).
    At 100 TB this is what bounds worst-case Σ bucket² on a
    boilerplate-heavy corpus to n·max_bucket.
    """
    n_bands = n_hashes // band_size
    bands = signatures.select(
        F.col(id_col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(bi).alias("band_idx"),
                        F.md5(
                            F.concat_ws(
                                "|",
                                *[F.col(f"mh_{bi * band_size + j}") for j in range(band_size)],
                            )
                        ).alias("band_hash"),
                    )
                    for bi in range(n_bands)
                ]
            )
        ).alias("band"),
    ).select(id_col, "band.band_idx", "band.band_hash")
    if max_bucket is not None:
        bands = _cap_band_buckets(bands, ("band_idx", "band_hash"), max_bucket)
    a = bands.alias("a")
    b = bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_1"),
            F.col(f"b.{id_col}").alias("id_2"),
        )
        .distinct()
    )


def simhash_candidate_pairs(
    sim: DataFrame,
    id_col: str = "doc_id",
    hash_col: str = "simhash",
    n_bands: int = 4,
    band_bits: int = 8,
    radius: int = 3,
    max_bucket: int | None = None,
) -> DataFrame:
    """Near-dup pairs from SimHash fingerprints: banded Hamming
    blocking + exact radius verify, emitted as (id_1, id_2, hamming).

    Pigeonhole guarantee: two fingerprints within Hamming distance r
    agree EXACTLY on at least one of ``n_bands`` disjoint bands whenever
    r < n_bands, so joining on (band_idx, band_value) and then filtering
    ``bit_count(xor) <= radius`` loses no pair — this is exact
    radius-``radius`` search, not approximate (require
    ``radius < n_bands``). ``max_bucket`` (default None = exact)
    trades that guarantee for bounded worst-case join fan-out on
    skew-degenerate corpora: see :func:`_cap_band_buckets` for the
    explicit recall contract.

    Plan shape: map-only band explode (n_bands rows per doc), one
    self-equi-join shuffle on (band_idx, band_value), distinct, then a
    JVM bit_count filter. Cost is Σ band-bucket², never n² — the same
    blocking economics as MinHash-LSH but over an 8-byte fingerprint
    instead of a k×8-byte signature, which at 100 TB is the cheapest
    shuffle payload of the three dedup families.
    """
    if radius >= n_bands:
        raise ValueError(f"radius {radius} needs n_bands > radius (got {n_bands})")
    mask = (1 << band_bits) - 1
    bands = sim.select(
        F.col(id_col),
        F.col(hash_col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(bi).alias("band_idx"),
                        F.shiftright(F.col(hash_col), bi * band_bits)
                        .bitwiseAND(F.lit(mask))
                        .alias("band_val"),
                    )
                    for bi in range(n_bands)
                ]
            )
        ).alias("band"),
    ).select(id_col, hash_col, "band.band_idx", "band.band_val")
    if max_bucket is not None:
        bands = _cap_band_buckets(bands, ("band_idx", "band_val"), max_bucket)
    a, b = bands.alias("a"), bands.alias("b")
    # hamming filter BEFORE the distinct: the filter is deterministic
    # per pair, so applying it to the raw join output shrinks the
    # distinct's exchange to surviving pairs only (the pre-filter
    # candidate set is the larger one by construction) with identical
    # results
    hamming = F.bit_count(
        F.col(f"a.{hash_col}").bitwiseXOR(F.col(f"b.{hash_col}"))
    ).cast("long")
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_1"),
            F.col(f"b.{id_col}").alias("id_2"),
            hamming.alias("hamming"),
        )
        .filter(F.col("hamming") <= radius)
        .distinct()
    )


def _simhash_sign_sums(
    df: DataFrame, id_col: str, text_col: str, n_bits: int
) -> DataFrame:
    """Shared Charikar stage: per-document per-bit sign sums s_0..s_{n-1}
    over distinct-token md5 bits (bit b = bit (3 - b%4) of hex nibble
    b//4, so n_bits <= 128). One hash-aggregate shuffle."""
    # Guarded widen (same rationale as _shingle_rows): only repartition when
    # the input is under-split; an already-wide 100 TB corpus must not pay a
    # full shuffle of raw text before tokenizing.
    parallelism = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < parallelism:
        df = df.repartition(parallelism)
    tok = df.select(
        F.col(id_col), F.explode(F.array_distinct(T.tokens(text_col))).alias("tok")
    )
    bit_cols = []
    for b in range(n_bits):
        nibble = F.conv(F.substring(F.md5("tok"), 1 + b // 4, 1), 16, 10).cast("int")
        bit = F.shiftright(nibble, 3 - (b % 4)).bitwiseAND(F.lit(1))
        bit_cols.append(F.sum(bit * 2 - 1).alias(f"s_{b}"))
    return tok.groupBy(id_col).agg(*bit_cols)


def simhash32(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """32-bit SimHash per document (Charikar sign-aggregation over
    per-token md5 bits), emitted as (id, simhash) with simhash as long.

    Plan shape: explode tokens → explode 32 (bit, ±1) pairs (arrays built
    by JVM ``transform``) → groupBy(id) summing per-bit signs via
    conditional aggregation → reassemble the integer. One shuffle.
    """
    sums = _simhash_sign_sums(df, id_col, text_col, 32)
    out = F.lit(0).cast("long")
    for b in range(32):
        out = out + F.when(F.col(f"s_{b}") > 0, F.lit(2**(31 - b)).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
    return sums.select(F.col(id_col), out.alias("simhash"))


_LONG_MIN = -(2**63)


def simhash64(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """64-bit SimHash per document — the 100 TB replacement for
    :func:`simhash32`'s fingerprint (VERDICT r10 #3 / BASELINE.md r10
    decomposition).

    Why width matters more than band count: banded-Hamming candidate
    cost is Σ bucket² over a bucket space of 2^band_bits per band. A
    32-bit hash with the radius-3 pigeonhole constraint (4 bands) is
    stuck at 4×8-bit = FIXED 1024 buckets, so candidate fan-out grows
    n²/1024 regardless of corpus size (measured sf1: 19.5M probed
    candidates for 133 pairs). 64 bits buys 4×16-bit bands = 256k
    buckets at the SAME radius-3 exactness — 256× less fan-out for an
    extra 4 bytes of shuffle payload per doc.

    Bit b (0 = most significant) comes from md5 hex nibble b//4, same
    convention as simhash32 (the first 8 nibbles reproduce simhash32's
    bit sources, extended to 16 nibbles). The top bit is packed two's
    complement (+2^63 is not a long; a set bit 0 contributes LONG_MIN
    and the remaining bits add non-negative weights), so the value
    round-trips exactly through any signed-64 engine — band extraction
    ``(h >> 16*i) & 65535`` and ``bit_count(xor)`` are representation-
    independent under arithmetic shift + mask (verified vs DuckDB on
    negative values).
    """
    sums = _simhash_sign_sums(df, id_col, text_col, 64)
    out = F.when(
        F.col("s_0") > 0, F.lit(_LONG_MIN).cast("long")
    ).otherwise(F.lit(0).cast("long"))
    for b in range(1, 64):
        out = out + F.when(F.col(f"s_{b}") > 0, F.lit(2**(63 - b)).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
    return sums.select(F.col(id_col), out.alias("simhash"))
