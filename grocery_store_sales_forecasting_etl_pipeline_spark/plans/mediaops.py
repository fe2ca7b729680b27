"""Multimodal-column queries: binary blobs synthesized deterministically
from the documents table (the driver testdata has no real media), run
through the engine's real plumbing (functions/multimodal.py)."""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from grocery_store_sales_forecasting_etl_pipeline_spark.functions import multimodal as mm
from grocery_store_sales_forecasting_etl_pipeline_spark.plans._tables import table as _t
from grocery_store_sales_forecasting_etl_pipeline_spark.plans.registry import register

# blob = b'RIFF' + utf8(text); RIFF is ASCII so the oracle can rebuild the
# exact same bytes as a string concat
_MEDIA_META_ORACLE = """
SELECT
  doc_id,
  CAST(length(text) + 4 AS BIGINT) AS media_len,
  md5('RIFF' || text)              AS media_md5,
  'audio/wav'                      AS media_mime
FROM documents
"""


@register("multimodal_metadata", oracle=_MEDIA_META_ORACLE, tags=("multimodal",))
def multimodal_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column metadata extraction: byte length, md5 content hash,
    magic-byte mime sniff — all JVM expressions over blobs
    (functions/multimodal.py:with_media_metadata).

    Scale notes: map-only; blobs never cross to Python. This is the
    pattern for petabyte blob-lake audits (hash dedup, corrupt sniffing).
    """
    docs = _t(spark, sf_dir, "documents")
    media = mm.synthesize_media_from_text(docs)
    return mm.with_media_metadata(media).select(
        "doc_id", "media_len", "media_md5", "media_mime"
    )


# the oracle recomputes the 64-bin byte histogram in pure SQL: hex() of
# the reconstructed blob turns per-byte ops into per-2-char substr ops
# over an ASCII string (safe for multibyte UTF-8 text), and the float32
# cast mirrors the featurizer's astype("float32") bit-for-bit
_MEDIA_FEATURES_ORACLE = """
WITH b AS (SELECT doc_id, hex('RIFF' || text) AS h FROM documents),
bytes AS (
  SELECT doc_id, (('0x' || substr(h, CAST(2*i - 1 AS INT), 2))::INT >> 2) AS bin
  FROM b, LATERAL unnest(generate_series(1, length(h)//2)) AS t(i)
),
hist AS (SELECT doc_id, bin, count(*) AS c FROM bytes GROUP BY 1, 2),
tot AS (SELECT doc_id, sum(c) AS n, max(c) AS mx FROM hist GROUP BY 1)
SELECT h.doc_id,
  CAST(64 AS BIGINT) AS n_features,
  CAST(min(CASE WHEN c = mx THEN bin END) AS BIGINT) AS dominant_bin,
  CAST(count(*) AS BIGINT) AS nonzero_bins,
  round(CAST(CAST(CAST(mx AS DOUBLE) / n AS REAL) AS DOUBLE), 6) AS top_bin_share
FROM hist h JOIN tot USING (doc_id)
GROUP BY h.doc_id, mx, n
"""


@register("multimodal_features", oracle=_MEDIA_FEATURES_ORACLE, tags=("multimodal",))
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched featurization of binary media: 64-bin byte histogram
    per blob via ``mapInPandas`` (functions/multimodal.py:
    byte_histogram_features) — the Python-boundary template for real
    decoders — digested to scalar stats (dominant bin, nonzero bins, top
    share) that a SQL oracle recomputes byte-for-byte, so the whole
    Python plumbing path sits under the hash check.

    Tie-break parity: ``array_position(features, array_max(features))``
    picks the FIRST (lowest-index) maximal bin, matching the oracle's
    ``min(bin) WHERE c = mx``; distinct counts can't collide in float32
    for blobs < 2^24 bytes (count spacing 1/n beats float32 eps there).
    """
    docs = _t(spark, sf_dir, "documents")
    media = mm.synthesize_media_from_text(docs)
    # drop_cols: the blob crosses to Python once and never returns —
    # Catalyst cannot prune through mapInPandas (r11, guide §4.1)
    out = mm.byte_histogram_features(media, drop_cols=("content",))
    return out.select(
        "doc_id",
        F.size("features").cast("long").alias("n_features"),
        (F.array_position("features", F.array_max("features")) - 1)
        .cast("long")
        .alias("dominant_bin"),
        F.size(F.filter("features", lambda v: v > F.lit(0.0))).cast("long").alias(
            "nonzero_bins"
        ),
        F.round(F.array_max("features").cast("double"), 6).alias("top_bin_share"),
    )


# ---------------------------------------------------------------------------
# Audio-style windowed energy (PCM framing through the Python boundary)
# ---------------------------------------------------------------------------

_PCM_ENERGY_ORACLE = """
WITH b AS (SELECT doc_id, hex('RIFF' || text) AS h FROM documents),
s AS (
  SELECT doc_id,
    list_transform(range(1, (length(h) // 4) + 1), i ->
      CASE WHEN ('0x' || substr(h, 4*i - 1, 2))::INT >= 128
           THEN ('0x' || substr(h, 4*i - 3, 2))::INT
                + 256 * ('0x' || substr(h, 4*i - 1, 2))::INT - 65536
           ELSE ('0x' || substr(h, 4*i - 3, 2))::INT
                + 256 * ('0x' || substr(h, 4*i - 1, 2))::INT
      END) AS smp
  FROM b
),
w AS (
  SELECT doc_id, CAST(t.w AS BIGINT) AS window_idx,
         list_slice(smp, 256 * t.w + 1, 256 * (t.w + 1)) AS chunk
  FROM s, LATERAL unnest(range(0, len(smp) // 256)) AS t(w)
)
SELECT doc_id, window_idx, CAST(256 AS BIGINT) AS n_samples,
  CAST(list_sum(list_transform(chunk, x -> x * x)) AS BIGINT) AS energy,
  -- explicit half-away formula, identical IEEE ops to the Python side
  -- (np.round is half-even; round() implementations vary — this doesn't)
  floor(sqrt(list_sum(list_transform(chunk, x -> x * x)) / 256.0) * 1000000 + 0.5)
    / 1000000 AS rms
FROM w
"""


@register("audio_energy_windows", oracle=_PCM_ENERGY_ORACLE, tags=("multimodal",))
def audio_energy_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed PCM energy over binary media: blobs parsed as
    little-endian int16 samples in Arrow batches, one row per full
    256-sample window with integer energy (Σ s², exact across engines)
    and RMS (one IEEE division + correctly-rounded sqrt) —
    the windowed-feature plumbing of an audio pipeline (VAD, loudness
    normalization), oracle-recomputed in SQL via hex() byte extraction
    (functions/multimodal.py:pcm_energy_windows).

    Scale notes: map-only mapInPandas — framing never shuffles; at
    100 TB the windows stream out of the scan at Arrow-batch speed and
    downstream aggs shuffle the compact (doc, window) rows, not blobs.
    """
    docs = _t(spark, sf_dir, "documents")
    media = mm.synthesize_media_from_text(docs)
    return mm.pcm_energy_windows(media, content_col="content", id_col="doc_id")


# ---------------------------------------------------------------------------
# Image resize plumbing (decode → fit box → resized blob, Arrow-batched)
# ---------------------------------------------------------------------------

_RESIZE_MAX_SIDE = 64

_RESIZE_ORACLE = f"""
WITH b AS (
  SELECT doc_id, hex('RIFF' || text) AS hx, md5('RIFF' || text) AS mh
  FROM documents
),
d AS (
  SELECT doc_id, hx,
         64 + (('0x' || substr(mh, 1, 2))::INT % 192) AS w,
         64 + (('0x' || substr(mh, 3, 2))::INT % 192) AS h,
         length(hx) // 2 AS blen
  FROM b
),
s AS (
  SELECT *,
    greatest(1, CAST(floor(w * least(1.0, {_RESIZE_MAX_SIDE}.0
                                          / greatest(w, h))) AS INT)) AS nw,
    greatest(1, CAST(floor(h * least(1.0, {_RESIZE_MAX_SIDE}.0
                                          / greatest(w, h))) AS INT)) AS nh
  FROM d
),
z AS (
  SELECT *, greatest(1, blen // greatest(1, nw * nh)) AS step FROM s
)
SELECT doc_id,
  CAST(w AS BIGINT)  AS width,
  CAST(h AS BIGINT)  AS height,
  CAST(nw AS BIGINT) AS new_width,
  CAST(nh AS BIGINT) AS new_height,
  CAST((blen + step - 1) // step AS BIGINT) AS resized_len,
  CAST(list_sum(list_transform(
         range(0, CAST((blen + step - 1) // step AS INT)),
         i -> ('0x' || substr(hx, CAST(2 * i * step + 1 AS INT), 2))::INT))
       AS BIGINT) AS resized_byte_sum
FROM z
"""


@register("image_resize", oracle=_RESIZE_ORACLE, tags=("multimodal",))
def image_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image-resize plumbing through the Python boundary: decode dims,
    fit the longest side to 64 px (aspect preserved, never upscale),
    emit the resized blob — digested to (new dims, byte length, integer
    byte sum) so the SQL oracle re-derives the whole path including the
    resized CONTENT. Pins the deterministic decoder/resizer
    (functions/multimodal.py:resize_images): a PIL install must not
    change a hash-checked result; real-codec use just omits those args.

    Scale notes: single ``mapInPandas`` crossing — decode, box fit, and
    resize happen inside one Arrow batch; no blob ever crosses twice.
    The output digest columns are computed Python-side in the same
    pass, so the exchange after it carries scalars, not blobs.
    """
    docs = _t(spark, sf_dir, "documents")
    media = mm.synthesize_media_from_text(docs)
    out = mm.resize_images(
        media,
        max_side=_RESIZE_MAX_SIDE,
        decoder=mm.deterministic_decode,
        resizer=mm.deterministic_resize,
        # neither blob survives the select below: keep the source AND the
        # resized bytes from re-crossing the Arrow boundary (r11, §4.1)
        drop_cols=("content", "resized"),
    )
    return out.select(
        "doc_id",
        "width",
        "height",
        "new_width",
        "new_height",
        "resized_len",
        "resized_byte_sum",
    )


# ---------------------------------------------------------------------------
# Video frame sampling (fixed-stride, JVM-side)
# ---------------------------------------------------------------------------

_FRAME_BYTES = 256
_FRAME_EVERY_N = 2
_FRAME_MAX = 8

# The synthesized blob is 'RIFF' + UTF-8 text and the corpus is ASCII,
# so DuckDB's character-based substring over 'RIFF' || text slices the
# IDENTICAL bytes the Spark side slices out of the binary column (the
# same ASCII equivalence every multimodal oracle here relies on).
_FRAME_ORACLE = f"""
WITH c AS (SELECT doc_id, 'RIFF' || text AS content FROM documents),
i AS (SELECT unnest(range(0, {_FRAME_MAX})) AS frame_idx),
f AS (
  SELECT doc_id, frame_idx,
         substring(content,
                   frame_idx * {_FRAME_EVERY_N * _FRAME_BYTES} + 1,
                   {_FRAME_BYTES}) AS frame
  FROM c, i
)
SELECT doc_id, CAST(frame_idx AS BIGINT) AS frame_idx,
       CAST(length(frame) AS BIGINT) AS frame_len,
       md5(frame) AS frame_md5
FROM f WHERE length(frame) > 0
"""


@register("video_frame_sample", oracle=_FRAME_ORACLE, tags=("multimodal",))
def video_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-stride frame sampling over fixed-frame-size video blobs:
    every second 256-byte frame, up to 8 per blob, as
    (doc_id, frame_idx, length, md5 digest) rows — the frame
    -extraction plumbing of a video training pipeline
    (functions/multimodal.py:sample_frames). Frame CONTENT stays
    JVM-side (substring-on-binary + posexplode, no Python crossing);
    only scalar digests cross the driver boundary.

    Scale notes: map-only with a bounded 8-way explode — at 100 TB
    frames flow straight into an Arrow-batched decode stage (like
    resize_images) without any shuffle; the digest projection here
    stands in for that consumer. A real container format would swap
    the fixed-stride slicer for a keyframe-index lookup; the
    partitioning and schema shape are identical.
    """
    docs = _t(spark, sf_dir, "documents")
    media = mm.synthesize_media_from_text(docs)
    frames = mm.sample_frames(
        media,
        frame_bytes=_FRAME_BYTES,
        every_n=_FRAME_EVERY_N,
        max_frames=_FRAME_MAX,
    )
    return frames.select(
        "doc_id",
        F.col("frame_idx").cast("long").alias("frame_idx"),
        F.length("frame").cast("long").alias("frame_len"),
        F.md5("frame").alias("frame_md5"),
    )
