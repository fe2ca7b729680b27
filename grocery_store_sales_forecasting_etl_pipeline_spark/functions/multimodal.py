"""Multimodal (image/audio/video) column support.

Design: media travel as opaque ``binary`` columns plus typed metadata
(mime, byte length, content hash) — the lakehouse-standard layout for
training-data pipelines. The Spark-side plumbing (schemas, metadata
extraction, Arrow-batched decode, frame slicing, feature extraction) is
real and tested; the pixel/sample DECODERS are import-gated because this
container ships no image/audio libraries: with PIL/soundfile installed
the real decoder runs, otherwise a clearly-marked deterministic fake (or
NotImplementedError in strict mode) stands in.

Scale notes
-----------
- metadata extraction (mime sniff, md5, length) is pure JVM expressions —
  map-only over 100 TB of blobs, no Python.
- decode/feature extraction uses ``mapInPandas`` so bytes cross to Python
  once per Arrow batch (not per row); batch size is bounded by
  ``spark.sql.execution.arrow.maxRecordsPerBatch`` — size it so
  batch_rows × max_blob_bytes fits executor memory.
- ``spark.read.format("binaryFile")`` is the ingestion source for blob
  dirs (path, modificationTime, length, content).
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    FloatType,
    LongType,
    StringType,
    StructField,
    StructType,
)

# magic-byte prefixes → mime (hex-uppercase as produced by F.hex)
_MAGIC = (
    ("89504E47", "image/png"),
    ("FFD8FF", "image/jpeg"),
    ("47494638", "image/gif"),
    ("52494646", "audio/wav"),  # RIFF container (wav/avi; audio default)
    ("664C6143", "audio/flac"),
)


def _pruned_output(
    fields: list[StructField], drop_cols: tuple[str, ...] | list[str]
) -> StructType:
    """Output schema for a mapInPandas featurizer minus ``drop_cols``.

    Why this exists (r11, guide §4.1): Catalyst cannot column-prune
    THROUGH an opaque Python function — every column in the declared
    output schema is serialized Python→JVM for every batch, so a
    featurizer that re-emits its input blob ships the heavy bytes back
    across Arrow just for the next Project to drop them. Callers that
    only keep scalars pass the blob columns here and the bytes cross
    the boundary exactly once (inbound)."""
    return StructType([f for f in fields if f.name not in set(drop_cols)])


def with_media_metadata(df: DataFrame, content_col: str = "content") -> DataFrame:
    """Typed metadata columns from a binary column — JVM-only: byte
    length, md5 content hash, magic-byte mime sniff."""
    prefix = F.hex(F.substring(F.col(content_col), 1, 8))
    mime = F.lit("application/octet-stream")
    for magic, m in reversed(_MAGIC):
        mime = F.when(prefix.startswith(magic), F.lit(m)).otherwise(mime)
    return (
        df.withColumn("media_len", F.length(F.col(content_col)).cast("long"))
        .withColumn("media_md5", F.md5(F.col(content_col)))
        .withColumn("media_mime", mime)
    )


def sample_frames(
    df: DataFrame,
    content_col: str = "content",
    frame_bytes: int = 1024,
    every_n: int = 10,
    max_frames: int = 8,
) -> DataFrame:
    """Fixed-stride frame sampling for fixed-frame-size video blobs,
    entirely JVM-side: each output row is (source row, frame_idx,
    frame binary) via substring-on-binary + posexplode. No Python."""
    idx = F.sequence(F.lit(0), F.lit(max_frames - 1))
    frames = F.transform(
        idx,
        lambda i: F.substring(
            F.col(content_col), i * every_n * frame_bytes + 1, frame_bytes
        ),
    )
    exploded = df.withColumn("__frames", frames).select(
        "*", F.posexplode("__frames").alias("frame_idx", "frame")
    )
    return exploded.filter(F.length("frame") > 0).drop("__frames")


# ---------------------------------------------------------------------------
# Arrow-batched decode / feature extraction (the Python boundary)
# ---------------------------------------------------------------------------

DECODED_SCHEMA_FIELDS = [
    StructField("width", LongType()),
    StructField("height", LongType()),
    StructField("n_channels", LongType()),
]


# decoder factories return DYNAMIC closures: cloudpickle serializes those
# by value into the UDF, so executors never need this repo importable
# (module-level defs pickle by reference → ModuleNotFoundError on workers
# when the driver runs outside the repo directory)


def _make_fake_decode():
    def fake_decode(data: bytes) -> tuple[int, int, int]:
        """Deterministic stand-in decoder (container has no image libs):
        derives a plausible (width, height, channels) from the content
        hash. CLEARLY A FAKE — replace by the PIL path in deployments."""
        import hashlib

        h = hashlib.md5(data).digest()
        return (64 + h[0] % 192, 64 + h[1] % 192, 3)

    return fake_decode


def _make_real_decode():
    def real_decode(data: bytes) -> tuple[int, int, int]:
        from io import BytesIO

        from PIL import Image  # noqa: PLC0415 — import-gated on purpose

        with Image.open(BytesIO(data)) as im:
            return (im.width, im.height, len(im.getbands()))

    return real_decode


_fake_decode = _make_fake_decode()
_real_decode = _make_real_decode()


def _make_fake_resize():
    def fake_resize(data: bytes, new_w: int, new_h: int) -> bytes:
        """Deterministic stand-in resizer (no image libs in container):
        stride-subsamples the raw bytes down to roughly the target pixel
        budget. CLEARLY A FAKE — the PIL path replaces it in
        deployments; the Spark-side plumbing around it is real."""
        step = max(1, len(data) // max(1, new_w * new_h))
        return data[::step]

    return fake_resize


def _make_real_resize():
    def real_resize(data: bytes, new_w: int, new_h: int) -> bytes:
        from io import BytesIO

        from PIL import Image  # noqa: PLC0415 — import-gated on purpose

        with Image.open(BytesIO(data)) as im:
            return im.resize((new_w, new_h)).tobytes()

    return real_resize


_fake_resize = _make_fake_resize()
_real_resize = _make_real_resize()

# public handles: queries that need an ENGINE-REPRODUCIBLE digest pin the
# deterministic path explicitly (a PIL install must not change a
# hash-checked result); pipelines wanting real codecs omit the args
deterministic_decode = _fake_decode
deterministic_resize = _fake_resize


def resize_images(
    df: DataFrame,
    content_col: str = "content",
    max_side: int = 64,
    strict: bool = False,
    decoder: Callable[[bytes], tuple[int, int, int]] | None = None,
    resizer: Callable[[bytes, int, int], bytes] | None = None,
    drop_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Image resize via ``mapInPandas``: decode dims, fit the longest
    side to ``max_side`` (aspect preserved, never upscale, floor to
    ints, min 1 px), and emit the resized blob plus audit columns
    (``new_width/new_height/resized/resized_len/resized_byte_sum``).
    Decoder/resizer resolution: explicit args →
    PIL if importable → deterministic fake (or NotImplementedError when
    ``strict``). The dims arithmetic is plain IEEE double ops
    (``floor(w * (max_side / max(w, h)))``) so an external SQL oracle
    reproduces it bit-for-bit; ``resized_byte_sum`` (integer sum of the
    resized bytes) puts the fake path's CONTENT under the same check.

    Scale notes: one Python crossing per Arrow batch; the blob never
    round-trips back — resized bytes are produced in the same batch the
    source bytes arrive in. Size ``arrow.maxRecordsPerBatch`` so
    batch_rows × max_blob_bytes fits executor memory.
    """
    import pandas as pd

    # decoder and resizer must agree on what the bytes ARE (a fake
    # decoder's dims fed to PIL's resizer crashes on non-image bytes, and
    # vice versa silently mixes codecs) — require both-or-neither so the
    # pair always resolves atomically from the same source
    if (decoder is None) != (resizer is None):
        raise ValueError(
            "resize_images: pass BOTH decoder= and resizer= or NEITHER — "
            "mixing a custom callable with the auto-resolved counterpart "
            "pairs incompatible codecs"
        )

    out_schema = _pruned_output(
        list(df.schema.fields)
        + DECODED_SCHEMA_FIELDS
        + [
            StructField("new_width", LongType()),
            StructField("new_height", LongType()),
            StructField("resized", BinaryType()),
            StructField("resized_len", LongType()),
            StructField("resized_byte_sum", LongType()),
        ],
        drop_cols,
    )
    keep = [f.name for f in out_schema.fields]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        dec, rsz = decoder, resizer
        if dec is None and rsz is None:
            try:
                import PIL  # noqa: F401

                dec, rsz = _real_decode, _real_resize
            except ImportError:
                if strict:
                    raise NotImplementedError(
                        "no image codec available: install PIL or pass "
                        "decoder=/resizer="
                    )
                dec, rsz = _fake_decode, _fake_resize
        for pdf in batches:
            rows = []
            for b in pdf[content_col]:
                data = bytes(b)
                w, h, ch = dec(data)
                scale = min(1.0, max_side / max(w, h))
                nw = max(1, int(w * scale))
                nh = max(1, int(h * scale))
                out = rsz(data, nw, nh)
                rows.append((w, h, ch, nw, nh, out, len(out), sum(out)))
            pdf = pdf.copy()
            for i, c in enumerate(
                ["width", "height", "n_channels", "new_width", "new_height",
                 "resized", "resized_len", "resized_byte_sum"]
            ):
                pdf[c] = [r[i] for r in rows]
            yield pdf[keep]

    return df.mapInPandas(run, schema=out_schema)


def byte_histogram_features(
    df: DataFrame,
    content_col: str = "content",
    n_bins: int = 64,
    drop_cols: tuple[str, ...] = (),
) -> DataFrame:
    """L1-normalized byte-value histogram feature vector per blob — a
    real, deterministic featurizer (numpy bincount in Arrow batches),
    the plumbing template for embedding extractors. ``drop_cols``
    excludes input columns (typically the blob itself) from the RETURN
    batches — see ``_pruned_output``."""
    import numpy as np
    import pandas as pd

    out_schema = _pruned_output(
        list(df.schema.fields) + [StructField("features", ArrayType(FloatType()))],
        drop_cols,
    )
    keep = [f.name for f in out_schema.fields]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = []
            for b in pdf[content_col]:
                arr = np.frombuffer(bytes(b), dtype=np.uint8)
                hist = np.bincount(arr >> (8 - n_bins.bit_length() + 1), minlength=n_bins)[
                    :n_bins
                ].astype("float64")
                total = hist.sum() or 1.0
                feats.append((hist / total).astype("float32").tolist())
            pdf = pdf.copy()
            pdf["features"] = feats
            yield pdf[keep]

    return df.mapInPandas(run, schema=out_schema)


def synthesize_media_from_text(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Deterministic binary blobs from a text column (UTF-8 bytes with a
    fake RIFF header) — lets the multimodal plumbing run against the
    driver's text-only test tables."""
    content = F.concat(
        F.unhex(F.lit("52494646")),  # RIFF magic
        F.encode(F.col(text_col), "UTF-8"),
    )
    return df.select(F.col(id_col), content.alias("content"))


def pcm_energy_windows(
    df: DataFrame,
    content_col: str = "content",
    id_col: str = "doc_id",
    window_samples: int = 256,
) -> DataFrame:
    """Audio-style featurization: interpret a binary column as
    little-endian int16 PCM, emit one row per FULL window of
    ``window_samples`` samples with its integer energy (Σ s²) and RMS —
    the windowed-feature plumbing a real audio pipeline (VAD, loudness
    normalization, silence trimming) runs, exercised here on synthetic
    blobs. Arrow-batched ``mapInPandas``; an odd trailing byte and any
    partial tail window are dropped (deterministic framing).

    Energy stays integer (exact across engines); RMS = sqrt(energy/n)
    relies only on one IEEE division + correctly-rounded sqrt.
    """
    import numpy as np
    import pandas as pd

    # output id column named after id_col, not hardcoded — a non-default
    # id_col must not yield a misnamed column
    out_schema = StructType(
        [
            StructField(id_col, LongType()),
            StructField("window_idx", LongType()),
            StructField("n_samples", LongType()),
            StructField("energy", LongType()),
            StructField("rms", DoubleType()),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, widx, energies = [], [], []
            for i, b in zip(pdf[id_col], pdf[content_col]):
                if b is None:
                    continue  # null blob -> no windows, don't kill the task
                raw = bytes(b)
                n_win = (len(raw) // 2) // window_samples
                if n_win == 0:
                    continue
                # vectorized framing: one reshape + row-wise dot per blob,
                # no Python-level per-window loop
                samples = np.frombuffer(
                    raw[: n_win * window_samples * 2], dtype="<i2"
                ).astype("int64")
                chunks = samples.reshape(n_win, window_samples)
                ids.extend([i] * n_win)
                widx.extend(range(n_win))
                energies.extend((chunks * chunks).sum(axis=1).tolist())
            out = pd.DataFrame(
                {
                    id_col: pd.Series(ids, dtype="int64"),
                    "window_idx": pd.Series(widx, dtype="int64"),
                    "n_samples": pd.Series([window_samples] * len(ids), dtype="int64"),
                    "energy": pd.Series(energies, dtype="int64"),
                }
            )
            # half-away rounding to mirror DuckDB's round() (np.round is
            # half-even); rms >= 0 so floor(x*1e6 + 0.5) is half-away
            out["rms"] = (
                np.floor(np.sqrt(out["energy"] / float(window_samples)) * 1e6 + 0.5)
                / 1e6
            )
            yield out

    return df.select(id_col, content_col).mapInPandas(run, schema=out_schema)
