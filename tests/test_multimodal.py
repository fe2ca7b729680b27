"""Multimodal plumbing tests: JVM metadata/mime sniff over binary-file
blobs, Arrow-batched decode and resize (fake + injected codecs), frame
sampling, byte histogram features."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from grocery_store_sales_forecasting_etl_pipeline_spark.functions import multimodal as mm
from grocery_store_sales_forecasting_etl_pipeline_spark.plans._tables import table as _t

PNG = b"\x89PNG\r\n\x1a\n" + b"\x00" * 64
JPG = b"\xff\xd8\xff\xe0" + b"\x01" * 100
WAV = b"RIFF" + b"\x02" * 2048


def read_binary_dir(spark, path):
    """Blob ingestion: (path, modificationTime, length, content)."""
    return spark.read.format("binaryFile").load(path)


@pytest.fixture(scope="module")
def blob_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("blobs")
    (d / "a.png").write_bytes(PNG)
    (d / "b.jpg").write_bytes(JPG)
    (d / "c.wav").write_bytes(WAV)
    return str(d)


def test_binary_ingest_and_metadata(spark, blob_dir):
    df = mm.with_media_metadata(read_binary_dir(spark, blob_dir))
    rows = {r.path.split("/")[-1]: r for r in df.collect()}
    assert rows["a.png"].media_mime == "image/png"
    assert rows["b.jpg"].media_mime == "image/jpeg"
    assert rows["c.wav"].media_mime == "audio/wav"
    assert rows["c.wav"].media_len == len(WAV)
    import hashlib

    assert rows["a.png"].media_md5 == hashlib.md5(PNG).hexdigest()


def test_decode_fake_deterministic(spark, blob_dir):
    # no image library here: the default codec resolves to the fake pair
    df = read_binary_dir(spark, blob_dir)
    out1 = {r.path: (r.width, r.height, r.n_channels) for r in mm.resize_images(df).collect()}
    out2 = {r.path: (r.width, r.height, r.n_channels) for r in mm.resize_images(df).collect()}
    assert out1 == out2
    assert all(w >= 64 and h >= 64 and c == 3 for w, h, c in out1.values())


def test_decode_injected_decoder(spark, blob_dir):
    df = read_binary_dir(spark, blob_dir)
    out = mm.resize_images(
        df, decoder=lambda b: (len(b), 1, 1), resizer=lambda b, w, h: b
    ).collect()
    assert {r.width for r in out} == {len(PNG), len(JPG), len(WAV)}


def test_frame_sampling_jvm_side(spark, blob_dir):
    df = read_binary_dir(spark, blob_dir).filter(F.col("path").endswith("c.wav"))
    frames = mm.sample_frames(df, frame_bytes=256, every_n=2, max_frames=4).collect()
    # 2052-byte blob, stride 512: frames at offsets 0/512/1024/1536
    assert [r.frame_idx for r in frames] == [0, 1, 2, 3]
    assert all(len(r.frame) == 256 for r in frames[:4])


def test_byte_histogram_features(spark, blob_dir):
    df = read_binary_dir(spark, blob_dir)
    out = mm.byte_histogram_features(df, n_bins=64).collect()
    for r in out:
        assert len(r.features) == 64
        assert abs(sum(r.features) - 1.0) < 1e-3


def test_synthesized_media_pipeline(spark, sf_smoke):
    docs = _t(spark, sf_smoke, "documents").limit(50)
    media = mm.with_media_metadata(mm.synthesize_media_from_text(docs))
    rows = media.collect()
    assert len(rows) == 50
    assert all(r.media_mime == "audio/wav" for r in rows)  # RIFF magic
    feats = mm.byte_histogram_features(media).first()
    assert len(feats.features) == 64


def test_pcm_energy_windows_framing(spark):
    """Deterministic framing: odd trailing byte dropped, partial tail
    window dropped, energy matches a hand computation."""
    # 256 samples of value 3 -> one full window; +1 stray sample +1 odd byte
    blob = (b"\x03\x00" * 256) + (b"\x05\x00") + b"\x09"
    df = spark.createDataFrame([(1, bytearray(blob))], "doc_id long, content binary")
    rows = mm.pcm_energy_windows(df).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.doc_id, r.window_idx, r.n_samples) == (1, 0, 256)
    assert r.energy == 9 * 256  # 256 samples of 3^2
    assert abs(r.rms - 3.0) < 1e-9
    # negative samples: -2 little-endian is FE FF
    neg = b"\xfe\xff" * 256
    df2 = spark.createDataFrame([(2, bytearray(neg))], "doc_id long, content binary")
    r2 = mm.pcm_energy_windows(df2).collect()[0]
    assert r2.energy == 4 * 256 and abs(r2.rms - 2.0) < 1e-9
    # too short for one window -> no rows
    df3 = spark.createDataFrame([(3, bytearray(b"\x01\x00" * 10))], "doc_id long, content binary")
    assert mm.pcm_energy_windows(df3).count() == 0


def test_pcm_energy_windows_honors_id_col(spark):
    """A non-default id_col must name the output column after itself
    (it used to hardcode doc_id)."""
    payload = (b"\x01\x00" * 256)
    df = spark.createDataFrame([(7, payload)], "blob_id long, content binary")
    out = mm.pcm_energy_windows(df, id_col="blob_id")
    assert out.columns[0] == "blob_id"
    rows = out.collect()
    assert len(rows) == 1 and rows[0].blob_id == 7 and rows[0].energy == 256


def test_resize_images_fake_path(spark, blob_dir):
    """Resize plumbing: dims fit the box, content matches the exact
    stride-subsample the fake resizer defines, digests agree with a
    local recompute. Pins the deterministic codec explicitly (like the
    registered image_resize query): the fixtures aren't real images and
    the assertions are fake-path digests, so auto-resolving to PIL on a
    machine that has it would fail for environment reasons."""
    import hashlib

    df = read_binary_dir(spark, blob_dir)
    out = {
        r.path.split("/")[-1]: r
        for r in mm.resize_images(
            df,
            max_side=64,
            decoder=mm.deterministic_decode,
            resizer=mm.deterministic_resize,
        ).collect()
    }
    raw = {"a.png": PNG, "b.jpg": JPG, "c.wav": WAV}
    for name, r in out.items():
        data = raw[name]
        h = hashlib.md5(data).digest()
        w, hh = 64 + h[0] % 192, 64 + h[1] % 192
        assert (r.width, r.height) == (w, hh)
        assert max(r.new_width, r.new_height) <= 64
        assert r.new_width >= 1 and r.new_height >= 1
        # aspect preserved within floor rounding
        scale = min(1.0, 64 / max(w, hh))
        assert r.new_width == max(1, int(w * scale))
        assert r.new_height == max(1, int(hh * scale))
        step = max(1, len(data) // max(1, r.new_width * r.new_height))
        expect = data[::step]
        assert bytes(r.resized) == expect
        assert r.resized_len == len(expect)
        assert r.resized_byte_sum == sum(expect)


def test_resize_images_injected_resizer(spark, blob_dir):
    df = read_binary_dir(spark, blob_dir)
    out = mm.resize_images(
        df,
        decoder=lambda b: (128, 32, 3),
        resizer=lambda b, w, h: bytes([w, h]),
    ).collect()
    for r in out:
        assert (r.new_width, r.new_height) == (64, 16)
        assert bytes(r.resized) == bytes([64, 16])


def test_temperature_mixture_flattens(spark, sf_oracle):
    """Selection rate per source is quota/n_s (binomial tolerance), the
    draw is reproducible, and the per-doc uniform u matches the rate
    test (u * n_s < quota * 16^6) recomputed locally."""
    from grocery_store_sales_forecasting_etl_pipeline_spark.plans.textops import (
        temperature_mixture_sample,
    )

    sel = temperature_mixture_sample(spark, sf_oracle)
    rows = sel.collect()
    by_source = {}
    for r in rows:
        by_source.setdefault(r.source, []).append(r)
    for src, picked in by_source.items():
        n_s, quota = picked[0].source_docs, picked[0].source_quota
        # expected quota docs, binomial sd = sqrt(q(1-q/n)) — allow 4 sd
        sd = (quota * max(0.0, 1 - quota / n_s)) ** 0.5
        assert abs(len(picked) - quota) <= 4 * sd + 3, (src, len(picked), quota)
    # recompute membership locally: selected iff u * n_s < quota * 16^6
    import hashlib

    docs = _t(spark, sf_oracle, "documents").select("doc_id", "source").collect()
    n_by_src = {}
    for d in docs:
        n_by_src[d.source] = n_by_src.get(d.source, 0) + 1
    import math

    ids = {r.doc_id for r in rows}
    for d in docs:
        n_s = n_by_src[d.source]
        quota = math.ceil(math.sqrt(n_s)) * 4
        u = int(hashlib.md5(str(d.doc_id).encode()).hexdigest()[:6], 16)
        assert (u * n_s < quota * 16**6) == (d.doc_id in ids), d.doc_id


def test_resize_images_rejects_half_injected_codec(spark, blob_dir):
    """decoder/resizer must come as a pair — mixing a custom callable
    with the auto-resolved counterpart pairs incompatible codecs."""
    import pytest

    df = read_binary_dir(spark, blob_dir)
    with pytest.raises(ValueError, match="BOTH decoder= and resizer="):
        mm.resize_images(df, decoder=lambda b: (1, 1, 1))
    with pytest.raises(ValueError, match="BOTH decoder= and resizer="):
        mm.resize_images(df, resizer=lambda b, w, h: b)


def test_drop_cols_prunes_return_batches(spark, blob_dir):
    """drop_cols excludes heavy columns from the Python->JVM return
    batches (Catalyst cannot prune through mapInPandas) while every
    kept column is value-identical to the unpruned build."""
    df = read_binary_dir(spark, blob_dir).select("path", "content")

    full = mm.byte_histogram_features(df)
    pruned = mm.byte_histogram_features(df, drop_cols=("content",))
    assert set(pruned.columns) == {"path", "features"}
    a = {r["path"]: r["features"] for r in full.select("path", "features").collect()}
    b = {r["path"]: r["features"] for r in pruned.collect()}
    assert a == b

    rz_full = mm.resize_images(
        df, decoder=mm.deterministic_decode, resizer=mm.deterministic_resize
    )
    rz = mm.resize_images(
        df,
        decoder=mm.deterministic_decode,
        resizer=mm.deterministic_resize,
        drop_cols=("content", "resized"),
    )
    assert "content" not in rz.columns and "resized" not in rz.columns
    keep = [c for c in rz.columns]
    a = sorted(map(tuple, rz_full.select(*keep).collect()))
    b = sorted(map(tuple, rz.collect()))
    assert a == b
