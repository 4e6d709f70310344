"""Real codec-free media decode: BMP/WAV round-trips, feature values
against hand arithmetic, MP4 frame samples through feature extraction
in Spark, and poison-row behavior on corrupt payloads.

Reference parity anchor: the reference treats uploaded documents as
opaque bytes plus MIME metadata (/root/reference/app/services/storage.py);
here media columns get the same opaque-binary treatment with REAL decode
for formats the container can handle without PIL/ffmpeg.
"""

import math
import struct

import numpy as np
import pytest
from pyspark.sql import functions as F

from insurance_pdf_extractor_spark.operators.multimodal import (
    bmp_features,
    decode_bmp,
    decode_media,
    decode_wav,
    encode_bmp,
    encode_wav,
    extract_media_features,
    resize_area,
    synth_audio,
    synth_image,
    synth_media_assets,
    wav_features,
)


def test_bmp_roundtrip_and_padding():
    # w=5 -> 15-byte rows padded to 16: exercises the stride math
    img = (np.arange(7 * 5 * 3, dtype=np.uint8).reshape(7, 5, 3) * 3) % 256
    payload = encode_bmp(img)
    assert payload[:2] == b"BM"
    stride = (5 * 3 + 3) & ~3
    assert len(payload) == 54 + stride * 7
    assert (decode_bmp(payload) == img).all()


def test_bmp_top_down_height():
    img = synth_image(11, h=4, w=4)
    b = bytearray(encode_bmp(img))
    struct.pack_into("<i", b, 22, -4)  # negative height = top-down rows
    assert (decode_bmp(bytes(b)) == img[::-1]).all()


@pytest.mark.parametrize("bad", [b"", b"BMxx", None])
def test_bmp_rejects_garbage(bad):
    with pytest.raises((ValueError, TypeError)):
        decode_bmp(bad if bad is not None else b"\x00" * 60)


def test_bmp_rejects_truncated_body():
    payload = encode_bmp(synth_image(1))
    with pytest.raises(ValueError):
        decode_bmp(payload[: len(payload) // 2])


def test_bmp_feature_hand_values():
    # constant image: every mean is the constant / 255
    img = np.full((8, 8, 3), 51, dtype=np.uint8)
    feats = bmp_features(img)
    assert len(feats) == 19
    assert all(abs(v - 0.2) < 1e-12 for v in feats)


def test_wav_roundtrip_mono():
    s = synth_audio(42, n=320)
    payload = encode_wav(s, 8000)
    out, rate = decode_wav(payload)
    assert rate == 8000
    assert (out == s).all()


def test_wav_stereo_downmix():
    import io
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(2)
        wf.setsampwidth(2)
        wf.setframerate(16000)
        wf.writeframes(np.array([100, 200, -101, -200], dtype="<i2").tobytes())
    out, rate = decode_wav(buf.getvalue())
    assert rate == 16000
    # integer floor-div downmix: (-101 + -200) // 2 = -151 (floor, not trunc)
    assert list(out) == [150, -151]


def test_wav_feature_hand_values():
    # square wave +1000/-1000: rms = 1000/32768, zcr = 1/(n-1) per flip
    s = np.array([1000, -1000] * 400, dtype=np.int16)
    d, rms, zcr, *seg = wav_features(s, 8000)
    assert d == 800 / 8000
    assert abs(rms - 1000 / 32768.0) < 1e-12
    assert zcr == 799 / 799.0
    assert all(abs(v - 1000 / 32768.0) < 1e-12 for v in seg)
    assert len(seg) == 8


def test_wav_features_empty():
    assert wav_features(np.array([], dtype=np.int16), 8000) == [0.0] * 11


def test_decode_media_dispatch():
    img = synth_image(5)
    feats = decode_media(encode_bmp(img), "image/bmp")
    assert feats == bmp_features(img)
    s = synth_audio(5)
    feats = decode_media(encode_wav(s, 8000), "audio/x-wav")
    assert feats == wav_features(s, 8000)
    # jpeg dispatches to the real codec as of r5: corrupt bytes are a
    # ValueError (poison row), not an unimplemented seam
    with pytest.raises(ValueError):
        decode_media(b"x", "image/jpeg")
    # remaining codec formats stay an explicit seam
    for mime in ("audio/mpeg", "video/mp4", None):
        with pytest.raises(NotImplementedError):
            decode_media(b"x", mime)


def test_resize_area_exact_blocks():
    a = np.arange(16, dtype=np.int64).reshape(4, 4)
    r = resize_area(a, 2, 2)
    assert r.tolist() == [[2.5, 4.5], [10.5, 12.5]]


def test_resize_area_fractional_preserves_mean():
    a = np.arange(35, dtype=np.int64).reshape(5, 7)
    r = resize_area(a, 2, 3)
    assert r.shape == (2, 3)
    # area weighting preserves the global mean exactly
    assert abs(r.mean() - a.mean()) < 1e-9


def test_extract_media_features_real_decode(spark):
    """End-to-end Spark path: synthesized BMP+WAV assets through the
    real decoder; one corrupt payload poison-rows instead of failing
    the batch."""
    docs = spark.range(4).withColumnRenamed("id", "doc_id")
    assets = synth_media_assets(docs, "bmp").unionByName(synth_media_assets(docs, "wav"))
    bad = spark.createDataFrame(
        [("bad-1", "image", b"not a bmp", "image/bmp")],
        "media_ref string, kind string, payload binary, mime string",
    )
    rows = {r["media_ref"]: r for r in extract_media_features(assets.unionByName(bad)).collect()}
    assert len(rows) == 9
    for d in range(4):
        br = rows[f"bmp-{d}"]
        assert br["err"] is None
        expect = bmp_features(synth_image(d))
        assert np.allclose(br["features"], expect, atol=1e-6)
        wr = rows[f"wav-{d}"]
        assert wr["err"] is None
        expect = wav_features(synth_audio(d), 8000)
        assert np.allclose(wr["features"], expect, atol=1e-6)
    assert rows["bad-1"]["features"] is None
    assert "ValueError" in rows["bad-1"]["err"]


def test_frame_sample_into_feature_extraction(spark):
    """The full video path: MP4 -> sampled frames -> real BMP feature
    extraction, all executor-side."""
    from insurance_pdf_extractor_spark.operators.containers import encode_mp4, sample_frames_mp4

    frames = [encode_bmp(synth_image(i, h=4, w=4)) for i in range(4)]
    mp4 = encode_mp4(frames, [500] * 4, timescale=1000)
    assets = spark.createDataFrame([("v1", mp4)], "media_ref string, payload binary")
    sampled = sample_frames_mp4(assets, every_ms=1000)
    as_assets = sampled.select(
        F.concat_ws("#", "media_ref", F.col("frame_ts").cast("string")).alias("media_ref"),
        F.lit("image").alias("kind"),
        F.col("frame_payload").alias("payload"),
        F.lit("image/bmp").alias("mime"),
    )
    rows = {r["media_ref"]: r for r in extract_media_features(as_assets).collect()}
    assert set(rows) == {"v1#0", "v1#1000"}
    assert np.allclose(rows["v1#1000"]["features"], bmp_features(synth_image(2, h=4, w=4)), atol=1e-6)


# --- PNG (stdlib-zlib real codec, new r5) ------------------------------


def _png_wrap(ihdr_fields, idat_raw):
    import struct as st
    import zlib

    def chunk(tag, data):
        return st.pack(">I", len(data)) + tag + data + st.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)

    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", st.pack(">IIBBBBB", *ihdr_fields))
        + chunk(b"IDAT", zlib.compress(idat_raw, 6))
        + chunk(b"IEND", b"")
    )


def test_png_roundtrip_and_fixture_byte_identity():
    from insurance_pdf_extractor_spark.operators import multimodal as mm
    from tools.make_fixtures import _fx_png_bytes

    for doc_id in (0, 7, 59):
        img = mm.synth_image(doc_id)
        b = mm.encode_png(img)
        assert (mm.decode_png(b) == img).all()
        assert b == _fx_png_bytes(doc_id)  # independent encoder, same bytes


def test_png_all_five_filters_decode():
    """decode_png undoes every scanline filter the spec defines —
    pinned against an independent forward filterer."""
    import numpy as np
    from png_rows import png_filter_rows

    from insurance_pdf_extractor_spark.operators import multimodal as mm

    rng = np.random.RandomState(11)
    img = rng.randint(0, 256, size=(10, 6, 3)).astype(np.uint8)
    for filters in ([0, 1, 2, 3, 4, 0, 4, 3, 2, 1], [4] * 10, [3] * 10, [1] * 10, [2] * 10):
        raw = png_filter_rows(img.reshape(10, -1), filters, 3)
        payload = _png_wrap((6, 10, 8, 2, 0, 0, 0), raw)
        assert (mm.decode_png(payload) == img).all(), filters


def test_png_rgba_drops_alpha():
    import numpy as np

    from insurance_pdf_extractor_spark.operators import multimodal as mm

    rgba = np.arange(4 * 3 * 4, dtype=np.uint8).reshape(3, 4, 4)
    raw = bytearray()
    for y in range(3):
        raw.append(0)
        raw.extend(rgba[y].tobytes())
    payload = _png_wrap((4, 3, 8, 6, 0, 0, 0), bytes(raw))
    assert (mm.decode_png(payload) == rgba[:, :, :3]).all()


def test_png_rejects_bad_inputs():
    import pytest as pt
    import struct as st
    import zlib

    from insurance_pdf_extractor_spark.operators import multimodal as mm

    img = mm.synth_image(1)
    good = mm.encode_png(img)
    with pt.raises(ValueError):
        mm.decode_png(b"not a png")
    with pt.raises(ValueError):
        mm.decode_png(good[:40])  # truncated chunk
    corrupt = bytearray(good)
    corrupt[-5] ^= 0xFF  # flip a bit in IEND's CRC
    with pt.raises(ValueError, match="CRC"):
        mm.decode_png(bytes(corrupt))
    # palette (color type 3) is an explicit NotImplementedError seam
    raw = bytes([0] * (1 + 4))
    pal = _png_wrap((4, 1, 8, 3, 0, 0, 0), raw)
    with pt.raises(NotImplementedError):
        mm.decode_png(pal)
    # Adam7 interlace rejected
    inter = _png_wrap((4, 1, 8, 2, 0, 0, 1), raw)
    with pt.raises(NotImplementedError):
        mm.decode_png(inter)
    # declared size inconsistent with inflated bytes
    short = _png_wrap((16, 16, 8, 2, 0, 0, 0), b"\x00" * 10)
    with pt.raises(ValueError, match="length mismatch"):
        mm.decode_png(short)


def test_decode_media_dispatches_png():
    from insurance_pdf_extractor_spark.operators import multimodal as mm

    img = mm.synth_image(3)
    got = mm.decode_media(mm.encode_png(img), "image/png")
    assert got == mm.bmp_features(img)  # same pixels -> same 19-dim feature
