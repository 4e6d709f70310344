"""Baseline JPEG codec (operators/jpeg.py): roundtrip fidelity,
byte determinism, mode coverage (4:4:4 / 4:2:0 / gray / restart
intervals / odd dims), loud rejection of unsupported modes and corrupt
payloads, and the Spark decode path through extract_media_features.
The independent scalar implementation parity (encoder bytes, decoder
pixels) is pinned by the media_features driver gate fixture; here a
numpy-free spot check guards the same contract in-tree."""

from __future__ import annotations

import numpy as np
import pytest

from insurance_pdf_extractor_spark.operators.jpeg import (
    decode_jpeg,
    encode_jpeg,
    quality_tables,
)
from insurance_pdf_extractor_spark.operators.multimodal import synth_image


def _smooth(h=48, w=40):
    y, x = np.mgrid[0:h, 0:w]
    return np.stack(
        [(y * 3).clip(0, 255), (x * 4).clip(0, 255), (y + x).clip(0, 255)],
        axis=-1,
    ).astype(np.uint8)


@pytest.mark.parametrize(
    "kw",
    [
        {},
        {"subsample": True},
        {"restart_interval": 1},
        {"subsample": True, "restart_interval": 2},
        {"quality": 50},
        {"quality": 95, "subsample": True},
    ],
)
def test_roundtrip_smooth_fidelity(kw):
    img = _smooth()
    out = decode_jpeg(encode_jpeg(img, **kw))
    assert out.shape == img.shape and out.dtype == np.uint8
    d = out.astype(int) - img.astype(int)
    # smooth content at q>=50 must come back visually exact-ish; the
    # bound is loose enough to be robust, tight enough to catch any
    # block/zigzag/predictor transposition (those produce errors ~100+)
    assert np.abs(d).max() <= 12, kw
    assert float(np.sqrt((d.astype(float) ** 2).mean())) < 4.0, kw


@pytest.mark.parametrize("h,w", [(8, 8), (16, 16), (17, 23), (24, 24), (9, 40)])
def test_odd_dims_all_modes(h, w):
    img = synth_image(11, h, w)
    for kw in ({}, {"subsample": True}, {"subsample": True, "restart_interval": 2}):
        out = decode_jpeg(encode_jpeg(img, **kw))
        assert out.shape == (h, w, 3), (h, w, kw)


def test_grayscale_roundtrip():
    g = _smooth()[:, :, 0]
    out = decode_jpeg(encode_jpeg(g, quality=90))
    assert out.shape == (*g.shape, 3)
    assert (out[:, :, 0] == out[:, :, 1]).all() and (out[:, :, 0] == out[:, :, 2]).all()
    assert np.abs(out[:, :, 0].astype(int) - g.astype(int)).max() <= 12


def test_encode_deterministic():
    img = synth_image(42, 24, 24)
    a = encode_jpeg(img, quality=90, subsample=True, restart_interval=2)
    b = encode_jpeg(img, quality=90, subsample=True, restart_interval=2)
    assert a == b
    assert a[:2] == b"\xff\xd8" and a[-2:] == b"\xff\xd9"


def test_dc_only_boundary_block_is_deterministic():
    """The case that forced the fixed-point spec: a uniform block whose
    dequantized DC lands pixel values exactly on a .5 boundary rounds
    differently under float IDCTs evaluated in different orders. The
    integer IDCT must give one defined answer, stable across calls."""
    img = np.full((8, 8, 3), 123, dtype=np.uint8)
    outs = {decode_jpeg(encode_jpeg(img, quality=q)).tobytes() for q in (90, 90, 90)}
    assert len(outs) == 1
    out = decode_jpeg(encode_jpeg(img, quality=95))
    assert np.abs(out.astype(int) - 123).max() <= 2


def test_quality_tables_convention():
    lq50, _ = quality_tables(50)
    lq90, _ = quality_tables(90)
    lq10, _ = quality_tables(10)
    assert lq50[0] == 16            # q=50 is the Annex K base table
    assert all(a <= b for a, b in zip(lq90, lq50))  # finer quant at q90
    assert all(a <= b for a, b in zip(lq50, lq10))  # coarser quant at q10
    assert min(lq90) >= 1 and max(lq10) <= 255
    with pytest.raises(ValueError):
        quality_tables(0)


def test_unsupported_modes_raise_loudly():
    img = synth_image(1, 16, 16)
    b = bytearray(encode_jpeg(img))
    sof = b.find(b"\xff\xc0")
    # SOF2 is SUPPORTED since round 5 second half — but rewriting a
    # BASELINE stream's SOF marker yields a malformed progressive
    # stream (its one full-band interleaved scan is an illegal
    # progressive DC scan with Se=63) → ValueError, not a decode
    b[sof + 1] = 0xC2
    with pytest.raises(ValueError, match="Se=0"):
        decode_jpeg(bytes(b))
    b[sof + 1] = 0xC9
    with pytest.raises(NotImplementedError, match="arithmetic"):
        decode_jpeg(bytes(b))


def test_corrupt_payloads_raise_valueerror():
    img = synth_image(2, 16, 16)
    good = encode_jpeg(img, subsample=True)
    for bad in (b"", b"\x89PNG", good[:2], good[:40], good[: len(good) // 2]):
        with pytest.raises(ValueError):
            decode_jpeg(bad)


def test_scalar_fixture_parity_spot_check():
    """One in-tree guard of the make_fixtures contract: the independent
    scalar encoder produces the same bytes, the scalar decoder the same
    pixels (full coverage lives in the media_features gate fixture)."""
    import importlib.util
    from pathlib import Path

    p = Path(__file__).resolve().parents[1] / "tools" / "make_fixtures.py"
    spec = importlib.util.spec_from_file_location("mf_jpeg_spot", p)
    mf = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mf)
    img = synth_image(17, 24, 24)
    kb = encode_jpeg(img, quality=90, subsample=True, restart_interval=2)
    assert kb == mf._fx_jpeg_bytes(17)
    assert np.array_equal(decode_jpeg(kb), np.asarray(mf._fx_jpeg_decode(kb), dtype=np.uint8))


def test_spark_decode_path(spark):
    """synth_media_assets('jpeg') -> extract_media_features: real decode
    inside mapInPandas, poison-row discipline for a corrupt payload
    mixed into the batch."""
    import pandas as pd
    from pyspark.sql import functions as F

    from insurance_pdf_extractor_spark.operators.multimodal import (
        extract_media_features,
        synth_media_assets,
    )

    docs = spark.range(6).select(F.col("id").alias("doc_id"))
    assets = synth_media_assets(docs, "jpeg")
    corrupt = spark.createDataFrame(
        pd.DataFrame(
            {
                "media_ref": ["bad-1"],
                "kind": ["image"],
                "payload": [b"\xff\xd8\xff\xe0 garbage"],
                "mime": ["image/jpeg"],
            }
        )
    )
    out = extract_media_features(assets.unionByName(corrupt)).collect()
    by_ref = {r.media_ref: r for r in out}
    assert len(by_ref) == 7
    assert by_ref["bad-1"].features is None and by_ref["bad-1"].err is not None
    ok = [r for r in out if r.media_ref != "bad-1"]
    assert all(r.features is not None and len(r.features) == 19 for r in ok)
    # features match a local decode of the same spec'd payload
    from insurance_pdf_extractor_spark.operators.multimodal import bmp_features

    expect = bmp_features(decode_jpeg(encode_jpeg(synth_image(3, 24, 24), quality=90,
                                                  subsample=True, restart_interval=2)))
    got = list(by_ref["jpeg-3"].features)
    assert got == pytest.approx([float(np.float32(v)) for v in expect], abs=0)
