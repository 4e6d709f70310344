"""Progressive JPEG (SOF2, T.81 Annex G): the progressive encoder
produces coefficients identical to the baseline encoder, so decoding
both must be BIT-EQUAL — that equality (against the fixture-pinned
baseline path) is the value oracle for every spectral-selection /
successive-approximation / EOB-run / refinement code path. Hostile
discipline matches the other codecs: corrupt streams raise ValueError,
never anything else."""

from __future__ import annotations

import random
import sys
from pathlib import Path

import numpy as np
import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from insurance_pdf_extractor_spark.operators.jpeg import (
    decode_jpeg,
    encode_jpeg,
    encode_jpeg_progressive,
)


def synth(seed: int, h: int, w: int, gray: bool = False) -> np.ndarray:
    rng = np.random.default_rng(seed)
    shape = (h, w) if gray else (h, w, 3)
    return rng.integers(0, 256, shape).astype(np.uint8)


def gradient(h: int, w: int) -> np.ndarray:
    y, x = np.mgrid[0:h, 0:w]
    return np.stack(
        [(x * 3) % 256, (y * 5) % 256, ((x + y) * 2) % 256], axis=-1
    ).astype(np.uint8)


@pytest.mark.parametrize("h,w", [(8, 8), (1, 1), (7, 5), (16, 16), (64, 48), (129, 65)])
@pytest.mark.parametrize("subsample", [False, True])
def test_progressive_equals_baseline(h, w, subsample):
    img = synth(h * 100 + w, h, w)
    base = decode_jpeg(encode_jpeg(img, quality=85, subsample=subsample))
    prog = decode_jpeg(encode_jpeg_progressive(img, quality=85, subsample=subsample))
    assert np.array_equal(base, prog)


def test_progressive_grayscale_and_flat():
    g = synth(9, 33, 40, gray=True)
    assert np.array_equal(
        decode_jpeg(encode_jpeg(g)), decode_jpeg(encode_jpeg_progressive(g))
    )
    # flat image: every AC scan is one long EOB run across all blocks
    flat = np.full((48, 56, 3), 130, np.uint8)
    assert np.array_equal(
        decode_jpeg(encode_jpeg(flat)), decode_jpeg(encode_jpeg_progressive(flat))
    )
    grad = gradient(40, 100)
    assert np.array_equal(
        decode_jpeg(encode_jpeg(grad, subsample=True)),
        decode_jpeg(encode_jpeg_progressive(grad, subsample=True)),
    )


def test_custom_scan_scripts():
    img = synth(4, 33, 50)
    base = decode_jpeg(encode_jpeg(img, quality=80))
    scripts = [
        # spectral selection only (no successive approximation)
        [([0, 1, 2], 0, 0, 0, 0)] + [([c], 1, 63, 0, 0) for c in (0, 1, 2)],
        # fine-grained bands incl. a single-coefficient band
        [([0, 1, 2], 0, 0, 0, 0)]
        + [([c], s, e, 0, 0) for c in (0, 1, 2) for (s, e) in ((1, 1), (2, 9), (10, 35), (36, 63))],
        # deep DC successive approximation, refinements out of order
        [([0, 1, 2], 0, 0, 0, 3), ([0, 1, 2], 0, 0, 2, 1)]
        + [([c], 1, 63, 0, 0) for c in (0, 1, 2)]
        + [([0, 1, 2], 0, 0, 3, 2), ([0, 1, 2], 0, 0, 1, 0)],
        # non-interleaved DC scans (one component per DC scan)
        [([0], 0, 0, 0, 1), ([1], 0, 0, 0, 1), ([2], 0, 0, 0, 1)]
        + [([c], 1, 63, 0, 1) for c in (0, 1, 2)]
        + [([0], 0, 0, 1, 0), ([1], 0, 0, 1, 0), ([2], 0, 0, 1, 0)]
        + [([c], 1, 63, 1, 0) for c in (0, 1, 2)],
    ]
    for i, sc in enumerate(scripts):
        prog = decode_jpeg(encode_jpeg_progressive(img, quality=80, scans=sc))
        assert np.array_equal(base, prog), f"script {i}"


@pytest.mark.parametrize("ri", [1, 2, 5])
def test_progressive_restart_intervals(ri):
    img = synth(11, 40, 56)
    base = decode_jpeg(encode_jpeg(img, quality=80, subsample=True))
    prog = decode_jpeg(
        encode_jpeg_progressive(img, quality=80, subsample=True, restart_interval=ri)
    )
    assert np.array_equal(base, prog)


def test_ac_refine_zrl_path():
    """Sparse high-frequency content drives long zero-history runs
    (ZRL emission inside refinement scans)."""
    img = np.zeros((32, 32, 3), np.uint8)
    img[::7, ::5] = 255  # isolated spikes → sparse AC with long runs
    base = decode_jpeg(encode_jpeg(img, quality=95))
    prog = decode_jpeg(encode_jpeg_progressive(img, quality=95))
    assert np.array_equal(base, prog)


def test_malformed_progressive_raises_valueerror():
    img = synth(5, 24, 24)
    good = encode_jpeg_progressive(img)
    # truncations at every structural layer
    for cut in (4, 40, len(good) // 3, len(good) - 3):
        with pytest.raises(ValueError):
            decode_jpeg(good[:cut])
    # progressive stream with zero scans (SOI..SOF..EOI)
    sos = good.find(b"\xff\xda")
    with pytest.raises(ValueError):
        decode_jpeg(good[:sos] + b"\xff\xd9")
    # Ah=14 in the first scan header: T.81 G.1.1.1.2 caps Ah at 13
    ahal = sos + 5 + 2 * good[sos + 4] + 2
    with pytest.raises(ValueError):
        decode_jpeg(good[:ahal] + bytes([14 << 4]) + good[ahal + 1 :])


def test_hostile_mutation_sweep():
    img = synth(6, 24, 32)
    good = encode_jpeg_progressive(img, subsample=True)
    rng = random.Random(20260821)
    outcomes = {"ok": 0, "rejected": 0}
    for _ in range(60):
        b = bytearray(good)
        op = rng.randrange(3)
        if op == 0:
            for _ in range(rng.randrange(1, 8)):
                b[rng.randrange(len(b))] = rng.randrange(256)
        elif op == 1:
            b = b[: rng.randrange(2, len(b))]
        else:
            i, j = sorted(rng.randrange(len(b)) for _ in range(2))
            b = b[:i] + b[j:] + b[i:j]
        try:
            out = decode_jpeg(bytes(b))
            assert out.dtype == np.uint8 and out.ndim == 3
            outcomes["ok"] += 1
        except (ValueError, NotImplementedError):
            outcomes["rejected"] += 1
    assert outcomes["ok"] + outcomes["rejected"] == 60


def test_scan_count_bomb_capped():
    """A crafted stream repeating one tiny scan thousands of times must
    be rejected by the scan-count cap, not walked."""
    img = synth(7, 8, 8, gray=True)
    good = bytearray(encode_jpeg_progressive(img))
    sos = good.find(b"\xff\xda")
    eoi = good.rfind(b"\xff\xd9")
    # duplicate the first scan (header+entropy up to the next marker)
    nxt = good.find(b"\xff", sos + 2)
    while good[nxt + 1] == 0x00:  # skip stuffed bytes
        nxt = good.find(b"\xff", nxt + 2)
    one_scan = bytes(good[sos:nxt])
    bomb = bytes(good[:sos]) + one_scan * 600 + bytes(good[sos:])
    with pytest.raises(ValueError, match="scan count"):
        decode_jpeg(bomb)


def test_media_dispatch_progressive():
    """A progressive JPEG payload flows through the multimodal decode
    dispatch like a baseline one — same mime route, identical feature
    vector (the pixel data is bit-equal by construction)."""
    from insurance_pdf_extractor_spark.operators.multimodal import decode_media

    img = gradient(24, 36)
    f_base = decode_media(encode_jpeg(img), "image/jpeg")
    f_prog = decode_media(encode_jpeg_progressive(img), "image/jpeg")
    assert f_base == f_prog
