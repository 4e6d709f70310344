"""Baseline JPEG (ITU-T T.81 / JFIF) codec — pure numpy + stdlib.

Fills the ``image/jpeg`` branch of the multimodal decode seam
(multimodal.py:decode_media) that rounds 1-4 carried as an explicit
``NotImplementedError`` pending an entropy/DCT codec: no PIL/libjpeg
exists in this container, so the codec is built from the public T.81
spec directly. Reference anchor: the reference treats attachments as
opaque bytes end-to-end (app/services/pdf_generator.py embeds, never
decodes); decode capability is this repo's training-data extension.

Scope (honest, loudly enforced):
- baseline sequential DCT, 8-bit precision (SOF0) AND — round 5,
  second half — PROGRESSIVE (SOF2) per T.81 Annex G: multi-scan
  spectral selection + successive approximation, interleaved DC
  scans, non-interleaved AC scans with EOB runs, DC/AC refinement
  scans, restart intervals inside any scan. The progressive decoder
  transcribes the public jdphuff algorithms (refinement correction
  bits, EOBRUN semantics) onto per-component coefficient grids;
  arithmetic coding (SOF9+), 12-bit and hierarchical modes still
  raise ``NotImplementedError`` with the marker name;
- 1 component (grayscale) or 3 components (YCbCr), sampling factors
  1 or 2 per axis (covers 4:4:4, 4:2:2, 4:2:0); restart intervals
  (DRI/RSTn) supported in both directions;
- DNL is out of scope. ``encode_jpeg_progressive`` emits a
  libjpeg-shaped scan script over flat canonical Huffman tables
  (progressive AC needs EOBn symbols the Annex K tables lack);
  its coefficients are IDENTICAL to ``encode_jpeg``'s at the same
  settings, so progressive and baseline decodes of one image are
  bit-equal — the cross-check the tests pin.

Determinism contract — the property every other codec here honors
("sha1 pins the encoders byte-for-byte", fixture oracle reproduces
decoded values exactly): floating-point IDCT rounding is NOT portable
across implementations (a DC-only block can land pixels exactly on a
.5 boundary, where two float evaluation orders round apart), so both
DCTs are specified in fixed point over integers:

  BASIS[v][u][y][x] = round(2^28 * a(u) a(v) / 4
                       * cos((2x+1) u pi / 16) * cos((2y+1) v pi / 16))
  IDCT:  pixel(y,x) = ((sum_{v,u} F[v][u] * BASIS[v][u][y][x]
                         + 2^27) >> 28) + 128, clipped to [0, 255]
  FDCT:  G[v][u]    = (sum_{y,x} d[y][x] * BASIS[v][u][y][x]
                         + 2^27) >> 28        (d = sample - 128)
  quant: q = sign(G) * ((2 |G| + Q) // (2 Q))

plus fixed-point 1/2^16 color transforms (coefficient sets that sum
exactly to 65536/32768 so white maps to white). Every step is integer
arithmetic with floor shifts — any faithful reimplementation (the
scalar pure-Python one in tools/make_fixtures.py) produces identical
bytes on encode and identical pixels on decode, so the driver gate's
value hash is exact even though JPEG itself is lossy. The 2^28 scale
keeps the worst-case basis-rounding error below 1/16 of a pixel level
(64 terms x |F|<=2^19 x 0.5 / 2^28) while the accumulator stays under
2^53, well inside int64.
"""

from __future__ import annotations

import math
import struct

import numpy as np

# --- public spec constants (T.81 Annex K) -----------------------------

ZIGZAG = [
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
]

STD_LUMA_Q = [
    16, 11, 10, 16, 24, 40, 51, 61, 12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56, 14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77, 24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101, 72, 92, 95, 98, 112, 100, 103, 99,
]
STD_CHROMA_Q = [
    17, 18, 24, 47, 99, 99, 99, 99, 18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99, 47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99,
]

# (bits[1..16], huffval) — Annex K typical tables
DC_LUMA = ([0, 0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
           list(range(12)))
DC_CHROMA = ([0, 0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0],
             list(range(12)))
AC_LUMA = (
    [0, 0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D],
    [
        0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41,
        0x06, 0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91,
        0xA1, 0x08, 0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24,
        0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A,
        0x25, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38,
        0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53,
        0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65, 0x66,
        0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
        0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A, 0x92, 0x93,
        0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
        0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6, 0xB7,
        0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
        0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1,
        0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2,
        0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
    ],
)
AC_CHROMA = (
    [0, 0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77],
    [
        0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12,
        0x41, 0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14,
        0x42, 0x91, 0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0, 0x15,
        0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34, 0xE1, 0x25, 0xF1, 0x17,
        0x18, 0x19, 0x1A, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37,
        0x38, 0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A,
        0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65,
        0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
        0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A,
        0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
        0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5,
        0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7,
        0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9,
        0xDA, 0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF2,
        0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
    ],
)

SCALE_BITS = 28
_HALF = 1 << (SCALE_BITS - 1)


def _basis() -> np.ndarray:
    """The fixed-point DCT basis tensor of the module docstring —
    int64[v, u, y, x]. Built once; math.cos on the same IEEE doubles in
    any implementation, rounded to integers, so the table is a spec
    constant, not a float-runtime dependency."""
    b = np.empty((8, 8, 8, 8), dtype=np.int64)
    for v in range(8):
        for u in range(8):
            au = (1.0 / math.sqrt(2.0)) if u == 0 else 1.0
            av = (1.0 / math.sqrt(2.0)) if v == 0 else 1.0
            for y in range(8):
                for x in range(8):
                    val = (
                        au * av / 4.0
                        * math.cos((2 * x + 1) * u * math.pi / 16.0)
                        * math.cos((2 * y + 1) * v * math.pi / 16.0)
                    )
                    b[v, u, y, x] = round(val * (1 << SCALE_BITS))
    return b


_BASIS = _basis()


def quality_tables(quality: int = 90) -> tuple[list[int], list[int]]:
    """Annex K tables scaled by the public libjpeg quality convention
    (5000/q below 50, 200-2q above), clamped to [1, 255]."""
    if not 1 <= quality <= 100:
        raise ValueError("quality must be in 1..100")
    scale = 5000 // quality if quality < 50 else 200 - 2 * quality

    def s(base):
        return [min(max((b * scale + 50) // 100, 1), 255) for b in base]

    return s(STD_LUMA_Q), s(STD_CHROMA_Q)


def idct_blocks(coeffs: np.ndarray) -> np.ndarray:
    """(n, 8, 8) int dequantized coefficients [v][u] -> (n, 8, 8) uint8
    samples, via the integer BASIS contraction (one einsum for all
    blocks — the vectorized half of the determinism contract)."""
    acc = np.einsum("nvu,vuyx->nyx", coeffs.astype(np.int64), _BASIS)
    return np.clip(((acc + _HALF) >> SCALE_BITS) + 128, 0, 255).astype(np.uint8)


def fdct_quant(samples: np.ndarray, qtable: list[int]) -> np.ndarray:
    """(n, 8, 8) uint8 samples -> (n, 64) int32 quantized coefficients
    in zigzag order (round-half-away-from-zero quantization).
    ``qtable`` is in NATURAL (row-major) order — quality_tables()
    output; DQT storage order is the encoder's concern."""
    d = samples.astype(np.int64) - 128
    g = np.einsum("nyx,vuyx->nvu", d, _BASIS)
    g = (g + _HALF) >> SCALE_BITS
    q = np.asarray(qtable, dtype=np.int64).reshape(8, 8)
    # sign * ((2|G| + Q) // 2Q), elementwise
    quant = np.sign(g) * ((2 * np.abs(g) + q) // (2 * q))
    zz = quant.reshape(-1, 64)[:, ZIGZAG]
    return zz.astype(np.int32)


def _dezigzag_table(zz64: list[int]) -> np.ndarray:
    out = np.zeros(64, dtype=np.int64)
    for i, pos in enumerate(ZIGZAG):
        out[pos] = zz64[i]
    return out.reshape(8, 8)


# --- color transforms (fixed-point 1/2^16, coefficient sums exact) ----


def rgb_to_ycbcr(img: np.ndarray) -> np.ndarray:
    r = img[..., 0].astype(np.int64)
    g = img[..., 1].astype(np.int64)
    b = img[..., 2].astype(np.int64)
    half, off = 1 << 15, 128 << 16
    y = (19595 * r + 38470 * g + 7471 * b + half) >> 16
    cb = (-11059 * r - 21709 * g + 32768 * b + off + half) >> 16
    cr = (32768 * r - 27439 * g - 5329 * b + off + half) >> 16
    return np.clip(np.stack([y, cb, cr], axis=-1), 0, 255).astype(np.uint8)


def ycbcr_to_rgb(y: np.ndarray, cb: np.ndarray, cr: np.ndarray) -> np.ndarray:
    yy = y.astype(np.int64)
    cbd = cb.astype(np.int64) - 128
    crd = cr.astype(np.int64) - 128
    half = 1 << 15
    r = yy + ((91881 * crd + half) >> 16)
    g = yy - ((22554 * cbd + 46802 * crd + half) >> 16)
    b = yy + ((116130 * cbd + half) >> 16)
    return np.clip(np.stack([r, g, b], axis=-1), 0, 255).astype(np.uint8)


# --- canonical huffman --------------------------------------------------


def _build_codes(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """symbol -> (code, length), T.81 canonical assignment."""
    codes: dict[int, tuple[int, int]] = {}
    code, k = 0, 0
    for length in range(1, 17):
        for _ in range(bits[length]):
            codes[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return codes


def _build_decode(bits: list[int], vals: list[int]) -> dict[tuple[int, int], int]:
    """(length, code) -> symbol, for the bit-at-a-time reader."""
    return {(ln, c): s for s, (c, ln) in _build_codes(bits, vals).items()}


def _category(v: int) -> int:
    return int(v).bit_length() if v >= 0 else int(-v).bit_length()


def _extend(v: int, t: int) -> int:
    return v if v >= (1 << (t - 1)) else v - (1 << t) + 1


class _BitWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            byte = (self.acc >> (self.nbits - 8)) & 0xFF
            self.out.append(byte)
            if byte == 0xFF:
                self.out.append(0x00)  # byte stuffing
            self.nbits -= 8
        self.acc &= (1 << self.nbits) - 1

    def flush(self) -> None:
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)  # 1-fill to byte boundary


class _BitReader:
    """Entropy-segment reader: un-stuffs 0xFF00, stops at any marker,
    exposes restart-marker consumption for DRI streams."""

    def __init__(self, data: bytes, pos: int) -> None:
        self.data = data
        self.pos = pos
        self.acc = 0
        self.nbits = 0

    def _next_byte(self) -> int:
        d = self.data
        while True:
            if self.pos >= len(d):
                raise ValueError("truncated JPEG entropy stream")
            b = d[self.pos]
            if b != 0xFF:
                self.pos += 1
                return b
            nxt = d[self.pos + 1] if self.pos + 1 < len(d) else 0xD9
            if nxt == 0x00:
                self.pos += 2
                return 0xFF
            raise ValueError("hit marker inside entropy data")

    def read_bit(self) -> int:
        if self.nbits == 0:
            self.acc = self._next_byte()
            self.nbits = 8
        self.nbits -= 1
        return (self.acc >> self.nbits) & 1

    def receive(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v

    def decode_symbol(self, table: dict[tuple[int, int], int]) -> int:
        code, length = 0, 0
        while length < 16:
            code = (code << 1) | self.read_bit()
            length += 1
            sym = table.get((length, code))
            if sym is not None:
                return sym
        raise ValueError("invalid huffman code in JPEG stream")

    def consume_restart(self) -> None:
        self.acc, self.nbits = 0, 0  # discard pad bits
        d = self.data
        # an all-ones pad byte is 0xFF and arrives stuffed (FF 00);
        # fill bytes (FF FF...) may also precede the marker (T.81
        # B.1.1.2/B.1.1.5) — skip both before requiring RSTn
        while self.pos + 1 < len(d) and d[self.pos] == 0xFF and d[self.pos + 1] == 0x00:
            self.pos += 2
        while self.pos + 1 < len(d) and d[self.pos] == 0xFF and d[self.pos + 1] == 0xFF:
            self.pos += 1
        if self.pos + 1 >= len(d) or d[self.pos] != 0xFF or not (0xD0 <= d[self.pos + 1] <= 0xD7):
            raise ValueError("expected JPEG restart marker")
        self.pos += 2


# --- encoder ----------------------------------------------------------


def _pad_to(plane: np.ndarray, bh: int, bw: int) -> np.ndarray:
    h, w = plane.shape
    ph, pw = (-h) % bh, (-w) % bw
    if ph or pw:
        plane = np.pad(plane, ((0, ph), (0, pw)), mode="edge")
    return plane


def _block_split(plane: np.ndarray) -> np.ndarray:
    """(H, W) with H, W multiples of 8 -> (H//8 * W//8, 8, 8), row-major
    block order."""
    h, w = plane.shape
    return (
        plane.reshape(h // 8, 8, w // 8, 8).transpose(0, 2, 1, 3).reshape(-1, 8, 8)
    )


def _encode_block(
    bw: _BitWriter, zz: np.ndarray, pred: int,
    dc_codes: dict[int, tuple[int, int]], ac_codes: dict[int, tuple[int, int]],
) -> int:
    dc = int(zz[0])
    diff = dc - pred
    t = _category(diff)
    code, length = dc_codes[t]
    bw.write(code, length)
    if t:
        bw.write(diff if diff > 0 else diff + (1 << t) - 1, t)
    run = 0
    nz = np.nonzero(zz[1:])[0]
    last_nz = int(nz[-1]) + 1 if len(nz) else 0
    for i in range(1, last_nz + 1):
        v = int(zz[i])
        if v == 0:
            run += 1
            continue
        while run > 15:
            code, length = ac_codes[0xF0]  # ZRL
            bw.write(code, length)
            run -= 16
        t = _category(v)
        code, length = ac_codes[(run << 4) | t]
        bw.write(code, length)
        bw.write(v if v > 0 else v + (1 << t) - 1, t)
        run = 0
    if last_nz < 63:
        code, length = ac_codes[0x00]  # EOB
        bw.write(code, length)
    return dc


def encode_jpeg(
    img: np.ndarray,
    quality: int = 90,
    subsample: bool = False,
    restart_interval: int = 0,
) -> bytes:
    """Encode (h, w, 3) uint8 RGB — or (h, w) uint8 grayscale — as a
    baseline JFIF JPEG. ``subsample=True`` emits 4:2:0 (2x2 luma
    sampling, chroma box-averaged with the spec's (a+b+c+d+2)>>2);
    ``restart_interval`` emits DRI + RSTn every that many MCUs.
    Byte-deterministic per the module contract."""
    gray = img.ndim == 2
    h, w = img.shape[:2]
    if h == 0 or w == 0:
        raise ValueError("empty image")
    lq, cq = quality_tables(quality)
    s = 2 if (subsample and not gray) else 1

    if gray:
        planes = [img.astype(np.uint8)]
    else:
        ycc = rgb_to_ycbcr(img)
        yp, cbp, crp = ycc[..., 0], ycc[..., 1], ycc[..., 2]
        if s == 2:

            def box2(c: np.ndarray) -> np.ndarray:
                c = _pad_to(c, 2, 2).astype(np.int64)
                avg = (c[0::2, 0::2] + c[0::2, 1::2] + c[1::2, 0::2] + c[1::2, 1::2] + 2) >> 2
                return avg.astype(np.uint8)

            cbp, crp = box2(cbp), box2(crp)
        planes = [yp, cbp, crp]

    mcu_h, mcu_w = 8 * s, 8 * s
    # per-component zigzag coefficient arrays, in MCU scan order
    comp_zz: list[np.ndarray] = []
    n_mcu_y = (h + mcu_h - 1) // mcu_h
    n_mcu_x = (w + mcu_w - 1) // mcu_w
    for ci, plane in enumerate(planes):
        hv = s if ci == 0 else 1
        # pad the plane so its block grid covers n_mcu * hv blocks
        need_h, need_w = n_mcu_y * hv * 8, n_mcu_x * hv * 8
        padded = np.pad(
            plane.astype(np.uint8),
            ((0, need_h - plane.shape[0]), (0, need_w - plane.shape[1])),
            mode="edge",
        )
        zz = fdct_quant(_block_split(padded), lq if ci == 0 else cq)
        comp_zz.append(zz)

    # header
    out = bytearray(b"\xff\xd8")  # SOI
    out += b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"
    for tq, table in ((0, lq), (1, cq)) if not gray else ((0, lq),):
        # T.81 B.2.4.1: DQT stores the 64 elements in ZIGZAG order
        # (element i = natural position ZIGZAG[i])
        out += b"\xff\xdb" + struct.pack(">HB", 67, tq) + bytes(table[p] for p in ZIGZAG)
    nc = 1 if gray else 3
    out += b"\xff\xc0" + struct.pack(">HBHHB", 8 + 3 * nc, 8, h, w, nc)
    for ci in range(nc):
        hv = s if ci == 0 else 1
        out += bytes([ci + 1, (hv << 4) | hv, 0 if ci == 0 else 1])
    tables = [(0x00, DC_LUMA), (0x10, AC_LUMA)]
    if not gray:
        tables += [(0x01, DC_CHROMA), (0x11, AC_CHROMA)]
    for tc_th, (bits, vals) in tables:
        out += b"\xff\xc4" + struct.pack(">HB", 3 + 16 + len(vals), tc_th)
        out += bytes(bits[1:17]) + bytes(vals)
    if restart_interval:
        out += b"\xff\xdd" + struct.pack(">HH", 4, restart_interval)
    out += b"\xff\xda" + struct.pack(">HB", 6 + 2 * nc, nc)
    for ci in range(nc):
        out += bytes([ci + 1, 0x00 if ci == 0 else 0x11])
    out += b"\x00\x3f\x00"

    dc_c = [_build_codes(*DC_LUMA)] + ([_build_codes(*DC_CHROMA)] * 2 if not gray else [])
    ac_c = [_build_codes(*AC_LUMA)] + ([_build_codes(*AC_CHROMA)] * 2 if not gray else [])
    bw = _BitWriter()
    preds = [0] * nc
    # per-component plane block grid width, for MCU -> block index math
    grid_w = [n_mcu_x * (s if ci == 0 else 1) for ci in range(nc)]
    rst = 0
    for my in range(n_mcu_y):
        for mx in range(n_mcu_x):
            mcu_idx = my * n_mcu_x + mx
            if restart_interval and mcu_idx and mcu_idx % restart_interval == 0:
                bw.flush()
                out_marker = 0xD0 + (rst % 8)
                bw.out += bytes([0xFF, out_marker])
                rst += 1
                preds = [0] * nc
            for ci in range(nc):
                hv = s if ci == 0 else 1
                for by in range(hv):
                    for bx in range(hv):
                        bi = (my * hv + by) * grid_w[ci] + (mx * hv + bx)
                        preds[ci] = _encode_block(
                            bw, comp_zz[ci][bi], preds[ci], dc_c[ci], ac_c[ci]
                        )
    bw.flush()
    out += bw.out
    out += b"\xff\xd9"  # EOI
    return bytes(out)


# --- progressive encoder (round 5, second half) -----------------------
#
# T.81 Annex G spectral-selection + successive-approximation coding.
# Huffman tables are FLAT canonical tables containing every symbol
# (DC: 15 codes at 4 bits + 1 at 5; AC: 255 at 9 bits + 1 at 10) —
# progressive AC scans need EOBn symbols (r<<4|0, r=1..14) that the
# Annex K example tables lack, and a flat table sidesteps per-scan
# Huffman optimization while remaining fully spec-canonical (the
# all-ones code of each length stays unused, C.2). Compression is
# deliberately not the point; byte-determinism and decoder coverage
# are.

_FLAT_DC = ([0, 0, 0, 0, 15, 1] + [0] * 11, list(range(16)))
_FLAT_AC = ([0] * 9 + [255, 1] + [0] * 6, list(range(255)) + [255])


def _default_scan_script(nc: int) -> list[tuple[list[int], int, int, int, int]]:
    """(comp_indices, Ss, Se, Ah, Al) per scan — the libjpeg-shaped
    default: coarse DC + coarse AC first scans, then refinements."""
    if nc == 1:
        return [
            ([0], 0, 0, 0, 1),
            ([0], 1, 5, 0, 2),
            ([0], 6, 63, 0, 2),
            ([0], 0, 0, 1, 0),
            ([0], 1, 63, 2, 1),
            ([0], 1, 63, 1, 0),
        ]
    return [
        ([0, 1, 2], 0, 0, 0, 1),
        ([0], 1, 5, 0, 2),
        ([2], 1, 63, 0, 1),
        ([1], 1, 63, 0, 1),
        ([0], 6, 63, 0, 2),
        ([0], 1, 63, 2, 1),
        ([0, 1, 2], 0, 0, 1, 0),
        ([2], 1, 63, 1, 0),
        ([1], 1, 63, 1, 0),
        ([0], 1, 63, 1, 0),
    ]


def _emit_eobrun(bw: _BitWriter, ac_codes, state: dict) -> None:
    """Flush the accumulated end-of-band run + buffered correction
    bits (jcphuff emit_eobrun)."""
    if state["eobrun"] > 0:
        r = state["eobrun"].bit_length() - 1
        code, length = ac_codes[r << 4]
        bw.write(code, length)
        if r:
            bw.write(state["eobrun"] - (1 << r), r)
        state["eobrun"] = 0
    for bit in state["be"]:
        bw.write(bit, 1)
    state["be"] = []


def _enc_block_dc_first(bw, zz, pred, al, dc_codes) -> int:
    v = int(zz[0]) >> al  # DC point transform is an ARITHMETIC shift
    diff = v - pred
    t = _category(diff)
    code, length = dc_codes[t]
    bw.write(code, length)
    if t:
        bw.write(diff if diff > 0 else diff + (1 << t) - 1, t)
    return v


def _enc_block_dc_refine(bw, zz, al) -> None:
    bw.write((int(zz[0]) >> al) & 1, 1)


def _enc_block_ac_first(bw, zz, ss, se, al, ac_codes, state) -> None:
    run = 0
    wrote = False
    for k in range(ss, se + 1):
        v = int(zz[k])
        # AC point transform truncates MAGNITUDE toward zero (G.1.2.2)
        v = -((-v) >> al) if v < 0 else v >> al
        if v == 0:
            run += 1
            continue
        if not wrote:
            _emit_eobrun(bw, ac_codes, state)
            wrote = True
        while run > 15:
            code, length = ac_codes[0xF0]
            bw.write(code, length)
            run -= 16
        t = _category(v)
        code, length = ac_codes[(run << 4) | t]
        bw.write(code, length)
        bw.write(v if v > 0 else v + (1 << t) - 1, t)
        run = 0
    if run > 0:
        state["eobrun"] += 1
        if state["eobrun"] == 0x7FFF:
            _emit_eobrun(bw, ac_codes, state)


def _enc_block_ac_refine(bw, zz, ss, se, al, ac_codes, state) -> None:
    """jcphuff encode_mcu_AC_refine: r counts zero-history positions,
    correction bits for already-significant coefs buffer until the next
    emitted symbol (or fold into the EOB run)."""
    absval = [0] * 64
    eob = ss - 1
    for k in range(ss, se + 1):
        t = abs(int(zz[k])) >> al
        absval[k] = t
        if t:
            eob = k
    r = 0
    br: list[int] = []
    for k in range(ss, se + 1):
        t = absval[k]
        if t == 0:
            r += 1
            continue
        while r > 15 and k <= eob:
            _emit_eobrun(bw, ac_codes, state)
            code, length = ac_codes[0xF0]
            bw.write(code, length)
            r -= 16
            for bit in br:
                bw.write(bit, 1)
            br = []
        if t > 1:
            br.append(t & 1)
            continue
        _emit_eobrun(bw, ac_codes, state)
        code, length = ac_codes[(r << 4) | 1]
        bw.write(code, length)
        bw.write(0 if int(zz[k]) < 0 else 1, 1)
        for bit in br:
            bw.write(bit, 1)
        br = []
        r = 0
    if r > 0 or br:
        state["eobrun"] += 1
        state["be"].extend(br)
        if state["eobrun"] == 0x7FFF or len(state["be"]) > 900:
            _emit_eobrun(bw, ac_codes, state)


def encode_jpeg_progressive(
    img: np.ndarray,
    quality: int = 90,
    subsample: bool = False,
    scans: list[tuple[list[int], int, int, int, int]] | None = None,
    restart_interval: int = 0,
) -> bytes:
    """Encode (h, w, 3) uint8 RGB or (h, w) grayscale as a PROGRESSIVE
    (SOF2) JPEG. Coefficients are identical to :func:`encode_jpeg` at
    the same quality/subsampling, so decoding both must yield
    bit-identical pixels — the equality the tests pin. ``scans``
    overrides the default spectral-selection + successive-approximation
    script (each entry (comp_indices, Ss, Se, Ah, Al))."""
    gray = img.ndim == 2
    h, w = img.shape[:2]
    if h == 0 or w == 0:
        raise ValueError("empty image")
    lq, cq = quality_tables(quality)
    s = 2 if (subsample and not gray) else 1

    if gray:
        planes = [img.astype(np.uint8)]
    else:
        ycc = rgb_to_ycbcr(img)
        yp, cbp, crp = ycc[..., 0], ycc[..., 1], ycc[..., 2]
        if s == 2:
            c0 = _pad_to(cbp, 2, 2).astype(np.int64)
            cbp = ((c0[0::2, 0::2] + c0[0::2, 1::2] + c0[1::2, 0::2] + c0[1::2, 1::2] + 2) >> 2).astype(np.uint8)
            c1 = _pad_to(crp, 2, 2).astype(np.int64)
            crp = ((c1[0::2, 0::2] + c1[0::2, 1::2] + c1[1::2, 0::2] + c1[1::2, 1::2] + 2) >> 2).astype(np.uint8)
        planes = [yp, cbp, crp]
    nc = len(planes)
    mcu_h, mcu_w = 8 * s, 8 * s
    n_mcu_y = (h + mcu_h - 1) // mcu_h
    n_mcu_x = (w + mcu_w - 1) // mcu_w
    comp_zz: list[np.ndarray] = []
    for ci, plane in enumerate(planes):
        hv = s if ci == 0 else 1
        need_h, need_w = n_mcu_y * hv * 8, n_mcu_x * hv * 8
        padded = np.pad(
            plane.astype(np.uint8),
            ((0, need_h - plane.shape[0]), (0, need_w - plane.shape[1])),
            mode="edge",
        )
        comp_zz.append(fdct_quant(_block_split(padded), lq if ci == 0 else cq))

    out = bytearray(b"\xff\xd8")
    out += b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"
    for tq, table in ((0, lq), (1, cq)) if not gray else ((0, lq),):
        out += b"\xff\xdb" + struct.pack(">HB", 67, tq) + bytes(table[p] for p in ZIGZAG)
    out += b"\xff\xc2" + struct.pack(">HBHHB", 8 + 3 * nc, 8, h, w, nc)
    for ci in range(nc):
        hv = s if ci == 0 else 1
        out += bytes([ci + 1, (hv << 4) | hv, 0 if ci == 0 else 1])
    for tc_th, (bits, vals) in ((0x00, _FLAT_DC), (0x10, _FLAT_AC)):
        out += b"\xff\xc4" + struct.pack(">HB", 3 + 16 + len(vals), tc_th)
        out += bytes(bits[1:17]) + bytes(vals)
    dc_codes = _build_codes(*_FLAT_DC)
    ac_codes = _build_codes(*_FLAT_AC)
    if restart_interval:
        out += b"\xff\xdd" + struct.pack(">HH", 4, restart_interval)

    grid_w = [n_mcu_x * (s if ci == 0 else 1) for ci in range(nc)]
    hmax = s
    vmax = s
    for comp_idxs, ss, se, ah, al in scans or _default_scan_script(nc):
        ns = len(comp_idxs)
        out += b"\xff\xda" + struct.pack(">HB", 6 + 2 * ns, ns)
        for ci in comp_idxs:
            out += bytes([ci + 1, 0x00])  # flat DC table 0 / AC table 0
        out += bytes([ss, se, (ah << 4) | al])
        bw = _BitWriter()
        state = {"eobrun": 0, "be": []}
        preds = [0] * nc
        rst_state = {"unit": 0, "rst": 0}

        def _maybe_restart_enc() -> None:
            if (
                restart_interval
                and rst_state["unit"]
                and rst_state["unit"] % restart_interval == 0
            ):
                _emit_eobrun(bw, ac_codes, state)
                bw.flush()
                bw.out += bytes([0xFF, 0xD0 + rst_state["rst"] % 8])
                rst_state["rst"] += 1
                for i in range(nc):
                    preds[i] = 0

        if ss == 0:  # DC scan — interleaved MCU order (or single comp)
            if ns > 1 or nc == 1:
                for my in range(n_mcu_y):
                    for mx in range(n_mcu_x):
                        _maybe_restart_enc()
                        rst_state["unit"] += 1
                        for ci in comp_idxs:
                            hv = s if ci == 0 else 1
                            for by in range(hv):
                                for bx in range(hv):
                                    bi = (my * hv + by) * grid_w[ci] + (mx * hv + bx)
                                    if ah == 0:
                                        preds[ci] = _enc_block_dc_first(
                                            bw, comp_zz[ci][bi], preds[ci], al, dc_codes
                                        )
                                    else:
                                        _enc_block_dc_refine(bw, comp_zz[ci][bi], al)
            else:
                ci = comp_idxs[0]
                hv = s if ci == 0 else 1
                bh_ni = (-(-(h * hv) // vmax) + 7) // 8
                bw_ni = (-(-(w * hv) // hmax) + 7) // 8
                for by in range(bh_ni):
                    for bx in range(bw_ni):
                        _maybe_restart_enc()
                        rst_state["unit"] += 1
                        bi = by * grid_w[ci] + bx
                        if ah == 0:
                            preds[ci] = _enc_block_dc_first(
                                bw, comp_zz[ci][bi], preds[ci], al, dc_codes
                            )
                        else:
                            _enc_block_dc_refine(bw, comp_zz[ci][bi], al)
        else:  # AC scan — single component, non-interleaved block order
            if ns != 1:
                raise ValueError("progressive AC scans are single-component")
            ci = comp_idxs[0]
            hv = s if ci == 0 else 1
            bh_ni = (-(-(h * hv) // vmax) + 7) // 8
            bw_ni = (-(-(w * hv) // hmax) + 7) // 8
            for by in range(bh_ni):
                for bx in range(bw_ni):
                    _maybe_restart_enc()
                    rst_state["unit"] += 1
                    zz = comp_zz[ci][by * grid_w[ci] + bx]
                    if ah == 0:
                        _enc_block_ac_first(bw, zz, ss, se, al, ac_codes, state)
                    else:
                        _enc_block_ac_refine(bw, zz, ss, se, al, ac_codes, state)
            _emit_eobrun(bw, ac_codes, state)
        bw.flush()
        out += bw.out
    out += b"\xff\xd9"
    return bytes(out)


# --- decoder ----------------------------------------------------------

# absolute decode-size cap: 64 MiB of int64 DCT coefficients (the PNG
# decoder's pixel-buffer cap, applied to this codec's dominant buffer)
MAX_DECODE_BLOCKS = (64 * 1024 * 1024) // (64 * 8)

_UNSUPPORTED_SOF = {
    0xC1: "extended sequential (SOF1)",
    0xC3: "lossless (SOF3)", 0xC5: "differential sequential (SOF5)",
    0xC6: "differential progressive (SOF6)", 0xC7: "differential lossless (SOF7)",
    0xC9: "arithmetic sequential (SOF9)", 0xCA: "arithmetic progressive (SOF10)",
    0xCB: "arithmetic lossless (SOF11)", 0xCD: "SOF13", 0xCE: "SOF14", 0xCF: "SOF15",
}


def decode_jpeg(payload: bytes) -> np.ndarray:
    """Decode a baseline JPEG to (h, w, 3) uint8 RGB (grayscale images
    replicate the luma plane). Raises ``ValueError`` on corrupt input
    and ``NotImplementedError`` on legal-but-unsupported modes (see
    module docstring)."""
    try:
        return _decode_jpeg_inner(payload)
    except (IndexError, struct.error) as exc:
        # single-index reads / unpack_from over attacker bytes whose
        # declared segment length is internally consistent but shorter
        # than the fields read from it — corrupt input, not a
        # programming error; normalize to the poison-row contract (the
        # same discipline as containers.parse_mp4)
        raise ValueError(f"truncated JPEG structure: {type(exc).__name__}: {exc}") from exc


def _find_marker_after(payload: bytes, start: int) -> int:
    """Byte position of the first real marker (not a stuffed 0xFF00,
    not an RSTn) at or after ``start`` — the structural end of a scan's
    entropy data, independent of how many bits the decoder consumed."""
    i = start
    n = len(payload)
    while i + 1 < n:
        if payload[i] == 0xFF:
            nxt = payload[i + 1]
            if nxt == 0x00 or 0xD0 <= nxt <= 0xD7:
                i += 2
                continue
            if nxt == 0xFF:  # fill byte
                i += 1
                continue
            return i
        i += 1
    raise ValueError("unterminated JPEG scan")


def _jpeg_geometry(comps: list[dict], h: int, w: int, payload_len: int) -> dict:
    """MCU / block-grid dimensions + the baseline path's hostile-input
    bounds, shared by the progressive decoder (grids allocate once, so
    the caps must hold before any allocation)."""
    if h == 0 or w == 0:
        raise ValueError("JPEG declares zero dimensions")
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    n_mcu_x = (w + 8 * hmax - 1) // (8 * hmax)
    n_mcu_y = (h + 8 * vmax - 1) // (8 * vmax)
    blocks_per_mcu = sum(c["h"] * c["v"] for c in comps)
    if n_mcu_x * n_mcu_y * blocks_per_mcu > 4 * payload_len:
        raise ValueError("JPEG dimensions implausible for payload size")
    if n_mcu_x * n_mcu_y * blocks_per_mcu > MAX_DECODE_BLOCKS:
        raise ValueError("JPEG dimensions implausible: coefficient buffer over cap")
    geom = {
        "hmax": hmax, "vmax": vmax,
        "n_mcu_x": n_mcu_x, "n_mcu_y": n_mcu_y,
        "grid_w": [n_mcu_x * c["h"] for c in comps],
        "grid_h": [n_mcu_y * c["v"] for c in comps],
        # non-interleaved (single-component scan) block dims, A.2.2
        "ni_w": [(-(-(w * c["h"]) // hmax) + 7) // 8 for c in comps],
        "ni_h": [(-(-(h * c["v"]) // vmax) + 7) // 8 for c in comps],
    }
    return geom


def _dec_block_ac_first(reader, zz, ac_t, ss, se, al, eobrun: int) -> int:
    """T.81 G.2 / jdphuff decode_mcu_AC_first for one block; returns
    the updated end-of-band run."""
    if eobrun > 0:
        return eobrun - 1
    k = ss
    while k <= se:
        rs = reader.decode_symbol(ac_t)
        r, sbits = rs >> 4, rs & 0xF
        if sbits == 0:
            if r != 15:
                eobrun = (1 << r) - 1
                if r:
                    eobrun += reader.receive(r)
                break
            k += 16  # ZRL
            continue
        k += r
        if k > se:
            raise ValueError("AC coefficient index out of band")
        if sbits > 13:
            raise ValueError("invalid AC magnitude category")
        zz[k] = _extend(reader.receive(sbits), sbits) << al
        k += 1
    return eobrun


def _dec_block_ac_refine(reader, zz, ac_t, ss, se, al, eobrun: int) -> int:
    """T.81 G.2 / jdphuff decode_mcu_AC_refine: r counts zero-history
    positions; every nonzero-history coefficient passed over absorbs a
    correction bit; EOB runs still consume correction bits per block."""
    p1 = 1 << al
    m1 = -1 << al
    k = ss
    if eobrun == 0:
        while k <= se:
            rs = reader.decode_symbol(ac_t)
            r, sbits = rs >> 4, rs & 0xF
            sval = 0
            if sbits:
                if sbits != 1:
                    raise ValueError("invalid AC refine category")
                sval = p1 if reader.read_bit() else m1
            else:
                if r != 15:
                    eobrun = 1 << r
                    if r:
                        eobrun += reader.receive(r)
                    break
                # r == 15: ZRL — skip 16 zero-history coefficients
            while k <= se:
                if zz[k] != 0:
                    if reader.read_bit():
                        if (zz[k] & p1) == 0:
                            zz[k] += p1 if zz[k] >= 0 else m1
                else:
                    r -= 1
                    if r < 0:
                        break
                k += 1
            if sval and k <= se:
                zz[k] = sval
            k += 1
    if eobrun > 0:
        while k <= se:
            if zz[k] != 0:
                if reader.read_bit():
                    if (zz[k] & p1) == 0:
                        zz[k] += p1 if zz[k] >= 0 else m1
            k += 1
        eobrun -= 1
    return eobrun


def _decode_prog_scan(
    payload: bytes,
    start: int,
    comps: list[dict],
    scan_comps: list[tuple[int, int, int]],
    ss: int, se: int, ah: int, al: int,
    htables: dict,
    coef: list[np.ndarray],
    geom: dict,
    restart_interval: int,
) -> None:
    """Decode one progressive scan's entropy data into the coefficient
    grids. DC scans (Ss=0) may interleave components in MCU order; AC
    scans are single-component in non-interleaved block order (A.2.2).
    Restart intervals reset DC predictors and the EOB run."""
    if not (0 <= ss <= se <= 63) or al > 13 or ah > 13:
        raise ValueError("invalid progressive scan parameters")
    if ss == 0 and se != 0:
        raise ValueError("progressive DC scan must have Se=0")
    if ss > 0 and len(scan_comps) != 1:
        raise ValueError("progressive AC scan must be single-component")
    reader = _BitReader(payload, start)
    preds = [0] * len(comps)
    eobrun = 0
    unit = 0

    def maybe_restart() -> None:
        nonlocal preds, eobrun
        if restart_interval and unit and unit % restart_interval == 0:
            reader.consume_restart()
            preds = [0] * len(comps)
            eobrun = 0

    if ss == 0:
        dc_tables = {}
        for ci, dc_id, _ac_id in scan_comps:
            if ah == 0:
                t = htables.get((0, dc_id))
                if t is None:
                    raise ValueError("missing DC huffman table for scan")
                dc_tables[ci] = t

        def dc_block(ci: int, bi: int) -> None:
            zz = coef[ci][bi]
            if ah == 0:
                t = reader.decode_symbol(dc_tables[ci])
                if t > 11:
                    raise ValueError("invalid DC magnitude category")
                diff = _extend(reader.receive(t), t) if t else 0
                preds[ci] += diff
                zz[0] = preds[ci] << al
            else:
                if reader.read_bit():
                    zz[0] |= 1 << al

        if len(scan_comps) > 1 or len(comps) == 1:
            # interleaved MCU order (a 1-component image's MCU is one
            # block, so both orders coincide)
            for my in range(geom["n_mcu_y"]):
                for mx in range(geom["n_mcu_x"]):
                    maybe_restart()
                    for ci, _dc_id, _ac_id in scan_comps:
                        c = comps[ci]
                        for by in range(c["v"]):
                            for bx in range(c["h"]):
                                bi = (my * c["v"] + by) * geom["grid_w"][ci] + mx * c["h"] + bx
                                dc_block(ci, bi)
                    unit += 1
        else:
            ci = scan_comps[0][0]
            for by in range(geom["ni_h"][ci]):
                for bx in range(geom["ni_w"][ci]):
                    maybe_restart()
                    dc_block(ci, by * geom["grid_w"][ci] + bx)
                    unit += 1
        return

    ci, _dc_id, ac_id = scan_comps[0]
    ac_t = htables.get((1, ac_id))
    if ac_t is None:
        raise ValueError("missing AC huffman table for scan")
    for by in range(geom["ni_h"][ci]):
        for bx in range(geom["ni_w"][ci]):
            maybe_restart()
            zz = coef[ci][by * geom["grid_w"][ci] + bx]
            if ah == 0:
                eobrun = _dec_block_ac_first(reader, zz, ac_t, ss, se, al, eobrun)
            else:
                eobrun = _dec_block_ac_refine(reader, zz, ac_t, ss, se, al, eobrun)
            unit += 1


def _reassemble_progressive(
    comps: list[dict],
    coef: list[np.ndarray] | None,
    qtables: dict[int, np.ndarray],
    geom: dict | None,
    h: int, w: int,
) -> np.ndarray:
    """Dequantize + IDCT the accumulated coefficient grids (grid
    row-major order, unlike the baseline path's MCU scan order)."""
    if coef is None or geom is None:
        raise ValueError("progressive JPEG with no scans")
    planes: list[np.ndarray] = []
    for ci, c in enumerate(comps):
        q = qtables.get(c["tq"])
        if q is None:
            raise ValueError("missing quantization table")
        blocks = coef[ci]
        deq = np.zeros((len(blocks), 8, 8), dtype=np.int64)
        deq.reshape(len(blocks), 64)[:, ZIGZAG] = blocks
        deq *= q
        pix = idct_blocks(deq)
        gh, gw = geom["grid_h"][ci], geom["grid_w"][ci]
        plane = pix.reshape(gh, gw, 8, 8).transpose(0, 2, 1, 3).reshape(gh * 8, gw * 8)
        ry, rx = geom["vmax"] // c["v"], geom["hmax"] // c["h"]
        if ry > 1 or rx > 1:
            plane = np.repeat(np.repeat(plane, ry, axis=0), rx, axis=1)
        planes.append(plane[:h, :w])
    if len(planes) == 1:
        g = planes[0]
        return np.stack([g, g, g], axis=-1)
    if len(planes) != 3:
        raise ValueError("unsupported component count")
    return ycbcr_to_rgb(planes[0], planes[1], planes[2])


def _decode_jpeg_inner(payload: bytes) -> np.ndarray:
    if len(payload) < 4 or payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload (missing SOI)")
    qtables: dict[int, np.ndarray] = {}
    htables: dict[tuple[int, int], dict[tuple[int, int], int]] = {}
    comps: list[dict] = []
    h = w = 0
    restart_interval = 0
    pos = 2
    scan_map: list[tuple[int, int, int]] = []  # (comp_idx, dc_id, ac_id)
    progressive = False
    coef: list[np.ndarray] | None = None  # per-comp (grid_blocks, 64) int64
    geom: dict | None = None
    n_scans = 0

    while True:
        if pos + 2 > len(payload):
            raise ValueError("truncated JPEG (no SOS)")
        if payload[pos] != 0xFF:
            raise ValueError("bad JPEG marker alignment")
        while payload[pos + 1] == 0xFF:  # optional fill bytes (B.1.1.2)
            pos += 1
            if pos + 2 > len(payload):
                raise ValueError("truncated JPEG (fill bytes to EOF)")
        marker = payload[pos + 1]
        pos += 2
        if marker == 0xD9:  # EOI — legal terminator of a progressive stream
            if progressive and n_scans:
                break
            raise ValueError("EOI before any image data")
        if marker == 0xD8 or 0xD0 <= marker <= 0xD7 or marker == 0x01:
            continue  # parameterless
        if pos + 2 > len(payload):
            raise ValueError("truncated JPEG segment header")
        (seglen,) = struct.unpack_from(">H", payload, pos)
        seg = payload[pos + 2 : pos + seglen]
        if len(seg) != seglen - 2:
            raise ValueError("truncated JPEG segment")
        if marker in _UNSUPPORTED_SOF or marker == 0xCC:
            raise NotImplementedError(f"JPEG mode not supported: {_UNSUPPORTED_SOF.get(marker, 'DAC')}")
        if marker == 0xDB:  # DQT
            o = 0
            while o < len(seg):
                pq, tq = seg[o] >> 4, seg[o] & 0xF
                if pq:
                    raise NotImplementedError("16-bit quantization tables (Pq=1)")
                if o + 65 > len(seg):
                    raise ValueError("truncated DQT segment")
                qtables[tq] = _dezigzag_table(list(seg[o + 1 : o + 65]))
                o += 65
        elif marker in (0xC0, 0xC2):  # SOF0 baseline / SOF2 progressive
            progressive = marker == 0xC2
            prec, h, w, nc = seg[0], struct.unpack_from(">H", seg, 1)[0], struct.unpack_from(">H", seg, 3)[0], seg[5]
            if prec != 8:
                raise NotImplementedError("only 8-bit precision supported")
            if nc not in (1, 3):
                raise NotImplementedError(f"{nc}-component JPEG not supported")
            for i in range(nc):
                cid, hv, tq = seg[6 + 3 * i], seg[7 + 3 * i], seg[8 + 3 * i]
                ch, cv = hv >> 4, hv & 0xF
                if ch not in (1, 2) or cv not in (1, 2):
                    raise NotImplementedError(f"sampling factors {ch}x{cv} not supported")
                comps.append({"id": cid, "h": ch, "v": cv, "tq": tq})
        elif marker == 0xC4:  # DHT
            o = 0
            while o < len(seg):
                tc, th = seg[o] >> 4, seg[o] & 0xF
                bits = [0] + list(seg[o + 1 : o + 17])
                n = sum(bits)
                vals = list(seg[o + 17 : o + 17 + n])
                if len(bits) != 17 or len(vals) != n:
                    # DHT declares more codes than the segment holds —
                    # corrupt table, poison the row
                    raise ValueError("truncated DHT segment")
                htables[(tc, th)] = _build_decode(bits, vals)
                o += 17 + n
        elif marker == 0xDD:  # DRI
            (restart_interval,) = struct.unpack_from(">H", seg, 0)
        elif marker == 0xDA:  # SOS
            ns = seg[0]
            if not comps:
                raise ValueError("SOS before SOF")
            if len(seg) < 1 + 2 * ns + 3:
                raise ValueError("truncated SOS header")
            this_scan: list[tuple[int, int, int]] = []
            for i in range(ns):
                cid, tt = seg[1 + 2 * i], seg[2 + 2 * i]
                matches = [j for j, c in enumerate(comps) if c["id"] == cid]
                if not matches:
                    raise ValueError(f"SOS references unknown component id {cid}")
                this_scan.append((matches[0], tt >> 4, tt & 0xF))
            if not progressive:
                if ns != len(comps):
                    raise NotImplementedError("multi-scan sequential JPEG not supported")
                scan_map = this_scan
                pos += seglen
                break
            # progressive: decode this scan into the coefficient grids,
            # then continue the marker loop (tables may be redefined)
            ss, se = seg[1 + 2 * ns], seg[2 + 2 * ns]
            ah, al = seg[3 + 2 * ns] >> 4, seg[3 + 2 * ns] & 0xF
            if coef is None:
                geom = _jpeg_geometry(comps, h, w, len(payload))
                coef = [
                    np.zeros((geom["grid_h"][ci] * geom["grid_w"][ci], 64), dtype=np.int64)
                    for ci in range(len(comps))
                ]
            n_scans += 1
            if n_scans > 512:
                raise ValueError("JPEG scan count implausible")
            entropy_start = pos + seglen
            _decode_prog_scan(
                payload, entropy_start, comps, this_scan, ss, se, ah, al,
                htables, coef, geom, restart_interval,
            )
            pos = _find_marker_after(payload, entropy_start)
            continue
        # APPn / COM / others: skip
        pos += seglen

    if progressive:
        return _reassemble_progressive(comps, coef, qtables, geom, h, w)

    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    mcu_w, mcu_h = 8 * hmax, 8 * vmax
    if h == 0 or w == 0:
        raise ValueError("JPEG declares zero dimensions")
    n_mcu_x = (w + mcu_w - 1) // mcu_w
    n_mcu_y = (h + mcu_h - 1) // mcu_h
    # hostile-input bound: every block costs >=2 bits of entropy data
    # (one DC + one EOB symbol), so declared dimensions whose block
    # count exceeds 4x the payload BYTES are a corrupt/malicious header
    # — reject BEFORE allocating planes or walking 10^8 fake MCUs (a
    # poison row, not an executor-memory or CPU event)
    blocks_per_mcu = sum(c["h"] * c["v"] for c in comps)
    if n_mcu_x * n_mcu_y * blocks_per_mcu > 4 * len(payload):
        raise ValueError("JPEG dimensions implausible for payload size")
    # ...but the per-byte bound alone still admits ~4 blocks/byte: a
    # 10 MB LEGAL stream of all-EOB blocks (~6 bits each) could declare
    # ~40M blocks = tens of GB of coefficient buffers plus a ~10^7-step
    # Python entropy loop. Absolute cap on the coefficient buffer, the
    # same 64 MiB discipline as the PNG pixel-buffer bomb cap: blocks x
    # 64 int64 coefficients <= 64 MiB (131,072 blocks ~ a 2896x2896
    # grayscale or 4096x2304 4:2:0 image — far beyond any document
    # asset this engine decodes; bigger dimensions poison the row).
    if n_mcu_x * n_mcu_y * blocks_per_mcu > MAX_DECODE_BLOCKS:
        raise ValueError("JPEG dimensions implausible: coefficient buffer over cap")

    reader = _BitReader(payload, pos)
    preds = [0] * len(comps)
    comp_blocks: list[list[np.ndarray]] = [[] for _ in comps]
    for mcu_idx in range(n_mcu_x * n_mcu_y):
        if restart_interval and mcu_idx and mcu_idx % restart_interval == 0:
            reader.consume_restart()
            preds = [0] * len(comps)
        for ci, dc_id, ac_id in scan_map:
            c = comps[ci]
            dc_t = htables.get((0, dc_id))
            ac_t = htables.get((1, ac_id))
            if dc_t is None or ac_t is None:
                raise ValueError("missing huffman table for scan")
            for _ in range(c["h"] * c["v"]):
                zz = np.zeros(64, dtype=np.int64)
                t = reader.decode_symbol(dc_t)
                if t > 11:
                    # T.81 F.1.2.1.1: baseline DC categories are 0..11;
                    # a bigger symbol means a corrupt table/stream (and
                    # unchecked it lets preds grow past int64)
                    raise ValueError("invalid DC magnitude category")
                diff = _extend(reader.receive(t), t) if t else 0
                preds[ci] += diff
                zz[0] = preds[ci]
                k = 1
                while k < 64:
                    rs = reader.decode_symbol(ac_t)
                    r, t = rs >> 4, rs & 0xF
                    if t == 0:
                        if r == 15:
                            k += 16  # ZRL
                            continue
                        break  # EOB
                    if t > 10:
                        # F.1.2.2.1: baseline AC sizes are 1..10
                        raise ValueError("invalid AC magnitude category")
                    k += r
                    if k > 63:
                        raise ValueError("AC coefficient index out of range")
                    zz[k] = _extend(reader.receive(t), t)
                    k += 1
                comp_blocks[ci].append(zz)

    planes: list[np.ndarray] = []
    for ci, c in enumerate(comps):
        q = qtables.get(c["tq"])
        if q is None:
            raise ValueError("missing quantization table")
        blocks = np.stack(comp_blocks[ci]) if comp_blocks[ci] else np.zeros((0, 64), np.int64)
        # dezigzag + dequant all blocks at once
        deq = np.zeros((len(blocks), 8, 8), dtype=np.int64)
        flat = deq.reshape(len(blocks), 64)
        flat[:, ZIGZAG] = blocks
        deq *= q
        pix = idct_blocks(deq)
        # blocks arrived in MCU scan order; reassemble the plane grid
        gw, gv = n_mcu_x * c["h"], c["v"]
        plane = np.zeros((n_mcu_y * gv * 8, gw * 8), dtype=np.uint8)
        bi = 0
        for my in range(n_mcu_y):
            for mx in range(n_mcu_x):
                for by in range(gv):
                    for bx in range(c["h"]):
                        py, px = (my * gv + by) * 8, (mx * c["h"] + bx) * 8
                        plane[py : py + 8, px : px + 8] = pix[bi]
                        bi += 1
        # upsample to full resolution (box / nearest per the spec'd
        # decoder: each chroma sample covers its sampling cell)
        ry, rx = vmax // c["v"], hmax // c["h"]
        if ry > 1 or rx > 1:
            plane = np.repeat(np.repeat(plane, ry, axis=0), rx, axis=1)
        planes.append(plane[:h, :w])

    if len(planes) == 1:
        g = planes[0]
        return np.stack([g, g, g], axis=-1)
    return ycbcr_to_rgb(planes[0], planes[1], planes[2])
