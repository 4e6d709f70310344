"""Multimodal column plumbing: image/audio/video as opaque ``binary``
columns with typed metadata, processed through Arrow-batched
``mapInPandas`` stages.

Decode is REAL for the formats this container can handle without
PIL/ffmpeg — uncompressed 24-bit BMP (struct/numpy), 8-bit truecolor
PNG (stdlib ``zlib`` inflate + all five scanline filters), PCM WAV
(stdlib ``wave``) and baseline/progressive JPEG (operators/jpeg.py);
video frame sampling walks real MP4 sample tables
(operators/containers.py) — and remains an explicit
``NotImplementedError`` seam for formats that need entropy codecs
(MP3/AAC/H.264 content). The Spark-side
plumbing — schema, batch shape, partitioning, UDF signatures — is
identical either way, so wiring a real codec in is a per-format
dispatch entry, not a redesign.
"""

from __future__ import annotations

import hashlib
import io
import struct
import wave
import zlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .filters import png_unfilter

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_ref", T.StringType(), False),
        T.StructField("kind", T.StringType(), False),
        T.StructField("n_bytes", T.LongType(), False),
        T.StructField("sha1", T.StringType(), False),
        T.StructField("features", T.ArrayType(T.FloatType()), True),
        # poison-row discipline (same as the extraction pipeline): a
        # corrupt payload nulls ITS features and records why; it never
        # aborts the batch, let alone the job
        T.StructField("err", T.StringType(), True),
    ]
)


# --- codec-free real codecs -------------------------------------------
# Public formats decodable with stdlib + numpy alone. Everything here is
# pure per-row compute that runs INSIDE the Arrow batch kernels below —
# no JVM round-trips, no per-row Python UDF registration.


def encode_bmp(img: np.ndarray) -> bytes:
    """Encode an (h, w, 3) uint8 RGB array as an uncompressed 24-bit
    BI_RGB bottom-up BMP (54-byte BITMAPFILEHEADER+BITMAPINFOHEADER,
    rows padded to 4 bytes). Byte-exact spec so an independent encoder
    (the fixture oracle's struct-based one) produces identical files."""
    h, w, _ = img.shape
    stride = (w * 3 + 3) & ~3
    body = np.zeros((h, stride), dtype=np.uint8)
    body[:, : w * 3] = img[::-1, :, ::-1].reshape(h, w * 3)  # bottom-up, BGR
    head = struct.pack("<2sIHHI", b"BM", 54 + stride * h, 0, 0, 54)
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, stride * h, 2835, 2835, 0, 0)
    return head + info + body.tobytes()


def decode_bmp(payload: bytes) -> np.ndarray:
    """Decode an uncompressed 24-bit BMP to (h, w, 3) uint8 RGB.
    Handles bottom-up (positive height) and top-down (negative height)
    rows and arbitrary data offsets; rejects anything else loudly."""
    if len(payload) < 54 or payload[:2] != b"BM":
        raise ValueError("not a BMP payload")
    (offset,) = struct.unpack_from("<I", payload, 10)
    hdr_size, w, h = struct.unpack_from("<Iii", payload, 14)
    planes, bpp, compression = struct.unpack_from("<HHI", payload, 26)
    if hdr_size < 40 or bpp != 24 or compression != 0:
        raise NotImplementedError(f"only uncompressed 24-bit BMP supported (bpp={bpp}, compression={compression})")
    top_down = h < 0
    h = abs(h)
    if w <= 0 or h == 0:
        # a zero/negative-dim image would flow NaN features downstream
        # (0/0 block means) instead of poisoning its row loudly
        raise ValueError(f"non-positive BMP dimensions ({w}x{h})")
    stride = (w * 3 + 3) & ~3
    if offset + stride * h > len(payload):
        raise ValueError("truncated BMP body")
    rows = np.frombuffer(payload, dtype=np.uint8, count=stride * h, offset=offset).reshape(h, stride)
    img = rows[:, : w * 3].reshape(h, w, 3)[:, :, ::-1]  # BGR -> RGB
    return img if top_down else img[::-1]


_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def encode_png(img: np.ndarray, level: int = 6) -> bytes:
    """Encode an (h, w, 3) uint8 RGB array as an 8-bit truecolor PNG
    (filter 0 scanlines, one zlib stream, fixed compression level so
    the independent fixture encoder produces byte-identical files from
    the same stdlib zlib)."""
    h, w, _ = img.shape
    raw = bytearray()
    for y in range(h):
        raw.append(0)  # filter type None
        raw.extend(img[y].tobytes())

    def chunk(tag: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + tag
            + data
            + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    return (
        _PNG_SIG
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(raw), level))
        + chunk(b"IEND", b"")
    )


def decode_png(payload: bytes) -> np.ndarray:
    """Decode an 8-bit non-interlaced truecolor PNG (color type 2, or
    6 with the alpha channel dropped) to (h, w, 3) uint8 RGB — a real
    decoder over stdlib zlib: chunk walk with CRC verification,
    multi-IDAT concatenation, and ALL FIVE scanline filters through
    ``filters.png_unfilter`` — the one PNG unfilter, shared with the PDF
    stream predictors (None/Sub/Up vectorize over the whole image as
    mod-256 cumsums, Average/Paeth are inherently sequential
    recurrences). Palette, sub-byte depths, 16-bit, and Adam7 raise
    loudly — poison-row handled by the caller."""
    if len(payload) < 8 or payload[:8] != _PNG_SIG:
        raise ValueError("not a PNG payload")
    pos, ihdr, idat = 8, None, bytearray()
    while pos + 12 <= len(payload):
        (ln,) = struct.unpack_from(">I", payload, pos)
        tag = payload[pos + 4 : pos + 8]
        data = payload[pos + 8 : pos + 8 + ln]
        if len(data) != ln or pos + 12 + ln > len(payload):
            raise ValueError("truncated PNG chunk")
        (crc,) = struct.unpack_from(">I", payload, pos + 8 + ln)
        if zlib.crc32(tag + data) & 0xFFFFFFFF != crc:
            raise ValueError(f"PNG chunk {tag!r} CRC mismatch")
        if tag == b"IHDR":
            ihdr = data
        elif tag == b"IDAT":
            idat.extend(data)
        elif tag == b"IEND":
            break
        pos += 12 + ln
    if ihdr is None or len(ihdr) != 13:
        raise ValueError("PNG missing IHDR")
    w, h, depth, ctype, comp, filt, interlace = struct.unpack(">IIBBBBB", ihdr)
    if depth != 8 or ctype not in (2, 6) or comp or filt or interlace:
        raise NotImplementedError(
            f"only 8-bit non-interlaced truecolor PNG supported "
            f"(depth={depth}, color_type={ctype}, interlace={interlace})"
        )
    ch = 3 if ctype == 2 else 4
    stride = w * ch
    expected = (stride + 1) * h
    # hostile-input bounds: reject implausible declared dimensions and
    # decompression bombs BEFORE inflating — a 100 KB IDAT must never
    # be allowed to expand into gigabytes on an executor. The inflate
    # is capped at the exact expected pixel-buffer size; anything the
    # stream holds beyond it is corrupt by construction.
    if h == 0 or w == 0 or expected > max(1 << 26, 1024 * len(idat)):
        raise ValueError("PNG dimensions implausible for payload size")
    try:
        d = zlib.decompressobj()
        raw = d.decompress(bytes(idat), expected)
        if d.decompress(b"", 1) or not d.eof and d.unconsumed_tail:
            raise ValueError("PNG pixel data overruns declared dimensions")
    except zlib.error as exc:  # truncated/corrupt stream -> poison row, not a crash
        raise ValueError(f"PNG inflate failed: {exc}") from exc
    if len(raw) != expected:
        raise ValueError("PNG pixel data length mismatch")
    out = png_unfilter(raw, stride, ch)
    img = out.reshape(h, w, ch)
    return np.ascontiguousarray(img[:, :, :3])


def encode_wav(samples: np.ndarray, rate: int) -> bytes:
    """Encode a mono int16 sample array as a PCM WAV via stdlib wave."""
    buf = io.BytesIO()
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(1)
        wf.setsampwidth(2)
        wf.setframerate(rate)
        wf.writeframes(np.ascontiguousarray(samples, dtype="<i2").tobytes())
    return buf.getvalue()


def decode_wav(payload: bytes) -> tuple[np.ndarray, int]:
    """Decode a PCM WAV to (mono int16 samples, sample_rate). Multi-
    channel input is averaged to mono (integer floor-div, exact)."""
    try:
        with wave.open(io.BytesIO(payload), "rb") as wf:
            nch, width, rate = wf.getnchannels(), wf.getsampwidth(), wf.getframerate()
            if width != 2:
                raise NotImplementedError(f"only 16-bit PCM WAV supported (sampwidth={width})")
            raw = wf.readframes(wf.getnframes())
    except (wave.Error, EOFError, struct.error, RuntimeError) as exc:
        # stdlib wave surfaces corruption as several exception types;
        # normalize all of them to the poison-row contract
        raise ValueError(f"corrupt WAV payload: {exc}") from exc
    if nch < 1:
        raise ValueError("WAV declares zero channels")
    samples = np.frombuffer(raw[: len(raw) - len(raw) % (2 * nch)], dtype="<i2")
    if nch > 1:
        samples = (samples.reshape(-1, nch).astype(np.int64).sum(axis=1) // nch).astype(np.int16)
    return samples, rate


def resize_area(img: np.ndarray, out_h: int, out_w: int) -> np.ndarray:
    """Area-averaging resize of an (h, w[, c]) array via integer block
    means when the dims divide evenly (exact int64 sums — deterministic
    across implementations), pixel-area weighting otherwise. Returns
    float64; caller quantizes."""
    h, w = img.shape[:2]
    if h % out_h == 0 and w % out_w == 0:
        bh, bw = h // out_h, w // out_w
        tail = img.shape[2:]
        blocks = img.astype(np.int64).reshape(out_h, bh, out_w, bw, *tail)
        return blocks.sum(axis=(1, 3)) / float(bh * bw)
    # general path: fractional pixel-area overlap, separable per axis
    def axis_weights(n_in: int, n_out: int) -> np.ndarray:
        wts = np.zeros((n_out, n_in))
        scale = n_in / n_out
        for o in range(n_out):
            lo, hi = o * scale, (o + 1) * scale
            for i in range(int(np.floor(lo)), int(np.ceil(hi))):
                wts[o, i] = (min(hi, i + 1) - max(lo, i)) / scale
        return wts
    wy, wx = axis_weights(h, out_h), axis_weights(w, out_w)
    return np.einsum("oi,pj,ij...->op...", wy, wx, img.astype(np.float64))


def bmp_features(img: np.ndarray) -> list[float]:
    """19-dim image feature: per-channel means + a 4x4 grayscale area
    thumbnail. All values are integer sums over pixel blocks divided by
    integer counts — one float64 division each, bit-stable across
    independent implementations."""
    h, w, _ = img.shape
    px = img.astype(np.int64)
    means = px.sum(axis=(0, 1)) / float(h * w)
    # divisible dims (the gate's 16x16) take resize_area's exact
    # integer-block path — bit-reproducible by the independent oracle;
    # other dims take the general pixel-area path
    thumb = resize_area(px.sum(axis=2), 4, 4) / 3.0
    return [*(means / 255.0).tolist(), *(thumb.ravel() / 255.0).tolist()]


def wav_features(samples: np.ndarray, rate: int, n_segments: int = 8) -> list[float]:
    """11-dim audio feature: duration, RMS, zero-crossing rate, and
    per-segment mean absolute amplitude. Integer-sum arithmetic with a
    single sqrt/division per value (IEEE-exact, reproducible)."""
    n = len(samples)
    if n == 0:
        return [0.0] * (3 + n_segments)
    x = samples.astype(np.int64)
    rms = float(np.sqrt((x * x).sum() / n)) / 32768.0
    nonneg = x >= 0
    zcr = float((nonneg[1:] != nonneg[:-1]).sum() / (n - 1)) if n > 1 else 0.0
    seg = []
    for s in range(n_segments):
        lo, hi = s * n // n_segments, (s + 1) * n // n_segments
        seg.append(float(np.abs(x[lo:hi]).sum() / max(hi - lo, 1)) / 32768.0 if hi > lo else 0.0)
    return [n / rate, rms, zcr, *seg]


def decode_media(payload: bytes, mime: str) -> list[float]:
    """Real decode entry point, dispatched by mime. Codec-free formats
    (BMP, PCM WAV) decode for real; formats that need PIL/ffmpeg raise —
    the explicit extension seam a real deployment fills per-format."""
    mime = (mime or "").lower()
    if mime in ("image/bmp", "image/x-bmp", "image/x-ms-bmp"):
        return bmp_features(decode_bmp(payload))
    if mime == "image/png":
        return bmp_features(decode_png(payload))
    if mime in ("image/jpeg", "image/jpg"):
        from .jpeg import decode_jpeg

        return bmp_features(decode_jpeg(payload))
    if mime in ("audio/wav", "audio/x-wav", "audio/wave"):
        return wav_features(*decode_wav(payload))
    raise NotImplementedError(
        f"mime {mime!r} requires a codec not in this container (MP3/MP4 "
        "entropy/transform decode of the CONTENT; container/framing "
        "parse is real — operators/containers.py); real content decode: "
        "image/bmp, image/png, image/jpeg, audio/wav"
    )


def fake_features(payload: bytes, n: int = 16) -> list[float]:
    """Deterministic stand-in decoder: 16-bin byte histogram, L1
    normalized. Same contract (bytes → float vector) as a real decoder."""
    if not payload:
        return [0.0] * n
    arr = np.frombuffer(payload, dtype=np.uint8)
    hist, _ = np.histogram(arr, bins=n, range=(0, 256))
    total = float(hist.sum()) or 1.0
    return (hist / total).astype(np.float32).tolist()


def extract_media_features(assets: DataFrame, use_fake: bool = True) -> DataFrame:
    """mapInPandas feature extraction over binary payloads. Arrow batch
    shape: pdf columns (media_ref, kind, payload, mime); one output row
    per asset. Partitioning is inherited — repartition upstream by
    hash(media_ref) for balance when payload sizes are skewed.

    ``use_fake=False`` dispatches :func:`decode_media` by mime — REAL
    decode for BMP/WAV, poison-row (features=null + err) for corrupt
    payloads or formats the container has no codec for."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats, shas, sizes, errs = [], [], [], []
            for payload, mime in zip(pdf["payload"], pdf["mime"]):
                b = bytes(payload) if payload is not None else b""
                if use_fake:
                    feats.append(fake_features(b))
                    errs.append(None)
                else:
                    try:
                        feats.append(decode_media(b, mime))
                        errs.append(None)
                    except Exception as exc:  # poison row, keep the batch
                        feats.append(None)
                        errs.append(f"{type(exc).__name__}: {exc}")
                shas.append(hashlib.sha1(b).hexdigest())
                sizes.append(len(b))
            yield pd.DataFrame(
                {
                    "media_ref": pdf["media_ref"],
                    "kind": pdf["kind"],
                    "n_bytes": sizes,
                    "sha1": shas,
                    "features": feats,
                    "err": errs,
                }
            )

    return assets.select("media_ref", "kind", "payload", "mime").mapInPandas(run, FEATURE_SCHEMA)


def sample_frames(assets: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Frame-sampling plumbing for video assets: emits one row per
    sampled timestamp (decode stubbed — frame payloads are null until a
    real codec is wired in). Demonstrates the explode-by-duration shape
    a real sampler uses."""
    frames = F.when(
        F.col("kind") == "video",
        F.transform(
            F.sequence(F.lit(0), F.greatest((F.col("duration_ms") / every_ms).cast("int") - 1, F.lit(0))),
            lambda i: i * every_ms,
        ),
    ).otherwise(F.array().cast("array<int>"))
    return (
        assets.withColumn("frame_ts", F.explode(frames))
        .select("media_ref", "frame_ts", F.lit(None).cast("binary").alias("frame_payload"))
    )


FRAME_SCHEMA = T.StructType(
    [
        T.StructField("media_ref", T.StringType(), False),
        T.StructField("frame_ts", T.LongType(), False),
        T.StructField("frame_payload", T.BinaryType(), True),
        T.StructField("err", T.StringType(), True),
    ]
)


# --- deterministic synthetic assets ------------------------------------
# Gate/test inputs: payloads derived arithmetically from doc_id so an
# independent oracle implementation reproduces identical bytes without
# sharing code. Spec (mirror in tools/make_fixtures.py):
#   image pixel (y, x, c) = (doc_id*31 + y*7 + x*13 + c*59) % 256
#   audio sample i        = (doc_id*40503 + i*2654435761) % 65536 - 32768


def synth_image(doc_id: int, h: int = 16, w: int = 16) -> np.ndarray:
    y, x, c = np.ogrid[0:h, 0:w, 0:3]
    return ((doc_id * 31 + y * 7 + x * 13 + c * 59) % 256).astype(np.uint8)


def synth_audio(doc_id: int, n: int = 1600) -> np.ndarray:
    i = np.arange(n, dtype=np.uint64)
    v = (np.uint64(doc_id * 40503) + i * np.uint64(2654435761)) % np.uint64(65536)
    return (v.astype(np.int64) - 32768).astype(np.int16)


def synth_media_assets(docs: DataFrame, kind: str) -> DataFrame:
    """documents(doc_id) → (media_ref, kind, payload, mime) with real
    encoded BMP/WAV payloads synthesized per row inside an Arrow batch
    kernel (encode cost stays on executors, scales with partitions)."""
    if kind not in ("bmp", "png", "jpeg", "wav"):
        raise ValueError(f"unknown synthetic kind {kind!r}")

    out_schema = T.StructType(
        [
            T.StructField("media_ref", T.StringType(), False),
            T.StructField("kind", T.StringType(), False),
            T.StructField("payload", T.BinaryType(), False),
            T.StructField("mime", T.StringType(), False),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = pdf["doc_id"].astype("int64")
            if kind == "bmp":
                payloads = [encode_bmp(synth_image(int(d))) for d in ids]
                mime, kname = "image/bmp", "image"
            elif kind == "png":
                payloads = [encode_png(synth_image(int(d))) for d in ids]
                mime, kname = "image/png", "image"
            elif kind == "jpeg":
                from .jpeg import encode_jpeg

                # 24x24 -> four 16x16 MCUs at 4:2:0, restart every 2
                # MCUs: the gate exercises subsampling, edge padding,
                # AND the DRI/RSTn path, not just the easy 4:4:4 case
                payloads = [
                    encode_jpeg(synth_image(int(d), 24, 24), quality=90,
                                subsample=True, restart_interval=2)
                    for d in ids
                ]
                mime, kname = "image/jpeg", "image"
            else:
                payloads = [encode_wav(synth_audio(int(d)), 8000) for d in ids]
                mime, kname = "audio/wav", "audio"
            yield pd.DataFrame(
                {
                    "media_ref": [f"{kind}-{d}" for d in ids],
                    "kind": kname,
                    "payload": payloads,
                    "mime": mime,
                }
            )

    return docs.select("doc_id").mapInPandas(run, out_schema)
