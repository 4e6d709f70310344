"""MP3 frame-walk + MP4 sample-table parsers (operators/containers.py):
structural roundtrips, stsc/chunk expansion, timestamp math, ID3 skip,
loud rejection of corrupt/unsupported payloads, and the Spark kernels
(metadata extraction + frame sampling with real BMP round-trip of the
sliced sample bytes). Parity with an independent scalar implementation
is pinned by the media_containers driver gate."""

from __future__ import annotations

import hashlib
import struct

import pytest

from insurance_pdf_extractor_spark.operators.containers import (
    MP3_BITRATE_KBPS,
    encode_mp3_stream,
    encode_mp4,
    mp3_frame_len,
    parse_mp3,
    parse_mp4,
    synth_mp3,
    synth_mp4,
)
from insurance_pdf_extractor_spark.operators.multimodal import (
    decode_bmp,
    encode_bmp,
    synth_image,
)


# --- MP3 ----------------------------------------------------------------

def test_mp3_roundtrip_frame_table():
    specs = [(9, 0), (9, 1), (14, 0), (1, 1)]
    b = encode_mp3_stream(specs)
    m = parse_mp3(b)
    assert m["n_frames"] == 4
    assert m["sample_rate"] == 44100
    assert [f[3] for f in m["frames"]] == [128, 128, 320, 32]
    assert [f[4] for f in m["frames"]] == [0, 1, 0, 1]
    # offsets are dense: each frame starts where the previous ended
    pos = 0
    for _, off, ln, kbps, pad in m["frames"]:
        assert off == pos and ln == mp3_frame_len(kbps, 44100, pad)
        pos += ln
    assert pos == len(b)
    assert m["duration_ms"] == 4 * 1152 * 1000 // 44100


def test_mp3_id3v2_skip():
    body = bytes(range(200))
    with_tag = encode_mp3_stream([(5, 0)], id3_body=body)
    without = encode_mp3_stream([(5, 0)])
    assert parse_mp3(with_tag)["frames"][0][1] == 10 + 200  # offset past tag
    assert parse_mp3(without)["frames"][0][1] == 0
    assert parse_mp3(with_tag)["n_frames"] == parse_mp3(without)["n_frames"]


def test_mp3_rejects_corrupt_and_unsupported():
    good = encode_mp3_stream([(5, 0), (5, 0)])
    with pytest.raises(ValueError, match="sync"):
        parse_mp3(b"\x00" + good)
    with pytest.raises(ValueError, match="truncated"):
        parse_mp3(good[:-10])
    with pytest.raises(ValueError, match="no MP3 frames"):
        parse_mp3(b"")
    # flip version bits to MPEG-2 (version field 10)
    b = bytearray(good)
    b[1] = (b[1] & ~0x18) | 0x10
    with pytest.raises(NotImplementedError, match="MPEG-1"):
        parse_mp3(bytes(b))
    # flip layer bits to Layer I (11)
    b = bytearray(good)
    b[1] = (b[1] & ~0x06) | 0x06
    with pytest.raises(NotImplementedError, match="Layer III"):
        parse_mp3(bytes(b))
    # invalid bitrate index 15
    b = bytearray(good)
    b[2] |= 0xF0
    with pytest.raises(ValueError, match="invalid bitrate"):
        parse_mp3(bytes(b))


def test_mp3_vbr_mean():
    specs = [(1, 0), (14, 0)]  # 32 + 320 kbps
    m = parse_mp3(encode_mp3_stream(specs))
    assert m["mean_kbps"] == (32 + 320) / 2
    assert MP3_BITRATE_KBPS[1] == 32 and MP3_BITRATE_KBPS[14] == 320


# --- MP4 ----------------------------------------------------------------

def test_mp4_sample_table_roundtrip():
    frames = [bytes([i]) * (10 + i) for i in range(7)]
    deltas = [100, 100, 50, 50, 50, 200, 100]
    b = encode_mp4(frames, deltas, timescale=1000)
    v = parse_mp4(b)
    assert v["n_samples"] == 7
    assert v["timescale"] == 1000
    assert v["duration_ms"] == sum(deltas)
    assert v["codec"] == "rawb"
    # every sample slices back to its exact payload, timestamps cumulative
    ts = 0
    for k, (idx, off, size, t) in enumerate(v["samples"]):
        assert idx == k and t == ts
        assert b[off : off + size] == frames[k]
        ts += deltas[k]


def test_mp4_multi_chunk_offsets_respect_stsc():
    """7 samples at first_chunk=2, rest=3 → chunks of 2/3/2: a parser
    ignoring stsc (assuming one chunk or uniform chunks) reads wrong
    offsets for every sample after the first chunk."""
    frames = [bytes([k]) * 8 for k in range(7)]
    b = encode_mp4(frames, [10] * 7)
    v = parse_mp4(b)
    # chunk boundaries are non-contiguous in the file only if stco says
    # so; here they are dense, but the stsc expansion itself is what
    # maps sample->chunk. Verify content, which catches any mismap.
    for k, (_, off, size, _) in enumerate(v["samples"]):
        assert b[off : off + size] == frames[k]


def test_mp4_real_bmp_frames_decode():
    n = 6
    frames = [encode_bmp(synth_image(100 + k, 8, 8)) for k in range(n)]
    b = encode_mp4(frames, [40] * n)
    v = parse_mp4(b)
    for k, (_, off, size, _) in enumerate(v["samples"]):
        assert (decode_bmp(b[off : off + size]) == synth_image(100 + k, 8, 8)).all()


def test_mp4_rejects_corrupt():
    good = encode_mp4([b"xx", b"yyy"], [10, 10])
    with pytest.raises(ValueError):
        parse_mp4(b"notanmp4")
    with pytest.raises(ValueError, match="moov"):
        parse_mp4(good[: good.index(b"moov") - 4])  # drop moov
    # truncate mid-moov: box overruns its container
    with pytest.raises(ValueError):
        parse_mp4(good[:-20])
    # corrupt a box size field inside stbl
    b = bytearray(good)
    i = b.index(b"stsz") - 4
    struct.pack_into(">I", b, i, 1 << 30)
    with pytest.raises(ValueError):
        parse_mp4(bytes(b))


def test_mp4_largesize_and_co64():
    """64-bit box sizes and co64 chunk offsets parse identically."""
    frames = [bytes([k]) * 6 for k in range(4)]
    b = bytearray(encode_mp4(frames, [25] * 4))
    # rewrite mdat to largesize form: size=1 + 64-bit size after tag
    i = b.index(b"mdat") - 4
    (size,) = struct.unpack_from(">I", b, i)
    big = struct.pack(">I", 1) + b"mdat" + struct.pack(">Q", size + 8) + bytes(b[i + 8 : i + size])
    shift = 8  # payload moved 8 bytes right
    rest = bytes(b[i + size :])
    head = bytes(b[:i])
    # patch stco offsets by +shift in the tail (moov comes after mdat)
    v0 = parse_mp4(bytes(b))
    out = bytearray(head + big + rest)
    j = out.index(b"stco") + 4
    (n_chunks,) = struct.unpack_from(">I", out, j + 4)
    for c in range(n_chunks):
        (off,) = struct.unpack_from(">I", out, j + 8 + 4 * c)
        struct.pack_into(">I", out, j + 8 + 4 * c, off + shift)
    v1 = parse_mp4(bytes(out))
    assert [s[2] for s in v1["samples"]] == [s[2] for s in v0["samples"]]
    for k, (_, off, size_, _) in enumerate(v1["samples"]):
        assert bytes(out[off : off + size_]) == frames[k]


def test_synth_specs_deterministic():
    for d in (0, 3, 41):
        assert synth_mp3(d) == synth_mp3(d)
        assert synth_mp4(d) == synth_mp4(d)
        assert parse_mp3(synth_mp3(d))["n_frames"] == 6 + d % 5
        assert parse_mp4(synth_mp4(d))["n_samples"] == 5 + d % 4


# --- Spark kernels --------------------------------------------------------

def test_extract_container_metadata_kernel(spark):
    from insurance_pdf_extractor_spark.operators.containers import (
        extract_container_metadata,
        synth_container_assets,
    )

    docs = spark.createDataFrame([(d,) for d in range(12)], "doc_id long")
    assets = synth_container_assets(docs, "mp3").unionByName(
        synth_container_assets(docs, "mp4")
    )
    got = {r["media_ref"]: r for r in extract_container_metadata(assets).collect()}
    assert len(got) == 24
    for d in range(12):
        m = got[f"mp3-{d}"]
        assert m["container"] == "mp3" and m["err"] is None
        assert m["n_frames"] == 6 + d % 5
        assert m["duration_ms"] == (6 + d % 5) * 1152 * 1000 // 44100
        assert m["sha1"] == hashlib.sha1(synth_mp3(d)).hexdigest()
        v = got[f"mp4-{d}"]
        assert v["container"] == "mp4" and v["codec"] == "rawb"
        assert v["timescale"] == 1000 and v["err"] is None
        assert v["n_frames"] == 5 + d % 4


def test_container_metadata_poison_rows(spark):
    from insurance_pdf_extractor_spark.operators.containers import (
        extract_container_metadata,
    )

    rows = [
        ("ok", synth_mp3(1), "audio/mpeg"),
        ("bad-mp3", b"\x00\x01\x02", "audio/mpeg"),
        ("bad-mp4", b"garbage!", "video/mp4"),
        ("no-parser", b"1234", "application/octet-stream"),
    ]
    assets = spark.createDataFrame(rows, "media_ref string, payload binary, mime string")
    got = {r["media_ref"]: r for r in extract_container_metadata(assets).collect()}
    assert got["ok"]["err"] is None and got["ok"]["n_frames"] == 7
    for ref in ("bad-mp3", "bad-mp4", "no-parser"):
        assert got[ref]["err"] is not None and got[ref]["container"] is None
    assert "NotImplementedError" in got["no-parser"]["err"]


def test_sample_frames_mp4_kernel(spark):
    from insurance_pdf_extractor_spark.operators.containers import (
        sample_frames_mp4,
        synth_container_assets,
    )

    docs = spark.createDataFrame([(3,), (4,)], "doc_id long")
    assets = synth_container_assets(docs, "mp4")
    frames = sample_frames_mp4(assets, every_ms=100).collect()
    by_ref: dict[str, list] = {}
    for r in frames:
        by_ref.setdefault(r["media_ref"], []).append(r)
    for d in (3, 4):
        meta = parse_mp4(synth_mp4(d))
        rows = sorted(by_ref[f"mp4-{d}"], key=lambda r: r["frame_ts"])
        assert [r["frame_ts"] for r in rows] == list(range(0, meta["duration_ms"], 100))
        # each sampled payload is the covering sample's exact bytes and
        # round-trips through the real BMP decoder
        for r in rows:
            units = r["frame_ts"]  # timescale 1000 → units == ms
            k = max(i for i, (_, _, _, ts) in enumerate(meta["samples"]) if ts <= units)
            img = decode_bmp(bytes(r["frame_payload"]))
            assert (img == synth_image(d + k, 8, 8)).all()
        assert all(r["err"] is None for r in rows)


def test_sample_frames_mp4_zero_duration_poison_row(spark):
    """mdhd duration=0 with a non-empty sample table passes parse_mp4
    (duration <= stts total holds trivially), but the timestamp loop
    would emit zero rows — the asset must surface as a poison row, not
    vanish from the output."""
    import struct as _s

    from insurance_pdf_extractor_spark.operators.containers import sample_frames_mp4

    raw = bytearray(synth_mp4(5))
    i = raw.index(b"mdhd")
    _s.pack_into(">I", raw, i + 4 + 16, 0)  # duration = 0
    assets = spark.createDataFrame(
        [("zero-dur", bytes(raw))], "media_ref string, payload binary"
    )
    rows = sample_frames_mp4(assets, every_ms=100).collect()
    assert len(rows) == 1
    assert rows[0]["frame_ts"] == -1 and rows[0]["frame_payload"] is None
    assert "non-positive mdhd duration" in rows[0]["err"]


def test_sample_frames_mp4_corrupt_poison_row(spark):
    """A corrupt container (junk bytes, a truncated file, no payload)
    surfaces as one poison row per asset — no payload, ``frame_ts`` -1,
    the parse error — while a valid asset in the same batch samples."""
    from insurance_pdf_extractor_spark.operators.containers import sample_frames_mp4

    good = synth_mp4(3)
    assets = spark.createDataFrame(
        [("good", good), ("junk", b"junk"), ("trunc", good[:-20]), ("none", None)],
        "media_ref string, payload binary",
    )
    rows = sample_frames_mp4(assets, every_ms=100).collect()
    assert any(r["media_ref"] == "good" and r["err"] is None for r in rows)
    for ref in ("junk", "trunc", "none"):
        bad = [r for r in rows if r["media_ref"] == ref]
        assert len(bad) == 1, ref
        assert bad[0]["frame_ts"] == -1 and bad[0]["frame_payload"] is None
        assert "ValueError" in bad[0]["err"], bad[0]["err"]


# --- r5 second half: MP4 CONTENT decode (MJPEG frames, PCM audio) ---------

def test_mp4_pcm_roundtrip():
    """encode_mp4_pcm → parse_mp4: audio handler/codec/entry fields,
    short last sample, and exact PCM reassembly from the sample table."""
    import numpy as np

    from insurance_pdf_extractor_spark.operators.containers import encode_mp4_pcm

    x = np.arange(-500, 500, dtype=np.int16)  # 1000 frames
    b = encode_mp4_pcm(x, 8000, frames_per_sample=300)
    m = parse_mp4(b)
    assert m["handler"] == "soun" and m["codec"] == "twos"
    assert (m["channels"], m["sample_bits"], m["sample_rate_hz"]) == (1, 16, 8000)
    # 1000 frames at 300/sample → 3 full + 1 short sample of 100
    sizes = [s for _, _, s, _ in m["samples"]]
    assert sizes == [600, 600, 600, 200]
    assert m["duration_ms"] == 1000 * 1000 // 8000
    pcm = b"".join(b[off : off + size] for _, off, size, _ in m["samples"])
    assert np.array_equal(np.frombuffer(pcm, dtype=">i2").astype(np.int16), x)


def test_synth_mp4_pcm_matches_wav_waveform():
    """The PCM MP4 branch carries the SAME waveform as the WAV branch
    (multimodal.synth_audio), so decoded features must be equal."""
    import numpy as np

    from insurance_pdf_extractor_spark.operators.containers import synth_mp4_pcm
    from insurance_pdf_extractor_spark.operators.multimodal import synth_audio

    for d in (0, 1, 2):
        b = synth_mp4_pcm(d)
        m = parse_mp4(b)
        pcm = b"".join(b[off : off + size] for _, off, size, _ in m["samples"])
        got = np.frombuffer(pcm, dtype=">i2").astype(np.int16)
        assert np.array_equal(got, synth_audio(d))


def test_mp4_pcm_sowt_stereo_roundtrip():
    """Stereo little-endian PCM ('sowt'): parse reads channelcount 2
    and the sowt fourcc; the reassembled stream is the interleaved LE
    input; stts deltas count FRAMES (interleaved pairs), not values."""
    import numpy as np

    from insurance_pdf_extractor_spark.operators.containers import encode_mp4_pcm

    x = np.stack(
        [np.arange(-450, 450, dtype=np.int16), np.arange(450, -450, -1, dtype=np.int16)],
        axis=1,
    )  # 900 frames x 2 channels
    b = encode_mp4_pcm(x, 11025, frames_per_sample=400, codec=b"sowt")
    m = parse_mp4(b)
    assert m["handler"] == "soun" and m["codec"] == "sowt"
    assert (m["channels"], m["sample_bits"], m["sample_rate_hz"]) == (2, 16, 11025)
    # 900 frames at 400/sample, 4 bytes/frame → 1600/1600/400 byte samples
    assert [s for _, _, s, _ in m["samples"]] == [1600, 1600, 400]
    assert m["duration_ms"] == 900 * 1000 // 11025
    pcm = b"".join(b[off : off + size] for _, off, size, _ in m["samples"])
    assert np.array_equal(
        np.frombuffer(pcm, dtype="<i2").astype(np.int16).reshape(-1, 2), x
    )


def test_mp4_muxed_track_selection():
    """A muxed A+V file: want_handler picks the right trak (video spec
    frames, audio spec waveform), default parse reads the first (video)
    trak, and a missing handler is a clean ValueError."""
    import numpy as np
    import pytest

    from insurance_pdf_extractor_spark.operators.containers import (
        synth_mp4,
        synth_mp4_muxed,
        synth_mp4_pcm,
    )
    from insurance_pdf_extractor_spark.operators.multimodal import (
        decode_bmp,
        synth_audio,
        synth_image,
    )

    for d in (0, 3, 6):
        b = synth_mp4_muxed(d)
        mv = parse_mp4(b, "vide")
        assert mv["handler"] == "vide" and mv["codec"] == "rawb"
        assert mv["n_samples"] == 5 + d % 4
        for k, (_, off, size, _) in enumerate(mv["samples"]):
            assert (decode_bmp(b[off : off + size]) == synth_image(d + k, 8, 8)).all()
        ma = parse_mp4(b, "soun")
        assert ma["handler"] == "soun" and ma["codec"] == "twos"
        assert (ma["channels"], ma["sample_rate_hz"]) == (1, 8000)
        pcm = b"".join(b[off : off + size] for _, off, size, _ in ma["samples"])
        assert np.array_equal(
            np.frombuffer(pcm, dtype=">i2").astype(np.int16), synth_audio(d)
        )
        # default = first trak (video), byte-for-byte the same table
        assert parse_mp4(b)["samples"] == mv["samples"]
    with pytest.raises(ValueError, match="no 'soun' track"):
        parse_mp4(synth_mp4(2), "soun")
    with pytest.raises(ValueError, match="no 'vide' track"):
        parse_mp4(synth_mp4_pcm(2), "vide")


def test_mp4_muxed_kernels(spark):
    """All three media kernels pick their track out of ONE muxed
    payload: metadata reports the primary (video) track, frame sampling
    slices video samples, audio decode reassembles the PCM track."""
    import numpy as np

    from insurance_pdf_extractor_spark.operators.containers import (
        decode_mp4_audio,
        decode_mp4_frames,
        sample_frames_mp4,
        synth_container_assets,
    )
    from insurance_pdf_extractor_spark.operators.multimodal import (
        bmp_features,
        synth_audio,
        synth_image,
        wav_features,
    )

    docs = spark.createDataFrame([(1,), (4,)], "doc_id long")
    assets = synth_container_assets(docs, "muxed")

    from insurance_pdf_extractor_spark.operators.containers import (
        extract_container_metadata,
    )

    meta = {r["media_ref"]: r for r in extract_container_metadata(assets).collect()}
    for d in (1, 4):
        r = meta[f"muxed-{d}"]
        assert r["err"] is None and r["codec"] == "rawb" and r["timescale"] == 1000
        assert r["n_frames"] == 5 + d % 4

    frames = sample_frames_mp4(assets, every_ms=100).collect()
    assert all(r["err"] is None for r in frames)
    vrows = decode_mp4_frames(assets, every_ms=200).collect()
    assert all(r["err"] is None for r in vrows)
    first = next(r for r in vrows if r["media_ref"] == "muxed-1" and r["frame_ts"] == 0)
    want_v = np.asarray(bmp_features(synth_image(1, 8, 8)), dtype=np.float32)
    assert np.array_equal(np.asarray(first["features"], dtype=np.float32), want_v)

    arows = {r["media_ref"]: r for r in decode_mp4_audio(assets).collect()}
    for d in (1, 4):
        r = arows[f"muxed-{d}"]
        assert r["err"] is None and r["sample_rate"] == 8000
        want_a = np.asarray(wav_features(synth_audio(d), 8000), dtype=np.float32)
        assert np.array_equal(np.asarray(r["features"], dtype=np.float32), want_a)


def test_encode_mp4_pcm_validation():
    import numpy as np
    import pytest

    from insurance_pdf_extractor_spark.operators.containers import encode_mp4_pcm

    x = np.zeros(100, dtype=np.int16)
    with pytest.raises(ValueError, match="twos/sowt"):
        encode_mp4_pcm(x, 8000, codec=b"mp4a")
    with pytest.raises(ValueError, match="non-empty"):
        encode_mp4_pcm(np.zeros((0, 2), dtype=np.int16), 8000)
    with pytest.raises(ValueError, match="16.16"):
        encode_mp4_pcm(x, 1 << 16)


def test_decode_mp4_audio_sowt_and_multichannel_downmix(spark):
    """sowt stereo assets decode to the WAV feature spec over the
    downmixed waveform ((L+R) floor-div 2 — decode_wav's exact rule),
    and a 3-channel track downmixes with the same int64-sum//nch."""
    import numpy as np

    from insurance_pdf_extractor_spark.operators.containers import (
        decode_mp4_audio,
        encode_mp4_pcm,
        synth_container_assets,
    )
    from insurance_pdf_extractor_spark.operators.multimodal import synth_audio, wav_features

    docs = spark.createDataFrame([(0,), (5,)], "doc_id long")
    rows = {r["media_ref"]: r for r in decode_mp4_audio(
        synth_container_assets(docs, "pcm_sowt")
    ).collect()}
    for d in (0, 5):
        r = rows[f"pcm_sowt-{d}"]
        assert r["err"] is None and r["sample_rate"] == 11025
        mono = (
            np.stack([synth_audio(d), synth_audio(d + 7)], axis=1)
            .astype(np.int64).sum(axis=1) // 2
        ).astype(np.int16)
        want = np.asarray(wav_features(mono, 11025), dtype=np.float32)
        assert np.array_equal(np.asarray(r["features"], dtype=np.float32), want)

    rs = np.random.RandomState(3)
    x3 = rs.randint(-32768, 32768, size=(777, 3)).astype(np.int16)
    tri = spark.createDataFrame(
        [("tri", encode_mp4_pcm(x3, 22050, codec=b"twos"))],
        "media_ref string, payload binary",
    )
    r = decode_mp4_audio(tri).collect()[0]
    assert r["err"] is None and r["sample_rate"] == 22050
    mono3 = (x3.astype(np.int64).sum(axis=1) // 3).astype(np.int16)
    want3 = np.asarray(wav_features(mono3, 22050), dtype=np.float32)
    assert np.array_equal(np.asarray(r["features"], dtype=np.float32), want3)


def test_decode_mp4_frames_mjpeg_kernel(spark):
    """Every 200 ms tick decodes the covering MJPEG sample through the
    real JPEG kernel; features equal a direct slice+decode, and ticks
    covered by one sample share one decode (identical feature lists)."""
    from insurance_pdf_extractor_spark.operators.containers import (
        decode_mp4_frames,
        synth_container_assets,
        synth_mp4_mjpeg,
    )
    from insurance_pdf_extractor_spark.operators.jpeg import decode_jpeg
    from insurance_pdf_extractor_spark.operators.multimodal import bmp_features

    import numpy as np

    docs = spark.createDataFrame([(1,), (5,)], "doc_id long")
    rows = decode_mp4_frames(
        synth_container_assets(docs, "mjpeg"), every_ms=200
    ).collect()
    assert rows and all(r["err"] is None for r in rows)
    by_ref: dict[str, list] = {}
    for r in rows:
        by_ref.setdefault(r["media_ref"], []).append(r)
    for d in (1, 5):
        b = synth_mp4_mjpeg(d)
        m = parse_mp4(b)
        got = sorted(by_ref[f"mjpeg-{d}"], key=lambda r: r["frame_ts"])
        assert [r["frame_ts"] for r in got] == list(range(0, m["duration_ms"], 200))
        for r in got:
            k = max(i for i, (_, _, _, ts) in enumerate(m["samples"]) if ts <= r["frame_ts"])
            _, off, size, _ = m["samples"][k]
            want = np.asarray(bmp_features(decode_jpeg(b[off : off + size])), dtype=np.float32)
            assert np.array_equal(np.asarray(r["features"], dtype=np.float32), want)


def test_decode_mp4_frames_rawb_and_unsupported(spark):
    """rawb samples decode through the BMP path; an avc1 fourcc hits
    the explicit codec seam and poisons the FRAME rows, keeping the
    asset visible."""
    import struct as _s

    import numpy as np

    from insurance_pdf_extractor_spark.operators.containers import (
        decode_mp4_frames,
        synth_mp4,
    )
    from insurance_pdf_extractor_spark.operators.multimodal import bmp_features, synth_image

    raw = synth_mp4(3)
    avc = bytearray(raw)
    i = avc.index(b"rawb")
    avc[i : i + 4] = b"avc1"
    assets = spark.createDataFrame(
        [("ok", raw), ("h264", bytes(avc))], "media_ref string, payload binary"
    )
    rows = decode_mp4_frames(assets, every_ms=300).collect()
    ok = sorted((r for r in rows if r["media_ref"] == "ok"), key=lambda r: r["frame_ts"])
    m = parse_mp4(raw)
    assert [r["frame_ts"] for r in ok] == list(range(0, m["duration_ms"], 300))
    for r in ok:
        k = max(i for i, (_, _, _, ts) in enumerate(m["samples"]) if ts <= r["frame_ts"])
        want = np.asarray(bmp_features(synth_image(3 + k, 8, 8)), dtype=np.float32)
        assert np.array_equal(np.asarray(r["features"], dtype=np.float32), want)
    h264 = [r for r in rows if r["media_ref"] == "h264"]
    assert h264 and all(
        r["features"] is None and "NotImplementedError" in r["err"] for r in h264
    )


def test_decode_mp4_audio_kernel(spark):
    """PCM assets decode to the WAV feature spec; video containers and
    compressed-audio fourccs poison their rows, never the batch."""
    import numpy as np

    from insurance_pdf_extractor_spark.operators.containers import (
        decode_mp4_audio,
        synth_container_assets,
    )
    from insurance_pdf_extractor_spark.operators.multimodal import synth_audio, wav_features

    docs = spark.createDataFrame([(0,), (4,)], "doc_id long")
    rows = {r["media_ref"]: r for r in decode_mp4_audio(
        synth_container_assets(docs, "pcm_mp4")
    ).collect()}
    for d in (0, 4):
        r = rows[f"pcm_mp4-{d}"]
        assert r["err"] is None and r["sample_rate"] == 8000
        want = np.asarray(wav_features(synth_audio(d), 8000), dtype=np.float32)
        assert np.array_equal(np.asarray(r["features"], dtype=np.float32), want)
    # cross-kind: a video-only file is a loud poison row, not a crash
    # (handler-targeted selection finds no audio trak to decode)
    vid = synth_container_assets(docs, "mjpeg")
    bad = decode_mp4_audio(vid).collect()
    assert all("no 'soun' track" in r["err"] for r in bad)


def test_decode_kernels_poison_corrupt_payloads(spark):
    """A corrupt container poisons its row in BOTH content-decode
    kernels while valid rows in the same batch still decode."""
    from insurance_pdf_extractor_spark.operators.containers import (
        decode_mp4_audio,
        decode_mp4_frames,
        synth_mp4_mjpeg,
        synth_mp4_pcm,
    )

    good_v, good_a = synth_mp4_mjpeg(2), synth_mp4_pcm(2)
    assets_v = spark.createDataFrame(
        [("good", good_v), ("trunc", good_v[:40]), ("none", b"")],
        "media_ref string, payload binary",
    )
    rows = decode_mp4_frames(assets_v, every_ms=200).collect()
    assert any(r["media_ref"] == "good" and r["err"] is None for r in rows)
    for ref in ("trunc", "none"):
        bad = [r for r in rows if r["media_ref"] == ref]
        assert len(bad) == 1 and bad[0]["err"] is not None and bad[0]["frame_ts"] == -1
    assets_a = spark.createDataFrame(
        [("good", good_a), ("trunc", good_a[:40])], "media_ref string, payload binary"
    )
    arows = {r["media_ref"]: r for r in decode_mp4_audio(assets_a).collect()}
    assert arows["good"]["err"] is None
    assert arows["trunc"]["err"] is not None and arows["trunc"]["features"] is None
