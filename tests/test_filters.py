"""PDF stream-filter decode (operators/filters.py): codec round trips,
the spec's own LZW vector, the splice byte-identity contract that lets
the flagship fixture gate compressed renders, per-stream dirt
tolerance, and bomb rejection.

Reference parity: pypdf decompresses stream filters transparently
before page.extract_text() (app/services/pdf_processor.py:364-375);
these tests pin that a filtered render extracts byte-identically to
the plain render through OUR scanner.
"""

from __future__ import annotations

import random
import zlib

import pytest

from insurance_pdf_extractor_spark.operators import filters as flt
from insurance_pdf_extractor_spark.operators.assemble import extract_spans
from insurance_pdf_extractor_spark.operators.filters import (
    ENCODERS,
    StreamBombError,
    ascii85_decode,
    ascii_hex_decode,
    decode_content_filters,
    encode_chain,
    lzw_decode,
    lzw_encode,
    rle_decode,
    stream_object_bytes,
)
from insurance_pdf_extractor_spark.sources.render import (
    FILTER_MIX,
    filters_for_doc,
    render_text,
)

# ---------------------------------------------------------------------------
# codec units
# ---------------------------------------------------------------------------


def test_lzw_pdf_spec_vector():
    # PDF 32000-1:2008 §7.4.4.2 worked example (decimal byte values):
    # input 45×5 65 45×3 66 → codes 256 45 258 258 65 259 66 257
    # → bytes 80 0B 60 50 22 0C 0C 85 01
    inp = bytes([45, 45, 45, 45, 45, 65, 45, 45, 45, 66])
    exp = bytes.fromhex("800B6050220C0C8501")
    assert lzw_encode(inp) == exp
    assert lzw_decode(exp) == inp


@pytest.mark.parametrize("name", sorted(ENCODERS))
def test_codec_roundtrip(name):
    rng = random.Random(name)
    cases = [
        b"",
        b"A",
        b"\x00" * 513,
        bytes(range(256)) * 3,
        bytes(rng.randrange(256) for _ in range(4096)),
        b"BT\n72.0 740.0 Td\n(hello) Tj\nET\n" * 200,
    ]
    enc = ENCODERS[name]
    dec = flt._DECODERS[name.encode()]
    for data in cases:
        assert dec(enc(data)) == data


def test_lzw_width_transitions_and_table_reset():
    rng = random.Random(3)
    data = bytes(rng.randrange(256) for _ in range(20000))  # 9→12-bit widths
    assert lzw_decode(lzw_encode(data)) == data
    data2 = b"the quick brown fox " * 3000  # crosses the 4096 table reset
    assert lzw_decode(lzw_encode(data2)) == data2


def test_ascii_codec_dirt():
    assert ascii_hex_decode(b"4 8\n69> ignored-after-eod") == b"Hi"  # ws skipped, > is EOD
    assert ascii_hex_decode(b"486") == b"H`"  # odd trailing digit pads 0
    with pytest.raises(ValueError):
        ascii_hex_decode(b"4z>")
    assert ascii85_decode(b"z~>") == b"\x00\x00\x00\x00"
    with pytest.raises(ValueError):
        ascii85_decode(b"x")  # lone trailing char is illegal
    with pytest.raises(ValueError):
        rle_decode(b"\x05ab")  # truncated literal


@pytest.mark.parametrize("predictor", [2, 10, 11, 12, 13, 14, 15])
@pytest.mark.parametrize("colors,columns", [(1, 1), (1, 16), (3, 8)])
def test_predictor_roundtrip(predictor, colors, columns):
    from insurance_pdf_extractor_spark.operators.filters import (
        apply_predictor,
        encode_predictor,
    )

    rng = random.Random((predictor, colors, columns).__repr__())
    row_w = colors * columns
    for rows in (0, 1, 7):
        data = bytes(rng.randrange(256) for _ in range(row_w * rows))
        enc = encode_predictor(data, predictor, columns=columns, colors=colors)
        assert apply_predictor(enc, predictor, columns=columns, colors=colors) == data


def test_predictor_hostility():
    from insurance_pdf_extractor_spark.operators.filters import (
        apply_predictor,
        encode_predictor,
    )

    with pytest.raises(ValueError):
        apply_predictor(b"\x09\x00\x00", 12, columns=2)  # bad PNG filter byte
    with pytest.raises(ValueError):
        apply_predictor(b"\x00\x00", 12, columns=4)  # truncated row
    with pytest.raises(ValueError):
        encode_predictor(b"abc", 12, columns=2)  # unaligned encode


@pytest.mark.parametrize(
    "columns,colors,tags",
    [
        (1, 1, [0, 1, 2, 3, 4, 2, 2, 1, 0, 3, 4, 4]),
        (1, 3, [4, 2, 2, 3, 1, 0, 2, 4, 3, 2]),
        (5, 3, [4, 2, 2, 2, 3, 2, 1, 2]),  # an Up run right after a Paeth row
        (7, 4, [2, 2, 4, 3, 3, 1, 1, 2]),  # an Up run on the first row
    ],
)
def test_predictor_mixed_row_tags(columns, colors, tags):
    """Writers may pick a PNG filter per row (predictor 15 is the
    encoder's "optimum" choice); decode follows each row's own tag,
    whatever the dict says. ``encode_predictor`` writes one tag per
    stream, so the mixed streams come from the reference filterer."""
    from png_rows import png_filter_rows

    from insurance_pdf_extractor_spark.operators.filters import apply_predictor

    rng = random.Random(repr((columns, colors, tags)))
    rows = [bytes(rng.randrange(256) for _ in range(columns * colors)) for _ in tags]
    enc = png_filter_rows(rows, tags, colors)
    for predictor in (10, 12, 15):
        assert apply_predictor(enc, predictor, columns=columns, colors=colors) == b"".join(rows)


def test_predictor_zero_rows_and_short_tiff_row():
    from insurance_pdf_extractor_spark.operators.filters import apply_predictor

    for predictor in (2, 10, 12, 15):
        assert apply_predictor(b"", predictor, columns=4, colors=3) == b""
    # TIFF 2 over 6-byte rows (Columns 2 × Colors 3) with a 4-byte final
    # row: the short row is undone as far as it goes (byte 3 adds byte
    # 0), sums wrap mod 256
    data = bytes([200, 100, 50, 200, 200, 200, 1, 2, 3, 255])
    assert apply_predictor(data, 2, columns=2, colors=3) == bytes(
        [200, 100, 50, 144, 44, 250, 1, 2, 3, 0]
    )
    # a hostile /Columns wider than the data is one short row, not an
    # allocation of the declared row width
    assert apply_predictor(data, 2, columns=10**12, colors=3) == apply_predictor(
        data, 2, columns=4, colors=3
    )
    assert apply_predictor(b"", 12, columns=10**12) == b""


def test_decode_parms_predictor_through_stream_object():
    # explicit dict form: LZW + TIFF predictor 2, exactly as a PDF
    # writer would emit it
    from insurance_pdf_extractor_spark.operators.filters import encode_predictor

    body = b"BT\n72.0 740.0 Td\n(predicted) Tj\nET\n"
    enc = lzw_encode(encode_predictor(body, 2, columns=len(body)))
    obj = (
        b"5 0 obj\n<< /Length %d /Filter /LZWDecode /DecodeParms "
        b"<< /Predictor 2 /Columns %d >> >>\nstream\n" % (len(enc), len(body))
        + enc
        + b"\nendstream\nendobj\n"
    )
    assert decode_content_filters(b"%PDF-1.4\n" + obj) == b"%PDF-1.4\n" + body


# ---------------------------------------------------------------------------
# splice contract: filtered render decodes to the byte-identical plain buffer
# ---------------------------------------------------------------------------

TEXT = " ".join(f"tok{i % 37} alpha beta" for i in range(800))  # multi-page


@pytest.mark.parametrize("mix", [m for m in FILTER_MIX if m])
def test_splice_byte_identity(mix):
    plain, n_plain = render_text("d9", TEXT)
    comp, n_comp = render_text("d9", TEXT, filters=mix)
    assert n_comp == n_plain
    assert comp != plain
    assert decode_content_filters(comp) == plain


@pytest.mark.parametrize("mix", [m for m in FILTER_MIX if m])
def test_span_equality_through_kernel(mix):
    plain, n = render_text("d9", TEXT)
    base = extract_spans(plain, [("m-1", 7)], n)
    comp, nc = render_text("d9", TEXT, filters=mix)
    assert extract_spans(comp, [("m-1", 7)], nc) == base
    assert any(s["kind"] == "text" for s in base)


def test_filters_for_doc_covers_every_mix():
    seen = {filters_for_doc(str(i)) for i in range(200)}
    assert seen == set(FILTER_MIX)


def test_unfiltered_buffer_untouched():
    plain, _ = render_text("d1", TEXT)
    assert decode_content_filters(plain) is plain  # fast-path identity


def test_info_dict_not_a_stream_survives():
    # the info object is a dict WITHOUT a stream keyword; the rewrite
    # must pass it through untouched even when other objects decode
    comp, _ = render_text("d3", "hello world", filters=("FlateDecode",))
    out = decode_content_filters(comp)
    assert b"/Title (Document d3)" in out


# ---------------------------------------------------------------------------
# dirt + hostile discipline
# ---------------------------------------------------------------------------


def _doc(*objs: bytes) -> bytes:
    return b"%PDF-1.4\n%%PAGE 0\n" + b"".join(objs)


TAIL = b"BT\n72.0 740.0 Td\n(still here) Tj\nET\n"


def test_bomb_rejected_and_poisons_text_free():
    bomb = zlib.compress(b"\x00" * (200 << 20), 9)
    doc = _doc(
        b"2 0 obj\n<< /Length %d /Filter /FlateDecode >>\nstream\n" % len(bomb),
        bomb,
        b"\nendstream\nendobj\n",
        TAIL,
    )
    with pytest.raises(StreamBombError):
        decode_content_filters(doc)
    # kernel turns the bomb into a text-free (media-only) document
    assert extract_spans(doc, [("m-9", 3)], 1) == [
        {"kind": "media", "text": None, "media_ref": "m-9", "offset": 3}
    ]


def test_corrupt_stream_skipped_rest_extracts():
    doc = _doc(
        b"2 0 obj\n<< /Length 10 /Filter /FlateDecode >>\nstream\n0123456789\nendstream\nendobj\n",
        TAIL,
    )
    spans = extract_spans(doc, [], 1)
    assert [s["text"] for s in spans] == ["still here"]


def test_unsupported_filter_dropped_rest_extracts():
    # a DCTDecode image XObject must not poison the document's text
    doc = _doc(
        b"3 0 obj\n<< /Length 4 /Filter /DCTDecode >>\nstream\n\xff\xd8\xff\xd9\nendstream\nendobj\n",
        TAIL,
    )
    spans = extract_spans(doc, [], 1)
    assert [s["text"] for s in spans] == ["still here"]


def test_length_lie_falls_back_to_endstream_scan():
    doc = (
        b"%PDF-1.4\n2 0 obj\n<< /Length 999999 /Filter /ASCIIHexDecode >>\nstream\n"
        b"42542028686921292054 6a2045540a>\nendstream\nendobj\n"
    )
    assert decode_content_filters(doc) == b"%PDF-1.4\nBT (hi!) Tj ET\n"


def test_indirect_length_falls_back():
    body = zlib.compress(b"BT (x) Tj ET\n")
    doc = (
        b"%PDF-1.4\n2 0 obj\n<< /Length 7 0 R /Filter /FlateDecode >>\nstream\n"
        + body
        + b"\nendstream\nendobj\n"
    )
    assert decode_content_filters(doc) == b"%PDF-1.4\nBT (x) Tj ET\n"


def test_truncated_stream_tail_untouched():
    doc = b"%PDF-1.4\n2 0 obj\n<< /Length 50 /Filter /FlateDecode >>\nstream\nabc"
    assert decode_content_filters(doc) == doc


def test_binary_payload_with_fake_markers_inside():
    # compressed binary containing %%PAGE / endstream / obj-header
    # byte patterns must not corrupt the rewrite (/Length is
    # authoritative) — the decoded doc still extracts correctly
    evil = b"%%PAGE 9\nendstream\n5 0 obj\n" * 3
    payload = encode_chain(b"BT\n72.0 740.0 Td\n(clean) Tj\nET\n", ("RunLengthDecode",))
    # RunLengthDecode of `evil` bytes is undefined; instead plant evil
    # bytes via a filter whose output we control exactly:
    obj = stream_object_bytes(b"BT\n72.0 740.0 Td\n(clean) Tj\nET\n", ("FlateDecode",))
    # splice evil bytes into a SECOND, unfiltered stream object whose
    # /Length covers them — the scanner must skip it wholesale
    raw = b"4 0 obj\n<< /Length %d >>\nstream\n" % len(evil) + evil + b"\nendstream\nendobj\n"
    doc = b"%PDF-1.4\n%%PAGE 0\n" + raw + obj
    out = decode_content_filters(doc)
    assert b"(clean) Tj" in out
    assert evil in out  # unfiltered object passed through byte-exact
    spans = extract_spans(doc, [], 1)
    assert "clean" in [s["text"] for s in spans]


# ---------------------------------------------------------------------------
# Spark plan level: the full pipeline is filter-invariant
# ---------------------------------------------------------------------------


def _span_map(df):
    return {
        r["doc_id"]: [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in r["spans"]]
        for r in df.collect()
    }


def test_pipeline_mixed_filters_equivalence(spark):
    """extract_documents over a mixed-compression render produces
    span-identical output (incl. offsets) to the plain render — the
    same invariant the flagship driver gate now exercises."""
    from insurance_pdf_extractor_spark.plans.pipeline import extract_documents
    from insurance_pdf_extractor_spark.sources.render import render_documents_raw

    docs = spark.createDataFrame(
        [(i, " ".join(f"w{j % 29} common" for j in range(40 * (i % 7 + 1)))) for i in range(60)],
        "doc_id long, text string",
    )
    plain, _ = extract_documents(render_documents_raw(docs, partitions=4), presalted=True)
    mixed, _ = extract_documents(
        render_documents_raw(docs, partitions=4, mixed_filters=True), presalted=True
    )
    a, b = _span_map(plain), _span_map(mixed)
    assert set(a) == set(b) and a == b


def test_shard_path_decodes_filtered_oversized(spark, shuffle_partitions):
    """One oversized document per filter mix (plus one PDF-1.5
    ``objstm_xref`` layout), forced through the shard path, yields the
    same spans as the fused path over the plain renders:
    decode_filters_udf runs before %%PAGE marker scanning and JVM-side
    slicing."""
    from insurance_pdf_extractor_spark.plans.pipeline import extract_documents

    long_text = " ".join(f"tok{i % 41} lorem ipsum dolor" for i in range(3000))
    media = [{"media_ref": "m-1", "offset": 5}]
    layouts = [(mix, "classic") for mix in FILTER_MIX] + [(("FlateDecode",), "objstm_xref")]

    def raw_df(rows):
        return spark.createDataFrame(
            [(d, bytearray(c), media, n, len(c), bytearray(c[:5])) for d, c, n in rows],
            "doc_id string, content binary, media array<struct<media_ref:string,offset:int>>, "
            "n_pages int, size_bytes long, magic binary",
        )

    filtered, plain = [], []
    for k, (mix, structure) in enumerate(layouts):
        doc_id = f"big{k}"
        comp, n = render_text(doc_id, long_text, filters=mix, structure=structure)
        flat, n2 = render_text(doc_id, long_text)
        assert n == n2 and n >= 4
        filtered.append((doc_id, comp, n))
        plain.append((doc_id, flat, n2))
    with shuffle_partitions(2):
        sharded, _ = extract_documents(raw_df(filtered), shard_size_bytes=1, shard_pages=2)
        fused, _ = extract_documents(raw_df(plain), shard_size_bytes=10**9)
        got, want = _span_map(sharded), _span_map(fused)
    assert len(want) == len(layouts)
    assert got == want


@pytest.mark.parametrize("mix", [m for m in FILTER_MIX if m])
def test_corruption_sweep_never_crashes(mix):
    """Seeded mutation sweep over filtered renders (the hostile-media
    discipline, extended to stream filters): flips, truncations, and
    splices must produce spans or a text-free document — never an
    unhandled exception or a hang."""
    comp, n = render_text("dz", TEXT[:900], filters=mix)
    rng = random.Random(str(mix))
    for _ in range(40):
        b = bytearray(comp)
        op = rng.randrange(3)
        if op == 0:  # byte flips
            for _ in range(rng.randrange(1, 6)):
                b[rng.randrange(len(b))] = rng.randrange(256)
        elif op == 1:  # truncate
            b = b[: rng.randrange(1, len(b))]
        else:  # splice a random window elsewhere
            i, j = sorted(rng.randrange(len(b)) for _ in range(2))
            b = b[:i] + b[j:] + b[i:j]
        spans = extract_spans(bytes(b), [("m-1", 7)], n)
        assert isinstance(spans, list)


def test_chain_order_matches_pdf_semantics():
    # /Filter [/ASCII85Decode /FlateDecode] decodes left-to-right;
    # encode_chain therefore applies Flate FIRST, ASCII85 second
    data = b"payload " * 50
    enc = encode_chain(data, ("ASCII85Decode", "FlateDecode"))
    assert ascii85_decode(enc) == zlib.compress(data, 6)
    obj = stream_object_bytes(data, ("ASCII85Decode", "FlateDecode"))
    assert decode_content_filters(b"%PDF-1.4\n" + obj) == b"%PDF-1.4\n" + data


def test_indirect_length_resolved_from_integer_object():
    # /Length 7 0 R with the int in its own object — and the payload
    # CONTAINS 'endstream' bytes, so the fallback scan would truncate;
    # only real indirect resolution decodes this correctly
    body = b"BT (resolved) Tj ET\nendstream trap\nBT (tail) Tj ET\n"
    enc = zlib.compress(body)
    doc = (
        b"%PDF-1.4\n7 0 obj 9999 endobj\n"  # decoy with wrong obj match guard
        b"2 0 obj\n<< /Length 17 0 R /Filter /FlateDecode >>\nstream\n"
        + enc
        + b"\nendstream\nendobj\n17 0 obj "
        + str(len(enc)).encode()
        + b" endobj\n"
    )
    out = decode_content_filters(doc)
    assert b"(resolved) Tj" in out and b"(tail) Tj" in out


@pytest.mark.parametrize("decoy", [b"", b"17 0 obj (not an integer) endobj\n"])
@pytest.mark.parametrize("gen", [0, 1])
def test_indirect_length_is_first_definition_of_same_generation(gen, decoy):
    # RunLength keeps the payload's 'endstream' bytes literal, so the
    # fallback scan cuts the stream there and it drops as dirt; only a
    # resolved /Length decodes it whole. The reference names generation
    # ``gen`` and the first definition of object 17 must be the integer
    body = b"BT (resolved) Tj ET\nendstream trap\nBT (tail) Tj ET\n"
    enc = encode_chain(body, ("RunLengthDecode",))
    doc = (
        b"%PDF-1.4\n" + decoy
        + b"2 0 obj\n<< /Length 17 %d R /Filter /RunLengthDecode >>\nstream\n" % gen
        + enc
        + b"\nendstream\nendobj\n17 0 obj %d endobj\n" % len(enc)
    )
    resolved = gen == 0 and not decoy
    assert (b"(resolved) Tj" in decode_content_filters(doc)) == resolved


def _dict_extent_byte_walk(buf: bytes, start: int) -> int:
    """The byte-at-a-time dict walk that ``filters._dict_extent``
    replaced, kept as its differential reference."""
    n, i, depth = len(buf), start, 0
    while i < n:
        c = buf[i]
        if c == 0x3C:  # '<': dict open, else a hex string to '>'
            if buf[i : i + 2] == b"<<":
                depth, i = depth + 1, i + 2
                continue
            j = buf.find(b">", i + 1)
            if j == -1:
                raise ValueError("unterminated hex string")
            i = j + 1
            continue
        if c == 0x3E and buf[i : i + 2] == b">>":
            depth, i = depth - 1, i + 2
            if depth == 0:
                return i
            continue
        if c == 0x28:  # '(': literal string, escapes and nesting
            lvl = 0
            while i < n:
                if buf[i] == 0x5C:
                    i += 2
                    continue
                lvl += (buf[i] == 0x28) - (buf[i] == 0x29)
                i += 1
                if lvl == 0:
                    break
            continue
        i += 1
    raise ValueError("unterminated dict")


def test_dict_extent_matches_byte_walk():
    def run(f, buf, start):
        try:
            return f(buf, start)
        except ValueError:
            return None

    rng = random.Random(11)
    atoms = [b"<", b">", b"(", b")", b"\\", b"a", b" ", b"<<", b">>", b"\n"]
    for _ in range(30_000):
        buf = b"".join(rng.choice(atoms) for _ in range(rng.randint(0, 30)))
        start = rng.randint(0, len(buf))
        assert run(flt._dict_extent, buf, start) == run(_dict_extent_byte_walk, buf, start), (buf, start)
        assert flt._skip_ws(buf, start) == len(buf) - len(buf[start:].lstrip(b" \t\r\n\f\x00"))


def test_object_index_first_definition_and_bounded_bodies():
    buf = b"1 0 obj 5 endobj\n2 0 obj (open)\n1 0 obj 6 endobj\n3 1 obj 7"
    idx = flt.ObjectIndex(buf)
    assert idx.get(2) == (0, 24, 32) and idx.get(4) is None
    got = {n: (g, buf[s:e]) for n, (g, s, e) in idx.items()}
    # 2's body ends at the next header; the second object 1 is ignored
    assert got == {1: (0, b" 5 "), 2: (0, b" (open)\n"), 3: (1, b" 7")}
    many = b"".join(b"%d 0 obj 1 endobj\n" % k for k in range(flt.MAX_OBJECTS + 5))
    assert len(flt.ObjectIndex(many).items()) == flt.MAX_OBJECTS


# ---------------------------------------------------------------------------
# PDF-1.5 compressed objects: /Type /ObjStm expansion, /Type /XRef drop
# ---------------------------------------------------------------------------

from insurance_pdf_extractor_spark.operators.filters import (  # noqa: E402
    objstm_object_bytes,
    xref_stream_bytes,
)
from insurance_pdf_extractor_spark.sources.render import (  # noqa: E402
    STRUCTURE_MIX,
    structure_for_doc,
)


def test_objstm_expands_to_canonical_objects():
    info = b"<< /Title (Doc A) /Author (Me) >>"
    doc = b"%PDF-1.4\n" + objstm_object_bytes([(1, info), (7, b"42")]) + b"BT (x) Tj ET\n"
    assert decode_content_filters(doc) == (
        b"%PDF-1.4\n1 0 obj\n" + info + b"\nendobj\n7 0 obj\n42\nendobj\nBT (x) Tj ET\n"
    )


def test_objstm_unfiltered_is_legal():
    info = b"<< /Title (U) >>"
    doc = b"%PDF-1.4\n" + objstm_object_bytes([(1, info)], names=()) + b"BT (y) Tj ET\n"
    assert decode_content_filters(doc) == b"%PDF-1.4\n1 0 obj\n" + info + b"\nendobj\nBT (y) Tj ET\n"


def test_indirect_length_integer_inside_objstm():
    # the real PDF-1.5 shape: the content stream's /Length integer is
    # itself a compressed object — resolution must see the EXPANDED
    # buffer (payload contains an 'endstream' trap so the fallback
    # scan would truncate)
    body = b"BT (resolved) Tj ET\nendstream trap\nBT (tail) Tj ET\n"
    enc = zlib.compress(body)
    doc = (
        b"%PDF-1.4\n"
        + objstm_object_bytes([(17, str(len(enc)).encode())])
        + b"2 0 obj\n<< /Length 17 0 R /Filter /FlateDecode >>\nstream\n"
        + enc
        + b"\nendstream\nendobj\n"
    )
    out = decode_content_filters(doc)
    assert b"(resolved) Tj" in out and b"(tail) Tj" in out


def test_xref_stream_drops_whole():
    doc = b"%PDF-1.4\nBT (x) Tj ET\n" + xref_stream_bytes()
    assert decode_content_filters(doc) == b"%PDF-1.4\nBT (x) Tj ET\n"


def test_xref_with_classic_trailer_tail_is_inert():
    # a full real-world tail (startxref + %%EOF) after the xref stream:
    # the keywords survive as non-object bytes and the interpreter
    # ignores them — spans unchanged
    plain, n = render_text("dtail", TEXT)
    doc = plain + xref_stream_bytes() + b"startxref\n116\n%%EOF\n"
    assert extract_spans(doc, [], n) == extract_spans(plain, [], n)


@pytest.mark.parametrize("structure", [s for s in STRUCTURE_MIX if s != "classic"])
@pytest.mark.parametrize("mix", list(FILTER_MIX))
def test_structure_byte_identity_full_matrix(structure, mix):
    plain, n_plain = render_text("d9", TEXT)
    v, n_v = render_text("d9", TEXT, filters=mix, structure=structure)
    assert n_v == n_plain and v != plain
    assert decode_content_filters(v) == plain


@pytest.mark.parametrize("structure", STRUCTURE_MIX)
def test_structure_span_equality_through_kernel(structure):
    plain, n = render_text("d9", TEXT)
    base = extract_spans(plain, [("m-1", 7)], n)
    v, nv = render_text("d9", TEXT, filters=("FlateDecode",), structure=structure)
    assert extract_spans(v, [("m-1", 7)], nv) == base


def test_structure_for_doc_covers_every_layout():
    assert {structure_for_doc(str(i)) for i in range(200)} == set(STRUCTURE_MIX)


def test_pdf_info_reads_info_dict_from_objstm():
    from insurance_pdf_extractor_spark.operators.metadata import pdf_info

    v, n = render_text("dI", TEXT, filters=("FlateDecode",), structure="objstm_xref")
    info = pdf_info(v)
    assert info["title"] == "Document dI"
    assert info["producer"] == "content-stream-writer 0.1.0"
    assert info["num_pages"] == n
    assert info["size_bytes"] == len(v)  # raw file size, not decoded
    assert "Document dI" in info["first_page_preview"]


@pytest.mark.parametrize(
    "mutate",
    [
        lambda b: b.replace(b"/First", b"/Firzt"),  # missing /First
        lambda b: b.replace(b"/N 2", b"/N 9"),  # pair table short
        lambda b: b.replace(b"/N 2", b"/N 0"),  # /N out of range
    ],
)
def test_corrupt_objstm_skipped_rest_extracts(mutate):
    info = b"<< /Title (gone) >>"
    objstm = objstm_object_bytes([(1, info), (7, b"42")])
    doc = b"%PDF-1.4\n" + mutate(objstm) + b"BT\n72.0 740.0 Td\n(kept) Tj\nET\n"
    out = decode_content_filters(doc)
    assert b"(kept) Tj" in out and b"(gone)" not in out


def test_objstm_nonmonotonic_offsets_rejected():
    # hand-build a payload whose offsets go backwards
    payload = b"1 5 7 0\n<< /A 1 >>\n42\n"
    enc = zlib.compress(payload)
    doc = (
        b"%PDF-1.4\n90 0 obj\n<< /Type /ObjStm /N 2 /First 8 /Length "
        + str(len(enc)).encode()
        + b" /Filter /FlateDecode >>\nstream\n"
        + enc
        + b"\nendstream\nendobj\nBT (kept2) Tj ET\n"
    )
    out = decode_content_filters(doc)
    assert b"(kept2) Tj" in out and b"/A 1" not in out


def test_objstm_bomb_poisons_text_free():
    # a zlib bomb wearing an ObjStm dict still trips the budget cap
    bomb = zlib.compress(b"0 0\n" + b"\x00" * (flt.MAX_DECODED_BYTES + 2))
    doc = (
        b"%PDF-1.4\n90 0 obj\n<< /Type /ObjStm /N 1 /First 4 /Length "
        + str(len(bomb)).encode()
        + b" /Filter /FlateDecode >>\nstream\n"
        + bomb
        + b"\nendstream\nendobj\nBT (never) Tj ET\n"
    )
    with pytest.raises(StreamBombError):
        decode_content_filters(doc)
    from insurance_pdf_extractor_spark.operators.tokenize import tokenize_content

    assert tokenize_content(doc) == []  # poison: text-free document


@pytest.mark.parametrize("structure", [s for s in STRUCTURE_MIX if s != "classic"])
def test_objstm_corruption_sweep_never_crashes(structure):
    """The hostile-input discipline extended to compressed-object
    containers: flips/truncations/splices over ObjStm renders must
    yield spans or a text-free doc — never an unhandled exception."""
    rng = random.Random(f"objstm-{structure}")
    base, n = render_text("dz", TEXT, filters=("FlateDecode",), structure=structure)
    for _ in range(40):
        b = bytearray(base)
        op = rng.randrange(3)
        if op == 0:
            for _ in range(rng.randrange(1, 8)):
                b[rng.randrange(len(b))] = rng.randrange(256)
        elif op == 1:
            b = b[: rng.randrange(1, len(b))]
        else:
            cut = rng.randrange(1, len(b) - 1)
            b = b[cut:] + b[:cut]
        try:
            spans = extract_spans(bytes(b), [], n)
        except Exception as e:  # noqa: BLE001
            raise AssertionError(f"unhandled {type(e).__name__} on mutated objstm doc") from e
        assert isinstance(spans, list)


def test_lzw_earlychange_zero_via_decodeparms():
    # §7.4.4.2: /EarlyChange 0 defers the code-width bump; data long
    # enough to cross the 9->10 bit boundary decodes differently under
    # the two conventions, so the parameter must actually reach the
    # decoder
    rng = random.Random("early")
    body = bytes(rng.randrange(256) for _ in range(2000))
    enc = flt.lzw_encode(body, early=0)
    assert flt.lzw_decode(enc, early=0) == body
    # conventions diverge: the early=1 misread either yields different
    # bytes or trips the table-range check
    try:
        assert flt.lzw_decode(enc, early=1) != body
    except ValueError:
        pass
    obj = (
        b"2 0 obj\n<< /Length "
        + str(len(enc)).encode()
        + b" /Filter /LZWDecode /DecodeParms << /EarlyChange 0 >> >>\nstream\n"
        + enc
        + b"\nendstream\nendobj\n"
    )
    assert decode_content_filters(b"%PDF-1.4\n" + obj) == b"%PDF-1.4\n" + body
