"""Font-encoding-aware text decode (operators/fonts.py): AGL glyph
resolution, base encodings, /Differences overlays, ToUnicode CMap
parsing (bfchar/bfrange, compressed streams), Type0/Identity-H 2-byte
codes, the renderer↔fixture byte-geometry mirror, tier equivalence,
the font shard path, and hostile-input discipline.

Reference parity: pypdf resolves shown string bytes to Unicode through
the selected font's encoding/cmap before page.extract_text() returns
(app/services/pdf_processor.py:364-375 reads through that layer);
these tests pin that OUR scanner decodes the same font shapes —
subset-style /Differences remaps and 2-byte Identity-H CMaps — back to
the exact source text.
"""

from __future__ import annotations

import random

import pytest

from naive_tokenize import tokenize_content_reference

from insurance_pdf_extractor_spark.operators.assemble import (
    extract_spans,
    shard_spans,
)
from insurance_pdf_extractor_spark.operators.filters import decode_content_filters
from insurance_pdf_extractor_spark.operators.fonts import (
    FontMap,
    glyph_to_char,
    parse_cmap,
    parse_font_maps,
)
from insurance_pdf_extractor_spark.operators.tokenize import (
    _tokenize_interpreter,
    tokenize_content,
)
from insurance_pdf_extractor_spark.sources.render import (
    ENCODING_MIX,
    cipher_encode,
    encoding_for_doc,
    filters_for_doc,
    render_text,
    structure_for_doc,
)


def _w(i: int) -> str:
    s = ""
    i += 1
    while i:
        s += chr(97 + i % 26)
        i //= 26
    return s


_TEXT = " ".join(_w(i) for i in range(700)) + " Quote WC-1234 amount $5,000.00 (net)"


def _font_doc(encoding: str, text: str = _TEXT, doc_id: str = "fdoc") -> bytes:
    return render_text(doc_id, text, encoding=encoding)[0]


# ---------------------------------------------------------------------------
# glyph names / base encodings
# ---------------------------------------------------------------------------


def test_agl_basics():
    assert glyph_to_char("a") == "a"
    assert glyph_to_char("Q") == "Q"
    assert glyph_to_char("seven") == "7"
    assert glyph_to_char("ampersand") == "&"
    assert glyph_to_char("adieresis") == "ä"
    assert glyph_to_char("quotedblleft") == "“"
    assert glyph_to_char("notaglyphname") is None


def test_agl_uni_forms():
    assert glyph_to_char("uni0041") == "A"
    assert glyph_to_char("uni20AC") == "€"
    assert glyph_to_char("uni00480049") == "HI"  # two UTF-16 code units
    assert glyph_to_char("u0041") == "A"
    assert glyph_to_char("u1F600") == "😀"
    assert glyph_to_char("uniD800") is None  # lone surrogate
    assert glyph_to_char("uniZZZZ") is None


def test_base_encoding_tables():
    from insurance_pdf_extractor_spark.operators.fonts import _base_encoding

    win = _base_encoding("WinAnsiEncoding")
    assert win[0x93] == "“" and win[0x85] == "…" and win[0xE9] == "é"
    mac = _base_encoding("MacRomanEncoding")
    assert mac[0x8E] == "é" and mac[0xD0] == "–"
    std = _base_encoding("StandardEncoding")
    assert std[0x27] == "’" and std[0x60] == "‘" and std[0xAE] == "ﬁ"
    assert _base_encoding("NoSuchEncoding") == {}


# ---------------------------------------------------------------------------
# ToUnicode CMap parse
# ---------------------------------------------------------------------------


def test_cmap_bfchar_and_width():
    w, m = parse_cmap(
        b"1 begincodespacerange <00> <FF> endcodespacerange\n"
        b"2 beginbfchar <41> <0061> <42> <00660066> endbfchar"
    )
    assert w == 1
    assert m[0x41] == "a" and m[0x42] == "ff"


def test_cmap_bfrange_increment_and_array():
    w, m = parse_cmap(
        b"1 begincodespacerange <0000> <FFFF> endcodespacerange\n"
        b"2 beginbfrange\n<0100> <0102> <0041>\n"
        b"<0200> <0201> [ <00480069> <0042> ]\nendbfrange"
    )
    assert w == 2
    assert m[0x0100] == "A" and m[0x0101] == "B" and m[0x0102] == "C"
    assert m[0x0200] == "Hi" and m[0x0201] == "B"


def test_cmap_dirt_tolerated_and_bomb_rejected():
    w, m = parse_cmap(b"beginbfchar <zz> <0041> <41> endbfchar")  # garbage pairs
    assert m == {}
    with pytest.raises(ValueError):
        parse_cmap(b"1 beginbfrange <0000> <FFFFFF> <0041> endbfrange" * 2)


def test_fontmap_two_byte_decode_rules():
    fm = FontMap(2, {0x0141: "A"})
    assert fm.decode("\x01\x41") == "A"
    assert fm.decode("\x01\x42") == "ł"  # unmapped -> chr(code)
    assert fm.decode("\x01\x41Z") == "AZ"  # trailing odd byte -> latin-1
    assert FontMap(2, {}).decode("\xd8\x00") == "�"  # surrogate scalar


# ---------------------------------------------------------------------------
# document-level font parsing
# ---------------------------------------------------------------------------


def test_parse_font_maps_cipher_doc():
    doc = _font_doc("differences")
    fonts = parse_font_maps(doc.decode("latin-1"), doc)
    assert set(fonts) == {"/F1"}
    fm = fonts["/F1"]
    assert fm.nbytes == 1
    assert fm.decode(cipher_encode("Hello 42")) == "Hello 42"
    # WinAnsi base shows through where Differences doesn't override
    assert fm.decode("\x93") == "“"


def test_parse_font_maps_cid_doc_compressed_cmap():
    doc = _font_doc("cid")
    fonts = parse_font_maps(decode_content_filters(doc).decode("latin-1"), doc)
    fm = fonts["/F1"]
    assert fm.nbytes == 2
    assert fm.decode("\x01\x48\x01\x69") == "Hi"


def test_inline_resource_font_and_name_binding():
    inline = (
        b"%PDF-1.4\n"
        b"5 0 obj\n<< /Font << /FA << /Type /Font /Subtype /Type1 /Encoding "
        b"<< /Differences [ 65 /b ] >> >> >> >>\nendobj\n"
    )
    fonts = parse_font_maps(inline.decode("latin-1"), inline)
    assert fonts["/FA"].decode("A") == "b"

    named = (
        b"%PDF-1.4\n7 0 obj\n<< /Type /Font /Name /NF /Encoding "
        b"<< /Differences [ 66 /c ] >> >>\nendobj\n"
    )
    fonts = parse_font_maps(named.decode("latin-1"), named)
    assert fonts["/NF"].decode("B") == "c"


def test_indirect_encoding_dict_and_first_binding_wins():
    doc = (
        b"%PDF-1.4\n"
        b"3 0 obj\n<< /Type /Encoding /Differences [ 65 /d ] >>\nendobj\n"
        b"4 0 obj\n<< /Type /Font /Subtype /TrueType /Encoding 3 0 R >>\nendobj\n"
        b"5 0 obj\n<< /Font << /F1 4 0 R >> >>\nendobj\n"
        b"6 0 obj\n<< /Font << /F1 9 0 R >> >>\nendobj\n"  # later binding ignored
    )
    fonts = parse_font_maps(doc.decode("latin-1"), doc)
    assert fonts["/F1"].decode("A") == "d"


def test_inline_encoding_dict_read_from_its_own_font():
    # each font's inline /Encoding dict is read at its offset in that
    # font's dict, not at the same offset in the document
    doc = (
        b"%PDF-1.4\n"
        b"10 0 obj\n<< /Type /Font /Subtype /Type1 /Encoding << /Differences [ 65 /X ] >> >>\nendobj\n"
        b"11 0 obj\n<< /Type /Font /Subtype /Type1 /Encoding << /Differences [ 65 /Y ] >> >>\nendobj\n"
        b"5 0 obj\n<< /Font << /F1 10 0 R /F2 11 0 R >> >>\nendobj\n"
    )
    fonts = parse_font_maps(doc.decode("latin-1"), doc)
    assert (fonts["/F1"].decode("A"), fonts["/F2"].decode("A")) == ("X", "Y")


def test_differences_implicit_code_increment():
    # [ 65 /b /c /d ] maps 65,66,67 — codes increment after each name
    doc = (
        b"%PDF-1.4\n4 0 obj\n<< /Type /Font /Encoding "
        b"<< /Differences [ 65 /b /c /d 97 /Q ] >> >>\nendobj\n"
        b"5 0 obj\n<< /Font << /F1 4 0 R >> >>\nendobj\n"
    )
    fm = parse_font_maps(doc.decode("latin-1"), doc)["/F1"]
    assert fm.decode("ABCa") == "bcdQ"


def test_random_differences_bijection_roundtrip():
    """Any bijection printable-chars → high codes, expressed as a
    /Differences array (mixed explicit/implicit codes, AGL + uniXXXX
    names), must decode back exactly."""
    rng = random.Random(0xD1FF)
    printable = [chr(c) for c in range(0x20, 0x7F)]
    for _ in range(25):
        chars = rng.sample(printable, rng.randint(3, 30))
        codes = rng.sample(range(0x80, 0x100), len(chars))
        pairs = sorted(zip(codes, chars))
        # emit runs: explicit code for breaks, implicit increment inside
        items, prev = [], None
        for code, ch in pairs:
            if prev is None or code != prev + 1 or rng.random() < 0.3:
                items.append(str(code))
            items.append(f"/uni{ord(ch):04X}" if rng.random() < 0.5 else None)
            if items[-1] is None:
                from insurance_pdf_extractor_spark.operators.fonts import _AGL

                name = next((n for n, v in _AGL.items() if v == ch), None)
                items[-1] = f"/{name}" if name else f"/uni{ord(ch):04X}"
            prev = code
        diffs = " ".join(items)
        doc = (
            f"%PDF-1.4\n4 0 obj\n<< /Type /Font /Encoding "
            f"<< /Differences [ {diffs} ] >> >>\nendobj\n"
            f"5 0 obj\n<< /Font << /Fx 4 0 R >> >>\nendobj\n"
        ).encode("latin-1")
        fm = parse_font_maps(doc.decode("latin-1"), doc)["/Fx"]
        src = "".join(ch for _c, ch in pairs)
        enc = "".join(chr(c) for c, _ch in pairs)
        assert fm.decode(enc) == src, (diffs, fm.decode(enc), src)


def test_metrics_only_font_yields_no_map():
    doc = (
        b"%PDF-1.4\n"
        b"4 0 obj\n<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>\nendobj\n"
        b"5 0 obj\n<< /Font << /F1 4 0 R >> >>\nendobj\n"
    )
    assert parse_font_maps(doc.decode("latin-1"), doc) == {}


# ---------------------------------------------------------------------------
# tier equivalence + end-to-end decode
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("encoding", ["differences", "cid"])
def test_tiers_agree_on_font_docs(encoding):
    raw = _font_doc(encoding)
    doc = decode_content_filters(raw) if b"/Filter" in raw else raw
    fonts = parse_font_maps(doc.decode("latin-1"), raw)
    assert fonts
    ref = tokenize_content_reference(doc, fonts)
    assert tokenize_content(raw) == ref  # full routing (decode+parse inside)
    assert _tokenize_interpreter(doc, fonts) == ref
    texts = [r[4] for r in ref]
    assert f"Document fdoc" in texts[0]
    assert any("Quote WC-1234" in t for t in texts)
    # a nested literal string shown through the font: the interpreter
    # reads it in place and decodes it at show time like any string
    show = b"BT\n/F1 12 Tf\n72.0 90.0 Td\n(Ab(cd)e\\051) Tj\nET\n"
    ref = tokenize_content_reference(doc + show, fonts)
    assert tokenize_content(raw + show) == ref
    assert _tokenize_interpreter(doc + show, fonts) == ref
    assert ref[-1][3] == len(doc) + show.index(b"(")


def test_font_state_persists_across_blocks_and_pages():
    # Tf only in the first block; later blocks and pages inherit it
    enc = cipher_encode
    doc = (
        "%PDF-1.4\n"
        "9001 0 obj\n<< /Type /Font /Subtype /Type1 /Encoding << /Differences [ "
        + " ".join(f"{0xA1 + i} /{chr(97 + i)}" for i in range(26))
        + " ] >> >>\nendobj\n"
        "9002 0 obj\n<< /Font << /Fz 9001 0 R >> >>\nendobj\n"
        "%%PAGE 0\n"
        f"BT\n/Fz 9 Tf\n1 2 Td\n({enc('first')}) Tj\nET\n"
        f"BT\n3 4 Td\n({enc('second')}) Tj\nET\n"
        "%%PAGE 1\n"
        f"BT\n5 6 Td\n({enc('third')}) Tj\nET\n"
    ).encode("latin-1")
    runs = tokenize_content(doc)
    assert [r[4] for r in runs] == ["first", "second", "third"]


def test_tj_array_decodes_through_font():
    doc = (
        "%PDF-1.4\n"
        "9001 0 obj\n<< /Type /Font /Subtype /Type1 /Encoding "
        "<< /Differences [ 161 /x 162 /y ] >> >>\nendobj\n"
        "9002 0 obj\n<< /Font << /F1 9001 0 R >> >>\nendobj\n"
        "BT\n/F1 9 Tf\n1 2 Td\n[ (\xa1) -120 (\xa2) ] TJ\nET\n"
        "BT\n1 2 Td\n<A1A2> Tj\nET\n"
    ).encode("latin-1")
    assert [r[4] for r in tokenize_content(doc)] == ["xy", "xy"]


def test_no_font_docs_identical_to_historical_behavior():
    # BOM'd UTF-16BE and bare-UTF-8 strings still decode via the
    # charset heuristic when no font is selected, including in a
    # font-carrying document before any Tf
    doc = (
        b"%PDF-1.4\n"
        b"9001 0 obj\n<< /Type /Font /Subtype /Type1 /Encoding "
        b"<< /Differences [ 161 /x ] >> >>\nendobj\n"
        b"9002 0 obj\n<< /Font << /F1 9001 0 R >> >>\nendobj\n"
        b"BT\n1 2 Td\n(\xfe\xff\x00H\x00i) Tj\nET\n"  # before Tf: heuristic
        b"BT\n/F1 9 Tf\n1 4 Td\n(\xa1) Tj\nET\n"
    )
    assert [r[4] for r in tokenize_content(doc)] == ["Hi", "x"]


# ---------------------------------------------------------------------------
# renderer ↔ fixture mirror, full matrix
# ---------------------------------------------------------------------------


def test_full_matrix_spans_match_fixture_mirror():
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
    from tools.make_fixtures import expected_spans

    for doc_id in ["7", "42", "123", "999", "abc", "xyz9"]:
        enc = encoding_for_doc(doc_id)
        c, n = render_text(
            doc_id,
            _TEXT,
            filters=filters_for_doc(doc_id),
            structure=structure_for_doc(doc_id),
            encoding=enc,
        )
        got = [
            (s["kind"], s["text"], s["media_ref"], s["offset"])
            for s in extract_spans(c, [], n)
        ]
        assert got == expected_spans(doc_id, _TEXT, encoding=enc), (doc_id, enc)


def test_encoding_mix_covers_all_variants():
    picks = {encoding_for_doc(str(i)) for i in range(60)}
    assert picks == set(ENCODING_MIX)


# ---------------------------------------------------------------------------
# shard path
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("encoding", [None, "differences", "cid"])
def test_sharded_runs_equal_fused(encoding):
    raw = render_text("sdoc", _TEXT, encoding=encoding)[0]
    c = decode_content_filters(raw) if b"/Filter" in raw else raw
    fused = sorted(tokenize_content(c), key=lambda r: r[3])
    # guard against vacuous equality: the decode must actually RESOLVE
    # the font codes, even though this path holds only the SPLICED
    # buffer (orphan-CMap fallback for cid) — r5 regression: both sides
    # once identity-decoded 2-byte codes to the same gibberish
    assert any("Document sdoc" == r[4] for r in fused)
    shards = [
        (i, c[:pl] + c[s : s + ln], s - pl, bp) for i, s, ln, bp, pl in shard_spans(c, 2)
    ]
    if encoding:
        assert len(shards) > 1  # the preamble prepend kept it shardable
        assert all(ch.startswith(b"%PDF") for _i, ch, _b, _p in shards)
    merged = []
    for _i, chunk, boff, _bp in shards:
        merged.extend(
            (pg, x, y, off + boff, t) for pg, x, y, off, t in tokenize_content(chunk)
        )
    assert sorted(merged, key=lambda r: r[3]) == fused


def _shard_lines(raw: bytes) -> list[dict]:
    """The shard path's Python bodies in-process: decode_filters_udf,
    the %%PAGE split, then shard_lines_udf per shard."""
    import pandas as pd

    from insurance_pdf_extractor_spark.operators.assemble import (
        decode_filters_udf,
        shard_lines_udf,
    )

    c = decode_filters_udf.func(pd.Series([raw]))[0]
    shards = shard_spans(c, 2)
    lines = shard_lines_udf.func(
        pd.Series([c[:pl] + c[s : s + ln] for _i, s, ln, _bp, pl in shards]),
        pd.Series([s - pl for _i, s, _ln, _bp, pl in shards]),
        pd.Series([bp for _i, _s, _ln, bp, _pl in shards]),
    )
    return lines.to_dict("records")


def test_lone_cr_after_stream_keyword_decodes_tounicode():
    """CRLF, LF and a lone CR all end the ``stream`` keyword line: the
    ToUnicode CMap of a cid document written with CR still decodes, so
    its text extracts exactly like the LF twin's instead of as 2-byte
    garbage (the font layer reads stream objects through the same
    reader as the filter splice)."""
    lf = render_text("crdoc", _TEXT, filters=("FlateDecode",), encoding="cid")[0]
    n_streams = lf.count(b">>\nstream\n")
    cr = lf.replace(b">>\nstream\n", b">>\nstream\r")
    assert n_streams > 1 and cr.count(b">>\nstream\r") == n_streams
    runs = tokenize_content(lf)
    assert any(r[4] == "Document crdoc" for r in runs)
    assert tokenize_content(cr) == runs
    sharded = _shard_lines(lf)
    assert len(sharded) > 1
    assert _shard_lines(cr) == sharded


def test_font_after_first_page_is_unshardable():
    c = (
        b"%PDF-1.4\n%%PAGE 0\nBT (x) Tj ET\n"
        b"9001 0 obj << /Type /Font >> endobj\n%%PAGE 1\nBT (y) Tj ET\n"
    )
    assert len(shard_spans(c, 1)) == 1


def test_shard_start_page_without_tf_is_unshardable():
    # page 1 relies on page 0's font selection: splitting would lose
    # the running Tf state, so the doc must stay whole
    c = (
        b"%PDF-1.4\n"
        b"9001 0 obj\n<< /Type /Font /Encoding << /Differences [ 161 /x ] >> >>\nendobj\n"
        b"9002 0 obj\n<< /Font << /F1 9001 0 R >> >>\nendobj\n"
        b"%%PAGE 0\nBT /F1 9 Tf 1 2 Td (\xa1) Tj ET\n"
        b"%%PAGE 1\nBT 1 2 Td (\xa1) Tj ET\n"
    )
    assert len(shard_spans(c, 1)) == 1
    # and the conformant version (page 1 re-selects) shards fine
    c2 = c.replace(b"%%PAGE 1\nBT 1 2 Td", b"%%PAGE 1\nBT /F1 9 Tf 1 2 Td")
    assert len(shard_spans(c2, 1)) == 2


# ---------------------------------------------------------------------------
# hostile inputs: no non-ValueError escapes, no tier divergence
# ---------------------------------------------------------------------------


def test_hostile_font_mutations():
    rng = random.Random(0xF047)
    base_docs = [_font_doc("differences"), _font_doc("cid")]
    for _ in range(400):
        doc = bytearray(rng.choice(base_docs))
        for _k in range(rng.randint(1, 12)):
            op = rng.random()
            i = rng.randrange(len(doc))
            if op < 0.5:
                doc[i] = rng.randrange(256)
            elif op < 0.8:
                del doc[i : i + rng.randint(1, 40)]
            else:
                doc[i:i] = bytes(rng.randrange(256) for _ in range(rng.randint(1, 20)))
        b = bytes(doc)
        try:
            runs = tokenize_content(b)
        except ValueError:
            continue  # bomb-budget class: allowed
        assert isinstance(runs, list)


# ---------------------------------------------------------------------------
# Spark plan level: the full pipeline is encoding-invariant
# ---------------------------------------------------------------------------


def _span_map(df):
    return {
        r["doc_id"]: [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in r["spans"]]
        for r in df.collect()
    }


def test_pipeline_encoded_matrix_spans_match_mirror(spark):
    """extract_documents over the full filter × structure × encoding
    render matrix matches the fixture mirror's expected spans INCLUDING
    offsets — the exact invariant the flagship driver gate runs."""
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
    from tools.make_fixtures import expected_spans

    from insurance_pdf_extractor_spark.plans.pipeline import extract_documents
    from insurance_pdf_extractor_spark.sources.render import render_documents_raw

    rows = [
        (str(i), " ".join(f"w{j % 29} common" for j in range(40 * (i % 7 + 1))))
        for i in range(60)
    ]
    docs = spark.createDataFrame(rows, "doc_id string, text string")
    out, _ = extract_documents(
        render_documents_raw(docs, partitions=4, encoded=True), presalted=True
    )
    got = _span_map(out)
    for doc_id, text in rows:
        exp = expected_spans(doc_id, text, encoding=encoding_for_doc(doc_id))
        assert got[doc_id] == exp, (doc_id, encoding_for_doc(doc_id))


def test_shard_path_extracts_encoded_oversized(spark, shuffle_partitions):
    """A font-encoded oversized document forced through the shard path
    (preamble-prepend slices) equals the fused path's spans."""
    from insurance_pdf_extractor_spark.plans.pipeline import extract_documents

    long_text = " ".join(f"tok{_w(i)} lorem ipsum dolor" for i in range(3000))
    media = [{"media_ref": "m-1", "offset": 5}]

    for enc in ("differences", "cid"):
        content, n = render_text("big1", long_text, filters=("FlateDecode",), encoding=enc)

        def raw_df(c):
            return spark.createDataFrame(
                [("big1", bytearray(c), media, n, len(c), bytearray(c[:5]))],
                "doc_id string, content binary, "
                "media array<struct<media_ref:string,offset:int>>, "
                "n_pages int, size_bytes long, magic binary",
            )

        with shuffle_partitions(2):
            sharded, _ = extract_documents(raw_df(content), shard_size_bytes=1, shard_pages=2)
            fused, _ = extract_documents(raw_df(content))
            assert _span_map(sharded) == _span_map(fused)
            assert len(_span_map(sharded)["big1"]) > 100


def test_hex_run_object_scan_is_linear():
    """Regression: the object-header regexes must not backtrack across
    long digit runs (2-byte-font hex strings are multi-hundred-digit
    runs; the pre-fix `(\\d+)` form re-scanned every suffix of every
    run — quadratic, ~minutes on megabyte docs)."""
    import time

    hexline = "<" + "0123456789ABCDEF" * 2000 + ">"  # 32k-digit run
    doc = (
        "%PDF-1.4\n1 0 obj\n<< /Length 3 >>\nstream\nabc\nendstream\nendobj\n"
        + "".join(f"BT 1 {i} Td {hexline} Tj ET\n" for i in range(50))
    ).encode("latin-1")
    t0 = time.perf_counter()
    decode_content_filters(doc)
    parse_font_maps(doc.decode("latin-1"), doc)
    dt = time.perf_counter() - t0
    assert dt < 1.0, f"object scan took {dt:.2f}s on hex-run content"


def test_truncated_and_garbage_font_objects_degrade_gracefully():
    cases = [
        b"%PDF-1.4\n9001 0 obj\n<< /Type /Font /Encoding << /Differences [ 161",
        b"%PDF-1.4\n/Font << /F1 1 0 R",
        b"%PDF-1.4\n1 0 obj\n<< /Type /Font /ToUnicode 99 0 R >>\nendobj\n"
        b"5 0 obj\n<< /Font << /F1 1 0 R >> >>\nendobj\nBT (ok) Tj ET\n",
        b"%PDF-1.4\n" + b"/Font << " * 50,
    ]
    for c in cases:
        runs = tokenize_content(c)
        assert isinstance(runs, list)
