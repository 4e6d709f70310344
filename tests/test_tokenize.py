"""Unit tests for the pure-Python content-stream parser and layout/
boilerplate stages (no Spark)."""

from __future__ import annotations

from insurance_pdf_extractor_spark.operators.assemble import assemble_spans, extract_spans, shard_spans
from insurance_pdf_extractor_spark.operators.boilerplate import strip_boilerplate
from insurance_pdf_extractor_spark.operators.layout import layout_lines
from insurance_pdf_extractor_spark.operators.tokenize import page_marker_offsets, tokenize_content


def test_tokenize_tj_tm():
    content = b"%PDF-1.4\n%%PAGE 0\nBT\n/F1 12 Tf\n1 0 0 1 100.0 750.0 Tm\n(Hello) Tj\nET\n"
    runs = tokenize_content(content)
    assert len(runs) == 1
    page, x, y, off, text = runs[0]
    assert (page, x, y, text) == (0, 100.0, 750.0, "Hello")
    assert content[off : off + 1] == b"("


def test_tokenize_td_relative():
    content = b"%%PAGE 0\nBT\n100 700 Td\n(A) Tj\n10 -20 Td\n(B) Tj\nET\n"
    runs = tokenize_content(content)
    assert [(r[1], r[2], r[4]) for r in runs] == [(100.0, 700.0, "A"), (110.0, 680.0, "B")]


def test_tokenize_tj_array_and_escapes():
    content = rb"%%PAGE 0\nBT\n1 0 0 1 50 100 Tm\n[(a\(b) -120 (c\\d)] TJ\nET\n".replace(
        rb"\n", b"\n"
    )
    runs = tokenize_content(content)
    assert len(runs) == 1
    assert runs[0][4] == "a(bc\\d"
    assert content[runs[0][3] : runs[0][3] + 1] == b"["


def test_tokenize_leading_tstar_and_quote():
    content = b"%%PAGE 0\nBT\n100 700 Td\n20 TL\n(A) Tj\nT*\n(B) Tj\n(C) '\nET\n"
    runs = tokenize_content(content)
    assert [(r[2], r[4]) for r in runs] == [(700.0, "A"), (680.0, "B"), (660.0, "C")]


def test_tokenize_multipage():
    content = b"%%PAGE 0\nBT\n10 10 Td\n(p0) Tj\nET\n%%PAGE 1\nBT\n10 10 Td\n(p1) Tj\nET\n"
    runs = tokenize_content(content)
    assert [(r[0], r[4]) for r in runs] == [(0, "p0"), (1, "p1")]
    assert len(page_marker_offsets(content)) == 2


def test_page_markers_are_comment_tokens_only():
    """A %%PAGE counts exactly where the tokenizer reads a comment
    token: quoted in a flat, nested, backslash-EOL or unterminated
    string, in a hex string or in inline-image data it is no marker."""
    real = b"%%PAGE 1\n"
    parts = [
        real,
        b"BT 1 2 Td (see %%PAGE 9) Tj ET\n",
        real,
        b"BT 1 2 Td (see (a) %%PAGE 9) Tj ET\n",
        b"BT 1 2 Td (line\\\n%%PAGE 9) Tj ET\n",
        real,
        b"BT 1 2 Td <25%%PAGE 9> Tj ET\n",
        b"BI /W 1 ID ( \n%%PAGE 9\n EI\n",
        b"5BI ID \x00\n%%PAGE 9\n EI\n",
        real,
        b"/XBI (a) Tj\n",  # a name, not the inline-image operator
        real,
        b"BT 1 2 Td (open (never closed\n%%PAGE 9\n",
    ]
    starts = [sum(map(len, parts[:i])) for i in range(len(parts))]
    content = b"".join(parts)
    assert page_marker_offsets(content) == [o for o, p in zip(starts, parts) if p == real]


def test_layout_reading_order():
    # two lines, runs emitted out of order; same-line runs split at x
    runs = [
        (0, 150.0, 730.0, 40, "world"),
        (0, 100.0, 750.0, 10, "Hel"),
        (0, 118.0, 750.0, 70, "lo"),
        (0, 100.0, 730.0, 55, "Big "),
    ]
    lines = layout_lines(runs)
    assert [(l[2]) for l in lines] == ["Hello", "Big world"]
    assert lines[0][1] == 10  # min offset of the line's runs
    assert lines[1][1] == 40


def test_boilerplate_strip():
    lines = [
        (0, 1, "HEADER CO"),
        (0, 2, "Quote Number: X-1"),
        (0, 3, "Page 1 of 2"),
        (1, 4, "HEADER CO"),
        (1, 5, "body text"),
        (1, 6, "Page 2 of 2"),
    ]
    out = strip_boilerplate(lines, 2)
    assert [l[2] for l in out] == ["Quote Number: X-1", "body text"]
    # one-page docs are never stripped
    assert strip_boilerplate(lines[:3], 1) == lines[:3]


def test_assemble_interleaves_media_by_offset():
    spans = assemble_spans([(0, 10, "a"), (0, 50, "b")], [("m1", 30), ("m0", 5)])
    assert [(s["kind"], s["text"], s["media_ref"]) for s in spans] == [
        ("media", None, "m0"),
        ("text", "a", None),
        ("media", None, "m1"),
        ("text", "b", None),
    ]
    assert [s["offset"] for s in spans] == [5, 10, 30, 50]


def test_shard_content_roundtrip():
    pages = b"".join(
        b"%%%%PAGE %d\nBT\n100 700 Td\n(line%d) Tj\nET\n" % (i, i) for i in range(5)
    )
    content = b"%PDF-1.4\n" + pages
    shards = shard_spans(content, 2)
    assert len(shards) == 3
    # re-based tokenization across shards == whole-document tokenization
    whole = tokenize_content(content)
    merged = []
    for _idx, s, ln, _base_page, pl in shards:
        chunk, base_off = content[:pl] + content[s : s + ln], s - pl
        for page, x, y, off, text in tokenize_content(chunk):
            merged.append((page, x, y, off + base_off, text))
    assert sorted(merged, key=lambda r: r[3]) == sorted(whole, key=lambda r: r[3])


def test_extract_spans_fused():
    content = (
        b"%PDF-1.4\n%%PAGE 0\nBT\n100 750 Td\n(HEAD) Tj\nET\nBT\n100 730 Td\n(Quote Number: Q-1) Tj\nET\n"
        b"%%PAGE 1\nBT\n100 750 Td\n(HEAD) Tj\nET\nBT\n100 730 Td\n(tail) Tj\nET\n"
    )
    spans = extract_spans(content, [("img", 12)], 2)
    kinds_texts = [(s["kind"], s["text"] or s["media_ref"]) for s in spans]
    assert kinds_texts == [("media", "img"), ("text", "Quote Number: Q-1"), ("text", "tail")]


# ---------------------------------------------------------------------------
# hex strings (§7.3.4.3) — round-5 real-PDF parity
# ---------------------------------------------------------------------------


def test_hex_string_show():
    from insurance_pdf_extractor_spark.operators.tokenize import tokenize_content

    b = b"BT\n10.0 20.0 Td\n<48656C6C6F> Tj\nET\n"
    runs = tokenize_content(b)
    assert len(runs) == 1
    page, x, y, off, s = runs[0]
    assert s == "Hello"
    assert off == b.index(b"<")


def test_hex_string_dirt_rules():
    from insurance_pdf_extractor_spark.operators.tokenize import tokenize_content

    # whitespace ignored, odd digit padded with 0, garbage ignored
    assert tokenize_content(b"BT 1 2 Td <48 65 6C6C 6F> Tj ET")[0][4] == "Hello"
    assert tokenize_content(b"BT 1 2 Td <465> Tj ET")[0][4] == "FP"  # odd digit pads 0 → 46 50
    assert tokenize_content(b"BT 1 2 Td <4z8!65> Tj ET")[0][4] == "He"
    # utf-8 recovery matches the literal-string rule
    b = b"BT 1 2 Td <" + "é".encode("utf-8").hex().encode("ascii") + b"> Tj ET"
    assert tokenize_content(b)[0][4] == "é"


def test_hex_string_in_tj_array():
    from insurance_pdf_extractor_spark.operators.tokenize import tokenize_content

    runs = tokenize_content(b"BT 1 2 Td [<4869> -120 (there)] TJ ET")
    assert [r[4] for r in runs] == ["Hithere"]


def test_dict_open_is_not_a_hex_string():
    from insurance_pdf_extractor_spark.operators.tokenize import tokenize_content

    # << dict >> before a show must not eat the show's operand
    runs = tokenize_content(b"BT 1 2 Td << /X 1 >> (kept) Tj ET")
    assert [r[4] for r in runs] == ["kept"]


def test_inline_image_data_skipped():
    from insurance_pdf_extractor_spark.operators.tokenize import tokenize_content

    # binary image data containing token-shaped garbage must produce no
    # runs and no page-state changes; text resumes after EI
    b = (
        b"BT 1 2 Td (before) Tj ET\n"
        b"BI /W 4 /H 4 /BPC 8 /CS /G ID \x00\x01(fake) Tj %%PAGE 9\n\xff\xfe EI\n"
        b"BT 3 4 Td (after) Tj ET\n"
    )
    runs = tokenize_content(b)
    assert [(r[0], r[4]) for r in runs] == [(0, "before"), (0, "after")]


def test_quote_show_operators():
    from naive_tokenize import tokenize_content_reference

    from insurance_pdf_extractor_spark.operators.tokenize import (
        _tokenize_interpreter,
        tokenize_content,
    )

    # §9.4.3: ' = next line + show; " = aw ac (s) " spacings + next
    # line + show. Both advance by the TL leading.
    b = b"BT\n10 TL\n1 100 Td\n(first) Tj\n(second) '\n2 3 (third) \" ET\n"
    runs = tokenize_content(b)
    assert [(r[2], r[4]) for r in runs] == [
        (100.0, "first"),
        (90.0, "second"),
        (80.0, "third"),
    ]
    assert runs == tokenize_content_reference(b) == _tokenize_interpreter(b)


def test_inline_image_truncation_consumes_tail():
    from naive_tokenize import tokenize_content_reference

    from insurance_pdf_extractor_spark.operators.tokenize import (
        _tokenize_interpreter,
        tokenize_content,
    )

    # missing EI: the rest of the doc is image data (never garbage runs)
    b = b"BT 1 2 Td (kept) Tj ET\nBI /W 4 ID \x00\x01\x02 (lost) Tj\n"
    for fn in (tokenize_content, _tokenize_interpreter, tokenize_content_reference):
        assert [r[4] for r in fn(b)] == ["kept"]


def test_ei_inside_image_needs_token_boundary():
    from insurance_pdf_extractor_spark.operators.tokenize import tokenize_content

    # 'xEI' / 'EIx' / '\xffEI' byte runs inside the data are NOT
    # terminators — only a ws-delimited EI token ends the image
    b = b"BI ID aEIb EIx \xffEI q EI\nBT 1 2 Td (ok) Tj ET\n"
    assert [r[4] for r in tokenize_content(b)] == ["ok"]


# ---------------------------------------------------------------------------
# §7.9.2.2 text-string charsets: BOM'd UTF-16BE / UTF-8 (pypdf parity)
# ---------------------------------------------------------------------------


def test_bom_utf16be_string_decodes_across_tiers():
    from naive_tokenize import tokenize_content_reference

    from insurance_pdf_extractor_spark.operators.tokenize import (
        _tokenize_interpreter,
        tokenize_content,
    )

    val = "Ünïcø∂é titlé"
    u16 = "\xfe\xff" + val.encode("utf-16-be").decode("latin-1")
    esc = u16.replace("\\", "\\\\").replace("(", "\\(").replace(")", "\\)")
    doc = ("BT\n72.0 740.0 Td\n(" + esc + ") Tj\nET\n").encode("latin-1")
    a = tokenize_content(doc)
    assert a == tokenize_content_reference(doc) == _tokenize_interpreter(doc)
    assert a[0][4] == val


def test_bom_utf16be_hex_string_operand():
    # the real-world shape: writers emit UTF-16BE text strings as hex
    from naive_tokenize import tokenize_content_reference

    from insurance_pdf_extractor_spark.operators.tokenize import (
        _tokenize_interpreter,
        tokenize_content,
    )

    val = "Ünïcø∂é"
    doc = ("BT\n72.0 740.0 Td\n<FEFF" + val.encode("utf-16-be").hex() + "> Tj\nET\n").encode(
        "latin-1"
    )
    a = tokenize_content(doc)
    assert a == tokenize_content_reference(doc) == _tokenize_interpreter(doc)
    assert a[0][4] == val


def test_bom_utf8_and_dirt_fallbacks():
    from insurance_pdf_extractor_spark.operators.tokenize import _decode

    val = "Ünïcø∂é"
    assert _decode("\xef\xbb\xbf" + val.encode("utf-8").decode("latin-1")) == val
    # odd-length UTF-16 payload: bytes stand as latin-1 (dirt rule)
    assert _decode("\xfe\xff\x00") == "\xfe\xff\x00"
    # bare UTF-8 heuristic unchanged
    assert _decode(val.encode("utf-8").decode("latin-1")) == val


def test_bom_utf16be_info_dict_value():
    from insurance_pdf_extractor_spark.operators.metadata import parse_info_dict

    val = "Pôlïcy Ünicode"
    u16 = "\xfe\xff" + val.encode("utf-16-be").decode("latin-1")
    esc = u16.replace("\\", "\\\\").replace("(", "\\(").replace(")", "\\)")
    info = ("1 0 obj\n<< /Title (" + esc + ") /Author (plain) >>\nendobj\n").encode("latin-1")
    got = parse_info_dict(info)
    assert got["title"] == val and got["author"] == "plain"
