"""S3 — PDF metadata scan parity tests.

Reference behavior re-expressed: get_pdf_info
(app/services/pdf_processor.py:447-494) — /Info dict keys with ''
defaults, num_pages/size fields, first-page preview capped at 500
chars with the 'No text extracted' fallback.
"""

from __future__ import annotations

from hypothesis import given, settings, strategies as st

from naive_tokenize import tokenize_content_reference

from insurance_pdf_extractor_spark.corpus import generate_corpus
from insurance_pdf_extractor_spark.operators.metadata import (
    parse_info_dict,
    pdf_info,
    scan_pdf_info,
)
from insurance_pdf_extractor_spark.sources.render import (
    default_metadata,
    render_html,
    render_text,
)

_KEYMAP = {
    "Title": "title",
    "Author": "author",
    "Subject": "subject",
    "Creator": "creator",
    "Producer": "producer",
    "CreationDate": "creation_date",
    "ModDate": "modification_date",
}


def test_corpus_info_round_trip(corpus_docs):
    """Every embedded /Info value (incl. escaped parens/backslashes)
    parses back exactly; docs without an info object yield '' defaults."""
    n_with = n_without = 0
    for d in corpus_docs:
        got = parse_info_dict(d.content)
        if d.info:
            n_with += 1
            for k, snake in _KEYMAP.items():
                assert got[snake] == d.info[k], (d.doc_id, k)
        else:
            n_without += 1
            assert all(v == "" for v in got.values())
    assert n_with > 0 and n_without > 0  # both cases exercised


def test_render_metadata_round_trip():
    content, _n = render_text("99", "alpha beta " * 50)
    got = parse_info_dict(content)
    exp = default_metadata("99")
    for k, snake in _KEYMAP.items():
        assert got[snake] == exp[k]


def test_pdf_info_fields():
    content, n_pages = render_text("7", "word " * 700)  # 70 lines -> 4 pages
    info = pdf_info(content)
    assert info["num_pages"] == n_pages == 4
    assert info["size_bytes"] == len(content)
    assert info["size_mb"] == round(len(content) / (1024 * 1024), 2)
    assert info["first_page_preview"].startswith("Document 7\n")
    assert len(info["first_page_preview"]) <= 500
    assert info["estimated_text_length"] >= 500  # preview is the capped prefix


def test_pdf_info_empty_and_textless():
    assert pdf_info(None)["first_page_preview"] == "No text extracted"
    assert pdf_info(b"")["num_pages"] == 0
    info = pdf_info(b"%PDF-1.4\n%%PAGE 0\n")  # page marker, no text runs
    assert info["num_pages"] == 1
    assert info["first_page_preview"] == "No text extracted"
    assert info["estimated_text_length"] == 0
    # content without the %PDF- magic is not read as a PDF: an HTML
    # page, or PDF-looking bytes behind no header
    html, _ = render_html("m-1", "alpha beta gamma")
    for raw in (html, b"%%PAGE 0\nBT\n100 700 Td\n(no magic) Tj\nET\n"):
        info = pdf_info(raw)
        assert info == {
            "num_pages": 0,
            "size_bytes": len(raw),
            "size_mb": round(len(raw) / (1024 * 1024), 2),
            **{snake: "" for snake in _KEYMAP.values()},
            "first_page_preview": "No text extracted",
            "estimated_text_length": 0,
        }


def test_info_obj_does_not_break_fast_path_or_spans(corpus_docs):
    """The metadata object must be invisible to the text tiers: fast
    path (which skips it) and reference parser (which consumes it as
    dead operands) emit identical runs."""
    from insurance_pdf_extractor_spark.operators import tokenize as tk

    for d in corpus_docs[:40]:
        assert tk.tokenize_content(d.content) == tokenize_content_reference(d.content)


@settings(max_examples=60, deadline=None)
@given(st.binary(max_size=300))
def test_parse_never_crashes(b):
    out = parse_info_dict(b"%PDF-1.4\n" + b)
    assert set(out) == set(_KEYMAP.values())


def test_info_obj_skip_is_linear_on_hostile_input():
    """Truncated/hostile info objects must fail the skip-match in linear
    time (regression: a backtracking _INFO_OBJ took minutes on a 40-digit
    run inside an unterminated dict) and stay tier-equivalent."""
    import time

    from insurance_pdf_extractor_spark.operators import tokenize as tk

    hostiles = [
        b"%PDF-1.4\n1 0 obj<<" + b"1" * 80 + b"(",
        b"%PDF-1.4\n5 0 obj << /Length " + b"9" * 120,
        b"1 0 obj<<" + b"7" * 200 + b"\nBT 1 2 Td (x) Tj ET",
    ]
    for h in hostiles:
        t0 = time.perf_counter()
        fast = tk.tokenize_content(h)
        assert time.perf_counter() - t0 < 1.0
        assert fast == tokenize_content_reference(h)


def test_scan_pdf_info_spark(spark, corpus_docs):
    """End-to-end Spark stage: raw corpus -> info struct rows match the
    pure-Python per-doc computation."""
    from insurance_pdf_extractor_spark.corpus import to_raw_df

    docs = corpus_docs[:30]
    raw = to_raw_df(spark, docs)
    rows = {r["doc_id"]: r["info"].asDict() for r in scan_pdf_info(raw).collect()}
    assert len(rows) == len(docs)
    for d in docs:
        exp = pdf_info(d.content)
        got = rows[d.doc_id]
        assert got == exp, (d.doc_id, got, exp)


def test_page_marker_in_string_literal_not_counted():
    """A legit doc whose TEXT quotes '%%PAGE' must neither inflate
    num_pages nor truncate the preview (r2 advice: raw byte find)."""
    doc = (
        b"%PDF-1.4\n1 0 obj\n<< /Title (T) >>\nendobj\n"
        b"%%PAGE 0\nBT\n1 2 Td\n(see %%PAGE marker) Tj\nET\n"
        b"%%PAGE 1\nBT\n1 2 Td\n(p1) Tj\nET\n"
    )
    info = pdf_info(doc)
    assert info["num_pages"] == 2
    assert "see %%PAGE marker" in info["first_page_preview"]
    assert "p1" not in info["first_page_preview"]  # cut at the REAL 2nd marker


def test_page_marker_inside_comment_tail_not_counted():
    # the tokenizer treats '% x %%PAGE' as ONE comment token that does
    # not start with %%PAGE — the scan must agree
    doc = b"%PDF-1.4\n% note %%PAGE\n%%PAGE 0\nBT\n1 2 Td\n(x) Tj\nET\n"
    assert pdf_info(doc)["num_pages"] == 1


def test_info_keys_inside_text_run_do_not_leak():
    """'/Title (fake)' appearing in a text-run string must not populate
    metadata — only an _INFO_OBJ-shaped object is scanned (r2 advice)."""
    doc = b"%PDF-1.4\nBT\n1 2 Td\n(/Title (fake)) Tj\nET\n"
    assert parse_info_dict(doc)["title"] == ""
    real = b"%PDF-1.4\n1 0 obj\n<< /Title (real) /Author (a) >>\nendobj\n"
    got = parse_info_dict(real)
    assert got["title"] == "real" and got["author"] == "a"


# ---------------------------------------------------------------------------
# PDFDocEncoding (Annex D.2) for BOM-less /Info text strings
# ---------------------------------------------------------------------------


def test_pdfdoc_specials_in_info_values():
    from insurance_pdf_extractor_spark.operators.metadata import parse_info_dict

    # bullet(0x80), em-dash(0x84), euro(0xA0), fi-ligature(0x93) via
    # octal escapes — the Annex D.2 blocks where PDFDoc != latin-1
    info = (
        b"1 0 obj\n<< /Title (Report \\200 2024 \\204 Q1 \\240 5 \\223nal)"
        b" /Author (plain) >>\nendobj\n"
    )
    got = parse_info_dict(info)
    assert got["title"] == "Report • 2024 — Q1 € 5 ﬁnal"
    assert got["author"] == "plain"


def test_pdfdoc_charset_priority():
    from insurance_pdf_extractor_spark.operators.metadata import _decode_text_string

    val = "Ünïcode"
    # BOM'd UTF-16BE wins
    u16 = "\xfe\xff" + val.encode("utf-16-be").decode("latin-1")
    assert _decode_text_string(u16) == val
    # bare UTF-8 heuristic wins over PDFDoc (real-world dirt tolerance)
    assert _decode_text_string(val.encode("utf-8").decode("latin-1")) == val
    # BOM-less non-UTF-8: PDFDoc diff applies, latin-1 body stands
    assert _decode_text_string("caf\xe9 \x85 bar") == "caf\xe9 – bar"
    # undefined PDFDoc bytes (0x7f, 0x9f) stand as-is
    assert _decode_text_string("\x7fx\x9f") == "\x7fx\x9f"


def test_pdfdoc_accent_block():
    from insurance_pdf_extractor_spark.operators.metadata import _decode_text_string

    assert _decode_text_string("\x18\x19\x1a\x1b\x1c\x1d\x1e\x1f") == "˘ˇˆ˙˝˛˚˜"
