"""Hostile/malformed input robustness: the pipeline must never crash,
hang, or silently drop rows — every document either yields spans or a
classified reject. (The original char-loop tokenizer hung forever on a
lone '<'; this suite guards that whole class.)"""

from __future__ import annotations

import re
import time
import zlib

import pytest
from pyspark.sql import functions as F

from naive_tokenize import tokenize_content_reference

from insurance_pdf_extractor_spark.operators.filters import decode_content_filters
from insurance_pdf_extractor_spark.operators.tokenize import (
    _tokenize_interpreter,
    tokenize_content,
)
from insurance_pdf_extractor_spark.plans.pipeline import extract_results
from insurance_pdf_extractor_spark.schema import DOCUMENTS_RAW

# a digit run too long for int() (over 4,300 digits)
_LONG = b"1" * 5000

HOSTILE = [
    ("trunc-header", b"%PDF-"),
    ("no-magic", b"not a pdf at all"),
    ("empty", b""),
    ("delim-bomb", b"%PDF-1.4\n" + b"<>{}[]()/%" * 500),
    ("unterminated-string", b"%PDF-1.4\nBT\n10 20 Td\n(never closed... Tj\nET\n"),
    ("unterminated-nested", b"%PDF-1.4\nBT\n10 20 Td\n(a(b(c... Tj\nET\n"),
    ("escape-at-eof", b"%PDF-1.4\nBT\n10 20 Td\n(x\\"),
    ("binary-junk", b"%PDF-1.4\n" + bytes(range(256)) * 40),
    ("deep-array", b"%PDF-1.4\nBT\n" + b"[" * 200 + b"(x)" + b"]" * 200 + b" TJ\nET\n"),
    ("huge-number", b"%PDF-1.4\nBT\n1e308 99999999999999999999 Td\n(x) Tj\nET\n"),
    ("bad-number", b"%PDF-1.4\nBT\n12.5.6 -.+. Td\n(x) Tj\nET\n"),
    ("array-mark-cleared", b"%PDF-1.4\n[ BT ]\nBT\n1 2 Td\n(x) Tj\nET\n"),
    ("array-mark-repushed", b"%PDF-1.4\n[ Tj 5 4 ]\n"),
    ("truncated-info-obj", b"%PDF-1.4\n1 0 obj<<" + b"1" * 64 + b"("),
    ("truncated-tj-array", b"%PDF-1.4\nBT 1 2 Td [ " + b"1" * 64),
    ("superscript-digits", b"%PDF-1.4\nBT 1 2 Td (x) 1\xb2 Tj ET\n"),
    ("comment-noeol", b"%PDF-1.4\n% comment without newline"),
    ("page-garbage", b"%PDF-1.4\n%%PAGE xyz\nBT\n1 2 Td\n(x) Tj\nET\n"),
    ("negative-page", b"%PDF-1.4\n%%PAGE -5\nBT\n1 2 Td\n(x) Tj\nET\n"),
    ("operators-only", b"%PDF-1.4\n" + b"q Q cm gs BT ET Tz Tr " * 300),
    ("lone-closers", b"%PDF-1.4\n)))]]]}}}>>>\nBT\n1 2 Td\n(ok) Tj\nET\n"),
    (
        "overlong-length",
        b"%PDF-1.4\nBT\n1 2 Td\n(tail) Tj\nET\n2 0 obj\n<< /Length " + _LONG
        + b" /Filter /ASCIIHexDecode >>\nstream\n7120510a>\nendstream\nendobj\n",
    ),
    (
        "overlong-font-objnum",
        b"%PDF-1.4\n" + _LONG + b" 0 obj\n<< /Type /Font /Subtype /Type1"
        b" /Encoding /WinAnsiEncoding >>\nendobj\n3 0 obj\n<< /Type /Font /Subtype /Type1"
        b" /Encoding " + _LONG + b" 0 R /ToUnicode " + _LONG + b" 0 R >>\nendobj\n"
        b"5 0 obj\n<< /Font << /F1 " + _LONG + b" 0 R /F2 3 0 R >> >>\nendobj\n"
        b"BT\n/F1 12 Tf\n1 2 Td\n(tail) Tj\nET\n",
    ),
]


@pytest.mark.parametrize("name,content", HOSTILE, ids=[n for n, _ in HOSTILE])
def test_tokenizer_never_crashes_and_tiers_agree(name, content):
    ref = tokenize_content_reference(content)
    assert tokenize_content(content) == ref
    assert _tokenize_interpreter(content) == ref
    for row in ref:
        assert isinstance(row[4], str)


@pytest.mark.parametrize("name", ["overlong-length", "overlong-font-objnum"])
def test_overlong_digit_runs_are_dirt(name):
    """A number too long for int() names no object and no length: the
    stream falls back to the endstream scan, the font gets no map, and
    the document's other text survives (it is not poisoned)."""
    content = dict(HOSTILE)[name]
    assert b"(tail) Tj" in decode_content_filters(content)
    assert [r[4] for r in tokenize_content(content)] == ["tail"]


def test_pipeline_accounts_for_every_hostile_doc(spark, shuffle_partitions):
    rows = [
        (name, content, [], content.count(b"%%PAGE") or 1, len(content))
        for name, content in HOSTILE
    ]
    raw = spark.createDataFrame(rows, DOCUMENTS_RAW)
    with shuffle_partitions(4):
        got = extract_results(raw).select("doc_id", "status").collect()
    # conservation: every input doc appears exactly once, success or reject
    assert sorted(r["doc_id"] for r in got) == sorted(n for n, _ in HOSTILE)
    by_id = {r["doc_id"]: r["status"] for r in got}
    assert by_id["no-magic"] == "error"   # magic-byte reject
    assert by_id["empty"] == "error"
    # parseable-but-weird docs flow through as records (partial or not)
    assert by_id["lone-closers"] in ("success", "partial_success")


_CPU_BOUND_S = 5.0  # CPU time: immune to the shared box's external load spikes


def test_adversarial_repeats_are_linear_time():
    """Every scanner entry point must fail/parse adversarial repeated
    atoms in linear time (ReDoS class: ambiguous digit-run splits inside
    unbounded regex loops — hit twice in round 2, in _INFO_OBJ and the
    TJ-array alternative)."""
    from insurance_pdf_extractor_spark.operators import tokenize as tk
    from insurance_pdf_extractor_spark.operators.metadata import parse_info_dict

    atoms = [b"1", b"1.", b".", b"(", b"\\", b"/n", b"%"]
    prefixes = [b"BT 1 2 Td [ ", b"1 0 obj<<", b"BT 1 2 Td [ (a) ", b"BT\n/F1 "]
    for pre in prefixes:
        for atom in atoms:
            b = pre + atom * 300
            t0 = time.process_time()
            r1 = tk.tokenize_content(b)
            r3 = tokenize_content_reference(b)
            parse_info_dict(b)
            assert time.process_time() - t0 < _CPU_BOUND_S, (pre, atom)
            assert r1 == r3, (pre, atom)


def _indirect_lengths(n: int) -> tuple[bytes, bytes]:
    """n FlateDecode streams, each /Length an indirect integer object
    written after it; and the buffer the streams decode to."""
    doc, plain = [b"%PDF-1.4\n%%PAGE 0\n"], [b"%PDF-1.4\n%%PAGE 0\n"]
    for k in range(n):
        text = b"BT 1 %d Td (w%d) Tj ET\n" % (k, k)
        enc = zlib.compress(text)
        tail = b"%d 0 obj %d endobj\n" % (2 * k + 11, len(enc))
        doc.append(
            b"%d 0 obj\n<< /Length %d 0 R /Filter /FlateDecode >>\nstream\n" % (2 * k + 10, 2 * k + 11)
            + enc + b"\nendstream\nendobj\n" + tail
        )
        plain.append(text + tail)
    return b"".join(doc), b"".join(plain)


_CMAP = (
    b"begincmap\n1 begincodespacerange\n<0000> <FFFF>\nendcodespacerange\n"
    b"1 beginbfrange\n<0120> <017E> <0020>\nendbfrange\nendcmap\n"
)


def _tounicode_fonts(n: int) -> bytes:
    """n Type0 fonts, each with its own ToUnicode stream, each showing
    one 2-byte string (<0161 013d> decodes to "a" + digit d)."""
    out, res = [b"%PDF-1.4\n"], []
    for k in range(n):
        f, c = 2 * k + 10, 2 * k + 11
        out.append(
            b"%d 0 obj\n<< /Type /Font /Subtype /Type0 /Encoding /Identity-H"
            b" /ToUnicode %d 0 R >>\nendobj\n" % (f, c)
        )
        out.append(b"%d 0 obj\n<< /Length %d >>\nstream\n%s\nendstream\nendobj\n" % (c, len(_CMAP), _CMAP))
        res.append(b"/F%d %d 0 R" % (k, f))
    out.append(b"5 0 obj\n<< /Font << " + b" ".join(res) + b" >> >>\nendobj\n%%PAGE 0\n")
    out += [b"BT /F%d 12 Tf 1 %d Td <0161%04X> Tj ET\n" % (k, k, 0x130 + k % 10) for k in range(n)]
    return b"".join(out)


def test_object_lookups_are_linear_time():
    """Shapes that once took time quadratic in document size (15-30 s
    each at these sizes): one whole-buffer regex per indirect /Length,
    one per ToUnicode reference, and a search for endobj from every
    header that has none. One object index serves every lookup, and the
    outputs are unchanged."""
    doc, plain = _indirect_lengths(4000)
    t0 = time.process_time()
    assert decode_content_filters(doc) == plain
    assert time.process_time() - t0 < _CPU_BOUND_S

    doc = _tounicode_fonts(2400)
    t0 = time.process_time()
    runs = tokenize_content(doc)
    assert time.process_time() - t0 < _CPU_BOUND_S
    want = [(0, 1.0, float(k), m.start(), "a%d" % (k % 10)) for k, m in enumerate(re.finditer(rb"<0161", doc))]
    assert runs == want

    doc = (
        b"%PDF-1.4\n/Font\n" + b"".join(b"%d 0 obj\n" % k for k in range(8000))
        + b"BT 1 2 Td (tail) Tj ET\n" + b" " * 2_000_000
    )
    t0 = time.process_time()
    runs = tokenize_content(doc)
    assert time.process_time() - t0 < _CPU_BOUND_S
    assert runs == [(0, 1.0, 2.0, doc.index(b"(tail)"), "tail")]
