"""S3 — PDF metadata scan: document-info dictionary + basic file info.

Re-expresses the reference's ``get_pdf_info``
(app/services/pdf_processor.py:447-494): pypdf's ``reader.metadata``
lookup of /Title /Author /Subject /Creator /Producer /CreationDate
/ModDate (empty string when absent), plus num_pages / size_bytes /
size_mb and the first-page text preview (first 500 chars of page-0
extracted text, "No text extracted" when empty — pdf_processor.py:481).

Exposed as a scalar ``pandas_udf`` over Arrow batches like the Stage-1
tokenize kernel; no per-row Python at the Spark API level.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .filters import decode_or_poison
from .html import sniff_format
from .layout import layout_lines
from .tokenize import (
    _FLAT,
    _INFO_OBJ,
    _SP,
    _decode,
    _unescape_raw,
    page_marker_offsets_text,
    tokenize_content,
)

INFO_KEYS = [
    ("Title", "title"),
    ("Author", "author"),
    ("Subject", "subject"),
    ("Creator", "creator"),
    ("Producer", "producer"),
    ("CreationDate", "creation_date"),
    ("ModDate", "modification_date"),
]

# /Key (flat literal string) pairs, scanned ONLY inside an
# _INFO_OBJ-shaped ``N 0 obj<<…>>endobj`` match (the shape the renderer
# emits and the tokenizer skips) — like pypdf reading the
# trailer-referenced /Info object rather than grepping the whole byte
# stream, so a text run whose CONTENT quotes '/Title (…)' cannot leak
# into the metadata (r2 advice). First occurrence per key wins (an Info
# dict has unique keys; this only disambiguates hostile input
# deterministically).
_META_RE = re.compile(
    rf"/(Title|Author|Subject|Creator|Producer|CreationDate|ModDate){_SP}*({_FLAT})"
)

# PDFDocEncoding (PDF 32000-1:2008 Annex D.2), as pypdf applies to
# reader.metadata values: identical to latin-1 outside three ranges —
# 0x18–0x1F are accent marks, 0x80–0x9E typography/ligatures (0x7F,
# 0x9F undefined → byte stands), 0xA0 is EURO (not NBSP). Text strings
# WITHOUT a BOM are PDFDocEncoded per §7.9.2.2; show-string operands in
# content streams are font-encoded and never take this mapping.
_PDFDOC_DIFF = {
    0x18: "˘", 0x19: "ˇ", 0x1A: "ˆ", 0x1B: "˙",  # ˘ ˇ ˆ ˙
    0x1C: "˝", 0x1D: "˛", 0x1E: "˚", 0x1F: "˜",  # ˝ ˛ ˚ ˜
    0x80: "•", 0x81: "†", 0x82: "‡", 0x83: "…",  # • † ‡ …
    0x84: "—", 0x85: "–", 0x86: "ƒ", 0x87: "⁄",  # — – ƒ ⁄
    0x88: "‹", 0x89: "›", 0x8A: "−", 0x8B: "‰",  # ‹ › − ‰
    0x8C: "„", 0x8D: "“", 0x8E: "”", 0x8F: "‘",  # „ “ ” ‘
    0x90: "’", 0x91: "‚", 0x92: "™", 0x93: "ﬁ",  # ’ ‚ ™ ﬁ
    0x94: "ﬂ", 0x95: "Ł", 0x96: "Œ", 0x97: "Š",  # ﬂ Ł Œ Š
    0x98: "Ÿ", 0x99: "Ž", 0x9A: "ı", 0x9B: "ł",  # Ÿ Ž ı ł
    0x9C: "œ", 0x9D: "š", 0x9E: "ž",                  # œ š ž
    0xA0: "€",                                                  # €
}


def _decode_text_string(s: str) -> str:
    """Charset rule for §7.9.2.2 TEXT strings (metadata values), on the
    escape-applied latin-1 byte image: BOM'd UTF-16BE / UTF-8 first,
    then the bare-UTF-8 heuristic (common real-world dirt pypdf also
    tolerates), else PDFDocEncoding (Annex D.2) — the spec's default
    for BOM-less text strings."""
    if s.isascii():
        # the 0x18–0x1F accent block sits INSIDE the ASCII range —
        # remap it even on the fast path (control bytes never appear
        # in legitimate ASCII metadata, so the scan is a no-op there)
        if any(0x18 <= ord(c) <= 0x1F for c in s):
            return "".join(_PDFDOC_DIFF.get(ord(c), c) for c in s)
        return s
    if s.startswith(("\xfe\xff", "\xef\xbb\xbf")):
        return _decode(s)
    try:
        return s.encode("latin-1").decode("utf-8")
    except (UnicodeDecodeError, UnicodeEncodeError):
        return "".join(_PDFDOC_DIFF.get(ord(c), c) for c in s)

PDF_INFO = T.StructType(
    [
        T.StructField("num_pages", T.IntegerType(), False),
        T.StructField("size_bytes", T.LongType(), False),
        T.StructField("size_mb", T.DoubleType(), False),
        T.StructField("title", T.StringType(), False),
        T.StructField("author", T.StringType(), False),
        T.StructField("subject", T.StringType(), False),
        T.StructField("creator", T.StringType(), False),
        T.StructField("producer", T.StringType(), False),
        T.StructField("creation_date", T.StringType(), False),
        T.StructField("modification_date", T.StringType(), False),
        T.StructField("first_page_preview", T.StringType(), False),
        T.StructField("estimated_text_length", T.IntegerType(), False),
    ]
)


def parse_info_dict(content: bytes, text: str | None = None) -> dict[str, str]:
    """Info-dict values keyed by the reference's snake_case names,
    '' for absent keys (pdf_processor.py:469-477 defaults). Pass
    ``text`` (the latin-1 decode of ``content``) when the caller has
    already decoded — pdf_info scans the full document twice (info
    objects + page markers) and should pay the decode once."""
    out = {snake: "" for _k, snake in INFO_KEYS}
    if not content:
        return out
    if text is None:
        text = content.decode("latin-1")
    seen: set[str] = set()
    for obj in _INFO_OBJ.finditer(text):
        for m in _META_RE.finditer(obj.group(0)):
            key = m.group(1)
            if key in seen:
                continue
            seen.add(key)
            snake = next(s for k, s in INFO_KEYS if k == key)
            out[snake] = _decode_text_string(_unescape_raw(m.group(2)[1:-1]))
    return out


def pdf_info(content: bytes | None) -> dict:
    """One document's full info record (reference get_pdf_info shape,
    minus the dict-vs-flat nesting — columns are flattened).

    The first-page preview tokenizes only the byte prefix up to the
    SECOND ``%%PAGE`` marker — like pypdf reading pages[0] — so the S3
    scan never pays the full Stage-1 kernel cost on a multi-hundred-page
    document just to keep 500 chars. Marker offsets come from the
    string-literal-aware scan (tokenize.page_marker_offsets), so a legit
    doc whose TEXT contains '%%PAGE' neither mis-truncates the preview
    nor inflates num_pages (r2 advice). (A hostile stream that
    re-declares ``%%PAGE 0`` later is out of scope for this info
    endpoint.)

    Filtered / PDF-1.5 documents (compressed content streams, the Info
    dict packed in a ``/Type /ObjStm``) normalize through
    ``filters.decode_or_poison`` first — like pypdf's ``reader.metadata``
    resolving compressed objects transparently — so page markers, the
    preview, and the /Info keys all read from the plain buffer.
    ``size_bytes``/``size_mb`` always report the RAW file size. A
    budget-cap bomb poisons the document text-free, mirroring the
    tokenizer's rule. Content without the ``%PDF-`` magic
    (``sniff_format``; an HTML page, arbitrary bytes) is not read at
    all: zero pages, empty info keys, "No text extracted" — as
    ``parse_html_meta`` leaves non-HTML content empty."""
    raw = content or b""
    b = decode_or_poison(raw) if sniff_format(raw) == "pdf" else b""
    text = b.decode("latin-1")  # one decode feeds both full-doc scans
    info = parse_info_dict(b, text=text)
    marks = page_marker_offsets_text(text)
    prefix = b if len(marks) < 2 else b[: marks[1]]
    runs = tokenize_content(prefix)
    first_page = [t for p, _o, t in layout_lines(runs) if p == 0]
    preview_src = "\n".join(first_page)
    return {
        "num_pages": len(marks),
        "size_bytes": len(raw),
        "size_mb": round(len(raw) / (1024 * 1024), 2),
        **info,
        "first_page_preview": preview_src[:500] if preview_src else "No text extracted",
        "estimated_text_length": len(preview_src),
    }


@F.pandas_udf(PDF_INFO)
def pdf_info_udf(content: pd.Series) -> pd.DataFrame:
    """Vectorized S3 kernel: binary content → flattened info struct."""
    rows = [pdf_info(None if c is None else bytes(c)) for c in content]
    return pd.DataFrame(rows)


def scan_pdf_info(raw: DataFrame, content_col: str = "content") -> DataFrame:
    """documents_raw → (doc_id, info struct). Pure map stage — no
    shuffle; inherits the caller's (salted) partitioning."""
    return raw.select("doc_id", pdf_info_udf(F.col(content_col)).alias("info"))
