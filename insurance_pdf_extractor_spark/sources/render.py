"""Render plain-text document rows into the engine's raw input shape
(``doc_id, content, media, n_pages, size_bytes``).

Used to drive the span pipeline from the shared testdata ``documents``
table: rendering is a pure function of (doc_id, text), so the derived
corpus is deterministic across runs and parallelism levels.
"""

from __future__ import annotations

import hashlib

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators.filters import objstm_object_bytes, stream_object_bytes, xref_stream_bytes

WORDS_PER_LINE = 10
LINES_PER_PAGE = 18

RENDERED = T.StructType(
    [
        T.StructField("content", T.BinaryType(), False),
        T.StructField("n_pages", T.IntegerType(), False),
    ]
)


def _esc(s: str) -> str:
    return s.replace("\\", "\\\\").replace("(", "\\(").replace(")", "\\)")


def default_metadata(doc_id: str) -> dict[str, str]:
    """Deterministic per-doc info-dict values, derivable from doc_id
    alone (so a SQL oracle can recompute them and value-check the
    embed→parse round trip)."""
    return {
        "Title": f"Document {doc_id}",
        "Author": f"Author {doc_id}",
        "Subject": "Insurance Quote",
        "Creator": "spark-graft renderer",
        "Producer": "content-stream-writer 0.1.0",
        "CreationDate": "D:20240115103000",
        "ModDate": "D:20240116090000",
    }


def info_dict_body(meta: dict[str, str]) -> bytes:
    """The ``<< … >>`` serialization of an info dict — the canonical
    body shared by the classic indirect object and the ObjStm-packed
    variant (the ObjStm expansion contract re-emits exactly this)."""
    body = " ".join(f"/{k} ({_esc(v)})" for k, v in meta.items())
    return f"<< {body} >>".encode()


def info_obj_bytes(meta: dict[str, str]) -> bytes:
    """PDF-style document information dictionary as an indirect object
    (the shape pypdf's reader.metadata reads; ref
    app/services/pdf_processor.py:466-477)."""
    return b"1 0 obj\n" + info_dict_body(meta) + b"\nendobj\n"


# ---------------------------------------------------------------------------
# font-encoded string emission (round 5): the real-world shape where
# shown string BYTES are font codes, not characters. Two variants:
#
# - "differences": a simple Type1 font whose /Encoding /Differences
#   array remaps letters to high codes (a-z → 0xA1.., A-Z → 0xC1..)
#   via AGL glyph names and digits to 0xE0.. via the algorithmic
#   /uniXXXX form; unmapped characters pass through as themselves
#   (WinAnsi base). One byte per character, so string payloads keep
#   their plain length.
# - "cid": a Type0 /Identity-H composite font showing 2-byte codes
#   (0x0100 + ord(char)) as hex strings, mapped back by a
#   FlateDecode-compressed /ToUnicode CMap (one bfrange) — the
#   subset-embedded-font shape pypdf resolves through its cmap layer.
#
# The extracted spans must be IDENTICAL to the plain render's spans
# (same text, same order); byte offsets shift by the font preamble,
# which the span contract orders by, not pins across variants.
# Object numbers 9001-9003 sit far above any page-stream object.
# ---------------------------------------------------------------------------


def cipher_encode(s: str) -> str:
    out = []
    for c in s:
        if "a" <= c <= "z":
            out.append(chr(0xA1 + ord(c) - 97))
        elif "A" <= c <= "Z":
            out.append(chr(0xC1 + ord(c) - 65))
        elif "0" <= c <= "9":
            out.append(chr(0xE0 + ord(c) - 48))
        else:
            out.append(c)
    return "".join(out)


def cid_hex(s: str) -> str:
    return "".join(f"{0x0100 + ord(c):04X}" for c in s)


_CIPHER_DIFFS = (
    " ".join(f"{0xA1 + i} /{chr(97 + i)}" for i in range(26))
    + " "
    + " ".join(f"{0xC1 + i} /{chr(65 + i)}" for i in range(26))
    + " "
    + " ".join(f"{0xE0 + i} /uni{0x30 + i:04X}" for i in range(10))
)

_TOUNICODE_CMAP = (
    b"/CIDInit /ProcSet findresource begin\n"
    b"12 dict begin\nbegincmap\n"
    b"1 begincodespacerange\n<0000> <FFFF>\nendcodespacerange\n"
    b"1 beginbfrange\n<0120> <017E> <0020>\nendbfrange\n"
    b"endcmap\nend\nend\n"
)


def font_preamble(encoding: str) -> bytes:
    """Font + page-resource (+ ToUnicode stream) objects for one
    encoding variant, emitted between the info object and the first
    page."""
    if encoding == "differences":
        font = (
            b"9001 0 obj\n<< /Type /Font /Subtype /Type1 /BaseFont /SparkGraft-Cipher"
            b" /Encoding << /BaseEncoding /WinAnsiEncoding /Differences [ "
            + _CIPHER_DIFFS.encode()
            + b" ] >> >>\nendobj\n"
        )
        extra = b""
    elif encoding == "cid":
        font = (
            b"9001 0 obj\n<< /Type /Font /Subtype /Type0 /BaseFont /SparkGraft-CID"
            b" /Encoding /Identity-H /ToUnicode 9003 0 R >>\nendobj\n"
        )
        extra = stream_object_bytes(_TOUNICODE_CMAP, ("FlateDecode",), obj_num=9003)
    else:
        raise ValueError(f"unknown encoding {encoding!r}")
    res = b"9002 0 obj\n<< /Font << /F1 9001 0 R >> >>\nendobj\n"
    return font + res + extra


def _show_token(s: str, encoding: str | None) -> str:
    if encoding == "differences":
        return "(" + _esc(cipher_encode(s)) + ")"
    if encoding == "cid":
        return "<" + cid_hex(s) + ">"
    return "(" + _esc(s) + ")"


def render_text(
    doc_id: str,
    text: str,
    meta: dict[str, str] | None = None,
    filters: tuple[str, ...] | None = None,
    structure: str = "classic",
    encoding: str | None = None,
) -> tuple[bytes, int]:
    """``filters`` (e.g. ``("FlateDecode",)`` or the chain
    ``("ASCII85Decode", "FlateDecode")``) wraps each page's content in
    an indirect PDF stream object encoded with that filter chain — the
    shape real-world PDFs ship. The decode splice contract
    (operators/filters.py) guarantees the filtered render decodes back
    to the byte-identical plain render, so span offsets (and therefore
    the flagship fixture) are filter-invariant.

    ``structure`` exercises the PDF-1.5 compressed-object layouts the
    same way: ``"objstm"`` packs the info dict inside a FlateDecode
    ``/Type /ObjStm`` container, ``"objstm_xref"`` additionally appends
    a ``/Type /XRef`` cross-reference stream — both normalize back to
    the byte-identical classic buffer (the ObjStm expands to the exact
    ``info_obj_bytes`` form; the xref stream drops whole). The header
    stays ``%PDF-1.4`` so byte-identity covers the whole buffer — the
    version comment is advisory to a sequential scanner, and writers
    lying about it is ordinary real-world dirt."""
    words = (text or "").split()
    lines = [
        " ".join(words[i : i + WORDS_PER_LINE]) for i in range(0, len(words), WORDS_PER_LINE)
    ] or [""]
    pages = [lines[i : i + LINES_PER_PAGE] for i in range(0, len(lines), LINES_PER_PAGE)]
    m = meta if meta is not None else default_metadata(doc_id)
    if structure == "classic":
        info = info_obj_bytes(m)
    elif structure in ("objstm", "objstm_xref"):
        info = objstm_object_bytes([(1, info_dict_body(m))], ("FlateDecode",))
    else:
        raise ValueError(f"unknown structure {structure!r}")
    out = [b"%PDF-1.4\n", info]
    if encoding:
        out.append(font_preamble(encoding))
    for pg, pg_lines in enumerate(pages):
        out.append(f"%%PAGE {pg}\n".encode())
        body = [
            f"BT\n/F1 12 Tf\n1 0 0 1 72.0 760.0 Tm\n"
            f"{_show_token(f'Document {doc_id}', encoding)} Tj\nET\n".encode("latin-1")
        ]
        y = 740.0
        for line in pg_lines:
            body.append(
                f"BT\n72.0 {y:.1f} Td\n{_show_token(line, encoding)} Tj\nET\n".encode("latin-1")
            )
            y -= 20.0
        body.append(
            f"BT\n72.0 {y:.1f} Td\n"
            f"{_show_token(f'Page {pg + 1} of {len(pages)}', encoding)} Tj\nET\n".encode("latin-1")
        )
        page_body = b"".join(body)
        if filters:
            out.append(stream_object_bytes(page_body, filters, obj_num=pg + 2))
        else:
            out.append(page_body)
    if structure == "objstm_xref":
        out.append(xref_stream_bytes())
    return b"".join(out), len(pages)


# ---------------------------------------------------------------------------
# HTML rendering (round 5): the north rule's extraction tier is "HTML
# boilerplate strip, PDF/layout parse, DOM heuristics" over an
# INTERLEAVED corpus — so the derived corpus interleaves formats too.
# A deterministic fraction of documents render as realistic HTML pages
# (template chrome, nav/footer boilerplate, link-dense tag rows,
# repeated ad slots, inline markup, entities, script/style/comment
# decoys, and <img> media refs); the extractor must strip everything
# but the main content and emit the same (kind, text, media_ref,
# offset) span contract the PDF path emits. Geometry constants are
# mirrored independently by tools/make_fixtures.py (expected_html_spans).
# ---------------------------------------------------------------------------

HTML_WORDS_PER_PARA = 30
HTML_MEDIA_EVERY = 3  # a <figure><img> after every 3rd paragraph
HTML_AD_EVERY = 4  # a repeated "Advertisement" div after every 4th


def _esc_html(s: str) -> str:
    return s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")


def _html_word(word: str, j: int) -> str:
    """Deterministic inline markup for global word index ``j``: proves
    inline-transparency (b/em) and in-paragraph anchors without ever
    tripping the link-density heuristic (anchors only wrap words of
    ≤ 8 chars, so a full paragraph's anchor mass stays far below the
    0.66 threshold)."""
    w = _esc_html(word)
    if j % 11 == 3:
        return f"<b>{w}</b>"
    if j % 11 == 7 and len(word) <= 8:
        return f'<a href="/w/{j}">{w}</a>'
    if j % 13 == 5:
        return f"<em>{w}</em>"
    return w


# Deterministic per-doc CHARSET pick for HTML renders: a quarter of
# pages ship windows-1252 with literal high-byte content (§ prefix,
# accented caption words) instead of entities — the legacy-web shape
# the charset sniff + per-charset decode must handle. The rule is one
# md5 hex CHARACTER so the pdf_metadata gate's SQL oracle can
# recompute it verbatim (substr(md5(doc_id),23,1) IN ('0'..'3')).
def charset_for_doc(doc_id: str) -> str:
    return (
        "cp1252"
        if hashlib.md5(doc_id.encode("utf-8")).hexdigest()[22] in "0123"
        else "utf-8"
    )


def render_html(doc_id: str, text: str) -> tuple[bytes, int]:
    """Deterministic HTML page for one document; returns (bytes, 1).

    Main content: an <h1> title, paragraphs of ``HTML_WORDS_PER_PARA``
    words (each prefixed ``&sect;{n}&nbsp;`` — entity decode is on the
    hot path), a <figure> with an <img media_ref> + <figcaption> every
    ``HTML_MEDIA_EVERY`` paragraphs, an "Advertisement" div every
    ``HTML_AD_EVERY`` (stripped by the repeated-line heuristic once it
    occurs ≥ 3 times). Boilerplate the extractor must strip: header/
    nav/aside/footer chrome, a link-dense tags row, script/style/
    comment decoys containing tag- and PDF-operator-shaped text.
    Inline markup only appears in full-length paragraphs (see
    _html_word)."""
    words = (text or "").split()
    paras = [
        words[i : i + HTML_WORDS_PER_PARA]
        for i in range(0, len(words), HTML_WORDS_PER_PARA)
    ]
    cs = charset_for_doc(doc_id)
    meta_cs = "windows-1252" if cs == "cp1252" else "utf-8"
    out: list[str] = [
        "<!DOCTYPE html>\n"
        f'<html lang="en">\n<head>\n<meta charset="{meta_cs}">\n'
        f"<title>Document {_esc_html(doc_id)}</title>\n"
        f'<meta name="author" content="Author {_esc_html(doc_id)}">\n'
        f'<meta name="description" content="Insurance quote {_esc_html(doc_id)}'
        f' &mdash; {len(words)} words">\n'
        f'<meta property="og:title" content="Document {_esc_html(doc_id)}">\n'
        "<style>\nbody { font: 14px/1.4 serif; }\n/* decoy: <p>styled</p> (x) Tj */\n</style>\n"
        '<script type="text/javascript">\nvar decoy = "<p>not content</p>";'
        ' if (2 < 3 && 4 > 1) { render("BT (x) Tj ET"); }\n</script>\n'
        "</head>\n<body>\n"
        '<header><h1><a href="/">Acme Insurance Portal</a></h1>\n'
        '<nav><ul><li><a href="/quotes">Quotes</a></li><li><a href="/claims">Claims</a></li>'
        '<li><a href="/support">Support</a></li></ul></nav>\n'
        "</header>\n"
        f"<!-- build {_esc_html(doc_id)}: <div>ghost block</div> -->\n"
        "<main>\n"
        f"<h1>Document {_esc_html(doc_id)}</h1>\n"
    ]
    for i, chunk in enumerate(paras):
        full = len(chunk) == HTML_WORDS_PER_PARA
        base = i * HTML_WORDS_PER_PARA
        body = " ".join(
            _html_word(w, base + j) if full else _esc_html(w) for j, w in enumerate(chunk)
        )
        # cp1252 pages carry the section mark and nbsp as LITERAL
        # high bytes (the legacy-web shape); utf-8 pages as entities
        prefix = f"\xa7{i + 1}\xa0" if cs == "cp1252" else f"&sect;{i + 1}&nbsp;"
        out.append(f'<p id="para-{i}">{prefix}{body}</p>\n')
        if (i + 1) % HTML_MEDIA_EVERY == 0:
            k = (i + 1) // HTML_MEDIA_EVERY - 1
            ref = f"media:{_esc_html(doc_id)}/{k}"
            # alternate media ELEMENT kinds so img/video/audio+source
            # all appear across any non-trivial corpus; salted with
            # doc identity so single-figure documents still vary
            kk = k + int(hashlib.md5(doc_id.encode("utf-8")).hexdigest()[20:22], 16)
            if kk % 3 == 0:
                mtag = f'<img src="{ref}" alt="exhibit {k}">'
            elif kk % 3 == 1:
                mtag = f'<video src="{ref}" controls></video>'
            else:
                mtag = f'<audio controls><source src="{ref}" type="audio/mpeg"></audio>'
            capword = "r\xe9sum\xe9" if cs == "cp1252" else "chart"
            out.append(
                f"<figure>{mtag}"
                f"<figcaption>Exhibit {k} &mdash; claims {capword}</figcaption></figure>\n"
            )
        if (i + 1) % HTML_AD_EVERY == 0:
            out.append('<div class="ad">Advertisement</div>\n')
    out.append(
        '<p class="tags"><a href="/t/auto">auto</a> <a href="/t/home">home</a>'
        ' <a href="/t/life">life</a></p>\n'
        "</main>\n"
        '<aside><h2>Related</h2><ul><li><a href="/r/1">Related article one</a></li>'
        '<li><a href="/r/2">Related article two</a></li></ul></aside>\n'
        "<footer><p>&copy; 2026 Acme Insurance Co &middot;"
        ' <a href="/privacy">Privacy</a> &middot; <a href="/terms">Terms</a></p></footer>\n'
        "</body>\n</html>\n"
    )
    return "".join(out).encode(cs, "replace"), 1


# Deterministic per-doc FORMAT pick for the interleaved corpus
# (independent md5 bits from the filter/structure/encoding picks): one
# third of documents render as HTML, the rest as PDF content streams
# drawn from the full filter × structure × font-encoding matrix.
FORMAT_MIX = ("pdf", "pdf", "html")


def format_for_doc(doc_id: str) -> str:
    h = int(hashlib.md5(doc_id.encode("utf-8")).hexdigest()[16:20], 16)
    return FORMAT_MIX[h % len(FORMAT_MIX)]


# Deterministic per-doc filter assignment for the mixed-compression
# render: every filter (and one chain) is exercised across any
# non-trivial corpus, plain renders included, purely as f(doc_id).
FILTER_MIX: tuple[tuple[str, ...] | None, ...] = (
    None,
    ("FlateDecode",),
    ("LZWDecode",),
    ("ASCIIHexDecode",),
    ("ASCII85Decode", "FlateDecode"),
    ("RunLengthDecode",),
    ("FlateDecode/P12",),  # Flate with PNG-Up predictor (§7.4.4.4)
)


def filters_for_doc(doc_id: str) -> tuple[str, ...] | None:
    h = int(hashlib.md5(doc_id.encode("utf-8")).hexdigest()[:8], 16)
    return FILTER_MIX[h % len(FILTER_MIX)]


# Deterministic per-doc PDF-1.5 structure assignment (independent md5
# bits from the filter pick, so every (filter, structure) combination
# appears): classic layout, info dict packed in a /Type /ObjStm, and
# ObjStm plus a trailing /Type /XRef cross-reference stream.
STRUCTURE_MIX = ("classic", "objstm", "objstm_xref")


def structure_for_doc(doc_id: str) -> str:
    h = int(hashlib.md5(doc_id.encode("utf-8")).hexdigest()[8:12], 16)
    return STRUCTURE_MIX[h % len(STRUCTURE_MIX)]


# Deterministic per-doc font-encoding assignment (independent md5 bits
# from the filter and structure picks, so the full filter × structure ×
# encoding matrix appears across a corpus): plain strings, a
# /Differences-remapped simple font, and a 2-byte /Identity-H composite
# font with a compressed /ToUnicode CMap.
ENCODING_MIX: tuple[str | None, ...] = (None, "differences", "cid")


def encoding_for_doc(doc_id: str) -> str | None:
    h = int(hashlib.md5(doc_id.encode("utf-8")).hexdigest()[12:16], 16)
    return ENCODING_MIX[h % len(ENCODING_MIX)]


MIXES = ("plain", "filters", "full", "html", "interleaved")


def render_doc(doc_id: str, text: str, mix: str) -> tuple[bytes, int]:
    """One document's ``(content, n_pages)`` under a corpus ``mix``:

    - ``"plain"``: unfiltered classic PDF;
    - ``"filters"``: per-doc filter chain (``FILTER_MIX``) and PDF-1.5
      structure (``STRUCTURE_MIX``); extracts byte-identical to plain
      (operators/filters.py splice contract);
    - ``"full"``: filters × structure × font encoding (``ENCODING_MIX``);
    - ``"html"``: every document an HTML page;
    - ``"interleaved"``: ``format_for_doc`` picks HTML or ``"full"``."""
    if mix == "interleaved":
        mix = "html" if format_for_doc(doc_id) == "html" else "full"
    if mix == "plain":
        return render_text(doc_id, text)
    if mix == "html":
        return render_html(doc_id, text)
    if mix not in ("filters", "full"):
        raise ValueError(f"unknown mix {mix!r}")
    return render_text(
        doc_id,
        text,
        filters=filters_for_doc(doc_id),
        structure=structure_for_doc(doc_id),
        encoding=encoding_for_doc(doc_id) if mix == "full" else None,
    )


@F.pandas_udf(RENDERED)
def _render_udf(doc_id: pd.Series, text: pd.Series, mix: pd.Series) -> pd.DataFrame:
    rendered = [render_doc(str(d), t, m) for d, t, m in zip(doc_id, text, mix)]
    return pd.DataFrame(rendered, columns=["content", "n_pages"])


# Rendering IS a pure function of (doc_id, text, mix); asNondeterministic()
# only withdraws Catalyst's license to DUPLICATE the call — without it,
# pushing the pipeline's validity filters (which reference rendered
# content) below the spread exchange re-evaluated the render UDF a
# second time per union branch (observed in the physical plan: two
# ArrowEvalPython render nodes per branch, 6 renders of the corpus for
# a 3-branch plan).
render_udf = _render_udf.asNondeterministic()


def render_documents_raw(
    documents: DataFrame, partitions: int | None = None, mix: str = "plain"
) -> DataFrame:
    """documents(doc_id, text, ...) → documents_raw for the pipeline,
    each document rendered by :func:`render_doc` under ``mix``.

    Salts/repartitions the SLIM text rows by hash(doc_id) BEFORE the
    render UDF: a small parquet source arrives as one input split, and
    rendering serially in a single task flattens scaling (measured: no
    speedup 8→32 cores until this shuffle moved ahead of the UDF). The
    shuffle payload here is doc_id+text — far cheaper than shuffling
    rendered byte streams afterwards — and downstream stages inherit
    the spread, so ``extract_documents(..., presalted=True)`` can skip
    its own repartition."""
    if mix not in MIXES:
        raise ValueError(f"unknown mix {mix!r}")
    spark = documents.sparkSession
    n_part = partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
    documents = documents.repartition(n_part, F.xxhash64(F.col("doc_id").cast("string")))
    r = documents.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        render_udf(F.col("doc_id").cast("string"), F.col("text"), F.lit(mix)).alias("r"),
    )
    return r.select(
        "doc_id",
        F.col("r.content").alias("content"),
        F.expr("array()").cast("array<struct<media_ref:string,offset:int>>").alias("media"),
        F.col("r.n_pages").alias("n_pages"),
        F.length("r.content").cast("long").alias("size_bytes"),
        # tiny magic-prefix column: lets the pipeline's reject branch
        # classify without touching the content column at all — when
        # this frame is persisted as parquet, the reject scan prunes to
        # metadata-width instead of re-reading every content byte
        # (plans/pipeline.py:classify_rejects)
        F.substring(F.col("r.content"), 1, 5).alias("magic"),
    )
