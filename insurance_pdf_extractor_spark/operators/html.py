"""HTML main-content extraction: from-scratch byte-stream HTML
tokenizer + DOM-lite block reconstruction + boilerplate heuristics.

The north rule names the extraction tier as "HTML boilerplate strip,
PDF/layout parse, DOM heuristics" over interleaved documents — this
module is the HTML half of that pair. The PDF half (operators/
tokenize.py → layout.py → boilerplate.py) re-expresses the reference's
pypdf path; HTML has no reference analog (the reference ingests PDFs
only, app/utils/file_helpers.py:15-50 rejects other magics), so the
semantics here follow the published main-content-extraction heuristics
(Boilerpipe/Readability link-density + repeated-line frequency) with a
deterministic, documented rule set.

Design (same discipline as the PDF tiers):

- **Single forward pass over bytes, no recursion, no element stack.**
  A hostile document cannot blow the stack or drive superlinear work:
  nesting is tracked with bounded integer depth counters
  (strip-container depth, anchor depth), raw-text elements skip to
  their close tag with one ``find``, and every loop iteration consumes
  at least one byte.
- **Byte offsets are the ordering key.** Every emitted block records
  the byte offset of its first non-whitespace content byte in the raw
  document; media spans record the offset of their ``<img`` byte.
  Offsets derive from content alone, so span sequences are invariant
  across partitioning/parallelism (north rule).
- **One tag walk.** ``_walk`` holds every tokenizer rule once
  (comments, CDATA, declarations, PIs, closing and bogus-comment tags,
  a literal ``<``, raw-text bodies) and yields text ranges, closing
  tags and open tags. Both consumers read it: ``extract_html`` builds
  blocks from it, and the ``<head>`` metadata scan
  (``parse_html_meta``) reads title and meta values from it, so the
  scan skips exactly the markup the extractor skips.
- **Blocks, not DOM.** Block-level open/close tags and ``<br>`` flush
  the current text run; inline elements (``a``, ``b``, ``em``, …) are
  transparent. This is the DOM heuristic that matters for reading
  order — full tree construction would buy nothing the span contract
  uses.

Boilerplate heuristics, applied in order:

1. **Structural strip**: all content inside ``<nav>/<header>/
   <footer>/<aside>`` subtrees (depth-counted, so nesting and
   unclosed containers degrade safely), plus raw-text elements
   (``script``/``style``/``title``/…) and comments.
2. **Link density**: a flushed block is dropped when anchor text makes
   up more than ``LINK_DENSITY_MAX`` of its characters AND the block
   is shorter than ``LINK_DENSITY_MIN_CHARS`` — the Boilerpipe rule
   that kills tag clouds / "related links" rows without touching long
   paragraphs that merely contain links.
3. **Repeated-line frequency per doc** (the north rule's repeated-line
   heuristic, shared with the PDF path's normalization): blocks whose
   normalized form (``boilerplate.norm_key`` — lowercase, digits
   folded, whitespace collapsed) occurs at least ``REPEAT_MIN`` times
   in one document are boilerplate (inter-article ad slots, template
   chrome) and every occurrence is dropped.

Entities: ``&name;`` for a documented named subset, ``&#NN;`` /
``&#xHH;`` numeric forms (invalid / surrogate / out-of-range →
U+FFFD). A form without the terminating semicolon is literal text —
deterministic and mirrored by the fixture oracle.

Charset: ``<meta charset=…>`` sniffed from the first 1024 bytes
(utf-8 / latin-1 / cp1252 aliases); default utf-8; undecodable bytes
replace (poison-free degradation — a mojibake span beats a failed
task).
"""

from __future__ import annotations

import re
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .boilerplate import norm_key

# --------------------------------------------------------------------------
# deterministic rule constants (the fixture oracle mirrors behavior at
# the geometry level, not by importing these)
# --------------------------------------------------------------------------

LINK_DENSITY_MAX = 0.66
LINK_DENSITY_MIN_CHARS = 80
REPEAT_MIN = 3

BLOCK_TAGS = frozenset(
    """p div h1 h2 h3 h4 h5 h6 li ul ol dl dt dd table thead tbody tfoot tr td th
    blockquote pre article section main figure figcaption form fieldset hr address
    details summary center caption""".split()
)
STRIP_CONTAINERS = frozenset(("nav", "header", "footer", "aside"))
# elements whose src attribute is a media reference → media spans
# (the interleaved corpus's media_ref passthrough; video/audio may
# carry src directly or via child <source> elements)
MEDIA_SRC_TAGS = frozenset(("img", "video", "audio", "source", "embed"))
# RCDATA / raw-text / non-content elements: skip wholesale to the
# matching close tag (first close wins, per the HTML5 tokenizer)
RAW_TEXT = frozenset(("script", "style", "noscript", "template", "textarea", "title", "svg", "math"))
# NB: no void-element table is needed — void elements simply never
# produce close tags, and the depth counters only track <a> and the
# strip containers, none of which are void.

_NAMED_ENTITIES = {
    "amp": "&",
    "lt": "<",
    "gt": ">",
    "quot": '"',
    "apos": "'",
    "nbsp": "\xa0",
    "copy": "\xa9",
    "reg": "\xae",
    "trade": "™",
    "sect": "\xa7",
    "para": "\xb6",
    "middot": "\xb7",
    "laquo": "\xab",
    "raquo": "\xbb",
    "mdash": "—",
    "ndash": "–",
    "hellip": "…",
    "lsquo": "‘",
    "rsquo": "’",
    "ldquo": "“",
    "rdquo": "”",
    "bull": "•",
    "dagger": "†",
    "deg": "\xb0",
    "plusmn": "\xb1",
    "frac12": "\xbd",
    "times": "\xd7",
    "divide": "\xf7",
    "eacute": "\xe9",
    "egrave": "\xe8",
    "agrave": "\xe0",
    "ccedil": "\xe7",
    "ntilde": "\xf1",
    "uuml": "\xfc",
    "ouml": "\xf6",
    "auml": "\xe4",
    "szlig": "\xdf",
    "euro": "€",
    "pound": "\xa3",
    "cent": "\xa2",
    "yen": "\xa5",
}

_ENTITY_RE = re.compile(r"&(#[xX][0-9a-fA-F]{1,8}|#[0-9]{1,9}|[a-zA-Z][a-zA-Z0-9]{1,31});")


def _entity_sub(m: re.Match) -> str:
    body = m.group(1)
    if body[0] == "#":
        try:
            cp = int(body[2:], 16) if body[1] in "xX" else int(body[1:])
        except ValueError:
            return "�"
        if cp == 0 or cp > 0x10FFFF or 0xD800 <= cp <= 0xDFFF:
            return "�"
        return chr(cp)
    return _NAMED_ENTITIES.get(body, m.group(0))


def decode_entities(s: str) -> str:
    if "&" not in s:
        return s
    return _ENTITY_RE.sub(_entity_sub, s)


# --------------------------------------------------------------------------
# charset sniff
# --------------------------------------------------------------------------

_CHARSET_RE = re.compile(rb"charset\s*=\s*[\"']?([A-Za-z0-9_\-]+)", re.I)
_CHARSETS = {
    "utf-8": "utf-8",
    "utf8": "utf-8",
    "latin-1": "cp1252",
    "latin1": "cp1252",
    "iso-8859-1": "cp1252",
    "windows-1252": "cp1252",
    "cp1252": "cp1252",
    "us-ascii": "utf-8",
}


def detect_charset(buf: bytes) -> str:
    m = _CHARSET_RE.search(buf[:1024])
    if m:
        return _CHARSETS.get(m.group(1).decode("ascii", "replace").lower(), "utf-8")
    return "utf-8"


# --------------------------------------------------------------------------
# tag-level scanner pieces
# --------------------------------------------------------------------------

_TAG_NAME_RE = re.compile(rb"[a-zA-Z][a-zA-Z0-9\-]*")
# one attribute: name, optional = value (double-quoted / single-quoted /
# unquoted). Quoted values may contain '<' and '>' — this is why tag
# ends cannot be found with a bare find(b'>'). An unterminated quoted
# value runs to EOF, so the tag is cut by EOF and dropped (HTML5).
_ATTR_RE = re.compile(
    rb"\s*([^\s=/>]+)(?:\s*=\s*(\"[^\"]*+\"?|'[^']*+'?|[^\s>]*))?"
)
_NONWS_RE = re.compile(rb"[^ \t\r\n\f]")

# The format prefix table, read by both classifiers below: the kernel's
# per-document ``sniff_format`` and the plan's ``format_expr`` over the
# 5-byte prefix (the ``magic`` column). The PDF header is matched
# exactly; HTML prefixes match the ASCII-lower-cased prefix, so any
# doctype casing is accepted. A BOM or whitespace before the prefix
# matches neither.
PDF_MAGIC = b"%PDF-"
HTML_PREFIXES = (b"<!doc", b"<html")


def sniff_format(content: bytes | None) -> str | None:
    """'pdf' | 'html' | None from the first 5 bytes."""
    if not content:
        return None
    head = bytes(content[:5])
    if head == PDF_MAGIC:
        return "pdf"
    if head.lower() in HTML_PREFIXES:
        return "html"
    return None


def is_pdf_expr(prefix: Column) -> Column:
    """``sniff_format == 'pdf'`` over a 5-byte binary prefix column. A
    plain equality, so parquet scans push it down."""
    return prefix == F.lit(PDF_MAGIC)


def format_expr(prefix: Column) -> Column:
    """Column twin of :func:`sniff_format` over a 5-byte binary prefix
    column: 'pdf', 'html' or NULL (a NULL prefix included)."""
    html = [p.decode("ascii") for p in HTML_PREFIXES]
    return F.when(is_pdf_expr(prefix), "pdf").when(
        F.lower(prefix.cast("string")).isin(html), "html"
    )


def _parse_tag(
    buf: bytes, i: int, charset: str
) -> tuple[str, dict[str, str], bool, int] | None:
    """Parse an open tag at ``i`` (buf[i] == '<', buf[i+1] is a
    letter). Returns (name, attrs, self_closing, end_index_after_gt),
    or None for a tag cut off at EOF (no closing '>'), which HTML5
    drops. Attribute VALUES decode with the document charset (they
    carry user content — meta descriptions, media refs); names are
    ASCII by construction."""
    m = _TAG_NAME_RE.match(buf, i + 1)
    name = m.group(0).decode("ascii").lower()
    p = m.end()
    attrs: dict[str, str] = {}
    n = len(buf)
    # fast path: the common bare tag (<p>, <b>, </em>-mates…) ends
    # immediately after the name — skip the attribute machinery
    if p < n and buf[p] == 0x3E:
        return name, attrs, False, p + 1
    self_closing = False
    while p < n:
        c = buf[p]
        if c in b" \t\r\n\f":
            p += 1
            continue
        if c == 0x3E:  # '>'
            p += 1
            return name, attrs, self_closing, p
        if c == 0x2F:  # '/'
            if p + 1 < n and buf[p + 1] == 0x3E:
                return name, attrs, True, p + 2
            p += 1
            continue
        am = _ATTR_RE.match(buf, p)
        if not am or am.end() == p:
            p += 1
            continue
        aname = am.group(1).decode("ascii", "replace").lower()
        aval = am.group(2)
        if aval is None:
            attrs[aname] = ""
        else:
            if aval[:1] in (b'"', b"'"):
                aval = aval[1:-1]
            attrs[aname] = aval.decode(charset, "replace")
        p = am.end()
    return None


# event kinds yielded by _walk
_TEXT, _CLOSE, _OPEN = 0, 1, 2
# the first ``</name`` + whitespace or '>' ends a raw-text body
# (case-insensitive); compiled once per element, not per tag
_RAW_CLOSE = {t: re.compile(rb"</" + t.encode() + rb"[\s>]", re.I) for t in RAW_TEXT}


def _walk(buf: bytes, charset: str) -> Iterator[tuple]:
    """The one HTML5 tag walk, read by ``extract_html`` and
    ``parse_html_meta``. Yields, in document order:

    - ``(_TEXT, start, end)``: the text range ``buf[start:end]``; a
      ``<`` that opens no tag is a one-byte text range;
    - ``(_CLOSE, name)``: a closing tag;
    - ``(_OPEN, name, attrs, self_closing, lt, after, body_end)``: an
      open tag spanning ``buf[lt:after]``. For a raw-text element that
      is not self-closing, ``body_end`` is where its body ends (its
      first close tag, or EOF) and the walk resumes past that close
      tag; otherwise ``body_end`` is None.

    Comments (to ``-->``), CDATA (to ``]]>``), declarations, PIs and
    ``</`` bogus comments (each to the first ``>``) yield nothing; an
    unterminated one runs to EOF. A tag cut off at EOF, open or
    closing, ends the walk with no event (HTML5 eof-in-tag); a ``<`` or
    ``</`` at EOF is text."""
    n = len(buf)
    i = 0
    while i < n:
        lt = buf.find(b"<", i)
        if lt < 0:
            yield _TEXT, i, n
            return
        if lt > i:
            yield _TEXT, i, lt
        if lt + 1 >= n or (lt + 2 >= n and buf[lt + 1] == 0x2F):
            # '<' or '</' at EOF opens no tag: text (HTML5)
            yield _TEXT, lt, n
            return
        c = buf[lt + 1]
        if c == 0x21:  # '!'
            if buf.startswith(b"<!--", lt):
                end = buf.find(b"-->", lt + 4)
                i = n if end < 0 else end + 3
            elif buf.startswith(b"<![CDATA[", lt):
                end = buf.find(b"]]>", lt + 9)
                i = n if end < 0 else end + 3
            else:  # doctype / other declaration
                end = buf.find(b">", lt + 2)
                i = n if end < 0 else end + 1
            continue
        if c == 0x3F or c == 0x2F:  # '?' PI, '/' closing tag
            m = _TAG_NAME_RE.match(buf, lt + 2) if c == 0x2F else None
            # a PI, or '</' followed by a non-letter (a bogus comment
            # per HTML5), ends at the first '>'
            end = buf.find(b">", lt + 2 if m is None else m.end())
            if end < 0:
                return
            i = end + 1
            if m is not None:
                yield _CLOSE, m.group(0).decode("ascii").lower()
            continue
        if not (0x41 <= c <= 0x5A or 0x61 <= c <= 0x7A):
            # '<' not opening a tag is literal text (HTML5 tokenizer)
            yield _TEXT, lt, lt + 1
            i = lt + 1
            continue
        tag = _parse_tag(buf, lt, charset)
        if tag is None:
            return
        name, attrs, self_closing, after = tag
        i = after
        body_end = None
        if name in RAW_TEXT and not self_closing:
            # first matching close tag wins; unclosed → EOF
            m = _RAW_CLOSE[name].search(buf, after)
            if m is None:
                body_end = i = n
            else:
                body_end = m.start()
                end = buf.find(b">", body_end + 2)
                i = n if end < 0 else end + 1
        yield _OPEN, name, attrs, self_closing, lt, after, body_end


# --------------------------------------------------------------------------
# main extraction
# --------------------------------------------------------------------------


def extract_html(
    content: bytes | None,
) -> tuple[list[tuple[int, int, str]], list[tuple[str, int]]]:
    """One HTML document → (lines, media).

    ``lines`` is the PDF-path-compatible ``(page, offset, text)`` list
    (page fixed to 0 — HTML has no page concept), already fully
    boilerplate-stripped; ``media`` is ``(media_ref, offset)`` for the
    document's main-content ``<img src>`` elements. Both orderings are
    byte-offset-derived.
    """
    if not content:
        return [], []
    buf = bytes(content)
    charset = detect_charset(buf)

    strip_depth = 0  # nav/header/footer/aside nesting
    anchor_depth = 0

    # current block accumulator
    parts: list[str] = []  # decoded text fragments
    link_parts: list[str] = []  # the subset emitted while inside <a>
    first_off = -1

    raw_blocks: list[tuple[int, str, int, int]] = []  # (off, text, link_chars, total_chars)
    media: list[tuple[str, int]] = []

    def flush() -> None:
        nonlocal parts, link_parts, first_off
        if parts:
            text = " ".join("".join(parts).split())
            if text and first_off >= 0:
                total = len(text)
                link = len(" ".join("".join(link_parts).split()))
                raw_blocks.append((first_off, text, link, total))
        parts = []
        link_parts = []
        first_off = -1

    def add_text(seg: bytes, off: int) -> None:
        nonlocal first_off
        if strip_depth > 0:
            return
        m = _NONWS_RE.search(seg)
        if m is None:
            # pure whitespace still separates words within a block
            if parts:
                parts.append(" ")
            return
        if first_off < 0:
            first_off = off + m.start()
        decoded = decode_entities(seg.decode(charset, "replace"))
        parts.append(decoded)
        if anchor_depth > 0:
            link_parts.append(decoded)

    for ev in _walk(buf, charset):
        if ev[0] == _TEXT:
            add_text(buf[ev[1] : ev[2]], ev[1])
            continue
        if ev[0] == _CLOSE:
            name = ev[1]
            if name in BLOCK_TAGS or name in STRIP_CONTAINERS:
                flush()
            if name in STRIP_CONTAINERS:
                if strip_depth > 0:
                    strip_depth -= 1
            elif name == "a":
                if anchor_depth > 0:
                    anchor_depth -= 1
            continue
        _kind, name, attrs, self_closing, lt, _after, body_end = ev
        if body_end is not None:  # raw-text body: skipped content
            continue

        if name in BLOCK_TAGS or name in STRIP_CONTAINERS or name == "br":
            flush()

        if name in STRIP_CONTAINERS:
            if not self_closing:
                strip_depth += 1
        elif name == "a":
            if not self_closing:
                anchor_depth += 1
        elif name in MEDIA_SRC_TAGS:
            if strip_depth == 0:
                src = attrs.get("src")
                if src:
                    media.append((decode_entities(src), lt))

    flush()

    # heuristic 2: link density
    kept = [
        (off, text)
        for off, text, link, total in raw_blocks
        if not (total < LINK_DENSITY_MIN_CHARS and total > 0 and link / total > LINK_DENSITY_MAX)
    ]

    # heuristic 3: repeated-line frequency per document (norm_key is
    # the same normalization the PDF boilerplate stage uses)
    counts: dict[str, int] = {}
    keys = [norm_key(text) for _off, text in kept]
    for k in keys:
        counts[k] = counts.get(k, 0) + 1
    lines = [
        (0, off, text)
        for (off, text), k in zip(kept, keys)
        if counts[k] < REPEAT_MIN
    ]
    return lines, media


# --------------------------------------------------------------------------
# <head> metadata scan — the HTML analog of the PDF /Info dict scan
# (operators/metadata.py; reference app/services/pdf_processor.py:447-494
# reads pypdf's reader.metadata). Reads the extractor's tag walk
# (``_walk``) from the top of the document through </head> (or the
# first <body>), collecting the first <title> body and the standard
# <meta name=…/property=…> content values — so quoted '>'s, entities
# in attribute values, and comment/CDATA/PI/script decoys behave
# identically in both consumers.
# --------------------------------------------------------------------------

HTML_META = T.StructType(
    [
        T.StructField("title", T.StringType(), True),
        T.StructField("author", T.StringType(), True),
        T.StructField("description", T.StringType(), True),
        T.StructField("og_title", T.StringType(), True),
        T.StructField("charset", T.StringType(), True),
        # <html lang=…> — a language-ID prior for the text-quality
        # stage (documents carry their declared language; the n-gram
        # guesser stays the content-derived check)
        T.StructField("lang", T.StringType(), True),
    ]
)

_META_KEYS = {"author": "author", "description": "description"}
_META_PROPS = {"og:title": "og_title"}


def parse_html_meta(content: bytes | None) -> dict[str, str | None]:
    out: dict[str, str | None] = {
        "title": None,
        "author": None,
        "description": None,
        "og_title": None,
        "charset": None,
        "lang": None,
    }
    if not content or sniff_format(content) != "html":
        return out
    buf = bytes(content)
    charset = detect_charset(buf)
    out["charset"] = charset

    def clean(s: str) -> str:
        return " ".join(decode_entities(s).split())

    for ev in _walk(buf, charset):
        if ev[0] != _OPEN:
            if ev[0] == _CLOSE and ev[1] == "head":
                break
            continue
        _kind, name, attrs, _self_closing, _lt, after, body_end = ev
        if name == "html" and out["lang"] is None and attrs.get("lang"):
            out["lang"] = attrs["lang"]
        if name == "body":
            break
        if name == "title" and body_end is not None and out["title"] is None:
            out["title"] = clean(buf[after:body_end].decode(charset, "replace"))
        elif name == "meta":
            key = _META_KEYS.get(attrs.get("name", "").lower()) or _META_PROPS.get(
                attrs.get("property", "").lower()
            )
            if key and out[key] is None and "content" in attrs:
                out[key] = clean(attrs["content"])
    return out


@F.pandas_udf(HTML_META)
def html_meta_udf(content: pd.Series) -> pd.DataFrame:
    rows = [parse_html_meta(None if c is None else bytes(c)) for c in content]
    return pd.DataFrame(rows, columns=[f.name for f in HTML_META.fields])


def scan_html_meta(raw: DataFrame) -> DataFrame:
    """documents_raw(doc_id, content, …) → (doc_id, meta struct). The
    scan reads only (doc_id, content) — column pruning keeps any other
    width out of the exchange-free map plan."""
    return raw.select("doc_id", html_meta_udf("content").alias("meta"))
