"""Independent reference implementation of the HTML main-content
extraction SEMANTICS on top of stdlib ``html.parser.HTMLParser`` — a
completely different tokenizer (CPython's own, with its own attribute,
entity, comment, and raw-text handling) driving the same block model
and boilerplate heuristics. The differential test compares block TEXT
sequences and media-ref sequences (byte offsets are pinned separately
by the fixture geometry mirror, which HTMLParser cannot reproduce —
it reports line/column of decoded text, not byte positions).

``naive_head`` is the same kind of reference for the ``<head>``
metadata scan (``parse_html_meta``): the stdlib tokenizer finds the
tags, this module keeps the first title / meta / lang values.

Deliberate scope notes (kept in sync with operators/html.py):
- charset: the caller decodes bytes before feeding this parser.
- convert_charrefs=True → entities arrive decoded in handle_data,
  matching decode_entities for the supported subset.
- a tag cut off at EOF is dropped (HTML5 eof-in-tag); the stdlib 3.11
  parser would emit it as text, so ``_close`` discards the unparsed
  ``<tag`` / ``</tag`` remainder before ``close()``.
- raw-text elements: stdlib 3.11 reads only script/style as raw text;
  the head reader switches the parser to raw-text mode for every
  ``_RAW_SKIP`` element so a ``<title>`` body is read like RCDATA. Its
  close tag is ``</title>`` with optional whitespace before ``>``
  (``</title x>`` does not close it here but does in the engine).
"""

from __future__ import annotations

import html
import re
from html.parser import HTMLParser

from insurance_pdf_extractor_spark.operators.html import (
    BLOCK_TAGS,
    LINK_DENSITY_MAX,
    LINK_DENSITY_MIN_CHARS,
    MEDIA_SRC_TAGS,
    REPEAT_MIN,
    STRIP_CONTAINERS,
    detect_charset,
    sniff_format,
)
from insurance_pdf_extractor_spark.operators.boilerplate import norm_key

_RAW_SKIP = {"script", "style", "noscript", "template", "textarea", "title", "svg", "math"}
_CUT_TAG = re.compile(r"</?[a-zA-Z]")


def _close(p: HTMLParser) -> None:
    """``p.close()``, dropping a tag cut off at EOF: after ``feed`` the
    parser holds back an incomplete tag as its unparsed ``rawdata``
    (outside raw-text mode, where that remainder is element body)."""
    if not p.cdata_elem and _CUT_TAG.match(p.rawdata):
        p.rawdata = ""
    p.close()


class _Ref(HTMLParser):
    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.strip = 0
        self.anchor = 0
        self.raw = 0  # inside a raw-text element we must ignore
        self.parts: list[str] = []
        self.link_parts: list[str] = []
        self.blocks: list[tuple[str, int, int]] = []  # (text, link, total)
        self.media: list[str] = []

    def _flush(self) -> None:
        text = " ".join("".join(self.parts).split())
        if text:
            link = len(" ".join("".join(self.link_parts).split()))
            self.blocks.append((text, link, len(text)))
        self.parts = []
        self.link_parts = []

    # -- events ---------------------------------------------------------
    def handle_starttag(self, tag, attrs):
        if self.raw:
            return
        if tag in _RAW_SKIP:
            self.raw += 1
            return
        if tag in BLOCK_TAGS or tag in STRIP_CONTAINERS or tag == "br":
            self._flush()
        if tag in STRIP_CONTAINERS:
            self.strip += 1
        elif tag == "a":
            self.anchor += 1
        elif tag in MEDIA_SRC_TAGS and self.strip == 0:
            src = dict(attrs).get("src")
            if src:
                self.media.append(src)

    def handle_startendtag(self, tag, attrs):
        if self.raw:
            return
        if tag in BLOCK_TAGS or tag in STRIP_CONTAINERS or tag == "br":
            self._flush()
        if tag in MEDIA_SRC_TAGS and self.strip == 0:
            src = dict(attrs).get("src")
            if src:
                self.media.append(src)

    def handle_endtag(self, tag):
        if self.raw:
            if tag in _RAW_SKIP:
                self.raw -= 1
            return
        if tag in BLOCK_TAGS or tag in STRIP_CONTAINERS:
            self._flush()
        if tag in STRIP_CONTAINERS:
            if self.strip > 0:
                self.strip -= 1
        elif tag == "a":
            if self.anchor > 0:
                self.anchor -= 1

    def handle_data(self, data):
        if self.raw or self.strip:
            return
        self.parts.append(data)
        if self.anchor:
            self.link_parts.append(data)


def naive_extract(content: bytes) -> tuple[list[str], list[str]]:
    """(block texts, media refs) after the three boilerplate
    heuristics — the reference result the engine must match."""
    p = _Ref()
    p.feed(content.decode(detect_charset(content), "replace"))
    _close(p)
    p._flush()
    kept = [
        t
        for t, link, total in p.blocks
        if not (total < LINK_DENSITY_MIN_CHARS and total > 0 and link / total > LINK_DENSITY_MAX)
    ]
    keys = [norm_key(t) for t in kept]
    counts: dict[str, int] = {}
    for k in keys:
        counts[k] = counts.get(k, 0) + 1
    return [t for t, k in zip(kept, keys) if counts[k] < REPEAT_MIN], p.media


def _clean(s: str) -> str:
    return " ".join(s.split())


class _HeadRef(HTMLParser):
    """First <title> body, first author / description / og:title meta
    content and first ``<html lang>``; nothing after ``</head>`` or
    ``<body>`` counts."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.meta: dict[str, str | None] = dict.fromkeys(
            ("title", "author", "description", "og_title", "lang")
        )
        self.done = False
        self.title: list[str] | None = None  # body parts of the first <title>

    def _tag(self, tag, attrs) -> None:
        a = dict(attrs)
        if tag == "body":
            self.done = True
        elif tag == "html" and self.meta["lang"] is None and a.get("lang"):
            self.meta["lang"] = a["lang"]
        elif tag == "meta":
            key = {"author": "author", "description": "description"}.get(
                (a.get("name") or "").lower()
            ) or {"og:title": "og_title"}.get((a.get("property") or "").lower())
            if key and self.meta[key] is None and "content" in a:
                self.meta[key] = _clean(a["content"] or "")

    def handle_starttag(self, tag, attrs):
        if self.done:
            return
        self._tag(tag, attrs)
        if not self.done and tag in _RAW_SKIP:
            self.set_cdata_mode(tag)
            if tag == "title" and self.meta["title"] is None:
                self.title = []

    def handle_startendtag(self, tag, attrs):
        if not self.done:
            self._tag(tag, attrs)

    def handle_endtag(self, tag):
        if tag == "title" and self.title is not None:
            self._end_title()
        elif tag == "head":
            self.done = True

    def handle_data(self, data):
        if self.title is not None:
            self.title.append(data)

    def _end_title(self) -> None:
        self.meta["title"] = _clean(html.unescape("".join(self.title)))
        self.title = None


def naive_head(content: bytes) -> dict[str, str | None]:
    """The ``parse_html_meta`` record, read with the stdlib tokenizer."""
    out = dict.fromkeys(("title", "author", "description", "og_title", "charset", "lang"))
    if sniff_format(content) != "html":
        return out
    charset = detect_charset(content)
    p = _HeadRef()
    p.feed(content.decode(charset, "replace"))
    _close(p)
    if p.title is not None:  # unclosed title: its body runs to EOF
        p.title.append(p.rawdata)
        p._end_title()
    return {**out, **p.meta, "charset": charset}
