"""Stage 1 — batched byte-stream tokenization of PDF-style content
streams into positioned text runs.

Replaces the reference's ``pypdf.PdfReader(...).pages[i].extract_text()``
(app/services/pdf_processor.py:364-375) with a from-scratch reader of
the text-object operator subset (PDF 32000-1:2008 §9.4): ``BT/ET``
blocks, ``Tf`` font selection, ``Td/TD/Tm/T*`` positioning, and
``Tj/TJ/'/\"`` string-showing operators, plus ``%%PAGE n`` page markers.

Two tiers with one semantics: a block-level fast path (one compiled
match per simple text block) and a token-level interpreter for every
other arrangement. The interpreter reads nested, unterminated and
backslash-EOL literal strings itself (``_read_string``), so no input
re-parses the whole document. The straight-line per-character parser
in tests/naive_tokenize.py is the differential oracle both tiers are
fuzzed against; it is not on any production path.

Every run records the byte offset of its string object in the source —
offsets are the authoritative, data-derived ordering key, so results
are invariant across partitioning/parallelism (north rule).

Runs inside the fused Arrow kernel (operators/assemble.py
``extract_spans_udf``) and the shard path's ``shard_lines_udf`` — no
per-row Python at the Spark API level.
"""

from __future__ import annotations

import re

from .filters import decode_or_poison

_STR_ESCAPES = {"n": "\n", "r": "\r", "t": "\t", "b": "\b", "f": "\f", "(": "(", ")": ")", "\\": "\\"}

# flat literal string (no nesting), unrolled so every quantifier is
# possessive: a run of plain chars, then (escape, plain run)*. '.' is
# not DOTALL, so a backslash-EOL string is not flat either — it reaches
# _read_string like a nested one.
_FLAT = r"\([^()\\]*+(?:\\.[^()\\]*+)*+\)"

# master token pattern for finditer: whitespace is NOT an alternative —
# the regex engine skips it during search at C speed, so the Python
# loop iterates once per MEANINGFUL token (strings, names, numbers,
# operators), not per character or whitespace run. A '(' that the flat
# string alternative cannot swallow (nested, unterminated or
# backslash-EOL string) surfaces as the lone '\(' alternative, and the
# interpreter reads that string with _read_string in place.
_MASTER = re.compile(
    rf"""
      {_FLAT}                            # flat literal string
    | [()]                               # other string open (read in place), or stray closer
    | %[^\r\n]*                          # comment (incl. %%PAGE markers)
    | /[^ \t\r\n\f\x00()<>\[\]{{}}/%]*   # name
    | [\[\]]                             # array delimiters
    | <[^<>]*>                           # hex string (§7.3.4.3; cannot match the << dict open)
    | [<>{{}}]                           # other delimiters (consumed, never operands)
    | [^ \t\r\n\f\x00()<>\[\]{{}}/%]+    # number or operator keyword
    """,
    re.X,
)
# DOTALL: a backslash escapes ANY next byte, an EOL byte included (the
# oracle keeps that byte); flat strings never hold a backslash-EOL, so
# this only matters for _read_string bodies
_ESC = re.compile(r"\\([0-7]{1,3}|.)", re.S)
# ASCII number chars ONLY (PDF numbers are ASCII, §7.3.3). NOT \d and
# NOT str.isdigit(): Python's \d skips latin-1 superscripts ¹²³ while
# isdigit() accepts them, and the tiers must split a glued token like
# '1\xb2' at the SAME boundary (verified divergence before this class
# was pinned down).
_NUM_ONLY = re.compile(r"[+\-.0-9]+")


def _unescape(m: re.Match) -> str:
    g = m.group(1)
    if g[0] in "01234567":
        return chr(int(g, 8) & 0xFF)
    return _STR_ESCAPES.get(g, g)


def _decode(s: str) -> str:
    """Charset interpretation of a PDF string's BYTES (``s`` is their
    latin-1 image, escapes already applied): §7.9.2.2 text strings —
    UTF-16BE with the FE FF BOM (how real writers store non-ASCII
    /Info values and ToUnicode output; pypdf decodes these
    transparently), PDF 2.0's UTF-8 with the EF BB BF BOM — then the
    bare-UTF-8 heuristic, else the bytes stand as latin-1. Shared by
    ALL tokenizer tiers and the metadata scan (tier equivalence)."""
    if s.isascii():  # ASCII == UTF-8 == latin-1; skip the round trip
        return s
    if s.startswith("\xfe\xff"):
        try:
            return s.encode("latin-1")[2:].decode("utf-16-be")
        except (UnicodeDecodeError, UnicodeEncodeError):
            return s
    if s.startswith("\xef\xbb\xbf"):
        try:
            return s.encode("latin-1")[3:].decode("utf-8")
        except (UnicodeDecodeError, UnicodeEncodeError):
            return s
    try:
        return s.encode("latin-1").decode("utf-8")
    except (UnicodeDecodeError, UnicodeEncodeError):
        return s


# strict float grammar — float() can never raise on a match. A loose
# [\d.]+ would match '12.5.6', which the interpreter (and the oracle)
# treat as an unparseable number token; the block path must NOT match
# it (it falls back to the interpreter for the whole doc instead of
# crashing the task on ValueError). Quantifiers are POSSESSIVE so that
# inside an unbounded loop (the TJ array below) a digit run has exactly
# ONE parse — with backtracking quantifiers a truncated '[111...'
# explores exponentially many NUM splits before failing (reproduced:
# 40 digits hung the scanner; same ReDoS class fixed in _INFO_OBJ).
_NUM = r"[+-]?+(?:\d++\.?+\d*+|\.\d++)"
# inter-token whitespace EXACTLY as the interpreter's master pattern —
# Python's \s additionally matches \x0b \x1c-\x1f \x85 \xa0, which are
# NOT whitespace to the interpreter, and a fast-path match across
# them would silently diverge from the interpreter (tier equivalence).
_SP = r"[ \t\r\n\f\x00]"
# one whole simple text block per C-level match: optional Tf, one
# Td/Tm positioning, one Tj/TJ showing. This is the dominant shape in
# rendered insurance documents; anything else falls back to the
# token-level interpreter for the whole document.
_BLOCK_BODY = rf"""
    BT{_SP}+
    (?: /[^ \t\r\n\f\x00()<>\[\]{{}}/%]*{_SP}+{_NUM}{_SP}+Tf{_SP}+ )?
    (?: ({_NUM}){_SP}+({_NUM}){_SP}+Td
      | {_NUM}{_SP}+{_NUM}{_SP}+{_NUM}{_SP}+{_NUM}{_SP}+({_NUM}){_SP}+({_NUM}){_SP}+Tm
    ){_SP}+
    (?: ({_FLAT}){_SP}+Tj
      | \[((?:{_SP}++|{_NUM}|{_FLAT})*+)\]{_SP}+TJ
    ){_SP}+
    ET
    """
# fused scanner step: leading whitespace + (comment | text block) in ONE
# compiled match — the previous skip-ws-then-dispatch loop paid two to
# three C-level .match calls per block, and .match call count was ~70%
# of fast-path time (profiled). Group 1 = comment; groups 2-7 = the
# block-body groups shifted by one.
_STEP = re.compile(rf"{_SP}*(?:(%[^\r\n]*)|{_BLOCK_BODY})", re.X)
_FLAT_ALL = re.compile(_FLAT)
_SKIP_WS = re.compile(r"[ \t\r\n\f\x00]*")

# A simple indirect object holding a dictionary of names/strings/numbers
# (the /Info metadata shape). The fast path may SKIP it wholesale: such
# a dict contains only operands — the interpreter pushes them and
# clears at the 'endobj' keyword, emitting nothing and touching
# no text state, so skipping is semantics-preserving. Anything fancier
# (nested strings, arrays, streams) fails this match and falls back to
# the interpreter for the whole doc, as usual.
#
# Every quantifier is POSSESSIVE (*+ / ++, Python 3.11): the loop's
# alternatives have disjoint first characters, so on a non-matching
# (truncated/hostile) object the engine fails in linear time instead of
# exploring exponentially many ways to split a digit run between
# adjacent number tokens — a '1 0 obj<<' + '1'*40 prefix measured
# MINUTES with backtracking quantifiers. The number alternative here is
# a loose [\d.+-] run (not the strict float grammar): for skipping, any
# operand-shaped token is dead weight either way, and a char-class run
# is atomic by construction.
_INFO_OBJ = re.compile(
    rf"\d++{_SP}++\d++{_SP}++obj{_SP}*+<<"
    rf"(?:{_SP}++|/[^ \t\r\n\f\x00()<>\[\]{{}}/%]*+|{_FLAT}|[+-]?+[\d.]++)*+"
    rf">>{_SP}*+endobj"
)


def _unescape_raw(s: str) -> str:
    """Escape resolution only (latin-1 byte image preserved) — for
    callers that apply their own charset rule, e.g. the metadata
    scan's PDFDocEncoding path."""
    if "\\" in s:
        s = _ESC.sub(_unescape, s)
    return s


def _unescape_str(s: str) -> str:
    return _decode(_unescape_raw(s))


# a literal string's body up to its next unescaped paren: only '(' and
# ')' change the nesting depth, and an escape consumes one following
# byte of any kind (DOTALL). Possessive, so the scan is linear.
_STR_RUN = re.compile(r"(?:[^()\\]++|\\.)*+", re.S)


def _read_string(text: str, start: int) -> tuple[int, str]:
    """Literal string whose '(' is at ``start``, with balanced nested
    parens (§7.3.4.2): returns (end, raw). ``end`` is just past the
    closing ')'; an unterminated string consumes the rest of the text
    (end = len(text)). ``raw`` is the body's latin-1 byte image with
    escapes applied and inner parens kept — the flat-string rule, so
    the charset decode stays at show time."""
    n = len(text)
    depth = 0
    j = start
    while j < n:
        c = text[j]
        if c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
            if depth == 0:
                return j + 1, _unescape_raw(text[start + 1 : j])
        else:  # a backslash as the last byte: kept literally
            break
        j = _STR_RUN.match(text, j + 1).end()
    return n, _unescape_raw(text[start + 1 :])


_HEX_ONLY = re.compile(r"[0-9a-fA-F]+")

# inline images (§8.9.7): BI <params> ID <binary> EI. The binary data
# is NOT content-stream tokens — without an explicit skip it tokenizes
# as garbage (spurious runs, even page-state changes if the bytes
# contain a %%PAGE-shaped comment). ID must be a real token (preceded
# by ws/delimiter) and EI must be ws-preceded and ws/delimiter-followed
# — the same heuristic pypdf uses when no /L length is present.
_ID_TOKEN = re.compile(r"(?:^|[ \t\r\n\f\x00()<>\[\]{}/%])ID[ \t\r\n\f\x00]")
_EI_END = re.compile(r"[ \t\r\n\f\x00]EI(?=[ \t\r\n\f\x00()<>\[\]{}/%]|\Z)")


def _skip_inline_image(text: str, pos: int) -> int:
    """Position just past the EI that terminates the inline image whose
    BI token ended at ``pos``. Missing ID/EI (truncation dirt) consumes
    the rest of the document — strictly better than tokenizing image
    bytes as operators. ALL tiers share this exact rule."""
    idm = _ID_TOKEN.search(text, pos)
    start = idm.end() if idm is not None else pos
    m = _EI_END.search(text, start)
    return m.end() if m is not None else len(text)


def _raw_hex_string(body: str) -> str:
    """§7.3.4.3 hex string body (between ``<`` and ``>``) → latin-1
    byte image: whitespace ignored, an odd trailing digit padded with
    0. Non-hex garbage is ignored (dirty-input tolerance) — ALL tiers
    must share this exact rule or the differential fuzz diverges."""
    hx = "".join(_HEX_ONLY.findall(body))
    if len(hx) % 2:
        hx += "0"
    return bytes.fromhex(hx).decode("latin-1")


def _show_decode(raw: str, cur_font: str | None, fonts) -> str:
    """Show-time decode shared by the interpreter and the oracle:
    the current font's byte→text map when it has one (operators/
    fonts.py), else the charset heuristic ``_decode``. With
    ``fonts=None`` (every font-free document) this is exactly the
    historical per-string ``_decode`` — byte-identical behavior,
    deferred from operand-push time to show time."""
    if fonts is not None and cur_font is not None:
        fm = fonts.get(cur_font)
        if fm is not None:
            return fm.decode(raw)
    return _decode(raw)


def tokenize_content(content: bytes) -> list[tuple[int, float, float, int, str]]:
    """Parse one content stream. Returns runs as
    (page, x, y, byte_offset, text) tuples.

    Two-tier scanner: a block-level fast path matches one whole
    ``BT … Tf? (Td|Tm) (Tj|TJ) ET`` text block per compiled-regex
    iteration (the dominant shape of rendered documents), so the Python
    loop runs per text RUN rather than per token or character. Any
    content the block pattern cannot express (multiple shows per block,
    nested strings, exotic operators) falls back to the token-level
    interpreter for the whole document — semantics are
    differential-fuzzed as identical.
    """
    if not content:
        return []
    orig = content
    # real-world PDFs ship content streams filtered (FlateDecode et al.)
    # and, since PDF 1.5, non-stream objects packed in /Type /ObjStm
    # containers; rewrite both to the plain buffer first. A
    # decompression bomb poisons the document text-free (b"").
    content = decode_or_poison(content)
    if not content:
        return []
    if b"/Font" in content:
        # real-world text is shown through FONTS whose /Encoding
        # (Differences) or /ToUnicode CMap maps string bytes to
        # characters (operators/fonts.py). The C-level substring guard
        # keeps font-free documents at zero added cost; font documents
        # route to the token-level interpreter, which tracks Tf state
        # and decodes at show time. Font parsing reads the DECODED
        # buffer for dicts (ObjStm-packed fonts included) and the
        # pristine buffer for ToUnicode stream payloads (the splice
        # consumes wrappers). A CMap range bomb (ValueError) poisons
        # the document text-free, like a filter bomb.
        from .fonts import parse_font_maps

        try:
            fonts = parse_font_maps(content.decode("latin-1"), orig)
        except ValueError:
            return []
        if fonts:
            return _tokenize_interpreter(content, fonts)
    text = content.decode("latin-1")
    n = len(text)
    pos = 0
    page = 0
    runs: list[tuple[int, float, float, int, str]] = []
    step = _STEP.match

    while pos < n:
        m = step(text, pos)
        if m is None:
            # trailing whitespace only, a metadata object, or
            # non-template content
            ws_end = _SKIP_WS.match(text, pos).end()
            if ws_end >= n:
                break
            mi = _INFO_OBJ.match(text, ws_end)
            if mi is not None:  # metadata object: skip (no text runs)
                pos = mi.end()
                continue
            # non-template content: reparse the WHOLE doc with the
            # token-level interpreter (identical semantics, slower)
            return _tokenize_interpreter(content)
        g = m.group
        c = g(1)
        if c is not None:  # comment (stops at \r OR \n)
            if c.startswith("%%PAGE"):
                rest = c[6:].strip()
                page = int(rest) if rest.lstrip("-").isdigit() else page + 1
            pos = m.end()
            continue
        if g(2) is not None:  # Td form
            x, y = float(g(2)), float(g(3))
        else:  # Tm form
            x, y = float(g(4)), float(g(5))
        s = g(6)
        if s is not None:  # Tj
            runs.append((page, x, y, m.start(6), _unescape_str(s[1:-1])))
        else:  # TJ array: concatenate its strings; offset = '[' position
            arr = g(7)
            joined = "".join(_unescape_str(p[1:-1]) for p in _FLAT_ALL.findall(arr))
            if joined:
                runs.append((page, x, y, m.start(7) - 1, joined))
        pos = m.end()
    return runs


def _tokenize_interpreter(
    content: bytes, fonts=None
) -> list[tuple[int, float, float, int, str]]:
    """Token-level interpreter (search loop over the master pattern):
    handles every operator arrangement the block fast path cannot.
    Nested, unterminated and backslash-EOL literal strings are read in
    place by ``_read_string``; the scan then continues after them.

    ``fonts`` ({'/F1': FontMap} from operators/fonts.py) switches the
    tier to font-aware decode: string operands are held as raw byte
    images and resolved at show time through the ``Tf``-selected
    font's map (text state persists across BT/ET, §9.3.1). With
    ``fonts=None`` behavior is byte-identical to the historical tier.
    """
    if not content:
        return []
    text = content.decode("latin-1")
    page = 0
    lm_x = lm_y = 0.0
    leading = 0.0
    cur_font: str | None = None
    stack: list = []
    runs: list[tuple[int, float, float, int, str]] = []
    array_marks: list[int] = []

    # search-based loop (not finditer): the BI inline-image skip must
    # be able to jump the scan position past binary image data
    pos = 0
    search = _MASTER.search
    while True:
        m = search(text, pos)
        if m is None:
            break
        pos = m.end()
        tok = m.group(0)
        t0 = tok[0]
        if t0 == "(":
            if len(tok) == 1:
                # nested, unterminated or backslash-EOL string: the flat
                # alternative could not swallow it
                pos, s = _read_string(text, m.start())
            else:
                s = _unescape_raw(tok[1:-1])
            stack.append(("s", m.start(), s))
            continue
        if t0 == ")":
            continue  # stray closer, skip
        if t0 == "%":
            if tok.startswith("%%PAGE"):
                rest = tok[6:].strip()
                page = int(rest) if rest.lstrip("-").isdigit() else page + 1
            continue
        if t0 == "[":
            array_marks.append(len(stack))
            stack.append(("mark", m.start(), None))
            continue
        if t0 == "]":
            if array_marks:
                mk = array_marks.pop()
                items = stack[mk + 1 :]
                off = stack[mk][1]
                del stack[mk:]
                stack.append(("a", off, items))
            continue
        if t0 == "/":
            stack.append(("n", m.start(), tok))
            continue
        if t0 == "<":
            if len(tok) >= 2 and tok[-1] == ">":  # hex string operand
                stack.append(("s", m.start(), _raw_hex_string(tok[1:-1])))
            continue  # lone '<' (dict open half / unterminated): consumed
        if t0 in ">{}":
            continue
        if t0 in "+-.0123456789":
            # the oracle reads the maximal [+-.\d]+ run as a number
            # token, then scans what follows as a SEPARATE operator
            # keyword — so a glued token like ".'" or "5Tj" must split
            # the same way here (push-or-drop the number, then
            # dispatch the remainder as an operator). Treating the
            # whole run as one unknown keyword diverged on show/leading
            # operators: the oracle emitted "(x).'" as a run, this tier
            # cleared the stack (caught by the raw-byte fuzz soak).
            m2 = _NUM_ONLY.match(tok)
            try:
                stack.append(float(m2.group(0)))
            except ValueError:
                pass
            tok = tok[m2.end() :]
            if not tok:
                continue
        op = tok
        if op == "BT":
            lm_x = lm_y = 0.0
            leading = 0.0
            stack.clear(); array_marks.clear()
        elif op == "Td" or op == "TD":
            if len(stack) >= 2 and isinstance(stack[-1], float) and isinstance(stack[-2], float):
                ty, tx = stack[-1], stack[-2]
                lm_x += tx
                lm_y += ty
                if op == "TD":
                    leading = -ty
            stack.clear(); array_marks.clear()
        elif op == "Tm":
            if len(stack) >= 6 and all(isinstance(v, float) for v in stack[-6:]):
                lm_x, lm_y = stack[-2], stack[-1]
            stack.clear(); array_marks.clear()
        elif op == "T*":
            lm_y -= leading
            stack.clear(); array_marks.clear()
        elif op == "TL":
            if stack and isinstance(stack[-1], float):
                leading = stack[-1]
            stack.clear(); array_marks.clear()
        elif op == "Tj" or op == "'":
            if op == "'":
                lm_y -= leading
            if stack and isinstance(stack[-1], tuple) and stack[-1][0] == "s":
                _, off, s = stack[-1]
                runs.append((page, lm_x, lm_y, off, _show_decode(s, cur_font, fonts)))
            stack.clear(); array_marks.clear()
        elif op == "TJ":
            if stack and isinstance(stack[-1], tuple) and stack[-1][0] == "a":
                _, off, items = stack[-1]
                s = "".join(
                    _show_decode(it[2], cur_font, fonts)
                    for it in items
                    if isinstance(it, tuple) and it[0] == "s"
                )
                if s:
                    runs.append((page, lm_x, lm_y, off, s))
            stack.clear(); array_marks.clear()
        elif op == '"':
            # §9.4.3: aw ac (string) " — set spacings (no effect on the
            # line model), move to next line, show; string leniency
            # mirrors Tj/' exactly
            lm_y -= leading
            if stack and isinstance(stack[-1], tuple) and stack[-1][0] == "s":
                _, off, s = stack[-1]
                runs.append((page, lm_x, lm_y, off, _show_decode(s, cur_font, fonts)))
            stack.clear(); array_marks.clear()
        elif op == "Tf":
            # §9.3.1 text state: font selection persists across BT/ET
            if (
                len(stack) >= 2
                and isinstance(stack[-1], float)
                and isinstance(stack[-2], tuple)
                and stack[-2][0] == "n"
            ):
                cur_font = stack[-2][2]
            stack.clear(); array_marks.clear()
        elif op == "BI":  # inline image: skip its binary data wholesale
            pos = _skip_inline_image(text, pos)
            stack.clear(); array_marks.clear()
        else:  # ET and every unknown operator consume their operands
            stack.clear(); array_marks.clear()
    return runs


# Token-aware %%PAGE scan: one C-level match runs over everything that
# cannot hold a page marker — flat strings, hex strings, generic
# comments and ordinary bytes — and stops at the next %%PAGE comment
# (group 1), a '(' the flat alternative cannot take (group 2, read with
# _read_string) or a 'BI' that may be the inline-image operator (group
# 3, skipped with _skip_inline_image when it is a whole token). Those
# are exactly the places where the interpreter's tokens hide '%' bytes,
# so a ``%%PAGE`` counts exactly where the tokenizer reads a comment
# token: one quoted in a text string, in a hex string, in inline-image
# data or in the tail of another comment does not. (Raw
# content.count(b"%%PAGE") inflated all of these.)
_PAGE_SCAN = re.compile(
    rf"""
    (?: [^(%<B]++                       # bytes that start none of the below
      | {_FLAT}                         # flat literal string
      | <(?:[^<>]*+>)?+                 # hex string, or a lone '<'
      | %(?!%PAGE)[^\r\n]*+             # comment other than a page marker
      | B(?!I(?![^ \t\r\n\f\x00()<>\[\]{{}}/%]))   # 'B' not ending as a 'BI' token
    )*+
    (?: (%%PAGE)[^\r\n]*+ | (\() | (BI) )?
    """,
    re.X,
)


def page_marker_offsets(content: bytes) -> list[int]:
    """Byte offsets of real %%PAGE comment tokens (latin-1 decode is
    1:1 byte<->char, so char offsets ARE byte offsets)."""
    if not content:
        return []
    return page_marker_offsets_text(content.decode("latin-1"))


def page_marker_offsets_text(text: str) -> list[int]:
    """Same scan over an already-decoded latin-1 text — lets callers
    that need several full-document scans (metadata.pdf_info) decode
    the bytes exactly once."""
    out: list[int] = []
    pos = 0
    scan = _PAGE_SCAN.match
    while True:
        m = scan(text, pos)
        g = m.lastindex
        if g == 1:
            out.append(m.start(1))
            pos = m.end()
        elif g == 2:
            pos = _read_string(text, m.start(2))[0]
        elif g == 3:
            # an operator token iff 'BI' is the whole token after any
            # glued number prefix (the interpreter splits '5BI' into 5
            # and BI); a name such as /XBI or a word like 'xBI' is not
            i = m.start(3)
            while i and text[i - 1] in "+-.0123456789":
                i -= 1
            pos = m.end()
            if not i or text[i - 1] in " \t\r\n\f\x00()<>[]{}":
                pos = _skip_inline_image(text, pos)
        else:
            return out
