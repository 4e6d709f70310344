"""Font-encoding-aware text decode for the byte-stream scanner
(PDF 32000-1:2008 §9.6.6 simple-font encodings, §9.10 ToUnicode
CMaps, §9.7 composite fonts).

The reference extracts text through ``pypdf``
(app/services/pdf_processor.py:364-375), whose ``extract_text``
resolves each shown string's BYTES to Unicode through the selected
font: a simple font's ``/Encoding`` (base encoding plus a
``/Differences`` array of glyph names), a ``/ToUnicode`` CMap
(``bfchar``/``bfrange`` sections), or a Type0 font's 2-byte
``/Identity-H`` codes. Real-world PDFs — virtually every
subset-embedded font — need this layer: the string bytes in the
content stream are font codes, not characters. This module rebuilds
that resolution from scratch:

- :func:`parse_font_maps` scans a document buffer once for font
  objects (``/Type /Font``), page-resource bindings
  (``/Font << /F1 12 0 R >>``), encoding dictionaries, and ToUnicode
  CMap streams, producing ``{resource_name: FontMap}``; references
  resolve through ``filters.ObjectIndex`` (generation not checked)
  and dicts through ``filters._dict_extent``;
- :class:`FontMap` decodes one shown string's byte image to text
  (1-byte code path for simple fonts, 2-byte path for Type0);
- glyph names resolve through a public Adobe Glyph List subset plus
  the AGL algorithm's ``uniXXXX``/``uXXXX`` rules.

Scope/fallback rules (all deterministic, shared by every tokenizer
tier through :func:`show_decode`):

- an unmapped 1-byte code decodes as its latin-1 character (identity
  — what the no-font pipeline does for every byte);
- an unmapped 2-byte code decodes as ``chr(code)`` (the Identity-H
  reading: code IS the Unicode scalar), a trailing odd byte as its
  latin-1 character;
- a glyph name outside the AGL subset leaves its code unmapped;
- font-name bindings are document-global, first binding wins (the
  page-resource refinement would need a page tree, which the
  sequential %%PAGE corpus does not carry);
- hostile or corrupt font material (truncated dicts, garbage CMaps,
  unresolvable streams, object numbers too long for ``int()``)
  silently yields no map for that font — the
  document still extracts through the identity fallback, mirroring
  the per-stream dirt rule in operators/filters.py. Resource attacks
  (CMap range bombs) raise ``ValueError`` before materializing.

Decode rides the scan: font parsing is per-document Python inside the
existing Arrow kernels, map-side, no plan or shuffle change.
"""

from __future__ import annotations

import functools
import re

from .filters import (
    MAX_DECODED_BYTES,
    ObjectIndex,
    StreamBombError,
    _decode_stream_data,
    _dict_extent,
    _int,
    read_stream_object,
)

_SP = r"[ \t\r\n\f\x00]"

# ---------------------------------------------------------------------------
# Adobe Glyph List subset + AGL uniXXXX/uXXXX rules (public data:
# github.com/adobe-type-tools/agl-aglfn). Letters and digits first,
# then ASCII punctuation, Latin-1, and the typographic set Standard/
# WinAnsi/MacRoman encodings reference.
# ---------------------------------------------------------------------------

_AGL: dict[str, str] = {c: c for c in "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ"}
_AGL.update(
    {
        "zero": "0", "one": "1", "two": "2", "three": "3", "four": "4",
        "five": "5", "six": "6", "seven": "7", "eight": "8", "nine": "9",
        "space": " ", "exclam": "!", "quotedbl": '"', "numbersign": "#",
        "dollar": "$", "percent": "%", "ampersand": "&", "quotesingle": "'",
        "parenleft": "(", "parenright": ")", "asterisk": "*", "plus": "+",
        "comma": ",", "hyphen": "-", "period": ".", "slash": "/",
        "colon": ":", "semicolon": ";", "less": "<", "equal": "=",
        "greater": ">", "question": "?", "at": "@", "bracketleft": "[",
        "backslash": "\\", "bracketright": "]", "asciicircum": "^",
        "underscore": "_", "grave": "`", "braceleft": "{", "bar": "|",
        "braceright": "}", "asciitilde": "~",
        # Latin-1 supplement
        "exclamdown": "¡", "cent": "¢", "sterling": "£",
        "currency": "¤", "yen": "¥", "brokenbar": "¦",
        "section": "§", "dieresis": "¨", "copyright": "©",
        "ordfeminine": "ª", "guillemotleft": "«",
        "logicalnot": "¬", "registered": "®", "macron": "¯",
        "degree": "°", "plusminus": "±", "acute": "´",
        "mu": "µ", "paragraph": "¶", "periodcentered": "·",
        "cedilla": "¸", "ordmasculine": "º",
        "guillemotright": "»", "onequarter": "¼",
        "onehalf": "½", "threequarters": "¾",
        "questiondown": "¿", "multiply": "×", "divide": "÷",
        "Agrave": "À", "Aacute": "Á", "Acircumflex": "Â",
        "Atilde": "Ã", "Adieresis": "Ä", "Aring": "Å",
        "AE": "Æ", "Ccedilla": "Ç", "Egrave": "È",
        "Eacute": "É", "Ecircumflex": "Ê", "Edieresis": "Ë",
        "Igrave": "Ì", "Iacute": "Í", "Icircumflex": "Î",
        "Idieresis": "Ï", "Eth": "Ð", "Ntilde": "Ñ",
        "Ograve": "Ò", "Oacute": "Ó", "Ocircumflex": "Ô",
        "Otilde": "Õ", "Odieresis": "Ö", "Oslash": "Ø",
        "Ugrave": "Ù", "Uacute": "Ú", "Ucircumflex": "Û",
        "Udieresis": "Ü", "Yacute": "Ý", "Thorn": "Þ",
        "germandbls": "ß", "agrave": "à", "aacute": "á",
        "acircumflex": "â", "atilde": "ã", "adieresis": "ä",
        "aring": "å", "ae": "æ", "ccedilla": "ç",
        "egrave": "è", "eacute": "é", "ecircumflex": "ê",
        "edieresis": "ë", "igrave": "ì", "iacute": "í",
        "icircumflex": "î", "idieresis": "ï", "eth": "ð",
        "ntilde": "ñ", "ograve": "ò", "oacute": "ó",
        "ocircumflex": "ô", "otilde": "õ", "odieresis": "ö",
        "oslash": "ø", "ugrave": "ù", "uacute": "ú",
        "ucircumflex": "û", "udieresis": "ü", "yacute": "ý",
        "thorn": "þ", "ydieresis": "ÿ",
        # typographic set referenced by Standard/WinAnsi/MacRoman
        "quoteleft": "‘", "quoteright": "’",
        "quotedblleft": "“", "quotedblright": "”",
        "quotesinglbase": "‚", "quotedblbase": "„",
        "endash": "–", "emdash": "—", "bullet": "•",
        "ellipsis": "…", "dagger": "†", "daggerdbl": "‡",
        "perthousand": "‰", "guilsinglleft": "‹",
        "guilsinglright": "›", "fraction": "⁄",
        "florin": "ƒ", "fi": "ﬁ", "fl": "ﬂ",
        "OE": "Œ", "oe": "œ", "Scaron": "Š",
        "scaron": "š", "Ydieresis": "Ÿ", "Zcaron": "Ž",
        "zcaron": "ž", "circumflex": "ˆ", "tilde": "˜",
        "trademark": "™", "Euro": "€", "minus": "−",
        "dotlessi": "ı", "Lslash": "Ł", "lslash": "ł",
        "breve": "˘", "dotaccent": "˙", "ring": "˚",
        "ogonek": "˛", "hungarumlaut": "˝", "caron": "ˇ",
    }
)

_HEX_RUN = re.compile(r"[0-9A-Fa-f]+")


def glyph_to_char(name: str) -> str | None:
    """AGL resolution: the explicit subset table, then the algorithmic
    ``uniXXXX[XXXX…]`` (UTF-16BE code units) and ``uXXXX[XX]`` (scalar)
    forms. Unknown names return None (code stays unmapped)."""
    hit = _AGL.get(name)
    if hit is not None:
        return hit
    if name.startswith("uni") and len(name) >= 7 and (len(name) - 3) % 4 == 0:
        hx = name[3:]
        if _HEX_RUN.fullmatch(hx):
            try:
                return bytes.fromhex(hx).decode("utf-16-be")
            except UnicodeDecodeError:
                return None
    if name.startswith("u") and 5 <= len(name) <= 7:
        hx = name[1:]
        if _HEX_RUN.fullmatch(hx):
            cp = int(hx, 16)
            if cp <= 0x10FFFF and not (0xD800 <= cp <= 0xDFFF):
                return chr(cp)
    return None


# ---------------------------------------------------------------------------
# base encodings (PDF 32000 Annex D). WinAnsi == cp1252, MacRoman ==
# mac_roman — both shipped as stdlib codecs; StandardEncoding is the
# explicit Annex D table where it differs from latin-1.
# ---------------------------------------------------------------------------


def _codec_table(codec: str) -> dict[int, str]:
    out: dict[int, str] = {}
    for b in range(256):
        try:
            out[b] = bytes([b]).decode(codec)
        except UnicodeDecodeError:
            pass  # undefined slot -> identity fallback at decode time
    return out


_STD_NAMES = {
    0x27: "quoteright", 0x60: "quoteleft", 0xA1: "exclamdown", 0xA2: "cent",
    0xA3: "sterling", 0xA4: "fraction", 0xA5: "yen", 0xA6: "florin",
    0xA7: "section", 0xA8: "currency", 0xA9: "quotesingle",
    0xAA: "quotedblleft", 0xAB: "guillemotleft", 0xAC: "guilsinglleft",
    0xAD: "guilsinglright", 0xAE: "fi", 0xAF: "fl", 0xB1: "endash",
    0xB2: "dagger", 0xB3: "daggerdbl", 0xB4: "periodcentered",
    0xB6: "paragraph", 0xB7: "bullet", 0xB8: "quotesinglbase",
    0xB9: "quotedblbase", 0xBA: "quotedblright", 0xBB: "guillemotright",
    0xBC: "ellipsis", 0xBD: "perthousand", 0xBF: "questiondown",
    0xC1: "grave", 0xC2: "acute", 0xC3: "circumflex", 0xC4: "tilde",
    0xC5: "macron", 0xC6: "breve", 0xC7: "dotaccent", 0xC8: "dieresis",
    0xCA: "ring", 0xCB: "cedilla", 0xCD: "hungarumlaut", 0xCE: "ogonek",
    0xCF: "caron", 0xD0: "emdash", 0xE1: "AE", 0xE3: "ordfeminine",
    0xE8: "Lslash", 0xE9: "Oslash", 0xEA: "OE", 0xEB: "ordmasculine",
    0xF1: "ae", 0xF5: "dotlessi", 0xF8: "lslash", 0xF9: "oslash",
    0xFA: "oe", 0xFB: "germandbls",
}


def _base_encoding(name: str) -> dict[int, str]:
    if name == "WinAnsiEncoding":
        return dict(_WIN_ANSI)
    if name == "MacRomanEncoding":
        return dict(_MAC_ROMAN)
    if name == "StandardEncoding":
        return {c: _AGL[n] for c, n in _STD_NAMES.items()}
    return {}


_WIN_ANSI = _codec_table("cp1252")
_MAC_ROMAN = _codec_table("mac_roman")


# ---------------------------------------------------------------------------
# FontMap
# ---------------------------------------------------------------------------


class FontMap:
    """Byte-code → text mapping for one font resource. ``raw`` below is
    a shown string's latin-1 byte image (escapes already applied) —
    the exact value every tokenizer tier holds at show time. 1-byte
    decode runs through ``str.translate`` (one C call per string;
    unmapped codes pass through as themselves)."""

    __slots__ = ("nbytes", "cmap")

    def __init__(self, nbytes: int, cmap: dict[int, str]):
        self.nbytes = nbytes
        self.cmap = cmap

    def decode(self, raw: str) -> str:
        cmap = self.cmap
        if self.nbytes == 1:
            return raw.translate(cmap)
        out: list[str] = []
        n = len(raw)
        i = 0
        while i + 1 < n:
            code = (ord(raw[i]) << 8) | ord(raw[i + 1])
            hit = cmap.get(code)
            out.append(hit if hit is not None else _safe_chr(code))
            i += 2
        if i < n:  # trailing odd byte: latin-1 identity
            b = ord(raw[i])
            out.append(cmap.get(b, raw[i]))
        return "".join(out)


def _safe_chr(code: int) -> str:
    # Identity-H fallback: code IS the Unicode scalar; surrogate
    # codes (invalid scalars) fall to U+FFFD deterministically
    if 0xD800 <= code <= 0xDFFF:
        return "�"
    return chr(code)


# ---------------------------------------------------------------------------
# ToUnicode CMap parse (§9.10.3)
# ---------------------------------------------------------------------------

_CSP_SECT = re.compile(r"begincodespacerange(.*?)endcodespacerange", re.S)
_BFCHAR_SECT = re.compile(r"beginbfchar(.*?)endbfchar", re.S)
_BFRANGE_SECT = re.compile(r"beginbfrange(.*?)endbfrange", re.S)
_HEX_TOK = re.compile(r"<([0-9A-Fa-f \t\r\n]*)>|(\[)|(\])")

_MAX_CMAP_ENTRIES = 1 << 17  # range-bomb guard: far above any real ToUnicode


def _dst_str(hx: str, offset: int = 0) -> str | None:
    """Destination hex → text (UTF-16BE per §9.10.3), with the bfrange
    increment applied arithmetically at the dst's full width (the
    common-writer rule; entries that leave the valid range are
    skipped)."""
    hx = "".join(_HEX_RUN.findall(hx))
    if not hx or len(hx) % 2:
        return None
    if offset:
        width = len(hx)
        v = int(hx, 16) + offset
        hx = f"{v:0{width}x}"
        if len(hx) > width:
            return None
    try:
        return bytes.fromhex(hx).decode("utf-16-be")
    except UnicodeDecodeError:
        return None


@functools.lru_cache(maxsize=64)
def parse_cmap(data: bytes) -> tuple[int, dict[int, str]]:
    """(code byte-width, code→text) from a ToUnicode CMap stream.
    Raises ValueError on range bombs; garbage sections contribute
    nothing (dirt rule).

    lru_cache: a corpus re-embeds the SAME subset CMaps across many
    documents (measured: the per-entry bfrange expansion was ~60% of
    font-parse time); callers must treat the returned dict as frozen
    (every consumer copies into its own map via ``dict.update``)."""
    text = data.decode("latin-1")
    width = 0
    for sect in _CSP_SECT.findall(text):
        m = _HEX_TOK.search(sect)
        if m is not None and m.group(1) is not None:
            hx = "".join(_HEX_RUN.findall(m.group(1)))
            if hx:
                width = 1 if len(hx) <= 2 else 2
                break
    cmap: dict[int, str] = {}

    def _src(hx: str) -> int | None:
        h = "".join(_HEX_RUN.findall(hx))
        if not h or len(h) > 8:
            return None
        return int(h, 16)

    for sect in _BFCHAR_SECT.findall(text):
        toks = [m.group(1) for m in _HEX_TOK.finditer(sect) if m.group(1) is not None]
        for i in range(0, len(toks) - 1, 2):
            src = _src(toks[i])
            dst = _dst_str(toks[i + 1])
            if src is not None and dst is not None:
                if len(cmap) >= _MAX_CMAP_ENTRIES:
                    raise StreamBombError("ToUnicode CMap entry bomb")
                cmap[src] = dst
            if width == 0 and toks[i]:
                width = 1 if len("".join(_HEX_RUN.findall(toks[i]))) <= 2 else 2

    for sect in _BFRANGE_SECT.findall(text):
        toks = list(_HEX_TOK.finditer(sect))
        i = 0
        while i < len(toks):
            if toks[i].group(1) is None or i + 2 >= len(toks):
                i += 1
                continue
            lo = _src(toks[i].group(1))
            hi = _src(toks[i + 1].group(1)) if toks[i + 1].group(1) is not None else None
            if width == 0 and toks[i].group(1):
                width = 1 if len("".join(_HEX_RUN.findall(toks[i].group(1)))) <= 2 else 2
            if lo is None or hi is None or hi < lo:
                i += 1
                continue
            if hi - lo + 1 > _MAX_CMAP_ENTRIES or len(cmap) + (hi - lo + 1) > _MAX_CMAP_ENTRIES:
                raise StreamBombError("ToUnicode CMap range bomb")
            nxt = toks[i + 2]
            if nxt.group(2) is not None:  # '[': one dst per code
                j = i + 3
                code = lo
                while j < len(toks) and toks[j].group(3) is None:
                    if toks[j].group(1) is not None and code <= hi:
                        dst = _dst_str(toks[j].group(1))
                        if dst is not None:
                            cmap[code] = dst
                        code += 1
                    j += 1
                i = j + 1
            else:
                dst_hex = nxt.group(1)
                for k in range(hi - lo + 1):
                    dst = _dst_str(dst_hex, offset=k)
                    if dst is not None:
                        cmap[lo + k] = dst
                i += 3
    if width == 0:
        width = 2  # ToUnicode convention when nothing declares it
    return width, cmap


# ---------------------------------------------------------------------------
# document scan: font objects, resource bindings, encoding dicts
# ---------------------------------------------------------------------------

_TYPE_FONT = re.compile(rf"/Type{_SP}*/Font(?![A-Za-z])")
_SUBTYPE = re.compile(rf"/Subtype{_SP}*/([A-Za-z0-9]+)")
_BASE_ENC_NAME = re.compile(rf"/BaseEncoding{_SP}*/([A-Za-z]+)")
_ENCODING = re.compile(rf"/Encoding{_SP}*(?:/([A-Za-z0-9\-]+)|(\d+){_SP}+(\d+){_SP}+R|(<<))")
_TOUNICODE = re.compile(rf"/ToUnicode{_SP}+(\d+){_SP}+(\d+){_SP}+R\b")
_NAME_BIND = re.compile(rf"/Name{_SP}*/([^ \t\r\n\f\x00()<>\[\]{{}}/%]+)")
_DIFFS = re.compile(rf"/Differences{_SP}*\[")
_DIFF_TOK = re.compile(r"(\d+)|/([^ \t\r\n\f\x00()<>\[\]{}/%]+)|(\])")
_RES_FONT = re.compile(rf"/Font{_SP}*<<")
_RES_ENTRY = re.compile(
    rf"/([^ \t\r\n\f\x00()<>\[\]{{}}/%]+){_SP}*(?:(\d+){_SP}+(\d+){_SP}+R\b|(<<))"
)


def _balanced_dict(text: str, start: int, buf: bytes | None = None) -> str | None:
    """The ``<<…>>`` body starting at ``start`` (index of the first
    '<'), via the shared dict scanner. Pass ``buf`` (the text's latin-1
    bytes) for a whole document, so it is encoded once."""
    if buf is None:
        buf = text.encode("latin-1")
    try:
        end = _dict_extent(buf, start)
    except ValueError:
        return None
    return text[start:end]


def _parse_differences(body: str, pos: int, cmap: dict[int, str]) -> None:
    """Overlay a /Differences array (code, /name, /name … code, /name …)
    onto ``cmap``. ``pos`` points just past the '['."""
    code = 0
    for m in _DIFF_TOK.finditer(body, pos):
        if m.group(3) is not None:  # ']'
            return
        if m.group(1) is not None:
            if (code := _int(m.group(1))) is None:
                return
            continue
        ch = glyph_to_char(m.group(2))
        if ch is not None and 0 <= code <= 0xFF:
            cmap[code] = ch
        code += 1


_CMAP_REGION = re.compile(rb"begincmap(.*?)endcmap", re.S)


def _orphan_cmaps(buf: bytes) -> list[tuple[int, dict[int, str]] | None]:
    """CMap regions visible RAW in a buffer — the shape a caller holds
    after the filter splice consumed the ToUnicode stream wrappers
    (e.g. the shard path tokenizes pre-decoded chunks). Parsed lazily
    per region; a garbage region contributes None."""
    out = []
    for m in _CMAP_REGION.finditer(buf):
        try:
            out.append(parse_cmap(b"begincmap" + m.group(1) + b"endcmap"))
        except StreamBombError:
            raise
        except Exception:
            out.append(None)
    return out


def _tounicode_map(objnum: int | None, ctx: dict) -> tuple[int, dict[int, str]] | None:
    """Locate ``objnum``'s stream object in the ORIGINAL buffer (the
    filter splice consumes wrappers in the decoded buffer, but the
    pristine bytes keep them), decode its payload through the /Filter
    chain, and parse it as a CMap.

    When the wrapper is gone — the caller only has a spliced buffer,
    where the CMap payload sits raw and unlabeled — fall back to the
    buffer's orphan ``begincmap…endcmap`` regions, associated to
    ToUnicode references in first-reference order (``ctx`` carries the
    assignment across fonts; exact for the overwhelmingly common
    one-font-one-CMap case and any count of fonts whose CMaps appear
    in reference order)."""
    orig = ctx["orig"]
    hit = ctx["orig_objs"].get(objnum)
    if hit is None:
        assigned = ctx.setdefault("assigned", {})
        if objnum in assigned:
            return assigned[objnum]
        orphans = ctx.get("orphans")
        if orphans is None:
            orphans = ctx["orphans"] = _orphan_cmaps(orig)
        tu = orphans[len(assigned)] if len(assigned) < len(orphans) else None
        assigned[objnum] = tu
        return tu
    obj = read_stream_object(orig, hit[1], ctx["orig_objs"])
    if obj is None or obj[1] is None:
        return None
    d, data, _end = obj
    try:
        payload = _decode_stream_data(data, d, ctx["budget"])
        return parse_cmap(payload)
    except StreamBombError:
        raise  # resource attack -> poison the document text-free
    except Exception:
        return None  # ordinary dirt -> this font has no map


def _build_font(body: str, ctx: dict) -> FontMap | None:
    """FontMap from one font dict body (or None if the font needs no
    byte translation — keeps the identity fast path for fonts that
    carry only metrics). ``ctx`` is the document's scan state (see
    :func:`parse_font_maps`)."""
    sub = _SUBTYPE.search(body)
    subtype = sub.group(1) if sub is not None else ""
    cmap: dict[int, str] = {}
    nbytes = 2 if subtype == "Type0" else 1
    have_any = subtype == "Type0"  # Identity-H 2-byte framing alone matters

    if subtype != "Type0":
        em = _ENCODING.search(body)
        enc_body: str | None = None
        if em is not None:
            if em.group(1) is not None:  # /Encoding /WinAnsiEncoding
                base = _base_encoding(em.group(1))
                if base:
                    cmap.update(base)
                    have_any = True
            elif em.group(2) is not None:  # indirect -> encoding dict object
                hit = ctx["objs"].get(_int(em.group(2)))
                text = ctx["text"]
                k = -1 if hit is None else text.find("<<", hit[1], hit[2])
                if k != -1:
                    enc_body = _balanced_dict(text, k, ctx["buf"])
            else:  # inline << ... >> (a position in ``body``)
                enc_body = _balanced_dict(body, em.start(4))
        if enc_body is not None:
            bm = _BASE_ENC_NAME.search(enc_body)
            if bm is not None:
                base = _base_encoding(bm.group(1))
                if base:
                    cmap.update(base)
                    have_any = True
            dm = _DIFFS.search(enc_body)
            if dm is not None:
                _parse_differences(enc_body, dm.end(), cmap)
                have_any = True

    tm = _TOUNICODE.search(body)
    if tm is not None:
        tu = _tounicode_map(_int(tm.group(1)), ctx)
        if tu is not None:
            tu_width, tu_map = tu
            nbytes = tu_width
            cmap.update(tu_map)  # ToUnicode wins over /Encoding (§9.10.2)
            have_any = True

    if not have_any:
        return None
    return FontMap(nbytes, cmap)


def parse_font_maps(
    text: str, orig: bytes, budget: int = MAX_DECODED_BYTES
) -> dict[str, FontMap]:
    """{'/F1': FontMap, …} for one document.

    ``text`` is the (filter-decoded, ObjStm-expanded) buffer's latin-1
    image — font dicts packed in object streams are visible here;
    ``orig`` is the pristine byte buffer — ToUnicode stream wrappers
    are intact there even after the content splice.

    Bindings come from page-resource dicts (``/Font << /F1 12 0 R >>``
    or inline font dicts) and, failing that, the PDF-1.0 ``/Name``
    entry on the font object itself. First binding per name wins.
    Raises ValueError only for resource bombs (CMap entry floods);
    every other malformation degrades to "that font has no map"."""
    buf = text.encode("latin-1")  # one encode for every dict extraction
    objs = ObjectIndex(buf)
    # scan state: the decoded text, its bytes and index; the pristine
    # buffer and its on-demand index; later the orphan-CMap fallback
    # state (spliced buffers)
    ctx = {"text": text, "buf": buf, "objs": objs, "orig": orig, "budget": budget,
           "orig_objs": ObjectIndex(orig)}
    built: dict[int, FontMap | None] = {}

    def font_by_obj(num: int) -> FontMap | None:
        if num in built:
            return built[num]
        fm: FontMap | None = None
        hit = objs.get(num)
        if hit is not None:
            _gen, s, e = hit
            # pos/endpos search — never slice the body (stream-object
            # bodies can be megabytes of payload)
            if _TYPE_FONT.search(text, s, e) is not None:
                k = text.find("<<", s, e)
                if k != -1:
                    body = _balanced_dict(text, k, buf)
                    if body is not None:
                        fm = _build_font(body, ctx)
        built[num] = fm
        return fm

    out: dict[str, FontMap] = {}
    # resource dicts: /Font << /F1 12 0 R  /F2 << ... >> >>
    for rm in _RES_FONT.finditer(text):
        rbody = _balanced_dict(text, rm.end() - 2, buf)
        if rbody is None:
            continue
        for em in _RES_ENTRY.finditer(rbody):
            name = "/" + em.group(1)
            if name in out:
                continue
            if em.group(2) is not None:
                fm = font_by_obj(_int(em.group(2)))
            else:
                inline = _balanced_dict(rbody, em.start(4))
                fm = None
                if inline is not None and _TYPE_FONT.search(inline) is not None:
                    fm = _build_font(inline, ctx)
            if fm is not None:
                out[name] = fm
    # PDF-1.0 /Name binding on the font object itself
    for num, (_gen, s, e) in objs.items():
        if _TYPE_FONT.search(text, s, e) is None:
            continue
        nm = _NAME_BIND.search(text, s, e)
        if nm is None:
            continue
        name = "/" + nm.group(1)
        if name in out:
            continue
        fm = font_by_obj(num)
        if fm is not None:
            out[name] = fm
    return out
