"""PDF stream-filter decode (PDF 32000-1:2008 §7.4) for content
streams: ``FlateDecode``, ``LZWDecode``, ``ASCIIHexDecode``,
``ASCII85Decode``, ``RunLengthDecode``, and filter *chains*
(``/Filter [/ASCII85Decode /FlateDecode]``).

The reference reads real-world PDFs through pypdf, which transparently
decompresses stream filters before text extraction
(app/services/pdf_processor.py:364-375 calls
``page.extract_text()``; virtually every real insurance PDF stores its
content streams FlateDecode-compressed). This module closes that
parity gap for the from-scratch byte-stream scanner: :func:`
decode_content_filters` rewrites a document buffer by replacing each
indirect *stream object* (``N G obj << …/Filter…>> stream … endstream
endobj``) with its decoded bytes, in place.

Splice contract (what makes this testable to the byte): a document
rendered with per-page compressed stream objects decodes back to the
**byte-identical** plain content buffer — the object wrapper is
consumed (including one trailing EOL) and exactly the decoded payload
is spliced in. Span offsets computed on the decoded buffer therefore
equal the plain render's offsets, so the flagship span fixture gates
this path with no fixture regeneration.

Error discipline (mirrors the repo's hostile-media rules and pypdf's
dirty-corpus behavior):

- resource attacks — a stream whose decoded size exceeds the document
  budget (zlib/LZW/RLE bombs) — raise ``ValueError`` *before*
  materializing the payload; the tokenizer turns that into a text-free
  document (the poison-row analog);
- ordinary dirt — a corrupt payload under a supported filter, or a
  legal-but-unsupported filter (``DCTDecode`` image XObjects,
  ``JBIG2Decode``, ``Crypt``) — drops that one stream object
  (contributes no text) and the rest of the document still extracts,
  which is exactly what the reference's pypdf does per stream.

One of each, shared by every caller:

- :class:`ObjectIndex` maps object numbers to body spans in one
  header pass, read on demand; indirect ``/Length`` and every
  font-layer reference (operators/fonts.py) resolve through it;
- :func:`_dict_extent` is the one ``<<…>>`` scanner (compiled-pattern
  searches from delimiter to delimiter), here and in the font layer;
  the index memoizes it per buffer, so no dict is scanned twice;
- :func:`read_stream_object` reads one stream object (dict, payload,
  end) for the buffer rewrite and the ToUnicode lookup;
- :func:`_rewrite_stream_objects` is the one walk over a buffer's
  objects; the ObjStm/XRef pre-pass and the filter pass are each a
  small per-stream rewrite on top of it;
- :func:`png_unfilter` is the one PNG row unfilter, used by the
  §7.4.4.4 predictors here and by the PNG image decoder
  (operators/multimodal.py);
- :func:`decode_or_poison` is the one entry the kernels call
  (tokenize, the shard path's decode UDF, the S3 info scan).

Decode rides the scan: this is pure per-document Python called from
inside the existing Arrow kernels (tokenize / shard), map-side, no
plan change — at 100 TB decompression is embarrassingly parallel and
adds zero shuffle.
"""

from __future__ import annotations

import re
import zlib

import numpy as np

# Per-document decoded-output budget. Matches the spirit of the 10 MB
# raw-size cap (constants.MAX_FILE_SIZE_BYTES) with generous headroom
# for legitimate text compression ratios; anything past this is a
# decompression bomb, not a document.
MAX_DECODED_BYTES = 64 << 20

_WS = b" \t\r\n\f\x00"
_WS_RUN = re.compile(rb"[ \t\r\n\f\x00]*+")

# run-start lookbehind + possessive runs: a digit sequence is tried
# ONCE from its start (hex-string operands are multi-hundred-digit
# runs; the old backtracking form re-scanned every suffix of every
# run — measured ~1.4 ms/doc on 2-byte-font content, the same ReDoS
# class as _INFO_OBJ)
_OBJ_HDR = re.compile(rb"(?<![0-9])(\d++)[ \t\r\n\f\x00]++(\d++)[ \t\r\n\f\x00]++obj\b")
# where an object body ends: the next header (group 1 set) or endobj
_OBJ_EDGE = re.compile(_OBJ_HDR.pattern + rb"|endobj")
_INT_BODY = re.compile(rb"[ \t\r\n\f\x00]*+(\d++)[ \t\r\n\f\x00]*+")
MAX_OBJECTS = 10_000  # hostile-input bound on the headers one index reads

# /Length N, or the common real-writer shape /Length N G R: the length
# lives in its own integer object (streamed out before it is known)
_LENGTH = re.compile(
    rb"/Length[ \t\r\n\f\x00]+(\d++)(?:[ \t\r\n\f\x00]+(\d++)[ \t\r\n\f\x00]+R\b)?"
)
_FILTER = re.compile(
    rb"/Filter[ \t\r\n\f\x00]*(?:\[(?P<arr>[^\]]*)\]|/(?P<one>[A-Za-z0-9]+))"
)
_NAME = re.compile(rb"/([A-Za-z0-9]+)")


class StreamBombError(ValueError):
    """Decoded output exceeded the per-document budget (resource
    attack). Subclasses ValueError so callers that poison on
    ValueError need no new handling."""


class _Unsupported(Exception):
    """A legal filter this module does not decode (DCTDecode …)."""


# ---------------------------------------------------------------------------
# individual codecs — decode AND encode (encoders drive the render-side
# test corpus and the filtered render path; both are from scratch)
# ---------------------------------------------------------------------------


def flate_decode(data: bytes, cap: int = MAX_DECODED_BYTES) -> bytes:
    """Bounded zlib inflate: the cap is enforced chunk-by-chunk inside
    decompression, so a bomb raises before its payload materializes."""
    d = zlib.decompressobj()
    out = bytearray()
    try:
        chunk = d.decompress(data, cap + 1)
    except zlib.error as e:
        raise ValueError(f"FlateDecode: {e}") from None
    out += chunk
    while d.unconsumed_tail:
        if len(out) > cap:
            raise StreamBombError("FlateDecode output exceeds document budget")
        try:
            chunk = d.decompress(d.unconsumed_tail, cap + 1)
        except zlib.error as e:
            raise ValueError(f"FlateDecode: {e}") from None
        out += chunk
    if len(out) > cap:
        raise StreamBombError("FlateDecode output exceeds document budget")
    return bytes(out)


def flate_encode(data: bytes) -> bytes:
    return zlib.compress(data, 6)


def ascii_hex_decode(data: bytes, cap: int = MAX_DECODED_BYTES) -> bytes:
    """§7.4.2: hex pairs, whitespace ignored, ``>`` is EOD, an odd
    trailing digit is padded with 0."""
    end = data.find(b">")
    if end != -1:
        data = data[:end]
    hexed = re.sub(rb"[ \t\r\n\f\x00]", b"", data)
    if not re.fullmatch(rb"[0-9a-fA-F]*", hexed):
        raise ValueError("ASCIIHexDecode: non-hex character")
    if len(hexed) % 2:
        hexed += b"0"
    if len(hexed) // 2 > cap:
        raise StreamBombError("ASCIIHexDecode output exceeds document budget")
    return bytes.fromhex(hexed.decode("ascii"))


def ascii_hex_encode(data: bytes) -> bytes:
    return data.hex().encode("ascii") + b">"


def ascii85_decode(data: bytes, cap: int = MAX_DECODED_BYTES) -> bytes:
    """§7.4.3: base-85 groups, ``z`` shorthand for four zero bytes,
    ``~>`` is EOD, whitespace ignored; a partial final group of n
    chars (2–4) is padded with ``u`` and yields n−1 bytes."""
    if data.startswith(b"<~"):
        data = data[2:]
    end = data.find(b"~>")
    if end != -1:
        data = data[:end]
    out = bytearray()
    group: list[int] = []
    for ch in data:
        if ch in b" \t\r\n\f\x00":
            continue
        if ch == 0x7A:  # 'z'
            if group:
                raise ValueError("ASCII85Decode: 'z' inside a group")
            out += b"\x00\x00\x00\x00"
            if len(out) > cap:
                raise StreamBombError("ASCII85Decode output exceeds document budget")
            continue
        if not (0x21 <= ch <= 0x75):  # '!'..'u'
            raise ValueError(f"ASCII85Decode: invalid byte {ch:#x}")
        group.append(ch - 0x21)
        if len(group) == 5:
            acc = 0
            for g in group:
                acc = acc * 85 + g
            if acc > 0xFFFFFFFF:
                raise ValueError("ASCII85Decode: group overflow")
            out += acc.to_bytes(4, "big")
            group.clear()
            if len(out) > cap:
                raise StreamBombError("ASCII85Decode output exceeds document budget")
    if group:
        if len(group) == 1:
            raise ValueError("ASCII85Decode: lone trailing character")
        n = len(group)
        padded = group + [84] * (5 - n)  # 'u' - '!'
        acc = 0
        for g in padded:
            acc = acc * 85 + g
        if acc > 0xFFFFFFFF:
            raise ValueError("ASCII85Decode: group overflow")
        out += acc.to_bytes(4, "big")[: n - 1]
    return bytes(out)


def ascii85_encode(data: bytes) -> bytes:
    out = bytearray()
    for i in range(0, len(data), 4):
        chunk = data[i : i + 4]
        n = len(chunk)
        acc = int.from_bytes(chunk + b"\x00" * (4 - n), "big")
        if acc == 0 and n == 4:
            out += b"z"
            continue
        digits = []
        for _ in range(5):
            digits.append(acc % 85)
            acc //= 85
        out += bytes(33 + d for d in reversed(digits))[: n + 1]
    out += b"~>"
    return bytes(out)


def rle_decode(data: bytes, cap: int = MAX_DECODED_BYTES) -> bytes:
    """§7.4.5 RunLengthDecode: length byte 0–127 → copy next n+1
    literally; 129–255 → repeat next byte 257−n times; 128 is EOD."""
    out = bytearray()
    i, n = 0, len(data)
    while i < n:
        l = data[i]
        if l == 128:
            return bytes(out)
        if l < 128:
            if i + 1 + l + 1 > n:
                raise ValueError("RunLengthDecode: truncated literal run")
            out += data[i + 1 : i + 2 + l]
            i += 2 + l
        else:
            if i + 1 >= n:
                raise ValueError("RunLengthDecode: truncated repeat run")
            out += data[i + 1 : i + 2] * (257 - l)
            i += 2
        if len(out) > cap:
            raise StreamBombError("RunLengthDecode output exceeds document budget")
    raise ValueError("RunLengthDecode: missing EOD")


def rle_encode(data: bytes) -> bytes:
    out = bytearray()
    i, n = 0, len(data)
    while i < n:
        # measure the run at i
        j = i + 1
        while j < n and j - i < 128 and data[j] == data[i]:
            j += 1
        if j - i >= 2:
            out.append(257 - (j - i))
            out.append(data[i])
            i = j
        else:
            # literal run: until the next >=3 repeat or 128 bytes
            j = i + 1
            while j < n and j - i < 128:
                if j + 2 < n and data[j] == data[j + 1] == data[j + 2]:
                    break
                j += 1
            out.append(j - i - 1)
            out += data[i:j]
            i = j
    out.append(128)
    return bytes(out)


# --- LZW (§7.4.4): 8-bit codes, MSB-first packing, variable 9→12-bit
# width, Clear=256, EOD=257, first assignable code 258, EarlyChange=1
# (the PDF default: the width grows one code early). Verified against
# the spec's own worked example in tests/test_filters.py.

_LZW_CLEAR, _LZW_EOD, _LZW_FIRST = 256, 257, 258


def lzw_decode(data: bytes, cap: int = MAX_DECODED_BYTES, early: int = 1) -> bytes:
    out = bytearray()
    table: dict[int, bytes] = {i: bytes([i]) for i in range(256)}
    next_code = _LZW_FIRST
    width = 9
    prev: bytes | None = None
    bitbuf = 0
    nbits = 0
    for byte in data:
        bitbuf = (bitbuf << 8) | byte
        nbits += 8
        while nbits >= width:
            code = (bitbuf >> (nbits - width)) & ((1 << width) - 1)
            nbits -= width
            if code == _LZW_CLEAR:
                table = {i: bytes([i]) for i in range(256)}
                next_code = _LZW_FIRST
                width = 9
                prev = None
                continue
            if code == _LZW_EOD:
                return bytes(out)
            if prev is None:
                entry = table.get(code)
                if entry is None:
                    raise ValueError("LZWDecode: first code not a literal")
            elif code in table:
                entry = table[code]
            elif code == next_code:
                entry = prev + prev[:1]
            else:
                raise ValueError("LZWDecode: code out of table range")
            if prev is not None and next_code < 4096:
                table[next_code] = prev + entry[:1]
                next_code += 1
            if next_code + early >= (1 << width) and width < 12:
                width += 1
            out += entry
            if len(out) > cap:
                raise StreamBombError("LZWDecode output exceeds document budget")
            prev = entry
    return bytes(out)  # tolerate a missing EOD (truncation dirt)


def lzw_encode(data: bytes, early: int = 1) -> bytes:
    out = bytearray()
    bitbuf = 0
    nbits = 0

    def emit(code: int, width: int) -> None:
        nonlocal bitbuf, nbits
        bitbuf = (bitbuf << width) | code
        nbits += width
        while nbits >= 8:
            out.append((bitbuf >> (nbits - 8)) & 0xFF)
            nbits -= 8

    table: dict[bytes, int] = {bytes([i]): i for i in range(256)}
    next_code = _LZW_FIRST
    width = 9
    emit(_LZW_CLEAR, width)
    w = b""
    for i in range(len(data)):
        c = data[i : i + 1]
        wc = w + c
        if wc in table:
            w = wc
            continue
        emit(table[w], width)
        if next_code < 4096:
            table[wc] = next_code
            next_code += 1
            if next_code + early > (1 << width) and width < 12:
                width += 1
        else:
            emit(_LZW_CLEAR, width)
            table = {bytes([j]): j for j in range(256)}
            next_code = _LZW_FIRST
            width = 9
        w = c
    if w:
        emit(table[w], width)
    emit(_LZW_EOD, width)
    if nbits:
        out.append((bitbuf << (8 - nbits)) & 0xFF)
    return bytes(out)


_DECODERS = {
    b"FlateDecode": flate_decode,
    b"Fl": flate_decode,  # §7.4 abbreviated names (inline-image style)
    b"LZWDecode": lzw_decode,
    b"LZW": lzw_decode,
    b"ASCIIHexDecode": ascii_hex_decode,
    b"AHx": ascii_hex_decode,
    b"ASCII85Decode": ascii85_decode,
    b"A85": ascii85_decode,
    b"RunLengthDecode": rle_decode,
    b"RL": rle_decode,
}

ENCODERS = {
    "FlateDecode": flate_encode,
    "LZWDecode": lzw_encode,
    "ASCIIHexDecode": ascii_hex_encode,
    "ASCII85Decode": ascii85_encode,
    "RunLengthDecode": rle_encode,
}


def _split_predictor(name: str) -> tuple[str, int | None]:
    """``"FlateDecode/P12"`` → (``"FlateDecode"``, 12): the suffix
    convention the render/test side uses to request a §7.4.4.4
    predictor (always Columns=1, which divides any payload length)
    while keeping filter mixes plain name tuples."""
    if "/P" in name:
        base, p = name.split("/P", 1)
        return base, int(p)
    return name, None


def encode_chain(data: bytes, names: tuple[str, ...]) -> bytes:
    """Apply encoders so that decoding with ``/Filter [names…]`` (which
    decodes left-to-right) recovers ``data`` — i.e. encode in reverse
    list order. A predictor suffix applies BEFORE its filter's
    compression (decode undoes it after decompression)."""
    for nm in reversed(names):
        base, pred = _split_predictor(nm)
        if pred is not None:
            data = encode_predictor(data, pred, columns=1)
        data = ENCODERS[base](data)
    return data


def _filter_entries(names: tuple[str, ...]) -> str:
    """The `` /Filter … /DecodeParms …`` dict entries that declare the
    filter chain ``names`` (render side; ``""`` for no filter)."""
    if not names:
        return ""
    bases = [_split_predictor(n)[0] for n in names]
    preds = [p for n in names if (p := _split_predictor(n)[1]) is not None]
    f = f"/{bases[0]}" if len(bases) == 1 else "[ " + " ".join("/" + n for n in bases) + " ]"
    parms = f" /DecodeParms << /Predictor {preds[0]} /Columns 1 >>" if preds else ""
    return f" /Filter {f}{parms}"


def stream_object_bytes(data: bytes, names: tuple[str, ...], obj_num: int = 2) -> bytes:
    """Wrap ``data`` as an indirect stream object with the given filter
    chain — the render-side counterpart of the decoder's splice
    contract (decode(wrap(data)) drops the wrapper exactly)."""
    enc = encode_chain(data, names)
    head = f"{obj_num} 0 obj\n<< /Length {len(enc)}{_filter_entries(names)} >>\nstream\n".encode()
    return head + enc + b"\nendstream\nendobj\n"


# ---------------------------------------------------------------------------
# document-buffer rewrite
# ---------------------------------------------------------------------------


def _int(digits: bytes | str) -> int | None:
    """A digit run's value; None when it is too long for ``int()``: such
    a number names no object or length (dirt, not a bomb)."""
    try:
        return int(digits)
    except ValueError:
        return None


class ObjectIndex:
    """objnum → (generation, body start, body end) for one buffer's first
    ``MAX_OBJECTS`` ``N G obj`` headers (no xref), read in one pass on
    demand: :meth:`get` reads only as far as the number's first
    definition, which wins as in the splice pass; :meth:`items` reads
    to the end. A body ends at the next ``endobj`` or header, so bodies
    never overlap."""

    def __init__(self, buf: bytes):
        self.buf = buf
        self._seen: dict[int, tuple[int, int, int]] = {}
        self._entries = self._read(buf)
        self._ends: dict[int, int] = {}

    def dict_extent(self, start: int) -> int:
        """:func:`_dict_extent` in this buffer, every scan sharing one
        memo of dict and string ends."""
        return _dict_extent(self.buf, start, self._ends)

    @staticmethod
    def _read(buf: bytes):
        m = _OBJ_HDR.search(buf)
        for _ in range(MAX_OBJECTS):
            if m is None:
                return
            edge = _OBJ_EDGE.search(buf, m.end())
            num, gen = _int(m.group(1)), _int(m.group(2))
            if num is not None and gen is not None:
                yield num, (gen, m.end(), len(buf) if edge is None else edge.start())
            if edge is not None and edge.group(1) is None:  # endobj
                edge = _OBJ_HDR.search(buf, edge.end())
            m = edge

    def get(self, num: int | None) -> tuple[int, int, int] | None:
        if num not in self._seen:
            for n, entry in self._entries:
                self._seen.setdefault(n, entry)
                if n == num:
                    break
        return self._seen.get(num)

    def items(self):
        self.get(None)  # no object has number None: reads every header
        return self._seen.items()


def _skip_ws(buf: bytes, i: int) -> int:
    return _WS_RUN.match(buf, i).end()


# past ordinary bytes and lone '>' to one dict delimiter: open, close, a
# hex string, a hex string cut by the end of the buffer, a literal
# string's opening paren
_DICT_STEP = re.compile(
    rb"(?:[^<>(]++|>(?!>))*+(?:(?P<open><<)|(?P<close>>>)|(?P<hex><[^>]*+>)|(?P<cut><)|(?P<lit>\())"
)
# inside a literal string: everything up to the next unescaped paren
_STR_STEP = re.compile(rb"(?:[^()\\]++|\\.)*+[()]", re.S)


def _dict_extent(buf: bytes, start: int, ends: dict[int, int] | None = None) -> int:
    """End index (exclusive) of the ``<<…>>`` dict at ``start``,
    honoring nesting, literal strings (escapes, nested parens) and hex
    strings, one pattern match per delimiter. ``ValueError`` when
    unterminated.

    ``ends`` is a memo for one buffer (:meth:`ObjectIndex.dict_extent`):
    where each dict and literal string a scan opened ends, or -1 when it
    never does. Where a dict or string ends depends only on where it
    starts, so a later scan jumps over every one an earlier scan
    passed; scans from every dict start of a buffer whose dicts nest or
    stay open then cost one pass between them, not one pass each."""
    if ends is None:
        ends = {}
    depth = 0
    pos = start
    dicts: list[int] = []  # open dicts' starts, innermost last
    strs: list[int] = []  # open literal strings' starts, innermost last
    try:
        while True:
            if strs:
                step = _STR_STEP.match(buf, pos)
                if step is None:
                    raise ValueError("unterminated string in dict")
                pos = step.end()
                if buf[pos - 1] == 0x29:  # ')'
                    ends[strs.pop()] = pos
                elif (end := ends.get(pos - 1)) is None:
                    strs.append(pos - 1)
                elif end < 0:
                    raise ValueError("unterminated string in dict")
                else:
                    pos = end
                continue
            m = _DICT_STEP.match(buf, pos)
            if m is None:
                raise ValueError("unterminated dict")
            pos = m.end()
            kind = m.lastgroup
            if kind == "close":
                depth -= 1
                if dicts:
                    ends[dicts.pop()] = pos
                if depth == 0:
                    return pos
            elif kind == "cut":
                raise ValueError("unterminated hex string in dict")
            elif kind == "lit":
                end = ends.get(pos - 1)
                if end is None:
                    strs.append(pos - 1)
                elif end < 0:
                    raise ValueError("unterminated string in dict")
                else:
                    pos = end
            elif kind == "open":
                end = ends.get(pos - 2)
                # a known end holds only from depth >= 0: a scan that
                # starts inside a dict returns at the first close that
                # takes its depth back to 0
                if end is None or depth < 0:
                    depth += 1
                    dicts.append(pos - 2)
                elif end < 0:
                    raise ValueError("unterminated dict")
                else:
                    pos = end
                    if depth == 0:
                        return pos
    except ValueError:
        for p in dicts + strs:
            ends[p] = -1
        raise


def _parse_filters(d: bytes) -> tuple[bytes, ...] | None:
    m = _FILTER.search(d)
    if m is None:
        return None
    if m.group("one") is not None:
        return (m.group("one"),)
    return tuple(_NAME.findall(m.group("arr")))


# --- predictors (§7.4.4.4, LZWDecode/FlateDecode parameter): PNG
# predictors 10–15 (per-row filter byte, same five filters as the PNG
# scanline codec in operators/multimodal.py) and TIFF predictor 2
# (horizontal differencing). Writers apply these before compression to
# improve ratios; decode post-processes the inflated bytes.

_DPARMS = re.compile(rb"/DecodeParms[ \t\r\n\f\x00]*<<")
_INT_KEY = re.compile(
    rb"/(Predictor|Columns|Colors|BitsPerComponent|EarlyChange)[ \t\r\n\f\x00]+(\d+)"
)


def _parse_decode_parms(d: bytes) -> dict[bytes, int] | None:
    m = _DPARMS.search(d)
    if m is None:
        return None
    try:
        sub_end = _dict_extent(d, m.end() - 2)
    except ValueError:
        return None
    sub = d[m.end() - 2 : sub_end]
    out: dict[bytes, int] = {}
    for km in _INT_KEY.finditer(sub):
        out.setdefault(km.group(1), int(km.group(2)))  # the first of each key
    return out or None


def _lane_cumsum(rows: np.ndarray, bpp: int) -> np.ndarray:
    """The Sub recurrence ``x[i] += x[i - bpp]`` over every row of
    ``rows`` at once: one mod-256 cumsum per byte lane."""
    h, w = rows.shape
    return rows.reshape(h, w // bpp, bpp).cumsum(axis=1, dtype=np.uint8).reshape(h, w)


def png_unfilter(data: bytes, row_w: int, bpp: int) -> np.ndarray:
    """Undo PNG row filtering over a whole buffer of ``1 + row_w``-byte
    rows, each led by its filter tag (the tag in the data wins):
    ``(rows, row_w)`` uint8. None and Sub rows read no other row, so
    they run vectorized across the buffer; each run of Up rows is one
    column cumsum on top of the row above the run; Average and Paeth
    rows read their own left neighbours and run one sequential loop per
    row. Raises ``ValueError`` on a truncated row or a tag above 4."""
    if len(data) % (row_w + 1):
        raise ValueError("PNG unfilter: truncated row")
    rows = np.frombuffer(data, np.uint8).reshape(-1, row_w + 1)
    tags = rows[:, 0]
    if tags.size and tags.max() > 4:
        raise ValueError(f"PNG unfilter: bad filter tag {tags.max()}")
    out = rows[:, 1:].copy()
    sub = np.flatnonzero(tags == 1)
    if sub.size:
        out[sub] = _lane_cumsum(out[sub], bpp)
    # rows that read the row above, in order: (start, end) per Up run,
    # (row, row + 1) per Average/Paeth row
    up = np.concatenate(([False], tags == 2, [False]))
    edges = np.flatnonzero(up[1:] != up[:-1]).tolist()
    steps = list(zip(edges[0::2], edges[1::2]))
    steps += [(r, r + 1) for r in np.flatnonzero(tags > 2).tolist()]
    for r, end in sorted(steps):
        prev = out[r - 1] if r else np.zeros(row_w, np.uint8)
        if tags[r] == 2:  # Up: uint8 adds wrap mod 256
            out[r:end] = np.cumsum(out[r:end], axis=0, dtype=np.uint8) + prev
            continue
        row, above, avg = bytearray(out[r].tobytes()), prev.tobytes(), tags[r] == 3
        for i in range(row_w):
            a = row[i - bpp] if i >= bpp else 0
            if avg:  # Average
                row[i] = (row[i] + ((a + above[i]) >> 1)) & 0xFF
                continue
            b = above[i]  # Paeth
            c = above[i - bpp] if i >= bpp else 0
            p = a + b - c
            pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
            pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
            row[i] = (row[i] + pred) & 0xFF
        out[r] = np.frombuffer(row, np.uint8)
    return out


def apply_predictor(data: bytes, predictor: int, columns: int = 1, colors: int = 1, bpc: int = 8) -> bytes:
    """Undo a §7.4.4.4 predictor on decompressed bytes. Predictor 1 is
    identity, 2 is TIFF horizontal differencing (the Sub recurrence per
    row, no tag bytes; a short final row is undone as far as it goes),
    ≥10 is PNG (:func:`png_unfilter`)."""
    if predictor <= 1:
        return data
    if bpc != 8:
        raise ValueError(f"predictor with BitsPerComponent={bpc} not supported")
    row_w = columns * colors  # bytes per row at 8 bpc
    if row_w <= 0:
        raise ValueError("predictor with non-positive Columns")
    if predictor == 2:
        n = len(data)
        if colors >= n:  # no byte has a left neighbour in its lane
            return data
        # zero-pad the short final row to a whole row (padding past a
        # prefix sum never changes the bytes before it); a row wider
        # than the data is one short row
        row_w = min(row_w, -(-n // colors) * colors)
        buf = np.zeros(-(-n // row_w) * row_w, np.uint8)
        buf[:n] = np.frombuffer(data, np.uint8)
        return _lane_cumsum(buf.reshape(-1, row_w), colors).tobytes()[:n]
    if predictor < 10 or predictor > 15:
        raise ValueError(f"unknown predictor {predictor}")
    if not data:
        return data
    return png_unfilter(data, row_w, colors).tobytes()


def encode_predictor(data: bytes, predictor: int, columns: int = 1, colors: int = 1) -> bytes:
    """Forward predictor (test/render side). PNG predictors emit the
    single fixed filter type ``predictor-10`` per row (a legal,
    deterministic choice; decoders must honor the per-row tag)."""
    if predictor <= 1:
        return data
    stride = colors
    row_w = columns * colors
    if predictor == 2:
        out = bytearray(data)
        n = len(out)
        for r0 in range(0, n, row_w):
            end = min(r0 + row_w, n)
            for i in range(end - 1, r0 + stride - 1, -1):
                out[i] = (out[i] - out[i - stride]) & 0xFF
        return bytes(out)
    if predictor < 10 or predictor > 15:
        raise ValueError(f"unsupported predictor {predictor}")
    # 15 = "optimum" (encoder's per-row choice); any legal tag is a
    # correct choice — use Paeth. Decode honors the per-row tag.
    ftype = min(predictor - 10, 4)
    if len(data) % row_w:
        # padding would survive decode and break byte-identity; the
        # writer (tests / render) must pick Columns that divide the
        # payload — Columns=1 always does
        raise ValueError("predictor encode requires row-aligned data")
    out = bytearray()
    prev = bytearray(row_w)
    for r0 in range(0, len(data), row_w):
        row = data[r0 : r0 + row_w]
        enc = bytearray(row)
        if ftype == 0:
            pass
        elif ftype == 1:
            for i in range(row_w - 1, stride - 1, -1):
                enc[i] = (enc[i] - row[i - stride]) & 0xFF
        elif ftype == 2:
            for i in range(row_w):
                enc[i] = (enc[i] - prev[i]) & 0xFF
        elif ftype == 3:
            for i in range(row_w - 1, -1, -1):
                left = row[i - stride] if i >= stride else 0
                enc[i] = (enc[i] - ((left + prev[i]) >> 1)) & 0xFF
        elif ftype == 4:
            for i in range(row_w - 1, -1, -1):
                a = row[i - stride] if i >= stride else 0
                b = prev[i]
                c = prev[i - stride] if i >= stride else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                enc[i] = (enc[i] - pred) & 0xFF
        else:
            raise ValueError(f"unsupported predictor {predictor}")
        out.append(ftype)
        out += enc
        prev = bytearray(row)
    return bytes(out)


_EOL = re.compile(rb"\r\n?|\n?")


def _consume_eol(buf: bytes, i: int) -> int:
    return _EOL.match(buf, i).end()


def read_stream_object(objs: ObjectIndex, start: int) -> tuple[bytes, bytes | None, int] | None:
    """Read the object body that follows an ``N G obj`` header ending at
    ``start`` in ``objs``'s buffer: ``(dict, payload, end)``, ``end``
    being past ``endstream``/``endobj`` plus one EOL. The EOL after the
    ``stream`` keyword may be CRLF, LF or a lone CR. The first
    ``/Length`` wins when truthful and direct, or a reference to a
    same-generation integer object found through ``objs``; otherwise
    scan for the ``endstream`` keyword (the pypdf fallback). ``payload``
    is None when the dict is not followed by ``stream`` (``end`` is then
    the dict's end) or when no ``endstream`` follows (hopeless
    truncation: ``end`` is the end of the buffer). None when no
    complete ``<<…>>`` dict starts there."""
    content = objs.buf
    i = _skip_ws(content, start)
    if content[i : i + 2] != b"<<":
        return None
    try:
        dend = objs.dict_extent(i)
    except ValueError:
        return None
    d = content[i:dend]
    j = _skip_ws(content, dend)
    if content[j : j + 6] != b"stream":
        return d, None, dend
    j = _consume_eol(content, j + 6)
    n = len(content)
    data: bytes | None = None
    length: int | None = None
    lm = _LENGTH.search(d)
    if lm is not None and lm.group(2) is None:
        length = _int(lm.group(1))
    elif lm is not None and (hit := objs.get(_int(lm.group(1)))) and hit[0] == _int(lm.group(2)):
        body = _INT_BODY.fullmatch(content, hit[1], hit[2])
        length = None if body is None else _int(body.group(1))
    if length is not None and length <= n - j:
        k = _skip_ws(content, j + length)
        if content[k : k + 9] == b"endstream":
            data, end = content[j : j + length], k + 9
    if data is None:
        e = content.find(b"endstream", j)
        if e == -1:
            return d, None, n
        data = content[j:e]
        if data.endswith(b"\r\n"):
            data = data[:-2]
        elif data.endswith((b"\n", b"\r")):
            data = data[:-1]
        end = e + 9
    k2 = _skip_ws(content, end)
    if content[k2 : k2 + 6] == b"endobj":
        end = k2 + 6
    return d, data, _consume_eol(content, end)


def _decode_stream_data(data: bytes, d: bytes, budget: int) -> bytes:
    """Run ``data`` through the dict's ``/Filter`` chain, applying a
    ``/DecodeParms`` predictor after the Flate/LZW stage (§7.4.4.4).
    No ``/Filter`` returns the payload unchanged. Raises
    ``_Unsupported`` on a legal-but-undecodable filter (DCTDecode …),
    ``ValueError`` on corrupt payloads, ``StreamBombError`` past the
    budget."""
    filters = _parse_filters(d)
    if filters is None:
        return data
    parms = _parse_decode_parms(d)
    decoded = data
    predictor_pending = parms is not None and parms.get(b"Predictor", 1) > 1
    for nm in filters:
        dec = _DECODERS.get(nm)
        if dec is None:
            raise _Unsupported()
        if nm in (b"LZWDecode", b"LZW") and parms is not None:
            # §7.4.4.2 table 8: /EarlyChange 0 defers the code-width
            # bump by one code (default 1 bumps early)
            decoded = lzw_decode(decoded, budget, early=parms.get(b"EarlyChange", 1))
        else:
            decoded = dec(decoded, budget)
        if predictor_pending and nm in (b"FlateDecode", b"Fl", b"LZWDecode", b"LZW"):
            decoded = apply_predictor(
                decoded,
                parms.get(b"Predictor", 1),
                parms.get(b"Columns", 1),
                parms.get(b"Colors", 1),
                parms.get(b"BitsPerComponent", 8),
            )
            predictor_pending = False
    return decoded


def _rewrite_stream_objects(content: bytes, rewrite, max_decoded: int) -> bytes:
    """The one walk over a buffer's indirect objects. Each stream
    object's ``(dict, payload)`` goes to ``rewrite`` with the remaining
    budget; it returns the bytes that replace the whole object (header
    through ``endobj`` plus one EOL) or None to keep the object as it
    is. A rewrite that fails on ordinary dirt (``ValueError``,
    ``_Unsupported``) replaces the object with nothing; a
    ``StreamBombError`` propagates. Non-stream objects pass through;
    a stream with no ``endstream`` ends the walk with the rest of the
    buffer untouched."""
    out: list[bytes] = []
    pos = 0
    budget = max_decoded
    objs = ObjectIndex(content)
    while True:
        m = _OBJ_HDR.search(content, pos)
        if m is None:
            out.append(content[pos:])
            break
        obj = read_stream_object(objs, m.end())
        if obj is None:
            out.append(content[pos : m.end()])
            pos = m.end()
            continue
        d, data, end = obj
        new = None
        if data is not None:
            try:
                new = rewrite(d, data, budget)
            except StreamBombError:
                raise
            except (ValueError, _Unsupported):
                new = b""
        if new is None:
            # kept: resume past the object (past a payload, binary
            # bytes never alias an object header)
            out.append(content[pos:end])
        else:
            budget -= len(new)
            out.append(content[pos : m.start()])
            out.append(new)
        pos = end
    return b"".join(out)


def _decode_filtered(d: bytes, data: bytes, budget: int) -> bytes | None:
    """Filter pass: a filtered stream object becomes its decoded
    payload; an unfiltered one is kept."""
    if _parse_filters(d) is None:
        return None
    return _decode_stream_data(data, d, budget)


def decode_content_filters(content: bytes, max_decoded: int = MAX_DECODED_BYTES) -> bytes:
    """Rewrite ``content``, replacing every filtered stream object with
    its decoded payload (see module docstring for the splice and error
    contracts). PDF-1.5 compressed-object containers are normalized
    first (:func:`_expand_container`), so indirect ``/Length`` integers
    stored inside an ObjStm resolve against the expanded buffer.
    Buffers without any of the trigger substrings return unchanged."""
    if b"stream" not in content:
        return content
    if b"/ObjStm" in content or b"/XRef" in content:
        content = _rewrite_stream_objects(content, _expand_container, max_decoded)
    if b"/Filter" not in content:
        return content
    return _rewrite_stream_objects(content, _decode_filtered, max_decoded)


def decode_or_poison(content: bytes) -> bytes:
    """The one entry the kernels call: the plain buffer of ``content``,
    or ``b""`` when decoding poisons the document (a budget-cap bomb
    raises ``ValueError``; the caller yields it text-free, the
    hostile-media poison-row rule). The C-level substring trigger keeps
    the plain corpus at zero added cost. ``decode_content_filters`` is
    looked up at call time, so a wrapper bound to this module's name
    sees every call."""
    if b"stream" in content and (b"/Filter" in content or b"/ObjStm" in content):
        try:
            return decode_content_filters(content)
        except ValueError:
            return b""
    return content


# ---------------------------------------------------------------------------
# PDF-1.5 compressed objects (§7.5.7 object streams, §7.5.8 xref streams)
# ---------------------------------------------------------------------------
# Real-world writers since PDF 1.5 pack most non-stream objects —
# the /Info dict, page dicts, the indirect /Length integers — inside
# /Type /ObjStm streams, and replace the classic xref table with a
# binary /Type /XRef stream (pypdf reads both transparently; ref
# app/services/pdf_processor.py:364 extract via pypdf). For the
# linear-scan reader the normalization is a pre-pass over the buffer:
# each ObjStm expands to canonical ``N 0 obj\n<body>\nendobj\n``
# objects (exactly the shape the plain renderer writes, so an ObjStm
# render decodes to the byte-identical classic buffer and the flagship
# span fixture pins this path with no regeneration), and each XRef
# stream — pure file-offset bookkeeping a sequential scan never needs —
# drops whole. Corrupt containers follow the per-stream dirt rule:
# that object contributes nothing, the rest of the document extracts.

_TYPE_OBJSTM = re.compile(rb"/Type[ \t\r\n\f\x00]*/ObjStm(?![A-Za-z0-9])")
_TYPE_XREF = re.compile(rb"/Type[ \t\r\n\f\x00]*/XRef(?![A-Za-z0-9])")
_OBJSTM_N = re.compile(rb"/N[ \t\r\n\f\x00]+(\d+)(?![0-9])")
_OBJSTM_FIRST = re.compile(rb"/First[ \t\r\n\f\x00]+(\d+)(?![0-9])")


def _emit_objstm_objects(payload: bytes, d: bytes) -> bytes:
    """Re-serialize an ObjStm's contained objects in canonical classic
    form. §7.5.7: the first ``/First`` bytes are ``/N`` whitespace-
    separated (objnum, offset) integer pairs, offsets relative to
    ``/First`` and strictly increasing; each object's extent runs to
    the next offset (last → end of payload)."""
    nm = _OBJSTM_N.search(d)
    fm = _OBJSTM_FIRST.search(d)
    if nm is None or fm is None:
        raise ValueError("ObjStm: missing /N or /First")
    n_objs = int(nm.group(1))
    first = int(fm.group(1))
    if n_objs <= 0 or first > len(payload):
        raise ValueError("ObjStm: /N or /First out of range")
    header = payload[:first].split()
    if len(header) < 2 * n_objs:
        raise ValueError("ObjStm: short pair table")
    try:
        pairs = [(int(header[2 * k]), int(header[2 * k + 1])) for k in range(n_objs)]
    except ValueError:
        raise ValueError("ObjStm: non-integer pair table") from None
    prev = -1
    for _num, off in pairs:
        if off <= prev:
            raise ValueError("ObjStm: offsets not strictly increasing")
        prev = off
    if first + pairs[-1][1] > len(payload):
        raise ValueError("ObjStm: offset beyond payload")
    out: list[bytes] = []
    for k, (num, off) in enumerate(pairs):
        stop = first + pairs[k + 1][1] if k + 1 < n_objs else len(payload)
        body = payload[first + off : stop].strip(_WS)
        out.append(b"%d 0 obj\n%s\nendobj\n" % (num, body))
    return b"".join(out)


def _expand_container(d: bytes, data: bytes, budget: int) -> bytes | None:
    """ObjStm/XRef pre-pass: an ``/Type /ObjStm`` stream expands to its
    objects, an ``/Type /XRef`` stream drops whole, anything else is
    kept (ordinary filtered streams are the filter pass's job)."""
    if _TYPE_XREF.search(d) is not None:
        return b""
    if _TYPE_OBJSTM.search(d) is None:
        return None
    return _emit_objstm_objects(_decode_stream_data(data, d, budget), d)


def objstm_object_bytes(
    objects: list[tuple[int, bytes]],
    names: tuple[str, ...] = ("FlateDecode",),
    obj_num: int = 90,
) -> bytes:
    """Pack ``(objnum, serialized body)`` pairs into a ``/Type /ObjStm``
    stream object (render/test side). The expansion contract:
    ``_emit_objstm_objects`` re-serializes each as canonical
    ``N 0 obj\\n<body>\\nendobj\\n`` — so a document that stores, say,
    its Info dict in an ObjStm decodes to the byte-identical classic
    buffer (bodies must carry no leading/trailing whitespace).
    ``names=()`` writes the stream uncompressed (legal per §7.5.7)."""
    bodies = [body for _n, body in objects]
    offs: list[int] = []
    acc = 0
    for b in bodies:
        offs.append(acc)
        acc += len(b) + 1  # one separator newline per body
    header = (" ".join(f"{n} {o}" for (n, _b), o in zip(objects, offs)) + "\n").encode()
    payload = header + b"\n".join(bodies) + b"\n"
    first = len(header)
    enc = encode_chain(payload, names)
    head = (
        f"{obj_num} 0 obj\n<< /Type /ObjStm /N {len(objects)} /First {first} "
        f"/Length {len(enc)}{_filter_entries(names)} >>\nstream\n"
    ).encode()
    return head + enc + b"\nendstream\nendobj\n"


def xref_stream_bytes(n_entries: int = 4, obj_num: int = 200) -> bytes:
    """A minimal §7.5.8 cross-reference stream: ``W [1 2 1]`` rows,
    FlateDecode with the PNG-Up predictor over ``Columns 4`` — the
    shape every PDF-1.5 writer emits. A linear-scan reader takes no
    content from it; ``decode_content_filters`` drops the whole object
    (so appending one to a render leaves the decoded buffer
    byte-identical)."""
    rows = b"".join(
        b"\x01" + (10 + 50 * k).to_bytes(2, "big") + b"\x00" for k in range(n_entries)
    )
    enc = flate_encode(encode_predictor(rows, 12, columns=4))
    head = (
        f"{obj_num} 0 obj\n<< /Type /XRef /Size {n_entries} /W [ 1 2 1 ] /Root 1 0 R "
        f"/Length {len(enc)} /Filter /FlateDecode "
        f"/DecodeParms << /Predictor 12 /Columns 4 >> >>\nstream\n"
    ).encode()
    return head + enc + b"\nendstream\nendobj\n"
