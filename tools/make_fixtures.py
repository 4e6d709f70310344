"""Generate expected-value parquet fixtures for the non-SQL-expressible
gate queries, using INDEPENDENT pure-Python reimplementations:

- ``oracle_xxh.xxh64`` (spec XXH64, validated against F.xxhash64) for
  every hash-derived operator (MinHash banding, SimHash, winnowing),
- the logical render/boilerplate oracle for the span pipeline (mirrors
  sources/render.py geometry + oracle.boilerplate_keys, NOT the Spark
  tokenizer),
- sequential-left-fold cosine arithmetic matching the engine's
  ``aggregate(zip_with(...))`` expression bit-for-bit,
- Spark-``round`` semantics (BigDecimal HALF_UP on the shortest decimal
  repr) where the engine rounds.

Each fixture holds the exact expected result frame of one queries.py
entry over /root/testdata/sf0.01; queries.py registers
``SELECT * FROM read_parquet(<fixture>)`` as the DuckDB oracle.

Usage: python tools/make_fixtures.py [sf_dir] [out_dir]
Regenerate whenever render/boilerplate/hash semantics change.
"""

from __future__ import annotations

import hashlib
import io
import math
import re
import struct
import sys
import wave
from decimal import ROUND_HALF_UP, Decimal
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from insurance_pdf_extractor_spark import oracle
from insurance_pdf_extractor_spark.oracle_xxh import xxh64, xxh64_signed

P31 = 2147483647          # shared Mersenne modulus (dedup/text_quality)
WINNOW_B = 1_000_003

# ---------------------------------------------------------------------------
# Spark-semantics helpers
# ---------------------------------------------------------------------------


def spark_round(x: float, scale: int) -> float:
    """F.round(double, s): BigDecimal.valueOf(d) (shortest decimal repr,
    same as Python repr) setScale(s, HALF_UP)."""
    return float(Decimal(repr(float(x))).quantize(Decimal(1).scaleb(-scale), ROUND_HALF_UP))


def javafmt6(x: float) -> str:
    """Java String.format("%%.6f", d): HALF_UP on the exact decimal
    expansion — Python's %.6f rounds half-even (0.4765625 formats as
    ...562 in Python, ...563 in Java)."""
    return f"{Decimal(repr(float(x))).quantize(Decimal('0.000001'), ROUND_HALF_UP):.6f}"


def norm_text(t: str) -> str:
    """dedup.normalize_text_expr: lower(trim(regexp_replace(\\s+, ' ')))
    with JAVA \\s = [ \\t\\n\\x0b\\f\\r] and trim = spaces only."""
    return re.sub(r"[ \t\n\x0b\f\r]+", " ", t).strip(" ").lower()


def words(t: str) -> list[str]:
    return norm_text(t).split(" ")


def fold_dot(a, b) -> float:
    """dot_expr: left fold of per-element double products."""
    acc = 0.0
    for x, y in zip(a, b):
        acc += float(x) * float(y)
    return acc


def cosine(a, b) -> float:
    return fold_dot(a, b) / (math.sqrt(fold_dot(a, a)) * math.sqrt(fold_dot(b, b)))


def pmod31(v: int) -> int:
    return v % P31  # Python % floors; equals Spark pmod for positive modulus


# ---------------------------------------------------------------------------
# hash-pipeline oracles
# ---------------------------------------------------------------------------


def token_hashes31(t: str) -> list[int]:
    return [pmod31(xxh64_signed(w)) for w in words(t)]


def kgram_hashes(h: list[int], k: int) -> list[int]:
    if len(h) < k:
        return []
    coeffs = [pow(WINNOW_B, k - 1 - j, P31) for j in range(k)]
    n = len(h) - k + 1
    return [sum(h[i + j] * coeffs[j] % P31 for j in range(k)) % P31 for i in range(n)]


def winnow(grams: list[int], window: int) -> list[int]:
    if not grams:
        return []
    if len(grams) < window:
        return sorted({min(grams)})
    mins = [min(grams[i : i + window]) for i in range(len(grams) - window + 1)]
    return sorted(set(mins))


def minhash_sig(t: str, k: int = 3, n_hashes: int = 64) -> list[int]:
    h = token_hashes31(t)
    grams = kgram_hashes(h, k)
    if not grams:
        return [P31] * n_hashes
    A = [(i * 2 + 1) % P31 for i in range(n_hashes)]
    B = [(i * 0x9E3779B9) % P31 for i in range(n_hashes)]
    return [min((g * A[i] + B[i]) % P31 for g in grams) for i in range(n_hashes)]


def simhash(t: str) -> int:
    toks = words(t)
    if not toks:
        return 0
    ones = [0] * 64
    for w in toks:
        u = xxh64(w.encode("utf-8"))
        for b in range(64):
            ones[b] += (u >> b) & 1
    n = len(toks)
    fp = 0
    for b in range(64):
        if 2 * ones[b] - n > 0:
            fp |= 1 << b
    return fp - (1 << 64) if fp >= (1 << 63) else fp


# ---------------------------------------------------------------------------
# span-pipeline oracle (mirrors sources/render.py geometry; the
# boilerplate rule comes from oracle.boilerplate_keys — the engine's
# tokenizer/layout/strip kernels are never invoked here)
# ---------------------------------------------------------------------------

WORDS_PER_LINE = 10
LINES_PER_PAGE = 18


def _esc(s: str) -> str:
    return s.replace("\\", "\\\\").replace("(", "\\(").replace(")", "\\)")


# --- font-encoding mirror (independent reimplementation of the
# renderer's cipher/CID emission; byte-identity with the engine's
# DECODED buffer is pinned by tests/test_fonts.py) ---------------------

_FX_CIPHER = {}
for _i in range(26):
    _FX_CIPHER[chr(97 + _i)] = chr(0xA1 + _i)
    _FX_CIPHER[chr(65 + _i)] = chr(0xC1 + _i)
for _i in range(10):
    _FX_CIPHER[chr(48 + _i)] = chr(0xE0 + _i)

_FX_DIFFS = (
    " ".join(f"{0xA1 + i} /{chr(97 + i)}" for i in range(26))
    + " "
    + " ".join(f"{0xC1 + i} /{chr(65 + i)}" for i in range(26))
    + " "
    + " ".join(f"{0xE0 + i} /uni{0x30 + i:04X}" for i in range(10))
)

_FX_CMAP = (
    b"/CIDInit /ProcSet findresource begin\n"
    b"12 dict begin\nbegincmap\n"
    b"1 begincodespacerange\n<0000> <FFFF>\nendcodespacerange\n"
    b"1 beginbfrange\n<0120> <017E> <0020>\nendbfrange\n"
    b"endcmap\nend\nend\n"
)


def _fx_font_preamble_decoded(encoding: str) -> bytes:
    """The font preamble AS IT APPEARS IN THE DECODED BUFFER (the
    filter splice replaces the compressed ToUnicode stream object with
    exactly its raw CMap payload) — only its length shifts span
    offsets; it emits no spans itself."""
    if encoding == "differences":
        font = (
            b"9001 0 obj\n<< /Type /Font /Subtype /Type1 /BaseFont /SparkGraft-Cipher"
            b" /Encoding << /BaseEncoding /WinAnsiEncoding /Differences [ "
            + _FX_DIFFS.encode()
            + b" ] >> >>\nendobj\n"
        )
        extra = b""
    else:  # cid
        font = (
            b"9001 0 obj\n<< /Type /Font /Subtype /Type0 /BaseFont /SparkGraft-CID"
            b" /Encoding /Identity-H /ToUnicode 9003 0 R >>\nendobj\n"
        )
        extra = _FX_CMAP
    return font + b"9002 0 obj\n<< /Font << /F1 9001 0 R >> >>\nendobj\n" + extra


def _fx_show_token(s: str, encoding: str | None) -> bytes:
    if encoding == "differences":
        enc = "".join(_FX_CIPHER.get(c, c) for c in s)
        return ("(" + _esc(enc) + ")").encode("latin-1")
    if encoding == "cid":
        return ("<" + "".join(f"{0x0100 + ord(c):04X}" for c in s) + ">").encode()
    return ("(" + _esc(s) + ")").encode()


def expected_spans(
    doc_id: str, text: str, encoding: str | None = None
) -> list[tuple[str, str, str | None, int]]:
    """(kind, text, media_ref, offset) sequence the pipeline must emit
    for one rendered document."""
    from insurance_pdf_extractor_spark.sources.render import default_metadata

    ws = (text or "").split()
    lines = [
        " ".join(ws[i : i + WORDS_PER_LINE]) for i in range(0, len(ws), WORDS_PER_LINE)
    ] or [""]
    pages = [lines[i : i + LINES_PER_PAGE] for i in range(0, len(lines), LINES_PER_PAGE)]
    n_pages = len(pages)

    meta = default_metadata(doc_id)
    body = " ".join(f"/{k} ({_esc(v)})" for k, v in meta.items())
    out = bytearray(b"%PDF-1.4\n")
    out += f"1 0 obj\n<< {body} >>\nendobj\n".encode()
    if encoding:
        out += _fx_font_preamble_decoded(encoding)
    tok0 = b"(" if encoding != "cid" else b"<"  # show-token start byte

    logical_pages: list[list[str]] = []
    line_records: list[tuple[int, str, int]] = []  # (page, text, offset)
    for pg, pg_lines in enumerate(pages):
        logical: list[str] = []
        out += f"%%PAGE {pg}\n".encode()
        title = f"Document {doc_id}"
        block = (
            b"BT\n/F1 12 Tf\n1 0 0 1 72.0 760.0 Tm\n"
            + _fx_show_token(title, encoding)
            + b" Tj\nET\n"
        )
        line_records.append((pg, title, len(out) + block.index(tok0)))
        logical.append(title)
        out += block
        y = 740.0
        for line in pg_lines:
            block = (
                f"BT\n72.0 {y:.1f} Td\n".encode()
                + _fx_show_token(line, encoding)
                + b" Tj\nET\n"
            )
            line_records.append((pg, line, len(out) + block.index(tok0)))
            logical.append(line)
            out += block
            y -= 20.0
        footer = f"Page {pg + 1} of {n_pages}"
        block = (
            f"BT\n72.0 {y:.1f} Td\n".encode()
            + _fx_show_token(footer, encoding)
            + b" Tj\nET\n"
        )
        line_records.append((pg, footer, len(out) + block.index(tok0)))
        logical.append(footer)
        out += block
        logical_pages.append(logical)

    strip = oracle.boilerplate_keys(logical_pages) if n_pages >= 2 else set()
    spans = [
        ("text", txt, None, off)
        for _pg, txt, off in line_records
        if oracle.normalize_line(txt) not in strip
    ]
    spans.sort(key=lambda s: s[3])
    return spans


# --- HTML mirror (independent reimplementation of the renderer's HTML
# template geometry — round 5 interleaved-format corpus). Byte-identity
# with sources/render.render_html is pinned by tests/test_html.py; the
# repeated-line rule comes from oracle.normalize_line, and the
# link-density drop is mirrored structurally (the tags row is the only
# main-content block the renderer builds above the threshold).
# ---------------------------------------------------------------------------

_HTML_WORDS_PER_PARA = 30
_HTML_MEDIA_EVERY = 3
_HTML_AD_EVERY = 4
_HTML_REPEAT_MIN = 3


def _esc_h(s: str) -> str:
    return s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")


def _fx_charset(doc_id: str) -> str:
    return (
        "cp1252"
        if hashlib.md5(doc_id.encode("utf-8")).hexdigest()[22] in "0123"
        else "utf-8"
    )


def _fx_html_word(word: str, j: int) -> str:
    w = _esc_h(word)
    if j % 11 == 3:
        return f"<b>{w}</b>"
    if j % 11 == 7 and len(word) <= 8:
        return f'<a href="/w/{j}">{w}</a>'
    if j % 13 == 5:
        return f"<em>{w}</em>"
    return w


def expected_html_spans(
    doc_id: str, text: str
) -> list[tuple[str, str | None, str | None, int]]:
    """(kind, text, media_ref, offset) sequence for one HTML-rendered
    document: rebuild the page byte-by-byte, record each main-content
    block's first-content-byte offset and each <img>'s '<' offset, then
    apply the repeated-line frequency rule over the surviving blocks."""
    words = (text or "").split()
    paras = [
        words[i : i + _HTML_WORDS_PER_PARA]
        for i in range(0, len(words), _HTML_WORDS_PER_PARA)
    ]
    cs = _fx_charset(doc_id)
    meta_cs = "windows-1252" if cs == "cp1252" else "utf-8"
    out = bytearray()
    out += (
        "<!DOCTYPE html>\n"
        f'<html lang="en">\n<head>\n<meta charset="{meta_cs}">\n'
        f"<title>Document {_esc_h(doc_id)}</title>\n"
        f'<meta name="author" content="Author {_esc_h(doc_id)}">\n'
        f'<meta name="description" content="Insurance quote {_esc_h(doc_id)}'
        f' &mdash; {len(words)} words">\n'
        f'<meta property="og:title" content="Document {_esc_h(doc_id)}">\n'
        "<style>\nbody { font: 14px/1.4 serif; }\n/* decoy: <p>styled</p> (x) Tj */\n</style>\n"
        '<script type="text/javascript">\nvar decoy = "<p>not content</p>";'
        ' if (2 < 3 && 4 > 1) { render("BT (x) Tj ET"); }\n</script>\n'
        "</head>\n<body>\n"
        '<header><h1><a href="/">Acme Insurance Portal</a></h1>\n'
        '<nav><ul><li><a href="/quotes">Quotes</a></li><li><a href="/claims">Claims</a></li>'
        '<li><a href="/support">Support</a></li></ul></nav>\n'
        "</header>\n"
        f"<!-- build {_esc_h(doc_id)}: <div>ghost block</div> -->\n"
        "<main>\n"
    ).encode(cs, "replace")

    blocks: list[tuple[int, str]] = []  # (offset, collapsed text) pre-frequency
    media: list[tuple[str, int]] = []

    h1 = f"<h1>Document {_esc_h(doc_id)}</h1>\n"
    blocks.append((len(out) + len("<h1>"), f"Document {doc_id}"))
    out += h1.encode(cs, "replace")

    for i, chunk in enumerate(paras):
        full = len(chunk) == _HTML_WORDS_PER_PARA
        base = i * _HTML_WORDS_PER_PARA
        body = " ".join(
            _fx_html_word(w, base + j) if full else _esc_h(w) for j, w in enumerate(chunk)
        )
        open_tag = f'<p id="para-{i}">'
        prefix = f"\xa7{i + 1}\xa0" if cs == "cp1252" else f"&sect;{i + 1}&nbsp;"
        blocks.append((len(out) + len(open_tag), f"§{i + 1} " + " ".join(chunk)))
        out += f"{open_tag}{prefix}{body}</p>\n".encode(cs, "replace")
        if (i + 1) % _HTML_MEDIA_EVERY == 0:
            k = (i + 1) // _HTML_MEDIA_EVERY - 1
            ref = f"media:{_esc_h(doc_id)}/{k}"
            kk = k + int(hashlib.md5(doc_id.encode("utf-8")).hexdigest()[20:22], 16)
            if kk % 3 == 0:
                mtag = f'<img src="{ref}" alt="exhibit {k}">'
                m_off = len("<figure>")  # the <img byte
            elif kk % 3 == 1:
                mtag = f'<video src="{ref}" controls></video>'
                m_off = len("<figure>")  # the <video byte
            else:
                mtag = f'<audio controls><source src="{ref}" type="audio/mpeg"></audio>'
                m_off = len("<figure><audio controls>")  # the <source byte
            capword = "r\xe9sum\xe9" if cs == "cp1252" else "chart"
            fig = (
                f"<figure>{mtag}"
                f"<figcaption>Exhibit {k} &mdash; claims {capword}</figcaption></figure>\n"
            )
            media.append((f"media:{doc_id}/{k}", len(out) + m_off))
            cap_off = len(out) + fig.index("<figcaption>") + len("<figcaption>")
            blocks.append((cap_off, f"Exhibit {k} — claims {capword}"))
            out += fig.encode(cs, "replace")
        if (i + 1) % _HTML_AD_EVERY == 0:
            ad = '<div class="ad">Advertisement</div>\n'
            blocks.append((len(out) + len('<div class="ad">'), "Advertisement"))
            out += ad.encode(cs, "replace")
    # the tags row is link-dense (dropped by the density heuristic) and
    # the aside/footer chrome is structurally stripped: none of the
    # trailing template emits spans, so its bytes shift no offsets
    # already recorded.

    counts: dict[str, int] = {}
    keys = [oracle.normalize_line(t) for _off, t in blocks]
    for k in keys:
        counts[k] = counts.get(k, 0) + 1
    spans: list[tuple[str, str | None, str | None, int]] = [
        ("text", t, None, off)
        for (off, t), k in zip(blocks, keys)
        if counts[k] < _HTML_REPEAT_MIN
    ]
    spans += [("media", None, ref, off) for ref, off in media]
    spans.sort(key=lambda s: s[3])
    return spans


def fx_html_bytes(doc_id: str, text: str) -> bytes:
    """Full byte mirror of render_html (for the byte-identity test —
    includes the span-free trailing template)."""
    cs = _fx_charset(doc_id)
    meta_cs = "windows-1252" if cs == "cp1252" else "utf-8"
    words = (text or "").split()
    paras = [
        words[i : i + _HTML_WORDS_PER_PARA]
        for i in range(0, len(words), _HTML_WORDS_PER_PARA)
    ]
    out = bytearray()
    out += (
        "<!DOCTYPE html>\n"
        f'<html lang="en">\n<head>\n<meta charset="{meta_cs}">\n'
        f"<title>Document {_esc_h(doc_id)}</title>\n"
        f'<meta name="author" content="Author {_esc_h(doc_id)}">\n'
        f'<meta name="description" content="Insurance quote {_esc_h(doc_id)}'
        f' &mdash; {len(words)} words">\n'
        f'<meta property="og:title" content="Document {_esc_h(doc_id)}">\n'
        "<style>\nbody { font: 14px/1.4 serif; }\n/* decoy: <p>styled</p> (x) Tj */\n</style>\n"
        '<script type="text/javascript">\nvar decoy = "<p>not content</p>";'
        ' if (2 < 3 && 4 > 1) { render("BT (x) Tj ET"); }\n</script>\n'
        "</head>\n<body>\n"
        '<header><h1><a href="/">Acme Insurance Portal</a></h1>\n'
        '<nav><ul><li><a href="/quotes">Quotes</a></li><li><a href="/claims">Claims</a></li>'
        '<li><a href="/support">Support</a></li></ul></nav>\n'
        "</header>\n"
        f"<!-- build {_esc_h(doc_id)}: <div>ghost block</div> -->\n"
        "<main>\n"
        f"<h1>Document {_esc_h(doc_id)}</h1>\n"
    ).encode(cs, "replace")
    for i, chunk in enumerate(paras):
        full = len(chunk) == _HTML_WORDS_PER_PARA
        base = i * _HTML_WORDS_PER_PARA
        body = " ".join(
            _fx_html_word(w, base + j) if full else _esc_h(w) for j, w in enumerate(chunk)
        )
        prefix = f"\xa7{i + 1}\xa0" if cs == "cp1252" else f"&sect;{i + 1}&nbsp;"
        out += f'<p id="para-{i}">{prefix}{body}</p>\n'.encode(cs, "replace")
        if (i + 1) % _HTML_MEDIA_EVERY == 0:
            k = (i + 1) // _HTML_MEDIA_EVERY - 1
            ref = f"media:{_esc_h(doc_id)}/{k}"
            kk = k + int(hashlib.md5(doc_id.encode("utf-8")).hexdigest()[20:22], 16)
            if kk % 3 == 0:
                mtag = f'<img src="{ref}" alt="exhibit {k}">'
            elif kk % 3 == 1:
                mtag = f'<video src="{ref}" controls></video>'
            else:
                mtag = f'<audio controls><source src="{ref}" type="audio/mpeg"></audio>'
            capword = "r\xe9sum\xe9" if cs == "cp1252" else "chart"
            out += (
                f"<figure>{mtag}"
                f"<figcaption>Exhibit {k} &mdash; claims {capword}</figcaption></figure>\n"
            ).encode(cs, "replace")
        if (i + 1) % _HTML_AD_EVERY == 0:
            out += b'<div class="ad">Advertisement</div>\n'
    out += (
        '<p class="tags"><a href="/t/auto">auto</a> <a href="/t/home">home</a>'
        ' <a href="/t/life">life</a></p>\n'
        "</main>\n"
        '<aside><h2>Related</h2><ul><li><a href="/r/1">Related article one</a></li>'
        '<li><a href="/r/2">Related article two</a></li></ul></aside>\n'
        "<footer><p>&copy; 2026 Acme Insurance Co &middot;"
        ' <a href="/privacy">Privacy</a> &middot; <a href="/terms">Terms</a></p></footer>\n'
        "</body>\n</html>\n"
    ).encode(cs, "replace")
    return bytes(out)


# ---------------------------------------------------------------------------
# fixture builders
# ---------------------------------------------------------------------------


def load_documents(sf_dir: str) -> list[tuple[int, str]]:
    t = pq.read_table(f"{sf_dir}/documents.parquet", columns=["doc_id", "text"])
    return sorted(zip(t.column("doc_id").to_pylist(), t.column("text").to_pylist()))


def load_embeddings(sf_dir: str):
    t = pq.read_table(f"{sf_dir}/embeddings.parquet", columns=["vec_id", "embedding"])
    ids = t.column("vec_id").to_pylist()
    vecs = [np.asarray(v, dtype=np.float32) for v in t.column("embedding").to_pylist()]
    return sorted(zip(ids, vecs), key=lambda p: p[0])


def fx_extract_pipeline_spans(docs) -> pa.Table:
    # the per-doc variant PICK is shared with the renderer (like
    # default_metadata); the byte geometry each pick produces is
    # mirrored independently above
    from insurance_pdf_extractor_spark.sources.render import encoding_for_doc, format_for_doc

    rows = {"doc_id": [], "order": [], "kind": [], "text": [], "media_ref": [], "offset": []}
    for doc_id, text in docs:
        if format_for_doc(str(doc_id)) == "html":
            doc_spans = expected_html_spans(str(doc_id), text)
        else:
            doc_spans = expected_spans(
                str(doc_id), text, encoding=encoding_for_doc(str(doc_id))
            )
        for order, (kind, txt, mref, off) in enumerate(doc_spans):
            rows["doc_id"].append(str(doc_id))
            rows["order"].append(order)
            rows["kind"].append(kind)
            rows["text"].append(txt)
            rows["media_ref"].append(mref)
            rows["offset"].append(off)
    return pa.table(
        {
            "doc_id": pa.array(rows["doc_id"], pa.string()),
            "order": pa.array(rows["order"], pa.int32()),
            "kind": pa.array(rows["kind"], pa.string()),
            "text": pa.array(rows["text"], pa.string()),
            "media_ref": pa.array(rows["media_ref"], pa.string()),
            "offset": pa.array(rows["offset"], pa.int32()),
        }
    )


def fx_winnow(docs) -> pa.Table:
    ids, fps = [], []
    for doc_id, text in docs:
        if doc_id >= 300:
            continue
        fp = winnow(kgram_hashes(token_hashes31(text), 5), 4)
        ids.append(doc_id)
        fps.append(",".join(str(v) for v in fp))
    return pa.table({"doc_id": pa.array(ids, pa.int64()), "fingerprints": pa.array(fps, pa.string())})


def fx_simhash(docs, max_hamming: int = 3) -> pa.Table:
    """Consolidated simhash gate: per-doc fingerprint + the sorted list
    of near-dup partners (hamming <= max_hamming), serialized — encodes
    both the fingerprint values and the exact pair identities."""
    sub = [(d, simhash(t)) for d, t in docs if d < 300]
    partners: dict[int, list[int]] = {}
    for x in range(len(sub)):
        for y in range(x + 1, len(sub)):
            (da, fa), (db, fb) = sub[x], sub[y]
            h = bin((fa ^ fb) & ((1 << 64) - 1)).count("1")
            if h <= max_hamming:
                partners.setdefault(da, []).append(db)
                partners.setdefault(db, []).append(da)
    return pa.table(
        {
            "doc_id": pa.array([d for d, _f in sub], pa.int64()),
            "simhash": pa.array([f for _d, f in sub], pa.int64()),
            "near_dups": pa.array(
                [",".join(str(p) for p in sorted(partners.get(d, []))) for d, _f in sub],
                pa.string(),
            ),
        }
    )


def minhash_pair_list(docs, n_hashes=64, bands=16, k=3, min_jaccard=0.2) -> list[tuple[int, int, float]]:
    """Shared by the pair fixture and the clusters fixture — the
    clusters oracle must run over the SAME pair graph the gate query
    produces."""
    rpb = n_hashes // bands
    sigs = {d: minhash_sig(t, k, n_hashes) for d, t in docs}
    wsets = {d: set(words(t)) for d, t in docs}
    buckets: dict[tuple[int, int], list[int]] = {}
    for d, sig in sigs.items():
        for b in range(bands):
            key = xxh64_signed(",".join(str(v) for v in sig[b * rpb : (b + 1) * rpb]))
            buckets.setdefault((b, key), []).append(d)
    cands: set[tuple[int, int]] = set()
    for members in buckets.values():
        members.sort()
        for x in range(len(members)):
            for y in range(x + 1, len(members)):
                cands.add((members[x], members[y]))
    out = []
    for a, b in sorted(cands):
        inter = len(wsets[a] & wsets[b])
        union = len(wsets[a] | wsets[b])
        jac = inter / union if union > 0 else 0.0
        if jac >= min_jaccard:
            out.append((a, b, spark_round(jac, 6)))
    return out


def incremental_minhash_pair_list(
    history, batch, n_hashes=64, bands=16, k=3, min_jaccard=0.2
) -> list[tuple[int, int, float]]:
    """Cross-batch banding: bucket HISTORY band keys, probe with the
    batch's keys, verify exact Jaccard — the independent oracle for
    dedup.incremental_near_dup_pairs. No id ordering constraint: the
    sides are distinct tables (a doc present in both yields (id, id))."""
    rpb = n_hashes // bands
    hist_buckets: dict[tuple[int, int], list[int]] = {}
    for d, t in history:
        sig = minhash_sig(t, k, n_hashes)
        for b in range(bands):
            key = xxh64_signed(",".join(str(v) for v in sig[b * rpb : (b + 1) * rpb]))
            hist_buckets.setdefault((b, key), []).append(d)
    wsets_h = {d: set(words(t)) for d, t in history}
    wsets_b = {d: set(words(t)) for d, t in batch}
    cands: set[tuple[int, int]] = set()
    for d, t in batch:
        sig = minhash_sig(t, k, n_hashes)
        for b in range(bands):
            key = xxh64_signed(",".join(str(v) for v in sig[b * rpb : (b + 1) * rpb]))
            for h in hist_buckets.get((b, key), ()):
                cands.add((d, h))
    out = []
    for a, h in sorted(cands):
        inter = len(wsets_b[a] & wsets_h[h])
        union = len(wsets_b[a] | wsets_h[h])
        jac = inter / union if union > 0 else 0.0
        if jac >= min_jaccard:
            out.append((a, h, spark_round(jac, 6)))
    return out


def fx_minhash_pairs(docs, **kw) -> pa.Table:
    """src-tagged union: 'within' = the one-table pair graph;
    'incremental' = batch (doc_id%2==0) vs history (doc_id%3==0) pairs
    (%6==0 docs sit in both -> guaranteed jaccard-1.0 self pairs)."""
    within = minhash_pair_list(docs, **kw)
    history = [(d, t) for d, t in docs if d % 3 == 0]
    batch = [(d, t) for d, t in docs if d % 2 == 0]
    incr = incremental_minhash_pair_list(history, batch, **kw)
    rows = [("within", a, b, j) for a, b, j in within] + [
        ("incremental", a, h, j) for a, h, j in incr
    ]
    return pa.table(
        {
            "src": pa.array([r[0] for r in rows], pa.string()),
            "id_a": pa.array([r[1] for r in rows], pa.int64()),
            "id_b": pa.array([r[2] for r in rows], pa.int64()),
            "jaccard": pa.array([r[3] for r in rows], pa.float64()),
        }
    )


def fx_dedup_clusters(docs) -> pa.Table:
    """Union-find (independent of the DataFrame pointer-doubling
    implementation) over the minhash near-dup pair graph; cluster id =
    component minimum, rows only for nodes that appear in a pair."""
    pairs = [(a, b) for a, b, _ in minhash_pair_list(docs)]
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    comp: dict[int, list[int]] = {}
    for n in parent:
        comp.setdefault(find(n), []).append(n)
    rows = sorted((n, min(members)) for members in comp.values() for n in members)
    return pa.table(
        {
            "doc_id": pa.array([r[0] for r in rows], pa.int64()),
            "cluster_id": pa.array([r[1] for r in rows], pa.int64()),
        }
    )


def _fx_bmp_bytes(doc_id: int, h: int = 16, w: int = 16) -> bytes:
    """Independent 24-bit BMP encoder (pure struct/bytes, no shared code
    with multimodal.py): pixel (y,x,c) = (doc_id*31+y*7+x*13+c*59)%256,
    bottom-up rows, BGR order, 4-byte row padding."""
    stride = (w * 3 + 3) & ~3
    rows = bytearray()
    for y in range(h - 1, -1, -1):  # bottom-up
        row = bytearray()
        for x in range(w):
            for c in (2, 1, 0):  # BGR
                row.append((doc_id * 31 + y * 7 + x * 13 + c * 59) % 256)
        row.extend(b"\x00" * (stride - len(row)))
        rows.extend(row)
    head = struct.pack("<2sIHHI", b"BM", 54 + stride * h, 0, 0, 54)
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, stride * h, 2835, 2835, 0, 0)
    return head + info + bytes(rows)


def _fx_bmp_features(doc_id: int, h: int = 16, w: int = 16) -> list[float]:
    """Feature spec mirror: channel mean = (int sum / (h*w)) / 255;
    4x4 thumb gray = ((block rgb-sum / npix) / 3) / 255 — same division
    order as multimodal.bmp_features so float64 results are bit-equal."""
    px = lambda y, x, c: (doc_id * 31 + y * 7 + x * 13 + c * 59) % 256
    out = []
    for c in range(3):
        s = sum(px(y, x, c) for y in range(h) for x in range(w))
        out.append((s / float(h * w)) / 255.0)
    bh, bw = h // 4, w // 4
    for by in range(4):
        for bx in range(4):
            s = sum(
                px(y, x, c)
                for y in range(by * bh, (by + 1) * bh)
                for x in range(bx * bw, (bx + 1) * bw)
                for c in range(3)
            )
            out.append(((s / float(bh * bw)) / 3.0) / 255.0)
    return out


def _fx_png_bytes(doc_id: int, h: int = 16, w: int = 16) -> bytes:
    """Independent 8-bit truecolor PNG from the shared pixel spec:
    filter-0 scanlines built with pure-Python loops, one zlib stream at
    level 6 (the stdlib zlib both sides call — like the stdlib wave
    both WAV encoders call), big-endian chunk framing via struct."""
    import zlib

    raw = bytearray()
    for y in range(h):
        raw.append(0)
        for x in range(w):
            for c in range(3):
                raw.append((doc_id * 31 + y * 7 + x * 13 + c * 59) % 256)

    def chunk(tag: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + tag
            + data
            + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
        )

    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(bytes(raw), 6))
        + chunk(b"IEND", b"")
    )


def _fx_wav_bytes(doc_id: int, n: int = 1600, rate: int = 8000) -> bytes:
    """Independent PCM16 WAV: samples (doc_id*40503+i*2654435761)%65536
    - 32768, packed little-endian via the stdlib wave module."""
    samples = [(doc_id * 40503 + i * 2654435761) % 65536 - 32768 for i in range(n)]
    buf = io.BytesIO()
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(1)
        wf.setsampwidth(2)
        wf.setframerate(rate)
        wf.writeframes(struct.pack(f"<{n}h", *samples))
    return buf.getvalue()


def _fx_wav_features(doc_id: int, n: int = 1600, rate: int = 8000) -> list[float]:
    samples = [(doc_id * 40503 + i * 2654435761) % 65536 - 32768 for i in range(n)]
    return _fx_wave_vec(samples, rate)


def _fx_sowt_features(doc_id: int, n: int = 1600, rate: int = 11025) -> list[float]:
    """Waveform features of the sowt stereo asset after the decoder's
    exact downmix rule: (L + R) floor-div 2 per frame."""
    wave = lambda d: [(d * 40503 + i * 2654435761) % 65536 - 32768 for i in range(n)]
    L, R = wave(doc_id), wave(doc_id + 7)
    return _fx_wave_vec([(a + b) // 2 for a, b in zip(L, R)], rate)


def _fx_wave_vec(samples: list[int], rate: int) -> list[float]:
    n = len(samples)
    rms = math.sqrt(sum(s * s for s in samples) / n) / 32768.0
    zc = sum((samples[i] >= 0) != (samples[i + 1] >= 0) for i in range(n - 1))
    zcr = zc / (n - 1)
    seg = []
    for s in range(8):
        lo, hi = s * n // 8, (s + 1) * n // 8
        seg.append(sum(abs(v) for v in samples[lo:hi]) / (hi - lo) / 32768.0)
    return [n / rate, rms, zcr, *seg]


def _jpeg_spec():
    """Spec constants shared with the kernel codec (Annex K tables,
    zigzag, fixed-point scale) — public T.81 data, imported like
    production_merges/EXTRACTOR_VERSION elsewhere in this file. All
    LOGIC below (bit IO, huffman coding, DCT contraction, MCU
    assembly) is an independent scalar reimplementation."""
    from insurance_pdf_extractor_spark.operators import jpeg as J

    return J


def _jz_basis():
    """Scalar rebuild of the fixed-point DCT basis: nested lists of
    Python ints, round(2^28 * a(u)a(v)/4 cos cos)."""
    J = _jpeg_spec()
    b = [[[[0] * 8 for _ in range(8)] for _ in range(8)] for _ in range(8)]
    for v in range(8):
        for u in range(8):
            au = 1.0 / math.sqrt(2.0) if u == 0 else 1.0
            av = 1.0 / math.sqrt(2.0) if v == 0 else 1.0
            for y in range(8):
                for x in range(8):
                    val = (
                        au * av / 4.0
                        * math.cos((2 * x + 1) * u * math.pi / 16.0)
                        * math.cos((2 * y + 1) * v * math.pi / 16.0)
                    )
                    b[v][u][y][x] = round(val * (1 << J.SCALE_BITS))
    return b


def _fx_jpeg_encode(img, quality=90, restart_interval=2):
    """Independent scalar baseline-JPEG encoder, 4:2:0 color only (the
    gate's shape): pure-Python loops over pixels/blocks, its own
    bitwriter, byte-identical by the fixed-point spec to
    operators.jpeg.encode_jpeg(img, quality, subsample=True,
    restart_interval). ``img[y][x] = (r, g, b)``."""
    J = _jpeg_spec()
    basis = _jz_basis()
    half = 1 << (J.SCALE_BITS - 1)
    h, w = len(img), len(img[0])
    lq, cq = J.quality_tables(quality)

    yp = [[0] * w for _ in range(h)]
    cbp = [[0] * w for _ in range(h)]
    crp = [[0] * w for _ in range(h)]
    for y in range(h):
        for x in range(w):
            r, g, b = img[y][x]
            hx, off = 1 << 15, 128 << 16
            yv = (19595 * r + 38470 * g + 7471 * b + hx) >> 16
            cb = (-11059 * r - 21709 * g + 32768 * b + off + hx) >> 16
            cr = (32768 * r - 27439 * g - 5329 * b + off + hx) >> 16
            yp[y][x] = min(max(yv, 0), 255)
            cbp[y][x] = min(max(cb, 0), 255)
            crp[y][x] = min(max(cr, 0), 255)

    def pad(plane, hh, ww):
        ph = [row[:] + [row[-1]] * (ww - len(row)) for row in plane]
        while len(ph) < hh:
            ph.append(ph[-1][:])
        return ph

    def box2(plane):
        p = pad(plane, len(plane) + len(plane) % 2, len(plane[0]) + len(plane[0]) % 2)
        return [
            [(p[2 * y][2 * x] + p[2 * y][2 * x + 1] + p[2 * y + 1][2 * x] + p[2 * y + 1][2 * x + 1] + 2) >> 2
             for x in range(len(p[0]) // 2)]
            for y in range(len(p) // 2)
        ]

    cbs, crs = box2(cbp), box2(crp)
    n_mcu_y, n_mcu_x = (h + 15) // 16, (w + 15) // 16

    def blocks_of(plane, grid_h, grid_w):
        p = pad(plane, grid_h * 8, grid_w * 8)
        out = []
        for by in range(grid_h):
            for bx in range(grid_w):
                out.append([[p[by * 8 + yy][bx * 8 + xx] for xx in range(8)] for yy in range(8)])
        return out

    def fdct_q(block, qt):
        zz = [0] * 64
        for v in range(8):
            for u in range(8):
                acc = 0
                for y in range(8):
                    for x in range(8):
                        acc += (block[y][x] - 128) * basis[v][u][y][x]
                g = (acc + half) >> J.SCALE_BITS
                q = qt[v * 8 + u]  # qt is in natural (row-major) order
                sign = 1 if g > 0 else (-1 if g < 0 else 0)
                zz_pos = J.ZIGZAG.index(v * 8 + u)
                zz[zz_pos] = sign * ((2 * abs(g) + q) // (2 * q))
        return zz

    def codes(bits, vals):
        out, code, k = {}, 0, 0
        for ln in range(1, 17):
            for _ in range(bits[ln]):
                out[vals[k]] = (code, ln)
                code += 1
                k += 1
            code <<= 1
        return out

    dc_l, ac_l = codes(*J.DC_LUMA), codes(*J.AC_LUMA)
    dc_c, ac_c = codes(*J.DC_CHROMA), codes(*J.AC_CHROMA)

    out = bytearray(b"\xff\xd8")
    out += b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"
    for tq, table in ((0, lq), (1, cq)):
        # T.81 B.2.4.1: DQT elements are stored in zigzag order
        out += b"\xff\xdb" + struct.pack(">HB", 67, tq) + bytes(table[p] for p in J.ZIGZAG)
    out += b"\xff\xc0" + struct.pack(">HBHHB", 17, 8, h, w, 3)
    out += bytes([1, 0x22, 0]) + bytes([2, 0x11, 1]) + bytes([3, 0x11, 1])
    for tc_th, (bits, vals) in ((0x00, J.DC_LUMA), (0x10, J.AC_LUMA), (0x01, J.DC_CHROMA), (0x11, J.AC_CHROMA)):
        out += b"\xff\xc4" + struct.pack(">HB", 3 + 16 + len(vals), tc_th) + bytes(bits[1:17]) + bytes(vals)
    if restart_interval:
        out += b"\xff\xdd" + struct.pack(">HH", 4, restart_interval)
    out += b"\xff\xda" + struct.pack(">HB", 12, 3) + bytes([1, 0x00, 2, 0x11, 3, 0x11]) + b"\x00\x3f\x00"

    bitbuf = bytearray()
    state = {"acc": 0, "n": 0}

    def wbits(code, ln):
        state["acc"] = (state["acc"] << ln) | (code & ((1 << ln) - 1))
        state["n"] += ln
        while state["n"] >= 8:
            byte = (state["acc"] >> (state["n"] - 8)) & 0xFF
            bitbuf.append(byte)
            if byte == 0xFF:
                bitbuf.append(0x00)
            state["n"] -= 8
        state["acc"] &= (1 << state["n"]) - 1

    def flushbits():
        if state["n"]:
            padn = 8 - state["n"]
            wbits((1 << padn) - 1, padn)

    def cat(v):
        return abs(v).bit_length()

    def enc_block(zz, pred, dct, act):
        dc = zz[0]
        diff = dc - pred
        t = cat(diff)
        c, ln = dct[t]
        wbits(c, ln)
        if t:
            wbits(diff if diff > 0 else diff + (1 << t) - 1, t)
        last = 0
        for i in range(63, 0, -1):
            if zz[i]:
                last = i
                break
        run = 0
        for i in range(1, last + 1):
            v = zz[i]
            if v == 0:
                run += 1
                continue
            while run > 15:
                c, ln = act[0xF0]
                wbits(c, ln)
                run -= 16
            t = cat(v)
            c, ln = act[(run << 4) | t]
            wbits(c, ln)
            wbits(v if v > 0 else v + (1 << t) - 1, t)
            run = 0
        if last < 63:
            c, ln = act[0x00]
            wbits(c, ln)
        return dc

    yzz = [fdct_q(b, lq) for b in blocks_of(yp, n_mcu_y * 2, n_mcu_x * 2)]
    cbzz = [fdct_q(b, cq) for b in blocks_of(cbs, n_mcu_y, n_mcu_x)]
    crzz = [fdct_q(b, cq) for b in blocks_of(crs, n_mcu_y, n_mcu_x)]
    preds = [0, 0, 0]
    rst = 0
    for my in range(n_mcu_y):
        for mx in range(n_mcu_x):
            mi = my * n_mcu_x + mx
            if restart_interval and mi and mi % restart_interval == 0:
                flushbits()
                bitbuf.extend([0xFF, 0xD0 + (rst % 8)])
                rst += 1
                preds = [0, 0, 0]
            for by in range(2):
                for bx in range(2):
                    bi = (my * 2 + by) * (n_mcu_x * 2) + (mx * 2 + bx)
                    preds[0] = enc_block(yzz[bi], preds[0], dc_l, ac_l)
            ci = my * n_mcu_x + mx
            preds[1] = enc_block(cbzz[ci], preds[1], dc_c, ac_c)
            preds[2] = enc_block(crzz[ci], preds[2], dc_c, ac_c)
    flushbits()
    out += bitbuf + b"\xff\xd9"
    return bytes(out)


def _fx_jpeg_decode(payload):
    """Independent scalar baseline-JPEG decoder (bit-at-a-time reader,
    per-coefficient IDCT loops, nearest-neighbor chroma upsampling) —
    must reproduce operators.jpeg.decode_jpeg pixels EXACTLY per the
    integer fixed-point contract. Returns img[y][x] = [r, g, b]."""
    J = _jpeg_spec()
    basis = _jz_basis()
    half = 1 << (J.SCALE_BITS - 1)
    assert payload[:2] == b"\xff\xd8"
    pos = 2
    qt, ht, comps = {}, {}, []
    h = w = ri = 0
    scan = []
    while True:
        marker = payload[pos + 1]
        pos += 2
        if marker == 0xD8 or 0xD0 <= marker <= 0xD7 or marker == 0x01:
            continue
        (ln,) = struct.unpack_from(">H", payload, pos)
        seg = payload[pos + 2 : pos + ln]
        if marker == 0xDB:
            o = 0
            while o < len(seg):
                tq = seg[o] & 0xF
                tbl = [0] * 64
                for i, p in enumerate(J.ZIGZAG):
                    tbl[p] = seg[o + 1 + i]
                qt[tq] = tbl
                o += 65
        elif marker == 0xC0:
            h, w, nc = struct.unpack_from(">H", seg, 1)[0], struct.unpack_from(">H", seg, 3)[0], seg[5]
            for i in range(nc):
                comps.append({"id": seg[6 + 3 * i], "h": seg[7 + 3 * i] >> 4,
                              "v": seg[7 + 3 * i] & 0xF, "tq": seg[8 + 3 * i]})
        elif marker == 0xC4:
            o = 0
            while o < len(seg):
                tc, th = seg[o] >> 4, seg[o] & 0xF
                bits = [0] + list(seg[o + 1 : o + 17])
                n = sum(bits)
                vals = list(seg[o + 17 : o + 17 + n])
                dec, code, k = {}, 0, 0
                for L in range(1, 17):
                    for _ in range(bits[L]):
                        dec[(L, code)] = vals[k]
                        code += 1
                        k += 1
                    code <<= 1
                ht[(tc, th)] = dec
                o += 17 + n
        elif marker == 0xDD:
            (ri,) = struct.unpack_from(">H", seg, 0)
        elif marker == 0xDA:
            for i in range(seg[0]):
                cid, tt = seg[1 + 2 * i], seg[2 + 2 * i]
                idx = next(j for j, c in enumerate(comps) if c["id"] == cid)
                scan.append((idx, tt >> 4, tt & 0xF))
            pos += ln
            break
        pos += ln

    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    n_mx = (w + 8 * hmax - 1) // (8 * hmax)
    n_my = (h + 8 * vmax - 1) // (8 * vmax)

    rd = {"pos": pos, "acc": 0, "n": 0}

    def nxt():
        while True:
            b = payload[rd["pos"]]
            if b != 0xFF:
                rd["pos"] += 1
                return b
            if payload[rd["pos"] + 1] == 0x00:
                rd["pos"] += 2
                return 0xFF
            raise AssertionError("marker in entropy data")

    def bit():
        if rd["n"] == 0:
            rd["acc"] = nxt()
            rd["n"] = 8
        rd["n"] -= 1
        return (rd["acc"] >> rd["n"]) & 1

    def recv(n):
        v = 0
        for _ in range(n):
            v = (v << 1) | bit()
        return v

    def sym(tbl):
        code = 0
        for L in range(1, 17):
            code = (code << 1) | bit()
            if (L, code) in tbl:
                return tbl[(L, code)]
        raise AssertionError("bad huffman code")

    def ext(v, t):
        return v if v >= (1 << (t - 1)) else v - (1 << t) + 1

    blocks = [[] for _ in comps]
    preds = [0] * len(comps)
    for mi in range(n_mx * n_my):
        if ri and mi and mi % ri == 0:
            rd["acc"], rd["n"] = 0, 0
            while payload[rd["pos"]] == 0xFF and payload[rd["pos"] + 1] == 0x00:
                rd["pos"] += 2
            while payload[rd["pos"]] == 0xFF and payload[rd["pos"] + 1] == 0xFF:
                rd["pos"] += 1
            assert payload[rd["pos"]] == 0xFF and 0xD0 <= payload[rd["pos"] + 1] <= 0xD7
            rd["pos"] += 2
            preds = [0] * len(comps)
        for ci, dci, aci in scan:
            c = comps[ci]
            for _ in range(c["h"] * c["v"]):
                zz = [0] * 64
                t = sym(ht[(0, dci)])
                preds[ci] += ext(recv(t), t) if t else 0
                zz[0] = preds[ci]
                k = 1
                while k < 64:
                    rs = sym(ht[(1, aci)])
                    r, t = rs >> 4, rs & 0xF
                    if t == 0:
                        if r == 15:
                            k += 16
                            continue
                        break
                    k += r
                    zz[k] = ext(recv(t), t)
                    k += 1
                blocks[ci].append(zz)

    planes = []
    for ci, c in enumerate(comps):
        q = qt[c["tq"]]
        gw = n_mx * c["h"]
        plane = [[0] * (gw * 8) for _ in range(n_my * c["v"] * 8)]
        bi = 0
        for my in range(n_my):
            for mx in range(n_mx):
                for by in range(c["v"]):
                    for bx in range(c["h"]):
                        zz = blocks[ci][bi]
                        bi += 1
                        F = [[0] * 8 for _ in range(8)]
                        for i, p in enumerate(J.ZIGZAG):
                            F[p // 8][p % 8] = zz[i] * q[p]
                        for y in range(8):
                            for x in range(8):
                                acc = 0
                                for v in range(8):
                                    for u in range(8):
                                        if F[v][u]:
                                            acc += F[v][u] * basis[v][u][y][x]
                                pix = ((acc + half) >> J.SCALE_BITS) + 128
                                plane[(my * c["v"] + by) * 8 + y][(mx * c["h"] + bx) * 8 + x] = min(max(pix, 0), 255)
        ry, rx = vmax // c["v"], hmax // c["h"]
        up = [[plane[y // ry][x // rx] for x in range(w)] for y in range(h)]
        planes.append(up)

    if len(planes) == 1:
        return [[[v, v, v] for v in row] for row in planes[0]]
    img = []
    hx = 1 << 15
    for y in range(h):
        row = []
        for x in range(w):
            yy, cb, cr = planes[0][y][x], planes[1][y][x] - 128, planes[2][y][x] - 128
            r = yy + ((91881 * cr + hx) >> 16)
            g = yy - ((22554 * cb + 46802 * cr + hx) >> 16)
            b = yy + ((116130 * cb + hx) >> 16)
            row.append([min(max(r, 0), 255), min(max(g, 0), 255), min(max(b, 0), 255)])
        img.append(row)
    return img


def _fx_jpeg_bytes(doc_id: int, h: int = 24, w: int = 24) -> bytes:
    px = lambda y, x, c: (doc_id * 31 + y * 7 + x * 13 + c * 59) % 256
    img = [[(px(y, x, 0), px(y, x, 1), px(y, x, 2)) for x in range(w)] for y in range(h)]
    return _fx_jpeg_encode(img, quality=90, restart_interval=2)


def _fx_jpeg_features(doc_id: int, h: int = 24, w: int = 24) -> list[float]:
    """Decoded-pixel features: JPEG is lossy, so unlike the BMP/PNG
    rows the feature spec runs on the DECODED image from the
    independent scalar decoder — value equality with the kernel's
    numpy decode is exact because both DCTs are integer by spec."""
    img = _fx_jpeg_decode(_fx_jpeg_bytes(doc_id, h, w))
    out = []
    for c in range(3):
        s = sum(img[y][x][c] for y in range(h) for x in range(w))
        out.append((s / float(h * w)) / 255.0)
    bh, bw = h // 4, w // 4
    for by in range(4):
        for bx in range(4):
            s = sum(
                img[y][x][c]
                for y in range(by * bh, (by + 1) * bh)
                for x in range(bx * bw, (bx + 1) * bw)
                for c in range(3)
            )
            out.append(((s / float(bh * bw)) / 3.0) / 255.0)
    return out


def fx_media_features(docs) -> pa.Table:
    refs, kinds, nb, shas, feats = [], [], [], [], []

    def fmt(vec: list[float]) -> str:
        # mirror the gate's array<float> passage: float64 -> float32 ->
        # double -> JVM %.6f
        return ",".join(javafmt6(float(np.float32(v))) for v in vec)

    for doc_id, text in docs:
        if doc_id >= 100:
            continue
        payload = text.encode("utf-8")
        refs.append(f"m-{doc_id}")
        kinds.append("image")
        nb.append(len(payload))
        shas.append(hashlib.sha1(payload).hexdigest())
        if payload:
            arr = np.frombuffer(payload, dtype=np.uint8)
            hist, _ = np.histogram(arr, bins=16, range=(0, 256))
            total = float(hist.sum()) or 1.0
            vec = (hist / total).astype(np.float32).tolist()
        else:
            vec = [0.0] * 16
        feats.append(",".join(javafmt6(float(v)) for v in vec))
        if doc_id < 60:
            b = _fx_bmp_bytes(doc_id)
            refs.append(f"bmp-{doc_id}")
            kinds.append("image")
            nb.append(len(b))
            shas.append(hashlib.sha1(b).hexdigest())
            feats.append(fmt(_fx_bmp_features(doc_id)))
            # PNG: same pixels, same feature spec — only the container
            # (and so n_bytes/sha1) differs from the BMP row
            p = _fx_png_bytes(doc_id)
            refs.append(f"png-{doc_id}")
            kinds.append("image")
            nb.append(len(p))
            shas.append(hashlib.sha1(p).hexdigest())
            feats.append(fmt(_fx_bmp_features(doc_id)))
            # JPEG: lossy, so features come from the independently
            # DECODED pixels (integer-exact per the fixed-point DCT
            # contract), and sha1/n_bytes pin the encoder byte-for-byte
            j = _fx_jpeg_bytes(doc_id)
            refs.append(f"jpeg-{doc_id}")
            kinds.append("image")
            nb.append(len(j))
            shas.append(hashlib.sha1(j).hexdigest())
            feats.append(fmt(_fx_jpeg_features(doc_id)))
            wv = _fx_wav_bytes(doc_id)
            refs.append(f"wav-{doc_id}")
            kinds.append("audio")
            nb.append(len(wv))
            shas.append(hashlib.sha1(wv).hexdigest())
            feats.append(fmt(_fx_wav_features(doc_id)))
    return pa.table(
        {
            "media_ref": pa.array(refs, pa.string()),
            "kind": pa.array(kinds, pa.string()),
            "n_bytes": pa.array(nb, pa.int64()),
            "sha1": pa.array(shas, pa.string()),
            "features": pa.array(feats, pa.string()),
        }
    )


def fx_checkpoint_lineage(docs, n_buckets: int = 8, run_id: str = "gate") -> pa.Table:
    """Expected lineage rows for run_extract_job over rendered docs
    0-199: bucket = pmod(xxhash64(doc_id_string), n) recomputed with the
    pure-Python XXH64; spans per doc via the span oracle; doc-id ranges
    are lexicographic string min/max (doc_id is a string column)."""
    from insurance_pdf_extractor_spark.constants import EXTRACTOR_VERSION

    per_bucket: dict[int, dict] = {}
    for doc_id, text in docs:
        if doc_id >= 200:
            continue
        sid = str(doc_id)
        bucket = xxh64_signed(sid) % n_buckets
        st = per_bucket.setdefault(bucket, {"n": 0, "spans": 0, "ids": []})
        st["n"] += 1
        st["spans"] += len(expected_spans(sid, text))
        st["ids"].append(sid)
    rows = sorted(per_bucket.items())
    return pa.table(
        {
            "run_id": pa.array([run_id] * len(rows), pa.string()),
            "partition_id": pa.array([b for b, _ in rows], pa.int32()),
            "min_doc_id": pa.array([min(st["ids"]) for _, st in rows], pa.string()),
            "max_doc_id": pa.array([max(st["ids"]) for _, st in rows], pa.string()),
            "extractor_version": pa.array([EXTRACTOR_VERSION] * len(rows), pa.string()),
            "docs_processed": pa.array([st["n"] for _, st in rows], pa.int64()),
            "spans_emitted": pa.array([st["spans"] for _, st in rows], pa.int64()),
            "docs_rejected": pa.array([0] * len(rows), pa.int64()),
        }
    )


def _hyperplanes(dim: int, n_planes: int, seed: int = 42):
    rs = np.random.RandomState(seed)
    return rs.randn(n_planes, dim).round(6).tolist()


def _lsh_bucket(vec, planes) -> int:
    sig = 0
    for i, plane in enumerate(planes):
        if fold_dot(vec, plane) > 0:
            sig |= 1 << i
    return sig


def _topk_rows(cands_per_query, k=10):
    """cands_per_query: {query_id: [(cand_id, vec), ...]} plus query vec
    lookup done by caller; here we get scored lists."""
    out = []
    for qid in sorted(cands_per_query):
        scored = cands_per_query[qid]
        scored.sort(key=lambda p: (-p[1], p[0]))
        for rank, (cid, cos) in enumerate(scored[:k], start=1):
            out.append((qid, cid, cos, rank))
    return out


def fx_ann_lsh(embs, n_planes=6, k=10) -> pa.Table:
    dim = len(embs[0][1])
    planes = _hyperplanes(dim, n_planes)
    buckets = {vid: _lsh_bucket(vec, planes) for vid, vec in embs}
    queries = [(vid, vec) for vid, vec in embs if vid < 3]
    per_q = {}
    for qid, qvec in queries:
        qb = buckets[qid]
        scored = [
            (vid, spark_round(cosine(qvec, vec), 6))
            for vid, vec in embs
            if buckets[vid] == qb and vid != qid
        ]
        per_q[qid] = scored
    rows = _topk_rows(per_q, k)
    return _topk_table(rows)


def _topk_table(rows) -> pa.Table:
    return pa.table(
        {
            "query_id": pa.array([r[0] for r in rows], pa.int64()),
            "cand_id": pa.array([r[1] for r in rows], pa.int64()),
            "cosine": pa.array([r[2] for r in rows], pa.float64()),
            "rank": pa.array([r[3] for r in rows], pa.int32()),
        }
    )


def fx_ann_ivf(embs, n_centroids=16, n_probe=4, k=10) -> pa.Table:
    # _pick_centroids: lowest (xxhash64(str(id)), id), driver order
    order = sorted(embs, key=lambda p: (xxh64_signed(str(p[0])), p[0]))[:n_centroids]
    C = np.asarray([v.tolist() for _i, v in order], dtype=np.float64)
    C = C / np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-12)
    E = np.asarray([v.tolist() for _i, v in embs], dtype=np.float64)
    En = E / np.maximum(np.linalg.norm(E, axis=1, keepdims=True), 1e-12)
    sims = En @ C.T
    top = np.argsort(-sims, axis=1, kind="stable")
    primary = {embs[i][0]: int(top[i, 0]) for i in range(len(embs))}
    probes = {embs[i][0]: [int(c) for c in top[i, :n_probe]] for i in range(len(embs))}
    queries = [(vid, vec) for vid, vec in embs if vid < 3]
    per_q = {}
    for qid, qvec in queries:
        cells = set(probes[qid])
        scored = [
            (vid, spark_round(cosine(qvec, vec), 6))
            for vid, vec in embs
            if primary[vid] in cells and vid != qid
        ]
        per_q[qid] = scored
    return _topk_table(_topk_rows(per_q, k))


def fx_embedding_near_dup_lsh(embs, threshold=0.4, n_planes=4) -> pa.Table:
    dim = len(embs[0][1])
    planes = _hyperplanes(dim, n_planes)
    buckets = {vid: _lsh_bucket(vec, planes) for vid, vec in embs}
    ia, ib, cs = [], [], []
    for x in range(len(embs)):
        for y in range(x + 1, len(embs)):
            (da, va), (db, vb) = embs[x], embs[y]
            if buckets[da] != buckets[db] or not da < db:
                continue
            c = spark_round(cosine(va, vb), 6)
            if c >= threshold:
                ia.append(da)
                ib.append(db)
                cs.append(c)
    return pa.table(
        {
            "id_a": pa.array(ia, pa.int64()),
            "id_b": pa.array(ib, pa.int64()),
            "cosine": pa.array(cs, pa.float64()),
        }
    )


def fx_ann_bucketed(embs) -> pa.Table:
    """ann_lsh_topk + ann_ivf_topk consolidated under a src tag (one
    driver gate row for both bucketed-ANN variants; the two underlying
    oracles are unchanged)."""
    lsh = fx_ann_lsh(embs)
    ivf = fx_ann_ivf(embs)
    out = {"src": pa.array(["lsh"] * lsh.num_rows + ["ivf"] * ivf.num_rows)}
    for col in lsh.column_names:
        out[col] = pa.concat_arrays(
            [lsh[col].combine_chunks(), ivf[col].combine_chunks()]
        )
    return pa.table(out)


def fx_kmeans_semantic(embs, k=8, n_iter=4, threshold=0.4) -> pa.Table:
    """Independent numpy SemDeDup oracle: spherical k-means with the
    lowest-xxhash64 init pick and fixed-point integer centroid sums
    (the order-independent update the Spark operator uses), then
    greedy within-cluster pruning ordered by (cos-to-centroid desc,
    id asc). All float work is numpy float64, rounding via np.round
    (half-even) — the same primitives the Arrow kernels call, so the
    results must agree bit-for-bit."""
    FP = 1 << 20

    def unit(M):
        return M / np.maximum(np.linalg.norm(M, axis=1, keepdims=True), 1e-12)

    def quant(C):
        return unit(np.round(C, 6))

    order = sorted(embs, key=lambda p: (xxh64_signed(str(p[0])), p[0]))[:k]
    C = quant(unit(np.asarray([v.tolist() for _i, v in order], dtype=np.float64)))
    ids = [i for i, _v in embs]
    En = unit(np.asarray([v.tolist() for _i, v in embs], dtype=np.float64))
    for _ in range(n_iter):
        best = np.argmax(En @ C.T, axis=1)
        q = np.rint(En * FP).astype(np.int64)
        newC = C.copy()
        for c in range(k):
            mask = best == c
            if mask.any():
                newC[c] = q[mask].sum(axis=0).astype(np.float64) / (int(mask.sum()) * FP)
        C = quant(newC)
    sims = En @ C.T
    best = np.argmax(sims, axis=1)
    cos = np.round(sims[np.arange(len(best)), best], 6)

    rows = []
    for c in range(k):
        members = sorted(
            (i for i in range(len(ids)) if best[i] == c),
            key=lambda i: (-cos[i], ids[i]),
        )
        if not members:
            continue
        E = En[members]
        pair = E @ E.T
        kept: list[int] = []
        for pos, i in enumerate(members):
            dup_of = None
            if kept:
                s = pair[pos, kept]
                j = int(np.argmax(s))
                if s[j] >= threshold:
                    dup_of = ids[members[kept[j]]]
            if dup_of is None:
                kept.append(pos)
            rows.append((ids[i], c, float(cos[i]), dup_of is None, dup_of))
    rows.sort()
    return pa.table(
        {
            "vec_id": pa.array([r[0] for r in rows], pa.int64()),
            "cluster_id": pa.array([r[1] for r in rows], pa.int32()),
            "cos_to_centroid": pa.array([r[2] for r in rows], pa.float64()),
            "keep": pa.array([r[3] for r in rows], pa.bool_()),
            "dup_of": pa.array([r[4] for r in rows], pa.int64()),
        }
    )


def _fx_mp3_bytes(doc_id: int) -> bytes:
    """Independent MPEG-1 Layer III frame-stream builder from the
    synth_mp3 spec: pure scalar header math against the public ISO
    11172-3 tables (bitrate/samplerate indices, 144*kbps*1000//sr+pad
    frame length), its own ID3v2 syncsafe packing — no shared code with
    operators/containers.py."""
    bitrates = [None, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320, None]
    sr = 44100
    out = bytearray()
    if doc_id % 3 == 0:
        n = 10 + doc_id % 50
        out += b"ID3\x04\x00\x00"
        out += bytes([(n >> 21) & 0x7F, (n >> 14) & 0x7F, (n >> 7) & 0x7F, n & 0x7F])
        out += bytes((doc_id * 5 + j * 11) % 256 for j in range(n))
    n_frames = 6 + doc_id % 5
    for i in range(n_frames):
        br_idx = 1 + ((doc_id * 7 + i * 3) % 14)
        padding = (doc_id + i) % 2
        flen = (144 * bitrates[br_idx] * 1000) // sr + padding
        out += bytes([0xFF, 0xFB, (br_idx << 4) | (0 << 2) | (padding << 1), 0xC4])
        out += bytes((doc_id * 17 + i * 29 + j * 101) % 256 for j in range(flen - 4))
    return bytes(out)


def _fx_mp3_meta(doc_id: int) -> tuple[int, int, float]:
    """(n_frames, duration_ms, mean_kbps) straight from the spec —
    never by parsing, so the gate pins encoder AND parser."""
    bitrates = [None, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320, None]
    n_frames = 6 + doc_id % 5
    kbps = [bitrates[1 + ((doc_id * 7 + i * 3) % 14)] for i in range(n_frames)]
    return n_frames, n_frames * 1152 * 1000 // 44100, sum(kbps) / n_frames


def _fx_mp4_deltas(doc_id: int) -> list[int]:
    n = 5 + doc_id % 4
    return [50 + (doc_id * 13 + k * 7) % 200 for k in range(n)]


def _fx_mp4_bytes(doc_id: int) -> bytes:
    """Independent ISO BMFF writer from the synth_mp4 spec (one video
    track, ftyp+mdat+moov progressive layout, stsd rawb VisualSample-
    Entry, stts RLE, per-sample stsz, actual-chunk-count stsc runs,
    absolute stco): scalar struct packing, its own box framing."""
    frames = [_fx_bmp_bytes(doc_id + k, 8, 8) for k in range(len(_fx_mp4_deltas(doc_id)))]
    deltas = _fx_mp4_deltas(doc_id)
    return _fx_mp4_video(frames, deltas, 1000, 8, 8, b"rawb")


def _fx_mp4_video(frames, deltas, timescale, w, h, codec) -> bytes:

    def box(tag: bytes, payload: bytes) -> bytes:
        return struct.pack(">I", 8 + len(payload)) + tag + payload

    def full(tag: bytes, version: int, flags: int, payload: bytes) -> bytes:
        return box(tag, bytes([version]) + flags.to_bytes(3, "big") + payload)

    matrix = struct.pack(">9i", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000)
    ftyp = box(b"ftyp", b"isom" + struct.pack(">I", 0x200) + b"isomiso2")
    chunks = []
    i = 0
    while i < len(frames):
        take = 2 if not chunks else 3
        chunks.append(frames[i : i + take])
        i += take
    mdat_payload = b"".join(b"".join(c) for c in chunks)
    offs, pos = [], len(ftyp) + 8
    for c in chunks:
        offs.append(pos)
        pos += sum(len(fb) for fb in c)
    runs = []
    for d in deltas:
        if runs and runs[-1][1] == d:
            runs[-1][0] += 1
        else:
            runs.append([1, d])
    stts = full(b"stts", 0, 0, struct.pack(">I", len(runs)) + b"".join(struct.pack(">II", n, d) for n, d in runs))
    stsz = full(b"stsz", 0, 0, struct.pack(">II", 0, len(frames)) + b"".join(struct.pack(">I", len(fb)) for fb in frames))
    sc_entries = []
    for ci, c in enumerate(chunks, start=1):
        if not sc_entries or sc_entries[-1][1] != len(c):
            sc_entries.append((ci, len(c), 1))
    stsc = full(b"stsc", 0, 0, struct.pack(">I", len(sc_entries)) + b"".join(struct.pack(">III", *e) for e in sc_entries))
    stco = full(b"stco", 0, 0, struct.pack(">I", len(offs)) + b"".join(struct.pack(">I", o) for o in offs))
    vse = (
        b"\x00" * 6 + struct.pack(">H", 1) + b"\x00" * 16
        + struct.pack(">HH", w, h) + struct.pack(">II", 0x480000, 0x480000)
        + struct.pack(">I", 0) + struct.pack(">H", 1) + b"\x00" * 32
        + struct.pack(">Hh", 24, -1)
    )
    stsd = full(b"stsd", 0, 0, struct.pack(">I", 1) + box(codec, vse))
    stbl = box(b"stbl", stsd + stts + stsc + stsz + stco)
    duration = sum(deltas)
    vmhd = full(b"vmhd", 0, 1, struct.pack(">HHHH", 0, 0, 0, 0))
    dinf = box(b"dinf", full(b"dref", 0, 0, struct.pack(">I", 1) + full(b"url ", 0, 1, b"")))
    minf = box(b"minf", vmhd + dinf + stbl)
    mdhd = full(b"mdhd", 0, 0, struct.pack(">IIIIHH", 0, 0, timescale, duration, 0x55C4, 0))
    hdlr = full(b"hdlr", 0, 0, struct.pack(">I4s", 0, b"vide") + b"\x00" * 13)
    mdia = box(b"mdia", mdhd + hdlr + minf)
    tkhd = full(
        b"tkhd", 0, 7,
        struct.pack(">IIII", 0, 0, 1, 0) + struct.pack(">I", duration) + b"\x00" * 8
        + struct.pack(">HHHH", 0, 0, 0, 0) + matrix + struct.pack(">II", w << 16, h << 16),
    )
    trak = box(b"trak", tkhd + mdia)
    mvhd = full(
        b"mvhd", 0, 0,
        struct.pack(">IIII", 0, 0, timescale, duration)
        + struct.pack(">IHH", 0x10000, 0x100, 0) + b"\x00" * 8
        + matrix + b"\x00" * 24 + struct.pack(">I", 2),
    )
    return ftyp + box(b"mdat", mdat_payload) + box(b"moov", mvhd + trak)


def _fx_mjpeg_deltas(doc_id: int) -> list[int]:
    n = 3 + doc_id % 3
    return [100 + (doc_id * 11 + k * 13) % 150 for k in range(n)]


def _fx_mjpeg_frame(doc_id: int, k: int) -> bytes:
    """One MJPEG sample per the spec: the independent scalar JPEG
    encoder over the arithmetic 16x16 image seeded doc_id*5+k*11+3."""
    seed = doc_id * 5 + k * 11 + 3
    px = lambda y, x, c: (seed * 31 + y * 7 + x * 13 + c * 59) % 256
    img = [[(px(y, x, 0), px(y, x, 1), px(y, x, 2)) for x in range(16)] for y in range(16)]
    return _fx_jpeg_encode(img, quality=90, restart_interval=2)


def _fx_mp4_mjpeg_bytes(doc_id: int) -> bytes:
    """Independent MJPEG MP4 from the synth_mp4_mjpeg spec: each
    sample a complete baseline JPEG, stsd fourcc 'jpeg', 16x16."""
    deltas = _fx_mjpeg_deltas(doc_id)
    frames = [_fx_mjpeg_frame(doc_id, k) for k in range(len(deltas))]
    return _fx_mp4_video(frames, deltas, 1000, 16, 16, b"jpeg")


def _fx_mjpeg_frame_features(doc_id: int, k: int) -> list[float]:
    """Decoded-pixel features of MJPEG sample k: JPEG is lossy, so the
    spec runs on the independently DECODED image (integer-exact per
    the fixed-point DCT contract) — the _fx_jpeg_features discipline."""
    img = _fx_jpeg_decode(_fx_mjpeg_frame(doc_id, k))
    h = w = 16
    out = []
    for c in range(3):
        s = sum(img[y][x][c] for y in range(h) for x in range(w))
        out.append((s / float(h * w)) / 255.0)
    bh, bw = h // 4, w // 4
    for by in range(4):
        for bx in range(4):
            s = sum(
                img[y][x][c]
                for y in range(by * bh, (by + 1) * bh)
                for x in range(bx * bw, (bx + 1) * bw)
                for c in range(3)
            )
            out.append(((s / float(bh * bw)) / 3.0) / 255.0)
    return out


def _fx_mp4_pcm_bytes(doc_id: int, n: int = 1600, rate: int = 8000) -> bytes:
    """Independent PCM ('twos') MP4 from the synth_mp4_pcm spec: the
    WAV-branch waveform packed 200+(doc_id%3)*100 frames per sample,
    big-endian 16-bit, AudioSampleEntry + smhd audio track. Scalar
    struct packing, its own box framing — no shared code with
    operators/containers.py."""
    samples = [(doc_id * 40503 + i * 2654435761) % 65536 - 32768 for i in range(n)]
    pcm = struct.pack(f">{n}h", *samples)
    return _fx_mp4_pcm_container(pcm, 200 + (doc_id % 3) * 100, rate, 1, b"twos")


def _fx_mp4_pcm_sowt_bytes(doc_id: int, n: int = 1600, rate: int = 11025) -> bytes:
    """Independent stereo 'sowt' MP4 from the synth_mp4_pcm_sowt spec:
    L = the doc_id waveform, R = the doc_id+7 waveform, interleaved
    little-endian, 220+(doc_id%3)*110 frames per sample."""
    wave = lambda d: [(d * 40503 + i * 2654435761) % 65536 - 32768 for i in range(n)]
    L, R = wave(doc_id), wave(doc_id + 7)
    inter = [v for pair in zip(L, R) for v in pair]
    pcm = struct.pack(f"<{2 * n}h", *inter)
    return _fx_mp4_pcm_container(pcm, 220 + (doc_id % 3) * 110, rate, 2, b"sowt")


def _fx_mp4_muxed_bytes(doc_id: int) -> bytes:
    """Independent muxed A+V MP4 from the synth_mp4_muxed spec: the
    synth_mp4 video track (rawb BMP samples, track 1) plus the
    synth_mp4_pcm audio track ('twos' waveform, track 2) sharing one
    mdat — video chunks first, then audio chunks. Scalar struct
    packing, its own box framing."""
    vdeltas = _fx_mp4_deltas(doc_id)
    frames = [_fx_bmp_bytes(doc_id + k, 8, 8) for k in range(len(vdeltas))]
    samples = [(doc_id * 40503 + i * 2654435761) % 65536 - 32768 for i in range(1600)]
    pcm = struct.pack(">1600h", *samples)
    fps = 200 + (doc_id % 3) * 100
    ablobs = [pcm[i : i + fps * 2] for i in range(0, len(pcm), fps * 2)]
    adeltas = [len(b) // 2 for b in ablobs]

    def box(tag: bytes, payload: bytes) -> bytes:
        return struct.pack(">I", 8 + len(payload)) + tag + payload

    def full(tag: bytes, version: int, flags: int, payload: bytes) -> bytes:
        return box(tag, bytes([version]) + flags.to_bytes(3, "big") + payload)

    def chunked(blobs):
        out, i = [], 0
        while i < len(blobs):
            take = 2 if not out else 3
            out.append(blobs[i : i + take])
            i += take
        return out

    matrix = struct.pack(">9i", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000)
    ftyp = box(b"ftyp", b"isom" + struct.pack(">I", 0x200) + b"isomiso2")
    v_chunks, a_chunks = chunked(frames), chunked(ablobs)
    mdat_payload = b"".join(b"".join(c) for c in v_chunks) + b"".join(
        b"".join(c) for c in a_chunks
    )
    pos = len(ftyp) + 8
    v_offs, a_offs = [], []
    for offs, cks in ((v_offs, v_chunks), (a_offs, a_chunks)):
        for c in cks:
            offs.append(pos)
            pos += sum(len(fb) for fb in c)

    def stbl_box(blobs, deltas, cks, offs, entry):
        runs = []
        for d in deltas:
            if runs and runs[-1][1] == d:
                runs[-1][0] += 1
            else:
                runs.append([1, d])
        stts = full(b"stts", 0, 0, struct.pack(">I", len(runs)) + b"".join(struct.pack(">II", n, d) for n, d in runs))
        stsz = full(b"stsz", 0, 0, struct.pack(">II", 0, len(blobs)) + b"".join(struct.pack(">I", len(fb)) for fb in blobs))
        sc = []
        for ci, c in enumerate(cks, start=1):
            if not sc or sc[-1][1] != len(c):
                sc.append((ci, len(c), 1))
        stsc = full(b"stsc", 0, 0, struct.pack(">I", len(sc)) + b"".join(struct.pack(">III", *e) for e in sc))
        stco = full(b"stco", 0, 0, struct.pack(">I", len(offs)) + b"".join(struct.pack(">I", o) for o in offs))
        stsd = full(b"stsd", 0, 0, struct.pack(">I", 1) + entry)
        return box(b"stbl", stsd + stts + stsc + stsz + stco)

    def trak_box(stbl, timescale, duration, handler, track_id, volume, w, h, mhd):
        dinf = box(b"dinf", full(b"dref", 0, 0, struct.pack(">I", 1) + full(b"url ", 0, 1, b"")))
        minf = box(b"minf", mhd + dinf + stbl)
        mdhd = full(b"mdhd", 0, 0, struct.pack(">IIIIHH", 0, 0, timescale, duration, 0x55C4, 0))
        hdlr = full(b"hdlr", 0, 0, struct.pack(">I4s", 0, handler) + b"\x00" * 13)
        mdia = box(b"mdia", mdhd + hdlr + minf)
        tkhd = full(
            b"tkhd", 0, 7,
            struct.pack(">IIII", 0, 0, track_id, 0) + struct.pack(">I", duration)
            + b"\x00" * 8 + struct.pack(">HHHH", 0, volume, 0, 0) + matrix
            + struct.pack(">II", w << 16, h << 16),
        )
        return box(b"trak", tkhd + mdia)

    vse = (
        b"\x00" * 6 + struct.pack(">H", 1) + b"\x00" * 16
        + struct.pack(">HH", 8, 8) + struct.pack(">II", 0x480000, 0x480000)
        + struct.pack(">I", 0) + struct.pack(">H", 1) + b"\x00" * 32
        + struct.pack(">Hh", 24, -1)
    )
    ase = (
        b"\x00" * 6 + struct.pack(">H", 1) + b"\x00" * 8
        + struct.pack(">HH", 1, 16) + struct.pack(">HH", 0, 0)
        + struct.pack(">I", 8000 << 16)
    )
    v_dur, a_dur = sum(vdeltas), sum(adeltas)
    vmhd = full(b"vmhd", 0, 1, struct.pack(">HHHH", 0, 0, 0, 0))
    smhd = full(b"smhd", 0, 0, struct.pack(">Hh", 0, 0))
    v_trak = trak_box(
        stbl_box(frames, vdeltas, v_chunks, v_offs, box(b"rawb", vse)),
        1000, v_dur, b"vide", 1, 0, 8, 8, vmhd,
    )
    a_trak = trak_box(
        stbl_box(ablobs, adeltas, a_chunks, a_offs, box(b"twos", ase)),
        8000, a_dur, b"soun", 2, 0x0100, 0, 0, smhd,
    )
    mv_dur = max(v_dur, a_dur * 1000 // 8000)
    mvhd = full(
        b"mvhd", 0, 0,
        struct.pack(">IIII", 0, 0, 1000, mv_dur)
        + struct.pack(">IHH", 0x10000, 0x100, 0) + b"\x00" * 8
        + matrix + b"\x00" * 24 + struct.pack(">I", 3),
    )
    return ftyp + box(b"mdat", mdat_payload) + box(b"moov", mvhd + v_trak + a_trak)


def _fx_mp4_pcm_container(pcm: bytes, fps: int, rate: int, ch: int, fourcc: bytes) -> bytes:
    bps = 2 * ch
    step = fps * bps
    blobs = [pcm[i : i + step] for i in range(0, len(pcm), step)]
    deltas = [len(b) // bps for b in blobs]

    def box(tag: bytes, payload: bytes) -> bytes:
        return struct.pack(">I", 8 + len(payload)) + tag + payload

    def full(tag: bytes, version: int, flags: int, payload: bytes) -> bytes:
        return box(tag, bytes([version]) + flags.to_bytes(3, "big") + payload)

    matrix = struct.pack(">9i", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000)
    ftyp = box(b"ftyp", b"isom" + struct.pack(">I", 0x200) + b"isomiso2")
    chunks = []
    i = 0
    while i < len(blobs):
        take = 2 if not chunks else 3
        chunks.append(blobs[i : i + take])
        i += take
    mdat_payload = b"".join(b"".join(c) for c in chunks)
    offs, pos = [], len(ftyp) + 8
    for c in chunks:
        offs.append(pos)
        pos += sum(len(fb) for fb in c)
    runs = []
    for d in deltas:
        if runs and runs[-1][1] == d:
            runs[-1][0] += 1
        else:
            runs.append([1, d])
    stts = full(b"stts", 0, 0, struct.pack(">I", len(runs)) + b"".join(struct.pack(">II", c, d) for c, d in runs))
    stsz = full(b"stsz", 0, 0, struct.pack(">II", 0, len(blobs)) + b"".join(struct.pack(">I", len(fb)) for fb in blobs))
    sc_entries = []
    for ci, c in enumerate(chunks, start=1):
        if not sc_entries or sc_entries[-1][1] != len(c):
            sc_entries.append((ci, len(c), 1))
    stsc = full(b"stsc", 0, 0, struct.pack(">I", len(sc_entries)) + b"".join(struct.pack(">III", *e) for e in sc_entries))
    stco = full(b"stco", 0, 0, struct.pack(">I", len(offs)) + b"".join(struct.pack(">I", o) for o in offs))
    ase = (
        b"\x00" * 6 + struct.pack(">H", 1) + b"\x00" * 8
        + struct.pack(">HH", ch, 16) + struct.pack(">HH", 0, 0)
        + struct.pack(">I", rate << 16)
    )
    stsd = full(b"stsd", 0, 0, struct.pack(">I", 1) + box(fourcc, ase))
    stbl = box(b"stbl", stsd + stts + stsc + stsz + stco)
    duration = sum(deltas)
    smhd = full(b"smhd", 0, 0, struct.pack(">Hh", 0, 0))
    dinf = box(b"dinf", full(b"dref", 0, 0, struct.pack(">I", 1) + full(b"url ", 0, 1, b"")))
    minf = box(b"minf", smhd + dinf + stbl)
    mdhd = full(b"mdhd", 0, 0, struct.pack(">IIIIHH", 0, 0, rate, duration, 0x55C4, 0))
    hdlr = full(b"hdlr", 0, 0, struct.pack(">I4s", 0, b"soun") + b"\x00" * 13)
    mdia = box(b"mdia", mdhd + hdlr + minf)
    tkhd = full(
        b"tkhd", 0, 7,
        struct.pack(">IIII", 0, 0, 1, 0) + struct.pack(">I", duration) + b"\x00" * 8
        + struct.pack(">HHHH", 0, 0x0100, 0, 0) + matrix + struct.pack(">II", 0, 0),
    )
    trak = box(b"trak", tkhd + mdia)
    mvhd = full(
        b"mvhd", 0, 0,
        struct.pack(">IIII", 0, 0, rate, duration)
        + struct.pack(">IHH", 0x10000, 0x100, 0) + b"\x00" * 8
        + matrix + b"\x00" * 24 + struct.pack(">I", 2),
    )
    return ftyp + box(b"mdat", mdat_payload) + box(b"moov", mvhd + trak)


def fx_media_containers(docs) -> pa.Table:
    """ONE union-tagged expected table for the container gate.
    src='meta': mp3 + mp4 metadata for docs 0-59 — n_bytes/sha1 pin the
    ENCODERS byte-for-byte (independent scalar builders above);
    n_frames/duration_ms/mean_kbps/timescale/codec come arithmetically
    from the spec, pinning the PARSERS. src='frames': every-100ms MP4
    frame sampling — the covering sample at each timestamp from the
    spec's cumulative deltas, frame_sha1 over the independently built
    BMP bytes. src='stub': explode-by-duration sampling timestamps from
    n_chars (doc_id%3==0), the SQL branch the old media_frame_sample
    gate carried.

    r5 content-decode branches: src='vdecode' is the every-200ms MJPEG
    frame DECODE: the covering sample's complete JPEG through the
    independent scalar decoder, feature spec over the decoded pixels
    (the engine slices via stsc/stco and decodes via operators.jpeg,
    so value equality pins the byte slicing AND the entropy decode
    end-to-end). src='adecode' is the PCM MP4 audio decode — mono
    big-endian 'twos' AND stereo little-endian 'sowt' (whose expected
    features run the decoder's exact downmix rule, (L+R) floor-div 2):
    the reassembled stream's waveform features (the WAV spec); the
    timescale column carries the AudioSampleEntry samplerate. Their
    meta rows (codec jpeg/twos/sowt, timescale 1000/8000/11025, sha1
    pinning the encoders byte-for-byte) ride src='meta'."""
    cols = ("src", "media_ref", "container", "n_bytes", "sha1", "n_frames",
            "duration_ms", "mean_kbps", "timescale", "codec", "frame_ts",
            "frame_sha1", "features")
    rows = {k: [] for k in cols}

    def emit(**kw):
        for k in cols:
            rows[k].append(kw.get(k))

    def fmt(vec):
        # mirror the gate's array<float> passage: float64 -> float32 ->
        # double -> JVM %.6f (the fx_media_features discipline)
        return ",".join(javafmt6(float(np.float32(v))) for v in vec)

    for doc_id, text in docs:
        if doc_id < 60:
            b = _fx_mp3_bytes(doc_id)
            nf, dur, kbps = _fx_mp3_meta(doc_id)
            emit(src="meta", media_ref=f"mp3-{doc_id}", container="mp3",
                 n_bytes=len(b), sha1=hashlib.sha1(b).hexdigest(),
                 n_frames=nf, duration_ms=dur, mean_kbps=kbps)
            v = _fx_mp4_bytes(doc_id)
            deltas = _fx_mp4_deltas(doc_id)
            emit(src="meta", media_ref=f"mp4-{doc_id}", container="mp4",
                 n_bytes=len(v), sha1=hashlib.sha1(v).hexdigest(),
                 n_frames=len(deltas), duration_ms=sum(deltas),
                 timescale=1000, codec="rawb")
            cum, t = [], 0
            for d in deltas:
                cum.append(t)
                t += d
            ts = 0
            while ts < t:
                k = max(i for i, c in enumerate(cum) if c <= ts)
                emit(src="frames", media_ref=f"mp4-{doc_id}", frame_ts=ts,
                     frame_sha1=hashlib.sha1(_fx_bmp_bytes(doc_id + k, 8, 8)).hexdigest())
                ts += 100
            # --- r5: MJPEG video — meta + decoded-frame features ---
            mj = _fx_mp4_mjpeg_bytes(doc_id)
            mdeltas = _fx_mjpeg_deltas(doc_id)
            emit(src="meta", media_ref=f"mjpeg-{doc_id}", container="mp4",
                 n_bytes=len(mj), sha1=hashlib.sha1(mj).hexdigest(),
                 n_frames=len(mdeltas), duration_ms=sum(mdeltas),
                 timescale=1000, codec="jpeg")
            cum, t = [], 0
            for d in mdeltas:
                cum.append(t)
                t += d
            feat_cache = {}
            ts = 0
            while ts < t:
                k = max(i for i, c in enumerate(cum) if c <= ts)
                if k not in feat_cache:
                    feat_cache[k] = fmt(_fx_mjpeg_frame_features(doc_id, k))
                emit(src="vdecode", media_ref=f"mjpeg-{doc_id}", frame_ts=ts,
                     features=feat_cache[k])
                ts += 200
            # --- r5: muxed A+V — meta (primary video track), frame
            # sampling over the video trak, audio decode of the PCM trak ---
            mx = _fx_mp4_muxed_bytes(doc_id)
            vdeltas = _fx_mp4_deltas(doc_id)
            emit(src="meta", media_ref=f"muxed-{doc_id}", container="mp4",
                 n_bytes=len(mx), sha1=hashlib.sha1(mx).hexdigest(),
                 n_frames=len(vdeltas), duration_ms=sum(vdeltas),
                 timescale=1000, codec="rawb")
            cum, t = [], 0
            for d in vdeltas:
                cum.append(t)
                t += d
            ts = 0
            while ts < t:
                k = max(i for i, c in enumerate(cum) if c <= ts)
                emit(src="frames", media_ref=f"muxed-{doc_id}", frame_ts=ts,
                     frame_sha1=hashlib.sha1(_fx_bmp_bytes(doc_id + k, 8, 8)).hexdigest())
                ts += 100
            emit(src="adecode", media_ref=f"muxed-{doc_id}",
                 timescale=8000, features=fmt(_fx_wav_features(doc_id)))
            # --- r5: PCM MP4 audio — meta + decoded waveform features ---
            pb = _fx_mp4_pcm_bytes(doc_id)
            fps = 200 + (doc_id % 3) * 100
            n_samp = (1600 + fps - 1) // fps
            emit(src="meta", media_ref=f"pcm_mp4-{doc_id}", container="mp4",
                 n_bytes=len(pb), sha1=hashlib.sha1(pb).hexdigest(),
                 n_frames=n_samp, duration_ms=1600 * 1000 // 8000,
                 timescale=8000, codec="twos")
            emit(src="adecode", media_ref=f"pcm_mp4-{doc_id}",
                 timescale=8000, features=fmt(_fx_wav_features(doc_id)))
            # --- r5: stereo little-endian PCM ('sowt') — meta + downmixed features ---
            sb = _fx_mp4_pcm_sowt_bytes(doc_id)
            sfps = 220 + (doc_id % 3) * 110
            emit(src="meta", media_ref=f"pcm_sowt-{doc_id}", container="mp4",
                 n_bytes=len(sb), sha1=hashlib.sha1(sb).hexdigest(),
                 n_frames=(1600 + sfps - 1) // sfps,
                 duration_ms=1600 * 1000 // 11025,
                 timescale=11025, codec="sowt")
            emit(src="adecode", media_ref=f"pcm_sowt-{doc_id}",
                 timescale=11025, features=fmt(_fx_sowt_features(doc_id)))
        if doc_id % 3 == 0:
            # multimodal.sample_frames: sequence(0, max(dur//1000 - 1, 0))
            n_ticks = max(len(text) // 1000 - 1, 0) + 1
            for k in range(n_ticks):
                emit(src="stub", media_ref=f"v-{doc_id}", frame_ts=k * 1000)
    return pa.table(
        {
            "src": pa.array(rows["src"], pa.string()),
            "media_ref": pa.array(rows["media_ref"], pa.string()),
            "container": pa.array(rows["container"], pa.string()),
            "n_bytes": pa.array(rows["n_bytes"], pa.int64()),
            "sha1": pa.array(rows["sha1"], pa.string()),
            "n_frames": pa.array(rows["n_frames"], pa.int32()),
            "duration_ms": pa.array(rows["duration_ms"], pa.int64()),
            "mean_kbps": pa.array(rows["mean_kbps"], pa.float64()),
            "timescale": pa.array(rows["timescale"], pa.int32()),
            "codec": pa.array(rows["codec"], pa.string()),
            "frame_ts": pa.array(rows["frame_ts"], pa.int64()),
            "frame_sha1": pa.array(rows["frame_sha1"], pa.string()),
            "features": pa.array(rows["features"], pa.string()),
        }
    )


def fx_bpe_tokens(docs) -> pa.Table:
    """Expected BPE token counts under the production-sized merges
    table (12k merges — bpe.production_merges, the r4 real-vocab ask).
    The merges are shared DATA (a tokenizer's vocab file — like the
    XXH64 spec constants); the ENCODER here is an independent
    implementation: it merges the lowest-rank pair one leftmost
    occurrence at a time, provably equivalent to the engine's
    merge-all-occurrences loop because any pair involving a merged
    symbol was learned after (ranks strictly later than) the merge
    that created the symbol."""
    from insurance_pdf_extractor_spark.operators.bpe import PRETOKEN_RE, production_merges

    ranks = {p: i for i, p in enumerate(production_merges())}

    def encode_len(word: str) -> int:
        parts = list(word)
        while True:
            best = None
            for i in range(len(parts) - 1):
                r = ranks.get((parts[i], parts[i + 1]))
                if r is not None and (best is None or r < best[0]):
                    best = (r, i)
            if best is None:
                return len(parts)
            i = best[1]
            parts[i : i + 2] = [parts[i] + parts[i + 1]]

    cache: dict[str, int] = {}
    ids, ns = [], []
    for doc_id, text in docs:
        ids.append(doc_id)
        if text is None:
            ns.append(None)
            continue
        total = 0
        for w in PRETOKEN_RE.findall(text):
            if w not in cache:
                cache[w] = encode_len(w)
            total += cache[w]
        ns.append(total)
    return pa.table({"doc_id": pa.array(ids, pa.int64()), "n_bpe": pa.array(ns, pa.int64())})


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    out_dir = Path(sys.argv[2] if len(sys.argv) > 2 else Path(__file__).resolve().parents[1] / "fixtures")
    out_dir.mkdir(parents=True, exist_ok=True)

    docs = load_documents(sf_dir)
    embs = load_embeddings(sf_dir)

    tables = {
        "extract_pipeline_spans": fx_extract_pipeline_spans(docs),
        "winnow_fingerprints": fx_winnow(docs),
        "simhash": fx_simhash(docs),
        "minhash_lsh_pairs": fx_minhash_pairs(docs),
        "dedup_clusters": fx_dedup_clusters(docs),
        "media_features": fx_media_features(docs),
        "media_containers": fx_media_containers(docs),
        "checkpoint_lineage": fx_checkpoint_lineage(docs),
        "ann_bucketed_topk": fx_ann_bucketed(embs),
        "embedding_near_dup_lsh": fx_embedding_near_dup_lsh(embs),
        "kmeans_semantic_dedup": fx_kmeans_semantic(embs),
        "bpe_tokens": fx_bpe_tokens(docs),
    }
    for name, table in tables.items():
        path = out_dir / f"fx_{name}.parquet"
        pq.write_table(table, path)
        print(f"wrote {path} ({table.num_rows} rows)")

    # manifest: fixtures encode EXPECTED RESULTS FOR THIS sf_dir ONLY —
    # running the gate at another scale factor against these fixtures
    # would fail spuriously (tools/verify_queries.py checks this)
    import json

    (out_dir / "MANIFEST.json").write_text(
        json.dumps({"sf_dir": sf_dir, "fixtures": sorted(tables)}, indent=1)
    )
    print(f"wrote {out_dir / 'MANIFEST.json'}")


if __name__ == "__main__":
    main()
