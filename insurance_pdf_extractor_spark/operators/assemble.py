"""Stage 4 — span assembly: stripped text lines + media passthrough →
the final ordered spans array (kind, text, media_ref, offset).

Ordering is by byte offset into the source document — a pure function
of content, so the emitted (kind, text, media_ref, order) sequence is
identical at any parallelism level (north rule invariant).

Two execution paths:

- ``extract_spans_udf``: fused Stage1→4 scalar pandas_udf for
  normal-sized documents. One Arrow round-trip, zero shuffles — each
  document is one row, so the whole extraction is embarrassingly
  parallel.
- shard path (see plans/pipeline.py): oversized documents are split
  into page-range shards first (``shard_offsets_udf``, at the
  tokenizer's own %%PAGE comment tokens), tokenized and laid out per
  shard, then merged per doc_id with ``merge_sharded_lines``
  (applyInPandas), which sorts the shard lines back into document
  order and finishes them with the same ``strip_boilerplate`` and
  ``assemble_spans`` the fused path calls.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..schema import SPAN
from .boilerplate import strip_boilerplate
from .filters import decode_or_poison
from .html import extract_html, sniff_format
from .layout import layout_lines
from .tokenize import page_marker_offsets, tokenize_content

SHARD_SPAN = T.StructType(
    [
        T.StructField("shard_idx", T.IntegerType(), False),
        T.StructField("start", T.LongType(), False),   # 0-based byte offset
        T.StructField("length", T.LongType(), False),
        T.StructField("base_page", T.IntegerType(), False),
        # bytes of document preamble to PREPEND to this chunk (font
        # documents: shards past the first need the font/resource
        # objects so per-shard tokenize resolves codes; 0 otherwise)
        T.StructField("pre_len", T.LongType(), False),
    ]
)

# shard line-lists travel COLUMNAR (three primitive arrays) rather than
# as array<struct> — Arrow moves primitive arrays to the merge stage at
# a fraction of the per-struct conversion cost (measured ~2x on the
# 360k-line giant-doc merge)
LINES_COLUMNAR = T.StructType(
    [
        T.StructField("pages", T.ArrayType(T.IntegerType()), False),
        T.StructField("offs", T.ArrayType(T.LongType()), False),
        T.StructField("texts", T.ArrayType(T.StringType()), False),
    ]
)


def assemble_spans(
    lines: list[tuple[int, int, str]],
    media: list[tuple[str, int]] | None,
) -> list[dict]:
    spans: list[dict] = [
        {"kind": "text", "text": text, "media_ref": None, "offset": off}
        for _page, off, text in lines
    ]
    for ref, off in media or []:
        spans.append({"kind": "media", "text": None, "media_ref": ref, "offset": off})
    spans.sort(key=lambda s: s["offset"])
    return spans


def extract_spans(
    content: bytes | None,
    media: list[tuple[str, int]] | None,
    n_pages: int,
) -> list[tuple[str, str | None, str | None, int]]:
    """Fused tokenize → layout → boilerplate-strip → assemble for one
    document (called batched from the pandas_udf).

    Format dispatch (north rule: the corpus interleaves formats, not
    just media): HTML documents route to the HTML tokenizer/DOM-lite
    block extractor (operators/html.py), whose output is already
    boilerplate-stripped and carries the document's own ``<img>`` media
    refs; PDF-style content streams take the two-tier tokenizer.
    Both converge on the same (kind, text, media_ref, offset) span
    contract, ordered by byte offset."""
    if content and sniff_format(content) == "html":
        lines, html_media = extract_html(content)
        return assemble_spans(lines, list(media or []) + html_media)
    runs = tokenize_content(content) if content else []
    lines = layout_lines(runs)
    lines = strip_boilerplate(lines, n_pages)
    return assemble_spans(lines, media)


@F.pandas_udf(T.ArrayType(SPAN))
def extract_spans_udf(content: pd.Series, media: pd.Series, n_pages: pd.Series) -> pd.Series:
    out = []
    for c, m, p in zip(content, media, n_pages):
        mm = [(item["media_ref"], item["offset"]) for item in m] if m is not None else []
        out.append(extract_spans(None if c is None else bytes(c), mm, int(p)))
    return pd.Series(out)


# ---------------------------------------------------------------------------
# Oversized-document shard path
# ---------------------------------------------------------------------------


@F.pandas_udf(T.BinaryType())
def decode_filters_udf(content: pd.Series) -> pd.Series:
    """Rewrite filtered stream objects to plain bytes (see
    operators/filters.py). The shard path needs this BEFORE marker
    scanning: compressed binary payloads can contain accidental
    ``%%PAGE`` bytes that would corrupt page-range splits, and shard
    slicing runs JVM-side on the column this UDF returns. The small-doc
    path decodes inside ``tokenize_content`` instead and never pays an
    extra Arrow round trip. A budget-cap bomb poisons the document
    text-free (empty content → one empty shard → media-only spans),
    matching the small-doc path's poison rule."""
    return pd.Series([None if c is None else decode_or_poison(bytes(c)) for c in content])


def shard_spans(
    content: bytes, pages_per_shard: int
) -> list[tuple[int, int, int, int, int]]:
    """Split a content stream at %%PAGE markers into shards of
    ``pages_per_shard`` pages, as (shard_idx, start, length, base_page,
    pre_len) tuples — the offsets-only shape the JVM-side slicer
    consumes. A shard's chunk is ``content[:pre_len] +
    content[start:start + length]``; ``start - pre_len`` restores
    global byte offsets and ``base_page`` global page numbers. Split
    points are the %%PAGE comment tokens the tokenizer reads
    (``page_marker_offsets``), never a marker quoted in a string, so no
    shard starts mid-token.

    Font documents: the preamble's font/resource objects must reach
    every shard's tokenizer, so shards past the first get the preamble
    (``pre_len`` > 0) prepended; it emits no runs. Cross-shard ``Tf``
    state needs no forwarding because shard boundaries are PAGE
    boundaries and a conformant page establishes its own text state
    (§8.2: page content streams are independent); a document carrying
    font material PAST the first page boundary (where per-shard
    re-parse could miss definitions) is conservatively left unsharded."""
    positions = page_marker_offsets(content)
    if not positions:
        return [(0, 0, len(content), 0, 0)]
    pre_len = 0
    if b"/Font" in content:
        if content.find(b"/Font", positions[0]) != -1:
            return [(0, 0, len(content), 0, 0)]  # shard-unsafe: whole-doc
        pre_len = positions[0]
        # a shard-starting page must re-establish its own Tf (a
        # conformant page always does; pypdf's per-page extraction has
        # exactly this boundary) — if one doesn't, splitting there
        # could decode its shows without the document's running font
        # state, so fall back to whole-doc (conservative heuristic:
        # substring presence in the page's first segment)
        for start_page in range(pages_per_shard, len(positions), pages_per_shard):
            seg_end = (
                positions[start_page + 1]
                if start_page + 1 < len(positions)
                else len(content)
            )
            if content.find(b"Tf", positions[start_page], seg_end) == -1:
                return [(0, 0, len(content), 0, 0)]
    spans: list[tuple[int, int, int, int, int]] = []
    # preamble (%PDF header, info/font objects) goes with shard 0
    for s_idx, start_page in enumerate(range(0, len(positions), pages_per_shard)):
        start = positions[start_page] if s_idx > 0 else 0
        end_page = start_page + pages_per_shard
        end = positions[end_page] if end_page < len(positions) else len(content)
        spans.append((s_idx, start, end - start, start_page, pre_len if s_idx else 0))
    return spans


@F.pandas_udf(T.ArrayType(SHARD_SPAN))
def shard_offsets_udf(content: pd.Series, pages_per_shard: pd.Series) -> pd.Series:
    """Offsets-only variant of sharding: the content bytes cross Arrow
    INTO Python once (to locate %%PAGE markers) but never back out —
    the actual chunk slicing runs JVM-side via ``substring`` on the
    offsets, before the shard shuffle. Measured several seconds cheaper
    per 47 MB document than round-tripping chunk bytes through the UDF.
    """
    out = []
    for c, p in zip(content, pages_per_shard):
        if c is None:
            out.append([])
            continue
        out.append(
            [
                {
                    "shard_idx": i,
                    "start": s,
                    "length": ln,
                    "base_page": bp,
                    "pre_len": pl,
                }
                for i, s, ln, bp, pl in shard_spans(bytes(c), int(p))
            ]
        )
    return pd.Series(out)


@F.pandas_udf(LINES_COLUMNAR)
def shard_lines_udf(chunk: pd.Series, base_offset: pd.Series, base_page: pd.Series) -> pd.DataFrame:
    """Tokenize + layout one shard; offsets/pages re-based to the whole
    document. Boilerplate stripping happens later at merge (it needs the
    whole document's pages)."""
    pages_out, offs_out, texts_out = [], [], []
    for c, boff, bpage in zip(chunk, base_offset, base_page):
        runs = tokenize_content(bytes(c)) if c is not None else []
        # page numbers inside a chunk restart at the chunk's first
        # %%PAGE n marker value, which is the GLOBAL page number (the
        # corpus writes global numbers), so no rebase needed for pages;
        # offsets are chunk-relative and need the base added.
        lines = layout_lines(runs)
        boff = int(boff)
        pages_out.append([p for p, _o, _t in lines])
        offs_out.append([o + boff for _p, o, _t in lines])
        texts_out.append([t for _p, _o, t in lines])
    return pd.DataFrame({"pages": pages_out, "offs": offs_out, "texts": texts_out})


def merge_sharded_lines(pdf: pd.DataFrame) -> pd.DataFrame:
    """applyInPandas per doc_id: merge shard line-lists back into
    (page, offset) order, then strip boilerplate over the full document
    and interleave media with the fused path's own ``strip_boilerplate``
    and ``assemble_spans`` (+ carried size_bytes, DOCUMENTS_SIZED
    schema)."""
    lines = sorted(
        (int(p), int(o), t)
        for part in pdf["lines"]
        if part is not None
        for p, o, t in zip(part["pages"], part["offs"], part["texts"])
    )
    media_raw = pdf["media"].iloc[0]
    media = (
        [(m["media_ref"], int(m["offset"])) for m in media_raw] if media_raw is not None else None
    )
    lines = strip_boilerplate(lines, int(pdf["n_pages"].iloc[0]))
    spans = assemble_spans(lines, media)
    size = int(pdf["size_bytes"].iloc[0]) if "size_bytes" in pdf.columns else None
    return pd.DataFrame({"doc_id": [pdf["doc_id"].iloc[0]], "spans": [spans], "size_bytes": [size]})
