"""Seeded inputs for the four benchmark workloads.

Every input is a pure function of ``(workload, seed)``: document ids
embed the seed, so the md5-based format / filter / structure / encoding
picks of ``sources.render`` vary with it. Inputs are written once to
parquet during set-up; the program only ever reads those files.

Ground truth comes from generators that never call the engine's
parsers: ``corpus.generate_corpus`` for the quote corpus, and the
``tools/make_fixtures.py`` byte mirrors (``expected_spans``,
``expected_html_spans``) for rendered text and HTML.
"""

from __future__ import annotations

import math
import random
from collections import Counter
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq

from insurance_pdf_extractor_spark.constants import MAX_FILE_SIZE_BYTES
from insurance_pdf_extractor_spark.corpus import generate_corpus
from insurance_pdf_extractor_spark.plans.pipeline import effective_shard_size
from insurance_pdf_extractor_spark.sources import render as R

# documents per run. A run's wall time is dominated by per-task costs
# (32-partition stages, Python worker set-up), not by document count:
# on 4 cores one run takes 10-20 s at these sizes.
SIZES = {
    "quotes_pdf": 3000,
    "mixed_formats": 3000,
    "oversized_tail": 1204,
    "checkpoint_job": 6000,
}

SHARD_THRESHOLD = effective_shard_size(MAX_FILE_SIZE_BYTES, None)

# plain lower-case words: no label colons, nothing HTML would escape
_VOCAB = (
    "account actuary adjuster agency annual appraisal audit balance basis "
    "benefit binder broker business capacity carrier casualty census claim "
    "class clause coverage credit damage deductible deposit direct district "
    "earned employee employer endorsement estimate exposure facility filing "
    "general hazard income indemnity injury inland insured interest liability "
    "limit location loss manual medical mileage notice occupancy office "
    "operation order payment payroll peril period premium program property "
    "quarter rate rating record recovery region renewal reserve retention "
    "review risk safety schedule section service settlement statement "
    "statute subject summary surplus term territory total transit treaty "
    "umbrella vehicle volume wage warranty worker yearly zone"
).split()

RAW_SCHEMA = pa.schema(
    [
        ("doc_id", pa.string()),
        ("content", pa.binary()),
        (
            "media",
            pa.list_(pa.struct([("media_ref", pa.string()), ("offset", pa.int32())])),
        ),
        ("n_pages", pa.int32()),
        ("size_bytes", pa.int64()),
        ("magic", pa.binary()),
    ]
)


@dataclass
class Doc:
    """One input document plus what is needed to derive its oracle."""

    doc_id: str
    content: bytes
    n_pages: int
    kind: str  # html | pdf | quote | reject
    text: str | None = None  # rendered text (mirror input)
    filters: tuple[str, ...] | None = None
    structure: str = "classic"
    encoding: str | None = None
    media: list[tuple[str, int]] = field(default_factory=list)
    truth: object = None  # corpus.Doc for quote documents
    reject: str | None = None  # expected reject reason


def _words(rng: random.Random, n: int) -> str:
    return " ".join(rng.choices(_VOCAB, k=n))


def _rendered(doc_id: str, text: str, filters=None, structure="classic", encoding=None) -> Doc:
    content, n_pages = R.render_text(
        doc_id, text, filters=filters, structure=structure, encoding=encoding
    )
    return Doc(doc_id, content, n_pages, "pdf", text, filters, structure, encoding)


def _html(doc_id: str, text: str) -> Doc:
    content, n_pages = R.render_html(doc_id, text)
    return Doc(doc_id, content, n_pages, "html", text)


def _interleaved(doc_id: str, text: str) -> Doc:
    """The interleaved render of ``render_documents_raw(interleaved=True)``."""
    if R.format_for_doc(doc_id) == "html":
        return _html(doc_id, text)
    return _rendered(
        doc_id,
        text,
        filters=R.filters_for_doc(doc_id),
        structure=R.structure_for_doc(doc_id),
        encoding=R.encoding_for_doc(doc_id),
    )


def _mixed_docs(prefix: str, seed: int, n: int) -> list[Doc]:
    rng = random.Random(seed * 7919 + len(prefix))
    return [_interleaved(f"{prefix}{seed}-{i:06d}", _words(rng, rng.randint(60, 540))) for i in range(n)]


def quotes_pdf(seed: int, n: int) -> list[Doc]:
    out = []
    for d in generate_corpus(n, seed=seed):
        reject = "no_pages" if d.status == "error" else None
        media = [(m["media_ref"], m["offset"]) for m in d.media]
        out.append(Doc(d.doc_id, d.content, d.n_pages, "quote", media=media, truth=d, reject=reject))
    return out


def mixed_formats(seed: int, n: int) -> list[Doc]:
    return _mixed_docs("mx", seed, n)


def _pages_text(rng: random.Random, pages: int) -> str:
    return _words(rng, pages * R.WORDS_PER_LINE * R.LINES_PER_PAGE)


def oversized_tail(seed: int, n: int) -> list[Doc]:
    """Normal interleaved documents plus four heavy ones: a plain PDF
    between the shard threshold and the size cap (shard path), a
    filtered PDF of thousands of pages (one fused-kernel straggler
    task), a near-cap HTML page (never shards) and an over-cap PDF
    (rejected)."""
    docs = _mixed_docs("ov", seed, n - 4)
    rng = random.Random(seed * 104729 + 3)
    shard = _rendered(f"ov{seed}-shard", _pages_text(rng, 4445))
    straggler = _rendered(f"ov{seed}-straggler", _pages_text(rng, 2223), filters=("FlateDecode",))
    html = _html(f"ov{seed}-html", _words(rng, 640_000))
    overcap = _rendered(f"ov{seed}-overcap", _pages_text(rng, 3))
    pad = b"% padding comment line to inflate document size\n"
    overcap.content += pad * ((MAX_FILE_SIZE_BYTES - len(overcap.content)) // len(pad) + 4096)
    overcap.reject = "size_exceeds_limit"
    for d, lo, hi in (
        (shard, SHARD_THRESHOLD, MAX_FILE_SIZE_BYTES),
        (html, SHARD_THRESHOLD, MAX_FILE_SIZE_BYTES),
        (overcap, MAX_FILE_SIZE_BYTES, 2 * MAX_FILE_SIZE_BYTES),
    ):
        if not lo < len(d.content) <= hi:
            raise RuntimeError(f"{d.doc_id}: {len(d.content)} bytes outside ({lo}, {hi}]")
    return docs + [shard, straggler, html, overcap]


def checkpoint_job(seed: int, n: int) -> list[Doc]:
    """Small plain PDFs, one in a hundred a zero-page reject."""
    rng = random.Random(seed * 15485863 + 11)
    out = []
    for i in range(n):
        doc_id = f"ck{seed}-{i:06d}"
        if i % 100 == 37:
            out.append(Doc(doc_id, b"%PDF-1.4\n", 0, "reject", reject="no_pages"))
        else:
            out.append(_rendered(doc_id, _words(rng, rng.randint(30, 360))))
    return out


GENERATORS = {
    "quotes_pdf": quotes_pdf,
    "mixed_formats": mixed_formats,
    "oversized_tail": oversized_tail,
    "checkpoint_job": checkpoint_job,
}


def generate(workload: str, seed: int) -> list[Doc]:
    return GENERATORS[workload](seed, SIZES[workload])


def write_parquet(docs: list[Doc], path: str) -> None:
    """The ``documents_raw`` shape ``render_documents_raw`` persists,
    including the 5-byte ``magic`` prefix column."""
    table = pa.table(
        {
            "doc_id": [d.doc_id for d in docs],
            "content": [d.content for d in docs],
            "media": [[{"media_ref": r, "offset": o} for r, o in d.media] for d in docs],
            "n_pages": [d.n_pages for d in docs],
            "size_bytes": [len(d.content) for d in docs],
            "magic": [d.content[:5] for d in docs],
        },
        schema=RAW_SCHEMA,
    )
    pq.write_table(table, path, row_group_size=256)


def _size_label(log2: int) -> str:
    return f"<={1 << (log2 - 20)}MiB" if log2 >= 20 else f"<={1 << (log2 - 10)}KiB"


def profile(docs: list[Doc]) -> dict:
    """Traffic profile: format, filter, structure, encoding and expected
    kernel-tier counts, pages and a power-of-two size histogram."""
    fmt, filt, struct, enc, tier, sizes = (Counter() for _ in range(6))
    pages = 0
    for d in docs:
        fmt[d.kind] += 1
        pages += d.n_pages
        sizes[max(10, math.ceil(math.log2(max(len(d.content), 1))))] += 1
        if d.reject:
            tier["rejected"] += 1
            continue
        if d.kind == "html":
            tier["html"] += 1
            continue
        filt["+".join(d.filters) if d.filters else "none"] += 1
        struct[d.structure] += 1
        enc[d.encoding or "plain"] += 1
        big = d.kind == "pdf" and len(d.content) > SHARD_THRESHOLD
        tier["shard" if big else "interp" if d.encoding else "fast"] += 1
    return {
        "docs": len(docs),
        "bytes": sum(len(d.content) for d in docs),
        "pages": pages,
        "format": dict(fmt),
        "filter": dict(filt),
        "structure": dict(struct),
        "encoding": dict(enc),
        "tier": dict(tier),
        "size_hist": {_size_label(k): sizes[k] for k in sorted(sizes)},
    }

