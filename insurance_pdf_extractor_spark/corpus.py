"""Deterministic seeded corpus of interleaved text+media documents.

Each document is rendered as a minimal PDF-style content stream
(``BT``/``ET`` text blocks with ``Tm``/``Td`` positioning and
``Tj``/``TJ`` string-showing operators — the same operator subset the
reference reads through pypdf, app/services/pdf_processor.py:364-375),
with the reference's mock insurance-quote layout
(tests/utils/mock_generators.py:18-39) embedded as page-1 field lines,
repeated headers/footers as boilerplate, and media interleave positions.

The generator also emits ground truth: the expected span sequence
(kind, text, media_ref, order) per document — computed from the logical
layout via the pure-Python oracle, independently of the Spark parser —
and the expected 18-field record after reference-semantics validation.

No external data; everything derives from (seed, index).
"""

from __future__ import annotations

import random
from dataclasses import dataclass, field

from . import oracle
from .constants import EMPTY_VALUE, FIELD_NAMES, US_STATES

HEADER = "WORKERS COMPENSATION INSURANCE QUOTE"
CONFIDENTIAL = "CONFIDENTIAL - DO NOT DISTRIBUTE"

# Label -> field name; scrape regexes in operators/fields.py use the
# same table (line-anchored, so 'Address:' never matches inside
# 'Additional Named Insured Address:').
FIELD_LABELS = [
    ("Quote Number", "quote_number"),
    ("Policy Effective Date", "policy_effective_date"),
    ("Policy Expiration Date", "policy_expiration_date"),
    ("Named Insured", "named_insured_name"),
    ("Address", "named_insured_address"),
    ("Additional Named Insured", "additional_named_insured_name"),
    ("Additional Named Insured Address", "additional_named_insured_address"),
    ("Issuing Carrier", "issuing_carrier"),
    ("Commission", "commission"),
    ("Estimated Premium", "estimated_premium_amount"),
    ("Minimum Earned Premium", "minimum_earned_premium"),
    ("Taxes", "taxes"),
    ("TRIA Coverage", "tria"),
    ("Waiver of Subrogation", "waiver_of_subrogation_type"),
    ("Each Accident", "workers_comp_each_accident_limit"),
    ("Disease - Each Employee", "workers_comp_disease_each_employee"),
    ("Disease - Policy Limit", "workers_comp_disease_policy_limit"),
    ("Exclusion", "workers_comp_exclusion_description"),
]

_FILLER_VOCAB = (
    "coverage policy premium class code payroll rating schedule endorsement "
    "state experience modifier carrier underwriting broker agency terms "
    "conditions audit installment billing deposit renewal surcharge fund"
).split()

_DATE_STYLES = ["%m/%d/%Y", "%m-%d-%Y", "%Y-%m-%d", "%d/%m/%Y", "%B %d, %Y", "%b %d, %Y"]

_BOOL_VARIANTS = [
    "Included", "Excluded", "Yes", "No", "True", "False", "included",
    "exclude", "YES", "FALSE", "include", "no",
]


@dataclass
class Doc:
    doc_id: str
    content: bytes
    media: list[dict]          # [{media_ref, offset}]
    n_pages: int
    expected_spans: list[dict] | None   # ordered [(kind,text,media_ref,offset)]
    raw_fields: dict | None             # scraped+cleaned raw values
    expected_record: dict | None
    validation_errors: list[str] = field(default_factory=list)
    warnings: list[str] = field(default_factory=list)
    status: str = "success"
    info: dict | None = None           # embedded /Info dict ground truth (S3)


def _esc(s: str) -> str:
    return s.replace("\\", "\\\\").replace("(", "\\(").replace(")", "\\)")


def _split_parts(line: str, rng: random.Random) -> list[str]:
    if len(line) < 6 or rng.random() < 0.3:
        return [line]
    n = rng.choice([2, 2, 3])
    cuts = sorted(rng.sample(range(1, len(line)), min(n - 1, len(line) - 1)))
    parts, prev = [], 0
    for c in cuts:
        parts.append(line[prev:c])
        prev = c
    parts.append(line[prev:])
    return [p for p in parts if p]


def _render_doc(
    pages: list[list[str]], rng: random.Random, pad_bytes: int = 0, info: dict | None = None
) -> tuple[bytes, dict]:
    """Render logical pages to a content stream. Returns (content bytes,
    {(page, line_idx): min_byte_offset_of_its_runs})."""
    out = bytearray(b"%PDF-1.4\n")
    if info:
        from .sources.render import info_obj_bytes

        out += info_obj_bytes(info)
    line_offsets: dict[tuple[int, int], int] = {}
    for pg_idx, lines in enumerate(pages):
        out += f"%%PAGE {pg_idx}\n".encode()
        specs = []  # (x, y, text, style)
        y = 750.0
        for ln_idx, line in enumerate(lines):
            if not line:
                y -= 20.0
                continue
            x = 100.0
            for part in _split_parts(line, rng):
                style = rng.choice("ABC" if len(part) >= 4 else "AB")
                specs.append((pg_idx, ln_idx, x, y, part, style))
                x += 6.0 * len(part)
            y -= 20.0
        rng.shuffle(specs)
        for pg, ln, x, y, text, style in specs:
            if style == "A":
                block = f"BT\n/F1 12 Tf\n1 0 0 1 {x:.1f} {y:.1f} Tm\n({_esc(text)}) Tj\nET\n"
                marker = "("
            elif style == "B":
                block = f"BT\n{x:.1f} {y:.1f} Td\n({_esc(text)}) Tj\nET\n"
                marker = "("
            else:  # C: TJ array split
                mid = max(1, len(text) // 2)
                a, b = text[:mid], text[mid:]
                block = f"BT\n1 0 0 1 {x:.1f} {y:.1f} Tm\n[({_esc(a)}) -120 ({_esc(b)})] TJ\nET\n"
                marker = "["
            off = len(out) + block.index(marker)
            key = (pg, ln)
            if key not in line_offsets or off < line_offsets[key]:
                line_offsets[key] = off
            out += block.encode()
    while pad_bytes > 0 and len(out) < pad_bytes:
        out += b"% padding comment line to inflate document size\n"
    return bytes(out), line_offsets


def _gen_fields(i: int, rng: random.Random) -> tuple[dict[str, str], dict[str, str]]:
    """Returns (line_values: field->rendered value text, raw: field->
    cleaned scraped value expected by the extractor)."""
    st = rng.choice(US_STATES)
    vals: dict[str, str] = {}

    if i % 61 != 5:
        vals["quote_number"] = f"WC-{i:07d}-{rng.randint(100, 999)}"

    y, m, d = rng.randint(2020, 2026), rng.randint(1, 12), rng.randint(1, 28)
    import datetime as _dt

    eff = _dt.date(y, m, d)
    style = rng.choice(_DATE_STYLES)
    if i % 59 == 11:
        vals["policy_effective_date"] = "13/45/20x9"  # unparseable → poisoned record
    else:
        vals["policy_effective_date"] = eff.strftime(style)
    if rng.random() < 0.9:
        exp = eff.replace(year=eff.year + 1) if i % 23 != 3 else eff.replace(year=eff.year - 1)
        vals["policy_expiration_date"] = exp.strftime(rng.choice(_DATE_STYLES))

    name = f"Acme {rng.choice(['Holdings', 'Logistics', 'Builders', 'Foods'])} {i} LLC"
    addr = f"{rng.randint(1, 999)} Main Street, Springfield, {st} {rng.randint(10000, 99999)}"
    if rng.random() < 0.25:
        name = f"  ·{name.replace(' ', '   ', 1)} "
        addr = f" •  {addr}"
    vals["named_insured_name"] = name
    vals["named_insured_address"] = addr

    if rng.random() < 0.3:
        vals["additional_named_insured_name"] = rng.choice(["Excluded", f"Beta Sub {i} Inc"])
    if rng.random() < 0.15:
        vals["additional_named_insured_address"] = f"{rng.randint(1, 99)} Side Ave, Metro, {st}"

    vals["issuing_carrier"] = rng.choice(
        ["Test Insurance Company", f"{st} - Hartford Casualty Insurance Company - 3500"]
    )
    if rng.random() < 0.5:
        vals["commission"] = rng.choice(["10%", "$500", "12.5", "15", "7.25%"])
    amt = rng.randint(500, 50000)
    vals["estimated_premium_amount"] = rng.choice([f"${amt:,}.00", f"{amt}.00", f"{amt:,}"])
    if rng.random() < 0.4:
        vals["minimum_earned_premium"] = f"${rng.randint(100, 2000):,}.00"
    if rng.random() < 0.7:
        vals["taxes"] = rng.choice([f"${amt // 20:,}.00", f"{amt // 20}"])
    vals["tria"] = rng.choice(_BOOL_VARIANTS)
    vals["waiver_of_subrogation_type"] = rng.choice(_BOOL_VARIANTS)
    lim = rng.choice(["$1,000,000", "1000000", "$2,000,000", "500,000"])
    vals["workers_comp_each_accident_limit"] = lim
    vals["workers_comp_disease_each_employee"] = lim
    vals["workers_comp_disease_policy_limit"] = rng.choice(["$1,000,000", "$5,000,000"])
    if rng.random() < 0.2:
        vals["workers_comp_exclusion_description"] = f"{st}-Excluded"

    raw = {k: oracle.clean_text(v) for k, v in vals.items()}
    return vals, raw


def _filler_line(rng: random.Random) -> str:
    return " ".join(rng.choice(_FILLER_VOCAB) for _ in range(rng.randint(3, 8))).capitalize()


def generate_corpus(n_docs: int, seed: int = 7) -> list[Doc]:
    docs: list[Doc] = []
    for i in range(n_docs):
        rng = random.Random(seed * 1_000_003 + i)
        doc_id = f"doc-{seed}-{i:08d}"

        if i % 97 == 13:  # zero-page reject (app/services/pdf_processor.py:366-368)
            docs.append(Doc(doc_id, b"%PDF-1.4\n", [], 0, None, None, None, status="error"))
            continue

        if i % 71 == 7:
            n_pages = rng.randint(10, 16)
        else:
            n_pages = rng.randint(1, 4)
        pad = 65536 if i % 89 == 21 else 0  # oversize under a small test cap

        vals, raw = _gen_fields(i, rng)

        pages: list[list[str]] = []
        extra_bp = rng.random() < 0.4
        for p in range(n_pages):
            lines = [HEADER]
            if extra_bp:
                lines.append(CONFIDENTIAL)
            if p == 0:
                for label, fname in FIELD_LABELS:
                    if fname in vals:
                        lines.append(f"{label}: {vals[fname]}")
                lines.append("Coverage Limits:")
            for _ in range(rng.randint(2, 6)):
                lines.append(_filler_line(rng))
            lines.append(f"Page {p + 1} of {n_pages}")
            pages.append(lines)

        # embedded /Info metadata (S3): rng-varied, including values that
        # stress literal-string escaping; some docs carry none
        info = None
        if i % 5 != 4:
            info = {
                "Title": f"Quote {i} ({rng.choice(US_STATES)})",
                "Author": rng.choice(["Underwriting Dept", "J. Doe (Agent)", "Ops\\Team"]),
                "Subject": "Workers Compensation",
                "Creator": "corpus-gen",
                "Producer": f"writer {seed}.{i % 9}",
                "CreationDate": f"D:202{i % 10}0{1 + i % 9}15120000",
                "ModDate": f"D:202{i % 10}0{1 + i % 9}16090000",
            }

        content, line_offsets = _render_doc(pages, rng, pad_bytes=pad, info=info)

        # media interleave positions (distinct, non-colliding offsets)
        taken = set(line_offsets.values())
        media = []
        for k in range(rng.randint(0, 3)):
            off = rng.randrange(10, len(content))
            while off in taken:
                off = rng.randrange(10, len(content))
            taken.add(off)
            media.append({"media_ref": f"media-{doc_id}-{k}", "offset": off})

        # ground-truth span sequence via the oracle boilerplate rule
        bp = oracle.boilerplate_keys(pages)
        spans = []
        for pg_idx, lines in enumerate(pages):
            for ln_idx, line in enumerate(lines):
                if not line or oracle.normalize_line(line) in bp:
                    continue
                spans.append(
                    {"kind": "text", "text": line, "media_ref": None, "offset": line_offsets[(pg_idx, ln_idx)]}
                )
        for mitem in media:
            spans.append({"kind": "media", "text": None, "media_ref": mitem["media_ref"], "offset": mitem["offset"]})
        spans.sort(key=lambda s: s["offset"])

        record, errors, warnings = oracle.validate_record(raw)
        status = "success" if not errors else "partial_success"
        docs.append(
            Doc(doc_id, content, media, n_pages, spans, raw, record, errors, warnings, status, info)
        )
    return docs


def raw_rows(docs: list[Doc]) -> list[tuple]:
    return [
        (d.doc_id, d.content, d.media and [(m["media_ref"], m["offset"]) for m in d.media] or [], d.n_pages, len(d.content))
        for d in docs
    ]


def to_raw_df(spark, docs: list[Doc]):
    from .schema import DOCUMENTS_RAW

    return spark.createDataFrame(raw_rows(docs), schema=DOCUMENTS_RAW)


def expected_record_rows(docs: list[Doc]) -> list[dict]:
    out = []
    for d in docs:
        if d.expected_record is None:
            continue
        row = {"doc_id": d.doc_id, "status": d.status, "warnings": d.warnings}
        for f in FIELD_NAMES:
            row[f] = d.expected_record.get(f, EMPTY_VALUE)
        out.append(row)
    return out
