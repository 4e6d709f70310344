"""Independent oracle for every workload's output and the failure count
behind ``failed``.

A document fails when its output row is missing or duplicated, its
span sequence (kind, text, media_ref, offset) differs from the mirror,
its record / status / warnings differ, or its reject outcome is wrong.
For the checkpointed job, every document of a bucket whose lineage row
disagrees with a recount also fails.
"""

from __future__ import annotations

import inspect
from collections import defaultdict
from dataclasses import dataclass
from pathlib import Path

import pyarrow.parquet as pq

from insurance_pdf_extractor_spark import oracle
from insurance_pdf_extractor_spark.constants import EMPTY_VALUE, FIELD_NAMES
from insurance_pdf_extractor_spark.oracle_xxh import xxh64_signed
from insurance_pdf_extractor_spark.plans.checkpoint import (
    CHECKPOINT_DIR,
    DOCUMENTS_DIR,
    REJECTS_DIR,
    run_extract_job,
)
from make_fixtures import expected_html_spans, expected_spans

N_BUCKETS = inspect.signature(run_extract_job).parameters["n_buckets"].default

# the record a document without any field label must yield
_NO_LABEL = oracle.validate_record({})


@dataclass
class Expect:
    spans: tuple | None
    reject: str | None = None
    status: str | None = None
    warnings: tuple = ()
    fields: dict | None = None


def _span_tuples(spans) -> tuple:
    if spans is None:
        return None
    return tuple(
        (s["kind"], s["text"], s["media_ref"], s["offset"]) if isinstance(s, dict) else tuple(s)
        for s in spans
    )


def expectations(docs) -> dict[str, Expect]:
    out = {}
    for d in docs:
        if d.reject:
            out[d.doc_id] = Expect(None, d.reject, "error", (f"rejected: {d.reject}",))
        elif d.kind == "quote":
            t = d.truth
            fields = {f: t.expected_record.get(f, EMPTY_VALUE) for f in FIELD_NAMES}
            out[d.doc_id] = Expect(
                _span_tuples(t.expected_spans), None, t.status, tuple(t.warnings), fields
            )
        else:
            if d.kind == "html":
                spans = expected_html_spans(d.doc_id, d.text)
            else:
                spans = expected_spans(d.doc_id, d.text, encoding=d.encoding)
            record, errors, warnings = _NO_LABEL
            fields = {f: record.get(f, EMPTY_VALUE) for f in FIELD_NAMES}
            status = "partial_success" if errors else "success"
            out[d.doc_id] = Expect(_span_tuples(spans), None, status, tuple(warnings), fields)
    return out


def _field_value(v):
    return list(v) if isinstance(v, (list, tuple)) else v


def read_results(path: str) -> list[dict]:
    """Normalized ``extract_results`` rows from a written output."""
    cols = ["doc_id", "spans", "status", "warnings", *FIELD_NAMES]
    rows = []
    for r in pq.read_table(path, columns=cols).to_pylist():
        rows.append(
            {
                "doc_id": r["doc_id"],
                "spans": _span_tuples(r["spans"]),
                "status": r["status"],
                "warnings": tuple(r["warnings"] or ()),
                "fields": {f: _field_value(r[f]) for f in FIELD_NAMES},
            }
        )
    return rows


def results_failures(expect: dict[str, Expect], rows: list[dict]) -> int:
    by_doc = defaultdict(list)
    for r in rows:
        by_doc[r["doc_id"]].append(r)
    failed = sum(len(v) for k, v in by_doc.items() if k not in expect)
    for doc_id, e in expect.items():
        got = by_doc.get(doc_id, [])
        if len(got) != 1:
            failed += 1
            continue
        g = got[0]
        ok = g["spans"] == e.spans and g["status"] == e.status and g["warnings"] == e.warnings
        if e.fields is not None:
            ok = ok and g["fields"] == e.fields
        failed += not ok
    return failed


def bucket_of(doc_id: str) -> int:
    return xxh64_signed(doc_id) % N_BUCKETS


def read_checkpoint(out_dir: str, run_id: str) -> dict:
    base = Path(out_dir)
    docs = pq.read_table(base / DOCUMENTS_DIR, columns=["doc_id", "spans", "bucket"]).to_pylist()
    rejects = pq.read_table(
        base / REJECTS_DIR, columns=["doc_id", "reject_reason", "status", "bucket"]
    ).to_pylist()
    lineage = [
        r
        for r in pq.read_table(base / CHECKPOINT_DIR).to_pylist()
        if r["run_id"] == run_id
    ]
    for r in docs:
        r["spans"] = _span_tuples(r["spans"])
    return {"documents": docs, "rejects": rejects, "lineage": lineage}


def checkpoint_failures(expect: dict[str, Expect], out: dict) -> int:
    by_doc = defaultdict(list)
    for r in out["documents"]:
        by_doc[r["doc_id"]].append(("doc", r))
    for r in out["rejects"]:
        by_doc[r["doc_id"]].append(("reject", r))
    failed = sum(len(v) for k, v in by_doc.items() if k not in expect)
    bucket = {doc_id: bucket_of(doc_id) for doc_id in expect}
    recount = defaultdict(lambda: [0, 0])
    for doc_id, e in expect.items():
        recount[bucket[doc_id]][e.reject is not None] += 1
    lineage = defaultdict(list)
    for r in out["lineage"]:
        lineage[r["partition_id"]].append((r["docs_processed"], r["docs_rejected"]))
    bad_buckets = {
        b for b in set(recount) | set(lineage)
        if lineage.get(b) != [tuple(recount[b])]
    }
    for doc_id, e in expect.items():
        got = by_doc.get(doc_id, [])
        if len(got) != 1 or bucket[doc_id] in bad_buckets:
            failed += 1
            continue
        kind, g = got[0]
        if e.reject is None:
            ok = kind == "doc" and g["spans"] == e.spans
        else:
            ok = kind == "reject" and g["reject_reason"] == e.reject and g["status"] == "error"
        failed += not (ok and g["bucket"] == bucket[doc_id])
    return failed


def negative_selftest(expect: dict[str, Expect], output, checkpoint: bool) -> dict[str, int]:
    """Corrupt one span, one field and drop one row of a correct output;
    each corruption must raise the failure count. Rows are replaced, not
    edited, so ``output`` itself is left intact."""
    if checkpoint:
        count = lambda o: checkpoint_failures(expect, o)  # noqa: E731
        rows = output["documents"]
    else:
        count = lambda o: results_failures(expect, o)  # noqa: E731
        rows = output
    i = next(k for k, r in enumerate(rows) if r["spans"])
    row = rows[i]
    kind, text, *rest = row["spans"][0]
    bad_span = {**row, "spans": ((kind, (text or "") + "#", *rest), *row["spans"][1:])}

    def with_rows(new_rows):
        return {**output, "documents": new_rows} if checkpoint else new_rows

    corrupt = with_rows(rows[:i] + [bad_span] + rows[i + 1 :])
    dropped = with_rows(rows[:i] + rows[i + 1 :])
    if checkpoint:
        first = output["lineage"][0]
        wrong = {**output, "lineage": [{**first, "docs_processed": first["docs_processed"] + 1}, *output["lineage"][1:]]}
    else:
        bad_field = {**row, "fields": {**row["fields"], "quote_number": "WC-0000000-000"}}
        wrong = rows[:i] + [bad_field] + rows[i + 1 :]
    base = count(output)
    got = {"span": count(corrupt), "field": count(wrong), "row": count(dropped)}
    for name, n in got.items():
        if n <= base:
            raise AssertionError(f"negative self-test: a corrupted {name} went unnoticed")
    return got
