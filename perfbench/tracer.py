"""In-process traced pass over the extraction kernel (the "debug the
UDF outside the engine" workflow).

Spans are recorded around calls into each layer's public function:
while tracing, the names the fused kernel (``assemble.extract_spans``)
and the tokenizer resolve at call time are bound to timing wrappers,
and the originals are restored afterwards. Spans live in memory and are
written out as one JSON-lines file per run. A layer's self time is its
span minus its child spans.
"""

from __future__ import annotations

import json
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager

import pandas as pd

from insurance_pdf_extractor_spark.constants import SHARD_PAGES
from insurance_pdf_extractor_spark.operators import assemble as A
from insurance_pdf_extractor_spark.operators import filters as FL
from insurance_pdf_extractor_spark.operators import fonts as FO
from insurance_pdf_extractor_spark.operators import tokenize as TK

REPS = 3


class Tracer:
    def __init__(self, workload: str):
        self.workload = workload
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.doc: str | None = None

    def open(self, name: str) -> int:
        idx = len(self.spans)
        self.spans.append(
            {
                "name": name,
                "start_ns": time.perf_counter_ns(),
                "end_ns": 0,
                "parent": self._stack[-1] if self._stack else -1,
                "workload": self.workload,
                "doc": self.doc,
            }
        )
        self._stack.append(idx)
        return idx

    def close(self, idx: int) -> None:
        self.spans[idx]["end_ns"] = time.perf_counter_ns()
        self._stack.pop()

    @contextmanager
    def span(self, name: str):
        idx = self.open(name)
        try:
            yield self.spans[idx]
        finally:
            self.close(idx)

    def wrap(self, name: str, fn, count=None):
        """Time every call of ``fn`` as a span; ``count(span, args,
        result)`` records work counts on it. A ValueError (the poison
        signal of the filter and font layers) is counted and re-raised."""

        def traced(*args, **kwargs):
            idx = self.open(name)
            try:
                result = fn(*args, **kwargs)
            except ValueError:
                self.spans[idx]["poisoned"] = 1
                raise
            finally:
                self.close(idx)
            if count is not None:
                count(self.spans[idx], args, result)
            return result

        return traced

    def flag(self, fn, key: str, value):
        """Mark the innermost open span when ``fn`` runs (no span)."""

        def flagged(*args, **kwargs):
            if self._stack:
                self.spans[self._stack[-1]][key] = value
            return fn(*args, **kwargs)

        return flagged

    @contextmanager
    def patched(self):
        def set_(sp, k, v):
            sp[k] = v

        targets = [
            (A, "tokenize_content", self.wrap("tokenize", A.tokenize_content,
                                              lambda sp, a, r: set_(sp, "runs", len(r)))),
            (A, "layout_lines", self.wrap("layout", A.layout_lines,
                                          lambda sp, a, r: set_(sp, "lines", len(r)))),
            (A, "strip_boilerplate", self.wrap("boilerplate", A.strip_boilerplate,
                                               lambda sp, a, r: sp.update(lines_in=len(a[0]),
                                                                          lines_out=len(r)))),
            (A, "extract_html", self.wrap("html", A.extract_html)),
            (A, "assemble_spans", self.wrap("assemble", A.assemble_spans)),
            (FL, "decode_content_filters", self.wrap("filters", FL.decode_content_filters,
                                                     lambda sp, a, r: sp.update(bytes_in=len(a[0]),
                                                                                bytes_out=len(r)))),
            (FO, "parse_font_maps", self.wrap("fonts", FO.parse_font_maps)),
            (TK, "_tokenize_interpreter", self.flag(TK._tokenize_interpreter, "tier", "interp")),
        ]
        saved = [(mod, name, getattr(mod, name)) for mod, name, _ in targets]
        try:
            for mod, name, fn in targets:
                setattr(mod, name, fn)
            yield
        finally:
            for mod, name, fn in saved:
                setattr(mod, name, fn)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for sp in self.spans:
                fh.write(json.dumps(sp) + "\n")


def _kernel_args(doc):
    return doc.content, list(doc.media), doc.n_pages


def shard_path(doc, tracer: Tracer) -> list:
    """The oversized-PDF path in-process: ``shard_spans`` → per-shard
    tokenize/layout (the shard-lines UDF body) → ``merge_sharded_lines``."""
    c = doc.content
    with tracer.span("shard"):
        with tracer.span("shard.split"):
            shards = A.shard_spans(c, SHARD_PAGES)
        with tracer.span("shard.lines"):
            chunks = [c[:pl] + c[s : s + ln] for _i, s, ln, _bp, pl in shards]
            lines = A.shard_lines_udf.func(
                pd.Series(chunks),
                pd.Series([s - pl for _i, s, _ln, _bp, pl in shards]),
                pd.Series([bp for _i, _s, _ln, bp, _pl in shards]),
            )
        with tracer.span("shard.merge"):
            merged = A.merge_sharded_lines(
                pd.DataFrame(
                    {
                        "doc_id": doc.doc_id,
                        "n_pages": doc.n_pages,
                        "lines": lines.to_dict("records"),
                        "media": [[{"media_ref": r, "offset": o} for r, o in doc.media]] * len(shards),
                        "size_bytes": len(c),
                    }
                )
            )
    return [tuple(s.values()) for s in merged["spans"].iloc[0]]


def traced_pass(workload: str, sample, shard_docs, expect) -> tuple[dict, Tracer]:
    """Per-layer kernel metrics over ``sample`` (fused-kernel documents)
    and ``shard_docs`` (oversized PDFs). Untraced and traced loops over
    the same sample alternate ``REPS`` times (medians are reported); the
    last traced loop's spans are kept. Raises if tracing changed any
    output or if the traced and untraced loops saw different samples."""
    for d in sample[:20]:  # warm regex caches and lazy imports
        A.extract_spans(*_kernel_args(d))
    plain_ms, traced_ms = [], []
    for _ in range(REPS):
        t0 = time.perf_counter_ns()
        plain_out = [A.extract_spans(*_kernel_args(d)) for d in sample]
        plain_ms.append((time.perf_counter_ns() - t0) / 1e6)
        tracer = Tracer(workload)
        traced_out = []
        with tracer.patched():
            for d in sample:
                tracer.doc = d.doc_id
                with tracer.span("kernel"):
                    traced_out.append(A.extract_spans(*_kernel_args(d)))
        tracer.doc = None
        roots = [s for s in tracer.spans if s["name"] == "kernel"]
        traced_ms.append(sum(s["end_ns"] - s["start_ns"] for s in roots) / 1e6)
    if [s["doc"] for s in roots] != [d.doc_id for d in sample]:
        raise AssertionError("traced pass and kernel.ms_per_doc used different samples")
    if traced_out != plain_out:
        raise AssertionError("tracing changed the kernel output")

    shard_ms = []
    for d in shard_docs:
        tracer.doc = d.doc_id
        t0 = time.perf_counter_ns()
        spans = shard_path(d, tracer)
        shard_ms.append((time.perf_counter_ns() - t0) / 1e6)
        if spans != list(expect[d.doc_id].spans):
            raise AssertionError(f"{d.doc_id}: in-process shard path differs from the oracle")
    tracer.doc = None
    metrics = layer_metrics(tracer, shard_ms)
    plain = statistics.median(plain_ms)
    metrics["kernel.ms_per_doc"] = plain / len(sample)
    metrics["kernel.trace_overhead_frac"] = statistics.median(traced_ms) / plain - 1
    return metrics, tracer


def layer_metrics(tracer: Tracer, shard_ms: list) -> dict:
    spans = tracer.spans
    dur = [s["end_ns"] - s["start_ns"] for s in spans]
    self_ns = list(dur)
    for i, s in enumerate(spans):
        if s["parent"] >= 0:
            self_ns[s["parent"]] -= dur[i]
    ns, docs = defaultdict(int), defaultdict(set)
    counts = defaultdict(int)
    root_ns = root_self = 0
    for i, s in enumerate(spans):
        name = s["name"]
        if name == "kernel":
            root_ns += dur[i]
            root_self += self_ns[i]
            continue
        if name == "tokenize":
            name = f"tokenize.{s.get('tier', 'fast')}"
            counts["runs"] += s.get("runs", 0)
        ns[name] += self_ns[i]
        docs[name].add(s["doc"])
        for k in ("lines", "lines_in", "lines_out", "bytes_in", "bytes_out", "poisoned"):
            counts[f"{name}.{k}"] += s.get(k, 0)

    def per_doc(name):
        return ns[name] / 1e6 / len(docs[name]) if docs[name] else 0.0

    tok_docs = len(docs["tokenize.fast"]) + len(docs["tokenize.interp"])
    bp_in = counts["boilerplate.lines_in"]
    return {
        "assemble.ms_per_doc": per_doc("assemble"),
        "assemble.shard_ms": statistics.median(shard_ms) if shard_ms else 0.0,
        "filters.ms_per_doc": per_doc("filters"),
        "filters.docs": float(len(docs["filters"])),
        "filters.expand_ratio": (
            counts["filters.bytes_out"] / counts["filters.bytes_in"] if counts["filters.bytes_in"] else 0.0
        ),
        "filters.poisoned": float(counts["filters.poisoned"]),
        "fonts.ms_per_doc": per_doc("fonts"),
        "fonts.docs": float(len(docs["fonts"])),
        "tokenize.fast_ms_per_doc": per_doc("tokenize.fast"),
        "tokenize.fast_docs": float(len(docs["tokenize.fast"])),
        "tokenize.interp_ms_per_doc": per_doc("tokenize.interp"),
        "tokenize.interp_docs": float(len(docs["tokenize.interp"])),
        "tokenize.runs_per_doc": counts["runs"] / tok_docs if tok_docs else 0.0,
        "layout.ms_per_doc": per_doc("layout"),
        "layout.lines_per_doc": (
            counts["layout.lines"] / len(docs["layout"]) if docs["layout"] else 0.0
        ),
        "boilerplate.ms_per_doc": per_doc("boilerplate"),
        "boilerplate.removed_frac": 1 - counts["boilerplate.lines_out"] / bp_in if bp_in else 0.0,
        "html.ms_per_doc": per_doc("html"),
        "html.docs": float(len(docs["html"])),
        "kernel.unattributed_frac": root_self / root_ns if root_ns else 0.0,
    }
