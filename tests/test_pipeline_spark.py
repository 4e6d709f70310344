"""End-to-end Spark pipeline tests: span-sequence equality vs corpus
ground truth, reject routing, sharded-path equivalence, partitioning
invariance, and the two entry points' agreement."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from insurance_pdf_extractor_spark import corpus as C
from insurance_pdf_extractor_spark.plans.pipeline import (
    build_results,
    extract_documents,
    extract_results,
)
from insurance_pdf_extractor_spark.schema import DOCUMENTS, DOCUMENTS_RAW


@pytest.fixture(scope="module")
def pipeline_out(spark, corpus_docs, shuffle_partitions):
    raw = C.to_raw_df(spark, corpus_docs)
    with shuffle_partitions(4):
        docs, rejects = extract_documents(
            raw, max_size_bytes=60_000, shard_size_bytes=8_192, shard_pages=4
        )
    return raw, docs.cache(), rejects.cache()


def _expected_spans_map(corpus_docs, max_size_bytes=60_000):
    out = {}
    for d in corpus_docs:
        if d.expected_spans is None or len(d.content) > max_size_bytes:
            continue
        out[d.doc_id] = [
            (s["kind"], s["text"], s["media_ref"], s["offset"]) for s in d.expected_spans
        ]
    return out


def test_span_sequence_equality(pipeline_out, corpus_docs):
    _raw, docs, _rejects = pipeline_out
    got = {
        r["doc_id"]: [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in r["spans"]]
        for r in docs.collect()
    }
    exp = _expected_spans_map(corpus_docs)
    assert set(got) == set(exp)
    for doc_id, espans in exp.items():
        assert got[doc_id] == espans, f"{doc_id} span mismatch"


def test_rejects_routed(pipeline_out, corpus_docs):
    _raw, _docs, rejects = pipeline_out
    got = {r["doc_id"]: r["reject_reason"] for r in rejects.collect()}
    exp_empty = {d.doc_id for d in corpus_docs if d.n_pages == 0}
    exp_oversize = {d.doc_id for d in corpus_docs if len(d.content) > 60_000}
    for doc_id in exp_empty:
        assert got[doc_id] == "no_pages"
    for doc_id in exp_oversize:
        assert got[doc_id] == "size_exceeds_limit"
    assert set(got) == exp_empty | exp_oversize
    assert rejects.filter(F.col("status") != "error").count() == 0


def _quoted_marker_doc(doc_id: str, show: str, every_page: bool) -> tuple:
    """A 6-page render with ``show`` (a literal string quoting a
    ``%%PAGE`` marker) as its own text line on page 2 — the 4th raw
    marker, where a shard_pages=3 split at raw bytes would fall — or on
    every page (a repeated header the merge must strip)."""
    from insurance_pdf_extractor_spark.sources.render import render_text

    words = ["".join("abcdefghij"[int(c)] for c in str(i)) for i in range(6 * 18 * 10)]
    content, n_pages = render_text(doc_id, " ".join(words))
    assert n_pages == 6
    block = f"BT\n72.0 780.0 Td\n{show} Tj\nET\n".encode()
    for pg in range(n_pages) if every_page else [2]:
        marker = f"%%PAGE {pg}\n".encode()
        content = content.replace(marker, marker + block)
    return (doc_id, content, [], n_pages, len(content))


def test_sharded_path_used_and_equivalent(spark, corpus_docs, shuffle_partitions):
    """Big docs go through shard→merge and must produce identical spans
    to the fused path. The quoted-marker documents split only at real
    %%PAGE comment tokens (a split inside the string loses its line)."""
    big = [d for d in corpus_docs if d.n_pages >= 10 and d.expected_spans is not None][:5]
    assert big
    quoted = [
        _quoted_marker_doc("q-flat", "(see %%PAGE 9 below)", every_page=False),
        _quoted_marker_doc("q-nested", "(see (note) %%PAGE 9 below)", every_page=False),
        _quoted_marker_doc("q-header", "(Form (A) %%PAGE 9 header)", every_page=True),
    ]
    raw = spark.createDataFrame(C.raw_rows(big) + quoted, DOCUMENTS_RAW)
    with shuffle_partitions(2):
        sharded, _ = extract_documents(raw, shard_size_bytes=1, shard_pages=3)
        fused, _ = extract_documents(raw, shard_size_bytes=10**9)
        a = {r["doc_id"]: r["spans"] for r in sharded.collect()}
        b = {r["doc_id"]: r["spans"] for r in fused.collect()}
    assert a == b
    texts = {k: [s["text"] for s in v] for k, v in a.items()}
    assert "see %%PAGE 9 below" in texts["q-flat"]
    assert "see (note) %%PAGE 9 below" in texts["q-nested"]
    assert not any("header" in (t or "") for t in texts["q-header"])


def test_parallelism_invariance(spark, corpus_docs, shuffle_partitions):
    """Identical output at different partition counts (north rule: all
    ordering derives from data, never task order). AQE may coalesce the
    salt exchange of 40 small documents to one partition at any width,
    so the uncoalesced arm pins it at 8 and 32 and checks that the
    documents really spread over more partitions at 32."""
    sample = [d for d in corpus_docs if d.expected_spans is not None][:40]
    raw = C.to_raw_df(spark, sample)

    def spans_at(n_part, coalesce=True):
        with shuffle_partitions(n_part, coalesce):
            out, _ = extract_documents(raw)
            rows = out.select("*", F.spark_partition_id().alias("part")).collect()
        return {r["doc_id"]: r["spans"] for r in rows}, len({r["part"] for r in rows})

    base, _ = spans_at(1)
    assert spans_at(8)[0] == base
    (at8, parts8), (at32, parts32) = spans_at(8, False), spans_at(32, False)
    assert at8 == base and at32 == base
    assert 1 < parts8 < parts32


def test_records_match_oracle(pipeline_out, corpus_docs):
    _raw, docs, _ = pipeline_out
    results = build_results(docs)
    got = {r["doc_id"]: r.asDict() for r in results.collect()}
    exp_rows = {r["doc_id"]: r for r in C.expected_record_rows(corpus_docs)}
    from insurance_pdf_extractor_spark.constants import FIELD_NAMES

    checked = 0
    for doc_id, row in got.items():
        exp = exp_rows.get(doc_id)
        if exp is None:
            continue
        for f in FIELD_NAMES:
            g, e = row[f], exp[f]
            if f == "issuing_carrier":
                g = list(g) if g is not None else []
            assert g == e, f"{doc_id}.{f}: {g!r} != {e!r}"
        assert row["status"] == exp["status"], f"{doc_id} status"
        assert list(row["warnings"]) == exp["warnings"], f"{doc_id} warnings"
        checked += 1
    assert checked >= 90


def test_documents_schema(pipeline_out):
    _raw, docs, _ = pipeline_out
    assert docs.schema == DOCUMENTS or [f.name for f in docs.schema.fields] == ["doc_id", "spans"]


def test_extract_results_parallelism_invariant(spark, corpus_docs, shuffle_partitions):
    """The single-pass plan emits identical rows at different partition
    counts (north rule: all ordering data-derived), with AQE coalescing
    and with the salt exchange held at 8 and 32 partitions."""
    raw = C.to_raw_df(spark, corpus_docs[:40])

    def snapshot(partitions, coalesce=True):
        with shuffle_partitions(partitions, coalesce):
            res = extract_results(raw)
            rows = res.select("doc_id", "status", "extracted_data", "warnings", "file_size").collect()
        return sorted((r["doc_id"], r["status"], r["extracted_data"], tuple(r["warnings"] or []), r["file_size"]) for r in rows)

    base = snapshot(2)
    assert snapshot(16) == base
    assert snapshot(8, coalesce=False) == base
    assert snapshot(32, coalesce=False) == base


def test_materialized_source_value_identical(spark, corpus_docs, shuffle_partitions):
    """materialized_source changes only WHERE the branches read from
    (one cached materialization vs per-branch re-execution of a
    computed source) — never the rows. Compare full results frames."""
    from insurance_pdf_extractor_spark.plans.pipeline import materialized_source

    raw = C.to_raw_df(spark, corpus_docs[:40])

    def snapshot(df):
        rows = df.select(
            "doc_id", "status", "extracted_data", "warnings", "file_size"
        ).collect()
        return sorted(
            (r["doc_id"], r["status"], r["extracted_data"], tuple(r["warnings"] or []), r["file_size"])
            for r in rows
        )

    with shuffle_partitions(4):
        base = snapshot(extract_results(raw))
        with materialized_source(raw) as shared_raw:
            shared = snapshot(extract_results(shared_raw))
            # the branches must actually read the cache, not re-plan around it
            plan = extract_results(shared_raw)._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
            )
            assert "InMemoryTableScan" in plan or "InMemoryRelation" in plan
    assert base == shared


@pytest.mark.parametrize("n_part", [1, 8, 32])
@pytest.mark.parametrize("presalted", [False, True])
def test_entry_points_share_one_plan(spark, corpus_docs, shuffle_partitions, presalted, n_part):
    """extract_results is build_results over extract_documents' accepted
    documents plus one stub per extract_documents reject, salted or
    presalted, at any partition count. AQE may coalesce 1 and 8 to the
    same width; 32 runs with coalescing off, at its full width."""
    rejected_docs = [d for d in corpus_docs if d.n_pages == 0 or len(d.content) > 60_000]
    accepted_docs = [d for d in corpus_docs if d not in rejected_docs][:24]
    rows = C.raw_rows(rejected_docs + accepted_docs) + [("not-a-format", b"GIF89a....", [], 1, 10)]
    raw = spark.createDataFrame(rows, DOCUMENTS_RAW)
    opts = dict(max_size_bytes=60_000, shard_size_bytes=8_192, shard_pages=4, presalted=presalted)

    def by_doc(df):
        return {r["doc_id"]: r.asDict(recursive=True) for r in df.collect()}

    with shuffle_partitions(n_part, coalesce=n_part < 32):
        docs, rejects = extract_documents(raw, **opts)
        sizes = raw.select("doc_id", F.col("size_bytes").alias("file_size"))
        expected = by_doc(build_results(docs).join(sizes, "doc_id", "left"))
        results = by_doc(extract_results(raw, **opts))
        rejected = {r["doc_id"]: r for r in rejects.collect()}

    assert {"size_exceeds_limit", "invalid_pdf", "no_pages"} <= {r["reject_reason"] for r in rejected.values()}
    assert set(results) == set(expected) | set(rejected)
    for doc_id, row in expected.items():
        assert {k: results[doc_id][k] for k in row} == row, doc_id
    for doc_id, rej in rejected.items():
        stub = results[doc_id]
        assert (stub["status"], stub["file_size"], stub["warnings"]) == (
            "error", rej["size_bytes"], [f"rejected: {rej['reject_reason']}"]
        ), doc_id
