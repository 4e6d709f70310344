"""Schema-evolution reads: legacy rows (written before the `magic`
prefix column existed) must come back with magic BACKFILLED from
content, so classify_rejects' metadata-only fast path — which trusts a
present magic column — cannot misclassify a valid pre-migration
document as invalid_pdf."""

from __future__ import annotations

from pyspark.sql import functions as F

from insurance_pdf_extractor_spark.operators.html import PDF_MAGIC
from insurance_pdf_extractor_spark.plans.pipeline import classify_rejects
from insurance_pdf_extractor_spark.sources.catalog import read_table_evolved


def test_evolved_read_backfills_magic_for_legacy_rows(spark, tmp_path):
    target = str(tmp_path / "docs")
    valid = PDF_MAGIC + b"1.4 legacy body"
    # generation 1: no magic column yet
    spark.createDataFrame(
        [("legacy-ok", valid, len(valid), 1), ("legacy-bad", b"not a pdf", 9, 1)],
        "doc_id string, content binary, size_bytes long, n_pages int",
    ).write.parquet(target)
    # generation 2: magic column materialized at render time
    spark.createDataFrame(
        [("new-ok", valid, len(valid), 1, bytes(valid[:5]))],
        "doc_id string, content binary, size_bytes long, n_pages int, magic binary",
    ).write.mode("append").parquet(target)

    merged = read_table_evolved(spark, target)
    got = {r["doc_id"]: r["magic"] for r in merged.select("doc_id", "magic").collect()}
    assert got["legacy-ok"] == PDF_MAGIC  # backfilled, not NULL
    assert got["new-ok"] == PDF_MAGIC

    reasons = {
        r["doc_id"]: r["reject_reason"]
        for r in classify_rejects(merged).select("doc_id", "reject_reason").collect()
    }
    assert reasons["legacy-ok"] is None, "valid legacy row must NOT be rejected"
    assert reasons["new-ok"] is None
    assert reasons["legacy-bad"] == "invalid_pdf"


def test_evolved_read_null_content_still_rejected(spark, tmp_path):
    target = str(tmp_path / "docs2")
    spark.createDataFrame(
        [("null-content", None, 0, 0)],
        "doc_id string, content binary, size_bytes long, n_pages int",
    ).write.parquet(target)
    spark.createDataFrame(
        [("new-ok", PDF_MAGIC + b" body", 10, 1, bytes(PDF_MAGIC))],
        "doc_id string, content binary, size_bytes long, n_pages int, magic binary",
    ).write.mode("append").parquet(target)

    merged = read_table_evolved(spark, target)
    reasons = {
        r["doc_id"]: r["reject_reason"]
        for r in classify_rejects(merged).select("doc_id", "reject_reason").collect()
    }
    assert reasons["null-content"] == "invalid_pdf"  # coalesce leaves NULL magic
    assert reasons["new-ok"] is None
