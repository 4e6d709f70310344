"""Kill-resume semantics: a run that dies after k buckets resumes
processing ONLY the missing buckets, and the final table equals a
single uninterrupted run."""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import functions as F

from insurance_pdf_extractor_spark import corpus as C
from insurance_pdf_extractor_spark.plans.checkpoint import bucket_expr, run_extract_job


def _spans_map(spark, path):
    df = spark.read.parquet(path)
    return {r["doc_id"]: r["spans"] for r in df.collect()}


def _lineage(spark, out_dir, run_id):
    ck = spark.read.parquet(f"{out_dir}/checkpoint").filter(F.col("run_id") == run_id)
    return [r.asDict() for r in ck.collect()]


def _part_files(table_dir):
    """{bucket directory name: number of parquet part files in it}."""
    return {
        d.name: sum(1 for f in d.iterdir() if f.name.startswith("part-"))
        for d in Path(table_dir).glob("bucket=*")
    }


def _recount(raw, n_buckets):
    """{bucket: input documents in it}, counted from the input."""
    rows = raw.groupBy(bucket_expr(n_buckets).alias("bucket")).count().collect()
    return {r["bucket"]: r["count"] for r in rows}


def test_kill_resume(spark, corpus_docs, tmp_path):
    raw = C.to_raw_df(spark, corpus_docs[:60])

    full_dir = str(tmp_path / "full")
    run_extract_job(raw, full_dir, run_id="r1", n_buckets=8)
    full = _spans_map(spark, f"{full_dir}/documents")

    # interrupted run: only 3 of 8 buckets complete (a run that died
    # after 3 buckets leaves what a run over those 3 buckets' input does)
    part_dir = str(tmp_path / "partial")
    first3 = sorted(_recount(raw, 8))[:3]
    stats1 = run_extract_job(
        raw.filter(bucket_expr(8).isin(first3)), part_dir, run_id="r1", n_buckets=8
    )
    assert stats1["buckets_completed"] == 3
    partial = _spans_map(spark, f"{part_dir}/documents")
    assert 0 < len(partial) < len(full)
    killed = {r["partition_id"] for r in _lineage(spark, part_dir, "r1")}
    assert len(killed) == 3

    # resume: processes exactly the remaining 5 buckets
    stats2 = run_extract_job(raw, part_dir, run_id="r1", n_buckets=8)
    assert stats2["buckets_completed"] == 5
    resumed = _spans_map(spark, f"{part_dir}/documents")
    assert resumed == full
    assert set(_part_files(f"{part_dir}/documents").values()) == {1}

    # the resume wrote one lineage row per pending bucket, and nothing
    # else; every bucket's counters add up to a recount of the input
    lineage = _lineage(spark, part_dir, "r1")
    resumed_buckets = sorted(r["partition_id"] for r in lineage if r["partition_id"] not in killed)
    assert resumed_buckets == sorted(set(range(8)) - killed)
    assert len(lineage) == 8
    assert {r["partition_id"]: r["docs_processed"] + r["docs_rejected"] for r in lineage} == _recount(raw, 8)

    # re-run after completion: nothing left to do (idempotent)
    stats3 = run_extract_job(raw, part_dir, run_id="r1", n_buckets=8)
    assert stats3["buckets_completed"] == 0
    assert _spans_map(spark, f"{part_dir}/documents") == full

    # checkpoint table carries lineage counters
    ck = spark.read.parquet(f"{part_dir}/checkpoint")
    assert ck.filter(F.col("run_id") == "r1").count() == 8
    row = ck.filter(F.col("docs_processed") > 0).first()
    assert row["extractor_version"]
    assert row["spans_emitted"] > 0
    assert row["wall_ms"] >= 0


def test_resume_after_death_before_lineage_keeps_one_copy(spark, corpus_docs, tmp_path):
    """A run that died after its documents/ and rejects/ writes but
    before its lineage write left data for buckets the checkpoint does
    not record. The resume re-extracts those buckets; it must replace
    the dead run's rows, not add a second copy of every document."""
    import shutil

    raw = C.to_raw_df(spark, corpus_docs[:60])
    out = str(tmp_path / "died")
    run_extract_job(raw, out, run_id="r1", n_buckets=8)
    docs_once = spark.read.parquet(f"{out}/documents").count()
    rejects_once = spark.read.parquet(f"{out}/rejects").count()
    shutil.rmtree(f"{out}/checkpoint")  # the lineage write never happened

    stats = run_extract_job(raw, out, run_id="r1", n_buckets=8)
    assert stats["buckets_completed"] == 8
    docs = spark.read.parquet(f"{out}/documents")
    assert docs.count() == docs.select("doc_id").distinct().count() == docs_once
    assert spark.read.parquet(f"{out}/rejects").count() == rejects_once
    lineage = _lineage(spark, out, "r1")
    assert sum(r["docs_processed"] for r in lineage) == docs_once
    assert {r["partition_id"]: r["docs_processed"] + r["docs_rejected"] for r in lineage} == _recount(raw, 8)


def test_one_part_file_per_bucket(spark, corpus_docs, shuffle_partitions, tmp_path):
    """The bucket is the salt: each bucket is extracted and written by
    one task, so one run leaves exactly one part file in every
    documents/ and rejects/ bucket directory, even with the exchange
    held at 16 partitions (AQE coalescing off); lineage still adds up."""
    raw = C.to_raw_df(spark, corpus_docs[:60])
    out = str(tmp_path / "one")
    with shuffle_partitions(16, coalesce=False):
        stats = run_extract_job(raw, out, run_id="one", n_buckets=8)
    assert stats["buckets_completed"] == 8
    docs_files = _part_files(f"{out}/documents")
    rejects_files = _part_files(f"{out}/rejects")
    assert len(docs_files) == 8 and set(docs_files.values()) == {1}, docs_files
    assert rejects_files and set(rejects_files.values()) == {1}, rejects_files
    lineage = _lineage(spark, out, "one")
    assert {r["partition_id"]: r["docs_processed"] + r["docs_rejected"] for r in lineage} == _recount(raw, 8)


def test_all_rejected_batch_still_checkpoints(spark, tmp_path):
    """A pending batch in which EVERY document is rejected writes an
    empty (schemaless) documents dir; the lineage read-back must
    tolerate it — symmetric to the zero-rejects case — and record
    docs_processed=0 with the right reject counters."""
    from insurance_pdf_extractor_spark.plans.checkpoint import run_extract_job
    from insurance_pdf_extractor_spark.schema import DOCUMENTS_RAW

    rows = [(f"bad-{i}", b"NOTPDF garbage", [], 1, 14) for i in range(10)]
    raw = spark.createDataFrame(rows, DOCUMENTS_RAW)
    out = str(tmp_path / "rejonly")
    stats = run_extract_job(raw, out, run_id="rejonly", n_buckets=4)
    assert stats["buckets_completed"] > 0
    ck = spark.read.parquet(f"{out}/checkpoint")
    agg = ck.agg({"docs_rejected": "sum", "docs_processed": "sum"}).collect()[0]
    assert agg["sum(docs_rejected)"] == 10
    assert agg["sum(docs_processed)"] == 0
