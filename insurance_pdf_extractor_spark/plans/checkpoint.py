"""Partition-granular checkpointing + resume (north rule).

Documents are assigned to stable buckets by ``pmod(xxhash64(doc_id),
n_buckets)`` — a pure function of data, so bucket membership is
identical across runs and cluster sizes. Each completed bucket appends
one lineage row (source files, doc-id range, extractor version,
counters, wall time) to a checkpoint table; a resumed run skips the
buckets already recorded (the anti-join of SURVEY.md J3, taken in
Python over at most ``n_buckets`` bucket ids) and processes only the
remainder, making re-runs idempotent.

The bucket is also the salt: the pending input is repartitioned on
the bucket column (no partition count, so AQE coalesces the exchange
to the input's size) and extracted presalted, so each bucket is
extracted and written by one task and a run leaves one part file per
bucket directory.

The writer is parquet-partitioned by bucket (an Iceberg table with the
same layout drops in when catalog jars are present — see
sources/catalog.py); appends of distinct buckets never conflict.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..constants import EXTRACTOR_VERSION, MAX_FILE_SIZE_BYTES, SHARD_PAGES
from .pipeline import extract_documents

CHECKPOINT_DIR = "checkpoint"
DOCUMENTS_DIR = "documents"
REJECTS_DIR = "rejects"


def bucket_expr(n_buckets: int):
    return F.pmod(F.xxhash64("doc_id"), F.lit(n_buckets)).cast("int")


def completed_buckets(spark: SparkSession, out_dir: str, run_id: str) -> set[int]:
    """Buckets already recorded for this run (empty when no checkpoint
    exists yet)."""
    from pyspark.errors import AnalysisException

    try:
        ck = spark.read.parquet(f"{out_dir}/{CHECKPOINT_DIR}")
    except AnalysisException:  # no checkpoint dir yet (PATH_NOT_FOUND)
        return set()
    rows = ck.filter(F.col("run_id") == run_id).select("partition_id").distinct().collect()
    return {r["partition_id"] for r in rows}


def run_extract_job(
    raw: DataFrame,
    out_dir: str,
    run_id: str,
    n_buckets: int = 32,
    max_size_bytes: int = MAX_FILE_SIZE_BYTES,
    shard_size_bytes: int | None = None,
    shard_pages: int = SHARD_PAGES,
    source_files: list[str] | None = None,
) -> dict:
    """One (possibly resumed) extraction run. Returns run stats.

    The run is planned up front: one collect of the input's distinct
    buckets, minus the run's completed buckets, gives the sorted list
    of pending buckets (at most ``n_buckets`` ints). The
    input, the written-output read-back and the lineage rows all filter
    on that list. The pending input is salted by its bucket, one task
    per bucket (module docstring).
    """
    spark = raw.sparkSession
    t0 = time.monotonic()

    raw = raw.withColumn("bucket", bucket_expr(n_buckets))
    present = {r["bucket"] for r in raw.select("bucket").distinct().collect()}
    pending = sorted(present - completed_buckets(spark, out_dir, run_id))
    if not pending:
        # fully-checkpointed run: nothing to do (common on retry loops)
        return {"run_id": run_id, "buckets_completed": 0, "wall_ms": int((time.monotonic() - t0) * 1000)}
    in_run = F.col("bucket").isin(pending)

    # the bucket is the salt: each bucket lands in one task, so each
    # bucket directory gets one part file per run
    docs, rejects = extract_documents(
        raw.filter(in_run).repartition("bucket").drop("bucket"),
        max_size_bytes=max_size_bytes,
        shard_size_bytes=shard_size_bytes,
        shard_pages=shard_pages,
        presalted=True,
    )
    docs = docs.withColumn("bucket", bucket_expr(n_buckets))
    rejects = rejects.withColumn("bucket", bucket_expr(n_buckets))

    docs_path = f"{out_dir}/{DOCUMENTS_DIR}"
    rejects_path = f"{out_dir}/{REJECTS_DIR}"
    docs.write.partitionBy("bucket").mode("append").parquet(docs_path)
    rejects.write.partitionBy("bucket").mode("append").parquet(rejects_path)

    wall_ms = int((time.monotonic() - t0) * 1000)

    # lineage counters per bucket, counted from what was just written.
    # The read-back uses the written frame's schema: an empty write
    # leaves a schemaless dir, which then reads as 0 rows, and the
    # bucket filter prunes the read to this run's partitions.
    doc_stats = (
        spark.read.schema(docs.schema).parquet(docs_path)
        .filter(in_run)
        .groupBy("bucket")
        .agg(
            F.count("*").alias("docs_processed"),
            F.sum(F.size("spans")).alias("spans_emitted"),
            F.min("doc_id").alias("min_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
        )
    )
    rej_stats = (
        spark.read.schema(rejects.schema).parquet(rejects_path)
        .filter(in_run)
        .groupBy("bucket")
        .agg(F.count("*").alias("docs_rejected"))
    )
    # every pending bucket gets a row even if it had 0 docs
    ck = (
        spark.createDataFrame([(b,) for b in pending], "bucket int")
        .join(doc_stats, "bucket", "left")
        .join(rej_stats, "bucket", "left")
        .select(
            F.lit(run_id).alias("run_id"),
            F.col("bucket").alias("partition_id"),
            F.lit(source_files or []).cast("array<string>").alias("source_files"),
            "min_doc_id",
            "max_doc_id",
            F.lit(EXTRACTOR_VERSION).alias("extractor_version"),
            F.coalesce("docs_processed", F.lit(0)).alias("docs_processed"),
            F.coalesce("spans_emitted", F.lit(0)).alias("spans_emitted"),
            F.coalesce("docs_rejected", F.lit(0)).alias("docs_rejected"),
            F.lit(wall_ms).alias("wall_ms"),
        )
    )
    ck.write.mode("append").parquet(f"{out_dir}/{CHECKPOINT_DIR}")
    return {"run_id": run_id, "buckets_completed": len(pending), "wall_ms": wall_ms}
