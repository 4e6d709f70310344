"""Parquet table maintenance: the schema-evolved read and small-file
compaction.

The reference's SQLite DDL + ALTER-TABLE migration probes
(app/services/storage.py:29-155, scripts/migrate_database.py) map to a
``mergeSchema`` parquet read. Tables are plain parquet directories
written with ``df.write``; there is no table catalog.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def read_table_evolved(spark: SparkSession, target: str) -> DataFrame:
    """Schema-evolution-aware read: rows written before a field was added
    to the config coexist with rows written after (the old rows surface
    NULL for the new columns).

    This is the Spark analog of the reference's ALTER-TABLE migration
    probes (app/services/storage.py:133-155,
    scripts/migrate_database.py:30-48): the read unions the per-file
    schemas with ``mergeSchema`` (footer-level union, no data rewrite).

    Backfill contract: rows written before the ``magic`` prefix column
    existed surface ``magic = NULL`` here, which downstream
    ``classify_rejects`` would read as invalid_pdf (its fast path
    trusts a present magic column so the reject scan stays
    metadata-width). This read — the only place legacy rows enter —
    recomputes the prefix from ``content`` for those rows. The
    coalesce references ``content``, so an evolved read does not get
    the metadata-only reject scan; that cost is confined to
    mixed-generation tables and disappears once a maintenance rewrite
    materializes the column."""
    df = spark.read.option("mergeSchema", True).parquet(target)
    if "magic" in df.columns and "content" in df.columns:
        from pyspark.sql import functions as F

        df = df.withColumn(
            "magic",
            F.coalesce(F.col("magic"), F.substring(F.col("content").cast("binary"), 1, 5)),
        )
    return df


def compact_table(
    spark: SparkSession,
    target: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    sort_by: list[str] | None = None,
) -> dict:
    """Small-file compaction — the maintenance rewrite a 10^12-row
    table needs after many checkpointed micro-appends (each resumable
    bucket write of plans/checkpoint.py creates files; a month of runs
    creates millions). The rewrite keeps the rows identical, sets the
    file count by total bytes / ``target_file_bytes`` and optionally
    sorts for locality (range partition + in-file sort, so readers get
    clustered + min/max-prunable files).

    Returns {"files_before", "files_after", "bytes"} for the caller's
    metrics sink. The rewrite is atomic-ish (write to a sibling tmp
    dir, then swap); a posix rename pair is explicitly NOT
    concurrent-writer safe (documented trade)."""
    import os
    import shutil

    def _stats(d: str):
        files = [
            os.path.join(r, f)
            for r, _dd, ff in os.walk(d)
            for f in ff
            if f.endswith(".parquet")
        ]
        return len(files), sum(os.path.getsize(f) for f in files)

    n_before, total = _stats(target)
    df = spark.read.parquet(target)
    n_out = max(1, -(-total // target_file_bytes))  # ceil
    if sort_by:
        df = df.repartitionByRange(n_out, *sort_by).sortWithinPartitions(*sort_by)
    else:
        df = df.coalesce(n_out)
    tmp = target.rstrip("/") + "._compact_tmp"
    df.write.mode("overwrite").parquet(tmp)
    old = target.rstrip("/") + "._compact_old"
    os.rename(target.rstrip("/"), old)
    os.rename(tmp, target.rstrip("/"))
    shutil.rmtree(old, ignore_errors=True)
    n_after, _ = _stats(target)
    return {"files_before": n_before, "files_after": n_after, "bytes": total}
