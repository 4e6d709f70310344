"""spark-submit entry point for the checkpointed extraction job.

Cluster usage (north rule: multi-executor via --py-files):

    cd /root/repo && zip -qr /tmp/engine.zip insurance_pdf_extractor_spark
    spark-submit --master <cluster> --py-files /tmp/engine.zip \
        jobs/extract.py --input <raw_docs_dir> --output <out_dir> \
        --run-id run1 --buckets 256

Local smoke:

    spark-submit --master local[8] jobs/extract.py \
        --input /tmp/raw --output /tmp/out --run-id smoke

Input documents may interleave FORMATS — PDF content streams and HTML
pages in one table — with no flags: the kernel dispatches per document
by its first 5 bytes (operators/html.py prefix table, shared by the
reject filter in plans/pipeline.py), and non-PDF documents route around
the PDF page-range shard path. Accepted prefixes: ``%PDF-`` exactly,
and ``<!doc`` / ``<html`` in any letter case. A page with a byte-order
mark or whitespace before its doctype is rejected with reason
``invalid_pdf`` (in ``rejects/`` and the lineage counters), never
dropped silently.

The job is resumable: re-running with the same --run-id and --output
processes only buckets missing from the checkpoint table
(plans/checkpoint.py). The master is NOT hard-coded — spark-submit
--master / cluster deploy mode decides; the workload's session
settings (AQE, Arrow batching: ``session.WORKLOAD_CONF``) fill only
keys the submitted conf leaves unset; engine expressions are
session-config independent (no ANSI / mapKeyDedupPolicy overrides
needed).
"""

from __future__ import annotations

import argparse
import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from pyspark import SparkConf, SparkContext
from pyspark.sql import SparkSession

from insurance_pdf_extractor_spark.session import WORKLOAD_CONF


def build_cluster_session(app_name: str) -> SparkSession:
    """Session for spark-submit: respect the submitted master/conf and
    only fill in the workload defaults it does not set (cf.
    session.build_session, which pins local[] for tests/bench)."""
    submitted = SparkContext.getOrCreate(SparkConf().setAppName(app_name)).getConf()
    b = SparkSession.builder
    for k, v in WORKLOAD_CONF.items():
        if not submitted.contains(k):
            b = b.config(k, v)
    return b.getOrCreate()


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--input", required=True, help="documents_raw parquet dir/table")
    ap.add_argument("--output", required=True, help="output root (documents/rejects/checkpoint)")
    ap.add_argument("--run-id", required=True)
    ap.add_argument("--buckets", type=int, default=256)
    ap.add_argument("--max-size-mb", type=float, default=10.0)
    ap.add_argument("--shard-size-bytes", type=int, default=None)
    args = ap.parse_args(argv)

    from insurance_pdf_extractor_spark.plans.checkpoint import run_extract_job

    spark = build_cluster_session(f"extract-{args.run_id}")
    raw = spark.read.parquet(args.input)
    stats = run_extract_job(
        raw,
        out_dir=args.output,
        run_id=args.run_id,
        n_buckets=args.buckets,
        max_size_bytes=int(args.max_size_mb * 1024 * 1024),
        shard_size_bytes=args.shard_size_bytes,
        source_files=[args.input],
    )
    print(json.dumps(stats))
    spark.stop()


if __name__ == "__main__":
    main()
