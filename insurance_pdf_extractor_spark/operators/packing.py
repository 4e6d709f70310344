"""Sequence packing: lay every document out in one deterministic global
token stream and emit the fixed-budget training chunks each document
spans (GPT-style concatenate-and-chunk).

This is the step between curation and training that none of the other
operators cover: given per-document token counts, a trainer needs each
document's contiguous [start, end) interval in the corpus-wide token
stream and the `seq_len`-sized chunks that interval crosses. The
reference materializes results row-at-a-time into SQLite
(app/services/storage.py) and never needs this; at 10^12 documents the
packing layout itself must be a distributed computation.

The global order is (md5(doc_id || salt), doc_id) — a deterministic
shuffle, reproducible across runs, partitionings, and cluster sizes
(same md5-decision design as operators/sampling.py). The global prefix
sum over that order is computed in the standard two-phase distributed
shape:

1. bucket = the first `bucket_chars` hex chars of the md5 order key —
   because the bucket is a PREFIX of the order key, ordering by
   (bucket, okey, doc_id) is identical to ordering by (okey, doc_id),
   so the bucketed computation reproduces the simple global cumsum an
   oracle runs. 2 hex chars = 256 buckets for tests; 4 (65,536) keeps
   within-bucket sorts at ~15M rows per bucket at 10^12 docs.
2. within-bucket running sum via a window partitioned BY BUCKET
   (each bucket is one sort task, never a global single-partition
   window),
3. per-bucket totals -> driver-side exclusive prefix over n_buckets
   rows (O(n_buckets) driver work, same justified-small collect as the
   IVF centroid pick in operators/similarity.py) -> broadcast join of
   the bucket base offsets.

Chunk math uses integer `div`, not floating floor: global token
offsets approach 10^15 at corpus scale, where double-precision
`floor(x / B)` is still exact (< 2^53) but gratuitously fragile;
`div` keeps the whole plan in exact int64.

Cost at scale: ONE exchange of (bucket, okey, doc_id, n_tokens) — no
text ever shuffles — plus a broadcast of n_buckets base offsets; the
chunk explode adds n_tokens/budget + 1 rows per doc, the output's
inherent size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .sampling import _digest


def pack_documents(
    df: DataFrame,
    id_col: str = "doc_id",
    token_col: str = "n_tokens",
    budget: int = 512,
    bucket_chars: int = 2,
    salt: str = ":pack",
) -> DataFrame:
    """One row per (document, chunk) it occupies: (id, n_tokens,
    start_offset, chunk_id, begin_in_chunk, end_in_chunk). Documents
    with zero tokens occupy no chunk and emit no rows (they still shift
    nothing, so their absence does not perturb other offsets).

    The keyed (id, tok, okey, bucket) projection is read twice — once
    for the bucket totals, once for the placement pass — so it is
    persisted (~40 B/doc; ``persist()`` spills what memory cannot hold).
    """
    okey = _digest(F.col(id_col), salt)
    keyed = df.select(
        F.col(id_col).alias("_id"),
        F.col(token_col).cast("long").alias("_tok"),
        okey.alias("_okey"),
    ).withColumn("_bucket", F.substring("_okey", 1, bucket_chars)).persist()

    w = (
        Window.partitionBy("_bucket")
        .orderBy("_okey", "_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    within = keyed.withColumn("_cum", F.sum("_tok").over(w))

    # phase 2: exclusive prefix over the per-bucket totals. n_buckets is
    # 16^bucket_chars at most — a deliberately tiny driver-side step.
    totals = (
        keyed.groupBy("_bucket").agg(F.sum("_tok").alias("_btot")).collect()
    )
    base, acc = {}, 0
    for row in sorted(totals, key=lambda r: r["_bucket"]):
        base[row["_bucket"]] = acc
        acc += row["_btot"]
    base_df = within.sparkSession.createDataFrame(
        [(b, v) for b, v in base.items()], "_bucket string, _base long"
    )

    placed = (
        within.join(F.broadcast(base_df), "_bucket")
        .withColumn("start_offset", F.col("_base") + F.col("_cum") - F.col("_tok"))
        .filter(F.col("_tok") > 0)
        .withColumn("first_chunk", F.expr(f"start_offset div {budget}"))
        .withColumn("last_chunk", F.expr(f"(start_offset + _tok - 1) div {budget}"))
    )
    return (
        placed.select(
            F.col("_id").alias(id_col),
            F.col("_tok").alias(token_col),
            "start_offset",
            F.explode(F.sequence("first_chunk", "last_chunk")).alias("chunk_id"),
        )
        .withColumn(
            "begin_in_chunk",
            F.greatest(F.col("start_offset"), F.col("chunk_id") * budget)
            - F.col("chunk_id") * budget,
        )
        .withColumn(
            "end_in_chunk",
            F.least(
                F.col("start_offset") + F.col(token_col),
                (F.col("chunk_id") + 1) * budget,
            )
            - F.col("chunk_id") * budget,
        )
    )
